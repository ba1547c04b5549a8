package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One latency sample in wall seconds. `ok` turns false when a check made
  * after the timer finds the op's output wrong; such samples never count
  * as successes. */
final class Sample(val op: String, var seconds: Double, val round: Option[Sample]) {
  var ok = true
}

/** State of one pass over a workload: op attempts, failures by op, latency
  * samples, recorded parameters and observations, and the tracer when the
  * pass is traced. */
final class Ctx(val spark: SparkSession, val workload: String, val seed: Long,
                val seconds: Double, val work: String,
                val tracer: Option[Tracer]) {
  val samples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Sample]]()
  val attempts = mutable.LinkedHashMap[String, Long]().withDefaultValue(0L)
  val failures = mutable.LinkedHashMap[String, Long]().withDefaultValue(0L)
  val errors = mutable.ArrayBuffer[String]()
  /** Shapes and op parameters, stamped into the result. */
  val params = mutable.LinkedHashMap[String, Any]()
  /** Measured side values (result sizes, recall, byte counts). */
  val observed = mutable.LinkedHashMap[String, Double]()
  val setupSeconds = mutable.ArrayBuffer[Double]()
  /** Throughput samples: metric name -> (items, seconds) per sample. */
  val rates = mutable.LinkedHashMap[String, mutable.ArrayBuffer[(Double, Double)]]()
  private var currentRound: Option[Sample] = None
  private var excluded = 0L

  def traced: Boolean = tracer.isDefined

  /** A layer call outside any timed op (set-up, checks): traced when the
    * pass is, never timed. */
  def call[T](name: String, pinned: Boolean = false)(f: => T): T =
    tracer.fold(f)(_.span(name, pinned)(f))

  /** A timed op. An exception counts the op as failed and returns None;
    * it is never recorded as a latency sample. */
  def op[T](name: String, pinned: Boolean = false)(f: => T): Option[(T, Sample)] = {
    attempts(name) += 1
    val t0 = System.nanoTime()
    try {
      val r = call(name, pinned)(f)
      val s = new Sample(name, (System.nanoTime() - t0) / 1e9, currentRound)
      samples.getOrElseUpdate(name, mutable.ArrayBuffer()) += s
      Some((r, s))
    } catch {
      case NonFatal(e) =>
        fail(name, e.toString)
        currentRound.foreach(_.ok = false)
        None
    }
  }

  /** A closed-loop round of ops; its sample is invalid if any op in it
    * failed or is later found wrong. */
  def round(name: String)(body: => Unit): Sample = {
    val s = new Sample(name, 0d, None)
    val t0 = System.nanoTime()
    currentRound = Some(s)
    excluded = 0L
    try call(name)(body)
    finally currentRound = None
    s.seconds = (System.nanoTime() - t0 - excluded) / 1e9
    samples.getOrElseUpdate(name, mutable.ArrayBuffer()) += s
    s
  }

  private def fail(name: String, detail: String): Unit = {
    failures(name) += 1
    if (errors.size < 20) errors += s"$name: ${detail.take(300)}"
  }

  /** Checks made inside a round: traced as a "check" span, and their time
    * is taken out of the round's sample. */
  def untimed[T](f: => T): T = {
    val t0 = System.nanoTime()
    try call("check")(f)
    finally excluded += System.nanoTime() - t0
  }

  /** Record a verdict on a timed op's output, made after its timer. */
  def verify(s: Sample, ok: Boolean, detail: => String): Unit = if (!ok) {
    if (s.ok) fail(s.op, "wrong result: " + detail)
    s.ok = false
    s.round.foreach(_.ok = false)
  }

  /** Verdict on a check not tied to one timed op (counted as its own op). */
  def check(name: String, ok: Boolean, detail: => String): Unit = {
    attempts(name) += 1
    if (!ok) fail(name, "wrong result: " + detail)
  }

  def count(rate: String, items: Double, seconds: Double): Unit =
    rates.getOrElseUpdate(rate, mutable.ArrayBuffer()) += ((items, seconds))

  /** Median of the per-sample rates (items per second). */
  def rate(name: String): Double =
    rates.get(name).map(_.collect { case (n, t) if t > 0 => n / t }).filter(_.nonEmpty)
      .fold(0d)(xs => Stats.median(xs.toSeq))

  /** An untraced context whose samples are thrown away: for warm-up. */
  def scratch: Ctx = new Ctx(spark, workload, seed, seconds, work + "/scratch", None)

  def ok(name: String): Seq[Double] =
    samples.get(name).fold(Seq.empty[Double])(_.iterator.filter(_.ok).map(_.seconds).toSeq)

  def attempted: Long = attempts.values.sum
  def failed: Long = failures.values.sum

  /** Run `body` until this pass's measuring time is used up (at least
    * `min` times). */
  def loop(budget: Double, min: Int = 1)(body: Int => Unit): Int = {
    val t0 = System.nanoTime()
    var i = 0
    while (i < min || (System.nanoTime() - t0) / 1e9 < budget) { body(i); i += 1 }
    i
  }

  /** Set up `times` times (fresh state each time, only the last is kept):
    * the set-up metric is the median. */
  def setup[S](times: Int)(body: Int => S): S = {
    var last: Option[S] = None
    (0 until times).foreach { i =>
      val t0 = System.nanoTime()
      last = Some(call("setup")(body(i)))
      setupSeconds += (System.nanoTime() - t0) / 1e9
    }
    last.get
  }

  def dir(parts: String*): String = (work +: parts).mkString("/")
}
