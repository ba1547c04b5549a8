package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Benchmark entry point (launched by perfbench/run.py):
  *
  *   --workload vectors|curate --seed N --seconds S --trace 0|1
  *   --work DIR [--stamp key=value ...]
  *
  * Trace 0 runs the workload once with tracing off and reports the
  * end-to-end metrics (see run.py). Trace 1 runs it once traced and
  * reports the per-layer metrics of that pass, with the spans in
  * DIR/spans-<workload>.jsonl, plus trace.overhead: the workload's round
  * is then replayed in pairs, one round traced and one untraced, on the
  * same state and alternating which goes first, and the overhead is the
  * traced ÷ untraced median round wall time. The last stdout line is the
  * result. */
object Main {
  /** A workload runs against a context and returns one more round of its
    * closed loop, to replay on another context. */
  val workloads: Map[String, Ctx => Ctx => Unit] = Map(
    "vectors" -> Vectors.run, "curate" -> Curate.run)

  final case class Opts(workload: String = "", seed: Long = 1L,
                        seconds: Double = 10d, trace: Boolean = false,
                        work: String = "", stamp: Seq[(String, String)] = Nil)

  def parse(args: List[String], o: Opts = Opts()): Opts = args match {
    case "--workload" :: v :: rest => parse(rest, o.copy(workload = v))
    case "--seed" :: v :: rest => parse(rest, o.copy(seed = v.toLong))
    case "--seconds" :: v :: rest => parse(rest, o.copy(seconds = v.toDouble))
    case "--trace" :: v :: rest => parse(rest, o.copy(trace = v == "1"))
    case "--work" :: v :: rest => parse(rest, o.copy(work = v))
    case "--stamp" :: v :: rest =>
      val (k, x) = v.splitAt(v.indexOf('='))
      parse(rest, o.copy(stamp = o.stamp :+ (k -> x.drop(1))))
    case Nil => o
    case other => sys.error(s"unknown arguments: ${other.mkString(" ")}")
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args.toList)
    val wl = workloads.getOrElse(o.workload,
      sys.error(s"unknown workload '${o.workload}' (${workloads.keys.mkString(", ")})"))
    require(o.work.nonEmpty, "--work is required")
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", 64L * 1024 * 1024)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", o.work + "/spark-local")
      .config("spark.sql.warehouse.dir", o.work + "/warehouse")
      .getOrCreate()
    try {
      val (first, replay) = pass(spark, wl, o, traced = o.trace)
      val roundName = s"${o.workload}.round"
      val (passes, metrics) =
        if (!o.trace) (Seq(first), Seq(
          ("setup_s", Stats.median(first.setupSeconds.toSeq), "s"),
          ("round_p50_ms", medianOr0(first.ok(roundName)) * 1e3, "ms"),
          ("items_per_s", first.rate("items_per_s"), "items/s"),
          ("write_items_per_s", first.rate("write_items_per_s"), "items/s")))
        else {
          val tracer = new Tracer(spark.sparkContext, o.workload)
          val on = new Ctx(spark, o.workload, o.seed, o.seconds, s"${o.work}/replay-traced",
            Some(tracer))
          val off = new Ctx(spark, o.workload, o.seed, o.seconds, s"${o.work}/replay", None)
          off.loop(o.seconds * ReplayShare, min = 2) { i =>
            (if (i % 2 == 0) Seq(on, off) else Seq(off, on)).foreach(replay)
          }
          tracer.close()
          val overhead = medianOr0(on.ok(roundName)) / medianOr0(off.ok(roundName))
          (Seq(first, on, off), Layers.metrics(first, first.tracer.get, overhead))
        }
      val attempted = passes.map(_.attempted).sum
      val failed = passes.map(_.failed).sum
      val sane = metrics.forall { case (_, v, _) => !v.isNaN && !v.isInfinite }
      println(Json.obj(Seq("env" -> Json.Raw(envStamp(spark, o, cores, passes)))))
      println(Json.obj(Seq(
        "correct" -> (failed == 0 && sane),
        "attempted" -> math.max(attempted, 1L),
        "failed" -> failed,
        "metrics" -> Json.Raw(Json.obj(metrics.map { case (n, v, u) =>
          n -> Json.Raw(Json.obj(Seq("value" -> v, "unit" -> u)))
        })))))
    } finally spark.stop()
  }

  /** Share of the run length spent on the trace-overhead replay. */
  private val ReplayShare = 0.5

  private def medianOr0(xs: Seq[Double]): Double = if (xs.isEmpty) 0d else Stats.median(xs)

  private def pass(spark: SparkSession, wl: Ctx => Ctx => Unit, o: Opts,
                   traced: Boolean): (Ctx, Ctx => Unit) = {
    val name = if (traced) "traced" else "untraced"
    val tracer = if (traced) Some(new Tracer(spark.sparkContext, o.workload)) else None
    val ctx = new Ctx(spark, o.workload, o.seed, o.seconds, s"${o.work}/$name", tracer)
    val replay = wl(ctx)
    ctx.observed("spark.pinned_mb_end") =
      spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6
    tracer.foreach { t =>
      t.close()
      Files.write(Paths.get(s"${o.work}/spans-${o.workload}.jsonl"),
        (t.jsonLines.mkString("\n") + "\n").getBytes("UTF-8"))
    }
    (ctx, replay)
  }

  /** Environment, shapes, parameters and per-op sample statistics. */
  private def envStamp(spark: SparkSession, o: Opts, cores: Int, passes: Seq[Ctx]): String = {
    val rt = Runtime.getRuntime
    def passJson(c: Ctx): String = Json.obj(Seq(
      "traced" -> c.traced,
      "setup_s" -> c.setupSeconds.toSeq,
      "ops" -> Json.Raw(Json.obj(c.samples.keys.toSeq.map { op =>
        val xs = c.ok(op)
        op -> Json.Raw(Json.obj(Seq(
          "attempted" -> c.attempts.getOrElse(op, xs.size.toLong),
          "ok" -> xs.size,
          "p50_ms" -> (if (xs.isEmpty) None else Some(Stats.median(xs) * 1e3)),
          "tail" -> Stats.tail(xs).map { case (p, x) =>
            Json.Raw(Json.obj(Seq("percentile" -> p, "ms" -> x * 1e3,
              "samples" -> xs.size)))
          })))
      })),
      "rates" -> c.rates.toMap.map { case (k, xs) => k -> xs.map(x => Seq(x._1, x._2)) },
      "failures" -> c.failures.toMap, "errors" -> c.errors.toSeq,
      "error_rate" -> c.failed.toDouble / math.max(1L, c.attempted),
      "observed" -> c.observed.toMap))
    Json.obj(Seq(
      "workload" -> o.workload, "seed" -> o.seed, "seconds" -> o.seconds,
      "trace" -> o.trace, "nproc" -> cores, "master" -> spark.sparkContext.master,
      "jvm_heap_mb" -> rt.maxMemory / (1L << 20),
      "spark" -> spark.version,
      "scala" -> scala.util.Properties.versionNumberString,
      "jdk" -> s"${sys.props("java.vm.name")} ${sys.props("java.version")}",
      "params" -> passes.head.params.toMap) ++
      o.stamp ++
      Seq("passes" -> passes.map(p => Json.Raw(passJson(p)))))
  }
}
