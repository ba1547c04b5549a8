package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark-side totals of the jobs one span (or one run) launched. */
final class Counters {
  var jobs = 0L
  var tasks = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var cpuNanos = 0L
  var resultBytes = 0L
  var gcMillis = 0L

  def add(m: org.apache.spark.executor.TaskMetrics): Unit = {
    tasks += 1
    shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
    spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    cpuNanos += m.executorCpuTime
    resultBytes += m.resultSize
    gcMillis += m.jvmGCTime
  }
}

/** One traced call: name, wall interval, the span that caused it, and the
  * Spark work its job group ran. Times are nanoseconds from the tracer's
  * origin. */
final case class Span(id: Long, name: String, parent: Long,
                      workload: String, start: Long, var end: Long = -1L,
                      var pinnedDeltaBytes: Long = 0L) {
  val spark = new Counters
  def seconds: Double = (end - start) / 1e9
}

/** Span recorder for the traced run. Every call made through [[span]] gets
  * its own Spark job group `<workload>|<name>|<parent>|<id>` for its
  * duration, and a listener registered here folds each job's task
  * metrics into the span that owns the group. Spans stay in memory until
  * the run ends. One calling thread: spans nest by call stack. */
final class Tracer(sc: SparkContext, workload: String) {
  private val origin = System.nanoTime()
  private val nextId = new AtomicLong(0L)
  private val stack = mutable.Stack[Span]()
  val spans = mutable.ArrayBuffer[Span]()
  private val byId = new ConcurrentHashMap[Long, Span]()
  private val stageSpan = new ConcurrentHashMap[Int, Span]()
  /** Engine totals over every job of the traced run. */
  val engine = new Counters
  private val openJobs = new AtomicLong(0L)
  @volatile private var lastEvent = System.nanoTime()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      lastEvent = System.nanoTime()
      openJobs.incrementAndGet()
      val owner = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .filter(_.startsWith(workload + "|"))
        .flatMap(g => Option(byId.get(g.substring(g.lastIndexOf('|') + 1).toLong)))
      engine.synchronized(engine.jobs += 1)
      owner.foreach { s =>
        s.spark.synchronized(s.spark.jobs += 1)
        e.stageIds.foreach(id => stageSpan.putIfAbsent(id, s))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      lastEvent = System.nanoTime()
      openJobs.decrementAndGet()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      lastEvent = System.nanoTime()
      val m = e.taskMetrics
      if (m != null) {
        engine.synchronized(engine.add(m))
        Option(stageSpan.get(e.stageId)).foreach(s => s.spark.synchronized(s.spark.add(m)))
      }
    }
  }
  sc.addSparkListener(listener)

  /** Bytes held by persisted and checkpointed RDD blocks (memory + disk). */
  def pinnedBytes(): Long =
    sc.getRDDStorageInfo.iterator.map(i => i.memSize + i.diskSize).sum

  def span[T](name: String, pinned: Boolean = false)(f: => T): T = {
    val parent = stack.headOption
    val s = Span(nextId.incrementAndGet(), name, parent.fold(0L)(_.id),
      workload, System.nanoTime() - origin)
    byId.put(s.id, s)
    spans += s
    stack.push(s)
    sc.setJobGroup(s"$workload|$name|${s.parent}|${s.id}", name)
    val before = if (pinned) pinnedBytes() else 0L
    try f
    finally {
      s.end = System.nanoTime() - origin
      if (pinned) s.pinnedDeltaBytes = pinnedBytes() - before
      stack.pop()
      parent match {
        case Some(p) => sc.setJobGroup(s"$workload|${p.name}|${p.parent}|${p.id}", p.name)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** Self time: the span's duration minus the union of its children's
    * intervals. */
  def selfSeconds(s: Span): Double = {
    val kids = spans.iterator.filter(_.parent == s.id).map(k => (k.start, k.end))
      .toSeq.sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    kids.foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) covered += curE - curS
    ((s.end - s.start) - covered) / 1e9
  }

  /** Wait until the listener bus has delivered every job's events. */
  def drain(timeoutMs: Long = 20000L): Unit = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    while (System.nanoTime() < deadline &&
      (openJobs.get() > 0 || System.nanoTime() - lastEvent < 300000000L))
      Thread.sleep(50)
  }

  def close(): Unit = {
    drain()
    sc.removeSparkListener(listener)
  }

  /** Every span as one JSON line. */
  def jsonLines: Seq[String] = spans.toSeq.map { s =>
    val c = s.spark
    Json.obj(Seq(
      "id" -> s.id, "name" -> s.name, "parent" -> s.parent,
      "workload" -> s.workload, "start_ms" -> s.start / 1e6,
      "end_ms" -> s.end / 1e6, "self_ms" -> selfSeconds(s) * 1e3,
      "jobs" -> c.jobs, "tasks" -> c.tasks,
      "shuffle_write_bytes" -> c.shuffleWriteBytes,
      "spill_bytes" -> c.spillBytes, "cpu_ms" -> c.cpuNanos / 1e6,
      "result_bytes" -> c.resultBytes,
      "pinned_delta_bytes" -> s.pinnedDeltaBytes))
  }

  def byName(name: String): Seq[Span] = spans.iterator.filter(_.name == name).toSeq
}
