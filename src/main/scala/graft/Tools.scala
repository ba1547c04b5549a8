package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators._

/** Dev probes. Usage:
  *   Tools explain [sfDir] only=<query,...>
  *       print each named gate's formatted physical plan
  *   Tools runq [sfDir] only=<query,...> [reps=N]
  *       run each named gate N times (default 1), printing wall time and
  *       row count; rep 1 carries JVM/codegen/staging warm-up, so quote
  *       the warm reps when comparing against recorded bench numbers
  *   Tools <query> [sfDir] [-e]
  *       one gate: three timed runs, or its formatted plan with `-e`
  *   Tools recallbench [n] [d] [queries] [clustered] [graph]
  *       ANN recall@10 against brute force, and warm probe latency
  *   Tools mergedprof [n] [d] [listDiv] [k]
  *       merged graph build with every stage forced and timed
  * `sfDir` defaults to the sf0.1 test data; `SPARK_GRAFT_CPUS` sets the
  * local core count (default 32).
  */
object Tools {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = args.lift(1).filterNot(a => a.startsWith("-") || a.contains("="))
      .getOrElse("/root/testdata/sf0.1")
    val nums = args.drop(1).filter(a => a.nonEmpty && a.forall(_.isDigit))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", 64 * 1024 * 1024)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def arg(key: String): Option[String] =
      args.find(_.startsWith(key + "=")).map(_.drop(key.length + 1))
    def only: Seq[String] = arg("only").map(_.split(',').toSeq)
      .getOrElse(sys.error(s"$name needs only=<query,...>"))
    try name match {
      case "explain" => runGates(spark, sfDir, only, reps = 0)
      case "runq" =>
        runGates(spark, sfDir, only, arg("reps").fold(1)(_.toInt))
      case "recallbench" => recallBench(spark, nums,
        clustered = args.contains("clustered"), graph = args.contains("graph"))
      case "mergedprof" => mergedProf(spark, nums, cpus)
      case query =>
        runGates(spark, sfDir, Seq(query), if (args.contains("-e")) 0 else 3)
    } finally spark.stop()
  }

  /** Times each named gate `reps` times, printing its row count; with
    * `reps = 0` prints each gate's formatted physical plan instead. */
  private def runGates(spark: SparkSession, sfDir: String,
                       names: Seq[String], reps: Int): Unit =
    names.foreach { n =>
      val fn = SparkEntry.queries.getOrElse(n, sys.error(s"unknown query $n"))
      if (reps == 0) {
        println(s"\n===== $n =====")
        fn(spark, sfDir).explain("formatted")
      }
      for (r <- 1 to reps) {
        val t0 = System.nanoTime()
        val c = fn(spark, sfDir).count()
        println(f"$n%-28s rep$r ${(System.nanoTime() - t0) / 1e9}%8.2f s  ($c rows)")
      }
    }

  /** ANN quality curves: recall@10 against brute force, and warm probe
    * latency, for every ANN family on n x d synthetic vectors. Queries
    * are dataset vectors (stride-sampled ids), so ground truth is
    * well-defined and the distributions match. `clustered` plants the
    * points around 1000 uniform centers (noise scale 0.15), the regime
    * where neighbours are real; the uniform default is the adversarial
    * one (at 64 dimensions distances concentrate and nearest neighbours
    * are near-arbitrary). `graph` adds the graph-ANN arm, whose build is
    * a corpus x corpus bucketed kNN join. */
  private def recallBench(spark: SparkSession, nums: Seq[String],
                          clustered: Boolean, graph: Boolean): Unit = {
    val n = nums.headOption.map(_.toLong).getOrElse(1000000L)
    val d = nums.lift(1).map(_.toInt).getOrElse(64)
    val nq = nums.lift(2).map(_.toInt).getOrElse(20)
    val kTop = 10
    val base = graft.sources.Ingest.randomUniform(spark, n, d)
    val pts0 =
      if (!clustered) base
      else {
        val cNum = 1000
        val centers = graft.sources.Ingest
          .randomUniform(spark, cNum, d, seed = 99L)
          .select(col("id").as("cid"), col("vector").as("cvec"))
        base.withColumn("cid", col("id") % cNum)
          .join(broadcast(centers), "cid")
          .select(col("id"), zip_with(col("vector"), col("cvec"),
            (a, b) => (a * lit(0.15d) + b).cast("float")).as("vector"))
      }
    val tag = if (clustered) "c" else "u"
    val pts = pts0.withColumnRenamed("vector", "embedding").localCheckpoint()
    val queries: Seq[(Long, Seq[Double])] = pts
      .filter(col("id") % lit(n / nq) === 7)
      .orderBy(col("id")).limit(nq)
      .select(col("id"), col("embedding").cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq
    println(s"n=$n d=$d queries=${queries.size} k=$kTop")
    val truth: Map[Long, Set[Long]] = queries.map { case (qid, q) =>
      qid -> BruteForce.knn(pts, "embedding", "id", q, kTop)
        .select("id").collect().map(_.getLong(0)).toSet
    }.toMap
    val planes = Similarity.hyperplanes(8, d)
    val lshPath = s"/tmp/graft-recall-lsh-$n-$d-$tag"
    val ivfPath = s"/tmp/graft-recall-ivf-$n-$d-$tag"
    val pqPath = s"/tmp/graft-recall-pq-$n-$d-$tag"
    val ivfpqPath = s"/tmp/graft-recall-ivfpq-$n-$d-$tag"
    // stores are deterministic functions of (n, d, dataset tag): reuse
    // them across runs so probe-only sweeps don't pay the writes
    def ensure(path: String)(write: => Unit): Unit =
      if (!new java.io.File(path + "/_SUCCESS").exists) write
    ensure(lshPath)(
      Similarity.writeBucketed(pts, "id", "embedding", planes, lshPath))
    ensure(ivfPath)(
      Similarity.writeIvf(pts, "id", "embedding", 256, ivfPath))
    ensure(pqPath)(
      ProductQuant.writePq(pts, "id", "embedding", 8, 16, 1, pqPath))
    ensure(ivfpqPath)(
      IvfPq.write(pts, "id", "embedding", 256, coarseIters = 2,
        m = 8, k = 16, pqIters = 1, path = ivfpqPath))
    def measure(label: String)(probe: Seq[Double] => DataFrame): Unit = {
      // warm once (plan + codegen), then one timed probe per query
      probe(queries.head._2).select("id").collect()
      var hits = 0L; var secs = 0.0
      queries.foreach { case (qid, q) =>
        val t0 = System.nanoTime()
        val got = probe(q).select("id").collect().map(_.getLong(0)).toSet
        secs += (System.nanoTime() - t0) / 1e9
        hits += got.intersect(truth(qid)).size
      }
      val recall = hits.toDouble / (queries.size * kTop)
      println(f"$label%-34s recall@10 ${recall}%6.3f   ${secs / queries.size}%7.3f s/probe")
    }
    measure("brute force (exact baseline)")(q =>
      BruteForce.knn(pts, "embedding", "id", q, kTop))
    val lsh = Similarity.openBucketed(spark, lshPath)
    measure("a1 LSH bucket (8 planes)")(q =>
      Similarity.probeBucketed(lsh, "id", "embedding", q, kTop))
    measure("a1 LSH multi-probe (1-bit)")(q =>
      Similarity.probeBucketedMulti(lsh, "id", "embedding", q, kTop))
    val ivf = Similarity.openIvf(spark, ivfPath)
    for (np <- Seq(1, 4, 16))
      measure(s"a2 IVF lists=256 nprobe=$np")(q =>
        Similarity.probeIvf(ivf, "id", "embedding", q, np, kTop))
    for (topN <- Seq(100, 1000))
      measure(s"a4 PQ ADC m=8 k=16 topN=$topN")(q =>
        ProductQuant.probePq(spark, pqPath, pts, "id", "embedding", q, topN, kTop))
    val ivfpq = IvfPq.open(spark, ivfpqPath)
    for (np <- Seq(1, 4, 16); topN <- Seq(100, 1000))
      measure(s"a5 IVFADC nprobe=$np topN=$topN")(q =>
        IvfPq.probe(ivfpq, pts, "id", "embedding", q, np, topN, kTop))
    if (graph) {
      // list cap ~256 members: candidate volume = nprobe·cap per node.
      // Serving is pinned in memory, so s/probe is the beam walk.
      val lists = math.max(16, (n / 256L).toInt)
      var t0 = System.nanoTime()
      val (built, seeds) = GraphAnn.build(pts, "id", "embedding",
        numLists = lists, nprobe = 2, k = 12, alpha = 1.2, maxDegree = 24)
      val g = built.localCheckpoint()
      val deg = g.select(avg(size(col("nbrs")))).head().getDouble(0)
      println(f"graph build (lists=$lists nprobe=2 k=12 R=24): " +
        f"${(System.nanoTime() - t0) / 1e9}%.1f s, avg degree $deg%.1f")
      t0 = System.nanoTime()
      val pinned = GraphAnn.pin(g, seeds)
      println(f"pin: ${(System.nanoTime() - t0) / 1e9}%.1f s " +
        f"(${pinned.size} nodes, ${seeds.length} seeds)")
      for (ef <- Seq(32, 128))
        measure(s"graph ANN beam ef=$ef")(q =>
          GraphAnn.graphKnn(spark, pinned, q, kTop, ef))
    }
  }

  /** Stage decomposition of `GraphAnn.buildAndWriteMerged` on a
    * clustered n x d corpus: the `stageProbe` hook forces every stage
    * boundary, and each stage's wall time is appended to
    * /tmp/graft_mergedprof.log as it completes, so the table survives a
    * killed JVM. `k = 0` runs the route + shuffle + member-sort
    * skeleton with no within-list kNN or prune, so (k = 12 run) − (k = 0
    * run) isolates the local kNN + prune CPU from the list shuffle. */
  private def mergedProf(spark: SparkSession, nums: Seq[String],
                         cpus: String): Unit = {
    val n = nums.headOption.map(_.toLong).getOrElse(2000000L)
    val d = nums.lift(1).map(_.toInt).getOrElse(96)
    val listDiv = nums.lift(2).map(_.toInt).getOrElse(250)
    val kk = nums.lift(3).map(_.toInt).getOrElse(12)
    val lists = math.max(64, (n / listDiv).toInt)
    val log = java.nio.file.Paths.get("/tmp/graft_mergedprof.log")
    def emit(line: String): Unit = {
      println(line)
      java.nio.file.Files.write(log, (line + "\n").getBytes("UTF-8"),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
    }
    emit(s"=== mergedprof n=$n d=$d lists=$lists (div=$listDiv) k=$kk " +
      s"nprobe=2 maxDegree=24 cpus=$cpus ===")
    val centers = graft.sources.Ingest.randomUniform(spark, lists, d, seed = 7L)
      .select(col("id").as("cid"), col("vector").as("cvec"))
    val all = graft.sources.Ingest.randomUniform(spark, n, d)
      .withColumn("cid", col("id") % lists)
      .join(broadcast(centers), "cid")
      .select(col("id"), expr(
        "CAST(zip_with(vector, cvec, (a, b) -> a * 0.15D + b) AS ARRAY<FLOAT>)")
        .as("embedding"))
      .localCheckpoint()
    val dir = java.nio.file.Files
      .createTempDirectory("mergedprof").resolve("g").toString
    val buckets = math.max(64, (n / 10000).toInt)
    val t0 = System.nanoTime()
    GraphAnn.buildAndWriteMerged(all, "id", "embedding",
      numLists = lists, nprobe = 2, k = kk, alpha = 1.2, maxDegree = 24,
      path = dir, buckets = buckets,
      stageProbe = Some((l, sec) => emit(f"  $l%-45s $sec%9.1f s")))
    emit(f"  TOTAL build+write ${(System.nanoTime() - t0) / 1e9}%9.1f s")
  }
}
