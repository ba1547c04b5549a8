package graft

import java.io.File

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.functions._

import graft.operators._
import graft.sources.Ingest

class StoreMaintainSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** `f` under a session-level dynamic partition overwrite mode; the
    * session's own setting is restored afterwards. */
  private def underDynamicOverwrite[T](f: => T): T = {
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "dynamic")
    try f finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** The rows at `path`, rendered by value (byte arrays included). */
  private def rowsOf(path: String): Seq[String] =
    spark.read.parquet(path).collect().map(_.toSeq.map {
      case b: Array[Byte] => b.mkString("[", ",", "]")
      case v => String.valueOf(v)
    }.mkString("|")).sorted.toSeq

  private def partitionDirs(path: String): Int =
    new File(path).list().count(_.contains("="))

  /** The data files of one partition directory. */
  private def dataFiles(dir: String): Int =
    new File(dir).list().count(n => !n.startsWith(".") && !n.startsWith("_"))

  /** An IVF store at `dir` over 200 clustered points in 4 lists, with a
    * second file in one list (10 appended rows, one with a null id).
    * Returns that list. */
  private def layeredIvf(dir: String): Int = {
    val pts = Ingest.randomClustered(spark, 200, 4, 4).localCheckpoint()
    Similarity.writeIvf(pts, "id", "vector", 4, dir)
    val extra = Ingest.randomClustered(spark, 10, 4, 4, seed = 7L)
      .select(when(col("id") =!= 0, col("id") + 1000L).as("id"), col("vector"))
    Similarity.appendIvf(spark, dir, extra.coalesce(1), "vector")
    StoreMaintain.read(spark, dir).filter(col("id").isNull)
      .select("list_id").as[Int].head()
  }

  test("a full store write replaces every partition under a session-level dynamic mode") {
    val dir = tmpDir("graftfullwrite")
    val e = Tables.embeddings(spark, sf0001)
    val pts = Ingest.randomClustered(spark, 200, 4, 4).localCheckpoint()
    val docs = Tables.documents(spark, sf0001)
    val events = Tables.events(spark, sf0001)
    val firstDay = events.select(min(to_date(col("ts")))).head().getDate(0)
    // (family, its first write, a rewrite that fills fewer partitions)
    val families: Seq[(String, String => Unit, String => Unit)] = Seq(
      ("ivf", Similarity.writeIvf(pts, "id", "vector", 8, _),
        Similarity.writeIvf(pts, "id", "vector", 2, _)),
      ("lsh", Similarity.writeBucketed(pts, "id", "vector", Similarity.hyperplanes(3, 4), _),
        Similarity.writeBucketed(pts, "id", "vector", Similarity.hyperplanes(1, 4), _)),
      ("ivf-pq", p => IvfPq.write(e, "vec_id", "embedding", numLists = 8,
          coarseIters = 0, m = 8, k = 16, pqIters = 0, p),
        p => IvfPq.write(e, "vec_id", "embedding", numLists = 2,
          coarseIters = 0, m = 8, k = 16, pqIters = 0, p)),
      ("ivf-sq8", IvfSq.write(e, "vec_id", "embedding", 8, 0, _),
        IvfSq.write(e, "vec_id", "embedding", 2, 0, _)),
      ("binary", BinaryIndex.write(e, "vec_id", "embedding", 64, _),
        BinaryIndex.write(e.filter(col("vec_id") < 5), "vec_id", "embedding", 64, _)),
      ("shingle", Dedup.writeShingleStore(docs, "doc_id", "text", 3, _, buckets = 16),
        Dedup.writeShingleStore(docs, "doc_id", "text", 3, _, buckets = 2)),
      ("text", TextIndex.write(docs, "doc_id", "text", 16, _),
        TextIndex.write(docs, "doc_id", "text", 2, _)),
      ("hll", SketchStore.write(events, "ts", "user_id", 8, _),
        SketchStore.write(events.filter(to_date(col("ts")) === lit(firstDay)),
          "ts", "user_id", 8, _)))
    underDynamicOverwrite {
      families.foreach { case (name, first, rewrite) =>
        val (path, fresh) = (s"$dir/$name", s"$dir/$name-fresh")
        first(path)
        val before = partitionDirs(path)
        rewrite(path)
        rewrite(fresh)
        assert(partitionDirs(fresh) < before, s"$name: the rewrite fills as many partitions")
        val (got, want) = (rowsOf(path), rowsOf(fresh))
        assert(got.size == want.size && got == want,
          s"$name: stale partitions survived the rewrite")
      }
    }
    assert(spark.conf.getOption("spark.sql.sources.partitionOverwriteMode") != Some("dynamic"))
  }

  test("a removal that empties a partition drops its directory") {
    val dir = tmpDir("graftremove") + "/ivf"
    val pts = Ingest.randomClustered(spark, 200, 4, 4).localCheckpoint()
    Similarity.writeIvf(pts, "id", "vector", 4, dir)
    val store = StoreMaintain.read(spark, dir)
    val doomedList = store.select(col("list_id")).head().getInt(0)
    val doomed = (store.filter(col("list_id") === doomedList).select("id")
      .as[Long].collect() ++
      store.filter(col("list_id") =!= doomedList).select("id").as[Long].take(3))
      .toSeq.toDF("id")
    val survivors = store.join(doomed, Seq("id"), "left_anti").select("id")
      .as[Long].collect().sorted.toSeq
    StoreMaintain.removeFromStore(spark, dir, doomed, "id", "list_id")
    assert(!new File(s"$dir/list_id=$doomedList").exists())
    assert(spark.read.parquet(dir).select("id").as[Long].collect().sorted.toSeq ==
      survivors)
  }

  test("the driver removeFromStore writes the same rows as the pinned rewrite") {
    val root = tmpDir("graftremoveeq")
    val (driver, pinned) = (s"$root/driver", s"$root/pinned")
    val layered = layeredIvf(driver)
    FileUtils.copyDirectory(new File(driver), new File(pinned))
    assert(dataFiles(s"$driver/list_id=$layered") >= 2, "the null-id row's list has one file")
    val store = StoreMaintain.read(spark, driver)
    val emptiedList = (0 until 4).find(_ != layered).get
    // every row of one list; in the layered list, one written row and an
    // appended one if it holds one; and an id the store does not hold
    val doomed = (store.filter(col("list_id") === emptiedList).select("id").as[Long]
        .collect() ++
      store.filter(col("list_id") === layered && col("id") < 1000).select("id").as[Long]
        .take(1) ++
      store.filter(col("list_id") === layered && col("id") > 1000).select("id").as[Long]
        .take(1) :+ 99999L).toSeq
    val want = rowsOf(driver).filterNot(r => doomed.exists(id => r.startsWith(s"$id|")))
    StoreMaintain.removeFromStore(spark, driver, doomed.toDF("id"), "id", "list_id")
    StoreMaintain.removeFromStore(spark, pinned, doomed.toDF("id"), "id", "list_id",
      pinBudgetRows = 0L)
    assert(!new File(s"$driver/list_id=$emptiedList").exists())
    assert(partitionDirs(driver) == partitionDirs(pinned))
    val (got, pinnedRows) = (rowsOf(driver), rowsOf(pinned))
    assert(got.exists(_.startsWith("null|")), "the null-id row was dropped")
    assert(got == pinnedRows && got == want)
  }

  test("removeFromStore within the budget pins nothing while it runs") {
    val root = tmpDir("graftremovepins")
    val (driver, pinned) = (s"$root/driver", s"$root/pinned")
    Seq(driver, pinned).foreach(layeredIvf)
    val doomed = Seq(3L, 4L, 5L, 99999L).toDF("id")
    assert(pinnedDuring(
      StoreMaintain.removeFromStore(spark, driver, doomed, "id", "list_id")).isEmpty)
    // the probe sees the checkpoint the rewrite above the budget takes
    assert(pinnedDuring(StoreMaintain.removeFromStore(spark, pinned, doomed, "id",
      "list_id", pinBudgetRows = 0L)).nonEmpty)
    assert(rowsOf(driver) == rowsOf(pinned))
  }

  test("batch maintenance of the IVF store and the tree runs a handful of jobs per call") {
    val dir = tmpDir("graftmaintainjobs")
    val all = Ingest.randomClustered(spark, 1260, 8, 8).localCheckpoint()
    Similarity.writeIvf(all.filter(col("id") < 1200), "id", "vector", 8, s"$dir/ivf")
    IndexBuild.buildIndex(all.filter(col("id") < 1200), "id", "vector")
      .write.parquet(s"$dir/tree0")
    // a batch as a caller holds it: a small relation in one partition
    val Seq(adds, addsAgain) = Seq(1200L, 1230L).map(from =>
      all.filter(col("id") >= from && col("id") < from + 30)
        .as[(Long, Array[Float])].collect().toSeq.toDF("id", "vector").coalesce(1))
    val doomed = (0L until 1200L by 40L).toDF("id")
    // the churn round's order: append to the tree, then remove. Each
    // relation is read before its count starts: Spark's own parquet read
    // runs a schema-inference job of its own.
    val (points, tree0) = (spark.read.parquet(s"$dir/ivf"), spark.read.parquet(s"$dir/tree0"))
    val (_, addJobs) = jobsOf(IndexMaintain.addPoints(tree0, points, adds, "id", "vector")
      .write.parquet(s"$dir/tree1"))
    val (_, removeJobs) = jobsOf(
      StoreMaintain.removeFromStore(spark, s"$dir/ivf", doomed, "id", "list_id"))
    val tree1 = spark.read.parquet(s"$dir/tree1")
    val (_, dropJobs) = jobsOf(IndexMaintain.removePoints(tree1, doomed)
      .write.parquet(s"$dir/tree2"))
    // the second round appends to a tree of several files
    val tree2 = spark.read.parquet(s"$dir/tree2")
    assert(tree2.inputFiles.length > 1)
    val points2 = spark.read.parquet(s"$dir/ivf").select("id", "vector").union(adds)
    val (_, addAgainJobs) = jobsOf(IndexMaintain.addPoints(tree2, points2, addsAgain, "id",
      "vector").write.parquet(s"$dir/tree3"))
    val (cents, sidecarJobs) = jobsOf(Similarity.readIvfCentroids(spark, s"$dir/ivf"))
    val counts = s"removeFromStore $removeJobs, addPoints $addJobs then $addAgainJobs, " +
      s"removePoints $dropJobs, readSidecar $sidecarJobs jobs"
    assert(removeJobs <= 3 && addJobs <= 4 && addAgainJobs <= 4 && dropJobs <= 3 &&
      sidecarJobs == 0, counts)
    info(counts)
    // the driver-side sidecar read holds what Spark's reader reads
    assert(cents.map { case (l, c) => (l, c.toSeq) }.toSeq ==
      spark.read.parquet(s"$dir/ivf.centroids").as[(Long, Seq[Double])].collect().toSeq)
    val live = (0L until 1200L).filterNot(_ % 40 == 0)
    assert(spark.read.parquet(s"$dir/ivf").select("id").as[Long].collect().sorted.toSeq == live)
    assert(tree2.filter(col("id").isNotNull)
      .select("id").as[Long].collect().sorted.toSeq ==
      (live ++ (1200L until 1230L)).sorted)
    assert(spark.read.parquet(s"$dir/tree3").filter(col("id").isNotNull)
      .select("id").as[Long].collect().sorted.toSeq ==
      (live ++ (1200L until 1260L)).sorted)
  }
}
