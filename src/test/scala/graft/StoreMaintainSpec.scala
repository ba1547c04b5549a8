package graft

import java.io.File

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
}
