package graft

import org.apache.spark.sql.functions._

import graft.operators._
import graft.sources.Ingest

/** Graph store maintenance on the driver: the pinned append and the
  * pin-sized StreamingMerge each collect the store once and write once,
  * and the driver merge writes what the distributed merge writes. */
class GraphMaintainSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private lazy val pts = Ingest.randomClustered(spark, 640, 8, 6)
    .withColumnRenamed("vector", "embedding").localCheckpoint()

  /** The store's rows rendered by value, sorted by id, and its seeds. */
  private def storeOf(path: String): (Seq[String], Seq[Long]) = {
    val store = GraphAnn.openGraph(spark, path)
    val rows = store.rows.select("id", "vec", "nbrs", "gb").collect()
      .map(r => (if (r.isNullAt(0)) Long.MinValue else r.getLong(0), r.toString))
      .sortBy(_._1).map(_._2).toSeq
    (rows, store.seeds.toSeq)
  }

  test("the pinned append and a pin-sized consolidation each run a handful of jobs") {
    val dir = tmpDir("graftgjobs") + "/g"
    GraphAnn.buildAndWrite(pts.filter(col("id") < 600), "id", "embedding",
      numLists = 6, nprobe = 2, k = 8, alpha = 1.2, maxDegree = 8, path = dir)
    val adds = pts.filter(col("id") >= 600).localCheckpoint()
    val (_, appendJobs) = jobsOf(
      GraphAnn.appendGraph(spark, dir, adds, "id", "embedding", ef = 32))
    GraphAnn.removeGraph(spark, dir, (0L until 600L by 20L))
    val (ran, mergeJobs) = jobsOf(
      GraphAnn.consolidateGraphIfNeeded(spark, dir, 0.01))
    assert(ran, "the tombstone ratio should have triggered the merge")
    assert(appendJobs <= 5 && mergeJobs <= 6,
      s"appendGraph ran $appendJobs jobs, consolidateGraphIfNeeded $mergeJobs")
    val after = GraphAnn.openGraph(spark, dir)
    assert(after.tombstones.isEmpty)
    assert(after.rows.count() == 640 - 30)
    assert(after.rows.filter(col("id") >= 600).count() == 40)
  }

  test("the driver merge writes the distributed merge's rows and seeds") {
    val root = tmpDir("graftgmerge")
    val (graph0, seeds) = GraphAnn.build(pts, "id", "embedding", numLists = 6,
      nprobe = 2, k = 8, alpha = 1.2, maxDegree = 8)
    // hand-made rows beside the built graph: 10001's one neighbour
    // 10002 is doomed and links on only to 10001 itself and the doomed
    // 10003, so 10001 keeps no candidate; 10006's doomed 10003 leads
    // nowhere either, so it keeps its dangling id; 10004 has no list and
    // 10005 no vector, both unaffected
    val v = Array.fill(8)(0.5f)
    val live = (1L until 640L).find(i => i % 9 != 0 && !seeds.contains(i)).get
    val extra = Seq[(Long, Array[Float], Array[Long])](
      (10001L, v, Array(10002L)), (10002L, v, Array(10001L, 10003L)),
      (10003L, v, Array(10002L)), (10004L, v, null), (10005L, null, Array(live)),
      (10006L, v, Array(10003L, 99999L))).toDF("id", "vec", "nbrs")
    val graph = graph0.unionByName(extra).localCheckpoint()
    val doomed = (0L until 640L by 9L) ++ Seq(seeds.head, 10002L, 10003L)
    val (driver, distributed) = (s"$root/driver", s"$root/distributed")
    Seq(driver, distributed).foreach { dir =>
      GraphAnn.writeGraph(graph, seeds, dir, 1.2, 8)
      GraphAnn.removeGraph(spark, dir, doomed)
    }
    GraphAnn.consolidateGraph(spark, driver)
    GraphAnn.consolidateGraph(spark, distributed, pinBudgetRows = 0L)
    val (rows, newSeeds) = storeOf(driver)
    val (want, wantSeeds) = storeOf(distributed)
    assert(rows.size == want.size && rows == want,
      rows.zip(want).filter { case (a, b) => a != b }.take(3).mkString("; "))
    assert(newSeeds == wantSeeds, s"$newSeeds vs $wantSeeds")
    assert(!newSeeds.contains(seeds.head) && newSeeds.length == seeds.length)
    val lists = GraphAnn.openGraph(spark, driver).rows
      .select("id", "nbrs").as[(Long, Option[Seq[Long]])].collect().toMap
    assert(lists(10001L).contains(Nil) && lists(10006L).contains(Seq(99999L)) &&
      lists(10004L).isEmpty && lists(10005L).contains(Seq(live)))
    assert(lists.size == 646 - doomed.distinct.size)
  }
}
