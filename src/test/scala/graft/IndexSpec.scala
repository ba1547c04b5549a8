package graft

import org.apache.spark.sql.{DataFrame}
import org.apache.spark.sql.functions._

import graft.operators._
import graft.sources.Ingest

/** The reference's own test strategy (SURVEY.md §5): every index search
  * must equal a brute-force linear scan exactly — zero false positives,
  * zero false negatives (MemoryVectorIndexTests.cs:161-204) — over the
  * grid fixtures, adversarial sets, and degenerate cases. */
class IndexSpec extends SparkSpec {
  import spark.implicits._

  private def searchIds(index: DataFrame, pts: DataFrame, q: Seq[Double], r: Double): Set[Long] =
    IndexSearch.searchExact(index, pts, "id", "vector", q, r)
      .select("id").as[Long].collect().toSet

  private def bruteIds(pts: DataFrame, q: Seq[Double], r: Double): Set[Long] =
    BruteForce.rangeSearch(pts, "vector", q, r)
      .select("id").as[Long].collect().toSet

  private def checkOracle(pts: DataFrame, queries: Seq[(Seq[Double], Double)],
                          bucketSize: Int = 1): Unit = {
    val index = IndexBuild.buildIndex(pts, "id", "vector", bucketSize = bucketSize)
    val n = pts.count()
    val leaves = index.filter(col("id").isNotNull)
    assert(leaves.count() == n, "every point lands in a leaf")
    assert(leaves.select("id").distinct().count() == n, "exactly one leaf per point")
    queries.foreach { case (q, r) =>
      assert(searchIds(index, pts, q, r) == bruteIds(pts, q, r),
        s"index search == linear scan for q=$q r=$r")
    }
  }

  test("grid 3x3 (reference fixture, query [0.5,0.9] r=0.6)") {
    val g = spark.range(3).selectExpr("id as i").crossJoin(spark.range(3).selectExpr("id as j"))
      .select((col("i") * 3 + col("j")).as("id"),
        array((col("i") - 1).cast("float"), (col("j") - 1).cast("float")).as("vector"))
    checkOracle(g, Seq(Seq(0.5, 0.9) -> 0.6))
  }

  test("grid 10x10 (reference fixture, query [0.3,0.3] r=0.3)") {
    checkOracle(Ingest.grid(spark, 10), Seq(Seq(0.3, 0.3) -> 0.3))
  }

  test("grid 100x100 with several queries") {
    checkOracle(Ingest.grid(spark, 100),
      Seq(Seq(0.3, 0.3) -> 0.1, Seq(-0.7, 0.9) -> 0.25, Seq(0.0, 0.0) -> 0.01))
  }

  test("unnormalized grid (bad distribution path)") {
    val g = spark.range(10).selectExpr("id as i").crossJoin(spark.range(10).selectExpr("id as j"))
      .select((col("i") * 10 + col("j")).as("id"),
        array((col("i") - 1).cast("float"), (col("j") - 1).cast("float")).as("vector"))
    checkOracle(g, Seq(Seq(0.3, 0.3) -> 0.3, Seq(4.0, 4.0) -> 2.0))
  }

  test("one-hot adversarial set (near-zero stdev everywhere)") {
    val oh = Ingest.oneHot(spark, 32)
    checkOracle(oh, Seq(
      (0 until 32).map(i => if (i == 3) 1.0 else 0.0) -> 0.5,
      (0 until 32).map(_ => 0.0) -> 1.1))
  }

  test("random uniform 64-dim (reference bench shape, scaled down)") {
    val r = Ingest.randomUniform(spark, 500, 16, seed = 7L)
    val q = Seq.fill(16)(0.1)
    checkOracle(r, Seq(q -> 1.0, q -> 2.0))
  }

  test("degenerate: all-identical vectors split purely by id") {
    val pts = spark.range(20).select(col("id"),
      array(lit(0.5f), lit(0.5f), lit(0.5f)).as("vector"))
    checkOracle(pts, Seq(Seq(0.5, 0.5, 0.5) -> 0.1, Seq(0.0, 0.0, 0.0) -> 0.1))
  }

  test("degenerate: duplicate vectors with distinct ids get distinct leaves") {
    val pts = spark.range(8).select(col("id"),
      array((col("id") % 2).cast("float"), lit(1f)).as("vector"))
    checkOracle(pts, Seq(Seq(0.0, 1.0) -> 0.5))
  }

  test("degenerate: single point and empty input") {
    val single = spark.range(1).select(col("id"), array(lit(1f), lit(2f)).as("vector"))
    val idx1 = IndexBuild.buildIndex(single, "id", "vector")
    val rows = idx1.collect()
    assert(rows.length == 1 && !rows(0).isNullAt(5) && rows(0).getLong(5) == 0L)

    val empty = spark.range(0).select(col("id"), array(lit(1f)).as("vector"))
    assert(IndexBuild.buildIndex(empty, "id", "vector").count() == 0)
  }

  test("bucketSize > 1 bounds leaves and stays exact") {
    val g = Ingest.grid(spark, 30)
    val index = IndexBuild.buildIndex(g, "id", "vector", bucketSize = 10)
    val leaves = index.filter(col("id").isNotNull)
    assert(leaves.count() == 900)
    val perLeaf = leaves.groupBy("rangeId").count().agg(max("count")).head().getLong(0)
    assert(perLeaf <= 10)
    assert(searchIds(index, g, Seq(0.3, 0.3), 0.2) == bruteIds(g, Seq(0.3, 0.3), 0.2))
  }

  test("pure BFS path (localBuildThreshold=0) matches oracle too") {
    val g = Ingest.grid(spark, 10)
    val index = IndexBuild.buildIndex(g, "id", "vector", localBuildThreshold = 0)
    assert(index.filter(col("id").isNotNull).count() == 100)
    assert(searchIds(index, g, Seq(0.3, 0.3), 0.3) == bruteIds(g, Seq(0.3, 0.3), 0.3))
  }

  test("distributed frontier search equals local walk") {
    val g = Ingest.grid(spark, 30)
    val index = IndexBuild.buildIndex(g, "id", "vector")
    val local = IndexSearch.searchBox(index, Seq(0.2, -0.4), 0.15)
      .as[Long].collect().toSet
    // localNodeLimit = 0 forces the frontier loop
    val dist = IndexSearch.searchBox(index, Seq(0.2, -0.4), 0.15,
        localNodeLimit = 0L)
      .select("id").as[Long].collect().toSet
    assert(local.nonEmpty && local == dist)
  }

  test("maintenance: remove then search equals brute force on survivors") {
    val g = Ingest.grid(spark, 20)
    val index = IndexBuild.buildIndex(g, "id", "vector")
    val removed = IndexMaintain.removePoints(index,
      g.filter(col("id") % 3 === 0).select("id"))
    val kept = g.filter(col("id") % 3 =!= 0)
    assert(searchIds(removed, g, Seq(0.1, 0.1), 0.3) == bruteIds(kept, Seq(0.1, 0.1), 0.3))
    // pruning kept the index minimal: no internal node without leaves below
    val emptyIdx = IndexMaintain.removePoints(index, g.select("id"))
    assert(emptyIdx.count() == 0)
  }

  test("maintenance: remove keeps every other leaf and every node with a leaf below") {
    val pts = Ingest.randomUniform(spark, 300, 4, seed = 11L)
    val index = IndexBuild.buildIndex(pts, "id", "vector", bucketSize = 4).localCheckpoint()
    val rows = index.collect()
    val leaves = rows.filterNot(_.isNullAt(5)).map(r => (r.getLong(0), r.getLong(5)))
    def parent(r: Long): Long = (r + 1) / 2 - 1
    def below(node: Long, leaf: Long): Boolean =
      Iterator.iterate(parent(leaf))(parent).takeWhile(_ >= 0).contains(node)
    // an internal node below the root's children, all of whose leaves die
    val emptied = rows.filter(r => r.isNullAt(5) && r.getLong(0) > 2).map(_.getLong(0)).sorted
      .find(n => leaves.count(l => below(n, l._1)) >= 3).get
    val emptiedIds = leaves.filter(l => below(emptied, l._1)).map(_._2)
    // a bucket leaf elsewhere that keeps some of its points
    val (partLeaf, partIds) = leaves.groupMap(_._1)(_._2)
      .find { case (r, ids) => ids.length >= 2 && !below(emptied, r) }.get
    val doomed = (emptiedIds :+ partIds.head :+ 1000000L).toSet
    val survivors = leaves.filterNot(l => doomed(l._2)).map(_._1)
    val want = rows.filter(r =>
      if (r.isNullAt(5)) survivors.exists(below(r.getLong(0), _)) else !doomed(r.getLong(5)))
    val got = IndexMaintain.removePoints(index, doomed.toSeq.toDF("id")).collect()
    assert(got.map(_.toString).sorted.toSeq == want.map(_.toString).sorted.toSeq)
    assert(!got.exists(_.getLong(0) == emptied), "the emptied node survived")
    assert(got.count(_.getLong(0) == partLeaf) == partIds.length - 1)
  }

  test("maintenance: add then search equals brute force on the union") {
    val g = Ingest.grid(spark, 20)
    val base = g.filter(col("id") % 4 =!= 0)
    val adds = g.filter(col("id") % 4 === 0)
    val index = IndexBuild.buildIndex(base, "id", "vector")
    val grown = IndexMaintain.addPoints(index, base, adds, "id", "vector")
    assert(grown.filter(col("id").isNotNull).count() == 400)
    assert(searchIds(grown, g, Seq(0.1, 0.1), 0.25) == bruteIds(g, Seq(0.1, 0.1), 0.25))
    assert(searchIds(grown, g, Seq(-0.5, 0.7), 0.4) == bruteIds(g, Seq(-0.5, 0.7), 0.4))
  }

  test("maintenance: add into empty-slot children and fresh index") {
    val pts = spark.range(2).select(col("id"), array(col("id").cast("float")).as("vector"))
    val index = IndexBuild.buildIndex(pts, "id", "vector")
    val adds = spark.range(3, 6).select(col("id"), array(col("id").cast("float")).as("vector"))
    val all = pts.unionByName(adds)
    val grown = IndexMaintain.addPoints(index, pts, adds, "id", "vector")
    assert(searchIds(grown, all, Seq(2.0), 3.0) == bruteIds(all, Seq(2.0), 3.0))
  }
}
