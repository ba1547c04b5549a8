package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._

/** Vicinity search over the space-partitioning index.
  *
  * Semantics = the reference's recursive search (DDL.sql:234-295):
  * descend from rangeId 0; follow the low child when `dimension is null or
  * mid >= q[dim] - domain`, the high child when `dimension is null or
  * mid <= q[dim] + domain`; emit leaf ids. The pruning is an L-inf box
  * test per split dimension, so the result is a CANDIDATE superset of the
  * L2 ball — `searchExact` re-checks with the exact distance predicate
  * (the caller-side re-verification of MemoryVectorIndex.cs:237-241).
  *
  * Physical strategy (ours, not the reference's):
  *  - local: while the index fits `localNodeLimit` rows, it is collected
  *    in ONE job and pinned ([[PinnedIndex]]), and the descent is the
  *    pinned tree's in-memory walk — the index is ~2N tiny rows, and the
  *    reference's SQL recursive CTE also runs on one node.
  *  - distributed ([[frontierSearch]]): past the limit, an iterative
  *    frontier loop — per level, join the (tiny) frontier against the
  *    index relation. Survives indexes too large for any single node;
  *    ~depth joins, no large-side shuffle.
  */
object IndexSearch {

  /** Collect `df` if it has at most `limit` rows — None when the limit
    * overflowed (the caller then takes its distributed path). The size
    * probe and the collect are one job: the rows that prove the index
    * fits are the rows the local path uses. */
  private[graft] def collectWithin(df: DataFrame, limit: Long): Option[Array[Row]] = {
    val rows = df.limit(math.min(limit + 1, Int.MaxValue.toLong - 1).toInt).collect()
    if (rows.length <= limit) Some(rows) else None
  }

  /** The index pinned in one job, if it fits `localNodeLimit` rows. */
  private def pinWithin(index: DataFrame, localNodeLimit: Long): Option[PinnedIndex] =
    collectWithin(index.select(PinnedIndex.NodeCols.map(col): _*), localNodeLimit)
      .map(rows => PinnedIndex.fromRows(rows))

  /** Candidate leaf ids within the box (auto local/distributed). */
  def searchBox(index: DataFrame, q: Seq[Double], domain: Double,
                localNodeLimit: Long = 2_000_000L): DataFrame = {
    val spark = index.sparkSession
    import spark.implicits._
    pinWithin(index, localNodeLimit) match {
      case Some(tree) => tree.candidates(q, domain).toDF("id")
      case None => frontierSearch(index, doubleVec(q), domain, Nil, None, hint = true)
    }
  }

  /** Exact vicinity search: candidate ids from the L2 budget descent
    * (strictly tighter than the box test for ball queries), re-checked
    * with the true euclidean predicate against the points table — equals
    * the brute-force oracle by construction (zero false pos/neg). */
  def searchExact(index: DataFrame, points: DataFrame, idCol: String,
                  vecCol: String, q: Seq[Double], radius: Double): DataFrame = {
    val cands = searchBall(index, q, radius).withColumnRenamed("id", idCol)
    points.join(cands, idCol)
      .filter(dist(col(vecCol), doubleVec(q)) <= radius)
  }

  /** Candidate leaf ids for an L2 ball query: the local path uses the
    * reference's squared-distance-budget pruning
    * (MemoryVectorIndex.cs:259-344, [[PinnedIndex.candidatesL2]]). Still
    * a candidate SUPERSET of the true ball (the bound is a lower bound on
    * the real distance), so searchExact's re-check stays exact. Indexes
    * too large to collect fall back to the distributed box descent (a
    * looser superset). */
  def searchBall(index: DataFrame, q: Seq[Double], radius: Double,
                 localNodeLimit: Long = 2_000_000L): DataFrame = {
    val spark = index.sparkSession
    import spark.implicits._
    pinWithin(index, localNodeLimit) match {
      case Some(tree) => tree.candidatesL2(q, radius).toDF("id")
      case None => frontierSearch(index, doubleVec(q), radius, Nil, None, hint = true)
    }
  }

  /** Per-document box search over a (docId, ...) index built by
    * buildIndexPerDoc — mirrors dbo.Search's optional @docId
    * (DDL.sql:240-241,262-263): None searches every document. Returns
    * (docId, id) candidate rows.
    *
    * Scale guard (mirrors searchBox): the selected documents' trees are
    * collected and walked locally only while they fit `localNodeLimit`;
    * past it — the many-document `docId = None` case at corpus scale —
    * the descent runs as a frontier loop keyed on (docId, rangeId), so
    * no tree ever reaches the driver. */
  def searchBoxPerDoc(index: DataFrame, q: Seq[Double], domain: Double,
                      docId: Option[Long] = None,
                      localNodeLimit: Long = 2_000_000L): DataFrame = {
    val spark = index.sparkSession
    import spark.implicits._
    val filtered = docId.map(d => index.filter(col("docId") === d)).getOrElse(index)
    collectWithin(filtered.select((PinnedIndex.NodeCols :+ "docId").map(col): _*),
        localNodeLimit) match {
      case Some(rows) =>
        rows.groupBy(_.getLong(6)).toSeq.flatMap { case (doc, docRows) =>
          PinnedIndex.fromRows(docRows).candidates(q, domain).map(id => (doc, id))
        }.toDF("docId", "id")
      // no broadcast hint on the child join: the frontier is
      // O(docs × branching) wide and AQE picks broadcast only when it fits
      case None =>
        frontierSearch(filtered, doubleVec(q), domain, Seq("docId"), None, hint = false)
    }
  }

  /** The reference's own query surface: `dbo.Search` is a recursive CTE
    * (DDL.sql:255-294). Spark 4.1 supports WITH RECURSIVE — this is the
    * one-statement SQL twin of the frontier loop, for SQL-surface parity.
    * `indexView` must be a registered temp view of the index relation. */
  def searchBoxSql(spark: SparkSession, indexView: String,
                   q: Seq[Double], domain: Double): DataFrame = {
    val qArr = q.mkString("array(", ", ", ")")
    spark.sql(
      s"""WITH RECURSIVE node AS (
         |  SELECT * FROM $indexView WHERE rangeId = 0
         |  UNION ALL
         |  SELECT i.* FROM $indexView i JOIN node n
         |    ON (n.lowRangeId IS NOT NULL AND i.rangeId = n.lowRangeId AND
         |        (n.dimension IS NULL OR
         |         CAST(n.mid AS DOUBLE) >= element_at($qArr, n.dimension + 1) - $domain))
         |    OR (n.highRangeId IS NOT NULL AND i.rangeId = n.highRangeId AND
         |        (n.dimension IS NULL OR
         |         CAST(n.mid AS DOUBLE) <= element_at($qArr, n.dimension + 1) + $domain))
         |)
         |SELECT id FROM node WHERE id IS NOT NULL""".stripMargin)
  }

  /** BATCH exact vicinity search: for every row of `queries` (qidCol,
    * qvecCol), every point within `radius`. Output: (qid, point id
    * columns...). Candidates come from ONE pass for all Q queries (the
    * serving shape at 100×: per-query descents re-scan the index Q
    * times):
    *  - while the tree fits `localNodeLimit` rows it is pinned and
    *    broadcast, and each task walks its queries' L2-budget descents
    *    ([[PinnedIndex.candidatePairs]]) — a6's broadcast-small-side
    *    principle with queries partitioned and the index broadcast; no
    *    loop, no per-level jobs;
    *  - past it, ONE shared [[frontierSearch]] carries (qid, qvec) on every
    *    frontier row, so each level is one index scan joined against the
    *    broadcast query frontier, with the per-query L-inf box test taken
    *    from the ROW's query vector.
    * Both are candidate supersets of each query's L2 ball; the true
    * per-query euclidean predicate re-checks them, so the result equals
    * the brute-force per-query oracle by construction. */
  def searchExactBatch(index: DataFrame, points: DataFrame, idCol: String,
                       vecCol: String, queries: DataFrame, qidCol: String,
                       qvecCol: String, radius: Double,
                       localNodeLimit: Long = 2_000_000L): DataFrame = {
    val cands = pinWithin(index, localNodeLimit) match {
      case Some(tree) =>
        PinnedIndex.candidatePairs(tree, queries, qidCol, qvecCol, radius)
      case None =>
        frontierSearch(index, col("qvec"), radius, Seq("qid"),
          Some(queries.select(col(qidCol).as("qid"),
            col(qvecCol).cast("array<double>").as("qvec"))), hint = true)
    }
    val qs = queries.select(col(qidCol).as("qid"), col(qvecCol).as("__qvec"))
    points.join(cands.withColumnRenamed("id", idCol), idCol)
      .join(broadcast(qs), "qid")
      .filter(dist(col(vecCol), col("__qvec")) <= radius)
      .drop("__qvec")
  }

  /** The frontier-join box descent, for indexes too large to collect:
    * per level, each frontier node's surviving children (the same split
    * test as the local walk) join back against the index relation.
    * `keys` travel with every frontier row and come out beside each leaf
    * id: none for one query; `docId` for per-document trees (also a join
    * key, so documents descend independently in the same jobs); `qid` for
    * a batch, whose `queries` (qid, qvec) are cross-joined onto the root
    * and whose `qvec` rides along as the split test's query vector `q`.
    * `hint` broadcasts each level's child ids onto the index scan.
    *
    * Per-level leaf ids are checkpointed (they ARE the result, so their
    * blocks live until the caller is done) — which lets every frontier
    * checkpoint be released as soon as its successor is materialized (no
    * storage-block leak across levels). */
  private[graft] def frontierSearch(index: DataFrame, q: Column, domain: Double,
                                    keys: Seq[String], queries: Option[DataFrame],
                                    hint: Boolean): DataFrame = {
    val spark = index.sparkSession
    import spark.implicits._
    val carried = keys ++ queries.map(_ => "qvec")
    val joinKeys = "rangeId" +: keys.filter(index.columns.contains)
    val idx = index.localCheckpoint()
    val root = idx.filter($"rangeId" === 0L)
    var frontier = queries.fold(root)(qs => root.crossJoin(broadcast(qs)))
      .localCheckpoint()
    var leaves = List.empty[DataFrame]
    do {
      leaves = frontier.filter($"id".isNotNull).select((keys :+ "id").map(col): _*)
        .localCheckpoint() :: leaves
      val qv = element_at(q, $"dimension" + 1)
      val children = frontier.filter($"lowRangeId".isNotNull)
        .select(carried.map(col) :+ explode(array(
          when($"dimension".isNull ||
            $"mid".cast("double") >= qv - domain, $"lowRangeId"),
          when($"dimension".isNull ||
            $"mid".cast("double") <= qv + domain, $"highRangeId"))).as("rangeId"): _*)
        .filter($"rangeId".isNotNull)
        .distinct()
      val next = idx.join(if (hint) broadcast(children) else children, joinKeys)
        .localCheckpoint()
      IndexBuild.freeCheckpoint(frontier)
      frontier = next
    } while (!frontier.isEmpty)
    IndexBuild.freeCheckpoint(frontier)
    IndexBuild.freeCheckpoint(idx)
    leaves.reduce(_ unionAll _)
  }
}
