package graft.operators

import java.lang.ref.SoftReference
import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.functions.VectorFunctions._
import graft.plans.IndexedVicinityRule

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
  *  - pinned once per file snapshot: when the index is a bare file scan
  *    (column selections over a parquet read), the last pin is kept,
  *    softly held, under the relation's schema and the sorted (path,
  *    length, modification time) of its listed files — the files a query
  *    over that DataFrame reads. Repeat queries walk it with no job while
  *    its row count fits `localNodeLimit`. A rewritten directory, read
  *    back, lists new files and pins afresh; an old DataFrame keeps its
  *    old listing, as any Spark read does. Other plans (filters, joins,
  *    computed columns, in-memory or checkpointed relations) pin on
  *    every call.
  *  - `searchExact` re-checks candidates as an id semi-join in the same
  *    job as the exact predicate: an id IN-set filter on `points` (the
  *    vicinity rule's form and cap), or a left semi-join past the cap
  *    and on the distributed path — each `points` row comes out once.
  *  - distributed ([[frontierSearch]]): past the limit, an iterative
  *    frontier loop — per level, join the (tiny) frontier against the
  *    index relation. Survives indexes too large for any single node;
  *    ~depth joins, no large-side shuffle.
  */
object IndexSearch {

  /** Default `localNodeLimit`: index rows a local path may collect. */
  private[graft] val DefaultNodeLimit = 2_000_000L

  /** Collect `df` if it has at most `limit` rows — None when the limit
    * overflowed (the caller then takes its distributed path). The size
    * probe and the collect are one job: the rows that prove the index
    * fits are the rows the local path uses. */
  private[graft] def collectWithin(df: DataFrame, limit: Long): Option[Array[Row]] = {
    val rows = df.limit(math.min(limit + 1, Int.MaxValue.toLong - 1).toInt).collect()
    if (rows.length <= limit) Some(rows) else None
  }

  /** The files a bare file-scan index reads: its relation's schema and
    * the sorted (path, length, modification time) of every listed file. */
  private final case class Snapshot(schema: StructType, files: Seq[(String, Long, Long)])

  /** The last tree pinned from a file snapshot, with its node-row count. */
  private final case class Pin(snapshot: Snapshot, rows: Long, tree: SoftReference[PinnedIndex])

  private val lastPin = new AtomicReference[Pin]()

  /** The snapshot of `index` when its plan is column selections over one
    * file relation (as `VectorIndexCatalog` reads source paths); None
    * otherwise. */
  private def snapshotOf(index: DataFrame): Option[Snapshot] = {
    def scan(plan: LogicalPlan): Option[HadoopFsRelation] = plan match {
      case Project(list, child) if list.forall(_.isInstanceOf[AttributeReference]) =>
        scan(child)
      case lr: LogicalRelation => lr.relation match {
        case h: HadoopFsRelation => Some(h)
        case _ => None
      }
      case _ => None
    }
    scan(index.queryExecution.analyzed).map { h =>
      Snapshot(h.schema, h.location.listFiles(Nil, Nil).flatMap(_.files)
        .map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).sorted)
    }
  }

  /** The index pinned, if it fits `localNodeLimit` rows: the kept pin of
    * the same file snapshot (no job), else collected in one job. */
  private def pinWithin(index: DataFrame, localNodeLimit: Long): Option[PinnedIndex] = {
    val snapshot = snapshotOf(index)
    val kept = Option(lastPin.get).filter(p => snapshot.contains(p.snapshot))
      .flatMap(p => Option(p.tree.get).map(tree => (p.rows, tree)))
    kept match {
      case Some((rows, tree)) => Option.when(rows <= localNodeLimit)(tree)
      case None =>
        collectWithin(index.select(PinnedIndex.NodeCols.map(col): _*), localNodeLimit)
          .map { rows =>
            val tree = PinnedIndex.fromRows(rows)
            snapshot.foreach(s => lastPin.set(Pin(s, rows.length, new SoftReference(tree))))
            tree
          }
    }
  }

  /** Candidate leaf ids within the box (auto local/distributed). */
  def searchBox(index: DataFrame, q: Seq[Double], domain: Double,
                localNodeLimit: Long = DefaultNodeLimit): DataFrame = {
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
    * the brute-force oracle by construction (zero false pos/neg). Each
    * matching `points` row comes out once, `idCol` first. */
  def searchExact(index: DataFrame, points: DataFrame, idCol: String,
                  vecCol: String, q: Seq[Double], radius: Double): DataFrame = {
    val spark = index.sparkSession
    import spark.implicits._
    val exact = dist(col(vecCol), doubleVec(q)) <= radius
    def semi(cands: DataFrame): DataFrame =
      points.join(cands.withColumnRenamed("id", idCol), Seq(idCol), "left_semi")
        .filter(exact)
    val hits = pinWithin(index, DefaultNodeLimit) match {
      case Some(tree) =>
        val ids = tree.candidatesL2(q, radius).distinct
        if (ids.size <= IndexedVicinityRule.DefaultMaxCandidates)
          points.filter(col(idCol).isInCollection(ids) && exact)
        else semi(ids.toDF("id"))
      case None => semi(frontierSearch(index, doubleVec(q), radius, Nil, None, hint = true))
    }
    // output columns: `idCol` first, then the rest of `points` in order
    val cols = hits.columns
    val key = cols.find(_ == idCol).orElse(cols.find(_.equalsIgnoreCase(idCol)))
      .getOrElse(idCol)
    hits.select((key +: cols.filterNot(_ == key))
      .map(c => col("`" + c.replace("`", "``") + "`")): _*)
  }

  /** Candidate leaf ids for an L2 ball query: the local path uses the
    * reference's squared-distance-budget pruning
    * (MemoryVectorIndex.cs:259-344, [[PinnedIndex.candidatesL2]]). Still
    * a candidate SUPERSET of the true ball (the bound is a lower bound on
    * the real distance), so searchExact's re-check stays exact. Indexes
    * too large to collect fall back to the distributed box descent (a
    * looser superset). */
  def searchBall(index: DataFrame, q: Seq[Double], radius: Double,
                 localNodeLimit: Long = DefaultNodeLimit): DataFrame = {
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
                      localNodeLimit: Long = DefaultNodeLimit): DataFrame = {
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
                       localNodeLimit: Long = DefaultNodeLimit): DataFrame = {
    val cands = pinWithin(index, localNodeLimit) match {
      case Some(tree) =>
        PinnedIndex.candidatePairs(tree, queries, qidCol, qvecCol, radius)
      // distinct: an id held by two leaves reaches a query twice
      case None =>
        frontierSearch(index, col("qvec"), radius, Seq("qid"),
          Some(queries.select(col(qidCol).as("qid"),
            col(qvecCol).cast("array<double>").as("qvec"))), hint = true)
          .distinct()
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
