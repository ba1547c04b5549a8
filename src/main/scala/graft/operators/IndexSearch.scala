package graft.operators

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future, Promise}
import scala.concurrent.duration.Duration

import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame, GraftSqlShim, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, BindReferences,
  Predicate, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.optimizer.ConstantFolding
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.{LocalTableScanExec, SQLExecution}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, StructType}

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
  *  - pinned once per file snapshot: a bare file scan (column selections
  *    over a parquet read) is keyed by its schema and sorted file listing,
  *    and its pins are kept in [[Snapshots]]' small LRU registry. A tree
  *    pin is kept on its first collect; repeat queries walk it with no
  *    job while its row count fits `localNodeLimit`.
  *  - `searchExact` with both `index` and `points` bare file scans and a
  *    `Long` id: the first query against a `points` snapshot records it
  *    as seen and re-checks by job (below), so a one-off query pays no
  *    full collect; the second collects the `points` rows once, keyed by
  *    the snapshot, the projection's schema and `idCol`, while the listed
  *    bytes are at most a sixteenth of the heap. From then on the
  *    candidates' rows are looked up by id on the driver and re-checked
  *    there by the exact predicate's own Catalyst tree, analyzed over the
  *    rows' attributes, constant-folded, bound and interpreted as
  *    `ConvertToLocalRelation` would fold the filter; the matches come
  *    back as one bare `LocalRelation`, `idCol` first, with no filter or
  *    projection left for the optimizer, and collecting the answer runs
  *    no job. Null ids are not pinned and never match.
  *  - `searchBox`/`searchBall` on a pinned tree and
  *    [[GraphAnn.graphKnn]] wrap their driver-built answers the same way
  *    ([[localRows]]): no encoder is derived per call.
  *  - staleness, for both directories, is the snapshot key's: a
  *    rewritten directory, read back, pins afresh. Other plans (filters,
  *    joins, computed columns, in-memory or checkpointed relations) pin
  *    the tree on every call and keep the job re-check.
  *  - otherwise `searchExact` re-checks candidates as an id semi-join in
  *    the same job as the exact predicate: an id IN-set filter on
  *    `points` (the vicinity rule's form and cap), or a left semi-join
  *    past the cap and on the distributed path. On every path each
  *    `points` row comes out once, `idCol` first.
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
    * probe and the collect are one job, whatever the partition count:
    * the rows that prove the index fits are the rows the local path uses. */
  private[graft] def collectWithin(df: DataFrame, limit: Long): Option[Array[Row]] = {
    val toRow = CatalystTypeConverters.createToScalaConverter(df.schema)
    collectInternalWithin(df, limit).map(_.map(toRow(_).asInstanceOf[Row]))
  }

  /** [[collectWithin]] in Spark's internal row form, each row counting
    * `weight(row)` (at least 1) against `limit`. Rows the optimizer folds
    * onto the driver are taken with no job. Otherwise one job runs every
    * partition at once; a task ships its rows only while they weigh at
    * most its share, `limit` over the partition count, and past it ships
    * just their weight, counted up to `limit`. As soon as the weights
    * returned pass `limit` the job is cancelled (its running tasks stop at
    * their next row) and the answer is None, so an input past the limit
    * costs about `limit` weight of rows read, however large it is. When
    * the weights fit and some partition outgrew its share (a skewed
    * input), a second job fetches those partitions alone. Either way the
    * tasks ship at most `limit` weight of rows in all, as Spark's
    * `maxResultSize` counts them. Rows come back in partition order, as a
    * `collect()` returns them. */
  private[graft] def collectInternalWithin(df: DataFrame, limit: Long,
                                           weight: InternalRow => Long = _ => 1L)
      : Option[Array[InternalRow]] = {
    val qe = df.queryExecution
    val cost = (r: InternalRow) => math.max(1L, weight(r))
    def fits(rows: Array[InternalRow]) = rows.iterator.map(cost).sum <= limit
    qe.executedPlan match {
      case _: LocalTableScanExec => Some(GraftSqlShim.collectInternal(df)).filter(fits)
      case _ => SQLExecution.withNewExecutionId(qe, Some("collectWithin")) {
        val rdd = qe.toRdd
        val n = rdd.getNumPartitions
        val weights = new Array[Long](n)
        val parts = new Array[Array[InternalRow]](n)
        var total = 0L
        // each task: (its weight up to past `limit`, its rows or null
        // once they weigh more than `share`)
        def fetch(partitions: Seq[Int], share: Long): Unit = if (partitions.nonEmpty) {
          val over = Promise[Unit]()
          val job = df.sparkSession.sparkContext.submitJob(rdd,
            (rows: Iterator[InternalRow]) => {
              val task = TaskContext.get()
              val kept = mutable.ArrayBuffer.empty[InternalRow]
              var w = 0L
              while (w <= limit && !task.isInterrupted() && rows.hasNext) {
                val r = rows.next()
                w += cost(r)
                if (w <= share) kept += r.copy() else kept.clear()
              }
              (w, if (w <= share) kept.toArray else null)
            },
            partitions,
            (j: Int, part: (Long, Array[InternalRow])) => {
              val i = partitions(j)
              total += part._1 - weights(i)
              weights(i) = part._1
              parts(i) = part._2
              if (total > limit) over.trySuccess(())
            }, ())
          Await.ready(Future.firstCompletedOf(Seq(job, over.future))(ExecutionContext.parasitic),
            Duration.Inf)
          if (over.isCompleted) { job.cancel(); Await.ready(job, Duration.Inf) }
          else job.value.foreach(_.get) // a failed job throws here
        }
        fetch(0 until n, limit / math.max(n, 1))
        if (total <= limit) fetch(parts.indices.filter(parts(_) == null), limit)
        Option.when(total <= limit && parts.forall(_ != null))(parts.flatten)
      }
    }
  }

  /** A tree pinned from a file snapshot, with its node-row count. */
  private final case class Tree(rows: Long, tree: PinnedIndex)

  /** A `points` pin's key: its file snapshot, the projection read from it
    * and the id column. */
  private final case class RowsKey(snapshot: Snapshots.Snapshot, schema: StructType, idCol: String)

  /** A `points` snapshot queried once and not pinned yet. */
  private case object Seen

  /** `points` rows pinned on the driver: compact row copies sorted by id
    * (null ids dropped), with each id's first row index. */
  private final class Rows(rows: Array[UnsafeRow], idAt: Int) {
    private val first = mutable.LongMap.empty[Int]
    rows.indices.reverseIterator.foreach(i => first(rows(i).getLong(idAt)) = i)
    val bytes: Long = rows.iterator.map(_.getSizeInBytes + 32L).sum

    /** Every row with id `id`, once each. */
    def of(id: Long): Iterator[UnsafeRow] = first.get(id).iterator.flatMap(i =>
      Iterator.from(i).takeWhile(j => j < rows.length && rows(j).getLong(idAt) == id).map(rows))
  }

  /** The index pinned, if it fits `localNodeLimit` rows: the kept pin of
    * its file snapshot (no job), else collected in one job and kept. */
  private def pinWithin(index: DataFrame, snapshot: Option[Snapshots.Snapshot],
                        localNodeLimit: Long): Option[PinnedIndex] =
    snapshot.flatMap(Snapshots.get) match {
      case Some(Tree(rows, tree)) => Option.when(rows <= localNodeLimit)(tree)
      case _ =>
        collectWithin(index.select(PinnedIndex.NodeCols.map(col): _*), localNodeLimit)
          .map { rows =>
            val tree = PinnedIndex.fromRows(rows)
            snapshot.foreach(Snapshots.put(_, Tree(rows.length, tree), 48L * rows.length))
            tree
          }
    }

  /** The name `idCol` resolves to among `cols`: exact, else ignoring case. */
  private def idName(cols: Seq[String], idCol: String): String =
    cols.find(_ == idCol).orElse(cols.find(_.equalsIgnoreCase(idCol))).getOrElse(idCol)

  /** The `points` rows pinned on the driver, when `points` is a bare file
    * scan with a `Long` id column and listed bytes within a sixteenth of
    * the heap: the kept pin of its snapshot; else, on the snapshot's
    * second query, collected in one job and kept; on its first, None
    * (the snapshot is recorded as seen). */
  private def rowsWithin(points: DataFrame, idCol: String): Option[Rows] = {
    val schema = points.schema
    val idAt = schema.fieldNames.indexOf(idName(schema.fieldNames.toSeq, idCol))
    if (idAt < 0 || schema(idAt).dataType != LongType) None
    else Snapshots.of(points).filter(_.bytes <= Runtime.getRuntime.maxMemory / 16).flatMap { s =>
      val key = RowsKey(s, schema, idCol)
      Snapshots.get(key) match {
        case Some(rows: Rows) => Some(rows)
        case Some(Seen) =>
          val qe = points.queryExecution
          val toUnsafe = UnsafeProjection.create(schema)
          val rows = new Rows(
            SQLExecution.withNewExecutionId(qe, Some("collect"))(qe.executedPlan.executeCollect())
              .filterNot(_.isNullAt(idAt)).map(r => toUnsafe(r).copy()).sortBy(_.getLong(idAt)),
            idAt)
          Snapshots.put(key, rows, rows.bytes)
          Some(rows)
        case _ =>
          Snapshots.put(key, Seen, 0L)
          None
      }
    }
  }

  /** Candidate leaf ids within the box (auto local/distributed). */
  def searchBox(index: DataFrame, q: Seq[Double], domain: Double,
                localNodeLimit: Long = DefaultNodeLimit): DataFrame =
    pinWithin(index, Snapshots.of(index), localNodeLimit) match {
      case Some(tree) => idRows(index.sparkSession, tree.candidates(q, domain))
      case None => frontierSearch(index, doubleVec(q), domain, Nil, None, hint = true)
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
    // output columns: `idCol` first, then the rest of `points` in order
    def idFirst(hits: DataFrame): DataFrame = {
      val cols = hits.columns.toSeq
      val key = idName(cols, idCol)
      hits.select((key +: cols.filterNot(_ == key))
        .map(c => col("`" + c.replace("`", "``") + "`")): _*)
    }
    val snapshot = Snapshots.of(index)
    pinWithin(index, snapshot, DefaultNodeLimit) match {
      case Some(tree) =>
        val ids = tree.candidatesL2(q, radius).distinct
        snapshot.flatMap(_ => rowsWithin(points, idCol)) match {
          case Some(rows) =>
            matching(spark, DataTypeUtils.toAttributes(points.schema), idCol, exact,
              ids.iterator.flatMap(rows.of))
          case None if ids.size <= IndexedVicinityRule.DefaultMaxCandidates =>
            idFirst(points.filter(col(idCol).isInCollection(ids) && exact))
          case None => idFirst(semi(ids.toDF("id")))
        }
      case None =>
        idFirst(semi(frontierSearch(index, doubleVec(q), radius, Nil, None, hint = true)))
    }
  }

  /** The rows among `cands` (over `attrs`) that `exact` keeps, `idCol`
    * first, as a bare `LocalRelation`. `exact` is analyzed over `attrs`,
    * constant-folded (`q` becomes one literal), bound and run by
    * Catalyst's interpreted predicate on the driver: what
    * `ConvertToLocalRelation` does to the same filter over driver-held
    * rows, without planning the filter per query. */
  private def matching(spark: SparkSession, attrs: Seq[Attribute], idCol: String,
                       exact: Column, cands: Iterator[InternalRow]): DataFrame = {
    val cond = ConstantFolding(GraftSqlShim.ofRows(spark, LocalRelation(attrs))
        .filter(exact).queryExecution.analyzed) match {
      case Filter(c, _) => c
      case other => throw new IllegalStateException(s"not a filter: $other")
    }
    val test = Predicate.createInterpreted(BindReferences.bindReference(cond, attrs))
    test.initialize(0)
    val key = idName(attrs.map(_.name), idCol)
    val out = attrs.filter(_.name == key) ++ attrs.filterNot(_.name == key)
    val hits = cands.filter(test.eval)
    val rows = if (out == attrs) hits.toIndexedSeq else {
      val reorder = UnsafeProjection.create(out, attrs)
      hits.map(r => reorder(r).copy()).toIndexedSeq
    }
    GraftSqlShim.ofRows(spark, LocalRelation(out, rows))
  }

  /** Rows the driver built, as a DataFrame over a bare `LocalRelation` of
    * non-null `cols`: no encoder derived, no plan above the rows. */
  private[graft] def localRows(spark: SparkSession, cols: Seq[(String, DataType)],
                               rows: Seq[InternalRow]): DataFrame =
    GraftSqlShim.ofRows(spark, LocalRelation(
      cols.map { case (name, t) => AttributeReference(name, t, nullable = false)() }, rows))

  /** Leaf ids as an `(id long not null)` relation. */
  private def idRows(spark: SparkSession, ids: Seq[Long]): DataFrame =
    localRows(spark, Seq("id" -> LongType), ids.map(InternalRow(_)))

  /** Candidate leaf ids for an L2 ball query: the local path uses the
    * reference's squared-distance-budget pruning
    * (MemoryVectorIndex.cs:259-344, [[PinnedIndex.candidatesL2]]). Still
    * a candidate SUPERSET of the true ball (the bound is a lower bound on
    * the real distance), so searchExact's re-check stays exact. Indexes
    * too large to collect fall back to the distributed box descent (a
    * looser superset). */
  def searchBall(index: DataFrame, q: Seq[Double], radius: Double,
                 localNodeLimit: Long = DefaultNodeLimit): DataFrame =
    pinWithin(index, Snapshots.of(index), localNodeLimit) match {
      case Some(tree) => idRows(index.sparkSession, tree.candidatesL2(q, radius))
      case None => frontierSearch(index, doubleVec(q), radius, Nil, None, hint = true)
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
    val cands = pinWithin(index, Snapshots.of(index), localNodeLimit) match {
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
