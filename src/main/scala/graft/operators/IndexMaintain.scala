package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** Incremental index maintenance — the batch re-expression of the
  * reference's incremental insert/delete (MemoryVectorIndex.cs:86-228 add,
  * :358-489 remove + consolidation; SURVEY.md §2.9 R4/R5).
  *
  * Design: maintenance is set-oriented (a batch of ids/points at a time):
  *  - remove: anti-join the leaf rows, then prune internal nodes whose
  *    subtree lost every leaf. Ancestor sets are computed CLOSED-FORM via
  *    heap arithmetic (ancestor_k(r) = ((r+1) >> k) - 1), so pruning is
  *    one explode + semi-join — no per-level iteration, no driver loop.
  *  - add: route new points down the tree (broadcast tree walk inside
  *    mapPartitions — one job), then rebuild only the touched leaf
  *    subtrees with the exact build rules. Routing ties (value == mid;
  *    the persisted index drops the id pivot, DDL.sql:197) go LOW, which
  *    preserves search correctness: a low-routed point with v == mid is
  *    always reachable (mid >= v - domain), a high-routed point with
  *    v > mid likewise (mid <= v + domain).
  *
  * Scale: both paths touch O(changed subtrees), never the whole point set;
  * the index relation itself is ~2N tiny rows. The broadcast walk needs
  * the tree on one executor — for indexes beyond that, the same routing
  * runs as the per-level frontier join of IndexSearch (documented, not
  * needed at our scales). */
object IndexMaintain {

  /** All ancestors of `rangeId` including itself: ((r+1) >> k) - 1 for
    * k = 0..62 (negative entries filtered) — closed-form heap walk, no
    * iteration. (SQL expr: the Scala `shiftright` helper only takes a
    * literal shift amount.) */
  private val ancestorsExpr = expr(
    "filter(transform(sequence(0, 62), k -> shiftright(rangeId + 1, k) - 1), a -> a >= 0)")

  /** Batch delete: `ids` is a single-column DataFrame of point ids to
    * remove. Returns the consolidated index. */
  def removePoints(index: DataFrame, ids: DataFrame): DataFrame = {
    val idCol = ids.columns.head
    val leaves = index.filter(col("id").isNotNull)
    val internal = index.filter(col("id").isNull)
    val survivors = leaves.join(ids.select(col(idCol).as("id")),
      Seq("id"), "left_anti")
    val alive = survivors
      .select(explode(ancestorsExpr).as("aliveId"))
      .distinct()
    val keptInternal = internal.join(alive,
      internal("rangeId") === alive("aliveId"), "left_semi")
    keptInternal.unionByName(
      survivors.select(keptInternal.columns.toIndexedSeq.map(col): _*))
  }

  /** Batch insert: route `newPoints` (idCol, vecCol) through the tree to
    * leaf positions, then rebuild each touched subtree from its combined
    * old + new points. `points` must be the current indexed point set
    * (needed to re-split the touched leaves).
    *
    * Routing auto-switches like searchBox, in one probe job
    * (`IndexSearch.collectWithin`): trees up to `localNodeLimit` internal
    * nodes are collected into a COMPACT primitive map (one Long per
    * node: dim in the high 32 bits, mid float bits in the low 32 —
    * no boxed Map, ~16 bytes/node in the broadcast) and walked per point
    * in one distributed map; larger trees are routed by the per-level
    * frontier join, which never materializes the tree anywhere. */
  def addPoints(index: DataFrame, points: DataFrame, newPoints: DataFrame,
                idCol: String, vecCol: String, bucketSize: Int = 1,
                localNodeLimit: Long = IndexSearch.DefaultNodeLimit): DataFrame = {
    val spark = index.sparkSession

    val internal = index.filter(col("id").isNull)
    val newPts = newPoints
      .select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<float>").as("vector"))
    // One probe job: if the node rows fit, they ARE the routing tree;
    // if the limit overflowed, discard them and route distributed.
    val routed = IndexSearch.collectWithin(
        internal.select("rangeId", "dimension", "mid"), localNodeLimit) match {
      case Some(nodeRows) => routeLocal(nodeRows, newPts)
      case None => routeDistributed(internal, newPts)
    }

    // Touched destinations + the old points already sitting there.
    val touched = routed.select(col("rangeId").as("leafRangeId")).distinct()
    val oldLeaves = index.filter(col("id").isNotNull)
      .join(broadcast(touched), col("rangeId") === col("leafRangeId"), "left_semi")
    val oldMembers = oldLeaves.select(col("rangeId"), col("id"))
      .join(points.select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<float>").as("vector")), "id")
      .select(col("rangeId"), col("id"), col("vector"))

    val rebuilt = IndexBuild.buildLocalSubtreesAtDepth(
      oldMembers.unionByName(routed), bucketSize)

    // Untouched rows + rebuilt subtrees.
    val untouched = index.join(broadcast(touched),
      index("rangeId") === touched("leafRangeId"), "left_anti")
    untouched.unionByName(rebuilt)
  }

  /** Collected-tree routing: one distributed map over the batch, the
    * tree broadcast as a primitive LongMap[Long] (rangeId → packed
    * (dim, midBits)). Routing ties (value == mid) go LOW — see the
    * object Scaladoc. */
  private def routeLocal(nodeRows: Array[Row], newPts: DataFrame): DataFrame = {
    val spark = newPts.sparkSession
    import spark.implicits._
    val packed = mutable.LongMap.empty[Long]
    nodeRows
      .foreach { r =>
        val dim = if (r.isNullAt(1)) -1 else r.getInt(1)
        val mid = if (r.isNullAt(2)) 0f else r.getFloat(2)
        packed.update(r.getLong(0),
          (dim.toLong << 32) | (java.lang.Float.floatToRawIntBits(mid) & 0xffffffffL))
      }
    val treeB = spark.sparkContext.broadcast(packed)
    newPts.as[(Long, Array[Float])]
      .map { case (id, vec) =>
        val t = treeB.value
        var r = 0L
        while (t.contains(r)) {
          val v = t(r)
          val dim = (v >> 32).toInt
          val mid = java.lang.Float.intBitsToFloat(v.toInt)
          val goHigh = dim >= 0 && vec(dim) > mid
          r = r * 2 + (if (goHigh) 2 else 1)
        }
        (r, id, vec)
      }.toDF("rangeId", "id", "vector")
  }

  /** Frontier-join routing for trees too large to collect anywhere: per
    * level, inner-join the (broadcast, batch-sized) in-flight points
    * against the internal-node relation on rangeId and step to the
    * chosen child; points whose current rangeId is no longer internal
    * have arrived. The tree relation streams through each join — it is
    * never collected, boxed, or broadcast. ~depth joins total. */
  private def routeDistributed(internal: DataFrame, newPts: DataFrame): DataFrame = {
    val spark = internal.sparkSession
    val nodes = internal
      .select(col("rangeId"),
        coalesce(col("dimension"), lit(-1)).as("dim"),
        coalesce(col("mid"), lit(0f)).as("mid"))
      .localCheckpoint()
    // Per-row uid: arrival is detected per ROW, not per id, so a batch
    // holding duplicate ids (different vectors) routes each row
    // independently — matching routeLocal's semantics exactly.
    var inFlight = newPts
      .select(lit(0L).as("rangeId"), col("id"), col("vector"),
        monotonically_increasing_id().as("uid"))
      .localCheckpoint()
    var arrived = List.empty[DataFrame]
    while (!inFlight.isEmpty) {
      // step: child = 2r+1 (low) or 2r+2 (high); ties (v == mid) go LOW
      val stepped = nodes.join(broadcast(inFlight), Seq("rangeId"))
        .select(
          (col("rangeId") * 2 + when(col("dim") >= 0 &&
            element_at(col("vector"), col("dim") + 1) > col("mid"), 2L)
            .otherwise(1L)).as("rangeId"),
          col("id"), col("vector"), col("uid"))
        .localCheckpoint()
      val done = inFlight.join(broadcast(stepped.select(col("uid").as("suid"))),
          col("uid") === col("suid"), "left_anti")
        .localCheckpoint()
      if (!done.isEmpty) arrived ::= done
      else IndexBuild.freeCheckpoint(done)
      IndexBuild.freeCheckpoint(inFlight)
      inFlight = stepped
    }
    IndexBuild.freeCheckpoint(inFlight)
    IndexBuild.freeCheckpoint(nodes)
    arrived.reduceOption(_ unionAll _)
      .map(_.select(col("rangeId"), col("id"), col("vector")))
      .getOrElse(spark.emptyDataFrame
        .select(lit(0L).as("rangeId"), lit(0L).as("id"),
          lit(null).cast("array<float>").as("vector")).limit(0))
  }
}
