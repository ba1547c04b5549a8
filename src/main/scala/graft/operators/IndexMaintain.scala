package graft.operators

import org.apache.spark.sql.{DataFrame, GraftSqlShim, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** Incremental index maintenance — the batch re-expression of the
  * reference's incremental insert/delete (MemoryVectorIndex.cs:86-228 add,
  * :358-489 remove + consolidation; SURVEY.md §2.9 R4/R5).
  *
  * Design: maintenance is set-oriented (a batch of ids/points at a time),
  * and a batch is small enough to hold on the driver:
  *  - remove: the doomed ids become a driver set. One scan finds the
  *    doomed leaves' positions; their ancestors (closed-form heap
  *    arithmetic, parent(r) = ((r+1) >> 1) - 1: at most batch × depth
  *    candidates) are the only nodes the removal can empty, and one scan
  *    of the surviving leaves finds which candidates still have a leaf
  *    below. The result is `index` filtered by two literal sets (doomed
  *    ids, emptied nodes): no join, no distinct, no per-level loop.
  *  - add: the tree is collected once (within `localNodeLimit` rows),
  *    its internal nodes into a compact primitive map, and the batch is
  *    routed down it on the driver. The touched leaves' old members are
  *    collected from `points` by one pruned scan and each touched leaf is
  *    rebuilt on the driver with the exact build rules; the result is
  *    `index` without the touched leaves, unioned with a `LocalRelation`
  *    of the rebuilt rows. Routing ties (value == mid; the persisted
  *    index drops the id pivot, DDL.sql:197) go LOW, which preserves
  *    search correctness: a low-routed point with v == mid is always
  *    reachable (mid >= v - domain), a high-routed point with v > mid
  *    likewise (mid <= v + domain).
  *
  * Scale: both paths touch O(changed subtrees), never the whole point set;
  * the index relation itself is ~2N tiny rows. A tree past
  * `localNodeLimit` is never collected: the batch is routed by the
  * per-level frontier join of IndexSearch and the touched subtrees are
  * rebuilt in the cluster. */
object IndexMaintain {

  /** The parent of heap node `r` (-1 above the root). */
  private def parent(r: Long): Long = ((r + 1) >> 1) - 1

  /** Batch delete: `ids` is a single-column DataFrame of point ids to
    * remove. Returns the consolidated index: every other leaf, and every
    * internal node that still has a leaf below it (every internal node of
    * a built or maintained tree has one, so only the doomed leaves'
    * ancestors can lose theirs). */
  def removePoints(index: DataFrame, ids: DataFrame): DataFrame = {
    val doomed = ids.select(col(ids.columns.head).cast("long")).collect().iterator
      .filterNot(_.isNullAt(0)).map(_.getLong(0)).toSet
    if (doomed.isEmpty) return index
    val isDoomed = col("id").isNotNull && col("id").isInCollection(doomed)
    val doomedLeaves = GraftSqlShim.collectInternal(index.filter(isDoomed).select("rangeId"))
    if (doomedLeaves.isEmpty) return index
    // the doomed leaves' ancestors, sorted for binary search
    val candidates = doomedLeaves.iterator
      .flatMap(r => Iterator.iterate(parent(r.getLong(0)))(parent).takeWhile(_ >= 0))
      .toArray.distinct.sorted
    val alive = if (candidates.isEmpty) Set.empty[Long] else
      index.filter(col("id").isNotNull && !isDoomed).select("rangeId")
        .queryExecution.toRdd.mapPartitions { leaves =>
          val seen = mutable.HashSet.empty[Long]
          leaves.foreach { leaf =>
            // up from the leaf, until a candidate seen already: its own
            // candidate ancestors were marked with it
            var a = parent(leaf.getLong(0))
            var fresh = true
            while (a >= 0 && fresh) {
              if (java.util.Arrays.binarySearch(candidates, a) >= 0) fresh = seen.add(a)
              a = parent(a)
            }
          }
          seen.iterator
        }.collect().toSet
    val emptied = candidates.filterNot(alive)
    index.filter(!isDoomed &&
      !(col("id").isNull && col("rangeId").isInCollection(emptied)))
  }

  /** Batch insert: route `newPoints` (idCol, vecCol) through the tree to
    * leaf positions, then rebuild each touched subtree from its combined
    * old + new points. `points` must be the current indexed point set
    * (needed to re-split the touched leaves).
    *
    * Routing auto-switches like searchBox, in one probe job
    * (`IndexSearch.collectWithin`): a tree of up to `localNodeLimit`
    * rows is collected (its internal nodes into a COMPACT primitive map:
    * one Long per node, dim in the high 32 bits, mid float bits in the
    * low 32 — no boxed Map) and the collected batch is routed and
    * rebuilt on the driver; a larger tree is routed by the per-level
    * frontier join, which never materializes the tree anywhere, and
    * rebuilt in the cluster. Both paths return the same rows. */
  def addPoints(index: DataFrame, points: DataFrame, newPoints: DataFrame,
                idCol: String, vecCol: String, bucketSize: Int = 1,
                localNodeLimit: Long = IndexSearch.DefaultNodeLimit): DataFrame = {
    def pointRows(df: DataFrame) = df.select(col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<float>").as("vector"))
    // One probe job: if the rows fit, they ARE the routing tree and the
    // leaves' positions; if the limit overflowed, route distributed.
    IndexSearch.collectWithin(
        index.select("rangeId", "dimension", "mid", "id"), localNodeLimit) match {
      case Some(treeRows) =>
        addOnDriver(index, pointRows(points), pointRows(newPoints), treeRows, bucketSize)
      case None =>
        addDistributed(index, pointRows(points), pointRows(newPoints), bucketSize)
    }
  }

  /** [[addPoints]] of a collected tree: the batch is routed, and the
    * touched leaves rebuilt, on the driver. Routing ties (value == mid)
    * go LOW — see the object Scaladoc. */
  private def addOnDriver(index: DataFrame, points: DataFrame, newPts: DataFrame,
                          treeRows: Array[Row], bucketSize: Int): DataFrame = {
    val batch = GraftSqlShim.collectInternal(newPts)
    if (batch.isEmpty) return index
    val (internal, leaves) = treeRows.partition(_.isNullAt(3))
    // rangeId → packed (dim, midBits)
    val tree = mutable.LongMap.empty[Long]
    internal.foreach { r =>
      val dim = if (r.isNullAt(1)) -1 else r.getInt(1)
      val mid = if (r.isNullAt(2)) 0f else r.getFloat(2)
      tree.update(r.getLong(0),
        (dim.toLong << 32) | (java.lang.Float.floatToRawIntBits(mid) & 0xffffffffL))
    }
    def route(vec: Array[Float]): Long = {
      var r = 0L
      while (tree.contains(r)) {
        val v = tree(r)
        val dim = (v >> 32).toInt
        val goHigh = dim >= 0 && vec(dim) > java.lang.Float.intBitsToFloat(v.toInt)
        r = r * 2 + (if (goHigh) 2 else 1)
      }
      r
    }
    val routed = batch.map { p =>
      val vec = p.getArray(1).toFloatArray()
      (route(vec), (p.getLong(0), vec))
    }
    val touched = routed.map(_._1).distinct.sorted
    // the touched leaves' old members, each with every `points` row of its id
    val isTouched = touched.toSet
    val oldLeaves = leaves.collect {
      case r if isTouched(r.getLong(0)) => (r.getLong(0), r.getLong(3))
    }
    val vecsOf = if (oldLeaves.isEmpty) Map.empty[Long, Seq[Array[Float]]] else
      GraftSqlShim.collectInternal(points.filter(
          col("id").isInCollection(oldLeaves.map(_._2).distinct)))
        .toSeq.map(r => (r.getLong(0), r.getArray(1).toFloatArray())).groupMap(_._1)(_._2)
    val members = (oldLeaves.flatMap { case (r, id) =>
      vecsOf.getOrElse(id, Nil).map(v => (r, (id, v)))
    } ++ routed).groupMap(_._1)(_._2)
    val rebuilt = touched.iterator.flatMap { r =>
      IndexBuild.buildSubtree(r, IndexBuild.depthOf(r), members(r).toArray, bucketSize)
    }.map { case (rangeId, dim, mid, lo, hi, id) =>
      InternalRow(rangeId,
        if (dim < 0) null else dim,
        if (dim < 0) null else mid,
        if (lo < 0) null else lo,
        if (hi < 0) null else hi,
        if (id < 0) null else id)
    }.toIndexedSeq
    // the rebuilt rows as one partition: a caller's write adds one file
    index.filter(!col("rangeId").isInCollection(touched)).unionByName(
      GraftSqlShim.localRelation(index.sparkSession, IndexBuild.indexSchema, rebuilt)
        .coalesce(1))
  }

  /** [[addPoints]] of a tree too large to collect: frontier-join routing
    * and the touched subtrees rebuilt in the cluster. */
  private def addDistributed(index: DataFrame, points: DataFrame,
                             newPts: DataFrame, bucketSize: Int): DataFrame = {
    val routed = routeDistributed(index.filter(col("id").isNull), newPts)
    // Touched destinations + the old points already sitting there.
    val touched = routed.select(col("rangeId").as("leafRangeId")).distinct()
    val oldMembers = index.filter(col("id").isNotNull)
      .join(broadcast(touched), col("rangeId") === col("leafRangeId"), "left_semi")
      .select(col("rangeId"), col("id"))
      .join(points, "id")
      .select(col("rangeId"), col("id"), col("vector"))
    val rebuilt = IndexBuild.buildLocalSubtreesAtDepth(
      oldMembers.unionByName(routed), bucketSize)
    // Untouched rows + rebuilt subtrees.
    index.join(broadcast(touched), index("rangeId") === touched("leafRangeId"), "left_anti")
      .unionByName(rebuilt)
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
    // independently — matching the driver routing exactly.
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
