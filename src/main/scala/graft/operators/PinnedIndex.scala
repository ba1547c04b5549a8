package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._
import scala.collection.immutable.ArraySeq
import scala.collection.mutable

/** A pinned, immutable, serializable form of the space-partitioning index
  * — the engine's analog of the reference's always-in-memory
  * MemoryVectorIndex (MemoryVectorIndex.cs): collect the (~2N tiny rows)
  * tree ONCE, then answer any number of vicinity queries without
  * touching the cluster, or broadcast it and batch-search a whole
  * queries relation in one distributed pass (index-accelerated
  * similarity join — no per-level frontier jobs, no per-query collect).
  */
final case class PinnedNode(dim: Int, mid: Float, low: Long, high: Long)

final class PinnedIndex private (
    val internal: mutable.LongMap[PinnedNode],
    val leaves: mutable.LongMap[Array[Long]]) extends Serializable {

  /** Box-candidate ids for one query (driver- or executor-local walk). */
  def candidates(q: Seq[Double], domain: Double): Seq[Long] =
    walk(q, domain, l2 = false).get.ids

  /** Candidate ids for an L2 ball query via the reference's
    * squared-distance-budget pruning (MemoryVectorIndex.cs:259-344):
    * budget = r² − Σ_d offs(d)² tightens per split on the non-query side
    * and prunes at < 0 — a strictly tighter candidate superset than the
    * box test for ball queries (exactness comes from the caller's
    * re-check, same contract as `candidates`). */
  def candidatesL2(q: Seq[Double], radius: Double): Seq[Long] =
    walk(q, radius, l2 = true).get.ids

  /** `candidatesL2` with an output cap: None once the candidate set
    * exceeds `cap` (the caller would reject an InSet that big anyway —
    * no point walking out the rest of the tree). */
  def candidatesL2Bounded(q: Seq[Double], radius: Double, cap: Int): Option[Seq[Long]] =
    walk(q, radius, l2 = true, cap).map(_.ids)

  /** The tree's one vicinity descent (DDL.sql:234-295), from rangeId 0.
    * Box mode follows the low child when `mid >= q[dim] - domain` and the
    * high child when `mid <= q[dim] + domain` (both under an id split,
    * dim < 0). L2 mode prunes by the squared-distance budget instead:
    * budget = r² − Σ_d offs(d)², where offs(d) is the known minimum
    * |q(d) − p(d)| for any point p in the current subtree (the low
    * child's region is v ≤ mid, the high child's v ≥ mid — F10 tie split
    * keeps mid on both sides, so the bound max(±(q−mid), 0) is valid);
    * tighten on descent, restore on backtrack, prune at < 0. Returns the
    * leaf ids reached and the number of nodes visited (the reference's
    * probe count, MemoryVectorIndexTests.cs:165-196), or None once more
    * than `cap` ids were emitted. */
  private[graft] def walk(q: Seq[Double], domain: Double, l2: Boolean,
                          cap: Int = Int.MaxValue): Option[PinnedIndex.Walk] = {
    val qa = q.toArray
    val out = mutable.ArrayBuffer.empty[Long]
    var visited = 0L
    object Aborted extends scala.util.control.ControlThrowable
    val offs = new Array[Double](qa.length)
    def visit(rid: Long, budget: Double): Unit = {
      val leaf = leaves.get(rid)
      val node = internal.get(rid)
      if (leaf.isDefined || node.isDefined) visited += 1
      leaf.foreach { ids =>
        out ++= ids
        if (out.size > cap) throw Aborted
      }
      node.foreach { n =>
        if (n.dim < 0) {
          if (n.low >= 0) visit(n.low, budget)
          if (n.high >= 0) visit(n.high, budget)
        } else {
          val c = qa(n.dim)
          val m = n.mid.toDouble
          val old = offs(n.dim)
          def descend(child: Long, gap: Double, inBox: Boolean): Unit =
            if (child >= 0) {
              if (!l2) { if (inBox) visit(child, budget) }
              else {
                val nb = math.max(math.max(gap, 0d), old)
                val b = budget + old * old - nb * nb
                if (b >= 0) { offs(n.dim) = nb; visit(child, b); offs(n.dim) = old }
              }
            }
          descend(n.low, c - m, m >= c - domain)
          descend(n.high, m - c, m <= c + domain)
        }
      }
    }
    // 1e-9 relative inflation of r²: r² rounds below the exact squared
    // sum for a point at EXACTLY distance r, and the budget's
    // add/subtract chain drifts by ~d·ulp — either could prune a boundary
    // match the exact re-check can't recover. The inflation dominates
    // both; the few extra candidates are removed by the re-check.
    try {
      visit(0L, domain * domain * 1.000000001d)
      Some(PinnedIndex.Walk(out.toSeq, visited))
    } catch { case Aborted => None }
  }

  def nodeCount: Int = internal.size + leaves.size

  /** Total leaf point ids held by the tree. */
  lazy val leafIdCount: Long =
    leaves.iterator.map(_._2.length.toLong).sum

  /** Exact k-nearest-neighbours via branch-and-bound: depth-first,
    * nearer child first, pruning subtrees whose squared lower bound
    * (Σ per-dim offs² — the same budget math as candidatesL2) exceeds
    * the current k-th best distance. `vecOf` supplies point vectors
    * (see PinnedIndex.pinWithVectors). Ties at the k-th boundary break
    * toward the smaller id. Returns (id, distance) sorted by
    * (distance, id). */
  def knn(q: Seq[Double], k: Int, vecOf: Long => Array[Float]): Seq[(Long, Double)] =
    knnBounded(q, k, vecOf, Int.MaxValue).get

  /** `knn` with a work budget: gives up (None) once more than
    * `maxOffers` leaf vectors have been offered to the heap — the
    * caller's signal that branch-and-bound pruning is ineffective here
    * (high-d distance concentration) and an exact answer would cost a
    * near-full walk. A Some result is always the exact top-k. Lets the
    * optimizer rule probe "is this query cheap to answer from the pin?"
    * in bounded time instead of stalling the driver. */
  def knnBounded(q: Seq[Double], k: Int, vecOf: Long => Array[Float],
                 maxOffers: Int): Option[Seq[(Long, Double)]] = {
    if (k <= 0) return Some(Nil)
    var offers = 0
    // max-heap of the current best k (d2, id): head = worst kept, i.e.
    // the largest distance and, among ties, the largest id (the one a
    // smaller-id tie should evict — matching the brute (dist, id) order)
    val heap = mutable.PriorityQueue.empty[(Double, Long)](
      Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Long))
    def kth: Double = if (heap.size < k) Double.PositiveInfinity else heap.head._1
    object Aborted extends scala.util.control.ControlThrowable
    def offer(id: Long): Unit = {
      offers += 1
      if (offers > maxOffers) throw Aborted
      val v = vecOf(id)
      var d2 = 0d
      var i = 0
      while (i < v.length) {
        val d = v(i).toDouble - q(i); d2 += d * d; i += 1
      }
      if (heap.size < k) heap.enqueue((d2, id))
      else if (d2 < heap.head._1 ||
        (d2 == heap.head._1 && id < heap.head._2)) {
        heap.dequeue(); heap.enqueue((d2, id))
      }
    }
    val offs = new Array[Double](q.length)
    // Prune with a 1e-9 relative slack: the bound's add/subtract chain
    // drifts by ~d·ulp vs the left-to-right fold `offer` uses, so an
    // exact-boundary subtree could otherwise be cut. Slack only ADMITS
    // subtrees — the heap's exact distances keep the result exact.
    def kthSlack: Double = kth * 1.000000001d
    def visit(rid: Long, bound: Double): Unit = {
      if (bound > kthSlack) return
      leaves.get(rid).foreach(_.foreach(offer))
      internal.get(rid).foreach { n =>
        if (n.dim < 0) {
          if (n.low >= 0) visit(n.low, bound)
          if (n.high >= 0) visit(n.high, bound)
        } else {
          val c = q(n.dim)
          val m = n.mid.toDouble
          val old = offs(n.dim)
          val nbLow = math.max(math.max(c - m, 0d), old)
          val nbHigh = math.max(math.max(m - c, 0d), old)
          val bLow = bound - old * old + nbLow * nbLow
          val bHigh = bound - old * old + nbHigh * nbHigh
          val order =
            if (c <= m) Seq((n.low, bLow, nbLow), (n.high, bHigh, nbHigh))
            else Seq((n.high, bHigh, nbHigh), (n.low, bLow, nbLow))
          order.foreach { case (child, b, nb) =>
            if (child >= 0 && b <= kthSlack) {
              offs(n.dim) = nb; visit(child, b); offs(n.dim) = old
            }
          }
        }
      }
    }
    try {
      visit(0L, 0d)
      Some(heap.toSeq
        .map { case (d2, id) => (id, math.sqrt(d2)) }
        .sortBy { case (id, d) => (d, id) })
    } catch { case Aborted => None }
  }
}

object PinnedIndex {

  /** The index node columns a tree is pinned from, in [[fromRows]]'
    * order. */
  private[graft] val NodeCols: Seq[String] =
    Seq("rangeId", "dimension", "mid", "lowRangeId", "highRangeId", "id")

  /** One [[PinnedIndex.walk]]: the leaf ids reached and the nodes visited. */
  private[graft] final case class Walk(ids: Seq[Long], visited: Long)

  /** Collect an index relation into its pinned form. */
  def pin(index: DataFrame): PinnedIndex =
    fromRows(index.select(NodeCols.map(col): _*).collect())

  /** Build the tree from collected node rows whose first six columns are
    * [[NodeCols]] (later columns, e.g. a grouping `docId`, are ignored). */
  private[graft] def fromRows(rows: Iterable[Row]): PinnedIndex = {
    val internal = mutable.LongMap.empty[PinnedNode]
    val leaves = mutable.LongMap.empty[Array[Long]]
    val buf = mutable.LongMap.empty[mutable.ArrayBuffer[Long]]
    rows.foreach { r =>
      val rid = r.getLong(0)
      if (!r.isNullAt(5))
        buf.getOrElseUpdate(rid, mutable.ArrayBuffer.empty) += r.getLong(5)
      if (!r.isNullAt(3))
        internal.update(rid, PinnedNode(
          if (r.isNullAt(1)) -1 else r.getInt(1),
          if (r.isNullAt(2)) 0f else r.getFloat(2),
          r.getLong(3),
          if (r.isNullAt(4)) -1L else r.getLong(4)))
    }
    buf.foreach { case (k, v) => leaves.update(k, v.toArray) }
    new PinnedIndex(internal, leaves)
  }

  /** Pin the tree AND the point vectors (serving-mode kNN needs both;
    * ~(2N tiny rows + N·d floats) — the same footprint the reference's
    * always-in-memory index carries).
    *
    * PIN BUDGET: the vector map is the dominant term — N·d·4 bytes plus
    * boxing overhead (10M × 96 floats ≈ 4 GB on the pinning JVM); the
    * tree itself is ~48 bytes/node (10M points ≈ 1 GB). This is the
    * documented serving-mode bound, same as the reference's in-memory
    * index. Beyond it, DON'T pin vectors: `knnDistributed` keeps the
    * vectors in the cluster and pins only the tree; beyond even the
    * tree budget, use IndexSearch's frontier descent (never collects
    * anything). */
  def pinWithVectors(index: DataFrame, points: DataFrame, idCol: String,
                     vecCol: String): (PinnedIndex, mutable.LongMap[Array[Float]]) =
    (pin(index), pinVectors(points, idCol, vecCol)._1)

  /** The point vectors by id, from one collect of `points`, and whether
    * that collect saw a null vector. Null vectors are unindexable and
    * left out (they'd NPE the pin); a caller that must keep their
    * null-distance ordering reads the flag
    * (VectorIndexCatalog.registerServing). */
  private[graft] def pinVectors(points: DataFrame, idCol: String, vecCol: String)
      : (mutable.LongMap[Array[Float]], Boolean) = {
    val vecs = mutable.LongMap.empty[Array[Float]]
    var sawNull = false
    points.select(col(idCol).cast("long"), col(vecCol).cast("array<float>"))
      .collect()
      .foreach { r =>
        if (r.isNullAt(1)) sawNull = true
        else if (!r.isNullAt(0)) vecs.update(r.getLong(0), r.getSeq[Float](1).toArray)
      }
    (vecs, sawNull)
  }

  /** Exact kNN with the tree pinned but the VECTORS left distributed —
    * the beyond-pin-budget serving route (see pinWithVectors' budget
    * note). Candidates come from a `candidatesL2` ball probe; the
    * distance ranking runs as a distributed top-k (codegen distance +
    * TakeOrdered) over the candidate semi-join — the vectors never
    * leave the cluster. The ball doubles until the k-th candidate
    * distance lies inside the probed radius (then every true neighbour
    * was necessarily a candidate) or the ball has swallowed the whole
    * tree, so the result equals BruteForce.knn exactly, ties on
    * (dist, id). */
  def knnDistributed(pinned: PinnedIndex, points: DataFrame, idCol: String,
                     vecCol: String, q: Seq[Double], k: Int,
                     initRadius: Double = 1.0): Seq[(Long, Double)] = {
    if (k <= 0) return Nil
    // a non-positive (or NaN) start radius would never grow under r *= 2
    // — the loop below would spin forever on the driver
    require(initRadius > 0d, s"initRadius must be positive, got $initRadius")
    val spark = points.sparkSession
    import spark.implicits._
    var r = initRadius
    var result: Seq[(Long, Double)] = Nil
    var done = false
    while (!done) {
      val cands = pinned.candidatesL2(q, r)
      val exhausted = cands.size >= pinned.leafIdCount
      var bumped = false
      if (cands.size >= k || exhausted) {
        // a point id in two leaves is one candidate: each row ranks once
        val candDf = cands.distinct.toDF(idCol)
        val top = points
          .join(broadcast(candDf), idCol)
          .select(col(idCol).cast("long"),
            dist(col(vecCol), doubleVec(q)).as("dist"))
          .orderBy(col("dist"), col(idCol))
          .limit(k)
          .as[(Long, Double)].collect().toSeq
        if (exhausted || (top.size >= k && top.last._2 <= r)) {
          result = top
          done = true
        } else if (top.size >= k) {
          // The candidate set is a subset of all points, so this top-k's
          // k-th distance upper-bounds the true one: probing at exactly
          // that radius provably captures every true neighbour, and the
          // next pass's check (top.last._2 <= r) must succeed — one extra
          // pass instead of O(log(range)) doublings from a tiny initRadius.
          // The bump REPLACES the doubling (bumped flag): the next probe
          // runs at exactly the bound, not twice it.
          r = math.max(r, top.last._2)
          bumped = true
        }
      }
      if (!done && !bumped) r *= 2
    }
    result
  }

  /** L2-budget candidates for every row of `queries` (qidCol, qvecCol):
    * the tree is broadcast and each task walks its query rows against it
    * (one distributed map — no frontier loop). The query vector is walked
    * as doubles, exactly as the re-check reads it. Returns (qid, id),
    * each pair once even when the id sits in several leaves. */
  private[graft] def candidatePairs(pinned: PinnedIndex, queries: DataFrame,
                                    qidCol: String, qvecCol: String,
                                    radius: Double): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val pinB = spark.sparkContext.broadcast(pinned)
    queries
      .select(col(qidCol).cast("long"), col(qvecCol).cast("array<double>"))
      .as[(Long, Array[Double])]
      .flatMap { case (qid, qv) =>
        pinB.value.candidatesL2(ArraySeq.unsafeWrapArray(qv), radius)
          .distinct.map(id => (qid, id))
      }
      .toDF("qid", "id")
  }

  /** Index-accelerated similarity (range) join: for every row of
    * `queries` (queryIdCol, queryVecCol), all points within `radius`:
    * [[candidatePairs]], re-checked with the exact predicate after
    * joining the points back. Equals BruteForce.distanceJoin by
    * construction. */
  def searchJoin(pinned: PinnedIndex, points: DataFrame, idCol: String,
                 vecCol: String, queries: DataFrame, queryIdCol: String,
                 queryVecCol: String, radius: Double): DataFrame =
    candidatePairs(pinned, queries, queryIdCol, queryVecCol, radius)
      .toDF(queryIdCol, idCol)
      .join(points.select(col(idCol), col(vecCol)), idCol)
      .join(broadcast(queries.select(col(queryIdCol), col(queryVecCol))), queryIdCol)
      .filter(dist(col(vecCol), col(queryVecCol)) <= radius)
      .select(col(queryIdCol), col(idCol))
}
