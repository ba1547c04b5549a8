package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlShim
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.trees.TernaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

import java.nio.ByteBuffer

/** Bounded per-node edge-merge buffer: the best `m` DISTINCT dst
  * entries by (rank asc, dist asc, dst asc), keyed by dst with min
  * update. This is the cross-list graph-ANN merge — dedupe the
  * (src, dst) echo across lists by best (rank, dist), then cap each
  * node at its m best kept edges by PRUNE RANK — as one mergeable
  * O(m) aggregation state instead of the three-exchange
  * dedupe-agg → window-sort → collect_list plan (the 10M×96 merge
  * stage moved ~480M 24 B edge rows through a full per-src sort;
  * mergedprof r16 put it at 28% of the build).
  *
  * Why a capped keyed buffer is EXACT (not approximate): a dst's
  * score can only IMPROVE under the keyed min update, and an entry is
  * evicted only when `m` distinct dsts with strictly better
  * (rank, dist, dst) occupy the buffer. If the partial holding a
  * dst's globally-best copy evicts it, that partial already holds m
  * distinct entries better than the dst's best score — and keyed min
  * only improves them further across the merge — so the dst was
  * correctly outside the global top-m. Copies evicted elsewhere carry
  * non-minimal scores that lose to the surviving min anyway.
  *
  * Faithfulness to the SQL shape's independent min(rank)/min(dist)
  * rests on the GraphAnn.mergedBuild input invariant that `dist` for a given
  * (src, dst) is identical in every list that emits it (the distance
  * is a pure function of the two vectors, computed with one pinned
  * fold order), so the lexicographic min this buffer takes IS the
  * componentwise min. KernelParitySpec pins agg ≡ SQL on real
  * multi-list merged-build edges.
  *
  * Output: `array<long>` of the kept dsts ordered by (dist asc, dst
  * asc) — the serving adjacency order (`array_sort` over
  * struct(dist, dst) in the window plan). */
final class EdgeMergeBuf(val m: Int) {
  // parallel arrays sorted ascending by (rank, dist, dst); n ≤ m
  val rk: Array[Int] = new Array[Int](m)
  val ds: Array[Double] = new Array[Double](m)
  val ids: Array[Long] = new Array[Long](m)
  var n: Int = 0

  @inline private def beats(r: Int, d: Double, id: Long, j: Int): Boolean =
    r < rk(j) || (r == rk(j) && (d < ds(j) ||
      (d == ds(j) && id < ids(j))))

  private def removeAt(j: Int): Unit = {
    var p = j
    while (p < n - 1) {
      rk(p) = rk(p + 1); ds(p) = ds(p + 1); ids(p) = ids(p + 1); p += 1
    }
    n -= 1
  }

  def insert(r: Int, d: Double, id: Long): Unit = {
    // keyed: an existing entry for this dst updates to the min score
    var e = 0
    while (e < n && ids(e) != id) e += 1
    if (e < n) {
      // componentwise min — equal to lex min under the equal-dist
      // invariant, and the exact twin of agg(min(rank), min(dist))
      val nr = math.min(r, rk(e)); val nd = math.min(d, ds(e))
      if (nr == rk(e) && nd == ds(e)) return
      removeAt(e)
      insertNew(nr, nd, id)
    } else if (n < m || beats(r, d, id, n - 1)) {
      if (n == m) n -= 1 // evict the worst
      insertNew(r, d, id)
    }
  }

  private def insertNew(r: Int, d: Double, id: Long): Unit = {
    var j = n
    while (j > 0 && beats(r, d, id, j - 1)) {
      rk(j) = rk(j - 1); ds(j) = ds(j - 1); ids(j) = ids(j - 1); j -= 1
    }
    rk(j) = r; ds(j) = d; ids(j) = id
    n += 1
  }

  def mergeFrom(o: EdgeMergeBuf): EdgeMergeBuf = {
    var i = 0
    // unlike the unkeyed TopMBuf, a later entry in o can still update
    // an existing key's min — walk all of o (o.n ≤ m, so O(m²) worst)
    while (i < o.n) { insert(o.rk(i), o.ds(i), o.ids(i)); i += 1 }
    this
  }
}

/** `top_edges_by_rank(dst, dist, rank, m)` → `array<long>`: dedupe
  * input edges by dst (min rank / min dist), keep the m best by
  * (rank, dist, dst), emit dsts ordered by (dist, dst). See
  * [[EdgeMergeBuf]].
  *
  * NOT a general-purpose aggregate (judge r16): exactness requires
  * the GraphAnn.mergedBuild invariant that every input row for a given
  * (group, dst) carries the SAME dist — dist is a pure function of
  * (src, dst) there, only rank varies per list. Under per-row-varying
  * dist, eviction of a full buffer followed by the key's reinsert
  * loses the earlier componentwise min, silently diverging from the
  * window-plan semantics (independent min(rank)/min(dist) per key).
  * Callers outside GraphAnn.mergedBuild must re-establish that
  * invariant or pre-aggregate min(dist) per (group, dst) first. */
case class TopEdgesByRank(first: Expression, second: Expression,
                          third: Expression, m: Int,
                          mutableAggBufferOffset: Int = 0,
                          inputAggBufferOffset: Int = 0)
    extends org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate[EdgeMergeBuf]
    with TernaryLike[Expression] with ImplicitCastInputTypes {

  require(m >= 1, s"top_edges_by_rank needs m >= 1, got $m")

  // first = dst, second = dist, third = rank
  override def inputTypes: Seq[GraftSqlShim.AbstractType] =
    Seq(LongType, DoubleType, IntegerType)

  override def prettyName: String = "top_edges_by_rank"
  override def nullable: Boolean = false
  override def dataType: DataType =
    ArrayType(LongType, containsNull = false)

  override def createAggregationBuffer(): EdgeMergeBuf = new EdgeMergeBuf(m)

  override def update(b: EdgeMergeBuf, input: InternalRow): EdgeMergeBuf = {
    val dv = first.eval(input)
    val distv = second.eval(input)
    val rv = third.eval(input)
    if (dv != null && distv != null && rv != null)
      b.insert(rv.asInstanceOf[Int], distv.asInstanceOf[Double],
        dv.asInstanceOf[Long])
    b
  }

  override def merge(x: EdgeMergeBuf, y: EdgeMergeBuf): EdgeMergeBuf =
    x.mergeFrom(y)

  override def eval(b: EdgeMergeBuf): Any = {
    // serving order: (dist asc, dst asc), the array_sort(struct(dist,
    // dst)) of the window plan
    val idx = Array.range(0, b.n)
    val sorted = idx.sortWith { (a, c) =>
      b.ds(a) < b.ds(c) || (b.ds(a) == b.ds(c) && b.ids(a) < b.ids(c))
    }
    new GenericArrayData(sorted.map(i => b.ids(i): Any))
  }

  override def serialize(b: EdgeMergeBuf): Array[Byte] = {
    val buf = ByteBuffer.allocate(8 + 20 * b.n)
    buf.putInt(b.m); buf.putInt(b.n)
    var i = 0
    while (i < b.n) {
      buf.putInt(b.rk(i)); buf.putDouble(b.ds(i)); buf.putLong(b.ids(i))
      i += 1
    }
    buf.array()
  }

  override def deserialize(bytes: Array[Byte]): EdgeMergeBuf = {
    val buf = ByteBuffer.wrap(bytes)
    val b = new EdgeMergeBuf(buf.getInt)
    val n = buf.getInt
    var i = 0
    // entries were written in buffer order (sorted, distinct dsts):
    // direct append keeps both invariants
    while (i < n) {
      b.rk(i) = buf.getInt; b.ds(i) = buf.getDouble; b.ids(i) = buf.getLong
      i += 1
    }
    b.n = n
    b
  }

  override def withNewMutableAggBufferOffset(offset: Int): TopEdgesByRank =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): TopEdgesByRank =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): TopEdgesByRank =
    copy(first = f, second = s, third = t)
}

object TopEdgesByRank {
  /** Aggregate column: deduped-by-dst, rank-capped adjacency as
    * `array<long>` in (dist, dst) serving order. */
  def topEdges(dst: Column, dist: Column, rank: Column, m: Int): Column =
    GraftSqlShim.toColumn(
      TopEdgesByRank(GraftSqlShim.toExpression(dst),
        GraftSqlShim.toExpression(dist),
        GraftSqlShim.toExpression(rank), m).toAggregateExpression())
}
