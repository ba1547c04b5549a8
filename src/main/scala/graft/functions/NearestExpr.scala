package graft.functions

import org.apache.spark.sql.{Column, GraftSqlShim}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/* Native nearest-centroid kernels over CONSTANT centroid tables.
 *
 * ONE COPY OF EACH KERNEL: every loop lives once, as a static function
 * of NearestKernels (every full distance through its one d² loop).
 * `nullSafeEval` calls it, and `doGenCode` is one generated call to the
 * same function — tables ride as reference objects, the element-type
 * and sqrt flags as literals. The two paths are reached by different
 * checks: specs build rows with `Seq.toDF`, which the optimizer folds
 * through the interpreted projection (eval), while the oracle gates
 * and the benchmark run whole-stage codegen. A templated second copy
 * of a loop would be checked by neither against the other;
 * KernelParitySpec pins eval ≡ codegen for every kernel expression.
 */

/** Native nearest-centroid argmin over a CONSTANT centroid table.
  *
  * The declarative form (`array_min` over per-centroid distance structs,
  * previously built by `Similarity.ivfListId` / `ProductQuant.codeExpr`)
  * unrolls every centroid into the expression tree: O(C) generated code
  * that overflows janino's 64KB method limit past C ≈ 256 and falls back
  * to interpreted evaluation — measured in the round-8 `ivfpqbench`
  * (lists=256 write) and the d14 semDedupAuto growth probe (C=160,
  * 30.7 s at 10×). Here the table rides along as ONE reference object
  * (`ctx.addReferenceObj`) and the generated code is one kernel call:
  * O(1) code size for ANY C, fully inside whole-stage codegen.
  *
  * Semantics are IDENTICAL to the struct-argmin form so every DuckDB
  * oracle still hash-matches: distances accumulate left-to-right in
  * float64; `sqrtCompare` compares sqrt'd distances (the IVF form —
  * DuckDB's `list_distance` is euclidean, and two distinct squared
  * distances can round to the same sqrt, where the lowest id must win)
  * vs raw squared (the PQ codeword form); ties go to the EARLIEST table
  * entry, so callers pass tables sorted by id ascending — lowest id on
  * ties, exactly `array_min`'s lexicographic struct order. A row whose
  * every distance is NaN (NaN inputs) resolves to the first (lowest-id)
  * entry, matching array_min's NaN ordering. */
case class NearestIdExpr(child: Expression, ids: Array[Long],
                         cents: Array[Array[Double]], sqrtCompare: Boolean)
    extends UnaryExpression with VectorInput {
  require(ids.length == cents.length && ids.nonEmpty,
    "NearestIdExpr needs one id per centroid")

  override def dataType: DataType = LongType
  override def prettyName: String = "vec_nearest"

  override def nullSafeEval(input: Any): Any =
    NearestKernels.nearestId(input.asInstanceOf[ArrayData], elemIsFloat, ids,
      cents, sqrtCompare)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    callKernel(ctx, ev, "NearestKernels.nearestId", elemIsFloat,
      ctx.addReferenceObj("nearestIds", ids, "long[]"),
      ctx.addReferenceObj("nearestCents", cents, "double[][]"), sqrtCompare)

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** Minimum SQUARED euclidean distance to any row of a constant centroid
  * table — the k-means cost kernel (Similarity.ivfCost monitoring):
  * same O(1)-generated-code-size loop as [[NearestIdExpr]] (the
  * declarative array_min-over-structs form unrolls O(C) code and drops
  * out of whole-stage codegen past C ≈ 256 — the round-8 janino
  * finding, which applies to the cost probe exactly as it did to
  * assignment). */
case class NearestDistSqExpr(child: Expression, cents: Array[Array[Double]])
    extends UnaryExpression with VectorInput {
  require(cents.nonEmpty, "NearestDistSqExpr needs at least one centroid")

  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_nearest_distsq"

  override def nullSafeEval(input: Any): Any =
    NearestKernels.minDistSq(input.asInstanceOf[ArrayData], elemIsFloat, cents)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    callKernel(ctx, ev, "NearestKernels.minDistSq", elemIsFloat,
      ctx.addReferenceObj("nearestCostCents", cents, "double[][]"))

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** Two-level ROUTED nearest-centroid assignment for corpus-scale
  * centroid counts: route to the nearest of S "super" centroids, then
  * exact argmin over only that super's member centroids — O(S + C/S)
  * distance evaluations per row instead of O(C), with S ≈ √C. The
  * result is approximate (a vector whose true nearest centroid lives
  * under a different super gets its routed super's best member — the
  * standard hierarchical-k-means trade, cf. IVF-HNSW / two-level
  * quantizers in the Jégou line of work); it is EXACT whenever the
  * routed super's members contain the true nearest centroid, and it is
  * deterministic for fixed tables. Tie-breaks mirror NearestIdExpr:
  * earliest super / lowest member id. */
case class NearestRoutedExpr(child: Expression,
                             superCents: Array[Array[Double]],
                             memberIds: Array[Array[Long]],
                             memberCents: Array[Array[Array[Double]]],
                             sqrtCompare: Boolean)
    extends UnaryExpression with VectorInput {
  require(superCents.length == memberIds.length &&
    memberIds.length == memberCents.length && superCents.nonEmpty,
    "NearestRoutedExpr needs aligned super/member tables")
  require(memberIds.forall(_.nonEmpty), "every super needs at least one member")

  override def dataType: DataType = LongType
  override def prettyName: String = "vec_nearest_routed"

  override def nullSafeEval(input: Any): Any =
    NearestKernels.routedId(input.asInstanceOf[ArrayData], elemIsFloat,
      superCents, memberIds, memberCents, sqrtCompare)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    callKernel(ctx, ev, "NearestKernels.routedId", elemIsFloat,
      ctx.addReferenceObj("routedSupers", superCents, "double[][]"),
      ctx.addReferenceObj("routedMemberIds", memberIds, "long[][]"),
      ctx.addReferenceObj("routedMemberCents", memberCents, "double[][][]"),
      sqrtCompare)

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** The `n` nearest centroid ids (ordered nearest-first) as ARRAY<LONG>
  * — the map-only MULTI-probe assignment for corpus-scale fan-out (the
  * graph-ANN build assigns every corpus row to its nprobe nearest
  * lists; routing that through the small-query crossJoin+window shape
  * would materialize an N×C relation). Same O(1)-code-size loop
  * contract as [[NearestIdExpr]]: one reference-object table, fixed
  * generated code for any C, left-to-right float64 accumulation,
  * optional sqrt compare, ties to the earliest (lowest-id) entry via
  * strict-less insertion over the id-sorted table. */
case class NearestTopIdsExpr(child: Expression, ids: Array[Long],
                             cents: Array[Array[Double]], n: Int,
                             sqrtCompare: Boolean)
    extends UnaryExpression with VectorInput {
  require(ids.length == cents.length && ids.nonEmpty,
    "NearestTopIdsExpr needs one id per centroid")
  require(n >= 1, "need n >= 1 nearest ids")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "vec_nearest_top"

  override def nullSafeEval(input: Any): Any =
    NearestKernels.topIds(input.asInstanceOf[ArrayData], elemIsFloat, ids,
      cents, n, sqrtCompare)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    callKernel(ctx, ev, "NearestKernels.topIds", elemIsFloat,
      ctx.addReferenceObj("topIds", ids, "long[]"),
      ctx.addReferenceObj("topCents", cents, "double[][]"), n, sqrtCompare)

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** Constant-table RANGE probe: the ids of every table entry whose
  * (euclidean) distance to the input is within that entry's own
  * threshold — `sqrt(distSq(v, cents[i])) <= sqrt(thrSq[i])`, i.e.
  * `distSq <= thrSq[i]` exactly (both sides non-negative). The
  * per-entry thresholds encode cover-radius bounds (radius + R)² for
  * exact IVF range search ([[graft.operators.Dedup.semanticDecontamStore]]):
  * an admitted id list per row, emitted in table (id-ascending) order.
  *
  * Same constant-table codegen shape as [[NearestTopIdsExpr]] (one
  * reference object, O(1) generated code for any C), plus a MONOTONE
  * early exit: the squared-distance accumulator only grows, so the
  * inner loop breaks as soon as it crosses the entry's threshold —
  * the admit decision is unchanged (it only skips work for entries
  * that would be rejected anyway), which is what keeps the bound scan
  * cheap when most lists are out of range. */
case class WithinBoundIdsExpr(child: Expression, ids: Array[Long],
                              cents: Array[Array[Double]],
                              thrSq: Array[Double])
    extends UnaryExpression with VectorInput {
  require(ids.length == cents.length && ids.length == thrSq.length &&
    ids.nonEmpty, "WithinBoundIdsExpr needs aligned id/centroid/threshold tables")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "vec_within_bound"

  override def nullSafeEval(input: Any): Any =
    NearestKernels.withinBound(input.asInstanceOf[ArrayData], elemIsFloat, ids,
      cents, thrSq)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    callKernel(ctx, ev, "NearestKernels.withinBound", elemIsFloat,
      ctx.addReferenceObj("boundIds", ids, "long[]"),
      ctx.addReferenceObj("boundCents", cents, "double[][]"),
      ctx.addReferenceObj("boundThr", thrSq, "double[]"))

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** Routed top-n nearest ids — [[NearestTopIdsExpr]]'s O(√C) form for
  * corpus-scale centroid counts: rank ALL supers, take the
  * `supersProbed` nearest, exact top-n insertion over their members.
  * Same strict-< insertion as the exact kernel (first-seen wins ties);
  * member scan order is supers in rank order then stored member order,
  * so the result is deterministic. */
case class NearestTopIdsRoutedExpr(child: Expression,
                                   superCents: Array[Array[Double]],
                                   memberIds: Array[Array[Long]],
                                   memberCents: Array[Array[Array[Double]]],
                                   n: Int, supersProbed: Int,
                                   sqrtCompare: Boolean)
    extends UnaryExpression with VectorInput {
  require(superCents.length == memberIds.length &&
    memberIds.length == memberCents.length && superCents.nonEmpty,
    "NearestTopIdsRoutedExpr needs aligned super/member tables")
  require(memberIds.forall(_.nonEmpty), "every super needs at least one member")
  require(n >= 1 && supersProbed >= 1 && supersProbed <= superCents.length,
    "need n >= 1 and 1 <= supersProbed <= supers")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "vec_nearest_top_routed"

  override def nullSafeEval(input: Any): Any =
    NearestKernels.topIdsRouted(input.asInstanceOf[ArrayData], elemIsFloat,
      superCents, memberIds, memberCents, n, supersProbed, sqrtCompare)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    callKernel(ctx, ev, "NearestKernels.topIdsRouted", elemIsFloat,
      ctx.addReferenceObj("rtSupers", superCents, "double[][]"),
      ctx.addReferenceObj("rtMemberIds", memberIds, "long[][]"),
      ctx.addReferenceObj("rtMemberCents", memberCents, "double[][][]"),
      n, supersProbed, sqrtCompare)

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** The nearest-centroid kernels, each called from both its
  * expression's `nullSafeEval` and its generated code. Every distance
  * is [[d2]]: a left-to-right float64 fold, compared raw or sqrt'd. */
object NearestKernels {
  import VectorKernels.elem

  /** Σ (v_k − cv_k)² in float64 — the one d² inner loop. */
  def d2(v: ArrayData, isFloat: Boolean, cv: Array[Double]): Double = {
    if (v.numElements() != cv.length)
      throw new IllegalArgumentException(
        s"vector length mismatch: ${v.numElements()} vs ${cv.length}")
    var acc = 0.0d
    var k = 0
    while (k < cv.length) {
      val diff = elem(v, isFloat, k) - cv(k)
      acc += diff * diff
      k += 1
    }
    acc
  }

  /** Index of the nearest row of `cents`: the earliest row wins ties,
    * and a row whose every distance is NaN resolves to index 0. */
  def nearestIdx(v: ArrayData, isFloat: Boolean, cents: Array[Array[Double]],
                 sqrtCompare: Boolean): Int = {
    var best = Double.PositiveInfinity
    var bestIdx = 0
    var ci = 0
    while (ci < cents.length) {
      val acc = d2(v, isFloat, cents(ci))
      val cd = if (sqrtCompare) math.sqrt(acc) else acc
      if (cd < best) { best = cd; bestIdx = ci }
      ci += 1
    }
    bestIdx
  }

  def nearestId(v: ArrayData, isFloat: Boolean, ids: Array[Long],
                cents: Array[Array[Double]], sqrtCompare: Boolean): Long =
    ids(nearestIdx(v, isFloat, cents, sqrtCompare))

  /** Route to the nearest super by raw d², then the nearest member. */
  def routedId(v: ArrayData, isFloat: Boolean, supers: Array[Array[Double]],
               memberIds: Array[Array[Long]],
               memberCents: Array[Array[Array[Double]]],
               sqrtCompare: Boolean): Long = {
    val s = nearestIdx(v, isFloat, supers, sqrtCompare = false)
    nearestId(v, isFloat, memberIds(s), memberCents(s), sqrtCompare)
  }

  /** Min raw d² over `cents` (+∞ when every distance is NaN). */
  def minDistSq(v: ArrayData, isFloat: Boolean,
                cents: Array[Array[Double]]): Double = {
    var best = Double.PositiveInfinity
    var ci = 0
    while (ci < cents.length) {
      val acc = d2(v, isFloat, cents(ci))
      if (acc < best) best = acc
      ci += 1
    }
    best
  }

  /** The min(n, C) nearest ids, nearest first, by strict-< insertion. */
  def topIds(v: ArrayData, isFloat: Boolean, ids: Array[Long],
             cents: Array[Array[Double]], n: Int,
             sqrtCompare: Boolean): ArrayData = {
    val m = math.min(n, cents.length)
    val bd = Array.fill(m)(Double.PositiveInfinity)
    val bi = new Array[Long](m)
    var ci = 0
    while (ci < cents.length) {
      val acc = d2(v, isFloat, cents(ci))
      val cd = if (sqrtCompare) math.sqrt(acc) else acc
      if (cd < bd(m - 1)) {
        var j = m - 1
        while (j > 0 && cd < bd(j - 1)) { bd(j) = bd(j - 1); bi(j) = bi(j - 1); j -= 1 }
        bd(j) = cd; bi(j) = ids(ci)
      }
      ci += 1
    }
    UnsafeArrayData.fromPrimitiveArray(bi)
  }

  /** Ids of the entries with d² ≤ their own threshold, in table order.
    * The fold stops once it crosses the threshold: it only grows, so the
    * admit decision is the full fold's. */
  def withinBound(v: ArrayData, isFloat: Boolean, ids: Array[Long],
                  cents: Array[Array[Double]], thrSq: Array[Double]): ArrayData = {
    val out = new Array[Long](ids.length)
    var n = 0
    var ci = 0
    while (ci < cents.length) {
      val cv = cents(ci)
      if (v.numElements() != cv.length)
        throw new IllegalArgumentException(
          s"vector length mismatch: ${v.numElements()} vs ${cv.length}")
      val thr = thrSq(ci)
      var acc = 0.0d
      var k = 0
      while (k < cv.length && acc <= thr) {
        val diff = elem(v, isFloat, k) - cv(k)
        acc += diff * diff
        k += 1
      }
      if (acc <= thr) { out(n) = ids(ci); n += 1 }
      ci += 1
    }
    UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOf(out, n))
  }

  /** The routed top-n: rank the supers by raw d², then exact top-n over
    * the members of the `supersProbed` nearest. */
  def topIdsRouted(v: ArrayData, isFloat: Boolean,
                   supers: Array[Array[Double]],
                   memberIds: Array[Array[Long]],
                   memberCents: Array[Array[Array[Double]]],
                   n: Int, supersProbed: Int,
                   sqrtCompare: Boolean): ArrayData = {
    // rank the supers: top-supersProbed by raw d2, strict-< insertion
    val sp = supersProbed
    val sd = Array.fill(sp)(Double.PositiveInfinity)
    val sidx = new Array[Int](sp)
    var si = 0
    while (si < supers.length) {
      val dd = d2(v, isFloat, supers(si))
      if (dd < sd(sp - 1)) {
        var j = sp - 1
        while (j > 0 && dd < sd(j - 1)) { sd(j) = sd(j - 1); sidx(j) = sidx(j - 1); j -= 1 }
        sd(j) = dd; sidx(j) = si
      }
      si += 1
    }
    // exact top-n over the probed supers' members
    var total = 0
    var p = 0
    while (p < sp) { if (sd(p) < Double.PositiveInfinity) total += memberIds(sidx(p)).length; p += 1 }
    val m = math.min(n, total)
    val bd = Array.fill(m)(Double.PositiveInfinity)
    val bi = new Array[Long](m)
    p = 0
    while (p < sp) {
      if (sd(p) < Double.PositiveInfinity) {
        val mids = memberIds(sidx(p))
        val mcents = memberCents(sidx(p))
        var ci = 0
        while (ci < mcents.length) {
          val acc = d2(v, isFloat, mcents(ci))
          val cd = if (sqrtCompare) math.sqrt(acc) else acc
          if (cd < bd(m - 1)) {
            // DEDUP BY ID (ADVICE r15): routedTables' empty-super
            // fallback can hand the same (id, vec) to two probed supers
            // (a stride pick routed to an equal-distance earlier super);
            // a second insertion would displace a genuine distinct id.
            // The twin carries the identical vector, hence the identical
            // cd, so it can only sit among slots with bd == cd — scan
            // the occupied ascending prefix up to cd and skip on a hit.
            var dup = false
            var q = 0
            while (!dup && q < m && bd(q) <= cd) {
              if (bi(q) == mids(ci) && bd(q) == cd) dup = true
              q += 1
            }
            if (!dup) {
              var j = m - 1
              while (j > 0 && cd < bd(j - 1)) { bd(j) = bd(j - 1); bi(j) = bi(j - 1); j -= 1 }
              bd(j) = cd; bi(j) = mids(ci)
            }
          }
          ci += 1
        }
      }
      p += 1
    }
    // skipped twins can leave trailing unfilled slots (total counted the
    // fallback copy); trim so no +inf/id-0 garbage row is ever emitted
    var filled = m
    while (filled > 0 && bd(filled - 1) == Double.PositiveInfinity) filled -= 1
    UnsafeArrayData.fromPrimitiveArray(
      if (filled == m) bi else java.util.Arrays.copyOf(bi, filled))
  }
}

object NearestExpr {
  import GraftSqlShim.{toColumn, toExpression}

  /** Nearest-id column over a constant (id, centroid) table; the table
    * is sorted by id here so ties resolve to the lowest id. */
  def nearestId(vec: Column, table: Array[(Long, Array[Double])],
                sqrtCompare: Boolean): Column = {
    val sorted = table.sortBy(_._1)
    toColumn(NearestIdExpr(toExpression(vec), sorted.map(_._1),
      sorted.map(_._2), sqrtCompare))
  }

  /** Admitted-id array over a constant (id, centroid, radius) table:
    * entries with dist(vec, centroid) <= radius + bigR, emitted
    * id-ascending. Exact range-probe pruning for cover-radius stores. */
  def withinBoundIds(vec: Column, table: Array[(Long, Array[Double], Double)],
                     bigR: Double): Column = {
    val sorted = table.sortBy(_._1)
    toColumn(WithinBoundIdsExpr(toExpression(vec), sorted.map(_._1),
      sorted.map(_._2),
      sorted.map { case (_, _, r) => val t = r + bigR; t * t }))
  }

  /** Min squared distance to any centroid (the k-means cost term). */
  def nearestDistSq(vec: Column, cents: Array[Array[Double]]): Column =
    toColumn(NearestDistSqExpr(toExpression(vec), cents))

  /** The n nearest ids (nearest-first) over a constant (id, centroid)
    * table — map-only multi-probe assignment. */
  def nearestTopIds(vec: Column, table: Array[(Long, Array[Double])],
                    n: Int, sqrtCompare: Boolean): Column = {
    val sorted = table.sortBy(_._1)
    toColumn(NearestTopIdsExpr(toExpression(vec), sorted.map(_._1),
      sorted.map(_._2), n, sqrtCompare))
  }

  /** Routed nearest-id column: supers are a stride sample of the
    * id-sorted table (deterministic), members are each table row routed
    * to its nearest super. `fanout` 0 picks S = ceil(√C). Building the
    * routed tables is O(C·S·dim) serial driver work PER CENTROID SET
    * (each Lloyd round trains new centroids, so per-round rebuilds are
    * inherent); at C beyond ~10⁴–10⁵ pass `routePrep` — a function
    * computing the member routing with a Spark job instead
    * ([[graft.operators.Similarity.routeCentroids]]) — identical
    * results, cluster-parallel prep. */
  def nearestIdRouted(vec: Column, table: Array[(Long, Array[Double])],
                      sqrtCompare: Boolean, fanout: Int = 0,
                      routePrep: Option[(Array[(Long, Array[Double])],
                        Array[Array[Double]]) => Array[Int]] = None): Column = {
    val (supers, mids, mcents) = routedTables(table, fanout, routePrep)
    toColumn(NearestRoutedExpr(toExpression(vec), supers, mids, mcents,
      sqrtCompare))
  }

  /** Shared two-level table construction for the routed kernels:
    * supers are a stride sample of the id-sorted table (deterministic),
    * members are each table row routed to its nearest super. */
  private def routedTables(table: Array[(Long, Array[Double])], fanout: Int,
                           routePrep: Option[(Array[(Long, Array[Double])],
                             Array[Array[Double]]) => Array[Int]])
      : (Array[Array[Double]], Array[Array[Long]], Array[Array[Array[Double]]]) = {
    val sorted = table.sortBy(_._1)
    val c = sorted.length
    val s = if (fanout > 0) math.min(fanout, c)
            else math.max(1, math.ceil(math.sqrt(c.toDouble)).toInt)
    val step = math.max(1, math.ceil(c.toDouble / s).toInt)
    val supers = sorted.indices.by(step).map(sorted(_)._2).toArray
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0d; var i = 0
      while (i < a.length) { val d = a(i) - b(i); acc += d * d; i += 1 }
      acc
    }
    // super index per table row: serial driver loop by default, or the
    // caller-supplied (Spark-job) routing — same contract: nearest super
    // by raw d2, ties to the earliest super
    val superOf: Array[Int] = routePrep match {
      case Some(prep) => prep(sorted, supers)
      case None => sorted.map { case (_, cv) =>
        var bestIdx = 0; var best = Double.PositiveInfinity; var si = 0
        while (si < supers.length) {
          val dd = d2(cv, supers(si))
          if (dd < best) { best = dd; bestIdx = si }
          si += 1
        }
        bestIdx
      }
    }
    val routed = Array.fill(supers.length)(
      scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Double])])
    sorted.zip(superOf).foreach { case (entry, si) => routed(si) += entry }
    // a super whose list went empty (possible when the stride sample is
    // skewed) gets its own sample vector as the sole member — the id of
    // that sample row, found by reference equality on the stride pick
    val filled = routed.zipWithIndex.map { case (buf, si) =>
      if (buf.nonEmpty) buf.toArray
      else Array(sorted(math.min(si * step, c - 1)))
    }
    (supers, filled.map(_.map(_._1)), filled.map(_.map(_._2)))
  }

  /** Routed top-n ids — [[nearestTopIds]]'s O(√C) twin: rank the
    * supers, then exact top-n over the members of the `supersProbed`
    * nearest supers (2 by default — the multi-probe boundary
    * mitigation: n = nprobe lists usually straddle at most two super
    * cells). Approximate at super boundaries like every routed kernel;
    * deterministic (supers scanned in rank order, members in stored
    * ascending-id order, strict-< insertion keeps the earliest). */
  def nearestTopIdsRouted(vec: Column, table: Array[(Long, Array[Double])],
                          n: Int, sqrtCompare: Boolean, fanout: Int = 0,
                          supersProbed: Int = 2,
                          routePrep: Option[(Array[(Long, Array[Double])],
                            Array[Array[Double]]) => Array[Int]] = None): Column = {
    val (supers, mids, mcents) = routedTables(table, fanout, routePrep)
    toColumn(NearestTopIdsRoutedExpr(toExpression(vec), supers, mids, mcents,
      n, math.min(supersProbed, supers.length), sqrtCompare))
  }
}
