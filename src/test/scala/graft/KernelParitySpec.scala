package graft

import org.apache.spark.sql.functions._

import graft.functions.VectorExpressions

/** Pins every native kernel to the EXACT value of the composed
  * expression form it replaced — the property the oracle gates rely on
  * (the kernels must be drop-in bit-identical, not approximately so).
  * Corpora: random token arrays with duplicates/empties plus the real
  * documents table. */
class KernelParitySpec extends SparkSpec {
  import spark.implicits._

  private def randomDocs(n: Int, seed: Int) = {
    val rnd = new scala.util.Random(seed)
    val words = Seq("a", "bb", "ccc", "dd", "e", "ffff", "g", "hi")
    (0 until n).map { i =>
      val len = rnd.nextInt(12) // includes 0 and < k cases
      (i.toLong, Seq.fill(len)(words(rnd.nextInt(words.length))))
    }.toDF("id", "toks")
  }

  test("shingles kernel == transform/slice/concat_ws composition") {
    val docs = randomDocs(300, 1)
    val composed = transform(
      sequence(lit(0), greatest(size(col("toks")) - 3, lit(0))),
      i => concat_ws(" ", slice(col("toks"), i + 1, lit(3))))
    val diff = docs.select(col("id"),
        VectorExpressions.shingleArray(col("toks"), 3).as("k"),
        composed.as("c"))
      .filter(not(col("k") === col("c"))).count()
    assert(diff == 0)
  }

  test("md5PrefixLongs kernel == conv(substring(md5)) composition") {
    val docs = randomDocs(300, 2)
    val composed = transform(col("toks"),
      g => conv(substring(md5(g), 1, 15), 16, 10).cast("long"))
    val diff = docs.select(
        VectorExpressions.md5PrefixLongs(col("toks")).as("k"),
        composed.as("c"))
      .filter(not(col("k") === col("c"))).count()
    assert(diff == 0)
  }

  test("slidingMin kernel == transform/array_min/slice composition") {
    val rnd = new scala.util.Random(3)
    val rows = (0 until 300).map { i =>
      (i.toLong, Seq.fill(rnd.nextInt(20) + 1)(rnd.nextLong()))
    }.toDF("id", "hs")
    val w = 4
    val composed = expr(
      s"transform(sequence(0, greatest(size(hs) - $w, 0)), " +
        s"p -> array_min(slice(hs, p + 1, $w)))")
    val diff = rows.select(
        VectorExpressions.slidingMin(col("hs"), w).as("k"),
        composed.as("c"))
      .filter(not(col("k") === col("c"))).count()
    assert(diff == 0)
  }

  test("kernels match composed forms on arrays WITH null elements") {
    // containsNull inputs: md5PrefixLongs maps null -> null (md5(null)
    // is null), slidingMin skips nulls like array_min, shingles passes
    // nulls to concat_ws which skips them — same as the compositions
    val rnd = new scala.util.Random(11)
    val strRows = (0 until 200).map { i =>
      (i.toLong, Seq.fill(rnd.nextInt(10) + 1)(
        if (rnd.nextInt(4) == 0) null else s"t${rnd.nextInt(50)}"))
    }.toDF("id", "toks")
    val mdComposed = transform(col("toks"),
      g => conv(substring(md5(g), 1, 15), 16, 10).cast("long"))
    assert(strRows.select(
        VectorExpressions.md5PrefixLongs(col("toks")).as("k"),
        mdComposed.as("c"))
      .filter(not(col("k") <=> col("c"))).count() == 0)
    val shComposed = transform(
      sequence(lit(0), greatest(size(col("toks")) - 3, lit(0))),
      i => concat_ws(" ", slice(col("toks"), i + 1, lit(3))))
    assert(strRows.select(
        VectorExpressions.shingleArray(col("toks"), 3).as("k"),
        shComposed.as("c"))
      .filter(not(col("k") <=> col("c"))).count() == 0)
    val longRows = (0 until 200).map { i =>
      (i.toLong, Seq.fill(rnd.nextInt(12) + 1)(
        if (rnd.nextInt(3) == 0) null else java.lang.Long.valueOf(rnd.nextLong())))
    }.toDF("id", "hs")
    val smComposed = expr(
      "transform(sequence(0, greatest(size(hs) - 4, 0)), " +
        "p -> array_min(slice(hs, p + 1, 4)))")
    assert(longRows.select(
        VectorExpressions.slidingMin(col("hs"), 4).as("k"),
        smComposed.as("c"))
      .filter(not(col("k") <=> col("c"))).count() == 0)
  }

  test("phraseCount kernel == sequence/filter/element_at composition") {
    val docs = randomDocs(400, 4)
    val phrase = Seq("a", "bb")
    val ts = col("toks")
    val starts = sequence(lit(1), size(ts) - (phrase.length - 1))
    val hit = (i: org.apache.spark.sql.Column) => phrase.zipWithIndex
      .map { case (t, o) => element_at(ts, i + lit(o)) === t }
      .reduce((a, b) => a && b)
    val composed = when(size(ts) < phrase.length, lit(0))
      .otherwise(size(filter(starts, hit)))
    val diff = docs.select(
        VectorExpressions.phraseCount(col("toks"), phrase).as("k"),
        composed.as("c"))
      .filter(col("k") =!= col("c")).count()
    assert(diff == 0)
  }

  test("vecMaxSim kernel == slice/vec_dot/greatest composition on the corpus") {
    val e = Tables.embeddings(spark, sf0001)
    val q = QueryConstants.Q64
    val sub = 8
    val perQ = q.grouped(sub).toSeq.map { chunk =>
      val dots = (0 until q.length / sub).map { j =>
        functions.VectorFunctions.dot(
          slice(col("embedding"), j * sub + 1, sub),
          functions.VectorFunctions.doubleVec(chunk))
      }
      greatest(dots: _*)
    }
    val composed = perQ.reduce((a, b) => a + b)
    val diff = e.select(
        VectorExpressions.vecMaxSim(col("embedding"),
          q.grouped(sub).toSeq).as("k"),
        composed.as("c"))
      .filter(col("k") =!= col("c")).count() // bit-equal, no tolerance
    assert(diff == 0)
  }

  test("opqRotateCol transform form == unrolled per-dimension fold, bit-exact") {
    // the compact one-lambda rotation (judge r15 #4) must encode
    // bit-identically to the unrolled array-of-aggregates it replaced
    // (and to the driver-side opqRotateQuery fold the oracles replay)
    val rnd = new scala.util.Random(11)
    val d = 12
    val pc = Array.fill(d, d)(rnd.nextGaussian())
    val perm = rnd.shuffle((0 until d).toVector).toArray
    val rows = (0 until 200).map(i =>
      (i.toLong, Seq.fill(d)(rnd.nextGaussian().toFloat))).toDF("id", "v")
    val unrolled = {
      val pcFlat = array(pc.flatten.map(lit).toIndexedSeq: _*)
      val vv = col("v").cast("array<double>")
      array(perm.toIndexedSeq.map { p =>
        aggregate(sequence(lit(0), lit(d - 1)), lit(0.0d),
          (acc, i) => acc + element_at(vv, i + 1) *
            element_at(pcFlat, i * d + p + 1))
      }: _*).cast("array<float>")
    }
    val diff = rows.select(
        graft.operators.ProductQuant.opqRotateCol(pc, perm, col("v")).as("k"),
        unrolled.as("c"))
      .filter(col("k") =!= col("c")).count()
    assert(diff == 0)
    // and against the driver-side query-rotation fold
    val got = rows.orderBy(col("id")).select(
        graft.operators.ProductQuant.opqRotateCol(pc, perm, col("v")))
      .collect().map(_.getSeq[Float](0).toArray)
    val vecs = rows.orderBy(col("id")).select(col("v"))
      .collect().map(_.getSeq[Float](0).map(_.toDouble))
    val model = graft.operators.ProductQuant.OpqModel(pc, perm,
      Array(Array(Array(0.0))))
    vecs.zip(got).foreach { case (v, g) =>
      val exp = graft.operators.ProductQuant.opqRotateQuery(model, v)
        .map(_.toFloat)
      assert(java.util.Arrays.equals(exp, g))
    }
  }

  test("top_m_by_dist aggregate == window (dist, id) rank, ties included") {
    val rnd = new scala.util.Random(7)
    // coarse dist grid forces plenty of (dist) ties so the id tie-break
    // is actually exercised; several groups, sizes straddling m
    val rows = (0 until 4000).map { i =>
      (i % 37L, rnd.nextInt(5000).toLong, rnd.nextInt(12).toDouble / 4d)
    }.toDF("g", "id", "d").dropDuplicates("g", "id").localCheckpoint()
    val m = 9
    val agg = rows.groupBy(col("g"))
      .agg(graft.functions.TopMByDist.topM(col("id"), col("d"), m).as("t"))
      .select(col("g"), posexplode(col("t")).as(Seq("rn", "s")))
      .select(col("g"), col("rn"), col("s.id").as("id"), col("s.dist").as("d"))
    val win = rows.withColumn("rn",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("g")).orderBy(col("d"), col("id"))) - 1)
      .filter(col("rn") < m)
      .select(col("g"), col("rn"), col("id"), col("d"))
    assert(agg.exceptAll(win).isEmpty && win.exceptAll(agg).isEmpty,
      "bounded top-m aggregate must equal the window rank bit-for-bit")
  }

  test("top-edges aggregate == dedupe-agg + window rank + collect_list plan") {
    // the buildMerged cross-list merge contract (GraphAnn.scala): edges
    // (src, dst, dist, rank) arrive once per list containing both
    // endpoints — dist is a pure function of (src, dst) (the invariant
    // TopEdgesByRank's keyed min leans on), rank differs per list.
    // Fabricate a multi-list relation with duplicate pairs, rank ties,
    // dist ties, and more distinct dsts than the cap (forces eviction),
    // then re-check under an adversarial partitioning so partial
    // buffers evict entries the merge must not lose.
    val rnd = new scala.util.Random(7)
    val rows = (for {
      src <- 0L until 40L
      list <- 0 until 3
      e <- 0 until (5 + rnd.nextInt(20))
    } yield {
      val dst = rnd.nextInt(30).toLong + 100
      // dist keyed on the PAIR only; coarse grid to manufacture ties
      val dist = ((src * 31 + dst * 17) % 7).toDouble / 2.0
      (src, dst, dist, rnd.nextInt(6))
    }).toDF("src", "dst", "dist", "rank")
    for ((df, tag) <- Seq((rows, "as-built"),
        (rows.repartition(13, col("dst")), "dst-partitioned"))) {
      for (m <- Seq(3, 8, 64)) {
        val agg = df.groupBy(col("src"))
          .agg(graft.functions.TopEdgesByRank.topEdges(
            col("dst"), col("dist"), col("rank"), m).as("nbrs"))
        val win = df.groupBy(col("src"), col("dst"))
          .agg(min(col("rank")).as("rank"), min(col("dist")).as("dist"))
          .withColumn("rn", row_number().over(
            org.apache.spark.sql.expressions.Window.partitionBy(col("src"))
              .orderBy(col("rank"), col("dist").asc_nulls_last, col("dst"))))
          .filter(col("rn") <= m)
          .groupBy(col("src"))
          .agg(transform(
            array_sort(collect_list(struct(col("dist"), col("dst")))),
            e => e.getField("dst")).as("nbrs"))
        val a = agg.orderBy(col("src")).collect().map(_.toString)
        val w = win.orderBy(col("src")).collect().map(_.toString)
        assert(a.toSeq == w.toSeq,
          s"top_edges_by_rank(m=$m, $tag) diverged from the window plan")
      }
    }
  }

  test("routed top-ids kernel: empty-super fallback twin never duplicates an id") {
    // two identical vectors: the stride picks both as supers, both rows
    // route to the earlier one, and super1's empty list falls back to a
    // COPY of row 1 — pre-fix (ADVICE r15) probing both supers emitted
    // id 1 twice and left a +inf/id-0 garbage slot when n > distinct
    val u = Array(1.0, 2.0)
    val table = Array((0L, u), (1L, u))
    val out = Seq(Tuple1(Seq(0.5, 0.25))).toDF("v")
      .select(graft.functions.NearestExpr.nearestTopIdsRouted(
        col("v"), table, n = 3, sqrtCompare = true, fanout = 2,
        supersProbed = 2).as("ids"))
      .head().getSeq[Long](0)
    assert(out == Seq(0L, 1L),
      s"expected the two distinct ids exactly once each, got $out")
  }

  // --- merged-build local kNN kernel (GraphAnn.listKnn, round 17) ---

  /** Independent reference of the kernel's documented fold: element x
    * feeds lane x%4 over the stride-4 prefix, tail into lane 0, final
    * (a0+a1)+(a2+a3). */
  private def laneSqDist(flat: Array[Float], oa: Int, ob: Int,
                         dim: Int): Double = {
    var a0 = 0d; var a1 = 0d; var a2 = 0d; var a3 = 0d
    var x = 0
    while (x + 3 < dim) {
      val e0 = flat(oa + x).toDouble - flat(ob + x)
      val e1 = flat(oa + x + 1).toDouble - flat(ob + x + 1)
      val e2 = flat(oa + x + 2).toDouble - flat(ob + x + 2)
      val e3 = flat(oa + x + 3).toDouble - flat(ob + x + 3)
      a0 += e0 * e0; a1 += e1 * e1; a2 += e2 * e2; a3 += e3 * e3
      x += 4
    }
    while (x < dim) {
      val df = flat(oa + x).toDouble - flat(ob + x); a0 += df * df; x += 1
    }
    (a0 + a1) + (a2 + a3)
  }

  test("listKnn == brute-force (d², idx) oracle, ties to the smaller index") {
    val rnd = new scala.util.Random(41)
    // dims cover: multiple of 16, multiple of 4 only, neither, tiny
    for ((m, dim, kk) <- Seq((60, 96, 12), (37, 20, 5), (25, 7, 3),
                             (9, 1, 2), (3, 13, 2))) {
      val flat = Array.fill(m * dim)(rnd.nextFloat())
      // plant exact duplicates → d² = 0 ties exercise the tie rule
      System.arraycopy(flat, 0, flat, dim, dim)
      if (m > 4) System.arraycopy(flat, 0, flat, 4 * dim, dim)
      val (d2, idx) = graft.operators.GraphAnn.listKnn(flat, dim, m, kk)
      for (r <- 0 until m) {
        val want = (0 until m).filter(_ != r)
          .map(o => (laneSqDist(flat, r * dim, o * dim, dim), o))
          .sortBy(identity) // (d² asc, idx asc) — the strict-< tie rule
          .take(kk)
        val gotPairs = (0 until math.min(kk, m - 1))
          .map(p => (d2(r * kk + p), idx(r * kk + p)))
        assert(gotPairs == want,
          s"m=$m dim=$dim kk=$kk row $r: got $gotPairs want $want")
        // +∞ padding beyond the m-1 available neighbours
        for (p <- (m - 1) until kk)
          assert(d2(r * kk + p).isPosInfinity, s"pad at row $r pos $p")
      }
    }
  }

  test("sqDistBounded: bail never flips a ≤ lim decision; pass-through is bit-exact") {
    val rnd = new scala.util.Random(43)
    val dim = 96
    val flat = Array.fill(8 * dim)(rnd.nextFloat() * 2f - 1f)
    for (a <- 0 until 8; b <- 0 until 8 if a != b) {
      val exact = laneSqDist(flat, a * dim, b * dim, dim)
      for (lim <- Seq(0d, exact / 2, exact * 0.999, exact,
                      exact * 1.001, exact * 2, Double.PositiveInfinity)) {
        val got = graft.operators.GraphAnn.sqDistBounded(
          flat, a * dim, b * dim, dim, lim)
        assert((got <= lim) == (exact <= lim),
          s"bound decision flipped at lim=$lim: got=$got exact=$exact")
        if (exact <= lim)
          assert(got == exact, s"non-bailed value must be the exact d²")
      }
    }
  }

  test("seedIds == leaders-window + medoid-scan composition, bit-exact") {
    // The r17 two-pass seed selection (one scored scan feeding a
    // map-side-combined min_by per list, medoid reduced over per-list
    // mins) must pick the IDENTICAL id set the old four-pass form did:
    // per-list argmin by (cd, id) via row_number, then the corpus
    // medoid by (md, id). Composition reimplemented here verbatim.
    import org.apache.spark.sql.expressions.Window
    import graft.functions.VectorFunctions.dist
    import graft.operators.{GraphAnn, Similarity}
    val emb = Tables.embeddings(spark, sf0001)
    val cents = Similarity.ivfTrain(emb, "vec_id", "embedding",
      numLists = 16, iters = 1)
    val centRel = Similarity.centroidRelation(spark, cents)
      .select(col("list_id").cast("long"),
        col("cv").cast("array<double>").as("cv"))
    val oldLeaders = emb
      .select(col("vec_id").cast("long").as("id"),
        col("embedding").cast("array<float>").as("vec"),
        Similarity.ivfListId(col("embedding"), cents).as("list_id"))
      .join(broadcast(centRel), Seq("list_id"))
      .withColumn("cd", dist(col("vec"), col("cv")))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("list_id"))
          .orderBy(col("cd").asc_nulls_last, col("id"))))
      .filter(col("rn") === 1)
      .select(col("id")).orderBy(col("id"))
      .collect().map(_.getLong(0))
    val oldSeeds = (oldLeaders :+ GraphAnn.medoid(
      emb.select(col("vec_id").cast("long").as("id"),
        col("embedding").cast("array<float>").as("vec")))).distinct
    val got = GraphAnn.seedIds(emb, "vec_id", "embedding", cents)
    assert(got.toSeq == oldSeeds.toSeq,
      s"seed selection diverged: got=${got.toSeq} want=${oldSeeds.toSeq}")
  }

  // --- eval ≡ codegen: both paths of every kernel expression ---

  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression,
    UnsafeArrayData}
  import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
  import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
  import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType,
    LongType, StringType}
  import org.apache.spark.unsafe.types.UTF8String
  import graft.functions.NearestExpr

  /** A kernel value as a comparable Scala value: doubles by their bits,
    * arrays element by element (nulls kept). */
  private def norm(v: Any, dt: DataType): Any = (v, dt) match {
    case (null, _) => null
    case (d: Double, DoubleType) => ("bits", java.lang.Double.doubleToLongBits(d))
    case (a: ArrayData, ArrayType(et, _)) =>
      (0 until a.numElements()).map(i =>
        if (a.isNullAt(i)) null else norm(a.get(i, et), et))
    case (u: UTF8String, StringType) => u.toString
    case (x, _) => x
  }

  /** `c` (a Column-API kernel call) with its inputs rebound to row
    * ordinals 0, 1, … */
  private def bound(c: org.apache.spark.sql.Column, inputs: DataType*): Expression =
    org.apache.spark.sql.GraftSqlShim.toExpression(c).withNewChildren(
      inputs.zipWithIndex.map { case (dt, i) => BoundReference(i, dt, nullable = true) })

  /** Evaluates `e` interpreted (`eval`) and through a generated
    * projection (compiled, never the interpreted fallback) on every row:
    * the results must be bit-identical, and a row that throws must throw
    * the same IllegalArgumentException on both paths. */
  private def assertEvalEqualsCodegen(e: Expression, rows: Seq[InternalRow]): Unit = {
    import scala.util.{Failure, Success, Try}
    val proj = GenerateUnsafeProjection.generate(Seq(e))
    val inputs = e.collect { case b: BoundReference => b }.distinct
    rows.foreach { row =>
      val shown = inputs.map(b => norm(row.get(b.ordinal, b.dataType), b.dataType))
        .mkString("(", ", ", ")")
      val interpreted = Try(norm(e.eval(row), e.dataType))
      val generated = Try {
        val out = proj(row)
        if (out.isNullAt(0)) null else norm(out.get(0, e.dataType), e.dataType)
      }
      (interpreted, generated) match {
        case (Success(a), Success(b)) =>
          assert(a == b, s"${e.prettyName} on $shown: eval $a, codegen $b")
        case (Failure(a: IllegalArgumentException), Failure(b: IllegalArgumentException)) =>
          assert(a.getMessage == b.getMessage,
            s"${e.prettyName} on $shown: ${a.getMessage} vs ${b.getMessage}")
        case (a, b) => fail(s"${e.prettyName} on $shown: eval $a, codegen $b")
      }
    }
  }

  private val Dim = 4
  /** Query vectors as float values: a coarse grid (distance ties with
    * the grid tables below), random values, all-NaN, one NaN, a short
    * and a long vector (length mismatch). */
  private val queries: Seq[Array[Float]] = {
    val rnd = new scala.util.Random(17)
    val grid = Seq(-1f, -0.5f, 0f, 0.5f, 1f, 1.5f)
    Seq.fill(40)(Array.fill(Dim)(grid(rnd.nextInt(grid.length)))) ++
      Seq.fill(20)(Array.fill(Dim)(rnd.nextGaussian().toFloat)) ++
      Seq(Array.fill(Dim)(Float.NaN), Array(0.5f, Float.NaN, 0f, 1f),
        Array(0f, 1f, 0.5f), Array.fill(Dim + 1)(0.5f))
  }

  private def vecRows(asFloat: Boolean): Seq[InternalRow] =
    queries.map(q => InternalRow(
      if (asFloat) UnsafeArrayData.fromPrimitiveArray(q)
      else UnsafeArrayData.fromPrimitiveArray(q.map(_.toDouble)))) :+
      InternalRow(null)

  private def vecType(asFloat: Boolean): DataType =
    ArrayType(if (asFloat) FloatType else DoubleType, containsNull = false)

  /** Grid centroids with a duplicated vector under two ids, two
    * entries equidistant from the origin, and a random tail. */
  private val table: Array[(Long, Array[Double])] = {
    val rnd = new scala.util.Random(19)
    val grid = Array(
      Array(0.0, 0.0, 0.0, 0.0), Array(0.0, 0.0, 0.0, 0.0),
      Array(1.0, 0.0, 0.0, 0.0), Array(0.0, 1.0, 0.0, 0.0),
      Array(0.5, 0.5, -0.5, 1.0), Array(1.0, 1.0, 1.0, 1.0))
    val tail = Array.fill(10)(Array.fill(Dim)(rnd.nextInt(7) / 2.0 - 1.0))
    (grid ++ tail).zipWithIndex.map { case (cv, i) => ((i * 3 + 5).toLong, cv) }
  }

  test("every nearest-centroid kernel: eval == codegen, float and double") {
    val v = col("v")
    for (asFloat <- Seq(true, false); sqrt <- Seq(true, false)) {
      val t = vecType(asFloat)
      val rows = vecRows(asFloat)
      for (c <- Seq(
          NearestExpr.nearestId(v, table, sqrt),
          NearestExpr.nearestDistSq(v, table.map(_._2)),
          NearestExpr.nearestTopIds(v, table, 3, sqrt),
          NearestExpr.nearestTopIds(v, table, table.length + 2, sqrt),
          // thresholds (r + 0.5)² ∈ {0.25, 1, 2.25} equal grid d² values
          NearestExpr.withinBoundIds(v,
            table.map { case (id, cv) => (id, cv, (id % 3).toDouble / 2) }, 0.5),
          NearestExpr.nearestIdRouted(v, table, sqrt, fanout = 4),
          NearestExpr.nearestTopIdsRouted(v, table, 4, sqrt, fanout = 4),
          // identical vectors: the routed tables hand a twin to the second super
          NearestExpr.nearestTopIdsRouted(v, Array((0L, table(0)._2), (1L, table(0)._2)),
            3, sqrt, fanout = 2)))
        assertEvalEqualsCodegen(bound(c, t), rows)
    }
  }

  test("vector-pair, Hamming and MaxSim kernels: eval == codegen") {
    for (fa <- Seq(true, false); fb <- Seq(true, false)) {
      val pairs = vecRows(fa).zip(vecRows(fb).reverse).map { case (a, b) =>
        InternalRow(a.get(0, vecType(fa)), b.get(0, vecType(fb)))
      }
      for (c <- Seq(VectorExpressions.vecDot(col("a"), col("b")),
                    VectorExpressions.vecDistSq(col("a"), col("b"))))
        assertEvalEqualsCodegen(bound(c, vecType(fa), vecType(fb)), pairs)
    }
    for (asFloat <- Seq(true, false))
      assertEvalEqualsCodegen(
        bound(VectorExpressions.vecMaxSim(col("v"), Seq(Seq(1.0, -0.5), Seq(0.25, 2.0))),
          vecType(asFloat)),
        vecRows(asFloat))
    val rnd = new scala.util.Random(23)
    val codes = Seq.fill(30)(InternalRow(
        UnsafeArrayData.fromPrimitiveArray(Array.fill(3)(rnd.nextLong())),
        UnsafeArrayData.fromPrimitiveArray(Array.fill(3)(rnd.nextLong())))) ++
      Seq(InternalRow(UnsafeArrayData.fromPrimitiveArray(Array(1L, 2L)),
          UnsafeArrayData.fromPrimitiveArray(Array(1L))),
        InternalRow(null, UnsafeArrayData.fromPrimitiveArray(Array(1L))))
    val longs = ArrayType(LongType, containsNull = false)
    assertEvalEqualsCodegen(
      bound(VectorExpressions.vecHamming(col("a"), col("b")), longs, longs), codes)
  }

  test("text kernels: eval == codegen on arrays with null elements") {
    val rnd = new scala.util.Random(29)
    val words = Seq("a", "bb", "ccc")
    val strs = Seq.fill(60)(InternalRow(new GenericArrayData(
      Array.fill[Any](rnd.nextInt(9))(
        if (rnd.nextInt(5) == 0) null else UTF8String.fromString(words(rnd.nextInt(3))))))) :+
      InternalRow(null)
    val strType = ArrayType(StringType, containsNull = true)
    for (c <- Seq(VectorExpressions.phraseCount(col("t"), Seq("a", "bb")),
                  VectorExpressions.shingleArray(col("t"), 3),
                  VectorExpressions.md5PrefixLongs(col("t"))))
      assertEvalEqualsCodegen(bound(c, strType), strs)
    val hs = Seq.fill(60)(InternalRow(new GenericArrayData(
      Array.fill[Any](rnd.nextInt(9))(
        if (rnd.nextInt(4) == 0) null else rnd.nextInt(100).toLong)))) :+
      InternalRow(null)
    assertEvalEqualsCodegen(
      bound(VectorExpressions.slidingMin(col("h"), 3), ArrayType(LongType, containsNull = true)),
      hs)
  }
}
