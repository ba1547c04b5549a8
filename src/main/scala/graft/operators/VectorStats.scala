package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Per-dimension statistics over vector columns — the aggregates that drive
  * the reference's index build:
  *  - EAV shred (PointType rows):      DDL.sql:4-13, openjson shred DDL.sql:370-371
  *  - per-dimension grouped stats A1:  DDL.sql:79-92 (avg, stdev, count_big, avg(ID))
  *  - integer mean-id pivot A4:        DDL.sql:86,140; IndexBuilder.cs:87 (IdN/Count, integer division)
  *  - min/max normalization A6:        MemoryVectorIndexTests.cs:249-303
  *
  * Scale: the shred multiplies rows by d — fine for the groupBy(dim) shape
  * (map-side partial aggregation collapses it before the shuffle; the
  * shuffle carries only (groupKeys × d) rows). The no-explode single-pass
  * variant for the build loop lives in IndexBuild (element_at access).
  */
object VectorStats {

  /** Explode (id, vector) into coordinate/EAV form (id, idx, value) with
    * 0-based idx — mirrors openjson's `key` (DDL.sql:370-371). */
  def explodeVectors(points: DataFrame, idCol: String, vecCol: String): DataFrame =
    points.select(col(idCol).as("id"), posexplode(col(vecCol)).as(Seq("idx", "value")))

  /** A1: per-dimension stats. `stddev` = sample stdev (SQL `stdev`,
    * DDL.sql:84) with the isnull(...,0) guard for single-row groups;
    * meanId = floor(sum(id)/count) — integer division like the C#
    * Int128/long division (IndexBuilder.cs:87). */
  def dimStats(eav: DataFrame): DataFrame =
    eav.groupBy(col("idx"))
      .agg(
        avg(col("value")).as("mean"),
        coalesce(stddev(col("value")), lit(0.0d)).as("stdev"),
        count(lit(1)).as("cnt"),
        floor(sum(col("id")) / count(lit(1))).cast("long").as("meanId"))

  /** A6: dataset-wide per-dimension min/max (for normalization). Double
    * precision so downstream offset/scale arithmetic matches the float64
    * oracle exactly. */
  def dimExtent(eav: DataFrame): DataFrame =
    eav.groupBy(col("idx"))
      .agg(min(col("value").cast("double")).as("minV"),
        max(col("value").cast("double")).as("maxV"))

  /** L2 unit-normalization of a vector column (double result; zero
    * vectors pass through unchanged). The norm is projected into its own
    * column first so the per-element division doesn't re-run the O(d)
    * dot product per element. */
  def l2Normalize(points: DataFrame, vecCol: String): DataFrame = {
    import graft.functions.VectorFunctions.norm
    points
      .withColumn("_l2n", norm(col(vecCol)))
      .withColumn(vecCol,
        when(col("_l2n") === 0d, transform(col(vecCol), x => x.cast("double")))
          .otherwise(transform(col(vecCol), x => x.cast("double") / col("_l2n"))))
      .drop("_l2n")
  }

  /** Per-dimension scalar quantization to `levels` integer codes — the
    * int8 embedding-storage path of a serving pipeline:
    * code = floor((v − min_d) / (max_d − min_d) · levels), clamped to
    * levels−1 (so v = max_d lands in the top bucket); constant
    * dimensions quantize to 0. `floor` (not round) keeps every code
    * bit-deterministic across engines — the division and multiply are
    * single IEEE ops in a fixed order. The extent is aggregated and
    * collected once (d entries, [[sqExtent]]); the quantization itself
    * is a pure projection over it ([[sqEncode]]). Returns the input plus
    * an `array<int>` column `qCol`. */
  def quantize(points: DataFrame, idCol: String, vecCol: String,
               qCol: String, levels: Int = 256): DataFrame = {
    val (mins, exts) = sqExtent(points, idCol, vecCol)
    points.withColumn(qCol, sqEncode(col(vecCol), mins, exts, levels))
  }

  /** The per-dim (min, extent = max − min) the scalar-quantization
    * family shares, collected to the driver in one job: d entries,
    * dims 0 until d, bounded by dimension, never by corpus size. A dim
    * with no non-null element gets NaN for both; its elements, all
    * null, encode to levels−1 (`least` skips the null quotient). */
  private[operators] def sqExtent(points: DataFrame, idCol: String,
                                  vecCol: String): (Array[Double], Array[Double]) = {
    val dims = dimExtent(explodeVectors(points, idCol, vecCol)).collect().sortBy(_.getInt(0))
    def at(r: Row, i: Int) = if (r.isNullAt(i)) Double.NaN else r.getDouble(i)
    (dims.map(at(_, 1)), dims.map(r => at(r, 2) - at(r, 1)))
  }

  /** SQ code array of `vec` against driver-held extents ([[sqExtent]]):
    * code_i = floor((x_i − min_i)/ext_i·levels), clamped to levels−1;
    * constant dims (ext 0) encode to 0. The one SQ encode: [[quantize]],
    * [[sqKnn]] and the IVF-SQ8 store's write and append all use it. The
    * extents enter as d-sized literals. */
  private[operators] def sqEncode(vec: Column, mins: Array[Double],
                                  exts: Array[Double], levels: Int): Column = {
    val minsL = array(mins.map(lit).toIndexedSeq: _*)
    val extsL = array(exts.map(lit).toIndexedSeq: _*)
    transform(vec, (x, i) =>
      least(
        floor(when(element_at(extsL, i + 1) === 0d, lit(0.0d))
          .otherwise((x.cast("double") - element_at(minsL, i + 1)) /
            element_at(extsL, i + 1) * levels)).cast("int"),
        lit(levels - 1)))
  }

  /** Bin-center decode of an [[sqEncode]] code column:
    * x̂_i = min_i + (code_i + 0.5)·ext_i/levels; constant dims (ext 0)
    * decode to min_i. [[sqKnn]] and the IVF-SQ8 probes share it, so one
    * oracle SQL form covers both. */
  private[operators] def sqDecode(codes: Column, mins: Array[Double],
                                  exts: Array[Double], levels: Int): Column = {
    val minsL = array(mins.map(lit).toIndexedSeq: _*)
    val extsL = array(exts.map(lit).toIndexedSeq: _*)
    transform(codes, (c, i) =>
      when(element_at(extsL, i + 1) === 0d, element_at(minsL, i + 1))
        .otherwise(element_at(minsL, i + 1) +
          (c.cast("double") + lit(0.5d)) * element_at(extsL, i + 1) / levels))
  }

  /** SQ8 approximate kNN — the SEARCH side of [[quantize]] (the scalar
    * analog of the ADC probe; faiss's IndexScalarQuantizer query path,
    * public method, no reference counterpart): rank every row by the
    * distance between the query and its DECODED codes
    * x̂_i = min_i + (code_i + 0.5)·ext_i/levels (bin center; constant
    * dims decode to min_i), deterministic (sq_dist, id) tie-break.
    * With `rerank` > 0, the top `rerank` survivors are re-ranked by
    * EXACT distance to the final k — the standard compressed-scan +
    * re-rank serving shape: at 100 TB the scan touches only the 4×
    * smaller code column (and the extent is d driver-held entries);
    * the wide float column is read solely for the rerank pool.
    * Every arithmetic step is a fixed-order IEEE op chain, so the
    * DuckDB oracle predicts the ranking bit for bit. */
  def sqKnn(points: DataFrame, idCol: String, vecCol: String,
            q: Seq[Double], k: Int, levels: Int = 256,
            rerank: Int = 0): DataFrame = {
    import graft.functions.VectorFunctions.{dist, doubleVec}
    val (mins, exts) = sqExtent(points, idCol, vecCol)
    val decoded = sqDecode(sqEncode(col(vecCol), mins, exts, levels), mins, exts, levels)
    val scored = points.withColumn("sq_dist", dist(decoded, doubleVec(q)))
    if (rerank <= 0)
      scored.orderBy(col("sq_dist"), col(idCol)).limit(k)
    else
      scored.orderBy(col("sq_dist"), col(idCol)).limit(rerank)
        .withColumn("dist", dist(col(vecCol), doubleVec(q)))
        .orderBy(col("dist"), col(idCol)).limit(k)
  }

  /** The one-row per-dim binarization-threshold relation the 1-bit
    * family shares: threshold_i = (min_i + max_i)/2 (the per-dim
    * MIDPOINT, not the mean — min/max and one addition/halving are
    * order-independent IEEE ops, so Spark's partial aggregation and a
    * sequential oracle agree bit for bit; a mean's summation order
    * does not). Emitted as an idx-ORDERED ARRAY (O(1) element access —
    * a map's element_at is a linear scan, which made the d-bit encode
    * O(d²) per row; measured 330 s → seconds at 1M×96).
    * Broadcast-joined, never a plan literal. */
  private[operators] def binThreshold(points: DataFrame, idCol: String,
                                      vecCol: String): DataFrame =
    dimExtent(explodeVectors(points, idCol, vecCol))
      .agg(collect_list(struct(col("idx"), col("minV"), col("maxV"))).as("dims"))
      .select(
        transform(sort_array(col("dims")),
          d => (d("minV") + d("maxV")) / 2.0d).as("_bthr"))

  /** Sign bits of a d-dim vector against a 1-indexed threshold ARRAY
    * column, packed into ceil(d/64) longs (bit j of word w = dim
    * w·64+j strictly above its threshold). The packing is a static
    * expression tree of per-word OR-chains — all codegen'd long
    * arithmetic, no UDF. d must be statically known (it sizes the
    * words). */
  private[operators] def binCode(vec: Column, thr: Column, d: Int): Column = {
    val words = (d + 63) / 64
    array((0 until words).map { w =>
      (w * 64 until math.min(d, w * 64 + 64)).map { i =>
        when(element_at(vec, i + 1).cast("double") >
               element_at(thr, i + 1),
          lit(1L << (i - w * 64))).otherwise(lit(0L))
      }.reduce((a, b) => a.bitwiseOR(b))
    }: _*)
  }

  /** 1-bit (binary) quantization kNN — the compression extreme of the
    * scalar-quantization family (faiss's IndexBinaryFlat over sign
    * codes; public method, no reference counterpart): every vector is
    * reduced to d BITS (64× smaller than float64) by thresholding each
    * dimension at its corpus midpoint, and candidates are ranked by
    * HAMMING distance to the query's code — xor + bit_count over the
    * packed long words, a pure codegen projection. Deterministic
    * (hamming, id) tie-break; with `rerank` > 0 the top `rerank`
    * survivors are re-ranked by exact distance to the final k (the
    * standard binary-scan + re-rank serving shape — at 100 TB the scan
    * touches d/8 bytes per row and the float column only for the
    * re-rank pool). The threshold sidecar is one broadcast row; the
    * oracle replays the per-dim compare without the bit packing (the
    * packing is representation, not semantics — a spec asserts
    * pack→popcount ≡ per-dim mismatch count). */
  def binaryKnn(points: DataFrame, idCol: String, vecCol: String,
                q: Seq[Double], k: Int, rerank: Int = 0): DataFrame = {
    import graft.functions.VectorFunctions.{dist, doubleVec}
    import graft.functions.VectorExpressions.vecHamming
    val d = q.length
    val thr = binThreshold(points, idCol, vecCol)
      .withColumn("_qcode", binCode(doubleVec(q), col("_bthr"), d))
    val scored = points.crossJoin(broadcast(thr))
      .withColumn("ham",
        vecHamming(binCode(col(vecCol), col("_bthr"), d), col("_qcode")))
      .drop("_bthr", "_qcode")
    if (rerank <= 0)
      scored.orderBy(col("ham"), col(idCol)).limit(k)
    else
      scored.orderBy(col("ham"), col(idCol)).limit(rerank)
        .withColumn("dist", dist(col(vecCol), doubleVec(q)))
        .orderBy(col("dist"), col(idCol)).limit(k)
  }

  /** A6: normalize every vector to [-1, 1] with a single shared scale =
    * max dimension extent / 2, per-dimension offset = (min+max)/2 — the
    * reference's normalization (MemoryVectorIndexTests.cs:249-303).
    * Returns the input with `vecCol` replaced by the normalized array
    * (double precision). */
  def normalize(points: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val extent = dimExtent(explodeVectors(points, idCol, vecCol))
      .agg(
        collect_list(struct(col("idx"), col("minV"), col("maxV"))).as("dims"),
        max(col("maxV") - col("minV")).as("maxExtent"))
      .select(
        map_from_arrays(
          transform(col("dims"), d => d("idx")),
          transform(col("dims"), d => (d("minV") + d("maxV")) / 2.0d)).as("offsets"),
        (col("maxExtent") / 2.0d).as("scale"))
    // extent is one row — broadcast it as a literal-ish cross join.
    points.crossJoin(broadcast(extent))
      .withColumn(vecCol,
        transform(col(vecCol),
          (x, i) => (x.cast("double") - element_at(col("offsets"), i)) /
            when(col("scale") === 0d, lit(1.0d)).otherwise(col("scale"))))
      .drop("offsets", "scale")
  }
}
