package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.functions.VectorFunctions.{dist, doubleVec}

/** Persisted binary-code store — the serving layout for the 1-bit
  * quantization family ([[VectorStats.binaryKnn]] is the inline form):
  * vectors are reduced to d sign bits against the corpus's per-dim
  * midpoints and persisted as ceil(d/64) LONG words per row, next to a
  * d-row threshold sidecar (faiss's IndexBinaryFlat layout; public
  * method, no reference counterpart).
  *
  * Scale shape (the 100 TB layout): the ranking scan reads d/8 bytes
  * per row — 64× narrower than float64 vectors — and ranks with
  * xor+popcount, a pure codegen projection; the wide float column is
  * touched only through a broadcast re-rank join of the topN pool. The
  * sidecar is d rows (corpus-size-independent) and the query is
  * encoded DRIVER-side against it, so a single probe plan carries just
  * a ceil(d/64)-long literal. Unlike the IVF stores nothing prunes the
  * scan — binary codes are the bandwidth play, not the selectivity
  * play; compose with an IVF layout when both are needed.
  */
object BinaryIndex {

  /** A pre-opened binary store: the codes relation plus the driver-held
    * threshold sidecar (d doubles). */
  final case class Store(codes: DataFrame, thr: Array[Double])

  /** Driver-side encode of one query vector against the sidecar —
    * bit i of word i/64 set iff q_i strictly above threshold_i (the
    * exact packing [[VectorStats.binCode]] uses in-plan). */
  def encode(q: Seq[Double], thr: Array[Double]): Array[Long] = {
    require(q.length == thr.length,
      s"query dim ${q.length} != store dim ${thr.length}")
    val words = new Array[Long]((q.length + 63) / 64)
    q.indices.foreach { i =>
      if (q(i) > thr(i)) words(i / 64) |= 1L << (i % 64)
    }
    words
  }

  /** Hamming distance between two packed-word arrays — the native
    * codegen kernel (one primitive xor/popcount loop, no lambda
    * allocation per row). */
  private def hamming(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.vecHamming(a, b)

  /** Maintenance buckets: a stable hash of the id spread over 64
    * partitions. The buckets exist for MAINTENANCE locality (append
    * routes new rows to their bucket; removal rewrites only hit buckets
    * via the shared [[StoreMaintain.removeFromStore]]) — a Hamming probe
    * scans every bucket by design, so the layout costs probes nothing.
    * Storage internal only: no oracle observes the bucket id. */
  private val Buckets = 64

  /** The `.thr` sidecar's layout: one row per dim and its threshold. */
  private val ThrSchema = StructType.fromDDL("idx int, thr double")

  /** (id, code, bucket) rows of `points`: the sign bits of their first
    * `d` dims against thresholds `thr`. */
  private def encode(points: DataFrame, idCol: String, vecCol: String,
                     thr: Array[Double], d: Int): DataFrame =
    points.select(col(idCol),
      VectorStats.binCode(col(vecCol), array(thr.toIndexedSeq.map(lit): _*), d)
        .as("code"),
      pmod(hash(col(idCol)), lit(Buckets)).cast("int").as("bucket"))

  /** Persist the binary serving layout: (id, code) rows bucketed by
    * hashed id, plus the per-dim threshold sidecar. The d thresholds
    * are collected once and encode the rows as a literal, as on
    * append. `d` is the vector dimension. */
  def write(points: DataFrame, idCol: String, vecCol: String, d: Int,
            path: String): Unit = {
    val thr = VectorStats.binThreshold(points, idCol, vecCol)
      .head().getSeq[Double](0).toArray
    StoreMaintain.write(encode(points, idCol, vecCol, thr, d), path, "bucket")
    StoreMaintain.writeSidecar(points.sparkSession, path, "thr", ThrSchema,
      thr.indices.map(i => Row(i, thr(i))))
  }

  /** INCREMENTAL append: encode new vectors with the store's FROZEN
    * threshold sidecar (the quantizer never re-trains on append — a
    * drifted corpus warrants a rewrite) and land them in their hash
    * buckets. Trivially parallel; no read of existing rows. */
  def append(spark: SparkSession, path: String, newVecs: DataFrame,
             idCol: String, vecCol: String): Unit = {
    val thr = open(spark, path).thr
    StoreMaintain.append(encode(newVecs, idCol, vecCol, thr, thr.length),
      path, "bucket")
  }

  /** Removal: the shared partition-level batch delete — rewrites only
    * the hash buckets holding doomed ids. */
  def remove(spark: SparkSession, path: String, ids: DataFrame,
             idCol: String): Unit =
    StoreMaintain.removeFromStore(spark, path, ids, idCol, "bucket")

  /** Open a persisted binary store once: one file listing, one sidecar
    * read. */
  def open(spark: SparkSession, path: String): Store =
    Store(StoreMaintain.read(spark, path),
      StoreMaintain.readSidecar(spark, path, "thr", ThrSchema)
        .sortBy(_.getInt(0)).map(_.getDouble(1)))

  /** Probe: rank the codes scan by Hamming distance to the
    * driver-encoded query, keep the top `rerank` pool deterministically
    * ((ham, id) tie-break), re-rank by exact distance via a broadcast
    * join of the pool against the wide vector table, return the top k
    * as (id, ham, dist). */
  def probe(store: Store, points: DataFrame, idCol: String,
            vecCol: String, q: Seq[Double], k: Int,
            rerank: Int): DataFrame = {
    val qCol = array(encode(q, store.thr).toIndexedSeq.map(lit): _*)
    val pool = store.codes
      .withColumn("ham", hamming(col("code"), qCol))
      .orderBy(col("ham"), col(idCol))
      .limit(math.max(rerank, k))
      .select(col(idCol), col("ham"))
    points.select(col(idCol), col(vecCol))
      .join(broadcast(pool), Seq(idCol))
      .withColumn("dist", dist(col(vecCol), doubleVec(q)))
      .orderBy(col("dist"), col(idCol))
      .limit(k)
      .select(col(idCol), col("ham"), col("dist"))
  }

  /** BATCH kNN join over the binary store — the compressed twin of
    * [[BruteForce.knnJoin]], completing the {store} × {single, batch}
    * probe matrix for the binary family: each query row is encoded
    * IN-PLAN against the threshold sidecar (held as a d-entry literal —
    * dimension-bounded, never corpus-bounded), the Q×n Hamming ranking
    * runs over the narrow codes scan (d/8 bytes per row where the float
    * join reads 8d), a per-query window keeps the top `rerank` pool,
    * and a keyed join re-ranks exactly to k. Candidate volume is still
    * Q×n — this is the bandwidth play; layer an IVF partitioning when
    * selectivity is needed too. Returns (qid, id, ham, dist). */
  def probeBatch(store: Store, points: DataFrame, idCol: String,
                 vecCol: String, queries: DataFrame, qIdCol: String,
                 qVecCol: String, k: Int, rerank: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = store.thr.length
    val thrLit = array(store.thr.toIndexedSeq.map(lit): _*)
    val qv = queries.select(col(qIdCol).as("qid"), col(qVecCol).as("qv"))
    // broadcast only (qid, qcode); the Hamming pool window then carries
    // three scalars per candidate row — qid, id, ham — never the
    // d-double query vector (measured: carrying qv through the Q×n
    // exchange was 38× the payload and GC-bound the whole join)
    val qs = qv
      .withColumn("qcode", VectorStats.binCode(col("qv"), thrLit, d))
      .select(col("qid"), col("qcode"))
    val pool = store.codes
      .crossJoin(broadcast(qs))
      .select(col("qid"), col(idCol),
        hamming(col("code"), col("qcode")).as("ham"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("ham"), col(idCol))))
      .filter(col("rn") <= math.max(rerank, k))
      .select(col("qid"), col(idCol), col("ham"))
    pool.join(points.select(col(idCol), col(vecCol)), Seq(idCol))
      .join(broadcast(qv), Seq("qid"))
      .withColumn("dist", dist(col(vecCol), col("qv")))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("dist"), col(idCol))))
      .filter(col("rn") <= k)
      .select(col("qid"), col(idCol), col("ham"), col("dist"))
  }
}
