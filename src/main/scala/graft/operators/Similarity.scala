package graft.operators

import org.apache.spark.sql.{Column, DataFrame, GraftSqlShim, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.functions.VectorFunctions._

/** Approximate-nearest-neighbour search over embedding columns.
  *
  * Three access paths, trading recall for scan cost:
  *  - brute force (BruteForce.knn / knnJoin) — the exact baseline;
  *  - random-hyperplane LSH buckets — sign-bit sketch of each vector;
  *    query probes its own bucket (plus optional multi-probe neighbours
  *    at 1 hamming bit) and ranks candidates exactly;
  *  - IVF (inverted-file) coarse partitioning — vectors assigned to the
  *    nearest of C coarse centroids; query probes the nprobe nearest
  *    lists and ranks those exactly.
  *
  * Scale: both paths turn a full-scan kNN into a pruned scan keyed by a
  * partition column (bucket / list id). At 100 TB the embedding table is
  * written partitioned/bucketed by that key, so a probe is a partition-
  * pruned parquet read — no shuffle at query time. Hyperplanes/centroids
  * are tiny and broadcast. Determinism: hyperplanes come from a seeded
  * PRNG embedded as literals; centroids are the first C vectors by id
  * (deterministic; a Lloyd refinement would keep the same plumbing). */
object Similarity {

  /** Deterministic hyperplanes: `numPlanes` x `dim` doubles in [-1, 1]
    * from a seeded LCG (values are literals — the DuckDB oracle embeds
    * the same constants). */
  def hyperplanes(numPlanes: Int, dim: Int, seed: Long = 7L): Array[Array[Double]] = {
    var state = seed
    def next(): Double = {
      // 64-bit LCG (Knuth), top 53 bits → [0,1)
      state = state * 6364136223846793005L + 1442695040888963407L
      ((state >>> 11).toDouble / (1L << 53).toDouble) * 2.0d - 1.0d
    }
    Array.fill(numPlanes, dim)(next())
  }

  /** Johnson–Lindenstrauss random-projection kNN: coarse-rank by the
    * distance in a `planes.length`-dimensional random projection (JL:
    * pairwise distances are preserved within (1±ε) at m = O(log n / ε²)
    * dims — data-FREE, unlike PCA, so the planes are seeded literals
    * and the whole path has an exact SQL oracle), keep the best `pool`
    * ids, then re-rank the pool by exact distance.
    *
    * The query's own projection dot(q, p_j) is a driver-side constant
    * c_j (same left-to-right accumulation as the codegen/list_dot_
    * product loop), so the per-row reduced distance is a fixed-order
    * sum of `m` squared (dot − c_j) terms — m narrow dots against a
    * 16× shorter effective column instead of d-wide arithmetic when
    * the projection is precomputed and stored; here it is computed
    * in-scan to keep the operator self-contained. At scale: store the
    * projected vectors as a sidecar column (one narrow map at ingest)
    * and the coarse pass scans m doubles per row instead of d. */
  def rpKnn(emb: DataFrame, idCol: String, vecCol: String,
            planes: Array[Array[Double]], q: Seq[Double],
            pool: Int, k: Int): DataFrame = {
    val cs = planes.map(p =>
      p.iterator.zip(q.iterator).map { case (a, b) => a * b }.sum)
    val rpDist = planes.zip(cs).map { case (p, c) =>
      val dl = dot(col(vecCol), doubleVec(p.toIndexedSeq)) - lit(c)
      dl * dl
    }.reduce(_ + _)
    val pooled = emb
      .select(col(idCol), col(vecCol), rpDist.as("rp_dist"))
      .orderBy(col("rp_dist").asc_nulls_last, col(idCol)).limit(pool)
    pooled
      .withColumn("dist", dist(col(vecCol), doubleVec(q)))
      .orderBy(col("dist").asc_nulls_last, col(idCol)).limit(k)
      .select(row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("dist").asc_nulls_last, col(idCol))).as("rank"),
        col(idCol))
  }

  /* Ranking convention: every distance ordering in this file is
   `asc_nulls_last` — a null/length-mismatched vector yields dist = NULL,
   and Spark's default ascending sort is NULLS FIRST, which would seat
   such rows AHEAD of every real neighbor in the top-k. */

  /** Sign-bit bucket id of a vector column for the given planes:
    * bit j set ⇔ dot(v, plane_j) > 0. */
  def lshBucket(vec: Column, planes: Array[Array[Double]]): Column = {
    require(planes.nonEmpty,
      "lshBucket needs at least one plane (empty/corrupt sidecar?)")
    planes.zipWithIndex.map { case (p, j) =>
      when(dot(vec, doubleVec(p.toIndexedSeq)) > 0d, lit(1 << j)).otherwise(lit(0))
    }.reduce(_ + _)
  }

  /** Assign every vector its LSH bucket. */
  def lshAssign(emb: DataFrame, idCol: String, vecCol: String,
                planes: Array[Array[Double]]): DataFrame =
    emb.withColumn("bucket", lshBucket(col(vecCol), planes))

  /** Driver-side bucket of a query vector — MUST stay in lockstep with
    * lshBucket's `dot > 0` sign convention. */
  def queryBucket(planes: Array[Array[Double]], q: Seq[Double]): Int =
    planes.zipWithIndex.map { case (p, j) =>
      val d = p.indices.map(i => q(i) * p(i)).sum
      // Spark SQL orders NaN GREATER than every numeric, so lshBucket's
      // `dot > 0d` is TRUE for a NaN dot — mirror that here or the two
      // sides hash the same vector to different buckets
      if (d > 0 || d.isNaN) 1 << j else 0
    }.sum

  /** ANN top-k: rank (exactly) only the vectors in the query's bucket.
    * Recall < 1 by construction; the candidate set is deterministic. */
  def lshKnn(emb: DataFrame, idCol: String, vecCol: String,
             planes: Array[Array[Double]], q: Seq[Double], k: Int): DataFrame = {
    val qBucket = queryBucket(planes, q)
    lshAssign(emb, idCol, vecCol, planes)
      .filter(col("bucket") === qBucket)
      .withColumn("dist", dist(col(vecCol), doubleVec(q)))
      .orderBy(col("dist").asc_nulls_last, col(idCol))
      .limit(k)
  }

  /** Batch LSH kNN JOIN — the bucket-path twin of [[ivfKnnJoin]]: every
    * query row meets exactly the store rows sharing its sign-bit
    * bucket (broadcast equi-join on the bucket key — the store side is
    * one map-only assignment scan, never Q×N), then one per-query
    * window ranks candidates exactly. Recall < 1 by construction (the
    * single-bucket trade); candidates are deterministic. Returns
    * (qid, id, bucket, dist). */
  def lshKnnJoin(emb: DataFrame, idCol: String, vecCol: String,
                 queries: DataFrame, qIdCol: String, qVecCol: String,
                 planes: Array[Array[Double]], k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val qB = queries
      .select(col(qIdCol).cast("long").as("qid"), col(qVecCol).as("qv"))
      .withColumn("bucket", lshBucket(col("qv"), planes))
    lshAssign(emb, idCol, vecCol, planes)
      .join(broadcast(qB), Seq("bucket"))
      .withColumn("dist", dist(col(vecCol), col("qv")))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("dist").asc_nulls_last, col(idCol))))
      .filter(col("rn") <= k)
      .select(col("qid"), col(idCol), col("bucket"), col("dist"))
  }

  /** MULTI-PROBE batch LSH kNN JOIN — [[lshKnnJoin]] with each query
    * also probing every bucket at hamming distance 1 from its own (one
    * flipped sign bit — the standard recall boost, the batch twin of
    * [[probeBucketedMulti]]): the query side explodes to numPlanes+1
    * (qid, bucket) rows — bounded, Q·(P+1), all buckets distinct so no
    * candidate pair repeats — while the store side stays ONE map-only
    * assignment scan joined broadcast on the bucket key; one per-query
    * window takes the exact top-k over the union of probed buckets.
    * Returns (qid, id, bucket, dist) — bucket is the STORE row's. */
  def lshKnnJoinMulti(emb: DataFrame, idCol: String, vecCol: String,
                      queries: DataFrame, qIdCol: String, qVecCol: String,
                      planes: Array[Array[Double]], k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // materialize the bucket hash ONCE per query row: embedding the
    // full P-dot expression in all P+1 array slots would re-evaluate it
    // per slot inside GenerateExec (no subexpression elimination there)
    val probed = array((col("_b0") +: planes.indices.map(j =>
      col("_b0").bitwiseXOR(lit(1 << j)))): _*)
    val qB = queries
      .select(col(qIdCol).cast("long").as("qid"), col(qVecCol).as("qv"))
      .withColumn("_b0", lshBucket(col("qv"), planes))
      .withColumn("bucket", explode(probed))
      .drop("_b0")
    lshAssign(emb, idCol, vecCol, planes)
      .join(broadcast(qB), Seq("bucket"))
      .withColumn("dist", dist(col(vecCol), col("qv")))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("dist").asc_nulls_last, col(idCol))))
      .filter(col("rn") <= k)
      .select(col("qid"), col(idCol), col("bucket"), col("dist"))
  }

  /** The deterministic coarse-centroid set shared by assignment and
    * probing: the `numLists` vectors with the smallest ids (a Lloyd
    * refinement would keep the same plumbing). Collected to the driver —
    * numLists × dim doubles, a few KB — so assignment can be a map-only
    * projection. */
  def ivfCentroids(emb: DataFrame, idCol: String, vecCol: String,
                   numLists: Int): Array[(Long, Array[Double])] =
    emb.orderBy(col(idCol)).limit(numLists)
      .select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))

  /** Nearest-centroid column for a vector column: a native constant-
    * table argmin ([[graft.functions.NearestIdExpr]]) — one tight
    * codegen loop over the centroid table held as a reference object,
    * O(1) generated-code size for ANY C. A pure projection — no n×C row
    * expansion, no shuffle, no aggregate. Semantics identical to the
    * previous array_min-over-structs form (sqrt'd float64 distances,
    * ties → lowest list id — what the DuckDB oracles recompute); that
    * form unrolled every centroid into the plan, overflowing janino's
    * 64KB method limit past C ≈ 256 (round-8 ivfpqbench finding). */
  def ivfListId(vec: Column, centroids: Array[(Long, Array[Double])]): Column =
    graft.functions.NearestExpr.nearestId(vec, centroids, sqrtCompare = true)

  /** Two-level ROUTED assignment for corpus-scale centroid counts
    * (C ≫ 10³, where even a tight O(C)-per-row loop dominates): route
    * to the nearest of ~√C stride-sampled super-centroids, exact argmin
    * within the routed super's members — O(√C) work per row,
    * deterministic, approximate at super boundaries (the hierarchical
    * k-means trade). Opt-in: callers that need the exact argmin (every
    * oracle-gated query) keep [[ivfListId]]. */
  def ivfListIdRouted(vec: Column, centroids: Array[(Long, Array[Double])],
                      fanout: Int = 0,
                      routeSpark: Option[org.apache.spark.sql.SparkSession] = None): Column =
    graft.functions.NearestExpr.nearestIdRouted(vec, centroids,
      sqrtCompare = true, fanout,
      routePrep = routeSpark.map(sp => routeCentroids(sp) _))

  /** Member routing for the two-level assignment computed as a SPARK
    * JOB instead of the serial driver loop — same contract bit-for-bit
    * (raw-d2 left-to-right float64 accumulation, ties to the earliest
    * super — exactly the serial loop's operations): the O(C·S·dim)
    * routing work distributes across the cluster, leaving the driver
    * only the C-row result. Plumbing is a raw RDD over the centroid
    * array with the supers broadcast once — double arrays ship via
    * cheap Java serialization, not per-row SQL encoders (the encoder
    * form measured SLOWER than the serial loop up to C=10⁶). Pass via
    * `routeSpark` once C reaches ~10⁵–10⁶, where the serial prep takes
    * minutes. BOUNDED COLLECT: the result (and the routed map built
    * from it) is C ints + the C×dim centroid table the caller already
    * holds — driver memory is bounded by the existing centroid-table
    * contract (KBs at C=10³, ~1 GB at C=10⁶×dim 96), never by the
    * corpus. */
  def routeCentroids(spark: org.apache.spark.sql.SparkSession)(
      sorted: Array[(Long, Array[Double])],
      supers: Array[Array[Double]]): Array[Int] = {
    val sc = spark.sparkContext
    val supB = sc.broadcast(supers)
    val parts = math.max(sc.defaultParallelism,
      math.min(1024, sorted.length / 2048)).max(1)
    val routed = sc.parallelize(sorted.toIndexedSeq, parts)
      .map { case (lid, cv) =>
        val sup = supB.value
        var bestIdx = 0
        var best = Double.PositiveInfinity
        var si = 0
        while (si < sup.length) {
          val sv = sup(si)
          var acc = 0.0d
          var i = 0
          while (i < cv.length) {
            val diff = cv(i) - sv(i); acc += diff * diff; i += 1
          }
          if (acc < best) { best = acc; bestIdx = si }
          si += 1
        }
        (lid, bestIdx)
      }
      .collect().toMap
    supB.destroy()
    sorted.map { case (lid, _) => routed(lid) }
  }

  /** IVF coarse assignment: emb + `list_id` of the nearest centroid. */
  def ivfAssign(emb: DataFrame, idCol: String, vecCol: String,
                numLists: Int): DataFrame =
    emb.withColumn("list_id",
      ivfListId(col(vecCol), ivfCentroids(emb, idCol, vecCol, numLists)))

  /** Persist embeddings partitioned by their LSH bucket: an ANN probe
    * then reads exactly one (or a few, multi-probe) partitions —
    * partition-pruned parquet, no shuffle, no full scan. This is the
    * 100 TB serving layout for the LSH path. The hyperplane set is
    * persisted as a KB-sized sidecar (mirroring writeIvf's centroid
    * sidecar) so incremental maintenance ([[appendBucketed]],
    * [[StoreMaintain.removeFromStore]]) and probes can recover the
    * frozen hash family from the store alone. */
  def writeBucketed(emb: DataFrame, idCol: String, vecCol: String,
                    planes: Array[Array[Double]], path: String): Unit = {
    StoreMaintain.write(lshAssign(emb, idCol, vecCol, planes), path, "bucket")
    StoreMaintain.writeSidecar(emb.sparkSession, path, "planes", PlanesSchema,
      planes.zipWithIndex.map { case (p, i) => Row(i, p.toSeq) }.toSeq)
  }

  /** The `.planes` sidecar's layout: one row per hyperplane. */
  private val PlanesSchema = StructType.fromDDL("plane_id int, components array<double>")

  /** The store's frozen hyperplane family, from its sidecar. */
  def readPlanes(spark: org.apache.spark.sql.SparkSession,
                 path: String): Array[Array[Double]] =
    StoreMaintain.readSidecar(spark, path, "planes", PlanesSchema)
      .sortBy(_.getInt(0))
      .map(_.getSeq[Double](1).toArray)

  /** INCREMENTAL maintenance of a bucketed LSH store — [[appendIvf]]'s
    * twin for the LSH path: hash the new vectors with the store's OWN
    * frozen plane sidecar and APPEND them to their bucket partitions.
    * Only touched partitions gain files; existing files are never
    * rewritten; probes see old ∪ new rows. `newVecs` must carry the
    * same data columns as the frame [[writeBucketed]] persisted. */
  def appendBucketed(spark: org.apache.spark.sql.SparkSession, path: String,
                     newVecs: DataFrame, idCol: String, vecCol: String): Unit =
    StoreMaintain.append(lshAssign(newVecs, idCol, vecCol, readPlanes(spark, path)),
      path, "bucket")

  /** A pre-opened bucketed-LSH serving handle: the store DataFrame (its
    * partition file index is built once, at open — `spark.read.parquet`
    * on a 2^P-partition store re-LISTS every bucket dir per call
    * otherwise; see [[IvfPq.Store]] for the measured cost) plus the
    * decoded plane sidecar. Partition pruning still applies to probes
    * through the handle — pruning filters the cached index. */
  final case class BucketedStore(rows: DataFrame, planes: Array[Array[Double]])

  /** Open a persisted bucketed store once: one partition listing, one
    * sidecar read. */
  def openBucketed(spark: org.apache.spark.sql.SparkSession,
                   path: String): BucketedStore =
    BucketedStore(StoreMaintain.read(spark, path), readPlanes(spark, path))

  /** Probe a bucketed store: top-k within the given buckets. The bucket
    * filter prunes at the partition level (visible as PartitionFilters
    * in the scan). */
  private def probeBuckets(store: BucketedStore,
                           idCol: String, vecCol: String, buckets: Seq[Int],
                           q: Seq[Double], k: Int): DataFrame =
    store.rows
      .filter(col("bucket").isin(buckets: _*))
      .withColumn("dist", dist(col(vecCol), doubleVec(q)))
      .orderBy(col("dist").asc_nulls_last, col(idCol))
      .limit(k)

  /** Top-k within the query's own bucket. */
  def probeBucketed(store: BucketedStore, idCol: String, vecCol: String,
                    q: Seq[Double], k: Int): DataFrame =
    probeBuckets(store, idCol, vecCol,
      Seq(queryBucket(store.planes, q)), q, k)

  /** Multi-probe variant: also visit every bucket at hamming distance 1
    * from the query's (one flipped sign bit) — the standard recall boost;
    * still a partition-pruned IN-filter read of numPlanes+1 buckets. */
  def probeBucketedMulti(store: BucketedStore, idCol: String, vecCol: String,
                         q: Seq[Double], k: Int): DataFrame = {
    val qBucket = queryBucket(store.planes, q)
    probeBuckets(store, idCol, vecCol,
      qBucket +: store.planes.indices.map(j => qBucket ^ (1 << j)), q, k)
  }

  /** A batch probe's per-query rows collected once: the distinct values
    * of their partition column `key` and the rows as a relation to
    * broadcast, which takes no pin. */
  private def collectProbes(probes: DataFrame, key: String): (Seq[Any], DataFrame) = {
    val rows = GraftSqlShim.collectInternal(probes)
    val at = probes.schema.fieldIndex(key)
    (rows.map(_.get(at, probes.schema(at).dataType)).distinct.toSeq,
      GraftSqlShim.localRelation(probes.sparkSession, probes.schema, rows.toSeq))
  }

  /** BATCH probe of a persisted LSH-bucketed store — [[lshKnnJoinMulti]]
    * against the serving layout (completing the {LSH, IVF, IVFADC} ×
    * {single, batch} probe matrix): each query row probes its own
    * bucket plus the numPlanes hamming-1 neighbours, the store read is
    * pruned to the UNION of probed bucket partitions (PartitionFilters
    * on bucket — at most Q·(P+1) of 2^P partitions touched), the
    * broadcast (qid, bucket) join narrows each row to the queries
    * probing its bucket, and one per-query window takes the exact
    * top-k. Returns (qid, id, bucket, dist). */
  def probeBucketedBatch(store: BucketedStore, idCol: String, vecCol: String,
                         queries: DataFrame, qIdCol: String, qVecCol: String,
                         k: Int, multiProbe: Boolean = true): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val planes = store.planes
    // bucket hash materialized once per query row (see lshKnnJoinMulti)
    val probed =
      if (multiProbe) array((col("_b0") +: planes.indices.map(j =>
        col("_b0").bitwiseXOR(lit(1 << j)))): _*)
      else array(col("_b0"))
    val probes = queries
      .select(col(qIdCol).cast("long").as("qid"), col(qVecCol).as("qv"))
      .withColumn("_b0", lshBucket(col("qv"), planes))
      .withColumn("bucket", explode(probed))
      .drop("_b0")
    // the touched-bucket union prunes the store read at partition level
    val (buckets, qB) = collectProbes(probes, "bucket")
    store.rows
      .filter(col("bucket").isin(buckets: _*))
      .join(broadcast(qB), Seq("bucket"))
      .withColumn("dist", dist(col(vecCol), col("qv")))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("dist").asc_nulls_last, col(idCol))))
      .filter(col("rn") <= k)
      .select(col("qid"), col(idCol), col("bucket"), col("dist"))
  }

  /** Lloyd's k-means refinement of the IVF coarse quantizer: start from
    * the deterministic first-C seed, then `iters` rounds of map-only
    * assignment (ivfListId — no shuffle of the points beyond the
    * per-list mean aggregation, which reuses the single-pass Welford
    * aggregator over whole vectors). Lists that lose every member keep
    * their previous centroid. The refined set drops into ivfAssign /
    * ivfKnnWith / writeIvf unchanged. */
  def ivfTrain(emb: DataFrame, idCol: String, vecCol: String,
               numLists: Int, iters: Int,
               assign: (Column, Array[(Long, Array[Double])]) => Column =
                 ivfListId): Array[(Long, Array[Double])] = {
    var cents = ivfCentroids(emb, idCol, vecCol, numLists)
    val vs = graft.functions.VecStatsNative.vecStats _
    for (_ <- 0 until iters) {
      val means = emb
        .select(assign(col(vecCol), cents).as("list_id"),
          col(idCol).cast("long").as("id"),
          col(vecCol).cast("array<float>").as("vector"))
        .groupBy(col("list_id"))
        .agg(vs(col("id"), col("vector")).as("vs"))
        .select(col("list_id"), col("vs.mean"))
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
        .toMap
      cents = cents.map { case (lid, old) => (lid, means.getOrElse(lid, old)) }
    }
    cents
  }

  /** Mean squared distance of every vector to its assigned centroid —
    * the k-means cost (for monitoring ivfTrain convergence). Native
    * constant-table kernel ([[graft.functions.NearestDistSqExpr]]): the
    * previous array_min-over-structs form unrolled O(C) generated code
    * and fell out of codegen past C ≈ 256, exactly like the old
    * assignment expression. */
  def ivfCost(emb: DataFrame, vecCol: String,
              centroids: Array[(Long, Array[Double])]): Double =
    emb.select(graft.functions.NearestExpr.nearestDistSq(
        col(vecCol), centroids.map(_._2)).as("d2"))
      .agg(avg(col("d2"))).head() match {
      case r if r.isNullAt(0) => Double.NaN // empty input: no cost
      case r => r.getDouble(0)
    }

  /** IVF top-k against an explicit (possibly Lloyd-refined) centroid
    * set — the ivfKnn body, shared. */
  def ivfKnnWith(emb: DataFrame, idCol: String, vecCol: String,
                 centroids: Array[(Long, Array[Double])], nprobe: Int,
                 q: Seq[Double], k: Int): DataFrame = {
    val probe = ivfProbeLists(centroids, q, nprobe)
    emb.withColumn("list_id", ivfListId(col(vecCol), centroids))
      .filter(col("list_id").isin(probe: _*))
      .withColumn("dist", dist(col(vecCol), doubleVec(q)))
      .orderBy(col("dist").asc_nulls_last, col(idCol))
      .limit(k)
  }

  /** The `nprobe` centroid lists nearest to a query — computed on the
    * driver from the collected centroid set (no Spark job). */
  def ivfProbeLists(centroids: Array[(Long, Array[Double])], q: Seq[Double],
                    nprobe: Int): Seq[Long] =
    centroids.map { case (lid, cv) =>
      val d2 = cv.indices.foldLeft(0d) { (acc, i) =>
        val diff = q(i) - cv(i); acc + diff * diff
      }
      (d2, lid)
    }.sorted.take(nprobe).map(_._2).toSeq

  /** IVF ANN top-k: probe the `nprobe` centroid lists nearest to the
    * query, rank their members exactly. One centroid collect feeds the
    * map-only assignment, the driver-side probe selection, and the final
    * pruned ranking (scan → project → filter → TakeOrdered: no shuffle
    * before the top-k). */
  def ivfKnn(emb: DataFrame, idCol: String, vecCol: String,
             numLists: Int, nprobe: Int, q: Seq[Double], k: Int): DataFrame =
    ivfKnnWith(emb, idCol, vecCol,
      ivfCentroids(emb, idCol, vecCol, numLists), nprobe, q, k)

  /** The collected centroid table as a (list_id, cv) RELATION — data in
    * a LocalRelation the optimizer broadcasts, NOT an expression-tree
    * literal: a C-element literal array grows the analyzed plan (and
    * every optimizer pass over it) linearly in C·dim, which cliffs at
    * corpus-scale C; a LocalRelation's rows are opaque payload, so the
    * plan stays O(1) no matter how many centroids (routebench A/B in
    * BASELINE.md). */
  private[graft] def centroidRelation(
      spark: org.apache.spark.sql.SparkSession,
      cents: Array[(Long, Array[Double])]): DataFrame = {
    import spark.implicits._
    cents.map { case (lid, cv) => (lid, cv.toSeq) }.toSeq
      .toDF("list_id", "cv")
  }

  /** Per-query nprobe nearest lists from a centroid RELATION: broadcast
    * nested-loop join (queries × centroids) + per-query window — the
    * same (cd, list_id)-ordered top-nprobe the literal-explode form
    * computed, with the centroid table travelling as broadcast data
    * instead of a plan constant. Returns (qid, qv, list_id). */
  private[graft] def probeListsJoin(queries: DataFrame, qIdCol: String,
                                    qVecCol: String, centRel: DataFrame,
                                    nprobe: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    queries
      .select(col(qIdCol).cast("long").as("qid"),
        col(qVecCol).cast("array<double>").as("qv"))
      .crossJoin(broadcast(
        centRel.select(col("list_id").cast("long"),
          col("cv").cast("array<double>").as("cv"))))
      .select(col("qid"), col("qv"), col("list_id"),
        dist(col("qv"), col("cv")).as("cd"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("cd"), col("list_id"))))
      .filter(col("rn") <= nprobe)
      .select(col("qid"), col("qv"), col("list_id"))
  }

  /** Batch IVF kNN JOIN — the similarity-join scale path (the ANN
    * analog of [[BruteForce.knnJoin]]): every row of a SMALL query
    * relation gets its own `nprobe` nearest lists, the big side is
    * scanned ONCE with the map-only assignment projection, candidates
    * form by a broadcast equi-join on list_id (each store row meets
    * only the queries probing its list — candidate rows ≈
    * Σ_q |probed lists|/numLists of the store, not Q×N), and one
    * per-query window takes the exact top-k. Per-query probe lists come
    * from a broadcast JOIN against the centroid relation
    * ([[probeListsJoin]]) — the centroid table is broadcast data, never
    * a Q×C plan literal, so probe construction stays flat at corpus C.
    * Returns (qid, id, dist). */
  def ivfKnnJoin(emb: DataFrame, idCol: String, vecCol: String,
                 queries: DataFrame, qIdCol: String, qVecCol: String,
                 numLists: Int, nprobe: Int, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cents = ivfCentroids(emb, idCol, vecCol, numLists)
    val qProbe = probeListsJoin(queries, qIdCol, qVecCol,
      centroidRelation(emb.sparkSession, cents), nprobe)
    emb
      .withColumn("list_id", ivfListId(col(vecCol), cents))
      .join(broadcast(qProbe), Seq("list_id"))
      .withColumn("dist", dist(col(vecCol), col("qv")))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("dist").asc_nulls_last, col(idCol))))
      .filter(col("rn") <= k)
      .select(col("qid"), col(idCol), col("dist"))
  }

  /** Persist embeddings partitioned by IVF list (the 100 TB serving
    * layout for the IVF path, mirroring writeBucketed): a probe reads
    * only its nprobe list partitions. The centroid set is persisted
    * next to the store so probes don't need the original table. */
  def writeIvf(emb: DataFrame, idCol: String, vecCol: String,
               numLists: Int, path: String): Unit = {
    val centroids = ivfCentroids(emb, idCol, vecCol, numLists)
    StoreMaintain.write(emb.withColumn("list_id", ivfListId(col(vecCol), centroids)),
      path, "list_id")
    writeIvfCentroids(emb.sparkSession, centroids, path)
  }

  /** The `.centroids` sidecar's layout (the IVF, IVF-PQ and IVF-SQ8
    * stores share it). */
  private val CentroidSchema = StructType.fromDDL("list_id long, centroid array<double>")

  /** Persist a store's coarse-centroid set as its `.centroids` sidecar. */
  def writeIvfCentroids(spark: org.apache.spark.sql.SparkSession,
                        centroids: Array[(Long, Array[Double])],
                        path: String): Unit =
    StoreMaintain.writeSidecar(spark, path, "centroids", CentroidSchema,
      centroids.map { case (lid, cv) => Row(lid, cv.toSeq) }.toSeq)

  /** The store's frozen coarse-centroid set, from its sidecar. */
  def readIvfCentroids(spark: org.apache.spark.sql.SparkSession,
                       path: String): Array[(Long, Array[Double])] =
    StoreMaintain.readSidecar(spark, path, "centroids", CentroidSchema)
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))

  /** INCREMENTAL maintenance of a persisted IVF store: assign the new
    * vectors to their lists with the store's OWN centroid sidecar (the
    * quantizer is frozen — exactly how IVF serving systems ingest; a
    * re-train is a rewrite) and APPEND them to their list partitions.
    * Only the touched partitions gain files; existing files are never
    * rewritten, probes see old ∪ new rows (append is the natural mode
    * here — unlike the per-document tree store, whose partitions hold
    * derived structure and need [[graft.sources.IndexStore]]'s
    * replace). The ingest side of a streaming pipeline can call this
    * from foreachBatch unchanged. `newVecs` must carry the same data
    * columns as the frame [[writeIvf]] persisted. */
  def appendIvf(spark: org.apache.spark.sql.SparkSession, path: String,
                newVecs: DataFrame, vecCol: String): Unit = {
    val centroids = readIvfCentroids(spark, path)
    StoreMaintain.append(newVecs.withColumn("list_id", ivfListId(col(vecCol), centroids)),
      path, "list_id")
  }

  /** A pre-opened IVF serving handle: the store DataFrame (partition
    * file index built once at open — see [[IvfPq.Store]] for why) plus
    * the decoded centroid sidecar. */
  final case class IvfStore(rows: DataFrame,
                            centroids: Array[(Long, Array[Double])])

  /** Open a persisted IVF store once: one partition listing and the
    * centroid sidecar, read on the driver; no Spark job. */
  def openIvf(spark: org.apache.spark.sql.SparkSession,
              path: String): IvfStore =
    IvfStore(StoreMaintain.read(spark, path), readIvfCentroids(spark, path))

  /** Probe an IVF store: top-k within the nprobe nearest lists — a
    * partition-pruned read (PartitionFilters on list_id), no shuffle. */
  def probeIvf(store: IvfStore, idCol: String, vecCol: String,
               q: Seq[Double], nprobe: Int, k: Int): DataFrame = {
    val probe = ivfProbeLists(store.centroids, q, nprobe)
    store.rows
      .filter(col("list_id").isin(probe: _*))
      .withColumn("dist", dist(col(vecCol), doubleVec(q)))
      .orderBy(col("dist").asc_nulls_last, col(idCol))
      .limit(k)
  }

  /** FILTERED probe: top-k among rows satisfying `pred` within the
    * nprobe nearest lists — the metadata-constrained serving query
    * ("nearest documents WHERE lang = 'en'"), the filtered-search shape
    * every production vector store exposes (public pattern; no
    * reference counterpart). The predicate is applied INSIDE the
    * pruned scan — before the top-k cut, after partition pruning — so
    * a selective filter shrinks the ranked set rather than starving a
    * post-filter of results (the classic filtered-ANN pitfall: top-k
    * then filter returns < k rows). At low selectivity widen nprobe:
    * the expected candidate count is selectivity · (probed occupancy).
    * Filters on columns stored in the row (ids, payload metadata) reach
    * the parquet reader as data filters; the list pruning stays
    * partition-level. */
  def probeIvfWhere(store: IvfStore, idCol: String, vecCol: String,
                    q: Seq[Double], nprobe: Int, k: Int,
                    pred: Column): DataFrame = {
    val probe = ivfProbeLists(store.centroids, q, nprobe)
    store.rows
      .filter(col("list_id").isin(probe: _*))
      .filter(pred)
      .withColumn("dist", dist(col(vecCol), doubleVec(q)))
      .orderBy(col("dist").asc_nulls_last, col(idCol))
      .limit(k)
  }

  /** [[probeIvfWhere]] with the filter arriving as an ALLOW-LIST
    * relation of permitted ids (takedown lists, ACL scopes, dedup
    * survivors) — a semi-join against the pruned scan, broadcast when
    * the list is small (left to AQE otherwise), so the store is never
    * scanned beyond the probed lists and the allow-list is never
    * collected to the driver. */
  def probeIvfAllowed(store: IvfStore, idCol: String, vecCol: String,
                      q: Seq[Double], nprobe: Int, k: Int,
                      allowed: DataFrame, allowedIdCol: String): DataFrame = {
    val probe = ivfProbeLists(store.centroids, q, nprobe)
    store.rows
      .filter(col("list_id").isin(probe: _*))
      .join(allowed.select(col(allowedIdCol).as(idCol)).distinct(),
        Seq(idCol), "left_semi")
      .withColumn("dist", dist(col(vecCol), doubleVec(q)))
      .orderBy(col("dist").asc_nulls_last, col(idCol))
      .limit(k)
  }

  /** BATCH probe of a persisted IVF store — [[ivfKnnJoin]] against the
    * serving layout: each query row of a SMALL relation computes its
    * own nprobe nearest lists by joining the store's persisted centroid
    * SIDECAR as a broadcast relation ([[probeListsJoin]] — the sidecar
    * never touches the driver and never becomes a plan literal), the
    * store read is pruned to the UNION of probed list partitions
    * (PartitionFilters on list_id — at most Q·nprobe of numLists
    * partitions touched), the broadcast (qid, list) join narrows each
    * row to the queries that probed its list, and one per-query window
    * takes the exact top-k. Returns (qid, id, dist). */
  def probeIvfBatch(store: IvfStore, idCol: String, vecCol: String,
                    queries: DataFrame, qIdCol: String, qVecCol: String,
                    nprobe: Int, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val centRel = centroidRelation(store.rows.sparkSession, store.centroids)
    val probes = probeListsJoin(queries, qIdCol, qVecCol, centRel, nprobe)
    // the touched-list union prunes the parquet read at partition level
    val (lists, qProbe) = collectProbes(probes, "list_id")
    store.rows
      .filter(col("list_id").isin(lists: _*))
      .join(broadcast(qProbe), Seq("list_id"))
      .withColumn("dist", dist(col(vecCol), col("qv")))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("dist").asc_nulls_last, col(idCol))))
      .filter(col("rn") <= k)
      .select(col("qid"), col(idCol), col("dist"))
  }
}
