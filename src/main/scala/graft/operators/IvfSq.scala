package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions.{dist, doubleVec}

/** IVF + SQ8: the inverted-file coarse quantizer over SCALAR-quantized
  * (int8-per-dim) storage — faiss's IVF/SQ workhorse layout (public
  * method, no reference counterpart), completing the serving-store
  * family {bucketed LSH, IVF-flat, IVFADC, IVF-SQ8}. Rows are
  * partitioned by nearest coarse centroid exactly like the IVF-flat
  * store, but the persisted payload is the 4×-smaller code column; a
  * probe prunes to the nprobe nearest list partitions, ranks by the
  * BIN-CENTER decode of the codes (the same fixed-order IEEE chain as
  * [[VectorStats.sqKnn]] — the DuckDB oracle predicts it bit for bit),
  * keeps topN, and exactly re-ranks those via a broadcast keyed join
  * against the wide vector table.
  *
  * Scale shape (the 100 TB layout): scan surface = d bytes-ish per row
  * over nprobe/numLists of the corpus, partition-pruned
  * (PartitionFilters on list_id), no shuffle before the top-k; the
  * quantization extent is a d-entry sidecar (corpus-size-independent);
  * the float vectors are touched only through the topN re-rank join.
  * Unlike IVFADC the codes decode WITHOUT per-list state (global
  * extent, raw — not residual — encoding), which keeps the probe a
  * single codegen projection and makes appends trivially parallel.
  */
object IvfSq {

  /** A pre-opened IVF-SQ8 serving handle (see [[IvfPq.Store]] for why
    * opening is the expensive step at corpus-scale C). */
  final case class Store(codes: DataFrame,
                         centroids: Array[(Long, Array[Double])],
                         mins: Array[Double], exts: Array[Double],
                         levels: Int)

  /** Bin-center decode of a code column against driver-held extents:
    * x̂_i = min_i + (code_i + 0.5)·ext_i/levels; constant dims (ext 0)
    * decode to min_i. The extent arrays are d-sized literals — bounded
    * by dimension, never by corpus or list count. Kept identical, op
    * for op, to [[VectorStats.sqKnn]]'s decode so one oracle SQL form
    * covers both. */
  private def decodeCol(codes: Column, mins: Array[Double],
                        exts: Array[Double], levels: Int): Column = {
    val minsL = array(mins.map(lit).toIndexedSeq: _*)
    val extsL = array(exts.map(lit).toIndexedSeq: _*)
    transform(codes, (c, i) =>
      when(element_at(extsL, i + 1) === 0d, element_at(minsL, i + 1))
        .otherwise(element_at(minsL, i + 1) +
          (c.cast("double") + lit(0.5d)) * element_at(extsL, i + 1) / levels))
  }

  /** Persist the IVF-SQ8 serving layout: narrow (id, codes) rows
    * partitioned by list_id, with the coarse-centroid set and the
    * per-dim quantization extent as KB-sized sidecars. Centroids are
    * the deterministic first-numLists seed refined `coarseIters` Lloyd
    * rounds (0 = exact oracle-replayable assignment). */
  def write(emb: DataFrame, idCol: String, vecCol: String,
            numLists: Int, coarseIters: Int, path: String,
            levels: Int = 256, routed: Boolean = false): Unit = {
    val spark = emb.sparkSession
    // routed: the O(√C) two-level coarse kernel for corpus-scale C
    // (same trade as IvfPq.write — see listIdCol there)
    val assignFn: (Column, Array[(Long, Array[Double])]) => Column =
      if (routed) (v, c) => Similarity.ivfListIdRouted(v, c, routeSpark = Some(spark))
      else Similarity.ivfListId
    val centroids =
      Similarity.ivfTrain(emb, idCol, vecCol, numLists, coarseIters, assignFn)
    emb.crossJoin(broadcast(VectorStats.sqExtent(emb, idCol, vecCol)))
      .withColumn("list_id", assignFn(col(vecCol), centroids))
      .withColumn("codes", VectorStats.sqCode(col(vecCol), levels))
      .select(col(idCol), col("list_id"), col("codes"))
      // one file per list per owning task (see IvfPq.write's note)
      .repartition(col("list_id"))
      .write.mode("overwrite").partitionBy("list_id").parquet(path)
    Similarity.writeIvfCentroids(spark, centroids, path)
    // extent sidecar: one row per dim (idx, mn, ex) + the level count
    VectorStats.sqExtent(emb, idCol, vecCol)
      .select(explode(map_entries(col("_qmins"))).as("m"), col("_qexts"))
      .select(col("m.key").as("idx"), col("m.value").as("mn"),
        element_at(col("_qexts"), col("m.key")).as("ex"),
        lit(levels).as("levels"))
      .coalesce(1).write.mode("overwrite").parquet(path + ".extent")
  }

  /** Open a persisted IVF-SQ8 store once: one partition listing, one
    * read of each sidecar. */
  def open(spark: SparkSession, path: String): Store = {
    val ext = spark.read.parquet(path + ".extent")
      .select(col("idx").cast("int"), col("mn").cast("double"),
        col("ex").cast("double"), col("levels").cast("int"))
      .collect().sortBy(_.getInt(0))
    Store(spark.read.parquet(path),
      Similarity.readIvfCentroids(spark, path),
      ext.map(_.getDouble(1)), ext.map(_.getDouble(2)),
      ext.head.getInt(3))
  }

  /** INCREMENTAL maintenance: encode new vectors with the store's OWN
    * frozen centroid + extent sidecars and append to their list
    * partitions (the quantizer and extent are frozen — re-training is
    * a rewrite). Removal is [[StoreMaintain.removeFromStore]],
    * unchanged — the layout is the same list_id-partitioned narrow
    * table as the IVF-flat store. */
  def append(spark: SparkSession, path: String, newVecs: DataFrame,
             idCol: String, vecCol: String): Unit = {
    val st = open(spark, path)
    val minsL = array(st.mins.map(lit).toIndexedSeq: _*)
    val extsL = array(st.exts.map(lit).toIndexedSeq: _*)
    newVecs
      .withColumn("list_id", Similarity.ivfListId(col(vecCol), st.centroids))
      .withColumn("codes", transform(col(vecCol), (x, i) =>
        least(
          floor(when(element_at(extsL, i + 1) === 0d, lit(0.0d))
            .otherwise((x.cast("double") - element_at(minsL, i + 1)) /
              element_at(extsL, i + 1) * st.levels)).cast("int"),
          lit(st.levels - 1))))
      .select(col(idCol), col("list_id"), col("codes"))
      // one file per touched list, not one per upstream task
      .repartition(col("list_id"))
      .write.mode("append").partitionBy("list_id").parquet(path)
  }

  /** Probe: read ONLY the nprobe nearest list partitions, rank by
    * decoded-code distance with the deterministic (sq_dist, id)
    * tie-break, keep topN, then fetch those vectors by broadcast keyed
    * join and re-rank exactly to k. */
  def probe(store: Store, vectors: DataFrame, idCol: String,
            vecCol: String, q: Seq[Double],
            nprobe: Int, topN: Int, k: Int): DataFrame = {
    val probeLists = Similarity.ivfProbeLists(store.centroids, q, nprobe)
    val cands = store.codes
      .filter(col("list_id").isin(probeLists: _*))
      .withColumn("sq_dist",
        dist(decodeCol(col("codes"), store.mins, store.exts, store.levels),
          doubleVec(q)))
      .orderBy(col("sq_dist"), col(idCol))
      .limit(topN)
    vectors.select(col(idCol), col(vecCol))
      .join(broadcast(cands), Seq(idCol))
      .withColumn("dist", dist(col(vecCol), doubleVec(q)))
      .orderBy(col("dist"), col(idCol))
      .limit(k)
      .drop("codes", "sq_dist")
  }

  /** One-shot [[probe]] (opens the store per call — serving processes
    * should hold the [[Store]] handle instead). */
  def probe(spark: SparkSession, path: String, vectors: DataFrame,
            idCol: String, vecCol: String, q: Seq[Double],
            nprobe: Int, topN: Int, k: Int): DataFrame =
    probe(open(spark, path), vectors, idCol, vecCol, q, nprobe, topN, k)

  /** BATCH kNN JOIN over the store — the a6/a8 shape for the SQ8 path,
    * completing the {LSH, IVF, IVFADC, IVF-SQ8} × {single, batch}
    * probe matrix: per-query probe lists from a broadcast join against
    * the centroid relation, codes scan pruned to the UNION of probed
    * list partitions, per-query WindowGroupLimit topN on the decoded
    * distance, exact re-rank to k through one broadcast keyed join.
    * Simpler than the ADC batch: the decode is GLOBAL (extent
    * literals), so no per-(query, list) lookup tables ride the probe
    * relation. Returns (qid, id, dist). */
  def probeBatch(store: Store, vectors: DataFrame,
                 idCol: String, vecCol: String,
                 queries: DataFrame, qIdCol: String, qVecCol: String,
                 nprobe: Int, topN: Int, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = store.codes.sparkSession
    val centRel = Similarity.centroidRelation(spark, store.centroids)
    val qProbe = Similarity.probeListsJoin(queries, qIdCol, qVecCol,
      centRel, nprobe).localCheckpoint()
    // the touched-list union prunes the codes read at partition level
    val lists = qProbe.select("list_id").distinct()
      .collect().map(_.getLong(0)).toSeq
    val cands = store.codes
      .filter(col("list_id").isin(lists: _*))
      .join(broadcast(qProbe), Seq("list_id"))
      .withColumn("sq_dist",
        dist(decodeCol(col("codes"), store.mins, store.exts, store.levels),
          col("qv")))
      .withColumn("rn", row_number().over(Window.partitionBy(col("qid"))
        .orderBy(col("sq_dist"), col(idCol))))
      .filter(col("rn") <= topN)
      .select(col("qid"), col("qv"), col(idCol))
    vectors.select(col(idCol), col(vecCol))
      .join(broadcast(cands), Seq(idCol))
      .withColumn("dist", dist(col(vecCol), col("qv")))
      .withColumn("rn", row_number().over(Window.partitionBy(col("qid"))
        .orderBy(col("dist"), col(idCol))))
      .filter(col("rn") <= k)
      .select(col("qid"), col(idCol), col("dist"))
  }

  /** One-shot [[probeBatch]] (opens the store per call). */
  def probeBatch(spark: SparkSession, path: String, vectors: DataFrame,
                 idCol: String, vecCol: String,
                 queries: DataFrame, qIdCol: String, qVecCol: String,
                 nprobe: Int, topN: Int, k: Int): DataFrame =
    probeBatch(open(spark, path), vectors, idCol, vecCol,
      queries, qIdCol, qVecCol, nprobe, topN, k)
}
