package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

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

  /** Code levels per dim (int8 storage). */
  private val Levels = 256

  /** The `.extent` sidecar's layout: one row per dim with its min,
    * extent and the store's level count. */
  private val ExtentSchema = StructType.fromDDL("idx int, mn double, ex double, levels int")

  /** Persist the IVF-SQ8 serving layout: narrow (id, codes) rows
    * partitioned by list_id, with the coarse-centroid set and the
    * per-dim quantization extent as KB-sized sidecars. Centroids are
    * the deterministic first-numLists seed refined `coarseIters` Lloyd
    * rounds (0 = exact oracle-replayable assignment). */
  def write(emb: DataFrame, idCol: String, vecCol: String,
            numLists: Int, coarseIters: Int, path: String): Unit = {
    val spark = emb.sparkSession
    val centroids = Similarity.ivfTrain(emb, idCol, vecCol, numLists, coarseIters)
    // the per-dim extent, aggregated once: it encodes the rows and is
    // the sidecar
    val (mins, exts) = VectorStats.sqExtent(emb, idCol, vecCol)
    StoreMaintain.write(encode(emb, idCol, vecCol, centroids, mins, exts, Levels),
      path, "list_id")
    Similarity.writeIvfCentroids(spark, centroids, path)
    StoreMaintain.writeSidecar(spark, path, "extent", ExtentSchema,
      mins.indices.map(i => Row(i, mins(i), exts(i), Levels)))
  }

  /** (id, list_id, codes): each vector's nearest list and its codes. */
  private def encode(emb: DataFrame, idCol: String, vecCol: String,
                     centroids: Array[(Long, Array[Double])],
                     mins: Array[Double], exts: Array[Double],
                     levels: Int): DataFrame =
    emb.select(col(idCol),
      Similarity.ivfListId(col(vecCol), centroids).as("list_id"),
      VectorStats.sqEncode(col(vecCol), mins, exts, levels).as("codes"))

  /** Open a persisted IVF-SQ8 store once: one partition listing, one
    * read of each sidecar. */
  def open(spark: SparkSession, path: String): Store = {
    val ext = StoreMaintain.readSidecar(spark, path, "extent", ExtentSchema)
      .sortBy(_.getInt(0))
    Store(StoreMaintain.read(spark, path),
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
    StoreMaintain.append(
      encode(newVecs, idCol, vecCol, st.centroids, st.mins, st.exts, st.levels),
      path, "list_id")
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
        dist(VectorStats.sqDecode(col("codes"), store.mins, store.exts, store.levels),
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
        dist(VectorStats.sqDecode(col("codes"), store.mins, store.exts, store.levels),
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
}
