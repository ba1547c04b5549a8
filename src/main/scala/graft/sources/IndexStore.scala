package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted index store: the reference's dbo.TextIndex table + the
  * idempotent per-document replace of dbo.IndexDocument (`DELETE WHERE
  * DocID=@x; INSERT ...`, DDL.sql:396-418) re-expressed as a
  * docId-partitioned parquet relation with DYNAMIC PARTITION OVERWRITE —
  * replacing one document's index rewrites exactly that partition, other
  * documents' files untouched (S10).
  *
  * At scale, partition pruning makes per-doc search reads O(doc) —
  * `load(docId = Some(x))` scans only that partition's files. */
object IndexStore {

  /** Write (overwriting only the docIds present in `index`). */
  def replaceDocs(index: DataFrame, path: String): Unit =
    graft.operators.StoreMaintain.rewritePartitions(index, path, "docId")

  /** Load the whole store or one document's partition (pruned scan). */
  def load(spark: SparkSession, path: String, docId: Option[Long] = None): DataFrame = {
    val df = graft.operators.StoreMaintain.read(spark, path)
    docId.map(d => df.filter(col("docId") === d)).getOrElse(df)
  }

  /** End-to-end orchestration of the reference's IndexDocument proc
    * (DDL.sql:352-419): take one document's (id, json-vector-string)
    * rows, shred (S2), build (R1), replace its store partition (S10). */
  def indexDocument(spark: SparkSession, texts: DataFrame, docId: Long,
                    idCol: String, jsonVecCol: String, path: String): Unit = {
    val points = texts
      .filter(col("docId") === docId)
      .select(col(idCol), Ingest.parseJsonVector(col(jsonVecCol)).as("vector"))
    val index = graft.operators.IndexBuild.buildIndex(points, idCol, "vector")
      .withColumn("docId", lit(docId))
    replaceDocs(index, path)
  }

  /** Store-level incremental maintenance — the serving analog of the
    * reference's in-memory add/remove (MemoryVectorIndex.cs:86-228,
    * :358-489): apply a batch REMOVE (ids) and/or ADD (new points) to
    * ONE document's persisted index. Loads only that document's
    * partition (pruned read), runs the set-oriented maintenance
    * ([[graft.operators.IndexMaintain.removePoints]] then `addPoints` —
    * O(changed subtrees), never a full rebuild), and replaces exactly
    * that partition (other documents' files untouched). `points` is the
    * document's CURRENT full point relation (post-mutation membership
    * is keyed by surviving leaf ids, so a superset containing removed
    * ids is fine); it feeds the touched-leaf subtree rebuilds on add. */
  def maintainDocument(spark: SparkSession, path: String, docId: Long,
                       points: DataFrame, idCol: String, vecCol: String,
                       add: Option[DataFrame] = None,
                       remove: Option[DataFrame] = None,
                       bucketSize: Int = 1): Unit = {
    val idx0 = load(spark, path, Some(docId)).drop("docId")
    val removed = remove.fold(idx0)(ids =>
      graft.operators.IndexMaintain.removePoints(idx0, ids))
    val added = add.fold(removed)(np =>
      graft.operators.IndexMaintain.addPoints(removed, points, np,
        idCol, vecCol, bucketSize))
    // break lineage before the in-place write: `added` still reads from
    // `path` (idx0 = load(path)), and a write job that re-reads the path
    // it is replacing only works by grace of dynamic-partition-overwrite's
    // staging order — a commit-time failure could lose the only copy of
    // the doc's partition. localCheckpoint materializes the maintained
    // index first so the write never touches its own input.
    graft.operators.Pins.scope { pins =>
      replaceDocs(pins(added.withColumn("docId", lit(docId))), path)
    }
  }

  /** ONE-WAVE orchestration of [[indexDocument]] for every document in
    * `texts`: shred all rows, build every document's tree in one job
    * ([[graft.operators.IndexBuild.buildIndexPerDoc]] — points
    * hash-partition by document, each task runs the sequential walker
    * over its documents), and replace all touched store partitions with
    * ONE dynamic-partition-overwrite write. A serving layout with D
    * documents pays O(1) Spark jobs instead of D × (filter + build loop
    * + write) — same store contents per document (spec-asserted). A
    * single out-sized document should still go through
    * [[indexDocument]] (distributed BFS). */
  def indexAllDocuments(spark: SparkSession, texts: DataFrame,
                        idCol: String, jsonVecCol: String, path: String,
                        bucketSize: Int = 1): Unit = {
    val points = texts.select(col("docId"), col(idCol),
      Ingest.parseJsonVector(col(jsonVecCol)).as("vector"))
    val index = graft.operators.IndexBuild.buildIndexPerDoc(
      points, "docId", idCol, "vector", bucketSize)
    replaceDocs(index, path)
  }
}
