package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Partition-level DELETE shared by the three persisted ANN serving
  * stores (LSH-bucketed, IVF, IVFADC): each lays rows out as parquet
  * partitioned by its routing column (`bucket` / `list_id`), so a batch
  * remove is the same operation on all three — find the partitions
  * holding any doomed row, rewrite exactly those partitions without the
  * doomed rows, and drop the directories the delete emptied. Completes
  * the serving maintenance matrix next to the append paths
  * ([[Similarity.appendBucketed]], [[Similarity.appendIvf]],
  * [[IvfPq.append]]).
  *
  * The reference's remove surface is the in-memory
  * MemoryVectorIndex.Remove (MemoryVectorIndex.cs:358-489);
  * [[graft.sources.IndexStore.maintainDocument]] is the per-document
  * tree-store analog of the same contract — this is its flat-store
  * counterpart: O(touched partitions) I/O, never a full rewrite.
  *
  * At 100 TB the doomed-id relation is the small side (takedowns, a
  * dedup verdict): it broadcasts into a semi-join that prunes the
  * touched-partition discovery, and the rewrite reads only those
  * partitions back. Emptied partitions can't be expressed as a
  * zero-row dynamic-partition overwrite (no rows → no directory in the
  * write), so their directories are deleted explicitly afterwards. */
object StoreMaintain {

  /** Remove every row whose `idCol` appears in `ids` from the
    * partitioned store at `path`. `partCol` is the store's partition
    * column (`bucket` for LSH, `list_id` for IVF / IVFADC). Sidecars
    * (centroids / codebook / planes) are untouched — the quantizer
    * stays frozen across deletes, exactly as on append. */
  def removeFromStore(spark: SparkSession, path: String, ids: DataFrame,
                      idCol: String, partCol: String): Unit = {
    val store = spark.read.parquet(path)
    val idRel = ids.select(col(idCol)).distinct()
    // partitions holding at least one doomed row — the only ones touched
    val touched: Seq[Any] = store
      .join(broadcast(idRel), Seq(idCol), "left_semi")
      .select(col(partCol)).distinct()
      .collect().map(_.get(0)).toSeq
    if (touched.isEmpty) return
    // surviving rows of the touched partitions, lineage BROKEN before
    // the in-place write (the write must never read the files it is
    // replacing — same contract as IndexStore.maintainDocument)
    val kept = Pins.scope { pins =>
      val remaining = pins(store
        .filter(col(partCol).isInCollection(touched))
        .join(broadcast(idRel), Seq(idCol), "left_anti"))
      // per-writer option: the session's overwrite mode stays as it was
      remaining.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
        .partitionBy(partCol).parquet(path)
      remaining.select(col(partCol)).distinct()
        .collect().map(_.get(0)).toSet
    }
    // dynamic overwrite replaces only partitions PRESENT in `remaining`;
    // a partition the delete emptied has no rows to carry it — drop it
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sessionState.newHadoopConf())
    touched.filterNot(kept).foreach { v =>
      fs.delete(new org.apache.hadoop.fs.Path(hPath, s"$partCol=$v"), true)
    }
  }
}
