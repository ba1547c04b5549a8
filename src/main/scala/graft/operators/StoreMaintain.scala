package graft.operators

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{DataFrame, GraftSqlShim, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The on-disk layout every persisted store shares: the LSH-bucketed,
  * IVF, IVF-PQ/OPQ, IVF-SQ8, binary and PQ serving stores, the
  * shingle, eval and text stores, the sketch and histogram stores, the
  * graph store and [[graft.sources.IndexStore]]'s per-document trees.
  *
  *   `path/`        the rows, parquet partitioned by the family's
  *                  routing columns (`list_id`, `bucket`, `gb`, `day`,
  *                  `docId`, …)
  *   `path.<name>`  sidecars: KB-sized frozen state (centroids,
  *                  codebooks, thresholds, meta rows) and the
  *                  tombstone/doclen tables of the lazy-delete stores
  *
  * Each family keeps its own assignment and encoding and hands the
  * finished rows here; this object owns how they reach disk:
  *   - [[write]] replaces the whole store, [[append]] adds files to the
  *     touched partitions, both with the rows clustered by their
  *     partition first (else every upstream task writes a file into
  *     every partition dir: shuffle.partitions × partitions files —
  *     131k at C=4096, a 5-minute write and multi-second probes spent
  *     on file listing);
  *   - [[rewritePartitions]] replaces only the partitions its rows
  *     fill;
  *   - [[writeRows]] and [[rewriteRows]] are [[write]] and
  *     [[rewritePartitions]] of rows a maintenance step computed on the
  *     driver: one write job, no shuffle, no pin;
  *   - [[removeFromStore]] is the shared batch delete: the ids held as a
  *     driver set, one counting scan, and the touched partitions'
  *     survivors rewritten from the driver while they fit
  *     [[PinBudgetRows]];
  *   - [[writeSidecar]]/[[readSidecar]] lay each sidecar out by the
  *     family's fixed `StructType` schema; [[readSidecar]] reads the
  *     sidecar's files on the driver, so it runs no job;
  *   - [[read]] opens rows with the schema of one file footer, read on
  *     the driver, so opening a store runs no schema-inference job;
  *   - [[compact]] rewrites a store beside itself and swaps it in.
  *
  * The overwrite mode is always pinned on the writer, never taken from
  * the session: a session-level `partitionOverwriteMode=dynamic` would
  * otherwise make a full write keep every old partition its new rows
  * leave empty. */
object StoreMaintain {

  /** Replace the store at `path` with `rows`, partitioned by `partCols`
    * (none: one unpartitioned relation). */
  def write(rows: DataFrame, path: String, partCols: String*): Unit =
    clustered(rows, partCols).mode("overwrite")
      .option("partitionOverwriteMode", "static").parquet(path)

  /** Add `rows` to the store at `path`: only the partitions they fall in
    * gain files; existing files are never rewritten. */
  def append(rows: DataFrame, path: String, partCols: String*): Unit =
    clustered(rows, partCols).mode("append").parquet(path)

  /** A writer of `rows` clustered by, and partitioned on, `partCols`. */
  private def clustered(rows: DataFrame, partCols: Seq[String]) =
    if (partCols.isEmpty) rows.write
    else rows.repartition(partCols.map(col): _*).write.partitionBy(partCols: _*)

  /** Replace the `partCol` partitions that `rows` fill with exactly
    * `rows`; other partitions keep their files. Each of `emptied` is
    * then deleted: the caller knows `rows` hold none of its rows, and a
    * zero-row dynamic overwrite writes no directory, so it cannot
    * express an emptied partition. `rows` must read nothing under
    * `path`: pin them first, so the write never reads the files it
    * replaces. */
  def rewritePartitions(rows: DataFrame, path: String, partCol: String,
                        emptied: Seq[Any] = Nil): Unit = {
    rows.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy(partCol).parquet(path)
    dropPartitions(rows.sparkSession, path, partCol, emptied)
  }

  private def dropPartitions(spark: SparkSession, path: String, partCol: String,
                             values: Seq[Any]): Unit = {
    val root = new Path(path)
    val fs = fileSystem(spark, root)
    values.foreach { v =>
      fs.delete(new Path(root,
        ExternalCatalogUtils.getPartitionPathString(partCol, v.toString)), true)
    }
  }

  /** [[write]] of driver-held `rows` (Spark's internal form) laid out
    * by `schema`: one job, no shuffle, one file per partition. */
  def writeRows(spark: SparkSession, rows: Seq[InternalRow], schema: StructType,
                path: String, partCol: String): Unit =
    byPartition(spark, rows, schema, partCol).write.partitionBy(partCol)
      .mode("overwrite").option("partitionOverwriteMode", "static").parquet(path)

  /** [[rewritePartitions]] of driver-held `rows` (Spark's internal form)
    * laid out by `schema`: the partitions they fill are replaced in one
    * job, and since the rows read nothing under `path` they need no pin. */
  def rewriteRows(spark: SparkSession, rows: Seq[InternalRow], schema: StructType,
                  path: String, partCol: String, emptied: Seq[Any] = Nil): Unit =
    rewritePartitions(byPartition(spark, rows, schema, partCol), path, partCol, emptied)

  /** Driver-held `rows` as a relation of at most one task per core,
    * each holding the whole rows of some `partCol` values (so each
    * partition is written as one file), shipped as unsafe rows. */
  private def byPartition(spark: SparkSession, rows: Seq[InternalRow],
                          schema: StructType, partCol: String): DataFrame = {
    val at = schema.fieldIndex(partCol)
    val toUnsafe = UnsafeProjection.create(schema)
    val groups = rows.map(r => toUnsafe(r).copy())
      .groupBy(_.get(at, schema(at).dataType)).values.toSeq
    val tasks = math.min(groups.size, spark.sparkContext.defaultParallelism)
    GraftSqlShim.ofInternalRows(spark, spark.sparkContext
      .parallelize(groups, math.max(1, tasks))
      .flatMap[InternalRow](identity), schema)
  }

  /** Store rows up to this count may be held on the driver by one
    * maintenance call: the graph store's StreamingMerge collects the
    * store below it, [[graft.streaming.StreamOps.graphAppendStream]]
    * uses the pinned [[GraphAnn.appendGraph]] below it, and
    * [[removeFromStore]] rewrites the surviving rows below it from the
    * driver (the PIN BUDGET class, N·(d·4 + degree·8) bytes for a graph:
    * about 170 MB at d = 32 and degree 16). */
  private[graft] val PinBudgetRows: Long = 1L << 20

  /** Remove every row whose `idCol` appears in `ids` from the store at
    * `path`, partitioned by `partCol`: the partitions holding a doomed
    * row are rewritten without it, and emptied ones dropped. Sidecars
    * are untouched: the quantizer stays frozen across deletes, exactly
    * as on append. The flat-store counterpart of
    * [[graft.sources.IndexStore.maintainDocument]] (the reference's
    * MemoryVectorIndex.Remove, MemoryVectorIndex.cs:358-489): O(touched
    * partitions) I/O, never a full rewrite. `ids` is a batch, collected
    * as a driver set; one scan counts each partition's rows and doomed
    * rows, so it finds the touched partitions and the ones the removal
    * empties. While the touched partitions' surviving rows fit
    * [[PinBudgetRows]] they are collected and written back from the
    * driver ([[rewriteRows]]: no pin); above it they are pinned and
    * rewritten in the cluster. */
  def removeFromStore(spark: SparkSession, path: String, ids: DataFrame,
                      idCol: String, partCol: String): Unit =
    removeFromStore(spark, path, ids, idCol, partCol, PinBudgetRows)

  /** [[removeFromStore]] rewriting from the driver only up to
    * `pinBudgetRows` surviving rows (a spec passes 0 to run the pinned
    * rewrite on a small store). */
  private[graft] def removeFromStore(spark: SparkSession, path: String, ids: DataFrame,
                                     idCol: String, partCol: String,
                                     pinBudgetRows: Long): Unit = {
    val doomed = ids.select(col(idCol)).collect().iterator
      .map(_.get(0)).filter(_ != null).toSet
    if (doomed.isEmpty) return
    val store = read(spark, path)
    // a null id matches no doomed id, as in an anti-join
    val isDoomed = coalesce(col(idCol).isInCollection(doomed), lit(false))
    val partType = store.schema(partCol).dataType
    // (partition value, rows, doomed rows) per task, summed here
    val counts = store.select(col(partCol), isDoomed).queryExecution.toRdd
      .mapPartitions { rows =>
        val n = mutable.HashMap.empty[Any, Array[Long]]
        rows.foreach { r =>
          val v = if (r.isNullAt(0)) null else InternalRow.copyValue(r.get(0, partType))
          val c = n.getOrElseUpdate(v, new Array[Long](2))
          c(0) += 1
          if (r.getBoolean(1)) c(1) += 1
        }
        n.iterator.map { case (v, c) => (v, c(0), c(1)) }
      }.collect()
      .groupMapReduce(_._1)(c => (c._2, c._3))((a, b) => (a._1 + b._1, a._2 + b._2))
    val (emptied, kept) = counts.filter(_._2._2 > 0).partition { case (_, (n, d)) => n == d }
    val toScala = CatalystTypeConverters.createToScalaConverter(partType)
    val emptiedValues = emptied.keys.map(toScala).toSeq
    if (kept.isEmpty) dropPartitions(spark, path, partCol, emptiedValues)
    else {
      val remaining = store.filter(
        col(partCol).isInCollection(kept.keys.map(toScala)) && !isDoomed)
      if (kept.values.map { case (n, d) => n - d }.sum <= pinBudgetRows)
        rewriteRows(spark, GraftSqlShim.collectInternal(remaining).toSeq,
          remaining.schema, path, partCol, emptiedValues)
      else Pins.scope { pins =>
        rewritePartitions(pins(remaining), path, partCol, emptiedValues)
      }
    }
  }

  /** The rows of the store at `path`. Their data schema comes from one
    * file's footer, read on the driver (a Spark-written file carries its
    * schema there), so the read runs no schema-inference job; partition
    * columns are discovered from the directory names, as an inferring
    * read does. A store with no data file gets Spark's own error. */
  def read(spark: SparkSession, path: String): DataFrame = {
    val root = new Path(path)
    val fs = fileSystem(spark, root)
    val first = if (fs.exists(root)) firstDataFile(fs, root) else None
    first.fold(spark.read.parquet(path)) { f =>
      val footer = ParquetFooterReader.readFooter(
        HadoopInputFile.fromStatus(f, spark.sessionState.newHadoopConf()),
        ParquetMetadataConverter.SKIP_ROW_GROUPS)
      spark.read.schema(ParquetFileFormat.readSchemaFromFooter(
          new Footer(f.getPath, footer),
          new ParquetToSparkSchemaConverter(spark.sessionState.conf)))
        .parquet(path)
    }
  }

  /** The number of `rows` (a [[read]] of a store, say) in one job: the
    * scan counts its rows where it reads them. A Dataset `count()` adds
    * an exchange, whose map side adaptive execution runs as a job of
    * its own. */
  def rowCount(rows: DataFrame): Long = rows.select().queryExecution.toRdd.count()

  /** Depth-first, the first file an inferring read would also see. */
  private def firstDataFile(fs: FileSystem, dir: Path): Option[FileStatus] = {
    val (dirs, files) = listData(fs, dir).partition(_.isDirectory)
    files.headOption.orElse(
      dirs.iterator.map(d => firstDataFile(fs, d.getPath)).collectFirst {
        case Some(f) => f
      })
  }

  /** `dir`'s entries an inferring read would also see, by name: names
    * starting `_` or `.` (commit markers, checksums, staging dirs) are
    * skipped. */
  private def listData(fs: FileSystem, dir: Path): Array[FileStatus] =
    fs.listStatus(dir)
      .filterNot(s => s.getPath.getName.startsWith("_") ||
        s.getPath.getName.startsWith("."))
      .sortBy(_.getPath.getName)

  private def sidecar(path: String, name: String): String = s"$path.$name"

  /** Write the store's `name` sidecar from `rows`, laid out by the
    * family's `schema`, as one file: overwritten, or one more file when
    * `append`. */
  def writeSidecar(spark: SparkSession, path: String, name: String,
                   schema: StructType, rows: Seq[Row], append: Boolean = false): Unit =
    writeSidecarRows(spark.createDataFrame(rows.asJava, schema).coalesce(1),
      path, name, append)

  /** The rows of the store's `name` sidecar, read with its `schema`.
    * Its files are read on the driver by Spark's own parquet reader, so
    * the read runs no job. */
  def readSidecar(spark: SparkSession, path: String, name: String,
                  schema: StructType): Array[Row] = {
    val dir = new Path(sidecar(path, name))
    val read = new ParquetFileFormat().buildReaderWithPartitionValues(spark,
      schema, new StructType(), schema, Nil,
      Map(FileFormat.OPTION_RETURNING_BATCH -> "false"), spark.sessionState.newHadoopConf())
    val toRow = CatalystTypeConverters.createToScalaConverter(schema)
    listData(fileSystem(spark, dir), dir).filterNot(_.isDirectory).flatMap { f =>
      read(PartitionedFile(InternalRow.empty, SparkPath.fromPath(f.getPath), 0, f.getLen,
          modificationTime = f.getModificationTime, fileSize = f.getLen))
        .map(r => toRow(r).asInstanceOf[Row])
    }
  }

  /** Write a sidecar that is a relation over the store's own ids (its
    * id column has the store's id type, so it has no fixed schema). */
  def writeSidecarRows(rows: DataFrame, path: String, name: String,
                       append: Boolean = false): Unit =
    rows.write.mode(if (append) "append" else "overwrite")
      .parquet(sidecar(path, name))

  /** A [[writeSidecarRows]] sidecar, opened like [[read]]. */
  def readSidecarRows(spark: SparkSession, path: String,
                      name: String): DataFrame =
    read(spark, sidecar(path, name))

  /** Whether the store has a `name` sidecar (lazy-delete sidecars are
    * created by their first write). */
  def hasSidecar(spark: SparkSession, path: String, name: String): Boolean = {
    val p = new Path(sidecar(path, name))
    fileSystem(spark, p).exists(p)
  }

  /** Delete the store's `name` sidecar, if it has one. */
  def dropSidecar(spark: SparkSession, path: String, name: String): Unit = {
    val p = new Path(sidecar(path, name))
    fileSystem(spark, p).delete(p, true)
  }

  /** OPTIMIZE-style compaction: `rows` (the store's new contents, read
    * from it) are fully written beside the store, then swapped in with
    * two filesystem renames; if installing the new layout fails, the
    * old one is rolled back so the store is never left missing. The
    * per-rename atomicity holds only on rename-atomic filesystems
    * (local disk, HDFS, ABFS); on object stores where rename is
    * copy+delete (S3A) the swap window is neither atomic nor cheap.
    *
    * A MAINTENANCE-WINDOW operation: (a) an append that commits while
    * the rewrite runs lands in the retired layout and is DROPPED by the
    * swap, so writers must pause (the single-writer discipline every
    * OPTIMIZE-style rewrite needs without a transaction log); (b) a
    * probe that listed its files just before the swap can fail with
    * FileNotFoundException mid-scan and must be retried. */
  def compact(rows: DataFrame, path: String, partCols: String*): Unit = {
    val tmp = sidecar(path, "compacting")
    write(rows, tmp, partCols: _*)
    val dst = new Path(path)
    val src = new Path(tmp)
    val fs = fileSystem(rows.sparkSession, dst)
    val old = new Path(sidecar(path, "old"))
    if (fs.exists(old)) fs.delete(old, true)
    require(fs.rename(dst, old), s"compact: could not retire $dst")
    if (!fs.rename(src, dst)) {
      // if even the rollback rename fails the store IS gone — say so
      // (the retired copy survives at `.old` for manual recovery)
      if (fs.rename(old, dst))
        sys.error(s"compact: could not install $src — previous layout restored")
      else
        sys.error(s"compact: could not install $src AND could not restore " +
          s"the previous layout — store missing at $dst, retired copy at $old")
    }
    fs.delete(old, true)
  }

  private def fileSystem(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sessionState.newHadoopConf())
}
