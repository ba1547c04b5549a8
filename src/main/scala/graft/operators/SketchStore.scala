package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.functions.{CmsMerge, CmsSketch, HllMerge, HllSketch}

/** Persistent DAILY-SKETCH STORE — the materialized form of the q46
  * sketch-over-window pattern (and the distinct-count sibling of the
  * `TextIndex`/`Similarity` store family): per-day HLL register cells
  * written once at ingest (one 2^p-byte cell per day, day-partitioned),
  * so ANY window's distinct count is served by merging day-cardinality
  * cells with day-level partition pruning — the raw event log is
  * touched once per ingest batch and never again.
  *
  * Ingest is append-only and idempotent-by-algebra: a new batch's
  * cells land as new files in their day partitions (nothing is
  * rewritten, no read-modify-write), and a probe merges a day's cells
  * by register max — so duplicate or PARTIAL cells for the same day
  * merge to exactly the cell of the union (max is associative,
  * commutative, idempotent). Late-arriving events for an old day are
  * therefore just another append; the serving math self-heals.
  *
  * At 100 TB: the ingest aggregation is one partial+final exchange
  * carrying 2^p-byte buffers per (day × map task); the store is
  * day-cardinality × 2^p bytes regardless of log volume; a range probe
  * prunes to the window's day partitions (spec-asserted) and a
  * trailing-window probe joins cells against the tiny day frame —
  * register algebra, never a rescan. */
object SketchStore {

  /** Per-day register cells of `events` — the store's row shape
    * (day STRING yyyy-MM-dd for lexical-order pruning, regs BINARY).
    *
    * The group key is the INT-backed DateType, not the formatted
    * string: a TypedImperativeAggregate runs its grouping/child
    * expressions on the interpreted eval path (no whole-stage
    * codegen), and interpreted `date_format(timestamp)` allocates a
    * formatter per row — measured 28 s vs 0.9 s on a 100M-row ingest
    * (hllab2 A/B). The string render runs once per RESULT row. */
  private[graft] def cellsOf(events: DataFrame, dayCol: String,
                             keyCol: String, p: Int): DataFrame =
    events
      .select(to_date(col(dayCol)).as("d"), col(keyCol))
      .groupBy(col("d"))
      .agg(HllSketch.hllDistinct(col(keyCol), p).as("sk"))
      .select(date_format(col("d"), "yyyy-MM-dd").as("day"),
        col("sk.regs").as("regs"))

  /** Build the store at `path`: day-partitioned register cells + a
    * one-row meta sidecar pinning p (probes must merge with the same
    * register width). */
  def write(events: DataFrame, dayCol: String, keyCol: String, p: Int,
            path: String): Unit = {
    StoreMaintain.write(cellsOf(events, dayCol, keyCol, p), path, "day")
    writeP(events.sparkSession, path, p)
  }

  /** The `.meta` sidecar's layout: the register width p. */
  private val MetaSchema = StructType.fromDDL("p int")

  private def writeP(spark: SparkSession, path: String, p: Int): Unit =
    StoreMaintain.writeSidecar(spark, path, "meta", MetaSchema, Seq(Row(p)))

  /** Append a new batch's cells: touched day partitions gain files,
    * nothing is rewritten; overlapping days are healed at probe time by
    * the register-max merge (see object doc). */
  def append(events: DataFrame, dayCol: String, keyCol: String,
             path: String): Unit =
    StoreMaintain.append(
      cellsOf(events, dayCol, keyCol, readP(events.sparkSession, path)), path, "day")

  private def readP(spark: SparkSession, path: String): Int =
    StoreMaintain.readSidecar(spark, path, "meta", MetaSchema).head.getInt(0)

  /** OPTIMIZE-style maintenance: rewrite each day partition to ONE
    * canonical cell (the register-max merge of its accumulated append
    * cells). Probe results are unchanged — max is associative — but a
    * day that took n appends is read back as one 2^p-byte row instead
    * of n. Swap-based via [[StoreMaintain.compact]]; see its doc for the
    * maintenance-window contract (pause writers; retry a probe that
    * raced the swap). */
  def compact(spark: SparkSession, path: String): Unit = {
    val p = readP(spark, path)
    StoreMaintain.compact(StoreMaintain.read(spark, path)
      .groupBy(col("day"))
      .agg(HllMerge.hllMerge(col("regs"), p).as("s"))
      .select(col("day"), col("s.regs").as("regs")), path, "day")
  }

  private def estCols(s: org.apache.spark.sql.Column) = Seq(
    s.getField("v_zero").as("v_zero"), s.getField("z_fix").as("z_fix"),
    round(s.getField("raw_est"), 4).as("raw_est"),
    round(s.getField("estimate"), 4).as("estimate"))

  /** Trailing `windowDays`-day distinct count per stored day, from
    * cells only: (day DATE, v_zero, z_fix, raw_est, estimate) — the
    * store-served twin of the q46 inline roll-up (same estimate
    * columns, hash-gated against the same register replay). */
  def probeTrailing(spark: SparkSession, path: String,
                    windowDays: Int): DataFrame = {
    require(windowDays >= 1, "windowDays must be >= 1")
    val cells = StoreMaintain.read(spark, path)
      .select(col("day").cast("date").as("day"), col("regs"))
    val days = cells.select(col("day").as("d0")).distinct()
    days
      .join(cells,
        col("day").between(date_sub(col("d0"), windowDays - 1), col("d0")))
      .groupBy(col("d0"))
      .agg(HllMerge.hllMerge(col("regs"), readP(spark, path)).as("s"))
      .select(col("d0").as("day") +: estCols(col("s")): _*)
  }

  /** One-row roll-up of [from, to] (inclusive, yyyy-MM-dd): the probe
    * filter lands in the scan's PartitionFilters, so only the window's
    * day partitions are read (spec-asserted). */
  def probeRange(spark: SparkSession, path: String,
                 from: String, to: String): DataFrame =
    StoreMaintain.read(spark, path)
      .filter(col("day") >= from && col("day") <= to)
      .agg(HllMerge.hllMerge(col("regs"), readP(spark, path)).as("s"))
      .select(estCols(col("s")): _*)

  // ---- grouped (dimensional) cells: one register array per
  // ---- (dimension value × day) — the cube-store form of the daily
  // ---- store. Same algebra (register max: append-only, self-healing,
  // ---- idempotent), two partition levels (dim, then day) so a probe
  // ---- for one segment over one window prunes BOTH ways.

  private def groupedCellsOf(events: DataFrame, dimCol: String,
                             dayCol: String, keyCol: String,
                             p: Int): DataFrame =
    events
      .select(col(dimCol).as("dim"), to_date(col(dayCol)).as("d"),
        col(keyCol))
      .groupBy(col("dim"), col("d"))
      .agg(HllSketch.hllDistinct(col(keyCol), p).as("sk"))
      .select(col("dim"), date_format(col("d"), "yyyy-MM-dd").as("day"),
        col("sk.regs").as("regs"))

  /** Build the grouped store: (dim, day)-partitioned register cells +
    * the p sidecar. Dimension cardinality is assumed partition-sane
    * (segments, platforms, event types — not user ids). */
  def writeGrouped(events: DataFrame, dimCol: String, dayCol: String,
                   keyCol: String, p: Int, path: String): Unit = {
    StoreMaintain.write(groupedCellsOf(events, dimCol, dayCol, keyCol, p),
      path, "dim", "day")
    writeP(events.sparkSession, path, p)
  }

  /** Append a batch's grouped cells — same self-healing register-max
    * contract as [[append]]. */
  def appendGrouped(events: DataFrame, dimCol: String, dayCol: String,
                    keyCol: String, path: String): Unit =
    StoreMaintain.append(groupedCellsOf(events, dimCol, dayCol, keyCol,
      readP(events.sparkSession, path)), path, "dim", "day")

  /** Per-dimension distinct count over [from, to]: one output row per
    * dimension value present in the window — (dim, v_zero, z_fix,
    * raw_est, estimate). The day filter prunes day partitions; pass
    * `dims` to ALSO prune to those dimension partitions (None = all). */
  def probeRangeGrouped(spark: SparkSession, path: String, from: String,
                        to: String,
                        dims: Option[Seq[String]] = None): DataFrame = {
    val p = readP(spark, path)
    val cells = StoreMaintain.read(spark, path)
      .filter(col("day") >= from && col("day") <= to)
    val picked = dims.fold(cells)(ds => cells.filter(col("dim").isin(ds: _*)))
    picked
      .groupBy(col("dim"))
      .agg(HllMerge.hllMerge(col("regs"), p).as("s"))
      .select(col("dim") +: estCols(col("s")): _*)
  }
}

/** Persistent DAILY-FREQUENCY STORE — the point-frequency member of the
  * sketch-store family ([[SketchStore]] = distinct counts from HLL
  * cells, [[HistStore]] = quantiles from histogram cells): one d·w CMS
  * counter array per day, day-partitioned, so ANY window's frequency
  * estimate for ANY key is served by summing day cells and reading the
  * key's d counters — the raw event log is touched once per ingest
  * batch and never at probe time.
  *
  * Counters ADD (associative, commutative, NOT idempotent): partial
  * cells from any batch slicing sum to exactly the sketch of the union,
  * so late data and split days are just appends — but duplicate ingest
  * double-counts. Exactly-once batches required, same contract as
  * [[HistStore]]; the one-sided CMS guarantee (est >= true, excess
  * bounded by e/w · N per Cormode-Muthukrishnan) survives merging
  * unchanged because the merged array IS the array the union would
  * have produced.
  *
  * Streaming note: a `foreachBatch` sink may RE-RUN a batch after a
  * failure. The HLL store absorbs that (max is idempotent); the
  * additive stores (this one, [[HistStore]]) do not — a streaming
  * ingest must gate appends on the batchId (the standard idempotent-
  * sink discipline) or accept over-count on recovery.
  *
  * At 100 TB: ingest is one map-side-combined aggregation carrying
  * d·w-long buffers per (day × map task); the store is day-cardinality
  * × d·w longs regardless of log volume; a range probe prunes to the
  * window's day partitions, merges a bounded cell set, and answers any
  * number of keys with one broadcast of the merged row. */
object FreqStore {

  // DateType group key, string rendered per result row — see
  // SketchStore.cellsOf for the interpreted-date_format measurement
  private def cellsOf(events: DataFrame, dayCol: String, keyCol: String,
                      d: Int, b: Int): DataFrame =
    events
      .select(to_date(col(dayCol)).as("dd"), col(keyCol))
      .groupBy(col("dd"))
      .agg(CmsSketch.cmsFreq(col(keyCol), d, b).as("sk"))
      .select(date_format(col("dd"), "yyyy-MM-dd").as("day"),
        col("sk.n_total").as("n_total"),
        col("sk.counters").as("counters"))

  /** Build the store at `path`: day-partitioned counter cells + a
    * one-row meta sidecar pinning (d, b) — probes and appends must
    * slice the hash identically. */
  def write(events: DataFrame, dayCol: String, keyCol: String, d: Int,
            b: Int, path: String): Unit = {
    StoreMaintain.write(cellsOf(events, dayCol, keyCol, d, b), path, "day")
    StoreMaintain.writeSidecar(events.sparkSession, path, "meta", MetaSchema,
      Seq(Row(d, b)))
  }

  /** The `.meta` sidecar's layout: the CMS depth d and width b. */
  private val MetaSchema = StructType.fromDDL("d int, b int")

  /** Append a batch's cells under the frozen (d, b): touched day
    * partitions gain files, nothing is rewritten. Exactly-once batches
    * required (counters add — see object doc). */
  def append(events: DataFrame, dayCol: String, keyCol: String,
             path: String): Unit = {
    val (d, b) = readMeta(events.sparkSession, path)
    StoreMaintain.append(cellsOf(events, dayCol, keyCol, d, b), path, "day")
  }

  private def readMeta(spark: SparkSession, path: String): (Int, Int) = {
    val m = StoreMaintain.readSidecar(spark, path, "meta", MetaSchema).head
    (m.getInt(0), m.getInt(1))
  }

  /** Frequency estimates for every row of `keys` over the [from, to]
    * day range (inclusive, yyyy-MM-dd): (key..., n_total, est) — the
    * day filter lands in PartitionFilters, the merged sketch row is
    * broadcast, est is pure Column arithmetic per key. */
  def probeRange(keys: DataFrame, keyCol: String, path: String,
                 from: String, to: String): DataFrame = {
    val spark = keys.sparkSession
    val (d, b) = readMeta(spark, path)
    val merged = StoreMaintain.read(spark, path)
      .filter(col("day") >= from && col("day") <= to)
      .agg(CmsMerge.cmsMerge(col("counters"), d, b).as("s"))
      .select(col("s.n_total").as("n_total"),
        col("s.counters").as("_counters"))
    keys.join(broadcast(merged))
      .withColumn("est",
        CmsSketch.cmsEstimate(col("_counters"), col(keyCol), d, b))
      .drop("_counters")
  }

  /** OPTIMIZE-style maintenance: rewrite each day partition to ONE
    * canonical cell (the counter sum of its accumulated append cells).
    * Probe results are unchanged — addition is associative. Swap-based
    * via [[StoreMaintain.compact]]. */
  def compact(spark: SparkSession, path: String): Unit = {
    val (d, b) = readMeta(spark, path)
    StoreMaintain.compact(StoreMaintain.read(spark, path)
      .groupBy(col("day"))
      .agg(CmsMerge.cmsMerge(col("counters"), d, b).as("s"))
      .select(col("day"), col("s.n_total").as("n_total"),
        col("s.counters").as("counters")), path, "day")
  }
}
