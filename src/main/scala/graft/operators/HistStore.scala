package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Persistent HISTOGRAM-CELL QUANTILE STORE — the quantile member of
  * the sketch-store family ([[SketchStore]] serves distinct counts from
  * per-day HLL cells; this serves quantiles from per-month fixed-edge
  * histogram cells, the persisted form of the q48 inline roll-up).
  * Edges are pinned at build time (bins equal-width over the build
  * extent, stored in a meta sidecar), so cells from ANY month merge by
  * plain count ADDITION and a range probe answers approximate quantiles
  * with error ≤ one bin width — the raw table is scanned once per
  * ingest batch and never at probe time.
  *
  * Contract difference from the HLL store, stated loudly: counts ADD,
  * they don't max. Appending a batch twice double-counts it — the
  * HLL store's register-max heals duplicate ingest, this one requires
  * exactly-once batches (the usual ledger discipline for additive
  * aggregates). Late batches for old months are still just appends.
  *
  * At 100 TB: the BUILD is two passes over the batch (a 3-value extent
  * aggregation to pin the edges, then the map-side-combined cell
  * count); APPENDS are one pass (edges come from the meta sidecar).
  * The store is months × bins rows regardless of fact volume; a range
  * probe prunes to the window's month partitions (spec-asserted) and
  * runs a bins-bounded cumulative window — never a rescan, never a
  * global sort.
  *
  * Null and non-finite values are EXCLUDED (the percentile-function
  * discipline: NaN has no rank, ±Infinity has no bin) — a build whose
  * finite extent is empty fails loudly rather than freezing NaN edges
  * into the sidecar. */
object HistStore {

  /** Cell rows of `df` under frozen edges: (month yyyy-MM, bin, n).
    * Out-of-extent values (possible on append — edges are pinned at
    * build) clamp into the edge bins, preserving total count and rank
    * arithmetic; width 0 (degenerate all-equal build) puts everything
    * in bin 0. */
  private def cellsOf(df: DataFrame, dateCol: String, valueCol: String,
                      lo: Double, width: Double, bins: Int): DataFrame = {
    val v = col(valueCol).cast("double")
    val bin =
      if (width == 0d) lit(0L)
      else greatest(lit(0L),
        least(floor((v - lit(lo)) / lit(width)), lit(bins - 1L)))
        .cast("long")
    // DateType group key (trunc-to-month), string rendered per result
    // row — the count agg is codegen'd so this is less critical than
    // the sketch stores' interpreted path, but formatting a timestamp
    // per row still costs more than int month-truncation
    df.filter(v.isNotNull && !isnan(v) &&
        v =!= Double.PositiveInfinity && v =!= Double.NegativeInfinity)
      .select(trunc(col(dateCol), "month").as("m"), bin.as("bin"))
      .groupBy(col("m"), col("bin"))
      .agg(count(lit(1)).as("n"))
      .select(date_format(col("m"), "yyyy-MM").as("month"), col("bin"),
        col("n"))
  }

  /** Build the store at `path`: month-partitioned cells plus a meta
    * sidecar pinning (lo, hi, bins) — the shared edges every later
    * append and probe must use. */
  def write(df: DataFrame, dateCol: String, valueCol: String, bins: Int,
            path: String): Unit = {
    require(bins >= 1, s"bins must be >= 1, got $bins")
    val spark = df.sparkSession
    // extent over FINITE values only — a single NaN/Inf would
    // otherwise freeze NaN/Inf edges into the sidecar and poison every
    // later bin assignment and probe estimate
    val vd = col(valueCol).cast("double")
    val finite = df.filter(vd.isNotNull && !isnan(vd) &&
      vd =!= Double.PositiveInfinity && vd =!= Double.NegativeInfinity)
    val ext = finite.agg(min(vd), max(vd), count(lit(1))).head()
    require(ext.getLong(2) > 0L,
      "histogram store build needs at least one finite value")
    val (lo, hi) = (ext.getDouble(0), ext.getDouble(1))
    StoreMaintain.write(cellsOf(df, dateCol, valueCol, lo, (hi - lo) / bins, bins),
      path, "month")
    StoreMaintain.writeSidecar(spark, path, "meta", MetaSchema, Seq(Row(lo, hi, bins)))
  }

  /** The `.meta` sidecar's layout: the frozen bin edges. */
  private val MetaSchema = StructType.fromDDL("lo double, hi double, bins int")

  /** Append a batch's cells under the FROZEN build edges: touched month
    * partitions gain files, nothing is rewritten. Exactly-once batches
    * required (see object doc — counts add, duplicates double-count). */
  def append(df: DataFrame, dateCol: String, valueCol: String,
             path: String): Unit = {
    val (lo, hi, bins) = readMeta(df.sparkSession, path)
    StoreMaintain.append(cellsOf(df, dateCol, valueCol, lo, (hi - lo) / bins, bins),
      path, "month")
  }

  private def readMeta(spark: SparkSession, path: String): (Double, Double, Int) = {
    val m = StoreMaintain.readSidecar(spark, path, "meta", MetaSchema).head
    (m.getDouble(0), m.getDouble(1), m.getInt(2))
  }

  /** Approximate quantiles of the [from, to] month range (inclusive,
    * yyyy-MM), served from cells only: (p, bucket, cum_n, n_total, est)
    * with est = the chosen bin's upper edge — the discrete "smallest
    * value with ≥ ⌈p·n⌉ values ≤ it" quantile, error ≤ one bin width.
    * The month filter lands in the scan's PartitionFilters; the
    * cumulative window is bounded by the bin count, never the data. */
  def probeRange(spark: SparkSession, path: String, from: String,
                 to: String, ps: Seq[Double]): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p > 0 && p <= 1))
    val (lo, hi, bins) = readMeta(spark, path)
    val width = (hi - lo) / bins
    import spark.implicits._
    val merged = StoreMaintain.read(spark, path)
      .filter(col("month") >= from && col("month") <= to)
      .groupBy(col("bin")).agg(sum(col("n")).as("n"))
    val W = org.apache.spark.sql.expressions.Window
    val w = W.orderBy(col("bin"))
      .rowsBetween(W.unboundedPreceding, W.currentRow)
    // n_total as a full-frame window over the SAME ≤bins-row sort, not
    // a crossJoin(merged.agg(...)) — a second merged reference would
    // re-run the store scan + merge aggregation per probe
    val wAll = W.orderBy(col("bin"))
      .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    val cum = merged.withColumn("cum", sum(col("n")).over(w))
      .withColumn("n_total", sum(col("n")).over(wAll))
    // min_by carries (bucket, cum_n) out of ONE pass over cum — a
    // second cum reference (the earlier join-back formulation) would
    // re-run the store scan + merge + window per probe
    ps.toDF("p").crossJoin(cum)
      .filter(col("cum") >= ceil(col("p") * col("n_total")))
      .groupBy(col("p"))
      .agg(min_by(struct(col("bin"), col("cum")), col("bin")).as("sel"),
        max(col("n_total")).as("n_total"))
      .select(col("p"), col("sel.bin").as("bucket"),
        col("sel.cum").as("cum_n"), col("n_total"),
        round(lit(lo) + (col("sel.bin") + 1) * lit(width), 6).as("est"))
      .orderBy(col("p"))
  }

  /** OPTIMIZE-style maintenance: rewrite each month partition to ONE
    * cell per bin (the count sum of its accumulated append cells).
    * Probe results are unchanged — addition is associative — but a
    * month that took n appends reads back as ≤ bins rows instead of
    * n × bins. Swap-based via [[StoreMaintain.compact]]. */
  def compact(spark: SparkSession, path: String): Unit = {
    StoreMaintain.compact(StoreMaintain.read(spark, path)
      .groupBy(col("month"), col("bin"))
      .agg(sum(col("n")).as("n")), path, "month")
  }
}
