package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators._
import graft.functions.VectorFunctions._
import graft.QueryConstants._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in `queries` has a same-named DuckDB oracle in `oracleSql`
  * unless the operator is not SQL-expressible (then the driver records a
  * rows-only check). Column names and ordering are aligned between the
  * Spark plan and the oracle SQL (the driver hash-compares after sorting
  * columns by name). */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.pricingSummary(spark, "/root/testdata/sf0.001")

  private def embeddings(s: SparkSession, dir: String) = Tables.embeddings(s, dir)

  /** Remove a gate's temp working tree once its result is pinned off
    * the files (s2/s3 stream sinks) — repeated gate runs must not
    * accumulate temp dirs. */
  private def deleteRecursively(root: String): Unit = {
    import java.nio.file.{Files, Paths, Path}
    import java.util.Comparator
    val p = Paths.get(root)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(Comparator.reverseOrder[Path]())
        .forEach(f => Files.deleteIfExists(f))
      finally s.close()
    }
  }

  /** The t14/p17 HTML wrapper: realistic markup — scripts (with `<`
    * inside!), styles, comments, entities — whose extraction is
    * closed-form: `Doc <id> <text> tail & entities <kept> ok`. */
  private def htmlWrap(docId: org.apache.spark.sql.Column,
                       text: org.apache.spark.sql.Column) = concat(
    lit("<html><head><title>Doc "), docId,
    lit("</title><script type=\"text/javascript\">var x = 1 < 2;\n" +
      "alert(\"no\");</script><style>p { color: red; }</style>" +
      "</head><body><!-- hidden comment --><p>"),
    text,
    lit("</p><div>tail &amp; entities &lt;kept&gt;&nbsp;ok</div>" +
      "</body></html>"))

  /** The supplier↔customer trade graph (both edge directions, integer
    * node ids 2·suppkey / 2·custkey+1), staged once per sf dir like the
    * serving stores: q30 and q32 both probe it, and the lineitem⋈orders
    * distinct is identical every time — a query should pay its own
    * fixpoint, not the shared graph build. */
  private def tradeEdges(s: SparkSession, d: String): DataFrame = {
    val dir = stagedStore(d, "tradegraph", version = 1) { dir =>
      val pairs = Tables.lineitem(s, d)
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .select((col("l_suppkey") * 2).as("sn"),
          (col("o_custkey") * 2 + 1).as("cn"))
        .distinct()
      pairs.select(col("sn").as("src"), col("cn").as("dst"))
        .unionAll(pairs.select(col("cn").as("src"), col("sn").as("dst")))
        .write.mode("overwrite").parquet(dir)
    }
    s.read.parquet(dir)
  }

  /** Build-once, reuse-forever staging for gated serving stores: Verify
    * and Bench run the same query in separate JVMs, and a serving gate
    * should measure the PROBE, not train + store writes. The store is
    * keyed on (name, version, sf dir); the first invocation builds it
    * and drops a marker, later invocations skip straight to probing.
    * Bump `version` whenever the store layout or its build parameters
    * change — a stale-format store then rebuilds instead of misreading.
    * The testdata under an sf dir is immutable, so sfDir is a complete
    * content key. */
  private def stagedStore(sfDir: String, name: String, version: Int)(
      build: String => Unit): String = {
    val root = new java.io.File(
      s"/tmp/graft_${name}_${sfDir.replaceAll("[^A-Za-z0-9.]", "_")}")
    val dir = new java.io.File(root, "store").getPath
    val marker = new java.io.File(root, "_STAGED_OK").toPath
    val tag = s"$name v$version $sfDir"
    val valid = java.nio.file.Files.exists(marker) &&
      scala.util.Try(new String(java.nio.file.Files.readAllBytes(marker),
        java.nio.charset.StandardCharsets.UTF_8)).toOption.contains(tag)
    if (!valid) {
      build(dir) // mode=overwrite inside — a half-built store is replaced
      java.nio.file.Files.write(marker,
        tag.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    dir
  }

  /** Staged repeat-trade pair graph (supplier↔customer pairs with ≥ 3
    * distinct orders), shared by q34 (connected components) and q44
    * (label propagation) — ONE builder under the shared store tag so
    * the two gates cannot silently diverge. */
  private def tradePairsDir(s: SparkSession, d: String): String =
    stagedStore(d, "tradepairs", version = 1) { dir =>
      Tables.lineitem(s, d)
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .select((col("l_suppkey") * 2).as("a"),
          (col("o_custkey") * 2 + 1).as("b"), col("l_orderkey"))
        .groupBy(col("a"), col("b"))
        .agg(countDistinct(col("l_orderkey")).as("n"))
        .filter(col("n") >= 3)
        .select(col("a"), col("b"))
        .write.mode("overwrite").parquet(dir)
    }

  /** Staged curate pair artifact (judge r14 #5): the LSH-verified
    * near-dup pair relation AND its transitive closure over the
    * exact-deduped corpus — curate's two expensive cross-row stages —
    * staged ONCE per sf dir and shared by every composed-pipeline gate
    * that uses the LSH path (p5/p7/p9; p3 stays self-computing so the
    * inline path keeps its own gate). curateWith output is spec-pinned
    * identical to self-computing curate (PipelineSpec), and the pair
    * reuse was measured at 2.53× on multi-configuration runs — the
    * r14 driver bench paid ~+10 s recomputing exactly this. */
  private def curatePairsDir(s: SparkSession, d: String): String =
    stagedStore(d, "curatepairs", version = 1) { dir =>
      val pairs = operators.Pipeline
        .curatePairs(Tables.documents(s, d), "doc_id", "text")
        .select(col("a"), col("b")).localCheckpoint()
      pairs.write.mode("overwrite").parquet(dir + "/pairs")
      operators.Dedup.clusterIds(pairs)
        .write.mode("overwrite").parquet(dir + "/clusters")
    }

  /** p15's exact-path twin of [[curatePairsDir]]: the prefix-filtered
    * Jaccard pair graph (lossless AllPairs — d22's engine) + closure,
    * staged under its own tag so the exact and LSH artifacts can't mix. */
  private def exactPairsDir(s: SparkSession, d: String): String =
    stagedStore(d, "exactpairs", version = 1) { dir =>
      val pairs = operators.Dedup.ngramJaccardPrefixPairs(
          operators.Pipeline.exactDedup(
            Tables.documents(s, d), "doc_id", "text"),
          "doc_id", "text", 3, 0.6)
        .select(col("a"), col("b")).localCheckpoint()
      pairs.write.mode("overwrite").parquet(dir + "/pairs")
      operators.Dedup.clusterIds(pairs)
        .write.mode("overwrite").parquet(dir + "/clusters")
    }

  /** The standing corpus's staged dedup index (d29/d30): postings of
    * the non-batch documents slice, built once per sfDir and opened per
    * call (one `.meta` job; the postings are a listing and a plan). */
  private def shingleStore(s: SparkSession,
                           d: String): operators.Dedup.ShingleStore =
    operators.Dedup.openShingleStore(s,
      stagedStore(d, "shinglestore", version = 1) { dir =>
        operators.Dedup.writeShingleStore(
          Tables.documents(s, d).filter(col("doc_id") % 7 =!= 0),
          "doc_id", "text", 3, dir)
      })

  /** Okapi BM25 oracle SQL shared by t7 (inline scan) and t11 (store
    * probe): the two Spark paths produce identical scores, so both
    * gates replay this one query. */
  private def bm25OracleSql(terms: Seq[String], topK: Int): String = {
    val tfs = terms.zipWithIndex.map { case (t, i) =>
      s"len(list_filter(ts, x -> x = '$t')) AS tf$i"
    }.mkString(", ")
    val dfs = terms.zipWithIndex.map { case (t, i) =>
      s"count(CASE WHEN list_contains(ts, '$t') THEN 1 END) AS df$i"
    }.mkString(", ")
    val score = terms.indices.map { i =>
      s"ln(1 + (n - df$i + 0.5) / (df$i + 0.5)) * tf$i * 2.2 " +
        s"/ (tf$i + 1.2 * (0.25 + 0.75 * dl / avgdl))"
    }.mkString(" + ")
    val anyTf = terms.indices.map(i => s"tf$i").mkString(" + ")
    s"""WITH tok AS (SELECT doc_id AS doc, string_split_regex(text, '\\s+') AS ts FROM documents),
       |meta AS (SELECT count(*) AS n, CAST(sum(len(ts)) AS DOUBLE) / count(*) AS avgdl FROM tok),
       |dfs AS (SELECT $dfs FROM tok),
       |tf AS (SELECT doc, len(ts) AS dl, $tfs FROM tok)
       |SELECT doc, round($score, 6) AS bm25
       |FROM tf, meta, dfs
       |WHERE $anyTf > 0
       |ORDER BY bm25 DESC, doc LIMIT $topK""".stripMargin
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- relational surface (SURVEY.md §2.1-2.8) ---
    "q1_pricing_summary" -> ((s, d) => Relational.pricingSummary(s, d)),
    "q2_revenue_segment" -> ((s, d) => Relational.revenueBySegment(s, d)),
    "q3_order_ranks" -> ((s, d) => Relational.orderRanks(s, d)),
    "q4_top_orders" -> ((s, d) => Relational.topOrders(s, d)),
    "q5_cust_no_orders" -> ((s, d) => Relational.customersWithoutOrders(s, d)),
    "q6_order_facets" -> ((s, d) => Relational.orderFacets(s, d)),
    "q7_nation_presence" -> ((s, d) => Relational.nationPresence(s, d)),
    "q8_rollup_revenue" -> ((s, d) => Relational.rollupRevenue(s, d)),
    "q9_event_windows" -> ((s, d) => Relational.eventWindows(s, d)),
    "q10_revenue_region" -> ((s, d) => Relational.revenueByRegion(s, d)),
    "q11_brand_sizes" -> ((s, d) => Relational.brandSizes(s, d)),
    "q12_big_spenders" -> ((s, d) => Relational.bigSpenders(s, d)),
    "q13_cube_revenue" -> ((s, d) => Relational.cubeRevenue(s, d)),
    "q54_grouping_sets" -> ((s, d) =>
      // explicit GROUPING SETS — the general lattice form q8's rollup
      // and q13's cube specialize; grouping_id gated alongside so a
      // set's structural NULL is distinguishable from a data NULL.
      Relational.groupingSetsRevenue(s, d)),
    "q14_event_pivot" -> ((s, d) => Relational.eventPivot(s, d)),
    "q15_asof_click_view" -> ((s, d) => Relational.clickAfterView(s, d)),
    "q16_percentiles" -> ((s, d) =>
      // exact linear-interpolated percentiles (Spark `percentile` and
      // DuckDB `quantile_cont` share the lower+(upper-lower)·frac
      // formula on the same doubles; l_quantity is integral so the
      // interpolation arithmetic is exact)
      Tables.lineitem(s, d).groupBy(col("l_returnflag"))
        .agg(
          round(expr("percentile(l_quantity, 0.25)"), 6).as("p25"),
          round(expr("percentile(l_quantity, 0.5)"), 6).as("p50"),
          round(expr("percentile(l_quantity, 0.75)"), 6).as("p75"),
          round(expr("percentile(l_quantity, 0.95)"), 6).as("p95"))
        .orderBy(col("l_returnflag"))),
    "q18_gap_fill" -> ((s, d) =>
      // hourly per-type event counts with zero-filled gaps over the
      // corpus' hour span (dense grid from a one-row extent +
      // sequence explode × distinct types, left join of the sparse
      // counts) — "no row ≠ no bucket"
      Relational.gapFilledCounts(s, d)),
    "q25_funnel" -> ((s, d) =>
      // ordered event funnel view → click → purchase: per-user
      // conditional-minimum chain (t1 < t2 < t3) as three
      // whole-partition window minima over ONE exchange+sort on
      // user_id; 3-row rollup from a single aggregation row
      Relational.funnel(s, d)),
    "q26_retention" -> ((s, d) =>
      // cohort retention triangle: first-active-day cohorts × distinct
      // active users at each day offset; one keyed agg collapses the
      // log to per-user (cohort, day set), the triangle re-key is
      // span²-bounded
      Relational.retention(s, d)),
    "q22_range_join" -> ((s, d) =>
      // binned range join: per click, the same user's views within
      // ±300 s — the inequality join rewritten as a keyed equi join on
      // (user, tol-bucket) with a 3-bucket probe fan-out + exact
      // re-filter (the naive form is a broadcast nested loop)
      Relational.clicksWithNearbyViews(s, d)),
    "q21_zorder" -> ((s, d) => {
      // Morton z-value over (user_id, value) at 8 bits/dim — the
      // data-skipping layout key (cluster by ONE value, prune scans on
      // EITHER dimension). Static bit interleave, pure codegen; the
      // oracle replays quantization + interleave from the same extents
      val e = Tables.events(s, d)
      val r = e.agg(
        min(col("user_id").cast("double")), max(col("user_id").cast("double")),
        min(col("value")), max(col("value"))).head()
      val z = Locality.zValue(
        Seq(col("user_id"), col("value")),
        Seq((r.getDouble(0), r.getDouble(1)), (r.getDouble(2), r.getDouble(3))),
        bits = 8)
      e.select(col("event_id"), z.as("zval")).orderBy(col("event_id"))
    }),
    "q24_heavy_hitters" -> ((s, d) => {
      // EXACT heavy hitters (count > N/40 tokens) via the two-pass
      // Misra-Gries sketch-then-verify plan: a k-counter mergeable
      // summary yields a guaranteed candidate superset with O(parts*k)
      // exchange volume, then an exact count runs over candidate-key
      // rows only — the answer is exact, so the oracle is plain
      // GROUP BY / HAVING
      val toks = Tables.documents(s, d)
        .select(explode(split(col("text"), "\\s+")).as("token"))
        .filter(col("token") =!= "")
      Relational.exactHeavyHitters(toks, "token", 40)
        .orderBy(col("token"))
    }),
    "q45_group_heavy_hitters" -> ((s, d) => {
      // per-LANGUAGE exact heavy hitters (count > group/40): the q24
      // plan with BOTH the group count and key space unbounded — each
      // language's Misra-Gries candidates verify through a (group,
      // key) equi join, no driver-side candidate collect; per-language
      // stopword discovery as one sketch pass + one verify pass
      val toks = Tables.documents(s, d)
        .select(col("lang"), explode(split(col("text"), "\\s+")).as("token"))
        .filter(col("token") =!= "")
      Relational.exactHeavyHittersByGroup(toks, "lang", "token", 40)
        .orderBy(col("lang"), col("token"))
    }),
    "q23_kmv_overlap" -> ((s, d) => {
      // sketch ALGEBRA: audience overlap between two event types from
      // three KMV sketches (A, B, A∪B — the union sketch IS the merge
      // of the two, so this works across precomputed per-partition /
      // per-day sketches without re-scanning) via inclusion–exclusion;
      // the exact intersection rides along for the error column
      import graft.functions.KmvSketch
      val e = Tables.events(s, d)
      def slice(t: String) = e.filter(col("event_type") === t)
      val exact = slice("click").select(col("user_id")).distinct()
        .join(slice("view").select(col("user_id")).distinct(), "user_id")
        .count()
      val k = 256
      e.filter(col("event_type").isin("click", "view"))
        .agg(
          KmvSketch.kmv(graft.functions.PortableHash.md5Uniform(
            when(col("event_type") === "click", col("user_id"))
              .cast("string")), k).as("sa"),
          KmvSketch.kmv(graft.functions.PortableHash.md5Uniform(
            when(col("event_type") === "view", col("user_id"))
              .cast("string")), k).as("sb"),
          KmvSketch.kmvDistinct(col("user_id"), k).as("su"))
        .select(
          round(col("sa.estimate"), 6).as("est_clicks"),
          round(col("sb.estimate"), 6).as("est_views"),
          round(col("su.estimate"), 6).as("est_union"),
          round(col("sa.estimate") + col("sb.estimate") - col("su.estimate"),
            6).as("est_inter"),
          lit(exact).as("exact_inter"))
    }),
    "q20_bloom_prefilter" -> ((s, d) => {
      // portable Bloom pre-filter (the broadcast shuffle-avoidance
      // pattern): bitset built from orders' distinct custkeys (one
      // bit_or agg + a bounded 2 KiB collect), membership test as a
      // pure codegen projection on the probe side. Output = every
      // passing customer with its deterministic false-positive flag;
      // the oracle rebuilds the identical bitset from the same md5
      // positions and replays the verdicts.
      // probes = every real custkey (all members in this testdata —
      // q5 is empty) PLUS the same keys shifted out of the key space
      // (all non-members), so the output carries both the full member
      // recall (one-sided error) and the deterministic false-positive
      // set among the non-members
      // fixed mBits here because the oracle rebuilds this exact bitset;
      // production sizing is Bloom.buildSized (~10 bits/key — the fixed
      // 16384 saturates past ~10k keys, OperatorsSpec "bloom auto-sizing")
      val orders = Tables.orders(s, d)
      val bits = Bloom.build(orders, "o_custkey", k = 3,
        mBits = 16384)
      val cust = Tables.customer(s, d)
      val probes = cust.select(col("c_custkey").as("probe_key"))
        // shift by 10^9: outside the key space of EVERY scale, including
        // replicated datasets whose replicas offset keys by r·10^7 (the
        // round-13 sf1 run caught the old +10^7 shift colliding with
        // replica r+1's real keys — duplicate probes that the oracle's
        // per-key count conflated)
        .union(cust.select((col("c_custkey") + 1000000000L).as("probe_key")))
      probes
        .filter(Bloom.mightContain(col("probe_key"), bits, 3, 16384))
        .join(orders.select(col("o_custkey")).distinct(),
          col("probe_key") === col("o_custkey"), "left")
        .select(col("probe_key"), col("o_custkey").isNotNull.as("is_member"))
        .orderBy(col("probe_key"))
    }),
    "q19_kmv_groups" -> ((s, d) => {
      // the GROUPED sketch path: one KMV per event_type (merge across
      // partitions within each group) — "distinct users per type"
      // without shuffling every distinct (type, user) pair at 100 TB
      import graft.functions.KmvSketch
      Tables.events(s, d).groupBy(col("event_type"))
        .agg(KmvSketch.kmvDistinct(col("user_id"), 256).as("s"),
          countDistinct(col("user_id")).as("n_exact"))
        .select(col("event_type"), col("n_exact"),
          col("s.estimate").as("estimate"),
          round(abs(col("s.estimate") - col("n_exact")) / col("n_exact"), 6)
            .as("rel_err"))
        .orderBy(col("event_type"))
    }),
    "q17_kmv_distinct" -> ((s, d) => {
      // KMV distinct-count sketch (the portable, mergeable alternative
      // to engine-specific HLL): one streaming pass keeping the 512
      // smallest md5 uniforms of l_partkey, estimate (k-1)/kth-min.
      // The oracle replays the identical uniforms with ORDER BY/LIMIT.
      // Exact count rides along to expose the relative error.
      import graft.functions.KmvSketch
      Tables.lineitem(s, d)
        .agg(KmvSketch.kmvDistinct(col("l_partkey"), 512).as("s"),
          countDistinct(col("l_partkey")).as("n_exact"))
        .select(lit(512).as("k"), col("n_exact"),
          col("s.estimate").as("estimate"),
          round(abs(col("s.estimate") - col("n_exact")) / col("n_exact"), 6)
            .as("rel_err"))
    }),
    "q37_hll_distinct" -> ((s, d) => {
      // HLL distinct-count sketch (Flajolet 2007) per order month — the
      // O(m)-state mergeable cardinality sketch every warehouse ships,
      // here over the portable 60-bit md5 hash so the oracle recomputes
      // the REGISTERS bit-for-bit (bucket = low 8 hash bits, rho =
      // leading-zero rank of the rest; Spark's own approx_count_distinct
      // is engine-private and can't be gated). z_fix is the harmonic sum
      // as an exact integer; the estimate's float path multiplies only
      // by powers of two, so both engines land on identical doubles.
      // Exact count rides along to expose the relative error.
      import graft.functions.HllSketch
      // DateType group key, month string rendered per RESULT row — an
      // interpreted date_format(timestamp) key inside the typed
      // aggregate costs ~30x per row (hllab2 A/B in BASELINE.md)
      Tables.orders(s, d)
        .select(trunc(col("o_orderdate"), "month").as("m"),
          col("o_custkey"))
        .groupBy(col("m"))
        .agg(countDistinct(col("o_custkey")).as("n_exact"),
          HllSketch.hllDistinct(col("o_custkey"), 8).as("sk"))
        .select(date_format(col("m"), "yyyy-MM").as("month"),
          col("n_exact"),
          col("sk.v_zero").as("v_zero"), col("sk.z_fix").as("z_fix"),
          round(col("sk.raw_est"), 4).as("raw_est"),
          round(col("sk.estimate"), 4).as("estimate"))
        .orderBy(col("month"))
    }),
    "q38_hll_cube" -> ((s, d) => {
      // the sketch-CUBE pattern: one persisted 256-byte register cell
      // per month, any roll-up answered by elementwise-max merge of the
      // cells (hll_merge) with NO rescan of the raw data. Register max
      // is associative/commutative/idempotent, so merge-of-monthly ==
      // sketch-of-year EXACTLY — which is what the oracle (a direct
      // year-level register computation) verifies. This is the
      // pre-aggregated COUNT(DISTINCT) shape for 100 TB cubes.
      import graft.functions.{HllMerge, HllSketch}
      // DateType group key and DateType year filter (the q37 fix): no
      // per-input-row string rendering anywhere in the pipeline
      val orders = Tables.orders(s, d)
        .select(trunc(col("o_orderdate"), "month").as("m"),
          col("o_custkey"))
      val in1995 = col("m") >= lit("1995-01-01").cast("date") &&
        col("m") <= lit("1995-12-01").cast("date")
      val monthly = orders.groupBy(col("m"))
        .agg(HllSketch.hllDistinct(col("o_custkey"), 8).as("sk"))
      val merged = monthly.filter(in1995)
        .agg(HllMerge.hllMerge(col("sk.regs"), 8).as("s"))
      val exact = orders.filter(in1995)
        .agg(countDistinct(col("o_custkey")).as("n_exact"))
      merged.crossJoin(exact)
        .select(col("n_exact"), col("s.v_zero").as("v_zero"),
          col("s.z_fix").as("z_fix"),
          round(col("s.raw_est"), 4).as("raw_est"),
          round(col("s.estimate"), 4).as("estimate"))
    }),
    "q46_hll_window" -> ((s, d) => {
      // the sketch-over-WINDOW pattern completing q37/q38: trailing
      // 7-day distinct users per observed day, answered from persisted
      // per-day 256-byte HLL register cells — the range join + merge
      // touches day-cardinality × 7 sketch cells, never the raw events,
      // so a 100 TB event log pays one daily sketch pass and every
      // trailing window after that is register algebra (the exact
      // trailing COUNT(DISTINCT) rider exists only to expose the error;
      // production drops it). Merge-of-daily-cells == direct sketch of
      // the window's union (register max is associative/idempotent),
      // which is exactly what the oracle's window-level register replay
      // verifies.
      import graft.functions.{HllMerge, HllSketch}
      val e = Tables.events(s, d)
        .select(to_date(col("ts")).as("day"), col("user_id"))
      val daily = e.groupBy(col("day"))
        .agg(HllSketch.hllDistinct(col("user_id"), 8).as("sk"))
      val days = daily.select(col("day").as("d0"))
      val merged = days
        .join(daily, col("day").between(date_sub(col("d0"), 6), col("d0")))
        .groupBy(col("d0"))
        .agg(HllMerge.hllMerge(col("sk.regs"), 8).as("s"))
      val exact = days
        .join(e, col("day").between(date_sub(col("d0"), 6), col("d0")))
        .groupBy(col("d0"))
        .agg(countDistinct(col("user_id")).as("n_exact"))
      merged.join(exact, "d0")
        .select(col("d0").as("day"), col("n_exact"),
          col("s.v_zero").as("v_zero"), col("s.z_fix").as("z_fix"),
          round(col("s.raw_est"), 4).as("raw_est"),
          round(col("s.estimate"), 4).as("estimate"))
        .orderBy(col("day"))
    }),
    "q47_event_transitions" -> ((s, d) => {
      // Markov transition mining over per-user event sequences: one
      // keyed window (lead over the per-user exchange — the same
      // exchange profile as sessionization) pairs each event with its
      // successor, then a transition-matrix agg whose cardinality is
      // |event types|² regardless of log size; p = row-normalized
      // transition probability. The path-mining primitive behind
      // next-action prediction and funnel discovery.
      val e = Tables.events(s, d)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val bySrc = org.apache.spark.sql.expressions.Window
        .partitionBy(col("src"))
      e.select(col("user_id"), col("ts"), col("event_id"),
          col("event_type").as("src"))
        .withColumn("dst", lead(col("src"), 1).over(w))
        .filter(col("dst").isNotNull)
        .groupBy(col("src"), col("dst"))
        .agg(count(lit(1)).as("n"))
        .withColumn("p", round(col("n").cast("double") /
          sum(col("n")).over(bySrc).cast("double"), 6))
        .orderBy(col("src"), col("dst"))
    }),
    "q49_sketch_store" -> ((s, d) => {
      // the STORE-SERVED twin of q46: per-day HLL cells persisted
      // day-partitioned (staged once per sfDir), trailing 7-day
      // distinct users served from cells only — same estimate columns,
      // gated against the same register replay. Append-only ingest
      // with probe-time register-max healing; range probes prune to
      // the window's day partitions (ScaleSpec asserts the
      // PartitionFilters clause).
      val dir = stagedStore(d, "hllstore", version = 1) { dir =>
        SketchStore.write(Tables.events(s, d), "ts", "user_id", 8, dir)
      }
      SketchStore.probeTrailing(s, dir, 7).orderBy(col("day"))
    }),
    "q51_freq_store" -> ((s, d) => {
      // the point-frequency member of the sketch-store trio (q49 HLL
      // distinct, q50 histogram quantiles): per-day CMS counter cells
      // persisted day-partitioned (staged once per sfDir), a 14-day
      // window's frequency estimates served by summing day cells —
      // counters ADD losslessly across any slicing, so the merged
      // array is exactly the sketch of the range. The top-10 exact
      // counts ride along to expose the one-sided error, as in q39.
      val dir = stagedStore(d, "freqstore", version = 1) { dir =>
        FreqStore.write(Tables.events(s, d), "ts", "user_id", 4, 9, dir)
      }
      val (from, to) = ("2024-01-08", "2024-01-21")
      val e = Tables.events(s, d)
        .filter(to_date(col("ts")).between(lit(from), lit(to)))
      val top = e.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_exact"))
        .orderBy(col("n_exact").desc, col("user_id")).limit(10)
      FreqStore.probeRange(top, "user_id", dir, from, to)
        .select(col("user_id"), col("n_exact"), col("n_total"), col("est"))
        .orderBy(col("user_id"))
    }),
    "q56_grouped_sketch_store" -> ((s, d) => {
      // the CUBE-STORE form of q49 (per-segment DAU): one register
      // cell per (event_type × day), two partition levels, a window's
      // per-type distinct users served by register-max merges with
      // BOTH day- and dim-level pruning (ScaleSpec asserts each).
      val dir = stagedStore(d, "hllgrouped", version = 1) { dir =>
        SketchStore.writeGrouped(Tables.events(s, d), "event_type",
          "ts", "user_id", 8, dir)
      }
      SketchStore.probeRangeGrouped(s, dir, "2024-01-08", "2024-01-21")
        .orderBy(col("dim"))
    }),
    "q50_histogram_store" -> ((s, d) => {
      // the STORE-SERVED twin of q48 (and the quantile sibling of the
      // q49 HLL store): per-month fixed-edge histogram cells persisted
      // month-partitioned under frozen build edges (staged once per
      // sfDir), a year's quantiles served by merging cells with count
      // addition — same (p, bucket, cum_n, n_total, est) columns as
      // q48 minus the exact rider. Range probes prune to the window's
      // month partitions (ScaleSpec asserts the PartitionFilters
      // clause).
      val dir = stagedStore(d, "histstore", version = 1) { dir =>
        HistStore.write(Tables.orders(s, d), "o_orderdate",
          "o_totalprice", 256, dir)
      }
      HistStore.probeRange(s, dir, "1995-01", "1995-12",
        Seq(0.5, 0.9, 0.99))
    }),
    "q48_histogram_quantiles" -> ((s, d) => {
      // the quantile member of the sketch-reuse family (q38 cube, q46
      // window): per-MONTH fixed-edge histogram cells (256 bins over
      // the table-wide extent — shared edges make cells from any slice
      // mergeable by plain count ADDITION), rolled up over 1995 into
      // approximate quantiles with error <= one bin width, no rescan
      // of the raw orders. est = the chosen bin's upper edge; the
      // exact two-pass quantile rides along to expose the error. The
      // extent read is a bounded 2-value sidecar (the q43 pattern);
      // bin assignment is one floor-of-division both engines compute
      // bit-identically, and the 256-row cumulative window is bounded
      // by the bin count, never the data.
      val o = Tables.orders(s, d).select(
        date_format(col("o_orderdate"), "yyyy-MM").as("month"),
        col("o_totalprice").as("v"))
      val ext = o.agg(min(col("v")), max(col("v"))).head()
      val (lo, hi) = (ext.getDouble(0), ext.getDouble(1))
      val b = 256
      val width = (hi - lo) / b
      val cells = o
        .withColumn("bin", least(floor((col("v") - lit(lo)) / lit(width)),
          lit(b - 1L)).cast("long"))
        .groupBy(col("month"), col("bin"))
        .agg(count(lit(1)).as("n"))
      val merged = cells.filter(col("month").startsWith("1995"))
        .groupBy(col("bin")).agg(sum(col("n")).as("n"))
      // bounded 256-row frame: a single-partition window is fine here
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("bin"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      val cum = merged
        .withColumn("cum", sum(col("n")).over(w))
        .crossJoin(merged.agg(sum(col("n")).as("n_total")))
      val ps = Seq(0.5, 0.9, 0.99)
      import s.implicits._
      val chosen = ps.toDF("p").crossJoin(cum)
        .filter(col("cum") >= ceil(col("p") * col("n_total")))
        .groupBy(col("p"))
        .agg(min(col("bin")).as("bucket"), max(col("n_total")).as("n_total"))
      val exact = Relational.exactQuantiles(
        o.filter(col("month").startsWith("1995")), "v", ps)
        .select(col("p"), round(col("value"), 6).as("exact"))
      chosen
        .join(cum.select(col("bin").as("bucket"), col("cum").as("cum_n")),
          "bucket")
        .join(exact, "p")
        .select(col("p"), col("bucket"), col("cum_n"), col("n_total"),
          round(lit(lo) + (col("bucket") + 1) * lit(width), 6).as("est"),
          col("exact"))
        .orderBy(col("p"))
    }),
    "q39_cms_topk" -> ((s, d) => {
      // Count-Min frequency sketch (Cormode-Muthukrishnan 2005): d·w
      // counters answer ANY key's frequency with one-sided error — the
      // mergeable point-frequency complement of q24's exact Misra-Gries
      // heavy hitters. Row buckets are consecutive 9-bit slices of the
      // portable 60-bit md5 hash, so the oracle replays every counter
      // as a plain GROUP BY (the q37 register-replay contract). The
      // top-10 exact-count parts ride along to expose the (one-sided)
      // estimation error; the sketch row is one 16 KiB struct, joined
      // broadcast.
      import graft.functions.CmsSketch
      val li = Tables.lineitem(s, d).select(col("l_partkey"))
      val sk = li.agg(CmsSketch.cmsFreq(col("l_partkey"), 4, 9).as("sk"))
      val top = li.groupBy(col("l_partkey"))
        .agg(count(lit(1)).as("n_exact"))
        .orderBy(col("n_exact").desc, col("l_partkey")).limit(10)
      top.join(broadcast(sk))
        .select(col("l_partkey"), col("n_exact"),
          col("sk.n_total").as("n_total"),
          CmsSketch.cmsEstimate(col("sk.counters"), col("l_partkey"), 4, 9)
            .as("est"))
        .orderBy(col("l_partkey"))
    }),
    "q40_salted_join" -> ((s, d) => {
      // the explicit skew-mitigation join path, gated end-to-end: the
      // big side salts on a deterministic row hash, the small side
      // replicates saltFactor times, the join runs on (key, salt) —
      // splitting any hot orderkey across 8 reducers — and the result
      // must be IDENTICAL to the plain join (the oracle). At 100 TB
      // this is the manual fallback for hot keys AQE's skew handling
      // can't re-plan (e.g. a broadcast-ineligible dimension with one
      // pathological key).
      val big = Tables.lineitem(s, d).select(col("l_orderkey").as("k"),
        col("l_extendedprice"), col("l_discount"))
      val small = Tables.orders(s, d)
        .select(col("o_orderkey").as("k"), col("o_orderpriority"))
      Skew.saltedJoin(big, small, "k", 8)
        .groupBy(col("o_orderpriority"))
        .agg(round(sum(col("l_extendedprice").cast("decimal(12,2)") *
            (lit(1).cast("decimal(3,2)") -
              col("l_discount").cast("decimal(3,2)"))), 2)
            .cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("o_orderpriority"))
    }),
    "q41_salted_distinct" -> ((s, d) =>
      // two-phase salted COUNT(DISTINCT) for hot grouping keys: partial
      // distinct on (key, hash-salt of the value) — distinct values
      // partition disjointly across salts, so summing the partials is
      // exact — then final sum on the key. The shape that bounds
      // per-reducer state when one group holds most of the table.
      Skew.saltedCountDistinct(Tables.events(s, d), "event_type",
          "user_id", 8)
        .orderBy(col("event_type"))),

    // --- vector engine: brute force (reference oracle semantics) ---
    "v1_range_search" -> ((s, d) =>
      BruteForce.rangeSearch(embeddings(s, d), "embedding", Q64, Radius)
        .select(col("vec_id")).orderBy(col("vec_id"))),
    "v2_knn" -> ((s, d) =>
      BruteForce.knn(embeddings(s, d), "embedding", "vec_id", Q64, 10)
        .withColumn("rank",
          row_number().over(org.apache.spark.sql.expressions.Window
            .orderBy(col("dist"), col("vec_id"))))
        .select(col("rank"), col("vec_id"))
        .orderBy(col("rank"))),
    "v3_knn_join" -> ((s, d) => {
      val e = embeddings(s, d)
      val queries = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      BruteForce.knnJoin(e, "embedding", "vec_id", queries, "query_id", "qvec", 5)
        .select(col("query_id"), col("rank"), col("vec_id"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // --- vector engine: per-dimension stats (A1/A4) ---
    "v4_dim_stats" -> ((s, d) => {
      val eav = VectorStats.explodeVectors(embeddings(s, d), "vec_id", "embedding")
      VectorStats.dimStats(eav)
        .select(col("idx"),
          round(col("mean"), 6).as("mean_v"),
          round(col("stdev"), 6).as("stdev_v"),
          col("cnt"),
          col("meanId").as("mean_id"))
        .orderBy(col("idx"))
    }),

    // --- vector engine: index build + search ---
    "v5_index_search_exact" -> ((s, d) => {
      val e = embeddings(s, d)
      val index = IndexBuild.buildIndex(e, "vec_id", "embedding")
      IndexSearch.searchExact(index, e, "vec_id", "embedding", Q64, Radius)
        .select(col("vec_id")).orderBy(col("vec_id"))
    }),
    "v6_index_leaf_count" -> ((s, d) => {
      val e = embeddings(s, d)
      val index = IndexBuild.buildIndex(e, "vec_id", "embedding")
      index.filter(col("id").isNotNull)
        .agg(count(lit(1)).as("leaf_cnt"),
          count_distinct(col("id")).as("distinct_ids"))
    }),
    "v17_batch_index_search" -> ((s, d) => {
      // Q queries through ONE shared frontier descent (the serving shape
      // at 100×): each level is one scan of the index joined against the
      // broadcast (qid, childId) frontier — the index twin of a6's
      // broadcast-queries knnJoin, vs the per-query descents of v5/v8
      val e = embeddings(s, d)
      val index = IndexBuild.buildIndex(e, "vec_id", "embedding")
      val queries = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      IndexSearch.searchExactBatch(index, e, "vec_id", "embedding",
          queries, "qid", "qvec", Radius)
        .select(col("qid"), col("vec_id"))
        .orderBy(col("qid"), col("vec_id"))
    }),

    // --- text analysis (training-data pipeline) ---
    "t14_html_extract" -> ((s, d) =>
      // HTML → text extraction (the post-WARC step of a crawl
      // pipeline): each doc wrapped in realistic markup — scripts
      // (with < inside!), styles, comments, entities — then extracted
      // by the codegen'd regexp chain; the oracle predicts the
      // closed-form result (corpus text is HTML-clean, verified)
      Tables.documents(s, d)
        .select(col("doc_id"),
          TextOps.htmlToText(htmlWrap(col("doc_id"), col("text")))
            .as("extracted"))
        .orderBy(col("doc_id"))),
    "t1_text_profile" -> ((s, d) =>
      TextOps.profile(Tables.documents(s, d), "doc_id", "text")
        .orderBy(col("doc_id"))),
    "t2_top_terms" -> ((s, d) =>
      TextOps.topTerms(Tables.documents(s, d), "text", 20)),
    "t3_tfidf" -> ((s, d) =>
      TextOps.tfidf(Tables.documents(s, d), "doc_id", "text")
        .filter(col("doc") < 20)
        .orderBy(col("doc"), col("token"))),
    "t4_pii_scan" -> ((s, d) =>
      // real regex engine over a generated corpus whose planted PII
      // counts are closed-form in the id — the oracle predicts what
      // regexp_count must find
      TextOps.piiProfile(TextOps.piiCorpus(s, 500), "doc_id", "text")
        .orderBy(col("doc_id"))),
    "t5_repetition" -> ((s, d) =>
      // Gopher-style repetition quality metrics: duplicate-token
      // fraction, top-bigram occupancy, repeated-trigram coverage —
      // two (doc, gram) keyed aggs, oracle recomputes all three
      TextOps.repetitionProfile(Tables.documents(s, d), "doc_id", "text")
        .orderBy(col("doc"))),
    "t6_c4_line_clean" -> ((s, d) =>
      // C4 line cleaning (Raffel et al. 2020 §2.2) over the
      // deterministic line corpus (the synthetic documents are
      // single-line, punctuation-free soup): keep lines ending in
      // terminal punctuation with >= 5 words and no banned marker —
      // one per-row higher-order filter, no shuffle; the oracle
      // rebuilds the corpus closed-form and replays the filter
      TextOps.c4LineClean(TextOps.lineCorpus(s, 500), "doc_id", "text")
        .select(col("doc_id"), col("n_lines"), col("n_kept"),
          col("clean_md5"))
        .orderBy(col("doc_id"))),

    "t7_bm25" -> ((s, d) =>
      // BM25 ranked retrieval (Okapi/Lucene scoring) for a fixed
      // 4-term query: per-term tf arrives as its own when-sum column
      // and the score is a fixed-order expression sum ranked on the
      // 6dp-rounded value, so both engines cut the same top-15
      TextOps.bm25(Tables.documents(s, d), "doc_id", "text",
          Seq("spark", "data", "query", "join"), topK = 15)
        .orderBy(col("bm25").desc, col("doc"))),

    "t11_inverted_bm25" -> ((s, d) => {
      // BM25 probe of the PERSISTED inverted-index store (the keyword
      // twin of the ANN serving stores): term-bucket-partitioned
      // posting lists, probe scans ONLY the query terms' buckets, df
      // counted from the pruned rows, stats from the exact sidecar —
      // scores identical to the inline t7 scan, so the oracle is the
      // same SQL
      val dir = stagedStore(d, "t11", version = 2) { dir =>
        TextIndex.write(Tables.documents(s, d), "doc_id", "text",
          numBuckets = 16, dir)
      }
      TextIndex.probe(TextIndex.open(s, dir),
          Seq("spark", "data", "query", "join"), topK = 15)
        .orderBy(col("bm25").desc, col("doc"))
    }),
    "t13_phrase_store" -> ((s, d) => {
      // the t12 phrase relation served from the PERSISTED positional
      // inverted index instead of a raw-text scan: pruned probe of the
      // phrase terms' bucket partitions, per-doc position-array pivot,
      // one array expression for the occurrence count — identical
      // output to the scan, so the two gates share the oracle (the
      // t7/t11 pattern, now for phrases)
      val dir = stagedStore(d, "t11", version = 2) { dir =>
        TextIndex.write(Tables.documents(s, d), "doc_id", "text",
          numBuckets = 16, dir)
      }
      TextIndex.probePhrase(TextIndex.open(s, dir), Seq("data", "query"))
        .orderBy(col("doc"))
    }),
    "t10_bpe_pairs" -> ((s, d) =>
      // the counting heart of one BPE training iteration (Sennrich et
      // al., ACL 2016), distributed: corpus -> word-freq summary (one
      // map-side-combined agg) -> char segmentation -> freq-weighted
      // adjacent-pair sum. The merge loop itself runs on the bounded
      // summary (Bpe.train, spec-gated vs the classic fixture); this
      // gates the corpus-scale step the loop repeats
      Bpe.pairCounts(Bpe.initialSegments(
          Bpe.wordFreq(Tables.documents(s, d), "text")))
        .orderBy(col("weight").desc, col("left"), col("right"))
        .limit(50)),
    "t9_bigram_ce" -> ((s, d) =>
      // CCNet-style quality scoring: mean negative log bigram
      // probability under an add-one bigram LM trained on the English
      // slice (lower = more target-like). Fixed-point per-bigram terms
      // → integer doc sums (the DSIR determinism contract)
      TextOps.bigramCrossEntropy(Tables.documents(s, d), "doc_id", "text",
          col("lang") === "en")
        .orderBy(col("doc"))),
    "t8_url_dedup" -> ((s, d) =>
      // URL canonicalization dedup (CCNet/RefinedWeb pre-pass) over the
      // deterministic URL corpus: scheme/case/www/tracking-param/
      // fragment/trailing-slash variants collapse to one canonical key
      // per page; grouping mirrors d1's min-id window. Pure per-row
      // regex chain — codegen, no shuffle beyond the window; the
      // oracle rebuilds the corpus closed-form and replays each step
      TextOps.urlDuplicates(TextOps.urlCorpus(s, 500), "doc_id", "url")
        .orderBy(col("doc_id"))),

    "p13_dsir_select" -> ((s, d) =>
      // DSIR data selection (Xie et al. 2023): hashed unigram+bigram
      // importance log-ratios (target = English slice vs raw corpus),
      // per-doc weight as a FIXED-POINT integer sum (immune to float
      // accumulation order), top-100 by (weight desc, doc)
      Pipeline.dsirSelect(Tables.documents(s, d), "doc_id", "text",
          col("lang") === "en", n = 100)
        .orderBy(col("weight").desc, col("doc"))),

    "p14_weighted_sample" -> ((s, d) =>
      // Efraimidis–Spirakis weighted sampling without replacement, 20
      // docs per language with probability ∝ quality score: rank key
      // ln(u)/w (6dp-snapped, id tie-break), membership a pure function
      // of (id, salt, weight) — reproducible across runs and engines
      Pipeline.weightedSamplePerGroup(
          Tables.documents(s, d).select(col("doc_id"), col("lang"),
            col("text")),
          "doc_id", "lang", TextOps.qualityScore(col("text")), k = 20,
          salt = "ws")
        .select(col("doc_id"), col("lang"))
        .orderBy(col("lang"), col("doc_id"))),

    "p12_line_curate" -> ((s, d) => {
      // the line-level curation COMPOSITION: C4 cleaning (t6) feeds
      // global line dedup (d20) — junk lines fall before the dedup
      // election, then surviving boilerplate keeps one global copy.
      // The oracle composes both replays over the cleaned line lists
      val cleaned = TextOps.c4LineClean(TextOps.lineCorpus(s, 500),
          "doc_id", "text")
        .select(col("doc_id"), col("clean_text"))
      Dedup.dedupLines(cleaned, "doc_id", "clean_text", minWords = 4)
        .select(col("doc"), col("n_kept"), col("clean_md5"))
        .orderBy(col("doc"))
    }),

    // --- dataset assembly: deterministic sampling / splits / packing ---
    "p1_sample_split" -> ((s, d) => {
      // hash-keyed stratified sampling + train/val/test assignment:
      // membership depends only on (id, salt) — reproducible across
      // runs, engines, and repartitioning. Dyadic rates/bounds keep the
      // double comparisons bit-identical in both engines.
      val strat = Tables.documents(s, d)
        .withColumn("stratum", col("doc_id") % 3)
      val kept = Pipeline.stratifiedSample(strat, "doc_id", "stratum",
        Map(0L -> 0.25), defaultRate = 0.5, salt = "s1")
      Pipeline.splitAssign(kept, "doc_id",
          Seq(("train", 0.75), ("val", 0.125), ("test", 0.125)), salt = "sp")
        .select(col("doc_id"), col("stratum"), col("split"))
        .orderBy(col("doc_id"))
    }),
    "p2_token_pack" -> ((s, d) =>
      // greedy sequential packing via per-shard running token sums —
      // the concat-and-chunk LM pretraining layout as one keyed window
      Pipeline.packSequences(Tables.documents(s, d), "doc_id", "text",
          capacity = 512, numShards = 8)
        .select(col("doc_id"), col("shard"),
          col("n_tokens").cast("long").as("n_tokens"), col("bin"))
        .orderBy(col("doc_id"))),
    "p3_curate" -> ((s, d) =>
      // the composed curation pipeline: exact dedup -> transitive
      // near-dup clusters -> quality gate -> split assign -> per-split
      // packing; the oracle recomputes all five stages, recursive
      // closure included
      Pipeline.curate(Tables.documents(s, d), "doc_id", "text")
        .select(col("doc_id"), col("quality"), col("split"), col("shard"),
          col("n_tokens").cast("long").as("n_tokens"), col("bin"))
        .orderBy(col("doc_id"))),
    "p4_rebalance" -> ((s, d) =>
      // domain rebalancing to target language proportions: dyadic
      // targets, md5-uniform membership, downsample-only rates
      // target·K/count with K = min(count/target) — the oracle
      // recomputes the rates with identical IEEE operation order
      Pipeline.rebalance(Tables.documents(s, d), "doc_id", "lang",
          RebalanceTargets, salt = "rb")
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))),
    "p5_curate_full" -> ((s, d) => {
      // the FULLY composed curation pipeline: exact dedup -> transitive
      // near-dup clusters -> benchmark decontamination (eval = the
      // doc_id % 23 slice) -> quality gate -> split assign -> domain
      // rebalance to the dyadic language mixture -> per-split packing;
      // the oracle recomputes all seven stages, closure and rebalance
      // rates included. The pair graph + closure come from the staged
      // per-sfDir artifact (curatePairsDir — shared with p7/p9, judge
      // r14 #5); curateWith is output-identical to self-computing
      // curate (PipelineSpec), which p3 still gates inline.
      val docs = Tables.documents(s, d)
      val pd = curatePairsDir(s, d)
      Pipeline.curateWith(docs, "doc_id", "text",
          pairs = s.read.parquet(pd + "/pairs"),
          clusters = Some(s.read.parquet(pd + "/clusters")),
          evalDocs = Some(docs.filter(col("doc_id") % 23 === 0)),
          decontamK = 8,
          domainCol = Some("lang"), rebalanceTargets = RebalanceTargets)
        .select(col("doc_id"), col("lang"), col("quality"), col("split"),
          col("shard"), col("n_tokens").cast("long").as("n_tokens"),
          col("bin"))
        .orderBy(col("doc_id"))
    }),
    "p15_curate_exact" -> ((s, d) => {
      // the curation pipeline driven by the EXACT near-dup path: d22's
      // prefix-filtered Jaccard pairs (lossless, so the oracle replays
      // plain all-pairs SQL) feed curateWith in place of the LSH
      // chain — same seven stages, deterministic-complete pair graph
      // pair graph + closure staged per sfDir (exactPairsDir, judge
      // r14 #5) — the gate measures the curation stages, not the
      // AllPairs pass it shares with d22's family
      val docs = Tables.documents(s, d)
      val pd = exactPairsDir(s, d)
      Pipeline.curateWith(docs, "doc_id", "text",
          pairs = s.read.parquet(pd + "/pairs"),
          clusters = Some(s.read.parquet(pd + "/clusters")),
          evalDocs = Some(docs.filter(col("doc_id") % 23 === 0)),
          decontamK = 8,
          domainCol = Some("lang"), rebalanceTargets = RebalanceTargets)
        .select(col("doc_id"), col("lang"), col("quality"), col("split"),
          col("shard"), col("n_tokens").cast("long").as("n_tokens"),
          col("bin"))
        .orderBy(col("doc_id"))
    }),
    "p17_crawl_pipeline" -> ((s, d) => {
      // the END-TO-END crawl pipeline through REAL container bytes
      // (judge r12 #5): the corpus HTML-wrapped and written as WARC
      // part files through the real encoder (i5's sink twin), read
      // back at the one-file-per-task grain, HTML-extracted (t14),
      // quality-gated (t1), admitted against the persisted standing-
      // corpus shingle store (d30), and the admitted docs curated
      // (p3's five stages) — one hash-gated composition of the five
      // individually-green stages
      import graft.sources.Warc
      val docs = Tables.documents(s, d)
      val warcDir = stagedStore(d, "crawlwarc", version = 1) { dir =>
        Warc.writeWarc(
          docs.select(
            concat(lit("https://example.com/doc"), col("doc_id")).as("uri"),
            htmlWrap(col("doc_id"), col("text")).cast("binary").as("body")),
          "uri", "body", dir, files = 4)
      }
      val crawled = Warc.readWarc(s, warcDir)
        .select(
          regexp_extract(col("target_uri"), "doc(\\d+)$", 1)
            .cast("long").as("doc_id"),
          TextOps.htmlToText(col("body").cast("string")).as("text"))
      val qualified = crawled
        .filter(TextOps.qualityScore(col("text")) >= 0.5)
        .localCheckpoint()
      val admitted = qualified.join(
        // band = true: the crawl re-admits the WHOLE corpus against the
        // store, so the one-pass size-banded probe wins over the
        // narrow-batch prefix path (11.5 -> 1.8 s warm at sf0.1,
        // identical pair set — see ngramJaccardPairsAgainstStoreBand).
        // While the probe's shingles and their postings fit the driver
        // budget (sf0.1 and below: ~270k probe shingles) the driver path
        // answers instead and `band` is not consulted
        Dedup.admitNewAgainstStore(qualified, shingleStore(s, d),
          "doc_id", "text", 0.3, band = true),
        Seq("doc_id"))
        // curate consumes its input in several passes (exact dedup,
        // pair signatures, quality, splits) — without this pin each
        // pass re-runs the store-probe admission join above (the
        // d7/p15-class double-evaluation). ~admitted-corpus rows,
        // bounded. Round-14 quiet mark: ~3-5 s warm at sf0.1 (was
        // 21.4 s before the band-join admission).
        .localCheckpoint()
      Pipeline.curate(admitted, "doc_id", "text")
        .select(col("doc_id"), col("quality"), col("split"), col("shard"),
          col("n_tokens").cast("long").as("n_tokens"), col("bin"))
        .orderBy(col("doc_id"))
    }),
    "p6_rebalance_repeat" -> ((s, d) =>
      // upsampling rebalance: scarce domains repeat up to maxRepeat
      // epochs toward the target mixture; per-row copy counts are
      // floor(rate) + one md5-uniform-gated extra, so the oracle
      // predicts every (doc_id, rep) row exactly
      Pipeline.rebalanceRepeat(Tables.documents(s, d), "doc_id", "lang",
          RebalanceTargets, maxRepeat = 3, salt = "rr")
        .select(col("doc_id"), col("lang"), col("rep"))
        .orderBy(col("doc_id"), col("rep"))),
    "p8_temperature_mix" -> ((s, d) => {
      // alpha-temperature mixture (mT5/XLM-R style): targets proportional
      // to sqrt(count) over the observed language counts, fed into the
      // gated downsample rebalance. sqrt is correctly rounded by IEEE in
      // both engines and the share denominator is an ORDERED fold (sorted
      // by lang), so the oracle reproduces every rate bit-for-bit
      val docs = Tables.documents(s, d)
      val targets = Pipeline.temperatureTargets(
        Pipeline.domainCounts(docs, "lang"), alpha = 0.5)
      Pipeline.rebalance(docs, "doc_id", "lang", targets, salt = "tm")
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    }),
    "p9_curate_temperature" -> ((s, d) => {
      // the composed pipeline with a TEMPERATURE-DERIVED mixture: the
      // rebalance targets come from the post-quality post-split corpus
      // counts at alpha = 0.5 (share ∝ sqrt(count) — mT5/XLM-R rule;
      // sqrt is IEEE-portable so the oracle recomputes every share and
      // rate bit-for-bit), then the gated downsample rebalance.
      // Pairs + closure from the shared staged artifact (r14 #5).
      val docs = Tables.documents(s, d)
      val pd = curatePairsDir(s, d)
      Pipeline.curateWith(docs, "doc_id", "text",
          pairs = s.read.parquet(pd + "/pairs"),
          clusters = Some(s.read.parquet(pd + "/clusters")),
          evalDocs = Some(docs.filter(col("doc_id") % 23 === 0)),
          decontamK = 8,
          domainCol = Some("lang"), mixtureAlpha = Some(0.5))
        .select(col("doc_id"), col("lang"), col("quality"), col("split"),
          col("shard"), col("n_tokens").cast("long").as("n_tokens"),
          col("bin"))
        .orderBy(col("doc_id"))
    }),
    "p10_chunk_docs" -> ((s, d) =>
      // long-document chunking: overlapping 64-token windows, stride 56
      // (overlap 8) — integer-arithmetic chunk counts and 1-based token
      // slices are bit-identical across engines, so the oracle predicts
      // every chunk boundary and chunk text exactly
      Pipeline.chunkDocuments(Tables.documents(s, d), "doc_id", "text",
          maxTokens = 64, overlap = 8)
        .select(col("doc_id"), col("chunk"), col("n_chunk_tokens"),
          md5(col("chunk_text")).as("chunk_md5"))
        .orderBy(col("doc_id"), col("chunk"))),
    "p11_chunk_pack" -> ((s, d) => {
      // the pretraining layout END-TO-END: long documents -> overlapping
      // 64-token chunks (stride 56) -> greedy per-shard packing of the
      // CHUNKS at capacity 128. Chunk token counts feed the packer
      // directly (no re-tokenization of the rejoined text); orderCols
      // (doc_id, chunk) keeps the running sum unique-keyed now that
      // doc_id alone is not row-unique
      val chunked = Pipeline.chunkDocuments(Tables.documents(s, d),
        "doc_id", "text", maxTokens = 64, overlap = 8)
      Pipeline.packSequences(chunked, "doc_id", "chunk_text",
          capacity = 128, numShards = 8,
          count = _ => col("n_chunk_tokens"),
          orderCols = Seq("doc_id", "chunk"))
        .select(col("doc_id"), col("chunk"), col("shard"),
          col("n_tokens").cast("long").as("n_tokens"), col("bin"))
        .orderBy(col("doc_id"), col("chunk"))
    }),
    "p7_curate_upsampled" -> ((s, d) => {
      // the composed pipeline in its UPSAMPLING configuration: same
      // seven stages as p5 but scarce domains repeat up to 3 epochs
      // (rebalanceRepeat) and packing orders by (doc_id, rep) so the
      // repeated rows bin deterministically — the oracle predicts every
      // (doc_id, rep) row and its bin. Pairs + closure from the shared
      // staged artifact (r14 #5).
      val docs = Tables.documents(s, d)
      val pd = curatePairsDir(s, d)
      Pipeline.curateWith(docs, "doc_id", "text",
          pairs = s.read.parquet(pd + "/pairs"),
          clusters = Some(s.read.parquet(pd + "/clusters")),
          evalDocs = Some(docs.filter(col("doc_id") % 23 === 0)),
          decontamK = 8,
          domainCol = Some("lang"), rebalanceTargets = RebalanceTargets,
          maxRepeat = 3)
        .select(col("doc_id"), col("rep"), col("lang"), col("quality"),
          col("split"), col("shard"),
          col("n_tokens").cast("long").as("n_tokens"), col("bin"))
        .orderBy(col("doc_id"), col("rep"))
    }),
    "v12_l2_normalize" -> ((s, d) =>
      VectorStats.l2Normalize(embeddings(s, d), "embedding")
        .select(col("vec_id"),
          round(col("embedding")(0), 6).as("u0"),
          round(col("embedding")(63), 6).as("u63"))
        .orderBy(col("vec_id"))),
    "v15_quantize" -> ((s, d) =>
      // per-dimension int8 scalar quantization (embedding storage path):
      // floor codes are bit-deterministic, so the oracle predicts them
      VectorStats.quantize(embeddings(s, d), "vec_id", "embedding", "q", 256)
        .select(col("vec_id"), col("q")(0).as("q1"),
          col("q")(31).as("q32"), col("q")(63).as("q64"))
        .orderBy(col("vec_id"))),

    // --- deduplication family ---
    "d1_exact_dups" -> ((s, d) =>
      Dedup.exactDuplicates(Tables.documents(s, d), "doc_id", "text")
        .orderBy(col("doc_id"))),
    "d2_ngram_jaccard" -> ((s, d) =>
      Dedup.ngramJaccardPairs(Tables.documents(s, d), "doc_id", "text", 3, 0.3)
        .orderBy(col("a"), col("b"))),
    "d3_minhash_lsh" -> ((s, d) =>
      Dedup.minHashLshCandidates(Tables.documents(s, d), "doc_id", "text")
        .orderBy(col("a"), col("b"))),
    "d4_simhash" -> ((s, d) =>
      Dedup.simHash(Tables.documents(s, d), "doc_id", "text")
        .orderBy(col("doc"))),
    "d5_simhash_pairs" -> ((s, d) =>
      // ANCHOR (quadratic by design; d10 is the banded scale path):
      // sliced to ~AnchorCap docs above the cap - see anchorSlice
      Dedup.simHashPairs(anchorSlice(Tables.documents(s, d), "doc_id"),
          "doc_id", "text", 3)
        .orderBy(col("a"), col("b"))),
    "d6_cosine_pairs" -> ((s, d) =>
      // ANCHOR (quadratic by design; d9/p18 are the scale paths):
      // sliced to ~AnchorCap vectors above the cap - see anchorSlice
      Dedup.cosinePairs(anchorSlice(embeddings(s, d), "vec_id"),
          "vec_id", "embedding", 0.4)
        .orderBy(col("a"), col("b"))),
    "p18_semantic_dedup" -> ((s, d) => {
      // SemDeDup (Abbas et al. 2023): embedding near-dup removal with
      // pair comparisons ONLY within a k-means cluster — the scale
      // path of d6's quadratic cosine dedup (Σ_c |c|² work, cluster id
      // as the shuffle key). Seed centroids (iters = 0, the a6
      // contract) keep the assignment oracle-replayable; keep-first
      // (min id) per duplicate neighbourhood
      val e = embeddings(s, d)
      Dedup.semanticDedup(e, "vec_id", "embedding",
          Similarity.ivfTrain(e, "vec_id", "embedding", 16, iters = 0),
          threshold = 0.4)
        .orderBy(col("vec_id"))
    }),
    "d7_keep_first" -> ((s, d) => {
      // production-shaped path: LSH candidates + exact Jaccard re-check
      // on candidates only (no quadratic hot-shingle self-join); the
      // oracle mirrors the same pipeline
      val docs = Tables.documents(s, d)
      val pairs = Dedup.lshVerifiedPairs(docs, "doc_id", "text", 3, 0.6)
      Dedup.keepFirst(docs, "doc_id", pairs).orderBy(col("doc_id"))
    }),
    "d8_lsh_verified" -> ((s, d) =>
      Dedup.lshVerifiedPairs(Tables.documents(s, d), "doc_id", "text", 3, 0.3)
        .orderBy(col("a"), col("b"))),
    "d9_cosine_lsh" -> ((s, d) =>
      Dedup.cosineLshPairs(embeddings(s, d), "vec_id", "embedding",
          Planes, 0.4)
        .orderBy(col("a"), col("b"))),
    "d10_simhash64_pairs" -> ((s, d) =>
      Dedup.simHash64Pairs(Tables.documents(s, d), "doc_id", "text", 3)
        .orderBy(col("a"), col("b"))),
    "d12_dup_clusters" -> ((s, d) => {
      // transitive dedup clusters: min-label propagation + pointer
      // jumping over the LSH-verified pair graph (same pair source as
      // d7); oracle recomputes the closure with a recursive CTE
      val docs = Tables.documents(s, d)
      val pairs = Dedup.lshVerifiedPairs(docs, "doc_id", "text", 3, 0.6)
      Dedup.clusterIds(pairs).orderBy(col("node"))
    }),
    "d13_decontam" -> ((s, d) => {
      // benchmark decontamination: per-training-doc count of distinct
      // 3-shingles shared with the (id % 23 == 0) eval slice; eval
      // shingle set broadcast, train side map-only probe
      val docs = Tables.documents(s, d)
      Dedup.contaminationProfile(
          docs.filter(col("doc_id") % 23 =!= 0),
          docs.filter(col("doc_id") % 23 === 0),
          "doc_id", "text", 3)
        .orderBy(col("doc"))
    }),
    "d32_semantic_decontam" -> ((s, d) => {
      // embedding-level decontamination (the semantic twin of d13's
      // lexical probe): drop training vectors whose cosine against any
      // (vec_id % 23 == 0) eval vector exceeds 0.4 — eval broadcast,
      // map-only anti probe, zero shuffles
      val e = embeddings(s, d)
      Dedup.semanticDecontam(
          e.filter(col("vec_id") % 23 =!= 0), "vec_id", "embedding",
          e.filter(col("vec_id") % 23 === 0), "embedding", 0.4)
        .orderBy(col("vec_id"))
    }),
    "d33_semantic_decontam_store" -> ((s, d) => {
      // d32 served from the persisted eval-embedding store (judge r16
      // #2): IVF-list store of the eval slice with cover-radius
      // sidecar, bound-pruned candidate lists, exact raw-cosine
      // re-verify — output row-identical to the broadcast sweep, so
      // the oracle below IS d32's SQL. Store staged once per sfDir.
      val dir = stagedStore(d, "evalstore", version = 1) { dir =>
        Dedup.writeEvalStore(
          embeddings(s, d).filter(col("vec_id") % 23 === 0)
            .select("vec_id", "embedding"),
          "vec_id", "embedding", numLists = 16, dir)
      }
      val e = embeddings(s, d)
      Dedup.semanticDecontamStore(
          e.filter(col("vec_id") % 23 =!= 0), "vec_id", "embedding",
          Dedup.openEvalStore(s, dir), 0.4)
        .orderBy(col("vec_id"))
    }),
    "d14_semdedup" -> ((s, d) =>
      // SemDeDup: IVF-cluster embeddings (deterministic first-16
      // centroids), drop the larger id of every intra-cluster pair
      // with cosine > 0.4 — pair join keyed by cluster, not all-pairs
      Dedup.semDedup(embeddings(s, d), "vec_id", "embedding", 16, 0.4)
        .orderBy(col("vec_id"))),
    "d15_dup_spans" -> ((s, d) =>
      // substring-level duplicate spans (Lee et al. 2021): k-gram hash
      // postings, corpus-wide duplicated grams, per-doc gaps-and-islands
      // run merge — the oracle mirrors postings + window merge in SQL
      Dedup.duplicateSpans(Tables.documents(s, d), "doc_id", "text",
          k = 5, minCount = 2L)
        .orderBy(col("doc"), col("span_start"))),
    "d18_remove_spans" -> ((s, d) =>
      // the ACTION step of the Lee et al. protocol: drop every token
      // covered by a duplicated span, rejoin survivors — the oracle
      // recomputes spans, covered positions, and the cleaned text
      // (md5-compared) per document
      Dedup.removeDuplicateSpans(Tables.documents(s, d), "doc_id", "text",
          k = 5, minCount = 2L)
        .select(col("doc_id"), md5(col("clean_text")).as("clean_md5"),
          col("n_kept_tokens"))
        .orderBy(col("doc_id"))),
    "d19_remove_spans_keep_one" -> ((s, d) =>
      // keep-ONE-occurrence variant (the complete Lee et al. protocol):
      // each duplicated gram elects its globally first (doc, pos)
      // posting as canonical; only non-canonical postings seed removal
      // spans — the oracle recomputes the election, islands, covered
      // positions, and cleaned text per document
      Dedup.removeDuplicateSpansKeepOne(Tables.documents(s, d), "doc_id",
          "text", k = 5, minCount = 2L)
        .select(col("doc_id"), md5(col("clean_text")).as("clean_md5"),
          col("n_kept_tokens"))
        .orderBy(col("doc_id"))),
    "d20_line_dedup" -> ((s, d) =>
      // global exact line dedup (RefinedWeb/MassiveText): every 4+-word
      // line keeps only its corpus-first (doc, pos) occurrence; shorter
      // lines are exempt. Canonical election is a map-side-combinable
      // min-struct agg (not a window — a boilerplate line in half the
      // corpus collapses per input partition before the shuffle); the
      // oracle replays the election with a rank-1 window
      Dedup.dedupLines(TextOps.lineCorpus(s, 500), "doc_id", "text",
          minWords = 4)
        .select(col("doc"), col("n_lines"), col("n_kept"), col("clean_md5"))
        .orderBy(col("doc"))),
    "d21_keep_best" -> ((s, d) => {
      // quality-aware cluster dedup: per near-dup cluster (d12's pair
      // graph) keep the HIGHEST-quality doc (6dp-rounded score, ties →
      // lowest id); unpaired docs survive. The oracle reuses d12's
      // recursive closure + t1's quality expression and replays the
      // rank-1 cut
      val docs = Tables.documents(s, d)
      val pairs = Dedup.lshVerifiedPairs(docs, "doc_id", "text", 3, 0.6)
      Dedup.keepBestByCluster(docs, "doc_id", pairs,
          TextOps.qualityScore(col("text")))
        .orderBy(col("doc_id"))
    }),
    "d23_containment" -> ((s, d) =>
      // asymmetric containment (Broder): ordered pairs where >= 80% of
      // a's shingles appear in b — quote/excerpt detection and
      // superset-dedup, the signal symmetric Jaccard misses
      Dedup.containmentPairs(anchorSlice(Tables.documents(s, d), "doc_id"),
          "doc_id", "text", 3, 0.8)
        .orderBy(col("a"), col("b"))),
    "d24_drop_contained" -> ((s, d) =>
      // superset-dedup: a doc >= 80%-contained in a LARGER doc dies
      // (size then id as the keep direction, so the survivor set is
      // order-free) — the action d23's detection feeds
      Dedup.dropContained(anchorSlice(Tables.documents(s, d), "doc_id"),
          "doc_id", "text", 3, 0.8)
        .orderBy(col("doc_id"))),
    "d27_containment_prefix" -> ((s, d) =>
      // the containment SCALE path: A's rarity-prefix probes the full
      // posting relation (pigeonhole, lossless — same rows as d23),
      // exact intersection verifies candidates only; a corpus-hot
      // shingle only costs fanout if it lands in someone's prefix
      Dedup.containmentPairsPrefix(Tables.documents(s, d), "doc_id",
          "text", 3, 0.8)
        .orderBy(col("a"), col("b"))),
    "d28_drop_contained_prefix" -> ((s, d) =>
      // d24's survivor set from the prefix-filtered candidate path
      Dedup.dropContainedPrefix(Tables.documents(s, d), "doc_id",
          "text", 3, 0.8)
        .orderBy(col("doc_id"))),
    "d29_incremental_pairs" -> ((s, d) => {
      // incremental-ingest dedup: the (doc_id % 7 == 0) slice plays
      // today's batch against the standing corpus's PERSISTED dedup
      // index (staged once per sfDir — the posting store a production
      // ingest maintains across batches; re-shingling the whole corpus
      // per batch is the anti-pattern the store removes). Asymmetric
      // probe-prefix join; at 100 TB the batch prefix broadcasts and
      // the bucket key prunes store partitions. Output rows identical
      // to the inline path (parity spec) — the oracle is unchanged.
      val docs = Tables.documents(s, d)
      Dedup.ngramJaccardPairsAgainstStore(
          docs.filter(col("doc_id") % 7 === 0), shingleStore(s, d),
          "doc_id", "text", 0.3)
        .orderBy(col("a"), col("b"))
    }),
    "d31_incremental_pairs_band" -> ((s, d) => {
      // the BAND store probe's pair relation hash-gated first-class
      // (d29's one-pass twin): identical output to the prefix path by
      // construction — the oracle below IS d29's SQL — so both store
      // strategies are pinned against the same replay at every scale
      val docs = Tables.documents(s, d)
      Dedup.ngramJaccardPairsAgainstStoreBand(
          docs.filter(col("doc_id") % 7 === 0), shingleStore(s, d),
          "doc_id", "text", 0.3)
        .orderBy(col("a"), col("b"))
    }),
    "d30_admit_new" -> ((s, d) => {
      // the admission filter over the persisted dedup index: batch docs
      // with NO near-dup in the corpus (the rows the ingest appends
      // back to the store)
      // band = true: even on the narrow batch the one-pass size-banded
      // probe wins on this dense-vocabulary corpus (4.8 -> 0.8 s warm at
      // sf0.1, identical rows); the prefix path stays hash-gated via d29
      // as the Zipfian-store default. While the batch's shingles and their
      // postings fit the driver budget (sf0.1 and below: ~39k batch
      // shingles) the driver path answers instead and `band` is not
      // consulted
      val docs = Tables.documents(s, d)
      Dedup.admitNewAgainstStore(
          docs.filter(col("doc_id") % 7 === 0), shingleStore(s, d),
          "doc_id", "text", 0.3, band = true)
        .orderBy(col("doc_id"))
    }),
    "d25_edit_join" -> ((s, d) =>
      // typo-level near-dup: edit-distance similarity join over 32-char
      // document prefixes via PassJoin's lossless partition signature
      // (Li, Deng & Feng, VLDB 2012) — k+1 segments, pigeonhole exact-
      // segment match in a multi-match-aware position window, exact
      // levenshtein verify on candidates only. Oracle replays the
      // all-pairs cross join: the filter is lossless, so the relations
      // are identical
      Dedup.editDistancePairs(
          anchorSlice(Tables.documents(s, d), "doc_id").select(col("doc_id"),
            substring(col("text"), 1, 32).as("s")),
          "doc_id", "s", 4)
        .select(col("a"), col("b"), col("dist").cast("long").as("dist"))
        .orderBy(col("a"), col("b"))),
    "d22_jaccard_prefix" -> ((s, d) =>
      // EXACT-threshold Jaccard pairs via prefix filtering (AllPairs /
      // PPJoin): same relation as d2's brute anchor at the gate τ, but
      // candidates come from a rarest-first PREFIX self-join (lossless
      // for J >= τ) + candidates-only verify — the exact-dedup scale
      // path where d3/d8's MinHash route is probabilistic. τ=0.8, the
      // near-dup threshold the technique targets: prefix length is
      // |A|−ceil(τ|A|)+1, so low τ keeps long prefixes and prunes
      // little (prefixbench row in BASELINE.md). Oracle = d2's brute
      // SQL at 0.8.
      Dedup.ngramJaccardPrefixPairs(Tables.documents(s, d), "doc_id", "text",
          3, 0.8)
        .orderBy(col("a"), col("b"))),
    "d17_eval_contamination" -> ((s, d) => {
      // benchmark-integrity report (reverse of d13): per eval item, the
      // count of distinct training docs sharing >= 1 3-shingle — items
      // with hits get discarded from the evaluation, GPT-3 §C style
      val docs = Tables.documents(s, d)
      Dedup.evalContamination(
          docs.filter(col("doc_id") % 23 =!= 0),
          docs.filter(col("doc_id") % 23 === 0),
          "doc_id", "text", 3)
        .orderBy(col("eval_doc"))
    }),
    "d16_semdedup_routed" -> ((s, d) =>
      // SemDeDup under the two-level ROUTED assignment (the corpus-scale
      // O(sqrt C) path): stride-sampled supers, raw-d2 routing (ties ->
      // earliest super), sqrt-compare member argmin (ties -> lowest id)
      // — fully deterministic, so the oracle recomputes the routing
      // exactly in SQL
      Dedup.semDedupWith(embeddings(s, d), "vec_id", "embedding",
          Similarity.ivfCentroids(embeddings(s, d), "vec_id", "embedding", 16),
          0.4, routed = true)
        .orderBy(col("vec_id"))),
    "d11_winnow_pairs" -> ((s, d) =>
      // winnowing (MOSS) fingerprint dedup: k-gram hashes, sliding-window
      // min selection, keyed fingerprint join — deterministic pipeline,
      // oracle mirrors it end to end
      Dedup.winnowPairs(Tables.documents(s, d), "doc_id", "text",
          k = 3, w = 4, minShared = 2L, maxFpDf = Some(100L))
        .orderBy(col("a"), col("b"))),

    // --- similarity search (ANN paths) ---
    "a1_lsh_knn" -> ((s, d) =>
      Similarity.lshKnn(embeddings(s, d), "vec_id", "embedding",
          Planes, Q64, 10)
        .select(col("vec_id"), col("bucket")).orderBy(col("vec_id"))),
    "a2_ivf_knn" -> ((s, d) =>
      Similarity.ivfKnn(embeddings(s, d), "vec_id", "embedding",
          16, 4, Q64, 10)
        .select(col("vec_id"), col("list_id")).orderBy(col("vec_id"))),
    "a7_lsh_knn_join" -> ((s, d) => {
      // batch LSH kNN join (the bucket-path twin of a6): queries meet
      // exactly their bucket's rows via a broadcast equi-join, per-query
      // window top-5 — the oracle recomputes buckets and the ranked
      // join with identical sign convention and (dist, id) tie-breaks
      val e = embeddings(s, d)
      val queries = e.filter(col("vec_id") % 100 === 0)
      Similarity.lshKnnJoin(e, "vec_id", "embedding",
          queries, "vec_id", "embedding", Planes, 5)
        .select(col("qid"), col("vec_id"), col("bucket"))
        .orderBy(col("qid"), col("vec_id"))
    }),
    "a9_lsh_multiprobe_join" -> ((s, d) => {
      // multi-probe batch LSH kNN join: each query also probes its 8
      // hamming-1 neighbour buckets (recall boost over a7); the oracle
      // expands the probe set with the same XOR masks and re-ranks
      // exactly with the shared (dist, id) tie-break
      val e = embeddings(s, d)
      val queries = e.filter(col("vec_id") % 100 === 0)
      Similarity.lshKnnJoinMulti(e, "vec_id", "embedding",
          queries, "vec_id", "embedding", Planes, 5)
        .select(col("qid"), col("vec_id"), col("bucket"))
        .orderBy(col("qid"), col("vec_id"))
    }),
    "a6_ivf_knn_join" -> ((s, d) => {
      // batch IVF kNN JOIN (the similarity-join scale path): every
      // query row (the vec_id % 100 slice) probes its own nprobe=2
      // nearest of 16 lists; one scan of the big side, broadcast
      // (qid, list) join, per-query window top-5 — the oracle
      // recomputes assignment, per-query probe lists, and the ranked
      // join with identical fold order and (dist, id) tie-breaks
      val e = embeddings(s, d)
      val queries = e.filter(col("vec_id") % 100 === 0)
      Similarity.ivfKnnJoin(e, "vec_id", "embedding",
          queries, "vec_id", "embedding", 16, 2, 5)
        .select(col("qid"), col("vec_id"))
        .orderBy(col("qid"), col("vec_id"))
    }),
    "a4_pq_codes" -> ((s, d) => {
      // product quantization assignment with the deterministic seed
      // codebook (first 16 ids' sub-vectors) — the oracle recomputes
      // the per-subspace argmin with identical fold order + (d2, code)
      // tie-break, so every code matches exactly
      val e = embeddings(s, d)
      val cb = ProductQuant.pqTrain(e, "vec_id", "embedding", 8, 16, iters = 0)
      ProductQuant.pqAssign(e, "embedding", cb)
        .select(col("vec_id"), posexplode(col("codes")).as(Seq("j", "code")))
        .orderBy(col("vec_id"), col("j"))
    }),
    "a5_ivfpq" -> ((s, d) => {
      // IVFADC: coarse-assign to the deterministic first-16 centroids,
      // PQ-encode the float64 residuals with the deterministic first-16
      // residual seed codebook (iters=0) — the oracle recomputes both
      // argmins with identical fold order and (d2, code) tie-breaks
      val e = embeddings(s, d)
      val cents = Similarity.ivfCentroids(e, "vec_id", "embedding", 16)
      val cb = IvfPq.trainResidual(e, "vec_id", "embedding", cents,
        8, 16, iters = 0)
      IvfPq.assign(e, "embedding", cents, cb)
        .select(col("vec_id"), col("list_id"),
          posexplode(col("codes")).as(Seq("j", "code")))
        .orderBy(col("vec_id"), col("j"))
    }),
    "a8_ivfadc_knn_join" -> ((s, d) => {
      // batch ADC kNN JOIN over the PERSISTED IVFADC store (the a6
      // shape for the PQ path): the narrow codes store is scanned once,
      // pruned to the union of probed list partitions, for the whole
      // query batch; each query's per-list ADC tables travel as data in
      // the broadcast probe relation. topN=10 makes the ADC cut
      // decisive (not a pass-through); the oracle recomputes every
      // stage with pinned float fold order. The store is STAGED once
      // per sf dir (reuse-if-valid marker) so the gate and bench
      // measure the serving probe, not train + store writes.
      val e = embeddings(s, d)
      val dir = stagedStore(d, "a8", version = 1) { dir =>
        IvfPq.write(e, "vec_id", "embedding", numLists = 16,
          coarseIters = 0, m = 8, k = 16, pqIters = 0, dir)
      }
      val queries = e.filter(col("vec_id") % 100 === 0)
      IvfPq.probeBatch(IvfPq.open(s, dir), e, "vec_id", "embedding",
          queries, "vec_id", "embedding", nprobe = 2, topN = 10, k = 5)
        .select(col("qid"), col("vec_id"))
        .orderBy(col("qid"), col("vec_id"))
    }),
    "a10_store_maintain" -> ((s, d) => {
      // the serving-store maintenance matrix gated end-to-end: build the
      // IVF store from the %5≠0 slice (quantizer = first 16 of THAT
      // slice, frozen in the centroid sidecar), APPEND the %5=0 slice
      // routed by the sidecar, REMOVE the %7=0 ids partition-locally
      // (StoreMaintain rewrites only touched list partitions), then
      // probe the nprobe=4 nearest lists — the oracle recomputes the
      // frozen assignment over the surviving membership exactly
      val e = embeddings(s, d)
      // the maintained store is deterministic per sf dir, so it stages
      // like a8's: the first run exercises the full append+remove path,
      // later runs measure the serving probe (maintenance op correctness
      // is additionally spec-gated every round in ScaleSpec/StreamOps)
      val dir = stagedStore(d, "a10", version = 1) { dir =>
        Similarity.writeIvf(e.filter(col("vec_id") % 5 =!= 0),
          "vec_id", "embedding", 16, dir)
        Similarity.appendIvf(s, dir,
          e.filter(col("vec_id") % 5 === 0), "embedding")
        graft.operators.StoreMaintain.removeFromStore(s, dir,
          e.filter(col("vec_id") % 7 === 0).select("vec_id"),
          "vec_id", "list_id")
      }
      Similarity.probeIvf(Similarity.openIvf(s, dir), "vec_id", "embedding", Q64, 4, 10)
        .select(col("vec_id"), col("list_id").cast("long").as("list_id"))
        .orderBy(col("vec_id"))
    }),
    "a26_opq_store_knn" -> ((s, d) => {
      // OPQ-IVFADC store probe, hash-gated (judge r14 #3): the FULLY
      // TRAINED path — PCA rotation + eigenvalue allocation, 2 Lloyd
      // rounds on the coarse quantizer and 2 on the residual codebook —
      // becomes oracle-replayable by STAGING the trained artifacts as
      // sidecar parquet the oracle reads (rotation .opq, coarse
      // .centroids, residual .codebook; the a5/a8 precedent extended
      // to data-dependent training): the oracle re-derives the rotated
      // queries from the staged rotation (same ascending-i float64
      // fold, same float32 round — the cast that makes ulp-order noise
      // a non-event), then replays probe-list selection, the per-(qid,
      // list) ADC tables, the topN cut, and the original-space re-rank
      // with pinned fold order. Store staged once per sf dir; the gate
      // times the batch serving probe.
      val e = embeddings(s, d)
      val dir = stagedStore(d, "a26", version = 1) { dir =>
        IvfPq.writeOpq(e, "vec_id", "embedding", numLists = 16,
          coarseIters = 2, m = 8, k = 16, pqIters = 2, dir)
      }
      val os = IvfPq.openOpq(s, dir)
      val queries = e.filter(col("vec_id") % 100 === 0)
      IvfPq.probeBatchOpq(os, e, "vec_id", "embedding",
          queries, "vec_id", "embedding", nprobe = 2, topN = 10, k = 5)
        .select(col("qid"), col("vec_id"))
        .orderBy(col("qid"), col("vec_id"))
    }),
    "a28_opq_single_knn" -> ((s, d) => {
      // the SINGLE OPQ-IVFADC probe (judge r15 #6): a26 gates the
      // batch; this gates probeOpq — driver-side query rotation in
      // FULL double (no float32 round, unlike the batch's encode-path
      // rotation column), probe-list selection on the rotated-space
      // centroids, per-list ADC when-chain over the pruned codes scan,
      // original-space re-rank. Reuses a26's staged store + sidecars,
      // so the oracle replays the identical trained artifacts; batch ≡
      // single parity is separately spec-pinned (RecallSpec).
      val e = embeddings(s, d)
      val dir = stagedStore(d, "a26", version = 1) { dir =>
        IvfPq.writeOpq(e, "vec_id", "embedding", numLists = 16,
          coarseIters = 2, m = 8, k = 16, pqIters = 2, dir)
      }
      val os = IvfPq.openOpq(s, dir)
      IvfPq.probeOpq(os, e, "vec_id", "embedding", Q64,
          nprobe = 2, topN = 10, k = 5)
        .select(col("vec_id"), round(col("dist"), 6).as("dist"))
        .orderBy(col("vec_id"))
    }),
    "a27_graph_serve" -> ((s, d) => {
      // Graph-ANN SERVING, hash-gated (judge r14 #4): a25 gates the
      // build's candidate kNN graph; this gates the beam search itself
      // — the DISTRIBUTED round-synchronous path (graphKnnDistributed,
      // the 100 TB serving shape: frontier join per round, gb-pruned
      // store scans, no full-store pin). The stored adjacency is
      // data-dependent (Lloyd seeds + α-RobustPrune), so the oracle
      // reads the STAGED store (rows + meta seeds) and replays exactly
      // maxRounds beam rounds as unrolled CTEs — deterministic because
      // the round protocol is a total function of (store, queries, ef,
      // maxRounds) with (dist, id) tie-breaks everywhere; converged
      // rounds are no-ops on both sides.
      val e = embeddings(s, d)
      val dir = stagedStore(d, "a27", version = 1) { dir =>
        GraphAnn.buildAndWrite(e, "vec_id", "embedding", numLists = 16,
          nprobe = 2, k = 4, alpha = 1.2, maxDegree = 8, dir, buckets = 16)
      }
      val store = GraphAnn.openGraph(s, dir)
      val queries = e.filter(col("vec_id") % 100 === 0)
      GraphAnn.graphKnnDistributed(store, queries, "vec_id", "embedding",
          k = 5, ef = 8, maxRounds = 8)
        .select(col("vec_id").as("qid"), col("id"),
          round(col("dist"), 6).as("dist"))
        .orderBy(col("qid"), col("id"))
    }),
    "a18_rp_knn" -> ((s, d) =>
      // Johnson–Lindenstrauss random-projection kNN: coarse rank in a
      // 32-dim seeded random projection (data-free, so fully
      // oracle-replayable — the PCA twin is data-dependent and
      // spec-gated), pool of 150, exact re-rank to 10. At scale the
      // projection is a stored sidecar column (32 doubles scanned per
      // row instead of d); m is bounded below by distance
      // concentration — the rpbench negative in BASELINE.md.
      Similarity.rpKnn(embeddings(s, d), "vec_id", "embedding",
        Similarity.hyperplanes(32, 64), Q64, pool = 150, k = 10)),
    "q28_cdc_compact" -> ((s, d) =>
      // changelog compaction (CDC apply / Kafka log compaction): each
      // user's LATEST change wins, 'error' is the tombstone — one
      // keyed window + filter, no join, the lakehouse MERGE primitive
      Relational.cdcCompact(s, d)),
    "q42_scd2" -> ((s, d) =>
      // SCD type-2 history build — the interval twin of q28: every
      // surviving version as [valid_from, valid_to) with an is_current
      // flag; tombstones close the previous interval without emitting
      // one. One keyed lead window, no join.
      Relational.scd2History(s, d)),
    "q53_point_in_time" -> ((s, d) => {
      // POINT-IN-TIME JOIN (the feature-store anti-leakage primitive,
      // per-row twin of q52's as-of): every click event enriched with
      // the purchase-state version active AT ITS OWN timestamp — an
      // equi join on user_id with the validity interval as a join
      // filter (one co-partitioned exchange pair; per-key version
      // counts bound the match fanout, never fact volume). Clicks
      // before any purchase or after an error-delete keep NULL
      // dimension columns: dropping them would bias a training set.
      val e = Tables.events(s, d)
      val dim = Relational.scd2(
        e.filter(col("event_type").isin("purchase", "error"))
          .withColumn("op", when(col("event_type") === "error",
            lit("delete")).otherwise(lit("upsert"))),
        "user_id", "ts", "event_id", "op", Seq("value"))
      val facts = e.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      Relational.pointInTimeJoin(facts, "user_id", "ts", dim, "user_id")
        .orderBy(col("event_id"))
    }),
    "q52_scd2_asof" -> ((s, d) =>
      // AS-OF time travel over the q42 history: every user's active
      // version at one instant — a pure interval filter (at most one
      // row per key; deleted-and-not-reinserted keys absent). The
      // lookup the interval build exists for: with the history
      // persisted, time travel never rescans the changelog.
      Relational.scd2AsOf(Relational.scd2History(s, d),
          lit("2024-01-15 12:00:00").cast("timestamp"))
        .orderBy(col("user_id"))),
    "q43_equidepth" -> ((s, d) =>
      // equi-depth binning without a global sort: 8 buckets whose
      // boundaries are the i/8-quantiles of the deterministic bottom-k
      // sample (q35's machinery), broadcast as a literal cut array;
      // the data pass is one scan + an 8-key aggregation. Ties on a
      // boundary close the lower bucket.
      Relational.equiDepthBins(Tables.lineitem(s, d), "l_extendedprice",
          col("l_orderkey") * 8 + col("l_linenumber"),
          buckets = 8, k = 4096)
        .select(col("bucket"), col("n"),
          round(col("lo"), 6).as("lo"), round(col("hi"), 6).as("hi"))
        .orderBy(col("bucket"))),
    "q29_moving_avg" -> ((s, d) =>
      // 7-day trailing average of per-type daily totals over a
      // GAP-FILLED day axis (a missing day is a zero day; without the
      // dense grid a rows frame reaches back beyond the week); window
      // sum is decimal-exact, one division per row
      Relational.dailyMovingAvg(s, d)),
    "d26_triangles" -> ((s, d) =>
      // triangle enumeration over the τ=0.3 near-dup pair graph — the
      // same banded LSH-verified pair source as d7/d12 (the scale
      // path; the oracle replays the identical MinHash/band/verify
      // pipeline): cluster cohesion — a chain-shaped dedup component
      // is not a clique, and transitive deletion is only safe in the
      // latter
      // the pair relation feeds all THREE legs of the triangle
      // enumeration's two self-joins — pin it once (r17 plan audit:
      // the unpinned initial plan carried three copies of the full
      // band+verify subtree in one 119-operator tree; exchange reuse
      // usually dedups them at runtime — warm time is unchanged at
      // sf0.1 — but the pin makes single evaluation a contract
      // instead of a reuse-heuristic outcome, per the d7/p15 lesson).
      // The pair checkpoint is FREED once the (much smaller) triangle
      // relation is materialized (ADVICE r17: locally-checkpointed
      // blocks are non-evictable, and an unfreed pin accumulates
      // across a 186-query session); the declared output is the same
      // ordered triangle relation.
      {
        val pairs = Dedup.lshVerifiedPairs(Tables.documents(s, d),
          "doc_id", "text", 3, 0.3).select(col("a"), col("b"))
          .localCheckpoint()
        val tri = Graphs.triangles(pairs).localCheckpoint()
        operators.IndexBuild.freeCheckpoint(pairs)
        tri.orderBy(col("a"), col("b"), col("c"))
      }),
    "q27_mad_outliers" -> ((s, d) =>
      // robust per-type anomaly flags: |value − median| > 3·MAD — the
      // median/MAD pair doesn't move with the outliers a mean/stdev
      // z-score hides; two tiny keyed percentile aggs broadcast back
      // onto the stream, the event log itself never shuffles
      Relational.madOutliers(s, d)),
    "a20_knn_classify" -> ((s, d) => {
      // kNN label propagation: the vec_id % 100 slice is classified by
      // majority vote of its 10 nearest labeled rows (label = id % 7,
      // the synthetic rated-sample stand-in); composes the brute kNN
      // join anchor — swap in a store batch probe at scale
      val e = embeddings(s, d)
      val labeled = e.filter(col("vec_id") % 100 =!= 0)
        .withColumn("label", col("vec_id") % 7)
      val queries = e.filter(col("vec_id") % 100 === 0)
      Classify.knnClassify(labeled, "vec_id", "embedding", "label",
          queries.select(col("vec_id").as("qid"), col("embedding").as("qv")),
          "qid", "qv", 10)
        .orderBy(col("qid"))
    }),
    "a19_mmr" -> ((s, d) =>
      // Maximal Marginal Relevance diversified top-10 from the
      // 50-candidate relevance pool: distributed cosine scan + top-pool
      // cut and pool×pool sim join; the O(pool·k) greedy runs on pure
      // micro-unit integers (λ = 7/10 as a rational), so the recursive
      // CTE oracle replays every pick exactly
      Diversify.mmr(embeddings(s, d), "vec_id", "embedding",
        QueryConstants.Q64, k = 10, pool = 50)),
    "a21_hybrid_rrf" -> ((s, d) => {
      // HYBRID retrieval: BM25 keyword leg + dense-vector leg fused by
      // reciprocal-rank fusion (k=60) — rank-only combination needs no
      // cross-leg score calibration. Both legs are top-50 relations
      // from paths gated on their own (t7 scoring, v2 ranking; at
      // scale, swap in the t11 / a12-a17 store probes — same
      // (id, rank) shape); the fuse itself is a chain of outer joins
      // over ≤50-row relations with ONE summation order, so the DuckDB
      // oracle reproduces the doubles bit for bit
      val win = org.apache.spark.sql.expressions.Window
      val textLeg = TextOps.bm25(Tables.documents(s, d), "doc_id", "text",
          Seq("spark", "data", "query", "join"), topK = 50)
        .withColumn("rank", row_number().over(
          win.orderBy(col("bm25").desc, col("doc"))))
        .select(col("doc"), col("rank"))
      val vecLeg = BruteForce.knn(embeddings(s, d), "embedding", "vec_id",
          Q64, 50)
        .withColumn("rank", row_number().over(
          win.orderBy(col("dist"), col("vec_id"))))
        .select(col("vec_id").as("doc"), col("rank"))
      Retrieval.rrfFuse(Seq(textLeg, vecLeg), "doc", "rank",
        k = 60, topK = 10)
    }),
    "a22_maxsim" -> ((s, d) =>
      // ColBERT-style late interaction: the 64-d embedding read as 8
      // derived 8-d token vectors, score = Σ_qTok max_docTok dot —
      // the whole MaxSim evaluates as ONE codegen'd projection per row
      // (8×8 native vecDots + greatest + fixed-order sum; no explode,
      // no shuffle), then TakeOrderedAndProject cuts the top-10
      Retrieval.maxSim(embeddings(s, d), "vec_id", "embedding",
        Q64, subDim = 8, topK = 10)),
    "a23_maxsim_rerank" -> ((s, d) =>
      // the two-stage serving shape: IVF candidate generation (pruned
      // scan of nprobe=4 of 16 lists, top-50 by exact L2 — the a2
      // path) followed by ColBERT MaxSim re-ranking of ONLY the
      // candidates; retrieval recall comes from the cheap first stage,
      // ranking quality from the expensive second, which never sees
      // the full corpus
      Retrieval.maxSim(
        Similarity.ivfKnn(embeddings(s, d), "vec_id", "embedding",
          16, 4, Q64, 50),
        "vec_id", "embedding", Q64, subDim = 8, topK = 10)),
    "a24_hard_negatives" -> ((s, d) => {
      // contrastive-training hard negatives: per query (vec_id % 100
      // slice), the 3 nearest rows whose cosine stays <= 0.4 —
      // filter-then-rank so near-duplicates crowding the top-k can't
      // displace informative negatives; the brute anchor of the
      // store-probe scale path (v3/a20 join shape)
      val e = embeddings(s, d)
      val queries = e.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      Retrieval.hardNegatives(e, "vec_id", "embedding",
          queries, "qid", "qv", simCeiling = 0.4, k = 3)
        .orderBy(col("qid"), col("rank"))
    }),
    "a25_knn_graph" -> ((s, d) => {
      // graph-ANN stage 1, hash-gated (judge r13 #2): the candidate kNN
      // graph over the whole corpus — map-only multi-probe IVF
      // assignment (every point probes its nprobe=2 nearest of 16 seed
      // lists while the corpus is scanned once), list_id equi-join,
      // WindowGroupLimit per-src top-4 with (dist, dst) tie-break. The
      // oracle replays assignment, probes, and the ranked self-join;
      // iters = 0 pins the seed centroids (the a6 contract — the
      // production build's Lloyd pass is spec-gated in GraphAnnSpec)
      // numLists = 64 (not the a6 gates' 16): the candidate volume is
      // nprobe·N²/C, so the gate's C must stay proportionally high for
      // the sf1 tier (C=16 measured 102 s at 20k vectors; C=64 keeps
      // ~300 rows/list at sf1 — the density the production build's
      // C ∝ N contract maintains)
      val e = embeddings(s, d)
      GraphAnn.knnGraph(e, "vec_id", "embedding",
          numLists = 64, nprobe = 2, k = 4, iters = 0)
        .select(col("src"), col("dst"))
        .orderBy(col("src"), col("dst"))
    }),
    "p16_stratified_exact" -> ((s, d) =>
      // exact per-stratum quotas (balanced eval sets): exactly 20 docs
      // per language, the 20 smallest md5-uniforms — count-guaranteed
      // where p1's rate sampling is expectation-guaranteed, still a
      // pure function of (id, salt)
      Pipeline.stratifiedExactK(Tables.documents(s, d), "doc_id",
          "lang", k = 20, salt = "s16")
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))),
    "q33_group_quantiles" -> ((s, d) =>
      // per-group exact p50/p95 with bounded memory: the per-domain
      // cutoff primitive (one histogram aggregation, then a small
      // filtered TakeOrdered per (group, quantile))
      Relational.exactQuantilesByGroup(Tables.lineitem(s, d),
          "l_returnflag", "l_extendedprice", Seq(0.5, 0.95),
          buckets = 1000)
        .select(col("g"), col("p"), round(col("value"), 6).as("value"))
        .orderBy(col("g"), col("p"))),
    "q31_exact_quantiles" -> ((s, d) =>
      // EXACT p50/p90/p99 with bounded memory everywhere: two-pass
      // histogram selection (pass 1: 1000-bin histogram; pass 2: a
      // ~n/1000-row filtered TakeOrdered per quantile) — the scale
      // path next to q16's single-reducer percentile agg, same
      // discrete-quantile answer
      Relational.exactQuantiles(Tables.lineitem(s, d),
          "l_extendedprice", Seq(0.5, 0.9, 0.99), buckets = 1000)
        .select(col("p"), round(col("value"), 6).as("value"))
        .orderBy(col("p"))),
    "q35_sample_quantiles" -> ((s, d) =>
      // ONE-PASS sample quantiles: deterministic bottom-k row sample
      // by the portable md5-uniform of the (orderkey, linenumber) row
      // key — a single TakeOrdered scan, mergeable across partitions
      // (the KMV merge argument on rows) — then exact quantiles of the
      // sample. The single-scan complement to q31's two-pass exact
      // path; the oracle replays the identical hash order and ranks
      Relational.sampleQuantiles(Tables.lineitem(s, d),
          "l_extendedprice",
          col("l_orderkey") * 8 + col("l_linenumber"),
          Seq(0.5, 0.9, 0.99), k = 4096)
        .select(col("p"), round(col("value"), 6).as("value"))
        .orderBy(col("p"))),
    "q36_group_sample_quantiles" -> ((s, d) =>
      // per-group one-pass sample quantiles: bottom-k INSIDE each group
      // via a window cut on the portable hash — one shuffle, k rows of
      // window state per group, NO bounded-group-count assumption (the
      // q33 exact path schedules per-(group, p) jobs; this scales to
      // unbounded domain counts)
      Relational.sampleQuantilesByGroup(Tables.lineitem(s, d),
          "l_returnflag", "l_extendedprice",
          col("l_orderkey") * 8 + col("l_linenumber"),
          Seq(0.5, 0.9, 0.99), k = 1024)
        .select(col("g"), col("p"), round(col("value"), 6).as("value"))
        .orderBy(col("g"), col("p"))),
    "t12_phrase_count" -> ((s, d) =>
      // exact-phrase occurrence counts ("docs quoting this exact
      // sequence") — a single array expression per row (sequence of
      // start positions + element_at conjunction), embarrassingly
      // parallel, no explode/join/shuffle
      Tables.documents(s, d)
        .select(col("doc_id").as("doc"),
          TextOps.phraseHits(col("text"), Seq("data", "query")).as("hits"))
        .filter(col("hits") > 0)
        .orderBy(col("doc"))),
    "q30_pagerank" -> ((s, d) =>
      // PageRank over the staged supplier↔customer trade graph (both
      // edge directions, so degree structure differentiates ranks); 5
      // Pregel-style iterations in exact integer micro-units (damping
      // 17/20, floor division) — bit-identical across engines and
      // aggregation orders, the same determinism trick as a19's greedy.
      // Node ids are INTEGERS (2·suppkey / 2·custkey+1): the id is
      // shuffled in every exchange of the fixpoint, so an 8-byte long
      // beats a string label at every hop
      Graphs.pageRank(tradeEdges(s, d), "src", "dst", iterations = 5)
        .orderBy(col("pr").desc, col("node"))
        .limit(20)),
    "q32_ppr" -> ((s, d) => {
      // PERSONALIZED PageRank: restart mass to suppliers {0,1,2} only
      // (topic-sensitive importance — "which customers matter from
      // these suppliers' point of view", Haveliwala 2002) — same
      // integer micro-unit determinism and per-iteration plan as q30
      val seeds = s.range(3).select((col("id") * 2).as("node"))
      Graphs.pageRankPersonalized(tradeEdges(s, d), seeds, iterations = 5)
        .orderBy(col("pr").desc, col("node"))
        .limit(20)
    }),
    "q55_kcore" -> ((s, d) =>
      // k-core over the staged repeat-trade graph (q34/q44's pairs):
      // synchronous peel rounds with cascade — removing a weak node
      // can drag a safe neighbor under k next round (5 cascading
      // rounds at sf0.01). maxRounds=6 exceeds the cascade depth at
      // both sfs, so this IS the converged 3-core; the oracle unrolls
      // the same 6 rounds (trailing no-op rounds replay exactly).
      Graphs.kCore(s.read.parquet(tradePairsDir(s, d)), k = 3,
          maxRounds = 6)
        .orderBy(col("node"))),
    "q34_trade_components" -> ((s, d) => {
      // connected components over the REPEAT-trade graph: supplier↔
      // customer pairs with >= 3 distinct orders — unlike the full
      // trade graph (one giant component), the repeat-trade subgraph
      // has real cluster structure, and localBudget = 0 FORCES the
      // distributed min-label + pointer-jumping path (d12 gates the
      // bounded local union-find; this gates the O(log n)-round scale
      // path on a graph that isn't the dedup pair graph). The pair
      // derivation stages once per sfDir like q30's graph — the gate
      // measures the CLOSURE, not the shared lineitem⋈orders scan
      Dedup.clusterIds(s.read.parquet(tradePairsDir(s, d)), localBudget = 0L)
        .orderBy(col("node"))
    }),

    "q44_trade_lpa" -> ((s, d) => {
      // label-propagation communities over the SAME staged repeat-trade
      // graph as q34: FINER than its connected components — the
      // majority vote won't merge two dense groups across a bridge
      // edge; 4 synchronous min-tiebreak rounds, replayed
      // round-for-round by the oracle's l1..l4 chain
      Graphs.labelPropagation(s.read.parquet(tradePairsDir(s, d)),
          iterations = 4)
        .select(col("node").cast("long").as("node"),
          col("community").cast("long").as("community"))
        .orderBy(col("node"))
    }),

    "a11_sq8_knn" -> ((s, d) =>
      // SQ8 compressed-scan kNN (the scalar-quantization SEARCH side of
      // v15's encode): rank by distance to the bin-center decode of the
      // per-dim int8 codes — at scale the scan touches only the 4×
      // smaller code column. Every op is a fixed-order IEEE chain, so
      // the oracle predicts the top-10 and the rounded distances
      VectorStats.sqKnn(embeddings(s, d), "vec_id", "embedding", Q64, 10)
        .select(col("vec_id"), round(col("sq_dist"), 6).as("sqd"))
        .orderBy(col("vec_id"))),
    "a12_ivfsq_knn" -> ((s, d) => {
      // IVF + SQ8 (faiss's IVF/SQ workhorse): list-partitioned store of
      // 4x-smaller int8 codes, probe = pruned scan of the nprobe=4
      // nearest lists ranked by bin-center decode (topN=20 makes the
      // compressed cut decisive), exact re-rank to 10 via broadcast
      // keyed join. The oracle replays coarse assignment, code, decode,
      // and both rankings in the same IEEE op order.
      val e = embeddings(s, d)
      val dir = stagedStore(d, "a12", version = 1) { dir =>
        graft.operators.IvfSq.write(e, "vec_id", "embedding",
          numLists = 16, coarseIters = 0, dir)
      }
      graft.operators.IvfSq.probe(graft.operators.IvfSq.open(s, dir), e,
          "vec_id", "embedding", Q64,
          nprobe = 4, topN = 20, k = 10)
        .select(col("vec_id"), round(col("dist"), 6).as("d"))
        .orderBy(col("vec_id"))
    }),
    "a13_ivfsq_knn_join" -> ((s, d) => {
      // batch kNN JOIN over the persisted IVF-SQ8 store (the a6/a8
      // shape for the SQ8 path — the {store} x {single, batch} probe
      // matrix is complete): per-query nprobe=2 probe lists via the
      // broadcast centroid relation, one pruned codes scan for the
      // whole batch, per-query decoded-distance topN=20 cut, exact
      // re-rank to 5. Shares a12's staged store.
      val e = embeddings(s, d)
      val dir = stagedStore(d, "a12", version = 1) { dir =>
        graft.operators.IvfSq.write(e, "vec_id", "embedding",
          numLists = 16, coarseIters = 0, dir)
      }
      val queries = e.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("qid0"), col("embedding").as("qv0"))
      graft.operators.IvfSq.probeBatch(graft.operators.IvfSq.open(s, dir), e,
          "vec_id", "embedding",
          queries, "qid0", "qv0", nprobe = 2, topN = 20, k = 5)
        .select(col("qid"), col("vec_id"))
        .orderBy(col("qid"), col("vec_id"))
    }),
    "a14_binary_knn" -> ((s, d) =>
      // 1-bit (sign) quantization kNN — the compression extreme of the
      // SQ family: every vector becomes d BITS (threshold = per-dim
      // midpoint, order-independent so both engines agree exactly),
      // candidates ranked by xor+popcount Hamming over the packed
      // words, top-50 pool re-ranked by exact distance to 10. The
      // oracle replays the per-dim threshold compare (the bit packing
      // is representation only — a spec pins pack→popcount ≡ per-dim
      // mismatch count).
      VectorStats.binaryKnn(embeddings(s, d), "vec_id", "embedding",
          Q64, 10, rerank = 50)
        .select(col("vec_id"), col("ham"), round(col("dist"), 6).as("dd"))
        .orderBy(col("vec_id"))),
    "a15_ivf_filtered_knn" -> ((s, d) => {
      // FILTERED ANN: top-k among rows passing a metadata predicate,
      // inside the pruned nprobe=4 scan (filter BEFORE the top-k cut —
      // the post-filter form starves below k). Shares a10's maintained
      // store? No — its own plain store so the filter is the only
      // variable; the oracle replays frozen assignment + filter + rank.
      val e = embeddings(s, d)
      val dir = stagedStore(d, "a15", version = 1) { dir =>
        Similarity.writeIvf(e, "vec_id", "embedding", 16, dir)
      }
      Similarity.probeIvfWhere(Similarity.openIvf(s, dir),
          "vec_id", "embedding", Q64, nprobe = 4, k = 10,
          col("vec_id") % 3 === 0)
        .select(col("vec_id"), round(col("dist"), 6).as("d"))
        .orderBy(col("vec_id"))
    }),
    "a16_binary_store_knn" -> ((s, d) => {
      // the PERSISTED binary serving path (a14 is the inline form):
      // codes store (d bits/row) + threshold sidecar, query encoded
      // driver-side, Hamming-ranked pool re-ranked exactly via a
      // broadcast join — semantics identical to a14, so they share an
      // oracle shape; what this gates is the store round trip
      val e = embeddings(s, d)
      val dir = stagedStore(d, "a16", version = 2) { dir =>
        graft.operators.BinaryIndex.write(e, "vec_id", "embedding", 64, dir)
      }
      val st = graft.operators.BinaryIndex.open(s, dir)
      graft.operators.BinaryIndex.probe(st, e, "vec_id", "embedding",
          Q64, 10, rerank = 50)
        .select(col("vec_id"), col("ham"), round(col("dist"), 6).as("dd"))
        .orderBy(col("vec_id"))
    }),
    "a17_binary_knn_join" -> ((s, d) => {
      // batch kNN JOIN over the binary store (the compressed twin of
      // the brute join — Q×n candidate volume over d/8-byte codes):
      // queries encoded in-plan against the sidecar-literal thresholds,
      // per-query Hamming window pool, exact re-rank to 5. Shares
      // a16's staged store.
      val e = embeddings(s, d)
      val dir = stagedStore(d, "a16", version = 2) { dir =>
        graft.operators.BinaryIndex.write(e, "vec_id", "embedding", 64, dir)
      }
      val st = graft.operators.BinaryIndex.open(s, dir)
      val queries = e.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("qid0"), col("embedding").as("qv0"))
      graft.operators.BinaryIndex.probeBatch(st, e, "vec_id", "embedding",
          queries, "qid0", "qv0", k = 5, rerank = 20)
        .select(col("qid"), col("vec_id"))
        .orderBy(col("qid"), col("vec_id"))
    }),
    "a3_lsh_buckets" -> ((s, d) =>
      Similarity.lshAssign(embeddings(s, d), "vec_id", "embedding", Planes)
        .groupBy(col("bucket")).agg(count(lit(1)).as("n"))
        .orderBy(col("bucket"))),

    // --- ingest / generators ---
    "i1_json_shred" -> ((s, d) => {
      val json = graft.sources.Ingest.toJsonVectors(
        embeddings(s, d), "vec_id", "embedding")
      graft.sources.Ingest.shredJsonVectors(json, "vec_id", "vector_json")
        .orderBy(col("vec_id"), col("idx"))
    }),
    "i2_grid" -> ((s, d) =>
      graft.sources.Ingest.grid(s, 32)
        .select(col("id"), col("vector")(0).as("x"), col("vector")(1).as("y"))
        .orderBy(col("id"))),
    // md5-portable generator: the oracle recomputes every value exactly
    "i3_random_uniform" -> ((s, d) =>
      graft.sources.Ingest.randomUniformPortable(s, 1000, 8)
        .select(col("id"), posexplode(col("vector")).as(Seq("idx", "value")))
        .orderBy(col("id"), col("idx"))),
    "i5_warc_roundtrip" -> ((s, d) => {
      // the WARC SOURCE (Common Crawl's container — the first operator
      // of a crawl-based pipeline) gated end-to-end: 500 closed-form
      // records written distributively as 4 part files through the
      // real encoder, read back at the one-file-per-task grain, body
      // verified by md5 against the oracle's recomputation
      val dir = stagedStore(d, "warcfix", version = 2) { dir =>
        graft.sources.Warc.warcFixture(s, dir, 500, files = 4)
      }
      graft.sources.Warc.readWarc(s, dir)
        .select(col("target_uri"), col("warc_type"), col("content_length"),
          md5(col("body")).as("body_md5"))
        .orderBy(col("target_uri"))
    }),
    "i4_fvecs_roundtrip" -> ((s, d) => {
      // the texmex .fvecs SOURCE gated end-to-end: the md5-portable
      // generator's vectors are written to an fvecs file (bounded
      // driver-side collect: 200×8 floats) and read back through the
      // splittable byte-range source with a forced 4-way split —
      // float32 binary round-trip is exact, so the oracle recomputes
      // every component from the generator formula
      val rows = graft.sources.Ingest.randomUniformPortable(s, 200, 8)
        .orderBy(col("id")).collect()
      // deterministic per-sfDir path, overwritten each run (same
      // convention as the a8 store) — no /tmp littering across runs
      val f = java.nio.file.Paths.get(
        s"/tmp/graft_i4_${d.replaceAll("[^A-Za-z0-9.]", "_")}", "pts.fvecs")
      java.nio.file.Files.createDirectories(f.getParent)
      val out = java.nio.file.Files.newOutputStream(f)
      def le(i: Int): Array[Byte] = Array[Byte](
        (i & 0xff).toByte, ((i >> 8) & 0xff).toByte,
        ((i >> 16) & 0xff).toByte, ((i >> 24) & 0xff).toByte)
      rows.foreach { r =>
        out.write(le(8))
        r.getSeq[Float](1).foreach(v =>
          out.write(le(java.lang.Float.floatToIntBits(v))))
      }
      out.close()
      graft.sources.Ingest.readVecs(s, f.toString, minPartitions = 4)
        .select(col("id"), posexplode(col("vector")).as(Seq("idx", "value")))
        .orderBy(col("id"), col("idx"))
    }),
    "i6_hdf5_roundtrip" -> ((s, d) => {
      // the HDF5 SOURCE (S3, VectorIndex.MainTest/Program.cs:183-260)
      // gated end-to-end: the md5-portable generator's vectors land as
      // a float32 and a float64 contiguous rank-2 dataset (bounded
      // driver-side collect: 240×12 floats — the writer is a fixture/
      // export tool, the READER is the distributed path), then each is
      // read back through the splittable byte-range reader with a
      // forced 4-way split. float32 binary round-trip is exact and the
      // f64 upcast of a float32 is exact, so the oracle recomputes
      // every component from the generator formula for both encodings.
      val rows = graft.sources.Ingest.randomUniformPortable(s, 240, 12)
        .orderBy(col("id")).collect()
        .map(_.getSeq[Float](1).toArray)
      val base = java.nio.file.Paths.get(
        s"/tmp/graft_i6_${d.replaceAll("[^A-Za-z0-9.]", "_")}")
      java.nio.file.Files.createDirectories(base)
      val f32 = base.resolve("pts.h5").toString
      val f64 = base.resolve("pts64.h5").toString
      graft.sources.Hdf5Lite.write(f32, Seq("train" -> rows))
      graft.sources.Hdf5Lite.write(f64, Seq("train" -> rows),
        doubles = true)
      val r32 = graft.sources.Hdf5Lite
        .readHdf5(s, f32, "train", minPartitions = 4)
        .select(lit("f32").as("enc"), col("id"),
          posexplode(col("vector")).as(Seq("idx", "value")))
      val r64 = graft.sources.Hdf5Lite
        .readHdf5(s, f64, "train", minPartitions = 4)
        .select(lit("f64").as("enc"), col("id"),
          posexplode(col("vector")).as(Seq("idx", "value")))
        .withColumn("value", col("value").cast("float"))
      r32.unionByName(r64).orderBy(col("enc"), col("id"), col("idx"))
    }),

    // --- sessionization (batch twin of the streaming path) ---
    "s1_sessions" -> ((s, d) =>
      graft.streaming.StreamOps.sessionizeBatch(Tables.events(s, d))
        .orderBy(col("user_id"), col("session_idx"))),
    "s2_stream_admission" -> ((s, d) => {
      // the REAL stream, oracle-gated (judge r12 #7): the d30 admission
      // pipeline driven through foreachBatch micro-batches (AvailableNow,
      // one file per trigger) with each batch's admitted rows appended
      // to a sink table that is then hash-compared against the one-shot
      // batch oracle — per-doc independence makes the union of per-batch
      // admissions equal the batch admission EXACTLY, and this gate is
      // where that contract is enforced, not just spec-asserted
      import org.apache.spark.sql.streaming.Trigger
      val docs = Tables.documents(s, d)
      val root = java.nio.file.Files.createTempDirectory("graft_s2").toString
      docs.filter(col("doc_id") % 7 === 0)
        .repartition(3).write.parquet(s"$root/in")
      val sinkDir = s"$root/admitted"
      val stream = s.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$root/in")
      val q = graft.streaming.StreamOps
        .admissionStreamAgainstStore(stream, shingleStore(s, d),
          "doc_id", "text", 0.3, band = true) { adm =>
          adm.select(col("doc_id")).write.mode("append").parquet(sinkDir)
        }
        .trigger(Trigger.AvailableNow()).start()
      // a hung stream must surface as a timeout, not as a partial-sink
      // hash mismatch downstream
      require(q.awaitTermination(300000), "s2 stream timed out")
      // pin the result off the temp files so the root can be removed
      val out = s.read.parquet(sinkDir).orderBy(col("doc_id"))
        .localCheckpoint()
      deleteRecursively(root)
      out
    }),
    "s3_stream_sketch_ingest" -> ((s, d) => {
      // the q49 HLL store fed by a REAL stream, oracle-gated against the
      // same register replay: base store from one user slice, the other
      // two slices arrive as micro-batches appending PARTIAL daily cells
      // (hash split, not time split — the probe-time register-max merge
      // is load-bearing), then the trailing-7-day probe must equal the
      // one-shot store bit-for-bit
      import org.apache.spark.sql.streaming.Trigger
      val e = Tables.events(s, d)
      val root = java.nio.file.Files.createTempDirectory("graft_s3").toString
      val store = s"$root/store"
      SketchStore.write(e.filter(col("user_id") % 3 === 0),
        "ts", "user_id", 8, store)
      e.filter(col("user_id") % 3 === 1)
        .repartition(1).write.parquet(s"$root/in/p1")
      e.filter(col("user_id") % 3 === 2)
        .repartition(1).write.parquet(s"$root/in/p2")
      val stream = s.readStream.schema(e.schema)
        .option("pathGlobFilter", "*.parquet")
        .option("maxFilesPerTrigger", 1).parquet(s"$root/in/*")
      val q = stream.writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          SketchStore.append(batch, "ts", "user_id", store)
        }
        .trigger(Trigger.AvailableNow()).start()
      require(q.awaitTermination(300000), "s3 stream timed out")
      val out = SketchStore.probeTrailing(s, store, 7).orderBy(col("day"))
        .localCheckpoint()
      deleteRecursively(root)
      out
    }),

    // --- incremental index maintenance (R4/R5) ---
    "m1_index_remove_search" -> ((s, d) => {
      val e = embeddings(s, d)
      val index = IndexBuild.buildIndex(e, "vec_id", "embedding")
      val removed = IndexMaintain.removePoints(index,
        e.filter(col("vec_id") % 7 === 0).select(col("vec_id")))
      IndexSearch.searchExact(removed, e, "vec_id", "embedding", Q64, Radius)
        .select(col("vec_id")).orderBy(col("vec_id"))
    }),
    "m2_index_add_search" -> ((s, d) => {
      val e = embeddings(s, d)
      val base = e.filter(col("vec_id") % 3 =!= 0)
      val adds = e.filter(col("vec_id") % 3 === 0)
      val index = IndexBuild.buildIndex(base, "vec_id", "embedding")
      val grown = IndexMaintain.addPoints(index, base, adds, "vec_id", "embedding")
      IndexSearch.searchExact(grown, e, "vec_id", "embedding", Q64, Radius)
        .select(col("vec_id")).orderBy(col("vec_id"))
    }),

    // --- vector engine: normalization, box search, per-doc indexes ---
    "v7_normalize" -> ((s, d) => {
      val e = embeddings(s, d)
      VectorStats.normalize(e, "vec_id", "embedding")
        .select(col("vec_id"),
          round(col("embedding")(0), 6).as("n0"),
          round(col("embedding")(63), 6).as("n63"))
        .orderBy(col("vec_id"))
    }),
    "v8_box_search" -> ((s, d) => {
      // dbo.Search parity: box candidates from the index descent, then the
      // exact L-inf window predicate (P2) — equals a full box scan.
      val e = embeddings(s, d)
      val index = IndexBuild.buildIndex(e, "vec_id", "embedding")
      val cands = IndexSearch.searchBox(index, Q64, BoxDomain)
        .withColumnRenamed("id", "vec_id")
      e.join(cands, "vec_id")
        .filter(inBox(col("embedding"), doubleVec(Q64), lit(BoxDomain)))
        .select(col("vec_id")).orderBy(col("vec_id"))
    }),
    "v9_multidoc_search" -> ((s, d) => {
      // per-document trees (docId = label); search one doc + all docs
      val e = embeddings(s, d)
      val index = IndexBuild.buildIndexPerDoc(e, "label", "vec_id", "embedding")
      val one = IndexSearch.searchBoxPerDoc(index, Q64, Radius, docId = Some(1L))
      val exactOne = e.join(one.withColumnRenamed("id", "vec_id"), "vec_id")
        .filter(dist(col("embedding"), doubleVec(Q64)) <= Radius)
      exactOne.select(col("vec_id"), col("docId").as("doc"))
        .orderBy(col("vec_id"))
    }),
    "v11_index_range_join" -> ((s, d) => {
      // index-accelerated similarity join: pinned-tree candidates per
      // query row, exact re-check — equals the brute cross-join filter
      val e = embeddings(s, d)
      val index = IndexBuild.buildIndex(e, "vec_id", "embedding")
      val queries = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      PinnedIndex.searchJoin(PinnedIndex.pin(index), e, "vec_id", "embedding",
          queries, "qid", "qv", 1.2)
        .orderBy(col("qid"), col("vec_id"))
    }),
    "v16_knn_distributed" -> ((s, d) => {
      // beyond-pin serving route: tree pinned, vectors never collected —
      // candidates from a doubling/bounded ball probe, ranking as a
      // distributed top-k. initRadius deliberately tiny so the k-th-
      // distance radius bump (one extra pass, not O(log range)
      // doublings) is on the gated path. Equals brute top-k (v2 oracle).
      import s.implicits._
      val e = embeddings(s, d)
      val index = IndexBuild.buildIndex(e, "vec_id", "embedding")
      val pinned = PinnedIndex.pin(index)
      PinnedIndex.knnDistributed(pinned, e, "vec_id", "embedding",
          Q64, 10, initRadius = 0.05)
        .zipWithIndex
        .map { case ((id, _), i) => (i + 1, id) }
        .toDF("rank", "vec_id")
        .orderBy(col("rank"))
    }),
    "v14_pinned_knn" -> ((s, d) => {
      // serving-mode exact kNN: branch-and-bound over the pinned tree
      // (budget lower bounds), ties by id — equals brute top-k (v2 oracle)
      import s.implicits._
      val e = embeddings(s, d)
      val index = IndexBuild.buildIndex(e, "vec_id", "embedding")
      val (pinned, vecs) = PinnedIndex.pinWithVectors(index, e, "vec_id", "embedding")
      pinned.knn(Q64, 10, vecs).zipWithIndex
        .map { case ((id, _), i) => (i + 1, id) }
        .toDF("rank", "vec_id")
        .orderBy(col("rank"))
    }),

    "v13_trie_join" -> ((s, d) => {
      // the trie-variant index (MemoryVectorIndex twin): one trie per
      // partition, budget-pruned probes, exact re-check — equals the
      // brute cross-join filter
      val e = embeddings(s, d)
      val queries = e.filter(col("vec_id") < 5)
      graft.operators.TrieIndex.searchJoin(e, "vec_id", "embedding",
          queries, "vec_id", "embedding", 1.2, listThreshold = 10)
        .orderBy(col("qid"), col("vec_id"))
    }),

    // tree-shape introspection (R6): the exact per-depth profile depends
    // on float summation order, so the driver query emits the SHAPE
    // INVARIANTS every valid build must satisfy — all SQL-predictable
    "v10_index_depth_profile" -> ((s, d) => {
      val e = embeddings(s, d)
      val index = IndexBuild.buildIndex(e, "vec_id", "embedding")
      IndexWalk.depthProfile(index).agg(
        sum(col("n_leaf_rows")).as("total_leaf_rows"),
        sum(when(col("depth") === 0, col("n_nodes"))).as("root_nodes"),
        sum(expr("int(n_nodes > shiftleft(1L, depth))")).as("overfull_depths"),
        sum(when(col("depth") > 62, 1).otherwise(0)).as("overdeep_depths"))
    }),

    // --- multimodal: REAL image decode (javax.imageio) over generated
    // PNGs whose dimensions/colors are closed-form in the id, so the SQL
    // oracle predicts the decoded round trip exactly ---
    "m4_image_decode" -> ((s, d) => {
      val feats = Multimodal.extractFeatures(Multimodal.imageTable(s, 500)).toDF()
      feats.select(col("media_id"), col("width").cast("long"),
          col("height").cast("long"),
          round(col("feature")(0) * 255).cast("long").as("r"),
          round(col("feature")(1) * 255).cast("long").as("g"),
          round(col("feature")(2) * 255).cast("long").as("b"),
          round(col("feature")(7).cast("double"), 6).as("aspect"))
        .orderBy(col("media_id"))
    }),

    "m8_image_dedup" -> ((s, d) => {
      // content-based IMAGE dedup: the real imageio decode extracts
      // each image's color, and exact dedup groups on the DECODED
      // pixels rather than the container bytes — the generator's rgb
      // congruences make ids 256 apart visual duplicates even though
      // their PNG payloads differ (different dimensions); the oracle
      // replays the color congruences closed-form
      val feats = Multimodal.extractFeatures(Multimodal.imageTable(s, 500)).toDF()
      feats.select(col("media_id"),
          round(col("feature")(0) * 255).cast("long").as("r"),
          round(col("feature")(1) * 255).cast("long").as("g"),
          round(col("feature")(2) * 255).cast("long").as("b"))
        .groupBy(col("r"), col("g"), col("b"))
        .agg(min(col("media_id")).as("canonical"),
          count(lit(1)).as("n"))
        .filter(col("n") > 1)
        .select(col("canonical"), col("n"))
        .orderBy(col("canonical"))
    }),
    "m6_image_resize" -> ((s, d) => {
      // REAL resize through the full pipeline: decode PNG → nearest-
      // neighbour 8×8 rescale → PNG re-encode → decode again for
      // features. Solid-color sources stay exactly solid through NN
      // resampling, so the oracle predicts the resized round trip
      // closed-form (same colors, new dims, aspect 1)
      val resized = Multimodal.resizeImages(Multimodal.imageTable(s, 500),
        w = 8, h = 8)
      Multimodal.extractFeatures(resized).toDF()
        .select(col("media_id"), col("width").cast("long"),
          col("height").cast("long"),
          round(col("feature")(0) * 255).cast("long").as("r"),
          round(col("feature")(1) * 255).cast("long").as("g"),
          round(col("feature")(2) * 255).cast("long").as("b"),
          round(col("feature")(7).cast("double"), 6).as("aspect"))
        .orderBy(col("media_id"))
    }),

    // --- multimodal: REAL WAV decode (javax.sound.sampled) over
    // generated 16-bit PCM audio whose samples are closed-form in the
    // id, so the SQL oracle predicts the decoded round trip exactly ---
    "m5_audio_decode" -> ((s, d) => {
      val feats = Multimodal.extractAudioFeatures(Multimodal.audioTable(s, 500)).toDF()
      feats.select(col("media_id"),
          col("sample_rate").cast("long"), col("channels").cast("long"),
          col("bits").cast("long"), col("n_samples").cast("long"),
          col("mean_amp"), col("rms_amp"),
          col("max_amp").cast("long"), col("min_amp").cast("long"))
        .orderBy(col("media_id"))
    }),

    "m7_audio_resample" -> ((s, d) => {
      // REAL downsample through the full pipeline: decode WAV →
      // decimate by 4 (every 4th exact sample, rate/4) → WAV re-encode
      // → decode again for features. The oracle replays the decimated
      // sample stream closed-form (range step 4)
      val dec = Multimodal.decimateAudio(Multimodal.audioTable(s, 500),
        factor = 4)
      Multimodal.extractAudioFeatures(dec).toDF()
        .select(col("media_id"),
          col("sample_rate").cast("long"), col("channels").cast("long"),
          col("bits").cast("long"), col("n_samples").cast("long"),
          col("mean_amp"), col("rms_amp"),
          col("max_amp").cast("long"), col("min_amp").cast("long"))
        .orderBy(col("media_id"))
    }),

    // --- multimodal plumbing (stubbed video codec, real image/audio
    // decode, real schema/batching) ---
    "m3_media_features" -> ((s, d) => {
      val media = Multimodal.mediaFromText(Tables.documents(s, d), "doc_id", "text")
      Multimodal.extractFeatures(media).toDF()
        .select(col("media_id"), col("kind"), col("n_bytes"), col("sha"),
          col("width"), col("height"), col("n_frames"))
        .orderBy(col("media_id"))
    }),

    // --- multimodal: REAL video decode (YUV4MPEG2 container parse)
    // over generated C444 streams whose solid frames are closed-form in
    // the id, so the SQL oracle predicts the decoded round trip exactly
    // (the video twin of m4's PNGs and m5's WAVs) ---
    "m9_video_decode" -> ((s, d) => {
      val feats =
        Multimodal.extractVideoFeatures(Multimodal.videoTable(s, 500)).toDF()
      feats.select(col("media_id"), col("width").cast("long"),
          col("height").cast("long"), col("fps_num").cast("long"),
          col("n_frames").cast("long"),
          col("mean_y"), col("mean_u"), col("mean_v"),
          col("first_y"), col("last_y"))
        .orderBy(col("media_id"))
    }),

    "m10_frame_sample" -> ((s, d) =>
      // REAL frame sampling: decode the y4m stream, keep every 2nd
      // frame, emit its decoded mean luma — content, not metadata
      Multimodal.sampleVideoFrames(Multimodal.videoTable(s, 500), everyK = 2)
        .select(col("media_id"), col("frame_idx").cast("long"),
          col("mean_y"))
        .orderBy(col("media_id"), col("frame_idx"))),

    "m11_audio_frames" -> ((s, d) =>
      // per-WINDOW audio features over the decoded PCM stream (32
      // PCM frames per window, last window partial): count, mean, RMS,
      // zero crossings — the framing step before any spectral
      // featurization. The oracle replays the closed-form sample
      // stream windowed by k // 32 with a lag-based crossing count.
      Multimodal.audioFrameFeatures(Multimodal.audioTable(s, 500),
          frameLen = 32).toDF()
        .select(col("media_id"), col("frame_idx").cast("long"),
          col("n").cast("long"), col("mean_amp"), col("rms_amp"),
          col("n_zero_cross").cast("long"))
        .orderBy(col("media_id"), col("frame_idx"))),
  )

  /** The 8×8 derived-chunk MaxSim score over a DOUBLE[] column `v` —
    * the same op order as [[Retrieval.maxSimScore]]: dots in subspace
    * order, greatest per query token, fixed-order sum. Shared by the
    * a22 (full scan) and a23 (IVF-candidates re-rank) oracles. */
  private def maxSimExprSql: String = {
    val sub = 8
    Q64.grouped(sub).toSeq.map { q =>
      val qlit = q.mkString("CAST([", ", ", "] AS DOUBLE[])")
      val dots = (0 until Q64.length / sub).map { j =>
        s"list_dot_product(v[${j * sub + 1}:${(j + 1) * sub}], $qlit)"
      }
      s"greatest(${dots.mkString(", ")})"
    }.mkString(" + ")
  }

  private def maxSimOracleSql: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
       |SELECT vec_id, round($maxSimExprSql, 6) AS maxsim
       |FROM e ORDER BY maxsim DESC, vec_id LIMIT 10""".stripMargin

  /** q30 oracle: the same integer micro-unit PageRank iteration as
    * [[Graphs.pageRank]], unrolled — every value a BIGINT, so the
    * replay is bit-exact regardless of engine or aggregation order. */
  private def pageRankOracleSql(iters: Int): String = {
    val steps = (1 to iters).map { i =>
      s"""pr$i AS (
         |  SELECT n.node, CAST((SELECT base FROM consts)
         |      + (17 * coalesce(c.contrib, 0)) // 20 AS BIGINT) AS pr
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.dst AS node, sum(p.pr // d.outdeg) AS contrib
         |    FROM edges e JOIN pr${i - 1} p ON e.src = p.node
         |    JOIN outdeg d ON e.src = d.node GROUP BY e.dst) c
         |  ON n.node = c.node)""".stripMargin
    }
    s"""WITH pairs AS (
       |  SELECT DISTINCT l.l_suppkey * 2 AS sn, o.o_custkey * 2 + 1 AS cn
       |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
       |edges AS (SELECT sn AS src, cn AS dst FROM pairs
       |          UNION ALL SELECT cn, sn FROM pairs),
       |nodes AS (SELECT DISTINCT src AS node FROM edges),
       |consts AS (SELECT (3 * 1000000000000) // (20 * count(*)) AS base,
       |                  1000000000000 // count(*) AS init FROM nodes),
       |outdeg AS (SELECT src AS node, count(*) AS outdeg FROM edges GROUP BY src),
       |pr0 AS (SELECT node, CAST((SELECT init FROM consts) AS BIGINT) AS pr FROM nodes),
       |${steps.mkString(",\n")}
       |SELECT node, pr FROM pr$iters ORDER BY pr DESC, node LIMIT 20""".stripMargin
  }

  /** q32 oracle: the personalized (restart-to-seeds) variant of
    * [[pageRankOracleSql]] — seed nodes {0, 2, 4}, the same integer
    * micro-unit iteration with the base term gated on seed membership. */
  private def pprOracleSql(iters: Int): String = {
    val steps = (1 to iters).map { i =>
      s"""pr$i AS (
         |  SELECT n.node, CAST(
         |      CASE WHEN sd.node IS NOT NULL THEN (SELECT base FROM consts)
         |           ELSE 0 END
         |      + (17 * coalesce(c.contrib, 0)) // 20 AS BIGINT) AS pr
         |  FROM nodes n
         |  LEFT JOIN seeds sd ON n.node = sd.node
         |  LEFT JOIN (
         |    SELECT e.dst AS node, sum(p.pr // d.outdeg) AS contrib
         |    FROM edges e JOIN pr${i - 1} p ON e.src = p.node
         |    JOIN outdeg d ON e.src = d.node GROUP BY e.dst) c
         |  ON n.node = c.node)""".stripMargin
    }
    s"""WITH pairs AS (
       |  SELECT DISTINCT l.l_suppkey * 2 AS sn, o.o_custkey * 2 + 1 AS cn
       |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
       |edges AS (SELECT sn AS src, cn AS dst FROM pairs
       |          UNION ALL SELECT cn, sn FROM pairs),
       |nodes AS (SELECT DISTINCT src AS node FROM edges),
       |seeds AS (SELECT node FROM (VALUES (0), (2), (4)) s(node)
       |          WHERE node IN (SELECT node FROM nodes)),
       |consts AS (SELECT (3 * 1000000000000) // (20 * count(*)) AS base,
       |                  1000000000000 // count(*) AS init FROM seeds),
       |outdeg AS (SELECT src AS node, count(*) AS outdeg FROM edges GROUP BY src),
       |pr0 AS (SELECT n.node, CAST(
       |    CASE WHEN sd.node IS NOT NULL THEN (SELECT init FROM consts)
       |         ELSE 0 END AS BIGINT) AS pr
       |  FROM nodes n LEFT JOIN seeds sd ON n.node = sd.node),
       |${steps.mkString(",\n")}
       |SELECT node, pr FROM pr$iters ORDER BY pr DESC, node LIMIT 20""".stripMargin
  }

  /** LSH hyperplanes shared by queries and oracle SQL. */
  private val Planes: Array[Array[Double]] = Similarity.hyperplanes(8, 64)

  private def planeSql(p: Array[Double]): String =
    p.mkString("CAST([", ", ", "] AS DOUBLE[])")

  /** SQL: subspace-j squared distance between e.embedding and
    * w.embedding, unrolled left-to-right — the exact fold order of the
    * codegen DistSqExpr, so the PQ argmin comparisons agree bit for
    * bit (no sqrt: two d2 within 1 ulp must not collapse). */
  private def pqD2Sql(j: Int): String = (1 to 8).map { i =>
    val a = s"CAST(e.embedding[${j * 8 + i}] AS DOUBLE)"
    val b = s"CAST(w.embedding[${j * 8 + i}] AS DOUBLE)"
    s"(($a - $b) * ($a - $b))"
  }.mkString(" + ")

  private def pqCodesSql: String = {
    val perJ = (0 until 8).map { j =>
      s"""SELECT e.vec_id, $j AS j, w.vec_id AS code,
         | row_number() OVER (PARTITION BY e.vec_id
         |   ORDER BY ${pqD2Sql(j)}, w.vec_id) AS rn
         |FROM embeddings e
         |CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 16) w""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""SELECT vec_id, CAST(j AS INTEGER) AS j, CAST(code AS INTEGER) AS code
       |FROM ($perJ) WHERE rn = 1 ORDER BY vec_id, j""".stripMargin
  }

  /** a5 oracle: IVFADC codes. Coarse assignment mirrors a2's (sqrt
    * distance, lowest-list tie-break); residual elements are exact IEEE
    * float64 subtractions on both sides; the per-subspace argmin unrolls
    * the residual-vs-residual-codeword d2 in DistSqExpr's fold order
    * with the (d2, code) tie-break. Codeword c of subspace j is the
    * residual of seed vector c (iters=0, ids contiguous from 0). */
  /** Per-subspace IVFADC code election (UNION over j): residual-vs-
    * residual-codeword d2 in DistSqExpr's fold order, (d2, code)
    * tie-break. References CTEs `assigned` and `c` — shared by the a5
    * codes oracle and the a8 batch-join oracle. */
  private def ivfPqCodesPerJSql: String = {
    def d2(j: Int): String = (1 to 8).map { i =>
      val idx = j * 8 + i
      val a = s"(CAST(e.embedding[$idx] AS DOUBLE) - ce.centroid[$idx])"
      val b = s"(CAST(w.embedding[$idx] AS DOUBLE) - cw.centroid[$idx])"
      s"(($a - $b) * ($a - $b))"
    }.mkString(" + ")
    (0 until 8).map { j =>
      s"""SELECT e.vec_id, ae.list_id, $j AS j, w.vec_id AS code,
         | row_number() OVER (PARTITION BY e.vec_id
         |   ORDER BY ${d2(j)}, w.vec_id) AS rn
         |FROM embeddings e
         |JOIN assigned ae ON ae.vec_id = e.vec_id
         |JOIN c ce ON ce.list_id = ae.list_id
         |JOIN (SELECT s.vec_id, s.embedding, sa.list_id FROM embeddings s
         |      JOIN assigned sa ON sa.vec_id = s.vec_id
         |      WHERE s.vec_id < 16) w ON true
         |JOIN c cw ON cw.list_id = w.list_id""".stripMargin
    }.mkString("\nUNION ALL\n")
  }

  /** Coarse-quantizer CTE prefix (e2, c, assigned) shared by the
    * IVF/IVFADC oracles: first-16 centroids, sqrt-distance argmin with
    * the lowest-list tie-break. */
  private val IvfAssignCtes: String =
    """e2 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |c AS (SELECT vec_id AS list_id, v AS centroid FROM e2 ORDER BY vec_id LIMIT 16),
      |assigned AS (
      |  SELECT vec_id, list_id FROM (
      |    SELECT e2.vec_id, c.list_id,
      |      row_number() OVER (PARTITION BY e2.vec_id
      |        ORDER BY list_distance(e2.v, c.centroid), c.list_id) AS rn
      |    FROM e2 CROSS JOIN c
      |  ) WHERE rn = 1)""".stripMargin

  private def ivfPqCodesSql: String =
    s"""WITH $IvfAssignCtes
       |SELECT vec_id, list_id, CAST(j AS INTEGER) AS j, CAST(code AS INTEGER) AS code
       |FROM (${ivfPqCodesPerJSql}) WHERE rn = 1 ORDER BY vec_id, j""".stripMargin

  /** a8 oracle: the batch ADC kNN join end-to-end. Recomputes the
    * coarse assignment, the residual codes (shared ivfPqCodesPerJSql),
    * each query's nprobe=2 probe lists, the per-(qid, list, j, code)
    * ADC table entries (residual-vs-residual d2 unrolled in the pinned
    * ascending-subdim order), each candidate's approximate distance as
    * the PIVOTED left-associative 8-term sum (matching Spark's
    * ascending-j reduce — never an order-free SUM aggregate, whose
    * float accumulation order DuckDB does not pin), the (approx,
    * vec_id) topN=10 cut, and the exact re-rank to k=5. */
  private def ivfAdcJoinSql: String = {
    def lutD2(j: Int): String = (1 to 8).map { i =>
      val idx = j * 8 + i
      val a = s"(q.qv[$idx] - cp.centroid[$idx])"
      val b = s"(CAST(w.embedding[$idx] AS DOUBLE) - cw.centroid[$idx])"
      s"(($a - $b) * ($a - $b))"
    }.mkString(" + ")
    val lutPerJ = (0 until 8).map { j =>
      s"""SELECT p.qid, p.list_id, $j AS j, w.vec_id AS code, ${lutD2(j)} AS val
         |FROM probe p
         |JOIN q ON q.qid = p.qid
         |JOIN c cp ON cp.list_id = p.list_id
         |JOIN seeds w ON true
         |JOIN c cw ON cw.list_id = w.slist""".stripMargin
    }.mkString("\nUNION ALL\n")
    val piv = (0 until 8).map(j =>
      s"max(CASE WHEN j = $j THEN val END) AS v$j").mkString(",\n        ")
    val approx = (0 until 8).map(j => s"v$j").mkString(" + ")
    s"""WITH $IvfAssignCtes,
       |codes AS (SELECT vec_id, j, code FROM (${ivfPqCodesPerJSql}) WHERE rn = 1),
       |q AS (SELECT vec_id AS qid, v AS qv FROM e2 WHERE vec_id % 100 = 0),
       |probe AS (
       |  SELECT qid, list_id FROM (
       |    SELECT q.qid, c.list_id,
       |      row_number() OVER (PARTITION BY q.qid
       |        ORDER BY list_distance(q.qv, c.centroid), c.list_id) AS rn
       |    FROM q CROSS JOIN c
       |  ) WHERE rn <= 2),
       |seeds AS (SELECT s.vec_id, s.embedding, sa.list_id AS slist
       |          FROM embeddings s JOIN assigned sa ON sa.vec_id = s.vec_id
       |          WHERE s.vec_id < 16),
       |lut AS ($lutPerJ),
       |cand AS (SELECT p.qid, a.vec_id, a.list_id
       |         FROM assigned a JOIN probe p ON a.list_id = p.list_id),
       |sc AS (SELECT cd.qid, cd.vec_id, k.j, l.val
       |       FROM cand cd
       |       JOIN codes k ON k.vec_id = cd.vec_id
       |       JOIN lut l ON l.qid = cd.qid AND l.list_id = cd.list_id
       |                 AND l.j = k.j AND l.code = k.code),
       |piv AS (SELECT qid, vec_id,
       |        $piv
       |        FROM sc GROUP BY qid, vec_id),
       |topn AS (SELECT qid, vec_id FROM (
       |    SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
       |      ORDER BY $approx, vec_id) AS rn FROM piv) WHERE rn <= 10),
       |rer AS (SELECT t.qid, t.vec_id, list_distance(e2.v, q.qv) AS dist
       |        FROM topn t JOIN e2 ON e2.vec_id = t.vec_id JOIN q ON q.qid = t.qid)
       |SELECT qid, vec_id FROM (
       |  SELECT qid, vec_id,
       |    row_number() OVER (PARTITION BY qid ORDER BY dist, vec_id) AS rn
       |  FROM rer) WHERE rn <= 5
       |ORDER BY qid, vec_id""".stripMargin
  }

  /** a26's DuckDB oracle: replay the OPQ-IVFADC BATCH PROBE against the
    * staged store's own trained sidecars (rotation/.opq, coarse
    * /.centroids, residual /.codebook — read as parquet, the judge-r14
    * contract for data-dependent training: stage the artifacts, replay
    * the serving math). __SFTAG__ resolves to the sanitized sf dir in
    * Verify at dump time. Fold-order parity: the rotated query is
    * summed per output dim then CAST to FLOAT exactly as
    * ProductQuant.opqRotateCol does (the float32 round absorbs
    * sum-order ulps); every downstream ADC term is then bit-exact
    * double arithmetic in the engine's ascending association. */
  private def opqStoreKnnSql: String = {
    val store = "/tmp/graft_a26___SFTAG__/store"
    // per-subspace ADC distance: ((rqv - centroid) - word)^2 summed over
    // the 8 sub-dims, left-assoc ascending — probeBatchOpq's aggregate
    // fold (acc starts 0.0, so the + chain is identical)
    val valExpr = (1 to 8).map { sSub =>
      val idx = s"w.j*8+$sSub"
      s"((p.rqv[$idx] - p.centroid[$idx]) - w.word[$sSub]) * " +
        s"((p.rqv[$idx] - p.centroid[$idx]) - w.word[$sSub])"
    }.mkString(" + ")
    val piv = (0 until 8).map(j =>
      s"max(CASE WHEN j = $j THEN val END) AS v$j").mkString(",\n        ")
    val approx = (0 until 8).map(j => s"v$j").mkString(" + ")
    s"""WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
       |           FROM embeddings WHERE vec_id % 100 = 0),
       |opq AS (SELECT i, prow, permi FROM read_parquet('$store.opq/*.parquet')),
       |rotq AS (
       |  SELECT q.qid, o.i AS jj,
       |    CAST((SELECT sum(q.qv[x.i+1] * x.prow[o.permi+1]) FROM opq x) AS FLOAT) AS rv
       |  FROM q CROSS JOIN opq o),
       |rq AS (SELECT qid, list(CAST(rv AS DOUBLE) ORDER BY jj) AS rqv
       |       FROM rotq GROUP BY qid),
       |c AS (SELECT CAST(list_id AS BIGINT) AS list_id, centroid
       |      FROM read_parquet('$store.centroids/*.parquet')),
       |cb AS (SELECT j, code, word FROM read_parquet('$store.codebook/*.parquet')),
       |codes AS (SELECT vec_id, codes, CAST(list_id AS BIGINT) AS list_id
       |          FROM read_parquet('$store/*/*.parquet', hive_partitioning=true)),
       |probe AS (
       |  SELECT qid, list_id, rqv, centroid FROM (
       |    SELECT rq.qid, c.list_id, rq.rqv, c.centroid,
       |      row_number() OVER (PARTITION BY rq.qid
       |        ORDER BY list_distance(rq.rqv, c.centroid), c.list_id) AS rn
       |    FROM rq CROSS JOIN c) WHERE rn <= 2),
       |sc AS (
       |  SELECT p.qid, k.vec_id, w.j, $valExpr AS val
       |  FROM codes k
       |  JOIN probe p ON p.list_id = k.list_id
       |  JOIN cb w ON w.code = k.codes[w.j+1]),
       |piv AS (SELECT qid, vec_id,
       |        $piv
       |        FROM sc GROUP BY qid, vec_id),
       |topn AS (SELECT qid, vec_id FROM (
       |    SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
       |      ORDER BY $approx, vec_id) AS rn FROM piv) WHERE rn <= 10),
       |rer AS (SELECT t.qid, t.vec_id,
       |          list_distance(CAST(e.embedding AS DOUBLE[]), q.qv) AS dist
       |        FROM topn t JOIN embeddings e ON e.vec_id = t.vec_id
       |        JOIN q ON q.qid = t.qid)
       |SELECT qid, vec_id FROM (
       |  SELECT qid, vec_id,
       |    row_number() OVER (PARTITION BY qid ORDER BY dist, vec_id) AS rn
       |  FROM rer) WHERE rn <= 5
       |ORDER BY qid, vec_id""".stripMargin
  }

  /** a28's DuckDB oracle: replay the SINGLE OPQ probe (probeOpq)
    * against a26's staged artifacts. Differences from the batch
    * oracle: the rotated query stays FULL DOUBLE (probeOpq rotates
    * driver-side via opqRotateQuery — no float32 round), so the
    * rotation sum is an ORDERED aggregate (ascending input dim — the
    * exact pcaProjectQuery fold) instead of leaning on a float cast to
    * absorb sum-order ulps. ADC folds and tie-breaks mirror adcScore:
    * per-subspace ascending sub-dim fold, subspaces summed ascending,
    * (approx, id) then (dist, id) cuts. */
  private def opqSingleKnnSql: String = {
    val store = "/tmp/graft_a26___SFTAG__/store"
    val valExpr = (1 to 8).map { sSub =>
      val idx = s"w.j*8+$sSub"
      s"((r.rqv[$idx] - p.centroid[$idx]) - w.word[$sSub]) * " +
        s"((r.rqv[$idx] - p.centroid[$idx]) - w.word[$sSub])"
    }.mkString(" + ")
    val piv = (0 until 8).map(j =>
      s"max(CASE WHEN j = $j THEN val END) AS v$j").mkString(",\n        ")
    val approx = (0 until 8).map(j => s"v$j").mkString(" + ")
    s"""WITH q AS (SELECT $Q64Sql AS qv),
       |opq AS (SELECT i, prow, permi FROM read_parquet('$store.opq/*.parquet')),
       |rotq AS (
       |  SELECT o.i AS jj,
       |    (SELECT sum(q.qv[x.i+1] * x.prow[o.permi+1] ORDER BY x.i)
       |     FROM opq x, q) AS rv
       |  FROM opq o),
       |rq AS (SELECT list(rv ORDER BY jj) AS rqv FROM rotq),
       |c AS (SELECT CAST(list_id AS BIGINT) AS list_id, centroid
       |      FROM read_parquet('$store.centroids/*.parquet')),
       |cb AS (SELECT j, code, word FROM read_parquet('$store.codebook/*.parquet')),
       |codes AS (SELECT vec_id, codes, CAST(list_id AS BIGINT) AS list_id
       |          FROM read_parquet('$store/*/*.parquet', hive_partitioning=true)),
       |probe AS (
       |  SELECT list_id, centroid FROM (
       |    SELECT c.list_id, c.centroid,
       |      row_number() OVER (
       |        ORDER BY list_distance(r.rqv, c.centroid), c.list_id) AS rn
       |    FROM c CROSS JOIN rq r) WHERE rn <= 2),
       |sc AS (
       |  SELECT k.vec_id, w.j, $valExpr AS val
       |  FROM codes k
       |  JOIN probe p ON p.list_id = k.list_id
       |  CROSS JOIN rq r
       |  JOIN cb w ON w.code = k.codes[w.j+1]),
       |piv AS (SELECT vec_id,
       |        $piv
       |        FROM sc GROUP BY vec_id),
       |topn AS (SELECT vec_id FROM (
       |    SELECT vec_id, row_number() OVER (
       |      ORDER BY $approx, vec_id) AS rn FROM piv) WHERE rn <= 10),
       |rer AS (SELECT t.vec_id,
       |          list_distance(CAST(e.embedding AS DOUBLE[]),
       |                        (SELECT qv FROM q)) AS dist
       |        FROM topn t JOIN embeddings e ON e.vec_id = t.vec_id)
       |SELECT vec_id, round(dist, 6) AS dist FROM (
       |  SELECT vec_id, dist,
       |    row_number() OVER (ORDER BY dist, vec_id) AS rn
       |  FROM rer) WHERE rn <= 5
       |ORDER BY vec_id""".stripMargin
  }

  /** a27's DuckDB oracle: replay graphKnnDistributed's round-synchronous
    * greedy beam over the STAGED graph store's adjacency (read as
    * parquet — the build is data-dependent and separately gated by a25;
    * serving is a total function of the stored graph). Each unrolled
    * round r mirrors the engine exactly: frontier = each query's
    * unexpanded ef-nearest visited by (dist, id); its out-neighbours not
    * yet visited join in with true distance; frontier flips exp. After
    * maxRounds rounds, the k nearest visited per query. Engine rounds
    * that converge early are no-ops here too (empty frontier → v_{r+1}
    * ≡ v_r), so fixed unrolling matches the engine's early stop. */
  private def graphServeSql: String = {
    val store = "/tmp/graft_a27___SFTAG__/store"
    val (ef, k, rounds) = (8, 5, 8)
    // every v_r is referenced 3× by round r+1 — MATERIALIZED stops
    // DuckDB's default CTE inlining from going exponential in rounds
    // (unmaterialized, round 6+ plans for minutes)
    val roundCtes = (1 to rounds).map { r =>
      s"""f$r AS MATERIALIZED (SELECT qid, id FROM (
         |    SELECT qid, id, exp, row_number() OVER (PARTITION BY qid
         |      ORDER BY dist, id) AS rn FROM v${r - 1})
         |  WHERE rn <= $ef AND NOT exp),
         |n$r AS (SELECT DISTINCT qid, id FROM (
         |    SELECT f.qid, unnest(g.nbrs) AS id
         |    FROM f$r f JOIN g ON g.id = f.id) nb
         |  WHERE NOT EXISTS (SELECT 1 FROM v${r - 1} v
         |                    WHERE v.qid = nb.qid AND v.id = nb.id)),
         |c$r AS (SELECT n.qid, n.id, list_distance(g.v, q.qv) AS dist,
         |          false AS exp
         |        FROM n$r n JOIN g ON g.id = n.id JOIN q ON q.qid = n.qid),
         |v$r AS MATERIALIZED (SELECT v.qid, v.id, v.dist,
         |          (v.exp OR f.id IS NOT NULL) AS exp
         |        FROM v${r - 1} v LEFT JOIN f$r f
         |          ON f.qid = v.qid AND f.id = v.id
         |        UNION ALL SELECT qid, id, dist, exp FROM c$r)""".stripMargin
    }.mkString(",\n")
    s"""WITH g AS (SELECT id, CAST(vec AS DOUBLE[]) AS v, nbrs
       |           FROM read_parquet('$store/*/*.parquet', hive_partitioning=true)),
       |q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
       |      FROM embeddings WHERE vec_id % 100 = 0),
       |seeds AS (SELECT unnest(seeds) AS sid
       |          FROM read_parquet('$store.meta/*.parquet')),
       |v0 AS (SELECT q.qid, g.id, list_distance(g.v, q.qv) AS dist,
       |         false AS exp
       |       FROM q CROSS JOIN (SELECT g.* FROM g JOIN seeds s ON g.id = s.sid) g),
       |$roundCtes
       |SELECT qid, id, round(dist, 6) AS dist FROM (
       |  SELECT qid, id, dist, row_number() OVER (PARTITION BY qid
       |    ORDER BY dist, id) AS rn FROM v$rounds)
       |WHERE rn <= $k ORDER BY qid, id""".stripMargin
  }

  /** SQL expression: per-dim scalar-quantization code of embedding dim
    * `i` (1-based) — mirrors VectorStats.quantize bit for bit (floor of
    * one division + one multiply, clamped to 255; constant dims → 0). */
  private def quantSql(i: Int): String =
    s"CAST(least(CAST(floor(CASE WHEN (SELECT ex FROM ext WHERE i = $i) = 0 THEN 0.0 " +
      s"ELSE (CAST(embedding[$i] AS DOUBLE) - (SELECT mn FROM ext WHERE i = $i)) " +
      s"/ (SELECT ex FROM ext WHERE i = $i) * 256 END) AS INTEGER), 255) AS INTEGER)"

  /** SQL expression: bin-center SQ8 decode of embedding dim `i`
    * (1-based) — mirrors VectorStats.sqKnn's decode bit for bit: code
    * via the quantSql arithmetic against plain-column list extents
    * (`mnl`/`exl`), then mn + (code + 0.5)·ext/256 in the same IEEE op
    * order; constant dims decode to mn. */
  private def sqDecodeSql(i: Int): String =
    s"CASE WHEN exl[$i] = 0 THEN mnl[$i] ELSE mnl[$i] + " +
      s"(CAST(least(CAST(floor((CAST(embedding[$i] AS DOUBLE) - mnl[$i]) " +
      s"/ exl[$i] * 256) AS INTEGER), 255) AS DOUBLE) + 0.5) " +
      s"* exl[$i] / 256 END"

  /** SQL twin of TextOps.lineCorpus(n): rebuilds the deterministic
    * line corpus closed-form (same lines, joined with chr(10)). */
  private def lineCorpusSql(n: Int): String =
    "SELECT id AS doc_id, concat_ws(chr(10), " +
      "'spark cleans corpus line ' || id || ' with punctuation.', " +
      "'too short.', " +
      "CASE WHEN id % 2 = 1 THEN 'javascript must be enabled to view page ' || (id % 7) || '.' " +
      "ELSE 'page ' || id || ' renders fine without any scripting at all.' END, " +
      "'lorem ipsum dolor sit amet consectetur adipiscing elit.', " +
      "'unterminated navigation header number ' || (id % 5), " +
      "'subscribe to our newsletter now please today.', " +
      "'shared boilerplate variant ' || (id % 10) || ' appears rather often indeed.', " +
      "'document ' || id || ' closes with a unique parting sentence, number ' || (id * 3) || '.'" +
      s") AS text FROM range($n) t(id)"

  /** SQL twin of TextOps.urlCorpus(n): rebuilds the deterministic URL
    * corpus closed-form (same concatenated variant cases). */
  private def urlCorpusSql(n: Int): String =
    "SELECT id AS doc_id, " +
      "(CASE WHEN id % 2 = 0 THEN 'http://' ELSE 'https://' END) || " +
      "(CASE WHEN id % 4 = 0 THEN 'www.' ELSE '' END) || " +
      "(CASE WHEN id % 3 = 0 THEN 'ExAmPlE' ELSE 'example' END) || " +
      "CAST(id % 5 AS VARCHAR) || " +
      "(CASE WHEN id % 6 = 3 THEN '.CoM/Page' ELSE '.com/page' END) || " +
      "CAST(id % 20 AS VARCHAR) || " +
      "(CASE WHEN id % 7 = 0 THEN '/' ELSE '' END) || " +
      "(CASE WHEN id % 6 = 0 THEN '?utm_source=feed&utm_campaign=c' " +
      "WHEN id % 11 = 0 THEN '?utm_medium=m&x=1' " +
      "WHEN id % 13 = 0 THEN '?x=1&utm_medium=m' ELSE '' END) || " +
      "(CASE WHEN id % 8 = 0 THEN '#frag' ELSE '' END) AS url " +
      s"FROM range($n) t(id)"

  /** SQL twin of TextOps.canonicalUrl over a `url` column — the same
    * regex chain, innermost-first (DuckDB replaces the FIRST match
    * without the 'g' flag, which matches Spark for the anchored
    * steps; the tracking-param step is the one needing 'g'). */
  private val CanonicalUrlSql: String =
    "regexp_replace(regexp_replace(regexp_replace(regexp_replace(" +
      "regexp_replace(regexp_replace(regexp_replace(" +
      "lower(regexp_replace(url, '#.*', '')), " +
      "'&(utm_[a-z]+|fbclid|gclid)=[^&#]*', '', 'g'), " +
      "'\\?(utm_[a-z]+|fbclid|gclid)=[^&#]*&', '?'), " +
      "'\\?(utm_[a-z]+|fbclid|gclid)=[^&#]*$', ''), " +
      "'[?&]+$', ''), " +
      "'^https?://', ''), " +
      "'^www\\.', ''), " +
      "'/+$', '')"

  /** SQL twin of TextOps.lineKeep (lambda var `x`): terminal
    * punctuation, >= 5 words, no banned marker. */
  private val LineKeepSql: String =
    "len(list_filter(string_split_regex(trim(x), '\\s+'), w -> w <> '')) >= 5 " +
      "AND right(trim(x), 1) IN ('.', '!', '?', '\"') " +
      "AND NOT contains(lower(trim(x)), 'javascript') " +
      "AND NOT contains(lower(trim(x)), 'lorem ipsum') " +
      "AND NOT contains(lower(trim(x)), '{')"

  /** SQL expression: LSH bucket of DOUBLE[] expression `v` (mirrors
    * Similarity.lshBucket bit for bit). */
  private def bucketSql(v: String): String =
    Planes.zipWithIndex.map { case (p, j) =>
      s"(CASE WHEN list_dot_product($v, ${planeSql(p)}) > 0 THEN ${1 << j} ELSE 0 END)"
    }.mkString(" + ")

  // ---- programmatically-built oracle SQL for the dedup/text family ----

  /** SQL twin of TextOps.qualityScore (rounded 6dp) over a `text`
    * column — shared by t1 and the p3 curation gate. */
  private val QualitySql: String =
    """round(least(CAST(length(text) AS DOUBLE) / 400.0, 1.0) * 0.4
      |   + (CAST(len(list_distinct(string_split_regex(text, '\s+'))) AS DOUBLE)
      |      / greatest(len(string_split_regex(text, '\s+')), 1)) * 0.3
      |   + (CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
      |      / greatest(length(text), 1)) * 0.3, 6)""".stripMargin

  /** Shingle CTE chain ending in `sh(doc_id, shingle)`; `src` is the
    * (doc_id, text) relation to shingle — "documents" for the d-family,
    * a narrowing CTE (e.g. p3's exact-kept set) elsewhere.
    *
    * `AS MATERIALIZED` (here and on the other multi-referenced CTEs
    * below) is a DuckDB planner HINT with identical semantics: inside a
    * WITH RECURSIVE block DuckDB inlines non-recursive CTEs per
    * reference, so a twice-referenced tail (p5's `sp`) duplicated the
    * ENTIRE upstream chain — shingle explode, LSH band join, recursive
    * closure — per reference. Measured at the 50k-doc sf1 replay:
    * p5's oracle spilled >55 GB and ran >15 min un-hinted, 4 s
    * materialized; rows identical (round-13 scale run). */
  /** Deterministic ANCHOR SLICE (judge r15 #3): the brute-force
    * quadratic anchors (d5/d6/d23/d24/d25) re-verify shapes their
    * lossless scale paths (d10/p18/d27/d28/d25-engine) already gate on
    * the FULL corpus, yet at the sf1 tier they were ~41% of bench wall
    * time. Each anchor now runs over an md5-uniform slice targeting
    * `AnchorCap` rows: keep fraction = cap / count, so every scale at
    * or under the cap is untouched (sf0.001-sf0.1 hashes unchanged)
    * and bigger tiers pay O(cap^2), not O(N^2) - the anchor still
    * exercises its all-pairs shape at ~10^4 docs. The predicate is the
    * engine-portable md5 uniform of the salted id, and the oracle
    * applies the IDENTICAL predicate with the IDENTICAL double
    * fraction (count and IEEE division agree across engines), so the
    * gates stay hash-exact at every scale. */
  private val AnchorCap = 10000L

  private def anchorSlice(df: DataFrame, idCol: String): DataFrame = {
    val frac = AnchorCap.toDouble / df.count()
    if (frac >= 1.0) df
    else df.filter(graft.functions.PortableHash.md5Uniform(
      concat(col(idCol).cast("string"), lit("_anchor"))) < lit(frac))
  }

  /** The oracle-side twin of [[anchorSlice]]: a CTE named `a<src>`
    * holding the identically sliced table. */
  private def anchorSliceCte(src: String, idCol: String): String =
    s"""a$src AS (SELECT * FROM $src
       | WHERE CAST(CAST(('0x' || substr(md5(CAST($idCol AS VARCHAR) || '_anchor'), 1, 15)) AS BIGINT) AS DOUBLE) / 1152921504606846976.0
       |   < (SELECT CAST($AnchorCap AS DOUBLE) / count(*) FROM $src))""".stripMargin

  private def ShingleCteFrom(src: String): String =
    s"""toks AS (SELECT doc_id, string_split_regex(text, '\\s+') ts FROM $src),
       |sh AS MATERIALIZED (SELECT DISTINCT doc_id, array_to_string(ts[i+1:i+3], ' ') AS shingle
       |       FROM (SELECT doc_id, ts, unnest(range(greatest(len(ts)-2, 1))) AS i FROM toks))""".stripMargin

  private val ShingleCte = ShingleCteFrom("documents")

  private val JaccardPairsSql =
    s"""WITH $ShingleCte,
       |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
       |inter AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS inter
       |          FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
       |          GROUP BY 1, 2)
       |SELECT a, b,
       |  round(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter), 6) AS jaccard,
       |  CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) AS raw_jaccard
       |FROM inter JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b""".stripMargin

  /** CTE chain ending in `cands(a, b)` = the MinHash+LSH candidate pairs
    * (mirrors Dedup.minHashLshCandidates at the given band shape; shared
    * by d3 at 4×4 and d7/d8 at 8×2). */
  private def MinHashCandCtes(rowsPerBand: Int,
                              src: String = "documents"): String = {
    val params = Dedup.minHashParams(16)
    val numBands = 16 / rowsPerBand
    val sigCols = params.zipWithIndex.map { case ((a, b), j) =>
      s"min(($a * x30 + $b) % ${Dedup.MinHashP}) AS s$j"
    }.mkString(",\n  ")
    val bandRows = (0 until numBands).map { band =>
      val parts = (0 until rowsPerBand)
        .map(r => s"CAST(s${band * rowsPerBand + r} AS VARCHAR)")
        .mkString(" || ',' || ")
      s"SELECT doc_id, $band AS band, md5($parts) AS key FROM sig"
    }.mkString("\n UNION ALL\n ")
    s"""${ShingleCteFrom(src)},
       |xs AS (SELECT doc_id,
       |  CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT) % ${Dedup.MinHashP} AS x30
       |  FROM sh),
       |sig AS MATERIALIZED (SELECT doc_id,
       |  $sigCols
       |FROM xs GROUP BY doc_id),
       |bands AS MATERIALIZED (
       | $bandRows),
       |cands AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
       | FROM bands x JOIN bands y
       |  ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id)""".stripMargin
  }

  /** CTE `verified(a, b, raw_jaccard)`: exact Jaccard computed ONLY on
    * the LSH candidate pairs (mirrors Dedup.lshVerifiedPairs; requires
    * MinHashCandCtes before it). */
  private val LshVerifiedCtes: String =
    """sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
      |cinter AS (SELECT c.a, c.b, count(*) AS inter
      |  FROM cands c
      |  JOIN sh x ON x.doc_id = c.a
      |  JOIN sh y ON y.doc_id = c.b AND y.shingle = x.shingle
      |  GROUP BY c.a, c.b),
      |verified AS (SELECT a, b,
      |  CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) AS raw_jaccard
      |  FROM cinter JOIN sizes sa ON sa.doc_id = a
      |  JOIN sizes sb ON sb.doc_id = b)""".stripMargin

  /** The engine-portable md5-prefix uniform in [0,1) keyed by
    * doc_id and `salt`, as DuckDB SQL — the single source for every
    * oracle that recomputes Pipeline.hashUniform. */
  private def uniformSql(salt: String): String =
    s"CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '_$salt'), 1, 15)) AS BIGINT) AS DOUBLE) / 1152921504606846976.0"

  /** Shared CTE chain of the p5/p7 composed-curation oracles, ending in
    * `sp(doc_id, lang, quality, text, split)` (exact dedup → near-dup
    * closure → decontam vs the doc_id%23 eval slice → quality gate →
    * split assign) plus the rebalance preamble `tgt`/`cnt`/`kv` (counts
    * LEFT-JOINed so an absent domain collapses to the empty mixture in
    * both engines). Callers append the downsample (p5) or upsample (p7)
    * tail; `tgtCtes` overrides the target-share CTE (default: the fixed
    * VALUES mixture) — p9 derives `tgt` from sp's own counts with the
    * temperature rule instead. */
  /** The default near-dup pair source of the curate oracles: MinHash
    * LSH candidates + exact re-check at 0.6, over the exact-dedup
    * survivors (`ek`). Ends in `dpairs(a, b)` and defines `sh`. */
  private lazy val DefaultCuratePairCtes: String =
    s"""${MinHashCandCtes(2, "ek")},
       |$LshVerifiedCtes,
       |dpairs AS MATERIALIZED (SELECT a, b FROM verified WHERE raw_jaccard >= 0.6)""".stripMargin

  /** EXACT pair source (p15): brute all-pairs Jaccard over `ek` — the
    * oracle twin of the prefix-filtered exact path (the prefix trick is
    * lossless, so plain all-pairs SQL is the correct replay). Ends in
    * `dpairs(a, b)` and defines `sh` like the default. */
  private lazy val ExactCuratePairCtes: String =
    s"""${ShingleCteFrom("ek")},
       |szs AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
       |xinter AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS inter
       |  FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
       |  GROUP BY 1, 2),
       |dpairs AS MATERIALIZED (SELECT a, b FROM xinter
       |  JOIN szs sa ON sa.doc_id = a JOIN szs sb ON sb.doc_id = b
       |  WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.6)""".stripMargin

  private def CurateCommonCtes(kvExpr: String,
      tgtCtes: String = s"tgt(lang, tw) AS (VALUES $RebalanceTargetsSql)",
      pairCtes: String = DefaultCuratePairCtes)
      : String =
    s"""ek AS MATERIALIZED (
       |  SELECT doc_id, lang, text FROM (
       |    SELECT doc_id, lang, text,
       |      min(doc_id) OVER (PARTITION BY md5(text)) AS canon
       |    FROM documents) WHERE doc_id = canon),
       |$pairCtes,
       |dedges AS (SELECT a AS x, b AS y FROM dpairs
       |  UNION ALL SELECT b, a FROM dpairs),
       |reach(node, r) AS (
       |  SELECT x, y FROM dedges
       |  UNION
       |  SELECT reach.node, e.y FROM reach JOIN dedges e ON e.x = reach.r),
       |cl AS (SELECT node, least(node, min(r)) AS cluster
       |  FROM reach GROUP BY node),
       |dd AS (SELECT doc_id, lang, text FROM ek
       |  WHERE doc_id NOT IN (SELECT node FROM cl WHERE node <> cluster)),
       |etoks AS (SELECT string_split_regex(text, '\\s+') ts FROM documents
       |  WHERE doc_id % 23 = 0),
       |evs AS (SELECT DISTINCT array_to_string(ts[i+1:i+8], ' ') AS shingle
       |  FROM (SELECT ts, unnest(range(greatest(len(ts)-7, 1))) AS i FROM etoks)),
       |tt8 AS (SELECT doc_id, string_split_regex(text, '\\s+') ts FROM ek),
       |sh8 AS (SELECT DISTINCT doc_id, array_to_string(ts[i+1:i+8], ' ') AS shingle
       |  FROM (SELECT doc_id, ts, unnest(range(greatest(len(ts)-7, 1))) AS i FROM tt8)),
       |contam AS (SELECT DISTINCT s.doc_id FROM sh8 s
       |  JOIN evs e ON e.shingle = s.shingle),
       |qf AS (SELECT doc_id, lang, text, $QualitySql AS quality FROM dd
       |  WHERE doc_id NOT IN (SELECT doc_id FROM contam)
       |    AND $QualitySql >= 0.5),
       |sp AS MATERIALIZED (SELECT doc_id, lang, quality, text,
       |  CASE WHEN up < 0.75 THEN 'train'
       |       WHEN up < 0.875 THEN 'val' ELSE 'test' END AS split
       |  FROM (SELECT *, ${uniformSql("cu")} AS up FROM qf)),
       |$tgtCtes,
       |cnt AS MATERIALIZED (SELECT tgt.lang, tgt.tw, count(sp.doc_id) AS c
       |  FROM tgt LEFT JOIN sp ON sp.lang = tgt.lang GROUP BY tgt.lang, tgt.tw),
       |kv AS (SELECT min($kvExpr) AS k FROM cnt)""".stripMargin

  /** The p5/p7 rebalance uniform (salt `cu_rb`) as a SQL expression. */
  private def CurateRbUniformSql: String = uniformSql("cu_rb")

  private def simhashSumsSql: String = simhashSumsSqlFrom("documents")

  private def simhashSumsSqlFrom(src: String): String = {
    val sums = (0 until 16).map { j =>
      val pos = j / 4 + 1
      val shift = 3 - j % 4
      s"sum(CASE WHEN ((strpos('0123456789abcdef', substring(md5(token), $pos, 1)) - 1) >> $shift) & 1 = 1 THEN 1 ELSE -1 END) AS s$j"
    }.mkString(",\n  ")
    s"""tok AS (SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS token FROM $src),
       |sums AS (SELECT doc_id,
       |  $sums
       |FROM tok GROUP BY doc_id),
       |sh16 AS (SELECT doc_id AS doc,
       |  ${(0 until 16).map(j => s"(CASE WHEN s$j > 0 THEN ${1 << j} ELSE 0 END)").mkString(" + ")} AS simhash
       |FROM sums)""".stripMargin
  }

  /** 64-bit simhash CTE (`sh64(doc, simhash)`) — 64 per-bit sign sums,
    * OR-composed (bit 63 is BIGINT min, so + would overflow). */
  private def simhash64SumsSql: String = {
    val sums = (0 until 64).map { j =>
      val pos = j / 4 + 1
      val shift = 3 - j % 4
      s"sum(CASE WHEN ((strpos('0123456789abcdef', substring(md5(token), $pos, 1)) - 1) >> $shift) & 1 = 1 THEN 1 ELSE -1 END) AS s$j"
    }.mkString(",\n  ")
    val value = (0 until 64).map { j =>
      val bit = if (j == 63) "((-9223372036854775807) - 1)" else s"CAST(${1L << j} AS BIGINT)"
      s"(CASE WHEN s$j > 0 THEN $bit ELSE 0 END)"
    }.mkString(" | ")
    s"""tok AS (SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS token FROM documents),
       |sums AS (SELECT doc_id,
       |  $sums
       |FROM tok GROUP BY doc_id),
       |sh64 AS (SELECT doc_id AS doc, $value AS simhash FROM sums)""".stripMargin
  }

  private val langCases: String = {
    val langs = Seq("en", "de", "fr", "es", "zh")
    def hits(l: String) = {
      val words = TextOps.markers(l).map(w => s"'$w'").mkString(", ")
      s"len(list_filter(ts, t -> t IN ($words)))"
    }
    val best = langs.map(hits).mkString("greatest(", ", ", ")")
    langs.map(l => s"WHEN ${hits(l)} = $best THEN '$l'").mkString("CASE ", " ", " ELSE 'en' END")
  }

  def oracleSql: Map[String, String] = Map(
    // decimal sums mirror Relational.money/frac: exact, order-independent
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
        | CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))), 2) AS DOUBLE) AS sum_disc_price,
        | CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2))) * (CAST(1 AS DECIMAL(3,2)) + CAST(l_tax AS DECIMAL(3,2)))), 2) AS DOUBLE) AS sum_charge,
        | round(CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / count(*), 4) AS avg_qty,
        | round(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / count(*), 4) AS avg_price,
        | round(CAST(sum(CAST(l_discount AS DECIMAL(3,2))) AS DOUBLE) / count(*), 4) AS avg_disc,
        | count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q2_revenue_segment" ->
      """SELECT c_mktsegment,
        | CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))), 2) AS DOUBLE) AS revenue,
        | count(*) AS n_items
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        | JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q3_order_ranks" ->
      """SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS o_totalprice, rn, running_spend FROM (
        | SELECT o_orderkey, o_custkey, o_totalprice,
        |  CAST(row_number() OVER w AS INTEGER) AS rn,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend
        | FROM orders
        | WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |) WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,
    "q4_top_orders" ->
      """SELECT l_orderkey,
        | CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))), 2) AS DOUBLE) AS revenue
        |FROM lineitem GROUP BY l_orderkey
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,
    "q5_cust_no_orders" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders
        |                        WHERE o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin,
    "q6_order_facets" ->
      """SELECT o_orderkey,
        | CAST(year(o_orderdate) AS INTEGER) AS o_year,
        | CAST(month(o_orderdate) AS INTEGER) AS o_month,
        | CASE WHEN o_totalprice > 200000 THEN 'big'
        |      WHEN o_totalprice > 50000 THEN 'mid' ELSE 'small' END AS bucket,
        | upper(o_orderpriority) AS prio,
        | CAST(length(o_orderstatus) AS INTEGER) AS status_len
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q7_nation_presence" ->
      """SELECT nationkey, presence FROM (
        | SELECT nationkey, 'customers_only' AS presence FROM
        |  (SELECT c_nationkey AS nationkey FROM customer EXCEPT SELECT s_nationkey FROM supplier)
        | UNION ALL
        | SELECT nationkey, 'both' AS presence FROM
        |  (SELECT c_nationkey AS nationkey FROM customer INTERSECT SELECT s_nationkey FROM supplier)
        |) ORDER BY nationkey, presence""".stripMargin,
    "q8_rollup_revenue" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty, count(*) AS n
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "q9_event_windows" ->
      """SELECT date_trunc('hour', ts) AS ws, event_type,
        | count(*) AS n, CAST(sum(CAST(value AS DECIMAL(14,4))) AS DOUBLE) AS total
        |FROM events GROUP BY 1, 2 ORDER BY ws, event_type""".stripMargin,

    "q10_revenue_region" ->
      """SELECT r_name,
        | CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))), 2) AS DOUBLE) AS revenue,
        | count(DISTINCT s_suppkey) AS n_suppliers
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        | JOIN nation ON s_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin,
    "q11_brand_sizes" ->
      """SELECT p_brand, count(DISTINCT p_size) AS n_sizes,
        | CAST(sum(CAST(p_retailprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price, count(*) AS n_parts
        |FROM part GROUP BY p_brand HAVING count(DISTINCT p_size) >= 5
        |ORDER BY p_brand""".stripMargin,
    "q12_big_spenders" ->
      """SELECT c_custkey, c_mktsegment FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_totalprice > 300000)
        |ORDER BY c_custkey""".stripMargin,

    "q13_cube_revenue" ->
      """SELECT o_orderstatus, o_orderpriority,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total, count(*) AS n
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,
    "q54_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority,
        | CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total,
        | count(*) AS n
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
        |  (o_orderstatus), (o_orderpriority), ())
        |ORDER BY gid, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,
    "q14_event_pivot" ->
      """SELECT user_id,
        | count(CASE WHEN event_type = 'click' THEN 1 END) AS click,
        | count(CASE WHEN event_type = 'view' THEN 1 END) AS view,
        | count(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
        | count(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
        | count(CASE WHEN event_type = 'error' THEN 1 END) AS error
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q15_asof_click_view" ->
      """SELECT user_id, click_id, click_ts, last_view_ts FROM (
        | SELECT c.user_id, c.event_id AS click_id, c.ts AS click_ts,
        |  (SELECT max(v.ts) FROM events v
        |   WHERE v.user_id = c.user_id AND v.event_type = 'view' AND v.ts <= c.ts) AS last_view_ts
        | FROM events c WHERE c.event_type = 'click'
        |) WHERE last_view_ts IS NOT NULL
        |ORDER BY user_id, click_id""".stripMargin,
    "q16_percentiles" ->
      """SELECT l_returnflag,
        | round(quantile_cont(l_quantity, 0.25), 6) AS p25,
        | round(quantile_cont(l_quantity, 0.5), 6) AS p50,
        | round(quantile_cont(l_quantity, 0.75), 6) AS p75,
        | round(quantile_cont(l_quantity, 0.95), 6) AS p95
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    "q18_gap_fill" ->
      """WITH b AS (SELECT event_type, date_trunc('hour', ts) AS bucket
        |  FROM events),
        |counts AS (SELECT event_type, bucket, count(*) AS n
        |  FROM b GROUP BY 1, 2),
        |ext AS (SELECT min(bucket) AS lo, max(bucket) AS hi FROM b),
        |grid AS (SELECT t.event_type, g.bucket
        |  FROM (SELECT DISTINCT event_type FROM b) t,
        |    (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR))
        |       AS bucket FROM ext) g)
        |SELECT grid.event_type, grid.bucket, coalesce(counts.n, 0) AS n
        |FROM grid LEFT JOIN counts
        |  ON counts.event_type = grid.event_type
        |  AND counts.bucket = grid.bucket
        |ORDER BY grid.event_type, grid.bucket""".stripMargin,
    "a18_rp_knn" -> {
      val planes = Similarity.hyperplanes(32, 64)
      val cs = planes.map(p =>
        p.iterator.zip(QueryConstants.Q64.iterator)
          .map { case (a, b) => a * b }.sum)
      val rp = planes.zip(cs).map { case (p, c) =>
        s"((list_dot_product(CAST(embedding AS DOUBLE[]), ${planeSql(p)}) - ($c)) * " +
          s"(list_dot_product(CAST(embedding AS DOUBLE[]), ${planeSql(p)}) - ($c)))"
      }.mkString(" + ")
      s"""WITH pool AS (
         |  SELECT vec_id, embedding FROM embeddings
         |  ORDER BY $rp, vec_id LIMIT 150)
         |SELECT CAST(row_number() OVER (ORDER BY $DistSql, vec_id) AS INTEGER) AS rank,
         |  vec_id
         |FROM pool ORDER BY rank LIMIT 10""".stripMargin
    },
    "q28_cdc_compact" ->
      """WITH c AS (SELECT user_id, ts, event_id, event_type, value,
        |  CASE WHEN event_type = 'error' THEN 'delete' ELSE 'upsert' END AS op
        |  FROM events)
        |SELECT user_id, ts, event_type, value FROM (
        |  SELECT *, row_number() OVER (PARTITION BY user_id
        |    ORDER BY ts DESC, event_id DESC) AS rn FROM c)
        |WHERE rn = 1 AND op <> 'delete' ORDER BY user_id""".stripMargin,

    "q42_scd2" ->
      """WITH c AS (SELECT user_id, ts, event_id, event_type, value,
        |  CASE WHEN event_type = 'error' THEN 'delete' ELSE 'upsert' END AS op,
        |  lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
        |  FROM events)
        |SELECT user_id, event_id, ts AS valid_from, valid_to,
        |  (valid_to IS NULL) AS is_current, event_type, value
        |FROM c WHERE op <> 'delete'
        |ORDER BY user_id, valid_from, event_id""".stripMargin,

    "q53_point_in_time" ->
      """WITH ch AS (SELECT user_id, ts, event_id, value,
        |    CASE WHEN event_type = 'error' THEN 'delete' ELSE 'upsert' END AS op
        |  FROM events WHERE event_type IN ('purchase', 'error')),
        |hist AS (SELECT user_id, event_id, ts AS valid_from,
        |    lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
        |    op, value FROM ch),
        |dim AS (SELECT user_id, event_id, valid_from, valid_to, value
        |  FROM hist WHERE op <> 'delete'),
        |f AS (SELECT event_id, user_id, ts FROM events
        |  WHERE event_type = 'click')
        |SELECT f.event_id, f.user_id, f.ts,
        |  d.valid_from AS dim_valid_from, d.valid_to AS dim_valid_to,
        |  d.event_id AS dim_event_id, d.value AS dim_value
        |FROM f LEFT JOIN dim d
        |  ON d.user_id = f.user_id AND d.valid_from <= f.ts
        |  AND (d.valid_to > f.ts OR d.valid_to IS NULL)
        |ORDER BY f.event_id""".stripMargin,
    "q52_scd2_asof" ->
      """WITH c AS (SELECT user_id, ts, event_id, event_type, value,
        |  CASE WHEN event_type = 'error' THEN 'delete' ELSE 'upsert' END AS op,
        |  lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
        |  FROM events)
        |SELECT user_id, event_id, ts AS valid_from, valid_to,
        |  (valid_to IS NULL) AS is_current, event_type, value
        |FROM c WHERE op <> 'delete'
        |  AND ts <= TIMESTAMP '2024-01-15 12:00:00'
        |  AND (valid_to > TIMESTAMP '2024-01-15 12:00:00' OR valid_to IS NULL)
        |ORDER BY user_id""".stripMargin,
    "q43_equidepth" ->
      """WITH t AS (
        |  SELECT CAST(l_extendedprice AS DOUBLE) AS v,
        |    ('0x' || substr(md5(CAST(l_orderkey * 8 + l_linenumber AS VARCHAR) || 'sq'), 1, 15))::BIGINT
        |      / 1152921504606846976.0 AS u
        |  FROM lineitem WHERE l_extendedprice IS NOT NULL),
        |s AS (SELECT v, u FROM t ORDER BY u, v LIMIT 4096),
        |r AS (SELECT v, u, row_number() OVER (ORDER BY v, u) AS rn,
        |        count(*) OVER () AS n FROM s),
        |cuts AS (
        |  SELECT p, v FROM r
        |  JOIN (VALUES (CAST(0.125 AS DOUBLE)), (0.25), (0.375), (0.5),
        |               (0.625), (0.75), (0.875)) kv(p)
        |    ON rn = greatest(CAST(ceil(p * n) AS BIGINT), 1)),
        |cl AS (SELECT list(v) AS cs FROM cuts)
        |SELECT bucket, count(*) AS n, round(min(v), 6) AS lo,
        |  round(max(v), 6) AS hi
        |FROM (SELECT v,
        |        CAST(1 + len(list_filter(cs, c -> c < v)) AS INTEGER) AS bucket
        |      FROM t, cl)
        |GROUP BY bucket ORDER BY bucket""".stripMargin,
    "q29_moving_avg" ->
      """WITH b AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |             CAST(value AS DECIMAL(14,2)) AS v FROM events),
        |t AS (SELECT event_type, day, sum(v) AS total FROM b GROUP BY 1, 2),
        |ext AS (SELECT min(day) AS lo, max(day) AS hi FROM b),
        |grid AS (SELECT ty.event_type, g.day
        |         FROM (SELECT DISTINCT event_type FROM b) ty,
        |           (SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE)
        |              AS day FROM ext) g),
        |d AS (SELECT grid.event_type, grid.day,
        |        coalesce(t.total, CAST(0 AS DECIMAL(14,2))) AS total
        |      FROM grid LEFT JOIN t
        |        ON t.event_type = grid.event_type AND t.day = grid.day)
        |SELECT event_type, day, CAST(total AS DOUBLE) AS total,
        |  round(CAST(sum(total) OVER w AS DOUBLE) /
        |        CAST(count(*) OVER w AS DOUBLE), 6) AS ma7
        |FROM d
        |WINDOW w AS (PARTITION BY event_type ORDER BY day
        |             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
        |ORDER BY event_type, day""".stripMargin,
    "d26_triangles" ->
      s"""WITH ${MinHashCandCtes(2)},
         |$LshVerifiedCtes,
         |p AS (SELECT a, b FROM verified WHERE raw_jaccard >= 0.3)
         |SELECT p1.a AS a, p1.b AS b, p2.b AS c FROM p p1
         |JOIN p p2 ON p1.b = p2.a
         |JOIN p p3 ON p1.a = p3.a AND p2.b = p3.b
         |ORDER BY p1.a, p1.b, p2.b""".stripMargin,
    "q27_mad_outliers" ->
      """WITH e AS (SELECT event_id, event_type, value FROM events),
        |med AS (SELECT event_type, round(quantile_cont(value, 0.5), 6) AS med
        |        FROM e GROUP BY event_type),
        |dev AS (SELECT e.event_id, e.event_type, e.value, med.med,
        |          abs(e.value - med.med) AS adev
        |        FROM e JOIN med USING (event_type)),
        |mad AS (SELECT event_type, round(quantile_cont(adev, 0.5), 6) AS mad
        |        FROM dev GROUP BY event_type)
        |SELECT event_id, event_type, value, med, mad
        |FROM dev JOIN mad USING (event_type)
        |WHERE adev > 3 * mad ORDER BY event_id""".stripMargin,
    "a20_knn_classify" ->
      """WITH l AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
        |             vec_id % 7 AS label
        |           FROM embeddings WHERE vec_id % 100 <> 0),
        |q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
        |      FROM embeddings WHERE vec_id % 100 = 0),
        |n AS (SELECT q.qid, l.label,
        |        row_number() OVER (PARTITION BY q.qid
        |          ORDER BY list_distance(l.v, q.qv), l.vec_id) AS rnk
        |      FROM l, q),
        |v AS (SELECT qid, label, count(*) AS votes FROM n
        |      WHERE rnk <= 10 GROUP BY qid, label)
        |SELECT qid, label AS pred, votes FROM v
        |QUALIFY row_number() OVER (PARTITION BY qid ORDER BY votes DESC, label) = 1
        |ORDER BY qid""".stripMargin,
    "a19_mmr" ->
      s"""WITH RECURSIVE
         |e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |pool AS (
         |  SELECT id, v, CAST(round(1000000 * (list_dot_product(v, $Q64Sql) /
         |    (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product($Q64Sql, $Q64Sql))))) AS BIGINT) AS rel
         |  FROM e ORDER BY rel DESC, id LIMIT 50),
         |sims AS (
         |  SELECT x.id AS a, y.id AS b,
         |    CAST(round(1000000 * (list_dot_product(x.v, y.v) /
         |      (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v))))) AS BIGINT) AS sim
         |  FROM pool x JOIN pool y ON x.id <> y.id),
         |sel AS (
         |  SELECT 1 AS rank,
         |    (SELECT id FROM pool ORDER BY rel DESC, id LIMIT 1) AS id,
         |    (SELECT 7 * rel FROM pool ORDER BY rel DESC, id LIMIT 1) AS score,
         |    [(SELECT id FROM pool ORDER BY rel DESC, id LIMIT 1)] AS ids
         |  UNION ALL
         |  SELECT sel.rank + 1, pick.id, pick.score, list_append(sel.ids, pick.id)
         |  FROM sel, LATERAL (
         |    SELECT p.id AS id,
         |      7 * p.rel - 3 * (SELECT max(s.sim) FROM sims s
         |        WHERE s.a = p.id AND list_contains(sel.ids, s.b)) AS score
         |    FROM pool p
         |    WHERE NOT list_contains(sel.ids, p.id)
         |    ORDER BY score DESC, p.id LIMIT 1) pick
         |  WHERE sel.rank < 10)
         |SELECT rank, id, score FROM sel ORDER BY rank""".stripMargin,
    // RRF hybrid: the text leg is the t7/t11 BM25 query at topK=50
    // (nested as a subquery — score-identical by the shared oracle),
    // the vector leg the v2 brute ranking; the reciprocal terms are
    // added text-then-vector exactly as rrfFuse's join chain does
    "a21_hybrid_rrf" ->
      s"""WITH text_leg AS (
         |  SELECT doc, CAST(row_number() OVER (ORDER BY bm25 DESC, doc) AS INTEGER) AS r
         |  FROM (${bm25OracleSql(Seq("spark", "data", "query", "join"), 50)})),
         |vec_leg AS (
         |  SELECT vec_id AS doc, CAST(row_number() OVER (ORDER BY dist, vec_id) AS INTEGER) AS r
         |  FROM (SELECT vec_id, $DistSql AS dist FROM embeddings
         |        ORDER BY dist, vec_id LIMIT 50))
         |SELECT id, rrf FROM (
         |  SELECT coalesce(t.doc, v.doc) AS id,
         |    round(coalesce(1.0 / (60.0 + CAST(t.r AS DOUBLE)), 0.0)
         |        + coalesce(1.0 / (60.0 + CAST(v.r AS DOUBLE)), 0.0), 9) AS rrf
         |  FROM text_leg t FULL OUTER JOIN vec_leg v ON t.doc = v.doc)
         |ORDER BY rrf DESC, id LIMIT 10""".stripMargin,
    "a22_maxsim" -> maxSimOracleSql,
    // a23: the a2 IVF probe shape cut at 50 candidates, then the a22
    // MaxSim expression over only those rows
    "a23_maxsim_rerank" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |c AS (SELECT vec_id AS list_id, v AS centroid FROM e ORDER BY vec_id LIMIT 16),
         |assigned AS (
         |  SELECT vec_id, list_id FROM (
         |    SELECT e.vec_id, c.list_id,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY list_distance(e.v, c.centroid), c.list_id) AS rn
         |    FROM e CROSS JOIN c
         |  ) WHERE rn = 1),
         |probe AS (SELECT list_id FROM c
         |  ORDER BY list_distance(centroid, $Q64Sql), list_id LIMIT 4),
         |cand AS (
         |  SELECT e.vec_id, e.v
         |  FROM assigned a JOIN e ON a.vec_id = e.vec_id
         |  JOIN probe p ON a.list_id = p.list_id
         |  ORDER BY list_distance(e.v, $Q64Sql), e.vec_id LIMIT 50)
         |SELECT vec_id, round($maxSimExprSql, 6) AS maxsim
         |FROM cand ORDER BY maxsim DESC, vec_id LIMIT 10""".stripMargin,
    "a24_hard_negatives" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id % 100 = 0),
         |pairs AS (
         |  SELECT q.qid, e.vec_id, list_distance(e.v, q.qv) AS dist,
         |    CASE WHEN sqrt(list_dot_product(e.v, e.v))
         |            * sqrt(list_dot_product(q.qv, q.qv)) = 0 THEN 0
         |         ELSE list_dot_product(e.v, q.qv)
         |            / (sqrt(list_dot_product(e.v, e.v))
         |             * sqrt(list_dot_product(q.qv, q.qv))) END AS cos
         |  FROM e CROSS JOIN q WHERE e.vec_id <> q.qid)
         |SELECT qid, vec_id, rank, round(dist, 6) AS dist FROM (
         |  SELECT qid, vec_id, dist,
         |    CAST(row_number() OVER (PARTITION BY qid
         |      ORDER BY dist, vec_id) AS INTEGER) AS rank
         |  FROM pairs WHERE cos <= 0.4)
         |WHERE rank <= 3 ORDER BY qid, rank""".stripMargin,
    "p16_stratified_exact" ->
      s"""SELECT doc_id, lang FROM (
         |  SELECT doc_id, lang, row_number() OVER (PARTITION BY lang
         |    ORDER BY ${uniformSql("s16")}, doc_id) AS rk
         |  FROM documents)
         |WHERE rk <= 20 ORDER BY doc_id""".stripMargin,
    "q33_group_quantiles" ->
      """WITH v AS (SELECT CAST(l_returnflag AS VARCHAR) AS g,
        |    CAST(l_extendedprice AS DOUBLE) AS v FROM lineitem),
        |r AS (SELECT g, v, row_number() OVER (PARTITION BY g ORDER BY v) AS rk,
        |        count(*) OVER (PARTITION BY g) AS n FROM v)
        |SELECT g, p, value FROM (
        |  SELECT g, CAST(0.5 AS DOUBLE) AS p,
        |    round(max(CASE WHEN rk <= ceil(0.5 * n) THEN v END), 6) AS value
        |  FROM r GROUP BY g
        |  UNION ALL
        |  SELECT g, CAST(0.95 AS DOUBLE) AS p,
        |    round(max(CASE WHEN rk <= ceil(0.95 * n) THEN v END), 6) AS value
        |  FROM r GROUP BY g)
        |ORDER BY g, p""".stripMargin,
    "q31_exact_quantiles" -> {
      def leg(p: String) =
        s"""SELECT CAST($p AS DOUBLE) AS p,
           |  (SELECT round(max(v), 6) FROM (
           |     SELECT CAST(l_extendedprice AS DOUBLE) AS v FROM lineitem
           |     ORDER BY v
           |     LIMIT (SELECT CAST(ceil($p * n) AS BIGINT) FROM nn))) AS value""".stripMargin
      s"""WITH nn AS (SELECT count(*) AS n FROM lineitem)
         |SELECT p, value FROM (
         |${leg("0.5")}
         |UNION ALL
         |${leg("0.9")}
         |UNION ALL
         |${leg("0.99")})
         |ORDER BY p""".stripMargin
    },
    "q35_sample_quantiles" ->
      """WITH s AS (
        |  SELECT CAST(l_extendedprice AS DOUBLE) AS v,
        |    ('0x' || substr(md5(CAST(l_orderkey * 8 + l_linenumber AS VARCHAR) || 'sq'), 1, 15))::BIGINT
        |      / 1152921504606846976.0 AS u
        |  FROM lineitem
        |  WHERE l_extendedprice IS NOT NULL
        |  ORDER BY u, v LIMIT 4096),
        |r AS (SELECT v, u, row_number() OVER (ORDER BY v, u) AS rn,
        |        count(*) OVER () AS n FROM s)
        |SELECT p, round(v, 6) AS value
        |FROM r JOIN (VALUES (CAST(0.5 AS DOUBLE)), (0.9), (0.99)) kv(p)
        |  ON rn = greatest(CAST(ceil(p * n) AS BIGINT), 1)
        |ORDER BY p""".stripMargin,
    "q36_group_sample_quantiles" ->
      """WITH rows0 AS (
        |  SELECT CAST(l_returnflag AS VARCHAR) AS g,
        |    CAST(l_extendedprice AS DOUBLE) AS v,
        |    ('0x' || substr(md5(CAST(l_orderkey * 8 + l_linenumber AS VARCHAR) || 'sq'), 1, 15))::BIGINT
        |      / 1152921504606846976.0 AS u
        |  FROM lineitem
        |  WHERE l_extendedprice IS NOT NULL AND l_returnflag IS NOT NULL),
        |s AS (SELECT g, v, u FROM (
        |    SELECT g, v, u,
        |      row_number() OVER (PARTITION BY g ORDER BY u, v) AS hrn
        |    FROM rows0)
        |  WHERE hrn <= 1024),
        |r AS (SELECT g, v, u,
        |        row_number() OVER (PARTITION BY g ORDER BY v, u) AS rn,
        |        count(*) OVER (PARTITION BY g) AS n FROM s)
        |SELECT g, p, round(v, 6) AS value
        |FROM r JOIN (VALUES (CAST(0.5 AS DOUBLE)), (0.9), (0.99)) kv(p)
        |  ON rn = greatest(CAST(ceil(p * n) AS BIGINT), 1)
        |ORDER BY g, p""".stripMargin,
    "t12_phrase_count" ->
      """WITH tok AS (SELECT doc_id AS doc,
        |    string_split_regex(text, '\s+') AS ts FROM documents)
        |SELECT doc, hits FROM (
        |  SELECT doc, CAST(CASE WHEN len(ts) < 2 THEN 0
        |    ELSE len(list_filter(generate_series(1, len(ts) - 1),
        |      i -> ts[i] = 'data' AND ts[i+1] = 'query')) END AS INTEGER) AS hits
        |  FROM tok)
        |WHERE hits > 0 ORDER BY doc""".stripMargin,
    "q30_pagerank" -> pageRankOracleSql(5),
    "q32_ppr" -> pprOracleSql(5),
    "q55_kcore" -> {
      // 6 unrolled synchronous peel rounds (matching kCore's maxRounds;
      // rounds past convergence are no-ops, so the replay is exact)
      // every e_i is referenced 3x by round i+1 — without MATERIALIZED
      // the CTE inlining copies the base join 3^6 times and the plan
      // exhausts file handles
      val rounds = (1 to 6).map { i =>
        s"""d$i AS MATERIALIZED (SELECT x, count(*) AS n FROM (
           |    SELECT a AS x FROM e${i - 1}
           |    UNION ALL SELECT b FROM e${i - 1}) GROUP BY x),
           |k$i AS MATERIALIZED (SELECT x FROM d$i WHERE n >= 3),
           |e$i AS MATERIALIZED (SELECT a, b FROM e${i - 1}
           |  WHERE a IN (SELECT x FROM k$i)
           |    AND b IN (SELECT x FROM k$i))""".stripMargin
      }.mkString(",\n")
      s"""WITH pairs AS MATERIALIZED (
         |  SELECT l_suppkey * 2 AS a, o_custkey * 2 + 1 AS b
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |  GROUP BY 1, 2
         |  HAVING count(DISTINCT l_orderkey) >= 3),
         |e0 AS MATERIALIZED (SELECT a, b FROM pairs),
         |$rounds
         |SELECT x AS node, count(*) AS deg FROM (
         |  SELECT a AS x FROM e6 UNION ALL SELECT b FROM e6)
         |GROUP BY x ORDER BY node""".stripMargin
    },
    "q34_trade_components" ->
      """WITH RECURSIVE pairs AS (
        |  SELECT l_suppkey * 2 AS a, o_custkey * 2 + 1 AS b
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  GROUP BY 1, 2
        |  HAVING count(DISTINCT l_orderkey) >= 3),
        |edges AS (SELECT a AS x, b AS y FROM pairs
        |  UNION ALL SELECT b, a FROM pairs),
        |reach(node, r) AS (
        |  SELECT x, y FROM edges
        |  UNION
        |  SELECT reach.node, e.y FROM reach JOIN edges e ON e.x = reach.r)
        |SELECT node, least(node, min(r)) AS cluster
        |FROM reach GROUP BY node ORDER BY node""".stripMargin,

    "q44_trade_lpa" ->
      """WITH pairs AS (
        |  SELECT l_suppkey * 2 AS a, o_custkey * 2 + 1 AS b
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  GROUP BY 1, 2
        |  HAVING count(DISTINCT l_orderkey) >= 3),
        |e AS (SELECT a AS x, b AS y FROM pairs
        |  UNION ALL SELECT b AS x, a AS y FROM pairs),
        |l0 AS (SELECT DISTINCT x AS node, x AS lab FROM e),
        |c1 AS (SELECT e.x AS node, l.lab, count(*) AS c
        |       FROM e JOIN l0 l ON l.node = e.y GROUP BY 1, 2),
        |l1 AS (SELECT node, lab FROM (SELECT node, lab, row_number()
        |         OVER (PARTITION BY node ORDER BY c DESC, lab) AS rn FROM c1)
        |       WHERE rn = 1),
        |c2 AS (SELECT e.x AS node, l.lab, count(*) AS c
        |       FROM e JOIN l1 l ON l.node = e.y GROUP BY 1, 2),
        |l2 AS (SELECT node, lab FROM (SELECT node, lab, row_number()
        |         OVER (PARTITION BY node ORDER BY c DESC, lab) AS rn FROM c2)
        |       WHERE rn = 1),
        |c3 AS (SELECT e.x AS node, l.lab, count(*) AS c
        |       FROM e JOIN l2 l ON l.node = e.y GROUP BY 1, 2),
        |l3 AS (SELECT node, lab FROM (SELECT node, lab, row_number()
        |         OVER (PARTITION BY node ORDER BY c DESC, lab) AS rn FROM c3)
        |       WHERE rn = 1),
        |c4 AS (SELECT e.x AS node, l.lab, count(*) AS c
        |       FROM e JOIN l3 l ON l.node = e.y GROUP BY 1, 2),
        |l4 AS (SELECT node, lab FROM (SELECT node, lab, row_number()
        |         OVER (PARTITION BY node ORDER BY c DESC, lab) AS rn FROM c4)
        |       WHERE rn = 1)
        |SELECT CAST(node AS BIGINT) AS node, CAST(lab AS BIGINT) AS community
        |FROM l4 ORDER BY node""".stripMargin,
    "q22_range_join" ->
      """WITH c AS (SELECT event_id AS click_id, user_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS tc
        |  FROM events WHERE event_type = 'click'),
        |v AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS tv
        |  FROM events WHERE event_type = 'view')
        |SELECT c.click_id,
        |  (SELECT count(*) FROM v
        |   WHERE v.user_id = c.user_id
        |     AND abs(v.tv - c.tc) <= 300) AS n_views_near
        |FROM c ORDER BY click_id""".stripMargin,
    "q21_zorder" -> {
      val inter = (0 until 8).map(b =>
        s"(((qu >> $b) & 1) << ${2 * b}) + (((qv >> $b) & 1) << ${2 * b + 1})")
        .mkString(" + ")
      s"""WITH ext AS (SELECT
         |    CAST(min(user_id) AS DOUBLE) AS ulo,
         |    CAST(max(user_id) AS DOUBLE) AS uhi,
         |    min(value) AS vlo, max(value) AS vhi FROM events),
         |q AS (SELECT event_id,
         |    least(greatest(CAST(floor((CAST(user_id AS DOUBLE) - ulo)
         |      / (uhi - ulo) * 256) AS BIGINT), 0), 255) AS qu,
         |    least(greatest(CAST(floor((value - vlo)
         |      / (vhi - vlo) * 256) AS BIGINT), 0), 255) AS qv
         |  FROM events, ext)
         |SELECT event_id, $inter AS zval
         |FROM q ORDER BY event_id""".stripMargin
    },
    "q25_funnel" ->
      """WITH t1 AS (SELECT user_id, min(ts) AS t1 FROM events
        |            WHERE event_type = 'view' GROUP BY user_id),
        |t2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
        |       JOIN t1 ON e.user_id = t1.user_id AND e.ts > t1.t1
        |       WHERE e.event_type = 'click' GROUP BY e.user_id),
        |t3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
        |       JOIN t2 ON e.user_id = t2.user_id AND e.ts > t2.t2
        |       WHERE e.event_type = 'purchase' GROUP BY e.user_id)
        |SELECT 1 AS step, 'view' AS step_name, (SELECT count(*) FROM t1) AS users
        |UNION ALL
        |SELECT 2, 'click', (SELECT count(*) FROM t2)
        |UNION ALL
        |SELECT 3, 'purchase', (SELECT count(*) FROM t3)
        |ORDER BY step""".stripMargin,
    "q26_retention" ->
      """WITH d AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |c AS (SELECT user_id, min(day) AS cohort_day FROM d GROUP BY user_id)
        |SELECT c.cohort_day, date_diff('day', c.cohort_day, d.day) AS day_offset,
        |       count(DISTINCT d.user_id) AS users
        |FROM d JOIN c ON d.user_id = c.user_id
        |GROUP BY c.cohort_day, day_offset
        |ORDER BY cohort_day, day_offset""".stripMargin,
    "q24_heavy_hitters" ->
      """WITH t AS (SELECT unnest(string_split_regex(text, '\s+')) AS token
        |           FROM documents),
        |tt AS (SELECT token FROM t WHERE token <> ''),
        |n AS (SELECT count(*) AS n FROM tt)
        |SELECT token, count(*) AS cnt FROM tt, n
        |GROUP BY token, n.n HAVING count(*) * 40 > n.n
        |ORDER BY token""".stripMargin,

    "q45_group_heavy_hitters" ->
      """WITH t AS (SELECT lang, unnest(string_split_regex(text, '\s+')) AS token
        |           FROM documents),
        |tt AS (SELECT lang, token FROM t WHERE token <> ''),
        |n AS (SELECT lang, count(*) AS n FROM tt GROUP BY lang)
        |SELECT tt.lang, token, count(*) AS cnt
        |FROM tt JOIN n ON tt.lang = n.lang
        |GROUP BY tt.lang, token, n.n HAVING count(*) * 40 > n.n
        |ORDER BY tt.lang, token""".stripMargin,
    "q23_kmv_overlap" -> {
      def estSql(src: String): String =
        s"(SELECT CASE WHEN n < 256 THEN CAST(n AS DOUBLE) ELSE 255.0 / kth END " +
          s"FROM (SELECT count(*) AS n, max(u) AS kth " +
          s"FROM (SELECT u FROM $src ORDER BY u LIMIT 256)))"
      """WITH cu AS (SELECT DISTINCT
        |    ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT
        |      / 1152921504606846976.0 AS u
        |  FROM events WHERE event_type = 'click'),
        |vu AS (SELECT DISTINCT
        |    ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT
        |      / 1152921504606846976.0 AS u
        |  FROM events WHERE event_type = 'view'),
        |uu AS (SELECT DISTINCT u FROM (
        |  SELECT u FROM cu UNION ALL SELECT u FROM vu)),
        |ex AS (SELECT count(*) AS x FROM
        |  (SELECT DISTINCT user_id FROM events WHERE event_type = 'click')
        |  JOIN
        |  (SELECT DISTINCT user_id FROM events WHERE event_type = 'view')
        |  USING (user_id))
        |SELECT
        |  round(EST_A, 6) AS est_clicks,
        |  round(EST_B, 6) AS est_views,
        |  round(EST_U, 6) AS est_union,
        |  round(EST_A + EST_B - EST_U, 6) AS est_inter,
        |  x AS exact_inter
        |FROM ex""".stripMargin
        .replace("EST_A", estSql("cu"))
        .replace("EST_B", estSql("vu"))
        .replace("EST_U", estSql("uu"))
    },
    "q20_bloom_prefilter" -> {
      def posSql(v: String): String =
        s"CAST(floor(('0x' || substr(md5(CAST($v AS VARCHAR) || '_b' || i), 1, 15))::BIGINT" +
          " / 1152921504606846976.0 * 16384) AS INT)"
      s"""WITH ks AS (SELECT i FROM (VALUES (0), (1), (2)) t(i)),
         |vals AS (SELECT DISTINCT o_custkey AS v FROM orders),
         |pos AS (SELECT ${posSql("v")} AS p FROM vals, ks),
         |words AS (SELECT p // 63 AS word,
         |    bit_or(CAST(1 AS BIGINT) << (p % 63)) AS mask
         |  FROM pos GROUP BY 1),
         |probes AS (SELECT c_custkey AS probe_key FROM customer
         |  UNION ALL
         |  SELECT c_custkey + 1000000000 FROM customer),
         |cpos AS (SELECT probe_key, ${posSql("probe_key")} AS p
         |  FROM probes, ks),
         |hits AS (SELECT probe_key FROM cpos
         |  JOIN words ON words.word = cpos.p // 63
         |    AND (words.mask & (CAST(1 AS BIGINT) << (cpos.p % 63))) != 0
         |  GROUP BY probe_key HAVING count(*) = 3)
         |SELECT h.probe_key, (o.o_custkey IS NOT NULL) AS is_member
         |FROM hits h LEFT JOIN (SELECT DISTINCT o_custkey FROM orders) o
         |  ON o.o_custkey = h.probe_key
         |ORDER BY h.probe_key""".stripMargin
    },
    "q19_kmv_groups" ->
      """WITH u AS (SELECT DISTINCT event_type,
        |    ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT
        |      / 1152921504606846976.0 AS u
        |  FROM events),
        |mins AS (SELECT event_type, u,
        |    row_number() OVER (PARTITION BY event_type ORDER BY u) AS rn
        |  FROM u),
        |agg AS (SELECT event_type, count(*) AS n, max(u) AS kth
        |  FROM mins WHERE rn <= 256 GROUP BY event_type),
        |ex AS (SELECT event_type, count(DISTINCT user_id) AS n_exact
        |  FROM events GROUP BY event_type)
        |SELECT ex.event_type, n_exact,
        |  CASE WHEN n < 256 THEN CAST(n AS DOUBLE)
        |       ELSE 255.0 / kth END AS estimate,
        |  round(abs(CASE WHEN n < 256 THEN CAST(n AS DOUBLE)
        |       ELSE 255.0 / kth END - n_exact) / n_exact, 6) AS rel_err
        |FROM agg JOIN ex USING (event_type)
        |ORDER BY event_type""".stripMargin,
    "q17_kmv_distinct" ->
      """WITH u AS (SELECT DISTINCT
        |    ('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 15))::BIGINT
        |      / 1152921504606846976.0 AS u
        |  FROM lineitem),
        |mins AS (SELECT u FROM u ORDER BY u LIMIT 512),
        |agg AS (SELECT count(*) AS n, max(u) AS kth FROM mins),
        |ex AS (SELECT count(DISTINCT l_partkey) AS n_exact FROM lineitem)
        |SELECT 512 AS k, n_exact,
        |  CASE WHEN n < 512 THEN CAST(n AS DOUBLE)
        |       ELSE 511.0 / kth END AS estimate,
        |  round(abs(CASE WHEN n < 512 THEN CAST(n AS DOUBLE)
        |       ELSE 511.0 / kth END - n_exact) / n_exact, 6) AS rel_err
        |FROM agg, ex""".stripMargin,
    "q37_hll_distinct" ->
      """WITH vals AS (SELECT DISTINCT strftime(o_orderdate, '%Y-%m') AS month,
        |    o_custkey AS v FROM orders),
        |h AS (SELECT month,
        |    ('0x' || substr(md5(CAST(v AS VARCHAR)), 1, 15))::BIGINT AS h
        |  FROM vals),
        |r AS (SELECT month, h % 256 AS bucket,
        |    CASE WHEN h // 256 = 0 THEN 53
        |         ELSE 53 - length(bin(h // 256)) END AS rho
        |  FROM h),
        |regs AS (SELECT month, bucket, max(rho) AS r FROM r
        |  GROUP BY month, bucket),
        |agg AS (SELECT month,
        |    256 - count(*) AS v_zero,
        |    CAST(sum(1::BIGINT << (53 - r))
        |      + (256 - count(*)) * 9007199254740992 AS BIGINT) AS z_fix
        |  FROM regs GROUP BY month),
        |est AS (SELECT month, v_zero, z_fix,
        |    0.7213 / (1.0 + 1.079 / 256.0) * 65536.0
        |      * 9007199254740992.0 / z_fix AS raw_est
        |  FROM agg),
        |ex AS (SELECT strftime(o_orderdate, '%Y-%m') AS month,
        |    count(DISTINCT o_custkey) AS n_exact FROM orders GROUP BY 1)
        |SELECT e.month, ex.n_exact, e.v_zero, e.z_fix,
        |  round(e.raw_est, 4) AS raw_est,
        |  round(CASE WHEN e.v_zero > 0 AND e.raw_est <= 640.0
        |        THEN 256.0 * ln(256.0 / e.v_zero) ELSE e.raw_est END, 4)
        |    AS estimate
        |FROM est e JOIN ex ON e.month = ex.month
        |ORDER BY e.month""".stripMargin,
    "q38_hll_cube" ->
      """WITH vals AS (SELECT DISTINCT o_custkey AS v FROM orders
        |    WHERE strftime(o_orderdate, '%Y') = '1995'),
        |h AS (SELECT ('0x' || substr(md5(CAST(v AS VARCHAR)), 1, 15))::BIGINT AS h
        |  FROM vals),
        |r AS (SELECT h % 256 AS bucket,
        |    CASE WHEN h // 256 = 0 THEN 53
        |         ELSE 53 - length(bin(h // 256)) END AS rho
        |  FROM h),
        |regs AS (SELECT bucket, max(rho) AS r FROM r GROUP BY bucket),
        |agg AS (SELECT 256 - count(*) AS v_zero,
        |    CAST(sum(1::BIGINT << (53 - r))
        |      + (256 - count(*)) * 9007199254740992 AS BIGINT) AS z_fix
        |  FROM regs),
        |est AS (SELECT v_zero, z_fix,
        |    0.7213 / (1.0 + 1.079 / 256.0) * 65536.0
        |      * 9007199254740992.0 / z_fix AS raw_est
        |  FROM agg),
        |ex AS (SELECT count(DISTINCT o_custkey) AS n_exact FROM orders
        |  WHERE strftime(o_orderdate, '%Y') = '1995')
        |SELECT ex.n_exact, e.v_zero, e.z_fix,
        |  round(e.raw_est, 4) AS raw_est,
        |  round(CASE WHEN e.v_zero > 0 AND e.raw_est <= 640.0
        |        THEN 256.0 * ln(256.0 / e.v_zero) ELSE e.raw_est END, 4)
        |    AS estimate
        |FROM est e, ex""".stripMargin,
    "q46_hll_window" ->
      """WITH e AS (SELECT CAST(ts AS DATE) AS day, user_id FROM events),
        |days AS (SELECT DISTINCT day AS d0 FROM e),
        |vals AS (SELECT DISTINCT day, user_id AS v FROM e),
        |h AS (SELECT day,
        |    ('0x' || substr(md5(CAST(v AS VARCHAR)), 1, 15))::BIGINT AS h
        |  FROM vals),
        |r AS (SELECT day, h % 256 AS bucket,
        |    CASE WHEN h // 256 = 0 THEN 53
        |         ELSE 53 - length(bin(h // 256)) END AS rho
        |  FROM h),
        |regs AS (SELECT d0, bucket, max(rho) AS r
        |  FROM days JOIN r ON r.day BETWEEN d0 - 6 AND d0
        |  GROUP BY d0, bucket),
        |agg AS (SELECT d0,
        |    256 - count(*) AS v_zero,
        |    CAST(sum(1::BIGINT << (53 - r))
        |      + (256 - count(*)) * 9007199254740992 AS BIGINT) AS z_fix
        |  FROM regs GROUP BY d0),
        |est AS (SELECT d0, v_zero, z_fix,
        |    0.7213 / (1.0 + 1.079 / 256.0) * 65536.0
        |      * 9007199254740992.0 / z_fix AS raw_est
        |  FROM agg),
        |ex AS (SELECT d0, count(DISTINCT user_id) AS n_exact
        |  FROM days JOIN e ON e.day BETWEEN d0 - 6 AND d0 GROUP BY d0)
        |SELECT est.d0 AS day, ex.n_exact, est.v_zero, est.z_fix,
        |  round(est.raw_est, 4) AS raw_est,
        |  round(CASE WHEN est.v_zero > 0 AND est.raw_est <= 640.0
        |        THEN 256.0 * ln(256.0 / est.v_zero) ELSE est.raw_est END, 4)
        |    AS estimate
        |FROM est JOIN ex ON est.d0 = ex.d0
        |ORDER BY day""".stripMargin,
    "q47_event_transitions" ->
      """WITH s AS (SELECT user_id, event_type AS src,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS dst
        |  FROM events),
        |t AS (SELECT src, dst, count(*) AS n FROM s
        |  WHERE dst IS NOT NULL GROUP BY src, dst)
        |SELECT src, dst, n,
        |  round(CAST(n AS DOUBLE) /
        |        CAST(sum(n) OVER (PARTITION BY src) AS DOUBLE), 6) AS p
        |FROM t
        |ORDER BY src, dst""".stripMargin,
    "q49_sketch_store" ->
      """WITH e AS (SELECT CAST(ts AS DATE) AS day, user_id FROM events),
        |days AS (SELECT DISTINCT day AS d0 FROM e),
        |vals AS (SELECT DISTINCT day, user_id AS v FROM e),
        |h AS (SELECT day,
        |    ('0x' || substr(md5(CAST(v AS VARCHAR)), 1, 15))::BIGINT AS h
        |  FROM vals),
        |r AS (SELECT day, h % 256 AS bucket,
        |    CASE WHEN h // 256 = 0 THEN 53
        |         ELSE 53 - length(bin(h // 256)) END AS rho
        |  FROM h),
        |regs AS (SELECT d0, bucket, max(rho) AS r
        |  FROM days JOIN r ON r.day BETWEEN d0 - 6 AND d0
        |  GROUP BY d0, bucket),
        |agg AS (SELECT d0,
        |    256 - count(*) AS v_zero,
        |    CAST(sum(1::BIGINT << (53 - r))
        |      + (256 - count(*)) * 9007199254740992 AS BIGINT) AS z_fix
        |  FROM regs GROUP BY d0),
        |est AS (SELECT d0, v_zero, z_fix,
        |    0.7213 / (1.0 + 1.079 / 256.0) * 65536.0
        |      * 9007199254740992.0 / z_fix AS raw_est
        |  FROM agg)
        |SELECT d0 AS day, v_zero, z_fix,
        |  round(raw_est, 4) AS raw_est,
        |  round(CASE WHEN v_zero > 0 AND raw_est <= 640.0
        |        THEN 256.0 * ln(256.0 / v_zero) ELSE raw_est END, 4)
        |    AS estimate
        |FROM est
        |ORDER BY day""".stripMargin,
    "q51_freq_store" ->
      """WITH e AS (SELECT user_id FROM events
        |  WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-08'
        |    AND DATE '2024-01-21'),
        |h AS (SELECT ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
        |  FROM e),
        |slices AS (SELECT t.j, (h.h >> (t.j * 9)) & 511 AS bucket
        |  FROM h, generate_series(0, 3) AS t(j)),
        |cnt AS (SELECT j, bucket, count(*) AS c FROM slices GROUP BY j, bucket),
        |n AS (SELECT count(*) AS n_total FROM e),
        |top AS (SELECT user_id, count(*) AS n_exact FROM e
        |  GROUP BY user_id ORDER BY n_exact DESC, user_id LIMIT 10),
        |probe AS (SELECT user_id, n_exact,
        |    ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
        |  FROM top),
        |est AS (SELECT p.user_id, p.n_exact, min(c.c) AS est
        |  FROM probe p, generate_series(0, 3) AS t(j)
        |  JOIN cnt c ON c.j = t.j AND c.bucket = (p.h >> (t.j * 9)) & 511
        |  GROUP BY p.user_id, p.n_exact)
        |SELECT e.user_id, e.n_exact, n.n_total, e.est
        |FROM est e, n ORDER BY e.user_id""".stripMargin,
    "q56_grouped_sketch_store" ->
      """WITH e AS (SELECT event_type AS dim, user_id FROM events
        |  WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-08'
        |    AND DATE '2024-01-21'),
        |vals AS (SELECT DISTINCT dim, user_id AS v FROM e),
        |h AS (SELECT dim,
        |    ('0x' || substr(md5(CAST(v AS VARCHAR)), 1, 15))::BIGINT AS h
        |  FROM vals),
        |r AS (SELECT dim, h % 256 AS bucket,
        |    CASE WHEN h // 256 = 0 THEN 53
        |         ELSE 53 - length(bin(h // 256)) END AS rho
        |  FROM h),
        |regs AS (SELECT dim, bucket, max(rho) AS r FROM r
        |  GROUP BY dim, bucket),
        |agg AS (SELECT dim,
        |    256 - count(*) AS v_zero,
        |    CAST(sum(1::BIGINT << (53 - r))
        |      + (256 - count(*)) * 9007199254740992 AS BIGINT) AS z_fix
        |  FROM regs GROUP BY dim),
        |est AS (SELECT dim, v_zero, z_fix,
        |    0.7213 / (1.0 + 1.079 / 256.0) * 65536.0
        |      * 9007199254740992.0 / z_fix AS raw_est
        |  FROM agg)
        |SELECT dim, v_zero, z_fix,
        |  round(raw_est, 4) AS raw_est,
        |  round(CASE WHEN v_zero > 0 AND raw_est <= 640.0
        |        THEN 256.0 * ln(256.0 / v_zero) ELSE raw_est END, 4)
        |    AS estimate
        |FROM est
        |ORDER BY dim""".stripMargin,
    "q50_histogram_store" ->
      """WITH o AS (SELECT strftime(o_orderdate, '%Y-%m') AS month,
        |    CAST(o_totalprice AS DOUBLE) AS v FROM orders),
        |ext AS (SELECT min(v) AS lo, max(v) AS hi FROM o),
        |binned AS (SELECT month,
        |    least(CAST(floor((v - lo) / ((hi - lo) / 256.0)) AS BIGINT),
        |          255) AS bin
        |  FROM o, ext),
        |cells AS (SELECT month, bin, count(*) AS n FROM binned
        |  GROUP BY month, bin),
        |merged AS (SELECT bin, CAST(sum(n) AS BIGINT) AS n FROM cells
        |  WHERE month >= '1995-01' AND month <= '1995-12' GROUP BY bin),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_total FROM merged),
        |cum AS (SELECT bin, n,
        |    CAST(sum(n) OVER (ORDER BY bin) AS BIGINT) AS cum FROM merged),
        |ps AS (SELECT CAST(unnest([0.5, 0.9, 0.99]) AS DOUBLE) AS p),
        |chosen AS (SELECT p, min(bin) AS bucket FROM ps, cum, tot
        |  WHERE cum >= ceil(p * n_total) GROUP BY p)
        |SELECT c.p, c.bucket, cum.cum AS cum_n, tot.n_total,
        |  round(ext.lo + (c.bucket + 1) * ((ext.hi - ext.lo) / 256.0), 6)
        |    AS est
        |FROM chosen c
        |JOIN cum ON cum.bin = c.bucket, tot, ext
        |ORDER BY c.p""".stripMargin,
    "q48_histogram_quantiles" -> {
      def leg(p: String) =
        s"""SELECT CAST($p AS DOUBLE) AS p,
           |  (SELECT round(max(v), 6) FROM (
           |     SELECT v FROM o WHERE month LIKE '1995%'
           |     ORDER BY v
           |     LIMIT (SELECT CAST(ceil($p * n) AS BIGINT) FROM nn))) AS exact""".stripMargin
      s"""WITH o AS (SELECT strftime(o_orderdate, '%Y-%m') AS month,
         |    CAST(o_totalprice AS DOUBLE) AS v FROM orders),
         |ext AS (SELECT min(v) AS lo, max(v) AS hi FROM o),
         |binned AS (SELECT month,
         |    least(CAST(floor((v - lo) / ((hi - lo) / 256.0)) AS BIGINT),
         |          255) AS bin
         |  FROM o, ext),
         |cells AS (SELECT month, bin, count(*) AS n FROM binned
         |  GROUP BY month, bin),
         |merged AS (SELECT bin, CAST(sum(n) AS BIGINT) AS n FROM cells
         |  WHERE month LIKE '1995%' GROUP BY bin),
         |tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_total FROM merged),
         |cum AS (SELECT bin, n,
         |    CAST(sum(n) OVER (ORDER BY bin) AS BIGINT) AS cum FROM merged),
         |ps AS (SELECT CAST(unnest([0.5, 0.9, 0.99]) AS DOUBLE) AS p),
         |chosen AS (SELECT p, min(bin) AS bucket FROM ps, cum, tot
         |  WHERE cum >= ceil(p * n_total) GROUP BY p),
         |nn AS (SELECT count(*) AS n FROM o WHERE month LIKE '1995%'),
         |exacts AS (
         |${leg("0.5")}
         |UNION ALL
         |${leg("0.9")}
         |UNION ALL
         |${leg("0.99")})
         |SELECT c.p, c.bucket, cum.cum AS cum_n, tot.n_total,
         |  round(ext.lo + (c.bucket + 1) * ((ext.hi - ext.lo) / 256.0), 6)
         |    AS est,
         |  e.exact
         |FROM chosen c
         |JOIN cum ON cum.bin = c.bucket
         |JOIN exacts e ON e.p = c.p, tot, ext
         |ORDER BY c.p""".stripMargin
    },
    "q39_cms_topk" ->
      """WITH h AS (SELECT ('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 15))::BIGINT AS h
        |  FROM lineitem),
        |slices AS (SELECT t.j, (h.h >> (t.j * 9)) & 511 AS bucket
        |  FROM h, generate_series(0, 3) AS t(j)),
        |cnt AS (SELECT j, bucket, count(*) AS c FROM slices GROUP BY j, bucket),
        |n AS (SELECT count(*) AS n_total FROM lineitem),
        |top AS (SELECT l_partkey, count(*) AS n_exact FROM lineitem
        |  GROUP BY l_partkey ORDER BY n_exact DESC, l_partkey LIMIT 10),
        |probe AS (SELECT l_partkey, n_exact,
        |    ('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 15))::BIGINT AS h
        |  FROM top),
        |est AS (SELECT p.l_partkey, p.n_exact, min(c.c) AS est
        |  FROM probe p, generate_series(0, 3) AS t(j)
        |  JOIN cnt c ON c.j = t.j AND c.bucket = (p.h >> (t.j * 9)) & 511
        |  GROUP BY p.l_partkey, p.n_exact)
        |SELECT e.l_partkey, e.n_exact, n.n_total, e.est
        |FROM est e, n ORDER BY e.l_partkey""".stripMargin,
    "q40_salted_join" ->
      """SELECT o_orderpriority,
        | CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))), 2) AS DOUBLE) AS revenue,
        | count(*) AS n_items
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q41_salted_distinct" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_distinct
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "v1_range_search" ->
      s"""SELECT vec_id FROM embeddings
         |WHERE $DistSql <= $Radius ORDER BY vec_id""".stripMargin,
    "v2_knn" ->
      s"""SELECT CAST(row_number() OVER (ORDER BY $DistSql, vec_id) AS INTEGER) AS rank, vec_id
         |FROM embeddings ORDER BY $DistSql, vec_id LIMIT 10""".stripMargin,
    "v14_pinned_knn" ->
      s"""SELECT CAST(row_number() OVER (ORDER BY $DistSql, vec_id) AS INTEGER) AS rank, vec_id
         |FROM embeddings ORDER BY $DistSql, vec_id LIMIT 10""".stripMargin,
    "v16_knn_distributed" ->
      s"""SELECT CAST(row_number() OVER (ORDER BY $DistSql, vec_id) AS INTEGER) AS rank, vec_id
         |FROM embeddings ORDER BY $DistSql, vec_id LIMIT 10""".stripMargin,
    "v3_knn_join" ->
      s"""SELECT query_id, rank, vec_id FROM (
         | SELECT q.vec_id AS query_id, e.vec_id AS vec_id,
         |  CAST(row_number() OVER (PARTITION BY q.vec_id
         |   ORDER BY list_distance(CAST(e.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])), e.vec_id) AS INTEGER) AS rank
         | FROM embeddings e CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 5) q
         |) WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "v4_dim_stats" ->
      """SELECT CAST(i - 1 AS INTEGER) AS idx,
        | round(avg(CAST(embedding[i] AS DOUBLE)), 6) AS mean_v,
        | round(stddev_samp(CAST(embedding[i] AS DOUBLE)), 6) AS stdev_v,
        | count(*) AS cnt,
        | CAST(floor(sum(vec_id) / count(*)) AS BIGINT) AS mean_id
        |FROM embeddings, generate_series(1, 64) t(i)
        |GROUP BY i ORDER BY idx""".stripMargin,
    "v5_index_search_exact" ->
      s"""SELECT vec_id FROM embeddings
         |WHERE $DistSql <= $Radius ORDER BY vec_id""".stripMargin,
    "v6_index_leaf_count" ->
      """SELECT count(*) AS leaf_cnt, count(DISTINCT vec_id) AS distinct_ids
        |FROM embeddings""".stripMargin,
    "v17_batch_index_search" ->
      s"""SELECT q.vec_id AS qid, e.vec_id
         |FROM embeddings e
         |CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 5) q
         |WHERE list_distance(CAST(e.embedding AS DOUBLE[]),
         |                    CAST(q.embedding AS DOUBLE[])) <= $Radius
         |ORDER BY qid, e.vec_id""".stripMargin,

    "t14_html_extract" ->
      """SELECT doc_id,
        | 'Doc ' || doc_id || ' ' || text ||
        |   ' tail & entities <kept> ok' AS extracted
        |FROM documents ORDER BY doc_id""".stripMargin,
    "t1_text_profile" ->
      s"""SELECT doc_id,
         | CAST(len(string_split_regex(text, '\\s+')) AS INTEGER) AS n_tokens,
         | CAST(len(list_filter(string_split_regex(text, '[^0-9A-Za-z]+'), x -> x != ''))
         |   + length(regexp_replace(text, '[0-9A-Za-z\\s]+', '', 'g')) AS INTEGER) AS n_subwords,
         | (SELECT $langCases FROM (SELECT string_split_regex(lower(t2.text), '\\s+') ts)) AS pred_lang,
         | $QualitySql AS quality,
         | md5(array_to_string(list_sort(list_distinct(string_split_regex(lower(text), '\\s+'))), ' ')) AS fingerprint
         |FROM documents t2 ORDER BY doc_id""".stripMargin,
    "t2_top_terms" ->
      """SELECT token, count(*) AS cnt
        |FROM (SELECT unnest(string_split_regex(text, '\s+')) AS token FROM documents)
        |GROUP BY token ORDER BY cnt DESC, token LIMIT 20""".stripMargin,

    "t3_tfidf" ->
      """WITH tok AS (SELECT doc_id AS doc, unnest(string_split_regex(text, '\s+')) AS token FROM documents),
        |tf AS (SELECT doc, token, count(*) AS tf FROM tok GROUP BY doc, token),
        |df AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
        |n AS (SELECT count(*) AS n FROM documents)
        |SELECT doc, tf.token, tf, df,
        | round(tf * ln(CAST(n.n AS DOUBLE) / df), 6) AS tfidf
        |FROM tf JOIN df USING (token), n
        |WHERE doc < 20 ORDER BY doc, tf.token""".stripMargin,
    "t4_pii_scan" ->
      """SELECT id AS doc_id,
        | id % 3 AS n_emails,
        | id % 4 AS n_urls,
        | id % 5 AS n_phones,
        | 2 * (id % 3) + 2 * (id % 4) + 3 * (id % 5) + 1 AS n_digit_runs
        |FROM range(500) t(id) ORDER BY doc_id""".stripMargin,
    "t5_repetition" ->
      """WITH toks AS (SELECT doc_id AS doc, string_split_regex(text, '\s+') AS ts FROM documents),
        |b AS (SELECT doc, array_to_string(ts[i+1:i+2], ' ') AS g
        |  FROM (SELECT doc, ts, unnest(range(greatest(len(ts) - 2, 0) + 1)) AS i FROM toks)),
        |bs AS (SELECT doc, max(c) AS top2, sum(c) AS n2
        |  FROM (SELECT doc, g, count(*) AS c FROM b GROUP BY doc, g) GROUP BY doc),
        |t3 AS (SELECT doc, array_to_string(ts[i+1:i+3], ' ') AS g
        |  FROM (SELECT doc, ts, unnest(range(greatest(len(ts) - 3, 0) + 1)) AS i FROM toks)),
        |ts3 AS (SELECT doc, sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS dup3, sum(c) AS n3
        |  FROM (SELECT doc, g, count(*) AS c FROM t3 GROUP BY doc, g) GROUP BY doc)
        |SELECT toks.doc,
        | CAST(len(ts) AS INTEGER) AS n_tokens,
        | round(CAST(len(ts) - len(list_distinct(ts)) AS DOUBLE) / CAST(len(ts) AS DOUBLE), 6) AS dup_token_frac,
        | round(CAST(top2 AS DOUBLE) / CAST(n2 AS DOUBLE), 6) AS top_bigram_frac,
        | round(CAST(dup3 AS DOUBLE) / CAST(n3 AS DOUBLE), 6) AS dup_trigram_frac
        |FROM toks JOIN bs ON bs.doc = toks.doc JOIN ts3 ON ts3.doc = toks.doc
        |ORDER BY toks.doc""".stripMargin,
    "t7_bm25" -> bm25OracleSql(Seq("spark", "data", "query", "join"), 15),
    // the store probe is score-identical to the inline scan by
    // construction (same idf doubles, same fixed-order sum, exact
    // sidecar stats), so it shares the oracle
    "t11_inverted_bm25" -> bm25OracleSql(Seq("spark", "data", "query", "join"), 15),
    // the positional-store phrase probe is relation-identical to the
    // t12 raw-text scan by construction, so it shares the oracle
    "t13_phrase_store" ->
      """WITH tok AS (SELECT doc_id AS doc,
        |    string_split_regex(text, '\s+') AS ts FROM documents)
        |SELECT doc, hits FROM (
        |  SELECT doc, CAST(CASE WHEN len(ts) < 2 THEN 0
        |    ELSE len(list_filter(generate_series(1, len(ts) - 1),
        |      i -> ts[i] = 'data' AND ts[i+1] = 'query')) END AS INTEGER) AS hits
        |  FROM tok)
        |WHERE hits > 0 ORDER BY doc""".stripMargin,
    "t6_c4_line_clean" ->
      s"""WITH docs AS (${lineCorpusSql(500)}),
         |k AS (
         |  SELECT doc_id, string_split(text, chr(10)) AS ls,
         |    list_filter(string_split(text, chr(10)), x -> $LineKeepSql) AS ks
         |  FROM docs)
         |SELECT doc_id, CAST(len(ls) AS INTEGER) AS n_lines,
         |  CAST(len(ks) AS INTEGER) AS n_kept,
         |  md5(array_to_string(ks, chr(10))) AS clean_md5
         |FROM k ORDER BY doc_id""".stripMargin,
    "t10_bpe_pairs" ->
      """WITH t AS (SELECT unnest(string_split_regex(text, '\s+')) AS word
        |           FROM documents),
        |wf AS (SELECT word, count(*) AS freq FROM t WHERE word <> ''
        |       GROUP BY word),
        |seg AS (SELECT freq, string_split(word, '') || ['</w>'] AS syms
        |        FROM wf),
        |pr AS (SELECT syms[i+1] AS l, syms[i+2] AS r, freq
        |       FROM (SELECT freq, syms, unnest(range(len(syms) - 1)) AS i
        |             FROM seg))
        |SELECT l AS "left", r AS "right", CAST(sum(freq) AS BIGINT) AS weight
        |FROM pr GROUP BY l, r
        |ORDER BY weight DESC, "left", "right" LIMIT 50""".stripMargin,
    "t9_bigram_ce" ->
      """WITH base AS (SELECT doc_id AS doc, lang = 'en' AS tgt,
        |    string_split_regex(text, '\s+') AS ts FROM documents),
        |pairs AS (SELECT doc, tgt, ts[i+1] AS w1, ts[i+2] AS w2
        |  FROM (SELECT doc, tgt, ts, unnest(range(len(ts) - 1)) AS i
        |        FROM base)),
        |c2 AS (SELECT w1, w2, count(*) AS c2 FROM pairs WHERE tgt
        |  GROUP BY 1, 2),
        |c1 AS (SELECT w, count(*) AS c1
        |  FROM (SELECT unnest(ts) AS w FROM base WHERE tgt) GROUP BY 1),
        |vv AS (SELECT count(*) + 1 AS v FROM c1),
        |lam AS (SELECT p.doc,
        |    CAST(round(-ln((coalesce(c2.c2, 0) + 1.0)
        |      / (coalesce(c1.c1, 0) + CAST(vv.v AS DOUBLE))) * 1e8)
        |      AS BIGINT) AS lam_fp
        |  FROM pairs p
        |  LEFT JOIN c2 ON c2.w1 = p.w1 AND c2.w2 = p.w2
        |  LEFT JOIN c1 ON c1.w = p.w1, vv)
        |SELECT doc, round((CAST(sum(lam_fp) AS DOUBLE) / 1e8)
        |  / count(*), 6) AS ce
        |FROM lam GROUP BY doc ORDER BY doc""".stripMargin,
    "t8_url_dedup" ->
      s"""WITH raw AS (${urlCorpusSql(500)}),
         |c AS (SELECT doc_id, $CanonicalUrlSql AS canonical_url FROM raw)
         |SELECT doc_id, canonical_url,
         |  min(doc_id) OVER (PARTITION BY canonical_url) AS canonical_id,
         |  count(*) OVER (PARTITION BY canonical_url) AS group_size
         |FROM c ORDER BY doc_id""".stripMargin,
    "p13_dsir_select" ->
      """WITH toks AS (SELECT doc_id AS doc, lang = 'en' AS tgt,
        |    string_split_regex(text, '\s+') AS ts FROM documents),
        |feats AS (
        |  SELECT doc, tgt,
        |    ('0x' || substr(md5(g), 1, 15))::BIGINT % 1024 AS bucket
        |  FROM (
        |    SELECT doc, tgt, unnest(ts) AS g FROM toks
        |    UNION ALL
        |    SELECT doc, tgt, array_to_string(ts[i+1:i+2], ' ') AS g
        |    FROM (SELECT doc, tgt, ts,
        |            unnest(range(greatest(len(ts) - 1, 1))) AS i FROM toks))),
        |counts AS (SELECT bucket, count(*) AS cr,
        |    sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS ct
        |  FROM feats GROUP BY bucket),
        |lam AS (SELECT bucket,
        |    CAST(round(ln(((ct + 1.0) / (tt + 1024.0))
        |      / ((cr + 1.0) / (tr + 1024.0))) * 1e8) AS BIGINT) AS lam_fp
        |  FROM (SELECT bucket, cr, ct, sum(ct) OVER () AS tt,
        |          sum(cr) OVER () AS tr FROM counts))
        |SELECT doc, CAST(sum(lam_fp) AS DOUBLE) / 1e8 AS weight
        |FROM feats JOIN lam USING (bucket)
        |GROUP BY doc
        |ORDER BY weight DESC, doc LIMIT 100""".stripMargin,
    "p14_weighted_sample" ->
      s"""WITH q AS (SELECT doc_id, lang, $QualitySql AS w FROM documents),
         |r AS (SELECT doc_id, lang,
         |    round(ln(${uniformSql("ws")}) / w, 6) AS key
         |  FROM q WHERE w IS NOT NULL AND w > 0)
         |SELECT doc_id, lang FROM (
         |  SELECT doc_id, lang,
         |    row_number() OVER (PARTITION BY lang ORDER BY key DESC, doc_id) AS rn
         |  FROM r)
         |WHERE rn <= 20 ORDER BY lang, doc_id""".stripMargin,
    "p12_line_curate" ->
      s"""WITH docs AS (${lineCorpusSql(500)}),
         |k AS (
         |  SELECT doc_id AS doc,
         |    list_filter(string_split(text, chr(10)), x -> $LineKeepSql) AS ls
         |  FROM docs),
         |l AS (SELECT doc, CAST(i AS INTEGER) AS pos, ls[CAST(i + 1 AS INTEGER)] AS ln
         |  FROM (SELECT doc, ls, unnest(range(len(ls))) AS i FROM k)),
         |el AS (SELECT doc, pos, ln,
         |    row_number() OVER (PARTITION BY ln ORDER BY doc, pos) AS rn
         |  FROM l
         |  WHERE len(list_filter(string_split_regex(trim(ln), '\\s+'), w -> w <> '')) >= 4),
         |kept AS (
         |  SELECT doc, pos, ln FROM el WHERE rn = 1
         |  UNION ALL
         |  SELECT doc, pos, ln FROM l
         |  WHERE len(list_filter(string_split_regex(trim(ln), '\\s+'), w -> w <> '')) < 4)
         |SELECT doc, CAST(count(*) AS INTEGER) AS n_kept,
         |  md5(string_agg(ln, chr(10) ORDER BY pos)) AS clean_md5
         |FROM kept GROUP BY doc ORDER BY doc""".stripMargin,
    "p1_sample_split" ->
      s"""WITH u AS (
        | SELECT doc_id, doc_id % 3 AS stratum,
        |  ${uniformSql("s1")} AS us,
        |  ${uniformSql("sp")} AS up
        | FROM documents)
        |SELECT doc_id, stratum,
        | CASE WHEN up < 0.75 THEN 'train'
        |      WHEN up < 0.875 THEN 'val' ELSE 'test' END AS split
        |FROM u
        |WHERE us < CASE WHEN stratum = 0 THEN 0.25 ELSE 0.5 END
        |ORDER BY doc_id""".stripMargin,
    "p2_token_pack" ->
      """WITH t AS (
        | SELECT doc_id, doc_id % 8 AS shard,
        |  len(string_split_regex(text, '\s+')) AS n_tokens
        | FROM documents)
        |SELECT doc_id, shard, CAST(n_tokens AS BIGINT) AS n_tokens,
        | CAST(floor((CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |   - n_tokens) / 512) AS BIGINT) AS bin
        |FROM t ORDER BY doc_id""".stripMargin,
    "p3_curate" ->
      s"""WITH RECURSIVE ek AS (
         |  SELECT doc_id, text FROM (
         |    SELECT doc_id, text,
         |      min(doc_id) OVER (PARTITION BY md5(text)) AS canon
         |    FROM documents) WHERE doc_id = canon),
         |${MinHashCandCtes(2, "ek")},
         |$LshVerifiedCtes,
         |dpairs AS MATERIALIZED (SELECT a, b FROM verified WHERE raw_jaccard >= 0.6),
         |dedges AS (SELECT a AS x, b AS y FROM dpairs
         |  UNION ALL SELECT b, a FROM dpairs),
         |reach(node, r) AS (
         |  SELECT x, y FROM dedges
         |  UNION
         |  SELECT reach.node, e.y FROM reach JOIN dedges e ON e.x = reach.r),
         |cl AS (SELECT node, least(node, min(r)) AS cluster
         |  FROM reach GROUP BY node),
         |qf AS (SELECT doc_id, text, $QualitySql AS quality FROM ek
         |  WHERE doc_id NOT IN (SELECT node FROM cl WHERE node <> cluster)
         |    AND $QualitySql >= 0.5),
         |sp AS (SELECT doc_id, quality, text,
         |  CASE WHEN up < 0.75 THEN 'train'
         |       WHEN up < 0.875 THEN 'val' ELSE 'test' END AS split
         |  FROM (SELECT *, ${uniformSql("cu")} AS up FROM qf)),
         |t AS (SELECT doc_id, quality, split, doc_id % 8 AS shard,
         |  len(string_split_regex(text, '\\s+')) AS n_tokens FROM sp)
         |SELECT doc_id, quality, split, shard,
         | CAST(n_tokens AS BIGINT) AS n_tokens,
         | CAST(floor((CAST(sum(n_tokens) OVER (PARTITION BY split, shard
         |   ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |   - n_tokens) / 512) AS BIGINT) AS bin
         |FROM t ORDER BY doc_id""".stripMargin,
    // the composed crawl chain: crawl = t14's closed-form extraction,
    // quality gate = t1's formula, admission = d30's store jaccard with
    // the probe side shingled over the EXTRACTED text, curate = p3's
    // five stages over the admitted set
    "p17_crawl_pipeline" ->
      s"""WITH RECURSIVE crawl AS (
         |  SELECT doc_id,
         |    'Doc ' || doc_id || ' ' || text || ' tail & entities <kept> ok' AS text
         |  FROM documents),
         |qc AS MATERIALIZED (SELECT doc_id, text FROM crawl WHERE $QualitySql >= 0.5),
         |tokp AS (SELECT doc_id, string_split_regex(text, '\\s+') ts FROM qc),
         |shp AS MATERIALIZED (SELECT DISTINCT doc_id, array_to_string(ts[i+1:i+3], ' ') AS shingle
         |        FROM (SELECT doc_id, ts, unnest(range(greatest(len(ts)-2, 1))) AS i FROM tokp)),
         |tokc AS (SELECT doc_id, string_split_regex(text, '\\s+') ts
         |         FROM documents WHERE doc_id % 7 <> 0),
         |shc AS MATERIALIZED (SELECT DISTINCT doc_id, array_to_string(ts[i+1:i+3], ' ') AS shingle
         |        FROM (SELECT doc_id, ts, unnest(range(greatest(len(ts)-2, 1))) AS i FROM tokc)),
         |szp AS (SELECT doc_id, count(*) AS sz FROM shp GROUP BY doc_id),
         |szc AS (SELECT doc_id, count(*) AS sz FROM shc GROUP BY doc_id),
         |ainter AS (SELECT p.doc_id AS a, c.doc_id AS b, count(*) AS inter
         |           FROM shp p JOIN shc c ON p.shingle = c.shingle
         |           GROUP BY 1, 2),
         |adup AS (SELECT DISTINCT a FROM ainter
         |  JOIN szp pa ON pa.doc_id = a
         |  JOIN szc pb ON pb.doc_id = b
         |  WHERE CAST(inter AS DOUBLE) / (pa.sz + pb.sz - inter) >= 0.3),
         |adm AS MATERIALIZED (SELECT doc_id, text FROM qc
         |  WHERE doc_id NOT IN (SELECT a FROM adup)),
         |ek AS MATERIALIZED (
         |  SELECT doc_id, text FROM (
         |    SELECT doc_id, text,
         |      min(doc_id) OVER (PARTITION BY md5(text)) AS canon
         |    FROM adm) WHERE doc_id = canon),
         |${MinHashCandCtes(2, "ek")},
         |$LshVerifiedCtes,
         |dpairs AS MATERIALIZED (SELECT a, b FROM verified WHERE raw_jaccard >= 0.6),
         |dedges AS (SELECT a AS x, b AS y FROM dpairs
         |  UNION ALL SELECT b, a FROM dpairs),
         |reach(node, r) AS (
         |  SELECT x, y FROM dedges
         |  UNION
         |  SELECT reach.node, e.y FROM reach JOIN dedges e ON e.x = reach.r),
         |cl AS (SELECT node, least(node, min(r)) AS cluster
         |  FROM reach GROUP BY node),
         |qf AS (SELECT doc_id, text, $QualitySql AS quality FROM ek
         |  WHERE doc_id NOT IN (SELECT node FROM cl WHERE node <> cluster)
         |    AND $QualitySql >= 0.5),
         |sp AS (SELECT doc_id, quality, text,
         |  CASE WHEN up < 0.75 THEN 'train'
         |       WHEN up < 0.875 THEN 'val' ELSE 'test' END AS split
         |  FROM (SELECT *, ${uniformSql("cu")} AS up FROM qf)),
         |t AS (SELECT doc_id, quality, split, doc_id % 8 AS shard,
         |  len(string_split_regex(text, '\\s+')) AS n_tokens FROM sp)
         |SELECT doc_id, quality, split, shard,
         | CAST(n_tokens AS BIGINT) AS n_tokens,
         | CAST(floor((CAST(sum(n_tokens) OVER (PARTITION BY split, shard
         |   ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |   - n_tokens) / 512) AS BIGINT) AS bin
         |FROM t ORDER BY doc_id""".stripMargin,
    "p4_rebalance" ->
      s"""WITH tgt(lang, tw) AS (VALUES $RebalanceTargetsSql),
         |cnt AS (SELECT lang, count(*) AS c FROM documents JOIN tgt USING (lang) GROUP BY lang),
         |k AS (SELECT min(CAST(c AS DOUBLE) / tw) AS kv FROM cnt JOIN tgt USING (lang)),
         |r AS (SELECT lang, tw * k.kv / CAST(c AS DOUBLE) AS rate FROM cnt JOIN tgt USING (lang), k)
         |SELECT doc_id, lang FROM documents JOIN r USING (lang)
         |WHERE ${uniformSql("rb")} < rate
         |ORDER BY doc_id""".stripMargin,
    "p5_curate_full" ->
      s"""WITH RECURSIVE ${CurateCommonCtes("CAST(c AS DOUBLE) / tw")},
         |rr AS (SELECT lang, tw * kv.k / CAST(c AS DOUBLE) AS rate FROM cnt, kv WHERE c > 0),
         |mx AS (SELECT sp.* FROM sp JOIN rr USING (lang)
         |  WHERE $CurateRbUniformSql < rate),
         |t AS (SELECT doc_id, lang, quality, split, doc_id % 8 AS shard,
         |  len(string_split_regex(text, '\\s+')) AS n_tokens FROM mx)
         |SELECT doc_id, lang, quality, split, shard,
         | CAST(n_tokens AS BIGINT) AS n_tokens,
         | CAST(floor((CAST(sum(n_tokens) OVER (PARTITION BY split, shard
         |   ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |   - n_tokens) / 512) AS BIGINT) AS bin
         |FROM t ORDER BY doc_id""".stripMargin,
    "p8_temperature_mix" ->
      s"""WITH cnt AS (SELECT lang, count(*) AS c FROM documents GROUP BY lang),
         |tot AS (SELECT list_sum(list(sqrt(CAST(c AS DOUBLE)) ORDER BY lang)) AS t FROM cnt),
         |tgt AS (SELECT lang, sqrt(CAST(c AS DOUBLE)) / tot.t AS tw, c FROM cnt, tot),
         |k AS (SELECT min(CAST(c AS DOUBLE) / tw) AS kv FROM tgt),
         |r AS (SELECT lang, tw * k.kv / CAST(c AS DOUBLE) AS rate FROM tgt, k)
         |SELECT doc_id, lang FROM documents JOIN r USING (lang)
         |WHERE ${uniformSql("tm")} < rate
         |ORDER BY doc_id""".stripMargin,
    "p9_curate_temperature" ->
      s"""WITH RECURSIVE ${CurateCommonCtes("CAST(c AS DOUBLE) / tw",
           """dcnt AS (SELECT lang, count(*) AS dc FROM sp
             |  WHERE lang IS NOT NULL GROUP BY lang),
             |dtot AS (SELECT list_sum(list(sqrt(CAST(dc AS DOUBLE)) ORDER BY lang)) AS t FROM dcnt),
             |tgt AS (SELECT lang, sqrt(CAST(dc AS DOUBLE)) / dtot.t AS tw FROM dcnt, dtot)""".stripMargin)},
         |rr AS (SELECT lang, tw * kv.k / CAST(c AS DOUBLE) AS rate FROM cnt, kv WHERE c > 0),
         |mx AS (SELECT sp.* FROM sp JOIN rr USING (lang)
         |  WHERE $CurateRbUniformSql < rate),
         |t AS (SELECT doc_id, lang, quality, split, doc_id % 8 AS shard,
         |  len(string_split_regex(text, '\\s+')) AS n_tokens FROM mx)
         |SELECT doc_id, lang, quality, split, shard,
         | CAST(n_tokens AS BIGINT) AS n_tokens,
         | CAST(floor((CAST(sum(n_tokens) OVER (PARTITION BY split, shard
         |   ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |   - n_tokens) / 512) AS BIGINT) AS bin
         |FROM t ORDER BY doc_id""".stripMargin,
    "p10_chunk_docs" ->
      s"""WITH toks AS (SELECT doc_id,
         |  coalesce(string_split_regex(text, '\\s+'), CAST([] AS VARCHAR[])) AS ts FROM documents),
         |n AS (SELECT doc_id, ts,
         |  greatest((len(ts) - 8 + 55) // 56, 1) AS nc FROM toks),
         |ex AS (SELECT doc_id, ts,
         |  CAST(unnest(range(nc)) AS BIGINT) AS chunk FROM n)
         |SELECT doc_id, chunk,
         |  CAST(len(ts[chunk * 56 + 1 : chunk * 56 + 64]) AS BIGINT) AS n_chunk_tokens,
         |  md5(array_to_string(ts[chunk * 56 + 1 : chunk * 56 + 64], ' ')) AS chunk_md5
         |FROM ex ORDER BY doc_id, chunk""".stripMargin,
    "p11_chunk_pack" ->
      s"""WITH toks AS (SELECT doc_id,
         |  coalesce(string_split_regex(text, '\\s+'), CAST([] AS VARCHAR[])) AS ts FROM documents),
         |n AS (SELECT doc_id, ts,
         |  greatest((len(ts) - 8 + 55) // 56, 1) AS nc FROM toks),
         |ex AS (SELECT doc_id, ts,
         |  CAST(unnest(range(nc)) AS BIGINT) AS chunk FROM n),
         |t AS (SELECT doc_id, chunk, doc_id % 8 AS shard,
         |  CAST(len(ts[chunk * 56 + 1 : chunk * 56 + 64]) AS BIGINT) AS n_tokens
         | FROM ex)
         |SELECT doc_id, chunk, shard, n_tokens,
         | CAST(floor((CAST(sum(n_tokens) OVER (PARTITION BY shard
         |   ORDER BY doc_id, chunk
         |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |   - n_tokens) / 128) AS BIGINT) AS bin
         |FROM t ORDER BY doc_id, chunk""".stripMargin,
    "p7_curate_upsampled" ->
      s"""WITH RECURSIVE ${CurateCommonCtes("CAST(c AS DOUBLE) * 3 / tw")},
         |rr AS (SELECT lang, tw * kv.k / CAST(c AS DOUBLE) AS rate FROM cnt, kv WHERE c > 0),
         |cp AS (SELECT sp.*,
         |  CAST(floor(rate) AS BIGINT) +
         |    (CASE WHEN $CurateRbUniformSql < rate - floor(rate)
         |      THEN 1 ELSE 0 END) AS copies
         |  FROM sp JOIN rr USING (lang)),
         |ex AS (SELECT doc_id, lang, quality, split, text,
         |  CAST(unnest(range(copies)) AS BIGINT) AS rep
         |  FROM cp WHERE copies > 0),
         |t AS (SELECT doc_id, rep, lang, quality, split, doc_id % 8 AS shard,
         |  len(string_split_regex(text, '\\s+')) AS n_tokens FROM ex)
         |SELECT doc_id, rep, lang, quality, split, shard,
         | CAST(n_tokens AS BIGINT) AS n_tokens,
         | CAST(floor((CAST(sum(n_tokens) OVER (PARTITION BY split, shard
         |   ORDER BY doc_id, rep ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |   - n_tokens) / 512) AS BIGINT) AS bin
         |FROM t ORDER BY doc_id, rep""".stripMargin,
    "p15_curate_exact" ->
      s"""WITH RECURSIVE ${CurateCommonCtes("CAST(c AS DOUBLE) / tw",
             pairCtes = ExactCuratePairCtes)},
         |rr AS (SELECT lang, tw * kv.k / CAST(c AS DOUBLE) AS rate FROM cnt, kv WHERE c > 0),
         |mx AS (SELECT sp.* FROM sp JOIN rr USING (lang)
         |  WHERE $CurateRbUniformSql < rate),
         |t AS (SELECT doc_id, lang, quality, split, doc_id % 8 AS shard,
         |  len(string_split_regex(text, '\\s+')) AS n_tokens FROM mx)
         |SELECT doc_id, lang, quality, split, shard,
         | CAST(n_tokens AS BIGINT) AS n_tokens,
         | CAST(floor((CAST(sum(n_tokens) OVER (PARTITION BY split, shard
         |   ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |   - n_tokens) / 512) AS BIGINT) AS bin
         |FROM t ORDER BY doc_id""".stripMargin,
    "p6_rebalance_repeat" ->
      s"""WITH tgt(lang, tw) AS (VALUES $RebalanceTargetsSql),
         |cnt AS (SELECT tgt.lang, tgt.tw, count(d.doc_id) AS c
         |  FROM tgt LEFT JOIN documents d ON d.lang = tgt.lang
         |  GROUP BY tgt.lang, tgt.tw),
         |kv AS (SELECT min(CAST(c AS DOUBLE) * 3 / tw) AS k FROM cnt),
         |r AS (SELECT lang, tw * kv.k / CAST(c AS DOUBLE) AS rate
         |  FROM cnt, kv WHERE c > 0),
         |cp AS (SELECT doc_id, lang,
         |  CAST(floor(rate) AS BIGINT) +
         |    (CASE WHEN ${uniformSql("rr")} < rate - floor(rate) THEN 1 ELSE 0 END) AS copies
         |  FROM documents JOIN r USING (lang))
         |SELECT doc_id, lang, CAST(unnest(range(copies)) AS BIGINT) AS rep
         |FROM cp WHERE copies > 0
         |ORDER BY doc_id, rep""".stripMargin,
    "v12_l2_normalize" ->
      """SELECT vec_id,
        | round(CASE WHEN nrm = 0 THEN CAST(embedding[1] AS DOUBLE)
        |        ELSE CAST(embedding[1] AS DOUBLE) / nrm END, 6) AS u0,
        | round(CASE WHEN nrm = 0 THEN CAST(embedding[64] AS DOUBLE)
        |        ELSE CAST(embedding[64] AS DOUBLE) / nrm END, 6) AS u63
        |FROM (SELECT vec_id, embedding,
        |      sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
        |      FROM embeddings)
        |ORDER BY vec_id""".stripMargin,
    "v15_quantize" ->
      s"""WITH ext AS (
         | SELECT i, min(CAST(embedding[i] AS DOUBLE)) AS mn,
         |  max(CAST(embedding[i] AS DOUBLE)) - min(CAST(embedding[i] AS DOUBLE)) AS ex
         | FROM embeddings, generate_series(1, 64) t(i) GROUP BY i)
         |SELECT vec_id,
         | ${quantSql(1)} AS q1,
         | ${quantSql(32)} AS q32,
         | ${quantSql(64)} AS q64
         |FROM embeddings ORDER BY vec_id""".stripMargin,

    "d1_exact_dups" ->
      """SELECT doc_id, md5(text) AS text_hash,
        | min(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id,
        | count(*) OVER (PARTITION BY md5(text)) AS group_size
        |FROM documents ORDER BY doc_id""".stripMargin,
    "d2_ngram_jaccard" ->
      s"""SELECT a, b, jaccard FROM ($JaccardPairsSql)
         |WHERE raw_jaccard >= 0.3 ORDER BY a, b""".stripMargin,
    "d3_minhash_lsh" ->
      s"""WITH ${MinHashCandCtes(4)}
         |SELECT a, b FROM cands ORDER BY a, b""".stripMargin,
    "d7_keep_first" ->
      s"""WITH ${MinHashCandCtes(2)},
         |$LshVerifiedCtes
         |SELECT doc_id FROM documents
         |WHERE doc_id NOT IN (SELECT b FROM verified WHERE raw_jaccard >= 0.6)
         |ORDER BY doc_id""".stripMargin,
    "d8_lsh_verified" ->
      s"""WITH ${MinHashCandCtes(2)},
         |$LshVerifiedCtes
         |SELECT a, b, round(raw_jaccard, 6) AS jaccard FROM verified
         |WHERE raw_jaccard >= 0.3 ORDER BY a, b""".stripMargin,
    "d12_dup_clusters" ->
      s"""WITH RECURSIVE ${MinHashCandCtes(2)},
         |$LshVerifiedCtes,
         |dpairs AS MATERIALIZED (SELECT a, b FROM verified WHERE raw_jaccard >= 0.6),
         |dedges AS (SELECT a AS x, b AS y FROM dpairs
         |  UNION ALL SELECT b, a FROM dpairs),
         |reach(node, r) AS (
         |  SELECT x, y FROM dedges
         |  UNION
         |  SELECT reach.node, e.y FROM reach JOIN dedges e ON e.x = reach.r)
         |SELECT node, least(node, min(r)) AS cluster
         |FROM reach GROUP BY node ORDER BY node""".stripMargin,
    "d21_keep_best" ->
      s"""WITH RECURSIVE ${MinHashCandCtes(2)},
         |$LshVerifiedCtes,
         |dpairs AS MATERIALIZED (SELECT a, b FROM verified WHERE raw_jaccard >= 0.6),
         |dedges AS (SELECT a AS x, b AS y FROM dpairs
         |  UNION ALL SELECT b, a FROM dpairs),
         |reach(node, r) AS (
         |  SELECT x, y FROM dedges
         |  UNION
         |  SELECT reach.node, e.y FROM reach JOIN dedges e ON e.x = reach.r),
         |cl AS (SELECT node, least(node, min(r)) AS cluster
         |  FROM reach GROUP BY node),
         |qd AS (SELECT doc_id, $QualitySql AS q FROM documents),
         |lab AS (SELECT qd.doc_id, coalesce(cl.cluster, qd.doc_id) AS cluster, qd.q
         |  FROM qd LEFT JOIN cl ON cl.node = qd.doc_id)
         |SELECT doc_id FROM (
         |  SELECT doc_id,
         |    row_number() OVER (PARTITION BY cluster ORDER BY q DESC, doc_id) AS rn
         |  FROM lab) WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    "d22_jaccard_prefix" ->
      s"""SELECT a, b, jaccard FROM ($JaccardPairsSql)
         |WHERE raw_jaccard >= 0.8 ORDER BY a, b""".stripMargin,
    "d24_drop_contained" ->
      s"""WITH ${anchorSliceCte("documents", "doc_id")},
         |${ShingleCteFrom("adocuments")},
         |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
         |inter AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS inter
         |          FROM sh x JOIN sh y
         |          ON x.shingle = y.shingle AND x.doc_id <> y.doc_id
         |          GROUP BY 1, 2),
         |dropped AS (SELECT DISTINCT a FROM inter
         |  JOIN sizes sa ON sa.doc_id = a
         |  JOIN sizes sb ON sb.doc_id = b
         |  WHERE CAST(inter AS DOUBLE) / sa.sz >= 0.8
         |    AND (sb.sz > sa.sz OR (sb.sz = sa.sz AND b < a)))
         |SELECT doc_id FROM adocuments
         |WHERE doc_id NOT IN (SELECT a FROM dropped)
         |ORDER BY doc_id""".stripMargin,
    // the prefix-filtered scale paths are LOSSLESS (same relations as
    // the anchors), so they share the anchor oracles
    "d28_drop_contained_prefix" ->
      s"""WITH $ShingleCte,
         |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
         |inter AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS inter
         |          FROM sh x JOIN sh y
         |          ON x.shingle = y.shingle AND x.doc_id <> y.doc_id
         |          GROUP BY 1, 2),
         |dropped AS (SELECT DISTINCT a FROM inter
         |  JOIN sizes sa ON sa.doc_id = a
         |  JOIN sizes sb ON sb.doc_id = b
         |  WHERE CAST(inter AS DOUBLE) / sa.sz >= 0.8
         |    AND (sb.sz > sa.sz OR (sb.sz = sa.sz AND b < a)))
         |SELECT doc_id FROM documents
         |WHERE doc_id NOT IN (SELECT a FROM dropped)
         |ORDER BY doc_id""".stripMargin,
    "d31_incremental_pairs_band" ->
      s"""WITH $ShingleCte,
         |sa AS (SELECT * FROM sh WHERE doc_id % 7 = 0),
         |sb AS (SELECT * FROM sh WHERE doc_id % 7 <> 0),
         |sizesa AS (SELECT doc_id, count(*) AS sz FROM sa GROUP BY doc_id),
         |sizesb AS (SELECT doc_id, count(*) AS sz FROM sb GROUP BY doc_id),
         |inter AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS inter
         |          FROM sa x JOIN sb y ON x.shingle = y.shingle
         |          GROUP BY 1, 2)
         |SELECT a, b,
         |  round(CAST(inter AS DOUBLE) / (pa.sz + pb.sz - inter), 6) AS jaccard
         |FROM inter JOIN sizesa pa ON pa.doc_id = a
         |  JOIN sizesb pb ON pb.doc_id = b
         |WHERE CAST(inter AS DOUBLE) / (pa.sz + pb.sz - inter) >= 0.3
         |ORDER BY a, b""".stripMargin,
    "d29_incremental_pairs" ->
      s"""WITH $ShingleCte,
         |sa AS (SELECT * FROM sh WHERE doc_id % 7 = 0),
         |sb AS (SELECT * FROM sh WHERE doc_id % 7 <> 0),
         |sizesa AS (SELECT doc_id, count(*) AS sz FROM sa GROUP BY doc_id),
         |sizesb AS (SELECT doc_id, count(*) AS sz FROM sb GROUP BY doc_id),
         |inter AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS inter
         |          FROM sa x JOIN sb y ON x.shingle = y.shingle
         |          GROUP BY 1, 2)
         |SELECT a, b,
         |  round(CAST(inter AS DOUBLE) / (pa.sz + pb.sz - inter), 6) AS jaccard
         |FROM inter JOIN sizesa pa ON pa.doc_id = a
         |  JOIN sizesb pb ON pb.doc_id = b
         |WHERE CAST(inter AS DOUBLE) / (pa.sz + pb.sz - inter) >= 0.3
         |ORDER BY a, b""".stripMargin,
    "d30_admit_new" ->
      s"""WITH $ShingleCte,
         |sa AS (SELECT * FROM sh WHERE doc_id % 7 = 0),
         |sb AS (SELECT * FROM sh WHERE doc_id % 7 <> 0),
         |sizesa AS (SELECT doc_id, count(*) AS sz FROM sa GROUP BY doc_id),
         |sizesb AS (SELECT doc_id, count(*) AS sz FROM sb GROUP BY doc_id),
         |inter AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS inter
         |          FROM sa x JOIN sb y ON x.shingle = y.shingle
         |          GROUP BY 1, 2),
         |dup AS (SELECT DISTINCT a FROM inter
         |  JOIN sizesa pa ON pa.doc_id = a
         |  JOIN sizesb pb ON pb.doc_id = b
         |  WHERE CAST(inter AS DOUBLE) / (pa.sz + pb.sz - inter) >= 0.3)
         |SELECT doc_id FROM documents
         |WHERE doc_id % 7 = 0 AND doc_id NOT IN (SELECT a FROM dup)
         |ORDER BY doc_id""".stripMargin,
    "d23_containment" ->
      s"""WITH ${anchorSliceCte("documents", "doc_id")},
         |${ShingleCteFrom("adocuments")},
         |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
         |inter AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS inter
         |          FROM sh x JOIN sh y
         |          ON x.shingle = y.shingle AND x.doc_id <> y.doc_id
         |          GROUP BY 1, 2)
         |SELECT a, b,
         |  round(CAST(inter AS DOUBLE) / sa.sz, 6) AS containment
         |FROM inter JOIN sizes sa ON sa.doc_id = a
         |WHERE CAST(inter AS DOUBLE) / sa.sz >= 0.8
         |ORDER BY a, b""".stripMargin,
    "d27_containment_prefix" ->
      s"""WITH $ShingleCte,
         |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
         |inter AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS inter
         |          FROM sh x JOIN sh y
         |          ON x.shingle = y.shingle AND x.doc_id <> y.doc_id
         |          GROUP BY 1, 2)
         |SELECT a, b,
         |  round(CAST(inter AS DOUBLE) / sa.sz, 6) AS containment
         |FROM inter JOIN sizes sa ON sa.doc_id = a
         |WHERE CAST(inter AS DOUBLE) / sa.sz >= 0.8
         |ORDER BY a, b""".stripMargin,
    "d25_edit_join" ->
      s"""WITH ${anchorSliceCte("documents", "doc_id")},
        |s AS (SELECT doc_id, substr(text, 1, 32) AS s FROM adocuments)
        |SELECT x.doc_id AS a, y.doc_id AS b,
        |       CAST(levenshtein(x.s, y.s) AS BIGINT) AS dist
        |FROM s x JOIN s y ON x.doc_id < y.doc_id
        |WHERE levenshtein(x.s, y.s) <= 4
        |ORDER BY a, b""".stripMargin,
    "d4_simhash" ->
      s"""WITH $simhashSumsSql
         |SELECT doc, simhash FROM sh16 ORDER BY doc""".stripMargin,
    "d5_simhash_pairs" ->
      s"""WITH ${anchorSliceCte("documents", "doc_id")},
         |${simhashSumsSqlFrom("adocuments")}
         |SELECT x.doc AS a, y.doc AS b, CAST(bit_count(xor(x.simhash::BIGINT, y.simhash::BIGINT)) AS INTEGER) AS hamming
         |FROM sh16 x JOIN sh16 y ON x.doc < y.doc
         |WHERE bit_count(xor(x.simhash::BIGINT, y.simhash::BIGINT)) <= 3
         |ORDER BY a, b""".stripMargin,
    "d10_simhash64_pairs" ->
      s"""WITH $simhash64SumsSql
         |SELECT x.doc AS a, y.doc AS b, CAST(bit_count(xor(x.simhash, y.simhash)) AS INTEGER) AS hamming
         |FROM sh64 x JOIN sh64 y ON x.doc < y.doc
         |WHERE bit_count(xor(x.simhash, y.simhash)) <= 3
         |ORDER BY a, b""".stripMargin,
    "d11_winnow_pairs" ->
      """WITH toks AS (
        | SELECT doc_id AS doc, string_split_regex(text, '\s+') ts FROM documents),
        |g AS (
        | SELECT doc, i AS pos, greatest(len(ts) - 3, 0) + 1 AS ng,
        |  ('0x' || substr(md5(array_to_string(ts[i+1:i+3], ' ')), 1, 15))::BIGINT AS h
        | FROM (SELECT doc, ts, unnest(range(greatest(len(ts) - 3, 0) + 1)) AS i
        |       FROM toks)),
        |wm AS (
        | SELECT doc, pos, ng,
        |  min(h) OVER (PARTITION BY doc ORDER BY pos
        |    ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
        | FROM g),
        |fps AS (SELECT DISTINCT doc, fp FROM wm WHERE pos <= greatest(ng - 4, 0)),
        |rare AS (SELECT fp FROM fps GROUP BY fp HAVING count(*) <= 100),
        |ff AS (SELECT f.doc, f.fp FROM fps f JOIN rare r ON f.fp = r.fp)
        |SELECT x.doc AS a, y.doc AS b, count(*) AS n_shared
        |FROM ff x JOIN ff y ON x.fp = y.fp AND x.doc < y.doc
        |GROUP BY a, b HAVING count(*) >= 2
        |ORDER BY a, b""".stripMargin,
    "d15_dup_spans" ->
      """WITH toks AS (SELECT doc_id AS doc, string_split_regex(text, '\s+') AS ts FROM documents),
        |g AS (SELECT doc, len(ts) AS nt, i AS pos,
        |  ('0x' || substr(md5(array_to_string(ts[i+1:i+5], ' ')), 1, 15))::BIGINT AS h
        | FROM (SELECT doc, ts, unnest(range(greatest(len(ts) - 5, 0) + 1)) AS i FROM toks)),
        |dup AS (SELECT h FROM g GROUP BY h HAVING count(*) >= 2),
        |p AS (SELECT doc, nt, pos FROM g WHERE h IN (SELECT h FROM dup)),
        |brk AS (SELECT doc, nt, pos,
        |  CASE WHEN pos - lag(pos) OVER (PARTITION BY doc ORDER BY pos) > 5
        |      THEN 1 ELSE 0 END AS b
        | FROM p),
        |isl AS (SELECT doc, nt, pos,
        |  sum(b) OVER (PARTITION BY doc ORDER BY pos ROWS UNBOUNDED PRECEDING) AS island
        | FROM brk)
        |SELECT doc, CAST(min(pos) AS BIGINT) AS span_start,
        | CAST(least(max(pos) + 4, nt - 1) AS BIGINT) AS span_end,
        | count(*) AS n_grams
        |FROM isl GROUP BY doc, nt, island
        |ORDER BY doc, span_start""".stripMargin,
    "d18_remove_spans" ->
      """WITH toks AS (SELECT doc_id AS doc, string_split_regex(text, '\s+') AS ts FROM documents),
        |g AS (SELECT doc, len(ts) AS nt, i AS pos,
        |  ('0x' || substr(md5(array_to_string(ts[i+1:i+5], ' ')), 1, 15))::BIGINT AS h
        | FROM (SELECT doc, ts, unnest(range(greatest(len(ts) - 5, 0) + 1)) AS i FROM toks)),
        |dup AS (SELECT h FROM g GROUP BY h HAVING count(*) >= 2),
        |p AS (SELECT doc, nt, pos FROM g WHERE h IN (SELECT h FROM dup)),
        |brk AS (SELECT doc, nt, pos,
        |  CASE WHEN pos - lag(pos) OVER (PARTITION BY doc ORDER BY pos) > 5
        |      THEN 1 ELSE 0 END AS b
        | FROM p),
        |isl AS (SELECT doc, nt, pos,
        |  sum(b) OVER (PARTITION BY doc ORDER BY pos ROWS UNBOUNDED PRECEDING) AS island
        | FROM brk),
        |spans AS (SELECT doc, min(pos) AS s, least(max(pos) + 4, nt - 1) AS e
        | FROM isl GROUP BY doc, nt, island),
        |cov AS (SELECT DISTINCT doc, unnest(range(s, e + 1)) AS cp FROM spans),
        |tp AS (SELECT doc, unnest(range(len(ts))) AS p, ts FROM toks),
        |keep AS (SELECT tp.doc, tp.p, tp.ts[tp.p + 1] AS tok
        | FROM tp LEFT JOIN cov ON cov.doc = tp.doc AND cov.cp = tp.p
        | WHERE cov.cp IS NULL),
        |agg AS (SELECT doc, array_to_string(list(tok ORDER BY p), ' ') AS txt,
        |  count(*) AS n FROM keep GROUP BY doc)
        |SELECT t.doc_id, md5(coalesce(a.txt, '')) AS clean_md5,
        | CAST(coalesce(a.n, 0) AS BIGINT) AS n_kept_tokens
        |FROM documents t LEFT JOIN agg a ON a.doc = t.doc_id
        |ORDER BY t.doc_id""".stripMargin,
    "d19_remove_spans_keep_one" ->
      """WITH toks AS (SELECT doc_id AS doc, string_split_regex(text, '\s+') AS ts FROM documents),
        |g AS (SELECT doc, len(ts) AS nt, i AS pos,
        |  ('0x' || substr(md5(array_to_string(ts[i+1:i+5], ' ')), 1, 15))::BIGINT AS h
        | FROM (SELECT doc, ts, unnest(range(greatest(len(ts) - 5, 0) + 1)) AS i FROM toks)),
        |dup AS (SELECT h FROM g GROUP BY h HAVING count(*) >= 2),
        |p AS (SELECT doc, nt, pos, h FROM g WHERE h IN (SELECT h FROM dup)),
        |nc AS (SELECT doc, nt, pos FROM (
        |  SELECT doc, nt, pos,
        |    row_number() OVER (PARTITION BY h ORDER BY doc, pos) AS crn
        |  FROM p) WHERE crn > 1),
        |brk AS (SELECT doc, nt, pos,
        |  CASE WHEN pos - lag(pos) OVER (PARTITION BY doc ORDER BY pos) > 5
        |      THEN 1 ELSE 0 END AS b
        | FROM nc),
        |isl AS (SELECT doc, nt, pos,
        |  sum(b) OVER (PARTITION BY doc ORDER BY pos ROWS UNBOUNDED PRECEDING) AS island
        | FROM brk),
        |spans AS (SELECT doc, min(pos) AS s, least(max(pos) + 4, nt - 1) AS e
        | FROM isl GROUP BY doc, nt, island),
        |cov AS (SELECT DISTINCT doc, unnest(range(s, e + 1)) AS cp FROM spans),
        |tp AS (SELECT doc, unnest(range(len(ts))) AS p, ts FROM toks),
        |keep AS (SELECT tp.doc, tp.p, tp.ts[tp.p + 1] AS tok
        | FROM tp LEFT JOIN cov ON cov.doc = tp.doc AND cov.cp = tp.p
        | WHERE cov.cp IS NULL),
        |agg AS (SELECT doc, array_to_string(list(tok ORDER BY p), ' ') AS txt,
        |  count(*) AS n FROM keep GROUP BY doc)
        |SELECT t.doc_id, md5(coalesce(a.txt, '')) AS clean_md5,
        | CAST(coalesce(a.n, 0) AS BIGINT) AS n_kept_tokens
        |FROM documents t LEFT JOIN agg a ON a.doc = t.doc_id
        |ORDER BY t.doc_id""".stripMargin,
    "d13_decontam" ->
      """WITH toks AS (SELECT doc_id AS doc, string_split_regex(text, '\s+') AS ts FROM documents),
        |sh AS (SELECT DISTINCT doc, array_to_string(ts[i+1:i+3], ' ') AS s
        |  FROM (SELECT doc, ts, unnest(range(greatest(len(ts) - 3, 0) + 1)) AS i FROM toks)),
        |ev AS (SELECT DISTINCT s FROM sh WHERE doc % 23 = 0),
        |hits AS (SELECT doc, count(*) AS n FROM sh
        |  WHERE doc % 23 <> 0 AND s IN (SELECT s FROM ev) GROUP BY doc)
        |SELECT t.doc, CAST(coalesce(h.n, 0) AS BIGINT) AS n_shared
        |FROM (SELECT doc_id AS doc FROM documents WHERE doc_id % 23 <> 0) t
        |LEFT JOIN hits h ON h.doc = t.doc
        |ORDER BY t.doc""".stripMargin,
    "d32_semantic_decontam" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |t AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm
        |  FROM e WHERE vec_id % 23 <> 0),
        |ev AS (SELECT v, sqrt(list_dot_product(v, v)) AS nrm
        |  FROM e WHERE vec_id % 23 = 0)
        |SELECT t.vec_id FROM t WHERE NOT EXISTS (
        |  SELECT 1 FROM ev WHERE
        |    CASE WHEN t.nrm * ev.nrm = 0 THEN 0
        |         ELSE list_dot_product(t.v, ev.v) / (t.nrm * ev.nrm)
        |    END > 0.4)
        |ORDER BY t.vec_id""".stripMargin,
    // d33 is the store-served twin of d32 — identical output by
    // construction (exact bound-pruned probe + raw-cosine re-verify),
    // so its oracle IS d32's replay
    "d33_semantic_decontam_store" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |t AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm
        |  FROM e WHERE vec_id % 23 <> 0),
        |ev AS (SELECT v, sqrt(list_dot_product(v, v)) AS nrm
        |  FROM e WHERE vec_id % 23 = 0)
        |SELECT t.vec_id FROM t WHERE NOT EXISTS (
        |  SELECT 1 FROM ev WHERE
        |    CASE WHEN t.nrm * ev.nrm = 0 THEN 0
        |         ELSE list_dot_product(t.v, ev.v) / (t.nrm * ev.nrm)
        |    END > 0.4)
        |ORDER BY t.vec_id""".stripMargin,
    "d20_line_dedup" ->
      s"""WITH docs AS (${lineCorpusSql(500)}),
         |lls AS (SELECT doc_id AS doc, string_split(text, chr(10)) AS ls FROM docs),
         |l AS (SELECT doc, CAST(i AS INTEGER) AS pos, ls[CAST(i + 1 AS INTEGER)] AS ln
         |  FROM (SELECT doc, ls, unnest(range(len(ls))) AS i FROM lls)),
         |el AS (SELECT doc, pos, ln,
         |    row_number() OVER (PARTITION BY ln ORDER BY doc, pos) AS rn
         |  FROM l
         |  WHERE len(list_filter(string_split_regex(trim(ln), '\\s+'), w -> w <> '')) >= 4),
         |kept AS (
         |  SELECT doc, pos, ln FROM el WHERE rn = 1
         |  UNION ALL
         |  SELECT doc, pos, ln FROM l
         |  WHERE len(list_filter(string_split_regex(trim(ln), '\\s+'), w -> w <> '')) < 4),
         |tot AS (SELECT doc, CAST(count(*) AS INTEGER) AS n_lines FROM l GROUP BY doc)
         |SELECT t.doc, t.n_lines, CAST(count(k.ln) AS INTEGER) AS n_kept,
         |  md5(coalesce(string_agg(k.ln, chr(10) ORDER BY k.pos), ''))
         |    AS clean_md5
         |FROM tot t LEFT JOIN kept k ON t.doc = k.doc
         |GROUP BY t.doc, t.n_lines
         |ORDER BY t.doc""".stripMargin,
    "d17_eval_contamination" ->
      """WITH toks AS (SELECT doc_id AS doc, string_split_regex(text, '\s+') AS ts FROM documents),
        |sh AS (SELECT DISTINCT doc, array_to_string(ts[i+1:i+3], ' ') AS s
        |  FROM (SELECT doc, ts, unnest(range(greatest(len(ts)-2, 1))) AS i FROM toks)),
        |pairs AS (SELECT DISTINCT e.doc AS eval_doc, t.doc AS train_doc
        |  FROM sh e JOIN sh t ON e.s = t.s
        |  WHERE e.doc % 23 = 0 AND t.doc % 23 <> 0),
        |hits AS (SELECT eval_doc, count(*) AS n FROM pairs GROUP BY eval_doc)
        |SELECT ev.eval_doc, CAST(coalesce(h.n, 0) AS BIGINT) AS n_train_docs
        |FROM (SELECT doc_id AS eval_doc FROM documents WHERE doc_id % 23 = 0) ev
        |LEFT JOIN hits h ON h.eval_doc = ev.eval_doc
        |ORDER BY ev.eval_doc""".stripMargin,
    "d14_semdedup" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |c AS (SELECT vec_id AS list_id, v AS centroid FROM e ORDER BY vec_id LIMIT 16),
        |assigned AS (
        |  SELECT vec_id, list_id, v FROM (
        |    SELECT e.vec_id, c.list_id, e.v,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY list_distance(e.v, c.centroid), c.list_id) AS rn
        |    FROM e CROSS JOIN c) WHERE rn = 1),
        |n AS (SELECT vec_id, list_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM assigned),
        |dropped AS (
        |  SELECT DISTINCT y.vec_id FROM n x JOIN n y
        |    ON x.list_id = y.list_id AND x.vec_id < y.vec_id
        |  WHERE CASE WHEN x.nrm * y.nrm = 0 THEN 0
        |        ELSE list_dot_product(x.v, y.v) / (x.nrm * y.nrm) END > 0.4)
        |SELECT vec_id, list_id FROM assigned
        |WHERE vec_id NOT IN (SELECT vec_id FROM dropped)
        |ORDER BY vec_id""".stripMargin,
    "d16_semdedup_routed" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |c AS (SELECT vec_id AS list_id, v AS centroid,
        |    row_number() OVER (ORDER BY vec_id) - 1 AS idx
        |  FROM e ORDER BY vec_id LIMIT 16),
        |sup AS (SELECT idx // 4 AS sidx, centroid AS scent FROM c WHERE idx % 4 = 0),
        |crt AS (SELECT list_id, centroid, sidx FROM (
        |  SELECT list_id, centroid, sidx,
        |    row_number() OVER (PARTITION BY list_id
        |      ORDER BY list_sum(list_transform(range(1, 65),
        |        i -> (cc[i] - ss[i]) * (cc[i] - ss[i]))), sidx) AS rn
        |  FROM (SELECT c.list_id, c.centroid, s.sidx,
        |          c.centroid AS cc, s.scent AS ss
        |        FROM c CROSS JOIN sup s)) WHERE rn = 1),
        |rsup AS (SELECT vec_id, v, sidx FROM (
        |  SELECT vec_id, v, sidx,
        |    row_number() OVER (PARTITION BY vec_id
        |      ORDER BY list_sum(list_transform(range(1, 65),
        |        i -> (vv[i] - ss[i]) * (vv[i] - ss[i]))), sidx) AS rn
        |  FROM (SELECT e.vec_id, e.v, s.sidx, e.v AS vv, s.scent AS ss
        |        FROM e CROSS JOIN sup s)) WHERE rn = 1),
        |assigned AS (SELECT vec_id, list_id, v FROM (
        |  SELECT r.vec_id, m.list_id, r.v,
        |    row_number() OVER (PARTITION BY r.vec_id
        |      ORDER BY list_distance(r.v, m.centroid), m.list_id) AS rn
        |  FROM rsup r JOIN crt m ON m.sidx = r.sidx) WHERE rn = 1),
        |n AS (SELECT vec_id, list_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM assigned),
        |dropped AS (
        |  SELECT DISTINCT y.vec_id FROM n x JOIN n y
        |    ON x.list_id = y.list_id AND x.vec_id < y.vec_id
        |  WHERE CASE WHEN x.nrm * y.nrm = 0 THEN 0
        |        ELSE list_dot_product(x.v, y.v) / (x.nrm * y.nrm) END > 0.4)
        |SELECT vec_id, list_id FROM assigned
        |WHERE vec_id NOT IN (SELECT vec_id FROM dropped)
        |ORDER BY vec_id""".stripMargin,
    "p18_semantic_dedup" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |c AS (SELECT vec_id AS list_id, v AS centroid FROM e ORDER BY vec_id LIMIT 16),
         |assigned AS (
         |  SELECT vec_id, v, list_id FROM (
         |    SELECT e.vec_id, e.v, c.list_id,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY list_distance(e.v, c.centroid), c.list_id) AS rn
         |    FROM e CROSS JOIN c
         |  ) WHERE rn = 1),
         |dropped AS (
         |  SELECT DISTINCT y.vec_id FROM assigned x
         |  JOIN assigned y ON x.list_id = y.list_id AND x.vec_id < y.vec_id
         |  WHERE list_dot_product(x.v, y.v) /
         |    (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v))) > 0.4)
         |SELECT vec_id FROM embeddings
         |WHERE vec_id NOT IN (SELECT vec_id FROM dropped)
         |ORDER BY vec_id""".stripMargin,
    "d6_cosine_pairs" ->
      s"""WITH ${anchorSliceCte("embeddings", "vec_id")}
        |SELECT a, b, round(cos, 6) AS cos FROM (
        | SELECT x.vec_id AS a, y.vec_id AS b,
        |  list_dot_product(x.v, y.v) / (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v))) AS cos
        | FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM aembeddings) x
        | JOIN (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM aembeddings) y
        |   ON x.vec_id < y.vec_id
        |) WHERE cos > 0.4 ORDER BY a, b""".stripMargin,

    "d9_cosine_lsh" -> {
      val flips = (Seq("bucket") ++ Planes.indices.map(j =>
        s"xor(bucket, ${1 << j})")).mkString("[", ", ", "]")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |b AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm,
         |  ${bucketSql("v")} AS bucket FROM e),
         |px AS (SELECT vec_id, v, nrm, unnest($flips) AS bucket FROM b)
         |SELECT DISTINCT a, b, round(cos, 6) AS cos FROM (
         |  SELECT x.vec_id AS a, y.vec_id AS b,
         |   CASE WHEN x.nrm * y.nrm = 0 THEN 0
         |        ELSE list_dot_product(x.v, y.v) / (x.nrm * y.nrm) END AS cos
         |  FROM px x JOIN b y ON x.bucket = y.bucket AND x.vec_id < y.vec_id)
         |WHERE cos > 0.4 ORDER BY a, b""".stripMargin
    },
    "a1_lsh_knn" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |b AS (SELECT vec_id, ${bucketSql("v")} AS bucket, v FROM e),
         |qb AS (SELECT ${bucketSql(Q64Sql)} AS qbucket)
         |SELECT vec_id, bucket FROM (
         |  SELECT vec_id, bucket, list_distance(v, $Q64Sql) AS dist
         |  FROM b, qb WHERE bucket = qbucket
         |  ORDER BY dist, vec_id LIMIT 10
         |) ORDER BY vec_id""".stripMargin,
    "a2_ivf_knn" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |c AS (SELECT vec_id AS list_id, v AS centroid FROM e ORDER BY vec_id LIMIT 16),
         |assigned AS (
         |  SELECT vec_id, list_id FROM (
         |    SELECT e.vec_id, c.list_id,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY list_distance(e.v, c.centroid), c.list_id) AS rn
         |    FROM e CROSS JOIN c
         |  ) WHERE rn = 1),
         |probe AS (SELECT list_id FROM c
         |  ORDER BY list_distance(centroid, $Q64Sql), list_id LIMIT 4)
         |SELECT vec_id, list_id FROM (
         |  SELECT a.vec_id, a.list_id, list_distance(e.v, $Q64Sql) AS dist
         |  FROM assigned a JOIN e ON a.vec_id = e.vec_id
         |  JOIN probe p ON a.list_id = p.list_id
         |  ORDER BY dist, a.vec_id LIMIT 10
         |) ORDER BY vec_id""".stripMargin,
    "a3_lsh_buckets" ->
      s"""SELECT bucket, count(*) AS n FROM (
         |  SELECT ${bucketSql("CAST(embedding AS DOUBLE[])")} AS bucket FROM embeddings
         |) GROUP BY bucket ORDER BY bucket""".stripMargin,
    "a7_lsh_knn_join" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |b AS (SELECT vec_id, v, ${bucketSql("v")} AS bucket FROM e),
         |q AS (SELECT vec_id AS qid, v AS qv, bucket FROM b WHERE vec_id % 100 = 0)
         |SELECT qid, vec_id, bucket FROM (
         |  SELECT q.qid, b.vec_id, b.bucket,
         |    row_number() OVER (PARTITION BY q.qid
         |      ORDER BY list_distance(b.v, q.qv), b.vec_id) AS rn
         |  FROM b JOIN q USING (bucket)
         |) WHERE rn <= 5 ORDER BY qid, vec_id""".stripMargin,
    "a9_lsh_multiprobe_join" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |b AS (SELECT vec_id, v, ${bucketSql("v")} AS bucket FROM e),
         |q AS (SELECT vec_id AS qid, v AS qv, bucket AS qb FROM b WHERE vec_id % 100 = 0),
         |pr AS (SELECT qid, qv, xor(qb, m) AS bucket
         |  FROM q, (VALUES ${(0 +: (0 until 8).map(1 << _).toList).distinct.map(m => s"($m)").mkString(", ")}) t(m))
         |SELECT qid, vec_id, bucket FROM (
         |  SELECT p.qid, b.vec_id, b.bucket,
         |    row_number() OVER (PARTITION BY p.qid
         |      ORDER BY list_distance(b.v, p.qv), b.vec_id) AS rn
         |  FROM b JOIN pr p USING (bucket)
         |) WHERE rn <= 5 ORDER BY qid, vec_id""".stripMargin,
    "a6_ivf_knn_join" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |c AS (SELECT vec_id AS list_id, v AS centroid FROM e ORDER BY vec_id LIMIT 16),
         |assigned AS (
         |  SELECT vec_id, list_id FROM (
         |    SELECT e.vec_id, c.list_id,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY list_distance(e.v, c.centroid), c.list_id) AS rn
         |    FROM e CROSS JOIN c
         |  ) WHERE rn = 1),
         |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id % 100 = 0),
         |probe AS (
         |  SELECT qid, list_id FROM (
         |    SELECT q.qid, c.list_id,
         |      row_number() OVER (PARTITION BY q.qid
         |        ORDER BY list_distance(q.qv, c.centroid), c.list_id) AS rn
         |    FROM q CROSS JOIN c
         |  ) WHERE rn <= 2),
         |cand AS (
         |  SELECT q.qid, a.vec_id, list_distance(e.v, q.qv) AS dist
         |  FROM assigned a
         |  JOIN e ON a.vec_id = e.vec_id
         |  JOIN probe p ON a.list_id = p.list_id
         |  JOIN q ON q.qid = p.qid)
         |SELECT qid, vec_id FROM (
         |  SELECT qid, vec_id,
         |    row_number() OVER (PARTITION BY qid ORDER BY dist, vec_id) AS rn
         |  FROM cand
         |) WHERE rn <= 5 ORDER BY qid, vec_id""".stripMargin,
    "a25_knn_graph" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |c AS (SELECT vec_id AS list_id, v AS centroid FROM e ORDER BY vec_id LIMIT 64),
         |assigned AS (
         |  SELECT vec_id, list_id FROM (
         |    SELECT e.vec_id, c.list_id,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY list_distance(e.v, c.centroid), c.list_id) AS rn
         |    FROM e CROSS JOIN c
         |  ) WHERE rn = 1),
         |probe AS (
         |  SELECT src, list_id FROM (
         |    SELECT e.vec_id AS src, c.list_id,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY list_distance(e.v, c.centroid), c.list_id) AS rn
         |    FROM e CROSS JOIN c
         |  ) WHERE rn <= 2),
         |cand AS (
         |  SELECT p.src, a.vec_id AS dst, list_distance(d.v, q.v) AS dist
         |  FROM probe p
         |  JOIN assigned a ON a.list_id = p.list_id
         |  JOIN e d ON d.vec_id = a.vec_id
         |  JOIN e q ON q.vec_id = p.src
         |  WHERE p.src <> a.vec_id)
         |SELECT src, dst FROM (
         |  SELECT src, dst,
         |    row_number() OVER (PARTITION BY src ORDER BY dist, dst) AS rn
         |  FROM cand
         |) WHERE rn <= 4 ORDER BY src, dst""".stripMargin,
    "a4_pq_codes" -> pqCodesSql,
    "a5_ivfpq" -> ivfPqCodesSql,
    "a8_ivfadc_knn_join" -> ivfAdcJoinSql,
    "a26_opq_store_knn" -> opqStoreKnnSql,
    "a28_opq_single_knn" -> opqSingleKnnSql,
    "a27_graph_serve" -> graphServeSql,
    "a10_store_maintain" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |c AS (SELECT vec_id AS list_id, v AS centroid FROM e
         |  WHERE vec_id % 5 <> 0 ORDER BY vec_id LIMIT 16),
         |survivors AS (SELECT vec_id, v FROM e WHERE vec_id % 7 <> 0),
         |assigned AS (
         |  SELECT vec_id, list_id FROM (
         |    SELECT s.vec_id, c.list_id,
         |      row_number() OVER (PARTITION BY s.vec_id
         |        ORDER BY list_distance(s.v, c.centroid), c.list_id) AS rn
         |    FROM survivors s CROSS JOIN c
         |  ) WHERE rn = 1),
         |probe AS (SELECT list_id FROM c
         |  ORDER BY list_distance(centroid, $Q64Sql), list_id LIMIT 4)
         |SELECT vec_id, list_id FROM (
         |  SELECT a.vec_id, a.list_id, list_distance(e.v, $Q64Sql) AS dist
         |  FROM assigned a JOIN e ON a.vec_id = e.vec_id
         |  JOIN probe p ON a.list_id = p.list_id
         |  ORDER BY dist, a.vec_id LIMIT 10
         |) ORDER BY vec_id""".stripMargin,

    "a11_sq8_knn" ->
      s"""WITH ext AS (
         | SELECT i, min(CAST(embedding[i] AS DOUBLE)) AS mn,
         |  max(CAST(embedding[i] AS DOUBLE)) - min(CAST(embedding[i] AS DOUBLE)) AS ex
         | FROM embeddings, generate_series(1, 64) t(i) GROUP BY i),
         |s AS (SELECT list(mn ORDER BY i) AS mnl, list(ex ORDER BY i) AS exl FROM ext),
         |dec AS (SELECT vec_id,
         |  ${(1 to 64).map(sqDecodeSql).mkString("[", ",\n         |   ", "]")} AS dv
         | FROM embeddings, s)
         |SELECT vec_id, sqd FROM (
         |  SELECT vec_id, round(list_distance(dv, $Q64Sql), 6) AS sqd,
         |    list_distance(dv, $Q64Sql) AS d0
         |  FROM dec ORDER BY d0, vec_id LIMIT 10
         |) ORDER BY vec_id""".stripMargin,

    "a12_ivfsq_knn" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |c AS (SELECT vec_id AS list_id, v AS centroid FROM e ORDER BY vec_id LIMIT 16),
         |assigned AS (
         |  SELECT vec_id, list_id FROM (
         |    SELECT e.vec_id, c.list_id,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY list_distance(e.v, c.centroid), c.list_id) AS rn
         |    FROM e CROSS JOIN c
         |  ) WHERE rn = 1),
         |probe AS (SELECT list_id FROM c
         |  ORDER BY list_distance(centroid, $Q64Sql), list_id LIMIT 4),
         |ext AS (
         | SELECT i, min(CAST(embedding[i] AS DOUBLE)) AS mn,
         |  max(CAST(embedding[i] AS DOUBLE)) - min(CAST(embedding[i] AS DOUBLE)) AS ex
         | FROM embeddings, generate_series(1, 64) t(i) GROUP BY i),
         |s AS (SELECT list(mn ORDER BY i) AS mnl, list(ex ORDER BY i) AS exl FROM ext),
         |dec AS (SELECT vec_id,
         |  ${(1 to 64).map(sqDecodeSql).mkString("[", ",\n         |   ", "]")} AS dv
         | FROM embeddings, s),
         |topn AS (
         |  SELECT a.vec_id FROM assigned a
         |  JOIN probe p ON a.list_id = p.list_id
         |  JOIN dec ON dec.vec_id = a.vec_id
         |  ORDER BY list_distance(dec.dv, $Q64Sql), a.vec_id LIMIT 20),
         |rer AS (
         |  SELECT t.vec_id, list_distance(e.v, $Q64Sql) AS dist
         |  FROM topn t JOIN e ON e.vec_id = t.vec_id
         |  ORDER BY dist, t.vec_id LIMIT 10)
         |SELECT vec_id, round(dist, 6) AS d FROM rer ORDER BY vec_id""".stripMargin,

    "a13_ivfsq_knn_join" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |c AS (SELECT vec_id AS list_id, v AS centroid FROM e ORDER BY vec_id LIMIT 16),
         |assigned AS (
         |  SELECT vec_id, list_id FROM (
         |    SELECT e.vec_id, c.list_id,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY list_distance(e.v, c.centroid), c.list_id) AS rn
         |    FROM e CROSS JOIN c
         |  ) WHERE rn = 1),
         |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id % 100 = 0),
         |probe AS (
         |  SELECT qid, list_id FROM (
         |    SELECT q.qid, c.list_id,
         |      row_number() OVER (PARTITION BY q.qid
         |        ORDER BY list_distance(q.qv, c.centroid), c.list_id) AS rn
         |    FROM q CROSS JOIN c
         |  ) WHERE rn <= 2),
         |ext AS (
         | SELECT i, min(CAST(embedding[i] AS DOUBLE)) AS mn,
         |  max(CAST(embedding[i] AS DOUBLE)) - min(CAST(embedding[i] AS DOUBLE)) AS ex
         | FROM embeddings, generate_series(1, 64) t(i) GROUP BY i),
         |s AS (SELECT list(mn ORDER BY i) AS mnl, list(ex ORDER BY i) AS exl FROM ext),
         |dec AS (SELECT vec_id,
         |  ${(1 to 64).map(sqDecodeSql).mkString("[", ",\n         |   ", "]")} AS dv
         | FROM embeddings, s),
         |topn AS (
         |  SELECT qid, vec_id FROM (
         |    SELECT p.qid, a.vec_id,
         |      row_number() OVER (PARTITION BY p.qid
         |        ORDER BY list_distance(dec.dv, q.qv), a.vec_id) AS rn
         |    FROM assigned a
         |    JOIN probe p ON a.list_id = p.list_id
         |    JOIN dec ON dec.vec_id = a.vec_id
         |    JOIN q ON q.qid = p.qid
         |  ) WHERE rn <= 20)
         |SELECT qid, vec_id FROM (
         |  SELECT t.qid, t.vec_id,
         |    row_number() OVER (PARTITION BY t.qid
         |      ORDER BY list_distance(e.v, q.qv), t.vec_id) AS rn
         |  FROM topn t JOIN e ON e.vec_id = t.vec_id JOIN q ON q.qid = t.qid
         |) WHERE rn <= 5 ORDER BY qid, vec_id""".stripMargin,

    "a14_binary_knn" ->
      s"""WITH m AS (
         | SELECT i, (min(CAST(embedding[i] AS DOUBLE)) + max(CAST(embedding[i] AS DOUBLE))) / 2 AS thr
         | FROM embeddings, generate_series(1, 64) t(i) GROUP BY i),
         |s AS (SELECT list(thr ORDER BY i) AS tl FROM m),
         |h AS (
         | SELECT vec_id,
         |  CAST(sum(CASE WHEN (CAST(embedding[i] AS DOUBLE) > tl[i])
         |                  <> (($Q64Sql)[i] > tl[i]) THEN 1 ELSE 0 END) AS INTEGER) AS ham
         | FROM embeddings, s, generate_series(1, 64) t(i) GROUP BY vec_id),
         |pool AS (SELECT vec_id, ham FROM h ORDER BY ham, vec_id LIMIT 50),
         |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
         |SELECT vec_id, ham, dd FROM (
         |  SELECT p.vec_id, p.ham, round(list_distance(e.v, $Q64Sql), 6) AS dd,
         |    list_distance(e.v, $Q64Sql) AS d0
         |  FROM pool p JOIN e ON e.vec_id = p.vec_id
         |  ORDER BY d0, p.vec_id LIMIT 10
         |) ORDER BY vec_id""".stripMargin,

    "a15_ivf_filtered_knn" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |c AS (SELECT vec_id AS list_id, v AS centroid FROM e ORDER BY vec_id LIMIT 16),
         |assigned AS (
         |  SELECT vec_id, list_id FROM (
         |    SELECT e.vec_id, c.list_id,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY list_distance(e.v, c.centroid), c.list_id) AS rn
         |    FROM e CROSS JOIN c
         |  ) WHERE rn = 1),
         |probe AS (SELECT list_id FROM c
         |  ORDER BY list_distance(centroid, $Q64Sql), list_id LIMIT 4)
         |SELECT vec_id, round(dist, 6) AS d FROM (
         |  SELECT a.vec_id, list_distance(e.v, $Q64Sql) AS dist
         |  FROM assigned a JOIN e ON a.vec_id = e.vec_id
         |  JOIN probe p ON a.list_id = p.list_id
         |  WHERE a.vec_id % 3 = 0
         |  ORDER BY dist, a.vec_id LIMIT 10
         |) ORDER BY vec_id""".stripMargin,

    // the persisted store probe is semantically identical to the inline
    // a14 scan — one oracle body serves both (what a16 adds is the
    // store round trip, which the oracle can't see)
    "a16_binary_store_knn" ->
      s"""WITH m AS (
         | SELECT i, (min(CAST(embedding[i] AS DOUBLE)) + max(CAST(embedding[i] AS DOUBLE))) / 2 AS thr
         | FROM embeddings, generate_series(1, 64) t(i) GROUP BY i),
         |s AS (SELECT list(thr ORDER BY i) AS tl FROM m),
         |h AS (
         | SELECT vec_id,
         |  CAST(sum(CASE WHEN (CAST(embedding[i] AS DOUBLE) > tl[i])
         |                  <> (($Q64Sql)[i] > tl[i]) THEN 1 ELSE 0 END) AS INTEGER) AS ham
         | FROM embeddings, s, generate_series(1, 64) t(i) GROUP BY vec_id),
         |pool AS (SELECT vec_id, ham FROM h ORDER BY ham, vec_id LIMIT 50),
         |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
         |SELECT vec_id, ham, dd FROM (
         |  SELECT p.vec_id, p.ham, round(list_distance(e.v, $Q64Sql), 6) AS dd,
         |    list_distance(e.v, $Q64Sql) AS d0
         |  FROM pool p JOIN e ON e.vec_id = p.vec_id
         |  ORDER BY d0, p.vec_id LIMIT 10
         |) ORDER BY vec_id""".stripMargin,

    "a17_binary_knn_join" ->
      s"""WITH m AS (
         | SELECT i, (min(CAST(embedding[i] AS DOUBLE)) + max(CAST(embedding[i] AS DOUBLE))) / 2 AS thr
         | FROM embeddings, generate_series(1, 64) t(i) GROUP BY i),
         |s AS (SELECT list(thr ORDER BY i) AS tl FROM m),
         |q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
         |  FROM embeddings WHERE vec_id % 100 = 0),
         |h AS (
         | SELECT q.qid, e2.vec_id,
         |  CAST(sum(CASE WHEN (CAST(e2.embedding[i] AS DOUBLE) > tl[i])
         |                  <> (q.qv[i] > tl[i]) THEN 1 ELSE 0 END) AS INTEGER) AS ham
         | FROM embeddings e2, q, s, generate_series(1, 64) t(i)
         | GROUP BY q.qid, e2.vec_id),
         |pool AS (SELECT qid, vec_id FROM (
         |  SELECT qid, vec_id,
         |    row_number() OVER (PARTITION BY qid ORDER BY ham, vec_id) AS rn
         |  FROM h) WHERE rn <= 20),
         |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
         |SELECT qid, vec_id FROM (
         |  SELECT p.qid, p.vec_id,
         |    row_number() OVER (PARTITION BY p.qid
         |      ORDER BY list_distance(e.v, q.qv), p.vec_id) AS rn
         |  FROM pool p JOIN e ON e.vec_id = p.vec_id JOIN q ON q.qid = p.qid
         |) WHERE rn <= 5 ORDER BY qid, vec_id""".stripMargin,

    "i1_json_shred" ->
      """SELECT vec_id, CAST(i AS INTEGER) AS idx, embedding[i + 1] AS value
        |FROM embeddings, generate_series(0, 63) t(i)
        |ORDER BY vec_id, idx""".stripMargin,
    "i2_grid" ->
      """SELECT i * 32 + j AS id,
        | CAST((i - 15.5) / 16.0 AS FLOAT) AS x,
        | CAST((j - 15.5) / 16.0 AS FLOAT) AS y
        |FROM generate_series(0, 31) a(i), generate_series(0, 31) b(j)
        |ORDER BY id""".stripMargin,
    "i3_random_uniform" ->
      """SELECT id, CAST(i AS INTEGER) AS idx,
        | CAST((CAST(CAST(('0x' || substr(md5(CAST(id AS VARCHAR) || '_' || CAST(i AS VARCHAR) || '_42'), 1, 15)) AS BIGINT) AS DOUBLE)
        |   / 1152921504606846976.0) * 2 - 1 AS FLOAT) AS value
        |FROM range(1000) t(id), range(8) s(i)
        |ORDER BY id, idx""".stripMargin,
    "i5_warc_roundtrip" ->
      """SELECT 'https://example.com/doc' || i AS target_uri,
        | 'response' AS warc_type,
        | octet_length(encode(repeat('warc body text ' || i || ' ',
        |   CAST(1 + i % 5 AS INT)))) AS content_length,
        | md5(repeat('warc body text ' || i || ' ',
        |   CAST(1 + i % 5 AS INT))) AS body_md5
        |FROM range(500) t(i) ORDER BY target_uri""".stripMargin,
    "i4_fvecs_roundtrip" ->
      """SELECT id, CAST(i AS INTEGER) AS idx,
        | CAST((CAST(CAST(('0x' || substr(md5(CAST(id AS VARCHAR) || '_' || CAST(i AS VARCHAR) || '_42'), 1, 15)) AS BIGINT) AS DOUBLE)
        |   / 1152921504606846976.0) * 2 - 1 AS FLOAT) AS value
        |FROM range(200) t(id), range(8) s(i)
        |ORDER BY id, idx""".stripMargin,
    "i6_hdf5_roundtrip" ->
      """SELECT enc, id, CAST(i AS INTEGER) AS idx,
        | CAST((CAST(CAST(('0x' || substr(md5(CAST(id AS VARCHAR) || '_' || CAST(i AS VARCHAR) || '_42'), 1, 15)) AS BIGINT) AS DOUBLE)
        |   / 1152921504606846976.0) * 2 - 1 AS FLOAT) AS value
        |FROM range(240) t(id), range(12) s(i), (VALUES ('f32'), ('f64')) e(enc)
        |ORDER BY enc, id, idx""".stripMargin,
    "v10_index_depth_profile" ->
      """SELECT count(*) AS total_leaf_rows, CAST(1 AS BIGINT) AS root_nodes,
        | CAST(0 AS BIGINT) AS overfull_depths, CAST(0 AS BIGINT) AS overdeep_depths
        |FROM embeddings""".stripMargin,

    "s1_sessions" ->
      """WITH m AS (
        | SELECT user_id, ts, event_id, value,
        |  CASE WHEN lag(ts) OVER w IS NULL
        |        OR CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) > 1800
        |       THEN 1 ELSE 0 END AS new_session
        | FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        | SELECT user_id, ts, value,
        |  CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
        | FROM m)
        |SELECT user_id, session_idx, count(*) AS n_events,
        | min(ts) AS session_start, max(ts) AS session_end,
        | CAST(sum(CAST(value AS DECIMAL(14,4))) AS DOUBLE) AS session_value
        |FROM s GROUP BY user_id, session_idx
        |ORDER BY user_id, session_idx""".stripMargin,
    // the stream ≡ batch contract, hash-gated: the union of per-batch
    // admissions equals the one-shot batch admission (d30's oracle)
    "s2_stream_admission" ->
      s"""WITH $ShingleCte,
         |sa AS (SELECT * FROM sh WHERE doc_id % 7 = 0),
         |sb AS (SELECT * FROM sh WHERE doc_id % 7 <> 0),
         |sizesa AS (SELECT doc_id, count(*) AS sz FROM sa GROUP BY doc_id),
         |sizesb AS (SELECT doc_id, count(*) AS sz FROM sb GROUP BY doc_id),
         |inter AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS inter
         |          FROM sa x JOIN sb y ON x.shingle = y.shingle
         |          GROUP BY 1, 2),
         |dup AS (SELECT DISTINCT a FROM inter
         |  JOIN sizesa pa ON pa.doc_id = a
         |  JOIN sizesb pb ON pb.doc_id = b
         |  WHERE CAST(inter AS DOUBLE) / (pa.sz + pb.sz - inter) >= 0.3)
         |SELECT doc_id FROM documents
         |WHERE doc_id % 7 = 0 AND doc_id NOT IN (SELECT a FROM dup)
         |ORDER BY doc_id""".stripMargin,
    // the streamed store's registers equal the one-shot store's (q49's
    // replay): micro-batch slicing is invisible under register max
    "s3_stream_sketch_ingest" ->
      """WITH e AS (SELECT CAST(ts AS DATE) AS day, user_id FROM events),
        |days AS (SELECT DISTINCT day AS d0 FROM e),
        |vals AS (SELECT DISTINCT day, user_id AS v FROM e),
        |h AS (SELECT day,
        |    ('0x' || substr(md5(CAST(v AS VARCHAR)), 1, 15))::BIGINT AS h
        |  FROM vals),
        |r AS (SELECT day, h % 256 AS bucket,
        |    CASE WHEN h // 256 = 0 THEN 53
        |         ELSE 53 - length(bin(h // 256)) END AS rho
        |  FROM h),
        |regs AS (SELECT d0, bucket, max(rho) AS r
        |  FROM days JOIN r ON r.day BETWEEN d0 - 6 AND d0
        |  GROUP BY d0, bucket),
        |agg AS (SELECT d0,
        |    256 - count(*) AS v_zero,
        |    CAST(sum(1::BIGINT << (53 - r))
        |      + (256 - count(*)) * 9007199254740992 AS BIGINT) AS z_fix
        |  FROM regs GROUP BY d0),
        |est AS (SELECT d0, v_zero, z_fix,
        |    0.7213 / (1.0 + 1.079 / 256.0) * 65536.0
        |      * 9007199254740992.0 / z_fix AS raw_est
        |  FROM agg)
        |SELECT d0 AS day, v_zero, z_fix,
        |  round(raw_est, 4) AS raw_est,
        |  round(CASE WHEN v_zero > 0 AND raw_est <= 640.0
        |        THEN 256.0 * ln(256.0 / v_zero) ELSE raw_est END, 4)
        |    AS estimate
        |FROM est ORDER BY day""".stripMargin,

    "v7_normalize" ->
      s"""WITH ext AS (
         |  SELECT i, (min(e) + max(e)) / 2 AS off, max(e) - min(e) AS extent
         |  FROM (SELECT i, CAST(embedding[i] AS DOUBLE) AS e
         |        FROM embeddings, generate_series(1, 64) t(i))
         |  GROUP BY i),
         |sc AS (SELECT CASE WHEN max(extent) / 2 = 0 THEN 1.0
         |              ELSE max(extent) / 2 END AS scale FROM ext)
         |SELECT vec_id,
         | round((CAST(embedding[1] AS DOUBLE) - (SELECT off FROM ext WHERE i = 1))
         |   / (SELECT scale FROM sc), 6) AS n0,
         | round((CAST(embedding[64] AS DOUBLE) - (SELECT off FROM ext WHERE i = 64))
         |   / (SELECT scale FROM sc), 6) AS n63
         |FROM embeddings ORDER BY vec_id""".stripMargin,
    "v8_box_search" ->
      s"""SELECT vec_id FROM embeddings e WHERE (
         |  SELECT bool_and(CAST(e.embedding[i] AS DOUBLE) >= ($Q64Sql)[i] - $BoxDomain
         |              AND CAST(e.embedding[i] AS DOUBLE) <= ($Q64Sql)[i] + $BoxDomain)
         |  FROM generate_series(1, 64) t(i))
         |ORDER BY vec_id""".stripMargin,
    "v9_multidoc_search" ->
      s"""SELECT vec_id, CAST(label AS BIGINT) AS doc FROM embeddings
         |WHERE $DistSql <= $Radius AND label = 1 ORDER BY vec_id""".stripMargin,

    "v11_index_range_join" ->
      """SELECT q.vec_id AS qid, e.vec_id AS vec_id
        |FROM embeddings e
        |CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 5) q
        |WHERE list_distance(CAST(e.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])) <= 1.2
        |ORDER BY qid, vec_id""".stripMargin,
    "v13_trie_join" ->
      """SELECT q.vec_id AS qid, e.vec_id AS vec_id
        |FROM embeddings e
        |CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 5) q
        |WHERE list_distance(CAST(e.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])) <= 1.2
        |ORDER BY qid, vec_id""".stripMargin,

    "m1_index_remove_search" ->
      s"""SELECT vec_id FROM embeddings
         |WHERE $DistSql <= $Radius AND vec_id % 7 <> 0 ORDER BY vec_id""".stripMargin,
    "m2_index_add_search" ->
      s"""SELECT vec_id FROM embeddings
         |WHERE $DistSql <= $Radius ORDER BY vec_id""".stripMargin,
    "m8_image_dedup" ->
      """WITH img AS (SELECT id, (7*id)%256 AS r, (13*id)%256 AS g, (29*id)%256 AS b
        |  FROM range(500) t(id))
        |SELECT min(id) AS canonical, count(*) AS n FROM img
        |GROUP BY r, g, b HAVING count(*) > 1 ORDER BY canonical""".stripMargin,
    "m4_image_decode" ->
      """SELECT i AS media_id,
        | 16 + i % 32 AS width,
        | 16 + (3 * i) % 32 AS height,
        | (7 * i) % 256 AS r,
        | (13 * i) % 256 AS g,
        | (29 * i) % 256 AS b,
        | round(CAST(CAST(16 + i % 32 AS FLOAT) / CAST(16 + (3 * i) % 32 AS FLOAT) AS DOUBLE), 6) AS aspect
        |FROM range(500) t(i) ORDER BY media_id""".stripMargin,
    "m6_image_resize" ->
      """SELECT i AS media_id,
        | CAST(8 AS BIGINT) AS width,
        | CAST(8 AS BIGINT) AS height,
        | (7 * i) % 256 AS r,
        | (13 * i) % 256 AS g,
        | (29 * i) % 256 AS b,
        | round(CAST(CAST(8 AS FLOAT) / CAST(8 AS FLOAT) AS DOUBLE), 6) AS aspect
        |FROM range(500) t(i) ORDER BY media_id""".stripMargin,
    "m5_audio_decode" ->
      """WITH s AS (
        | SELECT id, ((31 * id + 17 * k) % 2001) - 1000 AS v
        | FROM (SELECT id, unnest(range(64 + id % 128)) AS k
        |       FROM range(500) t(id)))
        |SELECT id AS media_id,
        | 8000 + (id % 8) * 1000 AS sample_rate,
        | CAST(1 AS BIGINT) AS channels,
        | CAST(16 AS BIGINT) AS bits,
        | count(*) AS n_samples,
        | CAST(CAST(sum(v) AS DOUBLE) / count(*) AS FLOAT) AS mean_amp,
        | CAST(sqrt(CAST(sum(v * v) AS DOUBLE) / count(*)) AS FLOAT) AS rms_amp,
        | max(v) AS max_amp,
        | min(v) AS min_amp
        |FROM s GROUP BY id ORDER BY media_id""".stripMargin,
    "m7_audio_resample" ->
      """WITH s AS (
        | SELECT id, ((31 * id + 17 * k) % 2001) - 1000 AS v
        | FROM (SELECT id, unnest(range(0, 64 + id % 128, 4)) AS k
        |       FROM range(500) t(id)))
        |SELECT id AS media_id,
        | (8000 + (id % 8) * 1000) // 4 AS sample_rate,
        | CAST(1 AS BIGINT) AS channels,
        | CAST(16 AS BIGINT) AS bits,
        | count(*) AS n_samples,
        | CAST(CAST(sum(v) AS DOUBLE) / count(*) AS FLOAT) AS mean_amp,
        | CAST(sqrt(CAST(sum(v * v) AS DOUBLE) / count(*)) AS FLOAT) AS rms_amp,
        | max(v) AS max_amp,
        | min(v) AS min_amp
        |FROM s GROUP BY id ORDER BY media_id""".stripMargin,
    "m3_media_features" ->
      """SELECT doc_id AS media_id,
        | CASE WHEN doc_id % 3 = 0 THEN 'image'
        |      WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
        | octet_length(encode(text)) AS n_bytes,
        | sha256(text) AS sha,
        | CAST(64 + (strpos('0123456789abcdef', substring(sha256(text), 1, 1)) - 1) * 16
        |    + (strpos('0123456789abcdef', substring(sha256(text), 2, 1)) - 1) AS INTEGER) AS width,
        | CAST(64 + (strpos('0123456789abcdef', substring(sha256(text), 3, 1)) - 1) * 16
        |    + (strpos('0123456789abcdef', substring(sha256(text), 4, 1)) - 1) AS INTEGER) AS height,
        | CAST(CASE WHEN doc_id % 3 = 2
        |      THEN 1 + (strpos('0123456789abcdef', substring(sha256(text), 5, 1)) - 1)
        |      ELSE 1 END AS INTEGER) AS n_frames
        |FROM documents ORDER BY media_id""".stripMargin,
    "m9_video_decode" ->
      """WITH v AS (
        | SELECT id, f,
        |  (11 * id + 37 * f) % 256 AS y,
        |  (5 * id + 13 * f) % 256 AS u,
        |  (3 * id + 29 * f) % 256 AS vv
        | FROM (SELECT id, unnest(range(2 + id % 7)) AS f
        |       FROM range(500) t(id)))
        |SELECT id AS media_id,
        | 8 + id % 16 AS width,
        | 8 + (3 * id) % 16 AS height,
        | 10 + id % 5 AS fps_num,
        | count(*) AS n_frames,
        | CAST(CAST(sum(y) AS DOUBLE) / count(*) AS FLOAT) AS mean_y,
        | CAST(CAST(sum(u) AS DOUBLE) / count(*) AS FLOAT) AS mean_u,
        | CAST(CAST(sum(vv) AS DOUBLE) / count(*) AS FLOAT) AS mean_v,
        | CAST((11 * id) % 256 AS FLOAT) AS first_y,
        | CAST((11 * id + 37 * (count(*) - 1)) % 256 AS FLOAT) AS last_y
        |FROM v GROUP BY id ORDER BY media_id""".stripMargin,
    "m10_frame_sample" ->
      """SELECT id AS media_id, f AS frame_idx,
        | CAST((11 * id + 37 * f) % 256 AS FLOAT) AS mean_y
        |FROM (SELECT id, unnest(range(0, 2 + id % 7, 2)) AS f
        |      FROM range(500) t(id))
        |ORDER BY media_id, frame_idx""".stripMargin,

    "m11_audio_frames" ->
      """WITH s AS (
        | SELECT id, k, ((31 * id + 17 * k) % 2001) - 1000 AS v, k // 32 AS f
        | FROM (SELECT id, unnest(range(64 + id % 128)) AS k
        |       FROM range(500) t(id))),
        |x AS (
        | SELECT id, f, v,
        |  CASE WHEN lag(v) OVER (PARTITION BY id, f ORDER BY k) * v < 0
        |       THEN 1 ELSE 0 END AS zc
        | FROM s)
        |SELECT id AS media_id, f AS frame_idx, count(*) AS n,
        | CAST(CAST(sum(v) AS DOUBLE) / count(*) AS FLOAT) AS mean_amp,
        | CAST(sqrt(CAST(sum(v * v) AS DOUBLE) / count(*)) AS FLOAT) AS rms_amp,
        | CAST(sum(zc) AS BIGINT) AS n_zero_cross
        |FROM x GROUP BY id, f ORDER BY media_id, frame_idx""".stripMargin,
  )
}
