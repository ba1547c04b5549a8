package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Graph analytics over the near-duplicate pair graph (the edge
  * relations the dedup family already produces — LSH-verified Jaccard
  * pairs, containment pairs, cosine pairs). [[Dedup.clusterIds]] gives
  * connected components; this adds local-structure operators.
  */
object Graphs {

  /** Node-count ceiling for HINTING the (node, pr) frame into the
    * fixpoint joins as a broadcast (pageRank / pageRankPersonalized).
    * Each round's contribution join keys the CACHED graph on src and
    * the per-dst sum needs the cache's hash(dst) partitioning intact —
    * the pr frame must broadcast or the graph re-shuffles per round.
    * The planner cannot see that a checkpointed pr is tiny (an RDD
    * scan reports the default size estimate, so the initial plan is a
    * sort-merge join and even AQE's runtime demotion first pays the
    * graph-side shuffle map write). We KNOW the node count exactly, so
    * the hint is size-gated here instead: 8M nodes ≈ a few hundred MB
    * built — inside broadcast budget; above it the hint is withheld
    * and the join degrades honestly to the shuffled form. */
  private val broadcastMaxNodes = 8L << 20

  /** TRIANGLE ENUMERATION — all (a < b < c) with the three edges
    * (a,b), (b,c), (a,c) present. Triangles measure cluster COHESION:
    * a dedup component that is a chain of borderline pairs (zero
    * triangles) is a different animal from a clique of mutual
    * near-copies, and transitive keep-first deletion is only safe in
    * the latter (the d12 clusters tell you the component, this tells
    * you how solid it is).
    *
    * `edges` must be canonical (a < b, unique). The plan is the
    * standard two-join enumeration: wedges (a,b)+(b,c) keyed on the
    * middle vertex, closed by an (a,c) hash join — each a keyed equi
    * join, no cross product. At corpus scale the classic refinement is
    * to orient edges by (degree, id) instead of raw id so the wedge
    * key is never a global hub; the dedup graphs this serves are
    * already df-capped upstream ([[Dedup]]'s maxShingleDf / giant-
    * bucket caps bound any vertex's degree), so id orientation is
    * sufficient here. */
  def triangles(edges: DataFrame, aCol: String = "a", bCol: String = "b"): DataFrame = {
    val e = edges.select(col(aCol).as("a"), col(bCol).as("b"))
    val wedges = e.join(
      e.select(col("a").as("b"), col("b").as("c")), "b")
    wedges.join(e.select(col("a"), col("b").as("c")), Seq("a", "c"))
      .select(col("a"), col("b"), col("c"))
  }

  /** Per-vertex degree of a canonical (a < b) edge relation. */
  def degrees(edges: DataFrame, aCol: String = "a", bCol: String = "b"): DataFrame =
    edges.select(col(aCol).as("node"))
      .unionAll(edges.select(col(bCol).as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("degree"))

  /** LABEL PROPAGATION communities (Raghavan et al. 2007), made fully
    * deterministic: labels start as the node id; each SYNCHRONOUS round
    * every node adopts the most frequent label among its neighbors,
    * ties broken by the SMALLEST label (classic LPA breaks ties
    * randomly — that can't be hash-gated; min-tiebreak can, and the
    * min_by struct ordering (−count, label) encodes it in one keyed
    * aggregation). A fixed round count rather than a convergence test:
    * synchronous LPA can 2-cycle on bipartite structure, so "run N
    * rounds" is the only deterministic, replayable contract.
    *
    * Communities are FINER than [[Dedup.clusterIds]]' components — a
    * bridge edge joins two components but the majority vote won't merge
    * two dense groups across it — which is exactly the corpus-curation
    * use (near-dup neighborhoods inside a giant weakly-connected blob).
    *
    * `edges` must be canonical (a < b, unique), like [[triangles]]: a
    * duplicated or bidirectional input edge double-votes its endpoint
    * labels and can silently flip a majority. The dedup-family pair
    * relations and the staged trade graph satisfy this by
    * construction.
    *
    * Plan: the symmetrized edge relation shuffles ONCE onto the
    * vote-collecting endpoint and is CACHED (persist, not
    * localCheckpoint: a checkpointed RDD scan forgets its
    * outputPartitioning and would force a vote-pair exchange every
    * round — in early rounds the (x, label) pairs are edge-scale, so
    * that re-shuffle is the whole graph; the in-memory relation keeps
    * hash(x), which clusters (x, label) too). Each round is then the
    * (node, label) frame joined into the cached edges with both keyed
    * aggregations running in the same stage — zero shuffle per round
    * while the label frame auto-broadcasts (verified on the executed
    * plan; ScaleSpec pins it). Past the broadcast threshold the join
    * honestly degrades to a per-round hash(y) exchange of the edges —
    * the correct fallback when |V| itself is too big to ship — so size
    * `spark.sql.autoBroadcastJoinThreshold` to the node-frame size
    * when community-labeling a big graph. Eager localCheckpoint of the
    * |V|-row label frame keeps plan depth flat at any round count. */
  def labelPropagation(edges: DataFrame, aCol: String = "a",
                       bCol: String = "b",
                       iterations: Int = 4): DataFrame = {
    require(iterations >= 1, s"need >= 1 iteration, got $iterations")
    val e = edges.select(col(aCol).as("x"), col(bCol).as("y"))
      .unionAll(edges.select(col(bCol).as("x"), col(aCol).as("y")))
      .repartition(col("x"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      e.count() // materialize the cache once, before the rounds
      var lab = e.select(col("x").as("node")).distinct()
        .withColumn("lab", col("node"))
        .localCheckpoint()
      for (_ <- 1 to iterations) {
        val next = e
          .join(lab.select(col("node").as("y"), col("lab")), Seq("y"))
          .groupBy(col("x"), col("lab")).agg(count(lit(1)).as("c"))
          .groupBy(col("x"))
          .agg(min_by(col("lab"),
            struct((-col("c")).as("nc"), col("lab").as("l"))).as("lab"))
          .select(col("x").as("node"), col("lab"))
          .localCheckpoint()
        IndexBuild.freeCheckpoint(lab)
        lab = next
      }
      lab.select(col("node"), col("lab").as("community"))
    } finally {
      // labels are materialized (eager checkpoints); drop the cache
      // even when a round throws, so failed calls don't pin the graph
      e.unpersist(blocking = false)
    }
  }

  /** PERSONALIZED PageRank (random walk with restart to a seed set) in
    * the same exact integer micro-units as [[pageRank]]: restart mass
    * goes only to `seeds` (topic-sensitive importance — "what matters
    * from THESE documents' point of view", the corpus-weighting form of
    * Haveliwala 2002), i.e.
    *
    *   pr⁰(v)    = unit div |S| if v ∈ S else 0
    *   prⁱ⁺¹(v)  = [v ∈ S] · (3·unit) div (20·|S|)
    *               + (17 · Σ_{u→v} prⁱ(u) div outdeg(u)) div 20
    *
    * Identical plan shape per iteration (the seed flag joins into the
    * tiny node relation once). */
  def pageRankPersonalized(edges: DataFrame, seeds: DataFrame,
                           srcCol: String = "src", dstCol: String = "dst",
                           seedCol: String = "node", iterations: Int = 5,
                           unit: Long = 1000000000000L): DataFrame = {
    val ew = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .withColumn("outdeg", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("src"))))
      .repartition(col("dst"))
      // persist, not localCheckpoint: the cache keeps hash(dst) as the
      // relation's outputPartitioning (an RDD-scan checkpoint forgets
      // it), so each round's per-dst contribution sum runs IN-STAGE on
      // the cached edges — no per-round exchange of even the partial
      // sums (see labelPropagation for the plan-verified idiom)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      ew.count()
      val seedRel = seeds.select(col(seedCol).as("node")).distinct()
      val nodes = ew.select(col("src").as("node"))
        .union(ew.select(col("dst").as("node"))).distinct()
        .join(seedRel.withColumn("_seed", lit(true)), Seq("node"), "left_outer")
        .select(col("node"), coalesce(col("_seed"), lit(false)).as("seed"))
        .localCheckpoint()
      val nSeeds = nodes.filter(col("seed")).count()
      require(nSeeds > 0, "personalized PageRank needs at least one seed in the graph")
      val base = (3L * unit) / (20L * nSeeds)
      // size-gated broadcast hint — see pageRank (node count is exact
      // here because the seed join preserves the node relation 1:1)
      val nNodes = nodes.count()
      val maybeB = (df: DataFrame) =>
        if (nNodes <= broadcastMaxNodes) broadcast(df) else df
      var pr = nodes.withColumn("pr",
        when(col("seed"), lit(unit / nSeeds)).otherwise(lit(0L)))
      for (round <- 1 to iterations) {
        val contrib = ew
          .join(maybeB(pr.select(col("node").as("src"), col("pr"))), Seq("src"))
          .select(col("dst").as("node"), expr("pr div outdeg").as("share"))
          .groupBy(col("node")).agg(sum(col("share")).as("contrib"))
        val next = nodes
          .join(maybeB(contrib), Seq("node"), "left_outer")
          .select(col("node"), col("seed"),
            (when(col("seed"), lit(base)).otherwise(lit(0L)) +
              expr("(17 * coalesce(contrib, 0L)) div 20")).as("pr"))
          // per-round eager materialization, restored in round 18 for
          // the same plan-verified reason as pageRank: the lazy chain
          // re-shuffles the cached graph twice per round
          .localCheckpoint()
        // round 1's input reads `nodes`, which every round still joins
        if (round > 1) IndexBuild.freeCheckpoint(pr)
        pr = next
      }
      // with no rounds the result still reads `nodes`
      if (iterations > 0) IndexBuild.freeCheckpoint(nodes)
      pr.select(col("node"), col("pr"))
    } finally {
      // pr is checkpointed; drop the cache even when the seed check or
      // a round throws, so failed calls don't pin the graph
      ew.unpersist(blocking = false)
    }
  }

  /** PAGERANK in exact integer micro-units — the importance measure for
    * link-style graphs (citation graphs for corpus weighting, the
    * near-dup pair graph's hub detection). The simplified iteration
    * (no dangling-mass redistribution): with total mass `unit` (1e12),
    *
    *   pr⁰(v)    = unit div N
    *   prⁱ⁺¹(v)  = (3·unit) div (20·N)  +  (17 · Σ_{u→v} prⁱ(u) div
    *               outdeg(u)) div 20
    *
    * i.e. damping 0.85 as the rational 17/20 with floor division at
    * fixed points — every value is a BIGINT, so the result is
    * bit-identical regardless of aggregation order or engine (the same
    * micro-unit trick as the MMR greedy: float summation order would
    * otherwise make a cross-engine hash gate flaky by ±1 ulp).
    *
    * Plan: per iteration, one broadcast-or-shuffle equi join of the
    * edge relation with the (node, pr) frame on src and one keyed sum
    * on dst — the standard Pregel step as two exchanges, with
    * `localCheckpoint` breaking lineage each round so the plan stays
    * flat at any iteration count. Degree skew (a global hub's fan-in)
    * lands in one sum key; at 100 TB the edges relation should be
    * pre-partitioned on dst so AQE's skew split sees it. */
  def pageRank(edges: DataFrame, srcCol: String = "src",
               dstCol: String = "dst", iterations: Int = 5,
               unit: Long = 1000000000000L): DataFrame = {
    // Materialize the graph ONCE as a single weighted edge relation
    // (src, dst, outdeg), pre-partitioned by dst. Three deliberate
    // choices carry the fixpoint:
    //  - the out-degree is iteration-invariant, so it is folded into
    //    the materialized edges instead of re-joined every round;
    //  - the dst partitioning means the per-iteration (node, pr)
    //    relation — tiny next to the edges — broadcasts into the
    //    contribution join, the streamed side keeps its partitioning
    //    through the projection aliases, and the per-dst sum aggregates
    //    WITHOUT re-exchanging the graph: the Pregel message shuffle is
    //    paid once, not once per iteration;
    //  - localCheckpoint breaks lineage so the caller's upstream join
    //    is never recomputed and the plan stays flat at any iteration
    //    count.
    // out-degree via a window, not a self-join: the caller's upstream
    // lineage (often a join + distinct) is evaluated exactly ONCE — a
    // degree self-join would trigger it twice (agg side + probe side)
    // or force an extra checkpoint copy
    val ew = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .withColumn("outdeg", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("src"))))
      .repartition(col("dst"))
      // persist, not localCheckpoint: the cache keeps hash(dst) as the
      // relation's outputPartitioning (an RDD-scan checkpoint forgets
      // it — the aliases preserve it through the projection), so each
      // round's per-dst contribution sum runs IN-STAGE on the cached
      // edges with no exchange of even the partial sums (the
      // labelPropagation plan-verified idiom)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      ew.count()
      val nodes = ew.select(col("src").as("node"))
        .union(ew.select(col("dst").as("node"))).distinct()
        .localCheckpoint()
      val n = nodes.count()
      // loud precondition, not a bare / by zero (pageRankPersonalized
      // guards its seed count the same way)
      require(n > 0, "pageRank needs a non-empty edge relation")
      val base = (3L * unit) / (20L * n)
      // size-gated broadcast hint (round 18): the per-round pr frame is
      // a checkpoint whose size the planner reports as the default
      // estimate, so unhinted rounds start as sort-merge joins and pay
      // the graph-side shuffle map write before AQE demotes them. We
      // know |nodes| exactly — hint the pr/contrib side while it is
      // provably broadcast-sized, withhold the hint (honest shuffle
      // degrade) above broadcastMaxNodes.
      val maybeB = (df: DataFrame) =>
        if (n <= broadcastMaxNodes) broadcast(df) else df
      var pr = nodes.withColumn("pr", lit(unit / n))
      for (round <- 1 to iterations) {
        val contrib = ew
          .join(maybeB(pr.withColumnRenamed("node", "src")), Seq("src"))
          .select(col("dst").as("node"), expr("pr div outdeg").as("share"))
          .groupBy(col("node")).agg(sum(col("share")).as("contrib"))
        val next = nodes
          .join(maybeB(contrib), Seq("node"), "left_outer")
          .select(col("node"),
            (lit(base) + expr("(17 * coalesce(contrib, 0L)) div 20")).as("pr"))
          // PER-ROUND eager materialization, RESTORED in round 18. Round
          // 17 lazily chained the rounds into one job on the claim that
          // AQE would keep each round's contribution join a broadcast;
          // the sf1 plan dump (plans/r18/q30_pagerank_before_interior.txt)
          // refutes that: the chained plan sort-merge-joins the CACHED
          // edge relation with an Exchange on src EVERY round, then pays
          // a second full exchange for each round's per-dst sum — the
          // graph (358 MiB at sf1) re-shuffles twice per round where
          // this form moves only the tiny (node, pr) frame. Measured at
          // sf1 (alternating warm runq, calm windows): lazy chain
          // 11.2–12.9 s, this form 7.3–7.6 s. The per-round checkpoint
          // gives the planner a MATERIALIZED, known-size pr, so the
          // contribution join broadcasts it and the per-dst sum runs
          // in-stage on the cache's hash(dst) partitioning — zero
          // exchanges of the graph per round, which is the contract
          // that matters at 100 TB; one small driver job per round is
          // the price, and it also bounds plan depth at any iteration
          // count (ADVICE r17).
          .localCheckpoint()
        // round 1's input reads `nodes`, which every round still joins
        if (round > 1) IndexBuild.freeCheckpoint(pr)
        pr = next
      }
      // with no rounds the result still reads `nodes`
      if (iterations > 0) IndexBuild.freeCheckpoint(nodes)
      pr
    } finally {
      // pr is checkpointed; drop the cache even when a round throws,
      // so failed calls don't pin the graph
      ew.unpersist(blocking = false)
    }
  }

  /** k-CORE decomposition by synchronous peeling (Matula & Beck 1983's
    * algorithm in its round-parallel form): repeatedly drop every node
    * whose CURRENT degree is below k until no node changes — the
    * standard cohesion filter (a node survives only if k neighbors
    * also survive, recursively), finer than a degree cut because peels
    * CASCADE: removing a weak node can drag a previously-safe neighbor
    * under k in the next round.
    *
    * `maxRounds` bounds the synchronous rounds; edge sets only shrink,
    * so an unchanged edge COUNT is an exact fixpoint test and the loop
    * exits early — with maxRounds above the cascade depth the result
    * is the true k-core (the gate runs k=3, maxRounds=6; the trade
    * graph converges in ≤5 rounds at both sfs), and the rounds-bounded
    * semantics stay oracle-replayable either way (extra unrolled
    * rounds are no-ops).
    *
    * Input must be a SIMPLE undirected graph: one row per edge, no
    * self-loops, no duplicate (a, b) — the trade-pair staging already
    * guarantees this; dedup upstream if yours doesn't.
    *
    * Plan, per round: ONE exchange for the degree count (endpoint
    * union, map-side combined) and two semi joins of the edges against
    * the shrinking survivor frame (broadcast while survivors fit, the
    * usual honest degrade past the threshold). Each round's edge set
    * is EAGERLY localCheckpoint'ed — unlike LPA/PageRank, where the
    * edge relation is round-invariant and `persist` keeps its
    * partitioning, here the edge set itself shrinks every round AND
    * each round references the previous set THREE times (both degree
    * legs + the semi-join probe), so without a lineage break the
    * logical plan grows 3^rounds and even plan ANALYSIS blows up;
    * a per-round checkpoint keeps the plan flat at any cascade depth.
    * Returns the surviving (node, deg) frame. */
  def kCore(edges: DataFrame, k: Int, maxRounds: Int,
            aCol: String = "a", bCol: String = "b"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(maxRounds >= 0, s"maxRounds must be >= 0, got $maxRounds")
    var e = edges.select(col(aCol).as("a"), col(bCol).as("b"))
      .localCheckpoint()
    var n = e.count()
    var round = 0
    var converged = false
    while (round < maxRounds && !converged) {
      val deg = e.select(col("a").as("x"))
        .unionAll(e.select(col("b").as("x")))
        .groupBy(col("x")).agg(count(lit(1)).as("n"))
      val keep = deg.filter(col("n") >= k).select(col("x"))
      // the fixpoint count rides the checkpoint job as an observed
      // metric (the a27 cpWithGbs pattern, round 17): one job per
      // round instead of checkpoint + trailing count
      val obs = org.apache.spark.sql.Observation()
      val ne = e
        .join(keep.withColumnRenamed("x", "a"), Seq("a"), "left_semi")
        .join(keep.withColumnRenamed("x", "b"), Seq("b"), "left_semi")
        .select(col("a"), col("b"))
        .observe(obs, count(lit(1)).as("n"))
        .localCheckpoint() // eager: materializes the round, flat plan
      val nn = Observe.value(obs, "n").asInstanceOf[Long]
      // edge sets only shrink: same count == same set == fixpoint
      converged = nn == n
      IndexBuild.freeCheckpoint(e)
      e = ne
      n = nn
      round += 1
    }
    e.select(col("a").as("node"))
      .unionAll(e.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
  }
}
