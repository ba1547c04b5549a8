package graft

import org.apache.spark.sql.functions._

import graft.operators.{BruteForce, Graphs, Retrieval, TextOps}

class RetrievalSpec extends SparkSpec {
  import spark.implicits._

  test("rrfFuse: both-lists sum, single-list fallback, rank order, id ties") {
    val a = Seq((1L, 1), (2L, 2), (3L, 3)).toDF("id", "rank")
    val b = Seq((2L, 1), (4L, 2)).toDF("id", "rank")
    val got = Retrieval.rrfFuse(Seq(a, b), "id", "rank", k = 60, topK = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // id 2 appears in both: 1/62 + 1/61
    assert(math.abs(got(2L) - (1.0 / 62 + 1.0 / 61)) < 1e-9)
    // id 1 only in list a at rank 1, id 4 only in list b at rank 2
    assert(math.abs(got(1L) - 1.0 / 61) < 1e-9)
    assert(math.abs(got(4L) - 1.0 / 62) < 1e-9)
    assert(got.keySet == Set(1L, 2L, 3L, 4L))
    // dual-list membership beats any single-list rank-1
    assert(got(2L) > got(1L))
  }

  test("rrfFuse topK cuts on (score desc, id)") {
    val a = Seq((10L, 1), (11L, 2)).toDF("id", "rank")
    // 10 and 11 swap ranks in list b -> equal fused scores, id breaks tie
    val b = Seq((11L, 1), (10L, 2)).toDF("id", "rank")
    val got = Retrieval.rrfFuse(Seq(a, b), "id", "rank", k = 60, topK = 1)
      .collect()
    assert(got.length == 1 && got.head.getLong(0) == 10L)
  }

  test("maxSim: self-query scores the sum of chunk norms; top-k matches brute recompute") {
    val e = Tables.embeddings(spark, sf0001)
    val q = QueryConstants.Q64
    val got = Retrieval.maxSim(e, "vec_id", "embedding", q, subDim = 8, topK = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    // brute recompute on the driver in the same chunk order
    val rows = e.select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble)))
    val qc = q.grouped(8).toSeq
    def score(v: Seq[Double]): Double = {
      val vc = v.grouped(8).toSeq
      qc.map(qk => vc.map(dk => dk.zip(qk).map { case (x, y) => x * y }.sum).max).sum
    }
    val want = rows.map { case (id, v) =>
      (id, math.rint(score(v) * 1e6) / 1e6)
    }.sortBy { case (id, s) => (-s, id) }.take(10)
    assert(got.map(_._1).toSeq == want.map(_._1).toSeq)
    got.zip(want).foreach { case ((_, g), (_, w)) =>
      assert(math.abs(g - w) < 1e-6)
    }
  }

  test("maxSim exceeds the single-vector dot when the best chunk alignment differs") {
    // doc = query with two chunks swapped: full dot degrades, but per-chunk
    // max recovers each chunk's best alignment >= diagonal dot
    val q = QueryConstants.Q64
    val swapped = (q.slice(8, 16) ++ q.slice(0, 8) ++ q.drop(16)).map(_.toFloat)
    val df = Seq((0L, swapped)).toDF("vec_id", "embedding")
    val ms = Retrieval.maxSim(df, "vec_id", "embedding", q, 8, 1)
      .head().getDouble(1)
    val qc = q.grouped(8).toSeq
    val selfScore = qc.map(c => c.map(x => x * x).sum).sum // chunk-perfect
    val fullDot = swapped.map(_.toDouble).zip(q).map { case (a, b) => a * b }.sum
    // the swap is a chunk PERMUTATION: every query chunk still finds its
    // identical copy, so MaxSim >= the chunk-aligned self score (up to
    // float32 of the stored doc), while the position-rigid full-vector
    // dot degrades well below it
    assert(ms >= selfScore - 1e-4)
    assert(fullDot < selfScore - 0.1 && ms > fullDot)
  }

  test("phraseHits: overlaps, boundaries, short docs, multi-term") {
    val docs = Seq(
      (1L, "a b a b a"),     // "a b" starts at 1 and 3 -> 2 hits
      (2L, "a"),             // shorter than the phrase -> 0
      (3L, "b a b"),         // one hit at position 2
      (4L, "x y z"),         // no hits
      (5L, "a b")            // exact doc == phrase
    ).toDF("doc_id", "text")
    val got = docs.select(col("doc_id"),
        TextOps.phraseHits(col("text"), Seq("a", "b")).as("hits"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == Map(1L -> 2, 2L -> 0, 3L -> 1, 4L -> 0, 5L -> 1))
    // 3-term phrase
    val got3 = docs.select(col("doc_id"),
        TextOps.phraseHits(col("text"), Seq("a", "b", "a")).as("hits"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got3(1L) == 2 && got3(3L) == 0 && got3(5L) == 0)
  }

  test("pageRank: uniform on a cycle, mass conservation, hub dominance on a star") {
    // directed 4-cycle: symmetric -> every node the same rank
    val cycle = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"))
      .toDF("src", "dst")
    val prC = Graphs.pageRank(cycle, iterations = 5)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(prC.values.toSet.size == 1)
    // floor division loses < 1 unit per node per step; total mass ~ 1e12
    val total = prC.values.sum
    assert(total <= 1000000000000L && total > 1000000000000L - 1000L)
    // star (bidirectional): the center out-ranks every leaf
    val spokes = (1 to 5).map(i => ("hub", s"leaf$i"))
    val star = (spokes ++ spokes.map(_.swap)).toDF("src", "dst")
    val prS = Graphs.pageRank(star, iterations = 5)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(prS("hub") > prS("leaf1") && prS("leaf1") == prS("leaf5"))
  }

  test("personalized pageRank: localization, unreachable zeros, all-seeds == plain") {
    // chain a -> b -> c -> d (one direction only): seed at a
    val chain = Seq(("a", "b"), ("b", "c"), ("c", "d")).toDF("src", "dst")
    val seedA = Seq("a").toDF("node")
    val ppr = Graphs.pageRankPersonalized(chain, seedA, iterations = 5)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // mass decays along the chain; nothing flows back to a beyond restart
    assert(ppr("b") > ppr("c") && ppr("c") > ppr("d"))
    // a 2-node component unreachable from the seed gets exactly zero
    val twoComp = chain.unionAll(Seq(("x", "y"), ("y", "x")).toDF("src", "dst"))
    val ppr2 = Graphs.pageRankPersonalized(twoComp, seedA, iterations = 5)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(ppr2("x") == 0L && ppr2("y") == 0L && ppr2("b") > 0L)
    // seeds = every node -> identical values to the uniform pageRank
    val star = (1 to 4).flatMap(i => Seq(("h", s"l$i"), (s"l$i", "h")))
      .toDF("src", "dst")
    val allNodes = star.select(col("src").as("node")).distinct()
    val uni = Graphs.pageRank(star, iterations = 4)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val prs = Graphs.pageRankPersonalized(star, allNodes, iterations = 4)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(uni == prs)
  }

  test("pageRank hand-check: two nodes pointing at each other stay at unit/2") {
    val e = Seq(("x", "y"), ("y", "x")).toDF("src", "dst")
    val pr = Graphs.pageRank(e, iterations = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // base = 3e12/40 = 75e9; share = pr; pr' = 75e9 + 17*pr/20 -> fixed
    // point 5e11 (exact: starts there and stays)
    assert(pr("x") == 500000000000L && pr("y") == 500000000000L)
  }

  test("pageRank/PPR return a MATERIALIZED relation (r17 lazy-chained loop)") {
    // Round 18 restored the per-round eager checkpoint (the lazy chain
    // re-shuffled the cached graph twice per round — see the loop
    // comment in Graphs.pageRank), but this pin is form-independent and
    // still load-bearing: the finally block unpersists the edge cache,
    // so if the last round's materialization were ever dropped, the
    // returned plan would re-derive the whole graph (source scan +
    // degree window) per round when the CALLER first executes it —
    // after the cache is gone. Pin: the returned relation's executed
    // plan is a flat checkpoint scan, not a join/window tree.
    val e = (1 to 20).map(i => (i.toLong, ((i % 20) + 1).toLong))
      .toDF("src", "dst")
    for (df <- Seq(
        Graphs.pageRank(e, iterations = 3),
        Graphs.pageRankPersonalized(e, Seq(1L).toDF("node"),
          iterations = 3))) {
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("Scan ExistingRDD"), plan)
      assert(!plan.contains("Join") && !plan.contains("Window") &&
        !plan.contains("Exchange"), plan)
    }
  }

  test("fixpoint operators keep only the checkpoints their result reads") {
    val sc = spark.sparkContext
    // 600 edges: 200 nodes, each pointing at its next three
    val e = (0 until 200).flatMap(i => (1 to 3).map(j => (i.toLong,
      ((i + j * 7) % 200).toLong))).toDF("src", "dst").localCheckpoint()
    val undirected = e.select(least(col("src"), col("dst")).as("a"),
      greatest(col("src"), col("dst")).as("b")).distinct().localCheckpoint()
    val leftovers = Seq[(String, () => org.apache.spark.sql.DataFrame)](
      "pageRank" -> (() => Graphs.pageRank(e, iterations = 5)),
      "pageRank 0 rounds" -> (() => Graphs.pageRank(e, iterations = 0)),
      "pageRankPersonalized" -> (() => Graphs.pageRankPersonalized(e,
        Seq(1L, 2L).toDF("node"), iterations = 5)),
      "labelPropagation" -> (() => Graphs.labelPropagation(undirected,
        iterations = 4)),
      "kCore" -> (() => Graphs.kCore(undirected, 3, 6))
    ).map { case (name, op) =>
      val before = sc.getPersistentRDDs.keySet
      val out = op()
      val reads = out.queryExecution.analyzed.collectLeaves().collect {
        case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
      }.toSet
      assert(out.count() > 0, name) // the result still reads its pins
      name -> (sc.getPersistentRDDs.keySet -- before -- reads)
    }.filter(_._2.nonEmpty)
    assert(leftovers.isEmpty, leftovers.map { case (op, ids) =>
      s"$op left ${ids.size} unread" }.mkString("; "))
  }

  test("maxSim rerank: stage-2 scores equal the full-scan scores on the candidate set") {
    val e = Tables.embeddings(spark, sf0001)
    val q = QueryConstants.Q64
    val cands = operators.Similarity.ivfKnn(e, "vec_id", "embedding", 16, 4, q, 50)
    val reranked = Retrieval.maxSim(cands, "vec_id", "embedding", q, 8, 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val full = Retrieval.maxSim(e, "vec_id", "embedding", q, 8, 500)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // stage 2 computes the SAME score the full scan would
    reranked.foreach { case (id, s) => assert(full(id) == s) }
    assert(reranked.size == 10)
  }

  test("hybrid rrf on the corpus: fused top includes both legs' top ids") {
    val docs = Tables.documents(spark, sf0001)
    val e = Tables.embeddings(spark, sf0001)
    val win = org.apache.spark.sql.expressions.Window
    val textLeg = TextOps.bm25(docs, "doc_id", "text",
        Seq("spark", "data", "query", "join"), topK = 50)
      .withColumn("rank", row_number().over(
        win.orderBy(col("bm25").desc, col("doc"))))
      .select(col("doc"), col("rank"))
    val vecLeg = BruteForce.knn(e, "embedding", "vec_id",
        QueryConstants.Q64, 50)
      .withColumn("rank", row_number().over(
        win.orderBy(col("dist"), col("vec_id"))))
      .select(col("vec_id").as("doc"), col("rank"))
    val fused = Retrieval.rrfFuse(Seq(textLeg, vecLeg), "doc", "rank",
      k = 60, topK = 100)
    val fusedIds = fused.select("id").as[Long].collect().toSet
    val t1 = textLeg.filter(col("rank") === 1).select("doc").as[Long].head()
    val v1 = vecLeg.filter(col("rank") === 1).select("doc").as[Long].head()
    assert(fusedIds.contains(t1) && fusedIds.contains(v1))
    // a doc ranked well in BOTH legs outscores one ranked 50th in one leg
    val scores = fused.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val both = textLeg.join(vecLeg, "doc").select("doc").as[Long].collect()
    if (both.nonEmpty) {
      val onlyText50 = textLeg.filter(col("rank") === 50)
        .select("doc").as[Long].head()
      if (!both.contains(onlyText50))
        assert(scores(both.head) > scores.getOrElse(onlyText50, 0.0))
    }
  }
}

class QuantileSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions._

  private def truth(vals: Seq[Double], p: Double): Double = {
    val sorted = vals.sorted
    sorted(math.ceil(p * vals.length).toLong.max(1L).toInt - 1)
  }

  test("exactQuantiles equals the sort-based order statistic (random, dups, odd/even n)") {
    val rnd = new scala.util.Random(7)
    for (n <- Seq(999, 1000)) {
      // duplicates on purpose: values drawn from a small grid
      val vals = Seq.fill(n)((rnd.nextInt(500) * 0.25) - 30.0)
      val df = vals.toDF("x")
      val ps = Seq(0.01, 0.25, 0.5, 0.9, 0.99, 1.0)
      val got = operators.Relational.exactQuantiles(df, "x", ps, buckets = 64)
        .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
      ps.foreach { p => assert(got(p) == truth(vals, p), s"p=$p n=$n") }
    }
  }

  test("exactQuantiles: degenerate all-equal column and single bucket") {
    val df = Seq.fill(100)(42.5).toDF("x")
    val got = operators.Relational.exactQuantiles(df, "x", Seq(0.5, 0.99))
      .collect().map(r => r.getDouble(1))
    assert(got.forall(_ == 42.5))
    // buckets = 1: the selection degenerates to one global TakeOrdered
    val rnd = new scala.util.Random(11)
    val vals = Seq.fill(501)(rnd.nextDouble() * 100)
    val one = operators.Relational.exactQuantiles(vals.toDF("x"), "x",
      Seq(0.5), buckets = 1).head().getDouble(1)
    assert(one == truth(vals, 0.5))
  }

  test("fused pass-2 selection: quantiles sharing one bin stay exact (r17)") {
    // The r17 fusion runs ALL selections as one ranked job; when two
    // targets land in the SAME bin they join the same ranked rows at
    // different offsets — the path a per-p TakeOrdered never exercised.
    // buckets = 1 forces every p into bin 0; heavy ties on purpose.
    val rnd = new scala.util.Random(23)
    val vals = Seq.fill(400)(rnd.nextInt(50) * 1.5)
    val ps = Seq(0.3, 0.5, 0.9, 0.91)
    val got = operators.Relational.exactQuantiles(vals.toDF("x"), "x", ps,
        buckets = 1)
      .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    ps.foreach(p => assert(got(p) == truth(vals, p), s"p=$p"))
    // group variant: shared (g, bin) cells across two real groups plus
    // a degenerate (all-equal) group that must bypass the fused job
    val rows = (for { g <- Seq("a", "b"); i <- 0 until 300 }
      yield (g, (i % 40) * 0.5 + (if (g == "b") 100.0 else 0.0))) ++
      Seq.fill(10)(("c", 7.0))
    val gps = Seq(0.5, 0.52, 0.99)
    val gotG = operators.Relational.exactQuantilesByGroup(
        rows.toDF("grp", "x"), "grp", "x", gps, buckets = 2)
      .collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(2))
      .toMap
    for (g <- Seq("a", "b", "c"); p <- gps) {
      val gv = rows.filter(_._1 == g).map(_._2)
      assert(gotG((g, p)) == truth(gv, p), s"g=$g p=$p")
    }
  }

  test("sampleQuantiles: k >= n degenerates to exact; deterministic; close at k < n") {
    val rnd = new scala.util.Random(17)
    val rows = (0 until 2000).map(i => (i.toLong, rnd.nextDouble() * 100))
    val df = rows.toDF("id", "x")
    val ps = Seq(0.1, 0.5, 0.9)
    // k >= n: the sample IS the data -> exact order statistics
    val exact = operators.Relational.sampleQuantiles(df, "x", col("id"),
        ps, k = 5000)
      .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    ps.foreach(p => assert(exact(p) == truth(rows.map(_._2), p), s"p=$p"))
    // k < n: deterministic (repartition-invariant) and rank-close
    def run(parts: Int) = operators.Relational.sampleQuantiles(
        df.repartition(parts), "x", col("id"), ps, k = 500)
      .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    val a = run(3); val b = run(13)
    assert(a == b) // pure function of (id, salt), not of partitioning
    val sorted = rows.map(_._2).sorted
    ps.foreach { p =>
      val rank = sorted.indexWhere(_ >= a(p))
      assert(math.abs(rank / 2000.0 - p) < 0.08,
        s"p=$p sample estimate rank off by ${rank / 2000.0 - p}")
    }
  }

  test("equiDepthBins: exact quarters at k >= n, ties close the lower bucket, invariant") {
    // 1..100 distinct, B=4, full sample: cuts 25/50/75 -> exact quarters
    val rows = (1 to 100).map(i => (i.toLong, i.toDouble))
    val df = rows.toDF("id", "x")
    val got = operators.Relational.equiDepthBins(df, "x", col("id"),
        buckets = 4, k = 1000)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(got.toSeq == Seq((1, 25L, 1.0, 25.0), (2, 25L, 26.0, 50.0),
      (3, 25L, 51.0, 75.0), (4, 25L, 76.0, 100.0)))
    // boundary tie: values equal to a cut land in the LOWER bucket
    val dup = (1 to 100).map(i => (i.toLong, if (i <= 60) 25.0 else i.toDouble))
    val db = operators.Relational.equiDepthBins(dup.toDF("id", "x"), "x",
        col("id"), buckets = 4, k = 1000)
      .collect().map(r => (r.getInt(0), r.getLong(1)))
    // cuts are (25, 25, 75): bucket 2 is empty (duplicate cut), all 60
    // copies of 25.0 sit in bucket 1
    assert(db.toSeq == Seq((1, 60L), (3, 15L), (4, 25L)))
    // partitioning must not change the histogram (deterministic sample)
    val a = operators.Relational.equiDepthBins(df.repartition(3), "x",
      col("id"), buckets = 4, k = 37).collect().toSeq
    val b = operators.Relational.equiDepthBins(df.repartition(11), "x",
      col("id"), buckets = 4, k = 37).collect().toSeq
    assert(a == b)
    // all-equal column: every row in bucket 1
    val eq = operators.Relational.equiDepthBins(
        Seq.fill(50)(7.5).zipWithIndex.map { case (v, i) => (i.toLong, v) }
          .toDF("id", "x"), "x", col("id"), buckets = 4, k = 100)
      .collect().map(r => (r.getInt(0), r.getLong(1)))
    assert(eq.toSeq == Seq((1, 50L)))
  }

  test("sampleQuantilesByGroup: k >= group size is exact per group; one-pass determinism") {
    val rnd = new scala.util.Random(19)
    val rows = (0 until 1500).map { i =>
      (i.toLong, s"g${i % 3}", rnd.nextDouble() * 50)
    }
    val df = rows.toDF("id", "grp", "x")
    val ps = Seq(0.25, 0.5, 0.95)
    val got = operators.Relational.sampleQuantilesByGroup(df, "grp", "x",
        col("id"), ps, k = 2000)
      .collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(2))
      .toMap
    for (g <- Seq("g0", "g1", "g2"); p <- ps) {
      val vals = rows.filter(_._2 == g).map(_._3)
      assert(got((g, p)) == truth(vals, p), s"g=$g p=$p")
    }
    // k < n: repartition invariance (pure function of id and salt)
    def run(parts: Int) = operators.Relational.sampleQuantilesByGroup(
        df.repartition(parts), "grp", "x", col("id"), ps, k = 100)
      .collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(2))
      .toMap
    assert(run(2) == run(11))
  }

  test("exactQuantilesByGroup equals per-group sort truth; degenerate group") {
    val rnd = new scala.util.Random(13)
    val rows = (0 until 900).map { i =>
      val g = s"g${i % 3}"
      // group g2 is all-equal (degenerate extent)
      val v = if (g == "g2") 7.5 else rnd.nextInt(400) * 0.5 - 20.0
      (g, v)
    }
    val df = rows.toDF("grp", "x")
    val ps = Seq(0.1, 0.5, 0.99)
    val got = operators.Relational.exactQuantilesByGroup(df, "grp", "x", ps,
        buckets = 32)
      .collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(2))
      .toMap
    for (g <- Seq("g0", "g1", "g2"); p <- ps) {
      val vals = rows.filter(_._1 == g).map(_._2).sorted
      val want = vals(math.ceil(p * vals.length).toInt.max(1) - 1)
      assert(got((g, p)) == want, s"g=$g p=$p")
    }
  }

  test("exactQuantiles: mass concentrated at a bucket boundary stays exact") {
    // many copies of the exact boundary value between bins
    val vals = Seq.fill(400)(50.0) ++ (1 to 100).map(_.toDouble) ++
      (51 to 150).map(_ + 0.5)
    val df = vals.toDF("x")
    for (p <- Seq(0.3, 0.5, 0.66, 0.9))
      assert(operators.Relational.exactQuantiles(df, "x", Seq(p), buckets = 10)
        .head().getDouble(1) == truth(vals, p))
  }
}

class MiningSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions._

  test("hardNegatives excludes near-duplicates even when they are nearest") {
    // q at origin-ish; dup = same direction (cos 1, dist tiny);
    // negatives = orthogonal-ish, farther
    val rows = Seq(
      (0L, Array(1f, 0f, 0f, 0f)),          // the query itself
      (1L, Array(0.99f, 0f, 0f, 0f)),       // near-dup: cos ~1, NEAREST
      (2L, Array(0f, 1f, 0f, 0f)),          // orthogonal negative
      (3L, Array(0f, 0f, 2f, 0f)),          // farther negative
      (4L, Array(-1f, 0f, 0f, 0f))          // opposite
    ).toDF("vec_id", "embedding")
    val queries = rows.filter(col("vec_id") === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val got = operators.Retrieval.hardNegatives(rows, "vec_id", "embedding",
        queries, "qid", "qv", simCeiling = 0.4, k = 3)
      .orderBy(col("rank"))
      .select("vec_id").as[Long].collect().toSeq
    // id 1 (cos ~1) and id 0 (self) excluded; by distance: 2 (1.41),
    // 4 (2.0), 3 (sqrt5 = 2.24)
    assert(got == Seq(2L, 4L, 3L))
  }

  test("stratifiedExactK: exact quotas, determinism, repartition invariance") {
    val docs = Tables.documents(spark, sf0001)
    val k = 7
    val got = operators.Pipeline.stratifiedExactK(docs, "doc_id", "lang", k, "t")
    val counts = got.groupBy(col("lang")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val totals = docs.groupBy(col("lang")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    totals.foreach { case (l, n) => assert(counts(l) == math.min(k.toLong, n)) }
    val ids1 = got.select("doc_id").as[Long].collect().toSet
    val ids2 = operators.Pipeline.stratifiedExactK(
        docs.repartition(13), "doc_id", "lang", k, "t")
      .select("doc_id").as[Long].collect().toSet
    assert(ids1 == ids2)
    // a different salt picks a different (but equally sized) set
    val ids3 = operators.Pipeline.stratifiedExactK(docs, "doc_id", "lang", k, "u")
      .select("doc_id").as[Long].collect().toSet
    assert(ids3.size == ids1.size && ids3 != ids1)
  }
}
