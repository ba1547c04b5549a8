package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.operators._
import graft.sources.Ingest

/** Property-based replication of the reference's oracle tests
  * (SURVEY.md §5b): for RANDOM query points and radii, index search must
  * equal the brute-force linear scan exactly; structural invariants must
  * hold for random datasets. (Raw ScalaCheck generators sampled with a
  * fixed seed — the scalatestplus bridge isn't in the offline deps.) */
class IndexPropertySpec extends SparkSpec {
  import spark.implicits._

  private def samples[A](g: Gen[A], n: Int, seed: Long): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(seed + i)))

  private lazy val pts = Ingest.randomUniform(spark, 400, 8, seed = 123L)
    .localCheckpoint()
  private lazy val index = IndexBuild.buildIndex(pts, "id", "vector")
    .localCheckpoint()

  private val queryGen: Gen[(Seq[Double], Double)] = for {
    q <- Gen.listOfN(8, Gen.chooseNum(-1.0, 1.0))
    r <- Gen.chooseNum(0.05, 2.5)
  } yield (q.toSeq, r)

  test("property: searchExact == brute force for random queries/radii") {
    samples(queryGen, 8, 2024L).foreach { case (q, r) =>
      val got = IndexSearch.searchExact(index, pts, "id", "vector", q, r)
        .select("id").as[Long].collect().toSet
      val want = BruteForce.rangeSearch(pts, "vector", q, r)
        .select("id").as[Long].collect().toSet
      assert(got == want, s"q=$q r=$r")
    }
  }

  test("property: random datasets index with exactly one leaf per point") {
    val sizeGen = Gen.zip(Gen.chooseNum(1, 200), Gen.chooseNum(1, 12))
    samples(sizeGen, 6, 77L).foreach { case (n, d) =>
      val data = Ingest.randomUniform(spark, n, d, seed = n * 31L + d)
      val idx = IndexBuild.buildIndex(data, "id", "vector")
      val leaves = idx.filter(col("id").isNotNull)
      assert(leaves.count() == n, s"n=$n d=$d")
      assert(leaves.select("id").distinct().count() == n, s"n=$n d=$d")
    }
  }

  test("property: L2 budget candidates are a subset of box candidates") {
    samples(queryGen, 8, 555L).foreach { case (q, r) =>
      val ball = IndexSearch.searchBall(index, q, r)
        .select("id").as[Long].collect().toSet
      val box = IndexSearch.searchBox(index, q, r)
        .select("id").as[Long].collect().toSet
      assert(ball.subsetOf(box), s"q=$q r=$r")
      // no false negatives: every true match is still a candidate
      val want = BruteForce.rangeSearch(pts, "vector", q, r)
        .select("id").as[Long].collect().toSet
      assert(want.subsetOf(ball), s"q=$q r=$r")
    }
  }

  test("property: pinned candidatesL2 ⊆ candidates, no false negatives") {
    val pinned = PinnedIndex.pin(index)
    samples(queryGen, 8, 919L).foreach { case (q, r) =>
      val l2 = pinned.candidatesL2(q, r).toSet
      val box = pinned.candidates(q, r).toSet
      assert(l2.subsetOf(box), s"q=$q r=$r")
      val want = BruteForce.rangeSearch(pts, "vector", q, r)
        .select("id").as[Long].collect().toSet
      assert(want.subsetOf(l2), s"q=$q r=$r")
    }
  }

  test("budget pruning visits strictly fewer nodes than box on 2-D grids") {
    // the reference's own search tests prove pruning on low-d grids
    // (MemoryVectorIndexTests.cs) — the budget walk must beat the box
    // walk there (corner subtrees of the box lie outside the L2 ball)
    val grid = Ingest.grid(spark, 32).localCheckpoint()
    val gidx = IndexBuild.buildIndex(grid, "id", "vector").localCheckpoint()
    var strictlyFewer = 0
    val queries = Seq((Seq(0.1, 0.1), 0.1), (Seq(-0.4, 0.3), 0.15),
      (Seq(0.0, 0.0), 0.2))
    val pinned = PinnedIndex.pin(gidx)
    queries.foreach { case (q, r) =>
      val box = pinned.walk(q, r, l2 = false).get
      val l2 = pinned.walk(q, r, l2 = true).get
      assert(l2.visited <= box.visited, s"q=$q r=$r")
      if (l2.visited < box.visited) strictlyFewer += 1
      // candidates still complete vs brute force
      val want = BruteForce.rangeSearch(grid, "vector", q, r)
        .select("id").as[Long].collect().toSet
      assert(want.subsetOf(l2.ids.toSet), s"q=$q r=$r")
    }
    assert(strictlyFewer > 0, "budget never pruned beyond the box test")
  }

  test("property: pinned kNN equals brute-force top-k for random queries") {
    val (pinned, vecs) = PinnedIndex.pinWithVectors(index, pts, "id", "vector")
    val qGen = Gen.listOfN(8, Gen.chooseNum(-1.0, 1.0))
    samples(Gen.zip(qGen, Gen.chooseNum(1, 25)), 8, 4242L).foreach {
      case (q, k) =>
        val got = pinned.knn(q.toSeq, k, vecs).map(_._1)
        val want = BruteForce.knn(pts, "vector", "id", q.toSeq, k)
          .select("id").as[Long].collect().toSeq
        assert(got == want, s"q=$q k=$k")
    }
  }

  test("property: children partition the parent (walk invariant)") {
    val walk = IndexWalk.walk(index).cache()
    val bySelf = walk.select("rangeId", "subtree_leaves")
      .as[(Long, Long)].collect().toMap
    val internals = walk.filter(col("id").isNull && col("lowRangeId").isNotNull)
      .select("rangeId").as[Long].collect()
    internals.foreach { r =>
      val kids = bySelf.getOrElse(2 * r + 1, 0L) + bySelf.getOrElse(2 * r + 2, 0L)
      assert(kids == bySelf(r), s"node $r: children sum $kids != ${bySelf(r)}")
    }
  }

  test("property: prefix-filtered Jaccard equals brute force on random corpora") {
    // the prefix theorem (lossless candidates under ANY global order)
    // exercised over random word-soup corpora and random thresholds —
    // including heavy duplication (vocab 12 words ⇒ many shared
    // shingles ⇒ hot-df skew paths)
    val vocabGen = Gen.listOfN(12, Gen.alphaLowerStr.suchThat(_.nonEmpty))
    val corpusGen = for {
      vocab <- vocabGen
      nDocs <- Gen.chooseNum(5, 25)
      docs <- Gen.listOfN(nDocs, for {
        len <- Gen.chooseNum(1, 14)
        ws <- Gen.listOfN(len, Gen.oneOf(vocab))
      } yield ws.mkString(" "))
      tau <- Gen.oneOf(0.3, 0.5, 0.7, 0.9)
    } yield (docs, tau)
    samples(corpusGen, 6, seed = 4242L).foreach { case (texts, tau) =>
      val df = texts.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
        .localCheckpoint()
      def rel(d: org.apache.spark.sql.DataFrame) =
        d.select("a", "b", "jaccard").as[(Long, Long, Double)]
          .collect().toSet
      val brute = rel(Dedup.ngramJaccardPairs(df, "doc_id", "text", 3, tau))
      val pref = rel(Dedup.ngramJaccardPrefixPairs(df, "doc_id", "text", 3, tau))
      assert(pref == brute, s"tau=$tau corpus=${texts.take(3)}…")
    }
  }

  test("property: KMV sketch equals the k smallest distinct uniforms exactly") {
    import graft.functions.{KmvSketch, PortableHash}
    val setGen = for {
      n <- Gen.chooseNum(1, 900)
      dup <- Gen.chooseNum(1, 3)
    } yield (n, dup)
    samples(setGen, 5, seed = 777L).foreach { case (n, dup) =>
      val vals = spark.range(n * dup).selectExpr(s"id % $n AS v")
      val got = vals.agg(KmvSketch.kmvDistinct(col("v"), 64).as("s"))
        .select("s.n", "s.kth", "s.estimate").head()
      // sequential reference: sort the n distinct uniforms, take 64
      val us = vals.select(
          PortableHash.md5Uniform(col("v").cast("string")).as("u"))
        .distinct().as[Double].collect().sorted
      val mins = us.take(64)
      assert(got.getLong(0) == mins.length.toLong)
      if (mins.length == 64) {
        assert(got.getDouble(1) == mins.last)
        assert(got.getDouble(2) == 63.0 / mins.last)
      } else assert(got.getDouble(2) == mins.length.toDouble)
    }
  }
}
