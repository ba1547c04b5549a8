package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators._
import graft.sources.Ingest

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog"),
    (1L, "the quick brown fox jumps over the lazy dog"),   // exact dup of 0
    (2L, "the quick brown fox jumps over a lazy dog"),     // near dup
    (3L, "completely different words entirely here now"),
    (4L, "dog lazy the over jumps fox brown quick the")    // permutation of 0
  ).toDF("doc_id", "text")

  test("dedupLines keeps the corpus-first occurrence of long lines; short lines exempt") {
    val corpus = Seq(
      (0L, "alpha beta gamma delta epsilon\nshort line\n" +
        "alpha beta gamma delta epsilon\nunique zero closing line here"),
      (1L, "alpha beta gamma delta epsilon\nshort line\n" +
        "second doc unique line of words")).toDF("doc_id", "text")
    val out = Dedup.dedupLines(corpus, "doc_id", "text", minWords = 4)
      .orderBy("doc").collect()
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val d0 = out(0)
    // within-doc second occurrence of the eligible line is dropped too
    assert(d0.getAs[Int]("n_lines") == 4 && d0.getAs[Int]("n_kept") == 3)
    assert(d0.getAs[String]("clean_md5") == md5hex(
      "alpha beta gamma delta epsilon\nshort line\nunique zero closing line here"))
    val d1 = out(1)
    // doc 1 loses the shared long line but keeps the exempt short one
    assert(d1.getAs[Int]("n_lines") == 3 && d1.getAs[Int]("n_kept") == 2)
    assert(d1.getAs[String]("clean_md5") == md5hex(
      "short line\nsecond doc unique line of words"))
    // a doc whose EVERY line is a later copy still gets its row — one
    // row per doc is the contract (n_kept 0, empty clean text)
    val wiped = Seq(
      (0L, "alpha beta gamma delta epsilon"),
      (1L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val w1 = Dedup.dedupLines(wiped, "doc_id", "text", minWords = 4)
      .orderBy("doc").collect()
    assert(w1.length == 2)
    assert(w1(1).getAs[Int]("n_lines") == 1 &&
      w1(1).getAs[Int]("n_kept") == 0 &&
      w1(1).getAs[String]("clean_text") == "" &&
      w1(1).getAs[String]("clean_md5") == md5hex(""))
  }

  test("dedupLines over lineCorpus matches a sequential keep-first simulation") {
    val n = 30
    def linesOf(id: Long): Seq[String] = Seq(
      s"spark cleans corpus line $id with punctuation.",
      "too short.",
      if (id % 2 == 1) s"javascript must be enabled to view page ${id % 7}."
      else s"page $id renders fine without any scripting at all.",
      "lorem ipsum dolor sit amet consectetur adipiscing elit.",
      s"unterminated navigation header number ${id % 5}",
      "subscribe to our newsletter now please today.",
      s"shared boilerplate variant ${id % 10} appears rather often indeed.",
      s"document $id closes with a unique parting sentence, number ${id * 3}.")
    val seen = scala.collection.mutable.Set[String]()
    val expected = (0L until n).map { id =>
      val kept = linesOf(id).count { ln =>
        val eligible = ln.trim.split(" ").count(_.nonEmpty) >= 4
        if (!eligible) true
        else if (seen.contains(ln)) false
        else { seen += ln; true }
      }
      id -> kept
    }.toMap
    val got = Dedup.dedupLines(TextOps.lineCorpus(spark, n), "doc_id",
        "text", minWords = 4)
      .select("doc", "n_kept").as[(Long, Int)].collect().toMap
    assert(got == expected)
  }

  test("keepBestByCluster keeps the highest-quality doc per cluster") {
    // cluster {0,1,2} via pairs 0-2 and 1-2; doc 3 unpaired
    val d = Seq(
      (0L, "short"),
      (1L, "a much longer and more varied document with many distinct alphabetic words"),
      (2L, "short short"),
      (3L, "lone doc")).toDF("doc_id", "text")
    val pairs = Seq((0L, 2L), (1L, 2L)).toDF("a", "b")
    val kept = Dedup.keepBestByCluster(d, "doc_id", pairs,
        TextOps.qualityScore(col("text")))
      .as[Long].collect().toSet
    assert(kept == Set(1L, 3L))
    // contrast: the id-keeping form keeps the minimum id instead
    val first = Dedup.keepFirstByCluster(d, "doc_id", pairs)
      .as[Long].collect().toSet
    assert(first == Set(0L, 3L))
  }

  test("exact duplicates group by md5") {
    val rows = Dedup.exactDuplicates(docs, "doc_id", "text")
      .select("doc_id", "canonical_id", "group_size")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(rows.contains((0L, 0L, 2L)) && rows.contains((1L, 0L, 2L)))
    assert(rows.contains((3L, 3L, 1L)))
  }

  test("ngram jaccard finds exact and near dups, not unrelated docs") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.3)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)))
    assert(pairs.contains((0L, 2L)) && pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("minhash LSH candidates include identical docs") {
    val cands = Dedup.minHashLshCandidates(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toSet
    assert(cands.contains((0L, 1L)))
    assert(!cands.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("minhash family is non-degenerate: slots select DIFFERENT argmin shingles") {
    // the 2^61-1 family this replaced never wrapped its modulus, so
    // every h_j was monotone in x and ALL slots picked the one
    // minimum-x shingle — MinHash collapsed to a single permutation
    // (candidate probability s instead of 1-(1-s^r)^b). Pin the fix:
    // across 16 slots over a many-shingle doc, the argmin shingle must
    // vary (a monotone family would give exactly one distinct argmin).
    val params = Dedup.minHashParams(16)
    val xs = (0 until 200).map(i => math.abs(
      scala.util.hashing.MurmurHash3.stringHash(s"shingle$i").toLong)
      % Dedup.MinHashP)
    val argmins = params.map { case (a, b) =>
      xs.minBy(x => (a * x + b) % Dedup.MinHashP)
    }.distinct
    assert(argmins.size > 4,
      s"family looks monotone again: ${argmins.size} distinct argmins over 16 slots")
    // and per-slot collision probability between two half-overlapping
    // docs now tracks Jaccard per SLOT (independent estimates), which
    // requires slots to disagree with each other on the same doc pair
    val da = xs.take(120).toSet
    val db = xs.drop(60).toSet // Jaccard = 60/180 = 1/3
    val slotMatches = params.count { case (a, b) =>
      da.minBy(x => (a * x + b) % Dedup.MinHashP) ==
        db.minBy(x => (a * x + b) % Dedup.MinHashP)
    }
    assert(slotMatches > 0 && slotMatches < 16,
      s"slots all agree ($slotMatches/16) — single effective permutation")
  }

  test("simhash: identical docs at hamming 0; permutations share tokens") {
    val sh = Dedup.simHash(docs, "doc_id", "text")
      .as[(Long, Int)].collect().toMap
    assert(sh(0L) == sh(1L))
    assert(sh(0L) == sh(4L)) // simhash is bag-of-tokens: permutation-invariant
    val pairs = Dedup.simHashPairs(docs, "doc_id", "text", 0)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)))
  }

  test("simhash pairs: uneven bands stay exact for every maxDist") {
    // maxDist=4 used to produce a zero-bit fifth band (all-pairs join);
    // verify banded pairs == brute-force hamming pairs for several dists
    val sh = Dedup.simHash(docs, "doc_id", "text")
      .as[(Long, Int)].collect().toMap
    val brute = (for {
      a <- sh.keys; b <- sh.keys if a < b
    } yield (a, b, Integer.bitCount(sh(a) ^ sh(b)))).toSet
    Seq(0, 2, 4, 7).foreach { d =>
      val got = Dedup.simHashPairs(docs, "doc_id", "text", d)
        .as[(Long, Long, Int)].collect().toSet
      assert(got == brute.filter(_._3 <= d), s"maxDist=$d")
    }
  }

  test("lshVerifiedPairs: exact precision, finds identical docs") {
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.3)
      .select("a", "b").as[(Long, Long)].collect().toSet
    val verified = Dedup.lshVerifiedPairs(docs, "doc_id", "text", 3, 0.3)
      .select("a", "b").as[(Long, Long)].collect().toSet
    // the re-check guarantees no false positives; recall is the LSH
    // family's (probabilistic — identical docs are always caught)
    assert(verified.subsetOf(exact))
    assert(verified.contains((0L, 1L)))
    assert(!verified.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("containment catches a quote inside a long doc where jaccard cannot") {
    val corpus = Seq(
      (0L, "the quick brown fox jumps"),   // the quote (3 shingles)
      (1L, "a very long document that among many other words embeds " +
        "the quick brown fox jumps right in the middle of even more " +
        "surrounding filler text material")).toDF("doc_id", "text")
    val m = Dedup.containmentPairs(corpus, "doc_id", "text", 3, 0.0)
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, c) => (a, b) -> c }.toMap
    // every shingle of the quote appears in the long doc
    assert(m((0L, 1L)) == 1.0)
    // the reverse direction is tiny, and symmetric jaccard misses both
    assert(m((1L, 0L)) < 0.2)
    val jac = Dedup.ngramJaccardPairs(corpus, "doc_id", "text", 3, 0.3).count()
    assert(jac == 0)
  }

  test("dropContained keeps the subsuming doc; mutual containment keeps lower id") {
    val corpus = Seq(
      (0L, "the quick brown fox jumps"),
      (1L, "a very long document that among many other words embeds " +
        "the quick brown fox jumps right in the middle of even more " +
        "surrounding filler text material"),
      (2L, "totally unrelated content words here"),
      (3L, "totally unrelated content words here") // exact dup of 2
    ).toDF("doc_id", "text")
    val kept = Dedup.dropContained(corpus, "doc_id", "text", 3, 0.8)
      .as[Long].collect().toSet
    // quote 0 dies to its superset 1; of the mutual pair (2, 3) the
    // lower id survives
    assert(kept == Set(1L, 2L))
  }

  test("prefix-filtered jaccard pairs == brute-force pairs (lossless)") {
    // the AllPairs/PPJoin prefix path must return the IDENTICAL relation
    // to the quadratic anchor — on the tiny fixture and the real corpus
    def rel(df: org.apache.spark.sql.DataFrame) =
      df.select("a", "b", "jaccard")
        .as[(Long, Long, Double)].collect().toSet
    for ((corpus, tau) <- Seq((docs, 0.3), (docs, 0.6),
        (Tables.documents(spark, sf0001), 0.3))) {
      val brute = rel(Dedup.ngramJaccardPairs(corpus, "doc_id", "text", 3, tau))
      val pref = rel(Dedup.ngramJaccardPrefixPairs(corpus, "doc_id", "text", 3, tau))
      assert(pref == brute, s"tau=$tau")
    }
  }

  test("prefix-filtered containment == brute containment; dropContained survivors match") {
    // the asymmetric prefix path (A's rarity prefix probes the full
    // posting relation) must be lossless for ordered containment pairs
    def rel(df: org.apache.spark.sql.DataFrame) =
      df.select("a", "b", "containment")
        .as[(Long, Long, Double)].collect().toSet
    for ((corpus, tau) <- Seq((docs, 0.5), (docs, 0.8),
        (Tables.documents(spark, sf0001), 0.8))) {
      val brute = rel(Dedup.containmentPairs(corpus, "doc_id", "text", 3, tau))
      val pref = rel(Dedup.containmentPairsPrefix(corpus, "doc_id", "text", 3, tau))
      assert(pref == brute, s"tau=$tau")
    }
    val corpus = Tables.documents(spark, sf0001)
    val a = Dedup.dropContained(corpus, "doc_id", "text", 3, 0.8)
      .as[Long].collect().toSet
    val b = Dedup.dropContainedPrefix(corpus, "doc_id", "text", 3, 0.8)
      .as[Long].collect().toSet
    assert(a == b)
  }

  test("incremental probe-vs-corpus pairs == brute cross-side pairs (lossless)") {
    // the asymmetric ingest path (probe-side prefix against full corpus
    // postings) must return exactly the cross-side subset of the
    // symmetric all-pairs relation
    val corpus = Tables.documents(spark, sf0001)
    for (tau <- Seq(0.3, 0.6)) {
      val all = Dedup.ngramJaccardPairs(corpus, "doc_id", "text", 3, tau)
        .select("a", "b", "jaccard").as[(Long, Long, Double)].collect()
      // symmetric emits a < b; cross-side truth needs both orientations
      val brute = all.flatMap { case (a, b, j) => Seq((a, b, j), (b, a, j)) }
        .filter { case (a, b, _) => a % 7 == 0 && b % 7 != 0 }.toSet
      val inc = Dedup.ngramJaccardPairsAgainst(
          corpus.filter(col("doc_id") % 7 === 0),
          corpus.filter(col("doc_id") % 7 =!= 0),
          "doc_id", "text", 3, tau)
        .select("a", "b", "jaccard").as[(Long, Long, Double)].collect().toSet
      assert(inc == brute, s"tau=$tau")
      val admitted = Dedup.admitNew(
          corpus.filter(col("doc_id") % 7 === 0),
          corpus.filter(col("doc_id") % 7 =!= 0),
          "doc_id", "text", 3, tau)
        .as[Long].collect().toSet
      val probeIds = corpus.filter(col("doc_id") % 7 === 0)
        .select("doc_id").as[Long].collect().toSet
      assert(admitted == probeIds -- brute.map(_._1), s"tau=$tau admit")
    }
  }

  test("shingle store: probe parity with inline path, append maintenance, pruned probe scan") {
    // the persisted dedup index must serve the identical pair relation
    // the inline (re-shingle-the-corpus) path computes, and appending a
    // batch must equal having built the store over the union
    val corpus = Tables.documents(spark, sf0001)
    val probe = corpus.filter(col("doc_id") % 7 === 0)
    val standing = corpus.filter(col("doc_id") % 7 =!= 0)
    val dir = java.nio.file.Files.createTempDirectory("graftshst")
      .resolve("store").toString
    Dedup.writeShingleStore(standing, "doc_id", "text", 3, dir, buckets = 16)
    val store = Dedup.openShingleStore(spark, dir)
    assert(store.k == 3 && store.buckets == 16)
    for (tau <- Seq(0.3, 0.6)) {
      val inline = Dedup.ngramJaccardPairsAgainst(probe, standing,
          "doc_id", "text", 3, tau)
        .select("a", "b", "jaccard").as[(Long, Long, Double)].collect().toSet
      val stored = Dedup.ngramJaccardPairsAgainstStore(probe, store,
          "doc_id", "text", tau)
        .select("a", "b", "jaccard").as[(Long, Long, Double)].collect().toSet
      assert(stored == inline, s"tau=$tau")
      // the one-pass size-banded probe serves the SAME pair relation —
      // its candidate superset differs but the exact jaccard filter is
      // the same final cut
      val banded = Dedup.ngramJaccardPairsAgainstStoreBand(probe, store,
          "doc_id", "text", tau)
        .select("a", "b", "jaccard").as[(Long, Long, Double)].collect().toSet
      assert(banded == inline, s"tau=$tau band")
      val admitted = Dedup.admitNewAgainstStore(probe, store,
          "doc_id", "text", tau).as[Long].collect().toSet
      val want = Dedup.admitNew(probe, standing, "doc_id", "text", 3, tau)
        .as[Long].collect().toSet
      assert(admitted == want, s"tau=$tau admit")
      val admittedBand = Dedup.admitNewAgainstStore(probe, store,
          "doc_id", "text", tau, band = true).as[Long].collect().toSet
      assert(admittedBand == want, s"tau=$tau band admit")
    }
    // maintenance: append half the batch, then the appended docs must be
    // probe-able — store == fresh store over standing ∪ appended
    val appended = probe.filter(col("doc_id") % 2 === 0)
    Dedup.appendShingleStore(spark, dir, appended, "doc_id", "text")
    val after = Dedup.openShingleStore(spark, dir)
    val dir2 = java.nio.file.Files.createTempDirectory("graftshst2")
      .resolve("store").toString
    Dedup.writeShingleStore(standing.union(appended), "doc_id", "text", 3,
      dir2, buckets = 16)
    val fresh = Dedup.openShingleStore(spark, dir2)
    val rows = (s: Dedup.ShingleStore) => s.post
      .select("doc", "shingle", "sz", "pb")
      .as[(Long, String, Long, Int)].collect().toSet
    assert(rows(after) == rows(fresh))
    // the probe's store scans must carry the bucket key as a PARTITION
    // filter (the pruning a 100 TB store depends on)
    val plan = Dedup.ngramJaccardPairsAgainstStore(probe, after,
        "doc_id", "text", 0.3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(pb"),
      "store probe lost its bucket partition key")
    // pruneBuckets: a one-doc probe pins its bucket set as a LITERAL
    // partition filter — the store scan reads only those buckets, and
    // the relation is unchanged (lossless)
    val one = probe.orderBy("doc_id").limit(1)
    val prunedDf = Dedup.ngramJaccardPairsAgainstStore(one, after,
      "doc_id", "text", 0.3, pruneBuckets = true)
    val prunedPlan = prunedDf.queryExecution.executedPlan.toString
    assert(prunedPlan.contains("INSET") || prunedPlan.contains(" IN ("),
      "pruneBuckets did not reach PartitionFilters")
    val unpruned = Dedup.ngramJaccardPairsAgainstStore(one, after,
        "doc_id", "text", 0.3)
      .select("a", "b", "jaccard").as[(Long, Long, Double)].collect().toSet
    assert(prunedDf.select("a", "b", "jaccard")
      .as[(Long, Long, Double)].collect().toSet == unpruned)
  }

  test("store probes: forced probe-side Bloom prefilter is lossless (r18)") {
    // the Bloom prefilter self-disables while the probe fits the
    // broadcast budget (the bench shape); force the scale shape by
    // shrinking the budget to 1 byte and pin that both store paths
    // still serve the identical pair relation — no false negatives,
    // false positives rejected by the exact join
    // a NARROW probe (1/29 of docs) vs the whole standing corpus so the
    // batch:store byte ratio passes the helper's 1:8 gate at sf0.001
    val corpus = Tables.documents(spark, sf0001)
    val probe = corpus.filter(col("doc_id") % 29 === 0)
    val standing = corpus.filter(col("doc_id") % 29 =!= 0)
    val dir = java.nio.file.Files.createTempDirectory("graftshbl")
      .resolve("store").toString
    Dedup.writeShingleStore(standing, "doc_id", "text", 3, dir, buckets = 16)
    val store = Dedup.openShingleStore(spark, dir)
    val inline = Dedup.ngramJaccardPairsAgainst(probe, standing,
        "doc_id", "text", 3, 0.3)
      .select("a", "b", "jaccard").as[(Long, Long, Double)].collect().toSet
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "1")
    try {
      val band = Dedup.ngramJaccardPairsAgainstStoreBand(probe, store,
        "doc_id", "text", 0.3)
      // the filter must actually be IN the forced plan (a native
      // might_contain Filter over the store scan, no UDF), not just not
      // break anything
      val plan = band.queryExecution.executedPlan.toString
      assert(plan.contains("might_contain("),
        "forced Bloom prefilter missing from the band probe plan")
      assert(!plan.contains("UDF("), s"Bloom prefilter runs a UDF:\n$plan")
      assert(band.select("a", "b", "jaccard")
        .as[(Long, Long, Double)].collect().toSet == inline, "band+bloom")
      val pref = Dedup.ngramJaccardPairsAgainstStore(probe, store,
          "doc_id", "text", 0.3)
        .select("a", "b", "jaccard").as[(Long, Long, Double)].collect().toSet
      assert(pref == inline, "prefix+bloom")
    } finally spark.conf.set(key, prev)
  }

  /** A shingle store over the sf0.001 corpus (docs not ≡ 0 mod 7) plus
    * planted docs, written in two files per bucket, and a probe of the
    * other docs plus edge rows. k = 3: `plant(t, n)` is n tokens, n − 2
    * shingles. Planted, probe against store:
    *  - 1 vs 2: 8 and 8 shingles, 6 shared, J = 6 / 10 = 0.6 exactly;
    *  - 3 vs 4: 5 and 8 shingles, 3 shared, J = 3 / 10 = 0.3 exactly;
    *  - 5: an empty string, its one shingle "" also in the store (J = 1);
    *  - 6: null text; 7: no shingle in the store;
    *  - a null id with the text of a store doc. */
  private def admissionFixture(prefix: String): (DataFrame, Dedup.ShingleStore) = {
    val corpus = Tables.documents(spark, sf0001).select("doc_id", "text")
    def plant(t: String, n: Int) = (1 to n).map(i => s"$t$i").mkString(" ")
    val planted = Seq[(java.lang.Long, String)](
      (900001L, plant("p", 10)), (900003L, plant("q", 10)), (900005L, ""))
      .toDF("doc_id", "text")
    val probeRows = Seq[(java.lang.Long, String)](
      (800001L, plant("p", 8) + " x1 x2"), (800003L, plant("q", 5) + " z1 z2"),
      (800005L, ""), (800006L, null), (800007L, "never seen words in this store"),
      (null, plant("p", 10))).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory(prefix).resolve("store").toString
    Dedup.writeShingleStore(corpus.filter(col("doc_id") % 7 =!= 0 && col("doc_id") % 2 === 0),
      "doc_id", "text", 3, dir, buckets = 16)
    Dedup.appendShingleStore(spark, dir,
      corpus.filter(col("doc_id") % 7 =!= 0 && col("doc_id") % 2 =!= 0).union(planted),
      "doc_id", "text")
    (corpus.filter(col("doc_id") % 7 === 0).union(probeRows), Dedup.openShingleStore(spark, dir))
  }

  /** Admitted ids as sorted strings, null ids included. */
  private def admittedIds(df: DataFrame): Seq[String] =
    df.collect().map(r => String.valueOf(r.get(0))).sorted.toSeq

  test("store admission on the driver equals the distributed paths") {
    val (probe, store) = admissionFixture("graftadmit")
    val filesPerBucket = store.post.inputFiles.groupBy(f => f.take(f.lastIndexOf('/')))
    assert(filesPerBucket.size == 16 && filesPerBucket.values.forall(_.length >= 2),
      "a bucket lacks its appended file")
    for (tau <- Seq(0.3, 0.6); band <- Seq(false, true)) {
      val onDriver = Dedup.admitNewAgainstStore(probe, store, "doc_id", "text", tau, band = band)
      assert(onDriver.queryExecution.analyzed
        .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation],
        s"tau=$tau band=$band: the batch was not answered on the driver")
      val distributed = Dedup.admitNewAgainstStore(probe, store, "doc_id", "text", tau,
        pruneBuckets = false, band = band, pinBudgetRows = 0L)
      val got = admittedIds(onDriver)
      assert(got == admittedIds(distributed), s"tau=$tau band=$band")
      // the planted rows: exact-τ pairs drop, null text, unseen shingles
      // and a null id are admitted, the empty string meets its twin
      assert(got.contains("null") && got.contains("800006") && got.contains("800007") &&
        !got.contains("800005") && !got.contains("800001"), s"tau=$tau band=$band")
      assert(got.contains("800003") == (tau > 0.3), s"tau=$tau band=$band")
    }
  }

  test("store admission falls back when the batch fits the budget but its postings do not") {
    // a hot store: 200 copies of one text, so each of the batch's few
    // shingles matches 200 postings
    val hot = (1 to 10).map(i => s"h$i").mkString(" ")
    val dir = java.nio.file.Files.createTempDirectory("graftadmitover").resolve("store").toString
    Dedup.writeShingleStore(spark.range(1, 201).select(col("id").as("doc_id"), lit(hot).as("text")),
      "doc_id", "text", 3, dir, buckets = 4)
    val store = Dedup.openShingleStore(spark, dir)
    // 8 + 5 distinct shingles, within a budget of 100; 1600 postings, past it
    val probe = Seq[(java.lang.Long, String)](
      (1001L, hot), (1002L, "a fresh text the store never saw")).toDF("doc_id", "text")
    for (band <- Seq(false, true)) {
      val fallback = Dedup.admitNewAgainstStore(probe, store, "doc_id", "text", 0.3,
        pruneBuckets = false, band = band, pinBudgetRows = 100L)
      assert(!fallback.queryExecution.analyzed
        .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation],
        s"band=$band: the postings fit the budget after all")
      assert(admittedIds(fallback) == Seq("1002"), s"band=$band")
      assert(admittedIds(Dedup.admitNewAgainstStore(probe, store, "doc_id", "text", 0.3,
        band = band)) == Seq("1002"), s"band=$band")
    }
  }

  test("store admission of a small batch runs at most 2 jobs and pins nothing") {
    val (probe, store) = admissionFixture("graftadmitjobs")
    // the batch as an ingest holds it: rows on the driver
    val batch = probe.collect().map(r => (r.getAs[java.lang.Long](0), r.getString(1)))
      .toSeq.toDF("doc_id", "text")
    var out = Seq.empty[String]
    val pinned = pinnedDuring {
      val (ids, jobs) = jobsOf(admittedIds(
        Dedup.admitNewAgainstStore(batch, store, "doc_id", "text", 0.3)))
      assert(jobs <= 2, s"$jobs jobs")
      info(s"$jobs jobs")
      out = ids
    }
    assert(pinned.isEmpty, s"pinned RDDs $pinned")
    assert(out == admittedIds(Dedup.admitNewAgainstStore(batch, store, "doc_id", "text", 0.3,
      pruneBuckets = false, band = false, pinBudgetRows = 0L)))
  }

  test("prefix-filtered jaccard candidate volume stays below quadratic") {
    // rarest-first prefixes must exclude the hot-shingle explosion: on
    // the real corpus the prefix self-join's candidate count is a small
    // fraction of n*(n-1)/2
    val corpus = Tables.documents(spark, sf0001)
    val n = corpus.count()
    val brutePairs = n * (n - 1) / 2
    val cand = Dedup.ngramJaccardPrefixCandidates(
      corpus, "doc_id", "text", 3, 0.3).count()
    assert(cand < brutePairs / 10,
      s"candidates $cand vs quadratic $brutePairs")
  }

  test("edit-distance pairs == brute-force levenshtein (lossless)") {
    // the PassJoin segment path must return the IDENTICAL relation
    // to the all-pairs cross join, including the short band (strings
    // under k+1 chars) and the mixed short/long boundary
    val strs = Seq(
      (0L, "spark analytics engine"),
      (1L, "spark analytcs engine"),    // 1 deletion from 0
      (2L, "spark analytics engines"),  // 1 insertion from 0
      (3L, "flink analytics engine"),   // 4 subs from 0
      (4L, "ab"), (5L, "ac"), (6L, "abc"), (7L, "xyz"),  // short band
      (8L, "abcdefgh"), (9L, "abcdefghi"),  // straddle shortLen=9 at k=2,q=3
      (10L, "")                         // empty string edge
    ).toDF("doc_id", "s")
    for (k <- Seq(0, 1, 2, 3)) {
      val brute = strs.as("x").join(strs.as("y"),
          col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
          levenshtein(col("x.s"), col("y.s")).as("dist"))
        .filter(col("dist") <= k)
        .as[(Long, Long, Int)].collect().toSet
      val fast = Dedup.editDistancePairs(strs, "doc_id", "s", k)
        .as[(Long, Long, Int)].collect().toSet
      assert(fast == brute, s"k=$k")
    }
    // real corpus: 32-char document prefixes, where near-dup docs give
    // genuine small-distance pairs
    val corpus = Tables.documents(spark, sf0001)
      .select(col("doc_id"), substring(col("text"), 1, 32).as("s"))
    val brute = corpus.as("x").join(corpus.as("y"),
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        levenshtein(col("x.s"), col("y.s")).as("dist"))
      .filter(col("dist") <= 4)
      .as[(Long, Long, Int)].collect().toSet
    val fast = Dedup.editDistancePairs(corpus, "doc_id", "s", 4)
      .as[(Long, Long, Int)].collect().toSet
    assert(fast == brute && brute.nonEmpty)
  }

  test("edit-distance candidate volume stays below quadratic") {
    // the count filter must discard most of n*(n-1)/2 before the
    // levenshtein verify
    val corpus = Tables.documents(spark, sf0001)
      .select(col("doc_id"), substring(col("text"), 1, 32).as("s"))
    val n = corpus.count()
    val cand = Dedup.editCandidates(corpus, "doc_id", "s", 2).count()
    assert(cand < n * (n - 1) / 2 / 10,
      s"candidates $cand vs quadratic ${n * (n - 1) / 2}")
  }

  test("simHash64 pairs == brute-force hamming (scale variant)") {
    val sh = Dedup.simHash64(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    assert(sh(0L) == sh(1L) && sh(0L) == sh(4L))
    val brute = (for {
      a <- sh.keys; b <- sh.keys if a < b
    } yield (a, b, java.lang.Long.bitCount(sh(a) ^ sh(b)))).toSet
    Seq(0, 3, 10).foreach { d =>
      val got = Dedup.simHash64Pairs(docs, "doc_id", "text", d)
        .as[(Long, Long, Int)].collect().toSet
      assert(got == brute.filter(_._3 <= d), s"maxDist=$d")
    }
  }

  test("cosineLshPairs: exact precision, catches near-parallel vectors") {
    val emb = Seq(
      (0L, Seq(1f, 0f, 0f, 0f)), (1L, Seq(0.999f, 0.01f, 0f, 0f)),
      (2L, Seq(0f, 1f, 0f, 0f)), (3L, Seq(-1f, 0f, 0f, 0f))
    ).toDF("vec_id", "embedding")
    val planes = Similarity.hyperplanes(6, 4)
    val exact = Dedup.cosinePairs(emb, "vec_id", "embedding", 0.99)
      .select("a", "b").as[(Long, Long)].collect().toSet
    val got = Dedup.cosineLshPairs(emb, "vec_id", "embedding", planes, 0.99)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(got.subsetOf(exact))
    assert(got.contains((0L, 1L))) // near-parallel: same sign pattern
  }

  test("winnowing fingerprints: guarantee, determinism, and pair join") {
    val fps = Dedup.winnowFingerprints(docs, "doc_id", "text", 3, 4)
      .as[(Long, Long)].collect().groupBy(_._1).view
      .mapValues(_.map(_._2).toSet).toMap
    // identical docs → identical fingerprint sets; every doc has ≥ 1
    assert(fps(0L) == fps(1L))
    (0L to 4L).foreach(d => assert(fps(d).nonEmpty, s"doc $d"))
    // winnowing selects a subset of the gram hashes (density ~2/(w+1))
    val nGrams = 9 - 3 + 1
    assert(fps(0L).size < nGrams)
    // the MOSS guarantee: docs 0 and 2 share the 7-token run
    // "the quick brown fox jumps over" + "lazy dog" tail — a shared run
    // of ≥ k+w−1 = 6 tokens must yield ≥ 1 shared fingerprint
    assert((fps(0L) & fps(2L)).nonEmpty)
    val pairs = Dedup.winnowPairs(docs, "doc_id", "text", 3, 4, minShared = 1L)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
    // maxFpDf = 1 drops every fingerprint shared by ≥ 2 docs → no pairs
    val capped = Dedup.winnowPairs(docs, "doc_id", "text", 3, 4,
      minShared = 1L, maxFpDf = Some(1L))
    assert(capped.isEmpty)
  }

  test("winnowing MOSS guarantee holds on randomized docs (property)") {
    // property: if two docs share a contiguous token run of length
    // ≥ k+w−1 (k=3, w=4 ⇒ 6), they MUST share ≥ 1 fingerprint —
    // the selection-window argument of the MOSS paper. 40 randomized
    // pairs with the shared run spliced at random offsets, one job.
    val rnd = new scala.util.Random(20260812L)
    val vocab = ('a' to 'z').map(_.toString)
    def doc(n: Int): Seq[String] = Seq.fill(n)(vocab(rnd.nextInt(vocab.size)))
    val rows = (0 until 40).flatMap { i =>
      val run = doc(6 + rnd.nextInt(4))
      def splice(body: Seq[String]): String = {
        val at = rnd.nextInt(body.size + 1)
        (body.take(at) ++ run ++ body.drop(at)).mkString(" ")
      }
      Seq((2L * i, splice(doc(10 + rnd.nextInt(30)))),
        (2L * i + 1, splice(doc(10 + rnd.nextInt(30)))))
    }
    val fps = Dedup.winnowFingerprints(rows.toDF("doc_id", "text"),
        "doc_id", "text", 3, 4)
      .as[(Long, Long)].collect().groupBy(_._1).view
      .mapValues(_.map(_._2).toSet).toMap
    (0 until 40).foreach { i =>
      val shared = fps(2L * i) & fps(2L * i + 1)
      assert(shared.nonEmpty, s"pair $i shares a ≥6-token run but no fingerprint")
    }
  }

  test("duplicateSpans closed forms: cross-doc run, within-doc repeat, gap break, sub-k clamp") {
    // k=3, minCount=2. Planted structure:
    //  docs 1&2 share the 4-token run "a b c d" → grams "a b c"/"b c d"
    //    duplicated → one merged span each;
    //  doc 3 repeats "p q r s" → dup positions {0,1,4,5}, gap 4−1=3 ≤ k
    //    → ONE span covering the whole doc;
    //  doc 4 repeats "m n o" at positions 0 and 8, gap 8 > k → TWO spans;
    //  docs 6&7 are identical 2-token docs (< k) → the truncated gram is
    //    duplicated, span end clamps to the last token;
    //  doc 5 shares nothing → no rows.
    val docs = Seq(
      (1L, "x1 a b c d x2 x3"),
      (2L, "y1 y2 a b c d y3"),
      (3L, "p q r s p q r s"),
      (4L, "m n o g1 g2 g3 g4 g5 m n o"),
      (5L, "unique tokens here nothing shared ever"),
      (6L, "a b"),
      (7L, "a b"),
      (8L, "z z z z z z z z")).toDF("doc_id", "text")
    val got = Dedup.duplicateSpans(docs, "doc_id", "text", k = 3, minCount = 2L)
      .as[(Long, Long, Long, Long)].collect()
      .groupBy(_._1).view
      .mapValues(_.map(t => (t._2, t._3, t._4)).sortBy(_._1).toSeq).toMap
    assert(got(1L) == Seq((1L, 4L, 2L)))
    assert(got(2L) == Seq((2L, 5L, 2L)))
    assert(got(3L) == Seq((0L, 7L, 4L)))
    assert(got(4L) == Seq((0L, 2L, 1L), (8L, 10L, 1L)))
    assert(!got.contains(5L))
    assert(got(6L) == Seq((0L, 1L, 1L)) && got(7L) == Seq((0L, 1L, 1L)))
    // doc 8: "z z z" at every position 0..5 (count 6) → one whole-doc span
    assert(got(8L) == Seq((0L, 7L, 6L)))
    // hot-gram cap: maxGramDf=4 drops the count-6 boilerplate gram while
    // the count-2 planted runs survive
    val capped = Dedup.duplicateSpans(docs, "doc_id", "text", k = 3,
        minCount = 2L, maxGramDf = Some(4L))
      .select("doc").as[Long].collect().toSet
    assert(!capped.contains(8L) && capped.contains(1L) && capped.contains(4L))
  }

  test("duplicateSpans matches a brute-force postings oracle (property)") {
    // randomized docs over a tiny vocab (dense duplicate structure);
    // oracle recomputes postings + run merge in plain Scala
    val k = 3
    val rnd = new scala.util.Random(20260812L)
    val vocab = Seq("aa", "bb", "cc", "dd", "ee", "ff")
    val rows = (0 until 15).map { i =>
      val n = 1 + rnd.nextInt(12)
      (i.toLong, Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val grams = rows.flatMap { case (id, text) =>
      val ts = text.split("\\s+").toSeq
      (0 to math.max(ts.size - k, 0)).map(i =>
        (id, i, ts.slice(i, i + k).mkString(" "), ts.size))
    }
    val counts = grams.groupBy(_._3).view.mapValues(_.size).toMap
    val want = grams.filter(g => counts(g._3) >= 2).groupBy(_._1).map {
      case (id, gs) =>
        val nt = gs.head._4
        val poss = gs.map(_._2).sorted
        val spans = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
        var start = poss.head; var last = poss.head; var cnt = 0
        def emit(): Unit = spans +=
          ((start.toLong, math.min(last + k - 1, nt - 1).toLong, cnt.toLong))
        for (p <- poss) {
          if (p - last > k) { emit(); start = p; cnt = 0 }
          last = p; cnt += 1
        }
        emit()
        id -> spans.toSeq
    }
    val got = Dedup.duplicateSpans(rows.toDF("doc_id", "text"), "doc_id",
        "text", k = k, minCount = 2L)
      .as[(Long, Long, Long, Long)].collect()
      .groupBy(_._1).view
      .mapValues(_.map(t => (t._2, t._3, t._4)).sortBy(_._1).toSeq).toMap
    assert(got == want)
    // spans within a doc are sorted and non-overlapping
    got.values.foreach { spans =>
      spans.sliding(2).foreach {
        case Seq((_, e1, _), (s2, _, _)) => assert(s2 > e1)
        case _ =>
      }
    }
  }

  test("cosine pairs and keep-first dedup") {
    val emb = Seq(
      (0L, Seq(1f, 0f)), (1L, Seq(1f, 0.001f)), (2L, Seq(0f, 1f))
    ).toDF("vec_id", "embedding")
    val pairs = Dedup.cosinePairs(emb, "vec_id", "embedding", 0.99)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((0L, 1L)))
    val kept = Dedup.keepFirst(emb, "vec_id",
        Dedup.cosinePairs(emb, "vec_id", "embedding", 0.99))
      .as[Long].collect().toSet
    assert(kept == Set(0L, 2L))
  }

  test("semanticDedup: keep set equals the within-cluster keep-first oracle") {
    // SemDeDup's contract: b dropped iff a same-cluster smaller id has
    // cosine > tau — recomputed here via the independent cosinePairs +
    // exact assignment; and the kept set always contains each
    // duplicate neighbourhood's min id
    val emb = Tables.embeddings(spark, sf0001)
    val cents = Similarity.ivfTrain(emb, "vec_id", "embedding", 8, iters = 0)
    val kept = Dedup.semanticDedup(emb, "vec_id", "embedding", cents, 0.4)
      .as[Long].collect().toSet
    val assigned = emb.select(col("vec_id"),
        Similarity.ivfListId(col("embedding"), cents).as("list_id"))
      .as[(Long, Long)].collect().toMap
    val dupPairs = Dedup.cosinePairs(emb, "vec_id", "embedding", 0.4)
      .select("a", "b").as[(Long, Long)].collect()
    val droppedWant = dupPairs
      .filter { case (a, b) => assigned(a) == assigned(b) }
      .map(_._2).toSet
    val all = emb.select("vec_id").as[Long].collect().toSet
    assert(kept == all -- droppedWant,
      "semanticDedup keep set diverged from the within-cluster oracle")
    // min id of every same-cluster duplicate pair survives
    assert(dupPairs.filter(p => assigned(p._1) == assigned(p._2))
      .forall(p => kept(p._1) || droppedWant(p._1)))
    // the pair join is cluster-keyed: no cross-cluster comparison shape
    val plan = Dedup.semanticDedup(emb, "vec_id", "embedding", cents, 0.4)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"semanticDedup must join on the cluster key, not all-pairs:\n$plan")
  }

  test("semanticDecontam: survivors equal the brute cosine sweep; eval broadcast, map-only") {
    // contract: a training row is dropped iff its cosine against ANY
    // eval row exceeds tau — recomputed brutally here; survivors ∪
    // dropped partition the training set
    val emb = Tables.embeddings(spark, sf0001)
    val train = emb.filter(col("vec_id") % 23 =!= 0)
    val eval = emb.filter(col("vec_id") % 23 === 0)
    val surv = Dedup.semanticDecontam(train, "vec_id", "embedding",
      eval, "embedding", 0.4)
    val got = surv.as[Long].collect().toSet
    val vecs = emb.select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect().toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d, na, nb = 0d; var i = 0
      while (i < a.length) { d += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i); i += 1 }
      if (na * nb == 0) 0d else d / (math.sqrt(na) * math.sqrt(nb))
    }
    val evalVs = vecs.filter(_._1 % 23 == 0).values.toArray
    val want = vecs.keySet.filter(_ % 23 != 0)
      .filterNot(id => evalVs.exists(ev => cos(vecs(id), ev) > 0.4))
    assert(got == want, "semanticDecontam survivors diverged from brute sweep")
    assert(got.nonEmpty && got.size < vecs.count(_._1 % 23 != 0),
      "fixture is vacuous: nothing dropped or nothing kept")
    // scale shape: eval broadcast into a map-only anti probe — no
    // exchange of the training side, no cartesian
    val plan = surv.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct") &&
      !"Exchange hashpartitioning".r.findFirstIn(plan).isDefined,
      s"semanticDecontam must broadcast eval over a map-only train scan:\n$plan")
  }

  test("semanticDecontamStore == semanticDecontam (exact bound-pruned probe)") {
    val emb = Tables.embeddings(spark, sf0001)
    val train = emb.filter(col("vec_id") % 23 =!= 0)
    val eval = emb.filter(col("vec_id") % 23 === 0)
      .select("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graftevalstore")
      .toString + "/store"
    Dedup.writeEvalStore(eval, "vec_id", "embedding", 16, dir)
    val store = Dedup.openEvalStore(spark, dir)
    for (tau <- Seq(0.4, 0.9)) {
      val got = Dedup.semanticDecontamStore(train, "vec_id", "embedding",
        store, tau).as[Long].collect().toSet
      val want = Dedup.semanticDecontam(train, "vec_id", "embedding",
        eval, "embedding", tau).as[Long].collect().toSet
      assert(got == want,
        s"tau=$tau missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
    }
    // candidate formation is list-keyed against the store rows, not an
    // all-pairs sweep of the eval set: a hash semi-join on the list key
    // must appear, and nothing cartesian
    val plan = Dedup.semanticDecontamStore(train, "vec_id", "embedding",
      store, 0.4).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") &&
      plan.contains("LeftSemi") && !plan.contains("CartesianProduct"),
      s"store probe must semi-join store rows on the list key:\n$plan")
  }

  test("semanticDecontamStore: zero-norm rows follow the cos-0 convention") {
    // a zero train vector survives (cos defined 0 <= any nonneg tau);
    // a zero eval vector contaminates nothing
    val train = Seq(
      (1L, Array(0f, 0f, 0f)), (2L, Array(1f, 0f, 0f)),
      (3L, Array(0f, 1f, 0f))).toDF("vec_id", "embedding")
    val eval = Seq((100L, Array(2f, 0f, 0f)), (101L, Array(0f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graftevalstore0")
      .toString + "/store"
    Dedup.writeEvalStore(eval, "vec_id", "embedding", 4, dir)
    val store = Dedup.openEvalStore(spark, dir)
    val got = Dedup.semanticDecontamStore(train, "vec_id", "embedding",
      store, 0.5).as[Long].collect().toSet
    assert(got == Set(1L, 3L), s"got $got")  // id 2 is cos-1 with eval 100
    val want = Dedup.semanticDecontam(train, "vec_id", "embedding",
      eval.select("embedding"), "embedding", 0.5)
      .as[Long].collect().toSet
    assert(got == want, "zero-norm parity with the broadcast path broke")
    intercept[IllegalArgumentException] {
      Dedup.semanticDecontamStore(train, "vec_id", "embedding", store, -0.1)
    }
  }

  test("clusterIds computes the transitive closure of the pair graph") {
    // chain 10-11-12-13, triangle-by-shared-partner 1-3 / 2-3, pair 20-21
    val pairs = Seq((10L, 11L), (11L, 12L), (12L, 13L),
      (1L, 3L), (2L, 3L), (20L, 21L)).toDF("a", "b")
    val got = Dedup.clusterIds(pairs)
      .as[(Long, Long)].collect().toMap
    // oracle: brute-force transitive closure on the collected edges
    val edges = Seq((10L, 11L), (11L, 12L), (12L, 13L),
      (1L, 3L), (2L, 3L), (20L, 21L))
    val adj = (edges ++ edges.map(_.swap)).groupMap(_._1)(_._2)
    def component(start: Long): Set[Long] = {
      var seen = Set(start); var frontier = Set(start)
      while (frontier.nonEmpty) {
        frontier = frontier.flatMap(n => adj.getOrElse(n, Nil)).diff(seen)
        seen ++= frontier
      }
      seen
    }
    val want = adj.keySet.map(n => n -> component(n).min).toMap
    assert(got == want)
    assert(got(13L) == 10L && got(2L) == 1L && got(21L) == 20L)
    // the driver union-find fast path and the distributed pointer-jump
    // loop are the same contract: identical labels on a random graph
    val rnd = new scala.util.Random(7)
    val randPairs = Seq.fill(120)((rnd.nextInt(60).toLong,
      rnd.nextInt(60).toLong)).filter(p => p._1 != p._2)
      .map(p => (math.min(p._1, p._2), math.max(p._1, p._2)))
      .toDF("a", "b")
    val local = Dedup.clusterIds(randPairs)
      .as[(Long, Long)].collect().toMap
    val distributed = Dedup.clusterIds(randPairs, localBudget = 0L)
      .as[(Long, Long)].collect().toMap
    assert(local == distributed)
  }

  test("removeDuplicateSpans drops exactly the covered tokens") {
    // docs 1 and 2 share a 6-token boilerplate phrase (k=5 → duplicated
    // grams); doc 3 is unique
    val boiler = "the quick brown fox jumps over"
    val docs = Seq(
      (1L, s"alpha1 beta1 $boiler gamma1 delta1 epsilon1"),
      (2L, s"x2 $boiler y2 z2 w2 v2"),
      (3L, "u3 n3 i3 q3 u3b e3 t3 o3 k3 s3")).toDF("doc_id", "text")
    val spans = Dedup.duplicateSpans(docs, "doc_id", "text", 5, 2L)
      .as[(Long, Long, Long, Long)].collect().groupBy(_._1)
    val out = Dedup.removeDuplicateSpans(docs, "doc_id", "text", 5, 2L)
      .select("doc_id", "clean_text", "n_kept_tokens")
      .as[(Long, String, Long)].collect().map(r => r._1 -> r).toMap
    // the boilerplate phrase is gone from both carriers
    assert(!out(1L)._2.contains("quick brown") &&
      !out(2L)._2.contains("quick brown"))
    // removal is exactly the span cover: kept = total − covered
    docs.select("doc_id", "text").as[(Long, String)].collect().foreach {
      case (id, text) =>
        val total = text.split("\\s+").length
        val covered = spans.getOrElse(id, Array.empty)
          .map { case (_, s, e, _) => e - s + 1 }.sum
        assert(out(id)._3 == total - covered, s"doc $id")
    }
    // the unique doc passes through whole
    assert(out(3L)._2 == "u3 n3 i3 q3 u3b e3 t3 o3 k3 s3" && out(3L)._3 == 10L)
  }

  test("removeDuplicateSpansKeepOne keeps the first occurrence only") {
    // docs 1 and 2 share a 6-token boilerplate run; doc 1 is the
    // globally first (doc, pos) posting of every duplicated gram, so
    // doc 1 keeps the phrase and only doc 2 loses it. Doc 3 is unique.
    val boiler = "the quick brown fox jumps over"
    val docs = Seq(
      (1L, s"alpha1 beta1 $boiler gamma1 delta1 epsilon1"),
      (2L, s"x2 $boiler y2 z2 w2 v2"),
      (3L, "u3 n3 i3 q3 u3b e3 t3 o3 k3 s3")).toDF("doc_id", "text")
    val out = Dedup.removeDuplicateSpansKeepOne(docs, "doc_id", "text", 5, 2L)
      .select("doc_id", "clean_text", "n_kept_tokens")
      .as[(Long, String, Long)].collect().map(r => r._1 -> r).toMap
    // the canonical carrier keeps its full text
    assert(out(1L)._2 == s"alpha1 beta1 $boiler gamma1 delta1 epsilon1")
    assert(out(1L)._3 == 11L)
    // the later occurrence is removed
    assert(!out(2L)._2.contains("quick brown") && out(2L)._3 < 11L)
    // unique doc untouched
    assert(out(3L)._3 == 10L)
    // keep-one never removes more than remove-all
    val all = Dedup.removeDuplicateSpans(docs, "doc_id", "text", 5, 2L)
      .select("doc_id", "n_kept_tokens").as[(Long, Long)].collect().toMap
    out.foreach { case (id, (_, _, kept)) => assert(kept >= all(id)) }
  }

  test("decontaminate drops exactly the profile-flagged docs") {
    // eval 3-shingles: "alpha beta gamma", "beta gamma phi";
    // doc0 shares both, doc2 shares one, doc1/doc3 none
    val train = Seq(
      (0L, "alpha beta gamma phi psi"),
      (1L, "epsilon zeta eta theta"),
      (2L, "alpha beta gamma iota"),
      (3L, "unique words only here")).toDF("doc_id", "text")
    val eval = Seq((100L, "alpha beta gamma phi")).toDF("doc_id", "text")
    val prof = Dedup.contaminationProfile(train, eval, "doc_id", "text", 3)
      .as[(Long, Long)].collect().toMap
    assert(prof == Map(0L -> 2L, 1L -> 0L, 2L -> 1L, 3L -> 0L))
    // the user-facing API ≡ anti-join of the flagged profile, for
    // maxShared 1 (drop 0 and 2) and 2 (drop only 0)
    Seq(1L, 2L).foreach { ms =>
      val kept = Dedup.decontaminate(train, eval, "doc_id", "text", 3, ms)
        .select("doc_id").as[Long].collect().toSet
      assert(kept == prof.filter(_._2 < ms).keySet, s"maxShared=$ms")
    }
    // train columns pass through untouched
    val cols = Dedup.decontaminate(train, eval, "doc_id", "text", 3).columns
    assert(cols.toSeq == Seq("doc_id", "text"))
  }

  test("decontamination normalization catches case/punctuation variants") {
    val train = Seq(
      (0L, "The Quick, Brown Fox!"),
      (1L, "entirely unrelated words here"),
      (2L, "— the quick / brown … fox —"),  // standalone punct must not shift the shingle frame
      (3L, "!!! ??? …"),                    // punctuation-only: normalizes to '' → never flagged
      (4L, "你好 世界 测试 数据")).toDF("doc_id", "text") // non-Latin letters survive \p{L}
    val eval = Seq(
      (9L, "the quick brown fox"),
      (10L, "你好 世界 测试"),
      (11L, "?! ?!")).toDF("doc_id", "text") // punct-only eval doc contributes nothing
    val raw = Dedup.contaminationProfile(train, eval, "doc_id", "text", 3)
      .as[(Long, Long)].collect().toMap
    assert(raw(0L) == 0L && raw(1L) == 0L) // casing/punct defeat raw match
    val norm = Dedup.contaminationProfile(train, eval, "doc_id", "text", 3,
        normalize = true)
      .as[(Long, Long)].collect().toMap
    // doc 0 and the punctuation-framed doc 2 both share the 2 trigrams;
    // punctuation-only doc 3 reports 0 (no ''-shingle false positive
    // against the punctuation-only eval doc); the CJK doc matches its
    // eval trigram instead of being deleted by normalization
    assert(norm == Map(0L -> 2L, 1L -> 0L, 2L -> 2L, 3L -> 0L, 4L -> 1L))
    val kept = Dedup.decontaminate(train, eval, "doc_id", "text", 3,
        normalize = true)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L))
  }

  test("semDedup drops ids with a smaller-id same-cluster neighbor above tau") {
    // centroids = first-2 ids: cluster 0 at (1,0) holds {0,2,3}, cluster
    // 1 at (-1,0) holds {1}. Angles: id0 at 0°, id2 at 36°, id3 at 18°
    // → cos(0,3) ≈ cos(2,3) ≈ .951 > τ drops 3; cos(0,2) ≈ .809 ≤ τ
    // keeps BOTH 0 and 2 — pairwise drops, not one-rep-per-group
    val emb = Seq(
      (0L, Seq(1f, 0f)),
      (1L, Seq(-1f, 0f)),
      (2L, Seq(0.809f, 0.588f)),
      (3L, Seq(0.951f, 0.309f))).toDF("vec_id", "embedding")
    val out = Dedup.semDedup(emb, "vec_id", "embedding", 2, 0.9)
      .select("vec_id", "list_id").as[(Long, Long)].collect().toMap
    assert(out.keySet == Set(0L, 1L, 2L))
    assert(out(0L) == 0L && out(2L) == 0L && out(1L) == 1L)
    // τ above every cosine → nothing dropped (output = input)
    val all = Dedup.semDedup(emb, "vec_id", "embedding", 2, 0.999)
      .select("vec_id").as[Long].collect().toSet
    assert(all == Set(0L, 1L, 2L, 3L))
  }

  test("semDedupAuto sizes C from the corpus and matches the explicit path") {
    val e = Tables.embeddings(spark, sf0001)
    val n = e.count()
    val target = 50L
    val auto = Dedup.semDedupAuto(e, "vec_id", "embedding", target, 0.4,
        lloydIters = 1)
      .select("vec_id").as[Long].collect().toSet
    val c = math.ceil(n.toDouble / target).toInt
    val cents = Similarity.ivfTrain(e, "vec_id", "embedding", c, 1)
    assert(cents.length == c)
    val manual = Dedup.semDedupWith(e, "vec_id", "embedding", cents, 0.4)
      .select("vec_id").as[Long].collect().toSet
    assert(auto == manual)
    // kept ⊆ input ids; deterministic across runs
    val ids = e.select(col("vec_id")).as[Long].collect().toSet
    assert(auto.subsetOf(ids) && auto.nonEmpty)
    val again = Dedup.semDedupAuto(e, "vec_id", "embedding", target, 0.4,
        lloydIters = 1)
      .select("vec_id").as[Long].collect().toSet
    assert(again == auto)
  }

  test("keepFirstByCluster keeps one rep per cluster, subset of keepFirst") {
    val docs = Seq(1L, 2L, 3L, 20L, 21L, 99L).toDF("doc_id")
    // A-C and B-C: pairwise keep-first keeps both 1 and 2; cluster
    // keep-first keeps only the component minimum
    val pairs = Seq((1L, 3L), (2L, 3L), (20L, 21L)).toDF("a", "b")
    val byCluster = Dedup.keepFirstByCluster(docs, "doc_id", pairs)
      .as[Long].collect().toSet
    val pairwise = Dedup.keepFirst(docs, "doc_id", pairs)
      .as[Long].collect().toSet
    assert(byCluster == Set(1L, 20L, 99L))
    assert(pairwise == Set(1L, 2L, 20L, 99L))
    assert(byCluster.subsetOf(pairwise))
  }
}

class BpeSpec extends SparkSpec {
  import spark.implicits._

  // the Sennrich et al. running example vocabulary
  private val corpus = Seq(
    (0L, Array.fill(5)("low").mkString(" ")),
    (1L, Array.fill(2)("lower").mkString(" ")),
    (2L, Array.fill(6)("newest").mkString(" ")),
    (3L, Array.fill(3)("widest").mkString(" "))).toDF("doc_id", "text")

  test("BPE training reproduces the classic merge sequence with deterministic ties") {
    val merges = Bpe.train(corpus, "text", 5)
    // weights: (e,s)=9 ties (s,t)=9 and (t,</w>)=9 — lexicographic
    // tie-break picks (e,s); then (es,t)=9, (est,</w>)=9, then the
    // (l,o)=7 / (o,w)=7 tie resolves to (l,o), then (lo,w)=7
    assert(merges == Seq(("e", "s"), ("es", "t"), ("est", Bpe.Eow),
      ("l", "o"), ("lo", "w")))
    // partitioning must not move the result (the corpus pass is one
    // keyed agg; the loop runs on the collected bounded summary)
    assert(Bpe.train(corpus.repartition(7), "text", 5) == merges)
  }

  test("BPE segment applies ranked merges greedily; round-trips the text") {
    val merges = Bpe.train(corpus, "text", 5)
    val unseen = Seq((0L, "lowest slow")).toDF("doc_id", "text")
    val out = Bpe.segment(unseen, "doc_id", "text", merges)
      .select("tokens").as[Seq[String]].head()
    // "lowest" = low + est</w> (the classic result); "slow" has no
    // trained merge covering s+l, so s l o w -> s lo w -> s low
    assert(out == Seq("low", "est" + Bpe.Eow, "s", "low", Bpe.Eow))
    // reconstruction: concatenating symbols and splitting on the EOW
    // marker recovers the original words
    val joined = out.mkString
    assert(joined.split(java.util.regex.Pattern.quote(Bpe.Eow))
      .filter(_.nonEmpty).toSeq == Seq("lowest", "slow"))
  }

  test("distributed pairCounts equals the train loop's first-iteration counts") {
    val dist = Bpe.pairCounts(
        Bpe.initialSegments(Bpe.wordFreq(corpus, "text")))
      .as[(String, String, Long)].collect()
      .map { case (l, r, w) => ((l, r), w) }.toMap
    // local recount from the word-freq fixture
    val wf = Seq("low" -> 5L, "lower" -> 2L, "newest" -> 6L, "widest" -> 3L)
    val local = scala.collection.mutable.HashMap.empty[(String, String), Long]
    wf.foreach { case (w, f) =>
      val syms = w.map(_.toString).toArray :+ Bpe.Eow
      syms.sliding(2).foreach(p =>
        local((p(0), p(1))) = local.getOrElse((p(0), p(1)), 0L) + f)
    }
    assert(dist == local.toMap)
  }

  test("BPE on the real corpus: merges are word-internal and segment counts shrink") {
    val docs = Tables.documents(spark, sf0001)
    val merges = Bpe.train(docs, "text", 30)
    assert(merges.size == 30 && merges.toSet.size == 30)
    val seg = Bpe.segment(docs, "doc_id", "text", merges)
    val charTokens = Bpe.segment(docs, "doc_id", "text", Nil)
    val (withMerges, without) = (
      seg.agg(sum(col("n_tokens"))).head().getLong(0),
      charTokens.agg(sum(col("n_tokens"))).head().getLong(0))
    assert(withMerges < without, s"$withMerges !< $without")
  }

  test("packing by trained-BPE token counts: tokenizer-faithful bins, replayed") {
    // the train → segment → pack composition: sequence packing charged
    // in the REAL training tokenizer's unit (packSequences' pluggable
    // counter), not whitespace words — the layout a p2-style pack must
    // use when the model's context budget is subword tokens
    val docs = Tables.documents(spark, sf0001).limit(200)
    val merges = Bpe.train(docs, "text", 30)
    val withCounts = docs.join(
      Bpe.segment(docs, "doc_id", "text", merges)
        .select(col("doc_id"), col("n_tokens").as("bpe_tokens")),
      "doc_id")
    val packed = Pipeline.packSequences(withCounts, "doc_id", "text",
        capacity = 512, numShards = 4, count = _ => col("bpe_tokens"))
      .select(col("doc_id"), col("shard"), col("n_tokens"), col("bin"))
      .as[(Long, Long, Long, Long)].collect().toSeq
    // bins are charged in BPE tokens, not whitespace words
    val bpeByDoc = withCounts.select(col("doc_id"), col("bpe_tokens"))
      .as[(Long, Long)].collect().toMap
    packed.foreach { case (id, _, n, _) => assert(n == bpeByDoc(id)) }
    // running-sum replay per shard in id order
    packed.groupBy(_._2).foreach { case (_, rows) =>
      var cum = 0L
      rows.sortBy(_._1).foreach { case (_, _, n, bin) =>
        assert(bin == cum / 512, s"bin $bin vs ${cum / 512}")
        cum += n
      }
    }
    // every bin respects capacity in the charged unit except oversized
    // single docs (the standard greedy-concat contract)
    packed.groupBy(r => (r._2, r._4)).foreach { case (_, rows) =>
      val tot = rows.map(_._3).sum
      assert(tot <= 512 + rows.map(_._3).max)
    }
  }
}

class TextOpsSpec extends SparkSpec {
  import spark.implicits._

  test("htmlToText strips subtrees, decodes entities, survives case and <") {
    val cases = Seq(
      // script subtree dies even with < inside and mixed-case tags
      ("<p>a</p><SCRIPT>if (1 < 2) alert('x');</ScRiPt><p>b</p>", "a b"),
      ("<style media=\"x\">p < q { }</style>hello", "hello"),
      ("<!-- <p>not text</p> -->only<br/>this", "only this"),
      // entity decode; &amp;lt; is a LITERAL &lt;, not <
      ("x &amp; y &lt;z&gt; &quot;q&quot; &#39;s&#39; &amp;lt;", "x & y <z> \"q\" 's' &lt;"),
      ("  <div>\n\tspaced   out\n</div>  ", "spaced out"),
      ("no markup at all", "no markup at all"))
    val got = cases.map(_._1).toDF("html")
      .select(operators.TextOps.htmlToText(col("html"))).as[String].collect()
    got.zip(cases.map(_._2)).foreach { case (g, w) => assert(g == w, s"'$g' != '$w'") }
  }

  test("c4LineClean keeps only punctuated, long, unbanned lines") {
    val text = Seq(
      "Good sentence with five words here.",
      "bad no punct line with many words",
      "tiny.",
      "this page needs javascript enabled today.",
      "contains lorem ipsum filler text here.",
      "code { brace } line with words here.",
      "she said \"hello there my good friend.\"",
      "Another proper sentence with six words!").mkString("\n")
    val out = TextOps.c4LineClean(
      Seq((0L, text)).toDF("doc_id", "text"), "doc_id", "text").head()
    assert(out.getAs[Int]("n_lines") == 8)
    assert(out.getAs[Int]("n_kept") == 3)
    assert(out.getAs[String]("clean_text") == Seq(
      "Good sentence with five words here.",
      "she said \"hello there my good friend.\"",
      "Another proper sentence with six words!").mkString("\n"))
  }

  test("bigramCrossEntropy: target-like docs score lower; repartition-invariant") {
    // two disjoint phrase distributions; LM trained on the first. Every
    // A-style doc must have lower cross-entropy than every B-style doc,
    // and the fixed-point sums must not move under repartitioning
    val docs = spark.range(40).selectExpr(
      "id AS doc_id",
      "id < 20 AS tgt",
      "CASE WHEN id < 20 THEN concat('alpha beta gamma delta run ', id % 4) " +
        "ELSE concat('omega sigma theta lambda run ', id % 4) END AS text")
    val ce = TextOps.bigramCrossEntropy(docs, "doc_id", "text", col("tgt"))
      .as[(Long, Double)].collect().toMap
    val (a, b) = (0L until 40L).partition(_ < 20L)
    assert(a.map(ce).max < b.map(ce).min)
    val ce2 = TextOps.bigramCrossEntropy(docs.repartition(7), "doc_id",
      "text", col("tgt")).as[(Long, Double)].collect().toMap
    assert(ce == ce2)
    // a 1-token doc has no bigrams and is absent, not null/-1
    val tiny = spark.range(2).selectExpr("id AS doc_id", "id = 0 AS tgt",
      "CASE WHEN id = 0 THEN 'one two three' ELSE 'solo' END AS text")
    val got = TextOps.bigramCrossEntropy(tiny, "doc_id", "text", col("tgt"))
      .select("doc").as[Long].collect().toSet
    assert(got == Set(0L))
  }

  test("canonicalUrl normalizes every variant class") {
    val cases = Seq(
      "https://example1.com/page7" -> "example1.com/page7",
      "http://www.ExAmPlE3.CoM/Page3/?utm_source=feed&utm_campaign=c#frag"
        -> "example3.com/page3",
      // utm first, real param after: the &->? separator repair
      "https://site.com/p?utm_medium=m&x=1" -> "site.com/p?x=1",
      "https://site.com/p?x=1&utm_medium=m" -> "site.com/p?x=1",
      "http://site.com/p?fbclid=abc" -> "site.com/p",
      "https://WWW.Site.com/a/b///" -> "site.com/a/b",
      // literal '&' in a query-less path must NOT be rewritten to '?'
      "http://site.com/a&b" -> "site.com/a&b",
      // mixed-case tracking params canonicalize too (lowercase-first)
      "http://site.com/p?UTM_SOURCE=f" -> "site.com/p",
      // chained leading tracked params all drop, follower promoted
      "http://site.com/p?utm_a=1&utm_b=2&c=3" -> "site.com/p?c=3")
    val got = cases.map(_._1).toDF("url")
      .select(TextOps.canonicalUrl(col("url"))).as[String].collect()
    cases.map(_._2).zip(got).foreach { case (want, g) =>
      assert(g == want)
    }
  }

  test("urlDuplicates groups collapse variants; group sizes tile the corpus") {
    val out = TextOps.urlDuplicates(TextOps.urlCorpus(spark, 500),
      "doc_id", "url")
    // every row accounted for, canonical id is a member of its group
    assert(out.count() == 500)
    val bad = out.as("x").join(out.as("y"),
        col("x.canonical_id") === col("y.doc_id") &&
          col("x.canonical_url") =!= col("y.canonical_url"))
      .count()
    assert(bad == 0)
    // variants genuinely collide: strictly fewer groups than rows
    val groups = out.select("canonical_url").distinct().count()
    assert(groups < 250, s"groups=$groups")
    // group sizes are consistent per canonical key and sum to n
    val sums = out.select("canonical_url", "group_size").distinct()
      .agg(sum("group_size")).as[Long].head()
    assert(sums == 500L)
  }

  test("c4LineClean: null text counts as one empty (dropped) line") {
    val out = TextOps.c4LineClean(
      Seq((0L, null: String)).toDF("doc_id", "text"), "doc_id", "text").head()
    assert(out.getAs[Int]("n_lines") == 1)
    assert(out.getAs[Int]("n_kept") == 0)
  }

  test("lineCorpus cleaning counts are closed-form in the id") {
    val out = TextOps.c4LineClean(TextOps.lineCorpus(spark, 20),
        "doc_id", "text")
      .select("doc_id", "n_lines", "n_kept").as[(Long, Int, Int)].collect()
    assert(out.length == 20)
    out.foreach { case (id, nl, nk) =>
      assert(nl == 8, s"doc $id n_lines $nl")
      // odd ids carry the banned javascript line; even ids its clean twin
      assert(nk == (if (id % 2 == 1) 4 else 5), s"doc $id n_kept $nk")
    }
  }

  test("bm25 matches a hand computation; absent-term docs excluded") {
    val docs = Seq(
      (0L, "spark spark data filter"),   // tf(spark)=2 tf(data)=1 dl=4
      (1L, "data data data data"),       // tf(data)=4 dl=4
      (2L, "filter sort merge window"),  // no query terms
      (3L, "spark")                      // tf(spark)=1 dl=1
    ).toDF("doc_id", "text")
    val out = TextOps.bm25(docs, "doc_id", "text", Seq("spark", "data"),
        topK = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(!out.contains(2L), "doc without query terms must not score")
    val n = 4.0; val avgdl = (4 + 4 + 4 + 1) / 4.0
    val k1 = 1.2; val b = 0.75
    def idf(df: Double) = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
    def term(tf: Double, dl: Double, df: Double) =
      if (tf == 0) 0.0
      else idf(df) * tf * (k1 + 1.0) / (tf + k1 * (1 - b + b * dl / avgdl))
    def score(tfS: Double, tfD: Double, dl: Double) =
      BigDecimal(term(tfS, dl, 2) + term(tfD, dl, 2))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(0L) == score(2, 1, 4))
    assert(out(1L) == score(0, 4, 4))
    assert(out(3L) == score(1, 0, 1))
  }

  test("token count, subwords, quality bounds") {
    val df = Seq((0L, "Hello, world! This is text.")).toDF("doc_id", "text")
    val p = TextOps.profile(df, "doc_id", "text").head()
    assert(p.getAs[Int]("n_tokens") == 5)
    assert(p.getAs[Int]("n_subwords") == 8) // 5 words + , ! .
    val q = p.getAs[Double]("quality")
    assert(q > 0 && q <= 1)
  }

  test("langId follows marker stopwords with en tie preference") {
    val df = Seq(
      (0L, "the cat and the dog"),
      (1L, "der Hund und die Katze ist"),
      (2L, "le chat et les chiens est la"),
      (3L, "xyzzy plugh"),
      // real (unsegmented) Chinese: no whitespace token ever matches a
      // marker — the CJK-ratio branch must catch it
      (4L, "我是学生的朋友。")).toDF("doc_id", "text")
    val langs = TextOps.profile(df, "doc_id", "text")
      .select("doc_id", "pred_lang").as[(Long, String)].collect().toMap
    assert(langs(0L) == "en" && langs(1L) == "de" && langs(2L) == "fr" && langs(3L) == "en")
    assert(langs(4L) == "zh")
  }

  test("fingerprint is permutation/duplication invariant") {
    val df = Seq((0L, "b a c a"), (1L, "a b c"), (2L, "a b d")).toDF("doc_id", "text")
    val fp = TextOps.profile(df, "doc_id", "text")
      .select("doc_id", "fingerprint").as[(Long, String)].collect().toMap
    assert(fp(0L) == fp(1L) && fp(0L) != fp(2L))
  }

  test("repetitionProfile closed forms") {
    val df = Seq(
      (0L, "x x x x"),     // one repeated token
      (1L, "a b c d"),     // all distinct
      (2L, "a b a b a"),   // alternating
      (3L, "solo")         // short-doc clamp: 1 truncated shingle
    ).toDF("doc_id", "text")
    val p = TextOps.repetitionProfile(df, "doc_id", "text")
      .select("doc", "n_tokens", "dup_token_frac", "top_bigram_frac",
        "dup_trigram_frac")
      .as[(Long, Int, Double, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    // n tokens of one value: dup_token = (n−1)/n, every gram the same
    assert(p(0L) == ((4, 0.75, 1.0, 1.0)))
    // all distinct: no dup tokens, 3 distinct bigrams (top = 1/3), both
    // trigrams unique (dup coverage 0)
    assert(p(1L) == ((4, 0.0, 0.333333, 0.0)))
    // a b a b a: dup 3/5; bigrams {ab×2, ba×2} top 2/4; trigrams
    // {aba×2, bab×1} dup coverage 2/3
    assert(p(2L) == ((5, 0.6, 0.5, 0.666667)))
    // 1-token doc emits ONE truncated shingle per gram size → maximally
    // "repetitive" bigram share (the documented clamp)
    assert(p(3L) == ((1, 0.0, 1.0, 0.0)))
  }

  test("topTerms ranks by count then token") {
    val df = Seq((0L, "b b a a c")).toDF("doc_id", "text")
    val top = TextOps.topTerms(df, "text", 2).as[(String, Long)].collect()
    assert(top.toSeq == Seq(("a", 2L), ("b", 2L)))
  }

  test("PII scan counts planted matches; redaction removes every match") {
    val df = Seq(
      (0L, "mail me at jo.doe+x@sub.example.org or visit https://a.example/p?q=1 then call 555-867-5309 ok"),
      (1L, "no pii here at all")).toDF("doc_id", "text")
    val p = TextOps.piiProfile(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(p(0L) == ((1L, 1L, 1L)))
    assert(p(1L) == ((0L, 0L, 0L)))
    val red = df.select(TextOps.redactPii(col("text")).as("t"))
    val counts = TextOps.piiProfile(red.withColumn("doc_id", lit(0L)), "doc_id", "t")
      .agg(sum("n_emails"), sum("n_urls"), sum("n_phones")).head()
    assert((0 to 2).forall(i => counts.getLong(i) == 0L), s"residual PII: $counts")
    assert(red.as[String].collect().exists(_.contains("[EMAIL]")))

    // the generated corpus plants exactly the closed-form counts
    val corpus = TextOps.piiCorpus(spark, 60)
    val got = TextOps.piiProfile(corpus, "doc_id", "text")
      .as[(Long, Long, Long, Long, Long)].collect()
    got.foreach { case (id, e, u, ph, dr) =>
      assert(e == id % 3 && u == id % 4 && ph == id % 5, s"id=$id")
      assert(dr == 2 * (id % 3) + 2 * (id % 4) + 3 * (id % 5) + 1, s"id=$id runs")
    }
  }
}

class PipelineSpec extends SparkSpec {
  import spark.implicits._

  test("scratch-column guard is case-insensitive, matching Spark's resolver") {
    // withColumn("rep", ...) would replace a caller's 'REP' column under
    // the default case-insensitive resolution — the guard must catch it
    val docs = Tables.documents(spark, sf0001).limit(5)
      .withColumn("REP", lit(1))
    intercept[IllegalArgumentException] {
      Pipeline.rebalanceRepeat(docs, "doc_id", "lang",
        Seq("en" -> 1.0), maxRepeat = 2, salt = "g")
    }
    intercept[IllegalArgumentException] {
      Pipeline.chunkDocuments(Tables.documents(spark, sf0001).limit(5)
          .withColumn("_GRAFT_TS", lit(1)),
        "doc_id", "text", maxTokens = 8, overlap = 2)
    }
  }

  test("hash sampling is deterministic, rate-nested, and order-independent") {
    val docs = Tables.documents(spark, sf0001)
    val a = Pipeline.sample(docs, "doc_id", 0.25, "x")
      .select("doc_id").as[Long].collect().toSet
    val b = Pipeline.sample(docs, "doc_id", 0.25, "x")
      .select("doc_id").as[Long].collect().toSet
    assert(a == b)
    // same salt, higher rate → strict superset (uniforms are shared)
    val wide = Pipeline.sample(docs, "doc_id", 0.5, "x")
      .select("doc_id").as[Long].collect().toSet
    assert(a.subsetOf(wide) && wide.size > a.size)
    // membership survives repartitioning (hash of id, not row position)
    val shuffled = Pipeline.sample(docs.repartition(13), "doc_id", 0.25, "x")
      .select("doc_id").as[Long].collect().toSet
    assert(shuffled == a)
    // ~rate fraction kept (500 docs, generous tolerance)
    assert(math.abs(a.size / 500.0 - 0.25) < 0.08)
  }

  test("z-order clustering prunes the unclustered dimension") {
    // uniform 2-d points: range-partitioning by x alone leaves every
    // partition spanning ALL of y, so a filter on y prunes NOTHING.
    // Z-clustering trades a wider x-span for a bounded y-span (square
    // tiles) — the min/max-skipping claim is that a narrow y-filter
    // intersects only a few partitions' bounding boxes.
    val pts = spark.range(20000).selectExpr(
      "id", "CAST(pmod(hash(id, 1), 1000) AS DOUBLE) AS x",
      "CAST(pmod(hash(id, 2), 1000) AS DOUBLE) AS y")
    def ySurvivors(df: org.apache.spark.sql.DataFrame): (Int, Int) = {
      val boxes = df
        .groupBy(org.apache.spark.sql.functions.spark_partition_id().as("p"))
        .agg(min("y").as("ylo"), max("y").as("yhi"))
        .as[(Int, Double, Double)].collect()
      // partitions whose y-range intersects the filter [100, 110)
      (boxes.count { case (_, lo, hi) => hi >= 100.0 && lo < 110.0 },
        boxes.length)
    }
    val (naiveHit, naiveTot) = ySurvivors(pts.repartitionByRange(16, col("x")))
    val (zHit, zTot) = ySurvivors(Locality.clusterByZ(pts,
      Seq(col("x"), col("y")), Seq((0.0, 1000.0), (0.0, 1000.0)),
      bits = 8, numPartitions = 16))
    assert(naiveHit == naiveTot, s"naive should span y everywhere: $naiveHit/$naiveTot")
    assert(zHit <= zTot / 2, s"z-cluster y-filter pruning: $zHit of $zTot survive")
    // the z-value is deterministic and order-invariant
    val z1 = pts.select(Locality.zValue(Seq(col("x"), col("y")),
      Seq((0.0, 1000.0), (0.0, 1000.0)), 8).as("z"), col("id"))
      .as[(Long, Long)].collect().toSet
    val z2 = pts.repartition(9)
      .select(Locality.zValue(Seq(col("x"), col("y")),
        Seq((0.0, 1000.0), (0.0, 1000.0)), 8).as("z"), col("id"))
      .as[(Long, Long)].collect().toSet
    assert(z1 == z2)
  }

  test("Bloom filter: zero false negatives, bounded deterministic false positives") {
    val members = spark.range(2000).selectExpr("id * 3 AS v")
    val bits = Bloom.build(members, "v", k = 3, mBits = 32768)
    // every member passes (one-sided error)
    val missed = members.filter(!Bloom.mightContain(col("v"), bits, 3, 32768))
      .count()
    assert(missed == 0)
    // non-members: fp rate within ~3x of (1 - e^(-kn/m))^k ≈ 0.43%
    val nonMembers = spark.range(2000).selectExpr("id * 3 + 1 AS v")
    val fps = nonMembers.filter(Bloom.mightContain(col("v"), bits, 3, 32768))
      .count()
    assert(fps < 2000 * 0.013, s"fps=$fps")
    // the bitset is a pure function of the value set — partitioning and
    // duplicates cannot change a single word
    val bits2 = Bloom.build(members.union(members).repartition(13), "v",
      3, 32768)
    assert(bits.toSeq == bits2.toSeq)
  }

  test("bloom auto-sizing: non-saturated FPR at 150k keys where fixed 16384 saturates") {
    // the round-13 sf1 lesson: a fixed 16384-bit filter over 150k keys
    // passes EVERYTHING (faithful, useless); buildSized keeps ~10
    // bits/key so the FPR stays a pre-filter at any n
    val members = spark.range(150000).selectExpr("id * 3 AS v")
    val nonMembers = spark.range(150000).selectExpr("id * 3 + 1 AS v")
    val fixed = Bloom.build(members, "v", k = 3, mBits = 16384)
    val fixedFps = nonMembers
      .filter(Bloom.mightContain(col("v"), fixed, 3, 16384)).count()
    assert(fixedFps > 149000L, s"expected saturation, fps=$fixedFps")
    val (sized, mBits) = Bloom.buildSized(members, "v", k = 3)
    assert(mBits >= 1500000 && mBits % 63 == 0, s"mBits=$mBits")
    val missed = members
      .filter(!Bloom.mightContain(col("v"), sized, 3, mBits)).count()
    assert(missed == 0, "one-sided error violated")
    val fps = nonMembers
      .filter(Bloom.mightContain(col("v"), sized, 3, mBits)).count()
    // (1 - e^(-3/10))^3 ≈ 1.74%; allow 2x
    assert(fps < 150000 * 0.035, s"auto-sized FPR still saturated: $fps")
    // the broadcast-literal contract is enforced, not silently blown
    val huge = spark.range(40000000L).selectExpr("id AS v")
    intercept[IllegalArgumentException] {
      Bloom.buildSized(huge, "v", k = 3)
    }
  }

  test("weightedSamplePerGroup: k per group, weight-proportional, deterministic") {
    val df = spark.range(2000).selectExpr(
      "id AS doc_id", "id % 2 AS grp",
      "CASE WHEN id % 4 < 2 THEN 5.0 ELSE 0.5 END AS w")
    val sel = Pipeline.weightedSamplePerGroup(df, "doc_id", "grp",
      col("w"), k = 250, salt = "t")
    // exactly k per group
    val perGroup = sel.groupBy("grp").count().as[(Long, Long)].collect().toMap
    assert(perGroup.values.toSet == Set(250L))
    // 10x-weight rows dominate the cut (500 heavy vs 500 light per group)
    val heavy = sel.filter(col("w") === 5.0).count()
    assert(heavy > 350, s"heavy=$heavy of 500")
    // deterministic and partition-invariant
    val again = Pipeline.weightedSamplePerGroup(df.repartition(9), "doc_id",
        "grp", col("w"), k = 250, salt = "t")
      .select("doc_id").as[Long].collect().toSet
    assert(again == sel.select("doc_id").as[Long].collect().toSet)
    // non-positive / null weights carry no mass
    val withZero = spark.range(10).selectExpr("id AS doc_id", "0L AS grp",
      "CASE WHEN id < 5 THEN 1.0 ELSE 0.0 END AS w")
    val z = Pipeline.weightedSamplePerGroup(withZero, "doc_id", "grp",
      col("w"), k = 10, salt = "t").select("doc_id").as[Long].collect().toSet
    assert(z == (0L until 5L).toSet)
  }

  test("dsirWeights ranks target-like docs above off-target docs") {
    // two disjoint vocabularies; target flag marks vocabulary A. Every
    // held-out A-style doc must outweigh every B-style doc, and weights
    // must be invariant under repartitioning (fixed-point integer sum)
    val docs = spark.range(40).selectExpr(
      "id AS doc_id",
      "id < 20 AS tgt",
      "CASE WHEN id < 20 THEN concat('alpha beta gamma delta run ', id % 4) " +
        "ELSE concat('omega sigma theta lambda run ', id % 4) END AS text")
    val w = Pipeline.dsirWeights(docs, "doc_id", "text", col("tgt"))
      .as[(Long, Double)].collect().toMap
    val (a, b) = (0L until 40L).partition(_ < 20L)
    assert(a.map(w).min > b.map(w).max)
    val w2 = Pipeline.dsirWeights(docs.repartition(7), "doc_id", "text",
      col("tgt")).as[(Long, Double)].collect().toMap
    assert(w == w2)
  }

  test("dsirSelect returns the top-n cut with deterministic ties") {
    val docs = Tables.documents(spark, sf0001)
    val all = Pipeline.dsirWeights(docs, "doc_id", "text",
        col("lang") === "en")
      .as[(Long, Double)].collect()
      .sortBy { case (id, wt) => (-wt, id) }
    val sel = Pipeline.dsirSelect(docs, "doc_id", "text",
        col("lang") === "en", n = 50)
      .as[(Long, Double)].collect()
      .sortBy { case (id, wt) => (-wt, id) }
    assert(sel.toSeq == all.take(50).toSeq)
  }

  test("split assignment is disjoint, exhaustive, and near the weights") {
    val docs = Tables.documents(spark, sf0001)
    val splits = Pipeline.splitAssign(docs, "doc_id",
        Seq(("train", 0.75), ("val", 0.125), ("test", 0.125)), "sp")
      .groupBy("split").count().as[(String, Long)].collect().toMap
    assert(splits.values.sum == 500L)
    assert(math.abs(splits("train") / 500.0 - 0.75) < 0.08)
    assert(splits.keySet == Set("train", "val", "test"))
  }

  test("sequence packing bins equal the per-shard prefix-sum formula") {
    val docs = Tables.documents(spark, sf0001)
    val got = Pipeline.packSequences(docs, "doc_id", "text", 512, 8)
      .select("doc_id", "shard", "n_tokens", "bin")
      .as[(Long, Long, Int, Long)].collect().sortBy(_._1)
    // recompute sequentially per shard
    val cum = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    got.foreach { case (id, shard, n, bin) =>
      assert(shard == id % 8)
      assert(bin == cum(shard) / 512, s"doc $id")
      cum(shard) += n
    }
    // bins are contiguous from 0 within each shard
    got.groupBy(_._2).foreach { case (_, rows) =>
      val bins = rows.map(_._4).distinct.sorted.toSeq
      assert(bins == (bins.head to bins.last).toSeq)
      assert(bins.head == 0L)
    }
  }

  test("rebalance keeps the limiting domain at rate exactly 1.0") {
    // a: 8 rows, b: 4 rows, targets 50/50 → K = min(8/.5, 4/.5) = 8;
    // b is limiting: rate = .5·8/4 = 1.0 exactly (uniform ∈ [0,1) < 1.0
    // always) — every b row kept; a keeps ≈ half
    val df = ((0L until 8L).map((_, "a")) ++ (8L until 12L).map((_, "b")))
      .toDF("id", "dom")
    val kept = Pipeline.rebalance(df, "id", "dom",
      Seq(("a", 0.5), ("b", 0.5)), "s")
    val byDom = kept.groupBy("dom").count()
      .as[(String, Long)].collect().toMap
    assert(byDom.getOrElse("b", 0L) == 4L, s"limiting domain lost rows: $byDom")
    assert(byDom.getOrElse("a", 0L) <= 8L)
    // deterministic
    val again = Pipeline.rebalance(df, "id", "dom",
      Seq(("a", 0.5), ("b", 0.5)), "s")
    assert(kept.select("id").as[Long].collect().toSet ==
      again.select("id").as[Long].collect().toSet)
  }

  test("rebalance validation and the zero-row-domain limit") {
    val df = Seq((0L, "a"), (1L, "b")).toDF("id", "dom")
    intercept[IllegalArgumentException] {
      Pipeline.rebalance(df, "id", "dom", Seq.empty, "s") }
    intercept[IllegalArgumentException] {
      Pipeline.rebalance(df, "id", "dom", Seq(("a", -0.5), ("b", 1.5)), "s") }
    intercept[IllegalArgumentException] {
      Pipeline.rebalance(df, "id", "dom", Seq(("a", 0.5), ("b", 0.25)), "s") }
    // a target domain with no rows: K = 0 → empty kept set (the
    // mathematically consistent limit), NOT a job abort
    val empty = Pipeline.rebalance(df, "id", "dom",
      Seq(("a", 0.5), ("zz", 0.5)), "s")
    assert(empty.count() == 0L)
    assert(empty.columns.toSeq == Seq("id", "dom"))
  }

  test("rebalanceRepeat upsamples scarce domains up to maxRepeat epochs") {
    // a: 10 rows, b: 2 rows, targets 50/50, maxRepeat 3
    // → K = min(10·3/.5, 2·3/.5) = 12: b rate 3.0 (every row exactly 3
    // copies), a rate 0.6 (each row 0 or 1 copies)
    val df = ((0L until 10L).map((_, "a")) ++ (100L until 102L).map((_, "b")))
      .toDF("id", "dom")
    val out = Pipeline.rebalanceRepeat(df, "id", "dom",
        Seq(("a", 0.5), ("b", 0.5)), maxRepeat = 3, "s")
      .select("id", "dom", "rep").as[(Long, String, Long)].collect()
    val copies = out.groupBy(_._1).view.mapValues(_.length).toMap
    Seq(100L, 101L).foreach { b =>
      assert(copies(b) == 3, s"b row $b copies=${copies.get(b)}")
      assert(out.filter(_._1 == b).map(_._3).sorted.toSeq == Seq(0L, 1L, 2L))
    }
    assert(copies.values.max <= 3)
    (0L until 10L).foreach(a => assert(copies.getOrElse(a, 0) <= 1))
    // deterministic
    val again = Pipeline.rebalanceRepeat(df, "id", "dom",
        Seq(("a", 0.5), ("b", 0.5)), maxRepeat = 3, "s")
      .select("id", "dom", "rep").as[(Long, String, Long)].collect()
    assert(out.sortBy(r => (r._1, r._3)).toSeq ==
      again.sortBy(r => (r._1, r._3)).toSeq)
    // zero-row target domain → empty, same limit as rebalance
    val empty = Pipeline.rebalanceRepeat(df, "id", "dom",
      Seq(("a", 0.5), ("zz", 0.5)), 3, "s")
    assert(empty.count() == 0L)
    intercept[IllegalArgumentException] {
      Pipeline.rebalanceRepeat(df, "id", "dom", Seq(("a", 1.0)), 0, "s") }
  }

  test("temperature targets flatten toward uniform as alpha shrinks") {
    val counts = Map("en" -> 1000000L, "de" -> 10000L, "sw" -> 100L)
    val nat = Pipeline.temperatureTargets(counts, 1.0).toMap
    val t05 = Pipeline.temperatureTargets(counts, 0.5).toMap
    val t01 = Pipeline.temperatureTargets(counts, 0.1).toMap
    // shares sum to 1 within the rebalance tolerance, all alphas
    Seq(nat, t05, t01).foreach(t =>
      assert(math.abs(t.values.sum - 1.0) < 1e-9))
    // alpha = 1 is the natural mixture
    assert(math.abs(nat("en") - 1000000.0 / 1010100.0) < 1e-12)
    // smaller alpha -> low-resource share strictly grows, dominant shrinks
    assert(t05("sw") > nat("sw") && t01("sw") > t05("sw"))
    assert(t05("en") < nat("en") && t01("en") < t05("en"))
    // the targets drive the gated rebalance directly (requires pass)
    val df = ((0L until 90L).map((_, "en")) ++ (90L until 100L).map((_, "sw")))
      .toDF("id", "dom")
    val tg = Pipeline.temperatureTargets(Pipeline.domainCounts(df, "dom"), 0.5)
    val kept = Pipeline.rebalance(df, "id", "dom", tg, "s")
      .groupBy("dom").count().as[(String, Long)].collect().toMap
    // sw (scarce) is the limiting domain at alpha 0.5: kept entirely
    assert(kept.getOrElse("sw", 0L) == 10L)
    intercept[IllegalArgumentException] {
      Pipeline.temperatureTargets(counts, 0.0) }
    intercept[IllegalArgumentException] {
      Pipeline.temperatureTargets(Map("a" -> 0L), 0.5) }
  }

  test("curate composes decontamination and rebalancing stages") {
    // 6 en + 6 de docs of distinct text; the eval set reuses doc 0's
    // text, so decontamination must drop exactly doc 0; rebalancing to
    // 50/50 then makes the 5-doc en side limiting (rate exactly 1.0 —
    // every surviving en doc kept)
    def mk(i: Long) = s"alpha$i beta$i gamma$i delta$i epsilon$i zeta$i"
    val docs = ((0L until 6L).map(i => (i, "en", mk(i))) ++
      (10L until 16L).map(i => (i, "de", mk(i))))
      .toDF("doc_id", "lang", "text")
    val eval = Seq((900L, mk(0))).toDF("doc_id", "text")
    val out = Pipeline.curate(docs, "doc_id", "text",
      evalDocs = Some(eval), domainCol = Some("lang"),
      rebalanceTargets = Seq(("en", 0.5), ("de", 0.5)))
    val ids = out.select("doc_id").as[Long].collect().toSet
    assert(!ids.contains(0L), "contaminated doc survived decontamination")
    assert((1L until 6L).forall(ids.contains),
      s"limiting-domain en docs must all survive rebalance, got $ids")
    assert(out.columns.toSeq ==
      Seq("split", "quality", "lang", "doc_id", "shard", "n_tokens", "bin"))
    // the same corpus without evalDocs/rebalance keeps doc 0 (the p3
    // shape is unchanged by the new optional stages)
    val base = Pipeline.curate(docs, "doc_id", "text")
    assert(base.select("doc_id").as[Long].collect().toSet.contains(0L))
    assert(base.columns.toSeq ==
      Seq("split", "quality", "doc_id", "shard", "n_tokens", "bin"))
    // rebalanceTargets without domainCol is a usage error
    intercept[IllegalArgumentException] {
      Pipeline.curate(docs, "doc_id", "text",
        rebalanceTargets = Seq(("en", 1.0))) }
  }

  test("curateWith over precomputed pairs/clusters equals the self-computing curate") {
    // the pair-reuse API: compute the verified pair relation (and the
    // transitive closure) ONCE, feed three differently-configured
    // pipelines — every output must be row-identical to the
    // self-computing path
    val docs = Tables.documents(spark, sf0001).select("doc_id", "lang", "text")
    val pairs = Pipeline.curatePairs(docs, "doc_id", "text").localCheckpoint()
    val clusters = Dedup.clusterIds(pairs).localCheckpoint()
    val eval = docs.filter(col("doc_id") % 23 === 0)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "split", "shard", "bin")
        .as[(Long, String, Long, Long)].collect().toSet
    // p3 shape (no decontam/rebalance)
    assert(rows(Pipeline.curateWith(docs, "doc_id", "text", pairs)) ==
      rows(Pipeline.curate(docs, "doc_id", "text")))
    // p5 shape (decontam + explicit mixture), sharing pairs AND clusters
    val cfg5self = Pipeline.curate(docs, "doc_id", "text",
      evalDocs = Some(eval), domainCol = Some("lang"),
      rebalanceTargets = Seq(("en", 0.5), ("de", 0.25), ("fr", 0.25)))
    val cfg5shared = Pipeline.curateWith(docs, "doc_id", "text", pairs,
      clusters = Some(clusters), evalDocs = Some(eval),
      domainCol = Some("lang"),
      rebalanceTargets = Seq(("en", 0.5), ("de", 0.25), ("fr", 0.25)))
    assert(rows(cfg5shared) == rows(cfg5self) && rows(cfg5self).nonEmpty)
    // temperature-mixture shape shared too
    assert(rows(Pipeline.curateWith(docs, "doc_id", "text", pairs,
        clusters = Some(clusters), domainCol = Some("lang"),
        mixtureAlpha = Some(0.5))) ==
      rows(Pipeline.curate(docs, "doc_id", "text",
        domainCol = Some("lang"), mixtureAlpha = Some(0.5))))
    // temperature mixture composes with UPSAMPLING too (rep column,
    // deterministic copies), shared artifact still identical
    def rowsRep(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "rep", "split", "shard", "bin")
        .as[(Long, Long, String, Long, Long)].collect().toSet
    val up = Pipeline.curate(docs, "doc_id", "text",
      domainCol = Some("lang"), mixtureAlpha = Some(0.5), maxRepeat = 3)
    assert(up.columns.contains("rep"))
    assert(rowsRep(Pipeline.curateWith(docs, "doc_id", "text", pairs,
        clusters = Some(clusters), domainCol = Some("lang"),
        mixtureAlpha = Some(0.5), maxRepeat = 3)) == rowsRep(up))
    // mixtureAlpha and explicit targets are mutually exclusive
    intercept[IllegalArgumentException] {
      Pipeline.curate(docs, "doc_id", "text", domainCol = Some("lang"),
        rebalanceTargets = Seq(("en", 1.0)), mixtureAlpha = Some(0.5)) }
    intercept[IllegalArgumentException] {
      Pipeline.curate(docs, "doc_id", "text", mixtureAlpha = Some(0.5)) }
  }

  test("chunkDocuments: boundaries, overlap reconstruction, short docs") {
    val docs = Seq((1L, (1 to 100).map(i => s"t$i").mkString(" ")),
      (2L, "a b c")).toDF("doc_id", "text")
    val out = Pipeline.chunkDocuments(docs, "doc_id", "text", 10, 2)
      .select("doc_id", "chunk", "chunk_text", "n_chunk_tokens")
      .as[(Long, Long, String, Long)].collect().sortBy(r => (r._1, r._2))
    val d1 = out.filter(_._1 == 1L)
    // stride 8: ceil((100-2)/8) = 13 chunks, none over maxTokens
    assert(d1.length == 13 && d1.forall(_._4 <= 10))
    // dropping each later chunk's 2-token overlap reassembles the doc
    // exactly — no token lost or duplicated at any boundary
    val reassembled = d1.head._3.split(" ").toSeq ++
      d1.tail.toSeq.flatMap(c => c._3.split(" ").drop(2).toSeq)
    assert(reassembled == (1 to 100).map(i => s"t$i"))
    // short doc passes through as one whole chunk
    val d2 = out.filter(_._1 == 2L)
    assert(d2.length == 1 && d2.head._3 == "a b c" && d2.head._4 == 3L)
    intercept[IllegalArgumentException] {
      Pipeline.chunkDocuments(docs, "doc_id", "text", 10, 10) }
  }

  test("null-text rows: span removal and chunking degrade to empty, not -1") {
    // a null text must behave as an empty token list in BOTH operators
    // (matching the DuckDB oracles' coalesced shape), never NULL/-1
    val docs = Seq((1L, Option.empty[String]), (2L, Some("a b c")))
      .toDF("doc_id", "text")
    val cleaned = Dedup.removeDuplicateSpans(docs, "doc_id", "text", 5, 2L)
      .select("doc_id", "clean_text", "n_kept_tokens")
      .as[(Long, String, Long)].collect().map(r => r._1 -> r).toMap
    assert(cleaned(1L)._2 == "" && cleaned(1L)._3 == 0L)
    assert(cleaned(2L)._2 == "a b c" && cleaned(2L)._3 == 3L)
    val chunked = Pipeline.chunkDocuments(docs, "doc_id", "text", 10, 2)
      .select("doc_id", "chunk", "chunk_text", "n_chunk_tokens")
      .as[(Long, Long, String, Long)].collect().map(r => r._1 -> r).toMap
    assert(chunked.size == 2, "one chunk per doc")
    assert(chunked(1L)._3 == "" && chunked(1L)._4 == 0L)
    assert(chunked(2L)._3 == "a b c" && chunked(2L)._4 == 3L)
  }

  test("curate with mixtureAlpha over an all-null-domain corpus is empty") {
    // same failure contract as the explicit-targets path: unsatisfiable
    // mixture -> empty result, not an IllegalArgumentException
    val docs = Seq(
      (1L, "the cat sat on the mat today and then it left quietly", Option.empty[String]),
      (2L, "a dog ran over the hill and kept on running for hours", Option.empty[String]))
      .toDF("doc_id", "text", "lang")
    val out = Pipeline.curate(docs, "doc_id", "text",
      domainCol = Some("lang"), mixtureAlpha = Some(0.5))
    assert(out.count() == 0L)
  }

  test("chunk then pack: chunked long docs bin deterministically") {
    // the real long-document flow: chunk to <= 32-token windows, then
    // pack the CHUNKS (orderCols (doc_id, chunk) — doc_id alone is no
    // longer row-unique); every chunk fits capacity and bins follow the
    // exact running-sum slots
    val docs = (0L until 8L).map(i => (i, (1 to 100).map(t => s"w$t").mkString(" ")))
      .toDF("doc_id", "text")
    val chunked = Pipeline.chunkDocuments(docs, "doc_id", "text", 32, 4)
    val packed = Pipeline.packSequences(chunked, "doc_id", "chunk_text",
        capacity = 64, numShards = 4, orderCols = Seq("doc_id", "chunk"))
      .select("doc_id", "chunk", "shard", "n_tokens", "bin")
      .as[(Long, Long, Long, Int, Long)].collect()
      .sortBy(r => (r._3, r._1, r._2))
    assert(packed.forall(_._4 <= 32))
    val cum = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    packed.foreach { case (id, chunk, shard, n, bin) =>
      assert(bin == cum(shard) / 64, s"doc $id chunk $chunk")
      cum(shard) += n
    }
  }

  test("packing an upsampled corpus orders by (id, rep) deterministically") {
    // 3 copies of every doc (same doc_id => same shard, same n_tokens):
    // without a tie-breaking order column the running sum over the
    // repeated rows is partition-placement-dependent; with
    // orderCols = (id, rep) each copy's bin is the exact prefix-sum slot
    val docs = (0L until 12L).flatMap(i => (0L until 3L).map(r =>
      (i, r, "tok " * 100)))  // 100-token docs, capacity 128
      .toDF("doc_id", "rep", "text")
    val got = Pipeline.packSequences(docs, "doc_id", "text", 128, 4,
        orderCols = Seq("doc_id", "rep"))
      .select("doc_id", "rep", "shard", "n_tokens", "bin")
      .as[(Long, Long, Long, Int, Long)].collect()
      .sortBy(r => (r._3, r._1, r._2))
    val cum = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    got.foreach { case (id, rep, shard, n, bin) =>
      assert(bin == cum(shard) / 128, s"doc $id rep $rep")
      cum(shard) += n
    }
    // run-to-run identical
    val again = Pipeline.packSequences(docs, "doc_id", "text", 128, 4,
        orderCols = Seq("doc_id", "rep"))
      .select("doc_id", "rep", "shard", "n_tokens", "bin")
      .as[(Long, Long, Long, Int, Long)].collect()
      .sortBy(r => (r._3, r._1, r._2))
    assert(got.toSeq == again.toSeq)
  }

  test("packing with the subword counter packs by subwords, not words") {
    // "a-b." = 1 whitespace token but 4 subwords (a, b, -, .): with the
    // subword counter plugged in, n_tokens and therefore the bin edges
    // must follow TextOps.subwordCount
    val docs = (0L until 20L).map(i => (i, "a-b. c,d! e"))
      .toDF("doc_id", "text")
    val subPer = docs.select(TextOps.subwordCount(col("text")).as("n"))
      .head().getInt(0)
    val wsPer = docs.select(TextOps.tokenCount(col("text")).as("n"))
      .head().getInt(0)
    assert(subPer == 9 && wsPer == 3) // a,b,e + c,d + '-','.',',','!'
    val got = Pipeline.packSequences(docs, "doc_id", "text", 20, 1,
        count = TextOps.subwordCount)
      .select("doc_id", "n_tokens", "bin")
      .as[(Long, Int, Long)].collect().sortBy(_._1)
    var cum = 0L
    got.foreach { case (id, n, bin) =>
      assert(n == subPer, s"doc $id counted $n, want subword count $subPer")
      assert(bin == cum / 20, s"doc $id")
      cum += n
    }
    // capacity 20 / 9 subwords => 3 docs per bin; whitespace counting
    // would have packed 6 per bin (20/3) — bins must differ
    val wsBins = Pipeline.packSequences(docs, "doc_id", "text", 20, 1)
      .select("doc_id", "bin").as[(Long, Long)].collect().toMap
    assert(got.map(r => (r._1, r._3)).toMap != wsBins)
  }
}

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("identical vectors share an LSH bucket; knn within bucket is exact") {
    val planes = Similarity.hyperplanes(8, 4)
    val emb = Seq(
      (0L, Seq(0.5f, 0.1f, -0.2f, 0.3f)),
      (1L, Seq(0.5f, 0.1f, -0.2f, 0.3f)),
      (2L, Seq(-0.5f, -0.1f, 0.2f, -0.3f))).toDF("vec_id", "embedding")
    val b = Similarity.lshAssign(emb, "vec_id", "embedding", planes)
      .select("vec_id", "bucket").as[(Long, Int)].collect().toMap
    assert(b(0L) == b(1L))
    assert(b(0L) != b(2L)) // opposite vector flips every sign bit
    val knn = Similarity.lshKnn(emb, "vec_id", "embedding", planes,
      Seq(0.5, 0.1, -0.2, 0.3), 2).select("vec_id").as[Long].collect().toSet
    assert(knn == Set(0L, 1L))
  }

  test("IVF assigns to nearest centroid and probes cover the query") {
    val emb = Seq(
      (0L, Seq(0f, 0f)), (1L, Seq(10f, 10f)),           // centroids
      (2L, Seq(0.1f, 0.1f)), (3L, Seq(9.9f, 10.1f))).toDF("vec_id", "embedding")
    val assigned = Similarity.ivfAssign(emb, "vec_id", "embedding", 2)
      .select("vec_id", "list_id").as[(Long, Long)].collect().toMap
    assert(assigned(2L) == 0L && assigned(3L) == 1L)
    val knn = Similarity.ivfKnn(emb, "vec_id", "embedding", 2, 1, Seq(0.0, 0.0), 2)
      .select("vec_id").as[Long].collect().toSet
    assert(knn == Set(0L, 2L))
  }

  test("brute-force knnJoin ranks per query") {
    val emb = Seq((0L, Seq(0f, 0f)), (1L, Seq(1f, 0f)), (2L, Seq(5f, 5f)))
      .toDF("vec_id", "embedding")
    val qs = emb.filter(col("vec_id") < 2)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val r = BruteForce.knnJoin(emb, "embedding", "vec_id", qs, "qid", "qv", 1)
      .select("qid", "vec_id").as[(Long, Long)].collect().toMap
    assert(r == Map(0L -> 0L, 1L -> 1L))
  }

  test("routed assignment equals exact argmin on separated clusters") {
    // the property SemDeDup actually needs from the routed assignment is
    // NOT agreement with the exact argmin (routing is approximate by
    // contract) but CO-ROUTING: near-duplicate vectors — near-identical
    // distances to every super — must land in the SAME list so the pair
    // join still compares them. Check with ε-perturbed twins of the real
    // sf0.001 embeddings.
    val e = Tables.embeddings(spark, sf0001)
    val cents = Similarity.ivfCentroids(e, "vec_id", "embedding", 64)
    val twin = e.select(col("vec_id"),
      expr("transform(embedding, x -> x + float(1e-6))").as("embedding"))
    def routeOf(df: org.apache.spark.sql.DataFrame) = df.select(col("vec_id"),
      Similarity.ivfListIdRouted(col("embedding"), cents).as("l"))
    val diverged = routeOf(e).join(
        routeOf(twin).withColumnRenamed("l", "l2"), Seq("vec_id"))
      .filter(col("l") =!= col("l2")).count()
    assert(diverged <= e.count() / 100,
      s"$diverged near-dup twins routed to different lists")
    // hierarchically-separated fixture: two super-groups far apart
    // (offsets 0 vs 10000), two sub-clusters within each (±10) —
    // centroids are one member per sub-cluster, the stride-2 supers are
    // sub-clusters 0 and 2, and every vector's true nearest centroid is
    // a member of its routed super -> routed == exact everywhere
    val offs = Seq(0f, 10f, 10000f, 10010f)
    val sep = (0L until 40L).map { i =>
      val c = (i % 4).toInt
      (i, Seq.tabulate(8)(d => offs(c) + d + (i % 10).toFloat * 0.01f))
    }.toDF("vec_id", "embedding")
    val sepCents = Similarity.ivfCentroids(sep, "vec_id", "embedding", 4)
    val mismatch = sep.select(
        Similarity.ivfListId(col("embedding"), sepCents).as("exact"),
        Similarity.ivfListIdRouted(col("embedding"), sepCents, fanout = 2)
          .as("routed"))
      .filter(col("exact") =!= col("routed")).count()
    assert(mismatch == 0L)
    // deterministic run to run
    val a = e.select(Similarity.ivfListIdRouted(col("embedding"), cents)
      .as("l")).as[Long].collect().toSeq
    val b = e.select(Similarity.ivfListIdRouted(col("embedding"), cents)
      .as("l")).as[Long].collect().toSeq
    assert(a == b)
    // the Spark-job member routing (corpus-scale prep path) produces
    // the IDENTICAL expression: same list id on every row
    val viaJob = e.select(Similarity.ivfListIdRouted(col("embedding"),
        cents, routeSpark = Some(spark)).as("l"))
      .as[Long].collect().toSeq
    assert(viaJob == a)
  }
}

class IvfKnnJoinSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions._
  import graft.operators.{BruteForce, Similarity}

  test("ivfKnnJoin with exhaustive nprobe equals the brute kNN join") {
    val e = Tables.embeddings(spark, sf0001)
    val queries = e.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("qid0"), col("embedding").as("qv0"))
    val got = Similarity.ivfKnnJoin(e, "vec_id", "embedding",
        queries, "qid0", "qv0", numLists = 16, nprobe = 16, k = 7)
      .select("qid", "vec_id").as[(Long, Long)].collect().toSet
    val want = BruteForce.knnJoin(e, "embedding", "vec_id",
        queries, "qid0", "qv0", 7)
      .select(col("qid0"), col("vec_id")).as[(Long, Long)].collect().toSet
    assert(got == want && got.nonEmpty)
    // pruned nprobe returns k rows per query (candidates ⊇ k here) and
    // is a subset-quality approximation of the exact join
    val pruned = Similarity.ivfKnnJoin(e, "vec_id", "embedding",
        queries, "qid0", "qv0", numLists = 16, nprobe = 2, k = 7)
      .groupBy("qid").count().as[(Long, Long)].collect().toMap
    assert(pruned.values.forall(_ == 7L))
  }

  test("lshKnnJoinMulti: superset candidates, never-worse top-1 than a7") {
    val e = Tables.embeddings(spark, sf0001)
    val planes = Similarity.hyperplanes(8, 64)
    val queries = e.filter(col("vec_id") % 125 === 0)
    def top1(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("qid").agg(min(col("dist")).as("d"))
        .as[(Long, Double)].collect().toMap
    val single = top1(Similarity.lshKnnJoin(e, "vec_id", "embedding",
      queries, "vec_id", "embedding", planes, 5))
    val multi = top1(Similarity.lshKnnJoinMulti(e, "vec_id", "embedding",
      queries, "vec_id", "embedding", planes, 5))
    assert(multi.nonEmpty)
    // every query the single-bucket join answers, multi-probe answers
    // at least as well (its candidate set is a superset)
    single.foreach { case (qid, d) => assert(multi(qid) <= d + 1e-12) }
    // each query returns at most k rows and they are exactly ranked
    val rows = Similarity.lshKnnJoinMulti(e, "vec_id", "embedding",
        queries, "vec_id", "embedding", planes, 5)
      .groupBy("qid").count().as[(Long, Long)].collect()
    assert(rows.forall(_._2 <= 5L))
  }

  test("probeIvfBatch against the persisted store equals ivfKnnJoin") {
    val e = Tables.embeddings(spark, sf0001)
    val dir = java.nio.file.Files.createTempDirectory("graftivfb").toString
    Similarity.writeIvf(e, "vec_id", "embedding", 16, s"$dir/store")
    val queries = e.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("qid0"), col("embedding").as("qv0"))
    val got = Similarity.probeIvfBatch(Similarity.openIvf(spark, s"$dir/store"),
        "vec_id", "embedding", queries, "qid0", "qv0", nprobe = 2, k = 5)
      .select("qid", "vec_id").as[(Long, Long)].collect().toSet
    val want = Similarity.ivfKnnJoin(e, "vec_id", "embedding",
        queries, "qid0", "qv0", numLists = 16, nprobe = 2, k = 5)
      .select("qid", "vec_id").as[(Long, Long)].collect().toSet
    assert(got == want && got.nonEmpty)
  }

  test("batch IVF and LSH store probes leave no checkpoint pinned") {
    val e = Tables.embeddings(spark, sf0001)
    val dir = java.nio.file.Files.createTempDirectory("graftprobepins").toString
    Similarity.writeIvf(e, "vec_id", "embedding", 16, s"$dir/ivf")
    Similarity.writeBucketed(e, "vec_id", "embedding", Similarity.hyperplanes(8, 64), s"$dir/lsh")
    val (ivf, lsh) = (Similarity.openIvf(spark, s"$dir/ivf"),
      Similarity.openBucketed(spark, s"$dir/lsh"))
    val queries = e.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("qid0"), col("embedding").as("qv0"))
    // the answers stay referenced, so a pin they read could not be cleaned
    var answers = Seq.empty[DataFrame]
    val pinned = pinnedDuring {
      answers = Seq(
        Similarity.probeIvfBatch(ivf, "vec_id", "embedding", queries, "qid0", "qv0",
          nprobe = 2, k = 5),
        Similarity.probeBucketedBatch(lsh, "vec_id", "embedding", queries, "qid0", "qv0", k = 5))
      assert(answers.forall(_.collect().nonEmpty))
    }
    assert(pinned.isEmpty, s"pinned RDDs $pinned")
    assert(answers.nonEmpty)
  }

  test("lshKnnJoin equals the single-query lshKnn per query") {
    val e = Tables.embeddings(spark, sf0001)
    val planes = Similarity.hyperplanes(8, 64)
    val queries = e.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("qid0"), col("embedding").as("qv0"))
    val got = Similarity.lshKnnJoin(e, "vec_id", "embedding",
        queries, "qid0", "qv0", planes, 5)
      .select("qid", "vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val qVecs = queries.select(col("qid0"),
        col("qv0").cast("array<double>")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toSeq))
    qVecs.foreach { case (qid, qv) =>
      val want = Similarity.lshKnn(e, "vec_id", "embedding", planes, qv, 5)
        .select("vec_id").as[Long].collect().toSet
      assert(got.getOrElse(qid, Set.empty) == want, s"query $qid")
    }
  }
}

class ProductQuantSpec extends SparkSpec {
  import spark.implicits._

  test("PQ: codes bounded, Lloyd cost non-increasing, ADC knn recall") {
    val e = Tables.embeddings(spark, sf0001)
    val seed = ProductQuant.pqTrain(e, "vec_id", "embedding", 8, 16, iters = 0)
    val cb = ProductQuant.pqTrain(e, "vec_id", "embedding", 8, 16, iters = 2)
    assert(cb.length == 8 && cb.forall(_.length == 16)
      && cb.forall(_.forall(_.length == 8)))
    // training can only reduce the quantization cost
    val c0 = ProductQuant.pqCost(e, "embedding", seed)
    val c2 = ProductQuant.pqCost(e, "embedding", cb)
    assert(c2 <= c0 + 1e-9, s"cost rose: $c0 -> $c2")
    // every code in [0, k)
    val mm = ProductQuant.pqAssign(e, "embedding", cb)
      .select(explode(col("codes")).as("c")).agg(min("c"), max("c")).head()
    assert(mm.getInt(0) >= 0 && mm.getInt(1) < 16)
    // ADC candidates + exact re-rank: decent recall at topN=100, and the
    // returned distances are EXACT (match brute for every shared id)
    val got = ProductQuant.pqKnn(e, "vec_id", "embedding", cb,
        QueryConstants.Q64, topN = 100, k = 10)
      .select(col("vec_id"), col("dist")).as[(Long, Double)].collect().toSeq
    val brute = BruteForce.knn(e, "embedding", "vec_id", QueryConstants.Q64, 10)
      .select(col("vec_id"), col("dist")).as[(Long, Double)].collect().toSeq
    val bruteMap = brute.toMap
    val recall = got.map(_._1).count(bruteMap.contains) / 10.0
    assert(recall >= 0.5, s"recall $recall")
    got.foreach { case (id, dv) =>
      bruteMap.get(id).foreach(bd => assert(math.abs(dv - bd) < 1e-12)) }
    // deterministic end to end
    val again = ProductQuant.pqKnn(e, "vec_id", "embedding", cb,
        QueryConstants.Q64, topN = 100, k = 10)
      .select(col("vec_id")).as[Long].collect().toSeq
    assert(again == got.map(_._1))
  }

  test("PQ store: probe scans only (id, codes) and equals in-memory pqKnn") {
    val dir = java.nio.file.Files.createTempDirectory("graftpq").toString + "/store"
    val e = Tables.embeddings(spark, sf0001)
    val cb = ProductQuant.writePq(e, "vec_id", "embedding", 8, 16, 2, dir)
    val probe = ProductQuant.probePq(spark, dir, e, "vec_id", "embedding",
      QueryConstants.Q64, topN = 100, k = 10)
    // the ADC scan reads the narrow codes relation, never the vectors
    val codeScan = probe.queryExecution.executedPlan.toString
    assert(codeScan.contains("codes"), "expected codes store scan")
    val got = probe.select(col("vec_id"), col("dist"))
      .as[(Long, Double)].collect().toSeq
    val want = ProductQuant.pqKnn(e, "vec_id", "embedding", cb,
        QueryConstants.Q64, topN = 100, k = 10)
      .select(col("vec_id"), col("dist")).as[(Long, Double)].collect().toSeq
    assert(got == want)
  }
}

class IngestSpec extends SparkSpec {
  import spark.implicits._

  test("json vector round trip preserves floats exactly") {
    val emb = Tables.embeddings(spark, sf0001).limit(50)
    val json = Ingest.toJsonVectors(emb, "vec_id", "embedding")
    val back = Ingest.shredJsonVectors(json, "vec_id", "vector_json")
    val orig = operators.VectorStats.explodeVectors(emb, "vec_id", "embedding")
      .withColumnRenamed("id", "vec_id")
    assert(back.exceptAll(orig).count() == 0)
    assert(orig.exceptAll(back).count() == 0)
  }

  test("warc encode/parse round-trips; malformed framing fails loudly") {
    val recs = Seq(
      ("https://a.example/x", "hello world".getBytes("UTF-8")),
      ("https://b.example/y", Array.empty[Byte]), // zero-length payload
      ("https://c.example/z", ("body with\r\nCRLF inside " * 3).getBytes("UTF-8")))
    val bytes = sources.Warc.encode(recs)
    val back = sources.Warc.parse(bytes)
    assert(back.map(_._2) == recs.map(_._1))
    assert(back.forall(_._1 == "response"))
    assert(back.map(_._3.toSeq) == recs.map(_._2.toSeq))
    // truncated payload and missing version line both throw
    intercept[IllegalArgumentException](sources.Warc.parse(bytes.dropRight(5)))
    intercept[IllegalArgumentException](
      sources.Warc.parse("HTTP/1.1 200 OK\r\n\r\n".getBytes("US-ASCII")))
    // distributed read over a multi-file directory matches the encode
    val dir = java.nio.file.Files.createTempDirectory("graftwarc")
    sources.Warc.warcFixture(spark, dir.toString, 23, files = 3)
    val rows = sources.Warc.readWarc(spark, dir.toString)
      .select("target_uri", "content_length")
      .as[(String, Long)].collect().toMap
    assert(rows.size == 23)
    (0 until 23).foreach { i =>
      assert(rows(s"https://example.com/doc$i") ==
        (s"warc body text $i " * (1 + i % 5)).getBytes("UTF-8").length)
    }
    // .warc.gz members (the Common Crawl layout) inflate in-task and
    // read identically — gzip one member in place alongside the rest
    import scala.jdk.CollectionConverters._
    val plain = java.nio.file.Files.list(dir).iterator().asScala
      .filter(_.toString.endsWith(".warc")).toSeq.minBy(_.toString)
    val gzPath = java.nio.file.Paths.get(plain.toString + ".gz")
    val gz = new java.util.zip.GZIPOutputStream(
      java.nio.file.Files.newOutputStream(gzPath))
    try gz.write(java.nio.file.Files.readAllBytes(plain)) finally gz.close()
    java.nio.file.Files.delete(plain)
    val rows2 = sources.Warc.readWarc(spark, dir.toString)
      .select("target_uri", "content_length")
      .as[(String, Long)].collect().toMap
    assert(rows2 == rows)
    // URIs that would corrupt the framing (CR/LF) or the ASCII encoder
    // fail loudly at encode time
    intercept[IllegalArgumentException](sources.Warc.encode(
      Seq(("https://a/x\r\nContent-Length: 0", Array.empty[Byte]))))
    intercept[IllegalArgumentException](sources.Warc.encode(
      Seq(("https://a/döc", Array.empty[Byte]))))
    // a directory without WARC members is loud, not silently empty
    val empty = java.nio.file.Files.createTempDirectory("graftwarcempty")
    intercept[IllegalArgumentException](
      sources.Warc.readWarc(spark, empty.toString))
  }

  test("fvecs/bvecs/ivecs source: splittable read round-trips exactly") {
    val dir = java.nio.file.Files.createTempDirectory("graftvecs")
    val dim = 5
    val n = 37 // odd count so range splits are uneven
    def le(i: Int): Array[Byte] = Array[Byte](
      (i & 0xff).toByte, ((i >> 8) & 0xff).toByte,
      ((i >> 16) & 0xff).toByte, ((i >> 24) & 0xff).toByte)
    // fvecs: vector r = [r, r+0.5, r+1, ...]
    val fv = dir.resolve("pts.fvecs")
    val fout = java.nio.file.Files.newOutputStream(fv)
    (0 until n).foreach { r =>
      fout.write(le(dim))
      (0 until dim).foreach { i =>
        fout.write(le(java.lang.Float.floatToIntBits(r + i * 0.5f)))
      }
    }
    fout.close()
    // read with forced multi-partition split
    val got = Ingest.readVecs(spark, fv.toString, minPartitions = 4)
      .as[(Long, Seq[Float])].collect().sortBy(_._1)
    assert(got.length == n)
    got.foreach { case (id, v) =>
      assert(v == (0 until dim).map(i => id + i * 0.5f), s"row $id")
    }
    // bvecs: uint8 components incl. values > 127 (sign-bit handling)
    val bv = dir.resolve("pts.bvecs")
    val bout = java.nio.file.Files.newOutputStream(bv)
    (0 until 9).foreach { r =>
      bout.write(le(dim))
      (0 until dim).foreach(i => bout.write(Array(((r * 40 + i) % 256).toByte)))
    }
    bout.close()
    val gotB = Ingest.readVecs(spark, bv.toString)
      .as[(Long, Seq[Float])].collect().sortBy(_._1)
    assert(gotB.length == 9)
    gotB.foreach { case (id, v) =>
      assert(v == (0 until dim).map(i => ((id * 40 + i) % 256).toFloat))
    }
    // ivecs: exact ints (no float round-trip)
    val iv = dir.resolve("gt.ivecs")
    val iout = java.nio.file.Files.newOutputStream(iv)
    (0 until 4).foreach { r =>
      iout.write(le(dim))
      (0 until dim).foreach(i => iout.write(le(1 << 24 | r * dim + i)))
    }
    iout.close()
    val gotI = Ingest.readIvecs(spark, iv.toString, minPartitions = 3)
      .as[(Long, Seq[Int])].collect().sortBy(_._1)
    assert(gotI.length == 4)
    gotI.foreach { case (id, v) =>
      assert(v == (0 until dim).map(i => 1 << 24 | id.toInt * dim + i))
    }
    // truncated file fails loudly, not silently
    val bad = dir.resolve("bad.fvecs")
    java.nio.file.Files.write(bad,
      java.nio.file.Files.readAllBytes(fv).dropRight(3))
    intercept[IllegalArgumentException] {
      Ingest.readVecs(spark, bad.toString).count()
    }
  }

  test("hdf5-lite source: contiguous rank-2 float datasets round-trip") {
    import graft.sources.Hdf5Lite
    val dir = java.nio.file.Files.createTempDirectory("grafthdf5")
    val dim = 5
    val n = 37 // odd count so range splits are uneven
    val rows = Array.tabulate(n, dim)((r, i) => r + i * 0.5f)
    // two datasets in one file exercises the name-ordered SNOD walk;
    // the second one also covers multi-entry local-heap name offsets
    val small = Array.tabulate(3, 2)((r, i) => (r * 10 + i).toFloat)
    val f = dir.resolve("pts.h5").toString
    Hdf5Lite.write(f, Seq("train" -> rows, "aux" -> small))
    // metadata-only extent probe (the reference's GetHdf5DatasetSize)
    assert(Hdf5Lite.datasetSize(spark, f, "train") == (n.toLong, dim))
    assert(Hdf5Lite.datasetSize(spark, f, "aux") == (3L, 2))
    // distributed read with a forced multi-partition split
    val got = Hdf5Lite.readHdf5(spark, f, "train", minPartitions = 4)
      .as[(Long, Seq[Float])].collect().sortBy(_._1)
    assert(got.length == n)
    got.foreach { case (id, v) =>
      assert(v == (0 until dim).map(i => id + i * 0.5f), s"row $id")
    }
    assert(Hdf5Lite.readHdf5(spark, f, "aux")
      .as[(Long, Seq[Float])].collect().sortBy(_._1).map(_._2.sum).toSeq
      == Seq(1f, 21f, 41f))
    // float64 path: values upcast exactly from the float32 fixture
    val f64 = dir.resolve("pts64.h5").toString
    Hdf5Lite.write(f64, Seq("train" -> rows), doubles = true)
    val got64 = Hdf5Lite.readHdf5(spark, f64, "train", minPartitions = 3)
      .as[(Long, Seq[Double])].collect().sortBy(_._1)
    assert(got64.length == n)
    got64.foreach { case (id, v) =>
      assert(v == (0 until dim).map(i => (id + i * 0.5f).toDouble), s"row $id")
    }
    // loud failures: missing dataset, non-HDF5 bytes
    val miss = intercept[RuntimeException](
      Hdf5Lite.datasetSize(spark, f, "nope"))
    assert(miss.getMessage.contains("not found"))
    val bad = dir.resolve("bad.h5")
    java.nio.file.Files.write(bad, Array.fill[Byte](128)(7))
    val sig = intercept[IllegalArgumentException](
      Hdf5Lite.datasetSize(spark, bad.toString, "train"))
    assert(sig.getMessage.contains("signature"))
  }

  test("csv points sink round trip") {
    val dir = java.nio.file.Files.createTempDirectory("graftcsv").toString
    val pts = Ingest.grid(spark, 5)
    Ingest.writePointsCsv(pts, "id", "vector", dir)
    val back = Ingest.readPointsCsv(spark, dir)
    assert(back.count() == 25)
    val a = pts.select(col("id"), col("vector")(0).as("x")).as[(Long, Float)].collect().toMap
    val b = back.select(col("id"), col("vector")(0).as("x")).as[(Long, Float)].collect().toMap
    assert(a == b)
  }

  test("generators are deterministic and in range") {
    val r1 = Ingest.randomUniform(spark, 100, 8).collect()
    val r2 = Ingest.randomUniform(spark, 100, 8).collect()
    assert(r1.map(_.toString).toSeq == r2.map(_.toString).toSeq)
    val mm = Ingest.randomUniform(spark, 100, 8)
      .select(explode(col("vector")).as("v"))
      .agg(min("v"), max("v")).head()
    assert(mm.getFloat(0) >= -1f && mm.getFloat(1) <= 1f)
    assert(Ingest.oneHot(spark, 16).count() == 16)
  }

  test("normalization maps extent to [-1,1]") {
    val pts = Seq((0L, Seq(0f, 50f)), (1L, Seq(10f, 100f)), (2L, Seq(5f, 75f)))
      .toDF("id", "vector")
    val norm = operators.VectorStats.normalize(pts, "id", "vector")
    val vals = norm.select(explode(col("vector")).as("v")).agg(min("v"), max("v")).head()
    assert(vals.getDouble(0) >= -1.0 && vals.getDouble(1) <= 1.0)
    // widest dim (y: extent 50) spans exactly [-1, 1]
    val y = norm.select(col("vector")(1).as("y")).as[Double].collect().sorted
    assert(math.abs(y.head + 1.0) < 1e-12 && math.abs(y.last - 1.0) < 1e-12)
  }

  test("scalar quantization: exact codes, clamping, constant dims") {
    // dim 0 extent [0,10] → codes floor(v/10·4) clamped to 3 at v=max;
    // dim 1 constant → 0; levels = 4 keeps the arithmetic enumerable
    val pts = Seq((0L, Seq(0f, 7f)), (1L, Seq(2.5f, 7f)),
      (2L, Seq(5f, 7f)), (3L, Seq(10f, 7f))).toDF("id", "vector")
    val q = operators.VectorStats.quantize(pts, "id", "vector", "q", 4)
      .select(col("id"), col("q")(0), col("q")(1))
      .as[(Long, Int, Int)].collect().sortBy(_._1).toSeq
    assert(q == Seq((0L, 0, 0), (1L, 1, 0), (2L, 2, 0), (3L, 3, 0)))
    // monotone: larger values never get smaller codes (random data)
    val e = Tables.embeddings(spark, sf0001).limit(100)
    val codes = operators.VectorStats
      .quantize(e, "vec_id", "embedding", "q", 256)
      .select(col("embedding")(0).cast("double").as("v"), col("q")(0).as("c"))
      .as[(Double, Int)].collect().sortBy(_._1)
    assert(codes.zip(codes.tail).forall { case ((_, c1), (_, c2)) => c1 <= c2 })
    assert(codes.forall { case (_, c) => c >= 0 && c <= 255 })
  }
}

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  test("real PNG decode round-trips generated dimensions and colors") {
    val feats = Multimodal.extractFeatures(Multimodal.imageTable(spark, 64))
      .collect().sortBy(_.media_id)
    assert(feats.length == 64)
    feats.foreach { f =>
      val id = f.media_id
      assert(f.width == 16 + (id % 32).toInt, s"id=$id width")
      assert(f.height == 16 + ((3 * id) % 32).toInt, s"id=$id height")
      // solid color: mean channel * 255 reconstructs the fill exactly
      assert(math.round(f.feature(0) * 255) == (7 * id) % 256, s"id=$id r")
      assert(math.round(f.feature(1) * 255) == (13 * id) % 256, s"id=$id g")
      assert(math.round(f.feature(2) * 255) == (29 * id) % 256, s"id=$id b")
      // all four quadrant lumas equal the global mean for a solid fill
      val luma = (f.feature(0) + f.feature(1) + f.feature(2)) / 3f
      (3 to 6).foreach(q => assert(math.abs(f.feature(q) - luma) < 1e-4f))
    }
  }

  test("nearest-neighbour resize preserves quadrant structure exactly") {
    // 2x2 image with four distinct colors -> 8x8: each source pixel
    // becomes a 4x4 block, so quadrant lumas survive bit-exact and the
    // mean is the average of the four fills
    val src = new java.awt.image.BufferedImage(2, 2,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    src.setRGB(0, 0, 0xFF0000); src.setRGB(1, 0, 0x00FF00)
    src.setRGB(0, 1, 0x0000FF); src.setRGB(1, 1, 0xFFFFFF)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(src, "png", bos)
    val resized = Multimodal.resizeImage(bos.toByteArray, 8, 8).get
    val Some((w, h, feat)) = Multimodal.decodeImage(resized)
    assert(w == 8 && h == 8)
    // quadrant lumas: TL=red 255/765, TR=green, BL=blue, BR=white 765/765
    assert(math.abs(feat(3) - 255f / 765f) < 1e-6f)
    assert(math.abs(feat(4) - 255f / 765f) < 1e-6f)
    assert(math.abs(feat(5) - 255f / 765f) < 1e-6f)
    assert(math.abs(feat(6) - 1f) < 1e-6f)
    // per-channel means: r in {TL, BR} = half the pixels
    assert(math.abs(feat(0) - 0.5f) < 1e-6f)
    assert(math.abs(feat(1) - 0.5f) < 1e-6f)
    assert(math.abs(feat(2) - 0.5f) < 1e-6f)
    // non-image payload passes through resizeImages unchanged
    val junk = Multimodal.resizeImage(Array[Byte](1, 2, 3), 8, 8)
    assert(junk.isEmpty)
  }

  test("audio decimation keeps exact every-nth samples and divides the rate") {
    val feats = Multimodal.extractAudioFeatures(
        Multimodal.decimateAudio(Multimodal.audioTable(spark, 32), 4))
      .collect().sortBy(_.media_id)
    assert(feats.length == 32)
    feats.foreach { f =>
      val id = f.media_id
      val n = 64 + (id % 128).toInt
      val dec = (0 until n by 4).map(k => (((31 * id + 17 * k) % 2001) - 1000).toInt)
      assert(f.sample_rate == (8000 + (id % 8).toInt * 1000) / 4, s"id=$id rate")
      assert(f.n_samples == dec.length, s"id=$id n")
      assert(f.max_amp == dec.max && f.min_amp == dec.min, s"id=$id extrema")
      assert(f.mean_amp == (dec.map(_.toLong).sum.toDouble / dec.length).toFloat,
        s"id=$id mean")
    }
  }

  test("audio frame features: windowing, partial tail, per-channel zero crossings") {
    // mono: windows of 32 replay the closed-form stream exactly
    val frames = Multimodal.audioFrameFeatures(Multimodal.audioTable(spark, 16),
        frameLen = 32)
      .collect().groupBy(_.media_id)
    for (id <- 0L until 16L) {
      val n = 64 + (id % 128).toInt
      val samples = (0 until n).map(k => (((31 * id + 17 * k) % 2001) - 1000).toInt)
      val byF = frames(id).sortBy(_.frame_idx)
      assert(byF.length == (n + 31) / 32, s"id=$id windows")
      byF.foreach { fr =>
        val w = samples.slice(fr.frame_idx * 32, (fr.frame_idx + 1) * 32)
        assert(fr.n == w.length, s"id=$id f=${fr.frame_idx} n")
        assert(fr.mean_amp == (w.map(_.toLong).sum.toDouble / w.length).toFloat)
        assert(fr.rms_amp ==
          math.sqrt(w.map(s => s.toLong * s).sum.toDouble / w.length).toFloat)
        assert(fr.n_zero_cross ==
          w.sliding(2).count(p => p.length == 2 && p(0).toLong * p(1) < 0L))
      }
      // last window is the partial tail iff 32 doesn't divide n
      assert(byF.last.n == (if (n % 32 == 0) 32 else n % 32))
    }
    // stereo: crossings count per channel — an interleaved sign flip
    // BETWEEN channels must not register
    val l = Array(100, -100, 100, -100, 100, -100) // 5 crossings
    val r = Array(7, 8, 9, 10, 11, 12)             // 0 crossings
    val inter = l.zip(r).flatMap { case (a, b) => Array(a, b) }
    val pcm = new Array[Byte](inter.length * 2)
    inter.zipWithIndex.foreach { case (s, i) =>
      pcm(2 * i) = (s & 0xff).toByte; pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
    }
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 2, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, l.length.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    import spark.implicits._
    val stereo = spark.createDataset(
      Seq(Multimodal.MediaRow(7L, "audio", bos.toByteArray)))
    val sf = Multimodal.audioFrameFeatures(stereo, frameLen = 6)
      .collect()
    assert(sf.length == 1 && sf.head.n == 12 && sf.head.n_zero_cross == 5)
    // ...and with frameLen 2 each window sees one L-channel pair
    // (100, -100) → exactly 1 crossing per window; the cross-window
    // L pairs (-100 → 100) fall on boundaries and must NOT count
    val sf2 = Multimodal.audioFrameFeatures(stereo, frameLen = 2)
      .collect().sortBy(_.frame_idx)
    assert(sf2.map(_.n_zero_cross).toSeq == Seq(1, 1, 1),
      s"got ${sf2.map(_.n_zero_cross).toSeq}")
  }

  test("real WAV decode round-trips generated PCM samples and format") {
    val feats = Multimodal.extractAudioFeatures(Multimodal.audioTable(spark, 64))
      .collect().sortBy(_.media_id)
    assert(feats.length == 64)
    feats.foreach { f =>
      val id = f.media_id
      val n = 64 + (id % 128).toInt
      assert(f.sample_rate == 8000 + (id % 8).toInt * 1000, s"id=$id rate")
      assert(f.channels == 1 && f.bits == 16, s"id=$id format")
      assert(f.n_samples == n, s"id=$id n_samples")
      // closed-form PCM: s_k = ((31·id + 17·k) mod 2001) − 1000
      val samples = (0 until n).map(k => (((31 * id + 17 * k) % 2001) - 1000).toInt)
      assert(f.max_amp == samples.max && f.min_amp == samples.min, s"id=$id extrema")
      assert(f.mean_amp == (samples.map(_.toLong).sum.toDouble / n).toFloat, s"id=$id mean")
      val sumSq = samples.map(s => s.toLong * s).sum
      assert(f.rms_amp == math.sqrt(sumSq.toDouble / n).toFloat, s"id=$id rms")
    }
  }

  test("real y4m decode round-trips generated frames and header") {
    val feats = Multimodal.extractVideoFeatures(Multimodal.videoTable(spark, 64))
      .collect().sortBy(_.media_id)
    assert(feats.length == 64)
    feats.foreach { f =>
      val id = f.media_id
      val nF = 2 + (id % 7).toInt
      assert(f.width == 8 + (id % 16).toInt, s"id=$id width")
      assert(f.height == 8 + ((3 * id) % 16).toInt, s"id=$id height")
      assert(f.fps_num == 10 + (id % 5).toInt && f.fps_den == 1, s"id=$id fps")
      assert(f.n_frames == nF, s"id=$id frames")
      val ys = (0 until nF).map(fr => ((11 * id + 37 * fr) % 256).toInt)
      val us = (0 until nF).map(fr => ((5 * id + 13 * fr) % 256).toInt)
      assert(f.mean_y == (ys.map(_.toLong).sum.toDouble / nF).toFloat, s"id=$id meanY")
      assert(f.mean_u == (us.map(_.toLong).sum.toDouble / nF).toFloat, s"id=$id meanU")
      assert(f.first_y == ys.head.toFloat && f.last_y == ys.last.toFloat,
        s"id=$id first/last")
    }
  }

  test("video frame sampling decodes every k-th frame's content") {
    val rows = Multimodal.sampleVideoFrames(Multimodal.videoTable(spark, 32), 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getFloat(2)))
      .sortBy(t => (t._1, t._2))
    val expected = for {
      id <- 0L until 32L
      idx <- 0 until (2 + (id % 7).toInt) by 2
    } yield (id, idx, ((11 * id + 37 * idx) % 256).toFloat)
    assert(rows.toSeq == expected)
  }

  test("non-y4m / truncated / unknown-colorspace bytes are rejected, not crashed on") {
    assert(Multimodal.decodeVideo("not a video".getBytes("UTF-8")).isEmpty)
    // unknown colorspace (4:2:2 isn't supported)
    assert(Multimodal.decodeVideo(
      "YUV4MPEG2 W4 H4 F25:1 Ip A1:1 C422\nFRAME\n".getBytes("US-ASCII")).isEmpty)
    // C420 with odd dims has no well-defined plane layout
    assert(Multimodal.decodeVideo(
      ("YUV4MPEG2 W3 H2 F25:1 C420\nFRAME\n" + "x" * 9)
        .getBytes("ISO-8859-1")).isEmpty)
    // truncated frame payload
    val ok = Multimodal.encodeY4m(2, 2, 25, 1,
      Seq(Array.fill[Byte](12)(7)))
    assert(Multimodal.decodeVideo(ok).exists(_._5.length == 1))
    assert(Multimodal.decodeVideo(ok.dropRight(1)).isEmpty)
    val junk = Seq(Multimodal.MediaRow(1L, "video", "nope".getBytes("UTF-8")))
      .toDS()
    assert(Multimodal.extractVideoFeatures(junk).collect().isEmpty)
  }

  test("C420 (the y4m default, untagged too) decodes with mean-preserving chroma upsample") {
    // 4x2 C420 frame: Y = 0..7, U plane (2x1) = [10, 20], V = [30, 40]
    val y = (0 until 8).map(_.toByte)
    val u = Seq(10, 20).map(_.toByte)
    val v = Seq(30, 40).map(_.toByte)
    val frame = (y ++ u ++ v).toArray
    def stream(headerCs: String) =
      (s"YUV4MPEG2 W4 H2 F25:1 Ip A1:1$headerCs\n".getBytes("US-ASCII")
        ++ "FRAME\n".getBytes("US-ASCII") ++ frame)
    for (cs <- Seq(" C420", " C420jpeg", "")) { // "" = untagged default
      val Some((w, h, fn, _, frames)) = Multimodal.decodeVideo(stream(cs))
      assert(w == 4 && h == 2 && fn == 25 && frames.length == 1)
      val f = frames.head
      assert(f.length == 3 * 8) // normalized to C444 layout
      // Y copied verbatim
      assert(f.take(8).toSeq == y)
      // U: each sample replicated over its 2x2 block -> row [10,10,20,20]
      assert(f.slice(8, 16).map(_.toInt).toSeq ==
        Seq(10, 10, 20, 20, 10, 10, 20, 20))
      assert(f.slice(16, 24).map(_.toInt).toSeq ==
        Seq(30, 30, 40, 40, 30, 30, 40, 40))
      // replication preserves plane means exactly: mean U = 15, V = 35
      val vf = Multimodal.extractVideoFeatures(
        Seq(Multimodal.MediaRow(7L, "video", stream(cs))).toDS())
        .collect().head
      assert(vf.mean_u == 15f && vf.mean_v == 35f && vf.mean_y == 3.5f)
    }
  }

  test("non-WAV bytes are dropped by the audio decoder, not crashed on") {
    val junk = Seq(Multimodal.MediaRow(1L, "audio", "not a wav".getBytes("UTF-8")))
      .toDS()
    assert(Multimodal.extractAudioFeatures(junk).collect().isEmpty)
    assert(Multimodal.decodeAudio("RIFFgarbage".getBytes("UTF-8")).isEmpty)
  }

  test("non-image bytes fall back to the stub decoder") {
    val junk = Seq(Multimodal.MediaRow(1L, "image", "not a png".getBytes("UTF-8")))
      .toDS()
    val f = Multimodal.extractFeatures(junk).collect().head
    assert(f.width >= 64 && f.width < 320) // stub range, not a decode crash
  }

  test("feature extraction is deterministic with stable schema") {
    val docs = Tables.documents(spark, sf0001).limit(30)
    val media = Multimodal.mediaFromText(docs, "doc_id", "text")
    val f1 = Multimodal.extractFeatures(media).collect().sortBy(_.media_id)
    val f2 = Multimodal.extractFeatures(media).collect().sortBy(_.media_id)
    assert(f1.map(_.sha).toSeq == f2.map(_.sha).toSeq)
    assert(f1.forall(f => f.width >= 64 && f.width < 320 && f.feature.length == 8))
    assert(f1.forall(f => f.kind != "video" || f.n_frames >= 1))
  }

  test("frame sampling emits every k-th frame") {
    val docs = Tables.documents(spark, sf0001).limit(30)
    val feats = Multimodal.extractFeatures(
      Multimodal.mediaFromText(docs, "doc_id", "text"))
    val frames = Multimodal.sampleFrames(feats, 2)
    val counts = frames.groupBy("media_id").count()
      .join(feats.toDF().select(col("media_id"), col("n_frames")), "media_id")
      .select(col("count"), ((col("n_frames") + 1) / 2).cast("long").as("expect"))
      .as[(Long, Long)].collect()
    counts.foreach { case (got, expect) => assert(got == expect) }
  }
}

class FunnelRetentionSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("funnel requires strict step order within each user") {
    // u1 completes all 3 in order; u2 clicks BEFORE its first view (no
    // step-2 credit); u3 views only; u4 never views (purchase alone
    // earns nothing)
    val e = Seq(
      (1L, "view", ts("2024-01-01 10:00:00")),
      (1L, "click", ts("2024-01-01 11:00:00")),
      (1L, "purchase", ts("2024-01-01 12:00:00")),
      (2L, "click", ts("2024-01-02 09:00:00")),
      (2L, "view", ts("2024-01-02 10:00:00")),
      (3L, "view", ts("2024-01-03 10:00:00")),
      (4L, "purchase", ts("2024-01-04 10:00:00"))
    ).toDF("user_id", "event_type", "ts")
    val got = Relational.funnelOf(e, Seq("view", "click", "purchase"))
      .select("step", "users").as[(Int, Long)].collect().toSeq
    assert(got == Seq((1, 3L), (2, 1L), (3, 1L)))
  }

  test("funnel counts are monotone non-increasing on the corpus") {
    val users = Relational.funnelOf(
      Tables.events(spark, sf0001), Seq("view", "click", "purchase"))
      .select("users").as[Long].collect().toSeq
    assert(users.size == 3)
    assert(users == users.sorted.reverse)
  }

  test("retention: offset-0 equals cohort size; later offsets never exceed it") {
    val e = Seq(
      (1L, ts("2024-01-01 10:00:00")), // cohort 01-01, active d0, d2
      (1L, ts("2024-01-03 10:00:00")),
      (2L, ts("2024-01-01 20:00:00")), // cohort 01-01, active d0 only
      (3L, ts("2024-01-02 08:00:00")), // cohort 01-02, d0 and d1
      (3L, ts("2024-01-03 08:00:00"))
    ).toDF("user_id", "ts")
    val got = Relational.retentionOf(e)
      .select(col("cohort_day").cast("string"), col("day_offset"), col("users"))
      .as[(String, Long, Long)].collect().toSeq
    assert(got == Seq(
      ("2024-01-01", 0L, 2L), ("2024-01-01", 2L, 1L),
      ("2024-01-02", 0L, 1L), ("2024-01-02", 1L, 1L)))
    // invariant on the corpus: every offset row ≤ its cohort's day-0 row
    val corpus = Relational.retention(spark, sf0001)
      .as[(java.sql.Date, Long, Long)].collect()
    val day0 = corpus.filter(_._2 == 0L).map(r => r._1 -> r._3).toMap
    assert(corpus.forall(r => r._3 <= day0(r._1)))
  }
}

class DiversifySpec extends SparkSpec {
  import spark.implicits._

  private val q = Seq(1.0, 0.0, 0.0, 0.0)

  test("with λ=1 MMR reduces to relevance top-k") {
    val emb = (0 until 40).map { i =>
      (i.toLong, Seq(1.0 - i * 0.01, i * 0.005, 0.2, -0.1).map(_.toFloat))
    }.toDF("vec_id", "embedding")
    val mmr = Diversify.mmr(emb, "vec_id", "embedding", q,
        k = 5, pool = 20, lamNum = 1, lamDen = 1)
      .select("id").as[Long].collect().toSeq
    import graft.functions.VectorFunctions.{dot, norm}
    val qc = array(q.map(lit): _*)
    val v = col("embedding").cast("array<double>")
    val topk = emb.select(col("vec_id"),
        round(lit(1000000) * (dot(v, qc) / (norm(v) * norm(qc))))
          .cast("long").as("rel"))
      .orderBy(col("rel").desc, col("vec_id")).limit(5)
      .select("vec_id").as[Long].collect().toSeq
    assert(mmr == topk)
  }

  test("MMR breaks out of a dominant near-duplicate cluster") {
    // cluster A: 10 near-copies of the query direction; outlier B: one
    // orthogonal-ish vector with lower relevance. Plain top-3 is all A;
    // MMR at λ=0.5 must include B by pick 3.
    val a = (0 until 10).map(i =>
      (i.toLong, Seq(1.0, 0.001 * i, 0.0, 0.0).map(_.toFloat)))
    val b = Seq((99L, Seq(0.5, 0.0, 0.866, 0.0).map(_.toFloat)))
    val emb = (a ++ b).toDF("vec_id", "embedding")
    val picks = Diversify.mmr(emb, "vec_id", "embedding", q,
        k = 3, pool = 11, lamNum = 1, lamDen = 2)
      .select("id").as[Long].collect().toSeq
    assert(picks.contains(99L))
    assert(picks.head < 99L) // rank 1 is still the most relevant
  }

  test("ranks are 1..k over distinct pool members") {
    val emb = Tables.embeddings(spark, sf0001)
    val got = Diversify.mmr(emb, "vec_id", "embedding",
        graft.QueryConstants.Q64, k = 8, pool = 30)
      .select("rank", "id").as[(Int, Long)].collect().toSeq
    assert(got.map(_._1) == (1 to 8))
    assert(got.map(_._2).distinct.size == 8)
  }
}

class OutlierClassifySpec extends SparkSpec {
  import spark.implicits._

  test("MAD outliers flag the robust deviants, not the mean-shifted") {
    // type A: four values at 10 and one at 100 — median 10, MAD 0, so
    // only the 100 is flagged (a mean/stdev z-score with σ≈36 would
    // call 100 just 2.2σ); type B: a tight symmetric spread, no flags
    val e = Seq(
      (1L, "a", 10.0), (2L, "a", 10.0), (3L, "a", 10.0), (4L, "a", 10.0),
      (5L, "a", 100.0),
      (6L, "b", 1.0), (7L, "b", 2.0), (8L, "b", 3.0), (9L, "b", 4.0),
      (10L, "b", 5.0)
    ).toDF("event_id", "event_type", "value")
    val got = Relational.madOutliersOf(e, 3.0)
      .select("event_id").as[Long].collect().toSeq
    assert(got == Seq(5L))
  }

  test("knnClassify takes the local majority and breaks vote ties low") {
    // labeled 1-D line: label 0 cluster at 0.0..0.2, label 1 cluster at
    // 1.0..1.2; a query at 0.1 is all-label-0; a query at 0.6 sees a
    // 1-vs-1 split at k=2 → tie breaks to label 0
    def v(x: Double) = Seq(x.toFloat, 0f)
    val labeled = Seq(
      (1L, v(0.0), 0L), (2L, v(0.1), 0L), (3L, v(0.2), 0L),
      (11L, v(1.0), 1L), (12L, v(1.1), 1L), (13L, v(1.2), 1L)
    ).toDF("id", "vec", "label")
    val queries = Seq((100L, v(0.1)), (200L, v(0.6)))
      .toDF("qid", "qv")
    val got = Classify.knnClassify(labeled, "id", "vec", "label",
        queries, "qid", "qv", 2)
      .orderBy(col("qid"))
      .select("qid", "pred", "votes").as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((100L, 0L, 2L), (200L, 0L, 1L)))
  }

  test("knnClassify recovers planted cluster labels on the corpus") {
    // plant labels by embedding-space halves via the first coordinate's
    // sign: a query from each half must be classified into its half
    val e = Tables.embeddings(spark, sf0001)
    val labeled = e.filter(col("vec_id") >= 10)
      .withColumn("label",
        when(element_at(col("embedding"), 1) >= 0, 1L).otherwise(0L))
    val queries = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"),
        when(element_at(col("embedding"), 1) >= 0, 1L).otherwise(0L).as("truth"))
    val got = Classify.knnClassify(labeled, "vec_id", "embedding", "label",
        queries.select("qid", "qv"), "qid", "qv", 15)
      .join(queries.select("qid", "truth"), "qid")
    val acc = got.filter(col("pred") === col("truth")).count().toDouble /
      got.count()
    assert(acc >= 0.7, s"halves accuracy $acc")
  }
}

class CdcGraphSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("changelog compaction: latest wins, tombstone kills, ts ties by seq") {
    val ch = Seq(
      // key 1: upsert then delete — gone
      (1L, ts("2024-01-01 10:00:00"), 1L, "upsert", 10.0),
      (1L, ts("2024-01-01 11:00:00"), 2L, "delete", 0.0),
      // key 2: delete then upsert — alive with the later value
      (2L, ts("2024-01-01 10:00:00"), 3L, "delete", 0.0),
      (2L, ts("2024-01-01 11:00:00"), 4L, "upsert", 20.0),
      // key 3: same-ts pair — higher seq (upsert, 31.0) wins
      (3L, ts("2024-01-01 10:00:00"), 5L, "upsert", 30.0),
      (3L, ts("2024-01-01 10:00:00"), 6L, "upsert", 31.0)
    ).toDF("k", "ts", "seq", "op", "v")
    val got = Relational.compactChangelog(ch, "k", "ts", "seq", "op", Seq("v"))
      .orderBy(col("k")).select("k", "v").as[(Long, Double)].collect().toSeq
    assert(got == Seq((2L, 20.0), (3L, 31.0)))
  }

  test("scd2: intervals chain, deletes close without emitting, re-insert reopens") {
    val ch = Seq(
      // key 1: two versions then delete — both intervals closed, none current
      (1L, ts("2024-01-01 10:00:00"), 1L, "upsert", 10.0),
      (1L, ts("2024-01-01 11:00:00"), 2L, "upsert", 11.0),
      (1L, ts("2024-01-01 12:00:00"), 3L, "delete", 0.0),
      // key 2: delete, re-insert — one open interval starting at the insert
      (2L, ts("2024-01-01 10:00:00"), 4L, "delete", 0.0),
      (2L, ts("2024-01-01 11:00:00"), 5L, "upsert", 20.0),
      // key 3: same-ts rewrite — seq 6's interval is zero-length, seq 7 current
      (3L, ts("2024-01-01 10:00:00"), 6L, "upsert", 30.0),
      (3L, ts("2024-01-01 10:00:00"), 7L, "upsert", 31.0)
    ).toDF("k", "ts", "seq", "op", "v")
    val got = Relational.scd2(ch, "k", "ts", "seq", "op", Seq("v"))
      .orderBy(col("k"), col("valid_from"), col("seq"))
      .select("k", "seq", "valid_from", "valid_to", "is_current", "v")
      .as[(Long, Long, java.sql.Timestamp, Option[java.sql.Timestamp], Boolean, Double)]
      .collect().toSeq
    assert(got == Seq(
      (1L, 1L, ts("2024-01-01 10:00:00"), Some(ts("2024-01-01 11:00:00")), false, 10.0),
      (1L, 2L, ts("2024-01-01 11:00:00"), Some(ts("2024-01-01 12:00:00")), false, 11.0),
      (2L, 5L, ts("2024-01-01 11:00:00"), None, true, 20.0),
      (3L, 6L, ts("2024-01-01 10:00:00"), Some(ts("2024-01-01 10:00:00")), false, 30.0),
      (3L, 7L, ts("2024-01-01 10:00:00"), None, true, 31.0)))
    // every key's current rows == its compacted survivors (interval/state duality)
    val current = got.filter(_._5).map(g => (g._1, g._6)).sorted
    val compacted = Relational.compactChangelog(ch, "k", "ts", "seq", "op", Seq("v"))
      .select("k", "v").as[(Long, Double)].collect().toSeq.sorted
    assert(current == compacted)
    // as-of duality at EVERY instant t present in the changelog (plus a
    // point strictly before any change): the interval filter over the
    // full history == compacting only the changes with ts <= t
    val hist = Relational.scd2(ch, "k", "ts", "seq", "op", Seq("v"))
    val instants = "2024-01-01 09:00:00" +:
      ch.select(col("ts")).distinct().as[java.sql.Timestamp]
        .collect().toSeq.map(_.toString.stripSuffix(".0"))
    instants.foreach { t =>
      val asOf = Relational.scd2AsOf(hist, lit(t).cast("timestamp"))
        .select("k", "v").as[(Long, Double)].collect().toSeq.sorted
      val prefix = Relational.compactChangelog(
          ch.filter(col("ts") <= lit(t).cast("timestamp")),
          "k", "ts", "seq", "op", Seq("v"))
        .select("k", "v").as[(Long, Double)].collect().toSeq.sorted
      assert(asOf == prefix, s"as-of duality broke at t=$t")
      // at most one active version per key
      assert(asOf.map(_._1).distinct.size == asOf.size)
    }
    // the same-instant rewrite (key 3, t = 10:00): the zero-length
    // superseded interval contains no t — only seq 7's version is live
    val t3 = Relational.scd2AsOf(hist,
        lit("2024-01-01 10:00:00").cast("timestamp"))
      .filter(col("k") === 3L).select("seq", "v")
      .as[(Long, Double)].collect().toSeq
    assert(t3 == Seq((7L, 31.0)))
  }

  test("k-core: cliques survive, chains cascade away, pendant peel can't break a core") {
    import graft.operators.Graphs
    // K4 clique (nodes 1-4) + pendant 5 on node 1 + path 10-11-12-13
    val edges = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (1L, 5L),
      (10L, 11L), (11L, 12L), (12L, 13L)
    ).toDF("a", "b")
    // 3-core: exactly the clique, every survivor at deg 3 (node 1 loses
    // its pendant edge but keeps 3 clique edges)
    val core3 = Graphs.kCore(edges, 3, 10)
      .as[(Long, Long)].collect().toSeq.sorted
    assert(core3 == Seq((1L, 3L), (2L, 3L), (3L, 3L), (4L, 3L)))
    // 2-core: the path CASCADES away end-in (10/13 peel, then 11/12) —
    // a one-round degree cut would have kept 11-12
    val core2 = Graphs.kCore(edges, 2, 10)
      .as[(Long, Long)].collect().toSeq.sorted
    assert(core2.map(_._1) == Seq(1L, 2L, 3L, 4L))
    // ...and an insufficient round budget shows the partial peel state
    val oneRound = Graphs.kCore(edges, 2, 1)
      .as[(Long, Long)].collect().toSeq.sorted
    assert(oneRound.map(_._1) == Seq(1L, 2L, 3L, 4L, 11L, 12L))
    // early exit: a huge budget equals the converged core
    assert(Graphs.kCore(edges, 3, 1000)
      .as[(Long, Long)].collect().toSeq.sorted == core3)
    // k above the max degree empties the graph
    assert(Graphs.kCore(edges, 5, 10).count() == 0L)
  }

  test("point-in-time join: each fact gets its own instant's version, leaks nothing") {
    val ch = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1L, "upsert", 10.0),
      (1L, ts("2024-01-01 11:00:00"), 2L, "upsert", 11.0),
      (1L, ts("2024-01-01 12:00:00"), 3L, "delete", 0.0),
      (2L, ts("2024-01-01 11:00:00"), 4L, "upsert", 20.0)
    ).toDF("k", "ts", "seq", "op", "v")
    val hist = Relational.scd2(ch, "k", "ts", "seq", "op", Seq("v"))
    val facts = Seq(
      (100L, 1L, ts("2024-01-01 09:30:00")), // before any version -> NULL
      (101L, 1L, ts("2024-01-01 10:00:00")), // ON the boundary -> v1 (inclusive from)
      (102L, 1L, ts("2024-01-01 10:59:59")), // mid v1 — v2 must NOT leak back
      (103L, 1L, ts("2024-01-01 11:30:00")), // mid v2
      (104L, 1L, ts("2024-01-01 13:00:00")), // after the delete -> NULL
      (105L, 2L, ts("2024-01-01 12:00:00")), // open-ended current version
      (106L, 3L, ts("2024-01-01 12:00:00"))  // key never in the dim -> NULL
    ).toDF("fid", "k", "fts")
    val got = Relational.pointInTimeJoin(facts, "k", "fts", hist, "k")
      .select(col("fid"), col("dim_seq"), col("dim_v"))
      .as[(Long, Option[Long], Option[Double])].collect().toSeq.sortBy(_._1)
    assert(got == Seq(
      (100L, None, None),
      (101L, Some(1L), Some(10.0)),
      (102L, Some(1L), Some(10.0)),
      (103L, Some(2L), Some(11.0)),
      (104L, None, None),
      (105L, Some(4L), Some(20.0)),
      (106L, None, None)))
    // exactly one output row per fact (intervals partition the timeline)
    assert(got.size == facts.count())
    // a fact column that would collide with the prefixed dim output
    // fails loudly instead of emitting ambiguous duplicate names
    intercept[IllegalArgumentException] {
      Relational.pointInTimeJoin(
        facts.withColumn("dim_v", lit(0)), "k", "fts", hist, "k")
    }
  }

  test("moving average windows never reach past the 7-day frame") {
    val rows = Relational.dailyMovingAvg(spark, sf0001)
      .select(col("event_type"), col("total"), col("ma7"))
      .as[(String, Double, Double)].collect().toSeq
    rows.groupBy(_._1).foreach { case (_, rs) =>
      val totals = rs.map(_._2)
      rs.zipWithIndex.foreach { case ((_, _, ma), i) =>
        val frame = totals.slice(math.max(0, i - 6), i + 1)
        val expect = BigDecimal(frame.sum / frame.size)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        assert(math.abs(ma - expect) < 1e-6, s"row $i: $ma vs $expect")
      }
    }
  }

  test("trailing-window HLL merge == direct sketch of the window union") {
    import graft.functions.{HllMerge, HllSketch}
    // three "days" with overlapping member sets: merging the per-day
    // register cells over a trailing window must equal sketching the
    // window's union directly (q46's contract)
    val rows = Seq(
      (1, (0L until 40L)), (2, (20L until 70L)), (3, (50L until 120L)))
      .flatMap { case (day, vs) => vs.map(v => (day, v)) }
      .toDF("day", "v")
    val daily = rows.groupBy(col("day"))
      .agg(HllSketch.hllDistinct(col("v"), 8).as("s"))
    val mergedAll = daily
      .agg(HllMerge.hllMerge(col("s.regs"), 8).as("s"))
      .select("s.v_zero", "s.z_fix", "s.estimate").head()
    val direct = rows
      .agg(HllSketch.hllDistinct(col("v"), 8).as("s"))
      .select("s.v_zero", "s.z_fix", "s.estimate").head()
    assert(mergedAll == direct)
    // a 2-day trailing window (days 2..3) likewise
    val merged23 = daily.filter(col("day") >= 2)
      .agg(HllMerge.hllMerge(col("s.regs"), 8).as("s"))
      .select("s.v_zero", "s.z_fix", "s.estimate").head()
    val direct23 = rows.filter(col("day") >= 2)
      .agg(HllSketch.hllDistinct(col("v"), 8).as("s"))
      .select("s.v_zero", "s.z_fix", "s.estimate").head()
    assert(merged23 == direct23)
  }

  test("event transitions: counts follow the per-user sequences, rows normalize") {
    val q = SparkEntry.queries("q47_event_transitions")(spark, sf0001)
      .as[(String, String, Long, Double)].collect().toSeq
    assert(q.nonEmpty)
    // row-normalization: per-src probabilities sum to ~1
    q.groupBy(_._1).foreach { case (src, rs) =>
      val tot = rs.map(_._4).sum
      assert(math.abs(tot - 1.0) < 1e-4, s"$src sums to $tot")
    }
    // ground truth from a driver-side replay of the tiny sf0.001 log
    val ev = Tables.events(spark, sf0001)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .as[(Long, java.sql.Timestamp, Long, String)].collect()
    val expect = ev.groupBy(_._1).values.flatMap { es =>
      es.sortBy(e => (e._2.getTime * 1000 + (e._2.getNanos / 1000) % 1000,
          e._3)).map(_._4).toSeq.sliding(2).toSeq
        .collect { case Seq(a, b) => (a, b) }
    }.toSeq.groupBy(identity).map { case (k, v) => (k, v.size.toLong) }
    val got = q.map(r => ((r._1, r._2), r._3)).toMap
    assert(got == expect)
  }

  test("histogram-cell quantiles: exact lands inside the chosen bin") {
    val q = SparkEntry.queries("q48_histogram_quantiles")(spark, sf0001)
      .as[(Double, Long, Long, Long, Double, Double)].collect().toSeq
    assert(q.map(_._1) == Seq(0.5, 0.9, 0.99))
    // recompute the shared bin width the gate derived from the extent
    val ext = Tables.orders(spark, sf0001)
      .agg(min(col("o_totalprice")), max(col("o_totalprice"))).head()
    val width = (ext.getDouble(1) - ext.getDouble(0)) / 256
    q.foreach { case (p, bucket, cumN, nTotal, est, exact) =>
      assert(bucket >= 0 && bucket < 256)
      assert(cumN >= math.ceil(p * nTotal).toLong,
        s"p=$p bucket cum $cumN below rank")
      // est is the bin's upper edge; the exact discrete quantile must
      // lie inside that bin (the <= one-bin-width error contract)
      assert(exact <= est + 1e-6, s"p=$p exact $exact above est $est")
      assert(est - exact <= width + 1e-6,
        s"p=$p est $est more than a bin above exact $exact")
    }
    // monotone in p
    assert(q.map(_._5) == q.map(_._5).sorted && q.map(_._6) == q.map(_._6).sorted)
  }

  test("label propagation: cliques converge to min id, a bridge doesn't merge them") {
    val c1 = for { a <- 1 to 4; b <- 1 to 4 if a < b } yield (a.toLong, b.toLong)
    val c2 = for { a <- 11 to 14; b <- 11 to 14 if a < b } yield (a.toLong, b.toLong)
    val edges = (c1 ++ c2 :+ (4L -> 11L)).toDF("a", "b")
    val got = Graphs.labelPropagation(edges, iterations = 4)
      .orderBy("node").as[(Long, Long)].collect().toSeq
    // one component (the bridge), but TWO communities — majority voting
    // keeps each clique on its own min id
    assert(got == Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L),
      (11L, 11L), (12L, 11L), (13L, 11L), (14L, 11L)))
    // synchronous 2-cycle contract on a bare edge: even rounds restore
    // the identity labeling, odd rounds swap — deterministic either way
    val pair = Seq((1L, 2L)).toDF("a", "b")
    val even = Graphs.labelPropagation(pair, iterations = 4)
      .orderBy("node").as[(Long, Long)].collect().toSeq
    assert(even == Seq((1L, 1L), (2L, 2L)))
    val odd = Graphs.labelPropagation(pair, iterations = 3)
      .orderBy("node").as[(Long, Long)].collect().toSeq
    assert(odd == Seq((1L, 2L), (2L, 1L)))
  }

  test("triangles: a 4-clique has four, a chain has none") {
    val clique = (for {
      a <- 0 to 3; b <- 0 to 3 if a < b
    } yield (a.toLong, b.toLong)).toDF("a", "b")
    val t = Graphs.triangles(clique).orderBy("a", "b", "c")
      .as[(Long, Long, Long)].collect().toSeq
    assert(t == Seq((0L, 1L, 2L), (0L, 1L, 3L), (0L, 2L, 3L), (1L, 2L, 3L)))
    val chain = Seq((0L, 1L), (1L, 2L), (2L, 3L)).toDF("a", "b")
    assert(Graphs.triangles(chain).count() == 0)
    val degs = Graphs.degrees(clique).orderBy("node")
      .as[(Long, Long)].collect().toSeq
    assert(degs == Seq((0L, 3L), (1L, 3L), (2L, 3L), (3L, 3L)))
  }
}

class TextIndexSpec extends SparkSpec {
  import spark.implicits._

  private val terms = Seq("spark", "data", "query", "join")

  private def probeRows(dir: String) =
    TextIndex.probe(TextIndex.open(spark, dir), terms, 15)
      .orderBy(col("bm25").desc, col("doc"))
      .as[(Long, Double)].collect().toSeq

  test("store probe == inline bm25, and the scan is partition-pruned") {
    val docs = Tables.documents(spark, sf0001)
    val dir = java.nio.file.Files.createTempDirectory("graft_ti").toString + "/s"
    TextIndex.write(docs, "doc_id", "text", 16, dir)
    val fromStore = probeRows(dir)
    val inline = TextOps.bm25(docs, "doc_id", "text", terms, 15)
      .orderBy(col("bm25").desc, col("doc"))
      .as[(Long, Double)].collect().toSeq
    assert(fromStore == inline && fromStore.size == 15)
    // pruning: the probe's postings scan must carry a PartitionFilters
    // clause on bucket (the strict form — a bare column mention in the
    // plan does not count)
    val store = TextIndex.open(spark, dir)
    val pruned = store.rows
      .filter(col("bucket").isin(0, 3) && col("term").isin(terms: _*))
    val plan = pruned.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*bucket".r.findFirstIn(plan).isDefined,
      s"expected PartitionFilters on bucket in plan")
  }

  test("append keeps probe scores equal to a full rebuild") {
    val docs = Tables.documents(spark, sf0001)
    val a = docs.filter(col("doc_id") % 3 =!= 0)
    val b = docs.filter(col("doc_id") % 3 === 0)
    val incDir = java.nio.file.Files.createTempDirectory("graft_ti").toString + "/inc"
    val fullDir = java.nio.file.Files.createTempDirectory("graft_ti").toString + "/full"
    TextIndex.write(a, "doc_id", "text", 16, incDir)
    TextIndex.append(spark, incDir, b, "doc_id", "text")
    TextIndex.write(docs, "doc_id", "text", 16, fullDir)
    assert(probeRows(incDir) == probeRows(fullDir))
    val (si, sf) = (TextIndex.open(spark, incDir), TextIndex.open(spark, fullDir))
    assert(si.n == sf.n && si.sumDl == sf.sumDl)
  }

  test("tombstone remove keeps probe scores equal to rebuild-without") {
    val docs = Tables.documents(spark, sf0001)
    val doomed = docs.filter(col("doc_id") % 5 === 0).select("doc_id")
    val remDir = java.nio.file.Files.createTempDirectory("graft_ti").toString + "/rem"
    val cleanDir = java.nio.file.Files.createTempDirectory("graft_ti").toString + "/cl"
    TextIndex.write(docs, "doc_id", "text", 16, remDir)
    TextIndex.remove(spark, remDir, doomed, "doc_id")
    TextIndex.write(docs.join(doomed, Seq("doc_id"), "left_anti"),
      "doc_id", "text", 16, cleanDir)
    assert(probeRows(remDir) == probeRows(cleanDir))
    // removing the same ids twice must not double-subtract the stats
    TextIndex.remove(spark, remDir, doomed, "doc_id")
    val (sr, sc) = (TextIndex.open(spark, remDir), TextIndex.open(spark, cleanDir))
    assert(sr.n == sc.n && sr.sumDl == sc.sumDl)
  }

  test("phrase probe == raw-text phraseHits scan; tombstones drop hits") {
    val docs = Tables.documents(spark, sf0001)
    val dir = java.nio.file.Files.createTempDirectory("graft_ti").toString + "/ph"
    TextIndex.write(docs, "doc_id", "text", 16, dir)
    val phrase = Seq("data", "query")
    def probed = TextIndex.probePhrase(TextIndex.open(spark, dir), phrase)
      .orderBy(col("doc")).as[(Long, Int)].collect().toSeq
    val scanned = docs.select(col("doc_id").as("doc"),
        TextOps.phraseHits(col("text"), phrase).as("hits"))
      .filter(col("hits") > 0).orderBy(col("doc"))
      .as[(Long, Int)].collect().toSeq
    assert(probed == scanned && probed.nonEmpty)
    // a repeated-term phrase exercises the distinct-term pivot
    val p2 = Seq("the", "data", "the")
    val probed2 = TextIndex.probePhrase(TextIndex.open(spark, dir), p2)
      .orderBy(col("doc")).as[(Long, Int)].collect().toSeq
    val scanned2 = docs.select(col("doc_id").as("doc"),
        TextOps.phraseHits(col("text"), p2).as("hits"))
      .filter(col("hits") > 0).orderBy(col("doc"))
      .as[(Long, Int)].collect().toSeq
    assert(probed2 == scanned2)
    // tombstoning a matching doc removes it from the phrase relation
    val victim = scanned.head._1
    TextIndex.remove(spark, dir, Seq(victim).toDF("doc_id"), "doc_id")
    assert(probed == scanned.filterNot(_._1 == victim))
  }
}
