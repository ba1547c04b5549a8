package perfbench

import scala.collection.mutable

import graft.operators._

/** The curate workload: near-duplicate pairs, their clusters and the
  * curation pipeline over a seeded corpus with planted near-duplicates;
  * each round then admits a fresh seeded document batch against a
  * persisted shingle store of the corpus. The store is not appended to,
  * so every round runs against the same state. */
object Curate {
  val CorpusDocs = 600
  val Variants = 60
  /** Per incoming batch: fresh documents, variants of corpus documents. */
  val BatchDocs = (30, 30)
  /** Rounds timed even when they outlast the run length. */
  val MinRounds = 4

  /** Runs the workload; returns one more round on the same store
    * (replayed to measure the tracing overhead). */
  def run(ctx: Ctx): Ctx => Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val (k, t) = (Docs.K, Docs.Threshold)
    ctx.params ++= Seq("docs" -> (CorpusDocs + Variants), "planted_variants" -> Variants,
      "batch_docs" -> BatchDocs.productIterator.toSeq, "vocab" -> Docs.Vocab,
      "shingle_k" -> k, "jaccard" -> t, "store_buckets" -> 16, "min_rounds" -> MinRounds, "clients" -> 1,
      "loop" -> "closed")
    val (d, corpus) = ctx.setup(2) { i =>
      val d = ctx.dir(s"setup$i")
      val rng = new scala.util.Random(ctx.seed)
      val base = Docs.fresh(rng, CorpusDocs)
      val corpus = Docs.withIds(0L, base ++ Docs.variants(rng, Variants, base))
      val docs = Docs.write(spark, corpus, d + "/docs")
      ctx.call("Dedup.writeShingleStore")(
        Dedup.writeShingleStore(docs, "doc_id", "text", k, d + "/shingles", buckets = 16))
      (d, corpus)
    }
    val rng = new scala.util.Random(ctx.seed + 1)
    val corpusText = corpus.map(_._2).toIndexedSeq
    val pairRuns = mutable.ArrayBuffer[(Set[(Long, Long, Double)], Sample)]()

    /** One closed-loop round: the curation pass over the corpus, then the
      * i-th batch of fresh documents and variants of corpus documents
      * admitted against the store. */
    def round(c: Ctx, i: Int, check: Boolean): Unit = {
      val docs = spark.read.parquet(s"$d/docs")
      val (fresh, outer) = BatchDocs
      val batch = Docs.withIds(10000000L * (i + 1),
        Docs.fresh(rng, fresh) ++ Docs.variants(rng, outer, corpusText)).toDF("doc_id", "text")
      c.round("curate.round") {
        c.op("Dedup.ngramJaccardPrefixPairs")(Dedup.ngramJaccardPrefixPairs(
            docs, "doc_id", "text", k, t).as[(Long, Long, Double)].collect().toSet)
          .foreach { case (ps, s) =>
            if (check) pairRuns += ((ps, s))
            val pairDf = ps.toSeq.map(p => (p._1, p._2)).toDF("a", "b")
            for {
              (cs, sc) <- c.op("Dedup.clusterIds")(Dedup.clusterIds(pairDf)
                .as[(Long, Long)].collect())
              (_, sp) <- c.op("Pipeline.curateWith")(Pipeline.curateWith(docs, "doc_id",
                "text", pairDf, Some(cs.toSeq.toDF("node", "cluster")))
                .write.format("noop").mode("overwrite").save())
            } c.count("items_per_s", corpusText.size, s.seconds + sc.seconds + sp.seconds)
          }
        c.op("Dedup.admitNewAgainstStore")(Dedup.admitNewAgainstStore(batch,
            Dedup.openShingleStore(spark, s"$d/shingles"), "doc_id", "text", t)
            .as[Long].collect().toSet)
          .foreach { case (ids, sa) =>
            c.count("write_items_per_s", fresh + outer, sa.seconds)
            if (check) c.untimed {
              val inline = Dedup.admitNew(batch, docs, "doc_id", "text", k, t)
                .as[Long].collect().toSet
              c.verify(sa, ids == inline, s"store admitted ${ids.size}, inline ${inline.size}")
            }
          }
      }
    }

    val rounds = ctx.loop(ctx.seconds, min = MinRounds)(i => round(ctx, i, check = true))
    val docs = spark.read.parquet(s"$d/docs")

    // ---- checks, outside every timer ----
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", k, t)
      .as[(Long, Long, Double)].collect().toSet
    pairRuns.foreach { case (ps, s) =>
      ctx.verify(s, ps == exact, s"${ps.size} prefix pairs, exact ${exact.size}")
    }
    ctx.observed("curate.pairs") = exact.size
    if (ctx.traced) {
      val cands = ctx.call("Dedup.ngramJaccardPrefixCandidates")(
        Dedup.ngramJaccardPrefixCandidates(docs, "doc_id", "text", k, t).count())
      ctx.observed("Dedup.ngramJaccardPrefixCandidates.candidates_per_pair") =
        cands.toDouble / math.max(1, exact.size)
    }
    var next = rounds
    c => { round(c, next, check = false); next += 1 }
  }
}
