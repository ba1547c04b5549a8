package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.operators.TextOps.tokens

/** Persisted INVERTED INDEX serving store — the keyword-search member
  * of the serving-store family ({bucketed LSH, IVF-flat, IVFADC,
  * IVF-SQ8, binary} for vectors, this for text): term-partitioned
  * posting lists on disk, opened once, probed per query with
  * partition-pruned scans and Okapi BM25 ranking identical to the
  * inline [[TextOps.bm25]].
  *
  * Layout:
  *   `path/`          postings (term, doc, tf, dl) partitioned by
  *                    `bucket = pmod(hash(term), numBuckets)` — a probe
  *                    reads only the query terms' buckets
  *                    (PartitionFilters-level pruning, same contract as
  *                    the ANN stores' list/bucket partitions)
  *   `path.stats`     one row (n docs, sum dl) — exact, kept exact by
  *                    append/remove (the BM25 globals)
  *   `path.doclens`   (doc, dl) — consulted on remove to adjust stats
  *   `path.tombstones` removed doc ids; probes anti-join it broadcast
  *                    (the Lucene deleted-docs model: delete = mark,
  *                    physical reclaim happens at rebuild)
  *
  * Maintenance keeps SCORES exact, not just membership: append and
  * remove both update the stats sidecar with the exact token counts of
  * the delta, so probe scores equal a full rebuild's (specs pin both
  * parities). df needs no sidecar at all — a term's full posting list
  * lives inside the pruned partitions, so df is counted from the rows
  * the probe already reads. */
object TextIndex {

  case class TextStore(rows: DataFrame, tombstones: DataFrame,
                       n: Long, sumDl: Long, numBuckets: Int)

  private def bucketOf(term: org.apache.spark.sql.Column, numBuckets: Int) =
    pmod(hash(term), lit(numBuckets))

  /** The POSITIONAL posting relation (term, doc, tf, dl, positions) of
    * tokenized (doc, ts) rows — positions 1-based in token order, the
    * classic positional-index payload that turns the store
    * phrase-capable (Lucene's default posting shape) at ~one extra int
    * per token. */
  private def postings(toks: DataFrame, numBuckets: Int): DataFrame =
    toks.select(col("doc"), size(col("ts")).as("dl"),
        posexplode(col("ts")).as(Seq("pos", "term")))
      .groupBy(col("term"), col("doc"))
      .agg(max(col("dl")).as("dl"), count(lit(1)).as("tf"),
        array_sort(collect_list(col("pos") + 1)).as("positions"))
      .withColumn("bucket", bucketOf(col("term"), numBuckets))

  /** The `.stats` sidecar's layout: the BM25 globals and the bucket
    * count. */
  private val StatsSchema = StructType.fromDDL("n long, sumdl long, buckets int")

  private def writeStats(spark: SparkSession, path: String, n: Long, sumDl: Long,
                         numBuckets: Int): Unit =
    StoreMaintain.writeSidecar(spark, path, "stats", StatsSchema,
      Seq(Row(n, sumDl, numBuckets)))

  /** Tokenize `docs` once, write (`append`: add) their postings and their
    * (doc, dl) rows, and return their (n, sum dl) totals, observed while
    * the (doc, dl) rows are written. */
  private def writeDocs(docs: DataFrame, idCol: String, textCol: String,
                        numBuckets: Int, path: String, append: Boolean): (Long, Long) =
    Pins.scope { pins =>
      val toks = pins(docs.select(col(idCol).as("doc"), tokens(col(textCol)).as("ts")))
      if (append) StoreMaintain.append(postings(toks, numBuckets), path, "bucket")
      else StoreMaintain.write(postings(toks, numBuckets), path, "bucket")
      val totals = Observation("doclens")
      StoreMaintain.writeSidecarRows(toks.select(col("doc"), size(col("ts")).as("dl"))
        .observe(totals, count(lit(1)).as("n"), coalesce(sum(col("dl")), lit(0L)).as("sumdl")),
        path, "doclens", append)
      val agg = totals.get
      (agg("n").asInstanceOf[Long], agg("sumdl").asInstanceOf[Long])
    }

  def write(docs: DataFrame, idCol: String, textCol: String,
            numBuckets: Int, path: String): Unit = {
    val spark = docs.sparkSession
    val (n, sumDl) = writeDocs(docs, idCol, textCol, numBuckets, path, append = false)
    writeStats(spark, path, n, sumDl, numBuckets)
    StoreMaintain.writeSidecar(spark, path, "tombstones",
      StructType.fromDDL("doc long"), Nil)
  }

  def open(spark: SparkSession, path: String): TextStore = {
    val stats = StoreMaintain.readSidecar(spark, path, "stats", StatsSchema).head
    TextStore(StoreMaintain.read(spark, path),
      StoreMaintain.readSidecarRows(spark, path, "tombstones"),
      stats.getLong(0), stats.getLong(1), stats.getInt(2))
  }

  /** APPEND new documents: their postings go to their term buckets
    * (touched partitions gain files, nothing is rewritten) and the
    * stats sidecar advances by the exact delta, so subsequent probe
    * scores equal a full rebuild over old ∪ new. */
  def append(spark: SparkSession, path: String, docs: DataFrame,
             idCol: String, textCol: String): Unit = {
    val store = open(spark, path)
    val (n, sumDl) = writeDocs(docs, idCol, textCol, store.numBuckets, path, append = true)
    writeStats(spark, path, store.n + n, store.sumDl + sumDl, store.numBuckets)
  }

  /** REMOVE documents by id: tombstone them (no posting rewrite — the
    * Lucene model) and subtract their exact token counts from the
    * stats sidecar so scores match a rebuild-without. */
  def remove(spark: SparkSession, path: String, ids: DataFrame,
             idCol: String): Unit = Pins.scope { pins =>
    val store = open(spark, path)
    val idRel = pins(ids.select(col(idCol).as("doc")).distinct()
      .join(store.tombstones, Seq("doc"), "left_anti"))
    val gone = StoreMaintain.readSidecarRows(spark, path, "doclens")
      .join(broadcast(idRel), Seq("doc"), "left_semi")
      .agg(count(lit(1)).as("n"), coalesce(sum(col("dl")), lit(0L)).as("sumdl"))
      .head()
    // pinned, so the overwrite of the tombstone sidecar never reads the
    // files it replaces
    val next = pins(store.tombstones.select(col("doc")).unionAll(idRel))
    StoreMaintain.writeSidecarRows(next.coalesce(1), path, "tombstones")
    writeStats(spark, path, store.n - gone.getLong(0), store.sumDl - gone.getLong(1),
      store.numBuckets)
  }

  /** BM25-ranked top-`topK` for `terms` against an opened store —
    * identical scores to [[TextOps.bm25]] over the live documents: the
    * same fixed-order expression sum over the same idf doubles, ranked
    * on the 6dp-rounded value with the doc-id tie-break.
    *
    * Plan shape: ONE pruned postings scan (bucket partition filter +
    * term filter pushed to parquet), df as a Q-row driver aggregate
    * over that same pruned relation, tombstones as a broadcast
    * anti-join, and a pivot of the ≤ Q posting rows per doc into tf
    * columns — no full-index pass anywhere. */
  /** PHRASE probe: per-doc count of token positions starting an exact
    * consecutive match of `phrase`, served from the store — the same
    * relation [[TextOps.phraseHits]] computes by scanning raw text,
    * answered instead from the pruned positional postings: only the
    * phrase terms' bucket partitions are read (PartitionFilters-level,
    * like every serving-store probe), the ≤|phrase| posting rows per
    * doc pivot into per-offset position arrays, and the occurrence
    * count is one array expression (filter over the first term's
    * positions, array_contains at each further offset). Tombstoned
    * docs are anti-joined out, so maintenance semantics match BM25
    * probes. */
  def probePhrase(store: TextStore, phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "phrase must be non-empty")
    val terms = phrase.distinct
    val spark = store.rows.sparkSession
    val buckets = {
      import spark.implicits._
      terms.toDF("term")
        .select(bucketOf(col("term"), store.numBuckets).as("b"))
        .collect().map(_.getInt(0)).toSeq.distinct
    }
    val pruned = store.rows
      .filter(col("bucket").isin(buckets: _*) && col("term").isin(terms: _*))
      .join(broadcast(store.tombstones), Seq("doc"), "left_anti")
    // one positions array column per DISTINCT term of the phrase
    val posCols = terms.zipWithIndex.map { case (t, i) =>
      first(when(col("term") === t, col("positions")), ignoreNulls = true)
        .as(s"_p$i")
    }
    val perDoc = pruned.groupBy(col("doc")).agg(posCols.head, posCols.tail: _*)
    val termIdx = terms.zipWithIndex.toMap
    val p0 = col(s"_p${termIdx(phrase.head)}")
    val hit = (p: Column) => phrase.zipWithIndex.tail
      .map { case (t, o) =>
        array_contains(col(s"_p${termIdx(t)}"), p + lit(o)) }
      .foldLeft(lit(true))((a, b) => a && b)
    perDoc
      .withColumn("hits",
        when(terms.indices.map(i => col(s"_p$i").isNull)
          .reduce((a, b) => a || b), lit(0))
          .otherwise(size(filter(p0, hit))))
      .filter(col("hits") > 0)
      .select(col("doc"), col("hits"))
  }

  def probe(store: TextStore, terms: Seq[String], topK: Int,
            k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val ts = terms.distinct
    val spark = store.rows.sparkSession
    // query-side bucket via the SAME expression the writer used — a
    // driver-side reimplementation of hash() would have to track its
    // murmur3 details across Spark versions
    val buckets = {
      import spark.implicits._
      ts.toDF("term")
        .select(bucketOf(col("term"), store.numBuckets).as("b"))
        .collect().map(_.getInt(0)).toSeq.distinct
    }
    val pruned = store.rows
      .filter(col("bucket").isin(buckets: _*) && col("term").isin(ts: _*))
      .join(broadcast(store.tombstones), Seq("doc"), "left_anti")
    val n = store.n
    val avgdl = store.sumDl.toDouble / n
    val dfMap = pruned.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val idf = ts.map { t =>
      val df = dfMap.getOrElse(t, 0L).toDouble
      t -> math.log(1.0 + (n - df + 0.5) / (df + 0.5))
    }.toMap
    val tfCols = ts.zipWithIndex.map { case (t, i) =>
      sum(when(col("term") === t, col("tf")).otherwise(0L)).as(s"_tf$i")
    }
    val perDoc = pruned.groupBy(col("doc"))
      .agg(max(col("dl")).as("dl"), tfCols: _*)
    val norm = lit(k1) * (lit(1.0 - b) +
      lit(b) * col("dl").cast("double") / avgdl)
    val score = ts.zipWithIndex.map { case (t, i) =>
      val tf = col(s"_tf$i").cast("double")
      lit(idf(t)) * tf * lit(k1 + 1.0) / (tf + norm)
    }.reduce((a, c) => a + c)
    perDoc
      .withColumn("bm25", round(score, 6))
      .orderBy(col("bm25").desc, col("doc"))
      .limit(topK)
      .select(col("doc"), col("bm25"))
  }
}
