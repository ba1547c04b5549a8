package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Seeded documents: skewed draws from a fixed vocabulary (word i has
  * weight 1/(i + 10)), plus variants of given documents with a few tokens
  * replaced (planted near-duplicates). */
object Docs {
  val Vocab = 1000
  val K = 3
  val Threshold = 0.6

  private val cdf = (0 until Vocab).map(i => 1d / (i + 10)).scanLeft(0d)(_ + _).tail

  private def word(rng: scala.util.Random): String = {
    val i = cdf.indexWhere(_ >= rng.nextDouble() * cdf.last)
    s"w${if (i < 0) Vocab - 1 else i}"
  }

  def fresh(rng: scala.util.Random, n: Int): IndexedSeq[String] =
    (0 until n).map(_ => Seq.fill(20 + rng.nextInt(60))(word(rng)).mkString(" "))

  /** `n` variants of documents drawn from `sources`: one token in twelve
    * (at least one) replaced. */
  def variants(rng: scala.util.Random, n: Int, sources: IndexedSeq[String]): IndexedSeq[String] =
    (0 until n).map { _ =>
      val toks = sources(rng.nextInt(sources.size)).split(" ")
      val edits = 1 + rng.nextInt(math.max(1, toks.length / 12))
      (0 until edits).foreach(_ => toks(rng.nextInt(toks.length)) = word(rng))
      toks.mkString(" ")
    }

  def withIds(first: Long, texts: Seq[String]): Seq[(Long, String)] =
    texts.zipWithIndex.map { case (t, i) => (first + i, t) }

  /** (doc_id, text) rows written to parquet at `path` and read back. */
  def write(spark: SparkSession, docs: Seq[(Long, String)], path: String): DataFrame = {
    import spark.implicits._
    docs.toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(path)
    spark.read.parquet(path)
  }
}
