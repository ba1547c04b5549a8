package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Ingest

/** Seeded inputs. Vectors come from one clustered generator per seed; the
  * ids at and above the corpus size are held out (queries, appends), so
  * they fall in the same clusters as the corpus. */
object Data {
  val Dim = 32
  val Spread = 0.15
  /** Corpus vectors per cluster centre. A ball of radius [[Radius]]
    * around a held-out point holds tens of its cluster's points. */
  val ClusterSize = 250
  val Radius = 0.6

  final case class Vectors(points: DataFrame, held: DataFrame)

  /** `n` corpus vectors (ids < n) and `held` held-out ones (ids n until
    * n + held), written to parquet under `dir` and read back. */
  def vectors(ctx: Ctx, n: Int, held: Int, dir: String): Vectors = {
    val spark = ctx.spark
    ctx.call("Ingest.randomClustered") {
      val all = Ingest.randomClustered(spark, n.toLong + held, Dim,
        centers = math.max(1, n / ClusterSize), spread = Spread, seed = ctx.seed)
      all.filter(col("id") < n).write.parquet(dir + "/points")
      all.filter(col("id") >= n).write.parquet(dir + "/held")
    }
    Vectors(spark.read.parquet(dir + "/points"), spark.read.parquet(dir + "/held"))
  }

  /** (id, vector) rows collected into memory, ordered by id. */
  def collect(df: DataFrame): Array[(Long, Array[Float])] =
    df.select(col("id"), col("vector")).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))

  def asQuery(v: Array[Float]): Seq[Double] = v.toSeq.map(_.toDouble)

  /** A (qid, qv) query relation from collected vectors. */
  def queries(spark: SparkSession, qs: Seq[(Long, Array[Float])]): DataFrame = {
    import spark.implicits._
    qs.map { case (id, v) => (id, v) }.toDF("qid", "qv").coalesce(1)
  }

  /** Sum of file sizes under a directory tree (store footprint). */
  def bytesUnder(spark: SparkSession, path: String): Long = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
  }
}
