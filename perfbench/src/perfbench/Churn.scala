package perfbench

import scala.collection.mutable

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators._

/** Writes beside reads, the second phase of the vectors workload. The
  * graph store, the IVF store and the tree index take an append batch and
  * a remove batch per round (graph consolidation fires on each remove
  * batch), and each round's writes are one write-throughput sample. After
  * the last round each store is opened afresh from parquet and queried. */
object Churn {
  val B = 30
  val Rounds = 2
  val K = 10
  val Ef = 32
  /** Superstep cap of the distributed graph search. */
  val MaxSteps = 8
  val Nprobe = 4
  /** Tombstone share that triggers graph consolidation: every remove
    * batch. */
  val ConsolidateRatio = B / (2d * Vectors.N)

  private def localBytesWritten(): Long =
    FileSystem.getAllStatistics.toArray(Array.empty[FileSystem.Statistics])
      .filter(_.getScheme == "file").map(_.getBytesWritten).sum

  def run(ctx: Ctx, st: Vectors.State): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val r = Data.Radius
    val N = Vectors.N
    val d = st.dir
    ctx.params ++= Seq("churn_batch" -> B, "churn_rounds" -> Rounds, "churn_k" -> K,
      "churn_ef" -> Ef, "graph_max_steps" -> MaxSteps, "ivf_nprobe" -> Nprobe,
      "consolidate_ratio" -> ConsolidateRatio)

    // the oracle's own state, in memory
    val vecOf = mutable.LongMap[Array[Float]]()
    (Data.collect(st.v.points) ++ st.held).foreach { case (id, x) => vecOf(id) = x }
    val held = st.held.iterator.drop(Vectors.Batch).map(_._1)
    val live = mutable.TreeSet[Long]() ++ (0L until N.toLong)
    val removed = mutable.HashSet[Long]()
    def livePoints: DataFrame =
      Data.queries(spark, live.toSeq.map(id => (id, vecOf(id)))).toDF("id", "vector")

    var treeVersion = 0
    def tree: DataFrame = spark.read.parquet(s"$d/tree$treeVersion")
    /** The live point table as the stores hold it: the IVF store's rows. */
    def storePoints: DataFrame = spark.read.parquet(s"$d/ivf")
    val rng = new scala.util.Random(ctx.seed)
    var consolidations = 0
    var written = 0L
    var bytesWritten = 0L
    var writeSeconds = 0d // in the current round

    /** A vector-store write: timed, and its local-file bytes counted. */
    def write[T](name: String, pinned: Boolean = false)(f: => T): Option[(T, Sample)] = {
      val b0 = localBytesWritten()
      val res = ctx.op(name, pinned)(f)
      bytesWritten += localBytesWritten() - b0
      res.foreach { case (_, s) => writeSeconds += s.seconds }
      res
    }

    val appended = mutable.ArrayBuffer[Long]()

    def append(): Unit = {
      val add = Seq.fill(B)(held.next())
      val addDf = Data.queries(spark, add.map(id => (id, vecOf(id)))).toDF("id", "vector")
      val before = storePoints
      write("GraphAnn.appendGraph")(GraphAnn.appendGraph(spark, s"$d/graph", addDf, "id", "vector"))
      write("Similarity.appendIvf")(Similarity.appendIvf(spark, s"$d/ivf", addDf, "vector"))
      write("IndexMaintain.addPoints", pinned = true) {
        IndexMaintain.addPoints(tree, before, addDf, "id", "vector")
          .write.parquet(s"$d/tree${treeVersion + 1}")
      }.foreach(_ => treeVersion += 1)
      live ++= add
      appended ++= add
      written += B
    }

    def remove(): Seq[Long] = {
      val doomed = rng.shuffle(live.toSeq).take(B).sorted
      val doomedDf = doomed.toDF("id")
      write("GraphAnn.removeGraph")(GraphAnn.removeGraph(spark, s"$d/graph", doomed))
      write("GraphAnn.consolidateGraphIfNeeded")(
        GraphAnn.consolidateGraphIfNeeded(spark, s"$d/graph", ConsolidateRatio))
        .foreach { case (ran, _) => if (ran) consolidations += 1 }
      write("StoreMaintain.removeFromStore", pinned = true)(
        StoreMaintain.removeFromStore(spark, s"$d/ivf", doomedDf, "id", "list_id"))
      write("IndexMaintain.removePoints") {
        IndexMaintain.removePoints(tree, doomedDf).write.parquet(s"$d/tree${treeVersion + 1}")
      }.foreach(_ => treeVersion += 1)
      live --= doomed
      removed ++= doomed
      written += B
      doomed
    }

    /** Every appended id still live is its own nearest hit in the IVF
      * store, and the tree holds exactly the live ids of the churn. */
    def checkWrites(): Unit = ctx.untimed {
      val add = appended.filter(live).toSeq
      val top1 = Similarity.probeIvfBatch(Similarity.openIvf(spark, s"$d/ivf"), "id", "vector",
          Data.queries(spark, add.map(id => (id, vecOf(id)))), "qid", "qv", Nprobe, 1)
        .select("qid", "id").as[(Long, Long)].collect().toMap
      ctx.check("Similarity.probeIvf own hit", add.forall(id => top1.get(id).contains(id)),
        s"${add.count(id => !top1.get(id).contains(id))} appended ids not their own nearest hit")
      val inTree = tree.filter(col("id").isin(add ++ removed: _*)).select("id").as[Long]
        .collect().toSet
      ctx.check("IndexMaintain.addPoints holds appended ids", add.forall(inTree),
        s"${add.count(id => !inTree(id))} appended ids missing from the tree")
      ctx.check("IndexMaintain.removePoints drops removed ids", !removed.exists(inTree),
        s"${removed.count(inTree)} removed ids left in the tree")
    }

    /** Fresh opens of every vector store, one query each, aimed at a
      * removed point, then the oracle checks. */
    def readAll(qid: Long): Unit = {
      val q = Data.asQuery(vecOf(qid))
      val qdf = Data.queries(spark, Seq((qid, vecOf(qid))))
      val g = ctx.op("GraphAnn.graphKnnDistributed")(GraphAnn.graphKnnDistributed(
        GraphAnn.openGraph(spark, s"$d/graph"), qdf, "qid", "qv", K, Ef, maxRounds = MaxSteps)
        .select("id").as[Long].collect().toSeq)
      val ivf = ctx.op("Similarity.probeIvf")(Similarity.probeIvf(
        Similarity.openIvf(spark, s"$d/ivf"), "id", "vector", q, Nprobe, K)
        .select("id").as[Long].collect().toSeq)
      val ball = ctx.op("IndexSearch.searchExact")(IndexSearch.searchExact(
        tree, storePoints, "id", "vector", q, r).select("id").as[Long].collect().toSet)
      val all = Seq(g, ivf, ball).flatten
      if (all.size == 3)
        ctx.observed("churn.read_after_write_p50_ms") = all.map(_._2.seconds).sum * 1e3
      ctx.untimed {
        val pts = livePoints
        val exact = BruteForce.knn(pts, "vector", "id", q, K).select("id").as[Long].collect().toSeq
        val exactBall = BruteForce.rangeSearch(pts, "vector", q, r).select("id").as[Long].collect().toSet
        g.foreach { case (ids, s) =>
          ctx.observed("GraphAnn.graphKnnDistributed.recall_at_10") = Check.recall(ids, exact)
          ctx.verify(s, !ids.exists(removed), s"graph returned removed ids ${ids.filter(removed)}")
        }
        ivf.foreach { case (ids, s) =>
          ctx.verify(s, !ids.exists(removed), s"ivf returned removed ids ${ids.filter(removed)}")
        }
        ball.foreach { case (ids, s) =>
          ctx.verify(s, ids == exactBall, s"vicinity: ${ids.size} ids, brute force ${exactBall.size}")
        }
      }
    }

    val doomed = (0 until Rounds).map { _ =>
      writeSeconds = 0d
      append()
      val doomed = remove()
      ctx.count("write_items_per_s", 2 * B, writeSeconds)
      doomed
    }.last
    readAll(doomed(rng.nextInt(B)))
    checkWrites()

    ctx.observed("GraphAnn.consolidateGraphIfNeeded.runs") = consolidations
    val storeBytes = Seq(s"$d/graph", s"$d/graph.meta", s"$d/graph.tomb", s"$d/ivf",
      s"$d/ivf.centroids", s"$d/tree$treeVersion").map(Data.bytesUnder(spark, _)).sum
    ctx.observed("store.bytes_per_live_vector") = storeBytes.toDouble / live.size
    ctx.observed("store.bytes_written_per_vector") = bytesWritten.toDouble / math.max(1L, written)
  }
}
