package perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame

import graft.operators._

/** The vectors workload. Set-up builds, from one seeded corpus, the tree
  * index, the pinned vectors, the merged graph store and its pinned copy,
  * and an IVF store. The timed part serves queries from memory
  * ([[Serve]]), then writes beside reads on the persisted stores
  * ([[Churn]]). */
object Vectors {
  val N = 6000
  /** Held-out query vectors (ids from N); the append pool follows them. */
  val Batch = 250
  val Lists = N / 250

  final case class State(dir: String, v: Data.Vectors, held: Array[(Long, Array[Float])],
                         tree: DataFrame, pinned: PinnedIndex,
                         vecs: mutable.LongMap[Array[Float]], graph: GraphAnn.PinnedGraph)

  /** Runs the workload; returns one more serving round on the same state
    * (replayed to measure the tracing overhead). */
  def run(ctx: Ctx): Ctx => Unit = {
    val spark = ctx.spark
    ctx.params ++= Seq("n" -> N, "dim" -> Data.Dim, "spread" -> Data.Spread,
      "cluster_size" -> Data.ClusterSize, "radius" -> Data.Radius,
      "graph_lists" -> Lists, "graph_nprobe" -> 2, "graph_k" -> 12, "graph_alpha" -> 1.2,
      "graph_max_degree" -> 24, "ivf_lists" -> Lists, "serve_k" -> Serve.K,
      "serve_ef" -> Serve.Ef, "single_queries" -> Serve.Singles, "batch_queries" -> Batch,
      "clients" -> 1, "loop" -> "closed")
    val st = ctx.setup(2) { i =>
      val d = ctx.dir(s"setup$i")
      val v = Data.vectors(ctx, N, Batch + Churn.B * Churn.Rounds, d)
      val tree = ctx.call("IndexBuild.buildIndex", pinned = true) {
        IndexBuild.buildIndex(v.points, "id", "vector").write.parquet(d + "/tree0")
        spark.read.parquet(d + "/tree0")
      }
      val (pinned, vecs) = ctx.call("PinnedIndex.pinWithVectors")(
        PinnedIndex.pinWithVectors(tree, v.points, "id", "vector"))
      ctx.call("GraphAnn.buildAndWriteMerged", pinned = true)(
        GraphAnn.buildAndWriteMerged(v.points, "id", "vector", numLists = Lists,
          nprobe = 2, k = 12, alpha = 1.2, maxDegree = 24, path = d + "/graph"))
      val graph = ctx.call("GraphAnn.pinStore")(
        GraphAnn.pinStore(GraphAnn.openGraph(spark, d + "/graph")))
      ctx.call("Similarity.writeIvf")(
        Similarity.writeIvf(v.points, "id", "vector", Lists, d + "/ivf"))
      State(d, v, Data.collect(v.held), tree, pinned, vecs, graph)
    }
    // warm-up, thrown away: the serving code paths compile before timing
    val warm = ctx.scratch
    Serve.rounds(warm, st, 0.5)
    Serve.batches(warm, st, 0d, 2, new Serve.Pairs, new Serve.Pairs)
    // serving rounds before and after the writes, so the round latency is
    // sampled across the whole run
    val before = Serve.rounds(ctx, st, ctx.seconds * 0.35)
    val joins, annJoins = new Serve.Pairs
    ctx.call("vectors.batches")(Serve.batches(ctx, st, ctx.seconds * 0.3, 4, joins, annJoins))
    ctx.call("vectors.churn")(Churn.run(ctx, st))
    val after = Serve.rounds(ctx, st, ctx.seconds * 0.35)
    Serve.check(ctx, st, Seq(before, after), joins, annJoins)
    var next = 0
    c => { Serve.round(c, st, next, Serve.Answers()); next += 1 }
  }
}
