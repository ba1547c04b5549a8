package perfbench

import scala.collection.mutable

import org.apache.spark.sql.functions._

import graft.operators._

/** Serving phase of the vectors workload: one closed-loop client sends a
  * vicinity, an exact kNN and an ANN query per round against the pinned
  * serving state, then batches of held-out queries go through the two join
  * forms. */
object Serve {
  val Singles = 100
  val K = 10
  val Ef = 64

  final case class Answers(
    vicinity: mutable.ArrayBuffer[(Long, Array[Long], Sample)] = mutable.ArrayBuffer(),
    knn: mutable.ArrayBuffer[(Long, Seq[(Long, Double)], Sample)] = mutable.ArrayBuffer(),
    ann: mutable.ArrayBuffer[(Long, Seq[Long], Sample)] = mutable.ArrayBuffer())

  /** The closed loop, one client: the next round goes out when the last
    * returns. */
  def rounds(ctx: Ctx, st: Vectors.State, seconds: Double): Answers = {
    val out = Answers()
    ctx.loop(seconds)(i => round(ctx, st, i, out))
    out
  }

  /** One round: a vicinity, an exact kNN and an ANN query on the i-th
    * held-out vector (cycling), answers added to `out`. */
  def round(ctx: Ctx, st: Vectors.State, i: Int, out: Answers): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val (qid, qv) = st.held(i % Singles)
    val q = Data.asQuery(qv)
    ctx.round("vectors.round") {
      ctx.op("IndexSearch.searchExact")(IndexSearch.searchExact(st.tree, st.v.points,
        "id", "vector", q, Data.Radius).select("id").as[Long].collect())
        .foreach { case (ids, sm) => out.vicinity += ((qid, ids, sm)) }
      ctx.op("PinnedIndex.knn")(st.pinned.knn(q, K, st.vecs.apply))
        .foreach { case (res, sm) => out.knn += ((qid, res, sm)) }
      ctx.op("GraphAnn.graphKnn")(GraphAnn.graphKnn(spark, st.graph, q, K, Ef)
        .as[(Long, Double)].collect().toSeq)
        .foreach { case (res, sm) => out.ann += ((qid, res.map(_._1), sm)) }
    }
  }

  type Pairs = mutable.ArrayBuffer[(Array[(Long, Long)], Sample)]

  /** Batches of held-out queries through the two join forms, at least
    * `min` times; each batch is one throughput sample. */
  def batches(ctx: Ctx, st: Vectors.State, seconds: Double, min: Int, joins: Pairs,
              annJoins: Pairs): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val queries = st.held.take(Vectors.Batch)
    val batch = Data.queries(spark, queries.toSeq)
    ctx.loop(seconds, min) { _ =>
      val a = ctx.op("PinnedIndex.searchJoin")(PinnedIndex.searchJoin(st.pinned,
        st.v.points, "id", "vector", batch, "qid", "qv", Data.Radius).as[(Long, Long)].collect())
      val b = ctx.op("GraphAnn.graphKnnJoin")(GraphAnn.graphKnnJoin(st.graph, batch,
        "qid", "qv", K, Ef).select("qid", "id").as[(Long, Long)].collect())
      a.foreach(joins += _)
      b.foreach(annJoins += _)
      for ((_, sa) <- a; (_, sb) <- b)
        ctx.count("items_per_s", 2 * queries.length, sa.seconds + sb.seconds)
    }
  }

  /** Every answer against brute force, outside the timers. */
  def check(ctx: Ctx, st: Vectors.State, answers: Seq[Answers], joins: Pairs,
            annJoins: Pairs): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val r = Data.Radius
    val Vectors.State(_, v, held, tree, _, _, _) = st
    val queries = held.take(Vectors.Batch)
    val singles = queries.take(Singles)
    val batch = Data.queries(spark, queries.toSeq)
    val vic = answers.flatMap(_.vicinity)
    val knn = answers.flatMap(_.knn)
    val ann = answers.flatMap(_.ann)

    val ball: Map[Long, Set[Long]] = BruteForce.distanceJoin(
        v.points.select("id", "vector"), "vector", batch, "qv", r)
      .select("qid", "id").as[(Long, Long)].collect()
      .groupBy(_._1).map { case (q, ps) => q -> ps.map(_._2).toSet }
      .withDefaultValue(Set.empty)
    vic.foreach { case (qid, ids, sm) =>
      ctx.verify(sm, ids.toSet == ball(qid) && ids.length == ball(qid).size,
        s"vicinity q$qid: ${ids.length} ids, brute force ${ball(qid).size}")
    }
    joins.foreach { case (pairs, sm) =>
      val got = pairs.groupBy(_._1).map { case (q, ps) => q -> ps.map(_._2).toSet }
      ctx.verify(sm, pairs.length == ball.values.map(_.size).sum &&
        queries.forall { case (q, _) => got.getOrElse(q, Set.empty) == ball(q) },
        s"searchJoin: ${pairs.length} pairs, brute force ${ball.values.map(_.size).sum}")
    }
    val exact: Map[Long, Seq[(Long, Double)]] = BruteForce.knnJoin(
        v.points.select("id", "vector"), "vector", "id",
        Data.queries(spark, singles.toSeq), "qid", "qv", K)
      .select("qid", "id", "dist").as[(Long, Long, Double)].collect()
      .groupBy(_._1).map { case (q, rs) => q -> rs.toSeq.map(t => (t._2, t._3)).sortBy(t => (t._2, t._1)) }
    knn.foreach { case (qid, res, sm) =>
      ctx.verify(sm, Check.sameKnn(res, exact(qid)),
        s"knn q$qid: got ${res.take(3)} want ${exact(qid).take(3)}")
    }
    val recalls = ann.map { case (qid, ids, _) => Check.recall(ids, exact(qid).map(_._1)) } ++
      annJoins.headOption.toSeq.flatMap { case (pairs, _) =>
        val got = pairs.groupBy(_._1)
        singles.map { case (q, _) =>
          Check.recall(got.getOrElse(q, Array.empty).map(_._2).toSeq, exact(q).map(_._1))
        }
      }
    ctx.observed("GraphAnn.graphKnn.recall_at_10") = Stats.mean(recalls.toSeq)
    ctx.observed("IndexSearch.searchExact.matches_per_query") =
      Stats.mean(vic.map(_._2.length.toDouble).toSeq)

    if (ctx.traced) {
      // candidates the L2 descent hands to the exact re-check, per match
      val cands = singles.take(10).map { case (qid, qv) =>
        (ctx.call("IndexSearch.searchBall")(
          IndexSearch.searchBall(tree, Data.asQuery(qv), r).count()).toDouble,
          ball(qid).size.toDouble)
      }
      ctx.observed("IndexSearch.searchBall.candidates_per_match") =
        cands.map(_._1).sum / math.max(1d, cands.map(_._2).sum)
      Kernel.rangeScan(ctx, v.points, Data.asQuery(singles.head._2), r)
    }
  }
}

/** Isolated distance-kernel row: full `BruteForce.rangeSearch` scans over
  * an in-memory relation of about a million corpus vectors (the corpus
  * repeated), so the time is the scan and the distance kernel rather than
  * per-job overhead. */
object Kernel {
  val Rows = 1000000

  def rangeScan(ctx: Ctx, points: org.apache.spark.sql.DataFrame,
                q: Seq[Double], r: Double): Unit = {
    val copies = math.max(1L, Rows / points.count())
    val cached = points.select("vector")
      .crossJoin(ctx.spark.range(copies).select(col("id").as("copy")))
      .select("vector").persist()
    val n = cached.count()
    val secs = (0 until 7).map { _ =>
      val t0 = System.nanoTime()
      ctx.call("BruteForce.rangeSearch")(BruteForce.rangeSearch(cached, "vector", q, r).count())
      (System.nanoTime() - t0) / 1e9
    }.drop(2)
    cached.unpersist(blocking = true)
    val s = Stats.median(secs)
    ctx.observed("BruteForce.rangeSearch.vps") = n / s
    ctx.observed("BruteForce.rangeSearch.mb_per_s") = n * Data.Dim * 4d / 1e6 / s
  }
}
