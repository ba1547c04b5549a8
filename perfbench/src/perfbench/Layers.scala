package perfbench

/** The per-layer metrics of a traced pass. Every traced run reports the
  * whole catalogue; a layer the workload never calls reads 0. */
object Layers {
  private def calls(call: String, suffixes: String*): Seq[(String, String)] =
    suffixes.map(s => s"$call.$s" -> (s match {
      case "s" | "cpu_s" => "s"
      case "p50_ms" | "tail_ms" => "ms"
      case "jobs" | "jobs_per_call" | "runs" => "count"
      case _ => "MB"
    }))

  val catalogue: Seq[(String, String)] = Seq(
    calls("Ingest.randomClustered", "s"),
    calls("IndexBuild.buildIndex", "s", "jobs", "shuffle_mb", "spill_mb", "cpu_s", "pinned_mb_delta"),
    calls("GraphAnn.buildAndWriteMerged", "s", "jobs", "shuffle_mb", "spill_mb", "cpu_s", "pinned_mb_delta"),
    calls("IndexSearch.searchExact", "p50_ms", "tail_ms", "jobs_per_call", "result_mb_per_call"),
    Seq("IndexSearch.searchExact.matches_per_query" -> "count",
      "IndexSearch.searchBall.candidates_per_match" -> "ratio"),
    calls("PinnedIndex.pinWithVectors", "s"),
    calls("PinnedIndex.knn", "p50_ms", "tail_ms"),
    calls("PinnedIndex.searchJoin", "s", "shuffle_mb", "cpu_s"),
    calls("GraphAnn.pinStore", "s"),
    calls("GraphAnn.graphKnn", "p50_ms", "tail_ms"),
    Seq("GraphAnn.graphKnn.recall_at_10" -> "fraction"),
    calls("GraphAnn.graphKnnJoin", "s", "cpu_s"),
    calls("GraphAnn.graphKnnDistributed", "p50_ms", "jobs_per_call"),
    Seq("GraphAnn.graphKnnDistributed.recall_at_10" -> "fraction"),
    calls("GraphAnn.appendGraph", "s", "shuffle_mb"),
    calls("GraphAnn.removeGraph", "s"),
    calls("GraphAnn.consolidateGraphIfNeeded", "s", "runs"),
    calls("Similarity.writeIvf", "s"),
    calls("Similarity.appendIvf", "s"),
    calls("Similarity.probeIvf", "p50_ms"),
    calls("StoreMaintain.removeFromStore", "s", "pinned_mb_delta"),
    calls("IndexMaintain.addPoints", "s"),
    calls("IndexMaintain.removePoints", "s"),
    Seq("churn.read_after_write_p50_ms" -> "ms",
      "store.bytes_per_live_vector" -> "B",
      "store.bytes_written_per_vector" -> "B",
      "BruteForce.rangeSearch.vps" -> "vectors/s",
      "BruteForce.rangeSearch.mb_per_s" -> "MB/s"),
    calls("Dedup.ngramJaccardPrefixPairs", "s", "shuffle_mb", "spill_mb"),
    Seq("Dedup.ngramJaccardPrefixCandidates.candidates_per_pair" -> "ratio"),
    calls("Dedup.clusterIds", "s"),
    calls("Pipeline.curateWith", "s"),
    calls("Dedup.writeShingleStore", "s"),
    calls("Dedup.admitNewAgainstStore", "s", "shuffle_mb"),
    Seq("spark.jobs" -> "count", "spark.tasks" -> "count",
      "spark.shuffle_write_mb" -> "MB", "spark.spill_mb" -> "MB",
      "spark.gc_s" -> "s", "spark.driver_result_mb" -> "MB",
      "spark.pinned_mb_end" -> "MB", "trace.overhead" -> "ratio")
  ).flatten

  private val MB = 1e6

  /** Value of every catalogue metric for a traced pass. */
  def metrics(ctx: Ctx, t: Tracer, overhead: Double): Seq[(String, Double, String)] = {
    val e = t.engine
    val engine = Map(
      "spark.jobs" -> e.jobs.toDouble, "spark.tasks" -> e.tasks.toDouble,
      "spark.shuffle_write_mb" -> e.shuffleWriteBytes / MB,
      "spark.spill_mb" -> e.spillBytes / MB, "spark.gc_s" -> e.gcMillis / 1e3,
      "spark.driver_result_mb" -> e.resultBytes / MB,
      "trace.overhead" -> overhead)
    catalogue.map { case (name, unit) =>
      val value = engine.get(name).orElse(ctx.observed.get(name)).getOrElse {
        val call = name.substring(0, name.lastIndexOf('.'))
        val spans = t.byName(call)
        def per(f: Span => Double): Double = Stats.mean(spans.map(f))
        val durs = spans.map(_.seconds)
        name.substring(name.lastIndexOf('.') + 1) match {
          case _ if spans.isEmpty => 0d
          case "s" => Stats.median(durs)
          case "p50_ms" => Stats.median(durs) * 1e3
          case "tail_ms" => Stats.tail(durs).fold(durs.max)(_._2) * 1e3
          case "jobs" | "jobs_per_call" => per(_.spark.jobs.toDouble)
          case "shuffle_mb" => per(_.spark.shuffleWriteBytes / MB)
          case "spill_mb" => per(_.spark.spillBytes / MB)
          case "cpu_s" => per(_.spark.cpuNanos / 1e9)
          case "result_mb_per_call" => per(_.spark.resultBytes / MB)
          case "pinned_mb_delta" => per(_.pinnedDeltaBytes / MB)
          case _ => 0d
        }
      }
      (name, value, unit)
    }
  }
}
