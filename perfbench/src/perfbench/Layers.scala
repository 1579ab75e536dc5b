package perfbench

import Main.{Metric, median}

/** The per-layer metrics a traced run reports, named
  * `<layer>.<metric>` after the repo's modules. Every traced run
  * prints all of them; a layer a workload does not exercise reads 0. */
object Layers {

  /** The 13 query modules, in `SparkEntry`'s order, with their public
    * query and staging maps (used only to attribute queries). */
  val Modules: Seq[(String, Set[String], Set[String])] = {
    import graft.queries._
    Seq(
      ("Relational", Relational.queries.keySet, Set.empty[String]),
      ("Relational2", Relational2.queries.keySet, Set.empty[String]),
      ("TweetOps", TweetOps.queries.keySet, Set.empty[String]),
      ("TextQueries", TextQueries.queries.keySet, Set.empty[String]),
      ("DedupSim", DedupSim.queries.keySet, DedupSim.staging.keySet),
      ("EventQueries", EventQueries.queries.keySet, EventQueries.staging.keySet),
      ("MultimodalQueries", MultimodalQueries.queries.keySet, Set.empty[String]),
      ("IoQueries", IoQueries.queries.keySet, IoQueries.staging.keySet),
      ("PipelineQueries", PipelineQueries.queries.keySet, Set.empty[String]),
      ("PlanQueries", PlanQueries.queries.keySet, Set.empty[String]),
      ("TrainingQueries", TrainingQueries.queries.keySet, Set.empty[String]),
      ("GraphQueries", GraphQueries.queries.keySet, GraphQueries.staging.keySet),
      ("EvalQueries", EvalQueries.queries.keySet, Set.empty[String]))
  }

  private val execCounters = Seq(
    "jobs" -> "count", "stages" -> "count", "tasks" -> "count",
    "task_run_ms" -> "ms", "task_cpu_ms" -> "ms", "gc_ms" -> "ms",
    "input_bytes" -> "bytes", "shuffle_read_bytes" -> "bytes",
    "shuffle_write_bytes" -> "bytes", "spill_bytes" -> "bytes",
    "peak_exec_mem_bytes" -> "bytes")

  val All: Seq[(String, String)] = Seq(
    "io.Sinks.read_ms" -> "ms", "io.Sinks.write_ms" -> "ms", "io.Sinks.rows_read" -> "count",
    "ops.Cleanse.ms" -> "ms", "ops.Cleanse.keep_frac" -> "ratio",
    "text.EntityRuler.ms" -> "ms", "text.EntityRuler.topics_per_tweet" -> "count",
    "text.EntityRuler.empty_frac" -> "ratio", "text.EntityRuler.matcher_build_ms" -> "ms",
    "text.Sentiment.ms" -> "ms", "text.Sentiment.hit_frac" -> "ratio",
    "pipeline.TweetPipeline.construct_ms" -> "ms",
    "pipeline.TweetPipeline.construct_jobs" -> "count",
    "pipeline.TweetPipeline.enrich_ms" -> "ms",
    "pipeline.TweetPipeline.cache_bytes" -> "bytes",
    "ops.Pairs.ms" -> "ms", "ops.Pairs.rows" -> "count",
    "ops.Aggregates.freq1d_ms" -> "ms", "ops.Aggregates.sent1d_ms" -> "ms",
    "ops.Aggregates.freq2d_ms" -> "ms", "ops.Aggregates.sent2d_ms" -> "ms",
    "ops.Aggregates.output_rows" -> "count",
    "spark.construct.ms" -> "ms", "spark.construct.jobs" -> "count",
    "spark.catalyst.ms" -> "ms",
    "spark.exec.ms" -> "ms") ++
    execCounters.map { case (k, u) => s"spark.exec.$k" -> u } ++
    Seq("spark.exec.busy_frac" -> "ratio") ++
    Modules.map(m => s"queries.${m._1}.s" -> "s") ++
    Modules.filter(_._3.nonEmpty).map(m => s"queries.${m._1}.staging_s" -> "s") ++
    Seq("queries.p95_s" -> "s", "jvm.peak_rss_mb" -> "MB", "trace.coverage_frac" -> "ratio",
      "trace_overhead_frac" -> "ratio")

  def metrics(values: Map[String, Double]): Seq[Metric] = {
    val unknown = values.keySet -- All.map(_._1)
    require(unknown.isEmpty, s"unlisted per-layer metrics: $unknown")
    All.map { case (n, u) => Metric(n, values.getOrElse(n, 0.0), u) }
  }

  /** Layer spans directly under a traced pass account for this share
    * of the pass wall (the rest is glue between calls). */
  private def coverage(tr: Tracer): Double = median(
    tr.spans.filter(_.name == "pass").toSeq.map { p =>
      tr.spans.filter(_.parent == p.id).map(s => (s.end - s.start).toDouble).sum / (p.end - p.start)
    })

  /** Tweet workloads: medians over traced passes of each layer span,
    * counters from the last traced pass. */
  def tweets(tr: Tracer, traced: Seq[Double], untraced: Seq[Double],
             extra: Map[String, Double]): Seq[Metric] = {
    val passes = tr.spans.filter(_.name == "pass").toSeq
    def ms(name: String) = median(passes.flatMap(p =>
      tr.find(p.pass, name).map(s => (s.end - s.start) / 1e6)))
    def exec(name: String, k: String) = median(passes.flatMap(p =>
      tr.find(p.pass, name).map(_.exec(k))))
    val last = tr.counters.groupBy(_._2).map { case (k, v) => k -> v.maxBy(_._1)._3 }
    val passMs = ms("pass")
    val spans = Map(
      "io.Sinks.read_ms" -> ms("io.Sinks.read"), "io.Sinks.write_ms" -> ms("io.Sinks.write"),
      "ops.Cleanse.ms" -> ms("ops.Cleanse"), "text.EntityRuler.ms" -> ms("text.EntityRuler"),
      "text.Sentiment.ms" -> ms("text.Sentiment"),
      "pipeline.TweetPipeline.construct_ms" -> ms("pipeline.TweetPipeline.construct"),
      "pipeline.TweetPipeline.construct_jobs" -> exec("pipeline.TweetPipeline.construct", "jobs"),
      "pipeline.TweetPipeline.enrich_ms" -> ms("pipeline.TweetPipeline.enrich"),
      "ops.Pairs.ms" -> ms("ops.Pairs")) ++
      Seq("freq1d", "sent1d", "freq2d", "sent2d").map(a =>
        s"ops.Aggregates.${a}_ms" -> ms(s"ops.Aggregates.$a")) ++
      execCounters.map { case (k, _) => s"spark.exec.$k" -> exec("pass", k) } ++
      Map("spark.exec.ms" -> passMs,
        "spark.exec.busy_frac" -> exec("pass", "task_run_ms") / (passMs * Main.cores),
        "trace.coverage_frac" -> coverage(tr),
        "trace_overhead_frac" -> (median(traced) / median(untraced) - 1))
    metrics(spans ++ last ++ extra)
  }
}
