package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

/** The metric catalogue and the figures every workload shares: the
  * `spark` layer from the listeners, and self time per layer from the
  * spans. Names and units here are the ones BENCHMARK.json lists. */
object Metrics {
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "peak_heap_mb" -> "MB", "throughput_per_s" -> "1/s",
    "op_p50_s" -> "s", "op_tail_s" -> "s")

  /** Span layer -> short name used in metric names. */
  val layers: Seq[(String, String)] = Seq(
    "sources" -> "sources", "operators.etl" -> "etl", "operators.curation" -> "curation",
    "operators.similarity" -> "similarity", "functions" -> "functions",
    "operators.retrieval" -> "retrieval", "bench" -> "bench")

  val perLayer: Seq[String] = Seq(
    "spark.jobs_per_op", "spark.stages_per_op", "spark.tasks_per_op", "spark.task_s_per_op",
    "spark.task_cpu_share", "spark.gc_share", "spark.driver_only_share", "spark.slot_util",
    "spark.shuffle_mb", "spark.spill_mb", "spark.output_mb", "spark.actions_per_op",
    "sources.read_ndjson_s", "sources.read_ndjson_jobs", "sources.reported_write_s",
    "sources.reported_write_jobs", "sources.quarantine_write_s", "sources.read_reports_s",
    "sources.write_amp", "sources.output_files_per_manifest",
    "etl.validate_s", "etl.manifest_batches_s", "etl.daily_summary_s", "etl.failed_events_s",
    "etl.duration_stats_s", "etl.correlation_join_s",
    "curation.recipe_s", "curation.dedup_exact_s", "curation.line_correct_s",
    "curation.quality_score_s", "curation.dedup_clusters_s", "curation.domain_quota_s",
    "curation.heuristic_filter_s", "curation.perplexity_filter_s", "curation.decontaminate_s",
    "curation.kept_ratio",
    "similarity.train_centroids_s", "similarity.semantic_dedup_s", "similarity.dup_pairs",
    "functions.minhash_s", "functions.simhash_s", "functions.token_signs_s",
    "functions.cell_argmax_s", "functions.pq_encode_s",
    "retrieval.read_bm25_s", "retrieval.read_ann_s", "retrieval.read_jobs",
    "retrieval.cache_hit_ratio", "retrieval.fusion_serve_s", "retrieval.serve_jobs",
    "retrieval.append_bm25_s", "retrieval.append_ann_s") ++
    layers.map("self." + _._2) ++ Seq("trace.layer_coverage", "tracing_overhead_share")

  def unitOf(name: String): String =
    if (name.endsWith("_mb")) "MB"
    else if (name.endsWith("_s") || name == "spark.task_s_per_op") "s"
    else if (name.endsWith("_share") || name.endsWith("_ratio") || name.startsWith("self.") ||
      name == "spark.slot_util" || name == "sources.write_amp" || name == "trace.layer_coverage") "ratio"
    else "count"

  lazy val units: Map[String, String] = (endToEnd ++ perLayer.map(n => n -> unitOf(n))).toMap

  /** Windows (nanoTime) of the traced operations of the workload's own
    * traffic. */
  def tracedWindows(ctx: Ctx): Seq[(Long, Long)] =
    ctx.opSpans.filter(o => o._3 && !ctx.extraOps(o._1)).map(o => (o._4, o._5)).toSeq

  def jobsIn(ctx: Ctx, w: (Long, Long)): Seq[JobRec] = {
    val (a, b) = (ctx.tracer.epochMs(w._1) - 1, ctx.tracer.epochMs(w._2) + 1)
    ctx.listeners.counters.all.filter(j => j.startMs >= a && j.startMs <= b)
  }

  def sparkLayer(ctx: Ctx, m: mutable.Map[String, Double]): Unit = {
    val ws = tracedWindows(ctx)
    if (ws.isEmpty) return
    val n = ws.size.toDouble
    var wall = 0.0
    var driverOnly = 0.0
    val jobs = mutable.LinkedHashSet[JobRec]()
    ws.foreach { w =>
      val js = jobsIn(ctx, w)
      jobs ++= js
      val wWall = w._2 - w._1
      val covered = Intervals.union(js.map { j =>
        val s = ctx.tracer.nsOfEpochMs(j.startMs.toDouble)
        val e = ctx.tracer.nsOfEpochMs((if (j.endMs < 0) j.startMs else j.endMs).toDouble)
        (math.max(s, w._1), math.min(e, w._2))
      })
      wall += wWall / 1e9
      driverOnly += (wWall - covered) / 1e9
    }
    val run = jobs.toSeq.map(_.runMs).sum / 1e3
    m("spark.jobs_per_op") = jobs.size / n
    m("spark.stages_per_op") = jobs.toSeq.map(_.stages).sum / n
    m("spark.tasks_per_op") = jobs.toSeq.map(_.tasks).sum / n
    m("spark.task_s_per_op") = run / n
    m("spark.task_cpu_share") = if (run > 0) jobs.toSeq.map(_.cpuNs).sum / 1e9 / run else 0.0
    m("spark.gc_share") = if (run > 0) jobs.toSeq.map(_.gcMs).sum / 1e3 / run else 0.0
    m("spark.driver_only_share") = if (wall > 0) driverOnly / wall else 0.0
    m("spark.slot_util") = if (wall > 0) run / (wall * ctx.cores) else 0.0
    m("spark.shuffle_mb") = jobs.toSeq.map(_.shuffleBytes).sum / 1048576.0 / n
    m("spark.spill_mb") = jobs.toSeq.map(_.spillBytes).sum / 1048576.0 / n
    m("spark.output_mb") = jobs.toSeq.map(_.outputBytes).sum / 1048576.0 / n
    m("spark.actions_per_op") = ctx.listeners.actions.actions.get() / n
  }

  /** Self time per layer as a share of the traced wall, and the share
    * the layers (everything but the benchmark's own code) account for. */
  def selfTimes(ctx: Ctx, m: mutable.Map[String, Double]): Unit = {
    val spans = ctx.tracer.all.filterNot(s => ctx.extraOps(s.op))
    val self = ctx.tracer.selfTimes
    val wall = tracedWindows(ctx).map(w => (w._2 - w._1) / 1e9).sum
    if (wall <= 0) return
    val byLayer = spans.groupBy(_.layer).map { case (l, ss) => l -> ss.map(s => self(s.id)).sum }
    layers.foreach { case (l, short) => m("self." + short) = byLayer.getOrElse(l, 0.0) / wall }
    m("trace.layer_coverage") = byLayer.filter(_._1 != "bench").values.sum / wall
  }

  /** Median duration of the spans with this layer and name. */
  def spanS(ctx: Ctx, layer: String, name: String): Double =
    Stats.median(ctx.tracer.all.filter(s => s.layer == layer && s.name == name).map(_.seconds))

  /** Mean number of Spark jobs started inside the spans with this name. */
  def spanJobs(ctx: Ctx, layer: String, name: String): Double = {
    val n = spanJobCounts(ctx, layer, name)
    if (n.isEmpty) 0.0 else n.sum.toDouble / n.size
  }

  def spanJobCounts(ctx: Ctx, layer: String, name: String): Seq[Int] =
    ctx.tracer.all.filter(s => s.layer == layer && s.name == name)
      .map(s => jobsIn(ctx, (s.startNs, s.endNs)).size)

  /** Spans are kept in memory until here: one JSON line each. */
  def writeSpans(ctx: Ctx): Unit = {
    val a = ctx.args
    val dir = Paths.get(".bench_build", "traces")
    Files.createDirectories(dir)
    val lines = ctx.tracer.all.map { s =>
      s"""{"workload":"${a.workload}","seed":${a.seed},"id":${s.id},"parent":${s.parent},""" +
        s""""op":${s.op},"layer":"${s.layer}","name":"${s.name}",""" +
        f""""start_ms":${ctx.tracer.epochMs(s.startNs)}%.3f,"end_ms":${ctx.tracer.epochMs(s.endNs)}%.3f}"""
    }
    Files.writeString(dir.resolve(s"${a.workload}-seed${a.seed}.jsonl"), lines.mkString("", "\n", "\n"))
  }
}
