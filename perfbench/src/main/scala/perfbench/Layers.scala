package perfbench

import perfbench.Harness.Op
import perfbench.Ledger.{Action, Span}

/** Per-layer metrics of a traced operation, from its spans and the
  * listener events charged to them. */
object Layers {
  /** Modules whose busy time, jobs, tasks and shuffle bytes are reported. */
  val Modules = Seq("ml", "graph", "llm", "search", "streaming", "serving", "gold")

  /** Every per-layer metric of one operation with its unit, in report
    * order (run.py adds the tracing overhead, which needs two JVMs). */
  val Units: Seq[(String, String)] = Seq(
    "medallion.silver_s" -> "s", "medallion.gold_s" -> "s",
    "bronze.copy_s" -> "s", "bronze.bytes" -> "bytes",
    "silver.quality_s" -> "s", "silver.write_s" -> "s", "silver.rows" -> "count",
    "gold.write_s" -> "s", "gold.fact_write_s" -> "s", "gold.readback_s" -> "s",
    "gold.files" -> "count", "gold.bytes" -> "bytes", "cacheonce.mb" -> "MB",
    "catalog.register_ms" -> "ms", "catalog.files_discovered" -> "count",
    "catalog.read_ms" -> "ms", "catalog.fetch_ms" -> "ms", "serving.kpis_ms" -> "ms",
    "client.calls" -> "count", "spark.plan_ms_per_req" -> "ms",
    "spark.jobs_per_req" -> "count", "spark.tasks_per_req" -> "count") ++
    Modules.flatMap(m => Seq(s"$m.busy_s" -> "s", s"$m.jobs" -> "count",
      s"$m.tasks" -> "count", s"$m.shuffle_bytes" -> "bytes")) ++ Seq(
    "streaming.batches" -> "count", "streaming.add_batch_ms" -> "ms",
    "streaming.commit_ms" -> "ms",
    "spark.jobs" -> "count", "spark.tasks" -> "count", "spark.plan_s" -> "s",
    "spark.shuffle_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
    "spark.gc_s" -> "s")

  /** One traced operation's ledger. */
  def ofOp(op: Op): Map[String, Double] = {
    val root = op.span.get
    val children = Ledger.spans.filter(_.parent == root.id).toSeq
    def secs(p: Span => Boolean) = children.filter(p).map(_.seconds).sum
    val actions = Ledger.actionsIn(root)
    val stages = Ledger.stagesIn(root)
    val jobs = Ledger.jobsIn(root)
    val batches = Ledger.batchesIn(root)

    // inside Pipeline.run: each action to its silver or gold step
    val pipe = children.find(_.name == "pipeline.run")
    val steps: Map[Long, String] = pipe.fold(Map.empty[Long, String])(pipelineSteps)
    def stepSecs(p: String => Boolean) = actions
      .filter(a => steps.get(a.execId).exists(p)).map(_.durationNs / 1e9).sum
    val silverEnd = actions.filter(a => steps.get(a.execId).contains("silver.write"))
      .flatMap(a => Option(Ledger.execTimes.get(a.execId))).map(_._2)
    val silverStage = pipe.fold(0.0)(p =>
      if (silverEnd.isEmpty) 0.0 else (silverEnd.max - p.startMs) / 1000.0)
    val goldStage = pipe.fold(0.0)(_.seconds - silverStage)

    // layer of an event: its pipeline step, else the innermost span's layer
    def layer(execId: Long, ms: Long): String =
      steps.get(execId).map(_.takeWhile(_ != '.'))
        .getOrElse(Ledger.spanAt(ms).fold("")(_.layer))
    val stageLayer = stages.map(s => layer(s.execId, s.startMs) -> s)
    val jobLayer = jobs.map(j => layer(j.execId, j.startMs))
    val moduleBusy = Modules.map(m => m -> (secs(_.layer == m) +
      (if (m == "gold") goldStage else 0.0))).toMap

    val cacheMb = {
      val in = Ledger.cacheSamples.toArray(Array.empty[(Long, Long)])
        .filter { case (t, _) => t >= root.startMs && t <= root.endMs }
      if (in.isEmpty) 0.0 else in.map(_._2).max / (1024.0 * 1024.0)
    }
    val n = math.max(1, op.calls.size).toDouble
    val planMs = actions.map(_.planMs).sum.toDouble
    val tasks = stages.map(_.tasks).sum.toDouble

    op.counters ++ Map(
      "medallion.silver_s" -> silverStage,
      "medallion.gold_s" -> goldStage,
      "bronze.copy_s" -> secs(_.layer == "bronze"),
      "silver.quality_s" -> stepSecs(_ == "silver.quality"),
      "silver.write_s" -> stepSecs(_ == "silver.write"),
      "gold.write_s" -> stepSecs(s => s == "gold.write" || s == "gold.fact_write"),
      "gold.fact_write_s" -> stepSecs(_ == "gold.fact_write"),
      "gold.readback_s" -> stepSecs(_ == "gold.readback"),
      "cacheonce.mb" -> cacheMb,
      "catalog.register_ms" -> 1000 * secs(_.name == "catalog.registerGold"),
      "catalog.read_ms" -> 1000 * secs(_.name.startsWith("catalog.read:")),
      "catalog.fetch_ms" -> 1000 * secs(_.name.startsWith("catalog.fetch:")),
      "serving.kpis_ms" -> 1000 * secs(_.name == "serving.kpis"),
      "client.calls" -> op.calls.size.toDouble,
      "spark.plan_ms_per_req" -> planMs / n,
      "spark.jobs_per_req" -> jobs.size / n,
      "spark.tasks_per_req" -> tasks / n,
      "streaming.batches" -> batches.size.toDouble,
      "streaming.add_batch_ms" -> batches.map(_.addBatchMs).sum.toDouble,
      "streaming.commit_ms" -> batches.map(_.commitMs).sum.toDouble,
      "spark.jobs" -> jobs.size.toDouble,
      "spark.tasks" -> tasks,
      "spark.plan_s" -> planMs / 1000,
      "spark.shuffle_bytes" -> stages.map(_.shuffleBytes).sum.toDouble,
      "spark.spill_bytes" -> stages.map(_.spillBytes).sum.toDouble,
      "spark.gc_s" -> op.gcSeconds,
      "trace.calls_s" -> children.map(_.seconds).sum) ++
      Modules.flatMap { m =>
        val st = stageLayer.collect { case (l, s) if l == m => s }
        Seq(s"$m.busy_s" -> moduleBusy(m), s"$m.jobs" -> jobLayer.count(_ == m).toDouble,
          s"$m.tasks" -> st.map(_.tasks).sum.toDouble,
          s"$m.shuffle_bytes" -> st.map(_.shuffleBytes).sum.toDouble)
      }
  }

  /** Classifies every action inside a Pipeline.run span by what it read
    * and wrote: silver/gold sink writes, the quality-counter pass over the
    * bronze inputs (before the first silver write), the readback counts
    * of the gold sinks, and other gold-side actions. */
  private def pipelineSteps(pipe: Span): Map[Long, String] = {
    val acts: Seq[(Action, Long)] = Ledger.actionsIn(pipe)
      .map(a => a -> Option(Ledger.execTimes.get(a.execId)).fold(0L)(_._1))
      .sortBy(_._2)
    val isSilver = (a: Action) => a.writes.exists(_.contains("/silver/"))
    val firstSilver = acts.collectFirst { case (a, t) if isSilver(a) => t }
      .getOrElse(Long.MaxValue)
    acts.map { case (a, t) =>
      a.execId -> (
        if (isSilver(a)) "silver.write"
        else if (a.writes.exists(_.endsWith("/gold/fact_achats"))) "gold.fact_write"
        else if (a.writes.exists(_.contains("/gold/"))) "gold.write"
        else if (a.reads.nonEmpty && a.reads.forall(_.contains("/gold/"))) "gold.readback"
        else if (t < firstSilver && a.reads.nonEmpty &&
          a.reads.forall(_.contains("_bronze"))) "silver.quality"
        else "gold.other")
    }.toMap
  }
}
