package perfbench

/** The per-layer metrics a traced run prints, in order, with their units.
  * Every workload prints all of them; a layer it does not use reads 0.
  */
object Layers {
  val spanLayers: Seq[String] = Seq("bench", "sources", "pipeline", "ops", "queries")
  private val lookupKinds = Seq("hit", "miss", "prefix")
  private val stages = Seq("normalize", "gates", "exact_dedup", "near_dedup", "pack")

  val all: Seq[(String, String)] =
    Seq("build_words_per_s" -> "1/s", "append_words_per_s" -> "1/s",
      "db_bytes_per_record" -> "B", "lookup_hit_p50_ms" -> "ms", "lookup_miss_p50_ms" -> "ms",
      "lookup_prefix_p50_ms" -> "ms", "lookup_p75_ms" -> "ms",
      "curate_docs_per_s" -> "1/s", "analytics_pass_s" -> "s",
      "sources.words_s" -> "s") ++
    graft.core.Hashers.names.map(a => s"core.$a.hashes_per_s" -> "1/s") ++
    Seq("pipeline.expand_s" -> "s", "pipeline.build_s" -> "s", "pipeline.bloom_stamp_s" -> "s",
      "pipeline.append_s" -> "s", "pipeline.build_jobs" -> "count",
      "pipeline.files_written" -> "count") ++
    lookupKinds.flatMap(k => Seq(s"pipeline.lookup_plan_ms.$k" -> "ms",
      s"pipeline.lookup_exec_ms.$k" -> "ms", s"pipeline.lookup_jobs.$k" -> "count",
      s"pipeline.lookup_bytes_read.$k" -> "B")) ++
    Seq("pipeline.bloom_eligible_share" -> "ratio", "pipeline.bloom_reject_share" -> "ratio") ++
    stages.map(s => s"ops.${s}_s" -> "s") ++
    Seq("ops.near_dup_pairs" -> "count", "ops.rows_in" -> "count") ++
    stages.map(s => s"ops.rows_$s" -> "count") ++
    Seq("queries.construct_s" -> "s", "queries.plan_s" -> "s", "queries.execute_s" -> "s",
      "queries.construct_jobs" -> "count", "queries.execute_jobs" -> "count") ++
    Analytics.queries.sorted.flatMap(q => Seq("construct", "plan", "execute").map(p =>
      s"queries.$q.${p}_s" -> "s")) ++
    Seq("spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
      "spark.task_run_s" -> "s", "spark.task_cpu_s" -> "s", "spark.gc_s" -> "s",
      "spark.scheduler_delay_s" -> "s", "spark.shuffle_write_bytes" -> "B",
      "spark.spill_bytes" -> "B", "spark.driver_only_share" -> "ratio",
      "trace.overhead_share" -> "ratio") ++
    spanLayers.map(l => s"self.${l}_s" -> "s")
}
