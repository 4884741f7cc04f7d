package perfbench

/** Names and units of the per-layer metrics, in the order of
  * BENCHMARK.json's `per_layer`. */
object Metrics {
  /** Public functions whose build and action phases are timed apart. */
  val EndpointFns = Seq("associationRules", "regenerateSegments",
    "differentialQuarters", "matchedRules", "cachedHybridRecommendations",
    "trainAndScoreChurn", "optimizeChurnThreshold",
    "CurationPipeline.prepare")

  def fnLabel(fn: String): String =
    if (fn.contains(".")) fn else s"Endpoints.$fn"

  val Isolated = Seq("Collab.userItemCounts", "Collab.scoreCandidatesDirect",
    "Collab.assocScores", "Collab.hybridBlend", "Collab.matchingRules",
    "AssociationRules.rulesRaw", "RecCache.refreshDecisions", "Rfm.scores",
    "Differential.compareQuarters", "Churn.features", "Models.churnScores",
    "Dedup.exactByContent", "NearDup.minHashPortableUnsorted",
    "Decontaminate.decontaminate", "Mixing.takeByTokenBudget",
    "Packing.packSequencesFromCounts")

  val CurationStages = Seq("quality", "exact_dedup", "near_dup",
    "decontaminate", "mixing", "token_budget")

  val perLayer: Seq[String] =
    Seq("spark.jobs", "spark.stages", "spark.tasks", "spark.driver_gap_s",
      "spark.shuffle_write_bytes", "spark.shuffle_read_bytes",
      "spark.spill_bytes", "spark.task_run_s",
      "sources.input_bytes", "sources.input_rows",
      "sinks.output_bytes", "sinks.write_s",
      "RecCache.hit_ratio", "RecCache.recomputed_per_batch",
      "RecCache.miss_batch_s", "RecCache.hit_batch_s") ++
    EndpointFns.flatMap(fn => Seq("build_s", "build_jobs", "action_s")
      .map(m => s"${fnLabel(fn)}.$m")) ++
    Seq("storage.persistent_rdds", "storage.cached_relations", "jvm.gc_s",
      "jvm.heap_after_gc_mb",
      "batch.churn_train_s", "batch.churn_sweep_s", "batch.corpus_pack_s") ++
    Isolated.map(_ + "_s") ++
    CurationStages.flatMap(s => Seq(s"CurationPipeline.$s.rows_in",
      s"CurationPipeline.$s.rows_out")) ++
    Seq("Collab.share")

  def unitOf(name: String): String =
    if (name.endsWith("_s")) "s"
    else if (name.endsWith("_bytes")) "bytes"
    else if (name.endsWith("_mb")) "MB"
    else if (name.endsWith("_ratio") || name.endsWith(".share")) "ratio"
    else if (name.endsWith("_pct")) "%"
    else "count"
}
