package graft.bench

/** The per-layer metrics a traced run reports (`--trace 1`). Layer names
  * are graft's module names. Every workload prints every name; a stage
  * that does not run on the workload reads 0. */
object Layers {
  val Stages: Seq[String] = Seq(
    // curate
    "multimodal.warc_ingest", "textops.gates", "dedup.minhash", "dedup.components",
    "curation.decontam", "similarity.diversity", "txtable.shard_write",
    // etl
    "sources.scan", "relational.star_join", "relational.cube", "relational.window",
    "timejoins.asof", "sources.write",
    // stream
    "streaming.batch", "txtable.merge", "txtable.read_where", "txtable.compact",
    "changefeed.drain")

  val Counters: Seq[(String, String)] = Seq(
    "s" -> "s", "task_s" -> "s", "gap_s" -> "s", "jobs" -> "count", "shuffle_mb" -> "MB")

  /** Per-batch streaming phases, from StreamingQueryProgress.durationMs. */
  val Phases: Seq[String] = Seq("addBatch", "queryPlanning", "walCommit", "latestOffset", "getBatch")

  val Probes: Seq[String] = Seq("functions.tokens", "functions.minhash", "functions.dot")

  /** Sampled figures that are not span counters: name -> unit. */
  val Sampled: Seq[(String, String)] = Seq(
    "dedup.verified_per_candidate" -> "1",
    "sources.rows_read_per_row_out" -> "1",
    "txtable.snapshot_ms" -> "ms",
    "txtable.files_pruned_ratio" -> "1",
    "txtable.rewritten_mb" -> "MB")

  val names: Seq[(String, String)] =
    Stages.flatMap(s => Counters.map { case (c, u) => s"$s.$c" -> u }) ++
      Probes.map(p => s"$p.s" -> "s") ++
      Sampled ++
      Phases.map(p => s"streaming.${p}_ms" -> "ms") ++
      Seq("streaming.state_rows" -> "count", "streaming.state_mb" -> "MB",
        "spark.spill_mb" -> "MB", "spark.gc_s" -> "s", "trace.overhead_s" -> "s")

  private def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Util.median(xs)

  /** Medians per call of every counter; `cost` holds (gc seconds, spill MB)
    * per traced round. */
  def metrics(ctx: Ctx, traced: Seq[Round], untraced: Seq[Round],
              cost: Seq[(Double, Double)]): Seq[(String, Double, String)] = {
    val calls = ctx.tracer.calls()
    val sampled = ctx.sampled
    val progress = ctx.tracer.progress.toArray(Array.empty[Tracer.Progress]).toSeq
    val values: Map[String, Double] =
      Stages.flatMap { s =>
        val cs = calls.getOrElse(s, Nil)
        Seq(s"$s.s" -> med(cs.map(_.s)), s"$s.task_s" -> med(cs.map(_.taskS)),
          s"$s.gap_s" -> med(cs.map(_.gapS)), s"$s.jobs" -> med(cs.map(_.jobs.toDouble)),
          s"$s.shuffle_mb" -> med(cs.map(_.shuffleMb)))
      }.toMap ++
        Probes.map(p => s"$p.s" -> med(calls.getOrElse(p, Nil).map(_.s))) ++
        Sampled.map { case (n, _) => n -> med(sampled.getOrElse(n, Nil)) } ++
        Phases.map(p => s"streaming.${p}_ms" -> med(progress.flatMap(_.durationMs.get(p)))) ++
        Seq(
          "streaming.state_rows" -> med(progress.map(_.stateRows.toDouble)),
          "streaming.state_mb" -> med(progress.map(_.stateBytes / Tracer.MB)),
          "spark.spill_mb" -> med(cost.map(_._2)),
          "spark.gc_s" -> med(cost.map(_._1)),
          "trace.overhead_s" -> (if (traced.isEmpty || untraced.isEmpty) 0.0
            else Util.median(traced.map(_.wallS)) - Util.median(untraced.map(_.wallS))))
    names.map { case (n, u) => (n, values(n), u) }
  }
}
