package perfbench

/** Per-layer metrics from a traced window, each per completed operation
  * unless its name says otherwise. A layer a workload does not use reads 0.
  *
  * Span names (opened by the workloads around their calls into the engine):
  * `op`, `api.parse`, `api.interpret`, `spark.plan`, `spark.exec`,
  * `sources.write_bronze`, `reports.session_gold`, `reports.counter`,
  * `reports.gold`, `operators.exact_dedup`, `operators.lsh_pairs`,
  * `operators.components`, `operators.decontam`, `operators.mix_pack`.
  */
object Layers {

  def of(tr: Tracer, win: Window, cores: Int): Map[String, Double] = {
    val spans = tr.allSpans
    val jobs = tr.allJobs
    val byId = spans.map(s => s.id -> s).toMap
    val ops = math.max(win.latMs.size, 1).toDouble

    def within(spanId: Long, name: String): Boolean =
      Iterator.iterate(byId.get(spanId))(_.flatMap(s => byId.get(s.parent)))
        .takeWhile(_.isDefined).exists(_.exists(_.name == name))
    def spanMs(name: String): Double =
      spans.filter(_.name == name).map(_.ms).sum
    def jobsAt(file: String) = jobs.filter(_.site.contains(s" at $file:"))
    def jobMs(js: Seq[Tracer.Job]): Double = js.map(j => (j.end - j.start).toDouble).sum
    val opSpans = spans.filter(_.name == "op")
    val count = win.counts.withDefaultValue(0.0)
    val taskMs = jobs.map(_.runMs).sum.toDouble

    Map(
      "Tables.resolve_jobs" -> jobsAt("Tables.scala").size / ops,
      "Tables.resolve_ms" -> jobMs(jobsAt("Tables.scala")) / ops,
      "api.parse_ms" -> spanMs("api.parse") / ops,
      "api.interpret_ms" -> spanMs("api.interpret") / ops,
      "api.interpret_jobs" -> jobs.count(j => within(j.span, "api.interpret")) / ops,
      "api.dim_jobs" -> jobsAt("IdentifierDim.scala").size / ops,
      "spark.plan_ms" -> spanMs("spark.plan") / ops,
      "spark.exec_ms" -> spanMs("spark.exec") / ops,
      "spark.jobs" -> jobs.size / ops,
      "spark.stages" -> jobs.map(_.stages).sum / ops,
      "spark.tasks" -> jobs.map(_.tasks).sum / ops,
      // task time over the window's wall time times cores
      "spark.task_busy_frac" -> taskMs / (win.wallS * 1000.0 * cores),
      "spark.shuffle_read_bytes" -> jobs.map(_.shuffleRead).sum / ops,
      "spark.shuffle_write_bytes" -> jobs.map(_.shuffleWrite).sum / ops,
      "spark.spill_bytes" -> jobs.map(_.spill).sum / ops,
      "spark.persisted_rdds_leaked" -> opSpans.map(_.rddsLeaked).sum / ops,
      "spark.storage_bytes_leaked" -> opSpans.map(_.bytesLeaked).sum / ops,
      "sources.write_bronze_s" -> spanMs("sources.write_bronze") / 1000 / ops,
      "sources.bytes_written" -> count("bronze_bytes") / ops,
      "sources.files_written" -> count("bronze_files") / ops,
      "reports.session_gold_s" -> spanMs("reports.session_gold") / 1000 / ops,
      "reports.days_rebuilt_per_day_changed" ->
        (if (count("days_changed") > 0) count("days_rebuilt") / count("days_changed") else 0.0),
      "reports.counter_s" -> spanMs("reports.counter") / 1000 / ops,
      "reports.gold_s" -> spanMs("reports.gold") / 1000 / ops,
      "reports.gold_groups_rebuilt" -> count("gold_rebuilt") / ops,
      "reports.write_bytes_per_input_byte" ->
        (if (count("landed_bytes") > 0) count("written_bytes") / count("landed_bytes") else 0.0),
      "operators.exact_dedup_s" -> spanMs("operators.exact_dedup") / 1000 / ops,
      "operators.lsh_pairs_s" -> spanMs("operators.lsh_pairs") / 1000 / ops,
      "operators.components_s" -> spanMs("operators.components") / 1000 / ops,
      // every star-contraction round ends in one edge `count`; the call's
      // first `count`, of the input edges, is not a round
      "operators.components_rounds" -> (jobs.filter(j =>
        j.site.startsWith("count at Dedup.scala:") &&
          within(j.span, "operators.components")).map(_.exec).distinct.size -
        spans.count(_.name == "operators.components")) / ops,
      "operators.decontam_s" -> spanMs("operators.decontam") / 1000 / ops,
      "operators.mix_pack_s" -> spanMs("operators.mix_pack") / 1000 / ops,
    )
  }
}
