package perfbench

/** The per-layer metric registry, in the order the traced run prints it.
  * Spans are named `<module>.<operation>` after the repo module the
  * benchmark calls into; `unit` is each unit's root span.
  */
object Layers {

  val spans: Seq[String] = Seq(
    // daily_increment
    "jobs.collect", "jobs.features", "io.read_engineered",
    // corpus_curate
    "jobs.curate", "ext.dedup.minhash", "ext.dedup.simhash", "ext.bpe.train",
    "ext.bpe.token_counts", "io.append_corpus", "io.read_manifests",
    // lakehouse_cdc
    "sql.merge_cdc", "io.update_where", "io.delete_where", "io.maintain",
    "io.read_snapshot", "io.read_range", "io.read_version", "io.change_feed",
    "sql.version_as_of",
    // stream_upsert
    "streaming.micro_batch", "io.read_partitioned")

  val writeSpans: Seq[String] = Seq(
    "jobs.collect", "jobs.features", "jobs.curate", "io.append_corpus", "sql.merge_cdc",
    "io.update_where", "io.delete_where", "io.maintain", "streaming.micro_batch")

  val modules: Seq[String] = Seq("sources", "operators", "io", "jobs")

  /** (printed name, span, metric, unit) */
  val registry: Seq[(String, String, String, String)] = {
    def m(span: String, metric: String, unit: String) = (s"$span.$metric", span, metric, unit)
    val base = ("unit" +: spans).flatMap(s => Seq(
      m(s, "wall_s", "s"), m(s, "spark_jobs", "count"),
      m(s, "driver_gap_s", "s"), m(s, "executor_cpu_s", "s")))
    base ++ Seq(
      m("unit", "self_s", "s"), m("unit", "self_frac", "ratio"), m("unit", "spill_bytes", "B"),
      m("monitoring.probe", "wall_s", "s"),
      m("jobs.curate", "checkpoints", "count"), m("ext.bpe.train", "checkpoints", "count"),
      m("ext.dedup.minhash", "candidate_rows", "count"), m("ext.dedup.simhash", "candidate_rows", "count"),
      m("ext.dedup.minhash", "verify_yield", "ratio"), m("ext.dedup.simhash", "verify_yield", "ratio")) ++
      Main.shuffleSpans.toSeq.sorted.map(s => m(s, "shuffle_bytes", "B")) ++
      writeSpans.flatMap(s => Seq(m(s, "files_written", "count"),
        m(s, "bytes_written_per_changed_row", "B"))) ++
      modules.map(mod => (s"spark_jobs_by_module.$mod", "unit", s"spark_jobs_by_module.$mod", "count"))
  }
}
