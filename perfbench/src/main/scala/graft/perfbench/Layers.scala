package graft.perfbench

/** Every per-layer metric a traced run reports, with its unit and which
  * direction is better, in the order BENCHMARK.json lists them. A
  * workload that does not use a layer reports 0 for its metrics (the
  * query layer on the ingest workloads, the parquet route on
  * `ingest_many_types`, the JDBC sink on `ingest_wide`, ...). */
object Layers {
  final case class Def(name: String, unit: String, better: String)

  private def ms(n: String*) = n.map(Def(_, "ms", "lower"))
  private def count(n: String*) = n.map(Def(_, "count", "lower"))
  private def bytes(n: String*) = n.map(Def(_, "bytes", "lower"))

  val all: Seq[Def] =
    ms("source.latest_offset_ms", "source.get_batch_ms") ++
    Seq(Def("source.rows_per_trigger", "count", "higher")) ++
    ms("gen.late_max_ms") ++ Seq(Def("gen.catchup_s", "s", "lower")) ++
    Seq(Def("trigger.count", "count", "higher")) ++
    ms("trigger.planning_ms", "trigger.add_batch_ms", "trigger.wal_commit_ms",
      "trigger.commit_offsets_ms", "trigger.self_ms", "prelude.types_collect_ms") ++
    count("trigger.jobs", "trigger.tasks") ++
    ms("flatten.infer_ms", "flatten.stats_ms") ++ count("flatten.jobs", "flatten.leaf_cols") ++
    ms("enrich.ms") ++
    ms("route.write_ms") ++ count("route.jobs", "route.files_written") ++
    bytes("route.bytes_written") ++
    ms("sink.append_ms") ++
    count("sink.jobs", "sink.types_per_trigger", "sink.rows_inserted", "sink.tables_created",
      "sink.columns_added", "sink.widen_rewrites") ++
    ms("spark.executor_run_ms", "spark.executor_cpu_ms", "spark.gc_ms", "spark.driver_gap_ms") ++
    bytes("spark.shuffle_read_bytes", "spark.shuffle_write_bytes", "spark.spill_bytes") ++
    ms("query.planning_ms", "query.driver_gap_ms") ++
    count("query.jobs", "query.stages", "query.tasks", "query.streaming_starts") ++
    Seq("a", "b", "c").flatMap(f => ms(s"query.$f.planning_ms", s"query.$f.driver_gap_ms") ++
      count(s"query.$f.jobs", s"query.$f.stages", s"query.$f.tasks")) ++
    Seq(Def("trace.overhead_pct", "%", "lower"))

  /** `metrics` in the canonical order, with 0 for layers not measured. */
  def complete(metrics: Seq[(String, Metric)]): Seq[(String, Metric)] = {
    val got = metrics.toMap
    (got.keySet -- all.map(_.name)).foreach(n => Log(s"metric $n is not a listed layer metric"))
    all.map(d => d.name -> got.getOrElse(d.name, Metric(0.0, d.unit)))
  }
}
