package graft.perfbench

/** Every per-layer metric a traced run reports, with its unit, in the
  * order of BENCHMARK.json. A workload that does not enter a layer
  * reports 0 for it: it spent no time and ran no jobs there.
  */
object Layers {
  private def s(names: String*) = names.map(_ -> "s")
  private def ms(names: String*) = names.map(_ -> "ms")
  private def count(names: String*) = names.map(_ -> "count")

  val Streams = Seq("cdc", "text", "vec")
  val Requests = Seq("bm25", "bool_agg", "msearch", "knn")

  val names: Seq[(String, String)] =
    s("etl.export_read_s", "etl.ingest_materialize_s") ++
    Seq("etl.ingest_items_per_s" -> "1/s") ++ count("etl.ingest_jobs", "etl.ingest_tasks") ++
    Seq("etl.ingest_task_s_per_wall_s" -> "ratio",
      "etl.ingest_shuffle_write_mb" -> "MiB", "etl.ingest_spill_mb" -> "MiB") ++
    count("etl.ingest_files_written", "etl.dlq_rows") ++
    s("etl.bm25_build_s") ++ count("etl.bm25_files_written", "etl.bm25_tasks") ++
    Seq("etl.index_build_docs_per_s" -> "1/s") ++
    s("operators.ivf_build_s") ++ count("operators.ivf_jobs") ++
    Streams.flatMap(q => s(s"streaming.$q.epoch_s") ++ ms(
      s"streaming.$q.add_batch_ms", s"streaming.$q.query_planning_ms",
      s"streaming.$q.wal_commit_ms", s"streaming.$q.latest_offset_ms")) ++
    Seq("streaming.events_per_s" -> "1/s") ++
    s("streaming.epoch_p50_s", "streaming.epoch_p75_s", "streaming.compact_epoch_s") ++
    count("streaming.jobs_per_epoch", "streaming.tasks_per_epoch") ++
    Seq("streaming.task_s_per_wall_s" -> "ratio",
      "streaming.text.buckets_touched_frac" -> "ratio") ++
    count("streaming.text.index_files") ++ Seq("streaming.text.index_mb" -> "MiB") ++
    count("streaming.vec.index_files") ++
    Requests.flatMap(r => ms(s"search.$r.build_ms", s"search.$r.plan_ms",
      s"search.$r.exec_ms") ++ count(s"search.$r.jobs", s"search.$r.tasks")) ++
    ms("search.parse_ms") ++ Seq("search.bm25.bytes_read" -> "bytes") ++
    Seq("search.cn.task_s_per_wall_s" -> "ratio") ++
    ms("search.cn.driver_ms_per_req", "search.c1_p90_ms", "search.cn_p90_ms") ++
    Analytics.names.map(n => s"queries.${n}_s" -> "s") ++
    s("queries.build_s") ++
    ms("queries.analysis_ms", "queries.optimization_ms", "queries.planning_ms") ++
    count("queries.jobs", "queries.stages", "queries.tasks") ++
    s("queries.exec_s") ++ Seq("queries.task_s_per_wall_s" -> "ratio",
      "queries.shuffle_write_mb" -> "MiB", "queries.spill_mb" -> "MiB") ++
    count("queries.scans") ++ s("queries.total_s") ++ ms("queries.geomean_ms") ++
    s("jvm.gc_s") ++ Seq("jvm.peak_heap_mb" -> "MiB", "host.loadavg_1m" -> "load") ++
    ms("host.canary_ms", "trace.latency_ms") ++ Seq("trace.overhead_pct" -> "%")
}
