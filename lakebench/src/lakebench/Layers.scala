package lakebench

/** The per-layer metrics of a traced run, from its op traces. Times are
  * ms per timed op spent in the named call, so that they add up towards
  * the op time that `ops_per_s` inverts; a workload that never makes the
  * call spends 0 ms in it. Counts are per timed op over the whole fixed
  * sequence, so the ones the engine decides alone repeat exactly for a
  * seed. lakebench/layers.json maps each to the end-to-end metric it
  * should move.
  */
object Layers {

  def metrics(ops: Seq[OpTrace], checkReads: Seq[OpTrace], heapLiveMb: Double,
      outcomeProbeMsPerOp: Double): Seq[(String, (String, Double))] = {
    def sum(set: Seq[OpTrace], k: String) = set.map(_(k)).sum
    def perOp(k: String) = sum(ops, k) / ops.size
    // records decoded per row returned, on reads: the timed reads, or the
    // checks' reads where the timed sequence has none
    val reads = Some(ops.filter(_.cls == "read")).filter(_.nonEmpty).getOrElse(checkReads)
    def ms(name: String, key: String) = name -> ("ms", perOp(key))
    def count(name: String, key: String) = name -> ("count", perOp(key))
    def bytes(name: String, key: String) = name -> ("B", perOp(key))
    Seq(
      ms("lake.process_def_ms", "lake.process_def_ms"),
      ms("lake.load_ms", "lake.load_ms"),
      ms("lake.append_ms", "lake.append_ms"),
      ms("lake.merge_ms", "lake.merge_ms"),
      ms("lake.delete_ms", "lake.delete_ms"),
      ms("lake.compact_ms", "lake.compact_ms"),
      count("lake.metadata_versions_per_op", "metadata_versions"),
      "lake.metadata_bytes_per_load" -> ("B",
        sum(ops, "load_metadata_bytes") / sum(ops, "lake.load_calls")),
      count("lake.files_written_per_op", "files_written"),
      "lake.bytes_written_per_user_byte" -> ("B/B",
        sum(ops, "bytes_written") / sum(ops, "user_bytes")),
      ms("sources.refresh_ms", "sources.refresh_ms"),
      ms("sources.read_ms", "sources.read_ms"),
      count("sources.scan_records_per_op", "scan_records"),
      bytes("sources.scan_bytes_per_op", "scan_bytes"),
      count("sources.scan_tasks_per_op", "scan_tasks"),
      "sources.records_per_match" -> ("rec/row",
        sum(reads, "scan_records") / sum(reads, "rows_returned")),
      count("sql.statements_per_op", "statements"),
      ms("sql.parse_ms", "parse_ms"),
      ms("sql.analyze_ms", "analyze_ms"),
      ms("sql.optimize_ms", "optimize_ms"),
      ms("sql.plan_ms", "plan_ms"),
      count("spark.jobs_per_op", "jobs"),
      count("spark.tasks_per_op", "tasks"),
      ms("spark.task_run_ms", "task_run_ms"),
      ms("spark.sched_delay_ms", "sched_delay_ms"),
      bytes("spark.shuffle_bytes_per_op", "shuffle_bytes"),
      ms("spark.driver_self_ms", "driver_self_ms"),
      bytes("io.read_bytes_per_op", "io_rchar"),
      bytes("io.write_bytes_per_op", "io_wchar"),
      bytes("io.hadoop_read_bytes_per_op", "hadoop_read_bytes"),
      bytes("io.hadoop_write_bytes_per_op", "hadoop_write_bytes"),
      ms("jvm.gc_ms_per_op", "gc_ms"),
      "jvm.alloc_mb_per_op" -> ("MB", perOp("alloc_bytes") / 1048576),
      "jvm.heap_after_gc_mb" -> ("MB", heapLiveMb),
      "trace.overhead_ms_per_op" -> ("ms",
        perOp("trace_overhead_ms") + outcomeProbeMsPerOp))
  }

  /** Per span name of the timed ops: calls, mean ms per call, and for the
    * harness's own spans the mean self time, the part no Spark job covers. */
  def calls(spans: Seq[Span]): String = {
    val timed = spans.filter(_.op >= 0)
    val jobs = timed.filter(_.name == "spark.job").groupBy(_.op)
      .map { case (op, js) => op -> js.map(j => (j.startMs, j.endMs)) }
    def self(s: Span) =
      s.durMs - Stats.covered(jobs.getOrElse(s.op, Nil), s.startMs, s.endMs)
    Json.obj(timed.groupBy(_.name).toSeq.sortBy(_._1).map { case (name, ss) =>
      val own = !name.startsWith("spark.") && !name.startsWith("sql.")
      name -> Json.obj(Seq("n" -> ss.size.toString,
        "mean_ms" -> Json.num(ss.map(_.durMs).sum / ss.size)) ++
        (if (own) Seq("self_ms" -> Json.num(ss.map(self).sum / ss.size)) else Nil))
    })
  }
}
