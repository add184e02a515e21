package perfbench

import java.nio.file.{Files, Path}

/** Turns the traced phase's counters and spans into per-layer figures.
  * Counts and times are per operation of the workload (a fleet run, a
  * gate, a micro-batch, a table operation) unless the name says
  * otherwise; `exec.max_concurrent_tasks`, `stream.state_*` sizes and
  * `exec.core_busy_ratio` are peaks or ratios over the traced window. */
object Layers {
  def summarize(ctx: Ctx, phase: Phase, wallNs: Long): Map[String, Double] = {
    val ops = phase.ops.max(1).toDouble
    def per(c: String): Double = Counters.get(c) / ops
    val batches = Counters.get("stream.batches").toDouble
    def perBatch(c: String): Double = if (batches == 0) 0.0 else Counters.get(c) / batches
    val opSpans = Tracer.roots
    val jobs = Tracer.all.filter(_.name == "spark.job").groupBy(_.op)
    val gapNs = opSpans.map { s =>
      val inside = jobs.getOrElse(s.op, Nil)
        .map(j => (j.startNs max s.startNs, j.endNs min s.endNs))
        .filter { case (a, b) => b > a }
      (s.endNs - s.startNs) - Stats.unionNs(inside)
    }
    val counted = Seq("tables.rows_read", "tables.bytes_read", "tables.scan_tasks",
      "catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms",
      "catalyst.codegen_fallback_exprs", "catalyst.wscg_subtrees", "catalyst.kernel_exprs",
      "exec.jobs", "exec.stages", "exec.tasks", "exec.task_run_ms", "exec.gc_ms",
      "exec.shuffle_write_bytes", "exec.shuffle_read_bytes", "exec.spill_bytes",
      "fs.creates", "fs.renames", "fs.deletes", "fs.list_calls", "fs.bytes_written",
      "tx.commits")
    counted.map(c => c -> per(c)).toMap ++ Map(
      "exec.task_cpu_ms" -> per("exec.task_cpu_ns") / 1e6,
      "exec.max_concurrent_tasks" -> ctx.tracing.exec.maxConcurrentTasks.toDouble,
      "exec.driver_gap_ms" -> (if (gapNs.isEmpty) 0.0 else gapNs.sum / gapNs.size / 1e6),
      "exec.core_busy_ratio" ->
        Counters.get("exec.task_run_ms") / (wallNs / 1e6 * ctx.cores),
      "stream.batches" -> batches,
      "stream.batch_ms" -> perBatch("stream.batch_ms"),
      "stream.query_planning_ms" -> perBatch("stream.query_planning_ms"),
      "stream.add_batch_ms" -> perBatch("stream.add_batch_ms"),
      "stream.wal_commit_ms" -> perBatch("stream.wal_commit_ms"),
      "stream.commit_offsets_ms" -> perBatch("stream.commit_offsets_ms"),
      "stream.latest_offset_ms" -> perBatch("stream.latest_offset_ms"),
      "stream.state_rows" -> Counters.get("stream.state_rows").toDouble,
      "stream.state_bytes" -> Counters.get("stream.state_bytes").toDouble,
      "stream.state_commit_ms" -> perBatch("stream.state_commit_ms"),
      "stream.state_rows_evicted" -> perBatch("stream.state_rows_evicted"),
      "stream.dropped_duplicates" -> perBatch("stream.dropped_duplicates"))
  }

  /** Writes every recorded span as one JSON object per line. */
  def writeSpans(p: Path): Unit = {
    val lines = Tracer.all.map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    Files.writeString(p, lines.mkString("", "\n", "\n"))
  }
}

object Stats {
  /** Total length of the union of half-open [a, b) intervals. */
  def unionNs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}
