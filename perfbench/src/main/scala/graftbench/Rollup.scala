package graftbench

/** Per-layer metrics from the spans of a traced run. Each metric is summed
  * over a pass's calls into the layer, then the median over traced passes
  * is reported.
  */
object Rollup {

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** Metrics of one layer in one pass. Jobs count when they succeeded;
    * the others are counted by [[totals]].
    */
  private def layerPass(spans: Seq[Span], calls: Seq[Span], jobs: Map[Int, Job],
      cores: Int): Map[String, Double] = {
    val callIds = calls.map(_.id).toSet
    val phases = spans.filter(s => callIds.contains(s.parent))
    def phase(p: String) = phases.filter(_.phase == p)
    def sum(n: String) = calls.map(_.count(n)).sum.toDouble
    def succeeded(ss: Seq[Span]) = ss.map(_.jobIds.count(id => jobs.get(id).exists(_.succeeded))).sum.toDouble
    val wall = calls.map(_.seconds).sum
    val mb = 1024.0 * 1024.0
    Map(
      "build_s" -> phase("build").map(_.seconds).sum,
      "plan_s" -> phase("plan").map(_.seconds).sum,
      "exec_s" -> phase("exec").map(_.seconds).sum,
      // the phases of a call are sequential, so the part of the call they
      // do not cover is its duration minus theirs
      "self_s" -> (wall - phases.map(_.seconds).sum),
      "build_jobs" -> succeeded(phase("build")),
      "jobs" -> succeeded(calls),
      "stages" -> sum("stages"),
      "tasks" -> sum("tasks"),
      "task_cpu_s" -> sum("task_cpu_ns") / 1e9,
      "core_util" -> (if (wall > 0) sum("task_ms") / 1000.0 / (wall * cores) else 0.0),
      "shuffle_read_mb" -> sum("shuffle_read_b") / mb,
      "shuffle_write_mb" -> sum("shuffle_write_b") / mb,
      "spill_mb" -> sum("spill_b") / mb,
      "task_failures" -> sum("task_failures"),
      // rows collected by the calls plus rows written to files
      "rows_out" -> (calls.map(_.rowsOut).sum + sum("records_written")),
      "files_written" -> calls.map(_.filesWritten).sum.toDouble,
      "bytes_written" -> sum("bytes_written"),
      "max_task_ratio" -> (if (calls.isEmpty) 0.0 else calls.map(_.maxTaskRatio).max))
  }

  def layers(spans: Seq[Span], jobs: Map[Int, Job], cores: Int): Map[String, Map[String, Double]] = {
    val calls = spans.filter(_.phase == "call")
    calls.groupBy(_.layer).map { case (layer, ls) =>
      val perPass = ls.groupBy(_.pass).values.map(cs => layerPass(spans, cs, jobs, cores)).toSeq
      layer -> perPass.head.keys.map(k => k -> median(perPass.map(_(k)))).toMap
    }
  }

  /** Whole-run sums of the traced passes, for the run-level counters. */
  def totals(spans: Seq[Span], jobs: Map[Int, Job]): Map[String, Double] = {
    val passes = spans.filter(_.phase == "pass")
    Snapshot.names.map(n => n -> passes.map(_.count(n)).sum.toDouble).toMap +
      ("traced_passes" -> passes.length.toDouble) +
      ("jobs_not_succeeded" ->
        passes.map(_.jobIds.count(id => !jobs.get(id).exists(_.succeeded))).sum.toDouble)
  }
}
