package perfbench

/**
 * Per-layer metrics of the batch workloads, derived from the spans and the
 * job-group counters of the traced operations. Times and counts are means
 * per traced operation. The query is executed by the "exec" span on
 * query_suite and inside the "sink" span on daily_backfill (the sink write
 * runs the query's jobs), so `ops.exec_s` covers both.
 */
object Layers {

  def batch(ctx: Ctx): Unit = {
    val traced = ctx.ops.filter(r => r.traced && r.ok)
    val n = math.max(1, traced.size).toDouble
    val tot = ctx.tracer.totals.withDefaultValue(0.0)
    def c(letters: String*): GroupCounters = {
      val g = new GroupCounters
      letters.flatMap(ctx.counters.get).foreach(g += _)
      g
    }
    val exec = c("p", "x", "s")
    val all = c("b", "p", "x", "s")
    val execWall = tot("exec") + tot("sink")
    val L = ctx.layers
    L("queries.build_s") = tot("build") / n
    L("queries.build_jobs") = c("b").jobs / n
    L("plans.plan_s") = tot("plan") / n
    L("ops.exec_s") = execWall / n
    L("ops.jobs") = exec.jobs / n
    L("ops.stages") = exec.stages / n
    L("ops.tasks") = exec.tasks / n
    L("ops.task_s") = exec.taskMs / 1e3 / n
    L("ops.busy_ratio") =
      if (execWall > 0) exec.taskMs / 1e3 / (execWall * ctx.o.cores) else 0.0
    L("ops.shuffle_write_bytes") = all.shuffleWriteBytes / n
    L("ops.shuffle_read_bytes") = all.shuffleReadBytes / n
    L("ops.spill_bytes") = all.spillBytes / n
    L("sources.bytes_read") = all.bytesRead / n
    L("sources.rows_read") = all.rowsRead / n
    L("sink.write_s") = tot("sink") / n
    L("sink.rows") = c("s").rowsWritten / n
    Seq("status", "retweetFromDistinctSources", "statusFromDistinctSources")
      .zip(Seq("jobs.pass_status_s", "jobs.pass_rt_distinct_s",
        "jobs.pass_st_distinct_s"))
      .foreach { case (st, name) => L(name) = tot(s"pass:$st") / n }
    L("trace.traced_ops") = traced.size.toDouble
  }

  /** Traced minus untraced median wall time of successful operations. */
  def overhead(ctx: Ctx): Double = {
    def med(xs: Seq[Double]) =
      if (xs.isEmpty) 0.0 else { val s = xs.sorted; s(s.size / 2) }
    val ok = ctx.ops.filter(_.ok)
    med(ok.filter(_.traced).map(_.wallS).toSeq) -
      med(ok.filterNot(_.traced).map(_.wallS).toSeq)
  }
}
