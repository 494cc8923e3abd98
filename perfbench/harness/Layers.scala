package perfbench

/** Per-layer metrics of a traced run, from its spans and notes. Every
  * metric is emitted on every workload; a layer the workload does not
  * exercise reads 0. Spans of op -1 (set-up, warm-up) are left out
  * except where the layer only works in set-up (publish, register,
  * the serve workload's ingests). */
object Layers {
  def compute(ctx: Ctx, sessionS: Double): Map[String, Double] = {
    val t = ctx.tracer
    def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)
    def timed(name: String): Seq[Span] = t.named(name).filter(_.op >= 0)
    def wall(ss: Seq[Span]): Seq[Double] = ss.map(_.wallMs)
    def delta(ss: Seq[Span], k: String): Seq[Double] = ss.map(_.delta(k))
    def gap(ss: Seq[Span]): Seq[Double] = ss.map(s => s.wallMs - s.delta("job_union_ms"))
    def attr(ss: Seq[Span], k: String): Seq[Double] = ss.map(_.attrs.getOrElse(k, 0.0))
    def ratio(num: Double, den: Double): Double = if (den == 0) 0.0 else num / den
    def noteVals(name: String): Seq[Double] = t.notes.collect { case (`name`, _, v) => v }.toSeq
    val m = scala.collection.mutable.LinkedHashMap.empty[String, Double]

    m("session.start_s") = sessionS

    val src = t.named("sources.compounds")
    val srcMb = attr(src, "sdf_mb").sum
    m("sources.extract_ms_per_mb") = ratio(wall(src).sum, srcMb)
    m("sources.task_cpu_ms_per_mb") = ratio(delta(src, "task_cpu_ms").sum, srcMb)
    m("sources.kept_ratio") = ratio(attr(src, "rows").sum, attr(src, "records").sum)

    val ingest = t.named("warehouse.ingest")
    m("warehouse.ingest_ms") = med(wall(ingest))
    m("warehouse.ingest_jobs") = med(delta(ingest, "jobs"))
    m("warehouse.ingest_tasks") = med(delta(ingest, "tasks"))
    m("warehouse.ingest_driver_gap_ms") = med(gap(ingest))
    m("warehouse.skip_ms") = med(wall(timed("warehouse.skip")))
    m("warehouse.manifest_resolve_ms") = med(wall(timed("warehouse.manifest")))
    m("warehouse.files_written_per_batch") = med(noteVals("warehouse.files_written"))
    m("warehouse.bytes_written_per_input_byte") =
      ratio(delta(ingest, "bytes_written").sum, attr(ingest, "input_bytes").sum)
    val compact = timed("warehouse.compact")
    m("warehouse.compact_ms") = med(wall(compact))
    m("warehouse.compact_bytes_rewritten") = med(delta(compact, "bytes_written"))
    m("warehouse.files_after_compact") = attr(compact, "files_after").lastOption.getOrElse(0.0)
    m("warehouse.publish_s") = wall(t.named("warehouse.publish")).sum / 1000.0

    val lookup = timed("lookup")
    val lookupExec = timed("lookup.exec")
    m("lookup.prune_ms") = med(wall(timed("lookup.prune")))
    m("lookup.exec_ms") = med(wall(lookupExec))
    m("lookup.jobs") = med(delta(lookup, "jobs"))
    m("lookup.tasks") = med(delta(lookup, "tasks"))
    m("lookup.files_read") = med(attr(lookupExec, "files_read"))
    m("lookup.rows_examined_per_result") =
      ratio(delta(lookup, "records_read").sum, math.max(1.0, attr(lookupExec, "rows").sum))

    val indexed = timed("lookup_indexed")
    val indexedExec = timed("lookup_indexed.exec")
    m("lookup_indexed.plan_ms") = med(wall(timed("lookup_indexed.plan")))
    m("lookup_indexed.exec_ms") = med(wall(indexedExec))
    m("lookup_indexed.tasks") = med(delta(indexed, "tasks"))
    m("lookup_indexed.rows_examined_per_result") =
      ratio(delta(indexed, "records_read").sum, math.max(1.0, attr(indexedExec, "rows").sum))

    val sql = timed("sql")
    val sqlExec = timed("sql.exec")
    m("catalog.register_ms") = wall(t.named("catalog.register")).sum
    m("sql.analyze_ms") = med(wall(timed("sql.analyze")))
    m("sql.plan_ms") = med(wall(timed("sql.plan")))
    m("sql.exec_ms") = med(wall(sqlExec))
    m("sql.jobs") = med(delta(sql, "jobs"))
    m("sql.tasks") = med(delta(sql, "tasks"))
    m("sql.shuffle_bytes") = med(delta(sql, "shuffle_bytes"))
    m("sql.rows_examined_per_result") =
      ratio(delta(sql, "records_read").sum, math.max(1.0, attr(sqlExec, "rows").sum))

    // Operator families: per-pass sums over the family's entries, then
    // the median over passes.
    CurateWorkload.Families.foreach { f =>
      def perPass(ss: Seq[Span])(v: Span => Double): Double =
        med(ss.groupBy(_.op).values.map(_.map(v).sum).toSeq)
      val top = timed(s"operators.$f")
      m(s"operators.$f.plan_ms") = perPass(timed(s"operators.$f.plan"))(_.wallMs)
      m(s"operators.$f.exec_ms") = perPass(timed(s"operators.$f.exec"))(_.wallMs)
      m(s"operators.$f.driver_gap_ms") = perPass(top)(s => s.wallMs - s.delta("job_union_ms"))
      Seq("jobs", "tasks", "task_cpu_ms", "shuffle_bytes", "spill_bytes", "gc_ms").foreach { k =>
        m(s"operators.$f.$k") = perPass(top)(_.delta(k))
      }
    }
    val inOrder = noteVals("operators.in_order_ms")
    val repeat = noteVals("operators.repeat_ms")
    m("operators.in_order_over_repeat") =
      if (inOrder.isEmpty) 0.0
      else math.exp(inOrder.zip(repeat).map { case (a, b) => math.log(a / b) }.sum / inOrder.length)

    m("trace.overhead_share") = ratio(ctx.timedTraceMs, ctx.ops.totalMs)
    m.toMap
  }
}
