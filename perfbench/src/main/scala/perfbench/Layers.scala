package perfbench

import scala.collection.mutable.ArrayBuffer

/** Per-layer metrics of a traced run, computed from its spans.
  *
  * A layer is an engine module; its self time is the time its spans cover
  * minus the time their child spans cover. Per-op figures divide by the
  * number of traced ops. Span names are `<module>.<call>`; `bench.op` is
  * the root of each op, and its self time is the harness's own share. */
object Layers {
  /** (request id, latency ms, traced, class) of every timed op. */
  type OpRow = (Long, Double, Boolean, String)

  def metrics(tr: Tracer, ops: Seq[OpRow], liveRowRatio: Double,
              detail: ArrayBuffer[(String, Double)]): Seq[(String, Double, String)] = {
    val tracedOps = ops.filter(_._3)
    val n = tracedOps.size.toDouble
    require(n > 0, "no traced ops: the run was too short")
    val reqs = tracedOps.map(_._1).toSet
    val opSpans = tr.spans.filter(s => reqs.contains(s.request) && s.endNs > 0)
    def named(prefix: String) = opSpans.filter(_.name.startsWith(prefix))
    def selfMs(prefix: String) = named(prefix).map(_.selfNs).sum / 1e6
    def counter(ss: Seq[Span])(f: SpanCounters => Long): Long =
      ss.map(s => Option(Trace.counters.get(s.group)).map(f).getOrElse(0L)).sum

    val wallMs = tracedOps.map(_._2).sum
    val moduleSelfMs = opSpans.filterNot(_.module == "bench").map(_.selfNs).sum / 1e6
    val searchSpans = named("search.")
    val hits = tr.hits.collect { case ((r, "search"), h) if reqs.contains(r) => h }.sum
    val serve = named("textindex.serve")
    val builds = tr.spans.filter(s => s.name.startsWith("textindex.build") && s.endNs > 0)

    // tracing overhead: traced vs untraced ops of the same class, same run
    // (traced runs alternate whole cycles, so every class has both)
    val overheads = ops.groupBy(_._4).values.flatMap { rs =>
      val (t, u) = rs.partition(_._3)
      if (t.isEmpty || u.isEmpty) None
      else Some((Stats.median(t.map(_._2)) / Stats.median(u.map(_._2)) - 1) * 100, t.size)
    }
    val overheadPct =
      if (overheads.isEmpty) 0.0
      else overheads.map { case (o, k) => o * k }.sum / overheads.map(_._2).sum

    // every span name, for the detail file (module-specific layers live here)
    for ((name, ss) <- tr.spans.filter(_.endNs > 0).groupBy(_.name).toSeq.sortBy(_._1)) {
      detail += s"span.$name.calls" -> ss.size.toDouble
      detail += s"span.$name.self_ms" -> ss.map(_.selfNs).sum / 1e6
      detail += s"span.$name.input_records" -> counter(ss)(_.inputRecords.sum).toDouble
      detail += s"span.$name.output_bytes" -> counter(ss)(_.outputBytes.sum).toDouble
      detail += s"span.$name.spill_bytes" -> counter(ss)(_.spillBytes.sum).toDouble
      detail += s"span.$name.fetch_wait_ms" -> counter(ss)(_.fetchWaitMs.sum).toDouble
      detail += s"span.$name.files_read" -> counter(ss)(_.filesRead.sum).toDouble
    }
    for ((k, v) <- tr.notes) detail += s"note.$k" -> v
    detail += "trace.traced_ops" -> n
    detail += "trace.untraced_ops" -> (ops.size - n)

    Seq(
      ("query.compile_ms", selfMs("query.compile") / n, "ms"),
      ("driver.plan_ms", opSpans.map(_.planNs).sum / 1e6 / n, "ms"),
      ("search.exec_ms", selfMs("search.exec") / n, "ms"),
      ("search.rowload_ms", selfMs("search.rowload") / n, "ms"),
      ("search.rows_examined_per_hit",
        counter(searchSpans)(_.inputRecords.sum).toDouble / math.max(hits, 1L), "ratio"),
      ("textindex.serve_ms", selfMs("textindex.serve") / n, "ms"),
      ("textindex.files_read_per_query",
        counter(serve)(_.filesRead.sum).toDouble / math.max(serve.size, 1), "count"),
      ("textindex.live_row_ratio", liveRowRatio, "ratio"),
      ("textindex.build_ms", builds.map(_.selfNs).sum / 1e6 / math.max(builds.size, 1), "ms"),
      ("aggs.exec_ms", selfMs("aggs.exec") / n, "ms"),
      ("spark.jobs_per_op", counter(opSpans)(_.jobs.sum) / n, "count"),
      ("spark.tasks_per_op", counter(opSpans)(_.tasks.sum) / n, "count"),
      ("spark.shuffle_bytes_per_op", counter(opSpans)(_.shuffleWriteBytes.sum) / n, "bytes"),
      ("spark.input_bytes_per_op", counter(opSpans)(_.inputBytes.sum) / n, "bytes"),
      ("jvm.gc_ms_per_op", named("bench.op").map(_.gcMsIncl).sum / n, "ms"),
      ("trace.layer_coverage", moduleSelfMs / wallMs, "ratio"),
      ("trace.overhead_pct", overheadPct, "%"))
  }

  /** Spans as JSON lines, written once when the run ends. */
  def writeSpans(tr: Tracer, path: String): Unit = {
    val lines = tr.spans.filter(_.endNs > 0).map { s =>
      val c = Option(Trace.counters.get(s.group))
      def v(f: SpanCounters => Long) = c.map(f).getOrElse(0L).toString
      Json.obj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString,
        "request" -> s.request.toString, "name" -> Json.str(s.name),
        "start_ns" -> s.startNs.toString, "end_ns" -> s.endNs.toString,
        "self_ns" -> s.selfNs.toString, "plan_ns" -> s.planNs.toString,
        "gc_ms" -> s.gcMsIncl.toString, "jobs" -> v(_.jobs.sum), "tasks" -> v(_.tasks.sum),
        "input_bytes" -> v(_.inputBytes.sum), "input_records" -> v(_.inputRecords.sum),
        "shuffle_write_bytes" -> v(_.shuffleWriteBytes.sum),
        "shuffle_read_bytes" -> v(_.shuffleReadBytes.sum),
        "output_bytes" -> v(_.outputBytes.sum), "files_read" -> v(_.filesRead.sum)))
    }
    Files.write(path, lines.mkString("", "\n", "\n"))
  }
}
