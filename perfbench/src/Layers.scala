package perfbench

import java.nio.file.{Files, Paths}

/** Per-layer numbers of a traced run. Each layer reports the measured
  * window when it was busy there, and its set-up activity otherwise (for
  * example the silver merges that built the lake `query_api` reads). */
object Layers {
  val Endpoints: Seq[String] = Seq("orders", "events")

  def metrics(ctx: Ctx, guardMs: Double, rewriteMs: Double, gcS: Double,
      heapPeakMb: Double, errorRate: Double): Map[String, Double] = {
    val idx = new SpanIndex(ctx.tracer)
    val counts = ctx.layer.toMap

    def phaseOf(prefix: String): String =
      if (counts.keys.exists(k => k.startsWith(s"measure|$prefix")) ||
          idx.spans.exists(s => s.phase == "measure" && s.name.startsWith(prefix))) "measure"
      else "setup"
    def cnt(name: String, prefix: String): Double =
      counts.getOrElse(s"${phaseOf(prefix)}|$name", 0.0)
    def spansOf(name: String, prefix: String): Seq[Span] = {
      val ph = phaseOf(prefix)
      idx.spans.filter(s => s.phase == ph && s.name == name)
    }
    def jobs(ss: Seq[Span]): Double = ss.map(s => idx.jobsOf(s).length).sum.toDouble
    def shuffle(ss: Seq[Span]): Double = ss.map(s => idx.stageTotals(s)._2.shuffleWrite).sum.toDouble
    def p50(ss: Seq[Span]): Double = if (ss.isEmpty) 0.0 else Util.median(ss.map(_.seconds))

    val m = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    // ingest
    val busy = cnt("ingest.busy_s", "ingest.")
    m("ingest.calls") = cnt("ingest.calls", "ingest.")
    m("ingest.records") = cnt("ingest.records", "ingest.")
    m("ingest.busy_s") = busy
    m("ingest.records_per_s") = if (busy > 0) cnt("ingest.records", "ingest.") / busy else 0.0
    m("ingest.flush_s") = p50(spansOf("ingest.flush", "ingest."))
    m("ingest.bronze_files") = cnt("ingest.bronze_files", "ingest.")
    m("ingest.bronze_bytes") = cnt("ingest.bronze_bytes", "ingest.")
    // silver
    Endpoints.foreach { e =>
      val p = s"silver.$e."
      val ss = spansOf(s"silver.$e.merge", p)
      m(s"silver.$e.merge_p50_s") = p50(ss)
      Seq("rows_in", "dups_in_batch", "keys_inserted", "keys_updated", "files_written",
        "files_linked", "bytes_written").foreach(k => m(s"$p$k") = cnt(s"$p$k", p))
      val batch = cnt(s"${p}batch_bytes", p)
      m(s"${p}write_amp") = if (batch > 0) cnt(s"${p}bytes_written", p) / batch else 0.0
      m(s"${p}spark_jobs") = jobs(ss)
      m(s"${p}shuffle_bytes") = shuffle(ss)
    }
    // gold
    val dag = spansOf("gold.dag", "gold.")
    m("gold.dag_s") = p50(dag)
    Lakehouse.gold.map(_.job.jobName).foreach { n =>
      m(s"gold.job.${n}_s") = p50(spansOf(s"gold.job.$n", "gold."))
    }
    m("gold.rows_written") = cnt("gold.rows_written", "gold.")
    m("gold.bytes_written") = cnt("gold.bytes_written", "gold.")
    m("gold.spark_jobs") = jobs(dag)
    m("gold.shuffle_bytes") = shuffle(dag)
    // query API
    val qs = QueryMix.Classes.flatMap(c => spansOf(s"query.$c", "query."))
    QueryMix.Classes.foreach { c =>
      m(s"query.${c}_p50_ms") = p50(spansOf(s"query.$c", "query.")) * 1000
    }
    m("query.guard_ms") = guardMs
    m("query.rewrite_ms") = rewriteMs
    m("query.rows_returned") = cnt("query.rows_returned", "query.")
    m("query.truncated") = cnt("query.truncated", "query.")
    m("query.spark_jobs_per_query") = if (qs.isEmpty) 0.0 else jobs(qs) / qs.length
    m("query.bytes_read_per_query") =
      if (qs.isEmpty) 0.0 else qs.map(s => idx.stageTotals(s)._2.inputBytes).sum.toDouble / qs.length
    // operators, per pass
    Workloads.OpNames.map(Workloads.shortOp).foreach { q =>
      val ss = spansOf(s"ops.$q", s"ops.$q")
      val n = math.max(1, ss.length).toDouble
      m(s"ops.$q.spark_jobs") = jobs(ss) / n
      m(s"ops.$q.stages") = ss.map(s => idx.stageTotals(s)._1).sum / n
      m(s"ops.$q.shuffle_bytes") = shuffle(ss) / n
      m(s"ops.$q.spill_bytes") = ss.map(s => idx.stageTotals(s)._2.spill).sum / n
      m(s"ops.$q.driver_gap_s") = ss.map(idx.driverGapSeconds).sum / n
    }
    m("jvm.gc_s") = gcS
    m("jvm.heap_peak_mb") = heapPeakMb
    m("checks.error_rate") = errorRate
    m.toMap
  }

  /** Self time per span name: count, total and median seconds. */
  def spanSummary(ctx: Ctx): Seq[Map[String, Any]] = {
    val idx = new SpanIndex(ctx.tracer)
    idx.spans.groupBy(s => (s.phase, s.name)).toSeq.sortBy(_._1).map { case ((ph, n), ss) =>
      val self = ss.map(idx.selfSeconds)
      Map("phase" -> ph, "span" -> n, "count" -> ss.length,
        "total_s" -> ss.map(_.seconds).sum, "self_total_s" -> self.sum,
        "self_p50_s" -> Util.median(self))
    }
  }

  /** Every span as one JSON document (written when the run ends). */
  def writeSpans(ctx: Ctx, file: String): Unit = {
    val idx = new SpanIndex(ctx.tracer)
    val rows = idx.spans.map { s =>
      Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "req" -> s.req,
        "phase" -> s.phase, "start_ns" -> s.start, "end_ns" -> s.end,
        "self_s" -> idx.selfSeconds(s), "spark_jobs" -> idx.jobsOf(s).length)
    }
    Files.writeString(Paths.get(file), Util.toJson(rows))
  }
}
