package perfbench

/** The traced run's per-layer report. Every name in [[Names]] is reported
  * on every workload; a layer the workload never calls reports 0.
  */
object Layers {
  val SparkCounters: Seq[(String, String)] = new Counters().named(1.0).map(c => (c._1, c._3))

  val Names: Seq[(String, String)] = Seq(
    "kernel.insert_us" -> "us",
    "kernel.inserts_per_s" -> "1/s",
    "kernel.rebuild_ms" -> "ms",
    "kernel.search_us" -> "us",
    "hnsw.build_s" -> "s",
    "hnsw.save_s" -> "s",
    "hnsw.save.task_skew" -> "ratio",
    "hnsw.load_s" -> "s",
    "hnsw.delete_s" -> "s",
    "hnsw.query.construct_s" -> "s",
    "hnsw.query.action_s" -> "s",
    "hnsw.query.jobs" -> "count",
    "hnsw.query.rows_read_per_query" -> "count",
    "hnsw.shards" -> "count",
    "hnsw.rebuild_s" -> "s",
    "hnsw.rebuild.bytes_rewritten" -> "bytes",
    "streaming.append_s" -> "s",
    "streaming.append.output_bytes" -> "bytes",
    "ingest.post_compact_batch_s" -> "s",
    "operators.prepare_s" -> "s",
    "operators.write_s" -> "s") ++
    Seq("gopherRulesHof", "exactDedup", "minhashSignatures", "lshCandidatePairs",
      "jaccardForPairs", "dupClusters", "contamination", "tokenBudgetSelect")
      .map(s => s"operators.${s}_s" -> "s") ++
    Seq(
      "operators.lsh_candidates" -> "count",
      "operators.verified_pairs" -> "count",
      "operators.lsh_precision" -> "ratio",
      "bench.self_s" -> "s",
      "hnsw.self_s" -> "s",
      "streaming.self_s" -> "s",
      "operators.self_s" -> "s",
      "op.samples" -> "count",
      "op.untraced_p50_s" -> "s",
      "op.traced_p50_s" -> "s",
      "op.tail_pct" -> "%",
      "op.tail_s" -> "s",
      "trace.overhead_s" -> "s",
      "trace.overhead_share" -> "ratio",
      "trace.spans_per_op" -> "count") ++
    SparkCounters ++
    Seq("hnsw", "streaming", "operators").flatMap(l => SparkCounters.map { case (n, u) => s"$l.$n" -> u })

  /** Median duration of the spans called `name`, anywhere in the run. */
  private def spanMedian(spans: Seq[Span], name: String): Double =
    Stats.median(spans.filter(_.name == name).map(_.seconds))

  def report(r: Run, w: Workload): Unit = {
    org.apache.spark.PerfbenchBus.drain(r.sc)
    val spans = r.tracer.spans
    val inOps = spans.filter(_.op >= 0)
    val nOps = math.max(1, w.loop.traced.size).toDouble
    val self = r.tracer.selfSeconds
    val bySpan = r.listener.map(_.counters).getOrElse(Map.empty)
    def sum(ss: Seq[Span]): Counters = {
      val c = new Counters
      ss.flatMap(s => bySpan.get(s.id)).foreach(c += _)
      c
    }
    val v = scala.collection.mutable.LinkedHashMap.empty[String, Double]

    Seq("hnsw.build", "hnsw.save", "hnsw.load", "hnsw.delete", "hnsw.query.construct",
      "hnsw.query.action", "streaming.append").foreach(n => v(s"${n}_s") = spanMedian(spans, n))
    v("operators.prepare_s") = spanMedian(spans, "operators.prepare")
    v("operators.write_s") = spanMedian(spans, "operators.writeCurriculum")
    Seq("gopherRulesHof", "exactDedup", "minhashSignatures", "lshCandidatePairs",
      "jaccardForPairs", "dupClusters", "contamination", "tokenBudgetSelect")
      .foreach(s => v(s"operators.${s}_s") = spanMedian(spans, s"operators.$s"))
    v("hnsw.save.task_skew") = Stats.median(spans.filter(_.name == "hnsw.save")
      .map(s => bySpan.get(s.id).map(_.maxOverMedianTask).getOrElse(0.0)))

    val querySpans = inOps.filter(s => s.name == "hnsw.query.construct" || s.name == "hnsw.query.action")
    val queryCalls = inOps.count(_.name == "hnsw.query.construct")
    if (queryCalls > 0) {
      val c = sum(querySpans)
      v("hnsw.query.jobs") = c.jobs.toDouble / queryCalls
      v("hnsw.query.rows_read_per_query") = c.inputRecords.toDouble / (queryCalls * w.queriesPerOp)
    }

    Seq("bench", "hnsw", "streaming", "operators").foreach { l =>
      v(s"$l.self_s") = inOps.filter(_.layer == l).map(s => self(s.id)).sum / nOps
    }
    val all = w.loop.all
    v("op.samples") = all.size.toDouble
    v("op.untraced_p50_s") = Stats.median(w.loop.untraced)
    v("op.traced_p50_s") = Stats.median(w.loop.traced)
    // the highest percentile with at least ten samples above it
    val tailPct = math.floor(100.0 * (1.0 - 10.0 / all.size))
    if (tailPct > 0) {
      v("op.tail_pct") = tailPct
      v("op.tail_s") = Stats.quantile(all, tailPct / 100)
    }
    v("trace.overhead_s") = v("op.traced_p50_s") - v("op.untraced_p50_s")
    v("trace.overhead_share") = v("trace.overhead_s") / v("op.untraced_p50_s")
    v("trace.spans_per_op") = inOps.size / nOps

    sum(inOps).named(nOps).foreach { case (n, x, _) => v(n) = x }
    Seq("hnsw", "streaming", "operators").foreach { l =>
      sum(inOps.filter(_.layer == l)).named(nOps).foreach { case (n, x, _) => v(s"$l.$n") = x }
    }
    w.layer.foreach { case (k, x) => v(k) = x }

    Names.foreach { case (n, u) => r.put(n, v.getOrElse(n, 0.0), u) }
    r.tracer.write(s"${r.o.work}/../traces/trace-${r.o.workload}-${r.o.seed}.jsonl")
  }
}
