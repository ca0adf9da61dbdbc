package perfbench

import Main.{Opts, Rec}

/** Turns the recorded operations into the metric sets and prints them. */
final class Report(o: Opts, w: Workload, recs: Seq[Rec], setupSecs: Seq[Double],
                   stored: Stored, tracer: Tracer, calibBefore: Double, calibAfter: Double,
                   freeBytes: Long, phaseEnds: Seq[(String, Double)], windowHost: Seq[(String, Double)]) {

  type Metric = (String, Double, String)

  private def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)
  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length
  private def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b

  private def okIn(phase: String): Seq[Rec] = recs.filter(r => r.phase == phase && r.ok)
  private def primary(rs: Seq[Rec]): Seq[Rec] = rs.filter(_.kind != "append")
  private def busySecs(rs: Seq[Rec]): Double = rs.map(_.res.get.nanos).sum / 1e9

  private val measured = okIn("measure")
  private val failed = recs.count(_.error.isDefined)

  /** Typical latency of the workload's timed operation: each kind's median,
    * then the geometric mean over kinds (appends excluded). Every lookup
    * kind weighs the same, and a relative change in any one kind moves it
    * alike; a pooled median of equally many lookups of eight kinds falls in
    * the gap between the fast and the slow kinds and is set by the two
    * kinds at its edges. With one kind it is that kind's median. */
  private def typicalMs(rs: Seq[Rec]): Double = {
    val byKind = primary(rs).groupBy(_.kind).values.map(k => med(k.map(_.ms))).toSeq
    if (byKind.isEmpty) 0.0 else math.exp(byKind.map(math.log).sum / byKind.length)
  }

  /** The end-to-end set, shared by every workload: `op` is the workload's
    * timed operation (a commit, a full scan, a lookup; appends are part of
    * the loop's busy time but not lookups). */
  def endToEnd: Seq[Metric] = Seq(
    ("setup_s", med(setupSecs), "s"),
    ("op_ms", typicalMs(measured), "ms"),
    ("ops_per_s", ratio(primary(measured).length, busySecs(measured)), "1/s"),
    ("stored_vs_orc_zlib", stored.ratio, "ratio"))

  /** The metrics the workload is named for, under their own names. */
  def workloadMetrics: Seq[Metric] = {
    val p = primary(measured)
    val busy = busySecs(measured)
    val named = o.workload match {
      case "token_ingest" =>
        Seq(("ingest_mb_per_s", ratio(p.map(_.res.get.payloadBytes).sum / 1e6, busy), "MB/s"),
          ("stored_vs_orc_zlib", stored.ratio, "ratio"))
      case "token_scan" =>
        Seq(("scan_mb_per_s", ratio(p.map(_.res.get.payloadBytes).sum / 1e6, busy), "MB/s"))
      case _ =>
        val ms = p.map(_.ms)
        def q(p: Double) = if (ms.isEmpty) 0.0 else Stats.quantile(ms, p)
        Seq(("lookup_p50_ms", med(ms), "ms"), ("lookup_p90_ms", q(0.90), "ms"),
          ("lookup_p95_ms", q(0.95), "ms"),
          ("lookups_per_s", ratio(p.length, busy), "1/s"),
          ("append_p50_ms", med(measured.filter(_.kind == "append").map(_.ms)), "ms"))
    }
    ("setup_s", med(setupSecs), "s") +: named :+
      ("failed_op_frac", ratio(failed, recs.length), "ratio")
  }

  /** The per-layer set, from the traced rounds of the window plus the
    * kernel timings. Every workload reports every name; a layer the
    * workload does not exercise reads 0. */
  def perLayer(kernel: Seq[(String, Double)]): Seq[Metric] = {
    val traced = okIn("traced")
    val writes = traced.filter(_.res.get.isWrite)
    val reads = traced.filterNot(_.res.get.isWrite)
    def perOp(rs: Seq[Rec])(f: Rec => Double): Double = mean(rs.map(f))
    def spanMs(name: String): Seq[Double] =
      tracer.spans.filter(s => s.name == name && traced.exists(_.i == s.op)).map(_.durUs / 1e3)
    def sql(n: String): Rec => Double = _.scan.getOrElse(n, 0L).toDouble
    val pruned = reads.map(r => Seq("graft segments pruned (filter stats)",
      "graft segments pruned (token range)", "graft segments pruned (bloom)").map(sql(_)(r)).sum).sum
    val decoded = reads.map(sql("graft segments decoded")).sum
    val self = tracer.selfTimeUs
    def selfMs(names: String => Boolean): Double =
      ratio(self.filter(e => names(e._1)).values.sum / 1e3, traced.length)
    val untracedMs = typicalMs(okIn("untraced"))
    val tracedMs = typicalMs(traced)

    val units = Map("encode_mb_s" -> "MB/s", "decode_mb_s" -> "MB/s", "chunks" -> "count")
    kernel.map { case (n, v) =>
      (n, v, if (n.startsWith("codec.")) units(n.split('.').last)
             else if (n.endsWith("_us")) "us" else if (n.endsWith("_ms")) "ms" else "ratio")
    } ++ Seq(
      ("engine.map_task_s", perOp(writes)(_.stages.filter(_.isShuffleMap).map(_.runMs).sum / 1e3), "s"),
      ("engine.encode_task_s", perOp(writes)(_.stages.filterNot(_.isShuffleMap).map(_.runMs).sum / 1e3), "s"),
      ("engine.shuffle_bytes_per_token", ratio(writes.flatMap(_.stages).map(_.shuffleWriteBytes).sum.toDouble,
        writes.map(_.res.get.tokensWritten).sum.toDouble), "B/token"),
      ("engine.fetch_wait_s", perOp(traced)(_.stages.map(_.fetchWaitMs).sum / 1e3), "s"),
      ("engine.gc_s", perOp(traced)(_.stages.map(_.gcMs).sum / 1e3), "s"),
      ("engine.cpu_s", perOp(traced)(_.stages.map(_.cpuNs).sum / 1e9), "s"),
      ("lineage.commit_ms", mean(spanMs("commit")), "ms"),
      ("lineage.ledger_read_ms", med(traced.map(_.ledgerMs)), "ms"),
      ("lineage.ledger_rows", perOp(traced)(_.ledgerRows.toDouble), "count"),
      ("sources.plan_ms", med(spanMs("plan")), "ms"),
      ("sources.scan_task_s", perOp(reads)(_.stages.map(_.runMs).sum / 1e3), "s"),
      ("sources.files_planned", perOp(reads)(sql("graft files planned")), "count"),
      ("sources.files_pruned_planning", perOp(reads)(sql("graft files pruned (planning)")), "count"),
      ("sources.segments_decoded", perOp(reads)(sql("graft segments decoded")), "count"),
      ("sources.segments_pruned_stats", perOp(reads)(sql("graft segments pruned (filter stats)")), "count"),
      ("sources.segments_pruned_token_range", perOp(reads)(sql("graft segments pruned (token range)")), "count"),
      ("sources.segments_pruned_bloom", perOp(reads)(sql("graft segments pruned (bloom)")), "count"),
      ("sources.payload_bytes_decoded", perOp(reads)(sql("graft payload bytes decoded")), "B"),
      ("sources.payload_bytes_pruned", perOp(reads)(sql("graft payload bytes pruned")), "B"),
      ("sources.rows_emitted", perOp(reads)(sql("graft rows emitted")), "count"),
      ("sources.prune_ratio", ratio(pruned, pruned + decoded), "ratio"),
      ("sources.rows_emitted_per_row_returned", ratio(reads.map(sql("graft rows emitted")).sum,
        reads.map(_.res.get.rowsReturned).sum.toDouble), "ratio"),
      ("spark.jobs_per_op", perOp(traced)(_.jobs.length), "count"),
      ("spark.stages_per_op", perOp(traced)(_.stages.length), "count"),
      ("spark.tasks_per_op", perOp(traced)(_.stages.map(_.tasks).sum), "count"),
      ("self.op_ms", selfMs(_.startsWith("op:")), "ms"),
      ("self.plan_ms", selfMs(_ == "plan"), "ms"),
      ("self.execute_ms", selfMs(_ == "execute"), "ms"),
      ("self.write_ms", selfMs(n => n == "encode_commit" || n == "append"), "ms"),
      ("self.spark_job_ms", selfMs(_ == "spark.job"), "ms"),
      ("self.spark_stage_ms", selfMs(_ == "spark.stage"), "ms"),
      ("self.commit_ms", selfMs(_ == "commit"), "ms"),
      ("trace.overhead_ms", tracedMs - untracedMs, "ms"),
      ("trace.overhead_frac", ratio(tracedMs - untracedMs, untracedMs), "ratio"))
  }

  /** Human-readable lines, then one diagnostics object, on stdout. */
  def print(metrics: Seq[Metric]): Unit = {
    val rt = Runtime.getRuntime
    println(s"perfbench: workload=${o.workload} seed=${o.seed} seconds=${o.seconds} trace=${if (o.trace) 1 else 0}" +
      s" closed loop, 1 client, local[${o.cores}]")
    println(s"perfbench: host nproc=${o.cores} heap_mb=${rt.maxMemory() >> 20} tmpdir=${o.work.getPath}" +
      s" free_bytes=$freeBytes")
    println(s"perfbench: host during the window ${windowHost.map { case (k, v) => f"$k=$v%.4f" }.mkString(" ")}")
    println(s"perfbench: inputs ${w.sizes.map { case (k, v) => s"$k=$v" }.mkString(" ")}")
    val (kinds, lat) = (recs.groupBy(_.kind).view.mapValues(_.length).toMap,
      primary(okIn(if (o.trace) "traced" else "measure")).map(_.ms))
    def beyond(p: Double) = if (lat.isEmpty) 0 else lat.count(_ > Stats.quantile(lat, p))
    println(s"perfbench: operations ${recs.length} attempted, $failed failed, by kind $kinds;" +
      s" ${lat.length} timed samples, ${beyond(0.90)} beyond p90, ${beyond(0.95)} beyond p95")
    if (!o.trace) workloadMetrics.foreach { case (n, v, u) => println(f"perfbench: $n%-28s $v%14.4f $u") }
    metrics.foreach { case (n, v, u) =>
      println(f"perfbench: ${if (o.trace) "layer" else "metric"} $n%-40s $v%16.4f $u%-8s" +
        (if (o.trace) s" moves ${Report.moves(n)}" else ""))
    }
    val cpu = okIn(if (o.trace) "traced" else "measure").map(_.stages.map(_.cpuNs).sum / 1e9)
    println(Json.obj(Seq("perfbench_diag" -> Json.Raw(Json.obj(Seq(
      "workload" -> o.workload, "seed" -> o.seed, "nproc" -> o.cores,
      "heap_mb" -> (rt.maxMemory() >> 20), "tmpdir" -> o.work.getPath, "free_bytes" -> freeBytes,
      "sizes" -> w.sizes.toMap, "setup_s_samples" -> setupSecs,
      "calib_kernel_ms" -> calibBefore, "calib_kernel_ms_after" -> calibAfter,
      "spark_cpu_s_per_op_p50" -> med(cpu), "spark_cpu_s_per_op" -> cpu,
      "phase_end_s" -> phaseEnds.toMap, "window_host" -> windowHost.toMap,
      "op_ms" -> okIn(if (o.trace) "traced" else "measure").map(_.ms),
      "op_kind" -> okIn(if (o.trace) "traced" else "measure").map(_.kind),
      "op_p50_ms_by_kind" -> okIn(if (o.trace) "traced" else "measure").groupBy(_.kind)
        .map { case (k, rs) => k -> med(rs.map(_.ms)) },
      "workload_metrics" -> workloadMetrics.map(m => m._1 -> m._2).toMap))))))
  }
}

object Report {
  /** Which end-to-end metric, on which workload, a per-layer metric should
    * move. */
  def moves(name: String): String = name match {
    case n if n.startsWith("codec.") && n.endsWith(".encode_mb_s") => "ingest_mb_per_s (ops_per_s) on token_ingest"
    case n if n.startsWith("codec.") && n.endsWith(".decode_mb_s") =>
      "op_ms on lookup_mixed; scan_mb_per_s (ops_per_s) on token_scan"
    case n if n.startsWith("codec.") => "stored_vs_orc_zlib on token_ingest"
    case n if n.startsWith("select.") => "ingest_mb_per_s and stored_vs_orc_zlib on token_ingest"
    case "engine.decode_segment_ms" => "op_ms on lookup_mixed; scan_mb_per_s on token_scan"
    case n if n.startsWith("engine.") => "ingest_mb_per_s on token_ingest"
    case n if n.startsWith("lineage.") =>
      "ingest_mb_per_s on token_ingest; append_p50_ms and lookup_p95_ms on lookup_mixed"
    case "sources.scan_task_s" => "scan_mb_per_s on token_scan; lookup_p50_ms on lookup_mixed"
    case n if n.startsWith("sources.") =>
      "lookup_p50_ms and lookup_p95_ms on lookup_mixed (pruning counts stay 0 on token_scan)"
    case n if n.startsWith("spark.") => "op_ms on every workload"
    case n if n.startsWith("self.") => "op_ms on every workload (where the blocking time sits)"
    case _ => "nothing: tracing cost, traced minus untraced op_ms"
  }
}
