package perfbench

import java.io.File

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.lineage.SegmentStore

/** The benchmark harness: one workload, one seed, one process.
  *
  * Load is a closed loop from a single driver thread: the next operation
  * starts only after the previous one returned. Every operation runs under
  * its own Spark job group; after it returns the harness drains the
  * listener for that group, so job/stage totals are complete and no sleep
  * falls in a timed region. Answers are checked after the measured window
  * (lookups against parquet copies as of their own table state); a failed
  * or wrong operation counts into `failed` and its time is dropped.
  *
  * `--trace 0` prints the end-to-end metrics; `--trace 1` alternates
  * untraced and traced rounds of operations, prints the per-layer metrics
  * with the tracing overhead, and writes the span file. The last stdout line is the
  * result object; the exit code is non-zero when any check failed. */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        cores: Int, work: File, spanFile: File)

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val o = Opts(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") match { case "0" => false; case "1" => true
        case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $t") },
      need("cores").toInt, new File(need("work")), new File(need("span-file")))
    require(Workloads.Names.contains(o.workload), s"unknown workload ${o.workload}")
    require(o.seconds >= 1 && o.cores >= 1, "seconds and cores must be positive")
    o
  }

  def main(args: Array[String]): Unit = {
    val code =
      try run(parse(args))
      catch { case e: Throwable =>
        System.err.println(s"perfbench: aborted: $e")
        e.printStackTrace()
        2
      }
    System.out.flush()
    sys.exit(code)
  }

  /** The fixed single-thread RleV2 kernel the frozen `graft.Bench` uses as
    * a host-noise gauge: it depends only on host conditions. */
  private def calibKernelMs(): Double = {
    val rnd = new java.util.Random(7)
    val chunk = Array.fill(64 * 1024)((rnd.nextDouble() * 50257).toInt.toLong)
    (1 to 3).foreach(_ => graft.codec.IntCodecs.encodeChunk(chunk, graft.codec.RleV2Codec))
    val t0 = System.nanoTime()
    var i = 0
    while (i < 50) { graft.codec.IntCodecs.encodeChunk(chunk, graft.codec.RleV2Codec); i += 1 }
    (System.nanoTime() - t0) / 1e6
  }

  /** Cumulative host counters, empty where /proc lacks them: CPU jiffies
    * (all, iowait, steal) and seconds in which some task stalled on I/O. */
  private def hostCounters(): Map[String, Double] = {
    def lines(path: String): List[String] =
      try { val s = scala.io.Source.fromFile(path); try s.getLines().toList finally s.close() }
      catch { case NonFatal(_) => Nil }
    // cpu user nice system idle iowait irq softirq steal ...
    val cpu = lines("/proc/stat").headOption.toSeq.flatMap(_.trim.split("\\s+").drop(1).take(8).map(_.toDouble))
    val ioStall = lines("/proc/pressure/io").find(_.startsWith("some "))
      .flatMap(_.split(' ').find(_.startsWith("total="))).map(_.drop(6).toDouble / 1e6)
    (if (cpu.length == 8) Map("cpu" -> cpu.sum, "iowait" -> cpu(4), "steal" -> cpu(7))
     else Map.empty[String, Double]) ++ ioStall.map("io_stall" -> _)
  }

  /** Host load between two [[hostCounters]] samples: the shares of CPU time
    * the hypervisor withheld (steal) and spent waiting on I/O, and the
    * seconds of I/O stall. A slow window shows its cause here. */
  private def hostLoad(before: Map[String, Double], after: Map[String, Double]): Seq[(String, Double)] = {
    val d = after.collect { case (k, v) if before.contains(k) => k -> (v - before(k)) }
    (if (d.getOrElse("cpu", 0.0) > 0)
       Seq("cpu_steal_frac" -> d("steal") / d("cpu"), "cpu_iowait_frac" -> d("iowait") / d("cpu"))
     else Nil) ++ d.get("io_stall").map("io_stall_s" -> _)
  }

  private def session(o: Opts): SparkSession = {
    val local = new File(o.work, "spark-local")
    local.mkdirs()
    val s = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.sql.extensions", "graft.engine.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.local.dir", local.getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(o.work, "warehouse").getAbsolutePath)
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // Installed once, before any operation: every operation plans with the
    // same rule set whatever ran before it. The token-range rule is
    // installed here too: the copy GraftExtensions injects as a pre-CBO
    // rule runs before Spark 4.1's V2 scan push-down batch, where no graft
    // scan exists yet, so it never fires.
    graft.sources.GraftStatsAggPushdown.install(s)
    graft.sources.GraftTokenRangePushdown.install(s)
    s
  }

  /** One attempted operation. `error` is set when it threw or its check
    * failed; such an operation contributes no time. */
  final case class Rec(i: Int, phase: String, kind: String, res: Option[OpResult],
                       jobs: Seq[JobRec], var error: Option[String],
                       scan: Map[String, Long] = Map.empty, ledgerMs: Double = 0,
                       ledgerRows: Long = 0) {
    def ok: Boolean = error.isEmpty && res.isDefined
    def ms: Double = res.get.nanos / 1e6
    def stages: Seq[StageRec] = jobs.flatMap(_.stages)
  }

  private def run(o: Opts): Int = {
    val runStart = System.nanoTime()
    val phaseEnds = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    def phaseDone(name: String): Unit = phaseEnds += name -> (System.nanoTime() - runStart) / 1e9
    val calibBefore = calibKernelMs()
    o.work.mkdirs()
    val spark = session(o)
    val sc = spark.sparkContext
    val listener = new OpListener
    sc.addSparkListener(listener)
    val tracer = new Tracer
    val ctx = Ctx(spark, o.seed, o.cores, o.work, tracer)
    val w = Workloads(o.workload, ctx)

    // ---- host checks --------------------------------------------------
    val free = o.work.getUsableSpace
    val need = w.plannedBytes * 2 // two setup copies live at once
    if (free < need) {
      System.err.println(s"perfbench: ${o.work} has $free bytes free, the ${o.workload} workload " +
        s"needs about $need (input + tables + ORC copy); refusing to start")
      return 3
    }

    // ---- setup, timed three times; the last copy is the one used ----
    sc.setJobGroup("perfbench-setup", "setup", false)
    val setupSecs = (0 until 3).map { r =>
      val dir = ctx.dir(s"setup-$r")
      val t0 = System.nanoTime()
      w.setup(dir)
      val dt = (System.nanoTime() - t0) / 1e9
      if (r > 0) Inputs.deleteTree(new File(ctx.dir(s"setup-${r - 1}")))
      dt
    }
    sc.clearJobGroup()
    phaseDone("setup")

    // ---- the closed loop ---------------------------------------------
    val recs = scala.collection.mutable.ArrayBuffer.empty[Rec]
    var next = 0
    def runOne(phase: String, traced: Boolean): Rec = {
      val i = next
      next += 1
      val kind = w.kindOf(i)
      val group = s"${OpListener.GroupPrefix}$i"
      sc.setJobGroup(group, s"$phase $kind", false)
      tracer.enabled = traced
      val res =
        try Right(tracer.operation(i, kind)(w.run(i)))
        catch { case NonFatal(e) => Left(e) }
      tracer.enabled = false
      sc.clearJobGroup()
      listener.drain(sc, group)
      val jobs = listener.take(group)
      val rec = res match {
        case Left(e) => Rec(i, phase, kind, None, jobs, Some(s"threw $e"))
        case Right(r) if !traced => Rec(i, phase, kind, Some(r), jobs, None)
        case Right(r) =>
          tracer.enabled = true
          tracer.attachJobs(i, jobs, r.isWrite)
          tracer.enabled = false
          val scan = r.plan.map(Layers.scanMetrics).getOrElse(Map.empty)
          sc.setJobGroup("perfbench-aux", "ledger read", false)
          val t0 = System.nanoTime()
          val ledgerRows = SegmentStore.readLineage(spark, r.table).collect().length.toLong
          val ledgerMs = (System.nanoTime() - t0) / 1e6
          sc.clearJobGroup()
          Rec(i, phase, kind, Some(r), jobs, None, scan, ledgerMs, ledgerRows)
      }
      recs += rec
      rec
    }
    // The measured window. In a traced run, rounds alternate untraced and
    // traced, so both halves see the same JIT and cache warmth and their
    // difference is the tracing overhead.
    def loop(seconds: Double, tracing: Boolean): Unit = {
      val t0 = System.nanoTime()
      val first = next
      while (System.nanoTime() - t0 < seconds * 1e9 ||
             (tracing && next - first < 2 * w.opsPerRound) || next % w.opsPerRound != 0) {
        val traced = tracing && (next / w.opsPerRound) % 2 == 1
        runOne(if (!tracing) "measure" else if (traced) "traced" else "untraced", traced)
      }
    }
    while (next < w.warmupOps || next % w.opsPerRound != 0) runOne("warmup", traced = false)
    phaseDone("warmup")
    val hostBefore = hostCounters()
    loop(o.seconds, o.trace)
    val windowHost = hostLoad(hostBefore, hostCounters())

    phaseDone("measure")

    // ---- checks, in operation order ------------------------------------
    // Writes first, in operation order (an append's check writes the
    // parquet copy later lookups compare with); then reads, `cores` at a
    // time: each read's check names the table state it compares with.
    sc.setJobGroup("perfbench-check", "check", false)
    // Check queries run on small data with distinct literals; compiling a
    // whole-stage class for each costs more than interpreting it.
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    def check(r: Rec): Unit = if (r.error.isEmpty) r.res.foreach { res =>
      try res.check()
      catch { case NonFatal(e) => r.error = Some(s"wrong answer: ${e.getMessage}") }
    }
    val (writeRecs, readRecs) = recs.toSeq.partition(_.res.exists(_.isWrite))
    writeRecs.foreach(check)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(o.cores)
    try readRecs.map(r => pool.submit(new Runnable { def run(): Unit = check(r) })).foreach(_.get())
    finally pool.shutdown()
    recs.filter(_.error.isDefined).take(5).foreach(r =>
      System.err.println(s"perfbench: op ${r.i} (${r.kind}) failed: ${r.error.get}"))
    phaseDone("check")
    val stored = w.stored()
    sc.clearJobGroup()
    phaseDone("orc")
    val compressionOk = !w.gateCompression || stored.ratio <= 1.0
    if (!compressionOk) System.err.println(
      s"perfbench: stored_vs_orc_zlib ${stored.ratio} > 1.0 (${stored.graftBytes} vs ${stored.orcZlibBytes} bytes)")

    // ---- traced-only kernel timings --------------------------------------
    val kernel: Seq[(String, Double)] =
      if (!o.trace) Nil
      else {
        val ch = Layers.chunks(spark, w.ledgerTables)
        val chunks = Layers.ledgerChunks(spark, w.ledgerTables)
        Layers.codecRates(ch) ++ Layers.selectMetrics(ch) ++ Layers.engineKernels(ch) ++
          Layers.CodecNames.map(n => s"codec.$n.chunks" -> chunks.getOrElse(n, 0L).toDouble)
      }
    val calibAfter = calibKernelMs()
    phaseDone("kernels")

    val report = new Report(o, w, recs.toSeq, setupSecs, stored, tracer,
      calibBefore, calibAfter, free, phaseEnds.toSeq, windowHost)
    val correct = recs.forall(_.error.isEmpty) && compressionOk
    val metrics = if (o.trace) report.perLayer(kernel) else report.endToEnd
    report.print(metrics)
    if (o.trace) {
      o.spanFile.getParentFile.mkdirs()
      val pw = new java.io.PrintWriter(o.spanFile, "UTF-8")
      try pw.write(tracer.toJson(Seq("workload" -> o.workload, "seed" -> o.seed)))
      finally pw.close()
      println(s"perfbench: spans written to ${o.spanFile.getPath} (${tracer.spans.length} spans)")
    }
    spark.stop()
    val failed = recs.count(_.error.isDefined)
    println(Json.obj(Seq(
      "correct" -> correct, "attempted" -> recs.length, "failed" -> failed,
      "metrics" -> Json.Raw(Json.obj(metrics.map { case (n, v, u) =>
        n -> Json.Raw(Json.obj(Seq("value" -> v, "unit" -> u))) })))))
    if (correct) 0 else 1
  }
}
