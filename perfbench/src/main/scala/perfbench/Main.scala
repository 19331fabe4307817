package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark harness: one client runs the gates of a workload back to back
 *  (a closed loop) on `local[<cores>]`: one set-up pass in the cold JVM,
 *  warm-up passes, then measured passes for the requested number of
 *  seconds. The results of the last pass are checked against their DuckDB
 *  oracles.
 *
 *  Each gate run is timed in two parts from outside the library: the
 *  gate closure `SparkEntry.queries(name)(spark, dir)` (the frame build,
 *  including the eager jobs some gates run) and the `noop` write of the
 *  frame it returns (planning plus execution). Pass and set-up times are
 *  reported less the share of CPU time the hypervisor stole (`Noise`).
 *
 *  With `--trace 0` nothing is attached to Spark and the end-to-end
 *  metrics are reported. With `--trace 1` measured passes alternate
 *  between untraced and traced; traced passes attach listeners and record
 *  spans, and the per-layer metrics are reported. */
object Main {
  /** Gates per workload. The reasons are in BENCHMARK.json and README.md. */
  val workloads: Map[String, Seq[String]] = Map(
    "etl" -> Seq("q01_groupby_agg", "q17_cdc", "q18_scd2", "q93_bucketed_agg",
      "q72_jdbc_roundtrip"),
    "analytics" -> Seq("q319_grid_clusters", "q239_ks_test", "q90_stream_state"))

  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "pass_s" -> "s", "cpu_s" -> "s", "peak_rss_mb" -> "MiB")

  val perLayer: Seq[(String, String)] = Seq(
    "build.ms" -> "ms", "build.jobs" -> "count",
    "barrier.rdds" -> "count", "barrier.mb" -> "MiB",
    "plan.analysis_ms" -> "ms", "plan.optimization_ms" -> "ms", "plan.planning_ms" -> "ms",
    "exec.ms" -> "ms", "exec.jobs" -> "count", "exec.stages" -> "count", "exec.tasks" -> "count",
    "exec.task_run_ms" -> "ms", "exec.task_cpu_ms" -> "ms", "exec.busy_cores" -> "cores",
    "exec.idle_core_s" -> "s", "exec.shuffle_read_mb" -> "MiB", "exec.shuffle_write_mb" -> "MiB",
    "exec.spill_mb" -> "MiB",
    "codegen.compiles" -> "count", "codegen.cold_compiles" -> "count",
    "codegen.compile_ms" -> "ms", "jit.ms" -> "ms",
    "streaming.triggers" -> "count", "streaming.rows_in" -> "count",
    "streaming.trigger_ms" -> "ms", "streaming.add_batch_ms" -> "ms",
    "streaming.query_planning_ms" -> "ms", "streaming.latest_offset_ms" -> "ms",
    "streaming.commit_ms" -> "ms", "streaming.state_rows" -> "count",
    "streaming.state_mem_mb" -> "MiB", "streaming.state_commit_ms" -> "ms",
    "streaming.rows_per_s" -> "1/s",
    "sources.rows_read" -> "count", "sources.mb_read" -> "MiB",
    "sinks.rows_written" -> "count", "sinks.mb_written" -> "MiB", "sinks.task_ms" -> "ms",
    "jvm.gc_ms" -> "ms", "jvm.heap_peak_mb" -> "MiB",
    "self.build_ms" -> "ms", "self.build_job_ms" -> "ms",
    "self.trigger_ms" -> "ms", "self.write_ms" -> "ms", "self.plan_ms" -> "ms",
    "self.exec_job_ms" -> "ms",
    "trace.pass_s" -> "s", "trace.untraced_pass_s" -> "s", "trace.overhead_pct" -> "%",
    "noise.steal_pct" -> "%", "noise.cpu_psi_pct" -> "%", "noise.io_psi_pct" -> "%",
    "noise.max_pass_ratio" -> "ratio", "noise.inputs_s" -> "s", "noise.wall_pass_s" -> "s")

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        root: String, work: String, out: String, mode: String)

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val o = Opts(kv.getOrElse("workload", "etl"), kv.getOrElse("seed", "1").toLong,
      kv.getOrElse("seconds", "10").toInt, kv.getOrElse("trace", "0") == "1",
      kv.getOrElse("root", "."), kv.getOrElse("work", "work"), kv.getOrElse("out", "out"),
      kv.getOrElse("mode", "run"))
    val code = o.mode match {
      case "run" => new Run(o).run()
      case "selftest" => SelfTest.run(o)
      case "names" =>
        (endToEnd ++ perLayer).foreach { case (n, u) => println(s"$n $u") }
        workloads.foreach { case (w, gs) => println(s"workload $w ${gs.mkString(" ")}") }
        0
      case m => System.err.println(s"unknown mode $m"); 2
    }
    sys.exit(code)
  }

  /** Median; 0 for an empty sample. */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      (s((s.size - 1) / 2) + s(s.size / 2)) / 2
    }

  def session(cpus: Int, work: String): SparkSession = {
    val s = graft.core.Engine.configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.sql.files.openCostInBytes", "1m")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse"))
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** One gate run. Wall-clock marks are epoch milliseconds; `buildNs` and
 *  `writeNs` are the two timed parts. */
final case class GateRun(pass: Int, gate: String, start: Long, mid: Long, end: Long,
                         buildNs: Long, writeNs: Long, cpuNs: Long, compiles: Long,
                         checkNs: Long, analysis: Option[(Long, Long)], error: Option[String]) {
  def ok: Boolean = error.isEmpty
  def timedNs: Long = buildNs + writeNs
}

final class Run(o: Main.Opts) {
  import Main._

  private val gates = workloads.getOrElse(o.workload,
    throw new IllegalArgumentException(s"unknown workload ${o.workload}"))
  private val cpus = Runtime.getRuntime.availableProcessors()
  private val inDir = s"${o.work}/in"
  private val fns = graft.SparkEntry.queries
  private val runs = mutable.ArrayBuffer.empty[GateRun]
  private var spark: SparkSession = _
  private var oracle: Oracle = _
  private var probe: Option[Probe] = None

  private var inputsS = 0.0
  private var setupWallS = 0.0

  def run(): Int = {
    val t0 = System.nanoTime()
    val digest = Inputs.generate(s"${o.root}/perfbench/data", inDir, o.seed)
    inputsS = (System.nanoTime() - t0) / 1e9
    println(s"inputs seed=${o.seed} sha256=$digest")
    oracle = new Oracle(inDir, s"${o.work}/check")
    try measure() finally { oracle.close(); if (spark != null) spark.stop() }
  }

  private def measure(): Int = {
    // Set-up: create the session and run one pass over the gates in the
    // still-cold JVM. Peak resident memory is counted from here on.
    Process.resetPeakRss()
    val c0 = Process.codegenCompiles
    val setupNoise0 = Noise.read()
    val s0 = System.nanoTime()
    spark = session(cpus, o.work)
    val sessionNs = System.nanoTime() - s0
    val setupRuns = pass(-1)
    val setupS = (Noise.read() - setupNoise0).unstolenS(sessionNs + setupRuns.map(_.timedNs).sum)
    val coldCompiles = Process.codegenCompiles - c0
    setupWallS = (System.nanoTime() - s0) / 1e9

    val noise0 = Noise.read()
    Process.resetHeapPeak()
    val t0 = System.nanoTime()
    case class PassStat(traced: Boolean, wallNs: Long, unstolenS: Double, stolen: Double,
                        cpuNs: Long, compiles: Long, compileNs: Long, jitMs: Long, gcMs: Long,
                        layer: Map[String, Double])
    val stats = mutable.ArrayBuffer.empty[PassStat]
    // Passes keep getting faster for a while as the JIT compiles; the first
    // `WarmupPasses` warm passes are warm-up. Measured passes follow for
    // `--seconds`, at least `minMeasured` of them.
    val minMeasured = if (o.trace) 6 else 3
    var m0 = 0L
    def elapsed = (System.nanoTime() - t0) / 1e9
    def measuring = (System.nanoTime() - m0) / 1e9
    while (stats.size < WarmupPasses + minMeasured ||
        (measuring < o.seconds && elapsed < MaxMeasureS)) {
      val p = stats.size
      if (p == WarmupPasses) m0 = System.nanoTime()
      // Measured passes run untraced, traced, traced, untraced, and so on,
      // so a trend left over from warm-up falls on both kinds alike.
      val traced = o.trace && p >= WarmupPasses && Set(1, 2)((p - WarmupPasses) % 4)
      val (c0, cn0, j0, g0) = (Process.codegenCompiles, Process.codegenNs, Process.jitMs, Process.gcMs)
      val passProbe = if (traced) Some(new Probe(spark)) else None
      passProbe.foreach(_.install())
      probe = passProbe
      val passStart = System.currentTimeMillis()
      val noisePass0 = Noise.read()
      val rs = pass(p)
      val noisePass = Noise.read() - noisePass0
      val wallNs = rs.map(_.timedNs).sum
      passProbe.foreach(_.uninstall())
      probe = None
      passProbe.foreach(x => tracedSpans ++= Layers.spans(x, rs, passStart, System.currentTimeMillis()))
      val compiles = Process.codegenCompiles - c0
      val compileNs = Process.codegenNs - cn0
      val layer = passProbe.map(x => Layers.of(x, rs, cpus)).getOrElse(Map.empty)
      stats += PassStat(traced, wallNs, noisePass.unstolenS(wallNs), noisePass.stolenShare,
        rs.map(_.cpuNs).sum, compiles, compileNs, Process.jitMs - j0, Process.gcMs - g0, layer)
      System.err.println(f"perfbench: pass $p wall ${wallNs / 1e9}%.3f s, stolen" +
        f" ${100 * noisePass.stolenShare}%.1f%%, unstolen ${stats.last.unstolenS}%.3f s")
    }
    val noise = Noise.read() - noise0
    val heapPeak = Process.heapPeakMb
    val peakRss = Process.peakRssMb
    val measuredS = elapsed

    checkLastPass()

    val steady = stats.drop(WarmupPasses)
    val untraced = steady.filterNot(_.traced)
    val traced = steady.filter(_.traced)
    val passS = untraced.map(_.unstolenS).toSeq
    val ratios = stats.map(_.wallNs.toDouble / stats.head.wallNs)
    val noiseFields = Seq(
      "noise.steal_pct" -> (if (noise.total > 0) 100.0 * noise.steal / noise.total else 0.0),
      "noise.cpu_psi_pct" -> 100.0 * noise.cpuSomeUs / (measuredS * 1e6),
      "noise.io_psi_pct" -> 100.0 * noise.ioSomeUs / (measuredS * 1e6),
      "noise.max_pass_ratio" -> ratios.max,
      "noise.inputs_s" -> inputsS,
      "noise.wall_pass_s" -> median(untraced.map(_.wallNs / 1e9).toSeq))
    println("noise " + noiseFields.map { case (k, v) => f"$k=$v%.3f" }.mkString(" ") +
      " pass_ratios=" + ratios.map(r => f"$r%.3f").mkString(",") +
      " stolen_pct=" + stats.map(x => f"${100 * x.stolen}%.1f").mkString(","))

    val metrics: Seq[(String, Double)] =
      if (!o.trace) Seq(
        "setup_s" -> setupS,
        "pass_s" -> median(passS),
        "cpu_s" -> median(untraced.map(_.cpuNs / 1e9).toSeq),
        "peak_rss_mb" -> peakRss)
      else {
        val tl = traced.map(_.layer).toSeq
        val layered = perLayer.map(_._1).filter(n => tl.headOption.exists(_.contains(n)))
          .map(n => n -> median(tl.map(_(n))))
        layered ++ Seq(
          "codegen.compiles" -> median(steady.map(_.compiles.toDouble).toSeq),
          "codegen.cold_compiles" -> coldCompiles.toDouble,
          "codegen.compile_ms" -> median(steady.map(_.compileNs / 1e6).toSeq),
          "jit.ms" -> median(steady.map(_.jitMs.toDouble).toSeq),
          "jvm.gc_ms" -> median(steady.map(_.gcMs.toDouble).toSeq),
          "jvm.heap_peak_mb" -> heapPeak,
          "trace.pass_s" -> median(traced.map(_.unstolenS).toSeq),
          "trace.untraced_pass_s" -> median(passS),
          "trace.overhead_pct" ->
            100.0 * (median(traced.map(_.unstolenS).toSeq) / median(passS) - 1.0)) ++
          noiseFields
      }
    val failed = runs.count(!_.ok)
    val byName = metrics.toMap
    val units = (endToEnd ++ perLayer).toMap
    val wanted = if (o.trace) perLayer.map(_._1) else endToEnd.map(_._1)
    val missing = wanted.filterNot(byName.contains)
    require(missing.isEmpty, s"metrics not measured: ${missing.mkString(", ")}")
    wanted.foreach(n => println(f"metric $n%-28s ${byName(n)}%14.4f ${units(n)}"))
    println("per gate, medians over measured passes: build_ms write_ms compiles (cold compiles), check_ms")
    runs.groupBy(_.gate).toSeq.sortBy(g => gates.indexOf(g._1)).foreach { case (g, rs) =>
      val w = rs.filter(_.pass >= WarmupPasses)
      def m(f: GateRun => Double) = median(w.map(f).toSeq)
      println(f"  $g%-28s ${m(_.buildNs / 1e6)}%8.1f ${m(_.writeNs / 1e6)}%8.1f" +
        f" ${m(_.compiles.toDouble)}%6.0f (${rs.find(_.pass == -1).map(_.compiles).getOrElse(0L)})" +
        f" ${rs.map(_.checkNs).sum / 1e6}%8.1f")
    }
    println(f"phases: inputs ${inputsS}%.1f s, set-up ${setupWallS}%.1f s," +
      f" warm passes ${measuredS}%.1f s")
    println(f"gate runs ${runs.size}, failed $failed (failed_frac ${failed.toDouble / runs.size}%.4f)," +
      s" warm passes ${stats.size}, $WarmupPasses of them warm-up" +
      s" (${untraced.size} untraced, ${traced.size} traced), the last one checked")
    if (o.trace) Layers.report(tracedSpans.toSeq, s"${o.out}/trace-${o.workload}-${o.seed}.json")
    val json = wanted.map { n =>
      s""""$n": {"value": ${byName(n)}, "unit": "${units(n)}"}""" }.mkString(", ")
    println(s"""{"correct": ${failed == 0}, "attempted": ${runs.size}, "failed": $failed, "metrics": {$json}}""")
    0
  }

  private val WarmupPasses = 4
  private val MaxMeasureS = 100.0
  private val tracedSpans = mutable.ArrayBuffer.empty[Span]

  /** The frames the gates returned in the latest pass. */
  private val frames = mutable.Map.empty[String, DataFrame]

  /** Runs every gate once; `p` < 0 marks a set-up pass. */
  private def pass(p: Int): Seq[GateRun] = {
    frames.clear()
    val rs = gates.map(g => runGate(p, g))
    runs ++= rs
    rs
  }

  /** Output check of the last warm pass, made after every reading, so
   *  neither its time nor its memory (DuckDB, the parquet copy) reaches a
   *  metric. Each frame is evaluated again; the gates keep their plumbing
   *  (stream sinks, tables) until they are called again. */
  private def checkLastPass(): Unit = {
    val sc = spark.sparkContext
    for (name <- gates; df <- frames.get(name); i = runs.lastIndexWhere(_.gate == name) if runs(i).ok) {
      sc.setLocalProperty(Tags.Gate, name)
      sc.setLocalProperty(Tags.Phase, "check")
      val t = System.nanoTime()
      val err = try oracle.check(name, df, Oracle.sqlFor(name)).map(e => s"oracle mismatch: $e")
        catch { case e: Exception => Some(s"output check failed: $e") }
        finally { sc.setLocalProperty(Tags.Gate, null); sc.setLocalProperty(Tags.Phase, null) }
      runs(i) = runs(i).copy(checkNs = System.nanoTime() - t, error = err)
      err.foreach(e => println(s"gate $name pass ${runs(i).pass}: $e"))
    }
  }

  private def runGate(p: Int, name: String): GateRun = {
    val sc = spark.sparkContext
    sc.setLocalProperty(Tags.Gate, name)
    sc.setLocalProperty(Tags.Phase, "build")
    probe.foreach(_.currentGate = name)
    val cpu0 = Process.cpuNs
    val c0 = Process.codegenCompiles
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val r = try {
      val df = fns(name)(spark, inDir)
      frames(name) = df
      val t1 = System.nanoTime()
      val w1 = System.currentTimeMillis()
      // Catalyst analysed the final frame while the gate built it.
      val analysis = df.queryExecution.tracker.phases.get("analysis").map(x => (x.startTimeMs, x.endTimeMs))
      sc.setLocalProperty(Tags.Phase, "exec")
      df.write.format("noop").mode("overwrite").save()
      val t2 = System.nanoTime()
      val w2 = System.currentTimeMillis()
      val cpu = Process.cpuNs - cpu0
      val compiles = Process.codegenCompiles - c0
      GateRun(p, name, w0, w1, w2, t1 - t0, t2 - t1, cpu, compiles, 0L, analysis, None)
    } catch {
      case e: Exception =>
        val t = System.nanoTime() - t0
        GateRun(p, name, w0, w0, System.currentTimeMillis(), t, 0L, Process.cpuNs - cpu0,
          Process.codegenCompiles - c0, 0L, None, Some(s"failed: $e"))
    } finally {
      sc.setLocalProperty(Tags.Gate, null)
      sc.setLocalProperty(Tags.Phase, null)
    }
    r.error.foreach(e => println(s"gate $name pass $p: $e"))
    System.err.println(f"perfbench: pass $p $name build ${r.buildNs / 1e6}%.0f ms" +
      f" write ${r.writeNs / 1e6}%.0f ms compiles ${r.compiles}")
    r
  }
}
