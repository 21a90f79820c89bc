package perfbench

import org.apache.spark.sql.SparkSession

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

/**
 * Benchmark entry point:
 *
 *   perfbench.Main --work DIR --workload NAME --seed N --seconds S --trace 0|1
 *
 * One JVM, one client, closed loop: each iteration starts when the previous
 * one has returned, on a `local[4]` session. With `--trace 0` it prints the
 * end-to-end metrics; with `--trace 1` it alternates untraced and traced
 * iterations, runs the layer probes and prints the per-layer metrics, and
 * writes spans, listener totals and per-query records to
 * `DIR/trace/<workload>-<seed>.json`. The last stdout line is the result.
 */
object Main {
  import Workload._

  val Cores = 4
  val CorpusRows = 300000L
  val Docs = 32000L
  /** The workloads BENCHMARK.json lists. */
  val Workloads = Seq("corpus_dirty", "json_docs")

  /** End-to-end metrics, printed with `--trace 0`: (name, unit). */
  val EndToEnd = Seq("setup_s" -> "s", "rows_per_s" -> "1/s", "rows_per_cpu_s" -> "1/s")

  final case class Args(work: File, workload: String, seed: Long, seconds: Int, trace: Boolean)

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val known = Set("work", "workload", "seed", "seconds", "trace")
    require(argv.length % 2 == 0 && m.size * 2 == argv.length && m.keySet.subsetOf(known),
      s"usage: --work DIR --workload {${Workloads.mkString(",")}} --seed N --seconds S --trace 0|1")
    require(Workloads.contains(m("workload")), s"unknown workload ${m("workload")}")
    require(Set("0", "1").contains(m.getOrElse("trace", "0")), "--trace takes 0 or 1")
    val seconds = m("seconds").toInt
    require(seconds >= 1, "--seconds must be at least 1")
    Args(new File(m("work")).getAbsoluteFile, m("workload"), m("seed").toLong, seconds,
      m.getOrElse("trace", "0") == "1")
  }

  def session(work: File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "8m")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def workload(a: Args): Workload = a.workload match {
    case "corpus_dirty" => new CorpusWorkload(Inputs.dirtyCorpus(a.seed, CorpusRows), a.work)
    case "json_docs"    => new DocsWorkload(a.seed, Docs, a.work)
  }

  private val Off = new Spans(enabled = false)

  private def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** One closed-loop iteration: (wall s, process cpu s, step times). */
  private def measured(w: Workload, spark: SparkSession, ops: Ops, spans: Spans,
                       k: Int): (Double, Double, Map[String, Double]) = {
    val c0 = cpuNs()
    val (steps, wall) = timed(w.iteration(spark, ops, spans, k))
    (wall, (cpuNs() - c0) / 1e9, steps)
  }

  /** [[measured]], then the iteration's untimed output check. */
  private def checked(w: Workload, spark: SparkSession, ops: Ops, spans: Spans,
                      k: Int): (Double, Double, Map[String, Double]) = {
    val r = measured(w, spark, ops, spans, k)
    w.afterIteration(spark, ops)
    r
  }

  private var jitSeen = 0L
  /** JIT compile milliseconds since the previous call. */
  private def jitMs(): Long = {
    val t = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
    val d = t - jitSeen
    jitSeen = t
    d
  }

  /** Seconds for a fixed single-threaded integer loop: how fast the host runs now. */
  private def clockProbeS(): Double = {
    val (x, s) = timed {
      var x = 0x9E3779B97F4A7C15L; var i = 0
      while (i < 300000000) { x = x * 6364136223846793005L + 1442695040888963407L; i += 1 }
      x
    }
    if (x == 42L) System.err.print("")
    s
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  private def metricsJson(ms: Seq[(String, String, Double)]): String =
    ms.map { case (n, u, v) => s""""$n":{"value":${num(v)},"unit":"$u"}""" }.mkString("{", ",", "}")

  private def result(ops: Ops, ms: Seq[(String, String, Double)]): String =
    s"""{"correct":${ops.attempted > 0 && ops.failed == 0},"attempted":${ops.attempted},""" +
      s""""failed":${ops.failed},"metrics":${metricsJson(ms)}}"""

  def main(argv: Array[String]): Unit = {
    val mainNs = System.nanoTime()
    val jvmToMainS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val a = try parse(argv) catch { case e: Exception =>
      System.err.println(s"perfbench: ${e.getMessage}"); sys.exit(2)
    }
    val ops = new Ops
    val w = workload(a)
    val out = new File(a.work, "out")
    val code = try {
      val lines = if (a.trace) traced(a, w, ops, mainNs, jvmToMainS) else untraced(a, w, ops, mainNs, jvmToMainS)
      lines.foreach(println)
      0
    } catch { case e: Throwable =>
      System.err.println("perfbench: run aborted")
      e.printStackTrace()
      1
    } finally {
      SparkSession.getActiveSession.foreach(_.stop())
      Option(out.listFiles()).toSeq.flatten
        .filter(_.getName.contains(s"-${ProcessHandle.current().pid()}"))
        .foreach(f => org.apache.commons.io.FileUtils.deleteQuietly(f))
    }
    sys.exit(code)
  }

  /** Set-up, from the JVM's start: session, input-present check, compile and one
    * checked warm-up iteration. Input generation is timed apart and excluded. */
  private def setUp(a: Args, w: Workload, ops: Ops, mainNs: Long,
                    jvmToMainS: Double): (SparkSession, Double, InputInfo) = {
    val (spark, sessionS) = timed(session(a.work))
    val (info, genS) = timed(w.input(spark))
    w.prepare(spark)
    val (_, firstS) = timed(checked(w, spark, ops, Off, -1))
    val s = jvmToMainS + (System.nanoTime() - mainNs) / 1e9 - genS
    System.err.println(f"[perfbench] set-up: $s%.2f s (JVM start $jvmToMainS%.2f s, session $sessionS%.2f s, " +
      f"first iteration $firstS%.2f s; generation $genS%.2f s apart)")
    (spark, s, info)
  }

  /** The workload's untimed, checked warm-up iterations. */
  private def warmUp(w: Workload, spark: SparkSession, ops: Ops): Unit =
    for (n <- 0 until w.warmIterations) {
      val (wall, cpu, _) = checked(w, spark, ops, Off, -10 - n)
      System.err.println(f"[perfbench] warm-up $n: $wall%.3f s wall, $cpu%.2f s cpu, jit ${jitMs()} ms")
    }

  private def untraced(a: Args, w: Workload, ops: Ops, mainNs: Long, jvmToMainS: Double): Seq[String] = {
    val (spark, setupS, info) = setUp(a, w, ops, mainNs, jvmToMainS)
    warmUp(w, spark, ops)
    val deadline = System.nanoTime() + a.seconds * 1000000000L
    val iters = Vector.newBuilder[(Double, Double, Map[String, Double])]
    var k = 0
    while (k == 0 || System.nanoTime() < deadline) {
      val (wall, cpu, steps) = checked(w, spark, ops, Off, k)
      iters += ((wall, cpu, steps))
      System.err.println(f"[perfbench] iteration $k: $wall%.3f s wall, $cpu%.2f s cpu, jit ${jitMs()} ms, " +
        steps.toSeq.sorted.map { case (n, t) => f"$n $t%.3f" }.mkString(", "))
      k += 1
    }
    val all = iters.result()
    val probe = clockProbeS()
    w.afterRun(spark, ops)
    val wall = median(all.map(_._1))
    val cpu = median(all.map(_._2))
    val stepRates = all.head._3.keys.toSeq.sorted.map(s =>
      (s"${s}_rows_per_s", "1/s", w.rows / median(all.map(_._3(s)))))
    val detail = Seq(("warm_iterations", "count", w.warmIterations.toDouble), ("iterations", "count", all.size.toDouble),
      ("iteration_s", "s", wall),
      ("generate_s", "s", info.generateS), ("input_bytes", "B", info.bytes.toDouble),
      ("clock_probe_s", "s", probe)) ++ stepRates
    val e2e = Map("setup_s" -> setupS, "rows_per_s" -> w.rows / wall,
      "rows_per_cpu_s" -> w.rows / cpu)
    Seq(s"""{"workload":"${a.workload}","seed":${a.seed},"detail":${metricsJson(detail)}}""",
      result(ops, EndToEnd.map { case (n, u) => (n, u, e2e(n)) }))
  }

  private def traced(a: Args, w: Workload, ops: Ops, mainNs: Long, jvmToMainS: Double): Seq[String] = {
    val (spark, _, info) = setUp(a, w, ops, mainNs, jvmToMainS)
    warmUp(w, spark, ops)
    val recorder = new SparkRecorder(spark)
    val spans = new Spans
    // untraced and traced iterations alternate, so both sides see the same host state
    val deadline = System.nanoTime() + a.seconds * 1000000000L
    val plain = Vector.newBuilder[Double]
    val tracedIters = Vector.newBuilder[(Double, SparkWindow)]
    var k = 0
    while (k < 2 || System.nanoTime() < deadline) {
      if (k % 2 == 0) plain += measured(w, spark, ops, Off, k)._1
      else {
        spans.trace = k
        val ((wall, _, _), win) = recorder.window(spans("iteration")(measured(w, spark, ops, spans, k)))
        tracedIters += wall -> win
      }
      w.afterIteration(spark, ops)
      k += 1
    }
    w.afterRun(spark, ops)
    spans.trace = -1
    val corpus = w match {
      case c: CorpusWorkload => c
      case _ => new CorpusWorkload(Inputs.cleanCorpus(a.seed, CorpusRows), a.work)
    }
    val docs = w match {
      case d: DocsWorkload => d
      case _ => new DocsWorkload(a.seed, Docs, a.work)
    }
    val corpusInfo = corpus.input(spark)
    val docsInfo = docs.input(spark)
    docs.prepare(spark)
    val probes = corpus.probe(spark, spans) ++ docs.probe(spark, spans, recorder)

    val tr = tracedIters.result()
    val wins = tr.map(_._2)
    def med(f: SparkWindow => Double) = median(wins.map(f))
    val layers: Seq[(String, Double)] = Seq(
      "spark.analysis_s" -> med(_.analysisMs / 1e3),
      "spark.optimization_s" -> med(_.optimizationMs / 1e3),
      "spark.planning_s" -> med(_.planningMs / 1e3),
      "spark.codegen_compile_s" -> med(_.codegenCompileNs / 1e9),
      "spark.jobs" -> med(_.jobs.toDouble),
      "spark.stages" -> med(_.stages.toDouble),
      "spark.tasks" -> med(_.tasks.toDouble),
      "spark.executor_cpu_s" -> med(_.cpuNs / 1e9),
      "spark.executor_run_s" -> med(_.runMs / 1e3),
      "spark.gc_s" -> med(_.gcMs / 1e3),
      "spark.busy_frac" -> median(tr.map { case (wall, win) => win.runMs / 1e3 / (wall * Cores) }),
      "spark.peak_exec_mem_mb" -> med(_.peakMemBytes / 1048576.0),
      "spark.input_bytes" -> med(_.inputBytes.toDouble),
      "spark.shuffle_write_bytes" -> med(_.shuffleWriteBytes.toDouble),
      "spark.shuffle_read_bytes" -> med(_.shuffleReadBytes.toDouble),
      "spark.spill_bytes" -> med(_.spillBytes.toDouble),
      "spark.output_bytes" -> med(_.outputBytes.toDouble),
      "spark.task_skew" -> med(_.taskSkew),
      "corpus.generate_s" -> corpusInfo.generateS,
      "corpus.bytes" -> corpusInfo.bytes.toDouble,
      "docs.generate_s" -> docsInfo.generateS,
      "docs.bytes" -> docsInfo.bytes.toDouble) ++
      probes.toSeq.sortBy(_._1) :+
      ("trace.overhead_frac" -> (median(tr.map(_._1)) / median(plain.result()) - 1))
    require(layers.map(_._1).toSet == PerLayer.map(_._1).toSet,
      s"per-layer metric set drifted: ${layers.map(_._1).toSet.diff(PerLayer.map(_._1).toSet)}")

    val traceDir = new File(a.work, "trace")
    traceDir.mkdirs()
    val artifact = new File(traceDir, s"${a.workload}-${a.seed}.json")
    val queries = wins.zipWithIndex.flatMap { case (win, i) => win.queries.map(i -> _) }.map { case (i, q) =>
      s"""{"iteration":$i,"func":"${q.funcName}","analysis_ms":${q.analysisMs},""" +
        s""""optimization_ms":${q.optimizationMs},"planning_ms":${q.planningMs},"exec_ns":${q.execNs}}"""
    }
    Files.write(artifact.toPath, (s"""{"workload":"${a.workload}","seed":${a.seed},""" +
      s""""input":{"path":"${new File(info.path).getName}","bytes":${info.bytes}},""" +
      s""""layers":${metricsJson(layers.map { case (n, v) => (n, unitOf(n), v) })},""" +
      s""""queries":${queries.mkString("[", ",\n", "]")},""" +
      s""""spans":${spans.toJson}}""" + "\n").getBytes(UTF_8))
    System.err.println(s"[perfbench] trace written to $artifact")
    Seq(result(ops, PerLayer.map { case (n, u) => (n, u, layers.toMap.apply(n)) }))
  }

  /** Per-layer metrics, printed with `--trace 1`: (name, unit). */
  val PerLayer: Seq[(String, String)] = Seq(
    "spark.analysis_s" -> "s", "spark.optimization_s" -> "s", "spark.planning_s" -> "s",
    "spark.codegen_compile_s" -> "s", "spark.jobs" -> "count", "spark.stages" -> "count",
    "spark.tasks" -> "count", "spark.executor_cpu_s" -> "s", "spark.executor_run_s" -> "s",
    "spark.gc_s" -> "s", "spark.busy_frac" -> "ratio", "spark.peak_exec_mem_mb" -> "MB",
    "spark.input_bytes" -> "B", "spark.shuffle_write_bytes" -> "B", "spark.shuffle_read_bytes" -> "B",
    "spark.spill_bytes" -> "B", "spark.output_bytes" -> "B", "spark.task_skew" -> "ratio",
    "corpus.generate_s" -> "s", "corpus.bytes" -> "B", "docs.generate_s" -> "s", "docs.bytes" -> "B",
    "suite.compile_ms" -> "ms",
    "pipeline.run_s" -> "s", "pipeline.scan_s" -> "s", "pipeline.verdicts_s" -> "s",
    "pipeline.violations_s" -> "s", "pipeline.duplicates_s" -> "s", "pipeline.stats_s" -> "s",
    "pipeline.histogram_s" -> "s", "pipeline.manifest_ms" -> "ms", "pipeline.overlap_gain" -> "ratio",
    "pipeline.failing_rows" -> "count", "pipeline.violation_rows" -> "count",
    "pipeline.duplicate_keys" -> "count",
    "json.jackson_ns_per_doc" -> "ns", "json.parse_ns_per_doc" -> "ns", "json.render_ns_per_doc" -> "ns",
    "json.doc_bytes_mean" -> "B",
    "validator.is_valid_ns_per_doc" -> "ns", "validator.violations_ns_per_doc" -> "ns",
    "validator.report_ns_per_doc" -> "ns", "validator.errors_per_invalid_doc" -> "count",
    "regex.find_ns_per_call" -> "ns",
    "functions.schema_compile_ms" -> "ms", "functions.engine_overhead_frac" -> "ratio",
    "docs.is_valid_pass_s" -> "s", "docs.validate_pass_s" -> "s",
    "trace.overhead_frac" -> "ratio")

  private def unitOf(n: String): String = PerLayer.toMap.getOrElse(n, "")
}
