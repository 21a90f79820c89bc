package perfbench

import graft.corpus.CorpusGen
import graft.functions.CompiledJsonSchema
import graft.json.{JArr, JObj, JStr, JVal, Json}
import graft.pipeline.{Manifest, TableChecks, ValidationPipeline}
import graft.rules.{JsonSchemaValidator, PosixRegex, SuiteCompiler}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8

/** Operation accounting: an operation is a pipeline run, a pass or a query. */
final class Ops {
  var attempted = 0L
  var failed = 0L

  /** Run one operation; a throw counts as a failure and yields None. */
  def attempt[A](name: String)(body: => A): Option[A] = {
    attempted += 1
    try Some(body)
    catch { case e: Exception =>
      failed += 1
      System.err.println(s"[perfbench] $name threw: $e")
      None
    }
  }

  /** Record the output check of an operation that returned. */
  def verify(name: String, ok: Boolean, detail: => String = ""): Unit =
    if (!ok) {
      failed += 1
      System.err.println(s"[perfbench] $name: output check failed $detail")
    }
}

/** One benchmark workload: its inputs, its set-up and one closed-loop iteration. */
trait Workload {
  /** Rows (sequences or documents) one iteration processes. */
  def rows: Long
  /** Untimed iterations run after set-up, until the JIT has compiled the hot
    * paths; measuring earlier puts the JIT's schedule into the spread. A count
    * rather than a time, so a run on a slowed host starts its window just as warm. */
  def warmIterations: Int
  /** Generate or find the cached input. */
  def input(spark: SparkSession): InputInfo
  /** Set-up after the session exists: input-present check and compile. */
  def prepare(spark: SparkSession): Unit
  /** One iteration; returns wall seconds per named step. */
  def iteration(spark: SparkSession, ops: Ops, spans: Spans, k: Int): Map[String, Double]
  /** Untimed output check of the iteration that just ran. */
  def afterIteration(spark: SparkSession, ops: Ops): Unit = ()
  /** Untimed check once per run, after the measured iterations; may run Spark jobs. */
  def afterRun(spark: SparkSession, ops: Ops): Unit = ()
}

object Workload {
  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Median over `rounds` timed passes of ns per item, after untimed passes
    * for at least `warmS` seconds so the JIT has compiled the path. */
  def nsPerItem[A](items: IndexedSeq[A], warmS: Double = 0.5, rounds: Int = 5)(f: A => Any): Double = {
    var sink = 0
    def pass(): Long = {
      val t0 = System.nanoTime()
      var i = 0
      while (i < items.size) { sink += f(items(i)).hashCode; i += 1 }
      System.nanoTime() - t0
    }
    val warmEnd = System.nanoTime() + (warmS * 1e9).toLong
    while (System.nanoTime() < warmEnd) pass()
    val r = median((0 until rounds).map(_ => pass().toDouble / items.size))
    if (sink == 42) System.err.print("")
    r
  }
}

/**
 * `corpus_dirty`: a fresh `ValidationPipeline.run` (verdicts,
 * violation write, manifest, global doc_id uniqueness), then column stats and
 * the n_tok histogram, over a `CorpusGen` corpus.
 */
final class CorpusWorkload(cfg: CorpusGen.Config, work: File) extends Workload {
  import Workload._

  val expected: CorpusExpected = CorpusExpected.of(cfg)
  private val path = Inputs.corpusDir(work, cfg).getPath
  private val out = new File(work, s"out/corpus-${ProcessHandle.current().pid()}").getPath
  private var lastRun: Option[ValidationPipeline.RunResult] = None

  def rows: Long = cfg.rows
  /** On a 4-vCPU host the second iteration after set-up is within a tenth of the ones after it. */
  def warmIterations: Int = 1
  def input(spark: SparkSession): InputInfo = Inputs.corpus(spark, work, cfg)

  def prepare(spark: SparkSession): Unit = {
    require(Inputs.present(new File(path)).isDefined, s"input missing: $path")
    SuiteCompiler.compile(Inputs.Suite)
  }

  def iteration(spark: SparkSession, ops: Ops, spans: Spans, k: Int): Map[String, Double] = {
    val (run, runS) = timed(spans("pipeline.run") {
      ops.attempt("pipeline.run")(ValidationPipeline.run(spark, path, Inputs.Suite, out, s"iter-$k"))
    })
    lastRun = run
    val df = spark.read.parquet(path)
    val (_, statsS) = timed(spans("pipeline.stats") {
      ops.attempt("columnStats")(TableChecks.columnStats(df, Seq("n_tok", "source")).collect())
        .foreach(r => ops.verify("columnStats", r.length == 1 && r(0).getAs[Long]("n_rows") == rows))
    })
    val (_, histS) = timed(spans("pipeline.histogram") {
      ops.attempt("histogram")(TableChecks.histogram(df, "n_tok", 1, 129, 64).collect())
        .foreach(r => ops.verify("histogram", r.map(_.getLong(1)).sum == rows))
    })
    Map("run" -> runS, "stats" -> statsS, "histogram" -> histS)
  }

  /** Per-partition (violation rows, failing rows) as written by the pipeline. */
  private def writtenViolations(spark: SparkSession, dir: String): Map[Int, (Long, Long)] =
    spark.read.parquet(s"$dir/violations").groupBy("part")
      .agg(count(lit(1)), countDistinct(col("doc_id"))).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap

  private def expectedViolations: Map[Int, (Long, Long)] =
    expected.violationRows.indices.collect {
      case p if expected.violationRows(p) > 0 => p -> (expected.violationRows(p), expected.failingRows(p))
    }.toMap

  private def runMatches(r: ValidationPipeline.RunResult): Boolean =
    r.resumedSkipped == 0 && !r.globalLoaded && r.globalDuplicateKeys == expected.duplicateKeys &&
      r.verdicts.map(_.part) == expected.partRows.indices &&
      r.verdicts.forall { e =>
        e.nRows == expected.partRows(e.part) && e.nViolations == expected.violationRows(e.part) &&
          e.passAll == (expected.failingRows(e.part) == 0)
      }

  override def afterIteration(spark: SparkSession, ops: Ops): Unit =
    lastRun.foreach(r => ops.verify("pipeline.run", runMatches(r), s"run=$r expected=$expected"))

  /** The last run's written violations, read back once per run (a Spark job). */
  override def afterRun(spark: SparkSession, ops: Ops): Unit =
    ops.attempt("violations read-back")(writtenViolations(spark, out)).foreach(w =>
      ops.verify("violations read-back", w == expectedViolations, s"written=$w expected=$expected"))

  /** Each pipeline step once on its own, serially, for the traced run's layer metrics. */
  def probe(spark: SparkSession, spans: Spans): Map[String, Double] = {
    val compiled = SuiteCompiler.compile(Inputs.Suite)
    val compileMs = median((0 until 20).map(_ => timed(SuiteCompiler.compile(Inputs.Suite))._2 * 1e3))
    val probeOut = s"$out-probe"
    val df = spark.read.parquet(path)
    def step(name: String)(body: => Any): Double = timed(spans(s"pipeline.$name")(body))._2
    val scanS = step("scan")(df.agg(sum(size(col("tokens"))), count(col("doc_id")), sum(col("n_tok")),
      count(col("source"))).collect())
    val verdictsS = step("verdicts")(compiled.verdicts(df, Seq("part")).collect())
    val violationsS = step("violations")(compiled.violations(df, "doc_id", Seq("part")).write
      .mode("overwrite").partitionBy("part").parquet(s"$probeOut/violations"))
    val duplicatesS = step("duplicates")(TableChecks.duplicates(df, "doc_id").count())
    val statsS = step("stats")(TableChecks.columnStats(df, Seq("n_tok", "source")).collect())
    val histogramS = step("histogram")(TableChecks.histogram(df, "n_tok", 1, 129, 64).collect())
    val runS = step("run") { lastRun = Some(ValidationPipeline.run(spark, path, Inputs.Suite, out, "probe")) }
    val manifestPath = s"$out/manifest.json"
    val manifestMs = median((0 until 20).map { _ =>
      timed(spans("pipeline.manifest") {
        val m = Manifest.loadOrEmpty(manifestPath, "probe", compiled.suiteHash)
        Manifest.save(m, s"$probeOut/manifest.json")
      })._2 * 1e3
    })
    val written = writtenViolations(spark, out)
    Map(
      "suite.compile_ms" -> compileMs,
      "pipeline.run_s" -> runS,
      "pipeline.scan_s" -> scanS,
      "pipeline.verdicts_s" -> verdictsS,
      "pipeline.violations_s" -> violationsS,
      "pipeline.duplicates_s" -> duplicatesS,
      "pipeline.stats_s" -> statsS,
      "pipeline.histogram_s" -> histogramS,
      "pipeline.manifest_ms" -> manifestMs,
      "pipeline.overlap_gain" -> (verdictsS + violationsS + duplicatesS) / runS,
      "pipeline.failing_rows" -> written.values.map(_._2).sum.toDouble,
      "pipeline.violation_rows" -> written.values.map(_._1).sum.toDouble,
      "pipeline.duplicate_keys" -> lastRun.map(_.globalDuplicateKeys.toDouble).getOrElse(Double.NaN))
  }
}

/**
 * `json_docs`: two passes over a one-column parquet of seeded JSON documents,
 * `count_if(jsonschema_is_valid)` and then `jsonschema_validate` with the
 * report text length-summed, both through a compile-once schema handle.
 */
final class DocsWorkload(seed: Long, n: Long, work: File) extends Workload {
  import Workload._

  private val path = Inputs.docsDir(work, seed, n).getPath
  private var compiled: CompiledJsonSchema = _
  lazy val expectedValid: Long = DocGen.expectedValid(seed, n)

  def rows: Long = n
  /** On a 4-vCPU host an iteration keeps getting faster until about the fifth after set-up. */
  def warmIterations: Int = 4
  def input(spark: SparkSession): InputInfo = Inputs.docs(spark, work, seed, n)

  def prepare(spark: SparkSession): Unit = {
    require(Inputs.present(new File(path)).isDefined, s"input missing: $path")
    compiled = CompiledJsonSchema.compile(DocGen.Schema)
    expectedValid
  }

  private def isValidPass(spark: SparkSession): Long =
    spark.read.parquet(path).agg(count_if(compiled.isValid(col("doc")))).collect()(0).getLong(0)

  private def validatePass(spark: SparkSession): Row =
    spark.read.parquet(path).select(compiled.validate(col("doc")).as("r"))
      .agg(sum(length(col("r"))), count_if(col("r") === "[]")).collect()(0)

  def iteration(spark: SparkSession, ops: Ops, spans: Spans, k: Int): Map[String, Double] = {
    val (_, validS) = timed(spans("functions.is_valid_pass") {
      ops.attempt("is_valid pass")(isValidPass(spark))
        .foreach(v => ops.verify("is_valid pass", v == expectedValid, s"$v != $expectedValid"))
    })
    val (_, reportS) = timed(spans("functions.validate_pass") {
      ops.attempt("validate pass")(validatePass(spark))
        .foreach(r => ops.verify("validate pass", r.getLong(1) == expectedValid, s"$r"))
    })
    Map("is_valid" -> validS, "validate" -> reportS)
  }

  /** A sample of report strings must byte-match the validator called on the driver. */
  override def afterRun(spark: SparkSession, ops: Ops): Unit = {
    val schema = Json.parse(DocGen.Schema)
    ops.attempt("report sample") {
      spark.read.parquet(path).where(pmod(xxhash64(col("doc")), lit(97L)) === 0)
        .select(col("doc"), compiled.validate(col("doc"))).collect()
    }.foreach { rows =>
      val bad = rows.count(r => JsonSchemaValidator.violationsJson(Json.parse(r.getString(0)), schema) != r.getString(1))
      ops.verify("report sample", rows.nonEmpty && bad == 0, s"${rows.length} sampled, $bad differ")
    }
  }

  /** Driver-side single-threaded costs of each scalar layer, plus each of the two passes once, traced. */
  def probe(spark: SparkSession, spans: Spans, recorder: SparkRecorder,
            sampleSize: Int = 1000): Map[String, Double] = {
    val sample = (0 until sampleSize).map(i => DocGen.doc(seed, i).getBytes(UTF_8))
    val trees = sample.map(Json.parseBytes)
    val schema = Json.parse(DocGen.Schema)
    val factory = new com.fasterxml.jackson.core.JsonFactory()
    val jacksonNs = spans("json.jackson")(nsPerItem(sample) { b =>
      val p = factory.createParser(b)
      var t = 0
      try while (p.nextToken() != null) t += 1 finally p.close()
      t
    })
    val parseNs = spans("json.parse")(nsPerItem(sample)(Json.parseBytes))
    val renderNs = spans("json.render")(nsPerItem(trees)(Json.render))
    val isValidNs = spans("validator.is_valid")(nsPerItem(trees)(JsonSchemaValidator.isValid(_, schema)))
    val violationsNs = spans("validator.violations")(nsPerItem(trees)(JsonSchemaValidator.violations(_, schema)))
    val reportNs = spans("validator.report")(nsPerItem(trees)(JsonSchemaValidator.violationsJson(_, schema)))
    val errs = trees.map(JsonSchemaValidator.violations(_, schema).size).filter(_ > 0)

    def str(v: Option[JVal]): Seq[String] = v.toSeq.flatMap {
      case JStr(s) => Seq(s)
      case JArr(xs) => xs.collect { case JStr(s) => s }
      case _ => Nil
    }
    val tagPattern = "^[a-z][a-z0-9_]{1,15}$"
    val regexCalls = trees.flatMap {
      case o: JObj =>
        str(o.get("tags")).map(tagPattern -> _) ++
          str(o.get("email")).map(JsonSchemaValidator.formatPattern("email").get._1 -> _) ++
          str(o.get("uuid")).map(JsonSchemaValidator.formatPattern("uuid").get._1 -> _)
      case _ => Nil
    }
    val regexNs = spans("regex.find")(nsPerItem(regexCalls) { case (p, s) => PosixRegex.find(p, s) })
    val compileMs = median((0 until 20).map(_ => timed(CompiledJsonSchema.compile(DocGen.Schema))._2 * 1e3))

    val (validS, win) = recorder.window(timed(spans("functions.is_valid_pass")(isValidPass(spark)))._2)
    val reportS = timed(spans("functions.validate_pass")(validatePass(spark)))._2
    Map(
      "json.jackson_ns_per_doc" -> jacksonNs,
      "json.parse_ns_per_doc" -> parseNs,
      "json.render_ns_per_doc" -> renderNs,
      "json.doc_bytes_mean" -> sample.map(_.length.toDouble).sum / sample.size,
      "validator.is_valid_ns_per_doc" -> isValidNs,
      "validator.violations_ns_per_doc" -> violationsNs,
      "validator.report_ns_per_doc" -> reportNs,
      "validator.errors_per_invalid_doc" -> errs.sum.toDouble / math.max(errs.size, 1),
      "regex.find_ns_per_call" -> regexNs,
      "functions.schema_compile_ms" -> compileMs,
      "docs.is_valid_pass_s" -> validS,
      "docs.validate_pass_s" -> reportS,
      "functions.engine_overhead_frac" ->
        (1 - n * (parseNs + isValidNs) / win.cpuNs.toDouble))
  }
}
