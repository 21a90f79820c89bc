package perfbench

import graft.corpus.CorpusGen
import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.functions.col

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, StandardCopyOption}

/** Size and location facts of one generated input, read from its `_meta.properties`. */
final case class InputInfo(path: String, generateS: Double, bytes: Long)

/**
 * Seeded, cached benchmark inputs. Every input lives under a directory named
 * by its kind, size and a digest of its full generator config plus a
 * generator version, so a changed config never reuses a stale copy.
 * Generation is timed on its own and never counted in set-up time.
 */
object Inputs {
  val CorpusVersion = "corpusgen-v2"
  val Parts = 8
  /** Sequences of 1 to 128 tokens: decode and the element-range rule scale with tokens. */
  val MaxTok = 128
  /** Document files: eight tasks per core in a pass, so a core that the host
    * slows for a while delays one short task rather than a quarter of the pass. */
  val DocParts = 32

  /** The benchmark's rule suite: the paper's sequence constraints. */
  val Suite: String =
    """{ "$defs": { "tokenRange": { "minimum": 0, "exclusiveMaximum": 50257 } },
      | "rules": {
      |   "doc_id": { "type": "string", "required": true, "pattern": "^doc-[0-9]{12}$" },
      |   "tokens": { "type": "array", "minItems": 1, "maxItems": 512,
      |               "items": { "$ref": "#/$defs/tokenRange" } },
      |   "n_tok":  { "type": "integer", "minimum": 1, "maximum": 513,
      |               "equalsExpr": "size(tokens)" },
      |   "source": { "enum": ["web", "books", "code", "wiki"] }
      |}}""".stripMargin

  /** About 0.2% bad rows, as in the legacy scaling job; the corpus the
    * `json_docs` traced run probes the pipeline layers on. */
  def cleanCorpus(seed: Long, rows: Long): CorpusGen.Config =
    CorpusGen.Config(rows, seed, maxTok = MaxTok, numPartitions = Parts,
      badSourceEvery = 1000, badTokenEvery = 997)

  /** `corpus_dirty`: about a fifth of rows break a row rule, plus duplicate keys. */
  def dirtyCorpus(seed: Long, rows: Long): CorpusGen.Config =
    CorpusGen.Config(rows, seed, maxTok = MaxTok, numPartitions = Parts,
      dupEvery = 23, badNtokEvery = 13, badTokenEvery = 17, badSourceEvery = 19)

  def digest(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes(UTF_8))
      .take(6).map(b => f"$b%02x").mkString

  def corpusDir(work: File, cfg: CorpusGen.Config): File =
    new File(work, s"inputs/corpus-${cfg.rows}-${digest(s"$cfg|$CorpusVersion")}")

  def docsDir(work: File, seed: Long, n: Long): File =
    new File(work, s"inputs/docs-$n-${digest(s"$seed|$n|$DocParts|${DocGen.Version}")}")

  def corpus(spark: SparkSession, work: File, cfg: CorpusGen.Config): InputInfo =
    ensure(corpusDir(work, cfg)) { tmp =>
      // one file per partition directory: a table of small files would make
      // task scheduling, not validation, the measured cost
      CorpusGen.writePartitioned(CorpusGen.generate(spark, cfg).repartition(col("part")), tmp.getPath)
    }

  def docs(spark: SparkSession, work: File, seed: Long, n: Long): InputInfo =
    ensure(docsDir(work, seed, n)) { tmp =>
      spark.range(0, n, 1, DocParts)
        .map(i => DocGen.doc(seed, i))(Encoders.STRING).toDF("doc")
        .write.parquet(tmp.getPath)
    }

  /** The input-present check of set-up: the cached copy must be complete. */
  def present(dir: File): Option[InputInfo] = {
    val meta = new File(dir, "_meta.properties")
    if (!meta.isFile) None
    else {
      val props = new java.util.Properties()
      val in = new java.io.FileInputStream(meta)
      try props.load(in) finally in.close()
      Some(InputInfo(dir.getPath, props.getProperty("generate_s").toDouble,
        props.getProperty("bytes").toLong))
    }
  }

  private def ensure(dir: File)(generate: File => Unit): InputInfo =
    present(dir).getOrElse {
      val tmp = new File(dir.getPath + s".tmp-${ProcessHandle.current().pid()}")
      val t0 = System.nanoTime()
      generate(tmp)
      val genS = (System.nanoTime() - t0) / 1e9
      val bytes = Files.walk(tmp.toPath).filter(Files.isRegularFile(_))
        .mapToLong(Files.size(_)).sum()
      Files.write(new File(tmp, "_meta.properties").toPath,
        s"generate_s=$genS\nbytes=$bytes\n".getBytes(UTF_8))
      Files.move(tmp.toPath, dir.toPath, StandardCopyOption.ATOMIC_MOVE)
      present(dir).get
    }
}

/**
 * What a correct validation run over a `CorpusGen` corpus must report,
 * derived only from the generator's injection periods. Row `i` lives in
 * partition `i % numPartitions`; an injection of period `k` hits the rows
 * `i > 0` with `i % k == 0`; each hit breaks exactly one row rule, and a
 * duplicate injection copies the previous row's key.
 */
final case class CorpusExpected(partRows: Vector[Long], failingRows: Vector[Long],
                                violationRows: Vector[Long], duplicateKeys: Long) {
  def rows: Long = partRows.sum
}

object CorpusExpected {
  private def gcd(a: Long, b: Long): Long = if (b == 0) a else gcd(b, a % b)
  private def lcm(a: Long, b: Long): Long = a / gcd(a, b) * b

  /** Count of i in [lo, hi) with i % m == r (0 <= r < m). */
  private def residues(lo: Long, hi: Long, r: Long, m: Long): Long = {
    def below(n: Long) = if (n <= r) 0L else (n - 1 - r) / m + 1
    below(hi) - below(lo)
  }

  /** Count of i in [1, rows) with i % parts == p and i % period == 0. */
  private def hits(rows: Long, parts: Int, p: Int, period: Long): Long = {
    val m = lcm(parts, period)
    (0L until m by period).find(_ % parts == p) match {
      case Some(r) => residues(1, rows, r, m)
      case None    => 0L
    }
  }

  def of(cfg: CorpusGen.Config): CorpusExpected = {
    require(cfg.dupEvery != 1, "a duplicate period of 1 chains keys; the key count formula needs >= 2")
    val periods = Seq(cfg.badTokenEvery, cfg.badNtokEvery, cfg.badSourceEvery).filter(_ > 0)
    // inclusion-exclusion over the non-empty subsets of row-rule injections
    val subsets = (1 until (1 << periods.size)).map { mask =>
      val chosen = periods.indices.filter(j => (mask & (1 << j)) != 0).map(periods)
      (chosen.foldLeft(1L)(lcm), if (chosen.size % 2 == 1) 1L else -1L)
    }
    val parts = (0 until cfg.numPartitions).toVector
    CorpusExpected(
      partRows = parts.map(p => residues(0, cfg.rows, p, cfg.numPartitions)),
      failingRows = parts.map(p => subsets.map { case (l, sign) => sign * hits(cfg.rows, cfg.numPartitions, p, l) }.sum),
      violationRows = parts.map(p => periods.map(k => hits(cfg.rows, cfg.numPartitions, p, k)).sum),
      duplicateKeys = if (cfg.dupEvery > 0) (cfg.rows - 1) / cfg.dupEvery else 0L)
  }
}
