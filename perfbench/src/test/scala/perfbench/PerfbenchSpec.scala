package perfbench

import graft.corpus.CorpusGen
import graft.json.Json
import graft.pipeline.ValidationPipeline
import graft.rules.JsonSchemaValidator
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

class PerfbenchSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]").appName("perfbench-spec")
    .config("spark.sql.shuffle.partitions", 2).config("spark.ui.enabled", "false").getOrCreate()
  private lazy val tmp = Files.createTempDirectory("perfbench-spec").toFile

  override def afterAll(): Unit = {
    spark.stop()
    org.apache.commons.io.FileUtils.deleteQuietly(tmp)
  }

  test("document generator: same seed gives identical bytes, another seed different bytes") {
    val a = (0 until 500).map(DocGen.doc(7, _))
    assert(a == (0 until 500).map(DocGen.doc(7, _)))
    assert((0 until 500).count(i => DocGen.doc(8, i) != a(i)) == 500)
    assert(DocGen.expectedValid(7, 500) == DocGen.expectedValid(7, 500))
  }

  test("document generator: planted verdicts match the validator, every kind is planted") {
    val schema = Json.parse(DocGen.Schema)
    for (seed <- Seq(1L, 2L, 3L); i <- 0 until 1500) {
      val planted = DocGen.plant(seed, i)
      val valid = JsonSchemaValidator.isValid(Json.parse(DocGen.doc(seed, i)), schema)
      assert(valid == (planted == 0), s"seed $seed doc $i kind $planted: ${DocGen.doc(seed, i)}")
    }
    assert((0 until 3000).map(DocGen.plant(1, _)).toSet == (0 to DocGen.Kinds).toSet)
  }

  test("corpus generator: same seed gives identical rows, another seed different rows") {
    def rows(seed: Long) = CorpusGen.generate(spark, Inputs.dirtyCorpus(seed, 300))
      .orderBy("part", "doc_id", "n_tok").collect().map(_.toString).toSeq
    assert(rows(1) == rows(1))
    assert(rows(1) != rows(2))
  }

  test("expected-count arithmetic agrees with a brute-force count over the injection rules") {
    for (rows <- Seq(1L, 2L, 97L, 1000L, 4096L); seed <- Seq(1L);
         cfg <- Seq(Inputs.cleanCorpus(seed, rows), Inputs.dirtyCorpus(seed, rows),
                    CorpusGen.Config(rows, numPartitions = 6, badTokenEvery = 4, badNtokEvery = 6,
                      badSourceEvery = 9, dupEvery = 2))) {
      val e = CorpusExpected.of(cfg)
      val idx = (0L until rows)
      def hit(i: Long, k: Long) = k > 0 && i > 0 && i % k == 0
      val kinds = Seq(cfg.badTokenEvery, cfg.badNtokEvery, cfg.badSourceEvery)
      for (p <- 0 until cfg.numPartitions) {
        val inPart = idx.filter(_ % cfg.numPartitions == p)
        assert(e.partRows(p) == inPart.size, cfg)
        assert(e.failingRows(p) == inPart.count(i => kinds.exists(hit(i, _))), cfg)
        assert(e.violationRows(p) == inPart.map(i => kinds.count(hit(i, _))).sum, cfg)
      }
      val ids = idx.map(i => if (hit(i, cfg.dupEvery)) i - 1 else i)
      assert(e.duplicateKeys == ids.groupBy(identity).count(_._2.size > 1), cfg)
    }
  }

  test("expected-count arithmetic agrees with a direct count of a pipeline run on a tiny corpus") {
    val cfg = Inputs.dirtyCorpus(5, 3000).copy(maxTok = 8)
    val path = s"$tmp/corpus"
    CorpusGen.writePartitioned(CorpusGen.generate(spark, cfg), path)
    val run = ValidationPipeline.run(spark, path, Inputs.Suite, s"$tmp/out", "spec")
    val e = CorpusExpected.of(cfg)
    assert(run.verdicts.map(_.nRows) == e.partRows)
    assert(run.verdicts.map(_.nViolations) == e.violationRows)
    assert(run.globalDuplicateKeys == e.duplicateKeys)
    val written = spark.read.parquet(s"$tmp/out/violations").groupBy("part")
      .agg(count(lit(1)), countDistinct(col("doc_id"))).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(written == e.partRows.indices.map(p => p -> (e.violationRows(p), e.failingRows(p))).toMap)
  }

  test("span self time subtracts the union of child intervals") {
    val spans = new Spans
    spans("parent") { spans("a")(Thread.sleep(30)); spans("b")(Thread.sleep(30)) }
    val all = spans.all
    val parent = all.find(_.name == "parent").get
    val kids = all.filter(_.parent == parent.id)
    assert(kids.map(_.name).toSet == Set("a", "b"))
    assert(spans.selfNs(parent) == parent.durNs - kids.map(_.durNs).sum)
    kids.foreach(k => assert(spans.selfNs(k) == k.durNs))
  }

  test("every metric name is well formed and BENCHMARK.json matches the harness") {
    val names = Main.EndToEnd.map(_._1) ++ Main.PerLayer.map(_._1)
    names.foreach(n => assert(n.matches("[A-Za-z0-9_.-]+") && n.length <= 64, n))
    assert(names.distinct.size == names.size)
    val bench = Json.parse(new String(Files.readAllBytes(
      new java.io.File(sys.props("perfbench.root"), "BENCHMARK.json").toPath), "UTF-8")).asInstanceOf[graft.json.JObj]
    def entries(key: String): Seq[(String, String)] =
      bench.get(key).get.asInstanceOf[graft.json.JArr].items.map { m =>
        val o = m.asInstanceOf[graft.json.JObj]
        def s(k: String) = o.get(k).get.asInstanceOf[graft.json.JStr].value
        s("name") -> s("unit")
      }
    assert(entries("end_to_end") == Main.EndToEnd)
    assert(entries("per_layer") == Main.PerLayer)
    val workloads = bench.get("workloads").get.asInstanceOf[graft.json.JArr].items.map(
      _.asInstanceOf[graft.json.JObj].get("name").get.asInstanceOf[graft.json.JStr].value)
    assert(workloads == Main.Workloads)
  }
}
