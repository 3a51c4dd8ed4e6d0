package graft

import graft.extract.Synth
import graft.ns.Registry
import graft.pipeline.{Pipeline, RdfPipeline}
import graft.rdf.RdfSource
import graft.sinks.{Snapshot, TtlSink}
import graft.summarize.Normalize
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, functions => F}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The summary-first order of the pipelines: the summary keys are folded
  * under the pre-inference registry, inference runs only when they hold an
  * unresolved IRI, the rows the inferred namespaces resolve are re-folded,
  * and the sinks are written on the driver, each file replaced whole.
  */
class SummaryFirstSpec extends AnyFunSuite {
  lazy val spark = SparkSuite.spark
  private val json = new com.fasterxml.jackson.databind.ObjectMapper()

  private def put(dir: String, name: String, body: String): String = {
    val p = Paths.get(dir, name)
    Files.write(p, body.getBytes("UTF-8"))
    p.toString
  }

  private def text(out: String, name: String): String =
    new String(Files.readAllBytes(Paths.get(out, name)), "UTF-8")

  /** A declared prefix, an inferable hot namespace and a cold one left
    * UNKNOWN (the RdfPipelineSpec fixture).
    */
  private def inferFixture(dir: String): Seq[String] = {
    val ttl = "@prefix myont: <http://myontology.example.com/terms/> .\n" + (0 until 30).map { i =>
      s"<http://dbpedia.org/resource/E$i> myont:related <http://dbpedia.org/resource/E${i + 1}> .\n"
    }.mkString
    val nt = (0 until 500).map { i =>
      s"""<http://hot.example.net/ns/item$i> <http://dbpedia.org/ontology/knows> "v$i" .\n"""
    }.mkString + (0 until 3).map { i =>
      s"<http://cold.example.io/x$i> <http://dbpedia.org/ontology/knows> _:b$i .\n"
    }.mkString
    Seq(put(dir, "decl.ttl", ttl), put(dir, "data.nt", nt))
  }

  /** UNKNOWN subjects, objects and a datatype, none frequent enough to infer. */
  private def coldFixture(dir: String): Seq[String] = {
    val nt = (0 until 40).map { i =>
      s"<http://cold$i.example.io/x> <http://dbpedia.org/ontology/knows> <http://dbpedia.org/resource/R$i> .\n" +
        s"""<http://dbpedia.org/resource/R$i> <http://dbpedia.org/ontology/v> "$i"^^<http://dt.invalid/t> .\n""" +
        s"<http://dbpedia.org/resource/R$i> <http://dbpedia.org/ontology/to> <http://far$i.example.org/y> .\n"
    }.mkString
    Seq(put(dir, "cold.nt", nt))
  }

  /** Every IRI in a declared or community namespace; literals of each kind. */
  private def declaredFixture(dir: String): Seq[String] = {
    val head = "@prefix ex: <http://declared.example.org/ns/> .\n" +
      "@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .\n"
    (0 until 2).map { f =>
      put(dir, s"part$f.ttl", head + (0 until 200).map { i =>
        s"ex:s$i ex:p${i % 3} ex:o$i ; ex:label \"l$i\"@en ; ex:n \"$i\"^^xsd:integer ;\n" +
          s"  ex:note \"n$i\" ; <http://dbpedia.org/ontology/knows> _:b$i .\n"
      }.mkString)
    }
  }

  private val thresholds = Pipeline.Config(outDir = "", minOccurs = 5, minNsSize = 100,
    minDomainOccurs = 10)

  /** output.ttl, all-prefixes.json, used-groups.tsv and the infer_hk counts. */
  private type Outputs = (String, String, String, Seq[Long])

  private def written(out: String): Outputs = {
    val hk = json.readTree(Paths.get(out, "tasks.json").toFile).get("infer_hk")
    (text(out, "output.ttl"), text(out, "all-prefixes.json"), text(out, "used-groups.tsv"),
      Seq("rounds", "inferred_ns", "added_ns", "discarded_ns").map(hk.get(_).asLong))
  }

  /** The inference-then-summarize order on the same triples: inference from
    * `r0`, then the relational summary of the whole table under the final
    * registry, `ignoreUnknown` filtering the rows.
    */
  private def inferenceFirst(triples: DataFrame, r0: Registry, cfg: Pipeline.Config): Outputs = {
    val (reg, hk, _) = Pipeline.runInference(triples, r0, cfg, Vector.newBuilder)
    val norm = Normalize.normalize(triples, spark.sparkContext.broadcast(reg), cfg.ignoreUnknown)
    val rows = TtlSink.collectRows(Normalize.summarize(norm))
    val (groups, _, _) = Normalize.usedGroups(norm)
    (TtlSink.render(rows, groups, cfg.minOccurs), reg.toJson, TtlSink.groupsTsv(groups),
      Seq(hk.rounds.toLong, hk.inferredNs, hk.addedNs, hk.discardedNs))
  }

  private def stage(ms: Seq[Pipeline.StageMetrics], name: String) = ms.find(_.name == name)

  test("RDF path: same outputs as inference first, with and without ignoreUnknown") {
    val fixtures = Seq[(String, String => Seq[String])](
      "inferable" -> inferFixture, "unknown, nothing inferable" -> coldFixture,
      "fully declared" -> declaredFixture)
    for ((name, fixture) <- fixtures; ignore <- Seq(false, true)) {
      val paths = fixture(SparkSuite.tmpDir("sf-rdf-in"))
      val cfg = thresholds.copy(outDir = SparkSuite.tmpDir("sf-rdf-out"), ignoreUnknown = ignore)
      val res = RdfPipeline.run(spark, paths, cfg)
      try {
        val decls = RdfSource.mergeOrder(RdfSource.read(spark, paths)._2.collect())
        val r0 = Registry.addDeclaredAll(Registry.community(), decls.map(d => d.ns -> d.alias))
        val clue = s"$name, ignoreUnknown=$ignore"
        assert(written(cfg.outDir) == inferenceFirst(res.triples, r0, cfg), clue)
        val round1 = stage(res.metrics, "infer_round_1")
        assert(round1.exists(_.rows == (if (name == "inferable") 1L else 0L)), clue)
        if (name == "fully declared") assert(round1.get.wallMs <= 1, clue)
      } finally res.triples.unpersist()
    }
  }

  test("pages path: same outputs as inference first, with and without ignoreUnknown") {
    for (ignore <- Seq(false, true)) {
      val cfg = thresholds.copy(outDir = SparkSuite.tmpDir("sf-pages"), minOccurs = 10,
        ignoreUnknown = ignore)
      val res = Pipeline.run(spark, Synth.pages(spark, 400), cfg)
      assert(res.inferredNamespaces.nonEmpty)
      assert(written(cfg.outDir) == inferenceFirst(res.triples, Registry.community(), cfg),
        s"ignoreUnknown=$ignore")
    }
  }

  test("a fully declared Turtle input runs 1 Spark job, shuffles and caches nothing") {
    val paths = declaredFixture(SparkSuite.tmpDir("sf-jobs-in"))
    val out = SparkSuite.tmpDir("sf-jobs-out")
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val shuffled = new AtomicLong
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m => shuffled.addAndGet(m.shuffleWriteMetrics.bytesWritten))
    }
    val persisted = sc.getPersistentRDDs.keySet
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    val res =
      try RdfPipeline.run(spark, paths, Pipeline.Config(outDir = out))
      finally { ListenerBusDrain(sc); sc.removeSparkListener(listener) }
    // the scan, which also folds the summary keys under the declarations
    // read at the files' heads
    assert(jobs.get == 1, res.metrics)
    assert(shuffled.get == 0L)
    assert(sc.getPersistentRDDs.keySet == persisted)
    val tasks = json.readTree(Paths.get(out, "tasks.json").toFile)
    val hk = tasks.get("infer_hk")
    assert(hk.get("rounds").asInt == 1 && hk.get("example_unresolved").size == 0)
    assert(tasks.get("decl_heads").asText == "held")
    assert(tasks.get("scan_cached_rows").elements().asScala.forall(_.asLong == 0L))
    assert(!res.metrics.exists(_.name == "fold"))
  }

  test("a failed sink write propagates and leaves no cached blocks") {
    val sc = spark.sparkContext
    def failingRun(run: String => Unit): Unit = {
      val out = SparkSuite.tmpDir("sf-fail")
      Files.createDirectories(Paths.get(out, "output.ttl", "occupied"))
      spark.catalog.clearCache()
      intercept[java.io.IOException](run(out))
      assert(sc.getPersistentRDDs.isEmpty, sc.getPersistentRDDs.values.map(_.name))
    }
    val paths = inferFixture(SparkSuite.tmpDir("sf-fail-in"))
    failingRun(out => RdfPipeline.run(spark, paths, thresholds.copy(outDir = out)))
    failingRun(out => Pipeline.run(spark, Synth.pages(spark, 100),
      thresholds.copy(outDir = out, resume = false)))
  }

  private def files(dir: String): Seq[Path] = {
    val s = Files.walk(Paths.get(dir))
    try s.iterator().asScala.filter(Files.isRegularFile(_)).toVector finally s.close()
  }

  private def temporaries(dir: String): Seq[Path] =
    files(dir).filter(_.getFileName.toString.endsWith(".tmp"))

  test("sinks and the summary snapshot are replaced whole, never torn") {
    val out = SparkSuite.tmpDir("sf-atomic")
    val res = RdfPipeline.run(spark, declaredFixture(SparkSuite.tmpDir("sf-atomic-in")),
      Pipeline.Config(outDir = out))
    res.triples.unpersist()
    assert(temporaries(out).isEmpty)

    // a failed write leaves the previous file as it was
    val ttl = Paths.get(out, "output.ttl")
    val before = text(out, "output.ttl")
    intercept[java.io.IOException](TtlSink.writeAtomically(ttl) { o =>
      o.write("@base <torn".getBytes("UTF-8"))
      throw new java.io.IOException("disk full")
    })
    assert(text(out, "output.ttl") == before)

    // so does a failed summary snapshot
    val summaryDir = Paths.get(out, "summary").toString
    val rows = spark.read.parquet(summaryDir).collect().toSet
    val lineage = Snapshot.readLineage(summaryDir)
    intercept[IllegalArgumentException](Snapshot.writeSmall(
      spark.range(3).select(F.array(F.col("id")).as("a")), summaryDir, "summary", Seq("x"), 3L))
    assert(spark.read.parquet(summaryDir).collect().toSet == rows)
    assert(Snapshot.readLineage(summaryDir) == lineage && lineage.nonEmpty)
    assert(temporaries(out).isEmpty)
  }

  test("the driver-written summary snapshot reads back with its manifest's schema and rows") {
    val out = SparkSuite.tmpDir("sf-snap")
    val res = RdfPipeline.run(spark, inferFixture(SparkSuite.tmpDir("sf-snap-in")),
      thresholds.copy(outDir = out))
    res.triples.unpersist()
    def check(dir: String): Unit = {
      val manifest = json.readTree(Snapshot.manifestPath(dir).toFile)
      val schema = org.apache.spark.sql.types.DataType.fromJson(manifest.get("schema").asText())
      val back = spark.read.parquet(dir)
      assert(back.schema == schema)
      assert(TtlSink.collectRows(back).toSet == TtlSink.collectRows(res.summary).toSet)
      assert(manifest.get("rows").asLong == back.count())
      assert(Snapshot.readLineage(dir).map(_._1).contains(back.count()))
    }
    val summaryDir = Paths.get(out, "summary").toString
    check(summaryDir)
    assert(files(summaryDir).map(_.getFileName.toString).toSet ==
      Set("part-00000.snappy.parquet", "_manifest.json", "_lineage.tsv"))
    // written over a snapshot Spark wrote, it leaves none of the old part files
    val over = Paths.get(SparkSuite.tmpDir("sf-snap-over"), "s").toString
    spark.range(0, 50, 1, 3).toDF("n").write.parquet(over)
    Snapshot.writeSmall(res.summary, over, "summary", Seq("in"), res.summary.count())
    check(over)
  }

  test("pages: the snapshot manifest's per-partition counts equal the Parquet rows") {
    val out = SparkSuite.tmpDir("sf-manifest")
    val res = Pipeline.run(spark, Synth.pages(spark, 200, partitions = 3),
      thresholds.copy(outDir = out))
    val dir = Paths.get(out, "triples").toString
    // one entry per write task, each the rows of its part file
    val got = json.readTree(Snapshot.manifestPath(dir).toFile).get("partitions").elements()
      .asScala.map(p => (p.get("id").asInt, p.get("rows").asLong)).toSeq
    assert(got.map(_._1) == got.indices)
    assert(got.filter(_._2 > 0) == SnapshotFiles.rowsPerPart(spark, dir))
    // read back with the written schema, which is the one Spark infers
    assert(res.triples.schema == spark.read.parquet(dir).schema)
    val rows = got.map(_._2).sum
    assert(Snapshot.readLineage(dir).map(_._1).contains(rows))
    assert(stage(res.metrics, "extract").map(_.rows).contains(rows))
    assert(TtlSink.collectRows(res.summary).map(_.occurs).sum == rows)
  }
}
