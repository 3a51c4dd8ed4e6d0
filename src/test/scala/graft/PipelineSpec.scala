package graft

import graft.extract.{Dict, OpenIE, Synth}
import graft.model.Kind
import graft.ns.Inference
import graft.pipeline.Pipeline
import org.apache.spark.sql.{functions => F}
import org.scalatest.funsuite.AnyFunSuite

class PipelineSpec extends AnyFunSuite {
  lazy val spark = SparkSuite.spark
  import spark.implicits._

  test("distributed prefix counts match a local computation") {
    val iris = Seq(
      "http://www.example.com/path/1/more",
      "http://www.example.pt/2",
      "http://www.example.com/path/2",
      "http://www.example.com/path/2" // multiplicity counts occurrences
    )
    val df = iris.toDF("iri")
    val got = Inference.prefixCounts(df).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet
    val expected = iris.flatMap(i => Inference.segPrefixes(i).zipWithIndex)
      .groupBy(identity).map { case ((p, d), xs) => (p, d + 1, xs.size.toLong) }.toSet
    assert(got == expected)
    assert(got.contains(("http://www.example.com/", 1, 3L)))
    assert(got.contains(("http://www.example.com/path/2", 3, 2L)))
    // salted two-phase agg computes the same relation
    val salted = Inference.prefixCounts(df, salt = 8).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet
    assert(salted == expected)
  }

  test("prefixStats reproduces IriTrie own/desc/uniq_desc (iri_trie.rs:251-304)") {
    // inserting http://example.org/, .../path1, .../path2, .../path2 again
    val iris = Seq(
      "http://example.org/",
      "http://example.org/path1",
      "http://example.org/path2",
      "http://example.org/path2"
    ).toDF("iri")
    val rows = Inference.prefixStats(iris).collect()
      .map(r => r.getString(0) -> ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // the domain prefix: own=1 (exact), desc=3 occurrences below, uniq_desc=2
    assert(rows("http://example.org/") == ((1L, 3L, 2L)))
    assert(rows("http://example.org/path1") == ((1L, 0L, 0L)))
    assert(rows("http://example.org/path2") == ((2L, 0L, 0L)))
    // HLL variant agrees at this tiny cardinality
    val approx = Inference.prefixStats(iris, approxUnique = true).collect()
      .map(r => r.getString(0) -> r.getLong(4)).toMap
    assert(approx("http://example.org/") == 2L)
  }

  test("end-to-end pipeline on 400 synthetic pages: summary, inference, sinks") {
    val out = SparkSuite.tmpDir("graft-e2e")
    val pages = Synth.pages(spark, 400)
    // scale inference thresholds down to the corpus size: the kgraft namespace
    // appears on ~4/11 of pages, several mentions each
    val cfg = Pipeline.Config(outDir = out, minOccurs = 10,
      minNsSize = 100, minDomainOccurs = 10)
    val res = Pipeline.run(spark, pages, cfg)

    // inference discovered the unregistered high-frequency namespaces
    assert(res.inferredNamespaces.contains(Dict.inferNs),
      s"inferred = ${res.inferredNamespaces}")
    assert(res.inferredNamespaces.exists(_.startsWith("https://pages.example.com/")))
    // fixed-point early exit: round 1 covers every above-threshold candidate
    // on this corpus, so the (provably no-op) round 2 is skipped
    assert(res.metrics.exists(_.name == "infer_round_1"))
    assert(!res.metrics.exists(_.name == "infer_round_2"),
      s"early exit missed: ${res.metrics.map(_.name)}")

    // summary is small and well-formed
    val rows = res.summary.collect()
    assert(rows.nonEmpty && rows.length < 200)
    val total = rows.map(_.getLong(4)).sum
    val nTriples = res.triples.count()
    assert(total == nTriples) // every triple lands in exactly one signature
    // the snapshot-backed extract stage reports the manifest's row count
    assert(res.metrics.find(_.name == "extract").get.rows == nTriples)
    assert(graft.sinks.Snapshot.readLineage(
      java.nio.file.Paths.get(out, "triples").toString).map(_._1).contains(nTriples))
    // the fused summary fold against the relational reference, with the
    // run's registry and with the community one (UNKNOWN rows)
    FoldParity.check(res.triples, res.registry)
    FoldParity.check(res.triples, graft.ns.Registry.community())

    // sinks exist and are non-trivial
    val ttl = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(out, "output.ttl")), "UTF-8")
    assert(ttl.startsWith("@base <http://andrefs.com/graph-summ/v1> ."))
    assert(ttl.contains("<#namespacePrefix>"))
    assert(ttl.contains("#t0001"))
    assert(ttl.contains("\"^^<http://www.w3.org/2001/XMLSchema#integer>"))
    val vis = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(out, "vis-data.json")), "UTF-8")
    assert(vis.contains("\"nodes\"") && vis.contains("\"link_num\""))
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(out, "all-prefixes.json")))
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(out, "summary", "_manifest.json")))
    // tasks.json: the rows of each snapshot write task, which the manifest
    // records too, and the distinct prefixes each counted for round 1
    import scala.jdk.CollectionConverters._
    val tasks = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(java.nio.file.Paths.get(out, "tasks.json").toFile)
    def longs(field: String) = tasks.get(field).elements().asScala.map(_.asLong).toSeq
    val partRows = longs("scan_partition_rows")
    assert(partRows.sum == nTriples)
    assert(partRows.zipWithIndex.collect { case (n, i) if n > 0 => (i, n) } ==
      SnapshotFiles.rowsPerPart(spark, java.nio.file.Paths.get(out, "triples").toString))
    val entries = tasks.get("scan_prefix_entries").elements().asScala.toSeq
    assert(entries.size == partRows.size && entries.forall(!_.isNull))
    assert(partRows.zip(longs("scan_prefix_entries")).forall { case (n, e) => (n > 0) == (e > 0) })
    // the RDF scan's own records
    assert(!tasks.has("scan_cached_rows") && !tasks.has("decl_heads"))
  }

  test("determinism: identical summary + ttl at different parallelism (north rule)") {
    def runAt(parts: Int): (String, Seq[(String, String, String, Boolean, Long)]) = {
      val out = SparkSuite.tmpDir(s"graft-det$parts")
      val pages = Synth.pages(spark, 300, partitions = parts)
      val cfg = Pipeline.Config(outDir = out, minOccurs = 5,
        minNsSize = 100, minDomainOccurs = 10, resume = false)
      val res = Pipeline.run(spark, pages, cfg)
      val ttl = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(out, "output.ttl")), "UTF-8")
      val rows = res.summary.collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getBoolean(3), r.getLong(4)))
        .sortBy(t => (t._1, t._2, t._3, t._4))
        .toSeq
      (ttl, rows)
    }
    val (ttl2, rows2) = runAt(2)
    val (ttl8, rows8) = runAt(8)
    assert(rows2 == rows8)
    assert(ttl2 == ttl8) // byte-identical output across parallelism levels
  }

  test("P/R vs pinned reference extraction == 1.0 on the synthetic corpus") {
    val pages = Synth.pages(spark, 200)
    val emitted = Pipeline.extractTriples(pages)
      .select("s", "p", "o").as[(String, String, String)].collect().toSet
    // reference set: driver-side extraction over the same specs
    val expected = (0L until 200L).flatMap { id =>
      val spec = Synth.pageSpec(id)
      OpenIE.extract(spec.url, Synth.textOf(spec)).map(t => (t.s, t.p, t.o))
    }.toSet
    val tp = (emitted intersect expected).size.toDouble
    val precision = tp / emitted.size
    val recall = tp / expected.size
    assert(precision >= 0.95 && recall >= 0.95, s"P=$precision R=$recall")
    assert(precision == 1.0 && recall == 1.0)
  }

  test("chunked extraction: partition-level resume recomputes only broken chunks") {
    val out = SparkSuite.tmpDir("graft-chunked")
    val cfg = Pipeline.Config(outDir = out, minOccurs = 5, minNsSize = 100, minDomainOccurs = 10)
    def chunk(k: Int) = {
      import spark.implicits._
      spark.range(k * 100L, (k + 1) * 100L).map(id => graft.extract.Synth.page(id))
    }
    val r1 = Pipeline.runChunked(spark, 4, chunk, cfg)
    val n1 = r1.triples.count()
    assert(r1.metrics.find(_.name == "chunks_computed").get.rows == 4)

    // chunked result == unchunked result over the same 400 pages
    val outFlat = SparkSuite.tmpDir("graft-flat")
    val flat = Pipeline.run(spark, graft.extract.Synth.pages(spark, 400),
      cfg.copy(outDir = outFlat, resume = false))
    val key = (df: org.apache.spark.sql.DataFrame) => df.collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getBoolean(3), r.getLong(4)))
      .sortBy(t => (t._1, t._2, t._3, t._4)).toSeq
    assert(key(r1.summary) == key(flat.summary))

    // break one chunk: only it is recomputed
    val broken = java.nio.file.Paths.get(out, "triples", "chunk=2", "_manifest.json")
    java.nio.file.Files.delete(broken)
    val m0 = java.nio.file.Files.getLastModifiedTime(
      java.nio.file.Paths.get(out, "triples", "chunk=1", "_manifest.json"))
    val r2 = Pipeline.runChunked(spark, 4, chunk, cfg)
    assert(r2.metrics.find(_.name == "chunks_computed").get.rows == 1)
    assert(java.nio.file.Files.exists(broken)) // rewritten
    assert(java.nio.file.Files.getLastModifiedTime(
      java.nio.file.Paths.get(out, "triples", "chunk=1", "_manifest.json")) == m0)
    assert(r2.triples.count() == n1)
    // read with the schema the chunks' manifests record, the one Spark infers
    assert(r2.triples.schema == spark.read.parquet(s"$out/triples/chunk=0").schema)
  }

  test("resume: second run reuses the triples snapshot") {
    val out = SparkSuite.tmpDir("graft-resume")
    val pages = Synth.pages(spark, 100)
    val cfg = Pipeline.Config(outDir = out, minNsSize = 50, minDomainOccurs = 5)
    val r1 = Pipeline.run(spark, pages, cfg)
    val manifest = java.nio.file.Paths.get(out, "triples", "_manifest.json")
    val mtime1 = java.nio.file.Files.getLastModifiedTime(manifest)
    val r2 = Pipeline.run(spark, pages, cfg)
    val mtime2 = java.nio.file.Files.getLastModifiedTime(manifest)
    assert(mtime1 == mtime2) // snapshot untouched on resume
    assert(r1.triples.count() == r2.triples.count())
  }

  test("resume: stale snapshot (different inputs or row count) is recomputed") {
    val out = SparkSuite.tmpDir("graft-stale")
    val dir = java.nio.file.Paths.get(out, "t").toString
    import graft.sinks.Snapshot
    val df1 = spark.range(10).toDF("n")
    Snapshot.resumeOrWrite(spark, dir, "t", Seq("inputA"))(df1)
    // same inputs -> reused (manifest untouched)
    val m1 = java.nio.file.Files.getLastModifiedTime(Snapshot.manifestPath(dir))
    val (_, reuseJobs) = SnapshotFiles.jobs(spark)(
      Snapshot.resumeOrWrite(spark, dir, "t", Seq("inputA"))(fail("must not recompute")))
    assert(java.nio.file.Files.getLastModifiedTime(Snapshot.manifestPath(dir)) == m1)
    // the check and the read take the manifest's schema: no job infers it,
    // so the check's count is all the reuse runs
    assert(SnapshotFiles.jobs(spark)(Snapshot.read(spark, dir))._2 == 0)
    assert(reuseJobs == SnapshotFiles.jobs(spark)(Snapshot.read(spark, dir).count())._2)
    // different inputs into the same outDir -> recomputed, lineage updated
    val df2 = spark.range(25).toDF("n")
    val r2 = Snapshot.resumeOrWrite(spark, dir, "t", Seq("inputB"))(df2)
    assert(r2.count() == 25)
    assert(Snapshot.readLineage(dir).get._2 == Seq("inputB"))
    // corrupt data (row count mismatch vs recorded lineage) -> recomputed
    spark.range(3).toDF("n").write.mode("overwrite").parquet(dir)
    java.nio.file.Files.write(Snapshot.manifestPath(dir), "{}".getBytes)
    java.nio.file.Files.write(Snapshot.lineagePath(dir),
      "rows\t25\ninput\tinputB\n".getBytes)
    val r3 = Snapshot.resumeOrWrite(spark, dir, "t", Seq("inputB"))(df2)
    assert(r3.count() == 25)
    // part files gone while manifest+lineage survive -> read throws inside
    // the reuse check -> treated as not reusable, recomputed (not rethrown)
    val d = java.nio.file.Paths.get(dir)
    val s = java.nio.file.Files.list(d)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet"))
        .foreach(java.nio.file.Files.delete)
    } finally s.close()
    val r4 = Snapshot.resumeOrWrite(spark, dir, "t", Seq("inputB"))(df2)
    assert(r4.count() == 25)
  }

  test("snapshot manifest: per-partition counts from the write tasks") {
    import graft.sinks.Snapshot
    val dir = java.nio.file.Paths.get(SparkSuite.tmpDir("graft-parts"), "t").toString
    val df = spark.range(0, 1000, 1, 5).toDF("n").filter(F.col("n") % 3 =!= 0)
    val written = Snapshot.write(df, dir, "t", Seq("in"))
    val manifest = new String(java.nio.file.Files.readAllBytes(Snapshot.manifestPath(dir)), "UTF-8")
    val got = """\{"id": (\d+), "rows": (\d+)\}""".r.findAllMatchIn(manifest)
      .map(m => (m.group(1).toInt, m.group(2).toLong)).toSeq
    // one entry per write task, each the rows of its part file
    assert(got.map(_._1) == (0 until 5))
    assert(got == SnapshotFiles.rowsPerPart(spark, dir) && got.map(_._2).sum == 666L)
    // read back with the written schema, which is the one Spark infers
    assert(written.schema == spark.read.parquet(dir).schema)
    assert(Snapshot.manifestSchema(dir) == written.schema)
    // a reused snapshot folds nothing; its lineage keeps the row count
    val (_, fold) = Snapshot.resumeOrWriteFolded(spark, dir, "t", Seq("in"), identity)(
      fail("reused"))
    assert(fold.isEmpty && Snapshot.readLineage(dir).map(_._1).contains(666L))
  }

  test("multi-round inference: truncated Spark rounds reach the same fixed point") {
    // three inferable namespaces; a collect budget of 2 candidates per round
    // forces one namespace per round, and each truncated collect makes the
    // next round count again over the corpus instead of deriving it
    val rows =
      (0 until 300).map(i => ("http://hota.example.net/ns/item" + (i % 60), s"u$i")) ++
      (0 until 200).map(i => ("http://hotb.example.org/res/r" + (i % 40), s"v$i")) ++
      (0 until 100).map(i => ("http://hotc.example.io/t/x" + (i % 20), s"w$i"))
    val triples = rows.toDF("s", "srcUrl")
      .withColumn("sKind", F.lit(Kind.IRI))
      .withColumn("p", F.lit("http://dbpedia.org/ontology/knows"))
      .withColumn("o", F.lit("lit"))
      .withColumn("oKind", F.lit(Kind.LIT_PLAIN))
      .withColumn("oLang", F.lit(null: String))
      .withColumn("oDt", F.lit(null: String))
    def infer(maxCollected: Int) = {
      val metrics = Vector.newBuilder[Pipeline.StageMetrics]
      val cfg = Pipeline.Config(outDir = SparkSuite.tmpDir("multiround"),
        minNsSize = 50, minDomainOccurs = 10, maxCollected = maxCollected,
        maxInferenceRounds = 6)
      val (reg, hk, added) =
        Pipeline.runInference(triples, graft.ns.Registry.community(), cfg, metrics)
      (reg, hk, added.map(_._1), metrics.result())
    }
    val (reg1, hk1, added1, ms1) = infer(maxCollected = 2)
    assert(hk1.rounds >= 3, s"expected >=3 rounds, got ${hk1.rounds}")
    assert(ms1.exists(_.name == "infer_round_3"))
    assert(reg1.resolveAlias("http://hota.example.net/ns/item1").isDefined)
    assert(reg1.resolveAlias("http://hotb.example.org/res/r1").isDefined)
    assert(reg1.resolveAlias("http://hotc.example.io/t/x1").isDefined)
    // order-independent fixed point: one-namespace-per-round lands on the
    // same namespace set as the single untruncated round
    val (reg3, hk3, added3, _) = infer(maxCollected = 100000)
    assert(hk3.rounds < hk1.rounds)
    assert(added1.toSet == added3.toSet)
    assert(reg1.byNs.keySet == reg3.byNs.keySet)
  }

  test("per-source metrics (A4) tally kinds per input with corpus roll-up") {
    val pages = Synth.pages(spark, 20)
    val triples = Pipeline.extractTriples(pages).toDF()
    val per = graft.sinks.Metrics.perSource(triples)
    assert(per.count() == 20) // one row per page url
    val roll = graft.sinks.Metrics.rollup(per).collect()(0)
    assert(roll.getAs[Long]("sources") == 20)
    assert(roll.getAs[Long]("triples") == triples.count())
    // every triple contributes exactly its kind tallies
    val localTriples = (0L until 20L).flatMap { id =>
      val spec = Synth.pageSpec(id)
      graft.extract.OpenIE.extract(spec.url, Synth.textOf(spec))
    }
    val expIris = localTriples.count(_.sKind == Kind.IRI) + localTriples.size +
      localTriples.count(_.oKind == Kind.IRI)
    assert(roll.getAs[Long]("iris") == expIris)
  }

  test("incremental summary: prev snapshot + delta segment == full recompute") {
    val out = SparkSuite.tmpDir("graft-incr-full")
    val all = Synth.pages(spark, 300)
    // full run fixes the registry (inference over the whole corpus) and the
    // reference answer
    val cfg = Pipeline.Config(outDir = out, minOccurs = 5,
      minNsSize = 100, minDomainOccurs = 10, resume = false)
    val res = Pipeline.run(spark, all, cfg)
    val want = res.summary.collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getBoolean(3)) -> r.getLong(4))
      .toMap
    // "previous corpus" = first 200 pages, summarized under the frozen
    // registry and snapshotted; "new crawl segment" = the remaining 100
    val bc = spark.sparkContext.broadcast(res.registry)
    val prevDir = SparkSuite.tmpDir("graft-incr-prev")
    val prevSum = graft.summarize.Normalize.summarize(graft.summarize.Normalize.normalize(
      Pipeline.extractTriples(Synth.pages(spark, 200)).toDF(), bc))
    graft.sinks.Snapshot.writeSmall(prevSum, prevDir, "summary",
      Seq("pages[0,200)"), prevSum.count())
    // Synth urls end "/<id>": keep pages 200..299 as the delta segment
    val deltaPages = all
      .filter(F.substring_index(F.col("url"), "/", -1).cast("long") >= 200)
      .as[graft.model.Page]
    val deltaTriples = Pipeline.extractTriples(deltaPages).toDF()
    val mergedDir = SparkSuite.tmpDir("graft-incr-merged")
    val merged = Pipeline.incrementalSummary(spark, prevDir, deltaTriples,
      res.registry, outDir = Some(mergedDir), deltaTag = "pages[200,300)")
    val got = merged.collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getBoolean(3)) -> r.getLong(4))
      .toMap
    assert(got == want)
    // merged snapshot records the chained lineage
    val lin = graft.sinks.Snapshot.readLineage(mergedDir)
    assert(lin.exists(_._2 == Seq("pages[0,200)", "pages[200,300)")))
  }

  test("blank and literal kinds survive the distributed round trip") {
    val pages = Synth.pages(spark, 50)
    val triples = Pipeline.extractTriples(pages).toDF()
    val kinds = triples.select(F.col("oKind")).distinct().collect().map(_.getByte(0)).toSet
    assert(kinds == Set(Kind.IRI, Kind.LIT_PLAIN, Kind.LIT_LANG, Kind.LIT_TYPED))
    val sKinds = triples.select(F.col("sKind")).distinct().collect().map(_.getByte(0)).toSet
    assert(sKinds == Set(Kind.IRI, Kind.BLANK))
  }
}

/** The part files of a snapshot Spark wrote, and the jobs that read it. */
object SnapshotFiles {
  /** `body`'s result and the Spark jobs it started. */
  def jobs[A](spark: org.apache.spark.sql.SparkSession)(body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val n = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    org.apache.spark.ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    val a =
      try body
      finally { org.apache.spark.ListenerBusDrain(sc); sc.removeSparkListener(listener) }
    (a, n.get)
  }

  /** The rows of each part file with rows, keyed by the write task that
    * wrote it (the number in `part-NNNNN-...`), in task order.
    */
  def rowsPerPart(spark: org.apache.spark.sql.SparkSession, dir: String): Seq[(Int, Long)] = {
    val task = """part-(\d+)-""".r.unanchored
    spark.read.parquet(dir).groupBy(F.input_file_name()).count().collect().toSeq
      .map { r => val task(n) = r.getString(0); (n.toInt, r.getLong(1)) }
      .sortBy(_._1)
  }
}
