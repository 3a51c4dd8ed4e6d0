package graft

import graft.ns.Inference
import graft.pipeline.{Pipeline, RdfPipeline}
import graft.rdf.RdfSource
import graft.summarize.Normalize
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.{ListenerBusDrain, TaskContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Row, functions => F}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The RDF scan folds every row under the community registry plus the
  * Turtle files' head declarations and caches only the rows whose summary
  * keys hold an UNKNOWN; when the full parse's declarations differ from the
  * heads', F0 is one more job and round 1 runs its aggregate, with the same
  * outputs.
  */
class ScanCacheSpec extends AnyFunSuite {
  lazy val spark = SparkSuite.spark
  private val json = new com.fasterxml.jackson.databind.ObjectMapper()

  private val cfg0 = Pipeline.Config(outDir = "", minOccurs = 5, minNsSize = 100,
    minDomainOccurs = 10)

  private def put(dir: String, name: String, body: String): String = {
    val p = Paths.get(dir, name)
    Files.write(p, body.getBytes("UTF-8"))
    p.toString
  }

  /** A Turtle file declaring `ex:` (after its first triple when `late`),
    * with an inferable hot namespace and a cold one left UNKNOWN, and an
    * N-Triples file.
    */
  private def mixed(dir: String, late: Boolean): Seq[String] = {
    val decl = "@prefix ex: <http://declared.example.org/ns/> .\n"
    val first = "<http://dbpedia.org/resource/E0> <http://dbpedia.org/ontology/knows> \"e\" .\n"
    val body = (0 until 300).map { i =>
      s"<http://hot.example.net/ns/item$i> ex:p${i % 3} ex:o$i .\n"
    }.mkString + (0 until 3).map(i => s"<http://cold.example.io/x$i> ex:p _:b$i .\n").mkString
    val nt = (0 until 200).map { i =>
      s"""<http://hot.example.net/ns/more$i> <http://dbpedia.org/ontology/knows> "v$i" .\n"""
    }.mkString
    Seq(put(dir, "a.ttl", if (late) first + decl + body else decl + first + body),
      put(dir, "b.nt", nt))
  }

  private def tasks(out: String) = json.readTree(Paths.get(out, "tasks.json").toFile)

  /** output.ttl, all-prefixes.json and infer_hk without its wall time. */
  private def outputs(out: String): (String, String, String) = {
    def text(name: String) = new String(Files.readAllBytes(Paths.get(out, name)), "UTF-8")
    val hk = tasks(out).get("infer_hk").asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    hk.remove("wall_ms")
    (text("output.ttl"), text("all-prefixes.json"), hk.toString)
  }

  private def stages(out: String): Seq[String] =
    tasks(out).get("stages").elements().asScala.map(_.get("stage").asText).toSeq

  private def longs(out: String, field: String): Seq[Long] =
    Option(tasks(out).get(field)).fold(Seq.empty[Long])(_.elements().asScala.map(_.asLong).toSeq)

  private def declHeads(out: String): Option[String] =
    Option(tasks(out).get("decl_heads")).map(_.asText)

  /** `RdfPipeline.run` over `scan` with the jobs it started; it must leave
    * no RDD persisted.
    */
  private def run(scan: RdfSource.Scan, paths: Seq[String], cfg: Pipeline.Config,
      budget: Int = Inference.IriTrieSize): (String, Int) = {
    val sc = spark.sparkContext
    val out = SparkSuite.tmpDir("scache-out")
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    val before = sc.getPersistentRDDs.keySet
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try RdfPipeline.run(spark, scan, paths, cfg.copy(outDir = out), budget)
    finally { ListenerBusDrain(sc); sc.removeSparkListener(listener) }
    assert(sc.getPersistentRDDs.keySet == before, sc.getPersistentRDDs.values.map(_.name))
    (out, jobs.get)
  }

  private def run(paths: Seq[String], cfg: Pipeline.Config): (String, Int) =
    run(RdfSource.scan(spark, paths), paths, cfg)

  test("the scan caches exactly the rows its F0 counts under UNKNOWN keys") {
    val paths = mixed(SparkSuite.tmpDir("scache-rows"), late = false)
    val scan = RdfSource.scan(spark, paths)
    val triples = RdfPipeline.truncateIris(scan.triples.toDF())
    val s = RdfPipeline.scanFold(spark, scan, None)
    try {
      assert(s.heads.exists(_.map(_.alias) == Seq("ex")))
      val unknown = Seq("s_ns", "p_ns", "o_ns").map(F.col(_) === Normalize.Unknown).reduce(_ || _)
      // only the columns the later passes read
      val want = SummaryKeysOracle.summaryKeys(triples, s.registry, triples.columns.toSeq)
        .filter(unknown).select(RdfPipeline.CachedColumns.map(F.col): _*)
      assert(s.pending.columns.toSeq == RdfPipeline.CachedColumns)
      def bag(rows: Array[Row]) = rows.toSeq.groupBy(identity).view.mapValues(_.size).toMap
      assert(bag(s.pending.collect()) == bag(want.collect()))
      val underUnknown = s.keys.collect {
        case (k, n) if (0 to 2).exists(k.getString(_) == Normalize.Unknown) => n
      }.sum
      assert(s.cachedRows.sum == underUnknown && underUnknown == 300 + 3 + 200)
      assert(s.keys == Normalize.foldKeys(triples, s.registry))
      assert(s.partitionRows.sum == triples.count())
    } finally s.pending.unpersist(blocking = true)
  }

  test("a partition that reports again, as when a later job recomputes it, changes no count") {
    val df = spark.range(0, 1000, 1, 4).select((F.col("id") % 7).as("k"), F.col("id"))
    val fold = new graft.summarize.PassFold(df.queryExecution.toRdd, df.schema, Seq(Seq("k")))
    def consume(): Unit = spark.sparkContext.runJob(fold.rows,
      (rows: Iterator[org.apache.spark.sql.catalyst.InternalRow]) => rows.foreach(_ => ()))
    consume()
    consume()
    assert(fold.counted.maps == Normalize.countRowsBy(df, Seq(Seq("k"))).maps)
    assert(fold.counted.partitionRows == Seq(250L, 250L, 250L, 250L))
    assert(fold.passedRows == fold.counted.partitionRows)
  }

  test("a declared Turtle input caches no row; a line-format input records no decl_heads") {
    val dir = SparkSuite.tmpDir("scache-none")
    val ttl = put(dir, "d.ttl", "@prefix ex: <http://declared.example.org/ns/> .\n" +
      (0 until 50).map(i => s"ex:s$i ex:p ex:o$i .\n").mkString)
    val (out, jobs) = run(Seq(ttl), cfg0)
    assert(jobs == 1)
    assert(declHeads(out).contains("held"))
    assert(!stages(out).contains("fold"))
    val cachedRows = longs(out, "scan_cached_rows")
    assert(cachedRows.nonEmpty && cachedRows.forall(_ == 0L))
    val nt = put(dir, "d.nt",
      "<http://dbpedia.org/resource/A> <http://dbpedia.org/ontology/b> \"c\" .\n")
    val (outNt, _) = run(Seq(nt), cfg0)
    assert(declHeads(outNt).isEmpty && longs(outNt, "scan_cached_rows").sum == 0L)
  }

  test("a @prefix after a file's first triple: F0 is one more job, same outputs") {
    val (ride, rideJobs) = run(mixed(SparkSuite.tmpDir("scache-head"), late = false), cfg0)
    val (late, lateJobs) = run(mixed(SparkSuite.tmpDir("scache-late"), late = true), cfg0)
    assert(outputs(late) == outputs(ride))
    assert(!outputs(ride)._3.contains("\"added_ns\":0"), outputs(ride)._3)
    assert((declHeads(ride), declHeads(late)) == (Some("held"), Some("missed")))
    assert(!stages(ride).contains("fold") && stages(late).contains("fold"))
    // the scan and the re-fold, which also samples; the fallback adds F0's
    // fold, round 1's aggregate and the sample's own job
    assert(rideJobs == 2 && lateJobs > rideJobs + 2, (rideJobs, lateJobs))
    // the rows with an IRI the heads leave unresolved (with the late prefix
    // the ex: IRIs too, all in rows with a hot or cold subject)
    assert(longs(ride, "scan_cached_rows").sum == 300 + 3 + 200)
    assert(longs(late, "scan_cached_rows").sum == 300 + 3 + 200)
  }

  test("two files declaring one namespace under different aliases: same outputs either way") {
    def files(aLate: Boolean): Seq[String] = {
      val dir = SparkSuite.tmpDir("scache-alias")
      val a = "@prefix a: <http://x.test/ns/> .\n"
      val first = "<http://dbpedia.org/resource/E0> <http://dbpedia.org/ontology/knows> \"e\" .\n"
      Seq(put(dir, "one.ttl", "@prefix b: <http://x.test/ns/> .\nb:s b:p b:o .\n"),
        put(dir, "two.ttl", (if (aLate) first + a else a + first) + "a:t a:p a:o .\n"))
    }
    val cfg = cfg0.copy(minOccurs = 1)
    val (ride, _) = run(files(aLate = false), cfg)
    val (late, _) = run(files(aLate = true), cfg)
    assert((declHeads(ride), declHeads(late)) == (Some("held"), Some("missed")))
    assert(outputs(late) == outputs(ride))
    assert(outputs(ride)._2.contains("\"a\": [\"http://x.test/ns/\""), outputs(ride)._2)
  }

  test("a hostless head namespace whose alias is taken gets a counter") {
    // merged in the order (length, namespace), urn:y: takes the alias a and
    // the hostless urn:xx: gets a2; the heads alone register urn:xx: as a
    def files(yLate: Boolean): Seq[String] = {
      val dir = SparkSuite.tmpDir("scache-covers")
      val y = "@prefix a: <urn:y:> .\n"
      val first = "<http://dbpedia.org/resource/E0> <http://dbpedia.org/ontology/knows> \"e\" .\n"
      Seq(put(dir, "one.ttl", "@prefix a: <urn:xx:> .\n" +
          (0 until 20).map(i => s"a:s$i <http://dbpedia.org/ontology/knows> a:o$i .\n").mkString),
        put(dir, "two.ttl", (if (yLate) first + y else y + first) + "a:t a:p a:o .\n"))
    }
    val cfg = cfg0.copy(minOccurs = 1)
    val (ride, _) = run(files(yLate = false), cfg)
    val (late, _) = run(files(yLate = true), cfg)
    assert((declHeads(ride), declHeads(late)) == (Some("held"), Some("missed")))
    assert(outputs(ride)._2.contains("\"a2\": [\"urn:xx:\""), outputs(ride)._2)
    assert(!outputs(ride)._3.contains("urn:xx:"), outputs(ride)._3)
    assert(outputs(late) == outputs(ride))
  }

  test("a Turtle input over the prefix budget counts round 1 in Spark and writes the same") {
    val dir = SparkSuite.tmpDir("scache-budget")
    val paths = mixed(dir, late = false).filter(_.endsWith(".ttl"))
    val scan = () => RdfSource.scan(spark, paths)
    val (ride, rideJobs) = run(scan(), paths, cfg0)
    val (over, overJobs) = run(scan(), paths, cfg0, budget = 0)
    assert(outputs(over) == outputs(ride))
    assert(declHeads(over).contains("held"))
    val entries = tasks(over).get("scan_prefix_entries").elements().asScala.toSeq
    assert(entries.nonEmpty && entries.forall(_.isNull))
    assert(overJobs > rideJobs, (rideJobs, overJobs))
  }

  test("a head past the character bound is skipped: community registry, same outputs") {
    val dir = SparkSuite.tmpDir("scache-skip")
    val body = "@prefix ex: <http://declared.example.org/ns/> .\n" +
      (0 until 40).map(i => s"ex:s$i ex:p <http://cold.example.io/x$i> .\n").mkString
    val short = put(dir, "short.ttl", body)
    val long = put(SparkSuite.tmpDir("scache-skip-long"), "long.ttl",
      "#" + "x" * RdfSource.HeadChars + "\n" + body)
    assert(RdfSource.headDeclarations(spark.sparkContext.hadoopConfiguration, Seq(long)).isEmpty)
    val cfg = cfg0.copy(minOccurs = 1)
    val (ride, _) = run(Seq(short), cfg)
    val (skipped, _) = run(Seq(long), cfg)
    assert(declHeads(skipped).contains("skipped") && stages(skipped).contains("fold"))
    assert(outputs(skipped) == outputs(ride))
  }

  test("a scan task that fails after emitting rows and is retried leaves the outputs alone") {
    assert(spark.sparkContext.master == "local[4,3]")
    val paths = mixed(SparkSuite.tmpDir("scache-retry"), late = false)
    val (clean, _) = run(paths, cfg0)
    val scan = RdfSource.scan(spark, paths)
    import spark.implicits._
    // the first attempt of the scan's first task throws after 50 rows; a
    // later job that reads the input again fails the same way once
    val flaky = scan.triples.mapPartitions { it =>
      val ctx = TaskContext.get()
      it.zipWithIndex.map { case (t, i) =>
        if (i == 50 && ctx.partitionId() == 0 && ctx.attemptNumber() == 0)
          throw new IllegalStateException("injected")
        t
      }
    }
    val (retried, _) = run(new RdfSource.Scan(flaky.rdd, scan.files, scan.decls), paths, cfg0)
    assert(outputs(retried) == outputs(clean))
    for (f <- Seq("scan_partition_rows", "scan_cached_rows"))
      assert(longs(retried, f) == longs(clean, f), f)
  }

  test("after a failed sink no RDD stays persisted") {
    val paths = mixed(SparkSuite.tmpDir("scache-fail"), late = false)
    val out = SparkSuite.tmpDir("scache-fail-out")
    Files.createDirectories(Paths.get(out, "output.ttl", "occupied"))
    val before = spark.sparkContext.getPersistentRDDs.keySet
    intercept[java.io.IOException](RdfPipeline.run(spark, paths, cfg0.copy(outDir = out)))
    assert(spark.sparkContext.getPersistentRDDs.keySet == before)
  }
}
