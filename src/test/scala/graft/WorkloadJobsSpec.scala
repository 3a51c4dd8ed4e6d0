package graft

import graft.extract.Synth
import graft.pipeline.{Pipeline, RdfPipeline}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

/** The Spark jobs one run starts on an input shaped like each benchmark
  * workload (`chilonbench/DESIGN.md`): the RDF scan is the only pass over
  * the input, and what follows it touches only the rows a registry change
  * affects.
  */
class WorkloadJobsSpec extends AnyFunSuite {
  lazy val spark = SparkSuite.spark

  private val cfg0 = Pipeline.Config(outDir = "", minOccurs = 5, minNsSize = 100,
    minDomainOccurs = 10)

  /** Writes `body` to `dir/file`, gzip- or bzip2-compressed by its suffix. */
  private def put(dir: String, file: String, body: String): String = {
    val p = Paths.get(dir, file)
    val raw = Files.newOutputStream(p)
    val out =
      if (file.endsWith(".gz")) new java.util.zip.GZIPOutputStream(raw)
      else if (file.endsWith(".bz2")) {
        val codec = new org.apache.hadoop.io.compress.BZip2Codec()
        codec.setConf(spark.sparkContext.hadoopConfiguration)
        codec.createOutputStream(raw)
      } else raw
    try out.write(body.getBytes(UTF_8)) finally out.close()
    p.toString
  }

  /** The jobs started while `body` runs. */
  private def jobs(body: => Unit): Int = {
    val sc = spark.sparkContext
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try body
    finally { ListenerBusDrain(sc); sc.removeSparkListener(listener) }
    n.get
  }

  test("rdf_nt_infer shape: 2 jobs, the scan and the re-fold that also samples") {
    // three .nt files and one .nt.bz2 holding 50/20/20/10% of the lines: a
    // host whose directories register, two flat hosts, and a few IRIs
    // under hosts below the threshold that stay unresolved
    val dir = SparkSuite.tmpDir("jobs-nt")
    val knows = "<http://dbpedia.org/ontology/knows>"
    val subjects = (0 until 400).map(i => s"http://data.tailhost.test/resource/R$i") ++
      (0 until 300).map(i => s"http://data.tailhost.test/item/I$i") ++
      (0 until 200).map(i => s"http://flat-a.test/A$i") ++
      (0 until 150).map(i => s"http://flat-b.test/B$i") ++
      (0 until 60).map(i => s"http://u${i % 3}.unlisted.test/r/x$i")
    val lines = subjects.zipWithIndex.map { case (s, i) =>
      val o = if (i % 3 == 0) s"<http://dbpedia.org/resource/E$i>" else "\"v" + i + "\""
      s"<$s> $knows $o .\n"
    }
    val cuts = Seq(0, 5, 7, 9, 10).map(_ * lines.size / 10)
    val paths = cuts.sliding(2).zipWithIndex.map { case (Seq(a, b), f) =>
      put(dir, if (f == 3) s"part-$f.nt.bz2" else s"part-$f.nt", lines.slice(a, b).mkString)
    }.toVector
    val out = SparkSuite.tmpDir("jobs-nt-out")
    var res: RdfPipeline.RdfResult = null
    assert(jobs { res = RdfPipeline.run(spark, paths, cfg0.copy(outDir = out)) } == 2)
    assert(res.metrics.exists(m => m.name == "infer_round_1" && m.rows > 0), res.metrics)
    val hk = new String(Files.readAllBytes(Paths.get(out, "tasks.json")), UTF_8)
    assert(hk.contains(".unlisted.test/r/x"), hk)
  }

  test("ttl_declared shape: 1 job, the scan") {
    // .ttl.gz files that declare every namespace they use at their heads
    val dir = SparkSuite.tmpDir("jobs-ttl")
    val paths = (0 until 4).map { f =>
      put(dir, s"part-$f.ttl.gz",
        s"@prefix d$f: <http://declared$f.example.org/ns/> .\n" +
          "@prefix dbo: <http://dbpedia.org/ontology/> .\n" +
          (0 until 200).map(i => s"d$f:s$i dbo:knows d$f:o${i % 7} ; dbo:name \"n$i\" .\n").mkString)
    }
    val out = SparkSuite.tmpDir("jobs-ttl-out")
    assert(jobs { RdfPipeline.run(spark, paths, cfg0.copy(outDir = out)) } == 1)
  }

  test("pages_kg shape: 2 jobs, the snapshot write and the re-fold") {
    val pages = Synth.pages(spark, 400)
    val out = SparkSuite.tmpDir("jobs-pages-out")
    var res: Pipeline.Result = null
    assert(jobs { res = Pipeline.run(spark, pages, cfg0.copy(outDir = out)) } == 2)
    assert(res.inferredNamespaces.nonEmpty)
  }
}
