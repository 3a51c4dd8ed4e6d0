package graft

import graft.extract.Synth
import graft.ns.{Inference, Registry}
import graft.pipeline.{Pipeline, RdfPipeline}
import graft.rdf.RdfSource
import graft.summarize.Normalize
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{functions => F}
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Inference rounds after the first are derived on the driver from round 1's
  * collected prefix counts; a Spark round runs again only when the
  * derivation would not be exact.
  */
class InferenceRoundsSpec extends AnyFunSuite {
  lazy val spark = SparkSuite.spark
  private val json = new com.fasterxml.jackson.databind.ObjectMapper()

  private val cfg0 = Pipeline.Config(outDir = "", minOccurs = 5, minNsSize = 100,
    minDomainOccurs = 10)

  /** The rdf_nt_infer shape at a threshold of 100: a tail host with two
    * children above the threshold and ten sub-threshold directories that
    * together pass it, so round 1 registers the children and round 2 the
    * host; two flat hosts that register in round 1; and, with `unlisted`,
    * two hosts below the threshold that stay UNKNOWN.
    */
  private def tailHostFixture(unlisted: Boolean): Seq[String] = {
    val dir = SparkSuite.tmpDir("rounds-in")
    val knows = "<http://dbpedia.org/ontology/knows>"
    val tail = "http://data.tailhost.test/"
    val subjects =
      (0 until 300).map(i => s"${tail}resource/R$i") ++
        (0 until 250).map(i => s"${tail}item/I$i") ++
        (0 until 300).map(i => s"${tail}misc${i % 10}/M$i") ++
        (0 until 200).map(i => s"http://flat-a.test/A$i") ++
        (0 until 150).map(i => s"http://flat-b.test/B$i") ++
        (if (unlisted) (0 until 80).map(i => s"http://u${i % 2}.unlisted.test/r/x$i") else Nil)
    val lines = subjects.zipWithIndex.map { case (s, i) => s"""<$s> $knows "v$i" .\n""" } ++
      (0 until 100).map(i =>
        s"<http://dbpedia.org/resource/E$i> $knows <${tail}item/I${i * 2}> .\n")
    lines.grouped((lines.size + 1) / 2).zipWithIndex.map { case (part, f) =>
      val p = Paths.get(dir, s"part-$f.nt")
      Files.write(p, part.mkString.getBytes("UTF-8"))
      p.toString
    }.toVector
  }

  /** Counts the Spark jobs started while `body` runs. */
  private def countingJobs[A](body: AtomicInteger => A): (A, Int) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    val a =
      try body(jobs)
      finally { ListenerBusDrain(sc); sc.removeSparkListener(listener) }
    (a, jobs.get)
  }

  /** Stage metrics that also note how many jobs had started by each record. */
  private final class JobMarks(jobs: AtomicInteger)
      extends mutable.Builder[Pipeline.StageMetrics, Vector[Pipeline.StageMetrics]] {
    val marks = mutable.LinkedHashMap.empty[String, Int]
    private val inner = Vector.newBuilder[Pipeline.StageMetrics]
    def addOne(m: Pipeline.StageMetrics): this.type = {
      ListenerBusDrain(spark.sparkContext)
      marks(m.name) = jobs.get
      inner += m
      this
    }
    def clear(): Unit = { inner.clear(); marks.clear() }
    def result(): Vector[Pipeline.StageMetrics] = inner.result()
  }

  /** Prefixes at or above the threshold among the IRIs r0 leaves unresolved:
    * round 1's collect.
    */
  private def round1Candidates(paths: Seq[String]): Int = {
    val t = RdfSource.scan(spark, paths).triples.toDF()
    val iris = t.select(F.col("s").as("iri")).union(t.select(F.col("p")))
      .union(t.filter(F.col("oKind") === graft.model.Kind.IRI).select(F.col("o")))
      .filter(graft.summarize.Normalize.resolveCol(F.col("iri"), Registry.community()).isNull)
    Inference.prefixCounts(iris).filter(F.col("count") >= cfg0.minNsSize).count().toInt
  }

  test("round 2 starts no Spark job; the forced Spark round lands on the same registry") {
    val paths = tailHostFixture(unlisted = true)
    val triples = RdfSource.scan(spark, paths).triples.toDF() // not cached
    def infer(cfg: Pipeline.Config) = countingJobs { jobs =>
      val marks = new JobMarks(jobs)
      val (reg, hk, added) = Pipeline.runInference(triples, Registry.community(), cfg, marks)
      (reg, hk, added.map(_._1), marks.marks.toMap)
    }
    // nothing is left cached (other suites' RDDs may persist in this JVM)
    def persisted = spark.sparkContext.getPersistentRDDs.keySet
    spark.catalog.clearCache()
    val before = persisted
    val ((reg, hk, added, marks), _) = infer(cfg0)
    assert(persisted == before)
    assert((hk.rounds, hk.addedNs) == (2, 5L))
    assert(added.last == "http://data.tailhost.test/")
    assert(marks.keySet == Set("infer_round_1", "infer_round_2"))
    assert(marks("infer_round_1") > 0)
    assert(marks("infer_round_2") == marks("infer_round_1"), marks)

    // a collect that fills maxCollected may be truncated: round 2 counts again
    val n1 = round1Candidates(paths)
    val ((regF, hkF, addedF, marksF), _) = infer(cfg0.copy(maxCollected = n1))
    assert(persisted == before)
    assert(marksF("infer_round_2") > marksF("infer_round_1"), marksF)
    assert(regF.toJson == reg.toJson && addedF == added)
    assert((hkF.rounds, hkF.inferredNs, hkF.addedNs, hkF.discardedNs) ==
      (hk.rounds, hk.inferredNs, hk.addedNs, hk.discardedNs))
  }

  /** output.ttl, all-prefixes.json and infer_hk without its wall time. */
  private def outputs(out: String): (String, String, String) = {
    def text(name: String) = new String(Files.readAllBytes(Paths.get(out, name)), "UTF-8")
    val hk = json.readTree(Paths.get(out, "tasks.json").toFile).get("infer_hk")
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    hk.remove("wall_ms")
    (text("output.ttl"), text("all-prefixes.json"), hk.toString)
  }

  /** `scan_prefix_entries` of tasks.json, None when absent. */
  private def prefixEntries(out: String): Option[Seq[Option[Long]]] =
    Option(json.readTree(Paths.get(out, "tasks.json").toFile).get("scan_prefix_entries"))
      .map(_.elements().asScala.map(e => Option.when(!e.isNull)(e.asLong)).toSeq)

  test("RDF path: driver-derived rounds write what the Spark-round fallback writes") {
    val paths = tailHostFixture(unlisted = true)
    def run(cfg: Pipeline.Config): (String, String, String) = {
      val out = SparkSuite.tmpDir("rounds-out")
      val res = RdfPipeline.run(spark, paths, cfg.copy(outDir = out))
      res.triples.unpersist()
      outputs(out)
    }
    val derived = run(cfg0)
    assert(derived._3.contains("\"rounds\":2") && derived._3.contains("\"added_ns\":5"), derived._3)
    assert(run(cfg0.copy(maxCollected = round1Candidates(paths))) == derived)
  }

  test("round 1 rides the scan; over the prefix budget it counts in Spark and writes the same") {
    val paths = tailHostFixture(unlisted = true)
    def run(budget: Int) = countingJobs { _ =>
      val out = SparkSuite.tmpDir("rounds-ride")
      val res = RdfPipeline.run(spark, RdfSource.scan(spark, paths), paths,
        cfg0.copy(outDir = out), budget)
      res.triples.unpersist()
      (outputs(out), prefixEntries(out))
    }
    val ((ride, rideEntries), rideJobs) = run(Inference.IriTrieSize)
    val ((fallback, overEntries), fallbackJobs) = run(0)
    assert(fallback == ride)
    assert(ride._3.contains("\"rounds\":2") && ride._3.contains("\"added_ns\":5"), ride._3)
    // every scan task counted: distinct prefixes per task, and none over
    assert(rideEntries.exists(e => e.nonEmpty && e.forall(_.exists(_ > 0))), rideEntries)
    assert(overEntries.exists(e => e.nonEmpty && e.forall(_.isEmpty)), overEntries)
    // the scan and the re-fold, which also samples; the fallback adds
    // round 1's aggregate and the sample's own job
    assert(rideJobs == 2 && fallbackJobs > rideJobs + 1, (rideJobs, fallbackJobs))
  }

  test("countGarbage: round 1 counts in a Spark aggregate, and the scan counts no prefix") {
    val paths = tailHostFixture(unlisted = true)
    def run(cfg: Pipeline.Config) = countingJobs { _ =>
      val out = SparkSuite.tmpDir("rounds-gc")
      val res = RdfPipeline.run(spark, paths, cfg.copy(outDir = out))
      res.triples.unpersist()
      (outputs(out), prefixEntries(out))
    }
    val ((ride, _), _) = run(cfg0)
    val ((gc, entries), jobs) = run(cfg0.copy(countGarbage = true))
    assert(entries.isEmpty)
    assert(jobs > 3, jobs)
    assert((gc._1, gc._2) == (ride._1, ride._2))
  }

  /** `example_unresolved` of a run's tasks.json. */
  private def examples(out: String): Seq[String] = {
    val ex = json.readTree(Paths.get(out, "tasks.json").toFile).get("infer_hk").get("example_unresolved")
    (0 until ex.size).map(ex.get(_).asText)
  }

  /** What the sample job takes over a fresh read of `paths`: the scan's
    * partitions in the scan's order, so the first unresolved IRIs of the
    * rows the run cached.
    */
  private def sampledAfresh(paths: Seq[String], reg: Registry): Seq[String] =
    Inference.sampleUnresolved(Normalize.unresolvedIris(
      RdfPipeline.truncateIris(RdfSource.scan(spark, paths).triples.toDF()), reg))

  test("example_unresolved: sampled under the final registry, only when something is left") {
    def run(paths: Seq[String]) = countingJobs { _ =>
      val out = SparkSuite.tmpDir("rounds-ex")
      val res = RdfPipeline.run(spark, paths, cfg0.copy(outDir = out))
      res.triples.unpersist()
      (res.registry, examples(out))
    }
    val paths = tailHostFixture(unlisted = true)
    val ((reg, sampled), jobs) = run(paths)
    assert(sampled.nonEmpty && sampled.size <= 10)
    assert(sampled.forall(iri => iri.contains(".unlisted.test/") && reg.resolve(iri).isEmpty),
      sampled)
    assert(sampled == sampledAfresh(paths, reg))
    // everything resolves after inference: no example
    val ((_, none), jobsResolved) = run(tailHostFixture(unlisted = false))
    assert(none.isEmpty)
    // the scan, which also counts round 1 and its unresolved occurrences,
    // and the re-fold, which takes the sample only when they show that
    // something is left unresolved
    assert((jobs, jobsResolved) == (2, 2))
  }

  test("an added namespace that is no segment boundary: the sample runs after F1 and writes the same") {
    // the hot leaf http://leaf.test/p registers as a namespace and also
    // resolves http://leaf.test/pq, which its size does not count, so the
    // occurrences left are not known before F1
    val paths = tailHostFixture(unlisted = true) :+ {
      val knows = "<http://dbpedia.org/ontology/knows>"
      val p = Paths.get(SparkSuite.tmpDir("rounds-leaf"), "leaf.nt")
      Files.write(p, ((0 until 120).map(i => s"""<http://leaf.test/p> $knows "v$i" .\n""") ++
        (0 until 3).map(i => s"""<http://leaf.test/pq> $knows "w$i" .\n""")).mkString
        .getBytes("UTF-8"))
      p.toString
    }
    def run(budget: Int) = countingJobs { _ =>
      val out = SparkSuite.tmpDir("rounds-leaf-out")
      // one round, so that no later round counts again in Spark
      val res = RdfPipeline.run(spark, RdfSource.scan(spark, paths), paths,
        cfg0.copy(outDir = out, maxInferenceRounds = 1), budget)
      res.triples.unpersist()
      (res.registry, outputs(out), examples(out))
    }
    val ((reg, leaf, sampled), jobs) = run(Inference.IriTrieSize)
    assert(reg.byNs.contains("http://leaf.test/p") && !Inference.isSegBoundary("http://leaf.test/p"))
    assert(reg.resolve("http://leaf.test/pq").map(_._1).contains("http://leaf.test/p"))
    assert(sampled.nonEmpty && sampled == sampledAfresh(paths, reg))
    // the scan, the re-fold and the sample's own job
    assert(jobs == 3, jobs)
    // over the prefix budget: round 1's aggregate, the same outputs
    val ((_, over, overSampled), _) = run(0)
    assert(over == leaf && overSampled == sampled)
  }

  /** `Pipeline.run` on 400 Synth pages, with the jobs it starts, its
    * outputs, its `scan_prefix_entries` and its shuffled bytes.
    */
  private def runPages(cfg: Pipeline.Config, budget: Int = Inference.IriTrieSize) = {
    val shuffled = new AtomicLong
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m => shuffled.addAndGet(m.shuffleWriteMetrics.bytesWritten))
    }
    val pages = Synth.pages(spark, 400)
    spark.sparkContext.addSparkListener(listener)
    val ((outs, entries, res), jobs) =
      try countingJobs { _ =>
        val out = SparkSuite.tmpDir("rounds-pages")
        val res = Pipeline.run(spark, pages, cfg.copy(outDir = out), budget)
        (outputs(out), prefixEntries(out), res)
      }
      finally spark.sparkContext.removeSparkListener(listener)
    res.triples.unpersist()
    (outs, entries, jobs, shuffled.get, res)
  }

  test("pages: round 1 rides the snapshot write in 2 jobs; over the prefix budget it counts in Spark and writes the same") {
    val (ride, rideEntries, rideJobs, rideShuffled, res) = runPages(cfg0)
    assert(res.inferredNamespaces.nonEmpty)
    assert(Normalize.unresolvedPositions(Normalize.foldKeys(res.triples, res.registry)).isEmpty)
    // inference adds namespaces and leaves nothing unresolved: the snapshot
    // write, which folds F0 and counts round 1, and the re-fold
    assert((rideJobs, rideShuffled) == ((2, 0L)), res.metrics)
    assert(rideEntries.exists(e => e.nonEmpty && e.forall(_.exists(_ > 0))), rideEntries)
    val (fallback, overEntries, fallbackJobs, shuffled, _) = runPages(cfg0, budget = 0)
    assert(fallback == ride)
    assert(overEntries.exists(e => e.nonEmpty && e.forall(_.isEmpty)), overEntries)
    // round 1's aggregate and its exchange
    assert(fallbackJobs > rideJobs && shuffled > 0L, (rideJobs, fallbackJobs, shuffled))
    // cached instead of snapshotted: the job that fills the cache counts it
    val (cached, cachedEntries, cachedJobs, _, _) = runPages(cfg0.copy(resume = false))
    assert(cached == ride)
    assert(cachedEntries.exists(e => e.nonEmpty && e.forall(_.exists(_ > 0))), cachedEntries)
    assert(cachedJobs == rideJobs, (rideJobs, cachedJobs))
  }

  test("pages: countGarbage counts round 1 in a Spark aggregate and writes the same") {
    val (ride, _, rideJobs, _, _) = runPages(cfg0)
    val (gc, entries, jobs, _, _) = runPages(cfg0.copy(countGarbage = true))
    assert(entries.isEmpty)
    assert(jobs > rideJobs, (rideJobs, jobs))
    assert(gc == ride)
  }
}
