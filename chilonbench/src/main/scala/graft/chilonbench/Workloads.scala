package graft.chilonbench

import graft.model.{Page, PrefixDecl, SummaryRow}
import graft.ns.Registry
import graft.pipeline.{Pipeline, RdfPipeline}
import graft.rdf.RdfSource
import graft.sinks.{Snapshot, TtlSink, VisJson}
import graft.summarize.Normalize
import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SparkSession, functions => F}
import org.apache.spark.storage.StorageLevel

/** What one job produced, for the metrics and the output check. */
final case class JobOut(
    inputTriples: Long,
    rows: Seq[SummaryRow],
    triples: DataFrame,
    registry: Registry,
    hk: Option[Pipeline.InferHk] = None,
    prefixDecls: Long = 0L)

/** Input sizes and the run schedule. `full` is the benchmark; `smoke`, for
  * the benchmark's own test, runs tiny inputs with no warm-up and one timed
  * job.
  *
  * @param warmupJobs untimed jobs before the timed ones: the first job in a
  *                   JVM pays class loading and query code generation, and
  *                   the JIT keeps the next two slower than the rest
  * @param genRepeats input generation runs this often; setup_s counts the median
  * @param minJobs    jobs timed in a run at least, whatever `--seconds` says
  */
final case class Size(ntTriples: Int, ttlTriples: Int, pages: Int,
    warmupJobs: Int, genRepeats: Int, minJobs: Int)
object Size {
  val full = Size(ntTriples = 150000, ttlTriples = 80000, pages = 15000,
    warmupJobs = 3, genRepeats = 3, minJobs = 3)
  val smoke = Size(ntTriples = 40000, ttlTriples = 20000, pages = 2000,
    warmupJobs = 0, genRepeats = 1, minJobs = 1)
  def apply(name: String): Size = name match {
    case "full" => full
    case "smoke" => smoke
    case other => throw new IllegalArgumentException(s"unknown size '$other' (full, smoke)")
  }
}

sealed trait Workload {
  /** Writes the seeded inputs under `dir`; may be called more than once. */
  def generate(spark: SparkSession, dir: Path, seed: Long, cores: Int): Unit
  /** The job through the program's public entry point. */
  def run(spark: SparkSession, out: Path): JobOut
  /** The same job re-composed from the layer functions, one span per call. */
  def runTraced(spark: SparkSession, out: Path, tr: Tracer): JobOut
  /** None when the job's output is correct, else the reason. */
  def check(out: Path, res: JobOut): Option[String]
}

object Workload {
  val names = Seq("rdf_nt_infer", "ttl_declared", "pages_kg")
  def apply(name: String, size: Size): Workload = name match {
    case "rdf_nt_infer" => new RdfWorkload((d, s) => Inputs.ntInfer(d, s, size.ntTriples))
    case "ttl_declared" => new RdfWorkload((d, s) => Inputs.ttlDeclared(d, s, size.ttlTriples))
    case "pages_kg" => new PagesWorkload(size.pages)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (${names.mkString(", ")})")
  }

  /** The sink files, written as the pipelines write them. */
  def sinks(spark: SparkSession, out: Path, cfg: Pipeline.Config, rows: Seq[SummaryRow],
      groups: Seq[(String, String)], registry: Registry, lineage: Seq[String]): Unit = {
    val summary = spark.createDataFrame(rows)
      .select(F.col("s_ns"), F.col("p_ns"), F.col("o_ns"), F.col("is_datatype"), F.col("occurs"))
    TtlSink.write(out.resolve("output.ttl"), TtlSink.render(rows, groups, cfg.minOccurs))
    TtlSink.write(out.resolve("all-prefixes.json"), registry.toJson)
    val vis = VisJson.build(rows.filter(_.occurs >= cfg.minOccurs), groups.toMap)
    TtlSink.write(out.resolve("vis-data.json"), VisJson.toJson(vis))
    TtlSink.write(out.resolve("used-groups.tsv"), TtlSink.groupsTsv(groups))
    Snapshot.writeSmall(summary, out.resolve("summary").toString, "summary", lineage,
      rows.size.toLong)
  }

  /** alias -> (namespace, source) from an emitted `all-prefixes.json`. */
  def readPrefixes(path: Path): Map[String, (String, String)] = {
    import scala.jdk.CollectionConverters._
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(path.toFile)
    root.properties().asScala.map { e =>
      e.getKey -> (e.getValue.get(0).asText(), e.getValue.get(1).asText())
    }.toMap
  }
}

/** The two RDF-file workloads: chilon's own job, `RdfPipeline.run`. */
final class RdfWorkload(gen: (Path, Long) => RdfInput) extends Workload {
  private var input: RdfInput = _

  def inputMb: Double = input.bytes / 1e6

  def generate(spark: SparkSession, dir: Path, seed: Long, cores: Int): Unit =
    input = gen(dir, seed)

  private def paths = input.files.map(_.toString)

  def run(spark: SparkSession, out: Path): JobOut = {
    val res = RdfPipeline.run(spark, paths, Pipeline.Config(out.toString))
    JobOut(res.metrics.find(_.name == "scan").get.rows, TtlSink.collectRows(res.summary),
      res.triples, res.registry,
      prefixDecls = res.metrics.find(_.name == "prefix_decls").get.rows)
  }

  /** `RdfPipeline.run`, call by call. */
  def runTraced(spark: SparkSession, out: Path, tr: Tracer): JobOut = {
    val cfg = Pipeline.Config(out.toString)
    val ms = Vector.newBuilder[Pipeline.StageMetrics]
    def stage[A](span: String, stage: String)(f: => (A, Long)): A = {
      val t0 = System.nanoTime()
      val (a, rows) = tr.span(span)(f)
      ms += Pipeline.StageMetrics(stage, rows, (System.nanoTime() - t0) / 1000000)
      a
    }
    val (triplesDs, declsDs) = RdfSource.read(spark, paths)
    val (triples, nScan) = stage("rdf.scan", "scan") {
      val df = RdfPipeline.truncateIris(triplesDs.toDF()).persist(StorageLevel.MEMORY_AND_DISK)
      val n = df.count()
      ((df, n), n)
    }
    val decls: Array[PrefixDecl] = stage("rdf.decls", "prefix_decls") {
      val d = declsDs.collect()
      (d, d.length.toLong)
    }
    val (registry, hk) = tr.span("ns") {
      val declared = Registry.addDeclaredAll(Registry.community(),
        decls.sortBy(d => (d.ns.length, d.ns)).map(d => d.ns -> d.alias).toSeq)
      val (r, hk, _) = Pipeline.runInference(triples, declared, cfg, ms)
      (r, hk)
    }
    val (rows, groups) = stage("summarize", "summarize") {
      val bc = spark.sparkContext.broadcast(registry)
      val (r, g, _, _) = Normalize.summarizeWithGroups(triples, bc, cfg.ignoreUnknown)
      ((r, g), r.size.toLong)
    }
    stage("sinks", "sinks") {
      Workload.sinks(spark, out, cfg, rows, groups, registry, paths)
      ((), rows.size.toLong)
    }
    tr.span("pipeline.file_metrics") {
      val tallies = graft.sinks.Metrics.perSource(triples).collect()
        .map(r => new java.net.URI(r.getString(0)).getPath -> r).toMap
      val files = input.files.map { f =>
        val abs = f.toAbsolutePath.normalize.toString
        val t = tallies.get(abs)
        Pipeline.FileMetrics(f.toString, Files.size(f), t.fold(0L)(_.getLong(1)),
          t.fold(0L)(_.getLong(2)), t.fold(0L)(_.getLong(3)), t.fold(0L)(_.getLong(4)))
      }
      TtlSink.write(out.resolve("tasks.json"), Pipeline.tasksJson(ms.result(), hk, files))
    }
    JobOut(nScan, rows, triples, registry, Some(hk), decls.length.toLong)
  }

  /** Exact match of the summary, mapped to namespaces through the emitted
    * `all-prefixes.json`, against what the generator planted; and every
    * planted namespace registered with the expected source.
    */
  def check(out: Path, res: JobOut): Option[String] = {
    val prefixes = Workload.readPrefixes(out.resolve("all-prefixes.json"))
    val registered = prefixes.values.toSet
    val missing = input.planted.filterNot(registered)
    if (missing.nonEmpty)
      return Some(s"namespaces not registered as expected: ${missing.mkString(", ")}")
    def nsOf(alias: String): String = alias match {
      case Normalize.Blank => Expected.Blank
      case Normalize.Unknown => Expected.Unknown
      case a => prefixes.get(a).fold(s"<alias $a not in all-prefixes.json>")(_._1)
    }
    val actual = res.rows
      .groupMapReduce(r => (nsOf(r.s_ns), nsOf(r.p_ns), nsOf(r.o_ns), r.is_datatype))(_.occurs)(_ + _)
    val expected = input.expected.counts.toMap
    if (actual == expected) None
    else {
      val diff = (actual.keySet ++ expected.keySet).toSeq
        .filter(k => actual.get(k) != expected.get(k)).sortBy(_.toString).take(5)
        .map(k => s"$k: got ${actual.getOrElse(k, 0L)}, expected ${expected.getOrElse(k, 0L)}")
      Some(s"summary differs from the planted namespaces in ${
        (actual.keySet ++ expected.keySet).count(k => actual.get(k) != expected.get(k))
      } signatures, e.g. ${diff.mkString("; ")}")
    }
  }
}

/** Crawl pages to KG: `Pipeline.run` over a `Synth.pages` Parquet table. */
final class PagesWorkload(nPages: Int) extends Workload {
  private var dir: Path = _
  private var reference: Array[Byte] = _

  def pages: Long = nPages.toLong

  def generate(spark: SparkSession, d: Path, seed: Long, cores: Int): Unit =
    dir = Inputs.pages(spark, d, seed, nPages.toLong, cores)

  private def read(spark: SparkSession) = {
    import spark.implicits._
    spark.read.parquet(dir.toString).as[Page]
  }

  def run(spark: SparkSession, out: Path): JobOut = {
    val res = Pipeline.run(spark, read(spark), Pipeline.Config(out.toString))
    JobOut(res.metrics.find(_.name == "extract").get.rows, TtlSink.collectRows(res.summary),
      res.triples, res.registry)
  }

  /** `Pipeline.run`, call by call. Extraction runs inside the snapshot's
    * Parquet write, so the two share the `extract` span.
    */
  def runTraced(spark: SparkSession, out: Path, tr: Tracer): JobOut = {
    val cfg = Pipeline.Config(out.toString)
    val ms = Vector.newBuilder[Pipeline.StageMetrics]
    val triplesDir = out.resolve("triples").toString
    val t0 = System.nanoTime()
    val triples = tr.span("extract") {
      Snapshot.resumeOrWrite(spark, triplesDir, "triples", Seq("pages")) {
        Pipeline.extractTriples(read(spark)).toDF()
      }
    }
    val n = tr.span("pipeline.snapshot")(triples.count())
    ms += Pipeline.StageMetrics("extract", n, (System.nanoTime() - t0) / 1000000)
    val (registry, hk) = tr.span("ns") {
      val (r, hk, _) = Pipeline.runInference(triples, Registry.community(), cfg, ms)
      (r, hk)
    }
    val (rows, groups) = tr.span("summarize") {
      val bc = spark.sparkContext.broadcast(registry)
      val (r, g, _, _) = Normalize.summarizeWithGroups(triples, bc, cfg.ignoreUnknown)
      (r, g)
    }
    tr.span("sinks")(Workload.sinks(spark, out, cfg, rows, groups, registry, Seq(triplesDir)))
    tr.span("pipeline.tasks_json") {
      TtlSink.write(out.resolve("tasks.json"), Pipeline.tasksJson(ms.result(), hk, Nil))
    }
    JobOut(n, rows, triples, registry, Some(hk))
  }

  /** `output.ttl` byte-identical to the first job's, and the summary counts
    * every extracted triple once.
    */
  def check(out: Path, res: JobOut): Option[String] = {
    val ttl = Files.readAllBytes(out.resolve("output.ttl"))
    val occurs = res.rows.map(_.occurs).sum
    if (occurs != res.inputTriples)
      Some(s"summary counts $occurs triples, extraction produced ${res.inputTriples}")
    else if (reference == null) { reference = ttl; None }
    else if (!java.util.Arrays.equals(reference, ttl))
      Some("output.ttl differs from the first job's")
    else None
  }
}
