package graft.pipeline

import graft.ns.Registry
import graft.rdf.RdfSource
import graft.sinks.{TtlSink, VisJson}
import graft.summarize.Normalize
import org.apache.spark.sql.{DataFrame, SparkSession, functions => F}
import java.nio.file.Paths

/** The reference's own entry point re-expressed: RDF files in, condensed
  * namespace summary out (chilon_rs `src/main.rs:38-165`).
  *
  * Stage order mirrors the reference: one parallel scan (Turtle one file per
  * task) whose single job fills the triple cache and returns the per-file
  * tallies, while the parse hands on the `@prefix` declarations -> their
  * merge into the community registry (N7, `src/prefixes.rs:249-277`) ->
  * inference rounds over unresolved IRIs (Stage 2) -> normalize + summarize
  * as one exchange-free job (Stage 3) -> sinks (Stage 4: output.ttl,
  * all-prefixes.json, vis-data.json, tasks.json).
  */
object RdfPipeline {

  final case class RdfResult(
      summary: DataFrame,
      registry: Registry,
      triples: DataFrame,
      metrics: Seq[Pipeline.StageMetrics]
  )

  /** The reference applies the 200-grapheme cap to EVERY parsed IRI
    * (`normalize_iri`, src/prefixes.rs:431-444), so corpora with >200-char
    * IRIs summarize identically. Applied to s (when IRI), p, o (when IRI) and
    * the datatype IRI. The UDF only runs on rows that can exceed the cap
    * (length guard keeps the common path in codegen).
    */
  def truncateIris(df: DataFrame): DataFrame = {
    val trunc = F.udf((s: String) => graft.extract.Canonical.graphemeTruncate(s))
    def capped(c: org.apache.spark.sql.Column) =
      F.when(F.length(c) > graft.extract.Canonical.MaxGraphemes, trunc(c)).otherwise(c)
    df
      .withColumn("s", F.when(F.col("sKind") === graft.model.Kind.IRI, capped(F.col("s")))
        .otherwise(F.col("s")))
      .withColumn("p", capped(F.col("p")))
      .withColumn("o", F.when(F.col("oKind") === graft.model.Kind.IRI, capped(F.col("o")))
        .otherwise(F.col("o")))
      .withColumn("oDt", capped(F.col("oDt")))
  }

  def run(spark: SparkSession, paths: Seq[String], cfg: Pipeline.Config): RdfResult = {
    val metrics = Vector.newBuilder[Pipeline.StageMetrics]
    def timed[A](name: String)(f: => (A, Long)): A = {
      val t0 = System.nanoTime()
      val (a, rows) = f
      metrics += Pipeline.StageMetrics(name, rows, (System.nanoTime() - t0) / 1000000)
      a
    }

    // one parse: the job that fills the triple cache also returns the
    // per-file kind tallies, and the Turtle parse passes the @prefix
    // declarations out through an accumulator
    val scan = RdfSource.scan(spark, paths)
    val (triples, tallies) = timed("scan") {
      val df = truncateIris(scan.triples.toDF())
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val t = graft.sinks.Metrics.tally(df)
      ((df, t), t.valuesIterator.map(_.triples).sum)
    }

    // registry: community + per-file @prefix decls (alias from file; generated
    // when the file declares the empty alias), merged in a total order
    var registry = Registry.community()
    timed("prefix_decls") {
      val decls = scan.declarations
      registry = Registry.addDeclaredAll(registry, decls.map(d => d.ns -> d.alias))
      ((), decls.size.toLong)
    }

    // inference rounds (chilon Stage 2; shared delta-round loop)
    val (registry2, hk, _) = Pipeline.runInference(triples, registry, cfg, metrics)
    registry = registry2

    // normalize + summarize (chilon Stage 3, one fused job) + sinks (Stage 4)
    val bc = spark.sparkContext.broadcast(registry)
    val (rows, groups) = timed("summarize") {
      val (r, g, _, _) = Normalize.summarizeWithGroups(triples, bc, cfg.ignoreUnknown)
      ((r, g), r.size.toLong)
    }
    val summary = spark.createDataFrame(rows)
      .select(F.col("s_ns"), F.col("p_ns"), F.col("o_ns"), F.col("is_datatype"), F.col("occurs"))
    timed("sinks") {
      TtlSink.write(Paths.get(cfg.outDir, "output.ttl"),
        TtlSink.render(rows, groups, cfg.minOccurs))
      TtlSink.write(Paths.get(cfg.outDir, "all-prefixes.json"), registry.toJson)
      val vis = VisJson.build(rows.filter(_.occurs >= cfg.minOccurs), groups.toMap)
      TtlSink.write(Paths.get(cfg.outDir, "vis-data.json"), VisJson.toJson(vis))
      TtlSink.write(Paths.get(cfg.outDir, "used-groups.tsv"), TtlSink.groupsTsv(groups))
      graft.sinks.Snapshot.writeSmall(summary, Paths.get(cfg.outDir, "summary").toString,
        "summary", paths, rows.size.toLong)
      ((), rows.size.toLong)
    }
    // per-file metrics (reference Task records, meta_info.rs:31-46): byte
    // size and the scan job's kind tallies, keyed by the srcUrl the scan
    // stamped (file:/... for Turtle, file:///... for the line formats)
    val files = timed("file_metrics") {
      // normalize BOTH sides to an absolute filesystem path and match
      // exactly — suffix matching would misattribute when one input path is
      // a path-suffix of another (/data/x/g.ttl vs /backup/data/x/g.ttl)
      def canon(p: String): String = {
        val noScheme =
          if (p.startsWith("file:")) {
            try Paths.get(new java.net.URI(p)).toString
            catch { case _: Exception => p.stripPrefix("file:") }
          } else p
        try Paths.get(noScheme).toAbsolutePath.normalize.toString
        catch { case _: Exception => noScheme }
      }
      val byPath = tallies.map { case (src, t) => canon(src) -> t }
      // a directory or glob input expands to the files the scan read
      val listed = paths.flatMap { p =>
        if (RdfSource.isLineFormat(p)) Seq(p)
        else RdfSource.listFiles(spark, Seq(p)).map(f => canon(f._1)) match {
          case Seq(f) if f == canon(p) => Seq(p)
          case fs => fs
        }
      }
      val fs = (p: String) =>
        try java.nio.file.Files.size(Paths.get(p)) catch { case _: Exception => 0L }
      val none = graft.sinks.Metrics.Tally(0L, 0L, 0L, 0L)
      val out = listed.map { p =>
        val t = byPath.getOrElse(canon(p), none)
        Pipeline.FileMetrics(p, fs(p), t.triples, t.iris, t.blanks, t.literals)
      }
      (out, out.size.toLong)
    }
    val ms = metrics.result()
    TtlSink.write(Paths.get(cfg.outDir, "tasks.json"), Pipeline.tasksJson(ms, hk, files))
    RdfResult(summary, registry, triples, ms)
  }
}
