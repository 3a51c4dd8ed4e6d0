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
  * Stage order: one parallel scan (Turtle one file per task) whose single job
  * fills the triple cache and returns the per-file tallies, while the parse
  * hands on the `@prefix` declarations -> their merge into the community
  * registry (N7, `src/prefixes.rs:249-277`) -> one exchange-free fold of the
  * summary keys under that registry (`fold`, F0) -> inference rounds over
  * unresolved IRIs (Stage 2), skipped when F0 holds none -> the summary
  * (Stage 3): F0 with only the rows the inferred namespaces resolve
  * re-folded, `ignoreUnknown` applied to the merged keys on the driver ->
  * sinks (Stage 4: output.ttl, all-prefixes.json, vis-data.json, the
  * summary snapshot, tasks.json), all written on the driver.
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

    // one parse: the job that fills the triple cache also returns the
    // per-file kind tallies, and the Turtle parse passes the @prefix
    // declarations out through an accumulator. Line-format inputs declare
    // nothing, so their registry is known before the scan, and the same job
    // also folds the summary keys under it (F0).
    val scan = RdfSource.scan(spark, paths)
    val declaring = !paths.forall(RdfSource.isLineFormat)
    val community = Registry.community()
    var cached: Option[DataFrame] = None
    Pipeline.releaseOnFailure(cached) {
      val (triples, tallies, scanFold) = Pipeline.timed(metrics, "scan") {
        val df = truncateIris(scan.triples.toDF())
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        cached = Some(df)
        val (t, f) =
          if (declaring) (graft.sinks.Metrics.tally(df), None)
          else graft.sinks.Metrics.tallyAndFold(df, community) match { case (t, f) => (t, Some(f)) }
        ((df, t, f), t.valuesIterator.map(_.triples).sum)
      }

      // registry: community + per-file @prefix decls (alias from file;
      // generated when the file declares the empty alias), merged in a total
      // order
      val r0 = Pipeline.timed(metrics, "prefix_decls") {
        val decls = scan.declarations
        (Registry.addDeclaredAll(community, decls.map(d => d.ns -> d.alias)),
          decls.size.toLong)
      }

      // the summary keys under r0 (F0): one job over the cache after the
      // declarations merge, unless the scan folded them
      val f0 = scanFold.getOrElse(Pipeline.timed(metrics, "fold") {
        val f = Normalize.foldKeys(triples, r0)
        (f, f.size.toLong)
      })

      // inference rounds (chilon Stage 2) when F0 shows unresolved IRIs,
      // the summary (Stage 3) and the sinks (Stage 4)
      val (registry, hk, _, summary) =
        Pipeline.summarizeAndSink(spark, triples, r0, f0, cfg, paths, metrics)

      // per-file metrics (reference Task records, meta_info.rs:31-46): byte
      // size and the scan job's kind tallies, keyed by the srcUrl the scan
      // stamped (file:/... for Turtle, file:///... for the line formats)
      val files = Pipeline.timed(metrics, "file_metrics") {
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
}
