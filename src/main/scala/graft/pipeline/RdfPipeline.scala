package graft.pipeline

import graft.ns.{Inference, Registry}
import graft.rdf.RdfSource
import graft.sinks.{TtlSink, VisJson}
import graft.summarize.Normalize
import org.apache.spark.sql.{DataFrame, SparkSession, functions => F}
import java.nio.file.Paths

/** The reference's own entry point re-expressed: RDF files in, condensed
  * namespace summary out (chilon_rs `src/main.rs:38-165`).
  *
  * Stage order: one parallel scan (line-format files cut into equal byte
  * ranges, the other files read whole, one task per group) whose single job
  * fills the triple cache and returns the per-file tallies, while the parse
  * hands on the `@prefix` declarations -> their merge into the community
  * registry (N7, `src/prefixes.rs:249-277`) -> one exchange-free fold of the
  * summary keys under that registry (F0; its own `fold` job after a
  * declaring input, else inside the scan job, which then also counts the
  * segment prefixes of the IRIs the registry leaves unresolved, round 1's
  * candidates, like chilon's IriTrie) -> inference rounds over unresolved
  * IRIs (Stage 2), skipped when F0 holds none -> the summary
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
    * the datatype IRI, in one projection that keeps the column order. The
    * UDF only runs on rows that can exceed the cap: a string has no more
    * graphemes than UTF-8 bytes, and the byte length is read from the
    * value's header, so the guard keeps the common path in codegen.
    */
  def truncateIris(df: DataFrame): DataFrame = {
    val trunc = F.udf((s: String) => graft.extract.Canonical.graphemeTruncate(s))
    def capped(c: String) =
      F.when(F.octet_length(F.col(c)) > graft.extract.Canonical.MaxGraphemes, trunc(F.col(c)))
        .otherwise(F.col(c))
    def cappedIri(c: String, kind: String) =
      F.when(F.col(kind) === graft.model.Kind.IRI, capped(c)).otherwise(F.col(c))
    df.select(df.columns.toSeq.map {
      case "s" => cappedIri("s", "sKind").as("s")
      case c @ ("p" | "oDt") => capped(c).as(c)
      case "o" => cappedIri("o", "oKind").as("o")
      case c => F.col(c)
    }: _*)
  }

  def run(spark: SparkSession, paths: Seq[String], cfg: Pipeline.Config): RdfResult =
    run(spark, RdfSource.scan(spark, paths), paths, cfg)

  /** [[run]] over a scan of `paths` already planned. `prefixBudget` bounds
    * the distinct prefixes that the scan's tasks hold together while they
    * count round 1 (tests force the fallback with 0).
    */
  private[graft] def run(spark: SparkSession, scan: RdfSource.Scan, paths: Seq[String],
      cfg: Pipeline.Config, prefixBudget: Int = Inference.IriTrieSize): RdfResult = {
    val metrics = Vector.newBuilder[Pipeline.StageMetrics]

    // one parse: the job that fills the triple cache also returns the
    // per-file kind tallies and each partition's rows, and the Turtle parse
    // passes the @prefix declarations out through an accumulator. Line-format
    // files declare nothing, so when every listed file is one, the registry
    // is known before the scan, and the same job also folds the summary keys
    // under it (F0) and counts inference round 1's prefixes. Each task holds
    // at most its share of chilon's IriTrie bound; when one goes over, or
    // round 1 must count what the fold does not keep (the garbage domains),
    // round 1 runs its Spark aggregate instead.
    val declaring = scan.files.exists(f => !RdfSource.isLineFormat(f._1))
    val community = Registry.community()
    val countRound1 =
      !declaring && cfg.inferNs && cfg.maxInferenceRounds > 0 && !cfg.countGarbage
    var cached: Option[DataFrame] = None
    Pipeline.releaseOnFailure(cached) {
      val (triples, scanned) = Pipeline.timed(metrics, "scan") {
        val df = truncateIris(scan.triples.toDF())
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        cached = Some(df)
        val round1 = Option.when(countRound1)(Inference.PrefixFold(
          Normalize.UnresolvedIriColumns, cfg.minNsSize, cfg.maxCollected, prefixBudget))
        val f = graft.sinks.Metrics.tally(df, Option.when(!declaring)(community), round1)
        ((df, f), f.tallies.valuesIterator.map(_.triples).sum)
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
      val f0 = scanned.keys.getOrElse(Pipeline.timed(metrics, "fold") {
        val f = Normalize.foldKeys(triples, r0)
        (f, f.size.toLong)
      })

      // inference rounds (chilon Stage 2) when F0 shows unresolved IRIs,
      // the summary (Stage 3) and the sinks (Stage 4)
      val (registry, hk, _, summary) = Pipeline.summarizeAndSink(spark, triples, r0, f0,
        scanned.prefixes.flatMap(_.candidates), cfg, paths, metrics)

      // per-file metrics (reference Task records, meta_info.rs:31-46): the
      // listed byte size and the scan job's kind tallies, keyed by the srcUrl
      // the scan stamped (the listed file:/... path)
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
        val byPath = scanned.tallies.map { case (src, t) => canon(src) -> t }
        // a directory or glob input expands to the files the scan listed; a
        // file input keeps the name it was given
        val given = paths.map(p => canon(p) -> p).toMap
        val none = graft.sinks.Metrics.Tally(0L, 0L, 0L, 0L)
        val out = scan.files.map { case (src, len) =>
          val f = canon(src)
          val t = byPath.getOrElse(f, none)
          Pipeline.FileMetrics(given.getOrElse(f, f), len, t.triples, t.iris, t.blanks, t.literals)
        }
        (out, out.size.toLong)
      }
      val ms = metrics.result()
      TtlSink.write(Paths.get(cfg.outDir, "tasks.json"),
        Pipeline.tasksJson(ms, hk, files, scanned.partitionRows,
          scanned.prefixes.fold(Seq.empty[Option[Int]])(_.taskEntries)))
      RdfResult(summary, registry, triples, ms)
    }
  }
}
