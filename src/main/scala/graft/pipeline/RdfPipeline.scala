package graft.pipeline

import graft.ns.{Inference, Registry}
import graft.rdf.RdfSource
import graft.sinks.{Metrics, TtlSink}
import graft.summarize.{Normalize, PassFold}
import org.apache.spark.sql.{DataFrame, Row, SparkSession, functions => F}
import java.nio.file.Paths

/** The reference's own entry point re-expressed: RDF files in, condensed
  * namespace summary out (chilon_rs `src/main.rs:38-165`).
  *
  * Stage order: the driver reads the `@prefix` declarations at the head of
  * each Turtle file (up to its first triple) -> one parallel scan
  * (line-format files cut into equal byte ranges, the other files read
  * whole, one task per group) whose single job folds every row under the
  * community registry plus those head declarations: the per-file tallies,
  * the summary keys (F0) and the segment prefixes of the IRIs that registry
  * leaves unresolved (round 1's candidates, like chilon's IriTrie); it
  * caches only the rows whose keys hold an UNKNOWN, the only rows later
  * passes read, while the parse hands on every `@prefix` declaration ->
  * their merge into the community registry (N7, `src/prefixes.rs:249-277`);
  * when the merge differs from the scan's registry, F0 is one more fold
  * over a fresh read (`fold`) and round 1 runs its aggregate -> inference
  * rounds over unresolved IRIs (Stage 2), skipped when F0 holds none ->
  * the summary (Stage 3): F0 with only the rows the inferred namespaces
  * resolve re-folded, `ignoreUnknown` applied to the merged keys on the
  * driver -> sinks (Stage 4: output.ttl, all-prefixes.json, vis-data.json,
  * the summary snapshot, tasks.json), all written on the driver. The cache
  * is dropped before [[RdfPipeline.run]] returns.
  */
object RdfPipeline {

  /** A run's summary, final registry and stage metrics; `triples` is the
    * whole triple table, capped ([[truncateIris]]) and not cached: each
    * action on it reads the input again.
    */
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

  /** What the scan job folded while it filled the cache of `pending`, the
    * rows whose summary keys under `registry` hold an UNKNOWN: the kind
    * tallies per file, the summary keys (F0 under `registry`), the rows of
    * each partition and those it cached, and round 1's prefix counts when
    * asked for them. `heads` holds the Turtle files' head declarations that
    * `registry` adds to the community registry, None when their read went
    * over a bound.
    */
  private[graft] final case class Scanned(
      pending: DataFrame,
      registry: Registry,
      heads: Option[Seq[graft.model.PrefixDecl]],
      tallies: Map[String, Metrics.Tally],
      keys: Map[Row, Long],
      partitionRows: Seq[Long],
      cachedRows: Seq[Long],
      prefixes: Option[Inference.FoldedPrefixes])

  /** The scan job: parses `triples` (the capped triples of `scan`) once,
    * folds every row under the community registry plus the Turtle files'
    * head declarations ([[RdfSource.headDeclarations]]) and persists only
    * the rows whose keys hold an UNKNOWN, MEMORY_AND_DISK. A failed job
    * leaves nothing persisted.
    */
  private[graft] def scanFold(spark: SparkSession, scan: RdfSource.Scan, triples: DataFrame,
      round1: Option[Inference.PrefixFold]): Scanned = {
    val community = Registry.community()
    val heads = RdfSource.headDeclarations(spark.sparkContext.hadoopConfiguration,
      scan.files.map(_._1))
    val registry = heads.fold(community)(h =>
      Registry.addDeclaredAll(community, RdfSource.mergeOrder(h).map(d => d.ns -> d.alias)))
    val unknown = Seq("s_ns", "p_ns", "o_ns").map(F.col(_) === Normalize.Unknown).reduce(_ || _)
    val fold = new PassFold(
      Normalize.summaryKeys(triples, registry, triples.columns.toSeq, round1.isDefined),
      triples.columns.length, Seq(Metrics.TallyColumns, Normalize.KeyColumns),
      round1, Some(unknown))
    val pending = org.apache.spark.sql.graftshim.ColumnShim
      .fromInternalRows(spark, fold.rows, triples.schema)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val counted =
      try {
        spark.sparkContext.runJob(pending.queryExecution.toRdd,
          (rows: Iterator[org.apache.spark.sql.catalyst.InternalRow]) => rows.foreach(_ => ()))
        fold.counted
      } catch { case e: Throwable => pending.unpersist(blocking = true); throw e }
    Scanned(pending, registry, heads, Metrics.tallies(counted.maps.head),
      counted.maps(1), counted.partitionRows, fold.passedRows, counted.prefixes)
  }

  /** [[run]] over a scan of `paths` already planned. `prefixBudget` bounds
    * the distinct prefixes that the scan's tasks hold together while they
    * count round 1 (tests force the fallback with 0).
    */
  private[graft] def run(spark: SparkSession, scan: RdfSource.Scan, paths: Seq[String],
      cfg: Pipeline.Config, prefixBudget: Int = Inference.IriTrieSize): RdfResult = {
    val metrics = Vector.newBuilder[Pipeline.StageMetrics]
    val triples = truncateIris(scan.triples.toDF())
    val declaring = scan.files.exists(f => !RdfSource.isLineFormat(f._1))
    var cached: Option[DataFrame] = None
    Pipeline.releaseOnFailure(cached) {
      // one parse: the scan job folds every row under the registry known
      // before it (the community registry plus the declarations at the
      // heads of the Turtle files): the per-file kind tallies, each
      // partition's rows, the summary keys (F0) and inference round 1's
      // prefixes, each task under its share of chilon's IriTrie bound. It
      // caches only the rows later passes read: those with an IRI that
      // registry leaves unresolved.
      val scanned = Pipeline.timed(metrics, "scan") {
        val s = scanFold(spark, scan, triples, Pipeline.round1Fold(cfg, prefixBudget))
        cached = Some(s.pending)
        (s, s.partitionRows.sum)
      }

      // registry: community + per-file @prefix decls (alias from file;
      // generated when the file declares the empty alias), merged in a total
      // order
      val r0 = Pipeline.timed(metrics, "prefix_decls") {
        val decls = scan.declarations
        (Registry.addDeclaredAll(Registry.community(), decls.map(d => d.ns -> d.alias)),
          decls.size.toLong)
      }

      // F0 and round 1's candidates are the scan's when its registry is r0;
      // otherwise (a declaration after a file's first triple, an alias the
      // heads did not settle, a head read over its bound) F0 is one more
      // job over a fresh read of the input and round 1 runs its aggregate.
      // The cache serves either way: a merge registers no namespace that
      // extends one already registered, so each namespace of the scan's
      // registry is in r0 or extends one of r0's, and r0 resolves whatever
      // the scan's registry resolves; unless a declared namespace got no
      // alias in r0 ([[covers]]), and then the later passes read the input.
      val exact = r0.byNs == scanned.registry.byNs
      val f0 = if (exact) scanned.keys else Pipeline.timed(metrics, "fold") {
        val f = Normalize.foldKeys(triples, r0)
        (f, f.size.toLong)
      }
      val later = if (exact || covers(r0, scanned.registry)) scanned.pending else {
        scanned.pending.unpersist(blocking = true)
        triples
      }

      // inference rounds (chilon Stage 2) when F0 shows unresolved IRIs,
      // the summary (Stage 3) and the sinks (Stage 4)
      val (registry, hk, _, summary) = Pipeline.summarizeAndSink(spark, later, r0, f0,
        scanned.prefixes.filter(_ => exact).flatMap(_.candidates), cfg, paths, metrics)

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
        val none = Metrics.Tally(0L, 0L, 0L, 0L)
        val out = scan.files.map { case (src, len) =>
          val f = canon(src)
          val t = byPath.getOrElse(f, none)
          Pipeline.FileMetrics(given.getOrElse(f, f), len, t.triples, t.iris, t.blanks, t.literals)
        }
        (out, out.size.toLong)
      }
      val ms = metrics.result()
      val declHeads = Option.when(declaring)(
        if (scanned.heads.isEmpty) "skipped" else if (exact) "held" else "missed")
      TtlSink.write(Paths.get(cfg.outDir, "tasks.json"),
        Pipeline.tasksJson(ms, hk, files, scanned.partitionRows,
          scanned.prefixes.fold(Seq.empty[Option[Int]])(_.taskEntries), scanned.cachedRows,
          declHeads))
      scanned.pending.unpersist(blocking = true)
      RdfResult(summary, registry, triples, ms)
    }
  }

  /** True when `r0` resolves every IRI `scanRegistry` resolves: each of its
    * namespaces starts with one of `r0`'s.
    */
  private def covers(r0: Registry, scanRegistry: Registry): Boolean =
    scanRegistry.byNs.keysIterator.forall(ns => r0.resolve(ns).isDefined)
}
