package graft.pipeline

import graft.extract.OpenIE
import graft.model.{Page, Triple}
import graft.ns.{Inference, Registry}
import graft.sinks.{Snapshot, TtlSink, VisJson}
import graft.summarize.Normalize
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession, functions => F}
import java.nio.file.Paths

/** End-to-end KG-construction + namespace-summarization pipeline
  * (BASELINE.json north_rule), the Spark re-expression of chilon's three-stage
  * run (`/root/reference/src/main.rs:38-165`):
  *
  *   Stage A  pages -> triples (flatMap generator: extractText check, mentions,
  *            entity linking, OpenIE, canonicalization) — checkpointed
  *            snapshot whose write job also folds the summary keys under the
  *            pre-inference registry (F0), counts each write task's rows for
  *            the manifest and, per task, the segment prefixes of the IRIs
  *            that registry misses and their occurrences (inference round
  *            1); the snapshot is read back with the schema it was written
  *            with, so the write is the only pass before F1
  *   Stage B  namespace inference rounds over still-unresolved IRIs, run
  *            only when F0 holds an unresolved IRI: round 1's candidates
  *            come from the pass that folded F0 (the snapshot write, the job
  *            that fills the triple cache, or the RDF scan), or from a
  *            salted prefix aggregation when a task went over its prefix
  *            budget, with `countGarbage`, or when the RDF scan's registry
  *            missed a declaration -> driver expansion -> registry; later
  *            rounds subtract the added namespaces' subtrees from round 1's
  *            collected counts on the driver
  *   Stage C  summary: F0, with only the rows the inferred namespaces resolve
  *            re-folded (F1); F1 also samples `example_unresolved` when
  *            round 1's unresolved occurrences less the added namespaces'
  *            sizes leave some, and a job of its own samples them when that
  *            count is unknown; `ignoreUnknown` filters the merged keys on
  *            the driver
  *   Stage D  sinks: output.ttl, all-prefixes.json, vis-data.json, tasks.json,
  *            summary Parquet snapshot, all written on the driver
  *
  * Unlike the reference's arrival-order-dependent mid-stream maintenance
  * (`src/prefixes.rs:209-247`), inference computes the order-independent fixed
  * point: rounds repeat on the remaining unresolved IRIs until no namespace is
  * added (bounded by `maxInferenceRounds`).
  */
object Pipeline {

  final case class Config(
      outDir: String,
      minOccurs: Int = 10,
      inferNs: Boolean = true,
      ignoreUnknown: Boolean = false,
      // expansion adds <= maxNs namespaces per round, so rich corpora need
      // several rounds to converge; rounds after the first are derived on
      // the driver, and they stop once no candidate is left
      maxInferenceRounds: Int = 4,
      salt: Int = 0,
      minNsSize: Long = Inference.MinNsSize,
      minDomainOccurs: Long = Inference.MinDomainOccurs,
      maxNs: Int = Inference.MaxNs,
      // driver-side candidate collect budget; corpora with more
      // above-threshold prefixes than this converge over multiple rounds,
      // each after a truncated collect counting again over the corpus
      // (an untruncated round's successors are derived on the driver)
      maxCollected: Int = Inference.MaxCollected,
      resume: Boolean = true,
      countGarbage: Boolean = false,
      // None = auto: persist the triple table only when NO parquet snapshot
      // backs it. With a snapshot, re-reading the columnar snapshot per
      // inference round (5 narrow columns, pruned scan) beats keeping a
      // second corpus-sized MEMORY_AND_DISK copy on executor disks — at
      // 100 TB the double-materialization IS the scale bug. Some(true/false)
      // forces either behavior.
      cacheTriples: Option[Boolean] = None
  )

  final case class StageMetrics(name: String, rows: Long, wallMs: Long)

  /** Inference housekeeping roll-up (reference `InferHK`,
    * `src/meta_info.rs:104-141`): rounds run, total wall, namespaces the
    * expansion proposed vs actually added, and (when
    * `Config.countGarbage`) domains GC'd for low frequency.
    */
  final case class InferHk(
      rounds: Int, wallMs: Long, inferredNs: Long, addedNs: Long, discardedNs: Long,
      exampleUnresolved: Seq[String] = Nil)

  /** Per-input-file record (reference `Task`, `src/meta_info.rs:31-46`):
    * byte size plus kind tallies. Per-file WALL duration is deliberately
    * absent — the reference parses one file per thread so a per-file wall
    * exists; a distributed scan splits one file across many tasks, so the
    * honest duration lives in the per-stage roll-up instead.
    */
  final case class FileMetrics(
      file: String, sizeBytes: Long, triples: Long, iris: Long, blanks: Long, literals: Long)

  final case class Result(
      summary: DataFrame,
      registry: Registry,
      triples: DataFrame,
      metrics: Seq[StageMetrics],
      inferredNamespaces: Seq[String]
  )

  /** Stage A: pages -> canonicalized triple table.
    *
    * Projects to (url, text) BEFORE the typed flatMap: extraction never
    * touches the `html` binary — the fattest column of the page table — so
    * Catalyst pushes the projection into the scan (ReadSchema drops `html`;
    * PlanSpec pins it) and the flatMap deserializes two strings instead of
    * the whole Page. At 100 TB that is the difference between reading the
    * text column family and reading the entire corpus.
    */
  def extractTriples(pages: Dataset[Page]): Dataset[Triple] = {
    val spark = pages.sparkSession
    import spark.implicits._
    extractTriplesUrlText(pages.select($"url", $"text").as[(String, String)])
  }

  /** Stage A over an already-projected (url, text) relation — the shape the
    * generator-backed queries feed directly (Synth.pagesUrlText) so the
    * opaque page `map` never constructs the html payload the extractor
    * provably ignores. Identical per-row logic to [[extractTriples]].
    */
  def extractTriplesUrlText(urlText: Dataset[(String, String)]): Dataset[Triple] = {
    val spark = urlText.sparkSession
    import spark.implicits._
    urlText.flatMap { case (url, text) => OpenIE.extract(url, text) }
  }

  /** Stage A for corpora WITHOUT a trusted extracted-text column: re-derives
    * text from the html bytes with the pinned deterministic extractor (the
    * per-row invariant `extractText(html) == text`, BASELINE.json input_hint).
    */
  def extractTriplesFromHtml(pages: Dataset[Page]): Dataset[Triple] = {
    val spark = pages.sparkSession
    import spark.implicits._
    pages.select($"url", $"html").as[(String, Array[Byte])]
      .flatMap { case (url, html) =>
        OpenIE.extract(url, graft.extract.HtmlText.extractText(html))
      }
  }

  def run(spark: SparkSession, pages: Dataset[Page], cfg: Config): Result =
    run(spark, pages, cfg, Inference.IriTrieSize)

  /** [[run]], with `prefixBudget` bounding the distinct prefixes that the
    * tasks of the pass folding F0 hold together while they count inference
    * round 1 (tests force the fallback with 0).
    */
  private[graft] def run(spark: SparkSession, pages: Dataset[Page], cfg: Config,
      prefixBudget: Int): Result =
    runExtracting(spark, cfg, () => extractTriples(pages).toDF(), prefixBudget)

  /** [[run]] over an already-projected (url, text) relation (see
    * [[extractTriplesUrlText]]): identical stages and outputs — the page
    * table's other columns never participate in the pipeline, so a caller
    * that HAS the projection (or a generator that can produce it without
    * building the html payload) skips the dead construction work.
    */
  def runUrlText(
      spark: SparkSession, urlText: Dataset[(String, String)], cfg: Config): Result =
    runExtracting(spark, cfg, () => extractTriplesUrlText(urlText).toDF(), Inference.IriTrieSize)

  /** Inference round 1's prefix count, folded with F0 when inference runs
    * and counts no garbage domains.
    */
  private[pipeline] def round1Fold(cfg: Config, prefixBudget: Int): Option[Inference.PrefixFold] =
    Option.when(cfg.inferNs && cfg.maxInferenceRounds > 0 && !cfg.countGarbage)(
      Inference.PrefixFold(Normalize.UnresolvedIriColumns, cfg.minNsSize, cfg.maxCollected,
        prefixBudget))

  /** F0 over `triples` under `r0` in one job, which also counts `round1`. */
  private def foldF0(triples: DataFrame, r0: Registry,
      round1: Option[Inference.PrefixFold]): Normalize.Counted =
    Normalize.countRowsBy(Normalize.summaryKeys(triples, r0, unresolved = round1.isDefined),
      Seq(Normalize.KeyColumns), round1)

  private def runExtracting(spark: SparkSession, cfg: Config, extracted: () => DataFrame,
      prefixBudget: Int): Result = {
    val metrics = Vector.newBuilder[StageMetrics]

    // ---- Stage A: extraction (snapshot + resume) -------------------------
    val r0 = Registry.community()
    val triplesDir = Paths.get(cfg.outDir, "triples").toString
    val round1 = round1Fold(cfg, prefixBudget)
    var cached: Option[DataFrame] = None
    releaseOnFailure(cached) {
      val (triples, f0) = timed(metrics, "extract") {
        val (df, written) =
          if (cfg.resume)
            Snapshot.resumeOrWriteFolded(spark, triplesDir, "triples", Seq("pages"),
              df => Normalize.summaryKeys(df, r0, df.columns.toSeq, round1.isDefined),
              round1)(extracted())
          else (extracted(), None)
        // F0, the summary fold under r0, and round 1's prefix count ride the
        // extraction job when it writes the snapshot now, else the job that
        // fills the cache when the table is cached, else they are a job of
        // their own. Snapshot-backed runs re-read the snapshot instead of
        // caching a second corpus-sized copy.
        val cache = cfg.cacheTriples.getOrElse(!cfg.resume)
        if (cache) cached = Some(df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
        val out = cached.getOrElse(df)
        val f0 = written.filter(_ => !cache).getOrElse(foldF0(out, r0, round1))
        ((out, f0), f0.partitionRows.sum)
      }
      runFromTriples(spark, triples, r0, f0, cfg, triplesDir, metrics)
    }
  }

  /** Chunked Stage A: the page corpus is processed in independent chunks,
    * each checkpointed under `triples/chunk=K` with its own per-partition
    * manifest; a re-run recomputes ONLY incomplete chunks (idempotent
    * partition-level resume, north rule). On a real cluster a chunk is an
    * input-split range of the Iceberg-style page table.
    */
  def runChunked(
      spark: SparkSession,
      nChunks: Int,
      chunk: Int => Dataset[Page],
      cfg: Config
  ): Result = {
    val metrics = Vector.newBuilder[StageMetrics]
    val r0 = Registry.community()
    val round1 = round1Fold(cfg, Inference.IriTrieSize)
    val triplesDir = Paths.get(cfg.outDir, "triples").toString
    var cached: Option[DataFrame] = None
    releaseOnFailure(cached) {
      val (triples, f0) = timed(metrics, "extract") {
        var computed = 0
        (0 until nChunks).foreach { k =>
          val dir = Paths.get(triplesDir, s"chunk=$k").toString
          if (!(cfg.resume && Snapshot.isCompleteFor(dir, Seq(s"pages[chunk=$k]")))) {
            Snapshot.write(extractTriples(chunk(k)).toDF(), dir, s"triples/chunk=$k",
              Seq(s"pages[chunk=$k]"))
            computed += 1
          }
        }
        // always snapshot-backed here: the chunk parquet is the materialization,
        // read with the schema its manifests record
        val read = Snapshot.read(spark, (0 until nChunks).map(k => s"$triplesDir/chunk=$k"): _*)
        if (cfg.cacheTriples.contains(true))
          cached = Some(read.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
        val df = cached.getOrElse(read)
        metrics += StageMetrics("chunks_computed", computed.toLong, 0L)
        // the summary fold under r0 (F0) is the row count (and fills the
        // cache); it also counts inference round 1
        val f0 = foldF0(df, r0, round1)
        ((df, f0), f0.partitionRows.sum)
      }
      runFromTriples(spark, triples, r0, f0, cfg, triplesDir, metrics)
    }
  }

  /** Incremental Stage C over a new crawl segment: with the registry FROZEN
    * (inference refreshes are periodic full builds — the same contract as the
    * reference, which fixes the registry before its Stage 3), the namespace
    * summary of (previous corpus ∪ delta) is the per-group sum of the
    * previous summary SNAPSHOT and the delta's own summary
    * ([[Normalize.mergeSummaries]] — summary counts are additive over
    * disjoint triple sets). Cost: one distributed pass over the DELTA only;
    * the previous corpus is never re-read (its summary is group-space-sized).
    * With `outDir` set the merged summary is snapshotted with lineage =
    * previous lineage + the delta tag, so a chain of increments records its
    * full provenance.
    */
  def incrementalSummary(
      spark: SparkSession,
      prevSummaryDir: String,
      deltaTriples: DataFrame,
      registry: Registry,
      ignoreUnknown: Boolean = false,
      outDir: Option[String] = None,
      deltaTag: String = "delta"
  ): DataFrame = {
    val bc = spark.sparkContext.broadcast(registry)
    val prev = spark.read.parquet(prevSummaryDir)
    val deltaSum = Normalize.summarize(Normalize.normalize(deltaTriples, bc, ignoreUnknown))
    val merged = Normalize.mergeSummaries(prev, deltaSum)
    outDir match {
      case Some(d) =>
        // cache before count+write: otherwise the prev-snapshot read, delta
        // normalize/summarize and merge execute TWICE (once per action); the
        // merged summary is group-space-sized, so the cache is tiny
        merged.persist()
        try {
          val rows = merged.count()
          val prevInputs = Snapshot.readLineage(prevSummaryDir).map(_._2)
            .getOrElse(Seq(prevSummaryDir))
          Snapshot.writeSmall(merged, d, "summary", prevInputs :+ deltaTag, rows)
        } finally merged.unpersist()
        spark.read.parquet(d)
      case None => merged
    }
  }

  /** Runs one stage and records its wall time and row count in `metrics`. */
  private[pipeline] def timed[A](
      metrics: scala.collection.mutable.Builder[StageMetrics, Vector[StageMetrics]],
      name: String
  )(f: => (A, Long)): A = {
    val t0 = System.nanoTime()
    val (a, rows) = f
    metrics += StageMetrics(name, rows, (System.nanoTime() - t0) / 1000000)
    a
  }

  /** Runs `body`; when it throws, first unpersists what `cached` holds by
    * then, waiting for its blocks to go, so a failed run leaves no cached
    * blocks behind.
    */
  private[pipeline] def releaseOnFailure[A](cached: => Option[DataFrame])(body: => A): A =
    try body
    catch { case e: Throwable => cached.foreach(_.unpersist(blocking = true)); throw e }

  private def runFromTriples(
      spark: SparkSession,
      triples: DataFrame,
      r0: Registry,
      f0: Normalize.Counted,
      cfg: Config,
      triplesDir: String,
      metrics: scala.collection.mutable.Builder[StageMetrics, Vector[StageMetrics]]
  ): Result = {
    val (registry, hk, inferredAll, summary) = summarizeAndSink(spark, triples, r0,
      f0.maps.head, f0.prefixes, cfg, Seq(triplesDir), metrics)
    val ms = metrics.result()
    TtlSink.write(Paths.get(cfg.outDir, "tasks.json"), tasksJson(ms, hk, Nil, f0.partitionRows,
      f0.prefixes.fold(Seq.empty[Option[Int]])(_.taskEntries)))
    Result(summary, registry, triples, ms, inferredAll)
  }

  /** Stages B, C and D, summary first (the reference sends only registry
    * misses to inference, `src/prefixes.rs:193-207`).
    *
    *   - `f0` holds the summary keys of `triples` under the pre-inference
    *     registry `r0`, counted without the `ignoreUnknown` filter.
    *   - When no key holds an unresolved IRI, inference round 1 would count
    *     an empty set: it is recorded with 0 rows and no Spark job, and `f0`
    *     is the final summary. Otherwise [[runInference]] runs, with
    *     `round1`'s candidates as round 1's when the pass that folded `f0`
    *     also counted them under `r0`.
    *   - When inference added namespaces, only the rows they resolve are
    *     re-folded ([[Normalize.refold]], F1), not the whole table.
    *   - `example_unresolved` samples up to [[Inference.Examples]] IRIs the
    *     final registry leaves unresolved, only when there are some. When
    *     `round1` counted the unresolved occurrences and every added
    *     namespace is a segment boundary, the occurrences left are known
    *     before F1 ([[Inference.leftUnresolved]]): F1 takes the sample when
    *     some are left and is the plain re-fold when none are. Otherwise,
    *     when inference ran and the final keys still hold an unresolved
    *     IRI, one early-stopping job after F1 samples them.
    *   - The sinks and the summary snapshot are written on the driver.
    *
    * Returns the final registry, the housekeeping, the added namespaces and
    * the summary as a driver-local DataFrame.
    */
  private[pipeline] def summarizeAndSink(
      spark: SparkSession,
      triples: DataFrame,
      r0: Registry,
      f0: Map[Row, Long],
      round1: Option[Inference.FoldedPrefixes],
      cfg: Config,
      lineage: Seq[String],
      metrics: scala.collection.mutable.Builder[StageMetrics, Vector[StageMetrics]]
  ): (Registry, InferHk, Vector[String], DataFrame) = {
    // ---- Stage B: inference rounds, when something is unresolved ---------
    val (registry, hk, added) =
      if (cfg.inferNs && cfg.maxInferenceRounds > 0 && !Normalize.hasUnresolvedIri(f0)) {
        metrics += StageMetrics("infer_round_1", 0L, 0L)
        (r0, InferHk(1, 0L, 0L, 0L, 0L), Vector.empty[(String, Long)])
      } else runInference(triples, r0, cfg, metrics, round1.flatMap(_.candidates))
    val inferredAll = added.map(_._1)
    // the IRI occurrences still unresolved, when round 1's fold counted them
    val left = round1.flatMap(_.occurrences).filter(_ => added.nonEmpty)
      .flatMap(Inference.leftUnresolved(_, added))

    // ---- Stage C: re-fold what the added namespaces resolve --------------
    val (rows, groups, examples) = timed(metrics, "summarize") {
      val (counts, sampled) =
        if (inferredAll.isEmpty) (f0, Nil)
        else Normalize.refold(triples, f0, inferredAll, registry,
          if (left.exists(_ > 0)) Inference.Examples else 0)
      // example IRIs left unresolved under the final registry (O6; the
      // reference logs some, iri_trie.rs:232-236), from the positions where
      // the final keys hold one; a fully resolved input samples nothing
      val positions = if (hk.rounds > 0) Normalize.unresolvedPositions(counts) else Nil
      left.foreach(l => require((l > 0) == positions.nonEmpty,
        s"$l IRI occurrences predicted unresolved, but the final keys hold " +
          s"unresolved IRIs in ${positions.mkString("[", ", ", "]")}"))
      val examples =
        if (left.isDefined || positions.isEmpty) sampled
        else Inference.sampleUnresolved(Normalize.unresolvedIris(triples, registry, positions))
      val (r, g, _, _) = Normalize.fromKeyCounts(counts, registry, cfg.ignoreUnknown)
      ((r, g, examples), r.size.toLong)
    }
    val summary = spark.createDataFrame(rows)
      .select(F.col("s_ns"), F.col("p_ns"), F.col("o_ns"), F.col("is_datatype"), F.col("occurs"))

    // ---- Stage D: sinks (driver-side; the summary is tiny by construction) -
    timed(metrics, "sinks") {
      TtlSink.write(Paths.get(cfg.outDir, "output.ttl"),
        TtlSink.render(rows, groups, cfg.minOccurs))
      TtlSink.write(Paths.get(cfg.outDir, "all-prefixes.json"), registry.toJson)
      val vis = VisJson.build(rows.filter(_.occurs >= cfg.minOccurs), groups.toMap)
      TtlSink.write(Paths.get(cfg.outDir, "vis-data.json"), VisJson.toJson(vis))
      TtlSink.write(Paths.get(cfg.outDir, "used-groups.tsv"), TtlSink.groupsTsv(groups))
      Snapshot.writeSmall(summary, Paths.get(cfg.outDir, "summary").toString,
        "summary", lineage, rows.size.toLong)
      ((), rows.size.toLong)
    }
    (registry, hk.copy(exampleUnresolved = examples), inferredAll, summary)
  }

  /** Stage B: inference rounds to the order-independent fixed point.
    *
    * Round 1 takes `round1` as its candidates when a pass that runs anyway
    * counted them (the RDF scan, [[RdfPipeline.scanFold]]; the pages triple
    * snapshot's write or the job that fills the triple cache). Otherwise it
    * scans the triple table once (explode s/p/o, keep registry misses),
    * aggregates the segment prefixes and collects those at or above
    * `minNsSize`, the same candidates. Rounds 2+ run on the driver: the unresolved set only
    * shrinks, so the next round's candidates are this round's minus the
    * subtrees of the namespaces it added ([[Inference.nextCandidates]]).
    * Rounds stop when one adds nothing or no candidate is left.
    *
    * The derivation is exact when the collect was not truncated
    * (`maxCollected`) and every added namespace is a host-gated segment
    * boundary ([[Inference.nextRoundDerivable]]), and it cannot count the
    * garbage domains. When a condition fails, or `countGarbage` is set, the
    * next round runs round 1's query again under the grown registry. Nothing
    * is cached.
    *
    * Returns the final registry, the housekeeping and each added namespace
    * with its size, its count among the candidates of the round that added
    * it.
    */
  private[graft] def runInference(
      triples: DataFrame,
      initial: Registry,
      cfg: Config,
      metrics: scala.collection.mutable.Builder[StageMetrics, Vector[StageMetrics]],
      round1: Option[Seq[Inference.PrefixCount]] = None
  ): (Registry, InferHk, Vector[(String, Long)]) = {
    var registry = initial
    val addedAll = Vector.newBuilder[(String, Long)]
    var hk = InferHk(0, 0L, 0L, 0L, 0L)
    // this round's candidates when counted already or derived on the
    // driver; None counts
    var derived: Option[Seq[Inference.PrefixCount]] = round1
    var go = cfg.inferNs
    while (go && hk.rounds < cfg.maxInferenceRounds) {
      val t0 = System.nanoTime()
      val (inferred, nGarbage, candidates) = derived match {
        case Some(c) =>
          (Inference.inferNamespaces(c, cfg.minNsSize, cfg.minDomainOccurs, cfg.maxNs)._1, 0L, c)
        case None =>
          Inference.inferFromIrisWithCandidates(Normalize.unresolvedIris(triples, registry),
            cfg.salt, cfg.minNsSize, cfg.minDomainOccurs, cfg.maxNs, cfg.countGarbage,
            cfg.maxCollected)
      }
      val (reg2, addedNs) = registry.withNamespaces(inferred)
      registry = reg2
      val sizes = inferred.collect { case (ns, size, _) if addedNs.contains(ns) => ns -> size }
      addedAll ++= sizes
      val next =
        if (addedNs.isEmpty || !Inference.nextRoundDerivable(candidates, addedNs, cfg.maxCollected))
          None
        else Some(Inference.nextCandidates(candidates, sizes, cfg.minNsSize))
      // an empty derived set ends the rounds also when garbage is counted
      go = addedNs.nonEmpty && !next.exists(_.isEmpty)
      derived = next.filter(_ => !cfg.countGarbage)
      val wallMs = (System.nanoTime() - t0) / 1000000
      hk = InferHk(hk.rounds + 1, hk.wallMs + wallMs, hk.inferredNs + inferred.size,
        hk.addedNs + addedNs.size, hk.discardedNs + nGarbage)
      metrics += StageMetrics(s"infer_round_${hk.rounds}", addedNs.size.toLong, wallMs)
    }
    (registry, hk, addedAll.result())
  }

  def metricsJson(ms: Seq[StageMetrics]): String =
    ms.map { m =>
      // rows/s telemetry per stage (reference logs resources/s + triples/s,
      // src/prefixes.rs:279-308 / counter.rs — ours is per stage, exact)
      val rps = if (m.wallMs > 0) m.rows * 1000 / m.wallMs else 0L
      s"""  {"stage": ${Registry.jstr(m.name)}, "rows": ${m.rows}, "wall_ms": ${m.wallMs}, "rows_per_sec": $rps}"""
    }.mkString("[\n", ",\n", "\n]")

  /** tasks.json (reference `MetaInfo`, `src/meta_info.rs:31-46,104-141,241-246`):
    * per-stage roll-ups (duration + row count), inference housekeeping, on
    * the RDF-file path per-file byte size and kind tallies, and the rows of
    * each partition of the pass that folded F0 (`scan_partition_rows`: the
    * RDF scan, or on the pages path the snapshot write or the job that
    * fills the cache; its skew; omitted when empty) and, when that pass
    * counted round 1, each of its tasks' distinct prefixes
    * (`scan_prefix_entries`, null for a task over its budget, whose run
    * then counted round 1 in a Spark aggregate; omitted when empty). The
    * RDF scan also records the rows each of its tasks cached for the later
    * passes (`scan_cached_rows`) and, when some input is Turtle, what became
    * of the declarations read at the files' heads (`decl_heads`: "held"
    * when they gave the full parse's registry, so the scan's F0 and round 1
    * stand; "missed" when they did not, so a `fold` stage ran; "skipped"
    * when their read went over a bound).
    */
  def tasksJson(ms: Seq[StageMetrics], hk: InferHk, files: Seq[FileMetrics],
      scanPartitionRows: Seq[Long] = Nil, scanPrefixEntries: Seq[Option[Int]] = Nil,
      scanCachedRows: Seq[Long] = Nil, declHeads: Option[String] = None): String = {
    val filesJson = files.map { f =>
      s"""    {"file": ${Registry.jstr(f.file)}, "size_bytes": ${f.sizeBytes}, "triples": ${f.triples}, "iris": ${f.iris}, "blanks": ${f.blanks}, "literals": ${f.literals}}"""
    }.mkString("[\n", ",\n", "\n  ]")
    def field(name: String, values: Seq[String]) =
      if (values.isEmpty) "" else s"""\n  "$name": ${values.mkString("[", ", ", "]")},"""
    val scanJson = field("scan_partition_rows", scanPartitionRows.map(_.toString)) +
      field("scan_prefix_entries", scanPrefixEntries.map(_.fold("null")(_.toString))) +
      field("scan_cached_rows", scanCachedRows.map(_.toString)) +
      declHeads.fold("")(h => s"""\n  "decl_heads": ${Registry.jstr(h)},""")
    s"""{
  "stages": ${metricsJson(ms).linesIterator.mkString("\n  ")},$scanJson
  "infer_hk": {"rounds": ${hk.rounds}, "wall_ms": ${hk.wallMs}, "inferred_ns": ${hk.inferredNs}, "added_ns": ${hk.addedNs}, "discarded_ns": ${hk.discardedNs}, "example_unresolved": ${hk.exampleUnresolved.map(Registry.jstr).mkString("[", ", ", "]")}},
  "files": ${if (files.isEmpty) "[]" else filesJson}
}"""
  }
}
