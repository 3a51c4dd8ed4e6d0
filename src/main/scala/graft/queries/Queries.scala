package graft.queries

import graft.dedup.Dedup
import graft.model.Kind
import graft.multimodal.Media
import graft.ns.{Inference, Registry}
import graft.sim.Similarity
import graft.summarize.Normalize
import graft.textops.TextOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession, functions => F}
import org.apache.spark.sql.expressions.Window

/** The driver-facing query catalog: every operator from SURVEY.md §2 plus the
  * training-data operators, each as a `(SparkSession, sfDir) => DataFrame` with
  * (where SQL-expressible) a DuckDB oracle in [[Oracles]].
  *
  * Chilon-semantics queries run the REAL engine path (broadcast-trie
  * resolution, normalize, summarize, inference) over triples derived
  * deterministically from the `documents` table with SQL-expressible rules, so
  * the DuckDB oracle can recompute the expected result independently — the
  * oracle validates the engine, not a reimplementation of it.
  */
object Queries {

  /** Run `body` with `spark.sql.shuffle.partitions` temporarily lowered for a
    * streaming drain, restoring the caller's value afterwards. Stateful
    * streaming runs WITHOUT AQE (Spark disables it), so every stateful
    * operator plans exactly `spark.sql.shuffle.partitions` tasks AND commits
    * that many state-store partitions per micro-batch — with the bench
    * session's 32 that is 32 store deltas per operator per batch for
    * fixture-scale state, pure per-batch overhead. The right production
    * value tracks STATE SIZE, not the driver's core count, so it is an env
    * knob (`SPARK_GRAFT_STREAM_SHUFFLE`, default 4) rather than a constant;
    * results are partition-count-independent (the oracles depend only on
    * the file->micro-batch schedule).
    */
  private def withStreamShuffle[A](spark: SparkSession)(body: => A): A = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, sys.env.getOrElse("SPARK_GRAFT_STREAM_SHUFFLE", "4"))
    try body finally spark.conf.set(key, prev)
  }

  private def docs(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")

  /** Test-visible documents loader (PlanSpec builds ad-hoc plans on it). */
  def docsPublic(spark: SparkSession, dir: String): DataFrame = docs(spark, dir)

  // ---------------------------------------------------------------------------
  // Derived-triple fixture (shared by the chilon-core queries).
  // Rules are mirrored 1:1 in Oracles.derivedTriplesSql.
  // ---------------------------------------------------------------------------
  def derivedTriples(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val id = F.col("doc_id")
    d.select(
      F.when(id % 7 === 3, F.concat(F.lit("b"), id))
        .otherwise(F.concat(F.lit("http://dbpedia.org/resource/E"), id % 50)).as("s"),
      F.when(id % 7 === 3, F.lit(Kind.BLANK)).otherwise(F.lit(Kind.IRI)).as("sKind"),
      F.when(id % 3 === 0, "http://dbpedia.org/ontology/knows")
        .when(id % 3 === 1, "https://schema.org/worksFor")
        .otherwise("http://unreg.example.net/p/rel").as("p"),
      F.when(id % 5 === 0, F.concat(F.lit("http://dbpedia.org/resource/E"), id % 40))
        .when(id % 5 === 1, F.concat(F.lit("http://www.wikidata.org/entity/Q"), id % 30))
        .when(id % 5 === 2, F.concat(F.lit("lit-"), id))
        .when(id % 5 === 3, F.concat(F.lit("texto-"), id))
        .otherwise(F.lit("42")).as("o"),
      F.when(id % 5 === 0 || id % 5 === 1, F.lit(Kind.IRI))
        .when(id % 5 === 2, F.lit(Kind.LIT_PLAIN))
        .when(id % 5 === 3, F.lit(Kind.LIT_LANG))
        .otherwise(F.lit(Kind.LIT_TYPED)).as("oKind"),
      F.when(id % 5 === 3, F.lit("pt")).otherwise(F.lit(null: String)).as("oLang"),
      F.when(id % 5 === 4,
          F.when(id % 11 === 0, "http://unknown.example.org/dt")
            .otherwise("http://www.w3.org/2001/XMLSchema#integer"))
        .otherwise(F.lit(null: String)).as("oDt"),
      F.concat(F.lit("doc:"), id).as("srcUrl")
    )
  }

  /** IRIs for the inference fixture, token-derived (mirrored in SQL). */
  def inferenceIris(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val toks = d.select(
      F.col("doc_id"),
      F.explode(F.filter(F.split(F.lower(F.col("text")), "[^a-z0-9]+"), t => F.length(t) > 0)).as("tok"))
    toks.select(
      F.when(F.length(F.col("tok")) >= 4,
          F.concat(F.lit("http://big.example.org/"),
            F.when(F.length(F.col("tok")) >= 5, "a/").otherwise("b/"),
            F.col("tok"), F.lit("_"), F.col("doc_id") % 50))
        .otherwise(
          F.concat(F.lit("http://rare"), F.col("doc_id") % 97,
            F.lit(".example.io/t/"), F.col("tok"))).as("iri"))
  }

  private def registryBc(spark: SparkSession) =
    spark.sparkContext.broadcast(Registry.community())

  private def normalizedDerived(spark: SparkSession, dir: String): DataFrame =
    Normalize.normalize(derivedTriples(spark, dir), registryBc(spark))

  // ---------------------------------------------------------------------------
  // Chilon-core queries
  // ---------------------------------------------------------------------------

  /** P4: longest-prefix namespace resolution through the broadcast trie. */
  def p4ResolveNs(spark: SparkSession, dir: String): DataFrame = {
    val bc = registryBc(spark)
    val resolve = Normalize.resolveUdf(bc)
    derivedTriples(spark, dir)
      .filter(F.col("sKind") === Kind.IRI)
      .select(F.col("s").as("iri"))
      .distinct()
      .withColumn("r", resolve(F.col("iri")))
      .select(F.col("iri"), F.coalesce(F.col("r.alias"), F.lit("UNKNOWN")).as("alias"),
        F.col("r.ns").as("ns"))
      .orderBy("iri")
  }

  /** A1: the flagship summary group-count through the real normalize path. */
  def a1Summary(spark: SparkSession, dir: String): DataFrame =
    Normalize.summarize(normalizedDerived(spark, dir))
      .orderBy("s_ns", "p_ns", "o_ns", "is_datatype")

  /** Incremental Stage C through the REAL snapshot+merge path: the even-doc
    * half of the derived triples is summarized and snapshotted as the
    * "previous corpus"; the odd half flows through
    * [[graft.pipeline.Pipeline.incrementalSummary]] as the new crawl
    * segment. The oracle recomputes the FULL summary over all derived
    * triples — equality holds because summary counts are additive under a
    * frozen registry, which is exactly the property the incremental path
    * relies on at scale.
    */
  def incrSummary(spark: SparkSession, dir: String): DataFrame = {
    val t = derivedTriples(spark, dir)
    val docId = F.substring_index(F.col("srcUrl"), ":", -1).cast("long")
    val bc = registryBc(spark)
    val prevDir = java.nio.file.Files.createTempDirectory("graft-incr-prev").toString
    // checkpoint before count+write (r6): the two actions otherwise each
    // re-ran the normalize+summarize over the even half
    val prevSum = Normalize.summarize(Normalize.normalize(t.filter(docId % 2 === 0), bc))
      .localCheckpoint()
    graft.sinks.Snapshot.writeSmall(prevSum, prevDir, "summary",
      Seq("derived[even]"), prevSum.count())
    graft.pipeline.Pipeline
      .incrementalSummary(spark, prevDir, t.filter(docId % 2 === 1), Registry.community())
      .orderBy("s_ns", "p_ns", "o_ns", "is_datatype")
  }

  /** O1+O5: statement ids over the min-occurs-filtered, ordered summary. */
  def o1StmtIds(spark: SparkSession, dir: String): DataFrame =
    Normalize.withStatementIds(Normalize.summarize(normalizedDerived(spark, dir)), minOccurs = 10)
      .select("stmt_id", "s_ns", "p_ns", "o_ns", "is_datatype", "occurs")

  /** A5: vis node counts (both endpoints, self-loops twice). */
  def a5VisNodes(spark: SparkSession, dir: String): DataFrame =
    VisHelpers.nodes(Normalize.summarize(normalizedDerived(spark, dir)))

  /** A6: vis edges with signed link_num ordinals per unordered pair. */
  def a6VisEdges(spark: SparkSession, dir: String): DataFrame =
    VisHelpers.edges(Normalize.summarize(normalizedDerived(spark, dir)))

  /** A2/N1: hierarchical segment-prefix counting (IriTrie equivalent). */
  def a2PrefixCounts(spark: SparkSession, dir: String): DataFrame =
    Inference.prefixCounts(inferenceIris(spark, dir))
      .filter(F.col("count") >= 100)
      .orderBy("prefix")

  /** A2 full NodeStats (IriTrie own/desc/uniq_desc equivalent,
    * iri_trie.rs:21-26) over the token-derived IRIs, thresholded so the
    * result stays the interesting prefixes, not one row per distinct IRI.
    */
  def a2PrefixStats(spark: SparkSession, dir: String): DataFrame =
    Inference.prefixStats(inferenceIris(spark, dir))
      .filter(F.col("own") + F.col("desc") >= 100)
      .orderBy("prefix")

  /** N3: full inference round (aggregate -> collect -> expansion) as a table. */
  def n3InferNs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (inferred, _) = Inference.inferFromIris(inferenceIris(spark, dir))
    inferred.map { case (ns, size, _) => (ns, size) }
      .toDF("ns", "size").orderBy("ns")
  }

  /** P3: grapheme-capped IRI canonicalization on synthetically long IRIs. */
  def p3Canonicalize(spark: SparkSession, dir: String): DataFrame = {
    val canonUdf = F.udf((s: String) => graft.extract.Canonical.canonicalizeIri(s))
    docs(spark, dir)
      .select(F.col("doc_id"),
        F.concat(F.lit("http://long.example.org/"),
          F.expr("repeat('x', CAST(doc_id % 300 AS INT))")).as("raw"))
      .withColumn("canon", canonUdf(F.col("raw")))
      .select(F.col("doc_id"), F.length(F.col("canon")).as("canon_len"))
      .orderBy("doc_id")
  }

  /** P5/P11: literal classification to group keys. */
  def p5LiteralClass(spark: SparkSession, dir: String): DataFrame =
    normalizedDerived(spark, dir)
      .groupBy(F.col("o_ns").as("group_key"))
      .agg(F.count(F.lit(1)).as("n"))
      .orderBy("group_key")

  /** P6: ignore-unknown whole-triple drop semantics. */
  def p6IgnoreUnknown(spark: SparkSession, dir: String): DataFrame = {
    val kept = Normalize
      .normalize(derivedTriples(spark, dir), registryBc(spark), ignoreUnknown = true)
      .agg(F.count(F.lit(1)).as("kept"))
    val total = derivedTriples(spark, dir).agg(F.count(F.lit(1)).as("total"))
    kept.crossJoin(total)
  }

  /** P7/P12: per-kind resource metrics (iris/blanks/literals). */
  def p12Metrics(spark: SparkSession, dir: String): DataFrame =
    derivedTriples(spark, dir).agg(
      (F.sum(F.when(F.col("sKind") === Kind.IRI, 1).otherwise(0)) + F.count(F.lit(1)) +
        F.sum(F.when(F.col("oKind") === Kind.IRI, 1).otherwise(0))).as("iris"),
      (F.sum(F.when(F.col("sKind") === Kind.BLANK, 1).otherwise(0)) +
        F.sum(F.when(F.col("oKind") === Kind.BLANK, 1).otherwise(0))).as("blanks"),
      F.sum(F.when(F.col("oKind").isin(Kind.LIT_PLAIN, Kind.LIT_LANG, Kind.LIT_TYPED), 1)
        .otherwise(0)).as("literals"))

  /** S5/S6: the community registry as a relation — the REAL construction path
    * (vendored TSV resource -> fix_pv -> shortest-namespace-first prefix-free
    * insert, reference `src/prefixes/community.rs:48-124`). The DuckDB oracle
    * recomputes the same rules in SQL over the same raw rows: fix_pv filters,
    * duplicate-namespace first-alias-wins, and the prefix-free keep set
    * (kept iff no other distinct namespace is a proper prefix — equivalent to
    * the sequential shortest-first insert by prefix transitivity).
    */
  def s5Registry(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Registry.community().byNs.toSeq
      .map { case (ns, e) => (e.alias, ns, e.source.name) }
      .toDF("alias", "ns", "source")
  }

  /** N4/P8: registry insert with subsumption + alias generation (reference
    * `add_namespaces`/`gen_alias`, `src/ns_trie.rs:71-207`) over a namespace
    * fixture derived from the documents table. The k-grid is engineered to
    * hit every genAlias branch in a CASE-expressible insertion order:
    * first-label grant (k<4), same-TLD skip + path-segment disambiguation
    * (k=4,6,8,10), TLD disambiguation (k=7), taken-candidate fallthrough to
    * path segment (k=11), numeric fallback with taken candidates (k=5,9),
    * plus the hostless / duplicate / subsumed skip paths.
    */
  def p8AliasGen(spark: SparkSession, dir: String): DataFrame = {
    import graft.ns.NsSource
    val ks = docs(spark, dir)
      .select((F.col("doc_id") % 12).cast("int").as("k")).distinct()
      .collect().map(_.getInt(0)).sorted.toSeq // bounded: <= 12 values
    def ns(k: Int): String = {
      val tld = if (k % 4 == 3 && k > 3) "net" else "org"
      val seg = if (k % 4 == 1) "p1" else s"p$k"
      s"http://alpha${k % 4}.example-${k % 3}.$tld/$seg/"
    }
    val inputs = ks.map(k => (ns(k), 100L, NsSource.Inference: NsSource)) ++ Seq(
      ("urn:uuid:0000", 100L, NsSource.Inference: NsSource),      // hostless -> skipped
      (ns(ks.head), 100L, NsSource.Inference: NsSource),          // duplicate -> skipped
      (ns(ks.head) + "sub/", 100L, NsSource.Inference: NsSource)) // subsumed -> skipped
    val (reg, _) = Registry.empty.withNamespaces(inputs)
    import spark.implicits._
    reg.byNs.toSeq.map { case (n, e) => (n, e.alias, e.source.name) }
      .toDF("ns", "alias", "source")
  }

  /** S1-S4 through the driver: the real RDF scan path over a pinned two-file
    * fixture — a gzip-compressed N-Triples file (S1 codec + S3 line path) and
    * a Turtle file exercising @base RFC 3986 resolution, @prefix + empty-alias
    * decls, PN_LOCAL interior dots / %-encoding / backslash escapes, lang and
    * typed literals, anonymous bnodes and collections (S2 dispatch + S4 decl
    * capture). The DuckDB oracle pins the expected triple multiset.
    */
  /** Dead-letter channel for the RDF line formats
    * ([[graft.rdf.RdfSource.readNTriplesLenient]]): the corpus writes an
    * N-Triples file whose every 13th line is corrupted under a closed-form
    * rule (k%3 picks missing-dot / space-in-IRIREF / invalid literal
    * escape), the LENIENT scan routes exactly those lines aside instead of
    * failing the job — the at-crawl-scale contract: one corrupt line in a
    * million-file scan must cost one dead-letter row, not the job — and
    * the oracle reconstructs each routed line byte-for-byte (md5 + length)
    * from the rule. RdfSpec pins that the lenient good side equals the
    * strict parse of the clean subset.
    */
  def rdfDeadLetter(spark: SparkSession, dir: String): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-rdf-dl").toString
    val k = F.col("doc_id")
    val good = F.concat(F.lit("<http://ex.org/s/"), k.cast("string"),
      F.lit("> <http://ex.org/p/p"), (k % 7).cast("string"),
      F.lit("> \"doc "), k.cast("string"), F.lit("\""))
    val line = F.when(k % 13 =!= 0, F.concat(good, F.lit(" .")))
      .otherwise(F.when(k % 3 === 0, good)
        .when(k % 3 === 1, F.concat(F.lit("<http://ex.org/s/"), k.cast("string"),
          F.lit(" <http://ex.org/p/x> \"y\" .")))
        .otherwise(F.concat(F.lit("<http://ex.org/s/"), k.cast("string"),
          F.lit("> <http://ex.org/p/x> \"doc \\"), k.cast("string"),
          F.lit("\" ."))))
    docs(spark, dir).select(line.as("value")).write.mode("overwrite").text(tmp)
    val (_, bad) = graft.rdf.RdfSource.readNTriplesLenient(spark, Seq(tmp))
    bad.toDF()
      .select(F.md5(F.col("line")).as("line_md5"),
        F.length(F.col("line")).cast("long").as("line_len"))
      .orderBy("line_md5")
  }

  def rdfParse(spark: SparkSession, dir: String): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-rdf-fixture")
    val ntGz = tmp.resolve("data.nt.gz")
    val nt =
      """<http://s.example.org/1> <http://p.example.org/knows> <http://o.example.org/2> .
        |<http://s.example.org/1> <http://p.example.org/name> "Alice" .
        |_:x <http://p.example.org/age> "30"^^<http://www.w3.org/2001/XMLSchema#integer> .
        |<http://s.example.org/3> <http://p.example.org/label> "café"@fr .
        |""".stripMargin
    val gz = new java.util.zip.GZIPOutputStream(java.nio.file.Files.newOutputStream(ntGz))
    try gz.write(nt.getBytes(java.nio.charset.StandardCharsets.UTF_8)) finally gz.close()
    val ttl =
      """@base <http://base.example.org/dir/doc> .
        |@prefix ex: <http://ex.example.org/ns#> .
        |@prefix : <http://default.example.org/> .
        |# a comment
        |ex:v1.2 ex:p "plain" .
        |:alpha ex:q "hola"@es ;
        |       ex:r "42"^^<http://www.w3.org/2001/XMLSchema#integer> .
        |<rel/./x> ex:s <../up> .
        |ex:a%20b ex:t _:b1 .
        |_:b1 ex:u ( ex:one ex:two ) .
        |[ ex:v "in-bnode" ] ex:w ex:long\~name .
        |""".stripMargin +
      "ex:m ex:text \"\"\"two\nlines\"\"\" .\n"
    java.nio.file.Files.write(tmp.resolve("mixed.ttl"),
      ttl.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val (triples, _) = graft.rdf.RdfSource.read(spark,
      Seq(ntGz.toString, tmp.resolve("mixed.ttl").toString))
    triples.toDF()
      .select(
        F.element_at(F.split(F.col("srcUrl"), "/"), -1).as("file"),
        F.col("s"), F.col("sKind").cast("int").as("s_kind"),
        F.col("p"),
        F.col("o"), F.col("oKind").cast("int").as("o_kind"),
        F.col("oLang").as("o_lang"), F.col("oDt").as("o_dt"))
  }

  // ---------------------------------------------------------------------------
  // Training-data operators
  // ---------------------------------------------------------------------------

  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    Dedup.exact(docs(spark, dir), "doc_id", "text")
      .select("keep_id", "n_dups").orderBy("keep_id")

  /** CCNet-style line-level dedup over documents augmented with shared
    * boilerplate lines ("common boilerplate k" repeats across every doc with
    * the same `doc_id % 7`, "footer k" across `doc_id % 3` — the nav-bar/
    * cookie-banner scenario the pass exists for). First global occurrence
    * of each line wins; docs reassemble from survivors; fully-duplicate
    * docs vanish. Output keeps the reconstructed text as an md5.
    */
  def dedupLines(spark: SparkSession, dir: String): DataFrame = {
    val aug = docs(spark, dir).select(F.col("doc_id"),
      F.concat_ws("\n", F.col("text"),
        F.concat(F.lit("common boilerplate "), F.col("doc_id") % 7),
        F.concat(F.lit("footer "), F.col("doc_id") % 3)).as("text"))
    Dedup.dedupLines(aug, "doc_id", "text")
      .select(F.col("id").as("doc_id"), F.col("n_lines"),
        F.md5(F.col("text")).as("kept_md5"))
      .orderBy("doc_id")
  }

  /** Quality-ordered token-budget selection: the best-scored documents in
    * (quality desc, id) order until 20k tokens are used. The quality score
    * is the 6-dp-rounded composite (same as q_text_quality), so the sort
    * key is bit-identical across engines.
    */
  def selectBudget(spark: SparkSession, dir: String): DataFrame = {
    val scored = docs(spark, dir).select(F.col("doc_id"),
      TextOps.qualityScore(F.col("text")).as("quality"),
      TextOps.tokenCount(F.col("text")).cast("long").as("n_tokens"))
    TextOps.selectToBudget(scored, "doc_id", "quality", "n_tokens", budget = 20000L)
      .select(F.col("id").as("doc_id"), F.col("score").as("quality"),
        F.col("n_tokens"), F.col("cum_tokens"))
      .orderBy("doc_id")
  }

  /** Per-domain cap (crawl curation): at most 15 documents per `source`,
    * chosen by the deterministic splitmix64 rank — stable under
    * repartitioning, bit-exact in the oracle.
    */
  def domainCap(spark: SparkSession, dir: String): DataFrame =
    TextOps.capPerDomain(docs(spark, dir), "doc_id", "source", cap = 15, seed = 7L)
      .select("doc_id", "source", "domain_rank")
      .orderBy("source", "domain_rank")

  /** Exact decontamination gate (the audited semantics the bloom variant
    * approximates): every 7th document's text stands in for a benchmark/eval
    * blocklist; kept = corpus docs whose content hash misses the broadcast
    * blocklist (left_anti on xxhash64 — Dedup.exactDecontaminate). Note the
    * gate is by CONTENT, so a non-blocklist doc sharing text with a
    * blocklisted one drops too — exactly what decontamination wants.
    */
  def decontamExact(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val blocklist = d.filter(F.col("doc_id") % 7 === 0).select("text")
    Dedup.exactDecontaminate(d, "text", blocklist, "text")
      .select("doc_id").orderBy("doc_id")
  }

  /** N-gram decontamination at k=5: with this table's 31-token vocabulary,
    * 5-gram space is 31^5 ≈ 28.6M, so a non-blocklist doc shares a 5-gram
    * with the eval set only occasionally — the gate binds in both
    * directions (trigrams would drop the whole corpus; exact-only would
    * drop just the blocklist docs themselves).
    */
  def decontamNgram(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val blocklist = d.filter(F.col("doc_id") % 7 === 0).select("text")
    Dedup.ngramDecontaminate(d, "text", blocklist, "text", k = 5)
      .select("doc_id").orderBy("doc_id")
  }

  /** The `doc_id < 60` gate is a property of THIS synthetic table, not of the
    * operator: documents.text draws from a 31-token vocabulary where every
    * token has df ≈ 0.8·N, so no df cap can bind without emptying the token
    * sets (cap < df drops everything; cap > df changes nothing). The
    * operator's scale guard (`maxDf`) is exercised where it can bind —
    * SkewStressSpec's mixed-df corpus.
    */
  def dedupTokenJaccard(spark: SparkSession, dir: String): DataFrame =
    Dedup.tokenJaccardPairs(
      docs(spark, dir).filter(F.col("doc_id") < 60), "doc_id", "text", 0.85)
      .orderBy("id_a", "id_b")

  /** Character 3-gram Jaccard (same doc-subset rationale as
    * [[dedupTokenJaccard]]: this synthetic vocabulary gives every gram
    * near-total df, so the cap is exercised in SkewStressSpec instead).
    */
  def dedupNgram(spark: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPairs(
      docs(spark, dir).filter(F.col("doc_id") < 40), "doc_id", "text", n = 3,
      threshold = 0.6)
      .orderBy("id_a", "id_b")

  def dedupMinhash(spark: SparkSession, dir: String): DataFrame =
    Dedup.minHashLsh(docs(spark, dir), "doc_id", "text", k = 3, threshold = 0.6)
      .withColumn("jaccard", F.round(F.col("jaccard"), 6))
      .orderBy("id_a", "id_b")

  /** Near-dup clusters: connected components over the MinHash+LSH candidate
    * pairs (component = min member id — the canonical keep decision).
    */
  def dedupClusters(spark: SparkSession, dir: String): DataFrame = {
    val pairs = Dedup.minHashLsh(docs(spark, dir), "doc_id", "text", k = 3, threshold = 0.6)
    Dedup.connectedComponents(pairs, "id_a", "id_b")
      .select(F.col("id").cast("long").as("id"),
        F.col("component").cast("long").as("component"))
      .orderBy("id")
  }

  /** Near-dup cluster-size histogram — the dedup observability rollup a
    * curation report needs (how much of the corpus sits in how-big
    * clusters): component sizes from the same LSH + connected-components
    * path as [[dedupClusters]], plus the singleton row derived
    * relationally (total docs − clustered docs; no driver collect). Group
    * spaces: components, then distinct sizes — both tiny.
    */
  def dedupClusterStats(spark: SparkSession, dir: String): DataFrame = {
    val pairs = Dedup.minHashLsh(docs(spark, dir), "doc_id", "text", k = 3, threshold = 0.6)
    // one CC computation, checkpointed (ADVICE r5: the second
    // connectedComponents call re-ran the full LSH candidate generation and
    // the iterative closure for the same relation); comp and sizes both
    // derive from the materialized components
    val cc = Dedup.connectedComponents(pairs, "id_a", "id_b").localCheckpoint(true)
    val comp = cc.select(F.col("id").cast("long").as("id"))
    val sizes = cc
      .groupBy(F.col("component")).agg(F.count(F.lit(1)).as("size"))
    val hist = sizes.groupBy(F.col("size").cast("long").as("size"))
      .agg(F.count(F.lit(1)).as("n_clusters"))
    val singles = docs(spark, dir).agg(F.count(F.lit(1)).as("n"))
      .crossJoin(comp.agg(F.count(F.lit(1)).as("m")))
      .select(F.lit(1L).as("size"), (F.col("n") - F.col("m")).as("n_clusters"))
    hist.unionByName(singles)
      .withColumn("n_docs", F.col("size") * F.col("n_clusters"))
      .orderBy("size")
  }

  /** Classifier-vs-heuristic confusion — the eval loop a learned quality
    * filter needs against the rule-based C4 gate it would replace: per doc,
    * the hashed-linear classifier's keep verdict (score > 0; token-less
    * docs predict false) against the [[textFilter]] rule as pseudo-label,
    * rolled into one confusion row with integer per-mille precision and
    * recall. One doc-keyed 1:1 join + a single algebraic rollup.
    */
  def qualityConfusion(spark: SparkSession, dir: String): DataFrame = {
    import graft.textops.HashedLinearScore
    val lab = TextOps.withDocMetrics(docs(spark, dir), "text")
      .select(F.col("doc_id"),
        (F.col("n_tokens") >= 20 && F.col("quality") >= 0.5 &&
          F.col("pred_lang") === "en").as("label"))
    val scored = docs(spark, dir)
      .select(F.col("doc_id"), TextOps.tokens(F.col("text")).as("toks"))
      .filter(F.size(F.col("toks")) > 0)
      .select(F.col("doc_id"),
        (HashedLinearScore.column(F.col("toks"),
          HashedLinearScore.DefaultBuckets, HashedLinearScore.DefaultSeed) > 0)
          .as("pred"))
    lab.join(scored, Seq("doc_id"), "left")
      .withColumn("pred", F.coalesce(F.col("pred"), F.lit(false)))
      .agg(
        F.sum(F.when(F.col("pred") && F.col("label"), 1L).otherwise(0L)).as("tp"),
        F.sum(F.when(F.col("pred") && !F.col("label"), 1L).otherwise(0L)).as("fp"),
        F.sum(F.when(!F.col("pred") && F.col("label"), 1L).otherwise(0L)).as("fn"),
        F.sum(F.when(!F.col("pred") && !F.col("label"), 1L).otherwise(0L)).as("tn"))
      .withColumn("precision_pm",
        F.expr("CAST(tp * 1000 DIV greatest(tp + fp, 1) AS BIGINT)"))
      .withColumn("recall_pm",
        F.expr("CAST(tp * 1000 DIV greatest(tp + fn, 1) AS BIGINT)"))
  }

  /** Keep-one selection over the same LSH clusters as q_dedup_clusters:
    * longest member per cluster (ties → min id) plus all singletons.
    */
  def dedupKeepBest(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val pairs = Dedup.minHashLsh(d, "doc_id", "text", k = 3, threshold = 0.6)
    Dedup.clusterRepresentatives(d, "doc_id", "text", pairs, "id_a", "id_b")
      .orderBy("doc_id")
  }

  /** Contamination report: eval = doc_id % 7 == 0 (the decontam fixture
    * subset), corpus = the rest; shared-5-gram fraction per eval doc.
    */
  def contamReport(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    Dedup.contaminationReport(
      d.filter(F.col("doc_id") % 7 =!= 0), "text",
      d.filter(F.col("doc_id") % 7 === 0), "doc_id", "text", k = 5)
      .orderBy("doc_id")
  }

  def dedupSimhash(spark: SparkSession, dir: String): DataFrame =
    Dedup.simHashPairs(docs(spark, dir), "doc_id", "text", maxDist = 3)
      .orderBy("id_a", "id_b")

  def simTopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    Similarity.bruteTopK(emb, emb.filter(F.col("vec_id") < 10), "vec_id", "embedding", 5)
      .orderBy("query_id", "rank")
  }

  /** Word-3-shingle containment pairs ([[Dedup.shingleContainmentPairs]],
    * threshold 500 per-mille, id block < 200) — the asymmetric
    * small-inside-big near-dup metric, integer per-mille both directions.
    */
  def dedupContainment(spark: SparkSession, dir: String): DataFrame =
    Dedup.shingleContainmentPairs(
        docs(spark, dir).filter(F.col("doc_id") < 200),
        "doc_id", "text", thresholdPm = 500L)
      .orderBy("id_a", "id_b")

  /** Embedding-cosine near-duplicate pairs (brute within an id block; the
    * LSH variant q_sim_lsh is the scale path).
    */
  def dedupEmbedding(spark: SparkSession, dir: String): DataFrame = {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet").filter(F.col("vec_id") < 200)
    val a = emb.select(F.col("vec_id").as("id_a"), F.col("embedding").as("va"))
    val b = emb.select(F.col("vec_id").as("id_b"), F.col("embedding").as("vb"))
    a.crossJoin(b)
      .filter(F.col("id_a") < F.col("id_b"))
      .withColumn("sim", F.round(Similarity.cosine(F.col("va"), F.col("vb")), 6))
      .filter(F.col("sim") >= 0.35)
      .select("id_a", "id_b", "sim")
      .orderBy("id_a", "id_b")
  }

  /** IVF ANN with the coarse quantizer pinned to the first 16 corpus vectors
    * (deterministic, so DuckDB recomputes the identical assignment). The
    * learned-quantizer variant [[Similarity.ivfTopK]] (seeded KMeans) is
    * covered by SimilaritySpec.
    */
  def simIvf(spark: SparkSession, dir: String): DataFrame = {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val centroids = emb.filter(F.col("vec_id") < 16).orderBy("vec_id")
      .select("embedding").collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    Similarity.ivfTopKFixed(emb, emb.filter(F.col("vec_id") < 10), "vec_id", "embedding", 5,
      centroids, nProbe = 4)
      .orderBy("query_id", "rank")
  }

  /** SemDeDup-style semantic dedup with the centroids pinned to the first
    * 16 corpus vectors (same contract as q_sim_ivf, so the DuckDB oracle
    * recomputes the identical cell assignment): within-cell pairs with
    * rounded cosine >= 0.3 drop the higher id. Output = kept vectors + cell.
    */
  def semanticDedup(spark: SparkSession, dir: String): DataFrame = {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val centroids = emb.filter(F.col("vec_id") < 16).orderBy("vec_id")
      .select("embedding").collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    Similarity.semanticDedup(emb, "vec_id", "embedding", centroids,
        tau = 0.3, maxCell = 2000)
      .orderBy("vec_id")
  }

  /** Scale-factor-derived page count for the q_kg_* family: the synthesized
    * corpus is `4 * |documents|` pages (ids `0..4N-1`), so the flagship path's
    * bench wall grows with sf AND the DuckDB oracle ([[KgSql]]) can regenerate
    * the identical corpus from the `documents` view it already has.
    */
  def kgPageCount(spark: SparkSession, dir: String): Long =
    docs(spark, dir).count() * 4

  /** The north-rule per-row invariant as a first-class driver query:
    * deterministic HTML->text extraction, byte-identical per url
    * ([[graft.extract.HtmlText]], cf. BASELINE.json `input_hint`). The ENGINE
    * runs the real extractor over the html BYTES and hashes the result; the
    * oracle ([[KgSql.extractSql]]) reconstructs the expected text closed-form
    * from the generation rule and hashes independently — the two sides share
    * no code path, so any extractor or synthesizer drift fails the gate.
    * Scale shape: pure per-row projection — zero shuffle, the corpus never
    * leaves its scan partitions (the `matches` flag compares against the
    * carried `text` column in the same task).
    */
  def htmlExtract(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.extract.Synth.pages(spark, kgPageCount(spark, dir))
      .map(p => (p.url, graft.extract.HtmlText.extractText(p.html), p.text))
      .toDF("url", "etext", "text")
      .select(F.col("url"),
        F.md5(F.col("etext").cast("binary")).as("text_md5"),
        F.length(F.col("etext")).cast("long").as("n_chars"),
        (F.col("etext") === F.col("text")).as("matches"))
      .orderBy("url")
  }

  /** Mention detection + entity-link scoring over synthesized pages
    * (north-rule KG stage as a first-class query; value oracle in
    * [[KgSql.mentionsSql]]).
    */
  def kgMentions(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.extract.Synth.pagesUrlText(spark, kgPageCount(spark, dir))
      .flatMap { case (url, text) => graft.extract.Mentions.mentionsOf(url, text) }
      .toDF()
      .select("srcUrl", "surface", "start", "end", "entityIri", "score")
      .orderBy("srcUrl", "start")
  }

  /** Entity-linking commonness prior table P(entity | surface) over the
    * mention stream ([[graft.kg.GraphOps.mentionPriors]]; value oracle in
    * [[KgSql.elPriorSql]] — the prior is one IEEE divide of two exact longs,
    * identical across engines).
    */
  def elPriors(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val m = graft.extract.Synth.pagesUrlText(spark, kgPageCount(spark, dir))
      .flatMap { case (url, text) => graft.extract.Mentions.mentionsOf(url, text) }
      .toDF()
    graft.kg.GraphOps.mentionPriors(m).orderBy("surface", "entity_iri")
  }

  /** Stage-A OpenIE extraction as a first-class query (value oracle in
    * [[KgSql.triplesSql]]).
    */
  def kgTriples(spark: SparkSession, dir: String): DataFrame =
    graft.pipeline.Pipeline
      .extractTriplesUrlText(
        graft.extract.Synth.pagesUrlText(spark, kgPageCount(spark, dir)))
      .toDF()

  /** RDF property-table pivot — the classic columnar KG layout (one row per
    * entity, one column per pinned predicate) materialized from the triple
    * table with conditional algebraic MINs: one groupBy on subject, group
    * space = entities, no window, no per-predicate self-joins (the naive
    * layout would join the triple table once per column). Multi-valued
    * predicates collapse to their min — the documented property-table
    * contract.
    */
  def kgPropTable(spark: SparkSession, dir: String): DataFrame = {
    import graft.extract.Dict
    kgTriples(spark, dir).filter(F.col("sKind") === 0)
      .groupBy(F.col("s").as("subject"))
      .agg(
        F.min(F.when(F.col("p") === Dict.dbo + "birthYear", F.col("o"))).as("birth_year"),
        F.min(F.when(F.col("p") === Dict.rdfs + "label", F.col("o"))).as("label"),
        F.min(F.when(F.col("p") === Dict.schemaNs + "mainEntityOfPage", F.col("o"))).as("page"),
        F.count(F.lit(1)).as("n_stmts"))
      .orderBy("subject")
  }

  /** Per-entity degree statistics over the materialized triple table
    * (value oracle in [[KgSql.degreesSql]]).
    */
  def kgDegrees(spark: SparkSession, dir: String): DataFrame =
    graft.kg.GraphOps.entityDegrees(kgTriples(spark, dir))
      .orderBy("node")

  /** Fixed-point integer PageRank (5 iterations) over the entity graph —
    * engine-exact integer recurrence, unrolled in [[KgSql.pageRankSql]].
    */
  def kgPageRank(spark: SparkSession, dir: String): DataFrame =
    graft.kg.GraphOps.pageRank(kgTriples(spark, dir), iters = 5)
      .orderBy("node")

  /** Per-node triangle counts via degree-ordered orientation (value oracle:
    * the naive three-way join in [[KgSql.trianglesSql]] — same triangle set).
    */
  def kgTriangles(spark: SparkSession, dir: String): DataFrame =
    graft.kg.GraphOps.triangleCounts(kgTriples(spark, dir))
      .orderBy("node")

  /** Per-node local clustering coefficient in exact integer ppm — the
    * triangle-density QA beside q_kg_triangles (value oracle in
    * [[KgSql.clusteringSql]]).
    */
  def kgClustering(spark: SparkSession, dir: String): DataFrame =
    graft.kg.GraphOps.clusteringCoefficients(kgTriples(spark, dir))
      .orderBy("node")

  /** Same-page entity co-occurrence pairs (value oracle in
    * [[KgSql.cooccurSql]]).
    */
  /** Per-predicate edge reciprocity — symmetric-relation QA (value oracle
    * in [[KgSql.reciprocitySql]]; exact-integer ppm ratio).
    */
  def kgReciprocity(spark: SparkSession, dir: String): DataFrame =
    graft.kg.GraphOps.reciprocity(kgTriples(spark, dir))
      .orderBy("p")

  /** Log2-bucketed total-degree histogram — exact bit-length buckets, no
    * transcendental log (value oracle in [[KgSql.degreeDistSql]]).
    */
  def kgDegreeDist(spark: SparkSession, dir: String): DataFrame =
    graft.kg.GraphOps.degreeDistribution(kgTriples(spark, dir))
      .orderBy("bucket")

  /** Degree-assortativity moment sums — one row of exact BIGINTs (value
    * oracle in [[KgSql.assortativitySql]]).
    */
  def kgAssortativity(spark: SparkSession, dir: String): DataFrame =
    graft.kg.GraphOps.assortativitySums(kgTriples(spark, dir))

  /** Per-predicate cardinality / functionality profile. */
  def kgPredStats(spark: SparkSession, dir: String): DataFrame =
    graft.kg.GraphOps.predicateStats(kgTriples(spark, dir))
      .orderBy("p")

  /** Predicate-signature schema discovery over the materialized triples. */
  def kgSignatures(spark: SparkSession, dir: String): DataFrame =
    graft.kg.GraphOps.predicateSignatures(kgTriples(spark, dir))
      .orderBy("sig_md5")

  /** Neighborhood Jaccard on the hub-filtered entity graph (maxDeg = 64,
    * minShared = 2 — both halves of the hub filter bind on this corpus).
    */
  def kgNeighborJaccard(spark: SparkSession, dir: String): DataFrame =
    graft.kg.GraphOps.neighborJaccard(kgTriples(spark, dir))
      .orderBy("e1", "e2")

  /** Resource-Allocation link-prediction index in exact integer micro-units
    * ([[graft.kg.GraphOps.resourceAllocation]]; oracle
    * [[KgSql.resourceAllocSql]] — no IEEE op on either side).
    */
  def kgResourceAlloc(spark: SparkSession, dir: String): DataFrame =
    graft.kg.GraphOps.resourceAllocation(kgTriples(spark, dir))
      .orderBy("e1", "e2")

  /** Personalized PageRank restarted on the dbr namespace (3 engine-exact
    * integer rounds — [[graft.kg.GraphOps.personalizedPageRank]]; oracle
    * [[KgSql.pprSql]] unrolls the identical recurrence).
    */
  def kgPprDbr(spark: SparkSession, dir: String): DataFrame =
    graft.kg.GraphOps.personalizedPageRank(
      kgTriples(spark, dir),
      n => n.startsWith(graft.extract.Dict.dbr), iters = 3)
      .orderBy("node")

  def kgCooccur(spark: SparkSession, dir: String): DataFrame =
    graft.kg.GraphOps.cooccurrence(kgMentions(spark, dir))
      .orderBy("e1", "e2")

  /** Strict transitive closure of the fixed [[graft.kg.Ontology]] subsumption
    * edges via log-round pointer squaring (3 rounds cover the depth-4 chain;
    * oracle: DuckDB recursive CTE over the same edges,
    * [[KgSql.subClassClosureSql]]).
    */
  def kgSubClassClosure(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.kg.GraphOps.subClassClosure(
      graft.kg.Ontology.subClassEdges.toDF("sub", "sup"), rounds = 3)
      .orderBy("sub", "sup")
  }

  /** RDFS type entailment over the corpus entities: asserted classes come
    * from the closed [[graft.kg.Ontology.assertedClasses]] map joined onto
    * the DISTINCT IRI terms of the triple table; the vocabulary-sized closure
    * is broadcast against them ([[graft.kg.GraphOps.rdfsTypeClosure]]).
    * Oracle recomputes the closure with a recursive CTE and the same
    * assertion-wins `min` ([[KgSql.rdfsTypesSql]]).
    */
  /** Entailed type relation shared by q_kg_rdfs_types / q_kg_type_counts /
    * q_kg_domain_check: asserted classes over the distinct IRI terms, closed
    * under the broadcast ontology closure.
    */
  private def kgEntailedTypes(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val t = kgTriples(spark, dir)
    val nodes = t.filter($"sKind" === 0).select($"s".as("iri"))
      .union(t.filter($"oKind" === 0).select($"o".as("iri")))
      .distinct()
    val types = nodes
      .join(org.apache.spark.sql.functions.broadcast(
        graft.kg.Ontology.assertedClasses.toDF("iri", "cls")), "iri")
      .select($"iri".as("s"), $"cls")
    graft.kg.GraphOps.rdfsTypeClosure(types,
      graft.kg.Ontology.subClassEdges.toDF("sub", "sup"), rounds = 3)
  }

  def kgRdfsTypes(spark: SparkSession, dir: String): DataFrame =
    kgEntailedTypes(spark, dir).orderBy("s", "cls")

  /** Class-instance KG-card statistics over the entailed types
    * ([[graft.kg.GraphOps.typeCounts]]; oracle [[KgSql.typeCountsSql]]).
    */
  def kgTypeCounts(spark: SparkSession, dir: String): DataFrame =
    graft.kg.GraphOps.typeCounts(kgEntailedTypes(spark, dir))
      .orderBy("cls")

  /** Declared-domain QA over the entailed types
    * ([[graft.kg.GraphOps.domainViolations]] with
    * [[graft.kg.Ontology.predicateDomains]]; oracle
    * [[KgSql.domainCheckSql]]).
    */
  def kgDomainCheck(spark: SparkSession, dir: String): DataFrame =
    graft.kg.GraphOps.domainViolations(
      kgTriples(spark, dir), kgEntailedTypes(spark, dir),
      graft.kg.Ontology.predicateDomains)
      .orderBy("s", "p")

  /** Source-count fact fusion on the functional predicates
    * ([[graft.kg.GraphOps.fuseFacts]]; oracle [[KgSql.fuseSql]]).
    */
  def kgFuse(spark: SparkSession, dir: String): DataFrame =
    graft.kg.GraphOps.fuseFacts(
      kgTriples(spark, dir), graft.kg.Ontology.functionalPredicates)
      .orderBy("s", "p")

  /** Temporal fact intervals over the relation predicates — triple evidence
    * joined back to page capture times ([[graft.kg.GraphOps.factIntervals]];
    * oracle [[KgSql.temporalSql]] regenerates `warc_ts` closed-form).
    */
  def kgTemporal(spark: SparkSession, dir: String): DataFrame =
    graft.kg.GraphOps.factIntervals(
      kgTriples(spark, dir),
      graft.extract.Synth.pagesUrlTs(spark, kgPageCount(spark, dir)),
      graft.extract.Dict.relations.values.toSeq)
      .orderBy("s", "p", "o")

  /** Max-cardinality QA report ([[graft.kg.GraphOps.constraintViolations]]
    * with the fixed [[graft.kg.Ontology.maxCardinality]] constraints; oracle
    * [[KgSql.constraintsSql]]).
    */
  def kgConstraints(spark: SparkSession, dir: String): DataFrame =
    graft.kg.GraphOps.constraintViolations(
      kgTriples(spark, dir), graft.kg.Ontology.maxCardinality)
      .orderBy("s", "p")

  /** Dangling-reference QA ([[graft.kg.GraphOps.danglingRefs]]; oracle
    * [[KgSql.danglingSql]]).
    */
  def kgDangling(spark: SparkSession, dir: String): DataFrame =
    graft.kg.GraphOps.danglingRefs(kgTriples(spark, dir))
      .orderBy("iri")

  /** Cross-KB identity resolution: `owl:sameAs`-style closure over shared
    * mention labels (see [[graft.kg.GraphOps.resolveByLabel]]); the oracle
    * recomputes the closure with a recursive CTE over the same mention
    * relation ([[KgSql.entityResolveSql]]).
    */
  def kgEntityResolve(spark: SparkSession, dir: String): DataFrame =
    graft.kg.GraphOps.resolveByLabel(kgMentions(spark, dir))
      .orderBy("entity")

  /** IRI canonicalization into the materialized canonical triple table —
    * triples rewritten through the sameAs closure, distinct with occurrence
    * counts (see [[graft.kg.GraphOps.canonicalizeTriples]]).
    */
  def kgCanonTriples(spark: SparkSession, dir: String): DataFrame =
    graft.kg.GraphOps.canonicalizeTriples(
        kgTriples(spark, dir),
        graft.kg.GraphOps.resolveByLabel(kgMentions(spark, dir)))
      .orderBy("s", "p", "o", "oKind", "oLang", "oDt")

  /** Canonical display-label election per resolved entity: most frequent
    * surface label (label asc tiebreak) rolled up to the sameAs-canonical id
    * (see [[graft.kg.GraphOps.canonicalLabels]]; oracle [[KgSql.labelsSql]]).
    */
  def kgLabels(spark: SparkSession, dir: String): DataFrame = {
    val m = kgMentions(spark, dir)
    graft.kg.GraphOps.canonicalLabels(m, graft.kg.GraphOps.resolveByLabel(m))
      .orderBy("canon")
  }

  /** Crawl-snapshot triple delta: old snapshot drops page-id quarter 3, new
    * drops quarter 1 — added/removed/changed/kept all occur (see
    * [[graft.kg.GraphOps.snapshotDiff]]; oracle [[KgSql.snapshotDiffSql]]).
    */
  def kgSnapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val t = kgTriples(spark, dir)
      .withColumn("pid",
        F.regexp_extract(F.col("srcUrl"), "/([0-9]+)$", 1).cast("long"))
    val tOld = t.filter(F.col("pid") % 4 < 3).drop("pid", "srcUrl")
    val tNew = t.filter(F.col("pid") % 4 =!= 1).drop("pid", "srcUrl")
    graft.kg.GraphOps.snapshotDiff(tOld, tNew)
      .orderBy("s", "sKind", "p", "o", "oKind", "oLang", "oDt")
  }

  /** 2-hop undirected neighborhood of the Mercury planet entity with min hop
    * distances (see [[graft.kg.GraphOps.neighborhood]]; oracle
    * [[KgSql.neighborhoodSql]]).
    */
  def kgNeighborhood(spark: SparkSession, dir: String): DataFrame =
    graft.kg.GraphOps.neighborhood(
        kgTriples(spark, dir),
        Seq(graft.extract.Dict.entities("Mercury").maxBy(_.prior).iri),
        maxHops = 2)
      .orderBy("node")

  /** Contiguous-id triple encoding for KG-embedding training (TransE-style
    * input prep): entity/relation dictionaries by (freq desc, term asc) via
    * the distributed prefix-sum rank, encoded distinct node-node triples
    * (see [[graft.kg.GraphOps.encodeForEmbedding]]; oracle
    * [[KgSql.encodeSql]] re-derives the dictionaries with window row_number).
    */
  def kgEncode(spark: SparkSession, dir: String): DataFrame =
    graft.kg.GraphOps.encodeForEmbedding(kgTriples(spark, dir))
      .orderBy("h_id", "r_id", "t_id")

  /** Deterministic filtered negative sampling over the encoded triples
    * (seed 13): splitmix64 tail corruption, collision-flagged against the
    * positive set (see [[graft.kg.GraphOps.negativeSamples]]; bit-exact
    * splitmix oracle in [[KgSql.negativesSql]]).
    */
  def kgNegatives(spark: SparkSession, dir: String): DataFrame =
    graft.kg.GraphOps.negativeSamples(
        graft.kg.GraphOps.encodeForEmbedding(kgTriples(spark, dir)), seed = 13L)
      .orderBy("h_id", "r_id", "t_id")

  /** TransE plausibility margins under pinned closed-form hash embeddings
    * (dim 8, entity seed 101, relation seed 202, corruption seed 13) —
    * exact integer L1 scores for every positive triple and its splitmix
    * tail corruption; see [[graft.kg.GraphOps.transeScores]] (bit-exact
    * HUGEINT oracle in [[KgSql.transeSql]]).
    */
  def kgTranse(spark: SparkSession, dir: String): DataFrame =
    graft.kg.GraphOps.transeScores(
        graft.kg.GraphOps.encodeForEmbedding(kgTriples(spark, dir)),
        dim = 8, entSeed = 101L, relSeed = 202L, negSeed = 13L)
      .orderBy("h_id", "r_id", "t_id")

  /** Link-prediction hits@k / rank-sum evaluation under the pinned
    * closed-form embeddings (dim 8, ent/rel seeds shared with
    * [[kgTranse]], candidate seed 31, 16 raw corruptions per triple); see
    * [[graft.kg.GraphOps.linkPredictionEval]] (bit-exact splitmix oracle
    * in [[KgSql.linkPredSql]]).
    */
  def kgLinkPred(spark: SparkSession, dir: String): DataFrame =
    graft.kg.GraphOps.linkPredictionEval(
        graft.kg.GraphOps.encodeForEmbedding(kgTriples(spark, dir)),
        dim = 8, entSeed = 101L, relSeed = 202L, candSeed = 31L, numCands = 16)
      .orderBy("r_id")

  /** FILTERED link-prediction evaluation — corruptions that form true
    * triples are excluded from rank counting (the standard benchmark
    * setting; same seeds/candidates as [[kgLinkPred]]); see
    * [[graft.kg.GraphOps.linkPredictionEvalFiltered]] (oracle
    * [[KgSql.linkPredFilteredSql]]).
    */
  def kgLinkPredFiltered(spark: SparkSession, dir: String): DataFrame =
    graft.kg.GraphOps.linkPredictionEvalFiltered(
        graft.kg.GraphOps.encodeForEmbedding(kgTriples(spark, dir)),
        dim = 8, entSeed = 101L, relSeed = 202L, candSeed = 31L, numCands = 16)
      .orderBy("r_id")

  /** Deterministic DeepWalk-style random walks over the encoded entity
    * graph (seed 17, length 3, degree cap 8) — the sequence-generation
    * stage of KG-embedding training, engine-exact and reproducible from
    * (seed, start); see [[graft.kg.GraphOps.randomWalks]] (bit-exact
    * splitmix step oracle in [[KgSql.walksSql]]).
    */
  def kgWalks(spark: SparkSession, dir: String): DataFrame =
    graft.kg.GraphOps.randomWalks(
        // entity-pair encoding only: walks never read r_id, and the ids are
        // bit-identical to encodeForEmbedding's (same rank, same et relation)
        graft.kg.GraphOps.encodeEntityPairs(kgTriples(spark, dir)),
        seed = 17L, len = 3, maxDeg = 8)
      .orderBy("start_id", "step", "node_id")

  /** 2-core of the entity graph by 4 fixed peeling rounds (fixed-round
    * contract so [[KgSql.kCoreSql]] unrolls the identical iterations; the
    * peel reaches its fixed point well inside the budget on this corpus —
    * GraphOpsSpec pins that).
    */
  def kgKCore(spark: SparkSession, dir: String): DataFrame =
    graft.kg.GraphOps.kCore(kgTriples(spark, dir), k = 2L, rounds = 4)
      .orderBy("node")

  /** Synchronous label-propagation communities over the entity graph, 3
    * fixed rounds (deterministic mode-label variant — see
    * [[graft.kg.GraphOps.labelPropagation]]; [[KgSql.communitiesSql]]
    * unrolls the identical rounds).
    */
  def kgCommunities(spark: SparkSession, dir: String): DataFrame =
    graft.kg.GraphOps.labelPropagation(kgTriples(spark, dir), rounds = 3)
      .orderBy("node")

  /** Predicate-pair association lift on shared subjects (schema-discovery
    * association mining — see [[graft.kg.GraphOps.predicatePairLift]]).
    */
  def kgPredLift(spark: SparkSession, dir: String): DataFrame =
    graft.kg.GraphOps.predicatePairLift(kgTriples(spark, dir))
      .orderBy("p1", "p2")

  /** Fixed-round integer HITS hub/authority scores, 3 rounds
    * (engine-exact max-normalized integer iteration — see
    * [[graft.kg.GraphOps.hits]]; [[KgSql.hitsSql]] unrolls the identical
    * half-rounds).
    */
  def kgHits(spark: SparkSession, dir: String): DataFrame =
    graft.kg.GraphOps.hits(kgTriples(spark, dir), rounds = 3)
      .orderBy("node")

  /** Latest-capture crawl dedup: one row per logical wiki page (url slug),
    * the capture with the newest `warc_ts` (id tiebreak) — algebraic
    * struct-max argmax, see [[graft.extract.UrlOps.latestCapture]]; value
    * oracle in [[KgSql.crawlLatestSql]].
    */
  def crawlLatest(spark: SparkSession, dir: String): DataFrame = {
    val caps = graft.extract.Synth.pagesUrlTs(spark, kgPageCount(spark, dir))
      .select(
        F.regexp_extract(F.col("url"), "/wiki/([^/]+)/", 1).as("slug"),
        F.unix_millis(F.col("warc_ts")).as("ts_ms"),
        F.regexp_extract(F.col("url"), "/([0-9]+)$", 1).cast("long").as("id"),
        F.col("url"))
    graft.extract.UrlOps.latestCapture(caps, Seq("slug"), Seq("ts_ms", "id"))
      .orderBy("slug")
  }

  /** SCD2 capture-history intervals per logical wiki page — the temporal
    * complement of [[crawlLatest]]: every capture with its
    * `[valid_from, valid_to)` interval and `is_current` flag
    * ([[graft.extract.UrlOps.scd2History]]; oracle [[KgSql.scd2Sql]]
    * replays the lead window over the closed-form warc_ts rule).
    */
  def scd2HistoryQ(spark: SparkSession, dir: String): DataFrame = {
    val caps = graft.extract.Synth.pagesUrlTs(spark, kgPageCount(spark, dir))
      .select(
        F.regexp_extract(F.col("url"), "/wiki/([^/]+)/", 1).as("slug"),
        F.unix_millis(F.col("warc_ts")).as("ts_ms"),
        F.regexp_extract(F.col("url"), "/([0-9]+)$", 1).cast("long").as("id"))
    graft.extract.UrlOps.scd2History(caps, Seq("slug"), "ts_ms", "id")
      .select("slug", "id", "valid_from", "valid_to", "is_current")
      .orderBy("slug", "valid_from", "id")
  }

  /** Snapshot-expiry plan over a synthesized snapshot manifest (5 tables,
    * snapshot timestamps wrapping a 90-day span so ts TIES genuinely
    * exercise the snapshot-id tiebreak at sf >= 0.01): keep the newest 3
    * per table plus a 7-day window anchored to each table's head
    * ([[graft.layout.Layout.snapshotExpiryPlan]]).
    */
  def snapshotExpiryQ(spark: SparkSession, dir: String): DataFrame =
    graft.layout.Layout.snapshotExpiryPlan(
        docs(spark, dir).select(
          F.concat(F.lit("t"), (F.col("doc_id") % 5).cast("string")).as("table_id"),
          F.col("doc_id").as("snapshot_id"),
          (F.lit(1700000000000L) +
            (F.col("doc_id") * 3600000L) % F.lit(7776000000L)).as("ts_ms")),
        "table_id", "snapshot_id", "ts_ms",
        keepLast = 3, retainMs = 604800000L)
      .orderBy("table_id", "rank_desc")

  /** Per-registrable-domain corpus mix over a synthesized URL fixture:
    * hosts `sub{id%3}.site{id%20}.co.uk` (id%4=0) or `.org` roll up to
    * their registrable domains through the REAL longest-suffix logic
    * ([[graft.extract.UrlOps.domainStats]]); the oracle reconstructs the
    * domain closed-form from the generation rule, so a suffix-logic
    * regression fails the compare.
    */
  def domainStatsQ(spark: SparkSession, dir: String): DataFrame = {
    val id = F.col("doc_id")
    def s(c: Column) = c.cast("string")
    val url = F.concat(F.lit("https://sub"), s(id % 3), F.lit(".site"),
      s(id % 20),
      F.when(id % 4 === 0, F.lit(".co.uk")).otherwise(F.lit(".org")),
      F.lit("/p/"), s(id))
    graft.extract.UrlOps.domainStats(
      docs(spark, dir).select(url.as("url"), F.col("text")), "url", "text")
      .orderBy("domain")
  }

  /** Crawl-frontier politeness schedule over a synthesized skewed frontier
    * (40% of URLs on one hot host — the zipf case the distributed-rank
    * shape exists for), concurrency 4 per host per wave
    * ([[graft.extract.UrlOps.crawlSchedule]]; the oracle states the
    * semantics as the per-host row_number window at toy scale).
    */
  def crawlScheduleQ(spark: SparkSession, dir: String): DataFrame = {
    val id = F.col("doc_id")
    val host = F.when(id % 10 < 4, F.lit("hot.example.com"))
      .otherwise(F.concat(F.lit("h"), (id % 7).cast("string"), F.lit(".example.org")))
    val url = F.concat(F.lit("https://"), host, F.lit("/p/"), id.cast("string"))
    graft.extract.UrlOps.crawlSchedule(
        docs(spark, dir).select(host.as("host"), url.as("url")),
        "host", "url", concurrency = 4)
      .orderBy("host", "host_rank")
  }

  /** Redirect-chain resolution over a synthesized crawl redirect relation:
    * doc_ids not divisible by 8 redirect one step down (`u{i} -> u{i-1}`),
    * giving chains of length 1..7 onto the `u{8k}` terminals; 3 pointer-
    * jumping doublings (2^3 >= 7) resolve every chain
    * ([[graft.extract.UrlOps.resolveRedirects]]). Oracle replays the walk
    * as a DuckDB RECURSIVE CTE to the terminal.
    */
  def urlRedirects(spark: SparkSession, dir: String): DataFrame = {
    val id = F.col("doc_id")
    def u(c: Column) = F.concat(F.lit("https://r.example.org/u"), c.cast("string"))
    val edges = docs(spark, dir).filter(id % 8 =!= 0)
      .select(u(id).as("src"), u(id - 1).as("dst"))
    graft.extract.UrlOps.resolveRedirects(edges, rounds = 3).orderBy("src")
  }

  /** The flagship end-to-end pipeline (extract -> infer -> normalize ->
    * summarize) over the sf-scaled corpus; value oracle in
    * [[KgSql.summarySql]] (inference outcome pinned + scale-stable for this
    * corpus family — see KgOracleSpec).
    */
  def kgSummary(spark: SparkSession, dir: String): DataFrame = {
    val out = java.nio.file.Files.createTempDirectory("graft-kg-summary").toString
    val cfg = graft.pipeline.Pipeline.Config(outDir = out, minOccurs = 5,
      minNsSize = 100, minDomainOccurs = 10, resume = false)
    val res = graft.pipeline.Pipeline.runUrlText(spark,
      graft.extract.Synth.pagesUrlText(spark, kgPageCount(spark, dir)), cfg)
    // the summary DataFrame is already local rows (summarizeWithGroups
    // collects the group space); drop the pipeline's triple cache so
    // repeated invocations don't accrete CacheManager entries
    res.triples.unpersist()
    res.summary
  }

  /** Per-predicate namespace-level domain/range induction (schema discovery
    * stage of KG construction): for each predicate IRI, the most frequent
    * subject namespace (domain) and object namespace / literal group (range)
    * with support counts, under the SAME registry the summary uses. Argmax is
    * an algebraic struct-MIN over `(-n, ns)` — partial-aggregates map-side,
    * never a window over statements; the group space is |predicates| x
    * |namespaces| (tiny at any corpus size) and the final joins are
    * predicate-vocabulary-sized, so AQE broadcasts them. Value oracle in
    * [[KgSql.domainRangeSql]] re-derives with windowed argmax over the same
    * (n DESC, ns ASC) order.
    */
  def kgDomainRange(spark: SparkSession, dir: String): DataFrame = {
    val out = java.nio.file.Files.createTempDirectory("graft-kg-dr").toString
    val cfg = graft.pipeline.Pipeline.Config(outDir = out, minOccurs = 5,
      minNsSize = 100, minDomainOccurs = 10, resume = false)
    // registry contract unchanged (same triples, same inference config), but
    // computed only as far as this query needs: extraction (checkpointed
    // once — inference round 1 and the normalize pass both read it) + the
    // inference rounds. The former Pipeline.run also paid the batch
    // summarize stage and all four sinks, whose outputs this query never
    // reads (guide §1.2).
    val triples = graft.pipeline.Pipeline
      .extractTriplesUrlText(
        graft.extract.Synth.pagesUrlText(spark, kgPageCount(spark, dir)))
      .toDF().localCheckpoint()
    val reg = graft.pipeline.Pipeline.runInference(
      triples, Registry.community(), cfg, Vector.newBuilder)._1
    val bc = spark.sparkContext.broadcast(reg)
    val norm = Normalize.normalize(triples, bc).select("p", "s_ns", "o_ns")
    def argmaxSide(col: String, outNs: String, outN: String): DataFrame =
      norm.groupBy(F.col("p"), F.col(col).as(outNs))
        .agg(F.count(F.lit(1)).as(outN))
        .groupBy("p")
        .agg(F.min(F.struct((-F.col(outN)).as("nn"), F.col(outNs).as("ns"))).as("x"))
        .select(F.col("p"), F.col("x.ns").as(outNs), (-F.col("x.nn")).as(outN))
    val tot = norm.groupBy("p").agg(F.count(F.lit(1)).as("n_stmts"))
    tot.join(argmaxSide("s_ns", "domain_ns", "domain_n"), "p")
      .join(argmaxSide("o_ns", "range_ns", "range_n"), "p")
      .orderBy("p")
  }

  /** The SAME summary as [[kgSummary]], produced by the STREAMING path
    * (S2.9 surfaced through the driver, VERDICT r4 #8): the sf-scaled corpus
    * is staged to a directory as 4 parquet "crawl segments", the registry is
    * fixed by one batch inference pass (the production shape — a periodic
    * batch job refreshes the registry; the continuous summarizer consumes the
    * broadcast result), then [[graft.streaming.PageStream]] drains the
    * backlog with `Trigger.AvailableNow` in 2-file micro-batches (2 batches,
    * so the state-store accumulation genuinely runs) in Complete mode. The
    * final memory table must equal the batch summary bit-for-bit — oracled by
    * the same [[KgSql.summarySql]] as q_kg_summary.
    */
  def streamSummary(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pages = graft.extract.Synth.pages(spark, kgPageCount(spark, dir))
    val stage = java.nio.file.Files.createTempDirectory("graft-stream-pages").toString
    // 4 segments × 2-file triggers → 2 micro-batches: Complete mode re-emits
    // the merged-so-far summary each batch, so the drained table is the
    // final summary for ANY file->batch split; 2 batches still exercise the
    // cross-batch state-store merge while halving the per-batch overhead
    // (state commits, offset/commit logs, incremental planning — guide §1.2).
    pages.toDF().repartition(4).write.mode("overwrite").parquet(stage)
    // Registry contract unchanged (one batch inference pass fixes it), but
    // computed only as far as the registry needs: extraction over the STAGED
    // table (same rows; re-synthesizing pages would redo the generator work,
    // and parquet column pruning feeds the extractor just (url, text)) +
    // the inference rounds. The old Pipeline.run also ran the batch
    // summarize and all four sinks — outputs this query never reads.
    val reg = {
      // runInference writes nothing, but its Config needs an outDir: a
      // throwaway one, so no output can ever land in the stream's source dir
      val scratch = java.nio.file.Files.createTempDirectory("graft-stream-infer").toString
      val cfg = graft.pipeline.Pipeline.Config(outDir = scratch, minOccurs = 5,
        minNsSize = 100, minDomainOccurs = 10, resume = false)
      val triples = graft.pipeline.Pipeline
        .extractTriples(spark.read.parquet(stage).as[graft.model.Page]).toDF()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try graft.pipeline.Pipeline.runInference(
        triples, Registry.community(), cfg, Vector.newBuilder)._1
      finally triples.unpersist()
    }
    val name = "stream_summary_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = withStreamShuffle(spark) {
      val q0 = graft.streaming.PageStream.startCompleteSummary(
        spark, stage, reg, name, maxFilesPerTrigger = 2)
      q0.awaitTermination()
      q0
    }
    spark.table(name)
      .select("s_ns", "p_ns", "o_ns", "is_datatype", "occurs")
      .orderBy("s_ns", "p_ns", "o_ns", "is_datatype")
  }

  /** Streaming exact content-dedup surfaced through the driver: the
    * `documents` table (with a deterministic event time derived from doc_id)
    * is staged as 4 parquet segments and drained by
    * [[graft.streaming.DocStream]] with `Trigger.AvailableNow` in 2-file
    * micro-batches. WHICH duplicate instance survives a within-batch tie is
    * arbitrary (same as batch `dropDuplicates`), so the oracled projection is
    * the survivor CONTENT set — `(md5(text), length)` — which must equal the
    * batch `SELECT DISTINCT` exactly. The watermark delay (30 days) exceeds
    * the staged corpus's event-time span at every sf, so no state expires
    * mid-drain and the streaming survivor set is the global distinct.
    */
  def streamDedup(spark: SparkSession, dir: String): DataFrame = {
    val staged = docs(spark, dir)
      .select(
        F.col("doc_id"),
        F.timestamp_seconds(F.lit(1767225600L) + F.col("doc_id")).as("ts"),
        F.col("text"))
    val stage = java.nio.file.Files.createTempDirectory("graft-stream-docs").toString
    // 4 segments / 2-file triggers → 2 micro-batches: the survivor CONTENT
    // set (the oracled projection) equals the batch distinct under ANY
    // file->batch split (the 30-day watermark exceeds the staged span, so no
    // state expires mid-drain); 2 batches keep the cross-batch state
    // carry-over exercised at half the per-batch overhead.
    staged.repartition(4).write.mode("overwrite").parquet(stage)
    val name = "stream_dedup_" + java.util.UUID.randomUUID().toString.replace("-", "")
    withStreamShuffle(spark) {
      graft.streaming.DocStream.startMemoryDedup(
        spark, stage, delay = "30 days", name, maxFilesPerTrigger = 2)
        .awaitTermination()
    }
    spark.table(name)
      .select(F.col("content_md5"),
        F.length(F.col("text")).cast("long").as("len"))
      .orderBy("content_md5")
  }

  /** Watermarked stream-stream join surfaced through the driver: the events
    * table staged as 4 parquet segments, read as TWO independent file-source
    * streams (signups, purchases), joined with
    * [[graft.streaming.EventStream.attributionJoin]] and drained
    * `Trigger.AvailableNow` in 2-file micro-batches. The watermark delay
    * (4000 days) exceeds the staged span at every sf, so no join state
    * evicts mid-drain and the drained pairs are exactly the batch join —
    * which the DuckDB oracle recomputes relationally.
    */
  def streamJoin(spark: SparkSession, dir: String): DataFrame = {
    val stage = java.nio.file.Files.createTempDirectory("graft-stream-events").toString
    // 4 segments / 2-file triggers → 2 micro-batches per source: the inner
    // join's Append output is the complete batch join for ANY file->batch
    // split (the 4000-day watermark never evicts state mid-drain), so the
    // appended pair set is schedule-independent; 2 batches still exercise
    // cross-batch join-state accumulation on both sides.
    spark.read.parquet(s"$dir/events.parquet")
      .select("event_id", "ts", "user_id", "event_type", "value")
      .withColumn("props", F.lit(null).cast("string"))
      .repartition(4).write.mode("overwrite").parquet(stage)
    val name = "stream_join_" + java.util.UUID.randomUUID().toString.replace("-", "")
    withStreamShuffle(spark) {
      graft.streaming.EventStream.startMemoryAttribution(
        spark, stage, name, maxFilesPerTrigger = 2)
        .awaitTermination()
    }
    spark.table(name).orderBy("user_id", "signup_event_id", "purchase_event_id")
  }

  def simLsh(spark: SparkSession, dir: String): DataFrame = {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    Similarity.lshNeighbors(emb, "vec_id", "embedding", nPlanes = 10, nTables = 4, minSim = 0.3)
      .orderBy("id_a", "id_b")
  }

  /** Int8 max-abs embedding quantization (ANN index compression step);
    * codes hashed for the compare, mse = reconstruction error.
    */
  def embedQuant(spark: SparkSession, dir: String): DataFrame =
    Similarity.quantizeInt8(
      spark.read.parquet(s"$dir/embeddings.parquet"), "vec_id", "embedding")
      .select(F.col("id").as("vec_id"), F.col("scale"),
        F.md5(F.array_join(F.transform(F.col("codes"), _.cast("string")), ","))
          .as("codes_md5"),
        F.col("mse"))
      .orderBy("vec_id")

  /** Int8-grid embedding-outlier scan: top-50 by exact-integer squared L2
    * from the floor-division centroid ([[Similarity.int8Outliers]]; oracle
    * recomputes the same codes/centroid/scores in SQL).
    */
  def embedOutliers(spark: SparkSession, dir: String): DataFrame =
    Similarity.int8Outliers(
      spark.read.parquet(s"$dir/embeddings.parquet"), "vec_id", "embedding",
      k = 50)
      .select(F.col("id").as("vec_id"), F.col("score"))

  /** SymSpell fuzzy matching over the SAME top-500 vocab as q_vocab_topk
    * ([[TextOps.fuzzyVocabPairs]], maxDist = 2).
    */
  def fuzzyVocab(spark: SparkSession, dir: String): DataFrame =
    TextOps.fuzzyVocabPairs(
      TextOps.buildVocab(docs(spark, dir), "text", vocabSize = 500))
      .orderBy("a", "b")

  /** Engine-exact integer Lloyd k-means over the embeddings (k=4, 2
    * assignment rounds — the IVF coarse-quantizer training step; see
    * [[graft.sim.Similarity.kMeansInt]]; the oracle unrolls the identical
    * integer rounds in SQL).
    */
  def kmeansAssign(spark: SparkSession, dir: String): DataFrame =
    Similarity.kMeansInt(
      spark.read.parquet(s"$dir/embeddings.parquet"), "vec_id", "embedding",
      k = 4, rounds = 2)
      .select(F.col("id").as("vec_id"), F.col("cluster"), F.col("dist2"))
      .orderBy("vec_id")

  def textLangId(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(F.col("doc_id"), TextOps.langId(F.col("text")).as("pred_lang"))
      .orderBy("doc_id")

  /** Language-ID confusion matrix: predicted ([[TextOps.langId]]) vs the
    * table's declared `lang`, with counts — the quality report that decides
    * whether the heuristic is good enough to route a language mix. One
    * algebraic aggregation over a pure projection (group space =
    * |langs|², nothing ever concentrates); oracle reuses the langIdSql CTE.
    */
  def langIdConfusion(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(F.col("lang"), TextOps.langId(F.col("text")).as("pred_lang"))
      .groupBy("lang", "pred_lang")
      .agg(F.count(F.lit(1)).as("n"))
      .orderBy("lang", "pred_lang")

  def textQuality(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(F.col("doc_id"), TextOps.qualityScore(F.col("text")).as("quality"))
      .orderBy("doc_id")

  /** C4-style document filter: tokens >= 20, quality >= 0.5, language 'en'.
    * Tokenize-once shape (TextOps.withDocMetrics): one regex split per row,
    * every metric and the pushed filter read the materialized token array.
    */
  def textFilter(spark: SparkSession, dir: String): DataFrame =
    TextOps.withDocMetrics(docs(spark, dir), "text")
      .filter(F.col("n_tokens") >= 20 && F.col("quality") >= 0.5 &&
        F.col("pred_lang") === "en")
      .select("doc_id", "n_tokens", "quality")
      .orderBy("doc_id")

  /** Deterministic stratified sampling: down-sample English to 300‰, keep
    * 700‰ of every other language (seed 11) — bit-exact splitmix64 buckets
    * on both sides.
    */
  def stratifiedSample(spark: SparkSession, dir: String): DataFrame =
    TextOps.stratifiedSample(docs(spark, dir), "doc_id", "lang",
      permille = Map("en" -> 300), defaultPermille = 700, seed = 11L)
      .select("doc_id", "lang")
      .orderBy("doc_id")

  /** Deterministic shard assignment + order-free manifest checksums over
    * the documents table (48 shards — deliberately not a power of two, so
    * the unsigned-mod path is exercised; seed 31).
    * [[TextOps.shardManifest]]; bit-exact oracle
    * [[HashSql.shardManifestSql]].
    */
  def shardManifest(spark: SparkSession, dir: String): DataFrame =
    TextOps.shardManifest(docs(spark, dir), "doc_id", "text",
      nShards = 48, seed = 31L)
      .orderBy("shard")

  /** Temperature-resampled multilingual mixture (alpha = 0.5, T = half the
    * corpus, seed 23): per-language sqrt-weighted quotas filled by
    * deterministic splitmix rank — [[TextOps.temperatureSample]]; bit-exact
    * oracle [[HashSql.temperatureMixSql]] (quota doubles share one defined
    * operand order, selection is exact-integer).
    */
  def temperatureMix(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    TextOps.temperatureSample(d, "doc_id", "lang",
      targetTotal = d.count() / 2, seed = 23L)
      .orderBy("doc_id")
  }

  /** Deterministic two-corpus mix: 700‰ of documents ('web') interleaved
    * with 300‰ of part names ('parts'), seed 7 rotated per source —
    * bit-exact splitmix64 buckets on both sides
    * (see [[TextOps.mixCorpora]], oracle [[HashSql.mixCorporaSql]]).
    */
  def mixCorpora(spark: SparkSession, dir: String): DataFrame = {
    val parts = spark.read.parquet(s"$dir/part.parquet")
      .select(F.col("p_partkey").as("doc_id"), F.col("p_name").as("text"))
    TextOps.mixCorpora(
        Seq(("web", docs(spark, dir), 700), ("parts", parts, 300)),
        "doc_id", "text", seed = 7L)
      .orderBy("source", "doc_id")
  }

  /** Exact substring-dedup footprint (Lee et al. ExactSubstr semantics at
    * k=6 tokens): per document, tokens covered by corpus-duplicated grams
    * (first occurrence exempt) and the merged span count
    * (see [[graft.dedup.Dedup.dedupSubstrings]]).
    */
  def dedupSubstr(spark: SparkSession, dir: String): DataFrame =
    graft.dedup.Dedup.dedupSubstrings(docs(spark, dir), "doc_id", "text", k = 6)
      .orderBy("doc_id")

  /** Top-500 corpus vocabulary (freq desc, token asc), contiguous ids. */
  def vocabTop(spark: SparkSession, dir: String): DataFrame =
    TextOps.buildVocab(docs(spark, dir), "text", vocabSize = 500)
      .orderBy("token_id")

  /** Documents encoded as vocab token-id sequences (OOV = -1), hashed for
    * the compare — the id sequence must match DuckDB's re-derivation of the
    * same vocab and the same per-position lookup.
    */
  /** OOV-rate diagnostic under the SAME top-500 vocab as q_vocab_topk /
    * q_tokenize_ids; n_tokens and n_oov are exact longs, oov_rate one
    * engine-identical double division.
    */
  def vocabCoverage(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val vocab = TextOps.buildVocab(d, "text", vocabSize = 500)
    TextOps.vocabCoverage(d, "doc_id", "text", vocab)
      .orderBy("doc_id")
  }

  def tokenizeIds(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val vocab = TextOps.buildVocab(d, "text", vocabSize = 500)
    TextOps.encodeTokenIds(d, "doc_id", "text", vocab)
      .select(F.col("doc_id"),
        F.md5(F.array_join(F.transform(F.col("token_ids"), _.cast("string")), ","))
          .as("ids_md5"))
      .orderBy("doc_id")
  }

  /** Deterministic 5% val split (seed 42), bit-exact in DuckDB. */
  def splitTrainVal(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(F.col("doc_id"),
        TextOps.trainValSplit(F.col("doc_id"), valPermille = 50, seed = 42L).as("split"))
      .orderBy("doc_id")

  /** Sequence packing at a 512-token budget (two-pass distributed prefix sum,
    * never a single-partition window).
    */
  def packSequences(spark: SparkSession, dir: String): DataFrame =
    TextOps.packSequences(docs(spark, dir), "doc_id", "text", budget = 512L)
      .orderBy("id")

  /** Concat-and-chunk block spans at a 256-token block size: one row per
    * (document, block) intersection with the in-document token span (see
    * [[TextOps.chunkBlocks]] — the GPT-style pretraining sequence cutter).
    */
  def chunkBlocks(spark: SparkSession, dir: String): DataFrame =
    TextOps.chunkBlocks(docs(spark, dir), "doc_id", "text", blockSize = 256L)
      .orderBy("block_id", "id")

  /** Top-200 adjacent-token pairs by (freq desc, pair asc) — the counting
    * step of one BPE merge iteration (see [[TextOps.bpePairCounts]]).
    */
  def bpePairs(spark: SparkSession, dir: String): DataFrame =
    TextOps.bpePairCounts(docs(spark, dir), "text", topK = 200)

  /** Unicode + whitespace normalization over a deterministically-dirtied
    * corpus (the synthetic documents are clean ASCII, so both engines append
    * the same NFD sequences / zero-width chars / CRLF / tab runs derived
    * from doc_id, then normalize — the q_text_pii fixture pattern). Output
    * pins the normalized BYTES via md5 plus the codepoint length.
    */
  def textNormalize(spark: SparkSession, dir: String): DataFrame = {
    val id = F.col("doc_id")
    val aug = F.concat(
      F.col("text"),
      F.lit(" cafe\u0301  x\u200B\ty\r\nz "),
      F.when(id % 2 === 0, F.lit("\u00E9")).otherwise(F.lit("e\u0301")))
    docs(spark, dir)
      .select(id, TextOps.normalizeText(aug).as("norm"))
      .select(id, F.md5(F.col("norm")).as("norm_md5"),
        F.length(F.col("norm")).cast("long").as("norm_len"))
      .orderBy("doc_id")
  }

  /** Per-doc Unicode script profile over a deterministically script-mixed
    * corpus: doc_id-keyed Cyrillic / Han / Arabic / mixed suffixes are
    * appended to the (Latin) document text, then counted per script through
    * each engine's regex Unicode tables ([[TextOps.scriptProfile]]; the
    * oracle repeats the identical subtraction form with RE2 script classes).
    */
  def scriptProfileQ(spark: SparkSession, dir: String): DataFrame = {
    val id = F.col("doc_id")
    val aug = F.concat(
      F.col("text"),
      F.when(id % 7 === 1, F.lit(" Привет мир дом"))
        .when(id % 7 === 2, F.lit(" 你好世界汉字"))
        .when(id % 7 === 3, F.lit(" مرحبا بالعالم"))
        .when(id % 7 === 4, F.lit(" Привет 你好 مرحبا"))
        .otherwise(F.lit("")))
    val cols = TextOps.scriptProfile(aug).map { case (n, c) => c.as(n) }
    docs(spark, dir).select(id +: cols: _*).orderBy("doc_id")
  }

  /** Anchor-link extraction + RFC 3986 resolution over deterministically
    * synthesized page HTML (absolute / rooted / relative / parent-relative
    * anchors plus fragment-only and mailto noise that must be dropped —
    * all closed-form in doc_id so the oracle recomputes the resolved URL
    * set; the ENGINE does real regex extraction + java.net.URI resolution).
    */
  def webLinks(spark: SparkSession, dir: String): DataFrame =
    linkFixture(spark, dir)
      .select("id", "href", "resolved", "tgt_host")
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id", "href")

  /** Host-level link graph over the same fixture: (src_host, tgt_host,
    * n_links) — the web-graph roll-up ([[graft.extract.Links.hostGraph]]).
    */
  def hostGraph(spark: SparkSession, dir: String): DataFrame =
    graft.extract.Links.hostGraph(linkFixture(spark, dir))
      .orderBy("src_host", "tgt_host")

  /** Shared synthesized link-fixture pages: anchor TEXTS vary on different
    * moduli than their targets so the anchor-text profile has real text
    * collisions and argmax ties to break (hrefs unchanged — the q_web_links
    * / q_host_graph oracles only see targets).
    */
  private def linkFixturePages(spark: SparkSession, dir: String): DataFrame = {
    val id = F.col("doc_id")
    def s(c: Column) = c.cast("string")
    val base = F.concat(F.lit("https://site"), s(id % 50),
      F.lit(".example.org/dir/page"), s(id))
    val html = F.concat(
      F.lit("<html><body>\n<a href=\"https://ext"), s(id % 20),
      F.lit(".example.net/x/"), s(id), F.lit("\">e</a>\n"),
      F.lit("<a class=\"m\" href=\"/r/"), s(id % 10), F.lit("\">r"), s(id % 7), F.lit("</a>\n"),
      F.lit("<a href=\"a/b"), s(id % 5), F.lit("\">rel"), s(id % 3), F.lit("</a>\n"),
      F.lit("<a href=\"../up"), s(id % 3), F.lit("\">up</a>\n"),
      F.lit("<a href=\"#sec\">f</a>\n<a href=\"mailto:x@y.example\">m</a>\n"),
      F.lit("</body></html>"))
    docs(spark, dir).select(id, base.as("url"), html.as("html"))
  }

  /** jusText-class block classification over doc_id-derived HTML: four
    * paragraph blocks per page — a link-dense nav row, a long
    * stopword-rich content block, a tiny copyright line, and a mixed
    * read-more block with one inline link — exercising all three verdicts.
    * The ENGINE parses the real HTML ([[graft.extract.Blocks]]); the ORACLE
    * reconstructs each block's clean text closed-form from the generation
    * rule and recomputes every integer metric — the two sides share no
    * parsing path.
    */
  def htmlBlocks(spark: SparkSession, dir: String): DataFrame = {
    val id = F.col("doc_id")
    def s(c: Column) = c.cast("string")
    val html = F.concat(
      F.lit("<html><body>\n<p><a href=\"/n1\">Nav "), s(id % 5),
      F.lit("</a> <a href=\"/n2\">More links here</a></p>\n" +
        "<p>The quick brown fox number "), s(id % 7),
      F.lit(" jumps over the lazy dog and the crowd watches in the warm " +
        "sun of the valley</p>\n<p>Copyright "), s(id % 25 + 2000),
      F.lit(" Site"), s(id % 3),
      F.lit("</p>\n<p>Read more about topic "), s(id % 9),
      F.lit(" on <a href=\"/t/"), s(id % 9),
      F.lit("\">this page</a> now</p>\n</body></html>"))
    graft.extract.Blocks.blockProfiles(
        docs(spark, dir).select(id, html.as("html")), "doc_id", "html")
      .orderBy("doc_id", "block_idx")
  }

  private def linkFixture(spark: SparkSession, dir: String): DataFrame =
    graft.extract.Links.pageLinks(
      linkFixturePages(spark, dir), "doc_id", "url", "html")

  /** Per-target anchor-text profile over the link fixture ("what does the
    * web call this URL" — the entity-linking prior): total in-links,
    * distinct texts, most frequent text with algebraic struct-min argmax
    * ([[graft.extract.Links.anchorTextProfile]]).
    */
  def anchorText(spark: SparkSession, dir: String): DataFrame =
    graft.extract.Links.anchorTextProfile(
      graft.extract.Links.anchors(
        linkFixturePages(spark, dir), "doc_id", "url", "html"))
      .orderBy("tgt")

  /** Corpus-unigram LM scoring (CCNet-style perplexity-filter signal). */
  def textUnigramLm(spark: SparkSession, dir: String): DataFrame =
    TextOps.unigramLogProb(docs(spark, dir), "doc_id", "text")
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")

  def textTokens(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).select(
      F.col("doc_id"),
      TextOps.tokenCount(F.col("text")).cast("long").as("n_tokens"),
      TextOps.bpeishTokenCount(F.col("text")).cast("long").as("n_bpeish"))
      .orderBy("doc_id")

  def textFingerprint(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(F.col("doc_id"), TextOps.fingerprint("text").as("fp"))
      .orderBy("doc_id")

  /** Gopher-style repetition filters: top-1-gram fraction + duplicate-bigram
    * fraction per document.
    */
  def textRepetition(spark: SparkSession, dir: String): DataFrame =
    TextOps.repetitionMetrics(docs(spark, dir), "doc_id", "text")
      .orderBy("doc_id")

  /** Cross-document trigram-shingle overlap (decontamination scoring). */
  def textOverlap(spark: SparkSession, dir: String): DataFrame =
    TextOps.shingleOverlap(docs(spark, dir), "doc_id", "text")
      .orderBy("doc_id")

  /** CCNet-style perplexity bucketing: global rank + head/middle/tail
    * terciles over the unigram-LM score via the distributed prefix-sum rank
    * (never a single-partition ntile window).
    */
  def pplBuckets(spark: SparkSession, dir: String): DataFrame =
    TextOps.rankBuckets(
        TextOps.unigramLogProb(docs(spark, dir), "doc_id", "text"),
        "id", "neg_logprob", k = 3)
      .select(F.col("id").as("doc_id"), F.col("score").as("neg_logprob"),
        F.col("rank"), F.col("bucket"))
      .orderBy("doc_id")

  /** Positional inverted index: one postings row per (term, doc) with tf and
    * the canonical ascending position CSV (see [[TextOps.invertedIndex]]).
    */
  def indexPostings(spark: SparkSession, dir: String): DataFrame =
    TextOps.invertedIndex(docs(spark, dir), "doc_id", "text")
      .orderBy("term", "doc_id")

  /** The CSV-hostile payload both round-trip queries ship through their
    * container format: the document text plus an embedded comma, doubled
    * quotes, a newline and a doc_id-varying tail — the characters that
    * break naive writers. Closed-form in doc_id, so the oracle recomputes
    * the digest without ever seeing the container file.
    */
  private def hostilePayload: Column =
    F.concat(F.col("text"), F.lit(", \"q\"\n#"), (F.col("doc_id") % 7).cast("string"))

  /** CSV container round-trip — the source/sink surface check: write the
    * hostile payload as RFC 4180 CSV (quote-doubling escape, multiLine
    * read), read it back with an explicit schema, and emit per-row content
    * digests. The oracle computes the SAME digests closed-form from the
    * parquet table — any quoting/escaping loss in either direction flips
    * the hash. Scale shape: write and read parallelize across files, but
    * `multiLine` makes each FILE the split unit (quoted newlines defeat
    * line splitting — the known CSV-at-scale cost, and exactly why the
    * JSONL twin of this query is the recommended interchange shape); the
    * digest projection is zero-shuffle.
    */
  def csvRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-csv-rt").toString
    docs(spark, dir)
      .select(F.col("doc_id"), hostilePayload.as("payload"), F.col("lang"))
      .write.mode("overwrite")
      .option("header", "true").option("escape", "\"")
      .csv(tmp)
    spark.read
      .schema("doc_id LONG, payload STRING, lang STRING")
      .option("header", "true").option("escape", "\"").option("multiLine", "true")
      .csv(tmp)
      .select(F.col("doc_id"), F.md5(F.col("payload")).as("payload_md5"),
        F.length(F.col("payload")).cast("long").as("payload_len"), F.col("lang"))
      .orderBy("doc_id")
  }

  /** ORC container round-trip — same contract as [[csvRoundtrip]] through
    * the other columnar format large pipelines exchange beside parquet:
    * binary-safe string encoding (no quoting layer to lose), predicate
    * pushdown and split-by-stripe at scale (no `multiLine` caveat — the
    * columnar formats are why CSV is the wrong interchange shape).
    */
  def orcRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-orc-rt").toString
    docs(spark, dir)
      .select(F.col("doc_id"), hostilePayload.as("payload"), F.col("lang"))
      .write.mode("overwrite").orc(tmp)
    spark.read
      .schema("doc_id LONG, payload STRING, lang STRING")
      .orc(tmp)
      .select(F.col("doc_id"), F.md5(F.col("payload")).as("payload_md5"),
        F.length(F.col("payload")).cast("long").as("payload_len"), F.col("lang"))
      .orderBy("doc_id")
  }

  /** JSON-lines container round-trip — same contract as [[csvRoundtrip]]
    * over the other interchange format crawl pipelines actually ship
    * (JSONL): native string escaping must preserve the hostile payload
    * byte-for-byte through write + schema'd read.
    */
  def jsonRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-json-rt").toString
    docs(spark, dir)
      .select(F.col("doc_id"), hostilePayload.as("payload"), F.col("lang"))
      .write.mode("overwrite").json(tmp)
    spark.read
      .schema("doc_id LONG, payload STRING, lang STRING")
      .json(tmp)
      .select(F.col("doc_id"), F.md5(F.col("payload")).as("payload_md5"),
        F.length(F.col("payload")).cast("long").as("payload_len"), F.col("lang"))
      .orderBy("doc_id")
  }

  /** Engine-exact event-rate anomaly flags — the monitoring primitive over
    * the hourly event stream: per event type, hourly counts n against the
    * type's own hourly distribution, flagged when z² > 4 — evaluated as
    * pure integer cross-multiplication
    * `(H·n − S)² > 4·(H·SQ − S²)` with H = #hours, S = Σn, SQ = Σn²
    * (z² = (H·n−S)²/(H·SQ−S²) exactly; no division, no float, so flags are
    * bit-identical cross-engine). Group spaces: (type, hour) then type —
    * both vocabulary-sized, all aggregations algebraic.
    */
  def eventAnomaly(spark: SparkSession, dir: String): DataFrame = {
    val hourly = spark.read.parquet(s"$dir/events.parquet")
      .groupBy(F.col("event_type"), F.date_trunc("hour", F.col("ts")).as("hour"))
      .agg(F.count(F.lit(1)).as("n"))
    val stats = hourly.groupBy("event_type")
      .agg(F.count(F.lit(1)).as("h"),
        F.sum("n").as("s"),
        F.sum(F.col("n") * F.col("n")).as("sq"))
    hourly.join(stats, "event_type")
      .withColumn("dev_num", F.expr("(h * n - s) * (h * n - s)"))
      .withColumn("var_num", F.expr("h * sq - s * s"))
      .withColumn("is_anomaly", F.expr("dev_num > 4 * var_num"))
      .select("event_type", "hour", "n", "dev_num", "var_num", "is_anomaly")
      .orderBy("event_type", "hour")
  }

  /** Event-type transition matrix (first-order Markov counts) — the
    * clickstream path-analysis primitive: per user in time order, each
    * consecutive pair (prev, next) counted, with the row-normalized
    * transition probability in integer per-mille. The per-user window is
    * bounded by a user's own activity (the q_window_events class — the
    * accepted bounded-window shape, never a corpus-wide partition); the
    * final group space is |types|² and the row totals broadcast.
    */
  def eventTransitions(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val tr = spark.read.parquet(s"$dir/events.parquet")
      .withColumn("prev_type", F.lag("event_type", 1).over(w))
      .filter(F.col("prev_type").isNotNull)
      .groupBy("prev_type", "event_type").agg(F.count(F.lit(1)).as("n"))
    val tot = tr.groupBy("prev_type").agg(F.sum("n").as("n_from"))
    tr.join(F.broadcast(tot), "prev_type")
      .withColumn("p_pm", F.expr("CAST(n * 1000 DIV n_from AS BIGINT)"))
      .select("prev_type", "event_type", "n", "n_from", "p_pm")
      .orderBy("prev_type", "event_type")
  }

  /** Weekly retention cohorts over the event stream — the product-analytics
    * staple: users grouped by first-seen week, activity counted per
    * (cohort, week offset), retention as integer per-mille of the cohort
    * size. Scale shape: the first-event table is an algebraic per-user min;
    * the activity set is a map-side-partial DISTINCT on (user, cohort,
    * offset) — never a per-user window — and the final group space is
    * weeks², joined to the weeks-sized cohort sizes via broadcast. Integer
    * division keeps the per-mille bit-identical across engines.
    */
  def retentionCohorts(spark: SparkSession, dir: String): DataFrame = {
    val ev = spark.read.parquet(s"$dir/events.parquet")
    val first = ev.groupBy("user_id")
      .agg(F.date_trunc("week", F.min("ts")).cast("date").as("cohort"))
    val act = ev.join(first, "user_id")
      .select(F.col("user_id"), F.col("cohort"),
        (F.datediff(F.date_trunc("week", F.col("ts")).cast("date"),
          F.col("cohort")) / 7).cast("int").as("week_offset"))
      .distinct()
    val sizes = act.filter(F.col("week_offset") === 0)
      .groupBy("cohort").agg(F.count(F.lit(1)).as("cu"))
    act.groupBy("cohort", "week_offset")
      .agg(F.count(F.lit(1)).as("active_users"))
      .join(F.broadcast(sizes), "cohort")
      .select(F.col("cohort"), F.col("week_offset"), F.col("active_users"),
        F.expr("CAST(active_users * 1000 DIV cu AS BIGINT)").as("retention_pm"))
      .orderBy("cohort", "week_offset")
  }

  /** MERGE/upsert over the document snapshot — the table-maintenance
    * primitive (SQL MERGE, Iceberg/Delta upsert) expressed as ONE full
    * outer join on the key plus coalesce: matched rows take the delta's
    * values ("updated"), unmatched delta rows append ("inserted"), the
    * rest carry over ("kept"). The delta here is derived deterministically
    * from the snapshot (revisions for doc_id % 10 == 0, fresh crawls keyed
    * above the id space) so the oracle rebuilds it closed-form. Scale
    * shape: one key-partitioned shuffle join; real deltas are orders of
    * magnitude smaller than the base, so AQE broadcasts them and the base
    * never shuffles.
    */
  def mergeUpsert(spark: SparkSession, dir: String): DataFrame = {
    val base = docs(spark, dir).select("doc_id", "text", "lang")
    val upd = base.filter(F.col("doc_id") % 10 === 0)
      .select(F.col("doc_id"),
        F.concat(F.col("text"), F.lit(" [rev2]")).as("text"), F.col("lang"))
    val ins = base.filter(F.col("doc_id") % 7 === 3)
      .select((F.col("doc_id") + 1000000).as("doc_id"),
        F.concat(F.lit("fresh crawl "), F.col("doc_id").cast("string")).as("text"),
        F.lit("en").as("lang"))
    val delta = upd.unionByName(ins)
    base.alias("b").join(delta.alias("d"), Seq("doc_id"), "full_outer")
      .select(F.col("doc_id"),
        F.md5(F.coalesce(F.col("d.text"), F.col("b.text"))).as("text_md5"),
        F.coalesce(F.col("d.lang"), F.col("b.lang")).as("lang"),
        F.when(F.col("d.text").isNotNull && F.col("b.text").isNotNull, "updated")
          .when(F.col("b.text").isNull, "inserted")
          .otherwise("kept").as("op"))
      .orderBy("doc_id")
  }

  /** Iceberg-class manifest pruning — scan planning from file-level column
    * stats, the mechanism that lets a 100-TB table answer a selective query
    * by reading a handful of files: per file (deterministic doc_id → file
    * assignment), min/max bounds for the filter columns plus the pruning
    * verdict for `lang = 'en' AND n_chars BETWEEN 500 AND 2000` (a file
    * must be read iff the predicate's ranges overlap its bounds — exactly
    * Iceberg's inclusive-projection residual). `n_matching` is the ground
    * truth: any file with matches MUST have must_read = true (pruning is
    * sound), which LayoutSpec pins. One algebraic groupBy, group space =
    * files.
    */
  def partitionPrune(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .withColumn("file_id", (F.col("doc_id") % 16).cast("int"))
      .groupBy("file_id")
      .agg(F.count(F.lit(1)).as("n_rows"),
        F.min("n_chars").as("min_chars"), F.max("n_chars").as("max_chars"),
        F.min("lang").as("min_lang"), F.max("lang").as("max_lang"),
        F.sum(F.when(F.col("lang") === "en" &&
          F.col("n_chars").between(500, 2000), 1L).otherwise(0L)).as("n_matching"))
      .withColumn("must_read",
        F.col("min_lang") <= F.lit("en") && F.lit("en") <= F.col("max_lang") &&
          F.col("max_chars") >= 500 && F.col("min_chars") <= 2000)
      .select("file_id", "n_rows", "min_chars", "max_chars", "min_lang",
        "max_lang", "must_read", "n_matching")
      .orderBy("file_id")

  /** Hopping (sliding) window aggregation — each event contributes to
    * windowDuration/slideDuration = 4 overlapping windows via Spark's
    * native `window(ts, "60 minutes", "15 minutes")` explode; counts and
    * the integer user-id checksum per (window, type). The oracle expands
    * the same 4-window assignment from epoch arithmetic. Completes the
    * batch window-type matrix beside tumbling (q_window_events) and
    * session (q_session_window).
    */
  def hoppingWindow(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/events.parquet")
      .groupBy(F.window(F.col("ts"), "60 minutes", "15 minutes"),
        F.col("event_type"))
      .agg(F.count(F.lit(1)).as("n_events"), F.sum("user_id").as("user_sum"))
      .select(F.col("window.start").as("wstart"), F.col("window.end").as("wend"),
        F.col("event_type"), F.col("n_events"), F.col("user_sum"))
      .orderBy("wstart", "event_type")

  /** The hopping-window aggregation drained as a genuine STREAM
    * ([[graft.streaming.EventStream.startMemoryHopping]]): events staged as
    * 4 parquet segments, 2-file micro-batches, Complete mode — window
    * fragments arriving in different micro-batches must combine through
    * the state store to match the batch twin, which the SAME oracle SQL as
    * [[hoppingWindow]] checks.
    */
  def streamHopping(spark: SparkSession, dir: String): DataFrame = {
    val stage = java.nio.file.Files.createTempDirectory("graft-stream-hop").toString
    // 4 segments / 2-file triggers → 2 micro-batches: Complete mode makes
    // the drained table the final merged counts for ANY file->batch split;
    // 2 batches keep the cross-batch window merge exercised at half the
    // per-batch overhead.
    spark.read.parquet(s"$dir/events.parquet")
      .select("event_id", "ts", "user_id", "event_type", "value")
      .withColumn("props", F.lit(null).cast("string"))
      .repartition(4).write.mode("overwrite").parquet(stage)
    val name = "stream_hop_" + java.util.UUID.randomUUID().toString.replace("-", "")
    withStreamShuffle(spark) {
      graft.streaming.EventStream.startMemoryHopping(
        spark, stage, name, maxFilesPerTrigger = 2)
        .awaitTermination()
    }
    spark.table(name)
      .select(F.col("wstart").cast("timestamp_ntz").as("wstart"),
        F.col("wend").cast("timestamp_ntz").as("wend"),
        F.col("event_type"), F.col("n_events"), F.col("user_sum"))
      .orderBy("wstart", "event_type")
  }

  /** Stage a DataFrame (events schema + an int `bucket` column 0..nSeg-1)
    * as nSeg single-file parquet segments with strictly increasing
    * modification times — the file stream source orders by mtime
    * (probe-pinned), so `maxFilesPerTrigger` then yields a DETERMINISTIC
    * file→micro-batch schedule. Fixture scaffolding for the oracled
    * streaming queries.
    */
  private def stageBucketedSegments(
      staged: DataFrame, nSeg: Int): String = {
    val stage = java.nio.file.Files.createTempDirectory("graft-stream-seg")
    val tmpRoot = java.nio.file.Files.createTempDirectory("graft-stream-seg-tmp").toString
    // ONE shuffle + ONE write job for all segments (was nSeg sequential
    // filter+coalesce(1) jobs, each rescanning the input — guide §1.2):
    // hash-repartitioning on `bucket` puts each bucket's rows in a single
    // task, so the dynamic partitionBy writer emits exactly one file per
    // bucket. Segment CONTENTS are unchanged; within-segment row order may
    // differ from the old coalesce(1) order, which the three consumers
    // (update/state/late) are insensitive to by construction — their state
    // folds and window aggregates are commutative (pinned in their docs and
    // oracles, which depend only on the file->batch schedule).
    staged.repartition(nSeg, F.col("bucket"))
      .write.mode("overwrite").partitionBy("bucket").parquet(tmpRoot)
    (0 until nSeg).foreach { k =>
      val segDir = new java.io.File(tmpRoot, s"bucket=$k")
      val part = Option(segDir.listFiles()).getOrElse(Array.empty[java.io.File])
        .find(f => f.getName.endsWith(".parquet"))
      // explicit fixture-shape error instead of an opaque Option.get crash
      // (ADVICE r5): a sparse bucket space would break the deterministic
      // file->micro-batch schedule the oracles replay
      require(part.isDefined,
        s"stageBucketedSegments: bucket $k of $nSeg produced no rows/file — " +
          "the deterministic file->micro-batch schedule requires every segment")
      val dest = new java.io.File(stage.toFile, f"seg-$k%d.parquet")
      java.nio.file.Files.move(part.get.toPath, dest.toPath)
      dest.setLastModified(1700000000000L + k * 1000L)
    }
    stage.toString
  }

  /** Update-mode streaming aggregation — the third output mode beside the
    * Complete drains and [[streamLate]]'s Append: every micro-batch emits
    * the groups it CHANGED with their cumulative-so-far aggregates (the
    * memory sink appends each batch's updated rows, so the drained table
    * is the full update history). With the deterministic `event_id % 8`
    * segment schedule the history is exactly reproducible: the oracle
    * regroups per (window, type, batch), keeps batches that contributed
    * rows, and emits running sums — cumulative counts strictly increase,
    * so the multiset matches row-for-row. No watermark: state is never
    * evicted and no no-data batch fires (production jobs bound this with
    * a watermark; the eviction semantics are [[streamLate]]'s subject).
    */
  def streamUpdate(spark: SparkSession, dir: String): DataFrame = {
    val ev = spark.read.parquet(s"$dir/events.parquet")
      .select("event_id", "ts", "user_id", "event_type", "value")
      .withColumn("props", F.lit(null).cast("string"))
      .withColumn("bucket", (F.col("event_id") % 8).cast("int"))
    val stage = stageBucketedSegments(ev, 8)
    val name = "stream_upd_" + java.util.UUID.randomUUID().toString.replace("-", "")
    // the 8-segment/2-file schedule is the oracle contract (the update
    // history depends on batch boundaries) — only the state-partition count
    // is tuned; emitted rows are partition-count-independent
    withStreamShuffle(spark) {
      graft.streaming.EventStream.startMemoryUpdateWindows(
        spark, stage, name, maxFilesPerTrigger = 2)
        .awaitTermination()
    }
    spark.table(name)
      .select(F.col("wstart").cast("timestamp_ntz").as("wstart"),
        F.col("wend").cast("timestamp_ntz").as("wend"),
        F.col("event_type"), F.col("n_events"), F.col("user_sum"))
      .orderBy("wstart", "event_type", "n_events")
  }

  /** Arbitrary-stateful streaming drained deterministically
    * ([[graft.streaming.EventStream.startMemoryUserState]]): per user, a
    * custom (count, distinct-type bitmask) state via
    * `flatMapGroupsWithState`, one emission per contributing micro-batch —
    * the custom-state API surface, oracled via running sums + first-seen
    * joins over the `event_id % 8` schedule.
    */
  def streamState(spark: SparkSession, dir: String): DataFrame = {
    val ev = spark.read.parquet(s"$dir/events.parquet")
      .select("event_id", "ts", "user_id", "event_type", "value")
      .withColumn("props", F.lit(null).cast("string"))
      .withColumn("bucket", (F.col("event_id") % 8).cast("int"))
    val stage = stageBucketedSegments(ev, 8)
    val name = "stream_state_" + java.util.UUID.randomUUID().toString.replace("-", "")
    // schedule frozen (per-batch emissions are the oracle contract); only
    // the state-partition count is tuned — see [[withStreamShuffle]]
    withStreamShuffle(spark) {
      graft.streaming.EventStream.startMemoryUserState(
        spark, stage, name, maxFilesPerTrigger = 2)
        .awaitTermination()
    }
    spark.table(name).orderBy("user_id", "n_events")
  }

  /** Mutual-kNN graph over the embedding table — the symmetric-neighbor
    * edge set SemDeDup-style clustering and UMAP-class layouts start from:
    * an edge (a, b) exists iff b is in a's top-5 AND a is in b's top-5.
    * Built from ONE bounded top-k pass ([[Similarity.bruteTopK]] with its
    * TopKAgg partial aggregation — never a window) self-joined on the
    * reversed key; at corpus scale the same shape runs over LSH/IVF
    * candidate lists (q_sim_lsh / q_sim_ivf) instead of the brute scorer.
    */
  def embedMutualKnn(spark: SparkSession, dir: String): DataFrame = {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val t = Similarity.bruteTopK(emb, emb, "vec_id", "embedding", 5)
      .select(F.col("query_id"), F.col("neighbor_id"), F.col("rank"), F.col("sim"))
    val rev = t.select(F.col("query_id").as("neighbor_id"),
      F.col("neighbor_id").as("query_id"), F.col("rank").as("rank_ba"))
    t.join(rev, Seq("query_id", "neighbor_id"))
      .filter(F.col("query_id") < F.col("neighbor_id"))
      .select(F.col("query_id").as("a"), F.col("neighbor_id").as("b"),
        F.col("rank").as("rank_ab"), F.col("rank_ba"), F.col("sim"))
      .orderBy("a", "b")
  }

  /** Append-mode watermarked window aggregation with REAL late-data drops
    * ([[graft.streaming.EventStream.startMemoryLateWindows]]). The stage is
    * 8 single-file segments with strictly increasing modification times
    * (the file source orders by mtime — probe-pinned), contents assigned by
    * `ntile(8)` over (ts, event_id) with every 37th event displaced
    * `(bucket+3) % 8` — mostly time-ordered with deterministic stragglers
    * AND deterministic early-future rows (the wrap), so the watermark
    * genuinely advances past windows that then receive late rows. 2-file
    * micro-batches → batch = bucket/2. The oracle REPLAYS Spark's pinned
    * two-watermark rule in SQL (batch maxima → lagged eviction watermark →
    * late-filter → final emission horizon), all in exact millisecond
    * integers — so the drop set, the emission set, and every aggregate must
    * match. The ntile staging sort is fixture scaffolding, not the
    * operator.
    */
  def streamLate(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = spark.read.parquet(s"$dir/events.parquet")
      .select("event_id", "ts", "user_id", "event_type", "value")
      .withColumn("props", F.lit(null).cast("string"))
    val bNat = F.ntile(8).over(Window.orderBy("ts", "event_id")) - 1
    val staged = ev.withColumn("b_nat", bNat)
      .withColumn("bucket", F.when(F.col("event_id") % 37 === 0,
        (F.col("b_nat") + 3) % 8).otherwise(F.col("b_nat")))
      .drop("b_nat")
      .localCheckpoint()
    val stage = stageBucketedSegments(staged, 8)
    val name = "stream_late_" + java.util.UUID.randomUUID().toString.replace("-", "")
    // schedule frozen (the watermark advance per batch is the oracle
    // contract); only the state-partition count is tuned
    withStreamShuffle(spark) {
      graft.streaming.EventStream.startMemoryLateWindows(
        spark, stage, name, maxFilesPerTrigger = 2)
        .awaitTermination()
    }
    spark.table(name)
      .select(F.col("wstart").cast("timestamp_ntz").as("wstart"),
        F.col("wend").cast("timestamp_ntz").as("wend"),
        F.col("event_type"), F.col("n_events"), F.col("user_sum"))
      .orderBy("wstart", "event_type")
  }

  /** Bigram collocation mining by integer lift
    * ([[TextOps.collocationLift]], min support 5) — the engine-exact PMI
    * ranking; support filter BEFORE any join, unigrams and the one-row
    * total broadcast.
    */
  def collocLift(spark: SparkSession, dir: String): DataFrame =
    TextOps.collocationLift(docs(spark, dir), "text", minCount = 5L)
      .orderBy("a", "b")

  /** Salted dimension join on the zipf-hot event-type key — the explicit
    * skew-defusal pattern for when BOTH join sides are too large to
    * broadcast: the dimension replicates across `S` salt values, the fact
    * side picks its salt by hash, and the hot key's rows spread over `S`
    * reducers instead of one. The shuffle-hash hint forces the shuffled
    * join this pattern exists for (a broadcastable dim would simply be
    * broadcast — that case is q_join_broadcast); the oracle is the PLAIN
    * unsalted join, so the query proves salting changes the distribution
    * and nothing else. PlanSpec pins no-BroadcastHashJoin.
    */
  def saltedJoin(spark: SparkSession, dir: String): DataFrame = {
    val S = 16
    val ev = spark.read.parquet(s"$dir/events.parquet")
    val dim = ev.select("event_type").distinct()
      .withColumn("type_weight", F.length(F.col("event_type")).cast("long"))
    val dimSalted = dim.withColumn(
      "salt", F.explode(F.lit((0 until S).toArray)))
    val factSalted = ev.withColumn(
      "salt", F.pmod(F.xxhash64(F.col("event_id")), F.lit(S)).cast("int"))
    factSalted.join(dimSalted.hint("shuffle_hash"), Seq("event_type", "salt"))
      .groupBy("event_type", "type_weight")
      .agg(F.count(F.lit(1)).as("n"), F.sum("user_id").as("user_sum"))
      .orderBy("event_type")
  }

  /** Kneser-Ney continuation counts per token (see
    * [[TextOps.knContinuationCounts]]).
    */
  def knCounts(spark: SparkSession, dir: String): DataFrame =
    TextOps.knContinuationCounts(docs(spark, dir), "text")
      .orderBy("term")

  /** Tokenizer fertility per language — n_docs, whitespace-class tokens,
    * BPE-ish subwords, and subwords-per-1000-tokens in exact integer
    * per-mille (the "how hard does this language hit the tokenizer" table
    * a multilingual mix is balanced with). One algebraic rollup, group
    * space = |langs|.
    */
  def tokenizerFertility(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(F.col("lang"),
        TextOps.tokenCount(F.col("text")).cast("long").as("nt"),
        TextOps.bpeishTokenCount(F.col("text")).cast("long").as("nb"))
      .groupBy("lang")
      .agg(F.count(F.lit(1)).as("n_docs"),
        F.sum("nt").as("n_tokens"),
        F.sum("nb").as("n_subwords"))
      .withColumn("subwords_per_1000_tokens",
        F.expr("n_subwords * 1000L div greatest(n_tokens, 1L)"))
      .orderBy("lang")

  /** Three-round BPE merge training over the documents corpus — per-doc
    * post-merge token digests with the chosen merge table pinned as columns
    * (see [[TextOps.bpeMergeTrain]]).
    */
  def bpeMerges(spark: SparkSession, dir: String): DataFrame =
    TextOps.bpeMergeTrain(docs(spark, dir), "doc_id", "text", rounds = 3)
      .orderBy("doc_id")

  /** Deterministic MLM masking plan (seed 23, 150‰, BERT 80-10-10 actions)
    * — see [[TextOps.mlmMaskPlan]]; bit-exact splitmix oracle.
    */
  def mlmMask(spark: SparkSession, dir: String): DataFrame =
    TextOps.mlmMaskPlan(docs(spark, dir), "doc_id", "text",
        seed = 23L, permille = 150)
      .orderBy("doc_id", "pos")

  /** Elias-Fano posting-list size plan per term — exact integer bit
    * accounting from (df, universe) only, no gap materialization
    * (see [[TextOps.indexSizeEstimate]]).
    */
  def indexSize(spark: SparkSession, dir: String): DataFrame =
    TextOps.indexSizeEstimate(docs(spark, dir), "doc_id", "text")
      .orderBy("term")

  /** Exact two-term phrase search over consecutive token positions
    * (see [[TextOps.phraseSearch]]).
    */
  def phraseSearch(spark: SparkSession, dir: String): DataFrame =
    TextOps.phraseSearch(docs(spark, dir), "doc_id", "text",
        Seq("customer", "vector"))
      .select(F.col("doc_id"), F.col("n_matches"),
        F.col("first_pos").cast("long").as("first_pos"))
      .orderBy("doc_id")

  /** Per-document keyword extraction: top-3 terms by integer TF-IDF
    * (engine-exact fixed-point scoring — see [[TextOps.topTfIdf]]).
    */
  def keywordsTfidf(spark: SparkSession, dir: String): DataFrame =
    TextOps.topTfIdf(docs(spark, dir), "doc_id", "text", k = 3)
      .orderBy("doc_id", "rnk")

  /** BM25 top-k retrieval for a fixed 3-term query (one rare + two common
    * terms of this corpus's vocabulary); integer fixed-point scoring makes
    * the ranking engine-exact — see [[graft.textops.Bm25]].
    */
  def bm25TopK(spark: SparkSession, dir: String): DataFrame =
    graft.textops.Bm25.bm25TopK(docs(spark, dir), "doc_id", "text",
        Seq("customer", "vector", "dup"), k = 20)
      .select(F.col("id").as("doc_id"), F.col("score"), F.col("n_terms"))

  /** Corpus-bigram LM scoring (add-one smoothing, integer micro-nat scores).
    * hotDf = 50 so BOTH halves of the hot/cold score join run under the
    * driver's oracle at every sf (the zipf head of this corpus crosses 50
    * even at sf0.001).
    */
  def textBigramLm(spark: SparkSession, dir: String): DataFrame =
    TextOps.bigramLogProb(docs(spark, dir), "doc_id", "text", hotDf = 50L)
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")

  /** URL canonicalization + registrable-domain extraction over a
    * deterministically-synthesized messy crawl frontier (documents carry no
    * URL column; both engines derive the same raw URL from doc_id — the
    * q_text_pii / q_media_* fixture pattern). The raw URL rides in the
    * output, so any generation drift between engines fails the hash loudly.
    * The canonicalizer itself is a pure projection — zero shuffle.
    */
  def urlCanonicalize(spark: SparkSession, dir: String): DataFrame = {
    import graft.extract.UrlOps
    val id = F.col("doc_id")
    def s(c: Column) = c.cast("string")
    def pick(xs: Seq[String], m: Int) =
      F.element_at(F.array(xs.map(F.lit): _*), (id % m + 1).cast("int"))
    val raw = F.concat(
      pick(Seq("https", "HTTP", "http", "HTTPS"), 4), F.lit("://"),
      F.when(id % 3 === 0, F.lit("www.")).otherwise(F.lit("")),
      F.when(id % 2 === 0, F.lit("site")).otherwise(F.lit("SiTe")), s(id % 50),
      pick(Seq(".co.uk", ".com", ".example.org", ".github.io", ".net"), 5),
      pick(Seq(":443", ":80", ":8080", "", "", ""), 6),
      F.lit("/Wiki/Page"), s(id),
      F.when(id % 7 === 0, F.lit("/")).otherwise(F.lit("")),
      F.when(id % 4 === 0, F.lit("?utm_source=feed&b=2&a=1"))
        .when(id % 4 === 1, F.concat(F.lit("?b=2&utm_campaign=x&fbclid=F"), s(id)))
        .when(id % 4 === 2, F.lit("?a=1"))
        .otherwise(F.lit("")),
      F.when(id % 2 === 0, F.concat(F.lit("#sec"), s(id % 4))).otherwise(F.lit("")))
    docs(spark, dir).select(id, raw.as("url_raw"))
      .select(F.col("doc_id"), F.col("url_raw"),
        UrlOps.canonicalize(F.col("url_raw")).as("url_canon"),
        UrlOps.host(F.col("url_raw")).as("host"),
        UrlOps.registrableDomain(UrlOps.host(F.col("url_raw"))).as("reg_domain"),
        UrlOps.pathDepth(F.col("url_raw")).cast("long").as("path_depth"))
      .orderBy("doc_id")
  }

  /** Hashed-feature linear classifier scoring (fastText/FineWeb-Edu shape):
    * one codegen'd scalar per document, zero shuffle, exact integer
    * milli-weights. n_feats = unigrams + adjacent bigrams = 2n-1.
    */
  def qualityClassify(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(F.col("doc_id"), TextOps.tokens(F.col("text")).as("toks"))
      .filter(F.size(F.col("toks")) > 0)
      .select(F.col("doc_id"),
        (F.size(F.col("toks")).cast("long") * 2 - 1).as("n_feats"),
        graft.textops.HashedLinearScore.column(F.col("toks"),
          graft.textops.HashedLinearScore.DefaultBuckets,
          graft.textops.HashedLinearScore.DefaultSeed).as("score_milli"))
      .withColumn("score", F.col("score_milli").cast("double") /
        (F.col("n_feats").cast("double") * 1000.0))
      .withColumn("keep", F.col("score_milli") > 0L)
      .orderBy("doc_id")

  /** PII detection + redaction over a deterministically PII-augmented corpus
    * (the synthetic documents carry no natural PII, so both engine and oracle
    * derive the same augmented text from doc_id, then count and mask).
    */
  def textPii(spark: SparkSession, dir: String): DataFrame = {
    val aug = F.concat(
      F.col("text"),
      F.lit(" contact u"), F.col("doc_id").cast("string"),
      F.lit("@mail"), (F.col("doc_id") % 10).cast("string"),
      F.lit(".com or call 555-"),
      F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
      F.when(F.col("doc_id") % 3 === 0,
        F.concat(F.lit(" ip 10.0."), (F.col("doc_id") % 256).cast("string"),
          F.lit("."), (F.col("doc_id") % 100).cast("string")))
        .otherwise(F.lit("")))
    docs(spark, dir)
      .select(F.col("doc_id"), aug.as("aug"))
      .select(F.col("doc_id"),
        TextOps.piiEmailCount(F.col("aug")).cast("long").as("n_emails"),
        TextOps.piiPhoneCount(F.col("aug")).cast("long").as("n_phones"),
        TextOps.piiIpCount(F.col("aug")).cast("long").as("n_ips"),
        F.md5(TextOps.redactPii(F.col("aug"))).as("redacted_md5"))
      .orderBy("doc_id")
  }

  /** Grouped corpus statistics with exact quantiles (corpus reporting —
    * per (lang, source): doc count, char totals, mean, p50/p90). Exact
    * `percentile` matches DuckDB's `quantile_cont` interpolation; at 100 TB
    * swap for `approx_percentile` (t-digest, one pass, no global sort).
    */
  def corpusStats(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .groupBy("lang", "source")
      .agg(
        F.count(F.lit(1)).as("n_docs"),
        F.sum("n_chars").cast("long").as("total_chars"),
        // raw doubles (ADVICE r3): integer sums stay exact below 2^53, so
        // avg and the interpolated percentiles are bit-identical across
        // engines, while per-engine round(,6) diverges at half boundaries
        F.avg("n_chars").as("avg_chars"),
        F.expr("percentile(n_chars, 0.5)").as("p50_chars"),
        F.expr("percentile(n_chars, 0.9)").as("p90_chars"))
      .orderBy("lang", "source")

  /** REAL image decode: payloads are genuine PNG/BMP images synthesized
    * under Media's deterministic generation rule (dims + pixel channels are
    * closed-form in the id), decoded back with `javax.imageio`. The oracle
    * recomputes dims/format AND the two corner-pixel RGB probes from the
    * rule — Spark must recover them from the actual bytes.
    */
  def mediaMeta(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // the small fixture parquet reads as ONE split — repartition before the
    // codec work or the whole encode/decode pipeline serializes on one core
    val rows = docs(spark, dir).select(F.col("doc_id")).as[Long]
      .repartition(spark.sparkContext.defaultParallelism)
      .map(id => Media.MediaRow(id, Media.encodeImage(id), "image"))
    Media.extractMeta(rows).toDF()
      .select("id", "width", "height", "format", "px00", "px_last").orderBy("id")
  }

  /** Real transcode round trip: decode → Graphics2D box-fit resample →
    * re-encode (same format) → re-decode; emitted dims come from the
    * transcoded bytes.
    */
  def mediaResize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val rows = docs(spark, dir).select(F.col("doc_id")).as[Long]
      .repartition(spark.sparkContext.defaultParallelism)
      .map(id => Media.MediaRow(id, Media.encodeImage(id), "image"))
    Media.resize(rows, maxDim = 24).toDF()
      .select("id", "width", "height", "format").orderBy("id")
  }

  /** REAL frame sampling: payloads are genuine animated GIFs (1 + id%8
    * frames under Media's generation rule), decoded frame-by-frame with the
    * JDK's reader at stride 2; dims and corner-pixel probes come from each
    * decoded frame's raster, which the oracle recomputes in closed form.
    */
  def mediaFrames(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val rows = docs(spark, dir).select(F.col("doc_id")).as[Long]
      .filter(F.col("doc_id") < 1000)
      .repartition(spark.sparkContext.defaultParallelism)
      .map(id => Media.MediaRow(id, Media.encodeAnimation(id), "animation"))
    Media.sampleFrames(rows, stride = 2).toDF()
      .select("id", "frame_idx", "width", "height", "px00", "px_last")
      .orderBy("id", "frame_idx")
  }

  /** REAL audio decode: payloads are genuine WAV/AIFF containers synthesized
    * under Media's generation rule (rate/channels/frame-count and every
    * 16-bit PCM sample are closed-form in the id), decoded back with
    * `javax.sound.sampled`. The oracle recomputes container type, stream
    * parameters AND the three amplitude probes from the rule — Spark must
    * recover them from the actual decoded PCM.
    */
  def mediaAudio(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val rows = docs(spark, dir).select(F.col("doc_id")).as[Long]
      .repartition(spark.sparkContext.defaultParallelism)
      .map(id => Media.MediaRow(id, Media.encodeAudio(id), "audio"))
    Media.extractAudioMeta(rows).toDF()
      .select("id", "format", "sample_rate", "channels", "n_frames",
        "s0", "s_mid", "s_last")
      .orderBy("id")
  }

  /** Windowed PCM features from REAL audio decode
    * ([[Media.audioWindowFeatures]]): per quarter of the decoded channel-0
    * stream — frame count, summed |amplitude|, peak |amplitude|, sign
    * changes. The oracle recomputes every integer from the generation rule
    * over a frame series it expands itself; a header-only "decode" cannot
    * produce any of the four feature columns.
    */
  def audioEnergy(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val rows = docs(spark, dir).select(F.col("doc_id")).as[Long]
      .repartition(spark.sparkContext.defaultParallelism)
      .map(id => Media.MediaRow(id, Media.encodeAudio(id), "audio"))
    Media.audioWindowFeatures(rows, nWin = 4).toDF()
      .orderBy("id", "win")
  }

  // ---------------------------------------------------------------------------
  // Relational fundamentals on the TPC-H-ish tables (perf anchors)
  // ---------------------------------------------------------------------------

  /** The textual SQL entry point — the same engine surface a BI tool or a
    * `spark.sql(...)` user hits: five TPC-H-ish tables registered as temp
    * views, one ANSI star join + rollup executed from SQL TEXT (not the
    * DataFrame DSL), planned by the same Catalyst pipeline (broadcast the
    * dims, shuffle on the fact keys, partial aggs). The oracle is the
    * IDENTICAL statement in DuckDB — dialect-portable by construction.
    */
  def sqlSurface(spark: SparkSession, dir: String): DataFrame = {
    Seq("customer", "orders", "lineitem", "nation", "region").foreach { t =>
      spark.read.parquet(s"$dir/$t.parquet").createOrReplaceTempView(t)
    }
    spark.sql(
      """SELECT r_name, CAST(year(o_orderdate) AS INT) AS yr,
        |  CAST(count(*) AS BIGINT) AS n_items,
        |  round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
        |FROM region
        |JOIN nation ON n_regionkey = r_regionkey
        |JOIN customer ON c_nationkey = n_nationkey
        |JOIN orders ON o_custkey = c_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |GROUP BY r_name, year(o_orderdate)""".stripMargin)
      .orderBy("r_name", "yr")
  }

  def aggLineitem(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/lineitem.parquet")
      .filter(F.col("l_shipdate") < F.lit(java.sql.Timestamp.valueOf("1997-01-01 00:00:00")))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        F.sum("l_quantity").as("sum_qty"),
        F.round(F.sum(F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))), 4).as("revenue"),
        F.count(F.lit(1)).as("n"))
      .orderBy("l_returnflag", "l_linestatus")

  def joinBroadcast(spark: SparkSession, dir: String): DataFrame = {
    val c = spark.read.parquet(s"$dir/customer.parquet")
    val n = spark.read.parquet(s"$dir/nation.parquet")
    val r = spark.read.parquet(s"$dir/region.parquet")
    c.join(F.broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(F.broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy("r_name")
      .agg(F.count(F.lit(1)).as("customers"), F.round(F.sum("c_acctbal"), 4).as("balance"))
      .orderBy("r_name")
  }

  /** Left-semi join: customers having at least one order (EXISTS). */
  def joinSemi(spark: SparkSession, dir: String): DataFrame = {
    val c = spark.read.parquet(s"$dir/customer.parquet")
    val o = spark.read.parquet(s"$dir/orders.parquet")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .select("c_custkey", "c_name").orderBy("c_custkey")
  }

  /** Left-anti join: customers with no large order (NOT EXISTS). */
  def joinAnti(spark: SparkSession, dir: String): DataFrame = {
    val c = spark.read.parquet(s"$dir/customer.parquet")
    val o = spark.read.parquet(s"$dir/orders.parquet")
      .filter(F.col("o_totalprice") > 300000)
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select("c_custkey", "c_name").orderBy("c_custkey")
  }

  def windowEvents(spark: SparkSession, dir: String): DataFrame = {
    val e = spark.read.parquet(s"$dir/events.parquet")
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    e.withColumn("rn", F.row_number().over(w))
      .withColumn("running_value",
        F.round(F.sum("value").over(w.rowsBetween(Window.unboundedPreceding, 0)), 4))
      .filter(F.col("rn") <= 3)
      .select("user_id", "rn", "event_id", "running_value")
      .orderBy("user_id", "rn")
  }

  def topkEvents(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/events.parquet")
      .orderBy(F.col("value").desc, F.col("event_id"))
      .limit(10)
      .select("event_id", "event_type", "value")

  /** Semi-structured JSON property extraction — the ETL surface every event
    * pipeline needs (typed columns out of a JSON props payload):
    * `get_json_object` per row (pure codegen'd projection, zero shuffle at
    * any scale) plus a per-type rollup of the extracted integer. Oracle:
    * DuckDB `json_extract_string` over the identical path — extraction
    * parity pinned per ROW by emitting (event_id, k), not just aggregates.
    */
  def eventProps(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/events.parquet")
      .select(F.col("event_id"),
        F.get_json_object(F.col("props"), "$.k").cast("long").as("k"))
      .orderBy("event_id")

  /** Ordered conversion funnel (signup → first view after it → first
    * purchase after that): the product-analytics primitive. Per user:
    * t1 = min signup ts, t2 = min view ts ≥ t1, t3 = min purchase ts ≥ t2,
    * stage = how far the user got. Each level is a conditional algebraic
    * MIN over the user's events (group space = users; a power user's 10^6
    * events combine map-side), composed by two user-keyed joins of the
    * user-sized stage table back to the event relation — never a per-user
    * ordered window over the corpus.
    */
  def eventFunnel(spark: SparkSession, dir: String): DataFrame = {
    val e = spark.read.parquet(s"$dir/events.parquet")
      .select("user_id", "event_type", "ts")
    val t1 = e.filter(F.col("event_type") === "signup")
      .groupBy("user_id").agg(F.min("ts").as("signup_ts"))
    val t2 = e.filter(F.col("event_type") === "view")
      .join(t1, "user_id")
      .filter(F.col("ts") >= F.col("signup_ts"))
      .groupBy("user_id").agg(F.min("ts").as("view_ts"))
    val t3 = e.filter(F.col("event_type") === "purchase")
      .join(t2, "user_id")
      .filter(F.col("ts") >= F.col("view_ts"))
      .groupBy("user_id").agg(F.min("ts").as("purchase_ts"))
    t1.join(t2, Seq("user_id"), "left")
      .join(t3, Seq("user_id"), "left")
      .withColumn("stage",
        (F.lit(1) + F.when(F.col("view_ts").isNotNull, 1).otherwise(0)
          + F.when(F.col("purchase_ts").isNotNull, 1).otherwise(0)).cast("int"))
      .select("user_id", "signup_ts", "view_ts", "purchase_ts", "stage")
      .orderBy("user_id")
  }

  def setOpsEvents(spark: SparkSession, dir: String): DataFrame = {
    val e = spark.read.parquet(s"$dir/events.parquet")
    val purchasers = e.filter(F.col("event_type") === "purchase" && F.col("value") > 150)
      .select("user_id").distinct()
    val errored = e.filter(F.col("event_type") === "error" && F.col("value") > 150)
      .select("user_id").distinct()
    purchasers.except(errored).orderBy("user_id")
  }

  def sessionizeEvents(spark: SparkSession, dir: String): DataFrame = {
    val e = spark.read.parquet(s"$dir/events.parquet")
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    e.withColumn("prev_ts", F.lag("ts", 1).over(w))
      .withColumn("new_session",
        F.when(F.col("prev_ts").isNull
          || F.col("ts").cast("timestamp").cast("long")
             - F.col("prev_ts").cast("timestamp").cast("long") > 1800, 1).otherwise(0))
      .withColumn("session_id", F.sum("new_session").over(
        w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("user_id", "session_id")
      .agg(F.count(F.lit(1)).as("n_events"), F.round(F.sum("value"), 4).as("session_value"))
      .orderBy("user_id", "session_id")
  }

  /** Intra-document paragraph dedup ([[graft.dedup.Dedup.dedupParagraphs]]):
    * the fixture rebuilds each document as five paragraphs — two corpus
    * slices, a whitespace-padded repeat of the first slice (exercises the
    * trim-normalized match while the ORIGINAL first form is what survives),
    * and a twice-injected boilerplate block. Zero-shuffle codegen'd HOF
    * projection; oracle replays the first-occurrence rule relationally
    * (min-idx window per trimmed paragraph + ordered string_agg).
    */
  def dedupParas(spark: SparkSession, dir: String): DataFrame = {
    val p1 = F.substring(F.col("text"), 1, 40)
    val aug = F.concat(
      p1, F.lit("\n\n"),
      F.substring(F.col("text"), 41, 40), F.lit("\n\n  "),
      p1, F.lit(" \n\nSubscribe now\n\nSubscribe now"))
    graft.dedup.Dedup.dedupParagraphs(
        docs(spark, dir).select(F.col("doc_id"), aug.as("aug")), "doc_id", "aug")
      .orderBy("id")
  }

  /** Code-vs-prose detection over a corpus where every third document gets
    * a deterministic appended code block (function/let/return lines with
    * braces, semicolons and two-space indents — closed-form in doc_id, so
    * the oracle reconstructs the exact augmented text): line-shape counts,
    * keyword count, integer per-mille score and the router verdict
    * ([[graft.textops.TextOps.codeProfile]]). Prose docs score 0; code docs
    * trip BOTH the score and keyword criteria.
    */
  def codeDetect(spark: SparkSession, dir: String): DataFrame = {
    val id = F.col("doc_id")
    val block = F.concat(
      F.lit("\nfunction f"), id.cast("string"), F.lit("(x) {\n  let y = x + "),
      (id % 7).cast("string"), F.lit(";\n  return y;\n}"))
    val aug = F.concat(F.col("text"),
      F.when(id % 3 === 0, block).otherwise(F.lit("")))
    graft.textops.TextOps.codeProfile(
        docs(spark, dir).select(id, aug.as("aug")), "doc_id", "aug")
      .orderBy("doc_id")
  }

  /** Spark's NATIVE `session_window` groupBy (the built-in merging session
    * aggregation batch and streaming share) — deliberately distinct from
    * [[sessionizeEvents]]'s hand-rolled lag/cumsum form, and with the
    * built-in's own boundary semantics: windows are `[ts, ts+gap)`, events
    * merge iff they OVERLAP, so a gap of exactly 30 minutes starts a NEW
    * session (strict `<`), where the lag form's `> 1800` keeps it. The
    * session end is `last event + gap`, not the last event. Session
    * membership, bounds, counts and the exact integer micro-unit value sum
    * are all order-free, so no tiebreak column is needed.
    *
    * Scale shape: one hash-partition-by-user exchange, then Spark's
    * session-merge aggregation — per-user state is session-bounded, never
    * corpus-bounded; the value sum is algebraic in integers (no IEEE
    * order sensitivity cross-engine).
    */
  def sessionWindowEvents(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/events.parquet")
      .groupBy(F.col("user_id"), F.session_window(F.col("ts"), "30 minutes"))
      .agg(F.count(F.lit(1)).as("n_events"),
        F.sum(F.round(F.col("value") * 1e6).cast("long")).as("value_micro"))
      .select(F.col("user_id"),
        F.col("session_window.start").as("session_start"),
        F.col("session_window.end").as("session_end"),
        F.col("n_events"), F.col("value_micro"))
      .orderBy("user_id", "session_start")

  /** Native `session_window` aggregation drained as a genuine STREAM
    * ([[graft.streaming.EventStream.startMemorySessionWindows]]): the events
    * table staged as 4 parquet segments, 2-file micro-batches, Complete
    * mode — sessions spanning micro-batch boundaries must merge through the
    * state store to match the batch result, which the SAME oracle SQL as
    * [[sessionWindowEvents]] checks.
    */
  def streamSessions(spark: SparkSession, dir: String): DataFrame = {
    val stage = java.nio.file.Files.createTempDirectory("graft-stream-sess").toString
    // 4 segments / 2-file triggers → 2 micro-batches: Complete mode re-emits
    // the merged-so-far sessions, so the drained table equals the batch
    // session set for ANY file->batch split; sessions spanning the batch
    // boundary still merge through the state store.
    spark.read.parquet(s"$dir/events.parquet")
      .select("event_id", "ts", "user_id", "event_type", "value")
      .withColumn("props", F.lit(null).cast("string"))
      .repartition(4).write.mode("overwrite").parquet(stage)
    val name = "stream_sess_" + java.util.UUID.randomUUID().toString.replace("-", "")
    withStreamShuffle(spark) {
      graft.streaming.EventStream.startMemorySessionWindows(
        spark, stage, name, maxFilesPerTrigger = 2)
        .awaitTermination()
    }
    // the file-stream schema types ts as TIMESTAMP; the batch table is NTZ.
    // Session TZ is pinned UTC, so the cast is value-preserving and aligns
    // the dump's parquet schema with q_session_window's.
    spark.table(name)
      .select(F.col("user_id"),
        F.col("session_start").cast("timestamp_ntz").as("session_start"),
        F.col("session_end").cast("timestamp_ntz").as("session_end"),
        F.col("n_events"), F.col("value_micro"))
      .orderBy("user_id", "session_start")
  }

  /** Stream-static enrichment drained as a genuine stream
    * ([[graft.streaming.EventStream.startMemoryEnriched]]): events staged as
    * 4 parquet segments, 2-file micro-batches, joined per micro-batch to the
    * STATIC customer dimension (broadcast hash join — no state store on the
    * join), aggregated per (market segment, event type) in Complete mode.
    * The drained table must equal the relational batch join+agg the oracle
    * computes.
    */
  def streamEnrich(spark: SparkSession, dir: String): DataFrame = {
    val stage = java.nio.file.Files.createTempDirectory("graft-stream-enr").toString
    // 4 segments / 2-file triggers → 2 micro-batches: Complete-mode drained
    // table equals the batch join+agg for ANY file->batch split; the
    // broadcast dimension join stays per-micro-batch.
    spark.read.parquet(s"$dir/events.parquet")
      .select("event_id", "ts", "user_id", "event_type", "value")
      .withColumn("props", F.lit(null).cast("string"))
      .repartition(4).write.mode("overwrite").parquet(stage)
    val dim = spark.read.parquet(s"$dir/customer.parquet")
    val name = "stream_enr_" + java.util.UUID.randomUUID().toString.replace("-", "")
    withStreamShuffle(spark) {
      graft.streaming.EventStream.startMemoryEnriched(
        spark, stage, dim, "c_custkey", "c_mktsegment", name, maxFilesPerTrigger = 2)
        .awaitTermination()
    }
    spark.table(name)
      .select("segment", "event_type", "n_events", "value_micro")
      .orderBy("segment", "event_type")
  }

  /** DSIR importance weights: raw = the full documents table, target = the
    * deterministic doc_id % 7 == 0 subset (stands in for a curated/
    * eval-adjacent corpus — both engines derive it identically). n_feats and
    * the exact-integer q_milli ride in the output so the hash pins the
    * feature extraction and the learned table, not just the final ratio.
    */
  def dsirWeights(spark: SparkSession, dir: String): DataFrame = {
    val raw = docs(spark, dir)
    val target = raw.filter(F.col("doc_id") % 7 === 0)
    graft.textops.Dsir.importanceWeights(raw, target, "doc_id", "text")
      .orderBy("doc_id")
  }

  /** Winnowing (MOSS) fingerprint digest per document: k=8-char grams of
    * the token-normalized text, w=4 window, signed splitmix64 min with the
    * rightmost tie rule. Pure projection (no shuffle); oracle replays the
    * selection relationally, bit-exact (HashSql.winnowSql).
    */
  def dedupWinnow(spark: SparkSession, dir: String): DataFrame =
    Dedup.winnowFingerprints(docs(spark, dir), "doc_id", "text", k = 8, w = 4)
      .orderBy("doc_id")

  /** Product-quantization codes over the embeddings table: 64 dims split
    * into 4×16 subspaces, 16 sub-centroids each from the pinned closed-form
    * integer codebook — exact integer L2, lowest-index ties, so codes and
    * distortion are engine-exact. The oracle re-derives the codebook and
    * unrolls the argmin relationally.
    */
  def embedPq(spark: SparkSession, dir: String): DataFrame =
    Similarity.pqEncode(
        spark.read.parquet(s"$dir/embeddings.parquet"), "vec_id", "embedding")
      .orderBy("vec_id")

  /** PQ asymmetric-distance top-5 search for 8 query vectors against the
    * whole embeddings table — the query-time half of the IVF-PQ index
    * beside [[embedPq]] (the codes) and [[kmeansAssign]]'s coarse training.
    * Exact integer LUT distances end to end; the oracle re-derives codes,
    * LUTs and the (dist, vec_id) ranking relationally.
    */
  def embedAdc(spark: SparkSession, dir: String): DataFrame = {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    Similarity.pqAdcTopK(emb, emb.filter(F.col("vec_id") < 8), "vec_id", "embedding", k = 5)
      .orderBy("query_id", "rank")
  }

  /** Winnowing-keyed candidate pairs: docs sharing >= 30 distinct
    * fingerprint values under the df-capped inverted-index join
    * (capBuckets 100). The synthetic corpus draws from a small vocabulary,
    * so unrelated docs share a handful of grams; genuine near-dups share
    * 100+ fingerprints — 30 separates the bands cleanly. Oracle replays
    * the same selection + cap + pair count relationally.
    */
  def winnowPairs(spark: SparkSession, dir: String): DataFrame =
    Dedup.winnowCandidates(docs(spark, dir), "doc_id", "text",
        k = 8, w = 4, minShared = 30L, maxBucket = 100)
      .orderBy("id_a", "id_b")

  /** Exact global order statistics over document byte lengths via the
    * two-pass distributed prefix sum — never a global sort or a
    * single-partition window. Pure integer selection (rank =
    * ceil(n·num/den) in (value, id) order), so values are engine-exact;
    * the oracle re-derives the ranks closed-form with a window row_number
    * (the semantic definition at toy scale).
    */
  def exactQuantiles(spark: SparkSession, dir: String): DataFrame =
    TextOps.exactQuantiles(
      docs(spark, dir).select(F.col("doc_id"),
        F.octet_length(F.col("text")).cast("long").as("blen")),
      "doc_id", "blen",
      Seq(("p25", 1L, 4L), ("p50", 1L, 2L), ("p75", 3L, 4L),
        ("p90", 9L, 10L), ("p99", 99L, 100L), ("max", 1L, 1L)))
      .orderBy("p_label")

  /** Host-scoped boilerplate strip: each document is assigned the
    * host-graph fixture host (`site<doc_id%50>.example.org`) and augmented
    * with a per-host nav line (on 100% of the host's pages -> stripped at
    * the 3/5 threshold) and a promo line shared by half the host's pages
    * (50% < 60% -> kept). The integer-ratio verdict and the salted join
    * shapes live in [[TextOps.stripHostBoilerplate]]; the oracle recomputes
    * host df / page counts relationally on the same augmented corpus.
    */
  def hostBoilerplate(spark: SparkSession, dir: String): DataFrame = {
    val aug = docs(spark, dir).select(F.col("doc_id"),
      F.concat(F.lit("site"), (F.col("doc_id") % 50).cast("string"),
        F.lit(".example.org")).as("host"),
      F.concat_ws("\n", F.col("text"),
        F.concat(F.lit("nav "), (F.col("doc_id") % 50).cast("string")),
        F.concat(F.lit("promo "), (F.col("doc_id") % 100).cast("string")))
        .as("text"))
    TextOps.stripHostBoilerplate(aug, "doc_id", "host", "text",
        minPages = 2L, fracNum = 3L, fracDen = 5L)
      .select(F.col("id").as("doc_id"), F.col("n_kept"),
        F.md5(F.col("text")).as("kept_md5"))
      .orderBy("doc_id")
  }

  /** As-of join over the events stream: every purchase picks the user's most
    * recent signup at-or-before it ([[graft.operators.AsofJoin]] — ONE
    * key-shuffle union-tag carry-forward, never the BroadcastNestedLoopJoin
    * a `ts >= ts` theta join would plan). State rows are made unique per
    * (user, ts) by an algebraic argmax first, per the operator's contract.
    * Oracled against DuckDB's NATIVE `ASOF LEFT JOIN` — a fully independent
    * implementation of the same semantics (inclusive match, NULL when no
    * state precedes; NULLs surfaced as -1 on both sides).
    */
  def asofEvents(spark: SparkSession, dir: String): DataFrame = {
    val e = spark.read.parquet(s"$dir/events.parquet")
    val purchases = e.filter(F.col("event_type") === "purchase")
      .select(F.col("user_id"), F.col("ts"), F.col("event_id").as("purchase_id"))
    val signups = e.filter(F.col("event_type") === "signup")
      .groupBy("user_id", "ts")
      .agg(F.max("event_id").as("signup_id"))
      .withColumn("signup_ts", F.col("ts"))
    graft.operators.AsofJoin.asofJoin(purchases, signups, "user_id", "ts",
        probeCols = Seq("purchase_id"), stateCols = Seq("signup_id", "signup_ts"))
      .select(F.col("user_id"), F.col("purchase_id"),
        F.coalesce(F.col("signup_id"), F.lit(-1L)).as("signup_id"),
        F.coalesce(F.col("ts").cast("timestamp").cast("long")
            - F.col("signup_ts").cast("timestamp").cast("long"),
          F.lit(-1L)).as("lag_sec"))
      .orderBy("purchase_id")
  }

  /** WebTables harvest ([[graft.extract.HtmlTables]]): each doc carries a
    * synthesized page whose fact table exercises the parser's tolerance
    * corners — attributes on `<TABLE>`, mixed tag case, an HTML entity in a
    * header, an implicitly-closed `<td>` (next cell opens it shut), and an
    * unclosed final cell (the `</TABLE>` shuts it). The ENGINE runs the
    * real scanner; the ORACLE reconstructs all nine expected cells per doc
    * closed-form — a regression in any tolerance rule flips a cell's text
    * or position and fails the hash. Pure per-row flatMap, zero shuffle.
    */
  private def tablesFixture(spark: SparkSession, dir: String): DataFrame = {
    val id = F.col("doc_id")
    def s(c: Column) = c.cast("string")
    val html = F.concat(
      F.lit("<html><body><h1>Facts</h1>\n<TABLE class=\"wikitable\">" +
        "<tr><TH>entity</th><th>relation &amp; role</th><th>value</th></tr>\n" +
        "<tr><td>E"), s(id % 50),
      F.lit("</td><td>population<td>"), s((id * 13) % 97),
      F.lit("k</td></tr>\n<tr><td>E"), s(id % 50),
      F.lit("</td><td>mayor</td><td>Person "), s(id % 30),
      F.lit("</TABLE>\n</body></html>"))
    docs(spark, dir).select(F.col("doc_id"), html.as("html"))
  }

  def htmlTablesQ(spark: SparkSession, dir: String): DataFrame =
    graft.extract.HtmlTables.tableCells(tablesFixture(spark, dir), "doc_id", "html")
      .orderBy("doc_id", "table_idx", "row_idx", "col_idx")

  /** WebTables -> triples: the classic lifting rule (header row =
    * predicates, first column = subject) applied page-locally — cells never
    * leave their task, so the harvest stays a zero-shuffle flatMap like the
    * extraction itself. Four triples per fixture doc, closed-form oracle.
    */
  def tableTriples(spark: SparkSession, dir: String): DataFrame =
    graft.extract.HtmlTables.liftedTriples(tablesFixture(spark, dir), "doc_id", "html")
      .orderBy("doc_id", "subj", "pred", "obj")

  /** Basic-graph-pattern query (the SPARQL workload chilon's summaries
    * exist to route): `?a knows ?b . ?b birthPlace ?city . ?a worksFor
    * ?org` over the materialized triple table, SET semantics. Each leg is a
    * predicate-filtered DISTINCT projection — the filter pushes to the
    * scan, the distinct collapses map-side to the entity vocabulary, and
    * the three-way join runs over vocabulary-sized relations (AQE
    * broadcasts them) — the duplicate-triple fan-out a naive
    * join-then-distinct would pay (page-multiplicity squared per hot
    * entity) never happens. Oracle: [[KgSql.bgpSql]].
    */
  def kgBgp(spark: SparkSession, dir: String): DataFrame = {
    import graft.extract.Dict
    val t = kgTriples(spark, dir)
    def leg(pred: String, sOut: String, oOut: String, iriSubjOnly: Boolean = false) = {
      val base = t.filter(F.col("p") === pred)
      (if (iriSubjOnly) base.filter(F.col("sKind") === 0) else base)
        .select(F.col("s").as(sOut), F.col("o").as(oOut)).distinct()
    }
    val knows = leg(Dict.foaf + "knows", "a", "b", iriSubjOnly = true)
    val birth = leg(Dict.dbo + "birthPlace", "b", "city")
    val works = leg(Dict.schemaNs + "worksFor", "a", "org")
    knows.join(birth, "b").join(works, "a")
      .select("a", "b", "city", "org")
      .orderBy("a", "b", "city", "org")
  }

  /** Portable-Bloom decontamination verdicts ([[graft.sketch.Sketch]]):
    * blocklist = the doc_id % 11 == 0 slice; m = 256 bits is deliberately
    * tight (~46 keys x 4 hashes -> high load factor) so FALSE POSITIVES
    * genuinely occur and both halves of the bloom contract get pinned
    * per-row: `dropped_exact => dropped_bloom` (no false negative anywhere)
    * while `dropped_bloom > dropped_exact` on the FP rows. The oracle
    * rebuilds the identical bit set relationally from the same splitmix64
    * family — unlike Spark's built-in bloomFilter, whose hashing an
    * external engine cannot replay (that variant stays spec-pinned in
    * [[graft.dedup.Dedup.bloomDecontaminate]]).
    */
  def bloomDecontamQ(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val bl = d.filter(F.col("doc_id") % 11 === 0).select(F.col("text"))
    val verdicts = graft.sketch.Sketch.portableBloomVerdict(
      d.select(F.col("doc_id"), F.col("text")), "text", bl, "text", k = 4, m = 256)
    val exactHit = bl.distinct().withColumn("dropped_exact", F.lit(true))
    verdicts.join(exactHit, Seq("text"), "left")
      .select(F.col("doc_id"), F.col("dropped_bloom"),
        F.coalesce(F.col("dropped_exact"), F.lit(false)).as("dropped_exact"))
      .orderBy("doc_id")
  }

  /** HyperLogLog distinct count ([[graft.sketch.Sketch]]): 256 registers
    * over a key stream derived from events (ids collapsed 3:1 so duplicates
    * genuinely exist). The oracle rebuilds the identical register table
    * (same splitmix64 hash, same leading-zero ranks), digests it, and
    * recomputes the raw estimate through the SAME defined-order IEEE fold
    * of exact power-of-two reciprocals — the emitted double is
    * bit-identical across engines, no transcendental anywhere. Exact
    * distinct count rides alongside for validation.
    */
  def hllDistinct(spark: SparkSession, dir: String): DataFrame = {
    val keys = spark.read.parquet(s"$dir/events.parquet")
      .select(F.concat(F.lit("e"),
        F.floor(F.col("event_id") / 3).cast("long").cast("string")).as("key"))
    graft.sketch.Sketch.hllSummary(keys, "key")
  }

  /** Count-min-sketch heavy hitters ([[graft.sketch.Sketch]]): depth-4,
    * width-8 sketch over the token stream — width deliberately far below the
    * corpus vocabulary so bucket collisions are guaranteed and the sketch's
    * defining over-estimate behavior is exercised, not just the happy path.
    * The oracle rebuilds the identical sketch relationally (same splitmix64
    * row hashes, same min-over-rows estimate) AND the exact counts, so the
    * hash pins estimate and truth together; `cms_est >= n_exact` is the
    * invariant a broken sketch breaks first.
    */
  def heavyHitters(spark: SparkSession, dir: String): DataFrame =
    graft.sketch.Sketch.cmsHeavyHitters(docs(spark, dir), "text",
        width = 8, threshold = 200L)
      .orderBy("token")

  /** JSON-LD structured-data harvest ([[graft.extract.JsonLd]]): each doc
    * carries a synthesized page whose `application/ld+json` block (plus a
    * decoy plain script that must be ignored) encodes a Person entity with a
    * quoted-escape name, an integer age, a nested `@id`-object `worksFor`,
    * and a two-element `sameAs` array. The ENGINE runs the real regex
    * discovery + recursive-descent JSON parser + @id/@type triple mapping
    * over the HTML; the ORACLE reconstructs the six expected triples per doc
    * closed-form from the generation rule — a parser/mapper regression on
    * any row (escape handling, nested @id, array fan-out, decoy exclusion)
    * fails the hash. Pure per-row flatMap, zero shuffle.
    */
  def kgJsonLd(spark: SparkSession, dir: String): DataFrame = {
    val id = F.col("doc_id").cast("string")
    val html = F.concat(
      F.lit("<html><head><script>var notLd = \"{\\\"@id\\\":\\\"decoy\\\"}\";</script>\n" +
        "<script type=\"application/ld+json\">\n{ \"@context\": \"https://schema.org\",\n" +
        "  \"@id\": \"http://example.org/e"), id,
      F.lit("\",\n  \"@type\": \"Person\",\n  \"name\": \"Entity \\\""), id,
      F.lit("\\\"\",\n  \"age\": "), F.col("doc_id") % 90,
      F.lit(",\n  \"worksFor\": { \"@id\": \"http://example.org/org"), F.col("doc_id") % 20,
      F.lit("\" },\n  \"sameAs\": [ \"http://dbpedia.org/resource/E"), F.col("doc_id") % 50,
      F.lit("\", \"http://www.wikidata.org/entity/Q"), F.col("doc_id") % 30,
      F.lit("\" ]\n}\n</script></head><body><p>Entity page.</p></body></html>"))
    graft.extract.JsonLd.jsonLdTriples(
        docs(spark, dir).select(F.col("doc_id"), html.as("html")), "doc_id", "html")
      .orderBy("doc_id", "p", "o")
  }

  /** Range-containment join via bucket decomposition
    * ([[graft.operators.RangeJoin]]): synthetic integer intervals from
    * documents (span <= 499, bucket 512 => fan-out <= 2 bucket rows per
    * interval) matched to synthetic points from events through ONE
    * equi-join + residual filter — the oracle recomputes the same matches
    * with a plain BETWEEN theta join. Output is the per-interval point
    * count/sum, so result size is interval-bounded at any sf.
    */
  def rangeJoinQ(spark: SparkSession, dir: String): DataFrame = {
    val id = F.col("doc_id")
    val intervals = docs(spark, dir).select(
      id.as("iid"),
      ((id * 211) % 100000).as("lo"),
      ((id * 211) % 100000 + id % 500).as("hi"))
    val points = spark.read.parquet(s"$dir/events.parquet")
      .select(F.col("event_id").as("pid"),
        ((F.col("event_id") * 101) % 100000).as("p"))
    graft.operators.RangeJoin.bucketedRangeJoin(points, intervals,
        "p", "lo", "hi", bucket = 512L)
      .groupBy("iid")
      .agg(F.count(F.lit(1)).as("n_points"), F.sum("pid").as("sum_pid"))
      .orderBy("iid")
  }

  /** WARC container parsing ([[graft.extract.Warc]]): each doc carries a
    * synthesized two-record WARC/1.0 segment — a `response` record with
    * spec-case headers plus an unknown `X-Crawler` header the parser must
    * tolerate, and a `metadata` record whose headers arrive lowercased and
    * REORDERED (Content-Length first) to pin case/order insensitivity in
    * the oracle-checked path. The response payload embeds the literal
    * bytes `WARC/1.0\r\nContent-Length: 3\r\n\r\n`, so a parser that
    * resyncs on markers instead of honoring Content-Length shears here.
    * The ENGINE runs the real length-delimited byte parser; the ORACLE
    * reconstructs every field (type, URI, content type, length, payload
    * md5) closed-form from the generation rule. Pure flatMap, zero shuffle.
    */
  def warcRecords(spark: SparkSession, dir: String): DataFrame = {
    val id = F.col("doc_id")
    val crlf = "\r\n"
    val p1 = F.concat(F.lit("<html><body>doc "), id,
      F.lit(" cites WARC/1.0" + crlf + "Content-Length: 3" + crlf + crlf +
        "x</body></html>"))
    val p2 = F.concat(F.lit("fetchTimeMs: "), (id * 37) % 1000, F.lit(crlf))
    val uri = F.concat(F.lit("http://w"), id % 20, F.lit(".example.org/page/"), id)
    val rec1 = F.concat(
      F.lit("WARC/1.0" + crlf + "WARC-Type: response" + crlf),
      F.lit("WARC-Record-ID: <urn:uuid:"), id, F.lit("-0>" + crlf),
      F.lit("WARC-Target-URI: "), uri, F.lit(crlf),
      F.lit("WARC-Date: 2024-01-01T00:00:00Z" + crlf),
      F.lit("X-Crawler: graft/1.0" + crlf),
      F.lit("Content-Type: text/html" + crlf),
      F.lit("Content-Length: "), F.length(p1), F.lit(crlf + crlf),
      p1, F.lit(crlf + crlf))
    val rec2 = F.concat(
      F.lit("WARC/1.0" + crlf),
      F.lit("content-length: "), F.length(p2), F.lit(crlf),
      F.lit("warc-type: Metadata" + crlf),
      F.lit("content-type: application/warc-fields" + crlf),
      F.lit("warc-target-uri: "), uri, F.lit(crlf + crlf),
      p2, F.lit(crlf + crlf))
    val seg = docs(spark, dir)
      .select(id, F.concat(rec1, rec2).cast("binary").as("warc"))
    graft.extract.Warc.records(seg, "doc_id", "warc")
      .toDF().orderBy("doc_id", "rec_idx")
  }

  /** CDX-style crawl-index build ([[graft.extract.UrlOps.surt]]): messy
    * capture URLs (scheme/host case noise, sometimes `WWW.`, sometimes an
    * explicit default `:80`, a tracking param) collapse to the SURT key,
    * keyed with a closed-form capture timestamp and the content digest —
    * the (surt, ts, digest) lines of Common Crawl's URL index. The engine
    * PARSES the messy URL; the oracle builds the expected key directly
    * from the generation rule, so any canonicalization drift fails the
    * hash. Projection-only compute; the index's global (surt, ts) order is
    * a range exchange — the one shuffle a sorted index costs by definition.
    */
  def cdxIndex(spark: SparkSession, dir: String): DataFrame = {
    val id = F.col("doc_id")
    val url = F.concat(
      F.lit("HTTP://"),
      F.when(id % 3 === 0, "WWW.").otherwise(""),
      F.lit("S"), id % 40,
      F.lit(".Example."), F.when(id % 2 === 0, "COM").otherwise("org"),
      F.when(id % 5 === 0, ":80").otherwise(""),
      F.lit("/Sec"), id % 7, F.lit("/Item?id="), id % 97,
      F.lit("&utm_source=feed"))
    docs(spark, dir).select(
        graft.extract.UrlOps.surt(url).as("surt"),
        (F.lit(1700000000L) + (id * 7919) % 31536000).as("ts_unix"),
        F.md5(F.col("text")).as("digest"),
        id.as("doc_id"))
      .orderBy("surt", "ts_unix", "doc_id")
  }

  /** Small-file compaction planning ([[graft.layout.Layout]]): documents
    * stand in as the file manifest (partition key = lang, size = n_chars,
    * 4 kB target); the oracle recomputes the per-partition exclusive
    * prefix sum and bin assignment with a plain SQL window.
    */
  def compactionPlanQ(spark: SparkSession, dir: String): DataFrame =
    graft.layout.Layout.compactionPlan(
        docs(spark, dir).select(F.col("lang"), F.col("doc_id").as("file_id"),
          F.col("n_chars").as("bytes")),
        "lang", "file_id", "bytes", targetBytes = 4000L)
      .orderBy("lang", "file_id")

  /** Z-order clustering key ([[graft.layout.Layout.zValue]]): Morton
    * interleave of a 16-bit size dimension and a 16-bit hash dimension —
    * exact integer shift/mask arithmetic, replayed verbatim by the oracle.
    */
  def zorderKeys(spark: SparkSession, dir: String): DataFrame = {
    val x = F.pmod(F.col("n_chars"), F.lit(65536L)).cast("long")
    val y = F.pmod(F.col("doc_id") * 7919, F.lit(65536L)).cast("long")
    docs(spark, dir).select(F.col("doc_id"), x.as("zx"), y.as("zy"),
        graft.layout.Layout.zValue(x, y).as("zval"))
      .orderBy("doc_id")
  }

  /** HTTP response parsing ([[graft.extract.Http]]): each doc carries a
    * synthesized HTTP/1.1 message — status family by id, the Content-Type
    * header name lowercased on odd ids (case-insensitivity in the oracled
    * path), a charset parameter in two spellings, a JSON body. The ENGINE
    * runs the real message parser; the ORACLE reconstructs status / media
    * type / charset / header count / body digest closed-form. Pure flatMap,
    * zero shuffle; bodies leave as md5+length.
    */
  def httpParse(spark: SparkSession, dir: String): DataFrame = {
    val id = F.col("doc_id")
    val crlf = "\r\n"
    val statusLine = F.when(id % 10 === 0, "301 Moved Permanently")
      .when(id % 10 === 1, "404 Not Found").otherwise("200 OK")
    val ctype = F.when(id % 3 === 0, "text/html; charset=UTF-8")
      .when(id % 3 === 1, "Text/HTML;charset=iso-8859-1")
      .otherwise("application/json")
    val body = F.concat(F.lit("{\"doc\":"), id, F.lit("}"))
    val resp = F.concat(
      F.lit("HTTP/1.1 "), statusLine, F.lit(crlf),
      F.lit("Server: graft/1.0" + crlf),
      F.when(id % 2 === 0, F.concat(F.lit("Content-Type: "), ctype, F.lit(crlf)))
        .otherwise(F.concat(F.lit("content-type: "), ctype, F.lit(crlf))),
      F.lit("X-Fetch-Ms: "), (id * 53) % 1000, F.lit(crlf + crlf),
      body)
    graft.extract.Http.responses(
        docs(spark, dir).select(id, resp.cast("binary").as("resp")),
        "doc_id", "resp")
      .toDF().orderBy("doc_id")
  }

  /** robots.txt evaluation ([[graft.extract.Robots]], RFC 9309): per doc, a
    * two-group policy (a named bot disallowed everywhere except /pub; `*`
    * disallowed under one section with a longer Allow carve-out and an
    * empty Disallow that must be ignored) evaluated for an id-derived
    * (agent, path). The ENGINE parses the real text — comments, blank
    * lines, case-insensitive keys, the agent-token fallback chain; the
    * ORACLE recomputes the longest-match verdict closed-form from the
    * generation rule. Broadcast-shaped per-host policies at scale; the
    * corpus itself never shuffles.
    */
  def robotsVerdicts(spark: SparkSession, dir: String): DataFrame = {
    val id = F.col("doc_id")
    val hostId = id % 10
    val h7 = hostId % 7
    val robots = F.concat(
      F.lit("# crawl policy\n"),
      F.lit("User-Agent: graftbot\nDisallow: /\nAllow: /pub\n\n"),
      F.lit("User-agent: *\n"),
      F.lit("Disallow: /sec"), h7, F.lit("/\n"),
      F.lit("Allow: /sec"), h7, F.lit("/item"), hostId, F.lit("\n"),
      F.lit("Disallow:\n"))
    val agent = F.when(id % 4 === 0, "GraftBot").otherwise("crawler-x")
    val path = F.when(id % 5 === 0, F.concat(F.lit("/pub/page"), id))
      .otherwise(F.concat(F.lit("/sec"), id % 7, F.lit("/item"), id % 50))
    val in = docs(spark, dir).select(id, robots.as("robots"),
      agent.as("agent"), path.as("path"))
    import spark.implicits._
    in.as[(Long, String, String, String)]
      .map { case (d, r, a, p) =>
        val (allowed, rule) = graft.extract.Robots.isAllowed(r, a, p)
        (d, a, p, allowed, rule)
      }
      .toDF("doc_id", "agent", "path", "allowed", "matched_rule")
      .orderBy("doc_id")
  }

  /** Page-metadata harvest ([[graft.extract.PageMeta]]): title /
    * description / canonical / og:title extracted from HTML whose attribute
    * ORDER and quote STYLE alternate by id (plus a decoy robots meta tag).
    * Extraction is pure Column regexps — scan → project, zero shuffle; the
    * oracle writes the expected field values directly from the generation
    * rule, so any regex drift fails the hash.
    */
  def htmlMeta(spark: SparkSession, dir: String): DataFrame = {
    val id = F.col("doc_id")
    val t = F.concat(F.lit("Doc "), id, F.lit(" of record"))
    val desc = F.concat(F.lit("Summary of document "), id)
    val canon = F.concat(F.lit("https://ex.org/canon/"), id % 100)
    val og = F.concat(F.lit("OG Doc "), id)
    val html = F.concat(
      F.lit("<html><head>"),
      F.when(id % 2 === 0, F.concat(F.lit("<TITLE> "), t, F.lit(" </TITLE>")))
        .otherwise(F.concat(F.lit("<title>"), t, F.lit("</title>"))),
      F.when(id % 2 === 0,
          F.concat(F.lit("<meta name=\"description\" content=\""), desc, F.lit("\">")))
        .otherwise(
          F.concat(F.lit("<meta content='"), desc, F.lit("' name='description'>"))),
      F.when(id % 3 === 0,
          F.concat(F.lit("<link rel=\"canonical\" href=\""), canon, F.lit("\">")))
        .otherwise(
          F.concat(F.lit("<link href=\""), canon, F.lit("\" rel='canonical'>"))),
      F.when(id % 2 === 0,
          F.concat(F.lit("<meta property=\"og:title\" content=\""), og, F.lit("\"/>")))
        .otherwise(
          F.concat(F.lit("<meta content=\""), og, F.lit("\" property=\"og:title\"/>"))),
      F.lit("<meta name=\"robots\" content=\"noindex\"></head><body>x</body></html>"))
    docs(spark, dir).select(id, html.as("h"))
      .select(id,
        graft.extract.PageMeta.title(F.col("h")).as("title"),
        graft.extract.PageMeta.metaContent(F.col("h"), "description").as("description"),
        graft.extract.PageMeta.canonicalLink(F.col("h")).as("canonical"),
        graft.extract.PageMeta.metaProperty(F.col("h"), "og:title").as("og_title"))
      .orderBy("doc_id")
  }

  /** Sitemap-XML parsing ([[graft.extract.PageMeta.parseSitemap]]): per doc
    * a 1–3 entry urlset (whitespace-padded locs, lastmod only on even
    * entries) parsed by the real scanner; the oracle regenerates every
    * entry with a correlated range unnest. Pure flatMap, zero shuffle —
    * frontier discovery stays co-partitioned with the fetch that found it.
    */
  def sitemapParse(spark: SparkSession, dir: String): DataFrame = {
    val id = F.col("doc_id")
    val n = F.lit(1L) + id % 3
    val entries = F.transform(F.sequence(F.lit(0L), n - 1), j =>
      F.concat(
        F.lit("<url><loc> https://s"), id % 40, F.lit(".example.com/p/"), id,
        F.lit("/"), j, F.lit(" </loc>"),
        F.when(j % 2 === 0,
            F.concat(F.lit("<lastmod>2024-0"), (id % 9) + 1, F.lit("-0"), j + 1,
              F.lit("</lastmod>")))
          .otherwise(F.lit("")),
        F.lit("<priority>0."), (id + j) % 10, F.lit("</priority></url>")))
    val xml = F.concat(
      F.lit("<?xml version=\"1.0\"?><urlset xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">"),
      F.array_join(entries, ""), F.lit("</urlset>"))
    graft.extract.PageMeta.sitemapEntries(
        docs(spark, dir).select(id, xml.as("xml")), "doc_id", "xml")
      .toDF().orderBy("doc_id", "url_idx")
  }

  /** Fused ingest chain ([[graft.extract.Ingest]]): WARC → HTTP → charset
    * decode → HTML extract as ONE flatMap. Each doc's segment holds a
    * response record whose HTTP body is accented HTML encoded as UTF-8 for
    * even ids and ISO-8859-1 for odd ids (charset declared in the HTTP
    * header), plus a metadata record the chain must skip. The oracle pins
    * the SAME text digest for both encodings — a chain that ignores the
    * declared charset decodes latin-1 bytes to U+FFFD and fails the hash.
    * One narrow stage; bodies never leave it.
    */
  def ingestE2e(spark: SparkSession, dir: String): DataFrame =
    graft.extract.Ingest.ingestSegments(ingestSegmentsDf(spark, dir), "doc_id", "warc")
      .toDF().orderBy("doc_id")

  /** Streaming form of the fused ingest chain ([[graft.streaming
    * .IngestStream]]): the same synthesized segments staged as 4 parquet
    * files and drained `AvailableNow` in 2-file micro-batches. The chain is
    * stateless, so the drained pages must equal the batch run bit-for-bit —
    * the SAME closed-form oracle as q_ingest_e2e.
    */
  def streamIngest(spark: SparkSession, dir: String): DataFrame = {
    val stage = java.nio.file.Files.createTempDirectory("graft-stream-warc").toString
    // 4 segments / 2-file triggers → 2 micro-batches: the chain is stateless,
    // so the drained rows equal the batch run under ANY file->batch split.
    ingestSegmentsDf(spark, dir).repartition(4).write.mode("overwrite").parquet(stage)
    val name = "stream_ingest_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = graft.streaming.IngestStream.startMemoryIngest(
      spark, stage, name, maxFilesPerTrigger = 2)
    q.awaitTermination()
    spark.table(name).orderBy("doc_id")
  }

  /** The synthesized (doc_id, warc) segment table behind q_ingest_e2e and
    * q_stream_ingest (see [[ingestE2e]] for the fixture's trap design).
    */
  def ingestSegmentsDf(spark: SparkSession, dir: String): DataFrame = {
    val id = F.col("doc_id")
    val crlf = "\r\n"
    val html = F.concat(
      F.lit("<html><body><h1>Doc "), id,
      F.lit("</h1><p>café Ü value "), (id * 31) % 97,
      F.lit("</p></body></html>"))
    val cs = F.when(id % 2 === 0, "UTF-8").otherwise("ISO-8859-1")
    val bodyBin = F.when(id % 2 === 0, F.encode(html, "UTF-8"))
      .otherwise(F.encode(html, "ISO-8859-1"))
    val payload = F.concat(
      F.concat(F.lit("HTTP/1.1 200 OK" + crlf + "Content-Type: text/html; charset="),
        cs, F.lit(crlf + "Server: graft/1.0" + crlf + crlf)).cast("binary"),
      bodyBin)
    val respRec = F.concat(
      F.concat(F.lit("WARC/1.0" + crlf + "WARC-Type: response" + crlf),
        F.lit("WARC-Target-URI: http://w"), id % 20, F.lit(".example.org/page/"), id,
        F.lit(crlf + "Content-Length: "), F.length(payload), F.lit(crlf + crlf))
        .cast("binary"),
      payload, F.lit(crlf + crlf).cast("binary"))
    val metaRec = F.lit("WARC/1.0" + crlf + "WARC-Type: metadata" + crlf +
      "Content-Length: 4" + crlf + crlf + "m: 1" + crlf + crlf).cast("binary")
    val seg = F.concat(respRec, metaRec)
    docs(spark, dir).select(id, seg.as("warc"))
  }

  /** Production robots gate ([[graft.extract.Robots.frontierGate]]): URLs
    * against a SEPARATE per-host policy table, crawling as one agent — each
    * distinct host's policy parsed ONCE (host-vocabulary-sized relation),
    * the corpus equi-joining on host (broadcast under AQE). One in five
    * hosts has no policy row (absent robots.txt = allowed); hosts divisible
    * by 3 carry a named-bot group the GraftBot agent must prefer over `*`.
    * The oracle recomputes every longest-match verdict closed-form.
    */
  def robotsFrontier(spark: SparkSession, dir: String): DataFrame = {
    val id = F.col("doc_id")
    val hn = F.col("hn")
    val hosts = docs(spark, dir).select((id % 25).as("hn")).distinct()
      .filter(hn % 5 =!= 4)
    val botGroup = F.when(hn % 3 === 0,
        F.lit("User-agent: graftbot\nDisallow: /cgi/\nAllow: /cgi/ok\n\n"))
      .otherwise(F.lit(""))
    val policies = hosts.select(
      F.concat(F.lit("h"), hn).as("host"),
      F.concat(botGroup,
        F.lit("User-agent: *\nDisallow: /sec"), hn % 7, F.lit("/\n"),
        F.lit("Allow: /sec"), hn % 7, F.lit("/item"), hn, F.lit("\n")).as("robots_txt"))
    val path = F.when(id % 6 === 0, "/cgi/bin")
      .when(id % 6 === 1, "/cgi/ok-page")
      .otherwise(F.concat(F.lit("/sec"), id % 7, F.lit("/item"), id % 50))
    val urls = docs(spark, dir).select(id,
      F.concat(F.lit("h"), id % 25).as("host"), path.as("path"))
    graft.extract.Robots.frontierGate(urls, policies, "GraftBot")
      .orderBy("doc_id")
  }

  /** Corpus-mix rollup via CUBE(lang, source) — the every-slice version of
    * the mix report a dataset card publishes (per language, per source, per
    * pair, grand total, in one pass). Spark's Expand multiplies each input
    * row into its 4 grouping sets BEFORE the partial aggregate, so the
    * shuffle still carries only (grouping-key, partial) rows — 4x the
    * group-key space, never 4x the corpus.
    */
  def mixCube(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .cube("lang", "source")
      .agg(F.count(F.lit(1)).as("n_docs"), F.sum("n_chars").as("sum_chars"))
      .orderBy("lang", "source")

  /** Language-by-source document-count pivot (the mix report's matrix
    * form). The pivot value list is FIXED (the source vocabulary), so the
    * plan is an ordinary single-pass partial aggregation over 20 conditional
    * counts — no second scan, no per-value job; absent combinations are 0,
    * not null, to keep the matrix total-ordered across engines.
    */
  def langSourcePivot(spark: SparkSession, dir: String): DataFrame = {
    val sources = (0 until 20).map(i => s"src$i")
    val pivoted = docs(spark, dir)
      .groupBy("lang")
      .pivot("source", sources)
      .agg(F.count(F.lit(1)))
    pivoted.select(F.col("lang") +:
        sources.map(s => F.coalesce(F.col(s), F.lit(0L)).as(s)): _*)
      .orderBy("lang")
  }

  /** Predicate-path mining: length-2 path counts per ordered predicate pair
    * through hub-capped middle entities ([[graft.kg.GraphOps.predPathPairs]];
    * value oracle in [[KgSql.pathPairsSql]] mirrors the cap semantics).
    *
    * The catalog query mines over the entity-ASSERTION predicates only
    * (birthPlace/created/residence/worksFor/colleague): provenance links
    * (mainEntityOfPage — every page contributes a unique URL object, so any
    * popular entity becomes an unbounded-out-degree hub) and the per-page
    * blank-node `knows` assertions carry no composition-rule signal and
    * would only exercise the cap's exclusion path. The whitelist is the
    * caller's pre-filter — the operator itself is generic over any triple
    * set.
    */
  def kgPathPairs(spark: SparkSession, dir: String): DataFrame =
    graft.kg.GraphOps.predPathPairs(
        kgTriples(spark, dir).filter(F.col("p").isin(PathMiningPreds: _*)))
      .orderBy("p1", "p2")

  /** HyperANF neighborhood function at radius 2 over the entity-assertion
    * subgraph ([[graft.kg.GraphOps.hyperAnf]]): one 256-register HLL sketch
    * per node, merged per round with an algebraic elementwise-max
    * aggregation — the all-nodes centrality primitive that stays linear in
    * edges per round where exact per-node BFS is quadratic on hubby crawl
    * graphs. Same [[PathMiningPreds]] pre-filter as q_kg_path_pairs, and
    * for the same reason: the ORACLE materializes exact balls (recursive
    * expansion in [[KgSql.hyperAnfSql]]), so the provenance hubs
    * (mainEntityOfPage) must stay out of the ball domain; the ENGINE side
    * never materializes a ball at any scale. Every emitted value (v_zero,
    * exact integer register mass, register digest, defined-fold raw HLL
    * estimate) is bit-identical cross-engine — no transcendental anywhere.
    */
  def kgAnf(spark: SparkSession, dir: String): DataFrame =
    graft.kg.GraphOps.hyperAnf(
        kgTriples(spark, dir).filter(F.col("p").isin(PathMiningPreds: _*)),
        rounds = 2)
      .orderBy("node")

  /** Neighborhood-function growth curve N(t) for t = 0..3
    * ([[graft.kg.GraphOps.anfCurve]]) — the ANF application surface: the
    * radius where the four integer register statistics stop moving IS the
    * effective diameter of the assertion subgraph. One order-free integer
    * rollup per radius (no float, no sort, no digest reducer); oracle
    * [[KgSql.anfCurveSql]] re-derives every radius from first-appearance
    * hops over exact balls.
    */
  def kgAnfCurve(spark: SparkSession, dir: String): DataFrame =
    graft.kg.GraphOps.anfCurve(
        kgTriples(spark, dir).filter(F.col("p").isin(PathMiningPreds: _*)),
        rounds = 3)
      .orderBy("t")

  /** Entity-assertion predicates mined by q_kg_path_pairs (shared with the
    * oracle via [[KgSql]]).
    */
  val PathMiningPreds: Seq[String] = {
    val d = graft.extract.Dict
    Seq(d.dbo + "birthPlace", d.dbo + "created", d.dbo + "residence",
      d.schemaNs + "worksFor", d.schemaNs + "colleague")
  }

  /** Bucketed co-located join — the write-once/join-many shuffle eliminator.
    * Both relations are written as 8-bucket tables hashed AND sorted on the
    * join key, then sort-merge joined: the bucketing metadata satisfies the
    * join's distribution requirement on BOTH sides, so the exchange that a
    * plain parquet join would pay disappears (PlanSpec pins zero Exchange in
    * the join subplan).
    *
    * At 100 TB this is the difference between re-shuffling the corpus on
    * every downstream join and paying the layout cost once at write time —
    * the same contract as Iceberg's bucket partition transform; dimension
    * dictionaries and fact tables bucketed on the shared entity key join
    * executor-local forever after. The driver-facing query returns the
    * joined rows (oracle = plain relational join; the VALUES are layout-
    * independent — bucketing only changes the plan, which the spec pins).
    */
  def bucketedJoinRaw(spark: SparkSession, dir: String): DataFrame = {
    val wh = java.nio.file.Files.createTempDirectory("graft-bucketed").toString
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(F.col("doc_id"), F.length(F.col("text")).cast("long").as("len"))
    val embs = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(F.col("vec_id"), F.size(F.col("embedding")).cast("long").as("dim"))
    spark.sql("DROP TABLE IF EXISTS graft_bkt_docs")
    spark.sql("DROP TABLE IF EXISTS graft_bkt_embs")
    docs.write.format("parquet").bucketBy(8, "doc_id").sortBy("doc_id")
      .option("path", s"$wh/docs").saveAsTable("graft_bkt_docs")
    embs.write.format("parquet").bucketBy(8, "vec_id").sortBy("vec_id")
      .option("path", s"$wh/embs").saveAsTable("graft_bkt_embs")
    val d = spark.table("graft_bkt_docs")
    val e = spark.table("graft_bkt_embs")
    d.hint("merge").join(e, d("doc_id") === e("vec_id"))
      .select(d("doc_id"), F.col("len"), F.col("dim"))
  }

  def bucketedJoin(spark: SparkSession, dir: String): DataFrame =
    bucketedJoinRaw(spark, dir).orderBy("doc_id")

  /** WARC export round trip surfaced through the driver: each document
    * serializes to a response record with [[graft.extract.Warc.writeRecord]]
    * and the ENGINE re-parses its own output with
    * [[graft.extract.Warc.parseSegment]] — emitted metadata and payload
    * digest come from the REPARSE, the segment digest from the written
    * bytes, while the oracle rebuilds the exact record text closed-form and
    * hashes independently. A single byte of drift in writer OR parser framing
    * (header order, CRLF discipline, length arithmetic) fails the compare.
    * Pure per-row projection, zero shuffle.
    */
  def warcExport(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    docs(spark, dir).select(F.col("doc_id").cast("long"), F.col("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        val payload = text.getBytes("UTF-8")
        val seg = graft.extract.Warc.writeRecord(
          "response", s"http://docs.example.org/$id", "text/plain", payload)
        val r = graft.extract.Warc.parseSegment(id, seg).head
        (id, r.target_uri, r.content_length, r.payload_md5,
          seg.length.toLong, graft.extract.Warc.md5Hex(seg))
      }
      .toDF("doc_id", "target_uri", "content_length", "payload_md5",
        "seg_len", "seg_md5")
      .orderBy("doc_id")
  }

  /** HTTP body decoding — chunked transfer framing and gzip content
    * encoding, the two codings every crawler must undo before extraction
    * ([[graft.extract.Http.decodeBody]]; fixture + round trip in
    * [[HttpBodyFixture]]). The engine builds each message, parses it with
    * the real head parser, undoes the id-selected encoding stack, and emits
    * the DECODED digest; the oracle pins digest, length, and the parsed
    * encoding flags closed-form from the id rule — a decoder that skips a
    * layer, misorders the layers, or trips on a chunk extension fails.
    * Pure per-row projection, zero shuffle.
    */
  def httpBody(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    docs(spark, dir).select(F.col("doc_id").cast("long"), F.col("text"))
      .as[(Long, String)]
      .map { case (id, text) => HttpBodyFixture.row(id, text) }
      .toDF("doc_id", "chunked", "gzipped", "body_md5", "body_len", "matches")
      .orderBy("doc_id")
  }

  /** Sentence segmentation with exact char offsets
    * ([[graft.textops.TextOps.sentences]]); the fixture dirties the corpus
    * text with multi-terminator runs, a terminator-less tail, and interior
    * newlines so every alternative of the partition pattern fires. The
    * compare carries the offset, the raw matched length, and the trimmed
    * sentence digest — a one-char drift anywhere breaks the prefix-sum
    * alignment for every later sentence of the document.
    */
  def textSentences(spark: SparkSession, dir: String): DataFrame = {
    val id = F.col("doc_id")
    // literal replace plants mid-text terminators at corpus-dependent
    // positions (the raw synthetic text has none), so sentence counts and
    // offsets vary per document
    val aug = F.concat(
      F.lit("Dr. No!! "),
      F.expr("replace(text, ' data ', '. Data? ')"),
      F.lit("\nLast line has no terminator"))
    val d = docs(spark, dir).select(id, aug.as("aug"))
    graft.textops.TextOps.sentences(d, "doc_id", "aug")
      .select(F.col("doc_id"), F.col("sent_idx"), F.col("start"),
        F.col("raw_len"), F.md5(F.col("sentence")).as("sent_md5"),
        F.length(F.col("sentence")).cast("long").as("sent_len"))
      .orderBy("doc_id", "sent_idx")
  }

  /** Unpivot/melt — the wide→long reshape (per-doc metric columns into
    * (doc_id, metric, value) rows) via the native `stack` generator: the
    * inverse of the pivot surface (q_lang_source_pivot) and a pure
    * zero-shuffle projection whatever the corpus size.
    */
  def unpivotMetrics(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(F.col("doc_id"),
        F.length(F.col("text")).cast("long").as("len"),
        TextOps.tokenCount(F.col("text")).cast("long").as("toks"),
        F.col("n_chars").as("chars"))
      .select(F.col("doc_id"), F.expr(
        "stack(3, 'len', len, 'toks', toks, 'chars', chars) AS (metric, value)"))
      .orderBy("doc_id", "metric")

  /** Corpus drift monitor — per language, the EXACT total-variation
    * distance between the token distributions of two crawl halves (sources
    * 0-9 vs 10-19), the observability metric a continuously-refreshed
    * training corpus needs before a new snapshot ships. TV is computed as
    * pure integer cross-multiplication — `Σ|c_a·N_b − c_b·N_a|` over the
    * shared vocabulary, per-mille via `·1000 DIV (2·N_a·N_b)` — so unlike
    * a KL estimate there is no logarithm anywhere and the engines agree
    * bit-for-bit. Scale shape: ONE (lang, token) partial-agg shuffle, a
    * languages-sized totals broadcast, and an algebraic rollup; no window,
    * no join on the token key. Range note: c·N products cap at int64 —
    * beyond ~10^9-token languages, lift to DECIMAL(38,0) on both engines.
    */
  def corpusDrift(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir).withColumn("grp",
      F.when(F.expr("CAST(substring(source, 4) AS INT)") < 10, "a").otherwise("b"))
    val toks = d.select(F.col("lang"), F.col("grp"),
      F.explode(TextOps.tokens(F.col("text"))).as("tok"))
    val counts = toks.groupBy("lang", "tok").agg(
      F.sum(F.when(F.col("grp") === "a", 1L).otherwise(0L)).as("c_a"),
      F.sum(F.when(F.col("grp") === "b", 1L).otherwise(0L)).as("c_b"))
    val tot = counts.groupBy("lang").agg(
      F.sum("c_a").as("n_a"), F.sum("c_b").as("n_b"))
    counts.join(F.broadcast(tot), "lang")
      .groupBy("lang", "n_a", "n_b")
      .agg(F.count(F.lit(1)).as("vocab"),
        F.sum(F.abs(F.col("c_a") * F.col("n_b") - F.col("c_b") * F.col("n_a")))
          .as("tv_num"))
      .withColumn("tv_pm",
        F.expr("CAST(tv_num * 1000 DIV (2 * n_a * n_b) AS BIGINT)"))
      .select("lang", "n_a", "n_b", "vocab", "tv_num", "tv_pm")
      .orderBy("lang")
  }

  /** Integer readability profile ([[TextOps.readability]]) — sentence count
    * over the same augmented text as [[textSentences]] (the raw synthetic
    * corpus has no terminators), word/vowel-group/long-word counts over the
    * raw text, per-mille composites in exact integer division.
    */
  def textReadability(spark: SparkSession, dir: String): DataFrame = {
    val aug = F.concat(
      F.lit("Dr. No!! "),
      F.expr("replace(text, ' data ', '. Data? ')"),
      F.lit("\nLast line has no terminator"))
    TextOps.readability(
      docs(spark, dir).select(F.col("doc_id"), F.col("text"), aug.as("aug")),
      "doc_id", "text", "aug")
      .orderBy("doc_id")
  }

  /** Bitext candidate mining by URL structure
    * ([[graft.textops.TextOps.bitextCandidates]] — the WikiMatrix/CCAligned
    * first-stage heuristic): the fixture gives every document a
    * language-segmented mirror URL (`https://mirror.example.org/<lang>/
    * page<doc_id div 8>`), so slug slots hold a corpus-dependent mix of
    * languages — repeated (slug, lang) slots exercise the ambiguity gate,
    * real `length(text)` variance exercises the integer length-ratio band,
    * and the engine parses the language back OUT of the URL (regexp path,
    * not the metadata column). Oracle: the same normalize-gate-join
    * replayed relationally.
    */
  def bitextPairs(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir).withColumn("url",
      F.concat(F.lit("https://mirror.example.org/"), F.col("lang"),
        F.lit("/page"), F.floor(F.col("doc_id") / 8).cast("long").cast("string")))
    graft.textops.TextOps.bitextCandidates(d, "url", "text")
      .orderBy("key", "lang_a", "lang_b")
  }

  /** Skolemization of the materialized triple table (RDF 1.1 §3.5) — blank
    * nodes become deterministic `/.well-known/genid/` IRIs hashed from
    * (srcUrl, label), so document-scoped labels stay distinct across
    * documents ([[graft.kg.GraphOps.skolemize]]; oracle
    * [[KgSql.skolemSql]] rebuilds every Skolem IRI closed-form).
    */
  def kgSkolem(spark: SparkSession, dir: String): DataFrame =
    graft.kg.GraphOps.skolemize(kgTriples(spark, dir), "graft.invalid")
      .select("s", "sKind", "p", "o", "oKind", "oLang", "oDt")
      .orderBy("s", "p", "o")

  /** VoID dataset card over the materialized triples
    * ([[graft.kg.GraphOps.voidStats]]; oracle [[KgSql.voidSql]]).
    */
  def kgVoid(spark: SparkSession, dir: String): DataFrame =
    graft.kg.GraphOps.voidStats(kgTriples(spark, dir))

  /** Canonical N-Triples export of the materialized triple table — the
    * interchange leg of KG construction ([[graft.rdf.NtWriter]]; round-trip
    * through [[graft.rdf.NTriples.parseLine]] pinned in RdfSpec; the oracle
    * reconstructs every line closed-form from the generation rule, so a
    * single byte of drift in term rendering fails the compare).
    */
  def kgExportNt(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.pipeline.Pipeline
      .extractTriplesUrlText(
        graft.extract.Synth.pagesUrlText(spark, kgPageCount(spark, dir)))
      .map(graft.rdf.NtWriter.line)
      .toDF("line")
      .orderBy("line")
  }

  /** Provenance-preserving N-Quads export — graph term = lineage URL
    * ([[graft.rdf.NtWriter.quadLine]]; same closed-form oracle discipline
    * as [[kgExportNt]]).
    */
  def kgExportNq(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.pipeline.Pipeline
      .extractTriplesUrlText(
        graft.extract.Synth.pagesUrlText(spark, kgPageCount(spark, dir)))
      .map(graft.rdf.NtWriter.quadLine)
      .toDF("line")
      .orderBy("line")
  }
}

/** Per-row fixture builder + round trip for q_http_body (standalone object so
  * the Spark closure references it statically). Mode = doc_id % 4 selects the
  * encoding stack: 0 = identity + Content-Length, 1 = chunked, 2 = gzip +
  * Content-Length, 3 = chunked(gzip(body)) — the RFC layering order. Ids ≡ 1
  * (mod 8) add a chunk extension (`;x=1`) the decoder must ignore.
  */
object HttpBodyFixture extends Serializable {

  def gzipBytes(b: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val g = new java.util.zip.GZIPOutputStream(bos)
    g.write(b); g.close()
    bos.toByteArray
  }

  def chunkFrame(b: Array[Byte], size: Int, ext: Boolean): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    var i = 0
    while (i < b.length) {
      val n = math.min(size, b.length - i)
      out.write((Integer.toHexString(n) + (if (ext) ";x=1" else "") + "\r\n")
        .getBytes("ISO-8859-1"))
      out.write(b, i, n)
      out.write('\r'.toInt); out.write('\n'.toInt)
      i += n
    }
    out.write("0\r\n\r\n".getBytes("ISO-8859-1"))
    out.toByteArray
  }

  /** Build the message for (id, text), parse + decode it with the REAL
    * engine code, and emit the decoded digest/length plus a `matches` flag
    * against the original text (the oracle pins all of it closed-form).
    */
  def row(id: Long, text: String): (Long, Boolean, Boolean, String, Long, Boolean) = {
    val mode = (((id % 4) + 4) % 4).toInt
    val raw = text.getBytes("UTF-8")
    val content = if (mode >= 2) gzipBytes(raw) else raw
    val framed =
      if (mode % 2 == 1) chunkFrame(content, 100, ext = ((id % 8) + 8) % 8 == 1)
      else content
    val sb = new StringBuilder("HTTP/1.1 200 OK\r\n")
    sb ++= "Content-Type: text/plain; charset=utf-8\r\n"
    if (mode % 2 == 1) sb ++= "Transfer-Encoding: chunked\r\n"
    else sb ++= s"Content-Length: ${framed.length}\r\n"
    if (mode >= 2) sb ++= "Content-Encoding: gzip\r\n"
    sb ++= "\r\n"
    val head = sb.toString.getBytes("ISO-8859-1")
    val msg = new Array[Byte](head.length + framed.length)
    System.arraycopy(head, 0, msg, 0, head.length)
    System.arraycopy(framed, 0, msg, head.length, framed.length)
    val h = graft.extract.Http.parseHead(msg, 0, msg.length).get
    val chunked = graft.extract.Http
      .headerValue(msg, 0, msg.length, "transfer-encoding").contains("chunked")
    val gzipped = graft.extract.Http
      .headerValue(msg, 0, msg.length, "content-encoding").contains("gzip")
    val body = graft.extract.Http.decodeBody(msg, 0, msg.length, h).get
    (id, chunked, gzipped, graft.extract.Warc.md5Hex(body), body.length.toLong,
      new String(body, "UTF-8") == text)
  }
}

/** Vis aggregates shared by queries and golden tests. */
object VisHelpers {
  def nodes(summary: DataFrame): DataFrame =
    graft.sinks.VisJson.nodeCounts(summary).orderBy("name")

  def edges(summary: DataFrame): DataFrame =
    graft.sinks.VisJson.edgesWithLinkNum(summary)
      .orderBy("source", "target", "label", "is_datatype")
}
