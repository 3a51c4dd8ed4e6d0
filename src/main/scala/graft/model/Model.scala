package graft.model

/** Core data model for the KG-construction + namespace-summarization engine.
  *
  * Re-expresses the reference's RDF sum types (chilon_rs `src/normalize.rs:566-599`,
  * `src/parse.rs:24-51`) as a flat Spark-friendly schema: term kinds are byte tags,
  * literal language / datatype ride in nullable columns. Rows are `Dataset[Triple]`
  * friendly (case-class Encoder) and columnar-Parquet friendly at the same time.
  */
object Kind {
  val IRI: Byte = 0
  val BLANK: Byte = 1
  val LIT_PLAIN: Byte = 2
  val LIT_LANG: Byte = 3
  val LIT_TYPED: Byte = 4
}

/** One RDF triple, flattened. Quads are projected here by dropping the graph term
  * (cf. reference `src/parse.rs:40-47`).
  *
  * @param s       subject IRI or blank-node label
  * @param sKind   Kind.IRI | Kind.BLANK (RDF-star subjects unsupported, like the reference)
  * @param p       predicate IRI (always an IRI)
  * @param o       object IRI / blank label / literal lexical form
  * @param oKind   any Kind
  * @param oLang   language tag, only when oKind == LIT_LANG
  * @param oDt     datatype IRI, only when oKind == LIT_TYPED
  * @param srcUrl  lineage back to the source page / file
  */
final case class Triple(
    s: String,
    sKind: Byte,
    p: String,
    o: String,
    oKind: Byte,
    oLang: Option[String],
    oDt: Option[String],
    srcUrl: String
)

/** The ordinals of a triple table's term columns in the `InternalRow`s of
  * `schema`, read by the per-row functions of the scan (the IRI cap) and of
  * the summary folds (the summary key).
  */
final case class TermOrdinals(s: Int, sKind: Int, p: Int, o: Int, oKind: Int, oDt: Int)

object TermOrdinals {

  /** The term columns, in the order of the fields. */
  val Columns: Seq[String] = Seq("s", "sKind", "p", "o", "oKind", "oDt")

  def apply(schema: org.apache.spark.sql.types.StructType): TermOrdinals = {
    val Seq(s, sKind, p, o, oKind, oDt) = Columns.map(schema.fieldIndex)
    TermOrdinals(s, sKind, p, o, oKind, oDt)
  }
}

/** Input-table row per BASELINE.json `input_hint`:
  * Iceberg-style Common-Crawl page table (url, warc_ts, html, text, lang).
  */
final case class Page(
    url: String,
    warc_ts: java.sql.Timestamp,
    html: Array[Byte],
    text: String,
    lang: String
)

/** A `@prefix` declaration captured from a graph file (reference `src/parse.rs:53-61`). */
final case class PrefixDecl(alias: String, ns: String)

/** One row of the condensed namespace summary (reference TripleFreq,
  * `src/normalize.rs:24-27`): the group-counted namespace signature of the corpus.
  */
final case class SummaryRow(
    s_ns: String,
    p_ns: String,
    o_ns: String,
    is_datatype: Boolean,
    occurs: Long
)

/** Mention of a dictionary entity located in a page's text. */
final case class Mention(
    srcUrl: String,
    surface: String,
    start: Int,
    end: Int,
    entityIri: String,
    score: Double
)
