package graft.sinks

import graft.model.SummaryRow
import java.io.OutputStream
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption, StandardOpenOption}
import org.apache.spark.sql.DataFrame

/** `output.ttl` sink — the reference's condensed reified-RDF summary
  * (chilon_rs `src/normalize.rs:602-735`): a `@base`/`@prefix` header, one
  * `#alias <#namespacePrefix> <ns>` triple per used namespace, then six reified
  * triples per summary row with ids `#t%04d` assigned in lexicographic
  * (s, p, o, is_datatype) order, rows below `minOccurs` suppressed
  * (`src/normalize.rs:636-638`; min_occurs=10 at `src/main.rs:143`).
  *
  * The summary is tiny by construction (<= hundreds of rows regardless of input
  * scale), so rendering collects it and writes a single text file — the same
  * shape as the reference's single-writer sink.
  *
  * Formatting note: the reference's rio `TurtleFormatter` folds consecutive
  * same-subject triples into `;`-lists; this sink emits one full triple per
  * line. The two are Turtle-equivalent (identical triple set, identical ids
  * and ordering) — consumers parse Turtle, byte parity is pinned by OUR golden
  * files, and the P/R gate compares (s, p, o) sets, not bytes.
  */
object TtlSink {

  val Base = "http://andrefs.com/graph-summ/v1"

  def render(
      rows: Seq[SummaryRow],
      groups: Seq[(String, String)],
      minOccurs: Int
  ): String = {
    val sb = new StringBuilder
    sb.append(s"@base <$Base> .\n")
    sb.append(s"@prefix ngont: <$Base/ontology> .\n")
    sb.append(s"@prefix ngns: <$Base/instance> .\n")
    sb.append("\n")

    groups.foreach { case (alias, ns) =>
      sb.append(s"<#$alias> <#namespacePrefix> <$ns> .\n")
    }
    sb.append("\n")

    val rdf = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
    var id = 0
    // lexicographic order, is_datatype false < true (BTreeMap iteration order)
    val ordered = rows
      .filter(_.occurs >= minOccurs)
      .sortBy(r => (r.s_ns, r.p_ns, r.o_ns, r.is_datatype))
    ordered.foreach { r =>
      id += 1
      val t = f"#t$id%04d"
      val linkType = if (r.is_datatype) "#DatatypeLink" else "#GroupsLink"
      sb.append(s"<$t> <${rdf}type> <$linkType> .\n")
      sb.append(s"<$t> <${rdf}type> <${rdf}Statement> .\n")
      sb.append(s"<$t> <${rdf}subject> <#${r.s_ns}> .\n")
      sb.append(s"<$t> <${rdf}predicate> <#${r.p_ns}> .\n")
      sb.append(s"<$t> <${rdf}object> <#${r.o_ns}> .\n")
      sb.append(s"""<$t> <#occurrences> "${r.occurs}"^^<http://www.w3.org/2001/XMLSchema#integer> .\n""")
    }
    sb.toString
  }

  def collectRows(summary: DataFrame): Seq[SummaryRow] = {
    import org.apache.spark.sql.functions.col
    summary
      .select(col("s_ns"), col("p_ns"), col("o_ns"), col("is_datatype"), col("occurs"))
      .collect()
      .map(r => SummaryRow(r.getString(0), r.getString(1), r.getString(2), r.getBoolean(3), r.getLong(4)))
      .toSeq
  }

  /** Used-groups sidecar (`used-groups.tsv`, one `alias\tns` line per group
    * the summary actually references): GenViz rebuilds vis-data.json from
    * exactly these, instead of regex-scraping the full registry JSON (which
    * both over-reports aliases and breaks on escaped quotes).
    */
  def groupsTsv(groups: Seq[(String, String)]): String =
    groups.sorted.map { case (a, ns) => s"$a\t$ns" }.mkString("", "\n", "\n")

  def readGroupsTsv(path: Path): Map[String, String] =
    new String(Files.readAllBytes(path), "UTF-8")
      .split('\n').toSeq.filter(_.nonEmpty)
      .map { l => val Array(a, ns) = l.split("\t", 2); a -> ns }
      .toMap

  def write(path: Path, content: String): Unit =
    writeAtomically(path)(_.write(content.getBytes(StandardCharsets.UTF_8)))

  /** Writes `path` through a hidden temporary sibling that is renamed into
    * place, so `path` holds either its previous content or the whole new
    * content, never a torn file. When `body` or the rename fails, the
    * temporary file is removed and the exception propagates.
    */
  def writeAtomically(path: Path)(body: OutputStream => Unit): Unit = {
    val dir = path.toAbsolutePath.getParent
    Files.createDirectories(dir)
    val tmp = dir.resolve(s".${path.getFileName}.${java.util.UUID.randomUUID()}.tmp")
    try {
      val out = Files.newOutputStream(tmp, StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE)
      try body(out) finally out.close()
      Files.move(tmp, path, StandardCopyOption.ATOMIC_MOVE)
    } finally Files.deleteIfExists(tmp)
  }
}
