package graft.rdf

import graft.extract.Canonical
import graft.model.{Kind, TermOrdinals, Triple}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

/** The triple table as Catalyst internal rows in the schema of [[Triple]],
  * built in the scan's tasks, so no encoder and no UDF projection is planned
  * for it. Every row carries chilon's cap on IRIs (`normalize_iri`,
  * src/prefixes.rs:431-444): s when an IRI, p, o when an IRI and the
  * datatype IRI keep their first [[Canonical.MaxGraphemes]] graphemes
  * ([[Canonical.graphemeTruncate]]); literals are not capped.
  */
private[graft] object TripleRows {

  /** The columns of [[Triple]], as its encoder lays them out. */
  val schema: StructType = Encoders.product[Triple].schema

  private val terms = TermOrdinals(schema)

  private def str(s: String): UTF8String = UTF8String.fromString(s)

  /** One parsed triple as a capped row of [[schema]]. */
  def apply(t: Triple): InternalRow = cap(new GenericInternalRow(Array[Any](
    str(t.s), t.sKind, str(t.p), str(t.o), t.oKind, t.oLang.map(str).orNull,
    t.oDt.map(str).orNull, str(t.srcUrl))), terms, schema)

  /** True when the value at `i` may exceed the cap: a string has no more
    * graphemes than UTF-8 bytes, and the byte length is in its header.
    */
  private def over(r: InternalRow, i: Int): Boolean =
    !r.isNullAt(i) && r.getUTF8String(i).numBytes > Canonical.MaxGraphemes

  /** `r` with its IRIs capped: `r` itself when none can exceed the cap,
    * else a copy with the capped values.
    */
  def cap(r: InternalRow, t: TermOrdinals, schema: StructType): InternalRow = {
    val capS = r.getByte(t.sKind) == Kind.IRI && over(r, t.s)
    val capO = r.getByte(t.oKind) == Kind.IRI && over(r, t.o)
    val capP = over(r, t.p)
    val capDt = over(r, t.oDt)
    if (!(capS || capP || capO || capDt)) r
    else {
      val c = new GenericInternalRow(r.toSeq(schema).toArray)
      for ((i, on) <- Seq(t.s -> capS, t.p -> capP, t.o -> capO, t.oDt -> capDt) if on) {
        val v = r.getUTF8String(i).toString
        val cut = Canonical.graphemeTruncate(v)
        if (cut ne v) c.update(i, str(cut))
      }
      c
    }
  }

  /** [[cap]] over every row of `rows`, rows of `schema`. */
  def cap(rows: RDD[InternalRow], schema: StructType): RDD[InternalRow] = {
    val t = TermOrdinals(schema)
    rows.mapPartitions(_.map(cap(_, t, schema)), preservesPartitioning = true)
  }
}
