package graft.ns

import graft.ns.{Inference => Inf}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst generator for segment-prefix explosion — the hot inner
  * loop of the A2/N1 prefix aggregation (`Inference.segPrefixes`), emitted as
  * `(pos, prefix)` rows exactly like `posexplode(segUdf(iri))` but walking
  * the input `UTF8String`'s bytes directly: no UTF8String->String decode, no
  * Array[String] materialization, and every emitted prefix is a byte-slice
  * VIEW over one shared array, so the per-IRI cost is a single byte-array
  * fetch. The walk ([[SegPrefixesGen.walk]]) also feeds the scan's per-task
  * prefix counts (`Inference.PrefixMap`), which need no copy at all.
  *
  * Byte-wise correctness: the delimiters `/` and `#` and the `://` scheme
  * marker are ASCII, and UTF-8 multi-byte sequences never contain ASCII
  * bytes, so byte positions of delimiters equal character positions and each
  * slice boundary is a character boundary. The one place character CLASSES
  * matter is the scheme validity check (`isLetter`/`isLetterOrDigit`); if the
  * scheme region contains any non-ASCII byte the row falls back to the
  * reference Scala implementation for bit-exact parity (property-tested in
  * InferenceSpec).
  */
case class SegPrefixesGen(child: Expression)
    extends UnaryExpression with Generator with CodegenFallback {

  override def elementSchema: StructType = StructType(Seq(
    StructField("pos", IntegerType, nullable = false),
    StructField("prefix", StringType, nullable = false)))

  override def prettyName: String = "seg_prefixes"

  override protected def withNewChildInternal(newChild: Expression): SegPrefixesGen =
    copy(child = newChild)

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val v = child.eval(input)
    if (v == null) return Nil
    // one copy of a slice of the row buffer, then every prefix is a view
    // over that copy
    val u = UTF8String.fromBytes(v.asInstanceOf[UTF8String].getBytes)
    val out = new scala.collection.mutable.ArrayBuffer[InternalRow](4)
    SegPrefixesGen.walk(u, (pos, prefix) => out += new GenericInternalRow(Array[Any](pos, prefix)))
    out
  }
}

object SegPrefixesGen {

  /** Receives each segment prefix of an IRI with its position (0 = the
    * first segment).
    */
  trait Sink {
    def apply(pos: Int, prefix: UTF8String): Unit
  }

  @inline private def isAsciiLetter(b: Byte): Boolean =
    (b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z')

  @inline private def isSchemeByte(b: Byte): Boolean =
    isAsciiLetter(b) || (b >= '0' && b <= '9') || b == '+' || b == '-' || b == '.'

  /** [[Inference.segPrefixes]] of `u`, in order, each a byte-slice view
    * over `u`'s memory (valid while `u` is). A scheme region with a
    * non-ASCII byte takes the reference Scala implementation instead.
    */
  def walk(u: UTF8String, sink: Sink): Unit = {
    val n = u.numBytes
    // first "://" (':' and '/' are ASCII -> byte scan == char scan)
    var sep = -1
    var j = 0
    while (sep < 0 && j + 2 < n) {
      if (u.getByte(j) == ':' && u.getByte(j + 1) == '/' && u.getByte(j + 2) == '/') sep = j
      j += 1
    }
    // scheme region must be ASCII for the byte-wise class checks to match
    // Character.isLetter/isLetterOrDigit; otherwise take the exact slow path
    var k = 0
    while (k < sep) {
      if (u.getByte(k) < 0) {
        Inf.segPrefixes(u.toString).iterator.zipWithIndex.foreach { case (p, pos) =>
          sink(pos, UTF8String.fromString(p))
        }
        return
      }
      k += 1
    }

    val schemeOk = sep > 0 && isAsciiLetter(u.getByte(0)) && {
      var ok = true
      var i = 1
      while (ok && i < sep) { ok = isSchemeByte(u.getByte(i)); i += 1 }
      ok
    }
    val authStart = if (schemeOk) sep + 3 else -1

    val base = u.getBaseObject
    val offset = u.getBaseOffset
    var pos = 0
    var lastEnd = -1
    @inline def emit(end: Int): Unit = {
      sink(pos, UTF8String.fromAddress(base, offset, end))
      pos += 1
      lastEnd = end
    }
    var i = if (authStart > 0) authStart else 0
    var hostFound = false
    var decided = authStart < 0
    while (i < n) {
      val c = u.getByte(i)
      if (c == '/' || c == '#') {
        if (hostFound) emit(i + 1)
        else if (!decided) {
          decided = true
          if (i > authStart) { hostFound = true; emit(i + 1) }
        }
      }
      i += 1
    }
    if (pos == 0 || lastEnd < n) emit(n)
  }
}
