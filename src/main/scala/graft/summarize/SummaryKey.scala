package graft.summarize

import graft.model.{Kind, TermOrdinals}
import graft.ns.{NsEntry, Registry, Utf8PrefixTrie}
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.types.{BooleanType, ByteType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** The summary key of a triple (the signature chilon's `TripleFreq::add`
  * counts, src/normalize.rs:34-46, and the object's kind), computed from a
  * row's term columns inside the task that holds it, with no Catalyst plan.
  *
  * Each position gets a code: the index of the namespace the registry's
  * [[Utf8PrefixTrie]] resolves it to, or one of four special codes,
  * UNKNOWN (an IRI no namespace resolves, or a null term), BLANK, and the
  * fixed groups of plain literals (`xsd`) and of language-tagged ones
  * (`rdf`), as [[Normalize.normalize]] projects them:
  *   - s: BLANK for a blank node, else its namespace;
  *   - p: its namespace;
  *   - o: BLANK, `xsd` or `rdf` by kind, an IRI's namespace, a typed
  *     literal's datatype's namespace, and UNKNOWN for any other kind.
  *
  * The three codes and the object's kind pack into one `Long`, so tasks
  * count longs ([[LongCounts]]) and the driver decodes each distinct key
  * once into a `Row` of [[SummaryKey.KeySchema]] ([[decode]]). The same
  * walk gives the IRIs inference counts (s when an IRI, p, o when an IRI,
  * never a datatype) at the positions it left UNKNOWN.
  */
private[graft] final class SummaryKey private (trie: Utf8PrefixTrie[NsEntry], terms: TermOrdinals)
    extends Serializable {
  import SummaryKey._

  /** A new per-task walk. */
  def walk(): Walk = new Walk

  /** The state of one task's walk: after [[key]], each position's code. */
  final class Walk {
    private val codes = new Array[Int](3)
    private var row: InternalRow = _
    private var sKind: Byte = 0
    private var oKind: Byte = 0

    private def resolve(ordinal: Int): Int =
      if (row.isNullAt(ordinal)) Unknown
      else {
        val i = trie.resolveIdx(row.getUTF8String(ordinal))
        if (i < 0) Unknown else i + First
      }

    /** The packed key of `r`. */
    def key(r: InternalRow): Long = {
      row = r
      sKind = r.getByte(terms.sKind)
      oKind = r.getByte(terms.oKind)
      require((oKind & ~KindMask) == 0, s"object kind $oKind")
      codes(0) = if (sKind == Kind.BLANK) Blank else resolve(terms.s)
      codes(1) = resolve(terms.p)
      codes(2) = oKind match {
        case Kind.BLANK => Blank
        case Kind.LIT_PLAIN => Xsd
        case Kind.LIT_LANG => Rdf
        case Kind.IRI => resolve(terms.o)
        case Kind.LIT_TYPED => resolve(terms.oDt)
        case _ => Unknown
      }
      (codes(0).toLong << SShift) | (codes(1).toLong << PShift) | (codes(2).toLong << OShift) | oKind
    }

    /** True when some position is UNKNOWN. */
    def unknown: Boolean = codes(0) == Unknown || codes(1) == Unknown || codes(2) == Unknown

    /** True when some position's code is one of `codes`' true entries. */
    def touches(hit: Array[Boolean]): Boolean = hit(codes(0)) || hit(codes(1)) || hit(codes(2))

    /** The IRI at position `i` (0 = s, 1 = p, 2 = o) when the registry
      * leaves it unresolved, else null. Valid until the next [[key]].
      */
    def unresolved(i: Int): UTF8String =
      if (codes(i) != Unknown) null
      else {
        val ordinal = i match {
          case 0 => if (sKind == Kind.IRI) terms.s else -1
          case 1 => terms.p
          case _ => if (oKind == Kind.IRI) terms.o else -1
        }
        if (ordinal < 0 || row.isNullAt(ordinal)) null else row.getUTF8String(ordinal)
      }
  }

  private def alias(code: Int): String = code match {
    case Unknown => Normalize.Unknown
    case Blank => Normalize.Blank
    case Xsd => Normalize.PlainLitGroup._1
    case Rdf => Normalize.LangLitGroup._1
    case c => trie.valueAt(c - First).alias
  }

  /** The `Row(s_ns, p_ns, o_ns, is_datatype, o_kind)` of a packed key. */
  def decode(key: Long): Row = {
    def code(shift: Int) = ((key >>> shift) & CodeMask).toInt
    val kind = (key & KindMask).toByte
    val isDatatype = kind == Kind.LIT_PLAIN || kind == Kind.LIT_LANG || kind == Kind.LIT_TYPED
    new GenericRowWithSchema(
      Array(alias(code(SShift)), alias(code(PShift)), alias(code(OShift)), isDatatype, kind),
      KeySchema)
  }

  /** A table over codes, true at the codes of the namespaces `nss`. */
  def codesOf(nss: Set[String]): Array[Boolean] = {
    val hit = new Array[Boolean](trie.valueCount + First)
    (0 until trie.valueCount).foreach(i => if (nss(trie.prefixAt(i))) hit(i + First) = true)
    hit
  }
}

private[graft] object SummaryKey {
  private final val Unknown = 0
  private final val Blank = 1
  private final val Xsd = 2
  private final val Rdf = 3
  private final val First = 4

  /** Bits per position's code; the object's kind takes the low 3 bits. */
  private final val CodeBits = 20
  private final val CodeMask = (1L << CodeBits) - 1
  private final val KindMask = 7
  private final val OShift = 3
  private final val PShift = OShift + CodeBits
  private final val SShift = PShift + CodeBits

  // every index of a registry's namespaces has a code
  require(Registry.MaxNamespaces + First <= CodeMask + 1)

  /** The columns of a decoded key: the signature and the object's kind.
    * With the registry it determines the (alias, ns) group of each position
    * (the kind tells a plain or language-tagged literal's fixed group from
    * a datatype that resolves to the same alias), so the fold carries no
    * namespace strings.
    */
  val KeySchema: StructType = StructType(Seq(
    StructField("s_ns", StringType), StructField("p_ns", StringType),
    StructField("o_ns", StringType), StructField("is_datatype", BooleanType),
    StructField("o_kind", ByteType)))

  /** The key function of `registry` over rows of `schema`, a triple table. */
  def apply(registry: Registry, schema: StructType): SummaryKey =
    new SummaryKey(registry.utf8Trie, TermOrdinals(schema))
}

/** Counts of non-negative `Long` keys in one task or on the driver: open
  * addressing over two arrays, so a count never boxes its key.
  */
private[graft] final class LongCounts {
  private var keys = Array.fill(64)(-1L)
  private var counts = new Array[Long](64)
  private var size = 0

  private def slot(k: Long, ks: Array[Long]): Int = {
    var h = k * 0x9E3779B97F4A7C15L
    h ^= h >>> 32
    var i = h.toInt & (ks.length - 1)
    while (ks(i) != -1L && ks(i) != k) i = (i + 1) & (ks.length - 1)
    i
  }

  def add(k: Long, n: Long = 1L): Unit = {
    val i = slot(k, keys)
    if (keys(i) == -1L) {
      keys(i) = k
      size += 1
      counts(i) = n
      if (size * 2 > keys.length) grow()
    } else counts(i) += n
  }

  private def grow(): Unit = {
    val (oldKeys, oldCounts) = (keys, counts)
    keys = Array.fill(oldKeys.length * 2)(-1L)
    counts = new Array[Long](oldKeys.length * 2)
    var i = 0
    while (i < oldKeys.length) {
      if (oldKeys(i) != -1L) {
        val j = slot(oldKeys(i), keys)
        keys(j) = oldKeys(i)
        counts(j) = oldCounts(i)
      }
      i += 1
    }
  }

  /** The keys and their counts, in two arrays of the same order. */
  def result: (Array[Long], Array[Long]) = {
    val live = keys.indices.filter(keys(_) != -1L)
    (live.map(keys).toArray, live.map(counts).toArray)
  }

  /** Adds the counts of a [[result]]. */
  def addAll(part: (Array[Long], Array[Long])): Unit =
    part._1.indices.foreach(i => add(part._1(i), part._2(i)))
}
