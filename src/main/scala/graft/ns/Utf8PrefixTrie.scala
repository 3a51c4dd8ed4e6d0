package graft.ns

import org.apache.spark.unsafe.types.UTF8String
import scala.collection.mutable

/** Byte-packed, path-compressed longest-prefix trie over UTF-8 keys, walked
  * directly on a Spark `UTF8String` with zero per-call allocation — the
  * executor-side form of [[PrefixTrie]] used by the codegen'd [[ResolveNs]]
  * expression.
  *
  * Each node holds the label of the edge that leads to it, the run of bytes
  * of a chain of non-terminal single-child byte nodes, so a walk compares
  * the bytes of a chain in one loop and looks a child up (a binary search on
  * its label's first byte) only where keys branch or end: at a key's end or
  * a fork, not at every byte.
  *
  * Correctness: keys are inserted as their UTF-8 byte sequences; because
  * UTF-8 is prefix-free per code point, a terminal byte-node always falls on
  * a character boundary, so byte-wise longest-terminal-prefix equals the
  * char-wise result of `PrefixTrie.resolve` for every valid UTF-8 input
  * (property-tested against it in ResolveNsExprSpec). Compression keeps
  * every terminal node, so the terminals a walk passes are the same.
  *
  * Matches reference semantics `longest_prefix(iri, must_be_terminal=true)`
  * with empty-prefix misses (chilon_rs `src/trie.rs:249-296`,
  * `src/prefixes.rs:195-196`).
  */
final class Utf8PrefixTrie[V] private (
    private val childStart: Array[Int],
    private val childCount: Array[Int],
    private val childByte: Array[Byte],
    private val childNode: Array[Int],
    private val labelStart: Array[Int],
    private val labelEnd: Array[Int],
    private val labels: Array[Byte],
    private val valueIdx: Array[Int],
    private val values: Array[AnyRef],
    private val prefixes: Array[String]
) extends Serializable {

  @inline private def childOf(node: Int, b: Byte): Int = {
    var lo = childStart(node)
    var hi = lo + childCount(node) - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      val mb = childByte(mid)
      if (mb == b) return childNode(mid)
      else if ((mb & 0xff) < (b & 0xff)) lo = mid + 1
      else hi = mid - 1
    }
    -1
  }

  /** Longest terminal prefix with value; empty prefix counts as a miss.
    * Returns the value index, or -1. Allocation-free.
    */
  def resolveIdx(s: UTF8String): Int = {
    if (s == null) return -1
    val n = s.numBytes()
    var best = -1
    var node = 0
    var i = 0
    while (i < n) {
      // the child whose label starts with the next byte, then the rest of
      // its label
      node = childOf(node, s.getByte(i))
      if (node < 0) return best
      i += 1
      var j = labelStart(node)
      val end = labelEnd(node)
      while (j < end) {
        if (i == n || s.getByte(i) != labels(j)) return best
        i += 1
        j += 1
      }
      if (valueIdx(node) >= 0) best = valueIdx(node)
    }
    best
  }

  def valueCount: Int = values.length
  def valueAt(idx: Int): V = values(idx).asInstanceOf[V]
  def prefixAt(idx: Int): String = prefixes(idx)

  def resolve(s: UTF8String): Option[(String, V)] = {
    val i = resolveIdx(s)
    if (i < 0) None else Some((prefixes(i), valueAt(i)))
  }
}

object Utf8PrefixTrie {

  def apply[V](kvs: Iterable[(String, V)]): Utf8PrefixTrie[V] = {
    final class MNode {
      val children = new java.util.TreeMap[Integer, MNode]() // unsigned byte key
      var value: AnyRef = _
      var prefix: String = _
      var terminal = false
    }
    val root = new MNode
    kvs.foreach { case (k, v) =>
      val bytes = k.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var n = root
      var i = 0
      while (i < bytes.length) {
        n = n.children.computeIfAbsent(bytes(i) & 0xff, _ => new MNode)
        i += 1
      }
      n.terminal = true
      n.value = v.asInstanceOf[AnyRef]
      n.prefix = k
    }
    // a node below the root whose path is not a key and that has one
    // child is folded into that child's label
    def compressed(n: MNode): Boolean = !n.terminal && n.children.size == 1
    val nodes = mutable.ArrayBuffer[MNode](root)
    val label = new java.util.IdentityHashMap[MNode, Array[Byte]]()
    val queue = mutable.Queue[MNode](root)
    while (queue.nonEmpty) {
      val n = queue.dequeue()
      n.children.forEach { (b, child) =>
        val run = mutable.ArrayBuffer[Byte](b.toByte)
        var c = child
        while (compressed(c)) {
          val e = c.children.firstEntry()
          run += e.getKey.toByte
          c = e.getValue
        }
        label.put(c, run.toArray)
        nodes += c
        queue.enqueue(c)
      }
    }
    val idOf = new java.util.IdentityHashMap[MNode, Integer]()
    nodes.zipWithIndex.foreach { case (n, i) => idOf.put(n, i) }

    val nNodes = nodes.length
    val childStart = new Array[Int](nNodes)
    val childCount = new Array[Int](nNodes)
    val labelStart = new Array[Int](nNodes)
    val labelEnd = new Array[Int](nNodes)
    val valueIdx = Array.fill(nNodes)(-1)
    val cb = mutable.ArrayBuffer[Byte]()
    val cn = mutable.ArrayBuffer[Int]()
    val lb = mutable.ArrayBuffer[Byte]()
    val vals = mutable.ArrayBuffer[AnyRef]()
    val prefs = mutable.ArrayBuffer[String]()
    var i = 0
    while (i < nNodes) {
      val n = nodes(i)
      // a child's first label byte is the one its lookup matched
      val l = if (i == 0) Array.emptyByteArray else label.get(n)
      labelStart(i) = lb.length + math.min(1, l.length)
      lb ++= l
      labelEnd(i) = lb.length
      childStart(i) = cb.length
      childCount(i) = n.children.size
      n.children.forEach { (_, child) =>
        var c = child
        while (compressed(c)) c = c.children.firstEntry().getValue
        cb += label.get(c)(0); cn += idOf.get(c)
      }
      if (n.terminal) { valueIdx(i) = vals.length; vals += n.value; prefs += n.prefix }
      i += 1
    }
    new Utf8PrefixTrie[V](childStart, childCount, cb.toArray, cn.toArray,
      labelStart, labelEnd, lb.toArray, valueIdx, vals.toArray, prefs.toArray)
  }
}
