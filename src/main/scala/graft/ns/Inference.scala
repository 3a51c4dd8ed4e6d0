package graft.ns

import org.apache.spark.sql.{DataFrame, functions => F}
import org.apache.spark.unsafe.types.UTF8String
import scala.collection.mutable

/** Namespace inference — the algorithmic heart of the reference
  * (chilon_rs `src/iri_trie.rs`, `src/seg_tree.rs`), re-expressed as
  * per-segment-prefix counts plus a driver-side expansion over the tiny
  * thresholded result.
  *
  * The reference builds an in-memory char-trie of every unresolved IRI
  * (`IriTrie`), re-segments it at '/'/'#' boundaries into a `SegTree`
  * (`src/seg_tree.rs:16-64`), and expands a candidate heap
  * (`infer_namespaces_aux`, `src/seg_tree.rs:104-155`). Only segment-boundary
  * prefixes are ever read from the trie, so the distributed equivalent is:
  * count each IRI's host-gated segment prefixes, collect the >= MIN_NS_SIZE
  * survivors, and run the same expansion loop on the driver. The counts come
  * either from per-task hash maps merged on the driver, in the pass that
  * folds the summary keys before inference (the scan that reads line-format
  * RDF inputs, the pages triple snapshot's write; [[PrefixFold]]; each task
  * holds its share of chilon's `IRI_TRIE_SIZE`), or, past that bound and on
  * every other path, from a shuffled `groupBy(prefix).count`
  * ([[prefixCounts]]). Later
  * rounds are derived on the driver from those counts
  * ([[nextCandidates]]). This computes the order-independent fixed point over
  * global counts (the reference's result depends on arrival order via
  * mid-stream maintenance, `src/prefixes.rs:209-247`; the P/R gate tolerates
  * the difference and ours is strictly deterministic).
  */
object Inference {

  /** Reference thresholds (`src/seg_tree.rs:69-70,105`). */
  val MinNsSize = 1000L
  val MinDomainOccurs = 100L
  val MaxNs = 5

  /** Safety bound on the driver collect (zipfian corpora keep the >=MIN_NS_SIZE
    * set tiny; this guards degenerate inputs at web scale).
    */
  val MaxCollected = 100000

  /** Host-gated segment prefixes of an IRI (the SegTree node path,
    * `src/seg_tree.rs:34-63`): every prefix ending at a '/' or '#' boundary, where
    * the first emitted boundary must parse as a URL with a host (earlier
    * boundaries keep accumulating into the first segment); plus the full IRI as
    * leaf segment when it extends past the last boundary. An IRI with no
    * host-gated boundary yields itself as its only (top-level) segment.
    */
  def segPrefixes(iri: String): Array[String] = {
    val out = mutable.ArrayBuffer[String]()
    val n = iri.length
    // host gate without java.net.URI (the hot path runs per IRI occurrence):
    // the first emitted boundary must close a non-empty authority after "://"
    val authStart = {
      val idx = iri.indexOf("://")
      def schemeOk = idx > 0 && iri.charAt(0).isLetter && (1 until idx).forall { j =>
        val c = iri.charAt(j)
        c.isLetterOrDigit || c == '+' || c == '-' || c == '.'
      }
      if (schemeOk) idx + 3 else -1
    }
    var i = if (authStart > 0) authStart else 0
    var hostFound = false
    var decided = authStart < 0 // no scheme://: never host-gated
    while (i < n) {
      val c = iri.charAt(i)
      if (c == '/' || c == '#') {
        if (hostFound) out += iri.substring(0, i + 1)
        else if (!decided) {
          // the first boundary after "://" closes the authority; a non-empty
          // authority is the host gate (java.net.URI agrees on these shapes
          // but costs ~1us per parse — far too hot for per-IRI use)
          decided = true
          if (i > authStart) { hostFound = true; out += iri.substring(0, i + 1) }
        }
      }
      i += 1
    }
    // an IRI like "scheme://host" with no boundary after the authority still
    // has a host but no segment boundary; it falls through to the leaf case
    if (out.isEmpty || out.last.length < n) out += iri
    out.toArray
  }

  /** Segment depth (1 = domain level) and parent prefix of a segment prefix. */
  private def segPath(prefix: String): Array[String] = segPrefixes(prefix)

  final case class PrefixCount(prefix: String, depth: Int, count: Long)

  /** Chilon's bound on its IriTrie (`IRI_TRIE_SIZE`, `src/prefixes.rs:217`):
    * the most distinct prefixes a scan's tasks may hold together.
    */
  val IriTrieSize = 1000000

  /** Round 1's prefix counts as a per-task fold ([[PrefixMap]]) of the
    * string `columns`, each a row's unresolved IRI or null, with
    * [[inferFromIrisWithCandidates]]'s collect: the prefixes counted at
    * least `minNsSize` times, by (count desc, prefix), the first
    * `maxCollected`. Each of n tasks holds at most ⌈`budget` / n⌉ distinct
    * prefixes, so the driver never merges more than `budget`.
    */
  private[graft] final case class PrefixFold(
      columns: Seq[String], minNsSize: Long, maxCollected: Int, budget: Int = IriTrieSize) {
    def taskBudget(tasks: Int): Int = ((budget.toLong + tasks - 1) / math.max(tasks, 1)).toInt
  }

  /** What a [[PrefixFold]] found: round 1's candidates, or None when a task
    * went over its budget; each task's distinct prefixes, None for a task
    * that went over; and, with the candidates, the IRI occurrences the
    * tasks walked (every non-null value of the fold's columns).
    */
  private[graft] final case class FoldedPrefixes(
      candidates: Option[Seq[PrefixCount]], taskEntries: Seq[Option[Int]],
      occurrences: Option[Long])

  /** One task's prefixes, their least depths and their counts, and the IRI
    * occurrences it walked.
    */
  private[graft] final case class TaskPrefixes(
      keys: Array[UTF8String], depths: Array[Int], counts: Array[Long], occurrences: Long)

  /** A prefix's count and the least depth it was seen at. */
  private final class Slot(var count: Long, var depth: Int)

  /** One task's segment-prefix counts, keyed by byte slices of the IRIs; a
    * key is copied only when new. Past `budget` distinct prefixes it drops
    * its map, and [[result]] is None.
    */
  private[graft] final class PrefixMap(budget: Int) {
    private var counts = new java.util.HashMap[UTF8String, Slot]()
    private var occurrences = 0L
    private val sink: SegPrefixesGen.Sink = (pos, prefix) =>
      if (counts != null) {
        val slot = counts.get(prefix)
        if (slot != null) {
          slot.count += 1
          if (pos + 1 < slot.depth) slot.depth = pos + 1
        } else if (counts.size < budget) counts.put(prefix.copy(), new Slot(1L, pos + 1))
        else counts = null
      }

    /** Counts one IRI occurrence and its segment prefixes. */
    def add(iri: UTF8String): Unit = if (counts != null) {
      occurrences += 1
      SegPrefixesGen.walk(iri, sink)
    }

    /** The prefixes, their least depths and their counts. */
    def result: Option[TaskPrefixes] =
      Option(counts).map { c =>
        val (keys, depths, ns) =
          (new Array[UTF8String](c.size), new Array[Int](c.size), new Array[Long](c.size))
        var i = 0
        c.forEach { (k, slot) =>
          keys(i) = k; depths(i) = slot.depth; ns(i) = slot.count
          i += 1
        }
        TaskPrefixes(keys, depths, ns, occurrences)
      }
  }

  /** The driver's side of a [[PrefixFold]]: merges each task's
    * [[PrefixMap.result]] as it arrives, then collects the candidates and
    * drops the merged map.
    */
  private[graft] final class PrefixMerge(fold: PrefixFold, tasks: Int) {
    private var merged = new java.util.HashMap[UTF8String, Slot]()
    private var occurrences = 0L
    private val entries = Array.fill[Option[Int]](tasks)(None)

    def add(task: Int, part: Option[TaskPrefixes]): Unit = {
      entries(task) = part.map(_.keys.length)
      part match {
        case Some(TaskPrefixes(keys, depths, ns, n)) if merged != null =>
          occurrences += n
          var i = 0
          while (i < keys.length) {
            val slot = merged.get(keys(i))
            if (slot == null) merged.put(keys(i), new Slot(ns(i), depths(i)))
            else {
              slot.count += ns(i)
              if (depths(i) < slot.depth) slot.depth = depths(i)
            }
            i += 1
          }
        case Some(_) =>
        case None => merged = null
      }
    }

    def result(): FoldedPrefixes = {
      val candidates = Option(merged).map { m =>
        val kept = mutable.ArrayBuffer.empty[(UTF8String, Slot)]
        m.forEach((k, slot) => if (slot.count >= fold.minNsSize) kept += (k -> slot))
        kept.sortWith { case ((ka, a), (kb, b)) =>
          a.count > b.count || (a.count == b.count && ka.compareTo(kb) < 0)
        }.iterator.take(fold.maxCollected)
          .map { case (k, slot) => PrefixCount(k.toString, slot.depth, slot.count) }.toVector
      }
      merged = null
      FoldedPrefixes(candidates, entries.toSeq, candidates.map(_ => occurrences))
    }
  }

  /** Distributed hierarchical prefix counting (replaces IriTrie build, SURVEY A2).
    *
    * @param iris DataFrame with a string column `iri`, one row per occurrence.
    * @param salt >0 adds a two-phase salted aggregation for skewed prefixes
    *             (hot dbpedia/schema.org-style domains); partial aggregation
    *             already absorbs most of it, the salt is an explicit knob.
    * @return DataFrame(prefix, depth, count) — one row per distinct segment prefix.
    */
  /** (pos, prefix) explosion through the native [[SegPrefixesGen]] generator
    * (byte-walking, allocation-light); `posexplode(udf)` kept as the
    * cross-checked reference path (parity property test in InferenceSpec).
    */
  def segExplode(iris: DataFrame, useGenerator: Boolean = true): DataFrame =
    if (useGenerator)
      iris.select(org.apache.spark.sql.graftshim.ColumnShim
        .column(SegPrefixesGen(org.apache.spark.sql.graftshim.ColumnShim
          .expression(F.col("iri"))))
        .as(Seq("pos", "prefix")))
    else {
      val segUdf = F.udf((iri: String) => segPrefixes(iri))
      iris.select(F.posexplode(segUdf(F.col("iri"))).as(Seq("pos", "prefix")))
    }

  def prefixCounts(iris: DataFrame, salt: Int = 0): DataFrame = {
    val exploded = segExplode(iris)
      .select(F.col("prefix"), (F.col("pos") + 1).as("depth"))
    if (salt > 0) {
      exploded
        .withColumn("s", F.pmod(F.spark_partition_id() + F.crc32(F.col("prefix")), F.lit(salt)))
        .groupBy("prefix", "s")
        .agg(F.min("depth").as("depth"), F.count(F.lit(1)).as("c"))
        .groupBy("prefix")
        .agg(F.min("depth").as("depth"), F.sum("c").as("count"))
    } else {
      exploded.groupBy("prefix").agg(F.min("depth").as("depth"), F.count(F.lit(1)).as("count"))
    }
  }

  /** Full IriTrie-equivalent statistics per segment prefix (reference
    * `NodeStats {own, desc, uniq_desc}`, `src/iri_trie.rs:21-26`):
    *   - own: occurrences of exactly this IRI,
    *   - desc: occurrences of strict descendants,
    *   - uniq_desc: distinct strict-descendant IRIs — exact
    *     `count_distinct` by default; HLL (`approx_count_distinct`) for
    *     web-scale corpora where the 100/1000 thresholds tolerate sketch error
    *     (SURVEY A2).
    *
    * Note: the aggregation key is the prefix, so `desc`/`uniq_desc` here count
    * all descendants *including* the exact-match IRI; the trie's strict
    * variants are recovered as `desc - own` / distinct-minus-self, which is
    * what [[prefixStats]] returns.
    */
  def prefixStats(iris: DataFrame, approxUnique: Boolean = false): DataFrame = {
    val exploded = iris
      .select(F.col("iri"), org.apache.spark.sql.graftshim.ColumnShim
        .column(SegPrefixesGen(org.apache.spark.sql.graftshim.ColumnShim
          .expression(F.col("iri"))))
        .as(Seq("pos", "prefix")))
      .select(F.col("prefix"), (F.col("pos") + 1).as("depth"), F.col("iri"))
    val uniq =
      if (approxUnique) F.approx_count_distinct(F.when(F.col("iri") =!= F.col("prefix"), F.col("iri")))
      else F.count_distinct(F.when(F.col("iri") =!= F.col("prefix"), F.col("iri")))
    exploded
      .groupBy("prefix")
      .agg(
        F.min("depth").as("depth"),
        F.sum(F.when(F.col("iri") === F.col("prefix"), 1L).otherwise(0L)).as("own"),
        F.sum(F.when(F.col("iri") =!= F.col("prefix"), 1L).otherwise(0L)).as("desc"),
        uniq.as("uniq_desc"))
  }

  /** Candidate expansion over the thresholded aggregate (reference
    * `infer_namespaces` + `infer_namespaces_aux`, `src/seg_tree.rs:66-155`).
    *
    * Candidates start as domain-level prefixes with count >= minNsSize. While
    * fewer than maxNs expansions have happened, the smallest candidate whose
    * suitable (>= minNsSize) children all fit in the maxNs budget is replaced by
    * those children.
    *
    * Intentional divergences from the reference, tolerated by the P/R gate:
    *   - the reference's comparator (`src/seg_tree.rs:178-194`) compares
    *     `children` against `size` (an evident bug) and treats equal
    *     (size, children) candidates as duplicates (BTreeSet semantics); we order
    *     totally by (size, suitableChildCount, namespace);
    *   - `children.len()` counts all children in the reference; we only know the
    *     suitable ones post-threshold (affects ordering only on exact size ties).
    *
    * @param counts collected prefix counts: must include every prefix with
    *               count >= minNsSize (any depth); rows below threshold are ignored
    *               except depth-1 rows, which feed the garbage list.
    * @return (inferred namespaces as (ns, size, Inference), garbage-collected
    *         domain prefixes i.e. depth-1 with count < minDomainOccurs)
    */
  def inferNamespaces(
      counts: Seq[PrefixCount],
      minNsSize: Long = MinNsSize,
      minDomainOccurs: Long = MinDomainOccurs,
      maxNs: Int = MaxNs
  ): (Seq[(String, Long, NsSource)], Seq[String]) = {
    val garbage = counts.filter(c => c.depth == 1 && c.count < minDomainOccurs).map(_.prefix)

    val suitable = counts.filter(_.count >= minNsSize)
    // children keyed by parent prefix (parent = one segment up)
    val childrenOf = mutable.Map.empty[String, mutable.ArrayBuffer[PrefixCount]]
    suitable.foreach { pc =>
      if (pc.depth > 1) {
        val path = segPath(pc.prefix)
        if (path.length >= 2) {
          val parent = path(path.length - 2)
          childrenOf.getOrElseUpdate(parent, mutable.ArrayBuffer()) += pc
        }
      }
    }

    final case class Cand(prefix: String, size: Long) {
      def suitableChildren: Seq[PrefixCount] =
        childrenOf.getOrElse(prefix, mutable.ArrayBuffer()).toSeq
    }
    implicit val ord: Ordering[Cand] =
      Ordering.by(c => (c.size, c.suitableChildren.size, c.prefix))

    val h = mutable.SortedSet.empty[Cand]
    suitable.filter(_.depth == 1).foreach(pc => h += Cand(pc.prefix, pc.count))

    var expanded = 0
    var added = true
    while (added && expanded < maxNs) {
      added = false
      // smallest candidate whose suitable children fit in the budget
      h.iterator
        .find { c =>
          val sc = c.suitableChildren
          sc.nonEmpty && sc.size + h.size <= maxNs
        }
        .foreach { parent =>
          h -= parent
          expanded -= 1
          parent.suitableChildren.foreach { child =>
            expanded += 1
            added = true
            h += Cand(child.prefix, child.count)
          }
        }
    }

    (h.toSeq.map(c => (c.prefix, c.size, NsSource.Inference: NsSource)), garbage)
  }

  /** How many unresolved IRIs tasks.json lists as examples. */
  val Examples = 10

  /** O6 diagnostic (reference logs example unresolved IRIs,
    * `src/iri_trie.rs:232-236`): a bounded sample of the still-unresolved set,
    * recorded into tasks.json so an operator can see WHAT is not resolving.
    */
  def sampleUnresolved(iris: DataFrame, n: Int = Examples): Seq[String] = {
    // one job over every partition, each task stopping after n rows, then
    // the first n in partition order — where `limit(n).collect()` scans one
    // partition and then scales up, a job per attempt
    val firstCol = iris.select(iris.columns.head).queryExecution.toRdd
    iris.sparkSession.sparkContext
      .runJob(firstCol, (it: Iterator[org.apache.spark.sql.catalyst.InternalRow]) =>
        it.take(n).map(_.getUTF8String(0).toString).toArray)
      .iterator.flatten.take(n).toSeq
  }

  /** Full distributed inference round: count, threshold, collect, expand.
    * Returns (inferred namespaces, #garbage domains).
    */
  def inferFromIris(
      iris: DataFrame,
      salt: Int = 0,
      minNsSize: Long = MinNsSize,
      minDomainOccurs: Long = MinDomainOccurs,
      maxNs: Int = MaxNs,
      countGarbage: Boolean = false
  ): (Seq[(String, Long, NsSource)], Long) = {
    val (inferred, nGarbage, _) =
      inferFromIrisWithCandidates(iris, salt, minNsSize, minDomainOccurs, maxNs, countGarbage)
    (inferred, nGarbage)
  }

  /** Like [[inferFromIris]] but also returns the collected above-threshold
    * candidate prefixes, from which [[nextCandidates]] derives the next
    * round's on the driver.
    */
  def inferFromIrisWithCandidates(
      iris: DataFrame,
      salt: Int = 0,
      minNsSize: Long = MinNsSize,
      minDomainOccurs: Long = MinDomainOccurs,
      maxNs: Int = MaxNs,
      countGarbage: Boolean = false,
      maxCollected: Int = MaxCollected
  ): (Seq[(String, Long, NsSource)], Long, Seq[PrefixCount]) = {
    val pc = prefixCounts(iris, salt)
    // collect only what expansion can ever read: prefixes at/above the
    // candidate threshold. GC bookkeeping (domains below minDomainOccurs) is
    // a diagnostic count — one extra full pass — off by default.
    val rows = pc
      .filter(F.col("count") >= minNsSize)
      .orderBy(F.col("count").desc, F.col("prefix"))
      .limit(maxCollected)
      .collect()
      .map(r => PrefixCount(r.getString(0), r.getInt(1), r.getLong(2)))
      .toSeq
    val nGarbage =
      if (countGarbage)
        pc.filter(F.col("depth") === 1 && F.col("count") < minDomainOccurs).count()
      else 0L
    val (inferred, _) = inferNamespaces(rows, minNsSize, minDomainOccurs, maxNs)
    (inferred, nGarbage, rows)
  }

  /** True when `ns` is a host-gated segment boundary: it ends in '/' or '#'
    * and [[segPrefixes]] emits that boundary (the namespace has a
    * `scheme://host` authority). For such a namespace and any IRI x,
    * `x.startsWith(ns)` exactly when `segPrefixes(x)` contains `ns`: the
    * boundaries and the host gate of x up to `ns.length` are those of `ns`.
    * Whether `segPrefixes` emits the last boundary of `ns` shows in any IRI
    * that extends `ns`, since its own output ends in the leaf `ns` either way.
    */
  def isSegBoundary(ns: String): Boolean =
    (ns.endsWith("/") || ns.endsWith("#")) && segPrefixes(ns + "x").contains(ns)

  /** Whether [[nextCandidates]] gives the next round's candidates exactly:
    * this round's collect was not truncated, so it holds every prefix at or
    * above the threshold, and every added namespace is a host-gated segment
    * boundary ([[isSegBoundary]]). Otherwise the next round counts again.
    */
  def nextRoundDerivable(
      candidates: Seq[PrefixCount],
      added: Seq[String],
      maxCollected: Int = MaxCollected
  ): Boolean =
    candidates.size < maxCollected && added.forall(isSegBoundary)

  /** The IRI occurrences that stay unresolved once the namespaces `added`
    * (each with its size, its count among its round's candidates) are
    * registered, from round 1's `occurrences` (every unresolved occurrence
    * its fold walked), without counting again (chilon knows what is left in
    * its IriTrie, `src/iri_trie.rs:223-243`). A candidate's count is the
    * occurrences it is a segment prefix of among those still unresolved in
    * its round. For a host-gated segment boundary N ([[isSegBoundary]])
    * those are exactly the occurrences N resolves, and each occurrence is
    * resolved by one added namespace in one round, so the sizes sum to the
    * occurrences resolved. None when some added namespace is no such
    * boundary: it may resolve occurrences its size does not count.
    */
  def leftUnresolved(occurrences: Long, added: Seq[(String, Long)]): Option[Long] =
    Option.when(added.forall { case (ns, _) => isSegBoundary(ns) })(
      occurrences - added.iterator.map(_._2).sum)

  /** The next round's candidates, from this round's and the namespaces it
    * added, without counting again (chilon removes the added namespaces'
    * subtrees from its IriTrie and bubbles the counts up,
    * `remove_prefixes`, `src/iri_trie.rs:223-243`).
    *
    * The unresolved set only shrinks, so a prefix below the threshold now
    * stays below it: the next candidates are a subset of `candidates`. An
    * IRI leaves the set when an added namespace N prefixes it, which for a
    * segment boundary N means N is one of its segment prefixes. So
    *   - a candidate that starts with some N loses every occurrence;
    *   - any other candidate P loses size(N) for each N with P among N's
    *     segment prefixes (P != N): every IRI under N has P as a segment
    *     prefix too. The added namespaces are prefix-free, so no occurrence
    *     is subtracted twice;
    *   - a candidate neither above nor below any N loses nothing: a leaf
    *     candidate `http://x.test/p` is not among the segment prefixes of
    *     `http://x.test/p/`, and no IRI under the latter equals it.
    * Exact under [[nextRoundDerivable]].
    *
    * @param added the added namespaces with their sizes (their counts among
    *              `candidates`)
    */
  def nextCandidates(
      candidates: Seq[PrefixCount],
      added: Seq[(String, Long)],
      minNsSize: Long
  ): Seq[PrefixCount] = {
    val lost = mutable.HashMap.empty[String, Long]
    for ((ns, size) <- added; p <- segPrefixes(ns) if p != ns)
      lost(p) = lost.getOrElse(p, 0L) + size
    candidates.iterator
      .filterNot(c => added.exists { case (ns, _) => c.prefix.startsWith(ns) })
      .map(c => c.copy(count = c.count - lost.getOrElse(c.prefix, 0L)))
      .filter(_.count >= minNsSize)
      .toVector
  }
}
