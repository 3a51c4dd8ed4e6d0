package graft.summarize

import graft.model.{Kind, TermOrdinals}
import graft.ns.{Inference, Registry}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, Row, functions => F}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.types.StructType
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Triple normalization + namespace summarization — the reference's Stage 3
  * (chilon_rs `src/normalize.rs`).
  *
  * The pipelines count each triple's summary key in per-task hash maps
  * merged on the driver: the key is computed from the row's term columns
  * in the task ([[SummaryKey]], the registry's longest-prefix trie, no
  * Catalyst plan), counted by the fold that rides a pass
  * ([[PassFold]]: the RDF scan, the pages snapshot's write, or
  * [[countRowsBy]]'s job) and decoded once per distinct key on the driver
  * ([[fromKeyCounts]]); inference's namespaces re-fold only the rows they
  * resolve ([[refold]]). [[normalize]] and [[summarize]] are the same rule
  * as Catalyst expressions (the codegen'd `resolveNs` lookup, reference
  * `src/trie.rs:257-296`, and `CASE WHEN`s on the kind tags), the
  * relational group-count for streaming and SQL consumers (reference
  * `TripleFreq`, `src/normalize.rs:24-59`).
  */
/** Resolved (alias, namespace-prefix) pair of an IRI. */
final case class NsPair(alias: String, ns: String)

object Normalize {

  /** Fixed literal group namespaces (reference `src/normalize.rs:333-345`). */
  val PlainLitGroup: (String, String) = ("xsd", "http://www.w3.org/TR/xmlschema11-2/")
  val LangLitGroup: (String, String) = ("rdf", "http://www.w3.org/1999/02/22-rdf-syntax-ns#")

  val Unknown = "UNKNOWN"
  val Blank = "BLANK"

  /** resolveNs(iri) -> struct(alias, ns) or null — the hot scalar function,
    * closing over the broadcast registry trie (SURVEY P4/J3: the idiomatic
    * broadcast map-side form of the prefix join `triples ⋈ namespaces`).
    *
    * UDF variant kept as the reference implementation; the hot path uses the
    * codegen'd [[graft.ns.ResolveNs]] expression (SURVEY §4.3).
    */
  def resolveUdf(bc: Broadcast[Registry]) =
    F.udf { (iri: String) =>
      if (iri == null) None
      else bc.value.resolve(iri).map { case (ns, e) => NsPair(e.alias, ns) }
    }

  /** Codegen'd resolver column (stays inside whole-stage codegen). */
  def resolveCol(iri: Column, registry: Registry): Column =
    graft.ns.ResolveNs.column(iri, registry)

  /** Adds group-key and (alias, ns) pair columns for s/p/o.
    *
    * Output adds: s_ns, p_ns, o_ns (string group keys), is_datatype, and
    * s_pair/p_pair/o_pair struct(alias, ns) columns (null for BLANK/UNKNOWN,
    * fixed groups for literals) feeding the used-groups aggregate.
    */
  def normalize(triples: DataFrame, bc: Broadcast[Registry], ignoreUnknown: Boolean = false): DataFrame = {
    val withCols = withKeys(triples, bc.value)
    if (ignoreUnknown) {
      // reference --ignore-unknown drops the whole triple when any position is
      // an unresolved IRI (src/normalize.rs:463-469)
      withCols.filter(F.col("s_ns") =!= Unknown && F.col("p_ns") =!= Unknown && F.col("o_ns") =!= Unknown)
    } else withCols
  }

  /** [[normalize]] without the row filter, against a driver-side registry.
    * Each resolved struct feeds a key and a pair column, so the structs are
    * projected first and each lookup runs once per term.
    */
  private def withKeys(triples: DataFrame, reg: Registry): DataFrame = {
    def pairCol(alias: Column, ns: Column): Column =
      F.struct(alias.as("alias"), ns.as("ns"))
    def pair(r: Column): Column = pairCol(r.getField("alias"), r.getField("ns"))
    // the resolved struct(alias, ns), or null, of the subject, the
    // predicate, and the object's IRI or a typed literal's datatype
    val resolved = Seq(
      resolveCol(F.col("s"), reg),
      resolveCol(F.col("p"), reg),
      F.when(F.col("oKind") === Kind.IRI, resolveCol(F.col("o"), reg))
        .when(F.col("oKind") === Kind.LIT_TYPED, resolveCol(F.col("oDt"), reg))
        .otherwise(F.lit(null)))
    val names = Seq("_sr", "_pr", "_or")
    val Seq(sr, pr, or) = names.map(F.col)
    val keys = Seq(
      F.when(F.col("sKind") === Kind.BLANK, Blank)
        .otherwise(F.coalesce(sr.getField("alias"), F.lit(Unknown))).as("s_ns"),
      F.coalesce(pr.getField("alias"), F.lit(Unknown)).as("p_ns"),
      F.when(F.col("oKind") === Kind.BLANK, Blank)
        .when(F.col("oKind") === Kind.LIT_PLAIN, PlainLitGroup._1)
        .when(F.col("oKind") === Kind.LIT_LANG, LangLitGroup._1)
        .otherwise(F.coalesce(or.getField("alias"), F.lit(Unknown))).as("o_ns"),
      F.col("oKind").isin(Kind.LIT_PLAIN, Kind.LIT_LANG, Kind.LIT_TYPED).as("is_datatype"))
    triples
      .select(F.col("*") +: resolved.zip(names).map { case (c, n) => c.as(n) }: _*)
      .select(triples.columns.toSeq.map(F.col) ++ keys ++ Seq(
        pair(sr).as("s_pair"),
        pair(pr).as("p_pair"),
        F.when(F.col("oKind") === Kind.LIT_PLAIN,
            pairCol(F.lit(PlainLitGroup._1), F.lit(PlainLitGroup._2)))
          .when(F.col("oKind") === Kind.LIT_LANG,
            pairCol(F.lit(LangLitGroup._1), F.lit(LangLitGroup._2)))
          .otherwise(pair(or)).as("o_pair")): _*)
  }

  /** The core summary group-count (reference `TripleFreq::add`,
    * `src/normalize.rs:34-46`): low-cardinality keys, so map-side combine
    * collapses hot-namespace skew before the shuffle.
    */
  def summarize(normalized: DataFrame): DataFrame =
    normalized
      .groupBy("s_ns", "p_ns", "o_ns", "is_datatype")
      .agg(F.count(F.lit(1)).as("occurs"))

  /** Merge summaries by summing per-group counts. Summary counts are
    * ADDITIVE over disjoint triple sets, so with a frozen registry
    * `summarize(A ∪ B) == mergeSummaries(summarize(A), summarize(B))` —
    * the algebra behind incremental Stage-C maintenance
    * ([[graft.pipeline.Pipeline.incrementalSummary]]): a new crawl segment
    * only ever aggregates ITS OWN triples; the merge input is two
    * summary-sized relations (hundreds of rows), never the corpus.
    */
  def mergeSummaries(prev: DataFrame, delta: DataFrame): DataFrame =
    prev.unionByName(delta)
      .groupBy("s_ns", "p_ns", "o_ns", "is_datatype")
      .agg(F.sum("occurs").as("occurs"))

  /** Deterministic reified-statement ids in lexicographic order (reference
    * BTreeMap iteration order + `#t%04d`, `src/normalize.rs:48-59,640-641`).
    *
    * The unpartitioned window (single-partition WindowExec warning) is
    * intentional and safe: its input is the SUMMARY, whose cardinality is the
    * namespace-pair group space — hundreds of rows at any corpus size, never
    * O(corpus).
    */
  def withStatementIds(summary: DataFrame, minOccurs: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy("s_ns", "p_ns", "o_ns", "is_datatype")
    summary
      .filter(F.col("occurs") >= minOccurs)
      .withColumn("stmt_id", F.format_string("#t%04d", F.row_number().over(w)))
  }

  /** Exact row multiplicities of a relation with few DISTINCT rows, with no
    * exchange: each task counts its rows in a local hash map keyed by the
    * codegen'd projection's `UnsafeRow` (copied only when the key is new),
    * and the driver merges the per-task maps as tasks finish, so it holds
    * one merged map, never one per task. One job with one stage, where
    * `groupBy(all).count()` pays a partial aggregate, a shuffle, a final
    * aggregate and AQE's second job; the merged map is as large as the
    * distinct-row space, so this is for summary-sized outputs only.
    */
  private[graft] def countRows(df: DataFrame): Map[Row, Long] =
    countRowsBy(df, Seq(df.columns.toSeq)).maps.head

  /** [[countRowsBy]]'s result: one merged map per projection (then the
    * summary keys, when counted), the rows of each partition of the input,
    * by partition index, and what its prefix fold found, when it was given
    * one.
    */
  private[graft] final case class Counted(maps: Seq[Map[Row, Long]], partitionRows: Seq[Long],
      prefixes: Option[Inference.FoldedPrefixes])

  /** [[countRows]] of several projections of `df` (each a list of its
    * columns) in one job, one map per projection: the merged maps are as
    * large as each projection's distinct-row space, not their product. With
    * `keys`, `df` is a triple table and the same tasks also count its
    * summary keys under that registry, computed in the task ([[SummaryKey]]),
    * and with `prefixes` the segment prefixes of the IRIs it leaves
    * unresolved ([[Inference.PrefixMap]], merged as they arrive). Each
    * partition's row count comes from the same job: a [[PassFold]] whose
    * rows the job drops. Only the columns it counts are read.
    */
  private[graft] def countRowsBy(df: DataFrame, projections: Seq[Seq[String]],
      keys: Option[Registry] = None, prefixes: Option[Inference.PrefixFold] = None): Counted = {
    val cols = (projections.flatten ++ keys.fold(Seq.empty[String])(_ => TermOrdinals.Columns)).distinct
    val read = if (cols.size == df.columns.length) df else df.select(cols.map(F.col): _*)
    val fold = new PassFold(read.queryExecution.toRdd, read.schema, projections, keys, prefixes)
    df.sparkSession.sparkContext.runJob(fold.rows, (rows: Iterator[InternalRow]) => rows.foreach(_ => ()))
    fold.counted
  }

  /** One task's counts of `UnsafeRow` keys; a key is copied only when new. */
  private[graft] final class KeyCounts {
    private val counts = new java.util.HashMap[UnsafeRow, Array[Long]]()
    def add(key: UnsafeRow): Unit = {
      val n = counts.get(key)
      if (n == null) counts.put(key.copy(), Array(1L)) else n(0) += 1
    }
    /** The counts with each key as a Scala `Row` of `schema`. */
    def toRows(schema: StructType): Array[(Row, Long)] = {
      val toRow = CatalystTypeConverters.createToScalaConverter(schema)
      counts.asScala.iterator.map { case (k, n) => (toRow(k).asInstanceOf[Row], n(0)) }.toArray
    }
  }

  /** Fused Stage-C aggregation: summary rows, used groups and blank/unknown
    * flags from ONE single-stage job ([[foldKeys]]). It needs no exchange
    * because its output is bounded by the group space, not by the corpus:
    * the keys are the summary signature and the object's kind, so each
    * task's map and the driver's merged map hold a few hundred keys at any
    * input size, and the groups come from the registry on the driver. The
    * fold counts every row; `ignoreUnknown` is a predicate on the key
    * columns, so it is applied to the merged keys on the driver
    * ([[fromKeyCounts]]).
    */
  def summarizeWithGroups(
      triples: DataFrame,
      bc: Broadcast[Registry],
      ignoreUnknown: Boolean = false
  ): (Seq[graft.model.SummaryRow], Seq[(String, String)], Boolean, Boolean) =
    fromKeyCounts(foldKeys(triples, bc.value), bc.value, ignoreUnknown)

  /** Merged counts of the summary keys ([[SummaryKey.KeySchema]]) of
    * `triples` under `reg`, keyed in the tasks ([[SummaryKey]]).
    */
  private[graft] def foldKeys(triples: DataFrame, reg: Registry): Map[Row, Long] =
    countRowsBy(triples, Nil, Some(reg)).maps.head

  /** Summary rows (sorted), used groups and blank/unknown flags from key
    * counts merged under `reg`. With `ignoreUnknown` the keys with an
    * UNKNOWN position are dropped first (reference --ignore-unknown,
    * src/normalize.rs:463-469), and the groups and flags come from the kept
    * keys only.
    */
  private[graft] def fromKeyCounts(
      counts: Map[Row, Long],
      reg: Registry,
      ignoreUnknown: Boolean
  ): (Seq[graft.model.SummaryRow], Seq[(String, String)], Boolean, Boolean) = {
    val nsOf = reg.aliasMap
    def group(alias: String): Option[(String, String)] =
      if (alias == Blank || alias == Unknown) None else Some((alias, nsOf(alias)._1))
    val summary = mutable.Map.empty[(String, String, String, Boolean), Long]
    val groups = mutable.SortedSet.empty[(String, String)]
    var blank = false
    var unknown = false
    counts.foreach { case (r, n) =>
      val key = (r.getString(0), r.getString(1), r.getString(2), r.getBoolean(3))
      val hasUnknown = key._1 == Unknown || key._2 == Unknown || key._3 == Unknown
      if (!(ignoreUnknown && hasUnknown)) {
        summary(key) = summary.getOrElse(key, 0L) + n
        groups ++= group(key._1) ++ group(key._2)
        groups ++= (r.getByte(4) match {
          case Kind.LIT_PLAIN => Some(PlainLitGroup)
          case Kind.LIT_LANG => Some(LangLitGroup)
          case _ => group(key._3)
        })
        if (key._1 == Blank || key._3 == Blank) blank = true
        if (hasUnknown) unknown = true
      }
    }
    val summaryRows = summary.toSeq
      .map { case ((s, p, o, dt), n) => graft.model.SummaryRow(s, p, o, dt, n) }
      .sortBy(r => (r.s_ns, r.p_ns, r.o_ns, r.is_datatype))
    (summaryRows, groups.toSeq, blank, unknown)
  }

  /** The IRI in term position "s", "p" or "o" of a triple, or null when
    * that term is a blank node or a literal.
    */
  private[graft] def iriCol(position: String): Column = position match {
    case "s" => F.when(F.col("sKind") === Kind.IRI, F.col("s"))
    case "p" => F.col("p")
    case "o" => F.when(F.col("oKind") === Kind.IRI, F.col("o"))
  }

  /** True when some key holds an IRI no namespace resolves: an UNKNOWN
    * subject or predicate, or an UNKNOWN object that is not a literal's
    * datatype. These are exactly the IRIs inference counts
    * ([[graft.pipeline.Pipeline.runInference]] explodes s, p and IRI
    * objects, never datatypes), so with none of them its first round would
    * count an empty set.
    */
  private[graft] def hasUnresolvedIri(counts: Map[Row, Long]): Boolean =
    unresolvedPositions(counts).nonEmpty

  /** The term columns ("s", "p", "o") in which some key holds an unresolved
    * IRI, in the sense of [[hasUnresolvedIri]].
    */
  private[graft] def unresolvedPositions(counts: Map[Row, Long]): Seq[String] =
    Seq("s", "p", "o").zipWithIndex.collect {
      case (c, i) if counts.keysIterator.exists(r =>
        r.getString(i) == Unknown && (i < 2 || !r.getBoolean(3))) => c
    }

  /** The IRIs of `triples` that `registry` does not resolve, from the term
    * `positions` (all three by default), one row per occurrence in term
    * order within a row (the reference inserts only registry misses into
    * its IriTrie, `src/prefixes.rs:193-207`).
    */
  private[graft] def unresolvedIris(
      triples: DataFrame,
      registry: Registry,
      positions: Seq[String] = Seq("s", "p", "o")
  ): DataFrame =
    triples
      .select(F.explode(F.array(positions.map(iriCol): _*)).as("iri"))
      .filter(F.col("iri").isNotNull)
      .filter(resolveCol(F.col("iri"), registry).isNull)

  /** Moves key counts to registry `after` from the registry it extends by
    * the namespaces `added` and nothing else. Re-folds only the rows where
    * some position's code under `after` is an added namespace
    * ([[SummaryKey]]; s, p, o or a typed literal's datatype): every other
    * term resolves under `after` exactly as before — adding namespaces
    * never changes an IRI the registry already resolves
    * (`Registry.addNamespaces` blocks sub-namespaces), and an IRI that an
    * added namespace resolves was UNKNOWN before — so the other rows keep
    * their keys. Each re-folded row leaves its old key and joins its new
    * one; the old key is the new one with every position holding an added
    * namespace's alias put back to UNKNOWN.
    *
    * With `sample` > 0 the same job also takes the first `sample` IRIs of
    * `triples` that `after` leaves unresolved, as
    * [[Inference.sampleUnresolved]] over [[unresolvedIris]] takes them, from
    * the positions where `counts` holds an unresolved IRI (an IRI the
    * registry before resolves stays resolved, so the other positions hold
    * none), read off the codes the key walk already computed; each task
    * stops sampling at `sample`. Otherwise it samples nothing.
    */
  private[graft] def refold(
      triples: DataFrame,
      counts: Map[Row, Long],
      added: Seq[String],
      after: Registry,
      sample: Int = 0
  ): (Map[Row, Long], Seq[String]) = {
    val terms = triples.select(TermOrdinals.Columns.map(F.col): _*)
    val keys = SummaryKey(after, terms.schema)
    val hit = keys.codesOf(added.toSet)
    val positions =
      if (sample > 0) unresolvedPositions(counts).map(Seq("s", "p", "o").indexOf).toArray
      else Array.empty[Int]
    val rdd = terms.queryExecution.toRdd
    val moved = new LongCounts
    val taken = new Array[Array[String]](rdd.getNumPartitions)
    triples.sparkSession.sparkContext.runJob(rdd,
      (rows: Iterator[InternalRow]) => {
        val walk = keys.walk()
        val touched = new LongCounts
        val examples = mutable.ArrayBuffer.empty[String]
        rows.foreach { r =>
          val k = walk.key(r)
          if (walk.touches(hit)) touched.add(k)
          var i = 0
          while (i < positions.length && examples.size < sample) {
            val iri = walk.unresolved(positions(i))
            if (iri != null) examples += iri.toString
            i += 1
          }
        }
        (touched.result, examples.toArray)
      },
      (i: Int, res: ((Array[Long], Array[Long]), Array[String])) => {
        moved.addAll(res._1)
        taken(i) = res._2
      })
    val addedAliases = added.flatMap(after.byNs.get).map(_.alias).toSet
    def oldKey(key: Row): Row = {
      val v = key.toSeq.toArray
      val oIsIri = key.getByte(4) == Kind.IRI || key.getByte(4) == Kind.LIT_TYPED
      for (i <- 0 to 2 if (i < 2 || oIsIri) && addedAliases(key.getString(i))) v(i) = Unknown
      Row.fromSeq(v.toSeq)
    }
    val merged = mutable.HashMap.empty[Row, Long] ++= counts
    val (ks, ns) = moved.result
    ks.indices.foreach { j =>
      val newKey = keys.decode(ks(j))
      val n = ns(j)
      val old = oldKey(newKey)
      val left = merged.getOrElse(old, 0L) - n
      require(left >= 0, s"re-fold moves $n rows out of key $old, which holds fewer")
      if (left == 0) merged -= old else merged(old) = left
      merged(newKey) = merged.getOrElse(newKey, 0L) + n
    }
    (merged.toMap, taken.iterator.flatten.take(sample).toSeq)
  }

  /** Distinct (alias, ns) groups actually used + blank/unknown flags
    * (reference `Groups`, `src/normalize.rs:140-151,316-361`).
    */
  def usedGroups(normalized: DataFrame): (Seq[(String, String)], Boolean, Boolean) = {
    val pairs = normalized
      .select(F.explode(F.array(F.col("s_pair"), F.col("p_pair"), F.col("o_pair"))).as("g"))
      .filter(F.col("g.alias").isNotNull)
      .select("g.alias", "g.ns")
      .distinct()
      .collect()
      .map(r => (r.getString(0), r.getString(1)))
      .sorted
      .toSeq
    val flags = normalized
      .agg(
        F.max(F.col("s_ns") === Blank || F.col("o_ns") === Blank).as("blank"),
        F.max(F.col("s_ns") === Unknown || F.col("p_ns") === Unknown || F.col("o_ns") === Unknown)
          .as("unknown")
      )
      .collect()(0)
    (pairs, Option(flags.get(0)).exists(_ == true), Option(flags.get(1)).exists(_ == true))
  }
}
