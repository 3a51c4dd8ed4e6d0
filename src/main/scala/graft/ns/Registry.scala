package graft.ns

import java.net.URI
import scala.collection.immutable.TreeMap

/** Provenance of a namespace registration (reference `src/ns_trie.rs:8-14`). */
sealed abstract class NsSource(val name: String) extends Serializable
object NsSource {
  case object User extends NsSource("user")
  case object Community extends NsSource("community")
  case object GraphFile extends NsSource("graph_file")
  case object Inference extends NsSource("inference")
  def fromString(s: String): NsSource = s match {
    case "user"       => User
    case "community"  => Community
    case "graph_file" => GraphFile
    case "inference"  => Inference
  }
}

final case class NsEntry(alias: String, source: NsSource) extends Serializable

/** The namespace registry: prefix -> (alias, source), with longest-prefix
  * resolution compiled into a broadcastable [[PrefixTrie]].
  *
  * Driver-side construction mirrors the reference's insert discipline:
  *   - inserts are processed shortest-namespace-first (`src/prefixes/community.rs:48-61`);
  *   - an exact duplicate namespace is skipped;
  *   - with `allowSubNs = false` (always, cf. `src/main.rs:79`) a namespace that
  *     extends an already-registered one is skipped, so the registry is prefix-free.
  */
final class Registry private (
    val byNs: TreeMap[String, NsEntry],
    val trie: PrefixTrie[NsEntry]
) extends Serializable {

  /** Byte-packed executor-side trie for the codegen'd resolver (built on
    * demand, driver-side; rides inside the serialized expression).
    */
  @transient lazy val utf8Trie: Utf8PrefixTrie[NsEntry] =
    Utf8PrefixTrie(byNs.map { case (k, v) => (k, v) })

  /** alias -> (namespace, source); aliases are unique by construction. */
  def aliasMap: Map[String, (String, NsSource)] =
    byNs.map { case (ns, e) => e.alias -> (ns, e.source) }

  def size: Int = byNs.size

  /** Longest-prefix namespace resolution — the engine's hot scalar function
    * (reference `src/normalize.rs:547-564`). Empty-prefix matches are misses.
    */
  def resolve(iri: String): Option[(String, NsEntry)] = trie.resolve(iri)

  def resolveAlias(iri: String): Option[String] = resolve(iri).map(_._2.alias)

  def withNamespaces(
      inferred: Seq[(String, Long, NsSource)],
      allowSubNs: Boolean = false
  ): (Registry, Seq[String]) = Registry.addNamespaces(this, inferred, allowSubNs)

  /** JSON for `all-prefixes.json` (reference `src/ns_trie.rs:34-48`):
    * `{alias: [namespace, source]}` sorted by alias.
    */
  def toJson: String = {
    val items = aliasMap.toSeq.sortBy(_._1).map { case (alias, (ns, src)) =>
      s"""  ${Registry.jstr(alias)}: [${Registry.jstr(ns)}, ${Registry.jstr(src.name)}]"""
    }
    items.mkString("{\n", ",\n", "\n}")
  }
}

object Registry {

  def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"'           => "\\\""
      case '\\'          => "\\\\"
      case '\n'          => "\\n"
      case '\r'          => "\\r"
      case '\t'          => "\\t"
      case c if c < ' '  => f"\\u${c.toInt}%04x"
      case c             => c.toString
    } + "\""

  /** Vendored community prefix map (replaces the linkml prefixmaps download,
    * reference `src/prefixes/community.rs:16-17,86-97`; this sandbox has zero
    * egress so the canonical merged.csv cannot be fetched at build time). The
    * resource carries a 400+-pair curated subset in the same
    * (status, prefix, namespace) shape — W3C/LOV/prefix.cc vocabularies,
    * linked-data hubs, the OBO Foundry PURL block, LOC/SPAR/QUDT/SPIN/SWAP
    * vocabularies, EU/LOD thesauri, bioportal ontologies, and the wikidata
    * statement family — including the documented bad rows merged.csv is known
    * to contain, so [[fixPv]] (the reference's `fix_pv`,
    * `src/prefixes/community.rs:99-124`) is exercised for real: canonical-only,
    * the walmart/amazon and linkedmdb-movie pairs, and `#.*#` namespaces.
    * Dropping in the full merged.csv (converted to this TSV) needs no code
    * change. Deliberate curation choice vs merged.csv: the bare
    * `obo: http://purl.obolibrary.org/obo/` row is omitted — under the
    * engine's prefix-free insert discipline (shortest-namespace-first,
    * allowSubNs=false) it would subsume and drop every per-ontology
    * `<ID>: .../obo/<ID>_` entry, collapsing all OBO resolution to one alias.
    */
  val communityResource = "/graft/ns/community-prefixes.tsv"

  def communityRows(): Seq[(String, String, String)] = {
    val in = getClass.getResourceAsStream(communityResource)
    require(in != null, s"missing resource $communityResource")
    val src = scala.io.Source.fromInputStream(in, "UTF-8")
    try src.getLines()
      .filterNot(l => l.isEmpty || l.startsWith("#"))
      .map { l => val Array(st, p, ns) = l.split("\t", 3); (st, p, ns) }
      .toVector
    finally src.close()
  }

  /** The reference's `fix_pv` filters (`src/prefixes/community.rs:99-124`). */
  def fixPv(rows: Seq[(String, String, String)]): Seq[(String, String)] =
    rows
      .filter { case (status, _, _) => status == "canonical" }
      .filterNot { case (_, p, ns) => p.contains("walmart") && ns.contains("amazon") }
      .filterNot { case (_, p, ns) =>
        p.contains("movie") && ns.contains("data.linkedmdb.org/resource/movie")
      }
      .filterNot { case (_, _, ns) => HashHashRe.findFirstIn(ns).isDefined }
      .map { case (_, p, ns) => (p, ns) }

  private val HashHashRe = "#.*#".r

  val communityPairs: Seq[(String, String)] = fixPv(communityRows())

  /** The registry of [[communityPairs]], built once per JVM: a registry is
    * immutable, so every run shares this one and its lazily built tries.
    */
  def community(): Registry = communityRegistry

  private lazy val communityRegistry = fromPairs(communityPairs, NsSource.Community)

  def empty: Registry = new Registry(TreeMap.empty, PrefixTrie.empty)

  /** Build from (alias, namespace) pairs, shortest-namespace-first with
    * subsumption skip (reference `vec_to_trie`, `src/prefixes/community.rs:48-84`).
    */
  def fromPairs(
      pairs: Seq[(String, String)],
      source: NsSource,
      allowSubNs: Boolean = false
  ): Registry = {
    val sorted = pairs.sortBy { case (_, ns) => (ns.length, ns) }
    var byNs = TreeMap.empty[String, NsEntry]
    // incremental driver-side trie: the subsumption check per insert is
    // O(|ns|), so registry construction is linear in total namespace length
    // (the packed broadcast form is built once at the end)
    val mut = new MutablePrefixTrie[NsEntry]
    sorted.foreach { case (alias, ns) =>
      mut.longestPrefix(ns, mustBeTerminal = true) match {
        case Some((existing, _)) if existing == ns       => // duplicate, keep first
        case Some((existing, _))
            if existing.nonEmpty && !allowSubNs          => // contained in existing
        case _ =>
          val e = NsEntry(alias, source)
          byNs += (ns -> e)
          mut.insert(ns, e)
      }
    }
    new Registry(byNs, mut.pack)
  }

  /** Add inferred namespaces (reference `add_namespaces`, `src/ns_trie.rs:71-135`).
    * Returns (new registry, namespaces actually added).
    */
  def addNamespaces(
      reg: Registry,
      inferred: Seq[(String, Long, NsSource)],
      allowSubNs: Boolean = false
  ): (Registry, Seq[String]) = {
    var byNs = reg.byNs
    var aliases: Map[String, (String, NsSource)] = reg.aliasMap
    // one O(registry) seed of the mutable trie, then O(|ns|) per insert
    // (the r2 shape re-packed the full trie after every accepted insert)
    val mut = new MutablePrefixTrie[NsEntry]
    reg.byNs.foreach { case (k, v) => mut.insert(k, v) }
    var dirty = false
    val added = Vector.newBuilder[String]
    inferred.foreach { case (ns, _, source) =>
      hostOf(ns) match {
        case None => // unparseable or hostless IRI: skipped with a warning in the reference
        case Some(_) =>
          val hit = mut.longestPrefix(ns, mustBeTerminal = true)
          val blocked = hit.exists { case (existing, _) =>
            existing == ns || (existing.nonEmpty && !allowSubNs)
          }
          if (!blocked) {
            genAlias(ns, aliases).foreach { alias =>
              val e = NsEntry(alias, source)
              byNs += (ns -> e)
              aliases += (alias -> (ns, source))
              mut.insert(ns, e)
              dirty = true
              added += ns
            }
          }
      }
    }
    (new Registry(byNs, if (dirty) mut.pack else reg.trie), added.result())
  }

  /** Insert a file-declared prefix (reference `handle_pref_decls`,
    * `src/prefixes.rs:249-277`): keep the declared alias when free, generate
    * one when empty or taken; skip when the namespace is already covered.
    * A namespace without a host, for which [[genAlias]] has none, takes its
    * taken declared alias plus the smallest free counter from 2 (`a2`,
    * `a3`, ...), so every declaration with a non-empty alias is registered
    * whatever order the files are merged in.
    */
  def addDeclared(reg: Registry, ns: String, declAlias: String): Registry =
    addDeclaredAll(reg, Seq(ns -> declAlias))

  /** Batch [[addDeclared]]: one mutable-trie seed + one pack for the whole
    * declaration list (same per-decl semantics, O(registry + decls) total).
    */
  def addDeclaredAll(reg: Registry, decls: Seq[(String, String)]): Registry = {
    if (decls.isEmpty) return reg // nothing to add: no trie to rebuild
    var byNs = reg.byNs
    var aliases = reg.aliasMap
    val mut = new MutablePrefixTrie[NsEntry]
    reg.byNs.foreach { case (k, v) => mut.insert(k, v) }
    var dirty = false
    decls.foreach { case (ns, declAlias) =>
      val covered = mut.longestPrefix(ns, mustBeTerminal = true)
        .exists { case (p, _) => p.nonEmpty }
      if (!covered) {
        val alias =
          if (declAlias.nonEmpty && !aliases.contains(declAlias)) Some(declAlias)
          else genAlias(ns, aliases).orElse(Option.when(declAlias.nonEmpty)(
            Iterator.from(2).map(declAlias + _).find(!aliases.contains(_)).get))
        alias.foreach { a =>
          val e = NsEntry(a, NsSource.GraphFile)
          byNs += (ns -> e)
          aliases += (a -> (ns, NsSource.GraphFile))
          mut.insert(ns, e)
          dirty = true
        }
      }
    }
    if (dirty) new Registry(byNs, mut.pack) else reg
  }

  private[ns] def parseUri(s: String): Option[URI] =
    try Some(new URI(s)) catch { case _: Exception => None }

  /** Host of an absolute IRI, or None (reference gates on `Url::has_host`). */
  def hostOf(iri: String): Option[String] =
    parseUri(iri).flatMap(u => Option(u.getHost)).filter(_.nonEmpty)

  private def lastPathSegment(u: URI): Option[String] =
    Option(u.getPath).map(_.split('/').filter(_.nonEmpty)).flatMap(_.lastOption)

  /** Generate a fresh alias for a namespace (reference `gen_alias`,
    * `src/ns_trie.rs:138-207`): first host label; on conflict a 5-char
    * abbreviation + TLD, then + last path segment, then a numeric suffix.
    *
    * Intentional divergence from the reference (documented, P/R-tolerated):
    * on a TLD clash the reference appends the *conflicting* namespace's TLD
    * (`src/ns_trie.rs:178` uses `confl_tld`) — an apparent bug; we append the
    * candidate's own TLD, which is the evident intent.
    */
  def genAlias(ns: String, aliases: Map[String, (String, NsSource)]): Option[String] = {
    val uri = parseUri(ns).getOrElse(return None)
    val host = Option(uri.getHost).filter(_.nonEmpty).getOrElse(return None)
    val labels = host.split('.')
    val first = labels.head
    val tld = if (labels.length > 1) Some(labels.last) else None
    val abbrv = first.take(5)

    aliases.get(first) match {
      case None => Some(first)
      case Some((conflNs, _)) =>
        if (conflNs == ns) return None
        val conflTld = hostOf(conflNs).map(_.split('.').last)
        if (tld.isDefined && conflTld.isDefined && tld != conflTld) {
          val cand = abbrv + tld.get
          if (!aliases.contains(cand)) return Some(cand)
        }
        val lastSeg = lastPathSegment(uri)
        val conflLastSeg = parseUri(conflNs).flatMap(lastPathSegment)
        if (lastSeg.isDefined && conflLastSeg.isDefined && lastSeg != conflLastSeg) {
          val cand = abbrv + lastSeg.get
          if (!aliases.contains(cand)) return Some(cand)
        }
        var count = 2
        var cand = abbrv + count
        while (aliases.contains(cand)) { count += 1; cand = abbrv + count }
        Some(cand)
    }
  }
}
