package graft

import graft.ns.{NsSource, Registry}
import org.scalatest.funsuite.AnyFunSuite

class RegistrySpec extends AnyFunSuite {

  test("community registry resolves longest prefix") {
    val reg = Registry.community()
    assert(reg.resolveAlias("http://dbpedia.org/resource/Ada_Lovelace").contains("dbr"))
    assert(reg.resolveAlias("http://dbpedia.org/ontology/birthPlace").contains("dbo"))
    assert(reg.resolveAlias("https://schema.org/worksFor").contains("schema"))
    assert(reg.resolveAlias("http://nowhere.example.net/x").isEmpty)
  }

  test("insert skips duplicate namespace, keeps first alias (community.rs:62-70)") {
    val reg = Registry.fromPairs(
      Seq("a" -> "http://x.org/", "b" -> "http://x.org/"), NsSource.Community)
    assert(reg.size == 1)
    assert(reg.resolveAlias("http://x.org/y").contains("a"))
  }

  test("insert skips sub-namespace when allowSubNs=false (community.rs:71-78)") {
    val reg = Registry.fromPairs(
      Seq("long" -> "http://x.org/deep/", "short" -> "http://x.org/"), NsSource.Community)
    assert(reg.size == 1)
    assert(reg.resolveAlias("http://x.org/deep/z").contains("short"))
  }

  test("gen_alias: first host label (ns_trie.rs:144-161)") {
    assert(Registry.genAlias("http://example.org/", Map.empty).contains("example"))
    assert(Registry.genAlias("http://www.example.com/", Map.empty).contains("www"))
  }

  test("gen_alias: exact-duplicate namespace yields None (ns_trie.rs:164-167)") {
    val aliases = Map("example" -> ("http://example.org/", NsSource.Community: NsSource))
    assert(Registry.genAlias("http://example.org/", aliases).isEmpty)
  }

  test("gen_alias: TLD disambiguation on conflict (ns_trie.rs:170-183)") {
    val aliases = Map("example" -> ("http://example.org/", NsSource.Community: NsSource))
    // divergence from reference bug documented in Registry.genAlias: own TLD used
    assert(Registry.genAlias("http://example.com/", aliases).contains("exampcom"))
  }

  test("gen_alias: path-segment disambiguation (ns_trie.rs:186-197)") {
    val aliases = Map(
      "example" -> ("http://example.org/a/", NsSource.Community: NsSource),
      "examporg" -> ("http://example.org/taken/", NsSource.Community: NsSource))
    // same TLD -> falls to last-path-segment rule
    assert(Registry.genAlias("http://example.org/b/", aliases).contains("exampb"))
  }

  test("gen_alias: numeric fallback (ns_trie.rs:199-206)") {
    val aliases = Map(
      "example" -> ("http://example.org/a/", NsSource.Community: NsSource),
      "examp2" -> ("http://example.org/x/", NsSource.Community: NsSource))
    // same TLD, same last segment -> numeric; 2 taken -> 3
    val got = Registry.genAlias("http://example.org/a/", aliases)
    assert(got.isEmpty) // exact duplicate ns -> None
    val got2 = Registry.genAlias("http://example.org/b/", Map(
      "example" -> ("http://example.org/b/x", NsSource.Community),
      "exampb" -> ("http://other.org/", NsSource.Community),
      "examp2" -> ("http://other2.org/", NsSource.Community)))
    assert(got2.contains("examp3"))
  }

  test("addNamespaces: skips contained, hostless, and duplicates (ns_trie.rs:71-135)") {
    val reg = Registry.community()
    val (reg2, added) = reg.withNamespaces(Seq(
      ("http://dbpedia.org/resource/Category:", 5000L, NsSource.Inference), // contained in dbr
      ("http://dbpedia.org/resource/", 5000L, NsSource.Inference), // exact duplicate
      ("urn:isbn:", 5000L, NsSource.Inference), // no host
      ("http://kgraft.example.net/res/", 5000L, NsSource.Inference) // fresh
    ))
    assert(added == Seq("http://kgraft.example.net/res/"))
    assert(reg2.resolveAlias("http://kgraft.example.net/res/Thing").contains("kgraft"))
    assert(reg2.size == reg.size + 1)
  }

  test("alias uniqueness holds under arbitrary sequences of additions (property)") {
    val hosts = Seq("alpha.org", "alpha.com", "beta.net", "alpha.beta.org", "gamma.io")
    // seeded pseudo-random exploration via scalacheck's generator machinery
    val genPicks = org.scalacheck.Gen.listOfN(20, org.scalacheck.Gen.choose(0, hosts.size - 1))
    (1 to 50).foreach { trial =>
      val seed = org.scalacheck.rng.Seed(trial.toLong)
      val picks = genPicks(org.scalacheck.Gen.Parameters.default, seed).getOrElse(Nil)
      var reg = Registry.community()
      picks.zipWithIndex.foreach { case (p, i) =>
        val ns = s"http://${hosts(p)}/p$i/"
        reg = reg.withNamespaces(Seq((ns, 1000L, NsSource.Inference)))._1
      }
      val aliases = reg.aliasMap.keys.toSeq
      assert(aliases.distinct.size == aliases.size, s"trial $trial")
    }
  }

  test("adding inferred namespaces keeps every resolved IRI's (ns, alias) (property)") {
    import org.scalacheck.{Gen, Prop, Test => Check}
    // R0: the community registry plus file declarations
    val r0 = Registry.addDeclaredAll(Registry.community(), Seq(
      "http://decl.example.org/vocab/" -> "dv", "https://data.example.com/id/" -> "did"))
    val bases = r0.byNs.keys.toVector
    // IRIs in and around registered namespaces, some past the 200-grapheme
    // cap (plain and combining-mark graphemes) and capped as the RDF path does
    val genSuffix = Gen.oneOf(
      Gen.alphaNumStr.map(_.take(12)), Gen.const("x" * 300), Gen.const("e\u0301" * 250),
      Gen.alphaNumStr.map(s => "sub/" + s.take(6) + "/" + "y" * 250))
    val genIri = for {
      b <- Gen.oneOf(bases); cut <- Gen.choose(0, 3); suffix <- genSuffix
    } yield graft.extract.Canonical.graphemeTruncate(b.dropRight(cut) + suffix)
    // inferred candidates: extensions of registered namespaces (blocked),
    // their parents (added, and shorter than what they contain), fresh hosts
    val genNs = Gen.oneOf(
      for (b <- Gen.oneOf(bases); s <- Gen.alphaNumStr) yield b + s.take(6) + "/",
      Gen.oneOf(bases).map(b => b.take(b.lastIndexOf('/', b.length - 2) + 1)),
      Gen.alphaLowerStr.map(h => s"http://${h.take(8)}x.example.net/ns/"))
    var resolved = 0
    val prop = Prop.forAll(Gen.listOfN(6, genNs), Gen.listOfN(40, genIri)) { (nss, iris) =>
      val (r1, _) = r0.withNamespaces(nss.map(ns => (ns, 1000L, NsSource.Inference)))
      iris.forall(iri => r0.resolve(iri).forall { hit => resolved += 1; r1.resolve(iri).contains(hit) })
    }
    val res = Check.check(Check.Parameters.default.withMinSuccessfulTests(200)
      .withInitialSeed(org.scalacheck.rng.Seed(42L)).withWorkers(1), prop)
    assert(res.passed, res.status)
    assert(resolved > 1000)
  }

  test("vendored community map: fix_pv filters and coverage (community.rs:99-124)") {
    val rows = Registry.communityRows()
    val pairs = Registry.communityPairs
    // the resource carries the documented merged.csv artifacts...
    assert(rows.exists { case (st, p, ns) => st == "canonical" && p == "walmart" && ns.contains("amazon") })
    assert(rows.exists { case (_, p, ns) => p == "movie" && ns.contains("resource/movie") })
    assert(rows.exists { case (_, _, ns) => ns.contains("#latitude#") })
    assert(rows.exists { case (st, _, _) => st != "canonical" })
    // ...and fix_pv removes exactly those classes
    assert(!pairs.exists { case (p, _) => p == "walmart" || p == "movie" })
    assert(!pairs.exists { case (_, ns) => "#.*#".r.findFirstIn(ns).isDefined })
    assert(pairs.size >= 1000)
    val reg = Registry.community()
    assert(reg.size >= 985)
    // r5 tranche 4 resolves (bulk MIRIAM remainder + OBO Foundry remainder)
    assert(reg.resolveAlias("http://purl.obolibrary.org/obo/MONDO_0005015").contains("MONDO"))
    assert(reg.resolveAlias("http://purl.obolibrary.org/obo/MAXO_0000004").contains("MAXO"))
    assert(reg.resolveAlias("http://identifiers.org/metabolights/MTBLS1").contains("metabolights"))
    assert(reg.resolveAlias("http://identifiers.org/snomedct/284196006").contains("snomedct"))
    assert(reg.resolveAlias("http://identifiers.org/panther.pathway/P00024").contains("panther.pathway"))
    // r5 tranche 3 resolves (identifiers.org MIRIAM, EU publications office,
    // LOC vocabularies, CIDOC CRM extensions, SAREF extensions, scholarly ids)
    assert(reg.resolveAlias("http://identifiers.org/cellosaurus/CVCL_0030").contains("cellosaurus"))
    assert(reg.resolveAlias("http://identifiers.org/hgnc.symbol/BRCA1").contains("hgnc.symbol"))
    assert(reg.resolveAlias("http://data.europa.eu/nuts/code/DE212").contains("nuts"))
    assert(reg.resolveAlias("http://id.loc.gov/vocabulary/carriers/nc").contains("carriers"))
    assert(reg.resolveAlias("https://saref.etsi.org/saref4bldg/Building").contains("s4bldg"))
    assert(reg.resolveAlias("https://openalex.org/W2741809807").contains("openalex"))
    assert(reg.resolveAlias("http://sws.geonames.org/2950159/").contains("geonames"))
    // r5 tranche 2 resolves (Darwin Core, RDA registry, LOC authorities)
    assert(reg.resolveAlias("http://rs.tdwg.org/dwc/terms/scientificName").contains("dwc"))
    assert(reg.resolveAlias("http://rdaregistry.info/Elements/u/P60049").contains("rdau"))
    assert(reg.resolveAlias("http://id.loc.gov/authorities/names/n79021164").contains("lcnaf"))
    assert(reg.resolveAlias("http://purl.obolibrary.org/obo/FBbt_00003624").contains("FBbt"))
    // r5 additions resolve (identifiers.org collections, OBO legacy, LOV)
    assert(reg.resolveAlias("http://identifiers.org/rnacentral/URS0000000001").contains("rnacentral"))
    assert(reg.resolveAlias("http://identifiers.org/arxiv/1703.10593").contains("arxiv"))
    assert(reg.resolveAlias("http://purl.obolibrary.org/obo/EHDA_1").contains("EHDA"))
    assert(reg.resolveAlias("https://w3id.org/tree#Node").contains("tree"))
    assert(reg.resolveAlias("http://id.loc.gov/authorities/genreForms/gf2014026049").contains("lcgft"))
    // r3 additions resolve (LOC bibframe, QUDT, SPAR, wikidata statement family)
    assert(reg.resolveAlias("http://id.loc.gov/ontologies/bibframe/Work").contains("bf"))
    assert(reg.resolveAlias("http://qudt.org/vocab/unit/KiloGM").contains("unit"))
    assert(reg.resolveAlias("http://www.wikidata.org/prop/statement/P31").contains("ps"))
    assert(reg.resolveAlias("http://purl.obolibrary.org/obo/CHEMINF_000000").contains("CHEMINF"))
    // well-known namespaces resolve out of the box (no inference needed)
    assert(reg.resolveAlias("http://www.w3.org/2004/02/skos/core#broader").contains("skos"))
    assert(reg.resolveAlias("http://purl.org/dc/terms/title").contains("dcterms"))
    assert(reg.resolveAlias("http://purl.obolibrary.org/obo/GO_0008150").contains("GO"))
    assert(reg.resolveAlias("http://www.wikidata.org/prop/direct/P31").contains("wdt"))
    // fixture-pinned aliases stay stable (oracle CASE mirrors these)
    assert(reg.resolveAlias("https://schema.org/worksFor").contains("schema"))
    assert(reg.resolveAlias("http://www.wikidata.org/entity/Q1").contains("wd"))
    assert(reg.resolveAlias("http://www.w3.org/2001/XMLSchema#integer").contains("xsd"))
  }

  test("all-prefixes.json shape") {
    val json = Registry.community().toJson
    assert(json.contains(""""dbr": ["http://dbpedia.org/resource/", "community"]"""))
    assert(json.trim.startsWith("{") && json.trim.endsWith("}"))
  }

  test("incremental fromPairs equals the rebuild-per-insert model (property)") {
    // the r2 implementation re-packed the full trie after every accepted
    // insert; the incremental build must produce the identical registry
    def model(pairs: Seq[(String, String)], allowSubNs: Boolean): Seq[(String, String)] = {
      val sorted = pairs.sortBy { case (_, ns) => (ns.length, ns) }
      var byNs = scala.collection.immutable.TreeMap.empty[String, String]
      def trie = graft.ns.PrefixTrie(byNs)
      sorted.foreach { case (alias, ns) =>
        trie.longestPrefix(ns, mustBeTerminal = true) match {
          case Some((existing, _)) if existing == ns                => ()
          case Some((existing, _)) if existing.nonEmpty && !allowSubNs => ()
          case _ => byNs += (ns -> alias)
        }
      }
      byNs.toSeq
    }
    val segs = Vector("a", "b", "ab", "x/", "x/y/", "deep/", "deep/er/")
    (1 to 60).foreach { trial =>
      var seed = org.scalacheck.rng.Seed(trial.toLong)
      def nextInt(bound: Int): Int = {
        val (v, s2) = seed.long; seed = s2
        ((v % bound + bound) % bound).toInt
      }
      val pairs = (0 until (2 + nextInt(12))).map { i =>
        val ns = "http://h" + nextInt(3) + ".org/" + (0 until nextInt(3)).map(_ => segs(nextInt(segs.size))).mkString
        (s"al$i", ns)
      }
      Seq(true, false).foreach { allow =>
        val reg = Registry.fromPairs(pairs, NsSource.Community, allow)
        val want = model(pairs, allow)
        assert(reg.byNs.toSeq.map { case (ns, e) => (ns, e.alias) } == want,
          s"trial=$trial allow=$allow pairs=$pairs")
      }
    }
  }

  test("addDeclaredAll equals sequential addDeclared semantics") {
    val base = Registry.fromPairs(Seq("ex" -> "http://ex.org/ns/"), NsSource.Community)
    val decls = Seq(
      "http://one.org/a/" -> "one",
      "http://ex.org/ns/sub/" -> "covered",   // covered by ex -> skipped
      "http://two.org/b/" -> "",              // empty alias -> generated
      "http://three.org/c/" -> "one",         // alias taken -> generated
      "http://one.org/a/" -> "dup"            // now covered by first decl
    ).sortBy { case (ns, _) => (ns.length, ns) }
    val batch = Registry.addDeclaredAll(base, decls)
    var seq = base
    decls.foreach { case (ns, al) => seq = Registry.addDeclared(seq, ns, al) }
    assert(batch.byNs == seq.byNs)
    assert(batch.aliasMap.keySet == seq.aliasMap.keySet)
    assert(batch.aliasMap.contains("one") && batch.aliasMap.contains("two") && batch.aliasMap.contains("three"))
    assert(!batch.byNs.contains("http://ex.org/ns/sub/"))
  }

  test("addDeclaredAll: a hostless namespace whose alias is taken gets the alias plus the smallest free counter") {
    val base = Registry.fromPairs(Seq("a" -> "urn:y:", "a2" -> "urn:z:"), NsSource.Community)
    val reg = Registry.addDeclaredAll(base,
      Seq("urn:xx:" -> "a", "urn:ww:" -> "a", "urn:vv:" -> ""))
    assert(reg.byNs("urn:xx:").alias == "a3" && reg.byNs("urn:ww:").alias == "a4")
    // no alias declared and none to generate without a host: not registered
    assert(!reg.byNs.contains("urn:vv:"))
  }

  test("a registry holds at most maxSize namespaces, whichever way it grows") {
    val pairs = Seq("a" -> "http://a.test/", "b" -> "http://b.test/", "c" -> "http://c.test/")
    val base = Registry.fromPairs(pairs, NsSource.Community, maxSize = 2)
    assert(base.byNs.keySet == Set("http://a.test/", "http://b.test/"))
    val two = Registry.fromPairs(pairs.take(1), NsSource.Community)
    val declared = Registry.addDeclaredAll(two, Seq("http://d.test/" -> "d", "http://e.test/" -> "e"),
      maxSize = 2)
    assert(declared.byNs.keySet == Set("http://a.test/", "http://d.test/"))
    assert(declared.resolveAlias("http://e.test/x").isEmpty)
    val (inferred, added) = Registry.addNamespaces(two,
      Seq(("http://f.test/", 5L, NsSource.Inference), ("http://g.test/", 4L, NsSource.Inference)),
      maxSize = 2)
    assert(added == Seq("http://f.test/") && inferred.size == 2)
  }

  test("registry construction is linear-ish in pair count (20k synthetic pairs)") {
    val pairs = (0 until 20000).map(i => (s"p$i", s"http://host$i.example.org/ns$i/"))
    val t0 = System.nanoTime()
    val reg = Registry.fromPairs(pairs, NsSource.Community)
    val ms = (System.nanoTime() - t0) / 1000000
    assert(reg.size == 20000)
    // r2 rebuild-per-insert took minutes at this size; generous bound so a
    // noisy host can't flake the suite while a quadratic regression still fails
    assert(ms < 30000, s"20k-pair registry build took ${ms}ms")
    assert(reg.resolveAlias("http://host12345.example.org/ns12345/x").contains("p12345"))
  }
}
