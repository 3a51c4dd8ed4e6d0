package graft

import graft.ns.Inference
import graft.ns.Inference.PrefixCount
import org.scalatest.funsuite.AnyFunSuite

/** Mirrors the reference's segment-tree conversion test (`src/seg_tree.rs:242-265`)
  * and the thresholded-inference semantics of `src/seg_tree.rs:66-155`
  * (fixtures per FIXTURES.md §4).
  */
class InferenceSpec extends AnyFunSuite {

  test("SegPrefixesGen generator == posexplode(segPrefixes UDF) (parity property)") {
    import graft.ns.Inference
    val spark = SparkSuite.spark
    import spark.implicits._
    val edge = Seq(
      "http://a.example.org/x/y/z", "https://h.io/p#frag", "http://h/",
      "http:///no-host/x", "no-scheme-at-all", "urn:isbn:12345",
      "http://host", "h+x-y.z://host/a/b", "1http://host/a",
      "http://höst.example/ä/ö#ü", "éxyz://host/a/b", "",
      "ftp://x/../y//z", "http://a/b#c#d", "a://b/", "://nohost/x",
      "http://unicode.example/路径/セグメント/x")
    val rand = (0 until 500).map { i =>
      val h = graft.extract.Synth.mix64(i.toLong)
      s"http://d${math.abs(h % 50)}.example.org/s${math.abs(h % 7)}/p$i" +
        (if (i % 5 == 0) "#f" else "")
    }
    val df = (edge ++ rand).toDF("iri")
    def rows(useGen: Boolean) =
      Inference.segExplode(df, useGenerator = useGen)
        .collect().map(r => (r.getInt(0), r.getString(1))).toVector.sorted
    val gen = rows(useGen = true)
    val udf = rows(useGen = false)
    assert(gen == udf)
    // and both equal the driver-side reference function
    val local = (edge ++ rand).flatMap(i =>
      Inference.segPrefixes(i).zipWithIndex.map { case (p, pos) => (pos, p) })
      .toVector.sorted
    assert(gen == local)
  }

  test("the scan's round-1 fold collects what the Spark aggregate collects (property)") {
    import org.scalacheck.{Gen, Prop, Test => Check}
    import org.apache.spark.sql.{functions => F}
    import graft.model.Kind
    import graft.ns.Registry
    import graft.summarize.Normalize
    val spark = SparkSuite.spark
    import spark.implicits._
    val cols = Seq("u1", "u2", "u3")
    // hosts with directories, '#'-namespaces, hostless and non-ASCII-scheme
    // IRIs, and a few hot leaves that reach the threshold themselves
    val genIri = Gen.frequency(
      6 -> (for { h <- Gen.choose(0, 3); d <- Gen.choose(0, 4); e <- Gen.choose(0, 9) }
        yield s"http://h$h.test/d$d/e$e"),
      2 -> Gen.choose(0, 2).map(h => s"http://o$h.test/onto#T"),
      2 -> Gen.oneOf("éxyz://host/a/b", "ü+x://h.test/p/q", "http://höst.test/ä/ö#ü",
        "http://unicode.test/路径/x"),
      1 -> Gen.oneOf("urn:isbn:12345", "no-scheme", "http://host"),
      2 -> Gen.oneOf("http://leaf.test/p", "http://leaf.test/q"))
    val genRow = Gen.listOfN(3, Gen.option(genIri)).map(_.map(_.orNull))
    val genCase = for {
      rows <- Gen.choose(20, 200).flatMap(Gen.listOfN(_, genRow))
      minNs <- Gen.choose(1, 12)
      maxCollected <- Gen.oneOf(1, 3, 8, 1000)
    } yield (rows, minNs.toLong, maxCollected)
    var truncated = 0
    var leaves = 0
    var nonAscii = 0
    // the fold counts the IRIs a triple's summary keys leave unresolved: a
    // row's three IRIs as subject, predicate and object under the empty
    // registry, a missing subject or object as a blank node
    def triples(rows: Seq[(String, String, String)]) = rows.map { case (a, b, c) =>
      (a, if (a == null) Kind.BLANK else Kind.IRI, b, c, if (c == null) Kind.BLANK else Kind.IRI,
        Option.empty[String])
    }.toDF("s", "sKind", "p", "o", "oKind", "oDt")
    val prop = Prop.forAllNoShrink(genCase) { case (rows, minNs, maxCollected) =>
      val tuples = rows.map { case Seq(a, b, c) => (a, b, c) }
      val df = tuples.toDF(cols: _*)
      val want = Inference.prefixCounts(
        df.select(F.explode(F.array(cols.map(F.col): _*)).as("iri")).filter(F.col("iri").isNotNull))
        .filter(F.col("count") >= minNs)
        .orderBy(F.col("count").desc, F.col("prefix"))
        .limit(maxCollected)
        .collect().map(r => PrefixCount(r.getString(0), r.getInt(1), r.getLong(2))).toVector
      val folded = Normalize.countRowsBy(triples(tuples), Nil, Some(Registry.empty),
        Some(Inference.PrefixFold(minNs, maxCollected))).prefixes.get
      val all = rows.flatten.filter(_ != null).flatMap(i => Inference.segPrefixes(i).toSeq)
      if (all.distinct.count(p => all.count(_ == p) >= minNs) > maxCollected) truncated += 1
      if (want.exists(_.prefix.startsWith("http://leaf.test/"))) leaves += 1
      if (want.exists(c => c.prefix.startsWith("é") || c.prefix.startsWith("ü"))) nonAscii += 1
      folded.candidates.contains(want) && folded.taskEntries.forall(_.isDefined)
    }
    val res = Check.check(Check.Parameters.default.withMinSuccessfulTests(30)
      .withInitialSeed(org.scalacheck.rng.Seed(11L)).withWorkers(1), prop)
    assert(res.passed, res.status)
    assert(truncated > 0 && leaves > 0 && nonAscii > 0, (truncated, leaves, nonAscii))

    // a task over its budget drops its map, and the fold gives no candidates
    val df = triples(Seq(("http://a.test/x", "http://b.test/y", null)))
    val over = Normalize.countRowsBy(df, Nil, Some(Registry.empty),
      Some(Inference.PrefixFold(1L, 10, budget = 0))).prefixes.get
    assert(over.candidates.isEmpty && over.taskEntries.contains(None), over)
  }

  test("nextCandidates: exact next-round candidates after the added namespaces") {
    val minNs = 1000L
    val ns = "http://hot.example.net/ns/"
    val added = Seq(ns -> 4800L)
    // parent domain candidate: 5000 - 4800 under the added child is below
    // the threshold, and the child itself resolves -> nothing is left
    val covered = Seq(PrefixCount("http://hot.example.net/", 1, 5000), PrefixCount(ns, 2, 4800))
    assert(Inference.nextRoundDerivable(covered, added.map(_._1)))
    assert(Inference.nextCandidates(covered, added, minNs).isEmpty)
    // an unresolved candidate outside the added subtree stays as it was
    val cold = PrefixCount("http://cold.example.io/", 1, 2000)
    assert(Inference.nextCandidates(covered :+ cold, added, minNs) == Seq(cold))
    // a parent with enough mass outside the added child stays, with the rest
    val fatParent = Seq(PrefixCount("http://hot.example.net/", 1, 9000), PrefixCount(ns, 2, 4800))
    assert(Inference.nextCandidates(fatParent, added, minNs) ==
      Seq(PrefixCount("http://hot.example.net/", 1, 4200)))
    // a truncated collect may miss candidates: the next round counts again
    val truncated = Seq.fill(Inference.MaxCollected)(covered.head)
    assert(!Inference.nextRoundDerivable(truncated, added.map(_._1)))
    // a leaf candidate beside the namespace that extends it loses nothing:
    // no IRI under http://x.test/p/ is http://x.test/p
    val leaf = Seq(PrefixCount("http://x.test/", 1, 8000), PrefixCount("http://x.test/p", 2, 3000),
      PrefixCount("http://x.test/p/", 2, 4000))
    assert(Inference.nextCandidates(leaf, Seq("http://x.test/p/" -> 4000L), minNs) ==
      Seq(PrefixCount("http://x.test/", 1, 4000), PrefixCount("http://x.test/p", 2, 3000)))
    // added namespaces that are not host-gated segment boundaries
    for (bad <- Seq("http://x.test/p", "urn:x/", "http:///x/", "http://host", "1http://h/"))
      assert(!Inference.nextRoundDerivable(leaf, Seq(bad)), bad)
    for (good <- Seq("http://h/", "http://x.test/p/", "http://o.test/onto#", "http://a/b#c#"))
      assert(Inference.isSegBoundary(good), good)
  }

  test("nextCandidates equals a Spark recount of what is still unresolved (property)") {
    import org.scalacheck.{Gen, Prop, Test => Check}
    import org.apache.spark.sql.{functions => F}
    import graft.ns.Registry
    val spark = SparkSuite.spark
    import spark.implicits._
    val minNs = 20L
    // occurrences under a directory, over a few local names
    // every eleventh IRI is the directory itself
    def under(dir: String, n: Int): Seq[String] =
      (0 until n).map(i => if (i % 11 == 10) dir else dir + "e" + (i % 7))
    val genCount = Gen.oneOf(Gen.choose(3, 15), Gen.choose(20, 60)) // below / above
    // a host with children above and below the threshold, one level deeper
    // under its first child, and sub-threshold tail directories that may
    // sum past it: the host and that child can register after their children
    def genTree(h: String) = for {
      kids <- Gen.listOfN(3, genCount)
      grand <- Gen.listOfN(2, genCount)
      tails <- Gen.choose(0, 8)
      deepTails <- Gen.choose(0, 6)
    } yield kids.zipWithIndex.flatMap { case (n, j) => under(s"${h}c$j/", n) } ++
      grand.zipWithIndex.flatMap { case (n, j) => under(s"${h}c0/g$j/", n) } ++
      (0 until tails).flatMap(k => under(s"${h}t$k/", 6)) ++
      (0 until deepTails).flatMap(k => under(s"${h}c0/t$k/", 6))
    // a '#'-namespace, and a hot predicate whose whole IRI is a leaf
    // candidate next to a namespace that extends it. A leaf that is no
    // valid URI (a broken %-escape) is proposed but never registered, so it
    // stays a candidate while the namespace beside it is added
    def genHash(h: String) = genCount.map(n => under(s"${h}onto#", n))
    def genLeaf(h: String) = for {
      a <- genCount; b <- genCount
      (leaf, ns) <- Gen.oneOf(("p", "p/"), ("p", "p1/"), ("p%4", "p%41/"))
    } yield Seq.fill(a)(h + leaf) ++ under(h + ns, b)
    val genCorpus = for {
      trees <- Gen.choose(1, 3)
      parts <- Gen.sequence[List[Seq[String]], Seq[String]](
        (0 until trees).map(i => genTree(s"http://h$i.test/")) ++
          Seq(genHash("http://o.test/"), genLeaf("http://x.test/"),
            Gen.const(under("http://dbpedia.org/resource/", 30))))
      maxNs <- Gen.choose(3, 8)
    } yield (parts.flatten, maxNs)
    def recount(iris: org.apache.spark.sql.DataFrame, reg: Registry): Set[PrefixCount] =
      Inference.prefixCounts(iris.filter(
        graft.summarize.Normalize.resolveCol(F.col("iri"), reg).isNull))
        .filter(F.col("count") >= minNs).collect()
        .map(r => PrefixCount(r.getString(0), r.getInt(1), r.getLong(2))).toSet
    var derivedRounds = 0
    var leafRounds = 0
    var deepest = 0
    val prop = Prop.forAllNoShrink(genCorpus) { case (corpus, maxNs) =>
      val iris = corpus.toDF("iri")
      var reg = Registry.community()
      var cands = recount(iris, reg)
      var round = 1
      var exact = true
      var go = true
      while (go && round <= 4) {
        val (inferred, _) = Inference.inferNamespaces(cands.toSeq, minNs, 5L, maxNs)
        val (next, added) = reg.withNamespaces(inferred)
        go = added.nonEmpty
        if (go) {
          val truth = recount(iris, next)
          if (Inference.nextRoundDerivable(cands.toSeq, added)) {
            val sizes = inferred.collect { case (ns, n, _) if added.contains(ns) => ns -> n }
            exact &&= Inference.nextCandidates(cands.toSeq, sizes, minNs).toSet == truth
            derivedRounds += 1
            if (cands.exists(c => added.exists(ns =>
                ns.startsWith(c.prefix) && !Inference.segPrefixes(ns).contains(c.prefix))))
              leafRounds += 1
            deepest = math.max(deepest, round + 1)
          }
          reg = next
          cands = truth
          round += 1
        }
      }
      exact
    }
    val res = Check.check(Check.Parameters.default.withMinSuccessfulTests(25)
      .withInitialSeed(org.scalacheck.rng.Seed(7L)).withWorkers(1), prop)
    assert(res.passed, res.status)
    assert(derivedRounds >= 25 && leafRounds > 0 && deepest >= 4,
      (derivedRounds, leafRounds, deepest))
  }

  test("the occurrences left after inference: round 1's total less the added sizes equals a recount (property)") {
    import org.scalacheck.{Gen, Prop, Test => Check}
    import graft.model.{Kind, Triple}
    import graft.pipeline.Pipeline
    import graft.ns.Registry
    import graft.summarize.Normalize
    val spark = SparkSuite.spark
    import spark.implicits._
    val minNs = 20L
    // every eleventh IRI is the directory itself
    def under(dir: String, n: Int): Seq[String] =
      (0 until n).map(i => if (i % 11 == 10) dir else dir + "e" + (i % 7))
    val genCount = Gen.oneOf(Gen.choose(3, 15), Gen.choose(20, 60))
    // a host with children above and below the threshold and tail
    // directories that may sum past it, so the host can register in a
    // later round; a '#'-namespace; a hot leaf whose namespace, when it
    // registers, also resolves IRIs it does not count (no segment boundary)
    def genTree(h: String) = for {
      kids <- Gen.listOfN(3, genCount)
      tails <- Gen.choose(0, 8)
    } yield kids.zipWithIndex.flatMap { case (n, j) => under(s"${h}c$j/", n) } ++
      (0 until tails).flatMap(k => under(s"${h}t$k/", 6))
    def genLeaf(h: String) = for { a <- genCount; b <- Gen.choose(0, 4) }
      yield Seq.fill(a)(h + "p") ++ Seq.fill(b)(h + "pq")
    val genCorpus = for {
      trees <- Gen.choose(1, 3)
      parts <- Gen.sequence[List[Seq[String]], Seq[String]](
        (0 until trees).map(i => genTree(s"http://h$i.test/")) ++
          Seq(genCount.map(n => under("http://o.test/onto#", n)), genLeaf("http://x.test/"),
            Gen.const(under("http://dbpedia.org/resource/", 30))))
      maxNs <- Gen.choose(3, 8)
      maxCollected <- Gen.oneOf(2, 1000)
      seed <- Gen.choose(0L, 1000L)
    } yield (new scala.util.Random(seed).shuffle(parts.flatten), maxNs, maxCollected)
    // three IRIs a row: every fifth subject is a blank node and every
    // fourth object a literal, whose IRIs no pass counts
    def triples(corpus: Seq[String]) = corpus.grouped(3).filter(_.size == 3).zipWithIndex.map {
      case (Seq(a, b, c), i) =>
        val (s, sKind) = if (i % 5 == 0) ("_:b", Kind.BLANK) else (a, Kind.IRI)
        val (o, oKind) = if (i % 4 == 0) ("lit", Kind.LIT_PLAIN) else (c, Kind.IRI)
        Triple(s, sKind, b, o, oKind, None, None, "f")
    }.toSeq.toDF()
    var predicted = 0
    var unpredicted = 0
    var laterRounds = 0
    var nothingLeft = 0
    val prop = Prop.forAllNoShrink(genCorpus) { case (corpus, maxNs, maxCollected) =>
      val t = triples(corpus)
      val r0 = Registry.community()
      val fold = Inference.PrefixFold(minNs, maxCollected)
      val folded = Normalize.countRowsBy(t, Nil, Some(r0), Some(fold)).prefixes.get
      val cfg = Pipeline.Config(outDir = "", minNsSize = minNs, minDomainOccurs = 5L,
        maxNs = maxNs, maxCollected = maxCollected)
      val (reg, hk, added) = Pipeline.runInference(t, r0, cfg,
        Vector.newBuilder[Pipeline.StageMetrics], folded.candidates)
      val total = folded.occurrences.get
      val left = Inference.leftUnresolved(total, added)
      if (left.isEmpty) unpredicted += 1 else predicted += 1
      if (hk.rounds > 2) laterRounds += 1
      if (left.contains(0L)) nothingLeft += 1
      total == Normalize.unresolvedIris(t, r0).count() &&
        left.forall(_ == Normalize.unresolvedIris(t, reg).count())
    }
    val res = Check.check(Check.Parameters.default.withMinSuccessfulTests(25)
      .withInitialSeed(org.scalacheck.rng.Seed(5L)).withWorkers(1), prop)
    assert(res.passed, res.status)
    assert(predicted >= 10 && unpredicted > 0 && laterRounds > 0,
      (predicted, unpredicted, laterRounds, nothingLeft))
  }

  test("segPrefixes matches seg_tree.rs from_test segment set") {
    val iris = Seq(
      "http://www.example.com/path/1/more",
      "http://www.example.pt/2",
      "http://www.example.com/path/2"
    )
    val allPrefixes = iris.flatMap(Inference.segPrefixes).toSet
    // the reference test asserts segments {http://www.example.com/,
    // http://www.example.pt/, path/, 1/, 2, more}; our prefixes are the same
    // nodes as absolute paths
    assert(allPrefixes == Set(
      "http://www.example.com/",
      "http://www.example.com/path/",
      "http://www.example.com/path/1/",
      "http://www.example.com/path/1/more",
      "http://www.example.com/path/2",
      "http://www.example.pt/",
      "http://www.example.pt/2"
    ))
  }

  test("segPrefixes host-gates the first boundary (scheme slashes accumulate)") {
    assert(Inference.segPrefixes("http://a.org/x").head == "http://a.org/")
    assert(Inference.segPrefixes("https://a.org#frag") === Array("https://a.org#", "https://a.org#frag"))
  }

  test("segPrefixes of hostless IRI yields the IRI itself") {
    assert(Inference.segPrefixes("urn:isbn:12345") === Array("urn:isbn:12345"))
  }

  test("segPrefixes of boundary-terminated IRI has no duplicate leaf") {
    assert(Inference.segPrefixes("http://a.org/x/") ===
      Array("http://a.org/", "http://a.org/x/"))
  }

  test("inference: domain replaced by suitable children fitting the budget (FIXTURES §4)") {
    // 1500 × big/a, 800 × big/b, 150 × mid/x, 50 × rare/y
    val counts = Seq(
      PrefixCount("http://big.example.org/", 1, 2300),
      PrefixCount("http://big.example.org/a/", 2, 1500),
      PrefixCount("http://big.example.org/b/", 2, 800),
      PrefixCount("http://mid.example.net/", 1, 150),
      PrefixCount("http://mid.example.net/x/", 2, 150),
      PrefixCount("http://rare.example.io/", 1, 50),
      PrefixCount("http://rare.example.io/y/", 2, 50)
    )
    val (inferred, garbage) = Inference.inferNamespaces(counts)
    assert(inferred.map(_._1) == Seq("http://big.example.org/a/"))
    assert(inferred.head._2 == 1500)
    assert(garbage == Seq("http://rare.example.io/"))
  }

  test("inference: domain kept when no suitable child") {
    val counts = Seq(
      PrefixCount("http://big.example.org/", 1, 2300),
      PrefixCount("http://big.example.org/a/", 2, 900),
      PrefixCount("http://big.example.org/b/", 2, 800)
    )
    val (inferred, _) = Inference.inferNamespaces(counts)
    assert(inferred.map(_._1) == Seq("http://big.example.org/"))
  }

  test("inference: expansion respects MAX_NS budget") {
    // domain with 6 suitable children: 6 + 0 > 5 -> cannot expand, domain kept
    val children = (1 to 6).map(i => PrefixCount(s"http://x.org/c$i/", 2, 1000L))
    val counts = PrefixCount("http://x.org/", 1, 6000L) +: children
    val (inferred, _) = Inference.inferNamespaces(counts)
    assert(inferred.map(_._1) == Seq("http://x.org/"))

    // 4 suitable children fit (4 + 0 <= 5)
    val children4 = (1 to 4).map(i => PrefixCount(s"http://y.org/c$i/", 2, 1000L))
    val counts4 = PrefixCount("http://y.org/", 1, 4000L) +: children4
    val (inferred4, _) = Inference.inferNamespaces(counts4)
    assert(inferred4.map(_._1).toSet == children4.map(_.prefix).toSet)
  }

  test("inference: two domains, smaller expanded first") {
    val counts = Seq(
      PrefixCount("http://small.org/", 1, 2000),
      PrefixCount("http://small.org/a/", 2, 2000),
      PrefixCount("http://large.org/", 1, 9000),
      PrefixCount("http://large.org/z/", 2, 9000)
    )
    val (inferred, _) = Inference.inferNamespaces(counts)
    // both expandable: each has 1 suitable child, budget allows both (1+2<=5 each)
    assert(inferred.map(_._1).toSet == Set("http://small.org/a/", "http://large.org/z/"))
  }

  test("inference: deeper expansion cascades") {
    val counts = Seq(
      PrefixCount("http://deep.org/", 1, 5000),
      PrefixCount("http://deep.org/a/", 2, 5000),
      PrefixCount("http://deep.org/a/b/", 3, 5000)
    )
    val (inferred, _) = Inference.inferNamespaces(counts)
    assert(inferred.map(_._1) == Seq("http://deep.org/a/b/"))
  }

  test("prefix-stats equivalence fixture (iri_trie.rs:251-304)") {
    // inserting http://example.org/, .../path1, .../path2:
    // own(http://example.org/) = 1, desc = 2 (strict descendants), uniq_desc = 2
    val iris = Seq("http://example.org/", "http://example.org/path1", "http://example.org/path2")
    val p = "http://example.org/"
    val own = iris.count(_ == p)
    val desc = iris.count(i => i != p && i.startsWith(p))
    val uniq = iris.filter(i => i != p && i.startsWith(p)).distinct.size
    assert(own == 1 && desc == 2 && uniq == 2)
  }

  test("sampleUnresolved: at most 10 unresolved IRIs, the same from every call") {
    val spark = SparkSuite.spark
    import spark.implicits._
    import org.apache.spark.sql.{functions => F}
    val registry = graft.ns.Registry.community()
    val iris = ((0 until 200).map(i => s"http://dbpedia.org/resource/R$i") ++
      (0 until 60).map(i => s"http://nowhere$i.invalid/x$i")).toDF("iri").repartition(5)
    val unresolved = iris.filter(
      graft.summarize.Normalize.resolveCol(F.col("iri"), registry).isNull)
    val first = Inference.sampleUnresolved(unresolved)
    assert(first.size == 10)
    assert(first.forall(registry.resolve(_).isEmpty))
    assert(Inference.sampleUnresolved(unresolved) == first)
    assert(Inference.sampleUnresolved(unresolved, n = 3) == first.take(3))
    assert(Inference.sampleUnresolved(unresolved.filter(F.lit(false))).isEmpty)
  }
}
