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

  test("roundsExhausted: sound fixed-point early exit") {
    import graft.ns.{Inference, Registry, NsSource}
    val minNs = 1000L
    val reg = Registry.fromPairs(
      Seq("hot" -> "http://hot.example.net/ns/"), NsSource.Inference)
    val added = Seq("http://hot.example.net/ns/" -> 4800L)
    // parent domain candidate: unresolved, but its exact next-round count
    // (5000 - 4800 under the added child) is below threshold -> dead
    val covered = Seq(
      Inference.PrefixCount("http://hot.example.net/", 1, 5000),
      Inference.PrefixCount("http://hot.example.net/ns/", 2, 4800))
    assert(Inference.roundsExhausted(covered, added, reg, minNs))
    // an unresolved candidate that STAYS above threshold blocks the exit
    val open = covered :+ Inference.PrefixCount("http://cold.example.io/", 1, 2000)
    assert(!Inference.roundsExhausted(open, added, reg, minNs))
    // so does a parent with enough residual mass outside the added child
    val fatParent = Seq(
      Inference.PrefixCount("http://hot.example.net/", 1, 9000),
      Inference.PrefixCount("http://hot.example.net/ns/", 2, 4800))
    assert(!Inference.roundsExhausted(fatParent, added, reg, minNs))
    // a truncated collection is never exhausted (unseen candidates may exist)
    val truncated = Seq.fill(Inference.MaxCollected)(covered.head)
    assert(!Inference.roundsExhausted(truncated, added, reg, minNs))
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
