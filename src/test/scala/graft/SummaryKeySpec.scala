package graft

import graft.model.{Kind, Triple}
import graft.ns.{Inference, NsSource, Registry}
import graft.pipeline.RdfPipeline
import graft.rdf.TripleRows
import graft.summarize.Normalize
import org.apache.spark.sql.{DataFrame, functions => F}
import org.apache.spark.sql.graftshim.ColumnShim
import org.scalacheck.{Gen, Prop, Test => Check}
import org.scalatest.funsuite.AnyFunSuite

/** The summary keys and the IRI cap as Catalyst projections: the oracles of
  * the row functions the folds and the scan run in their tasks.
  */
object SummaryKeysOracle {

  /** The summary keys (`SummaryKey.KeySchema`) of every triple under `reg`, after the
    * columns `carry`, as `Normalize.normalize` projects them.
    */
  def summaryKeys(triples: DataFrame, reg: Registry, carry: Seq[String] = Nil): DataFrame =
    Normalize.normalize(triples, triples.sparkSession.sparkContext.broadcast(reg))
      .select(carry.map(F.col) ++ Seq(F.col("s_ns"), F.col("p_ns"), F.col("o_ns"),
        F.col("is_datatype"), F.col("oKind").as("o_kind")): _*)

  /** The 200-grapheme cap as a UDF projection guarded by the byte length. */
  def truncateIris(df: DataFrame): DataFrame = {
    val trunc = F.udf((s: String) => graft.extract.Canonical.graphemeTruncate(s))
    def capped(c: String) =
      F.when(F.octet_length(F.col(c)) > graft.extract.Canonical.MaxGraphemes, trunc(F.col(c)))
        .otherwise(F.col(c))
    def cappedIri(c: String, kind: String) =
      F.when(F.col(kind) === Kind.IRI, capped(c)).otherwise(F.col(c))
    df.select(df.columns.toSeq.map {
      case "s" => cappedIri("s", "sKind").as("s")
      case c @ ("p" | "oDt") => capped(c).as(c)
      case "o" => cappedIri("o", "oKind").as("o")
      case c => F.col(c)
    }: _*)
  }
}

class SummaryKeySpec extends AnyFunSuite {
  lazy val spark = SparkSuite.spark

  // nested and overlapping namespaces, '#' and non-ASCII ones, and a
  // hostless one
  private val namespaces = Seq("http://a.test/", "http://a.test/x/", "http://a.test/x/y#",
    "https://b.test/v/", "http://é.test/ü/", "http://c.test/long/", "urn:isbn:")
  private val locals = Gen.frequency(
    8 -> Gen.alphaNumStr.map(_.take(6)),
    1 -> Gen.const("l" * 250),
    1 -> Gen.const("é" * 150),
    1 -> Gen.const("é" * 210),
    1 -> Gen.const("語" * 210))
  private val genIri: Gen[String] = Gen.frequency(
    8 -> (for (ns <- Gen.oneOf(namespaces :+ "http://zzz.test/d/"); l <- locals) yield ns + l),
    1 -> Gen.oneOf("urn:x:1", "no-scheme", "http://host", ""))
  private val genTriple: Gen[Triple] = for {
    sBlank <- Gen.frequency(4 -> false, 1 -> true)
    s <- genIri
    p <- Gen.frequency(12 -> genIri.map(Option(_)), 1 -> Gen.const(None))
    oKind <- Gen.oneOf(Kind.IRI, Kind.BLANK, Kind.LIT_PLAIN, Kind.LIT_LANG, Kind.LIT_TYPED)
    o <- genIri
    dt <- Gen.option(genIri)
  } yield Triple(if (sBlank) "_:b" else s, if (sBlank) Kind.BLANK else Kind.IRI, p.orNull,
    oKind match {
      case Kind.IRI => o
      case Kind.BLANK => "_:o"
      case _ => "v"
    },
    oKind, Option.when(oKind == Kind.LIT_LANG)("en"), dt.filter(_ => oKind == Kind.LIT_TYPED), "f")
  private val genRegistry: Gen[Registry] = for {
    nss <- Gen.someOf(namespaces)
    nested <- Gen.oneOf(false, true)
  } yield Registry.fromPairs(nss.zipWithIndex.map { case (ns, i) => s"n$i" -> ns }.toSeq,
    NsSource.Community, allowSubNs = nested)

  test("the key function's decoded counts equal the Catalyst keys' counts; the same walk " +
    "counts the unresolved IRIs and re-folds after inference (property)") {
    import spark.implicits._
    var kinds = Set.empty[Byte]
    var nullDt = 0
    var refolds = 0
    var sampled = 0
    val genCase = for {
      n <- Gen.choose(1, 60)
      ts <- Gen.listOfN(n, genTriple)
      reg <- genRegistry
      extra <- Gen.someOf(namespaces.map(_.stripSuffix("/").stripSuffix("#") + "/"))
    } yield (ts, reg, extra.toSeq)
    val prop = Prop.forAllNoShrink(genCase) { case (ts, reg, extra) =>
      kinds ++= ts.map(_.oKind)
      nullDt += ts.count(t => t.oKind == Kind.LIT_TYPED && t.oDt.isEmpty)
      val df = ts.toDS().toDF()
      val keys = Normalize.foldKeys(df, reg)
      val want = Normalize.countRows(SummaryKeysOracle.summaryKeys(df, reg))
      // round 1's fold walks the IRIs the keys leave unresolved
      val folded = Normalize.countRowsBy(df, Nil, Some(reg),
        Some(Inference.PrefixFold(1L, 1000))).prefixes.get
      val occurrences = Normalize.unresolvedIris(df, reg).count()
      // F1: an extension by inferred namespaces re-folds the touched rows
      // and samples what stays unresolved
      val (after, added) = reg.withNamespaces(extra.map(ns => (ns, 1L, NsSource.Inference: NsSource)))
      val (moved, examples) = Normalize.refold(df, keys, added, after, Inference.Examples)
      val wantExamples = Inference.sampleUnresolved(
        Normalize.unresolvedIris(df, after, Normalize.unresolvedPositions(keys)))
      if (added.nonEmpty) refolds += 1
      if (examples.nonEmpty) sampled += 1
      keys == want && folded.occurrences.contains(occurrences) &&
        moved == Normalize.countRows(SummaryKeysOracle.summaryKeys(df, after)) &&
        examples == wantExamples
    }
    val res = Check.check(Check.Parameters.default.withMinSuccessfulTests(40)
      .withInitialSeed(org.scalacheck.rng.Seed(13L)).withWorkers(1), prop)
    assert(res.passed, res.status)
    assert(kinds.size == 5 && nullDt > 0 && refolds > 10 && sampled > 10,
      (kinds, nullDt, refolds, sampled))
  }

  test("the in-task IRI cap equals the UDF projection (property)") {
    import spark.implicits._
    var capped = 0
    val prop = Prop.forAllNoShrink(Gen.choose(1, 40).flatMap(Gen.listOfN(_, genTriple))) { ts =>
      val df = ts.toDS().toDF()
      val want = SummaryKeysOracle.truncateIris(df).collect().toSeq
      val rows = ColumnShim.fromInternalRows(spark,
        spark.sparkContext.parallelize(ts, 3).map(TripleRows(_)), TripleRows.schema)
      if (want != df.collect().toSeq) capped += 1
      rows.collect().toSeq == want && RdfPipeline.truncateIris(df).collect().toSeq == want
    }
    val res = Check.check(Check.Parameters.default.withMinSuccessfulTests(30)
      .withInitialSeed(org.scalacheck.rng.Seed(17L)).withWorkers(1), prop)
    assert(res.passed, res.status)
    assert(capped > 10, capped)
  }
}
