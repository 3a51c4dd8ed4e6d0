package graft

import graft.model.{Kind, Triple}
import graft.ns.Registry
import graft.summarize.Normalize
import org.scalatest.funsuite.AnyFunSuite

/** Normalization fixtures mirroring `src/normalize.rs:769-869` (FIXTURES.md §5). */
class NormalizeSpec extends AnyFunSuite {
  lazy val spark = SparkSuite.spark
  import spark.implicits._

  private def normOne(t: Triple): (String, String, String, Boolean) = {
    val bc = spark.sparkContext.broadcast(Registry.community())
    val df = Normalize.normalize(Seq(t).toDS().toDF(), bc)
    val r = df.select("s_ns", "p_ns", "o_ns", "is_datatype").collect()(0)
    (r.getString(0), r.getString(1), r.getString(2), r.getBoolean(3))
  }

  private val ex = "http://example.org/x"
  private val pred = "http://example.org/p"

  test("plain literal -> xsd group key, is_datatype") {
    val r = normOne(Triple(ex, Kind.IRI, pred, "my-lit", Kind.LIT_PLAIN, None, None, "u"))
    assert(r == (("example", "example", "xsd", true)))
  }

  test("lang-tagged literal -> rdf group key") {
    val r = normOne(Triple(ex, Kind.IRI, pred, "my-lit", Kind.LIT_LANG, Some("pt-PT"), None, "u"))
    assert(r == (("example", "example", "rdf", true)))
  }

  test("typed literal with registered datatype ns -> datatype alias") {
    val r = normOne(Triple(ex, Kind.IRI, pred, "my-lit", Kind.LIT_TYPED, None,
      Some("http://example.org/#my-datatype"), "u"))
    assert(r == (("example", "example", "example", true)))
  }

  test("typed literal with unregistered datatype ns -> UNKNOWN") {
    val r = normOne(Triple(ex, Kind.IRI, pred, "my-lit", Kind.LIT_TYPED, None,
      Some("http://nowhere.invalid/#dt"), "u"))
    assert(r == (("example", "example", "UNKNOWN", true)))
  }

  test("blank nodes -> BLANK on both positions") {
    val r = normOne(Triple("b0", Kind.BLANK, pred, "b1", Kind.BLANK, None, None, "u"))
    assert(r == (("BLANK", "example", "BLANK", false)))
  }

  test("named node in registered / unregistered namespace") {
    val r1 = normOne(Triple(ex, Kind.IRI, pred, "http://dbpedia.org/resource/X", Kind.IRI, None, None, "u"))
    assert(r1 == (("example", "example", "dbr", false)))
    val r2 = normOne(Triple("http://nope.invalid/a", Kind.IRI, pred, ex, Kind.IRI, None, None, "u"))
    assert(r2 == (("UNKNOWN", "example", "example", false)))
  }

  test("ignoreUnknown drops triples with any unresolved position (normalize.rs:463-469)") {
    val bc = spark.sparkContext.broadcast(Registry.community())
    val ts = Seq(
      Triple(ex, Kind.IRI, pred, "http://nope.invalid/a", Kind.IRI, None, None, "u"),
      Triple(ex, Kind.IRI, pred, ex, Kind.IRI, None, None, "u")
    )
    val kept = Normalize.normalize(ts.toDS().toDF(), bc, ignoreUnknown = true)
    assert(kept.count() == 1)
    val all = Normalize.normalize(ts.toDS().toDF(), bc, ignoreUnknown = false)
    assert(all.count() == 2)
  }

  test("summarize counts signatures; usedGroups collects aliases and flags") {
    val bc = spark.sparkContext.broadcast(Registry.community())
    val ts = Seq(
      Triple(ex, Kind.IRI, pred, "lit", Kind.LIT_PLAIN, None, None, "u"),
      Triple(ex, Kind.IRI, pred, "lit2", Kind.LIT_PLAIN, None, None, "u"),
      Triple("b0", Kind.BLANK, pred, "http://unreg.invalid/x", Kind.IRI, None, None, "u")
    )
    val norm = Normalize.normalize(ts.toDS().toDF(), bc)
    val sum = Normalize.summarize(norm).collect()
    val asMap = sum.map(r => (r.getString(0), r.getString(1), r.getString(2), r.getBoolean(3)) -> r.getLong(4)).toMap
    assert(asMap(("example", "example", "xsd", true)) == 2)
    assert(asMap(("BLANK", "example", "UNKNOWN", false)) == 1)
    val (groups, blank, unknown) = Normalize.usedGroups(norm)
    assert(blank && unknown)
    assert(groups.contains(("example", "http://example.org/")))
    assert(groups.contains(("xsd", "http://www.w3.org/TR/xmlschema11-2/")))
  }

  test("summary counts are permutation/partitioning-invariant (SURVEY §5.2-4b)") {
    val bc = spark.sparkContext.broadcast(Registry.community())
    val ts = (0 until 300).map { i =>
      Triple(s"http://dbpedia.org/resource/E${i % 7}", Kind.IRI, pred,
        s"lit$i", if (i % 2 == 0) Kind.LIT_PLAIN else Kind.LIT_LANG,
        if (i % 2 == 1) Some("en") else None, None, "u")
    }
    def summarySet(df: org.apache.spark.sql.DataFrame) =
      Normalize.summarize(Normalize.normalize(df, bc)).collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getBoolean(3), r.getLong(4)))
        .toSet
    val base = summarySet(ts.toDS().toDF())
    val shuffled = summarySet(scala.util.Random.shuffle(ts).toDS().toDF().repartition(7))
    val onePart = summarySet(ts.reverse.toDS().toDF().coalesce(1))
    assert(base == shuffled && base == onePart)
  }

  test("statement ids assigned in lexicographic order with min-occurs filter") {
    val bc = spark.sparkContext.broadcast(Registry.community())
    val ts = (1 to 12).map(i =>
      Triple(ex, Kind.IRI, pred, s"lit$i", Kind.LIT_PLAIN, None, None, "u")) ++
      Seq(Triple(ex, Kind.IRI, pred, ex, Kind.IRI, None, None, "u"))
    val sum = Normalize.summarize(Normalize.normalize(ts.toDS().toDF(), bc))
    val withIds = Normalize.withStatementIds(sum, minOccurs = 10).collect()
    assert(withIds.length == 1) // the single IRI-object row (occurs=1) is filtered
    assert(withIds(0).getAs[String]("stmt_id") == "#t0001")
  }
}

/** Parity of the fused fold against the relational reference pair. */
object FoldParity {
  import org.scalatest.Assertions._

  /** `summarizeWithGroups` equals `summarize(normalize(…))` + `usedGroups(…)`
    * with `ignoreUnknown` off and on, over the table at 1 and 7 partitions.
    */
  def check(triples: org.apache.spark.sql.DataFrame, registry: Registry): Unit = {
    val bc = triples.sparkSession.sparkContext.broadcast(registry)
    for (ignore <- Seq(false, true); parts <- Seq(1, 7)) {
      val t = triples.repartition(parts)
      val (rows, groups, blank, unknown) = Normalize.summarizeWithGroups(t, bc, ignore)
      val norm = Normalize.normalize(t, bc, ignore)
      val want = Normalize.summarize(norm).collect()
        .map(r => graft.model.SummaryRow(r.getString(0), r.getString(1), r.getString(2),
          r.getBoolean(3), r.getLong(4)))
        .sortBy(r => (r.s_ns, r.p_ns, r.o_ns, r.is_datatype)).toSeq
      val clue = s"ignoreUnknown=$ignore partitions=$parts"
      assert(rows == want, clue)
      assert((groups, blank, unknown) == Normalize.usedGroups(norm), clue)
    }
  }
}
