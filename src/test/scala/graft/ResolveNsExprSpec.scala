package graft

import graft.ns.{Registry, ResolveNs}
import graft.summarize.Normalize
import org.scalatest.funsuite.AnyFunSuite

class ResolveNsExprSpec extends AnyFunSuite {
  lazy val spark = SparkSuite.spark
  import spark.implicits._
  import org.apache.spark.sql.functions._

  private val reg = Registry.community()

  test("graft_resolve_ns registers as a SQL function (SparkSessionExtensions path)") {
    val (ident, info, builder) = graft.ns.GraftExtensions.resolveNsDescriptor
    org.apache.spark.sql.graftshim.ColumnShim.registerFunction(spark, ident, info, builder)
    val rows = spark.sql(
      """SELECT graft_resolve_ns('http://dbpedia.org/resource/Ada').alias AS a,
        |       graft_resolve_ns('http://purl.org/dc/terms/title').alias AS b,
        |       graft_resolve_ns('http://nowhere.example.net/x') AS miss""".stripMargin)
      .collect()
    assert(rows(0).getString(0) == "dbr")
    assert(rows(0).getString(1) == "dcterms")
    assert(rows(0).isNullAt(2))
    // the generator function registers too (table-generating, explode-like)
    val (gi, ginfo, gb) = graft.ns.GraftExtensions.segPrefixesDescriptor
    org.apache.spark.sql.graftshim.ColumnShim.registerFunction(spark, gi, ginfo, gb)
    val prefixes = spark.sql(
      "SELECT graft_seg_prefixes('http://a.example.org/x/y')").collect()
      .map(r => (r.getInt(0), r.getString(1))).toVector
    assert(prefixes == Vector(
      0 -> "http://a.example.org/",
      1 -> "http://a.example.org/x/",
      2 -> "http://a.example.org/x/y"))
  }

  test("scalar extension functions register: cosine_sim, hashed_score, dsir_buckets") {
    import org.apache.spark.sql.graftshim.ColumnShim.registerFunction
    Seq(graft.ns.GraftExtensions.cosineSimDescriptor,
        graft.ns.GraftExtensions.hashedScoreDescriptor,
        graft.ns.GraftExtensions.dsirBucketsDescriptor)
      .foreach { case (i, n, b) => registerFunction(spark, i, n, b) }
    val r = spark.sql(
      """SELECT graft_cosine_sim(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)),
        |                        array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))) AS c,
        |       graft_hashed_score(array('spark', 'engines')) AS s,
        |       size(graft_dsir_buckets(array('spark', 'engines'))) AS nb""".stripMargin)
      .collect()(0)
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
    // value parity with the Column/static forms
    import graft.textops.{Dsir, HashedLinearScore, TextOps}
    val expected = HashedLinearScore.weightOf(TextOps.fingerprintLocal("spark"),
        HashedLinearScore.DefaultBuckets, HashedLinearScore.DefaultSeed) +
      HashedLinearScore.weightOf(TextOps.fingerprintLocal("engines"),
        HashedLinearScore.DefaultBuckets, HashedLinearScore.DefaultSeed) +
      HashedLinearScore.weightOf(TextOps.fingerprintLocal("spark engines"),
        HashedLinearScore.DefaultBuckets, HashedLinearScore.DefaultSeed)
    assert(r.getLong(1) == expected)
    assert(r.getInt(2) == 3) // 2 unigrams + 1 bigram
  }

  test("expression matches the UDF reference implementation on a fuzz batch") {
    val iris = (0 until 2000).map { i =>
      Synthish.iri(i)
    } ++ Seq(null)
    val df = iris.toDF("iri")
    val bc = spark.sparkContext.broadcast(reg)
    val udf = Normalize.resolveUdf(bc)
    val both = df
      .withColumn("e", Normalize.resolveCol(col("iri"), reg))
      .withColumn("u", udf(col("iri")))
      .select(
        col("iri"),
        col("e.alias").as("ea"), col("e.ns").as("en"),
        col("u.alias").as("ua"), col("u.ns").as("un"))
      .collect()
    both.foreach { r =>
      assert(r.getAs[String]("ea") == r.getAs[String]("ua"), s"alias mismatch for ${r.get(0)}")
      assert(r.getAs[String]("en") == r.getAs[String]("un"), s"ns mismatch for ${r.get(0)}")
    }
  }

  test("byte trie matches char trie on unicode and boundary shapes (property)") {
    val keys = Seq(
      "http://例え.jp/資源/" -> "jp",
      "http://例え.jp/" -> "jproot",
      "http://a.org/ü/" -> "uml",
      "http://a.org/" -> "a",
      "x" -> "x1"
    )
    val charTrie = graft.ns.PrefixTrie(keys)
    val byteTrie = graft.ns.Utf8PrefixTrie(keys)
    val queries = Seq(
      "http://例え.jp/資源/X", "http://例え.jp/other", "http://例え.jp", "http://a.org/ü/1",
      "http://a.org/u", "x", "xy", "", "http://例え.jp/資", "ü", "http://例え.jp/資源/"
    ) ++ (0 until 500).map(Synthish.iri)
    queries.foreach { q =>
      val viaChar = charTrie.resolve(q).map(_._2)
      val viaByte = byteTrie.resolve(org.apache.spark.unsafe.types.UTF8String.fromString(q)).map(_._2)
      assert(viaChar == viaByte, s"mismatch for '$q': char=$viaChar byte=$viaByte")
    }
  }

  test("byte trie matches char trie on random nested keys (property)") {
    import org.scalacheck.{Gen, Prop, Test => Check}
    // a small alphabet, one- to three-byte UTF-8, so keys nest, share runs
    // and fork inside a multi-byte character
    val gStr = (max: Int) => Gen.choose(0, max).flatMap(Gen.listOfN(_,
      Gen.oneOf("a", "b", "/", "ü", "ý", "例", "例え")).map(_.mkString))
    val gCase = for {
      keys <- Gen.choose(1, 30).flatMap(Gen.listOfN(_, gStr(8)))
      extra <- Gen.listOfN(40, gStr(12))
      suffixes <- Gen.listOfN(keys.size, gStr(3))
    } yield (keys.distinct.zipWithIndex, extra ++ keys.zip(suffixes).flatMap { case (k, x) =>
      Seq(k, k + x, k.dropRight(1), k.take(k.length / 2)) })
    val prop = Prop.forAllNoShrink(gCase) { case (keys, queries) =>
      val charTrie = graft.ns.PrefixTrie(keys)
      val byteTrie = graft.ns.Utf8PrefixTrie(keys)
      queries.forall { q =>
        charTrie.resolve(q) ==
          byteTrie.resolve(org.apache.spark.unsafe.types.UTF8String.fromString(q))
      }
    }
    val res = Check.check(Check.Parameters.default.withMinSuccessfulTests(300)
      .withInitialSeed(org.scalacheck.rng.Seed(11L)).withWorkers(1), prop)
    assert(res.passed, res.status)
  }

  test("expression survives whole-stage codegen and interpreted eval") {
    val df = Seq("http://dbpedia.org/resource/X", "http://nowhere.invalid/y").toDF("iri")
    // codegen path
    val got = df.select(Normalize.resolveCol(col("iri"), reg).as("r")).collect()
    assert(got(0).getStruct(0).getString(0) == "dbr")
    assert(got(1).isNullAt(0))
    // interpreted path
    val expr = ResolveNs(org.apache.spark.sql.graftshim.ColumnShim.expression(col("iri")), reg.utf8Trie)
    assert(expr.resolveRow(org.apache.spark.unsafe.types.UTF8String.fromString(
      "https://schema.org/name")) != null)
    assert(expr.resolveRow(null) == null)
  }
}

/** Deterministic IRI fuzz: hits registered, unregistered, prefix-boundary and
  * degenerate shapes.
  */
object Synthish {
  private val shapes = Vector[Int => String](
    i => s"http://dbpedia.org/resource/E$i",
    i => s"http://dbpedia.org/ontology/p$i",
    i => s"http://dbpedia.org/resourc", // one short of the dbr prefix
    i => s"http://dbpedia.org/resource/", // exactly the prefix
    i => s"https://schema.org/worksFor$i",
    i => s"http://www.wikidata.org/entity/Q$i",
    i => s"http://unregistered$i.example.net/x",
    i => s"urn:isbn:$i",
    _ => "",
    i => s"http://example.org/$i"
  )
  def iri(i: Int): String = shapes(i % shapes.size)(i)
}
