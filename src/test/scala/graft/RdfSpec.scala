package graft

import graft.model.Kind
import graft.rdf.{NTriples, RdfSource, Turtle}
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

class RdfSpec extends AnyFunSuite {

  test("N-Triples: IRIs, blanks, literals, escapes") {
    val t1 = NTriples.parseLine("""<http://a/s> <http://a/p> <http://a/o> .""").get
    assert(t1.s == "http://a/s" && t1.oKind == Kind.IRI)
    val t2 = NTriples.parseLine("""_:b1 <http://a/p> "hi there" .""").get
    assert(t2.sKind == Kind.BLANK && t2.s == "b1" && t2.oKind == Kind.LIT_PLAIN && t2.o == "hi there")
    val t3 = NTriples.parseLine("""<http://a/s> <http://a/p> "olá"@pt-PT .""").get
    assert(t3.oKind == Kind.LIT_LANG && t3.o == "olá" && t3.oLang.contains("pt-PT"))
    val t4 = NTriples.parseLine(
      """<http://a/s> <http://a/p> "42"^^<http://www.w3.org/2001/XMLSchema#integer> .""").get
    assert(t4.oKind == Kind.LIT_TYPED && t4.oDt.contains("http://www.w3.org/2001/XMLSchema#integer"))
    val t5 = NTriples.parseLine("""<http://a/s> <http://a/p> "a \"q\" \n b" .""").get
    assert(t5.o == "a \"q\" \n b")
  }

  test("N-Triples: comments, blanks, N-Quads graph term dropped") {
    assert(NTriples.parseLine("# comment").isEmpty)
    assert(NTriples.parseLine("   ").isEmpty)
    val q = NTriples.parseLine("""<http://a/s> <http://a/p> <http://a/o> <http://g> .""").get
    assert(q.o == "http://a/o") // graph term projected away (parse.rs:40-47)
  }

  test("N-Triples: RDF-star rejected like the reference") {
    intercept[NTriples.ParseError] {
      NTriples.parseLine("""<< <http://a/s> <http://a/p> <http://a/o> >> <http://a/p2> <http://a/o2> .""")
    }
  }

  test("Turtle: prefixes, 'a', semicolon/comma lists, literals") {
    val doc =
      """@prefix foaf: <http://xmlns.com/foaf/0.1/> .
        |@prefix ex: <http://example.org/> .
        |@base <http://base.org/> .
        |# a comment
        |ex:alice a foaf:Person ;
        |    foaf:name "Alice"@en ;
        |    foaf:age 30 ;
        |    foaf:knows ex:bob, _:anon .
        |_:anon foaf:name 'Bob' .
        |ex:thing ex:height 1.75 .
        |ex:thing ex:ok true .
        |""".stripMargin
    val res = Turtle.parse(doc, "f")
    assert(res.prefixes.map(_.alias).toSet == Set("foaf", "ex"))
    val ts = res.triples
    assert(ts.size == 8)
    assert(ts.head.p == "http://www.w3.org/1999/02/22-rdf-syntax-ns#type")
    assert(ts.head.o == "http://xmlns.com/foaf/0.1/Person")
    val name = ts.find(_.p == "http://xmlns.com/foaf/0.1/name").get
    assert(name.o == "Alice" && name.oLang.contains("en"))
    val age = ts.find(t => t.o == "30").get
    assert(age.oDt.contains("http://www.w3.org/2001/XMLSchema#integer"))
    val knows = ts.filter(_.p == "http://xmlns.com/foaf/0.1/knows")
    assert(knows.map(_.oKind).toSet == Set(Kind.IRI, Kind.BLANK))
    val height = ts.find(t => t.o == "1.75").get
    assert(height.oDt.contains("http://www.w3.org/2001/XMLSchema#decimal"))
    val ok = ts.find(t => t.o == "true").get
    assert(ok.oDt.contains("http://www.w3.org/2001/XMLSchema#boolean"))
  }

  test("Turtle: relative IRIs resolve against @base") {
    val doc =
      """@base <http://base.org/> .
        |@prefix ex: <http://example.org/> .
        |<s1> ex:p <o1> .
        |""".stripMargin
    val ts = Turtle.parse(doc).triples
    assert(ts.head.s == "http://base.org/s1" && ts.head.o == "http://base.org/o1")
  }

  test("Turtle: anonymous blank nodes and property lists (rio-accepted grammar)") {
    val doc =
      """@prefix ex: <http://example.org/> .
        |ex:alice ex:knows [ ex:name "Bob" ; ex:age 42 ] .
        |[ ex:label "standalone" ] .
        |ex:carol ex:address [ ] .
        |[ ex:role "subject-list" ] ex:sees ex:alice .
        |""".stripMargin
    val ts = Turtle.parse(doc, "f").triples
    // hand expansion: knows->genid1 + 2 inner; standalone 1; address->genid3; role 1 + sees 1
    assert(ts.size == 7)
    val knows = ts.find(_.p == "http://example.org/knows").get
    assert(knows.oKind == Kind.BLANK)
    val inner = ts.filter(_.s == knows.o)
    assert(inner.map(_.o).toSet == Set("Bob", "42"))
    val sees = ts.find(_.p == "http://example.org/sees").get
    assert(sees.sKind == Kind.BLANK)
    assert(ts.find(_.o == "subject-list").get.s == sees.s)
    // empty [] object is a bare fresh blank with no inner triples
    val addr = ts.find(_.p == "http://example.org/address").get
    assert(addr.oKind == Kind.BLANK && !ts.exists(_.s == addr.o))
  }

  test("Turtle: collections expand to rdf:first/rdf:rest/rdf:nil") {
    val first = "http://www.w3.org/1999/02/22-rdf-syntax-ns#first"
    val rest = "http://www.w3.org/1999/02/22-rdf-syntax-ns#rest"
    val nil = "http://www.w3.org/1999/02/22-rdf-syntax-ns#nil"
    val doc =
      """@prefix ex: <http://example.org/> .
        |ex:s ex:items ( ex:a "two" 3 ) .
        |ex:s ex:empty ( ) .
        |""".stripMargin
    val ts = Turtle.parse(doc, "f").triples
    // 1 items + 3*(first,rest) + 1 empty = 8
    assert(ts.size == 8)
    val items = ts.find(_.p == "http://example.org/items").get
    assert(items.oKind == Kind.BLANK)
    // walk the chain
    var node = items.o
    val values = Vector.newBuilder[String]
    var guard = 0
    while (node != nil && guard < 10) {
      values += ts.find(t => t.s == node && t.p == first).get.o
      node = ts.find(t => t.s == node && t.p == rest).get.o
      guard += 1
    }
    assert(values.result() == Vector("http://example.org/a", "two", "3"))
    val empty = ts.find(_.p == "http://example.org/empty").get
    assert(empty.o == nil && empty.oKind == Kind.IRI)
  }

  test("Turtle: empty-alias declaration `@prefix: <ns> .` and default-prefix names") {
    val doc =
      """@prefix: <http://example.org/> .
        |:thing a :T .
        |""".stripMargin
    val ts = Turtle.parse(doc, "f").triples
    assert(ts.size == 1)
    assert(ts.head.s == "http://example.org/thing")
    assert(ts.head.o == "http://example.org/T")
    // SPARQL-style spelled variant
    val ts2 = Turtle.parse("PREFIX: <http://example.org/>\n:a :p :b .\n", "f").triples
    assert(ts2.head.s == "http://example.org/a")
  }

  test("Turtle: subject alias starting with a keyword is not a declaration") {
    val doc =
      """@prefix base: <http://example.org/b/> .
        |@prefix prefixes: <http://example.org/p/> .
        |base:thing a prefixes:T .
        |""".stripMargin
    val ts = Turtle.parse(doc, "f").triples
    assert(ts.size == 1)
    assert(ts.head.s == "http://example.org/b/thing")
    assert(ts.head.o == "http://example.org/p/T")
  }

  test("distributed N-Triples scan with format dispatch and decls side-output") {
    val spark = SparkSuite.spark
    val dir = SparkSuite.tmpDir("rdf-src")
    Files.write(Paths.get(dir, "a.nt"),
      ("<http://a/s1> <http://a/p> <http://a/o1> .\n" +
        "<http://a/s2> <http://a/p> \"lit\" .\n").getBytes("UTF-8"))
    Files.write(Paths.get(dir, "b.ttl"),
      ("@prefix ex: <http://example.org/> .\n" +
        "ex:s ex:p ex:o .\n").getBytes("UTF-8"))
    val (triples, decls) = RdfSource.read(spark, Seq(s"$dir/a.nt", s"$dir/b.ttl"))
    assert(triples.count() == 3)
    val d = decls.collect()
    assert(d.map(x => (x.alias, x.ns)).toSet == Set(("ex", "http://example.org/")))
    // lineage: srcUrl column carries the input file
    assert(triples.filter(_.srcUrl.endsWith("a.nt")).count() == 2)
  }

  test("gz-compressed N-Triples reads transparently (extract.rs:44-66 equivalent)") {
    val spark = SparkSuite.spark
    val dir = SparkSuite.tmpDir("rdf-gz")
    val gz = Paths.get(dir, "c.nt.gz")
    val os = new java.util.zip.GZIPOutputStream(Files.newOutputStream(gz))
    os.write("<http://a/s> <http://a/p> <http://a/o> .\n".getBytes("UTF-8"))
    os.close()
    val (triples, _) = RdfSource.read(spark, Seq(gz.toString))
    assert(triples.count() == 1)
  }

  test("Turtle PN_LOCAL: interior dots, %-encoding, backslash escapes (rio parity)") {
    val doc =
      """@prefix ex: <http://example.org/> .
        |ex:v1.2 ex:encodes ex:a%20b .
        |ex:s ex:p ex:with\/slash.
        |ex:s2 ex:p ex:o.
        |""".stripMargin
    val ts = Turtle.parse(doc, "f").triples
    assert(ts.size == 3)
    assert(ts(0).s == "http://example.org/v1.2")
    assert(ts(0).o == "http://example.org/a%20b")
    assert(ts(1).o == "http://example.org/with/slash") // \/ escape, dot terminates
    assert(ts(2).o == "http://example.org/o") // trailing dot = statement terminator
  }

  test("Turtle: RFC 3986 relative-IRI resolution against @base") {
    val doc =
      """@base <http://base.org/dir/page> .
        |<s1> <../up> </abs> .
        |<./same> <p> <//other.org/net> .
        |""".stripMargin
    val ts = Turtle.parse(doc).triples
    assert(ts(0).s == "http://base.org/dir/s1")
    assert(ts(0).p == "http://base.org/up")
    assert(ts(0).o == "http://base.org/abs")
    assert(ts(1).s == "http://base.org/dir/same")
    assert(ts(1).o == "http://other.org/net")
  }

  test("Turtle: document _:genid1 never merges with a generated anon node") {
    val doc =
      """@prefix ex: <http://example.org/> .
        |_:genid1 ex:p "explicit" .
        |[ ex:p "anon" ] .
        |""".stripMargin
    val ts = Turtle.parse(doc, "f").triples
    val subjects = ts.map(_.s).toSet
    assert(subjects.size == 2) // would be 1 if the namespaces collided
    assert(subjects.contains("genid1"))
  }

  test("TurtleStream: chunked parse equals whole-document parse (state carried)") {
    val doc =
      """@prefix ex: <http://example.org/> . # comment with a dot .
        |@base <http://base.org/> .
        |ex:alice a ex:Person ; ex:name "Dot . inside" ; ex:age 30 .
        |ex:s ex:long '''multi
        |line . with "quotes" and dots.''' .
        |<http://a.b/c.d> ex:p <rel.path> .
        |ex:k ex:items ( ex:a "two" 3 ) .
        |ex:m ex:knows [ ex:name "Bob" ; ex:sees [ ex:x 1 ] ] .
        |@prefix late: <http://late.example.org/> .
        |late:thing ex:p ex:v1.2 .
        |PREFIX sp: <http://sparql.example.org/>
        |sp:x ex:p "no trailing newline" .""".stripMargin
    val whole = Turtle.parse(doc, "f")
    // tiny batch budget forces many batches; every boundary carries state
    for (batchChars <- Seq(16, 64, 1 << 20)) {
      val rs = rdf.TurtleStream
        .batches(new java.io.StringReader(doc), "f", batchChars).toVector
      if (batchChars == 16) assert(rs.size > 3, "expected multiple batches")
      assert(rs.flatMap(_.triples) == whole.triples, s"batchChars=$batchChars")
      assert(rs.flatMap(_.prefixes) == whole.prefixes)
    }
  }

  test("TurtleStream: memory bounded by statement size, not file size") {
    // 20k statements streamed through a 4 KiB batch budget: the scanner never
    // holds more than (one statement + one batch) in memory
    val n = 20000
    val doc = new StringBuilder("@prefix ex: <http://example.org/> .\n")
    (0 until n).foreach(k => doc.append(s"""ex:s$k ex:p "v $k" .\n"""))
    val got = rdf.TurtleStream
      .batches(new java.io.StringReader(doc.toString), "f", batchChars = 4096)
      .map(_.triples.size).sum
    assert(got == n)
  }

  test("gz/bz2-compressed Turtle streams through the codec-wrapped per-file scan") {
    val spark = SparkSuite.spark
    val dir = SparkSuite.tmpDir("rdf-ttl-gz")
    val gz = Paths.get(dir, "e.ttl.gz")
    val os = new java.util.zip.GZIPOutputStream(Files.newOutputStream(gz))
    os.write(("@prefix ex: <http://example.org/> .\n" +
      "ex:s ex:p ex:o .\nex:s2 ex:p \"lit\" .\n").getBytes("UTF-8"))
    os.close()
    val (triples, decls) = RdfSource.read(spark, Seq(gz.toString))
    assert(triples.count() == 2)
    assert(decls.collect().map(_.alias).toSet == Set("ex"))

    // a multi-file input (plain, .ttl.gz, .ttl.bz2) scans one file per task
    val multi = SparkSuite.tmpDir("rdf-ttl-multi")
    def doc(k: Int) = (s"@prefix ex$k: <http://example.org/f$k/> .\n" +
      (0 until 10 * (k + 1)).map(i => s"ex$k:s$i ex$k:p \"v$i\" .\n").mkString).getBytes("UTF-8")
    Files.write(Paths.get(multi, "f0.ttl"), doc(0))
    val gz1 = new java.util.zip.GZIPOutputStream(Files.newOutputStream(Paths.get(multi, "f1.ttl.gz")))
    gz1.write(doc(1)); gz1.close()
    val codec = new org.apache.hadoop.io.compress.BZip2Codec()
    codec.setConf(spark.sparkContext.hadoopConfiguration)
    val bz = codec.createOutputStream(Files.newOutputStream(Paths.get(multi, "f2.ttl.bz2")))
    bz.write(doc(2)); bz.close()
    val (ts, ds) = RdfSource.read(spark, Seq(multi))
    assert(ts.rdd.getNumPartitions == 3)
    assert(ts.count() == 10 + 20 + 30)
    assert(ts.filter(_.srcUrl.endsWith("f2.ttl.bz2")).count() == 30)
    assert(ds.collect().map(_.alias).toSet == Set("ex0", "ex1", "ex2"))
    // the one-pass scan: same triples, declarations from the same parse
    val scan = RdfSource.scan(spark, Seq(multi))
    assert(scan.triples.count() == 60)
    assert(scan.declarations == RdfSource.mergeOrder(ds.collect()))
  }

  test("Turtle listing matches binaryFiles: globs, flat directories, hidden files, srcUrl keys") {
    val spark = SparkSuite.spark
    val dir = SparkSuite.tmpDir("rdf-list")
    val doc = "@prefix ex: <http://example.org/> .\nex:s ex:p ex:o .\n"
    Seq("a.ttl", "b.ttl", "c.nt", "_hidden.ttl", ".dot.ttl").foreach { f =>
      Files.write(Paths.get(dir, f), doc.getBytes("UTF-8"))
    }
    val sub = Files.createDirectory(Paths.get(dir, "sub"))
    Files.write(sub.resolve("deep.ttl"), doc.getBytes("UTF-8"))
    val listed = RdfSource.listFiles(spark, Seq(dir))
    assert(listed.map(f => f._1.substring(f._1.lastIndexOf('/') + 1)) == Seq("a.ttl", "b.ttl", "c.nt"))
    assert(listed.forall(f => f._1.startsWith("file:/") && !f._1.startsWith("file://")))
    assert(listed.forall(_._2 == doc.length))
    // the keys binaryFiles gave the old scan, byte for byte
    val glob = s"$dir/*.ttl"
    val binaryKeys = spark.sparkContext.binaryFiles(glob).keys.collect().sorted.toSeq
    assert(RdfSource.listFiles(spark, Seq(glob)).map(_._1) == binaryKeys)
    val (triples, _) = RdfSource.read(spark, Seq(glob))
    assert(triples.collect().map(_.srcUrl).distinct.sorted.toSeq == binaryKeys)
    assert(intercept[java.io.FileNotFoundException](
      RdfSource.listFiles(spark, Seq(s"$dir/none*.ttl"))).getMessage.contains("none"))
  }

  test("Turtle packing: largest files first, each onto the lightest task") {
    val files = Seq("a" -> 10L, "b" -> 70L, "c" -> 40L, "d" -> 30L, "e" -> 20L)
    assert(RdfSource.pack(files, 2, 0L) == Seq(Seq("b", "e"), Seq("c", "d", "a")))
    assert(RdfSource.pack(files, 8, 0L).map(_.size) == Seq(1, 1, 1, 1, 1))
    // the open cost evens out many small files by count
    assert(RdfSource.pack(files, 2, 1000L).map(_.size).sorted == Seq(2, 3))
    assert(RdfSource.pack(Nil, 4, 0L).isEmpty)
  }

  test("bz2-compressed N-Triples reads transparently (extract.rs:44-66 equivalent)") {
    val spark = SparkSuite.spark
    val dir = SparkSuite.tmpDir("rdf-bz2")
    val bz = Paths.get(dir, "d.nt.bz2")
    // encode with the same Hadoop codec Spark decodes with
    val codec = new org.apache.hadoop.io.compress.BZip2Codec()
    codec.setConf(spark.sparkContext.hadoopConfiguration)
    val os = codec.createOutputStream(Files.newOutputStream(bz))
    os.write(("<http://a/s> <http://a/p> <http://a/o> .\n" +
      "<http://a/s2> <http://a/p> \"lit\" .\n").getBytes("UTF-8"))
    os.close()
    val (triples, _) = RdfSource.read(spark, Seq(bz.toString))
    assert(triples.count() == 2)
  }

  test("NtWriter: parse(line(t)) == t for every term kind and escape class") {
    import graft.model.{Kind, Triple}
    import graft.rdf.NtWriter
    val cases = Seq(
      Triple("http://a/s", Kind.IRI, "http://a/p", "http://a/o", Kind.IRI, None, None, ""),
      Triple("b42_1", Kind.BLANK, "http://a/p", "anon", Kind.BLANK, None, None, ""),
      Triple("http://a/s", Kind.IRI, "http://a/p", "plain text", Kind.LIT_PLAIN, None, None, ""),
      Triple("http://a/s", Kind.IRI, "http://a/p", "olá", Kind.LIT_LANG, Some("pt-BR"), None, ""),
      Triple("http://a/s", Kind.IRI, "http://a/p", "7",
        Kind.LIT_TYPED, None, Some("http://www.w3.org/2001/XMLSchema#integer"), ""),
      // the full ECHAR set plus a C0 control and unicode
      Triple("http://a/s", Kind.IRI, "http://a/p",
        "q\"uote \\back\nnew\rret\ttab\bbell\fff\u0001ctl é漢", Kind.LIT_PLAIN, None, None, ""),
      // IRI with characters the IRIREF production excludes
      Triple("http://a/s p{x}|y^z`w\\v", Kind.IRI, "http://a/p<>", "o", Kind.LIT_PLAIN, None, None, "")
    )
    for (t <- cases) {
      val line = NtWriter.line(t)
      val back = graft.rdf.NTriples.parseLine(line, "")
      assert(back.contains(t), s"round-trip drift for $t via: $line")
    }
  }

  test("NtWriter: quadLine round-trips modulo lineage (graph term projected away)") {
    import graft.model.{Kind, Triple}
    val t = Triple("http://a/s", Kind.IRI, "http://a/p", "val",
      Kind.LIT_LANG, Some("en"), None, "https://pages.example.com/wiki/X/9")
    val q = graft.rdf.NtWriter.quadLine(t)
    assert(q.endsWith("<https://pages.example.com/wiki/X/9> ."))
    assert(graft.rdf.NTriples.parseLine(q, "").contains(t.copy(srcUrl = "")))
  }

  test("NtWriter: clean terms serialize with zero escaping (oracle contract)") {
    import graft.model.{Kind, Triple}
    val t = Triple("http://dbpedia.org/resource/Ada_Lovelace", Kind.IRI,
      "http://www.w3.org/2000/01/rdf-schema#label", "Ada Lovelace",
      Kind.LIT_LANG, Some("en"), None, "")
    assert(graft.rdf.NtWriter.line(t) ==
      "<http://dbpedia.org/resource/Ada_Lovelace> " +
      "<http://www.w3.org/2000/01/rdf-schema#label> \"Ada Lovelace\"@en .")
  }

  test("lenient N-Triples scan: bad lines dead-letter, good side equals " +
    "the strict parse of the clean subset") {
    val spark = SparkSuite.spark
    val tmp = java.nio.file.Files.createTempDirectory("rdf-lenient")
    val lines = Seq(
      "<http://a/s1> <http://a/p> <http://a/o> .",
      "<http://a/s2> <http://a/p> \"ok\" .",
      "<http://a/s3> <http://a/p> \"no dot\"",          // missing terminator
      "<http://a/s4 <http://a/p> \"y\" .",              // space in IRIREF
      "<http://a/s5> <http://a/p> \"bad \\q esc\" .", // invalid escape
      "# comment",
      "")
    java.nio.file.Files.write(tmp.resolve("mixed.nt"),
      lines.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.file.Files.write(tmp.resolve("clean.nt"),
      lines.take(2).mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val (good, bad) = graft.rdf.RdfSource.readNTriplesLenient(
      spark, Seq(tmp.resolve("mixed.nt").toString))
    val strict = graft.rdf.RdfSource.readNTriples(
      spark, Seq(tmp.resolve("clean.nt").toString))
    def canon(d: org.apache.spark.sql.Dataset[graft.model.Triple]) =
      d.collect().map(t => t.copy(srcUrl = "")).toSet
    assert(canon(good) == canon(strict))
    val badLines = bad.collect().map(_.line).toSet
    assert(badLines == lines.slice(2, 5).toSet, s"got $badLines")
    // every dead-letter carries a parse message
    assert(bad.collect().forall(_.msg.nonEmpty))
  }
}
