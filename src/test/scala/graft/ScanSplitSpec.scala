package graft

import graft.model.Triple
import graft.ns.Registry
import graft.pipeline.{Pipeline, RdfPipeline}
import graft.rdf.{NTriples, RdfSource, Turtle}
import graft.sinks.TtlSink
import graft.summarize.Normalize
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{Dataset, functions => F}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The scan's split planner and reader: plain line-format files cut into
  * equal byte ranges, every other file read whole, every line read exactly
  * once, and the outputs independent of the cut.
  */
class ScanSplitSpec extends AnyFunSuite {
  lazy val spark = SparkSuite.spark
  private val json = new com.fasterxml.jackson.databind.ObjectMapper()

  private def name(path: String): String = path.substring(path.lastIndexOf('/') + 1)

  /** Writes `body` to `dir/file`, gzip- or bzip2-compressed by its suffix. */
  private def put(dir: String, file: String, body: String): String = {
    val p = Paths.get(dir, file)
    val raw = Files.newOutputStream(p)
    val out =
      if (file.endsWith(".gz")) new java.util.zip.GZIPOutputStream(raw)
      else if (file.endsWith(".bz2")) {
        val codec = new org.apache.hadoop.io.compress.BZip2Codec()
        codec.setConf(spark.sparkContext.hadoopConfiguration)
        codec.createOutputStream(raw)
      } else raw
    try out.write(body.getBytes(UTF_8)) finally out.close()
    p.toString
  }

  /** The line-format scan as `spark.read.textFile` reads it: the oracle. */
  private def textFileTriples(paths: Seq[String]): Dataset[Triple] = {
    import spark.implicits._
    spark.read.textFile(paths: _*)
      .select(F.input_file_name().as("f"), F.col("value")).as[(String, String)]
      .flatMap { case (f, line) => NTriples.parseLine(line, f) }
  }

  /** A multiset of triples, each keyed by its file's name. */
  private def bag(ts: Seq[Triple]): Map[Triple, Int] =
    ts.map(t => t.copy(srcUrl = name(t.srcUrl))).groupBy(identity).view.mapValues(_.size).toMap

  private def line(i: Int, seed: Int): String = {
    val host = Seq("http://data.tailhost.test/resource/", "http://flat-a.test/",
      "http://dbpedia.org/resource/", "http://u0.unlisted.test/r/")(i * 7 % 4)
    val o = (i + seed) % 5 match {
      case 0 => s"<http://dbpedia.org/resource/E${i % 97}>"
      case 1 => "\"" + ("v" * (i % 23)) + "\""
      case 2 => s"\"w$i\"@en"
      case 3 => s"\"$i\"^^<http://www.w3.org/2001/XMLSchema#integer>"
      case _ => s"_:b${i % 11}"
    }
    s"<$host${"x" * (i % 13)}$i> <http://dbpedia.org/ontology/p${i % 5}> $o ."
  }

  /** The rdf_nt_infer file shape: four files holding 50/20/20/10% of `n`
    * lines, the last one bzip2-compressed.
    */
  private def ntInferShaped(dir: String, n: Int): Seq[String] =
    Seq(0.5, 0.2, 0.2, 0.1).zipWithIndex.map { case (share, f) =>
      val file = if (f == 3) s"part-$f.nt.bz2" else s"part-$f.nt"
      put(dir, file, (0 until (n * share).toInt).map(i => line(i, f) + "\n").mkString)
    }

  test("plan: whole files on k groups, cut files on 2k groups of their own") {
    val files = Seq("a.ttl" -> 30L, "b.nt" -> 100L, "c.nt.gz" -> 10L, "d.nt" -> 0L, "e.nt" -> 41L)
    val cuttable = (f: String) => f.endsWith(".nt")
    val groups = RdfSource.plan(files, 4, Long.MaxValue, 0L, cuttable)
    // the whole files first, each a group of its own and no cut range
    // beside it; then ⌈141 / 8⌉ = 18 bytes per cut group
    assert(groups.take(2) == Seq(Seq(RdfSource.Split("a.ttl", 0, 30)),
      Seq(RdfSource.Split("c.nt.gz", 0, 10))))
    assert(groups.drop(2).map(_.map(_.length).sum) == Seq.fill(7)(18) :+ 15)
    // each cut file is covered once, in order and without a gap; empty ones get no range
    for ((f, len) <- files if cuttable(f)) {
      val ranges = groups.flatten.filter(_.path == f)
      assert(ranges.map(_.length).sum == len, f)
      assert(ranges.map(_.start) == ranges.scanLeft(0L)(_ + _.length).init, f)
    }
    assert(!groups.flatten.exists(_.path == "d.nt"))
    // only cut files: k groups of ⌈141 / 4⌉ = 36 bytes; the cap opens
    // further groups once the k groups are full
    val cutOnly = files.filter(f => cuttable(f._1))
    assert(RdfSource.plan(cutOnly, 4, Long.MaxValue, 0L, cuttable).map(_.map(_.length).sum) ==
      Seq(36, 36, 36, 33))
    val capped = RdfSource.plan(Seq("big.nt" -> 100L), 2, 30L, 0L, cuttable)
    assert(capped.map(_.map(_.length).sum) == Seq(30, 30, 30, 10))
    // beside whole files the cap bounds the cut groups too
    assert(RdfSource.plan(files, 4, 10L, 0L, cuttable).drop(2).map(_.map(_.length).sum) ==
      Seq.fill(14)(10) :+ 1)
    // only whole files: the groups of pack
    assert(RdfSource.plan(files.filterNot(f => cuttable(f._1)), 4, 64L, 7L, cuttable)
      .map(_.map(_.path)) == RdfSource.pack(files.filterNot(f => cuttable(f._1)), 4, 7L))
    assert(RdfSource.plan(Nil, 3, 64L, 0L, cuttable).isEmpty)
  }

  test("line ranges: every line read exactly once, at every cut") {
    val dir = SparkSuite.tmpDir("split-lines")
    val paths = Seq(
      // LF endings, a comment, a blank line, and a final line with no newline
      put(dir, "lf.nt", (0 until 9).map(line(_, 0)).mkString("\n") + "\n# note\n\n" + line(9, 0)),
      // CRLF endings
      put(dir, "crlf.nt", (0 until 8).map(line(_, 1) + "\r\n").mkString),
      // one line longer than any range below
      put(dir, "long.nt", line(1, 2) + "\n<http://x.test/" + "l" * 300 +
        "> <http://x.test/p> \"o\" .\n" + line(2, 2) + "\n"),
      put(dir, "empty.nt", ""))
    val files = RdfSource.listFiles(spark, paths)
    val want = spark.read.textFile(paths: _*)
      .select(F.input_file_name(), F.col("value")).collect()
      .map(r => (name(r.getString(0)), r.getString(1))).toSeq.sorted
    val conf = spark.sparkContext.hadoopConfiguration
    val starts = Set.newBuilder[(String, Long)]
    for (cap <- 1 to 90) {
      val ranges = RdfSource.plan(files, 1, cap.toLong, 0L, _ => true).flatten
      starts ++= ranges.map(s => (name(s.path), s.start))
      val got = ranges.flatMap(s => RdfSource.lines(conf, s).map(l => (name(s.path), l)).toSeq)
      assert(got.sorted == want, s"cap $cap")
    }
    // at a cap of 1 byte a range starts at every byte: on each '\n', between
    // each '\r' and its '\n', and at each line start
    val crlf = Files.readAllBytes(Paths.get(dir, "crlf.nt"))
    val lfs = crlf.indices.filter(crlf(_) == '\n').map(i => ("crlf.nt", i.toLong))
    val cuts = starts.result()
    assert(lfs.size == 8 && lfs.forall(cuts))
  }

  test("whole compressed files, mixed .nt/.nq/.ttl: the scan's triples equal a textFile parse at k = 1, 4, 7 and a 512-byte cap") {
    val dir = SparkSuite.tmpDir("split-mixed")
    val body = (f: Int, n: Int) => (0 until n).map(i => line(i, f) + "\n").mkString
    val lineFiles = Seq(put(dir, "a.nt", body(0, 300)), put(dir, "b.nt.gz", body(1, 120)),
      put(dir, "c.nt.bz2", body(2, 120)),
      put(dir, "e.nq",
        (0 until 60).map(i => line(i, 4).stripSuffix(".") + "<http://g.test/> .\n").mkString))
    val ttlDoc = "@prefix ex: <http://declared.example.org/> .\n" +
      (0 until 40).map(i => s"ex:s$i ex:p \"v$i\" ; ex:q ex:o${i % 3} .\n").mkString
    put(dir, "d.ttl", ttlDoc)
    val want =
      bag(textFileTriples(lineFiles).collect().toSeq ++ Turtle.parse(ttlDoc, "d.ttl").triples)
    val files = RdfSource.listFiles(spark, Seq(dir))
    assert(files.forall(_._2 > 512))
    val capKey = "spark.sql.files.maxPartitionBytes"
    val defaultCap = spark.conf.get(capKey)
    for ((k, cap) <- Seq((1, defaultCap), (4, defaultCap), (7, defaultCap), (4, "512b"))) {
      val clue = s"k=$k cap=$cap"
      spark.conf.set(capKey, cap)
      try {
        val scan = RdfSource.scan(spark, Seq(dir), k)
        assert(bag(scan.triples.collect().toSeq) == want, clue)
        assert(scan.declarations.map(_.alias) == Seq("ex"), clue)
        val groups = RdfSource.planFiles(spark, files, k)
        assert(scan.triples.rdd.getNumPartitions == groups.size, clue)
        // beside the whole files, the plain files are cut into 2k groups of
        // their own, and into more under the cap
        val cutGroups = groups.count(_.forall(s => name(s.path).matches("[ae]\\..*")))
        assert(groups.size - cutGroups <= k, clue)
        assert(if (cap == defaultCap) cutGroups == 2 * k else cutGroups > 2 * k, clue)
        // compressed and Turtle files are one range of their full length
        for ((f, len) <- files if !name(f).matches("[ae]\\..*"))
          assert(groups.flatten.filter(_.path == f) == Seq(RdfSource.Split(f, 0, len)), s"$clue $f")
        val partsPerFile = scan.triples.toDF()
          .select(F.col("srcUrl"), F.spark_partition_id().as("part")).distinct()
          .groupBy("srcUrl").count().collect().map(r => name(r.getString(0)) -> r.getLong(1)).toMap
        assert(Seq("b.nt.gz", "c.nt.bz2", "d.ttl").forall(partsPerFile(_) == 1), clue)
      } finally spark.conf.set(capKey, defaultCap)
    }
  }

  test("rdf_nt_infer-shaped input: balanced rows, plain groups of ⌈Σ/2k⌉") {
    val dir = SparkSuite.tmpDir("split-balance")
    val n = 20000
    val paths = ntInferShaped(dir, n)
    val scan = RdfSource.scan(spark, paths, 4)
    val rows = Normalize.countRowsBy(scan.triples.toDF(), Seq(Seq("srcUrl"))).partitionRows
    // the .nt.bz2 file alone, then the plain files in 2k groups
    assert(rows.size == 9 && rows.sum == n)
    assert(rows.max.toDouble / (rows.sum.toDouble / rows.size) <= 1.35, rows)

    // each group's lines hold ⌈Σ/2k⌉ of the plain bytes beside the .nt.bz2
    // group, and ⌈Σ/k⌉ with plain files only, to within one line
    val plain = RdfSource.listFiles(spark, paths.filterNot(_.endsWith(".bz2")))
    val longest = paths.filterNot(_.endsWith(".bz2"))
      .flatMap(p => Files.readAllLines(Paths.get(p)).asScala.map(_.getBytes(UTF_8).length + 1)).max
    val conf = spark.sparkContext.hadoopConfiguration
    for ((files, parts) <- Seq((RdfSource.listFiles(spark, paths), 8), (plain, 4))) {
      val target = (plain.map(_._2).sum + parts - 1) / parts
      val groups = RdfSource.planFiles(spark, files, 4).filter(_.forall(s => !s.path.endsWith(".bz2")))
      assert(groups.size == parts)
      for (g <- groups) {
        val bytes = g.flatMap(s => RdfSource.lines(conf, s)).map(_.getBytes(UTF_8).length + 1L).sum
        assert(math.abs(bytes - target) <= longest, (bytes, target, longest))
      }
    }
  }

  private val cfg0 = Pipeline.Config(outDir = "", minOccurs = 5, minNsSize = 100,
    minDomainOccurs = 10)

  private def text(out: String, file: String): String =
    new String(Files.readAllBytes(Paths.get(out, file)), UTF_8)

  /** output.ttl, all-prefixes.json and the per-file tallies of tasks.json. */
  private def outputs(out: String): (String, String, String) =
    (text(out, "output.ttl"), text(out, "all-prefixes.json"),
      json.readTree(Paths.get(out, "tasks.json").toFile).get("files").toString)

  test("invariance: outputs byte-identical over k = 1, 4, 7, the textFile reader and withKeys-based keys") {
    val dir = SparkSuite.tmpDir("split-inv")
    val paths = ntInferShaped(dir, 6000) :+ put(dir, "decl.ttl",
      "@prefix myont: <http://myontology.example.com/terms/> .\n" + (0 until 30).map { i =>
        s"<http://dbpedia.org/resource/E$i> myont:related <http://flat-a.test/E${i + 1}> .\n"
      }.mkString)
    def runScan(scan: RdfSource.Scan, tag: String) = {
      val cfg = cfg0.copy(outDir = SparkSuite.tmpDir(s"split-inv-$tag"))
      val res = RdfPipeline.run(spark, scan, paths, cfg)
      val partRows = json.readTree(Paths.get(cfg.outDir, "tasks.json").toFile)
        .get("scan_partition_rows").elements().asScala.map(_.asLong).toSeq
      assert(partRows.size == res.triples.rdd.getNumPartitions, tag)
      assert(partRows.sum == res.metrics.find(_.name == "scan").get.rows, tag)
      (res, outputs(cfg.outDir))
    }
    val (res, want) = runScan(RdfSource.scan(spark, paths, 4), "k4")
    try {
      assert(res.registry.aliasMap.size > Registry.community().aliasMap.size)
      for (k <- Seq(1, 7)) {
        val (r, got) = runScan(RdfSource.scan(spark, paths, k), s"k$k")
        r.triples.unpersist()
        assert(got == want, s"k=$k")
      }
      // the textFile reader for the line formats, the Turtle file as before
      val (lineFiles, ttl) = paths.partition(RdfSource.isLineFormat)
      val ttlScan = RdfSource.scan(spark, ttl)
      val old = new RdfSource.Scan(textFileTriples(lineFiles).union(ttlScan.triples),
        RdfSource.listFiles(spark, paths), ttlScan.decls)
      val (r, got) = runScan(old, "textFile")
      r.triples.unpersist()
      assert(got == want, "textFile reader")

      // the summary keys as the withKeys-based normalize projects them
      val bc = spark.sparkContext.broadcast(res.registry)
      val keys = Normalize.countRows(Normalize.normalize(res.triples, bc)
        .select(F.col("s_ns"), F.col("p_ns"), F.col("o_ns"), F.col("is_datatype"),
          F.col("oKind").as("o_kind")))
      assert(keys == Normalize.foldKeys(res.triples, res.registry))
      val (rows, groups, _, _) = Normalize.fromKeyCounts(keys, res.registry, ignoreUnknown = false)
      assert(TtlSink.render(rows, groups, cfg0.minOccurs) == want._1)
    } finally res.triples.unpersist()
  }

  test("tasks.json: a glob over two .nt files gives one entry per file and the pinned scan partition rows") {
    val dir = SparkSuite.tmpDir("split-glob")
    // 500 lines of 50 bytes each per file
    def body(f: String) = (0 until 500)
      .map(i => f"<http://x.test/$f$i%04d> <http://x.test/p> " + "\"vvvvv\" .\n").mkString
    assert(body("a").length == 500 * 50)
    Seq("a", "b").foreach(f => put(dir, s"$f.nt", body(f)))
    val out = SparkSuite.tmpDir("split-glob-out")
    val res = RdfPipeline.run(spark, Seq(s"$dir/*.nt"), cfg0.copy(outDir = out))
    res.triples.unpersist()
    val tasks = json.readTree(Paths.get(out, "tasks.json").toFile)
    val files = tasks.get("files").elements().asScala.map { f =>
      (name(f.get("file").asText()),
        Seq("size_bytes", "triples", "iris", "blanks", "literals").map(f.get(_).asLong))
    }.toSeq
    assert(files == Seq("a.nt" -> Seq(25000L, 500L, 1000L, 0L, 500L),
      "b.nt" -> Seq(25000L, 500L, 1000L, 0L, 500L)))
    // ⌈50,000 / 4⌉ = 12,500 bytes = 250 lines per range; a range owns the
    // lines that start in it after its first byte, and the first range of a
    // file also the line at byte 0, so it reads the line its end falls on
    assert(tasks.get("scan_partition_rows").elements().asScala.map(_.asLong).toSeq ==
      Seq(251L, 249L, 251L, 249L))
    // no IRI resolves: each task counts the host, the predicate and one
    // leaf per subject
    assert(tasks.get("scan_prefix_entries").elements().asScala.map(_.asLong).toSeq ==
      Seq(253L, 251L, 253L, 251L))
    // every row holds an unresolved IRI, so every row is cached; no Turtle
    // file, so no head was read
    assert(tasks.get("scan_cached_rows").elements().asScala.map(_.asLong).toSeq ==
      Seq(251L, 249L, 251L, 249L))
    assert(!tasks.has("decl_heads"))
  }
}
