package graft.rdf

import graft.model.{PrefixDecl, Triple}
import java.nio.charset.StandardCharsets
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path, PathFilter}
import org.apache.hadoop.io.compress.CompressionCodecFactory
import org.apache.hadoop.mapred.{FileSplit, LineRecordReader}
import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.util.{AccumulatorV2, SerializableConfiguration}
import scala.collection.mutable

/** RDF file sources (reference S1-S4, chilon_rs `src/extract.rs:44-66`,
  * `src/parse.rs:63-86`).
  *
  * Every input is listed ([[listFiles]]) and read by one split planner
  * ([[plan]]) and one reader: one task per planned group, at most
  * `defaultParallelism` groups of whole files, and as many groups of cut
  * ones (twice as many beside whole files) while each stays under
  * `spark.sql.files.maxPartitionBytes`. Format dispatch is by the listed
  * file's extension after stripping `.gz`/`.bz2` (Hadoop codecs decompress
  * transparently):
  *   - plain `.nt` / `.nq`: line-delimited, so they are cut at byte offsets
  *     into equal shares and each range is read through Hadoop's
  *     `LineRecordReader` (the boundary rule of `TextInputFormat`: a range
  *     owns the lines that start inside it);
  *   - compressed `.nt` / `.nq` and `.ttl` (and anything else, like the
  *     reference's fallback): each file read whole by one task, Turtle
  *     through [[TurtleStream]] (stateful `@prefix`; the reference parses
  *     one file per thread).
  *
  * `@prefix` declarations are a side output merged into the driver registry
  * (reference `handle_pref_decls`, `src/prefixes.rs:249-277`): [[scan]]
  * collects them during the one parse that builds the triple table.
  */
object RdfSource {

  private def stem(path: String): String = {
    val name = path.substring(path.lastIndexOf('/') + 1)
    name.stripSuffix(".gz").stripSuffix(".bz2")
  }

  def isLineFormat(path: String): Boolean = {
    val s = stem(path)
    s.endsWith(".nt") || s.endsWith(".nq")
  }

  /** Strict scan of N-Triples / N-Quads files (fail fast on a malformed
    * line): the triples of [[scan]].
    */
  def readNTriples(spark: SparkSession, paths: Seq[String]): Dataset[Triple] =
    scan(spark, paths).triples

  /** One routed-aside malformed input line — the dead-letter record. */
  final case class BadRecord(src: String, line: String, msg: String)

  /** Lenient N-Triples scan with a DEAD-LETTER channel: malformed lines
    * route to a [[BadRecord]] side output instead of killing the job —
    * at crawl scale a single corrupt line MUST NOT fail a million-file
    * scan (the `badRecordsPath` contract of the built-in sources, here
    * for the RDF line formats). [[readNTriples]] stays the strict form
    * (fail fast — the right default for curated inputs); both share one
    * parser, so accepted lines are bit-identical between them. Each side
    * is a filter over the same one-pass parse relation — callers that
    * consume both should cache/checkpoint the input split to avoid a
    * second scan. It reads through `spark.read.textFile` (Spark's own file
    * splits, `srcUrl` as `input_file_name` gives it), not [[scan]]'s planner.
    */
  def readNTriplesLenient(
      spark: SparkSession, paths: Seq[String]
  ): (Dataset[Triple], Dataset[BadRecord]) = {
    import spark.implicits._
    val parsed = spark.read
      .textFile(paths: _*)
      .select(
        org.apache.spark.sql.functions.input_file_name().as("f"),
        org.apache.spark.sql.functions.col("value"))
      .as[(String, String)]
      .map { case (f, line) =>
        try (NTriples.parseLine(line, f), Option.empty[BadRecord])
        catch {
          case e: NTriples.ParseError =>
            (Option.empty[Triple], Some(BadRecord(f, line, e.getMessage)))
        }
      }
    (parsed.flatMap(_._1), parsed.flatMap(_._2))
  }

  /** The files an input list names, listed as `binaryFiles` lists them:
    * globs expand, a directory contributes its direct children
    * (non-recursive; sub-directories are skipped), and names starting with
    * `_` or `.` are hidden. Each file comes back as its fully qualified path
    * (`file:/…`), the string the scan stamps into `srcUrl`, with its byte
    * length. An input that matches nothing fails, as the Hadoop listing does.
    */
  def listFiles(spark: SparkSession, paths: Seq[String]): Seq[(String, Long)] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val visible = new PathFilter {
      def accept(p: Path): Boolean = !p.getName.startsWith("_") && !p.getName.startsWith(".")
    }
    paths.flatMap { p =>
      val path = new Path(p)
      val fs = path.getFileSystem(conf)
      val matches = fs.globStatus(path, visible)
      if (matches == null || matches.isEmpty)
        throw new java.io.FileNotFoundException(s"Input path matches no file: $p")
      matches.toSeq.flatMap { st =>
        if (st.isDirectory)
          fs.listStatus(st.getPath, visible).toSeq.filter(_.isFile).sortBy(_.getPath.toString)
        else Seq(st)
      }
    }.map(st => (st.getPath.toString, st.getLen))
  }

  /** Packs files into at most `bins` groups, largest first, each onto the
    * group with the least bytes so far; a file costs its length plus
    * `openCost` (the weight Spark's file scans give to opening a file).
    */
  private[graft] def pack(files: Seq[(String, Long)], bins: Int, openCost: Long): Seq[Seq[String]] = {
    val n = math.max(1, math.min(bins, files.size))
    val load = Array.fill(n)(0L)
    val groups = Array.fill(n)(Vector.newBuilder[String])
    files.sortBy { case (f, len) => (-len, f) }.foreach { case (f, len) =>
      val i = load.indices.minBy(load)
      load(i) += len + openCost
      groups(i) += f
    }
    groups.map(_.result()).filter(_.nonEmpty).toSeq
  }

  /** The bytes `[start, start + length)` of one listed file; a file read
    * whole is the range over its full length.
    */
  private[graft] final case class Split(path: String, start: Long, length: Long)

  /** The scan's groups, one task each. Files that must be read whole (those
    * `cuttable` rejects: Turtle, compressed line formats, whose length says
    * little about their rows or their read time) are [[pack]]ed onto `k`
    * groups first. The cuttable files then fill `n` groups of their own in
    * listing order, each up to `min(maxBytes, ⌈Σ cuttable length / n⌉)`
    * bytes, cut at any byte offset: `n = k` for cuttable files alone, and
    * `n = 2k` beside whole files, so that no group of unknown read time
    * also holds a share of lines and a core whose group finishes early
    * takes the next. Bytes left once the `n` groups are full (inputs larger
    * than `n × maxBytes`) open further groups of that size. Empty cuttable
    * files get no range.
    */
  private[graft] def plan(
      files: Seq[(String, Long)],
      k: Int,
      maxBytes: Long,
      openCost: Long,
      cuttable: String => Boolean
  ): Seq[Seq[Split]] = {
    require(k >= 1, s"k = $k groups")
    val (cut, whole) = files.partition { case (f, _) => cuttable(f) }
    val length = whole.toMap
    val packed =
      if (whole.isEmpty) Nil else pack(whole, k, openCost).map(_.map(f => Split(f, 0L, length(f))))
    val n = if (whole.isEmpty) k else 2 * k
    val target = math.max(1L, math.min(maxBytes, (cut.map(_._2).sum + n - 1) / n))
    val groups = mutable.ArrayBuffer.empty[Vector[Split]]
    var load = target
    cut.foreach { case (f, len) =>
      var off = 0L
      while (off < len) {
        if (load >= target) { groups += Vector.empty; load = 0L }
        val take = math.min(target - load, len - off)
        groups(groups.size - 1) :+= Split(f, off, take)
        load += take
        off += take
      }
    }
    packed ++ groups
  }

  /** The lines of a line-format range, through Hadoop's `LineRecordReader`
    * (a compressed file is decompressed and read to its end). The reader is
    * closed on exhaustion and, for an unfinished range, when the task ends.
    */
  private[graft] def lines(conf: Configuration, s: Split): Iterator[String] = {
    val reader = new LineRecordReader(conf, new FileSplit(new Path(s.path), s.start, s.length,
      Array.empty[String]))
    var open = true
    def close(): Unit = if (open) { open = false; reader.close() }
    Option(TaskContext.get()).foreach(_.addTaskCompletionListener[Unit](_ => close()))
    val key = reader.createKey()
    val value = reader.createValue()
    new Iterator[String] {
      private var ready = false
      def hasNext: Boolean = {
        if (!ready && open) {
          ready = reader.next(key, value)
          if (!ready) close()
        }
        ready
      }
      def next(): String = {
        if (!hasNext) throw new NoSuchElementException("end of range")
        ready = false
        value.toString
      }
    }
  }

  /** A UTF-8 reader over one whole file and the raw stream under it; a
    * `.gz`/`.bz2` file is wrapped in its Hadoop codec stream.
    */
  private def open(conf: Configuration, f: String): (java.io.Closeable, java.io.Reader) = {
    val path = new Path(f)
    val raw = path.getFileSystem(conf).open(path)
    val codec = new CompressionCodecFactory(conf).getCodec(path)
    val in: java.io.InputStream = if (codec != null) codec.createInputStream(raw) else raw
    (raw, new java.io.InputStreamReader(in, StandardCharsets.UTF_8))
  }

  /** Parse batches of one whole Turtle file through [[TurtleStream]]
    * (statement-boundary chunker feeding the stateful parser), so task
    * memory is bounded by the longest single statement + one batch — a
    * multi-GB `.ttl` file never materializes as one JVM String (the
    * reference's constant-memory contract, `src/parse.rs:24-51` at
    * `Readme.md:23` scale).
    */
  private def turtle(conf: Configuration, f: String): Iterator[Turtle.Result] = {
    val (raw, reader) = open(conf, f)
    Option(TaskContext.get()).foreach(_.addTaskCompletionListener[Unit](_ => raw.close()))
    TurtleStream.batches(reader, f)
  }

  /** Bounds of the driver's read of the Turtle heads ([[headDeclarations]]):
    * the Turtle files it reads, and the characters it reads of each.
    */
  private[graft] val HeadFiles = 256
  private[graft] val HeadChars = 1 << 20

  /** The `@prefix` declarations at the head of each Turtle file among
    * `files`: those its parse meets up to the first statement that yields a
    * triple, read on the driver through [[TurtleStream]], so a compressed
    * file is decompressed only that far. None when more than [[HeadFiles]]
    * files are Turtle, or when a head runs past [[HeadChars]] characters or
    * does not parse (the scan then reports the file).
    */
  private[graft] def headDeclarations(
      conf: Configuration, files: Seq[String]): Option[Seq[PrefixDecl]] = {
    val ttl = files.filterNot(isLineFormat)
    if (ttl.size > HeadFiles) None
    else ttl.foldLeft(Option(Vector.empty[PrefixDecl])) { (acc, f) =>
      acc.flatMap(decls => head(conf, f).map(decls ++ _))
    }
  }

  /** [[headDeclarations]] of one file. */
  private def head(conf: Configuration, f: String): Option[Seq[PrefixDecl]] = {
    val (_, reader) = open(conf, f)
    val bounded = new java.io.Reader {
      private var left = HeadChars
      def read(buf: Array[Char], off: Int, len: Int): Int =
        if (len == 0) 0
        else if (left == 0)
          throw new java.io.IOException(s"$f: no triple in its first $HeadChars characters")
        else {
          val n = reader.read(buf, off, math.min(len, left))
          if (n > 0) left -= n
          n
        }
      def close(): Unit = reader.close()
    }
    try {
      // a small buffer, so little is decompressed past the head
      val batches = TurtleStream.batches(new java.io.BufferedReader(bounded, 1 << 12), f,
        batchChars = 1)
      val decls = Vector.newBuilder[PrefixDecl]
      var triple = false
      while (!triple && batches.hasNext) {
        val r = batches.next()
        decls ++= r.prefixes
        triple = r.triples.nonEmpty
      }
      Some(decls.result())
    } catch { case scala.util.control.NonFatal(_) => None }
    finally bounded.close()
  }

  /** [[plan]] over the listed files with the session's settings: `k`
    * groups (`defaultParallelism` by default), `spark.sql.files.maxPartitionBytes`
    * as the cap and `spark.sql.files.openCostInBytes` as the weight of
    * opening a whole file; plain line-format files are cut.
    */
  private[graft] def planFiles(
      spark: SparkSession, files: Seq[(String, Long)], k: Int): Seq[Seq[Split]] = {
    def bytes(key: String) =
      org.apache.spark.network.util.JavaUtils.byteStringAsBytes(spark.conf.get(key))
    val codecs = new CompressionCodecFactory(spark.sparkContext.hadoopConfiguration)
    plan(files, k, bytes("spark.sql.files.maxPartitionBytes"),
      bytes("spark.sql.files.openCostInBytes"),
      f => isLineFormat(f) && codecs.getCodec(new Path(f)) == null)
  }

  /** The triples of the planned groups, one task per group, each stamped
    * with its listed file as `srcUrl`; `decl` sees every `@prefix`
    * declaration the Turtle files make.
    */
  private def parse(spark: SparkSession, groups: Seq[Seq[Split]],
      decl: PrefixDecl => Unit): RDD[Triple] = {
    val sc = spark.sparkContext
    val conf = sc.broadcast(new SerializableConfiguration(sc.hadoopConfiguration))
    sc.parallelize(groups, math.max(1, groups.size)).flatMap(_.iterator.flatMap { s =>
      if (isLineFormat(s.path)) lines(conf.value.value, s).flatMap(NTriples.parseLine(_, s.path))
      else turtle(conf.value.value, s.path).flatMap { r =>
        r.prefixes.foreach(decl)
        r.triples
      }
    })
  }

  /** Format-dispatching scan over a mixed path list (reference S2): triples
    * plus the distinct `@prefix` declarations of the Turtle inputs. The two
    * datasets share no parse: each action on one reads its files again;
    * [[scan]] gets both from one parse.
    */
  def read(spark: SparkSession, paths: Seq[String]): (Dataset[Triple], Dataset[PrefixDecl]) = {
    import spark.implicits._
    val files = listFiles(spark, paths)
    val ttl = files.map(_._1).filterNot(isLineFormat)
    val sc = spark.sparkContext
    val decls =
      if (ttl.isEmpty) spark.emptyDataset[PrefixDecl]
      else {
        val conf = sc.broadcast(new SerializableConfiguration(sc.hadoopConfiguration))
        spark.createDataset(sc.parallelize(ttl, math.min(ttl.size, sc.defaultParallelism))
          .flatMap(f => turtle(conf.value.value, f).flatMap(_.prefixes))).distinct()
      }
    val triples = parse(spark, planFiles(spark, files, sc.defaultParallelism), _ => ())
    (spark.createDataset(triples), decls)
  }

  /** A one-pass scan: the triple table, the listed files it reads, and the
    * `@prefix` declarations its Turtle parse met on the way, collected by an
    * accumulator instead of a second parse.
    */
  final class Scan private[graft] (
      val triples: Dataset[Triple],
      val files: Seq[(String, Long)],
      private[graft] val decls: DeclSet) {

    /** The distinct declarations, in the total order `(ns.length, ns, alias)`
      * the registry merge needs: when two files declare one namespace under
      * different aliases, the alias first in string order wins, whatever
      * order the tasks finished in. A retried or recomputed task reports its
      * declarations again; the set absorbs that. Complete once one job has
      * computed every partition of `triples`.
      */
    def declarations: Seq[PrefixDecl] = mergeOrder(decls.value)
  }

  /** Declarations in the registry's merge order `(ns.length, ns, alias)`. */
  def mergeOrder(decls: Iterable[PrefixDecl]): Seq[PrefixDecl] =
    decls.toSeq.distinct.sortBy(d => (d.ns.length, d.ns, d.alias))

  /** [[read]] with the declarations as a side output of the one parse. */
  def scan(spark: SparkSession, paths: Seq[String]): Scan =
    scan(spark, paths, spark.sparkContext.defaultParallelism)

  /** [[scan]] planned onto `k` groups. */
  private[graft] def scan(spark: SparkSession, paths: Seq[String], k: Int): Scan = {
    import spark.implicits._
    val decls = new DeclSet
    spark.sparkContext.register(decls, "rdf.prefix_decls")
    val files = listFiles(spark, paths)
    new Scan(spark.createDataset(parse(spark, planFiles(spark, files, k), decls.add)), files, decls)
  }

  /** Set of declarations, merged on the driver as tasks finish. */
  private[graft] final class DeclSet extends AccumulatorV2[PrefixDecl, Set[PrefixDecl]] {
    private var set = Set.empty[PrefixDecl]
    def isZero: Boolean = set.isEmpty
    def copy(): DeclSet = { val c = new DeclSet; c.set = set; c }
    def reset(): Unit = set = Set.empty
    def add(d: PrefixDecl): Unit = set += d
    def merge(other: AccumulatorV2[PrefixDecl, Set[PrefixDecl]]): Unit = set ++= other.value
    def value: Set[PrefixDecl] = set
  }
}
