package graft.rdf

import graft.model.{PrefixDecl, Triple}
import java.nio.charset.StandardCharsets
import org.apache.hadoop.fs.{Path, PathFilter}
import org.apache.hadoop.io.compress.CompressionCodecFactory
import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.util.{AccumulatorV2, SerializableConfiguration}

/** RDF file sources (reference S1-S4, chilon_rs `src/extract.rs:44-66`,
  * `src/parse.rs:63-86`).
  *
  * Format dispatch by extension after stripping `.gz`/`.bz2` (Hadoop codecs
  * decompress transparently):
  *   - `.nt` / `.nq`: line-delimited, parsed fully distributed via
  *     `spark.read.textFile(...).flatMap` — no per-file state, clean splits;
  *   - `.ttl` (and anything else, like the reference's fallback): stateful
  *     `@prefix`, each file parsed whole by one task; files are listed
  *     like `binaryFiles` lists them and packed by size into at most
  *     `defaultParallelism` tasks (the reference parses one file per
  *     thread).
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

  /** Distributed scan of N-Triples / N-Quads files. */
  def readNTriples(spark: SparkSession, paths: Seq[String]): Dataset[Triple] = {
    import spark.implicits._
    spark.read
      .textFile(paths: _*)
      .select(
        org.apache.spark.sql.functions.input_file_name().as("f"),
        org.apache.spark.sql.functions.col("value"))
      .as[(String, String)]
      .flatMap { case (f, line) => NTriples.parseLine(line, f) }
  }

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
    * second scan.
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

  /** The files a Turtle input list names, listed as `binaryFiles` lists
    * them: globs expand, a directory contributes its direct children
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

  /** Parse batches of the listed Turtle files: one task per group of
    * [[pack]], at most `defaultParallelism` groups, so every file streams
    * whole through one [[TurtleStream]] (the parser state is per file) while
    * the files spread over the cores.
    *
    * Each file streams through [[TurtleStream]] (statement-boundary chunker
    * feeding the stateful parser), so task memory is bounded by the longest
    * single statement + one batch — a multi-GB `.ttl` file never
    * materializes as one JVM String (the reference's constant-memory
    * contract, `src/parse.rs:24-51` at `Readme.md:23` scale). `.gz`/`.bz2`
    * files are wrapped in their Hadoop codec stream (the codecs the text
    * path uses).
    */
  private def parseTurtle(spark: SparkSession, files: Seq[(String, Long)]): RDD[Turtle.Result] = {
    val sc = spark.sparkContext
    val openCost = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      spark.conf.get("spark.sql.files.openCostInBytes"))
    val groups = pack(files, sc.defaultParallelism, openCost)
    val conf = sc.broadcast(new SerializableConfiguration(sc.hadoopConfiguration))
    sc.parallelize(groups, math.max(1, groups.size)).flatMap(_.iterator.flatMap { f =>
      val path = new Path(f)
      val raw = path.getFileSystem(conf.value.value).open(path)
      Option(TaskContext.get()).foreach(_.addTaskCompletionListener[Unit](_ => raw.close()))
      val codec = new CompressionCodecFactory(conf.value.value).getCodec(path)
      val in: java.io.InputStream = if (codec != null) codec.createInputStream(raw) else raw
      TurtleStream.batches(new java.io.InputStreamReader(in, StandardCharsets.UTF_8), f)
    })
  }

  /** Per-file scan of Turtle files; returns triples + the distinct `@prefix`
    * declarations. The two datasets share one lineage but each action on
    * one parses the files again; [[scan]] gets both from one parse.
    */
  def readTurtle(spark: SparkSession, paths: Seq[String]): (Dataset[Triple], Dataset[PrefixDecl]) = {
    import spark.implicits._
    val parsed = parseTurtle(spark, listFiles(spark, paths))
    val triples = spark.createDataset(parsed.flatMap(_.triples))
    val decls = spark.createDataset(parsed.flatMap(_.prefixes)).distinct()
    (triples, decls)
  }

  /** The line-format files' scan united with the Turtle one (reference S2). */
  private def union(spark: SparkSession, lineFiles: Seq[String],
      turtle: Option[Dataset[Triple]]): Dataset[Triple] = {
    import spark.implicits._
    (Option.when(lineFiles.nonEmpty)(readNTriples(spark, lineFiles)) ++ turtle)
      .reduceOption(_ union _).getOrElse(spark.emptyDataset[Triple])
  }

  /** Format-dispatching scan over a mixed path list (reference S2): triples
    * plus the distinct `@prefix` declarations of the Turtle inputs. Paths
    * that are not line-format files (directories and globs included) take
    * the Turtle path, which also parses N-Triples.
    */
  def read(spark: SparkSession, paths: Seq[String]): (Dataset[Triple], Dataset[PrefixDecl]) = {
    import spark.implicits._
    val (lineFiles, ttlFiles) = paths.partition(isLineFormat)
    val ttl = Option.when(ttlFiles.nonEmpty)(readTurtle(spark, ttlFiles))
    (union(spark, lineFiles, ttl.map(_._1)), ttl.fold(spark.emptyDataset[PrefixDecl])(_._2))
  }

  /** A one-pass scan: the triple table, and the `@prefix` declarations its
    * Turtle parse met on the way, collected by an accumulator instead of a
    * second parse.
    */
  final class Scan private[RdfSource] (val triples: Dataset[Triple], decls: DeclSet) {

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
  def scan(spark: SparkSession, paths: Seq[String]): Scan = {
    import spark.implicits._
    val decls = new DeclSet
    spark.sparkContext.register(decls, "rdf.prefix_decls")
    val (lineFiles, ttlFiles) = paths.partition(isLineFormat)
    val ttl = Option.when(ttlFiles.nonEmpty) {
      spark.createDataset(parseTurtle(spark, listFiles(spark, ttlFiles)).flatMap { r =>
        r.prefixes.foreach(decls.add)
        r.triples
      })
    }
    new Scan(union(spark, lineFiles, ttl), decls)
  }

  /** Set of declarations, merged on the driver as tasks finish. */
  private[rdf] final class DeclSet extends AccumulatorV2[PrefixDecl, Set[PrefixDecl]] {
    private var set = Set.empty[PrefixDecl]
    def isZero: Boolean = set.isEmpty
    def copy(): DeclSet = { val c = new DeclSet; c.set = set; c }
    def reset(): Unit = set = Set.empty
    def add(d: PrefixDecl): Unit = set += d
    def merge(other: AccumulatorV2[PrefixDecl, Set[PrefixDecl]]): Unit = set ++= other.value
    def value: Set[PrefixDecl] = set
  }
}
