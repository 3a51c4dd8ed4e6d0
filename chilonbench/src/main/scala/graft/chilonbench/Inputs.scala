package graft.chilonbench

import java.io.{BufferedWriter, OutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** splitmix64 stream: the same seed gives the same inputs on every host. */
final class Rng(seed: Long) {
  private var state = seed
  def nextLong(): Long = {
    state += 0x9e3779b97f4a7c15L
    var z = state
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  def double(): Double = (nextLong() >>> 11) * (1.0 / (1L << 53))
  def int(n: Int): Int = java.lang.Math.floorMod(nextLong(), n.toLong).toInt
  /** Log-uniform rank in [0, n): rank r is drawn about 1/(r+1) as often as rank 0. */
  def zipf(n: Int): Int = math.min(n - 1, (math.pow(n + 1.0, double()) - 1).toInt)
  def weighted(cum: Array[Double]): Int = {
    val u = double() * cum.last
    val i = java.util.Arrays.binarySearch(cum, u)
    if (i >= 0) i + 1 else -i - 1
  }
}

object Rng {
  def stream(seed: Long, k: Long): Rng = new Rng(new Rng(seed ^ (k * 0x632be59bd9b4e019L)).nextLong())
}

/** Namespaces the generators plant. */
object Ns {
  val Rdf = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
  val Rdfs = "http://www.w3.org/2000/01/rdf-schema#"
  val Xsd = "http://www.w3.org/2001/XMLSchema#"
  val Owl = "http://www.w3.org/2002/07/owl#"
  val Skos = "http://www.w3.org/2004/02/skos/core#"
  val Geo = "http://www.w3.org/2003/01/geo/wgs84_pos#"
  val Dcterms = "http://purl.org/dc/terms/"
  val Foaf = "http://xmlns.com/foaf/0.1/"
  val Schema = "https://schema.org/"
  val Dbr = "http://dbpedia.org/resource/"
  val Dbo = "http://dbpedia.org/ontology/"
  val Wd = "http://www.wikidata.org/entity/"
  val Wdt = "http://www.wikidata.org/prop/direct/"
  val Yago = "http://yago-knowledge.org/resource/"

  /** The community namespaces both RDF workloads use. */
  val community: Seq[String] =
    Seq(Rdf, Rdfs, Xsd, Owl, Skos, Geo, Dcterms, Foaf, Schema, Dbr, Dbo, Wd, Wdt, Yago)

  // rdf_nt_infer: unregistered hosts that only inference can register.
  // The tail host holds two children above Inference.MinNsSize plus a tail
  // of sub-threshold directories that together pass it: round 1 expands the
  // host into its two children, round 2 registers the host itself for the
  // tail. The two flat hosts have no suitable child and register in round 1.
  // With three domain candidates the expansion budget (Inference.MaxNs)
  // admits exactly the tail host's two children.
  val TailHost = "http://data.tailhost.test/"
  val TailRes = TailHost + "resource/"
  val TailItem = TailHost + "item/"
  val FlatA = "http://flat-a.test/"
  val FlatB = "http://flat-b.test/"
  /** Hosts whose occurrences stay below the inference threshold: UNKNOWN. */
  val Unlisted = Seq("http://u0.unlisted.test/r/", "http://u1.unlisted.test/r/")

  // ttl_declared: declared in every file, registered from the declarations
  val Core = "http://core.ttlhost.test/kb/" // the empty alias
  val Acme = "http://acme.ttlhost.test/def/"
  val Lab = "http://lab.ttlhost.test/res/"
}

sealed trait Term
/** `key` is the namespace the summary must resolve the IRI to, or UNKNOWN. */
final case class Iri(ns: String, local: String, key: String) extends Term
final case class Blank(label: String) extends Term
final case class Lit(lex: String, lang: String, dt: String) extends Term

/** Expected summary: (ns(s), ns(p), ns(o), is_datatype) -> occurrences. */
final class Expected {
  val counts = mutable.HashMap.empty[(String, String, String, Boolean), Long]
  def add(s: Term, p: Iri, o: Term): Unit = {
    val k = (Expected.key(s), p.key, Expected.key(o), o.isInstanceOf[Lit])
    counts(k) = counts.getOrElse(k, 0L) + 1L
  }
  def ++=(o: Expected): Unit = o.counts.foreach { case (k, n) => counts(k) = counts.getOrElse(k, 0L) + n }
}

object Expected {
  val Blank = "BLANK"
  val Unknown = "UNKNOWN"
  /** chilon groups plain literals under the `xsd` alias and language-tagged
    * ones under `rdf`; typed literals go to their datatype's namespace.
    */
  def key(t: Term): String = t match {
    case i: Iri => i.key
    case _: graft.chilonbench.Blank => Blank
    case Lit(_, null, null) => Ns.Xsd
    case Lit(_, _, null) => Ns.Rdf
    case Lit(_, _, dt) => Ns.Xsd.ensuring(dt.startsWith(Ns.Xsd))
  }
}

/** Generated RDF input: files, the expected summary and the namespaces that
  * must be registered, with the registry source each must show.
  */
final case class RdfInput(files: Seq[Path], expected: Expected, planted: Seq[(String, String)]) {
  def bytes: Long = files.map(Files.size).sum
}

object Inputs {

  private def writer(out: OutputStream): BufferedWriter =
    new BufferedWriter(new OutputStreamWriter(out, StandardCharsets.UTF_8), 1 << 16)

  private def inParallel[A](n: Int)(f: Int => A): Seq[A] = {
    implicit val ec: ExecutionContext = ExecutionContext.global
    Await.result(Future.sequence((0 until n).map(i => Future(f(i)))), Duration.Inf)
  }

  private val Langs = Array("en", "de", "fr", "pt")

  private def literal(rng: Rng, kind: Int): Lit = kind match {
    case 0 => Lit(s"Label ${rng.int(200000)}", Langs(rng.int(Langs.length)), null)
    case 1 => Lit(s"Text ${java.lang.Long.toHexString(rng.nextLong() >>> 20)}", null, null)
    case 2 => Lit(rng.int(10000000).toString, null, Ns.Xsd + "integer")
    case 3 => Lit(f"${1900 + rng.int(120)}%04d-${1 + rng.int(12)}%02d-${1 + rng.int(28)}%02d",
      null, Ns.Xsd + "date")
    case _ => Lit(String.format(java.util.Locale.ROOT, "%.4f", Double.box(rng.double() * 180 - 90)),
      null, Ns.Xsd + "double")
  }

  private def cum(ws: Double*): Array[Double] = ws.scanLeft(0.0)(_ + _).tail.toArray

  // ---- rdf_nt_infer -----------------------------------------------------

  private val ObjEntity = -1
  private val ObjClass = -2
  // (namespace, local name, object kind: a literal kind or an entity/class)
  private val ntPreds: Array[(String, String, Int)] = Array(
    (Ns.Rdf, "type", ObjClass), (Ns.Rdfs, "label", 0), (Ns.Foaf, "knows", ObjEntity),
    (Ns.Schema, "description", 1), (Ns.Dbo, "birthPlace", ObjEntity),
    (Ns.Owl, "sameAs", ObjEntity), (Ns.Foaf, "name", 0), (Ns.Dbo, "populationTotal", 2),
    (Ns.Schema, "birthDate", 3), (Ns.Dcterms, "subject", ObjEntity), (Ns.Skos, "prefLabel", 0),
    (Ns.Geo, "lat", 4), (Ns.Wdt, "P31", ObjEntity), (Ns.Dcterms, "title", 1),
    (Ns.Skos, "broader", ObjEntity), (Ns.Dbo, "wikiPageID", 2))
  private val classes = Array("Person", "Place", "Organization", "CreativeWork", "Event", "Thing",
    "Book", "Movie")
  // entity draw: dbr, wd, yago, tail/resource, tail/item, tail tail, flat-a, flat-b, blank
  private val entityCum = cum(26, 12, 6, 7, 6, 6, 7, 6, 12)
  private val TailShare = 6.0 / 88
  /** Entity occurrences per triple: one subject, plus an object on the
    * ObjEntity predicates (about 0.30 of triples under the rank skew).
    */
  private val EntityPerTriple = 1.30

  /** Sub-threshold directories under the tail host: about 400 occurrences each. */
  private def tailDirs(nTriples: Int): Int = math.max(4, math.ceil(nTriples * TailShare * EntityPerTriple / 400).toInt)

  private def entity(rng: Rng, nTriples: Int, dirs: Int): Term = {
    val pool = math.max(1000, nTriples)
    rng.weighted(entityCum) match {
      case 0 => Iri(Ns.Dbr, s"Entity_${rng.zipf(50000)}", Ns.Dbr)
      case 1 => Iri(Ns.Wd, s"Q${rng.zipf(50000)}", Ns.Wd)
      case 2 => Iri(Ns.Yago, s"Y${rng.zipf(20000)}", Ns.Yago)
      case 3 => Iri(Ns.TailRes, s"R${rng.int(pool)}", Ns.TailRes)
      case 4 => Iri(Ns.TailItem, s"I${rng.int(pool)}", Ns.TailItem)
      case 5 => Iri(s"${Ns.TailHost}misc${rng.int(dirs)}/", s"M${rng.int(pool)}", Ns.TailHost)
      case 6 => Iri(Ns.FlatA, s"A${rng.int(pool)}", Ns.FlatA)
      case 7 => Iri(Ns.FlatB, s"B${rng.int(pool)}", Ns.FlatB)
      case _ => Blank(s"b${rng.int(math.max(100, nTriples / 8))}")
    }
  }

  private def nt(t: Term): String = t match {
    case Iri(ns, local, _) => s"<$ns$local>"
    case Blank(l) => s"_:$l"
    case Lit(lex, null, null) => s""""$lex""""
    case Lit(lex, lang, null) => s""""$lex"@$lang"""
    case Lit(lex, _, dt) => s""""$lex"^^<$dt>"""
  }

  /** Occurrences of each unlisted host, kept below Inference.MinNsSize. */
  private val UnlistedPerHost = 300

  /** N-Triples: three plain `.nt` files (the first large enough that Spark
    * splits it across tasks) and one `.nt.bz2`, bzip2 being the splittable
    * codec. Shares of the triples: 50%, 20%, 20%, 10%.
    */
  def ntInfer(dir: Path, seed: Long, nTriples: Int): RdfInput = {
    Files.createDirectories(dir)
    val dirs = tailDirs(nTriples)
    val shares = Seq(0.5, 0.2, 0.2, 0.1)
    val parts = inParallel(shares.size) { f =>
      val rng = Rng.stream(seed, f)
      val exp = new Expected
      val compressed = f == shares.size - 1
      val path = dir.resolve(if (compressed) s"part-$f.nt.bz2" else s"part-$f.nt")
      val raw = Files.newOutputStream(path)
      val w = writer(
        if (compressed) new org.apache.commons.compress.compressors.bzip2.BZip2CompressorOutputStream(raw)
        else raw)
      try {
        def emit(s: Term, p: Iri, o: Term): Unit = {
          w.write(nt(s)); w.write(' '); w.write(nt(p)); w.write(' '); w.write(nt(o)); w.write(" .\n")
          exp.add(s, p, o)
        }
        val n = (nTriples * shares(f)).toInt
        var i = 0
        while (i < n) {
          val s = entity(rng, nTriples, dirs)
          val (pns, plocal, kind) = ntPreds(rng.zipf(ntPreds.length))
          val p = Iri(pns, plocal, pns)
          val o = kind match {
            case ObjClass => Iri(Ns.Schema, classes(rng.zipf(classes.length)), Ns.Schema)
            case ObjEntity => entity(rng, nTriples, dirs)
            case k => literal(rng, k)
          }
          emit(s, p, o)
          i += 1
        }
        if (f == 0) for (host <- Ns.Unlisted; j <- 0 until UnlistedPerHost)
          emit(Iri(host, s"x$j", Expected.Unknown), Iri(Ns.Rdfs, "label", Ns.Rdfs), literal(rng, 0))
      } finally w.close()
      (path, exp)
    }
    val expected = new Expected
    parts.foreach(p => expected ++= p._2)
    val planted =
      Seq(Ns.TailHost, Ns.TailRes, Ns.TailItem, Ns.FlatA, Ns.FlatB).map(_ -> "inference") ++
        Ns.community.map(_ -> "community")
    RdfInput(parts.map(_._1), expected, planted)
  }

  // ---- ttl_declared -----------------------------------------------------

  /** Declared in every file; the empty alias names the core namespace. */
  private val ttlPrefixes: Seq[(String, String)] = Seq(
    "rdf" -> Ns.Rdf, "rdfs" -> Ns.Rdfs, "xsd" -> Ns.Xsd, "owl" -> Ns.Owl, "skos" -> Ns.Skos,
    "dcterms" -> Ns.Dcterms, "foaf" -> Ns.Foaf, "schema" -> Ns.Schema, "dbr" -> Ns.Dbr,
    "dbo" -> Ns.Dbo, "wd" -> Ns.Wd, "" -> Ns.Core, "acme" -> Ns.Acme, "lab" -> Ns.Lab)
  private val aliasOf: Map[String, String] = ttlPrefixes.map(_.swap).toMap

  private val ttlPreds: Array[(String, String, Int)] = Array(
    (Ns.Rdfs, "label", 0), (Ns.Acme, "relatedTo", ObjEntity), (Ns.Schema, "description", 1),
    (Ns.Foaf, "knows", ObjEntity), (Ns.Dbo, "populationTotal", 2), (Ns.Core, "partOf", ObjEntity),
    (Ns.Schema, "startDate", 3), (Ns.Acme, "score", 4), (Ns.Skos, "prefLabel", 0),
    (Ns.Owl, "sameAs", ObjEntity), (Ns.Dcterms, "title", 1), (Ns.Lab, "measured", 2))
  private val ttlClasses: Array[(String, String)] = Array(
    (Ns.Schema, "Person"), (Ns.Acme, "Widget"), (Ns.Schema, "Place"), (Ns.Foaf, "Agent"),
    (Ns.Core, "Record"), (Ns.Skos, "Concept"))
  // entity draw: core, lab, dbr, wd, acme, labelled blank
  private val ttlEntityCum = cum(30, 20, 15, 10, 5, 10)

  private def ttlEntity(rng: Rng, pool: Int): Term = rng.weighted(ttlEntityCum) match {
    case 0 => Iri(Ns.Core, s"e${rng.int(pool)}", Ns.Core)
    case 1 => Iri(Ns.Lab, s"r${rng.int(pool)}", Ns.Lab)
    case 2 => Iri(Ns.Dbr, s"Entity_${rng.zipf(50000)}", Ns.Dbr)
    case 3 => Iri(Ns.Wd, s"Q${rng.zipf(50000)}", Ns.Wd)
    case 4 => Iri(Ns.Acme, s"thing${rng.int(pool)}", Ns.Acme)
    case _ => Blank(s"b${rng.int(math.max(100, pool / 8))}")
  }

  private def ttl(t: Term): String = t match {
    case Iri(ns, local, _) => s"${aliasOf(ns)}:$local"
    case Blank(l) => s"_:$l"
    case Lit(lex, null, null) => s""""$lex""""
    case Lit(lex, lang, null) => s""""$lex"@$lang"""
    // integers in the bare numeric form, which Turtle types as xsd:integer
    case Lit(lex, _, dt) if dt == Ns.Xsd + "integer" => lex
    case Lit(lex, _, dt) => s""""$lex"^^xsd:${dt.stripPrefix(Ns.Xsd)}"""
  }

  /** Gzipped Turtle, eight files: subject blocks with `;` and `,` lists,
    * `a`, labelled and anonymous blank nodes, and plain, language-tagged,
    * typed and bare numeric literals.
    */
  def ttlDeclared(dir: Path, seed: Long, nTriples: Int): RdfInput = {
    Files.createDirectories(dir)
    val nFiles = 8
    val pool = math.max(1000, nTriples / 2)
    val typeP = Iri(Ns.Rdf, "type", Ns.Rdf)
    val nameP = Iri(Ns.Foaf, "name", Ns.Foaf)
    val scoreP = Iri(Ns.Acme, "score", Ns.Acme)
    val parts = inParallel(nFiles) { f =>
      val rng = Rng.stream(seed, 100 + f)
      val exp = new Expected
      val path = dir.resolve(s"part-$f.ttl.gz")
      val w = writer(new java.util.zip.GZIPOutputStream(Files.newOutputStream(path), 1 << 16))
      try {
        ttlPrefixes.foreach { case (a, ns) => w.write(s"@prefix $a: <$ns> .\n") }
        w.write('\n')
        val target = nTriples / nFiles
        var n = 0
        while (n < target) {
          val s = ttlEntity(rng, pool)
          val pos = mutable.ArrayBuffer.empty[String]
          if (rng.int(10) < 7) {
            val (cns, cl) = ttlClasses(rng.zipf(ttlClasses.length))
            val c = Iri(cns, cl, cns)
            pos += s"a ${ttl(c)}"
            exp.add(s, typeP, c); n += 1
          }
          val nPreds = 2 + rng.int(4)
          var k = 0
          while (k < nPreds) {
            val (pns, pl, kind) = ttlPreds(rng.zipf(ttlPreds.length))
            val p = Iri(pns, pl, pns)
            val nObj = if (rng.int(5) == 0) 2 else 1
            val objs = (0 until nObj).map { _ =>
              if (kind == ObjEntity && rng.int(8) == 0) {
                // anonymous blank node with its own two triples
                val name = literal(rng, 0)
                val score = literal(rng, 4)
                exp.add(s, p, Blank("anon")); exp.add(Blank("anon"), nameP, name)
                exp.add(Blank("anon"), scoreP, score); n += 3
                s"[ ${ttl(nameP)} ${ttl(name)} ; ${ttl(scoreP)} ${ttl(score)} ]"
              } else {
                val o = if (kind == ObjEntity) ttlEntity(rng, pool) else literal(rng, kind)
                exp.add(s, p, o); n += 1
                ttl(o)
              }
            }
            pos += s"${ttl(p)} ${objs.mkString(" , ")}"
            k += 1
          }
          w.write(ttl(s)); w.write(' '); w.write(pos.mkString(" ;\n    ")); w.write(" .\n")
        }
      } finally w.close()
      (path, exp)
    }
    val expected = new Expected
    parts.foreach(p => expected ++= p._2)
    val planted = Seq(Ns.Core, Ns.Acme, Ns.Lab).map(_ -> "graph_file") ++
      Ns.community.filterNot(Set(Ns.Geo, Ns.Wdt, Ns.Yago)).map(_ -> "community")
    RdfInput(parts.map(_._1), expected, planted)
  }

  // ---- pages_kg ---------------------------------------------------------

  /** The seeded `Synth.pages` table, written once as Parquet. */
  def pages(spark: org.apache.spark.sql.SparkSession, dir: Path, seed: Long, n: Long, parts: Int): Path = {
    graft.extract.Synth.pages(spark, n, seed, parts).write.parquet(dir.toString)
    dir
  }
}
