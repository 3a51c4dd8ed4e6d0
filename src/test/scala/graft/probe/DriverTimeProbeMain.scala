package graft.probe

import graft.extract.Synth
import graft.model.Page
import graft.pipeline.{Pipeline, RdfPipeline}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** Where a run's wall goes: for each stage of `RdfPipeline.run` /
  * `Pipeline.run` on an input shaped like a benchmark workload
  * (`chilonbench/DESIGN.md`), its wall, the Spark jobs and tasks it started,
  * the wall during which one of its jobs ran, and the driver-only
  * remainder. A `SparkListener` attributes each job to its stage by the
  * `Pipeline.StageProperty` the stage sets; `(outside)` is the run's wall
  * outside every stage and `(to 1st job)` the driver's time before the
  * run's first job starts. Prints the median of each figure over runs 3..N
  * of N in one JVM, then digests of the last run's outputs, to compare
  * commits.
  *
  *   sbt -batch "Test/runMain graft.probe.DriverTimeProbeMain ttl_declared 12"
  *
  * Arguments: the workload (`rdf_nt_infer`, `ttl_declared`, `pages_kg` or
  * `all`, the default), the runs per workload (12) and the cores (4).
  */
object DriverTimeProbeMain {

  private final case class JobRec(stage: String, startMs: Long, var endMs: Long, var tasks: Int)

  private final case class StageRow(name: String, wallMs: Long, jobs: Int, tasks: Int,
      jobWallMs: Long)

  def main(args: Array[String]): Unit = {
    val which = args.headOption.getOrElse("all")
    val runs = args.lift(1).fold(12)(_.toInt)
    val cores = args.lift(2).fold(4)(_.toInt)
    val spark = SparkSession.builder().master(s"local[$cores]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val jobs = new ConcurrentHashMap[Int, JobRec]()
    val stageToJob = new ConcurrentHashMap[Int, Int]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val stage = Option(e.properties).flatMap(p => Option(p.getProperty(Pipeline.StageProperty)))
        jobs.put(e.jobId, JobRec(stage.getOrElse("-"), e.time, e.time, 0))
        e.stageIds.foreach(stageToJob.put(_, e.jobId))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(stageToJob.get(e.stageId)).flatMap(j => Option(jobs.get(j)))
          .foreach(r => r.synchronized(r.tasks += 1))
    })
    val base = Files.createTempDirectory("driver-time-probe")
    try {
      val workloads =
        if (which == "all") Seq("rdf_nt_infer", "ttl_declared", "pages_kg") else Seq(which)
      workloads.foreach { w =>
        val run = workload(spark, w, Files.createDirectories(base.resolve(w)))
        val perRun = (1 to runs).map { i =>
          val out = base.resolve(s"$w-out-$i").toString
          jobs.clear()
          val t0 = System.currentTimeMillis()
          val stages = run(out)
          val wall = System.currentTimeMillis() - t0
          org.apache.spark.ListenerBusDrain(spark.sparkContext)
          val recs = jobs.values().asScala.toSeq
          val rows = stages.map { m =>
            val in = recs.filter(_.stage == m.name)
            StageRow(m.name, m.wallMs, in.size, in.map(_.tasks).sum, covered(in))
          }
          rows :+ StageRow("(outside)", wall - stages.map(_.wallMs).sum,
            recs.count(_.stage == "-"), recs.filter(_.stage == "-").map(_.tasks).sum,
            covered(recs.filter(_.stage == "-"))) :+
            StageRow("(run)", wall, recs.size, recs.map(_.tasks).sum, covered(recs)) :+
            StageRow("(to 1st job)", recs.map(_.startMs).minOption.fold(wall)(_ - t0), 0, 0, 0L)
        }
        report(w, perRun.drop(math.min(2, runs - 1)))
        println(digest(base.resolve(s"$w-out-$runs")))
      }
    } finally {
      spark.stop()
      deleteTree(base)
    }
  }

  /** The wall during which at least one of `recs` ran. */
  private def covered(recs: Seq[JobRec]): Long = {
    var total = 0L
    var end = Long.MinValue
    recs.map(r => (r.startMs, r.endMs)).sortBy(_._1).foreach { case (a, b) =>
      if (b > end) { total += b - math.max(a, end); end = b }
    }
    total
  }

  /** What a run wrote that must not depend on the commit: the sinks'
    * digests, `infer_hk` without its wall time, and the scan's task fields.
    */
  private def digest(out: Path): String = {
    def sha(f: String) = java.security.MessageDigest.getInstance("SHA-256")
      .digest(Files.readAllBytes(out.resolve(f))).take(6).map("%02x".format(_)).mkString
    val tasks = new com.fasterxml.jackson.databind.ObjectMapper().readTree(out.resolve("tasks.json").toFile)
    tasks.get("infer_hk").asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode].remove("wall_ms")
    (Seq("output.ttl", "all-prefixes.json", "vis-data.json", "used-groups.tsv").map(f => s"$f=${sha(f)}") ++
      Seq("infer_hk", "scan_partition_rows", "scan_prefix_entries", "scan_cached_rows")
        .map(k => s"$k=${Option(tasks.get(k)).fold("-")(_.toString)}")).mkString("outputs: ", " ", "")
  }

  private def median(xs: Seq[Long]): Long = xs.sorted.apply(xs.size / 2)

  private def report(workload: String, runs: Seq[Seq[StageRow]]): Unit = {
    println(s"== $workload: median of ${runs.size} runs (ms)")
    println(f"${"stage"}%-16s ${"wall"}%7s ${"jobs"}%5s ${"tasks"}%6s ${"in jobs"}%8s ${"driver"}%7s")
    // stages by name, in the order of the last run
    runs.last.map(_.name).foreach { name =>
      val rs = runs.flatMap(_.find(_.name == name))
      val wall = median(rs.map(_.wallMs))
      val inJobs = median(rs.map(_.jobWallMs))
      println(f"$name%-16s $wall%7d ${median(rs.map(_.jobs.toLong))}%5d " +
        f"${median(rs.map(_.tasks.toLong))}%6d $inJobs%8d ${median(rs.map(r => r.wallMs - r.jobWallMs))}%7d")
    }
  }

  /** An input shaped like `w` under `dir`, and the run over it into a
    * given output directory, returning its stage metrics.
    */
  private def workload(spark: SparkSession, w: String,
      dir: Path): String => Seq[Pipeline.StageMetrics] = {
    val cfg = Pipeline.Config(outDir = "")
    w match {
      case "rdf_nt_infer" =>
        val paths = ntInfer(spark, dir, 150000)
        out => RdfPipeline.run(spark, paths, cfg.copy(outDir = out)).metrics
      case "ttl_declared" =>
        val paths = ttlDeclared(dir, 8, 10000)
        out => RdfPipeline.run(spark, paths, cfg.copy(outDir = out)).metrics
      case "pages_kg" =>
        val pagesDir = dir.resolve("pages").toString
        Synth.pages(spark, 15000, 1L, spark.sparkContext.defaultParallelism)
          .write.parquet(pagesDir)
        out => {
          import spark.implicits._
          Pipeline.run(spark, spark.read.parquet(pagesDir).as[Page], cfg.copy(outDir = out)).metrics
        }
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
  }

  /** Three `.nt` files and one `.nt.bz2` holding 50/20/20/10% of `n` lines:
    * a host whose directories inference registers, two flat hosts, objects
    * under a community namespace, and hosts below the threshold that stay
    * unresolved.
    */
  private def ntInfer(spark: SparkSession, dir: Path, n: Int): Seq[String] = {
    val knows = "<http://dbpedia.org/ontology/knows>"
    val lines = (0 until n).map { i =>
      val s = i % 20 match {
        case k if k < 8 => s"http://data.tailhost.test/resource/R$i"
        case k if k < 13 => s"http://data.tailhost.test/item/I$i"
        case k if k < 16 => s"http://flat-a.test/A$i"
        case k if k < 19 => s"http://flat-b.test/B$i"
        case _ => s"http://u${i % 97}.unlisted.test/r/x$i"
      }
      val o = if (i % 3 == 0) s"<http://dbpedia.org/resource/E${i % 5000}>" else "\"v" + i + "\""
      s"<$s> $knows $o .\n"
    }
    val cuts = Seq(0, 5, 7, 9, 10).map(_ * n / 10)
    cuts.sliding(2).zipWithIndex.map { case (Seq(a, b), f) =>
      write(spark, dir.resolve(if (f == 3) s"part-$f.nt.bz2" else s"part-$f.nt"),
        lines.slice(a, b).mkString)
    }.toVector
  }

  /** `files` `.ttl.gz` files of `n` subjects each, every namespace declared
    * at the file's head.
    */
  private def ttlDeclared(dir: Path, files: Int, n: Int): Seq[String] =
    (0 until files).map { f =>
      write(null, dir.resolve(s"part-$f.ttl.gz"),
        s"@prefix d$f: <http://declared$f.example.org/ns/> .\n" +
          "@prefix dbo: <http://dbpedia.org/ontology/> .\n" +
          (0 until n).map(i => s"d$f:s$i dbo:knows d$f:o${i % 7} ; dbo:name \"n$i\" .\n").mkString)
    }

  /** Writes `body` to `p`, gzip- or bzip2-compressed by its suffix. */
  private def write(spark: SparkSession, p: Path, body: String): String = {
    val raw = Files.newOutputStream(p)
    val out =
      if (p.toString.endsWith(".gz")) new java.util.zip.GZIPOutputStream(raw)
      else if (p.toString.endsWith(".bz2")) {
        val codec = new org.apache.hadoop.io.compress.BZip2Codec()
        codec.setConf(spark.sparkContext.hadoopConfiguration)
        codec.createOutputStream(raw)
      } else raw
    try out.write(body.getBytes(UTF_8)) finally out.close()
    p.toString
  }

  private def deleteTree(p: Path): Unit = {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.deleteIfExists(f))
    finally s.close()
  }
}
