package graft.chilonbench

import graft.model.Kind
import graft.summarize.Normalize
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{SparkSession, functions => F}
import scala.collection.mutable
import scala.util.control.NonFatal

/** Benchmark of the chilon path: one seeded workload per process, or each
  * in turn with `--workload all`.
  *
  * {{{
  * Main --workload <name|all> --seed <n> --seconds <s> --trace <0|1> --size <full|smoke>
  *      --cores <k> --run-dir <dir> [--trace-out <file>]
  * }}}
  *
  * Untraced (`--trace 0`), jobs go through the program's public entry
  * points and the end-to-end metrics are reported. Traced (`--trace 1`),
  * the same job is re-composed from the layer functions with a span around
  * each call and the per-layer metrics are reported. Every job's output is
  * checked. The last line of standard output is the result as JSON.
  */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
      size: Size, cores: Int, runDir: Path, traceOut: Option[Path])

  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      Size(kv.getOrElse("size", "full")), need("cores").toInt, Paths.get(need("run-dir")),
      kv.get("trace-out").map(Paths.get(_)))
  }

  /** `--workload all` runs every workload in turn in one session. */
  def main(args: Array[String]): Unit = {
    val code =
      try {
        val o = parse(args)
        val names = if (o.workload == "all") Workload.names else Seq(o.workload)
        val env = new Env(o)
        try names.map(w => new Bench(o.copy(workload = w), env).run()).max
        finally env.stop()
      } catch { case e: IllegalArgumentException => System.err.println(s"chilonbench: $e"); 2 }
    System.exit(code)
  }

  val EndToEnd: Seq[(String, String)] = Seq(
    "triples_per_s" -> "triples/s", "setup_s" -> "s", "shuffle_mb_per_mtriple" -> "MB/Mtriple",
    "stored_mb_per_mtriple" -> "MB/Mtriple", "heap_peak_mb" -> "MB")

  val PerLayer: Seq[(String, String)] = Seq(
    "rdf.s" -> "s", "rdf.task_s" -> "s", "rdf.util" -> "ratio", "rdf.triples" -> "count",
    "rdf.input_mb" -> "MB", "rdf.prefix_decls" -> "count",
    "extract.s" -> "s", "extract.task_s" -> "s", "extract.util" -> "ratio",
    "extract.task_skew" -> "ratio", "extract.pages" -> "count", "extract.triples" -> "count",
    "ns.s" -> "s", "ns.rounds" -> "count", "ns.candidates" -> "count", "ns.added_ns" -> "count",
    "ns.added_per_candidate" -> "ratio", "ns.task_s" -> "s", "ns.jobs" -> "count",
    "ns.shuffle_mb" -> "MB", "ns.resolve_iris_per_s" -> "1/s",
    "summarize.s" -> "s", "summarize.task_s" -> "s", "summarize.util" -> "ratio",
    "summarize.task_skew" -> "ratio", "summarize.rows" -> "count", "summarize.shuffle_mb" -> "MB",
    "sinks.s" -> "s", "sinks.bytes" -> "bytes",
    "pipeline.snapshot_s" -> "s", "pipeline.snapshot_mb" -> "MB", "pipeline.persist_mb" -> "MB",
    "pipeline.jobs" -> "count", "pipeline.tasks" -> "count", "pipeline.driver_s" -> "s",
    "jvm.gc_s" -> "s", "jvm.heap_peak_mb" -> "MB",
    "setup.session_s" -> "s", "setup.generate_s" -> "s", "setup.warmup_s" -> "s",
    "trace.overhead_frac" -> "ratio", "pipeline.core_scaling" -> "ratio")

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def bytesUnder(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.delete(x))
      finally s.close()
    }
}

/** The Spark session and listener the workloads of one process share. */
final class Env(o: Main.Opts) {
  val listener = new TaskListener
  var spark: SparkSession = _
  /** JVM uptime when the first session was ready. */
  var sessionS = 0.0

  def start(cores: Int): SparkSession = {
    spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("chilonbench")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.local.dir", o.runDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", o.runDir.resolve("warehouse").toString)
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.addSparkListener(listener)
    spark
  }

  def stop(): Unit = if (spark != null) {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    spark = null
  }
}

/** Figures of one untraced job. */
final case class JobStat(wallS: Double, triples: Long, shuffleBytes: Long, storedBytes: Long,
    heapMb: Double)

final class Bench(o: Main.Opts, env: Env) {
  import Main._

  /** No timed job starts after this much uptime, so the process ends in time. */
  private val UptimeLimitS = 120.0

  private val wl = Workload(o.workload, o.size)
  private val listener = env.listener
  private def spark = env.spark
  private var step = "start"
  private var attempted = 0
  private var failed = 0

  private def uptimeS = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0

  private def fail(what: String, msg: String): Unit = {
    failed += 1
    System.err.println(s"chilonbench: workload ${o.workload}, step $what: $msg")
  }

  def run(): Int =
    try {
      step = "session"
      if (spark == null) {
        Files.createDirectories(o.runDir)
        env.start(o.cores)
        Heap.install()
        env.sessionS = uptimeS
      }
      val sessionS = env.sessionS

      step = "generate"
      val gen = (1 to o.size.genRepeats).map { r =>
        val dir = o.runDir.resolve(s"${o.workload}-input-$r")
        val t0 = System.nanoTime()
        wl.generate(spark, dir, o.seed, o.cores)
        val s = secondsSince(t0)
        if (r < o.size.genRepeats) deleteTree(dir)
        s
      }

      val w0 = System.nanoTime()
      (1 to o.size.warmupJobs).foreach(i => job(s"warm-up-$i"))
      val warmupS = secondsSince(w0)
      println(f"setup: session $sessionS%.3f s, generate ${gen.map(g => f"$g%.3f").mkString("/")} s, " +
        f"warm-up $warmupS%.3f s")

      val metrics =
        if (o.trace) traced(sessionS, median(gen), warmupS)
        else untraced(sessionS + median(gen) + warmupS)
      report(metrics)
      0
    } catch {
      case e: Throwable =>
        System.err.println(s"chilonbench: workload ${o.workload} failed at step $step: $e")
        e.printStackTrace()
        1
    }

  private def report(metrics: Seq[(String, String, Double)]): Unit = {
    println(s"chilonbench ${o.workload} seed=${o.seed} cores=${o.cores} trace=${if (o.trace) 1 else 0}")
    metrics.foreach { case (n, u, v) => println(f"  $n%-28s $v%16.6f $u") }
    println(f"  ${"failed_frac"}%-28s ${failed.toDouble / math.max(1, attempted)}%16.6f ratio" +
      s"  ($failed of $attempted jobs)")
    val ms = metrics.map { case (n, u, v) =>
      s"${Json.str(n)}: {\"value\": ${Json.num(v)}, \"unit\": ${Json.str(u)}}"
    }.mkString(", ")
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": {$ms}}""")
  }

  private def persistedBytes(): Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  /** Drops the job's persisted triples; cached blocks must not outlive a job. */
  private def release(res: JobOut): Option[String] = {
    res.triples.unpersist(blocking = true)
    val left = spark.sparkContext.getRDDStorageInfo
    if (left.isEmpty) None
    else {
      dropCached()
      Some(s"cached blocks remain after the job: ${left.map(_.name).mkString(", ")}")
    }
  }

  /** After a failed job: nothing it left may reach the next one. */
  private def dropCached(): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))

  /** One untraced job with its output check; None when it failed. */
  private def job(label: String): Option[JobStat] = {
    step = label
    attempted += 1
    val out = o.runDir.resolve(s"${o.workload}-out-$label")
    listener.take(spark)
    Heap.reset()
    val t0 = System.nanoTime()
    try {
      val res = wl.run(spark, out)
      val wall = secondsSince(t0)
      val heapMb = Heap.peakMb()
      val shuffle = listener.take(spark)._2.map(_.shuffleWriteBytes).sum
      val stored = persistedBytes() + bytesUnder(out.resolve("triples")) +
        bytesUnder(out.resolve("summary"))
      val leftover = release(res)
      val problem = wl.check(out, res).orElse(leftover)
      deleteTree(out)
      System.err.println(f"chilonbench: $label%-12s wall $wall%.3f s, ${res.inputTriples} triples")
      problem match {
        case Some(p) => fail(label, p); None
        case None => Some(JobStat(wall, res.inputTriples, shuffle, stored, heapMb))
      }
    } catch {
      case NonFatal(e) =>
        fail(label, e.toString)
        e.printStackTrace()
        dropCached()
        deleteTree(out)
        None
    }
  }

  /** Jobs back to back for `--seconds`, and at least `minJobs`. */
  private def timedLoop[A](f: Int => Option[A]): Seq[A] = {
    val t0 = System.nanoTime()
    val out = mutable.ArrayBuffer.empty[A]
    var i = 0
    while (i < o.size.minJobs || (secondsSince(t0) < o.seconds && uptimeS < UptimeLimitS)) {
      i += 1
      out ++= f(i)
    }
    if (out.isEmpty) throw new IllegalStateException("no timed job succeeded")
    out.toSeq
  }

  private def untraced(setupS: Double): Seq[(String, String, Double)] = {
    val stats = timedLoop(i => job(s"timed-$i"))
    def perM(bytes: JobStat => Long) = median(stats.map(s => bytes(s) / 1e6 / (s.triples / 1e6)))
    val values = Map(
      "triples_per_s" -> median(stats.map(s => s.triples / s.wallS)),
      "setup_s" -> setupS,
      "shuffle_mb_per_mtriple" -> perM(_.shuffleBytes),
      "stored_mb_per_mtriple" -> perM(_.storedBytes),
      "heap_peak_mb" -> median(stats.map(_.heapMb)))
    EndToEnd.map { case (n, u) => (n, u, values(n)) }
  }

  // ---- traced run ---------------------------------------------------------

  /** IRIs of the triple table resolved against the final registry, per second. */
  private def resolveProbe(res: JobOut): Double = {
    spark.sparkContext.setJobGroup("probe", "probe", interruptOnCancel = false)
    try {
      val iris = res.triples.select(F.explode(F.array(
        F.when(F.col("sKind") === Kind.IRI, F.col("s")), F.col("p"),
        F.when(F.col("oKind") === Kind.IRI, F.col("o")))).as("iri"))
        .filter(F.col("iri").isNotNull)
      val t0 = System.nanoTime()
      val n = iris.agg(F.count(F.lit(1)), F.count(Normalize.resolveCol(F.col("iri"), res.registry)))
        .head().getLong(0)
      n / secondsSince(t0)
    } finally spark.sparkContext.clearJobGroup()
  }

  /** Wall time inside [t0, t1] (epoch ms) during which no task ran. */
  private def idleSeconds(t0: Long, t1: Long, tasks: Seq[TaskRec]): Double = {
    var covered = 0L
    var end = t0
    tasks.map(t => (math.max(t.launchMs, t0), math.min(t.finishMs, t1)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
      .foreach { case (a, b) =>
        if (b > end) { covered += b - math.max(a, end); end = b }
      }
    (t1 - t0 - covered) / 1000.0
  }

  private def skew(ts: Seq[TaskRec]): Double = {
    val med = median(ts.map(_.seconds))
    if (ts.isEmpty || med <= 0) 0.0 else ts.map(_.seconds).max / med
  }

  /** Per-layer figures of one traced job. */
  private def layerFigures(tr: Tracer, root: Span, jobs: Seq[JobRec], tasks: Seq[TaskRec],
      res: JobOut, out: Path): Map[String, Double] = {
    val spans = tr.subtree(root).filter(_.id != root.id)
    val m = mutable.Map.empty[String, Double]
    def groupsOf(layer: String) = spans.filter(_.layer == layer).map(_.group).toSet
    def selfS(layer: String) = spans.filter(_.layer == layer).map(tr.selfSeconds).sum
    // Extraction runs inside the snapshot's Parquet write: the Spark job of
    // the extract span with the most task time. The rest of that span (the
    // page table's schema read, the snapshot's read-back and row count) is
    // snapshot cost.
    val extractJob = jobs.filter(j => groupsOf("extract")(j.group))
      .maxByOption(j => tasks.filter(_.job == j.id).map(_.seconds).sum)
    val extractS = extractJob.fold(0.0)(j => (j.endMs - j.startMs) / 1000.0)
    def layerTasks(layer: String) = layer match {
      case "extract" => tasks.filter(t => extractJob.exists(_.id == t.job))
      case l => val g = groupsOf(l); tasks.filter(t => g(t.group))
    }
    for (l <- Seq("rdf", "extract", "ns", "summarize")) {
      val wall = if (l == "extract") extractS else selfS(l)
      val ts = layerTasks(l)
      val taskS = ts.map(_.seconds).sum
      m(s"$l.s") = wall
      m(s"$l.task_s") = taskS
      m(s"$l.util") = if (wall > 0) taskS / (wall * o.cores) else 0.0
      m(s"$l.task_skew") = skew(ts)
      m(s"$l.shuffle_mb") = ts.map(_.shuffleWriteBytes).sum / 1e6
    }
    val hk = res.hk.get
    m("rdf.triples") = if (groupsOf("rdf").nonEmpty) res.inputTriples.toDouble else 0.0
    m("rdf.prefix_decls") = res.prefixDecls.toDouble
    m("rdf.input_mb") = wl match { case r: RdfWorkload => r.inputMb; case _ => 0.0 }
    m("extract.pages") = wl match { case p: PagesWorkload => p.pages.toDouble; case _ => 0.0 }
    m("extract.triples") = if (groupsOf("extract").nonEmpty) res.inputTriples.toDouble else 0.0
    m("ns.rounds") = hk.rounds
    m("ns.candidates") = hk.inferredNs.toDouble
    m("ns.added_ns") = hk.addedNs.toDouble
    m("ns.added_per_candidate") = if (hk.inferredNs > 0) hk.addedNs.toDouble / hk.inferredNs else 0.0
    m("ns.jobs") = jobs.count(j => groupsOf("ns")(j.group)).toDouble
    m("summarize.rows") = res.rows.size.toDouble
    m("sinks.s") = selfS("sinks")
    m("sinks.bytes") = (Seq("output.ttl", "all-prefixes.json", "vis-data.json", "used-groups.tsv")
      .map(f => Files.size(out.resolve(f))).sum + bytesUnder(out.resolve("summary"))).toDouble
    m("pipeline.snapshot_s") = selfS("extract") - extractS +
      spans.filter(_.name == "pipeline.snapshot").map(tr.selfSeconds).sum
    m("pipeline.snapshot_mb") = bytesUnder(out.resolve("triples")) / 1e6
    m("pipeline.jobs") = jobs.size.toDouble
    m("pipeline.tasks") = tasks.size.toDouble
    m("pipeline.driver_s") = idleSeconds(root.startMs, root.endMs, tasks)
    m.toMap
  }

  /** One traced job with its output check; None when it failed. */
  private def tracedJob(label: String, tr: Tracer, allJobs: mutable.Buffer[JobRec]): Option[Map[String, Double]] = {
    step = label
    attempted += 1
    val out = o.runDir.resolve(s"${o.workload}-out-$label")
    listener.take(spark)
    Heap.reset()
    val gc0 = Heap.gcSeconds()
    try {
      val res = tr.span("job")(wl.runTraced(spark, out, tr))
      val root = tr.spans.last
      val heapMb = Heap.peakMb()
      // with the heap fixed at -Xmx few collections run inside a job; the
      // closing one counts, and its cost grows with what the job left live
      val gcS = Heap.gcSeconds() - gc0
      val (jobs, tasks) = listener.take(spark)
      allJobs ++= jobs
      val persistMb = persistedBytes() / 1e6
      val rate = resolveProbe(res)
      listener.take(spark)
      val figures = layerFigures(tr, root, jobs, tasks, res, out) ++ Map(
        "pipeline.persist_mb" -> persistMb, "ns.resolve_iris_per_s" -> rate,
        "jvm.gc_s" -> gcS, "jvm.heap_peak_mb" -> heapMb, "wall" -> root.seconds)
      val leftover = release(res)
      val problem = wl.check(out, res).orElse(leftover)
      deleteTree(out)
      System.err.println(f"chilonbench: $label%-12s wall ${root.seconds}%.3f s, ${res.inputTriples} triples")
      problem match {
        case Some(p) => fail(label, p); None
        case None => Some(figures)
      }
    } catch {
      case NonFatal(e) =>
        fail(label, e.toString)
        e.printStackTrace()
        dropCached()
        deleteTree(out)
        None
    }
  }

  /** Traced jobs alternate with untraced ones, each going first in every
    * other pair, so that trace.overhead_frac compares jobs run in the same
    * warm state.
    */
  private def traced(sessionS: Double, generateS: Double, warmupS: Double): Seq[(String, String, Double)] = {
    val tr = new Tracer(spark)
    val allJobs = mutable.ArrayBuffer.empty[JobRec]
    val untracedWalls = mutable.ArrayBuffer.empty[Double]
    val perJob = timedLoop { i =>
      def untraced(): Unit = untracedWalls ++= job(s"untraced-$i").map(_.wallS)
      if (i % 2 == 1) untraced()
      val figures = tracedJob(s"traced-$i", tr, allJobs)
      if (i % 2 == 0) untraced()
      figures
    }
    if (untracedWalls.isEmpty) throw new IllegalStateException("no untraced job succeeded")
    val untracedWall = median(untracedWalls.toSeq)
    val values = mutable.Map.empty[String, Double]
    perJob.head.keys.foreach(k => values(k) = median(perJob.map(_(k))))
    values("setup.session_s") = sessionS
    values("setup.generate_s") = generateS
    values("setup.warmup_s") = warmupS
    values("trace.overhead_frac") = values("wall") / untracedWall - 1
    values("pipeline.core_scaling") = wl match {
      case _: PagesWorkload => coreScaling(untracedWall)
      case _ => 0.0
    }
    o.traceOut.foreach { p =>
      Files.createDirectories(p.getParent)
      Files.write(p, tr.toJsonLines(allJobs.toSeq).getBytes("UTF-8"))
      println(s"spans written to $p")
    }
    PerLayer.map { case (n, u) => (n, u, values(n)) }
  }

  /** Untraced job wall at local[1] over the wall at local[cores], per core. */
  private def coreScaling(wallAtCores: Double): Double = {
    step = "core-scaling"
    env.stop()
    env.start(1)
    try {
      val one = job("local-1").getOrElse(throw new IllegalStateException("local[1] job failed"))
      one.wallS / wallAtCores / o.cores
    } finally {
      env.stop()
      env.start(o.cores)
    }
  }
}
