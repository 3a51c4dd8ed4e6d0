package graft.chilonbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One finished Spark task, attributed to the job group it ran under. */
final case class TaskRec(group: String, job: Int, launchMs: Long, finishMs: Long,
    shuffleWriteBytes: Long) {
  def seconds: Double = (finishMs - launchMs) / 1000.0
}

/** One Spark job; `site` is the short call site of its result stage. */
final case class JobRec(id: Int, group: String, site: String, startMs: Long, endMs: Long)

/** Collects job and task records from the listener bus. Always on: in an
  * untraced run no job group is set and only the shuffle total is read.
  */
final class TaskListener extends SparkListener {
  private val stageJob = mutable.HashMap.empty[Int, (String, Int)]
  private val jobStarts = mutable.LinkedHashMap.empty[Int, (String, String, Long)]
  private val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val tasks = mutable.ArrayBuffer.empty[TaskRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, (group, e.jobId)))
    jobStarts(e.jobId) = (group, site, e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStarts.remove(e.jobId).foreach { case (g, site, t0) => jobs += JobRec(e.jobId, g, site, t0, e.time) }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val shuffle = if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten
    val (group, job) = stageJob.getOrElse(e.stageId, ("", -1))
    tasks += TaskRec(group, job, e.taskInfo.launchTime, e.taskInfo.finishTime, shuffle)
  }

  /** Records of everything finished since the last call. */
  def take(spark: SparkSession): (Vector[JobRec], Vector[TaskRec]) = {
    org.apache.spark.ChilonBenchBus.drain(spark.sparkContext)
    synchronized {
      val out = (jobs.toVector.sortBy(_.id), tasks.toVector)
      jobs.clear(); tasks.clear()
      out
    }
  }
}

/** Heap occupancy right after each collection, from GC notifications, plus
  * the cumulative collection time.
  */
object Heap {
  private val peak = new AtomicLong(0L)
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet

  private def record(bytes: Long): Unit = peak.accumulateAndGet(bytes, (a, b) => math.max(a, b))

  private var installed = false

  def install(): Unit = if (!installed) {
    installed = true
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case em: NotificationEmitter =>
        em.addNotificationListener(new NotificationListener {
          def handleNotification(n: Notification, hb: AnyRef): Unit =
            n.getUserData match {
              case cd: CompositeData if n.getType ==
                  com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION =>
                val info = com.sun.management.GarbageCollectionNotificationInfo.from(cd)
                record(info.getGcInfo.getMemoryUsageAfterGc.asScala
                  .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum)
              case _ =>
            }
        }, null, null)
      case _ =>
    }
  }

  def reset(): Unit = peak.set(0L)

  /** Peak after-collection heap since [[reset]], closed by one explicit
    * collection so that a job during which no collection ran still counts
    * what it left live (such as persisted blocks).
    */
  def peakMb(): Double = {
    System.gc()
    record(ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(p => Option(p.getCollectionUsage).fold(0L)(_.getUsed)).sum)
    peak.get / 1e6
  }

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1000.0
}

/** A timed region around one call into a layer. `name` is `layer` or
  * `layer.part`; Spark jobs started inside run under job group `group`.
  */
final case class Span(id: Int, name: String, parent: Int, group: String,
    startNs: Long, endNs: Long, startMs: Long, endMs: Long) {
  def layer: String = name.takeWhile(_ != '.')
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans of one run, kept in memory and written out when the run ends. */
final class Tracer(spark: SparkSession) {
  private val done = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0
  private var stack = List.empty[(Int, String)]

  def span[A](name: String)(f: => A): A = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.fold(-1)(_._1)
    val group = s"span-$id-$name"
    val sc = spark.sparkContext
    sc.setJobGroup(group, name, interruptOnCancel = false)
    stack = (id, group) :: stack
    val (s0, m0) = (System.nanoTime(), System.currentTimeMillis())
    try f
    finally {
      done += Span(id, name, parent, group, s0, System.nanoTime(), m0, System.currentTimeMillis())
      stack = stack.tail
      stack.headOption match {
        case Some((_, g)) => sc.setJobGroup(g, g, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  def spans: Vector[Span] = done.toVector

  /** Spans of the job whose root span is `root`. */
  def subtree(root: Span): Vector[Span] = {
    val ids = mutable.Set(root.id)
    done.toVector.sortBy(_.id).filter { s =>
      val in = s.id == root.id || ids(s.parent)
      if (in) ids += s.id
      in
    }
  }

  /** JSON lines: one span each, with the Spark jobs run under it. */
  def toJsonLines(jobs: Seq[JobRec]): String = {
    val byGroup = jobs.groupBy(_.group)
    done.sortBy(_.id).map { s =>
      val ids = byGroup.getOrElse(s.group, Nil).sortBy(_.id)
        .map(j => s"""{"id":${j.id},"site":${Json.str(j.site)},"s":${Json.num((j.endMs - j.startMs) / 1000.0)}}""")
        .mkString("[", ",", "]")
      s"""{"id":${s.id},"name":${Json.str(s.name)},"parent":${s.parent},"start_ms":${s.startMs},"end_ms":${s.endMs},"self_s":${Json.num(selfSeconds(s))},"spark_jobs":$ids}"""
    }.mkString("", "\n", "\n")
  }

  /** Span duration minus the part of it its child spans cover. */
  def selfSeconds(s: Span): Double =
    s.seconds - done.filter(_.parent == s.id).map(_.seconds).sum
}

object Json {
  def str(s: String): String = graft.ns.Registry.jstr(s)
  def num(d: Double): String = {
    require(!d.isNaN && !d.isInfinite, s"metric value $d is not a finite number")
    java.lang.Double.toString(d)
  }
}
