package graft.summarize

import graft.ns.Inference
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.AccumulatorV2

/** A fold that rides a pass which runs anyway: the RDF scan that fills the
  * cache of the rows later passes read, or the pages snapshot's write.
  *
  * `keyed` holds the pass's rows in its first `width` columns, then the
  * columns the fold counts. Each task of [[rows]] counts the rows of its
  * input, their counts under each of `projections` (lists of `keyed`'s
  * columns, one map each, as [[Normalize.countRowsBy]] counts them) and,
  * with `prefixes`, the segment prefixes of its IRI columns in an
  * [[Inference.PrefixMap]] under its share of the fold's budget. It passes
  * on the first `width` columns of the rows for which `pass` holds (all of
  * them without it) and reports what it counted when its input ends.
  *
  * The driver merges the reports as tasks finish: a result task's
  * accumulator update is merged once per partition, whatever the retries,
  * so the pass must be the result stage of its job. A partition that
  * reports again, when a later job recomputes a lost block of a cache
  * filled from [[rows]], is ignored. [[counted]] is complete once one job
  * has computed every partition of [[rows]].
  */
private[graft] final class PassFold(
    keyed: DataFrame,
    width: Int,
    projections: Seq[Seq[String]],
    prefixes: Option[Inference.PrefixFold] = None,
    pass: Option[Column] = None) {
  import PassFold._

  private val input =
    pass.fold(keyed)(p => keyed.select(org.apache.spark.sql.functions.col("*"), p))
  private val schema = input.schema
  private val rdd = input.queryExecution.toRdd
  private val tasks = rdd.getNumPartitions
  private val partitionRows = new Array[Long](tasks)
  private val passedByPartition = new Array[Long](tasks)
  private val merged = projections.map(_ => scala.collection.mutable.HashMap.empty[Row, Long])
  private val prefixMerge = prefixes.map(new Inference.PrefixMerge(_, tasks))
  private val reported = new Array[Boolean](tasks)

  private val reports = new TaskReports({ r =>
    if (!reported(r.partition)) {
      reported(r.partition) = true
      partitionRows(r.partition) = r.rows
      passedByPartition(r.partition) = r.passed
      r.keys.zip(merged).foreach { case (part, m) =>
        part.foreach { case (k, n) => m(k) = m.getOrElse(k, 0L) + n }
      }
      prefixMerge.foreach(_.add(r.partition, r.prefixes))
    }
  })
  keyed.sparkSession.sparkContext.register(reports)

  /** The first `width` columns of the rows `pass` keeps, counted on the way. */
  val rows: RDD[InternalRow] = {
    val schema = this.schema
    val width = this.width
    val ordinals = projections.map(_.map(schema.fieldIndex)).toArray
    val subSchemas = projections.map(cols => StructType(cols.map(c => schema(c)))).toArray
    val iriOrdinals = prefixes.fold(Array.empty[Int])(_.columns.map(schema.fieldIndex).toArray)
    val passOrdinal = if (pass.isDefined) schema.length - 1 else -1
    val budget = prefixes.fold(0)(_.taskBudget(tasks))
    val reports = this.reports
    rdd.mapPartitionsWithIndex { (task, it) =>
      def project(ords: Seq[Int]) = UnsafeProjection.create(
        ords.map(i => BoundReference(i, schema(i).dataType, schema(i).nullable)))
      val out: InternalRow => InternalRow =
        if (schema.length == width) identity else project(0 until width)
      val keys = ordinals.map(project(_))
      val counts = ordinals.map(_ => new Normalize.KeyCounts)
      val prefixMap = if (iriOrdinals.isEmpty) null else new Inference.PrefixMap(budget)
      var n = 0L
      var passed = 0L
      var done = false
      new Iterator[InternalRow] {
        private var ahead: InternalRow = null
        def hasNext: Boolean = {
          while (ahead == null && it.hasNext) {
            val r = it.next()
            n += 1
            var g = 0
            while (g < keys.length) {
              counts(g).add(keys(g)(r))
              g += 1
            }
            g = 0
            while (g < iriOrdinals.length) {
              if (!r.isNullAt(iriOrdinals(g))) prefixMap.add(r.getUTF8String(iriOrdinals(g)))
              g += 1
            }
            if (passOrdinal < 0 || r.getBoolean(passOrdinal)) {
              passed += 1
              ahead = out(r)
            }
          }
          if (ahead == null && !done) {
            done = true
            reports.add(TaskReport(task, n, passed,
              counts.zip(subSchemas).map { case (c, sub) => c.toRows(sub) },
              Option(prefixMap).flatMap(_.result)))
          }
          ahead != null
        }
        def next(): InternalRow = {
          if (!hasNext) throw new NoSuchElementException("end of partition")
          val r = ahead
          ahead = null
          r
        }
      }
    }
  }

  /** What the tasks counted: one merged map per projection, the input rows
    * of each partition and the prefix fold's result.
    */
  lazy val counted: Normalize.Counted = {
    val missing = reported.count(!_)
    require(missing == 0, s"$missing of the pass's $tasks tasks did not report")
    Normalize.Counted(merged.map(_.toMap), partitionRows.toSeq, prefixMerge.map(_.result()))
  }

  /** The rows each partition passed on. */
  def passedRows: Seq[Long] = { counted; passedByPartition.toSeq }
}

private object PassFold {

  /** What one task counted: its input rows, the rows it passed on, its key
    * counts per projection and its prefixes (None when it counted none or
    * went over its budget).
    */
  final case class TaskReport(partition: Int, rows: Long, passed: Long,
      keys: Array[Array[(Row, Long)]], prefixes: Option[Inference.TaskPrefixes])

  /** Hands each task's [[TaskReport]] to `onReport` on the driver as the
    * task finishes. Registered without a name, so no report is copied to
    * the listener bus.
    */
  final class TaskReports(@transient private val onReport: TaskReport => Unit)
      extends AccumulatorV2[TaskReport, Seq[TaskReport]] {
    private var reports = List.empty[TaskReport]
    def isZero: Boolean = reports.isEmpty
    def copy(): TaskReports = { val c = new TaskReports(onReport); c.reports = reports; c }
    def reset(): Unit = reports = Nil
    def add(r: TaskReport): Unit = reports ::= r
    def merge(other: AccumulatorV2[TaskReport, Seq[TaskReport]]): Unit = other.value.foreach(onReport)
    def value: Seq[TaskReport] = reports
  }
}
