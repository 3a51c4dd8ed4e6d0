package graft.summarize

import graft.ns.{Inference, Registry}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.AccumulatorV2

/** A fold that rides a pass which runs anyway: the RDF scan that fills the
  * cache of the rows later passes read, the pages snapshot's write, or a
  * job of its own ([[Normalize.countRowsBy]]).
  *
  * `input` holds rows of `schema`. Each task of [[rows]] counts the rows of
  * its input, their counts under each of `projections` (lists of `schema`'s
  * columns, one map each) and, with `keys`, their summary keys under that
  * registry ([[SummaryKey]], computed from the term columns in the task;
  * `schema` is then a triple table). With `prefixes` the same walk also
  * counts the segment prefixes of the IRIs `keys` leaves unresolved in an
  * [[Inference.PrefixMap]] under its share of the fold's budget. It passes
  * on the `out` columns (all of them by default) of every row or, with
  * `unknownOnly`, of the rows whose key holds an UNKNOWN, and reports what
  * it counted when its input ends.
  *
  * The driver merges the reports as tasks finish: a result task's
  * accumulator update is merged once per partition, whatever the retries,
  * so the pass must be the result stage of its job. A partition that
  * reports again, when a later job recomputes a lost block of a cache
  * filled from [[rows]], is ignored. [[counted]] is complete once one job
  * has computed every partition of [[rows]].
  */
private[graft] final class PassFold(
    input: RDD[InternalRow],
    schema: StructType,
    projections: Seq[Seq[String]] = Nil,
    keys: Option[Registry] = None,
    prefixes: Option[Inference.PrefixFold] = None,
    out: Option[Seq[String]] = None,
    unknownOnly: Boolean = false) {
  import PassFold._
  require(keys.isDefined || (prefixes.isEmpty && !unknownOnly),
    "the prefix count and the UNKNOWN filter read the summary keys")

  private val keyFn = keys.map(SummaryKey(_, schema))
  private val tasks = input.getNumPartitions
  private val partitionRows = new Array[Long](tasks)
  private val passedByPartition = new Array[Long](tasks)
  private val merged = projections.map(_ => scala.collection.mutable.HashMap.empty[Row, Long])
  private val mergedKeys = new LongCounts
  private val prefixMerge = prefixes.map(new Inference.PrefixMerge(_, tasks))
  private val reported = new Array[Boolean](tasks)

  private val reports = new TaskReports({ r =>
    if (!reported(r.partition)) {
      reported(r.partition) = true
      partitionRows(r.partition) = r.rows
      passedByPartition(r.partition) = r.passed
      r.counts.zip(merged).foreach { case (part, m) =>
        part.foreach { case (k, n) => m(k) = m.getOrElse(k, 0L) + n }
      }
      mergedKeys.addAll(r.keys)
      prefixMerge.foreach(_.add(r.partition, r.prefixes))
    }
  })
  input.sparkContext.register(reports)

  /** The `out` columns of the rows the pass keeps, counted on the way. */
  val rows: RDD[InternalRow] = {
    val schema = this.schema
    val ordinals = projections.map(_.map(schema.fieldIndex)).toArray
    val subSchemas = projections.map(cols => StructType(cols.map(c => schema(c)))).toArray
    val outOrdinals = out.map(_.map(schema.fieldIndex))
    val keyFn = this.keyFn
    val counting = prefixes.isDefined
    val unknownOnly = this.unknownOnly
    val budget = prefixes.fold(0)(_.taskBudget(tasks))
    val reports = this.reports
    input.mapPartitionsWithIndex { (task, it) =>
      def project(ords: Seq[Int]) = UnsafeProjection.create(
        ords.map(i => BoundReference(i, schema(i).dataType, schema(i).nullable)))
      val pass: InternalRow => InternalRow = outOrdinals.fold(identity[InternalRow] _)(project)
      val projected = ordinals.map(project(_))
      val counts = ordinals.map(_ => new Normalize.KeyCounts)
      val walk = keyFn.map(_.walk()).orNull
      val keyCounts = new LongCounts
      val prefixMap = if (counting) new Inference.PrefixMap(budget) else null
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
            while (g < projected.length) {
              counts(g).add(projected(g)(r))
              g += 1
            }
            var keep = !unknownOnly
            if (walk != null) {
              keyCounts.add(walk.key(r))
              if (prefixMap != null) {
                var i = 0
                while (i < 3) {
                  val iri = walk.unresolved(i)
                  if (iri != null) prefixMap.add(iri)
                  i += 1
                }
              }
              if (unknownOnly) keep = walk.unknown
            }
            if (keep) {
              passed += 1
              ahead = pass(r)
            }
          }
          if (ahead == null && !done) {
            done = true
            reports.add(TaskReport(task, n, passed,
              counts.zip(subSchemas).map { case (c, sub) => c.toRows(sub) }, keyCounts.result,
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

  /** What the tasks counted: one merged map per projection and, with
    * `keys`, then the decoded summary keys; the input rows of each
    * partition and the prefix fold's result.
    */
  lazy val counted: Normalize.Counted = {
    val missing = reported.count(!_)
    require(missing == 0, s"$missing of the pass's $tasks tasks did not report")
    val keyMap = keyFn.map { k =>
      val m = scala.collection.mutable.HashMap.empty[Row, Long]
      val (ks, ns) = mergedKeys.result
      ks.indices.foreach { i =>
        val row = k.decode(ks(i))
        m(row) = m.getOrElse(row, 0L) + ns(i)
      }
      m.toMap
    }
    Normalize.Counted(merged.map(_.toMap) ++ keyMap, partitionRows.toSeq,
      prefixMerge.map(_.result()))
  }

  /** The rows each partition passed on. */
  def passedRows: Seq[Long] = { counted; passedByPartition.toSeq }
}

private object PassFold {

  /** What one task counted: its input rows, the rows it passed on, its row
    * counts per projection, its packed summary keys with their counts and
    * its prefixes (None when it counted none or went over its budget).
    */
  final case class TaskReport(partition: Int, rows: Long, passed: Long,
      counts: Array[Array[(Row, Long)]], keys: (Array[Long], Array[Long]),
      prefixes: Option[Inference.TaskPrefixes])

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
