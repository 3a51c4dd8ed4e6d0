package graft.sinks

import org.apache.spark.sql.{DataFrame, SparkSession, functions => F}
import java.nio.file.{Files, Paths, Path}
import java.nio.charset.StandardCharsets

/** Iceberg-style snapshot emulation (north rule: per-partition checkpoint with
  * lineage + metrics, idempotent resume).
  *
  * No Iceberg runtime jars exist in the sandbox (`/opt/spark/jars`), so the
  * snapshot layout is emulated — documented in BASELINE.md: a Parquet directory
  * plus a `manifest.json` carrying schema, row count, per-partition row counts,
  * input lineage, and the wall time of the producing job (and a line-oriented
  * `_lineage.tsv` sidecar for machine reads). `resumeOrWrite` is the
  * idempotent-resume primitive every pipeline stage goes through: it reuses a
  * snapshot only when the manifest exists, the recorded input lineage equals
  * the requested inputs, and the parquet row count matches the recorded count.
  */
object Snapshot {

  final case class Manifest(
      table: String,
      rows: Long,
      partitions: Seq[(Int, Long)],
      inputs: Seq[String],
      schemaJson: String,
      wallMs: Long,
      writtenAtMs: Long
  )

  private def jstr(s: String) = graft.ns.Registry.jstr(s)

  def manifestJson(m: Manifest): String = {
    val parts = m.partitions
      .map { case (id, n) => s"""    {"id": $id, "rows": $n}""" }
      .mkString("[\n", ",\n", "\n  ]")
    s"""{
  "table": ${jstr(m.table)},
  "rows": ${m.rows},
  "partitions": $parts,
  "inputs": ${m.inputs.map(jstr).mkString("[", ", ", "]")},
  "schema": ${jstr(m.schemaJson)},
  "wall_ms": ${m.wallMs},
  "written_at_ms": ${m.writtenAtMs}
}"""
  }

  // underscore prefix: Spark's file readers ignore it inside the data dir
  def manifestPath(dir: String): Path = Paths.get(dir, "_manifest.json")

  /** Machine-readable lineage sidecar (line-oriented, no JSON parsing needed):
    * `rows\t<n>` then one `input\t<path>` line per input. Written AFTER the
    * parquet + manifest, so its presence marks a completed snapshot.
    */
  def lineagePath(dir: String): Path = Paths.get(dir, "_lineage.tsv")

  private def lineageTsv(rows: Long, inputs: Seq[String]): String =
    (s"rows\t$rows" +: inputs.map(i => s"input\t$i")).mkString("", "\n", "\n")

  def readLineage(dir: String): Option[(Long, Seq[String])] = {
    val p = lineagePath(dir)
    if (!Files.exists(p)) return None
    val lines = Files.readAllLines(p)
    import scala.jdk.CollectionConverters._
    val ls = lines.asScala.toSeq.filter(_.nonEmpty).map(_.split("\t", 2))
    val rows = ls.collectFirst { case Array("rows", n) => n.toLong }
    rows.map(r => (r, ls.collect { case Array("input", i) => i }))
  }

  def isComplete(dir: String): Boolean = Files.exists(manifestPath(dir))

  /** Complete AND produced from exactly these inputs (lineage match). A
    * snapshot from an older layout (manifest but no lineage sidecar) is
    * treated as NOT matching, forcing a recompute rather than silently
    * reusing stale rows.
    */
  def isCompleteFor(dir: String, inputs: Seq[String]): Boolean =
    isComplete(dir) && readLineage(dir).exists(_._2 == inputs)

  /** Write `df` as a snapshot at `dir` with a per-partition lineage manifest. */
  def write(df: DataFrame, dir: String, table: String, inputs: Seq[String]): DataFrame =
    writeCounted(df, dir, table, inputs)._1

  /** [[write]], also returning the row count the manifest records. The
    * per-partition counts of the read-back come from one single-stage job
    * ([[graft.summarize.Normalize.countRows]] over `spark_partition_id()`),
    * not a grouped aggregate with its exchange.
    */
  private def writeCounted(
      df: DataFrame, dir: String, table: String, inputs: Seq[String]): (DataFrame, Long) = {
    val t0 = System.nanoTime()
    df.write.mode("overwrite").parquet(dir)
    val written = df.sparkSession.read.parquet(dir)
    val perPart = graft.summarize.Normalize.countRows(written.select(F.spark_partition_id()))
      .map { case (r, n) => (r.getInt(0), n) }
      .toSeq
      .sortBy(_._1)
    val rows = perPart.map(_._2).sum
    val m = Manifest(
      table, rows, perPart, inputs, written.schema.json,
      (System.nanoTime() - t0) / 1000000, System.currentTimeMillis())
    Files.write(manifestPath(dir), manifestJson(m).getBytes(StandardCharsets.UTF_8))
    Files.write(lineagePath(dir), lineageTsv(rows, inputs).getBytes(StandardCharsets.UTF_8))
    (written, rows)
  }

  /** Snapshot for driver-materialized tiny tables (e.g. the summary): writes
    * the parquet and a single-partition manifest without the read-back pass.
    */
  def writeSmall(df: DataFrame, dir: String, table: String, inputs: Seq[String], rows: Long): Unit = {
    val t0 = System.nanoTime()
    df.coalesce(1).write.mode("overwrite").parquet(dir)
    val m = Manifest(table, rows, Seq((0, rows)), inputs, df.schema.json,
      (System.nanoTime() - t0) / 1000000, System.currentTimeMillis())
    Files.write(manifestPath(dir), manifestJson(m).getBytes(StandardCharsets.UTF_8))
    Files.write(lineagePath(dir), lineageTsv(rows, inputs).getBytes(StandardCharsets.UTF_8))
  }

  /** Idempotent resume: reuse the snapshot ONLY if it is complete, was
    * produced from exactly these `inputs` (recorded lineage), and its parquet
    * row count still matches the recorded count (count() on parquet resolves
    * from footer metadata — no data scan, cheap even at scale). Any mismatch —
    * different inputs into the same outDir, partial/corrupt data — recomputes
    * instead of silently reusing stale rows.
    */
  def resumeOrWrite(
      spark: SparkSession,
      dir: String,
      table: String,
      inputs: Seq[String]
  )(compute: => DataFrame): DataFrame =
    resumeOrWriteCounted(spark, dir, table, inputs)(compute)._1

  /** [[resumeOrWrite]], also returning the snapshot's row count as its
    * lineage records it, so a caller needs no count job of its own.
    */
  def resumeOrWriteCounted(
      spark: SparkSession,
      dir: String,
      table: String,
      inputs: Seq[String]
  )(compute: => DataFrame): (DataFrame, Long) = {
    // any failure reading the manifest/lineage/parquet (e.g. part files
    // deleted while the sidecars survive) means NOT reusable — recompute,
    // exactly as the doc promises, instead of surfacing an AnalysisException
    val reused =
      try if (!isComplete(dir)) None else readLineage(dir).collect {
        case (rows, ins) if ins == inputs && spark.read.parquet(dir).count() == rows => rows
      }
      catch { case scala.util.control.NonFatal(_) => None }
    reused match {
      case Some(rows) => (spark.read.parquet(dir), rows)
      case None => writeCounted(compute, dir, table, inputs)
    }
  }
}
