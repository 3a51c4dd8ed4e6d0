package graft.sinks

import graft.ns.Inference
import graft.summarize.Normalize
import graft.summarize.PassFold
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{BooleanType, DataType, DoubleType, IntegerType, LongType, StringType, StructType}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** Iceberg-style snapshot emulation (north rule: per-partition checkpoint with
  * lineage + metrics, idempotent resume).
  *
  * No Iceberg runtime jars exist in the sandbox (`/opt/spark/jars`), so the
  * snapshot layout is emulated — documented in BASELINE.md: a Parquet directory
  * plus a `manifest.json` carrying schema, row count, the rows of each write
  * task (so of each part file), input lineage, and the wall time of the
  * producing job (and a line-oriented
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
    writeFolded(df, dir, table, inputs, None)._1

  /** [[write]], also returning what the write job counted, in
    * [[Normalize.countRowsBy]]'s shape: with `keys` the summary keys of
    * `df` (a triple table) under that registry, the rows each write task
    * wrote (by partition id, one entry per task, so per part file), and
    * with `prefixes` round 1's prefix counts. The counts ride the write
    * ([[PassFold]], keyed in the write's tasks), so the write pays the key
    * walk but no second pass and no projection. The manifest's
    * per-partition counts are the tasks' rows, and the snapshot is read back
    * with the schema it was written with, so no job reads it back.
    */
  private def writeFolded(df: DataFrame, dir: String, table: String, inputs: Seq[String],
      keys: Option[graft.ns.Registry],
      prefixes: Option[Inference.PrefixFold] = None): (DataFrame, Normalize.Counted) = {
    val t0 = System.nanoTime()
    val spark = df.sparkSession
    val fold = new PassFold(df.queryExecution.toRdd, df.schema, Nil, keys, prefixes)
    org.apache.spark.sql.graftshim.ColumnShim.fromInternalRows(spark, fold.rows, df.schema)
      .write.mode("overwrite").parquet(dir)
    val counted = fold.counted
    // file sources read every column as nullable
    val readSchema = StructType(df.schema.fields.map(_.copy(nullable = true)))
    val rowCount = counted.partitionRows.sum
    val m = Manifest(
      table, rowCount, counted.partitionRows.zipWithIndex.map(_.swap), inputs, readSchema.json,
      (System.nanoTime() - t0) / 1000000, System.currentTimeMillis())
    TtlSink.write(manifestPath(dir), manifestJson(m))
    TtlSink.write(lineagePath(dir), lineageTsv(rowCount, inputs))
    (spark.read.schema(readSchema).parquet(dir), counted)
  }

  /** The schema a snapshot's manifest records: the one it is read with. */
  private[graft] def manifestSchema(dir: String): StructType = {
    val manifest = new com.fasterxml.jackson.databind.ObjectMapper().readTree(manifestPath(dir).toFile)
    DataType.fromJson(manifest.get("schema").asText()).asInstanceOf[StructType]
  }

  /** The snapshots at `dirs`, read with the schema their manifests record,
    * so no job infers it; they must all record the same one.
    */
  def read(spark: SparkSession, dirs: String*): DataFrame = {
    val schemas = dirs.map(manifestSchema).distinct
    require(schemas.size == 1, s"snapshots ${dirs.mkString(", ")} record different schemas")
    spark.read.schema(schemas.head).parquet(dirs: _*)
  }

  /** Name of the one part file of a [[writeSmall]] snapshot. */
  private val SmallPart = "part-00000.snappy.parquet"

  /** [[writeSmall]] of `df`'s rows, collected once: no Spark job when `df`
    * is a local relation. `rows` must be its row count.
    */
  def writeSmall(df: DataFrame, dir: String, table: String, inputs: Seq[String], rows: Long): Unit = {
    val data = df.collect()
    require(data.length == rows, s"writeSmall: told $rows rows, the table has ${data.length}")
    writeSmall(df.sparkSession, df.schema, data.toSeq, dir, table, inputs)
  }

  /** Snapshot for driver-materialized tiny tables (e.g. the summary): `data`,
    * rows of `schema`, written on the driver with parquet-hadoop's example
    * writer, with no Spark job and no read-back pass. The part file is
    * written under a hidden name first; only once it is whole is the
    * previous snapshot retired (its lineage first), the part renamed into
    * place, then the manifest and, last, the lineage sidecar that marks the
    * snapshot complete. A failed write leaves the previous snapshot as it
    * was. `spark.read.parquet(dir)` reads the rows back with the schema the
    * manifest records. Flat tables of string, boolean, int, long and double
    * columns only.
    */
  def writeSmall(spark: SparkSession, schema: StructType, data: Seq[Row], dir: String,
      table: String, inputs: Seq[String]): Unit = {
    val t0 = System.nanoTime()
    val rows = data.size.toLong
    val d = Paths.get(dir)
    Files.createDirectories(d)
    val tmp = d.resolve(s".$SmallPart.${java.util.UUID.randomUUID()}.tmp")
    try {
      writeParquet(tmp, schema, data, spark.sparkContext.hadoopConfiguration)
      Files.deleteIfExists(lineagePath(dir))
      Files.deleteIfExists(manifestPath(dir))
      // stale part files and their sidecars (Spark's _SUCCESS and .crc files)
      val stale = Files.list(d)
      try stale.iterator().asScala.filter(p => p != tmp && Files.isRegularFile(p))
        .foreach(Files.delete)
      finally stale.close()
      Files.move(tmp, d.resolve(SmallPart), StandardCopyOption.ATOMIC_MOVE)
    } finally Files.deleteIfExists(tmp)
    // file sources read every column as nullable
    val readSchema = StructType(schema.fields.map(_.copy(nullable = true)))
    val m = Manifest(table, rows, Seq((0, rows)), inputs, readSchema.json,
      (System.nanoTime() - t0) / 1000000, System.currentTimeMillis())
    TtlSink.write(manifestPath(dir), manifestJson(m))
    TtlSink.write(lineagePath(dir), lineageTsv(rows, inputs))
  }

  /** One Parquet file of `rows` at `path`, carrying Spark's schema in the
    * footer as Spark's own writer does, so Spark reads back the same types.
    */
  private def writeParquet(path: Path, schema: StructType, rows: Seq[Row],
      conf: org.apache.hadoop.conf.Configuration): Unit = {
    import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Type, Types}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    val fields: Seq[Type] = schema.fields.toSeq.map { f =>
      val rep = if (f.nullable) Type.Repetition.OPTIONAL else Type.Repetition.REQUIRED
      val t = f.dataType match {
        case StringType =>
          Types.primitive(PrimitiveTypeName.BINARY, rep).as(LogicalTypeAnnotation.stringType())
        case BooleanType => Types.primitive(PrimitiveTypeName.BOOLEAN, rep)
        case IntegerType => Types.primitive(PrimitiveTypeName.INT32, rep)
        case LongType => Types.primitive(PrimitiveTypeName.INT64, rep)
        case DoubleType => Types.primitive(PrimitiveTypeName.DOUBLE, rep)
        case other => throw new IllegalArgumentException(
          s"writeSmall: column ${f.name} is $other; string, boolean, int, long and double only")
      }
      t.named(f.name)
    }
    val messageType = new MessageType("spark_schema", fields.asJava)
    val groups = new org.apache.parquet.example.data.simple.SimpleGroupFactory(messageType)
    val writer = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(new org.apache.parquet.io.LocalOutputFile(path))
      .withType(messageType)
      .withConf(conf)
      .withCompressionCodec(org.apache.parquet.hadoop.metadata.CompressionCodecName.SNAPPY)
      .withExtraMetaData(Map("org.apache.spark.sql.parquet.row.metadata" -> schema.json).asJava)
      .build()
    try rows.foreach { r =>
      val g = groups.newGroup()
      schema.fields.indices.filterNot(r.isNullAt).foreach { i =>
        val name = schema.fields(i).name
        schema.fields(i).dataType match {
          case StringType => g.append(name, r.getString(i))
          case BooleanType => g.append(name, r.getBoolean(i))
          case IntegerType => g.append(name, r.getInt(i))
          case LongType => g.append(name, r.getLong(i))
          case DoubleType => g.append(name, r.getDouble(i))
          case _ =>
        }
      }
      writer.write(g)
    } finally writer.close()
  }

  /** Idempotent resume: reuse the snapshot ONLY if it is complete, was
    * produced from exactly these `inputs` (recorded lineage), and its parquet
    * row count still matches the recorded count (count() on parquet resolves
    * from footer metadata — no data scan, cheap even at scale; the read takes
    * the manifest's schema, so no job infers it). Any mismatch —
    * different inputs into the same outDir, partial/corrupt data — recomputes
    * instead of silently reusing stale rows.
    */
  def resumeOrWrite(
      spark: SparkSession,
      dir: String,
      table: String,
      inputs: Seq[String]
  )(compute: => DataFrame): DataFrame =
    resumeOrWriteFolded(spark, dir, table, inputs, None)(compute)._1

  /** [[resumeOrWrite]]; when the snapshot is written now, also what the
    * write job counted with `keys` and `prefixes` (see [[writeFolded]]).
    * None when the snapshot is reused.
    */
  private[graft] def resumeOrWriteFolded(
      spark: SparkSession,
      dir: String,
      table: String,
      inputs: Seq[String],
      keys: Option[graft.ns.Registry],
      prefixes: Option[Inference.PrefixFold] = None
  )(compute: => DataFrame): (DataFrame, Option[Normalize.Counted]) = {
    // any failure reading the manifest/lineage/parquet (e.g. part files
    // deleted while the sidecars survive) means NOT reusable — recompute,
    // exactly as the doc promises, instead of surfacing an AnalysisException
    val reused =
      try isComplete(dir) && readLineage(dir).exists { case (rows, ins) =>
        ins == inputs && read(spark, dir).count() == rows
      }
      catch { case scala.util.control.NonFatal(_) => false }
    if (reused) (read(spark, dir), None)
    else {
      val (written, counted) = writeFolded(compute, dir, table, inputs, keys, prefixes)
      (written, Some(counted))
    }
  }
}
