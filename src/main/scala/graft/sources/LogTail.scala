package graft.sources

import java.util

import scala.collection.mutable

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.operators.TableLog

/** R18 [EXT]: the table log as a STRUCTURED STREAMING SOURCE — the
  * inverse of the R15 sink, and the other half of the medallion story:
  * `spark.readStream.format(classOf[LogTailSource].getName).load(table)`
  * tails the S11 log with one micro-batch per offset window, offsets ARE
  * log versions, and Spark's own checkpoint mechanism carries the resume
  * position (the relay carries its own offsets in the destination log —
  * this source is for consumers that are NOT themselves a graft table:
  * a feature-store writer, an alerting job, any foreachBatch sink).
  *
  * Contract — APPEND-ONLY TAIL, loudly enforced: a commit in the read
  * window carrying a `remove` or `dv` action fails the stream with a
  * message naming the version (the same default posture Delta's
  * streaming source takes without `readChangeFeed`: silently skipping a
  * retraction would hand the consumer resurrected rows forever).
  * Compactions and deletes belong to the CDF path ([[graft.operators
  * .Lakehouse.cdfRead]] / the relay). Marker-only commits (schema, txn,
  * feature) produce empty batches and advance the offset.
  *
  * Scale shape: `latestOffset` is one log listing; planning a window is
  * O(manifests in the window) — it never lists the data directory, so a
  * stray or crashed-writer file can't enter the stream (the S11 read
  * rule). Each added FILE becomes one input partition; decode happens in
  * the executors through parquet-mr row materialization — the right
  * trade for tailing (micro-batches are change-volume-sized; the
  * vectorized path stays with the batch readers). Supported field types
  * are checked ONCE at stream construction and refuse loudly; files are
  * projected BY NAME onto the logged schema at their commit (a column
  * added later null-fills, extra physical columns are ignored — S12's
  * read rule, per batch).
  *
  * The feature gate (S21) rides free: planning walks manifests through
  * [[TableLog.walk]], so a table demanding an unimplemented reader feature
  * refuses at planning time like every other read path. */
class LogTailSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val spark = SparkSession.active
    val table = LogTailSource.tablePath(options)
    val cur = TableLog.currentVersion(spark, table)
    require(cur > 0, s"log tail source: no commits yet at $table")
    TableLog.schemaAsOf(spark, table, cur).getOrElse(throw new IllegalStateException(
      s"log tail source needs a logged schema for $table — commit one at v1"))
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new LogTailTable(schema,
      LogTailSource.tablePath(new CaseInsensitiveStringMap(properties)))

  override def supportsExternalMetadata(): Boolean = true
}

object LogTailSource {
  private[sources] def tablePath(options: CaseInsensitiveStringMap): String = {
    val p = options.get("path")
    require(p != null && p.nonEmpty,
      "log tail source needs .load(<table path>) (or option(\"path\", ...))")
    p
  }

  /** The decodable subset — checked at stream construction, not row one. */
  private[sources] def checkSupported(schema: StructType): Unit =
    schema.fields.foreach { f =>
      f.dataType match {
        case LongType | IntegerType | DoubleType | FloatType | BooleanType |
            StringType => ()
        case dt => throw new IllegalArgumentException(
          s"log tail source cannot decode column '${f.name}' of type " +
            s"${dt.simpleString} — supported: bigint, int, double, float, " +
            "boolean, string (project upstream or consume via the relay)")
      }
    }
}

private[sources] class LogTailTable(tableSchema: StructType, table: String)
    extends Table with SupportsRead {
  override def name(): String = s"graft-log-tail($table)"
  override def schema(): StructType = schema0
  private val schema0 = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // where a FRESH tail (no Spark checkpoint yet) begins: a version
    // number, or "latest" = only commits after query start. Defaults to 0
    // (full history) — on a table whose early manifests vacuumLog retired,
    // or whose history holds a compaction/DV commit, pass a later version
    // or "latest" (the Delta startingVersion posture; r17 review).
    val startingVersion = Option(options.get("startingversion"))
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = schema0
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = {
          LogTailSource.checkSupported(schema0)
          new LogTailMicroBatchStream(table, schema0, startingVersion)
        }
      }
    }
  }
}

/** Offset wire: `<v>` = tailing past version v; `s:<v>` = an initial
  * SNAPSHOT at version v is still pending (the first window streams the
  * live state AS OF v, then tailing continues from v). The pending flag
  * must ride the offset — Spark's offset log is the restart contract,
  * and a restart between snapshot planning and commit must re-plan the
  * SAME deterministic snapshot, not skip it. */
private[sources] case class VersionOffset(v: Int,
    snapshotPending: Boolean = false) extends Offset {
  override def json(): String = if (snapshotPending) s"s:$v" else v.toString
}

private[sources] object VersionOffset {
  def parse(json: String): VersionOffset =
    if (json.startsWith("s:")) VersionOffset(json.stripPrefix("s:").toInt, true)
    else VersionOffset(json.toInt)
}

/** One input partition = one file ADDED by a commit in the window, read
  * under the LOGGED SCHEMA as of that commit (carried here so executors
  * need no log access). */
private[sources] case class LogFilePartition(absPath: String,
    schemaJson: String) extends InputPartition

private[sources] class LogTailMicroBatchStream(table: String,
    schema: StructType, startingVersion: Option[String]) extends MicroBatchStream {

  private def spark = SparkSession.active

  override def initialOffset(): Offset = startingVersion match {
    case None => VersionOffset(0)
    case Some(s) if s.equalsIgnoreCase("latest") =>
      VersionOffset(TableLog.currentVersion(spark, table))
    case Some(s) if s.equalsIgnoreCase("snapshot") =>
      // the Delta default posture: first batch = the CURRENT live state
      // (no history replay, no compaction/DV refusals for the past),
      // then tail from there
      VersionOffset(TableLog.currentVersion(spark, table), snapshotPending = true)
    case Some(s) => VersionOffset(s.toIntOption.getOrElse(
      throw new IllegalArgumentException(
        s"startingVersion must be an integer, 'latest', or 'snapshot', got '$s'")))
  }
  override def latestOffset(): Offset = {
    val cur = TableLog.currentVersion(spark, table)
    // while the snapshot is pending, the next planned window must END on
    // a pending offset too if nothing new landed — equality with the
    // start offset is how Spark detects "no data"; the pending flag
    // clears only once a window actually delivers it
    VersionOffset(cur)
  }
  override def deserializeOffset(json: String): Offset =
    VersionOffset.parse(json)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val so = start.asInstanceOf[VersionOffset]
    val s = so.v
    val e = end.asInstanceOf[VersionOffset].v
    val parts = mutable.ArrayBuffer.empty[InputPartition]
    // ONE replay to the window base, walked forward through the window:
    // each commit's files read under the schema logged AT that commit
    val base = TableLog.liveState(spark, table, s)
    // pending initial snapshot: the live state AS OF the base version
    // streams as this window's head — deterministic (a mid-snapshot
    // restart re-plans the identical file set from the same offset), and
    // read DV-FREE only: this reader does not apply deletion vectors
    // (the batch readers' in-scan dv_contains filter), so a snapshot over
    // live DVs refuses loudly (OPTIMIZE absorbs them)
    if (so.snapshotPending && s >= 1) {
      require(base.dvs.isEmpty,
        s"log tail source: snapshot start at $table@v$s has live deletion " +
          s"vector(s) (e.g. ${base.dvs.head._1}) this reader cannot apply — " +
          "OPTIMIZE first to absorb them, or consume via the relay")
      val snapSchema = base.schema.getOrElse(schema)
      base.files.foreach(f =>
        parts += LogFilePartition(s"$table/${f.path}", snapSchema.json))
    }
    TableLog.walk(spark, table, base, s, e).foreach { step =>
      val v = step.version
      // the append-only contract: silently skipping a retraction would
      // hand every downstream consumer resurrected rows forever
      step.actions.foreach {
        case TableLog.Action("remove", p, _) =>
          throw new IllegalStateException(
            s"log tail source: $table@v$v removes $p — this is an " +
              "APPEND-ONLY tail; compactions/deletes/merges stream through " +
              "the change feed (Lakehouse.cdfRead / relay), not here")
        case TableLog.Action("dv", p, _) =>
          throw new IllegalStateException(
            s"log tail source: $table@v$v commits deletion vector $p — " +
              "this is an APPEND-ONLY tail; stream deletes via the change " +
              "feed (Lakehouse.cdfRead / relay), not here")
        case _ => ()
      }
      val vSchema = step.after.schema.getOrElse(schema)
      step.actions.foreach {
        case TableLog.Action("add", p, _) =>
          parts += LogFilePartition(s"$table/$p", vSchema.json)
        case _ => ()
      }
    }
    parts.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    // the SESSION's Hadoop conf must travel to the executors — a bare
    // `new Configuration()` there has no spark.hadoop.* overrides (object
    // store credentials, fs.defaultFS), so planning would succeed on the
    // driver and every reader die executor-side (r17 review)
    import scala.jdk.CollectionConverters._
    val conf = spark.sparkContext.hadoopConfiguration
    new LogTailReaderFactory(schema.json,
      conf.iterator().asScala.map(e => e.getKey -> e.getValue).toMap)
  }
}

private[sources] class LogTailReaderFactory(streamSchemaJson: String,
    hadoopConf: Map[String, String]) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[LogFilePartition]
    val conf = new Configuration()
    hadoopConf.foreach { case (k, v) => conf.set(k, v) }
    new LogTailPartitionReader(p.absPath, conf,
      DataType.fromJson(streamSchemaJson).asInstanceOf[StructType],
      DataType.fromJson(p.schemaJson).asInstanceOf[StructType])
  }
}

/** parquet-mr row materialization of ONE staged file, projected by NAME
  * onto the stream schema: a column the file lacks (staged before an
  * evolution) null-fills; physical columns outside the stream schema are
  * ignored. Missing-in-commit-schema columns also null-fill — the stream
  * schema is fixed at query start (Structured Streaming's contract), the
  * per-commit logged schema only gates which names MAY be read. */
private[sources] class LogTailPartitionReader(absPath: String,
    conf: Configuration, streamSchema: StructType, commitSchema: StructType)
    extends PartitionReader[InternalRow] {

  private val readable: Set[String] = commitSchema.fieldNames.toSet
  private val reader: ParquetReader[org.apache.parquet.example.data.Group] =
    ParquetReader.builder(new GroupReadSupport(), new Path(absPath))
      .withConf(conf).build()
  private var current: org.apache.parquet.example.data.Group = _

  override def next(): Boolean = {
    current = reader.read()
    current != null
  }

  override def get(): InternalRow = {
    val g = current
    val fileType = g.getType
    InternalRow.fromSeq(streamSchema.fields.toSeq.map { f =>
      if (!readable(f.name) || !fileType.containsField(f.name)) null
      else graft.plans.GroupValue(g, f.name, f.dataType)
    })
  }

  override def close(): Unit = reader.close()
}
