package graft.sources.v2

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.sinks.Snapshots

/** Structured-Streaming SOURCE over the version log (the "stream a lake
  * table's commits" integration every table format ships): a DataSource V2
  * `MicroBatchStream` whose OFFSETS are version numbers — each micro-batch
  * covers the commits in `(start, end]` and emits one row per DATA FILE
  * those commits added, `(version INT, file STRING)`. The consumer reads
  * the named files (`spark.read.parquet`) inside `foreachBatch` — the
  * file-manifest bridge pattern, which keeps the source itself
  * metadata-only (planner work is version × file-count bounded, zero data
  * bytes move through the driver) while the data read stays a normal
  * distributed parquet scan with full pushdown.
  *
  * Exactly-once falls out of the offset contract: the streaming engine
  * checkpoints the last committed version offset, so a restarted query
  * resumes at the first unstreamed commit and never re-emits a file.
  *
  * APPEND-ONLY semantics (the Delta streaming-source default): a commit
  * that REMOVES (file, dv) pairs — delete, compaction, merge — fails the
  * stream loudly, because its row-level effect cannot be expressed as
  * added files. `ignoreDeletes=true` opts into skipping those commits'
  * removals while still streaming their added files (the consumer accepts
  * eventual re-delivery of rewritten rows); full row-level replication
  * belongs to [[graft.sinks.Cdc.sync]].
  *
  * Options: `manifestRoot` (required), `startingVersion` (default 0 =
  * stream from the first commit), `ignoreDeletes` (default false).
  */
class TableCommitsSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    TableCommitsSource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new CommitsTable(properties.asScala.toMap)
}

object TableCommitsSource {
  val schema: StructType = StructType(Seq(
    StructField("version", IntegerType, nullable = false),
    StructField("file", StringType, nullable = false)))
}

final class CommitsTable(props: Map[String, String])
    extends Table with SupportsRead {
  override def name(): String =
    s"table-commits(${props.getOrElse("manifestRoot", "?")})"
  override def schema(): StructType = TableCommitsSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new CommitsScan(props ++ options.asScala)
    }
}

final case class VersionOffset(v: Int) extends Offset {
  override def json: String = v.toString
}

final class CommitsScan(opts: Map[String, String]) extends Scan {
  override def readSchema(): StructType = TableCommitsSource.schema
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new CommitsMicroBatchStream(opts)
}

final class CommitsMicroBatchStream(opts: Map[String, String])
    extends MicroBatchStream {

  private val root = opts.getOrElse("manifestRoot",
    throw new IllegalArgumentException("manifestRoot option is required"))
  private val starting = opts.getOrElse("startingVersion", "0").toInt
  private val ignoreDeletes =
    opts.getOrElse("ignoreDeletes", "false").toBoolean

  private def spark = SparkSession.active

  override def initialOffset(): Offset = VersionOffset(starting)

  override def latestOffset(): Offset =
    VersionOffset(Snapshots.visibleVersions(spark, root).lastOption
      .getOrElse(starting))

  override def deserializeOffset(json: String): Offset =
    VersionOffset(json.trim.toInt)

  override def planInputPartitions(start: Offset,
                                   end: Offset): Array[InputPartition] = {
    val s0 = start.asInstanceOf[VersionOffset].v
    val s1 = end.asInstanceOf[VersionOffset].v
    // visible commits only, each diffed against its nearest VISIBLE
    // predecessor: a pending or aborted txn stage is not table history
    // (its manifest read is refused), so it is neither a batch nor a base
    Snapshots.commits(spark, root, s0, s1).map(c =>
      CommitPartition(c.version,
        c.appendedFiles(root, ignoreDeletes).toArray): InputPartition)
      .toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new CommitsReaderFactory

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

final case class CommitPartition(version: Int, files: Array[String])
    extends InputPartition

final class CommitsReaderFactory extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val part = p.asInstanceOf[CommitPartition]
    new PartitionReader[InternalRow] {
      private var i = -1
      override def next(): Boolean = { i += 1; i < part.files.length }
      override def get(): InternalRow =
        new GenericInternalRow(Array[Any](part.version,
          UTF8String.fromString(part.files(i))))
      override def close(): Unit = ()
    }
  }
}
