package graft.catalog

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.connector.catalog.{StagedTable, SupportsWrite, TableCapability}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.sources.InsertableRelation
import org.apache.spark.sql.types.StructType

/** Atomic CTAS / RTAS staging: the SELECT's output lands as data files
  * under the table directory while the table metadata stays unpublished;
  * `commitStagedChanges` then makes the whole statement visible with the
  * one metadata swap every other commit uses. A failed or aborted CTAS
  * leaves no table (and a failed RTAS leaves the old version current) —
  * the same all-or-nothing contract Iceberg gives `REPLACE TABLE AS
  * SELECT`. Data-before-metadata is already this catalog's write order,
  * so staging defers exactly one step: the publish.
  *
  * `priorSnapshots` carries the replaced table's history on RTAS (the
  * old versions stay time-travelable; `replace` is just the next
  * snapshot); empty for CTAS.
  */
class StagedLakehouseTable(
    spark: SparkSession,
    identName: String,
    dir: Path,
    version: Int,
    stagedSchema: StructType,
    partitionColumns: Seq[String],
    tableProperties: Map[String, String],
    priorSnapshots: Seq[Snapshot],
    op: String)
  extends StagedTable with SupportsWrite {

  private val commitRel = CommitFiles.dataRel(tableProperties, version, op)
  private val commitDir = dir.resolve(commitRel)
  @volatile private var written = CommitFiles.Staged.empty

  override def name(): String = identName
  override def schema(): StructType = stagedSchema
  override def properties(): java.util.Map[String, String] = tableProperties.asJava
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      // the staged table is empty by construction; truncate-then-write
      // (RTAS plans an overwrite) is the same as write
      override def truncate(): WriteBuilder = this
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(rawData: DataFrame, overwrite: Boolean): Unit = {
              // CTAS/RTAS are new-row writes like any INSERT: generated
              // columns compute here and CHECK constraints guard the
              // result — `CREATE TABLE ... AS SELECT` cannot smuggle a
              // violating row past a constraint declared in the same DDL
              val data = CheckConstraints.enforce(
                GeneratedColumns.compute(rawData, stagedSchema, tableProperties),
                tableProperties)
              written = CommitFiles.writeData(spark, dir, stagedSchema, tableProperties,
                commitRel, data, CommitFiles.byPartition(partitionColumns))
            }
          }
      }
    }

  override def commitStagedChanges(): Unit =
    SnapshotChange.commit(dir, TableMetadata(
      version = version - 1,
      name = identName.split('.').last,
      schema = stagedSchema,
      partitionColumns = partitionColumns,
      properties = tableProperties,
      files = Seq.empty,
      snapshots = priorSnapshots), SnapshotChange.Change(op, staged = written),
      SnapshotChange.Once)

  override def abortStagedChanges(): Unit = {
    Fs.deleteRecursively(commitDir)
    // a staged CREATE owns the whole directory (no published metadata
    // yet); a staged REPLACE must leave the live table untouched
    if (op == "create" && !TableMetadata.exists(dir) && Files.isDirectory(dir)) {
      Fs.deleteRecursively(dir)
    }
  }
}
