package graft.catalog

import java.nio.file.Path

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.{LocalScan, Scan, ScanBuilder}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Iceberg-style metadata tables resolved from a 4th name part —
  * `cat.db.tbl.metadata_log_entries` etc., the surface the reference
  * notebook queries (cell 11: `SELECT * FROM {tbl}.metadata_log_entries`;
  * history link in cell 10). Backed by the JSON snapshot log; served as
  * a driver-local scan — metadata stays O(snapshots), never touching
  * data files, exactly like Iceberg's metadata tables.
  */
object MetadataTables {

  val names: Set[String] =
    Set("metadata_log_entries", "history", "snapshots", "files", "delete_files",
      "partitions", "refs", "manifests", "mirror")

  private def utf8(s: String): UTF8String = UTF8String.fromString(s)
  private def micros(ms: Long): Long = ms * 1000L

  def load(kind: String, identName: String, tableDir: Path): MetadataTable = {
    val log = TableMetadata.loadLog(tableDir)
    val currentV = log.last.version
    kind match {
      case "metadata_log_entries" =>
        val schema = StructType(Seq(
          StructField("timestamp", TimestampType),
          StructField("file", StringType),
          StructField("version", IntegerType),
          StructField("is_current_version", BooleanType)))
        val rows = log.map { m =>
          val ts = m.snapshots.lastOption.map(_.timestampMs).getOrElse(0L)
          new GenericInternalRow(Array[Any](
            micros(ts),
            utf8(TableMetadata.versionFile(tableDir, m.version).toString),
            m.version,
            m.version == currentV))
        }
        new MetadataTable(s"$identName.metadata_log_entries", schema, rows.toArray)

      case "history" =>
        val schema = StructType(Seq(
          StructField("made_current_at", TimestampType),
          StructField("version", IntegerType),
          StructField("operation", StringType),
          StructField("is_current_version", BooleanType)))
        val rows = log.last.snapshots.map { s =>
          new GenericInternalRow(Array[Any](
            micros(s.timestampMs), s.version, utf8(s.operation), s.version == currentV))
        }
        new MetadataTable(s"$identName.history", schema, rows.toArray)

      case "snapshots" =>
        val schema = StructType(Seq(
          StructField("committed_at", TimestampType),
          StructField("version", IntegerType),
          StructField("operation", StringType),
          StructField("added_files", IntegerType),
          StructField("total_files", IntegerType)))
        val rows = log.last.snapshots.map { s =>
          new GenericInternalRow(Array[Any](
            micros(s.timestampMs), s.version, utf8(s.operation), s.addedFiles, s.totalFiles))
        }
        new MetadataTable(s"$identName.snapshots", schema, rows.toArray)

      case "files" =>
        val schema = StructType(Seq(
          StructField("file_path", StringType),
          StructField("size_bytes", LongType),
          StructField("row_count", LongType))) // -1 = not recorded
        val current = log.last
        val rows = current.files.map { f =>
          val p = tableDir.resolve(f)
          val size = if (java.nio.file.Files.exists(p)) java.nio.file.Files.size(p) else -1L
          new GenericInternalRow(Array[Any](
            utf8(p.toString), size, current.fileRows.getOrElse(f, -1L)))
        }
        new MetadataTable(s"$identName.files", schema, rows.toArray)

      case "manifests" =>
        // the current version's manifest list (Iceberg's .manifests):
        // the observability face of the metadata layout — a ref count
        // far above ⌈files/ChunkSize⌉ says `CALL system
        // .rewrite_manifests` is due
        val current = log.last
        val schema = StructType(Seq(
          StructField("path", StringType),
          StructField("entry_count", IntegerType),
          StructField("size_bytes", LongType)))
        val md = TableMetadata.metadataDir(tableDir)
        val rows = current.manifests.map { r =>
          val p = md.resolve(r.path)
          val size = if (java.nio.file.Files.exists(p)) java.nio.file.Files.size(p) else -1L
          new GenericInternalRow(Array[Any](utf8(p.toString), r.count, size))
        }
        new MetadataTable(s"$identName.manifests", schema, rows.toArray)

      case "refs" =>
        // named references (Iceberg's refs metadata table analogue):
        // the current head, every snapshot tag (immutable pins), and
        // every writable branch at its own head version
        val current = log.last
        val schema = StructType(Seq(
          StructField("name", StringType),
          StructField("type", StringType),
          StructField("version", IntegerType)))
        val tagRows = current.properties.toSeq
          .collect { case (k, v) if k.startsWith(Maintenance.TagPrefix) =>
            (k.stripPrefix(Maintenance.TagPrefix), v.toIntOption.getOrElse(0))
          }
          .sortBy(_._1)
          .map { case (n, v) =>
            new GenericInternalRow(Array[Any](utf8(n), utf8("tag"), v))
          }
        val branchRows = Maintenance.branchNames(current).map { n =>
          new GenericInternalRow(Array[Any](
            utf8(n), utf8("branch"), Maintenance.branchHead(tableDir, n).version))
        }
        val head = new GenericInternalRow(
          Array[Any](utf8("main"), utf8("head"), current.version))
        new MetadataTable(s"$identName.refs", schema, (head +: (branchRows ++ tagRows)).toArray)

      case "mirror" =>
        // write-through Iceberg mirror health: whether the external
        // snapshot tracks the table, which version the hint names, and
        // any recorded failure state ([[IcebergExport.staleMarker]]) —
        // the observable face of "the mirror failed and only stderr
        // knew". stale=true means external readers are pinned at
        // hint_version while the table advanced; the next successful
        // commit or CALL export_iceberg heals it.
        val current = log.last
        val schema = StructType(Seq(
          StructField("enabled", BooleanType),
          StructField("table_version", IntegerType),
          StructField("hint_version", IntegerType),
          StructField("stale", BooleanType),
          StructField("detail", StringType)))
        val enabled = current.properties.get("graft.iceberg.mirror").contains("true")
        val md = TableMetadata.metadataDir(tableDir)
        val hint =
          try java.nio.file.Files.readString(md.resolve("version-hint.text"))
            .trim.toIntOption.getOrElse(-1)
          catch { case _: Exception => -1 }
        val marker =
          try Some(java.nio.file.Files.readString(
            IcebergExport.staleMarker(tableDir)).trim)
          catch { case _: Exception => None }
        val stale = marker.isDefined || (enabled && hint != current.version)
        val row = new GenericInternalRow(Array[Any](
          enabled, current.version, hint, stale,
          marker.map(utf8).orNull))
        new MetadataTable(s"$identName.mirror", schema, Array(row))

      case "partitions" =>
        // per-partition file/row/byte counts from METADATA alone
        // (Iceberg's partitions metadata table analogue): partition
        // value per file comes from the clustered write's footer range
        // (min == max on every partition column); files written before
        // the current spec (partition evolution) or spanning values
        // render as '*' rather than lie
        val current = log.last
        val pcols = current.partitionColumns
        val schema = StructType(Seq(
          StructField("partition", StringType),
          StructField("file_count", IntegerType),
          StructField("row_count", LongType),
          StructField("bytes", LongType)))
        def partOf(f: String): String =
          if (pcols.isEmpty) "<unpartitioned>"
          else pcols.map { c =>
            val v = current.fileStats.get(f).flatMap(_.get(c)) match {
              case Some(r) if !r.hasValues => "null"
              case Some(r) if r.min == r.max => r.min
              case _ => "*"
            }
            s"$c=$v"
          }.mkString("/")
        val rows = current.files.groupBy(partOf).toSeq.sortBy(_._1).map {
          case (p, fs) =>
            val bytes = fs.map { f =>
              val pth = tableDir.resolve(f)
              if (java.nio.file.Files.exists(pth)) java.nio.file.Files.size(pth) else 0L
            }.sum
            new GenericInternalRow(Array[Any](
              utf8(p), fs.size, fs.map(f => current.fileRows.getOrElse(f, 0L)).sum, bytes))
        }
        new MetadataTable(s"$identName.partitions", schema, rows.toArray)

      case "delete_files" =>
        // pending merge-on-read delete entries, equality and positional
        // (Iceberg's delete_files metadata table analogue)
        val schema = StructType(Seq(
          StructField("file_path", StringType),
          StructField("key_columns", StringType),
          StructField("sequence", IntegerType),
          StructField("key_rows", LongType),
          StructField("kind", StringType)))
        val rows = log.last.deleteFiles.map { d =>
          new GenericInternalRow(Array[Any](
            utf8(tableDir.resolve(d.path).toString),
            utf8(d.keyColumns.mkString(",")), d.seq, d.rows, utf8(d.kind)))
        }
        new MetadataTable(s"$identName.delete_files", schema, rows.toArray)
    }
  }
}

class MetadataTable(
    tableName: String,
    tableSchema: StructType,
    data: Array[InternalRow])
  extends Table with SupportsRead {

  override def name(): String = tableName
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new LocalScan {
        override def readSchema(): StructType = tableSchema
        override def rows(): Array[InternalRow] = data
        override def description(): String = s"LocalScan $tableName"
      }
    }
}
