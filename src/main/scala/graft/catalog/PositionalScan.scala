package graft.catalog

import java.nio.file.Path

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan}
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.sources
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Scan variant that serves the [[LakehouseTable.RowIdColName]] metadata
  * column: each row carries `struct(file, pos)` — its table-relative
  * data file and 0-based row offset — the row identity the delta
  * (merge-on-read) MERGE/UPDATE/DELETE writes into POSITIONAL delete
  * entries (and a user-queryable introspection column, the same shape
  * as Iceberg's `_file`/`_pos`).
  *
  * Exactness under pushdown: the row offset comes from Spark's own
  * parquet row-index generation (a read-schema field named
  * `ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME` is populated by
  * the reader with the row's FILE-GLOBAL ordinal), which accounts for
  * row-group skipping and split boundaries — so predicate pushdown
  * stays fully enabled and a selective MERGE reads only the row groups
  * its ON keys admit. File attribution needs one file per input
  * partition: the delegate's planned partitions are re-grouped per
  * `PartitionedFile` (split granularity is preserved, so one 10 GB
  * file still reads as parallel row-group splits; only multi-FILE
  * coalescing is given up, irrelevant at target file sizes).
  */
private[catalog] class PositionalRowIdScan(
    spark: SparkSession,
    identName: String,
    tableDir: Path,
    meta: TableMetadata,
    required: StructType,
    pushed: Array[sources.Filter],
    options: CaseInsensitiveStringMap)
  extends Scan
    with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning {

  private def abs(f: String): String = tableDir.resolve(f).toString

  private val dataRequired = StructType(
    required.fields.filterNot(_.name == LakehouseTable.RowIdColName))
  // the reader special-cases this exact NAME (ParquetRowIndexUtil
  // matches on ROW_INDEX_TEMPORARY_COLUMN_NAME; ROW_INDEX_FIELD is
  // the _metadata struct's inner field, not the flat temp column)
  private val rowIdxField = org.apache.spark.sql.types.StructField(
    ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME,
    org.apache.spark.sql.types.LongType)
  private val delegateRequired = StructType(dataRequired.fields :+ rowIdxField)

  // same observability hook as the main scan: a partition-selective
  // MoR MERGE shows its static file skipping here — from an ON
  // conjunct (`t.day = '2024-01-02'`) or a source-subquery literal
  // the DeltaTargetPruning filter swap walks below the cardinality
  // check. Runtime values prune via filter() instead (the
  // DynamicPruningSubquery DeltaTargetPruning inserts — Spark's own
  // DPP is structurally blind on row-level writes, see that rule).
  @volatile private var survivors: Seq[String] = {
    val s = ScanFiles.prune(tableDir, meta, meta.files, pushed.toSeq)
    LakehouseTable.lastPositionalScanFileCounts = (s.size, meta.files.size)
    s
  }

  /** Bucket-aware planning, the main scan's contract: the target side
    * of a co-bucketed MoR `MERGE INTO t USING s ON t.k = s.k` plans a
    * storage-partitioned join — zero shuffle on either side of the
    * 100 TB daily-upsert shape. Files later appended by delta commits
    * are not bucket-named, which degrades this scan — not its
    * correctness — until compaction restores the layout. */
  private val bucketPlan = ScanFiles.bucketPlan(spark, meta, required, survivors)

  override def outputPartitioning():
      org.apache.spark.sql.connector.read.partitioning.Partitioning =
    bucketPlan.map(_.partitioning).getOrElse(
      new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(0))

  /** Runtime file skipping, the main scan's contract: a MERGE's ON
    * keys over partition/bloom columns hand their matched values here
    * after the source side runs, and whole target files drop before
    * any task reads them. Disabled on bucketed scans. */
  override def filterAttributes():
      Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    if (bucketPlan.isDefined) Array.empty
    else ScanFiles.runtimeFilterColumns(meta, dataRequired)

  override def filter(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit =
    survivors = ScanFiles.runtimePrune(tableDir, meta, survivors, predicates, meta.files.size)

  override def readSchema(): StructType = required
  override def description(): String = s"lakehouse-positional-rowid-scan $identName"

  private def mkDelegate(files: Seq[String]): Scan =
    ScanFiles.parquet(spark, identName, options, files.map(abs),
      StructType(meta.schema.fields :+ rowIdxField), delegateRequired, pushed)

  /** required-order output plan: data columns by delegate index, the
    * row-id struct marked -1; computed against the delegate's ACTUAL
    * read schema, not an assumed order (stable across rebuilds — the
    * pruned schema doesn't depend on the file subset). The row-id
    * struct's FIELD LIST comes from the required schema too: nested
    * schema pruning may have narrowed it (a filter touching only
    * `.pos` prunes `file` away), and the emitted struct must match the
    * declared shape field-for-field or consumers read the wrong
    * ordinals. */
  private lazy val (outPlan: Array[Int], outTypes: Array[DataType],
      rowIdxIdx: Int, rowIdFieldPlan: Array[Boolean]) = {
    val delSchema = mkDelegate(survivors).readSchema()
    val idxOf = delSchema.fieldNames.zipWithIndex.toMap
    val plan = required.fields.map { f =>
      if (f.name == LakehouseTable.RowIdColName) -1
      else idxOf.getOrElse(f.name, throw new IllegalStateException(
        s"positional scan delegate lost column ${f.name} (has: ${
          delSchema.fieldNames.mkString(", ")})"))
    }
    // per requested row-id subfield: true = the pos (row index), false
    // = the file path — in the (possibly pruned) declared order
    val fieldPlan = required.fields.find(_.name == LakehouseTable.RowIdColName)
      .map(_.dataType.asInstanceOf[StructType].fields.map { sf =>
        sf.name match {
          case DeleteFile.PosPosCol => true
          case DeleteFile.PosFileCol => false
          case other => throw new IllegalStateException(
            s"unknown ${LakehouseTable.RowIdColName} subfield $other")
        }
      }).getOrElse(Array.empty[Boolean])
    (plan, delSchema.fields.map(_.dataType): Array[DataType],
      idxOf.getOrElse(rowIdxField.name, throw new IllegalStateException(
        "parquet delegate dropped the row-index generation column")),
      fieldPlan)
  }

  override def toBatch: Batch = {
    ScanFiles.requireMerged(identName, meta, options)
    new Batch {
    // built per planInputPartitions so runtime filtering applied after
    // physical planning still narrows the file list (main-scan pattern)
    private var current: Batch = _

    override def planInputPartitions(): Array[InputPartition] = {
      val files = survivors
      current = mkDelegate(files).toBatch
      // one FILE per partition (splits preserved) so the reader knows
      // each row's source file without per-row file tracking
      val relByAbs = files.map(f => abs(f) -> f).toMap
      val fileSet = files.toSet
      val perFile = current.planInputPartitions().flatMap {
        case fp: FilePartition =>
          fp.files.map { pf =>
            val a = pf.filePath.toString
            PosRowIdPartition(
              FilePartition(0, Array(pf)),
              relByAbs.getOrElse(a, {
                // delegate paths can come back as percent-encoded URIs
                // (file:...): derive identity through the ONE canonical
                // function the read-side folding also uses, then verify
                // it names a snapshot file — never a fuzzy suffix match
                val rel = MergeOnRead.relPathOfScanned(a)
                if (fileSet.contains(rel)) rel
                else throw new IllegalStateException(
                  s"cannot relativize scanned file $a (canonical suffix " +
                    s"$rel is not a snapshot data file)")
              }))
          }
        case other =>
          // fail loudly like the relativization guard above: a null
          // relPath would stamp every row's _graft_row_id with a null
          // file identity, so positional delete tuples written from it
          // could never fold back — deleted rows silently reappearing
          throw new IllegalStateException(
            s"parquet delegate returned a non-file partition ${other.getClass.getName} — " +
              "cannot derive row identity for positional deletes")
      }
      bucketPlan match {
        case Some(plan) =>
          // one input partition PER BUCKET, keyed for the storage-
          // partitioned join; all splits of a bucket's files read
          // sequentially in one task (the SPJ granularity tradeoff the
          // main scan's bucket batch makes too). Exactly n partitions,
          // empty buckets included, so both join sides expose identical
          // key sets.
          val byBucket = perFile.groupBy(p =>
            Bucketing.bucketIdOf(p.relPath).getOrElse(throw new IllegalStateException(
              s"bucketPlan held but ${p.relPath} is not bucket-addressable")))
          (0 until plan.count).map { i =>
            PosRowIdBucketPartition(
              byBucket.getOrElse(i, Array.empty), Bucketing.partitionKey(i), i)
              : InputPartition
          }.toArray
        case None =>
          perFile.zipWithIndex.map { case (p, i) => p.copy(index = i) }
            .toArray[InputPartition]
      }
    }

    override def createReaderFactory(): PartitionReaderFactory = {
      if (current == null) current = mkDelegate(survivors).toBatch
      new PosRowIdReaderFactory(
        current.createReaderFactory(), outPlan, outTypes, rowIdxIdx, rowIdFieldPlan)
    }
    }
  }
}

private case class PosRowIdPartition(
    inner: InputPartition, relPath: String, index: Int = 0) extends InputPartition {
  override def preferredLocations(): Array[String] = inner.preferredLocations()
}

/** One bucket's worth of per-file row-id partitions, keyed for the
  * storage-partitioned join. */
private case class PosRowIdBucketPartition(
    inners: Array[PosRowIdPartition],
    key: InternalRow,
    index: Int)
  extends InputPartition
    with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow = key
  override def preferredLocations(): Array[String] =
    inners.flatMap(_.preferredLocations()).distinct
}

private class PosRowIdReaderFactory(
    innerFactory: PartitionReaderFactory,
    outPlan: Array[Int],
    outTypes: Array[DataType],
    rowIdxIdx: Int,
    rowIdFieldPlan: Array[Boolean])
  extends PartitionReaderFactory {

  // the wrapper assembles rows, so the scan is row-based; the delegate
  // still decodes parquet vectorized internally when enabled
  override def supportColumnarReads(partition: InputPartition): Boolean = false

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    partition match {
      case p: PosRowIdPartition => singleReader(p)
      case b: PosRowIdBucketPartition =>
        // sequential concatenation of the bucket's file readers, opened
        // lazily so a wide bucket never holds >1 file open
        new PartitionReader[InternalRow] {
          private var i = -1
          private var cur: PartitionReader[InternalRow] = _
          override def next(): Boolean = {
            while (true) {
              if (cur != null && cur.next()) return true
              if (cur != null) { cur.close(); cur = null }
              i += 1
              if (i >= b.inners.length) return false
              cur = singleReader(b.inners(i))
            }
            false
          }
          override def get(): InternalRow = cur.get()
          override def close(): Unit = if (cur != null) cur.close()
        }
    }

  private def singleReader(p: PosRowIdPartition): PartitionReader[InternalRow] = {
    val inner = innerFactory.createReader(p.inner)
    val file = UTF8String.fromString(p.relPath)
    new PartitionReader[InternalRow] {
      private val out = new GenericInternalRow(outPlan.length)
      override def next(): Boolean = inner.next()
      override def get(): InternalRow = {
        val row = inner.get()
        var i = 0
        while (i < outPlan.length) {
          val src = outPlan(i)
          if (src >= 0) out.update(i, if (row.isNullAt(src)) null else row.get(src, outTypes(src)))
          else {
            val vals = new Array[Any](rowIdFieldPlan.length)
            var j = 0
            while (j < vals.length) {
              vals(j) = if (rowIdFieldPlan(j)) row.getLong(rowIdxIdx) else file
              j += 1
            }
            out.update(i, new GenericInternalRow(vals))
          }
          i += 1
        }
        out
      }
      override def close(): Unit = inner.close()
    }
  }
}
