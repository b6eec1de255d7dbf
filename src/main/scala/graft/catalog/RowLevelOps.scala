package graft.catalog

import java.nio.file.Path

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReaderFactory, Scan, ScanBuilder, SupportsRuntimeV2Filtering}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation, RowLevelOperationBuilder, RowLevelOperationInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.sources
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Group-based (copy-on-write) row-level operation backing SQL
  * `MERGE INTO`, `UPDATE` and predicate-arbitrary `DELETE` against a
  * [[LakehouseTable]] — the surface Iceberg exposes through the same
  * DSv2 hooks (`SupportsRowLevelOperations` → Spark's
  * RewriteMergeIntoTable/RewriteUpdateTable/RewriteDeleteFromTable
  * rewrite the statement into a ReplaceData plan; the reference's
  * runtime kept this OFF by never enabling the Iceberg extensions,
  * `SURVEY.md` §4, so this is a capability extension, not parity).
  *
  * COW contract, file granularity:
  *  - the SCAN determines the replaced groups: predicates Spark pushes
  *    are used for whole-FILE stats pruning ONLY — rows inside a
  *    surviving file are never filtered at scan level, because every
  *    row of a replaced group that the rewritten plan doesn't emit is
  *    deleted by definition (a row-group-skipped row would silently
  *    vanish). The rewritten logical plan itself applies the real
  *    row-level semantics (carry/update/insert/delete).
  *  - the WRITE lands the plan's output as new Parquet files (delegated
  *    to Spark's own DSv2 Parquet write, same move as the read path)
  *    and publishes one atomic snapshot: scanned files out, new files
  *    in, untouched files carried by reference. At 100 TB a selective
  *    MERGE therefore rewrites only the files whose stats admit
  *    matches, never the table.
  *  - concurrency: the operation pins the snapshot version it scanned;
  *    if another writer commits first, the publish fails cleanly (the
  *    rewrite was computed against a superseded file set — retrying
  *    metadata-only, as appends do, would lose the racer's rows).
  */
class LakehouseRowLevelOperation(
    spark: SparkSession,
    identName: String,
    tableDir: Path,
    cmd: RowLevelOperation.Command)
  extends RowLevelOperation {

  private val base = TableMetadata.load(tableDir)
  /** Files the row-level scan covered — the groups the write replaces.
    * Set at scan build (physical planning), read at write commit. */
  @volatile private var scannedFiles: Seq[String] = base.files

  private def abs(f: String): String = tableDir.resolve(f).toString

  override def command: RowLevelOperation.Command = cmd

  override def description: String = s"lakehouse-cow-$cmd"

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder
      with org.apache.spark.sql.connector.read.SupportsPushDownFilters
      with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns {

      private var pushed: Array[sources.Filter] = Array.empty
      private var required: StructType = base.schema

      override def pushFilters(filters: Array[sources.Filter]): Array[sources.Filter] = {
        pushed = filters
        filters // all residual — the rewritten plan re-applies them to rows
      }
      override def pushedFilters(): Array[sources.Filter] = pushed
      override def pruneColumns(requiredSchema: StructType): Unit =
        required = requiredSchema

      override def build(): org.apache.spark.sql.connector.read.Scan = {
        // A COW rewrite reads replaced files RAW (row-exact, see class
        // doc) — with merge-on-read deletes pending it would write the
        // deleted rows back at a fresh sequence. The scan cannot host
        // the merging anti-join, so refuse and point at the fix.
        if (MergeOnRead.anyApplicable(base, base.files))
          throw new IllegalStateException(
            s"$identName has merge-on-read deletes pending: copy-on-write SQL " +
              "MERGE/UPDATE/DELETE rewrites would resurrect deleted rows — run " +
              "Maintenance.compact or MergeOnRead.materializeDeletes " +
              "(CALL system.materialize_deletes) first, or set " +
              "write.merge.mode/write.update.mode/write.delete.mode=" +
              "'merge-on-read' to write deltas instead (dirty-table safe)")
        val survivors =
          FileSkipping.prune(base.files, base.fileStats, base.schema, pushed.toSeq)
        scannedFiles = survivors
        new CowScan(options, required, survivors)
      }
    }

  /** The row-level scan. Builds the delegate Parquet scan lazily from
    * the CURRENT survivor set at every planInputPartitions, so Spark's
    * runtime group filtering (below) can narrow the file list after
    * physical planning. Deliberately no pushDataFilters on the
    * delegate: parquet row-group/page skipping inside a surviving file
    * would drop rows from the rewrite (see class doc) — file-level
    * pruning is the only safe use of predicates here.
    *
    * SupportsRuntimeV2Filtering keys on the table's partition/cluster
    * columns: commits cluster files by them, so their per-file ranges
    * are narrow, their matched-value IN-set is bounded (unlike a row
    * key's), and Spark's group-filter subquery (DISTINCT partition
    * values of rows matching the ON/WHERE condition) prunes a MERGE
    * from whole-table COW down to the files of the touched partitions
    * — the difference between rewriting 100 TB and rewriting one
    * partition when merging a daily delta. */
  private class CowScan(
      options: CaseInsensitiveStringMap,
      required: StructType,
      initialSurvivors: Seq[String])
    extends Scan with SupportsRuntimeV2Filtering {

    private var survivors: Seq[String] = initialSurvivors

    private def buildDelegate(): Scan =
      ScanFiles.parquet(spark, identName, options, survivors.map(abs), base.schema, required)

    override def readSchema(): StructType = required
    override def description(): String = s"lakehouse-cow-scan-$cmd"

    override def filterAttributes(): Array[NamedReference] =
      base.partitionColumns.map(c => Expressions.column(c)).toArray

    override def filter(predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit = {
      // shared conversion (RuntimePredicates): IN / = over partition
      // columns; unconvertible predicates just keep files
      val v1 = predicates.flatMap(RuntimePredicates.toV1)
      survivors = FileSkipping.prune(survivors, base.fileStats, base.schema, v1.toSeq)
      scannedFiles = survivors
    }

    override def toBatch: Batch = new Batch {
      private var current: Batch = _
      override def planInputPartitions(): Array[InputPartition] = {
        current = buildDelegate().toBatch // rebuilt per plan: sees post-filter survivors
        scannedFiles = survivors
        current.planInputPartitions()
      }
      override def createReaderFactory(): PartitionReaderFactory = {
        if (current == null) current = buildDelegate().toBatch
        current.createReaderFactory()
      }
    }
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = {
        val commitRel = CommitFiles.plainRel(base.version + 1, cmd.toString.toLowerCase)
        val writeSchema = info.schema()
        // CHECK constraints + generated-column conformance on the COW
        // rewrite's rows: kept rows satisfy them by induction (ADD
        // CONSTRAINT verified existing data), so this catches exactly
        // the violations the UPDATE/MERGE assignments introduce — a
        // stale generated column or a violating SET fails the write
        // instead of committing
        val rowChecks = CheckConstraints.rowChecks(spark, writeSchema, base.properties)
        val rowGen = GeneratedColumns.rowGenerate(spark, writeSchema, base.properties)
        new Write {
          override def description: String = s"lakehouse-cow-$cmd"
          override def toBatch: BatchWrite = new BatchWrite {
            private val delegate = CommitFiles.batchWrite(
              spark, identName, tableDir.resolve(commitRel), base.schema, info)
            override def createBatchWriterFactory(pInfo: PhysicalWriteInfo): DataWriterFactory =
              new OperationColumnStrippingWriterFactory(
                delegate.createBatchWriterFactory(pInfo), writeSchema, rowChecks, rowGen)
            override def useCommitCoordinator(): Boolean = delegate.useCommitCoordinator()
            override def commit(messages: Array[WriterCommitMessage]): Unit = {
              delegate.commit(messages) // finalize task files into the staging dir
              publish(commitRel)
            }
            override def abort(messages: Array[WriterCommitMessage]): Unit =
              delegate.abort(messages)
          }
        }
      }
    }

  /** Swap the scanned files for the rewrite's output in ONE metadata
    * commit. A racer that only APPENDED or changed properties commutes
    * — the rewrite rebases onto its commit ([[SnapshotChange.Rebase]]);
    * any racer that touched files or delete entries fails the commit
    * clean. */
  private def publish(commitRel: String): Unit = {
    val staged = CommitFiles.collect(spark, tableDir, base.schema, base.properties, commitRel)
    // explicit BY DEFAULT identity values a MERGE inserted must advance
    // the high-water mark, or the next batch INSERT re-mints them as
    // duplicates; rebase merges the marks monotonically under races
    SnapshotChange.commit(tableDir, base, SnapshotChange.Change(cmd.toString.toLowerCase,
      staged = staged, removed = scannedFiles.toSet,
      properties = p => IdentityColumns.advance(p,
        IdentityColumns.committedExtreme(base.schema, p, staged.stats, staged.rows))),
      SnapshotChange.Rebase)
  }
}

/** Strips the leading `__row_operation` column Spark's group-based
  * UPDATE/MERGE rewrites prepend to the replace-data rows.
  *
  * Spark only applies its own `ReplaceDataProjections` when the
  * operation demands metadata attributes (`DataAndMetadataWritingSparkTask`;
  * with no metadata attrs `ReplaceDataExec.writingTask` falls back to the
  * plain task and the projection is never run), so a connector without
  * metadata columns receives `[__row_operation, <table columns...>]`
  * while the write was planned for `<table columns...>`. DELETE rewrites
  * carry no operation column and pass through unchanged. Detection is
  * structural (arity = write schema + 1) and checked per writer. */
private class OperationColumnStrippingWriterFactory(
    delegate: DataWriterFactory,
    writeSchema: StructType,
    checks: Option[CheckConstraints.RowChecks] = None,
    generate: Option[GeneratedColumns.RowGenerate] = None)
  extends DataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long):
      org.apache.spark.sql.connector.write.DataWriter[org.apache.spark.sql.catalyst.InternalRow] = {
    val inner = delegate.createWriter(partitionId, taskId)
    val n = writeSchema.length
    val types = writeSchema.fields.map(_.dataType)
    // generated columns recomputed on every rewritten row (a SET on a
    // source column must refresh its dependents — Delta's semantics),
    // then CHECK-validated, so constraints see the committed values
    def finish(r: org.apache.spark.sql.catalyst.InternalRow): Unit = {
      val out = generate match { case Some(g) => g(r); case None => r }
      checks.foreach(_.validate(out))
      inner.write(out)
    }
    new org.apache.spark.sql.connector.write.DataWriter[org.apache.spark.sql.catalyst.InternalRow] {
      override def write(row: org.apache.spark.sql.catalyst.InternalRow): Unit = {
        if (row.numFields == n) { finish(row) }
        else if (row.numFields == n + 1) {
          // field 0 is the rewrite's operation marker; 1..n are the
          // table columns in write-schema order
          val vals = new Array[Any](n)
          var i = 0
          while (i < n) { vals(i) = row.get(i + 1, types(i)); i += 1 }
          finish(new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(vals))
        } else {
          throw new IllegalStateException(
            s"replace-data row has ${row.numFields} fields; write schema has $n")
        }
      }
      override def commit(): WriterCommitMessage = inner.commit()
      override def abort(): Unit = inner.abort()
      override def close(): Unit = inner.close()
    }
  }
}

/** Builder handed to Spark from
  * [[LakehouseTable.newRowLevelOperationBuilder]]: picks the write
  * strategy per command from table properties, Iceberg's contract —
  * `write.merge.mode` / `write.update.mode` / `write.delete.mode` (or
  * the `graft.`-prefixed spellings) = `merge-on-read` selects the
  * delta operation ([[LakehouseDeltaOperation]], O(changed rows));
  * anything else keeps group-based copy-on-write
  * ([[LakehouseRowLevelOperation]], read-optimal). */
class LakehouseRowLevelOperationBuilder(
    spark: SparkSession,
    identName: String,
    tableDir: Path,
    info: RowLevelOperationInfo)
  extends RowLevelOperationBuilder {

  override def build(): RowLevelOperation = {
    import RowLevelOperation.Command._
    val meta = TableMetadata.load(tableDir)
    // A MERGE can insert rows, and a row-level writer cannot mint
    // identity values (no commit-scoped sequence range at task level) —
    // so an INSERT clause would land writer-supplied values in a column
    // declared GENERATED ALWAYS, indistinguishable from minted ones
    // post-write. Refuse up front (Delta's historical restriction);
    // BY DEFAULT columns accept explicit values, so MERGE stays open
    // and the commit advances the mark past them. UPDATE/DELETE only
    // carry existing values and pass.
    if (info.command == MERGE) {
      val always = IdentityColumns.of(meta.properties)
        .collect { case (c, spec) if !spec.allowExplicit => c }
      require(always.isEmpty,
        s"MERGE INTO cannot write identity column(s) ${always.mkString(", ")} " +
          "declared GENERATED ALWAYS — the merge's INSERT clause would supply " +
          "explicit values; declare GENERATED BY DEFAULT or route new rows " +
          "through INSERT INTO")
    }
    val modeKey = info.command match {
      case MERGE => "merge"
      case UPDATE => "update"
      case DELETE => "delete"
    }
    val mode = meta.properties.get(s"graft.$modeKey.mode")
      .orElse(meta.properties.get(s"write.$modeKey.mode"))
    if (mode.exists(_.startsWith("merge-on-read")))
      new LakehouseDeltaOperation(spark, identName, tableDir, info.command)
    else
      new LakehouseRowLevelOperation(spark, identName, tableDir, info.command)
  }
}
