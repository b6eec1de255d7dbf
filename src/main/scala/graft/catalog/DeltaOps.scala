package graft.catalog

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{DeltaBatchWrite, DeltaWrite, DeltaWriteBuilder, DeltaWriter, DeltaWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation, SupportsDelta, WriterCommitMessage}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Delta-based (merge-on-read) row-level operation backing SQL
  * `MERGE INTO` / `UPDATE` / `DELETE` when the table opts in with
  * `graft.merge.mode=merge-on-read` (Iceberg's `write.merge.mode` /
  * `write.update.mode` / `write.delete.mode` spellings are honored as
  * aliases) — Spark's own SupportsDelta framework (the hook Iceberg's
  * MoR MERGE uses): RewriteMergeIntoTable/RewriteUpdateTable/
  * RewriteDeleteFromTable plan a WriteDelta instead of a group-based
  * ReplaceData, and the writer receives only the CHANGED rows, each
  * tagged insert/update/delete with its row identity.
  *
  * Row identity is POSITIONAL by default — the non-null
  * `_graft_row_id` metadata column (struct of table-relative file path
  * + 0-based row offset, Iceberg's `_file`/`_pos` folded into one
  * attribute, served by [[PositionalRowIdScan]]). Deletes then land as
  * POSITIONAL delete entries ([[DeleteFile.Positional]]): exact for
  * ANY table — no declared key, no key-uniqueness assumption, null
  * keys included — and read-side folding skips every file the entry's
  * path range doesn't name. With a declared NON-NULL `graft.key` the
  * identity switches to the key tuple and deletes land as EQUALITY
  * entries instead (see [[keyIdentity]]). The cost contract vs the COW
  * operation ([[LakehouseRowLevelOperation]]):
  *
  *  - COW rewrites every file with >=1 matched row — O(touched files ×
  *    file size). A daily MERGE of 1M rows into a 100 TB table whose
  *    matches spread across 10k files rewrites ~10 TB.
  *  - This operation writes O(changed rows): small (file,pos) delete
  *    parquets + the new row versions, ONE metadata commit, zero data
  *    files rewritten. The entries' sequence equals the new files'
  *    sequence, so they subtract exactly the pre-image rows and never
  *    the incoming versions (same contract as [[MergeOnRead.morUpsert]]).
  *    Readers fold them via [[MorReads]]; compaction later restores
  *    join-free scans.
  *
  * The MERGE's target-side read goes through [[PositionalRowIdScan]]
  * over the operation's pinned snapshot — full predicate pushdown
  * INCLUDING row-group skipping is safe (row offsets come from the
  * parquet reader's own row-index generation, which stays file-global
  * under skipping), so a selective MERGE reads only the row groups its
  * ON keys admit. Pending delete entries are folded by [[MorReads]]
  * (which recognizes the rewrite's RowLevelOperationTable relations),
  * so matching runs against the merged view — a row already deleted is
  * NOT MATCHED and a MERGE can re-insert it rather than resurrect its
  * old version.
  *
  * Known tradeoffs (deliberate, Iceberg-equivalent):
  *  - each write task lands its own delete parquet → one positional
  *    entry per task, scoped by that task's file-path range; a
  *    churn-heavy table accumulates entries until compaction folds
  *    them (the read side prunes per-entry by path range, so cost
  *    grows with TOUCHED files, not with entry count × table size);
  *  - the positional target scan reads row-based (the wrapper
  *    assembles the row-id struct); on a BUCKETED table it reports
  *    KeyGroupedPartitioning (same guards as the main scan), so a
  *    co-bucketed MERGE joins storage-partitioned with zero shuffle
  *    (MergeSqlSpec asserts the plan). Delta-appended row versions are
  *    not bucket-named, which degrades later scans to unkeyed until
  *    compaction restores the layout; the dependable fallback lever is
  *    the static partition conjunct in ON (file-skips before any task
  *    runs).
  */
class LakehouseDeltaOperation(
    spark: SparkSession,
    identName: String,
    tableDir: Path,
    cmd: RowLevelOperation.Command)
  extends RowLevelOperation with SupportsDelta {

  private val base = TableMetadata.load(tableDir)

  override def command: RowLevelOperation.Command = cmd
  override def description: String = s"lakehouse-mor-$cmd"

  /** Declared-key EQUALITY identity: when `graft.key` (the Iceberg
    * identifier-field contract — the table is key-unique, morUpsert's
    * contract too) names columns that are all NON-NULL in the schema,
    * the operation's row identity is the key tuple itself and deletes
    * land as EQUALITY entries (the Flink-CDC shape) instead of
    * positional ones. Two scale wins: the delete parquet holds bare
    * key tuples — smaller than (file, path-string + offset) rows for
    * selective deletes — and the target read needs no row-id struct,
    * so it stays on the main scan (vectorized, bucket-aware, no
    * per-file partition regrouping). Nullable or undeclared keys fall
    * back to the positional identity: Spark rejects nullable row-id
    * attributes (NULLABLE_ROW_ID_ATTRIBUTES), and without a key
    * contract only (file, pos) can name a row exactly. */
  private[catalog] val keyIdentity: Option[Seq[String]] =
    base.properties.get(LakehouseTable.KeyProp)
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
      .filter(ks => ks.nonEmpty && ks.forall(k =>
        base.schema.fields.exists(f => f.name == k && !f.nullable)))

  override def rowId(): Array[NamedReference] =
    keyIdentity.map(_.map(Expressions.column).toArray)
      .getOrElse(Array(Expressions.column(LakehouseTable.RowIdColName)))

  /** UPDATE arrives as update(id, newRow): we position-delete the OLD
    * row and append the new version in the same commit — one writer
    * call, no need for Spark to split it into delete+insert rows. */
  override def representUpdateAsDeleteAndInsert(): Boolean = false

  /** Standard table scan over the snapshot this operation pinned; when
    * Spark requests the `_graft_row_id` rowId column the builder routes
    * to [[PositionalRowIdScan]]. File skipping, bloom sidecars and full
    * predicate pushdown all apply — the delta only needs the matched
    * rows, so skipping unmatched rows is free selectivity, not a
    * correctness hazard (contrast CowScan's file-granularity contract). */
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new LakehouseTable(spark, identName, tableDir, base).newScanBuilder(options)

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite = {
        val next = base.version + 1
        val op = s"mor-${cmd.toString.toLowerCase}"
        // positional-delta data files are written by per-task delegate
        // writers (a task's rows span buckets), so on a BUCKETED table
        // they are not bucket-addressable: the scan's
        // KeyGroupedPartitioning and the mirror's bucket[n] claim
        // honestly degrade until compaction re-buckets them through
        // Bucketing.cluster (BucketSpec pins that repair)
        val dataRel = CommitFiles.plainRel(next, op)
        val delRel = CommitFiles.deleteRel(if (keyIdentity.isDefined) "d" else "p", next)
        new LakehouseDeltaWrite(
          spark, identName, tableDir, base, op, dataRel, delRel, keyIdentity)
      }
    }
}

/** The delta write: rows fan out per task to (at most) two delegate
  * Parquet writers — new row versions into a data staging dir,
  * (file, pos) delete tuples into a delete staging dir — then ONE
  * metadata commit appends the data files and the positional delete
  * entries at the same sequence. Tasks that see no rows of a kind
  * never open that writer, so a pure DELETE writes no data files and
  * an insert-only MERGE writes no delete entry. Each task file becomes
  * one entry scoped by its own path range; a churn-heavy table folds
  * them back via compaction (Iceberg's shape exactly). */
private class LakehouseDeltaWrite(
    spark: SparkSession,
    identName: String,
    tableDir: Path,
    base: TableMetadata,
    op: String,
    dataRel: String,
    delRel: String,
    keyIdentity: Option[Seq[String]])
  extends DeltaWrite {

  /** Delete-entry schema: declared-key tuples (equality) or (file, pos)
    * (positional) — must match what [[LakehouseDeltaOperation.rowId]]
    * made Spark project as the writer's `id` row. */
  private val delSchema: StructType = keyIdentity
    .map(ks => MergeOnRead.keySchema(base.schema, ks))
    .getOrElse(MergeOnRead.posKeySchema)

  override def description(): String = s"lakehouse-$op"

  override def toBatch: DeltaBatchWrite = new DeltaBatchWrite {

    override def createBatchWriterFactory(pInfo: PhysicalWriteInfo): DeltaWriterFactory = {
      // Parquet writing via the format's own OutputWriterFactory, NOT
      // the Hadoop commit protocol: a task writes its files straight
      // into the staging dirs under unique attempt-scoped names and
      // reports them in its commit message — only message-listed files
      // are published, so atomicity/exclusivity come from the snapshot
      // commit plus Spark's commit coordinator (consulted ONCE per
      // task by DeltaWritingSparkTask). Routing each half through a
      // FileFormatDataWriter instead would consult the coordinator a
      // second time inside the task and self-deny (observed as an
      // endless CommitDenied retry loop).
      val (dataF, dataConf) = CommitFiles.outputWriters(spark, base.schema)
      val (keyF, keyConf) = CommitFiles.outputWriters(spark, delSchema)
      DeltaTaskWriterFactory(
        dataF, dataConf, base.schema, tableDir.resolve(dataRel).toString,
        keyF, keyConf, delSchema, tableDir.resolve(delRel).toString,
        positional = keyIdentity.isEmpty,
        // CHECK constraints guard the MERGE/UPDATE-written row versions;
        // generated columns are COMPUTED first (overwriting whatever the
        // MERGE assignments supplied), so the conformance check can only
        // trip on a genuine CHECK violation
        checks = CheckConstraints.rowChecks(spark, base.schema, base.properties),
        generate = GeneratedColumns.rowGenerate(spark, base.schema, base.properties))
    }

    override def useCommitCoordinator(): Boolean = true

    override def commit(messages: Array[WriterCommitMessage]): Unit = {
      val msgs = messages.collect { case m: DeltaTaskCommit => m }
      publish(
        msgs.flatMap(_.dataFile).toSeq.sorted.map(n => s"$dataRel/$n"),
        msgs.flatMap(_.keyFile).toSeq.sorted.map(n => s"$delRel/$n"))
    }

    override def abort(messages: Array[WriterCommitMessage]): Unit =
      Seq(dataRel, delRel).foreach(rel => Fs.deleteRecursively(tableDir.resolve(rel)))
  }

  /** One commit: data files in (at seq = next), delete entries in (at
    * seq = next, so they apply to every pre-existing file and none of
    * the new ones). Only files named by successful task commit
    * messages are referenced — a failed/denied attempt's leftovers are
    * unreferenced staging garbage (vacuum reaps them). Same
    * publish/rebase discipline as the other commit sites: an append
    * racer commutes, a conflicting racer fails clean. */
  private def publish(dataFiles: Seq[String], delFiles: Seq[String]): Unit = {
    val next = base.version + 1
    // the collect half of the commit core: zero-row task files (empty
    // ones carry no rows and no delete semantics) are dropped, a
    // staging dir left with none is removed
    val data = CommitFiles.collectFiles(
      spark, tableDir, base.schema, base.properties, dataRel, dataFiles)
    val dels = CommitFiles.collectFiles(spark, tableDir, delSchema, Map.empty, delRel, delFiles)
    val entries = dels.files.map { f =>
      keyIdentity match {
        case Some(ks) =>
          // equality entry: applies by key-range overlap + sequence,
          // never names data files — footer ranges keep clean files
          // provably clean (MergeOnRead.applicable)
          DeleteFile(f, ks, next, dels.footers(f).rows, dels.footers(f).cols,
            paired = data.files.nonEmpty)
        case None =>
          DeleteFile(f, Seq(DeleteFile.PosFileCol, DeleteFile.PosPosCol), next,
            dels.footers(f).rows, dels.footers(f).cols, kind = DeleteFile.Positional,
            paired = data.files.nonEmpty)
      }
    }
    if (entries.isEmpty && data.files.isEmpty) return // nothing matched, no commit

    // a MERGE ... INSERT's explicit BY DEFAULT identity values advance
    // the high-water mark here, exactly as on batch INSERT — otherwise
    // the next minting commit hands the same range out again; rebase
    // merges the marks monotonically under races
    SnapshotChange.commit(tableDir, base, SnapshotChange.Change(op,
      staged = data, addDeletes = entries,
      properties = p => IdentityColumns.advance(p,
        IdentityColumns.committedExtreme(base.schema, p, data.stats, data.rows))),
      SnapshotChange.Rebase)
  }
}

private case class DeltaTaskWriterFactory(
    dataFactory: org.apache.spark.sql.execution.datasources.OutputWriterFactory,
    dataConf: org.apache.spark.util.SerializableConfiguration,
    dataSchema: StructType,
    dataDir: String,
    keyFactory: org.apache.spark.sql.execution.datasources.OutputWriterFactory,
    keyConf: org.apache.spark.util.SerializableConfiguration,
    keySchema: StructType,
    keyDir: String,
    positional: Boolean,
    checks: Option[CheckConstraints.RowChecks],
    generate: Option[GeneratedColumns.RowGenerate] = None)
  extends DeltaWriterFactory {

  import org.apache.hadoop.mapreduce.{TaskAttemptID, TaskID, JobID, TaskType}
  import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
  import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}

  private def open(
      factory: OutputWriterFactory,
      conf: org.apache.spark.util.SerializableConfiguration,
      schema: StructType, dir: String,
      partitionId: Int, taskId: Long): (OutputWriter, String) = {
    val ctx = new TaskAttemptContextImpl(conf.value,
      new TaskAttemptID(new TaskID(new JobID("graft-delta", 0), TaskType.MAP,
        partitionId), (taskId % Int.MaxValue).toInt))
    val name = f"part-$partitionId%05d-$taskId${factory.getFileExtension(ctx)}"
    (factory.newInstance(s"$dir/$name", schema, ctx), name)
  }

  override def createWriter(partitionId: Int, taskId: Long): DeltaWriter[InternalRow] =
    new LakehouseDeltaWriter(
      () => open(dataFactory, dataConf, dataSchema, dataDir, partitionId, taskId),
      () => open(keyFactory, keyConf, keySchema, keyDir, partitionId, taskId),
      positional, checks, generate)
}

/** Per-task delta writer. Spark's DeltaWritingSparkTask has already
  * routed each row through WriteDeltaProjections, so `id` arrives as
  * the single `_graft_row_id` struct attribute and `row` in
  * table-schema order. The struct is unpacked into the positional
  * delete parquet's (file, pos) columns; data rows pass through
  * untouched. Writers open lazily: a task commit reports only the
  * halves it actually wrote. */
private class LakehouseDeltaWriter(
    mkData: () => (org.apache.spark.sql.execution.datasources.OutputWriter, String),
    mkKeys: () => (org.apache.spark.sql.execution.datasources.OutputWriter, String),
    positional: Boolean,
    checks: Option[CheckConstraints.RowChecks],
    generate: Option[GeneratedColumns.RowGenerate] = None)
  extends DeltaWriter[InternalRow] {

  import org.apache.spark.sql.execution.datasources.OutputWriter

  private var dataW: OutputWriter = _
  private var dataName: String = _
  private var keyW: OutputWriter = _
  private var keyName: String = _
  private def data: OutputWriter = {
    if (dataW == null) { val (w, n) = mkData(); dataW = w; dataName = n }
    dataW
  }
  private def keys: OutputWriter = {
    if (keyW == null) { val (w, n) = mkKeys(); keyW = w; keyName = n }
    keyW
  }
  private val reuse = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(2)

  override def insert(row: InternalRow): Unit = {
    // generated columns computed BEFORE validation, so CHECK
    // constraints see the values that actually commit
    val out = generate match {
      case Some(g) => g(row)
      case None => row
    }
    checks.foreach(_.validate(out))
    data.write(out)
  }

  override def delete(metadata: InternalRow, id: InternalRow): Unit =
    if (positional) {
      require(id.numFields == 1,
        s"delta row id has ${id.numFields} fields, expected the _graft_row_id struct")
      val s = id.getStruct(0, 2)
      reuse.update(0, s.getUTF8String(0))
      reuse.update(1, s.getLong(1))
      keys.write(reuse)
    } else {
      // equality identity: `id` IS the projected key tuple, in the
      // rowId() declaration order the delete parquet schema mirrors
      keys.write(id)
    }

  override def update(metadata: InternalRow, id: InternalRow, row: InternalRow): Unit = {
    delete(metadata, id)
    insert(row)
  }

  override def commit(): WriterCommitMessage = {
    close()
    DeltaTaskCommit(Option(dataName), Option(keyName))
  }

  override def abort(): Unit = {
    close()
    // attempt-scoped names: deleting our own files can never race a
    // committed attempt's
    Seq(Option(dataW).map(_.path()), Option(keyW).map(_.path())).flatten
      .foreach(p => Files.deleteIfExists(java.nio.file.Paths.get(p)))
  }

  override def close(): Unit =
    try { if (dataW != null) dataW.close() }
    finally { if (keyW != null) keyW.close() }
}

/** File names (not paths) a task actually wrote, relative to the
  * write's data/delete staging dirs. */
private case class DeltaTaskCommit(
    dataFile: Option[String],
    keyFile: Option[String]) extends WriterCommitMessage
