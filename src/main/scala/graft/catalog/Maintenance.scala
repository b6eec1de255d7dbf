package graft.catalog

import java.nio.file.{Files, Path, StandardCopyOption}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{Identifier, TableCatalog}

/** Table maintenance: compaction and snapshot-retention vacuum.
  *
  * Streaming ingest and frequent small INSERTs leave a table with many
  * small files (one-plus per commit); scans then pay per-file open
  * cost and lose row-group parallelism. Compaction rewrites the
  * CURRENT snapshot into a few well-sized files as a new snapshot —
  * readers of older versions are untouched (files are immutable), and
  * a concurrent writer loses the version race cleanly rather than
  * silently interleaving. Vacuum then deletes data files no longer
  * referenced by any retained snapshot version.
  */
object Maintenance {

  private[catalog] def lakehouseTable(
      spark: SparkSession, catalog: String, namespace: Seq[String], table: String): LakehouseTable = {
    val cat = spark.sessionState.catalogManager.catalog(catalog).asInstanceOf[TableCatalog]
    cat.loadTable(Identifier.of(namespace.toArray, table)).asInstanceOf[LakehouseTable]
  }

  /** Rewrite the current snapshot's data into ≤ `targetFiles` files.
    * No-op if the table already has that few (unless `clusterBy` asks
    * for a re-layout). Returns new file count.
    *
    * `clusterBy` re-clusters the data by OTHER columns than the
    * partition key (Delta's `OPTIMIZE ZORDER BY` analogue, linear
    * order): `repartitionByRange` gives each output file a DISJOINT
    * range of the cluster columns, so the per-file min/max stats
    * recorded at commit turn filters on those columns into whole-file
    * skips — the way a 100 TB table serves selective predicates on a
    * second dimension without a second copy. */
  /** Morton (Z-order) key over up to 4 numeric columns: each value is
    * min-max-normalized to 16 bits (bounds from one driver-side agg —
    * the same bounded pass IVF training uses), then the bit planes are
    * interleaved with plain shift/or column arithmetic (codegen'd, no
    * UDF). Sorting by this key gives every output file a TIGHT
    * min/max box in EVERY clustered dimension simultaneously —
    * `repartitionByRange(a, b)` only bounds the leading column (files
    * span the full `b` domain), so filters on `b` skip nothing. The
    * classic second-dimension answer for a 100 TB table. */
  private def mortonKey(
      df: org.apache.spark.sql.DataFrame,
      cols: Seq[String]): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    require(cols.size >= 2 && cols.size <= 4, s"zorder needs 2-4 columns, got ${cols.size}")
    // keep the interleaved key inside the long's 63 value bits: with 4
    // columns, 16 bits/dim would put the top plane at bit 63 (the sign
    // bit) and range-partitioning would order the upper half of the 4th
    // dimension BEFORE everything else
    val bits = math.min(16, 63 / cols.size)
    val aggCols = cols.flatMap(c =>
      Seq(min(df.col(c)).cast("double"), max(df.col(c)).cast("double")))
    val bounds = df.agg(aggCols.head, aggCols.tail: _*).head()
    val scaled = cols.zipWithIndex.map { case (c, i) =>
      // empty table or all-null column: no bounds → that dimension
      // contributes a constant 0 plane instead of an NPE
      if (bounds.isNullAt(2 * i) || bounds.isNullAt(2 * i + 1)) lit(0)
      else {
        val (mn, mx) = (bounds.getDouble(2 * i), bounds.getDouble(2 * i + 1))
        val span = math.max(mx - mn, java.lang.Double.MIN_NORMAL)
        least(lit((1 << bits) - 1), greatest(lit(0),
          ((df.col(c).cast("double") - lit(mn)) / lit(span) * lit((1 << bits) - 1))
            .cast("int")))
      }
    }
    (0 until bits).flatMap { b =>
      scaled.zipWithIndex.map { case (s, i) =>
        shiftleft(shiftright(s, b).bitwiseAND(lit(1)).cast("long"),
          b * cols.size + i)
      }
    }.reduce(_.bitwiseOR(_))
  }

  /** Policy-driven compaction: rewrite only when the layout is
    * actually fragmented. The decision is METADATA-ONLY (file count +
    * on-disk sizes, zero data reads): compute the ideal file count for
    * `targetFileBytes`, and compact to it when the table carries more
    * than twice that many files, or when pending merge-on-read delete
    * entries / dropped-column tombstones make a rewrite overdue.
    * Returns the number of files rewritten, 0 when the table is
    * healthy — safe to run on a schedule over every table (streaming
    * sinks produce per-epoch small files; this is their standing
    * repair without rewriting healthy tables over and over). */
  def autoCompact(
      spark: SparkSession,
      catalog: String,
      namespace: Seq[String],
      table: String,
      targetFileBytes: Long = 128L * 1024 * 1024): Int = {
    val lt = lakehouseTable(spark, catalog, namespace, table)
    val current = TableMetadata.load(lt.tableDir)
    if (current.files.isEmpty) return 0
    val totalBytes = current.files.map { f =>
      val p = lt.tableDir.resolve(f)
      if (Files.exists(p)) Files.size(p) else 0L
    }.sum
    val idealFiles = math.max(1, math.ceil(totalBytes.toDouble / targetFileBytes).toInt)
    // Delete-entry CHURN THRESHOLD (Iceberg's min-input-files shape):
    // on a table receiving continuous MoR MERGEs, "any pending entry ⇒
    // overdue" would make every standing maintenance tick rewrite every
    // dirty file — a 100 TB table re-compacted after each small CDC
    // batch. Small deltas accumulate instead, until either the entry
    // COUNT passes `graft.maintenance.maxPendingDeleteEntries`
    // (read-side anti-join fan-out: each entry group is another build
    // side) or the recorded delete-key rows reach
    // `graft.maintenance.maxDeletedFraction` of the table's recorded
    // rows (dead-row scan waste) — then one rewrite amortizes them
    // all. Explicit compact()/materializeDeletes are unaffected and
    // always fold.
    val maxEntries = spark.conf.getOption("graft.maintenance.maxPendingDeleteEntries")
      .map(_.toInt).getOrElse(8)
    val maxFraction = spark.conf.getOption("graft.maintenance.maxDeletedFraction")
      .map(_.toDouble).getOrElse(0.05)
    val totalRows = current.fileRows.values.sum
    val deleteRows = current.deleteFiles.map(_.rows).sum
    val fractionOverdue = current.deleteFiles.nonEmpty &&
      (totalRows == 0L || deleteRows.toDouble / totalRows >= maxFraction)
    // entry-count pressure alone (many small CDC deltas, few dead
    // rows) is relieved by consolidating the delete FILES — kilobytes
    // rewritten — before reaching for the data-file rewrite; only if
    // the entry count stays high after merging (unmergeable seq
    // stragglers) does the rewrite run
    val entriesOverdue = !fractionOverdue && current.deleteFiles.size > maxEntries && {
      MergeOnRead.consolidateDeletesAt(spark, lt.tableDir)
      TableMetadata.load(lt.tableDir).deleteFiles.size > maxEntries
    }
    val deletesOverdue = fractionOverdue || entriesOverdue
    val overdue = deletesOverdue ||
      current.properties.keys.exists(_.startsWith(LakehouseCatalog.TombstonePrefix))
    // piggyback the crash-orphan sweep (see vacuum): auto maintenance
    // must also clear a dead rebuild's partial staging
    graft.operators.IndexSwap.reapStaleStaging(
      spark, catalog, namespace, table, DefaultRetentionMs)
    if (!overdue && current.files.size <= 2 * idealFiles) return 0
    compact(spark, catalog, namespace, table, targetFiles = idealFiles)
  }

  def compact(
      spark: SparkSession,
      catalog: String,
      namespace: Seq[String],
      table: String,
      targetFiles: Int = 1,
      clusterBy: Seq[String] = Nil,
      zorder: Boolean = false): Int = {
    val lt = lakehouseTable(spark, catalog, namespace, table)
    val dir = lt.tableDir
    val current = TableMetadata.load(dir)
    // On a bucketed table, compaction re-establishes the bucket layout
    // (bucketed `b-` commit, file part-i = bucket i) — the repair path
    // after row-level rewrites broke the mapping and storage-partitioned
    // joins silently degraded to shuffled ones.
    val bucketSpec = if (clusterBy.isEmpty) Bucketing.specOf(current.properties) else None
    val bucketRepairNeeded = bucketSpec.exists { case (_, n) =>
      !current.files.forall(f => Bucketing.bucketIdOf(f).exists(_ < n))
    }
    // dropped-column tombstones force the rewrite even when the file
    // count is already at target: clearing them is the point — as do
    // pending merge-on-read deletes (compaction is their materializer)
    val hasTombstones =
      current.properties.keys.exists(_.startsWith(LakehouseCatalog.TombstonePrefix))
    if (clusterBy.isEmpty && current.files.size <= targetFiles &&
      !bucketRepairNeeded && !hasTombstones && current.deleteFiles.isEmpty)
      return current.files.size

    val nextVersion = current.version + 1
    val commitRel =
      if (clusterBy.isEmpty) CommitFiles.dataRel(current.properties, nextVersion, "compact")
      else CommitFiles.plainRel(nextVersion, "compact")
    // the merging read: pending equality deletes fold into the rewrite
    // (compact is their materializer) instead of resurrecting rows
    val df =
      if (current.files.isEmpty)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], current.schema)
      else MergeOnRead.read(spark, dir, current, current.files)
    // a bucketed table re-buckets with its DECLARED hash in the core
    // (iceberg-hash tables must re-bucket with Iceberg's hash or the
    // repair would silently relabel); every other layout is this one
    def layout(d: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
      if (clusterBy.nonEmpty && zorder) {
        val z = mortonKey(d, clusterBy)
        d.repartitionByRange(targetFiles, z).sortWithinPartitions(z)
      } else if (clusterBy.nonEmpty)
        d.repartitionByRange(targetFiles, clusterBy.map(d.col): _*)
          .sortWithinPartitions(clusterBy.map(d.col): _*)
      else if (current.partitionColumns.nonEmpty) {
        val sortCols = current.partitionColumns ++
          WriteSortOrder.colsOf(current.properties)
        d.repartition(targetFiles, current.partitionColumns.map(d.col): _*)
          .sortWithinPartitions(sortCols.map(d.col): _*)
      } else if (WriteSortOrder.colsOf(current.properties).nonEmpty) {
        // declared write sort order: compaction re-establishes the
        // range-clustered layout accumulated small commits drifted from
        val sortCols = WriteSortOrder.colsOf(current.properties)
        d.repartitionByRange(targetFiles, sortCols.map(d.col): _*)
          .sortWithinPartitions(sortCols.map(d.col): _*)
      } else d.coalesce(targetFiles)
    val staged = CommitFiles.writeData(
      spark, dir, current.schema, current.properties, commitRel, df, layout)
    SnapshotChange.commit(dir, current, SnapshotChange.Change("compact",
      staged = staged, removed = current.files.toSet,
      // the rewrite read every row through the merging view: pending
      // equality deletes are now physical, their entries dead
      removedDeletes = current.deleteFiles.toSet,
      // every file now carries exactly the current schema: dropped
      // columns' physical data is gone, their names safe to reuse
      properties = _.filterNot(_._1.startsWith(LakehouseCatalog.TombstonePrefix))),
      SnapshotChange.Rebase)
    staged.files.size
  }

  /** Partition-scoped compaction — `OPTIMIZE ... WHERE` for the
    * backfill shape: a streaming sink leaves yesterday's partition in
    * hundreds of small files, and rewriting the whole 100 TB table to
    * fix one partition is a non-starter. File selection is
    * metadata-only (min/max stats against the equality predicate, the
    * same pruning scans use); selected files are rewritten into
    * `targetFiles`, every other file carries into the new snapshot by
    * reference. Over-selection is harmless (rows are preserved
    * verbatim, extra files just get rewritten too); bucketed tables
    * are refused — their bucket-to-file mapping is global. Returns the
    * rewritten-file count. */
  def compactWhere(
      spark: SparkSession,
      catalog: String,
      namespace: Seq[String],
      table: String,
      partitionEquals: Map[String, String],
      targetFiles: Int = 1): Int = {
    import org.apache.spark.sql.types._
    require(partitionEquals.nonEmpty, "compactWhere needs at least one column=value")
    val lt = lakehouseTable(spark, catalog, namespace, table)
    val dir = lt.tableDir
    val current = TableMetadata.load(dir)
    require(Bucketing.specOf(current.properties).isEmpty,
      s"$table is bucketed: bucket layout is table-global, use compact() instead")
    val filters = partitionEquals.toSeq.map { case (c, v) =>
      val f = current.schema.fields.find(_.name == c)
        .getOrElse(throw new IllegalArgumentException(s"no such column: $c"))
      val typed: Any = f.dataType match {
        case ByteType => v.toByte
        case ShortType => v.toShort
        case IntegerType => v.toInt
        case LongType => v.toLong
        case FloatType => v.toFloat
        case DoubleType => v.toDouble
        case DateType => java.sql.Date.valueOf(v)
        case StringType => v
        case dt => throw new IllegalArgumentException(
          s"compactWhere unsupported for ${dt.simpleString} column $c")
      }
      org.apache.spark.sql.sources.EqualTo(c, typed): org.apache.spark.sql.sources.Filter
    }
    val hits = FileSkipping.prune(current.files, current.fileStats, current.schema, filters)
    if (hits.size <= targetFiles) return hits.size
    // merging read: rewriting a file materializes its pending equality
    // deletes (the new file's seq postdates every entry); entries stay
    // for the untouched files they still apply to
    val df = MergeOnRead.read(spark, dir, current, hits)
      .coalesce(targetFiles)
    commitRewrite(spark, dir, current, hits, df, "compact-where", reshape = false)
    hits.size
  }

  /** Partition evolution (Iceberg's `REPLACE PARTITION FIELD` shape):
    * change the partition spec METADATA-ONLY — no data file moves. The
    * spec here is a write-clustering + pruning contract, not a
    * directory layout, so evolution is free: commits after this call
    * cluster (and sort) by the new columns, files written before keep
    * their old clustering, and file-level min/max pruning serves
    * filters against EITHER generation (a file without tight ranges on
    * the queried column is simply kept — skipping degrades, never
    * correctness). That is exactly what rewriting a 100 TB table to
    * re-partition would buy, minus the rewrite; `compact()` later
    * re-clusters old files under the new spec if the skipping matters.
    * An empty `columns` list un-partitions the table. Bucketed tables
    * are refused: their bucket-to-file map is a join-planning contract
    * that clustering changes would break. */
  def setPartitioning(
      spark: SparkSession,
      catalog: String,
      namespace: Seq[String],
      table: String,
      columns: Seq[String]): Unit = {
    val lt = lakehouseTable(spark, catalog, namespace, table)
    val dir = lt.tableDir
    val current = TableMetadata.load(dir)
    require(Bucketing.specOf(current.properties).isEmpty,
      s"$table is hash-bucketed: the bucket layout is the partitioning contract")
    // hidden-transform entries (`days(ts)` / `truncate(4, tag)` /
    // `days:ts` spellings) evolve the transform spec; bare names evolve
    // the identity columns — Iceberg partition-spec evolution, metadata
    // only, old files keep their layout either way
    val SqlStyle = """(years|months|days|hours)\(([^)]+)\)""".r
    val SqlTrunc = """truncate\((\d+)\s*,\s*([^)]+)\)""".r
    val (transformSpecs, identCols) = columns.map(_.trim).partition(c =>
      c.contains('(') || c.contains(':'))
    val transforms = transformSpecs.map {
      case SqlStyle(f, c) => s"$f:${c.trim}"
      case SqlTrunc(w, c) => s"truncate($w):${c.trim}"
      case s => s // already the property encoding; validate below parses it
    }.mkString(";")
    val nextProps =
      if (transforms.isEmpty) current.properties - HiddenPartitioning.Prop
      else current.properties + (HiddenPartitioning.Prop -> transforms)
    HiddenPartitioning.validate(current.schema, nextProps)
    val missing = identCols.filterNot(current.schema.fieldNames.contains)
    require(missing.isEmpty, s"no such column(s): ${missing.mkString(", ")}")
    if (identCols == current.partitionColumns && nextProps == current.properties) return
    SnapshotChange.commit(dir, current, SnapshotChange.Change(
      s"set-partitioning(${columns.mkString(",")})",
      partitionColumns = Some(identCols), properties = _ => nextProps), SnapshotChange.Once)
  }

  /** Rename a column by REWRITING the data (a new snapshot whose files
    * carry the new physical name), then committing the renamed schema.
    *
    * Column resolution against parquet is name-based here (no Iceberg
    * field IDs), so a metadata-only rename would silently read every
    * previously-written row as NULL — the catalog therefore REJECTS
    * `ALTER TABLE ... RENAME COLUMN` on non-empty tables and points at
    * this op, which is correct at the price of one rewrite (the honest
    * cost without per-file field IDs; Iceberg pays a format feature for
    * the metadata-only version). Time travel to pre-rename versions
    * still serves the old schema over the old files, which stay on disk
    * until vacuumed. Bucketed layout is preserved (the rewrite
    * re-buckets, same as compaction), including when the bucket column
    * itself is renamed. Returns the new file count.
    */
  def renameColumn(
      spark: SparkSession,
      catalog: String,
      namespace: Seq[String],
      table: String,
      oldName: String,
      newName: String): Int = {
    val lt = lakehouseTable(spark, catalog, namespace, table)
    val dir = lt.tableDir
    val current = TableMetadata.load(dir)
    require(current.schema.fieldNames.contains(oldName),
      s"no such column: $oldName in ${current.name}")
    require(!current.schema.fieldNames.contains(newName),
      s"column already exists: $newName in ${current.name}")

    val newSchema = org.apache.spark.sql.types.StructType(current.schema.fields.map(f =>
      if (f.name == oldName) f.copy(name = newName) else f))
    val newPartCols = current.partitionColumns.map(c => if (c == oldName) newName else c)
    val newProps = current.properties.map {
      case (Bucketing.ColProp, v) if v == oldName => Bucketing.ColProp -> newName
      case kv => kv
    }.filterNot(_._1.startsWith(LakehouseCatalog.TombstonePrefix)) // full rewrite clears them

    val nextVersion = current.version + 1
    // no data: metadata-only commit below, nothing to rewrite
    val staged =
      if (current.files.isEmpty) CommitFiles.Staged.empty
      else CommitFiles.writeData(spark, dir, newSchema, newProps,
        CommitFiles.dataRel(newProps, nextVersion, "rename"),
        MergeOnRead.read(spark, dir, current, current.files).withColumnRenamed(oldName, newName),
        data =>
          if (newPartCols.nonEmpty)
            data.repartition(current.files.size.max(1), newPartCols.map(data.col): _*)
              .sortWithinPartitions(newPartCols.map(data.col): _*)
          else data.coalesce(current.files.size.max(1)))
    SnapshotChange.commit(dir, current, SnapshotChange.Change("rename",
      staged = staged, removed = current.files.toSet,
      // full rewrite through the merging read: pending equality deletes
      // are physical now (and their key columns may bear the old name)
      removedDeletes = current.deleteFiles.toSet,
      schema = Some(newSchema), partitionColumns = Some(newPartCols),
      properties = _ => newProps), SnapshotChange.Once)
    staged.files.size
  }

  /** Roll the table back to an earlier version's state — as a NEW
    * commit (Iceberg's rollback_to_snapshot / Delta RESTORE): the
    * target version's schema, files, and stats are re-published at
    * version N+1, so the rollback itself is in the history and can be
    * rolled back; no data files move (the old snapshot's files are
    * still on disk unless vacuumed — which vacuum's
    * retained-version check respects). Fails if the target version's
    * files have already been vacuumed. */
  def rollback(
      spark: SparkSession,
      catalog: String,
      namespace: Seq[String],
      table: String,
      toVersion: Int): Unit = {
    val lt = lakehouseTable(spark, catalog, namespace, table)
    val dir = lt.tableDir
    val current = TableMetadata.load(dir)
    require(toVersion >= 1 && toVersion <= current.version,
      s"version $toVersion out of range 1..${current.version}")
    val target = TableMetadata.loadLog(dir)
      .find(_.version == toVersion)
      .getOrElse(throw new IllegalStateException(s"missing metadata for v$toVersion"))
    val missing = (target.files ++ target.deleteFiles.map(_.path))
      .filterNot(f => Files.exists(dir.resolve(f)))
    if (missing.nonEmpty)
      throw new IllegalStateException(
        s"cannot roll back to v$toVersion: ${missing.size} data file(s) already vacuumed, " +
          s"first: ${missing.head}")
    // restore carries the HISTORICAL sequence numbers and delete
    // entries: with fresh seqs, the target's own pending deletes would
    // stop applying and deleted rows would resurrect
    SnapshotChange.commit(dir, current,
      SnapshotChange.Change(s"rollback(v$toVersion)", restore = Some(target)),
      SnapshotChange.Rebase)
  }

  /** Exactly-once append for streaming sinks: the (txnId, batchId)
    * watermark is committed ATOMICALLY with the file additions (one
    * metadata swap), so a micro-batch that is re-executed after a
    * commit-then-checkpoint-crash is recognized and skipped instead of
    * double-appending — Delta's txnAppId/txnVersion idempotence,
    * re-expressed on our snapshot log. Returns false when the batch
    * was already applied (by this attempt's predecessor or a racing
    * retry). Monotonicity: a batch is skipped iff the recorded
    * watermark for `txnId` is >= `batchId`, which matches Structured
    * Streaming's strictly-increasing batch ids per checkpoint. */
  def transactionalAppend(
      spark: SparkSession,
      catalog: String,
      namespace: Seq[String],
      table: String,
      data: org.apache.spark.sql.DataFrame,
      txnId: String,
      batchId: Long,
      legacyTxnId: Option[String] = None): Boolean = {
    val lt = lakehouseTable(spark, catalog, namespace, table)
    val dir = lt.tableDir
    val keys = s"graft.txn.$txnId" +: legacyTxnId.toSeq.map(id => s"graft.txn.$id")
    val start = TableMetadata.load(dir)
    if (keys.exists(k => start.properties.get(k).exists(_.toLong >= batchId))) return false

    // resolve by name + ANSI cast to the table schema (same contract as
    // the INSERT path's store assignment)
    val aligned = data.select(
      start.schema.fields.toSeq.map(f => data.col(f.name).cast(f.dataType)): _*)
    val staged = CommitFiles.writeData(spark, dir, start.schema, start.properties,
      CommitFiles.dataRel(start.properties, start.version + 1, "append"), aligned,
      CommitFiles.byPartition(start.partitionColumns))
    watermarkedPublish(spark, dir, staged, start, txnId, batchId, replace = false,
      legacyTxnId = legacyTxnId)
  }

  /** Publish already-written data files under a (txnId, batchId)
    * watermark — the shared exactly-once tail of [[transactionalAppend]]
    * and the DSv2 streaming sink ([[LakehouseStreamingWrite]]). The
    * watermark is committed atomically with the file additions; a
    * replayed batch (watermark already >= batchId) deletes its staged
    * files and returns false. `replace = true` swaps the whole file set
    * (streaming `complete` mode) instead of appending. */
  private[catalog] def watermarkedPublish(
      spark: SparkSession,
      dir: Path,
      staged: CommitFiles.Staged,
      meta: TableMetadata,
      txnId: String,
      batchId: Long,
      replace: Boolean,
      legacyTxnId: Option[String] = None): Boolean = {
    val key = s"graft.txn.$txnId"
    // a renamed hash scheme (see EventStreams: char-length → byte-length
    // Murmur3) must not replay batches the OLD id already committed —
    // the caller passes the old id and we honor its watermark read-only;
    // new commits advance only the new key
    val readKeys = key +: legacyTxnId.toSeq.map(id => s"graft.txn.$id")
    // append-vs-append races re-derive on the fresh snapshot; a racer
    // that already applied THIS batch wins and our files are discarded
    SnapshotChange.rederive(dir, owned = Seq(staged)) { current =>
      if (readKeys.exists(k => current.properties.get(k).exists(_.toLong >= batchId))) None
      else Some(SnapshotChange.Change(if (replace) "overwrite" else "append",
        staged = staged,
        removed = if (replace) current.files.toSet else Set.empty,
        removedDeletes = if (replace) current.deleteFiles.toSet else Set.empty,
        // explicit BY DEFAULT identity values in the epoch advance the
        // high-water mark, same as batch INSERT — recomputed per attempt
        // against the racer's possibly-larger mark (advance never regresses)
        properties = p => IdentityColumns.advance(p + (key -> batchId.toString),
          IdentityColumns.committedExtreme(meta.schema, p, staged.stats, staged.rows))))
    }.isDefined
  }

  /** [[watermarkedPublish]] in UPSERT mode (the streaming-CDC sink):
    * one commit that equality-deletes the current rows matching the
    * batch's key tuples and adds the already-staged batch files — the
    * [[MergeOnRead.morUpsert]] shape with the data files written once
    * by the streaming tasks. The entry's sequence equals the staged
    * files' sequence, so old key versions die and the batch's own rows
    * live. Exactly-once via the same (txnId, batchId) watermark: a
    * replayed batch discards its staged files AND its key parquet.
    * Rows within one batch are appended as-is — reduce to
    * latest-per-key upstream if the source can repeat keys in a single
    * batch. */
  private[catalog] def watermarkedUpsertPublish(
      spark: SparkSession,
      dir: Path,
      staged: CommitFiles.Staged,
      keyColumns: Seq[String],
      meta: TableMetadata,
      txnId: String,
      batchId: Long): Boolean = {
    import org.apache.spark.sql.functions.col
    require(keyColumns.nonEmpty, "upsert publish needs at least one key column")
    val schema = meta.schema
    keyColumns.foreach(k => require(schema.fieldNames.contains(k),
      s"no such upsert key column: $k (schema: ${schema.fieldNames.mkString(", ")})"))
    val key = s"graft.txn.$txnId"
    val newFiles = staged.files

    // the batch's distinct key tuples, read once from the staged files;
    // the staged footer row count bounds the tuple count, so the write
    // shape (one sorted file vs range-partitioned fan-out) is decided
    // without an extra counting job
    val batchKeys = spark.read.schema(schema)
      .parquet(newFiles.map(f => dir.resolve(f).toString): _*)
      .select(keyColumns.map(col): _*).distinct()
    val dels = CommitFiles.writeDeletes(spark, dir, "u", meta.version + 1, batchKeys,
      staged.rowCount)
    SnapshotChange.rederive(dir, owned = Seq(staged, dels)) { current =>
      if (current.properties.get(key).exists(_.toLong >= batchId)) None
      else {
        // seq recomputed per attempt: it must equal THIS commit's version
        // for the entry to cover exactly the pre-batch files
        val next = current.version + 1
        Some(SnapshotChange.Change("mor-upsert", staged = staged,
          // upsert: the entry is born with its replacement files
          addDeletes = dels.files.map(f => DeleteFile(f, keyColumns, next,
            dels.footers(f).rows, dels.footers(f).cols, paired = true)),
          // see watermarkedPublish: upserted explicit identity values must
          // advance the mark or a later INSERT re-mints them
          properties = p => IdentityColumns.advance(p + (key -> batchId.toString),
            IdentityColumns.committedExtreme(schema, p, staged.stats, staged.rows))))
      }
    }.isDefined
  }

  // ---- row-level UPDATE / MERGE (copy-on-write) ----------------------------

  /** Shared copy-on-write commit: replace `hitFiles` with the rows of
    * `newData`, carry every other file into the new snapshot by
    * reference. The same shape `DELETE FROM` uses (LakehouseTable
    * .deleteWhere); only the row transformation differs. A bucketed
    * table's rewrite keeps the layout contract (b- commit) — COW
    * UPDATE/MERGE/OVERWRITE would otherwise silently degrade
    * KeyGroupedPartitioning and the mirror's bucket[n] claim until the
    * next compaction. compact-where (the only reshape=false caller)
    * requires an unbucketed table. */
  private[catalog] def commitRewrite(
      spark: SparkSession,
      dir: Path,
      current: TableMetadata,
      hitFiles: Seq[String],
      newData: org.apache.spark.sql.DataFrame,
      op: String,
      reshape: Boolean = true): Unit = {
    val nextVersion = current.version + 1
    val staged = CommitFiles.writeData(spark, dir, current.schema, current.properties,
      if (reshape) CommitFiles.dataRel(current.properties, nextVersion, op)
      else CommitFiles.plainRel(nextVersion, op),
      newData, if (reshape) CommitFiles.byPartition(current.partitionColumns) else identity)
    SnapshotChange.commit(dir, current,
      SnapshotChange.Change(op, staged = staged, removed = hitFiles.toSet), SnapshotChange.Rebase)
  }

  private def fileName(p: String): String = p.substring(p.lastIndexOf('/') + 1)

  /** Files of the current snapshot that contain at least one row
    * matching `cond` (exact, via one scan tagged with input_file_name). */
  private def hitFiles(
      spark: SparkSession, dir: Path, current: TableMetadata,
      cond: org.apache.spark.sql.Column): Seq[String] = {
    import org.apache.spark.sql.functions.{col, input_file_name}
    if (current.files.isEmpty) return Nil
    val relByName = current.files.map(f => fileName(f) -> f).toMap
    val names = spark.read.schema(current.schema)
      .parquet(current.files.map(f => dir.resolve(f).toString): _*)
      .withColumn("__graft_file", input_file_name())
      .filter(cond)
      .select(col("__graft_file")).distinct().collect()
      .map(r => fileName(r.getString(0))).toSet
    names.flatMap(relByName.get).toSeq.sorted
  }

  /** `UPDATE t SET <assignments> WHERE cond` as copy-on-write: only the
    * files holding matching rows are rewritten (matching rows get the
    * assignments applied, the file's other rows are carried verbatim);
    * everything else moves into the new snapshot by reference. */
  def updateWhere(
      spark: SparkSession,
      catalog: String,
      namespace: Seq[String],
      table: String,
      cond: org.apache.spark.sql.Column,
      set: Map[String, org.apache.spark.sql.Column]): Int = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, when}
    val lt = lakehouseTable(spark, catalog, namespace, table)
    val dir = lt.tableDir
    val current = TableMetadata.load(dir)
    require(set.keySet.subsetOf(current.schema.fieldNames.toSet),
      s"unknown UPDATE columns: ${set.keySet -- current.schema.fieldNames}")
    val hits = hitFiles(spark, dir, current, cond)
    if (hits.isEmpty) return 0
    val condTrue = coalesce(cond, lit(false)) // NULL predicate → not updated
    // merging read: a raw read would carry equality-deleted rows into
    // the rewritten files and resurrect them at the new sequence
    val updated = MergeOnRead.read(spark, dir, current, hits)
      .select(current.schema.fieldNames.map { n =>
        set.get(n) match {
          case Some(v) => when(condTrue, v.cast(current.schema(n).dataType))
            .otherwise(col(n)).as(n)
          case None => col(n)
        }
      }.toSeq: _*)
    commitRewrite(spark, dir, current, hits, updated, "update")
    hits.size
  }

  /** MERGE-lite upsert: rows of `source` replace same-key rows (WHEN
    * MATCHED THEN UPDATE SET *), unmatched source rows are inserted
    * (WHEN NOT MATCHED THEN INSERT *). Copy-on-write: only files
    * holding matched keys are rewritten; the rest carries by
    * reference. `source` must be key-unique. */
  def upsert(
      spark: SparkSession,
      catalog: String,
      namespace: Seq[String],
      table: String,
      source: org.apache.spark.sql.DataFrame,
      keyCols: Seq[String]): Unit = {
    import org.apache.spark.sql.functions.col
    require(keyCols.nonEmpty, "upsert needs at least one key column")
    val lt = lakehouseTable(spark, catalog, namespace, table)
    val dir = lt.tableDir
    val current = TableMetadata.load(dir)
    val cast = source.select(current.schema.fields.map(f =>
      col(f.name).cast(f.dataType).as(f.name)).toSeq: _*)
    val keys = cast.select(keyCols.map(col): _*).distinct()
    // CDC batches carry few keys: for a single-column key, per-file
    // min/max stats prove most files hold none of them — those never
    // enter the hit-scan at all (metadata-only, the same pruning
    // DELETE uses). Multi-column keys or huge batches fall back to
    // scanning every file (with the semi-join pushed into the scan).
    val scanFiles =
      if (current.files.isEmpty) Nil
      else if (keyCols.length == 1) {
        val vals = keys.limit(10001).collect().map(_.get(0))
        if (vals.length <= 10000) {
          val in = Seq(org.apache.spark.sql.sources.In(keyCols.head, vals): 
            org.apache.spark.sql.sources.Filter)
          Bucketing.pruneByBucket(
            FileSkipping.prune(current.files, current.fileStats, current.schema, in),
            current.properties, current.schema, in)
        } else current.files
      } else current.files
    val hits =
      if (scanFiles.isEmpty) Nil
      else {
        import org.apache.spark.sql.functions.input_file_name
        val relByName = scanFiles.map(f => fileName(f) -> f).toMap
        spark.read.schema(current.schema)
          .parquet(scanFiles.map(f => dir.resolve(f).toString): _*)
          .withColumn("__graft_file", input_file_name())
          .join(keys, keyCols, "left_semi")
          .select(col("__graft_file")).distinct().collect()
          .map(r => fileName(r.getString(0))).toSet
          .flatMap(relByName.get).toSeq.sorted
      }
    val kept =
      if (hits.isEmpty) cast.limit(0)
      else MergeOnRead.read(spark, dir, current, hits) // never resurrect MoR-deleted rows
        .join(keys, keyCols, "left_anti")
    commitRewrite(spark, dir, current, hits, kept.unionByName(cast), "merge")
  }

  /** Dynamic partition overwrite (Spark's
    * `partitionOverwriteMode=dynamic` semantic, copy-on-write): every
    * row of `source` is written, and existing rows belonging to the
    * PARTITIONS PRESENT IN `source` are dropped; untouched partitions'
    * files carry into the new snapshot by reference. The classic
    * backfill shape — rewrite yesterday's partition without touching
    * the other 10 000. */
  def overwritePartitions(
      spark: SparkSession,
      catalog: String,
      namespace: Seq[String],
      table: String,
      source: org.apache.spark.sql.DataFrame): Unit =
    overwritePartitionsAt(spark, lakehouseTable(spark, catalog, namespace, table).tableDir,
      source)

  /** [[overwritePartitions]] addressed by table directory — also the
    * executor of SQL dynamic-mode `INSERT OVERWRITE`
    * ([[LakehouseTable]]'s SupportsDynamicOverwrite). */
  private[catalog] def overwritePartitionsAt(
      spark: SparkSession,
      dir: Path,
      source: org.apache.spark.sql.DataFrame): Unit = {
    import org.apache.spark.sql.functions.{col, input_file_name}
    val current = TableMetadata.load(dir)
    val pc = current.partitionColumns
    require(pc.nonEmpty,
      s"${current.name} is unpartitioned: use INSERT OVERWRITE instead")
    val cast = source.select(current.schema.fields.map(f =>
      col(f.name).cast(f.dataType).as(f.name)).toSeq: _*)
    val parts = cast.select(pc.map(col): _*).distinct()
    val hits =
      if (current.files.isEmpty) Nil
      else {
        val relByName = current.files.map(f => fileName(f) -> f).toMap
        spark.read.schema(current.schema)
          .parquet(current.files.map(f => dir.resolve(f).toString): _*)
          .withColumn("__graft_file", input_file_name())
          .join(parts, pc, "left_semi")
          .select(col("__graft_file")).distinct().collect()
          .map(r => fileName(r.getString(0))).toSet
          .flatMap(relByName.get).toSeq.sorted
      }
    val kept =
      if (hits.isEmpty) cast.limit(0)
      else MergeOnRead.read(spark, dir, current, hits) // never resurrect MoR-deleted rows
        .join(parts, pc, "left_anti")
    commitRewrite(spark, dir, current, hits, kept.unionByName(cast), "overwrite-partitions")
  }

  /** Incremental read (Iceberg incremental-scan analogue): the rows
    * ADDED between two snapshot versions, read from exactly the data
    * files that appeared in that version window — change capture
    * without scanning the table. Each version's new files live under
    * its own commit directory, so the diff is pure metadata. Rewrite
    * commits (compact / delete / update / merge) re-add existing rows
    * as new files; they are rejected here rather than double-counted —
    * downstream CDC over a table with row-level DML needs true delta
    * files (out of scope, as for Iceberg COW tables). */
  def changesBetween(
      spark: SparkSession,
      catalog: String,
      namespace: Seq[String],
      table: String,
      fromVersionExclusive: Int,
      toVersionInclusive: Int): org.apache.spark.sql.DataFrame = {
    val lt = lakehouseTable(spark, catalog, namespace, table)
    val dir = lt.tableDir
    val log = TableMetadata.loadLog(dir)
    val maxV = log.lastOption.map(_.version).getOrElse(0)
    require(fromVersionExclusive >= 0 && toVersionInclusive <= maxV &&
      fromVersionExclusive <= toVersionInclusive,
      s"invalid version window ($fromVersionExclusive, $toVersionInclusive], current is $maxV")
    // version-keyed, not positional: expireSnapshots leaves gaps, and a
    // diff over a gapped window would silently misattribute files
    val window = log.filter(m =>
      m.version > fromVersionExclusive && m.version <= toVersionInclusive)
    require(window.size == toVersionInclusive - fromVersionExclusive,
      s"version window ($fromVersionExclusive, $toVersionInclusive] incomplete: " +
        "metadata expired (expireSnapshots); re-sync from the current snapshot")
    val before =
      if (fromVersionExclusive == 0) Set.empty[String]
      else log.find(_.version == fromVersionExclusive).map(_.files.toSet)
        .getOrElse(throw new IllegalArgumentException(
          s"metadata for v$fromVersionExclusive expired; re-sync from the current snapshot"))
    // append-only windows, like Iceberg's incremental scan — checked by
    // the actual invariant (each version's file set contains its
    // predecessor's), not an operation-name allow-list: metadata-only
    // commits (analyze, bloom-index, property DDL) pass, and anything
    // that drops or rewrites files (delete/update/merge/compact/
    // truncate/overwrite) is caught even if a new op forgets to
    // register its name
    val states = before +: window.map(_.files.toSet)
    val shrinkers = states.sliding(2).zip(window.iterator).collect {
      case (Seq(a, b), m) if !a.subsetOf(b) =>
        m.snapshots.lastOption.map(_.operation).getOrElse(s"v${m.version}")
    }.toSeq
    require(shrinkers.isEmpty,
      s"version window contains non-append commits (${shrinkers.mkString(", ")}): " +
        "added-file diff cannot represent them")
    // merge-on-read deletes change rows WITHOUT shrinking the file set:
    // the monotone-growth check alone would silently miss them
    val beforeDeletes =
      if (fromVersionExclusive == 0) Set.empty[String]
      else log.find(_.version == fromVersionExclusive)
        .map(_.deleteFiles.map(_.path).toSet).getOrElse(Set.empty)
    val delStates = beforeDeletes +: window.map(_.deleteFiles.map(_.path).toSet)
    val morCommits = delStates.sliding(2).zip(window.iterator).collect {
      case (Seq(a, b), m) if b != a =>
        m.snapshots.lastOption.map(_.operation).getOrElse(s"v${m.version}")
    }.toSeq
    require(morCommits.isEmpty,
      s"version window contains merge-on-read delete commits (${morCommits.mkString(", ")}): " +
        "an added-file diff cannot represent row-level deletes — use changelogBetween")
    val added = window.flatMap(_.files).distinct.filterNot(before.contains)
    val schema = window.lastOption.map(_.schema)
      .getOrElse(TableMetadata.load(dir).schema)
    if (added.isEmpty) spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else spark.read.schema(schema).parquet(added.map(f => dir.resolve(f).toString): _*)
  }

  /** Row-level change-data capture over ANY commit window — the
    * changelog face of copy-on-write (Delta CDF / Iceberg
    * changelog-scan analogue, computed rather than stored). For each
    * commit in `(from, to]` the net row changes are the multiset
    * difference between the files the commit removed and the files it
    * added:
    *
    *   deletes = rows(removed files) EXCEPT ALL rows(added files)
    *   inserts = rows(added files)  EXCEPT ALL rows(removed files)
    *
    * This derives the right answer for every operation with no
    * operation-name trust: appends read only their new files (removed
    * side is empty — no diff runs), DELETE emits just the deleted
    * rows (the rewritten survivors cancel), UPDATE/MERGE emit
    * delete+insert pairs for modified rows, and compaction/z-order
    * cancel to nothing. Cost is proportional to the files each commit
    * TOUCHED, never to table size — on a 100 TB table a day's
    * changelog reads the day's rewritten files only. Output columns:
    * the table schema plus `_change_type` ('insert' | 'delete') and
    * `_commit_version`. Ordering across commits is by
    * `_commit_version`; within a commit, deletes and inserts are
    * unordered (pair them by key downstream if needed).
    *
    * The window must be contiguous in the retained metadata log
    * (expireSnapshots gaps → re-sync error, as changesBetween) and
    * schema-stable (a widening ALTER inside the window makes one
    * unioned output schema ill-defined — split the read at the DDL
    * commit). */
  def changelogBetween(
      spark: SparkSession,
      catalog: String,
      namespace: Seq[String],
      table: String,
      fromVersionExclusive: Int,
      toVersionInclusive: Int): org.apache.spark.sql.DataFrame =
    changelogBetweenAt(spark, lakehouseTable(spark, catalog, namespace, table).tableDir,
      fromVersionExclusive, toVersionInclusive)

  /** [[changelogBetween]] addressed by table directory — the entry
    * point for the `.changes` streaming source, which holds the dir. */
  def changelogBetweenAt(
      spark: SparkSession,
      dir: Path,
      fromVersionExclusive: Int,
      toVersionInclusive: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.lit
    val log = TableMetadata.loadLog(dir)
    val maxV = log.lastOption.map(_.version).getOrElse(0)
    require(fromVersionExclusive >= 0 && toVersionInclusive <= maxV &&
      fromVersionExclusive <= toVersionInclusive,
      s"invalid version window ($fromVersionExclusive, $toVersionInclusive], current is $maxV")
    val window = log.filter(m =>
      m.version > fromVersionExclusive && m.version <= toVersionInclusive)
    require(window.size == toVersionInclusive - fromVersionExclusive,
      s"version window ($fromVersionExclusive, $toVersionInclusive] incomplete: " +
        "metadata expired (expireSnapshots); re-sync from the current snapshot")
    val beforeMeta: TableMetadata =
      if (fromVersionExclusive == 0)
        window.headOption.getOrElse(TableMetadata.load(dir))
          .copy(files = Seq.empty, fileStats = Map.empty,
            fileRows = Map.empty, fileSeq = Map.empty, deleteFiles = Seq.empty)
      else log.find(_.version == fromVersionExclusive)
        .getOrElse(throw new IllegalArgumentException(
          s"metadata for v$fromVersionExclusive expired; re-sync from the current snapshot"))
    val schema = window.headOption.map(_.schema)
      .getOrElse(TableMetadata.load(dir).schema)
    require(window.forall(_.schema == schema),
      s"schema changed inside ($fromVersionExclusive, $toVersionInclusive]: " +
        "split the changelog read at the DDL commit")
    require(!schema.fieldNames.exists(Set("_change_type", "_commit_version")),
      "table schema collides with changelog metadata columns")

    // every file read goes through the merging view OF ITS OWN
    // snapshot: removed files carry the deletes that applied to them
    // before the commit, added files the (never-applicable-yet) state
    // after. Raw reads would re-emit rows at compaction that the
    // changelog already reported deleted at their mor-delete commit.
    def readView(meta: TableMetadata, fs: Seq[String]) =
      if (fs.isEmpty) spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      else MergeOnRead.read(spark, dir, meta, fs)
    val empty = readView(beforeMeta, Seq.empty)

    val states = beforeMeta +: window
    val perCommit = states.sliding(2).zip(window.iterator).flatMap {
      case (Seq(prev, cur), m) =>
        val removed = (prev.files.toSet -- cur.files.toSet).toSeq.sorted
        val added = (cur.files.toSet -- prev.files.toSet).toSeq.sorted
        val prevDel = prev.deleteFiles.map(_.path).toSet
        val newEntries = cur.deleteFiles.filterNot(e => prevDel.contains(e.path))
        if (newEntries.nonEmpty) {
          // merge-on-read commit (mor-delete / mor-upsert): deletes are
          // the PRE-commit rows matching the new entries' keys (the
          // merging view of prev so already-deleted rows don't re-emit),
          // inserts are the commit's own appended files (their seq
          // equals the entries' — never subject to them)
          require(removed.isEmpty,
            s"commit v${m.version} both rewrote files and added delete entries: " +
              "changelog cannot attribute its row changes")
          // entries group by shape and each group resolves its own row
          // delta — a single commit may carry several (a MERGE writing
          // positional deletes while a consolidation folds equality
          // entries, or consolidate-deletes merging both kinds at
          // once). For an entry-REWRITE commit (consolidation: old
          // entries dropped, merged replacements added) each group's
          // semi-join is empty by construction — the pre-commit
          // merging view already excludes every row the replacement
          // entries name — so the changelog correctly reports no row
          // change without trusting the operation name.
          val groups = newEntries.groupBy(e => (e.isPositional, e.keyColumns)).toSeq
            .sortBy { case ((p, cols), _) => (p, cols.mkString(",")) }
          val deletes = groups.map { case ((isPos, keyCols), entries) =>
            val probe = prev.copy(deleteFiles = entries)
            val dirty = prev.files.filter(f => MergeOnRead.applicable(probe, f).nonEmpty)
            if (dirty.isEmpty) empty
            else if (isPos) {
              // positional entries: the deleted rows are the pre-commit
              // view's rows at the recorded (file, offset) pairs
              import org.apache.spark.sql.functions.col
              val view = MergeOnRead.read(spark, dir, prev, dirty, prep = df =>
                df.withColumn("__graft_cf", MergeOnRead.relFileCol)
                  .withColumn("__graft_cp", col("_metadata.row_index")))
              val keys = entries.map(e =>
                spark.read.schema(MergeOnRead.posKeySchema)
                  .parquet(dir.resolve(e.path).toString)).reduce(_ union _)
              view.join(keys,
                  view("__graft_cf") === keys(MergeOnRead.PosFileCol) &&
                    view("__graft_cp") === keys(MergeOnRead.PosPosCol),
                  "left_semi")
                .drop("__graft_cf", "__graft_cp")
            } else {
              val view = readView(prev, dirty)
              val keys = entries.map(e =>
                spark.read.schema(MergeOnRead.keySchema(schema, keyCols))
                  .parquet(dir.resolve(e.path).toString)).reduce(_ union _)
              val cond = keyCols.map(k => view(k) <=> keys(k)).reduce(_ && _)
              view.join(keys, cond, "left_semi")
            }
          }.reduce(_ unionByName _)
          val inserts = readView(cur, added)
          Some(
            deletes.withColumn("_change_type", lit("delete"))
              .withColumn("_commit_version", lit(m.version))
              .unionByName(
                inserts.withColumn("_change_type", lit("insert"))
                  .withColumn("_commit_version", lit(m.version))))
        } else if (removed.isEmpty && added.isEmpty) None // metadata-only commit
        else {
          val rm = readView(prev, removed)
          val ad = readView(cur, added)
          // pure appends/drops skip the diff plan entirely
          val deletes = if (added.isEmpty) rm else if (removed.isEmpty) empty
            else rm.exceptAll(ad)
          val inserts = if (removed.isEmpty) ad else if (added.isEmpty) empty
            else ad.exceptAll(rm)
          Some(
            deletes.withColumn("_change_type", lit("delete"))
              .withColumn("_commit_version", lit(m.version))
              .unionByName(
                inserts.withColumn("_change_type", lit("insert"))
                  .withColumn("_commit_version", lit(m.version))))
        }
    }.toSeq
    perCommit.reduceOption(_ unionByName _).getOrElse(
      empty.withColumn("_change_type", lit("delete")).limit(0)
        .withColumn("_commit_version", lit(0)))
  }

  /** Property prefix for named snapshot tags (`graft.tag.<name>` →
    * version number). */
  val TagPrefix = "graft.tag."

  /** Versions pinned by tags, per the given (usually current) metadata. */
  def taggedVersions(meta: TableMetadata): Set[Int] =
    meta.properties.collect {
      case (k, v) if k.startsWith(TagPrefix) => v.toInt
    }.toSet

  /** Tag a snapshot version with a stable name (Iceberg tag / Delta
    * named version): `VERSION AS OF 'name'` then reads it forever, and
    * `expireSnapshots`/`vacuum` keep the tagged version's metadata and
    * data files alive however far history advances — the audit /
    * reproducibility pin ("the snapshot the model trained on") that a
    * retention policy must not eat. The tag itself is a metadata-only
    * commit (history-visible, time-travelable, racing appends retry
    * past it). */
  /** Per-ref retention metadata (Iceberg's `max-ref-age-ms`). A tag or
    * branch created with (or later given) a max age is DROPPED by the
    * next [[expireSnapshots]] run once older than that age — without
    * this, a forgotten tag on a streaming table pins unbounded metadata
    * history forever, and dropping the tag by hand is the only relief.
    * Hyphenated prefixes on purpose: ref names match `[A-Za-z0-9_-]+`
    * and every `graft.tag.`/`graft.branch.` key is parsed as a ref, so
    * the retention keys must not share those prefixes. Refs with no
    * recorded creation time (pre-feature tables) never age — a
    * retention policy must not eat a pin it cannot date. */
  val TagCreatedPrefix = "graft.tag-created."
  val BranchCreatedPrefix = "graft.branch-created."
  val TagMaxAgePrefix = "graft.tag-age."
  val BranchMaxAgePrefix = "graft.branch-age."

  /** Table-wide default max ref age, overridden per ref by the
    * `graft.tag-age.<name>` / `graft.branch-age.<name>` properties. */
  val DefaultMaxRefAgeKey = "graft.expire.max-ref-age-ms"

  /** Table property floor on [[expireSnapshots]]'s `retainVersions` —
    * Iceberg's `min-snapshots-to-keep`: a table owner can guarantee a
    * minimum time-travel window that no (possibly sloppier) maintenance
    * job invocation can undercut. */
  val MinVersionsToKeepKey = "graft.expire.min-versions-to-keep"

  def tag(
      spark: SparkSession,
      catalog: String,
      namespace: Seq[String],
      table: String,
      name: String,
      version: Int,
      maxAgeMs: Option[Long] = None): Unit = {
    // at least one non-digit: VERSION AS OF resolves all-digit strings
    // as version numbers first, so a numeric ref would be unreadable
    require(name.matches("[A-Za-z0-9_-]+") && !name.forall(_.isDigit),
      s"invalid tag name '$name' (must contain a non-digit)")
    val lt = lakehouseTable(spark, catalog, namespace, table)
    val dir = lt.tableDir
    require(TableMetadata.versionIsLive(dir, version),
      s"cannot tag v$version: metadata missing (never existed or already expired)")
    commitPropertyChange(dir, s"tag($name=v$version)",
      _ + (TagPrefix + name -> version.toString) +
        (TagCreatedPrefix + name -> System.currentTimeMillis().toString) ++
        maxAgeMs.map(a => TagMaxAgePrefix + name -> a.toString))
  }

  /** Drop a tag; the version it pinned becomes expirable again. */
  def dropTag(
      spark: SparkSession,
      catalog: String,
      namespace: Seq[String],
      table: String,
      name: String): Unit = {
    val lt = lakehouseTable(spark, catalog, namespace, table)
    commitPropertyChange(lt.tableDir, s"drop-tag($name)",
      _ - (TagPrefix + name) - (TagCreatedPrefix + name) - (TagMaxAgePrefix + name))
  }

  // ---- branches (write-audit-publish) --------------------------------------

  /** Property prefix for writable branch refs (`graft.branch.<name>` →
    * fork version). Unlike tags, a branch has its OWN metadata log
    * under `metadata/branches/<name>/` and accepts commits. */
  val BranchPrefix = "graft.branch."

  private[catalog] def branchLogDir(dir: Path, name: String): Path =
    TableMetadata.metadataDir(dir).resolve("branches").resolve(name)

  /** Branch names recorded in the given (usually current) metadata. */
  def branchNames(meta: TableMetadata): Seq[String] =
    meta.properties.keys.collect {
      case k if k.startsWith(BranchPrefix) => k.stripPrefix(BranchPrefix)
    }.toSeq.sorted

  /** Head metadata of a branch: the newest version in its own log, or
    * the fork snapshot when the branch has no commits yet. */
  def branchHead(dir: Path, name: String): TableMetadata = {
    val cur = TableMetadata.load(dir)
    val fork = cur.properties.getOrElse(BranchPrefix + name,
      throw new IllegalArgumentException(s"no branch '$name' on ${cur.name}")).toInt
    val bdir = branchLogDir(dir, name)
    val versions =
      if (!Files.isDirectory(bdir)) Seq.empty[Int]
      else Fs.children(bdir).iterator
        .map(_.getFileName.toString)
        .collect { case s if s.startsWith("v") && s.endsWith(".json") =>
          s.stripPrefix("v").stripSuffix(".json").toInt
        }.toSeq
    versions.maxOption match {
      case Some(v) => TableMetadata.loadFile(dir, bdir.resolve(s"v$v.json"))
      case None => TableMetadata.loadFile(dir, TableMetadata.versionFile(dir, fork))
    }
  }

  /** Create a writable branch at the current snapshot — the WRITE side
    * of write-audit-publish: ingest lands on the branch, validation
    * reads `VERSION AS OF '<branch>'`, and [[fastForward]] publishes.
    * The fork point is the metadata-only commit that records the
    * branch marker, so the branch and the marker are atomic. Returns
    * the fork version. */
  def createBranch(
      spark: SparkSession,
      catalog: String,
      namespace: Seq[String],
      table: String,
      name: String,
      maxAgeMs: Option[Long] = None): Int = {
    // at least one non-digit: VERSION AS OF resolves all-digit strings
    // as version numbers first, so a numeric ref would be unreadable
    require(name.matches("[A-Za-z0-9_-]+") && !name.forall(_.isDigit),
      s"invalid branch name '$name' (must contain a non-digit)")
    val dir = lakehouseTable(spark, catalog, namespace, table).tableDir
    val forked = SnapshotChange.rederive(dir) { current =>
      require(!current.properties.contains(BranchPrefix + name) &&
        !current.properties.contains(TagPrefix + name),
        s"ref '$name' already exists on ${current.name}")
      Some(SnapshotChange.Change(s"branch($name)", properties = _ +
        (BranchPrefix + name -> (current.version + 1).toString) +
        (BranchCreatedPrefix + name -> System.currentTimeMillis().toString) ++
        maxAgeMs.map(a => BranchMaxAgePrefix + name -> a.toString)))
    }.get
    Files.createDirectories(branchLogDir(dir, name))
    forked.version
  }

  /** Append rows to a BRANCH: data files land under the table dir as
    * usual (immutable, shared storage), but the commit goes to the
    * branch's log — main's head never moves, main readers never see
    * the rows until [[fastForward]]. */
  def appendToBranch(
      spark: SparkSession,
      catalog: String,
      namespace: Seq[String],
      table: String,
      name: String,
      rows: org.apache.spark.sql.DataFrame): Long =
    appendToBranchAt(spark,
      lakehouseTable(spark, catalog, namespace, table).tableDir, name, rows)

  /** [[appendToBranch]] addressed by table dir — the entry point the
    * `graft.wap.branch` session conf routes plain SQL INSERTs through
    * (LakehouseTable.insert). */
  def appendToBranchAt(
      spark: SparkSession,
      dir: Path,
      name: String,
      rows: org.apache.spark.sql.DataFrame): Long = {
    val head = branchHead(dir, name)
    val schema = head.schema
    // Branch appends publish to main at fast_forward, so they owe every
    // write-path guarantee main's INSERT gives. Identity: a branch
    // append cannot mint (publish-time sequence arbitration happens on
    // main, and main advancing its mark mid-flight would fork the
    // lineage anyway), so GENERATED ALWAYS has no legal input here;
    // BY DEFAULT rows must carry explicit non-null ids — the branch
    // head's mark advances past them below, so post-publish mints
    // never collide.
    IdentityColumns.of(head.properties).foreach { case (c, spec) =>
      require(spec.allowExplicit,
        s"identity column '$c' is GENERATED ALWAYS — branch appends cannot " +
          "mint (sequences arbitrate on main at publish); INSERT on main, or " +
          "declare GENERATED BY DEFAULT and supply ids")
    }
    val aligned = rows.select(schema.fields.map(f =>
      rows.col(f.name).cast(f.dataType).as(f.name)).toIndexedSeq: _*)
    // generated columns are engine-computed on every write path; CHECK
    // constraints and identity NOT NULL guard row-locally in the write
    // projection (codegen'd, no extra pass) — same as batch INSERT
    val computed = CheckConstraints.enforce(
      GeneratedColumns.compute(aligned, schema, head.properties),
      head.properties)
    val guarded = {
      import org.apache.spark.sql.functions.{col, lit, raise_error, when}
      IdentityColumns.of(head.properties).foldLeft(computed) { case (d, (c, _)) =>
        val f = schema.fields.find(_.name.equalsIgnoreCase(c)).get
        d.withColumn(f.name,
          when(col(f.name).isNull,
            raise_error(lit(s"identity column '${f.name}' is NOT NULL — branch " +
              "appends cannot mint; supply explicit values")).cast(f.dataType))
            .otherwise(col(f.name)))
      }
    }
    val next = head.version + 1
    val staged = CommitFiles.writeData(spark, dir, schema, head.properties,
      CommitFiles.plainRel(next, s"br$name"), guarded,
      CommitFiles.byPartition(head.partitionColumns))
    // explicit BY-DEFAULT identity values advance the BRANCH's mark
    // (published with the head at fast_forward), so later mints on main
    // never collide with branch-staged ids. Two ingest jobs landing on
    // the same audit branch (the WAP norm at fleet scale) both succeed:
    // branch commits rebase with the same commute laws as main.
    SnapshotChange.commit(dir, head, SnapshotChange.Change("append", staged = staged,
      properties = p => IdentityColumns.advance(p,
        IdentityColumns.committedExtreme(schema, p, staged.stats, staged.rows))),
      SnapshotChange.Rebase, SnapshotChange.BranchLog(name))
    staged.rowCount
  }

  /** Merge-on-read DELETE addressed to a BRANCH: the key parquet and
    * entry land in the branch's log, so main never sees the deletion
    * until [[fastForward]] — the audit-stage cleanup of WAP (dedup
    * or policy deletes applied to the staged ingest before publish).
    * Entry seq = the branch's next version, covering every file the
    * branch head references (its own appends included). Returns key
    * tuples recorded. */
  def morDeleteFromBranch(
      spark: SparkSession,
      catalog: String,
      namespace: Seq[String],
      table: String,
      name: String,
      keys: org.apache.spark.sql.DataFrame): Long = {
    val dir = lakehouseTable(spark, catalog, namespace, table).tableDir
    val head = branchHead(dir, name)
    val keyCols = keys.columns.toSeq
    val kSchema = MergeOnRead.keySchema(head.schema, keyCols)
    val casted = keys.select(kSchema.fields.map(f =>
      keys.col(f.name).cast(f.dataType).as(f.name)).toIndexedSeq: _*)
    val next = head.version + 1
    val pinned = graft.Materialize.pin(casted)
    val dels = CommitFiles.writeDeletes(spark, dir, "b", next, pinned, pinned.count())
    if (dels.files.isEmpty) return 0
    val entries = dels.files.map { f =>
      DeleteFile(f, keyCols, next, dels.footers(f).rows, dels.footers(f).cols)
    }
    SnapshotChange.commit(dir, head, SnapshotChange.Change("mor-delete", addDeletes = entries),
      SnapshotChange.Rebase, SnapshotChange.BranchLog(name))
    dels.rowCount
  }

  /** PUBLISH a branch: move main's head to the branch head by copying
    * the branch's version files into the main log — valid only when
    * main's current snapshot is ON the branch lineage (a pure
    * fast-forward; anything else would silently drop main commits).
    * Time travel then works across the published versions exactly as
    * if they had been committed to main directly. Returns the new main
    * version. Repeated WAP cycles on one branch keep working: after a
    * publish the lineage check matches on the shared version file. */
  def fastForward(
      spark: SparkSession,
      catalog: String,
      namespace: Seq[String],
      table: String,
      name: String): Int = {
    val dir = lakehouseTable(spark, catalog, namespace, table).tableDir
    val cur = TableMetadata.load(dir)
    val fork = cur.properties.getOrElse(BranchPrefix + name,
      throw new IllegalArgumentException(s"no branch '$name' on ${cur.name}")).toInt
    val head = branchHead(dir, name)
    val bdir = branchLogDir(dir, name)
    // divergence is about LINEAGE, not version numbers: main at the
    // fork, or main's current version file byte-identical to the
    // branch's (published earlier), is a pure advance; anything else
    // means main moved off-branch and a fast-forward would drop commits
    val onLineage = cur.version == fork || {
      val bf = bdir.resolve(s"v${cur.version}.json")
      Files.exists(bf) &&
        Files.readString(bf) == Files.readString(TableMetadata.versionFile(dir, cur.version))
    }
    require(onLineage,
      s"main advanced to v${cur.version} off the '$name' lineage (fork v$fork): " +
        "fast-forward must be a pure advance — recreate the branch from the current " +
        "snapshot and re-apply its commits")
    if (head.version <= cur.version) return cur.version // already published
    val window = ((cur.version + 1) to head.version).map(v => v -> bdir.resolve(s"v$v.json"))
    window.foreach { case (v, src) =>
      require(Files.exists(src), s"branch '$name' log gap at v$v")
    }
    // versions publish oldest-first, so a mid-way conflict (a racer
    // advancing main) still leaves main on a consistent branch prefix
    window.foreach { case (v, src) =>
      val target = TableMetadata.versionFile(dir, v)
      // one claim protocol with the commit path (link-CAS, O_EXCL
      // fallback): a racer advancing main can never be silently replaced
      try TableMetadata.claimSlot(target, src)
      catch {
        case e @ (_: java.nio.file.FileAlreadyExistsException | _: java.nio.file.FileSystemException)
            if Files.exists(target) =>
          throw new IllegalStateException(
            s"commit conflict: main advanced to v$v during fast-forward of '$name'", e)
      }
    }
    // fast-forward is a main-log publish: a mirrored table maintains
    // its export before the hint names the published head (the same
    // invariant ordinary commits enforce)
    if (TableMetadata.isMirrored(head))
      TableMetadata.mirrorThenHint(dir, head)
    else
      TableMetadata.writeHint(TableMetadata.metadataDir(dir), head.version)
    head.version
  }

  /** Drop a branch: remove the marker and its log. Data files it alone
    * referenced become unreferenced and age out via [[vacuum]]. */
  def dropBranch(
      spark: SparkSession,
      catalog: String,
      namespace: Seq[String],
      table: String,
      name: String): Unit = {
    val dir = lakehouseTable(spark, catalog, namespace, table).tableDir
    commitPropertyChange(dir, s"drop-branch($name)",
      _ - (BranchPrefix + name) - (BranchCreatedPrefix + name) - (BranchMaxAgePrefix + name))
    val bdir = branchLogDir(dir, name)
    if (Files.isDirectory(bdir)) {
      Fs.deleteRecursively(bdir)
    }
  }

  /** Metadata-only property commit, re-derived on every lost race. */
  private def commitPropertyChange(
      dir: Path, op: String,
      change: Map[String, String] => Map[String, String]): Unit =
    SnapshotChange.commit(dir, TableMetadata.load(dir),
      SnapshotChange.Change(op, properties = change), SnapshotChange.Rederive)

  /** Consolidate the current manifest list into minimal chunks —
    * Iceberg's `rewrite_manifests`. A streaming sink committing every
    * few seconds adds one tiny manifest ref per epoch; after 10k
    * commits the version payload carries 10k refs and every cold load
    * opens 10k small files. This rewrites the SAME entries (file order,
    * seqs, stats all preserved — readers can't tell) into
    * ⌈files/ChunkSize⌉ chunks in ONE metadata-only commit; data files
    * and delete entries are untouched. No-ops (returns the current
    * count) when the list is already minimal. Racing writers win:
    * the consolidation retries on a fresh snapshot, bounded. Returns
    * the resulting manifest count. */
  def rewriteManifests(
      spark: SparkSession,
      catalog: String,
      namespace: Seq[String],
      table: String): Long = {
    val dir = lakehouseTable(spark, catalog, namespace, table).tableDir
    var seen = 0
    SnapshotChange.rederive(dir) { meta =>
      seen = meta.manifests.size
      val minimal = math.max(1,
        (meta.files.size + Manifests.ChunkSize - 1) / Manifests.ChunkSize)
      if (seen <= minimal) None
      else Some(SnapshotChange.Change("rewrite-manifests", rechunk = true))
    }.fold(seen)(_.manifests.size).toLong
  }

  /** Expire old metadata versions — Iceberg's `expire_snapshots` for
    * our log: delete `vN.json` files older than the newest
    * `retainVersions`, bounding metadata growth on high-commit-rate
    * tables (every version carries the full file list; a streaming
    * sink committing every few seconds writes thousands per day).
    * Expired versions stop being time-travelable (VERSION AS OF fails
    * cleanly) and incremental reads spanning them fail with a re-sync
    * error instead of a wrong diff. TAGGED versions are never expired
    * while their tag lives — but a ref older than its max age
    * ([[TagMaxAgePrefix]] / [[BranchMaxAgePrefix]] / the
    * [[DefaultMaxRefAgeKey]] table default) is dropped first, so its
    * pins release (Iceberg's per-ref `max-ref-age-ms`). The
    * [[MinVersionsToKeepKey]] table property floors `retainVersions`.
    * Data files are untouched — run `vacuum` for those. Returns the
    * number of versions expired. */
  def expireSnapshots(
      spark: SparkSession,
      catalog: String,
      namespace: Seq[String],
      table: String,
      retainVersions: Int,
      manifestGraceMs: Long = 600000L): Int = {
    require(retainVersions >= 1, "must retain at least the current version")
    val lt = lakehouseTable(spark, catalog, namespace, table)
    val dir = lt.tableDir
    // Per-ref retention FIRST: a tag/branch older than its max age
    // (per-ref property, else the table default) is dropped here, so
    // the normal expire below reclaims the versions it pinned. Refs
    // without a recorded creation time never age (see the prefix docs).
    val meta0 = TableMetadata.load(dir)
    val now = System.currentTimeMillis()
    val defaultAge = meta0.properties.get(DefaultMaxRefAgeKey).map(_.toLong)
    def agedOut(createdPrefix: String, agePrefix: String, n: String): Boolean =
      meta0.properties.get(createdPrefix + n).exists { created =>
        meta0.properties.get(agePrefix + n).map(_.toLong).orElse(defaultAge)
          .exists(a => now - created.toLong > a)
      }
    def refNames(prefix: String): Seq[String] = meta0.properties.keys
      .filter(_.startsWith(prefix)).map(_.stripPrefix(prefix)).toSeq.sorted
    val agedTags = refNames(TagPrefix)
      .filter(n => agedOut(TagCreatedPrefix, TagMaxAgePrefix, n))
    val agedBranches = refNames(BranchPrefix)
      .filter(n => agedOut(BranchCreatedPrefix, BranchMaxAgePrefix, n))
    if (agedTags.nonEmpty || agedBranches.nonEmpty) {
      commitPropertyChange(dir,
        s"expire-refs(${(agedTags ++ agedBranches).mkString(",")})", props =>
        props --
          agedTags.flatMap(n =>
            Seq(TagPrefix + n, TagCreatedPrefix + n, TagMaxAgePrefix + n)) --
          agedBranches.flatMap(n =>
            Seq(BranchPrefix + n, BranchCreatedPrefix + n, BranchMaxAgePrefix + n)))
      agedBranches.foreach { n =>
        val bdir = branchLogDir(dir, n)
        if (Files.isDirectory(bdir)) Fs.deleteRecursively(bdir)
      }
    }
    val meta = if (agedTags.nonEmpty || agedBranches.nonEmpty)
      TableMetadata.load(dir) else meta0
    val tagged = taggedVersions(meta)
    // a branch with no commits of its own resolves its head to the FORK
    // version's main-log metadata: expiring it would brick the branch
    val forks = meta.properties.collect {
      case (k, v) if k.startsWith(BranchPrefix) => v.toInt
    }.toSet
    // the table owner's floor wins over a sloppier job invocation
    val effectiveRetain = math.max(retainVersions,
      meta.properties.get(MinVersionsToKeepKey).flatMap(_.toIntOption).getOrElse(1))
    val cutoff = meta.version - effectiveRetain + 1 // keep versions >= cutoff
    val doomed = (1 until cutoff)
      .filterNot(tagged.contains)
      .filterNot(forks.contains)
      // skips slots already tombstoned by a previous expire and slots
      // deleted by a pre-tombstone expire
      .filter(v => TableMetadata.versionIsLive(dir, v))
    // the hint MUST reach current before any version below it is
    // tombstoned: retained tagged/fork versions below the cutoff sit
    // under an expired range, and a stale hint at one of them must not
    // resolve as "current" (currentVersion's probe re-reads the hint
    // to close the in-flight-reader race — that depends on this order).
    // A hint-write failure aborts the expire; nothing is expired yet.
    if (doomed.nonEmpty)
      TableMetadata.writeHintStrict(TableMetadata.metadataDir(dir), meta.version)
    // TOMBSTONE, never delete: the version-number space must stay
    // append-only so a committer that stalled across this expire hits
    // EEXIST at its (now below-head) target slot and fails with a clean
    // retryable conflict. Deleting the slot would let its createLink
    // succeed below head — a silently forked log and a lost update
    // (the zombie reports success but no descendant of head carries
    // its files). Tombstones are then garbage-collected below the
    // EXPIRE FLOOR — see below — so the metadata dir stays bounded.
    val md = TableMetadata.metadataDir(dir)
    doomed.foreach { v =>
      val f = TableMetadata.versionFile(dir, v)
      val tmp = Files.createTempFile(md, ".tomb-", ".tmp")
      try {
        Files.writeString(tmp, TableMetadata.tombstoneJson(v))
        Files.move(tmp, f,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      } finally Files.deleteIfExists(tmp)
    }
    // Tombstones would otherwise accumulate one file per version
    // FOREVER (a streaming table commits thousands a day — the very
    // growth expire exists to bound). Advance the expire FLOOR over the
    // contiguous expired prefix, then delete the covered tombstones:
    // the floor file subsumes their zombie protection (publishPayload
    // re-checks it after claiming a slot), so a stalled committer whose
    // tombstone is gone still fails clean. Order is load-bearing:
    // floor persists BEFORE any tombstone below it is removed. A live
    // retained version (tag/fork island) stops the scan; its tombstoned
    // successors above it stay on disk — bounded by the retained
    // islands, not by commit count.
    val oldFloor = TableMetadata.readFloor(md)
    var floor = oldFloor
    while (floor + 1 < cutoff &&
        !tagged.contains(floor + 1) && !forks.contains(floor + 1) &&
        !TableMetadata.versionIsLive(dir, floor + 1)) floor += 1
    if (floor > oldFloor) {
      TableMetadata.writeFloor(md, floor)
      // sweep only the newly-covered window — re-deleting from 1 would
      // cost O(floor) syscalls per expire on a long-lived streaming
      // table. A run that persists the floor and crashes mid-sweep
      // strands the UNDELETED SUFFIX of its own window (≤ one window's
      // tombstones, ~30 bytes each, once per crash — bounded, and
      // harmless: readers treat tombstones as gaps and zombies still
      // EEXIST on them); it is NOT re-swept here because a cheap "stop
      // at first missing file" heuristic breaks on pre-floor-era gaps
      // mixed between tombstones.
      (oldFloor + 1 to floor).foreach { v =>
        if (!tagged.contains(v) && !forks.contains(v))
          Files.deleteIfExists(TableMetadata.versionFile(dir, v))
      }
    }
    reapOrphanManifests(dir, manifestGraceMs)
    doomed.size
  }

  /** Manifest chunks referenced by NO retained version payload (main
    * log or any branch log) are dead — their referencing versions
    * expired, their commit lost its publish race, or the committer
    * crashed between chunk write and publish. The mtime grace protects
    * chunks an IN-FLIGHT commit has written but not yet published
    * (losers clean up after themselves; this is the crash backstop).
    * Payloads are read as summaries — O(refs), no entry parsing. */
  private def reapOrphanManifests(dir: Path, graceMs: Long): Int = {
    val md = TableMetadata.metadataDir(dir)
    if (!Files.isDirectory(md)) return 0
    def referencedChunks(): Set[String] = {
      val payloads = Fs.children(md).iterator
        .filter(p => p.getFileName.toString.matches("v\\d+\\.json")).toList ++ {
        val broot = md.resolve("branches")
        if (!Files.isDirectory(broot)) Nil
        else Fs.children(broot).iterator.filter(Files.isDirectory(_)).toList
          .flatMap(b => Fs.children(b).iterator
            .filter(p => p.getFileName.toString.matches("v\\d+\\.json")).toList)
      }
      payloads.flatMap { p =>
        try TableMetadata.fromJson(Files.readString(p)).manifests.map(_.path)
        catch {
          case _: java.nio.file.NoSuchFileException => Nil // racing expire
          case _: ExpiredVersionException => Nil // tombstone: references nothing
        }
      }.toSet
    }
    // crash recovery: a previous reap that died between rename and
    // decision left `.<name>.reap` files — restore any whose original
    // is absent, then judge them like every other chunk below
    Fs.children(md).iterator
      .filter(_.getFileName.toString.endsWith(".reap")).toList
      .foreach { t =>
        val orig = t.resolveSibling(
          t.getFileName.toString.stripPrefix(".").stripSuffix(".reap"))
        if (!Files.exists(orig)) {
          try Files.move(t, orig) catch { case _: Exception => () }
        } else Files.deleteIfExists(t)
      }
    val referenced = referencedChunks()
    val cutoff = System.currentTimeMillis() - graceMs
    val candidates = Fs.children(md).iterator
      .filter { p =>
        val n = p.getFileName.toString
        n.startsWith("m-") && n.endsWith(".json") && !referenced.contains(n) &&
          scala.util.Try(Files.getLastModifiedTime(p).toMillis < cutoff).getOrElse(false)
      }.toList
    if (candidates.isEmpty) return 0
    // TWO-PHASE reap — rename away, re-scan, then restore or delete —
    // so no interleaving with an in-flight commit can brick the table:
    //  - a commit that links AFTER the rename fails its post-link chunk
    //    verification (publishPayload) and retries cleanly;
    //  - a commit that verified BEFORE the rename has already published
    //    its payload, so the re-scan sees the chunk referenced and the
    //    rename is undone.
    // A reaper crash between rename and decision self-heals: the next
    // reap (and Manifests.read on a miss) restores `.<name>.reap`
    // leftovers before judging them again.
    val moved = candidates.flatMap { p =>
      val t = p.resolveSibling("." + p.getFileName.toString + ".reap")
      try { Files.deleteIfExists(t); Files.move(p, t); Some(p -> t) }
      catch { case _: Exception => None } // racing reaper/reader: leave it
    }
    val referenced2 = referencedChunks()
    var reaped = 0
    moved.foreach { case (orig, t) =>
      if (referenced2.contains(orig.getFileName.toString)) {
        try Files.move(t, orig)
        catch { case _: Exception => () } // a reader already restored it
      } else { Files.deleteIfExists(t); reaped += 1 }
    }
    reaped
  }

  /** Metadata-only import of existing parquet files (Iceberg's
    * `add_files` shape): registers every `*.parquet` under `sourceDir`
    * as data files of the table WITHOUT reading or rewriting their
    * rows — the 100 TB onboarding path (re-ingesting an existing lake
    * through INSERT doubles-writes every byte; this commit costs one
    * FOOTER read per file). Files enter the table by HARD LINK into
    * the commit's data dir (same volume: zero bytes moved, the
    * caller's original path stays valid and untouched; no-link
    * filesystems fall back to a copy), so the table owns its own
    * reference and vacuum/compaction/immutability invariants hold
    * unchanged. The footer read doubles as validation (every table
    * column must be physically present in EVERY imported file at a
    * compatible type — name-based resolution would otherwise silently
    * read missing columns as null) and yields min/max/null stats plus
    * row counts, so file-skipping and metadata-only COUNT(*) answers
    * work on imported files exactly as on written ones.
    * The commit auto-sequences the new files at the new
    * version, so pending merge-on-read delete entries do NOT apply to
    * imported rows (they arrived after the delete). Bucketed tables
    * are refused — imported files carry no bucket-to-file mapping and
    * would silently degrade storage-partitioned joins. Driver cost is
    * O(imported files) footer reads — the same per-commit shape every
    * write path here already has. Returns the number of files added. */
  def addFiles(
      spark: SparkSession,
      catalog: String,
      namespace: Seq[String],
      table: String,
      sourceDir: String): Int = {
    val lt = lakehouseTable(spark, catalog, namespace, table)
    val dir = lt.tableDir
    val current = TableMetadata.load(dir)
    require(Bucketing.specOf(current.properties).isEmpty,
      s"add_files: table '$table' is bucketed — imported files have no " +
        "bucket-to-file mapping; use INSERT INTO so rows are bucketed on write")
    val src = java.nio.file.Paths.get(sourceDir)
    require(Files.isDirectory(src), s"add_files: not a directory: $sourceDir")
    val walk = Files.walk(src)
    val srcFiles =
      try walk.iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
        .toVector.sortBy(_.toString)
      finally walk.close()
    if (srcFiles.isEmpty) return 0

    // ONE footer read per source file: row counts + stats for the
    // commit AND validation — every table column must be physically
    // present at a compatible primitive type (name-resolved reads would
    // silently return null for missing columns; a primitive mismatch
    // would poison every later scan of the table with a read-time
    // SchemaColumnConvertNotSupported error instead of failing here)
    val conf = spark.sessionState.newHadoopConf()
    val srcFooters = srcFiles.map { p =>
      p -> FooterStats.collectFull(conf,
        new org.apache.hadoop.fs.Path(p.toString), current.schema)
    }
    srcFooters.foreach { case (p, footer) =>
      current.schema.fields.foreach { f =>
        // exact name first, then case-insensitive — Spark's default
        // name-based parquet resolution is case-insensitive
        // (spark.sql.caseSensitive=false), so a file storing the column
        // under different casing reads correctly and must import
        val stored = footer.fields.get(f.name).orElse {
          if (spark.sessionState.conf.caseSensitiveAnalysis) None
          else footer.fields.collectFirst {
            case (n, prim) if n.equalsIgnoreCase(f.name) => prim
          }
        }
        stored match {
          case None => throw new IllegalArgumentException(
            s"add_files: ${p.getFileName} lacks table column '${f.name}' — a " +
              "name-resolved read would silently return null; fix the file or " +
              "evolve the schema first")
          case Some(prim) =>
            Maintenance.compatiblePrimitives(f.dataType).foreach { allowed =>
              if (!allowed.contains(prim)) throw new IllegalArgumentException(
                s"add_files: ${p.getFileName} stores '${f.name}' as parquet " +
                  s"$prim, incompatible with table type ${f.dataType.simpleString} " +
                  s"(expected ${allowed.mkString("/")}) — importing it would fail " +
                  "every subsequent scan at read time")
            }
        }
      }
    }

    // CHECK constraints / generated columns: imported rows must satisfy
    // them like any written row — one distributed verification scan
    // over ONLY the imported files (the price a constrained table pays
    // for import; Delta's ADD CONSTRAINT makes the same trade)
    val checks = CheckConstraints.constraintsOf(current.properties) ++
      GeneratedColumns.conformanceChecks(spark, current.schema, current.properties) ++
      IdentityColumns.conformanceChecks(current.schema, current.properties)
    if (checks.nonEmpty) {
      import org.apache.spark.sql.functions.{expr, lit, sum, when}
      // ONE pass over the imported files computes every violation
      // count at once (and therefore reports every violated check)
      val df = spark.read.schema(current.schema).parquet(srcFiles.map(_.toString): _*)
      val counts = df.agg(
        sum(when(expr(checks.head._2) <=> lit(false), 1L).otherwise(0L)),
        checks.tail.map { case (_, sql) =>
          sum(when(expr(sql) <=> lit(false), 1L).otherwise(0L)) }: _*).head()
      val violated = checks.zipWithIndex.collect {
        case ((n, sql), i) if !counts.isNullAt(i) && counts.getLong(i) > 0 =>
          s"'$n' ($sql): ${counts.getLong(i)} rows"
      }
      if (violated.nonEmpty) throw new IllegalStateException(
        s"add_files: imported rows violate ${violated.mkString("; ")} — refusing " +
          "the import; fix the files or drop the constraint first")
    }

    val nextVersion = current.version + 1
    val commitRel = CommitFiles.plainRel(nextVersion, "addfiles")
    val commitDir = dir.resolve(commitRel)
    Files.createDirectories(commitDir)
    val byRel = srcFooters.zipWithIndex.map { case ((p, footer), i) =>
      val name = f"part-$i%05d-${p.getFileName.toString}"
      val target = commitDir.resolve(name)
      try Files.createLink(target, p)
      catch {
        case _: UnsupportedOperationException | _: java.nio.file.FileSystemException =>
          Files.copy(p, target, StandardCopyOption.COPY_ATTRIBUTES)
      }
      s"$commitRel/$name" -> footer
    }.toMap
    val staged = CommitFiles.keep(spark, dir, current.schema, current.properties, commitRel,
      byRel.keys.toSeq.sorted, byRel)
    // imported files carry their own identity values: advance the mint
    // mark past them (from the footers already in hand) so later
    // INSERTs never collide with imported ids
    SnapshotChange.commit(dir, current, SnapshotChange.Change("add_files", staged = staged,
      properties = p => IdentityColumns.advance(p,
        IdentityColumns.committedExtreme(current.schema, p, staged.stats, staged.rows))),
      SnapshotChange.Rebase)
    staged.files.size
  }

  /** Zero-copy shallow clone (Delta's SHALLOW CLONE / Iceberg's
    * `snapshot` procedure): create `dstTbl` whose first data commit
    * references the CURRENT snapshot of the source by HARD LINK —
    * schema, partitioning, properties, per-file stats/rows/seqs,
    * pending merge-on-read delete entries and bloom sidecars carry
    * over verbatim; zero data bytes move. The sandbox-on-production
    * path at 100 TB: a dev table over today's snapshot costs one link
    * per file and one metadata write. The clone is fully independent
    * afterwards — its own metadata log, its own commits; because the
    * filesystem refcounts linked blocks, either table's vacuum only
    * drops its OWN reference and neither can corrupt the other.
    * Relative paths are preserved exactly, which keeps three
    * invariants for free: positional delete entries still name their
    * target files, file seqs keep every pending entry's applicability
    * unchanged, and bloom sidecars (keyed by sha1 of the relative
    * path) stay valid. Source lineage is recorded in
    * `graft.clone.source`. Returns the number of files linked. */
  def cloneTable(
      spark: SparkSession,
      catalog: String,
      srcNamespace: Seq[String],
      srcTable: String,
      dstNamespace: Seq[String],
      dstTable: String): Int = {
    val src = lakehouseTable(spark, catalog, srcNamespace, srcTable)
    val srcMeta = TableMetadata.load(src.tableDir)
    val cat = spark.sessionState.catalogManager.catalog(catalog)
      .asInstanceOf[TableCatalog]
    // register through the catalog: namespace checks, directory layout
    // and already-exists semantics are the catalog's own
    cat.createTable(Identifier.of(dstNamespace.toArray, dstTable), srcMeta.schema,
      Array.empty[org.apache.spark.sql.connector.expressions.Transform],
      new java.util.HashMap[String, String]())
    val dst = lakehouseTable(spark, catalog, dstNamespace, dstTable)
    val dstDir = dst.tableDir

    def link(rel: String): Unit = {
      val target = dstDir.resolve(rel)
      Files.createDirectories(target.getParent)
      try Files.createLink(target, src.tableDir.resolve(rel))
      catch {
        case _: UnsupportedOperationException | _: java.nio.file.FileSystemException =>
          Files.copy(src.tableDir.resolve(rel), target,
            StandardCopyOption.COPY_ATTRIBUTES)
      }
    }
    srcMeta.files.foreach(link)
    // a delete entry's tuple parquet AND its deletion-vector sidecar
    // (the cloned read takes the vector path when the entry names one)
    srcMeta.deleteFiles
      .flatMap(d => d.path +: (if (d.vector.isEmpty) Nil else Seq(d.vector)))
      .distinct.foreach(link)
    val blooms = BloomIndex.bloomsDir(src.tableDir)
    if (Files.isDirectory(blooms)) {
      val stream = Files.list(blooms)
      try stream.iterator().asScala
        .filter(p => Files.isRegularFile(p))
        .foreach(p => link(s"metadata/blooms/${p.getFileName}"))
      finally stream.close()
    }

    // restore carries every file's seq, so each pending delete entry
    // applies to exactly the same files. Tags and branches name
    // VERSIONS OF THE SOURCE's metadata log; the clone's log starts
    // fresh, so carrying them would leave refs pointing at versions
    // that don't exist here (Delta's SHALLOW CLONE strips them too)
    SnapshotChange.commit(dstDir, TableMetadata.load(dstDir), SnapshotChange.Change("clone",
      restore = Some(srcMeta),
      properties = _.filterNot { case (k, _) =>
          k.startsWith(TagPrefix) || k.startsWith(BranchPrefix) ||
            k.startsWith(TagCreatedPrefix) || k.startsWith(BranchCreatedPrefix) ||
            k.startsWith(TagMaxAgePrefix) || k.startsWith(BranchMaxAgePrefix)
        } + ("graft.clone.source" ->
          s"${(srcNamespace :+ srcTable).mkString(".")}@v${srcMeta.version}")),
      SnapshotChange.Once)
    srcMeta.files.size
  }

  /** Parquet primitive type names admissible for a Spark type on
    * import (None = no check — complex/exotic logical types are left
    * to the reader). Used by [[addFiles]] so a same-named column with
    * an incompatible physical type is refused at import time, not at
    * first read. */
  private[catalog] def compatiblePrimitives(
      dt: org.apache.spark.sql.types.DataType): Option[Set[String]] = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType | ShortType | IntegerType | DateType => Some(Set("INT32"))
      case LongType => Some(Set("INT64"))
      case TimestampType | TimestampNTZType => Some(Set("INT64", "INT96"))
      case FloatType => Some(Set("FLOAT"))
      case DoubleType => Some(Set("DOUBLE"))
      case BooleanType => Some(Set("BOOLEAN"))
      case StringType | BinaryType => Some(Set("BINARY"))
      case _: DecimalType => Some(Set("INT32", "INT64", "BINARY", "FIXED_LEN_BYTE_ARRAY"))
      case _ => None
    }
  }

  /** Default vacuum file-age threshold: files modified more recently
    * than this are never deleted, whatever the snapshot log says. */
  val DefaultRetentionMs: Long = 10 * 60 * 1000L

  /** Delete data files not referenced by any of the latest
    * `retainVersions` metadata versions (older metadata stays readable
    * as history, but its exclusive files are gone). Returns deleted
    * file count.
    *
    * `retentionMs` guards in-flight commits: `commitInsert`/`compact`
    * write data files BEFORE publishing metadata, so a file absent from
    * every retained snapshot may belong to a commit that is about to
    * land — deleting it would corrupt that table version. Like
    * Delta/Iceberg vacuum, files younger than the retention window are
    * always kept; pass 0 only when no writer can be concurrent (tests,
    * single-writer maintenance jobs). */
  def vacuum(
      spark: SparkSession,
      catalog: String,
      namespace: Seq[String],
      table: String,
      retainVersions: Int = 1,
      retentionMs: Long = DefaultRetentionMs): Int = {
    require(retainVersions >= 1, "must retain at least the current version")
    val lt = lakehouseTable(spark, catalog, namespace, table)
    val dir = lt.tableDir
    val log = TableMetadata.loadLog(dir)
    // tagged snapshots stay fully readable: their files are retained
    // alongside the newest retainVersions' (expireSnapshots keeps their
    // metadata, so the log always still contains them)
    val tagged = log.lastOption.map(taggedVersions).getOrElse(Set.empty)
    val retainedMetas =
      log.takeRight(retainVersions) ++ log.filter(m => tagged.contains(m.version))
    // branch heads reference data files main's log knows nothing
    // about (unpublished WAP writes) — they are live, not orphans
    val branchMetas = log.lastOption.toSeq
      .flatMap(branchNames).map(n => branchHead(dir, n))
    // delete-key parquet files are referenced by metadata exactly like
    // data files: they live as long as any retained version needs them
    val retained =
      (retainedMetas ++ branchMetas).flatMap(m => m.files ++
        m.deleteFiles.flatMap(d => d.path +: (if (d.vector.isEmpty) Nil else Seq(d.vector)))).toSet
    val dataDir = dir.resolve("data")
    if (!Files.isDirectory(dataDir)) return 0
    val cutoff = System.currentTimeMillis() - retentionMs
    val deletesDir = dir.resolve("deletes")
    val roots = Seq(dataDir) ++ (if (Files.isDirectory(deletesDir)) Seq(deletesDir) else Nil)
    val all = roots.flatMap(root => Fs.walk(root).iterator
      .filter(p => Files.isRegularFile(p))
      .map(p => dir.relativize(p).toString)
      .toList)
    val doomed = all.filterNot { f =>
      retained.contains(f) || !(f.endsWith(".parquet") || f.endsWith(".bin")) ||
        scala.util.Try(Files.getLastModifiedTime(dir.resolve(f)).toMillis > cutoff)
          .getOrElse(true) // can't stat → assume young, keep
    }
    doomed.foreach(f => Files.deleteIfExists(dir.resolve(f)))
    // drop now-empty commit directories
    roots.foreach(root => Fs.children(root).iterator.toList.foreach { d =>
      if (Files.isDirectory(d) && Fs.children(d).isEmpty) Files.delete(d)
    })
    // bloom sidecars of unretained files go with them
    BloomIndex.vacuumSidecars(dir, retained)
    // a rebuild that crashed mid-BUILD leaves an incomplete sibling
    // `<table>__rebuild` staging no other path ever removes (adoption
    // refuses incomplete stagings; the staging is its own table, so no
    // per-table vacuum sees it as garbage) — reap it here, never
    // touching completed or in-flight stagings
    graft.operators.IndexSwap.reapStaleStaging(
      spark, catalog, namespace, table, retentionMs)
    doomed.size
  }
}
