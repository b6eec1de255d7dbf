package graft.catalog

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.Materialize.PinOps

/** Merge-on-read equality deletes — the write-cheap half of row-level
  * DML (Iceberg v2 delete files; the shape Flink CDC writes).
  *
  * Copy-on-write DML (see [[LakehouseTable.deleteWhere]],
  * [[LakehouseRowLevelOperation]]) rewrites every file that holds a
  * matching row: correct, read-optimal, and untenable for a streaming
  * upsert feed against a 100 TB table — deleting one row from each of
  * 10k files rewrites 10 TB. Merge-on-read inverts the cost: a DELETE
  * commits a small parquet file of KEY TUPLES and touches no data file;
  * readers subtract matching rows on the fly. Compaction
  * ([[Maintenance.compact]]) or [[materializeDeletes]] later folds the
  * deletes in and restores join-free scans.
  *
  * Semantics (matching Iceberg's equality deletes):
  *  - an entry applies to data file f iff `entry.seq > fileSeq(f)`:
  *    rows (re)inserted after the delete are NOT affected;
  *  - a row is deleted when ALL key columns are null-safe-equal to some
  *    delete tuple (`<=>`, so a null key matches null, never "unknown");
  *  - per-entry footer key ranges prove most data files CLEAN at plan
  *    time ([[FileSkipping.rangesMayOverlap]]): a delete of one day's
  *    keys leaves every other day's files streaming join-free.
  *
  * Read integration is a resolution rule ([[MorReads]]) that rewrites
  * the table relation into (clean files) ∪ (dirty files ⟕anti delete
  * keys); maintenance rewrites read through [[read]] so they never
  * resurrect deleted rows.
  */
object MergeOnRead {

  /** Scan-builder option marking a read that must NOT re-apply delete
    * files (the rewritten sub-relations the MorReads rule plants). */
  val PlainReadOption = "graft.mor.plain"

  /** Columns of a positional delete parquet: table-relative data file
    * path + 0-based row offset within it. */
  val PosFileCol = DeleteFile.PosFileCol
  val PosPosCol = DeleteFile.PosPosCol

  /** Canonical table-relative identity of a scanned data file — the
    * ONE derivation both sides of positional identity must share.
    * Write side ([[PositionalRowIdScan]] stamping rows with their
    * source file) and read side (delete-entry folding over
    * `_metadata.file_path`) compare these strings byte-for-byte; two
    * derivations that disagree make positional deletes silently fail
    * to fold (deleted rows reappear).
    *
    * Every data file lives at `data/<commit>/<part>.parquet` — three
    * MACHINE-GENERATED segments (`data`, a [[CommitFiles]] staging
    * name, Spark part-file names; all `[A-Za-z0-9._-]`, nothing
    * URI-encodable) — so the 3-segment suffix of the reader's
    * file_path URI equals the raw relative path even when the
    * WAREHOUSE path upstream of it contains spaces/%/# that the URI
    * form percent-encodes (spec'd in MorSpec's space-in-warehouse
    * case). */
  def relFileCol: org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{col, substring_index}
    substring_index(col("_metadata.file_path"), "/", -3)
  }

  /** Driver-side form of the same canonicalization, for delegate scan
    * paths that may come back raw or as a percent-encoded URI: decode
    * the URI first (a raw path with URI-illegal characters fails the
    * parse and is used as-is — already decoded), then take the
    * 3-segment suffix. */
  def relPathOfScanned(pathOrUri: String): String = {
    val decoded =
      try {
        val u = new java.net.URI(pathOrUri)
        if (u.getPath != null) u.getPath else pathOrUri
      } catch { case _: java.net.URISyntaxException => pathOrUri }
    decoded.split('/').takeRight(3).mkString("/")
  }

  def posKeySchema: StructType = StructType(Seq(
    org.apache.spark.sql.types.StructField(PosFileCol,
      org.apache.spark.sql.types.StringType, nullable = false),
    org.apache.spark.sql.types.StructField(PosPosCol,
      org.apache.spark.sql.types.LongType, nullable = false)))

  /** Delete entries applicable to data file `f`: committed after the
    * file AND provably relevant — for equality entries, key ranges
    * overlapping the file's stats on every key column (disjoint on ANY
    * column proves no tuple can match); for positional entries, `f`
    * inside the entry's targeted-path range (the entry names exact
    * files, so path-range disjointness is proof). */
  def applicable(meta: TableMetadata, f: String): Seq[DeleteFile] =
    meta.deleteFiles.filter { d =>
      d.seq > meta.seqOf(f) && {
        if (d.isPositional)
          d.keyRanges.get(PosFileCol)
            .forall(r => !r.hasValues || (r.min <= f && f <= r.max))
        else {
          val stats = meta.fileStats.getOrElse(f, Map.empty)
          d.keyColumns.forall { k =>
            (for {
              fr <- stats.get(k)
              dr <- d.keyRanges.get(k)
              dt <- meta.schema.fields.find(_.name == k).map(_.dataType)
            } yield FileSkipping.rangesMayOverlap(dt, fr, dr)).getOrElse(true)
          }
        }
      }
    }

  /** Does any pending delete apply to any of these files? */
  def anyApplicable(meta: TableMetadata, files: Seq[String]): Boolean =
    meta.deleteFiles.nonEmpty && files.exists(f => applicable(meta, f).nonEmpty)

  def keySchema(schema: StructType, keyColumns: Seq[String]): StructType =
    StructType(keyColumns.map(k =>
      schema.fields.find(_.name == k).getOrElse(
        throw new IllegalArgumentException(s"no such column: $k"))))

  /** Read a subset of a snapshot's data files with every applicable
    * delete applied — the Dataset-level merge used by maintenance
    * rewrites (compact / COW DML), which would otherwise resurrect
    * deleted rows into their rewritten output. `prep` runs on each raw
    * file-group scan BEFORE the anti-joins (e.g. to capture
    * `input_file_name`); its added columns survive the joins. */
  def read(
      spark: SparkSession,
      tableDir: Path,
      meta: TableMetadata,
      files: Seq[String],
      prep: DataFrame => DataFrame = identity): DataFrame = {
    import org.apache.spark.sql.functions.col
    def abs(f: String): String = tableDir.resolve(f).toString
    require(files.nonEmpty, "merge-on-read over an empty file list")
    val groups = files.groupBy(f => applicable(meta, f)).toSeq
      .sortBy(_._2.head) // deterministic branch order
    groups.map { case (entries, groupFiles) =>
      val hasPos = entries.exists(_.isPositional)
      val raw = spark.read.schema(meta.schema).parquet(groupFiles.map(abs): _*)
      // positional entries match on (table-relative path, row offset):
      // both from the scan's _metadata struct via the ONE canonical
      // derivation ([[relFileCol]]) the write side also uses
      val withPos =
        if (!hasPos) raw
        else raw
          .withColumn("__graft_relfile", relFileCol)
          .withColumn("__graft_pos", col("_metadata.row_index"))
      val base = prep(withPos)
      // entries from the same commit with the same shape are one
      // LOGICAL delete that merely fanned out to several files on
      // write (CommitFiles.shapeDeleteWrite past the single-file ceiling): scan
      // them together and anti-join ONCE, instead of chaining one join
      // per file. Anti joins commute, so grouping only changes the
      // plan; the sort keeps it deterministic.
      val grouped = entries
        .groupBy(d => (d.seq, d.kind, d.keyColumns))
        .toSeq.sortBy { case ((seq, kind, cols), _) => (seq, kind, cols.mkString(",")) }
      val merged = grouped.foldLeft(base) { case (df, ((_, _, keyCols), es)) =>
        val paths = es.map(e => abs(e.path))
        if (es.head.isPositional) {
          val vecs = es.map(_.vector).filter(_.nonEmpty).distinct
          if (vecs.nonEmpty && es.forall(_.vector.nonEmpty)) {
            // deletion-vector path: a row-local codegen'd probe — the
            // anti-join's shuffle/broadcast stage disappears from the
            // merged read entirely
            val dv = DeletionVectors.loadAll(tableDir, vecs)
            import org.apache.spark.sql.graftbridge.ColumnBridge
            df.where(ColumnBridge.column(
              org.apache.spark.sql.catalyst.expressions.Not(PosDeleted(dv,
                ColumnBridge.expression(df("__graft_relfile")),
                ColumnBridge.expression(df("__graft_pos"))))))
          } else {
            val dels = spark.read.schema(posKeySchema).parquet(paths: _*)
            df.join(dels,
              df("__graft_relfile") === dels(PosFileCol) &&
                df("__graft_pos") === dels(PosPosCol),
              "left_anti")
          }
        } else {
          val keys = spark.read.schema(keySchema(meta.schema, keyCols))
            .parquet(paths: _*)
          val cond = keyCols.map(k => df(k) <=> keys(k)).reduce(_ && _)
          df.join(keys, cond, "left_anti")
        }
      }
      if (hasPos) merged.drop("__graft_relfile", "__graft_pos") else merged
    }.reduce(_ unionByName _)
  }

  /** Equality-delete every row of the table whose key columns match a
    * tuple in `keys` — one small parquet write + one metadata commit,
    * NO data file touched. Returns the number of key tuples recorded.
    * Keys are cast to the table's column types (a mismatched-type probe
    * would silently match nothing). */
  def morDelete(
      spark: SparkSession,
      catalog: String,
      namespace: Seq[String],
      table: String,
      keys: DataFrame): Long = {
    val lt = Maintenance.lakehouseTable(spark, catalog, namespace, table)
    commitDelete(spark, lt.tableDir, keys, appendData = None)
  }

  /** [[morDelete]] addressed by table directory — the entry point for
    * callers already inside the table (SQL DELETE in merge-on-read
    * mode, [[LakehouseTable.deleteWhere]]). */
  def morDeleteAt(spark: SparkSession, tableDir: Path, keys: DataFrame): Long =
    commitDelete(spark, tableDir, keys, appendData = None)

  /** Streaming-CDC upsert: ONE commit that equality-deletes the current
    * rows matching `rows`' keys and appends `rows`. The delete entry's
    * seq equals the new data files' seq, so it applies to every
    * pre-existing file and none of the new ones — old versions of each
    * key die, the incoming version lives, and no data file is
    * rewritten. Returns the number of upserted rows. */
  def morUpsert(
      spark: SparkSession,
      catalog: String,
      namespace: Seq[String],
      table: String,
      rows: DataFrame,
      keyColumns: Seq[String]): Long = {
    val lt = Maintenance.lakehouseTable(spark, catalog, namespace, table)
    require(keyColumns.nonEmpty, "morUpsert needs at least one key column")
    val schema = lt.summary.schema
    val aligned = rows.select(schema.fields.map(f =>
      rows.col(f.name).cast(f.dataType).as(f.name)).toIndexedSeq: _*)
    commitDelete(spark, lt.tableDir,
      aligned.select(keyColumns.map(aligned.col).toIndexedSeq: _*).distinct(),
      appendData = Some(aligned))
  }

  /** Write-optimal UPDATE (merge-on-read): ONE commit that positionally
    * deletes every current row matching `cond` and appends its updated
    * version — no existing data file rewritten, the DML cost is
    * O(matched rows), not O(files touched × file size). The positional
    * entry's sequence equals the commit version while the appended
    * files carry that same sequence, so the entry subtracts exactly
    * the pre-update rows and never the updates themselves (same
    * sequencing contract as [[morUpsert]]). Matching runs through the
    * merging read, so rows already deleted by pending entries are
    * neither matched nor resurrected. Returns the updated row count. */
  def morUpdateWhere(
      spark: SparkSession,
      catalog: String,
      namespace: Seq[String],
      table: String,
      cond: org.apache.spark.sql.Column,
      assignments: Map[String, org.apache.spark.sql.Column]): Long = {
    val lt = Maintenance.lakehouseTable(spark, catalog, namespace, table)
    morUpdateWhereAt(spark, lt.tableDir, cond, assignments)
  }

  /** [[morUpdateWhere]] addressed by table directory. */
  def morUpdateWhereAt(
      spark: SparkSession,
      tableDir: Path,
      cond: org.apache.spark.sql.Column,
      assignments: Map[String, org.apache.spark.sql.Column]): Long = {
    import org.apache.spark.sql.functions.{coalesce, col, lit}
    require(assignments.nonEmpty, "UPDATE needs at least one assignment")
    val current = TableMetadata.load(tableDir)
    val schema = current.schema
    assignments.keys.foreach { k =>
      require(schema.fieldNames.contains(k), s"no such column: $k (schema: ${
        schema.fieldNames.mkString(", ")})")
    }
    if (current.files.isEmpty) return 0
    // one scan feeds both halves of the commit (offsets + new rows):
    // eager checkpoint so the parquet read doesn't run twice
    val matched = read(spark, tableDir, current, current.files, prep = df =>
        df.withColumn("__graft_uf", relFileCol)
          .withColumn("__graft_up", col("_metadata.row_index")))
      .filter(coalesce(cond, lit(false))) // NULL predicate → not updated
      .pinned
    if (matched.isEmpty) return 0
    val filePos = matched.select(
      col("__graft_uf").as(PosFileCol), col("__graft_up").as(PosPosCol))
    val newRows = matched.select(schema.fields.map { f =>
      assignments.get(f.name).map(_.cast(f.dataType)).getOrElse(col(f.name)).as(f.name)
    }.toIndexedSeq: _*)
    commitUpdate(spark, tableDir, current, filePos, newRows)
  }

  /** One snapshot: positional-delete parquet + updated-row data files. */
  private def commitUpdate(
      spark: SparkSession,
      tableDir: Path,
      current: TableMetadata,
      filePos: DataFrame,
      newRows: DataFrame): Long = {
    val next = current.version + 1
    // filePos derives from the eagerly-checkpointed match set, so the
    // shaping count re-reads the checkpoint, not the table
    val dels = CommitFiles.writeDeletes(spark, tableDir, "p", next, filePos, filePos.count())
    val entries = dels.files.map { f =>
      // positional UPDATE: the entry is born with its replacement files
      DeleteFile(f, Seq(PosFileCol, PosPosCol), next, dels.footers(f).rows,
        dels.footers(f).cols, kind = DeleteFile.Positional, paired = true)
    }
    // a bucketed table's replacement rows keep the layout contract
    // (bucket-addressable b- commit) — otherwise one positional UPDATE
    // would silently degrade the scan's KeyGroupedPartitioning and the
    // mirror's bucket[n] claim until the next compaction
    val data = CommitFiles.writeData(spark, tableDir, current.schema, current.properties,
      CommitFiles.dataRel(current.properties, next, "morupd"), newRows,
      CommitFiles.byPartition(current.partitionColumns))
    SnapshotChange.commit(tableDir, current, SnapshotChange.Change(
      "mor-update", staged = data, addDeletes = entries), SnapshotChange.Rebase)
    data.rowCount
  }

  /** Positional delete: commit a (file, pos) parquet that removes the
    * given row offsets — the shape a predicate DELETE (or a row-level
    * MERGE) produces cheaply when rows are NOT key-addressable: no key
    * tuple can name them, but (data file, offset) always can, and the
    * data files still go untouched. `filePos` columns: `file` =
    * table-relative data file path, `pos` = 0-based row offset.
    * Returns the number of (file, pos) tuples recorded.
    *
    * Conflict handling matches equality deletes (entry seq preserved
    * across [[SnapshotChange.Rebase]]); the entry is EXACT about
    * which files it targets, so racer-appended files are never touched
    * and racing rewrites of the targeted files fail the commit. */
  def morDeletePositionalAt(spark: SparkSession, tableDir: Path, filePos: DataFrame): Long = {
    import org.apache.spark.sql.types.{LongType, StringType}
    val current = TableMetadata.load(tableDir)
    val next = current.version + 1
    val casted = filePos.select(
      filePos.col(PosFileCol).cast(StringType).as(PosFileCol),
      filePos.col(PosPosCol).cast(LongType).as(PosPosCol))
    // checkpoint so the caller's pipeline runs once (shaping count +
    // write); sorted file(s) keep the entry path ranges tight so clean
    // files prune, and a 10⁹-tuple MERGE fans out instead of
    // serializing through one task
    val pinned = casted.pinned
    val dels = CommitFiles.writeDeletes(spark, tableDir, "p", next, pinned, pinned.count())
    if (dels.files.isEmpty) return 0
    val entries = dels.files.map { f =>
      DeleteFile(f, Seq(PosFileCol, PosPosCol), next, dels.footers(f).rows,
        dels.footers(f).cols, kind = DeleteFile.Positional)
    }
    SnapshotChange.commit(tableDir, current, SnapshotChange.Change(
      "mor-delete-pos", addDeletes = entries), SnapshotChange.Rebase)
    dels.rowCount
  }

  /** Shared commit: write the delete-key parquet (plus optionally the
    * upsert data files), collect footer stats, publish one snapshot.
    * Conflicts rebase optimistically ([[SnapshotChange.Rebase]]):
    * the entry's sequence number is PRESERVED across the rebase, so it
    * keeps applying exactly to the data files of the snapshot the keys
    * were computed from and never to rows a racer appended concurrently
    * (snapshot isolation). Racing rewrites do not commute and fail. */
  private def commitDelete(
      spark: SparkSession,
      tableDir: Path,
      keys: DataFrame,
      appendData: Option[DataFrame]): Long = {
    val current = TableMetadata.load(tableDir)
    val schema = current.schema
    val keyCols = keys.columns.toSeq
    require(keyCols.nonEmpty, "equality delete needs at least one key column")
    keyCols.foreach { k =>
      require(schema.fieldNames.contains(k), s"no such column: $k (schema: ${
        schema.fieldNames.mkString(", ")})")
    }
    val kSchema = keySchema(schema, keyCols)
    val casted = keys.select(kSchema.fields.map(f =>
      keys.col(f.name).cast(f.dataType).as(f.name)).toIndexedSeq: _*)

    val next = current.version + 1
    // the delete-key parquet: usually tiny relative to the data it
    // logically removes — one sorted file keeps every reader's
    // anti-join build side one footer + one broadcast; a key set past
    // the single-file ceiling fans out to range-sorted files instead
    // of serializing through one write task. Nothing matched stages
    // nothing: no entry publishes, and an upsert-shaped call with an
    // empty key batch still publishes its appended rows below.
    val pinnedKeys = casted.pinned
    val dels = CommitFiles.writeDeletes(spark, tableDir, "d", next, pinnedKeys, pinnedKeys.count())
    if (dels.files.isEmpty && appendData.isEmpty) return 0
    val entries = dels.files.map { f =>
      DeleteFile(f, keyCols, next, dels.footers(f).rows, dels.footers(f).cols,
        paired = appendData.isDefined)
    }

    // optional upsert data files, written before the single commit,
    // under the same layout contract as the morupd path above
    val data = appendData.fold(CommitFiles.Staged.empty)(rows => CommitFiles.writeData(
      spark, tableDir, schema, current.properties,
      CommitFiles.dataRel(current.properties, next, "upsert"), rows,
      CommitFiles.byPartition(current.partitionColumns)))

    val op = if (appendData.isDefined) "mor-upsert" else "mor-delete"
    SnapshotChange.commit(tableDir, current, SnapshotChange.Change(
      op, staged = data, addDeletes = entries), SnapshotChange.Rebase)
    if (appendData.isDefined) data.rowCount else dels.rowCount
  }

  /** Fold pending deletes into the data: rewrite ONLY the dirty files
    * (those with ≥1 applicable entry) through the merging read, carry
    * every clean file by reference, drop all delete entries. Restores
    * join-free scans at cost proportional to the files the deletes
    * actually touch — the targeted alternative to a full compact.
    * Returns the number of files rewritten. */
  def materializeDeletes(
      spark: SparkSession,
      catalog: String,
      namespace: Seq[String],
      table: String): Int = {
    val lt = Maintenance.lakehouseTable(spark, catalog, namespace, table)
    val dir = lt.tableDir
    val current = TableMetadata.load(dir)
    if (current.deleteFiles.isEmpty) return 0
    val dirty = current.files.filter(f => applicable(current, f).nonEmpty)
    // every entry dies: dirty files are rewritten through the merging
    // read; with none dirty (stats-proven cleanliness everywhere) the
    // commit is metadata-only
    val mat =
      if (dirty.isEmpty) CommitFiles.Staged.empty
      else CommitFiles.writeData(spark, dir, current.schema, current.properties,
        // a bucketed table's dirty files re-bucket: the inputs were
        // bucket-addressable, so the rewrite's outputs stay so
        CommitFiles.dataRel(current.properties, current.version + 1, "materialize"),
        read(spark, dir, current, dirty))
    SnapshotChange.commit(dir, current, SnapshotChange.Change("materialize-deletes",
      staged = mat, removed = dirty.toSet, removedDeletes = current.deleteFiles.toSet),
      SnapshotChange.Rebase)
    dirty.size
  }

  /** Consolidate pending delete entries WITHOUT touching any data file
    * (Iceberg's `rewrite_position_delete_files` shape) — the cheap
    * standing-maintenance complement to [[materializeDeletes]]: a table
    * receiving continuous CDC-sized MERGE/DELETE commits accumulates
    * one tiny delete parquet per commit, and every dirty-file read pays
    * one anti-join build side per entry GROUP. Folding N such entries
    * into one (or a few range-sorted) files restores the single-build
    * read plan at the cost of rewriting only the delete tuples —
    * kilobytes, not the 100 TB the data-file rewrite would touch.
    *
    * Merge safety derives from the applicability law
    * (`entry.seq > fileSeq(f)`, [[applicable]]) — a merged entry must
    * delete exactly the rows its inputs did:
    *
    *  - POSITIONAL entries merge unconditionally with
    *    `seq = max(inputs)`. Tuples name exact (file, row) targets and
    *    data paths are commit-unique ([[relPathOfScanned]]), so a
    *    named file still present always has fileSeq below the naming
    *    entry's seq (≤ max); files the merged entry newly "covers" by
    *    seq are never named by any tuple, making the fold a no-op
    *    there (path-range pruning usually proves them clean without
    *    even reading the tuples).
    *  - EQUALITY entries match by VALUE, so merging across a data
    *    commit would break the re-insert exemption: a row (re)inserted
    *    between two deletes must survive the earlier one. Only entries
    *    whose seq exceeds EVERY current data file's seq are merged —
    *    each such input applies to all current files, hence so does
    *    the merged entry (and for any future file both are equally
    *    inapplicable). Entries below that bar are left untouched.
    *
    * The superseded delete parquets stay on disk for time travel until
    * [[Maintenance.vacuum]] reaps them like any unreferenced file.
    * Returns the net reduction in entry count (0 = nothing mergeable). */
  def consolidateDeletes(
      spark: SparkSession,
      catalog: String,
      namespace: Seq[String],
      table: String): Int = {
    val lt = Maintenance.lakehouseTable(spark, catalog, namespace, table)
    consolidateDeletesAt(spark, lt.tableDir)
  }

  /** Attach deletion-vector sidecars ([[DeletionVectors]]) to existing
    * positional delete entries that lack one — the standalone face of
    * what consolidation does for merged groups, so a table with a
    * SINGLE positional entry (one MERGE) also gets the join-free
    * merged read. Entries above the size cap are left alone (their
    * vector would not be broadcastable; compaction is the right tool
    * there). Metadata-only commit; the tuple parquets stay
    * authoritative. Returns the number of entries vectorized. */
  def vectorizeDeletes(spark: SparkSession, tableDir: Path): Int = {
    val current = TableMetadata.load(tableDir)
    val cap = spark.conf.getOption(DeletionVectors.MaxPositionsConf)
      .map(_.toLong).getOrElse(DeletionVectors.DefaultMaxPositions)
    def wants(d: DeleteFile): Boolean =
      d.isPositional && d.vector.isEmpty && d.rows <= cap
    if (!current.deleteFiles.exists(wants(_))) return 0
    val next = current.version + 1
    var n = 0
    val updated = current.deleteFiles.map { d =>
      if (!wants(d)) d
      else {
        val positions = spark.read.schema(posKeySchema)
          .parquet(tableDir.resolve(d.path).toString)
          .collect().groupBy(_.getString(0))
          .map { case (f, rows) => f -> rows.map(_.getLong(1)).distinct.sorted }
        val rel = CommitFiles.deleteRel("dv", next) + ".bin"
        DeletionVectors.write(tableDir, rel, positions)
        n += 1
        d.copy(vector = rel)
      }
    }
    val changed = current.deleteFiles.zip(updated).filter { case (d, u) => d ne u }
    SnapshotChange.commit(tableDir, current, SnapshotChange.Change("vectorize-deletes",
      removedDeletes = changed.map(_._1).toSet, addDeletes = changed.map(_._2)),
      SnapshotChange.Rebase)
    n
  }

  def consolidateDeletesAt(spark: SparkSession, tableDir: Path): Int = {
    val current = TableMetadata.load(tableDir)
    if (current.deleteFiles.size < 2) return 0
    val maxFileSeq = current.files.map(current.seqOf).foldLeft(0)(math.max)
    val (pos, eq) = current.deleteFiles.partition(_.isPositional)
    val posGroups: Seq[Seq[DeleteFile]] = if (pos.size >= 2) Seq(pos) else Seq.empty
    val eqGroups: Seq[Seq[DeleteFile]] = eq.groupBy(_.keyColumns).values.toSeq
      .map(_.filter(_.seq > maxFileSeq))
      .filter(_.size >= 2)
    val groups = posGroups ++ eqGroups
    if (groups.isEmpty) return 0

    val next = current.version + 1
    def abs(f: String): String = tableDir.resolve(f).toString
    val perGroup: Seq[(Seq[DeleteFile], Seq[DeleteFile])] = groups.map { group =>
      val isPos = group.head.isPositional
      val keyCols = if (isPos) Seq(PosFileCol, PosPosCol) else group.head.keyColumns
      val sch = if (isPos) posKeySchema else keySchema(current.schema, keyCols)
      // distinct is semantics-preserving: positional targets are exact
      // (file, pos) identities, equality matching is set membership,
      // and every entry in the group applies to the same file set
      val tuples = spark.read.schema(sch)
        .parquet(group.map(e => abs(e.path)): _*).distinct().pinned
      val n = tuples.count()
      val dels = CommitFiles.writeDeletes(spark, tableDir, "d", next, tuples, n)
      val seq = group.map(_.seq).max
      // positional groups under the size cap ALSO get a deletion-vector
      // sidecar: the merged read then filters by codegen'd binary
      // search instead of anti-joining (DeletionVectors) — read-amp
      // polish bounded so the vector stays broadcastable
      val dvCap = spark.conf.getOption(DeletionVectors.MaxPositionsConf)
        .map(_.toLong).getOrElse(DeletionVectors.DefaultMaxPositions)
      val vectorRel =
        if (!isPos || n > dvCap) ""
        else {
          val positions = tuples.collect()
            .groupBy(_.getString(0))
            .map { case (f, rows) => f -> rows.map(_.getLong(1)).sorted }
          val vRel = CommitFiles.deleteRel("dv", next) + ".bin"
          DeletionVectors.write(tableDir, vRel, positions)
          vRel
        }
      group -> dels.files.map { f =>
        DeleteFile(f, keyCols, seq, dels.footers(f).rows, dels.footers(f).cols,
          kind = group.head.kind,
          paired = group.exists(_.paired),
          // record merge provenance (original entry paths, flattened
          // through re-consolidation): rebase guards use it to tell this
          // metadata rewrite apart from a genuine concurrent deletion
          components = group.flatMap(_.rowPaths).distinct,
          vector = vectorRel)
      }
    }
    // consolidation must actually consolidate PER GROUP: a merged tuple
    // set past the fan-out ceiling can write MORE entry files than it
    // replaces (two ~1e9-tuple entries → thousands of range-partitioned
    // files). Such a group keeps its original entries — committing the
    // fan-out would multiply every reader's entry list in the name of
    // reducing it — and its staged files are removed (vacuum would reap
    // them anyway).
    val (wins, losses) = perGroup.partition { case (g, merged) => merged.size < g.size }
    losses.foreach { case (_, merged) =>
      merged.map(_.path.split('/').init.mkString("/")).distinct
        .foreach(rel => Fs.deleteRecursively(tableDir.resolve(rel)))
    }
    if (wins.isEmpty) return 0
    val doomed = wins.flatMap(_._1).toSet
    val mergedEntries = wins.flatMap(_._2)
    SnapshotChange.commit(tableDir, current, SnapshotChange.Change("consolidate-deletes",
      removedDeletes = doomed, addDeletes = mergedEntries), SnapshotChange.Rebase)
    current.deleteFiles.count(doomed.contains) - mergedEntries.size
  }
}
