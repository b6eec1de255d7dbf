package graft.catalog

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The `cat.db.tbl.changes` metadata table: the table's row-level
  * changelog as a STREAMING source (Iceberg changelog scan / Delta CDF,
  * served as a computed stream instead of stored delta files). Schema =
  * the base table's columns plus `_change_type` ('insert' | 'delete')
  * and `_commit_version`.
  *
  * Where the plain table stream fails fast on a merge-on-read delete
  * commit (it cannot retract already-emitted rows — the append-only
  * contract), a `.changes` stream READS THROUGH it: each micro-batch
  * covers a window of snapshot versions and emits the window's net
  * row changes from [[Maintenance.changelogBetweenAt]] — upserts arrive
  * as delete+insert pairs, compactions cancel to nothing. That makes a
  * table fed by the CDC upsert sink consumable by a downstream stream
  * (the two compose instead of the reader dying on the writer's first
  * delete entry).
  *
  * Mechanics: a micro-batch's change rows are a computed multi-join
  * plan, not a file list, so each planned window is materialized ONCE
  * to parquet under `metadata/changelog/` and the batch's partitions
  * are served from those files — deterministic replay across driver
  * restarts (the same offsets re-read the same staged window; a
  * half-written window is overwritten), cleaned up as offsets commit.
  * Cost per batch is proportional to the files the window's commits
  * touched, never table size.
  *
  * Options: `startingVersion` (default 0 = replay the table's whole
  * retained history as changes), `maxVersionsPerTrigger` (bound the
  * commits one micro-batch absorbs, as for the plain stream), and
  * `spanSchemaChanges` (default false = fail fast at a DDL commit
  * with the actionable restart bound; true = split each window at
  * schema-change commits and project every epoch to the REQUEST-TIME
  * schema — later-added columns read as null in earlier epochs,
  * dropped columns vanish — the Iceberg changelog-scan contract for
  * long-lived CDC consumers).
  */
class ChangesTable(
    spark: SparkSession,
    identName: String,
    tableDir: Path,
    baseSchema: StructType)
  extends Table with SupportsRead {

  private val changesSchema = StructType(baseSchema.fields ++ Seq(
    StructField("_change_type", StringType, nullable = false),
    StructField("_commit_version", IntegerType, nullable = false)))

  override def name(): String = identName
  override def schema(): StructType = changesSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = changesSchema
        override def description(): String = s"GraftChangelogScan $identName"
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new ChangelogMicroBatchStream(
            spark, identName, tableDir, changesSchema, checkpointLocation, options)
        /** Batch face: `SELECT * FROM t.changes` = the full retained
          * changelog (0, current], materialized once per current
          * version under `metadata/changelog/batch/` (sibling windows
          * reaped on the next staging only past an age gate — a fresh
          * sibling may be serving a concurrent query). Options
          * `startingVersion` / `endingVersion` narrow the window. */
        override def toBatch: org.apache.spark.sql.connector.read.Batch = {
          val cur = TableMetadata.load(tableDir).version
          val fromV = Option(options.get("startingVersion")).map(_.toInt).getOrElse(0)
          val toV = Option(options.get("endingVersion")).map(_.toInt).getOrElse(cur)
          val stage = new ChangelogStaging(
            spark, identName, tableDir, changesSchema,
            tableDir.resolve("metadata").resolve("changelog").resolve("batch"), options)
          stage.scanOver(stage.stageWindow(fromV, toV, reapSiblings = true)).toBatch
        }
      }
    }
}

/** Shared window-materialization mechanics for the `.changes` batch
  * and streaming faces: a changelog window is a computed multi-join
  * plan, so it is staged ONCE to parquet (idempotent — a complete dir
  * is reused verbatim, a half-written one overwritten) and partitions
  * are served from the staged files. */
private[catalog] class ChangelogStaging(
    spark: SparkSession,
    identName: String,
    tableDir: Path,
    changesSchema: StructType,
    stagingRoot: Path,
    options: CaseInsensitiveStringMap) {

  private val WindowDir = "w(\\d+)-(\\d+)(-span)?".r

  private[catalog] val spanSchemaChanges: Boolean =
    Option(options.get("spanSchemaChanges")).exists(_.toBoolean)

  def stageWindow(fromV: Int, toV: Int, reapSiblings: Boolean = false): Seq[Path] = {
    if (fromV >= toV) return Seq.empty
    // span-projected windows stage under a distinct key: a window
    // staged with epoch projection must never be served to a default
    // (fail-fast) read of the same version range, and vice versa
    val dir = stagingRoot.resolve(
      if (spanSchemaChanges) s"w$fromV-$toV-span" else s"w$fromV-$toV")
    if (reapSiblings && Files.isDirectory(stagingRoot)) {
      // age-gated: a sibling window may belong to a CONCURRENT batch
      // query (the table advanced between two reads) whose tasks are
      // still reading its staged parquet — deleting it mid-execution
      // fails them with missing files. A fresh mtime marks a window
      // plausibly in use; past the TTL it is an abandoned staging of a
      // finished query and safe to reclaim.
      val cutoff = System.currentTimeMillis() - ChangelogStaging.BatchReapTtlMs
      Fs.children(stagingRoot).iterator
        .filter(d => d.getFileName.toString match {
          case WindowDir(_, _, _) =>
            d != dir && Files.getLastModifiedTime(d).toMillis < cutoff
          case _ => false
        })
        .foreach { d =>
          Fs.deleteRecursively(d)
        }
    }
    val success = dir.resolve("_SUCCESS")
    if (!Files.exists(success)) {
      CommitFiles.write(windowDf(fromV, toV), dir, overwrite = true)
    }
    if (!Files.isDirectory(dir)) return Seq.empty
    Fs.children(dir).iterator
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq.sortBy(_.toString)
  }

  /** The window's change rows. With `spanSchemaChanges`, the window
    * splits into maximal same-schema epochs (changelogBetweenAt's
    * contract) and every epoch projects to the request-time schema:
    * columns the epoch lacks read as typed nulls, columns since
    * dropped vanish, type changes cast. */
  private def windowDf(fromV: Int, toV: Int): org.apache.spark.sql.DataFrame = {
    if (!spanSchemaChanges)
      return Maintenance.changelogBetweenAt(spark, tableDir, fromV, toV)
    import org.apache.spark.sql.functions.lit
    val win = TableMetadata.loadLog(tableDir)
      .filter(m => m.version > fromV && m.version <= toV)
    val epochs = win.foldLeft(Vector.empty[Vector[TableMetadata]]) { (acc, m) =>
      if (acc.nonEmpty && acc.last.last.schema == m.schema) acc.init :+ (acc.last :+ m)
      else acc :+ Vector(m)
    }
    if (epochs.isEmpty)
      // the retained metadata log holds no versions in (fromV, toV] —
      // expired history (or an empty window). Delegate to the non-span
      // path, which answers the empty window and raises the actionable
      // expired-history diagnostic otherwise, instead of empty.reduce
      return Maintenance.changelogBetweenAt(spark, tableDir, fromV, toV)
    epochs.map { run =>
      val df = Maintenance.changelogBetweenAt(
        spark, tableDir, run.head.version - 1, run.last.version)
      df.select(changesSchema.fields.map { f =>
        if (df.columns.contains(f.name)) df.col(f.name).cast(f.dataType).as(f.name)
        else lit(null).cast(f.dataType).as(f.name)
      }.toIndexedSeq: _*)
    }.reduce(_.unionByName(_))
  }

  /** Fail-fast guard for windows that span a schema change when
    * projection is not opted into — shared by the stream's
    * initialOffset AND planInputPartitions: a restart from an existing
    * checkpoint skips initialOffset, and without the plan-time check
    * the stream would wedge retrying the window changelogBetweenAt
    * refuses. */
  def requireNoSchemaSpan(fromV: Int, toV: Int): Unit = {
    if (spanSchemaChanges) return
    // window-scoped: read only the (fromV, toV] version files — a full
    // loadLog here would add O(table history) metadata I/O to EVERY
    // micro-batch plan of a long-lived stream. A version file missing
    // from the window (expired history) is left for staging to
    // diagnose with its own actionable error.
    var firstSchema: org.apache.spark.sql.types.StructType = null
    var v = fromV + 1
    while (v <= toV) {
      val f = TableMetadata.versionFile(tableDir, v)
      // an expire tombstone is the same situation as a missing file:
      // expired history, left for staging to diagnose
      val parsed =
        if (!Files.exists(f)) None
        else try Some(TableMetadata.fromJson(Files.readString(f)))
        catch { case _: ExpiredVersionException => None }
      parsed.foreach { m =>
        if (firstSchema == null) firstSchema = m.schema
        else if (m.schema != firstSchema)
          throw new IllegalArgumentException(
            s"$identName: schema changed at v$v; a changelog stream cannot span " +
              s"it. Set .option(\"startingVersion\", \"$v\") (or later), or " +
              ".option(\"spanSchemaChanges\", \"true\") to project earlier epochs to " +
              "the current schema")
      }
      v += 1
    }
  }

  /** Windows whose end is at or below `endV` can never be needed again. */
  def reapThrough(endV: Int): Unit = {
    if (!Files.isDirectory(stagingRoot)) return
    Fs.children(stagingRoot).iterator
      .filter { d =>
        d.getFileName.toString match {
          case WindowDir(_, to, _) => to.toInt <= endV
          case _ => false
        }
      }
      .foreach { d =>
        Fs.deleteRecursively(d)
      }
  }

  def scanOver(files: Seq[Path]): Scan = ScanFiles.parquet(
    spark, identName, options, files.map(_.toString), changesSchema, changesSchema)
}

private[catalog] object ChangelogStaging {
  /** Batch-face sibling reap age gate: a staged window younger than
    * this may be serving a concurrently executing query. */
  val BatchReapTtlMs: Long = 60L * 60L * 1000L
}

/** Micro-batch stream over the computed changelog; offsets are table
  * metadata versions, exactly as [[LakehouseMicroBatchStream]]. */
class ChangelogMicroBatchStream(
    spark: SparkSession,
    identName: String,
    tableDir: Path,
    changesSchema: StructType,
    checkpointLocation: String,
    options: CaseInsensitiveStringMap)
  extends MicroBatchStream with SupportsAdmissionControl with SupportsTriggerAvailableNow {

  // staging namespace per stream (checkpoint-keyed): two concurrent
  // streams over one table never share or reap each other's windows
  private val staging = new ChangelogStaging(
    spark, identName, tableDir, changesSchema,
    tableDir.resolve("metadata").resolve("changelog")
      .resolve(java.lang.Integer.toHexString(checkpointLocation.hashCode)),
    options)
  private val readerFactory = new FirstScanFactory

  @volatile private var availableNowCap: Option[Int] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(TableMetadata.load(tableDir).version)

  override def initialOffset(): Offset = {
    val start = Option(options.get("startingVersion")).map(_.toInt).getOrElse(0)
    // A window spanning a schema change has no single output schema
    // unless spanSchemaChanges projects the epochs; changelogBetween
    // refuses it, and a stream that plans one would retry the same
    // window forever. Fail AT START with the actionable bound instead
    // of wedging later.
    staging.requireNoSchemaSpan(start, TableMetadata.load(tableDir).version)
    VersionOffset(start)
  }

  override def latestOffset(): Offset =
    VersionOffset(availableNowCap.getOrElse(TableMetadata.load(tableDir).version))

  private val maxVersionsPerTrigger: Option[Int] =
    Option(options.get("maxVersionsPerTrigger")).map(_.toInt)

  override def latestOffset(startOffset: Offset, limit: ReadLimit): Offset = {
    val start = startOffset.asInstanceOf[VersionOffset].version
    val cap = availableNowCap.getOrElse(TableMetadata.load(tableDir).version)
    VersionOffset(maxVersionsPerTrigger match {
      case Some(m) if m > 0 => math.min(cap, start + m)
      case _ => cap
    })
  }

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def reportLatestOffset(): Offset =
    VersionOffset(TableMetadata.load(tableDir).version)

  override def deserializeOffset(json: String): Offset = VersionOffset(json.toInt)

  /** Offsets up to `end` are durable in the checkpoint: their staged
    * windows can never be replanned — reap them. */
  override def commit(end: Offset): Unit =
    staging.reapThrough(end.asInstanceOf[VersionOffset].version)

  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val fromV = start.asInstanceOf[VersionOffset].version
    val toV = end.asInstanceOf[VersionOffset].version
    // restart path: a checkpointed offset predating a later schema
    // change skips initialOffset's guard — re-check the actual window
    // here so the stream fails actionably instead of wedging in the
    // stage-window retry loop
    staging.requireNoSchemaSpan(fromV, toV)
    val files = staging.stageWindow(fromV, toV)
    readerFactory.plan(staging.scanOver(files))
  }

  override def createReaderFactory(): PartitionReaderFactory = readerFactory.get
}
