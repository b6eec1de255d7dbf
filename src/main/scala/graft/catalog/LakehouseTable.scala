package graft.catalog

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.connector.catalog.{SupportsDelete, SupportsRead, SupportsRowLevelOperations, SupportsWrite, Table, TableCapability}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, RowLevelOperationBuilder, RowLevelOperationInfo, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.functions.{col, input_file_name, lit, not, coalesce, substring_index}
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.InsertableRelation
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A lakehouse table: a directory of immutable Parquet data files plus a
  * JSON metadata/snapshot log (see [[TableMetadata]]).
  *
  * Read path delegates to Spark's own DSv2 Parquet table over the
  * current snapshot's file list, so vectorized reads, filter pushdown,
  * column pruning and row-group skipping are all inherited, not
  * re-implemented (the same move the reference makes by delegating its
  * scans to Spark+Iceberg, `SURVEY.md` §4).
  *
  * Write path is a V1 fallback: Spark resolves and ANSI-casts the input
  * to the table schema (the reference's observable double→FLOAT /
  * int→FLOAT coercion, `pyspark_jobs/iceberg_table_creation.py:81-85`),
  * then `insert` lands Parquet files in a fresh per-commit directory and
  * publishes them with an atomic metadata swap. Files are never
  * rewritten in place, so concurrent readers keep a consistent snapshot
  * — the property that matters once a table is 100 TB and always being
  * read.
  */
class LakehouseTable(
    spark: SparkSession,
    identName: String,
    val tableDir: Path,
    metaArg: TableMetadata,
    /** True when `meta` is a pinned historical/branch snapshot (VERSION/
      * TIMESTAMP AS OF, branch reads) rather than the table's current
      * head. Constraint-driven rewrites ([[ConstraintOptimization]])
      * must decline pinned relations: RELY declarations assert facts
      * about the LIVE table pair (an FK's referenced keys may not exist
      * in an old snapshot), so exploiting them across snapshots would
      * silently change time-travel results. */
    val pinned: Boolean = false)
  extends Table with SupportsRead with SupportsWrite with SupportsDelete
    with SupportsRowLevelOperations
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {

  /** The O(refs) version payload: schema, properties, partition
    * columns, delete entries, manifest list — everything that does NOT
    * require parsing manifest chunks. Callers already holding a
    * resolved metadata pass it here and get it back unchanged. */
  def summary: TableMetadata = metaArg

  /** FULLY-resolved metadata — on a manifest-backed summary this
    * parses every chunk, so it is lazy: the catalog serves tables from
    * [[TableMetadata.loadSummary]] and a partition-predicate scan never
    * forces this (it goes through [[TableMetadata.resolveForScan]],
    * which parses only chunks overlapping the pushed filters). Write
    * and row-level-DML paths force it; they need the complete file
    * list anyway. */
  lazy val meta: TableMetadata =
    if (TableMetadata.isSummary(metaArg))
      TableMetadata.resolve(TableMetadata.metadataDir(tableDir), metaArg)
    else metaArg

  /** The snapshot's TRUE data-file count, without forcing a resolve —
    * scan instrumentation reports (survivors, total) against it. */
  private def totalFileCount: Int =
    if (TableMetadata.isSummary(metaArg)) metaArg.manifests.map(_.count).sum
    else metaArg.files.size

  /** Row identity as a queryable metadata column (Iceberg's `_file`/
    * `_pos`, folded into one non-null struct): `SELECT _graft_row_id
    * FROM t` works anywhere, and it is the rowId the delta
    * (merge-on-read) MERGE/UPDATE/DELETE path writes into positional
    * delete entries — non-null by construction, which is what lets it
    * pass Spark's NULLABLE_ROW_ID_ATTRIBUTES check where the (nullable)
    * data key columns cannot. Served by [[PositionalRowIdScan]]. */
  override def metadataColumns(): Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(LakehouseTable.RowIdColumn)

  /** SQL MERGE INTO / UPDATE / arbitrary-predicate DELETE: group-based
    * copy-on-write at file granularity (see [[LakehouseRowLevelOperation]]). */
  override def newRowLevelOperationBuilder(info: RowLevelOperationInfo): RowLevelOperationBuilder = {
    // under graft.wap.branch only INSERT routes; running a row-level op
    // against MAIN while the session believes it targets the branch
    // would be silently wrong — refuse instead
    require(spark.conf.getOption(LakehouseTable.WapBranchConf).isEmpty,
      "MERGE/UPDATE/DELETE are not routed by graft.wap.branch — unset the conf, " +
        "or use Maintenance.morDeleteFromBranch for audit-stage cleanup")
    new LakehouseRowLevelOperationBuilder(spark, identName, tableDir, info)
  }

  override def name(): String = identName

  override def schema(): StructType = summary.schema

  /** The DDL's PARTITIONED BY, reported back: identity transforms for
    * the clustering columns plus the bucket transform when bucketed
    * and any hidden temporal/truncate transforms
    * ([[HiddenPartitioning]] — DESCRIBE shows `days(ts)` exactly as
    * declared). This is what lets SQL `INSERT OVERWRITE ... PARTITION
    * (c=v)` and dynamic partition overwrite resolve against this
    * table (identity columns only; hidden transforms are a clustering
    * + stats-pruning contract, not addressable partitions). */
  override def partitioning(): Array[org.apache.spark.sql.connector.expressions.Transform] = {
    val idents = summary.partitionColumns.map(c =>
      org.apache.spark.sql.connector.expressions.Expressions.identity(c))
    val bucket = Bucketing.specOf(summary.properties).map { case (c, n) =>
      org.apache.spark.sql.connector.expressions.Expressions.bucket(n, c)
    }
    val hidden = HiddenPartitioning.specOf(summary.properties).map(_.toV2)
    (idents ++ bucket ++ hidden).toArray
  }

  override def properties(): java.util.Map[String, String] = summary.properties.asJava

  /** The declared constraints, reported through the DSv2 constraint
    * surface (DESCRIBE shows them): CHECKs are VALID + enforced (they
    * were verified against existing rows when added); informational
    * PK/UNIQUE/FK come back NOT ENFORCED + UNVALIDATED with their RELY
    * flag ([[KeyConstraints]]) — declared intent the optimizer's
    * RELY-aware rules can use. */
  override def constraints(): Array[org.apache.spark.sql.connector.catalog.constraints.Constraint] =
    (CheckConstraints.constraintsOf(summary.properties).map { case (n, sql) =>
      org.apache.spark.sql.connector.catalog.constraints.Constraint.check(n)
        .predicateSql(sql)
        .validationStatus(
          org.apache.spark.sql.connector.catalog.constraints.Constraint.ValidationStatus.VALID)
        .build(): org.apache.spark.sql.connector.catalog.constraints.Constraint
    } ++ KeyConstraints.constraintsOf(summary.properties)).toArray

  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(
      TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.V1_BATCH_WRITE,
      TableCapability.STREAMING_WRITE,
      TableCapability.TRUNCATE,
      // no OVERWRITE_DYNAMIC: Spark has no V1 write fallback for
      // OverwritePartitionsDynamic (only append and overwrite-by-filter
      // have ExecV1 plans) — dynamic overwrite is served by
      // Maintenance.overwritePartitions / CALL system.overwrite_partitions
      TableCapability.OVERWRITE_BY_FILTER,
      // MERGE INTO ... WITH SCHEMA EVOLUTION: the analyzer
      // (ResolveMergeIntoSchemaEvolution) diffs source vs target schema
      // and routes the resulting ADD/UPDATE COLUMN TableChanges through
      // catalog.alterTable BEFORE resolving the merge — the same staged
      // DDL path as an explicit ALTER, so CHECK/generated-column
      // orphan guards and the no-rebase constraint race protection all
      // apply, and old files read the new column as its initial default
      TableCapability.AUTOMATIC_SCHEMA_EVOLUTION)

  private def abs(f: String): String = tableDir.resolve(f).toString

  /** Scan with file-level data skipping: pushed filters prune the
    * snapshot's file list against per-file min/max stats BEFORE the
    * delegate Parquet scan is built (whole files eliminated from the
    * metadata alone), then parquet row-group pushdown applies inside
    * the survivors. All filters are also reported back to Spark as
    * residuals, so skipping can never change results. */
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder
      with org.apache.spark.sql.connector.read.SupportsPushDownFilters
      with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns
      with org.apache.spark.sql.connector.read.SupportsPushDownAggregates
      with org.apache.spark.sql.connector.read.SupportsPushDownLimit {

      private var pushed: Array[org.apache.spark.sql.sources.Filter] = Array.empty
      private var required: StructType = summary.schema

      // Per-scan metadata: resolved through the manifest-list summaries
      // so a partition-predicate scan on a cold driver parses ONLY the
      // overlapping chunks (TableMetadata.resolveForScan). Skipped
      // chunks' files provably cannot match the pushed conjunction, so
      // every consumer below (prune, exact pushdown, metadata
      // aggregates, limit truncation, bloom probes) sees exactly the
      // files per-file pruning would have kept. Recomputed when the
      // pushed filters change; an unfiltered scan resolves everything.
      private var smetaCached: TableMetadata = null
      private def smeta: TableMetadata = {
        if (smetaCached == null)
          smetaCached = TableMetadata.resolveForScan(
            TableMetadata.metadataDir(tableDir), summary, pushed.toSeq)
        smetaCached
      }
      private var aggAnswer: Option[(StructType, org.apache.spark.sql.catalyst.InternalRow)] = None
      private var pushedLimit: Option[Int] = None

      // LIMIT n with no intervening filter: Spark only needs SOME n
      // rows, so the scan can stop at the first files whose recorded
      // row counts cover n — `LIMIT 10` against a 100 TB table opens
      // one file. Partial push: Spark keeps its own limit on top, so
      // over-returning from the last kept file is fine; files without
      // recorded counts simply disable truncation.
      override def pushLimit(limit: Int): Boolean = {
        pushedLimit = Some(limit)
        true
      }
      override def isPartiallyPushed(): Boolean = true

      override def pushFilters(
          filters: Array[org.apache.spark.sql.sources.Filter]): Array[org.apache.spark.sql.sources.Filter] = {
        pushed = filters
        // EXACT file-level pushdown: a filter that every file either
        // provably cannot match (pruned) or provably FULLY matches
        // (kept whole — clustered partition columns carry min==max) is
        // implemented completely by file pruning; accepting it means
        // Spark adds no per-row re-filter AND aggregates above it stay
        // pushable — `COUNT(*) WHERE p = x` on a 100 TB table becomes
        // a driver-side metadata fold, zero tasks. Everything else
        // stays residual as before (skipping remains an optimization,
        // never a correctness decision).
        smetaCached = null // filters changed: re-resolve against them
        acceptedExact = filters.filter(f =>
          FileSkipping.exactlyDecidable(smeta.files, smeta.fileStats, smeta.schema, f)).toSet
        filters.filterNot(acceptedExact) // residual: Spark re-applies post-scan
      }
      override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] = pushed
      override def pruneColumns(requiredSchema: StructType): Unit =
        required = requiredSchema

      private var acceptedExact: Set[org.apache.spark.sql.sources.Filter] = Set.empty

      // Global COUNT/MIN/MAX answered from snapshot metadata — a
      // driver-side fold over per-file stats instead of a scan (see
      // [[MetadataAggregates]]). Complete pushdown: the returned row IS
      // the final answer, so the plan collapses to a LocalTableScan.
      // Allowed when every pushed filter was ACCEPTED exactly (file
      // pruning implements it completely, so the surviving files' rows
      // are the filter's result); any residual filter means the
      // aggregate must see real rows.
      private def tryAnswer(
          agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation) =
        if (!pushed.forall(acceptedExact) ||
          // pending merge-on-read deletes: recorded counts/ranges count
          // rows the merging read will subtract
          MergeOnRead.anyApplicable(smeta, smeta.files)) None
        else {
          val survivors =
            FileSkipping.prune(smeta.files, smeta.fileStats, smeta.schema, pushed.toSeq)
          MetadataAggregates.answer(smeta.copy(files = survivors), agg)
        }

      override def supportCompletePushDown(
          agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
        tryAnswer(agg).isDefined

      override def pushAggregation(
          agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
        aggAnswer = tryAnswer(agg)
        aggAnswer.isDefined
      }

      override def build(): org.apache.spark.sql.connector.read.Scan = {
        // the positional row-identity metadata column takes a dedicated
        // scan (per-file partitions + parquet row-index generation);
        // aggregate/limit pushdown never co-occur with it
        if (required.fieldNames.contains(LakehouseTable.RowIdColName))
          return new PositionalRowIdScan(
            spark, identName, tableDir, meta, required, pushed, options)
        aggAnswer match {
          case Some((aggSchema, row)) =>
            LakehouseTable.lastScanFileCounts.set((0, totalFileCount))
            return new org.apache.spark.sql.connector.read.LocalScan {
              override def readSchema(): StructType = aggSchema
              override def rows(): Array[org.apache.spark.sql.catalyst.InternalRow] = Array(row)
              override def description(): String =
                s"GraftMetadataAggregate ${aggSchema.fieldNames.mkString(", ")}"
            }
          case None => ()
        }
        val filterSurvivors = ScanFiles.prune(tableDir, smeta, smeta.files, pushed.toSeq)
        // LIMIT truncation: cumulative recorded row counts cover the
        // limit → later files can never be needed. Spark only pushes a
        // limit this far when no residual filter remains — i.e. a
        // filterless scan, or one whose filters were all accepted
        // exactly (file pruning implements them completely, so the
        // survivors' counts are counts of MATCHING rows).
        val survivors = (pushedLimit, pushed.forall(acceptedExact)) match {
          case (Some(n), true)
              if Bucketing.specOf(smeta.properties).isEmpty && // keep bucket↔file map whole
                filterSurvivors.forall(smeta.fileRows.contains) &&
                // recorded counts overcount rows a merging read deletes:
                // truncating on them could return fewer than n rows.
                // smeta, not meta: the lazy full resolve would parse
                // every chunk on exactly the LIMIT-10-opens-one-file
                // scan this branch exists for (delete entries and the
                // survivors' seqs are all in smeta)
                !MergeOnRead.anyApplicable(smeta, filterSurvivors) =>
            val cumBefore = filterSurvivors.map(smeta.fileRows).scanLeft(0L)(_ + _)
            filterSurvivors.zip(cumBefore).takeWhile(_._2 < n).map(_._1)
          case _ => filterSurvivors
        }
        val limitTruncated = survivors.size != filterSurvivors.size
        LakehouseTable.lastScanFileCounts.set((survivors.size, totalFileCount))
        def delegateOver(files: Seq[String]) = ScanFiles.parquet(
          spark, identName, options, files.map(abs), smeta.schema, required, pushed)
        val delegate = delegateOver(survivors)
        val bucketPlan = ScanFiles.bucketPlan(spark, smeta, required, survivors)
        // Wrap only to add the streaming entry point and bucket
        // partitioning; every other batch-path method forwards to the
        // delegate parquet scan untouched — including its size
        // statistics, which AQE/join planning reads for broadcast
        // decisions (hiding them would silently disable broadcast
        // joins over lakehouse tables).
        new org.apache.spark.sql.connector.read.Scan
          with org.apache.spark.sql.connector.read.SupportsReportStatistics
          with org.apache.spark.sql.connector.read.SupportsReportPartitioning
          with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering {

          // Runtime file skipping: a selective broadcast-side join on a
          // partition or bloom-indexed column hands its matched values
          // here AFTER the build side runs, and whole fact files drop
          // before a single task reads them — on a 1000-executor join
          // of a day's dim slice against a 100 TB fact table, the
          // difference between scanning the table and scanning the
          // day. Disabled on bucketed scans (the bucket→file mapping is
          // the partitioning contract there).
          private var runtimeSurvivors: Seq[String] = survivors

          override def filterAttributes():
              Array[org.apache.spark.sql.connector.expressions.NamedReference] =
            if (bucketPlan.isDefined || limitTruncated) Array.empty
            else ScanFiles.runtimeFilterColumns(smeta, required)

          override def filter(
              predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit =
            runtimeSurvivors = ScanFiles.runtimePrune(
              tableDir, smeta, runtimeSurvivors, predicates, totalFileCount)

          override def outputPartitioning():
              org.apache.spark.sql.connector.read.partitioning.Partitioning =
            bucketPlan.map(_.partitioning).getOrElse(
              new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(0))
          override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics = {
            val base = delegate.estimateStatistics()
            // layer ANALYZE results (TableStats) over the delegate's
            // size estimate: row count when the format can't know it,
            // and per-column ndv/null stats for CBO join reordering
            // (DataSourceV2Relation.transformV2Stats maps them onto
            // catalyst attributes by name when CBO is enabled)
            // scale the analyzed row count by the file-pruning ratio so
            // a skip-heavy scan doesn't report the full table to CBO
            // (double math: n * survivors would overflow Long first)
            val ratio =
              if (totalFileCount == 0) 0.0
              else survivors.size.toDouble / totalFileCount
            val analyzedRows = TableStats.numRows(smeta.properties)
              .map(n => (n * ratio).toLong)
            // keep the per-column stats consistent with the scaled row
            // count: nullCount scales linearly, ndv caps at the rows
            // (ndv > rowCount or nullCount > rowCount would feed CBO
            // impossible selectivities on exactly the pruned scans)
            val colStats = TableStats.columnStats(smeta.properties, smeta.schema)
              .map { case (c, st) =>
                c -> (new org.apache.spark.sql.connector.read.colstats.ColumnStatistics {
                  override def distinctCount(): java.util.OptionalLong =
                    (st.distinctCount().isPresent, analyzedRows) match {
                      case (true, Some(rows)) => java.util.OptionalLong.of(
                        math.min(st.distinctCount().getAsLong, math.max(rows, 1L)))
                      case _ => st.distinctCount()
                    }
                  override def nullCount(): java.util.OptionalLong =
                    if (st.nullCount().isPresent)
                      java.util.OptionalLong.of((st.nullCount().getAsLong * ratio).toLong)
                    else st.nullCount()
                  override def avgLen(): java.util.OptionalLong = st.avgLen()
                  override def maxLen(): java.util.OptionalLong = st.maxLen()
                  // value-domain stats don't scale with pruning: a
                  // pruned scan still draws from the same min/max and
                  // distribution shape (conservatively unchanged)
                  override def min(): java.util.Optional[Object] = st.min()
                  override def max(): java.util.Optional[Object] = st.max()
                  override def histogram(): java.util.Optional[
                      org.apache.spark.sql.connector.read.colstats.Histogram] =
                    st.histogram()
                })
              }
            if (analyzedRows.isEmpty && colStats.isEmpty) base
            else new org.apache.spark.sql.connector.read.Statistics {
              override def sizeInBytes() = base.sizeInBytes()
              override def numRows() =
                if (base.numRows().isPresent) base.numRows()
                else analyzedRows.map(java.util.OptionalLong.of)
                  .getOrElse(java.util.OptionalLong.empty())
              override def columnStats(): java.util.Map[
                  org.apache.spark.sql.connector.expressions.NamedReference,
                  org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
                val m = new java.util.HashMap[
                  org.apache.spark.sql.connector.expressions.NamedReference,
                  org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
                colStats.foreach { case (c, st) =>
                  m.put(org.apache.spark.sql.connector.expressions.Expressions.column(c), st)
                }
                m
              }
            }
          }
          override def readSchema(): StructType = delegate.readSchema()
          override def description(): String = delegate.description()
          override def toBatch: org.apache.spark.sql.connector.read.Batch = {
            ScanFiles.requireMerged(identName, smeta, options)
            bucketPlan match {
              case None if runtimeSurvivors.size != survivors.size =>
                // runtime filters narrowed the file list after the
                // delegate was built: rebuild it over the survivors
                delegateOver(runtimeSurvivors).toBatch
              case None => delegate.toBatch
              case Some(plan) =>
                new org.apache.spark.sql.connector.read.Batch {
                  private val inner = delegate.toBatch
                  override def planInputPartitions():
                      Array[org.apache.spark.sql.connector.read.InputPartition] =
                    (0 until plan.count).map { i =>
                      val pfs = plan.byBucket.getOrElse(i, Seq.empty).map { f =>
                        val p = tableDir.resolve(f)
                        org.apache.spark.sql.execution.datasources.PartitionedFile(
                          org.apache.spark.sql.catalyst.InternalRow.empty,
                          org.apache.spark.paths.SparkPath.fromPathString(p.toString),
                          0L, Files.size(p), Array.empty[String], 0L, Files.size(p),
                          Map.empty)
                      }.toArray
                      new LakehouseTable.BucketFilePartition(i, pfs, Bucketing.partitionKey(i))
                        : org.apache.spark.sql.connector.read.InputPartition
                    }.toArray
                  override def createReaderFactory():
                      org.apache.spark.sql.connector.read.PartitionReaderFactory =
                    inner.createReaderFactory()
                }
            }
          }
          override def columnarSupportMode():
              org.apache.spark.sql.connector.read.Scan.ColumnarSupportMode =
            delegate.columnarSupportMode()
          override def supportedCustomMetrics():
              Array[org.apache.spark.sql.connector.metric.CustomMetric] =
            delegate.supportedCustomMetrics()
          override def reportDriverMetrics():
              Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
            delegate.reportDriverMetrics()
          override def toMicroBatchStream(checkpointLocation: String):
              org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
            new LakehouseMicroBatchStream(
              spark, identName, tableDir, summary.schema, required, options)
        }
      }
    }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder
      with org.apache.spark.sql.connector.write.SupportsOverwrite
      with org.apache.spark.sql.connector.write.SupportsDynamicOverwrite {
      // Append | Truncate | OverwriteWhere(filters) | DynamicPartitions
      private var truncateAll = false
      private var overwriteFilters: Option[Array[sources.Filter]] = None
      private var dynamicPartitions = false

      override def truncate(): WriteBuilder = { truncateAll = true; this }

      override def canOverwrite(filters: Array[sources.Filter]): Boolean =
        filters.forall(f => filterToColumn(f).isDefined)

      /** SQL `INSERT OVERWRITE ... PARTITION (c=v, ...)` (static mode):
        * rows matching the delete expression are replaced, everything
        * else carries by reference. AlwaysTrue = whole-table replace. */
      override def overwrite(filters: Array[sources.Filter]): WriteBuilder = {
        if (filters.isEmpty || filters.forall(_ == sources.AlwaysTrue())) truncateAll = true
        else overwriteFilters = Some(filters)
        this
      }

      /** Only the partitions PRESENT IN the new data are replaced.
        * Declared for completeness, but unreachable from SQL today: the
        * OVERWRITE_DYNAMIC capability is withheld (see capabilities())
        * because Spark cannot execute dynamic overwrite through a V1
        * write — Maintenance.overwritePartitionsAt is the same engine
        * this delegates to. */
      override def overwriteDynamicPartitions(): WriteBuilder = {
        dynamicPartitions = true
        this
      }

      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(rawData: DataFrame, overwriteParam: Boolean): Unit = {
              // Every batch write of new rows funnels through this one
              // InsertableRelation (INSERT, INSERT OVERWRITE): generated
              // columns are COMPUTED here (whatever the writer supplied
              // is overwritten), then CHECK constraints guard the
              // result. The loaded metadata is threaded into the commit
              // paths — one read per insert, not two.
              val cur = TableMetadata.load(tableDir)
              // WAP session routing (`graft.wap.branch`, Iceberg's
              // spark.wap.branch idiom): a plain SQL INSERT lands on
              // the audit branch — main's head never moves until
              // CALL system.fast_forward publishes. The branch must
              // already exist (auto-creating on a typo'd name would
              // silently divert ingest to a branch nobody audits).
              // Reads stay on main; audit with VERSION AS OF '<name>'.
              spark.conf.getOption(LakehouseTable.WapBranchConf) match {
                case Some(branch) =>
                  require(
                    cur.properties.contains(Maintenance.BranchPrefix + branch),
                    s"graft.wap.branch='$branch' but table $identName has no such " +
                      s"branch — CALL system.branch('<ns>', '<table>', '$branch') first")
                  require(!overwriteParam && !truncateAll &&
                      overwriteFilters.isEmpty && !dynamicPartitions,
                    "graft.wap.branch routes INSERT INTO only; INSERT OVERWRITE " +
                      "must target main (unset the conf) or use branch procedures")
                  // row-local enforcement (CHECK, generated-column
                  // computation, identity ALWAYS-refusal + NOT NULL
                  // guard, mark advance) happens INSIDE appendToBranchAt
                  // against the branch head's own declarations — the
                  // ones fast_forward will publish
                  Maintenance.appendToBranchAt(spark, tableDir, branch, rawData)
                  return
                case None =>
              }
              // identity minting after generated-column computation,
              // before CHECK enforcement (a CHECK referencing the
              // identity column sees the minted value)
              val (withIds, identBases) = IdentityColumns.assign(
                GeneratedColumns.compute(rawData, cur.schema, cur.properties),
                cur.schema, cur.properties)
              val data = CheckConstraints.enforce(withIds, cur.properties)
              if (dynamicPartitions) {
                require(identBases.isEmpty,
                  "identity columns: dynamic-partition overwrite cannot advance the " +
                    "sequence mark — use INSERT INTO / full INSERT OVERWRITE")
                Maintenance.overwritePartitionsAt(spark, tableDir, data)
              } else overwriteFilters match {
                case Some(filters) =>
                  require(identBases.isEmpty,
                    "identity columns: filtered overwrite cannot advance the " +
                      "sequence mark — use INSERT INTO / full INSERT OVERWRITE")
                  commitOverwriteWhere(data, filters, cur)
                case None =>
                  commitInsert(data, truncateAll || overwriteParam, cur, identBases)
              }
            }
          }
        // writeStream.toTable: per-epoch staged parquet + watermarked
        // atomic publish (exactly-once under micro-batch replay);
        // truncate() here = streaming `complete` mode → whole-table
        // replace per epoch. See LakehouseStreamingWrite.
        override def toStreaming:
            org.apache.spark.sql.connector.write.streaming.StreamingWrite =
          new LakehouseStreamingWrite(spark, identName, tableDir, info, truncateAll)
      }
    }

  // ---- row-level DELETE (copy-on-write) ------------------------------------

  /** sources.Filter → Column, for re-evaluating the pushed DELETE
    * predicate against file contents. Unsupported shapes → None, which
    * makes canDeleteWhere refuse (Spark then reports the DELETE as
    * unsupported rather than running it wrong). */
  private def filterToColumn(f: sources.Filter): Option[Column] = f match {
    case sources.EqualTo(a, v) => Some(col(a) === lit(v))
    case sources.EqualNullSafe(a, v) => Some(col(a) <=> lit(v))
    case sources.GreaterThan(a, v) => Some(col(a) > lit(v))
    case sources.GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case sources.LessThan(a, v) => Some(col(a) < lit(v))
    case sources.LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
    case sources.In(a, vs) => Some(col(a).isin(vs.toIndexedSeq: _*))
    case sources.IsNull(a) => Some(col(a).isNull)
    case sources.IsNotNull(a) => Some(col(a).isNotNull)
    case sources.StringStartsWith(a, v) => Some(col(a).startsWith(v))
    case sources.StringEndsWith(a, v) => Some(col(a).endsWith(v))
    case sources.StringContains(a, v) => Some(col(a).contains(v))
    case sources.And(l, r) =>
      for { a <- filterToColumn(l); b <- filterToColumn(r) } yield a && b
    case sources.Or(l, r) =>
      for { a <- filterToColumn(l); b <- filterToColumn(r) } yield a || b
    case sources.Not(c) => filterToColumn(c).map(!_)
    case sources.AlwaysTrue() => Some(lit(true))
    case sources.AlwaysFalse() => Some(lit(false))
    case _ => None
  }

  override def canDeleteWhere(filters: Array[sources.Filter]): Boolean =
    filters.forall(f => filterToColumn(f).isDefined)

  /** `DELETE FROM t WHERE ...` as copy-on-write, the Iceberg/Delta COW
    * shape: (1) file-level stats prune the file list to those that MAY
    * hold matching rows — on a 100 TB table with a selective predicate
    * that is metadata work plus a rewrite of a handful of files;
    * (2) one scan of the candidates finds the files that REALLY hold
    * matches; (3) only those are rewritten without the matching rows,
    * every untouched file is carried into the new snapshot by
    * reference. Old snapshots still see the old files (time travel
    * intact); a racing writer loses the version publish cleanly. */
  override def deleteWhere(filters: Array[sources.Filter]): Unit = {
    // same WAP guard as the row-level builder: a main-head delete while
    // the session routes writes to a branch would be silently wrong
    require(spark.conf.getOption(LakehouseTable.WapBranchConf).isEmpty,
      "DELETE is not routed by graft.wap.branch — unset the conf, " +
        "or use Maintenance.morDeleteFromBranch for audit-stage cleanup")
    val current = TableMetadata.load(tableDir) // re-read: optimistic concurrency
    val cond = filters.flatMap(filterToColumn)
      .reduceOption(_ && _)
      .getOrElse(throw new UnsupportedOperationException(
        s"unsupported DELETE predicate: ${filters.mkString(", ")}"))

    // (1) metadata prune — files whose stats PROVE no row matches stay
    // as-is; on bucketed tables a point predicate on the bucket column
    // additionally drops whole buckets (hash-scattered ranges defeat
    // the stats prune exactly there)
    val candidates = Bucketing.pruneByBucket(
      FileSkipping.prune(current.files, current.fileStats, current.schema, filters.toSeq),
      current.properties, current.schema, filters.toSeq)
    if (candidates.isEmpty) return

    // Merge-on-read mode (`graft.delete.mode=merge-on-read`): instead
    // of rewriting every hit file, SELECT the matching rows and commit
    // them as an equality-delete file — one pruned read plus a tiny
    // write, the shape that keeps a high-churn 100 TB table writable.
    // Keys are `graft.key` when declared (the Iceberg identifier-field
    // contract: the table is key-unique, so deleting by key IS deleting
    // the row); otherwise the full row tuple, which is EXACT for any
    // deterministic predicate (a row identical to a matched row matches
    // the predicate too).
    // `write.delete.mode` (Iceberg's spelling, honored as an alias by
    // the row-level builder too) must route the metadata path the same
    // way — otherwise a convertible predicate would COW-rewrite files
    // on a table whose non-convertible DELETEs write deltas
    def deleteMode: Option[String] =
      current.properties.get(LakehouseTable.DeleteModeProp)
        .orElse(current.properties.get("write.delete.mode"))
    if (deleteMode.contains("merge-on-read")) {
      val keyCols = current.properties.get(LakehouseTable.KeyProp)
        .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
        .getOrElse(current.schema.fieldNames.toSeq)
      val matched = MergeOnRead.read(spark, tableDir, current, candidates)
        .filter(coalesce(cond, lit(false))) // NULL predicate → not deleted
        .select(keyCols.map(col): _*)
        .distinct()
      MergeOnRead.morDeleteAt(spark, tableDir, matched)
      return
    }

    // Positional merge-on-read (`graft.delete.mode=merge-on-read-
    // positional`): record the matched rows' (data file, row offset)
    // pairs instead of key tuples — exact for non-key-addressable rows
    // without shipping whole-row tuples into the delete file, and still
    // zero data files rewritten. The offsets come from the scan's
    // _metadata struct via the merging read's prep hook, so offsets of
    // already-deleted rows are never re-recorded.
    if (deleteMode.contains("merge-on-read-positional")) {
      val matched = MergeOnRead.read(spark, tableDir, current, candidates, prep = df =>
          df.withColumn("__graft_pf",
              substring_index(col("_metadata.file_path"), "/", -3))
            .withColumn("__graft_pp", col("_metadata.row_index")))
        .filter(coalesce(cond, lit(false)))
        .select(col("__graft_pf").as(MergeOnRead.PosFileCol),
          col("__graft_pp").as(MergeOnRead.PosPosCol))
      MergeOnRead.morDeletePositionalAt(spark, tableDir, matched)
      return
    }

    // (2) exact check: which candidate files actually contain matches
    // (file identity via the unique part-file name segment)
    def fileName(p: String): String = p.substring(p.lastIndexOf('/') + 1)
    val relByName = candidates.map(f => fileName(f) -> f).toMap
    val candDf = spark.read.schema(current.schema)
      .parquet(candidates.map(abs): _*)
    val hitNames = candDf.withColumn("__graft_file", input_file_name())
      .filter(cond)
      .select(col("__graft_file")).distinct().collect()
      .map(r => fileName(r.getString(0))).toSet
    val hitFiles = hitNames.flatMap(relByName.get).toSeq.sorted
    if (hitFiles.isEmpty) return

    // (3) rewrite ONLY the hit files, keeping rows where the predicate
    // is not TRUE (SQL DELETE keeps FALSE and NULL rows). The merging
    // read: a raw read would carry equality-deleted rows that miss this
    // predicate into the rewritten files and resurrect them.
    val nextVersion = current.version + 1
    val keptRows = MergeOnRead.read(spark, tableDir, current, hitFiles)
      .filter(not(coalesce(cond, lit(false))))
    // a bucketed table's rewrite keeps the layout contract: the hit
    // files were bucket-addressable, so their replacements re-cluster
    // into a b- commit — otherwise a single COW DELETE silently
    // degraded the scan's KeyGroupedPartitioning and the mirror's
    // bucket[n] claim until the next compaction
    val staged = CommitFiles.writeData(spark, tableDir, current.schema, current.properties,
      CommitFiles.dataRel(current.properties, nextVersion, "delete"), keptRows)
    SnapshotChange.commit(tableDir, current, SnapshotChange.Change(
      "delete", staged = staged, removed = hitFiles.toSet), SnapshotChange.Rebase)
  }

  /** Filtered overwrite (static-mode `INSERT OVERWRITE ... PARTITION`):
    * ONE commit that removes every current row matching the delete
    * expression and appends the new data — the deleteWhere hit-scan
    * shape (stats prune → exact per-file hit check → rewrite hit files
    * keeping their non-matching rows through the merging read) with
    * the incoming rows unioned into the same rewrite. */
  private def commitOverwriteWhere(
      data: DataFrame, filters: Array[sources.Filter], current: TableMetadata): Unit = {
    val cond = filters.flatMap(filterToColumn)
      .reduceOption(_ && _)
      .getOrElse(throw new UnsupportedOperationException(
        s"unsupported OVERWRITE expression: ${filters.mkString(", ")}"))
    val candidates = Bucketing.pruneByBucket(
      FileSkipping.prune(current.files, current.fileStats, current.schema, filters.toSeq),
      current.properties, current.schema, filters.toSeq)
    def fileName(p: String): String = p.substring(p.lastIndexOf('/') + 1)
    val hitFiles =
      if (candidates.isEmpty) Seq.empty[String]
      else {
        val relByName = candidates.map(f => fileName(f) -> f).toMap
        spark.read.schema(current.schema).parquet(candidates.map(abs): _*)
          .withColumn("__graft_file", input_file_name())
          .filter(cond)
          .select(col("__graft_file")).distinct().collect()
          .map(r => fileName(r.getString(0))).toSet
          .flatMap(relByName.get).toSeq.sorted
      }
    val kept =
      if (hitFiles.isEmpty) data.limit(0)
      else MergeOnRead.read(spark, tableDir, current, hitFiles)
        .filter(not(coalesce(cond, lit(false))))
    Maintenance.commitRewrite(spark, tableDir, current, hitFiles,
      kept.unionByName(data), "overwrite-where")
  }

  private def commitInsert(
      data: DataFrame,
      overwrite: Boolean,
      startMeta: TableMetadata,
      identBases: Map[String, Long]): Unit = {
    // schema/partitioning are commit-stable; the caller's load is reused
    val op = if (overwrite) "overwrite" else "append"

    /** Write one commit's files under the table's layout contract.
      * Factored so an identity-range re-mint can rewrite with the SAME
      * clustering (bucketed tables rely on part-file index = bucket
      * id). */
    def writeCommitFiles(df: DataFrame): CommitFiles.Staged =
      CommitFiles.writeData(spark, tableDir, startMeta.schema, startMeta.properties,
        CommitFiles.dataRel(startMeta.properties, startMeta.version + 1, op), df, layout)

    // Cluster by the declared partition columns so each file covers a
    // narrow key range; Parquet min/max stats then let pushed-down
    // filters skip whole files/row groups on read (bucketed tables
    // cluster by hash instead: file part-i = bucket i). Hidden
    // temporal/truncate transforms cluster by their DERIVED value
    // (each day/hour/prefix lands wholly in its own file set) and sort
    // within by the SOURCE column — the footer ranges come out tight
    // and disjoint, so `ts BETWEEN …` file-skips like Iceberg's
    // partition pruning with no derived column stored or queried.
    def layout(df: DataFrame): DataFrame = {
      val hiddenExprs = HiddenPartitioning.clusteringExprs(
        df, startMeta.schema, startMeta.properties)
      // declared write sort order (WriteSortOrder.Prop): refines the
      // within-partition sort on partitioned tables, and on plain tables
      // supplies the whole clustering — range-distribute + sort so files
      // cover disjoint intervals and footer ranges prune like partitions
      val sortOrderCols = WriteSortOrder.colsOf(startMeta.properties)
      if (hiddenExprs.nonEmpty) {
        // RANGE partitioning, not hash: derived day/hour/prefix values
        // are few and ORDINAL — hashing a handful of days can collide
        // them into one task (and one file spanning all days, whose
        // footer range prunes nothing); range boundaries fall between
        // distinct derived values, so each task holds whole
        // consecutive days and the within-partition sort on the source
        // column makes every file's range tight. Files end up covering
        // DISJOINT source intervals, so a time-window read touches
        // only the overlapping files — Iceberg partition pruning via
        // footer stats. The partition count is EXPLICIT because AQE
        // coalesces column-only range shuffles by size, merging
        // adjacent days back into one file and undoing the clustering
        // (observed: 3 days → 1 file on a small commit).
        val idents = startMeta.partitionColumns.map(df.col)
        val sortCols =
          HiddenPartitioning.sourceCols(startMeta.properties).map(df.col) ++
            idents ++ sortOrderCols.map(df.col)
        df.repartitionByRange(
            df.sparkSession.sessionState.conf.numShufflePartitions,
            (hiddenExprs ++ idents): _*)
          .sortWithinPartitions(sortCols: _*)
      } else if (startMeta.partitionColumns.nonEmpty) {
        val cols = startMeta.partitionColumns.map(df.col)
        df.repartition(cols: _*)
          .sortWithinPartitions(cols ++ sortOrderCols.map(df.col): _*)
      } else if (sortOrderCols.nonEmpty) {
        // RANGE, not hash: the point is disjoint per-file intervals of
        // the leading sort column (hash would scatter every value range
        // across all files and the footer ranges would prune nothing);
        // explicit partition count for the same AQE-coalescing reason
        // as the hidden-transform branch above
        df.repartitionByRange(
            df.sparkSession.sessionState.conf.numShufflePartitions,
            sortOrderCols.map(df.col): _*)
          .sortWithinPartitions(sortOrderCols.map(df.col): _*)
      } else df
    }

    var staged = writeCommitFiles(data)

    // Optimistic-concurrency publish (the Iceberg commit loop): the
    // data files are written once above; every lost race re-derives the
    // commit on the winner's metadata — re-checking the racer's identity
    // and CHECK declarations against the written files — and publishes
    // again. Appends racing appends therefore all succeed, serialized.
    var verifiedProps = startMeta.properties
    // tracked TOGETHER with verifiedProps: rebuilding the verified set
    // from startMeta.schema after verifiedProps advanced would crash
    // on a racer that added a column plus its generation property
    var verifiedSchema = startMeta.schema
    // identity bases this write's values were minted from — updated if a
    // race forces a shift re-mint
    var mintedFrom = identBases
    SnapshotChange.rederive(tableDir, owned = Seq(staged)) { current =>
      // Identity-DECLARATION race: a racer added or altered a
      // graft.identity.<col> spec after this write minted/validated its
      // rows against startMeta — the written files may hold NULLs or
      // unarbitrated values in that column and never reserved a range
      // under the new spec. The declaration's own verification scanned
      // only files committed before it, so committing these files
      // would break the invariant it just established. Fail clean; the
      // re-run mints under the new spec. (Range races under an
      // UNCHANGED spec are handled below via graft.identity-next.)
      val specNow = current.properties
        .filter(_._1.startsWith(IdentityColumns.SpecPrefix))
      val specStart = startMeta.properties
        .filter(_._1.startsWith(IdentityColumns.SpecPrefix))
      if (specNow != specStart) throw new IllegalStateException(
        s"INSERT lost a race to an identity declaration on $identName — " +
          "nothing was committed; re-run the INSERT")
      // Identity-range race: a winner advanced `graft.identity-next`
      // past the base this write minted from, so the two ranges
      // overlap. GENERATED ALWAYS columns hold ONLY minted values, so a
      // constant shift up to the new base restores disjointness (and
      // preserves uniqueness) — an O(new files) rewrite with the same
      // clustering. BY DEFAULT columns may carry writer-supplied values
      // indistinguishable from minted ones post-write: fail clean, the
      // caller re-runs against the advanced mark.
      if (mintedFrom.nonEmpty) {
        val curNext = IdentityColumns.nextOf(current.properties)
        val conflicts = mintedFrom.filter { case (c, b) =>
          curNext.getOrElse(c, b) != b
        }
        if (conflicts.nonEmpty) {
          val specs = IdentityColumns.of(current.properties).toMap
          val explicitConflicts = conflicts.keys.filter(c =>
            specs.get(c).exists(_.allowExplicit))
          if (explicitConflicts.nonEmpty) throw new IllegalStateException(
            s"INSERT lost an identity-range race on BY DEFAULT column(s) " +
              s"${explicitConflicts.mkString(", ")} — nothing was committed; " +
              "re-run the INSERT")
          val shifted = conflicts.foldLeft(
            spark.read.schema(current.schema).parquet(staged.files.map(abs): _*)) {
            case (d, (c, base)) =>
              val f = current.schema.fields.find(_.name.equalsIgnoreCase(c)).get
              d.withColumn(f.name,
                (col(f.name) + lit(curNext(c) - base)).cast(f.dataType))
          }
          val stale = staged.rel
          staged = writeCommitFiles(shifted)
          Fs.deleteRecursively(tableDir.resolve(stale))
          mintedFrom = conflicts.map { case (c, _) => c -> curNext(c) } ++
            (mintedFrom -- conflicts.keySet)
          // The shift changed the identity values AFTER row-local
          // enforcement ran — a CHECK that references the identity
          // column (CHECK (id < N)) validated the PRE-shift values.
          // Reset the verified state so every row check re-runs over
          // the rewritten files below; rare path, O(new files) cost.
          verifiedProps = Map.empty
          verifiedSchema = current.schema
        }
      }
      // A constraint/generation expression that landed AFTER this
      // write's row-local enforcement ran (startMeta's properties) has
      // never seen these rows — rebasing the append over it would let
      // a violating insert and the constraint both commit (the race
      // the ALTER side's no-rebase commit defends; this is the other
      // half). Verify the ALREADY-WRITTEN files against exactly the
      // checks that appeared since, once per newly-seen check.
      val checksNow = CheckConstraints.constraintsOf(current.properties) ++
        GeneratedColumns.conformanceChecks(spark, current.schema, current.properties)
      val checksVerified = (CheckConstraints.constraintsOf(verifiedProps) ++
        GeneratedColumns.conformanceChecks(spark, verifiedSchema, verifiedProps)).toSet
      val unseen = checksNow.filterNot(checksVerified.contains)
      if (unseen.nonEmpty) {
        import org.apache.spark.sql.functions.{expr => fexpr, lit => flit}
        // current.schema, not startMeta.schema: an unseen check may
        // reference a column a racing ALTER just added (read as null
        // from these files — name-resolved), and must still resolve
        val written = spark.read.schema(current.schema).parquet(staged.files.map(abs): _*)
        unseen.foreach { case (n, sql) =>
          val violations = written.filter(fexpr(sql) <=> flit(false)).count()
          if (violations > 0) throw new IllegalStateException(
            s"INSERT lost a race to CHECK constraint '$n' ($sql) and $violations " +
              "written rows violate it — nothing was committed; re-run the INSERT")
        }
        verifiedProps = current.properties
        verifiedSchema = current.schema
      }
      // an overwrite replaces every file with current-schema data, so
      // dropped-column tombstones (see LakehouseCatalog.alterTable) no
      // longer protect anything, and old delete entries can never apply
      // again; the identity high-water marks advance past the committed
      // extremes — read from the footer stats already in hand, no IO
      val minted = staged
      Some(SnapshotChange.Change(op, staged = minted,
        removed = if (overwrite) current.files.toSet else Set.empty,
        removedDeletes = if (overwrite) current.deleteFiles.toSet else Set.empty,
        properties = { p =>
          val kept =
            if (overwrite) p.filterNot(_._1.startsWith(LakehouseCatalog.TombstonePrefix))
            else p
          if (mintedFrom.isEmpty) kept
          else IdentityColumns.advance(kept, IdentityColumns.committedExtreme(
            current.schema, kept, minted.stats, minted.rows))
        }))
    }
  }
}

object LakehouseTable {
  /** Session conf (Iceberg's `spark.wap.branch` idiom): when set, plain
    * SQL `INSERT INTO` lands on the named audit branch instead of main
    * — the write side of write-audit-publish without touching the
    * ingest SQL. Audit reads use `VERSION AS OF '<branch>'`; `CALL
    * system.fast_forward` publishes. Row-level DML and overwrites are
    * refused while set (only appends route). */
  val WapBranchConf = "graft.wap.branch"

  /** Table property selecting how SQL DELETE executes: unset/"copy-on-write"
    * rewrites hit files (read-optimal); "merge-on-read" commits an
    * equality-delete file; "merge-on-read-positional" commits a
    * (file, row-offset) positional delete file (both write-optimal,
    * see [[MergeOnRead]]). */
  val DeleteModeProp = "graft.delete.mode"

  /** Table property declaring the row-identity columns (comma-separated)
    * — the Iceberg identifier-fields analogue. When set, merge-on-read
    * DELETE records just these columns per matched row. */
  val KeyProp = "graft.key"

  /** Name/type of the positional row-identity metadata column (see
    * [[PositionalRowIdScan]]): struct field names match the positional
    * delete-file columns ([[DeleteFile.PosFileCol]]/[[DeleteFile.PosPosCol]]). */
  val RowIdColName = "_graft_row_id"
  val RowIdType: StructType = StructType(Seq(
    org.apache.spark.sql.types.StructField(DeleteFile.PosFileCol,
      org.apache.spark.sql.types.StringType, nullable = false),
    org.apache.spark.sql.types.StructField(DeleteFile.PosPosCol,
      org.apache.spark.sql.types.LongType, nullable = false)))
  object RowIdColumn extends org.apache.spark.sql.connector.catalog.MetadataColumn {
    override def name(): String = RowIdColName
    override def dataType(): org.apache.spark.sql.types.DataType = RowIdType
    override def isNullable: Boolean = false
    override def comment(): String =
      "row identity: table-relative data file path + 0-based row offset"
  }

  /** (survivors, total) of the most recent scan build on this thread —
    * observability hook for tests and EXPLAIN-style debugging. */
  val lastScanFileCounts = new ThreadLocal[(Int, Int)]

  /** (post-runtime-filter survivors, total) of the most recent runtime
    * file-skipping pass. @volatile, not thread-local: AQE invokes
    * Scan.filter on its execution threads, so a ThreadLocal would be
    * invisible to the observing (test/driver) thread. */
  @volatile var lastRuntimeFilteredCounts: (Int, Int) = (0, 0)

  /** (survivors, total) of the most recent POSITIONAL row-id scan
    * build (a delta MERGE/UPDATE/DELETE's target read) — separate from
    * [[lastScanFileCounts]] so the statement's OTHER scans (source
    * side) can't overwrite the observation. */
  @volatile var lastPositionalScanFileCounts: (Int, Int) = (0, 0)

  /** A file partition that also carries its bucket id, so Spark's
    * storage-partitioned join can match it against the other side's
    * buckets. The parquet reader factory only pattern-matches on
    * FilePartition, which this still is. */
  class BucketFilePartition(
      index: Int,
      files: Array[org.apache.spark.sql.execution.datasources.PartitionedFile],
      key: org.apache.spark.sql.catalyst.InternalRow)
    extends org.apache.spark.sql.execution.datasources.FilePartition(index, files)
    with org.apache.spark.sql.connector.read.HasPartitionKey {
    override def partitionKey(): org.apache.spark.sql.catalyst.InternalRow = key
  }
}
