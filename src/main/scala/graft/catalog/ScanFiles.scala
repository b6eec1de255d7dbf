package graft.catalog

import java.nio.file.Path

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, Statistics, SupportsReportStatistics}
import org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The one path from a table snapshot to parquet input, shared by every
  * lakehouse read: the main scan ([[LakehouseTable.newScanBuilder]]),
  * the row-id scan ([[PositionalRowIdScan]]), the copy-on-write rewrite
  * scan, the table stream and the `.changes` faces. Each decision that
  * turns snapshot metadata, pushed filters and required columns into
  * files and a parquet scan is made here once, so the scans cannot
  * drift apart; they keep only what is really theirs (aggregate/limit
  * pushdown and statistics, row-id stitching, row-exact rewrites). */
private[catalog] object ScanFiles {

  /** Metadata-only pruning before any footer is opened: min/max ranges
    * (layout-dependent), per-file bloom probes for point predicates on
    * indexed columns (layout-independent), and bucket ids for point
    * predicates on the bucket column (the skipping a hash layout admits
    * — hash-scattered ranges defeat min/max there). */
  def prune(
      tableDir: Path,
      meta: TableMetadata,
      files: Seq[String],
      filters: Seq[Filter]): Seq[String] = {
    val ranged = FileSkipping.prune(files, meta.fileStats, meta.schema, filters)
    val bloomed = BloomIndex.prune(tableDir, meta.properties, meta.schema, ranged, filters)
    Bucketing.pruneByBucket(bloomed, meta.properties, meta.schema, filters)
  }

  /** Columns a runtime filter (the DSv2 face of dynamic partition
    * pruning) may narrow the file list on: partition and bloom-indexed
    * columns. Spark resolves them against the scan OUTPUT
    * (PartitionPruning.getFilterableTableScan → resolveRefs throws on a
    * miss), so a column pruned from the projection is left out. */
  def runtimeFilterColumns(meta: TableMetadata, output: StructType): Array[NamedReference] =
    (meta.partitionColumns ++ BloomIndex.probeableColumns(meta.properties, meta.schema))
      .distinct
      .filter(c => output.fieldNames.exists(_.equalsIgnoreCase(c)))
      .map(c => Expressions.column(c): NamedReference)
      .toArray

  /** `files` narrowed by the runtime filter's matched values (IN / =
    * over the columns above; anything else keeps every file). Records
    * the (survivors, total) observation hook when a filter applied. */
  def runtimePrune(
      tableDir: Path,
      meta: TableMetadata,
      files: Seq[String],
      predicates: Array[Predicate],
      total: Int): Seq[String] = {
    val v1 = predicates.flatMap(RuntimePredicates.toV1).toSeq
    if (v1.isEmpty) files
    else {
      val narrowed = prune(tableDir, meta, files, v1)
      LakehouseTable.lastRuntimeFilteredCounts = (narrowed.size, total)
      narrowed
    }
  }

  /** Bucket-aware planning for storage-partitioned joins: the scan
    * groups its files into one input partition per bucket and reports
    * [[partitioning]], so a join of two co-bucketed tables runs with no
    * shuffle on either side. */
  final case class BucketPlan(
      column: String,
      count: Int,
      icebergHash: Boolean,
      byBucket: Map[Int, Seq[String]]) {

    /** The transform name selects the FunctionCatalog definition Spark
      * resolves the key expression against: it must name the hash that
      * actually laid the files out, and distinct names keep a
      * spark-hash × iceberg-hash join from being planned as co-located.
      * The iceberg form carries the count in its NAME, not as an
      * argument — a literal child would fail
      * KeyGroupedPartitioning.satisfies (every leaf must be a cluster
      * key) and silently re-shuffle the join; see
      * [[IcebergBucketFunction]]. */
    def partitioning: KeyGroupedPartitioning = {
      val t =
        if (icebergHash)
          Expressions.apply(s"${IcebergBucketFunction.Prefix}$count", Expressions.column(column))
        else Expressions.bucket(count, column)
      new KeyGroupedPartitioning(Array(t), count)
    }
  }

  /** The bucket plan, when the table is bucketed, v2 bucketing is
    * enabled, the bucket column survives in the scan OUTPUT (the key
    * expressions resolve there — Spark's runtime-pruning rules throw on
    * an unresolvable one, and no surviving operator could key on it:
    * the guard Iceberg applies too), and every survivor is
    * bucket-addressable (written by a bucketed commit — rewrites break
    * the mapping and degrade planning, not correctness, until
    * compaction restores it). No survivors, no plan: there is nothing
    * to co-locate. */
  def bucketPlan(
      spark: SparkSession,
      meta: TableMetadata,
      output: StructType,
      survivors: Seq[String]): Option[BucketPlan] =
    Bucketing.specOf(meta.properties)
      .filter(_ => spark.conf.getOption(
        "spark.sql.sources.v2.bucketing.enabled").contains("true"))
      .filter { case (bcol, _) => output.fieldNames.exists(_.equalsIgnoreCase(bcol)) }
      .flatMap { case (bcol, n) =>
        val ids = survivors.map(Bucketing.bucketIdOf)
        if (survivors.isEmpty || !ids.forall(_.exists(_ < n))) None
        else Some(BucketPlan(bcol, n, Bucketing.icebergHash(meta.properties),
          survivors.zip(ids.map(_.get)).groupBy(_._2)
            .view.mapValues(_.map(_._1)).toMap))
      }

  /** LAST-RESORT guard, not the normal path: the MorReads resolution
    * rule (GraftExtensions) rewrites dirty-table relations into merged
    * plans whose sub-scans carry the plain-read marker. Reaching a
    * batch read dirty and unmarked means the session has no extensions
    * installed — fail loudly instead of silently resurrecting deleted
    * rows. */
  def requireMerged(
      identName: String,
      meta: TableMetadata,
      options: CaseInsensitiveStringMap): Unit =
    if (!options.containsKey(MergeOnRead.PlainReadOption) &&
      MergeOnRead.anyApplicable(meta, meta.files))
      throw new IllegalStateException(
        s"$identName has merge-on-read deletes pending: batch reads need " +
          "spark.sql.extensions=graft.functions.GraftExtensions (the MorReads " +
          "rule), or run Maintenance.compact / MergeOnRead.materializeDeletes first")

  /** Spark's own DSv2 parquet scan over `paths` (absolute), so
    * vectorized reads, row-group pushdown and column pruning are
    * inherited, not re-implemented. `pushed` filters reach parquet
    * row-group skipping; a row-exact reader passes none. A missing
    * live file fails the read (PATH_NOT_FOUND) rather than being
    * skipped. An empty list never reaches Spark's file index (which
    * would resolve it and warn that every path was ignored): it gets
    * a scan with the same read schema that plans no partitions. */
  def parquet(
      spark: SparkSession,
      identName: String,
      options: CaseInsensitiveStringMap,
      paths: Seq[String],
      dataSchema: StructType,
      required: StructType,
      pushed: Array[Filter] = Array.empty): Scan with SupportsReportStatistics =
    if (paths.isEmpty) new NoFilesScan(required, pushed)
    else {
      val b = ParquetTable(identName, spark, options, paths, Some(dataSchema),
        classOf[ParquetFileFormat]).newScanBuilder(options)
      b.pushDataFilters(pushed)
      b.pruneColumns(required)
      b.build().asInstanceOf[Scan with SupportsReportStatistics] // a FileScan
    }

  /** The scan over no files. Its read schema is the parquet scan's
    * (the required columns: no path-derived partition columns without
    * paths), it plans no partitions and sizes at zero bytes. */
  private final class NoFilesScan(required: StructType, pushed: Array[Filter])
    extends Scan with Batch with SupportsReportStatistics {
    override def readSchema(): StructType = required
    override def description(): String =
      s"ParquetScan (no files) PushedFilters: [${pushed.mkString(", ")}], " +
        s"ReadSchema: ${required.catalogString}"
    override def toBatch: Batch = this
    override def planInputPartitions(): Array[InputPartition] = Array.empty
    override def createReaderFactory(): PartitionReaderFactory = NoFiles
    override def estimateStatistics(): Statistics = new Statistics {
      override def sizeInBytes(): java.util.OptionalLong = java.util.OptionalLong.of(0L)
      override def numRows(): java.util.OptionalLong = java.util.OptionalLong.empty()
    }
  }

  /** The reader factory of a read that planned no files: never asked
    * for a reader, and loud if it is. */
  object NoFiles extends PartitionReaderFactory {
    override def createReader(p: InputPartition): PartitionReader[InternalRow] =
      throw new IllegalStateException("reader requested for a batch that planned no files")
  }
}
