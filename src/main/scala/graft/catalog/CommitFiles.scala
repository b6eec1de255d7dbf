package graft.catalog

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.UUID
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.connector.write.{BatchWrite, LogicalWriteInfo}
import org.apache.spark.sql.execution.datasources.OutputWriterFactory
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

/** The one path from rows to committed files, shared by every lakehouse
  * write — the write-side twin of [[ScanFiles]]. Each decision that
  * turns rows into staged data or delete files is made here once: where
  * the files land, the bucket-layout contract, the micros parquet
  * write, the sorted staged listing, the footer read, dropping zero-row
  * files and building bloom sidecars. The commit model is Iceberg's:
  * write the files, then one atomic metadata swap — the swap, and any
  * clustering other than the bucket layout, stay with the caller. */
private[graft] object CommitFiles {

  /** What one write staged under `rel`: the live files as sorted
    * table-relative paths (zero-row files already removed) and their
    * footers. */
  final case class Staged(
      rel: String,
      files: Seq[String],
      footers: Map[String, FooterStats.FileFooter]) {
    /** Per-file column ranges, files with none left out (the
      * `fileStats` contract). */
    def stats: Map[String, Map[String, ColumnRange]] =
      footers.view.mapValues(_.cols).filter(_._2.nonEmpty).toMap
    def rows: Map[String, Long] = footers.view.mapValues(_.rows).toMap
    def rowCount: Long = footers.values.map(_.rows).sum
  }

  object Staged {
    /** Nothing staged (a write that had no rows to stage). */
    val empty: Staged = Staged("", Seq.empty, Map.empty)
  }

  private val BucketPrefix = "data/b-"

  private def tag(): String = UUID.randomUUID().toString.take(8)

  /** Staging dir of a driver-side data write. On a bucketed table it is
    * bucket-addressable (`data/b-…`: part-file index = bucket id, the
    * one name [[Bucketing.bucketIdOf]] parses), and [[writeData]]
    * clusters it through [[Bucketing.cluster]]. */
  def dataRel(properties: Map[String, String], next: Int, op: String): String =
    if (Bucketing.specOf(properties).isDefined) bucketRel(next, op) else plainRel(next, op)

  def bucketRel(next: Int, op: String): String = s"$BucketPrefix$op$next-${tag()}"

  /** Staging dir of files that carry no bucket mapping: task-written
    * files (a task's rows span buckets) and rewrites that lay rows out
    * by other columns. */
  def plainRel(next: Int, op: String): String = s"data/c$next-$op-${tag()}"

  /** Staging dir of delete tuples; `kind` names the entry shape
    * (`p` positional, `d` equality, …). */
  def deleteRel(kind: String, next: Int): String = s"deletes/$kind$next-${tag()}"

  /** Hash-repartition by the partition columns and sort within: the
    * clustering most row writes use on a partitioned table. */
  def byPartition(columns: Seq[String]): DataFrame => DataFrame = df =>
    if (columns.isEmpty) df
    else {
      val cols = columns.map(df.col)
      df.repartition(cols: _*).sortWithinPartitions(cols: _*)
    }

  /** `df` as parquet under `dir`. Timestamps are written as INT64
    * micros: Spark's default INT96 carries no usable parquet stats, so
    * timestamp columns would never prune. */
  def write(df: DataFrame, dir: Path, overwrite: Boolean = false): Unit =
    SessionConf.withMicros(df.sparkSession) {
      val w = df.write
      if (overwrite) w.mode("overwrite")
      w.parquet(dir.toString)
    }

  /** Rows → one commit's data files under `rel`. A bucket rel is laid
    * out by the table's bucket spec; any other rel by the caller's
    * `cluster`. */
  def writeData(
      spark: SparkSession,
      tableDir: Path,
      schema: StructType,
      properties: Map[String, String],
      rel: String,
      rows: DataFrame,
      cluster: DataFrame => DataFrame = identity): Staged = {
    val laid = Bucketing.specOf(properties).filter(_ => rel.startsWith(BucketPrefix)) match {
      case Some((bcol, n)) => Bucketing.cluster(rows, bcol, n, properties)
      case None => cluster(rows)
    }
    write(laid, tableDir.resolve(rel))
    collect(spark, tableDir, schema, properties, rel)
  }

  /** The parquet files under staging dir `rel` as sorted table-relative
    * paths — committer artifacts (_SUCCESS, .crc) left out, a missing
    * dir lists nothing. */
  def listed(tableDir: Path, rel: String): Seq[String] = {
    val dir = tableDir.resolve(rel)
    if (!Files.isDirectory(dir)) Seq.empty
    else Fs.childNames(dir).filter(_.endsWith(".parquet")).map(n => s"$rel/$n").sorted
  }

  /** Everything a write (driver or tasks) staged under `rel`, collected. */
  def collect(
      spark: SparkSession,
      tableDir: Path,
      schema: StructType,
      properties: Map[String, String],
      rel: String): Staged =
    collectFiles(spark, tableDir, schema, properties, rel, listed(tableDir, rel))

  /** `files` staged under `rel` (e.g. the ones task commit messages
    * name): one footer read each, then [[keep]]. */
  def collectFiles(
      spark: SparkSession,
      tableDir: Path,
      schema: StructType,
      properties: Map[String, String],
      rel: String,
      files: Seq[String]): Staged = {
    val conf = spark.sessionState.newHadoopConf()
    val footers = files.map { f =>
      f -> FooterStats.collectFull(conf,
        new org.apache.hadoop.fs.Path(tableDir.resolve(f).toString), schema)
    }.toMap
    keep(spark, tableDir, schema, properties, rel, files, footers)
  }

  /** The tail every commit shares once footers are in hand. Zero-row
    * files are deleted: Spark writes task 0's file even when its
    * partition is empty, and a bucket-routed rewrite often fills ONE
    * bucket — an empty file is a dead metadata entry per DML at 100 TB
    * file counts, and on a bucketed table it falsely claims the bucket
    * its part index names. The rest get bloom sidecars when the table
    * indexes any column (empty `properties`: none). A staging dir left
    * with no file is removed. */
  def keep(
      spark: SparkSession,
      tableDir: Path,
      schema: StructType,
      properties: Map[String, String],
      rel: String,
      files: Seq[String],
      footers: Map[String, FooterStats.FileFooter]): Staged = {
    val (empty, live) = files.partition(f => footers.get(f).exists(_.rows == 0L))
    empty.foreach { f =>
      try Files.deleteIfExists(tableDir.resolve(f))
      catch { case _: Exception => () } // unreferenced leftovers reap later
    }
    if (live.isEmpty) Fs.deleteRecursively(tableDir.resolve(rel))
    BloomIndex.buildForFiles(spark, tableDir, schema, properties, live)
    Staged(rel, live, footers -- empty)
  }

  /** Tuple ceiling for a single-file delete parquet (runtime-settable
    * via `graft.mor.maxSingleFileDeleteTuples`). Under it, the delete
    * writes ONE sorted file — the read side's anti-join build is one
    * footer and (at these sizes) one broadcast. Past it — a MERGE or
    * UPDATE matching 10⁹ rows — a single-task write is the scale
    * killer: the tuples serialize through one executor thread. */
  private def singleFileDeleteMax(spark: SparkSession): Long =
    spark.conf.getOption("graft.mor.maxSingleFileDeleteTuples")
      .map(_.toLong).getOrElse(1000000L)

  /** Shape a delete-tuple write: one sorted file when `n` is under the
    * single-file ceiling, else ceil(n / ceiling) RANGE-partitioned
    * sorted files. Range partitioning keeps each resulting entry's
    * footer key ranges tight and mutually disjoint, so per data file
    * only the overlapping entries apply (path-range pruning for
    * positional entries, stats-disjointness for equality entries) and
    * the read side joins against one commit's entries as a single
    * union scan — the plan that survives both a 5-row CDC batch and a
    * 10⁹-row MERGE. */
  private[graft] def shapeDeleteWrite(
      spark: SparkSession,
      df: DataFrame,
      sortCols: Seq[Column],
      n: Long): DataFrame = {
    val cap = math.max(1L, singleFileDeleteMax(spark))
    if (n <= cap) df.coalesce(1).sortWithinPartitions(sortCols: _*)
    else {
      val parts = math.min((n + cap - 1) / cap, 10000L).toInt
      df.repartitionByRange(parts, sortCols: _*).sortWithinPartitions(sortCols: _*)
    }
  }

  /** Delete tuples (every column of `tuples`, sorted in column order)
    * → staged delete files under a fresh `deletes/<kind><next>-…` dir.
    * `n` is the caller's tuple count (a pinned count or a footer sum),
    * so shaping adds no job. Zero tuples stage nothing: a zero-row
    * entry has no key ranges, and a missing range reads as "could
    * match" — it would mark every older data file dirty. */
  def writeDeletes(
      spark: SparkSession,
      tableDir: Path,
      kind: String,
      next: Int,
      tuples: DataFrame,
      n: Long): Staged = {
    val rel = deleteRel(kind, next)
    write(shapeDeleteWrite(spark, tuples, tuples.columns.toSeq.map(tuples.col), n),
      tableDir.resolve(rel))
    collect(spark, tableDir, tuples.schema, Map.empty, rel)
  }

  /** Spark's own DSv2 parquet write into `dir`, for files tasks write
    * and [[collect]] later gathers. `toBatch` builds the parquet job
    * conf from the ACTIVE session's conf — for a streaming query that
    * is the query's own clone, not `spark` — so the micros scope is
    * opened there; it captures micros timestamps and leaks nothing. */
  def batchWrite(
      spark: SparkSession,
      identName: String,
      dir: Path,
      schema: StructType,
      info: LogicalWriteInfo): BatchWrite =
    SessionConf.withMicros(SparkSession.active) {
      ParquetTable(identName, spark,
        new CaseInsensitiveStringMap(Map("path" -> dir.toString).asJava),
        Seq(dir.toString), Some(schema), classOf[ParquetFileFormat])
        .newWriteBuilder(info)
        .build()
        .toBatch
    }

  /** The parquet format's own output writers for task writes that
    * bypass the Hadoop commit protocol; `prepareWrite` captures the
    * micros conf into the job conf, so the scope ends here. */
  def outputWriters(spark: SparkSession, schema: StructType)
      : (OutputWriterFactory, SerializableConfiguration) =
    SessionConf.withMicros(spark) {
      val job = org.apache.hadoop.mapreduce.Job.getInstance(spark.sessionState.newHadoopConf())
      val f = new ParquetFileFormat().prepareWrite(spark, job, Map.empty, schema)
      (f, new SerializableConfiguration(job.getConfiguration))
    }

  /** `df` as exactly one parquet file at `dir`/`rel`, replacing any
    * previous one — the shape an Iceberg delete file takes on import
    * and export. */
  def writeOne(df: DataFrame, dir: Path, rel: String): Unit = {
    val tmpRel = rel + ".tmpdir"
    write(df.coalesce(1), dir.resolve(tmpRel), overwrite = true)
    val part = listed(dir, tmpRel).headOption.getOrElse(
      throw new IllegalStateException(s"no parquet written under $tmpRel"))
    Files.createDirectories(dir.resolve(rel).getParent)
    Files.move(dir.resolve(part), dir.resolve(rel), StandardCopyOption.REPLACE_EXISTING)
    Fs.deleteRecursively(dir.resolve(tmpRel))
  }
}
