package graft.catalog

import java.nio.file.Path

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsTriggerAvailableNow}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Stream offset = table metadata version. Spark's v2 Offset base class
  * compares offsets by their JSON form, so the plain number suffices. */
final case class VersionOffset(version: Int) extends Offset {
  override def json(): String = version.toString
}

/** The lakehouse table as a Structured Streaming SOURCE (the Delta/
  * Iceberg "stream new data out of the table" read path): each
  * micro-batch reads exactly the data files ADDED in a window of
  * snapshot versions (start, end] — pure metadata diff, no table scan,
  * so a 100 TB table streams its daily appends without touching
  * history. Same append-only contract as [[Maintenance.changesBetween]]:
  * rewrite commits (compact / delete / update / merge) re-add existing
  * rows as new files, which an added-file diff would double-count, so
  * the stream fails on them rather than emit wrong rows (true CDC over
  * row-level DML needs delta files — out of scope, as for Iceberg COW).
  *
  * Options: `startingVersion` (default 0) — first micro-batch covers
  * (startingVersion, latest]; 0 streams the table from creation.
  */
class LakehouseMicroBatchStream(
    spark: SparkSession,
    identName: String,
    tableDir: Path,
    schema: StructType,
    readSchema: StructType,
    options: CaseInsensitiveStringMap)
  extends MicroBatchStream with SupportsTriggerAvailableNow {

  private def abs(f: String): String = tableDir.resolve(f).toString

  /** Trigger.AvailableNow: pin the end offset at prepare time so the
    * run drains exactly the versions that existed when it started,
    * then stops — appends landing mid-run wait for the next run. */
  @volatile private var availableNowCap: Option[Int] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(TableMetadata.load(tableDir).version)

  override def initialOffset(): Offset =
    VersionOffset(Option(options.get("startingVersion")).map(_.toInt).getOrElse(0))

  override def latestOffset(): Offset =
    VersionOffset(availableNowCap.getOrElse(TableMetadata.load(tableDir).version))

  /** Rate-limited admission: `maxVersionsPerTrigger` bounds how many
    * commits one micro-batch absorbs. Backfilling a long-history table
    * (startingVersion=0 against years of commits) would otherwise plan
    * the entire history as ONE batch — unbounded task count and no
    * checkpoint until it all lands. With the cap, progress commits
    * every N versions; under Trigger.AvailableNow the wrapper loops
    * until the prepared cap is reached, yielding a bounded-batch
    * backfill that resumes cleanly from any checkpoint. */
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

  override def reportLatestOffset(): Offset =
    VersionOffset(TableMetadata.load(tableDir).version)

  override def deserializeOffset(json: String): Offset = VersionOffset(json.toInt)

  override def commit(end: Offset): Unit = ()

  override def stop(): Unit = ()

  /** Data files added in (fromV, toV], per the metadata log.
    * Version-keyed (expireSnapshots leaves gaps): an incomplete window
    * fails the stream with a re-sync error, never a silent wrong diff. */
  private def addedFiles(fromV: Int, toV: Int): Seq[String] = {
    if (fromV >= toV) return Seq.empty
    val log = TableMetadata.loadLog(tableDir)
    val window = log.filter(m => m.version > fromV && m.version <= toV)
    if (window.size != toV - fromV)
      throw new IllegalStateException(
        s"streaming read of $identName: version window ($fromV, $toV] incomplete — " +
          "metadata expired (expireSnapshots); restart the stream from a later startingVersion")
    val before =
      if (fromV == 0) Set.empty[String]
      else log.find(_.version == fromV).map(_.files.toSet)
        .getOrElse(throw new IllegalStateException(
          s"streaming read of $identName: metadata for v$fromV expired; " +
            "restart the stream from a later startingVersion"))
    // append-only check by the real invariant (monotone file growth),
    // not op names: metadata-only commits (analyze, bloom-index) must
    // not kill the stream, and file-dropping commits must, whatever
    // they are called
    val states = before +: window.map(_.files.toSet)
    val shrinkers = states.sliding(2).zip(window.iterator).collect {
      case (Seq(a, b), m) if !a.subsetOf(b) =>
        m.snapshots.lastOption.map(_.operation).getOrElse(s"v${m.version}")
    }.toSeq
    if (shrinkers.nonEmpty)
      throw new IllegalStateException(
        s"streaming read of $identName hit non-append commits (${shrinkers.mkString(", ")}) " +
          s"in version window ($fromV, $toV]: an added-file diff cannot represent row-level " +
          "changes; restart the stream from a later startingVersion, avoid rewrites " +
          s"upstream, or stream the changelog face ($identName.changes) instead")
    // merge-on-read deletes change rows while GROWING the file set: the
    // monotone check above cannot see them, so compare delete entries
    // too. Only ADDED entries retract rows; a commit that merely drops
    // entries (materialize-deletes over stats-proven-dead entries)
    // changed no visible row — entry drops that DID fold rows away
    // rewrite data files and are already caught by the monotone check.
    // An entry REWRITE (consolidate-deletes: data files untouched,
    // old entries dropped, merged replacements added) also changed no
    // visible row; it is distinguished from a real delete by the seq
    // invariant, not the op name — a rewrite PRESERVES superseded
    // sequence numbers (added seqs ≤ max dropped seq) while a genuine
    // delete mints this commit's new, higher seq.
    val baseline =
      if (fromV == 0) window.head.copy(files = Seq.empty, deleteFiles = Seq.empty)
      else log.find(_.version == fromV).get // presence checked above
    val morCommits = (baseline +: window).sliding(2).flatMap {
      case Seq(prev, cur) =>
        val prevDel = prev.deleteFiles.map(_.path).toSet
        val curDel = cur.deleteFiles.map(_.path).toSet
        val addedEntries = cur.deleteFiles.filterNot(e => prevDel.contains(e.path))
        val droppedEntries = prev.deleteFiles.filterNot(e => curDel.contains(e.path))
        val entryRewrite = droppedEntries.nonEmpty &&
          prev.files.toSet == cur.files.toSet &&
          addedEntries.forall(_.seq <= droppedEntries.map(_.seq).max)
        if (addedEntries.nonEmpty && !entryRewrite)
          Some(cur.snapshots.lastOption.map(_.operation).getOrElse(s"v${cur.version}"))
        else None
      case _ => None
    }.toSeq
    if (morCommits.nonEmpty)
      throw new IllegalStateException(
        s"streaming read of $identName hit merge-on-read delete commits " +
          s"(${morCommits.mkString(", ")}) in version window ($fromV, $toV]: a stream " +
          "cannot retract already-emitted rows; restart from a later startingVersion " +
          s"or stream the changelog face ($identName.changes) for +/- row semantics")
    window.flatMap(_.files).distinct.filterNot(before.contains)
  }

  private val readerFactory = new FirstScanFactory

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val added = addedFiles(
      start.asInstanceOf[VersionOffset].version, end.asInstanceOf[VersionOffset].version)
    readerFactory.plan(ScanFiles.parquet(
      spark, identName, options, added.map(abs), schema, readSchema))
  }

  override def createReaderFactory(): PartitionReaderFactory = readerFactory.get
}

/** A source's one parquet reader factory, taken from the first scan that
  * plans partitions: the factory is configured by schema and options,
  * not by a file list, so it serves every later batch. Spark asks a
  * stream for a reader factory on every micro-batch; taking each
  * batch's own would build one (and broadcast the Hadoop conf) per
  * batch. Spark plans a batch's partitions before it asks for the
  * factory, so a batch with files finds it set; a batch without files
  * gets [[ScanFiles.NoFiles]], which is never asked for a reader. */
private[catalog] final class FirstScanFactory {
  @volatile private var factory: PartitionReaderFactory = _

  /** The partitions of `scan`, keeping its factory if none is held yet. */
  def plan(scan: org.apache.spark.sql.connector.read.Scan): Array[InputPartition] = {
    val batch = scan.toBatch
    val parts = batch.planInputPartitions()
    if (factory == null && parts.nonEmpty) factory = batch.createReaderFactory()
    parts
  }

  def get: PartitionReaderFactory = Option(factory).getOrElse(ScanFiles.NoFiles)
}
