package graft.catalog

import java.nio.file.Path

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.write.{BatchWrite, LogicalWriteInfo, PhysicalWriteInfo, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}

/** DSv2 streaming sink: `df.writeStream.toTable("lakehouse.ns.t")`.
  *
  * Per micro-batch, the rows land as parquet in a fresh staging
  * directory through Spark's own DSv2 parquet writers (same delegation
  * as the batch read/write paths), then `commit(epochId, …)` publishes
  * them with ONE atomic metadata swap that also records the
  * `(queryId, epochId)` watermark — the same exactly-once mechanism as
  * [[Maintenance.transactionalAppend]]: a batch replayed after a
  * commit-then-checkpoint-crash sees its watermark and discards the
  * staged files instead of double-appending. `complete`-mode queries
  * (the builder's truncate() path) publish each epoch as a whole-table
  * replace, so a streaming aggregation materializes into a
  * time-travelable lakehouse table.
  *
  * Streamed files land as the tasks produced them (no per-commit
  * re-clustering — there is no DataFrame to repartition at this layer);
  * partition-scoped compaction (`CALL system.compact_where`) is the
  * standing repair for streaming-sized files, exactly as for the
  * foreachBatch ingest path.
  */
class LakehouseStreamingWrite(
    spark: SparkSession,
    identName: String,
    tableDir: Path,
    info: LogicalWriteInfo,
    replace: Boolean)
  extends StreamingWrite {

  /** The epoch currently being written: staging dir + the delegate
    * parquet BatchWrite that finalizes task files into it. Micro-batch
    * execution is strictly sequential per query (factory → tasks →
    * commit), so a single slot suffices. */
  @volatile private var pending: Option[(String, BatchWrite)] = None

  // The delegate parquet writers commit through the Hadoop commit
  // protocol, which asks the OutputCommitCoordinator itself; asking a
  // second time at the DSv2 layer gets the inner ask DENIED (first
  // authorization wins). Same setting as Spark's own FileBatchWrite.
  override def useCommitCoordinator(): Boolean = false

  override def createStreamingWriterFactory(
      pInfo: PhysicalWriteInfo): StreamingDataWriterFactory = {
    val meta = TableMetadata.load(tableDir)
    // streamed rows arrive with writer-supplied values; a GENERATED
    // ALWAYS identity column accepts only engine-minted ones, and an
    // epoch task cannot mint (no commit-scoped sequence range) — refuse
    // up front instead of committing values the declaration forbids.
    // BY DEFAULT columns pass: explicit values are legal and the epoch
    // commit advances the mark past them.
    locally {
      val always = IdentityColumns.of(meta.properties)
        .collect { case (c, spec) if !spec.allowExplicit => c }
      require(always.isEmpty,
        s"streaming writes cannot mint identity column(s) ${always.mkString(", ")} " +
          "declared GENERATED ALWAYS — declare GENERATED BY DEFAULT and supply " +
          "values, or ingest via batch INSERT")
    }
    val stagingRel = CommitFiles.plainRel(meta.version + 1, "stream")
    val innerWrite = CommitFiles.batchWrite(
      spark, identName, tableDir.resolve(stagingRel), meta.schema, info)
    val delegate = innerWrite.createBatchWriterFactory(pInfo)
    pending = Some((stagingRel, innerWrite))
    // CHECK constraints guard every streamed row before it reaches the
    // epoch's staging files — same row-local predicate the delta DML
    // writers compile, zero overhead when the table declares none.
    // Generated columns are COMPUTED first (the stream source need not
    // supply them correctly — "always generated" holds by construction
    // on this path exactly as on batch writes).
    val checks = CheckConstraints.rowChecks(spark, meta.schema, meta.properties)
    val gen = GeneratedColumns.rowGenerate(spark, meta.schema, meta.properties)
    new StreamingDataWriterFactory {
      override def createWriter(partitionId: Int, taskId: Long, epochId: Long):
          org.apache.spark.sql.connector.write.DataWriter[
            org.apache.spark.sql.catalyst.InternalRow] = {
        val inner = delegate.createWriter(partitionId, taskId)
        (checks, gen) match {
          case (None, None) => inner
          case (c, g) =>
            new org.apache.spark.sql.connector.write.DataWriter[
                org.apache.spark.sql.catalyst.InternalRow] {
              override def write(r: org.apache.spark.sql.catalyst.InternalRow): Unit = {
                val out = g match { case Some(gg) => gg(r); case None => r }
                c.foreach(_.validate(out)); inner.write(out)
              }
              override def commit(): WriterCommitMessage = inner.commit()
              override def abort(): Unit = inner.abort()
              override def close(): Unit = inner.close()
            }
        }
      }
    }
  }

  /** CDC upsert mode: `.option("graft.upsertKeys", "k1,k2")` makes
    * each micro-batch a merge-on-read upsert — current rows matching
    * the batch's keys die, the batch's rows live, no data file
    * rewritten (the Flink-CDC-into-Iceberg shape). Mutually exclusive
    * with complete/truncate mode. */
  private val upsertKeys: Option[Seq[String]] =
    Option(info.options.get("graft.upsertKeys"))
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
      .filter(_.nonEmpty)

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    // WAP sessions route batch INSERTs to the audit branch and refuse
    // row-level DML; a streaming epoch can do neither (the watermark
    // and the branch head live in different metadata) — publishing
    // straight to main here would silently bypass the audit gate, so
    // refuse loudly, exactly like the DML guards.
    require(spark.conf.getOption(LakehouseTable.WapBranchConf).isEmpty,
      "streaming writes are not routed by graft.wap.branch — unset the conf " +
        "or stop the stream while the WAP session is active")
    val (stagingRel, innerWrite) = pending.getOrElse(
      throw new IllegalStateException(s"commit of epoch $epochId with no pending write"))
    pending = None
    innerWrite.commit(messages) // finalize task files into the staging dir
    val meta = TableMetadata.load(tableDir)
    val staged = CommitFiles.collect(spark, tableDir, meta.schema, meta.properties, stagingRel)
    // an empty epoch in append mode publishes nothing (no metadata
    // churn); in replace mode it must still truncate — publish anyway
    if (staged.files.isEmpty && !replace) return
    upsertKeys match {
      case Some(keys) =>
        require(!replace,
          "graft.upsertKeys and complete/truncate output mode are mutually exclusive")
        Maintenance.watermarkedUpsertPublish(spark, tableDir, staged, keys, meta,
          s"stream-${info.queryId()}", epochId)
      case None =>
        Maintenance.watermarkedPublish(spark, tableDir, staged, meta,
          s"stream-${info.queryId()}", epochId, replace)
    }
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    pending.foreach { case (stagingRel, innerWrite) =>
      pending = None
      try innerWrite.abort(messages)
      finally {
        Fs.deleteRecursively(tableDir.resolve(stagingRel))
      }
    }
  }
}
