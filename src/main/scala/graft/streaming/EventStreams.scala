package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Typed event record matching the batch `events` table (TESTDATA.md)
  * minus the raw props payload. */
final case class Event(event_id: Long, ts: Timestamp, user_id: Long,
    event_type: String, value: Double)

final case class SessionSummary(user_id: Long, session_start: Timestamp,
    session_end: Timestamp, n_events: Long, total_value: Double)

private final case class SessionState(start: Long, end: Long, n: Long, total: Double)

/** Structured Streaming operators over an event stream — the streaming
  * twins of the batch time-series queries (SURVEY.md §2B Q27; the
  * reference itself has no streaming, §7.4, so these follow stock
  * Structured Streaming patterns: event-time watermarks, tumbling
  * windows, and explicit session state).
  *
  * All transforms are expressed on an unbounded `DataFrame` — identical
  * code runs against `readStream` sources (files/kafka) and are tested
  * with in-memory streams. State is bounded by watermarks/timeouts, so
  * an executor's state store stays O(active keys), not O(history) —
  * the property that matters for a stream that never ends.
  */
object EventStreams {

  /** Tumbling 1-hour counts/sums per event type with a 10-minute
    * watermark: late events beyond the watermark are dropped and state
    * for closed windows is evicted. Streaming twin of batch Q27. */
  def hourlyTypeCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("cnt"), col("sum_value"))

  /** Stream–static enrichment: join the unbounded stream against a
    * bounded dimension table (e.g. a lakehouse table). Spark re-plans
    * the static side per micro-batch, so a slowly-updated dim table is
    * picked up batch by batch; with a small dim the join stays a
    * broadcast — no shuffle of the stream, no streaming state at all
    * (unlike stream–stream joins there is nothing to watermark). */
  def enrich(events: DataFrame, dim: DataFrame, joinCols: Seq[String]): DataFrame =
    events.join(broadcast(dim), joinCols, "left")

  /** Sessionization with explicit state: a session closes after `gapMs`
    * of inactivity (event-time, enforced via processing-time timeout in
    * the absence of newer events for the key). Demonstrates
    * `flatMapGroupsWithState` — arbitrary per-key state with bounded
    * lifetime, the Structured Streaming escape hatch for operators the
    * built-in aggregations can't express. */
  def sessionize(events: Dataset[Event], gapMs: Long): Dataset[SessionSummary] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionSummary](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, batch: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(SessionSummary(userId, new Timestamp(s.start),
              new Timestamp(s.end), s.n, s.total))
          } else {
            val events = batch.toSeq.sortBy(_.ts.getTime)
            var closed = List.empty[SessionSummary]
            var cur = state.getOption
            events.foreach { e =>
              val t = e.ts.getTime
              cur match {
                case Some(s) if t - s.end <= gapMs =>
                  // min: a late-but-within-watermark event from an
                  // earlier batch may PRECEDE the stored session start;
                  // keeping s.start would count it but silently absorb
                  // its time, diverging from a batch replay
                  cur = Some(SessionState(math.min(s.start, t),
                    math.max(s.end, t), s.n + 1, s.total + e.value))
                case Some(s) =>
                  closed ::= SessionSummary(userId, new Timestamp(s.start),
                    new Timestamp(s.end), s.n, s.total)
                  cur = Some(SessionState(t, t, 1, e.value))
                case None =>
                  cur = Some(SessionState(t, t, 1, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.end + gapMs)
            }
            closed.reverseIterator
          }
      }
  }

  /** Stream-stream inner join with watermarked range condition: pair
    * each click with the view by the same user within the preceding
    * hour. Both sides carry watermarks and the join has a time bound,
    * so each side's buffered state is evicted once the watermark passes
    * — the only way a stream-stream join stays O(window), not
    * O(history). */
  def clicksAfterViews(events: DataFrame): DataFrame = {
    val views = events.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("event_id").as("view_id"),
        col("ts").as("view_ts"))
      .withWatermark("view_ts", "10 minutes")
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "10 minutes")
    clicks.join(views,
      col("c_user") === col("v_user") &&
        col("view_ts") <= col("click_ts") &&
        col("view_ts") >= col("click_ts") - expr("INTERVAL 1 HOUR"))
      .select(col("c_user").as("user_id"), col("view_id"), col("click_id"),
        col("view_ts"), col("click_ts"))
  }

  /** Streaming exact dedup (the streaming twin of batch Q28): drop
    * repeated keys, with state bounded by the watermark window —
    * duplicates arriving within the watermark horizon are suppressed,
    * state for expired keys is evicted, so the dedup map never grows
    * with stream length. The first-seen row wins, like `MIN(doc_id)`
    * canonicalization batch-side. */
  def dedupStream(events: DataFrame, keyCols: Seq[String]): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark(keyCols)

  /** File-source → lakehouse-table streaming ingest: tail a directory of
    * parquet drops and append each micro-batch to a catalog table via
    * the same committed write path as batch INSERT (snapshot per
    * micro-batch; `foreachBatch` is the idiomatic bridge when the sink
    * is a table format with its own commit protocol). */
  def ingestToLakehouse(
      spark: SparkSession,
      sourceDir: String,
      sourceSchema: org.apache.spark.sql.types.StructType,
      targetTable: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    spark.readStream
      .schema(sourceSchema)
      .parquet(sourceDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        batch.writeTo(targetTable).append()
      }
      .start()

  /** [[ingestToLakehouse]] with exactly-once semantics under batch
    * RE-EXECUTION: plain foreachBatch append double-writes when the
    * sink commits but the process dies before the checkpoint advances
    * (the batch replays on restart). Here each batch lands through
    * [[graft.catalog.Maintenance.transactionalAppend]], which commits
    * the (txnId, batchId) watermark atomically with the file additions
    * — the replayed batch is recognized in the table's own metadata
    * and skipped. txnId is derived from the checkpoint location, the
    * same identity Structured Streaming scopes its batch ids to. */
  def ingestToLakehouseExactlyOnce(
      spark: SparkSession,
      sourceDir: String,
      sourceSchema: org.apache.spark.sql.types.StructType,
      catalog: String,
      namespace: Seq[String],
      table: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery = {
    // hash over the BYTE length, not the char count: for a non-ASCII
    // checkpoint path chars < bytes, and a truncated-prefix hash could
    // collide two queries' txnIds — colliding (txnId, batchId)
    // watermarks make transactionalAppend silently skip one query's
    // batches as already-committed
    val cpBytes = checkpointDir.getBytes("UTF-8")
    def cpHash(len: Int): String = java.lang.Long.toHexString(
      org.apache.spark.unsafe.hash.Murmur3_x86_32.hashUnsafeBytes(
        cpBytes, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
        len, 42) & 0xffffffffL)
    val txnId = cpHash(cpBytes.length)
    // one-time migration: an earlier scheme hashed the CHAR count (a
    // strict prefix of cpBytes for non-ASCII paths). A checkpoint that
    // already committed batches under that id must not replay them
    // after upgrade, so the old watermark is probed alongside the new
    // one (read-only — new commits advance only the new key). ASCII
    // paths hash identically and skip the probe.
    val legacyTxnId =
      if (checkpointDir.length == cpBytes.length) None
      else Some(cpHash(checkpointDir.length))
    spark.readStream
      .schema(sourceSchema)
      .parquet(sourceDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        graft.catalog.Maintenance.transactionalAppend(
          batch.sparkSession, catalog, namespace, table, batch.toDF(), txnId, batchId,
          legacyTxnId)
        ()
      }
      .start()
  }

  /** Streaming CDC apply: upsert each micro-batch into a lakehouse
    * table by key (MERGE-lite per batch — matched keys replaced,
    * new keys inserted, each batch one copy-on-write snapshot).
    * The batch is key-deduplicated keeping the latest row by `orderCol`
    * first, so an out-of-order batch still applies its newest state.
    * This is the standard Structured-Streaming-to-lakehouse CDC shape:
    * exactly-once per batch via the checkpoint + idempotent-by-key
    * apply. */
  def upsertToLakehouse(
      stream: DataFrame,
      catalog: String,
      namespace: Seq[String],
      table: String,
      keyCols: Seq[String],
      orderCol: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        val spark = batch.sparkSession
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(keyCols.map(col): _*)
          .orderBy(col(orderCol).desc)
        val latest = batch
          .withColumn("__graft_rn", row_number().over(w))
          .filter(col("__graft_rn") === 1)
          .drop("__graft_rn")
        if (!latest.isEmpty)
          graft.catalog.Maintenance.upsert(spark, catalog, namespace, table, latest, keyCols)
      }
      .start()
}
