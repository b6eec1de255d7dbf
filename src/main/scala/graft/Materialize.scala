package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Eager materialization pin for iterative and DML hot paths (q38's
  * prefix sums, connected components, merge-on-read UPDATE's match
  * set): cut the lineage ONCE so the expensive subplan never runs
  * twice.
  *
  * Default is `localCheckpoint` — executor-local blocks, no extra
  * I/O, the right trade on a single machine or when recompute is
  * acceptable. Its known weakness at cluster scale: a lost executor
  * loses its blocks and fails the job. Setting
  * `graft.checkpoint.reliable=true` (with
  * `sparkContext.setCheckpointDir` configured) switches every pin to
  * a RELIABLE checkpoint: blocks persist to the checkpoint filesystem
  * and survive executor loss — the 1000-executor setting, paying one
  * write+read of the pinned intermediate for fault tolerance.
  *
  * Known limitation of the plain pin (measured): the checkpointed
  * frame reports `UnknownPartitioning` (under AQE the adaptive plan's
  * partitioning is not final when the LogicalRDD wrapper is built),
  * so `pin` does NOT carry hash partitioning across the cut —
  * downstream aggregations and joins on the pinned keys re-shuffle
  * even when the pinned plan ended partitioned on them. When the
  * FIRST consumer keys on the pinned layout, use [[pinPartitionedBy]]
  * instead: it repartitions on the keys, checkpoints, and re-wraps
  * the SAME materialized RDD with the `HashPartitioning` the
  * producing exchange guaranteed — truthful by construction, no data
  * moved — so the consumer's exchange disappears. At 100 TB that is
  * one full corpus shuffle saved per dedup query. (`Dataset.persist`
  * would also preserve partitioning, but cached entries dedupe
  * across re-invocations of the same plan — benchmark samples would
  * silently measure the cache — and corpus-scale cache residency is
  * the wrong default at 100 TB.) */
object Materialize {

  val ReliableConf = "graft.checkpoint.reliable"

  def pin(df: DataFrame): DataFrame =
    if (reliable(df.sparkSession)) df.checkpoint(eager = true)
    else df.localCheckpoint(eager = true)

  /** LAZY pin for strictly-sequential iterative RDD chains (the BPE
    * rounds): marks `rdd` for checkpointing and lets the NEXT job that
    * computes it materialize it as a side effect of its own pass — one
    * job per iteration instead of two, and the producer's map fuses
    * into the consumer's scan. Only safe when consumers run in
    * SEQUENTIAL jobs: two branches of one job would race the
    * materialization. No CacheManager entry is created, so no other
    * query can read these blocks. Same reliable switch as [[pin]]; a
    * reliable checkpoint writes the RDD after that job, recomputing it
    * from its (pinned) parent, as `Dataset.checkpoint(eager = false)`
    * does. */
  def pinRdd[T](spark: SparkSession, rdd: RDD[T]): RDD[T] = {
    if (reliable(spark)) rdd.checkpoint() else rdd.localCheckpoint()
    rdd
  }

  /** Whether pins checkpoint reliably ([[ReliableConf]]); fails fast
    * when no checkpoint dir is set. */
  private def reliable(spark: SparkSession): Boolean = {
    val on = spark.conf.getOption(ReliableConf).exists(_.toBoolean)
    if (on) require(spark.sparkContext.getCheckpointDir.isDefined,
      s"$ReliableConf=true needs sparkContext.setCheckpointDir(<fault-tolerant path>)")
    on
  }

  /** Data-adaptive partition count for pinned exchanges (guide §2.2:
    * "fewer, larger reduce partitions ... let AQE coalesce"). The pins
    * bypass AQE by design — [[pinPartitionedBy]] must declare an exact
    * `HashPartitioning(keys, n)`, and AQE never coalesces a
    * user-specified repartition — so until r19 every pin site passed
    * `spark.sql.shuffle.partitions` (= the core count locally) and a
    * few-MB index got fanned into 32 micro-partitions. Frame sampling
    * (r20, q28b) showed the resulting task time was dominated by
    * per-partition FIXED cost — hash-relation builds, task-closure
    * deserialization, aggregation-map allocation, SizeEstimator — not
    * data; it also made the dedup family anti-scale with core count
    * (q37: 3.56 s cold at 32 cores vs 1.26 s at 8, r19 verdict).
    *
    * The count is derived from DATA, not cores: leaf input bytes ×
    * `expansion` (uncompression + explode growth) / the same advisory
    * partition size AQE targets for its own coalescing, clamped to
    * [1, spark.sql.shuffle.partitions]. At 100 TB the clamp binds and
    * behavior is unchanged from the r19 code; at bench SFs the pinned
    * exchanges get the few large partitions the guide asks for. A leaf
    * whose size Spark does not know (checkpointed RDDs, v2 catalog
    * relations) returns the cap — the conservative pre-r20 behavior. */
  def adaptivePinPartitions(df: DataFrame, expansion: Double = 4.0): Int = {
    val spark = df.sparkSession
    val cap = math.max(1, spark.conf.get("spark.sql.shuffle.partitions").toInt)
    var bytes = BigInt(0)
    var unknown = false
    df.queryExecution.analyzed.collectLeaves().foreach {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        bytes += BigInt(lr.relation.sizeInBytes)
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
        bytes += l.stats.sizeInBytes
      case _ => unknown = true
    }
    if (unknown || bytes <= 0) return cap
    val advisory = math.max(1L,
      try org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64MB"))
      catch { case scala.util.control.NonFatal(_) => 64L * 1024 * 1024 })
    val want = (bytes * BigInt(math.max(1L, expansion.round)) /
      BigInt(advisory)) + 1
    want.min(BigInt(cap)).max(BigInt(1)).toInt
  }

  /** Deterministic compute fan-out for a narrow scan feeding CPU-dense
    * row-local work (per-token hashing, corpus-wide substitution): the
    * bench fixtures are single-row-group parquet, so a scan is ONE
    * task and everything fused into it runs on one core. Hash-
    * repartitions on `key` to the core budget — and is a NO-OP when
    * the scan is already at least budget-wide, so at 100 TB (where
    * scans carry thousands of partitions) this never adds a shuffle.
    * Only for pipelines whose per-row compute dwarfs one narrow-row
    * shuffle write+read; overhead-bound frames want
    * [[adaptivePinPartitions]] instead. */
  def fanOutCompute(df: DataFrame, key: String): DataFrame = {
    val budget = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < budget)
      df.repartition(budget, df.col(key))
    else df
  }

  /** Partitioning-preserving pin: hash-repartition on `keys` into
    * `numPartitions`, materialize (same checkpoint modes as [[pin]]),
    * and rebuild the frame DECLARING that layout, so a downstream
    * join/aggregation clustered on `keys` adds no exchange. The
    * explicit partition count is part of the contract: AQE never
    * coalesces a user-specified repartition, so the claimed
    * `HashPartitioning(keys, numPartitions)` is exactly what the
    * producing exchange wrote. */
  def pinPartitionedBy(df: DataFrame, numPartitions: Int, keys: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "pinPartitionedBy needs at least one key column")
    val cp = pin(df.repartition(numPartitions, keys.map(df.col): _*))
    val (attrs, rdd) = org.apache.spark.sql.graftbridge.PartitionedRddBridge.checkpointedRdd(cp)
    val resolver = df.sparkSession.sessionState.analyzer.resolver
    val keyAttrs = keys.map(k => attrs.find(a => resolver(a.name, k)).getOrElse(
      throw new IllegalArgumentException(
        s"pin key '$k' not in pinned output [${attrs.map(_.name).mkString(", ")}]")))
    org.apache.spark.sql.graftbridge.PartitionedRddBridge.dataFrame(
      df.sparkSession, attrs, rdd,
      org.apache.spark.sql.catalyst.plans.physical.HashPartitioning(keyAttrs, numPartitions))
  }

  /** `.pinned` chains where `.localCheckpoint(true)` used to. */
  implicit class PinOps(private val df: DataFrame) extends AnyVal {
    def pinned: DataFrame = pin(df)
    def pinnedBy(numPartitions: Int, keys: String*): DataFrame =
      pinPartitionedBy(df, numPartitions, keys)
  }
}
