package lakebench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.connector.catalog.{Identifier, TableCatalog}
import org.apache.spark.sql.types._

import graft.catalog.{LakehouseTable, Maintenance, TableMetadata}

/** One lineitem-shaped row; `shipDay` is days since the epoch (UTC). */
final case class LineRow(
    orderkey: Long, partkey: Long, suppkey: Long, linenumber: Int,
    quantity: Double, extendedprice: Double, discount: Double, tax: Double,
    returnflag: String, linestatus: String, shipDay: Int) {
  def key: (Long, Int) = (orderkey, linenumber)
  def toRow: Row = Row(orderkey, partkey, suppkey, linenumber, quantity, extendedprice,
    discount, tax, returnflag, linestatus,
    new java.sql.Timestamp(shipDay.toLong * 86400000L))
}

object LineRow {
  val schema: StructType = StructType(Seq(
    StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
    StructField("l_suppkey", LongType), StructField("l_linenumber", IntegerType),
    StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
    StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
    StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
    StructField("l_shipdate", TimestampType)))

  /** Fixed-width size of a source row: three longs, an int, four
    * doubles, two one-letter flags and a timestamp. */
  val SourceBytes = 3 * 8 + 4 + 4 * 8 + 2 + 8

  def fromRow(r: Row): LineRow = LineRow(
    r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3), r.getDouble(4), r.getDouble(5),
    r.getDouble(6), r.getDouble(7), r.getString(8), r.getString(9),
    Math.floorDiv(r.getTimestamp(10).getTime, 86400000L).toInt)
}

/** Seeded op plan of the ingest workload. Batch `b` owns the orderkeys
  * `[b * KeysPerBatch, (b + 1) * KeysPerBatch)`, four lines each, and
  * ships on three days starting at `FirstDay + b`. Cycle `c` appends
  * batches `Window + c*Appends ...`, so after its delete the live
  * window is again `Window` batches: the table returns to the same size
  * every cycle. */
object IngestPlan {
  val KeysPerBatch = 500
  val LinesPerKey = 4
  val RowsPerBatch: Int = KeysPerBatch * LinesPerKey
  val Window = 8
  val Appends = 4
  val Reads = 12
  /** Untimed cycles in set-up. */
  val WarmCycles = 3
  val FirstDay: Int = java.time.LocalDate.parse("1998-01-01").toEpochDay.toInt
  val ReadKeys = 40
  val UpdateKeys = 10

  final case class Lookup(day: Int, lo: Long, hi: Long)
  final case class Cycle(
      index: Int,
      appends: Seq[Int],
      lookups: Seq[Lookup],
      deleteBelow: Long,
      update: (Long, Long))

  def batchRows(seed: Long, b: Int): Seq[LineRow] = {
    val rnd = new java.util.SplittableRandom(seed * 1000003L + b)
    for (k <- 0 until KeysPerBatch; ln <- 1 to LinesPerKey) yield LineRow(
      orderkey = b.toLong * KeysPerBatch + k,
      partkey = rnd.nextInt(2000).toLong,
      suppkey = rnd.nextInt(100).toLong,
      linenumber = ln,
      quantity = (1 + rnd.nextInt(50)).toDouble,
      extendedprice = (90000 + rnd.nextInt(10410000)) / 100.0,
      discount = rnd.nextInt(11) / 100.0,
      tax = rnd.nextInt(9) / 100.0,
      returnflag = "ANR".charAt(rnd.nextInt(3)).toString,
      linestatus = "FO".charAt(rnd.nextInt(2)).toString,
      shipDay = FirstDay + b + rnd.nextInt(3))
  }

  /** Live batches once cycle `c` has appended. */
  def liveAfterAppends(c: Int): Range = (c * Appends) until (Window + (c + 1) * Appends)

  def cycle(seed: Long, c: Int): Cycle = {
    val rnd = new java.util.SplittableRandom(seed * 7919L + 104729L * c + 1)
    val live = liveAfterAppends(c)
    val lookups = (0 until Reads).map { _ =>
      val b = live(rnd.nextInt(live.size))
      val lo = b.toLong * KeysPerBatch + rnd.nextInt(KeysPerBatch - ReadKeys)
      Lookup(FirstDay + b + rnd.nextInt(3), lo, lo + ReadKeys - 1)
    }
    // the delete retires the cycle's oldest `Appends` batches; the
    // update then touches a slice of a batch that stays live
    val keep = live.drop(Appends)
    val ub = keep(rnd.nextInt(keep.size))
    val ulo = ub.toLong * KeysPerBatch + rnd.nextInt(KeysPerBatch - UpdateKeys)
    Cycle(c, (Window + c * Appends) until (Window + (c + 1) * Appends), lookups,
      keep.head.toLong * KeysPerBatch, (ulo, ulo + UpdateKeys - 1))
  }
}

/** The benchmark's model of the table's live rows. */
final class RowModel {
  private val rows = mutable.TreeMap.empty[(Long, Int), LineRow]
  def size: Int = rows.size
  def append(batch: Seq[LineRow]): Unit = batch.foreach { r =>
    require(!rows.contains(r.key), s"duplicate key ${r.key}")
    rows(r.key) = r
  }
  def deleteBelow(orderkey: Long): Int = {
    val gone = rows.keysIterator.takeWhile(_._1 < orderkey).toList
    gone.foreach(rows.remove)
    gone.size
  }
  /** `UPDATE ... SET l_quantity = l_quantity + 1 WHERE l_orderkey BETWEEN lo AND hi` */
  def bumpQuantity(lo: Long, hi: Long): Int = {
    val hit = rows.range((lo, Int.MinValue), (hi + 1, Int.MinValue)).values.toList
    hit.foreach(r => rows(r.key) = r.copy(quantity = r.quantity + 1.0))
    hit.size
  }
  /** Compaction rewrites files, never rows. */
  def compact(): Unit = ()
  def lookup(day: Int, lo: Long, hi: Long): Seq[LineRow] =
    rows.range((lo, Int.MinValue), (hi + 1, Int.MinValue)).values.filter(_.shipDay == day).toSeq
  def all: Seq[LineRow] = rows.values.toSeq
}

object RowModel {
  /** Describes how `got` differs from `want`, or None when they hold the
    * same rows (order-insensitive). */
  def diff(got: Seq[LineRow], want: Seq[LineRow]): Option[String] = {
    val g = got.groupBy(identity).view.mapValues(_.size).toMap
    val w = want.groupBy(identity).view.mapValues(_.size).toMap
    if (g == w) None
    else {
      val extra = g.keySet.diff(w.keySet).take(2)
      val missing = w.keySet.diff(g.keySet).take(2)
      Some(s"rows ${got.size} vs model ${want.size}; extra $extra; missing $missing")
    }
  }
}

/** `lakehouse_ingest`: steady-state appends, lookups, row-level
  * changes and maintenance on one merge-on-read table. */
final class IngestWorkload(spark: SparkSession, run: Runner, seed: Long, warehouse: Path)
    extends Workload {
  import IngestPlan._

  val nominalRoundS = 5.0

  private val Catalog = "lakehouse"
  private val Ns: Seq[String] = Seq("bench", "ingest")
  private val Tbl = "lineitem"
  private val Fq = s"$Catalog.${Ns.mkString(".")}.$Tbl"

  private val model = new RowModel
  private val cat = spark.sessionState.catalogManager.catalog(Catalog).asInstanceOf[TableCatalog]
  private val ident = Identifier.of(Ns.toArray, Tbl)
  private lazy val tableDir: Path = cat.loadTable(ident).asInstanceOf[LakehouseTable].tableDir
  private val ledger = new Stats.FileLedger
  private var sourceBytes = 0L
  /** Bytes of catalog metadata (version files, manifest chunks) the
    * traced ops created, and of data files their compactions wrote. */
  private var manifestBytesTraced = 0L
  private var rewrittenBytesTraced = 0L

  /** State at each timed cycle end. */
  val cycleEnds = mutable.ArrayBuffer.empty[Map[String, Double]]

  private def day(d: Int): String = java.time.LocalDate.ofEpochDay(d.toLong).toString

  private def append(b: Int, timed: Boolean): Unit = {
    val rows = batchRows(seed, b)
    run.op("append", "append", timed) { ctx =>
      spark.createDataFrame(rows.map(_.toRow).asJava, LineRow.schema).createOrReplaceTempView("lb_batch")
      spark.sql(s"INSERT INTO $Fq SELECT * FROM lb_batch")
      ctx.count("rows", rows.size)
    }
    model.append(rows)
    if (timed) sourceBytes += rows.size.toLong * LineRow.SourceBytes
  }

  private def lookup(l: Lookup, timed: Boolean): Unit = {
    val filesLive = run.untimed(TableMetadata.load(tableDir).files.size)
    run.op("read", "lookup", timed) { ctx =>
      ctx.catalog("loadTable")(cat.loadTable(ident))
      val got = spark.sql(
        s"SELECT * FROM $Fq WHERE l_shipdate >= TIMESTAMP '${day(l.day)} 00:00:00' " +
          s"AND l_shipdate < TIMESTAMP '${day(l.day + 1)} 00:00:00' " +
          s"AND l_orderkey BETWEEN ${l.lo} AND ${l.hi}").collect().map(LineRow.fromRow).toSeq
      ctx.count("rows", got.size)
      ctx.count("files_live", filesLive)
      RowModel.diff(got, model.lookup(l.day, l.lo, l.hi)).foreach(ctx.mismatch)
    }
  }

  private def rowLevel(c: Cycle, timed: Boolean): Unit = {
    run.op("delete", "delete", timed) { _ =>
      spark.sql(s"DELETE FROM $Fq WHERE l_orderkey < ${c.deleteBelow}")
    }
    model.deleteBelow(c.deleteBelow)
    run.op("update", "update", timed) { _ =>
      spark.sql(s"UPDATE $Fq SET l_quantity = l_quantity + 1.0 " +
        s"WHERE l_orderkey BETWEEN ${c.update._1} AND ${c.update._2}")
    }
    model.bumpQuantity(c.update._1, c.update._2)
  }

  /** compact -> expire_snapshots -> vacuum, with zero retention and zero
    * manifest grace: safe here because the benchmark is the only writer
    * (Maintenance.expireSnapshots / Maintenance.vacuum document this). */
  private def maintain(timed: Boolean): Unit =
    run.op("maint", "maint", timed) { ctx =>
      ctx.catalog("compact")(Maintenance.compact(spark, Catalog, Ns, Tbl, targetFiles = 4))
      ctx.catalog("expire_snapshots")(
        Maintenance.expireSnapshots(spark, Catalog, Ns, Tbl, retainVersions = 1, manifestGraceMs = 0L))
      val removed = ctx.catalog("vacuum")(
        Maintenance.vacuum(spark, Catalog, Ns, Tbl, retainVersions = 1, retentionMs = 0L))
      ctx.count("files_removed", removed)
      model.compact()
    }

  private def listing(root: Path): Map[String, Long] =
    if (!Files.exists(root)) Map.empty
    else {
      val s = Files.walk(root)
      try s.iterator.asScala.filter(Files.isRegularFile(_))
        .map(p => p.toString -> Files.size(p)).toMap
      finally s.close()
    }

  private def liveDataBytes: Long =
    TableMetadata.load(tableDir).files.map(f => Files.size(tableDir.resolve(f))).sum

  /** Untimed: the table's full contents against the model, and its
    * steady-state gauges. */
  def checkTable(): Map[String, Double] = run.untimed {
    val got = spark.table(Fq).collect().map(LineRow.fromRow).toSeq
    run.check(RowModel.diff(got, model.all).map(d => s"cycle-end table check: $d"))
    val meta = TableMetadata.load(tableDir)
    val dirBytes = listing(tableDir).values.sum
    Map(
      "files_live" -> meta.files.size.toDouble,
      "delete_files_live" -> meta.deleteFiles.size.toDouble,
      // metadata versions still on disk (expire_snapshots removes the rest)
      "snapshots_live" -> TableMetadata.loadLog(tableDir).size.toDouble,
      "space_amp" -> Stats.spaceAmp(dirBytes, liveDataBytes),
      "rows_live" -> got.size.toDouble)
  }

  def setup(): Unit = {
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $Catalog.${Ns.head}")
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $Catalog.${Ns.mkString(".")}")
    spark.sql(
      s"""CREATE TABLE $Fq (l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT,
         |  l_linenumber INT, l_quantity DOUBLE, l_extendedprice DOUBLE, l_discount DOUBLE,
         |  l_tax DOUBLE, l_returnflag STRING, l_linestatus STRING, l_shipdate TIMESTAMP)
         |PARTITIONED BY (days(l_shipdate))
         |TBLPROPERTIES ('write.delete.mode'='merge-on-read',
         |  'write.update.mode'='merge-on-read', 'graft.iceberg.mirror'='true')""".stripMargin)
    // the preload window goes in as one commit
    val preload = (0 until Window).flatMap(batchRows(seed, _))
    spark.createDataFrame(preload.map(_.toRow).asJava, LineRow.schema).createOrReplaceTempView("lb_batch")
    spark.sql(s"INSERT INTO $Fq SELECT * FROM lb_batch")
    model.append(preload)
    maintain(timed = false)
    // untimed warm-up cycles: the timed cycles start from the same table
    // shape every later cycle ends in, and after the JIT has compiled
    // what the first cycles loaded
    (0 until WarmCycles).foreach(cycleOps(_, timed = false))
    checkTable()
    ledger.observe(listing(warehouse))
    ledger.resetCount()
  }

  private def cycleOps(c: Int, timed: Boolean): Unit = {
    val plan = cycle(seed, c)
    val md = TableMetadata.metadataDir(tableDir).toString + "/"
    val data = tableDir.resolve("data").toString + "/"
    def afterOp(maint: Boolean = false): Unit = if (timed) run.untimed {
      val added = ledger.observe(listing(warehouse))
      if (run.tracer.on) {
        manifestBytesTraced += added.collect {
          case (p, sz) if p.startsWith(md) && !IngestWorkload.isExport(p) => sz }.sum
        if (maint) rewrittenBytesTraced += added.collect { case (p, sz) if p.startsWith(data) => sz }.sum
      }
    }
    plan.appends.foreach { b => append(b, timed); afterOp() }
    plan.lookups.foreach { l => lookup(l, timed); afterOp() }
    rowLevel(plan, timed); afterOp()
    maintain(timed); afterOp(maint = true)
  }

  private var nextCycle = WarmCycles

  def timed(cycles: Int): Unit =
    for (_ <- 0 until cycles) {
      cycleOps(nextCycle, timed = true)
      run.roundEnd()
      cycleEnds += checkTable()
      run.heapCheckpoint()
      nextCycle += 1
    }

  def report: Map[String, Any] = Map(
    "cycle_ends" -> cycleEnds.toSeq,
    "ingest" -> IngestMetrics(run.ops.toSeq, cycleEnds.toSeq, writeAmp),
    "catalog_totals" -> Map(
      "catalog.manifest_bytes_written" -> manifestBytesTraced.toDouble,
      "maint.bytes_rewritten" -> rewrittenBytesTraced.toDouble))

  def writeAmp: Double = Stats.writeAmp(ledger.createdBytes, sourceBytes)
}

object IngestWorkload {
  /** Files of the Iceberg mirror (Avro manifests and lists, Iceberg
    * metadata JSON) as opposed to the catalog's own metadata. */
  def isExport(path: String): Boolean =
    path.endsWith(".avro") || path.endsWith(".metadata.json")
}
