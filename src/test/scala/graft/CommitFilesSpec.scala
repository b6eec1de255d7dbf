package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.catalog.{BloomIndex, FooterStats, Maintenance, MergeOnRead, TableMetadata}

/** Every lakehouse write stages its files through one commit core
  * (`graft.catalog.CommitFiles`). Whatever the path, a committed data
  * file stores timestamps as INT64 micros with a footer range, holds
  * at least one row, and the table reads back exactly what a plain
  * parquet read of its live files (deletes applied by the merging
  * read) returns. */
class CommitFilesSpec extends AnyFunSuite with Matchers {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val Ns = "cf"
  private val Base = 1704067200000L // 2024-01-01T00:00:00Z

  private def ts(k: Int): Timestamp = new Timestamp(Base + k * 60000L)

  private def tableDir(name: String): java.nio.file.Path =
    spark.sessionState.catalogManager.catalog("lakehouse")
      .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
      .loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(Array(Ns), name))
      .asInstanceOf[graft.catalog.LakehouseTable].tableDir

  private def footerOf(dir: java.nio.file.Path, meta: TableMetadata, f: String) =
    FooterStats.collectFull(spark.sessionState.newHadoopConf(),
      new org.apache.hadoop.fs.Path(dir.resolve(f).toString), meta.schema)

  /** The micros contract on one data file: INT64 physical type and a
    * footer min/max on `ts`. */
  private def assertMicros(path: String, footer: FooterStats.FileFooter): Unit = {
    withClue(s"$path: ") {
      footer.fields.get("ts") shouldBe Some("INT64")
      footer.cols.get("ts").exists(_.hasValues) shouldBe true
    }
  }

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[(Int, Timestamp, String)] =
    df.collect().map(r => (r.getInt(0), r.getTimestamp(1), r.getString(2))).toSeq.sortBy(_._1)

  private def view(name: String, rows: Seq[(Int, Timestamp, String)]): Unit =
    rows.toDF("k", "ts", "v").createOrReplaceTempView(name)

  private def create(name: String): Unit = {
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS lakehouse.$Ns")
    spark.sql(s"DROP TABLE IF EXISTS lakehouse.$Ns.$name")
    spark.sql(s"CREATE TABLE lakehouse.$Ns.$name (k INT, ts TIMESTAMP, v STRING)")
  }

  test("merge-on-read UPDATE and upsert write micros timestamps") {
    create("mor_ts")
    view("cf_mor_src", (0 until 6).map(k => (k, ts(k), "a")))
    spark.sql(s"INSERT INTO lakehouse.$Ns.mor_ts SELECT * FROM cf_mor_src")
    val dir = tableDir("mor_ts")
    def newFiles(before: TableMetadata): Seq[String] = {
      val after = TableMetadata.load(dir)
      after.files.filterNot(before.files.toSet.contains)
    }

    val beforeUpdate = TableMetadata.load(dir)
    MergeOnRead.morUpdateWhere(spark, "lakehouse", Seq(Ns), "mor_ts",
      col("k") === 1, Map("v" -> lit("z"))) shouldBe 1
    val updated = newFiles(beforeUpdate)
    updated should not be empty
    updated.foreach(f => assertMicros(f, footerOf(dir, beforeUpdate, f)))

    val beforeUpsert = TableMetadata.load(dir)
    MergeOnRead.morUpsert(spark, "lakehouse", Seq(Ns), "mor_ts",
      Seq((2, ts(20), "u"), (9, ts(9), "n")).toDF("k", "ts", "v"), Seq("k")) shouldBe 2
    val upserted = newFiles(beforeUpsert)
    upserted should not be empty
    upserted.foreach(f => assertMicros(f, footerOf(dir, beforeUpsert, f)))

    rowsOf(spark.table(s"lakehouse.$Ns.mor_ts")) shouldBe
      Seq((0, ts(0), "a"), (1, ts(1), "z"), (2, ts(20), "u"), (3, ts(3), "a"),
        (4, ts(4), "a"), (5, ts(5), "a"), (9, ts(9), "n"))
    spark.sql(s"DROP TABLE lakehouse.$Ns.mor_ts")
  }

  test("a copy-on-write UPDATE gives the rewritten files bloom sidecars") {
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS lakehouse.$Ns")
    spark.sql(s"DROP TABLE IF EXISTS lakehouse.$Ns.cow_bloom")
    spark.sql(s"CREATE TABLE lakehouse.$Ns.cow_bloom (k INT, v STRING)")
    // two files whose v ranges both contain the absent probe key "d",
    // so only a bloom sidecar can prove it absent
    Seq(Seq((1, "a"), (2, "c"), (3, "e")), Seq((4, "b"), (5, "f"))).zipWithIndex.foreach {
      case (rows, i) =>
        rows.toDF("k", "v").coalesce(1).createOrReplaceTempView(s"cf_bloom_$i")
        spark.sql(s"INSERT INTO lakehouse.$Ns.cow_bloom SELECT * FROM cf_bloom_$i")
    }
    BloomIndex.build(spark, "lakehouse", Seq(Ns), "cow_bloom", Seq("v"), 1000L) should be > 0
    def probeAbsent(): (Int, Int) = {
      spark.table(s"lakehouse.$Ns.cow_bloom").where($"v" === "d").count() shouldBe 0
      graft.catalog.LakehouseTable.lastScanFileCounts.get()
    }
    probeAbsent() shouldBe ((0, 2))

    spark.sql(s"UPDATE lakehouse.$Ns.cow_bloom SET v = 'b' WHERE k = 1")
    val meta = TableMetadata.load(tableDir("cow_bloom"))
    meta.snapshots.last.operation shouldBe "update"
    meta.files.size shouldBe 2
    // the rewritten file's [b, e] range still holds "d": it prunes only
    // because the COW commit built its sidecar
    probeAbsent() shouldBe ((0, 2))
    spark.table(s"lakehouse.$Ns.cow_bloom").where($"v" === "b").count() shouldBe 2
    spark.sql(s"DROP TABLE lakehouse.$Ns.cow_bloom")
  }

  test("every write path commits micros, non-empty files that a plain parquet read reproduces") {
    create("t")
    val model = scala.collection.mutable.Map[Int, (Timestamp, String)]()
    def upsertModel(rows: Seq[(Int, Timestamp, String)]): Unit =
      rows.foreach { case (k, t, v) => model(k) = (t, v) }
    def expected(): Seq[(Int, Timestamp, String)] =
      model.toSeq.map { case (k, (t, v)) => (k, t, v) }.sortBy(_._1)

    /** The checks after one path: every live data file, then the rows
      * against the oracle and the model. */
    def check(path: String, table: String = "t"): Unit = withClue(s"after $path: ") {
      val dir = tableDir(table)
      val meta = TableMetadata.load(dir)
      meta.files should not be empty
      meta.files.foreach { f =>
        val footer = footerOf(dir, meta, f)
        assertMicros(f, footer)
        withClue(s"$f: ") { footer.rows should be > 0L }
      }
      val read = rowsOf(spark.table(s"lakehouse.$Ns.$table"))
      read shouldBe rowsOf(MergeOnRead.read(spark, dir, meta, meta.files))
      read shouldBe expected()
      // the snapshot metadata the commit derived: per-file maps keyed by
      // exactly the live files, one snapshot entry per version, and the
      // head entry's file count
      meta.fileStats.keySet shouldBe meta.files.toSet
      meta.fileRows.keySet shouldBe meta.files.toSet
      meta.fileSeq.keySet shouldBe meta.files.toSet
      meta.snapshots.map(_.version) shouldBe (1 to meta.version)
      meta.snapshots.last.totalFiles shouldBe meta.files.size
    }
    val t = s"lakehouse.$Ns.t"

    // INSERT
    val initial = (0 until 16).map(k => (k, ts(k), "a"))
    view("cf_src", initial)
    spark.sql(s"INSERT INTO $t SELECT * FROM cf_src")
    upsertModel(initial)
    check("INSERT")

    // CTAS
    spark.sql(s"DROP TABLE IF EXISTS lakehouse.$Ns.c")
    spark.sql(s"CREATE TABLE lakehouse.$Ns.c AS SELECT * FROM $t")
    check("CTAS", table = "c")
    spark.sql(s"DROP TABLE lakehouse.$Ns.c")

    // copy-on-write DELETE / UPDATE / MERGE
    spark.sql(s"DELETE FROM $t WHERE k = 0")
    model -= 0
    check("COW DELETE")
    spark.sql(s"UPDATE $t SET v = 'u' WHERE k = 1")
    model(1) = (ts(1), "u")
    check("COW UPDATE")
    val cowMerge = Seq((2, ts(2), "m"), (20, ts(20), "i"))
    view("cf_merge", cowMerge)
    spark.sql(s"MERGE INTO $t AS t USING cf_merge AS s ON t.k = s.k " +
      "WHEN MATCHED THEN UPDATE SET v = s.v WHEN NOT MATCHED THEN INSERT *")
    upsertModel(cowMerge)
    check("COW MERGE")

    // merge-on-read DELETE / UPDATE / MERGE
    spark.sql(s"ALTER TABLE $t SET TBLPROPERTIES ('write.delete.mode'='merge-on-read', " +
      "'write.update.mode'='merge-on-read', 'write.merge.mode'='merge-on-read')")
    spark.sql(s"DELETE FROM $t WHERE k = 3")
    model -= 3
    check("MoR DELETE")
    spark.sql(s"UPDATE $t SET v = 'w' WHERE k = 4")
    model(4) = (ts(4), "w")
    check("MoR UPDATE")
    val morMerge = Seq((5, ts(5), "m"), (21, ts(21), "i"))
    view("cf_merge", morMerge)
    spark.sql(s"MERGE INTO $t AS t USING cf_merge AS s ON t.k = s.k " +
      "WHEN MATCHED THEN UPDATE SET v = s.v WHEN NOT MATCHED THEN INSERT *")
    upsertModel(morMerge)
    check("MoR MERGE")

    // the merge-on-read library calls
    val upserts = Seq((6, ts(60), "p"), (22, ts(22), "p"))
    MergeOnRead.morUpsert(spark, "lakehouse", Seq(Ns), "t",
      upserts.toDF("k", "ts", "v"), Seq("k")) shouldBe 2
    upsertModel(upserts)
    check("morUpsert")
    MergeOnRead.morUpdateWhere(spark, "lakehouse", Seq(Ns), "t",
      col("k") === 7, Map("v" -> lit("x"))) shouldBe 1
    model(7) = (ts(7), "x")
    check("morUpdateWhere")

    // exactly-once appends: the library call and a streaming sink
    val txn = Seq((23, ts(23), "t"))
    Maintenance.transactionalAppend(spark, "lakehouse", Seq(Ns), "t",
      txn.toDF("k", "ts", "v"), "cf-txn", 1L) shouldBe true
    upsertModel(txn)
    check("transactionalAppend")
    locally {
      implicit val sqlCtx = spark.sqlContext
      val in = MemoryStream[(Int, Timestamp, String)]
      val q = in.toDF().toDF("k", "ts", "v").writeStream
        .option("checkpointLocation", TestDirs.create("cf-ckpt-").toString)
        .outputMode(OutputMode.Append())
        .toTable(t)
      val streamed = Seq((24, ts(24), "s"), (25, ts(25), "s"))
      try {
        in.addData(streamed: _*)
        q.processAllAvailable()
      } finally q.stop()
      upsertModel(streamed)
    }
    check("streaming append")

    // a branch append published by fast_forward
    Maintenance.createBranch(spark, "lakehouse", Seq(Ns), "t", "audit")
    val branched = Seq((26, ts(26), "b"))
    Maintenance.appendToBranch(spark, "lakehouse", Seq(Ns), "t", "audit",
      branched.toDF("k", "ts", "v")) shouldBe 1L
    Maintenance.fastForward(spark, "lakehouse", Seq(Ns), "t", "audit")
    upsertModel(branched)
    check("branch append + fast_forward")

    // maintenance rewrites
    Maintenance.compact(spark, "lakehouse", Seq(Ns), "t", targetFiles = 2)
    check("compact")
    Maintenance.renameColumn(spark, "lakehouse", Seq(Ns), "t", "v", "w")
    check("rename")
    Seq(8, 9).foreach { k =>
      MergeOnRead.morDelete(spark, "lakehouse", Seq(Ns), "t", Seq(k).toDF("k")) shouldBe 1L
      model -= k
    }
    MergeOnRead.consolidateDeletes(spark, "lakehouse", Seq(Ns), "t") should be > 0
    check("consolidateDeletes")
    MergeOnRead.materializeDeletes(spark, "lakehouse", Seq(Ns), "t") should be > 0
    TableMetadata.load(tableDir("t")).deleteFiles shouldBe empty
    check("materializeDeletes")
    spark.sql(s"DROP TABLE $t")
  }
}
