package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.catalog.{DeletionVectors, MergeOnRead, TableMetadata}

/** Deletion vectors for consolidated positional deletes
  * ([[graft.catalog.DeletionVectors]]): the merged read of a dirty
  * file applies a codegen'd per-row probe instead of an anti-join.
  * Pins: (1) no join in the merged read's plan once a vector exists,
  * (2) row-set parity with the entry-based (anti-join) read of a twin
  * table consolidated without a vector, (3) blob
  * round-trip + vacuum retention. */
class DeletionVectorSpec extends AnyFunSuite with Matchers {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("blob format round-trips, delta-varint, sorted, multi-file") {
    val dir = java.nio.file.Files.createTempDirectory("dv")
    val positions = Map(
      "data/c1/a.parquet" -> Array(0L, 1L, 2L, 100L, 1000000L),
      "data/c2/b.parquet" -> Array(7L),
      "data/c3/empty-run.parquet" -> Array.empty[Long])
    DeletionVectors.write(dir, "deletes/dv1-test.bin", positions)
    DeletionVectors.clearCacheForTesting()
    val back = DeletionVectors.read(dir, "deletes/dv1-test.bin")
    back.keySet shouldBe positions.keySet
    positions.foreach { case (f, ps) => back(f).toSeq shouldBe ps.toSeq }
    // cache path returns the same content
    DeletionVectors.read(dir, "deletes/dv1-test.bin")("data/c2/b.parquet").toSeq shouldBe Seq(7L)
  }

  /** A merge-on-read table with two positional MERGE entries, ready to
    * consolidate. */
  private def twoEntryTable(name: String): java.nio.file.Path = {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS lakehouse.dv_ns")
    spark.sql(s"DROP TABLE IF EXISTS lakehouse.dv_ns.$name")
    spark.sql(s"CREATE TABLE lakehouse.dv_ns.$name (k INT, v STRING) " +
      "TBLPROPERTIES ('graft.merge.mode'='merge-on-read')")
    (0 until 200).map(i => (i, s"v$i")).toDF("k", "v")
      .createOrReplaceTempView("dv_src")
    spark.sql(s"INSERT INTO lakehouse.dv_ns.$name SELECT * FROM dv_src")
    // two positional MERGEs → two positional entries → consolidatable
    Seq((5, "u5"), (6, "u6")).toDF("k", "v").createOrReplaceTempView("dv_chg1")
    spark.sql(s"""MERGE INTO lakehouse.dv_ns.$name t USING dv_chg1 s ON t.k = s.k
                |WHEN MATCHED THEN UPDATE SET t.v = s.v""".stripMargin)
    Seq((7, "u7"), (8, "u8")).toDF("k", "v").createOrReplaceTempView("dv_chg2")
    spark.sql(s"""MERGE INTO lakehouse.dv_ns.$name t USING dv_chg2 s ON t.k = s.k
                |WHEN MATCHED THEN UPDATE SET t.v = s.v""".stripMargin)
    val dir = java.nio.file.Paths.get(TestSpark.warehouse, "dv_ns", name)
    TableMetadata.load(dir).deleteFiles.count(_.isPositional) shouldBe 2
    dir
  }

  test("consolidated positional deletes read join-free via the vector, identical rows") {
    val dir = twoEntryTable("t")
    spark.sql("CALL lakehouse.system.consolidate_deletes('dv_ns', 't')")
    val meta = TableMetadata.load(dir)
    val pos = meta.deleteFiles.filter(_.isPositional)
    pos should have size 1
    pos.head.vector should not be ""
    java.nio.file.Files.exists(dir.resolve(pos.head.vector)) shouldBe true

    // the merged read: NO join anywhere — the vector probe replaced it
    val df = spark.table("lakehouse.dv_ns.t")
    df.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    } shouldBe empty
    df.count()
    val physical = df.queryExecution.executedPlan.toString
    physical should not include "Join"
    physical should include("pos_deleted") // the probe is IN the plan

    // parity: a twin table consolidated under a one-position cap keeps
    // the entry-based anti-join read, and returns the same rows
    val viaVector = df.orderBy($"k").as[(Int, String)].collect().toSeq
    val twinDir = twoEntryTable("twin")
    spark.conf.set(DeletionVectors.MaxPositionsConf, "1")
    try {
      spark.sql("CALL lakehouse.system.consolidate_deletes('dv_ns', 'twin')")
    } finally spark.conf.unset(DeletionVectors.MaxPositionsConf)
    TableMetadata.load(twinDir).deleteFiles.filter(_.isPositional).map(_.vector) shouldBe Seq("")
    val twin = spark.table("lakehouse.dv_ns.twin")
    twin.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    } should not be empty // the anti-join path is genuinely different
    twin.orderBy($"k").as[(Int, String)].collect().toSeq shouldBe viaVector
    spark.sql("DROP TABLE lakehouse.dv_ns.twin")
    viaVector.size shouldBe 200
    viaVector.filter(r => r._1 >= 5 && r._1 <= 8).map(_._2) shouldBe
      Seq("u5", "u6", "u7", "u8")

    // vacuum keeps the referenced blob
    graft.catalog.Maintenance.vacuum(spark, "lakehouse", Seq("dv_ns"), "t",
      retainVersions = 1, retentionMs = 0L)
    java.nio.file.Files.exists(dir.resolve(pos.head.vector)) shouldBe true
    spark.table("lakehouse.dv_ns.t").count() shouldBe 200
    spark.sql("DROP TABLE lakehouse.dv_ns.t")
  }

  test("vectorize_deletes attaches a vector to a SINGLE positional entry; read goes join-free") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS lakehouse.dv_ns")
    spark.sql("DROP TABLE IF EXISTS lakehouse.dv_ns.one")
    spark.sql("CREATE TABLE lakehouse.dv_ns.one (k INT, v STRING) " +
      "TBLPROPERTIES ('graft.merge.mode'='merge-on-read')")
    (0 until 100).map(i => (i, s"v$i")).toDF("k", "v").createOrReplaceTempView("dv1_src")
    spark.sql("INSERT INTO lakehouse.dv_ns.one SELECT * FROM dv1_src")
    Seq((3, "u3"), (4, "u4")).toDF("k", "v").createOrReplaceTempView("dv1_chg")
    spark.sql("""MERGE INTO lakehouse.dv_ns.one t USING dv1_chg s ON t.k = s.k
                |WHEN MATCHED THEN UPDATE SET t.v = s.v""".stripMargin)
    val dir = java.nio.file.Paths.get(TestSpark.warehouse, "dv_ns", "one")
    // one entry — consolidation would no-op (needs >= 2); the
    // standalone call covers exactly this table
    spark.sql("CALL lakehouse.system.vectorize_deletes('dv_ns', 'one')")
      .collect()(0).getLong(0) should be >= 1L
    val pos = TableMetadata.load(dir).deleteFiles.filter(_.isPositional)
    all(pos.map(_.vector)) should not be ""
    val df = spark.table("lakehouse.dv_ns.one")
    df.count() shouldBe 100
    df.queryExecution.executedPlan.toString should not include "Join"
    df.where($"k" === 3).collect()(0).getString(1) shouldBe "u3"
    // idempotent: a second call vectorizes nothing
    spark.sql("CALL lakehouse.system.vectorize_deletes('dv_ns', 'one')")
      .collect()(0).getLong(0) shouldBe 0L
    spark.sql("DROP TABLE lakehouse.dv_ns.one")
  }

  test("oversized groups skip the vector and keep the anti-join (bounded broadcast)") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS lakehouse.dv_ns")
    spark.sql("DROP TABLE IF EXISTS lakehouse.dv_ns.big")
    spark.sql("CREATE TABLE lakehouse.dv_ns.big (k INT, v STRING) " +
      "TBLPROPERTIES ('graft.merge.mode'='merge-on-read')")
    (0 until 100).map(i => (i, s"v$i")).toDF("k", "v")
      .createOrReplaceTempView("dvb_src")
    spark.sql("INSERT INTO lakehouse.dv_ns.big SELECT * FROM dvb_src")
    Seq((1, "x"), (2, "x")).toDF("k", "v").createOrReplaceTempView("dvb_chg1")
    spark.sql("""MERGE INTO lakehouse.dv_ns.big t USING dvb_chg1 s ON t.k = s.k
                |WHEN MATCHED THEN UPDATE SET t.v = s.v""".stripMargin)
    Seq((3, "x"), (4, "x")).toDF("k", "v").createOrReplaceTempView("dvb_chg2")
    spark.sql("""MERGE INTO lakehouse.dv_ns.big t USING dvb_chg2 s ON t.k = s.k
                |WHEN MATCHED THEN UPDATE SET t.v = s.v""".stripMargin)
    // a cap below the group's tuple count → no vector written
    spark.conf.set(DeletionVectors.MaxPositionsConf, "1")
    try {
      spark.sql("CALL lakehouse.system.consolidate_deletes('dv_ns', 'big')")
    } finally spark.conf.unset(DeletionVectors.MaxPositionsConf)
    val dir = java.nio.file.Paths.get(TestSpark.warehouse, "dv_ns", "big")
    val pos = TableMetadata.load(dir).deleteFiles.filter(_.isPositional)
    pos should have size 1
    pos.head.vector shouldBe ""
    spark.table("lakehouse.dv_ns.big").count() shouldBe 100
    spark.sql("DROP TABLE lakehouse.dv_ns.big")
  }
}
