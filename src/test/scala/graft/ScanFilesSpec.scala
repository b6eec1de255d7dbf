package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.catalog.{LakehouseTable, TableMetadata}

/** The shared file-scan core ([[graft.catalog.ScanFiles]]) behind every
  * lakehouse read: a read over no files (an empty table, or every file
  * pruned) returns no rows with the non-empty read's schema through the
  * main, row-id and copy-on-write scans; a live file that has gone
  * missing fails the read instead of being skipped. */
class ScanFilesSpec extends AnyFunSuite with Matchers {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def create(name: String, layout: String = ""): String = {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS lakehouse.scanfiles_ns")
    spark.sql(s"DROP TABLE IF EXISTS lakehouse.scanfiles_ns.$name")
    spark.sql(s"CREATE TABLE lakehouse.scanfiles_ns.$name (id INT, name STRING) $layout")
    s"lakehouse.scanfiles_ns.$name"
  }

  private def scanSchemas(df: DataFrame) =
    df.queryExecution.sparkPlan.collect { case b: BatchScanExec => b.scan.readSchema() }

  test("empty and fully pruned reads return no rows through every scan") {
    val full = create("full")
    Seq.tabulate(20)(i => (i, s"n$i")).toDF("id", "name").createOrReplaceTempView("sf_src")
    spark.sql(s"INSERT INTO $full SELECT * FROM sf_src")
    val none = create("empty")
    // under v2 bucketing a bucketed scan with no files plans no buckets
    val bucketed = create("bucketed", "PARTITIONED BY (bucket(4, id))")
    val before = spark.table(full).as[(Int, String)].collect().toSet

    val rowId = LakehouseTable.RowIdColName
    val cases = Seq(none -> "true", bucketed -> "true",
      full -> "id = 999") // 999 is outside every file's range
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    try cases.foreach { case (t, cond) =>
      withClue(s"$t WHERE $cond: ") {
        // main scan
        val main = spark.sql(s"SELECT * FROM $t WHERE $cond")
        main.collect() shouldBe empty
        main.schema shouldBe spark.table(full).schema
        scanSchemas(main) shouldBe scanSchemas(spark.sql(s"SELECT * FROM $full"))
        main.queryExecution.executedPlan.toString should include ("ParquetScan (no files)")

        // row-id (positional) scan
        val pos = spark.sql(s"SELECT id, $rowId FROM $t WHERE $cond")
        pos.collect() shouldBe empty
        pos.schema shouldBe spark.sql(s"SELECT id, $rowId FROM $full").schema

        // copy-on-write rewrite scan: an UPDATE that matches nothing
        spark.sql(s"UPDATE $t SET name = 'x' WHERE $cond")
      }
    } finally spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
    spark.table(none).count() shouldBe 0
    spark.table(bucketed).count() shouldBe 0
    spark.table(full).as[(Int, String)].collect().toSet shouldBe before
    Seq("full", "empty", "bucketed").foreach(t =>
      spark.sql(s"DROP TABLE lakehouse.scanfiles_ns.$t"))
  }

  test("a missing live data file fails the read") {
    val t = create("gone")
    Seq.tabulate(20)(i => (i, s"n$i")).toDF("id", "name").createOrReplaceTempView("sf_gone")
    spark.sql(s"INSERT INTO $t SELECT * FROM sf_gone")
    val dir = Paths.get(TestSpark.warehouse, "scanfiles_ns", "gone")
    Files.delete(dir.resolve(TableMetadata.load(dir).files.head))
    val e = intercept[Exception](spark.table(t).collect())
    e.getMessage should include ("PATH_NOT_FOUND")
    spark.sql(s"DROP TABLE $t")
  }
}
