package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.catalog.{Maintenance, MergeOnRead, TableMetadata}

/** Metadata-only parquet import (`Maintenance.addFiles`, `CALL
  * system.add_files` — Iceberg's add_files shape): existing parquet
  * files become table data files via hard link + one footer read each,
  * no row is read or rewritten. The 100 TB onboarding path: stats,
  * sequencing and pruning behave exactly as for written files.
  */
class AddFilesSpec extends AnyFunSuite with Matchers {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tableDir(ns: String, name: String): java.nio.file.Path =
    spark.sessionState.catalogManager.catalog("lakehouse")
      .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
      .loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(Array(ns), name))
      .asInstanceOf[graft.catalog.LakehouseTable].tableDir

  private def writeExternal(rows: Seq[(Int, String)], parts: Int = 2): java.nio.file.Path = {
    val dir = TestDirs.create("graft-addfiles-src-")
    rows.toDF("k", "v").repartition(parts, $"k").write.mode("overwrite")
      .parquet(dir.resolve("data").toString)
    dir.resolve("data")
  }

  test("import links files metadata-only; rows, stats, snapshot op, originals intact") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS lakehouse.af_ns")
    val t = "lakehouse.af_ns.a1"
    spark.sql(s"CREATE TABLE $t (k INT, v STRING)")
    Seq((1, "own")).toDF("k", "v").createOrReplaceTempView("af_own")
    spark.sql(s"INSERT INTO $t SELECT * FROM af_own")

    val src = writeExternal((100 until 140).map(i => (i, s"x$i")))
    val added = spark.sql(
      s"CALL lakehouse.system.add_files(ns => 'af_ns', tbl => 'a1', source_dir => '${src}')")
      .collect().head.getLong(0)
    added should be >= 1L

    // rows visible alongside the table's own data
    spark.table(t).count() shouldBe 41
    spark.table(t).where($"k" === 120).select($"v").collect().head.getString(0) shouldBe "x120"

    val meta = TableMetadata.load(tableDir("af_ns", "a1"))
    meta.snapshots.last.operation shouldBe "add_files"
    val imported = meta.files.filter(_.contains("-addfiles-"))
    imported.size.toLong shouldBe added
    // footer stats recorded → imported files are skippable + counted
    imported.foreach { f =>
      meta.fileStats(f).keySet should contain("k")
      meta.fileRows(f) should be > 0L
    }
    // hard link, not copy: same inode as the source file it came from
    val linked = tableDir("af_ns", "a1").resolve(imported.head)
    val stream = Files.list(src)
    val origMatch =
      try {
        var found = false
        stream.iterator().forEachRemaining { p =>
          if (!found && Files.isRegularFile(p) &&
            p.getFileName.toString.endsWith(".parquet") &&
            Files.isSameFile(p, linked)) found = true
        }
        found
      } finally stream.close()
    origMatch shouldBe true
    // the caller's directory is untouched and still independently readable
    spark.read.parquet(src.toString).count() shouldBe 40
    spark.sql(s"DROP TABLE $t")
  }

  test("a source file missing a table column is refused before anything links") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS lakehouse.af_ns")
    val t = "lakehouse.af_ns.a2"
    spark.sql(s"CREATE TABLE $t (k INT, v STRING, extra DOUBLE)")
    val src = writeExternal(Seq((1, "a"), (2, "b"))) // no `extra` column
    val e = intercept[IllegalArgumentException] {
      Maintenance.addFiles(spark, "lakehouse", Seq("af_ns"), "a2", src.toString)
    }
    e.getMessage should include("extra")
    // nothing imported
    TableMetadata.load(tableDir("af_ns", "a2")).files shouldBe empty
    spark.sql(s"DROP TABLE $t")
  }

  test("pending equality deletes do not apply to imported rows (commit sequencing)") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS lakehouse.af_ns")
    val t = "lakehouse.af_ns.a3"
    spark.sql(s"CREATE TABLE $t (k INT, v STRING)")
    (0 until 10).map(i => (i, s"old$i")).toDF("k", "v").createOrReplaceTempView("af3_src")
    spark.sql(s"INSERT INTO $t SELECT * FROM af3_src")
    MergeOnRead.morDelete(spark, "lakehouse", Seq("af_ns"), "a3", Seq(5).toDF("k"))
    spark.table(t).where($"k" === 5).count() shouldBe 0

    // the imported file RE-INTRODUCES k=5: it must survive the older entry
    val src = writeExternal(Seq((5, "imported")), parts = 1)
    Maintenance.addFiles(spark, "lakehouse", Seq("af_ns"), "a3", src.toString)
    val rows = spark.table(t).where($"k" === 5).collect()
    rows.length shouldBe 1
    rows.head.getString(1) shouldBe "imported"
    spark.sql(s"DROP TABLE $t")
  }

  test("add_files racing a concurrent INSERT: both commits land (append commute)") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS lakehouse.af_ns")
    val t = "lakehouse.af_ns.a5"
    spark.sql(s"CREATE TABLE $t (k INT, v STRING)")
    val src = writeExternal((1000 until 1020).map(i => (i, s"imp$i")))
    (0 until 20).map(i => (i, s"ins$i")).toDF("k", "v").createOrReplaceTempView("af5_src")

    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val fImport = Future {
      Maintenance.addFiles(spark, "lakehouse", Seq("af_ns"), "a5", src.toString)
    }
    val fInsert = Future { spark.sql(s"INSERT INTO $t SELECT * FROM af5_src") }
    Await.result(fImport, 60.seconds)
    Await.result(fInsert, 60.seconds)

    spark.table(t).count() shouldBe 40
    val meta = TableMetadata.load(tableDir("af_ns", "a5"))
    meta.snapshots.map(_.operation) should contain("add_files")
    meta.snapshots.map(_.operation) should contain("append")
    spark.sql(s"DROP TABLE $t")
  }

  test("imports that violate a CHECK constraint are refused") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS lakehouse.af_ns")
    spark.sql(
      "CREATE TABLE lakehouse.af_ns.a6 (k INT, v STRING) TBLPROPERTIES (" +
        "'graft.check.k_pos' = 'k > 0')")
    val bad = writeExternal(Seq((1, "ok"), (-4, "bad")), parts = 1)
    val e = intercept[IllegalStateException] {
      Maintenance.addFiles(spark, "lakehouse", Seq("af_ns"), "a6", bad.toString)
    }
    e.getMessage should include("k_pos")
    TableMetadata.load(tableDir("af_ns", "a6")).files shouldBe empty
    // clean files import fine on the constrained table
    val ok = writeExternal(Seq((1, "ok"), (4, "fine")), parts = 1)
    Maintenance.addFiles(spark, "lakehouse", Seq("af_ns"), "a6", ok.toString)
    spark.table("lakehouse.af_ns.a6").count() shouldBe 2
    spark.sql("DROP TABLE lakehouse.af_ns.a6")
  }

  test("a same-named column at an incompatible physical type is refused at import") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS lakehouse.af_ns")
    spark.sql("CREATE TABLE lakehouse.af_ns.a7 (k INT, v STRING)")
    // external writes k as BIGINT (parquet INT64) — a name-only check
    // would import it and poison every later scan
    val dir = Files.createTempDirectory("graft-addfiles-i64-")
    Seq((1L, "a")).toDF("k", "v").repartition(1).write.parquet(dir.resolve("data").toString)
    val e = intercept[IllegalArgumentException] {
      Maintenance.addFiles(spark, "lakehouse", Seq("af_ns"), "a7",
        dir.resolve("data").toString)
    }
    e.getMessage should include("INT64")
    TableMetadata.load(tableDir("af_ns", "a7")).files shouldBe empty
    spark.sql("DROP TABLE lakehouse.af_ns.a7")
  }

  test("bucketed tables are refused") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS lakehouse.af_ns")
    val t = "lakehouse.af_ns.a4"
    spark.sql(
      s"CREATE TABLE $t (k INT, v STRING) TBLPROPERTIES (" +
        "'graft.bucket.column'='k', 'graft.bucket.count'='4')")
    val src = writeExternal(Seq((1, "a")))
    val e = intercept[IllegalArgumentException] {
      Maintenance.addFiles(spark, "lakehouse", Seq("af_ns"), "a4", src.toString)
    }
    e.getMessage should include("bucket")
    spark.sql(s"DROP TABLE $t")
  }
}
