package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** SQL row-level DML through SupportsRowLevelOperations, both write
  * strategies: group-based copy-on-write ReplaceData plans (default —
  * read-optimal, replaced files rewritten) and delta WriteDelta plans
  * (`write.{merge,update,delete}.mode=merge-on-read` — write-optimal,
  * positional delete entries + new row versions, zero files
  * rewritten).
  */
class MergeSqlSpec extends AnyFunSuite with Matchers {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def mkTable(name: String, rows: Seq[(Int, String, Double)]): Unit = {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS lakehouse.merge_ns")
    spark.sql(s"DROP TABLE IF EXISTS lakehouse.merge_ns.$name")
    spark.sql(s"CREATE TABLE lakehouse.merge_ns.$name (id INT, name STRING, amt DOUBLE)")
    rows.toDF("id", "name", "amt").createOrReplaceTempView(s"${name}_src")
    spark.sql(s"INSERT INTO lakehouse.merge_ns.$name SELECT * FROM ${name}_src")
  }

  test("MERGE INTO updates matches, inserts new rows, deletes on clause") {
    mkTable("m1", Seq((1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)))
    Seq((2, "b2", 99.0), (3, "drop", 0.0), (4, "d", 40.0))
      .toDF("id", "name", "amt").createOrReplaceTempView("m1_changes")

    spark.sql("""MERGE INTO lakehouse.merge_ns.m1 t
                |USING m1_changes s ON t.id = s.id
                |WHEN MATCHED AND s.name = 'drop' THEN DELETE
                |WHEN MATCHED THEN UPDATE SET t.name = s.name, t.amt = s.amt
                |WHEN NOT MATCHED THEN INSERT (id, name, amt) VALUES (s.id, s.name, s.amt)
                |""".stripMargin)

    val out = spark.table("lakehouse.merge_ns.m1")
      .orderBy($"id").as[(Int, String, Double)].collect().toSeq
    out shouldBe Seq((1, "a", 10.0), (2, "b2", 99.0), (4, "d", 40.0))

    // history records the COW merge commit
    spark.sql("SELECT operation FROM lakehouse.merge_ns.m1.history ORDER BY version")
      .collect().last.getString(0) shouldBe "merge"
    spark.sql("DROP TABLE lakehouse.merge_ns.m1")
  }

  test("SQL UPDATE rewrites matching rows") {
    mkTable("m2", Seq((1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)))
    spark.sql("UPDATE lakehouse.merge_ns.m2 SET amt = amt * 2 WHERE id >= 2")
    spark.table("lakehouse.merge_ns.m2").orderBy($"id")
      .as[(Int, String, Double)].collect().toSeq shouldBe
      Seq((1, "a", 10.0), (2, "b", 40.0), (3, "c", 60.0))
    spark.sql("DROP TABLE lakehouse.merge_ns.m2")
  }

  test("DELETE with a non-convertible predicate takes the row-level path") {
    mkTable("m3", Seq((1, "aa", 1.0), (2, "bbb", 2.0), (3, "c", 3.0)))
    // length(name) is not a DSv2 sources.Filter → canDeleteWhere=false →
    // Spark falls back to the group-based COW rewrite instead of failing
    spark.sql("DELETE FROM lakehouse.merge_ns.m3 WHERE length(name) >= 3")
    spark.table("lakehouse.merge_ns.m3").orderBy($"id")
      .as[(Int, String, Double)].collect().toSeq shouldBe
      Seq((1, "aa", 1.0), (3, "c", 3.0))
    spark.sql("DROP TABLE lakehouse.merge_ns.m3")
  }

  test("COW update replaces only files whose stats admit matches") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS lakehouse.merge_ns")
    spark.sql("DROP TABLE IF EXISTS lakehouse.merge_ns.m4")
    spark.sql("CREATE TABLE lakehouse.merge_ns.m4 (id INT, v STRING)")
    // two commits with disjoint id ranges → two files with disjoint stats
    Seq.tabulate(50)(i => (i, s"lo$i")).toDF("id", "v").createOrReplaceTempView("m4_lo")
    spark.sql("INSERT INTO lakehouse.merge_ns.m4 SELECT * FROM m4_lo")
    Seq.tabulate(50)(i => (1000 + i, s"hi$i")).toDF("id", "v").createOrReplaceTempView("m4_hi")
    spark.sql("INSERT INTO lakehouse.merge_ns.m4 SELECT * FROM m4_hi")
    val before = spark.sql("SELECT file_path FROM lakehouse.merge_ns.m4.files")
      .collect().map(_.getString(0)).toSet

    // static predicate confined to the hi range: the row-level scan
    // stats-prunes the lo file, which must survive BY REFERENCE
    spark.sql("UPDATE lakehouse.merge_ns.m4 SET v = 'HI' WHERE id >= 1000")

    spark.table("lakehouse.merge_ns.m4").count() shouldBe 100
    spark.table("lakehouse.merge_ns.m4").where($"id" >= 1000)
      .select($"v").distinct().as[String].collect().toSeq shouldBe Seq("HI")
    spark.table("lakehouse.merge_ns.m4").where($"id" < 1000 && $"v".startsWith("lo"))
      .count() shouldBe 50

    val after = spark.sql("SELECT file_path FROM lakehouse.merge_ns.m4.files")
      .collect().map(_.getString(0)).toSet
    (after intersect before) should not be empty // lo file carried by reference
    after.exists(_.contains("-update-")) shouldBe true

    // MERGE with a non-literal source has no statically pushable
    // predicate → whole-table COW (correct, just wider); assert it
    // still converges and commits as one snapshot
    Seq((5, "LO5"), (3000, "NEW")).toDF("id", "v").createOrReplaceTempView("m4_chg")
    spark.sql("""MERGE INTO lakehouse.merge_ns.m4 t USING m4_chg s ON t.id = s.id
                |WHEN MATCHED THEN UPDATE SET t.v = s.v
                |WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)
                |""".stripMargin)
    spark.table("lakehouse.merge_ns.m4").count() shouldBe 101
    spark.table("lakehouse.merge_ns.m4").where($"id" === 5)
      .select($"v").as[String].collect().toSeq shouldBe Seq("LO5")
    spark.sql("DROP TABLE lakehouse.merge_ns.m4")
  }

  test("MERGE on a partitioned table runtime-prunes untouched partitions") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS lakehouse.merge_ns")
    spark.sql("DROP TABLE IF EXISTS lakehouse.merge_ns.m5")
    spark.sql("CREATE TABLE lakehouse.merge_ns.m5 (day STRING, id INT, v STRING) PARTITIONED BY (day)")
    // two commits, one partition value each → disjoint day stats per file
    Seq.tabulate(40)(i => ("2024-01-01", i, s"a$i")).toDF("day", "id", "v")
      .createOrReplaceTempView("m5_d1")
    spark.sql("INSERT INTO lakehouse.merge_ns.m5 SELECT * FROM m5_d1")
    Seq.tabulate(40)(i => ("2024-01-02", i, s"b$i")).toDF("day", "id", "v")
      .createOrReplaceTempView("m5_d2")
    spark.sql("INSERT INTO lakehouse.merge_ns.m5 SELECT * FROM m5_d2")
    val before = spark.sql("SELECT file_path FROM lakehouse.merge_ns.m5.files")
      .collect().map(_.getString(0)).toSet

    // daily-delta merge touching only day 2: the runtime group filter
    // (DISTINCT day of ON-matched rows) must leave day 1's file intact
    Seq(("2024-01-02", 7, "B7")).toDF("day", "id", "v").createOrReplaceTempView("m5_chg")
    spark.sql("""MERGE INTO lakehouse.merge_ns.m5 t USING m5_chg s
                |ON t.day = s.day AND t.id = s.id
                |WHEN MATCHED THEN UPDATE SET t.v = s.v
                |WHEN NOT MATCHED THEN INSERT (day, id, v) VALUES (s.day, s.id, s.v)
                |""".stripMargin)

    spark.table("lakehouse.merge_ns.m5").count() shouldBe 80
    spark.table("lakehouse.merge_ns.m5").where($"day" === "2024-01-02" && $"id" === 7)
      .select($"v").as[String].collect().toSeq shouldBe Seq("B7")
    spark.table("lakehouse.merge_ns.m5").where($"day" === "2024-01-01").count() shouldBe 40

    val after = spark.sql("SELECT file_path FROM lakehouse.merge_ns.m5.files")
      .collect().map(_.getString(0)).toSet
    (after intersect before) should not be empty // day-1 file carried by reference
    after.exists(_.contains("-merge-")) shouldBe true
    spark.sql("DROP TABLE lakehouse.merge_ns.m5")
  }

  private def files(t: String): Set[String] =
    spark.sql(s"SELECT file_path FROM lakehouse.merge_ns.$t.files")
      .collect().map(_.getString(0)).toSet

  test("merge-on-read MERGE rewrites no data file and commits one delta snapshot") {
    mkTable("m6", Seq((1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)))
    // no graft.key needed: row identity is positional (_graft_row_id)
    spark.sql("""ALTER TABLE lakehouse.merge_ns.m6 SET TBLPROPERTIES
                |('write.merge.mode'='merge-on-read')""".stripMargin)
    val before = files("m6")
    Seq((2, "b2", 99.0), (3, "drop", 0.0), (4, "d", 40.0))
      .toDF("id", "name", "amt").createOrReplaceTempView("m6_changes")

    spark.sql("""MERGE INTO lakehouse.merge_ns.m6 t
                |USING m6_changes s ON t.id = s.id
                |WHEN MATCHED AND s.name = 'drop' THEN DELETE
                |WHEN MATCHED THEN UPDATE SET t.name = s.name, t.amt = s.amt
                |WHEN NOT MATCHED THEN INSERT (id, name, amt) VALUES (s.id, s.name, s.amt)
                |""".stripMargin)

    spark.table("lakehouse.merge_ns.m6").orderBy($"id")
      .as[(Int, String, Double)].collect().toSeq shouldBe
      Seq((1, "a", 10.0), (2, "b2", 99.0), (4, "d", 40.0))

    // every pre-existing data file carried by reference, delta files added
    val after = files("m6")
    (before -- after) shouldBe empty
    // the delete side landed as an equality-delete entry, not a rewrite
    spark.sql("SELECT count(*) FROM lakehouse.merge_ns.m6.delete_files")
      .collect().head.getLong(0) should be >= 1L
    spark.sql("SELECT operation FROM lakehouse.merge_ns.m6.history ORDER BY version")
      .collect().last.getString(0) shouldBe "mor-merge"
    spark.sql("DROP TABLE lakehouse.merge_ns.m6")
  }

  test("merge-on-read MERGE on a dirty table re-inserts, never resurrects") {
    mkTable("m7", Seq((1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)))
    spark.sql("""ALTER TABLE lakehouse.merge_ns.m7 SET TBLPROPERTIES
                |('graft.key'='id', 'graft.merge.mode'='merge-on-read',
                | 'graft.delete.mode'='merge-on-read')""".stripMargin)
    // make the table dirty: a pending equality delete of id=2
    spark.sql("DELETE FROM lakehouse.merge_ns.m7 WHERE id = 2")
    spark.sql("SELECT count(*) FROM lakehouse.merge_ns.m7.delete_files")
      .collect().head.getLong(0) should be >= 1L
    spark.table("lakehouse.merge_ns.m7").count() shouldBe 2

    // id=2 is deleted → NOT MATCHED → INSERT must fire (a raw read
    // would see the dead row, match it, and resurrect the old version
    // only when the update doesn't cover every column — assert the
    // inserted marker survives)
    Seq((2, "reborn", 222.0), (3, "c2", 33.0))
      .toDF("id", "name", "amt").createOrReplaceTempView("m7_changes")
    spark.sql("""MERGE INTO lakehouse.merge_ns.m7 t
                |USING m7_changes s ON t.id = s.id
                |WHEN MATCHED THEN UPDATE SET t.amt = s.amt
                |WHEN NOT MATCHED THEN INSERT (id, name, amt) VALUES (s.id, s.name, s.amt)
                |""".stripMargin)

    spark.table("lakehouse.merge_ns.m7").orderBy($"id")
      .as[(Int, String, Double)].collect().toSeq shouldBe
      Seq((1, "a", 10.0), (2, "reborn", 222.0), (3, "c", 33.0))
    spark.sql("DROP TABLE lakehouse.merge_ns.m7")
  }

  test("merge-on-read SQL UPDATE costs O(matched rows), key reassignment included") {
    mkTable("m8", Seq((1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)))
    spark.sql("""ALTER TABLE lakehouse.merge_ns.m8 SET TBLPROPERTIES
                |('write.update.mode'='merge-on-read')""".stripMargin)
    val before = files("m8")
    spark.sql("UPDATE lakehouse.merge_ns.m8 SET amt = amt * 2 WHERE id >= 2")
    spark.table("lakehouse.merge_ns.m8").orderBy($"id")
      .as[(Int, String, Double)].collect().toSeq shouldBe
      Seq((1, "a", 10.0), (2, "b", 40.0), (3, "c", 60.0))
    (before -- files("m8")) shouldBe empty
    spark.sql("SELECT operation FROM lakehouse.merge_ns.m8.history ORDER BY version")
      .collect().last.getString(0) shouldBe "mor-update"

    // key-reassigning update: the delta must delete the OLD key (3)
    spark.sql("UPDATE lakehouse.merge_ns.m8 SET id = 30 WHERE id = 3")
    spark.table("lakehouse.merge_ns.m8").orderBy($"id")
      .as[(Int, String, Double)].collect().toSeq shouldBe
      Seq((1, "a", 10.0), (2, "b", 40.0), (30, "c", 60.0))
    spark.sql("DROP TABLE lakehouse.merge_ns.m8")
  }

  test("merge-on-read MERGE handles NOT MATCHED BY SOURCE (full-outer delta)") {
    mkTable("m13", Seq((1, "keep", 10.0), (2, "stale", 20.0), (3, "stale", 30.0)))
    spark.sql("""ALTER TABLE lakehouse.merge_ns.m13 SET TBLPROPERTIES
                |('write.merge.mode'='merge-on-read')""".stripMargin)
    val before = files("m13")
    // sync-to-source: update matches, insert new, delete target rows
    // the source no longer carries — the classic snapshot-sync MERGE
    Seq((1, "keep2", 11.0), (4, "new", 40.0))
      .toDF("id", "name", "amt").createOrReplaceTempView("m13_changes")
    spark.sql("""MERGE INTO lakehouse.merge_ns.m13 t
                |USING m13_changes s ON t.id = s.id
                |WHEN MATCHED THEN UPDATE SET t.name = s.name, t.amt = s.amt
                |WHEN NOT MATCHED THEN INSERT (id, name, amt) VALUES (s.id, s.name, s.amt)
                |WHEN NOT MATCHED BY SOURCE THEN DELETE
                |""".stripMargin)
    spark.table("lakehouse.merge_ns.m13").orderBy($"id")
      .as[(Int, String, Double)].collect().toSeq shouldBe
      Seq((1, "keep2", 11.0), (4, "new", 40.0))
    (before -- files("m13")) shouldBe empty // still no rewrite
    spark.sql("DROP TABLE lakehouse.merge_ns.m13")
  }

  test("_graft_row_id is a queryable row identity, dead rows excluded") {
    mkTable("m12", Seq((1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)))
    // clean table: every row carries a distinct (file, pos)
    val ids = spark.sql(
      "SELECT id, _graft_row_id.file AS f, _graft_row_id.pos AS p FROM lakehouse.merge_ns.m12")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    ids.length shouldBe 3
    ids.map(r => (r._2, r._3)).distinct.length shouldBe 3
    ids.foreach(_._2 should startWith("data/"))

    // dirty table (pending MoR delete): the dead row has no identity
    spark.sql("""ALTER TABLE lakehouse.merge_ns.m12 SET TBLPROPERTIES
                |('graft.delete.mode'='merge-on-read')""".stripMargin)
    spark.sql("DELETE FROM lakehouse.merge_ns.m12 WHERE id = 2")
    spark.sql("SELECT count(*) FROM lakehouse.merge_ns.m12.delete_files")
      .collect().head.getLong(0) should be >= 1L
    spark.sql("SELECT id FROM lakehouse.merge_ns.m12 WHERE _graft_row_id.pos >= 0 ORDER BY id")
      .collect().map(_.getInt(0)).toSeq shouldBe Seq(1, 3)
    spark.sql("DROP TABLE lakehouse.merge_ns.m12")
  }

  test("compaction folds a MoR MERGE's positional deltas back to join-free scans") {
    mkTable("m10", Seq((1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)))
    spark.sql("""ALTER TABLE lakehouse.merge_ns.m10 SET TBLPROPERTIES
                |('write.merge.mode'='merge-on-read')""".stripMargin)
    Seq((2, "b2", 99.0), (3, "drop", 0.0), (4, "d", 40.0))
      .toDF("id", "name", "amt").createOrReplaceTempView("m10_changes")
    spark.sql("""MERGE INTO lakehouse.merge_ns.m10 t
                |USING m10_changes s ON t.id = s.id
                |WHEN MATCHED AND s.name = 'drop' THEN DELETE
                |WHEN MATCHED THEN UPDATE SET t.name = s.name, t.amt = s.amt
                |WHEN NOT MATCHED THEN INSERT (id, name, amt) VALUES (s.id, s.name, s.amt)
                |""".stripMargin)
    spark.sql("SELECT count(*) FROM lakehouse.merge_ns.m10.delete_files")
      .collect().head.getLong(0) should be >= 1L

    graft.catalog.Maintenance.compact(spark, "lakehouse", Seq("merge_ns"), "m10")
    // entries materialized away; results identical through the rewrite
    spark.sql("SELECT count(*) FROM lakehouse.merge_ns.m10.delete_files")
      .collect().head.getLong(0) shouldBe 0L
    spark.table("lakehouse.merge_ns.m10").orderBy($"id")
      .as[(Int, String, Double)].collect().toSeq shouldBe
      Seq((1, "a", 10.0), (2, "b2", 99.0), (4, "d", 40.0))
    spark.sql("DROP TABLE lakehouse.merge_ns.m10")
  }

  test("merge-on-read MERGE on a partitioned table runtime-prunes untouched partitions") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS lakehouse.merge_ns")
    spark.sql("DROP TABLE IF EXISTS lakehouse.merge_ns.m11")
    spark.sql("DROP TABLE IF EXISTS lakehouse.merge_ns.m11_src")
    spark.sql("""CREATE TABLE lakehouse.merge_ns.m11 (day STRING, id INT, v STRING)
                |PARTITIONED BY (day) TBLPROPERTIES ('write.merge.mode'='merge-on-read')
                |""".stripMargin)
    Seq.tabulate(40)(i => ("2024-01-01", i, s"a$i")).toDF("day", "id", "v")
      .createOrReplaceTempView("m11_d1")
    spark.sql("INSERT INTO lakehouse.merge_ns.m11 SELECT * FROM m11_d1")
    Seq.tabulate(40)(i => ("2024-01-02", i, s"b$i")).toDF("day", "id", "v")
      .createOrReplaceTempView("m11_d2")
    spark.sql("INSERT INTO lakehouse.merge_ns.m11 SELECT * FROM m11_d2")
    // the daily-delta pattern at 100 TB: the ON clause carries the
    // partition conjunct STATICALLY (`t.day = '2024-01-02'`, Iceberg's
    // recommended MERGE shape — Spark's DPP defaults won't runtime-
    // prune a sort-merge-joined MERGE target), so the delta target
    // scan file-skips day 1 before any task reads it
    spark.sql("CREATE TABLE lakehouse.merge_ns.m11_src (day STRING, id INT, v STRING)")
    Seq(("2024-01-02", 7, "B7"), ("2024-01-01", 99, "IGNORED"))
      .toDF("day", "id", "v").createOrReplaceTempView("m11_chg")
    spark.sql("INSERT INTO lakehouse.merge_ns.m11_src SELECT * FROM m11_chg")

    spark.sql("""MERGE INTO lakehouse.merge_ns.m11 t
                |USING (SELECT * FROM lakehouse.merge_ns.m11_src WHERE day = '2024-01-02') s
                |ON t.day = s.day AND t.id = s.id AND t.day = '2024-01-02'
                |WHEN MATCHED THEN UPDATE SET t.v = s.v
                |WHEN NOT MATCHED THEN INSERT (day, id, v) VALUES (s.day, s.id, s.v)
                |""".stripMargin)
    val (survivors, total) = graft.catalog.LakehouseTable.lastPositionalScanFileCounts

    spark.table("lakehouse.merge_ns.m11").count() shouldBe 80
    spark.table("lakehouse.merge_ns.m11").where($"day" === "2024-01-02" && $"id" === 7)
      .select($"v").as[String].collect().toSeq shouldBe Seq("B7")
    spark.table("lakehouse.merge_ns.m11").where($"day" === "2024-01-01").count() shouldBe 40

    total should be >= 2
    survivors should be < total // day-1's file never read
    spark.sql("DROP TABLE lakehouse.merge_ns.m11")
    spark.sql("DROP TABLE lakehouse.merge_ns.m11_src")
  }

  test("MoR MERGE target prunes from the runtime filter alone — no static conjunct") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS lakehouse.merge_ns")
    spark.sql("DROP TABLE IF EXISTS lakehouse.merge_ns.rp")
    spark.sql("DROP TABLE IF EXISTS lakehouse.merge_ns.rp_src")
    spark.sql("""CREATE TABLE lakehouse.merge_ns.rp (day STRING, id INT, v STRING)
                |PARTITIONED BY (day) TBLPROPERTIES ('write.merge.mode'='merge-on-read')
                |""".stripMargin)
    Seq.tabulate(40)(i => ("2024-01-01", i, s"a$i")).toDF("day", "id", "v")
      .createOrReplaceTempView("rp_d1")
    spark.sql("INSERT INTO lakehouse.merge_ns.rp SELECT * FROM rp_d1")
    Seq.tabulate(40)(i => ("2024-01-02", i, s"b$i")).toDF("day", "id", "v")
      .createOrReplaceTempView("rp_d2")
    spark.sql("INSERT INTO lakehouse.merge_ns.rp SELECT * FROM rp_d2")
    spark.sql("CREATE TABLE lakehouse.merge_ns.rp_src (day STRING, id INT, v STRING)")
    Seq(("2024-01-02", 7, "B7"), ("2024-01-02", 99, "NEW99"))
      .toDF("day", "id", "v").createOrReplaceTempView("rp_chg")
    spark.sql("INSERT INTO lakehouse.merge_ns.rp_src SELECT * FROM rp_chg")

    // the natural daily-upsert query: NO `t.day = '…'` conjunct, and the
    // source filter (id <> 0, non-literal on day) infers nothing onto
    // the target — only DeltaTargetPruning's runtime filter can prune.
    // Source day values are all day-2, so day-1's file must drop before
    // any task reads it.
    graft.catalog.LakehouseTable.lastRuntimeFilteredCounts = (-1, -1)
    spark.sql("""MERGE INTO lakehouse.merge_ns.rp t
                |USING (SELECT * FROM lakehouse.merge_ns.rp_src WHERE id <> 0) s
                |ON t.day = s.day AND t.id = s.id
                |WHEN MATCHED THEN UPDATE SET t.v = s.v
                |WHEN NOT MATCHED THEN INSERT (day, id, v) VALUES (s.day, s.id, s.v)
                |""".stripMargin)
    val (survivors, total) = graft.catalog.LakehouseTable.lastRuntimeFilteredCounts
    total shouldBe 2
    survivors shouldBe 1 // day-1's file dropped by the runtime filter alone

    // results exact
    spark.table("lakehouse.merge_ns.rp").count() shouldBe 81
    spark.table("lakehouse.merge_ns.rp").where($"day" === "2024-01-02" && $"id" === 7)
      .select($"v").as[String].collect().toSeq shouldBe Seq("B7")
    spark.table("lakehouse.merge_ns.rp").where($"id" === 99)
      .select($"v").as[String].collect().toSeq shouldBe Seq("NEW99")
    spark.table("lakehouse.merge_ns.rp").where($"day" === "2024-01-01").count() shouldBe 40
    spark.sql("DROP TABLE lakehouse.merge_ns.rp")
    spark.sql("DROP TABLE lakehouse.merge_ns.rp_src")
  }

  test("MoR MERGE target prunes statically from an inferred source literal") {
    spark.sql("DROP TABLE IF EXISTS lakehouse.merge_ns.sp2")
    spark.sql("DROP TABLE IF EXISTS lakehouse.merge_ns.sp2_src")
    spark.sql("""CREATE TABLE lakehouse.merge_ns.sp2 (day STRING, id INT, v STRING)
                |PARTITIONED BY (day) TBLPROPERTIES ('write.merge.mode'='merge-on-read')
                |""".stripMargin)
    Seq.tabulate(40)(i => ("2024-01-01", i, s"a$i")).toDF("day", "id", "v")
      .createOrReplaceTempView("sp2_d1")
    spark.sql("INSERT INTO lakehouse.merge_ns.sp2 SELECT * FROM sp2_d1")
    Seq.tabulate(40)(i => ("2024-01-02", i, s"b$i")).toDF("day", "id", "v")
      .createOrReplaceTempView("sp2_d2")
    spark.sql("INSERT INTO lakehouse.merge_ns.sp2 SELECT * FROM sp2_d2")
    spark.sql("CREATE TABLE lakehouse.merge_ns.sp2_src (day STRING, id INT, v STRING)")
    Seq(("2024-01-02", 7, "B7")).toDF("day", "id", "v").createOrReplaceTempView("sp2_chg")
    spark.sql("INSERT INTO lakehouse.merge_ns.sp2_src SELECT * FROM sp2_chg")

    // the literal day predicate lives in the SOURCE subquery, not the
    // ON clause: InferFiltersFromConstraints carries it across the
    // equi-join and DeltaTargetPruning's filter swap walks it below
    // the cardinality-check projection — snapshot-level file skipping
    // with no subquery run (lastPositionalScanFileCounts, not the
    // runtime counter)
    spark.sql("""MERGE INTO lakehouse.merge_ns.sp2 t
                |USING (SELECT * FROM lakehouse.merge_ns.sp2_src WHERE day = '2024-01-02') s
                |ON t.day = s.day AND t.id = s.id
                |WHEN MATCHED THEN UPDATE SET t.v = s.v
                |""".stripMargin)
    val (survivors, total) = graft.catalog.LakehouseTable.lastPositionalScanFileCounts
    total shouldBe 2
    survivors shouldBe 1 // day-1 statically skipped via the inferred literal

    spark.table("lakehouse.merge_ns.sp2").where($"id" === 7 && $"day" === "2024-01-02")
      .select($"v").as[String].collect().toSeq shouldBe Seq("B7")
    spark.table("lakehouse.merge_ns.sp2").count() shouldBe 80
    spark.sql("DROP TABLE lakehouse.merge_ns.sp2")
    spark.sql("DROP TABLE lakehouse.merge_ns.sp2_src")
  }

  test("merge-on-read DELETE with non-convertible predicate, no declared key") {
    mkTable("m9", Seq((1, "aa", 1.0), (2, "bbb", 2.0), (3, "c", 3.0)))
    spark.sql("""ALTER TABLE lakehouse.merge_ns.m9 SET TBLPROPERTIES
                |('write.delete.mode'='merge-on-read')""".stripMargin)
    val before = files("m9")
    // length(name) is not a pushable filter → row-level path → delta
    // DELETE falls back to full-row-tuple equality keys
    spark.sql("DELETE FROM lakehouse.merge_ns.m9 WHERE length(name) >= 3")
    spark.table("lakehouse.merge_ns.m9").orderBy($"id")
      .as[(Int, String, Double)].collect().toSeq shouldBe
      Seq((1, "aa", 1.0), (3, "c", 3.0))
    (before -- files("m9")) shouldBe empty
    spark.sql("SELECT count(*) FROM lakehouse.merge_ns.m9.delete_files")
      .collect().head.getLong(0) should be >= 1L
    spark.sql("DROP TABLE lakehouse.merge_ns.m9")
  }

  private def withBucketingConfs(f: => Unit): Unit = {
    val confs = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("co-bucketed MoR MERGE plans a storage-partitioned join, zero shuffle") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS lakehouse.merge_ns")
    spark.sql("DROP TABLE IF EXISTS lakehouse.merge_ns.bt")
    spark.sql("DROP TABLE IF EXISTS lakehouse.merge_ns.bs")
    spark.sql("CREATE TABLE lakehouse.merge_ns.bt (k INT, v STRING) " +
      "PARTITIONED BY (bucket(4, k)) " +
      "TBLPROPERTIES ('write.merge.mode'='merge-on-read')")
    spark.sql("CREATE TABLE lakehouse.merge_ns.bs (k INT, v STRING) " +
      "PARTITIONED BY (bucket(4, k))")
    Seq.tabulate(200)(i => (i, s"t$i")).toDF("k", "v").createOrReplaceTempView("bt_src")
    spark.sql("INSERT INTO lakehouse.merge_ns.bt SELECT * FROM bt_src")
    Seq.tabulate(50)(i => (i * 5, s"s${i * 5}")).toDF("k", "v")
      .createOrReplaceTempView("bs_src")
    spark.sql("INSERT INTO lakehouse.merge_ns.bs SELECT * FROM bs_src")

    withBucketingConfs {
      val df = spark.sql(
        """MERGE INTO lakehouse.merge_ns.bt t USING lakehouse.merge_ns.bs s ON t.k = s.k
          |WHEN MATCHED THEN UPDATE SET t.v = s.v
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      // the delta write plan (innerChildren of the command result)
      // must contain NO exchange: the positional target scan and the
      // bucketed source scan report compatible KeyGroupedPartitioning
      // and the MERGE's join runs storage-partitioned — THE 100 TB
      // daily-upsert shape
      val plan = df.queryExecution.executedPlan.treeString(
        verbose = false, addSuffix = false, maxFields = 25, printOperatorId = false)
      // guard against asserting on an empty render: the string must
      // show the actual delta-write query (join + both scans)
      withClue(plan) {
        plan should include ("Join")
        plan should include ("lakehouse-positional-rowid-scan")
        plan should not include "Exchange"
      }
    }

    // results oracle-exact: keys 0,5,…,195 updated; 200…245 inserted
    val out = spark.table("lakehouse.merge_ns.bt").as[(Int, String)].collect().toMap
    out.size shouldBe 210
    out(5) shouldBe "s5"
    out(7) shouldBe "t7"
    out(245) shouldBe "s245"
    spark.sql("DROP TABLE lakehouse.merge_ns.bt")
    spark.sql("DROP TABLE lakehouse.merge_ns.bs")
  }

  test("MoR MERGE row-id scan reports the target's declared bucket hash") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS lakehouse.merge_ns")
    def bucketed(name: String, iceberg: Boolean, mor: Boolean): Unit = {
      spark.sql(s"DROP TABLE IF EXISTS lakehouse.merge_ns.$name")
      val props = (if (mor) Seq("'write.merge.mode'='merge-on-read'") else Nil) ++
        (if (iceberg) Seq("'graft.bucket.hash'='iceberg'") else Nil)
      spark.sql(s"CREATE TABLE lakehouse.merge_ns.$name (k INT, v STRING) " +
        "PARTITIONED BY (bucket(4, k))" +
        (if (props.isEmpty) "" else props.mkString(" TBLPROPERTIES (", ", ", ")")))
    }
    Seq.tabulate(200)(i => (i, s"t$i")).toDF("k", "v").createOrReplaceTempView("hx_t")
    Seq.tabulate(50)(i => (i * 5, s"s${i * 5}")).toDF("k", "v").createOrReplaceTempView("hx_s")
    def mergeInto(target: String, source: String): String = {
      spark.sql(s"INSERT INTO lakehouse.merge_ns.$target SELECT * FROM hx_t")
      spark.sql(s"INSERT INTO lakehouse.merge_ns.$source SELECT * FROM hx_s")
      val df = spark.sql(
        s"""MERGE INTO lakehouse.merge_ns.$target t USING lakehouse.merge_ns.$source s
           |ON t.k = s.k
           |WHEN MATCHED THEN UPDATE SET t.v = s.v
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      df.queryExecution.executedPlan.treeString(
        verbose = false, addSuffix = false, maxFields = 25, printOperatorId = false)
    }
    def checkRows(target: String): Unit = {
      val rows = spark.table(s"lakehouse.merge_ns.$target").as[(Int, String)].collect()
      rows.length shouldBe 210
      val byKey = rows.toMap
      byKey.size shouldBe 210
      byKey(5) shouldBe "s5"
      byKey(7) shouldBe "t7"
      byKey(245) shouldBe "s245"
    }

    withBucketingConfs {
      // iceberg-hash target, spark-hash source: the layouts differ, so
      // the join must not be planned co-located
      bucketed("hx_ti", iceberg = true, mor = true)
      bucketed("hx_ss", iceberg = false, mor = false)
      mergeInto("hx_ti", "hx_ss")
      checkRows("hx_ti")

      // both on the iceberg hash: co-located, no shuffle on either side
      bucketed("hx_ti2", iceberg = true, mor = true)
      bucketed("hx_si", iceberg = true, mor = false)
      val plan = mergeInto("hx_ti2", "hx_si")
      withClue(plan) {
        plan should include ("lakehouse-positional-rowid-scan")
        plan should include ("Join")
        plan should not include "Exchange"
      }
      checkRows("hx_ti2")
    }
    Seq("hx_ti", "hx_ss", "hx_ti2", "hx_si").foreach(t =>
      spark.sql(s"DROP TABLE lakehouse.merge_ns.$t"))
  }

  test("keyed MoR delta DML commits equality entries, not positional ones") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS lakehouse.merge_ns")
    spark.sql("DROP TABLE IF EXISTS lakehouse.merge_ns.kd")
    spark.sql("CREATE TABLE lakehouse.merge_ns.kd (k INT NOT NULL, v STRING) " +
      "TBLPROPERTIES ('write.delete.mode'='merge-on-read', " +
      "'write.merge.mode'='merge-on-read', 'write.update.mode'='merge-on-read', " +
      "'graft.key'='k')")
    (0 until 100).map(i => (i, s"v$i")).toDF("k", "v").createOrReplaceTempView("kd_src")
    spark.sql("INSERT INTO lakehouse.merge_ns.kd SELECT * FROM kd_src")
    val before = files("kd")

    // non-convertible predicate → the WriteDelta path (deleteWhere's
    // metadata path never fires); the declared non-null key makes the
    // row identity the key tuple and the entry EQUALITY
    spark.sql("DELETE FROM lakehouse.merge_ns.kd WHERE length(v) = 2 AND k < 5")
    files("kd") shouldBe before // no data file touched
    val entries = spark.sql(
      "SELECT kind, key_columns FROM lakehouse.merge_ns.kd.delete_files")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    entries should not be empty
    all(entries) shouldBe (("equality", "k"))
    spark.table("lakehouse.merge_ns.kd").count() shouldBe 95
    spark.table("lakehouse.merge_ns.kd").where($"k" < 5).count() shouldBe 0

    // sequence semantics: a key re-inserted AFTER the delete survives it
    spark.sql("INSERT INTO lakehouse.merge_ns.kd VALUES (3, 'reborn')")
    spark.table("lakehouse.merge_ns.kd").where($"k" === 3)
      .select($"v").as[String].collect().toSeq shouldBe Seq("reborn")

    // keyed MERGE: update + delete + insert land as equality entries in
    // one delta commit, no data file rewritten
    val filesBefore = files("kd")
    Seq((10, "u10"), (11, "DROP"), (200, "n200")).toDF("k", "v")
      .createOrReplaceTempView("kd_chg")
    spark.sql("""MERGE INTO lakehouse.merge_ns.kd t USING kd_chg s ON t.k = s.k
                |WHEN MATCHED AND s.v = 'DROP' THEN DELETE
                |WHEN MATCHED THEN UPDATE SET t.v = s.v
                |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    (filesBefore -- files("kd")) shouldBe empty
    spark.sql("SELECT DISTINCT kind FROM lakehouse.merge_ns.kd.delete_files")
      .as[String].collect().toSeq shouldBe Seq("equality")
    val out = spark.table("lakehouse.merge_ns.kd").as[(Int, String)].collect().toMap
    out(10) shouldBe "u10"
    out.get(11) shouldBe None
    out(200) shouldBe "n200"

    // UPDATE reassigning the key itself: old key dies, new key lives
    spark.sql("UPDATE lakehouse.merge_ns.kd SET k = 300 WHERE k = 20 AND length(v) > 0")
    spark.table("lakehouse.merge_ns.kd").where($"k" === 20).count() shouldBe 0
    spark.table("lakehouse.merge_ns.kd").where($"k" === 300)
      .select($"v").as[String].collect().toSeq shouldBe Seq("v20")

    // equality entries fold away under compaction like any other
    graft.catalog.Maintenance.compact(spark, "lakehouse", Seq("merge_ns"), "kd")
    spark.sql("SELECT count(*) FROM lakehouse.merge_ns.kd.delete_files")
      .collect().head.getLong(0) shouldBe 0L
    spark.table("lakehouse.merge_ns.kd").where($"k" === 300).count() shouldBe 1
    spark.sql("DROP TABLE lakehouse.merge_ns.kd")
  }

  test("nullable declared key falls back to positional delta identity") {
    spark.sql("DROP TABLE IF EXISTS lakehouse.merge_ns.kn")
    // k is NULLABLE: Spark rejects nullable row-id attributes, so the
    // operation must keep the (file, pos) identity
    spark.sql("CREATE TABLE lakehouse.merge_ns.kn (k INT, v STRING) " +
      "TBLPROPERTIES ('write.delete.mode'='merge-on-read', 'graft.key'='k')")
    Seq((1, "aa"), (2, "bbb"), (3, "c")).toDF("k", "v").createOrReplaceTempView("kn_src")
    spark.sql("INSERT INTO lakehouse.merge_ns.kn SELECT * FROM kn_src")
    spark.sql("DELETE FROM lakehouse.merge_ns.kn WHERE length(v) >= 3")
    spark.sql("SELECT DISTINCT kind FROM lakehouse.merge_ns.kn.delete_files")
      .as[String].collect().toSeq shouldBe Seq("positional")
    spark.table("lakehouse.merge_ns.kn").orderBy($"k")
      .as[(Int, String)].collect().toSeq shouldBe Seq((1, "aa"), (3, "c"))
    spark.sql("DROP TABLE lakehouse.merge_ns.kn")
  }

  test("positional identity survives a warehouse path with a space") {
    // write side (PositionalRowIdScan stamping rows with their source
    // file) and read side (delete folding over the percent-encoded
    // _metadata.file_path URI) must agree byte-for-byte; a warehouse
    // dir with a URI-encodable character is exactly where two ad-hoc
    // derivations diverge (MergeOnRead.relFileCol/relPathOfScanned is
    // the one canonical derivation both use)
    val wh = java.nio.file.Files.createTempDirectory("graft wh ").toString
    wh should include (" ")
    spark.conf.set("spark.sql.catalog.spacelake", "graft.catalog.LakehouseCatalog")
    spark.conf.set("spark.sql.catalog.spacelake.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS spacelake.sp_ns")
    spark.sql("CREATE TABLE spacelake.sp_ns.sp (id INT, v STRING) " +
      "TBLPROPERTIES ('write.merge.mode'='merge-on-read')")
    (0 until 50).map(i => (i, s"v$i")).toDF("id", "v").createOrReplaceTempView("sp_src")
    spark.sql("INSERT INTO spacelake.sp_ns.sp SELECT * FROM sp_src")

    Seq((5, "upd5"), (7, "DROP"), (60, "new60")).toDF("id", "v")
      .createOrReplaceTempView("sp_chg")
    spark.sql("""MERGE INTO spacelake.sp_ns.sp t USING sp_chg s ON t.id = s.id
                |WHEN MATCHED AND s.v = 'DROP' THEN DELETE
                |WHEN MATCHED THEN UPDATE SET t.v = s.v
                |WHEN NOT MATCHED THEN INSERT *""".stripMargin)

    // delta commit folded: dropped/old versions gone, update + insert in
    val out = spark.table("spacelake.sp_ns.sp")
    out.count() shouldBe 50 // 50 - 1 deleted + 1 inserted
    out.where($"id" === 7).count() shouldBe 0
    out.where($"id" === 5).select($"v").as[String].collect().toSeq shouldBe Seq("upd5")
    out.where($"id" === 60).count() shouldBe 1
    // the stamped identity is the RAW relative path, never URI-encoded
    val rids = spark.sql(
      s"SELECT DISTINCT ${graft.catalog.LakehouseTable.RowIdColName}.file " +
        "FROM spacelake.sp_ns.sp").as[String].collect()
    all(rids) should startWith ("data/")
    no(rids) should include ("%")
    spark.sql("DROP TABLE spacelake.sp_ns.sp")
  }

  test("positional scan refuses a dirty table when the MorReads rewrite is absent") {
    import org.apache.spark.sql.types.{StructField, StructType}
    mkTable("m14", Seq((1, "a", 1.0), (2, "b", 2.0)))
    graft.catalog.MergeOnRead.morDelete(
      spark, "lakehouse", Seq("merge_ns"), "m14", Seq(1).toDF("id"))
    val lt = spark.sessionState.catalogManager.catalog("lakehouse")
      .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
      .loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(
        Array("merge_ns"), "m14"))
      .asInstanceOf[graft.catalog.LakehouseTable]
    // a scan of the row-id column built WITHOUT the plain-read marker —
    // what a session missing GraftExtensions would plan — must fail
    // loudly instead of reading raw and resurrecting deleted rows
    val sb = lt.newScanBuilder(new org.apache.spark.sql.util.CaseInsensitiveStringMap(
      java.util.Collections.emptyMap[String, String]()))
    sb.asInstanceOf[org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns]
      .pruneColumns(StructType(lt.meta.schema.fields :+
        StructField(graft.catalog.LakehouseTable.RowIdColName,
          graft.catalog.LakehouseTable.RowIdType, nullable = false)))
    val e = intercept[IllegalStateException](sb.build().toBatch)
    e.getMessage should include ("merge-on-read deletes pending")
    spark.sql("DROP TABLE lakehouse.merge_ns.m14")
  }

  test("MERGE WITH SCHEMA EVOLUTION widens the target from the source in one statement") {
    mkTable("se1", Seq((1, "a", 10.0), (2, "b", 20.0)))
    Seq((2, "b2", 99.0, "eu"), (4, "d", 40.0, "us"))
      .toDF("id", "name", "amt", "region").createOrReplaceTempView("se1_changes")
    spark.sql("""MERGE WITH SCHEMA EVOLUTION INTO lakehouse.merge_ns.se1 t
                |USING se1_changes s ON t.id = s.id
                |WHEN MATCHED THEN UPDATE SET *
                |WHEN NOT MATCHED THEN INSERT *
                |""".stripMargin)
    // the target gained `region`; matched/inserted rows carry the source
    // value, the untouched row reads the initial default (NULL)
    val out = spark.table("lakehouse.merge_ns.se1").orderBy($"id")
      .select($"id", $"name", $"amt", $"region")
      .as[(Int, String, Double, Option[String])].collect().toSeq
    out shouldBe Seq(
      (1, "a", 10.0, None), (2, "b2", 99.0, Some("eu")), (4, "d", 40.0, Some("us")))
    spark.table("lakehouse.merge_ns.se1").schema.fieldNames should contain("region")
    spark.sql("DROP TABLE lakehouse.merge_ns.se1")
  }

  test("schema-evolution MERGE under merge-on-read: zero rewrites, old files read NULL") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS lakehouse.merge_ns")
    spark.sql("DROP TABLE IF EXISTS lakehouse.merge_ns.se2")
    spark.sql("""CREATE TABLE lakehouse.merge_ns.se2 (id INT, v STRING)
                |TBLPROPERTIES ('write.merge.mode'='merge-on-read')""".stripMargin)
    Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "v")
      .createOrReplaceTempView("se2_base")
    spark.sql("INSERT INTO lakehouse.merge_ns.se2 SELECT * FROM se2_base")
    val before = spark.sql("SELECT file_path FROM lakehouse.merge_ns.se2.files")
      .collect().map(_.getString(0)).toSet

    Seq((2, "b2", 7L), (9, "z", 9L)).toDF("id", "v", "score")
      .createOrReplaceTempView("se2_changes")
    spark.sql("""MERGE WITH SCHEMA EVOLUTION INTO lakehouse.merge_ns.se2 t
                |USING se2_changes s ON t.id = s.id
                |WHEN MATCHED THEN UPDATE SET *
                |WHEN NOT MATCHED THEN INSERT *
                |""".stripMargin)
    val out = spark.table("lakehouse.merge_ns.se2").orderBy($"id")
      .as[(Int, String, Option[Long])].collect().toSeq
    out shouldBe Seq((1, "a", None), (2, "b2", Some(7L)), (3, "c", None), (9, "z", Some(9L)))
    // the delta path held: every pre-merge data file survives by reference
    val after = spark.sql("SELECT file_path FROM lakehouse.merge_ns.se2.files")
      .collect().map(_.getString(0)).toSet
    (before -- after) shouldBe empty
    spark.sql("DROP TABLE lakehouse.merge_ns.se2")
  }

  test("schema-evolution MERGE still enforces CHECK constraints on the widened write") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS lakehouse.merge_ns")
    spark.sql("DROP TABLE IF EXISTS lakehouse.merge_ns.se3")
    spark.sql("CREATE TABLE lakehouse.merge_ns.se3 (id INT, amt DOUBLE)")
    spark.sql("ALTER TABLE lakehouse.merge_ns.se3 ADD CONSTRAINT amt_pos CHECK (amt >= 0)")
    Seq((1, 5.0)).toDF("id", "amt").createOrReplaceTempView("se3_base")
    spark.sql("INSERT INTO lakehouse.merge_ns.se3 SELECT * FROM se3_base")

    Seq((1, -3.0, "x")).toDF("id", "amt", "tag").createOrReplaceTempView("se3_bad")
    val e = intercept[Exception] {
      spark.sql("""MERGE WITH SCHEMA EVOLUTION INTO lakehouse.merge_ns.se3 t
                  |USING se3_bad s ON t.id = s.id
                  |WHEN MATCHED THEN UPDATE SET *
                  |""".stripMargin)
    }
    e.getMessage should include("amt_pos")
    // the violating merge committed nothing: data intact (the evolved
    // column may remain — schema DDL and row DML are separate commits)
    spark.table("lakehouse.merge_ns.se3").select($"id", $"amt")
      .as[(Int, Double)].collect().toSeq shouldBe Seq((1, 5.0))
    spark.sql("DROP TABLE lakehouse.merge_ns.se3")
  }
}
