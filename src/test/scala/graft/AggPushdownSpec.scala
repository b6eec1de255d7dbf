package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.catalog.TableMetadata

/** Metadata-only aggregate pushdown: global COUNT(*)/COUNT(col)/MIN/MAX
  * on a lakehouse table fold per-file footer stats on the driver and
  * plan as a LocalTableScan — zero tasks, zero data files opened. The
  * decline paths (filters, doubles, distinct, missing counts) must fall
  * back to a real scan with identical results.
  */
class AggPushdownSpec extends AnyFunSuite with Matchers {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def plan(df: DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString
  }
  private def isMetadataOnly(df: DataFrame): Boolean = {
    val p = plan(df)
    p.contains("LocalTableScan") && !p.contains("BatchScan")
  }

  private def setup(): Unit = {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS lakehouse.aggpd")
    spark.sql("DROP TABLE IF EXISTS lakehouse.aggpd.t")
    spark.sql("CREATE TABLE lakehouse.aggpd.t (k BIGINT, s STRING, x DOUBLE, ts TIMESTAMP)")
    (1 to 400)
      .map(i => (i.toLong, if (i % 4 == 0) null else f"s$i%03d", i / 7.0,
        java.sql.Timestamp.valueOf(f"2024-01-${i % 28 + 1}%02d 00:00:00")))
      .toDF("k", "s", "x", "ts").createOrReplaceTempView("aggpd_src")
    spark.sql("INSERT INTO lakehouse.aggpd.t SELECT * FROM aggpd_src")
    // second commit: multiple files must fold, not just one
    spark.sql("INSERT INTO lakehouse.aggpd.t VALUES " +
      "(1000, 'zzz', 9.5, TIMESTAMP '2025-06-01 12:00:00'), " +
      "(-5, 'aaa', CAST('NaN' AS DOUBLE), NULL)")
  }

  test("count(*), count(col), min/max answer from metadata as a LocalTableScan") {
    setup()
    val q = spark.sql(
      "SELECT count(*) AS c, count(s) AS cs, min(k) AS mn, max(k) AS mx, " +
        "min(s) AS smn, max(s) AS smx, min(ts) AS tmn FROM lakehouse.aggpd.t")
    assert(isMetadataOnly(q), s"expected metadata-only plan, got:\n${plan(q)}")
    val r = q.collect()(0)
    r.getLong(0) shouldBe 402L
    r.getLong(1) shouldBe 302L // 100 of 400 s values null, both extra rows non-null
    r.getLong(2) shouldBe -5L
    r.getLong(3) shouldBe 1000L
    r.getString(4) shouldBe "aaa"
    r.getString(5) shouldBe "zzz"
    r.getTimestamp(6) shouldBe java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
  }

  test("decline paths fall back to a real scan with identical answers") {
    setup()
    // a filter file pruning cannot implement exactly → must read data
    // (string bounds are excluded from exactness proofs by design —
    // parquet may truncate binary min/max — so this never accepts)
    val filtered = spark.sql(
      "SELECT count(*) FROM lakehouse.aggpd.t WHERE s >= 's100'")
    assert(!isMetadataOnly(filtered))
    filtered.collect()(0).getLong(0) shouldBe 226L
    // double min/max: NaN poisons footer ordering → never metadata-only
    val dbl = spark.sql("SELECT min(x), max(x) FROM lakehouse.aggpd.t")
    assert(!isMetadataOnly(dbl))
    dbl.collect()(0).getDouble(0) shouldBe (1 / 7.0)
    // distinct is not a fold of file stats
    val dist = spark.sql("SELECT count(DISTINCT k) FROM lakehouse.aggpd.t")
    assert(!isMetadataOnly(dist))
    dist.collect()(0).getLong(0) shouldBe 402L // every k value distinct
    // group-by needs real rows
    val grouped = spark.sql(
      "SELECT k % 2, count(*) FROM lakehouse.aggpd.t GROUP BY 1")
    assert(!isMetadataOnly(grouped))
  }

  test("partition-scoped aggregates answer from metadata via exact filter pushdown") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS lakehouse.aggpd")
    spark.sql("DROP TABLE IF EXISTS lakehouse.aggpd.part")
    spark.sql("CREATE TABLE lakehouse.aggpd.part (k BIGINT, p INT) PARTITIONED BY (p)")
    // one commit per partition value (the streaming-ingest shape): a
    // single small insert would AQE-coalesce all values into one file
    // and nothing would be exactly decidable
    (0 until 3).foreach { pv =>
      (1 to 300).filter(_ % 3 == pv).map(i => (i.toLong, pv)).toDF("k", "p")
        .createOrReplaceTempView("aggpd_psrc")
      spark.sql("INSERT INTO lakehouse.aggpd.part SELECT * FROM aggpd_psrc")
    }

    // clustered partition files carry min==max==p and zero nulls: the
    // equality is exactly decidable at file level, so the count folds
    // from metadata — zero tasks for a partition-scoped COUNT at 100 TB
    val q = spark.sql("SELECT count(*) FROM lakehouse.aggpd.part WHERE p = 1")
    assert(isMetadataOnly(q))
    q.collect()(0).getLong(0) shouldBe 100L

    // min/max under the accepted filter fold SURVIVING files only
    val mm = spark.sql("SELECT min(k), max(k) FROM lakehouse.aggpd.part WHERE p = 2")
    assert(isMetadataOnly(mm))
    val mmRow = mm.collect()(0)
    mmRow.getLong(0) shouldBe 2L
    mmRow.getLong(1) shouldBe 299L

    // an exact-accepted filter on a plain scan adds no Spark re-filter
    // and returns exactly the partition's rows
    val rows = spark.table("lakehouse.aggpd.part").where($"p" === 1).select($"k")
    rows.collect().map(_.getLong(0)).toSet shouldBe
      (1 to 300).filter(_ % 3 == 1).map(_.toLong).toSet
    val rp = rows.queryExecution.executedPlan.toString
    assert(!rp.contains(" Filter ("), s"unexpected post-scan filter in:\n$rp")

    // a predicate a file straddles stays residual and falls back
    val partial = spark.sql("SELECT count(*) FROM lakehouse.aggpd.part WHERE k > 100")
    assert(!isMetadataOnly(partial))
    partial.collect()(0).getLong(0) shouldBe 200L

    // oracle: the metadata-only count equals a count over the table's
    // live files read as plain parquet
    val dir = java.nio.file.Paths.get(TestSpark.warehouse, "aggpd", "part")
    val live = TableMetadata.load(dir).files.map(f => dir.resolve(f).toString)
    spark.read.parquet(live: _*).where($"p" === 1).count() shouldBe
      q.collect()(0).getLong(0)
    spark.sql("DROP TABLE lakehouse.aggpd.part")
  }

  test("row-level DELETE keeps metadata answers exact") {
    setup()
    spark.sql("DELETE FROM lakehouse.aggpd.t WHERE k >= 200 AND k <= 1000")
    val q = spark.sql("SELECT count(*) AS c, max(k) AS mx FROM lakehouse.aggpd.t")
    assert(isMetadataOnly(q), s"expected metadata-only plan after delete:\n${plan(q)}")
    val r = q.collect()(0)
    r.getLong(0) shouldBe 200L // 1..199 and -5
    r.getLong(1) shouldBe 199L
  }

  test("metadata written without row counts declines to a real scan") {
    setup()
    // simulate pre-feature metadata: republish the snapshot minus counts
    val lt = spark.sessionState.catalogManager.catalog("lakehouse")
      .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
      .loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(
        Array("aggpd"), "t"))
      .asInstanceOf[graft.catalog.LakehouseTable]
    val cur = TableMetadata.load(lt.tableDir)
    TableMetadata.commit(lt.tableDir,
      cur.copy(version = cur.version + 1, fileRows = Map.empty))
    val q = spark.sql("SELECT count(*) FROM lakehouse.aggpd.t")
    assert(!isMetadataOnly(q))
    q.collect()(0).getLong(0) shouldBe 402L
  }

  test("empty table answers count 0 and null min from metadata") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS lakehouse.aggpd")
    spark.sql("DROP TABLE IF EXISTS lakehouse.aggpd.empty")
    spark.sql("CREATE TABLE lakehouse.aggpd.empty (k BIGINT)")
    val q = spark.sql("SELECT count(*), min(k) FROM lakehouse.aggpd.empty")
    assert(isMetadataOnly(q), s"expected metadata-only plan:\n${plan(q)}")
    val r = q.collect()(0)
    r.getLong(0) shouldBe 0L
    r.isNullAt(1) shouldBe true
  }
}
