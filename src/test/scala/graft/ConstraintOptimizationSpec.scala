package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** RELY-constraint optimizations (ConstraintOptimization): join
  * elimination and distinct removal driven by informational PK/UNIQUE/
  * FK declarations. Every positive case asserts BOTH the plan rewrite
  * (no Join/Aggregate survives optimization) and value equality with
  * the rule disabled — the rewrite must be invisible in results.
  */
class ConstraintOptimizationSpec extends AnyFunSuite with Matchers {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def joins(df: DataFrame): Seq[Join] =
    df.queryExecution.optimizedPlan.collect { case j: Join => j }

  private def aggs(df: DataFrame): Seq[Aggregate] =
    df.queryExecution.optimizedPlan.collect { case a: Aggregate => a }

  /** Runs `f` with the rule listed in Spark's own kill switch,
    * `spark.sql.optimizer.excludedRules`, restoring the value after. */
  private def withRuleExcluded[T](f: => T): T = {
    val key = "spark.sql.optimizer.excludedRules"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key,
      (saved.filter(_.nonEmpty).toSeq :+ "graft.catalog.ConstraintOptimization").mkString(","))
    try f finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Rows of `sql` with the rule ON, compared against the rule OFF. */
  private def sameResultNoJoin(sql: String): Unit = {
    val on = spark.sql(sql)
    joins(on) shouldBe empty
    val rows = on.collect().map(_.toString).sorted
    withRuleExcluded {
      val off = spark.sql(sql)
      joins(off) should not be empty
      rows shouldBe off.collect().map(_.toString).sorted
    }
  }

  private def setup(): Unit = {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS lakehouse.cbo")
    if (!spark.catalog.tableExists("lakehouse.cbo.dim")) {
      spark.sql("CREATE TABLE lakehouse.cbo.dim (id BIGINT, name STRING, " +
        "CONSTRAINT dim_pk PRIMARY KEY (id) NOT ENFORCED RELY)")
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "name")
        .createOrReplaceTempView("cbo_dim_src")
      spark.sql("INSERT INTO lakehouse.cbo.dim SELECT * FROM cbo_dim_src")

      spark.sql("CREATE TABLE lakehouse.cbo.fact (k BIGINT NOT NULL, dim_id BIGINT NOT NULL, " +
        "v DOUBLE, CONSTRAINT fact_fk FOREIGN KEY (dim_id) " +
        "REFERENCES lakehouse.cbo.dim (id) NOT ENFORCED RELY)")
      Seq((10L, 1L, 1.5), (11L, 2L, 2.5), (12L, 2L, 3.5)).toDF("k", "dim_id", "v")
        .createOrReplaceTempView("cbo_fact_src")
      spark.sql("INSERT INTO lakehouse.cbo.fact SELECT * FROM cbo_fact_src")

      // same fact shape but nullable FK column, with an actual NULL
      spark.sql("CREATE TABLE lakehouse.cbo.factn (k BIGINT, dim_id BIGINT, " +
        "CONSTRAINT factn_fk FOREIGN KEY (dim_id) " +
        "REFERENCES lakehouse.cbo.dim (id) NOT ENFORCED RELY)")
      Seq((20L, Some(1L)), (21L, None: Option[Long])).toDF("k", "dim_id")
        .createOrReplaceTempView("cbo_factn_src")
      spark.sql("INSERT INTO lakehouse.cbo.factn SELECT * FROM cbo_factn_src")

      // uniqueness declared but NOT rely'd — must never fire
      spark.sql("CREATE TABLE lakehouse.cbo.dimnorely (id BIGINT, name STRING, " +
        "CONSTRAINT dnr_pk PRIMARY KEY (id) NOT ENFORCED)")
      spark.sql("INSERT INTO lakehouse.cbo.dimnorely SELECT * FROM cbo_dim_src")
    }
  }

  test("left outer join to a RELY'd PK on the full key is eliminated, results identical") {
    setup()
    sameResultNoJoin(
      "SELECT f.k, f.v FROM lakehouse.cbo.fact f " +
        "LEFT JOIN lakehouse.cbo.dim d ON f.dim_id = d.id")
  }

  test("left outer elimination survives an extra filter on the unused side") {
    setup()
    // a filter under the join only reduces matches — still at most one
    sameResultNoJoin(
      "SELECT f.k FROM lakehouse.cbo.fact f " +
        "LEFT JOIN (SELECT * FROM lakehouse.cbo.dim WHERE name <> 'zz') d " +
        "ON f.dim_id = d.id")
  }

  test("inner join guaranteed by a RELY'd FK over NOT NULL columns is eliminated") {
    setup()
    sameResultNoJoin(
      "SELECT f.k, f.v FROM lakehouse.cbo.fact f " +
        "JOIN lakehouse.cbo.dim d ON f.dim_id = d.id")
  }

  test("inner join with a NULLABLE RELY'd FK becomes the implied IS NOT NULL filter") {
    setup()
    val sql = "SELECT f.k FROM lakehouse.cbo.factn f " +
      "JOIN lakehouse.cbo.dim d ON f.dim_id = d.id"
    val on = spark.sql(sql)
    joins(on) shouldBe empty
    // the NULL-fk row is dropped, exactly as the real join would
    on.collect().map(_.getLong(0)).sorted shouldBe Array(20L)
  }

  test("explicit LEFT SEMI JOIN guaranteed by a RELY'd FK is eliminated") {
    setup()
    // EXISTS subqueries become LeftSemi only after injected rules run,
    // so only the explicit syntax is eliminable — documented in the rule.
    sameResultNoJoin(
      "SELECT f.k FROM lakehouse.cbo.fact f LEFT SEMI JOIN " +
        "lakehouse.cbo.dim d ON d.id = f.dim_id")
  }

  test("NOT fired: dimension columns are referenced above the join") {
    setup()
    val df = spark.sql("SELECT f.k, d.name FROM lakehouse.cbo.fact f " +
      "LEFT JOIN lakehouse.cbo.dim d ON f.dim_id = d.id")
    joins(df) should not be empty
  }

  test("NOT fired: PK declared without RELY") {
    setup()
    val df = spark.sql("SELECT f.k FROM lakehouse.cbo.fact f " +
      "LEFT JOIN lakehouse.cbo.dimnorely d ON f.dim_id = d.id")
    joins(df) should not be empty
  }

  test("NOT fired: join keys do not cover the unique key") {
    setup()
    val df = spark.sql("SELECT f.k FROM lakehouse.cbo.fact f " +
      "LEFT JOIN lakehouse.cbo.dim d ON f.dim_id = d.id AND f.k = d.id + 9")
    // the equality on (id + 9) is not an attribute pair; only dim_id = id
    // counts, which covers the PK — so this one IS eliminable. Use a
    // genuinely uncovered case instead: join on the non-key column.
    val df2 = spark.sql("SELECT f.k FROM lakehouse.cbo.fact f " +
      "LEFT JOIN lakehouse.cbo.dim d ON cast(f.k as string) = d.name")
    joins(df2) should not be empty
    df.collect() // df is legal either way; just force execution
  }

  test("NOT fired for INNER without FK: uniqueness alone cannot prove existence") {
    setup()
    // dim has the PK, but factn→dim is the only FK; join fact.k (no FK) to dim.id
    val df = spark.sql("SELECT f.v FROM lakehouse.cbo.fact f " +
      "JOIN lakehouse.cbo.dim d ON f.k = d.id")
    joins(df) should not be empty
  }

  test("NOT fired for INNER when the unused side carries a filter") {
    setup()
    val df = spark.sql("SELECT f.k FROM lakehouse.cbo.fact f " +
      "JOIN (SELECT * FROM lakehouse.cbo.dim WHERE name <> 'a') d ON f.dim_id = d.id")
    joins(df) should not be empty
  }

  test("DISTINCT over a RELY'd PK collapses to a project") {
    setup()
    val df = spark.sql("SELECT DISTINCT id, name FROM lakehouse.cbo.dim")
    aggs(df) shouldBe empty
    df.collect().length shouldBe 3
    // grouping on a superset of the key is covered too
    val df2 = spark.sql("SELECT DISTINCT id FROM lakehouse.cbo.dimnorely")
    aggs(df2) should not be empty
  }

  test("DISTINCT removal honors the kill switch") {
    setup()
    withRuleExcluded {
      val df = spark.sql("SELECT DISTINCT id, name FROM lakehouse.cbo.dim")
      aggs(df) should not be empty
    }
  }

  test("NOT fired: time-traveled / branch snapshots never qualify") {
    setup()
    // RELY declarations assert facts about the LIVE table pair — an
    // FK's referenced keys may be absent from an old dim snapshot, so
    // rewriting a time-travel join on today's declarations would
    // silently change its results
    val v = spark.sql("SELECT max(version) FROM lakehouse.cbo.dim.history")
      .head().getInt(0)
    val fk = spark.sql("SELECT f.k FROM lakehouse.cbo.fact f " +
      s"JOIN lakehouse.cbo.dim VERSION AS OF $v d ON f.dim_id = d.id")
    joins(fk) should not be empty
    val outer = spark.sql("SELECT f.k FROM lakehouse.cbo.fact f " +
      s"LEFT JOIN lakehouse.cbo.dim VERSION AS OF $v d ON f.dim_id = d.id")
    joins(outer) should not be empty
    val dist = spark.sql(
      s"SELECT DISTINCT id, name FROM lakehouse.cbo.dim VERSION AS OF $v")
    aggs(dist) should not be empty
  }

  test("an under-qualified FK reference binds only in the declaring table's namespace") {
    setup()
    // same-named dim in ANOTHER namespace, also PK(id) RELY — a bare
    // suffix match would eliminate the join against the WRONG table
    spark.sql("CREATE NAMESPACE IF NOT EXISTS lakehouse.cbo2")
    if (!spark.catalog.tableExists("lakehouse.cbo2.dim")) {
      spark.sql("CREATE TABLE lakehouse.cbo2.dim (id BIGINT, name STRING, " +
        "CONSTRAINT dim2_pk PRIMARY KEY (id) NOT ENFORCED RELY)")
      spark.sql("INSERT INTO lakehouse.cbo2.dim VALUES (1, 'a')")
      // FK declared with a BARE single-part reference: resolves to the
      // declaring table's own namespace (lakehouse.cbo.dim)
      spark.sql("CREATE TABLE lakehouse.cbo.factbare (k BIGINT NOT NULL, " +
        "dim_id BIGINT NOT NULL, CONSTRAINT fb_fk FOREIGN KEY (dim_id) " +
        "REFERENCES dim (id) NOT ENFORCED RELY)")
      spark.sql("INSERT INTO lakehouse.cbo.factbare VALUES (10, 1), (11, 2)")
    }
    // wrong namespace: must NOT be eliminated (cbo2.dim lacks id=2)
    val wrong = spark.sql("SELECT f.k FROM lakehouse.cbo.factbare f " +
      "JOIN lakehouse.cbo2.dim d ON f.dim_id = d.id")
    joins(wrong) should not be empty
    wrong.collect().length shouldBe 1
    // right namespace: the bare reference resolves here — eliminated
    sameResultNoJoin("SELECT f.k FROM lakehouse.cbo.factbare f " +
      "JOIN lakehouse.cbo.dim d ON f.dim_id = d.id")
  }
}
