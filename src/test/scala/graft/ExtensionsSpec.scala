package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The extensions path (`spark.sql.extensions=graft.functions.
  * GraftExtensions`, set by the session factory at build time — it's a
  * static conf) must make the native functions SQL-callable with no
  * per-session registration call. */
class ExtensionsSpec extends AnyFunSuite with Matchers {

  test("spark.sql.extensions installs vec_dot/vec_norm_sq for plain SQL") {
    val r = TestSpark.spark.sql(
      "SELECT vec_dot(array(1.0f, 2.0f), array(3.0f, 4.0f)) AS d, " +
        "vec_norm_sq(array(3.0f, 4.0f)) AS n").collect()(0)
    r.getDouble(0) shouldBe 11.0
    r.getDouble(1) shouldBe 25.0
  }

  test("spark.sql.extensions installs the signature aggregates for plain SQL") {
    val spark = TestSpark.spark
    import spark.implicits._
    Seq((1L, 42L), (1L, -7L)).toDF("g", "h").createOrReplaceTempView("ext_hashes")
    val r = spark.sql(
      """SELECT simhash_agg(h) AS sh, size(minhash_agg(h, 16)) AS mk,
        |       size(minhash_bands(h, 16, 4)) AS mb
        |FROM ext_hashes GROUP BY g""".stripMargin).collect()(0)
    r.getLong(0) should not be 0L
    r.getInt(1) shouldBe 16
    r.getInt(2) shouldBe 4
    // float×double kernel callable from SQL too
    spark.sql("SELECT vec_dot_d(array(1.0f, 2.0f), array(3.0d, 4.0d)) AS d")
      .collect()(0).getDouble(0) shouldBe 11.0
  }

  test("a factory session resolves every GraftFunctions.Table name, lsh_sigs included") {
    // a FRESH session has a fresh function registry: only what the
    // extension injected at build time is there, and nothing a query
    // run elsewhere in the suite might have added
    val spark = TestSpark.spark.newSession()
    val reg = spark.sessionState.functionRegistry
    val names = functions.GraftFunctions.Table.map(_._1)
    names should contain("lsh_sigs")
    names.filterNot(n => reg.functionExists(
      org.apache.spark.sql.catalyst.FunctionIdentifier(n))) shouldBe empty
    import spark.implicits._
    spark.sql("SELECT space_saving(t, 4) FROM VALUES ('a'), ('a'), ('b') AS v(t)")
      .collect()(0).getSeq[String](0).head shouldBe "a"
    // UDTF: LATERAL VIEW ngram_gen over hash arrays
    Seq(Seq(1L, 2L, 3L)).toDF("hs").createOrReplaceTempView("ext_ng")
    spark.sql("SELECT g FROM ext_ng LATERAL VIEW ngram_gen(hs, 2) t AS g")
      .collect().length shouldBe 2
    // bloom pair: build the filter, probe with it as a literal
    Seq(1L, 2L, 3L).toDF("g").createOrReplaceTempView("ext_bl")
    val bloom = spark.sql("SELECT bloom_agg(g, 100) FROM ext_bl")
      .collect()(0).getAs[Array[Byte]](0)
    import org.apache.spark.sql.functions.{call_function, col, lit}
    spark.table("ext_bl")
      .filter(call_function("bloom_contains", lit(bloom), col("g")))
      .count() shouldBe 3
    // prefix_min_agg resolves (4-arg form: df, hash, n, threshold)
    Seq((1L, 10L, 2L), (2L, 20L, 2L)).toDF("df", "h", "n")
      .createOrReplaceTempView("ext_pm")
    spark.sql("SELECT size(prefix_min_agg(df, h, n, 0.8)) FROM ext_pm")
      .collect()(0).getInt(0) should be >= 1
    // lsh_sigs: one signature per table, each within its bit width
    val sigs = spark.sql("SELECT lsh_sigs(array_repeat(CAST(1.0 AS FLOAT), 64))")
      .collect()(0).getSeq[Long](0)
    sigs should have size functions.LshSignatures.Tables.toLong
    sigs.foreach(sig => sig should (be >= 0L and be < (1L << functions.LshSignatures.Bits)))
  }
}
