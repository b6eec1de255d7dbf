package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.functions.{size => arrSize}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Native UDTF: ngram_gen streams the same distinct shingle hashes the
  * transform→array_distinct→explode formulation materializes. */
class GeneratorSpec extends AnyFunSuite with Matchers {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def columnarShingles(n: Int) = {
    // the query layer's array formulation, for equivalence
    val th = col("th")
    explode(array_distinct(
      transform(sequence(lit(0), arrSize(th) - lit(n)),
        i => xxhash64((0 until n).map(j => element_at(th, i + j + 1)): _*))))
  }

  test("ngram_gen equals the explode(array_distinct(transform)) formulation") {
    val rnd = new scala.util.Random(7)
    // include repeats so dedup is exercised
    val rows = (0 until 50).map { id =>
      val toks = Array.fill(rnd.nextInt(40) + 1)(rnd.nextInt(8).toLong)
      (id.toLong, toks)
    }
    val df = rows.toDF("id", "th")
    for (n <- Seq(1, 3, 5)) {
      val viaGen = df.select($"id", call_function("ngram_gen", $"th", lit(n)).as("h"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      val viaArray = df.filter(arrSize($"th") >= n)
        .select($"id", columnarShingles(n).as("h"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      viaGen shouldBe viaArray
    }
  }

  test("ngram_gen emits nothing for rows shorter than n and works from SQL") {
    Seq((1L, Seq(10L, 20L)), (2L, Seq(1L, 2L, 3L, 4L)))
      .toDF("id", "th").createOrReplaceTempView("gen_src")
    val out = spark.sql(
      """SELECT id, h FROM gen_src LATERAL VIEW ngram_gen(th, 3) t AS h ORDER BY id, h""")
      .collect()
    // id=1 has 2 tokens < 3 → no rows; id=2 yields its 2 trigrams
    out.map(_.getLong(0)).distinct shouldBe Array(2L)
    out.length shouldBe 2
  }
}
