package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Native signature aggregates (SimHashAgg / MinHashAgg) vs their
  * columnar definitions. */
class HashAggSpec extends AnyFunSuite with Matchers {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("q13/q32b approx bounds hold at the spec scale factor too") {
    // the driver checks the bound flags at sf0.01; this pins them at
    // sf0.001 so a sketch change that drifts at small cardinalities
    // fails here first
    val q13 = SparkEntry.queries("q13_approx_distinct")(spark, "/root/testdata/sf0.001")
      .collect()
    q13.foreach(_.getAs[Boolean]("approx_ok") shouldBe true)
    val q32b = SparkEntry.queries("q32b_approx_percentile")(spark, "/root/testdata/sf0.001")
      .collect()
    q32b.foreach { r =>
      r.getAs[Boolean]("p50_ok") shouldBe true
      r.getAs[Boolean]("p90_ok") shouldBe true
    }
  }

  test("simhash_agg matches per-bit majority, including negative odd hashes") {
    // includes negative odd hashes: the columnar `srl(h,0) % 2 === 1`
    // formulation got bit 0 wrong for those (SQL % keeps the sign)
    val hs = Seq(5L, -7L, -3L, 123456789L, Long.MinValue + 1, Long.MaxValue)
    val df = hs.map(h => (1L, h)).toDF("doc_id", "h")
    val got = df.groupBy($"doc_id")
      .agg(call_function("simhash_agg", $"h").as("s"))
      .collect()(0).getLong(1)
    val counts = new Array[Int](64)
    hs.foreach(h => (0 until 64).foreach { b =>
      if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
    })
    var expect = 0L
    (0 until 64).foreach(b => if (counts(b) > 0) expect |= (1L << b))
    got shouldBe expect
    // bit 0 really is exercised by a negative odd hash
    ((-7L & 1L)) shouldBe 1L
  }

  test("minhash_agg equals the 128-column min(xxhash64(lit(i), h)) form") {
    val df = Seq((1L, 42L), (1L, -99L), (1L, 7L), (2L, 0L), (2L, Long.MinValue))
      .toDF("doc_id", "h")
    val cols = (0 until 128).map(i => min(xxhash64(lit(i), $"h")).as(s"m$i"))
    val oldSig = df.groupBy($"doc_id").agg(cols.head, cols.tail: _*)
      .select($"doc_id", array((0 until 128).map(i => col(s"m$i")): _*).as("sig"))
    val newSig = df.groupBy($"doc_id")
      .agg(call_function("minhash_agg", $"h", lit(128)).as("sig"))
    val mismatches = oldSig.as("o").join(newSig.as("n"), "doc_id")
      .filter(col("o.sig") =!= col("n.sig")).count()
    mismatches shouldBe 0L
  }

  test("minhash_bands equals xxhash64 chain over the minima") {
    val df = Seq((1L, 42L), (1L, -99L), (1L, 7L)).toDF("doc_id", "h")
    val viaCols = df.groupBy($"doc_id")
      .agg(call_function("minhash_agg", $"h", lit(8)).as("sig"))
      .select($"doc_id", array((0 until 2).map(j =>
        xxhash64(element_at($"sig", 4 * j + 1), element_at($"sig", 4 * j + 2),
          element_at($"sig", 4 * j + 3), element_at($"sig", 4 * j + 4))): _*).as("bands"))
    val viaEval = df.groupBy($"doc_id")
      .agg(call_function("minhash_bands", $"h", lit(8), lit(4)).as("bands"))
    viaCols.as("a").join(viaEval.as("b"), "doc_id")
      .filter(col("a.bands") =!= col("b.bands")).count() shouldBe 0L
  }

  test("prefix_min_agg selects the same prefix set as the row_number window") {
    import org.apache.spark.sql.expressions.Window
    val t = 0.8
    // synthetic inverted index: 40 docs × up to 30 distinct shingle
    // hashes with skewed df, spread over 8 partitions
    val ex = spark.range(0, 40, 1, 8).select(col("id").as("doc_id"))
      .withColumn("h", explode(sequence(lit(0), (pmod(col("doc_id"), lit(7)) + 23))))
      .select(col("doc_id"), xxhash64(pmod(col("h") * col("h"), lit(37))).as("h"))
      .distinct()
      .join(spark.range(40).select(col("id").as("doc_id")), "doc_id")
    val withN = ex.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val exN = ex.join(withN, "doc_id")
    val freq = exN.groupBy(col("h")).agg(count(lit(1)).as("df"))
    val joined = exN.join(freq, Seq("h"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("df"), col("h"))
    val viaWindow = joined
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= col("n") - ceil(col("n") * t) + 1)
      .select(col("doc_id"), col("h"))
    val viaAgg = joined.groupBy(col("doc_id"))
      .agg(call_function("prefix_min_agg", col("df"), col("h"), col("n"), lit(t)).as("ph"))
      .select(col("doc_id"), explode(col("ph")).as("h"))
    viaWindow.exceptAll(viaAgg).count() shouldBe 0L
    viaAgg.exceptAll(viaWindow).count() shouldBe 0L
  }

  test("space_saving keeps every item above the frequency bound under eviction") {
    import spark.implicits._
    // adversarial stream: 3 hot items (300/200/100×) drowned in 2000
    // singletons, capacity 64 — evictions happen constantly, yet
    // SpaceSaving guarantees items with freq > N/m stay in the summary
    val hot = Seq.fill(300)("hot_a") ++ Seq.fill(200)("hot_b") ++ Seq.fill(100)("hot_c")
    val cold = (0 until 2000).map(i => s"cold_$i")
    val tokens = scala.util.Random.shuffle(new scala.util.Random(42)
      .shuffle(hot ++ cold)).toDF("token").repartition(8)
    val cand = tokens
      .agg(call_function("space_saving", $"token", lit(64)).as("c"))
      .select(explode($"c").as("token"))
      .as[String].collect().toSet
    cand should contain allOf ("hot_a", "hot_b", "hot_c")
    cand.size should be <= 64
  }

  test("q48 heavy hitters equals the exact top-10 on the corpus") {
    import graft.queries.TextOps
    val sketch = TextOps.q48.run(spark, "/root/testdata/sf0.001").collect().map(r => (r.getString(0), r.getLong(1)))
    val exact = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(explode(split(col("text"), " ")).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token")).limit(10)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    sketch shouldBe exact
  }

  test("minhash_agg merges across partitions (shuffle-serialized buffers)") {
    val df = spark.range(0, 1000, 1, 8) // 8 partitions, one shared group
      .select(lit(1L).as("g"), xxhash64(col("id")).as("h"))
    val sig = df.groupBy($"g")
      .agg(call_function("minhash_agg", $"h", lit(16)).as("sig"))
      .collect()(0).getSeq[Long](1)
    sig.length shouldBe 16
    // same result with a single partition
    val sig1 = df.coalesce(1).groupBy($"g")
      .agg(call_function("minhash_agg", $"h", lit(16)).as("sig"))
      .collect()(0).getSeq[Long](1)
    sig shouldBe sig1
  }
}
