package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Round-4 surface: bloom prefilter, HLL sketches, format round-trips,
  * partitioned-write pruning, incremental dedup. */
class SketchFormatSpec extends AnyFunSuite with Matchers {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("bloom_agg/bloom_contains: no false negatives, bounded false positives") {
    val inserted = spark.range(0, 10000).select(xxhash64($"id").as("h"))
    val bloom = inserted.agg(call_function("bloom_agg", $"h", lit(100000L)).as("bf"))
      .head().getAs[Array[Byte]](0)
    // every inserted hash must probe true — a bloom has NO false negatives
    val misses = inserted
      .filter(!call_function("bloom_contains", lit(bloom), $"h"))
      .count()
    misses shouldBe 0L
    // disjoint values: false-positive rate stays near the configured ~1%
    val fp = spark.range(1000000, 1020000).select(xxhash64($"id").as("h"))
      .filter(call_function("bloom_contains", lit(bloom), $"h"))
      .count()
    fp.toDouble / 20000 should be < 0.05
  }

  test("q45b bloom decontamination output equals exact q45") {
    val a = graft.queries.TextOps.q45.run(spark, sf).collect().map(_.getLong(0))
    val b = graft.queries.TextOps.q45b.run(spark, sf).collect().map(_.getLong(0))
    b shouldBe a
  }

  test("hll sketches are mergeable: union of shard sketches == whole-data sketch") {
    def est(uniques: Int): (Long, Long) = {
      val df = spark.range(0, 5000)
        .select(($"id" % 16).as("shard"), ($"id" % uniques).as("v"))
      val perShard = df.groupBy($"shard").agg(hll_sketch_agg($"v").as("sk"))
      val merged = perShard.agg(hll_sketch_estimate(hll_union_agg($"sk")).as("est"))
        .head().getLong(0)
      val whole = df.agg(hll_sketch_estimate(hll_sketch_agg($"v")).as("est"))
        .head().getLong(0)
      (merged, whole)
    }
    // coupon (exact) mode: shard-merged and one-pass agree exactly —
    // the regime q13b's oracle check relies on
    val (m200, w200) = est(200)
    m200 shouldBe w200
    m200 shouldBe 200L
    // estimate mode: merged and one-pass may differ by promotion path,
    // but both stay within HLL's error bound
    val (m3k, w3k) = est(3000)
    math.abs(m3k - 3000).toDouble / 3000 should be < 0.05
    math.abs(w3k - 3000).toDouble / 3000 should be < 0.05
  }

  test("csv round-trip preserves schema and values") {
    val src = Tables.orders(spark, sf)
    val out = java.nio.file.Files.createTempDirectory("graft-spec-csv-").toString
    src.write.mode("overwrite").option("header", "true").csv(out)
    val back = spark.read.schema(src.schema).option("header", "true").csv(out)
    back.schema shouldBe src.schema
    back.count() shouldBe src.count()
    // doubles and ms-timestamps survive the text round trip exactly
    val a = src.orderBy($"o_orderkey").collect()
    val b = back.orderBy($"o_orderkey").collect()
    b shouldBe a
  }

  test("partitioned write prunes partitions on filtered read") {
    val out = java.nio.file.Files.createTempDirectory("graft-spec-part-").toString
    Tables.documents(spark, sf).write.mode("overwrite").partitionBy("lang").parquet(out)
    val q = spark.read.parquet(out).filter($"lang" === "en")
    val scan = q.queryExecution.executedPlan.collectLeaves().head
    // the parquet scan must carry the partition filter (directory-level
    // pruning — at scale, only lang=en files are listed/read)
    scan.toString should include("PartitionFilters")
    scan.toString should include("lang")
    val langs = q.select($"lang").distinct().collect().map(_.getString(0))
    langs shouldBe Array("en")
  }

  test("incremental dedup returns only novel content from the new batch") {
    val out = graft.queries.TextOps.q53.run(spark, sf).collect().map(_.getLong(0))
    all(out) should be >= 400L
    val docs = Tables.documents(spark, sf).select($"doc_id", $"text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val oldTexts = docs.filter(_._1 < 400).map(_._2).toSet
    val outSet = out.toSet
    val novel = docs.filter { case (id, t) => id >= 400 && !oldTexts.contains(t) }
    // min doc_id per novel text
    val expect = novel.groupBy(_._2).map(_._2.map(_._1).min).toSeq.sorted
    out.toSeq shouldBe expect
    outSet.intersect(docs.filter(d => oldTexts.contains(d._2)).map(_._1).toSet)
      .foreach(id => fail(s"doc $id duplicates the ingested corpus"))
  }
}
