package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The eager-materialization pin behind q38 / connected components /
  * merge-on-read UPDATE: localCheckpoint by default, a RELIABLE
  * checkpoint when `graft.checkpoint.reliable=true` — the conf-gated
  * fault-tolerance story for cluster scale. */
class MaterializeSpec extends AnyFunSuite with Matchers {
  private lazy val spark = TestSpark.spark

  test("default pin localCheckpoints; reliable mode demands and uses a checkpoint dir") {
    // the eager frame pin and the lazy RDD pin the BPE loop uses share
    // one reliable/local branch; each input returns its pinned row count
    val pins = Seq[(String, DataFrame => Long)](
      "pin" -> (df => Materialize.pin(df).count()),
      "pinRdd" -> (df => Materialize.pinRdd(spark, df.rdd).count()))
    pins.foreach { case (name, p) =>
      withClue(name) { p(spark.range(100).toDF("id")) shouldBe 100 }
    }

    spark.conf.set(Materialize.ReliableConf, "true")
    try {
      if (spark.sparkContext.getCheckpointDir.isEmpty) pins.foreach { case (name, p) =>
        val e = intercept[IllegalArgumentException] {
          p(spark.range(10).toDF("id"))
        }
        withClue(name) { e.getMessage should include("setCheckpointDir") }
      }
      spark.sparkContext.setCheckpointDir(
        java.nio.file.Files.createTempDirectory("graft-reliable-ckpt-").toString)
      val ckptDir = java.nio.file.Paths.get(
        new java.net.URI(spark.sparkContext.getCheckpointDir.get))
      pins.foreach { case (name, p) =>
        val before = catalog.Fs.walk(ckptDir).size
        withClue(name) {
          p(spark.range(50).toDF("id")) shouldBe 50
          // the reliable checkpoint wrote its blocks to the dir
          catalog.Fs.walk(ckptDir).size should be > before
        }
      }
      // a pinned hot path runs end-to-end in reliable mode with
      // unchanged results
      val reliable = graft.queries.TextOps.q38.run(spark, "/root/testdata/sf0.001").collect()
      spark.conf.unset(Materialize.ReliableConf)
      val default = graft.queries.TextOps.q38.run(spark, "/root/testdata/sf0.001").collect()
      reliable shouldBe default
    } finally spark.conf.unset(Materialize.ReliableConf)
  }

  test("a pin drops hash partitioning across the cut (documented limitation)") {
    // Callers must not position a pin to save a downstream exchange:
    // the checkpointed frame reports UnknownPartitioning, so a re-agg
    // on the pinned keys re-shuffles. If a Spark upgrade starts
    // preserving partitioning here, this test fails and the pin
    // placement guidance in Materialize's scaladoc should be revisited
    // (several query shapes could then drop an exchange).
    import org.apache.spark.sql.functions._
    val pinned = Materialize.pin(
      spark.range(10000L)
        .select((col("id") % 97).as("p"), (col("id") % 13).as("w"))
        .repartition(col("p"), col("w")))
    pinned.queryExecution.executedPlan.outputPartitioning.toString should
      include("UnknownPartitioning")
    val reagg = pinned.groupBy("p", "w").count()
    reagg.collect()
    reagg.queryExecution.executedPlan.toString should include("Exchange")
  }

  test("pinPartitionedBy carries the hash layout: consumer adds no exchange") {
    import org.apache.spark.sql.functions._
    val base = spark.range(10000L)
      .select((col("id") % 97).as("p"), (col("id") % 13).as("w"), col("id").as("v"))
    val pinned = Materialize.pinPartitionedBy(base, 8, Seq("p"))
    pinned.rdd.getNumPartitions shouldBe 8
    pinned.queryExecution.executedPlan.outputPartitioning.toString should
      include("hashpartitioning(p")

    // re-aggregation on the pinned key: zero exchange, same values
    val reagg = pinned.groupBy("p").agg(sum("v").as("sv"))
    val got = reagg.collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    (reagg.queryExecution.executedPlan.toString contains "Exchange") shouldBe false
    val expect = base.groupBy("p").agg(sum("v").as("sv"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    got shouldBe expect

    // a join on the pinned key shuffles ONLY the other side
    val other = spark.range(97L).select(col("id").as("p"), lit(1L).as("tag"))
      .hint("shuffle_hash")
    val joined = pinned.join(other, Seq("p"))
    joined.count() shouldBe 10000L
    val plan = joined.queryExecution.executedPlan.toString
    // exactly one exchange subtree (the other side's); the pinned scan
    // feeds the join directly
    plan.sliding("Exchange hashpartitioning".length)
      .count(_ == "Exchange hashpartitioning") shouldBe 1

    // aggregating on a DIFFERENT key still shuffles (claim is key-scoped)
    val cross = pinned.groupBy("w").count()
    cross.collect()
    cross.queryExecution.executedPlan.toString should include("Exchange")

    // an unknown key fails loudly (at the repartition resolution)
    intercept[org.apache.spark.sql.AnalysisException] {
      Materialize.pinPartitionedBy(base, 8, Seq("nope"))
    }
  }
}
