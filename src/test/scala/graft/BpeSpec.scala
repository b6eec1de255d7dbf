package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructType}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.queries.TextOps

/** q76/q79 run the BPE rounds on the corpus RDD with incremental pair
  * counts. The property: on seeded corpora that hit every string edge
  * case, they return exactly the rows of the Catalyst loop they
  * replaced, kept below as the reference. */
class BpeSpec extends AnyFunSuite with Matchers {
  private lazy val spark = TestSpark.spark

  // U+FF5E sorts before U+1F600 in UTF-8 (EF… < F0…) but after it in
  // UTF-16 (FF5E > D83D), so a tie between them shows which order wins.
  private val wave = "～"
  private val smile = "😀"

  private def corpusDir(texts: Seq[String]): String = {
    val dir = TestDirs.create("bpe-spec-").toString
    val rows = texts.zipWithIndex.map { case (t, i) => Row(i.toLong, t) }
    spark.createDataFrame(rows.asJava,
      new StructType().add("doc_id", LongType).add("text", "string"))
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    dir
  }

  private def assertSameAsCatalyst(texts: Seq[String]): Unit = {
    val dir = corpusDir(texts)
    val (merges, encoded) = CatalystBpe.run(spark, dir)
    TextOps.q76.run(spark, dir).collect().toSeq shouldBe merges
    TextOps.q79.run(spark, dir).collect().toSeq shouldBe encoded
  }

  test("hand-made edge corpora match the Catalyst loop") {
    // null and empty text, single tokens, greedy-left runs, leading,
    // trailing and double spaces, tabs that `trim` keeps
    assertSameAsCatalyst(Seq(null, "", "a", "a a a", "a a a a", " a a", "a  a b",
      "b a ", "a a  a a", "x", "a b a b", null, "  ", "b b b", "\ta a\t"))
    // round 1 merges a pair with an empty trailing token, round 2 breaks
    // a tie by UTF-8 order, and pairs run out after round 3
    assertSameAsCatalyst(Seq(s"$wave x", s"$smile x", "c ", "c "))
  }

  test("seeded random corpora match the Catalyst loop") {
    val token = Gen.frequency(6 -> Gen.oneOf("a", "b", "c"), 2 -> Gen.oneOf("ab", "ca"),
      1 -> Gen.oneOf(wave, smile), 1 -> Gen.const(""))
    val text = Gen.frequency(1 -> Gen.const[String](null),
      9 -> Gen.choose(1, 9).flatMap(n => Gen.listOfN(n, token)).map(_.mkString(" ")))
    val corpus = Gen.choose(5, 60).flatMap(n => Gen.listOfN(n, text))
    for (seed <- 1L to 2L)
      withClue(s"seed $seed: ") {
        assertSameAsCatalyst(corpus.pureApply(Gen.Parameters.default, Seed(seed)))
      }
  }

  test("q76 runs its rounds as shuffle-free single-stage jobs") {
    val group = "bpe-spec-stage-guard"
    val jobOf = new ConcurrentHashMap[Int, Int]()      // stage → job
    val stagesRun = new ConcurrentHashMap[Int, java.lang.Long]() // job → stages
    val shuffleWrite = new ConcurrentHashMap[Int, AtomicLong]() // job → bytes
    val marker = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) =>
            j.stageIds.foreach(jobOf.put(_, j.jobId))
            shuffleWrite.put(j.jobId, new AtomicLong)
          case _ =>
        }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        Option(jobOf.get(s.stageInfo.stageId)).foreach { job =>
          stagesRun.merge(job, 1L, (a, b) => a + b)
          shuffleWrite.get(job).addAndGet(
            s.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
        }
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        if (!jobOf.isEmpty && !shuffleWrite.containsKey(j.jobId)) marker.countDown()
    }
    val sc = spark.sparkContext
    val d = "/root/testdata/sf0.001"
    TextOps.q76.run(spark, d).collect() // warm: schema memo, JIT
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "q76 stage guard")
      try TextOps.q76.run(spark, d).collect() finally sc.clearJobGroup()
      // listener events arrive in order: once a later job has ended,
      // every event of the guarded run has been delivered
      sc.parallelize(Seq(1), 1).count()
      marker.await(30, java.util.concurrent.TimeUnit.SECONDS) shouldBe true
    } finally sc.removeSparkListener(listener)
    val rounds = 10
    val jobs = shuffleWrite.keySet.asScala.toSeq.sorted
    val stages = stagesRun.values.asScala.map(_.longValue).sum
    withClue(s"jobs $jobs, stages per job $stagesRun, shuffle bytes per job $shuffleWrite: ") {
      stages should be <= (rounds + 4).toLong
      jobs.drop(1).foreach(j => shuffleWrite.get(j).get shouldBe 0L)
    }
  }
}

/** The Catalyst loop q76/q79 used to run: per round, a planned
  * pair-count query and a one-row argmax collect, then a substitution
  * projection over the lazily pinned corpus. */
private object CatalystBpe {
  private def bpeLearnApply(s: SparkSession, d: String, rounds: Int)
      : (Seq[org.apache.spark.sql.Row], DataFrame) = {
    var cur = Tables.documents(s, d).select(col("doc_id"), col("text"), col("text").as("s"))
    cur = graft.Materialize.fanOutCompute(cur, "doc_id")
    val learned = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
    graft.catalog.SessionConf.withConf(s, "spark.sql.adaptive.enabled", "false") {
    for (step <- 1 to rounds) {
      val toks = cur.select(split(col("s"), " ").as("t")).filter(size(col("t")) >= 2)
      val pairs = toks.select(
        explode(transform(sequence(lit(1), size(col("t")) - 1),
          i => concat(element_at(col("t"), i), lit(" "),
            element_at(col("t"), i + 1)))).as("p"))
      val top = pairs.groupBy(col("p")).agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("p").asc).limit(1).collect()
      if (top.nonEmpty) {
        val p = top(0).getString(0)
        val Array(lhs, rhs) = p.split(" ", 2)
        learned += org.apache.spark.sql.Row(step, lhs, rhs, top(0).getLong(1))
        val target = " " + p.replace(" ", "  ") + " "
        val repl = " " + p.replace(" ", "§") + " "
        cur = cur.select(col("doc_id"), col("text"),
          trim(replace(replace(
            concat(lit(" "), replace(col("s"), lit(" "), lit("  ")), lit(" ")),
            lit(target), lit(repl)), lit("  "), lit(" "))).as("s"))
        // Materialize.pinLazy in its default (local) mode
        if (step < rounds)
          cur = cur.localCheckpoint(eager = false)
      }
    }
    }
    (learned.toSeq, cur)
  }

  /** (q76 rows, q79 rows) from one run of the loop. */
  def run(s: SparkSession, d: String): (Seq[Row], Seq[Row]) = {
    val (learned, enc) = bpeLearnApply(s, d, 10)
    val q79 = enc.select(col("doc_id"),
      size(split(col("text"), " ")).cast(LongType).as("n_before"),
      size(split(col("s"), " ")).cast(LongType).as("n_after"),
      round(size(split(col("text"), " ")).cast(DoubleType) /
        size(split(col("s"), " ")).cast(DoubleType), 4).as("compression"),
      md5(col("s")).as("enc_md5"))
      .orderBy(col("doc_id"))
    (learned, q79.collect().toSeq)
  }
}
