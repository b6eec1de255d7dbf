package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{Column, DataFrame, Encoder, Row, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType, LongType, StructType}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.queries.VectorOps

/** q109/q110 fit k-means on the pinned corpus RDD, one aggregate job per
  * round. The property: on seeded corpora that hit the argmin's ties,
  * emptied clusters, missing seeds and null embeddings, they return
  * exactly the rows of the Catalyst loop they replaced, kept below as
  * the reference, or fail the same way. */
class LloydSpec extends AnyFunSuite with Matchers {
  private lazy val spark = TestSpark.spark

  private val Dim = 64

  /** (x, 1, 0, …): the constant 1 keeps every norm above 0, where
    * q110's cosine would divide by zero. */
  private def vec(x: Float): Array[Float] = Array(x, 1f) ++ Array.fill(Dim - 2)(0f)

  private def corpusDir(vecs: Seq[(Long, Array[Float])]): String = {
    val dir = TestDirs.create("lloyd-spec-").toString
    val rows = vecs.map { case (id, v) => Row(id, if (v == null) null else v.toSeq) }
    spark.createDataFrame(rows.asJava, new StructType().add("vec_id", LongType)
      .add("embedding", ArrayType(FloatType)))
      .coalesce(1).write.parquet(s"$dir/out")
    // one parquet file, as the fixtures ship, so its schema is memoized
    val part = graft.catalog.Fs.children(java.nio.file.Paths.get(dir, "out"))
      .filter(_.getFileName.toString.endsWith(".parquet"))
    part.size shouldBe 1
    java.nio.file.Files.move(part.head, java.nio.file.Paths.get(dir, "embeddings.parquet"))
    dir
  }

  /** The schema, as a string, and the rows, rendered, of `df`; or the
    * class of the exception that stopped it, unwrapped from Spark's job
    * failure. */
  private def outcome(df: => DataFrame): Either[String, (String, Seq[String])] =
    Try { val f = df; (f.schema.toString, f.collect().toSeq.map(_.toString)) } match {
      case Success(r) => Right(r)
      case Failure(e) =>
        Left(Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last.getClass.getName)
    }

  /** Asserts both queries match the reference; returns whether they
    * returned rows rather than failed. */
  private def assertSameAsCatalyst(vecs: Seq[(Long, Array[Float])]): Boolean = {
    val dir = corpusDir(vecs)
    val q109 = outcome(VectorOps.q109.run(spark, dir))
    q109 shouldBe outcome(CatalystLloyd.q109(spark, dir))
    val q110 = outcome(VectorOps.q110.run(spark, dir))
    q110 shouldBe outcome(CatalystLloyd.q110(spark, dir))
    q109.isRight && q110.isRight
  }

  test("hand-made corpora match the Catalyst loop") {
    // Three seeds for k = 8. Round 1: vec 8 ties c0 and c1 and goes to
    // c0; vec 2 repeats seed 1, so c2 loses every point and keeps its
    // centroid, which wins vec 1 and vec 2 back in round 2. Vec 11 is a
    // null embedding outside the seeds.
    val tie = Seq(0L -> vec(0), 1L -> vec(4), 2L -> vec(4), 8L -> vec(2), 9L -> vec(-1),
      10L -> vec(5), 11L -> null)
    assertSameAsCatalyst(tie) shouldBe true
    assertSameAsCatalyst(
      tie.map { case (id, v) => id -> Option(v).map(_.map(_ * 997)).orNull }) shouldBe true
    // Rounding decides a tie: c1's mean 2^-21 rounds to 0, so vec 9
    // at 1 is equidistant from c0 at 2 and c1, and stays with c0. An
    // unrounded c1 would win it in round 2.
    val tiny = math.pow(2, -20).toFloat
    assertSameAsCatalyst(Seq(0L -> vec(2), 1L -> vec(0), 8L -> vec(tiny), 9L -> vec(1),
      10L -> vec(3))) shouldBe true
    // a null seed embedding fails both
    val nullSeed = tie.map { case (id, v) => id -> (if (id == 1L) null else v) }
    outcome(VectorOps.q109.run(spark, corpusDir(nullSeed))) shouldBe
      Left(classOf[NullPointerException].getName)
    assertSameAsCatalyst(nullSeed)
  }

  test("seeded random corpora match the Catalyst loop") {
    // Vectors near a few prototypes on a small-integer lattice, so
    // distances tie exactly, or spread wide, so that three rounds leave
    // the final assignment unconverged. The scaled lattice and the wide
    // corpora make the centroids' 1e-6 rounding and the double fold
    // show in inertia_r.
    val coord = Gen.choose(-3, 3)
    def near(protos: Seq[List[Int]]): Gen[Option[List[Int]]] = for {
      p <- Gen.oneOf(protos)
      noise <- Gen.listOfN(Dim, Gen.frequency(4 -> Gen.const(0), 1 -> coord))
    } yield Some(p.zip(noise).map { case (a, b) => a + b })
    val wide = Gen.listOfN(Dim, Gen.choose(-1000, 1000)).map(Option(_))
    val corpus = for {
      n <- Gen.choose(12, 40)
      protos <- Gen.listOfN(4, Gen.listOfN(Dim, coord))
      mode <- Gen.oneOf(1 -> near(protos), 997 -> near(protos), 1 -> wide)
      (scale, point) = mode
      // 1 to 8 of the k = 8 seed ids, the rest above them
      seedIds <- Gen.choose(1, 8).flatMap(m => Gen.pick(m, 0L until 8L))
      ids <- Gen.pick(n, 8L until 8L + 3L * n)
      // null embeddings only outside the seeds: a null seed fails both
      seedRows <- Gen.listOfN(seedIds.size, point)
      rows <- Gen.listOfN(n,
        Gen.frequency(1 -> Gen.const(Option.empty[List[Int]]), 12 -> point))
    } yield (seedIds ++ ids).toSeq.zip(seedRows ++ rows).map { case (id, v) =>
      id -> v.map(_.map(x => (x * scale).toFloat).toArray).orNull
    }
    for (seed <- 1L to 12L)
      withClue(s"seed $seed: ") {
        assertSameAsCatalyst(corpus.pureApply(Gen.Parameters.default, Seed(seed))) shouldBe true
      }
  }

  test("q109 runs its rounds as shuffle-free single-stage jobs") {
    val group = "lloyd-spec-stage-guard"
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
    // the bench fixture's shape: 500 vectors in one single-task parquet file
    val d = corpusDir((0L until 500L).map(i =>
      i -> Array.tabulate(Dim)(j => ((i * 31 + j * 7) % 13 - 6).toFloat)))
    VectorOps.q109.run(spark, d).collect() // warm: schema memo, JIT
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "q109 stage guard")
      try VectorOps.q109.run(spark, d).collect() finally sc.clearJobGroup()
      // listener events arrive in order: once a later job has ended,
      // every event of the guarded run has been delivered
      sc.parallelize(Seq(1), 1).count()
      marker.await(30, java.util.concurrent.TimeUnit.SECONDS) shouldBe true
    } finally sc.removeSparkListener(listener)
    val iters = 3
    val jobs = shuffleWrite.keySet.asScala.toSeq.sorted
    withClue(s"jobs $jobs, stages per job $stagesRun, shuffle bytes per job $shuffleWrite: ") {
      jobs.size should be <= iters + 2
      jobs.drop(1).foreach(j => shuffleWrite.get(j).get shouldBe 0L)
    }
  }
}

/** The Catalyst loop q109/q110 used to run: per round, a planned argmin
  * projection with the centroids as literals over a re-scanned corpus,
  * and a grouped [[VecSumAgg]] update. */
private object CatalystLloyd {
  import graft.Tables._

  private def norm(v: Column): Column = sqrt(call_function("vec_norm_sq", v))

  private def dot(a: Column, b: Column): Column = call_function("vec_dot", a, b)

  private def withNorm(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    e
      .repartition(graft.Materialize.adaptivePinPartitions(e, expansion = 8.0),
        col("vec_id"))
      .select(col("vec_id"), col("embedding"), norm(col("embedding")).as("nrm"))
  }

  private def lloydAssign(s: SparkSession, d: String, k: Int, iters: Int,
      dim: Int): DataFrame = {
    val ev = withNorm(s, d)
    def sqDist(vc: Column, c: Seq[Double]): Column =
      call_function("sq_dist_d", vc, typedLit(c))
    // init: the first K vectors (the same rows the oracle seeds from);
    // float→double widening is exact, so both engines start identically
    var cents: Seq[(Long, Seq[Double])] =
      ev.filter(col("vec_id") < k).orderBy("vec_id").collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble))).toSeq
    def assigned = {
      val opts = array(cents.map { case (cid, c) =>
        struct(sqDist(col("embedding"), c).as("dist"), lit(cid).as("cid"))
      }: _*)
      ev.withColumn("best", array_min(opts))
        .select(col("vec_id"), col("embedding"), col("nrm"),
          col("best.cid").as("cid"), col("best.dist").as("dist"))
    }
    val sumAgg = udaf(new VecSumAgg(dim))
    (1 to iters).foreach { _ =>
      val upd = assigned.groupBy(col("cid"))
        .agg(sumAgg(col("embedding").cast("array<double>")).as("m"))
        .collect() // bounded: K rows of d+1 doubles
        .map { r =>
          val m = r.getSeq[Double](1)
          val n = m.head
          r.getLong(0) -> m.tail.map(x =>
            BigDecimal(x / n).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
        }.toMap
      // an emptied cluster keeps its previous centroid (both engines)
      cents = cents.map { case (cid, c) => cid -> upd.getOrElse(cid, c) }
    }
    assigned
  }

  def q109(s: SparkSession, d: String): DataFrame =
    lloydAssign(s, d, k = 8, iters = 3, dim = 64)
      .groupBy(col("cid").cast("long").as("cluster"))
      .agg(count(lit(1)).as("n_vecs"), round(sum(col("dist")), 3).as("inertia_r"))
      .orderBy(col("cluster"))

  def q110(s: SparkSession, d: String): DataFrame = {
    val a = lloydAssign(s, d, k = 8, iters = 3, dim = 64)
      .select(col("cid"), col("vec_id"), col("embedding"), col("nrm"))
    val l = a.select(col("cid"), col("vec_id").as("id1"),
      col("embedding").as("v1"), col("nrm").as("n1"))
    val r = a.select(col("cid"), col("vec_id").as("id2"),
      col("embedding").as("v2"), col("nrm").as("n2"))
    l.join(r, Seq("cid")).filter(col("id1") < col("id2"))
      .select(col("cid"), col("id1"), col("id2"),
        round(dot(col("v1"), col("v2")) / (col("n1") * col("n2")), 4).as("sim_r"))
      .filter(col("sim_r") >= 0.45)
      .groupBy(col("id2").as("vec_id"))
      .agg(min(col("cid")).cast("long").as("cluster"),
        min(col("id1")).as("kept_by"), max(col("sim_r")).as("max_sim_r"))
      .orderBy(col("vec_id"))
  }
}

/** First-moment accumulator the Catalyst loop's update ran: n and Σx of
  * a d-dim embedding column in one d+1 doubles buffer. */
private class VecSumAgg(d: Int) extends Aggregator[Seq[Double], Array[Double], Array[Double]] {

  // layout: [0] = n, [1..d] = Σx
  override def zero: Array[Double] = new Array[Double](1 + d)

  override def reduce(buf: Array[Double], x: Seq[Double]): Array[Double] = {
    if (x == null) return buf
    require(x.length == d, s"vector has dim ${x.length}, expected $d")
    buf(0) += 1
    var i = 0
    while (i < d) { buf(1 + i) += x(i); i += 1 }
    buf
  }

  override def merge(a: Array[Double], b: Array[Double]): Array[Double] = {
    var i = 0
    while (i < a.length) { a(i) += b(i); i += 1 }
    a
  }

  override def finish(buf: Array[Double]): Array[Double] = buf

  override def bufferEncoder: Encoder[Array[Double]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Double]]()
  override def outputEncoder: Encoder[Array[Double]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Double]]()
}
