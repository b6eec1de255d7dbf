package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.functions.{Scored, TopKAggregator}

/** Property-based checks (SURVEY.md §5): algebraic laws the operators
  * must satisfy on arbitrary inputs, not just the fixture data.
  * (Plain ScalaCheck generators sampled under fixed seeds — the
  * scalatest+scalacheck bridge artifact isn't available offline.) */
class PropertySpec extends AnyFunSuite with Matchers {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def forAll[A](gen: Gen[A], trials: Int = 20)(f: A => Unit): Unit =
    (0 until trials).foreach { i =>
      f(gen.pureApply(Gen.Parameters.default, Seed(42L + i)))
    }

  private def forAll[A, B](ga: Gen[A], gb: Gen[B])(f: (A, B) => Unit): Unit =
    forAll(Gen.zip(ga, gb))(t => f(t._1, t._2))

  private val docGen = Gen.listOfN(30,
    Gen.oneOf("the quick fox", "a b c", "x", "lorem ipsum dolor sit", ""))

  test("dedup is idempotent: dedup(dedup(x)) == dedup(x)") {
    forAll(docGen) { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val once = df.dropDuplicates("text")
      val twice = once.dropDuplicates("text")
      twice.count() shouldBe once.count()
      once.select("text").distinct().count() shouldBe once.count()
    }
  }

  test("commit rebase: any interleaving of commutable writers loses nothing") {
    import graft.catalog.{DeleteFile, Snapshot, TableMetadata}
    sealed trait W
    case class App(i: Int) extends W
    case class Prop(i: Int) extends W
    case class Del(i: Int) extends W
    val writerGen = Gen.listOfN(8, Gen.oneOf(
      Gen.chooseNum(0, 999).map(App(_)),
      Gen.chooseNum(0, 999).map(Prop(_)),
      Gen.chooseNum(0, 999).map(Del(_))))
    forAll(writerGen, trials = 15) { writers =>
      val dir = java.nio.file.Files.createTempDirectory("rebase-prop-")
      val base = TableMetadata(
        version = 1, name = "p", schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.IntegerType))),
        partitionColumns = Nil, properties = Map.empty,
        files = Seq("data/c0/base.parquet"),
        snapshots = Seq(Snapshot(1, 0L, "create", 1, 1)))
      TableMetadata.commit(dir, base)
      // every writer computed its commit against the SAME base; they
      // publish in sequence and each must rebase over all predecessors
      writers.zipWithIndex.foreach { case (w, i) =>
        val attempt = w match {
          case App(n) => base.copy(version = 2,
            files = base.files :+ s"data/c$i/f$n.parquet",
            snapshots = base.snapshots :+ Snapshot(2, i.toLong, "append", 1, 2))
          case Prop(n) => base.copy(version = 2,
            properties = base.properties + (s"p$i" -> n.toString),
            snapshots = base.snapshots :+ Snapshot(2, i.toLong, "props", 0, 1))
          case Del(n) => base.copy(version = 2,
            deleteFiles = base.deleteFiles :+
              DeleteFile(s"deletes/d$i/k$n.parquet", Seq("k"), 2, 1),
            snapshots = base.snapshots :+ Snapshot(2, i.toLong, "mor-delete", 0, 1))
        }
        TableMetadata.commitOrRebase(dir, attempt = attempt, base = base)
      }
      val fin = TableMetadata.load(dir)
      fin.version shouldBe 1 + writers.size
      // nothing lost: every writer's delta present exactly once
      writers.zipWithIndex.foreach {
        case (App(n), i) => fin.files should contain(s"data/c$i/f$n.parquet")
        case (Prop(n), i) => fin.properties.get(s"p$i") shouldBe Some(n.toString)
        case (Del(_), i) =>
          fin.deleteFiles.map(_.path).count(_.startsWith(s"deletes/d$i/")) shouldBe 1
      }
      fin.files.size shouldBe 1 + writers.count(_.isInstanceOf[App])
      // delete entries keep their base-computed sequence (snapshot
      // isolation): every rebased entry still carries seq = 2
      fin.deleteFiles.foreach(_.seq shouldBe 2)
      // history is contiguous and one snapshot per commit
      fin.snapshots.map(_.version) shouldBe (1 to fin.version)
      java.nio.file.Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("rebase of positional deletes: commutes iff racer rewrites miss the targeted range") {
    import graft.catalog.{ColumnRange, DeleteFile, Snapshot, TableMetadata}
    // racer = append | compact a contiguous file range | metadata-only;
    // attempt = positional delete targeting files [lo, hi]. The law:
    // the rebase succeeds exactly when the racer removed NO file inside
    // the entry's targeted path range (offsets into a rewritten file
    // are meaningless; disjoint changes must both land).
    sealed trait R
    case object Append extends R
    case object PropsOnly extends R
    case class Compact(lo: Int, hi: Int) extends R
    val racerGen: Gen[R] = Gen.oneOf(
      Gen.const(Append: R), Gen.const(PropsOnly: R),
      Gen.zip(Gen.choose(0, 9), Gen.choose(0, 9)).map { case (a, b) =>
        Compact(math.min(a, b), math.max(a, b)): R
      })
    val targetGen = Gen.zip(Gen.choose(0, 9), Gen.choose(0, 9))
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
    forAll(Gen.zip(racerGen, targetGen), trials = 20) { case (racer, (lo, hi)) =>
      val dir = java.nio.file.Files.createTempDirectory("rebase-pos-prop-")
      val files = (0 until 10).map(i => f"data/c0/f$i%02d.parquet")
      val base = TableMetadata(
        version = 1, name = "pp", schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.IntegerType))),
        partitionColumns = Nil, properties = Map.empty,
        files = files,
        snapshots = Seq(Snapshot(1, 0L, "create", files.size, files.size)))
      TableMetadata.commit(dir, base)
      val removed: Set[String] = racer match {
        case Compact(a, b) => files.slice(a, b + 1).toSet
        case _ => Set.empty
      }
      val racerMeta = racer match {
        case Append => base.copy(version = 2,
          files = base.files :+ "data/c1/app.parquet",
          snapshots = base.snapshots :+ Snapshot(2, 1L, "append", 1, files.size + 1))
        case PropsOnly => base.copy(version = 2,
          properties = base.properties + ("analyzed" -> "true"),
          snapshots = base.snapshots :+ Snapshot(2, 1L, "analyze", 0, files.size))
        case Compact(_, _) => base.copy(version = 2,
          files = base.files.filterNot(removed) :+ "data/c1/comp.parquet",
          snapshots = base.snapshots :+
            Snapshot(2, 1L, "compact", 1, files.size - removed.size + 1))
      }
      TableMetadata.commit(dir, racerMeta)
      val entry = DeleteFile("deletes/p1/t.parquet", Seq("file", "pos"), 2, 3L,
        keyRanges = Map(DeleteFile.PosFileCol -> ColumnRange(files(lo), files(hi))),
        kind = DeleteFile.Positional)
      val attempt = base.copy(version = 2,
        deleteFiles = base.deleteFiles :+ entry,
        snapshots = base.snapshots :+ Snapshot(2, 2L, "mor-delete-pos", 0, files.size))
      val overlap = removed.exists(f => files(lo) <= f && f <= files(hi))
      if (overlap) {
        val e = intercept[IllegalStateException] {
          TableMetadata.commitOrRebase(dir, attempt = attempt, base = base)
        }
        e.getMessage should include("do not commute")
        // the racer's state is untouched by the failed attempt
        TableMetadata.load(dir).version shouldBe 2
      } else {
        val fin = TableMetadata.commitOrRebase(dir, attempt = attempt, base = base)
        fin.version shouldBe 3
        // both deltas landed: the racer's files and the entry, seq preserved
        fin.deleteFiles.map(_.path) should contain("deletes/p1/t.parquet")
        fin.deleteFiles.find(_.path == "deletes/p1/t.parquet").get.seq shouldBe 2
        racer match {
          case Append => fin.files should contain("data/c1/app.parquet")
          case PropsOnly => fin.properties.get("analyzed") shouldBe Some("true")
          case Compact(_, _) =>
            fin.files should contain("data/c1/comp.parquet")
            removed.foreach(f => fin.files should not contain f)
        }
      }
      java.nio.file.Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("branch ops + fast-forward ≡ the same ops applied to main directly") {
    // the WAP law: staging through a branch must be semantically
    // invisible — publish(branch(ops)) == ops — for any interleaving
    // of appends and key deletes
    import graft.catalog.{Maintenance, MergeOnRead}
    sealed trait Op
    case class App(ks: List[Int]) extends Op
    case class Del(ks: List[Int]) extends Op
    val opGen = Gen.listOfN(4, Gen.oneOf(
      Gen.nonEmptyListOf(Gen.choose(0, 40)).map(l => App(l.take(5)): Op),
      Gen.nonEmptyListOf(Gen.choose(0, 40)).map(l => Del(l.take(5)): Op)))
    var round = 0
    forAll(opGen, trials = 4) { ops =>
      round += 1
      spark.sql("CREATE NAMESPACE IF NOT EXISTS lakehouse.wap_ns")
      Seq(s"b$round", s"m$round").foreach { n =>
        spark.sql(s"CREATE TABLE lakehouse.wap_ns.$n (k INT, v STRING)")
        Seq((1, "seed"), (2, "seed")).toDF("k", "v")
          .createOrReplaceTempView(s"wap_seed_$n")
        spark.sql(s"INSERT INTO lakehouse.wap_ns.$n SELECT * FROM wap_seed_$n")
      }
      Maintenance.createBranch(spark, "lakehouse", Seq("wap_ns"), s"b$round", "wip")
      ops.zipWithIndex.foreach {
        case (App(ks), i) =>
          val df = ks.map(k => (k, s"v$i")).toDF("k", "v")
          Maintenance.appendToBranch(
            spark, "lakehouse", Seq("wap_ns"), s"b$round", "wip", df)
          df.createOrReplaceTempView(s"wap_app_${round}_$i")
          spark.sql(s"INSERT INTO lakehouse.wap_ns.m$round " +
            s"SELECT * FROM wap_app_${round}_$i")
        case (Del(ks), _) =>
          Maintenance.morDeleteFromBranch(
            spark, "lakehouse", Seq("wap_ns"), s"b$round", "wip", ks.toDF("k"))
          MergeOnRead.morDelete(
            spark, "lakehouse", Seq("wap_ns"), s"m$round", ks.toDF("k"))
      }
      Maintenance.fastForward(spark, "lakehouse", Seq("wap_ns"), s"b$round", "wip")
      val branched = spark.table(s"lakehouse.wap_ns.b$round")
        .collect().map(r => (r.getInt(0), r.getString(1))).sorted.toSeq
      val direct = spark.table(s"lakehouse.wap_ns.m$round")
        .collect().map(r => (r.getInt(0), r.getString(1))).sorted.toSeq
      branched shouldBe direct
      spark.sql(s"DROP TABLE lakehouse.wap_ns.b$round")
      spark.sql(s"DROP TABLE lakehouse.wap_ns.m$round")
    }
  }

  test("shapeDeleteWrite: fan-out file count follows the ceiling, tuples survive sorted") {
    import org.apache.spark.sql.functions.col
    forAll(Gen.zip(Gen.choose(1, 400), Gen.choose(1, 50)), trials = 8) { case (n, cap) =>
      spark.conf.set("graft.mor.maxSingleFileDeleteTuples", cap.toString)
      try {
        val dir = java.nio.file.Files.createTempDirectory("shape-prop-")
        val df = (0 until n).map(i => (i * 7919) % 1000).toDF("k")
        graft.catalog.CommitFiles.shapeDeleteWrite(
            spark, df, Seq(col("k")), n.toLong)
          .write.parquet(dir.resolve("out").toString)
        val files = java.nio.file.Files.list(dir.resolve("out")).iterator()
        val parquets = scala.jdk.CollectionConverters.IteratorHasAsScala(files).asScala
          .map(_.getFileName.toString).filter(_.endsWith(".parquet")).toSeq
        if (n <= cap) parquets.size shouldBe 1
        else {
          val expected = math.min((n + cap - 1) / cap, 10000).toInt
          parquets.size should be <= expected
          parquets.size should be > 1
        }
        // every tuple survives the fan-out
        spark.read.parquet(dir.resolve("out").toString)
          .collect().map(_.getInt(0)).sorted.toSeq shouldBe
          (0 until n).map(i => (i * 7919) % 1000).sorted
        java.nio.file.Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
          .forEach(p => java.nio.file.Files.deleteIfExists(p))
      } finally spark.conf.unset("graft.mor.maxSingleFileDeleteTuples")
    }
  }

  test("simhash banding finds EVERY hamming-≤3 pair (pigeonhole recall)") {
    val sf = "/root/testdata/sf0.001"
    def pairs(q: graft.queries.Q) =
      q.run(spark, sf).select("id1", "id2").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val banded = pairs(graft.queries.TextOps.q28d)
    val brute = pairs(graft.queries.TextOps.q28e)
    banded shouldBe brute // not ⊆ — exactly equal: full recall, no junk
  }

  test("distributed label propagation == driver union-find on random graphs") {
    val edgeGen = Gen.listOfN(60, Gen.zip(Gen.choose(0L, 30L), Gen.choose(0L, 30L)))
      .map(_.filter(e => e._1 != e._2))
    forAll(edgeGen, trials = 5) { edges =>
      if (edges.nonEmpty) {
        val pairs = edges.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
          .toDF("id1", "id2")
        val viaDriver = graft.queries.TextOps.connectedComponents(pairs)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val viaDistributed = graft.queries.TextOps.connectedComponents(pairs, smallCutoff = 0L)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        viaDistributed shouldBe viaDriver
        // an unbounded cutoff takes the driver path over every edge
        val viaUnbounded =
          graft.queries.TextOps.connectedComponents(pairs, smallCutoff = Long.MaxValue)
            .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        viaUnbounded shouldBe viaDriver
      }
    }
  }

  test("set algebra: (a ∪ b) ∖ b ⊆ a and a ∩ b ⊆ a") {
    forAll(Gen.listOf(Gen.choose(0, 20)), Gen.listOf(Gen.choose(0, 20))) { (xs, ys) =>
      val a = xs.toDF("v")
      val b = ys.toDF("v")
      val diff = a.union(b).except(b).as[Int].collect().toSet
      diff.subsetOf(xs.toSet) shouldBe true
      val inter = a.intersect(b).as[Int].collect().toSet
      inter shouldBe (xs.toSet intersect ys.toSet)
    }
  }

  test("vec_dot codegen == higher-order-function fold, bit for bit") {
    val vecGen = Gen.listOfN(8, Gen.chooseNum(-10.0f, 10.0f))
    forAll(vecGen, vecGen) { (xs, ys) =>
      val df = Seq((xs.toArray, ys.toArray)).toDF("a", "b")
      val Array(r) = df.select(
        call_function("vec_dot", col("a"), col("b")).as("fast"),
        aggregate(zip_with(col("a"), col("b"),
          (x, y) => x.cast("double") * y.cast("double")),
          lit(0.0), (acc, x) => acc + x).as("hof"))
        .collect()
      // identical sequential fold ⇒ identical bits, not just ≈
      java.lang.Double.doubleToRawLongBits(r.getDouble(0)) shouldBe
        java.lang.Double.doubleToRawLongBits(r.getDouble(1))
    }
  }

  test("TopKAggregator matches sort-and-take on any input") {
    forAll(Gen.listOf(Gen.zip(Gen.choose(0L, 50L), Gen.chooseNum(-5.0, 5.0))), 40) { items =>
      val agg = new TopKAggregator(5)
      val buf = items.foldLeft(agg.zero)((b, i) => agg.reduce(b, Scored(i._1, i._2)))
      val got = agg.finish(buf)
      val want = items.map(i => Scored(i._1, i._2))
        .sortBy(s => (-s.score, s.id)).take(5)
      got shouldBe want
    }
  }

  test("text cleaning is idempotent: cleaning a cleaned corpus removes nothing") {
    val sf = "/root/testdata/sf0.001"
    val cleaned = graft.queries.TextOps.q43.run(spark, sf)
      .select($"doc_id", $"clean_text".as("text"))
    // re-run the cleaning transformation over the cleaned text: every
    // surviving token is >1 char and the mask sentinel is not in the
    // denylist, so a second pass must be the identity
    import org.apache.spark.sql.functions._
    val kept = filter(split(col("text"), " "), t => org.apache.spark.sql.functions.length(t) > 1)
    val reclean = cleaned.select(col("doc_id"),
      array_join(transform(kept,
        t => when(t.isin("spark", "data"), "<TERM>").otherwise(t)), " ").as("t2"),
      col("text"))
    reclean.filter(col("t2") =!= col("text")).count() shouldBe 0L
  }

  test("per-stratum sample returns exactly min(k, stratum size) docs per language") {
    val sf = "/root/testdata/sf0.001"
    val sizes = graft.queries.TextOps.q47.run(spark, sf)
      .groupBy($"lang").count().as[(String, Long)].collect().toMap
    val strata = graft.Tables.documents(spark, sf)
      .groupBy($"lang").count().as[(String, Long)].collect().toMap
    strata.foreach { case (lang, n) =>
      sizes.getOrElse(lang, 0L) shouldBe math.min(20L, n)
    }
  }

  test("decontamination flags exactly the docs sharing a 5-gram with the eval set") {
    // brute-force check on the small corpus: string 5-grams, no hashing
    val sf = "/root/testdata/sf0.001"
    import org.apache.spark.sql.functions._
    def grams(df: org.apache.spark.sql.DataFrame) = df
      .select($"doc_id", split($"text", " ").as("t"))
      .filter(org.apache.spark.sql.functions.size($"t") >= 5)
      .select($"doc_id", explode(array_distinct(transform(
        sequence(lit(0), org.apache.spark.sql.functions.size($"t") - 5),
        i => concat_ws(" ", (0 until 5).map(j => element_at($"t", i + j + 1)): _*)))).as("g"))
    val docs = graft.Tables.documents(spark, sf)
    val g = grams(docs)
    val expected = g.filter($"doc_id" >= 10)
      .join(g.filter($"doc_id" < 10).select($"g").distinct(), Seq("g"), "left_semi")
      .select($"doc_id").distinct().as[Long].collect().toSet
    val got = graft.queries.TextOps.q45.run(spark, sf)
      .select($"doc_id").as[Long].collect().toSet
    got shouldBe expected
  }

  test("phrase search ≡ brute-force sliding-window scan on random corpora") {
    // random docs over a tiny vocabulary (maximal token collisions and
    // repeated tokens — the hard case for positional merging) vs the
    // definitional check: some window of len |phrase| equals the phrase
    val vocab = Vector("a", "b", "c", "d")
    val docGen = Gen.listOfN(12, Gen.choose(1, 8).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf(vocab)).map(_.mkString(" "))))
    val phraseGen = Gen.choose(1, 3).flatMap(n => Gen.listOfN(n, Gen.oneOf(vocab)))
    var round = 0
    forAll(Gen.zip(docGen, phraseGen), trials = 8) { case (texts, phrase) =>
      round += 1
      val tbl = s"ph_prop_$round"
      spark.sql("CREATE NAMESPACE IF NOT EXISTS lakehouse.prop_ns")
      spark.sql(s"DROP TABLE IF EXISTS lakehouse.prop_ns.$tbl")
      spark.sql(s"DROP TABLE IF EXISTS lakehouse.prop_ns.${tbl}_idx")
      spark.sql(s"CREATE TABLE lakehouse.prop_ns.$tbl (doc_id BIGINT, text STRING)")
      texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
        .createOrReplaceTempView(s"${tbl}_src")
      spark.sql(s"INSERT INTO lakehouse.prop_ns.$tbl SELECT * FROM ${tbl}_src")
      graft.operators.TextIndex.create(
        spark, "lakehouse", Seq("prop_ns"), tbl, s"${tbl}_idx", nBuckets = 4)
      val got = graft.operators.TextIndex.phraseSearch(
        spark, "lakehouse", Seq("prop_ns"), s"${tbl}_idx", phrase)
        .collect().map(_.getLong(0)).toSeq
      val want = texts.zipWithIndex.collect { case (t, i)
          if t.split(" ").toSeq.sliding(phrase.size).exists(_ == phrase) => i.toLong }
      got shouldBe want
      spark.sql(s"DROP TABLE lakehouse.prop_ns.${tbl}_idx")
      spark.sql(s"DROP TABLE lakehouse.prop_ns.$tbl")
    }
  }

  test("insert coercion round-trip: INT source → FLOAT column keeps exact small ints") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS lakehouse.prop_ns")
    spark.sql("DROP TABLE IF EXISTS lakehouse.prop_ns.coerce_t")
    spark.sql("CREATE TABLE lakehouse.prop_ns.coerce_t (v FLOAT)")
    val xs = Seq(0, 1, -1, 16777216, -16777216) // ints exactly representable as float
    xs.toDF("v").createOrReplaceTempView("ints_src")
    spark.sql("INSERT OVERWRITE lakehouse.prop_ns.coerce_t SELECT * FROM ints_src")
    val back = spark.table("lakehouse.prop_ns.coerce_t").as[Float].collect().sorted
    back shouldBe xs.map(_.toFloat).sorted.toArray
    spark.sql("DROP TABLE lakehouse.prop_ns.coerce_t")
  }
}
