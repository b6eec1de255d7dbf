package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.catalog.SessionConf

/** Library calls must not leak session-conf writes into the user's
  * session (VERDICT r11 #7): every parquet commit scopes its
  * `outputTimestampType` tweak, and the events loader leaves
  * `nanosAsLong` alone on the current fixture. */
class SessionConfSpec extends AnyFunSuite with Matchers {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val TsKey = "spark.sql.parquet.outputTimestampType"

  test("engine write paths restore outputTimestampType after the call") {
    spark.conf.unset(TsKey)
    // registered SQLConf keys report their DEFAULT when unset — the
    // leak check is "still the default", not "absent"
    val baseline = spark.conf.get(TsKey)
    baseline should not be "TIMESTAMP_MICROS"
    spark.sql("CREATE NAMESPACE IF NOT EXISTS lakehouse.sc")
    spark.sql("DROP TABLE IF EXISTS lakehouse.sc.t1")
    spark.sql("CREATE TABLE lakehouse.sc.t1 (k INT, v STRING)")
    Seq((1, "a"), (2, "b"), (3, "c")).toDF("k", "v").createOrReplaceTempView("sc_src")

    // INSERT (commitInsert), COW DELETE, MoR DELETE, UPDATE, compaction
    spark.sql("INSERT INTO lakehouse.sc.t1 SELECT * FROM sc_src")
    spark.conf.get(TsKey) shouldBe baseline
    spark.sql("DELETE FROM lakehouse.sc.t1 WHERE k = 3")
    spark.conf.get(TsKey) shouldBe baseline
    spark.sql("ALTER TABLE lakehouse.sc.t1 SET TBLPROPERTIES " +
      "('graft.delete.mode'='merge-on-read', " +
      "'write.update.mode'='merge-on-read')") // dirty-table-safe UPDATE below
    spark.sql("DELETE FROM lakehouse.sc.t1 WHERE k = 2")
    spark.conf.get(TsKey) shouldBe baseline
    spark.sql("UPDATE lakehouse.sc.t1 SET v = 'z' WHERE k = 1")
    spark.conf.get(TsKey) shouldBe baseline
    graft.catalog.Maintenance.compact(spark, "lakehouse", Seq("sc"), "t1",
      targetFiles = 1)
    spark.conf.get(TsKey) shouldBe baseline
    spark.table("lakehouse.sc.t1").count() shouldBe 1

    // a USER-set value is restored, not clobbered to unset
    spark.conf.set(TsKey, "INT96")
    spark.sql("INSERT INTO lakehouse.sc.t1 SELECT * FROM sc_src")
    spark.conf.get(TsKey) shouldBe "INT96"
    spark.conf.unset(TsKey)
    spark.sql("DROP TABLE lakehouse.sc.t1")
  }

  test("reference-counted scopes survive concurrent writers on one session") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    spark.conf.unset(TsKey)
    val baseline = spark.conf.get(TsKey)
    val fs = (0 until 4).map { i =>
      Future {
        SessionConf.withMicros(spark) {
          // while ANY scope is open the conf must hold — a naive
          // save/restore would unset it under the slower writer
          Thread.sleep(20L * (i + 1))
          spark.conf.get(TsKey) shouldBe "TIMESTAMP_MICROS"
        }
      }
    }
    fs.foreach(Await.result(_, 30.seconds))
    spark.conf.get(TsKey) shouldBe baseline
  }

  test("events loader leaves nanosAsLong alone on the current fixture") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    spark.conf.unset(key)
    val df = graft.Tables.events(spark, "/root/testdata/sf0.001")
    df.count() should be > 0L
    // current fixture is timestamp[us]: no legacy switch needed — the
    // conf stays at its default (false)
    spark.conf.get(key) shouldBe "false"
  }

  test("table loads and fixture queries leave the session conf alone") {
    import graft.queries.{Relational, ScratchCatalog, VectorOps}
    // a fresh session: its function registry holds only what the
    // extension injected at build time
    val spark = TestSpark.spark.newSession()
    val sf = "/root/testdata/sf0.001"
    def runAll(): Unit = {
      graft.Tables.customer(spark, sf)
      Relational.q113.run(spark, sf).collect()
      Relational.q111.run(spark, sf).collect()
      VectorOps.q29c.run(spark, sf).collect()
    }
    def functionNames = spark.sessionState.functionRegistry.listFunction().toSet
    val functionsBefore = functionNames
    val rulesBefore = spark.experimental.extraOptimizations
    runAll() // registers the scratch catalog and builds the fixtures
    val key = "spark.sql.optimizer.excludedRules"
    spark.conf.set(key, "org.apache.spark.sql.catalyst.optimizer.CollapseRepartition")
    val before = spark.conf.getAll
    runAll()
    spark.conf.getAll shouldBe before
    // no query installs a function or an optimizer rule
    val functionsAfter = functionNames
    (functionsAfter diff functionsBefore, functionsBefore diff functionsAfter) shouldBe
      ((Set.empty, Set.empty))
    spark.experimental.extraOptimizations shouldBe rulesBefore

    // a warm fixture is served as is: no rebuild, no new commit
    val dir = ScratchCatalog.fixtureDir(Seq(ScratchCatalog.nameFor("magg", sf)), "customer")
    val built = graft.catalog.TableMetadata.load(dir)
    Relational.q113.run(spark, sf).collect()
    val again = graft.catalog.TableMetadata.load(dir)
    (again.version, again.snapshots.last) shouldBe ((built.version, built.snapshots.last))
    dir.startsWith(java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))) shouldBe true
  }
}
