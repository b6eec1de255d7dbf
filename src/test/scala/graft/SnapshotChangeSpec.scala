package graft

import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.catalog.{Fs, Maintenance, TableMetadata}

/** Every catalog commit derives, publishes and retries through one core
  * (`graft.catalog.SnapshotChange`): only a commit conflict retries, and
  * a commit that does not land leaves nothing it staged behind. */
class SnapshotChangeSpec extends AnyFunSuite with Matchers {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val Ns = "snapchange"

  private def tableDir(name: String): Path =
    spark.sessionState.catalogManager.catalog("lakehouse")
      .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
      .loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(Array(Ns), name))
      .asInstanceOf[graft.catalog.LakehouseTable].tableDir

  private def messages(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")

  test("a commit that fails inside the publish discards its staged files and manifest chunks") {
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS lakehouse.$Ns")
    spark.sql(s"DROP TABLE IF EXISTS lakehouse.$Ns.floor")
    spark.sql(s"CREATE TABLE lakehouse.$Ns.floor (k INT, v STRING)")
    spark.sql(s"INSERT INTO lakehouse.$Ns.floor VALUES (1, 'a')")
    val dir = tableDir("floor")
    val md = TableMetadata.metadataDir(dir)
    val before = TableMetadata.load(dir)
    val failed = before.version + 1

    /** Staging dirs under data/ and the dirs the live snapshot references. */
    def stagingDirs: (Set[String], Set[String]) = {
      val onDisk = Fs.childNames(dir.resolve("data")).map(n => s"data/$n").toSet
      val referenced = TableMetadata.load(dir).files.map(f => f.take(f.lastIndexOf('/'))).toSet
      (onDisk, referenced)
    }
    def chunksOfFailed: Seq[String] = Fs.childNames(md).filter(_.startsWith(s"m-$failed-"))

    // the floor is read only by the publish, so every commit below gets
    // as far as staging its files and writing its manifest chunks
    Files.writeString(md.resolve("expire-floor.text"), "not-a-number")
    val attempts = Seq[(String, () => Any)](
      "transactionalAppend" -> (() => Maintenance.transactionalAppend(
        spark, "lakehouse", Seq(Ns), "floor", Seq((2, "b")).toDF("k", "v"), "floor-txn", 1L)),
      "SQL INSERT" -> (() => spark.sql(s"INSERT INTO lakehouse.$Ns.floor VALUES (3, 'c')")),
      "tag" -> (() => Maintenance.tag(spark, "lakehouse", Seq(Ns), "floor", "t1", before.version)))
    attempts.foreach { case (path, run) =>
      withClue(s"$path: ") {
        messages(intercept[Exception](run())) should include("corrupt expire floor")
        val (onDisk, referenced) = stagingDirs
        onDisk shouldBe referenced
        chunksOfFailed shouldBe empty
        TableMetadata.load(dir).version shouldBe before.version
      }
    }

    // with a readable floor the same writes land
    Files.delete(md.resolve("expire-floor.text"))
    Maintenance.transactionalAppend(spark, "lakehouse", Seq(Ns), "floor",
      Seq((2, "b")).toDF("k", "v"), "floor-txn", 1L) shouldBe true
    spark.sql(s"INSERT INTO lakehouse.$Ns.floor VALUES (3, 'c')")
    spark.table(s"lakehouse.$Ns.floor").count() shouldBe 3L
    spark.sql(s"DROP TABLE lakehouse.$Ns.floor")
  }

  test("only the core builds snapshot metadata and publishes it") {
    val catalogDir = Paths.get("src/main/scala/graft/catalog")
    Files.isDirectory(catalogDir) shouldBe true
    val core = Set("SnapshotChange.scala", "TableMetadata.scala")
    val forbidden = """TableMetadata\.commit\(|commitOrRebase\(|\bSnapshot\(""".r
    val hits = Fs.children(catalogDir)
      .filter(p => p.getFileName.toString.endsWith(".scala"))
      .filterNot(p => core.contains(p.getFileName.toString))
      .flatMap { p =>
        Files.readAllLines(p).toArray(Array.empty[String]).toSeq.zipWithIndex.collect {
          case (line, i) if forbidden.findFirstIn(line).isDefined =>
            s"${p.getFileName}:${i + 1}: ${line.trim}"
        }
      }
    hits shouldBe empty
  }
}
