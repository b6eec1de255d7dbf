package lakebench

import java.nio.file.Path
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}

import graft.SparkEntry

/** `query_suite`: passes over registered queries on the generated
  * tables, each pass in a seeded order. */
object QuerySets {
  /** LLM-data queries: the BPE learn and encode loops, UniMax sampling,
    * bigram scoring, k-means and exact dedup. */
  val Llm: Seq[String] = Seq(
    "q76_bpe_merges", "q79_bpe_encode", "q80_unimax", "q64_bigram_score",
    "q109_kmeans_cluster", "q28_dedup_exact")
  /** TPC-H queries: multi-way joins, scans of the largest table and
    * shuffle-heavy aggregation. */
  val Tpch: Seq[String] = Seq("q89_tpch_q2", "q92_tpch_q5", "q97_tpch_q10")
  val All: Seq[String] = Llm ++ Tpch
  /** Untimed passes in set-up, the oracle pass included. */
  val WarmPasses = 2

  /** Pass `p`'s query order for `seed`: a seeded shuffle, so the same
    * seed gives the same plan and another seed another plan. */
  def passOrder(names: Seq[String], seed: Long, p: Int): Seq[String] =
    new scala.util.Random(seed * 31L + p).shuffle(names)

  /** Order-sensitive digest of a result with its columns in name order
    * (the order the oracle comparison uses). */
  def digest(cols: Seq[String], rows: Seq[Row]): String = {
    val order = cols.zipWithIndex.sortBy(_._1).map(_._2)
    val md = java.security.MessageDigest.getInstance("SHA-256")
    def render(v: Any): String = v match {
      case null => "null"
      case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
      case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
      case x => x.toString
    }
    rows.foreach(r => md.update((order.map(i => render(r.get(i))).mkString("\u0001") + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }
}

final class QueryWorkload(spark: SparkSession, run: Runner, seed: Long, names: Seq[String],
    dataDir: String, resultsDir: Path) extends Workload {
  val nominalRoundS = 7.0
  private val byName = SparkEntry.allQueries.map(q => q.name -> q).toMap
  private val expected = scala.collection.mutable.HashMap.empty[String, String]
  val oracles: Map[String, String] = names.flatMap(n => byName(n).oracle.map(n -> _)).toMap
  private var pass = 0

  def report: Map[String, Any] = Map("oracles" -> oracles)

  /** Untimed warm-up passes. The first fills caches and builds the
    * query indexes, and keeps each result for the DuckDB oracle and as
    * the digest every later run of the query must reproduce. The others
    * run each query warm, so that the JIT has compiled what the first
    * pass loaded before the timed passes begin. */
  def setup(): Unit = {
    java.nio.file.Files.createDirectories(resultsDir)
    require(oracles.keySet == names.toSet, s"queries without oracle: ${names.filterNot(oracles.contains)}")
    for (n <- QuerySets.passOrder(names, seed, pass)) {
      val df = byName(n).run(spark, dataDir)
      val rows = df.collect().toSeq
      expected(n) = QuerySets.digest(df.columns.toSeq, rows)
      spark.createDataFrame(rows.asJava, df.schema).coalesce(1)
        .write.parquet(resultsDir.resolve(n).toString)
      run.releasePins()
    }
    pass += 1
    for (_ <- 1 until QuerySets.WarmPasses) runPass(timed = false)
  }

  /** One pass in the seeded order; every run of a query is checked
    * against the warm-up result. */
  private def runPass(timed: Boolean): Unit = {
    for (n <- QuerySets.passOrder(names, seed, pass)) {
      run.op("query", n, timed) { ctx =>
        val df = byName(n).run(spark, dataDir)
        val rows = df.collect().toSeq
        ctx.count("rows", rows.size)
        val d = QuerySets.digest(df.columns.toSeq, rows)
        if (d != expected(n)) ctx.mismatch(s"$n: result differs from the oracle-checked warm-up result")
      }
      run.releasePins()
    }
    pass += 1
  }

  /** `passes` whole timed passes. */
  def timed(passes: Int): Unit =
    for (_ <- 0 until passes) {
      runPass(timed = true)
      run.roundEnd()
      run.heapCheckpoint()
    }
}
