package graft.queries

import scala.collection.mutable

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StringType

/** The BPE learn+apply loop behind q76/q79 (see q76's scaladoc for the
  * scale shape), run on the corpus RDD: one Catalyst plan for the scan
  * of `documents`, then plain RDD jobs, so no round pays analysis,
  * optimization, planning or codegen — the shape MLlib's iterative
  * algorithms have.
  *
  * Every string operation reproduces the Spark SQL expression the loop
  * used to run, byte for byte (the DuckDB mirror in `bpeChain` spells
  * the same expressions):
  *  - tokens are `split(s, ' ')`, which is Java `split(" ", -1)`:
  *    empty tokens are kept, trailing ones too; a null `s` has none;
  *  - a pair is `t[i] || ' ' || t[i+1]`;
  *  - the merge is `trim(replace(replace(' ' || replace(s, ' ', '  ')
  *    || ' ', target, repl), '  ', ' '))`, each replace left to right
  *    and non-overlapping, `trim` stripping ASCII space only;
  *  - the winner is `ORDER BY c DESC, p ASC LIMIT 1`, where `p ASC` is
  *    UTF-8 byte order, not `String.compareTo`'s UTF-16 order. */
private[queries] object Bpe {
  /** Pair → count; a pair whose count reaches 0 is removed, so it can
    * never win a round. */
  private type Counts = mutable.HashMap[String, Long]

  /** A corpus row: (doc_id, text, s), `s` being the encoded text. */
  private type Doc = (Any, String, String)

  /** Runs `rounds` rounds over `docs` (doc_id, text, …). Returns the
    * learned merges as (step, lhs, rhs, freq) rows and the encoded
    * corpus as a lazy (doc_id, text, s) frame. */
  def learnApply(spark: SparkSession, docs: DataFrame, rounds: Int): (Seq[Row], DataFrame) = {
    val base = docs.select(col("doc_id"), col("text"))
    val schema = base.schema.add("s", StringType)
    // Fan the corpus out to the compute budget before the first pass:
    // the bench fixtures are single-row-group parquet, so the scan is
    // ONE task and every round's string work would run on one core.
    // Deterministic (hash on doc_id), and skipped when the scan is
    // already budget-wide, so at 100 TB this never shuffles.
    val scan = base.rdd.map(r => (r.get(0), r.getString(1)))
    val width = spark.sparkContext.defaultParallelism
    val spread =
      if (scan.getNumPartitions < width) scan.partitionBy(new HashPartitioner(width))
      else scan
    // The first job counts every pair and pins the corpus it scanned.
    var cur: RDD[Doc] = graft.Materialize.pinRdd(spark,
      spread.map { case (id, text) => (id, text, text) })
    var counts = sumCounts(cur)((h, d) => add(h, d._3, 1L))
    val learned = mutable.ArrayBuffer.empty[Row]
    for (step <- 1 to rounds) argmax(counts).foreach { case (p, c) =>
      val Array(lhs, rhs) = p.split(" ", 2)
      learned += Row(step, lhs, rhs, c)
      val target = " " + p.replace(" ", "  ") + " "
      val repl = " " + p.replace(" ", "§") + " "
      val next = cur.map { case (id, text, s) => (id, text, merge(s, target, repl)) }
      if (step < rounds) {
        // One single-stage job: substitute, pin the new corpus as a
        // side effect, and return the pair-count delta of the
        // documents whose text changed.
        graft.Materialize.pinRdd(spark, next)
        val delta = sumCounts(cur.zip(next)) { case (h, (o, n)) =>
          if (o._3 != n._3) { add(h, o._3, -1L); add(h, n._3, 1L) }
        }
        counts = mergeCounts(counts, delta)
      }
      cur = next
    }
    (learned.toSeq, spark.createDataFrame(cur.map { case (id, t, s) => Row(id, t, s) }, schema))
  }

  /** Per-partition histograms of `rdd`, summed by `treeAggregate`. */
  private def sumCounts[T](rdd: RDD[T])(f: (Counts, T) => Unit): Counts =
    rdd.treeAggregate(new Counts)((h, x) => { f(h, x); h }, mergeCounts)

  /** Adds `sign` to the count of every adjacent token pair of `s`. */
  private def add(h: Counts, s: String, sign: Long): Unit = if (s != null) {
    val t = s.split(" ", -1)
    var i = 1
    while (i < t.length) {
      val p = t(i - 1) + " " + t(i)
      val v = h.getOrElse(p, 0L) + sign
      if (v == 0L) h.remove(p) else h(p) = v
      i += 1
    }
  }

  /** Sums two histograms into the larger one. */
  private def mergeCounts(a: Counts, b: Counts): Counts = {
    val (big, small) = if (a.size >= b.size) (a, b) else (b, a)
    small.foreach { case (p, c) =>
      val v = big.getOrElse(p, 0L) + c
      if (v == 0L) big.remove(p) else big(p) = v
    }
    big
  }

  /** The highest count, ties to the smallest pair in UTF-8 byte order;
    * None when no pair is left. */
  private def argmax(counts: Counts): Option[(String, Long)] = {
    var best: String = null
    var bestC = 0L
    counts.foreach { case (p, c) =>
      if (c > bestC || (c == bestC && utf8Compare(p, best) < 0)) { best = p; bestC = c }
    }
    Option(best).map(_ -> bestC)
  }

  /** UTF-8 byte order, which is code point order. */
  private def utf8Compare(a: String, b: String): Int = {
    var i = 0
    while (i < a.length && i < b.length) {
      val x = a.codePointAt(i)
      val y = b.codePointAt(i)
      if (x != y) return Integer.compare(x, y)
      i += Character.charCount(x)
    }
    Integer.compare(a.length - i, b.length - i)
  }

  /** Spark's merge expression; a null `s` stays null. */
  private def merge(s: String, target: String, repl: String): String =
    if (s == null) null
    else trimSpaces((" " + s.replace(" ", "  ") + " ").replace(target, repl).replace("  ", " "))

  /** Spark's `trim`: ASCII space only (`String.trim` strips every
    * char up to U+0020). */
  private def trimSpaces(s: String): String = {
    var from = 0
    var to = s.length
    while (from < to && s.charAt(from) == ' ') from += 1
    while (to > from && s.charAt(to - 1) == ' ') to -= 1
    s.substring(from, to)
  }
}
