package lakebench

import scala.collection.mutable

/** Pure arithmetic behind the reported metrics; covered by [[SelfTest]]. */
object Stats {

  /** Nearest-rank quantile of `xs` (q in [0, 1]). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val rank = math.ceil(q * s.size).toInt.max(1).min(s.size)
    s(rank - 1)
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Samples that lie strictly above the nearest-rank `q` quantile. */
  def samplesBeyond(n: Int, q: Double): Int =
    if (n == 0) 0 else n - math.ceil(q * n).toInt.max(1).min(n)

  /** The percentile rule: a percentile is reported only when at least
    * `minBeyond` samples lie beyond it, so one outlier cannot set it. */
  def reportable(n: Int, q: Double, minBeyond: Int = 10): Boolean =
    samplesBeyond(n, q) >= minBeyond

  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), "geomean needs positive samples")
    math.exp(xs.map(math.log).sum / xs.size)
  }

  /** Throughput of each round: the ops that succeeded in it over its
    * seconds. `ends` holds each round's end as (timed-phase seconds, ops
    * so far); `ok` has one entry per op, in order. */
  def roundRates(ok: Seq[Boolean], ends: Seq[(Double, Int)]): Seq[Double] =
    ((0.0, 0) +: ends).sliding(2).collect {
      case Seq((s0, n0), (s1, n1)) if s1 > s0 => ok.slice(n0, n1).count(identity) / (s1 - s0)
    }.toSeq

  type Span = (Long, Long)

  /** Total length of the union of half-open intervals. */
  def unionLength(spans: Seq[Span]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((s, e) <- spans.filter(p => p._2 > p._1).sortBy(_._1)) {
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Length of `within` covered by the union of `spans`. */
  def covered(within: Span, spans: Seq[Span]): Long =
    unionLength(spans.map { case (s, e) => (s max within._1, e min within._2) })

  /** Splits an op's wall interval among layers by priority: each instant
    * goes to the first layer (in the order given) whose spans cover it,
    * and the instants no layer covers are the op's own gap. The layer
    * self times plus the gap add up to the wall time exactly. */
  def layeredSelf(op: Span, layers: Seq[(String, Seq[Span])]): (Seq[(String, Long)], Long) = {
    val acc = mutable.ArrayBuffer.empty[Span]
    var prev = 0L
    val self = layers.map { case (name, spans) =>
      acc ++= spans
      val now = covered(op, acc.toSeq)
      val mine = now - prev
      prev = now
      name -> mine
    }
    (self, (op._2 - op._1) - prev)
  }

  /** Bytes of files seen for the first time: the write-amplification
    * numerator. Each path counts once, at the size it had when first
    * seen, so a file rewritten in place is not double-counted and a
    * file deleted later still counts. */
  final class FileLedger {
    private val seen = mutable.HashMap.empty[String, Long]
    private var created = 0L
    def createdBytes: Long = created
    /** Records a listing (path -> size); returns the files it added. */
    def observe(listing: Map[String, Long]): Seq[(String, Long)] = {
      val added = listing.toSeq.filterNot(e => seen.contains(e._1))
      added.foreach { case (p, sz) => seen(p) = sz; created += sz }
      added
    }
    /** Forget creations so far but remember the paths: the timed phase
      * then counts only files it created itself. */
    def resetCount(): Unit = created = 0L
  }

  /** Bytes under the table directory per byte of live data file. */
  def spaceAmp(tableDirBytes: Long, liveDataBytes: Long): Double = {
    require(liveDataBytes > 0, "space_amp of a table with no live data")
    tableDirBytes.toDouble / liveDataBytes
  }

  /** Bytes of files created per byte of source rows ingested. */
  def writeAmp(createdBytes: Long, sourceBytes: Long): Double = {
    require(sourceBytes > 0, "write_amp with nothing ingested")
    createdBytes.toDouble / sourceBytes
  }
}
