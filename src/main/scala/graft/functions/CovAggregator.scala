package graft.functions

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.expressions.Aggregator

/** Second-moment accumulator for a d-dim embedding column: one pass
  * collects n, Σx_i and Σx_i·x_j (upper triangle), from which the
  * covariance matrix — the whitening/PCA input every ANN pipeline
  * computes before training a quantizer — derives row-locally.
  *
  * Scale rationale: the naive formulation explodes each vector into
  * d(d+1)/2 (i, j, x_i·x_j) rows and groupBys — a d²-fold row blowup
  * shuffled across the cluster (4.7 TB of pair rows per 1 TB of
  * 64-dim vectors). This aggregator keeps the WHOLE state in one
  * d + d(d+1)/2 + 1 doubles buffer (~17 KB at d=64) per partition,
  * combines map-side, and ships exactly one buffer per partition —
  * the shuffle is O(partitions · d²) bytes, independent of row count.
  */
class CovAggregator(d: Int) extends Aggregator[Array[Float], Array[Double], Array[Double]] {

  private val pairs = d * (d + 1) / 2

  // layout: [0] = n, [1..d] = Σx, [d+1 ..] = Σ x_i x_j for i<=j
  override def zero: Array[Double] = new Array[Double](1 + d + pairs)

  override def reduce(buf: Array[Double], x: Array[Float]): Array[Double] = {
    // null embeddings contribute nothing — the same rows a SQL unnest
    // drops, so both engines see identical moments
    if (x == null) return buf
    require(x.length == d, s"embedding has dim ${x.length}, expected $d")
    buf(0) += 1
    var i = 0
    var p = 1 + d
    while (i < d) {
      val xi = x(i).toDouble
      buf(1 + i) += xi
      var j = i
      while (j < d) {
        buf(p) += xi * x(j)
        j += 1
        p += 1
      }
      i += 1
    }
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
