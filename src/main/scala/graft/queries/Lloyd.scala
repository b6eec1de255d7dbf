package graft.queries

import scala.jdk.CollectionConverters._

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, round}
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

/** Lloyd's k-means behind q109/q110 (see `VectorOps.lloyd` for the
  * scale shape), run on the corpus RDD the way [[Bpe]] runs the BPE rounds:
  * one Catalyst plan for the scan of `embeddings`, then plain RDD jobs,
  * so no iteration pays analysis, optimization, planning or codegen, and
  * no iteration re-reads or re-shuffles the corpus.
  *
  * Every step reproduces the arithmetic of the DuckDB oracle the SQL
  * formulation was checked against (`oracleLloydCtes`):
  *  - the distance is [[graft.functions.SqDistFD]]'s fold: ascending
  *    dimensions, `(float→double − c)²`, over the shorter length;
  *  - the argmin orders `(dist, cid)` as Spark SQL orders doubles: NaN
  *    is the largest value, and ties go to the smaller cid;
  *  - a centroid is the per-dimension mean `Σx / n`, rounded to 1e-6
  *    HALF_UP; a cluster that lost every point keeps its centroid;
  *  - a null embedding has a null distance, which SQL orders first, so
  *    it joins the smallest cid. It counts in that cluster's rows but
  *    adds nothing to its sums; a cluster left with null rows only has
  *    `n = 0`, and its `0 / 0` mean fails the fit. */
private[queries] object Lloyd {
  /** A corpus point: (vec_id, embedding); a null embedding stays null. */
  private type Point = (Any, Array[Float])

  /** The fitted model: the pinned corpus, the seed ids (ascending, so
    * position order is cid order) and the final centroids. */
  final class Fit private[Lloyd] (
      points: RDD[Point], cids: Array[Long], cents: Array[Array[Double]], schema: StructType) {

    /** q109's rows as a local frame in cluster order: (cluster, n_vecs,
      * inertia_r), one last aggregate job of per-cluster row counts and
      * distance sums. A cluster with no row has no output row; one whose
      * rows all have a null distance has a null inertia, as SQL's `sum`
      * gives. */
    def clusterStats(spark: SparkSession): DataFrame = {
      val k = cids.length
      val cs = cents
      // layout per cluster j: [3j] rows, [3j+1] Σdist, [3j+2] non-null dists
      val acc = points.treeAggregate(new Array[Double](3 * k))((a, p) => {
        val j = nearest(p._2, cs)
        a(3 * j) += 1
        if (p._2 != null) { a(3 * j + 1) += sqDist(p._2, cs(j)); a(3 * j + 2) += 1 }
        a
      }, addInto)
      val rows = (0 until k).filter(j => acc(3 * j) > 0).map { j =>
        Row(cids(j), acc(3 * j).toLong,
          if (acc(3 * j + 2) > 0) acc(3 * j + 1) else null)
      }
      val sch = StructType(Seq(StructField("cluster", LongType),
        StructField("n_vecs", LongType, nullable = false),
        StructField("inertia", DoubleType)))
      // rows are built in cid order; the projection folds into the
      // local relation, so no job runs
      spark.createDataFrame(rows.asJava, sch)
        .select(col("cluster"), col("n_vecs"), round(col("inertia"), 3).as("inertia_r"))
    }

    /** The final assignment as a lazy (cid, vec_id, embedding) frame
      * over the pinned corpus. */
    def assignment(spark: SparkSession): DataFrame = {
      val ids = cids
      val cs = cents
      val rows = points.map { case (id, x) => Row(ids(nearest(x, cs)), id, x) }
      spark.createDataFrame(rows, StructType(StructField("cid", LongType) +: schema.fields))
    }
  }

  /** Fits `k` clusters in `iters` update rounds over `emb` (vec_id,
    * embedding, …) of `dim`-wide vectors, seeded from the rows with
    * `vec_id < k` in id order. Runs `iters + 1` jobs: the seed collect,
    * which pins the corpus it scans, then one `treeAggregate` per
    * round. */
  def fit(spark: SparkSession, emb: DataFrame, k: Int, iters: Int, dim: Int): Fit = {
    val base = emb.select(col("vec_id"), col("embedding"))
    // Fan the corpus out to the compute budget before the first pass,
    // as Bpe does: the bench fixtures are single-row-group parquet, so
    // the scan is ONE task. Skipped when the scan is already
    // budget-wide, so at scale this never shuffles.
    val scan: RDD[Point] = base.rdd.map { r =>
      val v = r.getSeq[Float](1)
      (r.get(0), if (v == null) null else v.toArray)
    }
    val width = spark.sparkContext.defaultParallelism
    val spread =
      if (scan.getNumPartitions < width) scan.partitionBy(new HashPartitioner(width))
      else scan
    val points = graft.Materialize.pinRdd(spark, spread)
    val seeds = points.filter {
      case (id: Long, _) => id < k
      case _ => false
    }.collect().sortBy(_._1.asInstanceOf[Long])
    require(seeds.nonEmpty, s"k-means needs a row with vec_id < $k to seed from")
    val cids = seeds.map(_._1.asInstanceOf[Long])
    // float→double widening is exact, so the seeds match the oracle's
    var cents = seeds.map(_._2.map(_.toDouble))
    for (_ <- 1 to iters) {
      val cs = cents
      // layout: [j·(dim+1)] n of cluster j, then its Σx; the last slot
      // counts null embeddings, which all go to cluster 0
      val acc = points.treeAggregate(new Array[Double](cs.length * (dim + 1) + 1))((a, p) => {
        val x = p._2
        if (x == null) a(a.length - 1) += 1
        else {
          require(x.length == dim, s"vector has dim ${x.length}, expected $dim")
          val o = nearest(x, cs) * (dim + 1)
          a(o) += 1
          var i = 0
          while (i < dim) { a(o + 1 + i) += x(i); i += 1 }
        }
        a
      }, addInto)
      cents = Array.tabulate(cs.length) { j =>
        val o = j * (dim + 1)
        val n = acc(o)
        if (n > 0 || (j == 0 && acc(acc.length - 1) > 0))
          Array.tabulate(dim)(i =>
            BigDecimal(acc(o + 1 + i) / n).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
        else cs(j) // an emptied cluster keeps its centroid
      }
    }
    new Fit(points, cids, cents, base.schema)
  }

  /** Position of the centroid nearest to `x`: the smallest `(dist,
    * position)` in SQL order, which is `(dist, cid)` order since the
    * positions follow ascending cid. A null `x` has a null distance to
    * every centroid and goes to position 0. */
  private def nearest(x: Array[Float], cents: Array[Array[Double]]): Int = {
    if (x == null) return 0
    var best = 0
    var bestD = sqDist(x, cents(0))
    var j = 1
    while (j < cents.length) {
      val d = sqDist(x, cents(j))
      // SQL double order: equal (−0.0 included) is a tie, NaN is largest
      if (d != bestD && java.lang.Double.compare(d, bestD) < 0) { best = j; bestD = d }
      j += 1
    }
    best
  }

  /** [[graft.functions.SqDistFD]]'s fold. */
  private def sqDist(x: Array[Float], c: Array[Double]): Double = {
    val n = math.min(x.length, c.length)
    var s = 0.0
    var i = 0
    while (i < n) {
      val t = x(i).toDouble - c(i)
      s += t * t
      i += 1
    }
    s
  }

  /** Adds `b` into `a` element-wise. */
  private def addInto(a: Array[Double], b: Array[Double]): Array[Double] = {
    var i = 0
    while (i < a.length) { a(i) += b(i); i += 1 }
    a
  }
}
