package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Native Catalyst expressions for embedding math over
  * `ARRAY<FLOAT>` columns.
  *
  * The higher-order-function formulation
  * (`aggregate(zip_with(a, b, _*_), 0.0, _+_)`) is semantically
  * identical but materializes an intermediate array per row-pair and
  * interprets a lambda per element; on the all-pairs similarity join it
  * made the dot product ~20× slower than this codegen'd loop. Same
  * float→double sequential fold, so results are bit-identical to the
  * HOF version and to the DuckDB oracle's LIST_REDUCE.
  */
case class VecDot(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "vec_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      s += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    s
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += (double) $a.getFloat($i) * (double) $b.getFloat($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Σ xᵢyᵢ with a FLOAT left operand and DOUBLE right operand — the
  * query-vs-centroid kernel (embeddings are `array<float>`, trained
  * centroids `array<double>`). Same sequential fold as [[VecDot]]. */
case class VecDotFD(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "vec_dot_d"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      s += x.getFloat(i).toDouble * y.getDouble(i)
      i += 1
    }
    s
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += (double) $a.getFloat($i) * $b.getDouble($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Σ (xᵢ−yᵢ)² with a FLOAT left operand and DOUBLE right operand — the
  * k-means assignment kernel (corpus `array<float>`, centroids
  * `array<double>`). The SAME ascending-dimension (a−b)·(a−b) fold as
  * the DuckDB oracle's LIST_REDUCE over `(v[i]-c[i])*(v[i]-c[i])`
  * (float→double widening is exact), so distances are bit-identical
  * across engines and cluster assignments never diverge — an expanded
  * ‖x‖²−2x·c+‖c‖² formulation would be faster to derive from cached
  * norms but reorders the summation and loses that guarantee. */
case class SqDistFD(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "sq_dist_d"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      val t = x.getFloat(i).toDouble - y.getDouble(i)
      s += t * t
      i += 1
    }
    s
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val t = ctx.freshName("t")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $t = (double) $a.getFloat($i) - $b.getDouble($i);
         |  $s += $t * $t;
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** All random-hyperplane LSH table signatures of a float vector in ONE
  * codegen'd pass: signature t has bit b set iff v · plane(t,b) ≥ 0.
  * The plane matrix rides into generated code as a flat float[]
  * reference object. Semantically identical to `tables × bits` separate
  * `vec_dot(v, typedLit(plane)) ≥ 0` columns (same float→double fold),
  * but one expression node instead of a 72-node tree — smaller codegen,
  * one array traversal per plane, no per-node eval overhead. */
case class LshSignatures(
    child: Expression,
    tables: Int,
    bits: Int,
    dim: Int,
    flatPlanes: Array[Float])
  extends UnaryExpression {

  require(flatPlanes.length == tables * bits * dim, "plane matrix shape mismatch")

  override def dataType: DataType = org.apache.spark.sql.types.ArrayType(
    org.apache.spark.sql.types.LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "lsh_sigs"

  override def nullSafeEval(a: Any): Any = {
    val v = a.asInstanceOf[ArrayData]
    val n = math.min(v.numElements(), dim)
    val sigs = new Array[Long](tables)
    var t = 0
    while (t < tables) {
      var sig = 0L
      var b = 0
      while (b < bits) {
        val off = (t * bits + b) * dim
        var s = 0.0
        var i = 0
        while (i < n) { s += v.getFloat(i).toDouble * flatPlanes(off + i).toDouble; i += 1 }
        if (s >= 0) sig |= (1L << b)
        b += 1
      }
      sigs(t) = sig
      t += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(sigs)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val planes = ctx.addReferenceObj("lshPlanes", flatPlanes, "float[]")
    nullSafeCodeGen(ctx, ev, v => {
      val sigs = ctx.freshName("sigs")
      val t = ctx.freshName("t")
      val b = ctx.freshName("b")
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val sig = ctx.freshName("sig")
      val off = ctx.freshName("off")
      s"""
         |int $n = java.lang.Math.min($v.numElements(), $dim);
         |long[] $sigs = new long[$tables];
         |for (int $t = 0; $t < $tables; $t++) {
         |  long $sig = 0L;
         |  for (int $b = 0; $b < $bits; $b++) {
         |    int $off = ($t * $bits + $b) * $dim;
         |    double $s = 0.0;
         |    for (int $i = 0; $i < $n; $i++) {
         |      $s += (double) $v.getFloat($i) * (double) $planes[$off + $i];
         |    }
         |    if ($s >= 0) $sig |= (1L << $b);
         |  }
         |  $sigs[$t] = $sig;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($sigs);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object LshSignatures {
  // (1 - arccos(s)/π)^bits is the per-table collision probability at
  // cosine s. The synthetic corpus tops out near s≈0.5, so 12-bit
  // buckets collide almost never (~0.2%/table); 6 bits × 12 tables
  // gives ~40% candidate recall while candidates stay ~2^-6·tables ≈
  // 19% of corpus per query. For a true near-dup workload (s ≥ 0.9)
  // more bits and fewer tables is the right trade.
  val Tables = 12
  val Bits = 6
  val Dim = 64

  /** Seeded Gaussian hyperplanes, flattened (table, bit, dim). */
  lazy val Planes: Array[Float] = {
    val rnd = new scala.util.Random(42)
    Array.fill(Tables * Bits * Dim)(rnd.nextGaussian().toFloat)
  }

  /** `lsh_sigs(v)`: every table signature under the seeded planes. */
  def apply(child: Expression): LshSignatures =
    LshSignatures(child, Tables, Bits, Dim, Planes)
}

/** Σ xᵢ² as a sequential fold — `vec_norm = sqrt(vec_norm_sq)` done by
  * the caller so sqrt stays a single shared IEEE op. */
case class VecNormSq(child: Expression)
  extends UnaryExpression {

  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "vec_norm_sq"

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = x.numElements()
    var s = 0.0
    var i = 0
    while (i < n) {
      val v = x.getFloat(i).toDouble
      s += v * v
      i += 1
    }
    s
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val v = ctx.freshName("v")
      s"""
         |int $n = $a.numElements();
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $v = (double) $a.getFloat($i);
         |  $s += $v * $v;
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** graft's native functions. There is one install path:
  * [[GraftExtensions]] injects every entry at session build time, and
  * `graft.SessionTuning.local` builds every session with it. Each entry
  * is (SQL name, expression class, builder).
  */
object GraftFunctions {
  import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain => BloomContains}
  import org.apache.spark.sql.catalyst.expressions.aggregate.{BloomFilterAggregate => BloomAgg}

  private def intArg(args: Seq[Expression], i: Int, default: Int): Int =
    args.lift(i).map(_.eval(null).toString.toInt).getOrElse(default)

  val Table: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("vec_dot", classOf[VecDot], args => VecDot(args(0), args(1))),
    ("vec_norm_sq", classOf[VecNormSq], args => VecNormSq(args(0))),
    ("vec_dot_d", classOf[VecDotFD], args => VecDotFD(args(0), args(1))),
    ("sq_dist_d", classOf[SqDistFD], args => SqDistFD(args(0), args(1))),
    ("simhash_agg", classOf[SimHashAgg], args => SimHashAgg(args(0))),
    ("minhash_agg", classOf[MinHashAgg], args => MinHashAgg(args(0), intArg(args, 1, 128))),
    ("minhash_bands", classOf[MinHashAgg], args =>
      MinHashAgg(args(0), intArg(args, 1, 128), bandRows = intArg(args, 2, 4))),
    ("prefix_min_agg", classOf[PrefixMinAgg], args =>
      PrefixMinAgg(args(0), args(1), args(2), args(3).eval(null).toString.toDouble)),
    ("space_saving", classOf[SpaceSavingAgg], args =>
      SpaceSavingAgg(args(0), intArg(args, 1, 4096))),
    // Spark's own runtime-filter bloom pair (public catalyst classes),
    // surfaced as callable functions: bloom_agg(longCol[, estItems])
    // builds the serialized filter, bloom_contains(bloomBinary, longCol)
    // probes it. The probe side requires a FOLDABLE bloom (literal) —
    // same contract as InjectRuntimeFilter's materialized subquery.
    ("bloom_agg", classOf[BloomAgg], args =>
      new BloomAgg(args(0),
        args.lift(1).map(_.eval(null).toString.toLong).getOrElse(1000000L))),
    ("bloom_contains", classOf[BloomContains], args => BloomContains(args(0), args(1))),
    // UDTF surface: LATERAL VIEW ngram_gen(token_hashes, n) — streaming
    // distinct shingle hashes without materializing the shingle array
    ("ngram_gen", classOf[NGramHashGen], args => NGramHashGen(args(0), intArg(args, 1, 3))),
    // lsh_sigs(v): q29c's 12 seeded LSH table signatures in one pass
    ("lsh_sigs", classOf[LshSignatures], args => LshSignatures(args(0))))
}
