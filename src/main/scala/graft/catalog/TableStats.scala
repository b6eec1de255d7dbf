package graft.catalog

import java.util.OptionalLong

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.connector.read.colstats.ColumnStatistics
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Table- and column-level statistics for cost-based optimization —
  * the `ANALYZE TABLE ... COMPUTE STATISTICS FOR COLUMNS` surface.
  *
  * A 1000-executor join reorder lives or dies on cardinality
  * estimates: Spark's CBO (`spark.sql.cbo.enabled` +
  * `spark.sql.optimizer.joinReorder.enabled`) ranks join trees by
  * row-count × distinct-value estimates, and a DSv2 relation only
  * participates when its scan reports
  * [[org.apache.spark.sql.connector.read.Statistics#columnStats]]
  * (`DataSourceV2Relation.transformV2Stats` maps them onto catalyst
  * attributes by name). `analyze` computes the numbers in ONE
  * distributed pass — count + HLL++ distinct + null counts + string
  * lengths, all partially aggregated map-side — and publishes them as
  * table properties in a metadata commit; the scan then serves them to
  * every subsequent planning cycle for free.
  *
  * Stats are a snapshot (property `graft.stats.version` records which
  * one) and drift as the table grows — like every warehouse, re-run
  * analyze after bulk loads. Estimates only steer plan CHOICE, never
  * results, so staleness is safe.
  */
object TableStats {

  val NumRowsProp = "graft.stats.numRows"
  val VersionProp = "graft.stats.version"
  def colProp(c: String): String = s"graft.stats.col.$c"
  def rangeProp(c: String): String = s"graft.stats.range.$c"
  def histProp(c: String): String = s"graft.stats.hist.$c"

  /** ndv:nullCount[:avgLen:maxLen] */
  private def encode(ndv: Long, nulls: Long, avgLen: Option[Long], maxLen: Option[Long]) =
    s"$ndv:$nulls${avgLen.zip(maxLen).map { case (a, m) => s":$a:$m" }.getOrElse("")}"

  private def analyzable(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | FloatType | DoubleType |
         StringType | BooleanType | DateType | TimestampType | BinaryType => true
    case _: DecimalType => true
    case _ => false
  }

  /** Columns whose min/max (and histogram) CBO can consume as plain
    * numbers — the range-selectivity types. Date/timestamp are left
    * out: their catalyst ColumnStat values are internal days/micros,
    * and an external-value mixup would feed CBO garbage silently. */
  private def rangeable(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | FloatType | DoubleType => true
    case _ => false
  }

  /** One-pass stats collection over the current snapshot; returns the
    * analyzed row count. `columns` defaults to every atomic-typed
    * column. */
  def analyze(
      spark: SparkSession,
      catalog: String,
      namespace: Seq[String],
      table: String,
      columns: Seq[String] = Nil,
      histogramBins: Int = 0): Long = {
    val lt = Maintenance.lakehouseTable(spark, catalog, namespace, table)
    val dir = lt.tableDir
    val current = TableMetadata.load(dir)
    val cols =
      if (columns.nonEmpty) {
        columns.foreach { c =>
          val f = current.schema.fields.find(_.name == c)
            .getOrElse(throw new IllegalArgumentException(s"no such column: $c"))
          require(analyzable(f.dataType),
            s"analyze unsupported for ${f.dataType.simpleString} column $c")
        }
        columns
      } else current.schema.fields.filter(f => analyzable(f.dataType)).map(_.name).toSeq

    val (numRows, colStats, rangeStats, histStats) =
      if (current.files.isEmpty)
        (0L, cols.map(c => c -> encode(0L, 0L, None, None)),
          Seq.empty[(String, String)], Seq.empty[(String, String)])
      else {
        // Apply pending merge-on-read deletes: raw files overcount rows
        // CBO consumes (every other row-count consumer is guarded the
        // same way — COUNT pushdown, LIMIT truncation, metadata aggs).
        val df =
          if (MergeOnRead.anyApplicable(current, current.files))
            MergeOnRead.read(spark, dir, current, current.files)
          else spark.read.schema(current.schema)
            .parquet(current.files.map(f => dir.resolve(f).toString): _*)
        val isString = cols.map(c =>
          c -> current.schema(c).dataType.isInstanceOf[StringType]).toMap
        val ranged = cols.filter(c => rangeable(current.schema(c).dataType))
        val aggCols = count(lit(1)).as("__n") +: cols.flatMap { c =>
          Seq(
            approx_count_distinct(col(c)).as(s"__ndv_$c"),
            sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__nulls_$c")) ++
            (if (isString(c)) Seq(
              avg(length(col(c))).as(s"__avglen_$c"),
              max(length(col(c))).as(s"__maxlen_$c"))
            else Nil) ++
            (if (ranged.contains(c)) Seq(
              min(col(c)).as(s"__min_$c"),
              max(col(c)).as(s"__max_$c"))
            else Nil)
        }
        val r = df.agg(aggCols.head, aggCols.tail: _*).head()
        val n = r.getLong(r.fieldIndex("__n"))
        val ranges = ranged.flatMap { c =>
          val (iMin, iMax) = (r.fieldIndex(s"__min_$c"), r.fieldIndex(s"__max_$c"))
          if (r.isNullAt(iMin) || r.isNullAt(iMax)) None
          else Some(c -> s"${r.get(iMin)}:${r.get(iMax)}")
        }
        // Equi-height histograms (opt-in second pass): boundaries from
        // one approx-percentile agg over every ranged column, then ONE
        // job for ALL columns — each row is exploded into (column, bin,
        // value) tuples and a single (column, bin) aggregation counts
        // rows + ndv per bin. A per-column loop would run N sequential
        // jobs, each a full scan, on a wide table. CBO's range and
        // equality selectivities inside skewed domains come from these,
        // where a bare [min, max] assumes uniformity.
        val hists =
          if (histogramBins < 2) Seq.empty[(String, String)]
          else {
            val pcts = (0 to histogramBins).map(_.toDouble / histogramBins)
            val pctCols = ranged.map(c => percentile_approx(
              col(c).cast(DoubleType), typedLit(pcts), lit(10000)).as(s"__p_$c"))
            if (pctCols.isEmpty) Seq.empty[(String, String)]
            else {
              val pr = df.agg(pctCols.head, pctCols.tail: _*).head()
              val bounded = ranged.flatMap { c =>
                if (pr.isNullAt(pr.fieldIndex(s"__p_$c"))) None
                else Some(c -> pr.getSeq[Double](pr.fieldIndex(s"__p_$c")))
              }
              if (bounded.isEmpty) Seq.empty[(String, String)]
              else {
                // bin of v = #boundaries strictly below it, capped
                def binOf(c: String, bounds: Seq[Double]): Column = {
                  val d = col(c).cast(DoubleType)
                  least(
                    lit(histogramBins - 1),
                    bounds.slice(1, histogramBins)
                      .map(b => when(d > lit(b), 1).otherwise(0))
                      .reduceOption(_ + _).getOrElse(lit(0)))
                }
                // ndv counts the STRING form: the stacked value column
                // must hold every ranged type losslessly, and a double
                // cast would merge distinct giant longs
                val stacked = df.select(explode(array(bounded.map { case (c, bounds) =>
                  struct(lit(c).as("c"), binOf(c, bounds).as("bin"),
                    col(c).cast(StringType).as("vs"))
                }: _*)).as("e"))
                  .select(col("e.c"), col("e.bin"), col("e.vs"))
                  .filter(col("vs").isNotNull)
                val perBin = stacked.groupBy(col("c"), col("bin"))
                  .agg(count(lit(1)).as("rows"), approx_count_distinct(col("vs")).as("ndv"))
                  .collect() // bounded: |ranged| × bins rows
                  .map(r => (r.getString(0), r.getInt(1)) -> (r.getLong(2), r.getLong(3)))
                  .toMap
                bounded.map { case (c, bounds) =>
                  val mine = perBin.collect { case ((`c`, b), v) => b -> v }
                  val nonNull = mine.values.map(_._1).sum
                  val height = nonNull.toDouble / histogramBins
                  val bins = (0 until histogramBins).map { i =>
                    val ndv = mine.get(i).map(_._2).getOrElse(0L)
                    s"${bounds(i)},${bounds(i + 1)},$ndv"
                  }
                  c -> s"$height|${bins.mkString(";")}"
                }
              }
            }
          }
        (n, cols.map { c =>
          val lens =
            if (isString(c) && !r.isNullAt(r.fieldIndex(s"__avglen_$c")))
              (Some(math.ceil(r.getDouble(r.fieldIndex(s"__avglen_$c"))).toLong),
                Some(r.getInt(r.fieldIndex(s"__maxlen_$c")).toLong))
            else (None, None)
          c -> encode(
            r.getLong(r.fieldIndex(s"__ndv_$c")),
            r.getLong(r.fieldIndex(s"__nulls_$c")),
            lens._1, lens._2)
        }, ranges, hists)
      }

    val cur = TableMetadata.load(dir)
    // drop stale range/hist entries for re-analyzed columns that no
    // longer produce them (e.g. a column gone all-null)
    SnapshotChange.commit(dir, cur, SnapshotChange.Change("analyze", properties = p =>
        (p -- cols.map(rangeProp) -- cols.map(histProp)) ++
          Map(NumRowsProp -> numRows.toString, VersionProp -> cur.version.toString) ++
          colStats.map { case (c, v) => colProp(c) -> v } ++
          rangeStats.map { case (c, v) => rangeProp(c) -> v } ++
          histStats.map { case (c, v) => histProp(c) -> v }),
      SnapshotChange.Rebase)
    numRows
  }

  /** Recorded row count, if the table was analyzed. */
  def numRows(properties: Map[String, String]): Option[Long] =
    properties.get(NumRowsProp).flatMap(s => scala.util.Try(s.toLong).toOption)

  private def parseTyped(s: String, dt: DataType): Any = dt match {
    case ByteType => s.toByte
    case ShortType => s.toShort
    case IntegerType => s.toInt
    case LongType => s.toLong
    case FloatType => s.toFloat
    case DoubleType => s.toDouble
    case other => throw new IllegalArgumentException(s"not a range type: $other")
  }

  private def parseHistogram(
      s: String): Option[org.apache.spark.sql.connector.read.colstats.Histogram] =
    scala.util.Try {
      val Array(h, binsStr) = s.split('|')
      val parsed = binsStr.split(';').map { b =>
        val Array(loS, hiS, ndvS) = b.split(',')
        val (loV, hiV, ndvV) = (loS.toDouble, hiS.toDouble, ndvS.toLong)
        new org.apache.spark.sql.connector.read.colstats.HistogramBin {
          override def lo(): Double = loV
          override def hi(): Double = hiV
          override def ndv(): Long = ndvV
        }: org.apache.spark.sql.connector.read.colstats.HistogramBin
      }
      new org.apache.spark.sql.connector.read.colstats.Histogram {
        override def height(): Double = h.toDouble
        override def bins():
            Array[org.apache.spark.sql.connector.read.colstats.HistogramBin] = parsed
      }: org.apache.spark.sql.connector.read.colstats.Histogram
    }.toOption

  /** Recorded per-column stats as the DSv2 interface objects. */
  def columnStats(
      properties: Map[String, String],
      schema: StructType): Map[String, ColumnStatistics] =
    schema.fieldNames.flatMap { c =>
      properties.get(colProp(c)).flatMap { s =>
        val parts = s.split(':')
        scala.util.Try {
          val ndv = parts(0).toLong
          val nulls = parts(1).toLong
          val (avgL, maxL) =
            if (parts.length >= 4) (OptionalLong.of(parts(2).toLong), OptionalLong.of(parts(3).toLong))
            else (OptionalLong.empty(), OptionalLong.empty())
          val dt = schema(c).dataType
          val range: Option[(Any, Any)] =
            properties.get(rangeProp(c)).flatMap { rv =>
              scala.util.Try {
                val Array(mn, mx) = rv.split(':')
                (parseTyped(mn, dt), parseTyped(mx, dt))
              }.toOption
            }
          val hist = properties.get(histProp(c)).flatMap(parseHistogram)
          new ColumnStatistics {
            override def distinctCount(): OptionalLong = OptionalLong.of(ndv)
            override def nullCount(): OptionalLong = OptionalLong.of(nulls)
            override def avgLen(): OptionalLong = avgL
            override def maxLen(): OptionalLong = maxL
            override def min(): java.util.Optional[Object] =
              range.map(r => java.util.Optional.of(r._1.asInstanceOf[Object]))
                .getOrElse(java.util.Optional.empty())
            override def max(): java.util.Optional[Object] =
              range.map(r => java.util.Optional.of(r._2.asInstanceOf[Object]))
                .getOrElse(java.util.Optional.empty())
            override def histogram():
                java.util.Optional[org.apache.spark.sql.connector.read.colstats.Histogram] =
              hist.map(java.util.Optional.of(_))
                .getOrElse(java.util.Optional.empty())
          }: ColumnStatistics
        }.toOption
      }.map(c -> _)
    }.toMap
}
