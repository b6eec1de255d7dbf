package graft.catalog

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

/** Column-level PII audit: scan (a bounded sample of) every string
  * column for PII-shaped values and publish the verdict as table
  * properties — the `has_pii` governance flag the reference sets BY
  * HAND on its Iceberg tables (`iceberg_table_creation.py`
  * TBLPROPERTIES), here derived from the data and kept per-column.
  *
  * One Spark job regardless of column count (the same stacked
  * (column, value) shape as the ANALYZE histogram pass): rows explode
  * into (column, value) pairs, one aggregation computes each column's
  * match rate per pattern, and a column is flagged when ≥ `threshold`
  * of its non-empty sampled values match. Patterns are anchored
  * whole-value matches in the Java-regex ∩ RE2 subset.
  *
  * Downstream, `graft.pii.columns` is what a release pipeline keys
  * redaction on (see query q61's scrub shape), and `has_pii` gates
  * export the way the reference's property gates BigQuery exposure.
  */
object PiiAudit {

  /** The reference's governance property (observable surface R5). */
  val HasPiiProp = "has_pii"

  /** Flagged columns as `col:kind` pairs, comma-separated. */
  val ColumnsProp = "graft.pii.columns"

  val Patterns: Seq[(String, String)] = Seq(
    "email" -> "^[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}$",
    "phone" -> "^\\+?[0-9][0-9 ()./-]{6,}[0-9]$",
    "ssn" -> "^[0-9]{3}-[0-9]{2}-[0-9]{4}$",
    "ipv4" -> "^([0-9]{1,3}\\.){3}[0-9]{1,3}$")

  /** Audit the table's string columns; publish `has_pii` +
    * `graft.pii.columns` in a property-only commit (rebases over
    * concurrent writers). Returns flagged column → detected kinds. */
  def audit(
      spark: SparkSession,
      catalog: String,
      namespace: Seq[String],
      table: String,
      threshold: Double = 0.5,
      sampleN: Int = 100000): Map[String, Seq[String]] = {
    val lt = Maintenance.lakehouseTable(spark, catalog, namespace, table)
    val dir = lt.tableDir
    val current = TableMetadata.load(dir)
    val strCols = current.schema.fields
      .filter(_.dataType.isInstanceOf[StringType]).map(_.name).toSeq

    val flagged: Map[String, Seq[String]] =
      if (strCols.isEmpty || current.files.isEmpty) Map.empty
      else {
        // merge-on-read aware: logically-deleted rows must not flag a
        // column (same guard as ANALYZE)
        val df =
          if (MergeOnRead.anyApplicable(current, current.files))
            MergeOnRead.read(spark, dir, current, current.files)
          else spark.read.schema(current.schema)
            .parquet(current.files.map(f => dir.resolve(f).toString): _*)
        // Deterministic spread sample, never a head sample: limit(N)
        // reads the first rows of the first files, so a table whose
        // LATE partitions contain the PII gets certified clean — a
        // governance failure, not a performance nit. Hash-mod sampling
        // keys on the row's string values, so every file contributes
        // proportionally wherever it sits in the commit order; the
        // divisor is sized from metadata row counts to keep ~sampleN
        // rows (bounded ≤ 2× sampleN, no order bias reintroduced).
        val totalRows = current.files.map(f => current.fileRows.getOrElse(f, 0L)).sum
        val denom = math.max(1L, totalRows / math.max(1, sampleN))
        val sampled =
          if (denom == 1L) df
          else df.filter(pmod(xxhash64(strCols.map(col): _*), lit(denom)) === 0L)
        val stacked = sampled
          .select(explode(array(strCols.map(c =>
            struct(lit(c).as("c"), col(c).as("v"))): _*)).as("e"))
          .select(col("e.c"), col("e.v"))
          .filter(col("v").isNotNull && length(col("v")) > 0)
        val aggCols = Patterns.map { case (kind, pat) =>
          avg(when(col("v").rlike(pat), 1.0).otherwise(0.0)).as(kind)
        }
        stacked.groupBy(col("c")).agg(aggCols.head, aggCols.tail: _*)
          .collect() // bounded: |string columns| rows
          .map { r =>
            val colName = r.getString(0)
            val kinds = Patterns.zipWithIndex.collect {
              case ((kind, _), i) if !r.isNullAt(i + 1) && r.getDouble(i + 1) >= threshold =>
                kind
            }
            // a dashed SSN or dotted IPv4 is also phone-shaped: report
            // the specific kind, not the generic digit-run
            colName -> (if (kinds.exists(Set("ssn", "ipv4"))) kinds.filterNot(_ == "phone")
                        else kinds)
          }
          .filter(_._2.nonEmpty).toMap
      }

    publish(dir, flagged)
    flagged
  }

  private def publish(dir: java.nio.file.Path, flagged: Map[String, Seq[String]]): Unit = {
    val encoded = flagged.toSeq.sortBy(_._1)
      .map { case (c, kinds) => s"$c:${kinds.mkString("+")}" }.mkString(",")
    val cur = TableMetadata.load(dir)
    SnapshotChange.commit(dir, cur, SnapshotChange.Change("pii-audit", properties = p =>
        (p - ColumnsProp) +
          (HasPiiProp -> flagged.nonEmpty.toString) ++
          (if (flagged.nonEmpty) Map(ColumnsProp -> encoded) else Map.empty)),
      SnapshotChange.Rebase)
  }

  /** Create (or replace) a PSEUDONYMIZED view of an audited table:
    * every column flagged by [[audit]] is replaced with a stable hash
    * of its value (`md5`) — raw PII never leaves the view, while
    * equality semantics survive, so joins and dedup keyed on a flagged
    * column still work against other pseudonymized reads. Unflagged
    * columns pass through. The view is ordinary lakehouse-view DDL, so
    * it tracks the table's CURRENT snapshot and survives restarts.
    * Fails if the table was never audited (a stale or absent verdict
    * must not silently leak raw values). */
  def redactedView(
      spark: SparkSession,
      catalog: String,
      namespace: Seq[String],
      table: String,
      view: String): Seq[String] = {
    val lt = Maintenance.lakehouseTable(spark, catalog, namespace, table)
    val props = TableMetadata.load(lt.tableDir).properties
    require(props.contains(HasPiiProp),
      s"$table has no PII audit verdict: run PiiAudit.audit / CALL system.pii_audit first")
    val flaggedCols = props.get(ColumnsProp)
      .map(_.split(',').map(_.split(":", 2)(0)).toSet).getOrElse(Set.empty[String])
    val fqt = (catalog +: namespace :+ table).mkString(".")
    val fqv = (catalog +: namespace :+ view).mkString(".")
    val schema = TableMetadata.load(lt.tableDir).schema
    val selectList = schema.fieldNames.map { c =>
      if (flaggedCols.contains(c)) s"md5(CAST(`$c` AS STRING)) AS `$c`" else s"`$c`"
    }.mkString(", ")
    spark.sql(s"CREATE OR REPLACE VIEW $fqv AS SELECT $selectList FROM $fqt")
    flaggedCols.toSeq.sorted
  }
}
