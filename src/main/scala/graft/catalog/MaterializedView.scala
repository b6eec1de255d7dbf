package graft.catalog

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incrementally-maintained materialized aggregates over lakehouse
  * tables — the summary-table pattern every warehouse grows at scale:
  * a 100 TB fact table's dashboard aggregate cannot be recomputed per
  * refresh, but appends can be FOLDED in, because the supported
  * aggregates (sum / count / min / max — avg is sum÷count at read
  * time) are mergeable: agg(old ∪ delta) = merge(agg(old),
  * agg(delta)).
  *
  * Mechanics:
  *  - the MV is an ordinary lakehouse table (time-travelable,
  *    compactable, scannable by any query) whose definition — source
  *    table, group columns, aggregate list, last-folded source
  *    version — lives in its table properties;
  *  - `refresh` diffs the source's snapshot log: an APPEND-ONLY window
  *    is read via [[Maintenance.changesBetween]] (only the new files,
  *    never the 100 TB), aggregated, unioned with the current MV rows
  *    and re-aggregated with the merge functions — cost proportional
  *    to the delta plus the MV, not the source;
  *  - a window with removals (DELETE / UPDATE / MERGE / merge-on-read
  *    entries) folds the changelog's exact ± rows as a NET delta when
  *    every aggregate is retractable (sum/count) and a COUNT(*)
  *    column exists to drop emptied groups — Flink's retract-stream
  *    maintenance run in batch, cost ∝ files the commits touched;
  *    otherwise (min/max present, or a gapped/schema-changed window)
  *    it falls back to a full recompute, exactly like Delta/Snowflake
  *    MV maintenance;
  *  - every (re)build publishes atomically via REPLACE TABLE AS SELECT
  *    on the staging catalog: readers see the old MV until the swap,
  *    and a failed refresh leaves the old version current.
  */
object MaterializedView {

  val SourceProp = "graft.mv.source"
  val GroupProp = "graft.mv.group"
  val AggsProp = "graft.mv.aggs"
  val VersionProp = "graft.mv.sourceVersion"

  /** One aggregate column: `func` ∈ sum|count|min|max, `input` a source
    * column (or `*` for count), `as` the MV output column. */
  final case class Agg(func: String, input: String, as: String) {
    require(Set("sum", "count", "min", "max")(func), s"unsupported MV aggregate: $func")
    private[MaterializedView] def encoded = s"$func:$input:$as"
    /** Aggregate over raw (delta or full) rows. */
    private[MaterializedView] def over: Column = (func match {
      case "sum" => sum(col(input))
      case "count" => if (input == "*") count(lit(1)) else count(col(input))
      case "min" => min(col(input))
      case "max" => max(col(input))
    }).as(as)
    /** Merge of already-aggregated MV rows: counts add, bounds nest. */
    private[MaterializedView] def merge: Column = (func match {
      case "sum" | "count" => sum(col(as))
      case "min" => min(col(as))
      case "max" => max(col(as))
    }).as(as)
    /** Is the aggregate RETRACTABLE — can a deleted row's contribution
      * be subtracted back out? sum/count can (negate); min/max cannot
      * (losing the current bound needs the full group). */
    private[MaterializedView] def retractable: Boolean = func == "sum" || func == "count"
    /** Signed contribution over changelog rows (`isInsert` boolean):
      * aggregating these yields the group's NET change. Negation (not
      * a sign multiply) keeps the input's type, so the delta unions
      * with the MV's columns without a widening cast. */
    private[MaterializedView] def signedOver(isInsert: Column): Column = (func match {
      case "sum" => sum(when(isInsert, col(input)).otherwise(-col(input)))
      case "count" =>
        if (input == "*") sum(when(isInsert, 1L).otherwise(-1L))
        else sum(when(col(input).isNull, 0L).otherwise(when(isInsert, 1L).otherwise(-1L)))
      case _ => throw new IllegalStateException(s"$func is not retractable")
    }).as(as)
  }

  private def decodeAggs(s: String): Seq[Agg] =
    s.split(';').toSeq.filter(_.nonEmpty).map { part =>
      val Array(f, i, a) = part.split(':')
      Agg(f, i, a)
    }

  private def decodeGroup(s: String): Seq[String] =
    s.split(',').toSeq.map(_.trim).filter(_.nonEmpty)

  private def lakehouseTable(
      spark: SparkSession, catalog: String, namespace: Seq[String], table: String): LakehouseTable =
    Maintenance.lakehouseTable(spark, catalog, namespace, table)

  private def fq(catalog: String, namespace: Seq[String], name: String): String =
    (catalog +: namespace :+ name).map(p => s"`$p`").mkString(".")

  private def aggregate(rows: DataFrame, group: Seq[String], cols: Seq[Column]): DataFrame =
    (if (group.isEmpty) rows.groupBy() else rows.groupBy(group.map(col): _*))
      .agg(cols.head, cols.tail: _*)

  /** Atomic publish: RTAS via the staging catalog, definition +
    * watermark carried in the new version's properties. */
  private def materialize(
      spark: SparkSession,
      catalog: String,
      namespace: Seq[String],
      name: String,
      data: DataFrame,
      sourceTable: String,
      group: Seq[String],
      aggs: Seq[Agg],
      sourceVersion: Int): Unit = {
    val projected = data.select((group ++ aggs.map(_.as)).map(col): _*)
    projected.writeTo(fq(catalog, namespace, name))
      .tableProperty(SourceProp, sourceTable)
      .tableProperty(GroupProp, group.mkString(","))
      .tableProperty(AggsProp, aggs.map(_.encoded).mkString(";"))
      .tableProperty(VersionProp, sourceVersion.toString)
      .createOrReplace()
  }

  /** Create (or rebuild) the MV `namespace.name` as
    * `SELECT group, aggs FROM sourceTable GROUP BY group`, full scan of
    * the source's CURRENT snapshot. */
  def create(
      spark: SparkSession,
      catalog: String,
      namespace: Seq[String],
      name: String,
      sourceTable: String,
      group: Seq[String],
      aggs: Seq[Agg]): Unit = {
    require(aggs.nonEmpty, "materialized view needs at least one aggregate")
    val srcLt = lakehouseTable(spark, catalog, namespace, sourceTable)
    val srcVersion = TableMetadata.load(srcLt.tableDir).version
    val full = aggregate(
      spark.table(fq(catalog, namespace, sourceTable)), group, aggs.map(_.over))
    materialize(spark, catalog, namespace, name, full, sourceTable, group, aggs, srcVersion)
  }

  /** Fold source changes since the last refresh into the MV. Returns
    * the maintenance mode used: "noop" (already current),
    * "incremental" (append-only window folded in), or "full"
    * (non-append commits in the window forced a recompute). */
  def refresh(
      spark: SparkSession,
      catalog: String,
      namespace: Seq[String],
      name: String): String = {
    val mv = lakehouseTable(spark, catalog, namespace, name)
    val props = TableMetadata.load(mv.tableDir).properties
    val sourceTable = props.getOrElse(SourceProp,
      throw new IllegalArgumentException(s"$name is not a materialized view (no $SourceProp)"))
    val group = decodeGroup(props.getOrElse(GroupProp, ""))
    val aggs = decodeAggs(props(AggsProp))
    val lastVersion = props(VersionProp).toInt

    val srcLt = lakehouseTable(spark, catalog, namespace, sourceTable)
    val srcVersion = TableMetadata.load(srcLt.tableDir).version
    if (srcVersion == lastVersion) return "noop"

    val appendOnly: Option[DataFrame] =
      try {
        val delta = Maintenance.changesBetween(
          spark, catalog, namespace, sourceTable, lastVersion, srcVersion)
        val deltaAgg = aggregate(delta, group, aggs.map(_.over))
        Some(aggregate(
          spark.table(fq(catalog, namespace, name)).unionByName(deltaAgg),
          group, aggs.map(_.merge)))
      } catch {
        // non-append commits (or a truncated window) in the log: a
        // file-level delta cannot represent removals
        case _: IllegalArgumentException => None
      }
    // Retraction path for windows WITH removals (DELETE / UPDATE /
    // MERGE / merge-on-read entries): the changelog's exact ± rows
    // let sum/count aggregates fold a NET delta — deleted rows
    // subtract their contribution — so the MV stays incremental under
    // a continuous CDC MERGE feed instead of recomputing the 100 TB
    // source per refresh (Flink's retract-stream maintenance, run in
    // batch). Requirements, checked not assumed:
    //  - every aggregate is retractable (sum/count; a min/max bound
    //    cannot recover from losing its extreme row), and
    //  - a COUNT(*) column exists — the row that tells us a group
    //    emptied out and must DISAPPEAR from the MV rather than
    //    linger as zeros.
    // Cost ∝ files the window's commits touched (changelogBetween's
    // contract) plus the MV itself.
    lazy val retracting: Option[DataFrame] = {
      val starCount = aggs.find(a => a.func == "count" && a.input == "*")
      if (!aggs.forall(_.retractable) || starCount.isEmpty) None
      else
        try {
          val clog = Maintenance.changelogBetween(
            spark, catalog, namespace, sourceTable, lastVersion, srcVersion)
          val isInsert = col("_change_type") === "insert"
          val net = aggregate(clog, group, aggs.map(_.signedOver(isInsert)))
          Some(
            aggregate(
              spark.table(fq(catalog, namespace, name)).unionByName(net),
              group, aggs.map(_.merge))
              .filter(col(starCount.get.as) > 0L))
        } catch {
          // truncated/gapped window or schema change inside it
          case _: IllegalArgumentException => None
        }
    }
    (appendOnly, retracting) match {
      case (Some(merged), _) =>
        materialize(spark, catalog, namespace, name, merged,
          sourceTable, group, aggs, srcVersion)
        "incremental"
      case (None, Some(merged)) =>
        materialize(spark, catalog, namespace, name, merged,
          sourceTable, group, aggs, srcVersion)
        "incremental-retract"
      case _ =>
        create(spark, catalog, namespace, name, sourceTable, group, aggs)
        "full"
    }
  }
}
