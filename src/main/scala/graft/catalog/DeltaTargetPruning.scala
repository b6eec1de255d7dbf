package graft.catalog

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, And, AttributeReference, DynamicPruningSubquery, EqualTo, Expression, MonotonicallyIncreasingID, NamedExpression, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.{InnerLike, JoinType, LeftOuter, LeftSemi, RightOuter}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

/** File pruning for DELTA (merge-on-read) row-level write targets —
  * the rule that makes a selective `MERGE INTO t USING s ON t.day =
  * s.day AND t.id = s.id` read only the target files the source's day
  * values admit, WITHOUT the user hand-writing `AND t.day = '…'`.
  *
  * Spark's own machinery is structurally blind here, and no conf flip
  * helps (probed exhaustively in ProbeDpp — zero pruning under every
  * combination): the row-level rewrite's cardinality check projects
  * `monotonically_increasing_id() AS __row_id` directly above the
  * target relation, and that NONDETERMINISTIC projection blocks both
  * predicate pushdown (PushPredicateThroughNonJoin refuses to reorder
  * around nondeterminism) and PartitionPruning's scan-pattern match
  * (PhysicalOperation requires deterministic projections). The static
  * ON conjunct works only because the rewrite seeds it BELOW the
  * projection. Iceberg's MoR MERGE has the same blind spot — its docs
  * recommend the static conjunct for exactly this reason.
  *
  * Both moves exploit one fact that makes reordering around
  * `__row_id` safe HERE and nowhere else: its values are arbitrary
  * unique longs used only to count duplicate matches, so filtering
  * target rows before or after assigning them changes the values,
  * never the per-row distinctness the check relies on.
  *
  *  1. STATIC/INFERRED filters: a deterministic filter stuck above the
  *     `__row_id` projection (InferFiltersFromConstraints propagates
  *     the source's literal predicates across the join equi-keys, e.g.
  *     `USING (SELECT … WHERE day = '2024-01-02')`) is swapped below
  *     it. PushDownPredicates then walks it to the relation and the
  *     scan file-skips at build time — full snapshot-level pruning,
  *     no subquery run.
  *  2. RUNTIME values: for each join equi-key naming a prunable target
  *     column (partition or bloom-indexed — what the scan's
  *     filterAttributes lists), a [[DynamicPruningSubquery]] filter is
  *     inserted DIRECTLY above the target relation, beneath the
  *     blocking projection. V2ScanRelationPushDown keeps subquery
  *     filters as post-scan filters, physical planning hands them to
  *     the scan as runtime filters, and the scan drops whole files
  *     before any task reads them. The build plan is snapshotted
  *     through the V2 scan conversion HERE (this rule runs during
  *     operator optimization, before the Early Filter and Projection
  *     Push-Down batch, and nothing re-optimizes subquery plans
  *     afterwards — an unconverted RelationV2 inside the subquery
  *     fails physical planning with "No plan for").
  *
  * Insertion guards mirror PartitionPruning: the join side must be
  * prunable for the join type; the build side must look selective
  * (Spark's isLikelySelective heuristic) or be provably small (size
  * under the broadcast threshold); bucketed tables under v2 bucketing
  * are skipped (the bucket→file map is the storage-partitioned-join
  * contract and the scan ignores runtime filters); `onlyInBroadcast =
  * false` accepts one standalone build-side re-execution — paid only
  * under the selectivity guard, against a target scan that is
  * otherwise the full table.
  *
  * Injected by [[graft.functions.GraftExtensions]]; idempotent.
  */
case class DeltaTargetPruning(spark: SparkSession)
  extends Rule[LogicalPlan] with PredicateHelper {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!conf.dynamicPartitionPruningEnabled) return plan
    plan.transformDown {
      // move (1): deterministic filter above the cardinality-check
      // projection of a delta target → below it, where pushdown works
      case Filter(cond, p @ Project(projList, child))
          if cond.deterministic &&
            cond.references.subsetOf(child.outputSet) &&
            projList.exists(isMergeRowIdAlias) &&
            projList.forall(e => e.deterministic || isMergeRowIdAlias(e)) &&
            deltaTargetRelation(child).isDefined =>
        p.copy(child = Filter(cond, child))
      // move (2): runtime pruning subquery on the target relation
      case j @ Join(left, right, joinType, Some(cond), _) =>
        tryPrune(j, left, right, joinType, cond)
    }
  }

  private def isMergeRowIdAlias(e: NamedExpression): Boolean = e match {
    case a: Alias => a.child.isInstanceOf[MonotonicallyIncreasingID]
    case _ => false
  }

  private def tryPrune(
      j: Join,
      left: LogicalPlan,
      right: LogicalPlan,
      joinType: JoinType,
      cond: Expression): Join = {
    val prunedLeft =
      if (canPruneSide(joinType, leftSide = true)) pruneSide(left, right, cond)
      else left
    val prunedRight =
      if (canPruneSide(joinType, leftSide = false)) pruneSide(right, left, cond)
      else right
    if ((prunedLeft eq left) && (prunedRight eq right)) j
    else j.copy(left = prunedLeft, right = prunedRight)
  }

  /** Same side-eligibility as PartitionPruning: pruning a side is sound
    * when the join cannot PRESERVE that side's unmatched rows. */
  private def canPruneSide(joinType: JoinType, leftSide: Boolean): Boolean =
    joinType match {
      case _: InnerLike | LeftSemi => true
      case RightOuter => leftSide
      case LeftOuter => !leftSide
      case _ => false
    }

  private def dbg(msg: => String): Unit = logDebug(msg)

  private def pruneSide(
      side: LogicalPlan, build: LogicalPlan, cond: Expression): LogicalPlan = {
    val (rel, lt) = deltaTargetRelation(side).getOrElse { dbg("no target rel"); return side }
    // idempotence: one dynamic filter per relation
    val already = side.exists {
      case Filter(c, ch) if ch eq rel =>
        c.exists(_.isInstanceOf[DynamicPruningSubquery])
      case _ => false
    }
    if (already) { dbg("already inserted"); return side }
    if (bucketedForSpj(lt)) { dbg("bucketed"); return side }
    if (!buildSideWorthIt(build)) { dbg("build side not worth it"); return side }
    val prunable = (lt.summary.partitionColumns ++
      BloomIndex.probeableColumns(lt.summary.properties, lt.summary.schema))
      .map(_.toLowerCase).toSet
    if (prunable.isEmpty) return side
    val relOut = rel.outputSet
    val buildOut = build.outputSet
    val keys = splitConjunctivePredicates(cond).collect {
      case EqualTo(a: AttributeReference, b: AttributeReference)
          if relOut.contains(a) && buildOut.contains(b) &&
            prunable.contains(a.name.toLowerCase) => (a, b)
      case EqualTo(b: AttributeReference, a: AttributeReference)
          if relOut.contains(a) && buildOut.contains(b) &&
            prunable.contains(a.name.toLowerCase) => (a, b)
    }
    if (keys.isEmpty) { dbg(s"no prunable equi keys in $cond"); return side }
    // snapshot the build side through the V2 scan conversion (see
    // Scaladoc): subquery plans are never re-optimized after this
    // point, and physical planning requires converted scans
    val convertedBuild =
      try {
        org.apache.spark.sql.execution.datasources.v2.V2ScanPartitioningAndOrdering(
          org.apache.spark.sql.execution.datasources.v2.V2ScanRelationPushDown(build))
      } catch { case scala.util.control.NonFatal(e) => dbg(s"conversion failed: $e"); return side }
    val preds = keys.collect {
      case (a, b) if convertedBuild.outputSet.contains(b) =>
        DynamicPruningSubquery(
          a, convertedBuild, Seq(b), Seq(0), onlyInBroadcast = false): Expression
    }
    if (preds.isEmpty) return side
    dbg(s"inserting ${preds.size} dynamic filter(s) on ${lt.name()}")
    side.transformUp {
      case r: DataSourceV2Relation if r eq rel => Filter(preds.reduce(And(_, _)), r)
    }
  }

  /** The delta row-level target relation beneath this side, if any:
    * the RowLevelOperationTable wrapper around a LakehouseTable with a
    * LakehouseDeltaOperation. (A dirty table's target read is rewritten
    * by MorReads into plain sub-relations first — those unwrap to
    * nothing and are correctly skipped: each branch carries its own
    * pushdown.) */
  private def deltaTargetRelation(
      side: LogicalPlan): Option[(DataSourceV2Relation, LakehouseTable)] = {
    val found = side.collect {
      case r: DataSourceV2Relation =>
        org.apache.spark.sql.graftbridge.RowLevelBridge.unwrap(r.table) match {
          case Some((lt: LakehouseTable, _: LakehouseDeltaOperation)) => Some((r, lt))
          case _ => None
        }
    }.flatten
    if (found.size == 1) found.headOption else None
  }

  /** Mirror of the main/positional scan's bucket guard: when the table
    * is bucketed and v2 bucketing is on, the scan plans per-bucket and
    * ignores runtime filters — inserting one would only cost the
    * subquery. */
  private def bucketedForSpj(lt: LakehouseTable): Boolean =
    Bucketing.specOf(lt.summary.properties).isDefined &&
      spark.conf.getOption("spark.sql.sources.v2.bucketing.enabled").contains("true")

  /** PartitionPruning's benefit heuristic, simplified: a likely-
    * selective filter somewhere in the build side, or a build side
    * provably small enough to broadcast. */
  private def buildSideWorthIt(build: LogicalPlan): Boolean = {
    val selective = build.exists {
      case f: Filter => isLikelySelective(f.condition)
      case _ => false
    }
    selective || {
      val t = conf.autoBroadcastJoinThreshold
      t > 0 && build.stats.sizeInBytes <= t
    }
  }
}
