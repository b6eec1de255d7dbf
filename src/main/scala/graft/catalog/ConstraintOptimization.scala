package graft.catalog

import org.apache.spark.sql.catalyst.expressions.{And, Attribute, AttributeReference, AttributeSet, EqualTo, Expression, IsNotNull, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.{Inner, LeftOuter, LeftSemi, RightOuter}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Join, LogicalPlan, Project, Sort, SubqueryAlias}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

/** RELY-constraint optimizations — the reason informational PK/UNIQUE/
  * FOREIGN KEY constraints ([[KeyConstraints]]) exist at all: declared
  * intent the engine never validates but, when the user says RELY, may
  * exploit. The classic warehouse pair (Oracle/Snowflake/BigQuery all
  * ship it; OSS Spark 4.1 has the DSv2 constraint API but no consuming
  * rule):
  *
  *  1. JOIN ELIMINATION. A join whose one side contributes no output
  *     columns and provably neither duplicates nor (for outer joins)
  *     drops the other side's rows is dead weight — at 100 TB it is a
  *     full scan plus a corpus-wide shuffle for nothing, and it is
  *     EXACTLY the shape views and BI tools generate (`SELECT f.*` over
  *     a star-schema view joining every dimension).
  *       - LEFT/RIGHT OUTER: uniqueness alone suffices. If the join's
  *         equi-keys on the unused side cover a RELY'd PK/UNIQUE, each
  *         preserved row matches at most once (equality with NULL never
  *         matches, so multi-NULL UNIQUE columns cannot fan out), and
  *         the outer side keeps its rows regardless — extra conjuncts
  *         or filters on the unused side only reduce matches, so any
  *         deterministic condition is safe once the unique key is
  *         covered.
  *       - INNER/LEFT SEMI: uniqueness caps matches at one; a RELY'd
  *         FOREIGN KEY from the preserved side's base table to the
  *         joined table's key guarantees exactly one for every
  *         non-null key — so the join is the identity on non-null-key
  *         rows. The condition must be exactly the FK equalities (an
  *         extra conjunct could reject a match) and the unused side a
  *         bare scan (a filter could too). Nullable FK columns don't
  *         block elimination: the join is replaced by the
  *         `IS NOT NULL` filter it implies.
  *  2. DISTINCT REMOVAL. `SELECT DISTINCT` (an Aggregate whose outputs
  *     are its grouping columns) over a base table whose RELY'd key is
  *     among the grouping columns is a no-op — dropping it deletes a
  *     corpus-wide hash shuffle. PK keys are trusted outright (PK
  *     semantics include NOT NULL); UNIQUE keys only when the plan
  *     proves the columns non-nullable (SQL UNIQUE admits repeated
  *     NULLs).
  *
  * Both rewrites fire only on RELY declarations — NOT ENFORCED alone
  * is documentation, RELY is the user signing the correctness contract
  * (wrong data under RELY yields wrong results; that is the standard
  * everywhere this optimization ships). Kill switch: Spark's own
  * `spark.sql.optimizer.excludedRules`, with
  * `graft.catalog.ConstraintOptimization` appended to its value.
  *
  * Attribute tracing is conservative: the base relation must be
  * reachable through Project/Filter/Sort/SubqueryAlias chains only
  * (never across another join's null-producing side), and key columns
  * map to relation attributes by case-insensitive name with exprId
  * identity carrying them up the chain.
  */
object ConstraintOptimization extends Rule[LogicalPlan] with PredicateHelper {

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformUp {
      case p @ Project(_, j: Join) =>
        eliminateJoin(j, p.references).map(Project(p.projectList, _)).getOrElse(p)
      // A LeftSemi join's own output IS the preserved side, so it needs
      // no Project above it to prove the other side unused. (Note:
      // EXISTS subqueries become LeftSemi only in Spark's
      // RewriteSubquery batch, AFTER injected rules run — only
      // explicitly written LEFT SEMI JOINs reach this case.)
      case j: Join if j.joinType == LeftSemi =>
        eliminateJoin(j, j.left.outputSet).getOrElse(j)
      case a: Aggregate => removeDistinct(a)
    }

  /** The LakehouseTable relation at the bottom of a chain of operators
    * that preserve both row multiplicity *downward reasoning* needs
    * (nothing here is used to prove row counts — only to find which
    * table's constraints govern `attrs`) and attribute identity: the
    * named attributes must be the relation's own output (not aliases),
    * and no intervening operator may null them (an outer join could).
    * `pure` additionally refuses Filter/Sort — the inner-join case
    * needs the unused side to match EVERY key, which a filter void. */
  private def baseRelation(
      plan: LogicalPlan,
      attrs: AttributeSet,
      pure: Boolean): Option[(DataSourceV2Relation, LakehouseTable)] = plan match {
    case r: DataSourceV2Relation =>
      r.table match {
        // pinned (time-traveled / branch / file-subset) relations never
        // qualify: RELY constraints assert facts about the LIVE table
        // pair — an FK's referenced keys may be absent from an old
        // snapshot, and a historical UNIQUE declaration may postdate
        // duplicate-holding data — so rewriting a time-travel query on
        // today's declarations would silently change its results
        case lt: LakehouseTable if !lt.pinned && attrs.subsetOf(r.outputSet) =>
          Some((r, lt))
        case _ => None
      }
    case Project(projectList, child)
        if projectList.forall(_.isInstanceOf[AttributeReference]) =>
      baseRelation(child, attrs, pure)
    case SubqueryAlias(_, child) => baseRelation(child, attrs, pure)
    case Filter(_, child) if !pure => baseRelation(child, attrs, pure)
    case s: Sort if !pure => baseRelation(s.child, attrs, pure)
    case _ => None
  }

  /** Map constraint column names to the relation's output attributes
    * (case-insensitive, Spark's default resolution). */
  private def keyAttrs(rel: DataSourceV2Relation, cols: Seq[String]): Option[Seq[Attribute]] = {
    val found = cols.map(c => rel.output.find(_.name.equalsIgnoreCase(c)))
    if (found.forall(_.isDefined)) Some(found.map(_.get)) else None
  }

  /** Split a deterministic join condition into left↔right equi-pairs
    * plus leftover conjuncts. Returns None when any conjunct is
    * nondeterministic. */
  private def equiPairs(
      cond: Expression,
      left: LogicalPlan,
      right: LogicalPlan): Option[(Seq[(Attribute, Attribute)], Seq[Expression])] = {
    if (!cond.deterministic) return None
    val (pairs, rest) = splitConjunctivePredicates(cond).partitionMap {
      case EqualTo(l: AttributeReference, r: AttributeReference)
          if left.outputSet.contains(l) && right.outputSet.contains(r) => Left((l, r))
      case EqualTo(r: AttributeReference, l: AttributeReference)
          if left.outputSet.contains(l) && right.outputSet.contains(r) => Left((l, r))
      case other => Right(other)
    }
    Some((pairs, rest))
  }

  private def fullName(rel: DataSourceV2Relation): Seq[String] =
    rel.catalog.map(_.name()).toSeq ++
      rel.identifier.map(i => i.namespace.toSeq :+ i.name).getOrElse(Seq.empty)

  /** Does the FK's referenced-table name resolve to `rel`? The FK
    * stores the multipart name as declared (`cat.ns.tbl`, `ns.tbl` or
    * bare `tbl`), so an under-qualified reference must resolve
    * RELATIVE TO THE DECLARING TABLE (standard SQL schema resolution):
    * the candidate's full name must end with the declared parts AND
    * inherit every remaining leading part (catalog, namespaces) from
    * the declaring table's own full name. A bare suffix match alone
    * would bind `REFERENCES dim` to a same-named table in any other
    * namespace or catalog and eliminate a join against the wrong
    * table. */
  private def refTableMatches(
      ref: Seq[String],
      rel: DataSourceV2Relation,
      declaring: DataSourceV2Relation): Boolean = {
    val full = fullName(rel)
    val declFull = fullName(declaring)
    ref.size <= full.size &&
      full.takeRight(ref.size).zip(ref).forall { case (a, b) => a.equalsIgnoreCase(b) } && {
        // fully-qualified refs stand alone; partial refs must name a
        // table at the declaring table's own depth (same catalog/
        // namespace nesting) with every leading part inherited — else
        // `REFERENCES dim` from cat.ns.fact could also bind cat.dim
        ref.size == full.size || (full.size == declFull.size &&
          full.dropRight(ref.size).zip(declFull)
            .forall { case (a, b) => a.equalsIgnoreCase(b) })
      }
  }

  /** Try to eliminate `j` given that only `needed` attributes are
    * consumed above it. Returns the replacement for the join (the
    * preserved side, possibly under the IS NOT NULL filter an inner
    * join implies). */
  private def eliminateJoin(j: Join, needed: AttributeSet): Option[LogicalPlan] = {
    val cond = j.condition.getOrElse(return None)
    j.joinType match {
      case LeftOuter if needed.subsetOf(j.left.outputSet) =>
        uniqueSideCovered(j.left, j.right, cond).map(_ => j.left)
      case RightOuter if needed.subsetOf(j.right.outputSet) =>
        // mirrored: left is the unused unique side (equiPairs orients
        // pairs by output sets, so the same condition works)
        uniqueSideCovered(j.right, j.left, cond).map(_ => j.right)
      case Inner | LeftSemi if needed.subsetOf(j.left.outputSet) =>
        fkGuaranteed(j.left, j.right, cond)
      case _ => None
    }
  }

  /** Outer-join case: do the equi-keys on the unused side cover a
    * RELY'd PK/UNIQUE of its base table? Multiplicity is the only
    * question (the outer side keeps its rows), so extra conjuncts and
    * filters below the unused side are all safe. */
  private def uniqueSideCovered(
      preserved: LogicalPlan,
      unused: LogicalPlan,
      cond: Expression): Option[Unit] = {
    val (pairs, _) = equiPairs(cond, preserved, unused).getOrElse(return None)
    if (pairs.isEmpty) return None
    val unusedKeys = AttributeSet(pairs.map(_._2))
    val (rel, lt) = baseRelation(unused, unusedKeys, pure = false).getOrElse(return None)
    val keys = KeyConstraints.relyUniqueKeys(lt.summary.properties)
    val covered = keys.exists { case (cols, _) =>
      keyAttrs(rel, cols).exists(ka => AttributeSet(ka).subsetOf(unusedKeys))
    }
    if (covered) Some(()) else None
  }

  /** Inner/semi case: the preserved side's base table declares a RELY'd
    * FK onto the unused side's RELY'd-unique key, the condition is
    * exactly those equalities, and the unused side is a bare scan —
    * then every non-null-key row matches exactly once and the join is
    * `Filter(IS NOT NULL fk..., preserved)` (the filter dropped when
    * the schema already proves the columns non-nullable). */
  private def fkGuaranteed(
      preserved: LogicalPlan,
      unused: LogicalPlan,
      cond: Expression): Option[LogicalPlan] = {
    val (pairs, rest) = equiPairs(cond, preserved, unused).getOrElse(return None)
    if (pairs.isEmpty || rest.nonEmpty) return None
    val (uRel, uLt) = baseRelation(unused, AttributeSet(pairs.map(_._2)), pure = true)
      .getOrElse(return None)
    val (pRel, pLt) = baseRelation(preserved, AttributeSet(pairs.map(_._1)), pure = false)
      .getOrElse(return None)
    val uniqueCols = KeyConstraints.relyUniqueKeys(uLt.summary.properties)
    KeyConstraints.relyForeignKeys(pLt.summary.properties).collectFirst {
      case (fkCols, refTable, refCols)
          if refTableMatches(refTable, uRel, pRel) &&
            // the referenced cols are a RELY'd unique key of the unused table
            uniqueCols.exists { case (cols, _) =>
              cols.map(_.toLowerCase).toSet == refCols.map(_.toLowerCase).toSet } &&
            // the equi-pairs are exactly the FK correspondence, both sides
            matchesFk(pairs, pRel, fkCols, uRel, refCols) =>
        val fkAttrs = keyAttrs(pRel, fkCols).get
        if (fkAttrs.forall(!_.nullable)) preserved
        else Filter(fkAttrs.map(IsNotNull(_): Expression).reduce(And), preserved)
    }
  }

  /** The join's equi-pairs must be exactly the FK's positional
    * correspondence (as sets of attribute pairs — order of conjuncts is
    * free, pairing is not). */
  private def matchesFk(
      pairs: Seq[(Attribute, Attribute)],
      pRel: DataSourceV2Relation,
      fkCols: Seq[String],
      uRel: DataSourceV2Relation,
      refCols: Seq[String]): Boolean = {
    (keyAttrs(pRel, fkCols), keyAttrs(uRel, refCols)) match {
      case (Some(fk), Some(ref)) =>
        val want = fk.map(_.exprId).zip(ref.map(_.exprId)).toSet
        val got = pairs.map(p => (p._1.exprId, p._2.exprId)).toSet
        want == got
      case _ => false
    }
  }

  /** `SELECT DISTINCT cols` over a base table whose RELY'd key ⊆ cols:
    * the Aggregate is an identity Project. */
  private def removeDistinct(a: Aggregate): LogicalPlan = {
    val groupAttrs = a.groupingExpressions.flatMap {
      case ar: AttributeReference => Some(ar)
      case _ => return a
    }
    val plainDistinct = a.aggregateExpressions.forall {
      case ar: AttributeReference => groupAttrs.exists(_.exprId == ar.exprId)
      case _ => false
    }
    if (!plainDistinct) return a
    val (rel, lt) = baseRelation(a.child, AttributeSet(groupAttrs), pure = false)
      .getOrElse(return a)
    val keys = KeyConstraints.relyUniqueKeys(lt.summary.properties)
    val grouped = AttributeSet(groupAttrs)
    val covered = keys.exists { case (cols, isPk) =>
      keyAttrs(rel, cols).exists { ka =>
        AttributeSet(ka).subsetOf(grouped) && (isPk || ka.forall(!_.nullable))
      }
    }
    if (covered) Project(a.aggregateExpressions, a.child) else a
  }
}
