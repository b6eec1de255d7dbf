package graft.catalog

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, And, AttributeReference, EqualNullSafe, Expression, NamedExpression}
import org.apache.spark.sql.catalyst.plans.LeftAnti
import org.apache.spark.sql.catalyst.plans.logical.{DeleteFromTable, InsertIntoStatement, Join, JoinHint, LogicalPlan, MergeIntoTable, Project, Union, UpdateTable, V2WriteCommand}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Analyzer rule that makes merge-on-read deletes transparent to every
  * batch read (`SELECT`, `spark.table`, views, subqueries, time
  * travel): a relation over a table with applicable delete entries is
  * rewritten into
  *
  * {{{
  *   Project(original attrs,
  *     Union(
  *       scan(clean files),                      // join-free — the bulk
  *       scan(dirty files) ⟕anti delete-keys))   // null-safe key equality
  * }}}
  *
  * Files group by their APPLICABLE entry set (sequence order + footer
  * key-range overlap, [[MergeOnRead.applicable]]), so a delete touching
  * one day's keys leaves every other file on the join-free branch — at
  * 100 TB the anti-join build side is a broadcast of the key parquet
  * and the probe side only the overlapping files. Sub-scans carry
  * [[MergeOnRead.PlainReadOption]] so the rule (and the last-resort
  * scan guard) never re-applies entries; write-target relations
  * (INSERT/MERGE/UPDATE/DELETE targets) are left untouched — only
  * their read sides merge.
  *
  * Installed by [[graft.functions.GraftExtensions]] alongside the view
  * resolution rule.
  */
case class MorReads(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    // Defer until the plan is RESOLVED: the rewrite replaces a relation
    // with an equivalent Project/Union, so it never helps resolution —
    // but firing early would destroy the relation's metadataOutput
    // before AddMetadataColumns could materialize a requested metadata
    // column (`SELECT _graft_row_id ...` on a dirty table resolved the
    // relation in iteration 1 and the rewrite beat the metadata rule to
    // it; Project-over-Union serves no metadata columns). Once resolved,
    // any requested metadata attr is IN r.output and the branches
    // reproduce it.
    if (!plan.resolved) return plan
    // ... and until AddMetadataColumns has no work left: an operator
    // referencing an attribute resolved via a child's metadataOutput
    // but not yet IN that child's output (`SELECT DISTINCT
    // _graft_row_id.file FROM dirty` resolves this way) shows up as
    // missingInput; rewriting the relation now would destroy the
    // metadataOutput before the built-in rule could materialize the
    // column, leaving an unresolvable dangling reference. Deferring
    // one iteration lets AddMetadataColumns patch the relation, after
    // which the attr is in r.output and the branches reproduce it.
    if (plan.exists(p => p.resolved && p.missingInput.nonEmpty)) return plan
    val targets = writeTargetRelations(plan)
    plan.transformUpWithSubqueries {
      case r: DataSourceV2Relation if !targets.contains(r) =>
        dirtyLakehouse(r) match {
          case Some(lt) => rewrite(r, lt)
          case None => r
        }
    }
  }

  /** The LakehouseTable behind a READ relation that still needs its
    * delete entries folded: a plain table relation, or the target-side
    * read relation a delta (merge-on-read) MERGE/UPDATE/DELETE rewrite
    * plants — Spark wraps the table in a RowLevelOperationTable whose
    * scans would otherwise read raw and match deleted rows. COW
    * operations are deliberately NOT matched: their scan is
    * file-granular (every row of a replaced group must survive the
    * read) and refuses dirty tables with an actionable error. */
  private def dirtyLakehouse(r: DataSourceV2Relation): Option[LakehouseTable] = {
    if (r.options.containsKey(MergeOnRead.PlainReadOption)) return None
    val lake = r.table match {
      case lt: LakehouseTable => Some(lt)
      case t => org.apache.spark.sql.graftbridge.RowLevelBridge.unwrap(t) match {
        case Some((lt: LakehouseTable, _: LakehouseDeltaOperation)) => Some(lt)
        case _ => None
      }
    }
    // deleteFiles lives in the O(refs) summary — a clean table is
    // proven clean without forcing a full manifest resolve
    lake.filter(lt => lt.summary.deleteFiles.nonEmpty &&
      MergeOnRead.anyApplicable(lt.meta, lt.meta.files))
  }

  /** Relations in WRITE position (identity set): the target of an
    * INSERT/MERGE/UPDATE/DELETE must stay a plain relation for Spark's
    * own command resolution; subquery/source reads of the same table
    * are separate instances and still merge. */
  private def writeTargetRelations(plan: LogicalPlan): java.util.Set[LogicalPlan] = {
    val s = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[LogicalPlan, java.lang.Boolean]())
    def relsUnder(p: LogicalPlan): Unit = p.foreach {
      case r: DataSourceV2Relation => s.add(r)
      case _ => ()
    }
    plan.foreach {
      case w: V2WriteCommand => relsUnder(w.table)
      case i: InsertIntoStatement => relsUnder(i.table)
      case d: DeleteFromTable => relsUnder(d.table)
      case u: UpdateTable => relsUnder(u.table)
      case m: MergeIntoTable => relsUnder(m.targetTable)
      case _ => ()
    }
    s
  }

  private def rewrite(r: DataSourceV2Relation, lt: LakehouseTable): LogicalPlan = {
    val meta = lt.meta
    val resolver = spark.sessionState.conf.resolver
    // a delta MERGE/UPDATE/DELETE target read asks for the positional
    // row-identity column — every branch must produce it
    val needRowId = r.output.exists(a => resolver(a.name, LakehouseTable.RowIdColName))

    val groups = meta.files.groupBy(f => MergeOnRead.applicable(meta, f)).toSeq
      .sortBy(_._2.head) // deterministic branch order
    val branches: Seq[LogicalPlan] = groups.map { case (entries, files) =>
      if (entries.exists(_.isPositional)) {
        // positional entries match on the scan's _metadata struct (file
        // path + row_index) — a file-source feature the DSv2 wrapper
        // does not expose, so this branch is built with the Dataset
        // API over a plain parquet scan of the SAME file subset
        // (MergeOnRead.read applies equality and positional entries in
        // sequence order); pushdown/pruning still reach the file scan
        import org.apache.spark.sql.functions.{col, struct}
        val base =
          if (!needRowId) MergeOnRead.read(spark, lt.tableDir, meta, files)
          else MergeOnRead.read(spark, lt.tableDir, meta, files, prep = df =>
            df.withColumn("__graft_pf", MergeOnRead.relFileCol)
              .withColumn("__graft_pp", col("_metadata.row_index")))
        val cols = meta.schema.fieldNames.map(col).toIndexedSeq ++
          (if (needRowId)
            Seq(struct(
              col("__graft_pf").as(DeleteFile.PosFileCol),
              col("__graft_pp").as(DeleteFile.PosPosCol))
              .as(LakehouseTable.RowIdColName))
          else Seq.empty)
        base.select(cols: _*).queryExecution.analyzed
      } else {
        val sub0 = subRelation(r, lt, files)
        val sub: LogicalPlan =
          if (!needRowId) sub0
          else {
            // materialize the metadata column on the sub-relation: its
            // PositionalRowIdScan emits offsets within the SAME table
            // dir, so identities stay consistent across branches
            val rid = sub0.metadataOutput.find(a =>
              resolver(a.name, LakehouseTable.RowIdColName)).getOrElse(
              throw new IllegalStateException(
                s"sub-relation of ${lt.name()} lost the row-id metadata column"))
            Project(sub0.output :+ rid, sub0)
          }
        // same-commit same-key-shape entries are ONE logical delete
        // that fanned out to several files on write: scan them together
        // and anti-join once (anti joins commute, so grouping only
        // changes the plan; the sort keeps it deterministic)
        val grouped = entries.groupBy(d => (d.seq, d.keyColumns)).toSeq
          .sortBy { case ((seq, cols), _) => (seq, cols.mkString(",")) }
        grouped.foldLeft(sub: LogicalPlan) { case (p, ((_, keyCols), es)) =>
          val keysPlan = spark.read
            .schema(MergeOnRead.keySchema(meta.schema, keyCols))
            .parquet(es.map(e => lt.tableDir.resolve(e.path).toString): _*)
            .queryExecution.analyzed
          val cond = keyCols.map { k =>
            val l = p.output.find(a => resolver(a.name, k)).getOrElse(
              throw new IllegalStateException(s"merge-on-read key column $k missing from scan"))
            val rk = keysPlan.output.find(a => resolver(a.name, k)).get
            EqualNullSafe(l, rk): Expression
          }.reduce(And(_, _))
          Join(p, keysPlan, LeftAnti, Some(cond), JoinHint.NONE)
        }
      }
    }
    val merged = if (branches.size == 1) branches.head else Union(branches)
    // hand the parent back its original attribute ids — matched BY NAME,
    // not position: a RowLevelOperationTable read relation's output
    // order need not be schema order
    val restored: Seq[NamedExpression] = r.output.map {
      case o: AttributeReference =>
        val n = merged.output.find(a => resolver(a.name, o.name)).getOrElse(
          throw new IllegalStateException(
            s"merge-on-read rewrite lost column ${o.name} (have: ${
              merged.output.map(_.name).mkString(", ")})"))
        Alias(n, o.name)(exprId = o.exprId, qualifier = o.qualifier,
          explicitMetadata = Some(o.metadata))
    }
    Project(restored, merged)
  }

  /** A fresh relation over a FILE SUBSET of the same table snapshot,
    * marked plain-read. Fresh attribute ids per branch (required for
    * self-union); file-level stats, bloom sidecars, and runtime
    * filtering all keep working through the copied metadata.
    *
    * ANONYMOUS on purpose (no catalog/identifier): temp-view storage
    * (ViewHelper.prepareTemporaryViewPlan) normalizes any NAMED
    * DSv2 relation into a V2TableReference — name + options only —
    * which re-resolution later reloads as the FULL CURRENT table. A
    * named sub-relation round-tripped through a Dataset temp view
    * (`df.createOrReplaceTempView` + `INSERT INTO … SELECT`) would
    * therefore silently drop its file subset while keeping the
    * plain-read marker: every branch rescans all files raw, deleted
    * rows resurrect and rows duplicate per branch. Anonymous relations
    * fail the reference rewrite's `catalog.isDefined && identifier
    * .isDefined` guard and are stored verbatim. */
  private def subRelation(
      r: DataSourceV2Relation, lt: LakehouseTable, files: Seq[String]): DataSourceV2Relation = {
    val keep = files.toSet
    val subMeta = lt.meta.copy(
      files = files,
      fileStats = lt.meta.fileStats.view.filterKeys(keep.contains).toMap,
      fileRows = lt.meta.fileRows.view.filterKeys(keep.contains).toMap,
      fileSeq = lt.meta.fileSeq.view.filterKeys(keep.contains).toMap,
      deleteFiles = Seq.empty)
    // pinned: subMeta is a file-subset projection, not the table's full
    // head — FK-based join elimination must not treat it as the
    // complete referenced table
    val subTable = new LakehouseTable(spark, lt.name(), lt.tableDir, subMeta,
      pinned = true)
    val opts = new java.util.HashMap[String, String](r.options)
    opts.put(MergeOnRead.PlainReadOption, "true")
    DataSourceV2Relation.create(
      subTable, None, None, new CaseInsensitiveStringMap(opts))
  }
}
