package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Session-extension entry point: installs graft's native functions
  * and its parser, analyzer and optimizer rules at session build time —
  *
  * {{{
  * SparkSession.builder()
  *   .config("spark.sql.extensions", "graft.functions.GraftExtensions")
  * }}}
  *
  * This is the one install path, the mechanism Iceberg uses for its
  * extension SQL: `graft.SessionTuning.local` sets it on every session
  * it builds, and no query or catalog call installs anything later.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    // SQL wiring for lakehouse views — Spark 4.1 has the ViewCatalog
    // SPI but no parser/analyzer support for it (see LakehouseViews):
    // DDL is intercepted at parse time (ResolveSessionCatalog rejects
    // non-session-catalog view DDL before any injected rule could run),
    // reads resolve through an extra resolution rule.
    ext.injectParser { (session, delegate) =>
      new graft.catalog.LakehouseViews.ViewAwareParser(session, delegate)
    }
    ext.injectResolutionRule { session =>
      graft.catalog.LakehouseViews.ResolveLakehouseViews(session)
    }
    // merge-on-read deletes: rewrite dirty-table relations into
    // (clean files) ∪ (dirty files ⟕anti delete keys) — see MorReads
    ext.injectResolutionRule { session =>
      graft.catalog.MorReads(session)
    }
    // runtime file pruning for delta MERGE/UPDATE/DELETE targets —
    // Spark's PartitionPruning is structurally blind there (see
    // DeltaTargetPruning)
    ext.injectOptimizerRule { session =>
      graft.catalog.DeltaTargetPruning(session)
    }
    // RELY'd PK/UNIQUE/FK exploitation: join elimination + distinct
    // removal (see ConstraintOptimization)
    ext.injectOptimizerRule(_ => graft.catalog.ConstraintOptimization)
    GraftFunctions.Table.foreach { case (name, cls, builder) =>
      ext.injectFunction(
        (new FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), builder))
    }
  }
}
