package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.expressions.CosineSimilarity

/** SparkSessionExtensions entry point: registers graft's native Catalyst
  * functions for SQL use, its analyzer rules and SQL parser, and the
  * physical rule that keeps filter bounds out of generated source
  * ([[graft.plans.StableLiterals]]). Install at session build time
  * (`spark.sql.extensions=graft.GraftExtensions`); on a live session,
  * [[GraftExtensions.register]] adds the functions alone.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach { case (ident, info, builder) =>
      ext.injectFunction((ident, info, builder))
    }
    // AS-OF join plan node lowering (graft.plans.AsOfJoinPlan).
    ext.injectResolutionRule(session => graft.plans.ResolveAsOfJoin(session))
    // SQL MERGE INTO for graft-vstore AND graft-candles targets, lowered
    // to the journaled one-tx commit / crash-atomic upsert
    // resolution fixed point, before Spark's row-level rewrite would
    // reject the table.
    ext.injectResolutionRule(session => graft.plans.ResolveGraftMerge(session))
    // SQL DELETE FROM / UPDATE on graft targets, lowered to one
    // tombstone tx / one keyed upsert of the affected rows.
    ext.injectResolutionRule(session => graft.plans.ResolveGraftDml(session))
    // CREATE MATERIALIZED VIEW … AS SELECT — DDL sugar rewritten to the
    // create_view procedure (same definition file, same validations).
    ext.injectParser((_, delegate) => new graft.plans.GraftSqlParser(delegate))
    // Filter bounds read from the generated class's references, so reads
    // that differ only in their bounds reuse one compiled class.
    ext.injectColumnar(_ => graft.plans.StableLiterals.Install)
  }
}

object GraftExtensions {
  private type Builder = Seq[Expression] => Expression

  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Builder)] = Seq(
    (FunctionIdentifier("graft_cosine"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "graft_cosine"),
      (children: Seq[Expression]) => CosineSimilarity(children.head, children(1))))

  /** Register on an existing session (tests, notebooks). */
  def register(spark: SparkSession): Unit =
    functions.foreach { case (ident, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(ident, info, builder)
    }
}
