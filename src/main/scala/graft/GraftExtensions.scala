package graft

import graft.functions.GraftFunctions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Production registration path: inject every graft function at
  * session build via
  * `--conf spark.sql.extensions=graft.GraftExtensions` — the cluster
  * analog of the reference's one-time `CREATE AGGREGATE FUNCTION` DDL
  * (`/root/reference/README.md:40-46`). Unlike
  * [[graft.functions.GraftFunctions.register]] (temp functions on one
  * session), the extension applies to every session the cluster
  * builds, including Thrift-server/SQL-only clients that never touch
  * Scala code. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.table.foreach { f =>
      ext.injectFunction((FunctionIdentifier(f.name),
        new ExpressionInfo(f.impl.getName, null, f.name, f.usage, ""), f.builder))
    }
    // whole-plan rewrite (off unless spark.graft.bloomSemiJoin.enabled):
    // auto-insert the bloom prefilter under eligible left-semi joins
    ext.injectOptimizerRule(graft.plans.BloomSemiJoinRule)
    // whole-plan rewrite (off unless spark.graft.zoneMap.enabled):
    // zone-map file skipping for range filters over clustered tables
    ext.injectOptimizerRule(graft.plans.ZoneMapRule)
    // whole-plan rewrite (off unless spark.graft.approxDistinct.enabled):
    // exact count(DISTINCT x) -> HyperLogLog++ estimate
    ext.injectOptimizerRule(graft.plans.ApproxDistinctRule)
    // whole-plan rewrite (off unless spark.graft.mvRewrite.enabled):
    // registered materialized views serve subset-grouping aggregates
    ext.injectOptimizerRule(graft.plans.MvRewriteRule)
    // whole-plan rewrite (off unless spark.graft.joinElim.enabled):
    // RELY PK/FK constraints drop provably-redundant dimension joins
    ext.injectOptimizerRule(graft.plans.JoinElimRule)
    // SQL surface for the catalog maintenance verbs (OPTIMIZE /
    // VACUUM / RESTORE ... VERSION AS OF) — a ParserInterface
    // DELEGATE: only statements opening with one of the three verbs
    // parse here; everything else goes to Spark's parser verbatim
    ext.injectParser((_, parser) =>
      new graft.sources.GraftSqlParser(parser))
    // mergeSchema: by-name appends may evolve the catalog table FIRST
    // (hint batch — before Resolution validates the write; see
    // MergeSchemaRule for why not ACCEPT_ANY_SCHEMA)
    ext.injectHintResolutionRule(session =>
      new graft.sources.MergeSchemaRule(session))
  }
}
