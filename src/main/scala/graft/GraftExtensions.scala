package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.{CosineSimF, DotProductF, ShingleGen,
  SortedIntersectCountF}

/** SparkSessionExtensions entry point: makes the engine's native
  * expressions available to SQL and installs its optimizer rule and
  * planner strategies. Activate with
  * `spark.sql.extensions=graft.GraftExtensions` (cluster-wide, no code
  * changes for users); [[GraftSession.local]] sets it for every entry
  * point. The extensions are read when the session is built and carry
  * over to `newSession()` clones.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    // arity checked here: a bad call must fail resolution with a clear
    // message, not an IndexOutOfBoundsException from exprs(1)
    def binary(name: String, make: (Expression, Expression) => Expression)
        : Seq[Expression] => Expression = {
      case Seq(a, b) => make(a, b)
      case other => throw new IllegalArgumentException(
        s"$name requires exactly 2 arguments, got ${other.length}")
    }
    ext.injectFunction((
      FunctionIdentifier("dot_product_f"),
      new ExpressionInfo(classOf[DotProductF].getName, "dot_product_f"),
      binary("dot_product_f", DotProductF(_, _))))
    ext.injectFunction((
      FunctionIdentifier("cosine_sim_f"),
      new ExpressionInfo(classOf[CosineSimF].getName, "cosine_sim_f"),
      binary("cosine_sim_f", CosineSimF(_, _))))
    ext.injectFunction((
      FunctionIdentifier("shingle_gen"),
      new ExpressionInfo(classOf[ShingleGen].getName, "shingle_gen"),
      GraftExtensions.shingleGenBuilder))
    ext.injectFunction((
      FunctionIdentifier("sorted_intersect_count_f"),
      new ExpressionInfo(classOf[SortedIntersectCountF].getName,
        "sorted_intersect_count_f"),
      binary("sorted_intersect_count_f", SortedIntersectCountF(_, _))))
    // SQL TABLE functions over the versioned-table layer: pure-SQL
    // users get snapshot reads, time travel, and the row-level change
    // feed without touching the Scala API —
    //   SELECT * FROM graft_table('/path/to/table')
    //   SELECT * FROM graft_table('/path/to/table', 3)      -- version
    //   SELECT * FROM graft_table_changes('/path', 1, 3)    -- feed
    // Arguments must be literals (they determine the PLAN — the file
    // list is resolved at analysis time, like every table reference).
    ext.injectTableFunction((
      FunctionIdentifier("graft_table"),
      new ExpressionInfo("graft.sources.VersionedTable", "graft_table"),
      GraftExtensions.graftTableBuilder))
    ext.injectTableFunction((
      FunctionIdentifier("graft_table_changes"),
      new ExpressionInfo("graft.sources.VersionedTable",
        "graft_table_changes"),
      GraftExtensions.graftTableChangesBuilder))
    ext.injectOptimizerRule(_ => graft.plans.DotProductRewrite)
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    ext.injectPlannerStrategy(_ => graft.plans.SessionizeStrategy)
    ext.injectPlannerStrategy(_ => graft.plans.BandJoinStrategy)
    // SQL MERGE INTO over the named catalog (round 15): claims the
    // resolved command for graft tables before the built-in planner
    // rejects it — see graft.plans.GraftMergeStrategy
    ext.injectPlannerStrategy(_ => graft.plans.GraftMergeStrategy)
  }
}

object GraftExtensions {
  /** The shingle size must be a foldable integer (it is part of the
    * plan, not a per-row value). */
  val shingleGenBuilder: Seq[Expression] => Expression = {
    case Seq(a, kExpr) if kExpr.foldable && kExpr.eval() != null =>
      ShingleGen(a, kExpr.eval().asInstanceOf[Number].intValue())
    case _ => throw new IllegalArgumentException(
      "shingle_gen requires (array<string>, integer literal k)")
  }

  private def lit(e: Expression, what: String): Any = {
    require(e.foldable && e.eval() != null,
      s"$what must be a non-null literal (it determines the plan)")
    e.eval()
  }

  private def str(e: Expression, what: String): String =
    lit(e, what).toString

  private def int(e: Expression, what: String): Int =
    lit(e, what).asInstanceOf[Number].intValue()

  private def active = org.apache.spark.sql.SparkSession.active

  /** `graft_table(root[, version])` — the analyzed read plan is
    * embedded directly (the file list IS plan-time state, exactly like
    * a catalog table reference). */
  val graftTableBuilder
      : Seq[Expression] => org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    case Seq(root) =>
      graft.sources.VersionedTable
        .read(active, str(root, "graft_table root"))
        .queryExecution.analyzed
    case Seq(root, v) =>
      graft.sources.VersionedTable.read(active,
        str(root, "graft_table root"), Some(int(v, "graft_table version")))
        .queryExecution.analyzed
    case other => throw new IllegalArgumentException(
      s"graft_table requires (root[, version]), got ${other.length} args")
  }

  /** `graft_table_changes(root, fromVersion, toVersion)` — the
    * row-level change feed as a SQL table. */
  val graftTableChangesBuilder
      : Seq[Expression] => org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    case Seq(root, from, to) =>
      graft.sources.VersionedTable.readChangeFeed(active,
        str(root, "graft_table_changes root"),
        int(from, "fromVersion"), int(to, "toVersion"))
        .queryExecution.analyzed
    case other => throw new IllegalArgumentException(
      "graft_table_changes requires (root, fromVersion, toVersion), " +
        s"got ${other.length} args")
  }
}
