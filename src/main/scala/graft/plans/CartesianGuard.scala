package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.{Cross, Inner}
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule

/** Catalyst OPTIMIZER RULE (`SparkSessionExtensions.injectOptimizerRule`):
  * fail fast on unconditional cross joins. At 100 TB an accidental
  * cartesian product — a join whose predicate silently resolved away, or a
  * missing key column — does not "run slow", it runs until the cluster is
  * gone. Catalyst plans such joins without complaint, so the guard makes
  * them a PLAN-TIME error instead of a runtime incident.
  *
  * Opt-in per session (`graft.guard.noCartesian = true`) because cross
  * joins are occasionally legitimate (tiny broadcast expansion like the
  * x14 centroid fan-out); those sites either keep the guard off or use an
  * explicit `crossJoin` under a bounded build side, which planners turn
  * into BroadcastNestedLoopJoin — the guard only rejects the UNCONDITIONED
  * logical cross join shape.
  *
  * This is deliberately a LogicalPlan rule, not a physical strategy: it
  * sees the join after predicate pushdown/simplification, so a join whose
  * condition folded to true (the nastiest accident) is caught too.
  */
case class CartesianGuard(spark: SparkSession) extends Rule[LogicalPlan] {

  private def enabled: Boolean =
    spark.conf.getOption("graft.guard.noCartesian").contains("true")

  /** No condition, or a condition the optimizer folded to literal TRUE —
    * `ON 1=1` reaches the optimized plan as `Some(true)`, not `None`. A
    * condition folded to false or NULL yields ZERO rows, not |L|x|R|, so
    * only `true` counts as cartesian here. */
  private def unconditioned(j: Join): Boolean = j.condition match {
    case None => true
    case Some(org.apache.spark.sql.catalyst.expressions.Literal(v, _)) => v == true
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (enabled) plan.foreach {
      case j @ Join(_, _, Inner | Cross, _, _) if unconditioned(j) =>
        throw new IllegalStateException(
          "graft cartesian guard: unconditioned cross join in the optimized plan — " +
            "at 100 TB this is |left| x |right| rows. Add a join condition, or disable " +
            s"graft.guard.noCartesian for a deliberate cross join. Join: ${j.simpleString(3)}")
      case _ => ()
    }
    plan
  }
}
