package graft

import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}

/** Suite-wide plan-shape gates: every `SparkEntry.queries` plan is built
  * ONCE at sf0.001 (the builders' own eager steps — fits, ref-set
  * collects — run; no action runs on the returned frame) and each gate
  * walks the optimized plans, subqueries included. Building the 194
  * plans is the cost (≈ 220 s on 4 cores; optimizing them ≈ 5 s), so a
  * new plan-shape gate belongs here as one more test over [[plans]]. */
class PlanGateSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  private lazy val plans: Seq[(String, LogicalPlan)] =
    SparkEntry.queries.keys.toSeq.sorted.map { name =>
      val plan = SparkEntry.queries(name)(spark, dir).queryExecution.optimizedPlan
      spark.catalog.clearCache()
      name -> plan
    }

  /** An aggregate function whose buffer is hundreds of attributes wide
    * (the built-in HyperLogLog++ keeps one per register word: 1,639 at
    * rsd 0.01) makes every query that carries it generate code for rows
    * that wide — a fixed per-query cost that dwarfs small data. */
  private val MaxBufferAttrs = 64

  test(s"no suite query plans an aggregate buffer wider than $MaxBufferAttrs attributes") {
    val wide = plans.flatMap { case (name, plan) =>
      plan.collectWithSubqueries { case a: Aggregate => a }
        .flatMap(_.aggregateExpressions.flatMap(_.collect {
          case ae: AggregateExpression => ae.aggregateFunction }))
        .map(f => (f.prettyName, f.aggBufferAttributes))
        .filter(_._2.size > MaxBufferAttrs)
        .map { case (fn, attrs) =>
          s"$name: $fn buffer has ${attrs.size} attributes " +
            s"(${attrs.take(2).map(_.name).mkString(", ")}, …)" }
    }
    assert(wide.isEmpty, wide.distinct.mkString("; "))
  }
}
