package graft.plans

import org.apache.spark.sql.catalyst.expressions.Multiply
import org.apache.spark.sql.types.DecimalType

import graft.SparkSpec
import graft.functions.{ExactDecimalMultiply, ExactDecimalSum, ExactDoubleToDecimal}

/** Pins the plan shape the exact DECIMAL kernels give q01, so a Spark
  * upgrade that changes the shapes the rule matches fails here instead of
  * silently running every row through BigDecimal again. */
class ExactDecimalKernelsSpec extends SparkSpec {

  private def q01(s: org.apache.spark.sql.SparkSession) =
    graft.SparkEntry.queries("q01_pricing_summary")(s, sf("sf0.001"))

  test("q01's optimized plan runs the cast, product and limb-sum kernels") {
    val plan = q01(spark).queryExecution.optimizedPlan
    val exprs = plan.collect { case p => p.expressions }.flatten.flatMap(_.collect { case e => e })
    assert(exprs.exists(_.isInstanceOf[ExactDoubleToDecimal]))
    assert(exprs.exists(_.isInstanceOf[ExactDecimalMultiply]))
    assert(exprs.exists(_.isInstanceOf[ExactDecimalSum]))
    val smallSparkProducts = exprs.collect {
      case m: Multiply if Seq(m.left, m.right).forall(_.dataType match {
          case d: DecimalType => d.precision <= 18
          case _ => false
        }) => m
    }
    assert(smallSparkProducts.isEmpty, plan.toString)
  }

  test("q01 rows are the same with and without the kernels") {
    // Tables.load installs the rules while the frame is built; clearing
    // them before the action plans the same frame with Spark's own
    // expressions
    val s = spark.newSession()
    val plain = q01(s)
    s.experimental.extraOptimizations = Nil
    val want = plain.collect().toSeq
    val kernels = q01(s)
    assert(kernels.queryExecution.optimizedPlan.toString.contains("graft_exact_sum"))
    assert(kernels.collect().toSeq == want)
  }

  test("repeated Tables.load installs each engine rule exactly once") {
    val s = spark.newSession()
    (1 to 3).foreach(_ => graft.Tables.load(s, sf("sf0.001"), "lineitem"))
    GraftExtensions.install(s)
    val rules = s.sessionState.optimizer.batches.flatMap(_.rules)
    GraftExtensions.optimizerRules.foreach(r => assert(rules.count(_ eq r) == 1, r.ruleName))
  }
}
