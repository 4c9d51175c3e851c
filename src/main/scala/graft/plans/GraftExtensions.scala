package graft.plans

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule

/** Session extensions registering the engine's Catalyst customisations:
  * the engine's optimizer rules ([[GraftExtensions.optimizerRules]]) plus
  * the native kernels as SQL functions, so the whole operator surface is
  * reachable from `spark.sql(...)` without touching the Scala API.
  * `SparkSession.builder().withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.plans.GraftExtensions`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import org.apache.spark.sql.catalyst.FunctionIdentifier
  import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

  private def info(name: String, usage: String) =
    new ExpressionInfo("graft", null, name, usage, "")

  private def oneArg(name: String, args: Seq[Expression])
      : Expression = {
    require(args.length == 1, s"$name takes exactly 1 argument")
    args.head
  }

  override def apply(e: SparkSessionExtensions): Unit = {
    GraftExtensions.optimizerRules.foreach(r => e.injectOptimizerRule(_ => r))
    e.injectFunction((FunctionIdentifier("graft_simhash32"),
      info("graft_simhash32", "graft_simhash32(text) - 32-bit simhash"),
      args => graft.functions.SimHashSignature(
        oneArg("graft_simhash32", args), wide = false)))
    e.injectFunction((FunctionIdentifier("graft_simhash64"),
      info("graft_simhash64", "graft_simhash64(text) - 64-bit simhash"),
      args => graft.functions.SimHashSignature(
        oneArg("graft_simhash64", args), wide = true)))
    e.injectFunction((FunctionIdentifier("graft_word_shingles"),
      info("graft_word_shingles",
        "graft_word_shingles(text, n) - distinct word n-grams"),
      args => {
        require(args.length == 2, "graft_word_shingles takes (text, n)")
        graft.functions.WordShingles(args.head,
          args(1).eval().asInstanceOf[Number].intValue())
      }))
    e.injectFunction((FunctionIdentifier("graft_minhash_sigs"),
      info("graft_minhash_sigs",
        "graft_minhash_sigs(shingles, k) - k minhash signature slots"),
      args => {
        require(args.length == 2, "graft_minhash_sigs takes (shingles, k)")
        graft.functions.MinHashSigs(args.head,
          args(1).eval().asInstanceOf[Number].intValue())
      }))
    e.injectFunction((FunctionIdentifier("graft_winnow_fingerprints"),
      info("graft_winnow_fingerprints",
        "graft_winnow_fingerprints(text, k, w) - winnowing fingerprint set"),
      args => {
        require(args.length == 3,
          "graft_winnow_fingerprints takes (text, k, w)")
        graft.functions.WinnowFingerprints(args.head,
          args(1).eval().asInstanceOf[Number].intValue(),
          args(2).eval().asInstanceOf[Number].intValue())
      }))
    e.injectFunction((FunctionIdentifier("graft_dot"),
      info("graft_dot", "graft_dot(a, b) - double-precision dot product"),
      args => {
        require(args.length == 2, "graft_dot takes (a, b)")
        graft.functions.DotProduct(args.head, args(1))
      }))
  }
}

object GraftExtensions {

  /** The engine's optimizer rules, in the one list both registration paths
    * use. */
  val optimizerRules: Seq[Rule[LogicalPlan]] =
    Seq(SyntheticPartitionPruning, ExactDecimalKernels)

  /** Register [[optimizerRules]] on a session built without the extensions
    * (`Tables.load` calls this for every read). Idempotent: a rule already
    * in any of the session's optimizer batches — injected by the
    * extensions or installed earlier — is not added again. */
  def install(spark: SparkSession): Unit =
    if (!optimizerRules.forall(spark.experimental.extraOptimizations.contains))
      installLock.synchronized {
        val present = spark.sessionState.optimizer.batches.flatMap(_.rules).toSet
        val missing = optimizerRules.filterNot(present.contains)
        if (missing.nonEmpty)
          spark.experimental.extraOptimizations =
            spark.experimental.extraOptimizations ++ missing
      }

  private val installLock = new Object
}
