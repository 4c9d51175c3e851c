package graft.plans

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The full extension surface through a session configured ONLY with
  * `spark.sql.extensions=graft.plans.GraftExtensions` — proving a pure-SQL
  * user reaches the pruning rule and every native kernel without the Scala
  * API. Own session (extensions bind at session build time). */
class GraftExtensionsSpec extends AnyFunSuite {

  // getOrCreate would silently reuse another suite's session and skip the
  // extensions — clear the active/default slots, build an isolated session
  // (sharing the JVM's SparkContext), then restore the previous ones.
  private lazy val spark: SparkSession = {
    val prevActive = SparkSession.getActiveSession
    val prevDefault = SparkSession.getDefaultSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master("local[2]")
      .appName("graft-extensions-spec")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    prevDefault.foreach(SparkSession.setDefaultSession)
    prevActive.foreach(SparkSession.setActiveSession)
    s
  }

  test("native kernels are callable from pure SQL") {
    val row = spark.sql("""
      SELECT
        graft_simhash32('alpha beta gamma') AS s32,
        graft_simhash64('alpha beta gamma') AS s64,
        graft_word_shingles('a b c d', 3) AS sh,
        graft_minhash_sigs(graft_word_shingles('a b c d', 3), 4) AS mh,
        graft_winnow_fingerprints('the quick brown fox jumps over it', 4, 4)
          AS wf,
        graft_dot(array(1.0D, 2.0D, 3.0D), array(4.0D, 5.0D, 6.0D)) AS dot
    """).head()

    // kernels agree with their Scala-API counterparts
    import org.apache.spark.sql.functions._
    val viaApi = spark.range(1).select(
      graft.operators.Dedup.simhash(lit("alpha beta gamma")).as("s32"),
      graft.operators.Dedup.simhash64(lit("alpha beta gamma")).as("s64"))
      .head()
    assert(row.getAs[Long]("s32") == viaApi.getAs[Long]("s32"))
    assert(row.getAs[Long]("s64") == viaApi.getAs[Long]("s64"))
    assert(row.getSeq[String](row.fieldIndex("sh")) == Seq("a b c", "b c d"))
    assert(row.getSeq[String](row.fieldIndex("mh")).length == 4)
    assert(row.getSeq[String](row.fieldIndex("mh")).forall(_.length == 32))
    assert(row.getSeq[String](row.fieldIndex("wf")).nonEmpty)
    assert(row.getAs[Double]("dot") == 32.0)
  }

  test("the pruning rule rides the same extensions entry point") {
    // presence check: the injected optimizer rule is in the session's
    // optimizer batches (behavioural pruning coverage lives in
    // SyntheticPartitionPruningSpec)
    val batches = spark.sessionState.optimizer.batches
      .flatMap(_.rules).map(_.ruleName)
    assert(batches.contains(SyntheticPartitionPruning.ruleName))
  }

  test("Tables.load adds no second copy of the injected rules") {
    // the extensions place each rule in both operator-optimization
    // batches; an install on top must leave those counts as they are
    def counts = {
      val rules = spark.sessionState.optimizer.batches.flatMap(_.rules)
      GraftExtensions.optimizerRules.map(r => rules.count(_ eq r))
    }
    val before = counts
    assert(before.forall(_ > 0))
    (1 to 3).foreach(_ => graft.Tables.load(spark, "/root/testdata/sf0.001", "orders"))
    assert(counts == before)
    assert(spark.experimental.extraOptimizations.isEmpty)
  }
}
