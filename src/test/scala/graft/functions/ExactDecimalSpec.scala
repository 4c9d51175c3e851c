package graft.functions

import java.lang.{Double => JDouble}
import java.math.{BigDecimal => JBigDecimal, BigInteger}
import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, EvalMode, GenericInternalRow}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSpec
import graft.plans.GraftExtensions

/** The exact DECIMAL kernels against Spark's own `Cast`, `Multiply` and
  * `Sum`: the same query in two sessions of their own, one with the
  * engine's rules installed, must give bit-equal rows (decimal scale
  * included) or fail with the same error condition — under generated code
  * and interpreted evaluation, with ANSI on and off. Inputs come from
  * parquet, so no projection is folded away before the rule sees it. */
class ExactDecimalSpec extends SparkSpec {

  private lazy val ref: SparkSession = spark.newSession()
  private lazy val ker: SparkSession = {
    val s = spark.newSession()
    GraftExtensions.install(s)
    s
  }

  private lazy val dir = Files.createTempDirectory("graft_exact_decimal").toString

  private def inModes(body: Boolean => Unit): Unit =
    for (codegen <- CodegenModes.all; ansi <- Seq(false, true)) {
      Seq(ref, ker).foreach { s =>
        CodegenModes.set(s, codegen)
        s.conf.set("spark.sql.ansi.enabled", ansi.toString)
      }
      withClue(s"[${CodegenModes.name(codegen)}, ansi=$ansi] ")(body(ansi))
    }

  /** Simple names of the engine kernels in `df`'s optimized plan. */
  private def kernels(df: DataFrame): Set[String] =
    df.queryExecution.optimizedPlan.collect { case p => p.expressions }.flatten
      .flatMap(_.collect {
        case e if e.getClass.getPackageName == "graft.functions" =>
          e.getClass.getSimpleName
      }).toSet

  private def condition(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).collectFirst {
      case s: org.apache.spark.SparkThrowable if s.getCondition != null =>
        s.getCondition
    }.getOrElse(t.getClass.getName)

  private def outcome(df: DataFrame): Either[String, Seq[String]] =
    try Right(df.collect().toSeq.map(rowString).sorted)
    catch { case e: Exception => Left(condition(e)) }

  /** Exact rendering: a decimal keeps its scale (`1.50` ≠ `1.5`). */
  private def rowString(r: Row): String = r.toSeq.map {
    case d: JBigDecimal => s"${d.unscaledValue}E-${d.scale}"
    case v => String.valueOf(v)
  }.mkString("|")

  /** Runs `query` in both sessions and asserts equal outcomes; returns
    * the reference outcome and the kernels the kernel session planned. */
  private def same(query: SparkSession => DataFrame)
      : (Either[String, Seq[String]], Set[String]) = {
    val want = outcome(query(ref))
    val df = query(ker)
    val got = outcome(df)
    assert(got == want)
    (want, kernels(df))
  }

  /** Runs queries whose tasks are expected to fail, without an executor
    * stack trace per failure in the test log. */
  private def quietTaskFailures[T](body: => T): T = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.config.Configurator
    val loggers = Seq("org.apache.spark.executor.Executor",
      "org.apache.spark.scheduler.TaskSetManager")
    val before = loggers.map(n => n -> LogManager.getLogger(n).getLevel)
    loggers.foreach(Configurator.setLevel(_, Level.OFF))
    try body
    finally before.foreach { case (n, l) => Configurator.setLevel(n, l) }
  }

  private def write(name: String, schema: StructType, rows: Seq[Row]): String = {
    val path = s"$dir/$name"
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .coalesce(1).write.mode("overwrite").parquet(path)
    path
  }

  // ------------------------------------------------------------ cast

  private val guard = ExactDecimal.CastMagnitudeBound

  /** Nulls, NaN, ±Inf, signed zeros, subnormals, HALF_UP ties that the
    * binary value sits just below or above, and both sides of the 2^40
    * guard at scales 0, 2 and 6. */
  private val edgeDoubles: Seq[JDouble] = Seq[JDouble](null,
    Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity,
    -0.0, 0.0, Double.MinPositiveValue, -Double.MinPositiveValue,
    java.lang.Double.MIN_NORMAL, -java.lang.Double.MIN_NORMAL,
    0.125, -0.125, 0.005, -0.005, 2.675, -2.675, 1.005, 0.045, 1.115, 0.015,
    0.5, 1.5, 2.5, -2.5, 1e-7, 0.1 + 0.2, 123.456, 12345678.9,
    99999999.995, 9999999999.99, 9999999999.995, 1e10, 1e15, 1e17, 1e18,
    9.223372036854776e18, 1e19, 1e30, Double.MaxValue, -Double.MaxValue) ++
    Seq(0, 2, 6).flatMap { k =>
      val u = math.pow(10, k)
      val g = guard / u
      Seq(g, -g, Math.nextDown(g), Math.nextUp(g), g - 0.5 / u, g + 0.5 / u,
        g - 1.25 / u, g + 1.25 / u, -(g - 1.25 / u))
    }.map(JDouble.valueOf)

  /** Price-like values (two decimals), near-ties at scales 0-4, uniform
    * doubles, raw bit patterns and magnitudes around the guard. */
  private val randomDouble: Gen[Double] = Gen.frequency(
    3 -> Gen.choose(-100000000000L, 100000000000L).map(_ / 100.0),
    2 -> Gen.zip(Gen.choose(-10000000L, 10000000L), Gen.choose(0, 4))
      .map { case (n, k) => (n + 0.5) / math.pow(10, k) },
    2 -> Gen.choose(-1e6, 1e6),
    1 -> Gen.choose(Long.MinValue, Long.MaxValue).map(java.lang.Double.longBitsToDouble),
    1 -> Gen.choose(-1e13, 1e13))

  private def randomDoubles(n: Int, seed: Long): Seq[Double] =
    Gen.listOfN(n, randomDouble).pureApply(Gen.Parameters.default, Seed(seed))

  private lazy val doublesPath: String = {
    val values = edgeDoubles ++ randomDoubles(400, 7L).map(JDouble.valueOf)
    write("doubles", StructType(Seq(StructField("id", LongType, false),
      StructField("d", DoubleType, true))),
      values.zipWithIndex.map { case (d, i) => Row(i.toLong, d) })
  }

  private val castTargets =
    Seq((12, 2), (18, 2), (5, 2), (10, 0), (38, 6), (18, 18), (20, 4))

  test("double→decimal kernel is bit-equal to Spark's cast in every mode") {
    castTargets.foreach { case (p, s) =>
      def q(ids: Seq[Long])(sess: SparkSession): DataFrame = {
        val in = sess.read.parquet(doublesPath)
        (if (ids.isEmpty) in else in.filter(col("id").isin(ids: _*)))
          .select(col("id"), col("d").cast(s"decimal($p,$s)").as("v"))
      }
      // rows the non-ANSI cast maps to null from a non-null input run one
      // by one under ANSI: out-of-range values fail (with the same error
      // in both sessions), NaN and ±Inf stay null
      ref.conf.set("spark.sql.ansi.enabled", "false")
      val rows = ref.read.parquet(doublesPath)
        .select(col("id"), col("d").isNull, col("d").cast(s"decimal($p,$s)").isNull)
        .collect()
      val rejected = rows.filter(r => !r.getBoolean(1) && r.getBoolean(2)).map(_.getLong(0))
      val accepted = rows.map(_.getLong(0)).filterNot(rejected.toSet)
      assert(rejected.nonEmpty && accepted.length > 20)
      inModes { ansi =>
        withClue(s"decimal($p,$s): ") {
          if (!ansi) {
            val (_, ks) = same(q(Nil))
            assert(ks == Set("ExactDoubleToDecimal"))
          } else {
            assert(same(q(accepted.toSeq))._1.isRight)
            val errs = quietTaskFailures(
              rejected.take(6).map(id => same(q(Seq(id)))._1))
            assert(errs.exists(_.isLeft), errs.mkString("; "))
          }
        }
      }
    }
  }

  test("property: a claimed cast equals Spark's cast, and price-like values are claimed") {
    // expression level, so many more doubles than a query would hold
    val doubles = randomDoubles(60000, 11L) ++ edgeDoubles.flatMap(Option(_)).map(_.doubleValue)
    castTargets.foreach { case (p, s) =>
      val cast = Cast(BoundReference(0, DoubleType, nullable = true),
        DecimalType(p, s), Some("UTC"), EvalMode.LEGACY)
      var claimed = 0
      doubles.foreach { d =>
        val fast = ExactDecimal.castDouble(d, p, s)
        if (fast != null) {
          claimed += 1
          val want = cast.eval(new GenericInternalRow(Array[Any](d)))
          assert(fast == want && fast.scale == s, s"d=$d decimal($p,$s)")
        }
      }
      assert(claimed > 0, s"decimal($p,$s) claimed nothing")
    }
    // two-decimal values inside the guard: every one takes the fast path
    val prices = randomDoubles(20000, 13L).map(d => math.rint(d * 100) / 100)
      .filter(d => math.abs(d) < 1e10)
    assert(prices.forall(ExactDecimal.castDouble(_, 12, 2) != null))
  }

  // -------------------------------------------------------- multiply

  private def dec(unscaled: BigInteger, s: Int) = new JBigDecimal(unscaled, s)

  /** Unscaled operands: zero, ±1, the type's maximum and minimum, values
    * whose product overflows a long, and seeded random ones. */
  private def unscaled(p: Int, seed: Long): Seq[BigInteger] = {
    val max = BigInteger.TEN.pow(p).subtract(BigInteger.ONE)
    val half = BigInteger.TEN.pow(p / 2)
    val rnd = new java.util.Random(seed)
    Seq(BigInteger.ZERO, BigInteger.ONE, BigInteger.ONE.negate(), max, max.negate(),
      half, half.negate(), half.add(BigInteger.ONE)) ++
      Seq.fill(60)(new BigInteger(64, rnd).mod(max.add(BigInteger.ONE))
        .multiply(BigInteger.valueOf(if (rnd.nextBoolean()) 1 else -1)))
  }

  test("decimal product kernel is bit-equal to Spark's multiply in every mode") {
    val pairs = Seq(((12, 2), (13, 2)), ((18, 2), (18, 6)), ((18, 9), (18, 9)),
      ((5, 2), (5, 2)), ((18, 0), (18, 0)), ((10, 10), (3, 0)))
    pairs.foreach { case ((p1, s1), (p2, s2)) =>
      val as = unscaled(p1, p1 * 31L + s1)
      val bs = unscaled(p2, p2 * 17L + s2)
      val rows = (for (a <- as; b <- bs.take(12)) yield (a, b)) ++ as.zip(bs.reverse)
      val path = write(s"mul_${p1}_${s1}_${p2}_$s2", StructType(Seq(
        StructField("id", LongType, false),
        StructField("a", DecimalType(p1, s1), true),
        StructField("b", DecimalType(p2, s2), true))),
        (rows.zipWithIndex.map { case ((a, b), i) =>
          Row(i.toLong, dec(a, s1), dec(b, s2)) } :+
          Row(-1L, null, dec(BigInteger.ONE, s2)) :+ Row(-2L, dec(BigInteger.ONE, s1), null)))
      inModes { _ =>
        withClue(s"decimal($p1,$s1) * decimal($p2,$s2): ") {
          val (want, ks) = same(_.read.parquet(path)
            .select(col("id"), (col("a") * col("b")).as("v")))
          assert(want.isRight && ks == Set("ExactDecimalMultiply"))
        }
      }
    }
  }

  // ------------------------------------------------------------- sum

  test("limb sum is bit-equal to Spark's sum, including all-null and empty groups") {
    Seq((18, 2), (9, 0), (18, 18), (12, 4)).foreach { case (p, s) =>
      val max = BigInteger.TEN.pow(p).subtract(BigInteger.ONE)
      val rnd = new java.util.Random(p * 7L + s)
      def v(u: BigInteger) = dec(u, s)
      val groups: Seq[(Int, JBigDecimal)] =
        Seq((0, v(BigInteger.valueOf(12345))), (0, v(BigInteger.valueOf(-7))),
          (1, null), (1, null), (1, null)) ++
        Seq.fill(40)((2, v(max))) ++ Seq.fill(40)((3, v(max.negate()))) ++
        (1 to 20).flatMap(i => Seq((4, v(max)), (4, v(max.negate().add(BigInteger.valueOf(i)))))) ++
        Seq((5, v(BigInteger.ONE)), (6, null), (6, v(BigInteger.TEN.negate())), (6, null)) ++
        (1 to 300).map(i => (7 + i % 5, v(new BigInteger(62, rnd).mod(max.add(BigInteger.ONE))
          .multiply(BigInteger.valueOf(if (rnd.nextBoolean()) 1 else -1)))))
      val path = write(s"sum_${p}_$s", StructType(Seq(
        StructField("g", IntegerType, false), StructField("v", DecimalType(p, s), true))),
        groups.map { case (g, x) => Row(g, x) })
      inModes { _ =>
        withClue(s"sum(decimal($p,$s)): ") {
          val grouped = same(_.read.parquet(path).groupBy("g")
            .agg(sum("v").as("s"), count(lit(1)).as("n")))
          assert(grouped._1.isRight && grouped._2 == Set("ExactDecimalSum"))
          Seq[SparkSession => DataFrame](
            _.read.parquet(path).agg(sum("v")),
            _.read.parquet(path).filter(col("g") === -1).agg(sum("v")),
            _.read.parquet(path).filter(col("g") === 1).agg(sum("v"))
          ).foreach { q =>
            val (want, ks) = same(q)
            assert(want.isRight && ks == Set("ExactDecimalSum"))
          }
          // shapes the rule leaves to Spark: still equal, no limb sum
          Seq[SparkSession => DataFrame](
            _.read.parquet(path).select(col("g"),
              sum("v").over(Window.partitionBy("g")).as("w")),
            _.read.parquet(path).groupBy("g").agg(sum_distinct(col("v"))),
            _.read.parquet(path).groupBy("g").agg(try_sum(col("v"))),
            _.read.parquet(path).groupBy("g").agg(expr("sum(v) FILTER (WHERE g > 2)"))
          ).foreach(q => assert(!same(q)._2.contains("ExactDecimalSum")))
        }
      }
    }
  }
}
