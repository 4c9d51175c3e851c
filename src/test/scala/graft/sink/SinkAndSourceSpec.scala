package graft.sink

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.source.{JdbcSplit, Sampling}
import graft.types.{CanonicalColumn, CanonicalType}
import graft.verify.CrossValidator

class StagedLoadSpec extends SparkSpec {
  import spark.implicits._

  test("cast violations found for unsafe narrow mapping") {
    val staged = Seq("1", "2", "not_a_number").toDF("v")
    val schema = Seq(CanonicalColumn("v", CanonicalType.Integer4,
      safeMapping = false))
    val bad = StagedLoad.castViolations(staged, schema).collect()
    assert(bad.map(_.getString(0)).toSeq == Seq("not_a_number"))
  }

  test("not-null violations found") {
    val staged = Seq(Some("a"), None, Some("b")).toDF("v")
    val schema = Seq(CanonicalColumn("v", CanonicalType.VariableString,
      nullable = false))
    assert(StagedLoad.notNullViolations(staged, schema).count() == 1)
  }

  test("decimal overflow probe") {
    val staged = Seq(BigDecimal("999.99"), BigDecimal("1000.00"))
      .toDF("v")
    assert(StagedLoad.decimalOverflow(staged, "v", 5, 2).count() == 1)
  }

  test("nan policy maps NaN and infinities to null") {
    val df = Seq(1.0, Double.NaN, Double.PositiveInfinity,
      Double.NegativeInfinity).toDF("v")
    val out = df.select(StagedLoad.nanToNull(col("v")).as("v"))
    assert(out.filter(col("v").isNull).count() == 3)
  }

  test("stageAndLoad round-trips data through staging with partitioning") {
    val base = Files.createTempDirectory("graft_stage_spec").toString
    val src = graft.Tables.load(spark, sf("sf0.001"), "orders")
      .withColumn("part_m", date_format(col("o_orderdate"), "yyyy-MM"))
    val schema = graft.types.TypeMapper.fromStructType(src.schema)
    val out = StagedLoad.stageAndLoad(src, s"$base/staging", s"$base/final",
      schema, partitionCols = Seq("part_m"))
    assert(out.isRight)
    val loaded = spark.read.parquet(s"$base/final")
    assert(loaded.count() == src.count())
    // partition pruning works on the synthetic key
    val plan = loaded.filter(col("part_m") === "2023-01")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") || loaded.count() > 0)
  }

  private def stageOnly(df: org.apache.spark.sql.DataFrame,
      partitionCols: Seq[String] = Nil, sortCols: Seq[String] = Nil,
      hwmKeys: Seq[String] = Nil): (String, StagedLoad.Staged) = {
    val base = Files.createTempDirectory("graft_stage_obs").toString
    val out = StagedLoad.stageAndLoad(df, s"$base/staging", s"$base/final",
      graft.types.TypeMapper.fromStructType(df.schema), partitionCols,
      sortCols = sortCols, hwmKeys = hwmKeys)
    (s"$base/staging", out.toOption.get)
  }

  test("staging is re-read with exactly the schema parquet inference " +
      "returns, so dropping the inference job changes nothing") {
    val tpch = Seq("lineitem", "orders", "part")
      .map(t => graft.Tables.load(spark, sf("sf0.001"), t))
    // non-nullable primitives and array elements, TIMESTAMP_NTZ, decimal
    // and a partition column of the final write
    val mixed = Seq(
        (1L, java.time.LocalDateTime.of(2024, 1, 1, 0, 0),
          BigDecimal("12.345"), Seq(1, 2), "2024-01"),
        (2L, java.time.LocalDateTime.of(2024, 2, 1, 12, 30),
          BigDecimal("-0.5"), Seq(3), "2024-02"))
      .toDF("id", "ts_ntz", "amount", "tags", "part_m")
      .withColumn("amount", col("amount").cast("decimal(12,3)"))
    assert(mixed.schema("ts_ntz").dataType ==
      org.apache.spark.sql.types.TimestampNTZType)
    assert(!mixed.schema("id").nullable)
    (tpch.map(_ -> Nil) :+ (mixed -> Seq("part_m"))).foreach {
      case (df, parts) =>
        val (staging, _) = stageOnly(df, partitionCols = parts)
        assert(StagedLoad.readStaging(df, staging).schema ==
          spark.read.parquet(staging).schema)
    }
  }

  test("the staged count the final write observes equals a count of " +
      "the staging directory, partitioned and sorted") {
    val orders = graft.Tables.load(spark, sf("sf0.001"), "orders")
      .withColumn("part_m", date_format(col("o_orderdate"), "yyyy-MM"))
    val lineitem = graft.Tables.load(spark, sf("sf0.001"), "lineitem")
      .repartition(4)
    Seq(stageOnly(orders, partitionCols = Seq("part_m")),
        stageOnly(lineitem, sortCols = Seq("l_orderkey"))).foreach {
      case (staging, staged) =>
        assert(staged.rows > 0L)
        assert(staged.rows == spark.read.parquet(staging).count())
        assert(staged.hwm.isEmpty)
    }
  }

  test("the observed HWM equals CrossValidator.maxProbe over staging, " +
      "single and composite keys; an empty slice observes no max") {
    // l_shipdate is TIMESTAMP_NTZ: the composite key is (timestamp, long)
    val lineitem = graft.Tables.load(spark, sf("sf0.001"), "lineitem")
    Seq(Seq("l_orderkey"), Seq("l_shipdate", "l_orderkey")).foreach { keys =>
      val (staging, staged) = stageOnly(lineitem, hwmKeys = keys)
      val probed = CrossValidator.maxProbe(spark.read.parquet(staging), keys)
      assert(probed.nonEmpty)
      assert(staged.hwm == probed, keys)
      assert(staged.hwm.get.map(String.valueOf) ==
        probed.get.map(String.valueOf))
    }
    val (_, empty) = stageOnly(lineitem.filter(lit(false)),
      hwmKeys = Seq("l_shipdate", "l_orderkey"))
    assert(empty == StagedLoad.Staged(0L, None))
  }

  test("transforms: suppress drops, null nulls, translate/regexp rewrite") {
    import StagedLoad.Transform
    val df = Seq(("a#b", "hello", 1.0, 5)).toDF("t", "r", "p", "s")
    val out = StagedLoad.applyTransforms(df, Map(
      "t" -> Transform.Translate("#", "_"),
      "r" -> Transform.RegexpReplace("l+", "L"),
      "p" -> Transform.Null,
      "s" -> Transform.Suppress))
    assert(out.columns.toSeq == Seq("t", "r", "p"))
    val row = out.head()
    assert(row.getString(0) == "a_b")
    assert(row.getString(1) == "heLo")
    assert(row.isNullAt(2))
  }
}

class SamplingSpec extends SparkSpec {
  import spark.implicits._

  test("numeric profiling infers digits and scale") {
    val df = Seq(1.0, 12.5, 9999.25, 3.0).toDF("v")
    val p = Sampling.profileNumerics(df, Seq("v")).head
    assert(p.maxIntegralDigits == 4)
    assert(p.maxScale == 2)
    assert(!p.nullable)
  }

  test("profiles map to canonical integer sizes per reference rules") {
    import CanonicalType._
    assert(Sampling.toCanonical(
      Sampling.NumericProfile("c", 2, 0, false)).ctype == Integer1)
    assert(Sampling.toCanonical(
      Sampling.NumericProfile("c", 9, 0, false)).ctype == Integer4)
    assert(Sampling.toCanonical(
      Sampling.NumericProfile("c", 18, 0, false)).ctype == Integer8)
    assert(Sampling.toCanonical(
      Sampling.NumericProfile("c", 20, 0, false)).ctype == Integer38)
    val d = Sampling.toCanonical(Sampling.NumericProfile("c", 7, 2, true))
    assert(d.ctype == Decimal(Some(9), Some(2)))
    assert(!d.safeMapping && d.nullable)
  }

  test("sampled profile on real data finds price scale 2") {
    val li = graft.Tables.load(spark, sf("sf0.001"), "lineitem")
    val p = Sampling.profileNumerics(li, Seq("l_extendedprice", "l_discount"))
    assert(p.head.maxScale == 2)
    assert(p(1).maxScale <= 2)
  }
}

class JdbcSplitSpec extends SparkSpec {

  test("chooser prefers partition predicates, then id range, then single") {
    import JdbcSplit._
    assert(choose(10L, 100L, Nil, None, 8) == Single)
    assert(choose(1000L, 100L, Seq("p=1", "p=2"), None, 8) ==
      Predicates(Seq("p=1", "p=2")))
    assert(choose(1000L, 100L, Nil, Some(("id", 0L, 99L)), 8) ==
      IdRange("id", 0L, 99L, 8))
    assert(choose(1000L, 100L, Nil, Some(("id", 5L, 5L)), 8) ==
      ModHash("id", 8))
  }

  test("predicate cap ORs adjacent slices to stay under the limit") {
    val preds = (1 to 2500).map(i => s"p=$i")
    val capped = JdbcSplit.capPredicates(preds)
    assert(capped.length <= JdbcSplit.MaxSplits)
    assert(capped.head.startsWith("(p=1)"))
    // every original predicate survives somewhere
    assert(capped.map(_.split(" OR ").length).sum == 2500)
  }

  test("asOfScn wraps the table in a flashback subquery") {
    assert(JdbcSplit.asOfScn("s.t", 42L) ==
      "(SELECT * FROM s.t AS OF SCN 42) goe_snap")
  }
}

class CompactionSpec extends SparkSpec {

  test("compaction collapses small files, preserves data, swaps safely") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_compact").toString + "/t"
    // 64 tiny files
    (1 to 4096).map(i => (i.toLong, i * 1.5)).toDF("id", "v")
      .repartition(64).write.parquet(dir)
    val before = spark.read.parquet(dir)
    val sumBefore = before.agg(sum($"v")).head().getDouble(0)

    val res = Compaction.compact(spark, dir, targetBytes = 512L * 1024)
    assert(res.filesBefore == 64)
    assert(res.filesAfter < res.filesBefore)
    assert(res.rows == 4096L)

    val after = spark.read.parquet(dir)
    assert(after.count() == 4096L)
    assert(after.agg(sum($"v")).head().getDouble(0) == sumBefore)
    // no leftover temp/old dirs
    val parent = new java.io.File(dir).getParentFile
    assert(!parent.listFiles().exists(_.getName.contains("__compact")))
  }

  test("compaction preserves a hive-partitioned layout") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_compact_p").toString + "/t"
    (1 to 600).map(i => (i.toLong, s"g${i % 3}")).toDF("id", "g")
      .repartition(8).write.partitionBy("g").parquet(dir)
    val res = Compaction.compact(spark, dir, targetBytes = 1L << 30)
    assert(res.rows == 600L)
    // k=v directories survive, pruning still works
    val sub = new java.io.File(dir).listFiles().map(_.getName)
      .filter(_.startsWith("g=")).sorted
    assert(sub.sameElements(Array("g=g0", "g=g1", "g=g2")))
    val pruned = spark.read.parquet(dir).filter($"g" === "g1")
    assert(pruned.count() == 200L)
    assert(spark.read.parquet(dir).select("id").distinct().count() == 600L)
  }

  test("compaction with sort columns keeps in-file ordering") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_compact_s").toString + "/t"
    (1 to 1000).map(i => ((i * 7919) % 1000).toLong).toDF("k")
      .repartition(16).write.parquet(dir)
    Compaction.compact(spark, dir, targetBytes = 1L << 30,
      sortCols = Seq("k"))
    // single output file, globally sorted within it
    val vals = spark.read.parquet(dir).collect().map(_.getLong(0))
    assert(vals.length == 1000)
    // read order within one parquet file follows row order
    assert(vals.sameElements(vals.sorted))
  }
}

/** Live execution of the JDBC read path against an in-process Derby
  * database (the jars ship with Spark) — every split shape opens real
  * cursors and must reassemble the exact table. */
class JdbcSplitLiveSpec extends SparkSpec {

  private val NRows = 500
  private lazy val dbDir = {
    // quiet Derby's derby.log in the repo root
    System.setProperty("derby.stream.error.field",
      "java.lang.System.err")
    val dir = Files.createTempDirectory("graft_derby").toString
    val url = s"jdbc:derby:$dir/db;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.execute(
        "CREATE TABLE items (id BIGINT NOT NULL, grp INT NOT NULL, " +
          "amount DOUBLE NOT NULL)")
      st.close()
      val ps = conn.prepareStatement("INSERT INTO items VALUES (?, ?, ?)")
      (1 to NRows).foreach { i =>
        ps.setLong(1, i.toLong)
        ps.setInt(2, i % 7)
        ps.setDouble(3, i * 1.5)
        ps.addBatch()
      }
      ps.executeBatch()
      ps.close()
    } finally conn.close()
    dir
  }
  private def url = s"jdbc:derby:$dbDir/db"
  private val props = Map("driver" -> "org.apache.derby.jdbc.EmbeddedDriver")

  private val expectedSum = (1 to NRows).map(_ * 1.5).sum

  private def validate(df: org.apache.spark.sql.DataFrame): Unit = {
    val row = df.agg(count(lit(1)), sum(col("amount")),
      min(col("id")), max(col("id"))).head()
    assert(row.getLong(0) == NRows)
    assert(row.getDouble(1) == expectedSum)
    assert(row.getLong(2) == 1L && row.getLong(3) == NRows.toLong)
  }

  test("Single split reads the whole table through one cursor") {
    val df = JdbcSplit.read(spark, url, "items", JdbcSplit.Single, props)
    assert(df.rdd.getNumPartitions == 1)
    validate(df)
  }

  test("IdRange split stripes the numeric key across cursors") {
    val df = JdbcSplit.read(spark, url, "items",
      JdbcSplit.IdRange("id", 1L, NRows.toLong, 4), props)
    assert(df.rdd.getNumPartitions == 4)
    validate(df)
  }

  test("Predicates split (partition-branch analogue) reassembles exactly") {
    val preds = (0 until 7).map(g => s"grp = $g")
    val df = JdbcSplit.read(spark, url, "items",
      JdbcSplit.Predicates(preds), props)
    assert(df.rdd.getNumPartitions == 7)
    validate(df)
  }

  test("ModHash split buckets on the key and reassembles exactly") {
    val df = JdbcSplit.read(spark, url, "items",
      JdbcSplit.ModHash("id", 4), props)
    assert(df.rdd.getNumPartitions == 4)
    validate(df)
  }

  test("small-table query-import path reads a subquery alias") {
    val df = JdbcSplit.read(spark, url,
      "(SELECT id, amount FROM items WHERE grp = 3) AS q",
      JdbcSplit.Single, props)
    assert(df.count() == (1 to NRows).count(_ % 7 == 3))
  }

  test("sessionInitStatement runs once per split cursor (the Oracle " +
    "preset's per-session contract)") {
    // The Oracle preset's PL/SQL block can't run on Derby; prove the
    // MECHANISM with a Derby-valid init statement that leaves one row per
    // session, then count: 4 predicates → 4 cursors → 4 rows. Golden-shape
    // specs for the preset itself live in OracleSessionSpec.
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.execute("CREATE TABLE init_log (hit INT)")
      st.close()
    } finally conn.close()
    val preds = (0 until 4).map(g => s"grp = $g")
    val df = JdbcSplit.read(spark, url, "items",
      JdbcSplit.Predicates(preds),
      props + ("sessionInitStatement" -> "INSERT INTO init_log VALUES (1)"))
    df.count() // materialize: opens the 4 cursors
    val check = java.sql.DriverManager.getConnection(url)
    try {
      val rs = check.createStatement()
        .executeQuery("SELECT COUNT(*) FROM init_log")
      rs.next()
      assert(rs.getInt(1) == 4,
        s"expected 4 per-cursor init executions, got ${rs.getInt(1)}")
    } finally check.close()
  }

  test("preset read overload merges options under explicit props") {
    // End-to-end through the preset-shaped JdbcSplit.read: the preset's
    // sessionInitStatement is Oracle PL/SQL, which Derby rejects — so
    // override it through props (the documented precedence) and keep the
    // preset's fetchsize; the read must still reassemble the table.
    val df = JdbcSplit.read(spark, url, "items",
      JdbcSplit.IdRange("id", 1L, NRows.toLong, 4),
      graft.source.OracleSession.Preset(fetchSize = 100),
      props + ("sessionInitStatement" -> "VALUES 1"))
    assert(df.rdd.getNumPartitions == 4)
    validate(df)
  }
}

class CrossValidatorSpec extends SparkSpec {

  test("agg validation passes for identical frames, fails on mutation") {
    val a = graft.Tables.load(spark, sf("sf0.001"), "orders")
    val b = graft.Tables.load(spark, sf("sf0.001"), "orders")
    assert(CrossValidator.aggValidate(a, b, Seq("o_orderstatus"),
      Seq("o_totalprice", "o_custkey")))
    val mutated = b.withColumn("o_totalprice",
      when(col("o_orderstatus") === "O", col("o_totalprice") + 1)
        .otherwise(col("o_totalprice")))
    assert(!CrossValidator.aggValidate(a, mutated, Seq("o_orderstatus"),
      Seq("o_totalprice")))
  }

  test("diffAttributed names exactly the diverging aggregates and " +
      "returns the same groups as diff") {
    val a = graft.Tables.load(spark, sf("sf0.001"), "orders")
    val mutated = a.withColumn("o_totalprice",
      when(col("o_orderstatus") === "O", col("o_totalprice") + 1)
        .otherwise(col("o_totalprice")))
    val g = Seq("o_orderstatus")
    val vals = Seq("o_totalprice", "o_custkey")
    val la = CrossValidator.aggFrame(a, g, vals)
    val ra = CrossValidator.aggFrame(mutated, g, vals)
    val attributed = CrossValidator.diffAttributed(la, ra, g).collect()
    // only the "O" group diverges, only on the o_totalprice aggregates
    assert(attributed.map(_.getAs[String]("o_orderstatus")).toSeq ===
      Seq("O"))
    val cols = attributed.head.getAs[String]("mismatched_cols")
      .split(",").toSet
    assert(cols.nonEmpty)
    assert(cols.forall(_.contains("o_totalprice")))
    assert(!cols.exists(_.contains("o_custkey")))
    assert(!cols.contains("row_count"))
    assert(CrossValidator.diff(la, ra, g).count() ===
      attributed.length.toLong)
  }

  test("count validation with boundary filter") {
    val a = graft.Tables.load(spark, sf("sf0.001"), "orders")
    val (s, t) = CrossValidator.countValidate(a, a,
      Some(col("o_totalprice") > 1000.0))
    assert(s == t)
  }

  test("max probe returns the HWM vector") {
    val a = graft.Tables.load(spark, sf("sf0.001"), "orders")
    val probe = CrossValidator.maxProbe(a, Seq("o_orderkey", "o_custkey"))
    assert(probe.isDefined)
    assert(probe.get.head.asInstanceOf[Long] > 0L)
  }

  test("empty target yields no HWM") {
    val a = graft.Tables.load(spark, sf("sf0.001"), "orders")
      .filter(col("o_orderkey") < 0)
    assert(CrossValidator.maxProbe(a, Seq("o_orderkey")).isEmpty)
  }

  test("max probe is the lexicographic max TUPLE, not per-column maxes") {
    import spark.implicits._
    // per-column maxes would give (3, 9) — a row that does not exist; the
    // strictly-greater boundary on (3, 9) would then skip real row (3, 5)
    // forever.
    val df = Seq((1L, 9L), (3L, 5L), (2L, 7L)).toDF("k1", "k2")
    val probe = CrossValidator.maxProbe(df, Seq("k1", "k2"))
    assert(probe.contains(Seq(3L, 5L)))
  }
}
