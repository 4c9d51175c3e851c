package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.plan.{Boundary, SyntheticPartition}
import graft.predicate.OffloadPredicate
import graft.sink.StagedLoad
import graft.verify.CrossValidator

/** Queries over the GOE operator surface (SURVEY §2.1–§2.6), each with an
  * ANSI-SQL oracle the driver runs in DuckDB.
  *
  * Cross-engine determinism rules used throughout (these ARE the
  * engineering content of the oracle pairing):
  *  - double columns are aggregated through `DECIMAL` casts (exact
  *    arithmetic both sides) and only cast back to double at the end.
  *    The contract is served by exact long kernels
  *    (`graft.plans.ExactDecimalKernels`, installed by `Tables.load`):
  *    double→decimal casts, products of decimals of ≤ 18 digits and
  *    sums of them run on longs wherever the result provably equals
  *    Spark's BigDecimal path, and on that path everywhere else, so
  *    every result is Spark's bit for bit;
  *  - raw doubles are only emitted un-aggregated (min/max/value — bitwise
  *    identical on both engines);
  *  - timestamps cross the boundary as formatted strings when the engines'
  *    physical precision differs (DuckDB reads `events.ts` as ns, Spark as
  *    µs);
  *  - never ship a DECIMAL-typed OUTPUT column: the driver hashes
  *    stringified values, and a decimal parquet readback renders
  *    trailing-zero cents (`205941.60`) where the oracle's float64 fetch
  *    gives `205941.6` (q50, round 3). Keep decimal casts internal and cast
  *    the comparison surface to DOUBLE on BOTH sides;
  *  - every query has a total ORDER BY with unique tiebreaks.
  */
object GoeQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** SUM over an exact decimal cast, returned as double. */
  private def dsum(c: Column): Column =
    sum(c.cast("decimal(18,2)")).cast("double")

  private val dsumSql: String => String =
    c => s"CAST(SUM(CAST($c AS DECIMAL(18,2))) AS DOUBLE)"

  // --------------------------------------------------------------- queries

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_pricing_summary" -> { (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") < lit("1998-09-03").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          sum(col("l_extendedprice").cast("decimal(12,2)") *
              (lit(1).cast("decimal(12,2)") - col("l_discount").cast("decimal(12,2)")))
            .cast("double").as("sum_disc_price"),
          sum(col("l_extendedprice").cast("decimal(12,2)") *
              (lit(1).cast("decimal(12,2)") - col("l_discount").cast("decimal(12,2)")) *
              (lit(1).cast("decimal(12,2)") + col("l_tax").cast("decimal(12,2)")))
            .cast("double").as("sum_charge"),
          (sum(col("l_quantity").cast("decimal(18,2)")).cast("double") /
            count(lit(1))).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },

    "q02_predicate_dsl" -> { (s, dir) =>
      val dsl = "(column(l_shipdate) < datetime(1997-01-01)) AND " +
        "(column(l_returnflag) IN (string(\"R\"), string(\"A\")))"
      t(s, dir, "lineitem")
        .filter(OffloadPredicate.columnOf(dsl))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
        .orderBy(col("l_returnflag"))
    },

    "q03_join_broadcast" -> { (s, dir) =>
      val o = t(s, dir, "orders")
      val c = broadcast(t(s, dir, "customer"))
      o.join(c, o("o_custkey") === c("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(
          count(lit(1)).as("n_orders"),
          dsum(col("o_totalprice")).as("revenue"),
          countDistinct(col("c_custkey")).as("n_customers"))
        .orderBy(col("c_mktsegment"))
    },

    "q04_multi_join" -> { (s, dir) =>
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val sup = broadcast(t(s, dir, "supplier"))
      val n = broadcast(t(s, dir, "nation"))
      val r = broadcast(t(s, dir, "region"))
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(sup, col("l_suppkey") === col("s_suppkey") &&
                   col("c_nationkey") === col("s_nationkey"))
        .join(n, col("s_nationkey") === col("n_nationkey"))
        .join(r, col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(
          sum(col("l_extendedprice").cast("decimal(12,2)") *
              (lit(1).cast("decimal(12,2)") - col("l_discount").cast("decimal(12,2)")))
            .cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("n_name"))
    },

    "q05_semi_join" -> { (s, dir) =>
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders").filter(col("o_totalprice") > 100000.0)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_customers"))
        .orderBy(col("c_mktsegment"))
    },

    "q06_anti_join" -> { (s, dir) =>
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders").filter(col("o_totalprice") > 300000.0)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_customers"))
        .orderBy(col("c_nationkey"))
    },

    "q07_window_topk" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("o_custkey"), col("rn"), col("o_orderkey"),
                col("o_totalprice"))
        .orderBy(col("o_custkey"), col("rn"))
    },

    "q08_window_running" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("l_suppkey"))
        .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "lineitem")
        .filter(col("l_suppkey") <= 5)
        .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
          sum(col("l_quantity").cast("decimal(18,2)")).over(w)
            .cast("double").as("running_qty"))
        .orderBy(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"))
    },

    "q09_set_ops" -> { (s, dir) =>
      val custNations = t(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
      val suppNations = t(s, dir, "supplier").select(col("s_nationkey").as("nationkey"))
      val both = custNations.intersect(suppNations)
        .withColumn("which", lit("both"))
      val custOnly = custNations.distinct().except(suppNations)
        .withColumn("which", lit("cust_only"))
      both.unionByName(custOnly).orderBy(col("which"), col("nationkey"))
    },

    "q10_distinct_partitions" -> { (s, dir) =>
      t(s, dir, "lineitem")
        .select(SyntheticPartition.dateStringKey(col("l_shipdate"), "M")
          .as("part_month"))
        .distinct()
        .orderBy(col("part_month"))
    },

    "q11_agg_validate" -> { (s, dir) =>
      val li = t(s, dir, "lineitem").withColumn("part_month",
        SyntheticPartition.dateStringKey(col("l_shipdate"), "M"))
      CrossValidator.aggFrame(li, Seq("part_month"),
          Seq("l_quantity", "l_extendedprice", "l_orderkey"))
        .orderBy(col("part_month"))
    },

    "q12_count_validate" -> { (s, dir) =>
      Tables.names.map { n =>
        t(s, dir, n).agg(count(lit(1)).as("n_rows"))
          .withColumn("tbl", lit(n))
      }.reduce(_ unionByName _).select(col("tbl"), col("n_rows"))
        .orderBy(col("tbl"))
    },

    // VALIDATION DRILLDOWN with column attribution: a deterministic
    // target perturbation (+1 quantity on the orderkey%97 slice — the
    // injected-drift fixture pattern q129/q57 use) drives
    // CrossValidator.diffAttributed, which names WHICH aggregates
    // moved per group instead of only which groups differ — the
    // reference's failure report names offending columns, and at
    // 100 TB that's the difference between re-checking one column and
    // re-offloading a partition. Same one-shuffle aggregate + keyed
    // full-outer compare as q11.
    "q371_validate_drilldown" -> { (s, dir) =>
      val li = t(s, dir, "lineitem")
      val target = li.withColumn("l_quantity",
        when(pmod(col("l_orderkey"), lit(97)) === 0,
          col("l_quantity") + 1.0d).otherwise(col("l_quantity")))
      val g = Seq("l_returnflag")
      val vals = Seq("l_quantity", "l_extendedprice")
      CrossValidator.diffAttributed(
          CrossValidator.aggFrame(li, g, vals),
          CrossValidator.aggFrame(target, g, vals), g)
        .select(col("l_returnflag"), col("mismatched_cols"),
          col("l_row_count"), col("r_row_count"),
          col("l_min_l_quantity"), col("r_min_l_quantity"),
          col("l_max_l_quantity"), col("r_max_l_quantity"))
        .orderBy(col("l_returnflag"))
    },

    "q13_boundary_hwm" -> { (s, dir) =>
      val bounds = Seq[Boundary.Bound](
        Boundary.Value(java.sql.Timestamp.valueOf("1997-06-30 00:00:00")),
        Boundary.Value(3000000L))
      t(s, dir, "lineitem")
        .filter(Boundary.greaterThan(Seq("l_shipdate", "l_orderkey"), bounds))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
        .orderBy(col("l_returnflag"))
    },

    "q14_synth_part_date" -> { (s, dir) =>
      t(s, dir, "orders")
        .groupBy(SyntheticPartition.dateStringKey(col("o_orderdate"), "M")
          .as("goe_part_m_o_orderdate"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
        .orderBy(col("goe_part_m_o_orderdate"))
    },

    "q15_synth_part_range" -> { (s, dir) =>
      t(s, dir, "orders")
        .groupBy(SyntheticPartition.numericRangeKey(col("o_totalprice"), 50000L)
          .as("goe_part_50000_o_totalprice"))
        .agg(count(lit(1)).as("n"),
             min(col("o_totalprice")).as("min_price"),
             max(col("o_totalprice")).as("max_price"))
        .orderBy(col("goe_part_50000_o_totalprice"))
    },

    "q16_synth_part_string" -> { (s, dir) =>
      t(s, dir, "part")
        .groupBy(SyntheticPartition.stringPrefixKey(col("p_type"), 4)
          .as("goe_part_4_p_type"))
        .agg(count(lit(1)).as("n"),
             countDistinct(col("p_brand")).as("n_brands"))
        .orderBy(col("goe_part_4_p_type"))
    },

    "q17_transform_columns" -> { (s, dir) =>
      import StagedLoad.Transform
      val transformed = StagedLoad.applyTransforms(
        t(s, dir, "part").filter(col("p_partkey") < 500),
        Map(
          "p_brand" -> Transform.Translate("#", "_"),
          "p_type" -> Transform.RegexpReplace("[aeiou]", "*"),
          "p_retailprice" -> Transform.Null,
          "p_size" -> Transform.Suppress))
      transformed
        .select(col("p_partkey"), col("p_brand"), col("p_type"),
                col("p_retailprice"))
        .orderBy(col("p_partkey"))
    },

    // try_cast probes route through SafeCasts: TRY-mode cast throws and
    // catches a JVM exception per FAILING row (~13 µs), and these probes
    // fail on ~every row by design — the guarded forms are bit-identical
    // (SafeCastsSpec) and exception-free. q18 at sf0.1: 4.8 s → sub-second.
    "q18_cast_safety" -> { (s, dir) =>
      import graft.functions.SafeCasts
      val o = t(s, dir, "orders")
      o.select(
          col("o_orderkey"),
          SafeCasts.tryStringToInt(col("o_orderpriority"))
            .as("prio_as_int"),
          SafeCasts.tryStringToInt(substring(col("o_orderpriority"), 1, 1))
            .as("prio_digit"),
          SafeCasts.tryNarrowDecimalSameScale(
            col("o_totalprice").cast("decimal(12,2)"), 5, 2)
            .as("price_narrow"))
        .agg(
          count(lit(1)).as("n"),
          count(col("prio_as_int")).as("castable_full"),
          count(col("prio_digit")).as("castable_digit"),
          count(col("price_narrow")).as("castable_narrow"))
    },

    "q19_sampling_stats" -> { (s, dir) =>
      val li = t(s, dir, "lineitem")
      def digits(c: String): Column =
        length(floor(abs(col(c))).cast("long").cast("string"))
      def scaleOf(c: String): Column = {
        val d6 = col(c).cast("decimal(18,6)")
        val candidates = (0 to 6).map { sc =>
          when(d6 === d6.cast(s"decimal(18,$sc)").cast("decimal(18,6)"), lit(sc))
        }
        coalesce(least(candidates: _*), lit(6))
      }
      li.agg(
        max(digits("l_quantity")).as("qty_digits"),
        max(scaleOf("l_quantity")).as("qty_scale"),
        max(digits("l_extendedprice")).as("price_digits"),
        max(scaleOf("l_extendedprice")).as("price_scale"),
        max(digits("l_discount")).as("disc_digits"),
        max(scaleOf("l_discount")).as("disc_scale"))
    },

    "q20_hwm_probe" -> { (s, dir) =>
      t(s, dir, "lineitem").agg(
        date_format(max(col("l_shipdate")), "yyyy-MM-dd HH:mm:ss").as("hwm_shipdate"),
        max(col("l_orderkey")).as("hwm_orderkey"),
        count(lit(1)).as("n_rows"))
    },

    // Cumulative chunk plan over the partition catalog — per-group (year
    // prefix) running sums + a broadcast running offset, never an
    // unpartitioned window: the same plan holds on a 100k-partition
    // catalog (CumulativeChunksSpec proves equality at that scale).
    "q21_chunk_plan" -> { (s, dir) =>
      val parts = t(s, dir, "lineitem")
        .groupBy(SyntheticPartition.dateStringKey(col("l_shipdate"), "M")
          .as("part_month"))
        .agg(count(lit(1)).as("n_rows"))
      graft.plan.CumulativeChunks.plan(parts, "part_month", "n_rows", 20000L)
        .orderBy(col("part_month"))
    },

    "q22_bucket_split" -> { (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(SyntheticPartition.modBucketKey(col("l_orderkey"), 16)
          .as("bucket"))
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
        .orderBy(col("bucket"))
    },

    "q23_events_tumbling" -> { (s, dir) =>
      graft.streaming.Events.tumblingCounts(t(s, dir, "events"))
        .select(
          date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
          col("event_type"), col("n"),
          col("sum_value").cast("double").as("sum_value"))
        .orderBy(col("window_start"), col("event_type"))
    },

    "q24_sessionize" -> { (s, dir) =>
      graft.streaming.Events.sessionizeBatch(t(s, dir, "events"))
        .select(col("user_id"), col("session_idx"), col("n_events"),
          date_format(col("session_start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
          date_format(col("session_end"), "yyyy-MM-dd HH:mm:ss").as("session_end"))
        .orderBy(col("user_id"), col("session_idx"))
    },

    "q25_stream_dedup" -> { (s, dir) =>
      graft.streaming.Events.dedupEvents(t(s, dir, "events"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
             countDistinct(col("user_id")).as("n_users"),
             sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
        .orderBy(col("event_type"))
    },

    // Interval join (click→purchase attribution): same-user clicks in the
    // 30-min lookback before each purchase, aggregated per purchase. The
    // pair operator runs identically as a Structured Streaming
    // stream-stream join (batch≡stream spec in EventsSpec).
    "q68_interval_join" -> { (s, dir) =>
      val ev = t(s, dir, "events")
      graft.streaming.Events.attributionPairs(
          ev.filter(col("event_type") === "purchase"),
          ev.filter(col("event_type") === "click"), lookbackMinutes = 30)
        .groupBy(col("purchase_id"))
        .agg(count(lit(1)).as("n_clicks"),
          max(col("click_id")).as("last_click_id"),
          sum(col("click_value").cast("decimal(18,2)")).cast("double")
            .as("sum_click_value"))
        .orderBy(col("purchase_id"))
    })

  // --------------------------------------------------------------- oracles

  private val discPriceSql =
    "CAST(l_extendedprice AS DECIMAL(12,2)) * " +
    "(CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))"
  private val chargeSql = discPriceSql +
    " * (CAST(1 AS DECIMAL(12,2)) + CAST(l_tax AS DECIMAL(12,2)))"

  private val q02Sql: String = {
    val dsl = "(column(l_shipdate) < datetime(1997-01-01)) AND " +
      "(column(l_returnflag) IN (string(\"R\"), string(\"A\")))"
    val where = OffloadPredicate.toSql(OffloadPredicate.parseUnsafe(dsl))
    s"SELECT l_returnflag, COUNT(*) AS n, ${dsumSql("l_quantity")} AS sum_qty " +
      s"FROM lineitem WHERE $where GROUP BY l_returnflag ORDER BY l_returnflag"
  }

  private val q13Sql: String = {
    val where = Boundary.Sql.greaterThan(
      Seq("l_shipdate", "l_orderkey"),
      Seq(Boundary.Value(java.sql.Timestamp.valueOf("1997-06-30 00:00:00")),
          Boundary.Value(3000000L)))
    s"SELECT l_returnflag, COUNT(*) AS n, ${dsumSql("l_quantity")} AS sum_qty " +
      s"FROM lineitem WHERE $where GROUP BY l_returnflag ORDER BY l_returnflag"
  }

  val oracles: Map[String, String] = Map(
    "q01_pricing_summary" ->
      s"""SELECT l_returnflag, l_linestatus,
         ${dsumSql("l_quantity")} AS sum_qty,
         ${dsumSql("l_extendedprice")} AS sum_base_price,
         CAST(SUM($discPriceSql) AS DOUBLE) AS sum_disc_price,
         CAST(SUM($chargeSql) AS DOUBLE) AS sum_charge,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
         COUNT(*) AS count_order
         FROM lineitem WHERE l_shipdate < TIMESTAMP '1998-09-03'
         GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""",

    "q02_predicate_dsl" -> q02Sql,

    "q03_join_broadcast" ->
      s"""SELECT c_mktsegment, COUNT(*) AS n_orders,
         ${dsumSql("o_totalprice")} AS revenue,
         COUNT(DISTINCT c_custkey) AS n_customers
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY c_mktsegment ORDER BY c_mktsegment""",

    "q04_multi_join" ->
      s"""SELECT n_name, CAST(SUM($discPriceSql) AS DOUBLE) AS revenue,
         COUNT(*) AS n_items
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY n_name ORDER BY n_name""",

    "q05_semi_join" ->
      """SELECT c_mktsegment, COUNT(*) AS n_customers FROM customer
         WHERE EXISTS (SELECT 1 FROM orders
                       WHERE o_custkey = c_custkey AND o_totalprice > 100000.0)
         GROUP BY c_mktsegment ORDER BY c_mktsegment""",

    "q06_anti_join" ->
      """SELECT c_nationkey, COUNT(*) AS n_customers FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders
                           WHERE o_custkey = c_custkey
                             AND o_totalprice > 300000.0)
         GROUP BY c_nationkey ORDER BY c_nationkey""",

    "q07_window_topk" ->
      """SELECT o_custkey, rn, o_orderkey, o_totalprice FROM (
           SELECT o_custkey, o_orderkey, o_totalprice,
                  ROW_NUMBER() OVER (PARTITION BY o_custkey
                    ORDER BY o_totalprice DESC, o_orderkey) AS rn
           FROM orders) x
         WHERE rn <= 3 ORDER BY o_custkey, rn""",

    "q08_window_running" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) OVER (
             PARTITION BY l_suppkey
             ORDER BY l_shipdate, l_orderkey, l_linenumber
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
             AS running_qty
         FROM lineitem WHERE l_suppkey <= 5
         ORDER BY l_suppkey, l_orderkey, l_linenumber""",

    "q09_set_ops" ->
      """SELECT nationkey, 'both' AS which FROM
           (SELECT c_nationkey AS nationkey FROM customer
            INTERSECT SELECT s_nationkey FROM supplier) a
         UNION ALL
         SELECT nationkey, 'cust_only' AS which FROM
           (SELECT DISTINCT c_nationkey AS nationkey FROM customer
            EXCEPT SELECT s_nationkey FROM supplier) b
         ORDER BY which, nationkey""",

    "q10_distinct_partitions" ->
      """SELECT DISTINCT strftime(l_shipdate, '%Y-%m') AS part_month
         FROM lineitem ORDER BY part_month""",

    "q11_agg_validate" ->
      """SELECT strftime(l_shipdate, '%Y-%m') AS part_month,
           COUNT(*) AS row_count,
           MIN(l_quantity) AS min_l_quantity,
           MAX(l_quantity) AS max_l_quantity,
           COUNT(l_quantity) AS count_l_quantity,
           MIN(l_extendedprice) AS min_l_extendedprice,
           MAX(l_extendedprice) AS max_l_extendedprice,
           COUNT(l_extendedprice) AS count_l_extendedprice,
           MIN(l_orderkey) AS min_l_orderkey,
           MAX(l_orderkey) AS max_l_orderkey,
           COUNT(l_orderkey) AS count_l_orderkey
         FROM lineitem GROUP BY 1 ORDER BY part_month""",

    "q12_count_validate" ->
      Tables.names.sorted.map(n =>
        s"SELECT '$n' AS tbl, COUNT(*) AS n_rows FROM $n")
        .mkString("", " UNION ALL ", " ORDER BY tbl"),

    "q371_validate_drilldown" -> {
      // mirror aggFrame's column order: row_count, then min/max/count
      // per value column — the attribution concat walks the same order
      val aggCols = "row_count" +: Seq("l_quantity", "l_extendedprice")
        .flatMap(c => Seq(s"min_$c", s"max_$c", s"count_$c"))
      def side(rel: String) =
        s"""SELECT l_returnflag, COUNT(*) AS row_count,
             MIN(l_quantity) AS min_l_quantity,
             MAX(l_quantity) AS max_l_quantity,
             COUNT(l_quantity) AS count_l_quantity,
             MIN(l_extendedprice) AS min_l_extendedprice,
             MAX(l_extendedprice) AS max_l_extendedprice,
             COUNT(l_extendedprice) AS count_l_extendedprice
           FROM $rel GROUP BY 1"""
      val tags = aggCols.map(c =>
        s"""CASE WHEN NOT (s.$c IS NOT DISTINCT FROM t.$c)
            THEN '$c' END""").mkString(",\n             ")
      val any = aggCols.map(c =>
        s"NOT (s.$c IS NOT DISTINCT FROM t.$c)").mkString(" OR ")
      s"""WITH pert AS (SELECT l_returnflag, l_extendedprice,
           CASE WHEN l_orderkey % 97 = 0 THEN l_quantity + 1.0
                ELSE l_quantity END AS l_quantity
         FROM lineitem),
         src AS (${side("lineitem")}),
         tgt AS (${side("pert")})
         SELECT s.l_returnflag,
           concat_ws(',',
             $tags) AS mismatched_cols,
           CAST(s.row_count AS BIGINT) AS l_row_count,
           CAST(t.row_count AS BIGINT) AS r_row_count,
           s.min_l_quantity AS l_min_l_quantity,
           t.min_l_quantity AS r_min_l_quantity,
           s.max_l_quantity AS l_max_l_quantity,
           t.max_l_quantity AS r_max_l_quantity
         FROM src s FULL JOIN tgt t USING (l_returnflag)
         WHERE $any
         ORDER BY s.l_returnflag"""
    },

    "q13_boundary_hwm" -> q13Sql,

    "q14_synth_part_date" ->
      s"""SELECT strftime(o_orderdate, '%Y-%m') AS goe_part_m_o_orderdate,
         COUNT(*) AS n, ${dsumSql("o_totalprice")} AS sum_price
         FROM orders GROUP BY 1 ORDER BY goe_part_m_o_orderdate""",

    "q15_synth_part_range" ->
      s"""SELECT ${SyntheticPartition.Sql.numericRangeKey("o_totalprice", 50000L)}
           AS goe_part_50000_o_totalprice,
         COUNT(*) AS n, MIN(o_totalprice) AS min_price,
         MAX(o_totalprice) AS max_price
         FROM orders GROUP BY 1 ORDER BY goe_part_50000_o_totalprice""",

    "q16_synth_part_string" ->
      s"""SELECT ${SyntheticPartition.Sql.stringPrefixKey("p_type", 4)}
           AS goe_part_4_p_type,
         COUNT(*) AS n, COUNT(DISTINCT p_brand) AS n_brands
         FROM part GROUP BY 1 ORDER BY goe_part_4_p_type""",

    "q17_transform_columns" ->
      """SELECT p_partkey, translate(p_brand, '#', '_') AS p_brand,
           regexp_replace(p_type, '[aeiou]', '*', 'g') AS p_type,
           CAST(NULL AS DOUBLE) AS p_retailprice
         FROM part WHERE p_partkey < 500 ORDER BY p_partkey""",

    "q18_cast_safety" ->
      """SELECT COUNT(*) AS n,
           COUNT(TRY_CAST(o_orderpriority AS INT)) AS castable_full,
           COUNT(TRY_CAST(substr(o_orderpriority, 1, 1) AS INT)) AS castable_digit,
           COUNT(TRY_CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DECIMAL(5,2)))
             AS castable_narrow
         FROM orders""",

    "q19_sampling_stats" ->
      """SELECT
           MAX(length(CAST(CAST(FLOOR(ABS(l_quantity)) AS BIGINT) AS VARCHAR))) AS qty_digits,
           MAX(CASE WHEN CAST(l_quantity AS DECIMAL(18,6)) = CAST(CAST(l_quantity AS DECIMAL(18,0)) AS DECIMAL(18,6)) THEN 0
                WHEN CAST(l_quantity AS DECIMAL(18,6)) = CAST(CAST(l_quantity AS DECIMAL(18,1)) AS DECIMAL(18,6)) THEN 1
                WHEN CAST(l_quantity AS DECIMAL(18,6)) = CAST(CAST(l_quantity AS DECIMAL(18,2)) AS DECIMAL(18,6)) THEN 2
                WHEN CAST(l_quantity AS DECIMAL(18,6)) = CAST(CAST(l_quantity AS DECIMAL(18,3)) AS DECIMAL(18,6)) THEN 3
                WHEN CAST(l_quantity AS DECIMAL(18,6)) = CAST(CAST(l_quantity AS DECIMAL(18,4)) AS DECIMAL(18,6)) THEN 4
                WHEN CAST(l_quantity AS DECIMAL(18,6)) = CAST(CAST(l_quantity AS DECIMAL(18,5)) AS DECIMAL(18,6)) THEN 5
                ELSE 6 END) AS qty_scale,
           MAX(length(CAST(CAST(FLOOR(ABS(l_extendedprice)) AS BIGINT) AS VARCHAR))) AS price_digits,
           MAX(CASE WHEN CAST(l_extendedprice AS DECIMAL(18,6)) = CAST(CAST(l_extendedprice AS DECIMAL(18,0)) AS DECIMAL(18,6)) THEN 0
                WHEN CAST(l_extendedprice AS DECIMAL(18,6)) = CAST(CAST(l_extendedprice AS DECIMAL(18,1)) AS DECIMAL(18,6)) THEN 1
                WHEN CAST(l_extendedprice AS DECIMAL(18,6)) = CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(18,6)) THEN 2
                WHEN CAST(l_extendedprice AS DECIMAL(18,6)) = CAST(CAST(l_extendedprice AS DECIMAL(18,3)) AS DECIMAL(18,6)) THEN 3
                WHEN CAST(l_extendedprice AS DECIMAL(18,6)) = CAST(CAST(l_extendedprice AS DECIMAL(18,4)) AS DECIMAL(18,6)) THEN 4
                WHEN CAST(l_extendedprice AS DECIMAL(18,6)) = CAST(CAST(l_extendedprice AS DECIMAL(18,5)) AS DECIMAL(18,6)) THEN 5
                ELSE 6 END) AS price_scale,
           MAX(length(CAST(CAST(FLOOR(ABS(l_discount)) AS BIGINT) AS VARCHAR))) AS disc_digits,
           MAX(CASE WHEN CAST(l_discount AS DECIMAL(18,6)) = CAST(CAST(l_discount AS DECIMAL(18,0)) AS DECIMAL(18,6)) THEN 0
                WHEN CAST(l_discount AS DECIMAL(18,6)) = CAST(CAST(l_discount AS DECIMAL(18,1)) AS DECIMAL(18,6)) THEN 1
                WHEN CAST(l_discount AS DECIMAL(18,6)) = CAST(CAST(l_discount AS DECIMAL(18,2)) AS DECIMAL(18,6)) THEN 2
                WHEN CAST(l_discount AS DECIMAL(18,6)) = CAST(CAST(l_discount AS DECIMAL(18,3)) AS DECIMAL(18,6)) THEN 3
                WHEN CAST(l_discount AS DECIMAL(18,6)) = CAST(CAST(l_discount AS DECIMAL(18,4)) AS DECIMAL(18,6)) THEN 4
                WHEN CAST(l_discount AS DECIMAL(18,6)) = CAST(CAST(l_discount AS DECIMAL(18,5)) AS DECIMAL(18,6)) THEN 5
                ELSE 6 END) AS disc_scale
         FROM lineitem""",

    "q20_hwm_probe" ->
      """SELECT strftime(MAX(l_shipdate), '%Y-%m-%d %H:%M:%S') AS hwm_shipdate,
           MAX(l_orderkey) AS hwm_orderkey, COUNT(*) AS n_rows
         FROM lineitem""",

    "q21_chunk_plan" ->
      """SELECT part_month, n_rows,
           CAST(SUM(n_rows) OVER (ORDER BY part_month
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cum_rows,
           CAST(FLOOR((CAST(SUM(n_rows) OVER (ORDER BY part_month
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - 1)
             / 20000) AS BIGINT) AS chunk
         FROM (SELECT strftime(l_shipdate, '%Y-%m') AS part_month,
                      COUNT(*) AS n_rows
               FROM lineitem GROUP BY 1) p
         ORDER BY part_month""",

    "q22_bucket_split" ->
      s"""SELECT l_orderkey % 16 AS bucket, COUNT(*) AS n,
         ${dsumSql("l_quantity")} AS sum_qty
         FROM lineitem GROUP BY 1 ORDER BY bucket""",

    "q23_events_tumbling" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
           AS window_start,
           event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
         FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""",

    "q24_sessionize" ->
      s"""WITH ${SessionSql.cte("b", Seq("ts"))}
         SELECT user_id, session_idx, COUNT(*) AS n_events,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS session_end
         FROM b
         GROUP BY user_id, session_idx ORDER BY user_id, session_idx""",

    "q25_stream_dedup" ->
      """SELECT event_type, COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_users,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
         FROM (SELECT * FROM events QUALIFY ROW_NUMBER() OVER (
                 PARTITION BY event_id ORDER BY ts) = 1) d
         GROUP BY event_type ORDER BY event_type""",

    "q68_interval_join" ->
      """WITH p AS (SELECT user_id, event_id AS purchase_id, ts AS p_ts
           FROM events WHERE event_type = 'purchase'),
         c AS (SELECT user_id, event_id AS click_id, ts AS c_ts,
             value AS click_value
           FROM events WHERE event_type = 'click')
         SELECT purchase_id, COUNT(*) AS n_clicks,
           MAX(click_id) AS last_click_id,
           CAST(SUM(CAST(click_value AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_click_value
         FROM p JOIN c ON p.user_id = c.user_id
           AND c_ts < p_ts AND c_ts >= p_ts - INTERVAL 30 MINUTE
         GROUP BY purchase_id ORDER BY purchase_id""")
}
