package offbench

import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic generator for the benchmark's input tables.
  *
  * The shapes follow the TPC-H-like test data the engine's declared queries
  * are written against (same table and column names and types, same value
  * domains and row counts as its sf0.1 set), so the queries and the offload
  * pipeline run unchanged on it. Every value is a hash of (column tag, row
  * id), so a table is the same bytes on every run, every machine and every
  * core count. Each table is written as one parquet file named
  * `<table>.parquet`, the layout the engine's `Tables.load` reads.
  */
object DataGen {

  val tables: Seq[String] = Seq("lineitem", "orders", "part")

  val LineitemRows = 600000L
  val OrderRows = 150000L
  val PartRows = 20000L

  /** Ship dates run from here for `ShipDays` days; the offloads cut inside. */
  val FirstShipDate = java.time.LocalDate.of(1995, 1, 2)
  val ShipDays = 2498 // through 2001-11-04

  /** Uniform in [0, n): a hash of the row id under a column tag. */
  private def below(tag: String, n: Long): Column = pmod(xxhash64(lit(tag), col("id")), lit(n))
  private def pick(tag: String, values: Seq[String]): Column =
    element_at(array(values.map(lit): _*), (below(tag, values.length) + 1).cast("int"))
  private def dayTs(first: java.time.LocalDate, tag: String, days: Int): Column =
    date_add(lit(first.toString).cast("date"), below(tag, days).cast("int"))
      .cast("timestamp_ntz")

  private def ids(spark: SparkSession, n: Long): DataFrame = spark.range(0, n, 1, 4).toDF()

  def lineitem(spark: SparkSession): DataFrame =
    ids(spark, LineitemRows).select(
      below("okey", OrderRows).as("l_orderkey"),
      below("pkey", PartRows).as("l_partkey"),
      below("skey", 1000).as("l_suppkey"),
      (below("line", 7) + 1).cast("int").as("l_linenumber"),
      (below("qty", 50) + 1).cast("double").as("l_quantity"),
      ((below("price", 10400000) + 90000) / 100.0).as("l_extendedprice"),
      (below("disc", 11) / 100.0).as("l_discount"),
      (below("tax", 9) / 100.0).as("l_tax"),
      pick("rflag", Seq("A", "N", "R")).as("l_returnflag"),
      pick("lstatus", Seq("F", "O")).as("l_linestatus"),
      dayTs(FirstShipDate, "ship", ShipDays).as("l_shipdate"))

  def orders(spark: SparkSession): DataFrame =
    ids(spark, OrderRows).select(
      col("id").as("o_orderkey"),
      below("ckey", 15000).as("o_custkey"),
      pick("ostatus", Seq("O", "F", "P")).as("o_orderstatus"),
      ((below("total", 50000000) + 100000) / 100.0).as("o_totalprice"),
      dayTs(java.time.LocalDate.of(1995, 1, 1), "odate", 2404).as("o_orderdate"),
      pick("prio", Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .as("o_orderpriority"))

  def part(spark: SparkSession): DataFrame =
    ids(spark, PartRows).select(
      col("id").as("p_partkey"),
      concat_ws(" ", pick("pname1", Seq("large", "small", "medium", "tiny")),
        pick("pname2", Seq("ring", "bolt", "gear", "valve", "spring"))).as("p_name"),
      concat(lit("Brand#"), (below("brand", 25) + 1).cast("string")).as("p_brand"),
      pick("ptype", Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"))
        .as("p_type"),
      (below("psize", 50) + 1).cast("int").as("p_size"),
      ((below("pprice", 1000) + 9000) / 10.0).as("p_retailprice"))

  def table(spark: SparkSession, name: String): DataFrame = name match {
    case "lineitem" => lineitem(spark)
    case "orders" => orders(spark)
    case "part" => part(spark)
  }

  /** Write each named table to `dir/<name>.parquet` as a single file. */
  def write(spark: SparkSession, dir: Path, names: Seq[String]): Unit = {
    Files.createDirectories(dir)
    names.foreach { name =>
      val tmp = dir.resolve(s".$name.tmp")
      table(spark, name).coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp).filter(_.getFileName.toString.endsWith(".parquet"))
        .findFirst().get()
      Files.move(part, dir.resolve(s"$name.parquet"), StandardCopyOption.REPLACE_EXISTING)
      Disk.delete(tmp)
    }
  }
}
