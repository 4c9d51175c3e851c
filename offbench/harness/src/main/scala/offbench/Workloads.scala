package offbench

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.orchestrate.OffloadRunner
import graft.orchestrate.OffloadRunner.{OffloadConfig, StepResult}
import graft.verify.CrossValidator

/** What a workload shares with the run: the session, the generated inputs,
  * a scratch directory for workspaces, the record buffer and the listener
  * used on traced operations. */
final class Ctx(val spark: SparkSession, val dataDir: Path, val workDir: Path,
                val records: Records, val trace: Boolean) {
  private val listener = new JobListener(records)
  private var nextOp = 0

  def newOpId(): Int = { nextOp += 1; nextOp }

  /** Traced and untraced offloads (or query passes) alternate, so one
    * traced run yields both the per-layer numbers and the overhead of
    * collecting them. */
  def traced(n: Int): Boolean = trace && n % 2 == 0

  /** Run `body` as one timed operation. A traced one has the listener
    * registered for exactly its duration; the bus is drained before the
    * listener leaves so every job of the operation is seen. */
  def timed[T](tr: Boolean)(body: => T): (Double, Double, Either[Throwable, T]) = {
    if (tr) spark.sparkContext.addSparkListener(listener)
    val t0 = Clock.nowMs
    val out = try Right(body) catch { case e: Exception => Left(e) }
    val t1 = Clock.nowMs
    if (tr) {
      org.apache.spark.graftbridge.ListenerBridge.waitUntilListenerBusEmpty(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
    }
    (t0, t1, out)
  }

  def span(opId: Int, name: String, layer: String, t0: Double, t1: Double): Unit =
    records.add("span", "op" -> opId, "name" -> name, "layer" -> layer, "t0" -> t0, "t1" -> t1)

  def source: String = dataDir.resolve("lineitem.parquet").toString
}

object Disk {
  /** (bytes, files) of the data files under `dir`, skipping hidden and
    * marker files (checksums, `_SUCCESS`). */
  def dataFiles(dir: Path): (Long, Int) = all(dir, f => !f.startsWith(".") && !f.startsWith("_"))

  def all(dir: Path, keep: String => Boolean = _ => true): (Long, Int) =
    if (!Files.exists(dir)) (0L, 0)
    else {
      val files = Files.walk(dir).filter(Files.isRegularFile(_))
        .filter(p => keep(p.getFileName.toString)).toArray.map(_.asInstanceOf[Path])
      (files.map(Files.size(_)).sum, files.length)
    }

  def delete(dir: Path): Unit =
    if (Files.exists(dir))
      Files.walk(dir).sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
}

trait Workload {
  /** Untimed preparation, which also warms the JVM up; timed as set-up. */
  def prepare(): Unit
  /** Run operations, one at a time, until `deadlineMs` passes. */
  def run(deadlineMs: Double): Unit
  def cleanup(): Unit = ()
}

/** Shared by the two offload workloads: one `OffloadRunner.offload` call as
  * a recorded operation, its returned steps as spans, and the landed
  * table's checks and on-disk footprint. */
abstract class OffloadWorkload(ctx: Ctx) extends Workload {
  import ctx.spark

  protected val ValueCols: Seq[String] = DataGen.lineitem(spark).columns.toSeq
  protected lazy val sourceDf: DataFrame = spark.read.parquet(ctx.source)
  protected lazy val sourceBytes: Long = Files.size(ctx.dataDir.resolve("lineitem.parquet"))
  protected lazy val sourceRows: Long = sourceDf.count()

  protected def shipBefore(date: java.time.LocalDate) =
    col("l_shipdate") < lit(date.toString).cast("timestamp_ntz")

  protected def config(ws: Path, cut: java.time.LocalDate, key: String,
                       progress: Option[StepResult => Unit]) = OffloadConfig(
    sourceTable = "lineitem",
    sourcePath = ctx.source,
    stagingPath = ws.resolve("staging").toString,
    finalPath = ws.resolve("final").toString,
    metadataDir = ws.resolve("meta").toString,
    predicateDsl = Some(s"(column(l_shipdate) < datetime($cut))"),
    incrementalKey = Seq(key),
    progress = progress)

  /** `CrossValidator`'s validation aggregate of `df`, computed and
    * collected once, so each check scans only the landed side. */
  protected def validationAgg(df: DataFrame, groupCols: Seq[String]): Seq[Row] =
    CrossValidator.aggFrame(df, groupCols, ValueCols).collect().toSeq

  /** `CrossValidator.aggValidate` of the landed rows against a source-side
    * aggregate from [[validationAgg]] (one ungrouped row). */
  protected def validate(expected: Row, landed: DataFrame): Option[String] = {
    val got = CrossValidator.aggFrame(landed, Nil, ValueCols)
    val want = spark.createDataFrame(java.util.List.of(expected), got.schema)
    if (CrossValidator.diff(want, got, Nil).isEmpty) None
    else Some("aggregate validation failed")
  }

  /** One offload as an operation; `check` inspects the landed table and
    * returns a failure message, if any, and the rows the table holds. */
  protected def offloadOp(name: String, ws: Path, cut: java.time.LocalDate, key: String)
                         (check: DataFrame => (Option[String], Long)): Unit = {
    val opId = ctx.newOpId()
    val traced = ctx.traced(opId)
    val steps = ArrayBuffer.empty[(Double, StepResult)]
    val progress =
      if (traced) Some((r: StepResult) => { steps += ((Clock.nowMs, r)); () }) else None
    val (t0, t1, out) = ctx.timed(traced)(
      OffloadRunner.offload(spark, config(ws, cut, key, progress)))
    steps.foreach { case (end, r) =>
      ctx.span(opId, r.name, "orchestrate", end - r.millis, end)
    }
    val (error, landedRows) = out match {
      case Left(e) => (Some(s"offload threw: ${e.getMessage}"), 0L)
      case Right(rs) if !rs.forall(_.ok) =>
        (Some("failed steps: " + rs.filterNot(_.ok).map(_.name).mkString(",")), 0L)
      case Right(_) =>
        try check(spark.read.parquet(ws.resolve("final").toString))
        catch { case e: Exception => (Some(s"check threw: ${e.getMessage}"), 0L) }
    }
    val (finalBytes, finalFiles) = Disk.dataFiles(ws.resolve("final"))
    val (stagingBytes, stagingFiles) = Disk.dataFiles(ws.resolve("staging"))
    val (metaBytes, metaFiles) = Disk.all(ws.resolve("meta"))
    ctx.records.add("op", "id" -> opId, "name" -> name, "t0" -> t0, "t1" -> t1,
      "traced" -> traced, "ok" -> error.isEmpty, "error" -> error,
      "rows_landed" -> landedRows,
      "slice_source_bytes" -> sourceBytes.toDouble * landedRows / sourceRows,
      "final_bytes" -> finalBytes, "final_files" -> finalFiles,
      "staging_bytes" -> stagingBytes, "staging_files" -> stagingFiles,
      "meta_bytes" -> metaBytes, "meta_files" -> metaFiles)
  }
}

/** A full offload of one seeded `lineitem` slice per operation, each into a
  * fresh workspace that is removed afterwards. */
final class BulkOffload(ctx: Ctx, seed: Long) extends OffloadWorkload(ctx) {
  // the last 120 days of ship dates, so every slice holds 95-100% of rows
  private val cut = DataGen.FirstShipDate
    .plusDays(DataGen.ShipDays - 120 + new scala.util.Random(seed).nextInt(120))
  private lazy val expected = validationAgg(sourceDf.filter(shipBefore(cut)), Nil).head
  private var n = 0

  def prepare(): Unit = {
    ctx.records.add("input", "cut" -> cut.toString, "source_rows" -> sourceRows,
      "slice_rows" -> expected.getAs[Long]("row_count"))
    one("warmup")
  }

  private def one(name: String): Unit = {
    n += 1
    val ws = ctx.workDir.resolve(s"bulk$n")
    try offloadOp(name, ws, cut, "l_orderkey") { landed =>
      (validate(expected, landed), expected.getAs[Long]("row_count"))
    }
    finally Disk.delete(ws)
  }

  def run(deadlineMs: Double): Unit =
    while (Clock.nowMs < deadlineMs) one("offload")
}

/** A base offload up to a seeded month, then one appended month per
  * operation: the range-partitioned incremental append with `l_shipdate` as
  * the incremental key. The workspace lives for the run, since each append
  * continues from the previous high-water mark. */
final class IncrementalAppend(ctx: Ctx, seed: Long) extends OffloadWorkload(ctx) {
  private val start = java.time.LocalDate.of(1995, 3, 1)
    .plusMonths(new scala.util.Random(seed).nextInt(12))
  private val lastCut = java.time.LocalDate.of(2001, 12, 1)
  private val WarmupAppends = 15
  private val ws = ctx.workDir.resolve("incremental")
  private var cut = start

  /** The cut that ends each month, with the validation aggregate of the
    * month's source rows, the rows shipped before the cut and the month's
    * last ship date (the high-water mark after an append up to the cut). */
  private lazy val months: Map[java.time.LocalDate, (Row, Long, String)] = {
    val rows = validationAgg(
      sourceDf.withColumn("month", trunc(col("l_shipdate").cast("date"), "month")),
      Seq("month")).sortBy(_.getDate(0).getTime)
    val before = rows.scanLeft(0L)(_ + _.getAs[Long]("row_count")).tail
    rows.zip(before).map { case (r, n) =>
      r.getDate(0).toLocalDate.plusMonths(1) ->
        (Row.fromSeq(r.toSeq.tail), n, String.valueOf(r.getAs[Any]("max_l_shipdate")))
    }.toMap
  }

  def prepare(): Unit = {
    ctx.records.add("input", "start" -> start.toString, "source_rows" -> sourceRows)
    Disk.delete(ws)
    append("base", DataGen.FirstShipDate)
    // appends keep getting faster for their first ~20 calls (JIT)
    (1 to WarmupAppends).foreach(_ => append("warmup", cut.minusMonths(1)))
  }

  /** Offload up to the next cut; checks the landed rows since `from`, the
    * total row count and the high-water mark. */
  private def append(name: String, from: java.time.LocalDate): Unit = {
    val (_, rowsBefore, hwm) = months(cut)
    offloadOp(name, ws, cut, "l_shipdate") { landed =>
      val saved = graft.meta.MetadataStore.load(ws.resolve("meta").toString, "lineitem")
        .map(_.incrementalHighValue).getOrElse(Nil)
      val total = landed.count()
      val error =
        if (saved != Seq(hwm)) Some(s"HWM ${saved.mkString(",")} after $cut, expected $hwm")
        else if (total != rowsBefore) Some(s"landed $total rows before $cut, source has $rowsBefore")
        // set-up appends are checked by HWM and row count only, to keep
        // set-up short; every timed append is validated in full
        else if (name != "append") None
        else validate(months(cut)._1, landed.filter(!shipBefore(from) && shipBefore(cut)))
      (error, total)
    }
    cut = cut.plusMonths(1)
  }

  def run(deadlineMs: Double): Unit =
    while (Clock.nowMs < deadlineMs && !cut.isAfter(lastCut)) append("append", cut.minusMonths(1))

  override def cleanup(): Unit = Disk.delete(ws)
}

/** Passes over a fixed list of read-only declared queries, each run through
  * the same action as the engine's own bench (an `xxhash64` struct hash
  * folded with `bit_xor`) and split into build, plan and execute phases.
  * The seed shuffles the order of each pass. */
final class QueryMix(ctx: Ctx, seed: Long, names: Seq[String]) extends Workload {
  import ctx.spark

  private val rnd = new scala.util.Random(seed)
  private val WarmupPasses = 5
  private var pass = 0

  /** A cold pass that builds the engine's artifact caches, then warm-up
    * passes: passes keep getting faster for their first few (JIT). */
  def prepare(): Unit = {
    onePass("cold")
    (1 to WarmupPasses).foreach(_ => onePass("warmup"))
  }

  private def onePass(kind: String): Unit = {
    pass += 1
    val t0 = Clock.nowMs
    rnd.shuffle(names).foreach(one(_, kind))
    ctx.records.add("pass", "pass" -> pass, "pass_kind" -> kind, "t0" -> t0, "t1" -> Clock.nowMs)
  }

  private def one(name: String, kind: String): Unit = {
    val opId = ctx.newOpId()
    val traced = ctx.traced(pass)
    var phases = Seq.empty[Double]
    val (t0, t1, out) = ctx.timed(traced) {
      val a = Clock.nowMs
      val df = graft.SparkEntry.queries(name)(spark, ctx.dataDir.toString)
      val b = Clock.nowMs
      val act = df.select(xxhash64(struct(df.columns.map(col): _*)).as("h"))
        .agg(expr("bit_xor(h)"))
      act.queryExecution.executedPlan
      val c = Clock.nowMs
      val row = act.collect().head
      phases = Seq(a, b, c, Clock.nowMs)
      if (row.isNullAt(0)) "null" else row.getLong(0).toString
    }
    if (traced && phases.nonEmpty)
      Seq("build", "plan", "exec").zip(phases.zip(phases.tail)).foreach {
        case (p, (a, b)) => ctx.span(opId, p, "queries", a, b)
      }
    ctx.records.add("op", "id" -> opId, "name" -> name, "pass" -> pass, "pass_kind" -> kind,
      "t0" -> t0, "t1" -> t1, "traced" -> traced, "ok" -> out.isRight,
      "error" -> out.left.toOption.map(e => s"query threw: ${e.getMessage}"),
      "digest" -> out.toOption)
  }

  def run(deadlineMs: Double): Unit =
    while (Clock.nowMs < deadlineMs) onePass("warm")
}
