package offbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: one process, one Spark session, one
  * closed-loop client. With `--generate` it writes the input tables.
  * Otherwise it prepares the workload, runs operations for the requested
  * time and writes every record to `--out` when it ends. `run.py` builds
  * this harness, launches it and turns the records into metrics.
  *
  * Usage: Main --generate <data dir> --scratch <dir>
  *        Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *             --data <data dir> --scratch <dir> --out <file>
  */
object Main {
  /** The read-only declared queries of the query mix. q340 reads the
    * engine's shared (part, year, channel) grain, an artifact the cold
    * pass builds and later passes reuse. */
  val MixQueries: Seq[String] = Seq(
    "q01_pricing_summary", "q11_agg_validate", "q371_validate_drilldown",
    "q340_promo_channel_share")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val scratch = Paths.get(opts("scratch"))
    val cpus = Runtime.getRuntime.availableProcessors.toString
    opts.get("generate") match {
      case Some(dir) =>
        val spark = session(cpus, scratch)
        try DataGen.write(spark, Paths.get(dir), DataGen.tables) finally spark.stop()
      case None => measure(opts, Paths.get(opts("data")), scratch, cpus)
    }
  }

  def measure(opts: Map[String, String], dataDir: Path, scratch: Path, cpus: String): Unit = {
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val records = new Records
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

    def phase[T](name: String)(body: => T): T = {
      val t0 = Clock.nowMs
      val out = body
      records.add("setup", "phase" -> name, "t0" -> t0, "t1" -> Clock.nowMs)
      out
    }

    records.add("setup", "phase" -> "jvm", "t0" -> jvmStart.toDouble, "t1" -> Clock.nowMs)
    val spark = phase("session")(session(cpus, scratch))
    val ctx = new Ctx(spark, dataDir, Files.createDirectories(scratch.resolve("work")),
      records, opts("trace") == "1")
    val wl: Workload = workload match {
      case "bulk_offload" => new BulkOffload(ctx, seed)
      case "incremental_append" => new IncrementalAppend(ctx, seed)
      case "query_mix" => new QueryMix(ctx, seed, MixQueries)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    phase("prepare")(wl.prepare())
    val t0 = Clock.nowMs
    wl.run(t0 + seconds * 1000)
    records.add("measure", "t0" -> t0, "t1" -> Clock.nowMs)
    wl.cleanup()
    records.add("env", "cpus" -> cpus.toInt, "peak_rss_kb" -> peakRssKb(),
      "spark_version" -> spark.version)
    spark.stop()
    records.writeTo(Paths.get(opts("out")))
  }

  /** The session `graft.Bench` opens, with every file it writes kept under
    * the run's scratch directory. */
  def session(cpus: String, scratch: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", scratch.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", scratch.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.tools.LogQuiet.quietNoise()
    spark
  }

  /** Peak resident set of this JVM (VmHWM), in kB; -1 off Linux. */
  def peakRssKb(): Long =
    try {
      val lines = Files.readAllLines(Paths.get("/proc/self/status"))
      lines.toArray.map(_.toString).find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toLong).getOrElse(-1L)
    } catch { case scala.util.control.NonFatal(_) => -1L }
}
