package offbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** One wall clock for every record: epoch milliseconds with sub-millisecond
  * resolution, on the same base as the listener's event times. */
object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

/** Records kept in memory during a run and written out once when it ends:
  * one JSON object per line. */
final class Records {
  private val lines = ArrayBuffer.empty[String]

  def add(kind: String, fields: (String, Any)*): Unit = synchronized {
    lines += Json.obj(("kind" -> kind) +: fields)
  }

  def writeTo(path: java.nio.file.Path): Unit = synchronized {
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}

/** Spark listener the benchmark registers around traced operations. Per job
  * it keeps the call site Spark attributes the job to, its stage and task
  * counts, the executor-side totals and every task's run interval; the
  * analysis assigns jobs to operations and layers from those. */
final class JobListener(records: Records) extends SparkListener {
  private final class Job(val id: Int, val t0: Long, val callSite: String, val stages: Int) {
    var tasks = 0
    var runMs = 0L
    var shuffleRead = 0L
    var shuffleWrite = 0L
    var spill = 0L
    var inputRecords = 0L
    val intervals = ArrayBuffer.empty[Seq[Long]]
  }
  private val jobs = scala.collection.mutable.Map.empty[Int, Job]
  private val jobOfStage = scala.collection.mutable.Map.empty[Int, Int]
  private val sqlSites = scala.collection.mutable.Map.empty[Long, String]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    // A SQL job belongs to the call site of its query's action, e.g.
    // "count at OffloadRunner.scala:354"; the query's own stages run from
    // an executor thread pool and carry no call site of their own. Other
    // jobs are named after their result stage's call site.
    val site = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => sqlSites.get(id.toLong))
      .getOrElse(if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name)
    jobs(e.jobId) = new Job(e.jobId, e.time, site, e.stageInfos.size)
    e.stageIds.foreach(s => jobOfStage(s) = e.jobId)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized { sqlSites(s.executionId) = s.description }
    case _ => ()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (jid <- jobOfStage.get(e.stageId); j <- jobs.get(jid)) {
      j.tasks += 1
      j.intervals += Seq(e.taskInfo.launchTime, e.taskInfo.finishTime)
      val m = e.taskMetrics
      if (m != null) {
        j.runMs += m.executorRunTime
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        j.inputRecords += m.inputMetrics.recordsRead
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.remove(e.jobId).foreach { j =>
      records.add("job", "job" -> j.id, "t0" -> j.t0.toDouble, "t1" -> e.time.toDouble,
        "callsite" -> j.callSite, "stages" -> j.stages, "tasks" -> j.tasks,
        "run_ms" -> j.runMs, "shuffle_read" -> j.shuffleRead,
        "shuffle_write" -> j.shuffleWrite, "spill" -> j.spill,
        "input_records" -> j.inputRecords, "intervals" -> j.intervals)
    }
  }
}
