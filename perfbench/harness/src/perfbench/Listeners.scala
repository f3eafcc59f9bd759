package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryProgress

/** Spark substrate counters per job group: jobs, stages, tasks, executor
  * time, GC, shuffle, spill and scan input. Streaming jobs carry their
  * query's run id as the group, so a run can be attributed to a phase. */
final class Substrate extends SparkListener {
  final class Agg {
    var jobs, stages, tasks, runMs, cpuNs, gcMs = 0L
    var shuffleWrite, shuffleRead, spill, inputBytes, inputRows = 0L
  }
  private val byGroup = mutable.Map.empty[String, Agg]
  private val stageGroup = mutable.Map.empty[Int, String]

  private def agg(g: String) = byGroup.getOrElseUpdate(g, new Agg)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    agg(g).jobs += 1
    e.stageIds.foreach(stageGroup(_) = g)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    agg(stageGroup.getOrElse(e.stageInfo.stageId, "")).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val a = agg(stageGroup.getOrElse(e.stageId, ""))
    a.tasks += 1
    if (m != null) {
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.shuffleRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.inputBytes += m.inputMetrics.bytesRead
      a.inputRows += m.inputMetrics.recordsRead
    }
  }

  /** Totals over the groups `keep` selects. */
  def totals(keep: String => Boolean): Map[String, Double] = synchronized {
    val gs = byGroup.collect { case (g, a) if keep(g) => a }
    def sum(f: Agg => Long) = gs.iterator.map(f).sum.toDouble
    val mb = 1024.0 * 1024.0
    Map(
      "jobs" -> sum(_.jobs), "stages" -> sum(_.stages), "tasks" -> sum(_.tasks),
      "task_s" -> sum(_.runMs) / 1e3, "cpu_s" -> sum(_.cpuNs) / 1e9, "gc_s" -> sum(_.gcMs) / 1e3,
      "shuffle_write_mb" -> sum(_.shuffleWrite) / mb, "shuffle_read_mb" -> sum(_.shuffleRead) / mb,
      "spill_mb" -> sum(_.spill) / mb, "input_mb" -> sum(_.inputBytes) / mb,
      "input_rows" -> sum(_.inputRows))
  }
}

/** Timings of a streaming progress report. */
object Progress {
  /** Trigger start in epoch milliseconds. */
  def startMs(p: StreamingQueryProgress): Long = java.time.Instant.parse(p.timestamp).toEpochMilli
  def durMs(p: StreamingQueryProgress, k: String): Long =
    Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
  /** Trigger end (commit) in epoch milliseconds. */
  def endMs(p: StreamingQueryProgress): Long = startMs(p) + durMs(p, "triggerExecution")
}
