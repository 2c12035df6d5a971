package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._

/** Engine-level counters from Spark's own task metrics, collected by a
  * listener the benchmark registers on traced runs.
  */
class SparkStats extends SparkListener {
  var jobs = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var fetchWaitMs = 0L
  var spill = 0L
  val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
      e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Max / median task time of the stage with the most task time. */
  def taskSkew: Double = synchronized {
    if (stageTaskMs.isEmpty) 1.0
    else {
      val ts = stageTaskMs.values.maxBy(_.sum).sorted
      ts.last.toDouble / math.max(1L, ts(ts.size / 2)).toDouble
    }
  }

  /** Metrics per pass; `wallS` is the wall time the counters cover. */
  def metrics(passes: Int, slots: Int, wallS: Double): Seq[(String, Double, String)] =
    synchronized {
      val p = math.max(1, passes).toDouble
      val mb = 1024.0 * 1024.0
      Seq(
        ("spark.jobs", jobs / p, "count"),
        ("spark.tasks", tasks / p, "count"),
        ("spark.run_s", runMs / 1e3 / p, "s"),
        ("spark.cpu_s", cpuNs / 1e9 / p, "s"),
        ("spark.gc_s", gcMs / 1e3 / p, "s"),
        ("spark.shuffle_write_mb", shuffleWrite / mb / p, "MB"),
        ("spark.shuffle_read_mb", shuffleRead / mb / p, "MB"),
        ("spark.fetch_wait_s", fetchWaitMs / 1e3 / p, "s"),
        ("spark.spill_mb", spill / mb / p, "MB"),
        ("spark.task_skew", taskSkew, "ratio"),
        ("spark.slot_busy", runMs / 1e3 / (slots * math.max(1e-9, wallS)), "ratio"))
    }
}
