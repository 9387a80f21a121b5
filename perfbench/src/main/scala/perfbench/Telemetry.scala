package perfbench

import org.apache.spark.scheduler._
import scala.jdk.CollectionConverters._

/** The `spark` layer seen from outside the engine: a listener the benchmark
  * registers for the traced phase only. Jobs are attributed to the query
  * phase that ran them through the job group the benchmark sets
  * (`<query>/build` or `<query>/exec`); each job and stage becomes a span
  * under that phase's span. */
final class Telemetry(rec: Record, phaseSpan: String => Int) extends SparkListener {
  private val jobGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val jobSpan = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobGroup.put(e.jobId, group)
    jobStart.put(e.jobId, e.time)
    jobSpan.put(e.jobId, rec.spans.reserve())
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    rec.synchronized {
      rec.inc("spark.jobs")
      if (group.endsWith("/build")) rec.inc("spark.jobs_in_build")
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val s = rec.spans
    s.fill(jobSpan.getOrDefault(e.jobId, -1), "job", "spark",
      phaseSpan(jobGroup.getOrDefault(e.jobId, "")),
      s.msOfEpoch(jobStart.getOrDefault(e.jobId, e.time).toDouble), s.msOfEpoch(e.time.toDouble))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    rec.synchronized(rec.inc("spark.stages"))
    for (t0 <- i.submissionTime; t1 <- i.completionTime) {
      val s = rec.spans
      s.add("stage", "spark", jobSpan.getOrDefault(stageJob.getOrDefault(i.stageId, -1), -1),
        s.msOfEpoch(t0.toDouble), s.msOfEpoch(t1.toDouble))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val wall = e.taskInfo.duration
    val in = m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead
    val out = m.outputMetrics.recordsWritten + m.shuffleWriteMetrics.recordsWritten
    rec.synchronized {
      rec.inc("spark.tasks")
      if (in + out > 0) rec.inc("spark.useful_tasks")
      rec.inc("spark.task_busy_s", m.executorRunTime / 1e3)
      rec.inc("spark.task_overhead_s", math.max(0L, wall - m.executorRunTime) / 1e3)
      rec.inc("spark.shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / 1048576.0)
      rec.inc("spark.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1048576.0)
      rec.inc("spark.spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / 1048576.0)
    }
  }
}

/** The `jvm` layer: collector time and old-generation collections, as
  * deltas between two snapshots. */
object Jvm {
  private def beans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala

  /** (total collection ms, old-generation collection count) so far. */
  def gc(): (Long, Long) =
    (beans.map(_.getCollectionTime).sum,
      beans.filter(b => b.getName.contains("Old") || b.getName.contains("Full"))
        .map(_.getCollectionCount).sum)

  /** Live heap in MB: used heap after a full collection, the least of
    * three. Spark's context cleaner releases shuffle and broadcast state
    * asynchronously once a collection has cleared their references, so
    * each collection follows a pause; a single reading still came out one
    * 16 MB heap region high in two of ten batch runs. */
  def liveHeapMb(): Double = (0 until 3).map { _ =>
    System.gc()
    Thread.sleep(500)
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }.min
}
