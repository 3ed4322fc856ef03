package perfbench

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler._

/** Layer spans read from Spark's public listener interfaces while a traced
  * phase is active. Jobs carry the job group their client thread set, so a
  * job, its stages and its tasks are attributed to the op that launched
  * them even when several clients run at once.
  *
  * All times are milliseconds relative to the run's epoch.
  */
final class Tracer(out: Out, epochMs: Long) extends SparkListener {
  private final case class JobInfo(group: String, start: Long, stages: Seq[Int])
  private val jobs = new ConcurrentHashMap[Int, JobInfo]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val stageSubmit = new ConcurrentHashMap[Int, java.lang.Long]()
  private val stageWait = new ConcurrentHashMap[Int, java.lang.Long]()

  @volatile var drained = false

  private def rel(t: Long): Long = t - epochMs

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val group = props.map(_.getProperty("spark.jobGroup.id")).orNull
    jobs.put(e.jobId, JobInfo(group, e.time, e.stageIds))
    if (group != null) e.stageIds.foreach(stageGroup.putIfAbsent(_, group))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val j = jobs.remove(e.jobId)
    if (j != null && j.group == "drain") drained = true
    else if (j != null)
      out.emit("job", "id" -> e.jobId, "group" -> j.group,
        "start" -> rel(j.start), "end" -> rel(e.time), "stages" -> j.stages)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    e.stageInfo.submissionTime.foreach(t => stageSubmit.put(e.stageInfo.stageId, t))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val submit = stageSubmit.get(e.stageId)
    if (submit != null && e.taskInfo != null)
      stageWait.merge(e.stageId, math.max(0L, e.taskInfo.launchTime - submit), (a, b) => a + b)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = e.stageInfo
    val m = s.taskMetrics
    val wait = Option(stageWait.remove(s.stageId)).map(_.longValue).getOrElse(0L)
    stageSubmit.remove(s.stageId)
    out.emit("stage", "id" -> s.stageId, "group" -> stageGroup.remove(s.stageId),
      "start" -> s.submissionTime.map(rel), "end" -> s.completionTime.map(rel),
      "tasks" -> s.numTasks, "task_wait_ms" -> wait,
      "run_ms" -> (if (m == null) 0L else m.executorRunTime),
      "cpu_ms" -> (if (m == null) 0.0 else m.executorCpuTime / 1e6),
      "gc_ms" -> (if (m == null) 0L else m.jvmGCTime),
      "shuffle_write_b" -> (if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten),
      "shuffle_read_b" -> (if (m == null) 0L else m.shuffleReadMetrics.totalBytesRead),
      "spill_b" -> (if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled))
  }
}
