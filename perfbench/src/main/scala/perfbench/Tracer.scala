package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

import scala.collection.mutable

/** One Spark job as the traced run sees it: when it was submitted and
  * ended, the graft source file that launched it, and the task metrics
  * of its stages summed over every task that ran. */
final class JobRec(val id: Int, val submitMs: Long, val site: String,
                   val module: String, val execId: String) {
  var endMs: Long = -1L
  var stages = 0
  var tasks = 0
  var runMs = 0L
  var gcMs = 0L
  var schedDelayMs = 0L
  var fetchWaitMs = 0L
  var inputBytes = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillMemBytes = 0L
  var spillDiskBytes = 0L
  var outputBytes = 0L
  var outputRecords = 0L
  var peakTaskMemBytes = 0L
  val taskShuffleReads = mutable.ArrayBuffer.empty[Long]
}

/** The traced run's listener. It records only while `enabled`; the
  * harness flips the flag between passes, after draining the listener
  * bus, so every event is recorded under the flag of the pass that
  * caused it. Jobs are later attributed to an op phase by submit time. */
final class Tracer extends SparkListener {
  @volatile var enabled = false
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageToJob = mutable.HashMap.empty[Int, JobRec]
  private val executionModule = mutable.HashMap.empty[String, String]

  def recorded: Seq[JobRec] = synchronized(jobs.values.toVector)

  override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) synchronized {
    // the result stage is created last, so it has the highest id; its
    // details are the long call site, the stack that submitted the job
    val result = e.stageInfos.maxBy(_.stageId)
    val execId = Option(e.properties).map(_.getProperty("spark.sql.execution.id")).orNull
    val rec = new JobRec(e.jobId, e.time, result.name, Tracer.origin(result.details), execId)
    jobs(e.jobId) = rec
    e.stageIds.foreach(stageToJob(_) = rec)
  }

  /** A SQL execution's call site is taken on the thread that ran the
    * action, so it names the graft module even when the execution's
    * jobs run on Spark's own threads (AQE stages, broadcasts). */
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart if enabled => synchronized {
      executionModule(s.executionId.toString) = Tracer.origin(s.details)
    }
    case _ =>
  }

  /** The job's own graft module, else that of its SQL execution. */
  def moduleOf(j: JobRec): String = synchronized {
    if (j.module != "harness" || j.execId == null) j.module
    else executionModule.getOrElse(j.execId, j.module)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageToJob.get(e.stageInfo.stageId).foreach { j =>
      j.stages += 1
      j.tasks += e.stageInfo.numTasks
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    stageToJob.get(e.stageId).filter(_ => m != null).foreach { j =>
      val info = e.taskInfo
      j.runMs += m.executorRunTime
      j.gcMs += m.jvmGCTime
      j.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
      j.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      j.inputBytes += m.inputMetrics.bytesRead
      val read = m.shuffleReadMetrics.totalBytesRead
      j.shuffleReadBytes += read
      if (read > 0) j.taskShuffleReads += read
      j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      j.spillMemBytes += m.memoryBytesSpilled
      j.spillDiskBytes += m.diskBytesSpilled
      j.outputBytes += m.outputMetrics.bytesWritten
      j.outputRecords += m.outputMetrics.recordsWritten
      j.peakTaskMemBytes = math.max(j.peakTaskMemBytes, m.peakExecutionMemory)
    }
  }
}

object Tracer {
  private val Frame = """\s*(?:at\s+)?(graft\.[\w.$]+)\(([\w]+)\.scala:\d+\)""".r.unanchored

  /** The graft source file of the innermost graft frame in a job's long
    * call site; "harness" when no graft frame is on the stack, as for the
    * execution layer's own `toRdd.count()`. */
  def origin(details: String): String =
    details.split('\n').iterator.collectFirst { case Frame(_, file) => s"$file.scala" }
      .getOrElse("harness")
}
