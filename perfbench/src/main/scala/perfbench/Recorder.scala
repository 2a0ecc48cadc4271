package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** What the listeners saw between two [[Recorder.take]] calls. Times are
  * epoch milliseconds, as Spark's listener events carry them.
  */
final case class JobRec(id: Int, desc: String, start: Long, end: Long,
                        stageIds: Seq[Int])
final case class StageRec(id: Int, submitted: Long,
                          completed: Long, tasks: Int)
final case class TaskRec(stageId: Int, launch: Long, finish: Long,
                         runMs: Long, gcMs: Long, shuffleReadB: Long,
                         shuffleWriteB: Long, spillB: Long, inputB: Long)
final case class PhaseRec(name: String, start: Long, end: Long)
final case class Seen(jobs: Seq[JobRec], stages: Seq[StageRec],
                      tasks: Seq[TaskRec], phases: Seq[PhaseRec])

/** Scheduler listener plus query-execution listener. Events arrive on
  * Spark's asynchronous listener bus; [[drain]] waits for the bus to empty
  * so that a following [[take]] holds every event of the calls before it.
  */
final class Recorder extends SparkListener with QueryExecutionListener {
  private val jobStarts = scala.collection.mutable.Map.empty[Int, SparkListenerJobStart]
  private val jobs = ArrayBuffer.empty[JobRec]
  private val stages = ArrayBuffer.empty[StageRec]
  private val tasks = ArrayBuffer.empty[TaskRec]
  private val phases = ArrayBuffer.empty[PhaseRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStarts(e.jobId) = e
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStarts.remove(e.jobId).foreach { s =>
      val desc = Option(s.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description")))
        .getOrElse("")
      jobs += JobRec(e.jobId, desc, s.time, e.time, s.stageIds)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stages += StageRec(i.stageId, i.submissionTime.getOrElse(0L),
      i.completionTime.getOrElse(0L), i.numTasks)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null)
      tasks += TaskRec(e.stageId, e.taskInfo.launchTime, e.taskInfo.finishTime,
        m.executorRunTime, m.jvmGCTime, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled,
        m.inputMetrics.bytesRead)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = synchronized {
    qe.tracker.phases.foreach { case (name, p) =>
      phases += PhaseRec(name, p.startTimeMs, p.endTimeMs)
    }
  }

  /** Everything recorded since the previous take. */
  def take(): Seen = synchronized {
    val s = Seen(jobs.toList, stages.toList, tasks.toList, phases.toList)
    jobs.clear(); stages.clear(); tasks.clear(); phases.clear()
    s
  }
}

object Recorder {
  /** Block until every posted listener event has been delivered. The bus
    * is not public API; its bytecode accessor is, so call it reflectively.
    */
  def drain(sc: SparkContext): Unit = {
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }
}
