package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

import scala.collection.mutable

/** Scheduler-side work counted for one phase of one operation. */
final case class ExecCounters(jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    runMs: Long = 0, cpuNs: Long = 0, gcMs: Long = 0, inputBytes: Long = 0,
    shuffleReadBytes: Long = 0, shuffleWriteBytes: Long = 0, spillBytes: Long = 0) {

  def +(o: ExecCounters): ExecCounters = ExecCounters(jobs + o.jobs, stages + o.stages,
    tasks + o.tasks, runMs + o.runMs, cpuNs + o.cpuNs, gcMs + o.gcMs,
    inputBytes + o.inputBytes, shuffleReadBytes + o.shuffleReadBytes,
    shuffleWriteBytes + o.shuffleWriteBytes, spillBytes + o.spillBytes)

  def toJson: Map[String, Any] = Json.obj("jobs" -> jobs, "stages" -> stages,
    "tasks" -> tasks, "executor_run_ms" -> runMs, "executor_cpu_ms" -> cpuNs / 1e6,
    "gc_ms" -> gcMs, "input_bytes" -> inputBytes, "shuffle_read_bytes" -> shuffleReadBytes,
    "shuffle_write_bytes" -> shuffleWriteBytes, "spill_bytes" -> spillBytes)
}

/** One SQL execution as the listener saw it (epoch milliseconds). */
final case class SqlExec(id: Long, startMs: Long, var endMs: Long)

/** The benchmark's own SparkListener. A job is charged to the phase tag that
  * was set as the local property [[Probe.PhaseKey]] on the thread that
  * submitted it; its stages and tasks follow the job.
  *
  * The listener bus is asynchronous, so counters are read only through
  * [[drained]], which first waits until every queued event has been
  * delivered. Nothing here sleeps. */
final class Probe(sc: SparkContext) extends SparkListener {
  private val stageTag = mutable.HashMap.empty[Int, String]
  private val byTag = mutable.HashMap.empty[String, ExecCounters]
  private val sqlExecs = mutable.LinkedHashMap.empty[Long, SqlExec]

  private def bump(tag: String)(f: ExecCounters => ExecCounters): Unit =
    byTag(tag) = f(byTag.getOrElse(tag, ExecCounters()))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(Probe.PhaseKey)))
      .getOrElse(Probe.Untagged)
    e.stageIds.foreach(stageTag(_) = tag)
    bump(tag)(c => c.copy(jobs = c.jobs + 1))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    bump(stageTag.getOrElse(e.stageInfo.stageId, Probe.Untagged))(c => c.copy(stages = c.stages + 1))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) bump(stageTag.getOrElse(e.stageId, Probe.Untagged)) { c =>
      c + ExecCounters(tasks = 1, runMs = m.executorRunTime, cpuNs = m.executorCpuTime,
        gcMs = m.jvmGCTime, inputBytes = m.inputMetrics.bytesRead,
        shuffleReadBytes = m.shuffleReadMetrics.totalBytesRead,
        shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten,
        spillBytes = m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      synchronized(sqlExecs(s.executionId) =
        SqlExec(s.executionId, s.time, -1L))
    case s: SparkListenerSQLExecutionEnd =>
      synchronized(sqlExecs.get(s.executionId).foreach(_.endMs = s.time))
    case _ => ()
  }

  /** Drain the bus, then read under the listener's lock. The only way any
    * counter leaves this class. */
  def drained[T](read: Probe.View => T): T = {
    org.apache.spark.GraftSpark.drainListenerBus(sc)
    synchronized(read(new Probe.View(this)))
  }
}

object Probe {
  val PhaseKey = "perfbench.phase"
  val Untagged = "untagged"

  /** Read access handed out by [[Probe.drained]] only. */
  final class View private[Probe] (p: Probe) {
    /** Remove and return the counters charged to `tag`. */
    def take(tag: String): ExecCounters = p.byTag.remove(tag).getOrElse(ExecCounters())
    /** Remove and return every tag's counters, summed. */
    def takeAll(): ExecCounters = {
      val all = p.byTag.values.foldLeft(ExecCounters())(_ + _)
      p.byTag.clear()
      all
    }
    def sqlExecs: Seq[SqlExec] = p.sqlExecs.values.toSeq
  }
}
