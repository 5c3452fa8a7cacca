package graftbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Listener side of the traced run. Registered from the harness only,
  * around traced batches; nothing is added inside the program. Every
  * Spark job carries the harness's segment tag (a local property set
  * around each call into the program), so jobs, and through them stages,
  * are attributed to the span that launched them without relying on
  * clock order. SQL execution events give each action's execution span
  * as Spark measures it; a job names its execution in a local property.
  */
final class Collector extends SparkListener {
  import Collector._

  private val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val stages = mutable.HashMap.empty[Int, StageRec]
  private val sqlStarts = mutable.HashMap.empty[Long, (Long, Boolean)]
  private val sqlExecs = mutable.ArrayBuffer.empty[SqlExec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val seg = Option(e.properties).flatMap(p => Option(p.getProperty(SegmentKey)))
    // `callSite.short` is null under local[*]; the first stage's long
    // call site still names the frame that launched the job
    val first = e.stageInfos.sortBy(_.stageId).headOption
    val fromTables = first.exists(_.details.contains("graft.Tables$.read"))
    val exec = Option(e.properties)
      .flatMap(p => Option(p.getProperty(ExecutionIdKey))).map(_.toLong)
    jobs += JobRec(e.jobId, seg.getOrElse(""), e.time, e.time,
      e.stageIds, fromTables, exec)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val s = e.stageInfo
      val m = Option(s.taskMetrics)
      def mv(f: org.apache.spark.executor.TaskMetrics => Long): Long =
        m.map(f).getOrElse(0L)
      stages(s.stageId) = StageRec(s.stageId, s.numTasks,
        s.submissionTime.getOrElse(0L), s.completionTime.getOrElse(0L),
        cpuNs = mv(_.executorCpuTime), runMs = mv(_.executorRunTime),
        gcMs = mv(_.jvmGCTime), inputBytes = mv(_.inputMetrics.bytesRead),
        shuffleRead = mv(t => t.shuffleReadMetrics.remoteBytesRead +
          t.shuffleReadMetrics.localBytesRead),
        shuffleWrite = mv(_.shuffleWriteMetrics.bytesWritten),
        spillBytes = mv(_.diskBytesSpilled),
        outputBytes = mv(_.outputMetrics.bytesWritten),
        outputRecords = mv(_.outputMetrics.recordsWritten))
    }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      synchronized {
        sqlStarts(s.executionId) =
          (s.time, s.rootExecutionId.forall(_ == s.executionId))
      }
    case x: SparkListenerSQLExecutionEnd =>
      synchronized {
        sqlStarts.remove(x.executionId).foreach { case (t0, root) =>
          sqlExecs += SqlExec(x.executionId, t0, x.time, root) }
      }
    case _ => ()
  }

  /** Everything observed since the previous call, then forgotten. */
  def take(): Observed = synchronized {
    val js = jobs.toVector
    val ids = js.flatMap(_.stageIds).toSet
    val ss = stages.values.filter(s => ids(s.id)).toVector
    val out = Observed(js, ss, sqlExecs.toVector)
    jobs.clear(); stages.clear(); sqlStarts.clear(); sqlExecs.clear()
    out
  }
}

object Collector {
  val SegmentKey = "graftbench.segment"
  /** Spark's `SQLExecution.EXECUTION_ID_KEY`. */
  val ExecutionIdKey = "spark.sql.execution.id"

  final case class JobRec(id: Int, segment: String, start: Long,
                          var end: Long, stageIds: Seq[Int],
                          fromTables: Boolean, exec: Option[Long]) {
    def ms: Long = end - start
  }

  final case class StageRec(id: Int, tasks: Int, submit: Long,
                            complete: Long, cpuNs: Long, runMs: Long,
                            gcMs: Long, inputBytes: Long,
                            shuffleRead: Long, shuffleWrite: Long,
                            spillBytes: Long, outputBytes: Long,
                            outputRecords: Long) {
    def ms: Long = complete - submit
  }

  /** One SQL execution: Spark posts its start before the query is
    * optimized and planned, its end once the action has returned.
    */
  final case class SqlExec(id: Long, start: Long, end: Long, root: Boolean)

  final case class Observed(jobs: Vector[JobRec], stages: Vector[StageRec],
                            sql: Vector[SqlExec]) {
    def jobsIn(segment: String): Vector[JobRec] =
      jobs.filter(_.segment == segment)
    /** Span of the root SQL executions the jobs ran under. */
    def execSpan(js: Seq[JobRec]): Option[(Long, Long)] = {
      val ids = js.flatMap(_.exec).toSet
      val xs = sql.filter(x => x.root && ids(x.id))
      if (xs.isEmpty) None else Some((xs.map(_.start).min, xs.map(_.end).max))
    }
    def stagesOf(js: Seq[JobRec]): Vector[StageRec] = {
      val ids = js.flatMap(_.stageIds).toSet
      stages.filter(s => ids(s.id))
    }
  }

  /** Total length of the union of [start, end) intervals. */
  def covered(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}
