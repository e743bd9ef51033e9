package clifbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlanInfo}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd,
  SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Outside-in layer recorder: listeners the benchmark registers on the
  * session it drives. Events are buffered in memory; after each op the
  * traced run drains the listener bus and [[cut]]s the buffers, so every
  * execution, job, task and micro-batch lands in the span of the op that
  * caused it. Untraced runs never construct a Recorder. */
final class Recorder(spark: SparkSession) {
  import Recorder._

  private val phases = ArrayBuffer.empty[Phase]
  private val execStarts = scala.collection.mutable.Map.empty[Long, ExecStart]
  private val execs = ArrayBuffer.empty[Exec]
  private val jobStarts = scala.collection.mutable.Map.empty[Int, Long]
  private val jobs = ArrayBuffer.empty[(Long, Long)]
  private var tasks = Tasks()
  private val batches = ArrayBuffer.empty[Batch]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Recorder.this.synchronized { jobStarts(e.jobId) = e.time }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Recorder.this.synchronized {
        jobStarts.remove(e.jobId).foreach(s => jobs += ((s, e.time)))
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(e.taskMetrics).foreach { m =>
        Recorder.this.synchronized {
          tasks = tasks.add(m)
        }
      }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => Recorder.this.synchronized {
        execStarts(s.executionId) = ExecStart(s.time, s.sparkPlanInfo)
      }
      case x: SparkListenerSQLExecutionEnd => Recorder.this.synchronized {
        execStarts.remove(x.executionId).foreach { s =>
          execs += Exec(x.time - s.time, writeTarget(s.plan),
            scanLocations(s.plan))
        }
      }
      case _ =>
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution,
                           e: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = {
      val ps = qe.tracker.phases.toSeq.map { case (name, p) =>
        Phase(name, p.startTimeMs, p.endTimeMs)
      }
      Recorder.this.synchronized { phases ++= ps }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent)
        : Unit = ()
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs
      def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
      val ops = Option(p.stateOperators).map(_.toSeq).getOrElse(Nil)
      val b = Batch(ms("addBatch"), ms("queryPlanning"), ms("walCommit"),
        ms("commitOffsets"), ms("latestOffset"), ms("triggerExecution"),
        ops.map(_.numRowsTotal).sum, ops.map(_.commitTimeMs).sum,
        ops.map(_.memoryUsedBytes).sum)
      Recorder.this.synchronized { batches += b }
    }
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(qeListener)
  spark.streams.addListener(streamListener)

  /** Deliver every pending event, then hand over and clear what the
    * listeners buffered since the previous cut. */
  def cut(): Events = {
    org.apache.spark.ClifbenchBus.drain(spark.sparkContext)
    synchronized {
      val ev = Events(phases.toList, execs.toList, jobs.toList, tasks,
        batches.toList, open = jobStarts.size + execStarts.size)
      phases.clear(); execs.clear(); jobs.clear(); batches.clear()
      tasks = Tasks()
      ev
    }
  }

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }
}

object Recorder {
  final case class Phase(name: String, startMs: Long, endMs: Long)
  private final case class ExecStart(time: Long, plan: SparkPlanInfo)
  /** One SQL execution: its wall, the file it writes (if any) and the
    * file locations its plan scans. */
  final case class Exec(durationMs: Long, writes: Option[String],
                        scans: Seq[String])
  final case class Tasks(n: Long = 0, runMs: Long = 0, cpuNs: Long = 0,
                         gcMs: Long = 0, shuffleRead: Long = 0,
                         shuffleWrite: Long = 0, input: Long = 0,
                         output: Long = 0) {
    def add(m: org.apache.spark.executor.TaskMetrics): Tasks = Tasks(
      n + 1, runMs + m.executorRunTime, cpuNs + m.executorCpuTime,
      gcMs + m.jvmGCTime, shuffleRead + m.shuffleReadMetrics.totalBytesRead,
      shuffleWrite + m.shuffleWriteMetrics.bytesWritten,
      input + m.inputMetrics.bytesRead,
      output + m.outputMetrics.bytesWritten)
    def +(o: Tasks): Tasks = Tasks(n + o.n, runMs + o.runMs,
      cpuNs + o.cpuNs, gcMs + o.gcMs, shuffleRead + o.shuffleRead,
      shuffleWrite + o.shuffleWrite, input + o.input,
      output + o.output)
  }
  final case class Batch(addBatchMs: Long, planningMs: Long, walMs: Long,
                         commitOffsetsMs: Long, latestOffsetMs: Long,
                         triggerMs: Long, stateRows: Long,
                         stateCommitMs: Long, stateBytes: Long)
  /** What the listeners recorded in one op's span. `open` counts jobs and
    * executions that started but had not ended when the span closed. */
  final case class Events(phases: List[Phase], execs: List[Exec],
                          jobs: List[(Long, Long)], tasks: Tasks,
                          batches: List[Batch], open: Int = 0)

  private val PathRe = """(?:file:)?/[^\s,\]\)]+""".r

  private def nodes(p: SparkPlanInfo): Seq[SparkPlanInfo] =
    p +: p.children.flatMap(nodes)

  /** Output path of a file-writing execution (the write command node
    * names it in its plan string). */
  def writeTarget(p: SparkPlanInfo): Option[String] =
    nodes(p).find(_.nodeName.contains("InsertIntoHadoopFsRelationCommand"))
      .flatMap(n => PathRe.findFirstIn(n.simpleString))

  /** Locations of every file scan in the plan. */
  def scanLocations(p: SparkPlanInfo): Seq[String] =
    nodes(p).flatMap(_.metadata.get("Location"))

  /** Total length of the union of [start, end) intervals. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}
