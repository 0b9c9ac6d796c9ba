package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's listeners: one `SparkListener`, one
  * `QueryExecutionListener` and one `StreamingQueryListener`. They keep
  * raw spans and counts in memory; [[Trace.summarize]] attributes them to
  * the operation windows the harness recorded once the run has ended.
  *
  * Jobs are attributed by the `perfbench.op` local property the harness
  * sets around each operation (inherited by stream threads); stages and
  * tasks follow their job; SQL executions, planning phases and stream
  * batches are attributed by the window their start time falls in. */
final class Trace(spark: SparkSession) {
  import Trace._

  private val lock = new Object
  private val jobs = mutable.Map.empty[Int, Job]
  private val stageOp = mutable.Map.empty[Int, Int]
  private val tasks = mutable.ArrayBuffer.empty[Task]
  private val stages = mutable.ArrayBuffer.empty[Int] // op of each completed stage attempt
  private val execs = mutable.Map.empty[Long, Exec]
  private val phases = mutable.ArrayBuffer.empty[Phase]
  private val batches = mutable.ArrayBuffer.empty[Batch]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val props = Option(e.properties)
      val op = props.flatMap(p => Option(p.getProperty(OpProperty))).map(_.toInt).getOrElse(-1)
      val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
      jobs(e.jobId) = Job(op, exec, e.time, -1L)
      e.stageIds.foreach(s => stageOp(s) = op)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(end = e.time))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
      stages += stageOp.getOrElse(e.stageInfo.stageId, -1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val m = e.taskMetrics
      if (m != null) {
        val sr = m.shuffleReadMetrics
        tasks += Task(stageOp.getOrElse(e.stageId, -1), e.taskInfo.launchTime,
          m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
          m.shuffleWriteMetrics.bytesWritten, sr.localBytesRead + sr.remoteBytesRead,
          m.diskBytesSpilled, m.inputMetrics.bytesRead,
          m.inputMetrics.recordsRead == 0 && sr.recordsRead == 0 &&
            m.outputMetrics.recordsWritten == 0)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => lock.synchronized {
        val plan = s.physicalPlanDescription
        val write = WriteNode.findFirstIn(s.sparkPlanInfo.nodeName).isDefined &&
          NotStored.findFirstIn(plan).isEmpty
        execs(s.executionId) = Exec(s.time, -1L, write)
      }
      case s: SparkListenerSQLExecutionEnd => lock.synchronized {
        execs.get(s.executionId).foreach(x => execs(s.executionId) = x.copy(end = s.time))
      }
      case _ =>
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      def ms(name: String): Long = ph.get(name).map(_.durationMs).getOrElse(0L)
      val start = ph.values.map(_.startTimeMs).minOption.getOrElse(System.currentTimeMillis())
      lock.synchronized {
        phases += Phase(start, ms("analysis"), ms("optimization"), ms("planning"))
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      def ms(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      lock.synchronized { batches += Batch(start, ms("triggerExecution"), ms("addBatch")) }
    }
  }

  private var attached = false

  def attach(): Unit = if (!attached) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    attached = true
  }

  /** Delivers every queued event, then stops listening. */
  def detach(): Unit = if (attached) {
    PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
    attached = false
  }

  /** Per-window layer numbers. `windows(i)` is operation i's
    * (start, build end, end) in epoch ms. */
  def summarize(windows: IndexedSeq[(Long, Long, Long)]): IndexedSeq[Map[String, Double]] =
    lock.synchronized {
      def opAt(t: Long): Int = windows.indexWhere { case (s, _, e) => t >= s && t <= e }
      val out = IndexedSeq.fill(windows.size)(mutable.Map.empty[String, Double].withDefaultValue(0.0))
      def add(op: Int, k: String, v: Double): Unit =
        if (op >= 0 && op < out.size) out(op)(k) += v
      val jobList = jobs.values.toSeq
      jobList.foreach { j =>
        add(j.op, "jobs", 1)
        if (j.op >= 0 && j.op < windows.size)
          add(j.op, if (j.start < windows(j.op)._2) "build_jobs" else "exec_jobs", 1)
      }
      stages.foreach(add(_, "stages", 1))
      tasks.foreach { t =>
        add(t.op, "tasks", 1)
        add(t.op, "task_s", t.runMs / 1e3)
        if (t.op >= 0 && t.op < windows.size && t.launch >= windows(t.op)._2)
          add(t.op, "exec_task_s", t.runMs / 1e3)
        add(t.op, "cpu_s", t.cpuNs / 1e9)
        add(t.op, "gc_s", t.gcMs / 1e3)
        add(t.op, "shuffle_write_b", t.shuffleWriteB.toDouble)
        add(t.op, "shuffle_read_b", t.shuffleReadB.toDouble)
        add(t.op, "spill_b", t.spillB.toDouble)
        add(t.op, "input_b", t.inputB.toDouble)
        if (t.empty) add(t.op, "empty_tasks", 1)
      }
      windows.indices.foreach { i =>
        val ivs = jobList.filter(j => j.op == i && j.end >= 0).map(j => (j.start, j.end))
        add(i, "job_union_s", unionMs(ivs) / 1e3)
      }
      val execList = execs.toSeq
      execList.foreach { case (id, x) =>
        val op = opAt(x.start)
        add(op, "executions", 1)
        if (x.write && x.end >= 0) {
          add(op, "write_execs", 1)
          add(op, "write_s", (x.end - x.start) / 1e3)
          val lastJob = jobList.filter(_.exec.contains(id)).map(_.end).maxOption
          add(op, "commit_s", (x.end - lastJob.getOrElse(x.start)) / 1e3)
        }
      }
      windows.indices.foreach { i =>
        val ivs = execList.map(_._2).filter(x => x.end >= 0 && opAt(x.start) == i)
          .map(x => (x.start, x.end))
        add(i, "sql_union_s", unionMs(ivs) / 1e3)
      }
      phases.foreach { p =>
        val op = opAt(p.start)
        add(op, "analysis_s", p.analysisMs / 1e3)
        add(op, "optimization_s", p.optimizationMs / 1e3)
        add(op, "planning_s", p.planningMs / 1e3)
      }
      batches.foreach { b =>
        val op = opAt(b.start)
        add(op, "stream_batches", 1)
        add(op, "stream_batch_s", b.triggerMs / 1e3)
        add(op, "stream_add_batch_s", b.addBatchMs / 1e3)
      }
      out.map(_.toMap)
    }
}

object Trace {
  val OpProperty = "perfbench.op"
  private val WriteNode = "(?i)(Append|Overwrite|Write|Insert|SaveInto|ReplaceData|Merge|Delete|Update)".r
  /** Writes that store nothing: the timed `noop` action and memory sinks. */
  private val NotStored = "Noop|MemorySink|Memory(Streaming)?Write".r

  private final case class Job(op: Int, exec: Option[Long], start: Long, end: Long)
  private final case class Task(op: Int, launch: Long, runMs: Long, cpuNs: Long, gcMs: Long,
      shuffleWriteB: Long, shuffleReadB: Long, spillB: Long, inputB: Long, empty: Boolean)
  private final case class Exec(start: Long, end: Long, write: Boolean)
  private final case class Phase(start: Long, analysisMs: Long, optimizationMs: Long,
      planningMs: Long)
  private final case class Batch(start: Long, triggerMs: Long, addBatchMs: Long)

  /** Length of the union of closed intervals. */
  def unionMs(ivs: Seq[(Long, Long)]): Long = {
    var cover = 0L; var s = -1L; var e = -1L
    ivs.sortBy(_._1).foreach { case (a, b) =>
      if (a > e) { cover += e - s; s = a; e = b } else e = math.max(e, b)
    }
    cover + (e - s)
  }
}
