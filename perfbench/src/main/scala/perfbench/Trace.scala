package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

final case class Span(id: Int, parent: Int, op: Int, name: String, startMs: Long, endMs: Long)

/** Harness-side spans: one per call the harness makes into a layer's
  * public function. Kept in memory, written once when the run ends. */
final class Spans {
  var enabled = false
  val all = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var op = 0

  def inOp[T](opId: Int)(body: => T): T = { op = opId; body }

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = all.size + 1
      val parent = stack.headOption.getOrElse(0)
      val t0 = System.currentTimeMillis()
      all += Span(id, parent, op, name, t0, t0)
      stack = id :: stack
      try body
      finally {
        stack = stack.tail
        all(id - 1) = all(id - 1).copy(endMs = System.currentTimeMillis())
      }
    }
}

/** Everything Spark's listeners report, kept raw and attributed to
  * operations afterwards by time: the client is one closed loop, so
  * operation windows never overlap. */
final class Recorder extends SparkListener {
  import Recorder._

  private val started = TrieMap.empty[Int, Long]
  val jobs = new ConcurrentLinkedQueue[Job]
  val stages = new ConcurrentLinkedQueue[Long]
  val tasks = new ConcurrentLinkedQueue[Task]
  val phases = new ConcurrentLinkedQueue[Phase]
  /** Start of each QueryExecution the session reported, by its first phase. */
  val reports = new ConcurrentLinkedQueue[Long]
  val batches = new ConcurrentLinkedQueue[Batch]

  override def onJobStart(e: SparkListenerJobStart): Unit = started.put(e.jobId, e.time)
  /** Jobs whose start was seen but whose end never arrived. */
  def unfinishedJobs: Int = started.size
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    started.remove(e.jobId).foreach(t => jobs.add(Job(t, e.time)))
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.add(e.stageInfo.completionTime.getOrElse(System.currentTimeMillis()))
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val i = e.taskInfo
    if (m != null) {
      // the scheduler delay exactly as Spark's UI defines it
      val delayMs = math.max(0L, i.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - i.gettingResultTime)
      tasks.add(Task(i.finishTime, m.executorRunTime / 1e3, m.executorCpuTime / 1e9,
        m.jvmGCTime / 1e3, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled,
        m.outputMetrics.bytesWritten, m.inputMetrics.bytesRead,
        m.inputMetrics.recordsRead, delayMs / 1e3))
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = {
      val ps = qe.tracker.phases.toSeq
      ps.foreach { case (n, p) => phases.add(Phase(n, p.startTimeMs, p.endTimeMs)) }
      ps.map(_._2.startTimeMs).minOption.foreach(t => reports.add(t))
    }
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val st = p.stateOperators.toSeq
      batches.add(Batch(java.time.Instant.parse(p.timestamp).toEpochMilli,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        st.map(_.commitTimeMs).sum, st.map(_.numRowsTotal).sum, st.map(_.memoryUsedBytes).sum))
    }
  }
}

object Recorder {
  final case class Job(start: Long, end: Long)
  final case class Task(finish: Long, runS: Double, cpuS: Double, gcS: Double,
                        shReadB: Long, shWriteB: Long, spillB: Long, outB: Long,
                        inB: Long, inRows: Long, delayS: Double)
  final case class Phase(name: String, start: Long, end: Long)
  final case class Batch(start: Long, durMs: Map[String, Long], stateCommitMs: Long,
                         stateRows: Long, stateBytes: Long)
}

/** Folds the recorder's raw events into per-operation layer figures. */
object Layers {
  private val MB = 1024.0 * 1024.0

  /** Length of the union of `ivs` clipped to [lo, hi]. */
  def unionMs(ivs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var cur = (0L, -1L)
    clipped.foreach { case (a, b) =>
      if (a > cur._2) { if (cur._2 > cur._1) total += cur._2 - cur._1; cur = (a, b) }
      else cur = (cur._1, math.max(cur._2, b))
    }
    if (cur._2 > cur._1) total += cur._2 - cur._1
    total
  }

  /** Layer figures of one operation window. `driver.gap_s` is the wall
    * time in which neither a job nor a planning phase runs. Two parts of
    * it are named: `driver.frame_build_s`, inside the library calls that
    * build the operation's frames (eager analysis the listeners never
    * see), and `driver.exec_gap_s`, between the first and the last job
    * of a sink (adaptive re-planning between query stages, job
    * submission, result handling). What none of these cover is
    * `unattributed_s`. `lost_reports` counts the sinks the harness ran
    * beyond the QueryExecutions the listener reported. */
  def of(r: Recorder, op: Harness.OpRun): Map[String, Double] = {
    def in(t: Long) = t >= op.startMs && t <= op.endMs
    val jobs = r.jobs.asScala.filter(j => in(j.start)).toSeq
    val phases = r.phases.asScala.filter(p => in(p.start)).toSeq
    val tasks = r.tasks.asScala.filter(t => in(t.finish)).toSeq
    val batches = r.batches.asScala.filter(b => in(b.start)).toSeq
    def ph(names: String*) = phases.filter(p => names.contains(p.name)).map(p => (p.end - p.start) / 1e3).sum
    val wallMs = math.max(1L, op.endMs - op.startMs)
    val busy = jobs.map(j => (j.start, j.end)) ++ phases.map(p => (p.start, p.end))
    val busyMs = unionMs(busy, op.startMs, op.endMs)
    val builtMs = unionMs(busy ++ op.builds, op.startMs, op.endMs)
    val execs = op.sinks.flatMap { case (a, b) =>
      val js = jobs.filter(j => j.start >= a && j.start <= b)
      if (js.isEmpty) None else Some((js.map(_.start).min, js.map(_.end).max))
    }
    val attributedMs = unionMs(busy ++ op.builds ++ execs, op.startMs, op.endMs)
    val last = batches.maxByOption(_.start)
    def bd(k: String) = batches.map(_.durMs.getOrElse(k, 0L)).sum / 1e3
    Map(
      "driver.analysis_s" -> ph("parsing", "analysis"),
      "driver.optimization_s" -> ph("optimization"),
      "driver.planning_s" -> ph("planning"),
      "driver.codegen_compile_s" -> op.codegenS,
      "driver.codegen_units" -> op.codegenUnits.toDouble,
      "driver.gap_s" -> (wallMs - busyMs) / 1e3,
      "driver.frame_build_s" -> (builtMs - busyMs) / 1e3,
      "driver.exec_gap_s" -> (attributedMs - builtMs) / 1e3,
      "sched.jobs" -> jobs.size.toDouble,
      "sched.stages" -> r.stages.asScala.count(in).toDouble,
      "sched.tasks" -> tasks.size.toDouble,
      "sched.launch_delay_s" -> tasks.map(_.delayS).sum,
      "exec.run_s" -> tasks.map(_.runS).sum,
      "exec.cpu_s" -> tasks.map(_.cpuS).sum,
      "exec.gc_s" -> tasks.map(_.gcS).sum,
      "exec.shuffle_read_mb" -> tasks.map(_.shReadB).sum / MB,
      "exec.shuffle_write_mb" -> tasks.map(_.shWriteB).sum / MB,
      "exec.spill_mb" -> tasks.map(_.spillB).sum / MB,
      "exec.output_mb" -> tasks.map(_.outB).sum / MB,
      "tables.input_mb" -> tasks.map(_.inB).sum / MB,
      "tables.input_rows" -> tasks.map(_.inRows).sum.toDouble,
      "etl.bronze_s" -> op.parts.getOrElse("etl.bronze", 0.0),
      "etl.silver_s" -> op.parts.getOrElse("etl.silver", 0.0),
      "etl.gold_s" -> op.parts.getOrElse("etl.gold", 0.0),
      "ops.text_s" -> (if (op.layer == "ops.text") op.wallS else 0.0),
      "ops.vector_s" -> (if (op.layer == "ops.vector") op.wallS else 0.0),
      "ops.relational_s" -> (if (op.layer == "ops.relational") op.wallS else 0.0),
      "stream.batches" -> batches.size.toDouble,
      "stream.planning_s" -> bd("queryPlanning"),
      "stream.add_batch_s" -> bd("addBatch"),
      "stream.wal_commit_s" -> bd("walCommit"),
      "stream.commit_offsets_s" -> bd("commitOffsets"),
      "stream.state_commit_s" -> batches.map(_.stateCommitMs).sum / 1e3,
      // state size as the drain's last batch left it
      "stream.state_rows" -> last.map(_.stateRows).getOrElse(0L).toDouble,
      "stream.state_mb" -> last.map(_.stateBytes).getOrElse(0L) / MB,
      "unattributed_s" -> (wallMs - attributedMs) / 1e3,
      "lost_reports" -> math.max(0, op.sinks.size - r.reports.asScala.count(in)).toDouble)
  }

  /** Micro-batch wall times (triggerExecution) of one operation, seconds. */
  def batchWalls(r: Recorder, op: Harness.OpRun): Seq[Double] =
    r.batches.asScala.filter(b => b.start >= op.startMs && b.start <= op.endMs)
      .map(_.durMs.getOrElse("triggerExecution", 0L) / 1e3).toSeq
}
