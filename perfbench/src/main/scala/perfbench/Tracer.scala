package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer, with the Spark work it caused. */
final case class SpanSample(name: String, group: String, wallMs: Double,
    jobs: Long, tasks: Long, cpuMs: Double, shuffleWriteBytes: Long,
    idleMs: Double, planMs: Double, gcMs: Double, spillBytes: Long,
    fetchWaitMs: Double, taskSkew: Double, writtenRows: Long)

/** Times calls into each layer from outside and attributes Spark work to
  * them. A `SparkListener` collects jobs, stages and task metrics; a
  * `QueryExecutionListener` collects planning-phase times. Spans never
  * nest and every action runs on the one client thread, so the events
  * delivered between a span's begin and end drains belong to that span.
  * Drain time is tracing overhead and is kept out of the span's wall. */
final class Tracer(spark: SparkSession) {
  import Tracer.StageRec
  private val sc = spark.sparkContext

  private var jobs = 0L
  private val stages = mutable.ArrayBuffer.empty[StageRec]
  private val taskMs = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]
  private var planMs = 0L
  private var writtenRows = 0L

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Tracer.this.synchronized { jobs += 1 }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Tracer.this.synchronized {
        taskMs.getOrElseUpdate((e.stageId, e.stageAttemptId),
          mutable.ArrayBuffer.empty) += e.taskInfo.duration
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized {
        val si = e.stageInfo
        val m = si.taskMetrics
        val completed = si.completionTime.getOrElse(System.currentTimeMillis())
        stages += StageRec(si.submissionTime.getOrElse(completed), completed,
          si.numTasks, m.executorCpuTime, m.jvmGCTime,
          m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled,
          m.shuffleReadMetrics.fetchWaitTime,
          taskMs.remove((si.stageId, si.attemptNumber())).map(_.toSeq).getOrElse(Nil))
      }
  }

  private val queryListener = new QueryExecutionListener with AdaptiveSparkPlanHelper {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = add(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = add(qe)
    private def add(qe: QueryExecution): Unit = {
      val written = collect(qe.executedPlan) {
        case w: DataWritingCommandExec =>
          w.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
      }.sum
      Tracer.this.synchronized {
        planMs += qe.tracker.phases.values.map(_.durationMs).sum
        writtenRows += written
      }
    }
  }

  sc.addSparkListener(listener)
  spark.listenerManager.register(queryListener)

  val samples = mutable.ArrayBuffer.empty[SpanSample]
  private var overheadNs = 0L
  private var open: Option[(String, String, Long, Long)] = None

  /** Wall time the tracer itself spent: bus drains and the extra count
    * actions callers run through [[overhead]]. */
  def overheadMs: Double = overheadNs / 1e6

  def overhead[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally overheadNs += System.nanoTime() - t0
  }

  private def drain(): Unit = overhead(PerfbenchBus.drain(sc))

  def begin(name: String, group: String): Unit = {
    require(open.isEmpty, s"span ${open.get._1} still open")
    drain()
    synchronized {
      jobs = 0; stages.clear(); taskMs.clear(); planMs = 0L; writtenRows = 0L
    }
    open = Some((name, group, System.currentTimeMillis(), System.nanoTime()))
  }

  def end(): SpanSample = {
    val t1 = System.nanoTime()
    val e1 = System.currentTimeMillis()
    val (name, group, e0, t0) = open.getOrElse(sys.error("no open span"))
    open = None
    drain()
    val wall = (t1 - t0) / 1e6
    val s = synchronized {
      val st = stages.toList
      val covered = Tracer.coveredMs(st.map(r => (r.submitted, r.completed)), e0, e1)
      val worst = st.filter(_.taskMs.size >= 2)
        .sortBy(r => -(r.completed - r.submitted)).headOption
      val skew = worst.map { r =>
        val med = Stats.median(r.taskMs.map(_.toDouble))
        if (med <= 0) 1.0 else r.taskMs.max / med
      }.getOrElse(1.0)
      SpanSample(name, group, wall, jobs, st.map(_.tasks.toLong).sum,
        st.map(_.cpuNs).sum / 1e6, st.map(_.shuffleWrite).sum,
        math.max(0.0, wall - covered), planMs.toDouble,
        st.map(_.gcMs).sum.toDouble, st.map(_.spill).sum,
        st.map(_.fetchWaitMs).sum.toDouble, skew, writtenRows)
    }
    samples += s
    s
  }

  def span[T](name: String, group: String)(body: => T): T = {
    begin(name, group)
    val out = try body catch { case e: Throwable => end(); throw e }
    end()
    out
  }

  /** Closes an open span (after a failed call). */
  def abandon(): Unit = if (open.isDefined) end()

  def close(): Unit = {
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(queryListener)
  }
}

object Tracer {
  private final case class StageRec(submitted: Long, completed: Long,
      tasks: Int, cpuNs: Long, gcMs: Long, shuffleWrite: Long, spill: Long,
      fetchWaitMs: Long, taskMs: Seq[Long])

  /** Milliseconds of [from, to] covered by the union of `intervals`. */
  def coveredMs(intervals: Seq[(Long, Long)], from: Long, to: Long): Double = {
    val clipped = intervals.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = -1L
    var curB = -1L
    clipped.foreach { case (a, b) =>
      if (a > curB) { total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    (total + curB - curA).toDouble
  }

  /** Per-layer span metrics: the base set every span records, plus the
    * planning time of search spans and the stage detail of curate
    * cells. */
  val BaseFields: Seq[(String, String)] = Seq(
    "wall_ms" -> "ms", "jobs" -> "count", "tasks" -> "count",
    "cpu_ms" -> "ms", "shuffle_write_bytes" -> "bytes", "idle_ms" -> "ms")
  val SearchFields: Seq[(String, String)] = Seq("plan_ms" -> "ms")
  val CellFields: Seq[(String, String)] = Seq(
    "gc_ms" -> "ms", "spill_bytes" -> "bytes", "fetch_wait_ms" -> "ms",
    "task_skew" -> "ratio")

  def field(s: SpanSample, f: String): Double = f match {
    case "wall_ms" => s.wallMs
    case "jobs" => s.jobs.toDouble
    case "tasks" => s.tasks.toDouble
    case "cpu_ms" => s.cpuMs
    case "shuffle_write_bytes" => s.shuffleWriteBytes.toDouble
    case "idle_ms" => s.idleMs
    case "plan_ms" => s.planMs
    case "gc_ms" => s.gcMs
    case "spill_bytes" => s.spillBytes.toDouble
    case "fetch_wait_ms" => s.fetchWaitMs
    case "task_skew" => s.taskSkew
  }

  /** Totals of one span over a run; task_skew is the worst call's. */
  def total(samples: Seq[SpanSample], f: String): Double =
    if (samples.isEmpty) 0.0
    else if (f == "task_skew") samples.map(_.taskSkew).max
    else samples.map(field(_, f)).sum

  def sampleJson(s: SpanSample): Map[String, Any] =
    Map("span" -> s.name, "group" -> s.group, "written_rows" -> s.writtenRows) ++
      (BaseFields ++ SearchFields ++ CellFields).map { case (f, _) => f -> field(s, f) }
}
