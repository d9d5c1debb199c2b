package perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.util.QueryExecutionListener

/** Cumulative counters at one instant; `-` gives the counts of an
  * interval.
  */
final case class Snap(cpuNs: Long = 0, gcMs: Long = 0, inputBytes: Long = 0,
    shuffleReadBytes: Long = 0, shuffleWriteBytes: Long = 0, spillBytes: Long = 0,
    tasks: Long = 0, stages: Long = 0, jobs: Long = 0, exchanges: Long = 0,
    executions: Long = 0, outputRecords: Long = 0) {
  def -(o: Snap): Snap = Snap(cpuNs - o.cpuNs, gcMs - o.gcMs, inputBytes - o.inputBytes,
    shuffleReadBytes - o.shuffleReadBytes, shuffleWriteBytes - o.shuffleWriteBytes,
    spillBytes - o.spillBytes, tasks - o.tasks, stages - o.stages, jobs - o.jobs,
    exchanges - o.exchanges, executions - o.executions, outputRecords - o.outputRecords)
  def fields: Seq[(String, Long)] = Seq("cpu_ns" -> cpuNs, "gc_ms" -> gcMs,
    "input_bytes" -> inputBytes, "shuffle_read_bytes" -> shuffleReadBytes,
    "shuffle_write_bytes" -> shuffleWriteBytes, "spill_bytes" -> spillBytes,
    "tasks" -> tasks, "stages" -> stages, "jobs" -> jobs, "exchanges" -> exchanges,
    "executions" -> executions, "output_records" -> outputRecords)
}

/** Task, stage and job counters from the metrics Spark already
  * collects, plus the Exchange count of every finished query's final
  * adaptive plan. Events arrive on Spark's listener thread; call
  * [[snap]] only after [[drain]].
  */
final class Counters(sc: SparkContext) extends SparkListener with QueryExecutionListener {
  private var cur = Snap()
  /** (launch ms, finish ms, records read) of every finished task. */
  val tasks = ArrayBuffer.empty[(Long, Long, Long)]
  /** (submission ms, completion ms) of every finished job. */
  val jobs = ArrayBuffer.empty[(Long, Long)]
  private val jobStart = scala.collection.mutable.Map.empty[Int, Long]

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      cur = cur.copy(cpuNs = cur.cpuNs + m.executorCpuTime, gcMs = cur.gcMs + m.jvmGCTime,
        inputBytes = cur.inputBytes + m.inputMetrics.bytesRead,
        shuffleReadBytes = cur.shuffleReadBytes + m.shuffleReadMetrics.totalBytesRead,
        shuffleWriteBytes = cur.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
        spillBytes = cur.spillBytes + m.memoryBytesSpilled + m.diskBytesSpilled,
        tasks = cur.tasks + 1, outputRecords = cur.outputRecords + m.outputMetrics.recordsWritten)
      tasks += ((e.taskInfo.launchTime, e.taskInfo.finishTime, m.inputMetrics.recordsRead))
    }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    cur = cur.copy(stages = cur.stages + 1)
  }
  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    cur = cur.copy(jobs = cur.jobs + 1)
    jobs += ((jobStart.remove(e.jobId).getOrElse(e.time), e.time))
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = synchronized {
    cur = cur.copy(exchanges = cur.exchanges + Counters.exchanges(qe.executedPlan),
      executions = cur.executions + 1)
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def drain(): Unit = org.apache.spark.perfbench.Bus.drain(sc)
  def snap(): Snap = synchronized(cur)
  def tasksIn(from: Long, to: Long): Seq[(Long, Long, Long)] =
    synchronized(tasks.filter(t => t._1 >= from && t._2 <= to).toSeq)
  def jobsIn(from: Long, to: Long): Seq[(Long, Long)] =
    synchronized(jobs.filter(j => j._1 >= from && j._2 <= to).toSeq)
}

object Counters {
  /** Shuffle Exchange nodes in a plan, looking through adaptive plans
    * and query stages to the plan that actually ran.
    */
  def exchanges(p: SparkPlan): Long = p match {
    case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
    case s: QueryStageExec => exchanges(s.plan)
    case e: ShuffleExchangeLike => 1 + e.children.map(exchanges).sum
    case o => o.children.map(exchanges).sum + o.subqueries.map(exchanges).sum
  }

  /** Milliseconds of [from, to] covered by at least one interval. */
  def covered(iv: Seq[(Long, Long)], from: Long, to: Long): Long = {
    var end = from; var total = 0L
    for ((s0, e0) <- iv.sortBy(_._1)) {
      val (s, e) = (math.max(s0, end), math.min(e0, to))
      if (e > s) { total += e - s; end = e }
    }
    total
  }
}

/** One traced interval. Times are epoch milliseconds, so they line up
  * with the task and job times the listener reports.
  */
final case class Span(id: Int, parent: Int, name: String, start: Long, end: Long, counts: Snap) {
  def seconds: Double = (end - start) / 1000.0
}

/** Records spans around the calls into each layer while `on`, and only
  * runs the body otherwise. Spans stay in memory until the run writes
  * them out.
  */
final class Tracer(val runId: String, counters: Counters) {
  var on = false
  val spans = ArrayBuffer.empty[Span]
  private var stack = List(-1)

  def apply[A](name: String)(body: => A): A =
    if (!on) body
    else {
      counters.drain()
      val (c0, t0, id) = (counters.snap(), System.currentTimeMillis(), spans.size)
      spans += Span(id, stack.head, name, t0, t0, Snap())
      stack = id :: stack
      try body
      finally {
        counters.drain()
        stack = stack.tail
        spans(id) = spans(id).copy(end = System.currentTimeMillis(), counts = counters.snap() - c0)
      }
    }

  /** Duration minus the part of it covered by child spans. */
  def selfSeconds(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.start, k.end)).toSeq
    (s.end - s.start - Counters.covered(kids, s.start, s.end)) / 1000.0
  }
  def children(s: Span): Seq[Span] = spans.filter(_.parent == s.id).toSeq
  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  def toJson: String = spans.map { s =>
    val counts = s.counts.fields.map { case (k, v) => s""""$k":$v""" }.mkString(",")
    s"""{"run":"$runId","id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
      s""""start_ms":${s.start},"end_ms":${s.end},$counts}"""
  }.mkString("[\n", ",\n", "\n]\n")
}
