package graft

import java.util.Arrays
import java.util.concurrent.ArrayBlockingQueue
import com.google.common.util.concurrent.Uninterruptibles
import org.apache.spark.TaskContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.graft.PipelineShim
import org.apache.spark.sql.types.StructType

/** A thread boundary between two layers of one scan task. [[prefetch]]
  * runs everything upstream of it (JDBC fetch, or fetch plus mapping) on
  * a producer thread per partition, while the task thread runs what is
  * downstream (mapping, or the Parquet encode). The reference's row loop
  * runs those layers one after another on one thread (main.go:175-195);
  * here they overlap.
  *
  * Rows cross in batches through a bounded FIFO queue, so partition row
  * order is kept and memory in flight is fixed: a batch closes at
  * [[BatchRows]] rows or [[BatchBytes]] bytes, and at most
  * [[QueueBatches]] + 2 batches (queued, being filled, being drained)
  * exist per boundary. A producer failure is rethrown on the task
  * thread, and task completion stops and joins the producer before the
  * source's own close listener runs.
  */
object Pipeline {
  val BatchRows = 1024
  val BatchBytes: Long = 4L << 20
  val QueueBatches = 4
  /** Name prefix of every producer thread. */
  val ThreadPrefix = "graft-pipeline-"

  /** The same rows, partitioning and order as `df`, with `df`'s plan
    * running one thread ahead of whatever consumes the result.
    */
  def prefetch(df: DataFrame): DataFrame = {
    val schema = df.schema
    val rows = df.queryExecution.toRdd.mapPartitions(
      it => new Prefetcher(it, schema, TaskContext.get()), preservesPartitioning = true)
    PipelineShim.createDataFrame(df.sparkSession, rows, schema)
  }

  private val End = new Array[InternalRow](0)

  private final class Prefetcher(upstream: Iterator[InternalRow], schema: StructType,
      ctx: TaskContext) extends Iterator[InternalRow] {
    private val queue = new ArrayBlockingQueue[Array[InternalRow]](QueueBatches)
    @volatile private var stopped = false
    @volatile private var failure: Throwable = null
    private var batch = new Array[InternalRow](0)
    private var i = 0

    private val producer = new Thread(() => produce(), s"$ThreadPrefix${ctx.taskAttemptId()}")
    producer.setDaemon(true)
    // The upstream iterators were built, and their listeners registered
    // (a JDBC scan closes its connection in one), before this one; Spark
    // runs completion listeners in reverse order, so the producer stops
    // before its source closes. A task kill interrupts the task thread and
    // may leave its flag set here; the join still waits, and the flag is
    // restored after it.
    ctx.addTaskCompletionListener[Unit] { _ =>
      stopped = true
      producer.interrupt()
      Uninterruptibles.joinUninterruptibly(producer)
    }
    producer.start()

    private def produce(): Unit = {
      PipelineShim.setTaskContext(ctx)
      try {
        // JDBC and codegen iterators reuse their row object, so each row is
        // copied. A plan is not bound to emit UnsafeRows (without codegen a
        // columnar scan passes batch rows); converting those keeps the byte
        // bound exact.
        lazy val toUnsafe = UnsafeProjection.create(schema)
        val buf = new Array[InternalRow](BatchRows)
        var n = 0
        var bytes = 0L
        while (!stopped && upstream.hasNext) {
          val row = upstream.next() match {
            case u: UnsafeRow => u.copy()
            case r => toUnsafe(r).copy()
          }
          buf(n) = row
          n += 1
          bytes += row.getSizeInBytes
          if (n == BatchRows || bytes >= BatchBytes) {
            queue.put(Arrays.copyOf(buf, n))
            n = 0
            bytes = 0L
          }
        }
        if (n > 0) queue.put(Arrays.copyOf(buf, n))
      } catch {
        case t: Throwable => failure = t
      } finally {
        if (!stopped) try queue.put(End) catch { case _: InterruptedException => }
      }
    }

    override def hasNext: Boolean = {
      while (i == batch.length && (batch ne End)) {
        batch = queue.take()
        i = 0
      }
      if ((batch eq End) && failure != null) throw failure
      i < batch.length
    }

    override def next(): InternalRow = {
      if (!hasNext) throw new NoSuchElementException("end of prefetched partition")
      i += 1
      batch(i - 1)
    }
  }
}
