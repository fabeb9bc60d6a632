package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate
import org.json4s.JsonAST._

import scala.collection.concurrent.TrieMap
import scala.collection.mutable

/** One timed interval at a layer boundary. `parent` is the span that caused
  * it (0 for a root) and `op` the per-query or per-batch id its children share.
  */
final case class Span(id: Long, parent: Long, name: String, op: String,
    startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spark listener counts for one operation, filled from the job, stage and
  * task events whose jobs carry the operation's id as a local property.
  */
final class Counts {
  var jobs, stages, tasks, aqeReplans = 0L
  var runMs, cpuMs, gcMs = 0L
  var inputBytes, shuffleReadBytes, shuffleWriteBytes, spillBytes, outputBytes = 0L
  var peakExecMem = 0L

  def add(o: Counts): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; aqeReplans += o.aqeReplans
    runMs += o.runMs; cpuMs += o.cpuMs; gcMs += o.gcMs
    inputBytes += o.inputBytes; shuffleReadBytes += o.shuffleReadBytes
    shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
    outputBytes += o.outputBytes; peakExecMem = math.max(peakExecMem, o.peakExecMem)
  }

  def json: JValue = JObject(
    "jobs" -> JLong(jobs), "stages" -> JLong(stages), "tasks" -> JLong(tasks),
    "aqe_replans" -> JLong(aqeReplans), "task_run_ms" -> JLong(runMs),
    "task_cpu_ms" -> JLong(cpuMs), "gc_ms" -> JLong(gcMs),
    "input_bytes" -> JLong(inputBytes), "shuffle_read_bytes" -> JLong(shuffleReadBytes),
    "shuffle_write_bytes" -> JLong(shuffleWriteBytes), "spill_bytes" -> JLong(spillBytes),
    "output_bytes" -> JLong(outputBytes), "peak_exec_mem" -> JLong(peakExecMem))
}

/** In-memory tracer. Spans are kept in a buffer and written once at the end
  * of the run; listener counts are keyed by the operation id set as the
  * `Trace.OpProperty` local property around each call into the engine
  * (streaming batches add their batch id). When `enabled` is false every
  * hook is a no-op, so untraced passes pay nothing but the flag check.
  */
final class Trace extends SparkListener {
  @volatile var enabled = false
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0L
  private val stageOp = TrieMap.empty[Int, String]
  private val execOp = TrieMap.empty[Long, String]
  private val counts = TrieMap.empty[String, Counts]

  private def countsOf(op: String): Counts = counts.getOrElseUpdate(op, new Counts)

  /** Time `body` as a span named `name` under `parent`; returns the result
    * and the span (the span is recorded only while tracing is enabled).
    */
  def span[A](name: String, op: String, parent: Long = 0L)(body: Long => A): (A, Span) = {
    val id = synchronized { nextId += 1; nextId }
    val t0 = System.nanoTime()
    val a = body(id)
    val s = Span(id, parent, name, op, t0, System.nanoTime())
    if (enabled) synchronized { spans += s }
    (a, s)
  }

  /** Record an interval measured elsewhere (streaming progress durations). */
  def record(name: String, op: String, parent: Long, startNs: Long, endNs: Long): Long =
    synchronized {
      nextId += 1
      if (enabled) spans += Span(nextId, parent, name, op, startNs, endNs)
      nextId
    }

  def spansJson: JValue = synchronized {
    JArray(spans.toList.map(s => JObject(
      "id" -> JLong(s.id), "parent" -> JLong(s.parent), "name" -> JString(s.name),
      "op" -> JString(s.op), "start_ns" -> JLong(s.startNs), "end_ns" -> JLong(s.endNs))))
  }

  /** Listener counts summed over every operation whose id starts with `prefix`. */
  def countsFor(prefix: String): Counts = {
    val c = new Counts
    counts.foreach { case (op, v) => if (op.startsWith(prefix)) c.add(v) }
    c
  }

  def opCounts(op: String): Counts = counts.getOrElse(op, new Counts)

  /** Jobs of a streaming micro-batch are keyed `stream/batch<id>`. */
  private def opOf(props: java.util.Properties): Option[String] = Option(props).flatMap { p =>
    Option(p.getProperty("streaming.sql.batchId")).map(b => s"stream/batch$b")
      .orElse(Option(p.getProperty(Trace.OpProperty)))
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) {
    opOf(e.properties).foreach { op =>
      countsOf(op).synchronized(countsOf(op).jobs += 1)
      e.stageIds.foreach(stageOp.put(_, op))
      Option(e.properties.getProperty("spark.sql.execution.id"))
        .foreach(id => execOp.put(id.toLong, op))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (enabled) {
    stageOp.get(e.stageInfo.stageId).foreach { op =>
      val c = countsOf(op)
      c.synchronized(c.stages += 1)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (enabled) {
    for (op <- stageOp.get(e.stageId); m <- Option(e.taskMetrics)) {
      val c = countsOf(op)
      c.synchronized {
        c.tasks += 1
        c.runMs += m.executorRunTime
        c.cpuMs += m.executorCpuTime / 1000000L
        c.gcMs += m.jvmGCTime
        c.inputBytes += m.inputMetrics.bytesRead
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.outputBytes += m.outputMetrics.bytesWritten
        c.peakExecMem = math.max(c.peakExecMem, m.peakExecutionMemory)
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = if (enabled) e match {
    case u: SparkListenerSQLAdaptiveExecutionUpdate =>
      execOp.get(u.executionId).foreach { op =>
        val c = countsOf(op)
        c.synchronized(c.aqeReplans += 1)
      }
    case _ =>
  }
}

object Trace {
  val OpProperty = "perfbench.op"
}
