package perfbench

import graft.GraftSession
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s._
import org.json4s.jackson.JsonMethods

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** Benchmark harness JVM. `perfbench/run.py` generates the inputs, writes a
  * config file and starts this main with its path; the harness sets up a
  * session, warms up on the warm-up inputs, measures the configured number
  * of passes, and writes raw samples, digests, listener
  * counts and spans to the config's `out` file. Metrics are computed from
  * that file by `run.py`.
  */
object Main {

  final class Conf(j: JValue) {
    def str(k: String): String = (j \ k).asInstanceOf[JString].s
    def num(k: String): Double = j \ k match {
      case JInt(n) => n.toDouble
      case JDouble(d) => d
      case JLong(n) => n.toDouble
      case other => sys.error(s"config $k: $other")
    }
    def int(k: String): Int = num(k).toInt
    def long(k: String): Long = num(k).toLong
    def bool(k: String): Boolean = (j \ k).asInstanceOf[JBool].value
    def strs(k: String): Seq[String] = (j \ k).asInstanceOf[JArray].arr.map(_.asInstanceOf[JString].s)
    def longs(k: String): Seq[Long] = (j \ k).asInstanceOf[JArray].arr.map {
      case JInt(n) => n.toLong
      case other => sys.error(s"config $k: $other")
    }
    def obj(k: String): Conf = new Conf(j \ k)
    def objs(k: String): Seq[Conf] = (j \ k).asInstanceOf[JArray].arr.map(new Conf(_))
  }

  /** One measured operation: a query, a store or validation call, or a
    * streaming catch-up. `check` is empty when the call's output is right.
    */
  final case class Op(op: String, key: String, kind: String, ms: Double,
      constructMs: Double = 0, planMs: Double = 0, execMs: Double = 0,
      phases: Map[String, Double] = Map.empty, digest: String = "",
      error: String = "", check: String = "", cpuMs: Double = 0) {
    def json: JValue = JObject(
      "op" -> JString(op), "key" -> JString(key), "kind" -> JString(kind),
      "ms" -> JDouble(ms), "cpu_ms" -> JDouble(cpuMs), "construct_ms" -> JDouble(constructMs),
      "plan_ms" -> JDouble(planMs), "exec_ms" -> JDouble(execMs),
      "phases" -> JObject(phases.toList.map { case (k, v) => k -> JDouble(v) }),
      "digest" -> JString(digest),
      "error" -> JString(error), "check" -> JString(check))
  }

  final case class Pass(index: Int, traced: Boolean, ms: Double, cpuMs: Double, ops: Seq[Op],
      extra: Map[String, JValue] = Map.empty)

  /** CPU time used so far by the JVM's Java threads (the driver, Spark's
    * task and service threads), in ns: the process's CPU time without that
    * of HotSpot's own threads. JIT compilation tails off over minutes of
    * warm-up and GC threads run concurrently at their own pace, so both
    * would make the figure move with the JVM's state rather than the
    * program's work.
    */
  def processCpuNs(): Long = {
    val all = ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
      case _ => 0L
    }
    all - jvmThreadsCpuNs().values.sum
  }

  // HotSpot's per-thread CPU times of its internal threads (package
  // sun.management, exported to the harness by run.py)
  private lazy val internalThreads: Option[(AnyRef, java.lang.reflect.Method)] = scala.util.Try {
    val bean = Class.forName("sun.management.ManagementFactoryHelper")
      .getMethod("getHotspotThreadMBean").invoke(null)
    val m = Class.forName("sun.management.HotspotThreadMBean").getMethod("getInternalThreadCpuTimes")
    (bean, m)
  }.toOption

  /** CPU time so far of HotSpot's internal threads, in ns, grouped as "jit"
    * (compiler threads), "gc" and "other"; empty where HotSpot does not
    * expose them.
    */
  def jvmThreadsCpuNs(): Map[String, Long] = internalThreads.map { case (bean, m) =>
    import scala.jdk.CollectionConverters._
    m.invoke(bean).asInstanceOf[java.util.Map[String, java.lang.Long]].asScala.toSeq
      .groupMapReduce { case (name, _) =>
        if (name.contains("CompilerThread")) "jit"
        else if (name.startsWith("GC ") || name.startsWith("G1 ")) "gc"
        else "other"
      }(_._2.longValue)(_ + _)
  }.getOrElse(Map.empty)

  def dirBytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).map(dirBytes).sum
    else f.length()

  def cpuMsSince(ns: Long): Double = (processCpuNs() - ns) / 1e6

  /** Heap in use after full GCs, once the listener bus is empty (queued
    * events hold plans). Spark's context cleaner frees shuffle and broadcast
    * blocks asynchronously once a GC finds them unreachable, so collect
    * until the figure stops falling (at most five rounds).
    */
  def heapAfterGcMb(spark: SparkSession): Double = {
    org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
    def used() = { System.gc(); ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed }
    var last = used()
    var rounds = 1
    var falling = true
    while (falling && rounds < 5) {
      Thread.sleep(200)
      val now = used()
      falling = now < last - (1L << 20)
      last = math.min(last, now)
      rounds += 1
    }
    last / 1048576.0
  }

  def errorText(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"

  /** Run one engine query as a `query` span under `parent` with construct,
    * plan and execute children. Execution collects every row into this JVM,
    * so every output column is computed (a bare count() could be pruned).
    */
  def query(spark: SparkSession, trace: Trace, parent: Long, op: String, key: String,
      kind: String, build: => DataFrame): Op = {
    val sc = spark.sparkContext
    sc.setLocalProperty(Trace.OpProperty, op)
    val c0 = processCpuNs()
    val t0 = System.nanoTime()
    try trace.span("query", op, parent) { id =>
      val (df, c) = trace.span("construct", op, id)(_ => build)
      val (_, p) = trace.span("plan", op, id)(_ => df.queryExecution.executedPlan)
      val (rows, x) = trace.span("execute", op, id)(_ => df.collect())
      val phases = df.queryExecution.tracker.phases.map { case (k, v) => k -> v.durationMs.toDouble }
      val (ms, cpu) = ((System.nanoTime() - t0) / 1e6, cpuMsSince(c0))
      Op(op, key, kind, ms, c.ms, p.ms, x.ms, phases, Digest.of(df.columns.toSeq, rows),
        cpuMs = cpu)
    }._1
    catch {
      case e: Throwable =>
        Op(op, key, kind, (System.nanoTime() - t0) / 1e6, error = errorText(e))
    } finally sc.setLocalProperty(Trace.OpProperty, null)
  }

  /** Time an arbitrary engine call as one span; `check` returns "" when its
    * output is right, otherwise what is wrong.
    */
  def call[A](spark: SparkSession, trace: Trace, parent: Long, op: String, key: String,
      kind: String)(body: Long => A)(check: A => String): Op = {
    val sc = spark.sparkContext
    sc.setLocalProperty(Trace.OpProperty, op)
    val c0 = processCpuNs()
    val t0 = System.nanoTime()
    try {
      val (a, s) = trace.span(kind, op, parent)(body)
      val cpu = cpuMsSince(c0)
      Op(op, key, kind, s.ms, execMs = s.ms, check = check(a), cpuMs = cpu)
    } catch {
      case e: Throwable =>
        Op(op, key, kind, (System.nanoTime() - t0) / 1e6, error = errorText(e))
    } finally sc.setLocalProperty(Trace.OpProperty, null)
  }

  def storageJson(spark: SparkSession): JValue = {
    val sc = spark.sparkContext
    val infos = sc.getRDDStorageInfo
    JObject("persisted_rdds" -> JLong(sc.getPersistentRDDs.size.toLong),
      "persisted_mb" -> JDouble(infos.map(i => i.memSize + i.diskSize).sum / 1048576.0))
  }

  /** Run `count` passes: a fixed amount of work, so every run of every
    * commit measures the same thing. Three host-speed probes run before each
    * pass and after the last one. In a traced run even passes are traced and
    * odd passes are not, so the traced-minus-untraced pass time is the
    * tracing overhead.
    */
  def measure(spark: SparkSession, trace: Trace, tracing: Boolean, count: Int, cores: Int)(
      pass: (Int, Long) => (Seq[Op], Map[String, JValue])): Seq[Pass] = {
    (0 until 3).foreach(_ => Probe.cpuMs(cores)) // the probe's own JIT warm-up
    def probes() = (0 until 3).map(_ => Probe.cpuMs(cores))
    (0 until count).map { i =>
      val probe = probes()
      val traced = tracing && i % 2 == 0
      trace.enabled = traced
      val (c0, jvm0) = (processCpuNs(), jvmThreadsCpuNs())
      val ((ops, extra), s) = trace.span("pass", s"p$i")(id => pass(i, id))
      val cpu = cpuMsSince(c0)
      // CPU of HotSpot's own threads during the pass, for the report
      val jvm = JObject(jvmThreadsCpuNs().toList.map { case (k, v) =>
        k -> JDouble((v - jvm0.getOrElse(k, 0L)) / 1e6) })
      if (traced) org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
      trace.enabled = false
      val more = if (traced)
        Map("heap_after_gc_mb" -> JDouble(heapAfterGcMb(spark)), "storage" -> storageJson(spark))
      else Map.empty[String, JValue]
      val ps = probe ++ (if (i == count - 1) probes() else Nil)
      Pass(i, traced, s.ms, cpu, ops, extra ++ more ++ Map("jvm_threads_cpu_ms" -> jvm,
        "probe_cpu_ms" -> JArray(ps.map(JDouble(_)).toList)))
    }
  }

  def main(args: Array[String]): Unit = {
    val conf = new Conf(JsonMethods.parse(new String(Files.readAllBytes(Paths.get(args(0))), "UTF-8")))
    val cores = conf.int("cores")
    val work = conf.str("work_dir")
    val spark = GraftSession.builder(s"local[$cores]", cores)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      // Spark's own UI history trims itself in batches on a background
      // thread once it passes these limits; small limits keep that
      // bookkeeping from swinging the retained heap, which is the engine's
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.sql.ui.retainedExecutions", "50")
      .config("spark.streaming.ui.retainedBatches", "50")
      .config("spark.sql.streaming.ui.retainedProgressUpdates", "50")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionMs = ManagementFactory.getRuntimeMXBean.getUptime.toDouble
    val trace = new Trace
    val tracing = conf.bool("trace")
    if (tracing) spark.sparkContext.addSparkListener(trace)
    val result: Map[String, JValue] = try conf.str("workload") match {
      case "validate" => Validate.run(spark, conf, trace, tracing)
      case "cdc_stream" => CdcStream.run(spark, conf, trace, tracing)
      case other => sys.error(s"unknown workload $other")
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        Map("fatal" -> JString(errorText(e)))
    }
    spark.streams.active.foreach(_.stop())
    Probe.release()
    val storage = storageJson(spark)
    val heapEnd = heapAfterGcMb(spark)
    val out = result ++ Map(
      "session_ms" -> JDouble(sessionMs),
      "heap_end_mb" -> JDouble(heapEnd),
      "storage_end" -> storage,
      "spans" -> trace.spansJson)
    Files.write(Paths.get(conf.str("out")),
      JsonMethods.compact(JsonMethods.render(JObject(out.toList))).getBytes("UTF-8"))
    spark.stop()
  }

  def passesJson(passes: Seq[Pass], trace: Trace): JValue = JArray(passes.toList.map { p =>
    JObject(List(
      "index" -> JInt(p.index), "traced" -> JBool(p.traced), "ms" -> JDouble(p.ms),
      "cpu_ms" -> JDouble(p.cpuMs), "ops" -> JArray(p.ops.toList.map { o =>
        o.json merge JObject("counts" -> (if (p.traced) trace.opCounts(o.op).json else JNothing))
      }),
      "counts" -> (if (p.traced) trace.countsFor(s"p${p.index}/").json else JNothing)) ++
      p.extra.toList)
  })
}
