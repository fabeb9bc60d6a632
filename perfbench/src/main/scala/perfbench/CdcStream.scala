package perfbench

import graft.catalog.TableMeta
import graft.streaming.CdcPipeline
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}
import org.json4s._
import org.json4s.jackson.JsonMethods

import java.io.File
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.locks.LockSupport
import scala.collection.mutable
import scala.jdk.CollectionConverters._

case class SrcMeta(db: String, table: String, ts_ms: Long)
case class Acct(id: Long, balance: Double, status: String, note: String)
case class Env(op: String, ts_ms: Long, source: SrcMeta, before: Acct, after: Acct, __seq: Long)

/** `cdc_stream`: seeded Debezium envelopes through `CdcPipeline` over a
  * `MemoryStream` into a bucketed `ParquetUpsertTable`.
  *
  * Phase 1 is an open loop at a fixed event rate; each event is timed from
  * its due time to the commit of the micro-batch that applied it. Phase 2
  * is a closed loop: each pass delivers one fixed-size micro-batch of
  * backlog and waits until it is applied. The final table must equal the
  * generator's model of latest state per key.
  */
object CdcStream {
  import Main._

  private val Statuses = Array("active", "frozen", "closed", "pending")

  /** Zipf-skewed keys over `keys` ids, c/u/d ops (creates for absent keys),
    * non-decreasing `ts_ms` with a `tieShare` of equal-timestamp ties; the
    * `__seq` column breaks ties. `model` is the expected latest state.
    */
  final class Gen(seed: Long, keys: Int, zipf: Double, tieShare: Double, deleteShare: Double) {
    private val rnd = new java.util.SplittableRandom(seed)
    private val cdf: Array[Double] = {
      val w = Array.tabulate(keys)(r => 1.0 / math.pow(r + 1, zipf))
      val c = w.scanLeft(0.0)(_ + _).tail
      c.map(_ / c.last)
    }
    private val ids: Array[Long] = {
      val a = Array.tabulate(keys)(_.toLong)
      for (i <- keys - 1 to 1 by -1) {
        val j = rnd.nextInt(i + 1)
        val t = a(i); a(i) = a(j); a(j) = t
      }
      a
    }
    val model = mutable.HashMap.empty[Long, Acct]
    private var seq = 0L
    private var ts = 1700000000000L

    private def acct(id: Long) =
      Acct(id, rnd.nextInt(10000000) / 100.0, Statuses(rnd.nextInt(Statuses.length)), s"n$seq")

    /** Every key created once: the table's bootstrap snapshot. */
    def snapshot(): Seq[Acct] = ids.toSeq.sorted.map { id =>
      val a = acct(id); model(id) = a; a
    }

    def next(): Env = {
      val r = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      val id = ids(math.min(if (r >= 0) r else -r - 1, keys - 1))
      seq += 1
      if (rnd.nextDouble() >= tieShare) ts += 1
      val src = SrcMeta("bench", "accounts", ts)
      model.get(id) match {
        case None =>
          val a = acct(id); model(id) = a; Env("c", ts, src, null, a, seq)
        case Some(b) if rnd.nextDouble() < deleteShare =>
          model.remove(id); Env("d", ts, src, b, null, seq)
        case Some(b) =>
          val a = acct(id); model(id) = a; Env("u", ts, src, b, a, seq)
      }
    }

    def take(n: Int): Array[Env] = Array.fill(n)(next())
  }

  final case class Batch(atNs: Long, batchId: Long, endOffset: Long,
      durations: Map[String, Long], bucketsRewritten: Int)

  /** Collects every non-empty micro-batch's progress. When `manifests` is
    * set (traced runs) it also diffs the table's newest manifest against the
    * previous one to count the buckets each merge rewrote.
    */
  final class Progress(manifests: Option[File]) extends StreamingQueryListener {
    val batches = new ConcurrentLinkedQueue[Batch]()
    @volatile var committed: Long = -1L
    private var lastBuckets = Map.empty[String, String]

    private def newestBuckets(dir: File): Map[String, String] = {
      val files = Option(dir.listFiles()).getOrElse(Array.empty[File])
        .filter(f => f.getName.matches("v\\d+\\.json"))
      if (files.isEmpty) Map.empty
      else {
        val f = files.maxBy(_.getName.drop(1).stripSuffix(".json").toInt)
        JsonMethods.parse(new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")) \
          "buckets" match {
          case JObject(kv) => kv.collect { case (k, JString(v)) => k -> v }.toMap
          case _ => Map.empty
        }
      }
    }

    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0) {
        val at = System.nanoTime()
        val end = p.sources.head.endOffset.replaceAll("[^0-9]", "").toLong
        // a manifest removed by the table's GC while being read leaves this
        // batch's count unknown (-1) rather than losing the batch
        val rewritten = manifests.flatMap(dir => scala.util.Try(newestBuckets(dir)).toOption)
          .map { now =>
            val n = (now.keySet ++ lastBuckets.keySet).count(k => now.get(k) != lastBuckets.get(k))
            lastBuckets = now
            n
          }.getOrElse(-1)
        batches.add(Batch(at, p.batchId, end,
          p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap, rewritten))
        committed = end
      }
    }
  }

  private def offsetOf(o: Any): Long = o.toString.replaceAll("[^0-9]", "").toLong

  def run(spark: SparkSession, conf: Conf, trace: Trace, tracing: Boolean): Map[String, JValue] = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val work = conf.str("work_dir")
    val c = conf.obj("cdc")
    val meta = TableMeta("accounts", Seq("id"))
    val trigger = Trigger.ProcessingTime(c.long("trigger_ms"))
    val s0 = System.nanoTime()
    val g = new Gen(conf.long("seed"), c.int("keys"), c.num("zipf"), c.num("tie_share"),
      c.num("delete_share"))
    val tablePath = s"$work/table"
    val pipe = new CdcPipeline(spark, meta, tablePath, s"$work/ckpt", numBuckets = c.int("buckets"))
    pipe.bootstrap(g.snapshot().toDF())
    val inputsMs = (System.nanoTime() - s0) / 1e6

    val progress = new Progress(if (tracing) Some(new File(tablePath, "_manifest")) else None)
    spark.streams.addListener(progress)
    // a fixed partition count, like a topic's: without it every addData
    // block becomes its own input partition
    val stream = MemoryStream[Env](conf.int("cores"))
    val q = pipe.start(stream.toDF(), trigger)
    val offsetEvents = mutable.ArrayBuffer.empty[Int] // events per addData offset
    def add(events: Seq[Env]): Long = {
      val off = offsetOf(stream.addData(events))
      require(off == offsetEvents.size, s"unexpected offset $off")
      offsetEvents += events.size
      off
    }

    // warm-up: untimed micro-batches of other events through the same query
    val w0 = System.nanoTime()
    for (_ <- 0 until c.int("warm_batches")) {
      add(g.take(c.int("batch_events")).toSeq)
      q.processAllAvailable()
    }
    org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
    val warmBatches = progress.batches.size
    val warmupMs = (System.nanoTime() - w0) / 1e6

    val rate = c.num("rate")
    val p1Events = g.take((rate * c.num("phase1_s")).toInt)
    // phase 1: open loop, events added as they fall due (at most every
    // `add_every_ms`), each timed from its due time
    trace.enabled = tracing
    val addEveryNs = (c.num("add_every_ms") * 1e6).toLong
    val t0 = System.nanoTime() + 20000000L
    val due = Array.tabulate(p1Events.length)(i => t0 + (i * 1e9 / rate).toLong)
    val adds = mutable.ArrayBuffer.empty[(Long, Int, Int)] // (offset, first, end)
    val genLateMs = mutable.ArrayBuffer.empty[Double]
    val backlog = mutable.ArrayBuffer.empty[Int]
    var i = 0
    var lastAdd = 0L
    val (_, phase1) = trace.span("phase1", "stream") { _ =>
      while (i < p1Events.length) {
        val wake = math.max(due(i), lastAdd + addEveryNs)
        val now0 = System.nanoTime()
        if (wake > now0) LockSupport.parkNanos(wake - now0)
        val now = System.nanoTime()
        var j = i
        while (j < p1Events.length && due(j) <= now) j += 1
        val off = add(p1Events.slice(i, j).toSeq)
        genLateMs += (now - due(i)) / 1e6
        val done = progress.committed
        val committedEvents = adds.filter(_._1 <= done).lastOption.map(_._3).getOrElse(0)
        backlog += j - committedEvents
        adds += ((off, i, j))
        lastAdd = now
        i = j
      }
      q.processAllAvailable()
    }
    org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
    trace.enabled = false
    val p1Batches = progress.batches.asScala.toSeq.sortBy(_.batchId).drop(warmBatches)
    val lags = adds.flatMap { case (off, a, b) =>
      p1Batches.find(_.endOffset >= off) match {
        case Some(bt) => (a until b).map(e => (bt.atNs - due(e)) / 1e6)
        case None => sys.error(s"offset $off never committed")
      }
    }

    // phase 2: closed loop, each pass one fixed-size micro-batch of backlog
    val perBatch = c.int("batch_events")
    val passes = measure(spark, trace, tracing, conf.int("passes"), conf.int("cores")) { (p, parent) =>
      val events = g.take(perBatch).toSeq
      val op = call(spark, trace, parent, s"p$p/catchup", "catchup", "catchup") { _ =>
        add(events)
        q.processAllAvailable()
      }(_ => "")
      (Seq(op), Map.empty)
    }
    org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
    q.stop()
    spark.streams.removeListener(progress)

    // output check: the materialized table equals the model
    val got = pipe.table.read().as[Acct].collect()
    val gotMap = got.map(a => a.id -> a).toMap
    val wrong = (gotMap.keySet ++ g.model.keySet).count(k => gotMap.get(k) != g.model.get(k))
    val checkMsg =
      if (got.length != gotMap.size) s"${got.length - gotMap.size} duplicate keys"
      else if (wrong > 0) s"$wrong keys differ from the model"
      else ""

    val table = new File(tablePath)
    val epochs = Option(new File(table, "data").listFiles()).getOrElse(Array.empty[File])
    val files = epochs.toSeq.flatMap(e => Option(e.listFiles()).getOrElse(Array.empty[File]))
      .flatMap(b => Option(b.listFiles()).getOrElse(Array.empty[File]))
      .count(_.getName.endsWith(".parquet"))
    val allBatches = progress.batches.asScala.toSeq.sortBy(_.batchId)
    if (tracing) {
      trace.enabled = true
      allBatches.foreach { b =>
        val op = s"stream/batch${b.batchId}"
        val start = b.atNs - b.durations.getOrElse("triggerExecution", 0L) * 1000000L
        val parent = if (p1Batches.exists(_.batchId == b.batchId)) phase1.id else 0L
        val id = trace.record("trigger", op, parent, start, b.atNs)
        var t = start
        Seq("latestOffset", "getBatch", "queryPlanning", "walCommit", "addBatch", "commitOffsets")
          .foreach { k =>
            val d = b.durations.getOrElse(k, 0L) * 1000000L
            if (d > 0) trace.record(k, op, id, t, t + d)
            t += d
          }
      }
      trace.enabled = false
    }
    Map(
      "warmup_ms" -> JDouble(warmupMs),
      "inputs_ms" -> JDouble(inputsMs),
      "phase1" -> JObject(
        "events" -> JInt(p1Events.length), "rate" -> JDouble(rate),
        "ms" -> JDouble(phase1.ms),
        "lags_ms" -> JArray(lags.map(JDouble(_)).toList),
        "gen_late_ms" -> JArray(genLateMs.map(JDouble(_)).toList),
        "backlog_events" -> JArray(backlog.map(JInt(_)).toList),
        "first_batch" -> JLong(p1Batches.headOption.map(_.batchId).getOrElse(-1L)),
        "last_batch" -> JLong(p1Batches.lastOption.map(_.batchId).getOrElse(-1L))),
      "batches" -> JArray(allBatches.toList.zip(-1L +: allBatches.map(_.endOffset)).map {
        case (b, prevEnd) =>
        JObject("batch_id" -> JLong(b.batchId),
          "events" -> JInt(offsetEvents.slice((prevEnd + 1).toInt, b.endOffset.toInt + 1).sum),
          "buckets_rewritten" -> JInt(b.bucketsRewritten),
          "durations" -> JObject(b.durations.toList.map { case (k, v) => k -> JLong(v) }),
          "counts" -> trace.opCounts(s"stream/batch${b.batchId}").json)
      }),
      "events_per_pass" -> JInt(perBatch),
      "check" -> JString(checkMsg),
      "live_rows" -> JLong(got.length.toLong),
      "store_bytes" -> JLong(dirBytes(table)),
      "files_live" -> JInt(files),
      "epochs_live" -> JInt(epochs.length),
      "passes" -> passesJson(passes, trace))
  }
}
