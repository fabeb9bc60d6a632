package graft

import graft.catalog.TableMeta
import graft.streaming.CdcPipeline
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

case class SrcMeta(db: String, table: String, ts_ms: Long)
case class RowKV(k: Long, v: String)
case class Env(op: String, ts_ms: Long, source: SrcMeta, before: RowKV, after: RowKV)

class CdcPipelineSpec extends SparkSuite {
  import spark.implicits._

  private def env(op: String, ts: Long, k: Long, v: String) =
    Env(op, ts, SrcMeta("db1", "t1", ts),
      if (op == "d" || op == "u") RowKV(k, v) else null,
      if (op != "d") RowKV(k, v) else null)

  test("streaming CDC end-to-end: seed, upsert, delete across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val base = tmpDir("cdcpipe")
    val meta = TableMeta("t1", Seq("k"))
    val pipe = new CdcPipeline(spark, meta, s"$base/table", s"$base/ckpt", numBuckets = 4)
    val stream = MemoryStream[Env]
    val q = pipe.start(stream.toDF(), Trigger.ProcessingTime("200 milliseconds"))

    stream.addData(env("c", 1, 1, "a"), env("c", 1, 2, "b"))
    q.processAllAvailable()
    assert(pipe.table.read().as[RowKV].collect().sortBy(_.k).toSeq ==
      Seq(RowKV(1, "a"), RowKV(2, "b")))

    stream.addData(env("u", 2, 1, "a2"), env("d", 2, 2, "b"), env("c", 2, 3, "c"))
    q.processAllAvailable()
    // metrics-export integration (r12 verdict ask): scrape the LIVE
    // pipeline's progress through the reference-shape renderer while
    // the query is still running — the path a driver /metrics endpoint
    // executes, not just the pure-renderer golden. totalEvents is the
    // caller-tracked cumulative (2 + 3 envelopes across the batches).
    val p = q.lastProgress
    assert(p != null)
    val scrape = graft.streaming.MetricsExport.render(
      graft.streaming.MetricsExport.gaugesFor(
        graft.streaming.MetricsExport.fromProgress(
          "graft", "db1", "cdcpipe-t1", 0, p, totalEvents = 5L)))
    assert(scrape.contains("graft_cdc_streaming_total_events{server=\"db1\"} 5"))
    assert(scrape.contains(
      "kafka_connect_task_status{connector=\"cdcpipe-t1\",task=\"0\"} 1"))
    val pollLine = scrape.linesIterator
      .find(_.startsWith("kafka_connect_source_task_poll_batch_avg_time_ms")).get
    assert(pollLine.split(' ').last.toDouble >= 0.0)
    q.stop()
    assert(pipe.table.read().as[RowKV].collect().sortBy(_.k).toSeq ==
      Seq(RowKV(1, "a2"), RowKV(3, "c")))
  }

  test("heartbeat listener reports progress (T5)") {
    implicit val sqlCtx = spark.sqlContext
    val listener = new graft.streaming.StreamMonitor.HeartbeatListener
    spark.streams.addListener(listener)
    val base = tmpDir("cdchb")
    val pipe = new CdcPipeline(spark, TableMeta("t2", Seq("k")),
      s"$base/table", s"$base/ckpt", numBuckets = 2)
    val stream = MemoryStream[Env]
    val q = pipe.start(stream.toDF())
    stream.addData(env("c", 1, 1, "a"))
    q.processAllAvailable()
    val lag = listener.lagSeconds(q.id)
    q.stop()
    spark.streams.removeListener(listener)
    assert(lag.isDefined && lag.get <= 60)
  }
}

class DlqSpec extends SparkSuite {
  import graft.catalog.TableMeta
  import graft.streaming.CdcPipeline
  import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
  import spark.implicits._

  test("S10: failing batch is routed to the DLQ, stream survives") {
    implicit val sqlCtx = spark.sqlContext
    val base = tmpDir("dlq")
    // PK column that does not exist in the row schema -> merge fails
    val pipe = new CdcPipeline(spark, TableMeta("broken", Seq("no_such_col")),
      s"$base/table", s"$base/ckpt", dlqPath = Some(s"$base/dlq"), numBuckets = 2)
    val stream = MemoryStream[Env]
    val q = pipe.start(stream.toDF())
    stream.addData(Env("c", 1, SrcMeta("db", "t", 1), null, RowKV(1, "a")))
    q.processAllAvailable()
    q.stop()
    val dlq = spark.read.parquet(s"$base/dlq")
    assert(dlq.count() == 1)
    assert(dlq.columns.contains("__error") && dlq.columns.contains("__batch_id"))
  }
}

class BootstrapSpec extends SparkSuite {
  import graft.catalog.TableMeta
  import graft.streaming.CdcPipeline
  import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
  import spark.implicits._

  test("T2 bootstrap: batch seed then stream changes on top") {
    implicit val sqlCtx = spark.sqlContext
    val base = tmpDir("boot")
    val pipe = new CdcPipeline(spark, TableMeta("t3", Seq("k")),
      s"$base/table", s"$base/ckpt", numBuckets = 4)
    pipe.bootstrap(Seq(RowKV(1, "seed1"), RowKV(2, "seed2")).toDF())
    assert(pipe.table.read().as[RowKV].collect().sortBy(_.k).toSeq ==
      Seq(RowKV(1, "seed1"), RowKV(2, "seed2")))
    pipe.bootstrap(Seq(RowKV(9, "ignored")).toDF()) // second seed: no-op
    assert(pipe.table.read().count() == 2)

    val stream = MemoryStream[Env]
    val q = pipe.start(stream.toDF())
    stream.addData(
      Env("u", 5, SrcMeta("db", "t", 5), RowKV(1, "seed1"), RowKV(1, "upd1")),
      Env("d", 5, SrcMeta("db", "t", 5), RowKV(2, "seed2"), null))
    q.processAllAvailable()
    q.stop()
    assert(pipe.table.read().as[RowKV].collect().sortBy(_.k).toSeq ==
      Seq(RowKV(1, "upd1")))
  }
}

class RestartSpec extends SparkSuite {
  import graft.catalog.TableMeta
  import graft.streaming.{CdcPipeline, ChangeEventSource}
  import org.apache.spark.sql.{Encoders, SaveMode}
  import spark.implicits._

  test("T9: checkpointed restart resumes the file stream without corrupting state") {
    val base = tmpDir("restart")
    val srcDir = s"$base/events"
    val rowSchema = Encoders.product[RowKV].schema
    def writeBatch(events: Seq[Env], part: String): Unit =
      spark.createDataset(events).toDF()
        .write.mode(SaveMode.Overwrite).json(s"$srcDir/$part")

    writeBatch(Seq(
      Env("c", 1, SrcMeta("db", "t", 1), null, RowKV(1, "a")),
      Env("c", 1, SrcMeta("db", "t", 1), null, RowKV(2, "b"))), "b1")

    val meta = TableMeta("rt", Seq("k"))
    val stream1 = ChangeEventSource.jsonDir(spark, s"$srcDir/*", rowSchema)
    val p1 = new CdcPipeline(spark, meta, s"$base/table", s"$base/ckpt")
    val q1 = p1.start(stream1)
    q1.processAllAvailable(); q1.stop()
    assert(p1.table.read().as[RowKV].collect().sortBy(_.k).toSeq ==
      Seq(RowKV(1, "a"), RowKV(2, "b")))

    // new files arrive while "down"; a fresh query on the same checkpoint
    // picks up ONLY the new batch and applies it on top
    writeBatch(Seq(
      Env("u", 2, SrcMeta("db", "t", 2), RowKV(1, "a"), RowKV(1, "a2")),
      Env("d", 2, SrcMeta("db", "t", 2), RowKV(2, "b"), null)), "b2")
    val stream2 = ChangeEventSource.jsonDir(spark, s"$srcDir/*", rowSchema)
    val p2 = new CdcPipeline(spark, meta, s"$base/table", s"$base/ckpt")
    val q2 = p2.start(stream2)
    q2.processAllAvailable(); q2.stop()
    assert(p2.table.read().as[RowKV].collect().sortBy(_.k).toSeq ==
      Seq(RowKV(1, "a2")))
  }
}

class LiveRoundTripSpec extends SparkSuite {
  import graft.catalog.TableMeta
  import graft.streaming.{CdcPipeline, LiveRoundTrip}
  import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
  import spark.implicits._

  test("active round trip: mutate through the stream, observe propagation, measure latency") {
    implicit val sqlCtx = spark.sqlContext
    val base = tmpDir("live")
    val meta = TableMeta("lt", Seq("k"))
    val pipe = new CdcPipeline(spark, meta, s"$base/table", s"$base/ckpt", numBuckets = 4)
    pipe.bootstrap(Seq(RowKV(1, "one"), RowKV(2, "two"), RowKV(3, "three")).toDF())
    val stream = MemoryStream[Env]
    val q = pipe.start(stream.toDF())
    try {
      val result = LiveRoundTrip.run(spark, meta,
        readTable = () => pipe.table.read(),
        emit = (key, _, marker) => {
          val k = key("k").asInstanceOf[Long]
          stream.addData(Env("u", 99L, SrcMeta("db", "lt", 99L), null, RowKV(k, marker)))
        },
        timeoutMs = 30000L)
      assert(result.propagated, s"no propagation within deadline: $result")
      assert(result.latencyMs < 30000L)
      assert(result.testValue.startsWith("CDC_TEST_"))
    } finally q.stop()
  }
}

case class Ev(event_id: Long, ts_ms: Long, payload: String)

class StreamDedupSpec extends SparkSuite {
  import graft.streaming.StreamDedup
  import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
  import spark.implicits._

  test("T1: redelivered events within the watermark horizon are dropped once") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Ev]
    val deduped = StreamDedup.dedupWithinWatermark(
      stream.toDF(), Seq("event_id"), "ts_ms", horizon = "10 minutes")
    val q = deduped.writeStream.format("memory").queryName("t1_dedup")
      .outputMode("append").start()
    try {
      val t0 = 1700000000000L
      stream.addData(Ev(1, t0, "a"), Ev(2, t0 + 1000, "b"),
        Ev(1, t0, "a"))                       // duplicate in the same batch
      q.processAllAvailable()
      stream.addData(Ev(2, t0 + 1000, "b"),   // redelivery in a later batch
        Ev(3, t0 + 2000, "c"))
      q.processAllAvailable()
      val got = spark.table("t1_dedup").as[Ev].collect().sortBy(_.event_id).toSeq
      assert(got.map(_.event_id) == Seq(1L, 2L, 3L), got.toString)
    } finally q.stop()
  }

  test("T1: dedup state is keyed, so distinct ids all pass") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Ev]
    val deduped = StreamDedup.dedupWithinWatermark(
      stream.toDF(), Seq("event_id"), "ts_ms", horizon = "1 minute")
    val q = deduped.writeStream.format("memory").queryName("t1_dedup2")
      .outputMode("append").start()
    try {
      val t0 = 1700000000000L
      stream.addData((1 to 50).map(i => Ev(i.toLong, t0 + i, s"p$i")): _*)
      q.processAllAvailable()
      assert(spark.table("t1_dedup2").count() == 50L)
    } finally q.stop()
  }
}

/** Kafka wire-record fixture — field-for-field the connector's
  * post-`.load()` shape (ChangeEventSource.KafkaRecordSchema).
  */
case class KafkaRec(key: Array[Byte], value: Array[Byte], topic: String,
    partition: Int, offset: Long, timestamp: java.sql.Timestamp, timestampType: Int)

class KafkaTransportSpec extends SparkSuite {
  import graft.catalog.TableMeta
  import graft.streaming.{CdcPipeline, ChangeEventSource}
  import org.apache.spark.sql.Encoders
  import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
  import org.apache.spark.sql.functions.col
  import spark.implicits._

  // no Kafka jars ship in this container, so a live broker round-trip
  // cannot run here; this drives the full post-transport path — the
  // value bytes are REAL serialized envelopes, decoded by the same
  // fromKafkaRecords the production reader uses after `.load()` — with
  // wire-shaped records, and pins the reader's subscription options
  test("kafka-wire round trip: serialized envelopes decode, route by topic, merge by offset order") {
    implicit val sqlCtx = spark.sqlContext
    val base = tmpDir("kafkawire")
    val rowSchema = Encoders.product[RowKV].schema
    def rec(topic: String, off: Long, env: Env): KafkaRec =
      KafkaRec(s"""{"k":${Option(env.after).getOrElse(env.before).k}}""".getBytes("UTF-8"),
        spark.createDataset(Seq(env)).toJSON.head().getBytes("UTF-8"),
        topic, 0, off, new java.sql.Timestamp(1700000000000L + off), 0)

    val stream = MemoryStream[KafkaRec]
    // the MemoryStream presents exactly the connector's wire schema
    assert(stream.toDF().schema.map(f => (f.name, f.dataType)).toSet ==
      ChangeEventSource.KafkaRecordSchema.map(f => (f.name, f.dataType)).toSet)
    val envelopes = ChangeEventSource.fromKafkaRecords(stream.toDF(), rowSchema)
      // P2: emulates the broker-side subscribePattern subscription
      .filter(col("__topic").rlike("^xchange\\.trading\\..*"))
      // T4: the broker offset is the monotonic per-partition order
      .withColumn("__seq", col("__kafka_offset"))
    val meta = TableMeta("kw", Seq("k"))
    val pipe = new CdcPipeline(spark, meta, s"$base/table", s"$base/ckpt")
    val q = pipe.start(envelopes)
    try {
      stream.addData(
        rec("xchange.trading.T_KW", 0, Env("c", 1, SrcMeta("db", "t", 1), null, RowKV(1, "a"))),
        rec("xchange.trading.T_KW", 1, Env("c", 1, SrcMeta("db", "t", 1), null, RowKV(2, "b"))),
        // off-subscription topic: must never reach the sink
        rec("other.cluster.T_X", 2, Env("c", 1, SrcMeta("db", "t", 1), null, RowKV(9, "IGNORED"))),
        // same source ts → the kafka offset breaks the tie (T4)
        rec("xchange.trading.T_KW", 3, Env("u", 2, SrcMeta("db", "t", 2), RowKV(1, "a"), RowKV(1, "a2"))),
        rec("xchange.trading.T_KW", 5, Env("u", 2, SrcMeta("db", "t", 2), RowKV(1, "a2"), RowKV(1, "a3"))),
        rec("xchange.trading.T_KW", 4, Env("d", 2, SrcMeta("db", "t", 2), RowKV(2, "b"), null)))
      q.processAllAvailable()
      assert(pipe.table.read().as[RowKV].collect().toSeq.sortBy(_.k) == Seq(RowKV(1, "a3")))
    } finally q.stop()
    // the production reader's subscription wiring (P2 regex, T9 replay)
    val opts = ChangeEventSource.kafkaOptions("broker:9092", "xchange\\.trading\\..*")
    assert(opts("kafka.bootstrap.servers") == "broker:9092")
    assert(opts("subscribePattern") == "xchange\\.trading\\..*")
    assert(opts("startingOffsets") == "earliest")
  }
}

class OrchestratorSpec extends SparkSuite {
  import graft.catalog.TableMeta
  import graft.streaming.CdcOrchestrator
  import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
  import spark.implicits._

  test("two tables stream concurrently under one orchestrator") {
    implicit val sqlCtx = spark.sqlContext
    val orch = new CdcOrchestrator(spark, tmpDir("orch"))
    val s1 = MemoryStream[Env]; val s2 = MemoryStream[Env]
    orch.register(TableMeta("ta", Seq("k")), s1.toDF(),
      snapshot = Some(Seq(RowKV(1, "seeded")).toDF()))
    orch.register(TableMeta("tb", Seq("k")), s2.toDF())
    s1.addData(Env("u", 2, SrcMeta("db", "ta", 2), RowKV(1, "seeded"), RowKV(1, "u1")))
    s2.addData(Env("c", 1, SrcMeta("db", "tb", 1), null, RowKV(7, "b1")))
    spark.streams.active.foreach(_.processAllAvailable())
    assert(orch.running == Seq("ta", "tb"))
    orch.stopAll()
    assert(orch.table("ta").get.read().as[RowKV].collect().toSeq == Seq(RowKV(1, "u1")))
    assert(orch.table("tb").get.read().as[RowKV].collect().toSeq == Seq(RowKV(7, "b1")))
  }
}

class ConfigDrivenOrchestratorSpec extends SparkSuite {
  import graft.catalog.{ConnectorConfig, TableMeta}
  import graft.streaming.CdcOrchestrator
  import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
  import spark.implicits._

  test("a deployed reference config stands up the whole table set end-to-end") {
    implicit val sqlCtx = spark.sqlContext
    val refCfg = s"${sys.env.getOrElse("SPARK_GRAFT_REF_DIR", "/root/reference")}" +
      "/connectors/sources/mariadb/live.json"
    assume(new java.io.File(refCfg).exists, s"reference config not present: $refCfg")
    val cfg = ConnectorConfig.load(refCfg)
    // catalog tier: a simple id PK per captured table (no MariaDB here)
    val (orch, metas) = CdcOrchestrator.fromConfig(spark, tmpDir("cfgorch"), cfg,
      t => Some(TableMeta(t, Seq("k"))))
    assert(metas.keySet == cfg.tables.toSet && metas.size == 10)
    // config semantics flow through: T_CARRIER carries the conditional rename
    assert(metas("T_CARRIER").renames == Map("user" -> "owner_user_id"))
    // every table's store resolves before any stream starts
    assert(cfg.tables.forall(t => orch.table(t).isDefined))

    // drive one configured table through its pipeline
    val s1 = MemoryStream[Env]
    orch.register(metas("T_CARRIER"), s1.toDF(),
      snapshot = Some(Seq(RowKV(5, "seeded")).toDF()))
    s1.addData(Env("u", 2, SrcMeta("xchangelive", "T_CARRIER", 2),
      RowKV(5, "seeded"), RowKV(5, "updated")))
    spark.streams.active.foreach(_.processAllAvailable())
    orch.stopAll()
    assert(orch.table("T_CARRIER").get.read().as[RowKV].collect().toSeq ==
      Seq(RowKV(5, "updated")))
  }
}
