package graft

import graft.operators.ParquetUpsertTable
import org.apache.spark.sql.functions._

import java.util.concurrent.atomic.AtomicReference

/** Hardening specs for the MVCC upsert store: the concurrent-reader race
  * that used to fail `LiveRoundTripSpec` (delete-then-rename bucket swap),
  * crash-consistency of the manifest commit, and T8 schema evolution with
  * an untouched bucket.
  */
class UpsertStoreSpec extends SparkSuite {
  import spark.implicits._

  private def changes(rows: (Long, String, String, Long)*) =
    rows.toSeq.toDF("k", "v", "__op", "__source_ts_ms")
      .withColumn("__seq", monotonically_increasing_id())

  test("concurrent reader never sees missing files across repeated merges") {
    val path = tmpDir("mvcc") + "/t"
    val t = new ParquetUpsertTable(spark, path, Seq("k"), numBuckets = 8)
    t.seed((1L to 64L).map(i => KV(i, s"v$i")).toDF("k", "v"))

    val failure = new AtomicReference[Throwable](null)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val reader = new Thread(() => {
      try {
        while (!stop.get()) {
          val n = t.read().count() // full-table read during live merges
          assert(n >= 60 && n <= 64, s"inconsistent snapshot: $n rows")
        }
      } catch { case e: Throwable => failure.set(e) }
    })
    reader.start()
    try {
      // 12 merges, each rewriting a few buckets (update 2 keys, delete 1,
      // re-insert it next round) — under the old swap this reliably threw
      // FILE_NOT_EXIST in the reader within a few iterations.
      (1 to 12).foreach { i =>
        val k1 = (i % 64) + 1L; val k2 = ((i * 7) % 64) + 1L
        t.merge(changes(
          (k1, s"u$i", "u", i.toLong),
          (k2, s"w$i", "u", i.toLong),
          ((i % 32) + 1L, "", "d", i.toLong)), Seq(col("__source_ts_ms"), col("__seq")))
        t.merge(changes(
          ((i % 32) + 1L, "back", "c", i + 100L)), Seq(col("__source_ts_ms"), col("__seq")))
      }
    } finally {
      stop.set(true); reader.join(30000)
    }
    assert(failure.get() == null, s"reader failed: ${failure.get()}")
    assert(t.read().count() == 64)
  }

  test("a crashed writer's uncommitted epoch dir is invisible to readers") {
    val path = tmpDir("crash") + "/t"
    val t = new ParquetUpsertTable(spark, path, Seq("k"), numBuckets = 4)
    t.seed(Seq(KV(1, "a"), KV(2, "b")).toDS().toDF())
    val before = t.read().as[KV].collect().toSet
    // simulate a writer that died after writing epoch data but BEFORE the
    // manifest commit: stray epoch dir with garbage rows, no manifest
    Seq(KV(99, "ghost")).toDS().toDF()
      .withColumn("__bucket", lit(0))
      .write.partitionBy("__bucket").parquet(s"$path/data/e99998")
    assert(t.read().as[KV].collect().toSet == before)
    // and the next real merge still works and still excludes the ghost
    t.merge(changes((3L, "c", "c", 1L)), Seq(col("__source_ts_ms"), col("__seq")))
    assert(t.read().as[KV].collect().toSet == before + KV(3, "c"))
  }

  test("T8: untouched bucket surfaces the evolved column as nulls") {
    val path = tmpDir("evo2") + "/t"
    val t = new ParquetUpsertTable(spark, path, Seq("k"), numBuckets = 64)
    // find two keys in different buckets
    val ks = (1L to 20L)
    t.seed(ks.map(i => KV(i, s"v$i")).toDF("k", "v"))
    // evolve by touching ONLY key 1's bucket
    val ch = Seq((1L, "V1", 42, "u", 1L, 0L))
      .toDF("k", "v", "extra", "__op", "__source_ts_ms", "__seq")
    t.merge(ch, Seq(col("__source_ts_ms"), col("__seq")))
    val got = t.read().orderBy("k").collect()
    assert(got.length == 20)
    val schema = t.read().schema
    assert(schema.fieldNames.contains("extra"))
    // every untouched row reads the new column as null — this is exactly
    // the case footer-inference-without-explicit-schema used to get wrong
    ks.filter(_ != 1L).foreach { k =>
      val r = got.find(_.getLong(0) == k).get
      assert(r.isNullAt(r.fieldIndex("extra")), s"k=$k lost the evolved column")
    }
    assert(got.find(_.getLong(0) == 1L).get.getInt(schema.fieldIndex("extra")) == 42)
  }

  test("lookup casts literals to stored types (Int literal on Long column)") {
    val path = tmpDir("lkcast") + "/t"
    val t = new ParquetUpsertTable(spark, path, Seq("k"), numBuckets = 16)
    t.seed((1L to 200L).map(i => KV(i, s"v$i")).toDF("k", "v"))
    // Int literal, Long column: xxhash64(1: Int) != xxhash64(1L) — the
    // uncast version bucketed wrong and silently returned zero rows
    assert(t.lookup(Map("k" -> 123)).as[KV].collect().toSeq == Seq(KV(123, "v123")))
    assert(t.lookup(Map("k" -> 123L)).as[KV].collect().toSeq == Seq(KV(123, "v123")))
  }

  test("old snapshots are GC'd but the kept window preserves in-flight reads") {
    val path = tmpDir("gc") + "/t"
    val t = new ParquetUpsertTable(spark, path, Seq("k"), numBuckets = 4)
    t.seed(Seq(KV(1, "a")).toDS().toDF())
    (1 to 6).foreach { i =>
      t.merge(changes((1L, s"v$i", "u", i.toLong)), Seq(col("__source_ts_ms"), col("__seq")))
    }
    val manifests = new java.io.File(s"$path/_manifest").listFiles()
      .map(_.getName).filter(n => n.startsWith("v") && n.endsWith(".json"))
    assert(manifests.length == ParquetUpsertTable.KeptManifests)
    // epochs referenced by kept manifests survive; ancient ones are gone
    val epochs = new java.io.File(s"$path/data").listFiles().map(_.getName).sorted
    assert(epochs.contains("e00006") && !epochs.contains("e00000"))
    assert(t.read().as[KV].collect().toSeq == Seq(KV(1, "v6")))
  }

  test("steady-state retention under continuous merge: disk is bounded, the reader window is whole") {
    // The r9 verdict asked for the continuous-merge disk story to be
    // pinned: epochs × buckets growth must be bounded by the manifest
    // window, and an epoch may be vacuumed ONLY once no kept manifest
    // references it (a reader that resolved any kept manifest must
    // still find every file it points at).
    val path = tmpDir("retain") + "/t"
    val buckets = 4
    val t = new ParquetUpsertTable(spark, path, Seq("k"), numBuckets = buckets)
    t.seed((1L to 16L).map(i => KV(i, s"v$i")).toDF("k", "v"))

    def keptManifestFiles: Seq[java.io.File] =
      new java.io.File(s"$path/_manifest").listFiles().toSeq
        .filter(f => f.getName.startsWith("v") && f.getName.endsWith(".json"))
    def epochDirsOnDisk: Set[String] =
      Option(new java.io.File(s"$path/data").listFiles()).getOrElse(Array.empty)
        .map(f => s"data/${f.getName}").toSet
    // manifest JSON → the epoch dirs it references ("data/eNNNNN/...")
    def referenced(f: java.io.File): Set[String] = {
      val s = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      "data/e\\d{5}".r.findAllIn(s).toSet
    }

    (1 to 20).foreach { i =>
      // touch a rotating subset of keys so epochs carry different buckets
      t.merge(changes(
        ((i % 16) + 1L, s"u$i", "u", i.toLong),
        (((i * 5) % 16) + 1L, s"w$i", "u", i.toLong)),
        Seq(col("__source_ts_ms"), col("__seq")))
      val kept = keptManifestFiles
      // (1) the manifest window is exactly KeptManifests once warm
      assert(kept.size == math.min(i + 1, ParquetUpsertTable.KeptManifests),
        s"step $i: ${kept.map(_.getName).sorted}")
      val refs = kept.map(referenced)
      val live = refs.reduce(_ ++ _)
      val disk = epochDirsOnDisk
      // (2) reader-window wholeness: EVERY kept manifest (including the
      // oldest — the in-flight reader's view) only references epoch
      // dirs still on disk
      assert(live.subsetOf(disk),
        s"step $i: kept manifest references vacuumed epochs: ${live -- disk}")
      // (3) bounded steady state: nothing unreferenced survives, so
      // disk = live window, whose size is capped by window × buckets
      assert(disk == live, s"step $i: orphan epoch dirs ${disk -- live}")
      assert(disk.size <= ParquetUpsertTable.KeptManifests * buckets + 1)
    }
    // (4) the oldest kept manifest is actually READABLE end to end, not
    // just present: load each of its referenced epoch dirs via Spark
    val oldest = keptManifestFiles.minBy(_.getName)
    referenced(oldest).foreach { rel =>
      assert(spark.read.parquet(s"$path/$rel").count() > 0, s"unreadable $rel")
    }
    // the latest state is intact after 20 merges + continuous GC
    assert(t.read().count() == 16)
  }
}

/** Model-based randomized test: a long random op sequence applied to both
  * the MVCC store and an in-memory map model must agree after every
  * merge. Covers upsert/delete interleavings, whole-bucket deletions,
  * replayed (duplicate-key) batches, and an additive schema evolution
  * mid-sequence — the compound behaviors targeted specs can miss.
  */
class UpsertStoreModelSpec extends SparkSuite {
  import spark.implicits._

  test("random op sequences: store state equals the map model at every step") {
    val rnd = new scala.util.Random(13)
    val path = tmpDir("mvccmodel") + "/t"
    val t = new ParquetUpsertTable(spark, path, Seq("k"), numBuckets = 8)

    var model = Map.empty[Long, (String, Option[Long])] // k -> (v, extra)
    var ts = 0L
    val evolveAt = 6 // batch index where column "extra" appears

    for (batch <- 0 until 12) {
      val evolved = batch >= evolveAt
      val nOps = 5 + rnd.nextInt(15)
      val ops = (0 until nOps).map { _ =>
        ts += 1
        val k = rnd.nextInt(24).toLong // small domain -> heavy key reuse
        val del = model.contains(k) && rnd.nextInt(4) == 0
        if (del) (k, null: String, "d", ts, None: Option[Long])
        else (k, s"v$ts", if (model.contains(k)) "u" else "c", ts,
          if (evolved) Some(ts * 10) else None)
      }
      // apply to the model in ts order (last op per key wins)
      ops.sortBy(_._4).foreach {
        case (k, _, "d", _, _) => model -= k
        case (k, v, _, _, extra) => model += k -> (v, extra)
      }
      val df =
        if (evolved)
          ops.map(o => (o._1, o._2, o._3, o._4, o._5.map(Long.box).orNull))
            .toDF("k", "v", "__op", "__source_ts_ms", "extra")
            .withColumn("extra", col("extra").cast("long"))
            .withColumn("__seq", monotonically_increasing_id())
        else
          ops.map(o => (o._1, o._2, o._3, o._4))
            .toDF("k", "v", "__op", "__source_ts_ms")
            .withColumn("__seq", monotonically_increasing_id())
      t.merge(df, Seq(col("__source_ts_ms"), col("__seq")))

      val got = t.read()
      val gotMap =
        if (got.columns.contains("extra"))
          got.select("k", "v", "extra").collect()
            .map(r => r.getLong(0) ->
              (r.getString(1), if (r.isNullAt(2)) None else Some(r.getLong(2))))
            .toMap
        else got.select("k", "v").collect()
          .map(r => r.getLong(0) -> (r.getString(1), None: Option[Long])).toMap
      val want =
        if (got.columns.contains("extra")) model
        else model.map { case (k, (v, _)) => k -> (v, None: Option[Long]) }
      assert(gotMap == want,
        s"batch $batch diverged: missing=${want.keySet -- gotMap.keySet} " +
          s"spurious=${gotMap.keySet -- want.keySet} " +
          s"diff=${want.collect { case (k, v) if gotMap.get(k).exists(_ != v) => (k, v, gotMap(k)) }}")
    }
    // rows that existed before the evolution surface extra as NULL —
    // covered because pre-evolution keys survive into evolved reads above
    assert(t.schemaHistory().nonEmpty)
  }
}

class NullPkMergeSpec extends SparkSuite {
  import graft.operators.ParquetUpsertTable
  import spark.implicits._

  test("NULL-PK change events are quarantined, not appended once per batch") {
    val path = tmpDir("nullpk") + "/t"
    val t = new ParquetUpsertTable(spark, path, Seq("k"), numBuckets = 4)
    // the seed path quarantines too: a seeded NULL-PK row would be
    // permanently un-upsertable
    t.seed(Seq((Option(1L), "a"), (Option.empty[Long], "seedghost")).toDF("k", "v"))
    def batch(ts: Long) = Seq(
      (Option(2L), "b", "c", ts), (Option.empty[Long], "ghost", "c", ts))
      .toDF("k", "v", "__op", "__source_ts_ms")
      .withColumn("__seq", monotonically_increasing_id())
    t.merge(batch(1), Seq(col("__source_ts_ms"), col("__seq")))
    t.merge(batch(2), Seq(col("__source_ts_ms"), col("__seq")))
    val rows = t.read().as[(Option[Long], String)].collect().toSeq
    assert(rows.count(_._1.isEmpty) == 0, s"null-PK rows leaked: $rows")
    assert(rows.sortBy(_._1) == Seq((Some(1L), "a"), (Some(2L), "b")))
    // the drop is observable: every violation landed in the quarantine
    assert(t.nullPkQuarantine().count() == 3L) // 1 seed + 2 merges
  }
}
