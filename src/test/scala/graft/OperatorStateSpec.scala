package graft

import graft.operators.{OperatorState, Similarity}
import org.apache.spark.sql.{GraftSqlShim, SparkSession}

class OperatorStateSpec extends SparkSuite {
  import spark.implicits._

  test("trained centroids retrain after a corpus part file is rewritten in place") {
    def corpus(seed: Long) = (0 until 64).map { i =>
      val r = new scala.util.Random(seed * 1000 + i)
      (i.toLong, Array.fill(8)(r.nextFloat()))
    }.toDF("id", "vec").coalesce(1)
    def parts(dir: String) = new java.io.File(dir).listFiles()
      .filter(f => f.getName.startsWith("part-") || f.getName.startsWith(".part-"))
      .sortBy(_.getName.stripPrefix("."))
    val dir = tmpDir("stalecent") + "/c"
    corpus(1).write.parquet(dir)
    def misses = OperatorState.stats(Similarity.TrainedCentroids).misses
    def run() = Similarity.ivfTopK(spark.read.parquet(dir), "id", "vec",
      k = 3, nLists = 4, nProbe = 2).collect()
    val m0 = misses
    run()
    assert(misses == m0 + 1)
    run()
    assert(misses == m0 + 1, "an unchanged corpus must reuse its trained centroids")
    // same part-file name, new content: copy another corpus's part file
    // (and its checksum) over the old one
    val other = tmpDir("stalecent") + "/c"
    corpus(2).write.parquet(other)
    Thread.sleep(1100) // a distinct mtime on coarse-grained file systems
    parts(other).zip(parts(dir)).foreach { case (src, dst) =>
      assert(src.getName.endsWith(".crc") == dst.getName.endsWith(".crc"))
      java.nio.file.Files.copy(src.toPath, dst.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    run()
    assert(misses == m0 + 2, "stale centroids reused after an in-place rewrite")
  }

  test("two sessions never share an entry") {
    val b = spark.newSession()
    def banks = OperatorState.stats(Similarity.IndexBanks)
    def rows(s: SparkSession) = QueriesExt.simAnnIvf(s, sf001).collect().toSeq
    OperatorState.clear()
    try {
      val fromA = rows(spark)
      val perSession = banks.entries
      assert(perSession >= 1, "scan tier must have admitted a bank at sf0.001")
      val m0 = banks.misses
      val fromB = rows(b)
      assert(banks.entries == 2 * perSession && banks.misses == m0 + perSession,
        "session b must build its own bank for the same corpus")
      assert(fromB == fromA)
      OperatorState.clear(Some(spark))
      assert(banks.entries == perSession, "clearing session a dropped session b's bank")
      val h0 = banks.hits
      assert(rows(b) == fromA)
      assert(banks.hits > h0 && banks.entries == perSession)
    } finally OperatorState.clear()
  }

  test("a kind stays within its cap under churn and releases every evicted entry") {
    val kind = QueriesExt.ClusterLabels
    val builds = 10 * kind.cap
    OperatorState.clear(kinds = Seq(kind))
    val e0 = OperatorState.stats(kind).evictions
    val ids = (0 until builds).map { i =>
      val df = OperatorState.memo(spark, kind, s"churn-$i")(
        spark.range(i + 1L).toDF().localCheckpoint(true))
      assert(OperatorState.stats(kind).entries <= kind.cap)
      GraftSqlShim.checkpointRddIds(df)
    }
    assert(OperatorState.stats(kind).entries == kind.cap)
    assert(OperatorState.stats(kind).evictions - e0 == builds - kind.cap)
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    val (evicted, live) = ids.splitAt(builds - kind.cap)
    assert(evicted.flatten.forall(id => !persisted.contains(id)),
      "an evicted entry kept its checkpoint")
    assert(live.flatten.nonEmpty && live.flatten.forall(persisted.contains))
    assert(OperatorState.clear(kinds = Seq(kind)) == kind.cap)
    assert(live.flatten.forall(id => !spark.sparkContext.getPersistentRDDs.contains(id)))
  }

  test("one build per key under concurrent callers; a failed build leaves no entry") {
    val kind = QueriesExt.ClusterLabels
    OperatorState.clear(kinds = Seq(kind))
    intercept[IllegalStateException] {
      OperatorState.memo(spark, kind, "fails")(throw new IllegalStateException("boom"))
    }
    assert(OperatorState.stats(kind).entries == 0)
    val built = new java.util.concurrent.atomic.AtomicInteger
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val calls = (1 to 4).map(_ => pool.submit(
        new java.util.concurrent.Callable[org.apache.spark.sql.DataFrame] {
          def call() = OperatorState.memo(spark, kind, "fails") {
            built.incrementAndGet(); Thread.sleep(100); spark.range(1).toDF()
          }
        }))
      val frames = calls.map(_.get())
      assert(built.get == 1 && frames.forall(_ eq frames.head))
      assert(OperatorState.stats(kind).entries == 1)
    } finally {
      pool.shutdown()
      OperatorState.clear(kinds = Seq(kind))
    }
  }
}
