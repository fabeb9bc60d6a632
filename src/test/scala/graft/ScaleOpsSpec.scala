package graft

import graft.operators.{Envelope, Skew, SmtChain}
import graft.streaming.WindowedMetrics
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class ScaleOpsSpec extends SparkSuite {
  import spark.implicits._

  test("SMT chain composes unwrap -> rename -> cast -> lowercase like the connector config") {
    val rows = Seq((1L, "u1", 1), (2L, "u2", 0)).toDF("ID", "user", "Flag")
    val env = Envelope.wrap(rows, "xchange_live", "T_CARRIER", lit("c"), lit(5L))
    val chain = SmtChain.chain(Seq(
      SmtChain.IncludeList(Seq(("xchange_live", "T_CARRIER"))),
      SmtChain.Unwrap,
      SmtChain.RenameIf(".*T_CARRIER", Map("user" -> "owner_user_id")),
      SmtChain.CastValues(Map("Flag" -> BooleanType)),
      SmtChain.LowercaseNames),
      topic = "xchange_live_v2.xchange_live.T_CARRIER")
    val got = chain(env)
    assert(got.columns.contains("owner_user_id") && got.columns.contains("id"))
    assert(got.schema("flag").dataType == BooleanType)
    assert(got.filter(col("__op") === "c").count() == 2)
  }

  test("SMT include-list drops non-allowlisted tables") {
    val rows = Seq((1L, "x")).toDF("id", "v")
    val env = Envelope.wrap(rows, "db_other", "t_other", lit("c"), lit(1L))
    val chain = SmtChain.chain(Seq(
      SmtChain.IncludeList(Seq(("db_keep", "t_keep"))), SmtChain.Unwrap), "topic")
    assert(chain(env).count() == 0)
  }

  test("salted aggregation equals the plain aggregation") {
    val li = graft.sources.Tables.lineitem(spark, sf001)
    val plain = li.groupBy("l_returnflag").agg(
      count(lit(1)).cast("long").as("cnt"),
      sum(col("l_quantity").cast("decimal(28,4)")).as("sum_l_quantity"))
      .orderBy("l_returnflag")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDecimal(2)))
    val salted = Skew.saltedCountSum(
      li.withColumn("l_quantity", col("l_quantity").cast("decimal(28,4)")),
      Seq("l_returnflag"), "l_quantity")
      .orderBy("l_returnflag")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDecimal(2)))
    assert(salted.toSeq == plain.toSeq)
  }

  test("salted join equals the plain join") {
    val left = (1 to 1000).map(i => (i % 3 + 1L, i)).toDF("k", "x") // skewed: 3 keys
    val right = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")).toDF("k", "v")
    val plain = left.join(right, "k").agg(count(lit(1)), sum("x")).head()
    val salted = Skew.saltedJoin(left, right, "k").agg(count(lit(1)), sum("x")).head()
    assert(salted == plain)
  }

  test("windowed event rate with watermark over a replayed stream") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val stream = MemoryStream[(java.sql.Timestamp, String, Double)]
    val df = stream.toDF().toDF("ts", "event_type", "value")
    val agg = WindowedMetrics.eventRate(df, "ts", "event_type",
      windowLen = "10 minutes", watermark = "0 seconds")
    val q = agg.writeStream.format("memory").queryName("rates")
      .outputMode("append").start()
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:01:00")
    def ts(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$min%02d:00")
    stream.addData((t0, "click", 1.0), (ts(2), "click", 2.0), (ts(12), "view", 5.0))
    q.processAllAvailable()
    stream.addData((ts(25), "click", 1.0)) // advances watermark, closes earlier windows
    q.processAllAvailable()
    q.stop()
    val rows = spark.sql("SELECT event_type, n_events, sum_value FROM rates ORDER BY window_start")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(rows.contains(("click", 2L, 3.0)))
    assert(rows.contains(("view", 1L, 5.0)))
  }

  test("bit-pool LSH buckets: shape, determinism, table packing, angle sensitivity") {
    import graft.plans.GraftFunctions.hyperplanePoolBuckets
    val bits = 6; val tables = 24
    val df = Seq(
      (1L, Array(1f, 0f, 0f, 0f)),
      (2L, Array(0.999f, 0.04f, 0f, 0f)), // ~2.3° from vec 1
      (3L, Array(0f, 0f, 0f, 1f)))        // orthogonal to vec 1
      .toDF("id", "vec")
      .select($"id", hyperplanePoolBuckets($"vec", 256, bits, tables).as("bk"))
    val rows = df.as[(Long, Seq[Long])].collect().toMap
    // shape: one bucket per table, table id packed in the high bits
    rows.values.foreach { bks =>
      assert(bks.length == tables)
      bks.zipWithIndex.foreach { case (bk, t) =>
        assert(bk >> bits == t, s"table prefix wrong: $bk at $t")
        assert((bk & ((1L << bits) - 1)) >= 0)
      }
    }
    // determinism across invocations
    val again = Seq((1L, Array(1f, 0f, 0f, 0f))).toDF("id", "vec")
      .select(hyperplanePoolBuckets($"vec", 256, bits, tables).as("bk"))
      .as[Seq[Long]].head()
    assert(again == rows(1L))
    // a near-identical pair shares most buckets; an orthogonal pair few
    val near = rows(1L).toSet.intersect(rows(2L).toSet).size
    val far = rows(1L).toSet.intersect(rows(3L).toSet).size
    assert(near > far, s"near=$near far=$far")
    assert(near >= tables / 2, s"near-identical pair shares only $near/$tables buckets")
  }

  test("custom expressions callable from SQL after registration") {
    graft.plans.GraftExtensions.registerAll(spark)
    Seq((Array(1f, 2f), Array(3f, 4f))).toDF("a", "b").createOrReplaceTempView("v")
    val d = spark.sql("SELECT graft_dot(a, b) AS d FROM v").head().getDouble(0)
    assert(d == 11.0)
    val sh = spark.sql("SELECT graft_simhash(array('x','y')) AS s FROM v").head().getLong(0)
    assert(sh == spark.sql("SELECT graft_simhash(array('x','y'), 42) AS s FROM v").head().getLong(0))
    val mh = spark.sql("SELECT graft_minhash(array('ab','cd'), 4) AS m FROM v")
      .head().getSeq[Long](0)
    assert(mh.length == 4)
    val bk = spark.sql("SELECT graft_lsh_buckets(a, 256, 6, 24) AS b FROM v")
      .head().getSeq[Long](0)
    assert(bk.length == 24 && bk.zipWithIndex.forall { case (b, t) => (b >> 6) == t })
    val shs = spark.sql("SELECT graft_shingle_hashes('hello world', 4) AS s FROM v")
      .head().getSeq[Long](0)
    assert(shs.nonEmpty && shs == shs.sorted && shs.distinct == shs)
    val wn = spark.sql("SELECT graft_winnow('the quick brown fox jumps', 8, 4) AS w FROM v")
      .head().getSeq[Long](0)
    assert(wn.nonEmpty)
  }
  test("quadratic oracles are physically fenced at the row cap") {
    import graft.operators.Similarity
    val vecs = (1 to 10).map(i => (i.toLong, Array.fill(4)(i.toFloat)))
      .toDF("vec_id", "embedding")
    // fence fires with an actionable message naming the cap...
    val err = intercept[IllegalArgumentException] {
      Similarity.bruteForceTopK(vecs, vecs, "vec_id", "embedding",
        k = 3, maxRows = 5L)
    }
    assert(err.getMessage.contains("quadratic") && err.getMessage.contains("5"))
    // ...and an explicit raise accepts the cost
    assert(Similarity.bruteForceTopK(vecs, vecs, "vec_id", "embedding",
      k = 3, maxRows = 10L).count() == 30L)
  }

  test("IVF auto list count caps at the centroid-broadcast budget") {
    import graft.operators.Similarity
    // small corpus: plain sqrt(N) sizing, floor 16
    assert(Similarity.ivfListsFor(400L, 64) == 20)
    assert(Similarity.ivfListsFor(10L, 64) == 16)
    // 10^10 vectors x 1024 dims: sqrt(N) = 10^5 centroids would be a
    // ~410 MB broadcast; a 1 MB budget caps lists at budget/bytes-per-row
    val capped = Similarity.ivfListsFor(10000000000L, 1024, 1L << 20)
    assert(capped == ((1L << 20) / (4 * 1024 + 64)).toInt, s"got $capped")
    // default 64 MB budget does not bind at sane scales
    assert(Similarity.ivfListsFor(100000000L, 64) == 10000)
  }

  test("bit-pool LSH bucket expression rejects degenerate parameters") {
    val v = array(lit(1.0f), lit(2.0f))
    // bits > poolBits would spin the position-sampling loop forever
    intercept[IllegalArgumentException] {
      graft.plans.GraftFunctions.hyperplanePoolBuckets(v, 8, 20, 4)
    }
    intercept[IllegalArgumentException] {
      graft.plans.GraftFunctions.hyperplanePoolBuckets(v, 0, 1, 4)
    }
    intercept[IllegalArgumentException] {
      graft.plans.GraftFunctions.hyperplanePoolBuckets(v, 2048, 63, 4)
    }
    // valid parameters still construct
    graft.plans.GraftFunctions.hyperplanePoolBuckets(v, 64, 8, 4)
  }

  test("embedding LSH explicit-bits path would demand uncapped tables") {
    import graft.operators.Dedup
    // the hazard the cap guards: 20 bits at threshold 0.45 needs ~54k
    // tables for the analytic recall bound — far past the 4096 cap
    assert(Dedup.embeddingLshTablesFor(20, 0.45) > 4096)
  }

  test("label consumers scan the checkpointed frame, not a second minhash/CC chain") {
    QueriesExt.clearClusterLabelCache()
    QueriesExt.clusterLabels(spark, sf001) // produce once
    // consumers' plans must read the materialized label RDD — a second
    // minhash run would reintroduce the banding Generate (posexplode)
    val stats = QueriesExt.ddClusterStats(spark, sf001)
      .queryExecution.optimizedPlan.toString
    assert(stats.contains("LogicalRDD") || stats.contains("ExistingRDD"),
      s"stats plan does not scan the checkpointed labels:\n$stats")
    assert(!stats.toLowerCase.contains("posexplode"),
      "stats plan re-runs minhash banding")
    val pipe = QueriesExt.cuDedupPipeline(spark, sf001)
      .queryExecution.optimizedPlan.toString
    assert(!pipe.toLowerCase.contains("posexplode"),
      "pipeline plan re-runs minhash banding")
    val best = QueriesExt.cuDedupKeepBest(spark, sf001)
      .queryExecution.optimizedPlan.toString
    assert(!best.toLowerCase.contains("posexplode"),
      "keep-best plan re-runs minhash banding")
    QueriesExt.clearClusterLabelCache()
  }

  test("dedup family shares one memoized cluster-label frame") {
    QueriesExt.clearClusterLabelCache()
    val a = QueriesExt.clusterLabels(spark, sf001)
    val b = QueriesExt.clusterLabels(spark, sf001)
    assert(a eq b, "second call must return the memoized frame")
    // the label frame is total over the corpus: stats grouped from it
    // must account for every document
    val docs = graft.sources.Tables.documents(spark, sf001).count()
    assert(a.count() == docs)
    val statsDocs = QueriesExt.ddClusterStats(spark, sf001)
      .agg(sum(col("docs_in"))).head().getLong(0)
    assert(statsDocs == docs)
    QueriesExt.clearClusterLabelCache()
    val c = QueriesExt.clusterLabels(spark, sf001)
    assert(!(a eq c), "cache clear must drop the memoized frame")
    QueriesExt.clearClusterLabelCache()
  }

  test("survivor bank memo is CONTENT-keyed: survives a label-cache clear (r17)") {
    import graft.operators.{OperatorState, Similarity}
    OperatorState.clear(Some(spark))
    val first = QueriesExt.cuDedupSemantic(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(first.nonEmpty)
    val banksAfterFirst = OperatorState.stats(Similarity.IndexBanks).entries
    val cbanksAfterFirst = OperatorState.stats(Similarity.CentroidBanks).entries
    assert(banksAfterFirst >= 1, "scan tier must have admitted a bank at sf0.001")
    // label churn: the labels recompute (new checkpoint identity) but the
    // survivor CONTENT is unchanged — the bank memo key must hit
    QueriesExt.clearClusterLabelCache()
    val second = QueriesExt.cuDedupSemantic(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(second == first)
    assert(OperatorState.stats(Similarity.IndexBanks).entries == banksAfterFirst,
      "label-cache clear must NOT force a survivor index-bank rebuild")
    assert(OperatorState.stats(Similarity.CentroidBanks).entries == cbanksAfterFirst,
      "label-cache clear must NOT force a survivor centroid-bank rebuild")
    QueriesExt.clearClusterLabelCache()
  }

  test("releaseDerived frees a composed result's checkpoints but not the shared labels") {
    import org.apache.spark.sql.GraftSqlShim
    QueriesExt.clearClusterLabelCache()
    // force the DISTRIBUTED CC tier: this lifecycle contract is about
    // the contraction's checkpoint storage, which the r14 driver
    // union-find tier (taken at test scale otherwise) never creates
    spark.conf.set(graft.operators.Dedup.CcMaxDriverEdgesKey, "0")
    try {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val labels = QueriesExt.clusterLabels(spark, sf001)
    val sem = QueriesExt.cuDedupSemantic(spark, sf001)
    assert(sem.count() > 0)
    val semIds = GraftSqlShim.checkpointRddIds(sem)
    val labelIds = GraftSqlShim.checkpointRddIds(labels)
    // the composed plan reads the SHARED label checkpoint plus its own
    // semantic-stage contraction checkpoint
    assert(labelIds.nonEmpty && labelIds.subsetOf(semIds))
    assert((semIds -- labelIds).nonEmpty)
    QueriesExt.releaseDerived(sem)
    // the result's own checkpoint storage is gone...
    val live = spark.sparkContext.getPersistentRDDs.keySet
    assert((semIds -- labelIds).forall(id => !live.contains(id)),
      "derived checkpoint still persisted after releaseDerived")
    // ...but the shared label stage survives: still memoized, and its
    // consumers still read live blocks (a poisoned cache fails here
    // with missing-checkpoint-block errors)
    assert(QueriesExt.clusterLabels(spark, sf001) eq labels)
    assert(QueriesExt.ddClusterStats(spark, sf001).count() > 0)
    // end of corpus lifetime: dropping the label cache AND the
    // operators' tracked scratch persists leaves zero blocks of this
    // family behind — the library-caller hygiene contract
    QueriesExt.clearClusterLabelCache()
    assert(graft.operators.Dedup.releaseIntermediates(spark) > 0,
      "label production should have tracked its shingle scratch persist")
    val after = spark.sparkContext.getPersistentRDDs.keySet
    assert((after -- before).isEmpty,
      s"blocks left after full release: ${(after -- before).mkString(",")}")
    // end of session lifetime: one call drops the remaining memo
    // entries (sizing counts, centroids, banks) of every kind
    import graft.operators.OperatorState
    assert(OperatorState.clear(Some(spark)) > 0)
    val kinds = OperatorState.allKinds
    assert(kinds.size >= 11, s"operator kinds not all registered: $kinds")
    kinds.foreach { k =>
      assert(OperatorState.stats(k).entries == 0, s"$k entries left after full release")
    }
    } finally {
      spark.conf.unset(graft.operators.Dedup.CcMaxDriverEdgesKey)
      QueriesExt.clearClusterLabelCache()
    }
  }

}

class AsOfJoinSpec extends SparkSuite {
  import graft.operators.AsOfJoin
  import graft.sources.Tables
  import org.apache.spark.sql.functions._
  import spark.implicits._

  test("as-of join matches the naive theta-join + max semantics") {
    val e = Tables.events(spark, sf001)
    val left = e.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    val right = AsOfJoin.dedupRight(
      e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("value").as("pv"), col("event_id")),
      "user_id", "ts", "event_id").drop("event_id")

    val fast = AsOfJoin.asOf(left, right, "user_id", "ts", Seq("pv"))
      .select("event_id", "pv").as[(Long, Option[Double])].collect().toMap

    // naive: theta join + latest-per-left
    val naive = left.as("l").join(right.as("r"),
        col("l.user_id") === col("r.user_id") && col("l.ts") >= col("r.ts"), "left")
      .withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("l.event_id")).orderBy(col("r.ts").desc_nulls_last)))
      .filter(col("__rn") === 1)
      .select(col("l.event_id"), col("r.pv"))
      .as[(Long, Option[Double])].collect().toMap

    assert(fast.size == naive.size && fast == naive)
    assert(fast.values.exists(_.isDefined)) // non-degenerate
    assert(fast.values.exists(_.isEmpty)) // clicks before any purchase exist
  }

  test("property: as-of equals the naive max-ts lookup on random data with NULLs") {
    val rnd = new scala.util.Random(7)
    // unique (k, ts) per state row — equal-ts states would make the
    // winner order-dependent in both the operator and the naive oracle
    val stateKeys = rnd.shuffle((0L until 20L).flatMap(k =>
      (0L until 120L).map(t => (k, t))).toVector).take(300)
    val states = stateKeys.map { case (k, t) =>
      (k, t,
        if (rnd.nextBoolean()) Option(rnd.nextInt(10).toDouble) else None,
        if (rnd.nextBoolean()) Option(s"s${rnd.nextInt(5)}") else None)
    }
    val probes = (1 to 500).map(i =>
      (i.toLong, rnd.nextInt(20).toLong, rnd.nextInt(130).toLong))
    val sdf = states.toDF("k", "ts", "price", "note")
    val pdf = probes.toDF("probe_id", "k", "ts")
    val got = AsOfJoin.asOf(pdf, sdf, "k", "ts", Seq("price", "note"))
      .select("probe_id", "price", "note")
      .as[(Long, Option[Double], Option[String])].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    val byKey = states.groupBy(_._1)
    probes.foreach { case (pid, k, ts) =>
      val want = byKey.getOrElse(k, Vector.empty)
        .filter(_._2 <= ts).sortBy(_._2).lastOption
        .map(s => (s._3, s._4)).getOrElse((None, None))
      assert(got(pid) == want, s"probe $pid (k=$k, ts=$ts)")
    }
  }

  test("as-of never stitches value columns across state versions (NULL fields)") {
    // state v2 has price set but note NULL; a probe after v2 must see
    // (20.0, null) — NOT v1's note filled in (per-column last(ignoreNulls)
    // used to do exactly that)
    val right = Seq(
      (1L, 10L, Option(10.0), Option("v1-note")),
      (1L, 20L, Option(20.0), Option.empty[String]),
      (2L, 5L, Option.empty[Double], Option("only-note")))
      .toDF("k", "ts", "price", "note")
    val left = Seq((100L, 1L, 25L), (101L, 1L, 15L), (102L, 2L, 9L), (103L, 2L, 1L))
      .toDF("probe_id", "k", "ts")
    val got = AsOfJoin.asOf(left, right, "k", "ts", Seq("price", "note"))
      .select("probe_id", "price", "note")
      .as[(Long, Option[Double], Option[String])].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(got(100L) == (Some(20.0), None))          // v2 whole-row, note stays NULL
    assert(got(101L) == (Some(10.0), Some("v1-note"))) // v1 whole-row
    assert(got(102L) == (None, Some("only-note")))   // NULL field inside matched state
    assert(got(103L) == (None, None))                // probe before any state
  }

  test("as-of join has a single shuffle (union+window), no pair blow-up") {
    val e = Tables.events(spark, sf001)
    val left = e.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    val right = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("value").as("pv"))
    val plan = AsOfJoin.asOf(left, right, "user_id", "ts", Seq("pv"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join")) // no join operator at all
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(shuffles == 1, s"expected 1 exchange, got $shuffles")
  }

  test("auto-sizing actions run once per (session, plan, files): CorpusStats memo") {
    import graft.operators.{CorpusStats, Dedup, OperatorState}
    def misses = OperatorState.stats(CorpusStats.Sizing).misses
    OperatorState.clear(Some(spark), Seq(CorpusStats.Sizing))
    val emb = Tables.embeddings(spark, sf001).select("vec_id", "embedding")
    val m0 = misses
    // first derivation: one rowCount + one vecDim job
    Dedup.embeddingNearDupPairs(emb, "embedding", "vec_id", threshold = 0.8).count()
    val m1 = misses
    assert(m1 - m0 == 2, s"expected 2 sizing misses on a cold cache, got ${m1 - m0}")
    // a REBUILT semantically-equal frame over the same files hits the
    // cache — zero additional sizing jobs for the whole second run
    val emb2 = Tables.embeddings(spark, sf001).select("vec_id", "embedding")
    Dedup.embeddingNearDupPairs(emb2, "embedding", "vec_id", threshold = 0.8).count()
    assert(misses == m1,
      s"expected 0 sizing misses on re-run, got ${misses - m1}")
    // a DIFFERENT frame (filter pushed into the plan) is its own entry
    Dedup.embeddingNearDupPairs(emb.filter(col("vec_id") % 2 === 0),
      "embedding", "vec_id", threshold = 0.8).count()
    assert(misses > m1)
    // rewritten input files invalidate: same plan shape, changed content
    val dir = java.nio.file.Files.createTempDirectory("cstats").toString
    Seq(1L, 2L, 3L).toDF("id").write.mode("overwrite").parquet(dir)
    val n1 = CorpusStats.rowCount(spark.read.parquet(dir))
    assert(n1 == 3L)
    Thread.sleep(5) // distinct mtime for the rewritten footer
    Seq(1L, 2L, 3L, 4L).toDF("id").write.mode("overwrite").parquet(dir)
    val n2 = CorpusStats.rowCount(spark.read.parquet(dir))
    assert(n2 == 4L, s"stale memoized count served after rewrite: $n2")
  }
}
