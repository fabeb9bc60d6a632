package graft

import graft.operators.{Dedup, OperatorState, Similarity}
import graft.functions.VectorFunctions
import graft.sources.Tables
import org.apache.spark.sql.functions._

class DedupSimilaritySpec extends SparkSuite {
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog and runs far away home " * 6
  private lazy val docs = Seq(
    (0L, base),
    (1L, base + " tail"), // near-dup of 0
    (2L, "completely different content about spark catalyst optimizer rules and tungsten codegen execution engines"),
    (3L, base.replace("quick", "rapid")), // near-dup of 0
    (4L, "another unrelated short text")).toDF("doc_id", "text")

  test("exact dedup keeps lowest id per content") {
    val d = docs.unionByName(Seq((5L, base)).toDF("doc_id", "text"))
    val kept = Dedup.exactDedup(d, "text", "doc_id").select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(0L, 1L, 2L, 3L, 4L))
    val groups = Dedup.exactDupGroups(d, "text", "doc_id")
      .filter($"n_copies" > 1).collect()
    assert(groups.length == 1 && groups.head.getAs[Long]("keep_id") == 0L)
  }

  test("substring dedup: shared >=k-token spans found, merged maximal, self-repeats ignored") {
    def words(prefix: String, n: Int): String =
      (1 to n).map(i => s"$prefix$i").mkString(" ")
    val k = 5
    val shared = words("s", 8)            // 8-token shared region (> k)
    val sharedShort = words("t", 4)       // 4-token region (< k): invisible
    val d = Seq(
      // doc 0: unique prefix + shared region + unique suffix
      (0L, words("a", 6) + " " + shared + " " + words("b", 6)),
      // doc 1: different unique context, same shared region
      (1L, words("c", 3) + " " + shared + " " + words("d", 9)),
      // doc 2: sub-k shared region with doc 3 only — must not mark
      (2L, words("e", 10) + " " + sharedShort),
      (3L, words("f", 10) + " " + sharedShort),
      // doc 4: a k-token run REPEATED WITHIN ITSELF but in no other doc
      (4L, words("g", 5) + " " + words("g", 5) + " " + words("h", 5)),
      // doc 5: shorter than k tokens
      (5L, "x1 x2 x3")).toDF("doc_id", "text")
    val spans = Dedup.substringDupSpans(d, "text", "doc_id", k = k)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(x => (x._1, x._2))
    // only docs 0 and 1 carry a shared span; the 8-token region yields ONE
    // merged maximal span of len 8 with 8-5+1 = 4 constituent grams
    assert(spans.toSeq == Seq((0L, 6L, 8L, 4L), (1L, 3L, 8L, 4L)),
      s"got ${spans.toSeq}")
    val stats = Dedup.substringDupStats(d, "text", "doc_id", k = k)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    assert(stats.toSeq == Seq((0L, 20L, 8L, 1L), (1L, 20L, 8L, 1L)),
      s"got ${stats.toSeq}")
  }

  test("substring dedup: disjoint shared regions stay separate spans; gap <= k merges") {
    def words(prefix: String, n: Int): String =
      (1 to n).map(i => s"$prefix$i").mkString(" ")
    val k = 5
    val r1 = words("p", 5); val r2 = words("q", 5)
    val d = Seq(
      // two shared regions separated by 7 unique tokens (> k gap: split),
      (0L, r1 + " " + words("u", 7) + " " + r2),
      (1L, r1 + " " + words("v", 7) + " " + r2),
      // and the same two regions separated by 2 tokens in a third pair —
      // marked positions gap by 2+5 = 7 > k, still split (the gap tokens
      // are not shared, so the spans must not swallow them)... unless the
      // bridge itself is shared: docs 4/5 share the FULL concatenation
      (2L, r2 + " " + words("w", 2) + " " + r1),
      (3L, r2 + " " + words("w", 2) + " " + r1)).toDF("doc_id", "text")
    val spans = Dedup.substringDupSpans(d, "text", "doc_id", k = k)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.map(x => (x._2, x._3)).sortBy(_._1).toSeq).toMap
    // docs 0/1: spans at 0 (len 5) and 12 (len 5)
    assert(spans(0L) == Seq((0L, 5L), (12L, 5L)), s"got $spans")
    assert(spans(1L) == Seq((0L, 5L), (12L, 5L)), s"got $spans")
    // docs 2/3 share their ENTIRE text (12 tokens): one maximal span
    assert(spans(2L) == Seq((0L, 12L)) && spans(3L) == Seq((0L, 12L)), s"got $spans")
  }

  test("incremental substring: marks new-vs-corpus spans only, shard-internal ignored") {
    def words(prefix: String, n: Int): String =
      (1 to n).map(i => s"$prefix$i").mkString(" ")
    val k = 5
    val inCorpus = words("s", 6)
    val shardOnly = words("z", 6)
    val corpus = Seq(
      (10L, words("a", 8) + " " + inCorpus),
      (11L, words("b", 8) + " " + words("c", 8))).toDF("doc_id", "text")
    val fresh = Seq(
      // new doc 1: repeats corpus content -> one span
      (1L, words("d", 3) + " " + inCorpus + " " + words("e", 4)),
      // new docs 2+3: share a 6-token run with EACH OTHER but not the
      // corpus -> NOT an ingest-gate hit (batch dd_substring's job)
      (2L, shardOnly + " " + words("f", 5)),
      (3L, shardOnly + " " + words("g", 5))).toDF("doc_id", "text")
    val got = Dedup.substringDupSpansAgainst(fresh, corpus, "text", "doc_id", k = k)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq((1L, 3L, 6L, 2L)), s"got ${got.toSeq}")
    // corpus-internal duplication is likewise not this operator's output
    val corpus2 = corpus.unionByName(
      Seq((12L, words("a", 8) + " " + words("x", 3))).toDF("doc_id", "text"))
    val got2 = Dedup.substringDupSpansAgainst(fresh, corpus2, "text", "doc_id", k = k)
      .collect().map(_.getLong(0)).distinct.sorted
    assert(got2.toSeq == Seq(1L), s"corpus-side spans leaked: ${got2.toSeq}")
  }

  test("substring trim excises exactly the duplicated spans, corpus-wide") {
    def words(prefix: String, n: Int): String =
      (1 to n).map(i => s"$prefix$i").mkString(" ")
    val k = 5
    val shared = words("s", 7)
    val d = Seq(
      (0L, words("a", 4) + " " + shared + " " + words("b", 3)),
      (1L, shared + " " + words("c", 6)),
      (2L, "untouched  doc   with\tweird   whitespace")).toDF("doc_id", "text")
    val got = Dedup.substringTrim(d, "text", "doc_id", k = k)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    assert(got(0) == ((0L, words("a", 4) + " " + words("b", 3), 7L, 7L)), s"got ${got(0)}")
    assert(got(1) == ((1L, words("c", 6), 6L, 7L)), s"got ${got(1)}")
    // no spans: tokens kept verbatim, whitespace normalized by contract
    assert(got(2) == ((2L, "untouched doc with weird whitespace", 5L, 0L)), s"got ${got(2)}")
  }

  test("substring keep1: min-doc canonical keeps its copy; non-canonical doc carries two spans") {
    def words(prefix: String, n: Int): String =
      (1 to n).map(i => s"$prefix$i").mkString(" ")
    val k = 5
    val r1 = words("p", 5); val r2 = words("q", 5)
    val d = Seq(
      (0L, r1 + " " + words("u", 7) + " " + r2), // min doc: canonical for both regions
      (1L, r1 + " " + words("v", 7) + " " + r2), // non-canonical -> TWO spans
      (2L, words("x", 3) + " " + r2))            // non-canonical for r2 only
      .toDF("doc_id", "text")
    val spans = Dedup.substringDupSpansKeep1(d, "text", "doc_id", k = k)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(x => (x._1, x._2))
    assert(spans.toSeq == Seq((1L, 0L, 5L), (1L, 12L, 5L), (2L, 3L, 5L)),
      s"got ${spans.toSeq}")
    // remove-from-all policy marks doc 0 too — the two must differ
    val all = Dedup.substringDupSpans(d, "text", "doc_id", k = k)
      .filter($"doc_id" === 0L).count()
    assert(all == 2L, s"expected base policy to mark the canonical doc, got $all")
  }

  test("substring keep1: per-gram election — doc canonical for one region, trimmed for another") {
    def words(prefix: String, n: Int): String =
      (1 to n).map(i => s"$prefix$i").mkString(" ")
    val k = 5
    val sh1 = words("p", 5); val sh2 = words("q", 5)
    val d = Seq(
      (0L, words("x", 3) + " " + sh2),                // canonical for sh2
      (1L, sh1 + " " + words("y", 2) + " " + sh2),    // canonical for sh1, NON-canonical for sh2
      (2L, sh1 + " " + words("z", 4)))                // non-canonical for sh1
      .toDF("doc_id", "text")
    val spans = Dedup.substringDupSpansKeep1(d, "text", "doc_id", k = k)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(x => (x._1, x._2))
    assert(spans.toSeq == Seq((1L, 7L, 5L), (2L, 0L, 5L)), s"got ${spans.toSeq}")
    val got = Dedup.substringTrimKeep1(d, "text", "doc_id", k = k)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    // canonical owner keeps its copy verbatim (whitespace-normalized)
    assert(got(0) == ((0L, words("x", 3) + " " + sh2, 8L, 0L)), s"got ${got(0)}")
    // doc 1 keeps the sh1 region it owns, loses sh2
    assert(got(1) == ((1L, sh1 + " " + words("y", 2), 7L, 5L)), s"got ${got(1)}")
    assert(got(2) == ((2L, words("z", 4), 4L, 5L)), s"got ${got(2)}")
  }

  test("substring keep1 stats: canonical doc carries no row; losses equal the trim") {
    def words(prefix: String, n: Int): String =
      (1 to n).map(i => s"$prefix$i").mkString(" ")
    val k = 5
    val shared = words("s", 7)
    val d = Seq(
      (0L, words("a", 4) + " " + shared),          // canonical owner
      (1L, shared + " " + words("c", 6)),
      (2L, words("d", 2) + " " + shared)).toDF("doc_id", "text")
    val stats = Dedup.substringDupStatsKeep1(d, "text", "doc_id", k = k)
      .collect().map(r => (r.getLong(0), r.getLong(2))).sortBy(_._1).toList
    assert(stats == List((1L, 7L), (2L, 7L)), s"got $stats")
    val trim = Dedup.substringTrimKeep1(d, "text", "doc_id", k = k)
      .collect().map(r => (r.getLong(0), r.getLong(3))).toMap
    stats.foreach { case (id, dup) => assert(trim(id) == dup,
      s"stats/trim disagree for doc $id") }
    assert(trim(0L) == 0L, "canonical owner must lose nothing")
  }

  test("substring keep1q: quality election keeps the BEST copy, not the earliest id") {
    def words(prefix: String, n: Int): String =
      (1 to n).map(i => s"$prefix$i").mkString(" ")
    val k = 5
    val shared = words("s", 6)
    // doc 0 (min id): junk context — short, no stopwords, low quality.
    // doc 1: long English-ish context around the same shared region —
    // higher tx_quality, higher id.
    val filler = ("the model and the data with the " * 12).trim
    val d = Seq(
      (0L, shared + " zz@@ ##"),
      (1L, filler + " " + shared + " " + filler)).toDF("doc_id", "text")
    val q = d.select($"doc_id",
      graft.functions.TextAnalysis.qualityScore($"text").as("q"))
      .as[(Long, Double)].collect().toMap
    assert(q(1L) > q(0L), s"fixture broken: quality $q")
    // id election trims doc 1 (canonical = min id 0)...
    val keep1 = Dedup.substringDupSpansKeep1(d, "text", "doc_id", k = k)
      .select("doc_id").as[Long].collect().toSet
    assert(keep1 == Set(1L), s"got $keep1")
    // ...quality election trims doc 0 (canonical = best-quality doc 1)
    val keep1q = Dedup.substringDupSpansKeep1Quality(d, "text", "doc_id", k = k)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toList
    assert(keep1q == List((0L, 0L, 6L)), s"got $keep1q")
    val trimmed = Dedup.substringTrimKeep1Quality(d, "text", "doc_id", k = k)
      .filter($"doc_id" === 0L).select("trimmed", "n_removed")
      .as[(String, Long)].collect().head
    assert(trimmed == (("zz@@ ##", 6L)), s"got $trimmed")
  }

  test("paragraph near-dup rollup: cross-doc duplication only; drop/trim/keep actions (r19)") {
    // 4-token paragraphs: doc0 shares its first paragraph with doc1
    // (1/3 dup -> trim); doc1's share is 1/2 >= dropShare -> drop;
    // doc2 is unique -> keep; doc3 repeats a paragraph WITHIN itself
    // only — the pair exists but is same-doc, so it must NOT count
    val d = Seq(
      0L -> "alpha bravo charlie delta echo fox golf hotel india juliet kilo lima",
      1L -> "alpha bravo charlie delta mike november oscar papa",
      2L -> "quebec romeo sierra tango uniform victor whiskey xray",
      3L -> "yankee zulu apple banana yankee zulu apple banana").toDF("doc_id", "text")
    val out = Dedup.paragraphDupStats(d, "text", "doc_id", paraTokens = 4)
      .select($"doc_id", $"n_paras", $"dup_paras", $"action")
      .as[(Long, Long, Long, String)].collect().sortBy(_._1)
    assert(out(0) == ((0L, 3L, 1L, "trim")), s"got ${out(0)}")
    assert(out(1) == ((1L, 2L, 1L, "drop")), s"got ${out(1)}")
    assert(out(2) == ((2L, 2L, 0L, "keep")), s"got ${out(2)}")
    assert(out(3) == ((3L, 2L, 0L, "keep")),
      s"within-doc duplicate paragraphs counted as cross-doc: ${out(3)}")
  }

  test("paragraph keep-first trim: first occurrence survives, chains trim greedily (r19)") {
    // doc0 = [A, B]; doc1 = [A, C]; doc2 = [A, A]; doc3 = [D]
    // removal = every paragraph near-dupping an EARLIER one:
    // doc1's A (vs doc0's), doc2's BOTH As (first vs doc0's, second
    // vs doc0's/its own first) -> doc2 trims to empty text
    val A = "alpha bravo charlie delta"; val Bp = "echo fox golf hotel"
    val C = "india juliet kilo lima"; val D = "mike november oscar papa"
    val d = Seq(
      0L -> s"$A $Bp", 1L -> s"$A $C", 2L -> s"$A $A", 3L -> D)
      .toDF("doc_id", "text")
    val out = Dedup.paragraphTrimKeepFirst(d, "text", "doc_id", paraTokens = 4)
      .orderBy("doc_id")
      .select($"doc_id", $"text_trimmed", $"n_paras", $"kept_paras", $"removed_paras")
      .as[(Long, String, Long, Long, Long)].collect().toSeq
    assert(out(0) == ((0L, s"$A $Bp", 2L, 2L, 0L)), s"got ${out(0)}")
    assert(out(1) == ((1L, C, 2L, 1L, 1L)), s"got ${out(1)}")
    assert(out(2) == ((2L, "", 2L, 0L, 2L)),
      s"fully-duplicated doc must keep an empty-text row: ${out(2)}")
    assert(out(3) == ((3L, D, 1L, 1L, 0L)), s"got ${out(3)}")
  }

  test("paragraph splitter: blank-line structure splits structurally, else token windows (r20)") {
    // doc0 has real \n\n boundaries -> 3 structural paragraphs (the
    // empty middle part from the double separator is dropped, order
    // kept); doc1 is flat -> 4-token windows; doc2 shares doc0's
    // SECOND structural paragraph, so the structural path feeds the
    // pair stage
    val p1 = "alpha bravo charlie delta"; val p2 = "echo fox golf hotel"
    val p3 = "india juliet kilo lima"
    val d = Seq(
      0L -> s"$p1\n\n$p2\n\n \n\n$p3",
      1L -> s"mike november oscar papa quebec romeo sierra tango",
      2L -> s"$p2\n\nuniform victor whiskey xray").toDF("doc_id", "text")
    val paras = Dedup.paragraphFrame(d, "text", "doc_id", paraTokens = 4)
      .orderBy("para_id")
      .select($"doc_id", $"chunk_id", $"para_text")
      .as[(Long, Long, String)].collect().toSeq
    assert(paras.filter(_._1 == 0L).map(p => (p._2, p._3)) ==
      Seq((0L, p1), (1L, p2), (2L, p3)),
      s"structural split wrong: ${paras.filter(_._1 == 0L)}")
    assert(paras.filter(_._1 == 1L).map(_._3) ==
      Seq("mike november oscar papa", "quebec romeo sierra tango"),
      s"flat doc must fall back to token windows: ${paras.filter(_._1 == 1L)}")
    val out = Dedup.paragraphDupStats(d, "text", "doc_id", paraTokens = 4)
      .select($"doc_id", $"n_paras", $"dup_paras", $"action")
      .as[(Long, Long, Long, String)].collect().sortBy(_._1)
    assert(out(0) == ((0L, 3L, 1L, "trim")), s"got ${out(0)}")
    assert(out(1) == ((1L, 2L, 0L, "keep")), s"got ${out(1)}")
    assert(out(2) == ((2L, 2L, 1L, "drop")),
      s"structural paragraph dup must count cross-doc: ${out(2)}")
  }

  test("sim_quantize_pq: codebook seeds reconstruct exactly; codes stay in range") {
    val dir = tmpDirPq()
    val out = QueriesExt.simQuantizePq(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(out.length == 40)
    // every vector that IS a codebook seed reconstructs with mse 0 —
    // its own subvectors are codebook entries at distance 0
    val seeds = graft.operators.Similarity.seededCentroids(
      graft.sources.Tables.embeddings(spark, dir), "vec_id", "embedding",
      QueriesExt.PqCodebookSize)
    assert(seeds.count() == QueriesExt.PqCodebookSize.toLong)
    val seedRows = out.filter(_._3 == 0.0)
    assert(seedRows.length >= QueriesExt.PqCodebookSize,
      s"expected >= 16 zero-mse rows (the seeds), got ${seedRows.length}")
    // codes are m comma-separated 1-based ids within the codebook
    out.foreach { case (_, codes, mse) =>
      val cs = codes.split(',').map(_.toInt)
      assert(cs.length == QueriesExt.PqSubspaces)
      assert(cs.forall(c => c >= 1 && c <= QueriesExt.PqCodebookSize), codes)
      assert(mse >= 0.0)
    }
  }

  private def tmpDirPq(): String = {
    val dir = java.nio.file.Files.createTempDirectory("pq").toString
    val r = new scala.util.Random(7)
    val rows = (0L until 40L).map(i =>
      (i, Array.fill(64)(r.nextFloat() * 2f - 1f)))
    rows.toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  test("minhash-LSH finds injected near-dups, not unrelated docs") {
    val pairs = Dedup.minhashLshPairs(docs, "text", "doc_id",
      shingleLen = 8, numHashes = 32, bands = 16, threshold = 0.4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)) && pairs.contains((0L, 3L)))
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L))
  }

  test("simhash hamming distance small for near-dups, large for distinct") {
    val pairs = Dedup.simhashPairs(docs, "text", "doc_id", maxHammingDistance = 6)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)))
    assert(!pairs.contains((0L, 2L)))
  }

  test("ngram jaccard exact similarity on candidates") {
    val pairs = Dedup.ngramJaccardPairs(docs, "text", "doc_id",
      shingleLen = 12, stride = 1, threshold = 0.5)
      .as[(Long, Long, Double)].collect()
    val m = pairs.map(p => (p._1, p._2) -> p._3).toMap
    assert(m.contains((0L, 1L)) && m((0L, 1L)) > 0.8)
    assert(!m.contains((0L, 2L)))
  }

  test("prefix-filtered inverted index loses no pairs vs exhaustive exact jaccard") {
    // the prefix filter indexes only the smallest |S|−⌈t·|S|⌉+1 hashes
    // per doc; the theorem says no qualifying pair can be lost. Verify
    // set-equality (ids AND scores) against unblocked all-pairs on the
    // real 500-doc corpus, at a threshold that makes prefixes and the
    // size filter both bite (t=0.35 → prefix ≈ 65% of each set).
    val d = Tables.documents(spark, sf001).select($"doc_id", $"text")
    val t = 0.35
    val fast = Dedup.ngramJaccardPairs(d, "text", "doc_id",
      shingleLen = 16, stride = 2, threshold = t)
      .as[(Long, Long, Double)].collect().toSet
    val sets = d.select($"doc_id".as("id"),
      graft.plans.GraftFunctions.hashedCharShingles($"text", 16, 2).as("sh"))
    val exact = sets.as("a").crossJoin(sets.as("b"))
      .filter(col("a.id") < col("b.id"))
      .select(col("a.id"), col("b.id"),
        graft.plans.GraftFunctions.sortedJaccard(col("a.sh"), col("b.sh")).as("j"))
      .filter($"j" >= t)
      .as[(Long, Long, Double)].collect().toSet
    assert(exact.nonEmpty, "fixture produced no qualifying pairs — test is vacuous")
    assert(fast == exact,
      s"prefix-filtered: ${fast.size} pairs, exact: ${exact.size}; " +
        s"missing=${(exact -- fast).take(5)} extra=${(fast -- exact).take(5)}")
  }

  test("embedding near-dup via hyperplane LSH blocking") {
    val vecs = Seq(
      (0L, Array(1f, 0f, 0f, 0f)), (1L, Array(0.99f, 0.1f, 0f, 0f)), // near 0
      (2L, Array(0f, 1f, 0f, 0f)), (3L, Array(0f, 0f, 1f, 0f)))
      .toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDupPairs(vecs, "embedding", "vec_id",
      threshold = 0.95, nBits = 4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((0L, 1L)))
  }

  test("over-large LSH buckets are salt-split, not dropped (no empty-result cliff)") {
    // every (table, bucket) group exceeds maxBucketSize here; the old
    // capHotKeys drop returned ZERO pairs in this regime. Salting keeps
    // sub-bucket pairs, and multi-table retry recovers cross-salt misses.
    // more tables is the tuning lever that buys back salting's per-table
    // recall loss: P(pair colliding) per table drops ~1/g under a split
    // into g sub-groups, and extra tables retry independently
    val emb = Tables.embeddings(spark, sf001)
    val salted = Dedup.embeddingNearDupPairs(emb, "embedding", "vec_id",
      threshold = QueriesExt.NearDupCosine, nTables = 36, maxBucketSize = 20)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val unconstrained = Dedup.embeddingNearDupPairs(emb, "embedding", "vec_id",
      threshold = QueriesExt.NearDupCosine)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(unconstrained.nonEmpty)
    val recall = salted.intersect(unconstrained).size.toDouble / unconstrained.size
    assert(recall >= 0.6, s"salted recall $recall; got ${salted.size} of ${unconstrained.size}")
  }

  test("staged sketch+bucket-keys are bit-identical to the fused pool expression") {
    import graft.plans.GraftFunctions.{hyperplanePoolBuckets, hyperplanePoolSketch, poolBucketKeys}
    val emb = Tables.embeddings(spark, sf001).limit(50)
    val fused = emb.select($"vec_id",
      hyperplanePoolBuckets($"embedding", 256, 8, 12).as("bk"))
    val staged = emb.select($"vec_id",
      poolBucketKeys(hyperplanePoolSketch($"embedding", 256), 256, 8, 12).as("bk"))
    assert(fused.exceptAll(staged).isEmpty && staged.exceptAll(fused).isEmpty)
  }

  test("shuffle tier (corpus over broadcast budget) matches the broadcast tier exactly") {
    val emb = Tables.embeddings(spark, sf001)
    val bcast = Dedup.embeddingNearDupPairs(emb, "embedding", "vec_id",
      threshold = QueriesExt.NearDupCosine)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val shuffled = Dedup.embeddingNearDupPairs(emb, "embedding", "vec_id",
      threshold = QueriesExt.NearDupCosine, maxBroadcastBytes = 0L)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(bcast.nonEmpty && bcast == shuffled,
      s"missed: ${bcast -- shuffled}, spurious: ${shuffled -- bcast}")
    // ids past 2^31 disable the packed-pair distinct (r12) — the
    // unpackable path must emit the same pairs, just un-shifted
    val shifted = Dedup.embeddingNearDupPairs(
      emb.select(($"vec_id" + (1L << 32)).as("vec_id"), $"embedding"),
      "embedding", "vec_id", threshold = QueriesExt.NearDupCosine)
      .select("id_a", "id_b").as[(Long, Long)].collect()
      .map(p => (p._1 - (1L << 32), p._2 - (1L << 32))).toSet
    assert(shifted == bcast,
      s"packed vs unpackable divergence: ${bcast -- shifted} / ${shifted -- bcast}")
  }

  test("geometry past the packed-key bit budget falls back to the two-column " +
      "group key with identical pairs (r12 ADVICE)") {
    // the guard predicate: auto geometry packs; bits + table bits > 40
    // or a salt bound past 2^24 does not
    assert(Dedup.packedKeyFits(bits = 12, tabs = 4096, n = 80000L,
      maxBucketSize = 100000))
    assert(!Dedup.packedKeyFits(bits = 30, tabs = 4096, n = 500L,
      maxBucketSize = 100000))
    assert(!Dedup.packedKeyFits(bits = 12, tabs = 4096,
      n = (1L << 24) * 1000L + 1L, maxBucketSize = 1000))
    // end-to-end parity at IDENTICAL blocking geometry: the conf hook
    // forces the two-column path, so the only difference is the
    // group-key representation — the pair set must match exactly
    val emb = Tables.embeddings(spark, sf001)
    val packedRef = Dedup.embeddingNearDupPairs(emb, "embedding", "vec_id",
      threshold = QueriesExt.NearDupCosine)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(packedRef.nonEmpty)
    spark.conf.set("spark.graft.embed.packedKey", "off")
    try {
      val fallback = Dedup.embeddingNearDupPairs(emb, "embedding", "vec_id",
        threshold = QueriesExt.NearDupCosine)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      assert(fallback == packedRef,
        s"missed: ${packedRef -- fallback}, spurious: ${fallback -- packedRef}")
    } finally spark.conf.unset("spark.graft.embed.packedKey")
  }

  test("embed scan tier matches the (bucketKey, salt) pipeline bit-for-bit, " +
      "including salt-split oversized buckets (r15)") {
    val emb = Tables.embeddings(spark, sf001)
    // maxBucketSize = 20 pushes every (table, bucket) group over the
    // cap (same fixture as the salt-split test), so this pins the scan
    // tier's driver-side saltOversized replay — xxhash64(id, bk) seed
    // chain, double-division ceil, per-salt sub-grouping — not just
    // the common unsalted loop
    def run(): Set[(Long, Long)] =
      Dedup.embeddingNearDupPairs(emb, "embedding", "vec_id",
        threshold = QueriesExt.NearDupCosine, nTables = 36, maxBucketSize = 20)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    OperatorState.clear(Some(spark), Seq(Dedup.EmbedBanks))
    val scan = run()
    assert(OperatorState.stats(Dedup.EmbedBanks).entries >= 1,
      "scan tier did not engage — the test would compare the pipeline to itself")
    assert(scan.nonEmpty)
    spark.conf.set(Dedup.EmbedScanTierKey, "off")
    try {
      val pipeline = run()
      assert(scan == pipeline,
        s"missed: ${pipeline -- scan}, spurious: ${scan -- pipeline}")
    } finally spark.conf.unset(Dedup.EmbedScanTierKey)
    // default geometry (unsalted buckets) too
    def runAuto(): Set[(Long, Long)] =
      Dedup.embeddingNearDupPairs(emb, "embedding", "vec_id",
        threshold = QueriesExt.NearDupCosine)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val scanAuto = runAuto()
    spark.conf.set(Dedup.EmbedScanTierKey, "off")
    try {
      val pipeAuto = runAuto()
      assert(scanAuto == pipeAuto,
        s"missed: ${pipeAuto -- scanAuto}, spurious: ${scanAuto -- pipeAuto}")
    } finally spark.conf.unset(Dedup.EmbedScanTierKey)
  }

  test("embed scan tier refusal paths fall through to the pipeline with identical pairs") {
    val emb = Tables.embeddings(spark, sf001)
    // duplicate id with the SAME vector: the pipeline tolerates it
    // (idempotent bank put, pairs unchanged after distinct) while the
    // scan tier memoizes None and must fall through — outputs equal
    val withDup = emb.unionAll(emb.limit(1))
    OperatorState.clear(Some(spark), Seq(Dedup.EmbedBanks))
    val viaScanPath = Dedup.embeddingNearDupPairs(withDup, "embedding", "vec_id",
      threshold = QueriesExt.NearDupCosine)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    spark.conf.set(Dedup.EmbedScanTierKey, "off")
    try {
      val viaPipeline = Dedup.embeddingNearDupPairs(withDup, "embedding", "vec_id",
        threshold = QueriesExt.NearDupCosine)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      assert(viaScanPath == viaPipeline && viaPipeline.nonEmpty,
        s"missed: ${viaPipeline -- viaScanPath}, spurious: ${viaScanPath -- viaPipeline}")
    } finally spark.conf.unset(Dedup.EmbedScanTierKey)
    // bits past the packed (value << 32 | pos) build budget: the scan
    // tier must REFUSE (no bank built — the cache stays empty) and the
    // pipeline's group-key path must run to completion. 31-bit buckets
    // on a 500-row corpus are all singletons (per-table collision
    // ~1.6e-6), so zero pairs is the CORRECT output at this geometry —
    // the assertions are "refused + ran + nothing spurious", not recall
    OperatorState.clear(Some(spark), Seq(Dedup.EmbedBanks))
    val auto = Dedup.embeddingNearDupPairs(emb, "embedding", "vec_id",
      threshold = QueriesExt.NearDupCosine)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(auto.nonEmpty && OperatorState.stats(Dedup.EmbedBanks).entries >= 1)
    OperatorState.clear(Some(spark), Seq(Dedup.EmbedBanks))
    val wide = Dedup.embeddingNearDupPairs(emb, "embedding", "vec_id",
      threshold = QueriesExt.NearDupCosine, nBits = 31, nTables = 64)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(OperatorState.stats(Dedup.EmbedBanks).entries == 0,
      "bits=31 must refuse the scan tier — no bank should have been built")
    assert(wide.subsetOf(auto),
      s"wide geometry emitted pairs outside the exact set: ${wide -- auto}")
  }

  test("LSH-blocked embedding near-dup equals exact all-pairs on real embeddings") {
    val emb = Tables.embeddings(spark, sf001)
    val v = emb.select($"vec_id", $"embedding",
      VectorFunctions.normSq($"embedding").as("nsq"))
    val a = v.select($"vec_id".as("id_a"), $"embedding".as("va"), $"nsq".as("na"))
    val b = v.select($"vec_id".as("id_b"), $"embedding".as("vb"), $"nsq".as("nb"))
    val exact = a.crossJoin(broadcast(b)).filter($"id_a" < $"id_b")
      .select($"id_a", $"id_b", VectorFunctions.cosineFromParts(
        VectorFunctions.dot($"va", $"vb"), $"na", $"nb").as("cosine"))
      .filter($"cosine" >= QueriesExt.NearDupCosine)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val blocked = Dedup.embeddingNearDupPairs(emb, "embedding", "vec_id",
      threshold = QueriesExt.NearDupCosine)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(blocked == exact,
      s"missed: ${exact -- blocked}, spurious: ${blocked -- exact}")
    assert(exact.nonEmpty) // the corpus plants near-dups; the test is non-vacuous
  }

  // shared exact baseline for the blocked-exact shingle dedup tests:
  // all-pairs 8-gram Jaccard >= threshold on the real sf0.001 documents
  private lazy val exactShinglePairs: Map[(Long, Long), Double] = {
    import graft.functions.TextAnalysis
    val sets = Tables.documents(spark, sf001).select($"doc_id",
      array_distinct(TextAnalysis.charShingles($"text", 8)).as("sh"))
    val a = sets.select($"doc_id".as("id_a"), $"sh".as("sh_a"))
    val b = sets.select($"doc_id".as("id_b"), $"sh".as("sh_b"))
    a.crossJoin(broadcast(b)).filter($"id_a" < $"id_b")
      .select($"id_a", $"id_b",
        (size(array_intersect($"sh_a", $"sh_b")).cast("double") /
          size(array_union($"sh_a", $"sh_b")).cast("double")).as("j"))
      .filter($"j" >= QueriesExt.JaccardThreshold)
      .as[(Long, Long, Double)].collect()
      .map(p => (p._1, p._2) -> p._3).toMap
  }

  test("minhash-banded near-dup equals exact all-pairs, and the estimate is tight") {
    val got = Dedup.minhashNearDupPairs(Tables.documents(spark, sf001),
      "text", "doc_id", threshold = QueriesExt.JaccardThreshold)
      .as[(Long, Long, Double, Double)].collect()
    val gotPairs = got.map(p => (p._1, p._2)).toSet
    assert(gotPairs == exactShinglePairs.keySet,
      s"missed: ${exactShinglePairs.keySet -- gotPairs}, spurious: ${gotPairs -- exactShinglePairs.keySet}")
    assert(got.nonEmpty)
    // estimate-vs-exact error bound: 32-hash minhash std at J~0.95 is
    // ~0.04; 0.2 leaves margin while still catching a broken signature
    val maxErr = got.map(p => math.abs(p._4 - p._3)).max
    assert(maxErr <= 0.2, s"max |est_jaccard - jaccard| = $maxErr")
  }

  test("simhash: chunk width scales with corpus size; saturated buckets stay bounded") {
    assert(Dedup.simhashChunkBitsFor(1000L) == 16)
    assert(Dedup.simhashChunkBitsFor(100000000L) == 16)
    assert(Dedup.simhashChunkBitsFor(200000000L) == 32)
    // 400 identical docs saturate every (chunk, value) bucket; the hot-key
    // cap must bound the candidate join instead of emitting all C(400,2)
    // pairs, while within-cap pairs survive
    val same = (0L until 400L).map(i => (i, "identical boilerplate text " * 8))
      .toDF("doc_id", "text")
    val pairs = Dedup.simhashNearDupPairs(same, "text", "doc_id",
      maxBucketSize = 50)
    val n = pairs.count()
    assert(n > 0, "within-cap pairs must survive saturation")
    assert(n < 40000, s"candidates not bounded under saturated buckets: $n")
  }

  test("connected components: chains, triangles, singletons, id order") {
    // component {1,2,3,9} via a chain, {4,5,6} via a triangle, {7,8}
    // as a pair; edge direction and duplicates must not matter — on
    // BOTH tiers (r14: driver union-find under maxDriverEdges, the
    // alternating-star loop above it / the 100 TB path)
    val edges = Seq((3L, 1L), (2L, 3L), (9L, 2L), (4L, 5L), (5L, 6L),
      (6L, 4L), (8L, 7L), (7L, 8L), (1L, 3L)).toDF("a", "b")
    for (maxDriver <- Seq(4000000L, 0L)) {
      val got = Dedup.connectedComponents(edges, "a", "b",
        maxDriverEdges = maxDriver).as[(Long, Long)].collect().toMap
      assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 9L -> 1L,
        4L -> 4L, 5L -> 4L, 6L -> 4L, 7L -> 7L, 8L -> 7L),
        s"maxDriverEdges=$maxDriver")
    }
  }

  test("connected components: long path converges within the round budget") {
    // a 64-node path is the worst diameter-per-edge shape — label
    // propagation would need 64 rounds; star contraction must stay
    // inside the default maxIter (forced distributed: the driver tier
    // has no rounds to converge)
    val path = (0L until 63L).map(i => (i, i + 1)).toDF("a", "b")
    val got = Dedup.connectedComponents(path, "a", "b", maxDriverEdges = 0L)
      .as[(Long, Long)].collect()
    assert(got.length == 64 && got.forall(_._2 == 0L))
    val empty = Dedup.connectedComponents(path.filter(lit(false)), "a", "b")
    assert(empty.isEmpty)
    val emptyDist = Dedup.connectedComponents(path.filter(lit(false)), "a", "b",
      maxDriverEdges = 0L)
    assert(emptyDist.isEmpty)
  }

  /** r14: the driver union-find tier must label exactly like the
    * distributed alternating-star loop on a real near-dup edge list
    * (union-by-min-root ⇒ component = min id, the same fixpoint).
    */
  test("connected components: driver tier equals the distributed tier on the real pair list") {
    val pairs = Dedup.minhashNearDupPairs(
      Tables.documents(spark, sf001), "text", "doc_id", threshold = 0.5)
      .select(col("id_a"), col("id_b")).localCheckpoint(true)
    val driver = Dedup.connectedComponents(pairs, "id_a", "id_b")
      .as[(Long, Long)].collect().toMap
    val dist = Dedup.connectedComponents(pairs, "id_a", "id_b",
      maxDriverEdges = 0L).as[(Long, Long)].collect().toMap
    assert(driver.nonEmpty)
    assert(driver == dist)
  }

  test("dd_cluster labels every doc with its duplicate cluster minimum") {
    val got = QueriesExt.ddCluster(spark, sf001).as[(Long, Long)].collect()
    val nDocs = Tables.documents(spark, sf001).count()
    assert(got.length == nDocs)
    // reconstruct expected components from the exact pair list
    val adj = exactShinglePairs.keySet.toSeq
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = { val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r } }
    adj.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb) }
    val expect = got.map { case (id, _) => id -> find(id) }.toMap
    assert(got.toMap == expect)
  }

  test("simhash-chunk-blocked near-dup equals exact all-pairs, with small hamming") {
    val got = Dedup.simhashNearDupPairs(Tables.documents(spark, sf001),
      "text", "doc_id", threshold = QueriesExt.JaccardThreshold)
      .as[(Long, Long, Double, Int)].collect()
    val gotPairs = got.map(p => (p._1, p._2)).toSet
    assert(gotPairs == exactShinglePairs.keySet,
      s"missed: ${exactShinglePairs.keySet -- gotPairs}, spurious: ${gotPairs -- exactShinglePairs.keySet}")
    assert(got.nonEmpty)
    // near-identical texts must land within a few simhash bit flips —
    // the blocking only guarantees coverage up to hamming 7 (8-bit
    // chunks), so the emitted pairs' distances double as a recall proof
    val maxHam = got.map(_._4).max
    assert(maxHam <= 7, s"max hamming among exact near-dups = $maxHam")
  }

  test("b-bit minhash sketch: estimator tracks Jaccard; reject cutoff separates") {
    import graft.plans.GraftFunctions.{arrayHamming, hashedCharShingles, minhashBits256}
    // crafted texts at three similarity regimes; sketch estimate
    // Ĵ = 2m/256 − 1 must track the exact hash-set Jaccard within ~4σ
    // (the 256 bits are independent minwise hashes, so the /256 σ is
    // exact at every doc length — r11)
    val t = Seq(
      (0L, base), (1L, base), // identical: J = 1
      (2L, base + " extra trailing words appended here"), // high J
      (3L, "totally different subject matter entirely " * 10)) // J ≈ 0
      .toDF("doc_id", "text")
    val sk = t.select(col("doc_id"),
      hashedCharShingles(col("text"), 8).as("sh"),
      minhashBits256(hashedCharShingles(col("text"), 8)).as("sk"))
    val rows = sk.as("a").join(sk.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id"),
        graft.plans.GraftFunctions.sortedJaccard(col("a.sh"), col("b.sh")).as("j"),
        ((lit(256) - arrayHamming(col("a.sk"), col("b.sk"))).cast("double") / 128.0 - 1.0)
          .as("est"))
      .collect()
    rows.foreach { r =>
      val (j, est) = (r.getDouble(2), r.getDouble(3))
      val sigma = 2.0 * math.sqrt((1 + j) / 2 * (1 - (1 + j) / 2) / 256.0)
      assert(math.abs(est - j) <= math.max(4 * sigma, 0.06),
        s"sketch estimate $est vs exact $j (σ=$sigma) for ${r.getLong(0)}-${r.getLong(1)}")
    }
    // identical docs: zero sketch hamming (deterministic mins)
    val idPair = rows.find(r => r.getLong(0) == 0L && r.getLong(1) == 1L).get
    assert(idPair.getDouble(3) == 1.0)
    // empty input: the documented all-zero sketch, not an error; two
    // empty docs "match" and are settled by the exact verify (J = 0)
    val empty = Seq((9L, "ab")).toDF("doc_id", "text")
      .select(minhashBits256(hashedCharShingles(col("text"), 8)).as("sk"))
      .head.getSeq[Long](0)
    assert(empty == Seq(0L, 0L, 0L, 0L))
  }

  test("simhash sketch reject: templated radius-band mass drops, near-dups survive") {
    // 40 docs from one template with distinct tails: token distributions
    // nearly identical (simhash distances inside the radius) but shingle
    // Jaccard far below threshold — the r10 sf10 explosion in miniature.
    // Near-dup planted pair must survive the sketch reject.
    val templated = (0L until 40L).map(i =>
      (i, s"shared template preamble common across every document body " +
        (0 until 12).map(k => s"unique${i}x${k}token${i * 31 + k * 7}")
          .mkString(" "))) :+
      (100L, base) :+ (101L, base + " tail")
    // the sketch only attaches above the corpus-size floor (r11) —
    // force the scale path so this exercises the reject, not the
    // small-corpus bypass
    spark.conf.set(Dedup.ScaleFloorKey, "0")
    try {
      val pairs = Dedup.simhashNearDupPairs(templated.toDF("doc_id", "text"),
        "text", "doc_id", threshold = 0.5)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      assert(pairs.contains((100L, 101L)), s"planted near-dup lost: $pairs")
      assert(!pairs.exists(p => p._1 < 40L && p._2 < 40L && p._1 != p._2),
        "templated low-Jaccard pair emitted")
    } finally spark.conf.unset(Dedup.ScaleFloorKey)
  }

  test("scale and small-corpus paths emit identical pairs (minhash, simhash, ngram)") {
    // r11: co-partitioned scratch / merge pins / minhash prefilter only
    // attach above ScaleFloorKey (simhash keeps its sketch reject in
    // BOTH paths — it pays off at every scale). Path choice must never
    // change RESULTS — compare both paths on the real 500-doc corpus
    // PLUS a block of SHORT near-dup docs (~2 lines ≈ 60-100 distinct
    // shingles), where the old flat-256 sketch σ understated the
    // estimator variance and could wrongly reject a true at-threshold
    // pair that the prefilter-free minhash small path keeps.
    val d0 = Tables.documents(spark, sf001).select($"doc_id", $"text")
    val short = (0 until 30).flatMap { i =>
      val stem = s"short doc $i with a modest amount of content token${i * 13} " +
        s"and some shared phrasing about data pipelines run${i}"
      Seq((9000L + 2 * i, stem), (9001L + 2 * i, stem + s" plus tail$i"))
    }.toDF("doc_id", "text")
    val d = d0.unionByName(short)
    def run(floor: String, q: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame) = {
      spark.conf.set(Dedup.ScaleFloorKey, floor)
      try q(d).collect().map(_.toString).sorted.toSeq
      finally spark.conf.unset(Dedup.ScaleFloorKey)
    }
    val ops: Seq[(String, org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)] = Seq(
      "minhash" -> (df => Dedup.minhashNearDupPairs(df, "text", "doc_id", threshold = 0.5)),
      "simhash" -> (df => Dedup.simhashNearDupPairs(df, "text", "doc_id", threshold = 0.5)),
      "ngram" -> (df => Dedup.ngramJaccardPairs(df, "text", "doc_id",
        shingleLen = 24, stride = 3, threshold = 0.5)))
    for ((name, q) <- ops) {
      val scalePath = run("0", q)
      val smallPath = run(Long.MaxValue.toString, q)
      assert(scalePath == smallPath,
        s"$name: scale path diverged from small path " +
          s"(${scalePath.size} vs ${smallPath.size} rows); " +
          s"onlyScale=${scalePath.diff(smallPath).take(5)} " +
          s"onlySmall=${smallPath.diff(scalePath).take(5)}")
    }
  }

  test("top-k heap aggregate equals the rank window, including cosine ties") {
    import org.apache.spark.sql.expressions.Window
    // synthetic candidate stream with deliberate score ties (ids 20/21
    // share a cosine; the tie must break to the smaller neighbor_id),
    // duplicates of the same score across queries, and a query with
    // fewer than k candidates
    val cand = Seq(
      (1L, 10L, 0.9), (1L, 11L, 0.8), (1L, 20L, 0.7), (1L, 21L, 0.7),
      (1L, 12L, 0.6), (1L, 13L, 0.5),
      (2L, 30L, 0.4), (2L, 31L, 0.4),
      (3L, 40L, 1.0)).toDF("query_id", "neighbor_id", "cosine")
    val viaAgg = cand.groupBy(col("query_id"))
      .agg(graft.plans.GraftFunctions.topKNeighbors(
        col("cosine"), col("neighbor_id"), 4).as("__top"))
      .select(col("query_id"), posexplode(col("__top")).as(Seq("__p", "__e")))
      .select(col("query_id"), col("__e.neighbor_id").as("neighbor_id"),
        col("__e.cosine").as("cosine"), (col("__p") + 1).cast("int").as("rank"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    val viaWindow = cand.withColumn("__rank", row_number().over(w))
      .filter(col("__rank") <= 4)
      .select(col("query_id"), col("neighbor_id"), col("cosine"),
        col("__rank").cast("int").as("rank"))
    val a = viaAgg.orderBy("query_id", "rank").collect().toSeq
    val b = viaWindow.orderBy("query_id", "rank").collect().toSeq
    assert(a == b, s"aggregate top-k diverged from the window form:\n$a\nvs\n$b")
  }

  test("hot LSH buckets are salt-split: bounded candidates, graceful recall") {
    import graft.operators.Skew
    // 200 identical docs = one boilerplate cluster -> every band bucket
    // holds all 200 (s²/2 = 19900 pairs per band uncapped)
    val boiler = (0L until 200L).map(i => (i, base)).toDF("doc_id", "text")
    val pairsDf = Dedup.minhashLshPairs(boiler, "text", "doc_id",
      maxBucketSize = 50)
    // salting (not dropping): within-sub-group pairs of the hot cluster
    // survive — an identical-doc cluster hot in EVERY band must not
    // silently vanish — while candidate volume stays bounded by the cap
    val n = pairsDf.count()
    assert(n > 0, "hot identical-doc cluster lost all pairs")
    // sub-group splitting loses cross-salt pairs -> strictly below the
    // C(200,2) all-pairs volume (deterministic: salts are xxhash64)
    assert(n < 200L * 199L / 2L)
    // the oversize is observable via the report helper
    val withSig = boiler.select($"doc_id".as("id"),
      Dedup.minhashSignature(array_distinct(
        graft.functions.TextAnalysis.charShingles($"text", 8)), 32).as("sig"))
    val banded = withSig.select($"id",
      posexplode(org.apache.spark.sql.functions.transform(sequence(lit(0), lit(3)),
        bnd => xxhash64(concat_ws("_", org.apache.spark.sql.functions.transform(
          slice($"sig", bnd * 8 + 1, lit(8)), _.cast("string"))))))
        .as(Seq("band", "band_hash")))
    val report = Skew.hotKeyReport(banded, Seq("band", "band_hash"), 50).collect()
    assert(report.nonEmpty && report.forall(_.getAs[Long]("group_size") == 200L))
    // mixed corpus: near-dups outside the hot cluster are unaffected
    val mixed = docs.unionByName((100L until 300L).map(i => (i, "spam " * 30)).toDF("doc_id", "text"))
    val pairs = Dedup.minhashLshPairs(mixed, "text", "doc_id",
      shingleLen = 8, numHashes = 32, bands = 16, threshold = 0.4, maxBucketSize = 50)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)) && pairs.contains((0L, 3L)))
  }

  test("hot shingles are capped in the ngram inverted index") {
    // every doc shares one boilerplate shingle; only 0/1 share real content
    val footer = "COMMON-FOOTER-SHINGLE-XYZ123"
    val d = Seq(
      (0L, base + footer), (1L, base + " tail " + footer),
      (2L, "unrelated first text here " + footer),
      (3L, "different second text body " + footer)).toDF("doc_id", "text")
    val pairs = Dedup.ngramJaccardPairs(d, "text", "doc_id",
      shingleLen = 12, stride = 1, threshold = 0.5, maxDocFreq = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L))) // found via non-boilerplate shingles
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 3L && p._1 != 0L))
  }

  test("brute-force cosine top-k is exact on known geometry") {
    val vecs = Seq(
      (0L, Array(1f, 0f)), (1L, Array(0.9f, 0.1f)),
      (2L, Array(0f, 1f)), (3L, Array(-1f, 0f)))
      .toDF("vec_id", "embedding")
    val top1 = Similarity.bruteForceTopK(vecs, vecs, "vec_id", "embedding", k = 1)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toMap
    assert(top1(0L) == 1L && top1(1L) == 0L && top1(3L) == 2L)
  }

  test("LSH ANN achieves reasonable recall vs brute force on real embeddings") {
    val emb = Tables.embeddings(spark, sf001)
    val exact = Similarity.bruteForceTopK(emb, emb, "vec_id", "embedding", k = 5)
    val approx = Similarity.lshTopK(emb, "vec_id", "embedding", k = 5)
    val recall = Similarity.recallAtK(approx, exact)
    // measured 0.477 with the tuned defaults (nBits=5, nTables=8,
    // adaptive Hamming-1 probe); the gate leaves margin for param drift
    // but sits well above the round-3 floor of 0.25
    assert(recall > 0.35, s"recall@5 = $recall")
  }

  test("semdedup: one cell equals exact all-pairs; many cells stay exact within cells") {
    // two tight groups plus two loners: within-group cosine ~1, across ~0
    val vecs = Seq(
      (1L, Array(1f, 0f, 0f, 0f)),
      (2L, Array(0.99f, 0.02f, 0f, 0f)),   // near-dup of 1
      (3L, Array(0f, 1f, 0f, 0f)),
      (4L, Array(0.01f, 0.998f, 0f, 0f)),  // near-dup of 3
      (5L, Array(0f, 0f, 1f, 0f)),
      (6L, Array(0f, 0f, 0f, 1f))).toDF("vec_id", "vec")
    // exact all-pairs decision at the same threshold, as the reference set
    def exactPairs(th: Double): Set[(Long, Long)] = {
      val v = vecs.select($"vec_id", $"vec",
        VectorFunctions.normSq($"vec").as("nsq"))
      v.as("a").crossJoin(v.as("b"))
        .filter($"a.vec_id" < $"b.vec_id")
        .select($"a.vec_id", $"b.vec_id",
          VectorFunctions.cosineFromParts(
            VectorFunctions.dot($"a.vec", $"b.vec"), $"a.nsq", $"b.nsq").as("c"))
        .filter($"c" >= th)
        .as[(Long, Long, Double)].collect().map(r => (r._1, r._2)).toSet
    }
    // nLists = 1: a single cell blocks nothing — must equal the exact join
    val one = Dedup.semDedupPairs(vecs, "vec", "vec_id", nLists = 1, threshold = 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(one == exactPairs(0.9), s"one-cell semdedup diverged: $one")
    // several cells: no false positives (subset of exact), every shipped
    // pair shares a cell, and both same-direction groups survive blocking
    val many = Dedup.semDedupPairs(vecs, "vec", "vec_id", nLists = 3, threshold = 0.9)
    val manyPairs = many.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(manyPairs.subsetOf(exactPairs(0.9)), s"false positive: $manyPairs")
    assert(manyPairs.contains((1L, 2L)) && manyPairs.contains((3L, 4L)),
      s"near-identical pairs must share their nearest cell: $manyPairs")
  }

  test("incremental near-dup equals the cross-subset of the batch pair list") {
    // shard = {1, 3} (both near-dups of corpus doc 0); corpus = {0, 2, 4}
    val shard = docs.filter($"doc_id" % 2 === 1)
    val corpus = docs.filter($"doc_id" % 2 === 0)
    val inc = Dedup.minhashNearDupPairsAgainst(shard, corpus, "text", "doc_id")
      .select("new_id", "old_id").as[(Long, Long)].collect().toSet
    assert(inc == Set((1L, 0L), (3L, 0L)), s"got $inc")
    // and it matches the batch operator's pairs restricted to cross pairs
    val batchCross = Dedup.minhashNearDupPairs(docs, "text", "doc_id")
      .select("id_a", "id_b").as[(Long, Long)].collect()
      .filter { case (a, b) => (a % 2 == 1) != (b % 2 == 1) }
      .map { case (a, b) => if (a % 2 == 1) (a, b) else (b, a) }.toSet
    assert(inc == batchCross, s"inc=$inc batch-cross=$batchCross")
  }

  test("winnow fingerprint overlap separates near-dups from unrelated docs") {
    import graft.plans.GraftFunctions
    // shared fingerprints between the known near-dup pair dominate any
    // overlap with the unrelated doc (raw counts, before the graded
    // query's corpus-level threshold/exclusion)
    val fps = docs.select($"doc_id",
      explode(array_distinct(GraftFunctions.winnow($"text", 8, 8))).as("fp"))
    val counts = fps.as("x").join(fps.as("y"), Seq("fp"))
      .filter($"x.doc_id" < $"y.doc_id")
      .groupBy($"x.doc_id".as("a"), $"y.doc_id".as("b"))
      .agg(count(lit(1)).as("n"))
      .as[(Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    val nearDup = counts.getOrElse((0L, 1L), 0L)
    val unrelated = counts.getOrElse((0L, 2L), 0L)
    assert(nearDup > 10 * math.max(unrelated, 1),
      s"near-dup overlap $nearDup not separated from unrelated $unrelated")
  }

  test("fused shingle hashing equals the composed charShingles+hash form, incl. multibyte") {
    import graft.plans.GraftFunctions
    import graft.functions.TextAnalysis
    val texts = Seq("", "ab", "hello world hello world hello",
      "héllo wörld ünïcode ños — mixed ASCII and multibyte",
      "日本語のテキストです abc def ghi jkl",
      "aaaaaaaaaaaaaaaa") // identical shingles -> dedup path
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "t")
    for ((n, stride) <- Seq((8, 1), (4, 3), (24, 3))) {
      val fused = df.select($"id",
        GraftFunctions.hashedCharShingles($"t", n, stride).as("h"))
        .as[(Long, Seq[Long])].collect().toMap
      val composed = df.select($"id",
        GraftFunctions.hashedShingleSet(
          TextAnalysis.charShingles($"t", n, stride)).as("h"))
        .as[(Long, Seq[Long])].collect().toMap
      assert(fused == composed, s"divergence at n=$n stride=$stride")
    }
  }

  test("cosine expression matches scalar computation") {
    val df = Seq((Array(1f, 2f, 3f), Array(4f, 5f, 6f))).toDF("a", "b")
    val got = df.select(VectorFunctions.cosine($"a", $"b")).as[Double].head()
    val expect = (4.0 + 10.0 + 18.0) /
      (math.sqrt(1 + 4 + 9) * math.sqrt(16 + 25 + 36))
    assert(math.abs(got - expect) < 1e-12)
  }

  test("centroid assignment keeps NaN vectors with the window form's NaN-greatest order") {
    // r11 (ADVICE): a plain `>` is false for NaN, so a vector with a
    // non-finite component produced an EMPTY list and silently fell out
    // of the assignment, where `row_number over (csim desc, list_id
    // asc)` — NaN greatest in Spark's ordering — assigned it to the
    // smallest list_id. The expression now uses the same total order.
    import graft.plans.{CentroidBank, GraftFunctions}
    val bank = spark.sparkContext.broadcast(CentroidBank(Array(
      (3, Array(0f, 1f)), (1, Array(1f, 0f)), (2, Array(0.6f, 0.8f)))))
    val df = Seq(
      (10L, Array(1f, 0.1f)),       // finite: nearest list 1
      (11L, Array(Float.NaN, 1f)),  // NaN csims: smallest list_id first
      (12L, Array(0f, 1f))          // finite: nearest list 3
    ).toDF("id", "vec")
    val got = df.select($"id",
      GraftFunctions.nearestCentroidLists($"vec", bank, 2).as("l"))
      .as[(Long, Seq[Int])].collect().toMap
    assert(got(10L).head == 1, s"finite vector misassigned: ${got(10L)}")
    assert(got(12L).head == 3, s"finite vector misassigned: ${got(12L)}")
    assert(got(11L) == Seq(1, 2),
      s"NaN vector must rank all-NaN csims by list_id asc, got ${got(11L)}")
  }

  test("centroid bank broadcast is memoized per centroid frame") {
    OperatorState.clear(Some(spark), Seq(Similarity.CentroidBanks))
    val emb = Tables.embeddings(spark, sf001)
    Similarity.ivfSeededCandidates(emb, "vec_id", "embedding",
      nLists = 8, nProbe = 2).count()
    assert(OperatorState.stats(Similarity.CentroidBanks).entries == 1)
    // same frame → same canonical plan + file signature → cache hit
    Similarity.ivfSeededCandidates(emb, "vec_id", "embedding",
      nLists = 8, nProbe = 2).count()
    assert(OperatorState.stats(Similarity.CentroidBanks).entries == 1,
      "repeated construction re-collected the centroid bank")
    // different centroid geometry → different plan → new entry
    Similarity.ivfSeededCandidates(emb, "vec_id", "embedding",
      nLists = 4, nProbe = 2).count()
    assert(OperatorState.stats(Similarity.CentroidBanks).entries == 2)
  }

  /** r14: the simhash candidate scan tier (broadcast chunk index) must
    * emit exactly the join tier's pair set — truncation, orientation,
    * sketch cutoff and radius replayed bit-for-bit — across the full
    * corpus, a saturated-bucket (truncating) geometry, and thresholds;
    * duplicate-id corpora must fall back to the join tier.
    */
  test("simhash scan tier matches the join tier exactly (full, truncated, dup-id)") {
    val docs = Tables.documents(spark, sf001)
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long, Int)] =
      df.collect().toSet[org.apache.spark.sql.Row].map(r => (r.getLong(0), r.getLong(1),
        java.lang.Double.doubleToRawLongBits(r.getDouble(2)), r.getInt(3)))
    OperatorState.clear(Some(spark), Seq(Dedup.SimhashBanks))
    val scan = Dedup.simhashNearDupPairs(docs, "text", "doc_id", threshold = 0.5)
    val join = Dedup.simhashNearDupPairs(docs, "text", "doc_id", threshold = 0.5,
      maxIndexBroadcastBytes = 0)
    val s = rows(scan)
    assert(s.nonEmpty)
    assert(s == rows(join))
    // scan-tier plan: candidate generation is the map-side bank scan —
    // no (chunk, chunk_val) join node anywhere in the final plan
    scan.count()
    val plan = scan.queryExecution.executedPlan.toString
    assert(plan.contains("MapPartitions"), plan)
    assert(!plan.contains("chunk_val"), plan)
    assert(OperatorState.stats(Dedup.SimhashBanks).entries == 1)
    // saturated buckets: maxBucketSize = 2 truncates nearly every bucket
    // — the bank must keep the same smallest-id survivors as
    // truncateHotKeys, and drop the same probe rows
    val scanT = Dedup.simhashNearDupPairs(docs, "text", "doc_id", threshold = 0.5,
      maxBucketSize = 2)
    val joinT = Dedup.simhashNearDupPairs(docs, "text", "doc_id", threshold = 0.5,
      maxBucketSize = 2, maxIndexBroadcastBytes = 0)
    assert(rows(scanT) == rows(joinT))
    assert(rows(scanT) != s, "maxBucketSize=2 should truncate some pairs")
    // lower threshold widens the sketch cutoff identically in both tiers
    val scanL = Dedup.simhashNearDupPairs(docs, "text", "doc_id", threshold = 0.3)
    val joinL = Dedup.simhashNearDupPairs(docs, "text", "doc_id", threshold = 0.3,
      maxIndexBroadcastBytes = 0)
    assert(rows(scanL) == rows(joinL))
    // duplicate ids → fail-closed to the join tier (results equal, and
    // the chunk join reappears)
    val dup = docs.unionAll(docs.limit(3))
    val dupScan = Dedup.simhashNearDupPairs(dup, "text", "doc_id", threshold = 0.5)
    val dupJoin = Dedup.simhashNearDupPairs(dup, "text", "doc_id", threshold = 0.5,
      maxIndexBroadcastBytes = 0)
    assert(rows(dupScan) == rows(dupJoin))
    dupScan.count()
    assert(dupScan.queryExecution.executedPlan.toString.contains("chunk_val"),
      "duplicate-id corpus must take the join tier")
  }

  /** r14: the SemDeDup pair scan tier (broadcast inverted file) must
    * emit exactly the cell self-join tier's pairs — assignment,
    * orientation, cosine values (strict-fold bit parity) and the two
    * Spark comparison edge cases (NaN ≥ threshold, zero-norm → 0.0) —
    * and fall back to the join tier on duplicate ids.
    */
  test("ivfpq scan tier matches the join tier exactly; dup ids fall back (r19)") {
    val emb = Tables.embeddings(spark, sf001)
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long, Int)] =
      df.collect().toSet[org.apache.spark.sql.Row].map(r => (r.getLong(0),
        r.getLong(1), java.lang.Double.doubleToRawLongBits(r.getDouble(2)),
        r.getInt(3)))
    val scan = Similarity.ivfPqSeededTopK(emb, "vec_id", "embedding",
      k = 5, rerankC = 32)
    val join = Similarity.ivfPqSeededTopK(emb, "vec_id", "embedding",
      k = 5, rerankC = 32, maxIndexBroadcastBytes = 0L)
    val s = rows(scan)
    assert(s.nonEmpty)
    assert(s == rows(join), "scan-tier ADC must equal the join tier bit-for-bit")
    val plan = scan.queryExecution.executedPlan.toString
    assert(plan.contains("MapPartitions"), plan)
    assert(!"Join \\[list_id".r.findFirstIn(plan).isDefined, plan)
    // duplicate corpus ids: the scan tier must refuse (per-row heaps
    // cannot replicate the join tier's per-query_id merge) — both
    // calls must agree because BOTH take the join tier
    val dup = emb.limit(8).unionAll(emb.limit(3))
    val dScan = Similarity.ivfPqSeededTopK(dup, "vec_id", "embedding",
      k = 3, rerankC = 8, nLists = 2, nProbe = 2)
    assert(dScan.queryExecution.executedPlan.toString.contains("SortMergeJoin"),
      "duplicate ids must fall back to the join tier")
    val dJoin = Similarity.ivfPqSeededTopK(dup, "vec_id", "embedding",
      k = 3, rerankC = 8, nLists = 2, nProbe = 2, maxIndexBroadcastBytes = 0L)
    assert(rows(dScan) == rows(dJoin))
    // NaN-embedding row (r19 advice): every codebook distance in every
    // subspace is NaN for this row, so a `<`-only election would emit
    // the out-of-contract code 0 and crash both tiers
    // (INVALID_ARRAY_INDEX under ANSI). PqCodes' Double.compare
    // election must elect entry 1 instead (the oracle's NaN-last,
    // cidx-asc order), and both tiers must still agree bit-for-bit.
    val dim = emb.select(size($"embedding")).head().getInt(0)
    val wnan = emb.limit(12).select($"vec_id", $"embedding")
      .unionAll(Seq((9001L, Seq.fill(dim)(Float.NaN)))
        .toDF("vec_id", "embedding"))
    val nScan = Similarity.ivfPqSeededTopK(wnan, "vec_id", "embedding",
      k = 3, rerankC = 8, nLists = 1, nProbe = 1)
    val nJoin = Similarity.ivfPqSeededTopK(wnan, "vec_id", "embedding",
      k = 3, rerankC = 8, nLists = 1, nProbe = 1, maxIndexBroadcastBytes = 0L)
    val ns = rows(nScan)
    assert(ns.nonEmpty)
    assert(ns == rows(nJoin),
      "NaN-embedding corpus: scan and join tiers must agree bit-for-bit")
  }

  test("semdedup scan tier matches the join tier exactly (full, NaN, zero-norm, dup-id)") {
    val emb = Tables.embeddings(spark, sf001)
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Int, Long)] =
      df.collect().toSet[org.apache.spark.sql.Row].map(r => (r.getLong(0), r.getLong(1),
        r.getInt(2), java.lang.Double.doubleToRawLongBits(r.getDouble(3))))
    val scan = Dedup.semDedupPairs(emb, "embedding", "vec_id", threshold = 0.45)
    val join = Dedup.semDedupPairs(emb, "embedding", "vec_id", threshold = 0.45,
      maxIndexBroadcastBytes = 0)
    val s = rows(scan)
    assert(s.nonEmpty)
    assert(s == rows(join))
    // scan plan: no pair join node, map-side enumeration
    scan.count()
    val plan = scan.queryExecution.executedPlan.toString
    assert(plan.contains("MapPartitions"), plan)
    assert(!"Join \\[list_id".r.findFirstIn(plan).isDefined, plan)
    // NaN vector: Spark ranks NaN above every double, so its pairs PASS
    // the cosine threshold in the join tier — the scan tier must too.
    // Zero-norm vector: cosine is literal 0.0 in both tiers (emitted
    // only if threshold ≤ 0).
    val dim = emb.select(size($"embedding")).head().getInt(0)
    val weird = emb.limit(6).select($"vec_id", $"embedding")
      .unionAll(Seq(
        (9001L, Seq.fill(dim)(Float.NaN)),
        (9002L, Seq.fill(dim)(0.0f))).toDF("vec_id", "embedding"))
    // one cell, so the NaN row's pairs are definitely enumerated (with
    // multiple cells a NaN vector can land alone in its cell)
    val wScan = Dedup.semDedupPairs(weird, "embedding", "vec_id",
      threshold = 0.45, nLists = 1)
    val wJoin = Dedup.semDedupPairs(weird, "embedding", "vec_id",
      threshold = 0.45, nLists = 1, maxIndexBroadcastBytes = 0)
    val ws = rows(wScan)
    assert(ws == rows(wJoin))
    assert(ws.exists(t => t._1 == 9001L || t._2 == 9001L),
      "NaN-cosine pairs must pass the threshold (Spark NaN ordering)")
    // the zero-norm doc scores literal 0.0 against every REAL vector
    // (never emitted at a positive threshold); its pair with the NaN
    // doc has a NaN dot → NaN cosine → passes, in both tiers
    assert(!ws.exists(t => (t._1 == 9002L || t._2 == 9002L) &&
        t._1 != 9001L && t._2 != 9001L),
      "zero-norm pairs score 0.0 and must not pass a positive threshold")
    // duplicate ids → fail-closed to the join tier (results equal, and
    // the cell-keyed join reappears)
    val dup = emb.select($"vec_id", $"embedding")
      .unionAll(emb.select($"vec_id", $"embedding").limit(3))
    val dupScan = Dedup.semDedupPairs(dup, "embedding", "vec_id", threshold = 0.45)
    val dupJoin = Dedup.semDedupPairs(dup, "embedding", "vec_id", threshold = 0.45,
      maxIndexBroadcastBytes = 0)
    assert(rows(dupScan) == rows(dupJoin))
    dupScan.count()
    assert("Join \\[list_id".r.findFirstIn(
      dupScan.queryExecution.executedPlan.toString).isDefined,
      "duplicate-id corpus must take the join tier")
  }

  /** r14: the winnow-overlap scan tier (broadcast inverted fingerprint
    * index, doc-major run-length pair counting) must emit exactly the
    * join tier's (id_a, id_b, shared_fps) rows — including the doc-freq
    * exclusion and the minShared filter — and fall back to the join
    * tier on duplicate ids.
    */
  test("winnow-overlap scan tier matches the join tier exactly (full, tight cap, dup-id)") {
    val docs = Tables.documents(spark, sf001)
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
      df.collect().toSet[org.apache.spark.sql.Row]
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val scan = Dedup.winnowOverlapPairs(docs, "text", "doc_id", minShared = 10)
    val join = Dedup.winnowOverlapPairs(docs, "text", "doc_id", minShared = 10,
      maxIndexBroadcastBytes = 0)
    val s = rows(scan)
    assert(s.nonEmpty)
    assert(s == rows(join))
    // scan plan: no fingerprint self-join, map-side enumeration
    scan.count()
    val plan = scan.queryExecution.executedPlan.toString
    assert(plan.contains("MapPartitions"), plan)
    assert(!"Join \\[fp".r.findFirstIn(plan).isDefined, plan)
    // a tight doc-freq cap changes the kept set — both tiers must track
    val scanC = Dedup.winnowOverlapPairs(docs, "text", "doc_id",
      minShared = 5, maxDocFreq = 3)
    val joinC = Dedup.winnowOverlapPairs(docs, "text", "doc_id",
      minShared = 5, maxDocFreq = 3, maxIndexBroadcastBytes = 0)
    assert(rows(scanC) == rows(joinC))
    // duplicate ids → fail-closed to the join tier
    val dup = docs.unionAll(docs.limit(3))
    val dupScan = Dedup.winnowOverlapPairs(dup, "text", "doc_id", minShared = 10)
    val dupJoin = Dedup.winnowOverlapPairs(dup, "text", "doc_id", minShared = 10,
      maxIndexBroadcastBytes = 0)
    assert(rows(dupScan) == rows(dupJoin))
    dupScan.count()
    assert("Join \\[fp".r.findFirstIn(
      dupScan.queryExecution.executedPlan.toString).isDefined,
      "duplicate-id corpus must take the join tier")
  }

  /** r13 advice: explicit nBits + a zero broadcast budget is the
    * documented very-large-corpus escape hatch — plan construction must
    * run NO sizing jobs (no corpus count, no dim head). A positive
    * budget legitimately counts for scan-tier admission.
    */
  test("explicit-geometry lshTopK with zero budget runs no sizing jobs") {
    import graft.operators.CorpusStats
    def misses = OperatorState.stats(CorpusStats.Sizing).misses
    // fresh plan (unique literal content) so the memo cache cannot hide
    // a sizing job behind a prior suite's entry
    val emb = Tables.embeddings(spark, sf001)
      .filter($"vec_id" =!= -987654321L)
    val m0 = misses
    Similarity.lshTopK(emb, "vec_id", "embedding", k = 5, nBits = 12,
      maxIndexBroadcastBytes = 0)
    assert(misses == m0,
      "zero-budget explicit-nBits lshTopK ran a sizing job")
    // control: the default budget needs n (+ dim) for admission
    Similarity.lshTopK(emb, "vec_id", "embedding", k = 5, nBits = 12)
    assert(misses > m0)
  }
}

class StatefulAnnSpec extends SparkSuite {
  import graft.operators.Similarity
  import graft.sources.Tables
  import graft.streaming.StatefulLatest
  import graft.streaming.StatefulLatest.{Emitted, KeyedChange}
  import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
  import org.apache.spark.sql.streaming.OutputMode
  import spark.implicits._

  test("IVF ANN achieves reasonable recall vs brute force") {
    val emb = Tables.embeddings(spark, sf001)
    val exact = Similarity.bruteForceTopK(emb, emb, "vec_id", "embedding", k = 5)
    val ivf = Similarity.ivfTopK(emb, "vec_id", "embedding", k = 5, nLists = 8, nProbe = 3)
    val recall = Similarity.recallAtK(ivf, exact)
    assert(recall > 0.5, s"IVF recall@5 = $recall")
  }

  test("two-level IVF engages past the centroid cap and holds the recall floor") {
    // sf0.01: 500 vectors, √N = 23 — above the 16-list floor the tiny
    // budget caps the single-level tier at, so the auto path must take
    // the two-level branch (lists back at √N = 23, only √lists coarse
    // reps broadcast) and still meet the single-level recall floor
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.01")
    val n = emb.count()
    val dim = 64
    val tinyBudget = 16L * (4L * dim + 64L)
    assert(Similarity.ivfListsFor(n, dim, tinyBudget) == 16)
    assert(math.ceil(math.sqrt(n.toDouble)).toInt > 16)
    val exact = Similarity.bruteForceTopK(emb, emb, "vec_id", "embedding", k = 5)
    val two = Similarity.ivfTopK(emb, "vec_id", "embedding", k = 5,
      maxCentroidBytes = tinyBudget)
    val twoRecall = Similarity.recallAtK(two, exact)
    // the honest comparison is SAME geometry: single-level at the same
    // 23 lists / 4 probes (explicit params skip the auto-switch). The
    // hierarchical tier may only pay a small boundary-miss tax on top
    // of that — not collapse — plus an absolute sanity floor.
    val single = Similarity.ivfTopK(emb, "vec_id", "embedding", k = 5,
      nLists = math.ceil(math.sqrt(n.toDouble)).toInt,
      nProbe = Similarity.autoProbe(math.ceil(math.sqrt(n.toDouble)).toInt))
    val singleRecall = Similarity.recallAtK(single, exact)
    assert(twoRecall >= 0.8 * singleRecall,
      s"two-level recall $twoRecall vs single-level $singleRecall at same geometry")
    assert(twoRecall > 0.3, s"two-level IVF recall@5 = $twoRecall")
  }

  test("two-level assignment cost model: O(N·√N) drops toward O(N·√lists)") {
    // the cap-binding regime this tier exists for: 10⁹ vectors, √N
    // fine lists. Single-level assignment scores n·lists pairs; the
    // hierarchical path's ratio is ~√lists/(1+coarseProbe) — 89/59/36
    // at coarseProbe 1/2/4 here — so ≥10× cheaper at every plausible
    // coarseProbe, and ≥50× at the shipped default's neighborhood.
    val n = 1_000_000_000L
    val lists = 31623 // ceil(√10⁹)
    for (cp <- Seq(1, 2, 4)) {
      val (single, two) = Similarity.ivfAssignOps(n, lists, cp)
      assert(single == n * lists)
      assert(two * 10 < single, s"coarseProbe=$cp: $two vs $single")
    }
    val (single2, two2) = Similarity.ivfAssignOps(n, lists, 2)
    assert(two2 * 50 < single2)
  }

  test("IVF scan tier matches the join tier bit-for-bit (seeded + trained, filtered + full)") {
    val emb = Tables.embeddings(spark, sf001)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long, Int)] =
      df.collect().toSeq.map(r => (r.getLong(0), r.getLong(1),
        // raw bits: the parity contract is BIT-identical cosines, not
        // approximate equality — the oracle hashes these doubles
        java.lang.Double.doubleToRawLongBits(r.getDouble(2)), r.getInt(3)))
        .sortBy(t => (t._1, t._4))
    // seeded tier at production geometry — the graded sim_ann_ivf shape
    val scanS = Similarity.ivfSeededTopK(emb, "vec_id", "embedding", k = 5)
    val joinS = Similarity.ivfSeededTopK(emb, "vec_id", "embedding", k = 5,
      maxIndexBroadcastBytes = 0)
    assert(rows(scanS) == rows(joinS))
    assert(rows(scanS).nonEmpty)
    // trained tier, pinned geometry (centroids memoized → identical
    // across the two calls)
    val scanT = Similarity.ivfTopK(emb, "vec_id", "embedding", k = 5,
      nLists = 8, nProbe = 3)
    val joinT = Similarity.ivfTopK(emb, "vec_id", "embedding", k = 5,
      nLists = 8, nProbe = 3, maxIndexBroadcastBytes = 0)
    assert(rows(scanT) == rows(joinT))
    // queryFilter narrows only the probe side in both tiers — the
    // recall harness shape
    val f: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      id => id % 4 === 0
    val scanF = Similarity.ivfSeededTopK(emb, "vec_id", "embedding", k = 5,
      queryFilter = Some(f))
    val joinF = Similarity.ivfSeededTopK(emb, "vec_id", "embedding", k = 5,
      queryFilter = Some(f), maxIndexBroadcastBytes = 0)
    assert(rows(scanF) == rows(joinF))
    assert(rows(scanF) == rows(scanS).filter(_._1 % 4 == 0))
    // duplicate corpus ids: the join tier MERGES duplicate-id query
    // rows' candidates per query_id (groupBy), which independent
    // per-row heaps cannot replicate — the scan tier must REFUSE such
    // corpora (bank build detects them) and fall back, keeping results
    // identical across budgets
    val dup = emb.unionAll(emb.limit(3))
    val dupDefault = Similarity.ivfSeededTopK(dup, "vec_id", "embedding", k = 5)
    val dupJoin = Similarity.ivfSeededTopK(dup, "vec_id", "embedding", k = 5,
      maxIndexBroadcastBytes = 0)
    assert(rows(dupDefault) == rows(dupJoin))
    dupDefault.count()
    val dupPlan = dupDefault.queryExecution.executedPlan.toString
    assert(dupPlan.contains("graft_top_k_neighbors"),
      s"duplicate-id corpus must take the join tier:\n$dupPlan")
  }

  test("LSH scan tier matches the join tier bit-for-bit (full, starved, filtered, probe-off, dup-id)") {
    val emb = Tables.embeddings(spark, sf001)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long, Int)] =
      df.collect().toSeq.map(r => (r.getLong(0), r.getLong(1),
        java.lang.Double.doubleToRawLongBits(r.getDouble(2)), r.getInt(3)))
        .sortBy(t => (t._1, t._4))
    // production geometry (the graded sim_ann_lsh shape)
    val scan = Similarity.lshTopK(emb, "vec_id", "embedding", k = 5)
    val join = Similarity.lshTopK(emb, "vec_id", "embedding", k = 5,
      maxIndexBroadcastBytes = 0)
    assert(rows(scan).nonEmpty)
    assert(rows(scan) == rows(join))
    // crank bits so buckets are near-singletons: the STARVED path
    // (Hamming-1 probe expansion) fires for most queries in both tiers
    val scanS = Similarity.lshTopK(emb, "vec_id", "embedding", k = 5, nBits = 16)
    val joinS = Similarity.lshTopK(emb, "vec_id", "embedding", k = 5, nBits = 16,
      maxIndexBroadcastBytes = 0)
    assert(rows(scanS) == rows(joinS))
    // probing OFF: starved queries keep their thin own-bucket results
    val scanP = Similarity.lshTopK(emb, "vec_id", "embedding", k = 5,
      nBits = 16, probeBits = 0)
    val joinP = Similarity.lshTopK(emb, "vec_id", "embedding", k = 5,
      nBits = 16, probeBits = 0, maxIndexBroadcastBytes = 0)
    assert(rows(scanP) == rows(joinP))
    assert(rows(scanP).size < rows(scanS).size) // probing did add results
    // queryFilter narrows only the probe side in both tiers
    val f: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      id => id % 4 === 0
    val scanF = Similarity.lshTopK(emb, "vec_id", "embedding", k = 5,
      queryFilter = Some(f))
    val joinF = Similarity.lshTopK(emb, "vec_id", "embedding", k = 5,
      queryFilter = Some(f), maxIndexBroadcastBytes = 0)
    assert(rows(scanF) == rows(joinF))
    assert(rows(scanF) == rows(scan).filter(_._1 % 4 == 0))
    // duplicate corpus ids → scan tier refuses (rankTopK's groupBy
    // merges duplicate-id query rows), results equal across budgets
    val dup = emb.select($"vec_id", $"embedding").unionAll(
      emb.select($"vec_id", $"embedding").limit(3))
    val dupDefault = Similarity.lshTopK(dup, "vec_id", "embedding", k = 5)
    val dupJoin = Similarity.lshTopK(dup, "vec_id", "embedding", k = 5,
      maxIndexBroadcastBytes = 0)
    assert(rows(dupDefault) == rows(dupJoin))
    dupDefault.count()
    assert(dupDefault.queryExecution.executedPlan.toString
      .contains("graft_top_k_neighbors"),
      "duplicate-id corpus must take the join tier")
    // scan-tier plan contract: no join, exactly the one round-robin
    // query-side exchange (AQE's toString appends the pre-adaptive
    // "Initial Plan" section — guard the FINAL plan only)
    scan.count()
    val full = scan.queryExecution.executedPlan.toString
    val scanPlan = full.split("== Initial Plan ==")(0)
    assert("Exchange".r.findAllIn(scanPlan).size == 1, scanPlan)
    assert(scanPlan.contains("roundrobin") || scanPlan.contains("RoundRobin"), scanPlan)
    assert(!scanPlan.contains("Join"), scanPlan)
  }

  test("IVF scan tier drops null embeddings exactly like the join tier (r12 ADVICE)") {
    // the join tier drops null vectors silently (null-safe assignment →
    // null probe lists → explode drops the row); the scan tier's batch
    // loop would NPE on them instead, making a corpus with any null
    // embedding crash or not depending on which tier the budget admits
    val emb = Tables.embeddings(spark, sf001)
    val withNull = emb.select($"vec_id", $"embedding")
      .unionAll(Seq((999999L, null.asInstanceOf[Array[Float]]))
        .toDF("vec_id", "embedding"))
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long, Int)] =
      df.collect().toSeq.map(r => (r.getLong(0), r.getLong(1),
        java.lang.Double.doubleToRawLongBits(r.getDouble(2)), r.getInt(3)))
        .sortBy(t => (t._1, t._4))
    val scan = Similarity.ivfSeededTopK(withNull, "vec_id", "embedding", k = 5)
    val join = Similarity.ivfSeededTopK(withNull, "vec_id", "embedding", k = 5,
      maxIndexBroadcastBytes = 0)
    assert(rows(scan) == rows(join))
    assert(rows(scan).nonEmpty)
    // the null row contributes neither a query nor a neighbor
    assert(!rows(scan).exists(t => t._1 == 999999L || t._2 == 999999L))
  }

  test("IVF scan tier plan has no join and only the query-side exchange; " +
      "over-budget falls back to the join tier") {
    val emb = Tables.embeddings(spark, sf001)
    val scan = Similarity.ivfSeededTopK(emb, "vec_id", "embedding", k = 5)
    scan.count() // materialize through AQE before reading the final plan
    val scanPlan = scan.queryExecution.executedPlan.toString
    // exactly ONE exchange — the round-robin spread of the compact
    // query frame (scan parallelism; a budget-admitted corpus bin-packs
    // into ~1 file split) — and NO candidate-volume machinery: the
    // probes⋈members join stream never exists
    assert("Exchange".r.findAllIn(scanPlan).size == 1,
      s"scan tier must have exactly the query-side exchange:\n$scanPlan")
    assert(scanPlan.contains("roundrobin") || scanPlan.contains("RoundRobin"),
      s"scan tier exchange must be the round-robin query spread:\n$scanPlan")
    assert(!scanPlan.contains("Join"), s"scan tier must not join:\n$scanPlan")
    // budget accounting: n rows × (id + dim floats + norm + overhead)
    val n = emb.count()
    val bytes = Similarity.ivfIndexBytes(n, 64)
    assert(bytes == n * (8L + 4L * 64 + 8L + 48L))
    // one byte under the index size → join tier (its plan shuffles)
    val join = Similarity.ivfSeededTopK(emb, "vec_id", "embedding", k = 5,
      maxIndexBroadcastBytes = bytes - 1)
    join.count()
    val joinPlan = join.queryExecution.executedPlan.toString
    assert(joinPlan.contains("Exchange"),
      s"over-budget corpus must keep the join tier:\n$joinPlan")
  }

  test("ANN supported-scale envelope: silent at soak geometry, advisory past it, enforce rejects (r13)") {
    // pure contract first: the sf10 soak point (200k rows, 448 lists,
    // probe 22, 32 cores → ~3e8/core) sits INSIDE the envelope; a
    // 100x corpus on the same 32 local cores does not
    assert(Similarity.annScaleAdvisory(200000L, 448, 22, cores = 32).isEmpty)
    Similarity.drainAnnAdvisories() // clear any prior state
    assert(Similarity.annScaleAdvisory(20000000L, 4473, 67, cores = 32).isDefined)
    val a = Similarity.drainAnnAdvisories()
    assert(a.nonEmpty && a.head.message.contains("per core"))
    // ... but the SAME corpus with cluster-scale cores is back inside:
    // the envelope prices capacity, not corpus size
    assert(Similarity.annScaleAdvisory(20000000L, 4473, 67, cores = 8192).isEmpty)
    // enforce mode refuses with the same message class
    val e = intercept[IllegalArgumentException](
      Similarity.annScaleAdvisory(20000000L, 4473, 67, cores = 32, mode = "enforce"))
    assert(e.getMessage.contains(Similarity.AnnRegimeModeKey))
    // a queryFilter that narrows the probing side narrows the MASS: the
    // same over-envelope corpus with 1k actual queries is silent, even
    // under enforce (the filtered count is only taken when the
    // pessimistic projection fires — review fix, r13)
    assert(Similarity.annScaleAdvisory(20000000L, 4473, 67, cores = 32,
      queryRows = 1000L).isEmpty)
    Similarity.annScaleAdvisory(20000000L, 4473, 67, cores = 32,
      mode = "enforce", queryRows = 1000L) // must not throw
    // ... and the lazy count is NOT evaluated inside the envelope
    var counted = false
    assert(Similarity.annScaleAdvisory(200000L, 448, 22, cores = 32,
      queryRows = { counted = true; 1L }).isEmpty)
    assert(!counted, "queryRows must stay unevaluated when the pessimistic bound passes")
    // runtime surface: bench-scale corpora never fire through the operator
    val emb = Tables.embeddings(spark, sf001)
    Similarity.drainAnnAdvisories()
    Similarity.ivfSeededTopK(emb, "vec_id", "embedding", k = 5).count()
    assert(Similarity.drainAnnAdvisories().isEmpty)
    // enforce mode is inert inside the envelope
    spark.conf.set(Similarity.AnnRegimeModeKey, "enforce")
    try Similarity.ivfSeededTopK(emb, "vec_id", "embedding", k = 5).count()
    finally spark.conf.unset(Similarity.AnnRegimeModeKey)
  }

  test("IVF training is unbiased on a partition-sorted corpus") {
    // corpus sorted + repartitioned so the first trainCap rows in scan
    // order are ONE cluster: limit-based training would fit all
    // centroids there and recall on the other clusters would collapse;
    // sample-based training must see every cluster
    val emb = Tables.embeddings(spark, sf001)
      .orderBy($"vec_id").coalesce(1).persist()
    val exact = Similarity.bruteForceTopK(emb, emb, "vec_id", "embedding", k = 5)
    val ivf = Similarity.ivfTopK(emb, "vec_id", "embedding", k = 5,
      nLists = 8, nProbe = 3, trainCap = 100)
    val recall = Similarity.recallAtK(ivf, exact)
    assert(recall > 0.5, s"IVF recall@5 on sorted corpus with trainCap=100: $recall")
    emb.unpersist(blocking = false)
  }

  test("stateful latest-per-key emits normalized changelog, swallows replays") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[KeyedChange]
    val out = StatefulLatest(stream.toDS()) // NoTimeout: processAllAvailable-safe
    val q = out.writeStream.format("memory").queryName("changelog")
      .outputMode(OutputMode.Append).start()
    stream.addData(
      KeyedChange(1L, "c", 1L, 0L, "v1"),
      KeyedChange(1L, "u", 2L, 1L, "v2"),
      KeyedChange(2L, "c", 1L, 2L, "w1"))
    q.processAllAvailable()
    stream.addData(
      KeyedChange(1L, "u", 2L, 1L, "v2"), // exact replay -> swallowed
      KeyedChange(1L, "c", 1L, 0L, "v1"), // stale replay -> swallowed
      KeyedChange(2L, "d", 3L, 3L, ""))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("changelog").as[Emitted].collect().toSeq
    assert(rows.count(_.key == 1L) == 2) // v1, v2 once each; replays swallowed
    assert(rows.filter(_.key == 2L).map(_.op).sorted == Seq("+", "-"))
  }

  test("embed regime advisory fires at the super-linear threshold, not the production one") {
    // pure contract: rho > 0.5 at 0.45 (the graded adversarial point),
    // rho <= 0.5 at 0.8 (the graded production point)
    assert(Dedup.embedThresholdRho(0.45) > 0.5)
    assert(Dedup.embedThresholdRho(0.8) < 0.5)
    assert(Dedup.embedRegimeAdvisory(0.45, 1000L).isDefined)
    assert(Dedup.embedRegimeAdvisory(0.8, 1000L).isEmpty)
    // runtime surface: the operator records the advisory (behavior —
    // plan and result — is asserted unchanged by the graded oracle rows)
    val vecs = Seq((0L, Array(1f, 0f, 0f)), (1L, Array(0f, 1f, 0f)))
      .toDF("vec_id", "embedding")
    Dedup.drainAdvisories()
    Dedup.embeddingNearDupPairs(vecs, "embedding", "vec_id", threshold = 0.45).count()
    val fired = Dedup.drainAdvisories()
    assert(fired.exists(a => a.threshold == 0.45 && a.corpusRows == 2L),
      s"expected a 0.45 advisory, got $fired")
    assert(fired.head.message.contains("rho"))
    Dedup.embeddingNearDupPairs(vecs, "embedding", "vec_id", threshold = 0.8).count()
    assert(Dedup.drainAdvisories().isEmpty)
    // enforced contract (r12): spark.graft.embed.regime=enforce turns
    // the super-linear warning into a hard reject with the SAME
    // documented message; the near-linear envelope still runs
    spark.conf.set(Dedup.RegimeModeKey, "enforce")
    try {
      val e = intercept[IllegalArgumentException](
        Dedup.embeddingNearDupPairs(vecs, "embedding", "vec_id", threshold = 0.45))
      assert(e.getMessage.contains("rho") &&
        e.getMessage.contains(Dedup.RegimeModeKey))
      Dedup.embeddingNearDupPairs(vecs, "embedding", "vec_id", threshold = 0.8).count()
      assert(Dedup.drainAdvisories().isEmpty)
    } finally spark.conf.unset(Dedup.RegimeModeKey)
  }

  test("hamming prefilter cutoff: 4-sigma keep margin, boundary stays near the threshold") {
    // pinned constants at the two graded operating points — the margin
    // is THE knee of the adversarial pipeline (r11 probe: 6-sigma
    // admitted cos >= 0.255 at theta=0.45 and tripled the verify mass),
    // so a silent widening is a performance regression and a silent
    // tightening a recall regression; either should fail loudly here
    assert(Dedup.hammingCutoff(2048, 0.45) == 811)
    assert(Dedup.hammingCutoff(2048, 0.8) == 511)
    // geometry contract: the cosine the cutoff admits sits BELOW the
    // threshold (it is a keep margin) but within 0.15 of it at 2048
    // bits — the property the probe showed 6 sigma violating
    for (theta <- Seq(0.3, 0.45, 0.6, 0.7, 0.8, 0.9)) {
      val cut = Dedup.hammingCutoff(2048, theta)
      val admitted = math.cos(cut * math.Pi / 2048)
      assert(admitted < theta, s"cutoff at $theta must over-keep, not under-keep")
      assert(admitted > theta - 0.15,
        s"cutoff at $theta admits down to cos=$admitted — margin too loose")
    }
    // end-to-end: sketches of genuinely near-dup vectors pass the
    // cutoff, orthogonal ones fail it by a wide margin
    import graft.plans.GraftFunctions.{arrayHamming, hyperplanePoolSketch}
    val rnd = new scala.util.Random(7)
    val v0 = Array.fill(64)(rnd.nextGaussian().toFloat)
    val near = v0.zipWithIndex.map { case (x, i) => if (i % 9 == 0) 0f else x }
    // exactly orthogonal by construction (pairwise rotate-negate) — a
    // fresh random draw in 64 dims can land at cos ≈ 0.3 by chance
    val orth = Array.tabulate(64)(i => if (i % 2 == 0) -v0(i + 1) else v0(i - 1))
    val sk = Seq((0L, v0), (1L, near), (2L, orth)).toDF("id", "vec")
      .select($"id", hyperplanePoolSketch($"vec", 2048).as("sk"))
    val hd = sk.as("a").join(sk.as("b"), $"a.id" < $"b.id")
      .select($"a.id", $"b.id", arrayHamming($"a.sk", $"b.sk").as("hd"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    val cut08 = Dedup.hammingCutoff(2048, 0.8)
    assert(hd((0L, 1L)) <= cut08, s"near-dup pair hamming ${hd((0L, 1L))} > $cut08")
    assert(hd((0L, 2L)) > Dedup.hammingCutoff(2048, 0.3),
      s"orthogonal pair hamming ${hd((0L, 2L))} under the loosest cutoff")
  }

  test("prorated hamming checkpoints: 5-sigma prefixes, final word is the 4-sigma cutoff") {
    for (theta <- Seq(0.45, 0.8)) {
      val cps = Dedup.hammingCheckpoints(2048, theta)
      val cut = Dedup.hammingCutoff(2048, theta)
      assert(cps.length == 32)
      // monotone non-decreasing, clamped at — and ending exactly on —
      // the full 4σ cutoff, so the gate is a strict subset of hd ≤ cut
      assert(cps.last == cut, s"final checkpoint ${cps.last} != cutoff $cut")
      assert(cps.sliding(2).forall(w => w(0) <= w(1)))
      val p1 = 1.0 - math.acos(theta) / math.Pi
      for (w <- 1 to 32) {
        val bits = 64 * w
        val expected = math.min(cut,
          math.ceil(bits * (1.0 - p1) + 2.5 * math.sqrt(bits.toDouble)).toInt)
        assert(cps(w - 1) == expected, s"checkpoint $w at theta=$theta")
      }
      // a random-rate pair (~0.5 disagreement/bit) must trip an EARLY
      // checkpoint — the whole point of the prorated gate; at θ=0.45
      // the expected crossing is word ~4-5 of 32
      val cross = (1 to 32).find(w => 32 * w > cps(w - 1))
      assert(cross.exists(_ <= (if (theta == 0.45) 8 else 4)),
        s"expected-rate crossing word $cross too late at theta=$theta")
    }
    // the scalar gate and the Catalyst expression agree, including on
    // a pair that PASSES the full cutoff but trips a prefix checkpoint
    // (front-loaded disagreements) — both must reject it identically
    val cps = Dedup.hammingCheckpoints(2048, 0.45)
    val cut = Dedup.hammingCutoff(2048, 0.45)
    val x = new Array[Long](32)
    val frontLoaded = new Array[Long](32)
    // 64 disagreements in each of the first 8 words = 512 > cps(7),
    // total 512 ≤ cut (811) — passes the old predicate, fails the gate
    for (i <- 0 until 8) frontLoaded(i) = -1L
    assert(512 <= cut)
    assert(!graft.plans.HammingWithinCheckpoints.within(x, frontLoaded, cps))
    val even = new Array[Long](32)
    // ~22 disagreements/word tracks the θ=0.45 expected rate → passes
    for (i <- 0 until 32) even(i) = (1L << 22) - 1
    assert(graft.plans.HammingWithinCheckpoints.within(x, even, cps))
    val viaExpr = Seq((x.toSeq, frontLoaded.toSeq, even.toSeq))
      .toDF("x", "fl", "ev")
      .select(
        graft.plans.GraftFunctions.hammingWithinCheckpoints($"x", $"fl", cps).as("a"),
        graft.plans.GraftFunctions.hammingWithinCheckpoints($"x", $"ev", cps).as("b"))
      .head
    assert(!viaExpr.getBoolean(0) && viaExpr.getBoolean(1))
  }
}
