package perfbench

import graft.SparkEntry
import graft.catalog.TableMeta
import graft.operators.{ParquetUpsertTable, ValidationRunner}
import graft.sources.Tables
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.json4s._

/** `validate`: the read side as a closed loop with one client. A pass runs
  * every graded check/CDC query once, then `ValidationRunner.runAll` over
  * source-vs-store pairs, then a fixed set of `lookup` point reads on one
  * store (stores are seeded in setup), then the curation keys (dedup,
  * similarity, text) over corpus copy `pass`: the same corpus content with
  * its own row order and file split, so content-keyed caches start cold on
  * every pass while the expected outputs stay fixed.
  */
object Validate {
  import Main._

  def family(key: String): String =
    if (key.startsWith("sim_")) "similarity" else if (key.startsWith("tx_")) "text" else "dedup"

  final class Stores(spark: SparkSession, dir: String, root: String, conf: Seq[Conf]) {
    val tables: Seq[(TableMeta, ParquetUpsertTable)] = conf.map { s =>
      val name = s.str("table")
      val meta = TableMeta.testTables(name)
      val t = new ParquetUpsertTable(spark, s"$root/$name", meta.pkCols, s.int("buckets"))
      t.seed(source(name))
      meta -> t
    }
    def source(name: String) =
      if (name == "events") Tables.events(spark, dir) else Tables(spark, dir, name)
  }

  def sweep(spark: SparkSession, trace: Trace, parent: Long, pass: Int, dir: String,
      keys: Seq[String], stores: Stores, expectedRows: Map[String, Long],
      lookupTable: ParquetUpsertTable, lookupCol: String, lookups: Seq[(Long, String)],
      corpusDir: String, curateKeys: Seq[String]): Seq[Op] = {
    val queries = keys.map { k =>
      query(spark, trace, parent, s"p$pass/$k", k, "query", SparkEntry.queries(k)(spark, dir))
    }
    var readMs = 0.0
    val runAll = call(spark, trace, parent, s"p$pass/run_all", "run_all", "run_all") { id =>
      val (pairs, read) = trace.span("read", s"p$pass/run_all", id) { _ =>
        stores.tables.map { case (meta, t) => (meta, stores.source(meta.name), t.read()) }
      }
      readMs = read.ms
      ValidationRunner.runAll(pairs)
    } { report =>
      val counts = report.reports.map { r =>
        val smoke = r.checks.find(_.check == "row_count_smoke").map(_.details).getOrElse(Map.empty)
        r.table -> (smoke.get("source_rows"), smoke.get("sink_rows"))
      }.toMap
      val wrong = stores.tables.map(_._1.name).filter { n =>
        val want = Some(expectedRows(n).toString)
        counts.get(n) != Some((want, want))
      }
      if (!report.allConsistent) s"inconsistent: ${report.errors} ${ValidationRunner.render(report).take(400)}"
      else if (wrong.nonEmpty) s"row counts wrong for ${wrong.mkString(",")}: $counts"
      else ""
    }
    val runAllOp = runAll.copy(constructMs = readMs)
    val points = lookups.zipWithIndex.map { case ((k, want), i) =>
      call(spark, trace, parent, s"p$pass/lookup$i", "lookup", "lookup") { _ =>
        lookupTable.lookup(Map(lookupCol -> k)).collect()
      } { rows =>
        val got = rows.map(Digest.render).mkString(";")
        if (got == want) "" else s"lookup $k: got $got want $want"
      }
    }
    val curation = curateKeys.map { k =>
      query(spark, trace, parent, s"p$pass/$k", k, family(k), SparkEntry.queries(k)(spark, corpusDir))
    }
    queries ++ Seq(runAllOp) ++ points ++ curation
  }

  def run(spark: SparkSession, conf: Conf, trace: Trace, tracing: Boolean): Map[String, JValue] = {
    val keys = conf.strs("keys")
    val curateKeys = conf.strs("curate_keys")
    val corpusDirs = conf.strs("corpus_dirs")
    val work = conf.str("work_dir")
    val storeConf = conf.objs("stores")
    val lookupCol = conf.str("lookup_col")
    val lookupName = conf.str("lookup_table")

    def prepare(dir: String, root: String) = {
      val stores = new Stores(spark, dir, root, storeConf)
      val table = stores.tables.find(_._1.name == lookupName).get._2
      val keyVals = conf.longs("lookups")
      val want = stores.source(lookupName).filter(col(lookupCol).isin(keyVals: _*)).collect()
        .map(r => r.getAs[Long](lookupCol) -> Digest.render(r)).toMap
      (stores, table, keyVals.map(k => k -> want.getOrElse(k, "")))
    }
    def rows(k: String) = storeConf.map(s => s.str("table") -> s.long(k)).toMap
    val expected = rows("rows")

    val w0 = System.nanoTime()
    val warmDir = conf.str("warm_dir")
    val (wStores, wTable, wLookups) = prepare(warmDir, s"$work/warm_stores")
    val warmOps = conf.strs("warm_corpus_dirs").zipWithIndex.flatMap { case (corpus, i) =>
      sweep(spark, trace, 0, -1 - i, warmDir, keys, wStores, rows("warm_rows"),
        wTable, lookupCol, wLookups, corpus, curateKeys)
    }
    val warmupMs = (System.nanoTime() - w0) / 1e6
    val s0 = System.nanoTime()
    val dir = conf.strs("data_dirs").head
    val (stores, table, lookups) = prepare(dir, s"$work/stores")
    val storesMs = (System.nanoTime() - s0) / 1e6
    val storeBytes = dirBytes(new java.io.File(s"$work/stores"))

    // every pass reads its own corpus copy
    val passes = measure(spark, trace, tracing, corpusDirs.size, conf.int("cores")) { (i, parent) =>
        val corpus = corpusDirs(i)
        (sweep(spark, trace, parent, i, dir, keys, stores, expected, table, lookupCol, lookups,
          corpus, curateKeys), Map("corpus_dir" -> JString(corpus)))
    }
    Map(
      "warmup_ms" -> JDouble(warmupMs),
      "inputs_ms" -> JDouble(storesMs),
      "store_bytes" -> JLong(storeBytes),
      "live_rows" -> JLong(expected.values.sum),
      "warmup_errors" -> JArray(warmOps.filter(o => o.error.nonEmpty || o.check.nonEmpty)
        .map(o => JString(s"${o.key}: ${o.error}${o.check}")).toList),
      "oracle_sql" -> JObject((keys ++ curateKeys).filter(SparkEntry.oracleSql.contains)
        .map(k => k -> JString(SparkEntry.oracleSql(k))).toList),
      "passes" -> passesJson(passes, trace))
  }
}
