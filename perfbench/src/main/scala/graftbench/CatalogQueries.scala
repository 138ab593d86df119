package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.{QueryDef, SparkEntry}

/** The catalog mix, measured in the traced run of `cdc_backfill`: one pass
  * of four catalog queries on the sf0.1 tables through their `QueryDef.fn`,
  * under `graft.Bench`'s rules (`clearCache` and a full GC before each
  * query), after an untimed warm-up on the first rows of the same tables.
  * Each result is written as parquet — the full plan runs, as with Bench's
  * `noop` sink — so that `run.py` can compare it with the query's oracle
  * SQL in DuckDB after the run. */
object CatalogQueries {
  val Queries: Seq[String] =
    Seq("q17_envelope", "q75_analytics_changes", "q80_multi_changes", "q97_snapshot_diff_keyed")

  /** The warm-up's tables: the first rows of each input table. */
  val WarmRows = 2000

  private def runQuery(spark: SparkSession, q: QueryDef, dataDir: String, out: String): Double = {
    spark.catalog.clearCache()
    System.gc()
    Thread.sleep(50)
    val t0 = System.nanoTime()
    q.fn(spark, dataDir).write.mode("overwrite").parquet(out)
    (System.nanoTime() - t0) / 1e9
  }

  def traced(spark: SparkSession, o: Main.Opts, r: Report, t: Tracer): Unit = {
    val defs = Queries.map(n => SparkEntry.catalog.find(_.name == n)
      .getOrElse(throw new IllegalStateException(s"catalog has no query $n")))
    val work = Paths.get(o.work)
    val warmDir = work.resolve("warm_tables").toString
    Seq("orders" -> "o_orderkey", "documents" -> "doc_id").foreach { case (tb, key) =>
      graft.Tables.table(spark, o.data, tb).orderBy(col(key)).limit(WarmRows)
        .write.parquet(s"$warmDir/$tb.parquet")
    }
    defs.foreach(q => runQuery(spark, q, warmDir, work.resolve(s"warm_out/${q.name}").toString))

    val runs = defs.map { q =>
      val out = work.resolve(s"catalog/${q.name}").toString
      val w0 = System.currentTimeMillis()
      val s = try t.span("query", q.name)(runQuery(spark, q, o.data, out))
      catch { case e: Throwable => r.fail(q.name, e); Double.NaN }
      (q.name, w0, System.currentTimeMillis(), s)
    }
    r.account(defs.size, runs.count(_._4.isNaN))
    r.named("catalog_s", runs.map(_._4).sum, "s", 1)
    // The oracle SQL of every query, for run.py's DuckDB comparison.
    val json = defs.map(q => s"${Report.q(q.name)}:${Report.q(q.oracle.getOrElse(""))}")
      .mkString("{", ",", "}")
    Files.write(work.resolve("catalog/oracle_sql.json"), json.getBytes(StandardCharsets.UTF_8))
    val rows = t.jobsIn(runs.map(w => (w._2, w._3)))
    runs.foreach { case (name, a, b, s) =>
      val js = rows.filter(j => j.jobStart >= a && j.jobStart <= b)
      r.gauge(s"queries.$name.s", s, "s")
      r.gauge(s"queries.$name.jobs", js.size.toDouble, "count")
      r.gauge(s"queries.$name.shuffle_write_bytes", js.map(_.shuffleW).sum.toDouble, "bytes")
    }
  }
}
