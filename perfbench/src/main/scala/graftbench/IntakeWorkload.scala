package graftbench

import java.nio.file.Paths

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.app.Intake

/** `intake_stream`: the standing intake on the sf0.1 `documents` and
  * `embeddings` tables, driven batch by batch through `Intake.replay` with
  * q100's configuration (near-dup 0.5 with in-batch CC, semantic 0.9,
  * drift, continuing split counters, 8 state buckets) and `compactEvery =
  * 1`, so a state fold lands inside every batch after the first.
  *
  * The corpus is widened the way q100 does it, with the seed choosing which
  * documents are copied: cross-batch copies, in-batch copies, 10-word
  * prefix plants and fresh-text plants carrying an earlier document's
  * embedding, so every gate rejects something. The timed phase is the bulk:
  * two batches of ~1.6k documents (~1.2k originals). A traced run adds the
  * tail: three narrow (~80-document) batches, where only the fixed
  * per-batch cost is left. */
object IntakeWorkload {
  /** Pipeline order of the reject stages ([[check]] holds each plant to its
    * designed stage or an earlier one). */
  val Stages: Seq[String] = Seq("blocklist", "near_dup", "semantic_dup", "in_batch_near_dup",
    "novelty")
  val Bulk: Seq[Long] = Seq(1L, 2L)
  val Tail: Seq[Long] = Seq(3L, 4L, 5L)

  /** The widened corpus: (doc_id, batch, lang, text, host, emb, plant) where
    * `plant` is the designed reject stage of a planted copy, null for an
    * original. Ids: batch k's documents live in [k·10·off, (k+1)·10·off),
    * originals at +id, plants at +slot·off+id (the q100 layout). */
  def corpus(spark: SparkSession, dataDir: String, seed: Long): DataFrame = {
    val docs0 = graft.Tables.documents(spark, dataDir).select("doc_id", "lang", "text")
    val mx = docs0.agg(max(col("doc_id"))).head().getLong(0)
    val off = math.pow(10, mx.toString.length.toDouble).toLong
    val bSize = 10L * off
    // u: the seed's uniform draw per document; it picks the batch and the plants
    val u = pmod(xxhash64(col("doc_id"), lit(seed)), lit(1000000007L))
    // 4% of the documents feed the tail, 48% the bulk; the rest stay out
    val docs = docs0.withColumn("u", u).filter(col("u") % 100 < 52)
      .withColumn("batch", when(col("u") % 100 < 4, lit(3L) + (col("u") / 100).cast("long") % 3)
        .otherwise(lit(1L) + (col("u") / 100).cast("long") % 2))
    val pick = (col("u") / 1000).cast("long")
    def arm(at: Column, slot: Long, batch: Column, text: Column, plant: String): DataFrame =
      docs.filter(at).select((batch * bSize + lit(slot * off) + col("doc_id")).as("doc_id"),
        batch.as("batch"), col("lang"), text.as("text"), col("doc_id").as("orig"),
        lit(plant).as("plant"))
    val orig = docs.select((col("batch") * bSize + col("doc_id")).as("doc_id"), col("batch"),
      col("lang"), col("text"), col("doc_id").as("orig"), lit(null).cast("string").as("plant"))
    val tailOf = lit(3L) + (col("u") / 10).cast("long") % 3
    val wide0 = Seq(
      orig,
      // copies of batch-1 documents in batch 2, and of bulk documents in the tail
      arm(col("batch") === 1 && pick % 15 === 0, 3, lit(2L), col("text"), "near_dup"),
      arm(col("batch") <= 2 && pick % 150 === 1, 3, tailOf, col("text"), "near_dup"),
      // copies inside the document's own batch
      arm(pick % 7 === 3, 5, col("batch"), col("text"), "in_batch_near_dup"),
      // a strict 10-word prefix shares every 8-gram with its original
      arm(pick % 11 === 5, 7, col("batch"),
        array_join(slice(split(col("text"), " "), 1, 10), " "), "novelty"),
      // fresh text carrying a batch-1 document's embedding, in batch 2
      arm(col("batch") === 1 && pick % 13 === 2 && col("doc_id") % 17 =!= 4, 8, lit(2L),
        array_join(transform(sequence(lit(0), lit(9)),
          j => concat(lit("uq"), col("doc_id").cast("string"), lit("w"), j.cast("string"))), " "),
        "semantic_dup")
    ).reduce(_.unionByName(_))
    val h = pmod(xxhash64(col("doc_id"), lit(seed + 1)), lit(1000003L))
    val tld = when(h % 3 === 0, lit("com")).when(h % 3 === 1, lit("org")).otherwise(lit("net"))
    val host = concat(
      when(h % 4 === 1, lit("www.")).when(h % 4 === 2, lit("a.b."))
        .when(h % 4 === 3, concat(lit("m"), (h % 7).cast("string"), lit(".cdn.")))
        .otherwise(lit("")),
      lit("s"), (h % 23).cast("string"), lit("."), tld)
    val emb = graft.Tables.embeddings(spark, dataDir).select(col("vec_id"), col("embedding"))
    val eCnt = emb.count()
    wide0.withColumn("host", host)
      .join(emb, col("orig") % eCnt === col("vec_id"), "left")
      .withColumn("emb", when(col("plant").isNull && col("orig") % 17 === 4,
        lit(null).cast("array<float>")).otherwise(col("embedding")))
      .drop("vec_id", "embedding")
  }

  val Blocklist: Seq[String] = Seq("s1.com", "s2.org", "cdn.s3.net", "www.s5.org", "s7.com")

  def config(root: String, seed: Long): Intake.Config = Intake.Config(
    inputDir = s"$root/in", checkpointDir = s"$root/ckpt", indexDir = s"$root/idx",
    outDir = s"$root/out", blocklist = Blocklist,
    nearDupThreshold = Some(0.5), corpusDir = Some(s"$root/corpus"), inBatchNearDup = true,
    semanticThreshold = Some(0.9), countersDir = Some(s"$root/ctr"),
    driftDir = Some(s"$root/driftstate"), seed = s"bench$seed", compactEvery = 1,
    stateBuckets = 8)

  private val BatchCols = Seq("doc_id", "lang", "text", "host", "emb")

  /** One batch through `Intake.replay`; returns (seconds, its ledger). */
  def batch(spark: SparkSession, cfg: Intake.Config, wide: DataFrame, id: Long,
            tracer: Option[Tracer], group: String): (Double, DataFrame) = {
    val in = wide.filter(col("batch") === id).select(BatchCols.map(col): _*)
    def one() = {
      val t0 = System.nanoTime()
      val ledger = Intake.replay(spark, cfg, Seq(id -> in))
      ((System.nanoTime() - t0) / 1e9, ledger)
    }
    tracer.fold(one())(_.span("intake_batch", group)(one()))
  }

  /** The ledger covers every ingested document exactly once. A planted copy
    * whose original reached the state (survived, or fell only to novelty)
    * is rejected at its designed stage or at an earlier one — a blocklisted
    * host, a copy caught by the semantic gate through the embedding it
    * shares with its original, a prefix as long as its original — except
    * that a cross-batch copy of a text too short to shingle falls to the
    * semantic gate instead. Every reject stage must fire. Returns the
    * failed documents' count. */
  def check(r: Report, wide: DataFrame, ledger: DataFrame, ids: Seq[Long]): Long = {
    val in = wide.filter(col("batch").isin(ids: _*)).select("doc_id", "plant", "orig")
    val l = ledger.groupBy("doc_id").agg(count(lit(1)).as("n"), first("stage").as("stage"))
    val origStage = wide.filter(col("plant").isNull).select(col("doc_id").as("od"), col("orig"))
      .join(l.select(col("doc_id").as("od"), col("stage").as("orig_stage")), Seq("od"))
      .drop("od")
    val rows = in.join(l, Seq("doc_id"), "full_outer").join(origStage, Seq("orig"), "left")
      .select(col("doc_id"), col("plant"), col("n"), col("stage"), col("orig_stage")).collect()
    var bad = 0L
    def problem(id: Long, p: String): Unit = {
      bad += 1
      if (bad <= 20) r.fail(s"intake doc $id: $p")
    }
    val rank = Stages.zipWithIndex.toMap
    val landed = scala.collection.mutable.Map[(String, String), Int]().withDefaultValue(0)
    rows.foreach { row =>
      val id = row.getLong(0)
      val n = if (row.isNullAt(2)) 0L else row.getLong(2)
      val stage = Option(row.getString(3)).getOrElse("")
      if (n != 1) problem(id, s"$n ledger rows")
      else Option(row.getString(1)).filter(_ =>
        Option(row.getString(4)).exists(s => s == "survived" || s == "novelty")).foreach { p =>
        landed((p, stage)) += 1
        val ok = rank.get(stage).exists(_ <= rank(p)) || (p == "near_dup" && stage == "semantic_dup")
        if (!ok) problem(id, s"planted $p copy ended at '$stage'")
      }
    }
    Stages.tail.foreach { p =>
      val at = landed.collect { case ((`p`, s), k) => s"$s $k" }.toSeq.sorted
      r.note(s"intake plants designed for $p: ${at.mkString(", ")}")
      if (landed((p, p)) == 0) r.fail(s"intake: no $p plant was rejected at $p")
    }
    val fired = rows.map(x => Option(x.getString(3)).getOrElse("")).toSet
    Stages.filterNot(fired).foreach(s => r.fail(s"intake: no document was rejected at $s"))
    bad
  }

  /** The telemetry row the program writes for each batch, by column. */
  def telemetry(spark: SparkSession, cfg: Intake.Config, ids: Seq[Long]): Seq[Map[String, Long]] =
    ids.map { id =>
      val df = spark.read.parquet(s"${cfg.outDir}/metrics/batch=$id")
      val row = df.head()
      df.columns.map(c => c -> row.getAs[Long](c)).toMap
    }

  def run(spark: SparkSession, o: Main.Opts, r: Report, tracer: Option[Tracer]): Unit = {
    val work = Paths.get(o.work)
    // Set-up, repeated: building and caching the widened corpus (median of three).
    val builds = (1 to 3).map { i =>
      val t0 = System.nanoTime()
      val w = corpus(spark, o.data, o.seed).persist()
      val n = w.count()
      val s = (System.nanoTime() - t0) / 1e9
      if (i < 3) w.unpersist(blocking = true)
      (s, w, n)
    }
    r.setup("corpus (median of 3)", Stats.median(builds.map(_._1)))
    val (_, wide, total) = builds.last
    val bulkDocs = wide.filter(col("batch").isin(Bulk: _*)).count()

    // Passes of the bulk phase, each on fresh state, until the next one would
    // overrun `seconds` (at least one).
    val passes = scala.collection.mutable.ArrayBuffer[Seq[Double]]()
    val windows = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    var lastCfg: Intake.Config = null
    var lastLedgers: Seq[DataFrame] = Nil
    val tStart = System.nanoTime()
    while (passes.isEmpty || (System.nanoTime() - tStart) / 1e9 + passes.last.sum <= o.seconds) {
      val root = work.resolve(s"intake${passes.size}").toString
      val cfg = config(root, o.seed)
      val w0 = System.currentTimeMillis()
      val res = Bulk.map(id => batch(spark, cfg, wide, id, tracer, s"pass${passes.size}/batch$id"))
      windows += (w0 -> System.currentTimeMillis())
      passes += res.map(_._1)
      if (lastCfg != null) CdcWorkloads.rmrf(new java.io.File(lastCfg.inputDir).getParentFile)
      lastCfg = cfg
      lastLedgers = res.map(_._2)
    }
    val docsPerS = passes.map(p => bulkDocs / p.sum).toSeq
    val batchMs = passes.flatten.map(_ * 1e3).toSeq
    r.gauge("items_per_s", Stats.median(docsPerS), "1/s")
    r.gauge("p50_ms", Stats.median(batchMs), "ms")
    r.named("intake_bulk_docs_per_s", Stats.median(docsPerS), "docs/s", passes.size)
    r.named("intake_bulk_batch_p50_s", Stats.median(batchMs) / 1e3, "s", batchMs.size)
    r.note(s"intake_stream: $bulkDocs bulk documents ($total with the tail) per pass, " +
      s"${passes.size} pass(es); batch s ${passes.flatten.map(x => f"$x%.2f").mkString(",")}")

    // The tail runs on the last pass's state, traced runs only: it is where
    // the per-batch floor shows, and its batches' times are too uneven to gate.
    val tail = tracer.map { _ =>
      val w0 = System.currentTimeMillis()
      val res = Tail.map(id => batch(spark, lastCfg, wide, id, tracer, s"tail/batch$id"))
      (w0, System.currentTimeMillis(), res)
    }
    tail.foreach(x => r.note(s"intake tail batch s ${x._3.map(b => f"${b._1}%.2f").mkString(",")}"))
    val ids = Bulk ++ tail.fold(Seq.empty[Long])(_ => Tail)
    val ledger = (lastLedgers ++ tail.fold(Seq.empty[DataFrame])(_._3.map(_._2)))
      .reduce(_.unionByName(_))
    r.account(wide.filter(col("batch").isin(ids: _*)).count(), check(r, wide, ledger, ids))

    tracer.foreach(t => traced(t, r, windows.toSeq, tail.get, telemetry(spark, lastCfg, ids)))
    wide.unpersist()
  }

  /** The traced run's numbers: the intake layers over the bulk phase, the
    * tail's per-batch time, jobs and named-layer coverage, and the
    * program's own telemetry: documents out of each stage over the bulk,
    * and probe pruning over the tail (a bulk batch touches every bucket). */
  private def traced(t: Tracer, r: Report, bulk: Seq[(Long, Long)],
                     tail: (Long, Long, Seq[(Double, DataFrame)]),
                     tel: Seq[Map[String, Long]]): Unit = {
    Tracer.layerMetrics(r, t.jobsIn(bulk), Layers.Intake)
    val tailRows = t.jobsIn(Seq(tail._1 -> tail._2))
    r.gauge("intake.tail.batch_p50_s", Stats.median(tail._3.map(_._1)), "s")
    r.gauge("intake.tail.jobs_per_batch", tailRows.size.toDouble / tail._3.size, "count")
    r.gauge("intake.tail.named_share", Tracer.namedShare(tailRows), "ratio")
    def sum(ts: Seq[Map[String, Long]], k: String) = ts.map(_.getOrElse(k, 0L)).sum.toDouble
    val tailTel = tel.drop(Bulk.size)
    val fams = Seq("index", "sig", "text", "esig", "emb")
    r.gauge("intake.probe_prune_ratio", fams.map(f => sum(tailTel, s"${f}_bytes_probed")).sum /
      math.max(1.0, fams.map(f => sum(tailTel, s"${f}_bytes")).sum), "ratio")
    def bulkSum(k: String) = sum(tel.take(Bulk.size), k)
    var left = bulkSum("batch_docs")
    Seq("blocklist" -> "rej_blocklist", "neardup" -> "rej_near_dup", "semantic" -> "rej_semantic",
      "cc" -> "rej_in_batch", "novelty" -> "rej_novelty").foreach { case (stage, k) =>
      left -= bulkSum(k)
      r.gauge(s"intake.$stage.docs_out", left, "count")
    }
    r.gauge("trace.spans", t.spanCount.toDouble, "count")
  }
}
