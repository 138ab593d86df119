package graft.queries

import graft.{QueryDef, Tables}
import graft.functions.Sketch
import graft.llm.{Clusters, Decontam, Dedup, Fuzzy, Graph, KMeans, LanguageModel, Multimodal, Retrieval, Selection, Similarity, TextAnalysis}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** LLM-training-data pipeline operators over the `documents` / `embeddings`
  * tables: dedup (exact, MinHash-LSH, SimHash), similarity search (exact +
  * LSH-bucketed ANN), text analysis (language ID, quality, tokens,
  * fingerprints), multimodal plumbing. Every query is verified against a
  * DuckDB oracle computing the identical deterministic algorithm. */
object LlmQueries {

  // ---------------------------------------------------------------- q21 exact dedup

  /** Exact dedup via hash-groupBy on normalized content (first 32 chars) —
    * never a self-join; map-side partial agg applies. */
  private def q21(s: SparkSession, d: String): DataFrame =
    Dedup.exactDupGroups(Tables.documents(s, d), "doc_id",
        md5(substring(col("text"), 1, 32)))
      .orderBy("keep_id")

  private val q21Sql =
    """SELECT md5(substr(text, 1, 32)) AS content_key,
      |  min(doc_id) AS keep_id, count(*) AS n_dups,
      |  string_agg(doc_id, ',' ORDER BY doc_id) AS members
      |FROM documents GROUP BY content_key ORDER BY keep_id""".stripMargin

  // ---------------------------------------------------------------- q22 minhash LSH

  /** Near-dup pairs: MinHash (12 hashes) → 4×3 LSH bands → bucket join →
    * exact Jaccard ≥ 0.5 verify. No all-pairs comparison anywhere. */
  private def q22(s: SparkSession, d: String): DataFrame =
    Dedup.nearDupPairs(Tables.documents(s, d), "doc_id", "text")
      .orderBy("doc_a", "doc_b")

  private val q22Sql =
    """WITH words AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
      |sh AS (
      |  SELECT doc_id,
      |    list_distinct(CASE WHEN len(w) >= 3
      |      THEN [w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w)-1)]
      |      ELSE [] END) AS shingles
      |  FROM words),
      |wh AS (
      |  SELECT doc_id,
      |    [('0x' || substr(md5(x), 1, 15))::BIGINT % 2147483647 for x in w] AS whs
      |  FROM words),
      |xs AS (
      |  SELECT doc_id,
      |    CASE WHEN len(whs) >= 3
      |      THEN [((whs[i]*31 + whs[i+1])*31 + whs[i+2]) % 2147483647 for i in range(1, len(whs)-1)]
      |      ELSE [] END AS xsv
      |  FROM wh),
      |sig AS (
      |  SELECT x.doc_id, s.shingles,
      |    [list_min([((h*1000003 + 12345) * v + (h*999983 + 7)) % 2147483647
      |               for v in xsv]) for h in range(0, 12)] AS mh
      |  FROM xs x JOIN sh s ON s.doc_id = x.doc_id WHERE len(xsv) > 0),
      |bands AS (
      |  SELECT doc_id, b, mh[3*b+1] || '|' || mh[3*b+2] || '|' || mh[3*b+3] AS bkey
      |  FROM sig, LATERAL unnest(range(0, 4)) t(b)),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM bands a JOIN bands b ON a.b = b.b AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
      |ver AS (
      |  SELECT c.doc_a, c.doc_b,
      |    len(list_intersect(sa.shingles, sb.shingles))::DOUBLE
      |      / len(list_distinct(sa.shingles || sb.shingles)) AS jac
      |  FROM cand c JOIN sig sa ON sa.doc_id = c.doc_a JOIN sig sb ON sb.doc_id = c.doc_b)
      |SELECT doc_a, doc_b, jac FROM ver WHERE jac >= 0.5 ORDER BY doc_a, doc_b""".stripMargin

  // ---------------------------------------------------------------- q23 exact ANN

  private def embeddingsAsIdVec(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d).select(col("vec_id").as("id"), col("embedding").as("vec"))

  /** The (id, vec) embeddings frame, exposed for plan audits of operator
    * stages that the catalog query's own executed plan cannot show (q56's
    * pair stage runs behind the CC lineage barrier). */
  def embeddingsForAudit(s: SparkSession, d: String): DataFrame =
    embeddingsAsIdVec(s, d)

  /** Persist `df` and MATERIALIZE it on a background thread (noop sink)
    * while the caller's main thread runs another operator's
    * construction-time actions — guide §2.6, overlap independent jobs:
    * Spark's scheduler happily runs both job sets at once (FIFO back-fill),
    * so a composition of two independent sides costs max(sides) instead of
    * their sum. Returns the persisted frame and an await handle the caller
    * MUST invoke before composing the result (consumers then read a fully
    * materialized cache). A background failure is logged to stderr with its
    * label and otherwise ignored: the consuming action recomputes any missing
    * partitions and surfaces the real error itself. Persist follows the
    * one-shot catalog convention (bench clearCache / Verify's per-query
    * clearCache / process exit). */
  private def overlapMaterialize(df: DataFrame, label: String)
      : (DataFrame, () => Unit) = {
    val spark = df.sparkSession
    val p = df.persist()
    val t = new Thread(() => {
      // job descriptions are thread-local — the overlapped side stays
      // attributable in the UI/profilers
      spark.sparkContext.setJobDescription(s"overlap: $label")
      try p.write.format("noop").mode("overwrite").save()
      catch {
        case e: Throwable =>
          System.err.println(s"[graft] overlap $label: background materialize failed: $e")
      }
    }, s"graft-overlap-${label.replace(' ', '-')}")
    t.setDaemon(true)
    t.start()
    (p, () => t.join())
  }

  /** Exact cosine top-5 for a small broadcast query set (every 100th vector).
    * Rank-only output: both engines order by (cosine DESC, id). */
  private def q23(s: SparkSession, d: String): DataFrame = {
    val all = embeddingsAsIdVec(s, d)
    Similarity.bruteForceTopK(all.filter(col("id") % 100 === 0), all, k = 5)
      .orderBy("q_id", "rank")
  }

  private val q23Sql =
    """WITH v AS (
      |  SELECT vec_id AS id, embedding AS vec,
      |    sqrt(list_sum([vec[i]::DOUBLE * vec[i]::DOUBLE for i in range(1, len(vec)+1)])) AS nrm
      |  FROM embeddings),
      |q AS (SELECT id AS q_id, vec AS qv, nrm AS qn FROM v WHERE id % 100 = 0),
      |scored AS (
      |  SELECT q.q_id, c.id AS neighbor_id,
      |    list_sum([qv[i]::DOUBLE * c.vec[i]::DOUBLE for i in range(1, len(qv)+1)]) / (qn * c.nrm) AS cos
      |  FROM q, v c WHERE c.id <> q.q_id),
      |ranked AS (
      |  SELECT q_id, neighbor_id,
      |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS rank
      |  FROM scored)
      |SELECT q_id, rank, neighbor_id FROM ranked WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin

  // ---------------------------------------------------------------- q23b LSH ANN

  /** The 100 TB ANN path: multi-table sign-random-projection LSH (3 tables ×
    * 6 deterministic ±1 hyperplanes) — candidates meet a query iff they share
    * any table's bucket; exact cosine re-rank over the deduped candidates. */
  private def q23b(s: SparkSession, d: String): DataFrame = {
    val all = embeddingsAsIdVec(s, d)
    Similarity.lshTopK(all.filter(col("id") % 100 === 0), all, k = 3, planes = 6, tables = 3)
      .orderBy("q_id", "rank")
  }

  private val q23bSql =
    """WITH v AS (
      |  SELECT vec_id AS id, embedding AS vec,
      |    sqrt(list_sum([vec[i]::DOUBLE * vec[i]::DOUBLE for i in range(1, len(vec)+1)])) AS nrm,
      |    [list_sum([CASE WHEN list_sum([vec[i]::DOUBLE *
      |        (CASE WHEN (((t*6+p)*31 + (i-1)*17) % 101) % 2 = 0 THEN 1.0 ELSE -1.0 END)
      |        for i in range(1, len(vec)+1)]) >= 0 THEN 1 << p ELSE 0 END
      |      for p in range(0, 6)])::BIGINT for t in range(0, 3)] AS bucks
      |  FROM embeddings),
      |q AS (SELECT id AS q_id, vec AS qv, nrm AS qn, bucks FROM v WHERE id % 100 = 0),
      |cand AS (
      |  SELECT DISTINCT q.q_id, c.id AS neighbor_id
      |  FROM q, v c, LATERAL unnest(range(0, 3)) tt(t)
      |  WHERE q.bucks[t+1] = c.bucks[t+1] AND c.id <> q.q_id),
      |scored AS (
      |  SELECT cd.q_id, cd.neighbor_id,
      |    list_sum([q.qv[i]::DOUBLE * c.vec[i]::DOUBLE for i in range(1, len(q.qv)+1)]) / (q.qn * c.nrm) AS cos
      |  FROM cand cd JOIN q ON q.q_id = cd.q_id JOIN v c ON c.id = cd.neighbor_id),
      |ranked AS (
      |  SELECT q_id, neighbor_id,
      |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS rank
      |  FROM scored)
      |SELECT q_id, rank, neighbor_id FROM ranked WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin

  // ---------------------------------------------------------------- q25 language id

  private def q25(s: SparkSession, d: String): DataFrame = {
    val t = col("text")
    // Sort-first (the q18/q19 narrow-sort pattern, applied to every pure
    // per-row scorer in this file): range-sort the raw docs on the output
    // key, THEN project — the projection is order-preserving, and a final
    // orderBy instead re-executes the expensive per-row expressions a
    // second time for the range sampler.
    Tables.documents(s, d).orderBy("doc_id").select(
        col("doc_id"),
        TextAnalysis.stopwordHits(t, "en").as("s_en"),
        TextAnalysis.stopwordHits(t, "de").as("s_de"),
        TextAnalysis.stopwordHits(t, "fr").as("s_fr"),
        TextAnalysis.stopwordHits(t, "es").as("s_es"),
        TextAnalysis.langId(t).as("pred"),
        (TextAnalysis.langId(t) === col("lang")).as("hit"))
  }

  private val q25Sql = {
    def hits(list: Seq[String]) =
      s"len(list_filter(string_split(lower(text), ' '), x -> x IN (${list.map("'" + _ + "'").mkString(",")})))::BIGINT"
    val m = TextAnalysis.stopwords.toMap
    s"""WITH sc AS (
       |  SELECT doc_id, lang,
       |    ${hits(m("en"))} AS s_en, ${hits(m("de"))} AS s_de,
       |    ${hits(m("fr"))} AS s_fr, ${hits(m("es"))} AS s_es
       |  FROM documents),
       |p AS (
       |  SELECT *, CASE WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
       |    WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
       |    WHEN s_fr >= s_es THEN 'fr' ELSE 'es' END AS pred
       |  FROM sc)
       |SELECT doc_id, s_en, s_de, s_fr, s_es, pred, pred = lang AS hit
       |FROM p ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- q26 quality

  private def q26(s: SparkSession, d: String): DataFrame = {
    val t = col("text")
    val nWords = size(split(lower(t), " ")).cast("long")
    val sumWordLen = length(regexp_replace(t, " ", "")).cast("long")
    val punct = (length(t) - length(regexp_replace(t, "[.,!?;:]", ""))).cast("long")
    val digits = (length(t) - length(regexp_replace(t, "[0-9]", ""))).cast("long")
    val stopPm = TextAnalysis.permille(TextAnalysis.stopwordHits(t, "en"), nWords)
    val awlPm = TextAnalysis.permille(sumWordLen, nWords)
    Tables.documents(s, d).orderBy("doc_id").select( // sort-first, see q25
        col("doc_id"),
        length(t).cast("long").as("n_chars_calc"),
        nWords.as("n_words"),
        stopPm.as("stop_pm"),
        TextAnalysis.permille(punct, length(t).cast("long")).as("punct_pm"),
        TextAnalysis.permille(digits, length(t).cast("long")).as("digit_pm"),
        awlPm.as("awl_pm"),
        (stopPm + awlPm).as("quality_score"))
  }

  private val q26Sql =
    """WITH f AS (
      |  SELECT doc_id, length(text)::BIGINT AS n_chars_calc,
      |    len(string_split(lower(text), ' '))::BIGINT AS n_words,
      |    length(replace(text, ' ', ''))::BIGINT AS swl,
      |    (length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))::BIGINT AS punct,
      |    (length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))::BIGINT AS digits,
      |    len(list_filter(string_split(lower(text), ' '),
      |      x -> x IN ('the','a','and','of','to','in','is','on','for','with')))::BIGINT AS stops
      |  FROM documents)
      |SELECT doc_id, n_chars_calc, n_words,
      |  (1000 * stops) // n_words AS stop_pm,
      |  (1000 * punct) // n_chars_calc AS punct_pm,
      |  (1000 * digits) // n_chars_calc AS digit_pm,
      |  (1000 * swl) // n_words AS awl_pm,
      |  (1000 * stops) // n_words + (1000 * swl) // n_words AS quality_score
      |FROM f ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q27 tokens

  private def q27(s: SparkSession, d: String): DataFrame = {
    val t = col("text")
    // sort-first, see q25; re-measured at the 10x set (r21 A/B, OptProbe
    // q27_sort{first,last}): sort-first 0.98-1.08 vs sort-last 1.04-1.19 —
    // still the right side of the crossover, kept (q42's went the other way).
    Tables.documents(s, d).orderBy("doc_id").select(
        col("doc_id"),
        TextAnalysis.wsTokens(t).as("ws_tokens"),
        TextAnalysis.subwordTokens(t).as("subword_tokens"),
        TextAnalysis.permille(length(t).cast("long"), TextAnalysis.subwordTokens(t))
          .as("chars_per_tok_pm"))
  }

  private val q27Sql =
    """SELECT doc_id,
      |  len(string_split(text, ' '))::BIGINT AS ws_tokens,
      |  len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]'))::BIGINT AS subword_tokens,
      |  (1000 * length(text)) // len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS chars_per_tok_pm
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q28 fingerprint

  private def q28(s: SparkSession, d: String): DataFrame =
    // NOT sort-first: fingerprints aggregates + joins internally (the shared
    // word-hash dictionary), which destroys input order — the final sort
    // stays, and its sampler re-runs only the cheap post-join projection.
    TextAnalysis.fingerprints(Tables.documents(s, d), "doc_id", "text")
      .orderBy("doc_id")

  private val q28Sql =
    """WITH wh AS (
      |  SELECT doc_id, text,
      |    [('0x' || substr(md5(x), 1, 15))::BIGINT % 2147483647
      |     for x in string_split(lower(text), ' ')] AS whs
      |  FROM documents),
      |g AS (
      |  SELECT doc_id, text,
      |    CASE WHEN len(whs) >= 4
      |      THEN [(((whs[i]*31 + whs[i+1])*31 + whs[i+2])*31 + whs[i+3]) % 2147483647
      |            for i in range(1, len(whs)-2)]
      |      ELSE [] END AS gh
      |  FROM wh)
      |SELECT doc_id,
      |  CASE WHEN len(gh) > 0 THEN list_min(gh)
      |       ELSE ('0x' || substr(md5(lower(text)), 1, 15))::BIGINT % 2147483647 END AS fp,
      |  md5(lower(text)) AS fp_full
      |FROM g ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q29 multimodal

  /** Multimodal plumbing end-to-end: text bytes → opaque BINARY column →
    * batched per-partition decode (StubDecoder over mapPartitions — the real
    * batch shape; the codec alone is fake) → typed features. */
  private def q29(s: SparkSession, d: String): DataFrame = {
    val media = Tables.documents(s, d)
      .select(col("doc_id").as("id"), col("text").cast("binary").as("content"))
    Multimodal.decodeBatched(media, () => new Multimodal.StubDecoder)
      .toDF()
      .select(col("id").as("doc_id"), col("width"), col("height"), col("nBytes").as("n_bytes"),
        concat_ws(",", col("frames")).as("frames"))
      .orderBy("doc_id")
  }

  private val q29Sql =
    """SELECT doc_id,
      |  ord(substr(text, 1, 1)) AS width,
      |  ord(substr(text, 2, 1)) AS height,
      |  octet_length(text::BLOB)::BIGINT AS n_bytes,
      |  array_to_string([ord(substr(text, i*10, 1)) for i in
      |    range(1, least(5, length(text)//10) + 1)], ',') AS frames
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q29b resize + features

  /** The other half of the multimodal surface: nearest-neighbor RESIZE to a
    * fixed 16-sample grid + 8-bin byte-histogram FEATURE-EXTRACT, batched per
    * partition behind the same pluggable codec boundary as q29. */
  private def q29b(s: SparkSession, d: String): DataFrame = {
    val media = Tables.documents(s, d)
      .select(col("doc_id").as("id"), col("text").cast("binary").as("content"))
    Multimodal.transformBatched(media, () => new Multimodal.StubTransformer)
      .toDF()
      .select(col("id").as("doc_id"),
        concat_ws(",", col("pixels")).as("pixels"),
        concat_ws(",", col("hist")).as("hist"))
      .orderBy("doc_id")
  }

  private val q29bSql =
    """SELECT doc_id,
      |  array_to_string([ord(substr(text, (i*octet_length(text::BLOB))//16 + 1, 1))
      |    for i in range(0, 16)], ',') AS pixels,
      |  array_to_string([list_sum([CASE WHEN ord(substr(text, j, 1))//32 = b
      |      THEN 1 ELSE 0 END for j in range(1, length(text)+1)])::BIGINT
      |    for b in range(0, 8)], ',') AS hist
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q30 simhash

  /** SimHash near-dup pairs: 60-bit sign-of-sums hash over 3-gram shingles,
    * 4×15-bit Hamming-LSH bands, Hamming ≤ 10 verify. */
  private def q30(s: SparkSession, d: String): DataFrame =
    Dedup.simhashPairs(Tables.documents(s, d), "doc_id", "text")
      .orderBy("doc_a", "doc_b")

  private val q30Sql =
    """WITH h AS (
      |  SELECT doc_id,
      |    list_sum([CASE WHEN list_sum([
      |        CASE WHEN (('0x' || substr(md5(w), 1, 15))::BIGINT >> j) & 1 = 1 THEN 1 ELSE -1 END
      |        for w in words]) > 0 THEN (1::BIGINT << j) ELSE 0 END
      |      for j in range(0, 60)])::BIGINT AS sh
      |  FROM (SELECT doc_id,
      |          list_distinct(CASE WHEN len(w) >= 3
      |            THEN [w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w)-1)]
      |            ELSE [] END) AS words
      |        FROM (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents))),
      |bands AS (
      |  SELECT doc_id, sh, b, (sh >> (b*15)) & 32767 AS bkey
      |  FROM h, LATERAL unnest(range(0, 4)) t(b)),
      |cand AS (
      |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
      |    bit_count(xor(x.sh, y.sh))::BIGINT AS dist
      |  FROM bands x JOIN bands y ON x.b = y.b AND x.bkey = y.bkey AND x.doc_id < y.doc_id)
      |SELECT doc_a, doc_b, dist FROM cand WHERE dist <= 10 ORDER BY doc_a, doc_b""".stripMargin

  // ---------------------------------------------------------------- q31 embedding near-dup

  /** Embedding-cosine near-dup pairs via shared sign-LSH buckets + threshold. */
  private def q31(s: SparkSession, d: String): DataFrame =
    Similarity.cosinePairs(embeddingsAsIdVec(s, d), threshold = 0.3)
      .orderBy("id_a", "id_b")

  private val q31Sql =
    """WITH v AS (
      |  SELECT vec_id AS id, embedding AS vec,
      |    sqrt(list_sum([vec[i]::DOUBLE * vec[i]::DOUBLE for i in range(1, len(vec)+1)])) AS nrm,
      |    [list_sum([CASE WHEN list_sum([vec[i]::DOUBLE *
      |        (CASE WHEN (((t*6+p)*31 + (i-1)*17) % 101) % 2 = 0 THEN 1.0 ELSE -1.0 END)
      |        for i in range(1, len(vec)+1)]) >= 0 THEN 1 << p ELSE 0 END
      |      for p in range(0, 6)])::BIGINT for t in range(0, 3)] AS bucks
      |  FROM embeddings),
      |cand AS (
      |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
      |  FROM v a, v b, LATERAL unnest(range(0, 3)) tt(t)
      |  WHERE a.bucks[t+1] = b.bucks[t+1] AND a.id < b.id),
      |scored AS (
      |  SELECT c.id_a, c.id_b,
      |    list_sum([a.vec[i]::DOUBLE * b.vec[i]::DOUBLE for i in range(1, len(a.vec)+1)]) / (a.nrm * b.nrm) AS cos
      |  FROM cand c JOIN v a ON a.id = c.id_a JOIN v b ON b.id = c.id_b)
      |SELECT id_a, id_b FROM scored WHERE cos >= 0.3 ORDER BY id_a, id_b""".stripMargin

  // ---------------------------------------------------------------- q34 IVF ANN

  /** The inverted-file ANN scale path ([[Similarity.ivfTopK]]): deterministic
    * sampled centroids, one cell per vector, probe-3 search, exact re-rank
    * inside probed cells. Complements q23b (multi-table LSH): IVF partitions
    * the corpus (no candidate dedup needed), LSH over-covers it. */
  private def q34(s: SparkSession, d: String): DataFrame = {
    val all = embeddingsAsIdVec(s, d)
    Similarity.ivfTopK(all.filter(col("id") % 100 === 0), all,
        k = 3, centroidStride = 40, nProbe = 3)
      .orderBy("q_id", "rank")
  }

  private val q34Sql =
    """WITH v AS (
      |  SELECT vec_id AS id, embedding AS vec,
      |    sqrt(list_sum([vec[i]::DOUBLE * vec[i]::DOUBLE for i in range(1, len(vec)+1)])) AS nrm
      |  FROM embeddings),
      |cents AS (SELECT id AS cent_id, vec AS centv, nrm AS centn FROM v WHERE id % 40 = 0),
      |assign AS (
      |  SELECT id, cell FROM (
      |    SELECT c.id, ct.cent_id AS cell,
      |      row_number() OVER (PARTITION BY c.id ORDER BY
      |        list_sum([c.vec[i]::DOUBLE * ct.centv[i]::DOUBLE for i in range(1, len(c.vec)+1)])
      |          / (c.nrm * ct.centn) DESC, ct.cent_id) AS rn
      |    FROM v c, cents ct) WHERE rn = 1),
      |probes AS (
      |  SELECT q_id, cell FROM (
      |    SELECT q.id AS q_id, ct.cent_id AS cell,
      |      row_number() OVER (PARTITION BY q.id ORDER BY
      |        list_sum([q.vec[i]::DOUBLE * ct.centv[i]::DOUBLE for i in range(1, len(q.vec)+1)])
      |          / (q.nrm * ct.centn) DESC, ct.cent_id) AS rn
      |    FROM v q, cents ct WHERE q.id % 100 = 0) WHERE rn <= 3),
      |scored AS (
      |  SELECT p.q_id, a.id AS neighbor_id,
      |    list_sum([qv.vec[i]::DOUBLE * cv.vec[i]::DOUBLE for i in range(1, len(qv.vec)+1)])
      |      / (qv.nrm * cv.nrm) AS cos
      |  FROM probes p JOIN assign a ON a.cell = p.cell
      |  JOIN v qv ON qv.id = p.q_id JOIN v cv ON cv.id = a.id
      |  WHERE a.id <> p.q_id),
      |ranked AS (
      |  SELECT q_id, neighbor_id,
      |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS rank
      |  FROM scored)
      |SELECT q_id, rank, neighbor_id FROM ranked WHERE rank <= 3
      |ORDER BY q_id, rank""".stripMargin

  // ---------------------------------------------------------------- q33 exact jaccard join

  /** EXACT n-gram Jaccard join via df-ascending prefix filtering
    * ([[Dedup.jaccardJoin]]) — deterministic recall, unlike q22's MinHash.
    * The oracle brute-forces all pairs (affordable at oracle scale); the
    * engine must produce the IDENTICAL pair set without ever comparing all
    * pairs — that equivalence is exactly the prefix-filter guarantee. */
  private def q33(s: SparkSession, d: String): DataFrame =
    Dedup.jaccardJoin(Tables.documents(s, d), "doc_id", "text")
      .orderBy("doc_a", "doc_b")

  private val q33Sql =
    """WITH words AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
      |sh AS (
      |  SELECT doc_id,
      |    list_distinct(CASE WHEN len(w) >= 3
      |      THEN [w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w)-1)]
      |      ELSE [] END) AS shingles
      |  FROM words),
      |ne AS (SELECT * FROM sh WHERE len(shingles) > 0),
      |pairs AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    len(list_intersect(a.shingles, b.shingles))::DOUBLE
      |      / len(list_distinct(a.shingles || b.shingles)) AS jac
      |  FROM ne a JOIN ne b ON a.doc_id < b.doc_id)
      |SELECT doc_a, doc_b, jac FROM pairs WHERE jac >= 0.5
      |ORDER BY doc_a, doc_b""".stripMargin

  // ---------------------------------------------------------------- q38 dedup clusters

  /** Connected-components dedup clustering ([[Clusters.assign]]): the exact
    * Jaccard pair graph (q33's edges — lossless recall) collapsed to cluster
    * labels, so "keep one doc per near-dup cluster" = `doc_id = cluster_id`.
    * The oracle walks the same graph with a recursive CTE; the engine runs
    * the published large-star/small-star rounds — both must reach the
    * identical component minima. */
  private def q38(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val pairs = Dedup.jaccardJoin(docs, "doc_id", "text").select("doc_a", "doc_b")
    Clusters.assign(docs.select("doc_id"), pairs).orderBy("doc_id")
  }

  private val q38Sql =
    """WITH RECURSIVE words AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
      |sh AS (
      |  SELECT doc_id,
      |    list_distinct(CASE WHEN len(w) >= 3
      |      THEN [w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w)-1)]
      |      ELSE [] END) AS shingles
      |  FROM words),
      |ne AS (SELECT * FROM sh WHERE len(shingles) > 0),
      |pairs AS (
      |  SELECT a.doc_id AS u, b.doc_id AS v
      |  FROM ne a JOIN ne b ON a.doc_id < b.doc_id
      |  WHERE len(list_intersect(a.shingles, b.shingles))::DOUBLE
      |      / len(list_distinct(a.shingles || b.shingles)) >= 0.5),
      |edges AS (SELECT u, v FROM pairs UNION ALL SELECT v AS u, u AS v FROM pairs),
      |reach(node, root) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT e.v, r.root FROM reach r JOIN edges e ON e.u = r.node),
      |lab AS (SELECT node AS doc_id, min(root) AS cluster_id FROM reach GROUP BY node)
      |SELECT doc_id, cluster_id,
      |  count(*) OVER (PARTITION BY cluster_id)::BIGINT AS cluster_size
      |FROM lab ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q39 repetition

  /** Gopher-style repetition quality signals ([[TextAnalysis.repetitionSignals]]):
    * top-word share, duplicate-word share, top-bigram share — per-row column
    * math (sort + fold), shuffle-free. */
  private def q39(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).orderBy("doc_id") // sort-first, see q25
      .select(col("doc_id"), TextAnalysis.repetitionSignals(col("text")).as("r"))
      .select(col("doc_id"), col("r.*"))

  private val q39Sql =
    """WITH f AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
      |g AS (
      |  SELECT doc_id, w,
      |    CASE WHEN len(w) >= 2 THEN [w[i] || ' ' || w[i+1] for i in range(1, len(w))]
      |         ELSE [] END AS bg
      |  FROM f),
      |c AS (
      |  SELECT doc_id,
      |    len(w)::BIGINT AS n_words,
      |    list_max([len(list_filter(w, x -> x = u)) for u in list_distinct(w)])::BIGINT AS topw,
      |    (len(w) - len(list_distinct(w)))::BIGINT AS dupw,
      |    CASE WHEN len(bg) > 0
      |      THEN list_max([len(list_filter(bg, x -> x = u)) for u in list_distinct(bg)])::BIGINT
      |      ELSE 0::BIGINT END AS topb,
      |    len(bg)::BIGINT AS n_bg
      |  FROM g)
      |SELECT doc_id, n_words,
      |  (1000 * topw) // n_words AS top_word_pm,
      |  (1000 * dupw) // n_words AS dup_word_pm,
      |  CASE WHEN n_bg = 0 THEN 0::BIGINT ELSE (1000 * topb) // n_bg END AS top_bigram_pm,
      |  ((1000 * topw) // n_words > 300)
      |    OR (CASE WHEN n_bg = 0 THEN 0::BIGINT ELSE (1000 * topb) // n_bg END > 200)
      |    AS repetitive
      |FROM c ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q40 token budget

  /** Per-language token-budget selection ([[Selection.tokenBudget]]): best
    * documents first (q26's quality score) until 2000 subword tokens per
    * stratum. The oracle is the naive per-document running-total window; the
    * engine must reproduce it from the two-phase level-offset plan that never
    * sorts a whole stratum in one task. */
  private def q40(s: SparkSession, d: String): DataFrame = {
    val t = col("text")
    val nWords = size(split(lower(t), " ")).cast("long")
    val sumWordLen = length(regexp_replace(t, " ", "")).cast("long")
    val score = TextAnalysis.permille(TextAnalysis.stopwordHits(t, "en"), nWords) +
      TextAnalysis.permille(sumWordLen, nWords)
    Selection.tokenBudget(Tables.documents(s, d), "lang", "doc_id",
        score, TextAnalysis.subwordTokens(t), budget = 2000L)
      .toDF("lang", "doc_id", "score", "tok", "cum")
      .orderBy("lang", "doc_id")
  }

  private val q40Sql =
    """WITH f AS (
      |  SELECT doc_id, lang,
      |    len(string_split(lower(text), ' '))::BIGINT AS n_words,
      |    length(replace(text, ' ', ''))::BIGINT AS swl,
      |    len(list_filter(string_split(lower(text), ' '),
      |      x -> x IN ('the','a','and','of','to','in','is','on','for','with')))::BIGINT AS stops,
      |    len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]'))::BIGINT AS tok
      |  FROM documents),
      |sc AS (
      |  SELECT doc_id, lang,
      |    (1000 * stops) // n_words + (1000 * swl) // n_words AS score, tok
      |  FROM f),
      |c AS (
      |  SELECT *, sum(tok) OVER (PARTITION BY lang ORDER BY score DESC, doc_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cum
      |  FROM sc)
      |SELECT lang, doc_id, score, tok, cum FROM c WHERE cum <= 2000
      |ORDER BY lang, doc_id""".stripMargin

  // ---------------------------------------------------------------- q41 stratified sample

  /** Deterministic stratified downsampling ([[Selection.stratifiedSample]]):
    * en to 200‰, every other language to 500‰, via the portable md5 bucket —
    * reproducible across engines and retries, nested under rate changes. */
  private def q41(s: SparkSession, d: String): DataFrame =
    Selection.stratifiedSample(Tables.documents(s, d), "lang", "doc_id",
        when(col("lang") === "en", lit(200L)).otherwise(lit(500L)))
      .select("doc_id", "lang", "bucket")
      .orderBy("doc_id")

  private val q41Sql =
    """WITH b AS (
      |  SELECT doc_id, lang,
      |    ('0x' || substr(md5(lang || ':' || doc_id), 1, 15))::BIGINT
      |      % 2147483647 % 1000 AS bucket
      |  FROM documents)
      |SELECT doc_id, lang, bucket FROM b
      |WHERE bucket < CASE WHEN lang = 'en' THEN 200 ELSE 500 END
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q42 scrub

  /** Text scrub ([[TextAnalysis.scrub]]). The test corpus is pre-cleaned, so
    * both engines first append the same deterministic URL + email + ragged
    * whitespace built from doc_id — the scrub then has real redaction work
    * whose result the oracle hash-checks. */
  private def q42(s: SparkSession, d: String): DataFrame = {
    val dirty = concat(col("text"), lit(" visit https://ex.com/d/"), col("doc_id"),
      lit(" or mail a"), col("doc_id"), lit("@ex.com now   done"))
    // Sort LAST here (reverting r20's sort-first): the 10x A/B (OptProbe
    // q42_sort{first,last} on the Scale10Gen set) read sort-first 0.72-0.89
    // vs sort-last 0.56-0.72 — the scrub regex chain is cheap enough that
    // paying it twice under the range sampler beats range-shuffling the
    // full raw text column (VERDICT r20 #4's predicted crossover).
    Tables.documents(s, d)
      .select(col("doc_id"), TextAnalysis.scrub(dirty).as("clean"))
      .withColumn("clean_chars", length(col("clean")).cast("long"))
      .orderBy("doc_id")
  }

  private val q42Sql =
    """WITH dirty AS (
      |  SELECT doc_id,
      |    text || ' visit https://ex.com/d/' || doc_id ||
      |    ' or mail a' || doc_id || '@ex.com now   done' AS t
      |  FROM documents),
      |clean AS (
      |  SELECT doc_id,
      |    trim(regexp_replace(regexp_replace(regexp_replace(t,
      |      'https?://\S+', '<url>', 'g'),
      |      '\S+@\S+\.\S+', '<email>', 'g'),
      |      '\s+', ' ', 'g')) AS clean
      |  FROM dirty)
      |SELECT doc_id, clean, length(clean)::BIGINT AS clean_chars
      |FROM clean ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q43 curation capstone

  /** End-to-end curation pipeline — the library's flagship composition:
    * exact near-dup clusters ([[Dedup.jaccardJoin]] → [[Clusters.assign]])
    * keep only each cluster's canonical (minimum-id) document, drop
    * repetitive documents ([[TextAnalysis.repetitionSignals]]), then spend a
    * per-language token budget on the best survivors
    * ([[Selection.tokenBudget]], q40's quality score). Every stage is one of
    * the already-verified operators; this query pins their composition. */
  private def q43(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val t = col("text")
    val nWords = size(split(lower(t), " ")).cast("long")
    val sumWordLen = length(regexp_replace(t, " ", "")).cast("long")
    val score = TextAnalysis.permille(TextAnalysis.stopwordHits(t, "en"), nWords) +
      TextAnalysis.permille(sumWordLen, nWords)
    // The heavy per-row scoring side (repetition fold + stopword/subword
    // scans — independent of the dedup graph) materializes on a background
    // thread while the pair join + CC run their construction-time actions
    // on this one (§2.6 overlap; the values are unchanged — scoring before
    // or after the canon join is the same per-row function, the join only
    // selects rows).
    val (scoredBase, awaitScore) = overlapMaterialize(
      docs.filter(!TextAnalysis.repetitionSignals(t).getField("repetitive"))
        .select(col("doc_id"), col("lang"), score.as("__score"),
          TextAnalysis.subwordTokens(t).as("__tok")), "q43 scored base")
    val pairs = Dedup.jaccardJoin(docs, "doc_id", "text").select("doc_a", "doc_b")
    val canon = Clusters.assign(docs.select("doc_id"), pairs)
      .filter(col("doc_id") === col("cluster_id")).select("doc_id")
    awaitScore()
    Selection.tokenBudget(scoredBase.join(canon, "doc_id"), "lang", "doc_id",
        col("__score"), col("__tok"), budget = 2000L)
      .toDF("lang", "doc_id", "score", "tok", "cum")
      .orderBy("lang", "doc_id")
  }

  private val q43Sql =
    """WITH RECURSIVE words AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
      |sh AS (
      |  SELECT doc_id,
      |    list_distinct(CASE WHEN len(w) >= 3
      |      THEN [w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w)-1)]
      |      ELSE [] END) AS shingles
      |  FROM words),
      |ne AS (SELECT * FROM sh WHERE len(shingles) > 0),
      |prs AS (
      |  SELECT a.doc_id AS u, b.doc_id AS v
      |  FROM ne a JOIN ne b ON a.doc_id < b.doc_id
      |  WHERE len(list_intersect(a.shingles, b.shingles))::DOUBLE
      |      / len(list_distinct(a.shingles || b.shingles)) >= 0.5),
      |edges AS (SELECT u, v FROM prs UNION ALL SELECT v AS u, u AS v FROM prs),
      |reach(node, root) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT e.v, r.root FROM reach r JOIN edges e ON e.u = r.node),
      |canon AS (
      |  SELECT node AS doc_id FROM reach GROUP BY node HAVING node = min(root)),
      |rep AS (
      |  SELECT f.doc_id FROM (
      |    SELECT doc_id, w,
      |      CASE WHEN len(w) >= 2 THEN [w[i] || ' ' || w[i+1] for i in range(1, len(w))]
      |           ELSE [] END AS bg
      |    FROM words) f
      |  WHERE NOT (
      |    (1000 * list_max([len(list_filter(w, x -> x = u)) for u in list_distinct(w)]))
      |      // len(w) > 300
      |    OR (CASE WHEN len(bg) = 0 THEN 0
      |        ELSE (1000 * list_max([len(list_filter(bg, x -> x = u)) for u in list_distinct(bg)]))
      |          // len(bg) END) > 200)),
      |f AS (
      |  SELECT d.doc_id, d.lang,
      |    len(string_split(lower(d.text), ' '))::BIGINT AS n_words,
      |    length(replace(d.text, ' ', ''))::BIGINT AS swl,
      |    len(list_filter(string_split(lower(d.text), ' '),
      |      x -> x IN ('the','a','and','of','to','in','is','on','for','with')))::BIGINT AS stops,
      |    len(regexp_extract_all(lower(d.text), '[a-z]+|[0-9]+|[^a-z0-9 ]'))::BIGINT AS tok
      |  FROM documents d
      |  JOIN canon c ON c.doc_id = d.doc_id
      |  JOIN rep r ON r.doc_id = d.doc_id),
      |sc AS (
      |  SELECT doc_id, lang,
      |    (1000 * stops) // n_words + (1000 * swl) // n_words AS score, tok
      |  FROM f),
      |c AS (
      |  SELECT *, sum(tok) OVER (PARTITION BY lang ORDER BY score DESC, doc_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cum
      |  FROM sc)
      |SELECT lang, doc_id, score, tok, cum FROM c WHERE cum <= 2000
      |ORDER BY lang, doc_id""".stripMargin

  // ---------------------------------------------------------------- q44 quantized ANN

  /** Int8 scalar-quantized ANN ([[Similarity.quantizedTopK]]): approx pass on
    * 4×-smaller integer codes (exact integer dot — portable by construction),
    * 4k shortlist, exact cosine re-rank on originals fetched by id. Rank-only
    * output like q23/q23b/q34. */
  private def q44(s: SparkSession, d: String): DataFrame = {
    val all = embeddingsAsIdVec(s, d)
    Similarity.quantizedTopK(all.filter(col("id") % 100 === 0), all, k = 5)
      .orderBy("q_id", "rank")
  }

  private val q44Sql =
    """WITH v AS (
      |  SELECT vec_id AS id, embedding AS vec,
      |    sqrt(list_sum([vec[i]::DOUBLE * vec[i]::DOUBLE for i in range(1, len(vec)+1)])) AS nrm,
      |    list_max([abs(vec[i]::DOUBLE) for i in range(1, len(vec)+1)]) AS s
      |  FROM embeddings),
      |c AS (
      |  SELECT id, vec, nrm, s,
      |    [floor(vec[i]::DOUBLE * 127.0 / s + 0.5) for i in range(1, len(vec)+1)] AS codes
      |  FROM v),
      |q AS (SELECT id AS q_id, vec AS qv, nrm AS qn, codes AS qc FROM c WHERE id % 100 = 0),
      |ap AS (
      |  SELECT q.q_id, c.id AS c_id, c.vec AS cv, c.nrm AS cn, q.qv, q.qn,
      |    list_sum([(q.qc[i] * c.codes[i])::BIGINT for i in range(1, len(q.qc)+1)])::DOUBLE
      |      * c.s / c.nrm AS ascore
      |  FROM q, c WHERE c.id <> q.q_id),
      |short AS (
      |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY ascore DESC, c_id) AS srank
      |  FROM ap),
      |scored AS (
      |  SELECT q_id, c_id AS neighbor_id,
      |    list_sum([qv[i]::DOUBLE * cv[i]::DOUBLE for i in range(1, len(qv)+1)]) / (qn * cn) AS cos
      |  FROM short WHERE srank <= 20),
      |ranked AS (
      |  SELECT q_id, neighbor_id,
      |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS rank
      |  FROM scored)
      |SELECT q_id, rank, neighbor_id FROM ranked WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin

  // ---------------------------------------------------------------- q45 decontamination

  /** Benchmark decontamination ([[Decontam.contaminationReport]]): flag corpus
    * documents sharing any word 8-gram with a held-out benchmark split (a
    * deterministic md5 bucket of doc_ids, ≈12.5% — standing in for the
    * megabyte-scale eval sets a real pipeline holds out). The benchmark n-gram
    * set is broadcast by AQE; corpus n-grams never shuffle. */
  private def q45(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val isBench = substring(md5(col("doc_id").cast("string")), 1, 1).isin("0", "1")
    Decontam.contaminationReport(
        docs.filter(!isBench), docs.filter(isBench), "doc_id", "text", n = 8)
      .orderBy("doc_id")
  }

  private val q45Sql =
    """WITH marked AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS ws,
      |    substr(md5(doc_id::VARCHAR), 1, 1) IN ('0','1') AS is_bench
      |  FROM documents),
      |wh AS (
      |  SELECT doc_id, is_bench,
      |    [('0x' || substr(md5(x), 1, 15))::BIGINT % 2147483647 for x in ws] AS whs
      |  FROM marked),
      |g AS (
      |  SELECT doc_id, is_bench,
      |    list_distinct(CASE WHEN len(whs) >= 8 THEN [
      |      ((((((((((((((whs[i]
      |        * 31 + whs[i+1]) % 288230376151711717)
      |        * 31 + whs[i+2]) % 288230376151711717)
      |        * 31 + whs[i+3]) % 288230376151711717)
      |        * 31 + whs[i+4]) % 288230376151711717)
      |        * 31 + whs[i+5]) % 288230376151711717)
      |        * 31 + whs[i+6]) % 288230376151711717)
      |        * 31 + whs[i+7]) % 288230376151711717) for i in range(1, len(whs)-6)]
      |    ELSE [] END) AS ngs
      |  FROM wh),
      |bench AS (SELECT DISTINCT unnest(ngs) AS ng FROM g WHERE is_bench),
      |corpus AS (
      |  SELECT doc_id, len(ngs) AS n_ngrams, unnest(ngs) AS ng
      |  FROM g WHERE NOT is_bench)
      |SELECT c.doc_id, count(*) AS n_hits, c.n_ngrams,
      |  (count(*) * 1000) // c.n_ngrams AS hit_permille
      |FROM corpus c JOIN bench b USING (ng)
      |GROUP BY c.doc_id, c.n_ngrams ORDER BY c.doc_id""".stripMargin

  // ---------------------------------------------------------------- q46 BM25 retrieval

  /** BM25 top-5 retrieval ([[Retrieval.bm25TopK]]): a FIXED-SIZE query set —
    * the first 24 (by doc_id) of a deterministic md5 bucket — queries the
    * full corpus doc-as-query style. The cap is the point: the operator's
    * scale contract is "queries bounded by construction", so the catalog
    * query must not grow the query set with the corpus (a corpus-fraction
    * bucket would quietly break the broadcast posture at 100×). Scores
    * travel as integer micros (per-term rounding before the sum), so the
    * oracle comparison is exact — see the determinism contract on
    * [[Retrieval]]. */
  private def q46(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val qs = docs
      .filter(substring(md5(col("doc_id").cast("string")), 1, 1) === "0")
      .select(col("doc_id").as("q_id"), col("text").as("q_text"))
      .orderBy("q_id").limit(24)
    Retrieval.bm25TopK(docs, "doc_id", "text", qs, k = 5)
      .orderBy("q_id", "rank")
  }

  private val q46Sql =
    """WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents),
      |dl AS (SELECT doc_id, len(ws)::BIGINT AS dl FROM w),
      |tf AS (
      |  SELECT doc_id, term, count(*)::BIGINT AS tf
      |  FROM (SELECT doc_id, unnest(ws) AS term FROM w) GROUP BY doc_id, term),
      |q AS (
      |  SELECT doc_id AS q_id, unnest(list_distinct(ws)) AS term
      |  FROM (SELECT doc_id, ws FROM w
      |        WHERE substr(md5(doc_id::VARCHAR), 1, 1) = '0'
      |        ORDER BY doc_id LIMIT 24)),
      |qt AS (SELECT DISTINCT term FROM q),
      |m AS (SELECT tf.* FROM tf JOIN qt USING (term)),
      |dfq AS (SELECT term, count(*)::BIGINT AS df FROM m GROUP BY term),
      |st AS (SELECT count(*)::BIGINT AS n_docs, sum(dl)::BIGINT AS sum_dl FROM dl),
      |sc AS (
      |  SELECT q.q_id, m.doc_id,
      |    sum(floor(
      |      ln(1.0 + (st.n_docs::DOUBLE - dfq.df::DOUBLE + 0.5) / (dfq.df::DOUBLE + 0.5))
      |      * (m.tf::DOUBLE * (1.2 + 1.0))
      |      / (m.tf::DOUBLE + 1.2 * ((1.0 - 0.75)
      |          + 0.75 * dl.dl::DOUBLE / (st.sum_dl::DOUBLE / st.n_docs::DOUBLE)))
      |      * 1000000.0 + 0.5)::BIGINT)::BIGINT AS score_micro
      |  FROM m JOIN dl USING (doc_id) JOIN dfq USING (term) JOIN q USING (term)
      |  CROSS JOIN st
      |  GROUP BY q.q_id, m.doc_id),
      |r AS (
      |  SELECT q_id, doc_id, score_micro,
      |    row_number() OVER (PARTITION BY q_id ORDER BY score_micro DESC, doc_id)::BIGINT AS rank
      |  FROM sc)
      |SELECT q_id, rank, doc_id, score_micro FROM r WHERE rank <= 5
      |ORDER BY q_id, rank""".stripMargin

  // ---------------------------------------------------------------- q47 export shuffle

  /** Seeded deterministic training-export shuffle ([[Selection.exportShuffle]]):
    * every document routed to one of 8 shards by portable md5 hash and
    * ordered within its shard by the same hash — reproducible "random" order
    * with no RNG state; the per-shard window is the only shuffle. */
  private def q47(s: SparkSession, d: String): DataFrame =
    Selection.exportShuffle(Tables.documents(s, d), "doc_id", "r6", numShards = 8)
      .select("shard", "pos", "doc_id")
      .orderBy("shard", "pos")

  private val q47Sql =
    """WITH h AS (
      |  SELECT doc_id,
      |    ('0x' || substr(md5('r6' || ':' || doc_id), 1, 15))::BIGINT AS h
      |  FROM documents)
      |SELECT (h % 8)::INTEGER AS shard,
      |  row_number() OVER (PARTITION BY h % 8 ORDER BY h, doc_id) AS pos,
      |  doc_id
      |FROM h ORDER BY shard, pos""".stripMargin

  // ---------------------------------------------------------------- q48 source mixing

  /** Weight-proportional deterministic source interleave
    * ([[Selection.mixSources]], stride scheduling): source weights derived
    * from the source suffix (1..4 × 100), per-source ranks via the
    * level-offset decomposition (no corpus-wide per-source window), stream
    * position = `rank · 1e6 div weight`. Reading in (coord, source, id)
    * order gives every prefix per-source shares proportional to weights. */
  private def q48(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val weights = docs.select(col("source")).distinct()
      .withColumn("weight",
        (lit(1) + substring(col("source"), 4, 10).cast("long") % 4) * 100)
    Selection.mixSources(docs, "source", "doc_id", weights)
      .orderBy("coord", "source", "id")
  }

  private val q48Sql =
    """WITH h AS (
      |  SELECT source, doc_id AS id,
      |    ('0x' || substr(md5('mix' || ':' || source || ':' || doc_id), 1, 15))::BIGINT AS h
      |  FROM documents),
      |ranked AS (
      |  SELECT source, id,
      |    row_number() OVER (PARTITION BY source ORDER BY (h % 4096), h, id) AS rank
      |  FROM h),
      |w AS (
      |  SELECT source, (1 + substr(source, 4)::BIGINT % 4) * 100 AS weight
      |  FROM (SELECT DISTINCT source FROM documents))
      |SELECT r.source, r.id, r.rank, (r.rank * 1000000) // w.weight AS coord
      |FROM ranked r JOIN w USING (source)
      |ORDER BY coord, source, id""".stripMargin

  // ---------------------------------------------------------------- q49 export capstone

  /** Export pipeline capstone: weighted source mix → fixed-count budget
    * prefix → seeded shard shuffle. The budget cut is a FIXED top-k over the
    * stride coordinates (Spark plans TakeOrderedAndProject — distributed
    * top-k, never a single-task global sort), so the capstone keeps every
    * component's scale posture while proving they compose: the selection any
    * training run would actually write, in reproducible random order. */
  private def q49(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val weights = docs.select(col("source")).distinct()
      .withColumn("weight",
        (lit(1) + substring(col("source"), 4, 10).cast("long") % 4) * 100)
    val cut = Selection.mixSources(docs, "source", "doc_id", weights)
      .orderBy("coord", "source", "id").limit(300)
    val sel = docs.join(cut.select(col("id").as("doc_id")), "doc_id")
    Selection.exportShuffle(sel, "doc_id", "cap", numShards = 4)
      .select("shard", "pos", "doc_id", "source")
      .orderBy("shard", "pos")
  }

  private val q49Sql =
    """WITH h AS (
      |  SELECT source, doc_id AS id,
      |    ('0x' || substr(md5('mix' || ':' || source || ':' || doc_id), 1, 15))::BIGINT AS h
      |  FROM documents),
      |ranked AS (
      |  SELECT source, id,
      |    row_number() OVER (PARTITION BY source ORDER BY (h % 4096), h, id) AS rank
      |  FROM h),
      |w AS (
      |  SELECT source, (1 + substr(source, 4)::BIGINT % 4) * 100 AS weight
      |  FROM (SELECT DISTINCT source FROM documents)),
      |mixed AS (
      |  SELECT r.source, r.id, (r.rank * 1000000) // w.weight AS coord
      |  FROM ranked r JOIN w USING (source)),
      |cut AS (SELECT source, id FROM mixed ORDER BY coord, source, id LIMIT 300),
      |sh AS (
      |  SELECT id AS doc_id, source,
      |    ('0x' || substr(md5('cap' || ':' || id), 1, 15))::BIGINT AS h
      |  FROM cut)
      |SELECT (h % 4)::INTEGER AS shard,
      |  row_number() OVER (PARTITION BY h % 4 ORDER BY h, doc_id) AS pos,
      |  doc_id, source
      |FROM sh ORDER BY shard, pos""".stripMargin

  // ---------------------------------------------------------------- q50 sequence packing

  /** Concat-and-chunk sequence packing ([[Selection.packSequences]]): lay the
    * corpus end to end in seeded-hash order and cut the token stream into
    * 512-token training windows — each output row one (document, window)
    * overlap with in-window coordinates. The oracle reproduces the global
    * prefix sum with a plain window; the engine must produce IDENTICAL
    * coordinates from the bucket-decomposed plan (per-bucket sums + tiny
    * offset frame + within-bucket windows) that never sorts the corpus in
    * one task. */
  private def q50(s: SparkSession, d: String): DataFrame =
    Selection.packSequences(Tables.documents(s, d), "doc_id",
        TextAnalysis.subwordTokens(col("text")), windowTokens = 512L)
      .withColumnRenamed("id", "doc_id")
      .orderBy("bin", "gstart")

  private val q50Sql =
    """WITH t AS (
      |  SELECT doc_id,
      |    len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]'))::BIGINT AS tok,
      |    ('0x' || substr(md5('pack' || ':' || doc_id), 1, 15))::BIGINT AS h
      |  FROM documents),
      |b AS (SELECT *, (h % 4096)::INTEGER AS bk FROM t WHERE tok >= 1),
      |c AS (
      |  SELECT doc_id, tok,
      |    sum(tok) OVER (ORDER BY bk, h, doc_id ROWS UNBOUNDED PRECEDING) AS cum
      |  FROM b),
      |s AS (SELECT doc_id, tok, (cum - tok)::BIGINT AS gstart, cum::BIGINT AS cum FROM c),
      |e AS (
      |  SELECT doc_id, tok, gstart, cum,
      |    unnest(range(gstart // 512, (cum - 1) // 512 + 1)) AS bin
      |  FROM s)
      |SELECT doc_id, tok, gstart, bin,
      |  greatest(gstart - bin * 512, 0) AS off_in_bin,
      |  least(cum, (bin + 1) * 512) - greatest(gstart, bin * 512) AS len_in_bin
      |FROM e ORDER BY bin, gstart""".stripMargin

  // ---------------------------------------------------------------- q51 chunking

  /** Overlapping word-window chunking ([[TextAnalysis.chunkWords]]): 64-word
    * chunks every 48 words (16 overlap) — the RAG/embedding passage step.
    * Pure per-row explode; the oracle mirrors it with list slicing. */
  private def q51(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        explode(TextAnalysis.chunkWords(col("text"), 64, 16)).as("c"))
      .select(col("doc_id"), col("c.chunk_id"), col("c.n_words"),
        col("c.chunk_text"))
      .orderBy("doc_id", "chunk_id")

  private val q51Sql =
    """WITH w AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents),
      |e AS (
      |  SELECT doc_id, len(ws)::BIGINT AS n_words, ws,
      |    unnest(range(0, (len(ws) - 1) // 48 + 1)) AS chunk_id
      |  FROM w)
      |SELECT doc_id, chunk_id, n_words,
      |  array_to_string(ws[chunk_id * 48 + 1 : chunk_id * 48 + 64], ' ') AS chunk_text
      |FROM e ORDER BY doc_id, chunk_id""".stripMargin

  // ---------------------------------------------------------------- q52 repeated-span removal

  /** Repeated n-gram span detection ([[Dedup.repeatedNgramSpans]]):
    * substring-level dedup — word 8-grams occurring in ≥2 distinct documents
    * (boilerplate/template text the document-level passes cannot see),
    * merged into maximal removal spans per document. The oracle replays the
    * same stepwise-mod gram hashes and island merge in SQL. */
  private def q52(s: SparkSession, d: String): DataFrame =
    Dedup.repeatedNgramSpans(Tables.documents(s, d), "doc_id", "text",
        n = 8, minDocs = 2)
      .orderBy("doc_id", "span_start")

  private val q52Sql =
    """WITH w AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents),
      |wh AS (
      |  SELECT doc_id,
      |    [('0x' || substr(md5(x), 1, 15))::BIGINT % 2147483647 for x in ws] AS whs
      |  FROM w),
      |g AS (
      |  SELECT doc_id, CASE WHEN len(whs) >= 8 THEN [
      |    {'p': i - 1, 'ng':
      |      ((((((((((((((whs[i]
      |        * 31 + whs[i+1]) % 288230376151711717)
      |        * 31 + whs[i+2]) % 288230376151711717)
      |        * 31 + whs[i+3]) % 288230376151711717)
      |        * 31 + whs[i+4]) % 288230376151711717)
      |        * 31 + whs[i+5]) % 288230376151711717)
      |        * 31 + whs[i+6]) % 288230376151711717)
      |        * 31 + whs[i+7]) % 288230376151711717)}
      |    for i in range(1, len(whs)-6)] ELSE [] END AS gs
      |  FROM wh),
      |occ AS (SELECT doc_id, unnest(gs, recursive := true) FROM g),
      |freq AS (
      |  SELECT ng FROM (SELECT ng, count(DISTINCT doc_id) AS nd FROM occ GROUP BY ng)
      |  WHERE nd >= 2),
      |f AS (SELECT o.doc_id, o.p FROM occ o JOIN freq USING (ng)),
      |i AS (
      |  SELECT doc_id, p,
      |    CASE WHEN lag(p) OVER (PARTITION BY doc_id ORDER BY p) IS NULL
      |         OR p > lag(p) OVER (PARTITION BY doc_id ORDER BY p) + 8
      |    THEN 1 ELSE 0 END AS brk
      |  FROM f),
      |isl AS (
      |  SELECT doc_id, p,
      |    sum(brk) OVER (PARTITION BY doc_id ORDER BY p ROWS UNBOUNDED PRECEDING) AS island
      |  FROM i)
      |SELECT doc_id, min(p)::BIGINT AS span_start, (max(p) + 8)::BIGINT AS span_end
      |FROM isl GROUP BY doc_id, island
      |ORDER BY doc_id, span_start""".stripMargin

  // ---------------------------------------------------------------- q53 span scrub

  /** Substring-dedup capstone: q52's repeated spans applied back to the
    * corpus ([[Dedup.removeSpans]]) — every document out the other side with
    * its boilerplate cut and the removal accounted. Documents without spans
    * pass through untouched. */
  private def q53(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    Dedup.removeSpans(docs,
        Dedup.repeatedNgramSpans(docs, "doc_id", "text", n = 8, minDocs = 2),
        "doc_id", "text")
      .orderBy("doc_id")
  }

  private val q53Sql =
    """WITH w AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents),
      |wh AS (
      |  SELECT doc_id,
      |    [('0x' || substr(md5(x), 1, 15))::BIGINT % 2147483647 for x in ws] AS whs
      |  FROM w),
      |g AS (
      |  SELECT doc_id, CASE WHEN len(whs) >= 8 THEN [
      |    {'p': i - 1, 'ng':
      |      ((((((((((((((whs[i]
      |        * 31 + whs[i+1]) % 288230376151711717)
      |        * 31 + whs[i+2]) % 288230376151711717)
      |        * 31 + whs[i+3]) % 288230376151711717)
      |        * 31 + whs[i+4]) % 288230376151711717)
      |        * 31 + whs[i+5]) % 288230376151711717)
      |        * 31 + whs[i+6]) % 288230376151711717)
      |        * 31 + whs[i+7]) % 288230376151711717)}
      |    for i in range(1, len(whs)-6)] ELSE [] END AS gs
      |  FROM wh),
      |occ AS (SELECT doc_id, unnest(gs, recursive := true) FROM g),
      |freq AS (
      |  SELECT ng FROM (SELECT ng, count(DISTINCT doc_id) AS nd FROM occ GROUP BY ng)
      |  WHERE nd >= 2),
      |f AS (SELECT o.doc_id, o.p FROM occ o JOIN freq USING (ng)),
      |i AS (
      |  SELECT doc_id, p,
      |    CASE WHEN lag(p) OVER (PARTITION BY doc_id ORDER BY p) IS NULL
      |         OR p > lag(p) OVER (PARTITION BY doc_id ORDER BY p) + 8
      |    THEN 1 ELSE 0 END AS brk
      |  FROM f),
      |isl AS (
      |  SELECT doc_id, p,
      |    sum(brk) OVER (PARTITION BY doc_id ORDER BY p ROWS UNBOUNDED PRECEDING) AS island
      |  FROM i),
      |sp AS (
      |  SELECT doc_id, min(p)::BIGINT AS s, (max(p) + 8)::BIGINT AS e
      |  FROM isl GROUP BY doc_id, island),
      |spd AS (SELECT doc_id, list(struct_pack(s := s, e := e) ORDER BY s) AS spans
      |        FROM sp GROUP BY doc_id)
      |SELECT w.doc_id, len(w.ws)::BIGINT AS n_words,
      |  coalesce(list_sum([x.e - x.s for x in spd.spans]), 0)::BIGINT AS n_removed,
      |  CASE WHEN spd.spans IS NULL THEN array_to_string(w.ws, ' ')
      |       -- array_to_string([]) is NULL in DuckDB; a fully-removed doc is ''
      |       ELSE coalesce(array_to_string([w.ws[i] for i in range(1, len(w.ws)+1)
      |         if len(list_filter(spd.spans, x -> i - 1 >= x.s AND i - 1 < x.e)) = 0], ' '), '')
      |  END AS clean_text
      |FROM w LEFT JOIN spd USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q54 decontam scrub

  /** Span-level decontamination ([[Decontam.contaminationSpans]] →
    * [[Dedup.removeSpans]]): instead of dropping every document q45 flags,
    * cut out exactly the benchmark-overlapping word spans and keep the rest
    * — the surgical form of decontamination. Same held-out split as q45. */
  private def q54(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val isBench = substring(md5(col("doc_id").cast("string")), 1, 1).isin("0", "1")
    val corpus = docs.filter(!isBench)
    Dedup.removeSpans(corpus,
        Decontam.contaminationSpans(corpus, docs.filter(isBench), "doc_id", "text", n = 8),
        "doc_id", "text")
      .orderBy("doc_id")
  }

  private val q54Sql =
    """WITH marked AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS ws,
      |    substr(md5(doc_id::VARCHAR), 1, 1) IN ('0','1') AS is_bench
      |  FROM documents),
      |wh AS (
      |  SELECT doc_id, is_bench, ws,
      |    [('0x' || substr(md5(x), 1, 15))::BIGINT % 2147483647 for x in ws] AS whs
      |  FROM marked),
      |g AS (
      |  SELECT doc_id, is_bench, CASE WHEN len(whs) >= 8 THEN [
      |    {'p': i - 1, 'ng':
      |      ((((((((((((((whs[i]
      |        * 31 + whs[i+1]) % 288230376151711717)
      |        * 31 + whs[i+2]) % 288230376151711717)
      |        * 31 + whs[i+3]) % 288230376151711717)
      |        * 31 + whs[i+4]) % 288230376151711717)
      |        * 31 + whs[i+5]) % 288230376151711717)
      |        * 31 + whs[i+6]) % 288230376151711717)
      |        * 31 + whs[i+7]) % 288230376151711717)}
      |    for i in range(1, len(whs)-6)] ELSE [] END AS gs
      |  FROM wh),
      |occ AS (SELECT doc_id, is_bench, unnest(gs, recursive := true) FROM g),
      |bench AS (SELECT DISTINCT ng FROM occ WHERE is_bench),
      |f AS (SELECT o.doc_id, o.p FROM occ o JOIN bench USING (ng) WHERE NOT o.is_bench),
      |i AS (
      |  SELECT doc_id, p,
      |    CASE WHEN lag(p) OVER (PARTITION BY doc_id ORDER BY p) IS NULL
      |         OR p > lag(p) OVER (PARTITION BY doc_id ORDER BY p) + 8
      |    THEN 1 ELSE 0 END AS brk
      |  FROM f),
      |isl AS (
      |  SELECT doc_id, p,
      |    sum(brk) OVER (PARTITION BY doc_id ORDER BY p ROWS UNBOUNDED PRECEDING) AS island
      |  FROM i),
      |sp AS (
      |  SELECT doc_id, min(p)::BIGINT AS s, (max(p) + 8)::BIGINT AS e
      |  FROM isl GROUP BY doc_id, island),
      |spd AS (SELECT doc_id, list(struct_pack(s := s, e := e) ORDER BY s) AS spans
      |        FROM sp GROUP BY doc_id)
      |SELECT m.doc_id, len(m.ws)::BIGINT AS n_words,
      |  coalesce(list_sum([x.e - x.s for x in spd.spans]), 0)::BIGINT AS n_removed,
      |  CASE WHEN spd.spans IS NULL THEN array_to_string(m.ws, ' ')
      |       ELSE coalesce(array_to_string([m.ws[i] for i in range(1, len(m.ws)+1)
      |         if len(list_filter(spd.spans, x -> i - 1 >= x.s AND i - 1 < x.e)) = 0], ' '), '')
      |  END AS clean_text
      |FROM marked m LEFT JOIN spd USING (doc_id)
      |WHERE NOT m.is_bench
      |ORDER BY m.doc_id""".stripMargin

  // ---------------------------------------------------------------- q55 bigram LM

  /** Bigram LM quality score ([[LanguageModel.bigramNll]]): add-½ bigram
    * model trained on the corpus itself; each document's average NLL in
    * integer micro-nats — the CCNet/KenLM filtering signal shape. */
  private def q55(s: SparkSession, d: String): DataFrame =
    LanguageModel.bigramNll(Tables.documents(s, d), "doc_id", "text")
      .orderBy("doc_id")

  private val q55Sql =
    """WITH ws AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
      |  WHERE len(string_split(lower(text), ' ')) >= 2),
      |bg AS (
      |  SELECT doc_id, unnest(w[1:len(w) - 1]) AS w1, unnest(w[2:len(w)]) AS w2
      |  FROM ws),
      |pairs AS (
      |  SELECT doc_id, w1, w2, count(*)::BIGINT AS m FROM bg GROUP BY 1, 2, 3),
      |model AS (
      |  SELECT w1, w2, sum(m)::BIGINT AS c12 FROM pairs GROUP BY 1, 2),
      |heads AS (SELECT w1, sum(c12)::BIGINT AS c1 FROM model GROUP BY 1),
      |vocab AS (SELECT count(*)::BIGINT AS v FROM heads),
      |terms AS (
      |  SELECT p.doc_id, p.m,
      |    floor(-ln((mo.c12 + 0.5) / (h.c1 + 0.5 * vocab.v)) * 1000000 + 0.5)::BIGINT AS term
      |  FROM pairs p
      |  JOIN model mo USING (w1, w2)
      |  JOIN heads h USING (w1)
      |  CROSS JOIN vocab)
      |SELECT doc_id, sum(m)::BIGINT AS n_bigrams,
      |  (sum(m * term) // sum(m))::BIGINT AS avg_nll_micro
      |FROM terms GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q56 semantic dedup

  /** SemDeDup ([[Similarity.semanticDedup]]): embedding-side near-duplicate
    * pruning — IVF cells bound the comparisons, exact cosine ≥ 0.3 pairs
    * (q31's near-dup threshold), connected components pick one
    * representative per group. The embedding-side capstone, as q43 is the
    * text-side one. */
  private def q56(s: SparkSession, d: String): DataFrame =
    Similarity.semanticDedup(embeddingsAsIdVec(s, d), tau = 0.3)
      .orderBy("id")

  private val q56Sql =
    """WITH RECURSIVE vv AS (
      |  SELECT vec_id AS id, embedding AS vec,
      |    sqrt(list_sum([vec[i]::DOUBLE * vec[i]::DOUBLE for i in range(1, len(vec)+1)])) AS nrm
      |  FROM embeddings),
      |cents AS (SELECT id AS cent_id, vec AS centv, nrm AS centn FROM vv WHERE id % 40 = 0),
      |cellof AS (
      |  SELECT id, cell FROM (
      |    SELECT c.id, ct.cent_id AS cell,
      |      row_number() OVER (PARTITION BY c.id ORDER BY
      |        list_sum([c.vec[i]::DOUBLE * ct.centv[i]::DOUBLE for i in range(1, len(c.vec)+1)])
      |          / (c.nrm * ct.centn) DESC, ct.cent_id) AS rn
      |    FROM vv c, cents ct) WHERE rn = 1),
      |pairs AS (
      |  SELECT a.id AS u, b.id AS v
      |  FROM cellof a JOIN cellof b ON a.cell = b.cell AND a.id < b.id
      |  JOIN vv va ON va.id = a.id JOIN vv vb ON vb.id = b.id
      |  WHERE list_sum([va.vec[i]::DOUBLE * vb.vec[i]::DOUBLE for i in range(1, len(va.vec)+1)])
      |      / (va.nrm * vb.nrm) >= 0.3),
      |edges AS (SELECT u, v FROM pairs UNION ALL SELECT v AS u, u AS v FROM pairs),
      |reach(node, root) AS (
      |  SELECT id, id FROM vv
      |  UNION
      |  SELECT e.v, r.root FROM reach r JOIN edges e ON e.u = r.node),
      |lab AS (SELECT node AS id, min(root) AS keep_id FROM reach GROUP BY node)
      |SELECT id, keep_id, (id = keep_id)::BIGINT AS kept,
      |  count(*) OVER (PARTITION BY keep_id)::BIGINT AS cluster_size
      |FROM lab ORDER BY id""".stripMargin

  // ------------------------------------------------- q57 semantic curation

  /** Quality-aware semantic curation — the composition real pipelines run:
    * semantic near-dup clusters ([[Similarity.semanticDedup]], q56) choose
    * their representative by QUALITY ([[LanguageModel.bigramNll]], q55 —
    * lowest average NLL wins, id as the tie-break) instead of lowest id.
    * Embeddings and documents are id-aligned in this corpus; docs without a
    * score (under two words) rank last. */
  private def q57(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // The two sides are INDEPENDENT pipelines (LM scoring over documents;
    // IVF/cosine/CC dedup over embeddings) that the old form ran serially:
    // the dedup side executes its CC actions during construction, then the
    // final action paid the whole LM pipeline. Overlap them (§2.6): the LM
    // side materializes on a background thread while the CC rounds run.
    val (nll, awaitNll) = overlapMaterialize(
      LanguageModel.bigramNll(Tables.documents(s, d), "doc_id", "text")
        .select(col("doc_id"), col("avg_nll_micro")), "q57 bigram nll")
    val labeled = Similarity.semanticDedup(embeddingsAsIdVec(s, d), tau = 0.3)
      .select(col("id"), col("keep_id").as("cluster_id"))
    awaitNll()
    val scored = labeled.join(nll, labeled("id") === nll("doc_id"), "left")
      .select(col("id"), col("cluster_id"),
        coalesce(col("avg_nll_micro"), lit(Long.MaxValue)).as("avg_nll_micro"))
    // per-cluster argmin — a window keyed on the cluster id (fine-grained)
    val w = Window.partitionBy("cluster_id")
      .orderBy(col("avg_nll_micro"), col("id"))
    val best = scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("cluster_id"), col("id").as("keep_id"))
    scored.join(best, "cluster_id") // one row per cluster: AQE broadcasts
      .select(col("id"), col("cluster_id"), col("avg_nll_micro"), col("keep_id"),
        (col("id") === col("keep_id")).cast("long").as("kept"))
      .orderBy("id")
  }

  private val q57Sql =
    """WITH RECURSIVE vv AS (
      |  SELECT vec_id AS id, embedding AS vec,
      |    sqrt(list_sum([vec[i]::DOUBLE * vec[i]::DOUBLE for i in range(1, len(vec)+1)])) AS nrm
      |  FROM embeddings),
      |cents AS (SELECT id AS cent_id, vec AS centv, nrm AS centn FROM vv WHERE id % 40 = 0),
      |cellof AS (
      |  SELECT id, cell FROM (
      |    SELECT c.id, ct.cent_id AS cell,
      |      row_number() OVER (PARTITION BY c.id ORDER BY
      |        list_sum([c.vec[i]::DOUBLE * ct.centv[i]::DOUBLE for i in range(1, len(c.vec)+1)])
      |          / (c.nrm * ct.centn) DESC, ct.cent_id) AS rn
      |    FROM vv c, cents ct) WHERE rn = 1),
      |simpairs AS (
      |  SELECT a.id AS u, b.id AS v
      |  FROM cellof a JOIN cellof b ON a.cell = b.cell AND a.id < b.id
      |  JOIN vv va ON va.id = a.id JOIN vv vb ON vb.id = b.id
      |  WHERE list_sum([va.vec[i]::DOUBLE * vb.vec[i]::DOUBLE for i in range(1, len(va.vec)+1)])
      |      / (va.nrm * vb.nrm) >= 0.3),
      |edges AS (SELECT u, v FROM simpairs UNION ALL SELECT v AS u, u AS v FROM simpairs),
      |reach(node, root) AS (
      |  SELECT id, id FROM vv
      |  UNION
      |  SELECT e.v, r.root FROM reach r JOIN edges e ON e.u = r.node),
      |lab AS (SELECT node AS id, min(root) AS cluster_id FROM reach GROUP BY node),
      |ws AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
      |  WHERE len(string_split(lower(text), ' ')) >= 2),
      |bg AS (
      |  SELECT doc_id, unnest(w[1:len(w) - 1]) AS w1, unnest(w[2:len(w)]) AS w2
      |  FROM ws),
      |lmpairs AS (
      |  SELECT doc_id, w1, w2, count(*)::BIGINT AS m FROM bg GROUP BY 1, 2, 3),
      |model AS (
      |  SELECT w1, w2, sum(m)::BIGINT AS c12 FROM lmpairs GROUP BY 1, 2),
      |heads AS (SELECT w1, sum(c12)::BIGINT AS c1 FROM model GROUP BY 1),
      |vocab AS (SELECT count(*)::BIGINT AS v FROM heads),
      |terms AS (
      |  SELECT p.doc_id, p.m,
      |    floor(-ln((mo.c12 + 0.5) / (h.c1 + 0.5 * vocab.v)) * 1000000 + 0.5)::BIGINT AS term
      |  FROM lmpairs p
      |  JOIN model mo USING (w1, w2)
      |  JOIN heads h USING (w1)
      |  CROSS JOIN vocab),
      |nll AS (
      |  SELECT doc_id, (sum(m * term) // sum(m))::BIGINT AS avg_nll_micro
      |  FROM terms GROUP BY doc_id),
      |scored AS (
      |  SELECT l.id, l.cluster_id,
      |    coalesce(n.avg_nll_micro, 9223372036854775807) AS avg_nll_micro
      |  FROM lab l LEFT JOIN nll n ON n.doc_id = l.id),
      |best AS (
      |  SELECT cluster_id, id AS keep_id FROM (
      |    SELECT id, cluster_id,
      |      row_number() OVER (PARTITION BY cluster_id
      |        ORDER BY avg_nll_micro, id) AS rn
      |    FROM scored) WHERE rn = 1)
      |SELECT s.id, s.cluster_id, s.avg_nll_micro, b.keep_id,
      |  (s.id = b.keep_id)::BIGINT AS kept
      |FROM scored s JOIN best b USING (cluster_id) ORDER BY s.id""".stripMargin

  // ---------------------------------------------------------------- q58 kmeans

  /** Deterministic integer k-means ([[KMeans.assignClusters]]): 2 Lloyd
    * rounds from stride-40 seed centroids over the embeddings, all in exact
    * micro-unit arithmetic — the corpus-bucketing step behind cluster-
    * balanced selection. The oracle unrolls both rounds in SQL; every
    * centroid component and every assignment must match bit-for-bit. */
  private def q58(s: SparkSession, d: String): DataFrame =
    KMeans.assignClusters(embeddingsAsIdVec(s, d), centroidStride = 40, iters = 2)
      .orderBy("id")

  private val q58Sql =
    """WITH v AS (
      |  SELECT vec_id AS id,
      |    [floor(embedding[i]::DOUBLE * 1000000 + 0.5)::BIGINT
      |     for i in range(1, len(embedding)+1)] AS qv
      |  FROM embeddings),
      |c0 AS (SELECT id AS cell, qv AS cv FROM v WHERE id % 40 = 0),
      |a1 AS (
      |  SELECT id, qv, cell FROM (
      |    SELECT v.id, v.qv, c.cell,
      |      row_number() OVER (PARTITION BY v.id ORDER BY
      |        list_sum([(v.qv[i]-c.cv[i])*(v.qv[i]-c.cv[i])
      |                  for i in range(1, len(v.qv)+1)]), c.cell) AS rn
      |    FROM v, c0 c) WHERE rn = 1),
      |s1 AS (
      |  SELECT cell, i, sum(qv[i])::BIGINT AS s, count(*)::BIGINT AS n
      |  FROM a1, LATERAL unnest(range(1, len(qv)+1)) t(i) GROUP BY cell, i),
      |c1 AS (
      |  SELECT cell, list((s - ((s % n) + n) % n) // n ORDER BY i) AS cv
      |  FROM s1 GROUP BY cell
      |  UNION ALL
      |  SELECT cell, cv FROM c0 WHERE cell NOT IN (SELECT cell FROM s1)),
      |a2 AS (
      |  SELECT id, qv, cell FROM (
      |    SELECT v.id, v.qv, c.cell,
      |      row_number() OVER (PARTITION BY v.id ORDER BY
      |        list_sum([(v.qv[i]-c.cv[i])*(v.qv[i]-c.cv[i])
      |                  for i in range(1, len(v.qv)+1)]), c.cell) AS rn
      |    FROM v, c1 c) WHERE rn = 1),
      |s2 AS (
      |  SELECT cell, i, sum(qv[i])::BIGINT AS s, count(*)::BIGINT AS n
      |  FROM a2, LATERAL unnest(range(1, len(qv)+1)) t(i) GROUP BY cell, i),
      |c2 AS (
      |  SELECT cell, list((s - ((s % n) + n) % n) // n ORDER BY i) AS cv
      |  FROM s2 GROUP BY cell
      |  UNION ALL
      |  SELECT cell, cv FROM c1 WHERE cell NOT IN (SELECT cell FROM s2)),
      |af AS (
      |  SELECT id, cell FROM (
      |    SELECT v.id, c.cell,
      |      row_number() OVER (PARTITION BY v.id ORDER BY
      |        list_sum([(v.qv[i]-c.cv[i])*(v.qv[i]-c.cv[i])
      |                  for i in range(1, len(v.qv)+1)]), c.cell) AS rn
      |    FROM v, c2 c) WHERE rn = 1),
      |sz AS (SELECT cell, count(*)::BIGINT AS n FROM af GROUP BY cell)
      |SELECT af.id, af.cell AS cluster, sz.n AS cluster_size
      |FROM af JOIN sz USING (cell) ORDER BY af.id""".stripMargin

  // ---------------------------------------------------------------- q59 incremental dedup

  /** Incremental near-dup dedup ([[Dedup.incrementalNearDup]]): a new-crawl
    * batch (doc_id ≡ 0 mod 10) probed against the standing corpus's MinHash
    * band index — candidates are strictly cross-side (the per-drop pipeline
    * shape: the index is stored, the batch is small, batch-internal dedup is
    * a separate pass). Oracle: the q22 signature machinery with the candidate
    * join restricted to batch × corpus. */
  private def q59(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val isBatch = col("doc_id") % 10 === 0
    Dedup.incrementalNearDup(docs.filter(!isBatch), docs.filter(isBatch),
        "doc_id", "text")
      .orderBy("batch_id", "corpus_id")
  }

  private val q59Sql =
    """WITH words AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
      |sh AS (
      |  SELECT doc_id,
      |    list_distinct(CASE WHEN len(w) >= 3
      |      THEN [w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w)-1)]
      |      ELSE [] END) AS shingles
      |  FROM words),
      |wh AS (
      |  SELECT doc_id,
      |    [('0x' || substr(md5(x), 1, 15))::BIGINT % 2147483647 for x in w] AS whs
      |  FROM words),
      |xs AS (
      |  SELECT doc_id,
      |    CASE WHEN len(whs) >= 3
      |      THEN [((whs[i]*31 + whs[i+1])*31 + whs[i+2]) % 2147483647 for i in range(1, len(whs)-1)]
      |      ELSE [] END AS xsv
      |  FROM wh),
      |sig AS (
      |  SELECT x.doc_id, s.shingles,
      |    [list_min([((h*1000003 + 12345) * v + (h*999983 + 7)) % 2147483647
      |               for v in xsv]) for h in range(0, 12)] AS mh
      |  FROM xs x JOIN sh s ON s.doc_id = x.doc_id WHERE len(xsv) > 0),
      |bands AS (
      |  SELECT doc_id, b, mh[3*b+1] || '|' || mh[3*b+2] || '|' || mh[3*b+3] AS bkey
      |  FROM sig, LATERAL unnest(range(0, 4)) t(b)),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS batch_id, b.doc_id AS corpus_id
      |  FROM bands a JOIN bands b ON a.b = b.b AND a.bkey = b.bkey
      |  WHERE a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0),
      |ver AS (
      |  SELECT c.batch_id, c.corpus_id,
      |    len(list_intersect(sa.shingles, sb.shingles))::DOUBLE
      |      / len(list_distinct(sa.shingles || sb.shingles)) AS jac
      |  FROM cand c JOIN sig sa ON sa.doc_id = c.batch_id
      |  JOIN sig sb ON sb.doc_id = c.corpus_id)
      |SELECT batch_id, corpus_id, jac FROM ver WHERE jac >= 0.5
      |ORDER BY batch_id, corpus_id""".stripMargin

  // ---------------------------------------------------------------- q60 pii scrub

  /** PII scrub ([[TextAnalysis.piiScrub]]): q42's deterministic-dirt pattern
    * widened to phones / IPv4s / card-shaped digit runs — each doc gets the
    * same doc_id-derived PII appended, then both engines must mask it to the
    * identical clean string, with per-kind redaction counts. */
  private def q60(s: SparkSession, d: String): DataFrame = {
    val dirty = concat(col("text"),
      lit(" call +1555"), lpad((col("doc_id") % 10000000).cast("string"), 7, "0"),
      lit(" ip 10."), (col("doc_id") % 256).cast("string"),
      lit(".0."), ((col("doc_id") * 7) % 256).cast("string"),
      lit(" card 4111111111"), lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
      lit(" visit https://ex.com/p/"), col("doc_id"), lit("  end"))
    def nTok(tok: String) =
      (size(split(col("clean"), tok, -1)) - 1).cast("long")
    Tables.documents(s, d).orderBy("doc_id") // sort-first, see q25
      .select(col("doc_id"), TextAnalysis.piiScrub(dirty).as("clean"))
      .select(col("doc_id"), col("clean"),
        length(col("clean")).cast("long").as("clean_chars"),
        nTok("<phone>").as("n_phone"), nTok("<ip>").as("n_ip"),
        nTok("<digits>").as("n_digits"))
  }

  private val q60Sql =
    """WITH dirty AS (
      |  SELECT doc_id,
      |    text || ' call +1555' || lpad((doc_id % 10000000)::VARCHAR, 7, '0') ||
      |    ' ip 10.' || (doc_id % 256) || '.0.' || ((doc_id * 7) % 256) ||
      |    ' card 4111111111' || lpad((doc_id % 10000)::VARCHAR, 4, '0') ||
      |    ' visit https://ex.com/p/' || doc_id || '  end' AS t
      |  FROM documents),
      |clean AS (
      |  SELECT doc_id,
      |    trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      |         regexp_replace(regexp_replace(t,
      |      'https?://\S+', '<url>', 'g'),
      |      '\S+@\S+\.\S+', '<email>', 'g'),
      |      '\+\d{7,15}', '<phone>', 'g'),
      |      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<ip>', 'g'),
      |      '\b\d{13,19}\b', '<digits>', 'g'),
      |      '\s+', ' ', 'g')) AS clean
      |  FROM dirty)
      |SELECT doc_id, clean, length(clean)::BIGINT AS clean_chars,
      |  (len(string_split(clean, '<phone>')) - 1)::BIGINT AS n_phone,
      |  (len(string_split(clean, '<ip>')) - 1)::BIGINT AS n_ip,
      |  (len(string_split(clean, '<digits>')) - 1)::BIGINT AS n_digits
      |FROM clean ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q61 dsir selection

  /** DSIR-style importance selection ([[LanguageModel.crossNll]], Xie et al.
    * 2023): every document scored under TWO bigram models — one trained on
    * the target distribution (the `en` slice standing in for a curated
    * reference corpus) and one on the raw corpus — and the top 200 by
    * importance weight (raw NLL − target NLL, in micro-nats) selected.
    * Unseen-bigram backoff makes the cross-corpus scoring well-defined; the
    * top-k plans as TakeOrderedAndProject (distributed top-k, no global
    * sort). */
  private def q61(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val target = LanguageModel.crossNll(docs, docs.filter(col("lang") === "en"),
        "doc_id", "text")
      .select(col("doc_id"), col("avg_nll_micro").as("nll_target_micro"))
    val raw = LanguageModel.crossNll(docs, docs, "doc_id", "text")
      .select(col("doc_id"), col("avg_nll_micro").as("nll_raw_micro"))
    raw.join(target, "doc_id")
      .select(col("doc_id"), col("nll_target_micro"), col("nll_raw_micro"),
        (col("nll_raw_micro") - col("nll_target_micro")).as("weight_micro"))
      .orderBy(col("weight_micro").desc, col("doc_id"))
      .limit(200)
  }

  private val q61Sql =
    """WITH ws AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
      |  WHERE len(string_split(lower(text), ' ')) >= 2),
      |bg AS (
      |  SELECT doc_id, unnest(w[1:len(w) - 1]) AS w1, unnest(w[2:len(w)]) AS w2
      |  FROM ws),
      |pairs AS (
      |  SELECT doc_id, w1, w2, count(*)::BIGINT AS m FROM bg GROUP BY 1, 2, 3),
      |rmodel AS (SELECT w1, w2, sum(m)::BIGINT AS c12 FROM pairs GROUP BY 1, 2),
      |rheads AS (SELECT w1, sum(c12)::BIGINT AS c1 FROM rmodel GROUP BY 1),
      |rvocab AS (SELECT count(*)::BIGINT AS v FROM rheads),
      |tdocs AS (SELECT doc_id FROM documents WHERE lang = 'en'),
      |tmodel AS (
      |  SELECT p.w1, p.w2, sum(p.m)::BIGINT AS c12
      |  FROM pairs p JOIN tdocs USING (doc_id) GROUP BY 1, 2),
      |theads AS (SELECT w1, sum(c12)::BIGINT AS c1 FROM tmodel GROUP BY 1),
      |tvocab AS (SELECT count(*)::BIGINT AS v FROM theads),
      |rterms AS (
      |  SELECT p.doc_id, p.m,
      |    floor(-ln((coalesce(mo.c12, 0) + 0.5) / (coalesce(h.c1, 0) + 0.5 * rvocab.v))
      |      * 1000000 + 0.5)::BIGINT AS term
      |  FROM pairs p
      |  LEFT JOIN rmodel mo USING (w1, w2)
      |  LEFT JOIN rheads h USING (w1)
      |  CROSS JOIN rvocab),
      |rnll AS (
      |  SELECT doc_id, (sum(m * term) // sum(m))::BIGINT AS nll_raw_micro
      |  FROM rterms GROUP BY doc_id),
      |tterms AS (
      |  SELECT p.doc_id, p.m,
      |    floor(-ln((coalesce(mo.c12, 0) + 0.5) / (coalesce(h.c1, 0) + 0.5 * tvocab.v))
      |      * 1000000 + 0.5)::BIGINT AS term
      |  FROM pairs p
      |  LEFT JOIN tmodel mo USING (w1, w2)
      |  LEFT JOIN theads h USING (w1)
      |  CROSS JOIN tvocab),
      |tnll AS (
      |  SELECT doc_id, (sum(m * term) // sum(m))::BIGINT AS nll_target_micro
      |  FROM tterms GROUP BY doc_id)
      |SELECT r.doc_id, t.nll_target_micro, r.nll_raw_micro,
      |  (r.nll_raw_micro - t.nll_target_micro) AS weight_micro
      |FROM rnll r JOIN tnll t USING (doc_id)
      |ORDER BY weight_micro DESC, r.doc_id LIMIT 200""".stripMargin

  // ---------------------------------------------------------------- q62 cluster-balanced sample

  /** Cluster-balanced subsample (capstone: q58's k-means × q41's portable
    * sampling): keep ⌈20%⌉ of every k-means cluster, members chosen by
    * seeded md5 order — the diversity-preserving downsample a curation
    * pipeline runs instead of uniform sampling (uniform keeps the corpus's
    * topic skew; per-cluster quotas keep the tails). One window keyed on the
    * cluster id is the only shuffle beyond q58's own machinery. */
  private def q62(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val clusters = KMeans.assignClusters(embeddingsAsIdVec(s, d),
      centroidStride = 40, iters = 2)
    val w = Window.partitionBy("cluster").orderBy(col("__h"), col("id"))
    clusters
      .withColumn("__h", Dedup.shingleHash(concat_ws(":", lit("q62"), col("id"))))
      .withColumn("rk", row_number().over(w).cast("long"))
      // rk ≤ ⌈size/5⌉ ⟺ 5·rk ≤ size + 4 (exact integers, no division)
      .filter(col("rk") * 5 <= col("cluster_size") + 4)
      .select(col("id"), col("cluster"), col("cluster_size"), col("rk"))
      .orderBy("id")
  }

  private val q62Sql =
    """WITH v AS (
      |  SELECT vec_id AS id,
      |    [floor(embedding[i]::DOUBLE * 1000000 + 0.5)::BIGINT
      |     for i in range(1, len(embedding)+1)] AS qv
      |  FROM embeddings),
      |c0 AS (SELECT id AS cell, qv AS cv FROM v WHERE id % 40 = 0),
      |a1 AS (
      |  SELECT id, qv, cell FROM (
      |    SELECT v.id, v.qv, c.cell,
      |      row_number() OVER (PARTITION BY v.id ORDER BY
      |        list_sum([(v.qv[i]-c.cv[i])*(v.qv[i]-c.cv[i])
      |                  for i in range(1, len(v.qv)+1)]), c.cell) AS rn
      |    FROM v, c0 c) WHERE rn = 1),
      |s1 AS (
      |  SELECT cell, i, sum(qv[i])::BIGINT AS s, count(*)::BIGINT AS n
      |  FROM a1, LATERAL unnest(range(1, len(qv)+1)) t(i) GROUP BY cell, i),
      |c1 AS (
      |  SELECT cell, list((s - ((s % n) + n) % n) // n ORDER BY i) AS cv
      |  FROM s1 GROUP BY cell
      |  UNION ALL
      |  SELECT cell, cv FROM c0 WHERE cell NOT IN (SELECT cell FROM s1)),
      |a2 AS (
      |  SELECT id, qv, cell FROM (
      |    SELECT v.id, v.qv, c.cell,
      |      row_number() OVER (PARTITION BY v.id ORDER BY
      |        list_sum([(v.qv[i]-c.cv[i])*(v.qv[i]-c.cv[i])
      |                  for i in range(1, len(v.qv)+1)]), c.cell) AS rn
      |    FROM v, c1 c) WHERE rn = 1),
      |s2 AS (
      |  SELECT cell, i, sum(qv[i])::BIGINT AS s, count(*)::BIGINT AS n
      |  FROM a2, LATERAL unnest(range(1, len(qv)+1)) t(i) GROUP BY cell, i),
      |c2 AS (
      |  SELECT cell, list((s - ((s % n) + n) % n) // n ORDER BY i) AS cv
      |  FROM s2 GROUP BY cell
      |  UNION ALL
      |  SELECT cell, cv FROM c1 WHERE cell NOT IN (SELECT cell FROM s2)),
      |af AS (
      |  SELECT id, cell FROM (
      |    SELECT v.id, c.cell,
      |      row_number() OVER (PARTITION BY v.id ORDER BY
      |        list_sum([(v.qv[i]-c.cv[i])*(v.qv[i]-c.cv[i])
      |                  for i in range(1, len(v.qv)+1)]), c.cell) AS rn
      |    FROM v, c2 c) WHERE rn = 1),
      |sz AS (SELECT cell, count(*)::BIGINT AS n FROM af GROUP BY cell),
      |hx AS (
      |  SELECT af.id, af.cell, sz.n,
      |    ('0x' || substr(md5('q62:' || af.id), 1, 15))::BIGINT AS h
      |  FROM af JOIN sz USING (cell)),
      |rk AS (
      |  SELECT id, cell, n,
      |    row_number() OVER (PARTITION BY cell ORDER BY h, id)::BIGINT AS rk
      |  FROM hx)
      |SELECT id, cell AS cluster, n AS cluster_size, rk
      |FROM rk WHERE rk * 5 <= n + 4 ORDER BY id""".stripMargin

  // ---------------------------------------------------------------- q63 quantile cut

  /** Exact global score-quantile threshold ([[Selection.quantileCut]]): keep
    * the best 30% of the corpus by q55's LM score, with the k-th-smallest
    * threshold found by bucket decomposition + a one-bucket distributed
    * top-k — never a corpus-wide sort. Oracle computes the same k-th
    * smallest via a row_number window (affordable at oracle scale). */
  private def q63(s: SparkSession, d: String): DataFrame = {
    val nll = LanguageModel.bigramNll(Tables.documents(s, d), "doc_id", "text")
      .select(col("doc_id"), col("avg_nll_micro"))
    Selection.quantileCut(nll, "doc_id", "avg_nll_micro", pct = 30)
      .select(col("id").as("doc_id"), col("score"), col("thr"))
      .orderBy("doc_id")
  }

  private val q63Sql =
    """WITH ws AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
      |  WHERE len(string_split(lower(text), ' ')) >= 2),
      |bg AS (
      |  SELECT doc_id, unnest(w[1:len(w) - 1]) AS w1, unnest(w[2:len(w)]) AS w2
      |  FROM ws),
      |pairs AS (
      |  SELECT doc_id, w1, w2, count(*)::BIGINT AS m FROM bg GROUP BY 1, 2, 3),
      |model AS (
      |  SELECT w1, w2, sum(m)::BIGINT AS c12 FROM pairs GROUP BY 1, 2),
      |heads AS (SELECT w1, sum(c12)::BIGINT AS c1 FROM model GROUP BY 1),
      |vocab AS (SELECT count(*)::BIGINT AS v FROM heads),
      |terms AS (
      |  SELECT p.doc_id, p.m,
      |    floor(-ln((mo.c12 + 0.5) / (h.c1 + 0.5 * vocab.v)) * 1000000 + 0.5)::BIGINT AS term
      |  FROM pairs p
      |  JOIN model mo USING (w1, w2)
      |  JOIN heads h USING (w1)
      |  CROSS JOIN vocab),
      |nll AS (
      |  SELECT doc_id, (sum(m * term) // sum(m))::BIGINT AS score
      |  FROM terms GROUP BY doc_id),
      |nn AS (SELECT count(*)::BIGINT AS n FROM nll),
      |kk AS (SELECT (30 * n + 99) // 100 AS k FROM nn),
      |ranked AS (SELECT score, row_number() OVER (ORDER BY score) AS rn FROM nll),
      |thr AS (SELECT score AS thr FROM ranked JOIN kk ON rn = k)
      |SELECT n.doc_id, n.score, t.thr FROM nll n CROSS JOIN thr t
      |WHERE n.score <= t.thr ORDER BY n.doc_id""".stripMargin

  // ---------------------------------------------------------------- q67 media phash

  /** Perceptual-hash media dedup: a fixed-size THUMBNAIL crop (first 128
    * payload bytes — the length-normalization every real perceptual hash
    * performs before hashing) → q29b's resize tensor → 40-bit aHash/dHash
    * composite ([[Multimodal.perceptualHash]], integer-exact) → exact-bucket
    * duplicate-group sizes via a hash-keyed window. Near-identical media
    * (shared prefix) collapse to one bucket; the near-dup variant is a banded
    * Hamming join over the same hash (q30's machinery); the exact bucket is
    * the oracle-checkable core. */
  private def q67(s: SparkSession, d: String): DataFrame = {
    val media = Tables.documents(s, d)
      .select(col("doc_id").as("id"), col("text").substr(1, 128).cast("binary").as("content"))
    val tensors = Multimodal.transformBatched(media, () => new Multimodal.StubTransformer).toDF()
    val hashed = Multimodal.perceptualHash(tensors).select(col("id").as("doc_id"), col("phash"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("phash")
    hashed.withColumn("n_same", count(lit(1)).over(w)).orderBy("doc_id")
  }

  private val q67Sql =
    """WITH tn AS (
      |  SELECT doc_id, substr(text, 1, 128) AS t FROM documents),
      |px AS (
      |  SELECT doc_id,
      |    [ord(substr(t, (i*octet_length(t::BLOB))//16 + 1, 1)) for i in range(0, 16)] AS p,
      |    [list_sum([CASE WHEN ord(substr(t, k, 1))//32 = b THEN 1 ELSE 0 END
      |       for k in range(1, length(t)+1)])::BIGINT for b in range(0, 8)] AS h,
      |    octet_length(t::BLOB)::BIGINT AS nb
      |  FROM tn),
      |ph AS (
      |  SELECT doc_id,
      |    list_sum([CASE WHEN p[j+1] * 16 > list_sum(p) THEN (1::BIGINT << j) ELSE 0::BIGINT END for j in range(0, 16)])
      |  + list_sum([CASE WHEN p[j+1] > p[j+2] THEN (1::BIGINT << (j+16)) ELSE 0::BIGINT END for j in range(0, 15)])
      |  + list_sum([CASE WHEN h[b+1] * 8 > nb THEN (1::BIGINT << (b+31)) ELSE 0::BIGINT END for b in range(0, 8)])
      |  + ((nb % 2) << 39) AS phash
      |  FROM px)
      |SELECT doc_id, phash::BIGINT AS phash, COUNT(*) OVER (PARTITION BY phash) AS n_same
      |FROM ph ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q68 bpe encode

  /** The learned BPE artifact applied at corpus scale ([[graft.llm.Bpe
    * .encode]]): per-word greedy merge fold over a FIXED merge list (training
    * itself is driver-looped and BpeSpec-verified; encoding is the per-row
    * production path). The list exercises merge ORDER: (th,e) consumes the
    * (t,h) output. Text is pre-cleaned to [a-z ] so the oracle's delimited
    * string-replace rendition is collision-free at any scale. */
  private val bpeMerges = Seq(("t", "h"), ("th", "e"), ("e", "r"),
    ("i", "n"), ("a", "n"), ("o", "n"))

  private def q68(s: SparkSession, d: String): DataFrame = {
    import graft.llm.Bpe
    val docs = Tables.documents(s, d).orderBy("doc_id") // sort-first, see q25
      .select(col("doc_id"),
        regexp_replace(lower(col("text")), "[^a-z ]", "").as("clean"))
    // batched imperative encode (the corpus-scale path; ≡ Bpe.encode, BpeSpec)
    Bpe.encodeBatched(docs, "clean", bpeMerges, "toks")
      .select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"),
        concat_ws(" ", col("toks")).as("encoded"))
  }

  private val q68Sql =
    """WITH w AS (
      |  SELECT doc_id,
      |    [x for x in string_split(regexp_replace(lower(text), '[^a-z ]', '', 'g'), ' ')
      |     if length(x) > 0] AS words
      |  FROM documents),
      |r AS (
      |  SELECT doc_id,
      |    flatten([string_split(trim(
      |        replace(replace(replace(replace(replace(replace(
      |          '<' || array_to_string([substr(x, i, 1) for i in range(1, length(x)+1)], '><') || '>',
      |          '<t><h>', '<th>'),
      |          '<th><e>', '<the>'),
      |          '<e><r>', '<er>'),
      |          '<i><n>', '<in>'),
      |          '<a><n>', '<an>'),
      |          '<o><n>', '<on>'),
      |        '<>'), '><')
      |     for x in words]) AS toks
      |  FROM w)
      |SELECT doc_id, len(toks)::BIGINT AS n_tokens,
      |       array_to_string(toks, ' ') AS encoded
      |FROM r ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q69 domain cap

  /** Per-domain document cap ([[Selection.domainCap]] over
    * [[TextAnalysis.urlHost]]): the Common-Crawl anti-SEO policy — every doc
    * gets its deterministic doc_id-derived URL (q42's dirt pattern; the
    * quadratic-residue domain index gives a skewed, realistic domain size
    * distribution), the host is extracted, and no domain keeps more than 10
    * documents, chosen by seeded hash order. The `pos <= cap` filter rides
    * directly on the row_number window so Spark plans a per-key top-k
    * (WindowGroupLimit — megadomain skew bounded before the shuffle;
    * asserted in PlanAuditSpec). */
  private def q69(s: SparkSession, d: String): DataFrame = {
    val url = concat(lit("https://d"),
      ((col("doc_id") * col("doc_id")) % 23).cast("string"),
      lit(".example."),
      when(col("doc_id") % 3 === 0, lit("com"))
        .when(col("doc_id") % 3 === 1, lit("org")).otherwise(lit("net")),
      lit("/p/"), col("doc_id").cast("string"))
    val withDomain = Tables.documents(s, d)
      .select(col("doc_id"), TextAnalysis.urlHost(url).as("domain"))
    Selection.domainCap(withDomain, "domain", "doc_id", cap = 10, seed = "q69")
      .select("doc_id", "domain", "pos")
      .orderBy("doc_id")
  }

  private val q69Sql =
    """WITH u AS (
      |  SELECT doc_id,
      |    'https://d' || ((doc_id * doc_id) % 23) || '.example.' ||
      |    CASE doc_id % 3 WHEN 0 THEN 'com' WHEN 1 THEN 'org' ELSE 'net' END ||
      |    '/p/' || doc_id AS url
      |  FROM documents),
      |dm AS (
      |  SELECT doc_id,
      |    regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1) AS domain
      |  FROM u),
      |h AS (
      |  SELECT doc_id, domain,
      |    ('0x' || substr(md5('q69:' || doc_id), 1, 15))::BIGINT AS hh
      |  FROM dm),
      |r AS (
      |  SELECT doc_id, domain,
      |    row_number() OVER (PARTITION BY domain ORDER BY hh, doc_id)::BIGINT AS pos
      |  FROM h)
      |SELECT doc_id, domain, pos FROM r WHERE pos <= 10 ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q70 bloom decontam

  /** Bloom-filter decontamination ([[graft.functions.Bloom]]): q45's
    * benchmark-overlap question answered through an m-bit membership sketch
    * instead of the exact broadcast set — the form that still works when the
    * build side is terabytes (Dolma-style seen-hash dedup). The filter is
    * built over the benchmark split's 8-gram hashes (one pass, per-partition
    * bitset partials, OR-merge), then every corpus document counts its
    * grams that probe positive — row-local, no join, no shuffle of the
    * corpus side; false positives are deterministic (integer double hashing
    * over the md5-derived gram hashes — [[graft.functions.Bloom
    * .buildFromHashes]]'s pre-hashed fast path) so the oracle reproduces
    * them bit-for-bit. Unlike q45 the report covers
    * EVERY corpus document (n_hits = 0 rows included): the sketch makes
    * "probe everything" free, where the exact join only materializes hits. */
  private def q70(s: SparkSession, d: String): DataFrame = {
    import graft.functions.Bloom
    val m = 1 << 20; val k = 3; val n = 8
    val docs = Tables.documents(s, d)
    val isBench = substring(md5(col("doc_id").cast("string")), 1, 1).isin("0", "1")
    val grams = Decontam.ngramHashesDirect(split(lower(col("text")), " "), n)
    val bits = Bloom.buildFromHashes(
      docs.filter(isBench).select(explode(grams).as("ng")), col("ng"), m, k)
    docs.filter(!isBench)
      .select(col("doc_id"), array_distinct(grams).as("ngs"))
      .select(col("doc_id"), size(col("ngs")).cast("long").as("n_ngrams"),
        size(filter(col("ngs"), g => Bloom.mightContainHash(bits, g, m, k)))
          .cast("long").as("n_hits"))
      .withColumn("hit_permille", when(col("n_ngrams") > 0,
        expr("n_hits * 1000 div n_ngrams")).otherwise(lit(0L)))
      .orderBy("doc_id")
  }

  private val q70Sql =
    """WITH marked AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS ws,
      |    substr(md5(doc_id::VARCHAR), 1, 1) IN ('0','1') AS is_bench
      |  FROM documents),
      |wh AS (
      |  SELECT doc_id, is_bench,
      |    [('0x' || substr(md5(x), 1, 15))::BIGINT % 2147483647 for x in ws] AS whs
      |  FROM marked),
      |g AS (
      |  SELECT doc_id, is_bench,
      |    CASE WHEN len(whs) >= 8 THEN [
      |      ((((((((((((((whs[i]
      |        * 31 + whs[i+1]) % 288230376151711717)
      |        * 31 + whs[i+2]) % 288230376151711717)
      |        * 31 + whs[i+3]) % 288230376151711717)
      |        * 31 + whs[i+4]) % 288230376151711717)
      |        * 31 + whs[i+5]) % 288230376151711717)
      |        * 31 + whs[i+6]) % 288230376151711717)
      |        * 31 + whs[i+7]) % 288230376151711717) for i in range(1, len(whs)-6)]
      |    ELSE [] END AS ngs
      |  FROM wh),
      |bpos AS (
      |  SELECT DISTINCT (ng % 1048576 + r.r * (((ng >> 29) % 1048576) | 1)) % 1048576 AS p
      |  FROM (SELECT DISTINCT unnest(ngs) AS ng FROM g WHERE is_bench),
      |       (SELECT unnest(range(0, 3)) AS r) r),
      |corpus AS (
      |  SELECT doc_id, list_distinct(ngs) AS ngs FROM g WHERE NOT is_bench),
      |cg AS (
      |  SELECT doc_id, unnest(ngs) AS ng FROM corpus),
      |cpos AS (
      |  SELECT doc_id, ng, r.r AS r,
      |    (ng % 1048576 + r.r * (((ng >> 29) % 1048576) | 1)) % 1048576 AS p
      |  FROM cg, (SELECT unnest(range(0, 3)) AS r) r),
      |hit AS (
      |  SELECT doc_id, ng, bool_and(b.p IS NOT NULL) AS is_hit
      |  FROM cpos c LEFT JOIN bpos b USING (p)
      |  GROUP BY doc_id, ng),
      |agg AS (
      |  SELECT doc_id, sum(CASE WHEN is_hit THEN 1 ELSE 0 END)::BIGINT AS n_hits
      |  FROM hit GROUP BY doc_id)
      |SELECT c.doc_id, len(c.ngs)::BIGINT AS n_ngrams,
      |  coalesce(a.n_hits, 0)::BIGINT AS n_hits,
      |  CASE WHEN len(c.ngs) > 0
      |       THEN (coalesce(a.n_hits, 0) * 1000) // len(c.ngs)
      |       ELSE 0 END::BIGINT AS hit_permille
      |FROM corpus c LEFT JOIN agg a USING (doc_id)
      |ORDER BY c.doc_id""".stripMargin

  // ---------------------------------------------------------------- q71 cms freq

  /** Count–Min token frequencies ([[Sketch.cmsBuild]]/[[Sketch.cmsEstimate]]):
    * the corpus's word occurrences compressed into a 3×256 counter sketch,
    * then every vocabulary word's frequency estimated from it and compared
    * against the exact count. `overcount = est − exact ≥ 0` is the sketch's
    * one-sided guarantee, and every collision is md5-deterministic, so the
    * oracle reproduces each estimate exactly. The probe set is the VOCAB
    * (bounded by the language, not the corpus — the q46 bounded-probe rule);
    * the sketch frame is ≤ d·w rows, so the probe join broadcasts. */
  private def q71(s: SparkSession, d: String): DataFrame = {
    val cd = 3; val cw = 256
    val words = Tables.documents(s, d)
      .select(explode(split(lower(col("text")), " ")).as("word"))
      .filter(length(col("word")) > 0)
    val sketch = Sketch.cmsBuild(words, col("word"), cd, cw)
    val exact = words.groupBy("word").agg(count(lit(1)).as("exact"))
    Sketch.cmsEstimate(sketch, exact.select("word"), "word", cd, cw)
      .join(exact, "word")
      .select(col("word"), col("est"), col("exact"),
        (col("est") - col("exact")).as("overcount"))
      .orderBy("word")
  }

  private val q71Sql =
    """WITH ws AS (
      |  SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents),
      |wnz AS (SELECT word FROM ws WHERE length(word) > 0),
      |exact AS (SELECT word, count(*)::BIGINT AS exact FROM wnz GROUP BY word),
      |hsh AS (
      |  SELECT DISTINCT word,
      |    ('0x' || substr(md5(word), 1, 15))::BIGINT AS h1,
      |    (('0x' || substr(md5(word), 17, 15))::BIGINT | 1) AS h2
      |  FROM wnz),
      |occ AS (SELECT w.word, h.h1, h.h2 FROM wnz w JOIN hsh h USING (word)),
      |cnt AS (
      |  SELECT r.r AS r, (h1 % 256 + r.r * (h2 % 256)) % 256 AS p,
      |    count(*)::BIGINT AS cnt
      |  FROM occ, (SELECT unnest(range(0, 3)) AS r) r GROUP BY 1, 2),
      |probe AS (
      |  SELECT e.word, e.exact, r.r AS r,
      |    (h.h1 % 256 + r.r * (h.h2 % 256)) % 256 AS p
      |  FROM exact e JOIN hsh h USING (word),
      |       (SELECT unnest(range(0, 3)) AS r) r),
      |est AS (
      |  SELECT word, exact, min(coalesce(c.cnt, 0))::BIGINT AS est
      |  FROM probe pr LEFT JOIN cnt c ON pr.r = c.r AND pr.p = c.p
      |  GROUP BY word, exact)
      |SELECT word, est, exact, (est - exact)::BIGINT AS overcount
      |FROM est ORDER BY word""".stripMargin

  // ---------------------------------------------------------------- q72 quality classifier

  /** Hashed-linear quality-classifier inference
    * ([[TextAnalysis.hashedLinearScore]]): every document scored under a
    * 4096-bucket linear model, keep = positive score — the classifier-based
    * quality filter (CCNet/GPT-3 shape) next to the rule-based (q26) and
    * LM-based (q55) ones. The catalog model's micro-weights are md5-seeded
    * (a stand-in for trained weights — inference is what's under test, and
    * the seeded form lets DuckDB derive the identical model); scoring is
    * row-local, so the oracle's bucket-join formulation must agree on every
    * word's bucket, collision included. */
  private def q72(s: SparkSession, d: String): DataFrame = {
    val weights = seededMicroWeights("w", 4096)
    Tables.documents(s, d).orderBy("doc_id") // sort-first, see q25
      .select(col("doc_id"),
        TextAnalysis.hashedLinearScore(col("text"), weights).as("score_micro"),
        size(TextAnalysis.words(col("text"))).cast("long").as("n_words"))
      .withColumn("keep", col("score_micro") > 0)
  }

  /** Deterministic stand-in model: w[b] = md5_60("w:" || b) % P % 2001 − 1000
    * (micro-weights in [−1000, 1000]), the exact formula q72Sql's weights CTE
    * mirrors. */
  def seededMicroWeights(seed: String, dim: Int): Array[Long] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until dim).map { b =>
      md.reset()
      val hex = md.digest(s"$seed:$b".getBytes("UTF-8"))
        .map(x => f"${x & 0xff}%02x").mkString
      (java.lang.Long.parseLong(hex.substring(0, 15), 16) % 2147483647L % 2001L) - 1000L
    }.toArray
  }

  private val q72Sql =
    """WITH wt AS (
      |  SELECT b,
      |    (('0x' || substr(md5('w:' || b), 1, 15))::BIGINT % 2147483647 % 2001) - 1000 AS w
      |  FROM (SELECT unnest(range(0, 4096)) AS b)),
      |ws AS (
      |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word FROM documents),
      |bx AS (
      |  SELECT doc_id,
      |    ('0x' || substr(md5(word), 1, 15))::BIGINT % 2147483647 % 4096 AS b
      |  FROM ws),
      |sc AS (
      |  SELECT doc_id, sum(w.w)::BIGINT AS score_micro, count(*)::BIGINT AS n_words
      |  FROM bx JOIN wt w USING (b) GROUP BY doc_id)
      |SELECT doc_id, score_micro, n_words, score_micro > 0 AS keep
      |FROM sc ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q73 fuzzy join

  /** Typo-tolerant vocabulary match ([[Fuzzy.fuzzyJoin]], SymSpell deletion
    * neighborhood): every vocab word ≥ 4 chars spawns a deterministic
    * misspelling (middle character dropped), and each misspelling finds all
    * vocabulary words within Levenshtein distance 1 — through the keyed
    * variant join, never a cross join. The oracle brute-forces the same
    * distance predicate (affordable at oracle scale), so agreement proves
    * the neighborhood candidates are lossless. */
  private def q73(s: SparkSession, d: String): DataFrame = {
    val vocab = Tables.documents(s, d)
      .select(explode(split(lower(col("text")), " ")).as("word"))
      .filter(length(col("word")) >= 3).distinct()
    val half = expr("length(word) div 2").cast("int")
    val probes = vocab.filter(length(col("word")) >= 4)
      .select(concat(col("word").substr(lit(1), half),
        col("word").substr(half + 2, length(col("word")))).as("probe"))
      .distinct()
    Fuzzy.fuzzyJoin(probes, "probe", vocab, "word", maxDist = 1)
      .select(col("left").as("probe"), col("right").as("word"),
        col("dist").cast("long").as("dist"))
      .orderBy("probe", "word")
  }

  private val q73Sql =
    """WITH w AS (
      |  SELECT DISTINCT unnest(string_split(lower(text), ' ')) AS word FROM documents),
      |v AS (SELECT word FROM w WHERE length(word) >= 3),
      |p AS (
      |  SELECT DISTINCT
      |    substr(word, 1, length(word) // 2) || substr(word, length(word) // 2 + 2) AS probe
      |  FROM v WHERE length(word) >= 4),
      |m AS (
      |  SELECT p.probe, v.word, levenshtein(p.probe, v.word) AS dist
      |  FROM p CROSS JOIN v)
      |SELECT probe, word, dist::BIGINT AS dist FROM m
      |WHERE dist <= 1 ORDER BY probe, word""".stripMargin

  // ---------------------------------------------------------------- q74 pagerank

  /** Link-graph PageRank ([[Graph.pageRank]]): each document links to up to
    * three deterministic doc_id-derived targets (the testdata carries no
    * link column — same derived-field pattern as q42/q60/q69; the QUADRATIC
    * target map and the `(src+k) % 4` edge drop make the graph irregular:
    * varying in-degrees, out-degrees 0–3 including genuinely dangling
    * nodes, so the ranks actually spread — a linear map would be three
    * permutations and PageRank would collapse to uniform). 3 damped
    * iterations in exact integer micro-units; the oracle unrolls the same
    * three iterations in CTEs; integer `div`/`//` agree on the
    * non-negative values, so ranks match bit-for-bit. */
  /** The deterministic doc_id-derived link graph shared by q74/q76 (see the
    * q74 scaladoc for why the quadratic target map). Edge MULTIPLICITY is
    * preserved (PageRank weights by it; reachability ops dedupe internally). */
  private def linkEdges(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"))
    val n = docs.agg(max("doc_id")).head().getLong(0) + 1
    docs
      .select(col("doc_id").as("src"),
        explode(array(lit(7L), lit(13L), lit(31L))).as("k"))
      .filter((col("src") + col("k")) % 4 =!= 0)
      .select(col("src"),
        ((col("src") * col("src") + col("k") * col("src") + col("k")) % n).as("dst"))
      .filter(col("src") =!= col("dst"))
  }

  private def q74(s: SparkSession, d: String): DataFrame =
    Graph.pageRank(linkEdges(s, d), iterations = 3)
      .select(col("id").as("doc_id"), col("rank_micro"))
      .orderBy("doc_id")

  // ---------------------------------------------------------------- q76 harmonic centrality

  /** Exact depth-3 harmonic centrality over the same derived link graph
    * ([[Graph.harmonicCentrality]]): each node's score is Σ 60/dist over
    * every node that reaches it within 3 hops (integer 1/60 units — exact,
    * engine-portable). The oracle unrolls the same three BFS levels with
    * DISTINCT/EXCEPT set algebra, so agreement proves the frontier labeling
    * assigns every pair its true shortest distance. */
  private def q76(s: SparkSession, d: String): DataFrame =
    Graph.harmonicCentrality(linkEdges(s, d), maxDepth = 3)
      .select(col("id").as("doc_id"), col("harmonic_x60"))
      .orderBy("doc_id")

  private val q76Sql =
    """WITH nn AS (SELECT max(doc_id) + 1 AS n FROM documents),
      |e0 AS (
      |  SELECT src, (src * src + k * src + k) % nn.n AS dst
      |  FROM (SELECT doc_id AS src, unnest([7, 13, 31]) AS k FROM documents)
      |  CROSS JOIN nn
      |  WHERE (src + k) % 4 <> 0 AND (src * src + k * src + k) % nn.n <> src),
      |e AS (SELECT DISTINCT src, dst FROM e0),
      |nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
      |d1 AS (SELECT DISTINCT src AS u, dst AS v FROM e),
      |x2 AS (SELECT DISTINCT d1.u, e.dst AS v FROM d1 JOIN e ON d1.v = e.src WHERE d1.u <> e.dst),
      |d2 AS (SELECT u, v FROM x2 EXCEPT SELECT u, v FROM d1),
      |x3 AS (SELECT DISTINCT d2.u, e.dst AS v FROM d2 JOIN e ON d2.v = e.src WHERE d2.u <> e.dst),
      |d3 AS (SELECT u, v FROM x3 EXCEPT SELECT u, v FROM d1 EXCEPT SELECT u, v FROM d2),
      |w AS (
      |  SELECT v, 60 AS w FROM d1
      |  UNION ALL SELECT v, 30 FROM d2
      |  UNION ALL SELECT v, 20 FROM d3)
      |SELECT n.id AS doc_id, coalesce(sum(w), 0)::BIGINT AS harmonic_x60
      |FROM nodes n LEFT JOIN w ON w.v = n.id
      |GROUP BY n.id ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q79 hyperball registers

  /** HyperBall's EXACT-INTEGER register state, oracle-gated
    * ([[Graph.hyperBallRegisters]]): the depth-3 in-ball HLL registers per
    * node over the shared link graph, reduced to the per-node register SUM
    * and zero-register count — both pure integer functions of the reachable
    * set (md5-derived index/rank, commutative max-merge), so DuckDB
    * reproduces them bit-for-bit from the same reachability closure. This
    * gives the dense-regime scale path the same oracle gate as the exact
    * q76 form; the float estimate stays spec-verified (error bound vs
    * exact), as estimator floats are not portable. p=6 ⇒ 64 registers,
    * rank bits 54: rank(u) = 55 − bitlength(h(u) div 64), index = h % 64. */
  private def q79(s: SparkSession, d: String): DataFrame =
    Graph.hyperBallRegisters(linkEdges(s, d), maxDepth = 3, p = 6)
      .select(col("id").as("doc_id"), col("reg_sum"), col("zero_regs"))
      .orderBy("doc_id")

  private val q79Sql =
    """WITH nn AS (SELECT max(doc_id) + 1 AS n FROM documents),
      |e0 AS (
      |  SELECT src, (src * src + k * src + k) % nn.n AS dst
      |  FROM (SELECT doc_id AS src, unnest([7, 13, 31]) AS k FROM documents)
      |  CROSS JOIN nn
      |  WHERE (src + k) % 4 <> 0 AND (src * src + k * src + k) % nn.n <> src),
      |e AS (SELECT DISTINCT src, dst FROM e0),
      |nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
      |r1 AS (SELECT DISTINCT src AS u, dst AS v FROM e),
      |r2 AS (SELECT DISTINCT r1.u, e.dst AS v FROM r1 JOIN e ON r1.v = e.src),
      |r3 AS (SELECT DISTINCT r2.u, e.dst AS v FROM r2 JOIN e ON r2.v = e.src),
      |reach AS (
      |  SELECT id AS u, id AS v FROM nodes
      |  UNION SELECT u, v FROM r1
      |  UNION SELECT u, v FROM r2
      |  UNION SELECT u, v FROM r3),
      |h AS (
      |  SELECT id, ('0x' || substr(md5(id::VARCHAR), 1, 15))::BIGINT AS h
      |  FROM nodes),
      |pernode AS (
      |  SELECT r.v AS id, h.h % 64 AS idx,
      |    max(CASE WHEN (h.h // 64) = 0 THEN 55
      |             ELSE 55 - length(bin(h.h // 64)) END) AS rk
      |  FROM reach r JOIN h ON h.id = r.u
      |  GROUP BY r.v, h.h % 64)
      |SELECT n.id AS doc_id, coalesce(sum(rk), 0)::BIGINT AS reg_sum,
      |  (64 - count(p.idx))::BIGINT AS zero_regs
      |FROM nodes n LEFT JOIN pernode p ON p.id = n.id
      |GROUP BY n.id ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q81 domain blocklist

  /** Suffix-rule domain blocklist ([[graft.llm.UrlFilter.domainBlocklist]]):
    * the URL-filtering tier of a web-corpus pipeline. Hosts are synthesized
    * deterministically from doc_id with 1–4 label depths; the blocklist
    * mixes exact sites, a deep `cdn.` entry, and a TLD-wide `net` block so
    * the longest-match (most specific entry) rule is exercised. The Spark
    * side never runs a per-entry LIKE scan — each host explodes into its
    * bounded label-suffix chain and equi-joins the blocklist; the oracle
    * computes the same rule with the naive LIKE form. */
  private def q81(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val tld = when(col("doc_id") % 3 === 0, lit("com"))
      .when(col("doc_id") % 3 === 1, lit("org")).otherwise(lit("net"))
    val host = concat(
      when(col("doc_id") % 4 === 1, lit("www."))
        .when(col("doc_id") % 4 === 2, lit("a.b."))
        .when(col("doc_id") % 4 === 3,
          concat(lit("m"), (col("doc_id") % 7).cast("string"), lit(".cdn.")))
        .otherwise(lit("")),
      lit("s"), (col("doc_id") % 23).cast("string"), lit("."), tld)
    val docs = Tables.documents(s, d).select(col("doc_id"), host.as("host"))
    val bl = Seq("s1.com", "s2.org", "cdn.s3.net", "www.s5.org", "s7.com", "net")
      .toDF("entry")
    graft.llm.UrlFilter.domainBlocklist(docs, "host", Seq("doc_id"), bl)
      .select(col("doc_id"), col("host"), col("blocked_by"),
        col("blocked").cast("int").as("blocked"))
      .orderBy("doc_id")
  }

  private val q81Sql =
    """WITH h AS (
      |  SELECT doc_id,
      |    (CASE doc_id % 4 WHEN 1 THEN 'www.' WHEN 2 THEN 'a.b.'
      |      WHEN 3 THEN 'm' || (doc_id % 7) || '.cdn.' ELSE '' END)
      |    || 's' || (doc_id % 23) || '.'
      |    || (CASE doc_id % 3 WHEN 0 THEN 'com' WHEN 1 THEN 'org' ELSE 'net' END)
      |    AS host
      |  FROM documents),
      |bl AS (SELECT unnest(['s1.com', 's2.org', 'cdn.s3.net', 'www.s5.org',
      |                      's7.com', 'net']) AS entry),
      |hit AS (
      |  SELECT h.doc_id, arg_max(b.entry, strlen(b.entry)) AS blocked_by
      |  FROM h JOIN bl b ON h.host = b.entry OR h.host LIKE '%.' || b.entry
      |  GROUP BY h.doc_id)
      |SELECT h.doc_id, h.host, hit.blocked_by,
      |  CASE WHEN hit.blocked_by IS NULL THEN 0 ELSE 1 END AS blocked
      |FROM h LEFT JOIN hit USING (doc_id) ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q82 n-gram novelty

  /** First-occurrence n-gram novelty ([[graft.llm.Novelty.ngramNovelty]]):
    * the redundancy-growth measurement — each 8-gram belongs to the
    * earliest doc containing it; a doc's novelty is the owned share of its
    * distinct grams, in exact integer micros. Finds diffuse redundancy the
    * pairwise dedup tiers can't (no single near-duplicate, yet nothing
    * new). */
  private def q82(s: SparkSession, d: String): DataFrame =
    graft.llm.Novelty.ngramNovelty(Tables.documents(s, d), "doc_id", "text", n = 8)
      .orderBy("doc_id")

  private val q82Sql =
    """WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents),
      |g0 AS (
      |  SELECT doc_id,
      |    list_distinct(CASE WHEN len(ws) >= 8 THEN
      |      [array_to_string(ws[i:i+7], ' ') for i in range(1, len(ws) - 6)]
      |      ELSE [] END) AS grams
      |  FROM w),
      |g AS (SELECT doc_id, unnest(grams) AS gram FROM g0),
      |o AS (SELECT gram, min(doc_id) AS owner FROM g GROUP BY gram),
      |per AS (
      |  SELECT g.doc_id, count(*)::BIGINT AS n_grams,
      |    sum(CASE WHEN o.owner = g.doc_id THEN 1 ELSE 0 END)::BIGINT AS n_novel
      |  FROM g JOIN o USING (gram) GROUP BY g.doc_id)
      |SELECT d.doc_id, coalesce(per.n_grams, 0)::BIGINT AS n_grams,
      |  coalesce(per.n_novel, 0)::BIGINT AS n_novel,
      |  CASE WHEN per.n_grams > 0
      |    THEN (per.n_novel * 1000000) // per.n_grams END AS novelty_micros
      |FROM documents d LEFT JOIN per USING (doc_id) ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q83 containment join

  /** Asymmetric doc-in-doc containment join
    * ([[Dedup.containmentJoin]]): directed pairs with
    * |grams(a)∩grams(b)| / |grams(a)| ≥ 0.6 — quote inclusion and
    * template-plus-payload subsumption, which a Jaccard threshold can
    * never find when |b| ≫ |a|. Probe-side prefix filter + full positional
    * index, thresholds in exact integer micros. The oracle is the
    * brute-force all-pairs form over string 3-grams (containment is
    * hash-invariant, like q33's Jaccard). */
  private def q83(s: SparkSession, d: String): DataFrame =
    Dedup.containmentJoin(Tables.documents(s, d), "doc_id", "text",
        n = 3, thresholdMicros = 600000L)
      .orderBy("doc_a", "doc_b")

  private val q83Sql =
    """WITH words AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
      |sh AS (
      |  SELECT doc_id,
      |    list_distinct(CASE WHEN len(w) >= 3
      |      THEN [w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w)-1)]
      |      ELSE [] END) AS shingles
      |  FROM words),
      |ne AS (SELECT * FROM sh WHERE len(shingles) > 0),
      |pairs AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    len(list_intersect(a.shingles, b.shingles))::BIGINT AS ov,
      |    len(a.shingles)::BIGINT AS sza
      |  FROM ne a JOIN ne b ON a.doc_id <> b.doc_id)
      |SELECT doc_a, doc_b, (ov * 1000000) // sza AS cont_micros
      |FROM pairs WHERE ov * 1000000 >= 600000 * sza
      |ORDER BY doc_a, doc_b""".stripMargin

  // ---------------------------------------------------------------- q84 split assignment

  /** Exact stratified split assignment ([[Selection.splitAssign]]):
    * 80/10/10 train/val/test per language stratum, largest-remainder
    * quotas (|quota − n·w/W| < 1, Σ = n exactly), deterministic md5 ranks
    * via the q48 bucket decomposition (never a corpus sort). The oracle
    * replays the identical integer apportionment and bucket-first rank
    * order. */
  private def q84(s: SparkSession, d: String): DataFrame =
    Selection.splitAssign(Tables.documents(s, d), "lang", "doc_id",
        Seq("train" -> 8L, "val" -> 1L, "test" -> 1L), seed = "q84")
      .select(col("id").as("doc_id"), col("stratum"), col("split"),
        col("rank_in_stratum"))
      .orderBy("doc_id")

  private val q84Sql =
    """WITH h AS (
      |  SELECT doc_id AS id, lang AS stratum,
      |    ('0x' || substr(md5('q84' || ':' || lang || ':' || doc_id), 1, 15))::BIGINT AS h
      |  FROM documents),
      |r AS (
      |  SELECT id, stratum,
      |    row_number() OVER (PARTITION BY stratum ORDER BY (h % 4096), h, id) AS rk
      |  FROM h),
      |n AS (SELECT stratum, count(*)::BIGINT AS nt FROM h GROUP BY stratum),
      |s AS (SELECT unnest(['train', 'val', 'test']) AS split,
      |             unnest([8, 1, 1]) AS w, unnest([0, 1, 2]) AS i),
      |q0 AS (
      |  SELECT n.stratum, s.split, s.i, n.nt,
      |    (n.nt * s.w) // 10 AS basq, (n.nt * s.w) % 10 AS rem
      |  FROM n CROSS JOIN s),
      |q1 AS (
      |  SELECT *, nt - sum(basq) OVER (PARTITION BY stratum) AS lft,
      |    row_number() OVER (PARTITION BY stratum ORDER BY rem DESC, i) AS rr
      |  FROM q0),
      |q2 AS (SELECT *, basq + CASE WHEN rr <= lft THEN 1 ELSE 0 END AS quota FROM q1),
      |q3 AS (
      |  SELECT stratum, split,
      |    sum(quota) OVER wc AS hi, sum(quota) OVER wc - quota AS lo
      |  FROM q2 WINDOW wc AS (PARTITION BY stratum ORDER BY i ROWS UNBOUNDED PRECEDING))
      |SELECT r.id AS doc_id, r.stratum, q3.split, r.rk AS rank_in_stratum
      |FROM r JOIN q3 ON r.stratum = q3.stratum AND r.rk > q3.lo AND r.rk <= q3.hi
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q85 keyword extraction

  /** Per-document top-5 keyword extraction ([[Retrieval.keywordsTopK]]):
    * integer tf–idf (linear inverse-df variant — ranking-equivalent to
    * tf·(n/df), exact at any corpus size), terms in more than 78% of the
    * corpus dropped (the explicit stopword cut — the synthetic vocabulary
    * is small and shared, so the cut binds mid-distribution), per-doc top-k via
    * WindowGroupLimit. */
  private def q85(s: SparkSession, d: String): DataFrame =
    Retrieval.keywordsTopK(Tables.documents(s, d), "doc_id", "text",
        k = 5, maxDfPermille = 780L)
      .orderBy("doc_id", "rank")

  private val q85Sql =
    """WITH w AS (
      |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term FROM documents),
      |tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM w GROUP BY doc_id, term),
      |dfq AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
      |n AS (SELECT count(*)::BIGINT AS n_docs FROM documents),
      |sc AS (
      |  SELECT tf.doc_id, tf.term, tf.tf, dfq.df,
      |    (tf.tf * 1000000) // dfq.df AS score_micros
      |  FROM tf JOIN dfq USING (term) CROSS JOIN n
      |  WHERE dfq.df * 1000 <= 780 * n.n_docs),
      |r AS (
      |  SELECT *, row_number() OVER (
      |    PARTITION BY doc_id ORDER BY score_micros DESC, term) AS rank
      |  FROM sc)
      |SELECT doc_id, rank, term, tf, df, score_micros
      |FROM r WHERE rank <= 5 ORDER BY doc_id, rank""".stripMargin

  // ---------------------------------------------------------------- q86 source overlap matrix

  /** Cross-source 8-gram leakage matrix
    * ([[Decontam.crossSourceOverlap]]): for every unordered source pair,
    * shared distinct grams + integer-micros Jaccard of the source-level
    * gram sets — the "which of my sources mirror each other" diagnostic
    * that precedes mixing weights and cross-source dedup. Same portable
    * stepwise-mod gram arithmetic as q45. */
  private def q86(s: SparkSession, d: String): DataFrame =
    Decontam.crossSourceOverlap(Tables.documents(s, d), "source", "doc_id",
        "text", n = 8)
      .orderBy("src_a", "src_b")

  private val q86Sql =
    """WITH marked AS (
      |  SELECT doc_id, source, string_split(lower(text), ' ') AS ws FROM documents),
      |wh AS (
      |  SELECT doc_id, source,
      |    [('0x' || substr(md5(x), 1, 15))::BIGINT % 2147483647 for x in ws] AS whs
      |  FROM marked),
      |g AS (
      |  SELECT source,
      |    unnest(CASE WHEN len(whs) >= 8 THEN [
      |      ((((((((((((((whs[i]
      |        * 31 + whs[i+1]) % 288230376151711717)
      |        * 31 + whs[i+2]) % 288230376151711717)
      |        * 31 + whs[i+3]) % 288230376151711717)
      |        * 31 + whs[i+4]) % 288230376151711717)
      |        * 31 + whs[i+5]) % 288230376151711717)
      |        * 31 + whs[i+6]) % 288230376151711717)
      |        * 31 + whs[i+7]) % 288230376151711717) for i in range(1, len(whs)-6)]
      |    ELSE [] END) AS ng
      |  FROM wh),
      |sg AS (SELECT DISTINCT source, ng FROM g),
      |t AS (SELECT source, count(*)::BIGINT AS n_grams FROM sg GROUP BY source),
      |sh AS (
      |  SELECT a.source AS src_a, b.source AS src_b, count(*)::BIGINT AS shared_grams
      |  FROM sg a JOIN sg b ON a.ng = b.ng AND a.source < b.source
      |  GROUP BY 1, 2)
      |SELECT sh.src_a, sh.src_b, ta.n_grams AS n_a, tb.n_grams AS n_b,
      |  sh.shared_grams,
      |  (sh.shared_grams * 1000000) // (ta.n_grams + tb.n_grams - sh.shared_grams)
      |    AS jac_micros
      |FROM sh JOIN t ta ON ta.source = sh.src_a JOIN t tb ON tb.source = sh.src_b
      |ORDER BY src_a, src_b""".stripMargin

  // ---------------------------------------------------------------- q87 distribution drift

  /** Pairwise token-count distribution drift between sources
    * ([[graft.llm.Drift.ecdfDrift]]): integer-micros ECDF KS distance —
    * the corpus-monitoring statistic behind refresh gating and
    * between-shard sanity checks. Each side's ECDF quantizes
    * independently (exact at any scale, no n_a·n_b product); the oracle
    * replays the identical grid/window arithmetic. */
  private def q87(s: SparkSession, d: String): DataFrame =
    graft.llm.Drift.ecdfDrift(
        Tables.documents(s, d).select(col("source"),
          size(split(lower(col("text")), " ")).cast("long").as("n_tokens")),
        "source", "n_tokens")
      .orderBy("grp_a", "grp_b")

  private val q87Sql =
    """WITH d AS (
      |  SELECT source AS g, len(string_split(lower(text), ' '))::BIGINT AS v
      |  FROM documents),
      |c AS (SELECT g, v, count(*)::BIGINT AS c FROM d GROUP BY g, v),
      |vals AS (SELECT DISTINCT v FROM c), gs AS (SELECT DISTINCT g FROM c),
      |grid AS (SELECT vals.v, gs.g FROM vals CROSS JOIN gs),
      |f AS (
      |  SELECT grid.g, grid.v, coalesce(c.c, 0)::BIGINT AS c
      |  FROM grid LEFT JOIN c ON c.g = grid.g AND c.v = grid.v),
      |t AS (SELECT g, sum(c)::BIGINT AS n FROM c GROUP BY g),
      |r AS (
      |  SELECT f.g, f.v, t.n,
      |    ((sum(f.c) OVER (PARTITION BY f.g ORDER BY f.v
      |        ROWS UNBOUNDED PRECEDING))::BIGINT * 1000000) // t.n AS e
      |  FROM f JOIN t USING (g))
      |SELECT a.g AS grp_a, b.g AS grp_b, a.n AS n_a, b.n AS n_b,
      |  max(abs(a.e - b.e))::BIGINT AS d_micros
      |FROM r a JOIN r b ON a.v = b.v AND a.g < b.g
      |GROUP BY 1, 2, 3, 4 ORDER BY grp_a, grp_b""".stripMargin

  // ---------------------------------------------------------------- q88 intake capstone

  /** Corpus-intake capstone composing the session tier end to end:
    * domain blocklist (q81's rule — unblocked docs survive) → novelty
    * within the SURVIVING corpus (ownership recomputed over the filtered
    * set — a doc whose only duplicates were blocked becomes novel again)
    * ≥ 0.2 → exact 80/10/10 split per language stratum (q84's
    * apportionment). The composition order is the pipeline's semantics
    * and the oracle replays it stage for stage. */
  private def q88(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val tld = when(col("doc_id") % 3 === 0, lit("com"))
      .when(col("doc_id") % 3 === 1, lit("org")).otherwise(lit("net"))
    val host = concat(
      when(col("doc_id") % 4 === 1, lit("www."))
        .when(col("doc_id") % 4 === 2, lit("a.b."))
        .when(col("doc_id") % 4 === 3,
          concat(lit("m"), (col("doc_id") % 7).cast("string"), lit(".cdn.")))
        .otherwise(lit("")),
      lit("s"), (col("doc_id") % 23).cast("string"), lit("."), tld)
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("text"), host.as("host"))
    val bl = Seq("s1.com", "s2.org", "cdn.s3.net", "www.s5.org", "s7.com", "net")
      .toDF("entry")
    val kept1 = graft.llm.UrlFilter.domainBlocklist(docs, "host", Seq("doc_id"), bl)
      .filter(!col("blocked")).select("doc_id", "lang", "text")
    val novel = graft.llm.Novelty
      .ngramNovelty(kept1.select("doc_id", "text"), "doc_id", "text", n = 8)
      .filter(col("novelty_micros") >= 200000L)
      .select("doc_id")
    val kept2 = kept1.join(novel, "doc_id").select("doc_id", "lang")
    Selection.splitAssign(kept2, "lang", "doc_id",
        Seq("train" -> 8L, "val" -> 1L, "test" -> 1L), seed = "q88")
      .select(col("id").as("doc_id"), col("stratum"), col("split"),
        col("rank_in_stratum"))
      .orderBy("doc_id")
  }

  private val q88Sql =
    """WITH h AS (
      |  SELECT doc_id,
      |    (CASE doc_id % 4 WHEN 1 THEN 'www.' WHEN 2 THEN 'a.b.'
      |      WHEN 3 THEN 'm' || (doc_id % 7) || '.cdn.' ELSE '' END)
      |    || 's' || (doc_id % 23) || '.'
      |    || (CASE doc_id % 3 WHEN 0 THEN 'com' WHEN 1 THEN 'org' ELSE 'net' END)
      |    AS host
      |  FROM documents),
      |bl AS (SELECT unnest(['s1.com', 's2.org', 'cdn.s3.net', 'www.s5.org',
      |                      's7.com', 'net']) AS entry),
      |blocked AS (
      |  SELECT DISTINCT h.doc_id FROM h
      |  JOIN bl b ON h.host = b.entry OR h.host LIKE '%.' || b.entry),
      |kept1 AS (
      |  SELECT d.doc_id, d.lang, d.text FROM documents d
      |  LEFT JOIN blocked bk ON d.doc_id = bk.doc_id WHERE bk.doc_id IS NULL),
      |w AS (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM kept1),
      |g0 AS (
      |  SELECT doc_id,
      |    list_distinct(CASE WHEN len(ws) >= 8 THEN
      |      [array_to_string(ws[i:i+7], ' ') for i in range(1, len(ws) - 6)]
      |      ELSE [] END) AS grams
      |  FROM w),
      |g AS (SELECT doc_id, unnest(grams) AS gram FROM g0),
      |o AS (SELECT gram, min(doc_id) AS owner FROM g GROUP BY gram),
      |per AS (
      |  SELECT g.doc_id, count(*)::BIGINT AS n_grams,
      |    sum(CASE WHEN o.owner = g.doc_id THEN 1 ELSE 0 END)::BIGINT AS n_novel
      |  FROM g JOIN o USING (gram) GROUP BY g.doc_id),
      |kept2 AS (
      |  SELECT k.doc_id, k.lang FROM kept1 k
      |  JOIN per ON per.doc_id = k.doc_id
      |  WHERE per.n_novel * 1000000 >= 200000 * per.n_grams),
      |hh AS (
      |  SELECT doc_id AS id, lang AS stratum,
      |    ('0x' || substr(md5('q88' || ':' || lang || ':' || doc_id), 1, 15))::BIGINT AS h
      |  FROM kept2),
      |r AS (
      |  SELECT id, stratum,
      |    row_number() OVER (PARTITION BY stratum ORDER BY (h % 4096), h, id) AS rk
      |  FROM hh),
      |n AS (SELECT stratum, count(*)::BIGINT AS nt FROM hh GROUP BY stratum),
      |s AS (SELECT unnest(['train', 'val', 'test']) AS split,
      |             unnest([8, 1, 1]) AS w, unnest([0, 1, 2]) AS i),
      |q0 AS (
      |  SELECT n.stratum, s.split, s.i, n.nt,
      |    (n.nt * s.w) // 10 AS basq, (n.nt * s.w) % 10 AS rem
      |  FROM n CROSS JOIN s),
      |q1 AS (
      |  SELECT *, nt - sum(basq) OVER (PARTITION BY stratum) AS lft,
      |    row_number() OVER (PARTITION BY stratum ORDER BY rem DESC, i) AS rr
      |  FROM q0),
      |q2 AS (SELECT *, basq + CASE WHEN rr <= lft THEN 1 ELSE 0 END AS quota FROM q1),
      |q3 AS (
      |  SELECT stratum, split,
      |    sum(quota) OVER wc AS hi, sum(quota) OVER wc - quota AS lo
      |  FROM q2 WINDOW wc AS (PARTITION BY stratum ORDER BY i ROWS UNBOUNDED PRECEDING))
      |SELECT r.id AS doc_id, r.stratum, q3.split, r.rk AS rank_in_stratum
      |FROM r JOIN q3 ON r.stratum = q3.stratum AND r.rk > q3.lo AND r.rk <= q3.hi
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q89 incremental novelty

  /** Incremental novelty over an id-ordered intake
    * ([[graft.llm.Novelty.ngramNoveltyAgainst]] + [[graft.llm.Novelty.gramIndex]]):
    * the corpus arrives as TWO ordered batches (ids ≤ median-ish threshold,
    * then the rest); batch 1 is scored from scratch, its gram-owner index
    * is built, and batch 2 is scored AGAINST that index — the standing
    * intake pipeline's shape (q59's incremental-probe pattern applied to
    * q82's statistic). The oracle is deliberately the BATCH statistic over
    * the whole corpus (q82's SQL verbatim): the operator's contract is
    * that incremental-over-ordered-batches equals it exactly, so the
    * equivalence IS the correctness gate. */
  private def q89(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val thrRow = docs.agg(max(col("doc_id")).cast("long")).head()
    require(!thrRow.isNullAt(0), "q89: empty documents table")
    val thr = thrRow.getLong(0) / 2
    val b1 = docs.filter(col("doc_id") <= thr)
    val b2 = docs.filter(col("doc_id") > thr)
    val idx = graft.llm.Novelty.gramIndex(b1, "doc_id", "text", n = 8)
    graft.llm.Novelty.ngramNovelty(b1, "doc_id", "text", n = 8)
      .union(graft.llm.Novelty.ngramNoveltyAgainst(idx, b2, "doc_id", "text", n = 8))
      .orderBy("doc_id")
  }

  /** Incremental ≡ batch over ordered batches, so the oracle is q82's. */
  private def q89Sql = q82Sql

  // ---------------------------------------------------------------- q90 categorical drift

  /** Pairwise language-mix drift between sources
    * ([[graft.llm.Drift.categoricalDrift]]): integer-micros TOTAL-VARIATION
    * distance — the categorical companion to q87's KS (value ordering is
    * meaningless for a language label). Same per-side quantization
    * (share = cnt·10^6 div n), same bounded-domain guard; the oracle
    * replays the zero-filled grid and the floor-half sum exactly. */
  private def q90(s: SparkSession, d: String): DataFrame =
    graft.llm.Drift.categoricalDrift(
        Tables.documents(s, d).select(col("source"), col("lang")),
        "source", "lang")
      .orderBy("grp_a", "grp_b")

  private val q90Sql =
    """WITH c AS (
      |  SELECT source AS g, lang AS v, count(*)::BIGINT AS c
      |  FROM documents GROUP BY 1, 2),
      |vals AS (SELECT DISTINCT v FROM c), gs AS (SELECT DISTINCT g FROM c),
      |f AS (
      |  SELECT gs.g, vals.v, coalesce(c.c, 0)::BIGINT AS c
      |  FROM vals CROSS JOIN gs LEFT JOIN c ON c.g = gs.g AND c.v = vals.v),
      |t AS (SELECT g, sum(c)::BIGINT AS n FROM c GROUP BY g),
      |sh AS (
      |  SELECT f.g, f.v, t.n, (f.c * 1000000) // t.n AS s
      |  FROM f JOIN t USING (g))
      |SELECT a.g AS grp_a, b.g AS grp_b, a.n AS n_a, b.n AS n_b,
      |  (sum(abs(a.s - b.s))::BIGINT // 2) AS tv_micros
      |FROM sh a JOIN sh b ON a.v = b.v AND a.g < b.g
      |GROUP BY 1, 2, 3, 4 ORDER BY grp_a, grp_b""".stripMargin

  // ---------------------------------------------------------------- q91 centroid drift

  /** Pairwise embedding-centroid drift between derived sources
    * ([[graft.llm.Drift.centroidDrift]]): the SEMANTIC drift statistic —
    * per-group integer centroids (milli-quantized components, floor-exact
    * at every step) reduced to exact BIGINT pair geometry (dot product +
    * squared norms; cosine = dot/√(nsq_a·nsq_b) is the caller's one float).
    * The q79 pattern: floats never leave the operator, so the oracle
    * recomputes the identical integers. */
  private def q91(s: SparkSession, d: String): DataFrame =
    graft.llm.Drift.centroidDrift(
        Tables.embeddings(s, d).select(
          concat(lit("s"), (col("vec_id") % 4).cast("string")).as("src"),
          col("embedding")),
        "src", "embedding")
      .orderBy("grp_a", "grp_b")

  private val q91Sql =
    """WITH e AS (
      |  SELECT 's' || (vec_id % 4) AS g, embedding AS vec FROM embeddings),
      |t AS (SELECT g, count(*)::BIGINT AS n FROM e GROUP BY g),
      |q AS (
      |  SELECT e.g, d.dim, floor(e.vec[d.dim + 1]::DOUBLE * 1000)::BIGINT AS m
      |  FROM e, LATERAL unnest(range(0, len(e.vec))) d(dim)),
      |s AS (SELECT g, dim, sum(m)::BIGINT AS s FROM q GROUP BY g, dim),
      |mu AS (
      |  SELECT s.g, s.dim, t.n, floor(s.s::DOUBLE / t.n)::BIGINT AS mu
      |  FROM s JOIN t USING (g)),
      |nsq AS (SELECT g, n, sum(mu * mu)::BIGINT AS nsq FROM mu GROUP BY g, n),
      |dt AS (
      |  SELECT a.g AS grp_a, b.g AS grp_b, sum(a.mu * b.mu)::BIGINT AS dot_q
      |  FROM mu a JOIN mu b ON a.dim = b.dim AND a.g < b.g GROUP BY 1, 2)
      |SELECT dt.grp_a, dt.grp_b, na.n AS n_a, nb.n AS n_b, dt.dot_q,
      |  na.nsq AS nsq_a, nb.nsq AS nsq_b
      |FROM dt JOIN nsq na ON na.g = dt.grp_a JOIN nsq nb ON nb.g = dt.grp_b
      |ORDER BY grp_a, grp_b""".stripMargin

  // ---------------------------------------------------------------- q92 continuing split

  /** Continuing split assignment over an id-ordered intake
    * ([[Selection.splitAssignContinuing]]): batch 1 is apportioned from
    * scratch (q84's Hamilton), its per-(stratum, split) counters are
    * folded ([[Selection.splitCounters]]), and batch 2 is cut against the
    * CUMULATIVE quotas minus those counters — so the global 80/10/10
    * holds over everything ingested, not merely within each batch. The
    * oracle replays both stages (both rank seeds, both apportionments,
    * the clamp and the declared-order interval cut) exactly. */
  private def q92(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d).select(col("doc_id"), col("lang"))
    val thrRow = docs.agg(max(col("doc_id")).cast("long")).head()
    require(!thrRow.isNullAt(0), "q92: empty documents table")
    val thr = thrRow.getLong(0) / 2
    val splits = Seq("train" -> 8L, "val" -> 1L, "test" -> 1L)
    val b1 = docs.filter(col("doc_id") <= thr)
    val b2 = docs.filter(col("doc_id") > thr)
    val a1 = Selection.splitAssign(b1, "lang", "doc_id", splits, seed = "q92")
    val prior = Selection.splitCounters(a1,
      Seq.empty[(String, String, Long)].toDF("stratum", "split", "n_assigned"))
    val a2 = Selection.splitAssignContinuing(b2, "lang", "doc_id", splits,
      prior, seed = "q92b")
    a1.union(a2)
      .select(col("id").as("doc_id"), col("stratum"), col("split"),
        col("rank_in_stratum"))
      .orderBy("doc_id")
  }

  private val q92Sql =
    """WITH thr AS (SELECT max(doc_id) // 2 AS t FROM documents),
      |d1 AS (SELECT doc_id, lang FROM documents, thr WHERE doc_id <= thr.t),
      |d2 AS (SELECT doc_id, lang FROM documents, thr WHERE doc_id > thr.t),
      |s AS (SELECT unnest(['train', 'val', 'test']) AS split,
      |             unnest([8, 1, 1]) AS w, unnest([0, 1, 2]) AS i),
      |h1 AS (
      |  SELECT doc_id AS id, lang AS stratum,
      |    ('0x' || substr(md5('q92' || ':' || lang || ':' || doc_id), 1, 15))::BIGINT AS h
      |  FROM d1),
      |r1 AS (
      |  SELECT id, stratum,
      |    row_number() OVER (PARTITION BY stratum ORDER BY (h % 4096), h, id) AS rk
      |  FROM h1),
      |n1 AS (SELECT stratum, count(*)::BIGINT AS nt FROM h1 GROUP BY stratum),
      |q10 AS (
      |  SELECT n1.stratum, s.split, s.i, n1.nt,
      |    (n1.nt * s.w) // 10 AS basq, (n1.nt * s.w) % 10 AS rem
      |  FROM n1 CROSS JOIN s),
      |q11 AS (
      |  SELECT *, nt - sum(basq) OVER (PARTITION BY stratum) AS lft,
      |    row_number() OVER (PARTITION BY stratum ORDER BY rem DESC, i) AS rr
      |  FROM q10),
      |q12 AS (SELECT stratum, split, i,
      |    basq + CASE WHEN rr <= lft THEN 1 ELSE 0 END AS quota FROM q11),
      |b1 AS (
      |  SELECT stratum, split,
      |    sum(quota) OVER wc AS hi, sum(quota) OVER wc - quota AS lo
      |  FROM q12 WINDOW wc AS (PARTITION BY stratum ORDER BY i ROWS UNBOUNDED PRECEDING)),
      |a1 AS (
      |  SELECT r1.id AS doc_id, r1.stratum, b1.split, r1.rk AS rank_in_stratum
      |  FROM r1 JOIN b1 ON r1.stratum = b1.stratum AND r1.rk > b1.lo AND r1.rk <= b1.hi),
      |h2 AS (
      |  SELECT doc_id AS id, lang AS stratum,
      |    ('0x' || substr(md5('q92b' || ':' || lang || ':' || doc_id), 1, 15))::BIGINT AS h
      |  FROM d2),
      |r2 AS (
      |  SELECT id, stratum,
      |    row_number() OVER (PARTITION BY stratum ORDER BY (h % 4096), h, id) AS rk
      |  FROM h2),
      |n2 AS (SELECT stratum, count(*)::BIGINT AS nt FROM h2 GROUP BY stratum),
      |nc AS (
      |  SELECT n2.stratum, n2.nt + coalesce(n1.nt, 0) AS ntc
      |  FROM n2 LEFT JOIN n1 ON n1.stratum = n2.stratum),
      |q20 AS (
      |  SELECT nc.stratum, s.split, s.i, nc.ntc,
      |    (nc.ntc * s.w) // 10 AS basq, (nc.ntc * s.w) % 10 AS rem
      |  FROM nc CROSS JOIN s),
      |q21 AS (
      |  SELECT *, ntc - sum(basq) OVER (PARTITION BY stratum) AS lft,
      |    row_number() OVER (PARTITION BY stratum ORDER BY rem DESC, i) AS rr
      |  FROM q20),
      |q22 AS (SELECT stratum, split, i,
      |    basq + CASE WHEN rr <= lft THEN 1 ELSE 0 END AS quota FROM q21),
      |asg1 AS (SELECT stratum, split, count(*)::BIGINT AS c FROM a1 GROUP BY 1, 2),
      |nd AS (
      |  SELECT q22.stratum, q22.split, q22.i,
      |    greatest(0, q22.quota - coalesce(asg1.c, 0)) AS need
      |  FROM q22 LEFT JOIN asg1
      |    ON asg1.stratum = q22.stratum AND asg1.split = q22.split),
      |b2 AS (
      |  SELECT stratum, split,
      |    sum(need) OVER wc AS hi, sum(need) OVER wc - need AS lo
      |  FROM nd WINDOW wc AS (PARTITION BY stratum ORDER BY i ROWS UNBOUNDED PRECEDING)),
      |a2 AS (
      |  SELECT r2.id AS doc_id, r2.stratum, b2.split, r2.rk AS rank_in_stratum
      |  FROM r2 JOIN b2 ON r2.stratum = b2.stratum AND r2.rk > b2.lo AND r2.rk <= b2.hi)
      |SELECT * FROM a1 UNION ALL SELECT * FROM a2 ORDER BY doc_id""".stripMargin

  private val q74Sql =
    """WITH nn AS (SELECT max(doc_id) + 1 AS n FROM documents),
      |e AS (
      |  SELECT src, (src * src + k * src + k) % nn.n AS dst
      |  FROM (SELECT doc_id AS src, unnest([7, 13, 31]) AS k FROM documents)
      |  CROSS JOIN nn
      |  WHERE (src + k) % 4 <> 0 AND (src * src + k * src + k) % nn.n <> src),
      |deg AS (SELECT src, count(*)::BIGINT AS deg FROM e GROUP BY src),
      |nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
      |r0 AS (SELECT id, 1000000::BIGINT AS r FROM nodes),
      |c1 AS (
      |  SELECT e.dst AS id, sum(r0.r // d.deg)::BIGINT AS s
      |  FROM e JOIN deg d USING (src) JOIN r0 ON r0.id = e.src GROUP BY e.dst),
      |r1 AS (
      |  SELECT n.id, (150000 + (850000 * coalesce(c1.s, 0)) // 1000000)::BIGINT AS r
      |  FROM nodes n LEFT JOIN c1 USING (id)),
      |c2 AS (
      |  SELECT e.dst AS id, sum(r1.r // d.deg)::BIGINT AS s
      |  FROM e JOIN deg d USING (src) JOIN r1 ON r1.id = e.src GROUP BY e.dst),
      |r2 AS (
      |  SELECT n.id, (150000 + (850000 * coalesce(c2.s, 0)) // 1000000)::BIGINT AS r
      |  FROM nodes n LEFT JOIN c2 USING (id)),
      |c3 AS (
      |  SELECT e.dst AS id, sum(r2.r // d.deg)::BIGINT AS s
      |  FROM e JOIN deg d USING (src) JOIN r2 ON r2.id = e.src GROUP BY e.dst),
      |r3 AS (
      |  SELECT n.id, (150000 + (850000 * coalesce(c3.s, 0)) // 1000000)::BIGINT AS r
      |  FROM nodes n LEFT JOIN c3 USING (id))
      |SELECT id AS doc_id, r AS rank_micro FROM r3 ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q77 pps sample

  /** Fixed-budget importance subsample ([[graft.llm.Selection
    * .weightedSystematic]]): exactly 200 picks distributed over the corpus
    * proportionally to document token counts — systematic PPS on a seeded
    * weight line, no RNG, all-integer. The oracle replays the identical
    * grid arithmetic over the same (bucket, hash, id) global order, so
    * agreement proves the bucket-decomposed prefix sum equals the flat
    * cumulative sum AND the grid-interval counting. */
  private def q77(s: SparkSession, d: String): DataFrame =
    graft.llm.Selection.weightedSystematic(
        Tables.documents(s, d)
          .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("toks")),
        "doc_id", "toks", k = 200L, seed = "q77")
      .select(col("id").as("doc_id"), col("w"), col("n_picks"))
      .orderBy("doc_id")

  private val q77Sql =
    """WITH w0 AS (
      |  SELECT doc_id AS id, len(string_split(text, ' '))::BIGINT AS w FROM documents),
      |w1 AS (
      |  SELECT id, w, ('0x' || substr(md5('q77:' || id), 1, 15))::BIGINT AS hh
      |  FROM w0 WHERE w >= 1),
      |w2 AS (SELECT id, w, hh, hh % 4096 AS b FROM w1),
      |c AS (
      |  SELECT id, w,
      |    sum(w) OVER (ORDER BY b, hh, id ROWS UNBOUNDED PRECEDING)::BIGINT AS cum
      |  FROM w2),
      |g AS (SELECT (sum(w) // 200)::BIGINT AS stride FROM w2),
      |g2 AS (
      |  SELECT stride,
      |    ('0x' || substr(md5('q77'), 1, 15))::BIGINT % stride AS g0
      |  FROM g),
      |p AS (
      |  SELECT c.id, c.w,
      |    least(greatest((c.cum - g2.g0 + g2.stride - 1) // g2.stride, 0), 200)
      |    - least(greatest((c.cum - c.w - g2.g0 + g2.stride - 1) // g2.stride, 0), 200)
      |      ::BIGINT AS n_picks
      |  FROM c CROSS JOIN g2)
      |SELECT id AS doc_id, w, n_picks FROM p WHERE n_picks > 0
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q78 phrase blocklist

  /** Multi-phrase blocklist scan ([[graft.functions.PhraseMatch]], Aho–
    * Corasick): every document counted against a fixed phrase list in ONE
    * automaton pass — the form that stays O(text) when the blocklist grows
    * to 10k phrases, where q51's regex chain is per-pattern. The list
    * exercises the automaton's hard cases: overlapping occurrences
    * ("table table" in "table table table"), nested phrases ("able" inside
    * "table"), shared prefixes ("scan" / "scan slow"). Match semantics are
    * ALL occurrences (overlap included) at every position — exactly what
    * the oracle replays with a position comprehension, so agreement proves
    * the goto/fail/output construction. */
  private val q78Phrases = Seq(
    "table", "able", "scan", "scan slow", "fast", "value", "a ", " a",
    "table table", "row")

  private def q78(s: SparkSession, d: String): DataFrame =
    graft.functions.PhraseMatch.countMatches(
        Tables.documents(s, d).select(col("doc_id"), col("text")),
        "text", q78Phrases, "m")
      .select(col("doc_id"), col("m_n").as("n_matches"),
        col("m_distinct").as("n_phrases"))
      .orderBy("doc_id")

  private val q78Sql =
    """WITH ph AS (
      |  SELECT unnest(['table', 'able', 'scan', 'scan slow', 'fast', 'value',
      |                 'a ', ' a', 'table table', 'row']) AS p),
      |hits AS (
      |  SELECT d.doc_id, ph.p,
      |    len([i FOR i IN range(1, len(d.text) - strlen(ph.p) + 2)
      |         IF substr(d.text, i, strlen(ph.p)) = ph.p])::BIGINT AS c
      |  FROM documents d CROSS JOIN ph)
      |SELECT doc_id, sum(c)::BIGINT AS n_matches,
      |  sum(CASE WHEN c > 0 THEN 1 ELSE 0 END)::BIGINT AS n_phrases
      |FROM hits GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q93 oov rate
  /** Per-doc out-of-vocabulary rate vs the corpus' top-500 word vocabulary
    * ([[LanguageModel.oovRate]]): occurrence-mass coverage under a bounded
    * vocab — the tokenizer-coverage signal. The (count DESC, word ASC)
    * vocabulary order is total, so both engines cut the same K words. */
  private def q93(s: SparkSession, d: String): DataFrame =
    LanguageModel.oovRate(Tables.documents(s, d), "doc_id", "text", topK = 500)
      .orderBy("doc_id")

  private val q93Sql =
    """WITH occ AS (
      |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w FROM documents),
      |vocab AS (
      |  SELECT w FROM (
      |    SELECT w, count(*) AS c FROM occ GROUP BY w
      |    ORDER BY c DESC, w LIMIT 500)),
      |per AS (
      |  SELECT o.doc_id, count(*)::BIGINT AS n_words,
      |    sum(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_oov
      |  FROM occ o LEFT JOIN vocab v ON o.w = v.w
      |  GROUP BY o.doc_id)
      |SELECT d.doc_id,
      |  coalesce(p.n_words, 0)::BIGINT AS n_words,
      |  coalesce(p.n_oov, 0)::BIGINT AS n_oov,
      |  CASE WHEN coalesce(p.n_words, 0) > 0
      |    THEN (p.n_oov * 1000000) // p.n_words END AS oov_micros
      |FROM documents d LEFT JOIN per p ON p.doc_id = d.doc_id
      |ORDER BY d.doc_id""".stripMargin

  // ---------------------------------------------------------------- q94 length outliers
  /** Robust per-source word-count outlier flags
    * ([[Selection.robustOutliers]] over [[Selection.groupedQuantile]]):
    * med/MAD are each group's EXACT ⌈n/2⌉-th smallest (bucket-decomposed,
    * never a per-group sort); outlier ⇔ |wc − med| > 5·mad. The oracle
    * replays the same rank-based medians with window row_numbers. */
  private def q94(s: SparkSession, d: String): DataFrame = {
    val wc = Tables.documents(s, d).select(col("doc_id"), col("source"),
      size(split(lower(col("text")), " ")).cast("long").as("wc"))
    Selection.robustOutliers(wc, "doc_id", "source", "wc", madMult = 5)
      .select(col("doc_id"), col("source"), col("value").as("n_words"),
        col("med"), col("mad"), col("is_outlier"))
      .orderBy("doc_id")
  }

  private val q94Sql =
    """WITH wc AS (
      |  SELECT doc_id, source,
      |    len(string_split(lower(text), ' '))::BIGINT AS v
      |  FROM documents),
      |m AS (
      |  SELECT source, v AS med FROM (
      |    SELECT source, v,
      |      row_number() OVER (PARTITION BY source ORDER BY v) AS rn,
      |      count(*) OVER (PARTITION BY source) AS n
      |    FROM wc)
      |  WHERE rn = (n * 50 + 99) // 100),
      |d AS (
      |  SELECT wc.doc_id, wc.source, wc.v, m.med, abs(wc.v - m.med) AS dev
      |  FROM wc JOIN m USING (source)),
      |md AS (
      |  SELECT source, dev AS mad FROM (
      |    SELECT source, dev,
      |      row_number() OVER (PARTITION BY source ORDER BY dev) AS rn,
      |      count(*) OVER (PARTITION BY source) AS n
      |    FROM d)
      |  WHERE rn = (n * 50 + 99) // 100)
      |SELECT d.doc_id, d.source, d.v AS n_words, d.med, md.mad,
      |  d.dev > 5 * md.mad AS is_outlier
      |FROM d JOIN md USING (source)
      |ORDER BY d.doc_id""".stripMargin

  // ---------------------------------------------------------------- q95 snapshot diff
  /** Corpus snapshot diff ([[Dedup.snapshotDiff]]): the crawl-refresh
    * classification over a deterministically derived second snapshot —
    * id%7==3 dropped (removed), id%13==0 rewritten, id%5==0 retouched
    * (one appended token — shingle Jaccard stays high), id%11==0 re-added
    * under a shifted id (added). The Jaccard is computed ROW-LOCALLY on
    * the one id-keyed full-outer join; the oracle replays the same
    * derivation and the q33-convention list Jaccard. */
  private def q95(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val cur = docs
      .filter(col("doc_id") % 7 =!= 3)
      .select(col("doc_id"),
        when(col("doc_id") % 13 === 0,
          concat(lit("rewritten corpus entry number "), col("doc_id")))
          .when(col("doc_id") % 5 === 0, concat(col("text"), lit(" refreshed")))
          .otherwise(col("text")).as("text"))
      .unionByName(docs.filter(col("doc_id") % 11 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
    Dedup.snapshotDiff(docs, cur, "doc_id", "text")
      .orderBy("doc_id")
  }

  private val q95Sql =
    """WITH prev AS (SELECT doc_id, text FROM documents),
      |cur AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 13 = 0
      |           THEN 'rewritten corpus entry number ' || doc_id
      |         WHEN doc_id % 5 = 0 THEN text || ' refreshed'
      |         ELSE text END AS text
      |  FROM documents WHERE doc_id % 7 <> 3
      |  UNION ALL
      |  SELECT doc_id + 1000000 AS doc_id, text
      |  FROM documents WHERE doc_id % 11 = 0),
      |j AS (
      |  SELECT coalesce(a.doc_id, b.doc_id) AS doc_id, a.text AS ta, b.text AS tb
      |  FROM prev a FULL OUTER JOIN cur b ON a.doc_id = b.doc_id),
      |sh AS (
      |  SELECT doc_id, ta, tb,
      |    list_distinct(CASE WHEN len(string_split(lower(ta), ' ')) >= 3
      |      THEN [string_split(lower(ta), ' ')[i] || ' ' ||
      |            string_split(lower(ta), ' ')[i+1] || ' ' ||
      |            string_split(lower(ta), ' ')[i+2]
      |            for i in range(1, len(string_split(lower(ta), ' ')) - 1)]
      |      ELSE [] END) AS sa,
      |    list_distinct(CASE WHEN len(string_split(lower(tb), ' ')) >= 3
      |      THEN [string_split(lower(tb), ' ')[i] || ' ' ||
      |            string_split(lower(tb), ' ')[i+1] || ' ' ||
      |            string_split(lower(tb), ' ')[i+2]
      |            for i in range(1, len(string_split(lower(tb), ' ')) - 1)]
      |      ELSE [] END) AS sb
      |  FROM j),
      |scored AS (
      |  SELECT doc_id, ta, tb,
      |    CASE WHEN ta IS NULL OR tb IS NULL OR ta = tb THEN NULL
      |         WHEN len(list_distinct(sa || sb)) > 0
      |           THEN (1000000 * len(list_intersect(sa, sb)))
      |                  // len(list_distinct(sa || sb))
      |         ELSE 1000000 END AS jac_micros
      |  FROM sh)
      |SELECT doc_id,
      |  CASE WHEN ta IS NULL THEN 'added'
      |       WHEN tb IS NULL THEN 'removed'
      |       WHEN ta = tb THEN 'identical'
      |       WHEN jac_micros >= 500000 THEN 'retouched'
      |       ELSE 'rewritten' END AS status,
      |  jac_micros::BIGINT AS jac_micros
      |FROM scored ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q96 length profile
  /** Per-source word-count percentile PROFILE (p10/p50/p90) via the vector
    * grouped-quantile form ([[Selection.groupedQuantiles]]) — all three
    * exact ranks in the same two corpus passes as a single median. The
    * oracle replays each rank with a window row_number. */
  private def q96(s: SparkSession, d: String): DataFrame = {
    val wc = Tables.documents(s, d).select(col("source"),
      size(split(lower(col("text")), " ")).cast("long").as("wc"))
    Selection.groupedQuantiles(wc, "source", "wc", Seq(10, 50, 90))
      .orderBy("source", "pct")
  }

  private val q96Sql =
    """WITH wc AS (
      |  SELECT source, len(string_split(lower(text), ' '))::BIGINT AS v
      |  FROM documents),
      |r AS (
      |  SELECT source, v,
      |    row_number() OVER (PARTITION BY source ORDER BY v) AS rn,
      |    count(*) OVER (PARTITION BY source) AS n
      |  FROM wc),
      |p AS (SELECT unnest([10, 50, 90]) AS pct)
      |SELECT r.source, r.n::BIGINT AS n, p.pct, r.v AS thr
      |FROM r CROSS JOIN p
      |WHERE r.rn = (r.n * p.pct + 99) // 100
      |ORDER BY source, pct""".stripMargin

  // ---------------------------------------------------------------- q97 keyed snapshot diff
  /** CONTENT-KEYED snapshot diff ([[Dedup.snapshotDiffByKey]]): the q95
    * classification when the refresh RE-MINTS every doc id (ids are row
    * numbers, not content addresses) — keyed on a stable url instead, with
    * the per-side ids carried as provenance. Same derived second snapshot
    * as q95 (%7 dropped, %13 rewritten, %5 retouched, %11 added under a
    * shifted url), every cur id shifted by +5,000,000: an id-keyed diff
    * would classify the WHOLE corpus added+removed; the url-keyed diff
    * classifies it correctly. */
  private def q97(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(
      concat(lit("u/"), col("doc_id")).as("url"), col("doc_id"), col("text"))
    val cur = docs
      .filter(col("doc_id") % 7 =!= 3)
      .select(col("url"), (col("doc_id") + 5000000L).as("doc_id"),
        when(col("doc_id") % 13 === 0,
          concat(lit("rewritten corpus entry number "), col("doc_id")))
          .when(col("doc_id") % 5 === 0, concat(col("text"), lit(" refreshed")))
          .otherwise(col("text")).as("text"))
      .unionByName(docs.filter(col("doc_id") % 11 === 0)
        .select(concat(lit("u/"), col("doc_id") + 1000000L).as("url"),
          (col("doc_id") + 6000000L).as("doc_id"), col("text")))
    Dedup.snapshotDiffByKey(docs, cur, "url", "doc_id", "text")
      .orderBy("key")
  }

  private val q97Sql =
    """WITH prev AS (
      |  SELECT 'u/' || doc_id AS url, doc_id, text FROM documents),
      |cur AS (
      |  SELECT 'u/' || doc_id AS url, doc_id + 5000000 AS doc_id,
      |    CASE WHEN doc_id % 13 = 0
      |           THEN 'rewritten corpus entry number ' || doc_id
      |         WHEN doc_id % 5 = 0 THEN text || ' refreshed'
      |         ELSE text END AS text
      |  FROM documents WHERE doc_id % 7 <> 3
      |  UNION ALL
      |  SELECT 'u/' || (doc_id + 1000000) AS url, doc_id + 6000000 AS doc_id,
      |    text
      |  FROM documents WHERE doc_id % 11 = 0),
      |j AS (
      |  SELECT coalesce(a.url, b.url) AS key, a.doc_id AS prev_id,
      |    b.doc_id AS cur_id, a.text AS ta, b.text AS tb
      |  FROM prev a FULL OUTER JOIN cur b ON a.url = b.url),
      |sh AS (
      |  SELECT key, prev_id, cur_id, ta, tb,
      |    list_distinct(CASE WHEN len(string_split(lower(ta), ' ')) >= 3
      |      THEN [string_split(lower(ta), ' ')[i] || ' ' ||
      |            string_split(lower(ta), ' ')[i+1] || ' ' ||
      |            string_split(lower(ta), ' ')[i+2]
      |            for i in range(1, len(string_split(lower(ta), ' ')) - 1)]
      |      ELSE [] END) AS sa,
      |    list_distinct(CASE WHEN len(string_split(lower(tb), ' ')) >= 3
      |      THEN [string_split(lower(tb), ' ')[i] || ' ' ||
      |            string_split(lower(tb), ' ')[i+1] || ' ' ||
      |            string_split(lower(tb), ' ')[i+2]
      |            for i in range(1, len(string_split(lower(tb), ' ')) - 1)]
      |      ELSE [] END) AS sb
      |  FROM j),
      |scored AS (
      |  SELECT key, prev_id, cur_id, ta, tb,
      |    CASE WHEN ta IS NULL OR tb IS NULL OR ta = tb THEN NULL
      |         WHEN len(list_distinct(sa || sb)) > 0
      |           THEN (1000000 * len(list_intersect(sa, sb)))
      |                  // len(list_distinct(sa || sb))
      |         ELSE 1000000 END AS jac_micros
      |  FROM sh)
      |SELECT key, prev_id::BIGINT AS prev_id, cur_id::BIGINT AS cur_id,
      |  CASE WHEN ta IS NULL THEN 'added'
      |       WHEN tb IS NULL THEN 'removed'
      |       WHEN ta = tb THEN 'identical'
      |       WHEN jac_micros >= 500000 THEN 'retouched'
      |       ELSE 'rewritten' END AS status,
      |  jac_micros::BIGINT AS jac_micros
      |FROM scored ORDER BY key""".stripMargin

  // ---------------------------------------------------------------- q98 intake rejects
  /** The intake DROP LEDGER as a first-class query — q88's pipeline from
    * the other side: every document the blocklist or novelty stage
    * REJECTS, with the stage and the same reason string the standing
    * intake writes per batch ([[graft.app.Intake]]'s
    * `outDir/rejects/batch=<i>` contract; audits and threshold tuning
    * need the rejects as much as the survivors). `blocked_by` carries the
    * LONGEST matching blocklist suffix (the most specific rule — within
    * one host's suffix chain all matches have distinct lengths, so the
    * choice is tie-free); gramless docs reject with
    * `novelty_micros:null` (a document with no 8-grams cannot clear any
    * novelty bar). */
  private def q98(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val tld = when(col("doc_id") % 3 === 0, lit("com"))
      .when(col("doc_id") % 3 === 1, lit("org")).otherwise(lit("net"))
    val host = concat(
      when(col("doc_id") % 4 === 1, lit("www."))
        .when(col("doc_id") % 4 === 2, lit("a.b."))
        .when(col("doc_id") % 4 === 3,
          concat(lit("m"), (col("doc_id") % 7).cast("string"), lit(".cdn.")))
        .otherwise(lit("")),
      lit("s"), (col("doc_id") % 23).cast("string"), lit("."), tld)
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("text"), host.as("host"))
    val bl = Seq("s1.com", "s2.org", "cdn.s3.net", "www.s5.org", "s7.com", "net")
      .toDF("entry")
    val flagged = graft.llm.UrlFilter.domainBlocklist(docs, "host", Seq("doc_id"), bl)
    val rejBl = flagged.filter(col("blocked"))
      .select(col("doc_id"), lit("blocklist").as("stage"),
        concat(lit("blocked_by:"), col("blocked_by")).as("reason"))
    val kept1 = flagged.filter(!col("blocked")).select("doc_id", "text")
    val rejNov = graft.llm.Novelty
      .ngramNovelty(kept1, "doc_id", "text", n = 8)
      .filter(col("novelty_micros").isNull || col("novelty_micros") < 200000L)
      .select(col("doc_id"), lit("novelty").as("stage"),
        concat(lit("novelty_micros:"),
          coalesce(col("novelty_micros").cast("string"), lit("null")))
          .as("reason"))
    rejBl.unionByName(rejNov).orderBy("doc_id")
  }

  private val q98Sql =
    """WITH h AS (
      |  SELECT doc_id,
      |    (CASE doc_id % 4 WHEN 1 THEN 'www.' WHEN 2 THEN 'a.b.'
      |      WHEN 3 THEN 'm' || (doc_id % 7) || '.cdn.' ELSE '' END)
      |    || 's' || (doc_id % 23) || '.'
      |    || (CASE doc_id % 3 WHEN 0 THEN 'com' WHEN 1 THEN 'org' ELSE 'net' END)
      |    AS host
      |  FROM documents),
      |bl AS (SELECT unnest(['s1.com', 's2.org', 'cdn.s3.net', 'www.s5.org',
      |                      's7.com', 'net']) AS entry),
      |hits AS (
      |  SELECT h.doc_id, b.entry FROM h
      |  JOIN bl b ON h.host = b.entry OR h.host LIKE '%.' || b.entry),
      |best AS (
      |  SELECT doc_id, entry FROM (
      |    SELECT doc_id, entry,
      |      row_number() OVER (PARTITION BY doc_id ORDER BY len(entry) DESC) AS rn
      |    FROM hits) WHERE rn = 1),
      |rej_bl AS (
      |  SELECT doc_id, 'blocklist' AS stage,
      |    'blocked_by:' || entry AS reason FROM best),
      |kept1 AS (
      |  SELECT d.doc_id, d.text FROM documents d
      |  LEFT JOIN best bk ON d.doc_id = bk.doc_id WHERE bk.doc_id IS NULL),
      |w AS (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM kept1),
      |g0 AS (
      |  SELECT doc_id,
      |    list_distinct(CASE WHEN len(ws) >= 8 THEN
      |      [array_to_string(ws[i:i+7], ' ') for i in range(1, len(ws) - 6)]
      |      ELSE [] END) AS grams
      |  FROM w),
      |g AS (SELECT doc_id, unnest(grams) AS gram FROM g0),
      |o AS (SELECT gram, min(doc_id) AS owner FROM g GROUP BY gram),
      |per AS (
      |  SELECT g.doc_id, count(*)::BIGINT AS n_grams,
      |    sum(CASE WHEN o.owner = g.doc_id THEN 1 ELSE 0 END)::BIGINT AS n_novel
      |  FROM g JOIN o USING (gram) GROUP BY g.doc_id),
      |nov AS (
      |  SELECT k.doc_id, per.n_grams, per.n_novel FROM kept1 k
      |  LEFT JOIN per ON per.doc_id = k.doc_id),
      |rej_nov AS (
      |  SELECT doc_id, 'novelty' AS stage,
      |    'novelty_micros:' || (CASE WHEN n_grams IS NULL OR n_grams = 0
      |      THEN 'null'
      |      ELSE ((n_novel * 1000000) // n_grams)::VARCHAR END) AS reason
      |  FROM nov
      |  WHERE n_grams IS NULL OR n_grams = 0
      |     OR n_novel * 1000000 < 200000 * n_grams)
      |SELECT doc_id, stage, reason FROM
      |  (SELECT * FROM rej_bl UNION ALL SELECT * FROM rej_nov)
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q99 intake near-dup rejects
  /** The intake drop ledger's NEAR-DUP stages as a first-class query —
    * q98's companion for the two stages it does not replay
    * ([[graft.app.Intake]]'s `near_dup` and `in_batch_near_dup` ledger
    * rows): a new-crawl batch (doc_id ≡ 0 mod 10, widened with derived
    * exact copies so both stages provably fire — +10M copies of batch
    * docs ≡ 0 mod 40 plant IN-batch duplicates, +20M copies of corpus
    * docs ≡ 1 mod 50 plant CROSS-corpus duplicates) probed against the
    * standing corpus. Cross matches log stage `near_dup`, reason
    * `near_dup_of:<min matching corpus id>` (the q59 probe + the intake's
    * min fold); the cross-gate survivors then dedup WITHIN the batch —
    * near-dup pairs collapse to connected components
    * ([[graft.llm.Clusters.assign]]) and each non-canonical doc logs
    * stage `in_batch_near_dup`, reason `canonical:<cluster min id>`.
    * The oracle replays the identical MinHash banding (q59's machinery)
    * and walks the pair graph with a recursive CTE (q38's). */
  private def q99(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    // The planted-copy id offset is DERIVED from the data — the smallest
    // power of 10 above max(doc_id) — not a fixed constant: a fixed +10M
    // would collide derived ids with genuine ones at any SF holding >=10M
    // documents, silently degrading the planted near-dup semantics while
    // the oracle (sharing the arithmetic) still matched. One metadata-scale
    // max() action; the oracle derives the identical value from the same
    // decimal-digit-count formula.
    val off = {
      val mx = docs.agg(max(col("doc_id"))).head().getLong(0)
      require(mx >= 0, s"q99 expects non-negative doc ids, got max=$mx")
      math.pow(10, mx.toString.length.toDouble).toLong
    }
    val batch = docs.filter(col("doc_id") % 10 === 0)
      .unionByName(docs.filter(col("doc_id") % 40 === 0)
        .select((col("doc_id") + off).as("doc_id"), col("text")))
      .unionByName(docs.filter(col("doc_id") % 50 === 1)
        .select((col("doc_id") + 2L * off).as("doc_id"), col("text")))
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    // Persist + FLAT LINEAGE BARRIER per stage (the [[Clusters]] idiom,
    // one-shot catalog path — process exit / bench clearCache reclaims the
    // caches): the probe aggregate feeds BOTH the reject rows and the
    // survivor anti-join, and the CC stage runs several driver actions —
    // without the persist the banded probe would replay per action (the
    // q63 replay class), and without the barrier every action would
    // RE-ANALYZE the stacked logical plan (probe → anti-join → band
    // self-join → verify), pure driver CPU that measured 16-35 s vs ~4 s
    // at sf0.1 even with the caches hot: persist truncates execution, not
    // analysis.
    def flat(df: DataFrame): DataFrame = graft.plans.Barrier.flatPersist(df)._1
    // The probe exposes the batch's persisted signature frame so the
    // in-batch pass below reuses the ONE sign pipeline (per-doc signatures
    // depend only on the doc's own text — value-identical restricted to
    // the survivors) instead of re-signing `kept` from text (guide §1.4).
    val probe = Dedup.incrementalNearDupProbe(corpus, batch, "doc_id", "text")
    val dupAgg = flat(probe.pairs
      .groupBy(col("batch_id").as("doc_id"))
      .agg(min(col("corpus_id")).as("__dup_of")))
    val rejCross = dupAgg.select(col("doc_id"), lit("near_dup").as("stage"),
      concat(lit("near_dup_of:"), col("__dup_of")).as("reason"))
    val kept = flat(batch.join(dupAgg.select("doc_id"), Seq("doc_id"), "left_anti"))
    val pairs = flat(Dedup.nearDupPairsFromSigs(kept, "doc_id", "text",
        probe.sigs)
      .select("doc_a", "doc_b"))
    val rejIn = Clusters.assign(kept.select("doc_id"), pairs)
      .filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id"), lit("in_batch_near_dup").as("stage"),
        concat(lit("canonical:"), col("cluster_id")).as("reason"))
    rejCross.unionByName(rejIn).orderBy("doc_id")
  }

  private val q99Sql =
    """WITH RECURSIVE off AS (
      |  SELECT CAST(10 ** length(CAST(max(doc_id) AS VARCHAR)) AS BIGINT) AS o
      |  FROM documents),
      |base AS (
      |  SELECT doc_id, text, (doc_id % 10 = 0) AS is_batch FROM documents
      |  UNION ALL
      |  SELECT doc_id + (SELECT o FROM off), text, true FROM documents
      |  WHERE doc_id % 40 = 0
      |  UNION ALL
      |  SELECT doc_id + 2 * (SELECT o FROM off), text, true FROM documents
      |  WHERE doc_id % 50 = 1),
      |words AS (
      |  SELECT doc_id, is_batch, string_split(lower(text), ' ') AS w FROM base),
      |sh AS (
      |  SELECT doc_id,
      |    list_distinct(CASE WHEN len(w) >= 3
      |      THEN [w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w)-1)]
      |      ELSE [] END) AS shingles
      |  FROM words),
      |wh AS (
      |  SELECT doc_id, is_batch,
      |    [('0x' || substr(md5(x), 1, 15))::BIGINT % 2147483647 for x in w] AS whs
      |  FROM words),
      |xs AS (
      |  SELECT doc_id, is_batch,
      |    CASE WHEN len(whs) >= 3
      |      THEN [((whs[i]*31 + whs[i+1])*31 + whs[i+2]) % 2147483647 for i in range(1, len(whs)-1)]
      |      ELSE [] END AS xsv
      |  FROM wh),
      |sig AS (
      |  SELECT x.doc_id, x.is_batch, s.shingles,
      |    [list_min([((h*1000003 + 12345) * v + (h*999983 + 7)) % 2147483647
      |               for v in xsv]) for h in range(0, 12)] AS mh
      |  FROM xs x JOIN sh s ON s.doc_id = x.doc_id WHERE len(xsv) > 0),
      |bands AS (
      |  SELECT doc_id, is_batch, b,
      |    mh[3*b+1] || '|' || mh[3*b+2] || '|' || mh[3*b+3] AS bkey
      |  FROM sig, LATERAL unnest(range(0, 4)) t(b)),
      |ccand AS (
      |  SELECT DISTINCT a.doc_id AS batch_id, b.doc_id AS corpus_id
      |  FROM bands a JOIN bands b ON a.b = b.b AND a.bkey = b.bkey
      |  WHERE a.is_batch AND NOT b.is_batch),
      |cver AS (
      |  SELECT c.batch_id, c.corpus_id FROM ccand c
      |  JOIN sig sa ON sa.doc_id = c.batch_id
      |  JOIN sig sb ON sb.doc_id = c.corpus_id
      |  WHERE len(list_intersect(sa.shingles, sb.shingles))::DOUBLE
      |      / len(list_distinct(sa.shingles || sb.shingles)) >= 0.5),
      |rej_cross AS (
      |  SELECT batch_id AS doc_id, 'near_dup' AS stage,
      |    'near_dup_of:' || min(corpus_id)::VARCHAR AS reason
      |  FROM cver GROUP BY batch_id),
      |kept AS (
      |  SELECT b.doc_id FROM base b
      |  WHERE b.is_batch AND b.doc_id NOT IN (SELECT doc_id FROM rej_cross)),
      |icand AS (
      |  SELECT DISTINCT a.doc_id AS u, b2.doc_id AS v
      |  FROM bands a
      |  JOIN bands b2 ON a.b = b2.b AND a.bkey = b2.bkey AND a.doc_id < b2.doc_id
      |  JOIN kept ka ON ka.doc_id = a.doc_id
      |  JOIN kept kb ON kb.doc_id = b2.doc_id),
      |iver AS (
      |  SELECT c.u, c.v FROM icand c
      |  JOIN sig sa ON sa.doc_id = c.u
      |  JOIN sig sb ON sb.doc_id = c.v
      |  WHERE len(list_intersect(sa.shingles, sb.shingles))::DOUBLE
      |      / len(list_distinct(sa.shingles || sb.shingles)) >= 0.5),
      |edges AS (SELECT u, v FROM iver UNION ALL SELECT v AS u, u AS v FROM iver),
      |reach(node, root) AS (
      |  SELECT doc_id, doc_id FROM kept
      |  UNION
      |  SELECT e.v, r.root FROM reach r JOIN edges e ON e.u = r.node),
      |lab AS (SELECT node AS doc_id, min(root) AS cluster_id FROM reach GROUP BY node),
      |rej_in AS (
      |  SELECT doc_id, 'in_batch_near_dup' AS stage,
      |    'canonical:' || cluster_id::VARCHAR AS reason
      |  FROM lab WHERE cluster_id <> doc_id)
      |SELECT doc_id, stage, reason FROM
      |  (SELECT * FROM rej_cross UNION ALL SELECT * FROM rej_in)
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q100 intake replay capstone
  /** END-TO-END oracle gate for the standing intake: THREE id-ordered
    * batches driven through the REAL per-batch pipeline
    * ([[graft.app.Intake.replay]] → `processBatch`, the same seam the
    * streaming entry runs) against fresh state directories with
    * `compactEvery = 1`, so a compaction fold lands strictly INSIDE the
    * sequence — batch 2's probes read batch 1's un-folded delta parts,
    * the fold retires them into the bucketed bases during batch 2, and
    * batch 3's probes read the FOLDED bases pruned (the strongest state
    * path: match detection through a compaction). The corpus is widened
    * with derived plants so every stage provably fires across the state
    * boundary: copies of batch-1 docs planted in batch 2 (cross-match via
    * deltas) and batch 3 (cross-match via the folded base), plus same-
    * batch copies for the in-batch CC stage. Output = one row per
    * ingested document: the full drop ledger plus survivors with their
    * split assignment. The oracle replays the ENTIRE pipeline batch-mode
    * in DuckDB — blocklist (q98's), per-batch MinHash cross-probe with
    * batch-order semantics + in-batch connected components (q99's,
    * unrolled per batch), incremental novelty as the global batch
    * statistic (q89's incremental ≡ batch contract), and per-batch
    * Hamilton splits (q88's) — so incremental-with-state ≡ batch-mode is
    * checked at the PIPELINE level, across a compaction fold. */
  private def q100(s: SparkSession, d: String): DataFrame =
    intakeReplay(s, d, seed = "q100", continuing = false)

  /** Shared replay harness for q100/q101 — same widened corpus, same
    * three-batch drive through [[graft.app.Intake.replay]]; q101 turns on
    * `countersDir`, so splits are cut against CUMULATIVE Hamilton quotas
    * (the q92 semantics) with the counter state versioning/retiring
    * between batches. */
  private def intakeReplay(s: SparkSession, d: String, seed: String,
                           continuing: Boolean,
                           twoTier: Boolean = false,
                           drift: Boolean = false,
                           semantic: Boolean = false): DataFrame = {
    val docs0 = Tables.documents(s, d).select(col("doc_id"), col("lang"), col("text"))
    // Data-derived id spacing (the q99 rule): off = smallest power of 10
    // above max(doc_id); batch k owns ids [k*10*off, (k+1)*10*off) with
    // originals at +e, cross plants at +3*off+e, in-batch plants at
    // +5*off+e — disjoint slots, no collision at any SF.
    val off = {
      val mx = docs0.agg(max(col("doc_id"))).head().getLong(0)
      require(mx >= 0, s"$seed expects non-negative doc ids, got max=$mx")
      math.pow(10, mx.toString.length.toDouble).toLong
    }
    val bSize = 10L * off
    val bcol = (col("doc_id") % 3 + 1).cast("long")
    val orig = docs0.select((bcol * bSize + col("doc_id")).as("doc_id"),
      bcol.as("batch"), col("lang"), col("text"))
    val crossEarly = docs0.filter(col("doc_id") % 15 === 0)
      .select((lit(2L * bSize + 3L * off) + col("doc_id")).as("doc_id"),
        lit(2L).as("batch"), col("lang"), col("text"))
    val crossLate = docs0.filter(col("doc_id") % 15 === 3)
      .select((lit(3L * bSize + 3L * off) + col("doc_id")).as("doc_id"),
        lit(3L).as("batch"), col("lang"), col("text"))
    val inBatch = docs0.filter(col("doc_id") % 7 === 3)
      .select((bcol * bSize + lit(5L * off) + col("doc_id")).as("doc_id"),
        bcol.as("batch"), col("lang"), col("text"))
    // 10-word prefix plants fire the NOVELTY reject path through the state
    // machinery: a strict word-prefix shares every 8-gram with its original
    // (novelty 0 → reject) but sits far below the 0.5 shingle-Jaccard bar,
    // so the near-dup stages pass it through; originals with <8 words yield
    // gramless plants, firing the 'novelty_micros:null' branch too.
    val prefixPlant = docs0.filter(col("doc_id") % 11 === 5)
      .select((bcol * bSize + lit(7L * off) + col("doc_id")).as("doc_id"),
        bcol.as("batch"), col("lang"),
        array_join(slice(split(col("text"), " "), 1, 10), " ").as("text"))
    val tld = when(col("doc_id") % 3 === 0, lit("com"))
      .when(col("doc_id") % 3 === 1, lit("org")).otherwise(lit("net"))
    val host = concat(
      when(col("doc_id") % 4 === 1, lit("www."))
        .when(col("doc_id") % 4 === 2, lit("a.b."))
        .when(col("doc_id") % 4 === 3,
          concat(lit("m"), (col("doc_id") % 7).cast("string"), lit(".cdn.")))
        .otherwise(lit("")),
      lit("s"), (col("doc_id") % 23).cast("string"), lit("."), tld)
    // Semantic mode (q104): two extra plant arms with FRESH text (unique
    // per-plant words — no lexical stage can touch them) carrying an
    // EARLIER batch's original's embedding (attached below by orig id):
    // batch-2 plants of batch-1 originals fire the gate through the raw
    // emb/esig deltas, batch-3 plants (originals from batches 1-3; the
    // batch-3-original ones probe an emb corpus that does not hold their
    // original yet, so they SURVIVE — the negative case) through the
    // folded bases.
    // slot 8 for the batch-2 arm, 9 for batch-3: the derived HOST takes
    // the blocklisted '.net' TLD from plant_id % 3, and slot 9's batch-2
    // ids land ≡ 2 (mod 3) — every plant would die at the blocklist
    // before the gate it exists to exercise (slot 8 lands on '.org')
    val semPlants = if (!semantic) Nil else {
      def semArm(batchK: Long, slot: Long, modV: Long,
                 extra: org.apache.spark.sql.Column) = {
        val pid = lit(batchK * bSize + slot * off) + col("doc_id")
        docs0.filter(col("doc_id") % 13 === modV && extra)
          .select(pid.as("doc_id"), lit(batchK).as("batch"), col("lang"),
            array_join(transform(sequence(lit(0), lit(9)),
              j => concat(lit("uq"), pid.cast("string"), lit("w"),
                j.cast("string"))), " ").as("text"))
      }
      Seq(semArm(2L, 8L, 2L, col("doc_id") % 3 === 0),
        semArm(3L, 9L, 1L, lit(true)))
    }
    val wide0 = (Seq(orig, crossEarly, crossLate, inBatch, prefixPlant) ++
      semPlants).reduce(_.unionByName(_)).withColumn("host", host)
    // emb = the ORIGINAL's embedding (vec_id = orig id mod the embedding
    // count — every derived replica shares its original's vector, which is
    // exactly what makes a fresh-text plant a SEMANTIC dup); every 17th
    // original carries a null emb (the pass-through path)
    val wide = (if (!semantic) wide0 else {
      val embT = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      val eCnt = embT.count()
      wide0.join(embT, col("doc_id") % off % eCnt === col("vec_id"), "left")
        .withColumn("emb",
          when(col("doc_id") % off % 17 === 4, lit(null).cast("array<float>"))
            .otherwise(col("embedding")))
        .drop("vec_id", "embedding")
    }).persist()
    val root = java.nio.file.Files.createTempDirectory("graft_q100_").toFile
    def rmrf(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rmrf)
      f.delete(); ()
    }
    try {
      val cfg = graft.app.Intake.Config(
        inputDir = s"$root/in", checkpointDir = s"$root/ckpt",
        indexDir = s"$root/idx", outDir = s"$root/out",
        blocklist = Seq("s1.com", "s2.org", "cdn.s3.net", "www.s5.org",
          "s7.com", "net"),
        nearDupThreshold = Some(0.5), corpusDir = Some(s"$root/corpus"),
        inBatchNearDup = true, seed = seed, compactEvery = 1,
        stateBuckets = 8, twoTierCorpus = twoTier,
        semanticThreshold = if (semantic) Some(0.9) else None,
        countersDir = if (continuing) Some(s"$root/ctr") else None,
        driftDir = if (drift) Some(s"$root/driftstate") else None)
      val batchCols = Seq("doc_id", "lang", "text", "host") ++
        (if (semantic) Seq("emb") else Nil)
      val ledger = graft.app.Intake.replay(s, cfg, (1L to 3L).map(k =>
        k -> wide.filter(col("batch") === k)
          .select(batchCols.map(col): _*)))
      // drift mode (q103): the ACCUMULATED drift reports — batch k's
      // survivors vs the folded reference state of every prior batch,
      // written by the pipeline at outDir/drift/batch=k for k ≥ 2 —
      // rendered into the ledger's (batch_id, doc_id, stage, reason)
      // shape on sentinel doc ids (negative, so disjoint from every real
      // id and deterministic: -(10·batch + 1) for the KS row, -(10·batch
      // + 2) for the TV row).
      val out = if (!drift) ledger else
        ledger.unionByName((2L to 3L).map { k =>
          s.read.parquet(s"$root/out/drift/batch=$k")
            .select(lit(k).as("batch_id"),
              (lit(-10L * k) - when(col("stat") === "wordcount_ks", lit(1L))
                .otherwise(lit(2L))).as("doc_id"),
              lit("drift").as("stage"),
              concat_ws(":", col("stat"), col("grp_a"), col("grp_b"),
                col("n_a"), col("n_b"), col("d_micros")).as("reason"))
        }.reduce(_.unionByName(_)))
      // The replay output reads the temp state dirs lazily; the state is
      // deleted below, so pin the (ledger-scale) result rows first.
      val rows = out.orderBy("doc_id").collect()
      s.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
    } finally {
      wide.unpersist()
      rmrf(root)
    }
  }

  /** The pipeline prologue both replay oracles share — widened corpus →
    * blocklist → MinHash machinery → per-batch cross probe + in-batch CC
    * (unrolled) → novelty — ending at `k2` (the split-stage input:
    * doc_id, batch, lang). q100 appends the PER-BATCH Hamilton tail,
    * q101 the CONTINUING (cumulative-quota) tail. */
  private def intakeReplaySqlPrefix: String =
    """WITH RECURSIVE off AS MATERIALIZED (
      |  SELECT CAST(10 ** length(CAST(max(doc_id) AS VARCHAR)) AS BIGINT) AS o
      |  FROM documents),
      |wide AS MATERIALIZED (
      |  SELECT (doc_id % 3 + 1) * 10 * (SELECT o FROM off) + doc_id AS doc_id,
      |    CAST(doc_id % 3 + 1 AS BIGINT) AS batch, lang, text FROM documents
      |  UNION ALL
      |  SELECT 2 * 10 * (SELECT o FROM off) + 3 * (SELECT o FROM off) + doc_id,
      |    CAST(2 AS BIGINT), lang, text FROM documents WHERE doc_id % 15 = 0
      |  UNION ALL
      |  SELECT 3 * 10 * (SELECT o FROM off) + 3 * (SELECT o FROM off) + doc_id,
      |    CAST(3 AS BIGINT), lang, text FROM documents WHERE doc_id % 15 = 3
      |  UNION ALL
      |  SELECT (doc_id % 3 + 1) * 10 * (SELECT o FROM off)
      |      + 5 * (SELECT o FROM off) + doc_id,
      |    CAST(doc_id % 3 + 1 AS BIGINT), lang, text FROM documents
      |  WHERE doc_id % 7 = 3
      |  UNION ALL
      |  SELECT (doc_id % 3 + 1) * 10 * (SELECT o FROM off)
      |      + 7 * (SELECT o FROM off) + doc_id,
      |    CAST(doc_id % 3 + 1 AS BIGINT), lang,
      |    array_to_string(string_split(text, ' ')[1:10], ' ')
      |  FROM documents WHERE doc_id % 11 = 5),
      |h AS MATERIALIZED (
      |  SELECT w.doc_id, w.batch, w.lang, w.text,
      |    (CASE w.doc_id % 4 WHEN 1 THEN 'www.' WHEN 2 THEN 'a.b.'
      |      WHEN 3 THEN 'm' || (w.doc_id % 7) || '.cdn.' ELSE '' END)
      |    || 's' || (w.doc_id % 23) || '.'
      |    || (CASE w.doc_id % 3 WHEN 0 THEN 'com' WHEN 1 THEN 'org' ELSE 'net' END)
      |    AS host
      |  FROM wide w),
      |blent AS MATERIALIZED (SELECT unnest(['s1.com', 's2.org', 'cdn.s3.net', 'www.s5.org',
      |                         's7.com', 'net']) AS entry),
      |hits AS MATERIALIZED (
      |  SELECT h.doc_id, b.entry FROM h
      |  JOIN blent b ON h.host = b.entry OR h.host LIKE '%.' || b.entry),
      |best AS MATERIALIZED (
      |  SELECT doc_id, entry FROM (
      |    SELECT doc_id, entry,
      |      row_number() OVER (PARTITION BY doc_id ORDER BY len(entry) DESC) AS rn
      |    FROM hits) WHERE rn = 1),
      |rej_bl AS MATERIALIZED (
      |  SELECT h.batch AS batch_id, h.doc_id, 'blocklist' AS stage,
      |    'blocked_by:' || best.entry AS reason
      |  FROM h JOIN best ON h.doc_id = best.doc_id),
      |k1 AS MATERIALIZED (
      |  SELECT h.doc_id, h.batch, h.lang, h.text FROM h
      |  LEFT JOIN best bk ON h.doc_id = bk.doc_id WHERE bk.doc_id IS NULL),
      |words AS MATERIALIZED (SELECT doc_id, batch, string_split(lower(text), ' ') AS w FROM k1),
      |sh AS MATERIALIZED (
      |  SELECT doc_id,
      |    list_distinct(CASE WHEN len(w) >= 3
      |      THEN [w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w)-1)]
      |      ELSE [] END) AS shingles
      |  FROM words),
      |wh AS MATERIALIZED (
      |  SELECT doc_id, batch,
      |    [('0x' || substr(md5(x), 1, 15))::BIGINT % 2147483647 for x in w] AS whs
      |  FROM words),
      |xs AS MATERIALIZED (
      |  SELECT doc_id, batch,
      |    CASE WHEN len(whs) >= 3
      |      THEN [((whs[i]*31 + whs[i+1])*31 + whs[i+2]) % 2147483647 for i in range(1, len(whs)-1)]
      |      ELSE [] END AS xsv
      |  FROM wh),
      |sig AS MATERIALIZED (
      |  SELECT x.doc_id, x.batch, s.shingles,
      |    [list_min([((hh*1000003 + 12345) * v + (hh*999983 + 7)) % 2147483647
      |               for v in xsv]) for hh in range(0, 12)] AS mh
      |  FROM xs x JOIN sh s ON s.doc_id = x.doc_id WHERE len(xsv) > 0),
      |bands AS MATERIALIZED (
      |  SELECT doc_id, batch, b,
      |    mh[3*b+1] || '|' || mh[3*b+2] || '|' || mh[3*b+3] AS bkey
      |  FROM sig, LATERAL unnest(range(0, 4)) t(b)),
      |kb1 AS MATERIALIZED (SELECT doc_id FROM k1 WHERE batch = 1),
      |ip1 AS MATERIALIZED (
      |  SELECT c.u, c.v FROM (
      |    SELECT DISTINCT a.doc_id AS u, b2.doc_id AS v
      |    FROM bands a JOIN bands b2
      |      ON a.b = b2.b AND a.bkey = b2.bkey AND a.doc_id < b2.doc_id
      |    JOIN kb1 ka ON ka.doc_id = a.doc_id
      |    JOIN kb1 kb ON kb.doc_id = b2.doc_id) c
      |  JOIN sig sa ON sa.doc_id = c.u JOIN sig sb ON sb.doc_id = c.v
      |  WHERE len(list_intersect(sa.shingles, sb.shingles))::DOUBLE
      |      / len(list_distinct(sa.shingles || sb.shingles)) >= 0.5),
      |ed1 AS MATERIALIZED (SELECT u, v FROM ip1 UNION ALL SELECT v AS u, u AS v FROM ip1),
      |re1(node, root) AS (
      |  SELECT doc_id, doc_id FROM kb1
      |  UNION
      |  SELECT e.v, r.root FROM re1 r JOIN ed1 e ON e.u = r.node),
      |lb1 AS MATERIALIZED (SELECT node AS doc_id, min(root) AS cluster_id FROM re1 GROUP BY node),
      |corp1 AS MATERIALIZED (SELECT doc_id FROM lb1 WHERE cluster_id = doc_id),
      |cv2 AS MATERIALIZED (
      |  SELECT c.bid, c.cid FROM (
      |    SELECT DISTINCT a.doc_id AS bid, b2.doc_id AS cid
      |    FROM bands a JOIN bands b2 ON a.b = b2.b AND a.bkey = b2.bkey
      |    JOIN corp1 cc ON cc.doc_id = b2.doc_id
      |    WHERE a.batch = 2) c
      |  JOIN sig sa ON sa.doc_id = c.bid JOIN sig sb ON sb.doc_id = c.cid
      |  WHERE len(list_intersect(sa.shingles, sb.shingles))::DOUBLE
      |      / len(list_distinct(sa.shingles || sb.shingles)) >= 0.5),
      |rj2 AS MATERIALIZED (SELECT bid AS doc_id, min(cid) AS dup_of FROM cv2 GROUP BY bid),
      |kb2 AS MATERIALIZED (
      |  SELECT k.doc_id FROM k1 k LEFT JOIN rj2 ON rj2.doc_id = k.doc_id
      |  WHERE k.batch = 2 AND rj2.doc_id IS NULL),
      |ip2 AS MATERIALIZED (
      |  SELECT c.u, c.v FROM (
      |    SELECT DISTINCT a.doc_id AS u, b2.doc_id AS v
      |    FROM bands a JOIN bands b2
      |      ON a.b = b2.b AND a.bkey = b2.bkey AND a.doc_id < b2.doc_id
      |    JOIN kb2 ka ON ka.doc_id = a.doc_id
      |    JOIN kb2 kb ON kb.doc_id = b2.doc_id) c
      |  JOIN sig sa ON sa.doc_id = c.u JOIN sig sb ON sb.doc_id = c.v
      |  WHERE len(list_intersect(sa.shingles, sb.shingles))::DOUBLE
      |      / len(list_distinct(sa.shingles || sb.shingles)) >= 0.5),
      |ed2 AS MATERIALIZED (SELECT u, v FROM ip2 UNION ALL SELECT v AS u, u AS v FROM ip2),
      |re2(node, root) AS (
      |  SELECT doc_id, doc_id FROM kb2
      |  UNION
      |  SELECT e.v, r.root FROM re2 r JOIN ed2 e ON e.u = r.node),
      |lb2 AS MATERIALIZED (SELECT node AS doc_id, min(root) AS cluster_id FROM re2 GROUP BY node),
      |corp2 AS MATERIALIZED (
      |  SELECT doc_id FROM corp1
      |  UNION ALL SELECT doc_id FROM lb2 WHERE cluster_id = doc_id),
      |cv3 AS MATERIALIZED (
      |  SELECT c.bid, c.cid FROM (
      |    SELECT DISTINCT a.doc_id AS bid, b2.doc_id AS cid
      |    FROM bands a JOIN bands b2 ON a.b = b2.b AND a.bkey = b2.bkey
      |    JOIN corp2 cc ON cc.doc_id = b2.doc_id
      |    WHERE a.batch = 3) c
      |  JOIN sig sa ON sa.doc_id = c.bid JOIN sig sb ON sb.doc_id = c.cid
      |  WHERE len(list_intersect(sa.shingles, sb.shingles))::DOUBLE
      |      / len(list_distinct(sa.shingles || sb.shingles)) >= 0.5),
      |rj3 AS MATERIALIZED (SELECT bid AS doc_id, min(cid) AS dup_of FROM cv3 GROUP BY bid),
      |kb3 AS MATERIALIZED (
      |  SELECT k.doc_id FROM k1 k LEFT JOIN rj3 ON rj3.doc_id = k.doc_id
      |  WHERE k.batch = 3 AND rj3.doc_id IS NULL),
      |ip3 AS MATERIALIZED (
      |  SELECT c.u, c.v FROM (
      |    SELECT DISTINCT a.doc_id AS u, b2.doc_id AS v
      |    FROM bands a JOIN bands b2
      |      ON a.b = b2.b AND a.bkey = b2.bkey AND a.doc_id < b2.doc_id
      |    JOIN kb3 ka ON ka.doc_id = a.doc_id
      |    JOIN kb3 kb ON kb.doc_id = b2.doc_id) c
      |  JOIN sig sa ON sa.doc_id = c.u JOIN sig sb ON sb.doc_id = c.v
      |  WHERE len(list_intersect(sa.shingles, sb.shingles))::DOUBLE
      |      / len(list_distinct(sa.shingles || sb.shingles)) >= 0.5),
      |ed3 AS MATERIALIZED (SELECT u, v FROM ip3 UNION ALL SELECT v AS u, u AS v FROM ip3),
      |re3(node, root) AS (
      |  SELECT doc_id, doc_id FROM kb3
      |  UNION
      |  SELECT e.v, r.root FROM re3 r JOIN ed3 e ON e.u = r.node),
      |lb3 AS MATERIALIZED (SELECT node AS doc_id, min(root) AS cluster_id FROM re3 GROUP BY node),
      |corpall AS MATERIALIZED (
      |  SELECT doc_id FROM corp2
      |  UNION ALL SELECT doc_id FROM lb3 WHERE cluster_id = doc_id),
      |gg0 AS MATERIALIZED (
      |  SELECT w.doc_id,
      |    list_distinct(CASE WHEN len(w.w) >= 8 THEN
      |      [array_to_string(w.w[i:i+7], ' ') for i in range(1, len(w.w) - 6)]
      |      ELSE [] END) AS grams
      |  FROM words w JOIN corpall c ON c.doc_id = w.doc_id),
      |gg AS MATERIALIZED (SELECT doc_id, unnest(grams) AS gram FROM gg0),
      |own AS MATERIALIZED (SELECT gram, min(doc_id) AS owner FROM gg GROUP BY gram),
      |per AS MATERIALIZED (
      |  SELECT gg.doc_id, count(*)::BIGINT AS n_grams,
      |    sum(CASE WHEN own.owner = gg.doc_id THEN 1 ELSE 0 END)::BIGINT AS n_novel
      |  FROM gg JOIN own USING (gram) GROUP BY gg.doc_id),
      |nv AS MATERIALIZED (
      |  SELECT c.doc_id, per.n_grams, per.n_novel FROM corpall c
      |  LEFT JOIN per ON per.doc_id = c.doc_id),
      |rej_nv AS MATERIALIZED (
      |  SELECT doc_id,
      |    'novelty_micros:' || (CASE WHEN n_grams IS NULL OR n_grams = 0
      |      THEN 'null'
      |      ELSE ((n_novel * 1000000) // n_grams)::VARCHAR END) AS reason
      |  FROM nv
      |  WHERE n_grams IS NULL OR n_grams = 0
      |     OR n_novel * 1000000 < 200000 * n_grams),
      |k2 AS MATERIALIZED (
      |  SELECT k1.doc_id, k1.batch, k1.lang FROM k1
      |  JOIN corpall c ON c.doc_id = k1.doc_id
      |  LEFT JOIN rej_nv rn ON rn.doc_id = k1.doc_id WHERE rn.doc_id IS NULL),
      |""".stripMargin

  private val q100Sql = intakeReplayPerBatchSql("q100")

  private val q102Sql = intakeReplayPerBatchSql("q102")

  /** The q103 drift-report CTEs: per-batch (value, count) states of the
    * near-dup survivors (`kd` = the per-batch canonical sets the intake's
    * drift stage measures), then for each batch k ≥ 2 the q87 KS grid
    * (word counts, text non-null) and the q90 TV grid (language mix)
    * between the batch side and the `batch < k` cumulative reference —
    * exactly the fold-then-compare the intake's versioned count state
    * performs. Sentinel doc ids -(10k+1)/-(10k+2) keep the rows disjoint
    * from every real ledger id. */
  private def intakeReplayDriftCtes: String = {
    def ks(k: Int) =
      s"""wg$k AS MATERIALIZED (
        |  SELECT 'batch' AS g, v, sum(c)::BIGINT AS c FROM wcc WHERE batch = $k GROUP BY v
        |  UNION ALL
        |  SELECT 'ref' AS g, v, sum(c)::BIGINT AS c FROM wcc WHERE batch < $k GROUP BY v),
        |wf$k AS MATERIALIZED (
        |  SELECT gs.g, vals.v, coalesce(w.c, 0)::BIGINT AS c
        |  FROM (SELECT DISTINCT v FROM wg$k) vals
        |  CROSS JOIN (SELECT DISTINCT g FROM wg$k) gs
        |  LEFT JOIN wg$k w ON w.g = gs.g AND w.v = vals.v),
        |wt$k AS MATERIALIZED (SELECT g, sum(c)::BIGINT AS n FROM wg$k GROUP BY g),
        |wr$k AS MATERIALIZED (
        |  SELECT f.g, f.v, t.n,
        |    ((sum(f.c) OVER (PARTITION BY f.g ORDER BY f.v
        |        ROWS UNBOUNDED PRECEDING))::BIGINT * 1000000) // t.n AS e
        |  FROM wf$k f JOIN wt$k t USING (g)),
        |wd$k AS MATERIALIZED (
        |  SELECT a.n AS n_a, b.n AS n_b, max(abs(a.e - b.e))::BIGINT AS d_micros
        |  FROM wr$k a JOIN wr$k b ON a.v = b.v AND a.g < b.g
        |  GROUP BY 1, 2),
        |""".stripMargin
    def tv(k: Int) =
      s"""lg$k AS MATERIALIZED (
        |  SELECT 'batch' AS g, v, sum(c)::BIGINT AS c FROM lgc WHERE batch = $k GROUP BY v
        |  UNION ALL
        |  SELECT 'ref' AS g, v, sum(c)::BIGINT AS c FROM lgc WHERE batch < $k GROUP BY v),
        |lf$k AS MATERIALIZED (
        |  SELECT gs.g, vals.v, coalesce(l.c, 0)::BIGINT AS c
        |  FROM (SELECT DISTINCT v FROM lg$k) vals
        |  CROSS JOIN (SELECT DISTINCT g FROM lg$k) gs
        |  LEFT JOIN lg$k l ON l.g = gs.g AND l.v = vals.v),
        |lt$k AS MATERIALIZED (SELECT g, sum(c)::BIGINT AS n FROM lg$k GROUP BY g),
        |ls$k AS MATERIALIZED (
        |  SELECT f.g, f.v, t.n, (f.c * 1000000) // t.n AS s
        |  FROM lf$k f JOIN lt$k t USING (g)),
        |ld$k AS MATERIALIZED (
        |  SELECT a.n AS n_a, b.n AS n_b, (sum(abs(a.s - b.s))::BIGINT // 2) AS d_micros
        |  FROM ls$k a JOIN ls$k b ON a.v = b.v AND a.g < b.g
        |  GROUP BY 1, 2),
        |""".stripMargin
    """kd AS MATERIALIZED (
      |  SELECT k1.batch, k1.lang, k1.text FROM k1
      |  JOIN corpall c ON c.doc_id = k1.doc_id),
      |wcc AS MATERIALIZED (
      |  SELECT batch, len(string_split(lower(text), ' '))::BIGINT AS v,
      |    count(*)::BIGINT AS c
      |  FROM kd WHERE text IS NOT NULL GROUP BY 1, 2),
      |lgc AS MATERIALIZED (
      |  SELECT batch, lang AS v, count(*)::BIGINT AS c FROM kd GROUP BY 1, 2),
      |""".stripMargin +
      ks(2) + tv(2) + ks(3) + tv(3) +
      """driftrows AS MATERIALIZED (
      |  SELECT CAST(2 AS BIGINT) AS batch_id, CAST(-21 AS BIGINT) AS doc_id,
      |    'drift' AS stage,
      |    'wordcount_ks:batch:ref:' || n_a || ':' || n_b || ':' || d_micros AS reason
      |  FROM wd2
      |  UNION ALL SELECT CAST(2 AS BIGINT), CAST(-22 AS BIGINT), 'drift',
      |    'lang_tv:batch:ref:' || n_a || ':' || n_b || ':' || d_micros FROM ld2
      |  UNION ALL SELECT CAST(3 AS BIGINT), CAST(-31 AS BIGINT), 'drift',
      |    'wordcount_ks:batch:ref:' || n_a || ':' || n_b || ':' || d_micros FROM wd3
      |  UNION ALL SELECT CAST(3 AS BIGINT), CAST(-32 AS BIGINT), 'drift',
      |    'lang_tv:batch:ref:' || n_a || ':' || n_b || ':' || d_micros FROM ld3),
      |""".stripMargin
  }

  private val q103Sql = intakeReplayPerBatchSql("q103",
    extraCtes = intakeReplayDriftCtes,
    extraUnion = " UNION ALL SELECT * FROM driftrows")

  /** q104's oracle = q100's per-batch oracle with the SEMANTIC gate
    * spliced in at five anchored points (the widened corpus gains the
    * fresh-text/copied-vector plant arms; `k1e`/`semsig` attach each
    * doc's original's embedding and its 3×6-plane sign-LSH buckets —
    * q23b's exact arithmetic; each batch k ≥ 2 gains the
    * candidates-share-any-table-bucket → exact-cosine ≥ 0.9 → min-id
    * `srj$k` stage between the lexical cross gate and the in-batch CC,
    * with `kb$k` excluding its rejects; the ledger union gains the
    * `semantic_dup` rows). Anchored string surgery — each anchor must
    * match EXACTLY once — so the q100/q101/q102/q103 oracle text stays
    * byte-identical to what those green rows gate. */
  private def semSplice(base: String): String = {
    def splice(s: String, anchor: String, replacement: String): String = {
      val i = s.indexOf(anchor)
      require(i >= 0 && s.indexOf(anchor, i + 1) < 0,
        s"q104 splice anchor not unique in the base oracle: <$anchor>")
      s.replace(anchor, replacement)
    }
    val wideAnchor = "  FROM documents WHERE doc_id % 11 = 5),\n"
    val semArms =
      """  FROM documents WHERE doc_id % 11 = 5
        |  UNION ALL
        |  SELECT 2 * 10 * o.o + 8 * o.o + doc_id, CAST(2 AS BIGINT), lang,
        |    array_to_string(['uq' || (2 * 10 * o.o + 8 * o.o + doc_id)
        |      || 'w' || j for j in range(0, 10)], ' ')
        |  FROM documents, off o WHERE doc_id % 13 = 2 AND doc_id % 3 = 0
        |  UNION ALL
        |  SELECT 3 * 10 * o.o + 9 * o.o + doc_id, CAST(3 AS BIGINT), lang,
        |    array_to_string(['uq' || (3 * 10 * o.o + 9 * o.o + doc_id)
        |      || 'w' || j for j in range(0, 10)], ' ')
        |  FROM documents, off o WHERE doc_id % 13 = 1),
        |""".stripMargin
    val k1Anchor =
      "  LEFT JOIN best bk ON h.doc_id = bk.doc_id WHERE bk.doc_id IS NULL),\n"
    val semDefs = k1Anchor +
      """emc AS MATERIALIZED (SELECT count(*) AS c FROM embeddings),
        |k1e AS MATERIALIZED (
        |  SELECT k1.doc_id, k1.batch, e.embedding AS emb
        |  FROM k1 JOIN embeddings e
        |    ON e.vec_id = (k1.doc_id % (SELECT o FROM off)) % (SELECT c FROM emc)
        |  WHERE (k1.doc_id % (SELECT o FROM off)) % 17 <> 4),
        |semsig AS MATERIALIZED (
        |  SELECT doc_id, batch, emb,
        |    sqrt(list_sum([emb[i]::DOUBLE * emb[i]::DOUBLE for i in range(1, len(emb)+1)])) AS nrm,
        |    [list_sum([CASE WHEN list_sum([emb[i]::DOUBLE *
        |        (CASE WHEN (((t*6+p)*31 + (i-1)*17) % 101) % 2 = 0 THEN 1.0 ELSE -1.0 END)
        |        for i in range(1, len(emb)+1)]) >= 0 THEN 1 << p ELSE 0 END
        |      for p in range(0, 6)])::BIGINT for t in range(0, 3)] AS bucks
        |  FROM k1e),
        |""".stripMargin
    def kbAnchor(k: Int) =
      s"""kb$k AS MATERIALIZED (
        |  SELECT k.doc_id FROM k1 k LEFT JOIN rj$k ON rj$k.doc_id = k.doc_id
        |  WHERE k.batch = $k AND rj$k.doc_id IS NULL),
        |""".stripMargin
    def semGate(k: Int, corp: String) =
      s"""sq$k AS MATERIALIZED (
        |  SELECT s.doc_id, s.nrm, s.emb, s.bucks FROM semsig s
        |  LEFT JOIN rj$k ON rj$k.doc_id = s.doc_id
        |  WHERE s.batch = $k AND rj$k.doc_id IS NULL),
        |scand$k AS MATERIALIZED (
        |  SELECT DISTINCT q.doc_id AS bid, c.doc_id AS cid
        |  FROM sq$k q, semsig c, LATERAL unnest(range(0, 3)) tt(t), $corp cc
        |  WHERE cc.doc_id = c.doc_id AND q.bucks[t+1] = c.bucks[t+1]),
        |srj$k AS MATERIALIZED (
        |  SELECT bid AS doc_id, min(cid) AS dup_of FROM (
        |    SELECT s.bid, s.cid FROM scand$k s
        |    JOIN semsig a ON a.doc_id = s.bid
        |    JOIN semsig b ON b.doc_id = s.cid
        |    WHERE list_sum([a.emb[i]::DOUBLE * b.emb[i]::DOUBLE for i in range(1, len(a.emb)+1)])
        |        / (a.nrm * b.nrm) >= 0.9)
        |  GROUP BY bid),
        |kb$k AS MATERIALIZED (
        |  SELECT k.doc_id FROM k1 k
        |  LEFT JOIN rj$k ON rj$k.doc_id = k.doc_id
        |  LEFT JOIN srj$k ON srj$k.doc_id = k.doc_id
        |  WHERE k.batch = $k AND rj$k.doc_id IS NULL AND srj$k.doc_id IS NULL),
        |""".stripMargin
    val rejAnchor = "  UNION ALL\n  SELECT CAST(1 AS BIGINT), doc_id, 'in_batch_near_dup',\n"
    val semRejArms =
      """  UNION ALL
        |  SELECT CAST(2 AS BIGINT), doc_id, 'semantic_dup',
        |    'semantic_dup_of:' || dup_of FROM srj2
        |  UNION ALL
        |  SELECT CAST(3 AS BIGINT), doc_id, 'semantic_dup',
        |    'semantic_dup_of:' || dup_of FROM srj3
        |""".stripMargin + rejAnchor
    splice(splice(splice(splice(splice(base,
      wideAnchor, semArms),
      k1Anchor, semDefs),
      kbAnchor(2), semGate(2, "corp1")),
      kbAnchor(3), semGate(3, "corp2")),
      rejAnchor, semRejArms)
  }

  private val q104Sql = semSplice(intakeReplayPerBatchSql("q104"))

  /** q100's full oracle, parameterized only by the split-rank seed: the
    * replay SEMANTICS are state-layout-independent, so q102 (the same
    * replay under `twoTierCorpus` — mid folds landing inside the
    * sequence, batch 3 probing through base+mid tiers) checks against
    * the IDENTICAL batch-mode replay, just with its own seed. q103 adds
    * `extraCtes`/`extraUnion` — the drift-report CTEs and their row
    * source in the final union. */
  private def intakeReplayPerBatchSql(seed: String, extraCtes: String = "",
                                      extraUnion: String = ""): String =
    intakeReplaySqlPrefix +
    s"""hh AS MATERIALIZED (
      |  SELECT doc_id AS id, batch, lang AS stratum,
      |    ('0x' || substr(md5('$seed:' || batch || ':' || lang || ':' || doc_id), 1, 15))::BIGINT AS hv
      |  FROM k2),
      |r AS MATERIALIZED (
      |  SELECT id, batch, stratum,
      |    row_number() OVER (PARTITION BY batch, stratum
      |      ORDER BY (hv % 4096), hv, id) AS rk
      |  FROM hh),
      |n AS MATERIALIZED (SELECT batch, stratum, count(*)::BIGINT AS nt FROM hh GROUP BY 1, 2),
      |sp AS MATERIALIZED (SELECT unnest(['train', 'val', 'test']) AS split,
      |              unnest([8, 1, 1]) AS w, unnest([0, 1, 2]) AS i),
      |q0 AS MATERIALIZED (
      |  SELECT n.batch, n.stratum, sp.split, sp.i, n.nt,
      |    (n.nt * sp.w) // 10 AS basq, (n.nt * sp.w) % 10 AS rem
      |  FROM n CROSS JOIN sp),
      |q1 AS MATERIALIZED (
      |  SELECT *, nt - sum(basq) OVER (PARTITION BY batch, stratum) AS lft,
      |    row_number() OVER (PARTITION BY batch, stratum ORDER BY rem DESC, i) AS rr
      |  FROM q0),
      |q2 AS MATERIALIZED (SELECT *, basq + CASE WHEN rr <= lft THEN 1 ELSE 0 END AS quota FROM q1),
      |q3 AS MATERIALIZED (
      |  SELECT batch, stratum, split,
      |    sum(quota) OVER wc AS hi, sum(quota) OVER wc - quota AS lo
      |  FROM q2 WINDOW wc AS (PARTITION BY batch, stratum ORDER BY i
      |    ROWS UNBOUNDED PRECEDING)),
      |surv AS MATERIALIZED (
      |  SELECT r.batch AS batch_id, r.id AS doc_id, 'survived' AS stage,
      |    r.stratum || ':' || q3.split || ':' || r.rk AS reason
      |  FROM r JOIN q3 ON r.batch = q3.batch AND r.stratum = q3.stratum
      |    AND r.rk > q3.lo AND r.rk <= q3.hi),
      |""".stripMargin + extraCtes + intakeReplaySqlSuffix(extraUnion)

  /** The drop-ledger assembly + final select both replay oracles share —
    * the reject stages are split-mode-independent. */
  private def intakeReplaySqlSuffix(extraUnion: String = ""): String =
    """rej AS MATERIALIZED (
      |  SELECT batch_id, doc_id, stage, reason FROM rej_bl
      |  UNION ALL
      |  SELECT CAST(2 AS BIGINT), doc_id, 'near_dup',
      |    'near_dup_of:' || dup_of FROM rj2
      |  UNION ALL
      |  SELECT CAST(3 AS BIGINT), doc_id, 'near_dup',
      |    'near_dup_of:' || dup_of FROM rj3
      |  UNION ALL
      |  SELECT CAST(1 AS BIGINT), doc_id, 'in_batch_near_dup',
      |    'canonical:' || cluster_id FROM lb1 WHERE cluster_id <> doc_id
      |  UNION ALL
      |  SELECT CAST(2 AS BIGINT), doc_id, 'in_batch_near_dup',
      |    'canonical:' || cluster_id FROM lb2 WHERE cluster_id <> doc_id
      |  UNION ALL
      |  SELECT CAST(3 AS BIGINT), doc_id, 'in_batch_near_dup',
      |    'canonical:' || cluster_id FROM lb3 WHERE cluster_id <> doc_id
      |  UNION ALL
      |  SELECT k1.batch, rn.doc_id, 'novelty', rn.reason
      |  FROM rej_nv rn JOIN k1 ON k1.doc_id = rn.doc_id)
      |SELECT batch_id, doc_id, stage, reason FROM
      |  (SELECT * FROM surv UNION ALL SELECT * FROM rej""".stripMargin +
      extraUnion + ")\nORDER BY doc_id"

  // ---------------------------------------------------------------- q101 intake replay, continuing splits
  /** q100's replay with `countersDir` set: splits cut against CUMULATIVE
    * Hamilton quotas (q92 semantics — per-(stratum, split) counters
    * persist between batches on the versioned strictly-below protocol),
    * so the counter state machinery is oracle-gated through the full
    * pipeline too. The oracle's split tail unrolls the three continuing
    * apportionments sequentially: batch k ranks with seed `q101:k`,
    * quotas are Hamilton over the CUMULATIVE stratum totals of batches
    * ≤ k, needs are `greatest(0, quota − assigned_{<k})` cut in declared
    * split order — q92Sql's machinery over q100's pipeline prologue. */
  private def q101(s: SparkSession, d: String): DataFrame =
    intakeReplay(s, d, seed = "q101", continuing = true)

  /** q100's replay under `twoTierCorpus`: with compactEvery = 1 both
    * tiers fold every batch, so batch 2 probes a mid part and batch 3
    * probes through base+mid tiers — the two-tier read/fold path
    * oracle-gated END-TO-END (the oracle itself is layout-independent:
    * same batch-mode replay, own seed). */
  private def q102(s: SparkSession, d: String): DataFrame =
    intakeReplay(s, d, seed = "q102", continuing = false, twoTier = true)

  /** q100's replay with `driftDir` set — the LAST intake stage family
    * whose cross-batch state evolution gains an oracle row: per-batch
    * drift reports (word-count KS + language-mix TV, the statistics the
    * intake's monitor computes) of batch k's near-dup-surviving docs
    * against the ACCUMULATED reference state folded from every prior
    * batch's survivors, across the same compaction-straddling 3-batch
    * replay. Reports ride the ledger as sentinel rows (negative doc ids);
    * the oracle recomputes each report batch-mode from cumulative count
    * prefixes (q87/q90's grid arithmetic over `batch < k` sums). The
    * intake monitors wc + lang only — centroid drift (q91) is an
    * embedding-side statistic with no embedding in the intake stream. */
  private def q103(s: SparkSession, d: String): DataFrame =
    intakeReplay(s, d, seed = "q103", continuing = false, drift = true)

  /** q100's replay with the SEMANTIC gate on (`semanticThreshold = 0.9`)
    * — the one first-class LLM-pipeline operator that was batch-only now
    * oracle-gated in STANDING form: the widened corpus gains fresh-text
    * plants carrying an earlier original's embedding (no lexical stage
    * can touch them — only the embedding gate fires), batch 2 catching
    * its plants through the raw emb/esig delta parts and batch 3 through
    * the FOLDED embbase/esigbase (compactEvery = 1), with
    * batch-3-original plants passing (their original is not in the
    * probed corpus yet) and every-17th originals carrying null
    * embeddings (the pass-through path). The oracle recomputes the gate
    * batch-mode: sign-LSH buckets with q23b's exact plane arithmetic,
    * candidates = share any table bucket with the accumulated canonical
    * corpus, exact cosine ≥ 0.9, min-id dup_of — between the lexical
    * cross stage and the in-batch CC, exactly where the pipeline runs
    * it. */
  private def q104(s: SparkSession, d: String): DataFrame =
    intakeReplay(s, d, seed = "q104", continuing = false, semantic = true)

  private val q101Sql = intakeReplaySqlPrefix +
    """hh AS MATERIALIZED (
      |  SELECT doc_id AS id, batch, lang AS stratum,
      |    ('0x' || substr(md5('q101:' || batch || ':' || lang || ':' || doc_id), 1, 15))::BIGINT AS hv
      |  FROM k2),
      |r AS MATERIALIZED (
      |  SELECT id, batch, stratum,
      |    row_number() OVER (PARTITION BY batch, stratum
      |      ORDER BY (hv % 4096), hv, id) AS rk
      |  FROM hh),
      |n AS MATERIALIZED (SELECT batch, stratum, count(*)::BIGINT AS nt FROM hh GROUP BY 1, 2),
      |sp AS MATERIALIZED (SELECT unnest(['train', 'val', 'test']) AS split,
      |              unnest([8, 1, 1]) AS w, unnest([0, 1, 2]) AS i),
      |nc AS MATERIALIZED (
      |  SELECT b.batch, n.stratum, sum(n.nt)::BIGINT AS ntc
      |  FROM (SELECT DISTINCT batch FROM n) b
      |  JOIN n ON n.batch <= b.batch
      |  GROUP BY 1, 2),
      |cq0 AS MATERIALIZED (
      |  SELECT nc.batch, nc.stratum, sp.split, sp.i, nc.ntc,
      |    (nc.ntc * sp.w) // 10 AS basq, (nc.ntc * sp.w) % 10 AS rem
      |  FROM nc CROSS JOIN sp),
      |cq1 AS MATERIALIZED (
      |  SELECT *, ntc - sum(basq) OVER (PARTITION BY batch, stratum) AS lft,
      |    row_number() OVER (PARTITION BY batch, stratum ORDER BY rem DESC, i) AS rr
      |  FROM cq0),
      |cq2 AS MATERIALIZED (SELECT batch, stratum, split, i,
      |    basq + CASE WHEN rr <= lft THEN 1 ELSE 0 END AS quota FROM cq1),
      |nd1 AS MATERIALIZED (
      |  SELECT stratum, split, i, quota AS need FROM cq2 WHERE batch = 1),
      |bb1 AS MATERIALIZED (
      |  SELECT stratum, split,
      |    sum(need) OVER wc1 AS hi, sum(need) OVER wc1 - need AS lo
      |  FROM nd1 WINDOW wc1 AS (PARTITION BY stratum ORDER BY i
      |    ROWS UNBOUNDED PRECEDING)),
      |a1 AS MATERIALIZED (
      |  SELECT r.id, r.stratum, bb1.split, r.rk FROM r
      |  JOIN bb1 ON r.stratum = bb1.stratum
      |    AND r.rk > bb1.lo AND r.rk <= bb1.hi
      |  WHERE r.batch = 1),
      |asg1 AS MATERIALIZED (
      |  SELECT stratum, split, count(*)::BIGINT AS c FROM a1 GROUP BY 1, 2),
      |nd2 AS MATERIALIZED (
      |  SELECT cq2.stratum, cq2.split, cq2.i,
      |    greatest(0, cq2.quota - coalesce(asg1.c, 0)) AS need
      |  FROM cq2 LEFT JOIN asg1
      |    ON asg1.stratum = cq2.stratum AND asg1.split = cq2.split
      |  WHERE cq2.batch = 2),
      |bb2 AS MATERIALIZED (
      |  SELECT stratum, split,
      |    sum(need) OVER wc2 AS hi, sum(need) OVER wc2 - need AS lo
      |  FROM nd2 WINDOW wc2 AS (PARTITION BY stratum ORDER BY i
      |    ROWS UNBOUNDED PRECEDING)),
      |a2 AS MATERIALIZED (
      |  SELECT r.id, r.stratum, bb2.split, r.rk FROM r
      |  JOIN bb2 ON r.stratum = bb2.stratum
      |    AND r.rk > bb2.lo AND r.rk <= bb2.hi
      |  WHERE r.batch = 2),
      |asg12 AS MATERIALIZED (
      |  SELECT stratum, split, count(*)::BIGINT AS c FROM
      |    (SELECT * FROM a1 UNION ALL SELECT * FROM a2) GROUP BY 1, 2),
      |nd3 AS MATERIALIZED (
      |  SELECT cq2.stratum, cq2.split, cq2.i,
      |    greatest(0, cq2.quota - coalesce(asg12.c, 0)) AS need
      |  FROM cq2 LEFT JOIN asg12
      |    ON asg12.stratum = cq2.stratum AND asg12.split = cq2.split
      |  WHERE cq2.batch = 3),
      |bb3 AS MATERIALIZED (
      |  SELECT stratum, split,
      |    sum(need) OVER wc3 AS hi, sum(need) OVER wc3 - need AS lo
      |  FROM nd3 WINDOW wc3 AS (PARTITION BY stratum ORDER BY i
      |    ROWS UNBOUNDED PRECEDING)),
      |a3 AS MATERIALIZED (
      |  SELECT r.id, r.stratum, bb3.split, r.rk FROM r
      |  JOIN bb3 ON r.stratum = bb3.stratum
      |    AND r.rk > bb3.lo AND r.rk <= bb3.hi
      |  WHERE r.batch = 3),
      |surv AS MATERIALIZED (
      |  SELECT CAST(1 AS BIGINT) AS batch_id, id AS doc_id,
      |    'survived' AS stage, stratum || ':' || split || ':' || rk AS reason
      |  FROM a1
      |  UNION ALL
      |  SELECT CAST(2 AS BIGINT), id, 'survived',
      |    stratum || ':' || split || ':' || rk FROM a2
      |  UNION ALL
      |  SELECT CAST(3 AS BIGINT), id, 'survived',
      |    stratum || ':' || split || ':' || rk FROM a3),
      |""".stripMargin + intakeReplaySqlSuffix()

  val all: Seq[QueryDef] = Seq(
    QueryDef("q21_dedup_exact", q21, Some(q21Sql)),
    QueryDef("q22_neardup_minhash", q22, Some(q22Sql)),
    QueryDef("q23_ann_cosine", q23, Some(q23Sql)),
    QueryDef("q23b_ann_lsh", q23b, Some(q23bSql)),
    QueryDef("q25_langid", q25, Some(q25Sql)),
    QueryDef("q26_quality", q26, Some(q26Sql)),
    QueryDef("q27_tokens", q27, Some(q27Sql)),
    QueryDef("q28_fingerprint", q28, Some(q28Sql)),
    QueryDef("q29_multimodal", q29, Some(q29Sql)),
    QueryDef("q29b_media_tensor", q29b, Some(q29bSql)),
    QueryDef("q30_simhash", q30, Some(q30Sql)),
    QueryDef("q31_embdup", q31, Some(q31Sql)),
    QueryDef("q33_jaccard_join", q33, Some(q33Sql)),
    QueryDef("q34_ann_ivf", q34, Some(q34Sql)),
    QueryDef("q38_dedup_clusters", q38, Some(q38Sql)),
    QueryDef("q39_repetition", q39, Some(q39Sql)),
    QueryDef("q40_token_budget", q40, Some(q40Sql)),
    QueryDef("q41_stratified_sample", q41, Some(q41Sql)),
    QueryDef("q42_scrub", q42, Some(q42Sql)),
    QueryDef("q43_curation", q43, Some(q43Sql)),
    QueryDef("q44_ann_quantized", q44, Some(q44Sql)),
    QueryDef("q45_decontam", q45, Some(q45Sql)),
    QueryDef("q46_bm25", q46, Some(q46Sql)),
    QueryDef("q47_export_shuffle", q47, Some(q47Sql)),
    QueryDef("q48_source_mix", q48, Some(q48Sql)),
    QueryDef("q49_export_capstone", q49, Some(q49Sql)),
    QueryDef("q50_seq_packing", q50, Some(q50Sql)),
    QueryDef("q51_chunking", q51, Some(q51Sql)),
    QueryDef("q52_repeated_spans", q52, Some(q52Sql)),
    QueryDef("q53_span_scrub", q53, Some(q53Sql)),
    QueryDef("q54_decontam_scrub", q54, Some(q54Sql)),
    QueryDef("q55_bigram_lm", q55, Some(q55Sql)),
    QueryDef("q56_semantic_dedup", q56, Some(q56Sql)),
    QueryDef("q57_semantic_curation", q57, Some(q57Sql)),
    QueryDef("q58_kmeans", q58, Some(q58Sql)),
    QueryDef("q59_incremental_dedup", q59, Some(q59Sql)),
    QueryDef("q60_pii_scrub", q60, Some(q60Sql)),
    QueryDef("q61_dsir_selection", q61, Some(q61Sql)),
    QueryDef("q62_cluster_sample", q62, Some(q62Sql)),
    QueryDef("q63_quantile_cut", q63, Some(q63Sql)),
    QueryDef("q67_media_phash", q67, Some(q67Sql)),
    QueryDef("q68_bpe_encode", q68, Some(q68Sql)),
    QueryDef("q69_domain_cap", q69, Some(q69Sql)),
    QueryDef("q70_bloom_decontam", q70, Some(q70Sql)),
    QueryDef("q71_cms_freq", q71, Some(q71Sql)),
    QueryDef("q72_quality_classifier", q72, Some(q72Sql)),
    QueryDef("q73_fuzzy_join", q73, Some(q73Sql)),
    QueryDef("q74_pagerank", q74, Some(q74Sql)),
    QueryDef("q76_harmonic", q76, Some(q76Sql)),
    QueryDef("q77_pps_sample", q77, Some(q77Sql)),
    QueryDef("q78_phrase_blocklist", q78, Some(q78Sql)),
    QueryDef("q79_hyperball_regs", q79, Some(q79Sql)),
    QueryDef("q81_domain_blocklist", q81, Some(q81Sql)),
    QueryDef("q82_ngram_novelty", q82, Some(q82Sql)),
    QueryDef("q83_containment_join", q83, Some(q83Sql)),
    QueryDef("q84_split_assign", q84, Some(q84Sql)),
    QueryDef("q85_keywords", q85, Some(q85Sql)),
    QueryDef("q86_source_overlap", q86, Some(q86Sql)),
    QueryDef("q87_ecdf_drift", q87, Some(q87Sql)),
    QueryDef("q88_intake_capstone", q88, Some(q88Sql)),
    QueryDef("q89_incremental_novelty", q89, Some(q89Sql)),
    QueryDef("q90_categorical_drift", q90, Some(q90Sql)),
    QueryDef("q91_centroid_drift", q91, Some(q91Sql)),
    QueryDef("q92_continuing_split", q92, Some(q92Sql)),
    QueryDef("q93_oov_rate", q93, Some(q93Sql)),
    QueryDef("q94_length_outliers", q94, Some(q94Sql)),
    QueryDef("q95_snapshot_diff", q95, Some(q95Sql)),
    QueryDef("q96_length_profile", q96, Some(q96Sql)),
    QueryDef("q97_snapshot_diff_keyed", q97, Some(q97Sql)),
    QueryDef("q98_intake_rejects", q98, Some(q98Sql)),
    QueryDef("q99_intake_neardup_rejects", q99, Some(q99Sql)),
    QueryDef("q100_intake_replay", q100, Some(q100Sql)),
    // bench=false by documented design (the q14 precedent): q101 is the
    // SAME replay harness as q100 with only the split mode changed — its
    // ~40 s structural cost is q100's, and q100 is the benched
    // representative; correctness still gates q101 every round.
    QueryDef("q101_intake_replay_continuing", q101, Some(q101Sql), bench = false),
    QueryDef("q102_intake_replay_twotier", q102, Some(q102Sql), bench = false),
    QueryDef("q103_intake_replay_drift", q103, Some(q103Sql), bench = false),
    QueryDef("q104_intake_replay_semantic", q104, Some(q104Sql), bench = false),
  )
}
