package graft.queries

import graft.{QueryDef, Tables}
import graft.cdc.{EnvelopeBuilder, Json, TopicFilter}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** CDC operator coverage (SURVEY.md §2.1) verified against the DuckDB oracle.
  *
  * The driver ships no raw binlog stream, so each query first derives a
  * DETERMINISTIC raw change-statement stream from the TPC-H-ish tables (pure
  * column arithmetic, partition-local, identical in both engines), then runs
  * the real operator pipeline (graft.cdc.*) over it. The oracle reproduces the
  * same bytes with plain SQL string construction.
  *
  * Derivation contract (shared by Spark + oracle):
  *   action  = alter if okey%50=0, else insert/update/delete by okey%10 (<6/<9/else)
  *   table   = 'orders_' || okey%3          database = 'shop'
  *   n       = okey%3 + 1 row images (update: n before/after pairs)
  *   image j = {id: okey*10+j, name: 'ord<okey>_<j>', status: o_orderstatus
  *              (update after-image: 'U')}
  *   time    = epoch seconds of o_orderdate
  */
object CdcQueries {

  // ---------------------------------------------------------------- raw stream

  /** Deterministic raw statement stream derived from `orders` (see contract). */
  def rawFromOrders(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    val okey = col("o_orderkey")
    val action =
      when(okey % 50 === 0, "alter")
        .when(okey % 10 < 6, "insert")
        .when(okey % 10 < 9, "update")
        .otherwise("delete")
    val nRows = (okey % 3 + 1).cast("int")
    def img(j: Column, after: Boolean): Column = array(
      Json.entry(lit("id"), Json.num(okey * 10 + j)),
      Json.entry(lit("name"), Json.str(concat(lit("ord"), okey, lit("_"), j))),
      Json.entry(lit("status"), Json.str(if (after) lit("U") else col("o_orderstatus"))))
    val rows =
      when(action === "alter", lit(null).cast("array<array<struct<k:string,v:string>>>"))
        .when(action === "update",
          flatten(transform(sequence(lit(0), nRows - 1), j => array(img(j, after = false), img(j, after = true)))))
        .otherwise(transform(sequence(lit(0), nRows - 1), j => img(j, after = false)))
    o.select(
      lit("shop").as("database"),
      concat(lit("orders_"), okey % 3).as("table"),
      action.as("action"),
      // o_orderdate is TIMESTAMP_NTZ; session TZ is UTC, so NTZ → TIMESTAMP → epoch
      // seconds matches DuckDB's epoch() exactly.
      col("o_orderdate").cast("timestamp").cast("long").as("ts"),
      okey.as("stmt_seq"),
      rows.as("rows"))
  }

  /** Shared oracle prelude mirroring [[rawFromOrders]] + the envelope explode. */
  private val oracleEnvs =
    """WITH base AS (
      |  SELECT o_orderkey AS okey, o_orderstatus AS status,
      |         epoch(o_orderdate)::BIGINT AS ts,
      |         CASE WHEN o_orderkey%50=0 THEN 'alter'
      |              WHEN o_orderkey%10<6 THEN 'insert'
      |              WHEN o_orderkey%10<9 THEN 'update'
      |              ELSE 'delete' END AS action,
      |         'orders_' || (o_orderkey%3) AS tbl,
      |         (o_orderkey%3 + 1)::INT AS nrows
      |  FROM orders),
      |img AS (
      |  SELECT b.*, j,
      |    '{"id":' || (okey*10+j) || ',"name":"ord' || okey || '_' || j || '","status":"' || status || '"}' AS oldj,
      |    '{"id":' || (okey*10+j) || ',"name":"ord' || okey || '_' || j || '","status":"U"}' AS newj
      |  FROM base b, LATERAL unnest(range(b.nrows)) t(j)
      |  WHERE b.action <> 'alter'),
      |envs AS (
      |  SELECT okey AS stmt_seq, j AS pair_pos, 'shop' AS db, tbl,
      |         action AS event_type, ts,
      |         CASE WHEN action='update' THEN '{"data":{"new_data":' || newj || ',"old_data":' || oldj || '}}'
      |              ELSE '{"data":' || oldj || '}' END AS event
      |  FROM img
      |  UNION ALL
      |  SELECT okey, 0, 'shop', tbl, 'alter', ts, NULL FROM base WHERE action='alter')
      |""".stripMargin

  // -------------------------------------------------- q17: the envelope pipeline

  /** O2/O3/O5/O6/O7: full envelope pipeline — explode, alter-without-event,
    * dense event_index, one-shot JSON serialization. */
  private def q17(s: SparkSession, d: String): DataFrame = {
    // entriesSorted: rawFromOrders builds every image's entries literally in
    // (id, name, status) order — already UTF-8-byte key order — so the
    // per-image runtime array_sort is skipped, byte-identically (the
    // order-sensitive oracle hash is the regression guard).
    val env = EnvelopeBuilder.withEventIndex(rawFromOrders(s, d),
      entriesSorted = true)
    // No final orderBy: the index pipeline range-sorts statements BEFORE the
    // explode, so rows already flow in event_index order — re-sorting 2× the
    // rows carrying the rendered JSON would only repeat that work wider.
    env
      .withColumn("envelope", EnvelopeBuilder.envelopeJson(env))
      .select(col("event_index"), col("database"), col("table"), col("event_type"),
        col("time"), col("topic"), col("event"), col("envelope"))
  }

  private val q17Sql = oracleEnvs +
    """, idx AS (
      |  SELECT row_number() OVER (ORDER BY stmt_seq, pair_pos) AS event_index, *
      |  FROM envs)
      |SELECT event_index, db AS "database", tbl AS "table", event_type,
      |  ts AS "time", db || '.' || tbl AS topic, event,
      |  '{"database":"' || db || '"'
      |    || CASE WHEN event IS NULL THEN '' ELSE ',"event":' || event END
      |    || ',"event_index":' || event_index
      |    || ',"event_type":"' || event_type
      |    || '","table":"' || tbl
      |    || '","time":' || ts || '}' AS envelope
      |FROM idx ORDER BY event_index""".stripMargin

  // -------------------------------------------------- q18: update pairing

  /** O3+O4 in isolation: before/after pairing with multi-pair statements.
    * Fully partition-local (no index, no shuffle) — this is the raw
    * envelope-throughput shape, so it stays in the bench set. */
  private def q18(s: SparkSession, d: String): DataFrame =
    // Sort the narrow raw statements, not the rendered envelopes: the explode
    // preserves order and emits pairs in pair_pos order per statement.
    // (A compute-once persist under this sort was measured flat — the raw
    // derivation is cheap column math, so caching it buys nothing here.)
    EnvelopeBuilder.envelopes(
        rawFromOrders(s, d).filter(col("action") === "update").orderBy("stmt_seq"),
        entriesSorted = true) // rawFromOrders entries are key-sorted (see q17)
      .select(col("stmt_seq"), col("pair_pos").cast("long").as("pair_pos"), col("topic"), col("event"))

  private val q18Sql = oracleEnvs +
    """SELECT stmt_seq, pair_pos, db || '.' || tbl AS topic, event
      |FROM envs WHERE event_type = 'update'
      |ORDER BY stmt_seq, pair_pos""".stripMargin

  // -------------------------------------------------- q19: row-image decode

  /** O1: positional row-image decode — unsigned fix-up for every integer width
    * (incl. the RawType mediumint-vs-int 2^24/2^32 rule), ENUM labels, SET
    * bitmask join, short-row NULL padding. Derived from `lineitem`. */
  /** The q19 fixture schema — statically known, so the decode is a plan-time
    * rendering ([[graft.cdc.RowImageJson]]); the
    * schema-agnostic runtime path stays covered by the golden test suite. */
  val q19Cols: Seq[graft.cdc.Decode.ColMeta] = Seq(
    graft.cdc.Decode.ColMeta("id", "int(11)"),
    graft.cdc.Decode.ColMeta("tiny_u", "tinyint(3) unsigned", unsigned = true),
    graft.cdc.Decode.ColMeta("small_u", "smallint(5) unsigned", unsigned = true),
    graft.cdc.Decode.ColMeta("med_u", "mediumint(8) unsigned", unsigned = true),
    graft.cdc.Decode.ColMeta("int_u", "int(10) unsigned", unsigned = true),
    graft.cdc.Decode.ColMeta("big_u", "bigint(20) unsigned", unsigned = true),
    graft.cdc.Decode.ColMeta("flag", "enum('ret_a','ret_n','ret_r')",
      enumValues = Seq("ret_a", "ret_n", "ret_r")),
    graft.cdc.Decode.ColMeta("tags", "set('red','green','blue')",
      setValues = Seq("red", "green", "blue")),
    graft.cdc.Decode.ColMeta("note", "varchar(32)"))

  private def q19(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val lk = col("l_orderkey"); val ln = col("l_linenumber")

    val fullRow = array(
      (lk * 10 + ln).cast("string"),
      ((lk % 256) - 128).cast("string"),
      ((col("l_suppkey") % 65536) - 32768).cast("string"),
      (-(lk % 100) - 1).cast("string"),
      (-(lk % 1000) - 1).cast("string"),
      (-(lk % 500) - 1).cast("string"),
      when(col("l_returnflag") === "A", 1).when(col("l_returnflag") === "N", 2).otherwise(3).cast("string"),
      (lk % 8).cast("string"),
      concat(lit("n_"), ln))
    // Every 7th order: short row (7 of 9 values) → trailing NULL padding.
    val row = when(lk % 7 === 0, slice(fullRow, 1, 7)).otherwise(fullRow)

    val raw = li.select(
      lit("shop").as("database"), lit("items").as("table"),
      lit("insert").as("action"), lit(0L).as("ts"),
      (lk * 100 + ln).as("stmt_seq"),
      array(row).as("rows"))

    // Sort BEFORE decode/explode: the ordering key is (stmt_seq) ≡ the output
    // (okey, line) order, and sorting the ~50-byte raw rows instead of the
    // ~250-byte rendered envelopes halves the query (measured 8.7 s → 4.8 s);
    // Generate/Project preserve the sort order downstream.
    EnvelopeBuilder.envelopesStatic(raw.orderBy("stmt_seq"), q19Cols)
      .select((col("stmt_seq") / 100).cast("long").as("okey"),
        pmod(col("stmt_seq"), lit(100)).cast("long").as("line"),
        col("event"))
  }

  private val q19Sql =
    """WITH f AS (
      |  SELECT l_orderkey AS lk, l_linenumber AS ln,
      |    (l_orderkey*10 + l_linenumber) AS idv,
      |    CASE WHEN (l_orderkey%256)-128 < 0 THEN (l_orderkey%256)-128+256 ELSE (l_orderkey%256)-128 END AS tinyv,
      |    CASE WHEN (l_suppkey%65536)-32768 < 0 THEN (l_suppkey%65536)-32768+65536 ELSE (l_suppkey%65536)-32768 END AS smallv,
      |    (-(l_orderkey%100)-1) + (1<<24) AS medv,
      |    (-(l_orderkey%1000)-1) + 4294967296 AS intv,
      |    ((-(l_orderkey%500)-1)::HUGEINT + 18446744073709551616::HUGEINT)::VARCHAR AS bigv,
      |    CASE l_returnflag WHEN 'A' THEN 'ret_a' WHEN 'N' THEN 'ret_n' ELSE 'ret_r' END AS flagv,
      |    concat_ws(',',
      |      CASE WHEN (l_orderkey%8) & 1 > 0 THEN 'red' END,
      |      CASE WHEN (l_orderkey%8) & 2 > 0 THEN 'green' END,
      |      CASE WHEN (l_orderkey%8) & 4 > 0 THEN 'blue' END) AS tagsv,
      |    CASE WHEN l_orderkey%7=0 THEN 'null' ELSE '"' || 'n_' || l_linenumber || '"' END AS notef,
      |    CASE WHEN l_orderkey%7=0 THEN 'null' ELSE NULL END AS tagsnull
      |  FROM lineitem)
      |SELECT lk AS okey, ln::BIGINT AS line,
      |  '{"data":{'
      |  || '"big_u":' || bigv
      |  || ',"flag":"' || flagv || '"'
      |  || ',"id":' || idv
      |  || ',"int_u":' || intv
      |  || ',"med_u":' || medv
      |  || ',"note":' || notef
      |  || ',"small_u":' || smallv
      |  || ',"tags":' || COALESCE(tagsnull, '"' || tagsv || '"')
      |  || ',"tiny_u":' || tinyv
      |  || '}}' AS event
      |FROM f ORDER BY okey, line""".stripMargin

  // -------------------------------------------------- q20: topic filter

  /** F1: regex topic filter with exact reference semantics — unanchored match,
    * OR over the set, empty set ⇒ true, invalid pattern never matches. Runs
    * through the native MatchAnyRegex expression (precompiled patterns,
    * whole-stage codegen). */
  private def q20(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
    val topic = concat(lit("db"), col("c_custkey") % 5, lit(".t"), col("c_custkey") % 7)
    c.select(col("c_custkey"), topic.as("topic"))
      .withColumn("m_set", TopicFilter.matchAny(col("topic"), Seq("db1\\.t[0-3]$", "t5")))
      .withColumn("m_anchor", TopicFilter.matchAny(col("topic"), Seq("^db2\\.t6$")))
      .withColumn("m_invalid", TopicFilter.matchAny(col("topic"), Seq("[", "db3\\.t1")))
      .withColumn("m_empty", TopicFilter.matchAny(col("topic"), Nil))
      .orderBy("c_custkey")
  }

  private val q20Sql =
    """SELECT c_custkey,
      |  'db' || (c_custkey%5) || '.t' || (c_custkey%7) AS topic,
      |  regexp_matches('db' || (c_custkey%5) || '.t' || (c_custkey%7), 'db1\.t[0-3]$')
      |    OR regexp_matches('db' || (c_custkey%5) || '.t' || (c_custkey%7), 't5') AS m_set,
      |  regexp_matches('db' || (c_custkey%5) || '.t' || (c_custkey%7), '^db2\.t6$') AS m_anchor,
      |  regexp_matches('db' || (c_custkey%5) || '.t' || (c_custkey%7), 'db3\.t1') AS m_invalid,
      |  true AS m_empty
      |FROM customer ORDER BY c_custkey""".stripMargin

  // -------------------------------------------------- q32: schema drift

  /** SURVEY §7.4: rows before and after an in-stream ALTER decode under
    * different schema VERSIONS ([[graft.cdc.SchemaRegistry]]) — the case the
    * reference's readme warns it gets wrong (`readme.md:54`). Data rows take
    * even sequences (okey*2); the ALTER sits at the odd seq 30001, so the
    * boundary is collision-free at every scale factor. The added `flag`
    * column lands positionally BETWEEN qty and note (AFTER qty), so a
    * stale-schema decode would misread every post-alter row image. */
  private def q32(s: SparkSession, d: String): DataFrame = {
    import graft.cdc.{Decode, SchemaRegistry}
    val okey = col("o_orderkey")
    val alterSeq = 30001L
    val qty = (okey % 65536) - 32768
    val pre = array(array(okey.cast("string"), qty.cast("string"), concat(lit("n"), okey)))
    val post = array(array(okey.cast("string"), qty.cast("string"),
      (okey % 3 + 1).cast("string"), concat(lit("n"), okey)))
    val data = Tables.orders(s, d).select(
      lit("shop").as("database"), lit("drift").as("table"),
      lit("insert").as("action"), lit(0L).as("ts"),
      (okey * 2).as("stmt_seq"),
      when(okey * 2 < alterSeq, pre).otherwise(post).as("rows"),
      lit(null).cast("string").as("query"))
    val alter = s.range(1).select(
      lit("shop").as("database"), lit("drift").as("table"),
      lit("alter").as("action"), lit(0L).as("ts"),
      lit(alterSeq).as("stmt_seq"),
      lit(null).cast("array<array<string>>").as("rows"),
      lit("ALTER TABLE shop.drift ADD COLUMN flag enum('a','b','c') AFTER qty").as("query"))

    val reg = new SchemaRegistry
    reg.register("shop", "drift", Seq(
      Decode.ColMeta("id", "int(11)"),
      Decode.ColMeta("qty", "smallint(5) unsigned", unsigned = true),
      Decode.ColMeta("note", "varchar(20)")))
    // Persist the decoded projection before the final sort: the range
    // sampler otherwise re-runs the whole per-version decode render (the
    // narrow subtree above the registry's cached raw batch) a second time.
    reg.decodeBatch(data.unionAll(alter))
      .select(col("stmt_seq"), col("schema_version"), col("event_type"), col("event"))
      .persist()
      .orderBy("stmt_seq")
  }

  private val q32Sql =
    """WITH d AS (
      |  SELECT o_orderkey AS okey, o_orderkey*2 AS stmt_seq,
      |    CASE WHEN (o_orderkey%65536)-32768 < 0
      |         THEN (o_orderkey%65536)-32768+65536
      |         ELSE (o_orderkey%65536)-32768 END AS qtyv
      |  FROM orders),
      |ev AS (
      |  SELECT stmt_seq,
      |    CASE WHEN stmt_seq < 30001 THEN 1 ELSE 2 END AS schema_version,
      |    'insert' AS event_type,
      |    CASE WHEN stmt_seq < 30001 THEN
      |      '{"data":{"id":' || okey || ',"note":"n' || okey || '","qty":' || qtyv || '}}'
      |    ELSE
      |      '{"data":{"flag":"' || CASE okey%3+1 WHEN 1 THEN 'a' WHEN 2 THEN 'b' ELSE 'c' END
      |        || '","id":' || okey || ',"note":"n' || okey || '","qty":' || qtyv || '}}'
      |    END AS event
      |  FROM d
      |  UNION ALL
      |  SELECT 30001::BIGINT, 2, 'alter', NULL)
      |SELECT stmt_seq, schema_version, event_type, event FROM ev
      |ORDER BY stmt_seq""".stripMargin

  // -------------------------------------------- q64/q65: CDC apply (replica)

  /** Deterministic per-key change stream derived from `orders`: ~okey/1000
    * changes per key in `seq` = okey order; every okey%10==7 change is a
    * delete. Shared contract with the oracle CTE below. */
  private def changesFromOrders(s: SparkSession, d: String): DataFrame = {
    val okey = col("o_orderkey")
    Tables.orders(s, d).select(
      (okey % 1000).as("pk"), okey.as("seq"),
      col("o_orderstatus").as("status"), (okey % 100).as("qty"))
  }

  private val oracleChanges =
    """WITH c AS (
      |  SELECT o_orderkey%1000 AS pk, o_orderkey AS seq,
      |         o_orderstatus AS status, o_orderkey%100 AS qty
      |  FROM orders),
      |""".stripMargin

  /** CDC apply, SCD1: materialize the replica's current state — latest change
    * per key wins, a winning delete tombstones the key ([[graft.cdc.Apply]]).
    * One PK shuffle with a map-side-combined max_by; no window, no sort. */
  private def q64(s: SparkSession, d: String): DataFrame =
    graft.cdc.Apply.latestState(changesFromOrders(s, d), Seq("pk"), "seq",
        pmod(col("seq"), lit(10)) === 7)
      .withColumnRenamed("seq", "last_seq")
      .orderBy("pk")

  private val q64Sql = oracleChanges +
    """m AS (SELECT pk, max(seq) AS last_seq FROM c GROUP BY pk)
      |SELECT c.pk, m.last_seq, c.status, c.qty
      |FROM c JOIN m ON c.pk = m.pk AND c.seq = m.last_seq
      |WHERE c.seq % 10 <> 7
      |ORDER BY c.pk""".stripMargin

  /** CDC apply, SCD2: change history with validity intervals — each upsert is
    * valid from its own seq until the key's next change (upsert supersedes,
    * delete closes); open interval ⇒ current. Key-partitioned window, never a
    * global sort. Restricted to a quarter of the key space so the verify-time
    * result stays compare-sized; the window shape is identical at any width. */
  private def q65(s: SparkSession, d: String): DataFrame =
    graft.cdc.Apply.history(
        changesFromOrders(s, d).filter(col("pk") < 250), Seq("pk"), "seq",
        pmod(col("seq"), lit(10)) === 7)
      .select(col("pk"), col("valid_from"), col("valid_to"), col("is_current"),
        col("status"), col("qty"))
      .orderBy("pk", "valid_from")

  private val q65Sql = oracleChanges +
    """h AS (
      |  SELECT c.*, lead(seq) OVER (PARTITION BY pk ORDER BY seq) AS valid_to
      |  FROM c WHERE pk < 250)
      |SELECT pk, seq AS valid_from, valid_to, (valid_to IS NULL) AS is_current,
      |       status, qty
      |FROM h WHERE seq % 10 <> 7
      |ORDER BY pk, valid_from""".stripMargin

  /** CDC incremental aggregate maintenance (IVM deltas): the change stream's
    * net effect on per-status (count, sum(qty)) — before-images at −1,
    * after-images at +1, so group-moving updates debit one group and credit
    * the other — without ever scanning the replica ([[graft.cdc.Apply
    * .deltaAggregate]]). Updates move okey%4==0 rows to status 'X' and bump
    * qty by okey%7; inserts/deletes per the usual okey%10 split. */
  private def q66(s: SparkSession, d: String): DataFrame = {
    val okey = col("o_orderkey")
    val status = col("o_orderstatus")
    val qty = okey % 100
    def img(st: Column, q: Column): Column = struct(st.as("status"), q.as("qty"))
    val before = when(okey % 10 >= 6, img(status, qty)) // null before-image on insert
    val after = when(okey % 10 < 6, img(status, qty))   // insert keeps the base image
      .when(okey % 10 < 9,
        img(when(okey % 4 === 0, lit("X")).otherwise(status), qty + okey % 7)) // null on delete
    val changes = Tables.orders(s, d).select(before.as("before"), after.as("after"))
    graft.cdc.Apply.deltaAggregate(changes, Seq("status"), "qty").orderBy("status")
  }

  private val q66Sql =
    """WITH b AS (
      |  SELECT o_orderstatus AS status, o_orderkey%100 AS qty,
      |         CASE WHEN o_orderkey%4=0 THEN 'X' ELSE o_orderstatus END AS status2,
      |         o_orderkey%100 + o_orderkey%7 AS qty2,
      |         o_orderkey%10 AS m
      |  FROM orders),
      |contrib AS (
      |  SELECT status, -1 AS sign, qty FROM b WHERE m >= 6
      |  UNION ALL
      |  SELECT status, 1, qty FROM b WHERE m < 6
      |  UNION ALL
      |  SELECT status2, 1, qty2 FROM b WHERE m >= 6 AND m < 9)
      |SELECT status, sum(sign)::BIGINT AS rows_delta,
      |       sum(sign*qty)::BIGINT AS qty_delta
      |FROM contrib GROUP BY status ORDER BY status""".stripMargin

  // -------------------------------------------------- q75: analytics tier changes

  /** The streaming-analytics tier's change parser ([[graft.streaming
    * .Analytics.tableChanges]]) in its batch-equivalent form: wire statements
    * → typed per-row change records (packed seq, delete flag, before/after
    * images parsed against the table schema) — the exact frame
    * `replicaStream`/`runningAggregates` consume. The oracle reconstructs
    * the same records straight from the derivation contract, so agreement
    * proves the whole envelope-JSON → get_json_object → from_json round
    * trip plus the (stmt_seq << 20) + pair_pos packing. Restricted to one
    * table (the tier's per-table contract). */
  private def q75(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("name", StringType), StructField("status", StringType)))
    // Sort the NARROW raw statements, not the parsed change records (the
    // q18/q19 pattern): seq = (stmt_seq << 20) + pair_pos, the explode emits
    // pair_pos in order, and every downstream step is narrow — so range-
    // sorting the statements on stmt_seq BEFORE the envelope render + JSON
    // parse yields rows already in seq order. A final orderBy instead
    // re-executed the whole render+parse subtree for the range sampler
    // (measured: the sort ~doubled q75/q80). Pre-filtering to the spec'd
    // table also keeps the sort to a third of the stream.
    graft.streaming.Analytics.tableChanges(
        rawFromOrders(s, d).filter(col("table") === "orders_1")
          .orderBy("stmt_seq"),
        "shop", "orders_1", schema)
      .select(col("seq"), col("deleted"),
        col("before.id").as("b_id"), col("before.name").as("b_name"),
        col("before.status").as("b_status"),
        col("after.id").as("a_id"), col("after.name").as("a_name"),
        col("after.status").as("a_status"))
  }

  private val q75Sql = oracleEnvs +
    """SELECT (okey*1048576 + j)::BIGINT AS seq,
      |  (action='delete') AS deleted,
      |  CASE WHEN action IN ('update','delete') THEN okey*10+j END::BIGINT AS b_id,
      |  CASE WHEN action IN ('update','delete') THEN 'ord'||okey||'_'||j END AS b_name,
      |  CASE WHEN action IN ('update','delete') THEN status END AS b_status,
      |  CASE WHEN action IN ('insert','update') THEN okey*10+j END::BIGINT AS a_id,
      |  CASE WHEN action IN ('insert','update') THEN 'ord'||okey||'_'||j END AS a_name,
      |  CASE WHEN action='update' THEN 'U' WHEN action='insert' THEN status END AS a_status
      |FROM img WHERE tbl='orders_1'
      |ORDER BY seq""".stripMargin

  // -------------------------------------------------- q80: multi-table changes

  /** The multi-table analytics plan's change parser ([[graft.streaming
    * .Analytics.multiTableChanges]]) in batch-equivalent form: ONE pass over
    * the wire statements yields typed change records for TWO tables at once
    * — per-row (database, table) routing, packed seq, delete flag, and
    * before/after images parsed against the MERGED schema (orders_0's spec
    * declares (id, name), orders_2's (id, status); the union (id, name,
    * status) governs the single from_json, so every field present in the
    * event parses for every table — the merged-schema contract). orders_1
    * is NOT in the spec set, so its statements must be filtered out.
    * Agreement proves routing, filtering, the one-parse merged read, and
    * the seq packing, table-mixed. */
  private def q80(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types._
    val id = StructField("id", LongType)
    val name = StructField("name", StringType)
    val status = StructField("status", StringType)
    val specs = Seq(
      graft.streaming.Analytics.TableSpec("shop", "orders_0",
        StructType(Seq(id, name)), Seq("id")),
      graft.streaming.Analytics.TableSpec("shop", "orders_2",
        StructType(Seq(id, status)), Seq("id")))
    // Same narrow-sort-first shape as q75: the output order (table, seq) is
    // (table, stmt_seq, pair_pos), so range-sorting the raw statements on
    // (table, stmt_seq) before the one-pass render/parse leaves the parsed
    // records already ordered — no sort of the wide parsed rows, no
    // re-execution of the parse subtree for the range sampler.
    graft.streaming.Analytics.multiTableChanges(
        rawFromOrders(s, d).filter(col("table").isin("orders_0", "orders_2"))
          .orderBy("table", "stmt_seq"),
        specs)
      .select(col("table"), col("seq"), col("deleted"),
        col("before.id").as("b_id"), col("before.name").as("b_name"),
        col("before.status").as("b_status"),
        col("after.id").as("a_id"), col("after.name").as("a_name"),
        col("after.status").as("a_status"))
  }

  private val q80Sql = oracleEnvs +
    """SELECT tbl AS "table", (okey*1048576 + j)::BIGINT AS seq,
      |  (action='delete') AS deleted,
      |  CASE WHEN action IN ('update','delete') THEN okey*10+j END::BIGINT AS b_id,
      |  CASE WHEN action IN ('update','delete') THEN 'ord'||okey||'_'||j END AS b_name,
      |  CASE WHEN action IN ('update','delete') THEN status END AS b_status,
      |  CASE WHEN action IN ('insert','update') THEN okey*10+j END::BIGINT AS a_id,
      |  CASE WHEN action IN ('insert','update') THEN 'ord'||okey||'_'||j END AS a_name,
      |  CASE WHEN action='update' THEN 'U' WHEN action='insert' THEN status END AS a_status
      |FROM img WHERE tbl IN ('orders_0','orders_2')
      |ORDER BY "table", seq""".stripMargin

  val all: Seq[QueryDef] = Seq(
    QueryDef("q17_envelope", q17, Some(q17Sql)),
    QueryDef("q18_update_pairs", q18, Some(q18Sql)),
    QueryDef("q19_decode", q19, Some(q19Sql)),
    QueryDef("q20_topic_filter", q20, Some(q20Sql)),
    QueryDef("q32_schema_drift", q32, Some(q32Sql)),
    QueryDef("q64_cdc_apply", q64, Some(q64Sql)),
    QueryDef("q65_cdc_history", q65, Some(q65Sql)),
    QueryDef("q66_cdc_delta_agg", q66, Some(q66Sql)),
    QueryDef("q75_analytics_changes", q75, Some(q75Sql)),
    QueryDef("q80_multi_changes", q80, Some(q80Sql)),
  )
}
