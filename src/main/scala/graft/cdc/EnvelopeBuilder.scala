package graft.cdc

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Change-event envelope construction (operators O2-O5, O7).
  *
  * Input: a DataFrame of raw statement-level change events, the Spark mirror of
  * go-mysql's `canal.RowsEvent` (`vendor/.../canal/rows.go:17-28`):
  * {{{
  *   database STRING, table STRING,
  *   action   STRING,          -- insert | update | delete | alter
  *   ts       LONG,            -- envelope `time` (unix seconds)
  *   stmt_seq LONG,            -- source (binlog) order of the statement
  *   rows ARRAY<ARRAY<STRUCT<k STRING, v STRING>>>  -- row images; v is a JSON
  *                                                  -- fragment (see Json/Decode)
  * }}}
  *
  * Output: one row PER ENVELOPE — a multi-row statement explodes into N
  * envelopes (`handler.go:137-182`): update rows pair up (even=before,
  * odd=after → one envelope per pair with `old_data`/`new_data`,
  * `handler.go:137-165`), insert/delete emit one per row image, alter emits
  * exactly one with NO event payload (`handler.go:101-110`).
  *
  * JSON key order is alphabetical, matching Go's `json.Marshal` of maps — the
  * reference's observable wire format. The schema-agnostic path is Spark
  * built-ins (higher-order functions + posexplode); the plan-time-schema path
  * ([[envelopesStaticCase]]) renders each image with the [[RowImageJson]]
  * kernel. Both stay partition-local: no shuffle is introduced until/unless
  * the caller asks for a global event index.
  */
object EnvelopeBuilder {

  private val entriesType = "array<struct<k:string,v:string>>"
  private def nullEntries: Column = lit(null).cast(entriesType)

  /** Pair up row images for one statement: update → (before, after) pairs;
    * insert/delete → (row, null); alter → a single (null, null). */
  private def pairs: Column = {
    val rows = col("rows")
    val nPairs = expr("size(rows) div 2")
    when(col("action") === "alter",
        array(struct(nullEntries.as("old"), nullEntries.as("new"))))
      .when(col("action") === "update",
        when(size(rows) >= 2,
          transform(sequence(lit(0), nPairs - 1),
            i => struct(
              try_element_at(rows, (i * 2 + 1).cast("int")).as("old"),
              try_element_at(rows, (i * 2 + 2).cast("int")).as("new"))))
          .otherwise(array().cast(s"array<struct<old:$entriesType,new:$entriesType>>")))
      .otherwise(transform(rows, r => struct(r.as("old"), nullEntries.as("new"))))
  }

  /** The `event` JSON fragment: `{"data":{...}}` for insert/delete,
    * `{"data":{"new_data":{...},"old_data":{...}}}` for update (alphabetical,
    * as `json.Marshal` orders the `data` map), SQL NULL for alter. */
  private def eventJson(old: Column, nw: Column, entriesSorted: Boolean): Column = {
    def obj(e: Column): Column =
      Json.obj(if (entriesSorted) e else Json.sortEntries(e))
    when(col("event_type") === "alter", lit(null).cast("string"))
      .when(col("event_type") === "update",
        concat(lit("{\"data\":{\"new_data\":"), obj(nw),
               lit(",\"old_data\":"), obj(old), lit("}}")))
      .otherwise(concat(lit("{\"data\":"), obj(old), lit("}")))
  }

  /** Explode raw statements into envelopes. Output columns:
    * `database, table, event_type, time, topic, stmt_seq, pair_pos, event`,
    * plus any additional input columns (passed through, e.g. an index base).
    * Partition-local: one `posexplode`, no shuffle.
    *
    * `entriesSorted`: set true ONLY when the producer guarantees every row
    * image's (k, v) entries are already in UTF-8-byte key order (e.g. a
    * fixture built with literally-sorted keys) — the per-image runtime
    * `array_sort` (an interpreted, non-codegen comparator over every entry
    * of every image) is then skipped with byte-identical output. The
    * default sorts, matching `json.Marshal` for arbitrary producers. */
  def envelopes(raw: DataFrame, entriesSorted: Boolean = false): DataFrame =
    raw
      .withColumn("event_type", col("action"))
      .withColumnRenamed("ts", "time")
      // The pair array is computed INLINE in the generator: materializing it
      // through a Project first would serialize the deeply nested
      // array<struct<array<struct>>> into UnsafeRow per statement before
      // exploding (measured 3× slower).
      .select(col("*"), posexplode(pairs).as(Seq("pair_pos", "pair")))
      .withColumn("event",
        eventJson(col("pair.old"), col("pair.new"), entriesSorted))
      // Routing key, `database + "." + table` (`handler.go:89`). The event topic
      // is NOT lowercased — only subscriber patterns are (`node.go:45-46`).
      .withColumn("topic", concat(col("database"), lit("."), col("table")))
      .drop("pair", "action", "rows")

  /** Envelopes emitted by one statement (before exploding): update → pair
    * count, alter → exactly one, else one per row image. */
  def envelopeCount: Column =
    when(col("action") === "alter", lit(1L))
      .when(col("action") === "update", greatest(expr("size(rows) div 2"), lit(0)).cast("long"))
      .otherwise(greatest(size(col("rows")), lit(0)).cast("long"))

  /** Envelopes + dense `event_index` assigned in (stmt_seq, pair_pos) order
    * starting after `startIndex` — the batch mirror of the reference's atomic
    * counter restored from the position cache (`handler.go:264-282`).
    *
    * Index ranges are assigned to STATEMENTS via a scalable prefix sum of the
    * per-statement envelope count, then the explode adds `pair_pos` — the
    * sort/cache covers the statement set, not the 2-3× larger envelope set. */
  def withEventIndex(raw: DataFrame, startIndex: Long = 0L,
                     entriesSorted: Boolean = false): DataFrame =
    withEventIndexManaged(raw, startIndex, entriesSorted)._1

  /** [[withEventIndex]] plus a cleanup handle for the prefix-sum's persisted
    * intermediate. Per-micro-batch callers MUST call it after the batch's
    * consuming action (see [[EventIndexer.prefixSumManaged]]); one-shot query
    * paths may ignore it. */
  def withEventIndexManaged(raw: DataFrame, startIndex: Long = 0L,
                            entriesSorted: Boolean = false): (DataFrame, () => Unit) = {
    val (based, cleanup) = EventIndexer.prefixSumManaged(
      raw.withColumn("__n", envelopeCount),
      Seq(col("stmt_seq")), "__n", "__base", startIndex)
    val out = envelopes(based, entriesSorted)
      .withColumn("event_index", col("__base") + col("pair_pos") + 1)
      .drop("__n", "__base")
    (out, cleanup)
  }

  /** Full envelope serialization (O7): ONE JSON object per envelope, keys in
    * `json.Marshal` (alphabetical) order; alter carries no `event` key
    * (`handler.go:101-110` builds the map without it). */
  def envelopeJson(df: DataFrame): Column =
    concat(
      lit("{\"database\":"), Json.str(col("database")),
      when(col("event").isNull, lit("")).otherwise(concat(lit(",\"event\":"), col("event"))),
      lit(",\"event_index\":"), Json.num(col("event_index")),
      lit(",\"event_type\":"), Json.str(col("event_type")),
      lit(",\"table\":"), Json.str(col("table")),
      lit(",\"time\":"), Json.num(col("time")),
      lit("}"))

  /** Positional raw form → the generic entries form, applying [[Decode]] and
    * short-row NULL padding (`handler.go:146-148,173-176`). Input columns
    * `cols ARRAY<STRUCT<name,rawType,unsigned,enumValues,setValues>>` and
    * `rows ARRAY<ARRAY<STRING>>`; output replaces `rows` with decoded entries.
    * Schema-agnostic; for plan-time-known schemas use [[envelopesStatic]]. */
  def fromPositional(raw: DataFrame): DataFrame =
    raw.withColumn("rows",
        when(col("rows").isNull, lit(null).cast(s"array<$entriesType>"))
          .otherwise(transform(col("rows"), r =>
            transform(col("cols"), (c, i) =>
              struct(c.getField("name").as("k"),
                     Decode.toJsonFragment(try_element_at(r, (i + 1).cast("int")), c).as("v"))))))
      .drop("cols")

  /** The fast-path equivalent of `fromPositional` + [[envelopes]] for a
    * statically-known schema: input has `rows ARRAY<ARRAY<STRING>>`; output is
    * identical to [[envelopes]] (same columns, same JSON bytes).
    *
    * Shape matters: the explode happens FIRST, carrying only row-array
    * references (cheap lambdas); each exploded image is then rendered by the
    * [[RowImageJson]] kernel, whose generated code is one call per image
    * whatever the column count — the stage stays inside whole-stage
    * codegen's method-size limit however many tables and versions it
    * renders, with no interpreted higher-order functions on the hot path. */
  def envelopesStatic(raw: DataFrame, cols: Seq[Decode.ColMeta]): DataFrame =
    envelopesStaticCase(raw, Nil, cols)

  /** [[envelopesStatic]] over several column lists in ONE projection: each
    * row renders with the list of the first `branches` predicate it
    * satisfies, else with `otherwise` — a `CASE` per envelope, so input that
    * mixes tables and schema versions is decoded in a single narrow pass
    * that keeps its partitioning and row order. Predicates may read
    * `database`, `table` and `stmt_seq`. */
  def envelopesStaticCase(raw: DataFrame, branches: Seq[(Column, Seq[Decode.ColMeta])],
                          otherwise: Seq[Decode.ColMeta]): DataFrame = {
    val isUpdate = col("event_type") === "update"
    def updateJson(cols: Seq[Decode.ColMeta]): Column =
      concat(lit("{\"data\":{\"new_data\":"), RowImageJson(col("pair.new"), cols),
             lit(",\"old_data\":"), RowImageJson(col("pair.old"), cols), lit("}}"))
    def rowJson(cols: Seq[Decode.ColMeta]): Column =
      concat(lit("{\"data\":"), RowImageJson(col("pair.old"), cols), lit("}"))
    // one flat CASE: alter, then (update, other) per branch, then `otherwise`
    val event = branches.foldLeft(
        when(col("event_type") === "alter", lit(null).cast("string"))) {
        case (c, (p, cols)) => c.when(p && isUpdate, updateJson(cols)).when(p, rowJson(cols))
      }
      .when(isUpdate, updateJson(otherwise))
      .otherwise(rowJson(otherwise))
    val nPairs = expr("size(rows) div 2")
    val nullRow = lit(null).cast("array<string>")
    val pairs =
      when(col("action") === "alter", array(struct(nullRow.as("old"), nullRow.as("new"))))
        .when(col("action") === "update",
          when(size(col("rows")) >= 2,
            transform(sequence(lit(0), nPairs - 1),
              i => struct(
                try_element_at(col("rows"), (i * 2 + 1).cast("int")).as("old"),
                try_element_at(col("rows"), (i * 2 + 2).cast("int")).as("new"))))
            .otherwise(array().cast(s"array<struct<old:array<string>,new:array<string>>>")))
        .otherwise(transform(col("rows"), r => struct(r.as("old"), nullRow.as("new"))))
    raw
      .withColumn("event_type", col("action"))
      .select(col("database"), col("table"), col("event_type"),
        col("ts").as("time"), col("stmt_seq"),
        posexplode(pairs).as(Seq("pair_pos", "pair")))
      .withColumn("event", event)
      .withColumn("topic", concat(col("database"), lit("."), col("table")))
      .drop("pair")
  }
}
