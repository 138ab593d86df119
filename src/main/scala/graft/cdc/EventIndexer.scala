package graft.cdc

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Dense, replay-stable event numbering (operator O6).
  *
  * The reference assigns `event_index` with a single-threaded atomic counter
  * (`/root/reference/src/library/binlog/handler.go:139,168`). A distributed
  * engine cannot funnel every row through one counter, and the naive
  * `row_number() OVER (ORDER BY ...)` collapses the whole dataset into ONE
  * partition — a scale-killer. Instead we do the classic two-job zipWithIndex:
  *
  *  1. range-repartition + sort on the total-order key (global order across
  *     partitions, parallel within);
  *  2. count rows per partition (tiny driver-side array), prefix-sum into
  *     per-partition bases;
  *  3. index = base(partition) + local position, where the local position is
  *     recovered from `monotonically_increasing_id()` (dense within a
  *     partition: id = pid << 33 | local).
  *
  * The sorted frame is persisted so jobs 1 and 2 see identical partitioning
  * (range boundaries are sampled and would not replay identically otherwise).
  * In the streaming path the base additionally includes the restored offset's
  * index, giving continuity across restarts (ST2 semantics).
  *
  * A binlog micro-batch usually arrives ALREADY in that order: the source
  * plans its partitions in byte order and `stmt_seq` is the byte position.
  * [[denseInOrderManaged]] then skips step 1's range shuffle and keeps the
  * source partitions, checking the order instead of imposing it.
  */
object EventIndexer {

  /** Exclusive prefix sum of `weightCol` in `order` order: `outCol` = sum of
    * weights of all STRICTLY EARLIER rows (+ `start`). Used to assign dense
    * envelope index ranges to statements BEFORE the multi-row explode — the
    * sort and cache then cover only statements, not the 2-3× larger envelope
    * set. Same two-job shape as [[dense]]: per-partition totals collected to
    * the driver, within-partition running sums via a window PARTITIONED BY the
    * physical partition (parallel — never a single-partition window). */
  def prefixSum(df: DataFrame, order: Seq[Column], weightCol: String,
                outCol: String, start: Long = 0L): DataFrame =
    prefixSumManaged(df, order, weightCol, outCol, start)._1

  /** [[prefixSum]] plus a cleanup handle that unpersists the internal sorted
    * intermediate. Long-running callers (one call per micro-batch) MUST invoke
    * it once the consuming action finishes, or the cache manager accumulates
    * one pinned frame per trigger; one-shot query paths may ignore it. */
  def prefixSumManaged(df: DataFrame, order: Seq[Column], weightCol: String,
                       outCol: String, start: Long = 0L): (DataFrame, () => Unit) = {
    import org.apache.spark.sql.expressions.Window
    val n = df.sparkSession.sessionState.conf.numShufflePartitions
    // repartitionByRange executes its input TWICE — once for the range
    // sampler, once for the shuffle map stage — so the input is persisted
    // for the sort's duration and computed once (measured: the statement
    // derivation was the bulk of both passes).
    val input = df.persist(StorageLevel.MEMORY_AND_DISK)
    val sorted = input
      .repartitionByRange(n, order: _*)
      .sortWithinPartitions(order: _*)
      .withColumn("__pid", spark_partition_id())
      .persist(StorageLevel.MEMORY_AND_DISK)
    val totals: Array[(Int, Long)] = sorted
      .groupBy(col("__pid")).agg(sum(col(weightCol)).as("w"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    val bases = totals.map(_._2).scanLeft(0L)(_ + _)
    val baseMap: Column =
      if (totals.isEmpty) map()
      else map(totals.map(_._1).zip(bases).flatMap { case (p, b) => Seq(lit(p), lit(b)) }: _*)
    val w = Window.partitionBy(col("__pid")).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    val out = sorted
      .withColumn(outCol,
        element_at(baseMap, col("__pid")) +
          coalesce(sum(col(weightCol)).over(w), lit(0L)) + lit(start))
      .drop("__pid")
    (out, () => { sorted.unpersist(); input.unpersist(); () })
  }

  /** Add a dense 1-based (+ `start`) index column assigned in `order` order.
    * `order` must be a total order (unique key) for a deterministic result. */
  def dense(df: DataFrame, order: Seq[Column], outCol: String, start: Long = 0L): DataFrame =
    denseManaged(df, order, outCol, start)._1

  /** [[dense]] for input whose partitions already follow each other in
    * `order` order, plus the row count per value of the string column
    * `countBy`, and the cleanup handle ([[prefixSumManaged]]'s contract).
    *
    * Each partition is sorted in place (no exchange) and persisted; ONE
    * aggregate per (partition, `countBy`) then returns the row count and the
    * min/max of the LONG leading key `order.head`. When every non-empty
    * partition's key range lies strictly below the next one's, the index is
    * the partition's base plus the row's local position, exactly as in
    * [[denseManaged]] — which is also the fallback when the ranges overlap
    * (a source that does not deliver in order). Either way the result
    * equals [[dense]]'s and the counts come from the same aggregate.
    *
    * The Boolean is true when the in-place branch was taken: the result's
    * partitions then follow each other in `order` order, each sorted within,
    * so concatenating them in partition order (`coalesce(1)`) reads the rows
    * in index order with no further sort. */
  def denseInOrderManaged(df: DataFrame, order: Seq[Column], countBy: String,
                          outCol: String, start: Long = 0L)
      : (DataFrame, Map[String, Long], Boolean, () => Unit) = {
    val local = df.sortWithinPartitions(order: _*)
      .withColumn("__pid", spark_partition_id())
      .withColumn("__mid", monotonically_increasing_id())
      .persist(StorageLevel.MEMORY_AND_DISK)
    // one row per (partition, countBy value): (pid, key, rows, lo, hi)
    val parts = local.groupBy(col("__pid"), col(countBy))
      .agg(count(lit(1)), min(order.head), max(order.head))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val counts = parts.groupMapReduce(_._2)(_._3)(_ + _)
    // per partition, in partition order: (pid, rows, lo, hi)
    val ranges = parts.groupBy(_._1).toSeq.sortBy(_._1).map { case (pid, ps) =>
      (pid, ps.map(_._3).sum, ps.map(_._4).min, ps.map(_._5).max)
    }
    val inOrder = ranges.zip(ranges.drop(1)).forall { case (a, b) => a._4 < b._3 }
    if (inOrder) {
      val bases = ranges.map(_._1).zip(ranges.map(_._2).scanLeft(0L)(_ + _)).toMap
      val out = local
        .withColumn(outCol, element_at(typedLit(bases), col("__pid")) +
          (col("__mid") - shiftleft(col("__pid").cast("long"), 33)) + lit(start + 1))
        .drop("__pid", "__mid")
      (out, counts, true, () => { local.unpersist(); () })
    } else {
      val (out, cleanup) = denseManaged(local.drop("__pid", "__mid"), order, outCol, start)
      (out, counts, false, () => { cleanup(); local.unpersist(); () })
    }
  }

  /** [[dense]] with the same cleanup contract as [[prefixSumManaged]]. */
  def denseManaged(df: DataFrame, order: Seq[Column], outCol: String,
                   start: Long = 0L): (DataFrame, () => Unit) = {
    val n = df.sparkSession.sessionState.conf.numShufflePartitions
    // same compute-once persist as prefixSumManaged: the range sampler and
    // the shuffle map stage would otherwise both execute the input
    val input = df.persist(StorageLevel.MEMORY_AND_DISK)
    val sorted = input
      .repartitionByRange(n, order: _*)
      .sortWithinPartitions(order: _*)
      .withColumn("__pid", spark_partition_id())
      .withColumn("__mid", monotonically_increasing_id())
      .persist(StorageLevel.MEMORY_AND_DISK)
    val counts: Array[(Int, Long)] = sorted
      .groupBy(col("__pid")).count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    val bases = counts.map(_._2).scanLeft(0L)(_ + _)
    val baseMap: Column =
      if (counts.isEmpty) map()
      else map(counts.map(_._1).zip(bases).flatMap { case (p, b) => Seq(lit(p), lit(b)) }: _*)
    val out = sorted
      .withColumn(outCol,
        element_at(baseMap, col("__pid")) +
          (col("__mid") - shiftleft(col("__pid").cast("long"), 33)) + lit(start + 1))
      .drop("__pid", "__mid")
    (out, () => { sorted.unpersist(); input.unpersist(); () })
  }
}
