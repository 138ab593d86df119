package graft.cdc

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Direct tests of the distributed numbering primitives: dense zipWithIndex
  * (shuffled, and in place for input already in order) and exclusive prefix
  * sum — all assigned in total-key order across many partitions, never
  * through a single-partition window. */
class EventIndexerSpec extends SparkSpec {

  private val order = Seq(col("seq"), col("pos"))

  /** `nParts` partitions of statements, partition p holding seq in
    * [p * 1000, p * 1000 + 1000): range-ordered across partitions, shuffled
    * within each. Statements carry 1-3 pairs (`pos`), like multi-row
    * updates exploded in place, and one of three topics. */
  private def rangeOrdered(nParts: Int): DataFrame = {
    import spark.implicits._
    spark.sparkContext.parallelize(0 until nParts, nParts).flatMap { p =>
      val rows = for (j <- 0 until 25; pos <- 0 to j % 3)
        yield (p * 1000L + j * 7L, pos.toLong, s"t${j % 3}")
      new scala.util.Random(p).shuffle(rows)
    }.toDF("seq", "pos", "topic")
  }

  private def triples(df: DataFrame): Seq[(Long, Long, Long)] =
    df.select("seq", "pos", "idx").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted

  private def rangeShuffled(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.toString.contains("rangepartitioning")

  test("denseInOrder: range-ordered partitions are indexed in place and equal dense") {
    val df = rangeOrdered(4)
    val (out, counts, inOrder, cleanup) =
      EventIndexer.denseInOrderManaged(df, order, "topic", "idx", 10L)
    try {
      assert(inOrder)
      val got = triples(out)
      assert(got === triples(EventIndexer.dense(df, order, "idx", 10L)))
      assert(got.map(_._3) === (11L to 10L + got.size))
      assert(!rangeShuffled(out), "in-order input needs no range shuffle")
      assert(counts === df.groupBy("topic").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap)
    } finally cleanup()
  }

  test("denseInOrder: overlapping partitions fall back to the range shuffle, same result") {
    val df = rangeOrdered(4).repartition(3) // round-robin: every range overlaps
    val (out, counts, inOrder, cleanup) =
      EventIndexer.denseInOrderManaged(df, order, "topic", "idx", 0L)
    try {
      assert(!inOrder)
      assert(rangeShuffled(out), "overlapping ranges take the dense fallback")
      assert(triples(out) === triples(EventIndexer.dense(df, order, "idx", 0L)))
      assert(counts.values.sum === df.count())
    } finally cleanup()
  }

  test("denseInOrder: an empty batch indexes to an empty frame with no counts") {
    val df = rangeOrdered(2).filter(lit(false))
    val (out, counts, _, cleanup) = EventIndexer.denseInOrderManaged(df, order, "topic", "idx", 5L)
    try {
      assert(out.count() === 0)
      assert(out.columns.toSeq === Seq("seq", "pos", "topic", "idx"))
      assert(counts.isEmpty)
    } finally cleanup()
  }

  test("denseInOrder: replaying a batch gives the same indices, however it is split") {
    def run(df: DataFrame): Seq[(Long, Long, Long)] = {
      val (out, _, _, cleanup) = EventIndexer.denseInOrderManaged(df, order, "topic", "idx", 42L)
      try triples(out) finally cleanup()
    }
    val first = run(rangeOrdered(4))
    assert(run(rangeOrdered(4)) === first)
    assert(run(rangeOrdered(4).coalesce(2)) === first, "re-planned into fewer splits")
  }

  test("dense: 1..N in key order regardless of input partitioning/order") {
    import spark.implicits._
    val df = (1 to 500).map(i => (i * 7 % 501).toLong).toDF("k").repartition(13)
    val out = EventIndexer.dense(df, Seq(col("k")), "idx", start = 10L)
      .orderBy("k").select("k", "idx")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.map(_._2).toSeq === (11L to 510L))
    assert(out.map(_._1).toSeq === out.map(_._1).sorted.toSeq)
  }

  test("prefixSum: exclusive running sum of weights in key order") {
    import spark.implicits._
    val df = (1L to 200L).map(k => (k, k % 5)).toDF("k", "w").repartition(7)
    val out = EventIndexer.prefixSum(df, Seq(col("k")), "w", "base", start = 100L)
      .orderBy("k").select("k", "w", "base")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    var expect = 100L
    out.foreach { case (k, w, base) =>
      assert(base === expect, s"k=$k")
      expect += w
    }
  }
}
