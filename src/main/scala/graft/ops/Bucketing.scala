package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bucketed-table helpers for the 100 TB path: persisting both sides of a
  * recurring equi-join bucketed (and sorted) by the join key lets Spark
  * plan a SortMergeJoin with NO Exchange on either side — the shuffle is
  * paid once at write time and amortized over every subsequent join,
  * which is the single biggest lever for repeated fact⋈fact joins at
  * cluster scale (e.g. re-joining the pair table to tile metadata every
  * training refresh).
  *
  * Bucketing requires the session catalog (`saveAsTable`); plain
  * `parquet(path)` writes cannot carry bucket metadata.
  */
object Bucketing {

  /** Persist `df` as a bucketed, sorted managed table (overwrite). The
    * table directory lands in the session warehouse, which the session
    * factory keeps per-process, so no earlier process's table directory
    * can be in the way; a real name collision fails loudly through
    * `saveAsTable`'s LOCATION_ALREADY_EXISTS. */
  def writeBucketed(df: DataFrame, table: String, key: String,
                    nBuckets: Int): Unit =
    df.write
      .mode("overwrite")
      .bucketBy(nBuckets, key)
      .sortBy(key)
      .format("parquet")
      .saveAsTable(table)

  /** Join two same-key bucketed tables — with matching bucket counts the
    * planner elides both Exchanges (verify with
    * `df.queryExecution.executedPlan`: no `Exchange hashpartitioning`).
    * Callers should disable auto-broadcast or use tables above the
    * threshold to see the SortMergeJoin path. */
  def joinBucketed(spark: SparkSession, left: String, right: String,
                   key: String): DataFrame =
    spark.table(left).join(spark.table(right), Seq(key))
}
