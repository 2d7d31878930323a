package graft.pairing

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.catalog.CatalogBuilder.local

/** E2 — the week-class pair join (reference: `images_pair.paths_pair`,
  * data_pair/fct_data_extraction.py:218–248, and `write_dict` ibid.:251–263;
  * SURVEY.md §3 E2, operators O14/O5/O30).
  *
  * The reference runs an O(n·m) nested loop over pandas rows building
  * `dict[L_path -> [S_path…]]`. Here it is a broadcast hash equi-join on
  * `class` + grouped collect — the catalogs are tiny relative to any
  * cluster, so Catalyst broadcasts the S side and no shuffle of the L side
  * is needed beyond the final (small) groupBy.
  *
  * Dict-semantics notes, preserved exactly:
  *   - every L row creates its key even with zero matches (left join,
  *     `collect_list` drops the unmatched NULL → empty array);
  *   - duplicate L paths (the `"0"` placeholder rows) collapse to ONE key at
  *     their first-occurrence position;
  *   - `data_2` order = S row order; within one class the S catalog is
  *     already name-sorted, so `sort_array` reproduces it deterministically
  *     under parallel collection.
  */
object Pairing {

  /** `os.path.join(path, data)` for our inputs (no absolute-path overrides). */
  private def joined(path: Column, data: Column): Column = concat_ws("/", path, data)

  /** Pair table (data_1 STRING, data_2 ARRAY<STRING>) in L-row order,
    * computed once as a local relation (the catalogs are listing-sized).
    * `includePlaceholders=false` filters `class != "0"` first (sane mode,
    * quirk Q2). */
  def pathsPair(l: DataFrame, s: DataFrame, includePlaceholders: Boolean = true): DataFrame = {
    val filt: DataFrame => DataFrame =
      df => if (includePlaceholders) df else df.where(col("class") =!= "0")
    // Dict insertion order is L-row order: `_idx` is each L row's position
    // in the collected order of the filtered L rows, fixed on the driver, so
    // no later plan rewrite (AQE re-partitioning, join reordering) can move it.
    // Dict assignment semantics for duplicate L paths (the placeholder rows):
    // the key sits at its FIRST-occurrence position but holds the matches of
    // its LAST assignment — so dedupe to one row per key before the join
    // (min(_idx) for order, max_by(class, _idx) for the winning class).
    val lp = local(filt(l).select(col("class"), joined(col("path"), col("data")).as("data_1")),
        Some("_idx"))
      .groupBy("data_1")
      .agg(min("_idx").as("_ord"), max_by(col("class"), col("_idx")).as("class"))
    val sp = filt(s)
      .select(col("class"), joined(col("path"), col("data")).as("s_path"))
    local(lp.join(broadcast(sp), Seq("class"), "left")
      .groupBy("data_1", "_ord")
      .agg(sort_array(collect_list("s_path")).as("data_2"))
      .orderBy("_ord")
      .select("data_1", "data_2"))
  }

  /** Python `repr(list[str])` of an array column — the faithful `data_2` CSV
    * cell format (quirk Q3): `['a', 'b']`, `[]` when empty. */
  def pyListRepr(arr: Column): Column =
    concat(lit("["),
      array_join(transform(arr, x => concat(lit("'"), x, lit("'"))), ", "),
      lit("]"))

  /** Inverse of [[pyListRepr]] — the reference re-parses with
    * `split("'")[1::2]` (main_function_original.py:151); here a regex
    * extract of every single-quoted run. */
  def parsePyListRepr(s: Column): Column =
    regexp_extract_all(s, lit("'([^']*)'"), lit(1))

  /** Faithful pair-table CSV sink: (data_1, data_2-as-Python-repr), headered,
    * single file. Python's csv.writer terminates rows with CRLF — match it
    * for byte parity (the golden L/S catalogs, written by pandas, use LF). */
  def writeCompatCsv(pairs: DataFrame, outPath: String): Unit =
    pairs.select(col("data_1"), pyListRepr(col("data_2")).as("data_2"))
      .coalesce(1)
      .write.mode("overwrite").option("header", true)
      .option("lineSep", "\r\n").csv(outPath)

  /** Compat reader: CSV with repr-encoded `data_2` back to ARRAY<STRING>. */
  def readCompatCsv(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    spark.read.option("header", true).csv(path)
      .select(col("data_1"), parsePyListRepr(col("data_2")).as("data_2"))
}
