package graft.pairing

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** E2 — the week-class pair join (reference: `images_pair.paths_pair`,
  * data_pair/fct_data_extraction.py:218–248, and `write_dict` ibid.:251–263;
  * SURVEY.md §3 E2, operators O14/O5/O30).
  *
  * The reference runs an O(n·m) nested loop over pandas rows building
  * `dict[L_path -> [S_path…]]`. Here Spark projects each catalog to
  * (class, path) in one collect, and the driver builds the same
  * insertion-ordered dict from a class → S paths map: the catalogs are
  * listing-sized, so over local catalogs this runs no Spark job.
  *
  * Dict-semantics notes, preserved exactly:
  *   - every L row creates its key even with zero matches (empty array);
  *   - duplicate L paths (the `"0"` placeholder rows) collapse to ONE key at
  *     their first-occurrence position, holding their last row's matches;
  *   - `data_2` order = S row order; within one class the S catalog is
  *     already name-sorted, so sorting each class's paths (in `sort_array`'s
  *     byte order) reproduces it whatever order the S rows arrive in.
  */
object Pairing {

  /** `os.path.join(path, data)` for our inputs (no absolute-path overrides). */
  private def joined(path: Column, data: Column): Column = concat_ws("/", path, data)

  /** Pair table (data_1 STRING, data_2 ARRAY<STRING>) in L-row order, as a
    * local relation (the catalogs are listing-sized).
    * `includePlaceholders=false` filters `class != "0"` first (sane mode,
    * quirk Q2). */
  def pathsPair(l: DataFrame, s: DataFrame, includePlaceholders: Boolean = true): DataFrame = {
    def paths(df: DataFrame): Array[(String, String)] =
      (if (includePlaceholders) df else df.where(col("class") =!= "0"))
        .select(col("class"), joined(col("path"), col("data")))
        .collect().map(r => (r.getString(0), r.getString(1)))
    // a null class matches nothing, as in an equi-join
    val sByClass = paths(s).toSeq.filter(_._1 != null).groupMap(_._1)(_._2)
      .map { case (c, ps) => c -> ps.sortBy(UTF8String.fromString) }
    // Python dict assignment: a repeated L path keeps its first position and
    // holds the matches of its last class
    val dict = mutable.LinkedHashMap.empty[String, Seq[String]]
    for ((c, p) <- paths(l)) dict(p) = sByClass.getOrElse(c, Nil)
    l.sparkSession.createDataFrame(dict.map { case (k, v) => Row(k, v) }.toSeq.asJava, Schema)
  }

  /** [[pathsPair]]'s columns. */
  private val Schema = StructType(Seq(
    StructField("data_1", StringType, nullable = false),
    StructField("data_2", ArrayType(StringType, containsNull = false), nullable = false)))

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
