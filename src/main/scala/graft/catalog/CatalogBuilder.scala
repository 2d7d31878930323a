package graft.catalog

import java.time.LocalDate

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, IntegerType, StringType, StructField, StructType}

import graft.functions.Base26

/** E1 — the catalog build (reference: `main_fct.SL_create_csv`,
  * main_function_original.py:14–80; SURVEY.md §3 E1).
  *
  * Given a file-name listing for one sensor, produce the weekly-class catalog
  * `(class, path, data)`:
  *   - parse the acquisition date from each name (O10),
  *   - histogram dates into Thursday-anchored weekly bins, keeping empty bins
  *     (O16, SURVEY.md §0.2),
  *   - label bins with bijective base-26 letters where the letter counter
  *     advances only on NON-empty bins; an empty bin gets the literal class
  *     `"0"` and one placeholder row with data `"0"` (O17/O18, SURVEY.md §0.1),
  *   - order rows by (bin, name) — reproducing the reference's sorted-name
  *     row order exactly (main_function_original.py:38–48).
  *
  * Scale note: the catalog is a per-sensor file listing, one row per name
  * plus one per empty week, and [[build]] returns it as a driver-resident
  * local relation, so it is bounded by what the driver holds of the listing
  * (thousands of names here; a few million at most). Computing it is one
  * Spark job over the listing (parse, bin, one sorted partition, collect)
  * and a walk over the bins on the driver, like the reference's own loop.
  */
object CatalogBuilder {

  /** Labeled bin dimension: (bin, bin_start, cnt, class) — [[build]]'s week
    * labeling as a lazy Spark plan, for queries that keep it distributed.
    * The ≤ nBins histogram rows meet in one bin-sorted partition, where
    * [[weekClasses]] labels them. */
  def labeledBins(dates: DataFrame, dateCol: String, firstEdge: LocalDate, nBins: Int): DataFrame = {
    val hist = WeekBins.histogram(dates, dateCol, firstEdge, nBins)
    hist.coalesce(1).sortWithinPartitions("bin")
      .mapPartitions { it =>
        val bins = it.toVector
        bins.zip(weekClasses(bins.map(_.getLong(2) > 0)))
          .map { case (r, cls) => Row.fromSeq(r.toSeq :+ cls) }.iterator
      }(Encoders.row(hist.schema.add("class", StringType)))
  }

  /** The week walk (O17/O18): one class per bin, given each bin's
    * non-empty flag in bin order. A non-empty bin takes the next
    * [[Base26.letters]] label, so the counter skips empty bins; an empty
    * bin gets `"0"`. */
  def weekClasses(nonEmpty: Seq[Boolean]): Seq[String] = {
    var labels = 0L
    nonEmpty.map { n =>
      if (n) { labels += 1; Base26.letters(labels).toString } else "0"
    }
  }

  /** Build one sensor catalog.
    *
    * @param names   DataFrame with a string column `data` (bare entry names)
    * @param dateOf  expression deriving the acquisition date from `data`
    * @param path    the constant parent-dir column value
    * @param firstEdge,nBins  weekly bin range (see WeekBins.numpyWeekRange)
    * @return columns (class, path, data, date, bin) ordered like the golden
    *         CSVs, as a local relation; project (class, path, data) for byte
    *         parity.
    */
  def build(names: DataFrame, dateOf: Column => Column, path: String,
            firstEdge: LocalDate, nBins: Int): DataFrame = {
    // Spark parses and bins every name; the binned names, sorted by
    // (bin, data) in one partition, are the driver's one collect
    val byBin = names
      .select(col("data"), dateOf(col("data")).as("date"))
      .withColumn("bin", WeekBins.weekIndex(col("date"), firstEdge, nBins))
      .where(col("bin").isNotNull) // np.histogram drops out-of-range dates
      .coalesce(1).sortWithinPartitions("bin", "data")
      .collect().groupBy(_.getInt(2))

    // the week walk labels the bins; an empty bin gets one placeholder
    // row (O18)
    val bins = 0 until nBins
    val rows = bins.zip(weekClasses(bins.map(byBin.contains))).flatMap { case (bin, cls) =>
      byBin.get(bin) match {
        case Some(named) => named.map(r => Row(cls, path, r.getString(0), r.get(1), bin)).toSeq
        case None => Seq(Row(cls, path, "0", null, bin))
      }
    }
    names.sparkSession.createDataFrame(rows.asJava, Schema)
  }

  /** [[build]]'s columns. */
  private val Schema = StructType(Seq(
    StructField("class", StringType),
    StructField("path", StringType, nullable = false),
    StructField("data", StringType),
    StructField("date", DateType),
    StructField("bin", IntegerType)))

  /** E1 as the reference runs it (main_code.py:17–21): both sensor catalogs
    * over the 2023 week range, under the reference's parent dirs (the
    * goldens' `path` column).
    * @return (S catalog, L catalog) in [[build]]'s form */
  def reference(s2Names: DataFrame, hlsNames: DataFrame): (DataFrame, DataFrame) = {
    val (edge, n) = WeekBins.Ref2023
    (build(s2Names, DateParse.s2AcqDate, "./2023/crop/S2_bis_crop", edge, n),
      build(hlsNames, DateParse.hlsAcqDate, "./2023/crop/L8_bis_crop", edge, n))
  }

  /** The reference's committed goldens (`S_out.csv`, `L_out.csv`):
    * `GRAFT_REF_DIR`, else the reference checkout's `data_pair`. */
  def goldenDir: String = sys.env.getOrElse("GRAFT_REF_DIR", "/root/reference/data_pair")

  /** O15 — the reference's "pairs" metric, faithful mode (quirk Q1,
    * main_function_original.py:64–70): Σ over L *rows* of
    * count_L(class) × count_S(class) = Σ_c L_c² · S_c, `"0"` classes included.
    * Golden catalogs give 386. */
  def pairsMetricFaithful(l: DataFrame, s: DataFrame): Long =
    sumOverClasses(l, s, includePlaceholders = true)((lc, sc) => lc * lc * sc)

  /** Honest class-join cardinality: Σ_c L_c · S_c; optionally excluding the
    * `"0"` placeholder class (quirk Q2). Golden: 202 with, 190 without. */
  def joinCardinality(l: DataFrame, s: DataFrame, includePlaceholders: Boolean): Long =
    sumOverClasses(l, s, includePlaceholders)(_ * _)

  /** Σ over the classes of both catalogs of `f(L_c, S_c)`, from per-class
    * row counts taken on the driver (collecting a local catalog runs no
    * Spark job). A null class matches nothing, as in an equi-join. */
  private def sumOverClasses(l: DataFrame, s: DataFrame, includePlaceholders: Boolean)(
      f: (Long, Long) => Long): Long = {
    def counts(df: DataFrame): Map[String, Long] =
      df.select("class").collect().toSeq.map(_.getString(0))
        .filter(c => c != null && (includePlaceholders || c != "0"))
        .groupMapReduce(identity)(_ => 1L)(_ + _)
    val sc = counts(s)
    counts(l).iterator.map { case (c, n) => sc.get(c).fold(0L)(f(n, _)) }.sum
  }
}
