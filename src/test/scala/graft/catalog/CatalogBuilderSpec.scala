package graft.catalog

import java.sql.Date

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{DateType, IntegerType, StringType}

import graft.SparkSpec

/** E1 over a hand-built Sentinel-2 listing in the reference's 2023 range
  * (53 Thursday bins, 2022-12-29 through the right-closed 2024-01-04), so
  * the binning and labeling edge cases are pinned without the reference
  * goldens. */
class CatalogBuilderSpec extends SparkSpec {
  import spark.implicits._

  private val (firstEdge, nBins) = WeekBins.Ref2023

  test("catalog of a hand-built listing: dropped names, edge bins, skip-empty labels, placeholders") {
    val listing = Seq(
      "not_a_date",                    // unparsable: no date, no row
      "20221228T000000_T00AAA",        // a day before the first edge
      "20240105T000000_T00AAA",        // a day after the last edge
      "20240104T000000_T00AAA",        // the last edge: right-closed bin 52
      "20230110T000000_T00AAA",        // bin 1, given before its week's
      "20230105T000000_T00AAA",        //   first name
      "20221229T000000_T00AAA",        // the first edge: bin 0
      "20230120T000000_T00AAA")        // bin 3; bin 2 is empty
    val cat = CatalogBuilder.build(listing.toDF("data").repartition(3),
      DateParse.s2AcqDate, "P", firstEdge, nBins)

    assert(cat.schema.map(f => f.name -> f.dataType) == Seq(
      "class" -> StringType, "path" -> StringType, "data" -> StringType,
      "date" -> DateType, "bin" -> IntegerType))

    def named(cls: String, name: String, bin: Int) =
      Row(cls, "P", name, Date.valueOf(s"${name.take(4)}-${name.slice(4, 6)}-${name.slice(6, 8)}"), bin)
    def placeholder(bin: Int) = Row("0", "P", "0", null, bin)
    val expected =
      Seq(named("a", "20221229T000000_T00AAA", 0),
        named("b", "20230105T000000_T00AAA", 1),
        named("b", "20230110T000000_T00AAA", 1),
        placeholder(2),
        named("c", "20230120T000000_T00AAA", 3)) ++
      (4 until 52).map(placeholder) :+
      named("d", "20240104T000000_T00AAA", 52)
    assert(cat.collect().toSeq == expected)
  }

  test("week walk: leading and trailing empty bins get 0, the counter skips them") {
    val f = false; val t = true
    assert(CatalogBuilder.weekClasses(Seq(f, f, t, f, t, t, f, f)) ==
      Seq("0", "0", "a", "0", "b", "c", "0", "0"))
    assert(CatalogBuilder.weekClasses(Seq(t)) == Seq("a"))
    assert(CatalogBuilder.weekClasses(Seq.empty) == Seq.empty)
  }

  test("week walk: all bins empty gives all 0") {
    assert(CatalogBuilder.weekClasses(Seq.fill(nBins)(false)) == Seq.fill(nBins)("0"))
  }

  test("week walk: the 26th non-empty bin is z and the 27th is aa") {
    // 27 non-empty bins with an empty one after every ninth
    val flags = (1 to 27).flatMap(i => if (i % 9 == 0) Seq(true, false) else Seq(true))
    val labels = CatalogBuilder.weekClasses(flags).filter(_ != "0")
    assert(labels == ('a' to 'z').map(_.toString) :+ "aa")
    assert(CatalogBuilder.weekClasses(flags).count(_ == "0") == 3)
  }

  test("labeledBins labels every bin with the week walk, an empty input included") {
    val dates = Seq("2022-12-29", "2023-01-05", "2023-01-10", "2023-01-20", "2024-01-04")
      .map(Date.valueOf).toDF("d")
    val got = CatalogBuilder.labeledBins(dates.repartition(3), "d", firstEdge, nBins)
      .orderBy("bin").collect().toSeq
    assert(got.map(_.getInt(0)) == (0 until nBins))
    assert(got.map(_.getString(3)) ==
      CatalogBuilder.weekClasses(got.map(_.getLong(2) > 0)))
    assert(got.map(_.getString(3)).filter(_ != "0") == Seq("a", "b", "c", "d"))

    val empty = CatalogBuilder.labeledBins(dates.limit(0), "d", firstEdge, nBins).collect()
    assert(empty.map(r => (r.getInt(0), r.getLong(2), r.getString(3))).toSeq ==
      (0 until nBins).map(b => (b, 0L, "0")))
  }
}
