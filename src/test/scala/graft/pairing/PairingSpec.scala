package graft.pairing

import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.catalog.CatalogBuilder

/** Golden pair-join parity: running O14 over the reference's committed
  * catalogs must reproduce the exact dict the reference's nested loop builds
  * (86 keys in L-row order, one empty list, 194 total matches, placeholder
  * key collecting the 4 S-side placeholder paths). Pinned via an md5 over the
  * canonical `key=v1,v2|...` serialization, computed independently with the
  * reference algorithm.
  */
class PairingSpec extends SparkSpec {
  import spark.implicits._

  private val refDir = graft.catalog.CatalogBuilder.goldenDir

  private def goldCatalog(f: String) = {
    val p = Paths.get(refDir, f)
    if (!Files.exists(p)) None
    else Some(Files.readAllLines(p).asScala.toSeq.drop(1).filter(_.nonEmpty).map { l =>
      val Array(c, pa, d) = l.split(",", 3); (c, pa, d)
    }.toDF("class", "path", "data"))
  }

  test("golden pair table: 86 keys, dict order, md5-pinned contents") {
    (goldCatalog("L_out.csv"), goldCatalog("S_out.csv")) match {
      case (Some(l), Some(s)) =>
        val rows = Pairing.pathsPair(l, s).collect()
          .map(r => (r.getString(0), r.getSeq[String](1)))
        assert(rows.length == 86)
        assert(rows.head._1 == "./2023/crop/L8_bis_crop/HLS.L30.T46RCT.2023001T042927.v2.0")
        assert(rows.head._2 == Seq("./2023/crop/S2_bis_crop/20230104T044201_20230104T044201_T46RCT"))
        assert(rows.count(_._2.isEmpty) == 1)
        assert(rows.map(_._2.size).sum == 194)
        val ph = rows.find(_._1 == "./2023/crop/L8_bis_crop/0").get
        assert(ph._2.size == 4 && ph._2.toSet == Set("./2023/crop/S2_bis_crop/0"))
        val blob = rows.map { case (k, v) => s"$k=${v.mkString(",")}" }.mkString("|")
        val md5 = MessageDigest.getInstance("MD5").digest(blob.getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
        assert(md5 == "9164460bc6d98e44768f241fe2d75d56")
      case _ => pending
    }
  }

  test("sane mode filters placeholder class: 85 keys, 190 matches") {
    (goldCatalog("L_out.csv"), goldCatalog("S_out.csv")) match {
      case (Some(l), Some(s)) =>
        val rows = Pairing.pathsPair(l, s, includePlaceholders = false).collect()
          .map(r => (r.getString(0), r.getSeq[String](1)))
        assert(rows.length == 85)
        assert(rows.map(_._2.size).sum == 190)
      case _ => pending
    }
  }

  /** A hand-built L/S catalog pair in [[graft.catalog.CatalogBuilder.build]]'s
    * (bin, data) order, spread over three partitions: two `"0"` placeholder
    * rows in L, a path `dup` assigned twice with different classes, an L
    * class `D` with no S match, S names unsorted within a class, and a null
    * class on each side (an empty CSV `class` cell), which matches nothing. */
  private def handCatalogs = {
    val l = Seq(
      (0, "A", "l1"), (0, "A", "l2"), (1, "0", "0"), (2, "B", "l3"), (2, "B", "dup"),
      (3, "0", "0"), (4, "C", "dup"), (5, "D", "l4"), (6, null, "l5"))
      .map { case (bin, c, d) => (bin, c, "L", d) }.toDF("bin", "class", "path", "data")
      .repartition(3).orderBy("bin", "data")
    val s = Seq(("A", "s9"), ("B", "s5"), ("A", "s1"), ("0", "0"), ("C", "s7"),
      ("A", "s4"), ("C", "s2"), ("0", "0"), ("B", "s3"), (null, "s6"))
      .map { case (c, d) => (c, "S", d) }.toDF("class", "path", "data")
      .repartition(3)
    (l, s)
  }

  private def pairRows(includePlaceholders: Boolean): Seq[(String, Seq[String])] = {
    val (l, s) = handCatalogs
    Pairing.pathsPair(l, s, includePlaceholders).collect().toSeq
      .map(r => (r.getString(0), r.getSeq[String](1)))
  }

  test("pair dict of a hand-built catalog pair: key at first occurrence, last class, empty array") {
    assert(pairRows(includePlaceholders = true) == Seq(
      "L/l1" -> Seq("S/s1", "S/s4", "S/s9"),
      "L/l2" -> Seq("S/s1", "S/s4", "S/s9"),
      "L/0" -> Seq("S/0", "S/0"),
      "L/dup" -> Seq("S/s2", "S/s7"), // placed at its B row, holds its last (C) class
      "L/l3" -> Seq("S/s3", "S/s5"),
      "L/l4" -> Seq.empty,
      "L/l5" -> Seq.empty)) // a null class keeps its key, matching nothing
    assert(pairRows(includePlaceholders = false) == Seq(
      "L/l1" -> Seq("S/s1", "S/s4", "S/s9"),
      "L/l2" -> Seq("S/s1", "S/s4", "S/s9"),
      "L/dup" -> Seq("S/s2", "S/s7"),
      "L/l3" -> Seq("S/s3", "S/s5"),
      "L/l4" -> Seq.empty))
  }

  test("E1 metrics of a hand-built catalog pair: placeholders, one-sided and null classes") {
    val (l, s0) = handCatalogs
    val s = s0.unionByName(Seq(("E", "S", "s8")).toDF("class", "path", "data")) // S only
    // L: A 2, 0 2, B 2, C 1, D 1, null 1; S: A 3, 0 2, B 2, C 2, E 1, null 1
    assert(CatalogBuilder.pairsMetricFaithful(l, s) == 4 * 3 + 4 * 2 + 4 * 2 + 1 * 2)
    assert(CatalogBuilder.joinCardinality(l, s, includePlaceholders = true) == 6 + 4 + 4 + 2)
    assert(CatalogBuilder.joinCardinality(l, s, includePlaceholders = false) == 6 + 4 + 2)
  }

  test("list-repr codec round-trips through CSV (quirk Q3)") {
    val df = Seq(
      ("a", Seq("x/1", "x/2")),
      ("b", Seq.empty[String]),
      ("c", Seq("solo"))).toDF("data_1", "data_2")
    val out = tempDir("paircsv").toString + "/pairs"
    Pairing.writeCompatCsv(df, out)
    // cell format parity with Python repr
    val reprs = Pairing.pyListRepr($"data_2")
    val cells = df.select(reprs).as[String].collect().toSet
    assert(cells == Set("['x/1', 'x/2']", "[]", "['solo']"))
    val back = Pairing.readCompatCsv(spark, out)
      .collect().map(r => (r.getString(0), r.getSeq[String](1))).toMap
    assert(back("a") == Seq("x/1", "x/2"))
    assert(back("b") == Seq.empty)
    assert(back("c") == Seq("solo"))
  }
}
