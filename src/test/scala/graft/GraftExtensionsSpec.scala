package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** SQL surface of the native expressions. Uses registerTemp on the shared
  * test session — `withExtensions` only applies to a NEW session, and under
  * a full suite run `getOrCreate` returns the shared extension-less one
  * (registerTemp exists exactly for that situation). */
class GraftExtensionsSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = {
    val s = graft.SparkSpec.session
    GraftExtensions.registerTemp(s)
    s
  }

  test("custom functions callable from SQL") {
    spark.sparkContext.setLogLevel("WARN")
    val row = spark.sql(
      """SELECT
        |  base26(28L) AS letters,
        |  rolling_hash64('hello') AS rh,
        |  size(minhash_ngrams(array('a','b','c','d'), 2, 16)) AS m,
        |  cosine_sim(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS cos,
        |  sorted_jaccard(ngram_hashes(array('a','b','c'), 2),
        |                 ngram_hashes(array('a','b','c'), 2)) AS jacc,
        |  hyperplane_sig(array(CAST(1.0 AS FLOAT), CAST(0.5 AS FLOAT)), 16, 42L) AS hp,
        |  quant_dot(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)),
        |            array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT)), 2L) AS qd,
        |  quant_norm2(array(CAST(1.5 AS FLOAT)), 2L) AS qn,
        |  size(hyperplane_proj_portable(array(CAST(1.0 AS FLOAT), CAST(0.5 AS FLOAT)), 16, 42L)) AS np
        |""".stripMargin).collect()(0)
    assert(row.getAs[String]("letters") == "ab")
    assert(row.getAs[Long]("rh") == graft.functions.RollingHash.hash(
      org.apache.spark.unsafe.types.UTF8String.fromString("hello")))
    assert(row.getAs[Int]("m") == 16)
    assert(row.getAs[Double]("cos") == 1.0)
    assert(row.getAs[Double]("jacc") == 1.0)
    assert(row.getAs[Long]("hp") != 0L)
    // floor(1·2)·floor(3·2) + floor(2·2)·floor(4·2) = 12 + 32
    assert(row.getAs[Long]("qd") == 44L)
    assert(row.getAs[Long]("qn") == 9L) // floor(1.5·2)² = 9
    assert(row.getAs[Int]("np") == 16)
  }

  test("portable-family and sampling functions callable from SQL") {
    val row = spark.sql(
      """SELECT
        |  simhash64_portable(array('a','b')) AS shp,
        |  size(minhash_ngrams_portable(array('a','b','c','d'), 2, 16)) AS mp,
        |  size(winnow_fingerprints_portable('abcdefghij', 4, 2)) AS wp,
        |  sample_coord(42L) AS sc
        |""".stripMargin).collect()(0)
    assert(row.getAs[Long]("shp") ==
      graft.functions.PortableSimHash.ofArray(
        new org.apache.spark.sql.catalyst.util.GenericArrayData(
          Array[Any](org.apache.spark.unsafe.types.UTF8String.fromString("a"),
            org.apache.spark.unsafe.types.UTF8String.fromString("b")))))
    assert(row.getAs[Int]("mp") == 16)
    assert(row.getAs[Int]("wp") > 0)
    assert(row.getAs[Long]("sc") == graft.functions.Mix64.hash(42L))
    assert(row.getAs[Long]("sc") >= 0L && row.getAs[Long]("sc") < 4294967296L)
  }

  test("round-6 functions callable from SQL (incl. the two aggregates)") {
    val row = spark.sql(
      """SELECT
        |  repetition_stats('a b a b a').n_words AS nw,
        |  repetition_stats('a b a b a').top2_gram AS g2,
        |  hyperplane_sig_portable(array(CAST(0.3 AS FLOAT), CAST(-0.2 AS FLOAT)), 8, 7L) AS hpp,
        |  zval(3L, 5L) AS z
        |""".stripMargin).collect()(0)
    assert(row.getAs[Int]("nw") == 5)
    assert(row.getAs[String]("g2") == "a b")
    assert(row.getAs[Long]("z") == graft.functions.ZOrder.interleave(3L, 5L))
    val agg = spark.sql(
      """SELECT kmv_distinct(k, 8) AS kmv,
        |       bloom_build(k, 1024, 4) AS bf
        |FROM (SELECT CAST(id AS BIGINT) AS k FROM range(0, 100))""".stripMargin)
      .collect()(0)
    assert(agg.getStruct(0).getInt(0) == 8) // saturated at k=8
    val probe = spark.sql(
      """SELECT bloom_might_contain(bf, 5L, 4) AS hit,
        |       bloom_might_contain(bf, 123456789L, 4) AS miss
        |FROM (SELECT bloom_build(k, 16384, 4) AS bf
        |      FROM (SELECT CAST(id AS BIGINT) AS k FROM range(0, 100)))""".stripMargin)
      .collect()(0)
    assert(probe.getBoolean(0) && !probe.getBoolean(1))
  }

  test("subword_stats callable from SQL, whitespace handling matches the kernel") {
    val row = spark.sql(
      "SELECT subword_stats('the  then  a9b').n_words AS nw, " +
        "subword_stats('the  then  a9b').n_subwords AS ns, " +
        "subword_stats('') AS empty").collect()(0)
    assert(row.getAs[Long]("nw") == 3) // double spaces collapse
    assert(row.getAs[Long]("ns") == 1 + 2 + 3) // the | the+n | a,9,b
    assert(row.getStruct(2).getLong(0) == 0 && row.getStruct(2).getLong(1) == 0)
  }

  test("portable hyperplane kernels propagate NULL array elements (round-10 advice)") {
    // a NULL element must null the result, not silently quantize to 0 —
    // the quant_dot/quant_norm2 contract, now shared by sig/proj
    val row = spark.sql(
      """SELECT
        |  hyperplane_sig_portable(array(CAST(0.3 AS FLOAT), CAST(NULL AS FLOAT)), 8, 7L) AS sig,
        |  hyperplane_proj_portable(array(CAST(0.3 AS FLOAT), CAST(NULL AS FLOAT)), 4, 7L) AS proj
        |""".stripMargin).collect()(0)
    assert(row.isNullAt(0) && row.isNullAt(1))
  }

  test("SQL type errors are analysis-time and name the function") {
    val e = intercept[Exception](spark.sql("SELECT base26('not a number')").collect())
    assert(e.getMessage.toLowerCase.contains("base26") ||
      e.getMessage.contains("BIGINT"))
  }
}
