package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Entry

/** Interchange-format round-trip rows: the engine writes a table out in a
  * foreign format, reads it back, and aggregates — the oracle computes the
  * SAME aggregate straight from the parquet source, so any value mangled by
  * the write→read cycle (precision loss, encoding, partition mixing)
  * reddens the row. The formats are the two a training-data pipeline
  * actually exchanges: ORC (the other columnar warehouse format) and
  * gzipped JSON-lines (THE corpus interchange format).
  *
  * Sink location is a per-format directory under java.io.tmpdir —
  * driver-local like the q44 warehouse tables; at cluster scale the same
  * code points at a shared FS. Reads use EXPLICIT schemas: schema
  * inference re-scans the whole dataset before the real job (a silent 2×
  * at 100 TB) and types JSON numerics unpredictably — an inferred-schema
  * read is the format-source anti-pattern this module exists to avoid.
  */
object FormatQueries extends graft.QueryModule {

  /** Per-(format, dataset) sink dir — the OpsQueries.suffix convention:
    * concurrent verify runs at different SFs on one host must not clobber
    * each other's round-trip files. */
  private def tmpDir(name: String, dir: String): String =
    new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_fmt_$name${OpsQueries.suffix(dir)}").getAbsolutePath

  val entries: Seq[Entry] = Seq(
    // ORC sink + source: lineitem's numeric/flag columns through a
    // partitioned ORC write (partitionBy exercises directory layout +
    // partition-column recovery on read), then the q01-shape rollup with
    // the decimal-exact float discipline. snappy ORC, one file per
    // partition value at bench scale.
    Entry("q174_orc_roundtrip", (s, dir) => {
      val out = tmpDir("orc", dir)
      s.read.parquet(s"$dir/lineitem.parquet")
        .select(col("l_orderkey"), col("l_returnflag"), col("l_linestatus"),
          col("l_quantity"), col("l_extendedprice"), col("l_discount"))
        .write.mode("overwrite").partitionBy("l_returnflag").orc(out)
      val orcSchema = StructType(Seq(
        StructField("l_orderkey", LongType),
        StructField("l_linestatus", StringType),
        StructField("l_quantity", DoubleType),
        StructField("l_extendedprice", DoubleType),
        StructField("l_discount", DoubleType),
        StructField("l_returnflag", StringType))) // partition col last
      s.read.schema(orcSchema).orc(out)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(20,2)")).cast("double").as("sum_qty"),
          sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .cast("decimal(25,6)")).cast("double").as("sum_disc_price"),
          sum(col("l_orderkey")).as("orderkey_sum"))
        .orderBy("l_returnflag", "l_linestatus")
    }, Some(
      """SELECT l_returnflag, l_linestatus,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(CAST(sum(CAST(l_quantity AS DECIMAL(20,2))) AS DECIMAL(20,2)) AS DOUBLE) AS sum_qty,
        |  CAST(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(25,6))) AS DECIMAL(25,6)) AS DOUBLE) AS sum_disc_price,
        |  CAST(sum(l_orderkey) AS BIGINT) AS orderkey_sum
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // JSONL sink + source: the documents corpus through gzipped
    // JSON-lines (escaping, unicode, compression) and back under an
    // explicit schema; the rollup pins a per-source content fingerprint —
    // md5 over the lexicographically-sorted doc_id:md5(text) pairs — so a
    // single mangled character anywhere in the round-trip flips the row.
    Entry("q175_jsonl_roundtrip", (s, dir) => {
      val out = tmpDir("jsonl", dir)
      s.read.parquet(s"$dir/documents.parquet")
        .write.mode("overwrite").option("compression", "gzip").json(out)
      val docSchema = StructType(Seq(
        StructField("doc_id", LongType),
        StructField("text", StringType),
        StructField("lang", StringType),
        StructField("source", StringType),
        StructField("n_chars", LongType)))
      s.read.schema(docSchema).json(out)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          md5(concat_ws(";", sort_array(collect_list(
            concat(col("doc_id").cast("string"), lit(":"), md5(col("text")))))))
            .as("content_md5"))
        .orderBy("source")
    }, Some(
      """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  md5(string_agg(CAST(doc_id AS VARCHAR) || ':' || md5(text), ';'
        |    ORDER BY CAST(doc_id AS VARCHAR) || ':' || md5(text))) AS content_md5
        |FROM documents GROUP BY source ORDER BY source""".stripMargin)))
}
