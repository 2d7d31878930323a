package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions._

/** SparkSessionExtensions wiring: exposes the engine's native expressions
  * to SQL. Activate with
  * `SparkSession.builder().withExtensions(new GraftExtensions)` or
  * `--conf spark.sql.extensions=graft.GraftExtensions`.
  *
  * SQL surface: base26(n), simhash64_portable(tokens),
  * rolling_hash64(s), minhash_ngrams(tokens, n, m),
  * minhash_ngrams_portable(tokens, n, m), cosine_sim(a, b),
  * ngram_hashes(tokens, n), sorted_jaccard(a, b),
  * hyperplane_sig(vec, nBits, seed), hyperplane_sig_portable(vec, nBits,
  * seed), winnow_fingerprints(s, k, w), winnow_fingerprints_portable(s, k,
  * w), sample_coord(key), text_stats(s), repetition_stats(s), zval(x, y),
  * kmv_distinct(key, k), bloom_build(key, bits, hashes),
  * bloom_might_contain(bitset, key, hashes), misra_gries(item, k),
  * count_min(term, depth, width), hll(key), quant_dot(a, b, scale),
  * quant_norm2(a, scale), hyperplane_proj_portable(vec, nDims, seed).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage,
      "", "", "", "", "", "", "built-in")

  private def intLit(e: Expression, what: String): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Long, _) => v.toInt
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }
  private def longLit(e: Expression, what: String): Long = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v.toLong
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Long, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  private[graft] val fns: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("base26", "base26(n) - bijective base-26 letters of rank n (1 -> a)",
      es => BijectiveBase26(es.head)),
    ("rolling_hash64", "rolling_hash64(s) - polynomial content hash",
      es => RollingHash64(es.head)),
    ("minhash_ngrams", "minhash_ngrams(tokens, n, m) - m-slot MinHash over word n-grams",
      es => MinHashNgrams(es(0), intLit(es(1), "n"), intLit(es(2), "m"))),
    ("cosine_sim", "cosine_sim(a, b) - double cosine of two float/double arrays",
      es => CosineSimExpr(es(0), es(1))),
    ("ngram_hashes", "ngram_hashes(tokens, n) - sorted distinct n-gram hash set",
      es => NgramHashesExpr(es(0), intLit(es(1), "n"))),
    ("sorted_jaccard", "sorted_jaccard(a, b) - exact Jaccard of sorted BIGINT sets",
      es => SortedJaccardExpr(es(0), es(1))),
    ("hyperplane_sig", "hyperplane_sig(vec, nBits, seed) - cosine-LSH sign signature",
      es => HyperplaneSig(es(0), intLit(es(1), "nBits"), longLit(es(2), "seed"))),
    ("winnow_fingerprints", "winnow_fingerprints(s, k, w) - winnowing k-gram fingerprints",
      es => WinnowFingerprints(es(0), intLit(es(1), "k"), intLit(es(2), "w"))),
    ("text_stats", "text_stats(s) - (ws_tokens, stop_hits, len_sum) one-pass token stats",
      es => TextStatsExpr(es.head, graft.text.TextAnalysis.Stopwords)),
    ("simhash64_portable", "simhash64_portable(tokens) - SimHash via the DuckDB-portable hash family",
      es => SimHash64Portable(es.head)),
    ("minhash_ngrams_portable", "minhash_ngrams_portable(tokens, n, m) - MinHash via the portable multiply-add family",
      es => MinHashNgramsPortable(es(0), intLit(es(1), "n"), intLit(es(2), "m"))),
    ("winnow_fingerprints_portable", "winnow_fingerprints_portable(s, k, w) - winnowing with the rolling-31 k-gram hash",
      es => WinnowFingerprints(es(0), intLit(es(1), "k"), intLit(es(2), "w"), portable = true)),
    ("sample_coord", "sample_coord(key) - deterministic sampling coordinate in [0, 2^32)",
      es => SampleCoord(es.head)),
    ("repetition_stats", "repetition_stats(s) - word/distinct counts + top 2-/3-gram (Gopher repetition signals)",
      es => RepetitionStatsExpr(es.head)),
    ("hyperplane_sig_portable", "hyperplane_sig_portable(vec, nBits, seed) - integer-quantized cosine-LSH signature; NULL if vec or any element is NULL",
      es => HyperplanePortableSig(es(0), intLit(es(1), "nBits"), longLit(es(2), "seed"))),
    ("zval", "zval(x, y) - Morton/Z-order interleave of two 16-bit layout keys",
      es => ZValue(es(0), es(1))),
    ("kmv_distinct", "kmv_distinct(key, k) - bottom-k distinct-count sketch (aggregate)",
      es => KmvDistinct(es(0), intLit(es(1), "k")).toAggregateExpression()),
    ("bloom_build", "bloom_build(key, numBits, numHashes) - Bloom bitset of the keys (aggregate)",
      es => BloomBuildAgg(es(0), intLit(es(1), "numBits"),
        intLit(es(2), "numHashes")).toAggregateExpression()),
    ("bloom_might_contain", "bloom_might_contain(bitset, key, numHashes) - Bloom membership probe",
      es => BloomMightContain(es(0), es(1), intLit(es(2), "numHashes"))),
    ("misra_gries", "misra_gries(item, k) - bounded heavy-hitter candidates (aggregate)",
      es => MisraGriesAgg(es(0), intLit(es(1), "k")).toAggregateExpression()),
    ("count_min", "count_min(term, depth, width) - Count-Min frequency sketch matrix (aggregate)",
      es => CountMinAgg(es(0), intLit(es(1), "depth"),
        intLit(es(2), "width")).toAggregateExpression()),
    ("hll", "hll(key) - HyperLogLog register array (aggregate, m=64)",
      es => HllAgg(es.head).toAggregateExpression()),
    ("quant_dot", "quant_dot(a, b, scale) - integer dot of floor(x*scale)-quantized arrays; errors loudly on 64-bit overflow (ANSI-style)",
      es => QuantDotExpr(es(0), es(1), longLit(es(2), "scale"))),
    ("quant_norm2", "quant_norm2(a, scale) - integer squared norm of the quantized array; errors loudly on 64-bit overflow (ANSI-style)",
      es => QuantNorm2Expr(es(0), longLit(es(1), "scale"))),
    ("hyperplane_proj_portable", "hyperplane_proj_portable(vec, nDims, seed) - raw JL integer projections; NULL if vec or any element is NULL",
      es => HyperplanePortableProj(es(0), intLit(es(1), "nDims"), longLit(es(2), "seed"))),
    ("subword_stats", "subword_stats(text) - (n_words, n_subwords) under greedy longest-prefix subword segmentation (q178's vocabulary)",
      es => SubwordStatsExpr(es.head)))

  override def apply(ext: SparkSessionExtensions): Unit =
    fns.foreach { case (name, usage, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info(name, usage),
        (es: Seq[Expression]) => builder(es)))
    }
}

object GraftExtensions {
  /** Register the same functions on an ALREADY-RUNNING session (temp
    * functions) — for notebooks/sessions built without withExtensions. */
  def registerTemp(spark: org.apache.spark.sql.SparkSession): Unit = {
    val ext = new GraftExtensions
    ext.fns.foreach { case (name, _, builder) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        name, es => builder(es), "scala_udf")
    }
  }
}
