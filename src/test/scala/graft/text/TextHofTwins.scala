package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.text.TextAnalysis.{LangProfiles, Stopwords, wsTokens}

/** Higher-order-function twins of native text expressions, kept solely as
  * independent semantic cross-checks: TextSpec pins native ≡ HOF. */
object TextHofTwins {

  /** Twin of [[TextAnalysis.stopwordRatio]]. */
  def stopwordRatioHof(text: Column): Column = {
    val toks = wsTokens(lower(text))
    val n = size(toks)
    when(n === 0, 0.0).otherwise(
      size(filter(toks, t => array_contains(lit(Stopwords.toArray), t))).cast("double") /
        n.cast("double"))
  }

  /** Twin of [[TextAnalysis.meanWordLen]]. */
  def meanWordLenHof(text: Column): Column = {
    val toks = wsTokens(text)
    val n = size(toks)
    when(n === 0, 0.0).otherwise(
      aggregate(toks, lit(0L), (acc, t) => acc + length(t)).cast("double") /
        n.cast("double"))
  }

  /** Twin of [[TextAnalysis.langId]]. */
  def langIdHof(text: Column): Column = {
    val toks = wsTokens(lower(text))
    val scored = LangProfiles.filter(_._2.nonEmpty).map { case (lang, sw) =>
      struct(
        size(filter(toks, t => array_contains(lit(sw.toArray), t))).as("score"),
        lit(lang).as("lang"))
    }
    val best = array_max(array(scored: _*))
    when(regexp_count(text, lit("[\\x{4E00}-\\x{9FFF}]")) > 0, "zh")
      .when(best.getField("score") > 0, best.getField("lang"))
      .otherwise("und")
  }

  /** The original higher-order-function formulation of
    * [[TextAnalysis.winnowingFingerprints]] (native ≡ HOF bit-for-bit on
    * non-null inputs). */
  def winnowingFingerprintsHof(text: Column, k: Int, w: Int): Column = {
    val n = length(text) - (k - 1)
    val kgrams = when(n > 0,
      transform(sequence(lit(1), n), i => xxhash64(text.substr(i, lit(k)))))
      .otherwise(array().cast("array<bigint>"))
    val m = size(kgrams) - (w - 1)
    when(m > 0,
      array_distinct(transform(sequence(lit(1), m),
        j => array_min(slice(kgrams, j, lit(w))))))
      .otherwise(array_distinct(kgrams))
  }
}
