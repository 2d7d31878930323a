package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines (north-star
  * extension): token counting, quality scoring, language identification,
  * document fingerprinting. Everything is a narrow per-row projection —
  * embarrassingly parallel, whole-stage codegen'd, no shuffle — which is
  * exactly what a 100 TB text sweep needs.
  *
  * Determinism notes: quality ratios are integer-count divisions (identical
  * doubles on any engine); langId and fingerprints depend on fixed built-in
  * tables/hashes (xxhash64) and are deterministic but engine-specific.
  */
object TextAnalysis {

  // ------------------------------------------------------------- tokens

  /** Whitespace token count (0 for blank). */
  def tokenCountWs(text: Column): Column =
    when(trim(text) === "", 0).otherwise(size(split(trim(text), "\\s+")))

  /** BPE-ish token count: letter runs, digit runs, and single punctuation
    * marks — the standard pre-tokenizer shape, portable across regex
    * engines. */
  val BpeTokenPattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"
  def tokenCountBpe(text: Column): Column = regexp_count(text, lit(BpeTokenPattern))

  /** Whitespace tokens as an array. */
  def wsTokens(text: Column): Column =
    filter(split(text, "\\s+"), t => t =!= "")

  // ------------------------------------------------------------ quality

  /** English stopword core used by the quality heuristic. */
  val Stopwords: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "are", "was",
    "for", "on", "with", "as", "by", "at", "it", "this", "that", "be")

  /** Punctuation-character ratio (count of non-alnum-non-space chars /
    * total chars; 0 for empty). */
  def punctRatio(text: Column): Column = {
    val n = length(text)
    when(n === 0, 0.0).otherwise(
      regexp_count(text, lit("[^A-Za-z0-9\\s]")).cast("double") / n.cast("double"))
  }

  /** Digit-character ratio. */
  def digitRatio(text: Column): Column = {
    val n = length(text)
    when(n === 0, 0.0).otherwise(
      regexp_count(text, lit("[0-9]")).cast("double") / n.cast("double"))
  }

  /** One-pass token statistics struct (ws_tokens, stop_hits, len_sum) —
    * native expression ([[graft.functions.TextStats]]); the HOF ratio forms
    * TextSpec cross-checks it against are interpreted per token and
    * re-tokenize per metric. */
  def textStats(text: Column): Column =
    graft.functions.TextStats.textStats(text, Stopwords)

  /** Fraction of whitespace tokens that are stopwords (lowercased). */
  def stopwordRatio(text: Column): Column =
    stopwordRatioFrom(textStats(text))

  /** [[stopwordRatio]] from an already-computed [[textStats]] struct. */
  def stopwordRatioFrom(st: Column): Column = {
    val n = st.getField("ws_tokens")
    when(n === 0, 0.0).otherwise(
      st.getField("stop_hits").cast("double") / n.cast("double"))
  }

  /** Mean whitespace-token length. */
  def meanWordLen(text: Column): Column =
    meanWordLenFrom(textStats(text))

  /** [[meanWordLen]] from an already-computed [[textStats]] struct. */
  def meanWordLenFrom(st: Column): Column = {
    val n = st.getField("ws_tokens")
    when(n === 0, 0.0).otherwise(
      st.getField("len_sum").cast("double") / n.cast("double"))
  }

  /** Composite quality score in [0,1] — a document looks like prose when it
    * has some stopwords, moderate punctuation, few digits, and word lengths
    * near natural-language norms. Pure rational arithmetic (no exp/log) so
    * engines agree bit-for-bit. */
  def qualityScore(text: Column): Column =
    qualityScoreFrom(textStats(text), punctRatio(text), digitRatio(text))

  /** [[qualityScore]] from pre-computed stats/ratios — lets a query
    * evaluate the one-pass [[textStats]] ONCE per row (a separate
    * projection stops CollapseProject from duplicating the non-cheap
    * expression into every consumer). */
  def qualityScoreFrom(st: Column, pr: Column, dr: Column): Column = {
    val sw = stopwordRatioFrom(st) // prose has some stopwords
    val mw = meanWordLenFrom(st)   // 3..8 is natural
    val swScore = least(sw * 4.0, lit(1.0))
    val prScore = greatest(lit(1.0) - pr * 5.0, lit(0.0)) // punct-heavy → boilerplate
    val drScore = greatest(lit(1.0) - dr * 5.0, lit(0.0)) // digit-heavy → tables/logs
    val mwScore = when(mw >= 3.0 && mw <= 8.0, 1.0)
      .when(mw > 0.0, 0.5).otherwise(0.0)
    swScore * 0.3 + prScore * 0.25 + drScore * 0.25 + mwScore * 0.2
  }

  // -------------------------------------------------------------- langid

  /** Tiny built-in stopword profiles for the n-gram/stopword language
    * heuristic. Coverage: the five labels the synthetic corpus uses. */
  val LangProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "it", "was", "for"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "los", "del", "se", "las"),
    "fr" -> Seq("le", "la", "de", "et", "les", "des", "est", "un", "une", "du"),
    "de" -> Seq("der", "die", "und", "das", "von", "zu", "mit", "den", "ist", "nicht"),
    "zh" -> Seq.empty) // detected by script, below

  /** Language-id heuristic: CJK character presence → zh; otherwise the
    * profile with the highest stopword hit-count. All profiles are scored
    * in ONE native tokenization pass
    * ([[graft.functions.StopwordProfileHits]] — the HOF form re-tokenized
    * per profile; TextSpec keeps it as the cross-check). */
  def langId(text: Column): Column =
    langIdFrom(langProfileHits(text), text)

  /** The one-pass per-profile hit counts (ARRAY<INT> in [[LangProfiles]]
    * order, non-empty profiles only). */
  def langProfileHits(text: Column): Column =
    graft.functions.StopwordProfileHits.profileHits(
      text, LangProfiles.filter(_._2.nonEmpty).map(_._2))

  /** [[langId]] from pre-computed [[langProfileHits]] — queries alias the
    * hits in their own projection so the non-cheap expression is evaluated
    * once per row, not once per struct field. */
  def langIdFrom(hits: Column, text: Column): Column = {
    val scored = LangProfiles.filter(_._2.nonEmpty).zipWithIndex.map {
      case ((lang, _), i) =>
        struct(element_at(hits, i + 1).as("score"), lit(lang).as("lang"))
    }
    // struct max orders by (score, lang): ties pick the lexicographically
    // greatest language — deterministic, documented.
    val best = array_max(array(scored: _*))
    when(regexp_count(text, lit("[\\x{4E00}-\\x{9FFF}]")) > 0, "zh")
      .when(best.getField("score") > 0, best.getField("lang"))
      .otherwise("und")
  }

  // ------------------------------------------------------------ chunking

  /** Overlapping character-window chunks — the standard long-document →
    * training-sample split. Chunk i covers characters
    * [i·(size−overlap), i·(size−overlap)+size); the last chunk may be
    * shorter but every character is covered and consecutive chunks share
    * `overlap` characters. Pure `sequence`+`substring` projection — narrow,
    * codegen'd, embarrassingly parallel. Returns ARRAY<STRING> (callers
    * posexplode into rows). */
  def chunk(text: Column, size: Int, overlap: Int): Column = {
    require(size > overlap && overlap >= 0, "need size > overlap >= 0")
    val stride = size - overlap
    val n = length(text)
    // number of chunks: 1 + ceil(max(0, n - size) / stride); empty text → 0
    val extra = greatest(n - size, lit(0))
    val nChunks = lit(1) + ceil(extra.cast("double") / stride).cast("int")
    // n == 0 guarded separately: sequence(0, -1) would count DOWN
    when(n === 0, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(0), nChunks - 1),
        i => text.substr(i * stride + 1, lit(size))))
  }

  // -------------------------------------------------------- fingerprints

  /** Greedy longest-prefix subword vocabulary for [[subwordCount]] — the
    * WordPiece/BPE-flavored segmentation a token-budget estimate needs
    * beyond whitespace/regex counting. Single letters guarantee progress
    * over ASCII; any other character consumes one CODE POINT as an
    * unknown token. ONE definition: q178's DuckDB oracle interpolates
    * this exact list. */
  val SubwordVocab: Seq[String] =
    ('a' to 'z').map(_.toString) ++ Seq(
      "th", "he", "in", "er", "an", "re", "on", "at", "en", "nd", "ti",
      "es", "or", "te", "of", "ed", "is", "it", "al", "ar", "st", "to",
      "nt", "ng", "se", "ha", "as", "ou", "io", "le", "ve", "co", "me",
      "de", "hi", "ri", "ro", "ic",
      "the", "ing", "and", "ion", "ent", "for", "tio", "ere", "her",
      "ate", "ver", "ter", "est")

  private lazy val subwordMaxLen: Int = SubwordVocab.map(_.length).max

  /** Units as primitive long keys (length-tagged base-2^16 char
    * polynomial — injective over full UTF-16 units, so a non-ASCII char
    * can never alias onto an ASCII vocab key), probed via binary search
    * on a sorted array: zero allocation and zero boxing in the per-token
    * hot loop. The length tag bounds this encoding to units of ≤ 3 UTF-16
    * code units — exactly the built-in [[SubwordVocab]]'s shape; the
    * trained-vocab path ([[subwordCountVocab]]) probes sorted strings
    * instead so unit length is unbounded. */
  private lazy val subwordKeys: Array[Long] = {
    val ks = SubwordVocab.map { u =>
      var k = u.length.toLong
      var i = 0
      while (i < u.length) { k = (k << 16) | u.charAt(i); i += 1 }
      k
    }.toArray
    java.util.Arrays.sort(ks)
    ks
  }

  /** Sorted, deduplicated vocab for [[subwordCountVocab]] — the
    * trained-vocab path (q184): vocab as DATA, not code. Size ceiling
    * 1<<22 units: a subword vocab is broadcast model state like a k-means
    * codebook (real tokenizers ship 30k–256k units); corpus-scale input
    * here means an aggregation is missing upstream, so fail loudly. */
  def buildSubwordVocab(vocab: Seq[String]): Array[String] = {
    val units = vocab.distinct.filter(_.nonEmpty)
    require(units.nonEmpty, "subword vocab is empty")
    require(units.size <= (1 << 22),
      s"subword vocab has ${units.size} units (> ${1 << 22}): a vocab is " +
        "broadcast model state; this is corpus-scale — aggregate it first")
    val arr = units.toArray
    java.util.Arrays.sort(arr, java.util.Comparator.naturalOrder[String]())
    arr
  }

  /** Zero-allocation membership probe: binary search of word[pos, pos+l)
    * against a [[buildSubwordVocab]] array, comparing chars in place
    * (UTF-16 code-unit order — exactly String.compareTo's order, so the
    * probe agrees with the sort). */
  private def vocabContains(
      sorted: Array[String], word: String, pos: Int, l: Int): Boolean = {
    var lo = 0
    var hi = sorted.length - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      val u = sorted(mid)
      var c = 0
      var i = 0
      val n = math.min(u.length, l)
      while (c == 0 && i < n) { c = u.charAt(i) - word.charAt(pos + i); i += 1 }
      if (c == 0) c = u.length - l
      if (c == 0) return true
      if (c < 0) lo = mid + 1 else hi = mid - 1
    }
    false
  }

  /** [[subwordCount]]'s greedy walk against a TRAINED vocab
    * ([[buildSubwordVocab]]): identical semantics — longest matching unit
    * advances, an out-of-vocab character consumes one code point as one
    * unknown token — with unbounded unit length. */
  def subwordCountVocab(word: String, sorted: Array[String], maxLen: Int): Int = {
    var pos = 0
    var n = 0
    while (pos < word.length) {
      var step = 0
      var l = math.min(maxLen, word.length - pos)
      while (l >= 1 && step == 0) {
        if (vocabContains(sorted, word, pos, l)) step = l
        l -= 1
      }
      if (step == 0) step = Character.charCount(word.codePointAt(pos))
      pos += step
      n += 1
    }
    n
  }

  /** Number of greedy longest-prefix subword units in one word: at each
    * position take the longest vocab unit matching the prefix (ties to
    * longest, the WordPiece rule); a character outside the vocab consumes
    * one CODE POINT as an unknown token (a surrogate pair is one unknown,
    * matching the oracle's codepoint semantics) — progress is always ≥ 1,
    * so the walk terminates on any input. */
  def subwordCount(word: String): Int =
    subwordCount(word, subwordKeys, subwordMaxLen)

  /** The long-key walk over the built-in vocab's sorted keys (private:
    * the trained-vocab path is [[subwordCountVocab]]). */
  private def subwordCount(word: String, keys: Array[Long], maxLen: Int): Int = {
    var pos = 0
    var n = 0
    while (pos < word.length) {
      var step = 0
      var l = math.min(maxLen, word.length - pos)
      while (l >= 1 && step == 0) {
        var k = l.toLong
        var i = 0
        while (i < l) { k = (k << 16) | word.charAt(pos + i); i += 1 }
        if (java.util.Arrays.binarySearch(keys, k) >= 0) step = l
        l -= 1
      }
      if (step == 0) step = Character.charCount(word.codePointAt(pos))
      pos += step
      n += 1
    }
    n
  }

  /** 64-bit polynomial rolling hash of the whole (normalized) document —
    * a cheap whole-content fingerprint: h = Σ h·31 + c over UTF-8 bytes,
    * wrapping. */
  def contentFingerprint(text: Column): Column =
    graft.functions.RollingHash.rollingHash64(text)

  /** Winnowing fingerprints (Schleimer/Wilkerson/Aiken): xxhash64 over
    * character k-grams, then the minimum of each sliding window of w
    * hashes, distinct. Robust to local edits; the standard document
    * fingerprint for near-dup/plagiarism sweeps. Native one-pass Catalyst
    * expression ([[graft.functions.Winnow]]) — the HOF composition TextSpec
    * cross-checks it against is interpreted per element and re-scans each
    * window (O(n·w)). */
  def winnowingFingerprints(text: Column, k: Int, w: Int): Column =
    graft.functions.Winnow.winnowingFingerprints(text, k, w)

  /** Portable-hash winnowing: identical window-min + first-occurrence
    * distinct semantics with the rolling 31-hash ([[contentFingerprint]]'s
    * family) as the k-gram hash — plain wrapping integer arithmetic, so a
    * DuckDB oracle reproduces the FULL winnow (q33). xxhash64 stays the
    * production default (stronger mixing). */
  def winnowingFingerprintsPortable(text: Column, k: Int, w: Int): Column =
    graft.functions.Winnow.winnowingFingerprintsPortable(text, k, w)
}
