package graft.text

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.text.TextAnalysis._
import graft.text.TextHofTwins._

class TextSpec extends SparkSpec {
  import spark.implicits._

  private def one[T](c: org.apache.spark.sql.Column, text: String): T =
    Seq(text).toDF("t").select(c.as("v")).collect()(0).getAs[T]("v")

  private def oneSeq(c: org.apache.spark.sql.Column, text: String): Seq[Long] =
    Seq(text).toDF("t").select(c.as("v")).collect()(0).getSeq[Long](0).toSeq

  test("token counts: ws vs bpe-ish") {
    assert(one[Int](tokenCountWs(col("t")), "hello world  foo") == 3)
    assert(one[Int](tokenCountWs(col("t")), "   ") == 0)
    assert(one[Int](tokenCountWs(col("t")), "") == 0)
    // "don't stop, 42 times!" → don|'|t|stop|,|42|times|! = 8
    assert(one[Int](tokenCountBpe(col("t")), "don't stop, 42 times!") == 8)
  }

  test("quality ratios: exact rational arithmetic") {
    assert(one[Double](punctRatio(col("t")), "ab,.") == 2.0 / 4.0)
    assert(one[Double](digitRatio(col("t")), "a1b2") == 2.0 / 4.0)
    assert(one[Double](stopwordRatio(col("t")), "The cat and dog") == 2.0 / 4.0)
    assert(one[Double](meanWordLen(col("t")), "ab abcd") == 3.0)
    val q = one[Double](qualityScore(col("t")),
      "the quick brown fox is on the mat and it runs")
    assert(q > 0.8 && q <= 1.0)
    val junk = one[Double](qualityScore(col("t")), "@@@@ #### $$$$ 1234 5678")
    assert(junk < 0.5)
  }

  test("langid: stopword profiles + CJK detection") {
    assert(one[String](langId(col("t")), "the cat and the dog is in that house") == "en")
    assert(one[String](langId(col("t")), "el perro y la casa de los gatos") == "es")
    assert(one[String](langId(col("t")), "le chat et les maisons des chiens") == "fr")
    assert(one[String](langId(col("t")), "der Hund und die Katze ist nicht zu Hause") == "de")
    assert(one[String](langId(col("t")), "这是 一个 中文 文档") == "zh")
    assert(one[String](langId(col("t")), "xyzzy plugh qwerty") == "und")
  }

  test("langid: native profile scorer ≡ HOF formulation (incl. ties)") {
    val rnd = new scala.util.Random(99L)
    val pool = LangProfiles.flatMap(_._2) ++ Seq("xyzzy", "中文", "la", "der", "THE", "Le")
    val texts = Seq("", " ", "la der", "el le") ++ // engineered score ties
      (1 to 80).map(_ => (0 until (rnd.nextInt(25) + 1))
        .map(_ => pool(rnd.nextInt(pool.size))).mkString(" "))
    val rows = texts.toDF("t")
      .select(langId(col("t")).as("n"), langIdHof(col("t")).as("h")).collect()
    rows.zip(texts).foreach { case (r, t) =>
      assert(r.getString(0) == r.getString(1), s"langId mismatch on '$t'")
    }
  }

  test("fingerprints: content hash deterministic and edit-sensitive; winnowing robust") {
    val a = one[Long](contentFingerprint(col("t")), "hello world")
    val a2 = one[Long](contentFingerprint(col("t")), "hello world")
    val b = one[Long](contentFingerprint(col("t")), "hello world!")
    assert(a == a2 && a != b)
    // winnowing: a local edit preserves most fingerprints
    val t1 = "the quick brown fox jumps over the lazy dog again and again"
    val t2 = "the quick brown fox leaps over the lazy dog again and again"
    val f1 = oneSeq(winnowingFingerprints(col("t"), 8, 4), t1).toSet
    val f2 = oneSeq(winnowingFingerprints(col("t"), 8, 4), t2).toSet
    val overlap = (f1 & f2).size.toDouble / math.max(f1.size, f2.size)
    assert(overlap > 0.5, s"winnowing overlap $overlap")
    // short text below k still yields the k-gram set (possibly empty)
    assert(oneSeq(winnowingFingerprints(col("t"), 8, 4), "short").isEmpty)
  }

  test("text stats: native one-pass expression ≡ HOF ratios bit-for-bit") {
    val rnd = new scala.util.Random(77L)
    val alphabet = "the and of cat DOG 42 !? \t\n\r  aaa The OF "
    val texts = Seq("", " ", "\t\n", "the", " the ", "The Cat AND the dog") ++
      (1 to 80).map(_ => (0 until (rnd.nextInt(60) + 1))
        .map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString)
    val rows = texts.toDF("t").select(
      stopwordRatio(col("t")).as("swN"), stopwordRatioHof(col("t")).as("swH"),
      meanWordLen(col("t")).as("mwN"), meanWordLenHof(col("t")).as("mwH"),
      // NB not tokenCountWs: its trim()-based zero-guard only strips SPACES
      // (quirk mirrored by the q30 oracle); ws_tokens counts real tokens
      size(wsTokens(col("t"))).as("tcW"),
      textStats(col("t")).getField("ws_tokens").as("tcN")).collect()
    rows.zip(texts).foreach { case (r, t) =>
      assert(r.getDouble(0) == r.getDouble(1), s"stopwordRatio '$t'")
      assert(r.getDouble(2) == r.getDouble(3), s"meanWordLen '$t'")
      assert(r.getInt(4) == r.getInt(5), s"tokenCount '$t'")
    }
  }

  test("chunking: full coverage, fixed overlap, short/empty edge cases") {
    def chunks(t: String, size: Int, ov: Int): Seq[String] =
      Seq(t).toDF("t").select(chunk(col("t"), size, ov).as("c"))
        .collect()(0).getSeq[String](0).toSeq
    assert(chunks("", 10, 2).isEmpty)
    assert(chunks("short", 10, 2) == Seq("short"))
    assert(chunks("a" * 10, 10, 2) == Seq("a" * 10))
    val text = (0 until 450).map(i => ('a' + i % 26).toChar).mkString
    val cs = chunks(text, 200, 40)
    assert(cs.head == text.substring(0, 200))
    // stride 160: consecutive chunks share exactly the 40-char overlap
    cs.sliding(2).zipWithIndex.foreach { case (Seq(a, b), i) =>
      assert(a.takeRight(40) == b.take(40), s"overlap broken at $i")
    }
    // concatenating chunk strides reconstructs the document
    assert((cs.init.map(_.take(160)).mkString + cs.last) == text)
  }

  test("winnowing: native expression ≡ HOF formulation bit-for-bit") {
    // deterministic pseudo-random corpus spanning the edge regimes:
    // empty, < k, = k, between k and k+w (m ≤ 0), and long texts with
    // repeated substrings (duplicate hashes exercise distinct-order)
    val rnd = new scala.util.Random(20260812L)
    val alphabet = "abcdef "
    val texts = Seq("", "ab", "abcdefgh", "abcdefghij", "aaaaaaaaaaaaaaaa") ++
      (1 to 60).map(_ => (0 until (rnd.nextInt(80) + 1))
        .map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString)
    for ((k, w) <- Seq((8, 4), (3, 5), (1, 1), (5, 2))) {
      val df = texts.toDF("t")
      val rows = df.select(
        winnowingFingerprints(col("t"), k, w).as("native"),
        winnowingFingerprintsHof(col("t"), k, w).as("hof")).collect()
      rows.zip(texts).foreach { case (r, t) =>
        assert(r.getSeq[Long](0) == r.getSeq[Long](1),
          s"k=$k w=$w text='$t'")
      }
    }
  }

  test("q114 span dedup: cross-doc 8-gram spans, overlap union, short-doc edge") {
    import spark.implicits._
    val dir = tempDir("q114docs").toString
    Seq(
      (1L, "a b c d e f g h x1 y1"), // shares its first 8-gram with doc 2,
      (2L, "z a b c d e f g h w"),   //   all three with doc 5
      (3L, "p q r s t u v w x y"),   // unique — no duplicated span
      (4L, "short doc"),             // < 8 tokens — zero spans
      (5L, "a b c d e f g h x1 y1")  // exact copy of doc 1
    ).toDF("doc_id", "text").write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = graft.SparkEntry.queries("q114_span_dedup")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    // doc 1 ≡ doc 5: all 3 spans duplicated; coverage is the UNION of the
    // overlapping windows (10 tokens, not 3·8=24) — cut_ppm = 1e6
    assert(got(1L) == ((10L, 3L, 3L, 10L, 1000000L)))
    assert(got(5L) == ((10L, 3L, 3L, 10L, 1000000L)))
    // doc 2 shares exactly one 8-gram (at pos 2): coverage 8 of 10 tokens
    assert(got(2L) == ((10L, 3L, 1L, 8L, 800000L)))
    // unique doc and sub-8-token doc both report zeros
    assert(got(3L) == ((10L, 3L, 0L, 0L, 0L)))
    assert(got(4L) == ((2L, 0L, 0L, 0L, 0L)))
  }

  test("q116 quality classifier: exact integer logit, fluent kept, gibberish dropped") {
    import spark.implicits._
    val dir = tempDir("q116docs").toString
    val fluent = "the cat sat on the mat and it was happy to be in the sun"
    val gibber = "zxqwv kjhgfdsapoiuy mnbvcxzlkjhgfdsa qwertyuiopasdfghjklzx"
    Seq((1L, fluent), (2L, gibber), (3L, "")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = graft.SparkEntry.queries("q116_quality_classifier")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getBoolean(6)))).toMap
    // fluent: 14 tokens, 8 stop hits ("the"×3, on, and, it, was, to, be,
    // in = 10 actually — compute from the real list), len_sum = chars
    // minus 13 spaces; assert the logit IS the dot product of the
    // emitted features (internal consistency, weights as deployed)
    got.foreach { case (id, (nTok, stop, lenSum, nChars, logit, keep)) =>
      val expect = -55000L + 9000L * stop + 500L * nTok - 120L * lenSum + 80L * nChars
      assert(logit == expect, s"doc $id logit")
      assert(keep == (logit >= 0), s"doc $id keep flag")
    }
    // the decision discriminates: stopword-rich prose in, gibberish out
    assert(got(1L)._6, "fluent doc kept")
    assert(!got(2L)._6, "gibberish doc dropped")
    // empty doc: all features zero, keep = (bias >= 0) = false
    assert(got(3L) == ((0L, 0L, 0L, 0L, -55000L, false)))
  }

  test("q96 PII redaction: every planted contact found, redacted text is clean") {
    val dir = "/root/testdata/sf0.001"
    val got = graft.SparkEntry.queries("q96_pii_redact")(spark, dir).collect()
    got.foreach { r =>
      val (id, emails, ips) = (r.getLong(0), r.getInt(1), r.getInt(2))
      assert(emails == 1, s"doc $id: $emails emails (one planted)")
      assert(ips == (if (id % 3 == 0) 1 else 0), s"doc $id: $ips ips")
    }
    // scrubbing is complete: re-running detection over the REDACTED text
    // finds nothing (the md5 column proves byte-parity with the oracle;
    // this proves the semantic post-condition)
    val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val ipRe = "\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b"
    val leftover = Seq("a user7@mail.example.com b 10.9.0.7 c").toDF("t")
      .select(
        regexp_count(regexp_replace(regexp_replace(col("t"), emailRe, "<EMAIL>"),
          ipRe, "<IP>"), lit(emailRe)).as("e"),
        regexp_count(regexp_replace(regexp_replace(col("t"), emailRe, "<EMAIL>"),
          ipRe, "<IP>"), lit(ipRe)).as("i"))
      .collect()(0)
    assert(leftover.getInt(0) == 0 && leftover.getInt(1) == 0)
  }

  test("drop ledger 'kept' set ≡ the prep pipeline's output (q126 vs q91)") {
    // the ledger is the pipeline re-expressed as per-doc verdicts; if the
    // stage populations composed differently (keep-min over the wrong
    // cohort, rates over the wrong survivors), the kept sets diverge
    val kept = graft.SparkEntry.queries("q126_drop_ledger")(spark, sfDir)
      .where(col("verdict") === "kept")
      .select("doc_id").as[Long].collect().toSet
    val piped = graft.SparkEntry.queries("q91_prep_pipeline")(spark, sfDir)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == piped,
      s"ledger-only ${(kept -- piped).take(5)}, pipeline-only ${(piped -- kept).take(5)}")
    // every corpus doc gets exactly one verdict
    val n = graft.SparkEntry.queries("q126_drop_ledger")(spark, sfDir).count()
    val corpus = spark.read.parquet(sf("documents"))
      .where(col("source") =!= "src0").count()
    assert(n == corpus)
  }

  test("subwordCount: greedy longest prefix, unknown chars, vocab integrity") {
    import graft.text.TextAnalysis.{subwordCount, SubwordVocab}
    // "the" is a trigram unit → 1; "then" = the + n → 2;
    // "thent" = the + nt → 2 (greedy takes the trigram first)
    assert(subwordCount("the") == 1)
    assert(subwordCount("then") == 2)
    assert(subwordCount("thent") == 2)
    // "ather" = at + her (greedy prefix at each position)
    assert(subwordCount("ather") == 2)
    // single letters always segment (26 fallback units)
    assert(subwordCount("zzzz") == 4)
    assert(subwordCount("z") == 1)
    // out-of-vocab characters consume one position each (no hang)
    assert(subwordCount("a9b") == 3)
    assert(subwordCount("999") == 3)
    assert(subwordCount("") == 0)
    // non-ASCII must NEVER alias onto an ASCII vocab key (round-10
    // review: a masked key made 'té' look like the bigram 'ti')
    assert(subwordCount("té") == 2) // t + unknown é
    // a surrogate pair is ONE unknown token (codepoint semantics — the
    // oracle's len() counts codepoints, not UTF-16 units)
    assert(subwordCount(new String(Character.toChars(0x1F600))) == 1)
    assert(subwordCount("a" + new String(Character.toChars(0x1F600)) + "b") == 3)
    // every vocab unit must segment as itself (key encoding is injective
    // over the vocab — a collision would miscount some unit)
    SubwordVocab.foreach(u => assert(subwordCount(u) == 1, u))
  }

  test("subwordCountVocab: trained-vocab walk ≡ built-in walk on the " +
      "built-in vocab; long units; loud ceilings") {
    import graft.text.TextAnalysis._
    val sorted = buildSubwordVocab(SubwordVocab)
    val maxLen = SubwordVocab.map(_.length).max
    // the sorted-string probe and the long-key probe are independent
    // implementations — on the SAME vocab they must agree everywhere
    val probes = Seq("the", "then", "thent", "ather", "zzzz", "z", "a9b",
      "999", "", "té", "a" + new String(Character.toChars(0x1F600)) + "b") ++
      SubwordVocab
    probes.foreach { w =>
      assert(subwordCountVocab(w, sorted, maxLen) == subwordCount(w), w)
    }
    // unit length is UNBOUNDED on the trained path (the long-key encoding
    // caps at 3; the sorted-string probe must not)
    val big = buildSubwordVocab(Seq("a", "b", "abracadabra"))
    assert(subwordCountVocab("abracadabra", big, 11) == 1)
    assert(subwordCountVocab("abracadabrab", big, 11) == 2) // greedy + b
    assert(subwordCountVocab("ab", big, 11) == 2)           // no "ab" unit
    // dedup + empty-unit filtering, empty-vocab rejection
    assert(buildSubwordVocab(Seq("a", "a", "", "b")).toSeq == Seq("a", "b"))
    intercept[IllegalArgumentException](buildSubwordVocab(Seq("")))
  }

  test("BPE merge kernel: left-to-right non-overlapping, standard rule") {
    import graft.functions.BpeMerge.bpeMerge
    def m(in: Seq[String], l: String, r: String): Seq[String] =
      spark.createDataFrame(Seq(Tuple1(in))).toDF("syms")
        .select(bpeMerge(col("syms"), l, r).as("o"))
        .collect()(0).getSeq[String](0)
    assert(m(Seq("a", "a", "a"), "a", "a") == Seq("aa", "a"))
    assert(m(Seq("a", "a", "a", "a"), "a", "a") == Seq("aa", "aa"))
    assert(m(Seq("a", "b", "a", "b"), "a", "b") == Seq("ab", "ab"))
    assert(m(Seq("x", "y"), "a", "b") == Seq("x", "y"))
    assert(m(Seq("ab"), "a", "b") == Seq("ab")) // no pair, single symbol
    // a merged symbol never re-pairs within the same round
    assert(m(Seq("a", "b", "b"), "a", "b") == Seq("ab", "b"))
  }

  test("BPE training: argmax pair per round, early stop when exhausted") {
    import graft.text.Bpe
    // words: aaab ×3, ab ×2 — hand-traced rounds:
    //  r1: (a,a)=6 beats (a,b)=5 → merge → [aa,a,b]×3, [a,b]×2
    //  r2: (a,b)=5 beats (aa,a)=3 → merge → [aa,ab]×3, [ab]×2
    //  r3: (aa,ab)=3 → merge → [aaab]×3, [ab]×2
    //  r4: no pairs anywhere → early stop (asked for 5, got 3)
    val docs = spark.createDataFrame(Seq(
      (1L, "aaab aaab aaab ab ab"))).toDF("doc_id", "text")
    val merges = Bpe.train(Bpe.wordTable(docs, col("text")), rounds = 5)
    assert(merges == Seq(
      Bpe.Merge(1, "a", "a", 6L),
      Bpe.Merge(2, "a", "b", 5L),
      Bpe.Merge(3, "aa", "ab", 3L)))
    // the word table is case/charset-strict: mixed tokens never train
    val tbl = Bpe.wordTable(spark.createDataFrame(Seq(
      (1L, "ok OK o2k ok"))).toDF("doc_id", "text"), col("text"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(tbl == Map("ok" -> 2L))
  }

  test("BPE application: learned merges in order collapse the hand-traced " +
      "corpus to one token per word") {
    import graft.functions.BpeMerge.bpeMerge
    import graft.text.Bpe
    val docs = spark.createDataFrame(Seq(
      (1L, "aaab aaab aaab ab ab"))).toDF("doc_id", "text")
    val merges = Bpe.train(Bpe.wordTable(docs, col("text")), rounds = 5)
    val init = expr(
      "transform(sequence(1, char_length(word)), i -> substring(word, i, 1))")
    val applied = merges.foldLeft(init) { (c, m) => bpeMerge(c, m.left, m.right) }
    // aaab: [a,a,a,b] →(a,a)→ [aa,a,b] →(a,b)→ [aa,ab] →(aa,ab)→ [aaab];
    // ab:   [a,b] →(a,b)→ [ab] — every instance ends as ONE token
    val out = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .select(size(applied).as("n")).collect().map(_.getInt(0)).toSeq
    assert(out == Seq(1, 1, 1, 1, 1))
  }

  test("q184: trained vocab rides the expression; Spark walk matches a " +
      "hand-built segmentation on a tiny vocab") {
    import graft.functions.Subword
    val df = spark.createDataFrame(Seq(
      (1L, "the cat"), (2L, "thhe"), (3L, ""), (4L, "xx yy"))).toDF("id", "text")
    val vocabDf = spark.createDataFrame(Seq(Tuple1("th"), Tuple1("e"),
      Tuple1("cat"))).toDF("unit")
    val out = df.select(col("id"),
        Subword.subwordStatsVocab(col("text"), vocabDf).as("sw"))
      .select(col("id"), col("sw.n_words"), col("sw.n_subwords"))
      .orderBy("id").collect()
    // "the"=th+e(2), "cat"=cat(1) → 2 words 3 units; "thhe"=th+h?+e —
    // h is NOT in vocab → th(1)+h(unknown,1)+e(1)=3; ""→0 words;
    // "xx yy" → 4 unknown single chars across 2 words
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq((1L, 2L, 3L), (2L, 1L, 3L), (3L, 0L, 0L), (4L, 2L, 4L)))
  }

  test("trainFull: an early-exhausted corpus fails loudly (advisor r11 #2)") {
    import graft.text.Bpe
    // only 3 merges exist (see the hand-traced corpus above); asking for 5
    // must throw instead of letting the Spark side silently apply fewer
    // merges than a generated 5-round oracle replays
    val docs = spark.createDataFrame(Seq(
      (1L, "aaab aaab aaab ab ab"))).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      Bpe.trainFull(Bpe.wordTable(docs, col("text")), rounds = 5)
    }
    assert(e.getMessage.contains("exhausted after 3 of 5"))
    // and a corpus with enough pairs passes through unchanged
    assert(Bpe.trainFull(Bpe.wordTable(docs, col("text")), rounds = 3)
      .map(m => (m.left, m.right)) == Seq(("a", "a"), ("a", "b"), ("aa", "ab")))
  }

  test("q191 closed loop: the vocab the counter consumes IS the trained " +
      "BPE vocabulary (merged symbols + base charset)") {
    import graft.functions.Subword
    import graft.text.Bpe
    val docs = spark.createDataFrame(Seq(
      (1L, "aaab aaab aaab ab ab zq"))).toDF("doc_id", "text")
    val merges = Bpe.trainFull(Bpe.wordTable(docs, col("text")), rounds = 3)
    val vocab = merges.map(m => m.left + m.right) ++ ('a' to 'z').map(_.toString)
    // trained units: aa, ab, aaab. Greedy longest-prefix walk:
    //  "aaab" → "aaab"(1); "ab" → "ab"(1); "zq" → z(1)+q(1)=2
    val out = docs.select(
        Subword.subwordStatsVocab(col("text"), vocab).as("sw"))
      .select(col("sw.n_words"), col("sw.n_subwords")).collect().head
    assert((out.getLong(0), out.getLong(1)) == (6L, 7L))
  }

  test("SubwordStatsVocabExpr canonicalizes structurally (advisor r11 #3)") {
    import graft.functions.Subword
    // two independently built vocab expressions over the same vocab must be
    // semantically equal (Array fields would compare by reference and
    // defeat subexpression elimination)
    import graft.functions.{toExpr, SubwordStatsVocabExpr}
    import graft.text.TextAnalysis.buildSubwordVocab
    import scala.collection.immutable.ArraySeq
    // the same child INSTANCE isolates the vocab field (a Column's origin
    // carries per-call-site stack traces, which differ by construction);
    // the vocab arrays are built independently so reference equality can't
    // mask the regression the advisor flagged
    val child = toExpr(col("text"))
    def vocab(units: String*): IndexedSeq[String] =
      ArraySeq.unsafeWrapArray(buildSubwordVocab(units))
    val a = SubwordStatsVocabExpr(child, vocab("th", "e", "cat"))
    val b = SubwordStatsVocabExpr(child, vocab("th", "e", "cat"))
    assert(a == b)
    assert(a.semanticEquals(b))
    assert(a != SubwordStatsVocabExpr(child, vocab("th", "e")))
  }

  test("markup extraction: strip-before-decode order, amp-last chain, " +
      "malformed markup is data, C4 line rule") {
    def clean(s: String): String =
      one[String](Markup.cleanLine(col("t")), s)
    // strip BEFORE decode: an encoded tag survives as literal text
    assert(clean("<p>a &lt;script&gt; b</p>") == "a <script> b")
    // amp decodes LAST: &amp;lt; is the literal entity, never '<'
    assert(clean("x &amp;lt; y") == "x &lt; y")
    // all five entities + whitespace collapse + trim
    assert(clean("  <b>Tom &amp; Jerry&#39;s\t&quot;hi&quot;</b>  ") ==
      "Tom & Jerry's \"hi\"")
    // malformed: unclosed '<' tail stays verbatim (data, not an error);
    // an attribute '>' inside a quoted value is beyond the regex contract
    assert(clean("broken <tag") == "broken <tag")
    // exotic entities pass through (documented boundary)
    assert(clean("&copy; 2024") == "&copy; 2024")
    // line rule: word minimum AND terminal punctuation
    def kept(s: String): Seq[String] =
      Seq(s).toDF("t").select(Markup.extractText(col("t"), 4).as("v"))
        .collect()(0).getSeq[String](0).toSeq
    val page = Seq(
      "<title>Doc 7</title>",              // 2 words, no punct: drop
      "<nav>Home | About | Contact</nav>", // no terminal punct: drop
      "<p>this line is real prose.</p>",   // kept
      "<p>too short.</p>",                 // 2 words: drop
      "<p>does it end right?</p>",         // kept ('?')
      "var x = {1};"                       // ends ';': drop (code-ish)
    ).mkString("\n")
    assert(kept(page) ==
      Seq("this line is real prose.", "does it end right?"))
  }
}
