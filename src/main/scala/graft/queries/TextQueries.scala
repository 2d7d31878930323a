package graft.queries

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Entry
import graft.SparkEntry.{table => t}
import graft.text.TextAnalysis._

/** Text-analysis queries over `documents`. Token stats, quality scores and
  * language-id are pure integer-count arithmetic over fixed built-in tables
  * → DuckDB oracles compare bit-exactly; the fingerprint queries use the
  * portable rolling-31 hash family so the full winnow semantics get a
  * DuckDB twin too (the xxhash64 production variant is pinned native≡HOF
  * in TextSpec — xxhash64 has no DuckDB equivalent).
  */
object TextQueries extends graft.QueryModule {

  /** q68's fixed keyword query — shared with its oracle SQL. */
  private val Bm25QueryTerms: Seq[String] = Seq("spark", "join", "window")

  /** Word 4-gram set of a whitespace tokenization (empty when < 4 tokens).
    * The explicit size guard matters: Spark's sequence(1, n) with n < 1
    * would DESCEND ([1, 0]) instead of being empty like DuckDB's range. */
  private def wordGrams4(ws: Column): Column =
    when(size(ws) < 4, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), size(ws) - 3),
        i => concat_ws(" ", slice(ws, i, lit(4)))))

  /** q170 PII patterns — identical semantics in Java regex (Spark) and
    * RE2 (DuckDB): character classes, bounded repetition, no backrefs. */
  private val PiiEmail = "[a-z0-9._]+@[a-z0-9.]+"
  private val PiiPhone = "[0-9]{3}-[0-9]{4}"
  private val PiiLongId = "[0-9]{9,}"

  val entries: Seq[Entry] = Seq(
    // MARKUP → TRAINING-TEXT EXTRACTION (round 13): the front-most stage
    // of a web-corpus pipeline (C4-style, Raffel et al. 2020) — strip
    // tags, decode the five XML entities (amp LAST — &amp;lt; must yield
    // the literal &lt;), collapse whitespace, keep prose lines (≥ 4 words
    // + terminal punctuation). The fixture wraps each doc's text in a
    // deterministic page — title/nav/footer boilerplate that the line
    // rule must DROP, an entity-laden prose line it must DECODE AND KEEP,
    // 10-token <p> paragraphs (a short tail paragraph exercises the
    // word-count rule) — built identically in Spark and the oracle, so
    // the extraction chain is compared end-to-end per doc. All codegen'd
    // string functions over the page's line array; text never shuffles
    // (the per-doc rollup is computed in-row).
    Entry("q203_markup_extract", (s, dir) =>
      markupExtracted(s, dir)
        .select(col("doc_id"), col("n_lines"),
          size(col("kept")).cast("long").as("n_kept_lines"),
          expr("aggregate(kept, 0, (a, l) -> a + size(split(l, ' ')))")
            .cast("long").as("n_words_kept"),
          array_join(col("kept"), "\n").as("clean_text"))
        .orderBy("doc_id"), Some(
      // the identical page build (list form — order-preserving, no unnest),
      // then the same strip → decode(amp last) → collapse → trim → prose
      // rule, all as list_transform/list_filter over the page lines
      s"""WITH ${markupOracleCtes()}
        |SELECT doc_id, CAST(n_lines AS BIGINT) AS n_lines,
        |  CAST(len(kept) AS BIGINT) AS n_kept_lines,
        |  CAST(coalesce(list_aggregate(
        |    list_transform(kept, l -> len(string_split(l, ' '))), 'sum'), 0)
        |    AS BIGINT) AS n_words_kept,
        |  array_to_string(kept, chr(10)) AS clean_text
        |FROM kp ORDER BY doc_id""".stripMargin)),

    // WEB-CURATION COMPOSITION (round 13) — the q165 discipline over the
    // round's new stages, composed the way a web corpus is actually
    // built: markup extraction (q203) → drop pages with no prose → exact
    // dedup on the EXTRACTED text (identical pages collapse AFTER
    // boilerplate removal — deduping raw HTML would miss re-skinned
    // copies) → exact-substring span stats (q193's operator, k=8) over
    // the cleaned corpus. Every stage is individually oracle-verified;
    // this row pins their composition end-to-end (one chained SQL replay).
    // GLOBAL PARAGRAPH DEDUP (round 15): cross-document dedup at
    // PARAGRAPH granularity — the CCNet/Dolma discipline that kills
    // shared boilerplate (a paragraph repeated across pages survives only
    // at its earliest (doc, position) occurrence; the fixture's planted
    // entity line, present on EVERY page, demonstrates it: one survivor
    // corpus-wide). Distinct from token-span dedup (q193: fixed-k grams
    // WITHIN continuous text) — the unit here is the extracted prose
    // line. 100 TB shape: the keeper aggregate and its probe see KEYS
    // only ((md5, doc_id, idx) — paragraph text never rides the hash
    // shuffle); kept positions come back as one small per-doc int array,
    // and reassembly filters each doc's own kept-lines array IN PLACE
    // (higher-order filter on the stored array — the corpus text moves
    // exactly once, on the doc_id join). Output: per-doc paragraph
    // counts + the md5 of the cleaned reassembly.
    Entry("q219_paragraph_dedup", (s, dir) => {
      // persisted (advisor r15 #1, the q204/q217 lesson): ext feeds three
      // consumer subtrees — pars→keeper, pars→keptIdx probe, and the final
      // reassembly join — and the string-heavy page build + extraction
      // must not re-run once per subtree. Registry cache contract applies.
      val ext = markupExtracted(s, dir).select(col("doc_id"), col("kept"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val pars = ext
        .select(col("doc_id"), posexplode(col("kept")).as(Seq("idx", "par")))
        .select(col("doc_id"), col("idx"), md5(col("par")).as("h"))
      val keeper = pars.groupBy("h")
        .agg(min(struct(col("doc_id"), col("idx"))).as("k"))
      val keptIdx = pars.join(keeper.hint("shuffle_hash"), Seq("h"))
        .where(col("k.doc_id") === col("doc_id") && col("k.idx") === col("idx"))
        .groupBy("doc_id").agg(sort_array(collect_list(col("idx"))).as("ki"))
      ext.join(keptIdx, Seq("doc_id"), "left")
        .select(col("doc_id"),
          size(col("kept")).cast("long").as("n_pars"),
          coalesce(size(col("ki")), lit(0)).cast("long").as("n_kept"),
          md5(concat_ws(" ", filter(col("kept"), (p, i) =>
            array_contains(
              coalesce(col("ki"), array().cast("array<int>")), i))))
            .as("clean_md5"))
        .orderBy("doc_id")
    }, Some(
      // the shared page/extraction CTEs → 1-based position explode →
      // earliest-(doc,idx) keeper via row_number → per-doc reassembly
      // (string_agg FILTER rn=1 ORDER BY idx), docs with zero survivors
      // kept by the LEFT join with md5('') like the engine's empty filter
      s"""WITH ${markupOracleCtes()},
         |pr AS (
         |  SELECT doc_id, CAST(i - 1 AS INT) AS idx, kept[CAST(i AS INT)] AS par
         |  FROM (SELECT doc_id, kept, unnest(range(1, len(kept) + 1)) AS i
         |        FROM kp) t),
         |rk AS (
         |  SELECT doc_id, idx, par,
         |    row_number() OVER (PARTITION BY md5(par) ORDER BY doc_id, idx) AS rn
         |  FROM pr),
         |ag AS (
         |  SELECT doc_id,
         |    count(*) FILTER (WHERE rn = 1) AS n_kept,
         |    string_agg(par, ' ' ORDER BY idx) FILTER (WHERE rn = 1) AS txt
         |  FROM rk GROUP BY 1)
         |SELECT kp.doc_id, CAST(len(kp.kept) AS BIGINT) AS n_pars,
         |  CAST(coalesce(ag.n_kept, 0) AS BIGINT) AS n_kept,
         |  md5(coalesce(ag.txt, '')) AS clean_md5
         |FROM kp LEFT JOIN ag USING (doc_id)
         |ORDER BY kp.doc_id""".stripMargin)),

    Entry("q204_web_curation", (s, dir) => {
      // the extraction chain feeds the dedup hash projection, the
      // survivor semi-join AND the span tokenization — persist it (the
      // q151/q169 loop-invariant lesson) or the string-heavy page build
      // re-runs once per consumer subtree
      val ext = markupExtracted(s, dir)
        .where(size(col("kept")) > 0)
        .select(col("doc_id"), array_join(col("kept"), " ").as("text"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val surv = graft.dedup.Dedup.exactDedup(ext, col("text"), col("doc_id"))
      graft.dedup.Dedup.spanStats(surv, col("text"), col("doc_id"), k = 8)
        .orderBy("doc_id")
    }, Some(
      // the composed replay: extraction CTEs → non-empty pages → md5
      // min-id exact dedup on the extracted text → the shared span-dedup
      // CTE chain (q193's oracle) over the survivors
      s"""WITH ${markupOracleCtes()},
        |ext AS (
        |  SELECT doc_id, array_to_string(kept, ' ') AS text
        |  FROM kp WHERE len(kept) > 0),
        |reps AS (
        |  SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS rep
        |  FROM ext),
        |surv AS (
        |  SELECT ext.doc_id, ext.text FROM ext
        |  JOIN reps ON reps.doc_id = ext.doc_id AND reps.rep = ext.doc_id),
        |${DedupQueries.spanOracleCtes("surv")},
        |cov AS (
        |  SELECT doc_id, count(DISTINCT p) AS n_covered FROM (
        |    SELECT doc_id, unnest(range(pos, pos + 8)) AS p FROM dups) t
        |  GROUP BY doc_id),
        |dc AS (SELECT doc_id, count(*) AS n_dups FROM dups GROUP BY doc_id)
        |SELECT t.doc_id, CAST(len(t.w) AS BIGINT) AS n_tokens,
        |  CAST(greatest(len(t.w) - 7, 0) AS BIGINT) AS n_grams,
        |  CAST(coalesce(dc.n_dups, 0) AS BIGINT) AS n_dup_spans,
        |  CAST(coalesce(cov.n_covered, 0) AS BIGINT) AS n_covered_tokens,
        |  CAST(len(t.w) - coalesce(cov.n_covered, 0) AS BIGINT) AS n_kept_tokens
        |FROM toks t
        |LEFT JOIN dc USING (doc_id)
        |LEFT JOIN cov USING (doc_id)
        |ORDER BY t.doc_id""".stripMargin)),

    // PII REDACTION AUDIT (round 10): q96 checks per-doc detection +
    // byte-exact scrub of two classes; this is the GOVERNANCE view a
    // release review reads — three ORDERED redaction classes (emails,
    // phone-shaped, 9+-digit identifiers → typed placeholders) rolled up
    // per source, with chars_removed re-deriving the redaction from
    // length arithmetic so pattern or pass-order drift reddens the row.
    // The synthetic corpus carries no PII, so the pipeline PLANTS it
    // deterministically from doc_id (the q70 fixture pattern: fake
    // payload, real operators — concat/when on the engine side, CASE/||
    // in the oracle) and then runs the REAL scrub: three ordered
    // regexp_replace passes + regexp_count footprint columns. One corpus
    // scan, per-source agg — nothing shuffles but the 20-row rollup.
    Entry("q170_pii_redaction", (s, dir) => {
      val planted = t(s, dir, "documents").select(col("doc_id"), col("source"),
        concat(col("text"),
          when(col("doc_id") % 3 === 0,
            concat(lit(" contact user"), col("doc_id").cast("string"),
              lit("@example.com now"))).otherwise(lit("")),
          when(col("doc_id") % 5 === 0,
            concat(lit(" call 555-"),
              lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
              lit(" today"))).otherwise(lit("")),
          when(col("doc_id") % 7 === 0,
            concat(lit(" id 9"),
              lpad((col("doc_id") % 100000000).cast("string"), 8, "0"))
            ).otherwise(lit(""))).as("text"))
      val scrubbed = planted.select(col("doc_id"), col("source"), col("text"),
        regexp_replace(
          regexp_replace(
            regexp_replace(col("text"), lit(PiiEmail), lit("<EMAIL>")),
            lit(PiiPhone), lit("<PHONE>")),
          lit(PiiLongId), lit("<ID>")).as("clean"),
        regexp_count(col("text"), lit(PiiEmail)).as("n_emails"),
        regexp_count(col("text"), lit(PiiPhone)).as("n_phones"),
        regexp_count(col("text"), lit(PiiLongId)).as("n_ids"))
      scrubbed.groupBy("source").agg(
          count(lit(1)).as("n_docs"),
          count(when(col("n_emails") + col("n_phones") + col("n_ids") > 0, 1))
            .as("n_docs_with_pii"),
          sum(col("n_emails").cast("long")).as("n_emails"),
          sum(col("n_phones").cast("long")).as("n_phones"),
          sum(col("n_ids").cast("long")).as("n_ids"),
          sum(length(col("text")).cast("long") - length(col("clean")).cast("long"))
            .as("chars_removed"))
        .orderBy("source")
    }, Some(
      // same planting (CASE/||), same three ordered global regexp_replace
      // passes (RE2 'g' flag = Spark's replace-all default), same patterns
      s"""WITH aug AS (
         |  SELECT doc_id, source,
         |    text ||
         |    CASE WHEN doc_id % 3 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now' ELSE '' END ||
         |    CASE WHEN doc_id % 5 = 0 THEN ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' today' ELSE '' END ||
         |    CASE WHEN doc_id % 7 = 0 THEN ' id 9' || lpad(CAST(doc_id % 100000000 AS VARCHAR), 8, '0') ELSE '' END
         |      AS text2
         |  FROM documents),
         |sc AS (
         |  SELECT doc_id, source, text2,
         |    regexp_replace(regexp_replace(regexp_replace(text2,
         |      '$PiiEmail', '<EMAIL>', 'g'),
         |      '$PiiPhone', '<PHONE>', 'g'),
         |      '$PiiLongId', '<ID>', 'g') AS clean,
         |    len(regexp_extract_all(text2, '$PiiEmail')) AS n_emails,
         |    len(regexp_extract_all(text2, '$PiiPhone')) AS n_phones,
         |    len(regexp_extract_all(text2, '$PiiLongId')) AS n_ids
         |  FROM aug)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(count(CASE WHEN n_emails + n_phones + n_ids > 0 THEN 1 END) AS BIGINT)
         |    AS n_docs_with_pii,
         |  CAST(sum(n_emails) AS BIGINT) AS n_emails,
         |  CAST(sum(n_phones) AS BIGINT) AS n_phones,
         |  CAST(sum(n_ids) AS BIGINT) AS n_ids,
         |  CAST(sum(length(text2) - length(clean)) AS BIGINT) AS chars_removed
         |FROM sc GROUP BY source ORDER BY source""".stripMargin)),

    // SUBWORD TOKEN COUNTING (round 10): the real token-budget estimate —
    // greedy longest-prefix segmentation against a fixed WordPiece-style
    // vocabulary (TextAnalysis.SubwordVocab: letters + frequent English
    // bi/trigram merges; out-of-vocab chars consume one position as an
    // unknown token, so the walk terminates on ANY input). q30's
    // whitespace/regex counts approximate budgets; this is what a
    // tokenizer actually charges. One narrow kernel map per doc — the
    // oracle replays the greedy walk with a recursive CTE over word
    // instances against the SAME interpolated vocabulary.
    Entry("q178_subword_count", (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          graft.functions.Subword.subwordStats(col("text")).as("sw"))
        // NULL text → 0/0, matching the oracle's LEFT JOIN + coalesce
        .select(col("doc_id"),
          coalesce(col("sw.n_words"), lit(0L)).as("n_words"),
          coalesce(col("sw.n_subwords"), lit(0L)).as("n_subwords"))
        .orderBy("doc_id"), Some(
      // the greedy walk as a recursive CTE: one row per (word instance,
      // step); the longest matching unit advances pos, unknown chars
      // advance 1; the terminal row (pos > len) carries the unit count
      s"""WITH RECURSIVE units(unit) AS (
         |  VALUES ${graft.text.TextAnalysis.SubwordVocab.map(u => s"('$u')").mkString(", ")}),
         |wi AS (
         |  SELECT doc_id, i, w[i] AS word FROM (
         |    SELECT doc_id, w, generate_subscripts(w, 1) AS i FROM
         |      (SELECT doc_id, string_split(text, ' ') AS w FROM documents) t0) t
         |  WHERE w[i] <> ''),
         |seg AS (
         |  SELECT doc_id, i, word, 1 AS pos, 0 AS n FROM wi
         |  UNION ALL
         |  SELECT doc_id, i, word,
         |    pos + coalesce((SELECT max(len(unit)) FROM units
         |                    WHERE unit = substr(word, pos, len(unit))), 1),
         |    n + 1
         |  FROM seg WHERE pos <= len(word)),
         |fin AS (SELECT doc_id, i, n FROM seg WHERE pos > len(word))
         |SELECT d.doc_id,
         |  CAST(coalesce(count(fin.i), 0) AS BIGINT) AS n_words,
         |  CAST(coalesce(sum(fin.n), 0) AS BIGINT) AS n_subwords
         |FROM documents d LEFT JOIN fin USING (doc_id)
         |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin)),

    // SUBWORD VOCAB AS DATA (round 11, judge r10 Next #5): the production
    // tokenization shape — the vocab is a TABLE loaded at runtime, not a
    // literal in the code. Here it is TRAINED in-query so the oracle can
    // regenerate it: single letters a–z (progress guarantee) plus the
    // corpus's top-40 lowercase-letter bigrams by frequency (ties to the
    // lexicographically smaller gram). The training pass's HOF transform
    // is interpreted per element — acceptable for a once-per-corpus
    // aggregation (the per-doc segmentation itself is the native
    // sorted-string-probe kernel). The trained table collapses to ≤ 66
    // driver rows → rides the serialized expression like a k-means
    // codebook; loud 1<<22 ceiling in buildSubwordVocab.
    Entry("q184_subword_vocab_data", (s, dir) => {
      val docs = t(s, dir, "documents")
      val words = docs
        .select(explode(split(col("text"), " ")).as("w"))
        .where(col("w") =!= "")
      // length-1 words carry no bigram; the >= 2 guard also keeps
      // sequence() from counting DOWN on (1, 0)
      val grams = words.where(length(col("w")) >= 2)
        .select(explode(expr(
          "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"))
          .as("g"))
        .where(col("g").rlike("^[a-z]{2}$"))
      val top = grams.groupBy("g").agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("g").asc).limit(40).select("g")
      val letters = s.createDataset(('a' to 'z').map(_.toString))(
        org.apache.spark.sql.Encoders.STRING).toDF("g")
      val sw = graft.functions.Subword
        .subwordStatsVocab(col("text"), top.union(letters))
      docs.select(col("doc_id"), sw.as("sw"))
        .select(col("doc_id"),
          coalesce(col("sw.n_words"), lit(0L)).as("n_words"),
          coalesce(col("sw.n_subwords"), lit(0L)).as("n_subwords"))
        .orderBy("doc_id")
    }, Some(
      // q178's recursive-CTE walk with the vocab REGENERATED from the
      // corpus: the same top-40 lowercase-bigram training (count DESC,
      // gram ASC — the unique-gram tiebreak makes the rank-40 cut
      // deterministic on both engines) unioned with letters a-z
      """WITH RECURSIVE wi AS (
        |  SELECT doc_id, i, w[i] AS word FROM (
        |    SELECT doc_id, w, generate_subscripts(w, 1) AS i FROM
        |      (SELECT doc_id, string_split(text, ' ') AS w FROM documents) t0) t
        |  WHERE w[i] <> ''),
        |bg AS (
        |  SELECT unnest(list_transform(range(1, len(word)),
        |    j -> substr(word, CAST(j AS INT), 2))) AS g
        |  FROM wi WHERE len(word) >= 2),
        |topg AS (SELECT g FROM (
        |  SELECT g, count(*) AS c FROM bg WHERE regexp_matches(g, '^[a-z]{2}$')
        |  GROUP BY g ORDER BY c DESC, g ASC LIMIT 40)),
        |units AS (SELECT g AS unit FROM topg
        |  UNION ALL SELECT chr(96 + CAST(x AS INT)) FROM range(1, 27) t(x)),
        |seg AS (
        |  SELECT doc_id, i, word, 1 AS pos, 0 AS n FROM wi
        |  UNION ALL
        |  SELECT doc_id, i, word,
        |    pos + coalesce((SELECT max(len(unit)) FROM units
        |                    WHERE unit = substr(word, pos, len(unit))), 1),
        |    n + 1
        |  FROM seg WHERE pos <= len(word)),
        |fin AS (SELECT doc_id, i, n FROM seg WHERE pos > len(word))
        |SELECT d.doc_id,
        |  CAST(coalesce(count(fin.i), 0) AS BIGINT) AS n_words,
        |  CAST(coalesce(sum(fin.n), 0) AS BIGINT) AS n_subwords
        |FROM documents d LEFT JOIN fin USING (doc_id)
        |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin)),

    // BPE MERGE LEARNING (round 11): q184 LOADS a trained vocab; q185
    // TRAINS one — 5 standard BPE rounds (count adjacent symbol pairs
    // weighted by word frequency → merge the argmax pair everywhere →
    // repeat) over the corpus's unique-word table. Rounds are sequential
    // by definition (each merge changes the next counts); per-round
    // driver state is ONE row. Output is the learned merge table; the
    // oracle replays the identical 5 rounds in chained SQL CTEs, with
    // merge application as non-overlapping string replace over
    // ()-delimited symbols — exactly the kernel's left-to-right rule
    // ([a,a,a] + (a,a) → [aa,a]).
    Entry("q185_bpe_train", (s, dir) => {
      val merges = graft.text.Bpe.train(
        graft.text.Bpe.wordTable(t(s, dir, "documents"), col("text")),
        rounds = 5)
      s.createDataFrame(merges)
        .select(col("round"), col("left").as("merge_l"),
          col("right").as("merge_r"), col("cnt"))
        .orderBy("round")
    }, Some(
      // 5 BPE rounds replayed as chained CTEs (generated — see
      // Bpe.oracleSql for the replace-over-delimited-symbols merge rule)
      graft.text.Bpe.oracleSql(5))),

    // BPE AT A REALISTIC MERGE COUNT (round 14, judge r13 Next #6): q185's
    // 5 rounds demonstrate the operator; real tokenizers train thousands.
    // This row runs 64 merges — same algorithm, same 1-row-per-round
    // driver state — so the cost model is MEASURED, not asserted: each
    // round is one pair-count aggregation over the vocabulary-sized word
    // table plus one argmax round-trip, linear in rounds (the BASELINE.md
    // round-cost curve records the per-round constant and the 100 TB
    // extrapolation next to the PQ capacity rule). The oracle is the same
    // generated CTE chain at 64 rounds — 64 chained
    // count→argmax→merge-apply CTEs, exhaustion-consistent on both sides
    // (a corpus that runs out of pairs stops emitting rows identically).
    Entry("q211_bpe_train_deep", (s, dir) => {
      val merges = graft.text.Bpe.train(
        graft.text.Bpe.wordTable(t(s, dir, "documents"), col("text")),
        rounds = 64)
      s.createDataFrame(merges)
        .select(col("round"), col("left").as("merge_l"),
          col("right").as("merge_r"), col("cnt"))
        .orderBy("round")
    }, Some(
      // the same generated chain at the realistic depth
      graft.text.Bpe.oracleSql(64))),

    // BPE APPLICATION (round 11): q185's learned merges applied to the
    // corpus — true BPE tokenization (merges in LEARNED ORDER, each a
    // chained left-to-right kernel pass), which is NOT q178/q184's greedy
    // longest-prefix walk. Per doc: its [a-z]+ word instances (the trained
    // charset) and their total BPE token count; docs with no training
    // words keep a 0/0 row. Training re-runs in-query (deterministic), so
    // the oracle replays train + apply in one generated SQL.
    Entry("q186_bpe_apply", (s, dir) => {
      import graft.functions.BpeMerge.bpeMerge
      val docs = t(s, dir, "documents")
      // trainFull: the generated oracle interpolates exactly 5 merge
      // rounds, so an early-exhausted corpus must fail loudly here
      // (advisor r11 #2) instead of silently applying fewer merges
      val merges = graft.text.Bpe.trainFull(
        graft.text.Bpe.wordTable(docs, col("text")), rounds = 5)
      val init = expr(
        "transform(sequence(1, char_length(word)), i -> substring(word, i, 1))")
      val applied = merges.foldLeft(init) { (c, m) => bpeMerge(c, m.left, m.right) }
      val perDoc = docs
        .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
        // \A..\z (not ^..$): Java's $ matches before a trailing newline —
        // see Bpe.wordTable; the two filters must agree or a "bar\n" token
        // would be counted here but never trained
        .where(col("word").rlike("\\A[a-z]+\\z"))
        .select(col("doc_id"), size(applied).as("n"))
        .groupBy("doc_id").agg(
          count(lit(1)).as("n_words"), sum(col("n").cast("long")).as("n_bpe_tokens"))
      docs.select(col("doc_id")).join(perDoc, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_words"), lit(0L)).as("n_words"),
          coalesce(col("n_bpe_tokens"), lit(0L)).as("n_bpe_tokens"))
        .orderBy("doc_id")
    }, Some(
      // train-replay CTEs + per-word-instance application + per-doc rollup
      graft.text.Bpe.applyOracleSql(5))),

    // THE CLOSED BPE LOOP (round 12, judge r11 Next #3): train → EXPORT the
    // trained vocabulary as a table → segment → count. q185 learns merges,
    // q186 applies them in learned order; here the trained vocabulary (the
    // merged symbols plus the a-z base charset) is exported as the vocab
    // TABLE subwordStatsVocab consumes — the vocab the counter segments
    // with IS the trained BPE vocabulary, not a separately derived one
    // (q184's letters+top-40-bigrams). Segmentation is the greedy
    // longest-prefix walk (the inference-time shape: WordPiece-style
    // longest-match against a trained vocab), distinct from q186's
    // merge-order replay. Training rides the unique-word table (corpus
    // collapses first — the 100 TB shape); the exported vocab is ≤ 31
    // driver rows riding the serialized expression like a k-means
    // codebook. Oracle replays train + export + walk in one generated SQL
    // (Bpe.segmentOracleSql).
    Entry("q191_bpe_vocab_segment", (s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = graft.text.Bpe.trainFull(
        graft.text.Bpe.wordTable(docs, col("text")), rounds = 5)
      val letters = s.createDataset(('a' to 'z').map(_.toString))(
        org.apache.spark.sql.Encoders.STRING).toDF("unit")
      val vocabDf = s.createDataFrame(merges)
        .select(concat(col("left"), col("right")).as("unit"))
        .union(letters)
      val sw = graft.functions.Subword.subwordStatsVocab(col("text"), vocabDf)
      docs.select(col("doc_id"), sw.as("sw"))
        .select(col("doc_id"),
          coalesce(col("sw.n_words"), lit(0L)).as("n_words"),
          coalesce(col("sw.n_subwords"), lit(0L)).as("n_subwords"))
        .orderBy("doc_id")
    }, Some(
      // train-replay CTEs + vocab export (merged symbols ∪ a-z) + q178's
      // greedy longest-prefix recursive-CTE walk against that vocabulary
      graft.text.Bpe.segmentOracleSql(5))),

    Entry("q30_token_stats", (s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        length(col("text")).as("n_chars"),
        tokenCountWs(col("text")).as("ws_tokens"),
        tokenCountBpe(col("text")).as("bpe_tokens"))
        .orderBy("doc_id"), Some(
      """SELECT doc_id, length(text) AS n_chars,
        |  CASE WHEN trim(text) = '' THEN 0
        |       ELSE len(string_split_regex(trim(text), '\s+')) END AS ws_tokens,
        |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS bpe_tokens
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // textStats evaluated ONCE per row in its own projection (non-cheap
    // expression → CollapseProject keeps it), ratios derived from the struct
    Entry("q31_text_quality", (s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        textStats(col("text")).as("st"),
        punctRatio(col("text")).as("punct_ratio"),
        digitRatio(col("text")).as("digit_ratio"))
        .select(
          col("doc_id"),
          col("punct_ratio"),
          col("digit_ratio"),
          stopwordRatioFrom(col("st")).as("stopword_ratio"),
          meanWordLenFrom(col("st")).as("mean_word_len"),
          qualityScoreFrom(col("st"), col("punct_ratio"), col("digit_ratio")).as("quality"))
        .orderBy("doc_id"), Some(
      s"""WITH base AS (
         |  SELECT doc_id, text, length(text) AS n,
         |    list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS toks,
         |    list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS rawtoks
         |  FROM documents),
         |m AS (
         |  SELECT doc_id,
         |    CASE WHEN n = 0 THEN 0.0
         |         ELSE len(regexp_extract_all(text, '[^A-Za-z0-9\\s]'))::DOUBLE / n END AS punct_ratio,
         |    CASE WHEN n = 0 THEN 0.0
         |         ELSE len(regexp_extract_all(text, '[0-9]'))::DOUBLE / n END AS digit_ratio,
         |    CASE WHEN len(toks) = 0 THEN 0.0
         |         ELSE len(list_filter(toks, x -> list_contains($StopwordsSql, x)))::DOUBLE / len(toks) END AS stopword_ratio,
         |    CASE WHEN len(rawtoks) = 0 THEN 0.0
         |         ELSE list_aggregate(list_transform(rawtoks, x -> length(x)), 'sum')::DOUBLE / len(rawtoks) END AS mean_word_len
         |  FROM base)
         |SELECT doc_id, punct_ratio, digit_ratio, stopword_ratio, mean_word_len,
         |  least(stopword_ratio * 4.0, 1.0) * 0.3
         |    + greatest(1.0 - punct_ratio * 5.0, 0.0) * 0.25
         |    + greatest(1.0 - digit_ratio * 5.0, 0.0) * 0.25
         |    + (CASE WHEN mean_word_len >= 3.0 AND mean_word_len <= 8.0 THEN 1.0
         |            WHEN mean_word_len > 0.0 THEN 0.5 ELSE 0.0 END) * 0.2 AS quality
         |FROM m ORDER BY doc_id""".stripMargin)),

    // profile hits evaluated once per row (own projection, like q31's st)
    Entry("q32_langid", (s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"), col("text"), langProfileHits(col("text")).as("h"))
        .select(col("doc_id"), langIdFrom(col("h"), col("text")).as("lang_pred"))
        .orderBy("doc_id"), Some(
      // stopword-profile scoring + CJK script check — pure portable counting
      s"""WITH base AS (
         |  SELECT doc_id, text,
         |    list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS toks
         |  FROM documents),
         |scored AS (
         |  SELECT doc_id, text, list_aggregate($LangCandsSql, 'max') AS best
         |  FROM base)
         |SELECT doc_id,
         |  CASE WHEN len(regexp_extract_all(text, '[\\x{4E00}-\\x{9FFF}]')) > 0 THEN 'zh'
         |       WHEN best.score > 0 THEN best.lang
         |       ELSE 'und' END AS lang_pred
         |FROM scored ORDER BY doc_id""".stripMargin)),

    // winnowing with the PORTABLE rolling-31 k-gram hash (full DuckDB twin:
    // window-min + first-occurrence distinct, pinned by count, xor and min
    // of the fingerprint set — xor/min are order-free so list_distinct
    // ordering can't matter). The xxhash64 production variant is pinned
    // native≡HOF in TextSpec. The winnow array is evaluated in its own
    // projection (non-cheap expression — one evaluation, three consumers).
    Entry("q33_fingerprint", (s, dir) =>
      t(s, dir, "documents").select(
          col("doc_id"),
          contentFingerprint(col("text")).as("content_fp"),
          winnowingFingerprintsPortable(col("text"), k = 8, w = 4).as("fps"))
        .select(col("doc_id"), col("content_fp"),
          size(col("fps")).as("n_winnowed"),
          aggregate(col("fps"), lit(0L), (a, x) => a.bitwiseXOR(x)).as("fp_xor"),
          array_min(col("fps")).as("fp_min"))
        .orderBy("doc_id"), Some(
      // Full winnow twin (k=8, w=4): each k-gram's rolling 31-hash is ONE
      // polynomial in HUGEINT — seed·31^8 + Σ code·31^j < 2^100 fits 128-bit,
      // so a single mod 2^64 at the end is exact (mod is +/×-homomorphic) —
      // then CONVERTED TO SIGNED before the window minima (Spark compares
      // Longs signed; an unsigned min would pick different fingerprints),
      // sliding-window min over w=4, distinct, count/xor/min. Degenerate
      // cases mirror the expression: fewer grams than a window → distinct
      // gram hashes; no grams → empty set (xor 0, min NULL). ASCII corpus:
      // per-character code points equal unsigned UTF-8 bytes (same
      // assumption as q35, verified by q35 staying green).
      """WITH g AS (
        |  SELECT doc_id, text,
        |    list_transform(
        |      list_transform(range(1, greatest(length(text) - 7, 0) + 1), i ->
        |        (1125899906842597::HUGEINT * 852891037441
        |         + ascii(substr(text, CAST(i AS INT), 1))::HUGEINT     * 27512614111
        |         + ascii(substr(text, CAST(i + 1 AS INT), 1))::HUGEINT * 887503681
        |         + ascii(substr(text, CAST(i + 2 AS INT), 1))::HUGEINT * 28629151
        |         + ascii(substr(text, CAST(i + 3 AS INT), 1))::HUGEINT * 923521
        |         + ascii(substr(text, CAST(i + 4 AS INT), 1))::HUGEINT * 29791
        |         + ascii(substr(text, CAST(i + 5 AS INT), 1))::HUGEINT * 961
        |         + ascii(substr(text, CAST(i + 6 AS INT), 1))::HUGEINT * 31
        |         + ascii(substr(text, CAST(i + 7 AS INT), 1))::HUGEINT
        |        ) % 18446744073709551616::HUGEINT),
        |      h -> CAST(CASE WHEN h >= 9223372036854775808::HUGEINT
        |                     THEN h - 18446744073709551616::HUGEINT
        |                     ELSE h END AS BIGINT)) AS grams
        |  FROM documents),
        |w AS (
        |  SELECT doc_id, text,
        |    CASE WHEN len(grams) >= 4 THEN
        |      list_transform(range(1, len(grams) - 2), j ->
        |        list_aggregate(grams[CAST(j AS INT):CAST(j + 3 AS INT)], 'min'))
        |    ELSE grams END AS mins
        |  FROM g),
        |d AS (SELECT doc_id, text, list_distinct(mins) AS fps FROM w),
        |cf AS (
        |  SELECT doc_id,
        |    CAST(CASE WHEN h >= 9223372036854775808::HUGEINT
        |              THEN h - 18446744073709551616::HUGEINT ELSE h END AS BIGINT) AS content_fp
        |  FROM (
        |    SELECT doc_id,
        |      list_reduce(
        |        list_prepend(CAST(1125899906842597 AS HUGEINT),
        |          list_transform(range(1, length(text) + 1), i -> CAST(ascii(substr(text, CAST(i AS INT), 1)) AS HUGEINT))),
        |        (a, b) -> (a * 31 + b) % 18446744073709551616::HUGEINT) AS h
        |    FROM documents))
        |SELECT d.doc_id, cf.content_fp,
        |  CAST(len(fps) AS INT) AS n_winnowed,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT), fps), (a, b) -> xor(a, b)) AS fp_xor,
        |  list_aggregate(fps, 'min') AS fp_min
        |FROM d JOIN cf ON d.doc_id = cf.doc_id
        |ORDER BY d.doc_id""".stripMargin)),

    // overlapping character-window chunking (200-char windows, 40 overlap)
    // — long-document → training-sample split, one row per chunk
    // Gopher-style repetition signals: duplicate-word mass and the
    // character fraction of the most-repeated word 2-/3-gram — the standard
    // boilerplate/spam drop filters for web-scale corpora. One native pass
    // per row (struct in its own projection); fractions are single
    // divisions of exact integers → bit-identical across engines.
    Entry("q57_repetition", (s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"), length(col("text")).as("n_chars"),
        graft.functions.Repetition.repetitionStats(col("text")).as("rep"))
        .select(
          col("doc_id"),
          col("rep.n_words").as("n_words"),
          col("rep.n_distinct_words").as("n_distinct_words"),
          ((col("rep.n_words") - col("rep.n_distinct_words")).cast("double") /
            col("rep.n_words").cast("double")).as("dup_word_frac"),
          col("rep.top2_gram").as("top2_gram"),
          col("rep.top2_cnt").as("top2_cnt"),
          ((col("rep.top2_cnt") * length(col("rep.top2_gram"))).cast("double") /
            col("n_chars").cast("double")).as("top2_frac"),
          col("rep.top3_gram").as("top3_gram"),
          col("rep.top3_cnt").as("top3_cnt"),
          ((col("rep.top3_cnt") * length(col("rep.top3_gram"))).cast("double") /
            col("n_chars").cast("double")).as("top3_frac"))
        .orderBy("doc_id"), Some(
      // tokenization is string_split(text, ' ') on BOTH sides by design (the
      // native expression mirrors it, empty tokens kept); top-gram ties break
      // (count DESC, gram binary-ASC) identically
      """WITH d AS (SELECT doc_id, text, string_split(text, ' ') AS ws, length(text) AS nc FROM documents),
        |w AS (SELECT doc_id, len(ws) AS n_words, len(list_distinct(ws)) AS n_distinct FROM d),
        |g2 AS (SELECT doc_id, unnest(list_transform(range(1, len(ws)), i -> array_to_string(ws[i:i+1], ' '))) AS gram FROM d),
        |c2 AS (SELECT doc_id, gram, count(*) AS c FROM g2 GROUP BY doc_id, gram),
        |t2 AS (SELECT doc_id, gram, c FROM (
        |  SELECT doc_id, gram, c, row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, gram ASC) AS rn FROM c2) WHERE rn = 1),
        |g3 AS (SELECT doc_id, unnest(list_transform(range(1, len(ws) - 1), i -> array_to_string(ws[i:i+2], ' '))) AS gram FROM d),
        |c3 AS (SELECT doc_id, gram, count(*) AS c FROM g3 GROUP BY doc_id, gram),
        |t3 AS (SELECT doc_id, gram, c FROM (
        |  SELECT doc_id, gram, c, row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, gram ASC) AS rn FROM c3) WHERE rn = 1)
        |SELECT d.doc_id, CAST(w.n_words AS INT) AS n_words,
        |  CAST(w.n_distinct AS INT) AS n_distinct_words,
        |  CAST(w.n_words - w.n_distinct AS DOUBLE) / CAST(w.n_words AS DOUBLE) AS dup_word_frac,
        |  t2.gram AS top2_gram, CAST(t2.c AS INT) AS top2_cnt,
        |  CAST(t2.c * length(t2.gram) AS DOUBLE) / CAST(d.nc AS DOUBLE) AS top2_frac,
        |  t3.gram AS top3_gram, CAST(t3.c AS INT) AS top3_cnt,
        |  CAST(t3.c * length(t3.gram) AS DOUBLE) / CAST(d.nc AS DOUBLE) AS top3_frac
        |FROM d JOIN w USING (doc_id)
        |LEFT JOIN t2 USING (doc_id) LEFT JOIN t3 USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin)),

    // TF-IDF-style distinctive terms: top-3 terms per document by
    // tf·(N+1)/(df+1). The idf is the LINEAR inverse-frequency form, not
    // log — same rarer-is-more-distinctive ordering, but the score is ONE
    // division of exact integers → bit-identical in DuckDB (ln() last-ulp
    // differences across libm builds would break hash parity). Map-side
    // combinable aggs; the vocab→df join broadcasts (term dictionaries
    // grow sublinearly — Heaps' law — so the build side stays small
    // relative to the corpus even at 100 TB).
    Entry("q58_tfidf_topk", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val nDocs = docs.count() // parquet metadata count — no scan
      val tf = docs
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val w = Window.partitionBy("doc_id")
        .orderBy(col("score").desc, col("term").asc)
      tf.join(broadcast(dfreq), "term")
        .withColumn("score",
          (col("tf") * (nDocs + 1)).cast("double") / (col("df") + 1))
        .withColumn("rnk", row_number().over(w))
        .where(col("rnk") <= 3)
        .select("doc_id", "rnk", "term", "tf", "df", "score")
        .orderBy("doc_id", "rnk")
    }, Some(
      // score = tf·(N+1)/(df+1): one division of exact integers (see the
      // query registration for why linear idf, not log)
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        |scored AS (
        |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
        |    CAST(tf.tf * ((SELECT count(*) FROM documents) + 1) AS DOUBLE) / (df.df + 1) AS score
        |  FROM tf JOIN df USING (term))
        |SELECT doc_id, rnk, term, tf, df, score FROM (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rnk
        |  FROM scored)
        |WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin)),

    // inverted-index build: term → (df, postings ordered by doc_id with
    // term frequencies) — the retrieval-side materialization of q58's
    // statistics. One explode + two map-side-combinable aggregations; each
    // posting list is bounded by the term's df (at 100 TB, shard hot terms'
    // lists into fixed-size blocks at write time — the build shape is
    // unchanged). sort_array on (doc_id, tf) structs orders by doc_id. The
    // built lists are posexploded back to flat (term, df, pos, doc_id, tf)
    // rows for the oracle compare (a nested list-of-struct column defeats
    // the harness's lexsort), which also round-trip-checks the list order.
    Entry("q67_inverted_index", (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        .groupBy("term", "doc_id").agg(count(lit(1)).as("tf"))
        .groupBy("term").agg(
          count(lit(1)).as("df"),
          sort_array(collect_list(struct(col("doc_id"), col("tf")))).as("postings"))
        .select(col("term"), col("df"),
          posexplode(col("postings")).as(Seq("pos", "p")))
        .select(col("term"), col("df"), col("pos").cast("int").as("pos"),
          col("p.doc_id").as("doc_id"), col("p.tf").as("tf"))
        .orderBy("term", "pos"), Some(
      """WITH tf AS (
        |  SELECT term, doc_id, count(*) AS tf
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
        |  GROUP BY term, doc_id),
        |d AS (SELECT term, count(*) AS df FROM tf GROUP BY term)
        |SELECT tf.term, d.df,
        |  CAST(row_number() OVER (PARTITION BY tf.term ORDER BY tf.doc_id) - 1 AS INT) AS pos,
        |  tf.doc_id, tf.tf
        |FROM tf JOIN d USING (term)
        |ORDER BY term, pos""".stripMargin)),

    // BM25-style keyword retrieval: top-20 docs for a fixed 3-term query.
    // Classic BM25 term saturation (k1=1.2, b=0.75) with the LINEAR idf
    // (N−df+0.5)/(df+0.5) — same monotonicity, no ln() (cross-libm ulp
    // drift); each term's double score is floored to integer micro-units
    // BEFORE the per-doc sum, so the aggregation is order-free integer
    // addition (a double sum's association order differs between Spark's
    // partial aggregation and DuckDB — floors make that unobservable).
    // Shape: tf filter → broadcast df join → narrow scoring → TakeOrdered.
    Entry("q68_bm25_topk", (s, dir) => {
      val qterms = Bm25QueryTerms
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val withDl = docs.select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("dl"),
        col("text"))
      val Row(sumDl: Long, nDocs: Long) = withDl
        .agg(sum(col("dl")), count(lit(1))).head()
      val avgdl = sumDl.toDouble / nDocs // one division — portable
      val tf = withDl
        .select(col("doc_id"), col("dl"),
          explode(split(col("text"), " ")).as("term"))
        .where(col("term").isin(qterms: _*))
        .groupBy("doc_id", "dl", "term").agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy("term").agg(countDistinct(col("doc_id")).as("df"))
      val idf = ((lit(nDocs) - col("df")).cast("double") + lit(0.5)) /
        (col("df").cast("double") + lit(0.5))
      val tfsat = (col("tf").cast("double") * lit(2.2)) /
        (col("tf").cast("double") +
          lit(1.2) * (lit(0.25) + (lit(0.75) * col("dl").cast("double")) / lit(avgdl)))
      tf.join(broadcast(dfreq), "term")
        .withColumn("s_term", floor(lit(1000000.0) * idf * tfsat))
        .groupBy("doc_id").agg(sum(col("s_term")).as("score_micro"),
          count(lit(1)).as("n_terms_hit"))
        .orderBy(col("score_micro").desc, col("doc_id"))
        .limit(20)
        .select("doc_id", "n_terms_hit", "score_micro")
    }, Some(
      // float factors mirror the Spark expression TREE op-for-op (each IEEE
      // op is exactly rounded, so identical trees ⇒ identical doubles); the
      // floor-to-micro-units before the sum makes aggregation order moot
      s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
         |       WHERE term IN (${Bm25QueryTerms.map(t => s"'$t'").mkString(", ")})
         |       GROUP BY doc_id, term),
         |dfq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term),
         |dl AS (SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents),
         |g AS (SELECT CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl, count(*) AS n FROM dl),
         |scored AS (
         |  SELECT tf.doc_id,
         |    CAST(floor(1000000.0 *
         |      ((CAST(g.n - dfq.df AS DOUBLE) + 0.5) / (CAST(dfq.df AS DOUBLE) + 0.5)) *
         |      ((CAST(tf.tf AS DOUBLE) * 2.2) /
         |       (CAST(tf.tf AS DOUBLE) + 1.2 * (0.25 + (0.75 * CAST(dl.dl AS DOUBLE)) / g.avgdl)))
         |    ) AS BIGINT) AS s_term
         |  FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id), g)
         |SELECT doc_id, count(*) AS n_terms_hit, CAST(sum(s_term) AS BIGINT) AS score_micro
         |FROM scored GROUP BY doc_id
         |ORDER BY score_micro DESC, doc_id LIMIT 20""".stripMargin)),

    // per-source DATA CARD: the one-pass dataset documentation artifact a
    // training corpus ships with — volume, token mass, exact-dup rate,
    // declared-language mix, quality mass, length envelope. Integer-only
    // aggregates (quality floored to micro-units per doc BEFORE the sum)
    // so every column is bit-portable; one map-side-combinable pass plus
    // the (source, md5) dedup shuffle.
    Entry("q73_data_card", (s, dir) => {
      val scored = t(s, dir, "documents")
        .select(col("source"), col("lang"), col("n_chars"),
          col("text"), textStats(col("text")).as("st"),
          punctRatio(col("text")).as("pr"), digitRatio(col("text")).as("dr"))
        .select(col("source"), col("lang"), col("n_chars"),
          col("st.ws_tokens").as("toks"),
          md5(col("text")).as("h"),
          floor(qualityScoreFrom(col("st"), col("pr"), col("dr")) *
            lit(1000000.0)).as("q_micro"))
      scored.groupBy("source").agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("n_chars_total"),
          sum(col("toks").cast("long")).as("n_tokens_ws"),
          countDistinct(col("h")).as("n_distinct_content"),
          sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_en"),
          sum(col("q_micro")).as("sum_quality_micro"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"))
        .withColumn("n_exact_dups", col("n_docs") - col("n_distinct_content"))
        .orderBy("source")
    }, Some(
      // q31's quality formula (already pinned bit-exact there) floored to
      // micro-units per doc, then integer sums per source
      s"""WITH base AS (
         |  SELECT source, lang, n_chars, text, length(text) AS n,
         |    list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS toks,
         |    list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS rawtoks
         |  FROM documents),
         |m AS (
         |  SELECT source, lang, n_chars, text, len(rawtoks) AS toks_n,
         |    CASE WHEN n = 0 THEN 0.0
         |         ELSE len(regexp_extract_all(text, '[^A-Za-z0-9\\s]'))::DOUBLE / n END AS punct_ratio,
         |    CASE WHEN n = 0 THEN 0.0
         |         ELSE len(regexp_extract_all(text, '[0-9]'))::DOUBLE / n END AS digit_ratio,
         |    CASE WHEN len(toks) = 0 THEN 0.0
         |         ELSE len(list_filter(toks, x -> list_contains($StopwordsSql, x)))::DOUBLE / len(toks) END AS stopword_ratio,
         |    CASE WHEN len(rawtoks) = 0 THEN 0.0
         |         ELSE list_aggregate(list_transform(rawtoks, x -> length(x)), 'sum')::DOUBLE / len(rawtoks) END AS mean_word_len
         |  FROM base),
         |scored AS (
         |  SELECT source, lang, n_chars, toks_n, md5(text) AS h,
         |    CAST(floor((least(stopword_ratio * 4.0, 1.0) * 0.3
         |      + greatest(1.0 - punct_ratio * 5.0, 0.0) * 0.25
         |      + greatest(1.0 - digit_ratio * 5.0, 0.0) * 0.25
         |      + (CASE WHEN mean_word_len >= 3.0 AND mean_word_len <= 8.0 THEN 1.0
         |              WHEN mean_word_len > 0.0 THEN 0.5 ELSE 0.0 END) * 0.2)
         |      * 1000000.0) AS BIGINT) AS q_micro
         |  FROM m)
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(n_chars) AS BIGINT) AS n_chars_total,
         |  CAST(sum(toks_n) AS BIGINT) AS n_tokens_ws,
         |  count(DISTINCT h) AS n_distinct_content,
         |  CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_en,
         |  CAST(sum(q_micro) AS BIGINT) AS sum_quality_micro,
         |  min(n_chars) AS min_chars, max(n_chars) AS max_chars,
         |  count(*) - count(DISTINCT h) AS n_exact_dups
         |FROM scored GROUP BY source ORDER BY source""".stripMargin)),

    // benchmark DECONTAMINATION: flag corpus docs sharing any word 4-gram
    // with the held-out eval set (source 'src0' stands in for the
    // benchmark). The eval side is small BY DEFINITION, so its distinct
    // gram set broadcasts; the corpus side stays narrow (scan → explode →
    // broadcast probe → partial count by doc_id) — document text never
    // shuffles, only (doc_id, count) rows do. Hits count matched gram
    // OCCURRENCES, not distinct grams: a plain count is map-side
    // combinable, where a per-doc distinct would shuffle the matched
    // (doc_id, gram) pairs themselves. At 100 TB the probe keys would be
    // xxhash64(gram) (8 B vs ~25 B strings); raw strings here keep the
    // oracle an exact string-equality replay.
    Entry("q75_decontaminate", (s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("doc_id"), col("source"), split(col("text"), " ").as("ws"))
      val bench = d.where(col("source") === "src0")
        .select(explode(wordGrams4(col("ws"))).as("gram")).distinct()
      val corpus = d.where(col("source") =!= "src0")
      val hits = corpus
        .select(col("doc_id"), explode(wordGrams4(col("ws"))).as("gram"))
        .join(broadcast(bench), "gram")
        .groupBy("doc_id").agg(count(lit(1)).as("n_gram_hits"))
      corpus.select("doc_id")
        .join(hits, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_gram_hits"), lit(0L)).as("n_gram_hits"),
          (coalesce(col("n_gram_hits"), lit(0L)) > 0).as("contaminated"))
        .orderBy("doc_id")
    }, Some(
      // same tokenization (string_split keeps empties) and the same 4-gram
      // windows: range(1, len-2) is empty below 4 tokens, mirroring the
      // Spark side's size guard
      """WITH d AS (SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents),
        |bench AS (
        |  SELECT DISTINCT unnest(list_transform(range(1, len(ws) - 2),
        |    i -> array_to_string(ws[i:i+3], ' '))) AS gram
        |  FROM d WHERE source = 'src0'),
        |hits AS (
        |  SELECT doc_id, count(*) AS n_gram_hits
        |  FROM (SELECT doc_id, unnest(list_transform(range(1, len(ws) - 2),
        |          i -> array_to_string(ws[i:i+3], ' '))) AS gram
        |        FROM d WHERE source <> 'src0') c
        |  JOIN bench USING (gram) GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(h.n_gram_hits, 0) AS n_gram_hits,
        |  coalesce(h.n_gram_hits, 0) > 0 AS contaminated
        |FROM d LEFT JOIN hits h USING (doc_id)
        |WHERE d.source <> 'src0'
        |ORDER BY d.doc_id""".stripMargin)),

    // CONTAMINATION REPORT — q75's join INVERTED to the benchmark's view:
    // for each leaked benchmark 4-gram, how many corpus docs carry it,
    // how many sources, and the worst offender (most docs, ties → lowest
    // source). Top-50 selection is orderBy+limit (TakeOrderedAndProject —
    // a distributed per-partition top-K merge over the benchmark-gram
    // frame, never a single-task rank of it); rnk is assigned on the ≤ 50
    // survivors by the bounded no-window shape. The corpus-side work is
    // q75's same broadcast semi-join shape.
    Entry("q162_contamination_report", (s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("doc_id"), col("source"), split(col("text"), " ").as("ws"))
      val bench = d.where(col("source") === "src0")
        .select(explode(wordGrams4(col("ws"))).as("gram")).distinct()
      val gs = d.where(col("source") =!= "src0")
        .select(col("source"), col("doc_id"),
          explode(wordGrams4(col("ws"))).as("gram")).distinct()
        .join(broadcast(bench), "gram")
        .groupBy("gram", "source").agg(count(lit(1)).as("nd"))
      val top = gs.groupBy("gram")
        .agg(sum(col("nd")).as("n_docs"),
          count(lit(1)).as("n_sources"),
          expr("min_by(struct(source, nd), struct(-nd, source))").as("top"))
        .select(col("gram"), col("n_docs"), col("n_sources"),
          col("top.source").as("top_source"), col("top.nd").as("top_docs"))
        .orderBy(col("n_docs").desc, col("gram"))
        .limit(50)
      graft.ops.Ranking.boundedRank(top, "rnk",
          col("n_docs").desc, col("gram"))
        .select("rnk", "gram", "n_docs", "n_sources", "top_source", "top_docs")
        .orderBy("rnk")
    }, Some(
      // q75's gram chain aggregated to the benchmark's view; min_by tie-break
      // mirrored as row_number over (nd DESC, source)
      """WITH d AS (SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents),
        |bench AS (
        |  SELECT DISTINCT unnest(list_transform(range(1, len(ws) - 2),
        |    i -> array_to_string(ws[i:i+3], ' '))) AS gram
        |  FROM d WHERE source = 'src0'),
        |gs AS (
        |  SELECT gram, source, CAST(count(*) AS BIGINT) AS nd FROM (
        |    SELECT DISTINCT c.source, c.doc_id, c.gram FROM (
        |      SELECT source, doc_id, unnest(list_transform(range(1, len(ws) - 2),
        |        i -> array_to_string(ws[i:i+3], ' '))) AS gram
        |      FROM d WHERE source <> 'src0') c
        |    JOIN bench USING (gram)) t
        |  GROUP BY gram, source),
        |agg AS (
        |  SELECT gram, CAST(sum(nd) AS BIGINT) AS n_docs,
        |    CAST(count(*) AS BIGINT) AS n_sources
        |  FROM gs GROUP BY gram),
        |top AS (
        |  SELECT gram, source AS top_source, nd AS top_docs FROM (
        |    SELECT gram, source, nd,
        |      row_number() OVER (PARTITION BY gram ORDER BY nd DESC, source) AS rn
        |    FROM gs) t WHERE rn = 1)
        |SELECT CAST(rnk AS BIGINT) AS rnk, gram, n_docs, n_sources,
        |  top_source, top_docs
        |FROM (
        |  SELECT a.gram, a.n_docs, a.n_sources, tp.top_source, tp.top_docs,
        |    row_number() OVER (ORDER BY a.n_docs DESC, a.gram) AS rnk
        |  FROM agg a JOIN top tp USING (gram)) t
        |WHERE rnk <= 50 ORDER BY rnk""".stripMargin)),

    // CROSS-SOURCE DUPLICATION PRESSURE — the per-source planning view of
    // exact dedup: how much of each source's content also lives elsewhere
    // (cross-source hash collisions) vs repeats within the source itself.
    // Decides which sources a cross-set dedup (q133) must reconcile
    // BEFORE paying for it. One hash groupBy + a shuffle join on the
    // hash key (byHash is corpus-scale — one row per distinct text);
    // only 16-byte md5s ever ship (q29's text-never-shuffles discipline)
    // and the OUTPUT is bounded by the source dimension.
    Entry("q163_source_dup_pressure", (s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("doc_id"), col("source"), md5(col("text")).as("h"))
      val byHash = d.groupBy("h").agg(
        countDistinct(col("source")).as("n_src"),
        count(lit(1)).as("n_tot"))
      d.join(byHash, Seq("h"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          count(when(col("n_src") > 1, 1)).as("n_cross_dup"),
          count(when(col("n_tot") > 1 && col("n_src") === 1, 1)).as("n_within_dup"))
        .orderBy("source")
    }, Some(
      """WITH d AS (SELECT doc_id, source, md5(text) AS h FROM documents),
        |bh AS (SELECT h, CAST(count(DISTINCT source) AS BIGINT) AS n_src,
        |        CAST(count(*) AS BIGINT) AS n_tot
        |       FROM d GROUP BY h)
        |SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(*) FILTER (bh.n_src > 1) AS BIGINT) AS n_cross_dup,
        |  CAST(count(*) FILTER (bh.n_tot > 1 AND bh.n_src = 1) AS BIGINT)
        |    AS n_within_dup
        |FROM d JOIN bh USING (h)
        |GROUP BY d.source ORDER BY d.source""".stripMargin)),

    // corpus HEAVY HITTERS: terms with ≥ 1% of total token mass, found as
    // sketch-prune + exact-verify. Pass 1 is a Misra–Gries aggregate
    // (bounded at k=200 counters per partial, O(1)/item): its candidate
    // set provably SUPERSETS every term above n/201 < 1%·n, whatever the
    // merge order. Pass 2 exact-counts ONLY the ≤200 candidates (broadcast
    // probe, map-side combine) and applies the true integer threshold —
    // so the output is exact and deterministic while the full-vocabulary
    // shuffle an exact GROUP BY would pay never happens. share is one
    // double division of exact integers (portable).
    Entry("q76_heavy_hitters", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("text"))
      val total = docs.agg(sum(size(split(col("text"), " ")).cast("long")))
        .head().getLong(0)
      val toks = docs.select(explode(split(col("text"), " ")).as("term"))
      val cand = toks
        .agg(graft.functions.MisraGries.misraGries(col("term"), 200).as("cs"))
        .select(explode(col("cs")).as("c")).select(col("c.term").as("term"))
      toks.join(broadcast(cand), "term")
        .groupBy("term").agg(count(lit(1)).as("cnt"))
        .where(col("cnt") * 100 >= lit(total))
        .select(col("term"), col("cnt"),
          (col("cnt").cast("double") / lit(total).cast("double")).as("share"))
        .orderBy(col("cnt").desc, col("term"))
    }, Some(
      // the sketch prunes, the exact count decides — so the oracle is the
      // plain exact heavy-hitter SQL (integer threshold, one division)
      """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS term FROM documents),
        |tot AS (SELECT count(*) AS n FROM tok),
        |c AS (SELECT term, count(*) AS cnt FROM tok GROUP BY term)
        |SELECT term, cnt, CAST(cnt AS DOUBLE) / CAST(tot.n AS DOUBLE) AS share
        |FROM c, tot WHERE cnt * 100 >= tot.n
        |ORDER BY cnt DESC, term""".stripMargin)),

    // OUT-OF-VOCABULARY rate: the unigram-LM quality signal made portable —
    // vocab = terms covering ≥ 0.1% of token mass (exact integer
    // threshold), oov_rate = one division of exact integers per doc. The
    // vocab is bounded (≤ 1000 terms by construction: Σ shares ≤ 1) so it
    // broadcasts; at 100 TB the vocab pass would ride the q76 Misra–Gries
    // prune instead of the exact GROUP BY — same output, bounded shuffle.
    Entry("q85_oov_rate", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val toks = docs.select(col("doc_id"),
        explode(split(col("text"), " ")).as("term"))
      val total = docs.agg(sum(size(split(col("text"), " ")).cast("long")))
        .head().getLong(0)
      val vocab = toks.groupBy("term").agg(count(lit(1)).as("cnt"))
        .where(col("cnt") * 1000 >= lit(total))
        .select("term")
      toks.join(broadcast(vocab), Seq("term"), "left_semi")
        .groupBy("doc_id").agg(count(lit(1)).as("n_known"))
        .join(docs.select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_tok")), Seq("doc_id"), "right")
        .select(col("doc_id"), col("n_tok"),
          coalesce(col("n_known"), lit(0L)).as("n_known"),
          ((col("n_tok") - coalesce(col("n_known"), lit(0L))).cast("double") /
            col("n_tok").cast("double")).as("oov_rate"))
        .orderBy("doc_id")
    }, Some(
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |tot AS (SELECT count(*) AS n FROM tok),
        |v AS (SELECT term FROM (SELECT term, count(*) AS cnt FROM tok GROUP BY term), tot
        |      WHERE cnt * 1000 >= tot.n),
        |known AS (SELECT doc_id, count(*) AS n_known FROM tok
        |          WHERE term IN (SELECT term FROM v) GROUP BY doc_id),
        |d AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok FROM documents)
        |SELECT d.doc_id, d.n_tok, coalesce(k.n_known, 0) AS n_known,
        |  CAST(d.n_tok - coalesce(k.n_known, 0) AS DOUBLE) / CAST(d.n_tok AS DOUBLE) AS oov_rate
        |FROM d LEFT JOIN known k USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin)),

    // the END-TO-END training-data PREP PIPELINE in one plan — the four
    // stages a corpus actually passes through, composed from the
    // already-verified operators: decontaminate (q75's eval-gram probe,
    // hit docs DROPPED) → quality floor (q31's exact formula, ≥ 0.5) →
    // exact dedup (min-id per md5, narrow hash+id shuffle) → mixture
    // rebalance (q82's token-mass equalization over the SURVIVORS, rates
    // derived post-dedup as a real pipeline would). Every stage's floats
    // are individually bit-portable, so the composition is too.
    Entry("q91_prep_pipeline", (s, dir) => {
      import graft.functions.Mix64
      val (corpus, contaminated) = contaminationSplit(s, dir)
      val clean = corpus.join(contaminated, Seq("doc_id"), "left_anti")
      val scored = withQuality(clean, carry = Seq.empty)
        .where(col("quality") >= 0.5)
      val deduped = graft.dedup.Dedup.exactDedup(
        scored, col("text"), col("doc_id"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // min mass folded INTO the plan via ONE whole-frame window over the
      // |S|-row source rollup, partitioned by the non-foldable constant
      // key (Ranking.boundedAll — no unpartitioned WindowExec), not a
      // separate .head() action: a driver action here would execute the
      // whole decontaminate→quality→dedup upstream TWICE, since exchange
      // reuse never spans separate jobs. One plan → one upstream pass
      // (the r18 agg+broadcast-join variant measured +0.08 s per
      // invocation at sf0.1 over this single-pass shape).
      val mass = deduped.groupBy("source").agg(sum(col("n_tok")).as("mass"))
      val rates = mass
        .repartition(1) // |S| rows; one task for the window
        .withColumn("min_mass",
          min(col("mass")).over(graft.ops.Ranking.boundedAll(col("mass"))))
        .withColumn("thr", floor((col("min_mass").cast("double") / col("mass").cast("double"))
          * lit(4294967296.0)).cast("long"))
        .select("source", "thr")
      deduped.join(broadcast(rates), "source")
        .where(Mix64.sampleCoord(col("doc_id")) < col("thr"))
        .select("doc_id", "source", "n_tok", "quality")
        .orderBy("doc_id")
    }, Some(
      // the four verified stage oracles concatenated as CTEs (q75's grams,
      // q31/q55's quality+dedup, q82's rates) — one replayable chain,
      // shared with q126 through contCtesSql/qualityCtesSql
      s"""WITH $contCtesSql,
         |clean AS (SELECT doc_id, source, text FROM d
         |          WHERE source <> 'src0'
         |            AND doc_id NOT IN (SELECT doc_id FROM cont)),
         |${qualityCtesSql("clean", "")},
         |qual AS (SELECT * FROM scored WHERE quality >= 0.5),
         |keep AS (SELECT min(doc_id) AS kid FROM qual GROUP BY md5(text)),
         |ded AS (SELECT q.* FROM qual q JOIN keep k ON q.doc_id = k.kid),
         |ms AS (SELECT source, sum(n_tok) AS mass FROM ded GROUP BY source),
         |r AS (SELECT source,
         |        CAST(floor((CAST((SELECT min(mass) FROM ms) AS DOUBLE) / CAST(mass AS DOUBLE))
         |             * 4294967296) AS BIGINT) AS thr
         |      FROM ms)
         |SELECT ded.doc_id, ded.source, ded.n_tok, ded.quality
         |FROM ded JOIN r USING (source)
         |WHERE ${OpsQueries.coordSql("ded.doc_id")} < r.thr
         |ORDER BY ded.doc_id""".stripMargin)),

    // BEST-QUALITY keep policy over near-dup components: q28/q29 keep the
    // min-id representative (the reproducibility default); real curation
    // usually keeps the BEST member — here argmax quality (q31's bit-exact
    // formula), ties to the lowest id. Components from the same LSH
    // candidate graph; the policy is one narrow window over (id, component,
    // quality) triples — text never rides the component shuffle, so
    // changing keep policy costs nothing at 100 TB.
    Entry("q97_dedup_best_keep", (s, dir) => {
      import graft.dedup.Dedup
      val docs = t(s, dir, "documents")
      val edges = Dedup.ngramJaccardPairsLsh(docs,
        col("doc_id"), col("text"), n = 3, m = 32, bands = 16, threshold = 0.5)
      val comp = Dedup.connectedComponents(
        docs.select(col("doc_id")), col("doc_id"),
        edges, col("a_id"), col("b_id"))
      val scored = docs
        .select(col("doc_id"), textStats(col("text")).as("st"),
          punctRatio(col("text")).as("pr"), digitRatio(col("text")).as("dr"))
        .select(col("doc_id"),
          qualityScoreFrom(col("st"), col("pr"), col("dr")).as("quality"))
      // (id, component, quality) is referenced TWICE below (ranking window
      // + final join) and ReuseExchange does NOT cover it (the branches
      // diverge before their exchanges — r10 plan audit), so without the
      // persist the scan → component-join → quality-score subtree runs
      // twice. 3 narrow columns per doc, MEMORY_AND_DISK spills safely at
      // corpus scale. Measured isolated at sf0.1 (RunOne, median of 3):
      // 2.01 s → 1.46 s. Released by the SparkEntry.queries clearCache
      // contract (see SparkEntry scaladoc).
      val joined = comp.join(scored, comp("id") === scored("doc_id"))
        .select(col("id"), col("component"), col("quality"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val w = Window.partitionBy("component")
        .orderBy(col("quality").desc, col("id"))
      val best = joined.withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select(col("component"), col("id").as("keep_id"))
      joined.join(best, Seq("component"))
        .select(col("id").as("doc_id"), col("keep_id"))
        .orderBy("doc_id")
    }, Some(
      // q28's recursive-CTE components + q31's quality formula; keep =
      // row_number over (quality DESC, doc_id) per component
      s"""WITH RECURSIVE sh_docs AS (
         |  SELECT doc_id,
         |    list_distinct(list_transform(range(1, len(string_split(text,' ')) - 1),
         |      i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2])) AS sh
         |  FROM documents WHERE len(string_split(text,' ')) >= 3),
         |pairs AS (
         |  SELECT a.doc_id AS a, b.doc_id AS b
         |  FROM sh_docs a JOIN sh_docs b ON a.doc_id < b.doc_id
         |  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         |      / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.5),
         |und AS (SELECT a AS x, b AS n FROM pairs UNION ALL SELECT b AS x, a AS n FROM pairs),
         |reach AS (
         |  SELECT doc_id AS x, doc_id AS n FROM documents
         |  UNION
         |  SELECT r.x, u.n FROM reach r JOIN und u ON r.n = u.x),
         |comp AS (SELECT x AS doc_id, min(n) AS component FROM reach GROUP BY x),
         |base AS (
         |  SELECT doc_id, text, length(text) AS n,
         |    list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS toks,
         |    list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS rawtoks
         |  FROM documents),
         |m AS (
         |  SELECT doc_id,
         |    CASE WHEN n = 0 THEN 0.0
         |         ELSE len(regexp_extract_all(text, '[^A-Za-z0-9\\s]'))::DOUBLE / n END AS punct_ratio,
         |    CASE WHEN n = 0 THEN 0.0
         |         ELSE len(regexp_extract_all(text, '[0-9]'))::DOUBLE / n END AS digit_ratio,
         |    CASE WHEN len(toks) = 0 THEN 0.0
         |         ELSE len(list_filter(toks, x -> list_contains($StopwordsSql, x)))::DOUBLE / len(toks) END AS stopword_ratio,
         |    CASE WHEN len(rawtoks) = 0 THEN 0.0
         |         ELSE list_aggregate(list_transform(rawtoks, x -> length(x)), 'sum')::DOUBLE / len(rawtoks) END AS mean_word_len
         |  FROM base),
         |q AS (
         |  SELECT doc_id,
         |    least(stopword_ratio * 4.0, 1.0) * 0.3
         |      + greatest(1.0 - punct_ratio * 5.0, 0.0) * 0.25
         |      + greatest(1.0 - digit_ratio * 5.0, 0.0) * 0.25
         |      + (CASE WHEN mean_word_len >= 3.0 AND mean_word_len <= 8.0 THEN 1.0
         |              WHEN mean_word_len > 0.0 THEN 0.5 ELSE 0.0 END) * 0.2 AS quality
         |  FROM m),
         |best AS (
         |  SELECT component, doc_id AS keep_id FROM (
         |    SELECT c.component, c.doc_id,
         |      row_number() OVER (PARTITION BY c.component
         |        ORDER BY q.quality DESC, c.doc_id) AS rn
         |    FROM comp c JOIN q USING (doc_id)) t
         |  WHERE rn = 1)
         |SELECT c.doc_id, b.keep_id
         |FROM comp c JOIN best b USING (component)
         |ORDER BY c.doc_id""".stripMargin)),

    // PII detection + redaction — the scrub stage every public-corpus
    // pipeline runs before training. The synthetic documents carry no PII
    // (verified: no '@' or digits at any SF), so deterministic contacts are
    // PLANTED from doc_id (the q70 fixture pattern: fake payload, real
    // operator): every doc gains one email, every third doc an IPv4. Both
    // patterns stay inside the regex subset Java and RE2 interpret
    // identically (char classes, bounded repeats, \b, non-capturing
    // groups); the redacted text is compared as md5 so the oracle checks
    // byte-exact scrubbing, not just counts. One narrow codegen'd scan —
    // at 100 TB this shape is scan-bound, exactly as a scrub pass must be.
    Entry("q96_pii_redact", (s, dir) => {
      val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val ipRe = "\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b"
      val planted = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@mail.example.com"),
          when(pmod(col("doc_id"), lit(3)) === 0,
            concat(lit(" from 10."), pmod(col("doc_id"), lit(256)).cast("string"),
              lit(".0.7")))
            .otherwise(lit(""))).as("text"))
      planted.select(col("doc_id"),
          regexp_count(col("text"), lit(emailRe)).as("n_emails"),
          regexp_count(col("text"), lit(ipRe)).as("n_ips"),
          md5(regexp_replace(regexp_replace(col("text"), emailRe, "<EMAIL>"),
            ipRe, "<IP>")).as("redacted_md5"))
        .orderBy("doc_id")
    }, Some(
      """WITH planted AS (
        |  SELECT doc_id,
        |    text || ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example.com' ||
        |    CASE WHEN doc_id % 3 = 0
        |         THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.7'
        |         ELSE '' END AS text
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_emails,
        |  CAST(len(regexp_extract_all(text, '\b(?:\d{1,3}\.){3}\d{1,3}\b')) AS INT) AS n_ips,
        |  md5(regexp_replace(
        |        regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |        '\b(?:\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g')) AS redacted_md5
        |FROM planted ORDER BY doc_id""".stripMargin)),

    Entry("q43_chunking", (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          posexplode(chunk(col("text"), size = 200, overlap = 40)).as(Seq("chunk_idx", "chunk_text")))
        .select(col("doc_id"), col("chunk_idx"),
          length(col("chunk_text")).as("chunk_len"), col("chunk_text"))
        .orderBy("doc_id", "chunk_idx"), Some(
      """SELECT doc_id, CAST(i AS INT) AS chunk_idx,
        |  length(substr(text, CAST(i * 160 + 1 AS INT), 200)) AS chunk_len,
        |  substr(text, CAST(i * 160 + 1 AS INT), 200) AS chunk_text
        |FROM documents, range(0, 100000) t(i)
        |WHERE length(text) > 0
        |  AND i <= ceil(greatest(length(text) - 200, 0) / 160.0)
        |ORDER BY doc_id, chunk_idx""".stripMargin)),

    // corpus CURATION pipeline — the three LLM-data stages composed:
    // quality-score filter (q31's exact formula) → exact dedup of the
    // survivors (narrow hash+id shuffle, Dedup.exactDedup) → per-source
    // cap keeping the 10 best by (quality desc, doc_id). Quality floats
    // are bit-identical across engines (q31), so filter AND ranking agree.
    Entry("q55_curation", (s, dir) => {
      val scored = t(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("text"),
          textStats(col("text")).as("st"),
          punctRatio(col("text")).as("pr"), digitRatio(col("text")).as("dr"))
        .select(col("doc_id"), col("source"), col("text"),
          qualityScoreFrom(col("st"), col("pr"), col("dr")).as("quality"))
      // exactDedup references its input twice (hash-group derivation +
      // survivor semi-join) — persist the quality-scored frame so the
      // textStats subtree runs once (the q151/q169/q91 lesson)
      val survivors = scored.where(col("quality") >= 0.5)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val deduped = graft.dedup.Dedup.exactDedup(
        survivors, col("text"), col("doc_id"))
      val w = Window.partitionBy("source")
        .orderBy(col("quality").desc, col("doc_id"))
      deduped.withColumn("rank", row_number().over(w))
        .where(col("rank") <= 10)
        .select(col("source"), col("doc_id"), col("quality"), col("rank"))
        .orderBy("source", "rank")
    }, Some(
      // q31's quality formula → filter → md5 min-id dedup → per-source top-10
      s"""WITH base AS (
         |  SELECT doc_id, source, text, length(text) AS n,
         |    list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS toks,
         |    list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS rawtoks
         |  FROM documents),
         |m AS (
         |  SELECT doc_id, source, text,
         |    CASE WHEN n = 0 THEN 0.0
         |         ELSE len(regexp_extract_all(text, '[^A-Za-z0-9\\s]'))::DOUBLE / n END AS punct_ratio,
         |    CASE WHEN n = 0 THEN 0.0
         |         ELSE len(regexp_extract_all(text, '[0-9]'))::DOUBLE / n END AS digit_ratio,
         |    CASE WHEN len(toks) = 0 THEN 0.0
         |         ELSE len(list_filter(toks, x -> list_contains($StopwordsSql, x)))::DOUBLE / len(toks) END AS stopword_ratio,
         |    CASE WHEN len(rawtoks) = 0 THEN 0.0
         |         ELSE list_aggregate(list_transform(rawtoks, x -> length(x)), 'sum')::DOUBLE / len(rawtoks) END AS mean_word_len
         |  FROM base),
         |scored AS (
         |  SELECT doc_id, source, text,
         |    least(stopword_ratio * 4.0, 1.0) * 0.3
         |      + greatest(1.0 - punct_ratio * 5.0, 0.0) * 0.25
         |      + greatest(1.0 - digit_ratio * 5.0, 0.0) * 0.25
         |      + (CASE WHEN mean_word_len >= 3.0 AND mean_word_len <= 8.0 THEN 1.0
         |              WHEN mean_word_len > 0.0 THEN 0.5 ELSE 0.0 END) * 0.2 AS quality
         |  FROM m),
         |qual AS (SELECT * FROM scored WHERE quality >= 0.5),
         |keep AS (SELECT min(doc_id) AS kid FROM qual GROUP BY md5(text)),
         |ded AS (SELECT q.* FROM qual q JOIN keep k ON q.doc_id = k.kid)
         |SELECT source, doc_id, quality,
         |  CAST(row_number() OVER (PARTITION BY source
         |       ORDER BY quality DESC, doc_id) AS INT) AS rank
         |FROM ded
         |QUALIFY rank <= 10
         |ORDER BY source, rank""".stripMargin)),

    // next-fit sequence packing per source shard (budget 120 ws-tokens):
    // training-batch construction — short docs concatenate into packs, a
    // doc longer than the budget gets its own pack. Sequential per shard,
    // parallel across shards (the sessionize shape); the oracle replays
    // the walk with a recursive CTE.
    Entry("q52_seq_packing", (s, dir) =>
      graft.text.Packing.packNextFit(
          t(s, dir, "documents"),
          col("source"), col("doc_id"), tokenCountWs(col("text")), budget = 120)
        .orderBy("shard", "doc_id"), Some(
      // replay of the per-shard next-fit walk: row_number orders each shard,
      // the recursive step carries (pack_idx, acc) one row at a time — every
      // shard advances once per iteration, so depth = max rows per shard
      """WITH RECURSIVE base AS (
        |  SELECT source AS shard, doc_id,
        |    CAST(CASE WHEN trim(text) = '' THEN 0
        |         ELSE len(string_split_regex(trim(text), '\s+')) END AS BIGINT) AS n_tok,
        |    row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
        |  FROM documents),
        |packed AS (
        |  SELECT shard, doc_id, n_tok, rn, CAST(0 AS BIGINT) AS pack_idx, n_tok AS acc
        |  FROM base WHERE rn = 1
        |  UNION ALL
        |  SELECT b.shard, b.doc_id, b.n_tok, b.rn,
        |    CASE WHEN p.acc > 0 AND p.acc + b.n_tok > 120
        |         THEN p.pack_idx + 1 ELSE p.pack_idx END,
        |    CASE WHEN p.acc > 0 AND p.acc + b.n_tok > 120
        |         THEN b.n_tok ELSE p.acc + b.n_tok END
        |  FROM base b JOIN packed p ON b.shard = p.shard AND b.rn = p.rn + 1)
        |SELECT shard, doc_id, n_tok, pack_idx FROM packed
        |ORDER BY shard, doc_id""".stripMargin)),

    // rolling content hash alone — unlike the xxhash64-based winnowing it
    // HAS a DuckDB twin (h ← h·31 + byte is plain wrapping arithmetic,
    // reduced over the bytes with HUGEINT mod 2^64; the corpus is ASCII so
    // per-character codes equal UTF-8 bytes)
    Entry("q35_content_fp", (s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        contentFingerprint(col("text")).as("content_fp"))
        .orderBy("doc_id"), Some(
      """SELECT doc_id,
        |  CAST(CASE WHEN h >= 9223372036854775808::HUGEINT
        |            THEN h - 18446744073709551616::HUGEINT ELSE h END AS BIGINT) AS content_fp
        |FROM (
        |  SELECT doc_id,
        |    list_reduce(
        |      list_prepend(CAST(1125899906842597 AS HUGEINT),
        |        list_transform(range(1, length(text) + 1), i -> CAST(ascii(substr(text, i, 1)) AS HUGEINT))),
        |      (a, b) -> (a * 31 + b) % 18446744073709551616::HUGEINT) AS h
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin)),

    // EXACT DUPLICATED-SPAN detection — substring-level dedup at word
    // granularity (the "remove repeated 50-grams" curation stage; cf. the
    // suffix-array dedup of Lee et al., re-expressed as a set problem
    // Spark can shuffle): an 8-token span is duplicated iff its gram
    // occurs in ≥ 2 DISTINCT docs (within-doc repetition is q57's
    // signal, not this one). Per doc we report span counts plus the
    // TOKEN COVERAGE of duplicated spans — the union of their [pos,
    // pos+7] windows via an (doc_id, token_pos) distinct, which is how
    // overlapping spans merge without any sequential interval walk —
    // and the resulting cut fraction in exact-integer ppm. Scale shape:
    // two narrow shuffles — spans partitioned by gram ONCE (the dup test
    // is a min≠max window, two longs of state per gram, no distinct+
    // self-join re-deriving the spans pipeline per side), then (doc_id,
    // pos/tp) ints for the per-doc stats; document text never shuffles.
    // At 100 TB the window key would be xxhash64(gram) (8 B vs ~50 B
    // strings); raw strings here keep the oracle an exact string-
    // equality replay.
    Entry("q114_span_dedup", (s, dir) => {
      val base = t(s, dir, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("ws"))
        .select(col("doc_id"),
          size(col("ws")).cast("long").as("n_tokens"),
          greatest(size(col("ws")) - 7, lit(0)).cast("long").as("n_spans"),
          col("ws"))
      val spans = base.where(col("n_spans") > 0)
        .select(col("doc_id"),
          explode(sequence(lit(1L), col("n_spans"))).as("pos"), col("ws"))
        .select(col("doc_id"), col("pos"),
          concat_ws(" ", slice(col("ws"), col("pos").cast("int"), lit(8)))
            .as("gram"))
      // "gram in ≥2 distinct docs" as ONE window over gram — min(doc) ≠
      // max(doc) — instead of distinct+agg+self-join: the spans pipeline
      // runs once (a self-join would re-derive it per side; Spark does no
      // cross-branch CSE) and the window state is two longs per gram, not
      // a per-gram doc set. Both per-doc stats then fold into one
      // aggregation over the exploded windows (pos is unique per (doc,
      // pos) span row, so countDistinct(pos) counts dup spans exactly).
      val gramW = Window.partitionBy("gram")
      val dspans = spans
        .withColumn("dup", min("doc_id").over(gramW) =!= max("doc_id").over(gramW))
        .where(col("dup")).select("doc_id", "pos")
      val stats = dspans
        .select(col("doc_id"), col("pos"),
          explode(sequence(col("pos"), col("pos") + 7)).as("tp"))
        .groupBy("doc_id")
        .agg(countDistinct(col("pos")).as("n_dup_spans"),
          countDistinct(col("tp")).as("dup_tokens"))
      base.select("doc_id", "n_tokens", "n_spans")
        .join(stats, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tokens"), col("n_spans"),
          coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
          coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"))
        .withColumn("cut_ppm", expr("dup_tokens * 1000000 div n_tokens"))
        .orderBy("doc_id")
    }, Some(
      // same 8-token spans via list slicing; coverage = distinct (doc_id,
      // token_pos) after expanding each dup span's window — overlapping
      // spans union without an interval walk on either side. generate_series
      // is empty when the doc has < 8 tokens (n_spans = 0 rows filtered),
      // matching the Spark-side where-guard; // is exact BIGINT division
      // like Spark's div.
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |base AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_tokens,
        |                CAST(greatest(len(ws) - 7, 0) AS BIGINT) AS n_spans, ws
        |         FROM d),
        |sp AS (SELECT doc_id, ws, unnest(generate_series(1, n_spans)) AS pos
        |       FROM base WHERE n_spans > 0),
        |grams AS (SELECT doc_id, pos, array_to_string(ws[pos:pos+7], ' ') AS gram
        |          FROM sp),
        |dup AS (SELECT gram FROM (SELECT DISTINCT gram, doc_id FROM grams)
        |        GROUP BY gram HAVING count(*) >= 2),
        |ds AS (SELECT g.doc_id, g.pos FROM grams g JOIN dup USING (gram)),
        |nd AS (SELECT doc_id, count(*) AS n_dup_spans FROM ds GROUP BY doc_id),
        |cov AS (SELECT doc_id, count(*) AS dup_tokens FROM
        |          (SELECT DISTINCT doc_id, tp FROM
        |            (SELECT doc_id, unnest(generate_series(pos, pos + 7)) AS tp
        |             FROM ds))
        |        GROUP BY doc_id)
        |SELECT b.doc_id, b.n_tokens, b.n_spans,
        |       coalesce(nd.n_dup_spans, 0) AS n_dup_spans,
        |       coalesce(cov.dup_tokens, 0) AS dup_tokens,
        |       coalesce(cov.dup_tokens, 0) * 1000000 // b.n_tokens AS cut_ppm
        |FROM base b LEFT JOIN nd USING (doc_id) LEFT JOIN cov USING (doc_id)
        |ORDER BY doc_id""".stripMargin)),

    // MODEL-BASED quality filtering: apply a linear classifier head to
    // per-doc integer features (see QcWeights above) — q31 is the
    // heuristic score, this is the trained-model shape that replaces it
    // in production curation. One narrow projection per doc, the native
    // one-pass textStats expression for the features, exact-integer
    // logit so the keep/drop decision replays bit-for-bit anywhere.
    Entry("q116_quality_classifier", (s, dir) =>
      qcScored(s, dir)
        .withColumn("keep", col("logit_micro") >= 0)
        .orderBy("doc_id"), Some(
      // features replay q30/q31's tokenization (nonempty \s+ split; stop
      // hits lowercased; len_sum over raw tokens, coalesced to 0 for the
      // empty doc where DuckDB's list_aggregate('sum') is NULL); the logit
      // terms are generated from the SAME QcWeights table as the plan
      s"""WITH $QcFeaturesCteSql
         |SELECT doc_id, n_tokens, stop_hits, len_sum, n_chars,
         |  CAST($QcLogitSql AS BIGINT) AS logit_micro,
         |  ($QcLogitSql) >= 0 AS keep
         |FROM f ORDER BY doc_id""".stripMargin)),

    // CURRICULUM ORDERING: a global easy→hard rank over the classifier
    // logit — the training-order stage. Materializing a total order
    // over 100 TB is exactly where `row_number() over (order by …)`
    // dies (every row through ONE task); Ranking.globalRank ships the
    // scalable shape instead — range repartition + in-partition sort +
    // per-partition offsets, one long per partition through the driver.
    // (doc_id breaks logit ties, making the order total and the rank
    // deterministic at any partition count.)
    Entry("q119_curriculum_order", (s, dir) =>
      graft.ops.Ranking.globalRank(
          qcScored(s, dir).select(col("doc_id"), col("logit_micro")),
          "rank", col("logit_micro").desc, col("doc_id"))
        .orderBy("rank"), Some(
      // rank replays globalRank's contract directly: row_number over the
      // identical total order (logit DESC, doc_id)
      s"""WITH $QcFeaturesCteSql
         |SELECT doc_id, logit_micro,
         |  CAST(row_number() OVER (ORDER BY logit_micro DESC, doc_id) AS BIGINT) AS rank
         |FROM (SELECT doc_id, CAST($QcLogitSql AS BIGINT) AS logit_micro FROM f)
         |ORDER BY rank""".stripMargin)),

    // DETERMINISTIC EPOCH SHUFFLE — the training-loader order stage:
    // every epoch e gets its own pseudo-random but fully reproducible
    // global order (position = rank of the Mix64 coordinate of
    // doc_id·2 + e), so a run resumes mid-epoch on any cluster layout
    // and distributed readers agree on shard boundaries without
    // coordination. Same scale shape as q119: Ranking.globalRank per
    // epoch (range partition + per-partition offsets — a total order
    // over 100 TB never flows through one window task).
    Entry("q143_epoch_shuffle", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"))
      Seq(0, 1).map { e =>
        graft.ops.Ranking.globalRank(
          docs.withColumn("epoch", lit(e))
            .withColumn("_coord", graft.functions.Mix64.sampleCoord(
              (col("doc_id") * 2L + lit(e.toLong)).cast("long"))),
          "position", col("_coord"), col("doc_id"))
      }.reduce(_ unionByName _)
        .select(col("epoch"), col("doc_id"), col("position"))
        .orderBy("epoch", "position")
    }, Some(
      // per-epoch row_number over the shared Mix64 coordinate — the SQL
      // image of globalRank's per-epoch total order
      s"""WITH ep AS (SELECT CAST(0 AS INT) AS epoch UNION ALL SELECT 1),
         |c AS (
         |  SELECT ep.epoch, d.doc_id,
         |    ${OpsQueries.coordSql("(d.doc_id * 2 + ep.epoch)")} AS coord
         |  FROM documents d CROSS JOIN ep)
         |SELECT epoch, doc_id,
         |  CAST(row_number() OVER (PARTITION BY epoch
         |    ORDER BY coord, doc_id) AS BIGINT) AS position
         |FROM c ORDER BY epoch, position""".stripMargin)),

    // LENGTH-BUCKETED BATCHING audit — the padding-efficiency stage of
    // batch assembly: docs bucketed to the smallest configured seq_len
    // ≥ their token count (16/32/64/128; longer docs truncate at 256),
    // per bucket the doc count, kept tokens, and the padding/truncation
    // paid at that seq_len — the numbers that decide bucket boundaries
    // before packing (q52). One projection + a 5-group aggregate; the
    // token count is the engine-wide string_split(text, ' ') contract.
    Entry("q144_length_buckets", (s, dir) => {
      val toks = size(split(col("text"), " ")).cast("long")
      val seqLen = when(toks <= 16, 16L).when(toks <= 32, 32L)
        .when(toks <= 64, 64L).when(toks <= 128, 128L).otherwise(256L)
      t(s, dir, "documents")
        .select(toks.as("n_tokens"), seqLen.as("seq_len"))
        .groupBy("seq_len")
        .agg(count(lit(1)).as("n_docs"),
          sum(least(col("n_tokens"), col("seq_len"))).as("n_tokens_kept"),
          sum(greatest(col("seq_len") - col("n_tokens"), lit(0L))).as("n_padding"),
          sum(greatest(col("n_tokens") - col("seq_len"), lit(0L))).as("n_truncated"))
        .orderBy("seq_len")
    }, Some(
      """WITH tk AS (
        |  SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |b AS (
        |  SELECT n_tokens,
        |    CAST(CASE WHEN n_tokens <= 16 THEN 16 WHEN n_tokens <= 32 THEN 32
        |         WHEN n_tokens <= 64 THEN 64 WHEN n_tokens <= 128 THEN 128
        |         ELSE 256 END AS BIGINT) AS seq_len
        |  FROM tk)
        |SELECT seq_len, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(least(n_tokens, seq_len)) AS BIGINT) AS n_tokens_kept,
        |  CAST(sum(greatest(seq_len - n_tokens, 0)) AS BIGINT) AS n_padding,
        |  CAST(sum(greatest(n_tokens - seq_len, 0)) AS BIGINT) AS n_truncated
        |FROM b GROUP BY seq_len ORDER BY seq_len""".stripMargin)),

    // DROP LEDGER — per-document lineage through the q91 curation chain:
    // every corpus doc gets the FIRST stage that removed it
    // (contaminated → low_quality → duplicate → sampled_out) or 'kept'.
    // The "why was my document dropped" debugging primitive: the same
    // verified stage predicates as q91, but evaluated as flags over the
    // FULL corpus instead of as successive filters, so one scan prices
    // the whole ledger; 'kept' here ≡ q91's output set (pinned in
    // TextSpec). Stage populations compose exactly as the pipeline ran
    // them: the md5 keep-min is taken over ELIGIBLE (clean, quality-pass)
    // docs only, and mixture rates derive from the pre-sample survivors.
    Entry("q126_drop_ledger", (s, dir) => {
      import graft.functions.Mix64
      val (corpus, contaminated) = contaminationSplit(s, dir)
      val flagged = withQuality(
        corpus.join(contaminated.withColumn("is_cont", lit(true)),
            Seq("doc_id"), "left_outer")
          .withColumn("is_cont", coalesce(col("is_cont"), lit(false))),
        carry = Seq("is_cont"))
      val eligible = !col("is_cont") && col("quality") >= 0.5
      val led = flagged
        .withColumn("keep_id",
          min(when(eligible, col("doc_id"))).over(Window.partitionBy(md5(col("text")))))
        .withColumn("pre_sample", eligible && col("doc_id") === col("keep_id"))
      val mass = led.where(col("pre_sample"))
        .groupBy("source").agg(sum(col("n_tok")).as("mass"))
      // min mass via the non-foldable pmod scalar key (q110's broadcast-
      // hash shape — no unpartitioned window); both mass references share
      // the source-rollup exchange, so the ledger evaluates once
      val minRow = mass.agg(min(col("mass")).as("min_mass"))
        .withColumn("_k", pmod(col("min_mass"), lit(1)).cast("int"))
      val rates = mass.withColumn("_k", pmod(col("mass"), lit(1)).cast("int"))
        .join(broadcast(minRow), "_k")
        .withColumn("thr", floor((col("min_mass").cast("double") / col("mass").cast("double"))
          * lit(4294967296.0)).cast("long"))
        .select("source", "thr")
      led.join(broadcast(rates), Seq("source"), "left_outer")
        .select(col("doc_id"),
          when(col("is_cont"), "contaminated")
            .when(col("quality") < 0.5, "low_quality")
            .when(col("doc_id") =!= col("keep_id"), "duplicate")
            .when(Mix64.sampleCoord(col("doc_id")) >= col("thr"), "sampled_out")
            .otherwise("kept").as("verdict"))
        .orderBy("doc_id")
    }, Some(
      // q91's chain re-expressed as per-doc verdicts: the stage populations
      // compose identically (md5 keep-min over eligible docs, rates over
      // pre-sample survivors) — so 'kept' here must equal q91's rows; the
      // shared CTE builders make the two chains ONE text
      s"""WITH $contCtesSql,
         |${qualityCtesSql(
             "(SELECT doc_id, source, text, " +
               "doc_id IN (SELECT doc_id FROM cont) AS is_cont " +
               "FROM d WHERE source <> 'src0')",
             ", is_cont")},
         |qual AS (SELECT * FROM scored WHERE quality >= 0.5 AND NOT is_cont),
         |keep AS (SELECT md5(text) AS h, min(doc_id) AS kid FROM qual GROUP BY md5(text)),
         |ms AS (SELECT source, sum(n_tok) AS mass FROM qual q
         |       JOIN keep k ON q.doc_id = k.kid GROUP BY source),
         |r AS (SELECT source,
         |        CAST(floor((CAST((SELECT min(mass) FROM ms) AS DOUBLE) / CAST(mass AS DOUBLE))
         |             * 4294967296) AS BIGINT) AS thr
         |      FROM ms)
         |SELECT s.doc_id,
         |  CASE WHEN s.is_cont THEN 'contaminated'
         |       WHEN s.quality < 0.5 THEN 'low_quality'
         |       WHEN s.doc_id <> k.kid THEN 'duplicate'
         |       WHEN NOT (${OpsQueries.coordSql("s.doc_id")} < r.thr) THEN 'sampled_out'
         |       ELSE 'kept' END AS verdict
         |FROM scored s
         |LEFT JOIN keep k ON md5(s.text) = k.h
         |LEFT JOIN r ON r.source = s.source
         |ORDER BY s.doc_id""".stripMargin)))

  /** Shared by q91/q126 (the ONE construction of the curation cohort —
    * a drift here would break the ledger≡pipeline invariant TextSpec
    * pins): the corpus (non-benchmark docs, with text) and the distinct
    * contaminated doc_ids (any 4-gram shared with src0, broadcast probe). */
  private def contaminationSplit(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val d = t(s, dir, "documents")
      .select(col("doc_id"), col("source"), col("text"),
        split(col("text"), " ").as("ws"))
    val bench = d.where(col("source") === "src0")
      .select(explode(wordGrams4(col("ws"))).as("gram")).distinct()
    val corpus = d.where(col("source") =!= "src0")
    val contaminated = corpus
      .select(col("doc_id"), explode(wordGrams4(col("ws"))).as("gram"))
      .join(broadcast(bench), "gram")
      .select(col("doc_id")).distinct()
    (corpus, contaminated)
  }

  /** q91/q126's quality projection: (doc_id, source, text) plus any
    * carried flag columns → + n_tok + the exact q31 quality score. */
  private def withQuality(df: DataFrame, carry: Seq[String]): DataFrame = {
    val keep = (Seq("doc_id", "source", "text") ++ carry).map(col)
    df.select(keep :+ textStats(col("text")).as("st")
        :+ punctRatio(col("text")).as("pr")
        :+ digitRatio(col("text")).as("dr"): _*)
      .select(keep
        :+ tokenCountWs(col("text")).cast("long").as("n_tok")
        :+ qualityScoreFrom(col("st"), col("pr"), col("dr")).as("quality"): _*)
  }

  /** q116/q119's per-doc features + exact-integer logit. */
  private def qcScored(s: SparkSession, dir: String): DataFrame = {
    val feats = t(s, dir, "documents")
      .select(col("doc_id"), textStats(col("text")).as("st"),
        length(col("text")).cast("long").as("n_chars"))
      .select(col("doc_id"),
        col("st.ws_tokens").cast("long").as("n_tokens"),
        col("st.stop_hits").cast("long").as("stop_hits"),
        col("st.len_sum").as("len_sum"),
        col("n_chars"))
    val logit = QcWeights.map { case (f, w) => col(f) * lit(w) }
      .foldLeft(lit(QcBias))(_ + _)
    feats.withColumn("logit_micro", logit)
  }

  /** q116's linear quality head: integer micro-unit weights over the
    * one-pass [[graft.functions.TextStats]] features plus n_chars. A
    * stand-in for a TRAINED head (the fastText/logistic quality-filter
    * stage of a curation pipeline): the operator is the scoring shape —
    * a broadcast weight vector dotted against per-doc integer features
    * in one narrow codegen'd projection, no shuffle, and a decision
    * that is exact-integer portable (keep ⇔ logit_micro ≥ 0; no
    * sigmoid needed — it is monotone in the logit). Swapping in real
    * trained weights changes only these constants. Both the Spark plan
    * and the DuckDB oracle are generated from this one table. */
  private lazy val QcBias = -55000L
  private lazy val QcWeights: Seq[(String, Long)] = Seq(
    "stop_hits" -> 9000L,   // stopword mass — the strongest fluency signal
    "n_tokens"  -> 500L,
    "len_sum"   -> -120L,   // penalize long-token (gibberish/url) mass
    "n_chars"   -> 80L)

  private lazy val StopwordsSql =
    graft.text.TextAnalysis.Stopwords.map(s => s"'$s'").mkString("[", ", ", "]")

  /** The decontamination CTEs shared by the q91 and q126 oracles (one
    * text — a formula tweak can no longer miss a copy): documents with
    * split words, the distinct benchmark 4-grams, and the contaminated
    * corpus doc_ids. */
  private lazy val contCtesSql: String =
    """d AS (SELECT doc_id, source, text, string_split(text, ' ') AS ws FROM documents),
      |bench AS (
      |  SELECT DISTINCT unnest(list_transform(range(1, len(ws) - 2),
      |    i -> array_to_string(ws[i:i+3], ' '))) AS gram
      |  FROM d WHERE source = 'src0'),
      |cont AS (
      |  SELECT DISTINCT doc_id FROM (
      |    SELECT doc_id, unnest(list_transform(range(1, len(ws) - 2),
      |      i -> array_to_string(ws[i:i+3], ' '))) AS gram
      |    FROM d WHERE source <> 'src0') c
      |  JOIN bench USING (gram))""".stripMargin

  /** The base→m→scored quality chain shared by the q91 and q126 oracles:
    * token ratios and the exact q31 quality score over rows of
    * `fromSql` (which must expose doc_id, source, text and any columns
    * named in `carry` — e.g. ", is_cont" — that ride the chain). */
  private[queries] def qualityCtesSql(fromSql: String, carry: String): String =
    s"""base AS (
       |  SELECT doc_id, source, text$carry, length(text) AS n,
       |    list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS toks,
       |    list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS rawtoks,
       |    CAST(CASE WHEN trim(text) = '' THEN 0
       |         ELSE len(string_split_regex(trim(text), '\\s+')) END AS BIGINT) AS n_tok
       |  FROM $fromSql),
       |m AS (
       |  SELECT doc_id, source, text, n_tok$carry,
       |    CASE WHEN n = 0 THEN 0.0
       |         ELSE len(regexp_extract_all(text, '[^A-Za-z0-9\\s]'))::DOUBLE / n END AS punct_ratio,
       |    CASE WHEN n = 0 THEN 0.0
       |         ELSE len(regexp_extract_all(text, '[0-9]'))::DOUBLE / n END AS digit_ratio,
       |    CASE WHEN len(toks) = 0 THEN 0.0
       |         ELSE len(list_filter(toks, x -> list_contains($StopwordsSql, x)))::DOUBLE / len(toks) END AS stopword_ratio,
       |    CASE WHEN len(rawtoks) = 0 THEN 0.0
       |         ELSE list_aggregate(list_transform(rawtoks, x -> length(x)), 'sum')::DOUBLE / len(rawtoks) END AS mean_word_len
       |  FROM base),
       |scored AS (
       |  SELECT doc_id, source, text, n_tok$carry,
       |    least(stopword_ratio * 4.0, 1.0) * 0.3
       |      + greatest(1.0 - punct_ratio * 5.0, 0.0) * 0.25
       |      + greatest(1.0 - digit_ratio * 5.0, 0.0) * 0.25
       |      + (CASE WHEN mean_word_len >= 3.0 AND mean_word_len <= 8.0 THEN 1.0
       |              WHEN mean_word_len > 0.0 THEN 0.5 ELSE 0.0 END) * 0.2 AS quality
       |  FROM m)""".stripMargin

  /** q116/q119's shared feature CTEs (same tokenization as q30/q31) and
    * the logit expression, both generated from QcBias/QcWeights. */
  private lazy val QcFeaturesCteSql: String =
    s"""base AS (
       |  SELECT doc_id, length(text) AS nc,
       |    list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS toks,
       |    list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS rawtoks
       |  FROM documents),
       |f AS (
       |  SELECT doc_id,
       |    CAST(len(rawtoks) AS BIGINT) AS n_tokens,
       |    CAST(len(list_filter(toks, x -> list_contains($StopwordsSql, x))) AS BIGINT) AS stop_hits,
       |    CAST(coalesce(list_aggregate(list_transform(rawtoks, x -> length(x)), 'sum'), 0) AS BIGINT) AS len_sum,
       |    CAST(nc AS BIGINT) AS n_chars
       |  FROM base)""".stripMargin

  private lazy val QcLogitSql: String =
    s"($QcBias) + ${QcWeights.map { case (f, w) => s"($w) * $f" }.mkString(" + ")}"

  /** The langid candidate-struct list, mirroring TextAnalysis.langId: one
    * struct (score, lang) per non-empty profile, argmax via struct max —
    * DuckDB and Spark both order structs field-wise, so ties break to the
    * lexicographically greatest language in both engines. */
  private lazy val LangCandsSql =
    graft.text.TextAnalysis.LangProfiles.filter(_._2.nonEmpty).map { case (lang, sw) =>
      val swList = sw.map(s => s"'$s'").mkString("[", ", ", "]")
      s"{'score': len(list_filter(toks, x -> list_contains($swList, x))), 'lang': '$lang'}"
    }.mkString("[", ", ", "]")

  /** The deterministic page per doc as a LINE ARRAY — (doc_id, pl).
    * Shared by the batch extraction rows (q203/q204 via
    * [[markupExtracted]]), the streaming extraction (q208) and the
    * URL-curation composition; pure column ops, so it applies to batch
    * and streaming frames alike. The page stays an array end-to-end
    * (advisor r13: a "\n"-join → split round-trip would re-segment any
    * document text that itself contains a newline — the oracle's list
    * form never joins, so neither does the engine). */
  private[queries] def markupPageLines(docs: DataFrame): DataFrame =
    markupPageLinesCarry(docs, Nil)

  /** [[markupPageLines]] with extra columns CARRIED through the two
    * binding selects — the streaming gates (q221/q225) must keep their
    * event-time/url columns alongside the page without a join-back (a
    * stream-stream self-join is exactly what a stateless projection must
    * not become). */
  private[queries] def markupPageLinesCarry(docs: DataFrame,
      carry: Seq[String]): DataFrame = {
    val w = filter(split(coalesce(col("text"), lit("")), " "), x => x =!= "")
    val pageLines = concat(
      array(
        concat(lit("<html><head><title>Doc "), col("doc_id"),
          lit("</title></head>")),
        lit("<nav><a href=\"/\">Home</a> | <a href=\"/about\">About</a>" +
          " | <a href=\"/c\">Contact</a></nav>"),
        lit("<p>Tom &amp; Jerry&#39;s &quot;hi&quot; &lt;tag&gt; done.</p>")),
      when(size(col("w")) >= 1,
        transform(sequence(lit(1), expr("(size(w) + 9) div 10")),
          i => concat(lit("<p>"),
            concat_ws(" ", slice(col("w"), (i - 1) * 10 + 1, lit(10))),
            lit(".</p>"))))
        .otherwise(array().cast("array<string>")),
      array(lit("<div class=\"footer\">&copy; 2024 GraftCorp</div>")))
    docs
      .select(col("doc_id") +: w.as("w") +: carry.map(col): _*)
      .select(col("doc_id") +: pageLines.as("pl") +: carry.map(col): _*)
  }

  /** q203/q204's shared front half: the deterministic page per doc and
    * its extracted prose lines — (doc_id, n_lines, kept: array<string>).
    * ONE copy so the composition row can never drift from the extraction
    * row. */
  private[queries] def markupExtracted(s: SparkSession, dir: String): DataFrame =
    markupExtractedOf(t(s, dir, "documents"))

  /** [[markupExtracted]] over an arbitrary (doc_id, text) frame — q221's
    * streaming replay extracts over its SAMPLED feed with the same
    * chain. */
  private[queries] def markupExtractedOf(docs: DataFrame): DataFrame =
    markupPageLines(docs)
      .select(col("doc_id"),
        size(col("pl")).cast("long").as("n_lines"),
        graft.text.Markup.extractTextOfLines(col("pl"), minWords = 4).as("kept"))

  /** q203's extraction chain as SQL CTEs ending in
    * `kp(doc_id, n_lines, kept)` — shared verbatim by the q204
    * composition oracle, the streaming extraction (q208) and the URL
    * composition; `source` is the doc relation (documents, or a sampled
    * CTE). */
  private[queries] def markupOracleCtes(source: String = "documents"): String =
    s"""tk AS (
      |  SELECT doc_id,
      |    list_filter(string_split(coalesce(text, ''), ' '), x -> x <> '') AS w
      |  FROM $source),
      |pg AS (
      |  SELECT doc_id,
      |    list_concat(list_concat(
      |      ['<html><head><title>Doc ' || doc_id || '</title></head>',
      |       '<nav><a href="/">Home</a> | <a href="/about">About</a> | <a href="/c">Contact</a></nav>',
      |       '<p>Tom &amp; Jerry&#39;s &quot;hi&quot; &lt;tag&gt; done.</p>'],
      |      CASE WHEN len(w) >= 1 THEN
      |        list_transform(range(1, (len(w) + 9) // 10 + 1),
      |          i -> '<p>' ||
      |            array_to_string(w[CAST((i-1)*10+1 AS INT):CAST((i-1)*10+10 AS INT)], ' ') ||
      |            '.</p>')
      |      ELSE [] END),
      |      ['<div class="footer">&copy; 2024 GraftCorp</div>']) AS pl
      |  FROM tk),
      |cl AS (
      |  SELECT doc_id, len(pl) AS n_lines,
      |    list_transform(pl, l ->
      |      trim(regexp_replace(
      |        replace(replace(replace(replace(replace(
      |          regexp_replace(l, '<[^>]*>', ' ', 'g'),
      |          '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
      |          '&#39;', ''''), '&amp;', '&'),
      |        '[ \t\r]+', ' ', 'g'))) AS cls
      |  FROM pg),
      |kp AS (
      |  SELECT doc_id, n_lines,
      |    list_filter(cls, c -> c <> ''
      |      AND len(string_split(c, ' ')) >= 4
      |      AND right(c, 1) IN ('.', '!', '?')) AS kept
      |  FROM cl)""".stripMargin
}
