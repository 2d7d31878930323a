package graft.dedup

import org.apache.spark.sql.functions._

import graft.SparkSpec

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog and runs far away", "s1"),
    (2L, "the quick brown fox jumps over the lazy dog and runs far home", "s1"), // near-dup of 1
    (3L, "completely different content with no overlap whatsoever here at all", "s1"),
    (4L, "the quick brown fox jumps over the lazy dog and runs far away", "s2"), // exact dup of 1
    (5L, "short text", "s2"))
    .toDF("doc_id", "text", "source")

  test("exact dedup: identical texts collapse to min id") {
    val groups = Dedup.exactGroups(docs, col("text"), col("doc_id")).collect()
    assert(groups.length == 4) // 1&4 share a hash
    val dup = groups.find(_.getLong(2) == 2L).get
    assert(dup.getLong(1) == 1L) // keep_id = min
    val survivors = Dedup.exactDedup(docs, col("text"), col("doc_id"))
      .select("doc_id").as[Long].collect().toSet
    assert(survivors == Set(1L, 2L, 3L, 5L))
  }

  test("shingles: distinct word n-grams; short text → empty") {
    val sh = docs.select(col("doc_id"), Dedup.shingles(col("text"), 3).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(sh(5L).isEmpty)
    assert(sh(1L).contains("the quick brown"))
    assert(sh(1L).distinct.size == sh(1L).size)
  }

  test("minhash LSH: near-dup and exact-dup pairs surface as candidates") {
    val base = docs
      .select(col("doc_id"), Dedup.shingles(col("text"), 2).as("sh"))
      .where(size(col("sh")) > 0)
      .withColumn("sig", Dedup.minhashSignature(col("sh"), 32))
    val cands = Dedup.lshCandidatePairs(
        Dedup.lshBuckets(base, col("doc_id"), col("sig"), 8, 4))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cands.contains((1L, 4L))) // identical → all bands collide
    assert(cands.contains((1L, 2L))) // 12/13 shared shingles
    assert(!cands.contains((3L, 4L)) || cands.size < 6) // unrelated docs shouldn't flood
    val sims = base.select(col("doc_id"), col("sig"))
    val est = Dedup.lshCandidatePairs(Dedup.lshBuckets(base, col("doc_id"), col("sig"), 8, 4))
      .join(sims.select(col("doc_id").as("a"), col("sig").as("siga")), Seq("a"))
      .join(sims.select(col("doc_id").as("b"), col("sig").as("sigb")), Seq("b"))
      .withColumn("est", Dedup.signatureSimilarity(col("siga"), col("sigb")))
      .collect().map(r => (r.getLong(1), r.getLong(0)) -> r.getDouble(r.fieldIndex("est"))).toMap
    assert(est((1L, 4L)) == 1.0)
    assert(est((1L, 2L)) > 0.5)
  }

  test("jaccard pairs: exact near-dup detection within block") {
    val pairs = Dedup.ngramJaccardPairs(docs, col("doc_id"), col("text"),
        col("source"), 3, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.map(p => (p._1, p._2)).toSet == Set((1L, 2L)))
    // 13 words → 11 trigrams each; the last-word edit changes 1 → |∩|=10,
    // |∪|=12
    assert(math.abs(pairs.head._3 - 10.0 / 12.0) < 1e-12)
  }

  test("portable simhash: same structural properties as the xxhash64 family") {
    val fp = docs.select(col("doc_id"),
        graft.functions.PortableSimHash.simhash64Portable(Dedup.tokens(col("text"))).as("f"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fp(1L) == fp(4L)) // identical text → identical fingerprint
    // a 1-word edit flips ~7 bits in expectation but variance is high with
    // 13 tokens; the robust claim is relative: near-dup ≪ unrelated
    assert(java.lang.Long.bitCount(fp(1L) ^ fp(2L)) <
      java.lang.Long.bitCount(fp(1L) ^ fp(3L)))
    // banding pigeonhole only GUARANTEES recall for hamming ≤ 3; the exact
    // dup always collides on every chunk
    val pairs = Dedup.simhashPairsPortable(docs, col("doc_id"), col("text"), maxHamming = 32)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 4L)))
  }

  test("cosine pairs: exact self-similarity and orthogonality") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(0.9f, 0.1f, 0.0f)),
      (3L, Array(0.0f, 0.0f, 1.0f))).toDF("vec_id", "embedding")
    val pairs = Dedup.cosinePairs(vecs, col("vec_id"), col("embedding"), lit(0), 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.map(p => (p._1, p._2)).toSet == Set((1L, 2L)))
    // float32 inputs (0.9f ≠ 0.9 exactly) → ~1e-8 tolerance
    assert(math.abs(pairs.head._3 - 0.9 / math.sqrt(0.82)) < 1e-6)
  }

  test("planted near-dups in testdata are recovered by minhash candidates") {
    val d = spark.read.parquet(sf("documents"))
    // ground truth: trigram jaccard >= 0.5 within source (planted dups)
    val truth = Dedup.ngramJaccardPairs(d, col("doc_id"), col("text"),
        col("source"), 3, 0.5)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.nonEmpty, "testdata should contain planted near-dups")
    val base = d.select(col("doc_id"), Dedup.shingles(col("text"), 3).as("sh"))
      .where(size(col("sh")) > 0)
      .withColumn("sig", Dedup.minhashSignature(col("sh"), 32))
    val cands = Dedup.lshCandidatePairs(
        Dedup.lshBuckets(base, col("doc_id"), col("sig"), 8, 4))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = truth.count(cands.contains).toDouble / truth.size
    assert(recall >= 0.9, s"LSH recall $recall over ${truth.size} planted pairs")
  }

  test("portable MinHash-LSH recovers the planted near-dups like the xxhash64 path") {
    val d = spark.read.parquet(sf("documents"))
    val truth = Dedup.ngramJaccardPairs(d, col("doc_id"), col("text"),
        lit(0), 3, 0.5)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.nonEmpty)
    val portable = Dedup.minhashLshPairsPortable(d, col("doc_id"), col("text"),
        n = 3, m = 32, bands = 8, minEstSim = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = truth.count(portable.contains).toDouble / truth.size
    assert(recall >= 0.9,
      s"portable-family recall $recall over ${truth.size} planted pairs")
    // est_sim is k/32 with k integral — exact in binary, safe to hash-compare
    val sims = Dedup.minhashLshPairsPortable(d, col("doc_id"), col("text"),
        n = 3, m = 32, bands = 8, minEstSim = 0.3)
      .collect().map(_.getDouble(2))
    assert(sims.forall(s => s >= 0.3 && s <= 1.0 && (s * 32) == math.rint(s * 32)))
  }

  test("LSH-scoped jaccard pairs equal the all-pairs result on this corpus") {
    val d = spark.read.parquet(sf("documents"))
    val allPairs = Dedup.ngramJaccardPairs(d, col("doc_id"), col("text"),
        lit(0), 3, 0.5)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.ngramJaccardPairsLsh(d, col("doc_id"), col("text"),
        n = 3, m = 32, bands = 16, threshold = 0.5)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh == allPairs,
      s"LSH path must reproduce all-pairs at 0.5 here: missing ${allPairs -- lsh}, extra ${lsh -- allPairs}")
  }

  test("nearDupKeepList: exact, near and kept reasons on a planted corpus") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 4
    val docs = Seq(
      (1L, base),                           // kept (group root)
      (2L, base),                           // exact dup of 1
      (3L, base + "lambda"),                // near dup of 1 (high jaccard)
      (4L, "completely different text about unrelated matters entirely " * 4),
      (5L, base)                            // exact dup of 1
    ).toDF("doc_id", "text")
    val keep = Dedup.nearDupKeepList(docs, col("doc_id"), col("text"),
        n = 3, m = 32, bands = 16, threshold = 0.5)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(keep(1L) == (1L, "kept"))
    assert(keep(2L) == (1L, "exact"))
    assert(keep(3L) == (1L, "near"))
    assert(keep(4L) == (4L, "kept"))
    assert(keep(5L) == (1L, "exact"))
  }

  test("incremental dedup: batch docs decide against corpus then earlier batch") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 4
    val other = "completely different text about unrelated matters entirely " * 4
    val docs = Seq(
      (1L, base),            // corpus
      (2L, other),           // corpus
      (10L, base),           // new: exact dup of corpus 1
      (11L, base + "lambda"),// new: near dup of corpus 1
      (12L, "nothing like anything else here at all whatsoever truly " * 4),
      (13L, base + "lambda") // new: exact dup of EARLIER BATCH doc 11
    ).toDF("doc_id", "text")
    val got = Dedup.incrementalDedup(docs, col("doc_id"), col("text"),
        split = 10L, n = 3, m = 32, bands = 16, minEstSim = 0.5)
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), Option(r.get(2)).map(_.asInstanceOf[Long]))).toMap
    assert(got(10L) === ("drop_exact", Some(1L)))
    assert(got(11L) === ("drop_near", Some(1L)))
    assert(got(12L) === ("keep", None))
    assert(got(13L) === ("drop_exact", Some(11L)))
    assert(got.size === 4) // corpus docs are never re-decided
  }

  test("connected components match a union-find reference on a random graph") {
    val rnd = new scala.util.Random(42L)
    val n = 60
    val edges = (1 to 70).map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter { case (a, b) => a != b }
    // reference union-find
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = (0 until n).map(i => i.toLong -> find(i).toLong).toMap
    val nodes = (0 until n).map(_.toLong).toDF("id")
    val edgeDf = edges.toDF("a", "b")
    // driver fast path (edges under threshold) ...
    val got = Dedup.connectedComponents(nodes, col("id"), edgeDf, col("a"), col("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // union-find min-root and min-reachable-id agree when unions keep mins
    assert(got == expected)
    // ... and the distributed iterative path must agree exactly
    val gotIter = Dedup.connectedComponents(nodes, col("id"), edgeDf, col("a"), col("b"),
        driverEdgeThreshold = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotIter == expected)
  }

  test("q97 best-quality keep: keeper maximizes (quality, -id) within its component") {
    import graft.text.TextAnalysis._
    val dir = "/root/testdata/sf0.001"
    val keep = graft.SparkEntry.queries("q97_dedup_best_keep")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val quality = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), textStats(col("text")).as("st"),
        punctRatio(col("text")).as("pr"), digitRatio(col("text")).as("dr"))
      .select(col("doc_id"),
        qualityScoreFrom(col("st"), col("pr"), col("dr")).as("q"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // keep_id is a fixpoint (keepers keep themselves), and within every
    // keep-group the keeper has max quality (ties -> lowest id)
    keep.foreach { case (id, k) => assert(keep(k) == k, s"keeper $k of $id not a fixpoint") }
    keep.groupBy(_._2).foreach { case (k, members) =>
      members.keys.foreach { id =>
        assert(quality(k) > quality(id) || (quality(k) == quality(id) && k <= id),
          s"keeper $k (q=${quality(k)}) not best in group vs $id (q=${quality(id)})")
      }
    }
    // singletons (no near-dup partner) keep themselves
    assert(keep.count { case (id, k) => id == k } > keep.size / 2)
  }

  test("q137: prod minhash pairs at est >= 0.5 equal exact jaccard >= 0.5 truth") {
    val r = graft.SparkEntry.queries("q137_minhash_prod_vs_truth")(
      spark, "/root/testdata/sf0.001").collect().head
    assert(r.getAs[Long]("n_only_prod") == 0L &&
      r.getAs[Long]("n_only_ref") == 0L,
      s"asymmetric pairs: $r")
    assert(r.getAs[Long]("n_both") > 0L, "agreement row must be non-degenerate")
    assert(r.getAs[Long]("n_prod") == r.getAs[Long]("n_both"))
  }

  test("q138: every exact-dup pair is found by the simhash path") {
    val r = graft.SparkEntry.queries("q138_simhash_dup_recall")(
      spark, "/root/testdata/sf0.001").collect().head
    assert(r.schema.fieldNames.toSeq == Seq("n_dup_pairs", "n_missed"), s"columns: $r")
    // ≥ 50 planted re-keyed copies guarantee non-degeneracy at every SF
    assert(r.getAs[Long]("n_dup_pairs") >= 50L, s"expected planted dups: $r")
    assert(r.getAs[Long]("n_missed") == 0L, s"simhash missed dups: $r")
  }

  test("pairPathAgreement: counts the symmetric difference correctly") {
    val a = Seq((1L, 2L), (3L, 4L), (5L, 6L)).toDF("a_id", "b_id")
    val b = Seq((1L, 2L), (5L, 6L), (7L, 8L), (7L, 8L)).toDF("a_id", "b_id")
    val r = graft.queries.DedupQueries.pairPathAgreement(a, b).collect().head
    assert((r.getAs[Long]("n_prod"), r.getAs[Long]("n_ref"), r.getAs[Long]("n_both"),
      r.getAs[Long]("n_only_prod"), r.getAs[Long]("n_only_ref")) == (3L, 3L, 2L, 1L, 1L))
  }

  test("q193 substring dedup: earliest span wins, overlap coverage distinct, " +
      "short docs carry zero grams") {
    // doc 1 (13 tokens): grams at pos 1..6. doc 2 shares its first 12
    // tokens ("...runs far" = grams pos 1..5 identical to doc 1) then
    // diverges ("home") — so doc 2's grams 1..5 are DUPS of doc 1's, gram
    // 6 ("quick...home") is unique. doc 4 is an exact dup of doc 1: all 6
    // grams dup. doc 5 (2 tokens) has no 8-gram. Coverage: doc 2 dups at
    // pos 1..5 cover positions 1..12 (12 distinct — overlapping windows
    // must not double count); doc 4 dups at 1..6 cover 1..13.
    val local = Dedup.spanStats(docs, col("text"), col("doc_id"), k = 8)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3), r.getLong(4)))
    assert(local.toSeq == Seq(
      (1L, 13L, 0L, 0L),   // earliest occurrence of every gram: untouched
      (2L, 13L, 5L, 12L),  // 5 dup windows, 12 DISTINCT covered positions
      (3L, 10L, 0L, 0L),   // unique content
      (4L, 13L, 6L, 13L),  // exact dup: every gram dup, whole doc covered
      (5L, 2L, 0L, 0L)))   // < 8 tokens: no grams
    // and the registry entry itself runs (column contract)
    assert(graft.SparkEntry.queries("q193_substring_dedup")(spark, sfDir)
      .columns.toSeq == Seq("doc_id", "n_tokens", "n_grams",
      "n_dup_spans", "n_covered_tokens", "n_kept_tokens"))
  }

  test("q196 incremental span dedup: corpus fingerprints win outright, " +
      "fresh residue runs batch-internal earliest-wins") {
    val corpus = Seq((10L, "c1 c2 c3 c4 c5 c6 c7 c8 tail1"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (1L, "c1 c2 c3 c4 c5 c6 c7 c8 x9"), // gram1 ∈ corpus, gram2 fresh
      (3L, "f1 f2 f3 f4 f5 f6 f7 f8 f9"), // both grams fresh keepers
      (5L, "f1 f2 f3 f4 f5 f6 f7 f8"),    // = doc 3's gram1 → within-batch dup
      (7L, "short"))                      // < 8 tokens: no grams
      .toDF("doc_id", "text")
    val out = Dedup.spanIncremental(corpus, batch, col("text"), col("doc_id"), k = 8)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(out.toSeq == Seq(
      (1L, 9L, 2L, 1L, 0L, 8L, 1L),  // vs-corpus dup covers pos 1..8; x9 kept
      (3L, 9L, 2L, 0L, 0L, 0L, 9L),  // fresh keepers: untouched
      (5L, 8L, 1L, 0L, 1L, 8L, 0L),  // doc 3 is the earlier keeper
      (7L, 1L, 0L, 0L, 0L, 0L, 1L)))
  }

  test("q194 span clean: covered tokens removed, earliest doc verbatim, " +
      "fully-covered doc keeps an empty row") {
    val out = Dedup.spanClean(docs, col("text"), col("doc_id"), k = 8)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(out.toSeq == Seq(
      (1L, 13L, 13L,
        "the quick brown fox jumps over the lazy dog and runs far away"),
      (2L, 13L, 1L, "home"),     // positions 1..12 covered; the tail stays
      (3L, 10L, 10L,
        "completely different content with no overlap whatsoever here at all"),
      (4L, 13L, 0L, ""),          // exact dup of doc 1: fully covered
      (5L, 2L, 2L, "short text")))
  }

  test("q197 maximal spans: overlapping dup windows merge to [start, end) runs, " +
      "disjoint runs stay separate") {
    // doc 1 plants t1..t8; doc 2 plants v1..v8; doc 3 repeats BOTH with a
    // 5-token unique gap — dup windows at pos 1 and pos 14, two DISJOINT
    // maximal spans. doc 4 repeats t1..t8 twice back to back (16 tokens):
    // dup windows at pos 1 AND pos 9 (the 7 bridging windows t2..t8 t1, …
    // are globally unique keepers), so the covered intervals [1,9) and
    // [9,17) are ADJACENT half-open runs — the gap-merge must fuse them
    // into one 16-token span (s=9 is not past pmax=9).
    val corpus = Seq(
      (1L, "t1 t2 t3 t4 t5 t6 t7 t8"),
      (2L, "v1 v2 v3 v4 v5 v6 v7 v8"),
      (3L, "t1 t2 t3 t4 t5 t6 t7 t8 u1 u2 u3 u4 u5 v1 v2 v3 v4 v5 v6 v7 v8"),
      (4L, "t1 t2 t3 t4 t5 t6 t7 t8 t1 t2 t3 t4 t5 t6 t7 t8"))
      .toDF("doc_id", "text")
    val out = Dedup.spanMaximal(corpus, col("text"), col("doc_id"), k = 8)
      .orderBy("doc_id", "span_idx").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(out.toSeq == Seq(
      // doc 3: two disjoint 8-token runs separated by the unique u-gap
      (3L, 1L, 1L, 9L, 8L),
      (3L, 2L, 14L, 22L, 8L),
      // doc 4: dup windows at pos 1 and pos 9 — [1,9) and [9,17) are
      // adjacent half-open intervals, so the covered run is contiguous
      // and merges to ONE 16-token span
      (4L, 1L, 1L, 17L, 16L)))
    // docs 1 and 2 are the earliest occurrences: no rows at all
    assert(!out.exists(r => r._1 == 1L || r._1 == 2L))
  }

  test("fingerprintPairs: pigeonhole guarantee — every pair within the " +
      "threshold surfaces when maxHamming < nChunks, none beyond it") {
    // 40 deterministic pseudo-random fingerprints + planted neighbors at
    // controlled hamming distances (flip the lowest h bits): with
    // 8 chunks, hamming ≤ 7 GUARANTEES a shared chunk — the banded pair
    // set must equal the brute-force pair set at threshold 6 exactly
    val base = (0L until 40L).map(i =>
      (i, (i + 1) * -7046029254386353131L + 0x9E3779B97F4A7C15L)) // fmix-ish spread
    val planted = Seq(
      (100L, base(3)._2 ^ 0x3FL),  // hamming 6 from id 3: within threshold
      (101L, base(5)._2 ^ 0x7FL),  // hamming 7: beyond threshold 6 -> out
      (102L, base(7)._2))          // hamming 0
    val fps = (base ++ planted).toDF("id", "fp")
    val got = Dedup.fingerprintPairs(fps, col("id"), col("fp"),
        maxHamming = 6, nChunks = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // brute-force truth
    val all = (base ++ planted)
    val want = (for {
      (a, fa) <- all; (b, fb) <- all if a < b
      h = java.lang.Long.bitCount(fa ^ fb) if h <= 6
    } yield (a, b, h)).toSet
    assert(got == want, s"banded=${got.size} truth=${want.size}")
    assert(want.contains((3L, 100L, 6)) && want.contains((7L, 102L, 0)))
    assert(!got.exists(p => p._1 == 5L && p._2 == 101L),
      "hamming-7 pair must be outside the threshold-6 operator")
  }

  test("signature index serve: Parquet round-trip of portable signatures " +
      "is bit-identical, and the index join equals the corpus-wide " +
      "portable pair set's corpus->batch slice") {
    // planted corpus: ids 1-10 = ingested corpus, 11-20 = new batch, with
    // a batch near-dup of a corpus doc and a batch exact copy of one
    val base = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"
    val corpus = (1L to 20L).map { id =>
      val text =
        if (id == 15L) base + " tail15"      // near-dup of corpus doc 2
        else if (id == 18L) base             // exact copy of corpus doc 2
        else if (id == 2L) base
        else s"d$id " + (1L to 10L).map(j => s"t${id}_$j").mkString(" ")
      (id, text)
    }.toDF("doc_id", "text")
    val split = 11L
    val sigs = Dedup.portableSignatures(
      corpus.where(col("doc_id") < split), col("doc_id"), col("text"),
      n = 3, m = 32)
    val dir = tempDir("sigindex").toString
    sigs.write.mode("overwrite").parquet(dir)
    val loaded = spark.read.parquet(dir)
    // round-trip exactness: the stored longs ARE the computed longs
    val mem = sigs.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val disk = loaded.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(mem == disk, "parquet round-trip changed a signature")
    val batch = Dedup.portableSignatures(
      corpus.where(col("doc_id") >= split), col("doc_id"), col("text"),
      n = 3, m = 32)
    val got = Dedup.minhashIndexPairsPortable(loaded, batch,
        m = 32, bands = 8, minEstSim = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // the from-scratch corpus-wide chain, sliced to corpus->batch pairs
    val want = Dedup.minhashLshPairsPortable(corpus, col("doc_id"),
        col("text"), n = 3, m = 32, bands = 8, minEstSim = 0.3)
      .where(col("a_id") < split && col("b_id") >= split)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == want, s"index serve ${got.size} != from-scratch ${want.size}")
    // the planted pairs are actually in it (exact copy at est_sim 1.0)
    assert(got.contains((2L, 18L, 1.0)))
    assert(got.exists(p => p._1 == 2L && p._2 == 15L))
  }

  test("signature index maintenance: upsert-append + deletion ledger + " +
      "compaction; removed docs STOP pairing; hashed serve == slice serve") {
    // thirds: 1-10 corpus A (index v1), 11-20 batch B (appended),
    // 21-30 serve C. Deletion ledger (the q214 rule): id % 7 == 3 among
    // A∪B -> {3, 10, 17}. Plants: 24 copies DELETED doc 3 (its only
    // partner -> must flip to keep), 21 copies DELETED doc 17 (appended
    // then deleted -> keep), 25 copies live doc 5 (stays drop_near).
    val t3 = "a1 a2 a3 a4 a5 a6 a7 a8 a9 a10"
    val t17 = "b1 b2 b3 b4 b5 b6 b7 b8 b9 b10"
    val t5 = "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10"
    val corpus = (1L to 30L).map { id =>
      val text = id match {
        case 3L | 24L => t3
        case 17L | 21L => t17
        case 5L | 25L => t5
        case _ => s"d$id " + (1L to 10L).map(j => s"t${id}_$j").mkString(" ")
      }
      (id, text)
    }.toDF("doc_id", "text")
    val (s1, s2) = (11L, 21L)
    val deleted = Set(3L, 10L, 17L)
    val base = tempDir("sigidx_maint").toString
    Dedup.portableSignaturesIndexed(corpus.where(col("doc_id") < s1),
        col("doc_id"), col("text"), n = 3, m = 32, bands = 8)
      .write.mode("overwrite").parquet(s"$base/v1")
    val sigsB = Dedup.portableSignaturesIndexed(
      corpus.where(col("doc_id") >= s1 && col("doc_id") < s2),
      col("doc_id"), col("text"), n = 3, m = 32, bands = 8)
    val ledger = corpus.where(col("doc_id") < s2 && col("doc_id") % 7 === 3)
      .select(col("doc_id").as("id"))
    assert(ledger.collect().map(_.getLong(0)).toSet == deleted)
    graft.ops.Layout.upsert(spark.read.parquet(s"$base/v1"), sigsB, Seq("id"))
      .join(broadcast(ledger), Seq("id"), "left_anti")
      .repartition(8) // plant small-files debris for compact to fold
      .write.mode("overwrite").parquet(s"$base/v2")
    val (before, after) = graft.ops.Layout.compact(spark, s"$base/v2",
      targetFileBytes = 64L << 20, tmpPath = s"$base/v2_tmp")
    assert(before == 8 && after == 1, s"compact $before -> $after")
    val index = spark.read.parquet(s"$base/v2")
    // maintained membership: A ∪ B minus the ledger
    assert(index.select("id").collect().map(_.getLong(0)).toSet ==
      ((1L until s2).toSet -- deleted))
    val batch = Dedup.portableSignatures(corpus.where(col("doc_id") >= s2),
      col("doc_id"), col("text"), n = 3, m = 32)
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val got = pairSet(Dedup.minhashIndexPairsHashed(index, batch,
      m = 32, bands = 8, minEstSim = 0.3))
    // serve-after-maintenance == full re-sign from text minus deleted
    val want = pairSet(Dedup.minhashLshPairsPortable(corpus, col("doc_id"),
        col("text"), n = 3, m = 32, bands = 8, minEstSim = 0.3)
      .where(col("a_id") < s2 && col("b_id") >= s2 &&
        !col("a_id").isin(deleted.toSeq: _*)))
    assert(got == want, s"maintained serve $got != from-scratch $want")
    // the hashed join equals the slice join on the same inputs
    assert(got == pairSet(Dedup.minhashIndexPairsPortable(
      index.select("id", "sig"), batch, m = 32, bands = 8, minEstSim = 0.3)))
    // deletions BITE: 24's only partner (3) and 21's only partner (17)
    // are gone; 25 still pairs with live doc 5 at est 1.0
    assert(!got.exists(_._2 == 24L) && !got.exists(_._2 == 21L))
    assert(got.contains((5L, 25L, 1.0)))
    // counterfactual: an UNmaintained index (no deletion) would pair 24
    val leaky = pairSet(Dedup.minhashIndexPairsHashed(
      graft.ops.Layout.upsert(spark.read.parquet(s"$base/v1"), sigsB, Seq("id")),
      batch, m = 32, bands = 8, minEstSim = 0.3))
    assert(leaky.contains((3L, 24L, 1.0)) && leaky.contains((17L, 21L, 1.0)))
  }

  test("spanSweep: per-k dup mass equals the per-k spanDups derivation, " +
      "and the k-floor is visible (a short duplicate vanishes at larger k)") {
    // doc 1/2 share an 8-token run; doc 3/4 share a 20-token run (visible
    // at k=8 and 16, gone at 32); all tokens otherwise unique
    val run8 = (1 to 8).map(i => s"r$i").mkString(" ")
    val run20 = (1 to 20).map(i => s"s$i").mkString(" ")
    val corpus = Seq(
      (1L, s"a1 a2 $run8"), (2L, s"b1 b2 b3 $run8 b4"),
      (3L, s"c1 $run20"), (4L, s"$run20 d1 d2"),
      (5L, (1 to 40).map(i => s"u$i").mkString(" "))).toDF("doc_id", "text")
    val got = Dedup.spanSweep(corpus, col("text"), col("doc_id"),
        ks = Seq(8, 16, 32))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    def brute(k: Int): (Long, Long, Long) = {
      val dups = Dedup.spanDups(Dedup.spanTokens(corpus, col("text"),
          col("doc_id")), k)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      val cov = dups.flatMap { case (d, p) => (p until p + k).map(d -> _) }
        .distinct.length.toLong
      (dups.length.toLong, dups.map(_._1).distinct.length.toLong, cov)
    }
    for (k <- Seq(8, 16, 32)) {
      val (spans, docsWith, cov) = brute(k)
      val (_, gSpans, gDocs, gCov) = got(k.toLong)
      assert((gSpans, gDocs, gCov) == ((spans, docsWith, cov)), s"k=$k")
    }
    // k-floor: the 8-token run pairs at k=8 only; the 20-token run
    // survives to k=16 but not k=32
    assert(got(8L)._2 > 0 && got(16L)._2 > 0)
    assert(got(32L)._2 == 0L, "no 32-token duplicate exists in the fixture")
    // gram totals: sum over docs of max(0, n - k + 1)
    val toks = Dedup.spanTokens(corpus, col("text"), col("doc_id"))
      .collect().map(r => r.getSeq[String](1).length)
    for (k <- Seq(8, 16, 32))
      assert(got(k.toLong)._1 == toks.map(n => math.max(0, n - k + 1)).sum)
  }

  test("span keeper aggregate: a hot fingerprint (many occurrences of one " +
      "gram) keeps exactly its global minimum") {
    // one 8-token span repeated across 60 docs at varying positions — the
    // viral-boilerplate shape the keeper aggregate exists for
    val boiler = "b1 b2 b3 b4 b5 b6 b7 b8"
    val corpus = (1L to 60L).map { id =>
      val pad = (1L to (id % 5)).map(j => s"u${id}_$j").mkString(" ")
      (id, if (pad.isEmpty) boiler else s"$pad $boiler")
    }.toDF("doc_id", "text")
    val dups = Dedup.spanDups(
        Dedup.spanTokens(corpus, col("text"), col("doc_id")), k = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // earliest-wins is lexicographic on (doc_id, pos): doc 1 (pad 1,
    // boiler at pos 2) is the global keeper — NOT doc 5's pos-1
    // occurrence (doc_id orders first)
    assert(!dups.contains((1L, 2L)), "the global-minimum occurrence must survive")
    // every other doc's boiler occurrence is a duplicate: doc id with
    // pad p = id % 5 carries the boiler window at pos p + 1
    val expected = (1L to 60L).map(id => (id, id % 5 + 1)).toSet - ((1L, 2L))
    assert(dups == expected, s"got ${dups.size}, want ${expected.size}")
  }
}
