package graft.similarity

import org.apache.spark.sql.functions._

import graft.SparkSpec

class AnnSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = spark.read.parquet(sf("embeddings")).cache()
  private lazy val queries = emb.where(col("vec_id") < 20)

  test("brute-force top-k: known geometry") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f)),
      (2L, Array(0.9f, 0.1f)),
      (3L, Array(0.0f, 1.0f)),
      (4L, Array(-1.0f, 0.0f))).toDF("vec_id", "embedding")
    val top = Ann.bruteForceTopK(vecs.where($"vec_id" === 1), vecs,
        "vec_id", "embedding", k = 3)
      .collect().map(r => (r.getInt(1), r.getLong(2)))
    assert(top.toSeq == Seq((1, 2L), (2, 3L), (3, 4L)))
  }

  test("IVF recall vs brute force (16 cells, 4 probes)") {
    val bf = Ann.bruteForceTopK(queries, emb, "vec_id", "embedding", 10)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val ivf = Ann.ivfTopK(queries, emb, "vec_id", "embedding", 10, 16, 4)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (bf & ivf).size.toDouble / bf.size
    // random 64-dim embeddings are a worst case for coarse quantization;
    // probing 4/16 cells must still beat the 25%-of-corpus floor clearly
    assert(recall >= 0.35, s"IVF recall $recall")
    assert(ivf.size == bf.size) // k neighbors for every query
  }

  test("q47 recall query ≡ the set-based recall computation") {
    val bf = Ann.bruteForceTopK(queries, emb, "vec_id", "embedding", 10)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val ivf = Ann.ivfTopK(queries, emb, "vec_id", "embedding", 10, 16, 4)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val expected = (bf & ivf).size.toDouble / bf.size
    val rows = graft.SparkEntry.queries("q47_ivf_recall")(spark, sfDir).collect()
    assert(rows.length == 20) // one row per query vector
    val overall = rows.map(_.getAs[Long]("n_hit")).sum.toDouble /
      rows.map(_.getAs[Long]("n_true")).sum
    assert(overall == expected, s"q47 overall $overall != set-based $expected")
    rows.foreach { r =>
      assert(r.getAs[Double]("recall") ==
        r.getAs[Long]("n_hit").toDouble / r.getAs[Long]("n_true"))
    }
  }

  test("trained coarse centroids: deterministic, full shape, all-probed " +
      "still exact, recall at least the sampled floor") {
    val bf = Ann.bruteForceTopK(queries, emb, "vec_id", "embedding", 10)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    def run() = Ann.ivfTopK(queries, emb, "vec_id", "embedding", 10, 16, 4,
      trainIters = 3).collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val t1 = run()
    // Lloyd rounds carry no randomness; in LOCAL mode the partial-agg
    // merge order (and so the float avg) is stable run-to-run, which is
    // what this equality pins. On a cluster, fetch-order ULP drift could
    // flip a cosine near-tie — relax to recall-only there if it flakes.
    assert(t1 == run())
    assert(t1.size == bf.size)
    val recall = (bf & t1).size.toDouble / bf.size
    // same floor the sampled path must clear — training must not LOSE
    // recall vs the assertion floor (measured: trained beats sampled at
    // every operating point in the round-11 sweep, BASELINE.md)
    assert(recall >= 0.35, s"trained-IVF recall $recall")
    // probing every trained cell is still exhaustive-exact
    val all = Ann.ivfTopK(queries, emb, "vec_id", "embedding", 10, 16, 16,
      trainIters = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val bfFull = Ann.bruteForceTopK(queries, emb, "vec_id", "embedding", 10)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(all == bfFull)
  }

  test("IVF with all cells probed == brute force exactly") {
    val bf = Ann.bruteForceTopK(queries, emb, "vec_id", "embedding", 10)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val ivfAll = Ann.ivfTopK(queries, emb, "vec_id", "embedding", 10, 16, 16)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(ivfAll == bf)
  }

  test("maintained IVF index (q215 lifecycle): serve-on-stored-cells == " +
      "from-scratch assign; appended vectors pair; deleted vectors STOP " +
      "appearing as neighbors") {
    val maxId = emb.agg(max($"vec_id")).head().getLong(0)
    val (s1, s2) = (maxId / 3 + 1, 2 * maxId / 3 + 1)
    val cents = Ann.sampleCentroids(emb.where($"vec_id" < s1),
      "vec_id", "embedding", nCentroids = 16)
    val membership = emb.where($"vec_id" < s2 && $"vec_id" % 7 =!= 3)
    // the maintained cells table: A assigned + B assigned to the SAME
    // stored centroids, deletions removed — built the q215 way
    val cellsA = Ann.assignCells(emb.where($"vec_id" < s1),
      "vec_id", "embedding", cents).select("vec_id", "embedding", "centroid_id")
    val cellsB = Ann.assignCells(
      emb.where($"vec_id" >= s1 && $"vec_id" < s2),
      "vec_id", "embedding", cents).select("vec_id", "embedding", "centroid_id")
    val ledger = emb.where($"vec_id" < s2 && $"vec_id" % 7 === 3).select("vec_id")
    val maintained = graft.ops.Layout.upsert(cellsA, cellsB, Seq("vec_id"))
      .join(broadcast(ledger), Seq("vec_id"), "left_anti")
    val q = emb.where($"vec_id" < 20)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val got = rows(Ann.ivfTopKOnCells(q, maintained, "vec_id", "embedding",
      k = 10, nProbe = 4, centroids = cents))
    // incremental assignment to FIXED centroids == assigning the whole
    // membership at once (the append-never-shifts-cells contract)
    val want = rows(Ann.ivfTopKWith(q, membership, "vec_id", "embedding",
      k = 10, nProbe = 4, centroids = cents))
    assert(got == want)
    // appended (B-third) vectors ARE served; deleted ones never surface
    assert(got.exists { case (_, _, n) => n >= s1 && n < s2 })
    assert(!got.exists { case (_, _, n) => n % 7 == 3 })
    // counterfactual: without the deletion anti-join, deleted ids surface
    val leaky = rows(Ann.ivfTopKOnCells(q,
      graft.ops.Layout.upsert(cellsA, cellsB, Seq("vec_id")),
      "vec_id", "embedding", k = 10, nProbe = 4, centroids = cents))
    assert(leaky.exists { case (_, _, n) => n % 7 == 3 })
  }

  test("rebalance counterfactual (q224): retraining on a skew-drifted " +
      "membership rebalances cells and serves equivalently through the " +
      "stored-model round-trip; without the retrain the skew persists") {
    // planted drift: the 'maintained' membership is two tight clusters —
    // one around (1,0,...) with 40 members, one around (0,1,...) with 4 —
    // but the sampled quantizer (k=2 over the FIRST ids) lands both its
    // centroids inside the big cluster, so the small cluster's members
    // crowd into whichever centroid is least-unlike them: a degenerate
    // partition the q223 gauge would flag
    val dim = 8
    def v(axis: Int, i: Int): Array[Float] = {
      val a = Array.fill(dim)(0.01f * ((i * 7 + 3) % 5))
      a(axis) = 1f + 0.001f * i
      a
    }
    val members = (
      (0 until 40).map(i => (i.toLong, v(0, i))) ++
      (0 until 4).map(i => (100L + i, v(1, i)))).toDF("vec_id", "embedding")
    val sampled = Ann.sampleCentroids(members, "vec_id", "embedding", 2)
    // cluster purity of a partition: does any cell mix the two planted
    // clusters (id < 100 vs >= 100)?
    def mixedCells(asg: org.apache.spark.sql.DataFrame): Long =
      asg.groupBy("centroid_id")
        .agg(countDistinct(when(col("vec_id") >= 100L, 1).otherwise(0))
          .as("kinds"))
        .where(col("kinds") > 1).count()
    val beforeAsg = Ann.assignCells(members, "vec_id", "embedding", sampled)
    val before = beforeAsg
      .groupBy("centroid_id").count().collect().map(_.getLong(1)).sorted
    // retrain on the membership, reassign, round-trip the model via
    // Parquet (the q224 swap), serve from the stored tables
    val trained = Ann.trainedCentroids(members, "vec_id", "embedding", 2, 3)
    val tmp = tempDir("reb").toString
    trained.write.mode("overwrite").parquet(s"$tmp/cents")
    val stored = spark.read.parquet(s"$tmp/cents")
    val reassigned = Ann.assignCells(members, "vec_id", "embedding", stored)
      .select(col("vec_id"), col("embedding"), col("centroid_id"))
    reassigned.write.mode("overwrite").parquet(s"$tmp/cells")
    val after = spark.read.parquet(s"$tmp/cells")
      .groupBy("centroid_id").count().collect().map(_.getLong(1)).sorted
    // counterfactual: the Mix64-sampled quantizer lands both centroids
    // inside the big cluster (measured: a 9/35 split that buries the
    // small cluster in a mixed cell); the retrain separates the planted
    // clusters exactly — 4/40, zero mixed cells
    assert(mixedCells(beforeAsg) > 0,
      s"planted drift vanished: sampled split ${before.toSeq} is already pure")
    assert(after.toSeq == Seq(4L, 40L), s"rebalance did not split: ${after.toSeq}")
    assert(mixedCells(spark.read.parquet(s"$tmp/cells")
      .select(col("vec_id"), col("centroid_id"))) == 0)
    // serve-equivalence: the stored-model serve == the in-memory serve
    val q = members.where(col("vec_id").isin(0L, 100L))
    val onStored = Ann.ivfTopKOnCells(q, spark.read.parquet(s"$tmp/cells"),
        "vec_id", "embedding", k = 3, nProbe = 1, centroids = stored)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val inMem = Ann.ivfTopKWith(q, members, "vec_id", "embedding",
        k = 3, nProbe = 1, centroids = trained)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(onStored == inMem && onStored.nonEmpty)
  }

  test("hyperplane signatures: deterministic; close vectors agree on more bits") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.2f, -0.3f, 0.5f)),
      (2L, Array(1.0f, 0.21f, -0.29f, 0.52f)), // near-dup of 1
      (3L, Array(-0.8f, 0.9f, 0.7f, -0.1f))).toDF("vec_id", "embedding")
    val sig = vecs.select(col("vec_id"),
        Ann.hyperplaneSignature(col("embedding"), 64, 42L).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val near = java.lang.Long.bitCount(sig(1L) ^ sig(2L))
    val far = java.lang.Long.bitCount(sig(1L) ^ sig(3L))
    assert(near < far, s"near=$near far=$far")
    val sig2 = vecs.select(Ann.hyperplaneSignature(col("embedding"), 64, 42L))
      .collect().map(_.getLong(0))
    assert(sig2.toSeq == vecs.collect().map(r => sig(r.getLong(0))).toSeq)
  }

  test("portable hyperplane sig ≈ float sig: quantization flips almost no bits") {
    import graft.functions.HyperplanePortable
    val nBits = 32
    val rows = emb.select(
        Ann.hyperplaneSignature(col("embedding"), nBits, 42L).as("f"),
        HyperplanePortable.signature(col("embedding"), nBits, 42L).as("p"))
      .collect()
    // both variants are monotone images of the same mix (float: mix/2^63,
    // portable: mix >> 32), so plane DIRECTIONS agree — a bit can only flip
    // when the dot is within quantization error of zero (|cos| ≲ 2^-20).
    // Expected flips over 500 vecs × 32 bits: ≪ 1; assert a loose ceiling.
    val flips = rows.map(r => java.lang.Long.bitCount(r.getLong(0) ^ r.getLong(1))).sum
    assert(flips <= 10, s"quantization flipped $flips bits across ${rows.length} vecs")
    val sigs = rows.map(_.getLong(1))
    assert(sigs.distinct.length > rows.length / 2, "portable sigs degenerate")
    // determinism across evaluations
    val again = emb.select(HyperplanePortable.signature(col("embedding"), nBits, 42L))
      .collect().map(_.getLong(0))
    assert(again.toSeq === sigs.toSeq)
  }

  test("portable hyperplane JVM closed form matches the expression") {
    import graft.functions.HyperplanePortable
    val v = Array(0.3f, -0.2f, 0.55f, 0.01f)
    val df = Seq((1L, v)).toDF("vec_id", "embedding")
    val got = df.select(HyperplanePortable.signature(col("embedding"), 8, 7L))
      .head().getLong(0)
    var expect = 0L
    for (j <- 0 until 8) {
      val dot = v.indices.map(i =>
        HyperplanePortable.quant(v(i).toDouble) *
          HyperplanePortable.component(7L, j, i)).sum
      if (dot >= 0) expect |= (1L << j)
    }
    assert(got === expect)
  }

  test("embedding-audit fold: NULL/empty vectors surface as dim 0, never vanish") {
    // pins the explode_outer semantics q134 relies on: a null or empty
    // array folds to exactly one row with a null element → dim 0 via the
    // non-null count, so the worst corruption class lands in n_bad_dim
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val df = Seq(
      (1L, Option(Seq(0.5f, -0.25f))),
      (2L, Option(Seq.empty[Float])),
      (3L, Option.empty[Seq[Float]])
    ).toDF("vec_id", "embedding")
    val got = df.select(col("vec_id"), explode_outer(col("embedding")).as("x"))
      .withColumn("q", floor(col("x").cast("double") * 1048576L).cast("long"))
      .groupBy("vec_id")
      .agg(count(col("x")).as("dim"),
        coalesce(sum(col("q") * col("q")), lit(0L)).as("norm2_q"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got(1L)._1 == 2L && got(1L)._2 > 0L)
    assert(got(2L) == ((0L, 0L)) && got(3L) == ((0L, 0L)))
  }

  test("hyperplanePairsLsh: near-identical pair verified, orthogonal pair absent") {
    // 32-dim so the 8×4-bit banding has real signature structure
    val near = Array.tabulate(32)(i => (math.sin(i + 1) * 0.5).toFloat)
    val nearB = near.clone(); nearB(0) = near(0) + 0.01f
    val ortho = Array.tabulate(32)(i => if (i % 2 == 0) near(i + 1) else -near(i - 1))
    val vecs = Seq((1L, near), (2L, nearB), (3L, ortho))
      .toDF("vec_id", "embedding")
    for (sigOf <- Seq[org.apache.spark.sql.Column => org.apache.spark.sql.Column](
        v => Ann.hyperplaneSignature(v, 32, 42L),
        v => graft.functions.HyperplanePortable.signature(v, 32, 42L))) {
      val pairs = Ann.hyperplanePairsLsh(vecs, col("vec_id"), col("embedding"),
          sigOf, threshold = 0.9)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs == Set((1L, 2L)), s"got $pairs")
    }
  }

  test("q140 recall curve: monotone in probes, exact 1.0 at full probe") {
    val rows = graft.SparkEntry.queries("q140_ivf_recall_curve")(spark, sfDir)
      .collect()
    assert(rows.map(_.getAs[Int]("n_probe")).toSeq == Seq(1, 2, 4, 8, 12, 16))
    val recalls = rows.map(_.getAs[Double]("recall"))
    assert(recalls.zip(recalls.tail).forall { case (a, b) => a <= b },
      s"recall not monotone: ${recalls.toSeq}")
    // probing every cell IS brute force — the curve's end-to-end self-check
    assert(recalls.last == 1.0, s"full-probe recall ${recalls.last}")
    val scanned = rows.map(_.getAs[Long]("rows_scanned"))
    assert(scanned.zip(scanned.tail).forall { case (a, b) => a < b })
    // q47's configuration (4 probes) must appear with the same recall value
    val q47 = graft.SparkEntry.queries("q47_ivf_recall")(spark, sfDir).collect()
    val q47overall = q47.map(_.getAs[Long]("n_hit")).sum.toDouble /
      q47.map(_.getAs[Long]("n_true")).sum
    val curve4 = rows.find(_.getAs[Int]("n_probe") == 4).get.getAs[Double]("recall")
    assert(curve4 == q47overall, s"curve@4 $curve4 != q47 $q47overall")
  }

  test("q200: stored IVF centroids / PQ codebook serve identically to the " +
      "in-memory models") {
    val r = graft.SparkEntry.queries("q200_vector_model_store")(spark, sfDir)
      .collect().head
    assert(r.getAs[Long]("n_centroids") == 16L, s"model row lost centroids: $r")
    assert(r.getAs[Long]("n_codebook_entries") == 128L, s"codebook shape: $r")
    assert(r.getAs[Boolean]("assign_match"), s"stored-model assignment drift: $r")
    assert(r.getAs[Boolean]("topk_match"), s"stored-model serve drift: $r")
    assert(r.getAs[Boolean]("codes_match"), s"stored-codebook encode drift: $r")
  }

  test("assignCells n=1 literal-argmax ≡ the broadcast-join window form " +
      "(r18 no-shuffle assignment pin): random, tied, zero and NULL vectors") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    // deterministic pseudo-random vectors + adversarial rows: a zero
    // vector (NaN cosine against every centroid), an exact duplicate of a
    // centroid (ties across scaled copies), and a NULL vector
    def vec(seed: Long, dim: Int): Array[Float] =
      Array.tabulate(dim)(d =>
        (((graft.functions.Mix64.hash(seed * 131 + d) >>> 11).toDouble /
          (1L << 53).toDouble) - 0.5).toFloat)
    val dim = 8
    val base = (1L to 40L).map(i => (i, vec(i, dim))) ++ Seq(
      (100L, Array.fill(dim)(0.0f)),                      // NaN csim row
      (101L, vec(3L, dim)),                               // duplicate of id 3
      (102L, vec(3L, dim).map(x => x * 2.0f)),            // scaled copy: cosine tie
      (103L, null.asInstanceOf[Array[Float]]))            // NULL vector
    val df = base.toDF("vec_id", "embedding")
    val cents = graft.similarity.Ann.sampleCentroids(
      df.where(col("vec_id") <= 40 && col("vec_id") =!= 103L),
      "vec_id", "embedding", nCentroids = 4)
    // the pre-r18 formulation, kept verbatim as the reference
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("csim").desc, col("centroid_id"))
    val want = df.select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(cents))
      .withColumn("csim",
        graft.functions.CosineSim.cosineSim(col("embedding"), col("cvec")))
      .withColumn("crank", row_number().over(w))
      .where(col("crank") <= 1)
      .select("vec_id", "centroid_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = graft.similarity.Ann.assignCells(df, "vec_id", "embedding", cents)
      .select("vec_id", "centroid_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want, s"argmax diverges from the window form:\n got=$got\nwant=$want")
    // the corpus-assignment plan must carry NO exchange and NO window
    val p = graft.similarity.Ann.assignCells(df, "vec_id", "embedding", cents)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange") && !p.contains("Window"),
      s"n=1 assignment shuffles or windows:\n${p.take(600)}")
  }

  test("q139: prod and portable hyperplane pair sets agree at sf0.001") {
    val r = graft.SparkEntry.queries("q139_hyperplane_path_equiv")(spark, sfDir)
      .collect().head
    assert(r.getAs[Long]("n_only_prod") == 0L && r.getAs[Long]("n_only_ref") == 0L,
      s"asymmetric pairs: $r")
    assert(r.getAs[Long]("n_both") > 0L, "agreement row must be non-degenerate")
  }
}
