package graft

import org.apache.spark.sql.functions._

import graft.operators.{Caches, TextOps, VectorOps}

/** LLM-pipeline operator specs over crafted micro-corpora. */
class TextVectorSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog", "en", "s0", 43L),
    (1L, "the quick brown fox jumps over the lazy cat", "en", "s0", 43L),
    (2L, "completely different text about spark engines here", "en", "s1", 50L),
    (3L, "the quick brown fox jumps over the lazy dog", "en", "s1", 43L), // exact dup of 0
    (4L, "   ", "en", "s1", 3L) // whitespace-only
  ).toDF("doc_id", "text", "lang", "source", "n_chars")

  test("tokens drops empties; whitespace-only text has zero tokens") {
    val n = docs.select(size(TextOps.tokens(col("text"))).as("n"))
      .orderBy(col("n")).collect().map(_.getInt(0))
    assert(n.head === 0)
    assert(n.last === 9)
  }

  test("shingles fall back to whole text when fewer than k tokens") {
    val sh = Seq(("ab cd")).toDF("text")
      .select(TextOps.shingles(col("text"), 3)).collect()(0).getSeq[String](0)
    assert(sh === Seq("ab cd"))
  }

  test("dedupExact groups identical texts") {
    val out = TextOps.dedupExact(docs).orderBy(col("keeper_doc_id")).collect()
    assert(out.length === 4) // 5 docs, one exact dup
    val dupRow = out.find(_.getAs[Long]("n_copies") === 2L).get
    assert(dupRow.getAs[Long]("keeper_doc_id") === 0L)
  }

  test("nearDupPairs finds the planted near-dup and the exact dup") {
    val pairs = TextOps.nearDupPairs(docs, threshold = 0.5)
      .orderBy(col("doc_a"), col("doc_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.map(p => (p._1, p._2)).toSet === Set((0L, 1L), (0L, 3L), (1L, 3L)))
    assert(pairs.find(p => (p._1, p._2) == (0L, 3L)).get._3 === 1.0)
  }

  test("ngramJaccardPairs is exact and agrees with the minhash verify stage") {
    // exact set-similarity join: same pairs as nearDupPairs at the same
    // threshold on this fixture, with identical Jaccard values
    val exact = TextOps.ngramJaccardPairs(docs, threshold = 0.5)
      .orderBy(col("doc_a"), col("doc_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(exact.map(p => (p._1, p._2)).toSet === Set((0L, 1L), (0L, 3L), (1L, 3L)))
    assert(exact.find(p => (p._1, p._2) == (0L, 3L)).get._3 === 1.0)
    // frequency cap: 4 clones share every shingle -> posting lists of
    // size 4; cap 4 keeps them (pins the <= semantics), cap 3 drops all
    val clones = (0L until 4L).map(i =>
      (i, "the quick brown fox jumps over the lazy dog", "en", "s0", 43L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    assert(TextOps.ngramJaccardPairs(clones).count() === 6)
    assert(TextOps.ngramJaccardPairs(clones, maxPostings = 4).count() === 6)
    assert(TextOps.ngramJaccardPairs(clones, maxPostings = 3).count() === 0)
  }

  test("ngramJaccardPairs exact mode (r20 PPJoin prefix filter) equals " +
      "brute-force all-pairs Jaccard on a real corpus at two thresholds") {
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val sh = real.select(col("doc_id").cast("long").as("doc_id"),
      TextOps.shingles(col("text"), 3).as("sh"))
    def brute(t: Double) = sh.as("a")
      .join(sh.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        round(size(array_intersect(col("a.sh"), col("b.sh"))).cast("double") /
          size(array_union(col("a.sh"), col("b.sh"))), 6).as("jaccard"))
      .filter(col("jaccard") >= t)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    for (t <- Seq(0.8, 0.5)) {
      val got = TextOps.ngramJaccardPairs(real, threshold = t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got === brute(t), s"prefix-filtered join diverged at t=$t")
    }
    spark.catalog.clearCache()
  }

  test("ngramJaccardPairs prefix filter keeps the fp-boundary pair: " +
      "J exactly = threshold where t*|A| lands above an integer in fp") {
    // |A|=5 shingles, |B|=4, B ⊂ A: J = 4/5 = 0.8 = t, a legal pair.
    // 0.8*5 computes as 4.0000000000000002 in binary fp; an unslacked
    // ceil would cut A's prefix one short AND the length filter would
    // reject |B|=4 < 4.0000000000000002 — both must keep the pair.
    val boundary = Seq(
      (0L, "w0 w1 w2 w3 w4 w5 w6", "en", "s", 20L), // 7 tokens -> 5 shingles
      (1L, "w0 w1 w2 w3 w4 w5", "en", "s", 17L)     // 6 tokens -> 4, all in A
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = TextOps.ngramJaccardPairs(boundary, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq === Seq((0L, 1L, 0.8)))
    spark.catalog.clearCache()
  }

  test("native hash expressions match the column formulations exactly") {
    graft.functions.ensureRegistered(spark)
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val sh = real.select(col("doc_id"), TextOps.shingles(col("text"), 3).as("sh"))
    val sigCmp = sh.select(
      graft.functions.minhash_signature(col("sh"), 12).as("native"),
      TextOps.minhashSignature(col("sh"), 12).as("columnar"))
      .filter(to_json(col("native")) =!= to_json(col("columnar")))
    assert(sigCmp.count() === 0)
    val simCmp = real.select(
      graft.functions.simhash64(TextOps.tokens(col("text"))).as("native"),
      TextOps.simhash64(col("text")).as("columnar"))
      .filter(col("native") =!= col("columnar"))
    assert(simCmp.count() === 0)
    val tokCmp = real.select(TextOps.tokens(col("text")).as("toks"))
      .select(
        graft.functions.count_token(col("toks"), lit("hash")).as("native"),
        size(filter(col("toks"), x => x === "hash")).as("columnar"))
      .filter(col("native") =!= col("columnar"))
    assert(tokCmp.count() === 0)
  }

  test("fingerprint is whitespace/case-insensitive") {
    val fps = Seq((0L, "A  B\tC"), (1L, "a b c"), (2L, "a b d"))
      .toDF("doc_id", "text")
    val out = TextOps.fingerprint(fps).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(0L) === out(1L))
    assert(out(0L) !== out(2L))
  }

  test("cosineTopK ranks an identical vector first with score 1") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f), 0),
      (1L, Array(1.0f, 0.0f, 0.0f), 0),
      (2L, Array(0.0f, 1.0f, 0.0f), 1),
      (3L, Array(0.70710677f, 0.70710677f, 0.0f), 1)
    ).toDF("vec_id", "embedding", "label")
    val rows = VectorOps.cosineTopK(emb, nProbes = 1, k = 3).collect()
      .map(r => (r.getAs[Int]("rnk"), r.getAs[Long]("neighbor_id"),
        r.getAs[Double]("score")))
    assert(rows.length === 3)
    assert(rows.find(_._1 == 1).get._2 === 1L)
    assert(rows.find(_._1 == 1).get._3 === 1.0)
    assert(rows.find(_._1 == 3).get._2 === 2L) // orthogonal last
  }

  test("normReport counts zero-norm vectors and exact norms") {
    val emb = Seq(
      (0L, Array(3.0f, 4.0f), 0),
      (1L, Array(0.0f, 0.0f), 0), // the NaN-cosine degenerate
      (2L, Array(1.0f, 0.0f), 1)
    ).toDF("vec_id", "embedding", "label")
    val out = VectorOps.normReport(emb).collect()
      .map(r => r.getAs[Int]("label") -> r).toMap
    assert(out(0).getAs[Long]("n_vecs") === 2L)
    assert(out(0).getAs[Long]("n_zero") === 1L)
    assert(out(0).getAs[Double]("max_norm") === 5.0)
    assert(out(0).getAs[Double]("mean_norm") === 2.5)
    assert(out(1).getAs[Long]("n_zero") === 0L)
    assert(out(1).getAs[Double]("min_norm") === 1.0)
  }

  test("clusterReport sizes cells and scores member tightness") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f), 0), // centroid 0
      (1L, Array(0.0f, 1.0f), 1), // centroid 1
      (2L, Array(1.0f, 0.0f), 0), // exact copy of c0
      (3L, Array(0.6f, 0.8f), 1)  // cos c0=0.6, c1=0.8 -> cell 1
    ).toDF("vec_id", "embedding", "label")
    val out = VectorOps.clusterReport(emb, nCentroids = 2).collect()
      .map(r => r.getAs[Long]("cluster") ->
        (r.getAs[Long]("n_vecs"), r.getAs[Double]("mean_cos"),
          r.getAs[Double]("min_cos"))).toMap
    assert(out(0L) === ((2L, 1.0, 1.0)))
    assert(out(1L) === ((2L, 0.9, 0.8)))
  }

  test("clusterReport excludes zero-norm members from tightness stats") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f), 0), // centroid 0
      (1L, Array(0.0f, 1.0f), 1), // centroid 1
      (2L, Array(0.0f, 0.0f), 0), // zero norm: NaN cosine, seeds to cell 0
      (3L, Array(1.0f, 0.0f), 0)
    ).toDF("vec_id", "embedding", "label")
    val out = VectorOps.clusterReport(emb, nCentroids = 2).collect()
      .map(r => r.getAs[Long]("cluster") ->
        (r.getAs[Long]("n_vecs"), r.getAs[Double]("mean_cos"),
          r.getAs[Double]("min_cos"))).toMap
    // the degenerate counts as a member but not against mean/min
    assert(out(0L) === ((3L, 1.0, 1.0)))
    assert(out(1L) === ((1L, 1.0, 1.0)))
  }

  test("ivfTopK assigns centroids to themselves and finds cluster members") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f), 0),   // centroid A
      (1L, Array(0.0f, 1.0f), 0),   // centroid B
      (2L, Array(0.9f, 0.1f), 1),   // near A
      (3L, Array(0.1f, 0.9f), 1)    // near B
    ).toDF("vec_id", "embedding", "label")
    val out = VectorOps.ivfTopK(emb, nProbes = 2, k = 2, nCentroids = 2)
      .collect().map(r => r.getAs[Long]("probe_id") ->
        (r.getAs[Long]("cluster"), r.getAs[Long]("neighbor_id"))).groupBy(_._1)
    // probe 0 (cluster 0) finds vec 2; probe 1 (cluster 1) finds vec 3
    assert(out(0L).map(_._2._2).toSet === Set(2L))
    assert(out(1L).map(_._2._2).toSet === Set(3L))
    assert(out(0L).forall(_._2._1 == 0L) && out(1L).forall(_._2._1 == 1L))
  }

  test("langId predicts from markers with deterministic tie-break") {
    val d = Seq(
      (0L, "the cat and the dog", "en", "s", 1L),
      (1L, "der hund und die katze", "de", "s", 1L),
      (2L, "xyz qqq www", "zz", "s", 1L) // no markers
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextOps.langId(d).collect()
      .map(r => r.getLong(0) -> r.getAs[String]("lang_pred")).toMap
    assert(out(0L) === "en")
    assert(out(1L) === "de")
    assert(out(2L) === "unknown")
  }

  test("maxBucketSize drops oversized near-dup buckets, default keeps them") {
    // 4 identical docs -> one 4-member bucket per band -> 6 pairs
    val clones = (0L until 4L).map(i =>
      (i, "the quick brown fox jumps over the lazy dog", "en", "s0", 43L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    assert(TextOps.nearDupPairs(clones).count() === 6)
    assert(TextOps.nearDupPairs(clones, maxBucketSize = 3).count() === 0)
    assert(TextOps.simhashPairs(clones).count() === 6)
    assert(TextOps.simhashPairs(clones, maxBucketSize = 3).count() === 0)
  }

  test("native minhash matches columnar sentinel behavior on empty shingles") {
    graft.functions.ensureRegistered(spark)
    val empty = Seq(Seq.empty[String]).toDF("sh")
    val rows = empty.select(
      graft.functions.minhash_signature(col("sh"), 12).as("native"),
      TextOps.minhashFromHashes(
        TextOps.shingleHashes(col("sh"), 12), 12).as("columnar"))
      .collect()(0)
    assert(rows.getSeq[String](0) === rows.getSeq[String](1))
    assert(rows.getSeq[String](0) === Seq.fill(12)("￿"))
  }

  test("registered native expressions reject wrong input types at analysis") {
    graft.functions.ensureRegistered(spark)
    // double arrays are a VALID second input form (quantized search
    // scores reconstructions) — must agree with the float-array path
    val dbl = Seq((Array(1.0, 0.0), Array(1.0, 0.0))).toDF("a", "b")
      .selectExpr("graft_cosine(a, b) AS c").collect()(0).getDouble(0)
    assert(math.abs(dbl - 1.0) < 1e-12)
    val wrong = Seq((Array(1, 2), Array(3, 4))).toDF("a", "b")
    val ex = intercept[Exception] {
      wrong.selectExpr("graft_cosine(a, b)").collect()
    }
    assert(ex.getMessage.contains("array<float>"))
    val wrongPx = Seq((Seq("x"), 1)).toDF("px", "sx")
    val ex2 = intercept[Exception] {
      wrongPx.selectExpr("graft_block_mean_2x(px, sx, sx)").collect()
    }
    assert(ex2.getMessage.contains("array<int>"))
    val ex3 = intercept[Exception] {
      wrongPx.selectExpr("graft_minhash_sig(sx, 12)").collect()
    }
    assert(ex3.getMessage.contains("array<string>"))
  }

  test("k-means IVF: totality, in-cluster search, ranked output") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val n = emb.count()
    val cents = VectorOps.kmeansCentroids(emb, k = 8)
    assert(cents.count() === 8)
    val out = VectorOps.ivfTopKTrained(emb, nProbes = 16, k = 5, nCentroids = 8)
      .collect()
    assert(out.nonEmpty)
    // ranks are 1..k per probe, scores non-increasing within a probe
    out.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      val byRank = rows.sortBy(_.getInt(2))
      assert(byRank.map(_.getInt(2)).toSeq === (1 to byRank.length))
      val scores = byRank.map(_.getDouble(4))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
      // all of a probe's neighbors come from one cluster (its own)
      assert(rows.map(_.getLong(1)).distinct.length === 1)
    }
    // determinism: same seed -> same result set
    val out2 = VectorOps.ivfTopKTrained(emb, nProbes = 16, k = 5, nCentroids = 8)
      .collect()
    assert(out.map(_.toString).sorted.toSeq === out2.map(_.toString).sorted.toSeq)
  }

  test("deterministic Lloyd IVF: ties to lowest cid, exact mean update") {
    import spark.implicits._
    // exact-in-float32 1-D-ish fixture (micro-units: ×10⁶)
    val emb = Seq(
      (0L, Seq(0.0f, 0.0f), 0),
      (1L, Seq(4.0f, 0.0f), 0),
      (2L, Seq(5.0f, 0.0f), 0),
      (3L, Seq(6.0f, 0.0f), 0),
      (4L, Seq(2.0f, 0.0f), 0) // equidistant c0/c1 → tie → c0
    ).toDF("vec_id", "embedding", "label")
    val cents = VectorOps.lloydCentroidsMicro(emb, k = 2, iters = 1)
    // round 1: {v0,v4}→c0 (v4 by tie-break), {v1,v2,v3}→c1;
    // means: c0=(1.0, 0), c1=(5.0, 0)
    assert(cents.map { case (id, c) => (id, c.toSeq) }.toSeq ===
      Seq((0L, Seq(1000000L, 0L)), (1L, Seq(5000000L, 0L))))
  }

  test("Lloyd mean update rounds HALF_UP away from zero on exact halves") {
    import spark.implicits._
    def train(v: Float) = VectorOps.lloydCentroidsMicro(
      Seq((0L, Seq(0.0f, 0.0f), 0), (1L, Seq(v, 0.0f), 0))
        .toDF("vec_id", "embedding", "label"), k = 1, iters = 1)
    // Σx = ±1 micro over n=2 → ±0.5 → HALF_UP → ±1
    assert(train(0.000001f).head._2.toSeq === Seq(1L, 0L))
    assert(train(-0.000001f).head._2.toSeq === Seq(-1L, 0L))
  }

  test("Lloyd empty cell carries its previous centroid") {
    import spark.implicits._
    // v1 duplicates v0, so seeding gives c1 = c0 = (0,0); every vector
    // tie-breaks into c0, c1 goes empty and must keep its centroid
    val emb = Seq(
      (0L, Seq(0.0f, 0.0f), 0),
      (1L, Seq(0.0f, 0.0f), 0),
      (2L, Seq(0.000003f, 0.0f), 0)
    ).toDF("vec_id", "embedding", "label")
    val cents = VectorOps.lloydCentroidsMicro(emb, k = 2, iters = 1)
    assert(cents.map(_._1).toSeq === Seq(0L, 1L))
    assert(cents(1)._2.toSeq === Seq(0L, 0L)) // carried, not NaN/dropped
    // c0 absorbed all three: mean micro = (0+0+3)/3 = 1
    assert(cents(0)._2.toSeq === Seq(1L, 0L))
  }

  test("ivfTopKLloyd searches in-cluster with ranked output, rerun-identical") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val out = VectorOps.ivfTopKLloyd(emb, nProbes = 8, k = 3, nCentroids = 4,
      iters = 2).collect()
    assert(out.nonEmpty)
    out.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      val byRank = rows.sortBy(_.getInt(2))
      assert(byRank.map(_.getInt(2)).toSeq === (1 to byRank.length))
      val scores = byRank.map(_.getDouble(4))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
      assert(rows.map(_.getLong(1)).distinct.length === 1)
    }
    val out2 = VectorOps.ivfTopKLloyd(emb, nProbes = 8, k = 3, nCentroids = 4,
      iters = 2).collect()
    assert(out.map(_.toString).sorted.toSeq === out2.map(_.toString).sorted.toSeq)
  }

  test("repetitionStats measures duplicate 2-grams deterministically") {
    val rep = Seq(
      (0L, "a b a b a b"), // grams: "a b","b a","a b","b a","a b" -> 5 total, 2 distinct
      (1L, "x y z w")      // 3 grams, all distinct
    ).toDF("doc_id", "text")
    val out = TextOps.repetitionStats(rep).orderBy("doc_id").collect()
    assert(out(0).getAs[Long]("n_grams") === 5L)
    assert(out(0).getAs[Long]("n_distinct") === 2L)
    assert(out(0).getAs[Double]("dup_gram_frac") === 0.6)
    // every gram is a repeat -> dup_char_frac 1.0; "a b" covers 9 of 15 chars
    assert(out(0).getAs[Double]("dup_char_frac") === 1.0)
    assert(out(0).getAs[Double]("top_char_frac") === 0.6)
    assert(out(1).getAs[Double]("dup_gram_frac") === 0.0)
    assert(out(1).getAs[Double]("dup_char_frac") === 0.0)
  }

  test("contamination finds cross-split n-gram overlap") {
    val train = Seq((10L, "the quick brown fox jumps high")).toDF("doc_id", "text")
    val eval_ = Seq(
      (0L, "the quick brown fox runs"), // shares "the quick brown", "quick brown fox"
      (1L, "totally unrelated words here")
    ).toDF("doc_id", "text")
    val out = TextOps.contamination(train, eval_, n = 3, minShared = 2).collect()
    assert(out.length === 1)
    assert(out(0).getAs[Long]("train_doc") === 10L)
    assert(out(0).getAs[Long]("eval_doc") === 0L)
    assert(out(0).getAs[Long]("n_shared") === 2L)
    // eval doc 0 has 3 distinct 3-grams -> frac 2/3
    assert(out(0).getAs[Double]("eval_frac") === 0.666667)
  }

  test("bloomDecontaminate: no false negatives; scoring plan never shuffles") {
    val train = Seq(
      (10L, "the quick brown fox jumps high"), // shares 2 grams with eval 0
      (11L, "completely different training text entirely"),
      (12L, "the quick brown fox runs") // identical to eval doc 0
    ).toDF("doc_id", "text")
    val eval_ = Seq(
      (0L, "the quick brown fox runs"),
      (1L, "totally unrelated words here")).toDF("doc_id", "text")
    val out = TextOps.bloomDecontaminate(train, eval_, n = 3, minHits = 2)
    val rows = out.collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    // one-sided error: every exact-contaminated doc MUST be flagged
    val exact = TextOps.contamination(train, eval_, n = 3, minShared = 2)
      .select(col("train_doc")).distinct().collect().map(_.getLong(0)).toSet
    assert(exact.nonEmpty)
    exact.foreach(d => assert(rows(d).getAs[Int]("flagged") === 1,
      s"exact-contaminated doc $d not flagged by the bloom pass"))
    // hits are lower-bounded by the true overlap (bloom only overcounts)
    assert(rows(10L).getAs[Long]("n_hits") >= 2L)
    assert(rows(12L).getAs[Long]("n_hits") === rows(12L).getAs[Long]("n_grams"))
    // the returned scoring plan is scan + projection: zero Exchange
    val p = out.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"bloom scoring shuffled:\n$p")
  }

  test("decontaminateTwoStage: value-equal to the exact path (no false " +
      "negatives survive the bloom stage); sub-threshold docs are " +
      "pruned before the posting join") {
    val train = Seq(
      (10L, "the quick brown fox jumps high"), // 2 shared grams
      (11L, "completely different training text entirely"), // 0 shared
      (12L, "the quick brown fox runs"), // identical to eval doc 0
      (13L, "a quick brown dog sits still") // 1 shared gram < minShared
    ).toDF("doc_id", "text")
    val eval_ = Seq(
      (0L, "the quick brown fox runs"),
      (1L, "a quick brown cat sleeps")).toDF("doc_id", "text")
    val exact = TextOps.contamination(train, eval_, n = 3, minShared = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    val two = TextOps.decontaminateTwoStage(train, eval_, n = 3,
      minShared = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(exact.nonEmpty)
    assert(two === exact,
      "two-stage composition must equal the exact contamination output")
    // doc 13 shares exactly ONE 3-gram ("a quick brown") with eval
    // doc 1 — below minShared, so the bloom stage prunes it before the
    // posting join and it appears on neither path
    assert(!two.exists(_._1 == 13L))
    // the production xxhash64 flag positions change only the
    // false-positive SET — stage 2 is exact, so the output is
    // identical
    val fast = TextOps.decontaminateTwoStage(train, eval_, n = 3,
      minShared = 2, fastHash = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(fast === exact)
  }

  test("bloom filter saturation fails loud: an overfull filter would " +
      "silently flag everything (measured 2.7x worse than exact)") {
    val train = Seq((10L, "any train text at all")).toDF("doc_id", "text")
    // hexDigits = 1 -> m = 16 bits; a handful of eval grams x 3
    // positions overfills it immediately
    val eval_ = Seq(
      (0L, "one two three four five six seven eight nine ten"))
      .toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      TextOps.decontaminateTwoStage(train, eval_, hexDigits = 1)
    }
    assert(e.getMessage.contains("full") &&
      e.getMessage.contains("hexDigits"))
    // the same guard protects the flag-only operator
    val e2 = intercept[IllegalArgumentException] {
      TextOps.bloomDecontaminate(train, eval_, hexDigits = 1)
    }
    assert(e2.getMessage.contains("full"))
    // loosening maxFill is the explicit override
    assert(TextOps.decontaminateTwoStage(train, eval_, hexDigits = 1,
      maxFill = 1.0).collect() != null)
  }

  test("cmsTokenCounts: estimates dominate true counts; top-k is exact") {
    val fixture = Seq(
      (0L, "alpha alpha alpha beta"),
      (1L, "alpha beta gamma"),
      (2L, "beta gamma delta")).toDF("doc_id", "text")
    val out = TextOps.cmsTokenCounts(fixture, kTop = 3).collect()
      .map(r => r.getAs[String]("token") -> r).toMap
    // tokenTopK contract: top 3 by count, ties by token text
    assert(out.keySet === Set("alpha", "beta", "gamma"))
    assert(out("alpha").getAs[Long]("n") === 4L)
    assert(out("beta").getAs[Long]("n") === 3L)
    out.values.foreach { r =>
      assert(r.getAs[Long]("est") >= r.getAs[Long]("n"),
        s"CMS underestimated ${r.getAs[String]("token")}")
      assert(r.getAs[Long]("overcount") ===
        r.getAs[Long]("est") - r.getAs[Long]("n"))
    }
  }

  test("corpusDivergence: zero for identical corpora, positive for shift") {
    val a = Seq((0L, "x y z")).toDF("doc_id", "text")
    val same = TextOps.corpusDivergence(a, a).collect()(0)
    assert(same.getAs[Double]("kl_ab") === 0.0)
    assert(same.getAs[Double]("kl_ba") === 0.0)
    assert(same.getAs[Double]("js_div") === 0.0)
    val b = Seq((1L, "x x x")).toDF("doc_id", "text")
    val r = TextOps.corpusDivergence(a, b).collect()(0)
    assert(r.getAs[Long]("n_a_tokens") === 3L)
    assert(r.getAs[Long]("n_b_tokens") === 3L)
    assert(r.getAs[Long]("n_vocab") === 3L)
    assert(r.getAs[Double]("kl_ab") > 0.0)
    assert(r.getAs[Double]("kl_ba") > 0.0)
    // JS is symmetric and bounded by ln 2 in nats
    assert(r.getAs[Double]("js_div") > 0.0 &&
      r.getAs[Double]("js_div") <= math.log(2))
  }

  test("quantileReport interpolates exact percentiles and certifies GK") {
    val fixture = (1 to 5).map(i => (i.toLong, s"d$i", "s0", i.toLong))
      .toDF("doc_id", "text", "source", "n_chars")
    val r = TextOps.quantileReport(fixture).collect()(0)
    assert(r.getAs[Long]("n_docs") === 5L)
    // sorted [1..5]: p50 = element 2; p90 rank 3.6 -> 4 + 0.6*(5-4)
    assert(r.getAs[Double]("p50") === 3.0)
    assert(r.getAs[Double]("p90") === 4.6)
    assert(r.getAs[Double]("p99") === 4.96)
    // GK at accuracy 10000 is exact for 5 rows -> must certify
    assert(r.getAs[Int]("approx_ok") === 1)
  }

  test("dedupExactBest keeps the highest-scored copy, id tie-break") {
    val fixture = Seq(
      (0L, "same text", "s0", 5L),
      (1L, "same text", "s1", 5L), // preferred source wins over lower id
      (2L, "same text", "s1", 5L), // equal score -> smaller id wins
      (3L, "unique", "s0", 3L)
    ).toDF("doc_id", "text", "source", "n_chars")
    val out = TextOps.dedupExactBest(fixture,
        when(col("source") === "s1", 2.0).otherwise(1.0))
      .orderBy("keeper_doc_id").collect()
    assert(out.length === 2)
    assert(out(0).getAs[Long]("keeper_doc_id") === 1L)
    assert(out(0).getAs[Long]("n_copies") === 3L)
    assert(out(0).getAs[Double]("best_score") === 2.0)
    assert(out(1).getAs[Long]("keeper_doc_id") === 3L)
  }

  test("nearDupClusters groups transitively connected near-dups") {
    // docs 0,1,3 pairwise similar (one component), 2 isolated (no rows)
    val out = TextOps.nearDupClusters(docs, threshold = 0.5)
      .orderBy("doc_id").collect()
    assert(out.map(_.getLong(0)).toSeq === Seq(0L, 1L, 3L))
    assert(out.forall(_.getAs[Long]("cluster_id") === 0L))
    assert(out.forall(_.getAs[Long]("cluster_size") === 3L))
    assert(out.map(r => r.getLong(0) -> r.getAs[Int]("is_keeper")).toMap ===
      Map(0L -> 1, 1L -> 0, 3L -> 0))
  }

  test("nearDupClusters converges past a single hop (chain graph)") {
    // a -> b -> c chain where a and c share nothing: label must propagate
    // two hops so all three land in cluster 0. driverEdgeLimit = 0 forces
    // the DISTRIBUTED propagation path (the driver union-find is covered
    // by the grouping test above)
    val chain = Seq(
      (0L, "alpha beta gamma delta epsilon zeta"),
      (1L, "alpha beta gamma delta epsilon eta"),
      (2L, "beta gamma delta epsilon eta theta")
    ).toDF("doc_id", "text")
    val out = TextOps.nearDupClusters(chain, threshold = 0.3,
        driverEdgeLimit = 0)
      .orderBy("doc_id").collect()
    assert(out.map(_.getLong(0)).toSeq === Seq(0L, 1L, 2L))
    assert(out.forall(_.getAs[Long]("cluster_id") === 0L))
  }

  test("driver union-find and distributed propagation agree") {
    val out1 = TextOps.nearDupClusters(docs, threshold = 0.5)
      .orderBy("doc_id").collect().map(_.toString).toSeq
    val out2 = TextOps.nearDupClusters(docs, threshold = 0.5,
        driverEdgeLimit = 0)
      .orderBy("doc_id").collect().map(_.toString).toSeq
    assert(out1 === out2)
  }

  /** Deterministic pseudo-random projection weight for output dim `j`,
    * input dim `d`: ((j*37 + d*11) % 19) - 9, as double — engine-portable
    * (same closed form in oracle SQL), zero-mean-ish over dims. */
  private def projComponent(j: org.apache.spark.sql.Column,
      d: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    ((j * 37 + d * 11) % 19 - 9).cast("double")

  /** Columnar (interpreted-HOF) projection — the oracle-shaped reference
    * for [[VectorOps.projectEmbeddings]]; outDims×dim boxed lambda calls
    * per row, so never on a hot path. */
  private def projectEmbeddingsColumnar(v: org.apache.spark.sql.Column,
      outDims: Int): org.apache.spark.sql.Column =
    transform(sequence(lit(0), lit(outDims - 1)), j =>
      aggregate(
        zip_with(v, sequence(lit(0), size(v) - 1),
          (x, d) => x.cast("double") * projComponent(j, d)),
        lit(0.0d), (acc, x) => acc + x))

  /** The pre-r9 column formulation of the IVF nearest-centroid
    * assignment — the equivalence-test oracle for the native
    * `micro_argmin` kernel. */
  private def nearestMicroL2Columns(qx: org.apache.spark.sql.Column,
      cents: Array[(Long, Array[Long])]): org.apache.spark.sql.Column = {
    require(cents.nonEmpty, "nearestMicroL2Columns: empty codebook")
    def dist(c: Array[Long]): org.apache.spark.sql.Column =
      aggregate(zip_with(qx, array(c.toIndexedSeq.map(lit): _*),
        (a, b) => (a - b) * (a - b)), lit(0L), (acc, d) => acc + d)
    val dists = array(cents.toIndexedSeq.map { case (_, c) => dist(c) }: _*)
    val ids = array(cents.toIndexedSeq.map { case (id, _) => lit(id) }: _*)
    element_at(ids, array_position(dists, array_min(dists)).cast("int"))
  }

  /** Min-label propagation, the distributed strategy
    * [[TextOps.ccStarLabels]] replaced, kept as its measured baseline:
    * per round every node takes the min label over its neighbors —
    * correct, but one round per unit of component DIAMETER. Returns
    * (labels, converged?, rounds used) and does NOT raise on the cap
    * (the measurement needs the capped round count). */
  private def ccLabelPropLabels(pairsIn: org.apache.spark.sql.DataFrame,
      maxIters: Int): (org.apache.spark.sql.DataFrame, Boolean, Int) = {
    val pairs = pairsIn.select(col("doc_a"), col("doc_b"))
    val edges = pairs
      .union(pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
      .toDF("src", "dst").persist()
    var labels = edges.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("lbl")).localCheckpoint()
    var converged = false
    var it = 0
    while (!converged && it < maxIters) {
      val nbrMin = edges
        .join(labels.select(col("node").as("dst"), col("lbl").as("dst_lbl")),
          "dst")
        .groupBy(col("src")).agg(min(col("dst_lbl")).as("nbr_lbl"))
      val next = labels
        .join(nbrMin.withColumnRenamed("src", "node"), Seq("node"), "left")
        .select(col("node"),
          least(col("lbl"), coalesce(col("nbr_lbl"), col("lbl"))).as("lbl"))
        .localCheckpoint()
      converged = next
        .join(labels.select(col("node"), col("lbl").as("old")), "node")
        .filter(col("lbl") =!= col("old")).isEmpty
      labels = next
      it += 1
    }
    edges.unpersist()
    (labels, converged, it)
  }

  test("star-contraction CC: equality vs driver union-find on adversarial " +
      "topologies, and O(log n) rounds where label propagation needs " +
      "O(diameter)") {
    // the worst case for min-label propagation: one PATH component —
    // its diameter equals its length, so propagation needs ~n rounds;
    // the star alternation folds it logarithmically. Plus a hub star,
    // a second component, singletons via self-loops, and reversed ids
    // (labels must become component MINIMA, not first-seen).
    val n = 96
    val chain = (0 until n - 1).map(i => (1000L + i, 1001L + i))
    val hub = (1 to 8).map(i => (5000L, 5000L + i))
    val twoRev = Seq((7002L, 7001L), (7001L, 7000L))
    val selfLoop = Seq((9000L, 9000L))
    val edges = spark.createDataFrame(
      chain ++ hub ++ twoRev ++ selfLoop).toDF("doc_a", "doc_b")
    // contract-level equality: the public operator on both strategies
    val viaDriver = TextOps.connectedComponents(edges)
      .orderBy("doc_id").collect().map(_.toString).toSeq
    val viaStar = TextOps.connectedComponents(edges, driverEdgeLimit = 0)
      .orderBy("doc_id").collect().map(_.toString).toSeq
    assert(viaStar === viaDriver)
    // the measured round gap (VERDICT r13 #3): on the 96-path, label
    // propagation is diameter-bound — capped at 16 rounds it has NOT
    // converged — while the star alternation finishes in <= 8
    val pathOnly = spark.createDataFrame(chain).toDF("doc_a", "doc_b")
    val (_, starConv, starRounds) = TextOps.ccStarLabels(pathOnly, 16)
    val (_, lpConv, lpRounds) = ccLabelPropLabels(pathOnly, 16)
    assert(starConv && starRounds <= 8,
      s"star contraction took $starRounds rounds on a ${n}-path")
    assert(!lpConv && lpRounds == 16,
      "label propagation converged suspiciously fast on a path — " +
        "the measured baseline changed")
    spark.catalog.clearCache()
  }

  test("connectedComponents' driver path collects an 8-partition edge " +
      "list in one job, labels unchanged") {
    // eight 8-node paths, each edge written high id first
    val edges = (0L until 64L).filter(_ % 8 != 7).map(i => (i + 1, i))
      .toDF("doc_a", "doc_b").repartition(8)
    val (got, jobs) = jobsDuring(TextOps.connectedComponents(edges))
    // toLocalIterator launches its jobs from the iterator's hasNext:
    // count the jobs whose result stage carries that call site
    assert(jobs.count(_.stageInfos.maxBy(_.stageId).name
      .startsWith("hasNext at")) === 1,
      "edge collect ran one job per partition")
    assert(got.as[(Long, Long, Long, Int)].collect().toSet ===
      (0L until 64L).map(n =>
        (n, n / 8 * 8, 8L, if (n % 8 == 0) 1 else 0)).toSet)
    spark.catalog.clearCache()
  }

  test("nearDupClustersMinhash matches the exact clusters when every " +
      "edge survives banding") {
    // Docs 0 and 3 are byte-identical (identical signatures -> every band
    // collides); doc 1's Jaccard vs 0 is 5/9, caught here by the
    // deterministic band hashes. Exact and banded clustering agree on
    // this corpus; at lower similarity LSH may drop edges (documented
    // recall trade).
    val exact = TextOps.nearDupClusters(docs, threshold = 0.5)
      .orderBy("doc_id").collect().map(_.toString).toSeq
    val banded = TextOps.nearDupClustersMinhash(docs, threshold = 0.5)
      .orderBy("doc_id").collect().map(_.toString).toSeq
    assert(banded === exact)
  }

  test("nearDupClustersMinhash always clusters exact duplicates") {
    // Identical texts have identical MinHash signatures, so every band
    // collides regardless of banding parameters -- recall 1.0 for true
    // duplicates is a hard guarantee, not probabilistic.
    val out = TextOps.nearDupClustersMinhash(docs, threshold = 0.9,
        bands = 2, numHashes = 4)
      .orderBy("doc_id").collect()
    val dupRows = out.filter(r => r.getLong(0) == 0L || r.getLong(0) == 3L)
    assert(dupRows.length === 2)
    assert(dupRows.map(_.getAs[Long]("cluster_id")).distinct.length === 1)
  }

  test("filterPipeline fires each rule in order, first match wins") {
    val fixture = Seq(
      (0L, "the quick brown fox is great and fine and jumps high over fences daily"), // ok
      (1L, "too short"),                                          // too_few_tokens
      (2L, "der und die das der und die das der und die das"),    // non_english
      (3L, ("a b c d e f g h i j k l " * 3) + "the and of is"),   // low_normal_share
      (4L, "the fox is gone " * 10 + "and of the fox it is said") // repetitive
    ).toDF("doc_id", "text")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .withColumn("lang", lit("en"))
    val out = TextOps.filterPipeline(fixture).orderBy("doc_id").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out === Map(0L -> "ok", 1L -> "too_few_tokens",
      2L -> "non_english", 3L -> "low_normal_share", 4L -> "repetitive"))
  }

  test("boilerplate flags grams shared across enough documents") {
    val b = Seq(
      (0L, "shared footer text plus alpha beta gamma"),
      (1L, "shared footer text plus delta epsilon zeta"),
      (2L, "shared footer text plus eta theta iota"),
      (3L, "entirely unique content here nothing shared with others")
    ).toDF("doc_id", "text")
    val out = TextOps.boilerplate(b, n = 3, minDocs = 3)
      .orderBy("doc_id").collect()
    // "shared footer text" and "footer text plus" appear in docs 0-2
    assert(out.take(3).forall(_.getAs[Long]("n_boiler") === 2L))
    assert(out(3).getAs[Long]("n_boiler") === 0L)
    assert(out(3).getAs[Double]("boiler_frac") === 0.0)
  }

  test("piiScrub counts and redacts emails, phones, IPs, and SSNs") {
    val pii = Seq(
      (0L, "reach me at jane.doe@corp.example.org or 555-123-4567 thanks"),
      (1L, "no pii here at all"),
      (2L, "host 192.168.1.77 leaked ssn 123-45-6789 twice: 987-65-4321")
    ).toDF("doc_id", "text")
    val out = TextOps.piiScrub(pii).orderBy("doc_id").collect()
    assert(out(0).getAs[Long]("n_emails") === 1L)
    assert(out(0).getAs[Long]("n_phones") === 1L)
    assert(out(0).getAs[Long]("n_ips") === 0L)
    // phone 3-3-4 must NOT also count as SSN 3-2-4
    assert(out(0).getAs[Long]("n_ssns") === 0L)
    assert(out(1).getAs[Long]("n_emails") === 0L)
    assert(out(1).getAs[Long]("n_phones") === 0L)
    assert(out(2).getAs[Long]("n_ips") === 1L)
    assert(out(2).getAs[Long]("n_ssns") === 2L)
    assert(out(2).getAs[Long]("n_phones") === 0L)
    // the hash pins the replacement text exactly
    val expect = pii.sparkSession.sql(
      "SELECT md5('reach me at <EMAIL> or <PHONE> thanks')")
      .collect()(0).getString(0)
    assert(out(0).getAs[String]("scrubbed_md5") === expect)
    val expect2 = pii.sparkSession.sql(
      "SELECT md5('host <IP> leaked ssn <SSN> twice: <SSN>')")
      .collect()(0).getString(0)
    assert(out(2).getAs[String]("scrubbed_md5") === expect2)
  }

  test("mmrTopK diversifies: a near-duplicate of the first pick defers " +
      "to a more distinct candidate") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f), 0),   // probe
      (1L, Array(0.9f, 0.1f, 0.0f), 0),   // top relevance
      (2L, Array(0.9f, 0.11f, 0.0f), 0),  // near-dup of 1
      (3L, Array(0.5f, 0.5f, 0.0f), 0)    // distinct, lower relevance
    ).toDF("vec_id", "embedding", "label")
    val out = VectorOps.mmrTopK(emb, nProbes = 1, k = 3, candidates = 3,
      lambda = 0.2).orderBy("step").collect()
    assert(out.map(_.getAs[Long]("neighbor_id")).toSeq === Seq(1L, 3L, 2L))
    // step 1 is pure relevance: its mmr IS the relevance score
    assert(out(0).getAs[Double]("mmr") === out(0).getAs[Double]("score"))
    // plain top-k would have ranked the near-dup (2) second
    val plain = VectorOps.cosineTopK(emb, nProbes = 1, k = 2)
      .orderBy("rnk").collect().map(_.getAs[Long]("neighbor_id")).toSeq
    assert(plain === Seq(1L, 2L))
  }

  test("mmrTopK survives a zero-norm candidate (NaN pair sims) without " +
      "crashing") {
    // r8 ADVICE: a zero-norm embedding makes cosine6 NaN; round6's
    // BigDecimal.valueOf(NaN) threw NumberFormatException and killed the
    // cogroup task. NaN must degrade (propagate through the MMR score),
    // and k picks must still come back.
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f), 0),  // probe
      (1L, Array(0.9f, 0.1f, 0.0f), 0),
      (2L, Array(0.0f, 0.0f, 0.0f), 0),  // zero norm
      (3L, Array(0.5f, 0.5f, 0.0f), 0)
    ).toDF("vec_id", "embedding", "label")
    val out = VectorOps.mmrTopK(emb, nProbes = 1, k = 3, candidates = 3,
      lambda = 0.5).orderBy("step").collect()
    assert(out.length === 3)
    assert(out.map(_.getAs[Int]("step")).toSeq === Seq(1, 2, 3))
    // step 1 (pure relevance) is NaN-free: the zero-norm vector's NaN
    // relevance never outranks real candidates under minBy
    assert(!out(0).getAs[Double]("mmr").isNaN)
  }

  test("semanticDedup keeps the lowest id of a tight semantic group") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f), 0),
      (1L, Array(0.0f, 1.0f, 0.0f), 1),
      (2L, Array(0.99f, 0.14f, 0.0f), 0), // near-dup of 0
      (3L, Array(0.0f, 0.0f, 1.0f), 2)    // orthogonal to everything
    ).toDF("vec_id", "embedding", "label")
    val out = VectorOps.semanticDedup(emb, threshold = 0.9, nCentroids = 2)
      .orderBy("vec_id").collect()
      .map(r => r.getLong(0) -> r.getAs[Int]("is_kept")).toMap
    assert(out === Map(0L -> 1, 1L -> 1, 2L -> 0, 3L -> 1))
  }

  test("semanticDedup assigns zero-norm vectors to the first centroid") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f), 0),
      (1L, Array(0.0f, 1.0f), 1),
      (2L, Array(0.0f, 0.0f), 0) // zero norm: cosine NaN everywhere
    ).toDF("vec_id", "embedding", "label")
    val out = VectorOps.semanticDedup(emb, threshold = 0.9, nCentroids = 2)
      .orderBy("vec_id").collect()
    assert(out.length === 3)
    assert(out(2).getAs[Long]("cluster") === 0L) // deterministic, not -1
    // NaN compares greater than any threshold in BOTH Spark and DuckDB,
    // so the zero vector counts as a duplicate of its cluster keeper —
    // consistent cross-engine, pinned here
    assert(out(2).getAs[Int]("is_kept") === 0)
  }

  test("nearDupClusters refuses to return unconverged labels") {
    val ex = intercept[IllegalArgumentException] {
      TextOps.nearDupClusters(docs, threshold = 0.5, maxIters = 0,
        driverEdgeLimit = 0)
    }
    assert(ex.getMessage.contains("did not converge"))
  }

  test("nearDupClusters with a non-binding maxPostings matches exact mode") {
    // every shingle in `docs` appears in at most 3 documents, so a cap of
    // 10 never fires and the capped pair graph equals the exact one
    val exact = TextOps.nearDupClusters(docs, threshold = 0.5)
      .orderBy("doc_id").collect().map(_.toString).toSeq
    val capped = TextOps.nearDupClusters(docs, threshold = 0.5,
        maxPostings = 10)
      .orderBy("doc_id").collect().map(_.toString).toSeq
    assert(capped === exact)
    // a cap of 1 drops every shared shingle -> no pairs, no clusters
    val choked = TextOps.nearDupClusters(docs, threshold = 0.5,
      maxPostings = 1)
    assert(choked.isEmpty)
  }

  test("nearDupClusters rejects a driverEdgeLimit beyond Int indexing") {
    val ex = intercept[IllegalArgumentException] {
      TextOps.nearDupClusters(docs, threshold = 0.5,
        driverEdgeLimit = Int.MaxValue.toLong + 1)
    }
    assert(ex.getMessage.contains("driverEdgeLimit"))
  }

  test("assignClusters rejects a zero-norm centroid") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f), 0),
      (1L, Array(0.0f, 1.0f), 1)
    ).toDF("vec_id", "embedding", "label")
    val badBook = Seq((0L, Seq(1.0f, 0.0f)), (1L, Seq(0.0f, 0.0f)))
      .toDF("centroid_id", "c_emb")
    val ex = intercept[IllegalArgumentException] {
      VectorOps.assignClusters(emb, badBook)
    }
    assert(ex.getMessage.contains("zero norm"))
  }

  test("ivfTopKProbed with nProbe = nCentroids degenerates to brute force") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f), 0),
      (1L, Array(0.9f, 0.4f, 0.0f), 0),
      (2L, Array(0.0f, 1.0f, 0.0f), 1),
      (3L, Array(0.1f, 0.9f, 0.2f), 1),
      (4L, Array(0.0f, 0.0f, 1.0f), 2),
      (5L, Array(0.2f, 0.1f, 0.9f), 2)
    ).toDF("vec_id", "embedding", "label")
    val multi = VectorOps.ivfTopKProbed(emb, nProbes = 2, k = 3,
        nProbe = 3, nCentroids = 3)
      .orderBy("probe_id", "rnk").collect().map(_.toString).toSeq
    val brute = VectorOps.cosineTopK(emb, nProbes = 2, k = 3)
      .select(col("probe_id"), col("rnk"), col("neighbor_id"), col("score"))
      .orderBy("probe_id", "rnk").collect().map(_.toString).toSeq
    assert(multi === brute)
    // widening the probe count can only improve or keep each rank's
    // score (candidate sets grow monotonically)
    def scores(p: Int) = VectorOps.ivfTopKProbed(emb, 2, 3, nProbe = p,
        nCentroids = 3)
      .orderBy("probe_id", "rnk")
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getDouble(3)).toMap
    val s1 = scores(1); val s2 = scores(2)
    s1.foreach { case (key, sc) => s2.get(key).foreach(sc2 => assert(sc2 >= sc)) }
  }

  test("ivfTrainedCheck reports zero violations on a healthy corpus") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f), 0),
      (1L, Array(0.9f, 0.1f, 0.0f), 0),
      (2L, Array(0.8f, 0.2f, 0.1f), 0),
      (3L, Array(0.0f, 1.0f, 0.0f), 1),
      (4L, Array(0.1f, 0.9f, 0.0f), 1),
      (5L, Array(0.0f, 0.8f, 0.2f), 1)
    ).toDF("vec_id", "embedding", "label")
    val out = VectorOps.ivfTrainedCheck(emb, nProbes = 2, k = 2,
      nCentroids = 2).collect()
    assert(out.length === 1)
    val r = out(0)
    assert((0 until 7).forall(i => r.getLong(i) === 0L),
      s"violation counts must all be zero, got $r")
  }

  test("sampleMix: rate bounds and stratification behave deterministically") {
    val all = TextOps.sampleMix(docs, rates = Map("en" -> 1.0))
      .collect()
    assert(all.forall(_.getAs[Int]("keep") === 1)) // every doc is en
    val none = TextOps.sampleMix(docs, rates = Map("en" -> 0.0)).collect()
    assert(none.forall(_.getAs[Int]("keep") === 0))
    // deterministic: same inputs -> identical sample
    val a = TextOps.sampleMix(docs, Map("en" -> 0.5)).collect().map(_.toString)
    val b = TextOps.sampleMix(docs, Map("en" -> 0.5)).collect().map(_.toString)
    assert(a.toSeq === b.toSeq)
    // source-keyed stratification applies per stratum (s0 dropped, s1 kept)
    val bySrc = TextOps.sampleMix(docs, Map("s0" -> 0.0, "s1" -> 1.0),
        keyCol = "source")
      .collect().map(r => r.getAs[String]("stratum") -> r.getAs[Int]("keep"))
    assert(bySrc.filter(_._1 == "s0").forall(_._2 === 0))
    assert(bySrc.filter(_._1 == "s1").forall(_._2 === 1))
  }

  test("clusterAwareSplit: near-duplicates NEVER straddle the held-out " +
      "boundary, every doc is assigned, rate bounds hold") {
    // docs 0, 1, 3 are a near-dup cluster (0==3 exact, 1 near); across
    // MANY salts they must always share is_val — a per-doc hash split
    // would separate them for roughly half the salts
    for (salt <- (0 until 8).map(i => s"s$i")) {
      val out = TextOps.clusterAwareSplit(docs, valRate = 0.5,
          threshold = 0.5, salt = salt).collect()
        .map(r => r.getAs[Long]("doc_id") ->
          (r.getAs[Long]("group_id"), r.getAs[Int]("is_val"))).toMap
      assert(out.size === 5, "every doc gets a split")
      assert(Set(out(0L), out(1L), out(3L)).size === 1,
        s"salt=$salt: near-dup cluster split across the boundary")
      // singletons group by their own id
      assert(out(2L)._1 === 2L && out(4L)._1 === 4L)
    }
    // rate bounds: 0 -> all train, 1 -> all val; deterministic
    assert(TextOps.clusterAwareSplit(docs, valRate = 0.0).collect()
      .forall(_.getAs[Int]("is_val") === 0))
    assert(TextOps.clusterAwareSplit(docs, valRate = 1.0).collect()
      .forall(_.getAs[Int]("is_val") === 1))
    val a = TextOps.clusterAwareSplit(docs, 0.5).collect().map(_.toString)
    val b = TextOps.clusterAwareSplit(docs, 0.5).collect().map(_.toString)
    assert(a.toSeq === b.toSeq)
    spark.catalog.clearCache()
  }

  test("packSequences: spans and chunk ranges follow the shard cumsum") {
    val fixture = Seq(
      (0L, "a " * 300),  // 300 tokens, shard 0
      (2L, "b " * 300),  // 300 tokens, shard 0 -> starts at 300, crosses 512
      (4L, "c " * 100),  // shard 0 -> starts at 600
      (1L, "d " * 10)    // shard 1
    ).toDF("doc_id", "text")
    val out = TextOps.packSequences(fixture, seqLen = 512, nShards = 2)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(out(0) === ((0L, 0L, 300L, 0L, 0L, 0L)))
    assert(out(1) === ((1L, 1L, 10L, 0L, 0L, 0L)))
    assert(out(2) === ((2L, 0L, 300L, 300L, 0L, 1L))) // straddles chunk 0/1
    assert(out(3) === ((4L, 0L, 100L, 600L, 1L, 1L)))
  }

  test("lmPerplexity: hand-computed add-k bigram NLL on a toy corpus") {
    val fixture = Seq(
      (0L, "a b a b"), // bigram events: "a b", "b a", "a b"
      (1L, "a b"),
      (2L, "c")        // < 2 tokens -> no events -> absent
    ).toDF("doc_id", "text")
    // c2: "a b"->3, "b a"->1; c1: a->3, b->1; V=3; k=0.5
    val out = TextOps.lmPerplexity(fixture).orderBy("doc_id").collect()
    assert(out.map(_.getLong(0)).toSeq === Seq(0L, 1L))
    assert(out.map(_.getAs[Long]("n_bigrams")).toSeq === Seq(3L, 1L))
    // doc1: -ln((3+0.5)/(3+1.5)) = ln(4.5/3.5) = 0.251314
    assert(out(1).getAs[Double]("avg_nll") === 0.251314)
    // doc0: (0.2513144 + ln(2.5/1.5)=0.5108256 + 0.2513144)/3 = 0.337818
    assert(out(0).getAs[Double]("avg_nll") === 0.337818)
    assert(out(1).getAs[Double]("ppl") === 1.29) // exp(0.251314)=1.2857
  }

  test("lmPerplexity cross-train: unseen bigrams get pure smoothing mass") {
    val train = Seq((9L, "a b")).toDF("doc_id", "text") // c2: "a b"->1; c1: a->1; V=2
    val score = Seq(
      (0L, "a b"), // seen:   -ln((1+0.5)/(1+1)) = -ln(0.75) = 0.287682
      (1L, "c d")  // unseen: -ln((0+0.5)/(0+1)) = ln(2)     = 0.693147
    ).toDF("doc_id", "text")
    val out = TextOps.lmPerplexity(score, train = train)
      .orderBy("doc_id").collect()
    assert(out(0).getAs[Double]("avg_nll") === 0.287682)
    assert(out(1).getAs[Double]("avg_nll") === 0.693147)
    assert(out(1).getAs[Double]("avg_nll") > out(0).getAs[Double]("avg_nll"))
  }

  test("tfidfTopK ranks by rounded score with a term tie-break") {
    val fixture = Seq(
      (0L, "x x y"),
      (1L, "y z")
    ).toDF("doc_id", "text")
    // df: x->1, y->2, z->1; N=2; idf(x)=idf(z)=ln(1.5)+1, idf(y)=1
    val out = TextOps.tfidfTopK(fixture, kTop = 2)
      .orderBy("doc_id", "rnk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3), r.getLong(4), r.getDouble(5)))
    assert(out.toSeq === Seq(
      (0L, 1L, "x", 2L, 1L, 2.81093),   // 2 * (ln(1.5)+1)
      (0L, 2L, "y", 1L, 2L, 1.0),
      (1L, 1L, "z", 1L, 1L, 1.405465),
      (1L, 2L, "y", 1L, 2L, 1.0)))
  }

  test("importanceWeights is exactly zero when target equals raw") {
    val fixture = Seq(
      (0L, "a b c d"),
      (1L, "e f"),
      (2L, "g") // no bigram events -> absent
    ).toDF("doc_id", "text")
    val out = TextOps.importanceWeights(fixture, fixture)
      .orderBy("doc_id").collect()
    assert(out.map(_.getLong(0)).toSeq === Seq(0L, 1L))
    assert(out.map(_.getAs[Long]("n_feats")).toSeq === Seq(3L, 1L))
    assert(out.forall(_.getAs[Double]("avg_log_ratio") === 0.0))
  }

  test("importanceWeights favors docs resembling the target corpus") {
    val raw = Seq(
      (0L, "alpha beta alpha beta alpha beta"),
      (1L, "omega psi omega psi omega psi")
    ).toDF("doc_id", "text")
    val target = Seq((9L, "alpha beta alpha beta")).toDF("doc_id", "text")
    val out = TextOps.importanceWeights(raw, target)
      .orderBy("doc_id").collect()
    assert(out(0).getAs[Double]("avg_log_ratio") >
      out(1).getAs[Double]("avg_log_ratio"))
  }

  test("quantizeEmbeddings bounds reconstruction error by half a step") {
    val emb = Seq(
      (0L, Array(0.0f, 5.0f, -3.0f), 0),
      (1L, Array(10.0f, 5.0f, 3.0f), 0),
      (2L, Array(4.2f, 5.0f, 0.7f), 1) // dim 1 is degenerate (constant 5)
    ).toDF("vec_id", "embedding", "label")
    val q = VectorOps.quantizeEmbeddings(emb, levels = 256)
      .orderBy("vec_id").collect()
    // degenerate dim pins to step 0 for every vector
    assert(q.forall(_.getSeq[Int](1)(1) === 0))
    // reconstruction error <= (max-min)/255/2 per dim
    val mins = Seq(0.0, 5.0, -3.0); val maxs = Seq(10.0, 5.0, 3.0)
    val orig = Seq(Seq(0.0, 5.0, -3.0), Seq(10.0, 5.0, 3.0), Seq(4.2, 5.0, 0.7))
    q.zipWithIndex.foreach { case (r, vi) =>
      val qv = r.getSeq[Int](1)
      (0 until 3).foreach { d =>
        val span = maxs(d) - mins(d)
        val dq = if (span == 0) mins(d) else mins(d) + qv(d).toDouble / 255 * span
        assert(math.abs(dq - orig(vi)(d)) <= span / 255 / 2 + 1e-9,
          s"vec $vi dim $d: $dq vs ${orig(vi)(d)}")
      }
    }
  }

  test("quantized top-k ranks the exact nearest neighbor first on " +
      "well-separated vectors") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f), 0),  // probe
      (1L, Array(0.9f, 0.1f, 0.0f), 0),  // near probe
      (2L, Array(0.0f, 1.0f, 0.0f), 1),
      (3L, Array(0.0f, 0.0f, 1.0f), 1)
    ).toDF("vec_id", "embedding", "label")
    val out = VectorOps.cosineTopKQuantized(emb, nProbes = 1, k = 3)
      .orderBy("rnk").collect()
    assert(out.map(_.getAs[Long]("neighbor_id")).head === 1L)
    assert(out.length === 3)
    assert(out.map(_.getAs[Int]("rnk")).toSeq === Seq(1, 2, 3))
  }

  test("cosineTopKReranked equals exact top-k when candidates cover " +
      "the corpus") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.2f), 0),
      (1L, Array(0.9f, 0.1f, 0.1f), 0),
      (2L, Array(0.0f, 1.0f, 0.4f), 1),
      (3L, Array(0.1f, 0.0f, 1.0f), 1),
      (4L, Array(0.5f, 0.5f, 0.5f), 1)
    ).toDF("vec_id", "embedding", "label")
    // with candidates >= corpus size the coarse stage cannot drop the
    // true neighbors, so rerank must reproduce exact brute force
    val exact = VectorOps.cosineTopK(emb, nProbes = 2, k = 3)
      .orderBy("probe_id", "rnk").collect().map(_.toString).toSeq
    val staged = VectorOps.cosineTopKReranked(emb, nProbes = 2, k = 3,
        outDims = 4, candidates = 10)
      .orderBy("probe_id", "rnk").collect().map(_.toString).toSeq
    assert(staged === exact)
  }

  test("projectEmbeddings native kernel is bit-identical to the " +
      "columnar fold") {
    graft.functions.ensureRegistered(spark)
    val emb = Seq(
      (0L, Array(0.25f, -1.5f, 3.75f, 0.125f, -0.875f)),
      (1L, Array(1.0f, 0.0f, -2.25f, 4.5f, 0.333f)),
      (2L, Array(-0.001f, 1234.5f, -6.7f, 0.0f, 9.9f))
    ).toDF("vec_id", "embedding")
    val rows = emb.select(
        VectorOps.projectEmbeddings(col("embedding"), 8).as("native"),
        projectEmbeddingsColumnar(col("embedding"), 8).as("col"))
      .collect()
    rows.foreach { r =>
      val n = r.getSeq[Double](0); val c = r.getSeq[Double](1)
      assert(n.length === 8)
      // bit-identical, not approximately equal — same fold order
      n.zip(c).foreach { case (x, y) =>
        assert(java.lang.Double.doubleToLongBits(x) ===
          java.lang.Double.doubleToLongBits(y))
      }
    }
  }

  test("embedNearDup streams pairs from a self-join and maxBucketSize " +
      "drops oversize buckets") {
    // one mass-duplicated embedding: 1000 copies share a bucket. The
    // old collect_list formulation would buffer all 1000 embeddings in
    // ONE aggregation row; the self-join streams the 499500 pairs.
    val dup = Seq.tabulate(1000)(i => (i.toLong, Array(1.0f, 0.5f), 0))
      .toDF("vec_id", "embedding", "label")
    val pairs = VectorOps.embedNearDup(dup, threshold = 0.9, numPlanes = 4)
    assert(pairs.count() === 1000L * 999 / 2)
    // the cap drops the pathological bucket outright — explicit,
    // bounded recall loss instead of an m² blowup
    val capped = VectorOps.embedNearDup(dup, threshold = 0.9,
      numPlanes = 4, maxBucketSize = 100)
    assert(capped.count() === 0)
    // clusters inherit the join-based path and the cap plumbing
    val clusters = VectorOps.embedNearDupClusters(dup, threshold = 0.9,
      numPlanes = 4)
    val byCluster = clusters.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n")).collect()
    assert(byCluster.length === 1)
    assert(byCluster(0).getAs[Long]("n") === 1000L)
    assert(VectorOps.embedNearDupClusters(dup, threshold = 0.9,
      numPlanes = 4, maxBucketSize = 100).count() === 0)
  }

  test("curationReport counts duplicate mass and volumes per source") {
    val r = TextOps.curationReport(docs).orderBy(col("source")).collect()
    assert(r.length === 2)
    val s0 = r(0); val s1 = r(1)
    assert(s0.getAs[String]("source") === "s0")
    assert(s0.getAs[Long]("n_docs") === 2L && s0.getAs[Long]("n_dup") === 0L)
    // s1 holds doc 3 (exact copy of doc 0, which lives in s0) — within
    // s1 itself there is no duplicate pair, so n_dup is 0 there too
    assert(s1.getAs[Long]("n_docs") === 3L && s1.getAs[Long]("n_dup") === 0L)
    // whitespace-only doc contributes zero tokens but counts as a doc
    assert(s1.getAs[Long]("total_tokens") ===
      9L + 7L) // doc3 (9 words) + doc2 (7 words) + doc4 (0)
    val dupSrc = docs.withColumn("source", lit("x"))
    val one = TextOps.curationReport(dupSrc).collect()(0)
    assert(one.getAs[Long]("n_docs") === 5L)
    assert(one.getAs[Long]("n_dup") === 1L) // docs 0 and 3 collapse
  }

  test("sampleTemperature derives flattening rates; alpha=1 is uniform") {
    val corpus = (Seq.tabulate(80)(i => (i.toLong, s"t$i", "big", "s0", 1L)) ++
      Seq.tabulate(20)(i => ((100 + i).toLong, s"u$i", "small", "s0", 1L)))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextOps.sampleTemperature(corpus, alpha = 0.5,
      targetFrac = 0.5)
    val rates = out.select(col("stratum"), col("rate")).distinct()
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // alpha < 1 upsamples the tail RELATIVE to its share
    assert(rates("small") > rates("big"))
    // expected kept mass ~ targetFrac * N: sum of n_s * rate_s = 50
    val expected = 80 * rates("big") + 20 * rates("small")
    assert(math.abs(expected - 50.0) < 0.1)
    // alpha = 1 degenerates to uniform targetFrac
    val uni = TextOps.sampleTemperature(corpus, alpha = 1.0,
      targetFrac = 0.5).select(col("rate")).distinct().collect()
    assert(uni.length === 1 && math.abs(uni(0).getDouble(0) - 0.5) < 1e-9)
    // deterministic: same input -> identical keep set
    assert(out.filter(col("keep") === 1).count() ===
      TextOps.sampleTemperature(corpus, alpha = 0.5, targetFrac = 0.5)
        .filter(col("keep") === 1).count())
  }

  test("sampleStratified carves exactly min(nPer, |stratum|) per stratum") {
    val corpus = (Seq.tabulate(30)(i => (i.toLong, s"t$i", "en", "sA", 1L)) ++
      Seq.tabulate(4)(i => ((100 + i).toLong, s"u$i", "en", "sB", 1L)))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextOps.sampleStratified(corpus, nPer = 10)
    val byStratum = out.groupBy(col("stratum")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byStratum === Map("sA" -> 10L, "sB" -> 4L))
    // rn is dense 1..n within each stratum and the pick is deterministic
    val again = TextOps.sampleStratified(corpus, nPer = 10)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(out.select(col("doc_id")).collect().map(_.getLong(0)).toSet
      === again)
  }

  test("segmentDedup removes corpus-frequent lines and reassembles in " +
      "order") {
    val multi = Seq(
      (0L, "COOKIE BANNER\nreal content zero\nFOOTER", "en", "s0", 0L),
      (1L, "COOKIE BANNER\nreal content one\nFOOTER", "en", "s0", 0L),
      (2L, "COOKIE BANNER\nunique text two\nmore two\nFOOTER", "en", "s1", 0L),
      (3L, "COOKIE BANNER\nFOOTER", "en", "s1", 0L), // all boilerplate
      (4L, "no boilerplate here at all", "en", "s1", 0L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextOps.segmentDedup(multi, sep = "\n", minDocs = 3)
      .orderBy(col("doc_id")).collect()
    assert(out.length === 5)
    assert(out(0).getAs[String]("text_clean") === "real content zero")
    assert(out(1).getAs[String]("text_clean") === "real content one")
    // order preserved across a removed middle segment
    assert(out(2).getAs[String]("text_clean") === "unique text two\nmore two")
    assert(out(3).getAs[String]("text_clean") === "") // fully boilerplate
    assert(out(3).getAs[Long]("n_dropped") === 2L)
    assert(out(4).getAs[String]("text_clean") === "no boilerplate here at all")
    assert(out(4).getAs[Long]("n_dropped") === 0L)
    assert(out(2).getAs[Long]("n_segments") === 4L)
    // a segment repeated WITHIN one doc counts that doc once: df of
    // "dup" is 2 < 3, so it survives everywhere
    val within = Seq(
      (0L, "dup\ndup\nx", "en", "s0", 0L),
      (1L, "dup\ny", "en", "s0", 0L),
      (2L, "z", "en", "s0", 0L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val w = TextOps.segmentDedup(within, sep = "\n", minDocs = 3)
      .orderBy(col("doc_id")).collect()
    assert(w(0).getAs[String]("text_clean") === "dup\ndup\nx")
  }

  test("Caches.scoped releases every operator cache once the action " +
      "completes") {
    val emb = Seq.tabulate(20)(i =>
      (i.toLong, Array(i.toFloat, (i % 3).toFloat, 1.0f), 0))
      .toDF("vec_id", "embedding", "label")
    spark.catalog.clearCache()
    def cachesEmpty: Boolean = spark.sharedState.cacheManager.isEmpty
    assert(cachesEmpty)
    Caches.scoped {
      // three operators that persist internally; actions INSIDE the scope
      TextOps.nearDupPairs(docs, threshold = 0.5).count()
      VectorOps.embedNearDup(emb, threshold = 0.9, numPlanes = 4).count()
      VectorOps.semanticDedup(emb, threshold = 0.99, nCentroids = 4).count()
      assert(!cachesEmpty) // caches live while the scope is open
    }
    assert(cachesEmpty) // ...and released when it exits, action done
    // without a scope the pre-existing contract holds: cache lives for
    // the plan's lifetime, clearCache() is the release
    TextOps.simhashPairs(docs).count()
    assert(!cachesEmpty)
    spark.catalog.clearCache()
    assert(cachesEmpty)
  }

  test("index appends and a scoped star-contraction CC leave no " +
      "persistent RDD behind, without a GC") {
    def rdds = spark.sparkContext.getPersistentRDDs.keySet
    val corpus = Seq.tabulate(12)(i =>
      (i.toLong, s"alpha beta gamma w${i % 4} x$i")).toDF("doc_id", "text")
    val mh = java.nio.file.Files.createTempDirectory("lt_mh").toString
    val sh = java.nio.file.Files.createTempDirectory("lt_sh").toString
    TextOps.buildMinhashIndex(corpus.filter($"doc_id" < 6L), mh)
    TextOps.buildSimhashIndex(corpus.filter($"doc_id" < 6L), sh)
    spark.catalog.clearCache()
    val before = rdds
    TextOps.appendToMinhashIndex(corpus.filter($"doc_id" >= 6L), mh)
    assert((rdds -- before).isEmpty, "appendToMinhashIndex")
    TextOps.appendToSimhashIndex(corpus.filter($"doc_id" >= 6L), sh)
    assert((rdds -- before).isEmpty, "appendToSimhashIndex")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (7L, 7L))
      .toDF("doc_a", "doc_b")
    val labelled = Caches.scoped {
      TextOps.connectedComponents(pairs, driverEdgeLimit = 0).collect()
    }
    assert(labelled.length === 6)
    assert((rdds -- before).isEmpty, "connectedComponents")
    for (d <- Seq(mh, sh))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d))
  }

  test("lshBucket puts identical vectors in the same bucket") {
    val emb = Seq(
      (0L, Array(1.0f, 2.0f, 3.0f), 0),
      (1L, Array(1.0f, 2.0f, 3.0f), 0),
      (2L, Array(-1.0f, -2.0f, -3.0f), 1)
    ).toDF("vec_id", "embedding", "label")
    val b = emb.select(VectorOps.lshBucket(col("embedding"), 6).as("b"))
      .collect().map(_.getLong(0))
    assert(b(0) === b(1))
    assert(b(0) !== b(2))
  }

  test("nearDupAgainst flags cross-corpus near-dups, never in-corpus pairs") {
    val ref = Seq(
      (100L, "the quick brown fox jumps over the lazy dog", "en", "r", 43L),
      (101L, "entirely unrelated reference material", "en", "r", 37L),
      (102L, "the quick brown fox jumps over the lazy dog", "en", "r", 43L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextOps.nearDupAgainst(docs, ref, threshold = 0.5)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("ref_id")))
    // docs 0 and 3 (and near-dup 1) match both identical ref docs...
    assert(out.contains((0L, 100L)) && out.contains((3L, 102L)))
    // ...but in-corpus pairs (0,3) / in-ref pairs (100,102) never appear
    assert(out.forall { case (d, r) => d < 100L && r >= 100L })
  }

  test("nearDupAgainstIndex equals nearDupAgainst through the persisted " +
      "index, including the bucket cap") {
    val ref = Seq(
      (100L, "the quick brown fox jumps over the lazy dog", "en", "r", 43L),
      (101L, "entirely unrelated reference material", "en", "r", 37L),
      (102L, "the quick brown fox jumps over the lazy dog", "en", "r", 43L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val path = java.nio.file.Files.createTempDirectory("mhidx").toString
    TextOps.buildMinhashIndex(ref, path)
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("ref_id"),
        r.getAs[Double]("jaccard"))).toSet
    val direct = pairs(TextOps.nearDupAgainst(docs, ref, threshold = 0.5))
    val viaIdx = pairs(TextOps.nearDupAgainstIndex(docs, path,
      threshold = 0.5))
    assert(direct.nonEmpty && viaIdx === direct)
    // the two identical ref docs share every band bucket (bn = 2), so
    // a cap of 1 drops them on BOTH paths — the index's precomputed bn
    // must reproduce nearDupAgainst's query-time bucket counting
    val cappedDirect = pairs(TextOps.nearDupAgainst(docs, ref,
      threshold = 0.5, maxBucketSize = 1))
    val cappedIdx = pairs(TextOps.nearDupAgainstIndex(docs, path,
      threshold = 0.5, maxBucketSize = 1))
    assert(cappedIdx === cappedDirect)
    assert(cappedDirect !== direct, "cap should change the result here")
  }

  test("appendToMinhashIndex: build-once + append is row-identical to a " +
      "full rebuild (bands incl. recomputed bn, shingles, query result)") {
    val ref = Seq(
      (100L, "the quick brown fox jumps over the lazy dog", "en", "r", 43L),
      (101L, "entirely unrelated reference material", "en", "r", 37L),
      (102L, "the quick brown fox jumps over the lazy dog", "en", "r", 43L),
      (103L, "another later crawl increment document", "en", "r", 38L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val full = java.nio.file.Files.createTempDirectory("mhidx_full").toString
    val incr = java.nio.file.Files.createTempDirectory("mhidx_incr").toString
    TextOps.buildMinhashIndex(ref, full)
    // day 1: docs 100/101; day 2 increment: 102 (collides with 100's
    // buckets — bn must grow from 1 to 2 in the touched partitions)
    // and 103 (fresh buckets)
    TextOps.buildMinhashIndex(ref.filter($"doc_id" <= 101L), incr)
    TextOps.appendToMinhashIndex(ref.filter($"doc_id" >= 102L), incr)
    def bandRows(p: String) = spark.read.parquet(s"$p/bands")
      .select("ref_id", "band", "band_key", "bn").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getInt(3)))
      .toSet
    assert(bandRows(incr) === bandRows(full),
      "appended bands (incl. bn maintenance) must equal a full rebuild")
    def shRows(p: String) = spark.read.parquet(s"$p/shingles")
      .collect().map(r => (r.getLong(0), r.getSeq[String](1).toSet)).toSet
    assert(shRows(incr) === shRows(full))
    def pairs(p: String) = TextOps.nearDupAgainstIndex(docs, p,
      threshold = 0.5).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("ref_id"),
        r.getAs[Double]("jaccard"))).toSet
    assert(pairs(incr) === pairs(full) && pairs(incr).nonEmpty)
    // maintenance path (the scaladoc's claim, proven): appends
    // accumulate files; the partition-aware compactor flattens each
    // part dir in place and the index answers identically after
    val (nb, na) = graft.operators.LayoutOps.compactParquet(
      spark, s"$incr/bands")
    graft.operators.LayoutOps.compactParquet(spark, s"$incr/shingles")
    assert(na <= nb)
    assert(bandRows(incr) === bandRows(full))
    assert(pairs(incr) === pairs(full))
    // a REPLAYED completed append (the worst at-least-once crash/retry
    // window: every touched partition already holds the increment's
    // rows) must CONVERGE — the merged-bands dedup (ADVICE r15) keeps
    // bn exact and the band rows identical; replayed shingle rows are
    // byte-identical (set-equal here, absorbed query-side)
    TextOps.appendToMinhashIndex(ref.filter($"doc_id" >= 102L), incr)
    assert(bandRows(incr) === bandRows(full),
      "replayed append must not inflate bn or duplicate band rows")
    // row COUNT too: byte-identical duplicates would collapse in the
    // set compare, so equality of counts is the duplication check
    assert(spark.read.parquet(s"$incr/bands").count() ===
      spark.read.parquet(s"$full/bands").count())
    assert(shRows(incr) === shRows(full))
    assert(pairs(incr) === pairs(full))
    spark.catalog.clearCache()
  }

  test("ivfIndexTopK equals ivfTopKLloyd through the persisted index; " +
      "append assigns by the FROZEN codebook") {
    val emb = spark.range(48).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(7)), d =>
        (cos((col("id") % 6 + 1) * (d + 1)) + 0.1).cast("float"))
        .as("embedding"))
    val path = java.nio.file.Files.createTempDirectory("ivfidx").toString
    VectorOps.buildIvfIndex(emb, path, nCentroids = 6, iters = 2)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("probe_id"), r.getAs[Int]("rnk"),
        r.getAs[Long]("neighbor_id"), r.getAs[Double]("score"))).toSet
    val direct = rows(VectorOps.ivfTopKLloyd(emb, nProbes = 4, k = 3,
      nCentroids = 6, iters = 2))
    val viaIdx = rows(VectorOps.ivfIndexTopK(
      emb.filter(col("vec_id") < 4), path, k = 3))
    assert(direct.nonEmpty && viaIdx === direct)
    // frozen-codebook append: build on evens, append odds; every
    // appended vector's stored cell must equal assignment by the
    // EVENS-trained codebook (not a retrain over the union)
    val half = java.nio.file.Files.createTempDirectory("ivfidx_h").toString
    VectorOps.buildIvfIndex(emb.filter(col("vec_id") % 2 === 0), half,
      nCentroids = 6, iters = 2)
    val beforeCb = spark.read.parquet(s"$half/centroids").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1))).toSet
    VectorOps.appendToIvfIndex(emb.filter(col("vec_id") % 2 =!= 0), half)
    val afterCb = spark.read.parquet(s"$half/centroids").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1))).toSet
    assert(afterCb === beforeCb, "append must not retrain the codebook")
    val stored = spark.read.parquet(s"$half/vectors")
      .select(col("vec_id"), col("cluster").cast("long").as("cluster"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(stored.size === 48, "append must add every new vector")
    // a missing codebook is refused loudly
    val bare = java.nio.file.Files.createTempDirectory("ivfidx_bare")
    val e = intercept[IllegalArgumentException] {
      VectorOps.appendToIvfIndex(emb, bare.toString)
    }
    assert(e.getMessage.contains("no codebook"))
    spark.catalog.clearCache()
  }

  test("ivfIndexStats reports every codebook cell (zero-filled when " +
      "starved), exact counts, and the max/mean imbalance; disk stats " +
      "see the append's file growth") {
    val emb = spark.range(48).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(7)), d =>
        (cos((col("id") % 6 + 1) * (d + 1)) + 0.1).cast("float"))
        .as("embedding"))
    val path = java.nio.file.Files.createTempDirectory("ivfstats").toString
    VectorOps.buildIvfIndex(emb, path, nCentroids = 6, iters = 2)
    def stats() = VectorOps.ivfIndexStats(spark, path).collect()
      .map(r => (r.getAs[Long]("cluster"), r.getAs[Long]("n_vecs"),
        r.getAs[Double]("frac"), r.getAs[Double]("imbalance")))
    val s0 = stats()
    assert(s0.length === 6, "one row per CODEBOOK cell, data or not")
    assert(s0.map(_._2).sum === 48L, "cell counts must sum to the corpus")
    // exact counts: recompute from the layout directly
    val direct = spark.read.parquet(s"$path/vectors")
      .groupBy(col("cluster").cast("long")).count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    s0.foreach { case (c, n, f, _) =>
      assert(n === direct.getOrElse(c, 0L))
      assert(f === BigDecimal(n.toDouble / 48)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    val imb = s0.head._4
    assert(s0.forall(_._4 === imb), "imbalance is a global ratio")
    assert(imb >= 1.0, "max cell >= mean cell by definition")
    // appends grow file counts in the touched part dirs — the
    // compact-now signal ivfIndexDiskStats exists to surface
    val filesBefore = VectorOps.ivfIndexDiskStats(spark, path).collect()
      .map(r => r.getAs[Int]("n_files")).sum
    VectorOps.appendToIvfIndex(emb, path) // full replay: counts double
    val filesAfter = VectorOps.ivfIndexDiskStats(spark, path).collect()
      .map(r => (r.getAs[Int]("n_files"), r.getAs[Long]("bytes")))
    assert(filesAfter.map(_._1).sum > filesBefore)
    assert(filesAfter.forall(_._2 > 0L))
    assert(stats().map(_._2).sum === 96L,
      "stats must see appended rows immediately")
    // starved cells surface as n_vecs = 0 (they come from the codebook
    // table, not the data): with only 3 distinct patterns among the 6
    // seeds, duplicate-seed cells lose every tie to the lower cid
    val emb2 = spark.range(48).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(7)), d =>
        (cos((col("id") % 3 + 1) * (d + 1)) + 0.1).cast("float"))
        .as("embedding"))
    val starved = java.nio.file.Files
      .createTempDirectory("ivfstats_z").toString
    VectorOps.buildIvfIndex(emb2, starved, nCentroids = 6, iters = 1)
    val z = VectorOps.ivfIndexStats(spark, starved).collect()
      .map(r => (r.getAs[Long]("cluster"), r.getAs[Long]("n_vecs")))
    assert(z.length === 6)
    assert(z.exists(_._2 === 0L), s"expected a zero-filled cell in " +
      s"${z.mkString(",")}")
    // the IVF-PQ twin's codes layout reports through the same monitor
    val emb16 = spark.range(48).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(15)), d =>
        (cos((col("id") % 6 + 1) * (d + 1)) + 0.1).cast("float"))
        .as("embedding"))
    val pq = java.nio.file.Files.createTempDirectory("ivfstats_pq").toString
    VectorOps.buildIvfPqIndex(emb16, pq, m = 4, kCent = 8, nCentroids = 8)
    val pqStats = VectorOps.ivfIndexStats(spark, pq, sub = "codes")
      .collect().map(r => r.getAs[Long]("n_vecs"))
    assert(pqStats.length === 8 && pqStats.sum === 48L)
    spark.catalog.clearCache()
  }

  test("ivfPqIndexTopK equals ivfPqTopK through the persisted index; " +
      "append freezes BOTH codebooks") {
    val emb = spark.range(48).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(15)), d =>
        (cos((col("id") % 6 + 1) * (d + 1)) + 0.1).cast("float"))
        .as("embedding"))
    val path = java.nio.file.Files.createTempDirectory("ivfpqidx").toString
    VectorOps.buildIvfPqIndex(emb, path, m = 4, kCent = 8, nCentroids = 8)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("probe_id"), r.getAs[Int]("rnk"),
        r.getAs[Long]("neighbor_id"), r.getAs[Double]("adc_dist"))).toSet
    val direct = rows(VectorOps.ivfPqTopK(emb, nProbes = 4, k = 3,
      m = 4, kCent = 8, nCentroids = 8))
    val viaIdx = rows(VectorOps.ivfPqIndexTopK(
      emb.filter(col("vec_id") < 4), path, k = 3))
    assert(direct.nonEmpty && viaIdx === direct)
    // frozen-book append: first-half build + second-half add must be
    // row-identical to a full build (the deterministic seeds live in
    // the build half, so the frozen books equal the full-corpus ones)
    val half = java.nio.file.Files.createTempDirectory("ivfpq_h").toString
    VectorOps.buildIvfPqIndex(emb.filter(col("vec_id") < 24), half,
      m = 4, kCent = 8, nCentroids = 8)
    VectorOps.appendToIvfPqIndex(emb.filter(col("vec_id") >= 24), half)
    def codeRows(p: String) = spark.read.parquet(s"$p/codes")
      .select(col("vec_id"), col("cluster").cast("long"), col("codes"))
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getSeq[Int](2))).toSet
    assert(codeRows(half) === codeRows(path),
      "frozen-book append must equal a full rebuild row-for-row")
    val bare = java.nio.file.Files.createTempDirectory("ivfpq_bare")
    val e = intercept[IllegalArgumentException] {
      VectorOps.appendToIvfPqIndex(emb, bare.toString)
    }
    assert(e.getMessage.contains("no codebooks"))
    spark.catalog.clearCache()
  }

  test("minhash index params manifest: a parameter mismatch at query or " +
      "append time raises instead of silently returning zero matches") {
    val ref = Seq((100L, "a b c d e f g", "en", "r", 13L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val path = java.nio.file.Files.createTempDirectory("mhidx_par").toString
    TextOps.buildMinhashIndex(ref, path, k = 3, numHashes = 12, bands = 4)
    val e = intercept[IllegalArgumentException] {
      TextOps.nearDupAgainstIndex(docs, path, k = 2, numHashes = 12,
        bands = 4, threshold = 0.5)
    }
    assert(e.getMessage.contains("built with"))
    val e2 = intercept[IllegalArgumentException] {
      TextOps.nearDupAgainstIndex(docs, path, k = 3, numHashes = 12,
        bands = 6, threshold = 0.5)
    }
    assert(e2.getMessage.contains("built with"))
    // an index without a manifest (pre-r14 layout) is refused loudly
    val bare = java.nio.file.Files.createTempDirectory("mhidx_bare")
    val e3 = intercept[IllegalArgumentException] {
      TextOps.appendToMinhashIndex(ref, bare.toString)
    }
    assert(e3.getMessage.contains("params manifest"))
  }

  test("simhashAgainstIndex: cross-corpus hamming pairs equal the " +
      "simhashPairs banding over the union; bn cap drops mass-" +
      "duplicate buckets; manifest gate refuses mismatches") {
    val ref = Seq(
      (100L, "the quick brown fox jumps over the lazy dog", "en", "r", 43L),
      (101L, "entirely unrelated reference material", "en", "r", 37L),
      (102L, "the quick brown fox jumps over the lazy dog", "en", "r", 43L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val path = java.nio.file.Files.createTempDirectory("shidx").toString
    TextOps.buildSimhashIndex(ref, path)
    def viaIdx(cap: Int) = TextOps.simhashAgainstIndex(docs, path,
        maxHamming = 10, maxBucketSize = cap).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("ref_id"),
        r.getAs[Int]("hamming"))).toSet
    // oracle: simhashPairs over the tagged UNION (query ids < 100 <=
    // ref ids) restricted to cross pairs — same banding, same hamming,
    // through a spec-trusted operator instead of the index
    val direct = TextOps.simhashPairs(
        docs.select($"doc_id", $"text")
          .unionByName(ref.select($"doc_id", $"text")), maxHamming = 10)
      .collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Int]("hamming")))
      .filter { case (a, b, _) => a < 100L && b >= 100L }.toSet
    assert(direct.nonEmpty, "fixture must produce cross matches")
    assert(viaIdx(0) === direct)
    // refs 100 and 102 are identical, so every one of their buckets
    // has bn = 2: a cap of 1 drops all their matches but keeps
    // unique-ref buckets — the precomputed bn is load-bearing
    val capped = viaIdx(1)
    assert(capped !== viaIdx(0))
    assert(capped.forall { case (_, r, _) => r != 100L && r != 102L })
    // manifest gate: a banding mismatch silently matches nothing, so
    // it raises; a manifest-less index is refused
    val e = intercept[IllegalArgumentException] {
      TextOps.simhashAgainstIndex(docs, path, maxHamming = 10, bands = 8)
    }
    assert(e.getMessage.contains("built with bands=4"))
    val bare = java.nio.file.Files.createTempDirectory("shidx_bare")
    val e2 = intercept[IllegalArgumentException] {
      TextOps.appendToSimhashIndex(ref, bare.toString)
    }
    assert(e2.getMessage.contains("params manifest"))
    spark.catalog.clearCache()
  }

  test("appendToSimhashIndex: build-once + append is row-identical to " +
      "a full rebuild (bands incl. recomputed bn, sigs, query result); " +
      "a replayed append converges") {
    val ref = Seq(
      (100L, "the quick brown fox jumps over the lazy dog", "en", "r", 43L),
      (101L, "entirely unrelated reference material", "en", "r", 37L),
      (102L, "the quick brown fox jumps over the lazy dog", "en", "r", 43L),
      (103L, "another later crawl increment document", "en", "r", 38L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val full = java.nio.file.Files.createTempDirectory("shidx_full").toString
    val incr = java.nio.file.Files.createTempDirectory("shidx_incr").toString
    TextOps.buildSimhashIndex(ref, full)
    // day 1: 100/101; day 2 increment: 102 (identical to 100 — its
    // buckets' bn must grow 1 -> 2 in the touched partitions) + 103
    TextOps.buildSimhashIndex(ref.filter($"doc_id" <= 101L), incr)
    TextOps.appendToSimhashIndex(ref.filter($"doc_id" >= 102L), incr)
    def bandRows(p: String) = spark.read.parquet(s"$p/bands")
      .select("band", "chunk", "ref_id", "bn").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getInt(3)))
      .toSet
    assert(bandRows(incr) === bandRows(full),
      "appended bands (incl. bn maintenance) must equal a full rebuild")
    def sigRows(p: String) = spark.read.parquet(s"$p/sigs")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sigRows(incr) === sigRows(full))
    def pairs(p: String) = TextOps.simhashAgainstIndex(docs, p,
        maxHamming = 10).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("ref_id"),
        r.getAs[Int]("hamming"))).toSet
    assert(pairs(incr) === pairs(full) && pairs(incr).nonEmpty)
    // a REPLAYED completed append must converge: band rows identical
    // (count too — byte-identical dups would collapse in a set
    // compare), duplicate sig rows absorbed query-side
    TextOps.appendToSimhashIndex(ref.filter($"doc_id" >= 102L), incr)
    assert(bandRows(incr) === bandRows(full))
    assert(spark.read.parquet(s"$incr/bands").count() ===
      spark.read.parquet(s"$full/bands").count(),
      "replayed append must not duplicate band rows or inflate bn")
    assert(pairs(incr) === pairs(full))
    spark.catalog.clearCache()
  }

  test("simhashIndexStats / minhashIndexStats: per-band bucket balance " +
      "from the stored bn — duplicate mass shows as max_bn, bare dirs " +
      "are refused") {
    val ref = Seq(
      (100L, "the quick brown fox jumps over the lazy dog", "en", "r", 43L),
      (101L, "entirely unrelated reference material", "en", "r", 37L),
      (102L, "the quick brown fox jumps over the lazy dog", "en", "r", 43L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val sh = java.nio.file.Files.createTempDirectory("shidx_st").toString
    val mh = java.nio.file.Files.createTempDirectory("mhidx_st").toString
    TextOps.buildSimhashIndex(ref, sh)
    TextOps.buildMinhashIndex(ref, mh)
    for (stats <- Seq(TextOps.simhashIndexStats(spark, sh),
        TextOps.minhashIndexStats(spark, mh))) {
      val rows = stats.collect()
        .map(r => r.getAs[Int]("band") ->
          (r.getAs[Long]("n_buckets"), r.getAs[Long]("n_rows"),
            r.getAs[Int]("max_bn"), r.getAs[Double]("imbalance"))).toMap
      assert(rows.keySet === Set(0, 1, 2, 3))
      rows.values.foreach { case (nb, nr, mx, imb) =>
        // 3 docs → 3 rows per band; 100 == 102 exactly, so they share
        // every bucket (max_bn = 2) and 101 sits alone → 2 buckets
        assert(nr === 3L && nb === 2L && mx === 2)
        assert(imb === BigDecimal(2.0 * 2 / 3)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
    }
    val bare = java.nio.file.Files.createTempDirectory("idx_st_bare")
    intercept[IllegalArgumentException] {
      TextOps.simhashIndexStats(spark, bare.toString)
    }
    intercept[IllegalArgumentException] {
      TextOps.minhashIndexStats(spark, bare.toString)
    }
    spark.catalog.clearCache()
  }

  test("repeatedSpans: exact dups fully covered, partial overlap measured") {
    val out = TextOps.repeatedSpans(docs, k = 4, minCount = 2)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    // docs 0 and 3 are identical: every position repeats, full coverage
    assert(out(0L).getAs[Double]("dup_frac") === 1.0)
    assert(out(3L).getAs[Double]("dup_frac") === 1.0)
    // doc 1 shares its first 8 tokens with doc 0 (grams at pos 0..4),
    // so 8 of its 9 tokens sit inside repeated spans
    assert(out(1L).getAs[Long]("n_rep_grams") === 5L)
    assert(out(1L).getAs[Long]("covered_tokens") === 8L)
    assert(out(1L).getAs[Double]("dup_frac") === 0.888889)
    // unique doc and the token-less doc both score zero, but stay present
    assert(out(2L).getAs[Double]("dup_frac") === 0.0)
    assert(out(4L).getAs[Long]("n_tokens") === 0L)
    assert(out(4L).getAs[Double]("dup_frac") === 0.0)
  }

  test("exactSubstrDedup removes merged repeated spans, keeps the rest " +
      "in order") {
    val out = TextOps.exactSubstrDedup(docs, k = 4, minCount = 2)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    // docs 0 and 3 are identical: every 4-gram repeats, BOTH copies
    // vanish entirely (the remove-all-occurrences contract)
    assert(out(0L).getAs[Long]("n_removed") === 9L)
    assert(out(0L).getAs[String]("text_dedup") === "")
    assert(out(3L).getAs[String]("text_dedup") === "")
    // doc 1 shares its first 8 tokens with doc 0 (flagged grams at pos
    // 0..4 merge into ONE interval [0,7]); only the differing tail
    // token survives, in its original position
    assert(out(1L).getAs[Long]("n_kept") === 1L)
    assert(out(1L).getAs[String]("text_dedup") === "cat")
    // a doc with no repeated grams passes through verbatim
    assert(out(2L).getAs[String]("text_dedup") ===
      "completely different text about spark engines here")
    assert(out(2L).getAs[Long]("n_removed") === 0L)
    // whitespace-only doc: zero tokens, still present, unchanged
    assert(out(4L).getAs[Long]("n_tokens") === 0L)
    assert(out(4L).getAs[String]("text_dedup") === "")
    spark.catalog.clearCache() // base/grams frames persisted by the op
  }

  test("exactSubstrDedup merges DISJOINT repeated regions separately " +
      "and keeps the gap between them") {
    val share = Seq(
      // both docs share tokens 0-3 ("a b c d") and tokens 6-9
      // ("x y z w"); the middles differ -> two separate intervals,
      // gap tokens survive
      (0L, "a b c d mid1 mid2 x y z w tail0"),
      (1L, "a b c d gap1 gap2 x y z w tail1")
    ).toDF("doc_id", "text")
    val out = TextOps.exactSubstrDedup(share, k = 4, minCount = 2)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(0L).getAs[String]("text_dedup") === "mid1 mid2 tail0")
    assert(out(1L).getAs[String]("text_dedup") === "gap1 gap2 tail1")
    assert(out(0L).getAs[Long]("n_removed") === 8L)
    spark.catalog.clearCache()
  }

  test("decontaminateSpans excises only the eval-overlapping span; " +
      "flanks and eval-free docs survive verbatim") {
    val train = Seq(
      // eval passage "q1 q2 q3 q4" embedded mid-doc (4-gram at pos 2-5)
      (0L, "intro text q1 q2 q3 q4 outro tail"),
      (1L, "entirely clean training material here")
    ).toDF("doc_id", "text")
    val eval = Seq((100L, "q1 q2 q3 q4")).toDF("doc_id", "text")
    val out = TextOps.decontaminateSpans(train, eval, k = 4)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(0L).getAs[String]("text_dedup") === "intro text outro tail")
    assert(out(0L).getAs[Long]("n_removed") === 4L)
    assert(out(1L).getAs[String]("text_dedup") ===
      "entirely clean training material here")
    assert(out(1L).getAs[Long]("n_removed") === 0L)
    // eval docs are never rewritten — output covers the TRAIN side only
    assert(!out.contains(100L))
    spark.catalog.clearCache()
  }

  test("span operators: NULL text propagates as NULL metrics, the doc " +
      "is never dropped, and NULL eval text contributes no grams") {
    val withNull = Seq((0L, "a b c d e"), (1L, null.asInstanceOf[String]),
      (2L, "a b c d f")).toDF("doc_id", "text")
    val ded = TextOps.exactSubstrDedup(withNull, k = 4)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(ded.keySet === Set(0L, 1L, 2L))
    assert(ded(1L).isNullAt(ded(1L).fieldIndex("n_tokens")))
    assert(ded(1L).isNullAt(ded(1L).fieldIndex("text_dedup")))
    assert(ded(0L).getAs[String]("text_dedup") === "e") // abcd repeats
    val dec = TextOps.decontaminateSpans(withNull,
      Seq((9L, null.asInstanceOf[String])).toDF("doc_id", "text"), k = 4)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(dec(0L).getAs[Long]("n_removed") === 0L,
      "a NULL eval doc must flag nothing")
    assert(dec(1L).isNullAt(dec(1L).fieldIndex("n_removed")))
    spark.catalog.clearCache()
  }

  test("chunkDocs windows overlap by chunk-stride; empty doc keeps one row") {
    val out = TextOps.chunkDocs(docs, chunkTokens = 4, stride = 3)
      .orderBy(col("doc_id"), col("chunk_id")).collect()
    // doc 0: 9 tokens -> starts 0,3,6
    val d0 = out.filter(_.getAs[Long]("doc_id") == 0L)
    assert(d0.map(_.getAs[Long]("start_tok")).toSeq === Seq(0L, 3L, 6L))
    assert(d0.map(_.getAs[String]("chunk_text")).toSeq === Seq(
      "the quick brown fox", "fox jumps over the", "the lazy dog"))
    assert(d0.map(_.getAs[Long]("n_tok")).toSeq === Seq(4L, 4L, 3L))
    // consecutive chunks share chunkTokens - stride = 1 token
    assert(d0(0).getAs[String]("chunk_text").split(" ").last ===
      d0(1).getAs[String]("chunk_text").split(" ").head)
    // whitespace-only doc 4: exactly one empty chunk, nothing dropped
    val d4 = out.filter(_.getAs[Long]("doc_id") == 4L)
    assert(d4.length === 1)
    assert(d4(0).getAs[Long]("n_tok") === 0L)
    assert(d4(0).getAs[String]("chunk_text") === "")
  }

  test("bm25TopK ranks by tf, rewards rare terms, skips zero-score docs") {
    val corpus = Seq(
      (0L, "spark spark spark engine", "en", "s0", 0L),
      (1L, "spark engine", "en", "s0", 0L),
      (2L, "engine room", "en", "s0", 0L),
      (3L, "nothing relevant here", "en", "s0", 0L),
      (4L, "unique keyword appears once", "en", "s0", 0L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextOps.bm25TopK(corpus, Seq("spark", "unique"), kTop = 10)
      .collect()
    // doc 3 scores 0 (no query term) and is excluded
    assert(!out.map(_.getAs[Long]("doc_id")).contains(3L))
    // rnk is 1..n aligned with (score desc, doc_id asc)
    assert(out.map(_.getAs[Int]("rnk")).toSeq === (1 to out.length))
    val byDoc = out.map(r =>
      r.getAs[Long]("doc_id") -> r.getAs[Double]("score")).toMap
    // 'unique' (df=1) outweighs one 'spark' (df=2): doc 4 beats doc 1
    assert(byDoc(4L) > byDoc(1L))
    // higher tf of the same term on comparable length wins
    assert(byDoc(0L) > byDoc(1L))
  }

  test("binarySig packs sign bits; hammingPacked counts sign mismatches") {
    val dim = 70 // spans two words, exercises the partial tail word
    val a = Array.tabulate(dim)(i => if (i % 3 == 0) 1.0f else -1.0f)
    val b = Array.tabulate(dim)(i => if (i % 2 == 0) 1.0f else 0.0f)
    val expected = (0 until dim).count(i => (a(i) > 0) != (b(i) > 0))
    val df = Seq((a, b)).toDF("a", "b")
    val got = df.select(VectorOps.hammingPacked(
      VectorOps.binarySig(col("a"), dim),
      VectorOps.binarySig(col("b"), dim), dim).as("h"))
      .collect()(0).getLong(0)
    assert(got === expected.toLong)
    // zero is NOT positive: a zero and a negative pack the same bit
    val z = df.select(VectorOps.hammingPacked(
      VectorOps.binarySig(array_repeat(lit(0.0f), dim), dim),
      VectorOps.binarySig(array_repeat(lit(-1.0f), dim), dim), dim))
      .collect()(0).getLong(0)
    assert(z === 0L)
  }

  test("cosineTopKBinary ranks an identical vector first with score 1") {
    val emb = Seq(
      (0L, Array(1.0f, -2.0f, 3.0f, -4.0f), 0),
      (1L, Array(1.0f, -2.0f, 3.0f, -4.0f), 0), // identical to probe 0
      (2L, Array(-1.0f, 2.0f, -3.0f, 4.0f), 1), // opposite signs
      (3L, Array(2.0f, -1.0f, 4.0f, -3.0f), 0)  // same signs, different mag
    ).toDF("vec_id", "embedding", "label")
    val out = VectorOps.cosineTopKBinary(emb, nProbes = 1, k = 3, dim = 4,
        candidates = 3)
      .orderBy(col("rnk")).collect()
    assert(out(0).getAs[Long]("neighbor_id") === 1L)
    assert(out(0).getAs[Double]("score") === 1.0)
    // the sign-opposite vector ranks last among the candidates
    assert(out.last.getAs[Long]("neighbor_id") === 2L)
  }

  test("pqTopK: codes are bounded, seed self-reconstruction is exact, " +
      "identical vectors rank first at ADC 0") {
    val emb = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    graft.functions.ensureRegistered(spark)
    val m = 8; val kCent = 16
    val book = VectorOps.pqCodebook(emb, m, kCent)
    assert(book.length === m * kCent * (64 / m))
    val codes = emb.select(col("vec_id").cast("long").as("vec_id"),
      graft.functions.pq_encode(col("embedding"), book, m).as("codes"))
    // every code addresses a real centroid
    val bad = codes.filter(exists(col("codes"),
      c => c < 0 || c >= kCent)).count()
    assert(bad === 0)
    assert(codes.filter(size(col("codes")) =!= m).count() === 0)
    // a codebook seed vector reconstructs itself exactly: ADC vs its
    // own codes is 0 (ties in encode still land on an equal subvector)
    val selfAdc = emb.filter(col("vec_id") < kCent)
      .select(graft.functions.pq_adc(col("embedding"),
        graft.functions.pq_encode(col("embedding"), book, m), book)
        .as("d"))
      .filter(col("d") =!= 0.0).count()
    assert(selfAdc === 0)
    // ranking: k rows per probe, rnk dense 1..k, ADC non-decreasing
    val out = VectorOps.pqTopK(emb, nProbes = 4, k = 5, m = m,
      kCent = kCent)
    val rows = out.orderBy(col("probe_id"), col("rnk")).collect()
    assert(rows.length === 4 * 5)
    rows.grouped(5).foreach { g =>
      assert(g.map(_.getAs[Int]("rnk")).toSeq === (1 to 5))
      val dists = g.map(_.getAs[Double]("adc_dist")).toSeq
      assert(dists === dists.sorted)
      assert(dists.forall(_ >= 0.0))
    }
  }

  test("bpeTrain learns hand-computable merges and the encode kernel " +
      "round-trips") {
    // corpus: "aa" x2, "ab" x1. Pair counts: (a,a)=2, (a,b)=1 ->
    // merge 1 = a+a. After: "aa"=[aa], "ab"=[a,b]; only (a,b)=1 left ->
    // merge 2 = a+b. Third round has no pairs -> training exhausts.
    val docs = Seq((1L, "aa aa ab")).toDF("doc_id", "text")
    val merges = TextOps.bpeTrain(docs, nMerges = 5)
      .orderBy(col("rank")).collect()
    assert(merges.map(r => (r.getInt(0), r.getString(1), r.getString(2),
      r.getString(3))).toSeq ===
      Seq((1, "a", "a", "aa"), (2, "a", "b", "ab")))
    // encode: "aab" -> [a,a,b] -> merge1 -> [aa,b]; merge2 needs an
    // adjacent (a,b) which no longer exists -> [aa, b]
    val enc = TextOps.bpeEncodeTokens(
      Seq((2L, "aab ab aa")).toDF("doc_id", "text"),
      TextOps.bpeTrain(docs, 5))
      .orderBy(col("pos")).collect()
    assert(enc(0).getAs[Seq[String]]("subwords") === Seq("aa", "b"))
    assert(enc(1).getAs[Seq[String]]("subwords") === Seq("ab"))
    assert(enc(2).getAs[Seq[String]]("subwords") === Seq("aa"))
    // the structural check passes all-zeros on the real corpus
    val chk = TextOps.bpeCheck(spark.read.parquet(
      "/root/testdata/sf0.001/documents.parquet"), nMerges = 6)
      .collect()(0)
    assert(chk.getAs[Long]("roundtrip_bad") === 0L)
    assert(chk.getAs[Long]("no_compression") === 0L)
    assert(chk.getAs[Long]("determinism_bad") === 0L)
    assert(chk.getAs[Long]("merge_deficit") === 0L)
    assert(chk.getAs[Long]("empty_corpus") === 0L)
  }

  test("shuffleRank is a reproducible permutation with dense per-shard " +
      "ranks and prefix-consistent shards") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val a = TextOps.shuffleRank(docs, salt = "epoch0")
    // reproducible: a second invocation produces byte-identical rows
    val b = TextOps.shuffleRank(docs, salt = "epoch0")
    assert(a.exceptAll(b).count() === 0)
    // a different salt produces a different permutation
    val c = TextOps.shuffleRank(docs, salt = "epoch1")
    assert(a.join(c, Seq("doc_id"))
      .filter(a("shuffle_key") === c("shuffle_key")).count() === 0)
    // shard is the key's hex prefix; ranks are dense 1..n per shard
    val badShard = a.filter(col("shard") =!=
      conv(col("shuffle_key").substr(1, 2), 16, 10).cast("int")).count()
    assert(badShard === 0)
    val dense = a.groupBy(col("shard")).agg(
      count(lit(1)).as("n"), max(col("shard_rank")).as("mx"),
      min(col("shard_rank")).as("mn"))
      .filter(col("mx") =!= col("n") || col("mn") =!= 1).count()
    assert(dense === 0)
  }

  test("gopherQuality computes line-level and word-level rule signals") {
    val docs = Seq(
      (1L, "- first bullet\n- second bullet\nplain line with the words"),
      (2L, "trailing thought...\nanother one...\nsolid close with the end"),
      (3L, "1 2 3 4 5 6 7 8 9 0"),
      (4L, "the quick brown fox jumps over lazy dogs with vigor and grace")
    ).toDF("doc_id", "text")
    val out = TextOps.gopherQuality(docs, minWords = 5, minStopwords = 1)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(1L).getAs[Double]("bullet_line_frac") === 0.666667)
    assert(out(1L).getAs[Double]("ellipsis_line_frac") === 0.0)
    assert(out(2L).getAs[Double]("ellipsis_line_frac") === 0.666667)
    // all-numeric doc: zero alpha words, no stopwords -> dropped
    assert(out(3L).getAs[Double]("alpha_word_frac") === 0.0)
    assert(out(3L).getAs[Int]("stopword_hits") === 0)
    assert(out(3L).getAs[Int]("keep") === 0)
    // clean English doc passes every rule
    assert(out(4L).getAs[Double]("alpha_word_frac") === 1.0)
    assert(out(4L).getAs[Int]("stopword_hits") >= 3)
    assert(out(4L).getAs[Int]("keep") === 1)
    // mean word length: "1 2 3 ..." has 10 single-char words
    assert(out(3L).getAs[Double]("mean_word_len") === 1.0)
  }

  test("pq_encode agrees with a plain-Scala argmin over real embeddings") {
    val emb = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    graft.functions.ensureRegistered(spark)
    val m = 8; val kCent = 16
    val book = VectorOps.pqCodebook(emb, m, kCent)
    val got = emb.select(col("vec_id").cast("long"),
      graft.functions.pq_encode(col("embedding"), book, m))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val raw = emb.select(col("vec_id").cast("long"), col("embedding"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    assert(raw.nonEmpty)
    raw.foreach { case (id, v) =>
      val sub = v.length / m
      val expect = (0 until m).map { j =>
        (0 until kCent).minBy { c =>
          var d = 0.0; var i = 0
          while (i < sub) {
            val diff = v(j * sub + i).toDouble -
              book((j * kCent + c) * sub + i).toDouble
            d += diff * diff; i += 1
          }
          d
        }
      }
      assert(got(id) === expect, s"vec $id codes diverge")
    }
  }

  test("ivfPqTopK searches only the probe's own cell and agrees with " +
      "pqTopK on in-cell distances") {
    val emb = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    val ivfpq = VectorOps.ivfPqTopK(emb, nProbes = 8, k = 5)
    // every neighbor shares the probe's coarse cell
    val assigned = VectorOps.assignClusters(emb,
        emb.filter(col("vec_id") < 16)
          .select(col("vec_id").cast("long").as("centroid_id"),
            col("embedding").as("c_emb")))
      .select(col("vec_id").as("neighbor_id"),
        col("cluster").as("n_cluster"))
    val strays = ivfpq.join(assigned, Seq("neighbor_id"))
      .filter(col("cluster") =!= col("n_cluster")).count()
    assert(strays === 0)
    // the ADC metric is the same kernel pqTopK uses: where the flat
    // scan also returns an (probe, neighbor) pair, the distances match
    val flat = VectorOps.pqTopK(emb, nProbes = 8, k = 50)
      .select(col("probe_id"), col("neighbor_id"),
        col("adc_dist").as("flat_dist"))
    val mismatch = ivfpq.join(flat, Seq("probe_id", "neighbor_id"))
      .filter(col("adc_dist") =!= col("flat_dist")).count()
    assert(mismatch === 0)
  }

  test("rrfFuse sums reciprocal ranks; single-list docs keep one term") {
    import spark.implicits._
    // doc 1 ranks 1st in both; doc 2 only sparse; doc 3 only dense
    val sparse = Seq((1L, 1), (2L, 2)).toDF("doc_id", "rnk")
    val dense = Seq((1L, 1), (3L, 2)).toDF("doc_id", "rnk")
    val out = VectorOps.rrfFuse(sparse, dense, kTop = 3, k0 = 60)
      .collect().map(r => r.getLong(1) ->
        (r.getInt(0), r.getDouble(4))).toMap
    def r6(v: Double) = math.rint(v * 1e6) / 1e6
    assert(out(1L) === ((1, r6(1.0 / 61 + 1.0 / 61))))
    // docs 2 and 3 tie on 1/62 -> doc_id ascending breaks it
    assert(out(2L) === ((2, r6(1.0 / 62))))
    assert(out(3L) === ((3, r6(1.0 / 62))))
  }

  // ---------------------------------------------------------------
  // content-defined chunking
  // ---------------------------------------------------------------

  /** Independent brute-force CDC reference (no shared code with the
    * native expression): boundary at 1-based i >= w where the trailing
    * window's polynomial hash is a 2^maskBits multiple. */
  private def cdcRef(text: String, w: Int, maskBits: Int): Seq[Int] = {
    val cps = text.codePoints().toArray
    val M = 4294967296L
    val pows = Iterator.iterate(1L)(p => (p * 263L) % M).take(w).toSeq
    (w to cps.length).filter { i =>
      val h = (0 until w).map(k => (cps(i - 1 - k).toLong * pows(k)) % M)
        .sum % M
      h % (1L << maskBits) == 0L
    }
  }

  test("cdcChunks matches the brute-force reference and reassembles") {
    val texts = Seq(
      0L -> ("the quick brown fox jumps over the lazy dog " * 8).trim,
      1L -> "short",
      2L -> ("abcdefgh" * 40),
      3L -> "unicode éè€ mixed content with ümläuts repeated " * 5)
    val df = texts.toDF("doc_id", "text")
    val out = TextOps.cdcChunks(df, window = 8, maskBits = 4)
      .collect()
      .groupBy(_.getAs[Long]("doc_id"))
    for ((id, text) <- texts) {
      val rows = out(id).sortBy(_.getAs[Int]("chunk_idx"))
      // expected spans from the independent boundary set
      val bnds = cdcRef(text, 8, 4)
      val n = text.codePoints().toArray.length
      val edges = (bnds :+ n).distinct
      val expected = edges.zip(0 +: edges.dropRight(1)).map(_.swap)
      assert(rows.length === expected.length, s"doc $id chunk count")
      rows.zip(expected).zipWithIndex.foreach { case ((r, (s0, e0)), j) =>
        assert(r.getAs[Int]("chunk_idx") === j)
        assert(r.getAs[Int]("chunk_start") === s0, s"doc $id chunk $j")
        assert(r.getAs[Int]("chunk_len") === e0 - s0, s"doc $id chunk $j")
      }
      // reassembly: spans tile the text exactly
      assert(rows.map(_.getAs[Int]("chunk_len")).sum === n)
    }
  }

  test("cdcChunks boundaries realign under a prefix edit (the CDC point)") {
    val base = ("spark catalyst tungsten codegen shuffle broadcast " * 6).trim
    val edited = "XYZ" + base
    val a = TextOps.cdcChunks(Seq(10L -> base).toDF("doc_id", "text"),
      window = 8, maskBits = 4).collect()
    val b = TextOps.cdcChunks(Seq(11L -> edited).toDF("doc_id", "text"),
      window = 8, maskBits = 4).collect()
    val aHashes = a.map(_.getAs[String]("chunk_md5")).toSet
    val bHashes = b.map(_.getAs[String]("chunk_md5")).toSet
    // every chunk of the original except its FIRST (the edit region)
    // must reappear verbatim in the edited document's chunk set
    val aTail = a.sortBy(_.getAs[Int]("chunk_idx")).drop(1)
      .map(_.getAs[String]("chunk_md5"))
    assert(aTail.nonEmpty && aTail.forall(bHashes.contains),
      "post-edit chunks did not realign")
    // and fixed-width chunking would NOT have this property: the sets
    // must differ only around the edit, not be disjoint
    assert((aHashes intersect bHashes).nonEmpty)
  }

  test("cdcChunks drops empty/null texts and stays shuffle-free") {
    val df = Seq((0L, "some usable text body here"), (1L, ""))
      .toDF("doc_id", "text")
      .union(Seq((2L, null.asInstanceOf[String])).toDF("doc_id", "text"))
    val out = TextOps.cdcChunks(df)
    assert(out.select("doc_id").distinct().collect()
      .map(_.getLong(0)).toSet === Set(0L))
    assert(!out.queryExecution.executedPlan.toString.contains("Exchange"),
      "cdcChunks must be a pure narrow map")
  }

  test("cdcDupReport flags near-identical re-crawls whole-doc dedup misses") {
    val base = ("data pipelines shuffle partitions broadcast joins " * 8).trim
    val df = Seq(
      0L -> base,
      1L -> ("Z" + base),      // one-byte edit: exact dedup sees a NEW doc
      2L -> "entirely unrelated content with no shared chunks at all")
      .toDF("doc_id", "text")
    val out = TextOps.cdcDupReport(df, window = 8, maskBits = 4)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    // the edited pair shares every post-edit chunk; the unique doc none
    assert(out(0L).getAs[Double]("dup_frac") > 0.5,
      s"original re-crawl not flagged: ${out(0L)}")
    assert(out(1L).getAs[Double]("dup_frac") > 0.5,
      s"edited re-crawl not flagged: ${out(1L)}")
    assert(out(2L).getAs[Double]("dup_frac") === 0.0)
    // counts are consistent: dup chunks never exceed chunks
    out.values.foreach { r =>
      assert(r.getAs[Long]("n_dup_chunks") <= r.getAs[Long]("n_chunks"))
    }
    spark.catalog.clearCache() // drop the operator-internal chunk persist
  }

  test("nbDistill learns a single-keyword rule exactly on a clean corpus") {
    // label = contains 'alpha'; vocab engineered so every word hashes to
    // its own bucket with overwhelming probability (distinct words)
    val corpus = Seq(
      (0L, "alpha beta gamma", "en", "s0", 1L),
      (1L, "alpha delta", "en", "s0", 1L),
      (2L, "beta gamma delta", "en", "s0", 1L),
      (3L, "gamma delta", "en", "s0", 1L),
      (4L, "alpha beta", "en", "s0", 1L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val label = array_contains(TextOps.tokens(col("text")), "alpha")
    val out = TextOps.nbDistillReport(corpus, label)
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    // Bernoulli NB sees 'alpha' present in every positive and absent in
    // every negative: the separation is perfect
    assert(out.getOrElse((1, 1), 0L) === 3L, s"confusion: $out")
    assert(out.getOrElse((-1, -1), 0L) === 2L, s"confusion: $out")
    assert(!out.contains((1, -1)) && !out.contains((-1, 1)), s"confusion: $out")
    spark.catalog.clearCache()
  }

  test("nbDistill margins match a direct Bernoulli NB computation") {
    val corpus = Seq(
      (0L, "alpha beta", "en", "s0", 1L),
      (1L, "alpha beta alpha", "en", "s0", 1L), // duplicate presence ignored
      (2L, "beta", "en", "s0", 1L),
      (3L, "gamma", "en", "s0", 1L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val label = array_contains(TextOps.tokens(col("text")), "alpha")
    val (dw, const) = TextOps.nbDistillWeights(corpus, label)
    // hand model: ne = 2, nr = 2; per word (de, dr):
    //   alpha (2,0)  beta (2,1)  gamma (0,1)
    def bucket(w: String): Int = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(w.getBytes("UTF-8"))
      ((md(0) & 0xff) << 0) // first hex pair == first byte
    }
    def nano(x: Double): Long = BigDecimal(x * 1e9)
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    def wp(de: Long, dr: Long): Long =
      nano(math.log((de + 1.0) / 4.0) - math.log((dr + 1.0) / 4.0))
    def wa(de: Long, dr: Long): Long =
      nano(math.log((3.0 - de) / 4.0) - math.log((3.0 - dr) / 4.0))
    val expect = Map("alpha" -> (2L, 0L), "beta" -> (2L, 1L),
      "gamma" -> (0L, 1L))
    expect.foreach { case (wd, (de, dr)) =>
      assert(dw(bucket(wd)) === wp(de, dr) - wa(de, dr),
        s"dw($wd) mismatch")
    }
    val expConst = nano(math.log(1.0)) +
      expect.values.map { case (de, dr) => wa(de, dr) }.sum
    assert(const === expConst)
    spark.catalog.clearCache()
  }

  test("topicReport labels clusters with their distinctive terms") {
    // two tight embedding groups (around (10,0) and (0,10)); vec_id 0
    // and 1 seed the two Lloyd centroids, one in each group
    val emb = Seq(
      (0L, Seq(10f, 0f), 0), (2L, Seq(11f, 0f), 0), (4L, Seq(9f, 1f), 0),
      (1L, Seq(0f, 10f), 1), (3L, Seq(0f, 11f), 1), (5L, Seq(1f, 9f), 1)
    ).toDF("vec_id", "embedding", "label")
    val corpus = Seq(
      (0L, "shared apple apple", "en", "s", 1L),
      (2L, "shared apple", "en", "s", 1L),
      (4L, "apple", "en", "s", 1L),
      (1L, "shared banana banana", "en", "s", 1L),
      (3L, "shared banana", "en", "s", 1L),
      (5L, "banana", "en", "s", 1L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = VectorOps.topicReport(corpus, emb, nClusters = 2,
      iters = 2, topTerms = 2).collect()
    val byCluster = out.groupBy(_.getLong(0))
    assert(byCluster.size === 2)
    // rnk 1 in each cluster is the cluster-specific fruit; 'shared'
    // appears in both clusters so its idf (ln 2/2) scores it 0
    val top = byCluster.map { case (c, rs) =>
      c -> rs.find(_.getInt(1) == 1).get.getString(2)
    }
    assert(top.values.toSet === Set("apple", "banana"), s"$top")
    out.filter(_.getString(2) == "shared").foreach { r =>
      assert(r.getDouble(5) === 0.0, s"shared term must score 0: $r")
    }
    // exact counts carried through: apple occurs 4x in its cluster
    val apple = out.find(_.getString(2) == "apple").get
    assert(apple.getAs[Long]("n_term") === 4L)
    assert(apple.getAs[Long]("n_docs") === 3L)
    spark.catalog.clearCache()
  }

  test("micro_argmin kernel matches the column argmin incl. ties") {
    graft.functions.ensureRegistered(spark)
    // codebook with a deliberate duplicate centroid (ids 3 and 7) so
    // ties must land on the lower id; dims=4
    val cents: Array[(Long, Array[Long])] = Array(
      (3L, Array(0L, 0L, 0L, 0L)),
      (5L, Array(1000000L, 0L, 0L, 0L)),
      (7L, Array(0L, 0L, 0L, 0L)),
      (9L, Array(-500000L, 250000L, 0L, 1L)))
    val df = spark.range(200).select(
      transform(sequence(lit(0), lit(3)),
        d => ((col("id") * 37 + d * 1013) % 2000001 - 1000000)
          .cast("long")).as("qx"))
    val cmp = df.select(
      graft.functions.micro_argmin(col("qx"), cents.map(_._1),
        cents.flatMap(_._2)).as("a"),
      nearestMicroL2Columns(col("qx"), cents)
        .as("b"))
    assert(cmp.filter(not(col("a") <=> col("b"))).count() === 0)
    // the exact-tie row: qx equidistant from ids 3 and 7 -> 3
    val tie = spark.range(1)
      .select(array(lit(0L), lit(0L), lit(0L), lit(0L)).as("qx"))
      .select(graft.functions.micro_argmin(col("qx"), cents.map(_._1),
        cents.flatMap(_._2)))
      .collect()(0).getLong(0)
    assert(tie === 3L)
  }

  test("lshRecallReport catches planted near-dups and misses strangers") {
    // ten base docs with disjoint-ish vocab + one high-Jaccard twin
    val rows = (0 until 10).map { i =>
      (i.toLong, (0 until 12).map(j => s"w${i}_$j").mkString(" "),
        "en", "s", 1L)
    } :+ ((100L,
      (0 until 11).map(j => s"w0_$j").mkString(" ") + " zz",
      "en", "s", 1L))
    val docs = rows.toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextOps.lshRecallReport(docs).collect()
      .map(r => r.getInt(0) -> r).toMap
    // the planted twin pair lands in a high bucket with recall 1
    val high = out.filter(_._1 >= 8).values
    assert(high.nonEmpty, s"no high-Jaccard bucket: ${out.keys}")
    high.foreach { r =>
      assert(r.getAs[Long]("n_caught") === r.getAs[Long]("n_pairs"),
        s"missed a high-Jaccard pair: $r")
      assert(r.getAs[Double]("theory") > 0.9)
    }
    // theory column is the unrolled S-curve at the bucket midpoint
    out.values.foreach { r =>
      val s0 = (r.getInt(0) - 0.5) / 10.0
      val t = 1.0 - s0 * s0 * s0
      val exp = BigDecimal(1.0 - t * t * t * t)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getAs[Double]("theory") === exp, s"theory at $r")
    }
    spark.catalog.clearCache()
  }

  test("encodingArtifacts counts mojibake markers and flags hits") {
    val corpus = Seq(
      (0L, "perfectly clean ascii text", "en", "s", 1L),
      (1L, "the word caf\u00c3\u00a9 was double-encoded", "en", "s", 1L),
      (2L, "bad quote \u00e2\u20ac\u2122 and another \u00e2\u20ac\u0153 here", "en", "s", 1L),
      (3L, "lossy \ufffd\ufffd decode", "en", "s", 1L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextOps.encodingArtifacts(corpus)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getInt(4))).toMap
    assert(out(0L) === (0L, 0L, 0L, 0))
    assert(out(1L) === (0L, 1L, 0L, 1))
    assert(out(2L) === (2L, 0L, 0L, 1))
    assert(out(3L) === (0L, 0L, 2L, 1))
    spark.catalog.clearCache()
  }

  test("ivfProbeCurve is monotone and reaches exactly 1.0 at full probes") {
    val emb = (0 until 40).map { i =>
      val g = i % 4
      (i.toLong, Seq(
        (if (g == 0) 10f else 0f) + i * 0.01f,
        (if (g == 1) 10f else 0f),
        (if (g == 2) 10f else 0f),
        (if (g == 3) 10f else 0f)), g)
    }.toDF("vec_id", "embedding", "label")
    val out = VectorOps.ivfProbeCurve(emb, k = 2, nCentroids = 4,
      nQueries = 4).collect()
      .map(r => r.getInt(0) -> r.getDouble(3)).toMap
    assert(out(4) === 1.0, s"full-probe recall must be exactly 1: $out")
    (1 until 4).foreach { p =>
      if (out.contains(p) && out.contains(p + 1))
        assert(out(p) <= out(p + 1), s"recall not monotone at $p: $out")
    }
    spark.catalog.clearCache()
  }

  test("corpusDiff counts added/removed/changed/unchanged exactly") {
    val a = Seq(
      (0L, "alpha", "en", "s", 5L), (1L, "beta", "en", "s", 4L),
      (2L, "gamma", "en", "s", 5L), (3L, "delta", "en", "s", 5L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val b = Seq(
      (0L, "alpha", "en", "s", 5L),          // unchanged
      (1L, "beta prime", "en", "s", 10L),    // changed (+6 chars)
      (3L, "delta", "en", "s", 5L),          // unchanged
      (9L, "epsilon", "en", "s", 7L)         // added; doc 2 removed
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = TextOps.corpusDiff(a, b).collect()(0)
    assert(r.getAs[Long]("n_added") === 1L)
    assert(r.getAs[Long]("n_removed") === 1L)
    assert(r.getAs[Long]("n_changed") === 1L)
    assert(r.getAs[Long]("n_unchanged") === 2L)
    assert(r.getAs[Long]("chars_delta") === 6L)
    spark.catalog.clearCache()
  }

  test("domainCap: exact quota on over-cap domains, everything kept " +
      "under cap, deterministic under repartition") {
    val d = (0L to 9L).map(i => (i, s"t$i", "big"))
      .++(Seq((100L, "u", "small"), (101L, "v", "small")))
      .toDF("doc_id", "text", "source")
    val out = TextOps.domainCap(d, cap = 4).collect()
    val byDomain = out.groupBy(_.getAs[String]("domain"))
    // under-cap domain: all kept
    assert(byDomain("small").forall(_.getAs[Int]("keep") === 1))
    assert(byDomain("small").forall(_.getAs[Long]("n_docs_domain") === 2L))
    // over-cap domain: exactly cap kept, and they are the cap smallest
    // hashes (order-free quota)
    val big = byDomain("big")
    assert(big.count(_.getAs[Int]("keep") === 1) === 4)
    val keptHashes = big.filter(_.getAs[Int]("keep") === 1)
      .map(_.getAs[String]("u8")).sorted
    val smallest = big.map(_.getAs[String]("u8")).sorted.take(4)
    assert(keptHashes === smallest)
    // partitioning must not change the sample
    val again = TextOps.domainCap(d.repartition(7), cap = 4).collect()
      .filter(_.getAs[Int]("keep") === 1).map(_.getAs[Long]("doc_id")).sorted
    assert(again === out.filter(_.getAs[Int]("keep") === 1)
      .map(_.getAs[Long]("doc_id")).sorted)
  }

  test("hardNegatives: same-label near-duplicates are never candidates; " +
      "different-label neighbors rank by cosine") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f), 0),   // probe
      (1L, Array(0.99f, 0.01f, 0.0f), 0), // same label: excluded
      (2L, Array(0.9f, 0.1f, 0.0f), 1),   // closest cross-label
      (3L, Array(0.0f, 1.0f, 0.0f), 2))   // orthogonal cross-label
      .toDF("vec_id", "embedding", "label")
    val out = VectorOps.hardNegatives(emb, nProbes = 1, k = 5)
      .orderBy("rnk").collect()
    assert(out.map(_.getAs[Long]("neighbor_id")).toSeq === Seq(2L, 3L))
    assert(out.head.getAs[Int]("probe_label") === 0)
    assert(out.map(_.getAs[Int]("neighbor_label")).toSeq === Seq(1, 2))
    assert(out.head.getAs[Double]("score") > 0.99)
  }

  test("normalizeNfc: decomposed accents compose to the same bytes; " +
      "clean text passes through unflagged; nulls propagate") {
    import spark.implicits._
    val composed = "Caf\u00e9"
    val decomposed = "Cafe\u0301"
    val hangul = "\u1100\u1161" // jamo pair, composes to U+AC00
    val d = Seq(
      (1L, composed), (2L, decomposed), (3L, hangul),
      (4L, "plain ascii"), (5L, null))
      .toDF("doc_id", "text")
    val out = TextOps.normalizeNfc(d).orderBy("doc_id").collect()
    assert(out(0).getString(1) === composed && out(0).getInt(2) === 0)
    assert(out(1).getString(1) === composed && out(1).getInt(2) === 1,
      "decomposed form must compose to the same bytes as the composed")
    assert(out(2).getString(1) === "\uac00" && out(2).getInt(2) === 1)
    assert(out(3).getString(1) === "plain ascii" && out(3).getInt(2) === 0)
    assert(out(4).isNullAt(1) && out(4).isNullAt(2))
    // the dedup consequence: both spellings now hash identically
    val shas = TextOps.normalizeNfc(d).filter(col("doc_id") <= 2)
      .select(sha2(col("text"), 256)).collect().map(_.getString(0))
    assert(shas(0) === shas(1))
  }

  test("sampleWeighted: uniform weights reduce to largest-hash top-k; " +
      "scale-invariant in the weights; heavy items dominate") {
    import spark.implicits._
    val d = (0L until 100L).map(i => (i, s"doc $i", 10L))
      .toDF("doc_id", "text", "w")
    val uni = TextOps.sampleWeighted(d, col("w"), 10)
      .collect().map(_.getLong(0)).sorted
    // with equal weights the exponential key -ln(u)/w is DECREASING
    // in u, so the sample IS the k LARGEST salted hashes
    val byHash = d.select(col("doc_id"),
        md5(concat(lit("wsample|"), col("doc_id").cast("string")))
          .substr(1, 8).as("u8"))
      .orderBy(col("u8").desc).limit(10).collect().map(_.getLong(0)).sorted
    assert(uni === byHash)
    // scaling every weight leaves the sample unchanged
    val scaled = TextOps.sampleWeighted(d.withColumn("w", col("w") * 1000),
      col("w"), 10).collect().map(_.getLong(0)).sorted
    assert(scaled === uni)
    // a dominant weight is effectively always included
    val skew = d.withColumn("w",
      when(col("doc_id") === 55L, lit(1000000000L)).otherwise(lit(1L)))
    val s = TextOps.sampleWeighted(skew, col("w"), 5)
      .collect().map(_.getLong(0))
    assert(s.contains(55L))
    // zero/null weights are excluded
    val z = TextOps.sampleWeighted(
      d.withColumn("w", when(col("doc_id") < 90, lit(0L)).otherwise(lit(1L))),
      col("w"), 50).collect().map(_.getLong(0))
    assert(z.length === 10 && z.forall(_ >= 90L))
  }

  test("duplicateLineStats: within-doc duplicated lines and their char " +
      "mass; empty docs and empty lines handled") {
    import spark.implicits._
    val d = Seq(
      (1L, "aa\nbb\naa\ncc"),       // 4 lines, 'aa' twice -> 2/4, 4/8 chars
      (2L, "x\n\n\nx\ny"),          // empties drop: x,x,y -> 2/3, 2/3
      (3L, "one\ntwo\nthree"),      // no dups
      (4L, ""),                     // empty doc
      (5L, null.asInstanceOf[String])) // null text -> zeros, not NULLs
      .toDF("doc_id", "text")
    val out = TextOps.duplicateLineStats(d).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2),
        r.getDouble(3))).toMap
    assert(out(1L) === ((4L, 0.5, 0.5)))
    assert(out(2L) === ((3L, math.rint(2.0 / 3 * 1e6) / 1e6,
      math.rint(2.0 / 3 * 1e6) / 1e6)))
    assert(out(3L) === ((3L, 0.0, 0.0)))
    assert(out(4L) === ((0L, 0.0, 0.0)))
    assert(out(5L) === ((0L, 0.0, 0.0)))
  }

  test("clusterBestKeeper: highest score wins its cluster (ties to the " +
      "lower id); unclustered docs keep themselves") {
    import spark.implicits._
    val docs = Seq((1L, 10L), (2L, 30L), (3L, 30L), (4L, 5L), (9L, 1L))
      .toDF("doc_id", "n_chars")
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L))
      .toDF("doc_id", "cluster_id")
    val out = TextOps.clusterBestKeeper(docs, clusters, col("n_chars"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getInt(3))).toMap
    assert(out.size === 5, "every doc gets a verdict")
    // cluster 1: scores 10/30/30 -> doc 2 wins the tie over doc 3
    assert(out(2L) === ((1L, 1)) && out(3L) === ((1L, 0)) &&
      out(1L) === ((1L, 0)))
    assert(out(4L) === ((4L, 1)), "singleton cluster keeps its member")
    assert(out(9L) === ((9L, 1)), "unclustered doc keeps itself")
  }

  test("sampleTokenBudget: strict hash-order prefix per stratum — the " +
      "first overshooting doc closes the stratum; default budget " +
      "applies to unmapped strata; deterministic under repartition") {
    import spark.implicits._
    val d = (0L until 40L).map(i =>
      (i, if (i < 20) "web" else "code", 100L + i))
      .toDF("doc_id", "source", "n_chars")
    def run(df: org.apache.spark.sql.DataFrame) =
      TextOps.sampleTokenBudget(df, budgets = Map("web" -> 500L),
        defaultBudget = 300L, tokenCol = "n_chars")
    val out = run(d).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(3),
        r.getLong(4), r.getInt(5))).toMap
    assert(out.size === 40, "every input doc is returned with a flag")
    // per stratum: kept docs are exactly the hash-order prefix whose
    // cumulative stays within budget, and the flag matches cum<=budget
    for ((stratum, budget) <- Seq("web" -> 500L, "code" -> 300L)) {
      val rows = out.values.filter(_._1 == stratum).toSeq
      assert(rows.forall { case (_, _, cum, keep) =>
        keep == (if (cum <= budget) 1 else 0) })
      val kept = rows.filter(_._4 == 1)
      assert(kept.nonEmpty, s"$stratum: budget admits at least one doc")
      assert(kept.map(_._2).sum <= budget,
        s"$stratum: kept token mass must respect the budget")
      // prefix: max kept cum < min dropped cum (contiguous in order)
      val dropped = rows.filter(_._4 == 0)
      if (dropped.nonEmpty)
        assert(kept.map(_._3).max < dropped.map(_._3).min)
    }
    // repartition must not move the carve (hash order, not input order)
    val again = run(d.repartition(7)).collect()
      .map(r => r.getLong(0) -> r.getInt(5)).toMap
    assert(out.keys.forall(k => again(k) == out(k)._4))
  }

  test("dimRecallCurve: full-width truncation recovers the truth " +
      "exactly (recall 1.0); short prefixes stay in [0, 1]") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val emb = (0L until 40L).map(i =>
      (i, Array.fill(16)(rnd.nextFloat() - 0.5f)))
      .toDF("vec_id", "embedding")
    val out = VectorOps.dimRecallCurve(emb, nProbes = 4, k = 5,
      dims = Seq(4, 16)).collect()
    val byDim = out.groupBy(_.getAs[Int]("dims"))
    assert(byDim(16).forall(_.getAs[Double]("recall") === 1.0),
      "width 16 of 16 IS the truth")
    assert(byDim(4).forall { r =>
      val rec = r.getAs[Double]("recall"); rec >= 0.0 && rec <= 1.0 })
    assert(out.forall(_.getAs[Long]("n_truth") === 5L))
    spark.catalog.clearCache() // truth frame persisted by the curve
  }

  test("bitextMargin: hubness correction picks the specific match over " +
      "the hub despite a lower raw cosine") {
    val s3 = (1.0 / math.sqrt(3.0)).toFloat
    val sideA = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.0f, 1.0f, 0.0f)),
      (2L, Array(0.0f, 0.0f, 1.0f))).toDF("vec_id", "embedding")
    val sideB = Seq(
      (10L, Array(s3, s3, s3)),             // hub: cos 0.577 to every A
      (11L, Array(0.0f, 0.55f, 0.8352f)))   // specific-ish: cos 0.55 to a1
      .toDF("vec_id", "embedding")
    val rows = VectorOps.bitextMargin(sideA, sideB, k = 3).collect()
      .map(r => r.getAs[Long]("a_id") ->
        (r.getAs[Long]("b_id"), r.getAs[Double]("cos"),
          r.getAs[Double]("margin"))).toMap
    assert(rows.size === 3) // one best match per A vector
    // raw cosine prefers the hub for a1 (0.577 > 0.55)...
    assert(rows(1L)._2 < 0.577 + 1e-6)
    // ...but the hub's inflated neighborhood mean lowers its margin,
    // so the margin criterion selects b1
    assert(rows(1L)._1 === 11L)
    assert(rows(1L)._3 > 1.0)
    spark.catalog.clearCache() // bitextMargin persists its pair frame
  }

  test("bitextMarginAnn: on well-separated clusters the IVF candidate " +
      "stage reproduces the exhaustive margin rows exactly") {
    // two orthogonal groups; every top-k neighborhood is within-group,
    // so restricting candidates to the cluster changes nothing — the
    // ANN path must agree with the exhaustive path row for row
    def gx(t: Float) = Array(1.0f, t, 0.0f, 0.0f)
    def gy(t: Float) = Array(0.0f, 0.0f, 1.0f, t)
    val sideA = Seq(
      (0L, gx(0.00f)), (1L, gx(0.15f)), (2L, gx(0.30f)), (3L, gx(0.45f)),
      (4L, gy(0.00f)), (5L, gy(0.15f)), (6L, gy(0.30f)), (7L, gy(0.45f)))
      .toDF("vec_id", "embedding")
    // smallest two B ids are one per group -> the 2-centroid codebook
    // lands one centroid in each group
    val sideB = Seq(
      (10L, gx(0.05f)), (11L, gy(0.05f)),
      (12L, gx(0.20f)), (13L, gy(0.20f)),
      (14L, gx(0.35f)), (15L, gy(0.35f)),
      (16L, gx(0.50f)), (17L, gy(0.50f)))
      .toDF("vec_id", "embedding")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"),
        r.getAs[Double]("cos"), r.getAs[Double]("a_mean"),
        r.getAs[Double]("b_mean"), r.getAs[Double]("margin"))).toSet
    val ann = rows(VectorOps.bitextMarginAnn(sideA, sideB, k = 2,
      nCentroids = 2))
    val full = rows(VectorOps.bitextMargin(sideA, sideB, k = 2))
    assert(ann.size === 8, "one best match per A vector")
    assert(ann === full,
      s"ANN margin rows diverge: missing=${full -- ann} extra=${ann -- full}")
    // every selected pair stays within its subspace group
    assert(ann.forall { case (a, b, _, _, _, _) =>
      (a < 4) === (b % 2 == 0) })
    spark.catalog.clearCache() // both paths persist their pair frames
  }
}
