package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Text/LLM-data-pipeline operators over a `documents(doc_id, text, lang,
 * source, n_chars)` table — the north-star extension surface (SURVEY.md
 * §2.3). Everything is built from codegen'd built-in functions (no UDFs):
 * tokenization/shingling ride `split`/`transform`, hashes ride `sha2`/`md5`.
 *
 * Scale notes (100 TB):
 *  - exact dedup is a single hash-keyed aggregation — map-side partial
 *    aggregation collapses duplicates before the shuffle;
 *  - near-dup detection is banded MinHash LSH: candidates come from a
 *    shuffle join on (band, band_key) — never an all-pairs cross join —
 *    and only candidate pairs pay the exact-Jaccard verification;
 *  - all per-doc features (tokens, shingles, signatures) are computed
 *    in one pass inside whole-stage codegen.
 */
object TextOps {

  /** Whitespace tokens with empties dropped — the shared tokenizer. */
  def tokens(text: Column): Column =
    filter(split(trim(text), "\\s+"), t => t =!= "")

  /** Word n-grams WITH duplicates kept — the repetition-analysis unit.
    * A single whole-text gram when the doc has fewer than n tokens.
    *
    * Formulated as a zip of n shifted slices rather than
    * `transform(sequence(...), i => slice(toks, ...))`: HOF lambdas are
    * interpreted, and a lambda body referencing `toks` re-evaluates the
    * whole tokenizing `split` PER ELEMENT — O(m²·len) per doc (the
    * SCALE.md subtree-duplication trap). Zip arguments are evaluated
    * once per row, so this is O(n) splits per doc. */
  def ngrams(text: Column, n: Int): Column = {
    val toks = tokens(text)
    val shifted =
      (0 until n).map(j => slice(toks, lit(j + 1), size(toks) - n + 1))
    val joined =
      if (n == 1) toks
      else transform(arrays_zip(shifted: _*),
        s => concat_ws(" ", (0 until n).map(j => s.getField(j.toString)): _*))
    when(size(toks) < n, array(concat_ws(" ", toks))).otherwise(joined)
  }

  /** Distinct word k-shingles; a single whole-text shingle when the doc has
    * fewer than k tokens. */
  def shingles(text: Column, k: Int): Column =
    array_distinct(ngrams(text, k))

  /** Per-shingle hash material: ceil(numHashes/4) md5 digests ("g|shingle")
    * concatenated into one hex string. Each disjoint 8-hex-char chunk of an
    * md5 is an independent 32-bit hash, so `numHashes` minhash functions
    * need only numHashes/4 md5 evaluations per shingle — md5 is the
    * dominant cost of the signature stage (measured 4x). */
  def shingleHashes(sh: Column, numHashes: Int): Column = {
    val nMd5 = (numHashes + 3) / 4
    transform(sh, s => concat((0 until nMd5).map(g =>
      md5(concat(lit(g.toString), lit("|"), s))): _*))
  }

  /** MinHash signature from `shingleHashes` material: element i = min over
    * shingles of the i-th 8-char chunk. String-min over hex chunks is
    * engine-portable (same md5, same collation) — deliberately chosen so
    * external oracles can replicate the signature exactly. Implemented as
    * a single fold carrying a numHashes-wide running-min array (one array
    * allocation per shingle instead of numHashes full passes). */
  def minhashFromHashes(hs: Column, numHashes: Int): Column =
    aggregate(hs,
      array_repeat(lit("￿"), numHashes), // sorts after any hex chunk
      (acc, h) => zip_with(acc, sequence(lit(0), lit(numHashes - 1)),
        (m, i) => least(m, h.substr(i * 8 + 1, lit(8)))))

  /** MinHash signature straight from shingles (hash material inline). */
  def minhashSignature(sh: Column, numHashes: Int): Column =
    minhashFromHashes(shingleHashes(sh, numHashes), numHashes)

  /** LSH band keys: md5 of each `rows`-wide slice of the signature. */
  def bandKeys(sig: Column, bands: Int, rows: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      b => md5(concat_ws("|", slice(sig, b * rows + 1, lit(rows)))))

  /** Exact dedup via content hash: one row per distinct text with the
    * surviving (minimum) doc_id and the duplicate count. */
  def dedupExact(docs: DataFrame): DataFrame =
    docs.groupBy(sha2(col("text"), 256).as("text_sha256"))
      .agg(min(col("doc_id")).cast("long").as("keeper_doc_id"),
        count(lit(1)).cast("long").as("n_copies"))

  /** Cross-corpus exact dedup: documents whose content hash does NOT
    * appear in `reference` — the "drop what the corpus already contains"
    * anti-join (incremental crawl dedup, eval-set removal). One shuffle
    * on the hash; the reference side pre-collapses to distinct hashes so
    * mass-duplicated reference content costs nothing extra. */
  def dedupAgainst(docs: DataFrame, reference: DataFrame): DataFrame =
    docs.select(col("doc_id").cast("long").as("doc_id"),
        sha2(col("text"), 256).as("text_sha256"))
      // null text hashes to null, which a left_anti join would KEEP
      // (null keys never match) while SQL NOT IN drops it — filter
      // explicitly so both engines agree: null-text docs do not survive
      .filter(col("text_sha256").isNotNull)
      .join(reference.select(sha2(col("text"), 256).as("text_sha256"))
        .distinct(), Seq("text_sha256"), "left_anti")
      .select(col("doc_id"))

  /**
   * Exact dedup keeping the BEST copy per content group instead of the
   * smallest id — the real-pipeline variant when duplicates differ in
   * metadata (source reputation, recency): keeper = argmax of `score`,
   * ties broken by smaller doc_id so the result is deterministic.
   * Returns (text_sha256, keeper_doc_id, n_copies, best_score).
   * Same single hash-keyed shuffle as [[dedupExact]] (the window and
   * the count share one partitioning).
   */
  def dedupExactBest(docs: DataFrame, score: Column): DataFrame = {
    val w = Window.partitionBy(col("text_sha256"))
    docs.select(sha2(col("text"), 256).as("text_sha256"),
        col("doc_id").cast("long").as("doc_id"),
        score.cast("double").as("s"))
      .withColumn("n_copies", count(lit(1)).over(w).cast("long"))
      .withColumn("rn", row_number().over(
        w.orderBy(col("s").desc, col("doc_id").asc)))
      .filter(col("rn") === 1)
      .select(col("text_sha256"), col("doc_id").as("keeper_doc_id"),
        col("n_copies"), round(col("s"), 6).as("best_score"))
  }

  /** Canonical-form fingerprint: md5 of the lower-cased, whitespace-
    * collapsed text. Robust to reflow/case-only edits. */
  def fingerprint(docs: DataFrame): DataFrame =
    docs.select(col("doc_id").cast("long").as("doc_id"),
      md5(lower(regexp_replace(trim(col("text")), "\\s+", " "))).as("fp"))

  /**
   * Unicode-NFC-canonicalized corpus: `text` replaced by its NFC form,
   * `changed` = 1 where normalization altered the bytes. The step
   * BEFORE any content hash — composed U+00E9 and decomposed e+U+0301
   * are the same text to a reader but different bytes to
   * sha2/md5/minhash, so an un-normalized corpus under-deduplicates
   * exactly the documents that passed through different editors.
   * Pure narrow map (native codegen'd kernel, allocation-free for
   * already-normalized text); at 100 TB this is a zero-shuffle
   * prefix of the dedup pipeline.
   */
  def normalizeNfc(docs: DataFrame): DataFrame = {
    graft.functions.ensureRegistered(docs.sparkSession)
    val n = graft.functions.nfc_normalize(col("text"))
    docs.withColumn("changed", (n =!= col("text")).cast("int"))
      .withColumn("text", n)
  }

  /**
   * Per-source cardinality report: document count, exact distinct
   * canonical-fingerprint count, and an HLL++ cross-check —
   * `approx_ok` = 1 when Spark's `approx_count_distinct` (mergeable
   * HyperLogLog, rsd 0.05) lands within `tol` relative error of the
   * exact count. The sketch is deterministic, so the flag is a stable
   * hash-checked certification, and the oracle pins the exact columns.
   *
   * Plan shape (100 TB): one aggregation keyed by source. The point of
   * certifying the sketch: dedup planning at corpus scale uses the HLL
   * column ALONE (no distinct-fingerprint expansion in the aggregate
   * buffer — HLL buffers are fixed-size and merge across executors);
   * this report proves the estimate is trustworthy on the same data.
   */
  def cardinalityReport(docs: DataFrame, tol: Double = 0.15): DataFrame =
    docs
      .select(col("source"),
        md5(lower(regexp_replace(trim(col("text")), "\\s+", " "))).as("fp"))
      .groupBy(col("source"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        countDistinct(col("fp")).cast("long").as("n_distinct"),
        approx_count_distinct(col("fp"), 0.05).as("n_approx"))
      .select(col("source"), col("n_docs"), col("n_distinct"),
        (abs(col("n_approx") - col("n_distinct")).cast("double") <=
          col("n_distinct").cast("double") * tol).cast("int").as("approx_ok"))

  /**
   * Per-source length-distribution quantile report with a sketch
   * certification: exact linear-interpolation percentiles of `n_chars`
   * at `ps`, plus `approx_ok` = 1 when the GK-sketch estimate
   * (`percentile_approx`, accuracy `acc`) lands inside the exact
   * [p - rankTol, p + rankTol] value band — i.e. the sketch's rank
   * error is within `rankTol`, certified on the same scan.
   *
   * Plan shape (100 TB): one aggregation keyed by source; both exact
   * and approx percentiles evaluate in the same aggregate pass. At
   * corpus scale the exact percentile's per-group sorted buffer is the
   * cost driver — the certified `percentile_approx` column is the
   * scale path (fixed-size mergeable sketch buffers, like the HLL
   * column in [[cardinalityReport]]), and this report proves on real
   * data that swapping it in keeps rank error within `rankTol`.
   */
  def quantileReport(docs: DataFrame, ps: Seq[Double] = Seq(0.5, 0.9, 0.99),
      rankTol: Double = 0.05, acc: Int = 10000): DataFrame = {
    val psSql = ps.mkString("array(", "D,", "D)")
    // persisted: consumed by both the rank-certification join and the
    // final report join — without it Catalyst re-runs the expensive
    // exact-percentile aggregation (per-group sorted buffers) twice
    val g = docs.groupBy(col("source"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        expr(s"percentile(n_chars, $psSql)").as("ex"),
        expr(s"percentile_approx(n_chars, $psSql, $acc)").as("ap"))
      .transform(graft.operators.Caches.persist(_))
    // Rank-certify: the sketch returns an actual data element, so the
    // check is on the element's OCCUPIED RANK RANGE [lo, hi-1] (0-based,
    // duplicates span a range), which must intersect the target band
    // [p-rankTol, p+rankTol]*(n-1) widened to whole ranks (sub-element
    // bands are meaningless). One extra narrow scan + broadcast join of
    // the |sources|-row report — certification cost, not query cost.
    val rankAggs = ps.indices.map { i =>
      sum(when(col("n_chars") < col("ap").getItem(i), 1L)
        .otherwise(0L)).as(s"lo_$i")
    } ++ ps.indices.map { i =>
      sum(when(col("n_chars") <= col("ap").getItem(i), 1L)
        .otherwise(0L)).as(s"hi_$i")
    }
    val ranks = docs.select(col("source"), col("n_chars"))
      .join(broadcast(g.select(col("source"), col("ap"))), Seq("source"))
      .groupBy(col("source"))
      .agg(rankAggs.head, rankAggs.tail: _*)
    val okCols = ps.indices.map { i =>
      val nm1 = (col("n_docs") - 1).cast("double")
      (col(s"lo_$i").cast("double") <=
        ceil(lit(math.min(1.0, ps(i) + rankTol)) * nm1)) &&
      ((col(s"hi_$i") - 1).cast("double") >=
        floor(lit(math.max(0.0, ps(i) - rankTol)) * nm1))
    }
    g.join(ranks, Seq("source"))
      .select(col("source") +: col("n_docs") +:
        ps.indices.map(i => round(col("ex").getItem(i), 6)
          .as(s"p${(ps(i) * 100).round}")) :+
        okCols.reduce(_ && _).cast("int").as("approx_ok"): _*)
  }

  /**
   * Corpus-level distribution divergence — the drift / mix-shift
   * monitor: add-1-smoothed unigram distributions of two corpora over
   * their JOINT vocabulary, reduced to KL(A||B), KL(B||A) and the
   * bounded symmetric Jensen-Shannon divergence (natural log). One
   * output row — run it between train snapshots, between a new crawl
   * and the curated mix, or between sources, to quantify shift before
   * it reaches training.
   *
   * Scale shape: each corpus contributes ONE token-count aggregation
   * (explode + map-side-combined groupBy); everything after is
   * VOCABULARY-sized — the full-outer vocab join, the 1-row totals
   * broadcast back, and the final scalar reduction (the lmPerplexity
   * family shape; nothing corpus-scale moves twice).
   */
  def corpusDivergence(a: DataFrame, b: DataFrame): DataFrame = {
    def counts(df: DataFrame, nm: String) =
      df.select(explode(tokens(col("text"))).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as(nm))
    val joint = counts(a, "ca").join(counts(b, "cb"), Seq("tok"), "full_outer")
      .select(coalesce(col("ca"), lit(0L)).as("ca"),
        coalesce(col("cb"), lit(0L)).as("cb"))
    val tot = joint.agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"),
      count(lit(1)).as("v"))
    val scored = joint.crossJoin(broadcast(tot))
      .select(col("na"), col("nb"), col("v"),
        ((col("ca") + 1).cast("double") /
          (col("na") + col("v")).cast("double")).as("p"),
        ((col("cb") + 1).cast("double") /
          (col("nb") + col("v")).cast("double")).as("q"))
      .withColumn("m", (col("p") + col("q")) / 2)
      // Each per-token divergence term is rounded into NANO-unit longs
      // before summing: long sums are order-independent, so the result
      // cannot flip its 6dp rounding with partition order (see
      // clusterReport) — and a 1-ulp libm disagreement on ln shifts a
      // term by at most one nano, far inside the 6dp output rounding.
      .select(col("na"), col("nb"), col("v"),
        round((col("p") * log(col("p") / col("q"))) * 1e9, 0).cast("long")
          .as("t_ab"),
        round((col("q") * log(col("q") / col("p"))) * 1e9, 0).cast("long")
          .as("t_ba"),
        round((lit(0.5) * col("p") * log(col("p") / col("m")) +
          lit(0.5) * col("q") * log(col("q") / col("m"))) * 1e9, 0)
          .cast("long").as("t_js"))
    scored.agg(
      max(col("na")).cast("long").as("n_a_tokens"),
      max(col("nb")).cast("long").as("n_b_tokens"),
      max(col("v")).cast("long").as("n_vocab"),
      round(sum(col("t_ab")).cast("double") / 1e9, 6).as("kl_ab"),
      round(sum(col("t_ba")).cast("double") / 1e9, 6).as("kl_ba"),
      round(sum(col("t_js")).cast("double") / 1e9, 6).as("js_div"))
  }

  /**
   * Near-duplicate pairs via banded MinHash LSH + exact-Jaccard verify.
   *
   * Pipeline: shingle -> `numHashes` minhashes -> `bands` band keys ->
   * self-join on (band index, band key) for candidates (doc_a < doc_b) ->
   * distinct -> rejoin shingle sets -> exact Jaccard -> threshold.
   * Returns (doc_a, doc_b, jaccard rounded to 6dp).
   */
  def nearDupPairs(docs: DataFrame, k: Int = 3, numHashes: Int = 12,
      bands: Int = 4, threshold: Double = 0.8,
      maxBucketSize: Int = 0): DataFrame = {
    val rows = numHashes / bands
    require(bands * rows == numHashes, "numHashes must divide into bands")
    graft.functions.ensureRegistered(docs.sparkSession)
    // Shingle sets are reused by banding and both sides of the verify
    // rejoin; persist so they are computed exactly once. The signature is
    // a native expression (one md5 loop per row, see HashExpressions).
    val sh = docs.select(col("doc_id").cast("long").as("doc_id"),
      shingles(col("text"), k).as("sh"))
      .transform(Caches.persist(_))
    val cand = minhashCandidatePairs(sh, numHashes, bands, maxBucketSize)
    cand
      .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        round(size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))), 6).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** The banded-LSH candidate stage shared by [[nearDupPairs]] and
    * [[lshRecallReport]]: `(doc_a < doc_b)` pairs sharing at least one
    * `(band, band_key)` bucket, via a bucket-keyed SELF-JOIN that
    * STREAMS candidates through the shuffle (r19 — the [[simhashPairs]]
    * r18 rewrite applied to its siblings: the previous collect_list +
    * in-row pair expansion materialized B² structs per bucket in a
    * SINGLE row, the exact idiom SCALE.md r18 measured OOMing a
    * 128 GiB JVM at sf10 on a duplicate-heavy corpus; a join emits
    * pairs row-at-a-time, so a flooded bucket costs shuffle, never
    * survival). Both join inputs shuffle on the same (band, band_key)
    * keys from the same cached `sh`, so exchange reuse evaluates the
    * signature subtree once. `maxBucketSize > 0` drops larger buckets
    * outright via a bucket-count window riding the join's own exchange
    * — the 100 TB guard against mass-duplicated boilerplate, whose
    * pairs exact dedup should have collapsed BEFORE near-dup detection
    * (run dedupExact first). Default keeps every bucket (exact recall,
    * the oracle-pinned mode). */
  private[graft] def minhashCandidatePairs(sh: DataFrame, numHashes: Int,
      bands: Int, maxBucketSize: Int): DataFrame = {
    val rows = numHashes / bands
    // the banded frame is CACHED so the self-join's two sides read one
    // materialization — the signature subtree (numHashes md5 rounds per
    // doc, the stage's CPU) evaluates once, exactly like simhashPairs'
    // cached sigs. 4 small rows per doc (MEMORY_AND_DISK, spillable);
    // same plan-lifetime discipline as the sh cache feeding it.
    val banded = Caches.persist(sh.select(col("doc_id"),
      posexplode(bandKeys(
        graft.functions.minhash_signature(col("sh"), numHashes), bands, rows))
        .as(Seq("band", "band_key"))))
    val capped =
      if (maxBucketSize <= 0) banded
      else banded.withColumn("bn", count(lit(1)).over(
          Window.partitionBy(col("band"), col("band_key"))))
        .filter(col("bn") <= maxBucketSize).drop("bn")
    capped.as("a").join(capped.as("b"),
        col("a.band") === col("b.band") &&
          col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /**
   * LSH banding-theory certification — the [[VectorOps.annRecall]] /
   * `pqRecall` analog for the TEXT dedup path: empirical candidate
   * recall of the banded-MinHash stage per exact-Jaccard bucket,
   * against the S-curve the banding theorem predicts
   * (`P(candidate) = 1 − (1 − s^rows)^bands`). The number that answers
   * "will (bands, rows) catch my 0.8-Jaccard duplicates?" BEFORE a
   * corpus-scale run — run it on a sample, read the bucket where
   * recall must be ~1, ship the parameters.
   *
   * Ground truth: every pair sharing ≥ 1 shingle, exact Jaccard via
   * the inverted-index posting join (pairs sharing nothing have
   * Jaccard 0 and are irrelevant to recall). One row per Jaccard
   * decile `bucket = least(ceil(j·10), 10)`: exact pair/caught counts,
   * `recall` (6dp), and `theory` at the bucket midpoint — the theory
   * column uses only multiplication (integer powers unrolled), so both
   * engines produce identical bits.
   *
   * Certification-scale only by design: exact ground truth pays the
   * posting join (Σ|postings|² work). The production candidate
   * generator it certifies stays banded/capped.
   */
  def lshRecallReport(docs: DataFrame, k: Int = 3, numHashes: Int = 12,
      bands: Int = 4): DataFrame = {
    val rows = numHashes / bands
    require(bands * rows == numHashes, "numHashes must divide into bands")
    graft.functions.ensureRegistered(docs.sparkSession)
    val sh = Caches.persist(docs.select(
      col("doc_id").cast("long").as("doc_id"),
      shingles(col("text"), k).as("sh")))
    val sizes = sh.select(col("doc_id"), size(col("sh")).as("n"))
    val posting = sh.select(col("doc_id"), explode(col("sh")).as("g"))
    val truth = posting.select(col("g"), col("doc_id").as("doc_a"))
      .join(posting.select(col("g"), col("doc_id").as("doc_b")), Seq("g"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("shared"))
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")),
        "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")),
        "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (col("shared").cast("double") /
          (col("na") + col("nb") - col("shared"))).as("j"))
    val cand = minhashCandidatePairs(sh, numHashes, bands, 0)
      .withColumn("caught", lit(1L))
    val bucketed = truth
      .join(cand, Seq("doc_a", "doc_b"), "left")
      .select(least(ceil(col("j") * 10), lit(10)).cast("int").as("bucket"),
        coalesce(col("caught"), lit(0L)).as("caught"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("caught")).as("n_caught"))
    // theory at the bucket midpoint s: 1 - (1 - s^rows)^bands with the
    // integer powers UNROLLED as products — bit-identical across engines
    def pow(c: Column, e: Int): Column =
      (1 until e).foldLeft(c)((acc, _) => acc * c)
    val s = (col("bucket").cast("double") - 0.5) / 10.0
    bucketed.select(col("bucket"), col("n_pairs"), col("n_caught"),
      round(col("n_caught").cast("double") / col("n_pairs"), 6)
        .as("recall"),
      round(lit(1.0) - pow(lit(1.0) - pow(s, rows), bands), 6)
        .as("theory"))
  }

  /**
   * Cross-corpus fuzzy near-dup: MinHash-banded candidate join between
   * a training corpus and a REFERENCE corpus (eval benchmark, an
   * earlier crawl, a licensed set), exact-Jaccard verified — the fuzzy
   * counterpart of [[dedupAgainst]] (exact hash anti-join) and
   * [[contamination]] (shared-n-gram counts): it catches paraphrased /
   * lightly-edited overlap neither of those flags. Returns
   * `(doc_id, ref_id, jaccard)` for every cross pair with
   * jaccard >= threshold.
   *
   * Scale shape: both corpora shuffle ONCE on (band, band_key) — an
   * equi-join, never a cross product; candidates are verified by a
   * shingle-set rejoin exactly like [[nearDupPairs]]. `maxBucketSize`
   * > 0 drops reference-side buckets larger than the cap (boilerplate
   * banding keys that would fan every matching train doc out against
   * them); the default keeps all (exact-recall, oracle-pinned mode).
   * Signatures are the native [[graft.functions.minhash_signature]]
   * kernel; both shingle frames persist for the plan's lifetime.
   */
  def nearDupAgainst(docs: DataFrame, reference: DataFrame, k: Int = 3,
      numHashes: Int = 12, bands: Int = 4, threshold: Double = 0.8,
      maxBucketSize: Int = 0): DataFrame = {
    val rows = numHashes / bands
    require(bands * rows == numHashes, "numHashes must divide into bands")
    graft.functions.ensureRegistered(docs.sparkSession)
    def shingled(d: DataFrame): DataFrame =
      d.select(col("doc_id").cast("long").as("doc_id"),
        shingles(col("text"), k).as("sh"))
        .transform(Caches.persist(_))
    def banded(sh: DataFrame): DataFrame =
      sh.select(col("doc_id"),
        posexplode(bandKeys(
          graft.functions.minhash_signature(col("sh"), numHashes),
          bands, rows)).as(Seq("band", "band_key")))
    val shDocs = shingled(docs)
    val shRef = shingled(reference)
    val bandedRef = banded(shRef)
      .select(col("doc_id").as("ref_id"), col("band"), col("band_key"))
    val refOk =
      if (maxBucketSize <= 0) bandedRef
      else {
        val keep = bandedRef.groupBy(col("band"), col("band_key"))
          .agg(count(lit(1)).as("bn"))
          .filter(col("bn") <= maxBucketSize)
          .select(col("band"), col("band_key"))
        bandedRef.join(keep, Seq("band", "band_key"))
      }
    val cand = banded(shDocs).join(refOk, Seq("band", "band_key"))
      .select(col("doc_id"), col("ref_id")).distinct()
    cand
      .join(shDocs.select(col("doc_id"), col("sh").as("sh_d")), Seq("doc_id"))
      .join(shRef.select(col("doc_id").as("ref_id"), col("sh").as("sh_r")),
        Seq("ref_id"))
      .select(col("doc_id"), col("ref_id"),
        round(size(array_intersect(col("sh_d"), col("sh_r"))).cast("double") /
          size(array_union(col("sh_d"), col("sh_r"))), 6).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /**
   * Persisted MinHash-LSH INDEX build — the incremental-ingest
   * counterpart of [[nearDupAgainst]]. A daily pipeline deduplicates
   * each new crawl increment against the ACCUMULATED corpus;
   * re-shingling and re-signing 100 TB of reference text per increment
   * is the bottleneck [[nearDupAgainst]] cannot avoid (both sides of
   * its band join are computed from raw text at call time). This
   * operator pays the reference-side work ONCE, writing the shared LSH
   * layout ([[writeLshIndex]]) with
   *
   *  - `path/bands` — `(ref_id, band, band_key, bn)`, the bucket key
   *    `band_key` (md5 of a signature slice) hashed into `part`;
   *  - `path/shingles` — `(ref_id, sh)`, the payload: the shingle sets
   *    the verification stage intersects (fetched for matched
   *    candidates only, never scanned for scoring) and the retune's
   *    input;
   *  - `path/params` — a 1-row manifest `(k, num_hashes, bands,
   *    n_parts)`. Band keys are md5 of signature slices, so a
   *    k/numHashes/bands mismatch between build and query would
   *    SILENTLY yield zero matches — duplicates sailing through a
   *    dedup gate with no error. [[nearDupAgainstIndex]] and
   *    [[appendToMinhashIndex]] therefore `require` manifest equality
   *    and fail loud instead (ADVICE r13).
   *
   * Build cost: one pass over the reference text (shingle + native
   * minhash signature inside codegen), one shuffle keyed by
   * (band, band_key) for the bucket-size window, and one `part`-keyed
   * shuffle clustering the partition layout. Queries then run with
   * ZERO reference-side text work — see [[nearDupAgainstIndex]] — and
   * daily increments join the index WITHOUT re-signing the corpus —
   * see [[appendToMinhashIndex]].
   */
  def buildMinhashIndex(reference: DataFrame, path: String, k: Int = 3,
      numHashes: Int = 12, bands: Int = 4, nParts: Int = 64): Unit = {
    val rows = numHashes / bands
    require(bands * rows == numHashes, "numHashes must divide into bands")
    require(nParts >= 1, "buildMinhashIndex: nParts must be >= 1")
    graft.functions.ensureRegistered(reference.sparkSession)
    writeMinhashIndex(minhashShingles(reference, k), path, k, numHashes,
      bands, nParts)
  }

  /** The persisted `(ref_id, sh)` shingle frame of `docs`. */
  private def minhashShingles(docs: DataFrame, k: Int): DataFrame =
    Caches.persist(docs.select(col("doc_id").cast("long").as("ref_id"),
      shingles(col("text"), k).as("sh")))

  /** The band rows `(ref_id, band, band_key, part)` of a shingle frame;
    * `part` hashes the band key. */
  private def minhashBands(sh: DataFrame, numHashes: Int, bands: Int,
      nParts: Int): DataFrame =
    sh.select(col("ref_id"),
        posexplode(bandKeys(
          graft.functions.minhash_signature(col("sh"), numHashes),
          bands, numHashes / bands)).as(Seq("band", "band_key")))
      .withColumn("part", LayoutOps.hashPart(nParts, col("band_key")))

  /** The MinHash index of a shingle frame, written by the build and the
    * retune alike. */
  private def writeMinhashIndex(sh: DataFrame, path: String, k: Int,
      numHashes: Int, bands: Int, nParts: Int): Unit =
    writeLshIndex(path, minhashBands(sh, numHashes, bands, nParts),
      "band_key", sh, "shingles", "k" -> k, "num_hashes" -> numHashes,
      "bands" -> bands, "n_parts" -> nParts)

  /** Manifest equality gate shared by every index CONSUMER (batch and
    * streaming): band keys are md5 of signature slices, so mismatched
    * parameters return zero matches silently — refused loudly here. */
  private[graft] def requireIndexParams(spark: SparkSession, path: String,
      k: Int, numHashes: Int, bands: Int, op: String): Unit = {
    val (bk, bnh, bb, _) = minhashIndexParams(spark, path)
    require(bk == k && bnh == numHashes && bb == bands,
      s"$op: index at $path was built with (k=$bk, numHashes=$bnh, " +
        s"bands=$bb) but queried with (k=$k, numHashes=$numHashes, " +
        s"bands=$bands) — a mismatch returns zero matches silently, " +
        "so it is refused")
  }

  /** Manifest reader shared by the index consumers, read on the
    * driver with no Spark job ([[LayoutOps.indexRows]]); raises with a
    * build-vs-query explanation when the manifest is absent. */
  private def minhashIndexParams(spark: SparkSession,
      path: String): (Int, Int, Int, Int) = {
    val r = LayoutOps.manifestRows(spark, path, "params", "minhash",
      "params manifest — rebuild with buildMinhashIndex (a parameter " +
        "mismatch between build and query silently returns zero " +
        "matches, so unverifiable indexes are refused)").head
    (r.getAs[Int]("k"), r.getAs[Int]("num_hashes"),
      r.getAs[Int]("bands"), r.getAs[Int]("n_parts"))
  }

  /**
   * INCREMENTAL index append: the daily pipeline the index exists for
   * deduplicates increment N against the accumulated corpus, then adds
   * increment N's KEEPERS to the index for increment N+1 without
   * re-shingling or re-signing the corpus. The increment is shingled
   * and signed (increment-sized work) with the parameters FROM the
   * manifest, so an append cannot mismatch the build, and joins the
   * index through the shared LSH append ([[appendLshBands]]: only the
   * touched part directories are re-read and rewritten, bn stays
   * exact, replays converge). Crash order: `shingles` first, `bands`
   * second; the retry's duplicate shingle rows are byte-identical, and
   * [[nearDupAgainstIndex]] deduplicates its output (candidate-bounded,
   * never corpus-scale), so a recovered index answers queries
   * identically to a fresh rebuild. The `near_dup_index_incr` registry
   * row hash-certifies build+append == full-rebuild query results.
   */
  def appendToMinhashIndex(newDocs: DataFrame, path: String): Unit = {
    val spark = newDocs.sparkSession
    val (k, numHashes, bands, nParts) = minhashIndexParams(spark, path)
    graft.functions.ensureRegistered(spark)
    val sh = minhashShingles(newDocs, k)
    appendLshBands(path, minhashBands(sh, numHashes, bands, nParts),
      "band_key", sh, "shingles")
  }

  /**
   * RE-TUNE rebuild of a [[buildMinhashIndex]] index — the fourth
   * index family's lifecycle half (r17), and the one with a retune
   * story the others lack: the index STORES its shingle sets, so the
   * LSH banding can be re-parameterized (`numHashes`/`bands` — the
   * recall/precision dial [[lshRecallReport]] tunes; also `nParts`
   * re-fanning) WITHOUT re-reading or re-tokenizing the corpus text.
   * The LIVE generation's stored shingles, deduplicated by ref_id
   * (purging rows a crashed-and-replayed append duplicated — the repair
   * half), go through the build's own writer, so bands rewrite in the
   * pristine build layout with bn recomputed globally, and the whole
   * new index publishes as a NEW generation of the pointer
   * root `root` ([[graft.operators.LayoutOps.withPointerGeneration]];
   * every crash window leaves the old generation serving). Readers
   * resolve the live generation via
   * [[graft.operators.LayoutOps.resolveIndexPointer]] and must pass
   * the NEW parameters after a retune ([[requireIndexParams]] refuses
   * mismatches loudly, as always).
   *
   * What it cannot change: `k` — shingles are stored already
   * k-shingled, so a different shingle width needs a fresh
   * [[buildMinhashIndex]] from text (stated here rather than
   * silently recomputing wrong). Not concurrency-safe with appends:
   * serialize maintenance per index root.
   */
  def rebuildMinhashIndexPointer(spark: SparkSession, root: String,
      numHashes: Int = 0, bands: Int = 0, nParts: Int = 0): Unit = {
    val live = LayoutOps.resolveIndexPointer(spark, root)
    val (k, bNh, bBands, bNp) = minhashIndexParams(spark, live)
    val nh = if (numHashes > 0) numHashes else bNh
    val bb = if (bands > 0) bands else bBands
    val np = if (nParts > 0) nParts else bNp
    require(nh % bb == 0,
      "rebuildMinhashIndexPointer: numHashes must divide into bands")
    graft.functions.ensureRegistered(spark)
    val sh = Caches.persist(LayoutOps.indexScan(spark, s"$live/shingles")
      .dropDuplicates(Seq("ref_id")))
    try LayoutOps.withPointerGeneration(spark, root)(gen =>
      writeMinhashIndex(sh, gen, k, nh, bb, np))
    finally sh.unpersist(false)
  }

  // --- the LSH band layout, shared by the MinHash and SimHash indexes ---
  //
  // Both write `path/bands`: one row per (doc, band) carrying the band
  // number, the family's bucket key (`band_key` / `chunk`), the doc's
  // `ref_id` and `bn`, the bucket size, precomputed so a query-time
  // boilerplate-bucket cap is a pushed parquet predicate rather than a
  // per-query aggregation. `part` hashes the whole bucket, so an
  // increment's bn maintenance touches exactly the part directories its
  // buckets hash to ([[LayoutOps.writeParts]] has the layout). Beside
  // the bands sits the per-doc payload table the band rows are derived
  // from (`shingles` / `sigs`, the retune's complete input) and the
  // `params` manifest.

  /** `banded` with its bucket sizes `bn`. */
  private def withBucketSizes(banded: DataFrame, key: String): DataFrame =
    banded.withColumn("bn", count(lit(1)).over(
      Window.partitionBy(col("band"), col(key))).cast("int"))

  /** Writes an LSH index into `path` from its payload frame `payload`
    * `(ref_id, ...)` and that frame's band rows `banded` (carrying
    * `part`): the bands in the part layout, the payload table `table`,
    * then the manifest. */
  private def writeLshIndex(path: String, banded: DataFrame, key: String,
      payload: DataFrame, table: String, manifest: (String, Int)*): Unit = {
    LayoutOps.writeParts(withBucketSizes(banded, key), s"$path/bands", key)
    payload.write.mode("overwrite").parquet(s"$path/$table")
    LayoutOps.writeManifest(payload.sparkSession, s"$path/params",
      manifest: _*)
  }

  /**
   * The incremental append of both LSH indexes, touching only the part
   * directories the increment's band rows `inc` hash to:
   *
   *  1. the touched `part` set is the increment's distinct parts (at
   *     most n_parts values, a bounded driver collect);
   *  2. only those partitions of `path/bands` are re-read (partition
   *     pruning: the scan never opens an untouched directory), `bn` is
   *     recomputed over base ∪ increment (bucket sizes change only where
   *     the increment collides, and recomputing an unchanged bucket's bn
   *     is idempotent), and just the touched partitions are overwritten
   *     (dynamic partition overwrite);
   *  3. the increment's `payload` rows are appended to `path/table`.
   *
   * The merged rows are local-checkpointed before the write: the plan
   * reads the files the overwrite replaces, so it materializes first.
   * After any number of appends the index is row-identical to a fresh
   * build over the full corpus (spec-pinned).
   *
   * Crash order: the two writes cannot be atomic together, so the
   * payload goes first. A crash between them leaves docs with a payload
   * but no band rows, which are merely invisible (they never surface as
   * candidates: no bn inflation, no wrong scores), and the natural retry
   * completes the append. The inverse order would inflate bn silently on
   * replay, and band rows whose payload is missing would vanish at the
   * next retune. The replay's duplicate payload rows are byte-identical:
   * the queries' candidate-bounded dedup absorbs them and the retune's
   * ref_id dedup purges them. A crash inside the dynamic overwrite's
   * commit (per-partition renames are not atomic) can leave some touched
   * partitions already holding the increment's rows; a valid index has
   * exactly one row per (ref_id, band), so a lag flag over the bn
   * window's own partitioning drops them (`part` is a function of the
   * bucket, so within one bucket equal ref_ids ARE the duplicates, and
   * the ref_id order makes them adjacent): one exchange serves both the
   * dedup and the bn count, and the dedup is a no-op on clean appends.
   * The `<=>` test treats equal NULL ref_ids as duplicates, and the
   * row_number guard keeps a NULL group's first row.
   *
   * Cost is increment-sized plus the touched partitions' re-read and
   * re-write, never corpus-sized (size `nParts` at build time so one
   * part is one comfortable task). Not concurrency-safe: serialize
   * appends per index path. Repeated appends accumulate one file set per
   * increment; [[LayoutOps.compactParquet]] compacts in place.
   */
  private def appendLshBands(path: String, inc: DataFrame, key: String,
      payload: DataFrame, table: String): Unit = {
    val spark = inc.sparkSession
    val incP = Caches.persist(inc)
    val touched = incP.select(col("part")).distinct()
      .collect().map(_.getInt(0)).sorted // bounded by n_parts
    val base = touchedBandPartitions(spark, path, touched)
      .select(incP.columns.map(col): _*) // stale bn dropped, recomputed
    val wOrd = Window.partitionBy(col("band"), col(key))
      .orderBy(col("ref_id").asc)
    val deduped = incP.unionByName(base)
      .withColumn("dupb", row_number().over(wOrd) > 1 &&
        (col("ref_id") <=> lag(col("ref_id"), 1).over(wOrd)))
      .filter(!col("dupb"))
      .drop("dupb")
    val merged = LayoutOps.writeParts(withBucketSizes(deduped, key),
      s"$path/bands", key, mode = "dynamic", stage = { laid =>
        val m = Caches.localCheckpoint(laid) // BEFORE overwriting the source
        payload.write.mode("append").parquet(s"$path/$table")
        m
      })
    Caches.release(merged)
    incP.unpersist(false)
    payload.unpersist(false)
  }

  /** The append's base read, factored out so PlanSpec can pin that an
    * increment's bn maintenance PRUNES to the touched partition
    * directories (the scan's PartitionFilters carry the `part` set;
    * untouched dirs are never opened). */
  private[graft] def touchedBandPartitions(spark: SparkSession,
      path: String, touched: Seq[Int]): DataFrame =
    LayoutOps.indexScan(spark, s"$path/bands")
      .filter(col("part").isin(touched.map(Integer.valueOf): _*))

  /**
   * Query a NEW batch against a [[buildMinhashIndex]] index: same
   * output contract as [[nearDupAgainst]] — `(doc_id, ref_id,
   * jaccard)` for every cross pair with jaccard >= threshold — but the
   * reference corpus is never re-read as text. `k`/`numHashes`/`bands`
   * must match the build — and because a mismatch would SILENTLY yield
   * zero matches (band keys are md5 of signature slices — duplicates
   * passing undetected through a dedup gate), the index's params
   * manifest is checked and a mismatch RAISES (ADVICE r13).
   *
   * Scale shape: the new batch (an increment — small relative to the
   * corpus by construction) shingles and bands map-side, then ONE
   * equi-join on (band, band_key) against the bands table; the
   * optimizer picks broadcast when the increment is small (not
   * forced — the [[domainCap]] lesson: a caller CAN pass a huge
   * batch, and a forced broadcast would OOM). `maxBucketSize > 0`
   * becomes a PUSHED parquet predicate on the precomputed `bn` column
   * — boilerplate buckets are skipped at scan time via row-group
   * stats, no aggregation job. Verification fetches shingle sets for
   * the candidate ref_ids only.
   */
  def nearDupAgainstIndex(docs: DataFrame, path: String, k: Int = 3,
      numHashes: Int = 12, bands: Int = 4, threshold: Double = 0.8,
      maxBucketSize: Int = 0): DataFrame = {
    val rows = numHashes / bands
    require(bands * rows == numHashes, "numHashes must divide into bands")
    val spark = docs.sparkSession
    requireIndexParams(spark, path, k, numHashes, bands,
      "nearDupAgainstIndex")
    graft.functions.ensureRegistered(spark)
    val shDocs = Caches.persist(docs.select(
      col("doc_id").cast("long").as("doc_id"),
      shingles(col("text"), k).as("sh")))
    val idx = LayoutOps.indexScan(spark, s"$path/bands")
    val refOk =
      if (maxBucketSize <= 0) idx
      else idx.filter(col("bn") <= maxBucketSize)
    val cand = shDocs
      .select(col("doc_id"),
        posexplode(bandKeys(
          graft.functions.minhash_signature(col("sh"), numHashes),
          bands, rows)).as(Seq("band", "band_key")))
      .join(refOk, Seq("band", "band_key"))
      .select(col("doc_id"), col("ref_id")).distinct()
    val shRef = LayoutOps.indexScan(spark, s"$path/shingles")
    cand
      .join(shDocs.select(col("doc_id"), col("sh").as("sh_d")), Seq("doc_id"))
      .join(shRef.select(col("ref_id"), col("sh").as("sh_r")), Seq("ref_id"))
      .select(col("doc_id"), col("ref_id"),
        round(size(array_intersect(col("sh_d"), col("sh_r"))).cast("double") /
          size(array_union(col("sh_d"), col("sh_r"))), 6).as("jaccard"))
      .filter(col("jaccard") >= threshold)
      // candidate-bounded (matched pairs only, never corpus-scale):
      // absorbs the byte-identical duplicate shingle rows a crashed-
      // then-retried append leaves behind (appendToMinhashIndex crash
      // semantics) — a no-op on a cleanly-built index. Pair-key dedup,
      // not 3-column distinct: jaccard is a set function of the pair
      // (replayed rows carry identical values), and keeping it out of
      // the grouping keys shrinks the exchange (see simhashAgainstIndex)
      .dropDuplicates(Seq("doc_id", "ref_id"))
  }

  /**
   * EXACT n-gram-Jaccard near-dup pairs via an inverted index on word
   * k-shingles — the classic distributed set-similarity join. Unlike
   * MinHash/SimHash banding there are no probabilistic candidate misses:
   * every pair sharing at least one shingle is scored, and the Jaccard
   * comes from posting-list counts alone (|A∩B| = shared postings,
   * |A∪B| = |A| + |B| - |A∩B|) — no second join back to the shingle sets.
   *
   * Plan shape (r20, exact mode): PPJoin-style prefix filtering
   * (Chaudhuri/Ganti/Kaushik 2006 "A Primitive Operator for Similarity
   * Joins"; Xiao et al. 2008 "Efficient Similarity Joins for Near
   * Duplicate Detection") — candidates come from a self-join on each
   * document's PREFIX postings only (the first |A| − ⌈t·|A|⌉ + c
   * shingles under a global canonical order: document frequency
   * ascending, shingle ascending) and must share at least
   * min(c, ⌈t·max(|A|,|B|)⌉) prefix elements; survivors are verified
   * exactly against the full cached shingle sets. The generalized
   * prefix-filter lemma guarantees zero missed pairs: two sets with
   * overlap ≥ o share at least c elements inside their
   * (len − o + c)-prefixes under any common total order, and J ≥ t
   * forces o ≥ ⌈t·max(|A|,|B|)⌉.
   * Ordering by df ascending puts the QUADRATIC postings (stopword-like
   * shingles shared by every boilerplate doc) at the END of every
   * document, where the prefix cut removes them — join cost drops from
   * Σ|postings|² to Σ|prefix postings|², which is what makes the exact
   * mode feasible at scale (r19 measured the unfiltered exact join
   * exhausting ~230 GB of shuffle spill at sf10). A length filter
   * (t·max ≤ min, a necessary condition for J ≥ t) rides the join
   * condition. `maxPostings` > 0 keeps the r18/r19 capped mode
   * unchanged (drop shingles above the cap, count shared postings
   * directly): its Jaccard is computed from SURVIVING postings, which
   * a set-verification pass cannot reproduce — and that approximate
   * algebra is oracle-pinned.
   *
   * Like the sibling near-dup operators, the shingle frame and the
   * prefix/capped posting frame stay persisted for the lifetime of the
   * returned (lazy) plan — long-lived sessions should
   * `spark.catalog.clearCache()` when done with it.
   */
  def ngramJaccardPairs(docs: DataFrame, k: Int = 3, threshold: Double = 0.8,
      maxPostings: Int = 0): DataFrame =
    ngramJaccardPairsImpl(docs, k, threshold, maxPostings)._1

  /** [[ngramJaccardPairs]] plus its internally persisted frames (the
    * shingle frame and the prefix/capped posting frame), for EAGER
    * callers (nearDupClusters) that can unpersist them once the pair
    * graph is materialized. */
  private def ngramJaccardPairsImpl(docs: DataFrame, k: Int,
      threshold: Double, maxPostings: Int): (DataFrame, Seq[DataFrame]) = {
    // persist the shingle frame: without the barrier, projection collapse
    // inlines the interpreted shingle HOF tree into BOTH the size() and
    // the explode() branches (the SCALE.md subtree-duplication trap)
    val sh = docs.select(col("doc_id").cast("long").as("doc_id"),
      shingles(col("text"), k).as("sh"))
      .transform(Caches.persist(_))
    val postings = sh.select(col("doc_id"), size(col("sh")).as("n_sh"),
      explode(col("sh")).as("shingle"))
    // pair generation is a posting-keyed SELF-JOIN (r19 — the
    // simhashPairs r18 rewrite: the previous collect_list + in-row
    // pair expansion put the full B² pair set of a posting list inside
    // ONE row, the idiom SCALE.md r18 measured OOMing a 128 GiB JVM on
    // a duplicate-heavy corpus; the join streams them).
    if (maxPostings <= 0) {
      // EXACT mode (r20): PPJoin prefix filter — see the operator doc.
      // Canonical order = (document frequency asc, shingle asc): the df
      // window rides the postings' shingle exchange, the rank window
      // re-keys by doc. C-PREFIX extension (the generalized prefix
      // lemma): if |A∩B| ≥ o then the (len − o + c)-prefixes share at
      // least c elements — the c-th smallest shared element sits at
      // position ≤ len − o + c in both sets. So prefixes are extended
      // by c−1 elements and a candidate must share ≥ min(c, ⌈t·max⌉)
      // of them — the count rides the exchange the pair dedup already
      // pays (groupBy instead of distinct), and it is what keeps the
      // candidate set verification-sized on corpora whose df is too
      // uniform for a 1-element prefix to discriminate (a 30-word-vocab
      // GenSf corpus at sf10 produced 6.6e8 single-element candidates;
      // sharing ≥2 rare-end elements collapses the accidental ones
      // quadratically while every true pair keeps ≥ c by the lemma).
      // Prefix length |A| − ⌈t·|A|⌉ + c; the ceil gets a 1e-9 slack
      // DOWNWARD so binary-fp noise in t·|A| can only ever LENGTHEN a
      // prefix (a longer prefix adds candidates the verify step
      // discards; a shorter one would silently drop true pairs — e.g.
      // t=0.8, |A|=5: 0.8*5 computes as 4.0000000000000002, whose raw
      // ceil is 5, cutting the prefix one element short).
      val c = 2
      val prefix = postings
        .withColumn("df", count(lit(1)).over(
          Window.partitionBy(col("shingle"))))
        .withColumn("pos", row_number().over(Window.partitionBy(col("doc_id"))
          .orderBy(col("df"), col("shingle"))))
        .filter(col("pos") <=
          col("n_sh") - ceil(lit(threshold) * col("n_sh") - lit(1e-9)) + c)
        .select(col("doc_id"), col("n_sh"), col("shingle"))
        // persisted: BOTH candidate-join sides read this frame — without
        // the barrier the explode + two windows evaluate twice (the r19
        // near_dup_ngram residual wall: the doubled shingle explode)
        .transform(Caches.persist(_))
      // candidate pairs: prefix-posting equi-join + the length filter
      // (J ≥ t ⟹ t·max(|A|,|B|) ≤ min(|A|,|B|); same 1e-9 slack so the
      // fp product can only ADMIT a boundary pair, never reject one —
      // |A|=5, |B|=4, t=0.8 is a legal J=0.8 pair sitting exactly on
      // it), then the c-prefix count filter: a qualifying pair's
      // guaranteed shared-prefix count is min(c, o_min) with o_min =
      // ⌈t·max(|A|,|B|)⌉ (the lemma needs o ≥ c; docs with fewer than
      // c/t shingles can only promise o_min)
      val cand = prefix.as("a").join(prefix.as("b"),
          col("a.shingle") === col("b.shingle") &&
            col("a.doc_id") < col("b.doc_id") &&
            col("b.n_sh") >= col("a.n_sh") * lit(threshold) - lit(1e-9) &&
            col("a.n_sh") >= col("b.n_sh") * lit(threshold) - lit(1e-9))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          col("a.n_sh").as("na"), col("b.n_sh").as("nb"))
        .groupBy(col("doc_a"), col("doc_b"), col("na"), col("nb"))
        .agg(count(lit(1)).as("pshared"))
        .filter(col("pshared") >= least(lit(c),
          ceil(lit(threshold) * greatest(col("na"), col("nb")) - lit(1e-9))))
        .select(col("doc_a"), col("doc_b"))
      // verify candidates EXACTLY against the full cached shingle sets
      // (the [[nearDupAgainstIndex]] idiom): |A∩B| / |A∪B| over distinct
      // arrays is integer-identical to the old posting-count algebra
      // (shared / (na + nb − shared)), so rounding and threshold
      // comparison are bit-for-bit the r19 results
      val out = cand
        .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")),
          Seq("doc_a"))
        .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")),
          Seq("doc_b"))
        .select(col("doc_a"), col("doc_b"),
          round(size(array_intersect(col("sh_a"), col("sh_b")))
            .cast("double") /
            size(array_union(col("sh_a"), col("sh_b"))), 6).as("jaccard"))
        .filter(col("jaccard") >= threshold)
      (out, Seq(sh, prefix))
    } else {
      // CAPPED mode (unchanged r19 algebra): the frequency cap rides the
      // join's own shingle exchange as a count window. Persisted (r20):
      // both join sides read the capped frame, so the explode + cap
      // window evaluate once (previously twice — the r19 documented
      // residual wall cost of the streaming conversion).
      val capped = postings.withColumn("pn", count(lit(1)).over(
          Window.partitionBy(col("shingle"))))
        .filter(col("pn") <= maxPostings).drop("pn")
        .transform(Caches.persist(_))
      val out = capped.as("a").join(capped.as("b"),
          col("a.shingle") === col("b.shingle") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          col("a.n_sh").as("na"), col("b.n_sh").as("nb"))
        .groupBy(col("doc_a"), col("doc_b"), col("na"), col("nb"))
        .agg(count(lit(1)).as("shared"))
        .select(col("doc_a"), col("doc_b"),
          round(col("shared").cast("double") /
            (col("na") + col("nb") - col("shared")), 6).as("jaccard"))
        .filter(col("jaccard") >= threshold)
      (out, Seq(sh, capped))
    }
  }

  /**
   * Gopher-style repetition quality signals per document (Rae et al. 2021,
   * "Scaling Language Models" §A1.1 repetition filters, re-expressed with
   * deterministic closed forms): over word n-grams,
   *  - `dup_gram_frac`  = fraction of n-gram OCCURRENCES that are repeats
   *    (1 - distinct/total);
   *  - `dup_char_frac`  = fraction of n-gram characters inside n-grams that
   *    occur more than once;
   *  - `top_char_frac`  = largest character mass any single n-gram covers.
   * All three are scalar aggregates of the per-(doc, gram) count table, so
   * no argmax tie-break is needed anywhere — every output is replicable
   * bit-for-bit by an external SQL engine.
   *
   * Plan shape (100 TB): one explode + one hash aggregation keyed
   * (doc_id, gram) with map-side partial aggregation, then a per-doc
   * reaggregation — two shuffles, both on high-cardinality keys, no joins.
   */
  /**
   * Train/eval n-gram coverage — the train-test overlap statistic
   * evaluation papers report: per eval document, the fraction of its
   * DISTINCT word n-grams that appear ANYWHERE in the train corpus.
   * [[contamination]] finds which train doc leaked into which eval
   * doc; this measures aggregate memorization exposure even when no
   * single train doc crosses the pairwise threshold.
   *
   * Scale shape: the train side collapses to distinct grams (one
   * aggregation, map-side combine); the eval side's grams LEFT
   * SEMI-match via an equi-join on the gram; one per-doc rollup.
   * No doc x doc pairing anywhere, so cost is gram-cardinality-bound.
   */
  def ngramCoverage(train: DataFrame, eval: DataFrame, n: Int = 3): DataFrame = {
    val trainGrams = train
      .select(explode(shingles(col("text"), n)).as("gram")).distinct()
    val evalGrams = eval.select(col("doc_id").cast("long").as("doc_id"),
      explode(shingles(col("text"), n)).as("gram"))
    evalGrams
      .join(trainGrams.withColumn("hit", lit(1L)), Seq("gram"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_grams"),
        sum(coalesce(col("hit"), lit(0L))).cast("long").as("n_covered"))
      .select(col("doc_id"), col("n_grams"), col("n_covered"),
        round(col("n_covered").cast("double") / col("n_grams"), 6)
          .as("coverage"))
  }

  def repetitionStats(docs: DataFrame, n: Int = 2): DataFrame = {
    val counts = docs.select(col("doc_id").cast("long").as("doc_id"),
        explode(ngrams(col("text"), n)).as("gram"))
      .groupBy(col("doc_id"), col("gram"))
      .agg(count(lit(1)).as("cnt"))
    val charsAll = col("chars_all").cast("double")
    counts.groupBy(col("doc_id")).agg(
        sum(col("cnt")).cast("long").as("n_grams"),
        count(lit(1)).cast("long").as("n_distinct"),
        sum(col("cnt") * length(col("gram"))).as("chars_all"),
        sum(when(col("cnt") > 1, col("cnt") * length(col("gram")))
          .otherwise(lit(0L))).as("chars_dup"),
        max(col("cnt") * length(col("gram"))).as("top_cover"))
      .select(col("doc_id"), col("n_grams"), col("n_distinct"),
        round((col("n_grams") - col("n_distinct")).cast("double") /
          col("n_grams"), 6).as("dup_gram_frac"),
        when(col("chars_all") === 0, lit(0.0))
          .otherwise(round(col("chars_dup") / charsAll, 6)).as("dup_char_frac"),
        when(col("chars_all") === 0, lit(0.0))
          .otherwise(round(col("top_cover") / charsAll, 6)).as("top_char_frac"))
  }

  /**
   * Gopher duplicate-LINE repetition signals (Rae et al. 2021 A1.1's
   * line-granularity rules — [[repetitionStats]] covers the n-gram
   * granularity): per document, the fraction of non-empty lines that
   * occur more than once WITHIN the document, and the fraction of
   * line characters belonging to such duplicated lines — the signal
   * that catches chat logs, scraped tables, and templated listings
   * whose repetition is line-structured rather than n-gram-dense.
   *
   * Scale shape: a pure narrow map — lines never leave their row, so
   * NOTHING shuffles (the in-row occurrence count is O(lines²) HOF
   * work per document; web documents hold 10²–10³ lines, so the row
   * cost is bounded and the zero-shuffle trade wins over exploding
   * every line of a 100 TB corpus into a (doc, line) aggregation).
   * Empty documents report zero lines and 0.0 fractions.
   */
  def duplicateLineStats(docs: DataFrame, sep: String = "\n"): DataFrame = {
    // DSL split/filter, not an expr string: a quoted separator like
    // "\n" does not survive the SQL string-literal escape round-trip.
    // NULL text coalesces to "" so it reports zero lines, not NULLs.
    docs.select(col("doc_id").cast("long").as("doc_id"),
        filter(split(coalesce(col("text"), lit("")),
          java.util.regex.Pattern.quote(sep)),
          x => x =!= "").as("lines"))
      .select(col("doc_id"),
        size(col("lines")).cast("long").as("n_lines"),
        expr("""filter(lines,
          |  x -> size(filter(lines, y -> y = x)) > 1)""".stripMargin)
          .as("dups"),
        expr("aggregate(lines, 0L, (a, x) -> a + length(x))").as("chars"))
      .select(col("doc_id"), col("n_lines"),
        when(col("n_lines") === 0, lit(0.0))
          .otherwise(round(size(col("dups")).cast("double") /
            col("n_lines"), 6)).as("dup_line_frac"),
        when(col("chars") === 0L, lit(0.0))
          .otherwise(round(
            expr("aggregate(dups, 0L, (a, x) -> a + length(x))")
              .cast("double") / col("chars"), 6)).as("dup_line_char_frac"))
  }

  /**
   * CCNet-style repeated-segment REMOVAL (Wenzek et al. 2020, "CCNet:
   * Extracting high quality monolingual datasets from web crawl data"):
   * documents split on `sep` into segments (paragraphs for "\n\n",
   * lines for "\n" — the CCNet granularity — any separator works);
   * every segment occurring in at least `minDocs` distinct documents
   * corpus-wide (navigation menus, cookie banners, licence blurbs) is
   * deleted from every document, and the cleaned text is reassembled in
   * original segment order. Returns `(doc_id, text_clean, n_segments,
   * n_dropped)` for every input document — text_clean is "" when
   * everything was boilerplate. Unlike [[boilerplate]] (which only
   * SCORES overlap), this rewrites the corpus.
   *
   * Plan shape (100 TB): segment explode (narrow), one distinct +
   * document-frequency aggregation keyed by segment (map-side combine
   * collapses heavy hitters early), an ANTI-join of the segment table
   * against the banned set, and a per-doc ordered reassembly whose
   * collect_list buffers ONE document's segments — bounded by document
   * size, never corpus-scale. The segment frame persists for the plan's
   * lifetime (frequency count + anti-join + totals consume it);
   * release via `Caches.scoped`.
   */
  def segmentDedup(docs: DataFrame, sep: String = "\n",
      minDocs: Long = 2L): DataFrame = {
    val lines = docs.select(col("doc_id").cast("long").as("doc_id"),
        posexplode(split(col("text"),
          java.util.regex.Pattern.quote(sep), -1)).as(Seq("idx", "seg")))
      .transform(Caches.persist(_))
    val banned = lines.select(col("doc_id"), col("seg")).distinct()
      .groupBy(col("seg")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDocs)
      .select(col("seg"))
    val kept = lines.join(banned, Seq("seg"), "left_anti")
    val agg = kept.groupBy(col("doc_id"))
      .agg(array_join(transform(
          array_sort(collect_list(struct(col("idx"), col("seg")))),
          s => s.getField("seg")), sep).as("text_clean"),
        count(lit(1)).cast("long").as("n_kept"))
    lines.groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_segments"))
      .join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("text_clean"), lit("")).as("text_clean"),
        col("n_segments"),
        (col("n_segments") - coalesce(col("n_kept"), lit(0L)))
          .cast("long").as("n_dropped"))
  }

  /**
   * Cross-document boilerplate detection: distinct word n-grams occurring
   * in at least `minDocs` documents are "boilerplate" (headers, footers,
   * licence blurbs, templated spans — the C4-style repeated-span removal
   * signal); each document reports the fraction of its distinct grams
   * that are boilerplate.
   *
   * Plan shape (100 TB): distinct grams per doc, one document-frequency
   * aggregation keyed by gram (map-side combine collapses the heavy
   * hitters early), one rejoin + per-doc aggregation — the inverted-index
   * shuffle pattern shared with [[ngramJaccardPairs]], never all-pairs.
   * The gram frame persists for the lifetime of the (lazy) returned plan
   * because both the DF count and the rejoin consume it.
   */
  def boilerplate(docs: DataFrame, n: Int = 3, minDocs: Int = 3): DataFrame = {
    val grams = docs.select(col("doc_id").cast("long").as("doc_id"),
        explode(shingles(col("text"), n)).as("gram"))
      .transform(Caches.persist(_))
    val docFreq = grams.groupBy(col("gram"))
      .agg(count(lit(1)).as("df"))
    grams.join(docFreq, "gram")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_grams"),
        sum(when(col("df") >= minDocs, 1L).otherwise(0L)).cast("long")
          .as("n_boiler"))
      .select(col("doc_id"), col("n_grams"), col("n_boiler"),
        round(col("n_boiler").cast("double") / col("n_grams"), 6)
          .as("boiler_frac"))
  }

  /**
   * Benchmark decontamination: for every (train doc, eval doc) pair
   * sharing at least `minShared` distinct word n-grams, the overlap count
   * and the fraction of the eval doc's grams covered — the standard
   * n-gram-overlap contamination check run before training on scraped
   * corpora (eval-set grams found verbatim in training docs).
   *
   * Plan shape (100 TB): distinct grams per side, one equi-join on the
   * gram (posting-list join — never doc x doc), one pair aggregation.
   * The eval/benchmark side is usually tiny; Catalyst/AQE broadcasts it
   * automatically under the threshold, and callers can force
   * `broadcast(eval)` for planner certainty.
   */
  def contamination(train: DataFrame, eval: DataFrame, n: Int = 3,
      minShared: Int = 2): DataFrame = {
    val tGrams = train.select(col("doc_id").cast("long").as("train_doc"),
      explode(shingles(col("text"), n)).as("gram"))
    val eGrams = eval.select(col("doc_id").cast("long").as("eval_doc"),
        shingles(col("text"), n).as("sh"))
      .select(col("eval_doc"), size(col("sh")).as("n_eval_grams"),
        explode(col("sh")).as("gram"))
    tGrams.join(eGrams, "gram")
      .groupBy(col("train_doc"), col("eval_doc"), col("n_eval_grams"))
      .agg(count(lit(1)).cast("long").as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .select(col("train_doc"), col("eval_doc"), col("n_shared"),
        round(col("n_shared").cast("double") / col("n_eval_grams"), 6)
          .as("eval_frac"))
  }

  /**
   * Broadcast Bloom-filter decontamination — the zero-corpus-shuffle
   * scale path for benchmark decontamination (reference scope:
   * training-corpus hygiene around ingest.py's acquisition surface).
   * The eval split's word n-grams are hashed into a fixed
   * m = 16^`hexDigits`-bit Bloom filter, `numHashes` positions per gram;
   * position_i is the first `hexDigits` hex chars of md5("i|gram") — the
   * engine-portable md5 trick [[sampleMix]] established, so the DuckDB
   * oracle replays the EXACT same filter and the query is hash-checkable,
   * not merely structural. Each train document then scores itself
   * map-side: `n_hits` = how many of its distinct grams have all
   * `numHashes` positions set, `flagged` = n_hits >= minHits.
   *
   * Plan shape (100 TB): the train corpus is NEVER shuffled — the
   * returned plan is scan + narrow projection with the bitmap riding a
   * 16^hexDigits/8-byte literal (128 KiB at the default 5), no Exchange
   * at all (PlanSpec pins this). The build side is one aggregation whose
   * key space is bounded by m/64 words (<= 16384 rows at default m)
   * REGARDLESS of eval size, then a bounded driver collect — compare
   * [[contamination]], whose posting-list join shuffles every
   * (gram, doc) pair of both sides. One-sided error: a train doc
   * sharing >= minHits distinct grams with the eval union is ALWAYS
   * flagged (Bloom filters have no false negatives); false positives are
   * bounded by the bits-per-gram ratio — run [[contamination]] as the
   * exact precision pass over the flagged survivors only.
   *
   * EAGER on the eval side: the filter is built (one bounded job) at
   * call time, like [[graft.operators.VectorOps]]'s codebook.
   */
  def bloomDecontaminate(train: DataFrame, eval: DataFrame, n: Int = 3,
      numHashes: Int = 3, hexDigits: Int = 5,
      minHits: Int = 2, maxFill: Double = 0.25,
      fastHash: Boolean = false): DataFrame = {
    val mightContain =
      evalBloomPredicate(eval, n, numHashes, hexDigits, maxFill, fastHash)
    train
      .select(col("doc_id").cast("long").as("doc_id"),
        shingles(col("text"), n).as("sh"))
      .select(col("doc_id"), size(col("sh")).cast("long").as("n_grams"),
        size(filter(col("sh"), g => mightContain(g))).cast("long")
          .as("n_hits"))
      .select(col("doc_id"), col("n_grams"), col("n_hits"),
        (col("n_hits") >= minHits).cast("int").as("flagged"))
  }

  /**
   * Eval-side Bloom build shared by [[bloomDecontaminate]] and
   * [[decontaminateTwoStage]]: hashes the eval split's distinct word
   * n-grams into a `16^hexDigits`-bit filter (position_i = first
   * `hexDigits` hex chars of md5("i|gram"), the engine-portable trick)
   * and returns the map-side membership predicate. EAGER: one bounded
   * aggregation job whose key space is m/64 words (<= 16384 rows at the
   * default 5) regardless of eval size, then a bounded driver collect;
   * the bitmap rides the returned predicate as a literal, so every
   * consumer plan stays a narrow projection with ZERO eval-side joins.
   */
  private def evalBloomPredicate(eval: DataFrame, n: Int,
      numHashes: Int, hexDigits: Int,
      maxFill: Double = 0.25, fastHash: Boolean = false): Column => Column = {
    require(hexDigits >= 1 && hexDigits <= 15,
      s"bloomDecontaminate: hexDigits $hexDigits not in [1,15]")
    require(numHashes >= 1, "bloomDecontaminate: numHashes must be >= 1")
    val m = 1L << (4 * hexDigits)
    val nWords = ((m + 63) / 64).toInt
    // two position families, same filter algebra: md5-substring is the
    // ORACLE-REPLAYABLE default (DuckDB computes the identical filter,
    // so the registry rows stay hash-checkable); xxhash64 is the
    // PRODUCTION path — ~an order of magnitude cheaper per gram, which
    // is the difference between the flag scan costing less or more
    // than the corpus-gram shuffle it avoids (measured: SCALE.md r13
    // decontamination matrix). Output is identical either way for the
    // two-stage composition — stage 2 is exact — only the flag stage's
    // false-positive SET differs.
    def positions(g: Column): Seq[Column] = (0 until numHashes).map(i =>
      if (fastHash) pmod(xxhash64(lit(i), g), lit(m))
      else conv(substring(md5(concat(lit(i.toString), lit("|"), g)),
        1, hexDigits), 16, 10).cast("long"))
    def wordOf(p: Column): Column = shiftright(p, 6).cast("int")
    def maskOf(p: Column): Column =
      call_function("shiftleft", lit(1L), pmod(p, lit(64L)).cast("int"))
    // Filter build: every gram position -> (word, mask), bit_or per word.
    // Bounded collect: <= m/64 rows (16384 at hexDigits=5) by key space,
    // independent of eval row count.
    val posDf = eval.select(explode(shingles(col("text"), n)).as("gram"))
      .select(explode(array(positions(col("gram")): _*)).as("p"))
    val bits = new Array[Long](nWords)
    posDf.select(wordOf(col("p")).as("w"), maskOf(col("p")).as("m"))
      .groupBy(col("w")).agg(call_function("bit_or", col("m")).as("mask"))
      .collect()
      .foreach(r => bits(r.getInt(0)) = r.getLong(1))
    // SATURATION GUARD (r13, measured): an overfull filter silently
    // degrades the Bloom stage to "flag everything" — per-gram false
    // positives are fill^numHashes, so at the 63% fill a 350 K-gram
    // eval suite produces at the default hexDigits=5, ~25% of RANDOM
    // grams hit and every train doc flags: the two-stage composition
    // then pays the md5 scan AND the full exact join (measured 2.7x
    // WORSE than plain exact at sf1 — SCALE.md r13). That cliff is
    // invisible in the output (no false negatives either way), so it
    // must fail loud here: size hexDigits to the eval suite
    // (m >= ~10 bits per inserted gram-position keeps fill under 25%).
    // Long sum: at hexDigits >= 8 (m >= 2^32 bits) a saturated filter
    // holds more than 2^31 set bits — an Int sum would wrap negative
    // and sail PAST the maxFill require in exactly the overfull case
    // the guard exists to catch (ADVICE r13)
    val fill = bits.map(w => java.lang.Long.bitCount(w).toLong)
      .sum.toDouble / m
    require(fill <= maxFill,
      f"bloom filter ${fill * 100}%.0f%% full (max ${maxFill * 100}%.0f%%)" +
        " — the flag stage would pass most docs through; raise" +
        " hexDigits (m = 16^hexDigits bits) to fit the eval suite, or" +
        " run exact contamination (with maxPostings) instead")
    val bitsLit = typedLit(bits.toSeq)
    (g: Column) => positions(g).map(p =>
      element_at(bitsLit, wordOf(p) + 1)
        .bitwiseAND(maskOf(p)) =!= 0L).reduce(_ && _)
  }

  /**
   * TWO-STAGE benchmark decontamination — the scale-safe composition of
   * [[bloomDecontaminate]] (flag) and [[contamination]] (exact verify),
   * and the measured answer to the exact posting-list join's pair
   * explosion on gram-saturated corpora (a boilerplate-heavy crawl, a
   * small-vocab synthetic: output is O(pairs), which goes quadratic
   * when many train docs share many grams — SCALE.md's one super-linear
   * sweep row). Stage 1 scores every train doc against the eval Bloom
   * filter MAP-SIDE (zero corpus shuffles, the [[bloomDecontaminate]]
   * plan shape) and keeps docs with at least `minShared` distinct gram
   * hits; only those SURVIVORS enter stage 2's exact gram equi-join, so
   * the posting lists — and the pair output — shrink from "every train
   * doc sharing any gram" to "train docs already known to share >=
   * minShared grams with the eval union".
   *
   * RESULT EQUALITY, not approximation: a Bloom filter has NO false
   * negatives, so a train doc with `n_shared >= minShared` distinct
   * grams against ANY eval doc scores `n_hits >= minShared` against the
   * eval UNION (its shared grams all hit) and always survives stage 1;
   * Bloom false positives only ADD survivors, which stage 2's exact
   * join filters back out. Hence the output is EXACTLY
   * [[contamination]](train, eval, n, minShared) — the oracle replays
   * the plain exact SQL, making the no-false-negative argument a
   * hash-checked property rather than prose.
   *
   * Plan shape (100 TB): one bounded eval-side build job (key-space
   * bounded, eval never joins), then ONE lazy plan — narrow Bloom scan
   * of train (filter pushes to the parquet scan; no exchange until a
   * survivor) feeding the exact posting join over the surviving
   * fraction only. The train corpus pays one full scan and shuffles
   * only survivors' grams.
   *
   * WHEN TO USE (measured — SCALE.md r13 decontamination matrix): the
   * composition wins only when the flag stage actually PRUNES. It does
   * not when (a) the corpus' gram space is saturated (boilerplate-
   * heavy / tiny-vocab: most docs genuinely share grams with eval — no
   * composition can beat the O(pairs) output; use `maxPostings` or
   * span excision), or (b) the eval gram set is small enough that
   * plain [[contamination]] broadcasts it (the exact join is then
   * already shuffle-free and strictly cheaper than scan + 3 md5/gram).
   * The designed window is a fixed eval suite too LARGE to broadcast
   * over a corpus where overlap is rare. SIZE THE FILTER to the suite:
   * `hexDigits` must give m >= ~10 bits per inserted gram-position or
   * the build RAISES (`maxFill`) — an overfull filter flags everything
   * and measures strictly worse than the exact path it wraps.
   */
  def decontaminateTwoStage(train: DataFrame, eval: DataFrame, n: Int = 3,
      minShared: Int = 2, numHashes: Int = 3,
      hexDigits: Int = 5, maxFill: Double = 0.25,
      fastHash: Boolean = false): DataFrame = {
    val mightContain =
      evalBloomPredicate(eval, n, numHashes, hexDigits, maxFill, fastHash)
    val survivors = train.filter(
      size(filter(shingles(col("text"), n), g => mightContain(g)))
        >= minShared)
    contamination(survivors, eval, n, minShared)
  }

  /**
   * Near-duplicate CLUSTERS: connected components over the exact
   * n-gram-Jaccard pair graph ([[ngramJaccardPairs]]), via iterative
   * min-label propagation — every doc in a component converges to the
   * component's minimum doc_id, the canonical "keeper".
   *
   * EAGER operator: the fixpoint runs Spark actions at call time (like
   * ML training). Two physical strategies behind one contract:
   *
   *  - **pair graph <= `driverEdgeLimit` edges** (the usual case — the
   *    PAIR GRAPH is tiny even when the corpus is 100 TB, because
   *    near-dups are rare and exact dedup runs first): exact union-find
   *    with path compression on the driver, one collect of the edge
   *    list, O(E α(E));
   *  - **larger graphs**: alternating large-star/small-star contraction
   *    ([[ccStarLabels]], Kiveris et al. 2014) — O(log n) ROUNDS
   *    regardless of component diameter (min-label propagation, the
   *    r6–r13 strategy, needed one round per diameter unit — a chained
   *    component outran any sane `maxIters`; the chain cert in OpsSpec
   *    measures the gap). Still REFUSES to return unconverged labels
   *    at the `maxIters` cap, though 25 rounds now covers ~2^25-node
   *    components.
   *
   * `maxPostings` is [[ngramJaccardPairs]]'s frequency filter, threaded
   * through to the pair-generation stage: shingles appearing in more than
   * that many documents are dropped before pair expansion. Pair cost is
   * Σ|postings|² per shingle, so ONE boilerplate 3-gram shared by 10⁶ docs
   * is ~10¹² candidate pairs — at 100 TB a cap (e.g. 1000) is mandatory;
   * the default 0 keeps every shingle (exact transitive closure, the
   * oracle-pinned mode). Dropped-shingle pairs can only LOWER recall for
   * components held together solely by stopword-like grams, which a
   * high-threshold match never is in practice.
   */
  def nearDupClusters(docs: DataFrame, k: Int = 3, threshold: Double = 0.8,
      maxIters: Int = 25, driverEdgeLimit: Long = 1000000L,
      maxPostings: Int = 0): DataFrame = {
    val (rawPairs, caches) =
      ngramJaccardPairsImpl(docs, k, threshold, maxPostings)
    // connectedComponents is eager: by return, the pair plan (and the
    // shingle/posting frames under it) has been fully consumed — safe
    // to drop
    val out = connectedComponents(rawPairs, maxIters, driverEdgeLimit)
    caches.foreach(_.unpersist())
    out
  }

  /**
   * [[nearDupClusters]] with the BANDED MinHash pair graph
   * ([[nearDupPairs]]) as the edge source instead of the exact posting
   * join — the 100 TB default: candidate cost is bucket-bounded
   * (opt-in `maxBucketSize`) instead of Σ|postings|², at the price of
   * LSH's probabilistic recall (a pair missed by every band is absent
   * from the graph, which can split a component the exact operator
   * would join). Same output contract as [[nearDupClusters]].
   */
  def nearDupClustersMinhash(docs: DataFrame, k: Int = 3,
      numHashes: Int = 12, bands: Int = 4, threshold: Double = 0.8,
      maxBucketSize: Int = 0, maxIters: Int = 25,
      driverEdgeLimit: Long = 1000000L): DataFrame =
    connectedComponents(
      nearDupPairs(docs, k, numHashes, bands, threshold, maxBucketSize),
      maxIters, driverEdgeLimit)

  /**
   * LEAKAGE-AWARE train/validation split (r16) — the held-out hygiene
   * rule from the dedup literature (Lee et al. 2022, "Deduplicating
   * Training Data Makes Language Models Better"): a per-document hash
   * split lets a near-duplicate of a TRAINING document land in the
   * VALIDATION set, silently inflating eval numbers. This operator
   * assigns the split by a salted hash of the document's NEAR-DUP
   * CLUSTER id — every member of a cluster lands on the SAME side by
   * construction, so cross-split paraphrase leakage is structurally
   * impossible, not just unlikely. Documents in no cluster form
   * singleton groups keyed by their own id (which can never collide
   * with a real cluster_id — always the id of a clustered document).
   *
   * Emits `(doc_id, group_id, is_val)` for EVERY input document; the
   * split is deterministic in (doc_id graph, salt) — re-running on
   * the same corpus reproduces it exactly, and appending documents
   * never moves existing ones unless the append JOINS two clusters
   * (in which case they must move together — that is the point).
   *
   * Scale shape: the clustering is the dominant (and shared) cost —
   * banded MinHash LSH + the CC engine, the [[nearDupClustersMinhash]]
   * path with all its scale behavior; the split adds one left join of
   * the corpus against the (clustered-docs-only, usually far smaller)
   * cluster frame plus a narrow md5 projection. The expected val
   * fraction is `valRate` of GROUPS (weighted by nothing) — with
   * heavy-duplication corpora the doc-level fraction shifts toward
   * big clusters' sides, which is inherent to any leakage-free split.
   */
  def clusterAwareSplit(docs: DataFrame, valRate: Double = 0.1,
      k: Int = 3, numHashes: Int = 12, bands: Int = 4,
      threshold: Double = 0.8, salt: String = "split"): DataFrame = {
    require(valRate >= 0.0 && valRate <= 1.0,
      s"clusterAwareSplit: valRate $valRate not in [0,1]")
    val clusters = nearDupClustersMinhash(docs, k, numHashes, bands,
      threshold).select(col("doc_id"), col("cluster_id"))
    val isVal =
      if (valRate >= 1.0) lit(1)
      else (md5(concat(lit(salt), lit("|"),
        col("group_id").cast("string"))).substr(1, 8) <
          lit(thresholdHex(valRate))).cast("int")
    docs.select(col("doc_id").cast("long").as("doc_id"))
      .join(clusters, Seq("doc_id"), "left")
      .withColumn("group_id", coalesce(col("cluster_id"), col("doc_id")))
      .select(col("doc_id"), col("group_id"), isVal.as("is_val"))
  }

  /**
   * Quality-aware keeper selection over a NEAR-dup cluster frame — the
   * fuzzy counterpart of [[dedupExactBest]] and the standard
   * C4/RefinedWeb retention rule: among near-duplicates, keep the
   * highest-`score` member (longest, best quality score, freshest —
   * caller's choice), not the arbitrary minimum id the clustering
   * emits. Takes ANY cluster frame shaped like
   * [[connectedComponents]]'s output (`doc_id`, `cluster_id`), so it
   * composes with the MinHash, SimHash, n-gram, and embedding cluster
   * paths alike. Documents in no cluster form singleton groups and
   * keep themselves (their own id can never collide with a real
   * `cluster_id`, which is always the id of a CLUSTERED document).
   *
   * Scale shape: one id-keyed LEFT join (clusters frame is small —
   * only near-dup members) + one cluster-keyed rank window whose
   * partitions are cluster-sized. Returns every input doc:
   * `(doc_id, cluster_id, score, is_kept)`.
   */
  def clusterBestKeeper(docs: DataFrame, clusters: DataFrame,
      score: Column): DataFrame = {
    val scored = docs.select(col("doc_id").cast("long").as("doc_id"),
      score.cast("long").as("score"))
    val member = clusters.select(col("doc_id").cast("long").as("doc_id"),
      col("cluster_id").cast("long").as("cluster_id"))
    scored.join(member, Seq("doc_id"), "left")
      .withColumn("cluster_id",
        coalesce(col("cluster_id"), col("doc_id")))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("cluster_id"))
          .orderBy(col("score").desc, col("doc_id").asc)))
      .select(col("doc_id"), col("cluster_id"), col("score"),
        (col("rn") === 1).cast("int").as("is_kept"))
  }

  /**
   * Connected components over an ARBITRARY undirected edge list — the
   * clustering engine behind [[nearDupClusters]], exposed for any pair
   * source (MinHash, SimHash, embedding-cosine, custom joins). The
   * first two columns of `pairsIn` are the edge's endpoint ids (cast to
   * long). Returns `(idCol, cluster_id, cluster_size, is_keeper)` with
   * `cluster_id` = component minimum. EAGER (runs jobs at call time);
   * strategy selection and convergence contract as documented on
   * [[nearDupClusters]].
   */
  def connectedComponents(pairsIn: DataFrame, maxIters: Int = 25,
      driverEdgeLimit: Long = 1000000L,
      idCol: String = "doc_id"): DataFrame = {
    // the driver fast path materializes edges into Int-indexed arrays
    require(driverEdgeLimit <= Int.MaxValue,
      s"connectedComponents: driverEdgeLimit must be <= Int.MaxValue " +
        s"(got $driverEdgeLimit); larger graphs take the distributed path")
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val inCols = pairsIn.columns
    // persist: the union below references the pair plan twice, and the
    // fixpoint loop references the edges every iteration
    val pairs = pairsIn.select(col(inCols(0)).cast("long").as("doc_a"),
      col(inCols(1)).cast("long").as("doc_b")).persist(lvl)
    val nPairs = pairs.count()
    if (nPairs <= driverEdgeLimit) {
      val sp = pairsIn.sparkSession
      import sp.implicits._
      // primitive collection end-to-end: no boxed Rows/maps on the
      // driver (a graph at the 1M-edge cap stays in the tens of MB).
      // One partition, so one job: toLocalIterator runs a job per
      // partition, and the counted edges are already persisted
      val it = pairs.coalesce(1).toLocalIterator()
      val ea = new Array[Long](nPairs.toInt)
      val eb = new Array[Long](nPairs.toInt)
      var i = 0
      while (it.hasNext) { val r = it.next(); ea(i) = r.getLong(0); eb(i) = r.getLong(1); i += 1 }
      pairs.unpersist()
      val parent = scala.collection.mutable.LongMap.empty[Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x // path compression
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      var j = 0
      while (j < i) {
        val a = ea(j); val b = eb(j)
        if (!parent.contains(a)) parent(a) = a
        if (!parent.contains(b)) parent(b) = b
        val ra = find(a); val rb = find(b)
        // union by MIN root so cluster_id = component minimum directly
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
        j += 1
      }
      val sizes = scala.collection.mutable.LongMap.empty[Long]
      parent.keys.foreach { n => val r = find(n); sizes(r) = sizes.getOrElse(r, 0L) + 1L }
      val out = parent.keys.toArray.map { n =>
        val r = find(n)
        (n, r, sizes(r), if (n == r) 1 else 0)
      }
      // parallelize keeps the result out of the query plan (createDataset
      // of a local Seq would embed every row in a LocalRelation)
      return sp.createDataset(sp.sparkContext.parallelize(out.toSeq))
        .toDF(idCol, "cluster_id", "cluster_size", "is_keeper")
    }
    // distributed path: alternating large-star/small-star (r14 — the
    // O(log n)-round CC the r13 scaladoc promised), replacing min-label
    // propagation whose round count is the component DIAMETER: a
    // 10^4-frame track or a chained dup component needed 10^4 rounds
    // (and hit the maxIters refusal); the star rounds are logarithmic
    // in component size regardless of diameter
    val (labels, converged, _) = ccStarLabels(pairs, maxIters)
    pairs.unpersist()
    // an unconverged result is silently WRONG (labels are not component
    // minima and would diverge from the transitive-closure oracle), so
    // fail loudly — with the star algorithm the cap is effectively
    // unreachable (25 rounds covers ~2^25-node components)
    require(converged,
      s"connectedComponents: star contraction did not converge within " +
        s"$maxIters rounds — raise maxIters")
    val sizes = labels.groupBy(col("lbl")).agg(count(lit(1)).as("sz"))
    labels.join(sizes, "lbl")
      .select(col("node").cast("long").as(idCol),
        col("lbl").cast("long").as("cluster_id"),
        col("sz").cast("long").as("cluster_size"),
        (col("node") === col("lbl")).cast("int").as("is_keeper"))
  }

  /**
   * Alternating large-star/small-star contraction (Kiveris et al. 2014,
   * "Connected Components in MapReduce and Beyond" — the published
   * distributed-CC algorithm; implemented from the paper's operator
   * definitions, no code reuse):
   *
   *  - LARGE-STAR: every node u links each STRICTLY LARGER neighbor v
   *    to m = min(N(u) ∪ {u}) — hub neighborhoods collapse toward
   *    small labels in one round;
   *  - SMALL-STAR: every edge oriented (larger u → smaller v); each u
   *    links itself and all its smaller neighbors to their minimum —
   *    chains fold in half.
   *
   * Each operator preserves connectivity and the node set, and the
   * alternation converges in O(log n) rounds to star graphs rooted at
   * the component minimum — vs min-label propagation's O(diameter)
   * rounds (a path component of length L needs L propagation rounds
   * but only ~log L star rounds; measured in OpsSpec's chain cert).
   *
   * Plan shape per round: large-star is one window over u (the
   * bidirected edge list), small-star one window over the oriented u,
   * each followed by a distinct (same-key aggregation); every round
   * `localCheckpoint`s to truncate lineage. Edge count never exceeds
   * the input edge count + node count (the paper's invariant), so a
   * round's shuffle is bounded by the input size — no intermediate
   * blowup.
   *
   * Returns (labels `(node, lbl)` covering every endpoint of `pairsIn`,
   * converged?, rounds used). Package-private: [[connectedComponents]]
   * is the public contract; the spec suite calls this directly to
   * certify equality vs driver union-find and to measure rounds.
   */
  private[graft] def ccStarLabels(pairsIn: DataFrame,
      maxIters: Int): (DataFrame, Boolean, Int) = {
    val wU = Window.partitionBy(col("u"))
    def largeStar(e: DataFrame): DataFrame =
      e.select(col("a").as("u"), col("b").as("v"))
        .union(e.select(col("b").as("u"), col("a").as("v")))
        .withColumn("m", least(col("u"), min(col("v")).over(wU)))
        .filter(col("v") > col("u"))
        .select(col("v").as("a"), col("m").as("b"))
        .distinct()
    def smallStar(e: DataFrame): DataFrame = {
      val ori = e.select(greatest(col("a"), col("b")).as("u"),
        least(col("a"), col("b")).as("v"))
        .withColumn("m", min(col("v")).over(wU))
      ori.filter(col("v") =!= col("m"))
        .select(col("v").as("a"), col("m").as("b"))
        .union(ori.select(col("u").as("a"), col("m").as("b")))
        .distinct()
    }
    // node set fixed up front: star rounds keep every node of a
    // component, but nodes appearing ONLY in self-loop pairs drop out
    // of the edge iteration and must still be labeled (as themselves)
    val nodes = Caches.localCheckpoint(
      pairsIn.select(col("doc_a").as("node"))
        .union(pairsIn.select(col("doc_b").as("node"))).distinct())
    var edges = Caches.localCheckpoint(pairsIn
      .filter(col("doc_a") =!= col("doc_b"))
      .select(col("doc_a").as("a"), col("doc_b").as("b")).distinct())
    var n = edges.count()
    var converged = n == 0L
    var rounds = 0
    while (!converged && rounds < maxIters) {
      // set equality (both sides distinct): |next| and |next \ edges|
      // decide the fixpoint — the count held and nothing in next is new.
      // r20: the convergence counters ride the checkpoint
      // materialization as OBSERVED metrics (CollectMetrics computes
      // them while the rows stream into the checkpoint blocks), so each
      // round runs ONE action instead of checkpoint + a separate
      // aggregate job re-reading the blocks. The seen-join keys on
      // (a, b), the partitioning smallStar's distinct just established,
      // so only the (prior-round, checkpointed) edges side exchanges.
      val obs = org.apache.spark.sql.Observation(s"cc_round_$rounds")
      val next = Caches.localCheckpoint(smallStar(largeStar(edges))
        .join(edges.select(col("a"), col("b"), lit(1).as("seen")),
          Seq("a", "b"), "left")
        .observe(obs, count(lit(1)).as("n"),
          coalesce(sum(when(col("seen").isNull, 1L).otherwise(0L)),
            lit(0L)).as("fresh"))
        .select(col("a"), col("b")))
      val m = obs.get
      val nNext = m("n").asInstanceOf[Long]
      converged = nNext == n && m("fresh").asInstanceOf[Long] == 0L
      // freeing the PRIOR round once its successor is materialized keeps
      // the loop at O(1) checkpointed rounds instead of O(rounds)
      // (ADVICE r14); the final round and `nodes` stay live for the
      // labels join until the caller's scope ends
      Caches.release(edges)
      edges = next
      n = nNext
      rounds += 1
    }
    // at the fixpoint every edge is (child, componentMin); roots and
    // self-loop-only nodes label themselves
    val labels = nodes
      .join(edges.select(col("a").as("node"), col("b").as("lbl")),
        Seq("node"), "left")
      .select(col("node"), coalesce(col("lbl"), col("node")).as("lbl"))
    (labels, converged, rounds)
  }

  /** Email/phone regexes shared by the scrub and its external oracles —
    * deliberately restricted to syntax with identical semantics in Java
    * regex and RE2 (no backrefs, no lookaround). */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "\\b\\d{3}-\\d{3}-\\d{4}\\b"
  val Ipv4Re = "\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b"
  val SsnRe = "\\b\\d{3}-\\d{2}-\\d{4}\\b"

  /**
   * PII scrub: per-document email/phone/IPv4/SSN match counts plus the
   * md5 of the redacted text (`<EMAIL>`/`<PHONE>`/`<IP>`/`<SSN>` in
   * that replacement order; counts are each over the ORIGINAL text) —
   * the hash pins the exact replacement semantics without shipping full
   * text through the result. All four patterns avoid
   * backtracking-only constructs, so they run identically under Java
   * regex and RE2-family engines. Pure codegen'd regexp work, one
   * narrow pass, zero shuffles.
   */
  def piiScrub(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val txt = col(textCol)
    def count(re: String) =
      size(regexp_extract_all(txt, lit(re), lit(0))).cast("long")
    docs.select(col("doc_id").cast("long").as("doc_id"),
      count(EmailRe).as("n_emails"),
      count(PhoneRe).as("n_phones"),
      count(Ipv4Re).as("n_ips"),
      count(SsnRe).as("n_ssns"),
      md5(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        txt, EmailRe, "<EMAIL>"), PhoneRe, "<PHONE>"),
        Ipv4Re, "<IP>"), SsnRe, "<SSN>")).as("scrubbed_md5"))
  }

  /** Per-(lang, source) rollup of document/char/token statistics. */
  def textStats(docs: DataFrame): DataFrame =
    docs
      .select(col("lang"), col("source"), col("n_chars"),
        size(tokens(col("text"))).as("n_tokens"))
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(col("n_chars")).cast("long").as("chars_sum"),
        sum(col("n_tokens")).cast("long").as("tokens_sum"),
        min(col("n_chars")).cast("long").as("chars_min"),
        max(col("n_chars")).cast("long").as("chars_max"),
        round(avg(col("n_tokens")), 4).as("avg_tokens"))

  private def langMarkerCounts(text: Column): Seq[Column] = Seq(
    regexp_count(text, lit("\\b(the|and|of|is)\\b")),
    regexp_count(text, lit("\\b(und|der|die|das)\\b")),
    regexp_count(text, lit("\\b(el|los|las|una)\\b")),
    regexp_count(text, lit("\\b(le|les|des|une)\\b")))

  /** Predicted language from the marker counts (deterministic tie-break
    * order en > de > es > fr), `unknown` when nothing matches. */
  private def langPredCol(text: Column): Column = {
    val Seq(cEn, cDe, cEs, cFr) = langMarkerCounts(text)
    when(cEn >= cDe && cEn >= cEs && cEn >= cFr && cEn > 0, "en")
      .when(cDe >= cEs && cDe >= cFr && cDe > 0, "de")
      .when(cEs >= cFr && cEs > 0, "es")
      .when(cFr > 0, "fr")
      .otherwise("unknown")
  }

  /** Share of tokens with "normal" prose length (3..12 chars), 6dp. */
  /**
   * Gopher/MassiveWeb repetition-free quality rules (Rae et al. 2021,
   * "Scaling Language Models: Methods, Analysis & Insights from
   * Training Gopher", Appendix A1.1): word count and mean word length
   * bounds, bullet-started / ellipsis-ended line fractions, the share
   * of words containing an alphabetic character, and a minimum number
   * of distinct common English stopwords — the named filter battery
   * most open pretraining corpora (MassiveText, RefinedWeb, FineWeb)
   * start from. Returns the per-document metrics plus the composed
   * `keep` flag, so downstream can audit WHICH rule fired.
   *
   * Scale shape: ONE narrow projection over one corpus scan — every
   * signal is a per-row expression (token/line splits, a
   * whitespace-stripped length for the word-length sum, eight
   * `array_contains` probes for the stopword count); no aggregation,
   * no shuffle, no joins. The only HOF lambdas (line-prefix and
   * alpha-word filters) run over ONE document's lines/tokens.
   */
  def gopherQuality(docs: DataFrame, minWords: Long = 50,
      maxWords: Long = 100000, minMeanLen: Double = 3.0,
      maxMeanLen: Double = 10.0, maxBulletFrac: Double = 0.9,
      maxEllipsisFrac: Double = 0.3, minAlphaFrac: Double = 0.8,
      minStopwords: Int = 2): DataFrame = {
    val stopwords = Seq("the", "be", "to", "of", "and", "that", "have",
      "with")
    val toks = tokens(col("text"))
    val nW = size(toks).cast("long")
    val sumLen = length(regexp_replace(col("text"), "\\s+", ""))
    val meanLen = when(nW === 0, lit(0.0))
      .otherwise(round(sumLen.cast("double") / nW, 6))
    val lines = split(col("text"), "\n", -1)
    val nL = size(lines)
    val bulletFrac = round(size(filter(lines,
      l => l.startsWith("- ") || l.startsWith("•")))
      .cast("double") / nL, 6)
    val ellipsisFrac = round(size(filter(lines, l => l.endsWith("...")))
      .cast("double") / nL, 6)
    val alphaFrac = when(nW === 0, lit(0.0))
      .otherwise(round(size(filter(toks, t => t.rlike("[A-Za-z]")))
        .cast("double") / nW, 6))
    val stopHits = stopwords.map(w =>
      array_contains(toks, w).cast("int")).reduce(_ + _)
    val keep = nW.geq(minWords) && nW.leq(maxWords) &&
      meanLen.geq(minMeanLen) && meanLen.leq(maxMeanLen) &&
      bulletFrac < maxBulletFrac && ellipsisFrac < maxEllipsisFrac &&
      alphaFrac.geq(minAlphaFrac) && stopHits.geq(minStopwords)
    docs.select(col("doc_id").cast("long").as("doc_id"),
      nW.as("n_words"), meanLen.as("mean_word_len"),
      bulletFrac.as("bullet_line_frac"),
      ellipsisFrac.as("ellipsis_line_frac"),
      alphaFrac.as("alpha_word_frac"),
      stopHits.as("stopword_hits"),
      keep.cast("int").as("keep"))
  }

  private def normalShareCol(text: Column): Column = {
    val toks = tokens(text)
    when(size(toks) === 0, lit(0.0))
      .otherwise(round(
        size(filter(toks, t => length(t) >= 3 && length(t) <= 12))
          .cast("double") / size(toks), 6))
  }

  /** Stopword-marker language-ID heuristic. */
  def langId(docs: DataFrame): DataFrame = {
    val Seq(cEn, cDe, cEs, cFr) = langMarkerCounts(col("text"))
    docs.select(col("doc_id").cast("long").as("doc_id"), col("lang"),
      langPredCol(col("text")).as("lang_pred"),
      cEn.cast("long").as("c_en"), cDe.cast("long").as("c_de"),
      cEs.cast("long").as("c_es"), cFr.cast("long").as("c_fr"))
  }

  /** BPE-style subword-ish tokenization: letter runs, digit runs, or
    * single non-space symbols — the pre-tokenizer shape BPE vocabularies
    * are trained over. */
  def bpeTokens(text: Column): Column =
    regexp_extract_all(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0))

  /** Per-document token counts under both tokenizers plus the
    * whitespace/BPE ratio (a cheap fragmentation signal). */
  def tokenCounts(docs: DataFrame): DataFrame = {
    val ws = size(tokens(col("text")))
    val bpe = size(bpeTokens(col("text")))
    docs.select(col("doc_id").cast("long").as("doc_id"),
      ws.cast("long").as("n_ws_tokens"),
      bpe.cast("long").as("n_bpe_tokens"),
      round(when(ws === 0, 0.0).otherwise(bpe.cast("double") / ws), 6)
        .as("fragmentation"))
  }

  /**
   * Per-language tokenizer FERTILITY report — the numbers a
   * multilingual corpus owner reads before committing to a tokenizer
   * (fertility = subword tokens per whitespace word; chars-per-token
   * = the compression the context window actually gets): languages a
   * tokenizer under-serves show fertility ≫ 1 and low chars/token,
   * which silently taxes their context budget and training compute.
   * Uses the same regex-BPE token model as [[tokenCounts]] so the
   * metric is engine-replicable; with a trained merge list, feed
   * [[bpeEncodeTokens]] counts through the same rollup instead.
   *
   * Scale shape: one narrow projection computes per-doc counts
   * map-side; the rollup collapses onto |langs| keys with map-side
   * combine. Ratios derive from exact long sums in one double
   * expression each.
   */
  def tokenizerFertility(docs: DataFrame): DataFrame = {
    val ws = size(tokens(col("text")))
    val bpe = size(bpeTokens(col("text")))
    docs.select(col("lang"),
        col("n_chars").cast("long").as("chars"),
        ws.cast("long").as("ws"), bpe.cast("long").as("bpe"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(col("chars")).cast("long").as("sum_chars"),
        sum(col("ws")).cast("long").as("sum_ws_tokens"),
        sum(col("bpe")).cast("long").as("sum_bpe_tokens"))
      .select(col("lang"), col("n_docs"), col("sum_chars"),
        col("sum_ws_tokens"), col("sum_bpe_tokens"),
        round(when(col("sum_ws_tokens") === 0, 0.0)
          .otherwise(col("sum_bpe_tokens").cast("double") /
            col("sum_ws_tokens").cast("double")), 6).as("fertility"),
        round(when(col("sum_bpe_tokens") === 0, 0.0)
          .otherwise(col("sum_chars").cast("double") /
            col("sum_bpe_tokens").cast("double")), 6)
          .as("chars_per_token"))
  }

  /** Polynomial rolling hash of the raw text: fold over character codes,
    * h = (h * 31 + code) mod 2^31 — order-sensitive (anagram-safe) unlike
    * a bag-of-tokens hash, and exactly replicable in any engine with a
    * sequential list fold. */
  def rollingHash(text: Column): Column =
    aggregate(
      transform(split(text, ""), ch => ascii(ch)),
      lit(0L), (h, c) => (h * 31 + c) % 2147483648L)

  def fingerprintRolling(docs: DataFrame): DataFrame =
    docs.select(col("doc_id").cast("long").as("doc_id"),
      rollingHash(col("text")).as("rolling_hash"))

  /** Corpus-wide top-k tokens by frequency (ties broken by token text). */
  def tokenTopK(docs: DataFrame, kTop: Int): DataFrame =
    docs.select(explode(tokens(col("text"))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).cast("long").as("n"))
      .orderBy(col("n").desc, col("token").asc)
      .limit(kTop)

  /**
   * Count-min-sketch heavy-hitter estimation: the mergeable,
   * fixed-footprint token counter for corpora whose vocabulary is too
   * large to count exactly. `depth` hash rows x 16^`hexDigits` counters;
   * row r's position for a token is the first `hexDigits` hex chars of
   * md5("r|token") — the engine-portable md5 trick, so the DuckDB oracle
   * replays the sketch EXACTLY and this probabilistic structure is
   * hash-checked end-to-end like [[bloomDecontaminate]]. Returns the
   * exact corpus top-`kTop` tokens ([[tokenTopK]] contract: ties broken
   * by token text) with their sketch estimate
   * est = min over rows of counter(r, pos(r, token)); CMS guarantees
   * est >= n, and `overcount` = est - n is the collision inflation.
   *
   * Plan shape (100 TB): the sketch is ONE aggregation whose key space
   * is bounded by depth * 16^hexDigits cells (12288 at the defaults) —
   * map-side partials collapse every partition to <= the cell count, so
   * the shuffle moves counter cells, never tokens. The kTop probe side
   * is tiny and rides a broadcast join against the cell table.
   */
  def cmsTokenCounts(docs: DataFrame, kTop: Int = 20, depth: Int = 3,
      hexDigits: Int = 3): DataFrame = {
    require(depth >= 1, "cmsTokenCounts: depth must be >= 1")
    require(hexDigits >= 1 && hexDigits <= 15,
      s"cmsTokenCounts: hexDigits $hexDigits not in [1,15]")
    def posOf(r: Int, tok: Column): Column =
      substring(md5(concat(lit(r.toString), lit("|"), tok)), 1, hexDigits)
    def positions(tok: Column): Column =
      posexplode(array((0 until depth).map(r => posOf(r, tok)): _*))
    val toks = docs.select(explode(tokens(col("text"))).as("token"))
      .transform(Caches.persist(_)) // consumed twice: cells + exact top-k
    val cells = toks
      .select(positions(col("token")).as(Seq("r", "pos")))
      .groupBy(col("r"), col("pos"))
      .agg(count(lit(1)).cast("long").as("cnt"))
    val top = toks.groupBy(col("token"))
      .agg(count(lit(1)).cast("long").as("n"))
      .orderBy(col("n").desc, col("token").asc)
      .limit(kTop)
    top
      .select(col("token"), col("n"), positions(col("token")).as(Seq("r", "pos")))
      .join(cells, Seq("r", "pos"))
      .groupBy(col("token"), col("n"))
      .agg(min(col("cnt")).cast("long").as("est"))
      .select(col("token"), col("n"), col("est"),
        (col("est") - col("n")).cast("long").as("overcount"))
  }

  /**
   * 64-bit SimHash over whitespace tokens: each token's md5 contributes
   * +1/-1 votes per bit (first 16 hex chars = 64 bits); the signature bit
   * is 1 where votes are positive. Near-dup docs differ in few bits.
   * Bit extraction uses position-in-hex-alphabet arithmetic so external
   * SQL oracles replicate it exactly.
   */
  def simhash64(text: Column): Column = {
    val hashes = transform(tokens(text), t => md5(t))
    // Interpreted-HOF hot loop: one lookup per nibble instead of per-bit
    // arithmetic. nibbleVotes(n) = the 4 bit-votes (+1/-1, MSB first) of
    // hex nibble value n.
    val nibbleVotes = array((0 until 16).map(n =>
      array(Seq(3, 2, 1, 0).map(b =>
        lit(if (((n >> b) & 1) == 1) 1 else -1)): _*)): _*)
    val pow2 = array((0 until 64).map(k => lit(1L << k)): _*)
    val votes = aggregate(hashes,
      array_repeat(lit(0), 64),
      (acc, h) => zip_with(acc,
        flatten(transform(sequence(lit(0), lit(15)), k => {
          // md5 hex is lowercase: '0'..'9' -> 48..57, 'a'..'f' -> 97..102
          val a = ascii(h.substr(k + 1, lit(1)))
          element_at(nibbleVotes,
            (a - when(a >= 97, 87).otherwise(48) + 1).cast("int"))
        })),
        (v, d) => v + d))
    aggregate(zip_with(votes, sequence(lit(0), lit(63)),
      (v, j) => when(v > 0, element_at(pow2, (j + 1).cast("int"))).otherwise(lit(0L))),
      lit(0L), (acc, x) => acc + x)
  }

  /**
   * SimHash near-dup pairs: candidates share at least one of four 16-bit
   * signature chunks (standard simhash banding — never all-pairs), then
   * exact Hamming distance filters to `maxHamming`.
   *
   * Scale shape (r18, rewritten after a measured cliff): candidate
   * pairs come from a bucket-keyed SELF-JOIN, which STREAMS them
   * through the shuffle — the previous collect_list + in-row pair
   * expansion materialized B² structs per bucket in a single row and
   * OOM'd a 128 GiB JVM at sf10 on a duplicate-heavy corpus
   * (SCALE.md r18: the direct path died where the index path's
   * equi-join survived — this rewrite gives the direct path the same
   * bounded memory). Output is unchanged: `(doc_a < doc_b, hamming)`,
   * distinct across shared bands. `maxBucketSize > 0` still drops
   * pathological mass-duplicate buckets (now via a bucket-count
   * window riding the join's own exchange) — with streaming pairs the
   * cap bounds SHUFFLE, no longer survival. r19 extends the same
   * rewrite to [[minhashCandidatePairs]] and [[ngramJaccardPairs]]
   * (the adjudicated pin move VERDICT r18 pre-authorized) and orders
   * the hamming filter BEFORE the pair distinct: hamming is a function
   * of the pair, so the reorder is output-identical and the distinct
   * exchange drops the far-pair fraction — on a 4×16 banding most
   * random chunk collisions are far pairs, the dominant share of that
   * exchange at scale.
   */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 8,
      maxBucketSize: Int = 0): DataFrame = {
    graft.functions.ensureRegistered(docs.sparkSession)
    val sigs = docs.select(col("doc_id").cast("long").as("doc_id"),
      graft.functions.simhash64(tokens(col("text"))).as("sig"))
      .transform(Caches.persist(_))
    val banded = sigs.select(col("doc_id"), col("sig"),
      posexplode(simhashChunks(col("sig"), 4)).as(Seq("band", "chunk")))
    val capped =
      if (maxBucketSize <= 0) banded
      else banded.withColumn("bn", count(lit(1)).over(
          Window.partitionBy(col("band"), col("chunk"))))
        .filter(col("bn") <= maxBucketSize).drop("bn")
    capped.as("a").join(capped.as("b"),
        col("a.band") === col("b.band") &&
          col("a.chunk") === col("b.chunk") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.sig").bitwiseXOR(col("b.sig"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      // pair-key dedup, not 3-column distinct: hamming is determined
      // by the pair, and dropping it from the grouping keys shrinks
      // the survivor exchange (see simhashAgainstIndex)
      .dropDuplicates(Seq("doc_a", "doc_b"))
  }

  // ===== persisted SimHash index (the near-dup family's sixth
  // lifecycle, r18) ==================================================

  /** The banded chunk array of a 64-bit simhash: `bands` equal slices
    * of 64/bands bits each, LSB slice first — [[simhashPairs]]'s
    * banding generalized from its fixed 4×16 split. */
  private def simhashChunks(sig: Column, bands: Int): Column = {
    val width = 64 / bands
    val mask = if (width == 64) -1L else (1L << width) - 1L
    array((0 until bands).map(b =>
      shiftright(sig, b * width).bitwiseAND(lit(mask))): _*)
  }

  private def requireSimhashBands(bands: Int, op: String): Unit =
    require(bands >= 2 && bands <= 32 && 64 % bands == 0,
      s"$op: bands must divide 64 (2/4/8/16/32), got $bands")

  /** The persisted `(ref_id, sig)` signature frame of `docs`. */
  private def simhashSigs(docs: DataFrame): DataFrame =
    Caches.persist(docs.select(col("doc_id").cast("long").as("ref_id"),
      graft.functions.simhash64(tokens(col("text"))).as("sig")))

  /** The band rows `(ref_id, sig, band, chunk, part)` of a signature
    * frame; `part` hashes the (band, chunk) bucket. */
  private def simhashBands(sigs: DataFrame, bands: Int,
      nParts: Int): DataFrame =
    sigs.select(col("ref_id"), col("sig"),
        posexplode(simhashChunks(col("sig"), bands)).as(Seq("band", "chunk")))
      .withColumn("part", LayoutOps.hashPart(nParts, col("band"), col("chunk")))

  /** The SimHash index of a signature frame, written by the build and
    * the retune alike. */
  private def writeSimhashIndex(sigs: DataFrame, path: String, bands: Int,
      nParts: Int): Unit =
    writeLshIndex(path, simhashBands(sigs, bands, nParts), "chunk", sigs,
      "sigs", "bands" -> bands, "n_parts" -> nParts)

  /** Manifest reader for the SimHash index consumers, read on the
    * driver with no Spark job; raises with a build recipe when absent
    * (the unverifiable-index refusal). */
  private def simhashIndexParams(spark: SparkSession,
      path: String): (Int, Int) = {
    val r = LayoutOps.manifestRows(spark, path, "params", "simhash",
      "params manifest — rebuild with buildSimhashIndex (a banding " +
        "mismatch between build and query silently returns zero " +
        "matches, so unverifiable indexes are refused)").head
    (r.getAs[Int]("bands"), r.getAs[Int]("n_parts"))
  }

  /**
   * Persisted SIMHASH near-dup index — [[simhashPairs]]' banding with
   * the [[buildMinhashIndex]] lifecycle: the reference corpus pays its
   * tokenize+sign cost ONCE, and every daily increment dedups against
   * it with increment-sized work. Where the MinHash index answers
   * set-Jaccard near-dup, this one answers HAMMING near-dup over
   * 64-bit simhashes — the cheaper signal (8 bytes per doc vs a
   * shingle set) that large crawls screen with first.
   *
   * It writes the shared LSH layout ([[writeLshIndex]]) with
   *  - `path/bands` — `(ref_id, sig, band, chunk, bn)`, the bucket key
   *    `chunk` (the band's signature slice) hashed with `band` into
   *    `part`; `sig` is the full 8-byte signature DENORMALIZED onto
   *    the band row
   *    (r19 — VERDICT r18 #2: +8 B/row buys Hamming verification ON
   *    the bucket-join row itself, eliminating the sigs fetch join
   *    and its candidate-sized shuffles — SCALE.md r18 measured the
   *    index-exact path shuffling 4.5× MORE than direct-exact purely
   *    from that verify join);
   *  - `path/sigs` — `(ref_id, sig)`, the payload: the RETUNE's
   *    complete input (re-banding needs no corpus text) and the
   *    layout's per-doc source of truth;
   *  - `path/params` — 1-row `(bands, n_parts)` manifest, REQUIRED
   *    equal at query/append time (chunk values depend on the band
   *    split, so a mismatch silently matches nothing — refused loudly,
   *    the ADVICE r13 discipline).
   *
   * Build cost: one corpus pass (tokenize + the native simhash kernel
   * inside codegen), one (band, chunk)-keyed shuffle for bucket
   * sizes, one part-keyed shuffle for the layout. Recall contract is
   * [[simhashPairs]]': candidates must share ≥1 of `bands` chunks —
   * the pigeonhole GUARANTEES every pair with hamming < bands, and
   * standard banding odds apply above (more bands = higher recall at
   * the same maxHamming, retunable later from stored sigs).
   */
  def buildSimhashIndex(reference: DataFrame, path: String,
      bands: Int = 4, nParts: Int = 64): Unit = {
    requireSimhashBands(bands, "buildSimhashIndex")
    require(nParts >= 1, "buildSimhashIndex: nParts must be >= 1")
    graft.functions.ensureRegistered(reference.sparkSession)
    writeSimhashIndex(simhashSigs(reference), path, bands, nParts)
  }

  /**
   * Query a NEW batch against a [[buildSimhashIndex]] index: same
   * banding as [[simhashPairs]] but CROSS-corpus — `(doc_id, ref_id,
   * hamming)` for every new-batch/reference pair sharing a chunk with
   * hamming <= `maxHamming`. The reference is never re-read as text:
   * candidates come from the bands equi-join, verification XORs the
   * 8-byte signature DENORMALIZED on the matched band row itself
   * (r19) — no second fetch join. `bands` must match the manifest
   * (refused loudly otherwise). `maxBucketSize > 0` is the pushed
   * `bn` predicate — mass-duplicate buckets skip at scan time.
   *
   * Scale shape: the new batch tokenizes+signs map-side and equi-joins
   * the bands table on (band, chunk) — the optimizer broadcasts the
   * increment when small (never forced, the domainCap lesson);
   * hamming evaluates and filters ON the join output, so the only
   * candidate-keyed exchange left is the final distinct over the
   * SURVIVORS (SCALE.md r18 measured the old verify-join shape
   * shuffling 445.61 MB at sf10 where direct-exact moved 98.72 — the
   * index must never shuffle more than the direct path). That
   * distinct also absorbs the byte-identical duplicate rows a
   * crashed-then-retried append leaves behind. A pre-r19 index (no
   * `sig` on band rows) is refused; rebuild to migrate.
   */
  def simhashAgainstIndex(docs: DataFrame, path: String,
      maxHamming: Int = 8, bands: Int = 4,
      maxBucketSize: Int = 0): DataFrame = {
    val spark = docs.sparkSession
    val (bB, _) = simhashIndexParams(spark, path)
    require(bB == bands,
      s"simhashAgainstIndex: index at $path was built with bands=$bB " +
        s"but queried with bands=$bands — a mismatch returns zero " +
        "matches silently, so it is refused")
    graft.functions.ensureRegistered(spark)
    val sigsD = Caches.persist(docs.select(
      col("doc_id").cast("long").as("doc_id"),
      graft.functions.simhash64(tokens(col("text"))).as("sig")))
    val idx = LayoutOps.indexScan(spark, s"$path/bands")
    requireSigBands(idx, "simhashAgainstIndex", path, "querying")
    val refOk =
      if (maxBucketSize <= 0) idx
      else idx.filter(col("bn") <= maxBucketSize)
    sigsD
      .select(col("doc_id"), col("sig"),
        posexplode(simhashChunks(col("sig"), bands))
          .as(Seq("band", "chunk")))
      .join(refOk.select(col("band"), col("chunk"), col("ref_id"),
        col("sig").as("sig_r")), Seq("band", "chunk"))
      .select(col("doc_id"), col("ref_id"),
        bit_count(col("sig").bitwiseXOR(col("sig_r"))).cast("int")
          .as("hamming"))
      .filter(col("hamming") <= maxHamming)
      // dedup on the PAIR alone: hamming is a function of it, so the
      // output is identical to a 3-column distinct, and keeping the
      // determined column out of the grouping keys measurably
      // shrinks the survivor exchange (sf10 probe: 106.78 → 80.38 MB
      // on ~10M survivors)
      .dropDuplicates(Seq("doc_id", "ref_id"))
  }

  /** Band rows without `sig` are the pre-r19 layout, which no current
    * writer produces: refused, with the rebuild that migrates it. */
  private def requireSigBands(bands: DataFrame, op: String, path: String,
      use: String): Unit =
    require(bands.columns.contains("sig"),
      s"$op: index at $path uses the pre-r19 layout " +
        "(no sig column on band rows) — rebuild it " +
        "(rebuildSimhashIndexPointer on its pointer root, or " +
        s"buildSimhashIndex) before $use")

  /**
   * INCREMENTAL append for the SimHash index: the increment is signed
   * (increment-sized work) with the banding from the manifest and
   * joins the index through the shared LSH append ([[appendLshBands]]).
   * Crash order: `sigs` FIRST, `bands` second: sigs without bands are
   * invisible (no candidate ever forms), while band rows whose docs are
   * missing from `sigs` would silently VANISH at the next retune (sigs
   * is the rebuild's complete input), so the order protects the
   * no-false-negative contract across the whole lifecycle. Refuses a
   * pre-r19 legacy layout (no `sig` on band rows): mixing schemas
   * within one bands table would make the parquet read flaky — rebuild
   * to migrate.
   */
  def appendToSimhashIndex(newDocs: DataFrame, path: String): Unit = {
    val spark = newDocs.sparkSession
    val (bands, np) = simhashIndexParams(spark, path)
    requireSigBands(LayoutOps.indexScan(spark, s"$path/bands"),
      "appendToSimhashIndex", path, "appending")
    graft.functions.ensureRegistered(spark)
    val sigs = simhashSigs(newDocs)
    appendLshBands(path, simhashBands(sigs, bands, np), "chunk", sigs, "sigs")
  }

  /**
   * RETUNE rebuild for the SimHash index — the cheapest retune of any
   * family: the index stores complete 8-byte signatures, so the band
   * SPLIT itself (2/4/8/16/32 — the recall dial: candidates are
   * guaranteed below hamming < bands) re-parameterizes from the LIVE
   * generation's `sigs` alone, no corpus text re-read, no signature
   * recompute. Sigs dedup by ref_id (purging crashed-and-replayed
   * append rows — the repair half) and go through the build's own
   * writer, so bn recomputes globally, and the new index publishes as a NEW generation of the pointer root `root`
   * ([[graft.operators.LayoutOps.withPointerGeneration]]; every crash
   * window leaves the old generation serving). Readers resolve the
   * live generation via [[graft.operators.LayoutOps.resolveIndexPointer]]
   * and must pass the NEW bands after a retune — the manifest gate
   * refuses the old ones. Single-writer per index root, like all index
   * maintenance.
   */
  def rebuildSimhashIndexPointer(spark: SparkSession, root: String,
      bands: Int = 0, nParts: Int = 0): Unit = {
    val live = LayoutOps.resolveIndexPointer(spark, root)
    val (bB, bNp) = simhashIndexParams(spark, live)
    val bb = if (bands > 0) bands else bB
    val np = if (nParts > 0) nParts else bNp
    requireSimhashBands(bb, "rebuildSimhashIndexPointer")
    graft.functions.ensureRegistered(spark)
    val sigs = Caches.persist(LayoutOps.indexScan(spark, s"$live/sigs")
      .dropDuplicates(Seq("ref_id")))
    try LayoutOps.withPointerGeneration(spark, root)(gen =>
      writeSimhashIndex(sigs, gen, bb, np))
    finally sigs.unpersist(false)
  }

  /** The shared LSH bucket-balance rollup: one row per band over a
    * bands table whose rows carry `(band, <key>, bn)` — the stored
    * bucket size makes the monitor a keys-only scan. */
  private def lshBandStats(bandsTable: DataFrame,
      keyCol: String): DataFrame = {
    // one row per BUCKET first (every row of a bucket stores the same
    // bn, so distinct is exact), then the per-band rollup
    val buckets = bandsTable
      .select(col("band"), col(keyCol), col("bn")).distinct()
    buckets.groupBy(col("band"))
      .agg(count(lit(1)).cast("long").as("n_buckets"),
        sum(col("bn")).cast("long").as("n_rows"),
        max(col("bn")).cast("int").as("max_bn"))
      .select(col("band").cast("int").as("band"), col("n_buckets"),
        col("n_rows"), col("max_bn"),
        round(col("max_bn") * col("n_buckets") /
          col("n_rows").cast("double"), 6).as("imbalance"))
  }

  /**
   * Monitoring report over a persisted SimHash index's bucket balance
   * — the [[graft.operators.VectorOps.ivfIndexStats]] discipline for
   * the LSH families, and the operator that tells you WHEN to pull
   * [[rebuildSimhashIndexPointer]]'s retune dial: one row per band,
   * `(band, n_buckets, n_rows, max_bn, imbalance)` where `imbalance`
   * is max-bucket/mean-bucket (1.0 = perfectly balanced; a flooded
   * bucket is boilerplate mass that makes every query touching it pay
   * a quadratic candidate fan-out — the signal to cap with
   * `maxBucketSize` or re-band). Counts are the layout's on-disk
   * truth: rows duplicated by a replayed at-least-once append count
   * as stored ([[rebuildSimhashIndexPointer]] is the purge).
   *
   * Scale shape: ONE scan of the bands table reading ONLY
   * (band, chunk, bn) — ref_id is never read — into a
   * buckets-then-bands aggregation whose output is `bands` rows.
   */
  def simhashIndexStats(spark: SparkSession, path: String): DataFrame = {
    simhashIndexParams(spark, path): Unit // manifest gate: refuse bare dirs
    lshBandStats(LayoutOps.indexScan(spark, s"$path/bands"), "chunk")
  }

  /** [[simhashIndexStats]] for the MinHash index — same rollup over
    * its `(band, band_key, bn)` rows; the monitor half the MinHash
    * lifecycle was missing (its retune dial is
    * [[rebuildMinhashIndexPointer]]'s numHashes/bands). */
  def minhashIndexStats(spark: SparkSession, path: String): DataFrame = {
    minhashIndexParams(spark, path): Unit // manifest gate: refuse bare dirs
    lshBandStats(LayoutOps.indexScan(spark, s"$path/bands"), "band_key")
  }

  /** Per-document quality score: length/token/punctuation heuristics in
    * [0,1] (larger = more prose-like). All components deterministic
    * closed-form so external oracles can replicate. */
  def qualityScore(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val nTok = size(toks)
    val meanTokLen = when(nTok === 0, lit(0.0))
      .otherwise(col("n_chars").cast("double") / nTok)
    docs.select(col("doc_id").cast("long").as("doc_id"),
      nTok.cast("long").as("n_tokens"),
      round(meanTokLen, 6).as("mean_token_len"),
      normalShareCol(col("text")).as("normal_token_share"))
  }

  /**
   * Composite quality-filter pipeline (the C4/Gopher filter-stack shape):
   * language, token-count, token-shape, and repetition rules evaluated
   * together; each document gets a keep flag and the FIRST failing rule
   * name — the auditability contract real pipelines need (why was this
   * doc dropped?).
   *
   * The token-count, token-shape, and language rules are all narrow
   * per-row expressions, so they compute in ONE projection over one
   * corpus scan; the only join is with [[repetitionStats]]'s genuinely
   * aggregated output, on the unique high-cardinality doc key — one
   * shuffle join total at 100 TB, not one per signal.
   */
  def filterPipeline(docs: DataFrame, minTokens: Int = 10,
      maxTokens: Int = 100000, minNormalShare: Double = 0.6,
      maxDupGramFrac: Double = 0.15): DataFrame = {
    val rowSignals = docs.select(col("doc_id").cast("long").as("doc_id"),
      size(tokens(col("text"))).cast("long").as("n_tokens"),
      normalShareCol(col("text")).as("normal_token_share"),
      langPredCol(col("text")).as("lang_pred"))
    val r = repetitionStats(docs).select(col("doc_id"), col("dup_gram_frac"))
    val reason = when(col("n_tokens") < minTokens, "too_few_tokens")
      .when(col("n_tokens") > maxTokens, "too_many_tokens")
      .when(col("lang_pred") =!= "en", "non_english")
      .when(col("normal_token_share") < minNormalShare, "low_normal_share")
      .when(col("dup_gram_frac") > maxDupGramFrac, "repetitive")
      .otherwise("ok")
    rowSignals.join(r, "doc_id")
      .select(col("doc_id"), reason.as("reason"),
        (reason === "ok").cast("int").as("keep"))
  }

  /**
   * Per-source curation report — the pre-training sanity aggregation
   * a pipeline owner runs before committing a corpus to a mix:
   * document counts, exact-duplicate mass (sha256), token and
   * character volume, language spread, per source. ONE corpus pass
   * with map-side partial aggregation; at 100 TB this is the cheapest
   * full-corpus query there is (countDistinct expands to a two-phase
   * aggregate — still one scan).
   */
  def curationReport(docs: DataFrame): DataFrame =
    docs.select(col("source"),
        sha2(col("text"), 256).as("sha"),
        size(tokens(col("text"))).cast("long").as("n_tokens"),
        length(col("text")).cast("long").as("len_chars"),
        col("lang"))
      .groupBy(col("source"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        countDistinct(col("sha")).cast("long").as("n_unique"),
        (count(lit(1)) - countDistinct(col("sha"))).cast("long").as("n_dup"),
        sum(col("n_tokens")).cast("long").as("total_tokens"),
        round(avg(col("len_chars")), 6).as("avg_chars"),
        countDistinct(col("lang")).cast("long").as("n_langs"))

  /**
   * Temperature-based training-mix sampling (the multilingual mixing
   * rule of Raffel et al. 2020 / mT5: stratum `s` with `n_s` documents
   * is drawn with probability ∝ `n_s^alpha`): per-stratum keep rates
   * are DERIVED from the corpus composition — `rate_s = min(1,
   * targetFrac * N * n_s^(alpha-1) / Σ_t n_t^alpha)` — so `alpha < 1`
   * flattens the distribution (upsamples tail strata relative to their
   * share) and `alpha = 1` degenerates to uniform `targetFrac`
   * sampling. The keep decision reuses [[sampleMix]]'s deterministic
   * id-hash threshold, with the rate rounded to 6dp so external
   * engines reproduce the exact sample.
   *
   * Scale shape: one stratum-count aggregation (strata-sized), its
   * 1-row weight total and the per-stratum rates ride broadcasts back
   * onto the corpus; the keep flag itself is a narrow projection —
   * nothing corpus-sized shuffles. Returns every input doc with
   * `(doc_id, stratum, n_stratum, rate, keep)`.
   */
  def sampleTemperature(docs: DataFrame, alpha: Double = 0.5,
      targetFrac: Double = 0.5, keyCol: String = "lang",
      salt: String = "temp"): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0,
      s"sampleTemperature: alpha $alpha not in (0,1]")
    require(targetFrac > 0.0 && targetFrac <= 1.0,
      s"sampleTemperature: targetFrac $targetFrac not in (0,1]")
    val counts = docs.groupBy(col(keyCol).as("stratum"))
      .agg(count(lit(1)).as("n_stratum"))
    val totals = counts.agg(
      sum(pow(col("n_stratum"), alpha)).as("wsum"),
      sum(col("n_stratum")).as("total"))
    val rates = counts.crossJoin(broadcast(totals))
      .select(col("stratum"), col("n_stratum"),
        round(least(lit(1.0),
          lit(targetFrac) * col("total") *
            pow(col("n_stratum"), alpha - 1.0) / col("wsum")), 6)
          .as("rate"))
    val u8 = md5(concat(lit(salt), lit("|"),
      col("doc_id").cast("long").cast("string"))).substr(1, 8)
    // same hex-threshold trick as sampleMix, but the rate is a COLUMN
    // (derived from data), so the threshold is computed plan-side
    val thr = lpad(lower(hex(
      least(ceil(col("rate") * 4294967296.0), lit(4294967295L))
        .cast("long"))), 8, "0")
    docs.select(col("doc_id").cast("long").as("doc_id"),
        col(keyCol).as("stratum"), u8.as("u8"))
      .join(broadcast(rates), Seq("stratum"))
      .select(col("doc_id"), col("stratum"), col("n_stratum"), col("rate"),
        when(col("rate") >= 1.0, 1)
          .otherwise((col("u8") < thr).cast("int")).as("keep"))
  }

  /**
   * Deterministic WEIGHTED sampling without replacement
   * (Efraimidis–Spirakis A-ES): each document draws an exponential
   * key `-ln(u) / w` from its content-independent salted id-hash
   * (u uniform in (0,1]); the `k` SMALLEST keys are the weighted
   * sample — inclusion probability proportional to `w` without
   * replacement, and fully reproducible: no RNG state, any engine
   * replays the same sample from the same ids. The fixed-BUDGET
   * importance sampler ([[sampleMix]] is rate-based Bernoulli — its
   * output size floats; this one carves exactly `k`).
   *
   * Rows with null or non-positive weight are excluded (zero-weight
   * items have no sampling mass; the exponential key is undefined).
   *
   * The ORDERING key quantizes the SCALE-FREE factor: `-ln(u)` (range
   * (0, ~22.2]) rounds to an exact integer in 1e-12 units BEFORE the
   * division by `w`, and rows order by `Lq / w` (ties by doc_id).
   * `ln` is transcendental, so JVM `Math.log` vs another engine's
   * libm can disagree in the last ulp and flip a raw-double k-th
   * boundary (r10 ADVICE); after quantization both engines carry the
   * identical exact integer, and the one IEEE division that follows
   * is bit-identical everywhere. Quantizing `-ln(u)` rather than the
   * quotient keeps the two contract properties intact that a flat
   * 6dp-rounding of `k0` destroys: exact weight-scale invariance
   * (same `Lq`, every key divides by the same constant) and the
   * uniform-weights ≡ hash-top-k reduction (`Lq` stays strictly
   * monotone in u — adjacent 2^-32 hash steps move ≥ ~230 quanta).
   *
   * Scale shape: one narrow projection computes the key map-side;
   * the top-k is `orderBy(...).limit(k)` — Spark plans
   * TakeOrderedAndProject (per-partition heaps + one k-row merge),
   * never a global sort.
   */
  def sampleWeighted(docs: DataFrame, weight: Column, k: Int,
      salt: String = "wsample"): DataFrame = {
    require(k > 0, s"sampleWeighted: k $k must be positive")
    val u8 = md5(concat(lit(salt), lit("|"),
      col("doc_id").cast("long").cast("string"))).substr(1, 8)
    val u = (conv(u8, 16, 10).cast("long") + 1) / lit(4294967296.0)
    val w = weight.cast("double")
    docs.filter(w.isNotNull && w > 0)
      .select(col("doc_id").cast("long").as("doc_id"),
        weight.cast("long").as("weight"),
        round(-log(u) * 1000000000000.0d, 0).cast("long").as("lnq"))
      .orderBy((col("lnq").cast("double") / col("weight").cast("double")).asc,
        col("doc_id").asc)
      .limit(k)
      .select(col("doc_id"), col("weight"),
        round(col("lnq").cast("double") / 1000000000000.0d /
          col("weight").cast("double"), 6).as("wkey"))
  }

  /**
   * Deterministic stratified sampling: exactly `min(nPer, |stratum|)`
   * documents per stratum, chosen by the content-independent id-hash
   * order (md5 of salted doc_id, ties by doc_id) — the eval-set /
   * holdout carving step, reproducible across engines and re-runs with
   * no RNG state. Returns only the sampled rows `(doc_id, stratum,
   * rn)`.
   *
   * Scale shape: ONE shuffle keyed by stratum for the ranking window.
   * Strata are typically few and large — a heavily skewed stratum
   * serializes its own partition's sort; for corpus-scale strata
   * prefer [[sampleTemperature]]/[[sampleMix]] (rate-based, shuffle
   * free) and reserve this for exact-count carving.
   */
  def sampleStratified(docs: DataFrame, nPer: Int,
      keyCol: String = "source", salt: String = "strat"): DataFrame = {
    require(nPer > 0, s"sampleStratified: nPer $nPer must be positive")
    val u8 = md5(concat(lit(salt), lit("|"),
      col("doc_id").cast("long").cast("string"))).substr(1, 8)
    docs.select(col("doc_id").cast("long").as("doc_id"),
        col(keyCol).as("stratum"), u8.as("u8"))
      .withColumn("rn", row_number().over(Window.partitionBy(col("stratum"))
        .orderBy(col("u8").asc, col("doc_id").asc)))
      .filter(col("rn") <= nPer)
      .select(col("doc_id"), col("stratum"), col("rn").cast("int").as("rn"))
  }

  /**
   * Deterministic training-mix sampling: keep a document iff the
   * uniform-in-[0,1) value derived from its content-independent id hash
   * falls below its stratum's rate — the data-mixing step of corpus
   * construction (e.g. "20% of web, 100% of books, 5% of logs").
   *
   * No RNG state: u = first 8 hex chars of md5("<salt>|<doc_id>"),
   * compared AS A HEX STRING against the rate's precomputed threshold
   * (lowercase-hex order == numeric order), so any engine reproduces
   * the exact same sample. Map-side only — one narrow projection, the
   * rate table inlined as literals; at 100 TB nothing shuffles and the
   * sample is stable under re-runs, repartitions, and engine swaps.
   *
   * Returns every input doc with its stratum, hash and keep flag
   * (filter `keep = 1` for the sampled corpus).
   */
  /** `u < rate  <=>  hex8(u * 2^32) < hex8(ceil(rate * 2^32))` — the
    * engine-portable md5-hex threshold shared by the deterministic
    * samplers ([[sampleMix]], [[clusterAwareSplit]]). */
  private def thresholdHex(rate: Double): String = {
    require(rate >= 0.0 && rate <= 1.0, s"rate $rate not in [0,1]")
    f"${math.min(math.ceil(rate * 4294967296.0).toLong, 4294967296L - 1)}%08x"
  }

  def sampleMix(docs: DataFrame, rates: Map[String, Double],
      defaultRate: Double = 1.0, keyCol: String = "lang",
      salt: String = "mix"): DataFrame = {
    val u8 = md5(concat(lit(salt), lit("|"),
      col("doc_id").cast("long").cast("string"))).substr(1, 8)
    // rate >= 1 keeps unconditionally (avoids the 2^-32 ffffffff edge)
    def keepFor(r: Double): Column =
      if (r >= 1.0) lit(1) else (u8 < thresholdHex(r)).cast("int")
    val keep = rates.foldLeft(
        when(lit(false), lit(0))) { case (acc, (k, r)) =>
        acc.when(col(keyCol) === k, keepFor(r))
      }.otherwise(keepFor(defaultRate))
    docs.select(col("doc_id").cast("long").as("doc_id"),
      col(keyCol).as("stratum"), u8.as("u8"), keep.as("keep"))
  }

  /**
   * Per-domain contribution cap — the web-corpus governance step
   * (RefinedWeb/FineWeb keep at most N pages per registered domain so
   * no single site dominates the training mix): keep the `cap` docs
   * with the SMALLEST salted id-hashes per domain, ties by doc_id —
   * an order-free deterministic quota, stable under re-runs,
   * repartitions, and engine swaps (the [[sampleMix]] hash idiom).
   *
   * Plan shape (100 TB): per-domain totals first (a keyed aggregation
   * — |domains| rows, which for a web corpus is 10⁷–10⁸ REGISTERED
   * DOMAINS, so the totals join is left to the optimizer/AQE rather
   * than force-broadcast: a forced multi-GB broadcast OOMs the driver
   * where a plain shuffle join is safe, and AQE still broadcasts
   * automatically when totals are genuinely small); domains at or
   * under quota keep every doc WITHOUT entering a sort, so the
   * rank window runs only over the over-cap domains' docs — on web
   * crawls that's the head of a Zipf tail, a small fraction of the
   * corpus. The residual hazard is one mega-domain serializing its
   * window partition; exact quota cannot salt (rank is global per
   * domain), so pathological domains should first rate-cap via
   * [[sampleMix]] (approximate, shuffle-free) and then exact-cap the
   * survivors — both passes are in this file by design.
   *
   * Returns every input doc with (domain, u8, n_docs_domain, keep);
   * filter `keep = 1` for the capped corpus.
   */
  def domainCap(docs: DataFrame, cap: Int, keyCol: String = "source",
      salt: String = "domcap"): DataFrame = {
    require(cap > 0, s"domainCap: cap $cap must be positive")
    val u8 = md5(concat(lit(salt), lit("|"),
      col("doc_id").cast("long").cast("string"))).substr(1, 8)
    val base = docs.select(col("doc_id").cast("long").as("doc_id"),
      col(keyCol).as("domain"), u8.as("u8"))
    val totals = base.groupBy(col("domain"))
      .agg(count(lit(1)).cast("long").as("n_docs_domain"))
    val withN = base.join(totals, Seq("domain"))
    val under = withN.filter(col("n_docs_domain") <= cap)
      .withColumn("keep", lit(1))
    val over = withN.filter(col("n_docs_domain") > cap)
      .withColumn("rn", row_number().over(Window.partitionBy(col("domain"))
        .orderBy(col("u8").asc, col("doc_id").asc)))
      .withColumn("keep", (col("rn") <= cap).cast("int"))
      .drop("rn")
    under.unionByName(over)
      .select(col("doc_id"), col("domain"), col("u8"),
        col("n_docs_domain"), col("keep"))
  }

  /**
   * Per-stratum TOKEN-BUDGET carving — real pretraining recipes
   * specify mixes in tokens, not rates ("200 B tokens of web, 30 B of
   * code"; [[sampleMix]] is the rate-based sampler, this is the
   * budget-based one): within each stratum, documents admit in
   * salted-id-hash order until the stratum's budget is exhausted —
   * keep iff the running token total INCLUDING this document stays
   * within budget. Strict PREFIX semantics: the first document that
   * would overshoot closes the stratum (no later smaller doc sneaks
   * in), so the sample is contiguous in hash order — reproducible
   * across engines, re-runs, and corpus repartitions, and auditable
   * from the cumulative column alone.
   *
   * Budgets are a stratum → token-count map inlined as literals;
   * strata absent from the map get `defaultBudget` (default:
   * unlimited, keep everything).
   *
   * Scale shape: ONE shuffle keyed by stratum for the running-total
   * window (the [[sampleStratified]] shape). Strata are few and large
   * by construction; for a pathological corpus-sized stratum,
   * rate-thin first with [[sampleMix]] (rate ≈ budget / corpus
   * tokens, shuffle-free) and exact-carve the survivors — the
   * [[domainCap]] two-phase discipline.
   *
   * Returns every input doc with `(doc_id, stratum, u8, n_tokens,
   * cum_tokens, keep)`; filter `keep = 1` for the carved corpus.
   * `cum_tokens` here is the running total over ALL docs in hash
   * order (rejected docs included — that is what makes the prefix
   * auditable); the streaming twin
   * [[graft.streaming.DocStream.tokenBudgetStream]] reports an
   * admitted-only running total instead. Only the keep/admit
   * decision is contract-identical between the two (certified by
   * `tokenBudgetCheck`); the cumulative columns are NOT comparable.
   */
  def sampleTokenBudget(docs: DataFrame, budgets: Map[String, Long],
      defaultBudget: Long = Long.MaxValue, keyCol: String = "source",
      tokenCol: String = "n_chars", salt: String = "tokbudget"): DataFrame = {
    budgets.foreach { case (s, v) =>
      require(v >= 0, s"sampleTokenBudget: budget for '$s' must be >= 0") }
    val u8 = md5(concat(lit(salt), lit("|"),
      col("doc_id").cast("long").cast("string"))).substr(1, 8)
    val budget = budgets.foldLeft(when(lit(false), lit(0L))) {
      case (acc, (s, v)) => acc.when(col("stratum") === s, lit(v))
    }.otherwise(lit(defaultBudget))
    docs.select(col("doc_id").cast("long").as("doc_id"),
        col(keyCol).as("stratum"), u8.as("u8"),
        col(tokenCol).cast("long").as("n_tokens"))
      .withColumn("cum_tokens",
        sum(col("n_tokens")).over(Window.partitionBy(col("stratum"))
          .orderBy(col("u8").asc, col("doc_id").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("keep", (col("cum_tokens") <= budget).cast("int"))
  }

  /**
   * BPE tokenizer training (Sennrich et al. 2016): learn `nMerges`
   * merge rules from the corpus. The CORPUS-SCALE stage is the one
   * distributed word-count aggregation; the iterative merge training
   * then runs on a count table BOUNDED at `maxVocab` distinct words —
   * the top-`maxVocab` by count (ties by word) via a TakeOrdered, so
   * the driver materializes at most `maxVocab` rows no matter how many
   * distinct tokens the corpus has (a web-scale lake has 10⁸–10⁹;
   * r8's uncapped collect was the repo's one driver-OOM path). Capping
   * the training vocabulary to the head of the count distribution is
   * standard tokenizer-trainer practice — tail hapaxes contribute
   * nothing to the top pair counts. Pair selection is deterministic:
   * highest weighted count, ties broken by lexicographically smallest
   * (left, right) — so retraining reproduces the identical merge list.
   *
   * Returns `(rank, left, right, merged)` in training order — feed it
   * to [[bpeEncodeTokens]] / [[graft.functions.bpe_encode]] to
   * tokenize.
   */
  def bpeTrain(docs: DataFrame, nMerges: Int = 10,
      maxVocab: Int = 1000000): DataFrame = {
    require(nMerges > 0, "bpeTrain: nMerges must be positive")
    require(maxVocab > 0, "bpeTrain: maxVocab must be positive")
    val sp = docs.sparkSession
    val wordCounts = docs
      .select(explode(tokens(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc("w")).limit(maxVocab)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    var vocab: Array[(Array[String], Long)] = wordCounts.map { case (w, n) =>
      (w.toCharArray.map(_.toString), n)
    }
    val merges = scala.collection.mutable.ArrayBuffer[(Int, String, String,
      String)]()
    var rank = 1
    var exhausted = false
    while (rank <= nMerges && !exhausted) {
      val pairCounts = scala.collection.mutable.HashMap[(String, String),
        Long]()
      vocab.foreach { case (syms, n) =>
        var i = 0
        while (i < syms.length - 1) {
          val k = (syms(i), syms(i + 1))
          pairCounts(k) = pairCounts.getOrElse(k, 0L) + n
          i += 1
        }
      }
      if (pairCounts.isEmpty) exhausted = true
      else {
        val ((l, r), _) = pairCounts.toSeq
          .sortBy { case ((pl, pr), c) => (-c, pl, pr) }.head
        merges += ((rank, l, r, l + r))
        vocab = vocab.map { case (syms, n) => (mergePair(syms, l, r), n) }
        rank += 1
      }
    }
    import sp.implicits._
    sp.createDataset(merges.toSeq)
      .toDF("rank", "left", "right", "merged")
  }

  /** One BPE merge round over a symbol sequence: replace
    * non-overlapping `(l, r)` adjacencies left-to-right with `l+r` —
    * the merged symbol never re-merges within the same round. */
  private def mergePair(syms: Array[String], l: String,
      r: String): Array[String] = {
    val out = new scala.collection.mutable.ArrayBuffer[String](syms.length)
    var i = 0
    while (i < syms.length) {
      if (i < syms.length - 1 && syms(i) == l && syms(i + 1) == r) {
        out += l + r; i += 2
      } else { out += syms(i); i += 1 }
    }
    out.toArray
  }

  /** Per-token subword sequences under a trained merge table: one row
    * per (doc, token) with the native [[graft.functions.bpe_encode]]
    * kernel applied — the merge list rides into the expression as a
    * KB-sized literal, so encoding is a narrow scan, no join. */
  def bpeEncodeTokens(docs: DataFrame, mergesDf: DataFrame): DataFrame = {
    graft.functions.ensureRegistered(docs.sparkSession)
    val ms = mergesDf.select(col("rank").cast("int"), col("left"),
        col("right")).collect().sortBy(_.getInt(0))
    val lefts = ms.map(_.getString(1))
    val rights = ms.map(_.getString(2))
    docs.select(col("doc_id").cast("long").as("doc_id"),
        posexplode(tokens(col("text"))).as(Seq("pos", "tok")))
      .select(col("doc_id"), col("pos"), col("tok"),
        graft.functions.bpe_encode(col("tok"), lefts, rights)
          .as("subwords"))
  }

  /**
   * Structural all-zeros check of [[bpeTrain]] + the encode kernel (no
   * SQL oracle can replicate iterative merge training): retrains to
   * assert determinism, re-encodes the corpus to assert the lossless
   * round-trip (`concat(subwords) == token` for EVERY token
   * occurrence), asserts the learned merges actually compress
   * (Σ subwords < Σ chars), and that training produced the requested
   * merge count (the corpus vocabulary is rich enough by contract).
   */
  def bpeCheck(docs: DataFrame, nMerges: Int = 10): DataFrame = {
    val sp = docs.sparkSession
    val m1 = bpeTrain(docs, nMerges)
    val m2 = bpeTrain(docs, nMerges)
    val determinismBad =
      m1.exceptAll(m2).count() + m2.exceptAll(m1).count()
    val mergeDeficit = math.max(0L, nMerges.toLong - m1.count())
    val enc = bpeEncodeTokens(docs, m1)
    val agg = enc.agg(
      sum(when(array_join(col("subwords"), "") =!= col("tok"), 1L)
        .otherwise(0L)).cast("long").as("roundtrip_bad"),
      (sum(size(col("subwords"))) >= sum(length(col("tok"))))
        .cast("long").as("no_compression"),
      (count(lit(1)) === 0).cast("long").as("empty_corpus"))
    agg.select(col("roundtrip_bad"), col("no_compression"),
      col("empty_corpus"),
      lit(determinismBad).cast("long").as("determinism_bad"),
      lit(mergeDeficit).cast("long").as("merge_deficit"))
  }

  /**
   * Deterministic corpus shuffle for training-order export: every doc
   * gets a salted md5 `shuffle_key`, a `shard` from the key's first
   * hex digits, and a dense rank WITHIN its shard — global training
   * order is `(shard, shard_rank)` lexicographic, because the shard IS
   * the key's prefix. No RNG state: the permutation is reproducible
   * across engines, re-runs, and repartitions (the property epoch
   * shuffles in data loaders need for resumable training).
   *
   * Scale shape (100 TB): a global `row_number() OVER (ORDER BY key)`
   * would funnel the corpus through ONE partition; prefix sharding
   * makes the ranking window PARTITIONED (`hexShardDigits` = 2 → 256
   * uniform shards — md5 prefixes are uniform by construction), so
   * every shard ranks in parallel and the writer emits one
   * key-sorted file per shard with zero cross-shard coordination.
   */
  def shuffleRank(docs: DataFrame, salt: String = "epoch0",
      hexShardDigits: Int = 2): DataFrame = {
    require(hexShardDigits >= 1 && hexShardDigits <= 8,
      s"shuffleRank: hexShardDigits must be in [1,8] (got $hexShardDigits)")
    val key = md5(concat(lit(salt), lit("|"),
      col("doc_id").cast("long").cast("string")))
    docs.select(col("doc_id").cast("long").as("doc_id"),
        key.as("shuffle_key"))
      .withColumn("shard",
        conv(col("shuffle_key").substr(1, hexShardDigits), 16, 10)
          .cast("int"))
      .withColumn("shard_rank", row_number().over(
        Window.partitionBy(col("shard"))
          .orderBy(col("shuffle_key").asc, col("doc_id").asc)))
      .select(col("doc_id"), col("shuffle_key"), col("shard"),
        col("shard_rank").cast("int").as("shard_rank"))
  }

  /**
   * Pretraining sequence packing (concatenate-and-chunk): documents are
   * laid end-to-end in doc_id order within `nShards` deterministic
   * shards, and each doc reports its token span and the fixed-size
   * `seqLen` chunks it lands in — the bookkeeping a "pack corpus into
   * training sequences" job needs (which chunk files to emit, which
   * docs straddle chunk boundaries).
   *
   * A single global concatenation order would serialize the cumsum; the
   * scale shape is per-shard packing: shard = doc_id mod nShards, and
   * the running total is a window partitioned BY SHARD (parallel across
   * shards, each shard's window a single sorted run). At 100 TB pick
   * nShards ≈ cores so shards stream independently; chunk ids are
   * (shard, chunk) pairs, globally unique without coordination.
   */
  def packSequences(docs: DataFrame, seqLen: Int,
      nShards: Int = 8): DataFrame = {
    require(seqLen > 0 && nShards > 0, "packSequences: positive seqLen/nShards")
    val nTok = size(tokens(col("text"))).cast("long")
    val shard = pmod(col("doc_id").cast("long"), lit(nShards.toLong))
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
    docs.select(col("doc_id").cast("long").as("doc_id"),
        shard.as("shard"), nTok.as("n_tokens"))
      .withColumn("end_token", sum(col("n_tokens")).over(w))
      .select(col("doc_id"), col("shard"), col("n_tokens"),
        (col("end_token") - col("n_tokens")).as("start_token"),
        floor((col("end_token") - col("n_tokens")) / seqLen).cast("long")
          .as("first_chunk"),
        // empty docs occupy no chunk span: pin their last_chunk to
        // first_chunk so the span stays well-defined
        greatest(floor((col("end_token") - 1) / seqLen),
          floor((col("end_token") - col("n_tokens")) / seqLen))
          .cast("long").as("last_chunk"))
  }

  /**
   * Corpus release diff — the dataset-versioning QA view: given two
   * corpus versions keyed by `doc_id`, one row summarizing churn:
   * docs added, removed, content-changed (same id, different sha256),
   * unchanged, plus the changed/unchanged character deltas. The
   * release-over-release gate a data team reads before promoting a
   * refreshed crawl ("0.3% churn expected from the re-decode fix; 40%
   * means the pipeline broke").
   *
   * Scale shape: one full-outer join on doc_id of two narrow
   * (id, sha, n_chars) projections — content never joins, only
   * fingerprints; the rollup is a 1-row aggregation with map-side
   * partials.
   */
  def corpusDiff(prev: DataFrame, next: DataFrame): DataFrame = {
    def keyed(d: DataFrame, tag: String) = d.select(
      col("doc_id").cast("long").as("doc_id"),
      sha2(col("text"), 256).as(s"sha_$tag"),
      length(col("text")).cast("long").as(s"chars_$tag"))
    keyed(prev, "a").join(keyed(next, "b"), Seq("doc_id"), "full_outer")
      .agg(
        sum(when(col("sha_a").isNull, 1L).otherwise(0L)).as("n_added"),
        sum(when(col("sha_b").isNull, 1L).otherwise(0L)).as("n_removed"),
        sum(when(col("sha_a").isNotNull && col("sha_b").isNotNull &&
          col("sha_a") =!= col("sha_b"), 1L).otherwise(0L))
          .as("n_changed"),
        sum(when(col("sha_a") === col("sha_b"), 1L).otherwise(0L))
          .as("n_unchanged"),
        coalesce(sum(when(col("sha_a").isNotNull && col("sha_b").isNotNull,
          col("chars_b") - col("chars_a"))), lit(0L)).as("chars_delta"))
  }

  /**
   * Encoding-artifact (mojibake) detection — the ftfy-class curation
   * signal: web crawls are full of UTF-8 text that was decoded as
   * Latin-1/cp1252 and re-encoded, leaving characteristic marker
   * sequences ("â€™" for a right quote, "Ã©" for é, the U+FFFD
   * replacement char from lossy decodes). Per doc: occurrence counts
   * of the three marker families and a `flagged` bit — route flagged
   * docs to a re-decode pass instead of training on garbage.
   *
   * Counting is `(len(text) − len(replace(text, marker, ''))) ÷
   * len(marker)` — pure string built-ins, identical in any engine, no
   * regex dialect to reconcile. Heuristic by design: a genuine "Ã"
   * in clean French text counts too; thresholds, not proofs. One
   * narrow projection, zero shuffles.
   */
  def encodingArtifacts(docs: DataFrame, minHits: Int = 1): DataFrame = {
    def hits(marker: String): Column =
      ((length(col("text")) -
        length(regexp_replace(col("text"),
          java.util.regex.Pattern.quote(marker), ""))) /
        marker.length).cast("long")
    val a = hits("â€") // "â€" — cp1252-mangled punctuation
    val b = hits("Ã")       // "Ã" — mangled Latin-1 accents
    val c = hits("�")       // U+FFFD replacement character
    docs.select(col("doc_id").cast("long").as("doc_id"),
      a.as("punct_hits"), b.as("accent_hits"), c.as("replacement_hits"),
      ((a + b + c) >= minHits).cast("int").as("flagged"))
  }

  /**
   * Packing-efficiency report over [[packSequences]]' layout — the
   * number a pretraining-data team reads before committing a sequence
   * length: per shard, how many `seqLen` chunks the concatenated
   * stream fills, exact token counts, utilization of the final partial
   * chunk, and the padding fraction a naive one-doc-per-sequence
   * layout would have wasted instead (`1 − Σtokens / (docs·seqLen)`,
   * overlong docs truncated). One row per shard + the derivable
   * corpus-level view by summing.
   *
   * Scale shape: one pass over the packed frame (itself one window
   * pass); everything aggregates to `nShards` rows map-side.
   */
  def packingReport(docs: DataFrame, seqLen: Int,
      nShards: Int = 8): DataFrame = {
    val packed = packSequences(docs, seqLen, nShards)
    packed
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        max(col("last_chunk")).as("last_chunk"),
        sum(least(col("n_tokens"), lit(seqLen.toLong))).as("naive_kept"))
      .select(col("shard"), col("n_docs"), col("n_tokens"),
        (col("last_chunk") + 1).as("n_chunks"),
        round(col("n_tokens").cast("double") /
          ((col("last_chunk") + 1) * seqLen), 6).as("packed_util"),
        round(lit(1.0) - col("naive_kept").cast("double") /
          (col("n_docs") * seqLen), 6).as("naive_pad_frac"))
  }

  /**
   * Span-level repeated-substring analysis — the exact-substring dedup
   * measure (the "repeated k-token span" family of corpus dedup, vs
   * [[segmentDedup]]'s separator-delimited segments): every POSITIONAL
   * k-gram occurring `minCount`+ times corpus-wide marks its k-token
   * span, and each document reports how much of it is covered by such
   * spans. Returns one row per input doc: `(doc_id, n_tokens,
   * n_rep_grams, covered_tokens, dup_frac)` — `dup_frac` is the
   * fraction of the doc's tokens inside a corpus-repeated span (1.0
   * for an exact duplicate, partial for shared boilerplate/quotes).
   * Docs with fewer than k tokens emit no grams and score 0.
   *
   * Scale shape: positional grams come from a zip of k shifted slices
   * (k slice evaluations per doc — never a lambda over the token array,
   * the SCALE.md subtree-duplication trap) + one `posexplode`; the gram
   * frequency count is ONE map-side-partial aggregation and the
   * flagged join is gram-keyed — both shuffle gram keys, never text.
   * `maxPostings > 0` drops pathological grams (the same frequency
   * escape hatch as [[ngramJaccardPairs]]); span coverage explodes k
   * positions per FLAGGED gram only, then doc-keyed distinct counts.
   */
  def repeatedSpans(docs: DataFrame, k: Int = 5, minCount: Int = 2,
      maxPostings: Int = 0): DataFrame = {
    require(k > 0, s"repeatedSpans: k $k must be positive")
    require(minCount >= 2, s"repeatedSpans: minCount $minCount must be >= 2")
    val base = docs
      .select(col("doc_id").cast("long").as("doc_id"),
        tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"),
        size(col("toks")).cast("long").as("n_tokens"))
      .transform(Caches.persist(_)) // consumed by grams AND the join-back
    val shifted = (0 until k).map(j =>
      slice(col("toks"), lit(j + 1), size(col("toks")) - (k - 1)))
    val gramArr = transform(arrays_zip(shifted: _*),
      s => concat_ws(" ", (0 until k).map(j => s.getField(j.toString)): _*))
    val grams = base.filter(size(col("toks")) >= k)
      .select(col("doc_id"), posexplode(gramArr))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        col("col").as("gram"))
    val counts = grams.groupBy(col("gram")).agg(count(lit(1)).as("gn"))
      .filter(col("gn") >= minCount)
    val heavy =
      if (maxPostings <= 0) counts
      else counts.filter(col("gn") <= maxPostings)
    val perDoc = grams.join(heavy.select(col("gram")), Seq("gram"))
      .select(col("doc_id"), col("pos"),
        explode(sequence(col("pos"), col("pos") + (k - 1))).as("tp"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("pos")).cast("long").as("n_rep_grams"),
        countDistinct(col("tp")).cast("long").as("covered_tokens"))
    base.select(col("doc_id"), col("n_tokens"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_rep_grams"), lit(0L)).as("n_rep_grams"),
        coalesce(col("covered_tokens"), lit(0L)).as("covered_tokens"),
        round(coalesce(col("covered_tokens"), lit(0L)).cast("double") /
          greatest(col("n_tokens"), lit(1L)), 6).as("dup_frac"))
  }

  /**
   * ExactSubstr cross-document repeated-substring REMOVAL (the Lee et
   * al. 2022 "Deduplicating Training Data Makes Language Models
   * Better" dedup class, at word-token granularity): where
   * [[repeatedSpans]] only SCORES how much of a document lies inside
   * corpus-repeated spans, this operator rewrites the corpus with
   * those spans excised — every positional k-gram occurring
   * `minCount`+ times corpus-wide marks its k-token span, overlapping
   * marked spans merge into maximal covered intervals, and the
   * surviving tokens reassemble in order. Like the reference ExactSubstr
   * tool's default, ALL occurrences of a repeated span are removed
   * (not all-but-one): a span frequent enough to trip the threshold is
   * boilerplate/license/navigation text the pipeline wants gone, and
   * removing every copy keeps the operator a pure per-doc rewrite (no
   * canonical-occurrence election, which would serialize on a global
   * order). Docs with fewer than `k` tokens pass through unchanged.
   *
   * Returns one row per input doc:
   * `(doc_id, n_tokens, n_kept, n_removed, text_dedup)`. NULL text
   * propagates as NULL metrics — the doc is never silently dropped,
   * and nothing NULL can match a gram.
   *
   * Scale shape: the gram pass is [[repeatedSpans]]' — k shifted
   * slices zipped (never a lambda re-evaluating the tokenizer per
   * element), one posexplode, gram-keyed count with map-side partials,
   * gram-keyed flag join; `maxPostings > 0` drops pathological grams.
   * Flagged START positions aggregate per doc (bounded by the doc's
   * own token count — never corpus-scale), merge into disjoint
   * intervals with ONE O(|starts|) stack-fold, and the rewrite is a
   * narrow per-row filter over (token, index) against the merged
   * intervals — O(tokens · intervals) per doc where intervals is the
   * number of MAXIMAL repeated regions, typically a handful. No stage
   * ever shuffles text except the one doc-keyed starts join.
   */
  def exactSubstrDedup(docs: DataFrame, k: Int = 5, minCount: Int = 2,
      maxPostings: Int = 0): DataFrame = {
    require(k > 0, s"exactSubstrDedup: k $k must be positive")
    require(minCount >= 2,
      s"exactSubstrDedup: minCount $minCount must be >= 2")
    val base = docs
      .select(col("doc_id").cast("long").as("doc_id"),
        tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"),
        size(col("toks")).cast("long").as("n_tokens"))
      .transform(Caches.persist(_)) // consumed by grams AND the rewrite
    val shifted = (0 until k).map(j =>
      slice(col("toks"), lit(j + 1), size(col("toks")) - (k - 1)))
    val gramArr = transform(arrays_zip(shifted: _*),
      s => concat_ws(" ", (0 until k).map(j => s.getField(j.toString)): _*))
    val grams = base.filter(size(col("toks")) >= k)
      .select(col("doc_id"), posexplode(gramArr))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        col("col").as("gram"))
      .transform(Caches.persist(_)) // counted AND flag-joined
    val counts = grams.groupBy(col("gram")).agg(count(lit(1)).as("gn"))
      .filter(col("gn") >= minCount)
    val heavy =
      if (maxPostings <= 0) counts
      else counts.filter(col("gn") <= maxPostings)
    val starts = grams.join(heavy.select(col("gram")), Seq("gram"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_set(col("pos"))).as("starts"))
    exciseSpans(base, starts, k)
  }

  /**
   * Shared rewrite stage of [[exactSubstrDedup]] /
   * [[decontaminateSpans]]: given the tokenized `base`
   * (doc_id, toks, n_tokens) and per-doc sorted flagged k-gram START
   * positions, merge the starts into disjoint maximal covered
   * intervals (one O(|starts|) stack-fold — ascending [p, p+k-1]
   * windows merge whenever they overlap or touch) and reassemble the
   * uncovered tokens in order. Narrow per-row work after one
   * doc-keyed join; O(tokens · merged-intervals) per doc.
   */
  private def exciseSpans(base: DataFrame, starts: DataFrame,
      k: Int): DataFrame = {
    val intervals = expr(
      s"""aggregate(starts,
         |  CAST(array() AS ARRAY<STRUCT<lo: BIGINT, hi: BIGINT>>),
         |  (acc, p) -> CASE
         |    WHEN size(acc) > 0 AND p <= element_at(acc, -1).hi + 1
         |    THEN concat(slice(acc, 1, size(acc) - 1),
         |      array(named_struct('lo', element_at(acc, -1).lo,
         |        'hi', greatest(element_at(acc, -1).hi,
         |          p + CAST(${k - 1} AS BIGINT)))))
         |    ELSE concat(acc,
         |      array(named_struct('lo', p,
         |        'hi', p + CAST(${k - 1} AS BIGINT)))) END)""".stripMargin)
    val kept = expr(
      """filter(toks, (t, i) ->
        |  NOT exists(iv, x -> CAST(i AS BIGINT) >= x.lo
        |    AND CAST(i AS BIGINT) <= x.hi))""".stripMargin)
    base.join(starts, Seq("doc_id"), "left")
      .withColumn("iv", when(col("starts").isNull,
        expr("CAST(array() AS ARRAY<STRUCT<lo: BIGINT, hi: BIGINT>>)"))
        .otherwise(intervals))
      .withColumn("kept", kept)
      .select(col("doc_id"), col("n_tokens"),
        size(col("kept")).cast("long").as("n_kept"),
        (col("n_tokens") - size(col("kept")).cast("long")).as("n_removed"),
        array_join(col("kept"), " ").as("text_dedup"))
  }

  /**
   * SPAN-LEVEL benchmark decontamination — the surgical alternative to
   * dropping whole training documents: every positional k-gram of a
   * TRAIN doc that appears ANYWHERE in the eval/benchmark set marks
   * its k-token span, marked spans merge into maximal intervals
   * ([[exactSubstrDedup]]'s fold), and the spans are EXCISED while the
   * rest of the document survives. This is what a pipeline reaches for
   * when benchmark text rides inside otherwise-good documents (quoted
   * test questions, embedded eval passages): [[contamination]] scores
   * the pair overlap, [[bloomDecontaminate]] flags cheaply at scale,
   * and this operator REMOVES the contaminated spans — keeping the
   * training tokens the doc-level drop would have thrown away.
   *
   * Returns one row per TRAIN doc: `(doc_id, n_tokens, n_kept,
   * n_removed, text_dedup)`; eval docs are never rewritten. NULL
   * train text propagates as NULL metrics (the doc is not dropped);
   * NULL eval text contributes no grams.
   *
   * Scale shape: the eval side collapses to DISTINCT k-grams (the
   * [[ngramCoverage]] reduction) and the flag join is gram-keyed —
   * Catalyst broadcasts a small benchmark set automatically; the train
   * side pays the same one posexplode + doc-keyed starts join as
   * [[exactSubstrDedup]], text never shuffles.
   */
  def decontaminateSpans(train: DataFrame, eval: DataFrame,
      k: Int = 5): DataFrame = {
    require(k > 0, s"decontaminateSpans: k $k must be positive")
    val base = train
      .select(col("doc_id").cast("long").as("doc_id"),
        tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"),
        size(col("toks")).cast("long").as("n_tokens"))
      .transform(Caches.persist(_)) // consumed by grams AND the rewrite
    val shifted = (0 until k).map(j =>
      slice(col("toks"), lit(j + 1), size(col("toks")) - (k - 1)))
    val gramArr = transform(arrays_zip(shifted: _*),
      s => concat_ws(" ", (0 until k).map(j => s.getField(j.toString)): _*))
    val grams = base.filter(size(col("toks")) >= k)
      .select(col("doc_id"), posexplode(gramArr))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        col("col").as("gram"))
    val evalGrams = eval
      .select(explode(ngrams(col("text"), k)).as("gram")).distinct()
    val starts = grams.join(evalGrams, Seq("gram"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_set(col("pos"))).as("starts"))
    exciseSpans(base, starts, k)
  }

  /**
   * RAG/context-window chunking: each document's whitespace token stream
   * is cut into fixed-size windows of `chunkTokens` starting every
   * `stride` tokens (stride < chunkTokens ⇒ overlapping windows, the
   * standard retrieval-index unit; stride = chunkTokens ⇒ disjoint
   * packing). Emits one row per window with `(doc_id, n_tokens,
   * chunk_id, start_tok, n_tok, chunk_text)`; an empty document yields
   * a single empty chunk so no doc silently disappears from the index.
   *
   * Scale shape: a pure narrow map — tokenize, generate the start
   * offsets (`sequence`), `posexplode`, slice. No shuffle, no state; at
   * 100 TB this is one codegen'd scan whose output is ~`chunkTokens /
   * stride`× the input rows. The token array is materialized through a
   * real projection before the explode, so the tokenizer runs once per
   * DOC, not once per chunk.
   */
  def chunkDocs(docs: DataFrame, chunkTokens: Int = 16,
      stride: Int = 12): DataFrame = {
    require(chunkTokens > 0 && stride > 0,
      s"chunkDocs: chunkTokens $chunkTokens / stride $stride must be positive")
    val toksed = docs
      .select(col("doc_id").cast("long").as("doc_id"),
        tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"),
        size(col("toks")).cast("long").as("n_tokens"))
    toksed
      .select(col("doc_id"), col("n_tokens"), col("toks"),
        posexplode(sequence(lit(0),
          greatest(size(col("toks")) - 1, lit(0)), lit(stride))))
      .select(col("doc_id"), col("n_tokens"),
        col("pos").cast("int").as("chunk_id"),
        col("col").cast("long").as("start_tok"),
        greatest(lit(0L),
          least(lit(chunkTokens.toLong), col("n_tokens") - col("col")))
          .as("n_tok"),
        array_join(slice(col("toks"), col("col").cast("int") + 1,
          lit(chunkTokens)), " ").as("chunk_text"))
  }

  /**
   * Content-defined chunking (CDC): cut each document at positions
   * where a trailing-window rolling hash lands on a `2^maskBits`
   * multiple ([[graft.functions.cdc_boundaries]]) instead of at fixed
   * offsets. Because boundaries depend only on local content, an
   * insertion or deletion re-aligns every later chunk — chunk hashes
   * downstream of an edit are IDENTICAL to the unedited document's,
   * which is what makes CDC the dedup-stable unit for re-crawled /
   * revisioned corpora (fixed-width chunks shift and nothing matches).
   * Emits `(doc_id, chunk_idx, chunk_start, chunk_len, chunk_md5)`;
   * `chunk_start` is the 0-based code-point offset. Empty/null texts
   * drop (no chunkable content). Expected chunk length ~`2^maskBits`
   * code points; a document shorter than `window` is one whole chunk.
   *
   * Scale shape: a pure narrow map — one native boundary loop per doc,
   * `zip_with` span assembly over the (tiny) boundary array, one
   * `posexplode`, md5 per chunk. No shuffle, no state; dedup-by-chunk
   * downstream is then a chunk_md5 hash-aggregation exactly like
   * [[dedupExact]].
   */
  def cdcChunks(docs: DataFrame, window: Int = 8,
      maskBits: Int = 6): DataFrame = {
    graft.functions.ensureRegistered(docs.sparkSession)
    val withB = docs
      .filter(col("text").isNotNull && length(col("text")) > lit(0))
      .select(col("doc_id").cast("long").as("doc_id"), col("text"),
        graft.functions.cdc_boundaries(col("text"), window, maskBits)
          .as("bnds"),
        length(col("text")).as("n"))
    withB
      .select(col("doc_id"), col("text"),
        posexplode(zip_with(
          concat(array(lit(0)), col("bnds")),
          concat(col("bnds"), array(col("n"))),
          (s, e) => struct(s.as("s"), e.as("e")))))
      // a boundary exactly at the end duplicates `n`: the final span is
      // empty — drop it (span indices stay contiguous; it is the last)
      .filter(col("col.e") > col("col.s"))
      .select(col("doc_id"), col("pos").cast("int").as("chunk_idx"),
        col("col.s").cast("int").as("chunk_start"),
        (col("col.e") - col("col.s")).cast("int").as("chunk_len"),
        md5(col("text").substr(col("col.s") + 1,
          col("col.e") - col("col.s")).cast("binary")).as("chunk_md5"))
  }

  /**
   * Chunk-level duplication report over [[cdcChunks]] — the CDC payoff
   * query: per document, how much of its content (by chunk and by
   * character mass) also appears in OTHER documents, counting a chunk
   * as duplicated when its md5 occurs in more than one distinct doc.
   * Near-identical re-crawls that exact whole-doc dedup misses (one
   * changed byte) still share every post-edit chunk, so their
   * `dup_frac` approaches 1 while genuinely novel documents stay near
   * 0. Emits `(doc_id, n_chunks, n_dup_chunks, dup_chars, dup_frac)`.
   *
   * Scale shape: the chunk frame persists once and feeds both sides;
   * chunk document-frequency is ONE md5-keyed aggregation with
   * map-side partials, joined back by the same key (equi-join, AQE
   * skew-splittable), then a doc-keyed rollup of scalar counts.
   * Shuffles move (md5, counts) keys — never chunk text; `dup_frac`
   * is a ratio of exact long character sums rounded once, so it is
   * partition-order-free.
   */
  def cdcDupReport(docs: DataFrame, window: Int = 8,
      maskBits: Int = 6): DataFrame = {
    val chunks = Caches.persist(
      cdcChunks(docs, window, maskBits)
        .select(col("doc_id"), col("chunk_len"), col("chunk_md5")))
    val df = chunks.groupBy(col("chunk_md5"))
      .agg(count_distinct(col("doc_id")).as("n_docs"))
    chunks.join(df, "chunk_md5")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_chunks"),
        sum(when(col("n_docs") > 1, 1L).otherwise(0L)).cast("long")
          .as("n_dup_chunks"),
        sum(when(col("n_docs") > 1, col("chunk_len").cast("long"))
          .otherwise(0L)).cast("long").as("dup_chars"),
        sum(col("chunk_len").cast("long")).as("total_chars"))
      .select(col("doc_id"), col("n_chunks"), col("n_dup_chunks"),
        col("dup_chars"),
        round(col("dup_chars").cast("double") / col("total_chars"), 6)
          .as("dup_frac"))
  }

  /**
   * BM25 keyword retrieval (Robertson/Sparck-Jones, the Okapi
   * formulation Lucene defaults to): score every document against a
   * fixed bag of query `terms` and return the global top `kTop` by
   * score. Per term: `idf = ln(1 + (N - df + 0.5)/(df + 0.5))`,
   * `w = idf · tf·(k1+1) / (tf + k1·(1 - b + b·dl/avgdl))`.
   *
   * Scale shape: per-term `tf` is the native
   * [[graft.functions.count_token]] kernel — one byte-equality loop
   * per row (the `size(filter(...))` HOF interprets a boxed lambda per
   * element); a narrow projection, no explode of the token stream and
   * no token-keyed shuffle (the classic inverted-index join is
   * replaced by |terms| array scans per doc, the right trade for a
   * bounded query bag). Corpus stats (N, avgdl, per-term df) are ONE
   * aggregate-to-1-row, broadcast back. The global top-k is
   * `orderBy(...).limit(k)` — Spark's TakeOrderedAndProject, a
   * per-partition heap + driver merge, never a single-partition sort.
   * The final `rnk` window runs over kTop rows only. Scores are
   * rounded to 6dp before ranking; ties break by doc_id.
   */
  def bm25TopK(docs: DataFrame, terms: Seq[String], kTop: Int = 20,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "bm25TopK: at least one query term")
    require(kTop > 0, "bm25TopK: kTop must be positive")
    graft.functions.ensureRegistered(docs.sparkSession)
    // persisted: BOTH the stats aggregate and the scoring pass consume
    // this frame — without the barrier the corpus tokenizes twice
    // (tokenize dominates; the projection itself is n_docs rows of
    // 2+|terms| doubles, safe to cache at any corpus size). r11: the
    // double-tokenize was the whole gap behind the r10 bench drift on
    // this query (0.37 -> 0.76 s; ~0.30 s single-pass after).
    val base = Caches.persist(docs
      .select(col("doc_id").cast("long").as("doc_id"),
        tokens(col("text")).as("toks"))
      .select(Seq(col("doc_id"),
        size(col("toks")).cast("double").as("dl")) ++
        terms.indices.map(i =>
          graft.functions.count_token(col("toks"), lit(terms(i)))
            .cast("double").as(s"tf_$i")): _*))
    val stats = base.agg(
      count(lit(1)).cast("double").as("n_docs"),
      (avg(col("dl")).as("avgdl") +:
        terms.indices.map(i =>
          sum((col(s"tf_$i") > 0).cast("double")).as(s"df_$i"))): _*)
    val score = terms.indices.map { i =>
      val tf = col(s"tf_$i")
      val df = col(s"df_$i")
      val idf = log(lit(1.0) + (col("n_docs") - df + 0.5) / (df + 0.5))
      idf * (tf * (k1 + 1.0)) /
        (tf + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl")))
    }.reduce(_ + _)
    val topped = base.crossJoin(broadcast(stats))
      .select(col("doc_id"), round(score, 6).as("score"))
      .filter(col("score") > 0.0)
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(kTop)
    // kTop rows by contract: the un-partitioned window is bounded
    topped.withColumn("rnk", row_number().over(
        Window.orderBy(col("score").desc, col("doc_id").asc)))
      .select(col("rnk").cast("int").as("rnk"), col("doc_id"), col("score"))
  }

  /**
   * Persisted BM25/retrieval INDEX build — the keyword-retrieval
   * counterpart of [[buildMinhashIndex]] (VERDICT r14 #4 / r15 #3). A
   * standing retrieval service answers many query bags against one
   * slowly-growing corpus; [[bm25TopK]] re-tokenizes the corpus and
   * re-derives (df, avgdl, dl) per query batch — the pay-the-corpus
   * cost an index exists to amortize. This build pays it ONCE, writing
   *
   *  - `path/postings` — `(term, doc_id, tf, dl)`, the classic
   *    inverted lists with the document length DENORMALIZED onto each
   *    posting (dl never changes after ingest, so queries score
   *    without a corpus-scale doc-length join), in the shared index
   *    layout ([[LayoutOps.writeParts]]) keyed on `term`: a query bag
   *    prunes to its terms' part directories and its pushed `term`
   *    predicate row-group-skips inside them (spec-pinned);
   *  - `path/doclens` — `(doc_id, dl)` for EVERY document (including
   *    token-free ones that emit no postings): the durable source of
   *    truth the corpus stats are recomputed from;
   *  - `path/params` — the 1-row constant manifest `(n_parts)` (a
   *    reader guessing the partition-unit count would silently prune
   *    to the wrong directories);
   *  - `path/stats` — `(n_docs, sum_dl)` as exact longs, REFRESHED by
   *    every append. Kept separate from the constant manifest so the
   *    one piece an append must overwrite is also the one piece that
   *    is always recomputable from `doclens` ([[refreshBm25Stats]]).
   *
   * Per-term df is deliberately NOT materialized: for a query bag it
   * equals the row count of each (already pruned, candidate-bounded)
   * posting list, so deriving it at query time costs one tiny
   * aggregation and appends never maintain a df table. After heavy
   * append traffic, [[rebuildBm25IndexPointer]] restores the pristine
   * layout (dedup + re-sort + optional `nParts` re-size) in a new
   * pointer generation.
   *
   * Build cost: one tokenize pass, one (term, doc_id) aggregation,
   * one `part`-keyed shuffle clustering the layout — all corpus-scale
   * work that every subsequent query now skips. The build, the append
   * and the rebuild all write through [[writeBm25Index]].
   */
  def buildBm25Index(docs: DataFrame, path: String,
      nParts: Int = 64): Unit = {
    require(nParts >= 1, "buildBm25Index: nParts must be >= 1")
    tokenizedBm25(docs, path, nParts, "overwrite")
  }

  /** Tokenizes `docs` once and writes its doclens and postings to the
    * index at `path` (the build, or an append with mode "append"). dl
    * rides the explode (one small long per token row), so the
    * per-(term, doc) rollup carries it with `first`: no corpus-scale
    * doc-length join. */
  private def tokenizedBm25(docs: DataFrame, path: String, nParts: Int,
      mode: String): Unit = {
    val base = Caches.persist(docs.select(
      col("doc_id").cast("long").as("doc_id"),
      tokens(col("text")).as("toks")))
    writeBm25Index(
      base.select(col("doc_id"), size(col("toks")).cast("long").as("dl")),
      base.select(col("doc_id"), size(col("toks")).cast("long").as("dl"),
          explode(col("toks")).as("term"))
        .groupBy(col("term"), col("doc_id"))
        .agg(count(lit(1)).cast("long").as("tf"), first(col("dl")).as("dl")),
      path, nParts, mode)
    base.unpersist(false)
  }

  /** Writes the BM25 index at `path` from its doclens `(doc_id, dl)` and
    * postings `(term, doc_id, tf, dl)`, in crash order: doclens, the
    * postings in the part layout (`part` hashes the term, so a query
    * bag reads exactly the directories its terms hash to), the manifest
    * (unless appending), then the stats refreshed from doclens. The
    * build, the append and the rebuild all write through here. */
  private def writeBm25Index(doclens: DataFrame, postings: DataFrame,
      path: String, nParts: Int, mode: String): Unit = {
    doclens.write.mode(mode).parquet(s"$path/doclens")
    LayoutOps.writeParts(
      postings.withColumn("part", LayoutOps.hashPart(nParts, col("term"))),
      s"$path/postings", "term", mode)
    if (mode != "append")
      LayoutOps.writeManifest(doclens.sparkSession, s"$path/params",
        "n_parts" -> nParts)
    refreshBm25Stats(doclens.sparkSession, path)
  }

  /** Recompute `path/stats` (n_docs, sum_dl) from `path/doclens` and
    * overwrite it — the repair/refresh half of the index's crash
    * story. `doclens` is append-only and deduplicated here by doc_id
    * (a replayed append re-appends byte-identical rows), so stats
    * CONVERGE under at-least-once appends: running this after any
    * crash window yields the exact full-corpus values. One narrow
    * (doc_id, dl) scan — bytes-per-doc, not corpus text. */
  def refreshBm25Stats(spark: SparkSession, path: String): Unit =
    LayoutOps.indexScan(spark, s"$path/doclens")
      .dropDuplicates(Seq("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(col("dl")).cast("long").as("sum_dl"))
      .coalesce(1).write.mode("overwrite").parquet(s"$path/stats")

  /** Constant-manifest reader (n_parts), read on the driver with no
    * Spark job ([[LayoutOps.indexRows]]); raises with a rebuild message
    * when absent — the [[buildMinhashIndex]] refuse-unverifiable rule. */
  private def bm25IndexNParts(spark: SparkSession, path: String): Int =
    LayoutOps.manifestRows(spark, path, "params", "bm25",
      "params manifest — rebuild with buildBm25Index", Seq("n_parts"),
      _ => "has an unrecognized params layout — rebuild with buildBm25Index")
      .head.getAs[Int]("n_parts")

  /** Corpus-stats reader, read on the driver with no Spark job
    * ([[LayoutOps.indexRows]]); stats are refreshable, so the absence
    * error names the repair tool rather than demanding a rebuild. */
  private def bm25IndexStats(spark: SparkSession,
      path: String): (Long, Long) = {
    val row = LayoutOps.manifestRows(spark, path, "stats", "bm25",
      "stats table (a crash between an append's postings write and its " +
        "stats refresh can drop it) — run refreshBm25Stats to restore " +
        "it from doclens").head
    (row.getAs[Long]("n_docs"), row.getAs[Long]("sum_dl"))
  }

  /**
   * INCREMENTAL index append — new documents join the retrieval corpus
   * without re-tokenizing it. Postings and doclens are PURE APPENDS
   * (no existing row changes: df is query-derived, dl is per-doc), so
   * unlike [[appendToMinhashIndex]] there is no read-modify-write of
   * existing partitions at all — increment-sized work only, landing
   * under the part directories the increment's terms hash to. The
   * corpus stats are then recomputed from `doclens` and overwritten.
   *
   * Crash semantics: the three writes are ORDERED for safe failure at
   * every window. A crash after `doclens` leaves docs invisible (no
   * postings — never surfaced, stats untouched); a crash after
   * `postings` leaves the increment searchable under slightly-stale
   * (N, avgdl) until the retry completes (the order is
   * [[writeBm25Index]]'s). The natural retry replays
   * the whole append: duplicate doclens rows converge inside
   * [[refreshBm25Stats]]'s doc_id dedup, and duplicate posting rows
   * (byte-identical) are absorbed by [[bm25AgainstIndex]]'s
   * candidate-bounded dedup — so after any number of crash/retry
   * cycles the index answers queries identically to a fresh
   * [[buildBm25Index]] over the full corpus (spec-pinned, and the
   * `bm25_index_incr` registry row hash-certifies build+append ==
   * full-rebuild results). Not concurrency-safe: serialize appends
   * per index path.
   *
   * PRECONDITION — new documents only (ADVICE r16): appending a
   * doc_id the index already holds is supported ONLY as a
   * byte-identical replay of a prior append (the crash/retry case
   * above). Re-appending an existing doc_id with CHANGED text is
   * unsupported — the query-side (term, doc_id) dedup and the stats
   * refresh's doc_id dedup would each keep an ARBITRARY row, making
   * that doc's tf/dl partition-order-dependent. To update a
   * document's content, rebuild the corpus's index (or
   * [[rebuildBm25IndexPointer]] after removing the stale rows upstream).
   */
  def appendToBm25Index(newDocs: DataFrame, path: String): Unit = {
    tokenizedBm25(newDocs, path,
      bm25IndexNParts(newDocs.sparkSession, path), "append")
  }

  /**
   * Canonicalizing REBUILD of a [[buildBm25Index]] index — the
   * maintenance half of the lifecycle (VERDICT r16 #3), the BM25
   * analogue of [[graft.operators.VectorOps.rebuildIvfIndexPointer]].
   * BM25 has no trained component, so "re-train" here is a re-LAYOUT:
   * the LIVE generation's postings and doclens are read back,
   * deduplicated ((term, doc_id) / doc_id — purging any byte-identical
   * rows that crashed-and-replayed at-least-once appends accumulated),
   * rewritten through the build's own writer in the pristine layout (term-hash part directories,
   * term-sorted row groups — appends degrade row-group tightness; this
   * restores it, and `nParts > 0` re-sizes the directory fan-out for a
   * corpus that outgrew its build-time value), stats recomputed, and
   * the whole new index published as a NEW generation of the pointer
   * root `root` ([[graft.operators.LayoutOps.withPointerGeneration]]:
   * write a complete generation, commit with one pointer-object write;
   * readers resolve via [[graft.operators.LayoutOps.resolveIndexPointer]]).
   * Serving reads never see a half-index; every crash window leaves the
   * old generation serving.
   *
   * The dedup canonicalizes REPLAYS only: an existing doc_id
   * re-appended with changed text (the unsupported case — see
   * [[appendToBm25Index]]) keeps an arbitrary one of its conflicting
   * rows. Not concurrency-safe with appends: serialize maintenance
   * per index root.
   */
  def rebuildBm25IndexPointer(spark: SparkSession, root: String,
      nParts: Int = 0): Unit = {
    val live = LayoutOps.resolveIndexPointer(spark, root)
    val np = if (nParts > 0) nParts else bm25IndexNParts(spark, live)
    LayoutOps.withPointerGeneration(spark, root)(gen => writeBm25Index(
      LayoutOps.indexScan(spark, s"$live/doclens")
        .dropDuplicates(Seq("doc_id")),
      LayoutOps.indexScan(spark, s"$live/postings")
        .select(col("term"), col("doc_id"), col("tf"), col("dl"))
        .dropDuplicates(Seq("term", "doc_id")),
      gen, np, "overwrite"))
  }

  /** The query-time posting read, factored out so PlanSpec can pin
    * that it PRUNES: the scan's PartitionFilters carry the query
    * terms' `part` set (unqueried part directories are never listed),
    * and the `term` predicate is PUSHED to the parquet reader where
    * the build-time term sort turns it into row-group skips. The part
    * set is computed DRIVER-SIDE with the same Catalyst XxHash64
    * (seed 42) the build's `xxhash64` column evaluates, and the scan's
    * schema comes from one footer ([[LayoutOps.indexScan]]) — zero
    * jobs, and a hash disagreement is structurally impossible. The
    * frame is lazy and unpersisted: [[bm25AgainstIndex]] consumes it
    * once, through its one term-keyed exchange. */
  private[graft] def termPostings(spark: SparkSession, path: String,
      terms: Seq[String], nParts: Int): DataFrame = {
    val parts = terms.map(LayoutOps.hashPartOf(nParts, _)).distinct.sorted
    LayoutOps.indexScan(spark, s"$path/postings")
      .filter(col("part").isin(parts.map(Integer.valueOf): _*) &&
        col("term").isin(terms: _*))
  }

  /**
   * Query a [[buildBm25Index]] index: same output contract and same
   * bit-exact scores as [[bm25TopK]] — `(rnk, doc_id, score)` for the
   * global top `kTop` — but the corpus is never re-read as text. The
   * pruned posting lists carry everything scoring needs: tf and dl on
   * each row, df = each list's row count, (N, avgdl) from the stats
   * manifest.
   *
   * Bit-parity with [[bm25TopK]] is engineered, not hoped for: per-doc
   * scores sum the per-term weights in QUERY-BAG ORDER via conditional
   * aggregates (each sums at most ONE row, so no float reassociation
   * across partitions), absent terms contribute an exact 0.0 (what a
   * tf=0 weight evaluates to), and avgdl = sum_dl/n_docs divides exact
   * longs — equal to any engine's mean of integer-valued doubles.
   * Hash-certified against the `bm25_topk` oracle chain.
   *
   * Scale shape: the manifests are read on the driver
   * ([[LayoutOps.indexRows]], no Spark job) and the scan opens ONLY the
   * query terms' part directories and row-group-skips to their lists;
   * everything downstream is candidate-bounded (Σ df rows). ONE
   * exchange keyed on `term` feeds two windows over the same
   * partitioning: the replayed-append dedup and the df count — no
   * persisted posting frame, no df table, no broadcast. The per-doc
   * sums take one `doc_id`-keyed exchange; the global top-k is
   * TakeOrdered; the final rnk window runs over kTop rows. A collect
   * runs three jobs (PlanSpec-pinned).
   *
   * Mega-bag caveat (VERDICT r16): the fixed-order sum emits one
   * conditional aggregate per query term, so the PLAN grows linearly
   * in |terms| — fine for human keyword bags, wrong for
   * vocabulary-scale bags. Point bags above ~100 terms at
   * [[bm25BatchAgainstIndex]], whose order-free nano-unit fold keeps
   * the plan constant and whose `maxLiteralTerms` guard switches the
   * pruning literals to a semi-join.
   */
  def bm25AgainstIndex(spark: SparkSession, path: String,
      terms: Seq[String], kTop: Int = 20, k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "bm25AgainstIndex: at least one query term")
    require(kTop > 0, "bm25AgainstIndex: kTop must be positive")
    val nParts = bm25IndexNParts(spark, path)
    val (nDocs, sumDl) = bm25IndexStats(spark, path)
    require(nDocs > 0, s"bm25 index at $path is empty")
    val perTerm = weighedPostings(termPostings(spark, path, terms, nParts),
        nDocs, sumDl, k1, b)
      .select(col("doc_id"), col("term"), col("w"))
    // fixed-order sum: one conditional aggregate per query term (each
    // sees <= 1 row), added in bag order — bm25TopK's expression order
    val agg = perTerm.groupBy(col("doc_id")).agg(
      sum(when(col("term") === terms.head, col("w"))).as("w_0"),
      terms.indices.tail.map(i =>
        sum(when(col("term") === terms(i), col("w"))).as(s"w_$i")): _*)
    val score = terms.indices
      .map(i => coalesce(col(s"w_$i"), lit(0.0))).reduce(_ + _)
    val topped = agg
      .select(col("doc_id"), round(score, 6).as("score"))
      .filter(col("score") > 0.0)
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(kTop)
    topped.withColumn("rnk", row_number().over(
        Window.orderBy(col("score").desc, col("doc_id").asc)))
      .select(col("rnk").cast("int").as("rnk"), col("doc_id"), col("score"))
  }

  /** The BM25 weight `w` of each posting read from an index of `nDocs`
    * documents of total length `sumDl`. One term-keyed exchange serves
    * both windows: the lag flag drops replayed-append duplicates
    * (byte-identical (term, doc_id) rows, the [[appendToBm25Index]]
    * crash story; ADJACENT under the doc_id order, and the row_number
    * guard keeps a NULL group's first row), then df is the deduplicated
    * list's row count over the same partitioning. */
  private def weighedPostings(posts: DataFrame, nDocs: Long, sumDl: Long,
      k1: Double, b: Double): DataFrame = {
    val avgdl = sumDl.toDouble / nDocs
    val wTerm = Window.partitionBy(col("term"))
    val wOrd = wTerm.orderBy(col("doc_id").asc)
    val df = count(lit(1)).over(wTerm).cast("double")
    val tf = col("tf").cast("double")
    val idf = log(lit(1.0) + (lit(nDocs.toDouble) - col("df") + 0.5) /
      (col("df") + 0.5))
    posts
      .withColumn("dup", row_number().over(wOrd) > 1 &&
        (col("doc_id") <=> lag(col("doc_id"), 1).over(wOrd)))
      .filter(!col("dup"))
      .withColumn("df", df)
      .withColumn("w", idf * (tf * (k1 + 1.0)) / (tf + lit(k1) *
        (lit(1.0 - b) + lit(b) * col("dl").cast("double") / avgdl)))
  }

  /**
   * BATCH retrieval against a [[buildBm25Index]] index — the standing-
   * service shape: many query bags, one index, one pruned read.
   * `queries` is `(query_id, terms array<string>)`; bags are treated
   * as term SETS (duplicates dropped — unlike [[bm25TopK]]'s
   * positional bag, a batch row has no stable term positions to sum
   * by). Returns the per-query top `kTop`: `(query_id, rnk, doc_id,
   * score)`; a bag whose terms all miss the corpus simply yields no
   * rows.
   *
   * Scoring: identical per-term BM25 weights to [[bm25AgainstIndex]],
   * but summed ORDER-FREE as exact nano-unit longs (each weight
   * rounds to 1e-9 before the fold — the SCALE.md lesson-11 trick),
   * because the fixed-order conditional-sum trick does not generalize
   * to variable bags. Scores may therefore differ from
   * [[bm25TopK]]'s in the 9th decimal; they are deterministic across
   * engines and partitionings, which is what a certified batch
   * operator needs.
   *
   * Scale shape: ONE postings read pruned to the batch's distinct
   * vocabulary (a bounded driver collect — the term union of the
   * batch; the parts filter and the pushed term predicate work
   * exactly as in the single-bag path), the replay dedup and df as
   * the single-bag path's two windows over one term-keyed exchange
   * (no cached posting frame, no df table, no broadcast), then an
   * equi-join of the (query_id, term) pairs against the
   * candidate-bounded posting rows and a per-query rank window
   * (query_id partitions — no skew wider than one query's
   * candidates). Above `maxLiteralTerms` distinct terms the read
   * switches from the isin literals to a SEMI-JOIN on the term frame:
   * a mega-batch's vocabulary inlined into the plan would make the
   * PLAN the bottleneck (the r14 codebook-literal lesson) and touches
   * most part directories anyway, so at that scale the join is the
   * right plan and directory pruning has nothing left to win.
   */
  /** The pruning branch ("literal" | "semi_join") the most recent
    * [[bm25BatchAgainstIndex]] call in this JVM took — bench-artifact
    * observability (VERDICT r18 #3). "none" until the first call. */
  private[graft] val lastBm25BatchBranch =
    new java.util.concurrent.atomic.AtomicReference[String]("none")

  def bm25BatchAgainstIndex(queries: DataFrame, path: String,
      kTop: Int = 20, k1: Double = 1.2, b: Double = 0.75,
      maxLiteralTerms: Int = 4096): DataFrame = {
    require(kTop > 0, "bm25BatchAgainstIndex: kTop must be positive")
    require(maxLiteralTerms >= 1,
      "bm25BatchAgainstIndex: maxLiteralTerms must be >= 1")
    val spark = queries.sparkSession
    val nParts = bm25IndexNParts(spark, path)
    val (nDocs, sumDl) = bm25IndexStats(spark, path)
    require(nDocs > 0, s"bm25 index at $path is empty")
    val qt = Caches.persist(queries.select(
      col("query_id").cast("long").as("query_id"),
      explode(array_distinct(col("terms"))).as("term")))
    val termFrame = qt.select(col("term")).distinct()
    // the literal-vs-join decision needs the count anyway; collect the
    // vocabulary only when it is small enough to inline. The decision
    // is DETERMINISTIC for a fixed batch (a distinct count against a
    // constant); the taken branch is recorded for the bench artifact
    // (VERDICT r18 #3 — adjudicating counter drift needs to know
    // which plan ran)
    val nTerms = termFrame.count()
    lastBm25BatchBranch.set(
      if (nTerms <= maxLiteralTerms) "literal" else "semi_join")
    val read =
      if (nTerms <= maxLiteralTerms) {
        val termList = termFrame.collect().map(_.getString(0)).sorted.toSeq
        termPostings(spark, path, termList, nParts)
      } else
        // broadcast is the optimizer's choice, not forced (the
        // domainCap lesson: a pathological batch could carry a
        // corpus-scale vocabulary and a forced broadcast would OOM)
        LayoutOps.indexScan(spark, s"$path/postings")
          .join(termFrame, Seq("term"), "left_semi")
    qt.join(weighedPostings(read, nDocs, sumDl, k1, b), Seq("term"))
      .select(col("query_id"), col("doc_id"),
        round(col("w") * 1e9, 0).cast("long").as("w_nano"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("w_nano")).as("s_nano"))
      .select(col("query_id"), col("doc_id"),
        round(col("s_nano").cast("double") / 1e9, 6).as("score"))
      .filter(col("score") > 0.0)
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("score").desc, col("doc_id").asc)))
      .filter(col("rnk") <= kTop)
      .select(col("query_id"), col("rnk").cast("int").as("rnk"),
        col("doc_id"), col("score"))
  }

  /** Rank of each document inside its (lang) group by n_chars — window
    * function demo surface. */
  def lengthRank(docs: DataFrame): DataFrame =
    docs.select(col("doc_id").cast("long").as("doc_id"), col("lang"),
      col("n_chars").cast("long").as("n_chars"),
      row_number().over(Window.partitionBy(col("lang"))
        .orderBy(col("n_chars").desc, col("doc_id").asc)).as("rnk"))
      .filter(col("rnk") <= 5)

  /** Word-bigram EVENTS: duplicates kept (repetition matters to a
    * language model), EMPTY for docs with fewer than 2 tokens — unlike
    * [[ngrams]], which falls back to a whole-text gram for short docs. */
  def bigramEvents(text: Column): Column =
    when(size(tokens(text)) < 2, array().cast("array<string>"))
      .otherwise(ngrams(text, 2))

  /**
   * Bigram-LM perplexity scoring — the CCNet-style quality filter: train
   * add-k-smoothed bigram counts on `train` (default: the corpus itself),
   * score every document by its mean negative log-likelihood
   * p(w2|w1) = (c(w1 w2) + k) / (c(w1 ·) + k·V), V = train's distinct
   * unigram vocabulary. Returns (doc_id, n_bigrams, avg_nll, ppl);
   * docs with fewer than 2 tokens produce no bigram events and are
   * absent. `ppl` is exp(avg_nll) after 6dp rounding so external oracles
   * reproduce it bit-stably.
   *
   * Scale: two keyed aggregations over train's bigram events (map-side
   * partials), then one equi-join per count table on the scoring side.
   * The count tables are vocabulary-sized, not corpus-sized; with a
   * curated train corpus (the usual CCNet setup — train on Wikipedia,
   * score the crawl) both sides of the join broadcast. V and the event
   * totals ride 1-row broadcast cross-joins, never a driver collect.
   */
  /** Per-doc bigram events projection shared by the batch and
    * streaming LM scorers. */
  private[graft] def bigramEventRows(d: DataFrame): DataFrame =
    d.select(col("doc_id").cast("long").as("doc_id"),
      explode(bigramEvents(col("text"))).as("bg"))

  /** The trained bigram-LM tables: (bigram counts c2, context counts
    * c1, 1-row vocabulary size). c2 is persisted (it is consumed by c1's
    * derivation and by every scoring join); c1(w1) = Σ c2 over bigrams
    * starting with w1 — a vocabulary-sized re-aggregation, not a second
    * corpus-wide explode+shuffle. */
  private[graft] def bigramLmTables(
      train: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val c2 = bigramEventRows(train).groupBy(col("bg"))
      .agg(count(lit(1)).as("c2"))
      .transform(Caches.persist(_))
    val c1 = c2.groupBy(substring_index(col("bg"), " ", 1).as("w1"))
      .agg(sum(col("c2")).as("c1"))
    val vocab = train.select(explode(tokens(col("text"))).as("w"))
      .agg(count_distinct(col("w")).as("v"))
    (c2, c1, vocab)
  }

  /** Per-event add-k NLL column over the joined (c2, c1, v) columns —
    * shared by the batch and streaming scorers so their math is
    * definitionally identical. */
  private[graft] def lmNll(k: Double): Column =
    -log((coalesce(col("c2"), lit(0L)) + k) /
      (coalesce(col("c1"), lit(0L)) + col("v") * k))

  /** Joins a doc-event frame against the LM tables, yielding
    * (doc_id [, passthrough cols], nll). `hintBroadcast` forces the
    * count tables to broadcast — required for stream-static scoring;
    * batch callers leave the choice to Catalyst/AQE (a huge train
    * corpus can exceed broadcast limits). */
  private[graft] def lmScoreEvents(events: DataFrame, c2: DataFrame,
      c1: DataFrame, vocab: DataFrame, k: Double,
      hintBroadcast: Boolean = false): DataFrame = {
    def side(d: DataFrame) = if (hintBroadcast) broadcast(d) else d
    events
      .join(side(c2), Seq("bg"), "left")
      .withColumn("w1", substring_index(col("bg"), " ", 1))
      .join(side(c1), Seq("w1"), "left")
      .crossJoin(broadcast(vocab))
      .withColumn("nll", lmNll(k))
  }

  def lmPerplexity(docs: DataFrame, train: DataFrame = null,
      k: Double = 0.5): DataFrame = {
    val (c2, c1, vocab) = bigramLmTables(Option(train).getOrElse(docs))
    lmScoreEvents(bigramEventRows(docs), c2, c1, vocab, k)
      .select(col("doc_id"), col("nll"))
      .groupBy(col("doc_id"))
      // order-independent mean: nano-unit long sum (SCALE.md lesson 11;
      // the streaming scorer aggregates identically)
      .agg(count(lit(1)).cast("long").as("n_bigrams"),
        sum(round(col("nll") * 1e9, 0).cast("long")).as("sum_nano"))
      .select(col("doc_id"), col("n_bigrams"),
        round(col("sum_nano").cast("double") / col("n_bigrams") / 1e9, 6)
          .as("avg_nll"))
      .withColumn("ppl", round(exp(col("avg_nll")), 2))
  }

  /**
   * TF-IDF top-`kTop` terms per document: tf = in-doc term count,
   * df = corpus document frequency, idf = ln((N+1)/(df+1)) + 1 (smoothed,
   * never negative), ranked per doc by the 6dp-ROUNDED score with a term
   * tie-break — ranking on the rounded value keeps the order identical
   * across engines whose ln differs in the last ulp.
   *
   * Scale: explode -> two keyed aggregations (per-doc tf, corpus df) ->
   * term equi-join -> per-doc window. The window partitions by doc_id
   * (millions of small partitions, no skew); df is vocabulary-sized.
   */
  def tfidfTopK(docs: DataFrame, kTop: Int = 3): DataFrame = {
    require(kTop > 0, "tfidfTopK: kTop must be positive")
    val terms = docs.select(col("doc_id").cast("long").as("doc_id"),
      explode(tokens(col("text"))).as("term"))
    val tf = terms.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val df = terms.groupBy(col("term"))
      .agg(count_distinct(col("doc_id")).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val score = round(col("tf") *
      (log((col("n_docs") + 1.0) / (col("df") + 1.0)) + 1.0), 6)
    tf.join(df, "term").crossJoin(broadcast(n))
      .withColumn("score", score)
      .withColumn("rnk", row_number().over(Window.partitionBy(col("doc_id"))
        .orderBy(col("score").desc, col("term").asc)))
      .filter(col("rnk") <= kTop)
      .select(col("doc_id"), col("rnk").cast("long").as("rnk"), col("term"),
        col("tf").cast("long").as("tf"), col("df").cast("long").as("df"),
        col("score"))
  }

  /**
   * DSIR-style importance weights: hash every bigram event into one of
   * 256 buckets (first two md5 hex chars — engine-portable), estimate
   * add-1-smoothed bucket distributions over a `target` corpus (the data
   * you WANT more of) and over `docs` (the raw pool), and score each raw
   * document by the mean log-likelihood ratio of its events,
   * avg ln(p_target(b) / p_raw(b)) — documents resembling the target
   * rank high. Returns (doc_id, n_feats, avg_log_ratio); short docs
   * (< 2 tokens) have no events and are absent.
   *
   * Scale: the bucket tables are 256 rows — both distribution joins and
   * the two 1-row totals are broadcasts; everything else is a narrow
   * projection plus one per-doc aggregation. This is the whole point of
   * hashed features: the "model" stays O(buckets) however big the corpus.
   */
  def importanceWeights(docs: DataFrame, target: DataFrame): DataFrame = {
    def events(d: DataFrame): DataFrame =
      d.select(col("doc_id").cast("long").as("doc_id"),
          explode(bigramEvents(col("text"))).as("bg"))
        .select(col("doc_id"), substring(md5(col("bg")), 1, 2).as("b"))
    val rawEv = events(docs)
    val tgtEv = events(target)
    // The bucket tables are <= 256 rows — persist them and DERIVE the
    // event totals by summing, so each corpus is bigram-exploded once
    // for its distribution (plus once more for raw scoring) instead of
    // re-running the explode lineage for every total. The cache cost is
    // bytes; the saved passes are corpus-sized.
    val ct = tgtEv.groupBy(col("b")).agg(count(lit(1)).as("ct"))
      .transform(Caches.persist(_))
    val cr = rawEv.groupBy(col("b")).agg(count(lit(1)).as("cr"))
      .transform(Caches.persist(_))
    val tt = ct.agg(sum(col("ct")).as("tt"))
    val tr = cr.agg(sum(col("cr")).as("tr"))
    val logRatio = log(coalesce(col("ct"), lit(0L)) + 1.0) -
      log(col("tt") + 256.0) -
      log(coalesce(col("cr"), lit(0L)) + 1.0) + log(col("tr") + 256.0)
    rawEv
      .join(broadcast(ct), Seq("b"), "left")
      .join(broadcast(cr), Seq("b"), "left")
      .crossJoin(broadcast(tt)).crossJoin(broadcast(tr))
      .select(col("doc_id"), logRatio.as("lr"))
      .groupBy(col("doc_id"))
      // order-independent mean: nano-unit long sum (SCALE.md lesson 11)
      .agg(count(lit(1)).cast("long").as("n_feats"),
        sum(round(col("lr") * 1e9, 0).cast("long")).as("sum_nano"))
      .select(col("doc_id"), col("n_feats"),
        round(col("sum_nano").cast("double") / col("n_feats") / 1e9, 6)
          .as("avg_log_ratio"))
  }

  // -------------------------------------------------------------------
  // Trainable quality/label classifier (Bernoulli naive Bayes over
  // hashed token-presence features — weak-label distillation, the
  // fastText-filter bootstrap shape)
  // -------------------------------------------------------------------

  /** md5-hex feature bucket of a token: 2 hex chars = 256 buckets,
    * portable across engines (the [[importanceWeights]] / CMS hashing
    * convention). */
  private def featBucket(tok: Column): Column =
    conv(substring(md5(tok), 1, 2), 16, 10).cast("int")

  /**
   * Weak-label distillation classifier — the trainable filter-model
   * layer of a curation pipeline. Real pipelines bootstrap their
   * quality/language filters exactly this way (CCNet, GPT-3's quality
   * model): label documents with a cheap heuristic RULE, train a
   * statistical model on those weak labels, and ship the model where
   * the rule is too brittle or expensive. The reference has no model
   * surface at all; this is pure engine extension.
   *
   * Model: BERNOULLI naive Bayes over 256 md5-hashed token-PRESENCE
   * buckets. Presence/absence (not counts) is the point: the
   * discriminative signal of a keyword-style rule lives in which
   * features are MISSING, which multinomial count models cannot see.
   * With Laplace smoothing, per bucket b:
   *
   *   wp(b) = ln((de+1)/(ne+2)) − ln((dr+1)/(nr+2))
   *   wa(b) = ln((ne+1−de)/(ne+2)) − ln((nr+1−dr)/(nr+2))
   *
   * (de/dr = docs of the positive/negative class containing b, ne/nr =
   * class sizes), and the per-doc log-odds score folds to a constant
   * plus a sum over the doc's own present buckets:
   *
   *   margin(d) = [ln(ne/nr) + Σ_vocab wa(b)] + Σ_{b ∈ d} (wp(b)−wa(b))
   *
   * Determinism: every weight is nano-unit-quantized (`round(w·10⁹)`
   * as long) THE MOMENT it leaves the `ln` — margins are then exact
   * integer sums, order-free and engine-portable (the
   * [[importanceWeights]] parity pattern, hash-green since r5). The
   * weights are computed by Spark SQL `log` expressions (not driver
   * math) so the oracle's `ln` replays the identical double pipeline.
   *
   * Scale shape (100 TB): training is ONE corpus scan — each doc's
   * distinct buckets collapse map-side onto ≤ 256 keys, and only
   * (bucket, de, dr) longs reach the driver. Scoring is ONE more scan
   * with the ≤ 257 trained longs riding as a literal array (the
   * Lloyd-codebook shape: no join, no shuffle of the corpus). The
   * model itself is KB-sized and broadcast-free by construction.
   */
  private[graft] def nbDistillWeights(docs: DataFrame,
      label: Column): (Array[Long], Long) = {
    val nF = 256
    val base = Caches.persist(docs.select(
      when(label, 1L).otherwise(-1L).as("y"),
      array_distinct(transform(tokens(col("text")),
        t => featBucket(t))).as("bs")))
    val cls = base.groupBy(col("y")).agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val ne = cls.getOrElse(1L, 0L)
    val nr = cls.getOrElse(-1L, 0L)
    require(ne > 0 && nr > 0,
      s"nbDistill: both classes must be present (pos=$ne, neg=$nr)")
    // per-bucket class presence counts -> nano-quantized log weights,
    // computed by Spark SQL log so both engines run the same doubles
    val w = base.select(col("y"), explode(col("bs")).as("b"))
      .groupBy(col("b"))
      .agg(sum(when(col("y") === 1L, 1L).otherwise(0L)).as("de"),
        sum(when(col("y") === -1L, 1L).otherwise(0L)).as("dr"))
      .select(col("b"),
        round((log((col("de") + 1.0d) / lit(ne + 2.0d)) -
          log((col("dr") + 1.0d) / lit(nr + 2.0d))) * 1e9, 0)
          .cast("long").as("wp"),
        round((log((lit(ne + 1.0d) - col("de")) / lit(ne + 2.0d)) -
          log((lit(nr + 1.0d) - col("dr")) / lit(nr + 2.0d))) * 1e9, 0)
          .cast("long").as("wa"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    val dw = new Array[Long](nF)
    // class prior through the same Spark-SQL log/round pipeline as the
    // bucket weights (driver math.log/rint would be HALF_EVEN and a
    // different libm — the oracle replays engine semantics)
    var const = docs.sparkSession.range(1)
      .select(round(log(lit(ne.toDouble) / lit(nr.toDouble)) * 1e9, 0)
        .cast("long")).collect()(0).getLong(0)
    w.foreach { case (b, wp, wa) => dw(b) = wp - wa; const += wa }
    (dw, const)
  }

  /**
   * Confusion-matrix report of the [[nbDistillWeights]]-trained
   * classifier on its training corpus: one row per `(y, pred)` cell
   * with the doc count and the exact integer margin sum — the signal a
   * pipeline gates on before trusting a distilled filter. `pred` is
   * `sign(margin)` with 0 → −1 (reject on the boundary).
   */
  /** The trained model applied to a `text` column: the exact integer
    * log-odds margin under `(dw, const)` weights — a STATELESS narrow
    * projection (literal array fold, no join), equally valid on a batch
    * frame or a stream (`DocStream.nbCheck` pins batch/stream equality). */
  private[graft] def nbMargin(dw: Array[Long], const: Long): Column = {
    val dwArr = array(dw.toIndexedSeq.map(lit): _*)
    lit(const) +
      aggregate(array_distinct(transform(tokens(col("text")),
          t => featBucket(t))),
        lit(0L), (acc, b) => acc + element_at(dwArr, b + 1))
  }

  def nbDistillReport(docs: DataFrame, label: Column): DataFrame = {
    val (dw, const) = nbDistillWeights(docs, label)
    val margin = nbMargin(dw, const)
    docs.select(
        when(label, 1).otherwise(-1).as("y"),
        when(margin > 0L, 1).otherwise(-1).as("pred"),
        margin.as("margin"))
      .groupBy(col("y"), col("pred"))
      .agg(count(lit(1)).as("n_docs"), sum(col("margin")).as("margin_sum"))
  }

  /**
   * Language-ID evaluation — the confusion matrix of [[langId]]'s
   * heuristic against the corpus's labeled `lang` column: one row per
   * `(lang, lang_pred)` cell with count and within-language share
   * (the per-class recall diagonal). The classifier-eval twin of
   * [[VectorOps.retrievalMetrics]]: measure the component before
   * trusting it to route a corpus.
   *
   * Scale shape: the prediction is [[langId]]'s narrow regex
   * projection; the matrix is ONE (lang, pred) aggregation with
   * map-side combine, and the share window runs over the
   * |langs|²-bounded cell table, never documents.
   */
  def langIdEval(docs: DataFrame): DataFrame = {
    val cells = langId(docs)
      .groupBy(col("lang"), col("lang_pred"))
      .agg(count(lit(1)).cast("long").as("n_docs"))
    val w = Window.partitionBy(col("lang"))
    cells
      .withColumn("lang_total", sum(col("n_docs")).over(w).cast("long"))
      .select(col("lang"), col("lang_pred"), col("n_docs"),
        col("lang_total"),
        round(col("n_docs").cast("double") / col("lang_total"), 6)
          .as("share"),
        (col("lang") === col("lang_pred")).cast("int").as("correct"))
  }

  /**
   * Zipf rank-frequency law fit — does the corpus's token distribution
   * follow the power law natural text does? A corpus whose fitted
   * log-log slope is far from ≈ −1 (or whose R² is low) is a strong
   * boilerplate/spam/synthetic-text signal at the CORPUS level, the
   * complement of the per-document quality scores. Least-squares fit
   * of `ln(count) ~ ln(rank)` over the top-`topN` tokens (ties broken
   * by token so ranks are engine-identical); one row:
   * `n_ranks, slope, intercept, r2` (6 dp).
   *
   * Scale shape: one (token)-keyed count aggregation with map-side
   * combine, a TakeOrdered top-`topN` (never a global sort), and the
   * regression runs on `topN` rows — the only window is over that
   * bounded set.
   */
  def zipfReport(docs: DataFrame, topN: Int): DataFrame = {
    require(topN > 1, "zipfReport: topN must be > 1")
    val top = docs.select(explode(tokens(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).cast("long").as("n"))
      .orderBy(col("n").desc, col("w").asc)
      .limit(topN)
    val ranked = top.withColumn("rank", row_number().over(
      Window.orderBy(col("n").desc, col("w").asc)))
      .select(log(col("rank").cast("double")).as("x"),
        log(col("n").cast("double")).as("y"))
    ranked.agg(
      count(lit(1)).cast("long").as("nr"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"))
      // degenerate variances (single rank, or all-equal counts for r2)
      // report NULL rather than tripping ANSI division-by-zero
      .select(col("nr"), col("sy"), col("sx"),
        (col("nr") * col("sxy") - col("sx") * col("sy")).as("cov"),
        (col("nr") * col("sxx") - col("sx") * col("sx")).as("vx"),
        (col("nr") * col("syy") - col("sy") * col("sy")).as("vy"))
      .select(col("nr").as("n_ranks"),
        when(col("vx") =!= 0.0, round(col("cov") / col("vx"), 6))
          .as("slope"),
        when(col("vx") =!= 0.0, round((col("sy") -
          col("sx") * (col("cov") / col("vx"))) / col("nr"), 6))
          .as("intercept"),
        when(col("vx") =!= 0.0 && col("vy") =!= 0.0,
          round(col("cov") * col("cov") / (col("vx") * col("vy")), 6))
          .as("r2"))
  }

  /**
   * Deterministic train/val/test split — the epoch-stable assignment a
   * training pipeline needs so a document NEVER migrates between
   * splits across runs or machines: bucket = first two hex digits of
   * `md5(salt|doc_id)` (uniform 0–255 by construction), `train` below
   * `trainBuckets`, `val` in the next `valBuckets`, `test` above. One
   * row per document: `doc_id, bucket, split`.
   *
   * Scale shape: a pure narrow projection — no shuffle, no sampling
   * pass, no state; the split of any document is recomputable from its
   * id alone (the property that makes the split auditable and
   * leak-checkable downstream).
   */
  def datasetSplit(docs: DataFrame, salt: String = "split0",
      trainBuckets: Int = 204, valBuckets: Int = 26,
      keep: Seq[String] = Nil): DataFrame = {
    require(trainBuckets > 0 && valBuckets > 0 &&
      trainBuckets + valBuckets < 256,
      "datasetSplit: need 0 < trainBuckets, 0 < valBuckets, " +
        "trainBuckets + valBuckets < 256")
    val hex = md5(concat(lit(salt), lit("|"),
      col("doc_id").cast("long").cast("string")))
    val kept = keep.map(col)
    docs.select(col("doc_id").cast("long").as("doc_id") +:
        conv(hex.substr(1, 2), 16, 10).cast("int").as("bucket") +:
        kept: _*)
      .select(col("doc_id") +: col("bucket") +:
        when(col("bucket") < trainBuckets, lit("train"))
          .when(col("bucket") < trainBuckets + valBuckets, lit("val"))
          .otherwise(lit("test")).as("split") +: kept: _*)
  }
}
