package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Similarity-search operators over an `embeddings(vec_id, embedding:
 * array<float>, label)` table (SURVEY.md §2.3).
 *
 * All arithmetic is cast to double and folded sequentially (index order)
 * with `aggregate(zip_with(...))`, so results are bit-reproducible across
 * engines that fold left-to-right in double — scores are additionally
 * rounded to 6dp before ranking so orderings cannot hinge on last-ulp
 * differences.
 *
 * Scale notes (100 TB): `cosineTopK` broadcasts the (small) probe set and
 * scans the corpus once — no shuffle of the big side; per-probe top-k is a
 * windowed rank over probe partitions. `annTopK` is the bucketed scale
 * path: both sides hash into deterministic hyperplane-sign buckets and
 * only same-bucket pairs are scored (an equi-join on bucket id that
 * shuffles each vector once), trading recall for a corpus-size-times-
 * bucket-count reduction in scored pairs.
 */
object VectorOps {

  /** cosine(a,b) rounded to 6dp (native single-pass expression;
    * bit-identical to the columnar fold). Callers must have invoked
    * `graft.functions.ensureRegistered` — the operators here do. */
  def cosine6(a: Column, b: Column): Column =
    round(graft.functions.cosine(a, b), 6)

  /**
   * Brute-force cosine top-k: for every probe (`vec_id < nProbes`), the k
   * nearest other vectors by cosine, ranked by (score desc, vec_id asc).
   */
  def cosineTopK(emb: DataFrame, nProbes: Int, k: Int): DataFrame = {
    graft.functions.ensureRegistered(emb.sparkSession)
    val probes = broadcast(emb.filter(col("vec_id") < nProbes)
      .select(col("vec_id").as("probe_id"), col("embedding").as("p_emb")))
    val scored = probes.join(emb.filter(col("vec_id") >= 0),
        col("vec_id") =!= col("probe_id"))
      .select(col("probe_id").cast("long").as("probe_id"),
        col("vec_id").cast("long").as("neighbor_id"),
        cosine6(col("p_emb"), col("embedding")).as("score"))
    scored
      .withColumn("rnk", row_number().over(Window.partitionBy(col("probe_id"))
        .orderBy(col("score").desc, col("neighbor_id").asc)))
      .filter(col("rnk") <= k)
      .select(col("probe_id"), col("rnk").cast("int").as("rnk"),
        col("neighbor_id"), col("score"))
  }

  /**
   * Hard-negative mining for contrastive training: for every probe
   * (`vec_id < nProbes`), the `k` most-similar vectors with a
   * DIFFERENT label — the near-misses that make the best negatives
   * for embedding-model fine-tuning (in-batch random negatives stop
   * teaching once the model separates easy pairs).
   *
   * Same scale shape as [[cosineTopK]]: probes (with labels)
   * broadcast, corpus scanned once, the label inequality rides the
   * broadcast join condition so same-label pairs are never scored,
   * per-probe top-k as a probe-partitioned rank.
   */
  def hardNegatives(emb: DataFrame, nProbes: Int, k: Int): DataFrame = {
    graft.functions.ensureRegistered(emb.sparkSession)
    val probes = broadcast(emb.filter(col("vec_id") < nProbes)
      .select(col("vec_id").as("probe_id"), col("label").as("probe_label"),
        col("embedding").as("p_emb")))
    probes.join(emb,
        col("vec_id") =!= col("probe_id") &&
          col("label") =!= col("probe_label"))
      .select(col("probe_id").cast("long").as("probe_id"),
        col("probe_label").cast("int").as("probe_label"),
        col("vec_id").cast("long").as("neighbor_id"),
        col("label").cast("int").as("neighbor_label"),
        cosine6(col("p_emb"), col("embedding")).as("score"))
      .withColumn("rnk", row_number().over(Window.partitionBy(col("probe_id"))
        .orderBy(col("score").desc, col("neighbor_id").asc)))
      .filter(col("rnk") <= k)
      .select(col("probe_id"), col("probe_label"),
        col("rnk").cast("int").as("rnk"),
        col("neighbor_id"), col("neighbor_label"), col("score"))
  }

  /**
   * Margin-criterion bitext mining (Artetxe & Schwenk 2019, the
   * CCMatrix/LASER parallel-corpus pipeline): for every vector of
   * side A, the best side-B match scored by
   * `margin(x, y) = cos(x, y) / ((avgTopK_B(x) + avgTopK_A(y)) / 2)`
   * — raw cosine over-selects "hub" sentences that are close to
   * everything; dividing by both directions' average top-`k`
   * neighborhood similarity cancels hubness so genuinely parallel
   * pairs surface. Returns one row per A vector: its best B match,
   * the raw cosine, both neighborhood means, and the 6dp margin.
   *
   * Scale shape: sides are scored once into one pair frame
   * ([[Caches.persist]]-ed — the two directional neighborhood
   * aggregations and the final argmax all reuse it instead of
   * re-scoring), neighborhood means are per-key top-k aggregations
   * over that frame, and the argmax is a rank over A partitions. At
   * 100 TB the pair frame must come from an ANN candidate stage
   * ([[annTopK]]/[[ivfTopK]]) rather than the exhaustive cross join;
   * the margin algebra downstream is identical.
   */
  def bitextMargin(sideA: DataFrame, sideB: DataFrame, k: Int = 4): DataFrame = {
    graft.functions.ensureRegistered(sideA.sparkSession)
    val a = broadcast(sideA.select(col("vec_id").cast("long").as("a_id"),
      col("embedding").as("a_emb")))
    bitextMarginFromPairs(a.join(
        sideB.select(col("vec_id").cast("long").as("b_id"),
          col("embedding").as("b_emb")), lit(true))
      .select(col("a_id"), col("b_id"),
        cosine6(col("a_emb"), col("b_emb")).as("cos")), k)
  }

  /**
   * The margin algebra of [[bitextMargin]], factored over an arbitrary
   * candidate pair frame `(a_id, b_id, cos)` — the seam that makes the
   * 100 TB path a drop-in: feed it the exhaustive cross-scored frame
   * (certification, [[bitextMargin]]) or an ANN candidate frame
   * ([[bitextMarginAnn]]) and the downstream hubness correction and
   * argmax are byte-identical. Neighborhood means are computed over
   * the SUPPLIED pairs (for ANN candidates that is the standard
   * approximation: the top-k of retrieved candidates stands in for
   * the true top-k neighborhood). No forced broadcasts — both mean
   * frames are |side|-row tables at corpus scale, so the join
   * strategy is left to the optimizer/AQE (the r10 `domainCap`
   * lesson: a forced broadcast of a corpus-cardinality frame OOMs
   * where a plain shuffle join is safe).
   */
  def bitextMarginFromPairs(pairFrame: DataFrame, k: Int = 4): DataFrame = {
    require(k > 0, s"bitextMargin: k $k must be positive")
    val pairs = Caches.persist(pairFrame.select(
      col("a_id").cast("long").as("a_id"),
      col("b_id").cast("long").as("b_id"), col("cos")))
    // mean in EXACT integer arithmetic, not round(avg(double), 6): the
    // cosines are 6dp decimals, so the top-k mean is the rational
    // Σmicro/k — and a mean of 6dp decimals lands on a .5e-6 rounding
    // boundary often (k=4: whenever Σmicro ≡ 2 mod 4), exactly where
    // Spark's decimal-string HALF_UP and another engine's binary
    // rounding disagree (observed on the ANN candidate frame). The
    // HALF_UP division runs in integers (the `divHalfUp` positive-
    // operand rearrangement; floor of an exact small-integer quotient
    // is exact in IEEE), so both engines produce the identical 6dp
    // decimal with no double ever rounded at a boundary.
    def neighborhoodMean(keyCol: String, outCol: String): DataFrame =
      pairs.withColumn("rn", row_number().over(
          Window.partitionBy(col(keyCol))
            .orderBy(col("cos").desc,
              col(if (keyCol == "a_id") "b_id" else "a_id").asc)))
        .filter(col("rn") <= k)
        .groupBy(col(keyCol))
        .agg(sum(round(col("cos") * 1000000.0, 0).cast("long")).as("s_"),
          count(lit(1)).as("n_"))
        .select(col(keyCol),
          (when(col("s_") >= 0,
            floor((col("s_") * 2 + col("n_")) / (col("n_") * 2)))
            .otherwise(-floor(((-col("s_")) * 2 + col("n_")) /
              (col("n_") * 2))))
            .cast("double")./(1000000.0).as(outCol))
    val aMean = neighborhoodMean("a_id", "a_mean")
    val bMean = neighborhoodMean("b_id", "b_mean")
    pairs.join(aMean, Seq("a_id")).join(bMean, Seq("b_id"))
      .select(col("a_id"), col("b_id"), col("cos"),
        col("a_mean"), col("b_mean"),
        round(col("cos") * 2 / (col("a_mean") + col("b_mean")), 6)
          .as("margin"))
      .withColumn("rn", row_number().over(Window.partitionBy(col("a_id"))
        .orderBy(col("margin").desc, col("b_id").asc)))
      .filter(col("rn") === 1).drop("rn")
  }

  /**
   * ANN-fed bitext margin mining — the shape that actually runs at
   * corpus scale ([[bitextMargin]]'s docstring promise, now code):
   * candidates come from an IVF stage instead of the |A|·|B|
   * exhaustive cross join. The coarse codebook is the `nCentroids`
   * smallest-id side-B vectors (deterministic, training-free — the
   * [[ivfTopK]] seeding convention, so an external SQL oracle can
   * replay assignment exactly); BOTH sides assign to their nearest
   * centroid via the shared map-side [[assignClusters]] fold, and
   * only same-cluster (A, B) pairs are scored. The margin algebra is
   * [[bitextMarginFromPairs]] — shared, not duplicated.
   *
   * Scale shape: codebook broadcast as literals (KB), each side
   * scanned once for assignment, ONE shuffle keyed by cluster for
   * the candidate join — pair work is Σ|A_c|·|B_c| per cluster, not
   * |A|·|B|. A vectors whose cluster holds no B vectors yield no row
   * (approximate by design, like every ANN path here); recall vs the
   * exhaustive path is certified by [[bitextMarginAnnRecall]]
   * (`bitext_margin_recall`), the `ivf_probe_curve` discipline.
   */
  def bitextMarginAnn(sideA: DataFrame, sideB: DataFrame, k: Int = 4,
      nCentroids: Int = 16): DataFrame = {
    graft.functions.ensureRegistered(sideA.sparkSession)
    require(nCentroids > 0, s"bitextMarginAnn: nCentroids must be positive")
    val cents = sideB.select(col("vec_id").cast("long").as("centroid_id"),
        col("embedding").as("c_emb"))
      .orderBy(col("centroid_id").asc).limit(nCentroids)
    val aAssigned = assignClusters(
        sideA.select(col("vec_id").cast("long").as("vec_id"), col("embedding")),
        cents)
      .select(col("vec_id").as("a_id"), col("embedding").as("a_emb"),
        col("cluster"))
    val bAssigned = assignClusters(
        sideB.select(col("vec_id").cast("long").as("vec_id"), col("embedding")),
        cents)
      .select(col("vec_id").as("b_id"), col("embedding").as("b_emb"),
        col("cluster"))
    bitextMarginFromPairs(
      aAssigned.join(bAssigned, Seq("cluster"))
        .select(col("a_id"), col("b_id"),
          cosine6(col("a_emb"), col("b_emb")).as("cos")), k)
  }

  /**
   * ANN-vs-exhaustive certification for [[bitextMarginAnn]] — the
   * parameter-sizing evidence a 100 TB deployment reads before
   * trusting the approximate path (the `ivf_probe_curve` /
   * `ann_recall` discipline applied to margin mining): both paths run
   * on the SAME sides, join on the A id, and one row reports
   * `n_a` (exhaustive matches), `n_agree` (ANN picked the identical
   * best B), `n_missed` (A ids the candidate stage starved — empty
   * cluster), and `margin_gap_micro` (Σ of the 6dp margin deltas in
   * exact micro-units where both paths answered — signed: the ANN
   * margin can exceed the exhaustive one because its neighborhood
   * means see only candidates). Certification-scale by intent: run at
   * a sampled SF to size `nCentroids`, not on the full corpus.
   */
  def bitextMarginAnnRecall(sideA: DataFrame, sideB: DataFrame,
      k: Int = 4, nCentroids: Int = 16): DataFrame = {
    val full = bitextMargin(sideA, sideB, k)
      .select(col("a_id"), col("b_id").as("full_b"),
        col("margin").as("full_margin"))
    val ann = bitextMarginAnn(sideA, sideB, k, nCentroids)
      .select(col("a_id"), col("b_id").as("ann_b"),
        col("margin").as("ann_margin"))
    full.join(ann, Seq("a_id"), "left")
      .agg(count(lit(1)).cast("long").as("n_a"),
        sum(when(col("ann_b").isNotNull && col("ann_b") === col("full_b"),
          1L).otherwise(0L)).cast("long").as("n_agree"),
        sum(when(col("ann_b").isNull, 1L).otherwise(0L)).cast("long")
          .as("n_missed"),
        sum(when(col("ann_b").isNotNull,
          round((col("full_margin") - col("ann_margin")) * 1000000.0, 0)
            .cast("long")).otherwise(0L)).cast("long")
          .as("margin_gap_micro"))
  }

  /** Deterministic pseudo-random hyperplane component: plane `j`,
    * dimension `d` -> ((j*31 + d*7) % 13) - 6, as double. */
  private def planeComponent(j: Int, d: Column): Column =
    ((lit(j * 31) + d * 7) % 13 - 6).cast("double")

  /** Sign-bucket id from `numPlanes` hyperplanes: bit j set iff
    * dot(v, plane_j) >= 0. */
  def lshBucket(v: Column, numPlanes: Int): Column =
    (0 until numPlanes).map { j =>
      val dot = aggregate(
        zip_with(v, sequence(lit(0), size(v) - 1),
          (x, d) => x.cast("double") * planeComponent(j, d)),
        lit(0.0d), (acc, x) => acc + x)
      when(dot >= 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  /**
   * Embedding-cosine near-duplicate pairs, bucketed: only same-bucket
   * pairs are scored (hyperplane-sign LSH — approximate recall by
   * design, never an all-pairs cross join). Pairs with
   * cosine >= threshold, doc order a < b.
   *
   * Scale shape: a bucket-keyed SELF-JOIN — each side shuffles the
   * bucketed corpus once and pairs STREAM out of the join, so no task
   * ever buffers a bucket (the previous collect_list formulation put
   * every member embedding of a bucket into ONE aggregation row; with
   * only 2^numPlanes buckets globally that row is ~corpus/2^numPlanes
   * embeddings — OOM long before pair expansion). Pair WORK is still
   * m² per bucket: size `numPlanes ~ log2(corpus / targetBucketSize)`
   * so buckets average the pair budget you can afford (6 planes = 64
   * buckets fits the sf test corpora; a 10⁹-vector corpus wants ~20),
   * and set `maxBucketSize > 0` to DROP oversize buckets outright —
   * the same escape hatch as `nearDupPairs`/`simhashPairs`, for skewed
   * sign-spaces where many vectors share a bucket (recall loss is
   * explicit and bounded to the dropped buckets).
   */
  def embedNearDup(emb: DataFrame, threshold: Double,
      numPlanes: Int = 6, maxBucketSize: Long = 0L): DataFrame = {
    graft.functions.ensureRegistered(emb.sparkSession)
    // persisted: the self-join consumes the bucketed frame twice and the
    // per-row hyperplane fold is the expensive stage — without the
    // barrier it would run twice per action. Cache lives as long as the
    // returned lazy plan (see SCALE.md persist-lifecycle note).
    val bucketed = emb.select(col("vec_id").cast("long").as("vec_id"),
      col("embedding"), lshBucket(col("embedding"), numPlanes).as("bucket"))
      .transform(Caches.persist(_))
    val pruned =
      if (maxBucketSize <= 0L) bucketed
      else {
        // at most 2^numPlanes rows — always broadcastable
        val keep = broadcast(bucketed.groupBy(col("bucket"))
          .agg(count(lit(1)).as("bucket_n"))
          .filter(col("bucket_n") <= maxBucketSize)
          .select(col("bucket")))
        bucketed.join(keep, Seq("bucket"))
      }
    pruned.select(col("bucket"), col("vec_id").as("vec_a"),
        col("embedding").as("emb_a"))
      .join(pruned.select(col("bucket"), col("vec_id").as("vec_b"),
        col("embedding").as("emb_b")), Seq("bucket"))
      .filter(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"), col("bucket"),
        cosine6(col("emb_a"), col("emb_b")).as("score"))
      .filter(col("score") >= threshold)
  }

  /**
   * Semantic near-duplicate GROUPS: connected components over the
   * bucketed embedding-cosine pair graph ([[embedNearDup]]) — every
   * transitively-linked paraphrase set collapses to one cluster with
   * the minimum vec_id as keeper. The clustering engine is
   * [[TextOps.connectedComponents]] (same strategies and convergence
   * contract as the text-side `nearDupClusters`). EAGER.
   */
  def embedNearDupClusters(emb: DataFrame, threshold: Double,
      numPlanes: Int = 6, maxIters: Int = 25,
      driverEdgeLimit: Long = 1000000L, maxBucketSize: Long = 0L): DataFrame =
    TextOps.connectedComponents(
      embedNearDup(emb, threshold, numPlanes, maxBucketSize)
        .select(col("vec_a"), col("vec_b")),
      maxIters, driverEdgeLimit, idCol = "vec_id")

  /**
   * IVF-style approximate top-k: assign every vector to its
   * nearest-centroid cluster, then search only the probe's own cluster.
   * Centroids here are the first `nCentroids` vectors (deterministic,
   * training-free seeding so external oracles can replicate the
   * partition exactly); `ivfTopKTrained` is the k-means-trained
   * production variant with the identical assign/search structure.
   * Shuffle profile: one broadcast of the centroids, one shuffle keyed
   * by cluster.
   */
  def ivfTopK(emb: DataFrame, nProbes: Int, k: Int,
      nCentroids: Int = 16): DataFrame =
    ivfTopKWith(emb, firstNCentroids(emb, nCentroids), nProbes, k)

  /** IVF with k-means-trained centroids (the production coarse
    * quantizer): Lloyd's iterations run distributed through Spark ML's
    * `KMeans`, deterministic for a fixed seed. No SQL oracle can
    * replicate the training, so correctness coverage is structural
    * (assignment totality, in-cluster search) rather than hash parity. */
  def ivfTopKTrained(emb: DataFrame, nProbes: Int, k: Int,
      nCentroids: Int = 16, maxIter: Int = 10, seed: Long = 7L): DataFrame =
    ivfTopKWith(emb, kmeansCentroids(emb, nCentroids, maxIter, seed), nProbes, k)

  /**
   * IVF with DETERMINISTIC Lloyd-trained centroids — the trained coarse
   * quantizer re-expressed so an external SQL engine can replicate the
   * training bit-for-bit (the one registry row `embed_ann_ivf_trained`
   * that was rows-only through r8 becomes hash-matched):
   *
   *  - embeddings are quantized to integer MICRO-UNITS
   *    (`round(v·10⁶)` as long) — every subsequent training step is
   *    exact integer arithmetic, order-free and engine-portable;
   *  - init: the first `nCentroids` vectors by `vec_id` (no RNG);
   *  - each of the `iters` fixed Lloyd rounds assigns every vector to
   *    its min-L2²-distance centroid (exact integer distance, ties to
   *    the lowest centroid id) and recomputes each centroid component
   *    as the HALF_UP integer division `Σx / n` (empty cells keep
   *    their previous centroid);
   *  - search is the shared [[ivfSearch]] stage (cosine over the
   *    ORIGINAL float embeddings, 6dp).
   *
   * Unlike [[ivfTopKTrained]] (Spark ML `KMeans`, seeded RNG init +
   * double means — not SQL-replicable, covered structurally by
   * [[ivfTrainedCheck]]), this variant's full train+assign+search is
   * mirrored as chained CTEs in the DuckDB oracle.
   *
   * Scale shape: each Lloyd round is one corpus scan (map-side fold
   * against a literal codebook — no join) plus one k×dims-cell partial
   * aggregation; only k×dims scalars ever reach the driver per round.
   * That is textbook distributed Lloyd: iteration cost = scans, not
   * shuffles of the corpus.
   */
  def ivfTopKLloyd(emb: DataFrame, nProbes: Int, k: Int,
      nCentroids: Int = 16, iters: Int = 2): DataFrame = {
    graft.functions.ensureRegistered(emb.sparkSession)
    val cents = lloydCentroidsMicro(emb, nCentroids, iters)
    val assigned = emb.select(col("vec_id").cast("long").as("vec_id"),
      col("embedding"),
      nearestMicroL2(quantizeMicro(col("embedding")), cents).as("cluster"))
    ivfSearch(assigned, nProbes, k)
  }

  /** Embedding → integer micro-units: `round(v·10⁶)` per component.
    * Spark's `round` (HALF_UP on the double) and DuckDB's `round`
    * (half-away-from-zero) agree on all doubles, so both engines
    * produce identical longs from identical float32 inputs. */
  private def quantizeMicro(c: Column): Column =
    transform(c, v => round(v.cast("double") * 1000000.0d, 0).cast("long"))

  /** HALF_UP integer division `s/n` (n > 0) in pure long arithmetic:
    * both engines' integer `/` truncate, and the rearrangement keeps
    * numerator and denominator positive so truncate == floor. Exact at
    * any magnitude a 100 TB corpus produces (|2s+n| needs < 2⁶³:
    * micro-components ≤ ~10⁷ × 10¹⁰ rows ≈ 10¹⁷ — headroom 90×). */
  private def divHalfUp(s: Long, n: Long): Long =
    if (s >= 0) (2 * s + n) / (2 * n) else -((2 * -s + n) / (2 * n))

  /** Min-L2² assignment against a literal micro-unit codebook: exact
    * long distance `Σ(x−c)²` per centroid, ties to the lowest centroid
    * id — since r9 the native [[graft.functions.MicroArgmin]] kernel
    * (one tight long loop per vector). The previous column formulation
    * (`array_position(dists, array_min(dists))` over k `zip_with` +
    * `aggregate` folds) is value-identical — TextVectorSpec pins kernel ==
    * column on random and tie-crafted inputs — but paid k·2·dims
    * INTERPRETED lambda evals per vector: the r9 bench measured the
    * 2-round Lloyd trainer at ~7 s/run from exactly this, the kernel
    * runs it in milliseconds. Map-side only (lesson-4 shape: no
    * codebook join, no window). */
  private def nearestMicroL2(qx: Column,
      cents: Array[(Long, Array[Long])]): Column = {
    require(cents.nonEmpty, "nearestMicroL2: empty codebook")
    graft.functions.micro_argmin(qx, cents.map(_._1),
      cents.flatMap(_._2))
  }

  /** The deterministic Lloyd loop of [[ivfTopKLloyd]]: returns the
    * final `(centroid_id, micro-components)` codebook. Centroid ids are
    * the seeding vec_ids (`vec_id < k`), mirroring [[firstNCentroids]]. */
  private[graft] def lloydCentroidsMicro(emb: DataFrame, k: Int,
      iters: Int): Array[(Long, Array[Long])] = {
    require(k > 0 && iters >= 0, "lloydCentroidsMicro: k > 0, iters >= 0")
    val q = Caches.persist(emb.select(col("vec_id").cast("long").as("vec_id"),
      quantizeMicro(col("embedding")).as("qx")))
    var cents: Array[(Long, Array[Long])] = q.filter(col("vec_id") < k)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
      .sortBy(_._1)
    require(cents.nonEmpty, s"lloydCentroidsMicro: no vectors with vec_id < $k")
    var round = 0
    while (round < iters) {
      // one corpus scan: assign (map-side fold) + per-(cell, dim) sums;
      // only k×dims (cell, dim, Σx, n) scalars collect
      val sums = q
        .select(nearestMicroL2(col("qx"), cents).as("cluster"),
          posexplode(col("qx")).as(Seq("dim", "x")))
        .groupBy(col("cluster"), col("dim"))
        .agg(sum(col("x")).as("s"), count(lit(1)).as("n"))
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
      val byCluster = sums.groupBy(_._1)
      cents = cents.map { case (cid, prev) =>
        byCluster.get(cid) match {
          case Some(rows) =>
            val next = prev.clone()
            rows.foreach { case (_, dim, s, n) => next(dim) = divHalfUp(s, n) }
            (cid, next)
          case None => (cid, prev) // empty cell keeps its centroid
        }
      }
      round += 1
    }
    cents
  }

  /** K-means centroids over the embedding column as a `(centroid_id,
    * c_emb array<float>)` frame — broadcastable coarse-quantizer
    * codebook. */
  def kmeansCentroids(emb: DataFrame, k: Int = 16, maxIter: Int = 10,
      seed: Long = 7L): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val feats = emb.select(
      array_to_vector(col("embedding").cast("array<double>")).as("features"))
    val model = new KMeans().setK(k).setMaxIter(maxIter).setSeed(seed)
      .fit(feats)
    val sp = emb.sparkSession
    import sp.implicits._
    sp.createDataset(model.clusterCenters.toSeq.zipWithIndex.map {
      case (c, i) => (i.toLong, c.toArray.map(_.toFloat).toSeq)
    }).toDF("centroid_id", "c_emb")
  }

  /** Deterministic training-free codebook: the first `n` vectors. */
  private def firstNCentroids(emb: DataFrame, n: Int): DataFrame =
    emb.filter(col("vec_id") < n)
      .select(col("vec_id").cast("long").as("centroid_id"),
        col("embedding").as("c_emb"))

  /** Nearest-centroid assignment: `(vec_id, embedding, cluster)` rows,
    * one per input vector, ties broken by lowest centroid id.
    *
    * The codebook is SMALL by contract (it is the coarse quantizer), so
    * it is materialized driver-side (one tiny eager job) and inlined as
    * a literal array; the argmax is then a pure map-side fold — no
    * codebook join (which would blow every row up x nCentroids) and no
    * per-vector window shuffle. At 100 TB this keeps assignment
    * embarrassingly parallel: the corpus is scanned once, nothing moves. */
  def assignClusters(emb: DataFrame, centroidsDf: DataFrame): DataFrame = {
    graft.functions.ensureRegistered(emb.sparkSession)
    val cents = centroidsDf
      .select(col("centroid_id").cast("long"), col("c_emb"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
      .sortBy(_._1)
    require(cents.nonEmpty, "assignClusters: empty codebook")
    // A zero-norm centroid makes every cosine against it NaN, and Spark
    // SQL's ordering comparisons treat NaN as greater than any number —
    // one degenerate codebook entry would silently capture EVERY vector.
    // The codebook is already on the driver, so reject it here (cheap,
    // loud) rather than guarding every fold step.
    cents.foreach { case (id, e) =>
      require(e.exists(_ != 0.0f),
        s"assignClusters: centroid $id has zero norm — cosine against it " +
          "is undefined (NaN) and would absorb all assignments")
    }
    // The fold is SEEDED with the first (lowest-id) centroid and only a
    // strictly better score replaces, so ties keep the lowest
    // centroid_id — identical to the previous row_number(score desc,
    // centroid_id asc) formulation — and a degenerate vector whose
    // cosines are all NaN (zero norm) deterministically lands in the
    // first centroid's cluster instead of a sentinel (the isnan guard
    // keeps NaN scores from ever replacing the seed under Spark's
    // NaN-is-greatest comparison semantics). The lambda body touches
    // only bound vars, attributes, and the native cosine kernel
    // (SCALE.md lessons 4 and 6).
    val centArr = array(cents.tail.toIndexedSeq.map { case (id, e) =>
      struct(lit(id).as("id"), array(e.map(lit): _*).as("emb")) }: _*)
    val seed = struct(
      cosine6(col("embedding"), array(cents.head._2.map(lit): _*)).as("s"),
      lit(cents.head._1).as("id"))
    val best =
      if (cents.length == 1) seed
      else aggregate(centArr, seed, (acc, c) => {
        val sc = cosine6(col("embedding"), c.getField("emb"))
        when(!isnan(sc) && sc > acc.getField("s"),
          struct(sc.as("s"), c.getField("id").as("id"))).otherwise(acc)
      })
    emb.select(col("vec_id").cast("long").as("vec_id"), col("embedding"),
      best.getField("id").as("cluster"))
  }

  /**
   * Embedding-norm sanity report — the vector-side intake QC: per
   * label, vector count, ZERO-NORM count (the degenerate rows that
   * make cosine NaN — the exact failure [[assignClusters]] guards its
   * codebook against), and min/mean/max L2 norm (un-normalized
   * corpora, scale drift between embedding-model versions). Norms ride
   * the native l2_sq kernel against a row-sized zero vector (sequential
   * accumulation — bit-identical to a serial oracle), so the report is
   * one narrow projection + one label-keyed aggregation.
   */
  def normReport(emb: DataFrame): DataFrame = {
    graft.functions.ensureRegistered(emb.sparkSession)
    // zero vector sized from the ROW's own embedding: a fixed-dim
    // literal would make l2_sq return NULL on any length mismatch and
    // silently certify a mis-shaped corpus as clean
    val zeros = array_repeat(lit(0.0f), size(col("embedding")))
    emb.select(col("label"),
      round(sqrt(graft.functions.l2_sq(col("embedding"), zeros)), 6)
        .as("nrm"))
      // order-independent mean: 6dp norms are exact micro-unit longs
      // (see clusterReport — avg over doubles is sum-order sensitive at
      // the rounding boundary)
      .withColumn("micro", round(col("nrm") * 1e6, 0).cast("long"))
      .groupBy(col("label"))
      .agg(count(lit(1)).cast("long").as("n_vecs"),
        coalesce(sum(when(col("nrm") === 0.0, 1L).otherwise(0L)), lit(0L))
          .cast("long").as("n_zero"),
        round(min(col("nrm")), 6).as("min_norm"),
        round(max(col("nrm")), 6).as("max_norm"),
        sum(col("micro")).as("sum_micro"))
      .select(col("label"), col("n_vecs"), col("n_zero"),
        col("min_norm"), col("max_norm"),
        round(col("sum_micro").cast("double") / col("n_vecs") / 1e6, 6)
          .as("mean_norm"))
  }

  /**
   * IVF index-balance report — the operational question behind every
   * IVF / SemDeDup parameter choice: are the coarse cells BALANCED
   * (cell size drives per-probe candidate cost and AQE skew risk) and
   * how TIGHT are they (member->centroid cosine)? One row per cluster:
   * member count, mean and worst member->centroid cosine (6dp).
   *
   * Centroids default to the deterministic first-`nCentroids` vectors
   * (oracle-replayable); pass [[kmeansCentroids]] output as
   * `centroidsDf` for the trained report. Scale shape: assignment is
   * the map-side literal-codebook fold of [[assignClusters]]; the
   * member->centroid rescore joins the tiny codebook by BROADCAST; the
   * only shuffle moves (cluster, score) pairs into a
   * nCentroids-row aggregation.
   */
  def clusterReport(emb: DataFrame, nCentroids: Int = 16,
      centroidsDf: DataFrame = null): DataFrame = {
    val cents = Option(centroidsDf).getOrElse(firstNCentroids(emb, nCentroids))
    val assigned = assignClusters(emb, cents)
    assigned
      .join(broadcast(cents.select(
        col("centroid_id").cast("long").as("cluster"), col("c_emb"))),
        Seq("cluster"))
      .select(col("cluster"), cosine6(col("embedding"), col("c_emb")).as("s"))
      // The mean must be ORDER-INDEPENDENT to hash-match an external
      // oracle: averaging doubles directly leaves the last ulp at the
      // mercy of partition sum order, and one boundary-straddling cell
      // flips the 6dp rounding (observed). The 6dp scores are exact in
      // micro-units, so sum LONGS and divide once. A zero-norm MEMBER
      // (assignClusters only guards centroid norms) scores NaN — it
      // stays in n_vecs but is excluded from the tightness stats
      // (micro -> null skips the sum; Spark's min already treats NaN as
      // greatest), so one degenerate vector can't poison mean_cos or
      // flip the min<=mean invariant; normReport is the tool that
      // counts such vectors.
      .withColumn("micro", when(!isnan(col("s")),
        round(col("s") * 1e6, 0).cast("long")))
      .groupBy(col("cluster"))
      .agg(count(lit(1)).cast("long").as("n_vecs"),
        count(col("micro")).cast("long").as("n_finite"),
        sum(col("micro")).as("sum_micro"),
        round(min(col("s")), 6).as("min_cos"))
      .select(col("cluster"), col("n_vecs"),
        round(col("sum_micro").cast("double") / col("n_finite") / 1e6, 6)
          .as("mean_cos"),
        col("min_cos"))
  }

  /**
   * Structural certification of [[clusterReport]] over TRAINED k-means
   * centroids (no SQL oracle can replay the training — the
   * [[ivfTrainedCheck]] all-zeros pattern): cell membership must cover
   * the corpus exactly, cluster ids must come from the codebook, cells
   * must be unique, and every cell's stats must be internally
   * consistent (n_vecs >= 1, -1 <= min_cos <= mean_cos <= 1 — both
   * 6dp-rounded, and rounding is monotone so min <= mean survives it).
   * Returns one row of violation counts; all zeros = certified.
   */
  def clusterReportTrainedCheck(emb: DataFrame, nCentroids: Int = 16,
      maxIter: Int = 10, seed: Long = 7L): DataFrame = {
    val rep = clusterReport(emb, nCentroids,
      kmeansCentroids(emb, nCentroids, maxIter, seed))
    rep.agg(
      coalesce(sum(when(col("n_vecs") <= 0 ||
        col("min_cos") > col("mean_cos") ||
        col("mean_cos") > 1.0 || col("min_cos") < -1.0, 1L)
        .otherwise(0L)), lit(0L)).cast("long").as("bad_cells"),
      coalesce(sum(when(col("cluster") < 0 ||
        col("cluster") >= nCentroids, 1L).otherwise(0L)), lit(0L))
        .cast("long").as("bad_cluster_id"),
      (count(lit(1)) - countDistinct(col("cluster"))).cast("long")
        .as("dup_cells"),
      coalesce(sum(col("n_vecs")), lit(0L)).as("n_members"))
      .crossJoin(emb.agg(count(lit(1)).as("n_emb")))
      .select(col("bad_cells"), col("bad_cluster_id"), col("dup_cells"),
        (col("n_emb") - col("n_members")).cast("long").as("missing_members"))
  }

  /**
   * SemDeDup-style semantic deduplication (Abbas et al. 2023,
   * "SemDeDup: Data-efficient learning at web-scale through semantic
   * deduplication"): assign every vector to a coarse cluster, score
   * pairs ONLY inside a cluster, and drop any vector whose cosine to a
   * lower-id cluster-mate reaches `threshold` — one survivor per tight
   * semantic group with zero cross-cluster work. Returns
   * `(vec_id, cluster, is_kept)` for every input vector.
   *
   * Centroids are the deterministic first-`nCentroids` vectors so
   * external oracles replicate the partition exactly; production swaps
   * in [[kmeansCentroids]] via [[assignClusters]] with identical
   * downstream semantics. Scale shape: one codebook broadcast, one
   * cluster-keyed SELF-JOIN for in-cluster pairing — each side shuffles
   * the assignment once and pairs stream out of the join, so no task
   * ever buffers a whole cluster (the previous collect_list formulation
   * put every member embedding of a cluster into ONE aggregation row —
   * a single skewed 10⁵-member × 768-dim cluster is a ~300 MB row).
   * Pair WORK is still m² per cluster; a skewed cluster costs time in
   * its join partition (AQE skew-join can split it) but never memory.
   * Size the codebook so clusters average corpus/nCentroids.
   */
  /**
   * SEMANTIC decontamination — the embedding-space analogue of
   * [[TextOps.contamination]] (r16): flag every training vector whose
   * max cosine similarity against ANY eval-suite vector reaches
   * `threshold`, emitting `(doc_id, eval_id, max_sim)` with `eval_id`
   * = the argmax (ties to the lowest id). N-gram decontamination
   * misses PARAPHRASED leakage — same benchmark item, different
   * words; in embedding space a paraphrase sits next to its source,
   * so this is the second gate the eval-integrity literature layers
   * over lexical overlap.
   *
   * Scale shape: the eval suite is small by construction (the same
   * assumption the n-gram path's broadcast makes), so it rides ONE
   * broadcast and the training corpus is scanned ONCE — the
   * [[cosineTopK]] shape with the roles flipped (per-CORPUS-row max
   * over probes instead of per-probe rank over corpus). The per-doc
   * argmax is a struct-max aggregate, not a window: because the eval
   * side broadcasts, every train doc's pair rows are co-located in
   * its own input partition, so the map-side partial collapses them
   * to ONE row per doc before the exchange — the shuffle moves
   * train-row-count rows of three scalars, never the pair matrix.
   * The flagged output is what a removal anti-join consumes
   * (`train.join(flagged, "doc_id", "left_anti")` — the
   * [[TextOps.contamination]] usage). When the EVAL side is too big
   * to broadcast (decontaminating against an aggregation of whole
   * benchmark suites), use [[semanticContaminationIndexed]] — the
   * persisted-index composition this scaladoc used to describe in
   * prose, now certified code.
   */
  def semanticContamination(train: DataFrame, eval: DataFrame,
      threshold: Double = 0.9): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      "semanticContamination: threshold must be in (0, 1]")
    graft.functions.ensureRegistered(train.sparkSession)
    val t = train.select(col("vec_id").cast("long").as("doc_id"),
      col("embedding").as("t_emb"))
    val e = eval.select(col("vec_id").cast("long").as("eval_id"),
      col("embedding").as("e_emb"))
    t.join(broadcast(e))
      .select(col("doc_id"), col("eval_id"),
        cosine6(col("t_emb"), col("e_emb")).as("sim"))
      // argmax via struct max (lexicographic): max sim, ties -> the
      // LOWEST eval_id (negated so the max picks it)
      .groupBy(col("doc_id"))
      .agg(max(struct(col("sim"), (-col("eval_id")).as("neg"))).as("m"))
      .select(col("doc_id"), (-col("m.neg")).cast("long").as("eval_id"),
        col("m.sim").as("max_sim"))
      .filter(col("max_sim") >= threshold)
  }

  /**
   * [[semanticContamination]] for an eval suite TOO BIG TO BROADCAST
   * (VERDICT r16 #2) — decontaminating against an aggregation of
   * whole benchmark suites, where the broadcast path's "eval is
   * small" assumption breaks. The eval suite is built ONCE into a
   * persisted [[buildIvfIndex]] index; each decontamination run is
   * then `ivfIndexTopK(train, k = 1, nProbe)` + the threshold filter:
   * the training corpus streams as probes against the eval index's
   * inverted lists, reading only probed cells — the eval side never
   * broadcasts and never recomputes across runs. Same output contract
   * as the broadcast path: `(doc_id, eval_id, max_sim)` with the
   * argmax's ties to the lowest eval id (the rank window's
   * `neighbor_id asc` tie-break is the struct-max's `-eval_id` one).
   *
   * Recall: with `nProbe >= nCentroids` every cell is probed and the
   * result is EXACT — hash-certified equal to the broadcast path by
   * the `semantic_contamination_indexed` registry row. Smaller
   * `nProbe` is the standard IVF recall trade (a paraphrase pair
   * whose eval twin sits in an unprobed cell is missed) — size it
   * like any [[ivfIndexTopK]] deployment.
   *
   * Train and eval vec_id spaces may overlap freely: the underlying
   * search runs with `excludeSelf = false`, because train ids and
   * eval ids are INDEPENDENT numberings — a train doc whose id
   * collides with an eval item's id is a different document that must
   * still be compared (the broadcast path has no self-exclusion
   * either; an always-on one here silently passed exactly the
   * leakage this operator exists to catch — r17 review finding,
   * spec-pinned with a colliding-id fixture).
   */
  def semanticContaminationIndexed(train: DataFrame, indexPath: String,
      threshold: Double = 0.9, nProbe: Int = 1): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      "semanticContaminationIndexed: threshold must be in (0, 1]")
    ivfIndexTopK(train, indexPath, k = 1, nProbe = nProbe,
        excludeSelf = false)
      .select(col("probe_id").as("doc_id"),
        col("neighbor_id").as("eval_id"), col("score").as("max_sim"))
      .filter(col("max_sim") >= threshold)
  }

  def semanticDedup(emb: DataFrame, threshold: Double,
      nCentroids: Int = 16): DataFrame = {
    // persisted: the self-join consumes the assignment twice and the
    // final join a third time, and the per-row codebook fold is the
    // expensive stage — without the barrier it would run three times per
    // action. Like the near-dup pair operators, the cache lives as long
    // as the returned (lazy) plan; long-lived sessions clearCache()
    // when done.
    val assigned = assignClusters(emb, firstNCentroids(emb, nCentroids))
      .transform(Caches.persist(_))
    val removed = assigned
      .select(col("cluster"), col("vec_id").as("vec_a"),
        col("embedding").as("emb_a"))
      .join(assigned.select(col("cluster"), col("vec_id").as("vec_b"),
        col("embedding").as("emb_b")), Seq("cluster"))
      .filter(col("vec_a") < col("vec_b"))
      .filter(cosine6(col("emb_a"), col("emb_b")) >= threshold)
      .select(col("vec_b").as("vec_id")).distinct()
      .withColumn("removed", lit(1))
    assigned.join(removed, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"),
        when(col("removed").isNull, 1).otherwise(0).cast("int").as("is_kept"))
  }

  /** Shared IVF assign/search body over an arbitrary centroid codebook. */
  private def ivfTopKWith(emb: DataFrame, centroidsDf: DataFrame,
      nProbes: Int, k: Int): DataFrame =
    ivfSearch(assignClusters(emb, centroidsDf), nProbes, k)

  /**
   * MULTI-PROBE IVF top-k: each probe searches its `nProbe` nearest
   * centroids' clusters instead of only its own — the standard IVF
   * recall lever (a vector near a Voronoi boundary has true neighbors
   * in adjacent cells; single-probe search misses them). `nProbe` =
   * `nCentroids` degenerates to exact brute force; 2–8 is the usual
   * recall/cost trade.
   *
   * Deterministic first-`nCentroids` codebook (oracle-replicable, like
   * [[ivfTopK]]). Shuffle profile at 100 TB: the centroid ranking is a
   * broadcast cross of the (small) probe set with the (small) codebook;
   * the corpus shuffles ONCE keyed by its assigned cluster; probes are
   * replicated `nProbe`× into the cluster join — corpus work is
   * unchanged from single-probe, only the probe side fans out.
   */
  def ivfTopKProbed(emb: DataFrame, nProbes: Int, k: Int, nProbe: Int = 3,
      nCentroids: Int = 16): DataFrame = {
    graft.functions.ensureRegistered(emb.sparkSession)
    val cents = firstNCentroids(emb, nCentroids)
    val probeClusters = emb.filter(col("vec_id") < nProbes)
      .select(col("vec_id").cast("long").as("probe_id"),
        col("embedding").as("p_emb"))
      .crossJoin(broadcast(cents))
      .select(col("probe_id"), col("p_emb"), col("centroid_id"),
        cosine6(col("p_emb"), col("c_emb")).as("c_score"))
      .withColumn("crnk", row_number().over(Window.partitionBy(col("probe_id"))
        .orderBy(col("c_score").desc, col("centroid_id").asc)))
      .filter(col("crnk") <= nProbe)
      .select(col("probe_id"), col("p_emb"), col("centroid_id").as("cluster"))
    probeClusters.join(assignClusters(emb, cents), Seq("cluster"))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id").as("neighbor_id"),
        cosine6(col("p_emb"), col("embedding")).as("score"))
      .withColumn("rnk", row_number().over(Window.partitionBy(col("probe_id"))
        .orderBy(col("score").desc, col("neighbor_id").asc)))
      .filter(col("rnk") <= k)
      .select(col("probe_id"), col("rnk").cast("int").as("rnk"),
        col("neighbor_id"), col("score"))
  }

  /**
   * Structural self-check of the k-means-trained IVF path, designed to be
   * oracle-checkable WITHOUT replicating the training: every column is a
   * violation count that must be zero for ANY correct (assignment,
   * search) pair, regardless of what centroids training produced. The
   * external oracle is therefore the constant all-zeros row — a real
   * hash-match on the trained path's output invariants, upgrading it
   * from the registry's only rows-only entry.
   *
   * Violations counted (one row out):
   *  - `bad_rnk`        rows whose rnk differs from a recomputed
   *                     row_number over (score desc, neighbor_id asc) —
   *                     also pins rnk density 1..n and score monotonicity;
   *  - `over_k`         rows ranked past k;
   *  - `self_match`     probe returned as its own neighbor;
   *  - `bad_probe`      result rows for vec_id >= nProbes;
   *  - `dup_pairs`      duplicated (probe, neighbor) rows;
   *  - `dup_assign`     vectors assigned to more than one cluster;
   *  - `missing_assign` vectors the assignment dropped (totality).
   *
   * Trains ONCE: the codebook is fit here and shared by the searched
   * output and the totality checks.
   */
  def ivfTrainedCheck(emb: DataFrame, nProbes: Int, k: Int,
      nCentroids: Int = 16, maxIter: Int = 10, seed: Long = 7L): DataFrame = {
    val assigned =
      assignClusters(emb, kmeansCentroids(emb, nCentroids, maxIter, seed))
        .transform(Caches.persist(_))
    val out = ivfSearch(assigned, nProbes, k)
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("score").desc, col("neighbor_id").asc)
    val searchViol = out
      .withColumn("expected_rnk", row_number().over(w))
      .agg(
        // coalesce: sum over an empty result is null, the oracle says 0
        coalesce(sum(when(col("rnk") =!= col("expected_rnk"), 1L)
          .otherwise(0L)), lit(0L)).cast("long").as("bad_rnk"),
        coalesce(sum(when(col("rnk") > k, 1L).otherwise(0L)), lit(0L))
          .cast("long").as("over_k"),
        coalesce(sum(when(col("neighbor_id") === col("probe_id"), 1L)
          .otherwise(0L)), lit(0L)).cast("long").as("self_match"),
        coalesce(sum(when(col("probe_id") >= nProbes, 1L).otherwise(0L)),
          lit(0L)).cast("long").as("bad_probe"),
        (count(lit(1)) - countDistinct(col("probe_id"), col("neighbor_id")))
          .cast("long").as("dup_pairs"))
    val assignViol = assigned.agg(
      (count(lit(1)) - countDistinct(col("vec_id"))).cast("long")
        .as("dup_assign"),
      count(lit(1)).as("n_assigned"))
    searchViol
      .crossJoin(assignViol)
      .crossJoin(emb.agg(count(lit(1)).as("n_emb")))
      .select(col("bad_rnk"), col("over_k"), col("self_match"),
        col("bad_probe"), col("dup_pairs"), col("dup_assign"),
        (col("n_emb") - col("n_assigned")).cast("long").as("missing_assign"))
  }

  /** Search stage shared by the IVF variants and the structural check:
    * per-probe in-cluster top-k over an existing assignment. */
  /**
   * PERSISTED IVF index build — the embeddings counterpart of
   * [[TextOps.buildMinhashIndex]], and the on-disk form of a FAISS
   * `IndexIVFFlat`: a similarity-search corpus at 100 TB cannot
   * re-train and re-assign per query batch, so the coarse quantizer is
   * trained ONCE (the deterministic integer-micro Lloyd of
   * [[ivfTopKLloyd]] — oracle-replicable, no RNG) and the corpus is
   * written as its inverted lists:
   *
   *  - `path/vectors` — `(vec_id, embedding, cluster)` in the shared
   *    index layout ([[LayoutOps.writeParts]]) keyed on the cell:
   *    `part = cluster % nParts`, so probe-time reads prune to the
   *    probed cells' part directories via the partition filter, then
   *    to the cells themselves via row-group stats on the sorted
   *    `cluster` column (both PlanSpec-pinned); appends add files only
   *    under the touched parts. One dir per cell was the r14 layout,
   *    and the r15 4096-cell measurement showed its O(nCentroids)
   *    listing/footer metadata dominating the probe (6.3 s vs 2.0 s at
   *    16 cells, SCALE.md); production `nCentroids ~ √N` is 10⁴–10⁶,
   *    where a per-cell directory tree is unusable on object storage;
   *  - `path/centroids` — `(centroid_id, qc)`, the micro-unit codebook;
   *  - `path/params` — `(n_centroids, iters, dims, n_parts)` manifest.
   *
   * Build cost: `iters` corpus scans (Lloyd, k×dims scalars to the
   * driver per round) + one assignment scan + one part-keyed
   * shuffle clustering the layout. Queries then pay NO corpus-side
   * work outside the probed cells — see [[ivfIndexTopK]] — and new
   * vectors join via [[appendToIvfIndex]] with the codebook FROZEN
   * (the FAISS `add` contract).
   */
  def buildIvfIndex(emb: DataFrame, path: String, nCentroids: Int = 16,
      iters: Int = 2, nParts: Int = 64): Unit = {
    require(nParts >= 1, "buildIvfIndex: nParts must be >= 1")
    val spark = emb.sparkSession
    graft.functions.ensureRegistered(spark)
    val cents = lloydCentroidsMicro(emb, nCentroids, iters)
    writeIvfCells(emb, cents, s"$path/vectors", nParts, "overwrite")
    import spark.implicits._
    cents.toSeq.map { case (cid, qc) => (cid, qc.toSeq) }
      .toDF("centroid_id", "qc")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
    LayoutOps.writeManifest(spark, s"$path/params", "n_centroids" -> nCentroids,
      "iters" -> iters, "dims" -> cents.head._2.length, "n_parts" -> nParts)
  }

  /** Assigns `emb` to the frozen micro-unit codebook and writes its
    * `(vec_id, embedding, cluster)` rows in the part layout (the build,
    * or an append with mode "append"). */
  private def writeIvfCells(emb: DataFrame, cents: Array[(Long, Array[Long])],
      dir: String, nParts: Int, mode: String): Unit =
    LayoutOps.writeParts(
      emb.select(col("vec_id").cast("long").as("vec_id"), col("embedding"),
          nearestMicroL2(quantizeMicro(col("embedding")), cents)
            .as("cluster"))
        .withColumn("part", cellPart(col("cluster"), nParts)),
      dir, "cluster", mode)

  /** The `part` of a cell id: `cluster mod nParts`, so [[touchedCells]]
    * derives the directories of the probed cells on the driver. */
  private def cellPart(cluster: Column, nParts: Int): Column =
    pmod(cluster.cast("long"), lit(nParts.toLong)).cast("int")

  /** The IVF manifest row, refused when absent or missing any of
    * `fields` (a legacy layout gets the rebuild message, not an opaque
    * "field does not exist"). */
  private def ivfIndexManifest(spark: org.apache.spark.sql.SparkSession,
      path: String,
      fields: Seq[String]): org.apache.spark.sql.Row =
    LayoutOps.manifestRows(spark, path, "params", "ivf",
      "params manifest — rebuild with buildIvfIndex", fields,
      m => s"predates the current layout (params carries no $m) — " +
        "rebuild with buildIvfIndex").head

  /** Manifest reader for the partition-unit count. */
  private def ivfIndexNParts(spark: org.apache.spark.sql.SparkSession,
      path: String): Int =
    ivfIndexManifest(spark, path, Seq("n_parts")).getAs[Int]("n_parts")

  private val ivfNoCodebook = "codebook — rebuild with buildIvfIndex"

  /** The codebook rows, read on the driver (they are driver constants
    * anyway), sorted by centroid id. */
  private def readIvfCodebook(spark: org.apache.spark.sql.SparkSession,
      path: String): Array[(Long, Array[Long])] =
    LayoutOps.manifestRows(spark, path, "centroids", "ivf", ivfNoCodebook)
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray)).sortBy(_._1)

  /** The codebook as a FRAME `(centroid_id, qc)` for the probe-side
    * broadcast join — never collected, never embedded in the plan
    * (the [[ivfIndexTopK]] constant-plan contract). */
  private def readIvfCentroids(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame =
    LayoutOps.manifestScan(spark, path, "centroids", "ivf", ivfNoCodebook)
      .select(col("centroid_id").cast("long").as("centroid_id"), col("qc"))

  /**
   * INCREMENTAL add to a [[buildIvfIndex]] index — FAISS `add`
   * semantics, stated explicitly: new vectors are assigned by the
   * FROZEN build-time codebook (map-side kernel fold, no join, no
   * retraining) and appended under their cells' `part` directories
   * (cell-sorted row groups, the build layout); untouched parts gain
   * no files. The codebook never moves, so
   * queries before and after an append rank existing neighbors
   * identically — the trade is that a drifting corpus slowly unbalances
   * cells (monitor with a cluster-size scan; re-train =
   * [[rebuildIvfIndexPointer]], which retrains into a new generation
   * and publishes it atomically — the FAISS re-train discipline made
   * crash-safe).
   * Not concurrency-safe: serialize appends per index path. Repeated
   * appends accumulate files per cell directory — compact in place
   * with [[LayoutOps.compactParquet]] (partition-aware,
   * crash-restoring) when file counts grow.
   *
   * At-least-once semantics: a crashed-and-replayed append re-adds
   * byte-identical rows, which give the duplicated neighbor two ranks
   * in a default probe read. The recovery pair: query with
   * `ivfIndexTopK(..., absorbReplays = true)` (window-ride dedup; pays
   * the partial-window-limit bytes) in the window between the crash
   * and [[rebuildIvfIndexPointer]], which purges the duplicates from
   * disk.
   * Re-appending an existing `vec_id` with CHANGED embedding bytes is
   * unsupported (both rows are stored and both rank) — treat vec_ids
   * as immutable, or rebuild.
   */
  def appendToIvfIndex(newEmb: DataFrame, path: String): Unit = {
    val spark = newEmb.sparkSession
    graft.functions.ensureRegistered(spark)
    val cents = readIvfCodebook(spark, path)
    writeIvfCells(newEmb, cents, s"$path/vectors", ivfIndexNParts(spark, path),
      "append")
  }

  /**
   * RE-TRAIN the lifecycle's other half (VERDICT r16 #3) — the
   * operation every append scaladoc defers to when [[ivfIndexStats]]
   * shows drift-flooded cells. The index stores its raw vectors, so
   * it retrains FROM ITSELF: read `(vec_id, embedding)` off the LIVE
   * generation of the pointer root `root`, dedup by vec_id (purging any
   * rows a crashed-and-replayed at-least-once append left behind — this
   * is also the repair tool), and run the full [[buildIvfIndex]] (fresh
   * Lloyd codebook, fresh cell-clustered layout) into a NEW generation
   * published with ONE pointer-object write
   * ([[LayoutOps.withPointerGeneration]] has the crash-window contract;
   * every window leaves the old generation serving, on object stores
   * too). Readers open [[LayoutOps.resolveIndexPointer]]`(spark, root)`
   * and pass that generation path to [[ivfIndexTopK]] / appends as
   * usual. `nCentroids`/`iters`/`nParts` default to the live manifest's
   * values (pass > 0 to re-size — the "corpus grew 10×, re-split the
   * cells" knob).
   *
   * The first build of a pointer index is just
   * `withPointerGeneration(spark, root)(gen => buildIvfIndex(corpus,
   * gen, ...))`; an index built into a plain directory is refused (no
   * published generation) and migrates the same way. Cost: one build
   * over the indexed corpus — the retrain IS a build, by design (a
   * drifted codebook invalidates every stored assignment, so there is
   * nothing incremental to save). Not concurrency-safe with appends:
   * serialize maintenance per index root.
   */
  def rebuildIvfIndexPointer(spark: org.apache.spark.sql.SparkSession,
      root: String, nCentroids: Int = 0, iters: Int = -1,
      nParts: Int = 0): Unit = {
    val live = LayoutOps.resolveIndexPointer(spark, root)
    // ONE guarded manifest read supplies all three defaults (the r17
    // review caught the raw double-read here surfacing opaque Spark
    // errors instead of the readers' rebuild message)
    val params = ivfIndexManifest(spark, live,
      Seq("n_centroids", "iters", "n_parts"))
    val nc = if (nCentroids > 0) nCentroids
      else params.getAs[Int]("n_centroids")
    val it = if (iters >= 0) iters else params.getAs[Int]("iters")
    val np = if (nParts > 0) nParts else params.getAs[Int]("n_parts")
    // persisted: the build consumes the corpus once per Lloyd round
    // plus once for the layout write — without the barrier the dedup
    // shuffle would re-run per consumer
    val corpus = Caches.persist(LayoutOps.indexScan(spark, s"$live/vectors")
      .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
      .dropDuplicates("vec_id"))
    try LayoutOps.withPointerGeneration(spark, root)(gen =>
      buildIvfIndex(corpus, gen, nc, it, np))
    finally corpus.unpersist(false)
  }

  /**
   * Monitoring report over a persisted IVF(-PQ) index's on-disk layout
   * (VERDICT r14 #6 / r15 #4) — the operator the append scaladocs'
   * "monitor cell sizes; re-train = re-build" advice calls for. One
   * row per CODEBOOK cell: `(cluster, n_vecs, frac, imbalance)` where
   * `frac` is the cell's share of the indexed corpus and `imbalance`
   * is the global max-cell/mean-cell ratio (1.0 = perfectly balanced;
   * a drifting corpus starves some cells and floods others, and a
   * flooded cell makes every probe that touches it scan its whole
   * list — the signal to re-train). Cells the corpus never reached
   * report `n_vecs = 0` (they come from the codebook table, not the
   * data), which is exactly the starvation the report exists to show.
   * An index with NO vectors at all reports every cell with `n_vecs =
   * 0` and NULL `frac`/`imbalance` — ratios over an empty corpus are
   * not measurements, and NaN masquerading as one would defeat the
   * monitor (ADVICE r16). Counts are the layout's on-disk truth:
   * rows duplicated by a replayed at-least-once append count as
   * stored — [[rebuildIvfIndexPointer]] is the dedup/retrain repair.
   *
   * `sub` selects the list layout: the IVF twin's `vectors` (default)
   * or the IVF-PQ twin's `codes` — both carry the `cluster` column.
   *
   * Scale shape: ONE scan of the index reading ONLY `cluster` (+ the
   * `part` partition key) — ReadSchema never touches embeddings or
   * codes — with a map-side partial count per cell; the codebook join
   * and the 1-row totals both broadcast (nCentroids-row frames). Disk
   * sizes live at `part` granularity, not cell granularity (a part
   * directory mixes cells), so bytes are reported by the companion
   * [[ivfIndexDiskStats]] instead of faked here.
   */
  def ivfIndexStats(spark: org.apache.spark.sql.SparkSession,
      path: String, sub: String = "vectors"): DataFrame = {
    val cells = LayoutOps.indexScan(spark, s"$path/centroids")
      .select(col("centroid_id").cast("long").as("cluster"))
    val counts = LayoutOps.indexScan(spark, s"$path/$sub")
      .groupBy(col("cluster").cast("long").as("cluster"))
      .agg(count(lit(1)).cast("long").as("n_vecs"))
    val filled = cells.join(counts, Seq("cluster"), "left")
      .select(col("cluster"),
        coalesce(col("n_vecs"), lit(0L)).as("n_vecs"))
    val tot = filled.agg(
      sum(col("n_vecs")).cast("double").as("total"),
      count(lit(1)).cast("double").as("n_cells"),
      max(col("n_vecs")).cast("double").as("max_vecs"))
    // an index whose lists are EMPTY (built, then every append crashed,
    // or the sub table was truncated) must not report NaN ratios as if
    // they were measurements: frac/imbalance go explicitly NULL — the
    // loud "nothing indexed" signal (ADVICE r16) — while n_vecs = 0
    // rows still enumerate every codebook cell
    filled.crossJoin(broadcast(tot))
      .select(col("cluster"), col("n_vecs"),
        when(col("total") > 0.0,
          round(col("n_vecs").cast("double") / col("total"), 6))
          .as("frac"),
        when(col("total") > 0.0,
          round(col("max_vecs") * col("n_cells") / col("total"), 6))
          .as("imbalance"))
  }

  /**
   * Disk-layout half of the index monitor: one row per `part`
   * DIRECTORY — `(part, n_files, bytes)` from a driver-side listing
   * (bounded by n_parts, never corpus-scale) — the file-count growth
   * signal that says "compact now" ([[LayoutOps.compactParquet]])
   * and the bytes skew across append units. Cell-level bytes do not
   * exist at this layout's granularity (a part directory mixes all
   * cells hashing to it), so this reports the truth the filesystem
   * has instead of attributing bytes it cannot know. Works on ANY of
   * the engine's `part=`-partitioned index layouts — the IVF twin's
   * `vectors`, the IVF-PQ twin's `codes`, the BM25 index's
   * `postings`, the MinHash index's `bands` (pass the sub-table name;
   * spec-pinned on the BM25 layout too) — on ANY Hadoop-supported
   * filesystem (the listing goes through the Hadoop `FileSystem` API
   * like every other index reader, VERDICT r16 #1: a 100 TB index
   * lives on HDFS/S3, where a `java.io.File` listing returns nothing
   * and the monitor would refuse a perfectly healthy index).
   */
  def ivfIndexDiskStats(spark: org.apache.spark.sql.SparkSession,
      path: String, sub: String = "vectors"): DataFrame = {
    val hp = new org.apache.hadoop.fs.Path(s"$path/$sub")
    val fs = hp.getFileSystem(spark.sessionState.newHadoopConf())
    require(fs.exists(hp) && fs.getFileStatus(hp).isDirectory,
      s"no $sub layout at $path")
    val rows = fs.listStatus(hp)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("part="))
      .map { d =>
        val files = fs.listStatus(d.getPath)
          .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
        (d.getPath.getName.stripPrefix("part=").toInt, files.length,
          files.map(_.getLen).sum)
      }.sortBy(_._1).toSeq
    import spark.implicits._
    rows.toDF("part", "n_files", "bytes")
  }

  /**
   * Query a [[buildIvfIndex]] index: probes assign to their `nProbe`
   * nearest cells (exact integer micro-L2 against the stored codebook,
   * ties to the lowest centroid id — identical semantics to the build
   * assignment, so a probe that is IN the index searches its own
   * cell), then ONLY those cells' bytes are read (part-directory
   * pruning + row-group skips on the sorted cluster column),
   * joined, cosine-scored, and ranked per probe. Same output contract
   * as [[ivfTopK]]/[[ivfTopKLloyd]]: `(probe_id, cluster, rnk,
   * neighbor_id, score)`, self-matches excluded by default
   * (`excludeSelf = false` for probes whose id space is UNRELATED to
   * the index's — an id collision across independent numberings is a
   * different vector that must still rank;
   * [[semanticContaminationIndexed]] is the canonical caller).
   *
   * Scale shape: the cell ranking is a broadcast join of the probes
   * against the ON-DISK `path/centroids` table scored by the native
   * [[graft.functions.micro_l2]] pairwise kernel — the plan holds NO
   * per-cell expressions, so its size is CONSTANT in `nCentroids`
   * (VERDICT r14: the previous literal `array(struct(...))` of all
   * cells made the plan itself the bottleneck past ~10³ cells;
   * production sizing is `nCentroids ~ √N` = 10⁴–10⁶ for a 100 TB
   * corpus, where a KB-scale broadcast + probes×cells kernel rows is
   * the only shape that survives — PlanSpec pins the constant plan,
   * SCALE.md carries a measured 4096-cell point). The corpus never
   * moves: the vectors read PRUNES to the probed cells (partition
   * filter on `cluster` — at 1024 cells and 16 probed, 98.4% of a
   * 100 TB index is never opened), and the probe-to-vectors join
   * broadcasts the probe side.
   */
  def ivfIndexTopK(probes: DataFrame, path: String, k: Int,
      nProbe: Int = 1, absorbReplays: Boolean = false,
      excludeSelf: Boolean = true): DataFrame = {
    require(k > 0 && nProbe > 0, "ivfIndexTopK: k > 0, nProbe > 0")
    val spark = probes.sparkSession
    graft.functions.ensureRegistered(spark)
    val cents = readIvfCentroids(spark, path)
    val p = Caches.persist(probes
      .select(col("vec_id").cast("long").as("probe_id"),
        col("embedding").as("p_emb"),
        quantizeMicro(col("embedding")).as("qx"))
      .crossJoin(broadcast(cents))
      .select(col("probe_id"), col("p_emb"),
        col("centroid_id").as("cluster"),
        graft.functions.micro_l2(col("qx"), col("qc")).as("d"))
      .withColumn("crnk", row_number().over(
        Window.partitionBy(col("probe_id"))
          .orderBy(col("d").asc, col("cluster").asc)))
      .filter(col("crnk") <= nProbe)
      .select(col("probe_id"), col("p_emb"), col("cluster")))
    // bounded driver collect: <= nProbes x nProbe cell ids — the probed
    // cells, which become the vectors scan's PARTITION filter (on
    // part) plus its pushed row-group predicate (on sorted cluster)
    val touched = p.select(col("cluster")).distinct()
      .collect().map(_.getLong(0)).sorted.toIndexedSeq
    val vecs = touchedCells(spark, path, touched,
        nParts = ivfIndexNParts(spark, path))
      .select(col("vec_id").cast("long").as("neighbor_id"),
        col("embedding"), col("cluster").cast("long").as("cluster"))
    // replay absorption (ADVICE r16): an at-least-once ingest
    // (StreamDrain.run over appendToIvfIndex) that crashes and
    // replays a batch appends byte-identical (vec_id, cluster,
    // embedding) rows — without a dedup the duplicated neighbor takes
    // two ranks and displaces a genuine one. Duplicates score
    // identically, so under the rank window's (score desc, neighbor_id
    // asc) order they are ADJACENT within each probe partition: a lag
    // flag over the SAME window spec dedups them with zero extra
    // exchanges. OPT-IN (`absorbReplays`) because the flag is not
    // free at scale: a bare Filter(rnk<=k)-over-row_number pattern
    // gets Spark's PARTIAL WindowGroupLimit below the exchange (only
    // ~top-k rows per probe per map partition shuffle), while the lag
    // window above the same exchange forces EVERY scored pair through
    // it — MBs vs hundreds of GB at production probe batches. Default
    // keeps the k-bounded plan; query with absorbReplays = true in
    // the window between an ingest crash and its
    // [[rebuildIvfIndexPointer]] repair. Re-appending an existing
    // vec_id with a CHANGED embedding is NOT a replay and stays
    // unsupported (both rows rank).
    val wRank = Window.partitionBy(col("probe_id"))
      .orderBy(col("score").desc, col("neighbor_id").asc)
    // excludeSelf = the "probe is IN the index" contract (a vector must
    // not rank as its own neighbor). Turn it OFF when probe and index
    // id spaces are UNRELATED numberings (semanticContaminationIndexed:
    // train ids vs eval ids are independent, and an id collision there
    // is two DIFFERENT documents that must still be compared — the r17
    // review's silent-leakage finding).
    val joined = p.join(vecs, Seq("cluster"))
    val scored = (if (excludeSelf)
        joined.filter(col("neighbor_id") =!= col("probe_id"))
      else joined)
      .select(col("probe_id"), col("cluster"), col("neighbor_id"),
        cosine6(col("p_emb"), col("embedding")).as("score"))
    (if (absorbReplays) dedupReplayRows(scored, wRank, "score")
     else scored)
      .withColumn("rnk", row_number().over(wRank))
      .filter(col("rnk") <= k)
      .select(col("probe_id"), col("cluster"),
        col("rnk").cast("int").as("rnk"), col("neighbor_id"),
        col("score"))
  }

  /** The opt-in replay dedup shared by both probe paths: replayed
    * appends re-add byte-identical rows, which tie on (key, neighbor)
    * and are therefore ADJACENT under the rank window's total order —
    * a lag flag over the SAME window spec drops the repeats without a
    * new exchange (row_number over that spec shares the same Window
    * exec, so the first-row guard is free too). Null-exact
    * dropDuplicates semantics (ADVICE r17): `<=>` treats two NULL ids
    * as the same row, and the `row_number > 1` guard keeps the FIRST
    * occurrence of a NULL group instead of losing it to lag's null
    * default. The caller pays the partial-WindowGroupLimit forfeit
    * documented at the call sites (SCALE.md lesson 17). */
  private[graft] def dedupReplayRows(scored: DataFrame,
      wRank: org.apache.spark.sql.expressions.WindowSpec,
      keyCol: String): DataFrame =
    scored.withColumn("dup",
        row_number().over(wRank) > 1 &&
          (col("neighbor_id") <=> lag(col("neighbor_id"), 1).over(wRank)) &&
          (col(keyCol) <=> lag(col(keyCol), 1).over(wRank)))
      .filter(!col("dup"))
      .drop("dup")

  /** The probe-time inverted-list read, factored out so PlanSpec can
    * pin that it PRUNES: the scan's PartitionFilters carry the probed
    * cells' `part` set (unprobed part directories are never listed
    * into the scan), and the `cluster` predicate is PUSHED to the
    * parquet reader where the build-time cell sort turns it into
    * row-group skips — at 1024 cells and 16 probed, ≥98% of a 100 TB
    * index's bytes stay closed. `sub` selects the list layout: the
    * IVF twin's raw `vectors`, the IVF-PQ twin's `codes` — one helper
    * so the pin covers BOTH probe reads (VERDICT r14 #4). */
  private[graft] def touchedCells(spark: org.apache.spark.sql.SparkSession,
      path: String, touched: Seq[Long], sub: String = "vectors",
      nParts: Int): DataFrame = {
    val parts = touched.map(c => (c % nParts).toInt).distinct.sorted
    LayoutOps.indexScan(spark, s"$path/$sub")
      .filter(col("part").isin(parts.map(Integer.valueOf): _*) &&
        col("cluster").isin(
          touched.map(java.lang.Long.valueOf).toIndexedSeq: _*))
  }

  private def ivfSearch(assigned: DataFrame, nProbes: Int,
      k: Int): DataFrame = {
    val probes = assigned.filter(col("vec_id") < nProbes)
      .select(col("vec_id").as("probe_id"), col("embedding").as("p_emb"),
        col("cluster"))
    probes.join(assigned, Seq("cluster"))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("cluster"),
        col("vec_id").as("neighbor_id"),
        cosine6(col("p_emb"), col("embedding")).as("score"))
      .withColumn("rnk", row_number().over(Window.partitionBy(col("probe_id"))
        .orderBy(col("score").desc, col("neighbor_id").asc)))
      .filter(col("rnk") <= k)
      .select(col("probe_id"), col("cluster"), col("rnk").cast("int").as("rnk"),
        col("neighbor_id"), col("score"))
  }

  /**
   * Bucketed approximate top-k: score only same-bucket pairs. Probes with
   * no same-bucket neighbor produce no rows (approximate by design).
   */
  def annTopK(emb: DataFrame, nProbes: Int, k: Int,
      numPlanes: Int = 6): DataFrame = {
    graft.functions.ensureRegistered(emb.sparkSession)
    val bucketed = emb.select(col("vec_id").cast("long").as("vec_id"),
      col("embedding"), lshBucket(col("embedding"), numPlanes).as("bucket"))
    val probes = bucketed.filter(col("vec_id") < nProbes)
      .select(col("vec_id").as("probe_id"), col("embedding").as("p_emb"),
        col("bucket"))
    val scored = probes.join(bucketed, Seq("bucket"))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("bucket"),
        col("vec_id").as("neighbor_id"),
        cosine6(col("p_emb"), col("embedding")).as("score"))
    scored
      .withColumn("rnk", row_number().over(Window.partitionBy(col("probe_id"))
        .orderBy(col("score").desc, col("neighbor_id").asc)))
      .filter(col("rnk") <= k)
      .select(col("probe_id"), col("bucket"), col("rnk").cast("int").as("rnk"),
        col("neighbor_id"), col("score"))
  }

  /**
   * ANN quality report: recall@k of the LSH bucketed path ([[annTopK]])
   * against brute-force cosine ground truth ([[cosineTopK]]) on the same
   * probes — the metric that tunes `numPlanes`/`nProbes` before a
   * corpus-scale rollout (recall drops as planes partition finer; this
   * measures the trade directly on the target data).
   *
   * Plan shape (100 TB): both inputs are already top-k-per-probe results
   * (nProbes x k rows); the compare join and per-probe rollup move
   * ranked IDs only — no embeddings. Cost is dominated by the two
   * constituent searches, each of which carries its own scale story.
   */
  def annRecall(emb: DataFrame, nProbes: Int, k: Int,
      numPlanes: Int = 6): DataFrame = {
    val truth = cosineTopK(emb, nProbes, k)
      .select(col("probe_id"), col("neighbor_id"))
    val ann = annTopK(emb, nProbes, k, numPlanes)
      .select(col("probe_id"), col("neighbor_id"), lit(1L).as("hit"))
    truth.join(ann, Seq("probe_id", "neighbor_id"), "left")
      .groupBy(col("probe_id"))
      .agg(count(lit(1)).cast("long").as("n_truth"),
        sum(coalesce(col("hit"), lit(0L))).cast("long").as("n_hit"))
      .select(col("probe_id"), col("n_truth"), col("n_hit"),
        round(col("n_hit").cast("double") / col("n_truth").cast("double"), 6)
          .as("recall"))
  }

  /**
   * Matryoshka dimension-recall curve: recall@k of brute-force search
   * over PREFIX-TRUNCATED embeddings against the full-width truth,
   * one row per (truncation width, probe) — the deployment eval for
   * MRL-style models, where the index stores only an embedding prefix
   * and survivors rerank at full width: the curve says how short the
   * prefix can go before recall pays.
   *
   * Plan shape: the full-width truth computes once (persisted,
   * nProbes x k ids); each width's search is [[cosineTopK]]'s
   * broadcast-probes/one-scan shape over a NARROWER projection of the
   * same corpus — the scans are per-width, which is the honest cost
   * of evaluating a width (at 100 TB, run the curve on a sampled
   * corpus and pick the width before indexing the full one).
   */
  def dimRecallCurve(emb: DataFrame, nProbes: Int, k: Int,
      dims: Seq[Int] = Seq(8, 16, 32)): DataFrame = {
    require(dims.nonEmpty && dims.forall(_ > 0), "dimRecallCurve: bad dims")
    val truth = Caches.persist(cosineTopK(emb, nProbes, k)
      .select(col("probe_id"), col("neighbor_id")))
    dims.map { d =>
      val trunc = emb.select(col("vec_id"),
        slice(col("embedding"), 1, d).as("embedding"))
      val approx = cosineTopK(trunc, nProbes, k)
        .select(col("probe_id"), col("neighbor_id"), lit(1L).as("hit"))
      truth.join(approx, Seq("probe_id", "neighbor_id"), "left")
        .groupBy(col("probe_id"))
        .agg(count(lit(1)).cast("long").as("n_truth"),
          sum(coalesce(col("hit"), lit(0L))).cast("long").as("n_hit"))
        .select(lit(d).as("dims"), col("probe_id"), col("n_truth"),
          col("n_hit"),
          round(col("n_hit").cast("double") / col("n_truth"), 6)
            .as("recall"))
    }.reduce(_ unionByName _)
  }

  /** Project embeddings to `outDims` dimensions with the deterministic
    * pseudo-random matrix — the cheap coarse representation for
    * two-stage retrieval. A narrow projection (no data movement);
    * native single-pass kernel (callers must have `ensureRegistered`d —
    * the operators here do). TextVectorSpec tests it bit-identical
    * against the columnar reference formulation. */
  def projectEmbeddings(v: Column, outDims: Int): Column =
    graft.functions.project_embedding(v, outDims)

  /**
   * Two-stage retrieval — the third standard ANN scale pattern beside
   * LSH buckets and IVF: a COARSE top-`candidates` search per probe in
   * the `outDims`-dim random projection (8x fewer multiply-adds per
   * pair at 64->8 dims), then an EXACT cosine rerank of only those
   * candidates in the full space. Candidate recall is tunable by
   * `candidates`; both stages rank on 6dp-rounded scores with id
   * tie-breaks so the candidate SET (and thus the result) is
   * engine-deterministic.
   *
   * Scale: the projected corpus is a narrow derivation (`outDims/dim` of
   * the original footprint); stage 1 is cosineTopK's broadcast-probes/
   * one-scan plan over the SMALL vectors only — full embeddings never
   * enter the nProbes×N coarse pair stream or its window shuffle (the
   * coarse window moves (probe_id, neighbor_id, cscore) triples, ~24
   * bytes/pair instead of 2×dim doubles). The ≤ nProbes×candidates
   * survivors are then broadcast back against the corpus for the exact
   * full-width rerank, so full embeddings are touched by exactly one
   * corpus scan and a candidate-sized join.
   */
  def cosineTopKReranked(emb: DataFrame, nProbes: Int, k: Int,
      outDims: Int = 8, candidates: Int = 50): DataFrame = {
    graft.functions.ensureRegistered(emb.sparkSession)
    require(candidates >= k, "cosineTopKReranked: candidates must cover k")
    val proj = emb.select(col("vec_id").cast("long").as("vec_id"),
      projectEmbeddings(col("embedding"), outDims).as("pv"))
    val probesPv = broadcast(proj.filter(col("vec_id") < nProbes)
      .select(col("vec_id").as("probe_id"), col("pv").as("p_pv")))
    val survivors = probesPv.join(proj, col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id").as("neighbor_id"),
        cosine6(col("p_pv"), col("pv")).as("cscore"))
      .withColumn("crnk", row_number().over(Window.partitionBy(col("probe_id"))
        .orderBy(col("cscore").desc, col("neighbor_id").asc)))
      .filter(col("crnk") <= candidates)
      .select(col("probe_id"), col("neighbor_id"))
    val probesFull = broadcast(emb.filter(col("vec_id") < nProbes)
      .select(col("vec_id").cast("long").as("probe_id"),
        col("embedding").as("p_emb")))
    broadcast(survivors)
      .join(emb.select(col("vec_id").cast("long").as("neighbor_id"),
        col("embedding")), Seq("neighbor_id"))
      .join(probesFull, Seq("probe_id"))
      .select(col("probe_id"), col("neighbor_id"),
        cosine6(col("p_emb"), col("embedding")).as("score"))
      .withColumn("rnk", row_number().over(Window.partitionBy(col("probe_id"))
        .orderBy(col("score").desc, col("neighbor_id").asc)))
      .filter(col("rnk") <= k)
      .select(col("probe_id"), col("rnk").cast("int").as("rnk"),
        col("neighbor_id"), col("score"))
  }

  /** Per-dimension (min, max) over the corpus as two 1-row broadcast
    * arrays — the codebook of asymmetric scalar quantization. One
    * posexplode aggregation; dims are index-aligned via the sort. */
  private def dimStats(emb: DataFrame): DataFrame =
    emb.select(posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col("pos"))
      .agg(min(col("v").cast("double")).as("dmin"),
        max(col("v").cast("double")).as("dmax"))
      .groupBy()
      .agg(array_sort(collect_list(struct(col("pos"), col("dmin"),
        col("dmax")))).as("s"))
      .select(transform(col("s"), x => x.getField("dmin")).as("mins"),
        transform(col("s"), x => x.getField("dmax")).as("maxs"))

  /**
   * Asymmetric per-dimension scalar quantization to `levels` integer
   * steps (256 = int8) — the memory lever for corpus-scale vector
   * search: a 64-dim float corpus stores 4x smaller quantized, and the
   * dequantized reconstruction `min_d + q/(levels-1)*(max_d-min_d)`
   * bounds the per-dim error by the step size. Degenerate dims
   * (max == min) pin to step 0. Returns (vec_id, qvec, mins, maxs) with
   * the stats carried as columns so scoring never re-aggregates.
   *
   * Scale: the stats are ONE posexplode aggregation (map-side partials)
   * broadcast to the corpus; quantization itself is a narrow projection.
   */
  def quantizeEmbeddings(emb: DataFrame, levels: Int = 256): DataFrame = {
    require(levels >= 2, "quantizeEmbeddings: need at least 2 levels")
    val lv = (levels - 1).toDouble
    // 1-row stats persist so consumers that branch the quantized frame
    // (probes + corpus) aggregate the corpus once, not per branch
    emb.crossJoin(broadcast(dimStats(emb)
        .transform(Caches.persist(_))))
      .select(col("vec_id").cast("long").as("vec_id"),
        transform(
          arrays_zip(col("embedding").as("v"), col("mins").as("lo"),
            col("maxs").as("hi")),
          s => when(s.getField("hi") === s.getField("lo"), lit(0))
            .otherwise(round((s.getField("v").cast("double") - s.getField("lo"))
              / (s.getField("hi") - s.getField("lo")) * lv, 0).cast("int")))
          .as("qvec"),
        col("mins"), col("maxs"))
  }

  /** Dequantized double array from a qvec + carried stats columns. */
  private def dequantize(q: Column, mins: Column, maxs: Column,
      lv: Double): Column =
    transform(arrays_zip(q.as("q"), mins.as("lo"), maxs.as("hi")),
      s => s.getField("lo") + s.getField("q").cast("double") / lv *
        (s.getField("hi") - s.getField("lo")))

  /**
   * Brute-force cosine top-k over the QUANTIZED corpus (symmetric:
   * probes are quantized too) — same contract as [[cosineTopK]] but
   * every score is computed from int8 reconstructions, pinning the
   * quantization error end-to-end. Same plan shape: broadcast probes,
   * one corpus scan, per-probe window.
   */
  def cosineTopKQuantized(emb: DataFrame, nProbes: Int, k: Int,
      levels: Int = 256): DataFrame = {
    graft.functions.ensureRegistered(emb.sparkSession)
    val lv = (levels - 1).toDouble
    val q = quantizeEmbeddings(emb, levels)
      .withColumn("dv", dequantize(col("qvec"), col("mins"), col("maxs"), lv))
      .select(col("vec_id"), col("dv"))
    val probes = broadcast(q.filter(col("vec_id") < nProbes)
      .select(col("vec_id").as("probe_id"), col("dv").as("p_dv")))
    probes.join(q, col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id").as("neighbor_id"),
        // native single-pass cosine (accepts double arrays; bit-identical
        // to the columnar folds) — the hot pair loop stays unboxed
        cosine6(col("p_dv"), col("dv")).as("score"))
      .withColumn("rnk", row_number().over(Window.partitionBy(col("probe_id"))
        .orderBy(col("score").desc, col("neighbor_id").asc)))
      .filter(col("rnk") <= k)
      .select(col("probe_id"), col("rnk").cast("int").as("rnk"),
        col("neighbor_id"), col("score"))
  }

  /**
   * 1-bit (sign) binary signature: bit `i` of the packed little-endian
   * word array is set iff `v[i] > 0` — 64 dimensions per BIGINT, a
   * 32–64× footprint reduction and the representation behind
   * Hamming-distance shortlisting (binary quantization, the cheapest
   * of the three codebook-free compressions beside int8 and random
   * projection). Built as a PLAIN expression tree (a sum of 64
   * conditional bit terms per word, no higher-order functions), so the
   * packing stays inside whole-stage codegen.
   */
  def binarySig(v: Column, dim: Int): Column = {
    require(dim > 0, "binarySig: dim must be positive")
    val nWords = (dim + 63) / 64
    array((0 until nWords).map { w =>
      (0 until 64).flatMap { bit =>
        val i = w * 64 + bit
        if (i >= dim) None
        else Some(when(element_at(v, i + 1).cast("double") > 0.0d,
          lit(1L << bit)).otherwise(lit(0L)))
      }.reduce(_ + _)
    }: _*)
  }

  /** Hamming distance between two packed [[binarySig]] word arrays:
    * Σ_w bit_count(a[w] XOR b[w]) — plain codegen'd bit ops, the
    * per-pair hot loop of the binary coarse stage. */
  def hammingPacked(a: Column, b: Column, dim: Int): Column = {
    val nWords = (dim + 63) / 64
    (0 until nWords).map(w =>
      bit_count(element_at(a, w + 1).bitwiseXOR(element_at(b, w + 1)))
        .cast("long")).reduce(_ + _)
  }

  /**
   * Two-stage retrieval over BINARY signatures: coarse top-`candidates`
   * per probe by packed-word Hamming distance (bit_count(xor) — ~dim/64
   * ALU ops per pair instead of dim multiply-adds), then an exact
   * cosine rerank of only those candidates in the full space. The
   * Hamming tie-break is neighbor_id, and Hamming is an integer, so the
   * candidate SET is engine-deterministic with no rounding caveats at
   * all — the property the projection-based [[cosineTopKReranked]] has
   * to buy with 6dp rounding.
   *
   * Scale: same audited shape as [[cosineTopKReranked]] — signatures
   * are a narrow ~dim/64-word derivation, the coarse window moves only
   * `(probe_id, neighbor_id, ham)` triples (never embeddings), and full
   * vectors are touched by exactly one corpus scan plus a
   * candidate-sized broadcast join-back.
   */
  def cosineTopKBinary(emb: DataFrame, nProbes: Int, k: Int, dim: Int,
      candidates: Int = 50): DataFrame = {
    graft.functions.ensureRegistered(emb.sparkSession)
    require(candidates >= k, "cosineTopKBinary: candidates must cover k")
    val sig = emb.select(col("vec_id").cast("long").as("vec_id"),
      binarySig(col("embedding"), dim).as("sig"))
    val probesSig = broadcast(sig.filter(col("vec_id") < nProbes)
      .select(col("vec_id").as("probe_id"), col("sig").as("p_sig")))
    val survivors = probesSig.join(sig, col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id").as("neighbor_id"),
        hammingPacked(col("p_sig"), col("sig"), dim).as("ham"))
      .withColumn("crnk", row_number().over(Window.partitionBy(col("probe_id"))
        .orderBy(col("ham").asc, col("neighbor_id").asc)))
      .filter(col("crnk") <= candidates)
      .select(col("probe_id"), col("neighbor_id"))
    val probesFull = broadcast(emb.filter(col("vec_id") < nProbes)
      .select(col("vec_id").cast("long").as("probe_id"),
        col("embedding").as("p_emb")))
    broadcast(survivors)
      .join(emb.select(col("vec_id").cast("long").as("neighbor_id"),
        col("embedding")), Seq("neighbor_id"))
      .join(probesFull, Seq("probe_id"))
      .select(col("probe_id"), col("neighbor_id"),
        cosine6(col("p_emb"), col("embedding")).as("score"))
      .withColumn("rnk", row_number().over(Window.partitionBy(col("probe_id"))
        .orderBy(col("score").desc, col("neighbor_id").asc)))
      .filter(col("rnk") <= k)
      .select(col("probe_id"), col("rnk").cast("int").as("rnk"),
        col("neighbor_id"), col("score"))
  }

  /** PQ codebook from the corpus itself: subvector `j` of each of the
    * first `kCent` vectors (by vec_id) becomes centroid `(j, vec_id)` —
    * the training-free deterministic analogue of [[firstNCentroids]],
    * flattened to the `book(j*k*sub + c*sub + i)` layout the native
    * kernels index. One tiny eager job (kCent rows by contract). */
  def pqCodebook(emb: DataFrame, m: Int, kCent: Int): Array[Float] = {
    val first = emb.filter(col("vec_id") < kCent)
      .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
      .collect()
      .sortBy(_.getLong(0))
      .map(_.getSeq[Float](1).toArray)
    require(first.length == kCent,
      s"pqCodebook: expected $kCent seed vectors with vec_id < $kCent, " +
        s"found ${first.length}")
    val dim = first.head.length
    require(dim % m == 0, s"pqCodebook: dim $dim not divisible by m=$m")
    val sub = dim / m
    val book = new Array[Float](m * kCent * sub)
    for (j <- 0 until m; c <- 0 until kCent; i <- 0 until sub)
      book((j * kCent + c) * sub + i) = first(c)(j * sub + i)
    book
  }

  /**
   * Product-quantization ANN (Jegou et al. 2011): the corpus is encoded
   * once into `m` subvector centroid ids (here m ints standing in for
   * `dim` floats — a 32× index-footprint cut at m=8/dim=64, the reason
   * PQ is the standard billion-vector in-memory index), and probes are
   * ranked by asymmetric distance (exact probe subvector vs the
   * neighbor's reconstructed centroids) without ever decompressing the
   * corpus. Returns `(probe_id, rnk, neighbor_id, adc_dist)` — rank
   * ascending in squared-L2 ADC, ties to the lowest neighbor.
   *
   * Scale shape (100 TB): the codebook is m×kCent subvectors — KB-sized
   * by contract — collected once and inlined into the two native
   * kernels (no codebook join); encoding is one embarrassingly-parallel
   * corpus scan; the probe table is broadcast so the scored pair stream
   * carries only `(probe_id, neighbor_id, m codes → one double)`; and
   * the per-probe top-k window moves score-only triples, never
   * embeddings (the [[cosineTopKReranked]] audit rule). The full-width
   * corpus is scanned exactly once (to encode); search itself touches
   * nothing wider than m ints per vector.
   */
  def pqTopK(emb: DataFrame, nProbes: Int, k: Int, m: Int = 8,
      kCent: Int = 16): DataFrame = {
    graft.functions.ensureRegistered(emb.sparkSession)
    require(nProbes > 0 && k > 0, "pqTopK: nProbes and k must be positive")
    val book = pqCodebook(emb, m, kCent)
    val codes = emb.select(col("vec_id").cast("long").as("neighbor_id"),
      graft.functions.pq_encode(col("embedding"), book, m).as("codes"))
    val probes = broadcast(emb.filter(col("vec_id") < nProbes)
      .select(col("vec_id").cast("long").as("probe_id"),
        col("embedding").as("p_emb")))
    probes.join(codes, col("neighbor_id") =!= col("probe_id"))
      .select(col("probe_id"), col("neighbor_id"),
        round(graft.functions.pq_adc(col("p_emb"), col("codes"), book), 6)
          .as("adc_dist"))
      .withColumn("rnk", row_number().over(Window.partitionBy(col("probe_id"))
        .orderBy(col("adc_dist").asc, col("neighbor_id").asc)))
      .filter(col("rnk") <= k)
      .select(col("probe_id"), col("rnk").cast("int").as("rnk"),
        col("neighbor_id"), col("adc_dist"))
  }

  /**
   * Recall@k certification of the PQ/ADC path against EXACT squared-L2
   * brute force — the metric PQ actually approximates (certifying it
   * against cosine would mix metrics; [[annRecall]] covers the cosine
   * family). Per probe: how many of the true L2 top-k did ADC-over-codes
   * recover? Scale: truth is a broadcast-probes one-scan ranking with
   * the native [[graft.functions.l2_sq]] kernel; the compare joins
   * (probe, neighbor) id pairs only.
   */
  def pqRecall(emb: DataFrame, nProbes: Int, k: Int, m: Int = 8,
      kCent: Int = 16): DataFrame = {
    graft.functions.ensureRegistered(emb.sparkSession)
    val probes = broadcast(emb.filter(col("vec_id") < nProbes)
      .select(col("vec_id").cast("long").as("probe_id"),
        col("embedding").as("p_emb")))
    val truth = probes.join(
        emb.select(col("vec_id").cast("long").as("neighbor_id"),
          col("embedding")),
        col("neighbor_id") =!= col("probe_id"))
      .select(col("probe_id"), col("neighbor_id"),
        round(graft.functions.l2_sq(col("p_emb"), col("embedding")), 6)
          .as("d"))
      .withColumn("rnk", row_number().over(Window.partitionBy(col("probe_id"))
        .orderBy(col("d").asc, col("neighbor_id").asc)))
      .filter(col("rnk") <= k)
      .select(col("probe_id"), col("neighbor_id"))
    val approx = pqTopK(emb, nProbes, k, m, kCent)
      .select(col("probe_id"), col("neighbor_id"), lit(1L).as("hit"))
    truth.join(approx, Seq("probe_id", "neighbor_id"), "left")
      .groupBy(col("probe_id"))
      .agg(count(lit(1)).cast("long").as("n_truth"),
        sum(coalesce(col("hit"), lit(0L))).cast("long").as("n_hit"))
      .select(col("probe_id"), col("n_truth"), col("n_hit"),
        round(col("n_hit").cast("double") / col("n_truth").cast("double"), 6)
          .as("recall"))
  }

  /**
   * IVF-PQ — the composition behind every billion-scale in-memory ANN
   * index (FAISS `IVFx,PQy`; Jegou et al. 2011 §IV "IVFADC"): a coarse
   * quantizer routes each probe to ONE Voronoi cell and asymmetric PQ
   * distance ranks only that cell's members, over codes instead of
   * vectors. Both stages reuse the audited building blocks:
   * [[assignClusters]] (broadcast codebook, map-side argmax) and the
   * [[pqTopK]] kernels. Returns `(probe_id, cluster, rnk, neighbor_id,
   * adc_dist)`.
   *
   * Scale shape (100 TB): after the one-scan encode, the inverted
   * lists carry `(cluster, neighbor_id, m codes)` — at m=8 that is the
   * 32×-compressed corpus IVFADC holds in RAM. The ONLY corpus shuffle
   * is the cluster-keyed equi-join (probe side broadcast); the ranking
   * window moves score triples. Cell sizing follows the IVF rule
   * (`nCentroids ~ sqrt(N)`), so per-cell candidate streams stay
   * bounded.
   */
  def ivfPqTopK(emb: DataFrame, nProbes: Int, k: Int, m: Int = 8,
      kCent: Int = 16, nCentroids: Int = 16): DataFrame = {
    graft.functions.ensureRegistered(emb.sparkSession)
    require(nProbes > 0 && k > 0, "ivfPqTopK: nProbes and k must be positive")
    val book = pqCodebook(emb, m, kCent)
    val assigned = assignClusters(emb, firstNCentroids(emb, nCentroids))
    val codes = assigned.select(col("cluster"),
      col("vec_id").cast("long").as("neighbor_id"),
      graft.functions.pq_encode(col("embedding"), book, m).as("codes"))
    val probes = broadcast(assigned.filter(col("vec_id") < nProbes)
      .select(col("vec_id").cast("long").as("probe_id"),
        col("embedding").as("p_emb"), col("cluster")))
    probes.join(codes, Seq("cluster"))
      .filter(col("neighbor_id") =!= col("probe_id"))
      .select(col("probe_id"), col("cluster"), col("neighbor_id"),
        round(graft.functions.pq_adc(col("p_emb"), col("codes"), book), 6)
          .as("adc_dist"))
      .withColumn("rnk", row_number().over(Window.partitionBy(col("probe_id"))
        .orderBy(col("adc_dist").asc, col("neighbor_id").asc)))
      .filter(col("rnk") <= k)
      .select(col("probe_id"), col("cluster"), col("rnk").cast("int").as("rnk"),
        col("neighbor_id"), col("adc_dist"))
  }

  /**
   * PERSISTED IVF-PQ index — the on-disk form of FAISS `IVFx,PQy`
   * (IVFADC), and the index that actually FITS a 100 TB corpus: the
   * inverted lists `codes` store `(cluster, vec_id, m codes)` — m ints
   * standing in for `dim` floats, the 32× footprint cut at m=8/dim=64
   * — in the shared index layout keyed on the cell, like
   * [[buildIvfIndex]]'s vectors, plus the two frozen
   * codebooks ([[pqCodebook]] sub-quantizers, [[firstNCentroids]]
   * coarse cells — both deterministic, oracle-replicable) and a
   * `(m, k_cent, n_centroids, dims, n_parts)` manifest. Build cost:
   * one corpus scan (assign + encode in the same projection) and one
   * part-keyed shuffle for the layout; the raw embeddings never
   * need to be read again for search.
   */
  def buildIvfPqIndex(emb: DataFrame, path: String, m: Int = 8,
      kCent: Int = 16, nCentroids: Int = 16, nParts: Int = 64): Unit = {
    require(nParts >= 1, "buildIvfPqIndex: nParts must be >= 1")
    val spark = emb.sparkSession
    graft.functions.ensureRegistered(spark)
    val book = pqCodebook(emb, m, kCent)
    val cents = firstNCentroids(emb, nCentroids)
    writePqCells(emb, cents, book, m, s"$path/codes", nParts, "overwrite")
    cents.coalesce(1).write.mode("overwrite")
      .parquet(s"$path/centroids")
    import spark.implicits._
    Seq((m, kCent, nCentroids, book.length / (m * kCent) * m,
        book.toSeq, nParts))
      .toDF("m", "k_cent", "n_centroids", "dims", "book", "n_parts")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/pq_book")
  }

  /** Assigns `emb` to the frozen coarse cells and encodes it with the
    * frozen sub-quantizer book, writing its `(cluster, vec_id, codes)`
    * rows in the part layout (the build, or an append with mode
    * "append"). */
  private def writePqCells(emb: DataFrame, cents: DataFrame,
      book: Array[Float], m: Int, dir: String, nParts: Int,
      mode: String): Unit =
    LayoutOps.writeParts(
      assignClusters(emb, cents)
        .select(col("cluster"), col("vec_id").cast("long").as("vec_id"),
          graft.functions.pq_encode(col("embedding"), book, m).as("codes"))
        .withColumn("part", cellPart(col("cluster"), nParts)),
      dir, "cluster", mode)

  /** The IVF-PQ manifest + sub-quantizer book row, read on the driver
    * with no Spark job; a pq_book that predates any manifest field (a
    * pre-r15 one has no n_parts) gets the rebuild message, not a
    * field-missing error. */
  private def ivfPqManifest(spark: org.apache.spark.sql.SparkSession,
      path: String): org.apache.spark.sql.Row =
    LayoutOps.manifestRows(spark, path, "pq_book", "ivf-pq",
      "codebooks — rebuild with buildIvfPqIndex",
      Seq("m", "k_cent", "n_centroids", "n_parts"),
      m => s"predates the partitioned layout (pq_book carries no $m) — " +
        "rebuild with buildIvfPqIndex").head

  /** The manifest's `m`, sub-quantizer book and `n_parts`, with the
    * coarse centroids as a scan. */
  private def readIvfPqBooks(spark: org.apache.spark.sql.SparkSession,
      path: String): (Int, Array[Float], DataFrame, Int) = {
    val row = ivfPqManifest(spark, path)
    (row.getAs[Int]("m"), row.getSeq[Float](row.fieldIndex("book")).toArray,
      LayoutOps.indexScan(spark, s"$path/centroids"), row.getAs[Int]("n_parts"))
  }

  /**
   * Incremental add to a [[buildIvfPqIndex]] index — FAISS `add` on
   * the composed index: BOTH codebooks stay frozen (coarse cells and
   * sub-quantizers), so new vectors assign + encode map-side and
   * append under their cells' part directories; nothing existing moves and
   * earlier queries' rankings are unchanged. Quantization drift under
   * a shifting corpus is the documented trade (monitor cell sizes /
   * [[pqRecall]]; re-train = [[rebuildIvfPqIndexPointer]] FROM THE
   * SOURCE CORPUS — codes are lossy, so unlike
   * [[rebuildIvfIndexPointer]] this
   * index cannot retrain from its own contents). At-least-once
   * replays re-add byte-identical code rows; query with
   * `absorbReplays = true` between a crash and the rebuild, exactly
   * as the IVF twin. Re-encoding an existing vec_id with changed
   * embedding bytes is unsupported.
   */
  def appendToIvfPqIndex(newEmb: DataFrame, path: String): Unit = {
    val spark = newEmb.sparkSession
    graft.functions.ensureRegistered(spark)
    val (m, book, cents, nParts) = readIvfPqBooks(spark, path)
    writePqCells(newEmb, cents, book, m, s"$path/codes", nParts, "append")
  }

  /**
   * RE-TRAIN the IVF-PQ lifecycle's other half — the
   * [[rebuildIvfIndexPointer]] discipline for the compressed twin, with
   * the one structural difference stated in the type: PQ codes are
   * LOSSY, so the index cannot retrain from its own contents and the
   * caller passes the SOURCE corpus. Both codebooks retrain fresh
   * (coarse cells + sub-quantizers), the corpus re-encodes into a NEW
   * generation of the pointer root `root` published with one
   * pointer-object write ([[LayoutOps.withPointerGeneration]]), and any
   * rows a crashed-and-replayed at-least-once append duplicated are
   * purged (`vec_id` dedup on the source before encoding). Each `<= 0`
   * argument falls back to the LIVE generation's manifest; readers
   * resolve it via [[LayoutOps.resolveIndexPointer]]. Serving reads
   * never see a half-index; every crash window leaves the old
   * generation serving.
   */
  def rebuildIvfPqIndexPointer(emb: DataFrame, root: String, m: Int = 0,
      kCent: Int = 0, nCentroids: Int = 0, nParts: Int = 0): Unit = {
    val spark = emb.sparkSession
    val live = LayoutOps.resolveIndexPointer(spark, root)
    val row = ivfPqManifest(spark, live)
    val mm = if (m > 0) m else row.getAs[Int]("m")
    val kc = if (kCent > 0) kCent else row.getAs[Int]("k_cent")
    val nc = if (nCentroids > 0) nCentroids else row.getAs[Int]("n_centroids")
    val np = if (nParts > 0) nParts else row.getAs[Int]("n_parts")
    // persisted: the build consumes the corpus three times (PQ books,
    // coarse seeds, the encode+layout pass) — without the barrier the
    // dedup shuffle and source scan re-run per consumer (r17 review;
    // the IVF twin already had this)
    val corpus = Caches.persist(emb.dropDuplicates("vec_id"))
    try LayoutOps.withPointerGeneration(spark, root)(gen =>
      buildIvfPqIndex(corpus, gen, mm, kc, nc, np))
    finally corpus.unpersist(false)
  }

  /**
   * Query a [[buildIvfPqIndex]] index: probes route to their `nProbe`
   * nearest cells by cosine against the stored coarse centroids (the
   * [[assignClusters]] ranking — identical ties, so an indexed probe
   * searches its own cell), ONLY those cells' code partitions are
   * read (partition-pruned through the shared [[touchedCells]] read —
   * the inverted-list contract, one PlanSpec pin covering both
   * twins), and asymmetric PQ distance over codes ranks the
   * candidates. Same output contract as
   * [[ivfPqTopK]]: `(probe_id, cluster, rnk, neighbor_id, adc_dist)`.
   *
   * Scale shape: search touches m ints per candidate vector and the
   * KB-scale codebooks ride the plan as literals — the corpus' floats
   * are never read. The probe side broadcasts; the only data motion
   * is the pruned code partitions streaming through the ADC kernel.
   */
  def ivfPqIndexTopK(probes: DataFrame, path: String, k: Int,
      nProbe: Int = 1, absorbReplays: Boolean = false,
      excludeSelf: Boolean = true): DataFrame = {
    require(k > 0 && nProbe > 0, "ivfPqIndexTopK: k > 0, nProbe > 0")
    val spark = probes.sparkSession
    graft.functions.ensureRegistered(spark)
    val (m, book, cents, nParts) = readIvfPqBooks(spark, path)
    val p = Caches.persist(probes
      .select(col("vec_id").cast("long").as("probe_id"),
        col("embedding").as("p_emb"))
      .crossJoin(broadcast(cents))
      .select(col("probe_id"), col("p_emb"), col("centroid_id"),
        cosine6(col("p_emb"), col("c_emb")).as("c_score"))
      .withColumn("crnk", row_number().over(
        Window.partitionBy(col("probe_id"))
          .orderBy(col("c_score").desc, col("centroid_id").asc)))
      .filter(col("crnk") <= nProbe)
      .select(col("probe_id"), col("p_emb"),
        col("centroid_id").as("cluster")))
    // bounded driver collect: <= nProbes x nProbe cell ids — the probed
    // cells, which become the codes scan's PARTITION filter (shared
    // touchedCells helper, so the IVF twin's PlanSpec pruning pin
    // covers this read too — VERDICT r14 #4)
    val touched = p.select(col("cluster")).distinct()
      .collect().map(_.getLong(0)).sorted.toIndexedSeq
    val codes = touchedCells(spark, path, touched, sub = "codes",
        nParts = nParts)
      .select(col("vec_id").cast("long").as("neighbor_id"),
        col("codes"), col("cluster").cast("long").as("cluster"))
    // replay absorption — the [[ivfIndexTopK]] lag-flag dedup on the
    // ADC rank window, OPT-IN for the same reason (the lag window
    // forfeits the partial WindowGroupLimit's k-bounded shuffle;
    // default keeps the scale plan, absorbReplays = true covers the
    // crash-to-rebuild window)
    val wRank = Window.partitionBy(col("probe_id"))
      .orderBy(col("adc_dist").asc, col("neighbor_id").asc)
    // excludeSelf mirrors [[ivfIndexTopK]] (ADVICE r17): the default is
    // the "probe is IN the index" contract; turn it OFF when probe and
    // index id spaces are independent numberings, where an id collision
    // is two DIFFERENT vectors that must still rank — the exact silent
    // drop the r17 review fixed on the IVF twin.
    val joinedPq = broadcast(p).join(codes, Seq("cluster"))
    val scored = (if (excludeSelf)
        joinedPq.filter(col("neighbor_id") =!= col("probe_id"))
      else joinedPq)
      .select(col("probe_id"), col("cluster"), col("neighbor_id"),
        round(graft.functions.pq_adc(col("p_emb"), col("codes"), book), 6)
          .as("adc_dist"))
    (if (absorbReplays) dedupReplayRows(scored, wRank, "adc_dist")
     else scored)
      .withColumn("rnk", row_number().over(wRank))
      .filter(col("rnk") <= k)
      .select(col("probe_id"), col("cluster"),
        col("rnk").cast("int").as("rnk"), col("neighbor_id"),
        col("adc_dist"))
  }

  /**
   * MULTI-PROBE IVF-PQ — the configuration billion-scale deployments
   * actually run (FAISS `IVFx,PQy` with `nprobe > 1`): each probe
   * searches its `nProbe` nearest centroids' cells by asymmetric PQ
   * distance over codes, combining [[ivfTopKProbed]]'s recall lever
   * with [[ivfPqTopK]]'s 32× code compression. `nProbe = nCentroids`
   * degenerates to whole-corpus ADC ([[pqTopK]]).
   *
   * Scale shape: the centroid ranking crosses the (small) probe set
   * with the (small) codebook; the corpus encodes once and shuffles
   * ONCE keyed by its assigned cluster; probes replicate `nProbe`×
   * into the cell join — corpus-side work identical to single-probe,
   * only the probe fan-out grows. A neighbor lives in exactly one
   * cell, so no dedup is needed across probed cells.
   */
  def ivfPqTopKProbed(emb: DataFrame, nProbes: Int, k: Int,
      nProbe: Int = 3, m: Int = 8, kCent: Int = 16,
      nCentroids: Int = 16): DataFrame = {
    graft.functions.ensureRegistered(emb.sparkSession)
    require(nProbes > 0 && k > 0 && nProbe > 0,
      "ivfPqTopKProbed: nProbes, k, nProbe must be positive")
    val book = pqCodebook(emb, m, kCent)
    val cents = firstNCentroids(emb, nCentroids)
    val codes = assignClusters(emb, cents).select(col("cluster"),
      col("vec_id").cast("long").as("neighbor_id"),
      graft.functions.pq_encode(col("embedding"), book, m).as("codes"))
    val probeClusters = emb.filter(col("vec_id") < nProbes)
      .select(col("vec_id").cast("long").as("probe_id"),
        col("embedding").as("p_emb"))
      .crossJoin(broadcast(cents))
      .select(col("probe_id"), col("p_emb"), col("centroid_id"),
        cosine6(col("p_emb"), col("c_emb")).as("c_score"))
      .withColumn("crnk", row_number().over(
        Window.partitionBy(col("probe_id"))
          .orderBy(col("c_score").desc, col("centroid_id").asc)))
      .filter(col("crnk") <= nProbe)
      .select(col("probe_id"), col("p_emb"),
        col("centroid_id").as("cluster"))
    broadcast(probeClusters).join(codes, Seq("cluster"))
      .filter(col("neighbor_id") =!= col("probe_id"))
      .select(col("probe_id"), col("neighbor_id"),
        round(graft.functions.pq_adc(col("p_emb"), col("codes"), book), 6)
          .as("adc_dist"))
      .withColumn("rnk", row_number().over(Window.partitionBy(col("probe_id"))
        .orderBy(col("adc_dist").asc, col("neighbor_id").asc)))
      .filter(col("rnk") <= k)
      .select(col("probe_id"), col("rnk").cast("int").as("rnk"),
        col("neighbor_id"), col("adc_dist"))
  }

  /**
   * Reciprocal-rank fusion (Cormack, Clarke & Buettcher 2009, "Reciprocal
   * Rank Fusion outperforms Condorcet..."): combine a SPARSE ranked list
   * (BM25) with a DENSE one (cosine top-k) by
   * `rrf(d) = Σ_l 1/(k0 + rank_l(d))` — the standard hybrid-retrieval
   * combiner every production search stack ships, robust to the two
   * scorers' incomparable score scales because only RANKS enter.
   *
   * Inputs are `(doc_id, rnk)` frames (absent docs contribute nothing
   * for that list). Determinism: the fusion is a FIXED-ORDER two-term
   * double expression over integer ranks (full-outer join + coalesce),
   * not a floating aggregation — engine-identical bits, ties broken by
   * doc_id.
   *
   * Scale shape: both inputs are kTop-bounded by their rankers'
   * contracts, so the join and final sort are constant-size; all
   * corpus-scale work lives upstream in the rankers.
   */
  def rrfFuse(sparse: DataFrame, dense: DataFrame, kTop: Int = 10,
      k0: Int = 60): DataFrame = {
    require(kTop > 0, "rrfFuse: kTop must be positive")
    require(k0 > 0, "rrfFuse: k0 must be positive")
    val s = sparse.select(col("doc_id").cast("long").as("doc_id"),
      col("rnk").cast("int").as("rnk_sparse"))
    val d = dense.select(col("doc_id").cast("long").as("doc_id"),
      col("rnk").cast("int").as("rnk_dense"))
    s.join(d, Seq("doc_id"), "full_outer")
      .withColumn("rrf", round(
        coalesce(lit(1.0) / (lit(k0) + col("rnk_sparse")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(k0) + col("rnk_dense")), lit(0.0)), 6))
      .orderBy(col("rrf").desc, col("doc_id").asc)
      .limit(kTop)
      .withColumn("rnk", row_number().over(
        Window.orderBy(col("rrf").desc, col("doc_id").asc)))
      .select(col("rnk").cast("int").as("rnk"), col("doc_id"),
        col("rnk_sparse"), col("rnk_dense"), col("rrf"))
  }

  /**
   * MMR-diversified retrieval (Carbonell & Goldstein 1998, "The Use of
   * MMR, Diversity-Based Reranking..."): per probe, greedily select
   * `k` of the top-`candidates` cosine neighbors maximizing
   * `λ·rel(d) − (1−λ)·max_{s∈selected} sim(d, s)` — the result-set
   * diversification every RAG retriever layers over plain top-k so k
   * near-identical chunks don't crowd out coverage.
   *
   * Step 1 is pure relevance (its `mmr` column is the relevance
   * score); steps 2..k re-score the remainder against the growing
   * selected set. Every ranking is on 6dp-rounded scores with a
   * neighbor-id tie-break, and the per-step max-similarity is a MAX
   * over rounded pairs — order-free, so the greedy path (not just the
   * final set) is engine-deterministic.
   *
   * Scale shape: the ONLY corpus-scale work is [[cosineTopK]]'s one
   * broadcast-probe scan (persisted — it feeds both the pair-sim build
   * and the selection). Everything after — the embedding join-back and
   * the candidate×candidate pair sims — runs on (nProbes × candidates)-
   * sized tables, independent of corpus size. The k greedy rounds are
   * inherently sequential per probe with a contract-bounded working set
   * (candidates is a query constant), so they run INSIDE one cogroup
   * over probe_id — the `mapGroupsWithState`-style shape for per-key
   * iterative algorithms — instead of as k chained plans: r7's chained
   * form re-executed the whole prior tree per round (112 s at sf0.1);
   * the persisted variant still paid ~20 exchanges of scheduling
   * overhead (4.7 s). One shuffle, one stage, probes parallelize
   * across executors.
   *
   * The in-group arithmetic replicates the engine math bit-for-bit:
   * pair sims arrive pre-rounded from the distributed [[cosine6]]
   * expression, and the MMR score uses the same HALF_UP 6dp rounding
   * as Spark's `round`.
   */
  def mmrTopK(emb: DataFrame, nProbes: Int, k: Int, candidates: Int,
      lambda: Double = 0.7): DataFrame = {
    require(candidates >= k, "mmrTopK: candidates must cover k")
    require(lambda >= 0 && lambda <= 1, "mmrTopK: lambda in [0,1]")
    val spark = emb.sparkSession
    import spark.implicits._
    graft.functions.ensureRegistered(spark)
    // score can be NULL when a neighbor's embedding is null (cosine6
    // of null is null); such a candidate has no usable relevance AND
    // would crash the non-nullable cogroup encoder — drop it here so
    // the psim join-back and the selection loop only ever see scored
    // candidates (the getOrElse(-inf) below stays as defense in depth)
    val cands = Caches.persist(cosineTopK(emb, nProbes, candidates)
      .filter(col("score").isNotNull)
      .select(col("probe_id"), col("neighbor_id"), col("score")))
    // candidate-sized (nProbes × candidates rows); persisted so the
    // a×b self-join below reads the embedding join-back once, not twice
    val withEmb = Caches.persist(cands.join(
      emb.select(col("vec_id"), col("embedding")),
      col("neighbor_id") === col("vec_id"))
      .select(col("probe_id"), col("neighbor_id"), col("score"),
        col("embedding")))
    val a = withEmb.select(col("probe_id"), col("neighbor_id").as("a_id"),
      col("embedding").as("a_emb"))
    val b = withEmb.select(col("probe_id").as("b_probe"),
      col("neighbor_id").as("b_id"), col("embedding").as("b_emb"))
    val psim = a.join(b,
        col("probe_id") === col("b_probe") && col("a_id") =!= col("b_id"))
      .select(col("probe_id"), col("a_id"), col("b_id"),
        cosine6(col("a_emb"), col("b_emb")).as("psim"))
    // Spark round() semantics: HALF_UP on the decimal repr of the double.
    // NaN/Infinity pass through unrounded (BigDecimal.valueOf would throw
    // NumberFormatException) — matching Spark's round, which returns the
    // input for non-finite doubles. A zero-norm embedding yields a NaN
    // cosine; it must degrade, not crash the cogroup.
    def round6(v: Double): Double =
      if (java.lang.Double.isNaN(v) || java.lang.Double.isInfinite(v)) v
      else java.math.BigDecimal.valueOf(v)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    val candsDs = cands.toDF("_1", "_2", "_3").as[(Long, Long, Double)]
    val psimDs = psim.toDF("_1", "_2", "_3", "_4")
      .as[(Long, Long, Long, Double)]
    candsDs.groupByKey(_._1).cogroup(psimDs.groupByKey(_._1)) {
      (probe, cIt, pIt) =>
        val cs = cIt.toArray
        val sims = pIt.map(p => (p._2, p._3) -> p._4).toMap
        val selected =
          scala.collection.mutable.ArrayBuffer[(Long, Int, Long, Double, Double)]()
        val remaining = scala.collection.mutable.ArrayBuffer.from(cs)
        // step 1: pure relevance; ties broken by lowest neighbor id
        if (remaining.nonEmpty) {
          val first = remaining.minBy(c => (-c._3, c._2))
          selected += ((probe, 1, first._2, first._3, first._3))
          remaining -= first
        }
        var step = 2
        while (step <= k && remaining.nonEmpty) {
          val scored = remaining.map { c =>
            // getOrElse: the psim self-join can miss a pair only when an
            // embedding join-back dropped a row (e.g. null embedding) —
            // treat the unknown sim as -inf (no diversity penalty) rather
            // than throwing NoSuchElementException mid-task.
            val msim = selected.iterator
              .map(s => sims.getOrElse((c._2, s._3), Double.NegativeInfinity))
              .max
            (c, round6(lambda * c._3 - (1 - lambda) * msim))
          }
          val (bc, bm) = scored.minBy { case (c, m) => (-m, c._2) }
          selected += ((probe, step, bc._2, bc._3, bm))
          remaining -= bc
          step += 1
        }
        selected.iterator
    }.toDF("probe_id", "step", "neighbor_id", "score", "mmr")
      .select(col("probe_id"), col("step").cast("int").as("step"),
        col("neighbor_id"), col("score"), col("mmr"))
  }

  /**
   * Topic-cluster labeling report — the corpus cartography view a
   * curation pipeline uses to see WHAT is in a 100 TB corpus before
   * deciding mixes and filters: documents cluster by embedding
   * (deterministic Lloyd coarse quantizer, the [[ivfTopKLloyd]]
   * trainer), and each cluster is labeled with its top TF-IDF terms
   * (each CLUSTER treated as one pseudo-document, so idf = how many
   * clusters a term appears in — terms shared by every topic score 0
   * and cluster-specific vocabulary rises).
   *
   * One row per `(cluster, rnk <= topTerms)`: the term, its exact
   * in-cluster occurrence count, the cluster's doc count, and the
   * 6dp score `n_term · ln(nClusters / df)` — a single double
   * expression over exact longs, ranked on the ROUNDED score with a
   * term tie-break, so the pick order is engine-portable.
   *
   * Scale shape: cluster assignment is the Lloyd literal-codebook
   * map-side fold (no join); the doc→cluster attach is ONE id-keyed
   * join of two narrow frames; token events collapse map-side onto
   * (cluster, term) keys; everything after is vocabulary-sized.
   */
  def topicReport(docs: DataFrame, emb: DataFrame, nClusters: Int = 8,
      iters: Int = 2, topTerms: Int = 5): DataFrame = {
    graft.functions.ensureRegistered(emb.sparkSession)
    val cents = lloydCentroidsMicro(emb, nClusters, iters)
    val assigned = Caches.persist(emb.select(
      col("vec_id").cast("long").as("vec_id"),
      nearestMicroL2(quantizeMicro(col("embedding")), cents).as("cluster")))
    val nDocs = assigned.groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_docs"))
    val events = docs
      .select(col("doc_id").cast("long").as("vec_id"),
        explode(TextOps.tokens(col("text"))).as("term"))
      .join(assigned, Seq("vec_id"))
    val ctf = Caches.persist(events.groupBy(col("cluster"), col("term"))
      .agg(count(lit(1)).as("n_term")))
    val dfq = ctf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val scored = ctf
      .join(dfq, Seq("term"))
      .join(nDocs, Seq("cluster"))
      .select(col("cluster"), col("term"), col("n_term"), col("n_docs"),
        round(col("n_term") * log(lit(nClusters.toDouble) / col("df")), 6)
          .as("score"))
    val w = Window.partitionBy(col("cluster"))
      .orderBy(col("score").desc, col("term").asc)
    scored
      .withColumn("rnk", row_number().over(w).cast("int"))
      .filter(col("rnk") <= topTerms)
      .select(col("cluster"), col("rnk"), col("term"), col("n_term"),
        col("n_docs"), col("score"))
  }

  /**
   * IVF probe-sweep recall curve — the index-tuning evidence for
   * `nProbe` (the [[lshRecallReport]] analog for the IVF family):
   * recall@k of the multi-probe search ([[ivfTopKProbed]] semantics —
   * same deterministic codebook, same cosine routing, same tie-breaks)
   * at EVERY probe count 1..nCentroids, from one pass. For each true
   * top-k neighbor (brute-force cosine ground truth), compute the rank
   * of its cell in the query's centroid-preference order — the number
   * of probes that would have found it — then the curve is a rollup of
   * that distribution. `n_probe = nCentroids` searches every cell, so
   * its recall is 1.0 by construction: the curve's self-check.
   *
   * Scale shape: ground truth is the brute-force scan (certification-
   * scale by design, like [[annRecall]]); everything else is
   * (queries × k) + (queries × nCentroids) rows.
   */
  def ivfProbeCurve(emb: DataFrame, k: Int = 3, nCentroids: Int = 16,
      nQueries: Int = 16): DataFrame = {
    graft.functions.ensureRegistered(emb.sparkSession)
    val cents = firstNCentroids(emb, nCentroids)
    val base = Caches.persist(emb.select(
      col("vec_id").cast("long").as("vec_id"), col("embedding")))
    val probes = base.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("probe_id"), col("embedding").as("p_emb"))
    val truth = base.crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id").as("neighbor_id"),
        cosine6(col("p_emb"), col("embedding")).as("score"))
      .withColumn("rnk", row_number().over(Window
        .partitionBy(col("probe_id"))
        .orderBy(col("score").desc, col("neighbor_id").asc)))
      .filter(col("rnk") <= k)
      .select(col("probe_id"), col("neighbor_id"))
    val member = assignClusters(base, cents)
      .select(col("vec_id").as("neighbor_id"),
        col("cluster").as("n_cluster"))
    val pref = probes.crossJoin(broadcast(cents))
      .select(col("probe_id"), col("centroid_id"),
        cosine6(col("p_emb"), col("c_emb")).as("c_score"))
      .withColumn("crnk", row_number().over(Window
        .partitionBy(col("probe_id"))
        .orderBy(col("c_score").desc, col("centroid_id").asc)))
      .select(col("probe_id"), col("centroid_id").as("n_cluster"),
        col("crnk"))
    val needed = truth
      .join(member, Seq("neighbor_id"))
      .join(pref, Seq("probe_id", "n_cluster"))
      .select(col("crnk"))
      .transform(Caches.persist(_))
    val total = needed.count()
    needed
      .select(explode(sequence(col("crnk").cast("int"),
        lit(nCentroids))).as("n_probe"))
      .groupBy(col("n_probe"))
      .agg(count(lit(1)).as("n_hits"))
      .select(col("n_probe"), col("n_hits"), lit(total).as("n_truth"),
        round(col("n_hits").cast("double") / total, 6).as("recall"))
  }

  /**
   * Embedding distribution drift between two corpora — the
   * "has the embedding space moved since the index was built"
   * retraining/reindexing trigger: compares the per-dimension MEAN
   * vectors (centroids) of corpus `a` and corpus `b`. One row:
   * `n_a, n_b, norm_a, norm_b, centroid_cosine, centroid_l2` (6 dp).
   * A centroid cosine well below 1 (or an L2 shift comparable to the
   * centroid norms) says new data no longer lives where the index
   * partitions were trained — re-train the coarse quantizer
   * ([[ivfTopKTrained]]) before recall silently decays.
   *
   * Scale shape: each corpus aggregates ONCE to a dim-length mean
   * vector via posexplode + (dim)-keyed average (map-side combine;
   * the exchange moves dims × partitions partials, never vectors);
   * the comparison is a 1-row cross of two broadcast dim tables.
   */
  def embeddingDrift(a: DataFrame, b: DataFrame): DataFrame = {
    def centroid(df: DataFrame, tag: String): DataFrame =
      df.select(posexplode(col("embedding")).as(Seq("d", "v")))
        .groupBy(col("d"))
        .agg(avg(col("v").cast("double")).as(s"m_$tag"))
    val na = broadcast(a.agg(count(lit(1)).cast("long").as("n_a")))
    val nb = broadcast(b.agg(count(lit(1)).cast("long").as("n_b")))
    val joined = centroid(a, "a").join(centroid(b, "b"), Seq("d"))
    joined
      .agg(
        sum(col("m_a") * col("m_a")).as("aa"),
        sum(col("m_b") * col("m_b")).as("bb"),
        sum(col("m_a") * col("m_b")).as("ab"),
        sum((col("m_a") - col("m_b")) * (col("m_a") - col("m_b")))
          .as("dd"))
      .crossJoin(na).crossJoin(nb)
      .select(col("n_a"), col("n_b"),
        round(sqrt(col("aa")), 6).as("norm_a"),
        round(sqrt(col("bb")), 6).as("norm_b"),
        when(col("aa") > 0 && col("bb") > 0,
          round(col("ab") / (sqrt(col("aa")) * sqrt(col("bb"))), 6))
          .as("centroid_cosine"),
        round(sqrt(col("dd")), 6).as("centroid_l2"))
  }

  /**
   * Retrieval-quality evaluation — MRR, precision@k, and nDCG@k of the
   * [[cosineTopK]] ranking against label relevance (`relevant` =
   * neighbor shares the probe's `label`): the standard IR metrics a
   * retrieval pipeline reports before swapping an index or embedding
   * model. One row per probe: `probe_id, n_corpus_rel, n_rel_at_k,
   * mrr, precision_at_k, ndcg` (6 dp; ndcg NULL when the corpus holds
   * no relevant item for the probe).
   *
   * Determinism: relevance is integer; DCG sums ≤ k engine-identical
   * `rel/log2(rank+1)` terms; the ideal DCG normalizer is the same sum
   * over `min(n_corpus_rel, k)` ranks — both sides compute it from
   * scratch and round last.
   *
   * Scale shape: rides [[cosineTopK]]'s audited plan (broadcast
   * probes, one corpus scan, score-only window); the metric layer
   * joins label LOOKUPS (broadcast n-probe side, vec_id-keyed
   * neighbor side) and the per-probe rollup moves nProbes rows. The
   * per-label corpus totals are one count aggregation over labels.
   */
  def retrievalMetrics(emb: DataFrame, nProbes: Int, k: Int): DataFrame = {
    val ranked = cosineTopK(emb, nProbes, k)
    val labels = emb.select(col("vec_id").cast("long").as("vec_id"),
      col("label").cast("int").as("label"))
    val probeLabels = broadcast(labels
      .filter(col("vec_id") < nProbes)
      .select(col("vec_id").as("probe_id"), col("label").as("p_label")))
    val labelCounts = broadcast(labels.groupBy(col("label"))
      .agg(count(lit(1)).cast("long").as("n_label")))
    val rel = ranked
      .join(labels.select(col("vec_id").as("neighbor_id"),
        col("label").as("n_label_v")), Seq("neighbor_id"))
      .join(probeLabels, Seq("probe_id"))
      .withColumn("rel", (col("n_label_v") === col("p_label")).cast("int"))
    val perProbe = rel.groupBy(col("probe_id"), col("p_label"))
      .agg(
        sum(col("rel")).cast("long").as("n_rel_at_k"),
        min(when(col("rel") === 1, col("rnk"))).as("first_rel_rnk"),
        sum(col("rel").cast("double") /
          log(2.0, col("rnk").cast("double") + 1)).as("dcg"))
    perProbe
      .join(labelCounts, col("p_label") === col("label"))
      .withColumn("n_corpus_rel", (col("n_label") - 1).cast("long"))
      .withColumn("ideal_n",
        least(col("n_corpus_rel"), lit(k.toLong)).cast("int"))
      .withColumn("idcg", aggregate(sequence(lit(1), col("ideal_n")),
        lit(0.0), (acc, i) =>
          acc + lit(1.0) / log(2.0, i.cast("double") + 1)))
      .select(col("probe_id"), col("n_corpus_rel"), col("n_rel_at_k"),
        round(coalesce(lit(1.0) / col("first_rel_rnk"), lit(0.0)), 6)
          .as("mrr"),
        round(col("n_rel_at_k").cast("double") / k, 6)
          .as("precision_at_k"),
        when(col("ideal_n") > 0, round(col("dcg") / col("idcg"), 6))
          .as("ndcg"))
  }
}
