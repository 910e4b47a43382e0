package graft.tools

import org.apache.spark.sql.SparkSession

/** Scratch driver: measures representative registry queries at every
  * scale factor of a testdata root (driver tree sf0.001/0.01/0.1, or a
  * [[GenSf]] tree adding sf1.0 — 1000x of input growth end-to-end) so
  * SCALE.md's 100 TB story has MEASURED growth curves, not just
  * plan-shape audits (VERDICT r8 #4, r11 #1).
  *
  * Methodology matches Bench: per (sf, query) one untimed warm-up rep,
  * then median of 3 timed reps; operator-internal caches scoped per
  * query so nothing leaks across cells. Queries chosen to cover the
  * operator families that read the sf tables (relational agg/join,
  * exact + LSH dedup, n-gram contamination, LM scoring, retrieval,
  * ANN, events) — the Fixtures-synthetic OME queries scale by image
  * count (SCALE.md's ScalePoints section).
  *
  * Env knobs: `SPARK_GRAFT_TESTDATA` root (default /root/testdata),
  * `SPARK_GRAFT_SFS` comma list of sf dir names (default the driver
  * tree's three), `SPARK_GRAFT_SWEEP_ONLY` comma list of query names.
  * The JSON line reports per-query medians per sf plus the max driver
  * heap observed per sf — flat heap across 1000x input is the
  * no-driver-accumulation proof.
  */
object SfSweep {
  val Queries: Seq[String] = Seq(
    "q1_agg", "q18_large_orders", "dedup_exact", "near_dup_minhash",
    "near_dup_clusters_minhash", "contamination", "bloom_decontam",
    "lm_perplexity", "bm25_topk", "tfidf_topk", "embed_topk",
    "embed_ann_ivfpq", "events_rollup", "events_sessions",
    // r9 additions: trained-model, topic, as-of surface, skew report
    "quality_classifier", "topic_report", "embed_ann_ivf_trained",
    "events_asof_nearest", "events_key_skew",
    // r9-late additions: profiling, linkage, split, PIT join, windows
    "profile_table", "zipf_report", "dataset_split", "entity_pairs",
    "entity_triangles", "pit_features", "q_running_revenue",
    // r12 additions: span removal + span-level decontamination
    "exact_substr_dedup", "decontam_spans",
    // r13: the scale-safe two-stage composition, swept next to exact
    // `contamination` (r12 verdict #1) — plus the FIXED-EVAL pair
    // below, the 100 TB-realistic scenario
    "decontam_two_stage",
    "contamination_fixed_eval", "decontam_two_stage_fixed_eval")

  /** Sweep-only variants (not registry queries — no oracle is needed
    * for a timing curve; correctness of both operators is pinned by
    * their registry rows). The registry `contamination` /
    * `decontam_two_stage` rows scale BOTH sides with sf, which bounds
    * any correct algorithm to the O(sf²) PAIR OUTPUT on the
    * saturated-vocab corpus. Real decontamination is not like that:
    * the benchmark set is FIXED while the corpus scales to 100 TB.
    * These rows pin eval to the sf0.01 eval slice (~constant docs)
    * while train scales with the swept sf — the scenario where the
    * Bloom stage's zero-corpus-shuffle pruning is the designed win. */
  private def fixedEval(root: String)(s: SparkSession, sfDir: String,
      twoStage: Boolean): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.col
    val train = s.read.parquet(s"$sfDir/documents.parquet")
      .filter(col("doc_id") % 25 =!= 0)
    val eval = s.read.parquet(s"$root/sf0.01/documents.parquet")
      .filter(col("doc_id") % 25 === 0)
    if (twoStage) graft.operators.TextOps.decontaminateTwoStage(train, eval)
    else graft.operators.TextOps.contamination(train, eval)
  }

  /** The regime the two-stage composition is DESIGNED for: an eval
    * suite too large to broadcast (20% of the corpus, sf-scaled) over
    * an UNSATURATED gram space (n = 8 on the 30-word vocab — random
    * cross-doc 8-gram matches are ~nil, so only planted duplicates
    * overlap and the Bloom stage prunes ~the whole train corpus
    * map-side). Exact contamination must move the full train gram
    * stream into its join; the two-stage path moves survivors only —
    * the difference shows in the sweep's shuffle-bytes column even
    * where small-sf wall clock is overhead-bound. */
  private def largeEval(s: SparkSession, sfDir: String,
      twoStage: Boolean): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.col
    val docs = s.read.parquet(s"$sfDir/documents.parquet")
    val train = docs.filter(col("doc_id") % 5 =!= 0)
    val eval = docs.filter(col("doc_id") % 5 === 0)
    // hexDigits = 6: the sf1 eval suite inserts ~1.05 M gram-positions,
    // which SATURATES the default 1 M-bit filter (the measured
    // flag-everything cliff the maxFill guard now raises on); 16.7 M
    // bits keeps fill ~6%
    if (twoStage) graft.operators.TextOps.decontaminateTwoStage(
      train, eval, n = 8, minShared = 1, hexDigits = 6)
    else graft.operators.TextOps.contamination(train, eval,
      n = 8, minShared = 1)
  }

  private def bigEvalFixed(root: String)(s: SparkSession, sfDir: String,
      twoStage: Boolean, fastHash: Boolean = false)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.col
    val train = s.read.parquet(s"$sfDir/documents.parquet")
      .filter(col("doc_id") % 5 =!= 0)
    val eval = s.read.parquet(s"$root/sf1.0/documents.parquet")
      .filter(col("doc_id") % 5 === 0)
    if (twoStage) graft.operators.TextOps.decontaminateTwoStage(
      train, eval, n = 8, minShared = 1, hexDigits = 6,
      fastHash = fastHash)
    else graft.operators.TextOps.contamination(train, eval,
      n = 8, minShared = 1)
  }

  def main(args: Array[String]): Unit = {
    val root = sys.env.getOrElse("SPARK_GRAFT_TESTDATA", "/root/testdata")
    val sfs = sys.env.getOrElse("SPARK_GRAFT_SFS", "sf0.001,sf0.01,sf0.1")
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val queries = sys.env.get("SPARK_GRAFT_SWEEP_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Queries)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val heapMb = scala.collection.mutable.Map[String, Long]()
      .withDefaultValue(0L)
    val extras: Map[String, (SparkSession, String) =>
        org.apache.spark.sql.DataFrame] = Map(
      "contamination_fixed_eval" ->
        ((s, d) => fixedEval(root)(s, d, twoStage = false)),
      "decontam_two_stage_fixed_eval" ->
        ((s, d) => fixedEval(root)(s, d, twoStage = true)),
      "contamination_large_eval" ->
        ((s, d) => largeEval(s, d, twoStage = false)),
      "decontam_two_stage_large_eval" ->
        ((s, d) => largeEval(s, d, twoStage = true)),
      // the BIG-EVAL regime modeled at sweep scale: a 10⁷⁺-gram eval
      // suite cannot broadcast as a join hashmap (hundreds of MB per
      // executor), so the exact path degrades to a full corpus-gram
      // shuffle + SMJ — auto-broadcast OFF models that here. The
      // two-stage path is measured under the SAME conf: its bitmap is
      // a ~2 MB literal precisely because m bits ≪ a gram-string
      // hashmap (the memory asymmetry that defines the window).
      "contamination_large_eval_nobcast" ->
        ((s, d) => {
          s.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
          largeEval(s, d, twoStage = false)
        }),
      "decontam_two_stage_large_eval_nobcast" ->
        ((s, d) => {
          s.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
          largeEval(s, d, twoStage = true)
        }),
      // the crossover measurement: a FIXED big eval suite (sf1's 20%
      // slice, ~400 K 8-grams — the "all benchmarks ever published"
      // scale that defeats a hashmap broadcast) against a train corpus
      // sweeping sf1 → sf10. Exact pays a corpus-linear gram shuffle
      // per decade; two-stage pays a corpus-linear map-side bitmap
      // scan plus a FIXED eval build — the slopes differ, so the
      // decade where they cross is a measurement, not a claim.
      "contamination_bigeval_fixed_nobcast" ->
        ((s, d) => {
          s.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
          bigEvalFixed(root)(s, d, twoStage = false)
        }),
      "decontam_two_stage_bigeval_fixed_nobcast" ->
        ((s, d) => {
          s.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
          bigEvalFixed(root)(s, d, twoStage = true)
        }),
      // same regime, PRODUCTION hash (xxhash64 flag positions instead
      // of the oracle-replayable md5) — isolates the md5 tax
      "decontam_two_stage_bigeval_fast_nobcast" ->
        ((s, d) => {
          s.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
          bigEvalFixed(root)(s, d, twoStage = true, fastHash = true)
        }),
      // the embed_near_dup m²-per-bucket fix, measured (r14 SCALE.md
      // finding): the registry row pins numPlanes=6 (64 buckets —
      // oracle-replayable), whose pair work grows 100x per decade; the
      // operator's own sizing rule (numPlanes ~ log2(corpus /
      // targetBucketSize)) says sf10's 200 K vectors want 9 planes
      // (512 buckets, ~400/bucket). This cell IS the rule applied —
      // sweep it next to `embed_near_dup` to measure the recovery.
      "embed_near_dup_planes9" ->
        ((s, d) => graft.operators.VectorOps.embedNearDup(
          s.read.parquet(s"$d/embeddings.parquet"), threshold = 0.35,
          numPlanes = 9)))
    // shuffle WRITE bytes per cell (r13): the scale evidence wall
    // clock cannot give at small sf — a plan that moves the corpus
    // into an exchange shows it here even when fixed overheads
    // dominate the timing. Shared listener + a real listener-bus
    // drain (r14: the fixed 150 ms sleeps were a race under load).
    graft.BenchMetrics.install(spark.sparkContext)
    def cell(name: String, sf: String): (Double, Double) =
      graft.operators.Caches.scoped {
        // reset the confs the *_nobcast variants flip: without this,
        // every cell measured AFTER a nobcast cell in the same run
        // silently executed with broadcast joins disabled (ADVICE r13)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
          10L * 1024 * 1024)
        val q = extras.getOrElse(name, graft.SparkEntry.queries(name))
        val sfDir = s"$root/$sf"
        q(spark, sfDir).count() // warm-up: codegen, JIT, file listing
        val reps = (1 to 3).map { _ =>
          graft.BenchMetrics.timed(spark.sparkContext) {
            q(spark, sfDir).count(): Unit
          }
        }
        spark.catalog.clearCache()
        val rt = Runtime.getRuntime
        heapMb(sf) = math.max(heapMb(sf),
          (rt.totalMemory - rt.freeMemory) / (1024 * 1024))
        // median TIME and that same rep's shuffle delta — a median time
        // paired with another rep's shuffle volume can attribute one
        // rep's stragglers to another's wall clock (ADVICE r13)
        val m = reps.sortBy(_.sec).apply(reps.size / 2)
        (m.sec, m.shuffleBytes / 1048576.0)
      }

    val hdr = sfs.map(s => f"$s%8s").mkString(" | ")
    val shHdr = sfs.map(s => f"${s + " shMB"}%12s").mkString(" | ")
    println(f"| ${"query"}%-26s | $hdr | growth | $shHdr |")
    val rows = queries.map { name =>
      val cells = sfs.map(sf => cell(name, sf))
      val ts = cells.map(_._1)
      val sh = cells.map(_._2)
      // growth = last-sf time over previous-sf time (the 10x step)
      val ratio = if (ts.size >= 2 && ts(ts.size - 2) > 0)
        ts.last / ts(ts.size - 2) else Double.NaN
      val cellsTxt = ts.map(t => f"$t%8.2f").mkString(" | ")
      val shTxt = sh.map(b => f"$b%12.2f").mkString(" | ")
      println(f"| $name%-26s | $cellsTxt | ${ratio}%5.1fx | $shTxt |")
      name -> cells
    }
    val json = rows.map { case (n, cs) =>
      "\"" + n + "\":[" + cs.map(c => f"${c._1}%.3f").mkString(",") +
        "],\"" + n + "_shuffle_mb\":[" +
        cs.map(c => f"${c._2}%.2f").mkString(",") + "]"
    }.mkString("{", ",", "}")
    val heapJson = sfs.map(s => "\"" + s + "\":" + heapMb(s))
      .mkString("{", ",", "}")
    println(s"""{"root":"$root","sfs":["${sfs.mkString("\",\"")}"],"sweep":$json,"max_heap_mb":$heapJson}""")
    spark.stop()
  }
}
