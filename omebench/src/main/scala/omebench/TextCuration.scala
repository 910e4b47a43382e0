package omebench

import java.io.File
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{LayoutOps, TextOps, VectorOps}
import graft.streaming.DocStream

/**
 * `text_curation`: the LLM-data side of the repo, with no image code.
 * Set-up writes a seeded documents corpus with GenSf's distributions
 * (a near-uniform 30-word vocabulary, 10–100 words a document, an exact
 * copy planted every 625th document and a near copy every 400th), an
 * eval split, 64-d embeddings, and two stream increments. Each pass runs
 * the batch curation chain, builds the MinHash, BM25 and IVF indexes,
 * appends the increments through streaming micro-batches, republishes
 * the IVF index through its pointer, and interleaves top-k lookups.
 * Answers are checked against brute force computed in [[prepare]].
 */
final class TextCuration(spark: SparkSession, seed: Long, dir: String) extends Workload {
  import spark.implicits._

  private val NDocs = 1500
  private val NVecs = 1500
  private val Dims = 64
  private val Increments = 1
  private val IncrementDocs = 100
  private val Threshold = 0.5
  private val K = 3
  private val TopK = 10
  private val LookupsPerBlock = 1
  private val NParts = 8

  // GenSf's observed documents vocabulary
  private val Vocab = IndexedSeq("spark", "window", "merge", "table", "column",
    "vector", "stream", "value", "data", "small", "join", "filter", "big",
    "group", "hash", "customer", "sort", "order", "slow", "line", "part",
    "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch")

  private def h(xs: Long*): Long = xs.foldLeft(seed * 0x9E3779B97F4A7C15L + 1) { (a, v) =>
    val k = (a ^ v) * 0xBF58476D1CE4E5B9L
    (k ^ (k >>> 29)) * 0x94D049BB133111EBL
  } >>> 1

  /** Document text: a pure function of (seed, content id); planted exact
    * copies reuse the predecessor's content, near copies also swap about
    * a tenth of their words for a marker token. */
  private def text(id: Long): String = {
    val exact = id % 625 == 624
    val near = id % 400 == 399 && !exact
    val content = if (exact || near) id - 1 else id
    val n = 10 + (h(1, content) % 91).toInt
    (0 until n).map { i =>
      if (near && h(2, id, i) % 10 == 0) "dup"
      else Vocab((h(3, content, i) % Vocab.size).toInt)
    }.mkString(" ")
  }

  private val allDocs: IndexedSeq[(Long, String)] =
    (0L until NDocs + Increments * IncrementDocs).map(i => i -> text(i))
  private val corpusDocs = allDocs.take(NDocs)
  private val isEval = (id: Long) => h(4, id) % 10 == 0
  private val trainDocs = corpusDocs.filterNot(d => isEval(d._1))
  private val evalDocs = corpusDocs.filter(d => isEval(d._1))
  private val increments = allDocs.drop(NDocs).grouped(IncrementDocs).toIndexedSeq

  private val vectors: IndexedSeq[(Long, Array[Float])] = (0L until NVecs).map { id =>
    val r = new SplittableRandom(h(5, id))
    val label = r.nextInt(10)
    val dir = new SplittableRandom(h(6, label))
    val g = Array.fill(Dims)(r.nextGaussian() + (dir.nextDouble() - 0.5) * 0.6)
    val n = math.sqrt(g.map(x => x * x).sum)
    id -> g.map(x => (x / n).toFloat)
  }

  private val docsPath = s"$dir/docs"
  private val trainPath = s"$dir/train"
  private val evalPath = s"$dir/eval"
  private val embPath = s"$dir/emb"
  private val feedPath = s"$dir/feed"
  /** Pointer-published IVF index: built at set-up, republished each pass. */
  private val ivfRoot = s"$dir/ivf"

  def setup(): Unit = {
    corpusDocs.toDF("doc_id", "text").coalesce(1).write.parquet(docsPath)
    trainDocs.toDF("doc_id", "text").coalesce(1).write.parquet(trainPath)
    evalDocs.toDF("doc_id", "text").coalesce(1).write.parquet(evalPath)
    vectors.map { case (id, v) => (id, v.toSeq) }.toDF("vec_id", "embedding")
      .coalesce(1).write.parquet(embPath)
    // one file per increment, mtimes a minute apart, so the file stream
    // drains them oldest first, one micro-batch each
    increments.zipWithIndex.foreach { case (inc, i) =>
      inc.toDF("doc_id", "text").coalesce(1).write.parquet(s"$feedPath/tmp$i")
      val f = new File(s"$feedPath/tmp$i").listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dest = new File(feedPath, f"inc-$i%02d.parquet")
      f.renameTo(dest)
      dest.setLastModified(1700000000000L + i * 60000L)
      Files.remove(new File(s"$feedPath/tmp$i"))
    }
    LayoutOps.withPointerGeneration(spark, ivfRoot)(gen =>
      VectorOps.buildIvfIndex(emb, gen, nParts = NParts))
  }

  private def docs = spark.read.parquet(docsPath)
  private def train = spark.read.parquet(trainPath)
  private def eval = spark.read.parquet(evalPath)
  private def emb = spark.read.parquet(embPath)

  // ---- brute-force references -------------------------------------------

  private def shingles(t: String): Set[String] = {
    val toks = t.trim.split("\\s+").filter(_.nonEmpty)
    if (toks.length < K) Set(toks.mkString(" "))
    else toks.sliding(K).map(_.mkString(" ")).toSet
  }

  private def round6(x: Double): Double = math.round(x * 1e6) / 1e6

  /** All pairs (a < b) sharing a shingle, with their exact Jaccard. */
  private def jaccardPairs(ds: Seq[(Long, String)]): Map[(Long, Long), Double] = {
    val sh = ds.map { case (id, t) => id -> shingles(t) }.toMap
    val post = mutable.HashMap.empty[String, mutable.ArrayBuffer[Long]]
    sh.foreach { case (id, s) => s.foreach(g => post.getOrElseUpdate(g, mutable.ArrayBuffer()) += id) }
    val cand = mutable.HashSet.empty[(Long, Long)]
    post.valuesIterator.foreach { ids =>
      val s = ids.sorted
      for (i <- s.indices; j <- i + 1 until s.size) cand += (s(i) -> s(j))
    }
    cand.iterator.map { case (a, b) =>
      val inter = (sh(a) intersect sh(b)).size
      (a, b) -> inter.toDouble / (sh(a).size + sh(b).size - inter)
    }.toMap
  }

  private var refDedup: Set[(Long, Long)] = Set.empty
  private var refDistinct = 0L
  private var refPairs: Map[(Long, Long), Double] = Map.empty
  /** Pairs with Jaccard 1.0: the planted exact copies. */
  private var refCopies: Set[(Long, Long)] = Set.empty
  private var refClusters: Set[(Long, Long)] = Set.empty
  private var refContam: Set[(Long, Long, Long)] = Set.empty
  private var bm25Queries: IndexedSeq[Seq[String]] = IndexedSeq.empty
  private var refBm25: Map[Seq[String], Seq[(Int, Long, Double)]] = Map.empty
  private var probes: IndexedSeq[Long] = IndexedSeq.empty
  private var refIvf: Map[Long, Seq[(Long, Double)]] = Map.empty // candidates, scored

  def prepare(): Unit = {
    val byText = corpusDocs.groupBy(_._2).values
    refDistinct = byText.size.toLong
    refDedup = byText.filter(_.size > 1).map(g => (g.map(_._1).min, g.size.toLong)).toSet
    refPairs = jaccardPairs(corpusDocs).filter(_._2 >= Threshold)
      .map { case (k, v) => k -> round6(v) }
    refCopies = refPairs.collect { case (k, 1.0) => k }.toSet
    require(refCopies.nonEmpty, "the corpus holds no planted exact copy")
    // connected components of the pair graph, labelled by minimum member
    val parent = mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    refPairs.keys.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    refClusters = refPairs.keys.flatMap { case (a, b) => Seq(a, b) }
      .map(d => d -> find(d)).toSet
    val trainSh = trainDocs.map { case (id, t) => id -> shingles(t) }
    refContam = evalDocs.flatMap { case (e, t) =>
      val es = shingles(t)
      trainSh.flatMap { case (tr, ts) =>
        val n = (ts intersect es).size
        if (n >= 2) Some((tr, e, n.toLong)) else None
      }
    }.toSet

    val r = new SplittableRandom(h(7))
    bm25Queries = IndexedSeq.fill(2)(Seq.fill(2 + r.nextInt(2))(Vocab(r.nextInt(Vocab.size))))
    refBm25 = bm25Queries.map(q => q -> TextOps.bm25TopK(train, q, TopK)
      .select("rnk", "doc_id", "score").as[(Int, Long, Double)].collect().toSeq).toMap
    // a probe's IVF cell holds its candidates; the cell assignment is
    // deterministic, so every republished generation repeats it
    val cell = spark.read.parquet(s"${LayoutOps.resolveIndexPointer(spark, ivfRoot)}/vectors")
      .select(col("vec_id").cast("long"), col("cluster").cast("long"))
      .as[(Long, Long)].collect().toMap
    probes = IndexedSeq.fill(3)(r.nextInt(NVecs).toLong)
    val vec = vectors.toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      d / math.sqrt(na * nb)
    }
    refIvf = probes.map { p =>
      p -> vectors.collect { case (id, v) if id != p && cell(id) == cell(p) =>
        id -> round6(cos(vec(p), v)) }
    }.toMap
  }

  // ---- checks --------------------------------------------------------------

  private def near(a: Double, b: Double) = math.abs(a - b) <= 2e-6

  /** Every returned neighbour scores what brute force gives it, and none
    * ranks below brute force's k-th best candidate. */
  private def ivfOk(p: Long, got: Seq[(Long, Double)]): Boolean = {
    val cands = refIvf(p).toMap
    val kth = refIvf(p).map(_._2).sorted(Ordering[Double].reverse)
      .lift(TopK - 1).getOrElse(Double.NegativeInfinity)
    got.size == math.min(TopK, cands.size) && got.forall { case (id, s) =>
      cands.get(id).exists(near(_, s)) && s >= kth - 2e-6 }
  }

  // ---- the pass ------------------------------------------------------------

  private def lookups(out: String, r: SplittableRandom): Seq[Call] =
    (0 until LookupsPerBlock).map { _ =>
      if (r.nextBoolean()) {
        val q = bm25Queries(r.nextInt(bm25Queries.size))
        Call("lookup_bm25", "index", () =>
          TextOps.bm25AgainstIndex(spark, s"$out/bm25", q, TopK)
            .select("rnk", "doc_id", "score").as[(Int, Long, Double)]
            .collect().toSeq == refBm25(q))
      } else {
        val p = probes(r.nextInt(probes.size))
        Call("lookup_ivf", "index", () => {
          val live = LayoutOps.resolveIndexPointer(spark, ivfRoot)
          ivfOk(p, VectorOps.ivfIndexTopK(emb.filter(col("vec_id") === p), live, TopK)
            .select(col("neighbor_id"), col("score")).as[(Long, Double)].collect().toSeq)
        })
      }
    }

  def pass(p: Int): IndexedSeq[Call] = {
    val out = s"$dir/pass$p"
    val r = new SplittableRandom(h(8))
    val streamSchema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType)))
    val heavy = Seq(
      Call("index_build_minhash", "index", () => {
        TextOps.buildMinhashIndex(train, s"$out/mh", nParts = NParts); true }),
      Call("index_build_bm25", "index", () => {
        TextOps.buildBm25Index(train, s"$out/bm25", nParts = NParts); true }),
      Call("dedup_exact", "text", () => {
        val got = TextOps.dedupExact(docs).select("keeper_doc_id", "n_copies")
          .as[(Long, Long)].collect()
        got.length == refDistinct && got.filter(_._2 > 1).toSet == refDedup }),
      Call("minhash_pairs", "text", () => {
        // which pairs below 1.0 are found is up to MinHash's recall, but
        // identical shingle sets share every band, so those are certain
        val got = TextOps.nearDupPairs(docs, threshold = Threshold)
          .select("doc_a", "doc_b", "jaccard").as[(Long, Long, Double)].collect()
        refCopies.subsetOf(got.map(g => (g._1, g._2)).toSet) &&
          got.forall { case (a, b, j) => refPairs.get((a, b)).exists(near(_, j)) } }),
      Call("ngram_exact", "text", () => {
        val got = TextOps.ngramJaccardPairs(docs, threshold = Threshold)
          .select("doc_a", "doc_b", "jaccard").as[(Long, Long, Double)].collect()
        got.length == refPairs.size &&
          got.forall { case (a, b, j) => refPairs.get((a, b)).exists(near(_, j)) } }),
      Call("clusters_star", "text", () =>
        TextOps.nearDupClusters(docs, threshold = Threshold, driverEdgeLimit = 0L)
          .select("doc_id", "cluster_id").as[(Long, Long)].collect().toSet == refClusters),
      Call("contamination", "text", () =>
        TextOps.contamination(train, eval).select("train_doc", "eval_doc", "n_shared")
          .as[(Long, Long, Long)].collect().toSet == refContam),
      Call("index_rebuild", "index", () => {
        VectorOps.rebuildIvfIndexPointer(spark, ivfRoot); true }),
      Call("index_ingest_stream", "streaming", () => {
        val stream = spark.readStream.schema(streamSchema)
          .option("maxFilesPerTrigger", 1).parquet(feedPath)
        DocStream.indexIngestRun(stream, s"$out/mh", s"$out/ckpt", threshold = Threshold)
        // the append landed: the index gained some, and at most all, of the
        // increment's documents (which ones is up to MinHash's recall)
        val n = spark.read.parquet(s"$out/mh/shingles").select("ref_id").distinct().count()
        n > trainDocs.size && n <= trainDocs.size + increments.map(_.size).sum }))
    // the builds first (lookups and the stream read them), then the other
    // calls, a block of lookups after each two
    heavy.take(2).toIndexedSeq ++ heavy.drop(2).grouped(2).flatMap(cs => cs ++ lookups(out, r))
  }

  override def endPass(p: Int): Unit = Files.remove(new File(s"$dir/pass$p"))

  def sizes: Map[String, Any] = Map(
    "docs" -> NDocs, "train_docs" -> trainDocs.size, "eval_docs" -> evalDocs.size,
    "text_bytes" -> corpusDocs.map(_._2.length.toLong).sum,
    "increment_docs" -> increments.map(_.size), "vectors" -> NVecs, "dims" -> Dims,
    "lookups_per_pass" -> pass(1).count(c => Layers.LookupKinds.contains(c.kind)))

  def report(samples: Seq[Sample]): Map[String, (Double, String)] = {
    val m = Stats.medianOfKind(samples) _
    val lookupWalls = samples.filter(s => Layers.LookupKinds.contains(s.kind)).map(_.wallS)
    val chain = Seq("dedup_exact", "minhash_pairs", "ngram_exact", "clusters_star",
      "contamination").map(m).sum
    Map(
      "curation_docs_s" -> (NDocs / chain -> "docs/s"),
      "index_ingest_docs_s" -> (increments.map(_.size).sum / m("index_ingest_stream") -> "docs/s"),
      "lookup_p50_s" -> (Stats.quantile(lookupWalls, 0.5) -> "s"),
      "lookup_p90_s" -> (Stats.quantile(lookupWalls, 0.9) -> "s"),
      "lookup_samples" -> (lookupWalls.size.toDouble -> "count"))
  }
}
