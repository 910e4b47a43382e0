package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.BenchMetrics
import graft.operators.{Caches, LayoutOps, TextOps}

/**
 * The SimHash index's amortization measurement (r18 — giving the sixth
 * index family the same scale evidence every other one carries): at
 * sf1/sf10 of the GenSf documents (50 K → 500 K docs), measure
 *
 *  - the one-time `buildSimhashIndex` (corpus tokenize + sign + layout),
 *  - the 1% increment query BOTH ways: `simhashAgainstIndex` (corpus
 *    never re-read as text) vs the DIRECT path — `simhashPairs` over
 *    corpus ∪ increment filtered to cross pairs, which re-signs the
 *    whole corpus per batch (what a pipeline without the index pays
 *    daily),
 *  - `appendToSimhashIndex` of the increment + its verbatim replay,
 *  - the `rebuildSimhashIndexPointer` 4→8 re-band RETUNE (stored sigs
 *    only — the claim under test: the retune never re-reads text, so
 *    its cost is sig-table-sized, not corpus-sized),
 *  - the `simhashIndexStats` monitor (keys-only scan).
 *
 * Build/append/rebuild timed once (eager one-shots); queries warm
 * medians-of-3. BenchMetrics counters on every number.
 */
object SimhashScale {
  def main(args: Array[String]): Unit = {
    val sfs = if (args.nonEmpty) args.map(_.toDouble).toSeq
      else Seq(1.0, 10.0)
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.ensureRegistered(spark)
    BenchMetrics.install(spark.sparkContext)

    def median3(body: => Unit): BenchMetrics.Rep = {
      BenchMetrics.timed(spark.sparkContext)(body) // warm-up
      val reps = (1 to 3).map(_ =>
        BenchMetrics.timed(spark.sparkContext)(body)).sortBy(_.sec)
      reps(1)
    }

    for (sf <- sfs) {
      val dir = s"/tmp/graft_shscale/sf$sf"
      def show(name: String, r: BenchMetrics.Rep): Unit =
        println(f"sf$sf%-4s $name%-22s sec=${r.sec}%7.2f " +
          f"shuffle_mb=${r.shuffleBytes / 1048576.0}%8.2f " +
          f"jobs=${r.jobs}%4d task_sec=${r.taskMs / 1e3}%7.2f")

      val docsP = s"$dir/documents.parquet"
      if (!new java.io.File(docsP).exists())
        GenSf.documentsDf(spark, sf).coalesce(8)
          .write.mode("overwrite").parquet(docsP)
      val docs = spark.read.parquet(docsP)
      val nDocs = docs.count()
      val incP = s"$dir/inc.parquet"
      if (!new java.io.File(incP).exists())
        GenSf.documentsDf(spark, sf * 1.01)
          .filter(col("doc_id") >= nDocs)
          .coalesce(1).write.mode("overwrite").parquet(incP)
      val inc = spark.read.parquet(incP)

      // the index lives under a pointer root; `idx` is its first
      // generation, which the queries and appends below target
      val root = s"$dir/idx"
      var idx = ""
      show("buildSimhashIndex", BenchMetrics.timed(spark.sparkContext) {
        Caches.scoped {
          idx = LayoutOps.withPointerGeneration(spark, root)(g =>
            TextOps.buildSimhashIndex(docs, g))
        }
        spark.catalog.clearCache()
      })
      // EXACT mode both ways. The first run of this tool OOM'd the
      // direct path at sf10 — simhashPairs then materialized
      // per-bucket B² pair arrays in one row — which motivated its
      // rewrite to a streaming bucket self-join; both paths now carry
      // the quadratic candidate SHUFFLE (the honest exact-mode cost on
      // a duplicate-heavy corpus) with bounded memory. The capped rows
      // are the documented 100 TB configuration.
      show("query(index,exact)", median3 {
        Caches.scoped {
          TextOps.simhashAgainstIndex(inc, idx, maxHamming = 10)
            .count(): Unit
        }
        spark.catalog.clearCache()
      })
      show("query(index,cap=64)", median3 {
        Caches.scoped {
          TextOps.simhashAgainstIndex(inc, idx, maxHamming = 10,
            maxBucketSize = 64).count(): Unit
        }
        spark.catalog.clearCache()
      })
      show("query(direct,exact)", median3 {
        Caches.scoped {
          TextOps.simhashPairs(
              docs.select(col("doc_id"), col("text")).unionByName(
                inc.select(col("doc_id"), col("text"))),
              maxHamming = 10)
            .filter(col("doc_a") < nDocs && col("doc_b") >= nDocs)
            .count(): Unit
        }
        spark.catalog.clearCache()
      })
      // the DIRECT path a pipeline without the index pays per batch:
      // re-sign corpus + increment, band, pair, filter to cross pairs
      show("query(direct,cap=64)", median3 {
        Caches.scoped {
          TextOps.simhashPairs(
              docs.select(col("doc_id"), col("text")).unionByName(
                inc.select(col("doc_id"), col("text"))),
              maxHamming = 10, maxBucketSize = 64)
            .filter(col("doc_a") < nDocs && col("doc_b") >= nDocs)
            .count(): Unit
        }
        spark.catalog.clearCache()
      })
      show("append(1%)", BenchMetrics.timed(spark.sparkContext) {
        Caches.scoped { TextOps.appendToSimhashIndex(inc, idx) }
        spark.catalog.clearCache()
      })
      show("append(replay)", BenchMetrics.timed(spark.sparkContext) {
        Caches.scoped { TextOps.appendToSimhashIndex(inc, idx) }
        spark.catalog.clearCache()
      })
      show("rebuild(retune 4->8)", BenchMetrics.timed(spark.sparkContext) {
        Caches.scoped {
          TextOps.rebuildSimhashIndexPointer(spark, root, bands = 8)
        }
        spark.catalog.clearCache()
      })
      val live = LayoutOps.resolveIndexPointer(spark, root)
      show("stats(monitor)", median3 {
        Caches.scoped { TextOps.simhashIndexStats(spark, live).count(): Unit }
        spark.catalog.clearCache()
      })
    }
    spark.stop()
  }
}
