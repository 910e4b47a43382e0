package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.BenchMetrics
import graft.operators.ProfileOps

/**
 * The r20 measurement for VERDICT r19 "What's wrong #3": the r19
 * `associationRules` rewrite (repartition(b) → dropDuplicates(b, i) →
 * size window, ONE basket-keyed exchange) ships RAW (b, i) rows where
 * the r18 form (distinct() on (b, i) → window on b, TWO exchanges)
 * shipped map-side-collapsed ones. On near-distinct feeds (TPC-H order
 * lines — the registry's basket_rules input) the r19 form is strictly
 * one exchange cheaper; on a heavily duplicated feed the raw-row
 * exchange pays dupFactor× the bytes of the collapsed one. This tool
 * measures both forms on both feed shapes so SCALE.md can record which
 * regime each form wins and by how much.
 *
 * Feeds (written to parquet once, read back, so scans are identical):
 *  - `dup1`: nB baskets × ~itemsPerB distinct items, every (b, i)
 *    exactly once — the near-distinct shape;
 *  - `dupN`: the SAME logical (b, i) set with every row duplicated
 *    `dupF`× — the pre-dedup event-log shape the verdict flags.
 *
 * Measured (warm median-of-3, BenchMetrics counters): the full
 * `associationRules` operator (current tree form) vs `distinctFirst`,
 * an in-tool replica of the r18 first stage feeding the IDENTICAL
 * downstream pair/metric pipeline — so the delta isolates the first
 * stage's exchange strategy and nothing else.
 */
object BasketScale {
  def main(args: Array[String]): Unit = {
    val nB = args.headOption.map(_.toInt).getOrElse(400000)
    val itemsPerB = args.lift(1).map(_.toInt).getOrElse(15)
    val dupF = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    BenchMetrics.install(spark.sparkContext)

    def median3(body: => Unit): BenchMetrics.Rep = {
      BenchMetrics.timed(spark.sparkContext)(body) // warm-up
      val reps = (1 to 3).map(_ =>
        BenchMetrics.timed(spark.sparkContext)(body)).sortBy(_.sec)
      reps(1)
    }

    // distinct (b, i) universe: basket sizes vary 5..25 via a hash so
    // the size-cap window has work to do; items zipf-ish over 100k ids
    val base = spark.range(nB.toLong * itemsPerB).select(
      (col("id") / itemsPerB).cast("long").as("l_orderkey"),
      pmod(xxhash64(lit("itm"), col("id")), lit(100000L)).as("l_partkey"))
      .where(pmod(xxhash64(lit("keep"), col("id")), lit(25L)) <
        pmod(xxhash64(lit("bsz"), (col("id") / itemsPerB).cast("long")),
          lit(21L)) + 5)
    val dir = s"/tmp/graft_basketscale/${nB}_${itemsPerB}_$dupF"
    val p1 = s"$dir/dup1.parquet"
    val pN = s"$dir/dupN.parquet"
    // both files, not just the first: an interrupt between the two
    // writes must regenerate rather than fail every later run on dupN
    if (!new java.io.File(p1).exists() || !new java.io.File(pN).exists()) {
      base.write.mode("overwrite").parquet(p1)
      // SCATTER the duplicate copies across the feed (global order by a
      // copy-salted hash): adjacent duplicates would let the shuffle
      // codec run-compress them away and understate the raw exchange —
      // real event-log duplicates arrive interleaved, not consecutive
      base.crossJoin(spark.range(dupF).select(col("id").as("dup")))
        .orderBy(xxhash64(lit("scatter"), col("l_orderkey"),
          col("l_partkey"), col("dup")))
        .drop("dup").write.mode("overwrite").parquet(pN)
    }

    /** The r18 first stage (distinct-first, two exchanges) feeding the
      * SAME downstream pipeline as [[ProfileOps.associationRules]]. */
    def distinctFirst(df: DataFrame, minCount: Int, maxBasketSize: Int,
        topK: Int): DataFrame = {
      val items = df.select(col("l_orderkey").cast("long").as("b"),
        col("l_partkey").cast("long").as("i")).distinct()
      val sized = items
        .withColumn("bsz", count(lit(1)).over(Window.partitionBy(col("b"))))
        .where(col("bsz") <= maxBasketSize)
        .select(col("b"), col("i")).persist()
      val nBk = broadcast(sized.agg(
        countDistinct(col("b")).cast("long").as("n_baskets")))
      val ic = sized.groupBy(col("i")).agg(count(lit(1)).as("ci"))
      val pairs = sized.alias("x")
        .join(sized.alias("y"),
          col("x.b") === col("y.b") && col("x.i") < col("y.i"))
        .groupBy(col("x.i").as("item_a"), col("y.i").as("item_b"))
        .agg(count(lit(1)).cast("long").as("n_pairs"))
        .where(col("n_pairs") >= minCount)
      pairs
        .join(broadcast(ic.select(col("i").as("item_a"),
          col("ci").as("ca"))), Seq("item_a"))
        .join(broadcast(ic.select(col("i").as("item_b"),
          col("ci").as("cb"))), Seq("item_b"))
        .crossJoin(nBk)
        .select(col("item_a"), col("item_b"), col("n_pairs"),
          round(col("n_pairs").cast("double") / col("n_baskets"), 6)
            .as("support"),
          round(col("n_pairs").cast("double") / col("ca"), 6)
            .as("confidence_a_b"),
          round(col("n_pairs").cast("double") * col("n_baskets") /
            (col("ca") * col("cb")), 6).as("lift"))
        .orderBy(col("n_pairs").desc, col("item_a").asc, col("item_b").asc)
        .limit(topK)
    }

    for ((feedName, path) <- Seq("dup1" -> p1, s"dup$dupF" -> pN)) {
      val feed = spark.read.parquet(path)
      val n = feed.count()
      for ((form, thunk) <- Seq[(String, () => DataFrame)](
          "repartition(r19)" -> (() => ProfileOps.associationRules(
            feed, "l_orderkey", "l_partkey", 2, 100, 50)),
          "distinct-first(r18)" -> (() =>
            distinctFirst(feed, 2, 100, 50)))) {
        val r = median3 {
          graft.operators.Caches.scoped { thunk().count(): Unit }
          spark.catalog.clearCache()
        }
        println(f"$feedName%-6s rows=$n%9d $form%-20s sec=${r.sec}%7.2f " +
          f"shuffle_mb=${r.shuffleBytes / 1048576.0}%9.2f " +
          f"jobs=${r.jobs}%3d task_sec=${r.taskMs / 1e3}%7.2f")
      }
    }
    spark.stop()
  }
}
