package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Deterministic distributed generator for sweep-scale corpora beyond
 * the driver-provided testdata (largest checked-in SF is 0.1; the
 * scale-sweep evidence in SCALE.md needs sf1 = 10x that). Schemas,
 * key ranges, value domains, skew, planted-duplicate rates, and
 * vector geometry are matched to the measured distributions of
 * `/root/testdata/sf0.1` (profiled via DuckDB; see SCALE.md §sweep),
 * so per-query runtime curves across generated SFs extrapolate the
 * driver corpus honestly.
 *
 * Every value is a PURE FUNCTION of (table, row id, field) through
 * xxhash64 — no RNG state, no driver-side loops, no shuffle: each
 * table is one `spark.range(n)` projection, so generation itself
 * scales to any SF (the same construction would write 100 TB from
 * 1000 executors). NOT for correctness gates — the DuckDB oracle runs
 * on the driver's own tables; this exists purely for timing curves.
 */
object GenSf {

  /** uniform [0,1) from a seeded hash of `id` — top 53 bits of
    * xxhash64, the double-precision-exact construction. */
  private def u(seed: String, id: Column): Column =
    shiftrightunsigned(xxhash64(lit(seed), id), 11).cast("double") /
      lit(9007199254740992.0) // 2^53

  /** non-negative hash of `id` for modular picks. */
  private def h(seed: String, id: Column): Column =
    pmod(xxhash64(lit(seed), id), lit(Long.MaxValue))

  private def pick(seed: String, id: Column, values: Seq[String]): Column =
    element_at(typedLit(values), (h(seed, id) % values.size).cast("int") + 1)

  /** inverse-CDF pick of lines-per-order ~ Poisson(mean 4), matching
    * the driver lineitem's measured fan-out (1.9% zero-line orders,
    * mean 4.07, max ~17). */
  private def poisson4(p: Column): Column = {
    val cdf = Seq(0.0183, 0.0916, 0.2381, 0.4335, 0.6288, 0.7851,
      0.8893, 0.9489, 0.9786, 0.9919, 0.9972, 0.9991, 0.9997)
    cdf.zipWithIndex.foldRight(lit(13): Column) { case ((c, k), rest) =>
      when(p < c, lit(k)).otherwise(rest)
    }
  }

  // The documents vocabulary observed in the driver corpus (30 words,
  // near-uniform usage) — keeping the SAME vocabulary keeps shingle
  // spaces, MinHash band collision rates, and tokenizer behavior
  // comparable across driver and generated tables.
  private[tools] val Vocab = Seq("spark", "window", "merge", "table", "column",
    "vector", "stream", "value", "data", "small", "join", "filter", "big",
    "group", "hash", "customer", "sort", "order", "slow", "line", "part",
    "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch")

  private val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE",
    "HOUSEHOLD", "MACHINERY")
  private val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
    "4-NOT SPECIFIED", "5-LOW")
  private val Regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE",
    "MIDDLE EAST")
  private val PartAdjs = Seq("large", "hot", "blue", "old", "cold",
    "small", "dim", "shiny")
  private val PartNouns = Seq("ring", "bolt", "plate", "screw", "nut")
  private val PartTypes = Seq("LARGE", "ECONOMY", "SMALL", "STANDARD",
    "MEDIUM", "PROMO")
  private val EventTypes = Seq("signup", "purchase", "view", "click",
    "error")
  private val Langs = Seq("en", "zh", "es", "fr", "de")

  /** epoch seconds of 1995-01-01T00:00:00Z / 2024-01-01T00:00:00Z. */
  private val Epoch1995 = 788918400L
  private val Epoch2024 = 1704067200L

  def generate(spark: SparkSession, outDir: String, sf: Double): Unit = {
    def n(base: Long): Long = math.max(1L, math.round(base * sf))
    def rng(rows: Long): DataFrame =
      spark.range(rows).toDF("id")
    def write(df: DataFrame, name: String, files: Int): Unit =
      df.coalesce(files).write.mode("overwrite")
        .parquet(s"$outDir/$name.parquet")
    val id = col("id")

    write(rng(5).select(id.cast("int").as("r_regionkey"),
      element_at(typedLit(Regions), id.cast("int") + 1).as("r_name")),
      "region", 1)

    write(rng(25).select(id.cast("int").as("n_nationkey"),
      concat(lit("NATION_"), id.cast("string")).as("n_name"),
      (id % 5).cast("int").as("n_regionkey")), "nation", 1)

    val nCust = n(150000)
    write(rng(nCust).select(id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      (h("cnat", id) % 25).cast("int").as("c_nationkey"),
      round(lit(-1000.0) + u("cbal", id) * 11000.0, 2).as("c_acctbal"),
      pick("cseg", id, Segments).as("c_mktsegment")),
      "customer", math.max(1, (nCust / 200000).toInt))

    write(rng(n(10000)).select(id.as("s_suppkey"),
      format_string("Supplier#%09d", id).as("s_name"),
      (h("snat", id) % 25).cast("int").as("s_nationkey"),
      round(lit(-1000.0) + u("sbal", id) * 11000.0, 2).as("s_acctbal")),
      "supplier", 1)

    val nPart = n(200000)
    write(rng(nPart).select(id.as("p_partkey"),
      concat(pick("padj", id, PartAdjs), lit(" "),
        pick("pnoun", id, PartNouns)).as("p_name"),
      concat(lit("Brand#"), ((h("pbrand", id) % 25) + 1).cast("string"))
        .as("p_brand"),
      pick("ptype", id, PartTypes).as("p_type"),
      ((h("psize", id) % 50) + 1).cast("int").as("p_size"),
      round(lit(900.0) + (id % 1000).cast("double") * 0.1, 2)
        .as("p_retailprice")), "part", math.max(1, (nPart / 200000).toInt))

    val nOrd = n(1500000)
    val orders = rng(nOrd).select(id.as("o_orderkey"),
      (h("ocust", id) % nCust).as("o_custkey"),
      pick("ostat", id, Seq("O", "P", "F")).as("o_orderstatus"),
      round(lit(1000.0) + u("oprice", id) * 499000.0, 2).as("o_totalprice"),
      timestamp_seconds(lit(Epoch1995) +
        (u("odate", id) * 2405.0 * 86400.0).cast("long")).as("o_orderdate"),
      pick("oprio", id, Priorities).as("o_orderpriority"))
    write(orders, "orders", math.max(1, (nOrd / 750000).toInt))

    // lineitem fans out from the order range: nl ~ Poisson(4) per
    // order, exploded in-plan (no shuffle; zero-line orders drop out)
    val nLineFiles = math.max(1, (nOrd * 4 / 750000).toInt)
    val li = rng(nOrd)
      .select(id.as("o"), poisson4(u("lnl", id)).as("nl"),
        timestamp_seconds(lit(Epoch1995) +
          (u("odate", id) * 2405.0 * 86400.0).cast("long")).as("odate"))
      .filter(col("nl") >= 1)
      .select(col("o"), col("odate"),
        explode(sequence(lit(1), col("nl"))).as("l_linenumber"))
    val lid = col("o") * 31 + col("l_linenumber") // per-line hash seed
    write(li.select(col("o").as("l_orderkey"),
      (h("lpart", lid) % nPart).as("l_partkey"),
      (h("lsupp", lid) % n(10000)).as("l_suppkey"),
      col("l_linenumber").cast("int").as("l_linenumber"),
      ((h("lqty", lid) % 50) + 1).cast("double").as("l_quantity"),
      round(lit(900.0) + u("lprice", lid) * 104100.0, 2)
        .as("l_extendedprice"),
      ((h("ldisc", lid) % 11).cast("double") / 100.0).as("l_discount"),
      ((h("ltax", lid) % 9).cast("double") / 100.0).as("l_tax"),
      pick("lrf", lid, Seq("A", "N", "R")).as("l_returnflag"),
      pick("lls", lid, Seq("F", "O")).as("l_linestatus"),
      timestamp_seconds(unix_timestamp(col("odate")) +
        ((h("lship", lid) % 94) + 1) * 86400L).as("l_shipdate")),
      "lineitem", nLineFiles)

    val nEvents = n(1000000)
    val nUsers = math.max(1L, n(15000))
    write(rng(nEvents).select(id.as("event_id"),
      timestamp_seconds(lit(Epoch2024).cast("double") +
        u("ets", id) * 30.0 * 86400.0).as("ts"),
      (h("euser", id) % nUsers).as("user_id"),
      pick("etype", id, EventTypes).as("event_type"),
      round(u("eval", id) * 560.0, 2).as("value"),
      format_string("{\"k\": %d}", h("eprop", id) % 100).as("props")),
      "events", math.max(1, (nEvents / 500000).toInt))

    val nDocs = n(50000)
    write(documentsDf(spark, sf), "documents",
      math.max(1, (nDocs / 50000).toInt))

    write(embeddingsDf(spark, sf), "embeddings", 1)
  }

  /** The embeddings table: unit-normalized 64-dim gaussians
    * (Box-Muller over two uniform hashes) with a small label-direction
    * bias — matches the testdata corpus' per-component std 0.125 and weak
    * label clusters. */
  private def embeddingsDf(spark: SparkSession, sf: Double): DataFrame = {
    val id = col("id")
    val nVec = math.max(1L, math.round(20000 * sf))
    val gauss = transform(sequence(lit(0), lit(63)), i => {
      val u1 = shiftrightunsigned(xxhash64(lit("v1"), id, i), 11)
        .cast("double") / lit(9007199254740992.0)
      val u2 = shiftrightunsigned(xxhash64(lit("v2"), id, i), 11)
        .cast("double") / lit(9007199254740992.0)
      val lbl = (h("vlab", id) % 10).cast("int")
      sqrt(lit(-2.0) * log(greatest(u1, lit(1e-15)))) *
        cos(lit(2.0 * math.Pi) * u2) +
        (pmod(xxhash64(lit("vdir"), lbl, i), lit(1000)).cast("double") /
          1000.0 - 0.5) * 0.2
    })
    spark.range(nVec).toDF("id")
      .select(id.as("vec_id"), (h("vlab", id) % 10).cast("int").as("label"),
        gauss.as("g"))
      .withColumn("nrm", sqrt(aggregate(col("g"), lit(0.0),
        (a, x) => a + x * x)))
      .select(col("vec_id"), transform(col("g"),
        x => (x / col("nrm")).cast("float")).as("embedding"), col("label"))
  }

  /** The documents table alone (factored out of [[generate]], r16):
    * text is a pure function of a CONTENT id, which equals the row id
    * except for planted duplicates — every 625th doc is an exact copy
    * of its predecessor (the driver's ~0.16% dup rate) and every 400th
    * a near-dup with ~10% of words replaced by a "dup" marker token.
    * Exposed so scale tools (NearDupScale) can generate a documents
    * decade without paying for the full table set. */
  def documentsDf(spark: SparkSession, sf: Double): DataFrame = {
    val id = col("id")
    val nDocs = math.max(1L, math.round(50000 * sf))
    val contentId = when(id % 625 === 624, id - 1)
      .when(id % 400 === 399, id - 1).otherwise(id)
    val isNear = id % 400 === 399 && !(id % 625 === 624)
    val nWords = (h("dlen", contentId) % 91) + 10
    val words = transform(sequence(lit(0), (nWords - 1).cast("int")),
      i => when(isNear &&
          pmod(xxhash64(lit("dnear"), id, i), lit(10L)) === 0L, lit("dup"))
        .otherwise(element_at(typedLit(Vocab),
          pmod(xxhash64(lit("dword"), contentId, i),
            lit(Vocab.size)).cast("int") + 1)))
    spark.range(nDocs).toDF("id").select(id.as("doc_id"),
        array_join(words, " ").as("text"),
        // lang/source describe the DOCUMENT, not the content — planted
        // dups keep their own, like real cross-source duplication
        when(u("dlang", id) < 0.42, lit("en"))
          .otherwise(element_at(typedLit(Langs),
            (h("dlang2", id) % 4).cast("int") + 2)).as("lang"),
        concat(lit("src"), (h("dsrc", id) % 20).cast("string"))
          .as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  def main(args: Array[String]): Unit = {
    val outRoot = if (args.nonEmpty) args(0) else "/tmp/graft_sweep"
    val sfs = if (args.length > 1) args(1).split(",").map(_.toDouble).toSeq
      else Seq(0.01, 0.1, 1.0)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // INT64 micros, matching the driver corpus' pyarrow layout —
      // readEvents' forced-long raw read cannot decode Spark's legacy
      // INT96 default
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    sfs.foreach { sf =>
      val dir = s"$outRoot/sf$sf"
      val t0 = System.nanoTime()
      generate(spark, dir, sf)
      println(f"generated sf$sf at $dir in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    }
    spark.stop()
  }
}
