package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.OmeOps
import graft.schema.Fixtures

/** CI-enforced physical-plan properties — the scale guarantees PlanAudit
  * reports interactively, pinned so a regression fails the suite:
  * metadata reads must stay pixel-free, dimension joins must broadcast,
  * aggregations must partial-aggregate before their exchange. */
class PlanSpec extends SparkSpec {

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  private object Aqe
      extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

  /** Every node of the executed plan, inside adaptive plans and their
    * query stages too (the final plan once the frame has run). */
  private def nodes(df: org.apache.spark.sql.DataFrame)
      : Seq[org.apache.spark.sql.execution.SparkPlan] =
    Aqe.collect(df.queryExecution.executedPlan) { case p => p }

  /** Cached-frame scans in the executed plan, counted per cached
    * relation and keyed by that relation's column names. */
  private def cachedScans(
      df: org.apache.spark.sql.DataFrame): Map[Seq[String], Int] =
    nodes(df).collect {
      case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
        s.relation
    }.groupBy(_.cacheBuilder).values
      .map(rs => rs.head.cachedPlan.output.map(_.name) -> rs.size).toMap

  test("describe over parquet prunes planes out of the read schema") {
    val d = Files.createTempDirectory("planspec_pq").toString
    graft.sources.OmeParquet.write(Fixtures.corpus4d(spark), d)
    val described = OmeOps.describe(graft.sources.OmeParquet.read(spark, d))
    val readSchema = "ReadSchema: [^\n]+".r.findFirstIn(plan(described))
      .getOrElse(fail("no ReadSchema in plan"))
    assert(!readSchema.contains("planes"),
      s"metadata query reads pixels: $readSchema")
  }

  test("dimension joins broadcast; fact side never shuffles for them") {
    val q5 = SparkEntry.queries("q5_region_revenue")(
      spark, "/root/testdata/sf0.001")
    val p = plan(q5)
    val bcasts = "BroadcastExchange".r.findAllIn(p).length
    val shuffles = "Exchange".r.findAllIn(p).length - bcasts
    assert(bcasts === 3, s"expected 3 broadcast dims, got $bcasts")
    assert(shuffles <= 2, s"too many shuffles for q5: $shuffles")
  }

  test("filter and projection push down to the parquet scan") {
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .filter(col("l_quantity") > 45.0)
      .select(col("l_orderkey"), col("l_quantity"))
    val p = plan(li)
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,45.0)]"),
      s"filter did not push down")
    val readSchema = "ReadSchema: [^\n]+".r.findFirstIn(p).get
    assert(!readSchema.contains("l_comment"),
      s"projection not pruned: $readSchema")
  }

  test("exploded pixel pipeline shuffles exactly once (the final rollup)") {
    val pipeline = OmeOps.downscalePlanes(OmeOps.cropPlanes(
        OmeOps.explodePlanes(Fixtures.corpus4d(spark)), 2, 6, 1, 7))
      .groupBy(col("image_id")).agg(count(lit(1)).as("n"))
    val p = plan(pipeline)
    val shuffles = "Exchange".r.findAllIn(p).length -
      "BroadcastExchange".r.findAllIn(p).length
    assert(shuffles === 1, s"pixel pipeline gained a shuffle: $shuffles")
  }

  test("bucketed tables co-locate their join: zero exchanges") {
    // the 100 TB technique for repeated joins on one key (images x
    // features, docs x scores): bucket BOTH sides on the key at write
    // time and the join needs no shuffle at all
    val d1 = Files.createTempDirectory("planspec_b1").toString
    val d2 = Files.createTempDirectory("planspec_b2").toString
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    // the test table is tiny, so the planner would broadcast (hiding the
    // bucketing); disable it to surface the big-table plan shape
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      docs.select(col("doc_id"), col("n_chars")).write
        .bucketBy(8, "doc_id").sortBy("doc_id")
        .option("path", d1).saveAsTable("planspec_bt1")
      docs.select(col("doc_id"), col("lang")).write
        .bucketBy(8, "doc_id").sortBy("doc_id")
        .option("path", d2).saveAsTable("planspec_bt2")
      val joined = spark.table("planspec_bt1")
        .join(spark.table("planspec_bt2"), "doc_id")
      assert(!plan(joined).contains("Exchange"),
        "bucketed join still shuffled")
      assert(joined.count() === docs.count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS planspec_bt1")
      spark.sql("DROP TABLE IF EXISTS planspec_bt2")
    }
  }

  test("slice and downscale stay shuffle-free whole-record expressions") {
    for (df <- Seq(
        OmeOps.sliceOmeArrow(Fixtures.corpus4d(spark), 1, 7, 1, 7),
        OmeOps.downscale2x(Fixtures.corpus4d(spark)))) {
      assert(!plan(df).contains("Exchange"), "record operator shuffled")
    }
  }

  test("multi-probe IVF: corpus shuffles once; probe fan-out broadcasts") {
    val q = graft.operators.VectorOps.ivfTopKProbed(
      spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet"),
      16, 5, nProbe = 3)
    val p = plan(q)
    val bcasts = "BroadcastExchange".r.findAllIn(p).length
    val shuffles = "Exchange".r.findAllIn(p).length - bcasts
    // 1 corpus shuffle on the assigned cluster + the per-probe windows;
    // widening nProbe must never add a corpus-side exchange
    assert(shuffles <= 3, s"multi-probe IVF gained shuffles: $shuffles")
    assert(bcasts >= 1, "probe/codebook side stopped broadcasting")
  }

  test("plane- and sub-plane-chunked zarr corpus reads plan no Exchange") {
    // one store per partition: the scan decodes, assembles and zero-fills
    // each record, so no layout needs a shuffle
    for (chunks <- Seq(None, Some(Seq(1, 1, 2, 4, 8)))) {
      val d = Files.createTempDirectory("planspec_zarr").toString
      graft.sources.OmeZarr.write(Fixtures.corpus4d(spark), d, chunks = chunks)
      val p = plan(graft.sources.OmeZarr.readAll(spark, d))
      assert(!p.contains("Exchange"), s"zarr read with chunks=$chunks shuffled:\n$p")
    }
  }

  test("sampleMix is one shuffle-free narrow projection") {
    val q = graft.operators.TextOps.sampleMix(
      spark.read.parquet("/root/testdata/sf0.001/documents.parquet"),
      Map("en" -> 0.5))
    assert(!plan(q).contains("Exchange"), "sampleMix shuffled")
  }

  test("propsRollup parses JSON before the exchange; only partials shuffle") {
    import spark.implicits._
    val ev = Seq((1L, 0L, 1L, "click", 1.0, """{"k": 5}"""))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val p = plan(graft.operators.EventOps.propsRollup(ev, "k"))
    // exactly one exchange (the final hash aggregation), with a partial
    // aggregate below it so the JSON projection never crosses the wire
    assert("Exchange".r.findAllIn(p).size === 1, s"extra shuffles:\n$p")
    assert(p.contains("partial_"), s"no map-side partials:\n$p")
  }

  test("importanceWeights: distribution tables and totals all broadcast") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val q = graft.operators.TextOps.importanceWeights(
      docs, docs.filter(col("lang") === "en"))
    val p = plan(q)
    // 2 bucket-count joins + 2 totals cross-joins — O(256)-row sides
    // must never sort-merge against the corpus
    assert("BroadcastExchange".r.findAllIn(p).length === 4,
      "bucket distributions stopped broadcasting")
    assert(!p.contains("SortMergeJoin"),
      "an O(256)-row side sort-merge-joined the corpus")
  }

  test("lmPerplexity partial-aggregates train counts before the exchange") {
    val q = graft.operators.TextOps.lmPerplexity(
      spark.read.parquet("/root/testdata/sf0.001/documents.parquet"))
    val p = plan(q)
    // bigram/context count tables must map-side combine (partial_count
    // below the exchange), or every train bigram event crosses the wire
    assert(p.contains("partial_count"),
      "train count aggregation lost its map-side partial")
  }

  test("vector near-dup and rerank never buffer or window-shuffle " +
      "embedding arrays") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val nearDup = graft.operators.VectorOps
      .embedNearDup(emb, threshold = 0.35)
    // pairs must STREAM from the bucket self-join — a collect_list
    // aggregate puts ~corpus/2^numPlanes embeddings into one row
    assert(!plan(nearDup).contains("collect_list"),
      "embedNearDup buffers bucket members in an aggregation row")
    val reranked = graft.operators.VectorOps
      .cosineTopKReranked(emb, nProbes = 8, k = 10)
    // the coarse window must move (probe_id, neighbor_id, cscore)
    // triples only — full embeddings below a window shuffle means the
    // two-stage design degenerated to full-space data movement
    // post-pruning logical plan (AQE hides physical WindowExec nodes
    // until execution): the window's child output is exactly what its
    // partition shuffle will move
    val windowInputs = reranked.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window =>
        w.child.output.map(_.name)
    }
    assert(windowInputs.nonEmpty, "rerank lost its ranking windows")
    windowInputs.flatten.foreach { n =>
      assert(!n.contains("emb") && !n.contains("pv"),
        s"embedding-width column '$n' entered a window shuffle")
    }
  }

  test("round-7 report/analytics operators keep their audited shapes") {
    val dir = "/root/testdata/sf0.001"
    def shuffles(p: String) = "Exchange".r.findAllIn(p).length -
      "BroadcastExchange".r.findAllIn(p).length

    // pixel reports: one keyed exchange, pixels never explode
    val qc = plan(SparkEntry.queries("ome_qc_report")(spark, dir))
    assert(shuffles(qc) === 1, s"qcReport gained a shuffle")
    val hist = plan(SparkEntry.queries("ome_histogram")(spark, dir))
    assert(shuffles(hist) === 1, s"histogram gained a shuffle")
    assert(!hist.contains("posexplode(pixels"),
      "histogram exploded pixels instead of bin-count arrays")

    // funnel and anomaly: keyed joins/windows only, never a cross
    val funnel = plan(SparkEntry.queries("events_funnel")(spark, dir))
    assert(!funnel.contains("CartesianProduct"),
      "funnel degenerated to a cross product")
    val anomaly = plan(SparkEntry.queries("events_anomaly")(spark, dir))
    assert(shuffles(anomaly) === 2, "anomaly gained a shuffle")

    // quantile certification joins the tiny report side by broadcast
    val quant = plan(SparkEntry.queries("quantile_report")(spark, dir))
    assert(quant.contains("BroadcastHashJoin"),
      "quantile rank-certification lost its broadcast join")

    // cluster report: assignment is a map-side fold — the only
    // aggregation buffer is scalar partials, never embeddings
    val cr = plan(SparkEntry.queries("embed_cluster_report")(spark, dir))
    assert(!cr.contains("collect_list"),
      "clusterReport buffers members in an aggregation row")
  }

  test("every ANN variant's ranking window moves score triples, never " +
      "embedding arrays") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val V = graft.operators.VectorOps
    // corpus-scale ranking windows: their partition shuffle moves their
    // child's output, so embedding-width columns there = full-space
    // data movement at 100 TB. (ivfTopKProbed's centroid-ranking window
    // legitimately carries p_emb — it runs over the SMALL probe set,
    // nProbes x nCentroids rows — so only corpus-side windows, those
    // emitting a `rnk`, are pinned here.)
    val plans = Seq(
      "annTopK" -> V.annTopK(emb, nProbes = 8, k = 5),
      "ivfTopK" -> V.ivfTopK(emb, nProbes = 8, k = 5),
      "ivfTopKProbed" -> V.ivfTopKProbed(emb, nProbes = 8, k = 5),
      "cosineTopK" -> V.cosineTopK(emb, nProbes = 8, k = 5),
      "cosineTopKQuantized" -> V.cosineTopKQuantized(emb, nProbes = 8, k = 5),
      "cosineTopKBinary" -> V.cosineTopKBinary(emb, nProbes = 8, k = 5,
        dim = 64),
      "pqTopK" -> V.pqTopK(emb, nProbes = 8, k = 5),
      "ivfPqTopK" -> V.ivfPqTopK(emb, nProbes = 8, k = 5),
      "mmrTopK" -> V.mmrTopK(emb, nProbes = 8, k = 3, candidates = 10))
    // mmrTopK persists its loop invariants (cands/psim/frontiers), so its
    // ranking windows sit INSIDE InMemoryRelation cache builders in the
    // optimized plan — recurse through them rather than exempting it
    def rnkWindows(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
        : Seq[Seq[String]] = {
      val direct = p.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window
            if w.windowExpressions.exists(_.name == "rnk") =>
          w.child.output.map(_.name)
      }
      val cached = p.collect {
        case r: org.apache.spark.sql.execution.columnar.InMemoryRelation =>
          rnkWindows(r.cacheBuilder.logicalPlan)
      }.flatten
      direct ++ cached
    }
    plans.foreach { case (name, df) =>
      val finalWindows = rnkWindows(df.queryExecution.optimizedPlan)
      assert(finalWindows.nonEmpty, s"$name lost its ranking window")
      finalWindows.flatten.foreach { n =>
        assert(!n.contains("emb") && !n.contains("pv") && !n.contains("dv"),
          s"$name: embedding-width column '$n' entered the ranking window")
      }
    }
    // r7 regression pin: mmrTopK must read the persisted candidate
    // frames, never re-scan the corpus — every file scan has to sit
    // behind an InMemoryRelation, none in the outer plan (AQE off so
    // the physical collect can see through the plan)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val mmr = V.mmrTopK(emb, nProbes = 8, k = 3, candidates = 10)
      val outerScans = mmr.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }
      assert(outerScans.isEmpty,
        s"mmrTopK re-scans the corpus outside its persisted frontier: " +
          s"$outerScans")
    } finally spark.conf.unset("spark.sql.adaptive.enabled")
    spark.catalog.clearCache() // drop the frames mmrTopK persisted
    // the binary coarse stage additionally must window on (probe_id,
    // neighbor_id, ham) only — neither embeddings nor packed signatures
    val binary = V.cosineTopKBinary(emb, nProbes = 8, k = 5, dim = 64)
    binary.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window =>
        w.child.output.map(_.name)
    }.flatten.foreach { n =>
      assert(!n.contains("emb") && !n.contains("sig"),
        s"cosineTopKBinary: wide column '$n' entered a window shuffle")
    }
  }

  test("colocalization never moves pixels: the only exchange carries " +
      "scalar moments") {
    // AQE's AdaptiveSparkPlanExec hides exchanges from collect until
    // execution — plan the query without it for the audit
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val q = graft.operators.OmeOps.colocalization(Fixtures.corpus4d(spark))
      val shuffles = q.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
          e.child.output.map(_.name)
      }
      // in-row pair construction -> exactly the final scalar rollup shuffle
      assert(shuffles.length === 1, s"expected 1 exchange, got $shuffles")
      shuffles.flatten.foreach { n =>
        assert(!n.contains("pixels") && !n.contains("planes") &&
          !n.contains("pm"), s"pixel-width column '$n' crossed the exchange")
      }
    } finally spark.conf.unset("spark.sql.adaptive.enabled")
  }

  test("q18 aggregates lineitem exactly once; survivors broadcast back") {
    // the aggregate-then-rejoin pattern must not re-scan or re-aggregate
    // the big side after the HAVING filter — one lineitem scan, one
    // orderkey exchange, and the filtered aggregate broadcasts onto the
    // dimension joins
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val q = SparkEntry.queries("q18_large_orders")(
        spark, "/root/testdata/sf0.001")
      val exec = q.queryExecution.executedPlan
      val liScans = exec.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec
            if s.relation.location.rootPaths.exists(
              _.toString.contains("lineitem")) => s
      }
      assert(liScans.length === 1,
        s"q18 scanned lineitem ${liScans.length} times (re-aggregation)")
      val shuffles = exec.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(shuffles.length === 1,
        s"q18 must shuffle only for the orderkey aggregation, " +
          s"got ${shuffles.length}")
      val bcasts = exec.collect {
        case e: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec => e
      }
      assert(bcasts.length === 2,
        s"the HAVING survivors and the joined orders must broadcast, " +
          s"got ${bcasts.length}")
    } finally spark.conf.unset("spark.sql.adaptive.enabled")
  }

  test("q15's max probe and equality filter share one persisted revenue " +
      "view") {
    // the correlated scalar aggregate must reuse the supplier-revenue
    // aggregation: the outer plan reads the cached view twice and scans
    // only supplier — a second lineitem scan means the subquery
    // recomputed the corpus aggregation
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val q = SparkEntry.queries("q15_top_supplier")(
        spark, "/root/testdata/sf0.001")
      val exec = q.queryExecution.executedPlan
      val fileScans = exec.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.relation.location.rootPaths.map(_.toString).mkString
      }
      assert(fileScans.forall(_.contains("supplier")),
        s"q15's outer plan scans beyond supplier: $fileScans")
      val cacheReads = exec.collect {
        case c: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec => c
      }
      assert(cacheReads.length === 2,
        s"expected the revenue view read twice (max probe + filter), " +
          s"got ${cacheReads.length}")
    } finally {
      spark.conf.unset("spark.sql.adaptive.enabled")
      spark.catalog.clearCache()
    }
  }

  test("date-partitioned events prune partitions for day-ranged analytics") {
    // SCALE.md's events note ("at 100 TB the events table would be
    // date-partitioned so the day rollup prunes") pinned as a plan
    // property: write the events normalized frame partitioned by day,
    // filter a day range, and the scan must carry non-empty
    // PartitionFilters (directory-level pruning — no data file of an
    // out-of-range day is ever opened)
    val d = Files.createTempDirectory("planspec_evpart").toString + "/events"
    val ev = graft.operators.EventOps.readEvents(
      spark, "/root/testdata/sf0.001")
    ev.withColumn("day",
        expr(s"ts div ${graft.operators.EventOps.NanosPerDay}"))
      .write.partitionBy("day").parquet(d)
    val part = spark.read.parquet(d)
    // partition-column types are inferred on read (int vs long)
    val lo = part.agg(min(col("day"))).head().getAs[Number](0).longValue()
    // AQE's AdaptiveSparkPlanExec hides the scan from collect until
    // execution — plan without it for the audit
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try for (q <- Seq(
        graft.operators.EventOps.dailyRollup(
          part.filter(col("day").between(lo, lo + 2))),
        graft.operators.EventOps.retentionCohorts(
          part.filter(col("day").between(lo, lo + 2))))) {
      val scans = q.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }
      assert(scans.nonEmpty, "no file scan in the partitioned events plan")
      scans.foreach { s =>
        assert(s.partitionFilters.nonEmpty,
          s"day-range filter did not reach PartitionFilters: $s")
      }
      // pruning must actually drop partitions, not just annotate the scan
      // (retention reads its input twice — first-day + activity — so the
      // bound is per scan)
      val total = part.select(col("day")).distinct().count()
      scans.foreach { s =>
        val selected = s.relation.location
          .listFiles(s.partitionFilters, Nil).length
        assert(selected <= 3 && selected < total,
          s"expected <=3 of $total day partitions selected, got $selected")
      }
    } finally spark.conf.unset("spark.sql.adaptive.enabled")
  }

  test("chunkDocs is one shuffle-free generate; bm25 top-k is a " +
      "TakeOrdered, not a global sort") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val chunks = graft.operators.TextOps.chunkDocs(docs)
    assert(!plan(chunks).contains("Exchange"),
      "chunkDocs must be a pure narrow map")
    val bm25 = graft.operators.TextOps.bm25TopK(docs, Seq("hash", "join"))
    // global top-k must be per-partition heaps + driver merge; a Sort
    // above an Exchange.rangepartitioning would be the full-corpus sort
    assert(plan(bm25).contains("TakeOrderedAndProject"),
      "bm25TopK lost its TakeOrderedAndProject top-k")
  }

  test("rangeJoinBinned is an equi-join, never a nested-loop product") {
    import spark.implicits._
    val intervals = spark.range(50).select(col("id").as("user_id"),
      lit(1L).as("session_idx"), (col("id") * 100).as("start_ts"),
      (col("id") * 100 + 57).as("end_ts"))
    val probes = spark.range(500).select(col("id").as("event_id"),
      (col("id") % 50).as("user_id"), (col("id") * 7 % 5000).as("ts"))
    val p = plan(graft.operators.EventOps
      .rangeJoinBinned(probes, intervals, binNs = 10L))
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      s"range join fell back to a nested-loop product:\n$p")
    // the containment predicate must be a post-join FILTER on an
    // equi-join keyed by (key, bin)
    assert(p.contains("Join") || p.contains("SortMergeJoin") ||
      p.contains("BroadcastHashJoin") || p.contains("ShuffledHashJoin"),
      s"no equi-join in plan:\n$p")
  }

  test("bloomSemiJoin filters map-side before the exchange, exactly") {
    import spark.implicits._
    val large = spark.range(2000).select(col("id").as("k"),
      (col("id") * 7).as("payload"))
    val small = spark.range(100).select((col("id") * 20).as("k"))
    val got = graft.operators.JoinOps.bloomSemiJoin(large, "k", small, "k")
    val expect = large.join(small, Seq("k"), "left_semi")
    assert(got.collect().map(_.getLong(0)).sorted ===
      expect.collect().map(_.getLong(0)).sorted)
    // the bitmap probe must sit in a Filter on the large side's scan
    // (map-side, before any exchange): the plan carries the shiftright
    // word-index arithmetic of the literal-bitmap probe
    val p = plan(got)
    assert(p.contains("shiftright"),
      s"no literal-bitmap probe filter in plan:\n$p")
    spark.catalog.clearCache()
  }

  test("exactSubstrDedup: gram-keyed joins only — no cartesian, no " +
      "nested-loop, text never in a join key") {
    import spark.implicits._
    val docs = Seq((0L, "a b c d e f"), (1L, "a b c d x y"))
      .toDF("doc_id", "text")
    val p = plan(graft.operators.TextOps.exactSubstrDedup(docs, k = 4))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"exactSubstrDedup fan-out regressed to a product:\n$p")
    spark.catalog.clearCache()
  }

  test("trackObjects: candidate links come from a stack+adjacent-t " +
      "equi-join — no cartesian over objects") {
    import spark.implicits._
    val objs = Seq(("i", 0, 0, 0, 1, 1.0, 1.0), ("i", 0, 0, 1, 2, 1.0, 2.0))
      .toDF("image_id", "c", "z", "t", "label", "cy", "cx")
    val p = plan(graft.operators.OmeOps.trackObjects(objs, maxDisp = 3.0))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"trackObjects candidate join regressed to a product:\n$p")
    spark.catalog.clearCache()
  }

  test("lineage/merge/event trackers: the event-rule windows stay on the " +
      "single candidate equi-join — no cartesian over objects") {
    import spark.implicits._
    val objs = Seq(("i", 0, 0, 0, 1, 1.0, 1.0), ("i", 0, 0, 1, 2, 1.0, 2.0))
      .toDF("image_id", "c", "z", "t", "label", "cy", "cx")
    for ((name, df) <- Seq(
        "trackLineage" -> graft.operators.OmeOps.trackLineage(objs),
        "trackMerges" -> graft.operators.OmeOps.trackMerges(objs),
        "trackEvents" -> graft.operators.OmeOps.trackEvents(objs))) {
      val p = plan(df)
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"),
        s"$name candidate join regressed to a product:\n$p")
    }
    spark.catalog.clearCache()
  }

  test("text near-dup candidate generators STREAM pairs from bucket " +
      "self-joins — no collect_list buffering, no product (r19: the " +
      "simhashPairs r18 rewrite extended to its siblings — the in-row " +
      "B² expansion was measured to OOM 128 GiB at sf10)") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    for ((name, df) <- Seq(
        "nearDupPairs" -> graft.operators.TextOps.nearDupPairs(docs),
        "nearDupPairs(cap)" ->
          graft.operators.TextOps.nearDupPairs(docs, maxBucketSize = 64),
        "ngramJaccardPairs" ->
          graft.operators.TextOps.ngramJaccardPairs(docs),
        "ngramJaccardPairs(cap)" ->
          graft.operators.TextOps.ngramJaccardPairs(docs, maxPostings = 64),
        "simhashPairs" -> graft.operators.TextOps.simhashPairs(docs))) {
      val p = plan(df)
      assert(!p.contains("collect_list"),
        s"$name buffers bucket members in an aggregation row")
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"),
        s"$name candidate join regressed to a product")
    }
    spark.catalog.clearCache()
  }

  test("ngramJaccardPairs posting frames materialize ONCE (r20): both " +
      "self-join sides read the cached prefix/capped frame, and exact " +
      "mode verifies candidates against the cached shingle sets") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    // EXACT mode: PPJoin — prefix frame cached (2 scans for the
    // candidate join) + shingle frame cached (2 scans for the verify
    // joins); the explode/df-window/rank-window subtree must NOT repeat
    val exactDf = graft.operators.TextOps.ngramJaccardPairs(docs)
    val exact = plan(exactDf)
    assert(cachedScans(exactDf) === Map(
        Seq("doc_id", "n_sh", "shingle") -> 2, Seq("doc_id", "sh") -> 2),
      s"exact mode: the prefix frame and the shingle frame should each " +
        s"be scanned twice from the cache:\n$exact")
    assert(exact.contains("array_intersect"),
      "exact mode lost the set-verification stage")
    // CAPPED mode: the capped posting frame cached, both join sides
    // read it (r19 left the explode + cap window evaluating twice)
    val cappedDf =
      graft.operators.TextOps.ngramJaccardPairs(docs, maxPostings = 64)
    assert(cachedScans(cappedDf) ===
        Map(Seq("doc_id", "n_sh", "shingle") -> 2),
      s"capped mode: both join sides should scan the cached posting " +
        s"frame:\n${plan(cappedDf)}")
    spark.catalog.clearCache()
  }

  test("nearDupAgainstIndex: the bucket cap pushes to the bands scan as " +
      "a parquet predicate on the precomputed bn; no product") {
    import spark.implicits._
    val ref = Seq((100L, "a b c d e", "en", "r", 9L),
      (101L, "f g h i j", "en", "r", 9L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val docs = Seq((1L, "a b c d e", "en", "s", 9L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val path = Files.createTempDirectory("planspec_mhidx").toString
    graft.operators.TextOps.buildMinhashIndex(ref, path)
    val p = plan(graft.operators.TextOps.nearDupAgainstIndex(
      docs, path, threshold = 0.5, maxBucketSize = 3))
    assert(p.contains("LessThanOrEqual(bn,3)"),
      s"bn cap not pushed to the bands scan:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"index band join regressed to a product:\n$p")
    spark.catalog.clearCache()
  }

  test("simhash index plans: the bucket cap pushes to the bands scan, " +
      "the candidate join is never a product, and the stats monitor " +
      "reads ONLY (band, chunk, bn) — ref_id stays closed") {
    import spark.implicits._
    val ref = Seq((100L, "a b c d e", "en", "r", 9L),
      (101L, "f g h i j", "en", "r", 9L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val docs = Seq((1L, "a b c d e", "en", "s", 9L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val path = Files.createTempDirectory("planspec_shidx").toString
    graft.operators.TextOps.buildSimhashIndex(ref, path)
    val p = plan(graft.operators.TextOps.simhashAgainstIndex(
      docs, path, maxHamming = 10, maxBucketSize = 3))
    assert(p.contains("LessThanOrEqual(bn,3)"),
      s"bn cap not pushed to the bands scan:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"index band join regressed to a product:\n$p")
    // the monitor's scan never opens ref_id (keys-only ReadSchema)
    val stats = graft.operators.TextOps.simhashIndexStats(spark, path)
    val sp = plan(stats)
    val readSchema = "ReadSchema: [^\\n]*".r.findAllIn(sp)
      .filter(_.contains("bn")).mkString
    assert(readSchema.nonEmpty && !readSchema.contains("ref_id"),
      s"stats monitor reads more than (band, chunk, bn):\n$sp")
    spark.catalog.clearCache()
  }

  test("appendToSimhashIndex: the bn-maintenance base read PRUNES to " +
      "the increment's touched part directories (shared " +
      "touchedBandPartitions — the minhash pin covers the mechanism; " +
      "this pins the simhash part-column layout feeds it)") {
    import spark.implicits._
    val ref = Seq((100L, "a b c d e", "en", "r", 9L),
      (101L, "f g h i j", "en", "r", 9L),
      (102L, "k l m n o", "en", "r", 9L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val path = Files.createTempDirectory("planspec_shidx_app").toString
    graft.operators.TextOps.buildSimhashIndex(ref, path)
    val parts = spark.read.parquet(s"$path/bands")
      .select("part").distinct().collect().map(_.getInt(0)).sorted
    assert(parts.length > 1, "fixture too small to demonstrate pruning")
    val base = graft.operators.TextOps.touchedBandPartitions(
      spark, path, Seq(parts.head))
    base.collect()
    val scanned = base.queryExecution.executedPlan.collectLeaves()
      .collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.metrics("numFiles").value
      }.getOrElse(fail("no FileSourceScanExec in append base read"))
    val totalFiles = new java.io.File(s"$path/bands").listFiles()
      .filter(_.getName.startsWith("part=")).map(d =>
        d.listFiles().count(_.getName.endsWith(".parquet"))).sum
    assert(scanned < totalFiles,
      s"append base read scanned all $totalFiles index files")
    spark.catalog.clearCache()
  }

  test("appendToMinhashIndex: the bn-maintenance base read PRUNES to the " +
      "increment's touched part directories (PartitionFilters, not a " +
      "full index scan)") {
    import spark.implicits._
    val ref = Seq((100L, "a b c d e", "en", "r", 9L),
      (101L, "f g h i j", "en", "r", 9L),
      (102L, "k l m n o", "en", "r", 9L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val path = Files.createTempDirectory("planspec_mhidx_app").toString
    graft.operators.TextOps.buildMinhashIndex(ref, path)
    val parts = spark.read.parquet(s"$path/bands")
      .select("part").distinct().collect().map(_.getInt(0)).sorted
    assert(parts.length > 1, "fixture too small to demonstrate pruning")
    val touched = Seq(parts.head)
    val base = graft.operators.TextOps.touchedBandPartitions(
      spark, path, touched)
    val p = plan(base)
    assert(p.contains("PartitionFilters") && p.contains("part#"),
      s"append base read carries no partition filter:\n$p")
    // the pruning is real, not cosmetic: executing the read touches
    // only the touched part's files
    base.collect()
    val scanned = base.queryExecution.executedPlan.collectLeaves()
      .collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.metrics("numFiles").value
      }.getOrElse(fail("no FileSourceScanExec in append base read"))
    val totalFiles = new java.io.File(s"$path/bands").listFiles()
      .filter(_.getName.startsWith("part=")).map(d =>
        d.listFiles().count(_.getName.endsWith(".parquet"))).sum
    assert(scanned < totalFiles,
      s"append base read scanned all $totalFiles index files")
    spark.catalog.clearCache()
  }

  test("bm25AgainstIndex: the postings read PRUNES to the query terms' " +
      "part directories, with the term predicate pushed to the reader") {
    import spark.implicits._
    // enough distinct vocabulary that the 8 parts are all populated
    val docs = (0L until 32L).map(i =>
      (i, (0 to 6).map(j => s"w${(i * 7 + j) % 29}").mkString(" "),
        "en", "s", 20L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val path = Files.createTempDirectory("planspec_bm25idx").toString
    graft.operators.TextOps.buildBm25Index(docs, path, nParts = 8)
    val probed = graft.operators.TextOps.termPostings(
      spark, path, Seq("w3"), nParts = 8)
    val p = plan(probed)
    assert(p.contains("PartitionFilters") && p.contains("part#"),
      s"query-time postings read carries no partition filter:\n$p")
    // a one-term bag's isin is rewritten to EqualTo by OptimizeIn —
    // accept both spellings (the r15 lesson)
    assert("PushedFilters: \\[[^\\]]*(In|EqualTo)\\(term".r
      .findFirstIn(p).nonEmpty,
      s"term predicate not pushed to the parquet reader:\n$p")
    probed.collect()
    val scanned = probed.queryExecution.executedPlan.collectLeaves()
      .collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.metrics("numFiles").value
      }.getOrElse(fail("no FileSourceScanExec in postings read"))
    val totalFiles = new java.io.File(s"$path/postings").listFiles()
      .filter(_.getName.startsWith("part=")).map(d =>
        d.listFiles().count(_.getName.endsWith(".parquet"))).sum
    assert(scanned < totalFiles,
      s"postings read scanned all $totalFiles index files — no pruning")
    // end-to-end: scoring over the pruned read returns ranked rows
    assert(graft.operators.TextOps.bm25AgainstIndex(
      spark, path, Seq("w3"), kTop = 5).count() > 0)
    spark.catalog.clearCache()
  }

  test("bm25AgainstIndex: ONE term-keyed exchange below the per-doc " +
      "aggregate serves the replay dedup and the df window — no cached " +
      "posting frame, no broadcast — and a collect runs <= 3 jobs") {
    import spark.implicits._
    val docs = (0L until 32L).map(i =>
      (i, (0 to 6).map(j => s"w${(i * 7 + j) % 29}").mkString(" "),
        "en", "s", 20L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val path = Files.createTempDirectory("planspec_bm25shape").toString
    graft.operators.TextOps.buildBm25Index(docs, path, nParts = 8)
    val q = graft.operators.TextOps.bm25AgainstIndex(
      spark, path, Seq("w3", "w11", "w20"), kTop = 5)
    val (rows, jobs) = jobsDuring(q.collect())
    assert(rows.nonEmpty)
    assert(jobs.size <= 3, s"a bm25AgainstIndex collect ran ${jobs.size} jobs")
    import org.apache.spark.sql.catalyst.expressions.Attribute
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec,
      ShuffleExchangeExec}
    def keyedOn(e: ShuffleExchangeExec) = e.outputPartitioning match {
      case h: HashPartitioning => h.expressions.collect {
        case a: Attribute => a.name }
      case _ => Nil
    }
    val all = nodes(q)
    val p = plan(q)
    val termEx = all.collect {
      case e: ShuffleExchangeExec if keyedOn(e) == Seq("term") => e }
    assert(termEx.size === 1, s"expected one term-keyed exchange:\n$p")
    val perDoc = all.collect { case a: HashAggregateExec
      if a.groupingExpressions.map(_.name) == Seq("doc_id") => a }
    assert(perDoc.nonEmpty && perDoc.forall(a =>
        Aqe.find(a)(_ eq termEx.head).nonEmpty),
      s"the term exchange is not below the per-doc aggregate:\n$p")
    assert(!all.exists(
        _.isInstanceOf[org.apache.spark.sql.execution.columnar
          .InMemoryTableScanExec]) &&
      !all.exists(_.isInstanceOf[BroadcastExchangeExec]),
      s"cached posting frame or broadcast df table is back:\n$p")
    spark.catalog.clearCache()
  }

  test("bm25BatchAgainstIndex: the replay dedup and df are windows over " +
      "the posting read — no cached posting frame, no broadcast df table") {
    import spark.implicits._
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    import org.apache.spark.sql.catalyst.expressions.Attribute
    import org.apache.spark.sql.execution.window.WindowExec
    val docs = (0L until 32L).map(i =>
      (i, (0 to 6).map(j => s"w${(i * 7 + j) % 29}").mkString(" "),
        "en", "s", 20L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val path = Files.createTempDirectory("planspec_bm25batch").toString
    graft.operators.TextOps.buildBm25Index(docs, path, nParts = 8)
    val bags = Seq((0L, Seq("w3", "w11")), (1L, Seq("w20")))
      .toDF("query_id", "terms")
    for (maxLiteral <- Seq(4096, 1)) {
      val q = graft.operators.TextOps.bm25BatchAgainstIndex(bags, path,
        kTop = 5, maxLiteralTerms = maxLiteral)
      assert(q.collect().nonEmpty)
      val all = nodes(q)
      val p = plan(q)
      // the only cached frame is the (query_id, term) bag explode
      assert(all.collect { case c: InMemoryTableScanExec => c }
          .forall(!_.output.exists(_.name == "doc_id")),
        s"cached posting frame is back (maxLiteralTerms=$maxLiteral):\n$p")
      assert(!all.exists { case b: BroadcastExchangeExec =>
          b.output.exists(_.name == "df"); case _ => false },
        s"broadcast df table is back (maxLiteralTerms=$maxLiteral):\n$p")
      assert(all.exists { case w: WindowExec =>
          w.partitionSpec.collect { case a: Attribute => a.name } == Seq("term"); case _ => false },
        s"df is not a term window over the posting read:\n$p")
    }
    spark.catalog.clearCache()
  }

  test("ivfIndexTopK: the vectors read PRUNES to the probed cells' " +
      "partition directories — the inverted-list contract") {
    import spark.implicits._
    val emb = spark.range(64).select($"id".as("vec_id"),
      transform(sequence(lit(0), lit(7)), d =>
        (cos(($"id" % 8 + 1) * (d + 1)) + 0.1f).cast("float"))
        .as("embedding"))
    val path = Files.createTempDirectory("planspec_ivfidx").toString
    graft.operators.VectorOps.buildIvfIndex(emb, path, nCentroids = 8,
      iters = 1)
    val cells = spark.read.parquet(s"$path/vectors")
      .select($"cluster".cast("long")).distinct()
      .collect().map(_.getLong(0)).sorted
    assert(cells.length > 1, "fixture too small to demonstrate pruning")
    // nParts from the manifest, not a default — readers must thread the
    // build-time value (ADVICE r15: a stale default computes wrong part
    // dirs and the part+cluster conjunction silently returns zero rows)
    val nParts = spark.read.parquet(s"$path/params")
      .head().getAs[Int]("n_parts")
    val probed = graft.operators.VectorOps.touchedCells(
      spark, path, Seq(cells.head), nParts = nParts)
    val p = plan(probed)
    // two pruning layers (r15 layout): the part key prunes DIRECTORIES
    // via PartitionFilters, and the cell predicate is PUSHED to the
    // parquet reader where the build-time sort gives row-group skips
    assert(p.contains("PartitionFilters") && p.contains("part#"),
      s"probe-time vectors read carries no partition filter:\n$p")
    assert("PushedFilters: \\[[^\\]]*(In|EqualTo)\\(cluster".r.findFirstIn(p).nonEmpty,
      s"cluster predicate not pushed to the parquet reader:\n$p")
    probed.collect()
    val scanned = probed.queryExecution.executedPlan.collectLeaves()
      .collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.metrics("numFiles").value
      }.getOrElse(fail("no FileSourceScanExec in probe read"))
    val totalFiles = new java.io.File(s"$path/vectors").listFiles()
      .filter(_.getName.startsWith("part=")).map(d =>
        d.listFiles().count(_.getName.endsWith(".parquet"))).sum
    assert(scanned < totalFiles,
      s"probe read scanned all $totalFiles index files — no pruning")
    // end-to-end: the operator over one probe returns rows while
    // reading only that probe's cell (certified above)
    assert(graft.operators.VectorOps.ivfIndexTopK(
      emb.filter($"vec_id" < 2), path, k = 3).count() > 0)
    spark.catalog.clearCache()
  }

  test("semanticContamination: eval broadcasts, the pair matrix never " +
      "shuffles — only per-doc argmax partials cross the wire") {
    val emb = spark.read.parquet(
      "/root/testdata/sf0.001/embeddings.parquet")
    val p = plan(graft.operators.VectorOps.semanticContamination(
      emb.filter(col("vec_id") % 10 =!= 0),
      emb.filter(col("vec_id") % 10 === 0), threshold = 0.4))
    assert("BroadcastExchange".r.findAllIn(p).nonEmpty,
      s"eval side stopped broadcasting:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"the eval side sort-merged or carteses against the corpus:\n$p")
    assert(p.contains("partial_max"),
      s"per-doc argmax lost its map-side partial:\n$p")
  }

  test("ivfIndexStats: the index scan reads ONLY the cluster column — " +
      "the monitor never pays for embedding bytes") {
    import spark.implicits._
    val emb = spark.range(64).select($"id".as("vec_id"),
      transform(sequence(lit(0), lit(7)), d =>
        (cos(($"id" % 8 + 1) * (d + 1)) + 0.1f).cast("float"))
        .as("embedding"))
    val path = Files.createTempDirectory("planspec_ivfstats").toString
    graft.operators.VectorOps.buildIvfIndex(emb, path, nCentroids = 8,
      iters = 1)
    val p = plan(graft.operators.VectorOps.ivfIndexStats(spark, path))
    val vecScans = "ReadSchema: struct<[^>\n]*>".r.findAllIn(p).toSeq
      .filter(_.contains("cluster"))
    assert(vecScans.nonEmpty, s"no cluster scan in the stats plan:\n$p")
    vecScans.foreach(rs => assert(!rs.contains("embedding"),
      s"the monitor reads embedding bytes: $rs"))
    spark.catalog.clearCache()
  }

  test("ivfIndexTopK: the DEFAULT read keeps the PARTIAL " +
      "WindowGroupLimit below the rank exchange (k-bounded shuffle), " +
      "and absorbReplays adds its lag dedup with the same exchange " +
      "count (SCALE.md lesson 17)") {
    import spark.implicits._
    val emb = spark.range(64).select($"id".as("vec_id"),
      transform(sequence(lit(0), lit(7)), d =>
        (cos(($"id" % 8 + 1) * (d + 1)) + 0.1f).cast("float"))
        .as("embedding"))
    val path = Files.createTempDirectory("planspec_ivfwgl").toString
    graft.operators.VectorOps.buildIvfIndex(emb, path, nCentroids = 8,
      iters = 1)
    def planOf(absorb: Boolean) = {
      val q = graft.operators.VectorOps.ivfIndexTopK(
        emb.filter($"vec_id" < 4), path, k = 3, nProbe = 2,
        absorbReplays = absorb)
      q.collect()
      q.queryExecution.executedPlan.toString
    }
    val pDefault = planOf(absorb = false)
    val pAbsorb = planOf(absorb = true)
    // the default plan ships ~top-k rows per probe per map partition:
    // the optimizer's Partial WindowGroupLimit must sit below the rank
    // exchange (the r17 always-on dedup silently forfeited it — bytes
    // grew 10x even at sf0.1; at production probe batches the k-bound
    // vs every-scored-pair gap is the scale story)
    assert("WindowGroupLimit.*Partial".r.findFirstIn(pDefault).nonEmpty,
      s"default probe read lost its partial window limit:\n$pDefault")
    // the opt-in dedup trades ONLY that partial limit — never an
    // extra exchange (the lag window shares the rank partitioning)
    assert("Exchange".r.findAllIn(pDefault).size ===
      "Exchange".r.findAllIn(pAbsorb).size,
      "absorbReplays added an exchange — the dedup stopped riding " +
        "the rank window")
    spark.catalog.clearCache()
  }

  test("ivfIndexTopK: probe plan size is CONSTANT in nCentroids — the " +
      "codebook rides a broadcast table, not the expression tree") {
    import spark.implicits._
    val emb = spark.range(256).select($"id".as("vec_id"),
      transform(sequence(lit(0), lit(7)), d =>
        (cos(($"id" % 16 + 1) * (d + 1)) + 0.1f).cast("float"))
        .as("embedding"))
    // total expression-node count of the optimized plan: with the
    // pre-r15 literal array(struct(...)) of all cells this grew
    // linearly in nCentroids (VERDICT r14 #2 — the plan itself became
    // the bottleneck at production cell counts); the join path holds
    // it constant. The only admissible drift is the touched-cell isin
    // list, bounded by nProbe x probes (2 here), never by nCentroids.
    def exprNodes(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.optimizedPlan.collect { case p =>
        p.expressions.map(e => e.collect { case _ => 1 }.sum).sum
      }.sum
    def sizeAt(nc: Int): Int = {
      val path = Files.createTempDirectory(s"planspec_ivfconst$nc").toString
      graft.operators.VectorOps.buildIvfIndex(emb, path, nCentroids = nc,
        iters = 1)
      val q = graft.operators.VectorOps.ivfIndexTopK(
        emb.filter($"vec_id" < 2), path, k = 3)
      val n = exprNodes(q)
      spark.catalog.clearCache()
      n
    }
    val small = sizeAt(8)
    val big = sizeAt(64)
    assert(math.abs(big - small) <= 8,
      s"probe plan grew with nCentroids: $small expr nodes at 8 cells " +
        s"vs $big at 64 — the codebook is back in the plan")
  }

  test("ivfPqIndexTopK: the codes read PRUNES to the probed cells' " +
      "partition directories — the shared touchedCells pin") {
    import spark.implicits._
    val emb = spark.range(64).select($"id".as("vec_id"),
      transform(sequence(lit(0), lit(7)), d =>
        (cos(($"id" % 8 + 1) * (d + 1)) + 0.1f).cast("float"))
        .as("embedding"))
    val path = Files.createTempDirectory("planspec_ivfpqidx").toString
    graft.operators.VectorOps.buildIvfPqIndex(emb, path, m = 4,
      kCent = 8, nCentroids = 8)
    val cells = spark.read.parquet(s"$path/codes")
      .select($"cluster".cast("long")).distinct()
      .collect().map(_.getLong(0)).sorted
    assert(cells.length > 1, "fixture too small to demonstrate pruning")
    val nParts = spark.read.parquet(s"$path/pq_book")
      .head().getAs[Int]("n_parts")
    val probed = graft.operators.VectorOps.touchedCells(
      spark, path, Seq(cells.head), sub = "codes", nParts = nParts)
    val p = plan(probed)
    assert(p.contains("PartitionFilters") && p.contains("part#"),
      s"probe-time codes read carries no partition filter:\n$p")
    assert("PushedFilters: \\[[^\\]]*(In|EqualTo)\\(cluster".r.findFirstIn(p).nonEmpty,
      s"cluster predicate not pushed to the parquet reader:\n$p")
    probed.collect()
    val scanned = probed.queryExecution.executedPlan.collectLeaves()
      .collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.metrics("numFiles").value
      }.getOrElse(fail("no FileSourceScanExec in codes read"))
    val totalFiles = new java.io.File(s"$path/codes").listFiles()
      .filter(_.getName.startsWith("part=")).map(d =>
        d.listFiles().count(_.getName.endsWith(".parquet"))).sum
    assert(scanned < totalFiles,
      s"codes read scanned all $totalFiles index files — no pruning")
    spark.catalog.clearCache()
  }

  test("stitchRefine: edges come from stack+adjacent-cell equi-joins — " +
      "no cartesian over tiles") {
    import spark.implicits._
    val tiles = (for (r <- 0 to 1; c <- 0 to 1) yield
      ("i", 0, 0, 0, r, c, 4, 4, (0 until 16).toVector))
      .toDF("image_id", "t", "c", "z", "row", "col", "size_x", "size_y",
        "pixels")
    val p = plan(graft.operators.OmeOps.stitchRefine(tiles, overlap = 2))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"stitchRefine edge join regressed to a product:\n$p")
  }

  test("profileColumns prunes the scan to the profiled columns and " +
      "shuffles only aggregates") {
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val p = plan(graft.operators.ProfileOps.profileColumns(li,
      Seq("l_returnflag", "l_quantity")))
    val readSchema = "ReadSchema: [^\n]+".r.findFirstIn(p)
      .getOrElse(fail("no ReadSchema in plan"))
    assert(readSchema.contains("l_returnflag") &&
      readSchema.contains("l_quantity") &&
      !readSchema.contains("l_extendedprice"),
      s"scan not pruned to profiled columns: $readSchema")
    // two exchanges: (col, value) agg and the per-column rollup — both
    // fed by partial HashAggregates, never raw melted rows
    val shuffles = "Exchange".r.findAllIn(p).length -
      "BroadcastExchange".r.findAllIn(p).length
    assert(shuffles === 2, s"expected 2 aggregate shuffles, got $shuffles:\n$p")
  }

  test("augmentPlanes and segmentObjects never shuffle") {
    import spark.implicits._
    val planes = (0 until 8).map(i =>
      (s"img-$i", 0, 0, 0, 4, 4, Seq.tabulate(16)(j => (i + j) % 7)))
      .toDF("image_id", "t", "c", "z", "size_x", "size_y", "pixels")
    val pAug = plan(graft.operators.OmeOps.augmentPlanes(planes,
      Seq("hflip", "rot90")))
    assert(!pAug.contains("Exchange"),
      s"augmentPlanes shuffled:\n$pAug")
    assert(pAug.contains("Union"), s"expected a per-mode union:\n$pAug")
    val pSeg = plan(graft.operators.OmeOps.segmentObjects(planes,
      transform(col("pixels"), v => when(v > 3, lit(1)).otherwise(lit(0)))))
    assert(!pSeg.contains("Exchange"),
      s"segmentObjects shuffled:\n$pSeg")
  }

  test("pit_features and basket_rules never fall back to a " +
      "nested-loop product") {
    // basket_rules legitimately crosses against the 1-row basket-total
    // broadcast (the repo's totals idiom); anything beyond that single
    // Cross — or any CartesianProduct — is a fan-out regression
    for (q <- Seq("pit_features", "basket_rules")) {
      val p = plan(SparkEntry.queries(q)(spark, "/root/testdata/sf0.001"))
      assert(!p.contains("CartesianProduct"),
        s"$q fell back to a cartesian product:\n$p")
      val bnl = "BroadcastNestedLoopJoin".r.findAllIn(p).length
      assert(bnl <= 1, s"$q has $bnl nested-loop joins:\n$p")
      if (bnl == 1)
        assert(p.contains("BuildRight, Cross"),
          s"$q's nested-loop join is not the 1-row totals cross:\n$p")
    }
  }

  test("q_running_revenue windows are nation-partitioned and dims " +
      "broadcast") {
    val p = plan(SparkEntry.queries("q_running_revenue")(
      spark, "/root/testdata/sf0.001"))
    val bcasts = "BroadcastExchange".r.findAllIn(p).length
    val shuffles = "Exchange".r.findAllIn(p).length - bcasts
    assert(bcasts >= 2, s"dims not broadcast:\n$p")
    // one group-by exchange + one nation re-partition for the windows;
    // a global (unpartitioned) window would add the single-partition
    // funnel this pin guards against
    assert(shuffles <= 2, s"too many shuffles: $shuffles\n$p")
    assert(!p.contains("SinglePartition"),
      s"a global single-partition stage appeared:\n$p")
  }

  test("entityPairs joins on the block key, never a nested-loop product") {
    val part = spark.read.parquet("/root/testdata/sf0.001/part.parquet")
    val p = plan(graft.operators.ProfileOps.entityPairs(
      part, "p_name", 3, 200))
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      s"entityPairs fell back to a nested-loop product:\n$p")
  }

  test("domainCap: totals joins broadcast by OPTIMIZER CHOICE (no " +
      "forced hint — r10 verdict: |domains| is corpus-scale); only the " +
      "over-cap branch windows, nothing funnels to a single partition") {
    val p = plan(SparkEntry.queries("domain_cap_sample")(
      spark, "/root/testdata/sf0.001"))
    val bcasts = "BroadcastExchange".r.findAllIn(p).length
    val shuffles = "Exchange".r.findAllIn(p).length - bcasts
    // at this SF the stats-based planner still broadcasts the tiny
    // totals frame on its own; at web scale the same code degrades
    // gracefully to a shuffle join instead of a forced multi-GB
    // broadcast (the operator no longer hints)
    assert(bcasts >= 2, s"domain totals not broadcast:\n$p")
    // totals aggregation + the over-cap rank window (+1 AQE variance);
    // a plan that windows BOTH branches would add more
    assert(shuffles <= 3, s"too many shuffles: $shuffles\n$p")
    assert(!p.contains("SinglePartition"),
      s"a global single-partition stage appeared:\n$p")
  }

  test("bucketed co-located join: the sort-merge join plans with zero " +
      "exchanges — only the final rollup shuffles") {
    val p = plan(SparkEntry.queries("q_bucketed_join")(
      spark, "/root/testdata/sf0.001"))
    assert(p.contains("SortMergeJoin"),
      s"bucketed join must stay a sort-merge join:\n$p")
    val bcasts = "BroadcastExchange".r.findAllIn(p).length
    val shuffles = "Exchange".r.findAllIn(p).length - bcasts
    assert(shuffles === 1,
      s"bucketing must elide the join exchanges (want only the final " +
        s"aggregation shuffle): $shuffles\n$p")
  }

  test("bucketed plane table: nestPlanes re-aggregates per image with " +
      "ZERO exchanges off the bucketed scan") {
    graft.operators.LayoutOps.writePlanesBucketed(
      OmeOps.explodePlanes(Fixtures.mixedCorpus(spark)),
      "graft_b_planes_plan", "/tmp/graft_bucketed/planes_plan", 8)
    val p = plan(OmeOps.nestPlanes(spark.table("graft_b_planes_plan")))
    val bcasts = "BroadcastExchange".r.findAllIn(p).length
    val shuffles = "Exchange".r.findAllIn(p).length - bcasts
    assert(shuffles === 0,
      s"bucketed nest groupBy must reuse the bucket partitioning " +
        s"(no exchange), got $shuffles:\n$p")
    assert(p.contains("SelectedBucketsCount") || p.contains("Bucketed: true"),
      s"scan did not report the bucketed layout:\n$p")
  }

  test("bitextMarginAnn: candidates come from the cluster equi-join — " +
      "no cartesian/BNLJ anywhere in the ANN margin plan") {
    val p = plan(SparkEntry.queries("bitext_margin_ann")(
      spark, "/root/testdata/sf0.001"))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"ANN margin fell back to an all-pairs product:\n$p")
  }

  test("banded perceptualHashPairs: candidates come from the " +
      "(t,c,z,band,chunk) equi-join — never a nested-loop product") {
    val p = plan(SparkEntry.queries("ome_phash_pairs")(
      spark, "/root/testdata/sf0.001"))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"banded phash fell back to an all-pairs product:\n$p")
    spark.catalog.clearCache() // hashed frame persisted by the op
  }

  test("sampleTokenBudget: one stratum-keyed window, no global " +
      "single-partition sort") {
    val p = plan(SparkEntry.queries("sample_token_budget")(
      spark, "/root/testdata/sf0.001"))
    assert(!p.contains("SinglePartition"),
      s"budget carve funneled to a single partition:\n$p")
    val bcasts = "BroadcastExchange".r.findAllIn(p).length
    val shuffles = "Exchange".r.findAllIn(p).length - bcasts
    assert(shuffles <= 1, s"expected only the stratum window shuffle: " +
      s"$shuffles\n$p")
  }

  test("clusterBestKeeper: the rank window partitions by cluster — " +
      "no global window, no nested-loop join") {
    val docs = spark.read.parquet(
      "/root/testdata/sf0.001/documents.parquet")
    val clusters = graft.operators.TextOps.nearDupClustersMinhash(docs)
    val p = plan(graft.operators.TextOps.clusterBestKeeper(
      docs, clusters, col("n_chars")))
    assert(!p.contains("SinglePartition"),
      s"keeper selection funneled to a single partition:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"membership join fell back to a product:\n$p")
    spark.catalog.clearCache() // CC pair frame persisted upstream
  }

  test("hardNegatives keeps cosineTopK's shape: probes broadcast, one " +
      "shuffle (the probe-partitioned rank), label filter inside the " +
      "join") {
    val p = plan(SparkEntry.queries("hard_negatives")(
      spark, "/root/testdata/sf0.001"))
    val bcasts = "BroadcastExchange".r.findAllIn(p).length
    val shuffles = "Exchange".r.findAllIn(p).length - bcasts
    assert(bcasts === 1, s"probe side must broadcast, got $bcasts:\n$p")
    assert(shuffles === 1, s"expected only the rank shuffle: $shuffles\n$p")
    assert(!p.contains("CartesianProduct"),
      s"label inequality fell out of the join:\n$p")
  }

  test("every kernel-call expression projects inside whole-stage codegen") {
    graft.functions.ensureRegistered(spark)
    // columns derive from `id`, so constant folding cannot remove a call
    val base = spark.range(4).select(
      array(col("id").cast("int"), lit(1), lit(2), lit(3)).as("px"),
      (col("id") + 2).cast("int").as("w"), col("id").as("l"),
      array(col("id"), lit(1L)).as("lv"), col("id").cast("string").as("s"),
      array(struct(lit(0).as("z"), array(col("id").cast("int"))
        .as("pixels"))).as("st"),
      array(col("id").cast("string")).as("toks"))
    def wholeStage(call: String): Boolean = """\*\(\d+\) Project""".r
      .findFirstIn(plan(base.selectExpr(call))).nonEmpty
    for (call <- Seq("graft_pixel_crop(px, w, 0, 1, 0, 1)",
        "graft_pixel_sum(px)", "graft_pixel_count_ge(px, w)",
        "graft_synth_ramp(l, w)", "graft_block_mean_2x(px, w, w)",
        "graft_pixel_brenner(px, w)", "graft_pixel_dot(px, px)",
        "graft_pixel_permute(px, w, w, 'hflip')", "graft_cc_objects(px, w)",
        "graft_glcm_moments(px, w, 8, 256)",
        "graft_cc_objects_intensity(px, px, w)",
        "graft_pixel_stretch(px, 2, 98)", "graft_pixel_shift(px, w, w, w)",
        "graft_pixel_equalize(px, 256)", "graft_pixel_rank_map(px, px)",
        "graft_focus_stack(st, w)", "graft_micro_l2(lv, lv)", "graft_nfc(s)",
        "graft_zvalue(l, l, 16)"))
      assert(wholeStage(call), s"$call left whole-stage codegen")
    // the pin can fail: a CodegenFallback projection is planned outside
    assert(!wholeStage("graft_simhash64(toks)"))
  }
}
