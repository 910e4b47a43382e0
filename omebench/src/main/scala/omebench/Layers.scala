package omebench

/**
 * The per-layer split reported by a traced run. Every workload reports
 * every name; a layer the workload does not exercise reads 0. METRICS.md
 * lists, for each name, the end-to-end metric and workload it should move.
 */
object Layers {

  /** The `ome` workload's query kinds, one per OmeOps entry point timed. */
  val QueryKinds = Seq("describe", "slice", "crop_planes", "plane_stats",
    "histogram", "project_z", "downscale2x", "colocalization",
    "focus_report", "treatment_stats")

  val LookupKinds = Seq("lookup_bm25", "lookup_ivf")

  /** Every per-layer metric name with its unit, in report order. */
  val Names: Seq[(String, String)] = Seq(
    "sources.tiff_decode_s" -> "s", "sources.zarr_decode_s" -> "s",
    "sources.tiff_encode_s" -> "s", "sources.zarr_encode_s" -> "s",
    "sources.parquet_write_s" -> "s", "sources.tasks" -> "count",
    "sources.input_mb" -> "MB", "sources.parquet_read_mb_per_query" -> "MB") ++
    QueryKinds.map(k => s"ome_query.${k}_s" -> "s") ++ Seq(
    "text.dedup_exact_s" -> "s", "text.minhash_pairs_s" -> "s",
    "text.ngram_exact_s" -> "s", "text.clusters_star_s" -> "s",
    "text.contamination_s" -> "s",
    "index.build_s" -> "s", "index.append_s" -> "s", "index.rebuild_s" -> "s",
    "index.lookup_s" -> "s", "index.bytes_read_per_lookup_mb" -> "MB",
    "caches.storage_peak_mb" -> "MB", "caches.rdds_left_after_scope" -> "count",
    "streaming.batches" -> "count", "streaming.batch_p50_s" -> "s",
    "streaming.rows_per_s" -> "rows/s",
    "catalyst.planning_s" -> "s", "catalyst.planning_share" -> "ratio",
    "catalyst.shj_joins" -> "count",
    "scheduler.jobs" -> "count", "scheduler.tasks" -> "count",
    "scheduler.driver_idle_s" -> "s",
    "executor.run_s" -> "s", "executor.cpu_s" -> "s", "executor.gc_s" -> "s",
    "executor.busy_frac" -> "ratio",
    "shuffle.write_mb" -> "MB", "shuffle.write_s" -> "s",
    "shuffle.fetch_wait_s" -> "s", "shuffle.spill_mb" -> "MB",
    "trace.pass_s" -> "s", "trace.spans" -> "count")

  val Cores = 4

  def compute(samples: Seq[Sample], t: Tracer, median: String => Double,
      perPass: (Sample => Double) => Double, passS: Double,
      spans: Int): Map[String, (Double, String)] = {
    val stats = samples.map(s => s -> t.stats(s)).toMap
    def pp(f: CallStats => Double, layer: Option[String] = None): Double =
      perPass(s => if (layer.forall(_ == s.layer)) f(stats(s)) else 0.0)
    def med(kinds: Seq[String], f: Sample => Double): Double =
      Stats.median(samples.filter(s => kinds.contains(s.kind)).map(f))
    val streamCalls = samples.filter(_.kind == "index_ingest_stream")
    val batches = streamCalls.flatMap(t.batches)
    val values: Map[String, Double] = Map(
      "sources.tiff_decode_s" -> median("tiff_decode"),
      "sources.zarr_decode_s" -> median("zarr_decode"),
      "sources.tiff_encode_s" -> median("tiff_export"),
      "sources.zarr_encode_s" -> median("zarr_export"),
      // the TIFF ingest minus the same scan into the `noop` sink: the
      // Parquet encode, file writes and OME footer stamping
      "sources.parquet_write_s" ->
        (median("tiff_ingest") - median("tiff_scan")),
      "sources.tasks" -> pp(_.tasks.toDouble, Some("sources")),
      "sources.input_mb" -> pp(_.inputMb, Some("sources")),
      "sources.parquet_read_mb_per_query" ->
        med(QueryKinds.map("q." + _), s => stats(s).inputMb),
      "text.dedup_exact_s" -> median("dedup_exact"),
      "text.minhash_pairs_s" -> median("minhash_pairs"),
      "text.ngram_exact_s" -> median("ngram_exact"),
      "text.clusters_star_s" -> median("clusters_star"),
      "text.contamination_s" -> median("contamination"),
      "index.build_s" -> (median("index_build_minhash") +
        median("index_build_bm25")),
      "index.append_s" -> median("index_ingest_stream"),
      "index.rebuild_s" -> median("index_rebuild"),
      "index.lookup_s" -> med(LookupKinds, _.wallS),
      "index.bytes_read_per_lookup_mb" -> med(LookupKinds, s => stats(s).inputMb),
      "caches.storage_peak_mb" -> t.storagePeakBytes / 1e6,
      "caches.rdds_left_after_scope" ->
        (if (samples.isEmpty) 0.0 else samples.map(_.leftover).max.toDouble),
      "streaming.batches" ->
        Stats.median(streamCalls.map(s => t.batches(s).size.toDouble)),
      "streaming.batch_p50_s" -> Stats.median(batches.map(_._2)),
      "streaming.rows_per_s" ->
        (if (batches.isEmpty) 0.0 else batches.map(_._3).sum / batches.map(_._2).sum),
      "catalyst.planning_s" -> pp(_.planningS),
      "catalyst.planning_share" -> pp(_.planningS) / passS,
      "catalyst.shj_joins" -> pp(_.shj.toDouble),
      "scheduler.jobs" -> pp(_.jobs.toDouble),
      "scheduler.tasks" -> pp(_.tasks.toDouble),
      "scheduler.driver_idle_s" -> pp(_.idleS),
      "executor.run_s" -> pp(_.runS),
      "executor.cpu_s" -> pp(_.cpuS),
      "executor.gc_s" -> pp(_.gcS),
      "executor.busy_frac" -> pp(_.runS) / (passS * Cores),
      "shuffle.write_mb" -> pp(_.shuffleWriteMb),
      "shuffle.write_s" -> pp(_.shuffleWriteS),
      "shuffle.fetch_wait_s" -> pp(_.fetchWaitS),
      "shuffle.spill_mb" -> pp(_.spillMb),
      "trace.pass_s" -> passS,
      "trace.spans" -> spans.toDouble) ++
      QueryKinds.map(k => s"ome_query.${k}_s" -> median(s"q.$k"))
    Names.map { case (n, u) => n -> (values(n) -> u) }.toMap
  }
}
