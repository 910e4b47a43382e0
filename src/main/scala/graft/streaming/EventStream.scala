package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Streaming analytics over the events feed: watermarked, windowed
 * aggregation — the Structured Streaming counterpart of
 * `EventOps.dailyRollup`. Late events beyond the watermark are dropped;
 * state is bounded by (watermark horizon / window size) windows per
 * event_type.
 */
object EventStream {

  /** Explicit schema (streaming file sources cannot infer), with the
    * timestamp read as a raw int64 whatever its unit — a declared
    * LongType reads the payload of an int64 `ts` column annotated with
    * any unit, or none. [[tsUnitNanos]] says which unit. */
  val eventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType), // raw int64: epoch nanos OR epoch µs
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Nanoseconds per raw `ts` unit in the dir's events parquet. The
    * testdata generation has stored ts both as epoch-nanos int64 and as
    * `timestamp[us]` (whose raw int64 the forced-long [[eventsSchema]]
    * reads as epoch-µs); the parquet footer's logical-type annotation
    * is the authoritative unit (ms/µs/ns all normalize —
    * `EventOps.tsUnitNanosOf`), probed once at plan-build time, so
    * every generation stays green. */
  private[graft] def tsUnitNanos(spark: SparkSession, dir: String): Long =
    graft.operators.EventOps.tsUnitNanosOf(spark, s"$dir/events.parquet")

  /** Event-time from the raw `ts` int64: scale to nanos (integer-exact,
    * timezone-free), truncate to the µs Spark timestamps carry. */
  private def eventTs(nsPerUnit: Long): org.apache.spark.sql.Column =
    timestamp_micros(expr(s"(ts * ${nsPerUnit}L) div 1000"))

  /**
   * Watermarked per-(window, event_type) rollup of an events directory
   * treated as a stream. `windowLength` e.g. "6 hours"; `lateness` is the
   * watermark horizon for late data.
   */
  def windowedRollup(spark: SparkSession, dir: String,
      windowLength: String = "6 hours",
      lateness: String = "1 hour"): DataFrame = {
    spark.readStream
      .schema(eventsSchema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir)
      .withColumn("event_ts", eventTs(tsUnitNanos(spark, dir)))
      .withWatermark("event_ts", lateness)
      .groupBy(window(col("event_ts"), windowLength), col("event_type"))
      .agg(count(lit(1)).cast("long").as("n_events"),
        round(sum(col("value")), 2).as("value_sum"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("value_sum"))
  }

  /**
   * STREAM-STREAM interval join — the attribution query every event
   * pipeline ships (which purchases followed a click by the same user
   * within `maxDelay`?), and the one streaming operator class the
   * single-stream surface (rollup/dedup/decontam) cannot express. Both
   * sides are watermarked views of the events feed; the time-range
   * predicate (`purchase_ts` in `[click_ts, click_ts + maxDelay]`) is
   * what lets Spark BOUND the join state: a click's state is evictable
   * once the watermark passes `click_ts + maxDelay`, a purchase's once
   * it passes `purchase_ts` — without the range, state grows forever.
   *
   * Scale shape: state per key is (events in the delay horizon) per
   * user, not history; the join shuffles both sides once on `user_id`.
   */
  def attributionJoinStream(spark: SparkSession, dir: String,
      maxDelay: String = "2 hours",
      lateness: String = "1 hour"): DataFrame = {
    val events = spark.readStream
      .schema(eventsSchema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir)
      .withColumn("event_ts", eventTs(tsUnitNanos(spark, dir)))
    val clicks = events.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"),
        col("user_id"), col("event_ts").as("click_ts"))
      .withWatermark("click_ts", lateness)
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"),
        col("user_id").as("p_user_id"), col("event_ts").as("purchase_ts"),
        col("value").as("purchase_value"))
      .withWatermark("purchase_ts", lateness)
    clicks.join(purchases,
      col("user_id") === col("p_user_id") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr(s"interval $maxDelay"))
      .select(col("user_id"), col("click_id"), col("purchase_id"),
        (col("purchase_ts").cast("long") - col("click_ts").cast("long"))
          .as("delay_sec"),
        round(col("purchase_value"), 2).as("purchase_value"))
  }

  /**
   * Structural check of [[attributionJoinStream]] against the identical
   * batch join — the all-zeros-invariants pattern ([[rollupCheck]]).
   * An INNER stream-stream join over a fully-drained finite feed must
   * emit exactly the batch pair set: `phantom_pair` counts streamed
   * pairs the batch join does not contain, `missing_pair` batch pairs
   * the stream never emitted, `empty_stream` guards vacuous zeros.
   * (The testdata feed is one parquet file → one microbatch, so no
   * pair can be lost to cross-batch watermark eviction; a multi-file
   * unordered feed could legitimately drop late rows.)
   */
  def attributionCheck(spark: SparkSession, dir: String,
      maxDelay: String = "2 hours", lateness: String = "1 hour",
      timeoutMs: Long = 300000L): DataFrame = {
    val streamed = StreamDrain.once(spark, "graft_stream_attrib_check",
        s"$dir|$maxDelay|$lateness", timeoutMs,
        Seq(s"$dir/events.parquet"))(
      attributionJoinStream(spark, dir, maxDelay, lateness))
      .select(col("click_id"), col("purchase_id"),
        col("delay_sec").as("delay_s"))
    val events = spark.read.schema(eventsSchema)
      .option("pathGlobFilter", "events.parquet").parquet(dir)
      .withColumn("event_ts", eventTs(tsUnitNanos(spark, dir)))
    val bClicks = events.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("event_ts").as("click_ts"))
    val bPurch = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"),
        col("user_id").as("p_user_id"), col("event_ts").as("purchase_ts"))
    val batch = bClicks.join(bPurch,
        col("user_id") === col("p_user_id") &&
          col("purchase_ts") >= col("click_ts") &&
          col("purchase_ts") <= col("click_ts") + expr(s"interval $maxDelay"))
      .select(col("click_id"), col("purchase_id"),
        (col("purchase_ts").cast("long") - col("click_ts").cast("long"))
          .as("delay_b"))
    batch.join(streamed, Seq("click_id", "purchase_id"), "full_outer")
      .agg(
        coalesce(sum(when(col("delay_b").isNull, 1L).otherwise(0L)), lit(0L))
          .cast("long").as("phantom_pair"),
        coalesce(sum(when(col("delay_s").isNull, 1L).otherwise(0L)), lit(0L))
          .cast("long").as("missing_pair"),
        coalesce(sum(when(col("delay_b").isNotNull && col("delay_s").isNotNull
          && col("delay_b") =!= col("delay_s"), 1L).otherwise(0L)), lit(0L))
          .cast("long").as("bad_delay"))
      .crossJoin(broadcast(streamed.agg(
        (count(lit(1)) === 0).cast("long").as("empty_stream"))))
  }

  /**
   * Structural self-check of the streaming rollup against the batch
   * computation, shaped for an external oracle that cannot run a Spark
   * stream: RUNS [[windowedRollup]] to completion (AvailableNow trigger,
   * memory sink), recomputes the same windows in batch, and returns ONE
   * row of violation counts that must all be zero for any correct
   * streaming execution — the same all-zeros-invariants pattern as the
   * trained-IVF check. Append mode only emits a window once the
   * watermark passes its END, so the batch comparison set is the windows
   * with `window_end <= max(event_ts) - lateness` (the stream's final
   * watermark); the still-open tail windows are legitimately absent.
   *
   * Violations counted:
   *  - `missing_window` closed batch windows the stream never emitted;
   *  - `extra_window`   emitted rows with no closed batch counterpart
   *                     (phantom or emitted-before-close);
   *  - `bad_count`      emitted n_events differing from batch;
   *  - `bad_sum`        emitted value_sum differing from batch (2dp);
   *  - `empty_stream`   1 when nothing was emitted at all — guards the
   *                     other zeros from passing vacuously.
   */
  def rollupCheck(spark: SparkSession, dir: String,
      windowLength: String = "6 hours", lateness: String = "1 hour",
      timeoutMs: Long = 300000L): DataFrame = {
    val streamed = StreamDrain.once(spark, "graft_stream_rollup_check",
        s"$dir|$windowLength|$lateness", timeoutMs,
        Seq(s"$dir/events.parquet"))(
      windowedRollup(spark, dir, windowLength, lateness))
      .select(col("window_start"), col("event_type"),
        col("n_events").as("n_s"), col("value_sum").as("sum_s"))
    val events = spark.read.schema(eventsSchema)
      .option("pathGlobFilter", "events.parquet").parquet(dir)
      .withColumn("event_ts", eventTs(tsUnitNanos(spark, dir)))
    val batch = events
      .groupBy(window(col("event_ts"), windowLength), col("event_type"))
      .agg(count(lit(1)).cast("long").as("n_b"),
        round(sum(col("value")), 2).as("sum_b"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"), col("event_type"),
        col("n_b"), col("sum_b"))
    // the stream's final watermark (1-row broadcast, no driver collect)
    val wm = broadcast(events.agg(
      (max(col("event_ts")) - expr(s"interval $lateness")).as("wm")))
    val closed = batch.crossJoin(wm)
      .filter(col("window_end") <= col("wm"))
      .select(col("window_start"), col("event_type"), col("n_b"),
        col("sum_b"))
    closed.join(streamed, Seq("window_start", "event_type"), "full_outer")
      .agg(
        coalesce(sum(when(col("n_s").isNull, 1L).otherwise(0L)), lit(0L))
          .cast("long").as("missing_window"),
        coalesce(sum(when(col("n_b").isNull, 1L).otherwise(0L)), lit(0L))
          .cast("long").as("extra_window"),
        coalesce(sum(when(col("n_b").isNotNull && col("n_s").isNotNull &&
          col("n_b") =!= col("n_s"), 1L).otherwise(0L)), lit(0L))
          .cast("long").as("bad_count"),
        coalesce(sum(when(col("sum_b").isNotNull && col("sum_s").isNotNull &&
          col("sum_b") =!= col("sum_s"), 1L).otherwise(0L)), lit(0L))
          .cast("long").as("bad_sum"))
      .crossJoin(broadcast(streamed.agg(
        (count(lit(1)) === 0).cast("long").as("empty_stream"))))
  }

  /**
   * STREAMING sessionization — the live counterpart of
   * `EventOps.sessionize`, via Spark's native `session_window` (the
   * dynamic-gap merging session state the state store implements
   * directly; no hand-rolled `flatMapGroupsWithState` needed). A
   * session closes — and, in append mode, is emitted exactly once —
   * when the watermark passes its end (`last event + gap`). State per
   * (user, open session) is one merged window + its aggregates,
   * evicted at emission: bounded by active users in the gap+lateness
   * horizon, never by history.
   */
  def sessionStream(spark: SparkSession, dir: String,
      gapMinutes: Int = 30, lateness: String = "1 hour"): DataFrame = {
    spark.readStream
      .schema(eventsSchema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir)
      .withColumn("event_ts", eventTs(tsUnitNanos(spark, dir)))
      .withWatermark("event_ts", lateness)
      .groupBy(session_window(col("event_ts"), s"$gapMinutes minutes"),
        col("user_id"))
      .agg(count(lit(1)).cast("long").as("n_events"),
        round(sum(col("value")), 2).as("value_sum"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"), col("value_sum"))
  }

  /**
   * Structural check of [[sessionStream]] against the batch gap-split
   * ([[rollupCheck]]'s all-zeros-invariants pattern): drains the
   * stream, re-derives sessions in batch via the lag-gap cumulative
   * split (the `EventOps.sessionize` construction), and compares the
   * CLOSED sessions — those whose `last event + gap` the final
   * watermark passed; open tails are legitimately absent from append
   * output. `session_end` must equal `last event + gap` exactly.
   */
  def sessionCheck(spark: SparkSession, dir: String,
      gapMinutes: Int = 30, lateness: String = "1 hour",
      timeoutMs: Long = 300000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val streamed = StreamDrain.once(spark, "graft_stream_session_check",
        s"$dir|$gapMinutes|$lateness", timeoutMs,
        Seq(s"$dir/events.parquet"))(
      sessionStream(spark, dir, gapMinutes, lateness))
      .select(col("session_start"), col("session_end"), col("user_id"),
        col("n_events").as("n_s"), col("value_sum").as("sum_s"))
    val events = spark.read.schema(eventsSchema)
      .option("pathGlobFilter", "events.parquet").parquet(dir)
      .withColumn("event_ts", eventTs(tsUnitNanos(spark, dir)))
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("event_ts").asc, col("event_id").asc)
    val gapCol = expr(s"interval $gapMinutes minutes")
    val sessions = events
      // session_window merges events whose [ts, ts+gap) spans overlap:
      // a new session starts when ts >= prev_ts + gap (micros-exact)
      .withColumn("new_sess",
        when(lag(col("event_ts"), 1).over(byUser).isNull, 1L)
          .when(col("event_ts") >=
            lag(col("event_ts"), 1).over(byUser) + gapCol, 1L)
          .otherwise(0L))
      .withColumn("sess_id", sum(col("new_sess"))
        .over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("sess_id"))
      .agg(min(col("event_ts")).as("session_start"),
        (max(col("event_ts")) + gapCol).as("session_end"),
        count(lit(1)).cast("long").as("n_b"),
        round(sum(col("value")), 2).as("sum_b"))
    val wm = broadcast(events.agg(
      (max(col("event_ts")) - expr(s"interval $lateness")).as("wm")))
    val closed = sessions.crossJoin(wm)
      .filter(col("session_end") <= col("wm"))
      .select(col("session_start"), col("session_end"), col("user_id"),
        col("n_b"), col("sum_b"))
    closed.join(streamed,
        Seq("session_start", "session_end", "user_id"), "full_outer")
      .agg(
        coalesce(sum(when(col("n_s").isNull, 1L).otherwise(0L)), lit(0L))
          .cast("long").as("missing_session"),
        coalesce(sum(when(col("n_b").isNull, 1L).otherwise(0L)), lit(0L))
          .cast("long").as("extra_session"),
        coalesce(sum(when(col("n_b").isNotNull && col("n_s").isNotNull &&
          col("n_b") =!= col("n_s"), 1L).otherwise(0L)), lit(0L))
          .cast("long").as("bad_count"),
        coalesce(sum(when(col("sum_b").isNotNull && col("sum_s").isNotNull &&
          col("sum_b") =!= col("sum_s"), 1L).otherwise(0L)), lit(0L))
          .cast("long").as("bad_sum"))
      .crossJoin(broadcast(streamed.agg(
        (count(lit(1)) === 0).cast("long").as("empty_stream"))))
  }
}
