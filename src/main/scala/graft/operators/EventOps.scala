package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Event-stream batch operators over `events(event_id, ts, user_id,
 * event_type, value, props)`.
 *
 * The events parquet has stored `ts` two ways across testdata
 * generations: epoch-nanos int64 (which Spark's schema inference
 * refuses, but an explicit LongType read schema accepts) and
 * `timestamp[us]`. [[readEvents]] normalizes both to epoch-nanos longs,
 * so all downstream time arithmetic is integer — exact, timezone-free,
 * and portable to any oracle engine.
 *
 * Scale notes: the session window is partitioned by user_id (high
 * cardinality, no skew); rollups are hash aggregations with map-side
 * partials. At 100 TB the events table would be date-partitioned so the
 * day rollup prunes partitions.
 */
object EventOps {

  val NanosPerDay: Long = 86400L * 1000 * 1000 * 1000

  /** Nanoseconds per raw int64 unit of a parquet file's `ts` column,
    * from the footer's logical-type annotation — the AUTHORITATIVE
    * source (r7's red wave came from assuming one physical encoding;
    * a Spark-level schema probe cannot distinguish ms from µs). Plain
    * int64 (no annotation, or NANOS) is epoch-nanos
    * by the testdata convention. Footer-only: free at any corpus size. */
  private[graft] def tsUnitNanosOf(spark: SparkSession, path: String): Long = {
    import scala.jdk.CollectionConverters._
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import graft.sources.ParquetTable
    val parts = ParquetTable.dataFiles(spark, path).toArray
    require(parts.nonEmpty, s"tsUnitNanosOf: no parquet part files under $path")
    def unitOf(part: ParquetTable.DataFile): Long = {
      val schema = part.read(_.getFooter.getFileMetaData.getSchema)
      schema.getFields.asScala.find(_.getName == "ts")
        .flatMap(f => Option(f.asPrimitiveType().getLogicalTypeAnnotation))
        .collect {
          case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
            t.getUnit match {
              case LogicalTypeAnnotation.TimeUnit.MILLIS => 1000000L
              case LogicalTypeAnnotation.TimeUnit.MICROS => 1000L
              case LogicalTypeAnnotation.TimeUnit.NANOS  => 1L
            }
        }
        .getOrElse(1L)
    }
    // Probe EVERY part footer, not just the first: a mixed-generation
    // lake (ms parts alongside µs parts under one directory) rescaled by
    // the first part's unit would silently corrupt timestamps. Footers
    // are a few KB each — cheap at any corpus size — and a single-unit
    // directory is the contract, so disagreement fails loudly here.
    val units = parts.map(p => p -> unitOf(p))
    val distinctUnits = units.map(_._2).distinct
    require(distinctUnits.length == 1,
      s"tsUnitNanosOf: mixed ts units across part files of $path: " +
        units.groupBy(_._2).map { case (u, ps) =>
          s"${u}ns/unit -> ${ps.take(3).map(_._1.path.getName).mkString(",")}" +
            (if (ps.length > 3) s" (+${ps.length - 3} more)" else "")
        }.mkString("; "))
    distinctUnits.head
  }

  /** Read the events table with `ts` normalized to epoch-nanos long,
    * whatever unit the file stores: the raw int64 is read through
    * [[graft.streaming.EventStream.eventsSchema]] (LongType `ts` — no
    * schema inference, no timezone cast, no session conf) and rescaled
    * by the footer-declared unit ([[tsUnitNanosOf]]), so ms/µs/ns
    * generations all normalize. */
  def readEvents(spark: SparkSession, sfDir: String): DataFrame = {
    val path = s"$sfDir/events.parquet"
    val df = spark.read.schema(graft.streaming.EventStream.eventsSchema)
      .parquet(path)
    val unit = tsUnitNanosOf(spark, path)
    if (unit == 1L) df else df.withColumn("ts", col("ts") * lit(unit))
  }

  /**
   * Weekly seasonality profile — event volume by (day-of-week, hour)
   * cell over the whole corpus: the traffic fingerprint that separates
   * human diurnal/weekly rhythm from bot flatness, and the capacity
   * view behind "when do we scale the ingest fleet". One row per
   * non-empty cell: `dow (0 = Sunday), hour, n_events, share` (6 dp).
   *
   * Epoch arithmetic only (1970-01-01 was a Thursday, hence the +4):
   * no calendar/timezone functions, so the cells are engine- and
   * locale-identical. Scale: one (dow, hour)-keyed aggregation with
   * map-side combine — the exchange moves ≤ 168 cells per partition;
   * the total rides a 1-row broadcast.
   */
  def seasonalityProfile(events: DataFrame): DataFrame = {
    val cells = events
      .select(((expr(s"ts div $NanosPerDay") + 4) % 7).cast("int")
        .as("dow"),
        (expr(s"ts div ${3600L * 1000 * 1000 * 1000}") % 24).cast("int")
          .as("hour"))
      .groupBy(col("dow"), col("hour"))
      .agg(count(lit(1)).cast("long").as("n_events"))
    val total = broadcast(cells.agg(
      sum(col("n_events")).cast("long").as("n_total")))
    cells.crossJoin(total)
      .select(col("dow"), col("hour"), col("n_events"),
        round(col("n_events").cast("double") / col("n_total"), 6)
          .as("share"))
  }

  /**
   * Debounce — keep an event only when at least `minGap` has elapsed
   * since the LAST KEPT event of the same (user, type): the
   * rate-limiting dedup that collapses double-clicks, retry storms,
   * and bot bursts to one event per window. This is ITERATIVE
   * semantics (each keep decision depends on the previous keep, not
   * the previous row), which no plain SQL window expresses — the
   * batch twin of a `flatMapGroupsWithState` stream, and the oracle
   * replays it as a recursive CTE walking next-kept via LATERAL.
   *
   * Scale shape: ONE (user, type)-keyed shuffle
   * (`groupByKey.flatMapGroups`), then a per-key in-memory sort +
   * single sequential scan. Per-task memory is one key's events — the
   * hot keys are exactly the bots debouncing exists to tame, so for
   * adversarial keys pre-chunk by coarse time bucket (day) and accept
   * the one boundary artifact per chunk, or move to the streaming
   * state formulation where state is one timestamp per key.
   */
  def debounce(events: DataFrame, minGap: Long): DataFrame = {
    require(minGap > 0, "debounce: minGap must be positive")
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col("user_id").cast("long"), col("event_type"),
        col("ts").cast("long"), col("event_id").cast("long"))
      .as[(Long, String, Long, Long)]
      .groupByKey(r => (r._1, r._2))
      .flatMapGroups { (_: (Long, String),
          it: Iterator[(Long, String, Long, Long)]) =>
        val arr = it.toArray.sortBy(r => (r._3, r._4))
        val out = scala.collection.mutable.ArrayBuffer
          .empty[(Long, String, Long, Long)]
        var last = Long.MinValue
        arr.foreach { r =>
          if (last == Long.MinValue || r._3 - last >= minGap) {
            out += r
            last = r._3
          }
        }
        out.iterator
      }
      .toDF("user_id", "event_type", "ts", "event_id")
  }

  /** Per-(event_type, epoch-day) counts, value sums, distinct users. */
  def dailyRollup(events: DataFrame): DataFrame =
    events
      .select(col("event_type"),
        expr(s"ts div $NanosPerDay").as("day"),
        col("value"), col("user_id"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).cast("long").as("n_events"),
        round(sum(col("value")), 2).as("value_sum"),
        count_distinct(col("user_id")).cast("long").as("n_users"))

  /**
   * As-of join composed from built-ins (the preference-order-(a) answer
   * to an operator Spark lacks): for every event of `rightType`, the most
   * recent prior event of `leftType` by the same user, via a union +
   * last-non-null window instead of an O(n^2) range join. One shuffle
   * keyed by user_id; linear per partition.
   */
  def asofJoin(events: DataFrame, leftType: String, rightType: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    events
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"))
      .filter(col("event_type").isin(leftType, rightType))
      .withColumn("left_ts_marker",
        when(col("event_type") === leftType, col("ts")))
      .withColumn("asof_ts",
        last(col("left_ts_marker"), ignoreNulls = true).over(byUser))
      .filter(col("event_type") === rightType)
      .select(col("event_id").cast("long").as("event_id"),
        col("user_id").cast("long").as("user_id"),
        col("ts").cast("long").as("ts_ns"),
        col("asof_ts").cast("long").as("asof_ts_ns"),
        (col("ts") - col("asof_ts")).cast("long").as("gap_ns"))
  }

  /** CUBE rollup over (event_type, epoch-day): every grouping-set
    * combination including grand totals. */
  def cubeRollup(events: DataFrame): DataFrame =
    events
      .select(col("event_type"),
        expr(s"ts div $NanosPerDay").as("day"), col("value"))
      .cube(col("event_type"), col("day"))
      .agg(count(lit(1)).cast("long").as("n_events"),
        round(sum(col("value")), 2).as("value_sum"))

  /**
   * Sessionization: a new session starts after `gapMinutes` of user
   * inactivity. Returns one row per user with event/session counts and the
   * largest session size.
   */
  def sessionize(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    val gapNs = gapMinutes * 60L * 1000 * 1000 * 1000
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    val withSession = events
      .select(col("user_id"), col("ts"), col("event_id"))
      .withColumn("new_sess",
        when(col("ts") - lag(col("ts"), 1).over(byUser) > gapNs, 1L)
          .when(lag(col("ts"), 1).over(byUser).isNull, 1L)
          .otherwise(0L))
      .withColumn("session_id",
        sum(col("new_sess")).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
    withSession
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("sess_events"))
      .groupBy(col("user_id"))
      .agg(sum(col("sess_events")).cast("long").as("n_events"),
        count(lit(1)).cast("long").as("n_sessions"),
        max(col("sess_events")).cast("long").as("max_session_events"))
      .select(col("user_id").cast("long").as("user_id"), col("n_events"),
        col("n_sessions"), col("max_session_events"))
  }

  /**
   * Ordered funnel analysis over an event-type sequence — the
   * product-analytics "viewed, then clicked, then purchased" question.
   * Step 1 completes at a user's EARLIEST `steps(0)` event; step i at
   * the earliest `steps(i-1)` event STRICTLY AFTER the user's step i-1
   * completion. One row per step: users reaching it and the total
   * nanoseconds spent converting from the previous step (0 for step 1).
   *
   * `maxGap > 0` bounds each conversion: step i only counts within
   * `maxGap` time units of the step i-1 completion (the "converted
   * within 7 days" form); 0 = unbounded.
   *
   * Scale shape: each step is a filtered projection of
   * (user_id, ts, event_type) reduced to a per-user min BEFORE any
   * join (user-keyed aggregation, map-side partials); the step-i join
   * is user-keyed against the <= |users|-row funnel frontier, never
   * event x event. All arithmetic is exact epoch-nanos longs, so the
   * result is engine-portable with no rounding caveats.
   */
  def funnel(events: DataFrame, steps: Seq[String],
      maxGap: Long = 0L): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    val ev = events.select(col("user_id"), col("ts"), col("event_type"))
    // Each frontier frame persists (Caches.persist — release via
    // Caches.scoped): frame i is consumed by frame i+1's join AND by its
    // own per-step aggregate, and without the cache the lazy chains
    // nest, re-running step 1's corpus aggregation once per step
    // (O(steps^2) corpus passes for an n-step funnel).
    val first = graft.operators.Caches.persist(
      ev.filter(col("event_type") === steps.head)
        .groupBy(col("user_id")).agg(min(col("ts")).as("t"))
        .withColumn("gap_ns", lit(0L)))
    val frames = steps.tail.foldLeft(Vector(first)) { (acc, st) =>
      val prev = acc.last.select(col("user_id"), col("t").as("t_prev"))
      val inWindow =
        if (maxGap > 0L) col("ts") > col("t_prev") &&
          col("ts") <= col("t_prev") + maxGap
        else col("ts") > col("t_prev")
      acc :+ graft.operators.Caches.persist(
        ev.filter(col("event_type") === st)
          .join(prev, Seq("user_id"))
          .filter(inWindow)
          .groupBy(col("user_id"), col("t_prev"))
          .agg(min(col("ts")).as("t"))
          .withColumn("gap_ns", col("t") - col("t_prev"))
          .select(col("user_id"), col("t"), col("gap_ns")))
    }
    frames.zipWithIndex.map { case (f, i) =>
      f.agg(count(lit(1)).cast("long").as("n_users"),
        coalesce(sum(col("gap_ns")), lit(0L)).cast("long").as("sum_gap_ns"))
        .select(lit(i + 1).cast("int").as("step"),
          lit(steps(i)).as("event_type"), col("n_users"), col("sum_gap_ns"))
    }.reduce(_.unionByName(_))
  }

  /**
   * Trailing-window anomaly detection over daily event volumes — the
   * ops-monitoring staple: for each (event_type, day), the z-score of
   * that day's count against the mean/std of the prior `window`
   * observed days (current day excluded; emitted only once a full
   * window of history exists). `z_score` is NULL when the trailing
   * variance is zero; `is_spike` flags |z| >= `zThreshold` days.
   *
   * Determinism: the window aggregates are EXACT integer sums
   * (sum, sum-of-squares over counts), so mean/variance/z are single
   * double expressions over exact longs — no accumulation-order
   * sensitivity anywhere (SCALE.md lesson 11 by construction).
   * Scale shape: one (event_type, day) count aggregation, then a
   * window partitioned by event_type (bounded partitions: one row per
   * day) — nothing corpus-scale passes the first aggregation.
   */
  def anomalyScores(events: DataFrame, window: Int = 7,
      zThreshold: Double = 3.0): DataFrame = {
    require(window >= 2, "anomalyScores: need a window of at least 2")
    val daily = events
      .select(col("event_type"), expr(s"ts div $NanosPerDay").as("day"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(-window, -1)
    daily
      .withColumn("n_prior", count(col("cnt")).over(w))
      .withColumn("sum_p", sum(col("cnt")).over(w))
      // squares in DECIMAL: long cnt*cnt wraps silently past ~1.1e9
      // events/day — plausible at the scale this operator targets
      .withColumn("sumsq_p",
        sum(col("cnt").cast("decimal(19,0)") * col("cnt")).over(w))
      .filter(col("n_prior") === window)
      .withColumn("mean_p", col("sum_p").cast("double") / window)
      .withColumn("var_p",
        (col("sumsq_p").cast("double") -
          col("sum_p").cast("double") * col("sum_p") / window) /
          (window - 1))
      .withColumn("z", when(col("var_p") > 0,
        round((col("cnt") - col("mean_p")) / sqrt(col("var_p")), 6)))
      .select(col("event_type"), col("day").cast("long").as("day"),
        col("cnt").cast("long").as("n_events"),
        round(col("mean_p"), 6).as("mean_prior"),
        col("z").as("z_score"),
        (abs(col("z")) >= zThreshold).cast("int").as("is_spike"))
  }

  /**
   * Retention cohorts — the product-analytics staple: users are
   * cohorted by their FIRST active epoch-day, and each (cohort_day,
   * day_offset) cell counts how many of that cohort were active
   * `day_offset` days later (offset 0 = the cohort's own size).
   *
   * Scale shape: first-day per user is one user-keyed aggregation of
   * (user, day) pairs — map-side partials collapse each partition to
   * its distinct users before the exchange; the cohort join is
   * user-keyed (no fan-out: one first_day row per user), and the final
   * cell rollup moves (cohort_day, day_offset) keys. Nothing wider
   * than ids and day numbers ever shuffles; at 100 TB the events scan
   * prunes to (user_id, ts) via column pushdown.
   */
  def retentionCohorts(events: DataFrame): DataFrame = {
    val userDays = events
      .select(col("user_id"), expr(s"ts div $NanosPerDay").as("day"))
      .distinct()
    val firstDay = userDays.groupBy(col("user_id"))
      .agg(min(col("day")).as("cohort_day"))
    userDays.join(firstDay, Seq("user_id"))
      .groupBy(col("cohort_day").cast("long").as("cohort_day"),
        (col("day") - col("cohort_day")).cast("long").as("day_offset"))
      .agg(count(lit(1)).cast("long").as("n_active"))
  }

  /**
   * Bot-likelihood report — per-user behavioral fingerprints that
   * separate scripted traffic from people: event volume, type
   * diversity, inter-event gap mean/std (a bot's gaps are metronomic —
   * std ≈ 0 — where human gaps are heavy-tailed), and the share of
   * events in the user's single busiest hour-of-day (bots concentrate,
   * humans spread). One row per user with ≥ 2 events:
   * `n_events, n_types, gap_mean_s, gap_std_s, top_hour,
   * top_hour_share` (6 dp). Expects native epoch-ns `ts`; gaps are
   * measured in SECONDS so the Σg² moment stays far inside long range
   * (a ns Σg² would overflow at day-scale gaps).
   *
   * Determinism: gap variance derives from exact integer Σg and Σg²
   * (`(Σg² − (Σg)²/n) / n` computed in one double expression, rounded
   * last); the busiest hour breaks ties toward the lowest hour.
   *
   * Scale shape: ONE user-keyed shuffle carries both the lag window
   * and the per-user rollup; the hour concentration reuses the same
   * partitioning (a second aggregation over (user, hour) cells, ≤ 24
   * per user). Nothing corpus-scale crosses more than the user key.
   */
  def botReport(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    val gaps = events
      .select(col("user_id").cast("long").as("user_id"),
        col("ts").cast("long").as("ts"),
        expr("ts div 1000000000").as("sec"), col("event_id"),
        col("event_type"))
      .withColumn("gap", col("sec") - lag(col("sec"), 1).over(w))
    val base = gaps.groupBy(col("user_id"))
      .agg(count(lit(1)).cast("long").as("n_events"),
        countDistinct(col("event_type")).cast("long").as("n_types"),
        count(col("gap")).cast("long").as("n_gaps"),
        coalesce(sum(col("gap")), lit(0L)).as("sg"),
        coalesce(sum(col("gap") * col("gap")), lit(0L)).as("sgg"))
      .filter(col("n_gaps") >= 1)
    val hours = events
      .select(col("user_id").cast("long").as("user_id"),
        (expr(s"ts div ${3600L * 1000 * 1000 * 1000}") % 24).cast("int")
          .as("hour"))
      .groupBy(col("user_id"), col("hour"))
      .agg(count(lit(1)).cast("long").as("nh"))
      .groupBy(col("user_id"))
      .agg(max(struct(col("nh"), (-col("hour")).as("negh"))).as("top"))
      .select(col("user_id"), col("top.nh").as("top_hour_n"),
        (-col("top.negh")).cast("int").as("top_hour"))
    base.join(hours, Seq("user_id"))
      .select(col("user_id"), col("n_events"), col("n_types"),
        round(col("sg").cast("double") / col("n_gaps"), 6)
          .as("gap_mean_s"),
        round(sqrt((col("sgg").cast("double") -
          col("sg").cast("double") * col("sg") / col("n_gaps")) /
          col("n_gaps")), 6).as("gap_std_s"),
        col("top_hour"),
        round(col("top_hour_n").cast("double") / col("n_events"), 6)
          .as("top_hour_share"))
  }

  /**
   * Cohort lifetime value — [[retentionCohorts]]'s revenue twin: per
   * (signup-cohort day, day offset), how much PURCHASE value the
   * cohort generated, both for the day and cumulatively — the LTV
   * curve a growth team reads payback periods from. Revenue sums in
   * integer cents ([SCALE.md lesson 11]) so the cumulative window is
   * exact; one row per non-empty (cohort_day, day_offset):
   * `n_buyers, revenue, cum_revenue` (2 dp).
   *
   * Scale shape: first-day per user is one user-keyed aggregation;
   * the cohort join fans out ONLY purchase rows (no fan-out per
   * user — one first_day row each); the cell rollup moves
   * (cohort, offset) keys and the cumulative window runs over the
   * cohort-sized aggregate, never events.
   */
  def cohortLtv(events: DataFrame): DataFrame = {
    val firstDay = events
      .select(col("user_id"), expr(s"ts div $NanosPerDay").as("day"))
      .groupBy(col("user_id")).agg(min(col("day")).as("cohort_day"))
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), expr(s"ts div $NanosPerDay").as("day"),
        round(col("value") * 100, 0).cast("long").as("cents"))
    val cells = purchases.join(firstDay, Seq("user_id"))
      .groupBy(col("cohort_day").cast("long").as("cohort_day"),
        (col("day") - col("cohort_day")).cast("long").as("day_offset"))
      .agg(countDistinct(col("user_id")).cast("long").as("n_buyers"),
        sum(col("cents")).as("cents"))
    val w = Window.partitionBy(col("cohort_day"))
      .orderBy(col("day_offset"))
      .rowsBetween(Window.unboundedPreceding, 0)
    cells.select(col("cohort_day"), col("day_offset"), col("n_buyers"),
      round(col("cents") / 100.0, 2).as("revenue"),
      round(sum(col("cents")).over(w) / 100.0, 2).as("cum_revenue"))
  }

  /**
   * Event-type transition matrix — the Markov-chain view of user
   * behavior (which event follows which?): for every consecutive
   * (prev, next) pair within a user's timeline, the transition count
   * and its probability among all transitions leaving `prev`.
   *
   * Scale shape: ONE user-keyed shuffle for the lag window (narrow
   * (user_id, ts, event_id, event_type) rows — timelines per user are
   * bounded, no skew); the pair rollup is a hash aggregation onto
   * |event_types|^2 keys, and the probability normalization windows
   * over that tiny aggregated table, never the corpus. Probabilities
   * are exact-count ratios rounded to 6dp — engine-portable.
   */
  def transitionMatrix(events: DataFrame): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    val pairs = events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(byUser))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).cast("long").as("n_trans"))
    pairs
      .withColumn("p_trans",
        round(col("n_trans").cast("double") /
          sum(col("n_trans")).over(Window.partitionBy(col("prev_type"))), 6))
      .select(col("prev_type"), col("next_type"), col("n_trans"),
        col("p_trans"))
  }

  /**
   * Engagement report — the DAU/WAU/stickiness staple: per epoch-day,
   * the distinct active users that day (DAU), the distinct users
   * active in the trailing `windowDays` (WAU for 7), and their ratio
   * (stickiness). Only days with activity are reported (the corpus
   * defines the calendar).
   *
   * Scale shape: the corpus collapses FIRST to distinct (user, day)
   * pairs (map-side partial distinct before the exchange); the
   * trailing-window membership then fans each pair out `windowDays`
   * times — linear, shuffle keyed by day — and the final aggregation
   * counts distincts per day. Nothing wider than (user_id, day) longs
   * ever moves; at 100 TB the events scan prunes to two columns.
   */
  def engagement(events: DataFrame, windowDays: Int = 7): DataFrame = {
    require(windowDays >= 1, "engagement: windowDays must be >= 1")
    val ud = events
      .select(col("user_id"), expr(s"ts div $NanosPerDay").as("day"))
      .distinct()
    val dau = ud.groupBy(col("day"))
      .agg(count_distinct(col("user_id")).cast("long").as("dau"))
    // (user, day) contributes to the trailing window of days day..day+w-1;
    // restrict to observed days so the report calendar matches DAU's
    val windowed = ud
      .select(col("user_id"),
        explode(sequence(col("day"), col("day") + (windowDays - 1)))
          .as("day"))
      .groupBy(col("day"))
      .agg(count_distinct(col("user_id")).cast("long").as("wau"))
    dau.join(windowed, Seq("day"))
      .select(col("day").cast("long").as("day"), col("dau"), col("wau"),
        round(col("dau").cast("double") / col("wau"), 6).as("stickiness"))
  }

  /**
   * Typed extraction of one numeric property from the semi-structured
   * `props` JSON column (reference keeps event payloads opaque; every
   * warehouse query over them starts with this projection).
   * `get_json_object` is a codegen'd path expression — a narrow
   * per-row map, no UDF, no shuffle; a malformed or missing key yields
   * NULL rather than failing the scan.
   */
  def propsExtract(events: DataFrame, key: String): DataFrame =
    events.withColumn(key,
      get_json_object(col("props"), s"$$.$key").cast("long"))

  /**
   * Per-event-type distribution report of a numeric JSON property:
   * row count, missing-key count, min/max/sum, distinct values. All
   * integer aggregates (exact, order-free). One narrow JSON projection
   * feeding one hash aggregation with map-side partials — the JSON
   * parse never crosses an exchange, so at 100 TB the only shuffled
   * bytes are |event_type| × 6 longs of partials per partition.
   */
  def propsRollup(events: DataFrame, key: String = "k"): DataFrame =
    propsExtract(events, key)
      .select(col("event_type"), col(key).as("prop"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).cast("long").as("n_events"),
        sum(when(col("prop").isNull, 1L).otherwise(0L)).cast("long")
          .as("n_missing"),
        min(col("prop")).cast("long").as("prop_min"),
        max(col("prop")).cast("long").as("prop_max"),
        sum(col("prop")).cast("long").as("prop_sum"),
        count_distinct(col("prop")).cast("long").as("prop_distinct"))

  /**
   * Shuffle-key skew diagnostics — the evidence behind every
   * partitioning decision at 100 TB: before keying a join or
   * aggregation on a column, a pipeline wants to know whether one key
   * owns enough of the corpus to capsize a task (→ salting / AQE skew
   * handling) or the key space is healthy. One row per top-`topN` key:
   * its exact row count, rank, corpus share (6dp), and
   * `mean_ratio` = how many times the mean key weight this key carries
   * (`n_rows · n_keys / n_total` — the direct "this task is X× the
   * average" number).
   *
   * Scale shape: per-key counts collapse map-side; the global (total,
   * distinct) pair is ONE broadcast 1-row aggregate derived from the
   * (already tiny relative to the corpus) per-key frame; the top-N is
   * a TakeOrdered, never a full sort.
   */
  def skewReport(df: DataFrame, key: Column, topN: Int = 20): DataFrame = {
    require(topN > 0, "skewReport: topN must be positive")
    val counts = Caches.persist(
      df.groupBy(key.cast("string").as("key"))
        .agg(count(lit(1)).as("n_rows")))
    val totals = counts.agg(sum(col("n_rows")).as("n_total"),
      count(lit(1)).as("n_keys"))
    counts
      .crossJoin(broadcast(totals))
      .orderBy(col("n_rows").desc, col("key").asc)
      .limit(topN)
      .select(
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("n_rows").desc, col("key").asc)).cast("int")
          .as("rnk"),
        col("key"), col("n_rows"), col("n_total"), col("n_keys"),
        round(col("n_rows").cast("double") / col("n_total"), 6)
          .as("share"),
        round(col("n_rows").cast("double") * col("n_keys") /
          col("n_total"), 6).as("mean_ratio"))
  }

  /**
   * General as-of join of two event frames — the full surface of the
   * operator (pandas `merge_asof` / kdb `aj`): for every left row, the
   * right row with the closest timestamp under `direction`, optionally
   * bounded by `toleranceNs`.
   *
   *  - `backward`: latest right with `r.ts <= l.ts` (exact matches
   *    included; ties on ts take the highest right id — last in the
   *    deterministic (ts, side, id) order);
   *  - `forward`: earliest right with `r.ts >= l.ts` (ties take the
   *    lowest right id);
   *  - `nearest`: whichever of the two candidates has the smaller gap,
   *    ties to backward (pandas semantics). Tolerance is applied to
   *    each candidate BEFORE the choice.
   *
   * Unmatched (or out-of-tolerance) left rows keep NULL match columns —
   * the caller decides between left-semantics and filtering.
   *
   * Scale shape: the same union + ordered-window formulation as
   * [[asofJoin]] — ONE key-keyed shuffle of narrow (key, ts, id, side)
   * rows, never a range self-join; both direction windows share the
   * single sort order (the forward window flips the side tiebreak as an
   * ORDER expression, not a second exchange). State per key is one
   * running (ts, id) pair per direction.
   */
  def asofJoinWith(left: DataFrame, right: DataFrame,
      keyCol: String = "user_id", tsCol: String = "ts",
      idCol: String = "event_id", direction: String = "backward",
      toleranceNs: Long = -1L): DataFrame = {
    require(Seq("backward", "forward", "nearest").contains(direction),
      s"asofJoinWith: unknown direction '$direction'")
    def side(df: DataFrame, v: Int) = df.select(
      col(keyCol).cast("long").as("key"), col(tsCol).cast("long").as("ts"),
      col(idCol).cast("long").as("id"), lit(v).as("side"))
    val u = side(left, 1).unionAll(side(right, 0))
    val isR = col("side") === 0
    val wB = Window.partitionBy(col("key"))
      .orderBy(col("ts").asc, col("side").asc, col("id").asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val wF = Window.partitionBy(col("key"))
      .orderBy(col("ts").asc, (lit(1) - col("side")).asc, col("id").asc)
      .rowsBetween(0, Window.unboundedFollowing)
    val cand = u
      .withColumn("b_ts", last(when(isR, col("ts")), ignoreNulls = true)
        .over(wB))
      .withColumn("b_id", last(when(isR, col("id")), ignoreNulls = true)
        .over(wB))
      .withColumn("f_ts", first(when(isR, col("ts")), ignoreNulls = true)
        .over(wF))
      .withColumn("f_id", first(when(isR, col("id")), ignoreNulls = true)
        .over(wF))
      .filter(col("side") === 1)
    val gb = col("ts") - col("b_ts")
    val gf = col("f_ts") - col("ts")
    val bOk = col("b_ts").isNotNull &&
      (if (toleranceNs < 0) lit(true) else gb <= toleranceNs)
    val fOk = col("f_ts").isNotNull &&
      (if (toleranceNs < 0) lit(true) else gf <= toleranceNs)
    val (mTs, mId, mGap) = direction match {
      case "backward" => (when(bOk, col("b_ts")), when(bOk, col("b_id")),
        when(bOk, gb))
      case "forward" => (when(fOk, col("f_ts")), when(fOk, col("f_id")),
        when(fOk, gf))
      case "nearest" =>
        val useB = bOk && (!fOk || gb <= gf)
        (when(useB, col("b_ts")).when(fOk, col("f_ts")),
          when(useB, col("b_id")).when(fOk, col("f_id")),
          when(useB, gb).when(fOk, gf))
    }
    cand.select(col("id").as("event_id"), col("key").as("user_id"),
      col("ts").as("ts_ns"), mId.as("asof_id"), mTs.as("asof_ts_ns"),
      mGap.as("gap_ns"))
  }

  /**
   * Per-user gap-session SPANS — [[sessionize]]'s intervals surfaced as
   * rows: one `(user_id, session_idx, start_ts, end_ts, n_events)` per
   * session (`session_idx` 1-based by start order). The interval-table
   * producer for [[rangeJoinBinned]]. Same single user-keyed window
   * pass as sessionize. `gap` is in `ts` units (ns at the native event
   * domain; pass a µs gap for a µs-truncated frame).
   */
  def sessionSpans(events: DataFrame,
      gap: Long = 30L * 60 * 1000 * 1000 * 1000): DataFrame = {
    val gapNs = gap
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    events
      .select(col("user_id"), col("ts"), col("event_id"))
      .withColumn("new_sess",
        when(col("ts") - lag(col("ts"), 1).over(byUser) > gapNs, 1L)
          .when(lag(col("ts"), 1).over(byUser).isNull, 1L)
          .otherwise(0L))
      .withColumn("session_idx",
        sum(col("new_sess")).over(byUser
          .rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("session_idx"))
      .agg(min(col("ts")).as("start_ts"), max(col("ts")).as("end_ts"),
        count(lit(1)).as("n_events"))
      .select(col("user_id").cast("long").as("user_id"),
        col("session_idx").cast("long").as("session_idx"),
        col("start_ts").cast("long").as("start_ts"),
        col("end_ts").cast("long").as("end_ts"), col("n_events"))
  }

  /**
   * Range join as a BINNED EQUI-JOIN — the scale answer to the operator
   * class Spark executes as BroadcastNestedLoopJoin (small side) or
   * refuses outright (a non-equi join of two large tables): match every
   * probe `(key, ts)` to the intervals `(key, start_ts, end_ts)` that
   * CONTAIN it (`start_ts <= ts <= end_ts`, both inclusive).
   *
   * The trick (Databricks' bin-based range join, the interval-tree
   * analog for shuffles): pick a bin width; each interval EXPLODES to
   * the bins it overlaps, each probe hashes to its single containing
   * bin, and the match becomes an equi-join on `(key, bin)` followed by
   * the exact containment filter. A probe's bin intersects exactly the
   * intervals overlapping that bin, so no match is lost and — because a
   * probe owns ONE bin — no duplicate pair ever emerges. Join
   * cardinality: |probes| + Σ(interval_span/binNs) rows shuffle on
   * (key, bin) — tune `binNs` toward the median interval length so
   * intervals explode to O(1) bins each.
   *
   * PRECONDITION: nonnegative timestamps (the epoch-ns event domain) —
   * `div` truncation and floor agree there, keeping bin math portable
   * to floor-division engines.
   *
   * Output: probe rows + the matched interval's columns (inner join;
   * unmatched probes drop — count them against the probe table when a
   * coverage number is needed).
   */
  def rangeJoinBinned(probes: DataFrame, intervals: DataFrame,
      binNs: Long, keyCol: String = "user_id"): DataFrame = {
    require(binNs > 0, "rangeJoinBinned: binNs must be positive")
    val iv = intervals.select(col(keyCol).cast("long").as("key"),
      col("session_idx"), col("start_ts"), col("end_ts"),
      explode(sequence(expr(s"start_ts div ${binNs}L"),
        expr(s"end_ts div ${binNs}L"))).as("bin"))
    probes
      .select(col("event_id"), col(keyCol).cast("long").as("key"),
        col("ts"), expr(s"ts div ${binNs}L").as("bin"))
      .join(iv, Seq("key", "bin"))
      .filter(col("start_ts") <= col("ts") && col("ts") <= col("end_ts"))
      .select(col("event_id").cast("long").as("event_id"),
        col("key").as("user_id"), col("ts").cast("long").as("ts"),
        col("session_idx"), col("start_ts"), col("end_ts"))
  }

  /**
   * The mergeable aggregation GRAIN behind incremental daily rollups —
   * the pattern that lets a 100 TB pipeline fold TODAY's events into
   * yesterday's standing aggregate without rescanning history. The
   * grain is one row per `(event_type, day, user_id)` carrying exact
   * mergeable partials: event count and integer-CENTS value sum
   * (SCALE.md lesson 11 — a double running sum would make the merge
   * order observable). Distinct-user counts — the non-mergeable
   * aggregate that usually forces full recomputes — become mergeable
   * BECAUSE the grain keeps user_id as a key: the final rollup's
   * `n_users` is just the grain's per-(type, day) row count.
   *
   * Contract: `rollupFromGrain(mergeGrain(g(a), g(b))) ==
   * rollupFromGrain(g(a ∪ b))` for ANY split of the corpus, overlapping
   * days included — `events_rollup_incremental` hash-pins it against a
   * full-recompute oracle.
   *
   * Scale shape: the grain table is |types × days × active-users| —
   * orders of magnitude below the event corpus — and the merge is a
   * grain-keyed aggregation of two grain tables, never a corpus scan.
   */
  def rollupGrain(events: DataFrame): DataFrame =
    events
      .select(col("event_type"), expr(s"ts div $NanosPerDay").as("day"),
        col("user_id").cast("long").as("user_id"),
        round(col("value") * 100, 0).cast("long").as("cents"))
      .groupBy(col("event_type"), col("day"), col("user_id"))
      .agg(count(lit(1)).cast("long").as("n_events"),
        sum(col("cents")).as("value_cents"))

  /** Merge two [[rollupGrain]] tables (disjoint or overlapping grains). */
  def mergeGrain(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b)
      .groupBy(col("event_type"), col("day"), col("user_id"))
      .agg(sum(col("n_events")).as("n_events"),
        sum(col("value_cents")).as("value_cents"))

  /** Final per-(type, day) rollup from the grain: counts and cents sums
    * fold; `n_users` is the grain's row count per group. */
  def rollupFromGrain(grain: DataFrame): DataFrame =
    grain
      .groupBy(col("event_type"), col("day"))
      .agg(sum(col("n_events")).as("n_events"),
        sum(col("value_cents")).as("value_cents"),
        count(lit(1)).as("n_users"))

  /**
   * SCD2 history build — the slowly-changing-dimension type-2
   * primitive (the lakehouse MERGE pattern, Kimball's bread and
   * butter): collapse a change log into versioned attribute intervals
   * per key. Consecutive equal values dedup (observing the same state
   * twice is not a new version); each surviving change opens a version
   * at its timestamp and the NEXT version's timestamp closes it
   * (`valid_to` NULL = current). One row per version:
   * `(key, attr, valid_from, valid_to, version)`.
   *
   * Determinism: changes order by `(ts, event_id)` per key, so
   * same-instant changes resolve identically in any engine.
   *
   * Scale shape: ONE key-partitioned window pass (lag for
   * change-detection, lead + row_number on the collapsed rows) — the
   * same single-shuffle shape as sessionization; no self-joins, no
   * MERGE round-trips per batch.
   */
  def scd2Build(changes: DataFrame, keyCol: String = "user_id",
      attrCol: String = "event_type"): DataFrame = {
    val byKey = Window.partitionBy(col("key"))
      .orderBy(col("ts").asc, col("event_id").asc)
    changes
      .select(col(keyCol).cast("long").as("key"),
        col("ts").cast("long").as("ts"),
        col("event_id").cast("long").as("event_id"),
        col(attrCol).as("attr"))
      .withColumn("prev", lag(col("attr"), 1).over(byKey))
      .filter(col("prev").isNull || col("prev") =!= col("attr"))
      .withColumn("valid_to", lead(col("ts"), 1).over(byKey))
      .withColumn("version", row_number().over(byKey).cast("int"))
      .select(col("key").as(keyCol), col("attr"),
        col("ts").as("valid_from"), col("valid_to"), col("version"))
  }

  /**
   * PageRank over the event-type transition graph — iterative graph
   * analytics as a first-class operator (the "which state dominates
   * the long-run flow" view of [[transitionMatrix]]'s Markov edges).
   * `iters` fixed power-iteration rounds with damping `d = dampingPct
   * / 100`, in EXACT integer nano-units so every round replays as a
   * chained CTE in any engine (the Lloyd-IVF determinism recipe):
   *
   *   r₀(v)    = 10⁹ div n
   *   rₜ₊₁(v) = (15·10⁹) div (100·n)
   *              + (d% · Σ_u (rₜ(u)·w(u,v)) div W(u)) div 100
   *
   * — all floor divisions of positive longs, so `div` and `//`
   * agree. Dangling-node mass vanishes (the standard simplification;
   * total mass is not conserved, RELATIVE ranks are the product).
   *
   * Scale shape: the edge list is |types|² by construction here, but
   * the iteration shape is the general one — each round is one
   * edges⋈ranks join + a destination-keyed aggregation, i.e. one
   * edge-shuffle per round on a REAL graph; ranks stay
   * node-cardinality.
   */
  def typeRank(events: DataFrame, iters: Int = 3,
      dampingPct: Int = 85): DataFrame = {
    require(iters >= 1 && dampingPct >= 0 && dampingPct <= 100,
      "typeRank: iters >= 1, dampingPct in [0, 100]")
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    val edges = Caches.persist(events
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"))
      .withColumn("prev", lag(col("event_type"), 1).over(byUser))
      .filter(col("prev").isNotNull)
      .groupBy(col("prev").as("a"), col("event_type").as("b"))
      .agg(count(lit(1)).as("w")))
    val outW = edges.groupBy(col("a")).agg(sum(col("w")).as("wa"))
    val nodes = Caches.persist(
      events.select(col("event_type").as("node")).distinct())
    val n = nodes.count()
    require(n > 0, "typeRank: no events")
    val base = (15L * 1000000000L) / (100L * n)
    var ranks = nodes.select(col("node"), lit(1000000000L / n).as("r"))
    var it = 0
    while (it < iters) {
      val contrib = ranks
        .join(edges, ranks("node") === edges("a"))
        .join(outW, Seq("a"))
        .select(col("b").as("node"),
          expr("(r * w) div wa").as("c"))
        .groupBy(col("node")).agg(sum(col("c")).as("s"))
      ranks = nodes.join(contrib, Seq("node"), "left")
        .select(col("node"),
          (lit(base) + expr(s"($dampingPct * coalesce(s, 0L)) div 100"))
            .as("r"))
      it += 1
    }
    ranks.select(col("node").as("event_type"), col("r").as("rank_nano"),
      round(col("r").cast("double") / 1e9, 6).as("rank"))
  }
}
