package graft.events

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType

/** Event-time analytics over the `events` table (SURVEY.md §7.3 step 3),
  * in batch form so every op is DuckDB-oracle-checkable; the Structured
  * Streaming wrappers over the same logic live in graft.streaming.
  *
  * Timestamps are emitted as `yyyy-MM-dd HH:mm:ss[.SSSSSS]` strings — a
  * parquet TIMESTAMP from Spark is UTC-adjusted while DuckDB's is naive,
  * which would false-negative any value compare.
  *
  * Scale notes: all windows group on (bucket, key) — an even shuffle unless
  * one user dominates; sessionization is a single window function pass, no
  * self-join, no per-user collect.
  */
object Events {

  private def money(c: Column): Column = c.cast(DecimalType(18, 2))
  private def fmtTs(c: Column): Column = date_format(c, "yyyy-MM-dd HH:mm:ss.SSSSSS")

  /** Tumbling 1-hour windows per event type: count + exact value sum. */
  def tumblingHourly(events: DataFrame): DataFrame =
    events.groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(money(col("value"))).cast("double").as("sum_value"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("event_type"), col("n"), col("sum_value"))
      .orderBy("window_start", "event_type")

  /** Sliding windows (1 hour long, every 30 minutes): each event lands in
    * exactly 2 epoch-aligned windows. */
  def slidingHourly(events: DataFrame): DataFrame =
    events.groupBy(window(col("ts"), "1 hour", "30 minutes"))
      .agg(count(lit(1)).as("n"),
        sum(money(col("value"))).cast("double").as("sum_value"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("n"), col("sum_value"))
      .orderBy("window_start")

  /** Corpus-level hourly anomaly score: each hour's event count as a
    * z-score against the trailing `trailingHours` window (current hour
    * EXCLUDED — a spike must not dampen its own baseline). The stats
    * derive from exact integer window sums (count/sum/sum-of-squares over
    * a RANGE frame on epoch seconds), so mean and stddev are the identical
    * double expression tree in any engine — the monthlyPriceProfile
    * recipe applied to a window. Hours with no baseline (first hour) or
    * zero variance report NULL.
    *
    * Scale notes (100 TB): the heavy pass is the partial+final hourly
    * count; the un-partitioned window then runs over ONE ROW PER HOUR —
    * bounded by the time range (8.8k rows/year), never by event volume.
    * That single-partition window over an aggregate is the right shape;
    * windowing raw events would not be. */
  def hourlyAnomaly(events: DataFrame, trailingHours: Int = 24): DataFrame =
    anomalyFromHourlyCounts(
      events.groupBy(date_trunc("hour", col("ts")).as("hour"))
        .agg(count(lit(1)).as("n")),
      trailingHours)

  /** The z-score pass over an already-aggregated (hour TIMESTAMP, n LONG)
    * frame — shared by the batch form above and the streaming monitor
    * (Streaming.hourlyAnomalyWriter), so the two can never disagree on
    * the formula. */
  def anomalyFromHourlyCounts(hourlyCounts: DataFrame,
                              trailingHours: Int = 24): DataFrame = {
    val w = Window.orderBy("__sec")
      .rangeBetween(-trailingHours * 3600L, -3600L)
    val mu = col("__sx").cast("double") / col("__c")
    val varTop = col("__sxx") - col("__sx").cast("double") * col("__sx") / col("__c")
    hourlyCounts
      .withColumn("__sec", unix_seconds(col("hour")))
      .withColumn("__c", count(lit(1)).over(w))
      .withColumn("__sx", sum("n").over(w))
      .withColumn("__sxx", sum(col("n") * col("n")).over(w))
      .select(date_format(col("hour"), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("n"),
        when(col("__c") > 1 && varTop > 0,
          round((col("n") - mu) / sqrt(varTop / (col("__c") - 1)), 4))
          .as("z_score"))
      .orderBy("hour")
  }

  /** Gap-based sessionization (batch): a new session starts after >gap of
    * user inactivity. Gap compares integer microseconds (unix_micros) so
    * the boundary is exact in both engines. */
  def sessionize(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    val byUserTime = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val gapMicros = gapMinutes * 60L * 1000000L
    events
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(byUserTime))
      .withColumn("new_session",
        when(col("prev_us").isNull ||
          unix_micros(col("ts")) - col("prev_us") > gapMicros, 1L).otherwise(0L))
      .withColumn("session_id", sum(col("new_session")).over(
        byUserTime.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"),
        fmtTs(min(col("ts"))).as("session_start"),
        fmtTs(max(col("ts"))).as("session_end"))
      .orderBy("user_id", "session_id")
  }

  /** Peak concurrent sessions per day — the sweep-line form: each
    * session (from the same gap-sessionization as `sessionize`) emits a
    * +1 boundary at its start and a -1 at its end, a per-DAY running sum
    * walks the boundaries in (t, start-before-end) order, and a
    * broadcast carry-in row per day counts the sessions already open at
    * midnight. Intervals are CLOSED: a session ending at the exact
    * instant another starts overlaps it, hence starts sort first.
    * Reports, per day, the maximum concurrency over that day's boundary
    * instants and the earliest instant attaining it. (A day with no
    * boundary at all — a multi-day session crossing it silently — has no
    * row; gap sessions are minutes long, and the day spine is taken from
    * the boundaries themselves.)
    *
    * Scale notes (100 TB): the classic interval-overlap self-join is
    * O(sessions x avg_overlap); the sweep is one window pass. And the
    * running sum is NOT a global single-task sort: it partitions by day,
    * with cross-midnight state reduced to one bounded carry count per
    * day, joined broadcast — the distributed prefix-sum split. Within a
    * tied (t, d) block the prefix-sum multiset is permutation-invariant
    * (equal deltas), so day-max and argmin-t are deterministic without a
    * total row order. */
  def concurrencyDaily(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    val s = sessionize(events, gapMinutes)
      .select(to_timestamp(col("session_start")).as("st"),
        to_timestamp(col("session_end")).as("en"))
      .localCheckpoint(true) // read 3x: bounds twice via union, carry once
    val bounds = s.select(col("st").as("t"), lit(1L).as("d"))
      .unionByName(s.select(col("en").as("t"), lit(-1L).as("d")))
      .withColumn("day", to_date(col("t")))
    val days = bounds.select(col("day")).distinct()
    // sessions already open when the day starts: st < midnight <= en
    val carry = s.join(broadcast(days),
        col("st") < col("day").cast("timestamp") &&
          col("en") >= col("day").cast("timestamp"))
      .groupBy("day").agg(count(lit(1)).as("__carry"))
    val byDay = Window.partitionBy("day")
      .orderBy(col("t"), col("d").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // the alive count AT instant t (closed): a -1 row's inclusive prefix
    // has already subtracted itself, so add it back — ends at t are
    // still alive at t. Within a tied (t, d) block the adjusted values
    // form the same multiset under any permutation, so max and argmin-t
    // stay deterministic.
    val run = bounds
      .withColumn("__c0", sum(col("d")).over(byDay))
      .join(broadcast(carry), Seq("day"), "left")
      .withColumn("__conc", col("__c0") + coalesce(col("__carry"), lit(0L))
        + when(col("d") === -1, lit(1L)).otherwise(lit(0L)))
    run.withColumn("__mx", max(col("__conc")).over(Window.partitionBy("day")))
      .filter(col("__conc") === col("__mx"))
      .groupBy(col("day"))
      .agg(max(col("__mx")).as("max_concurrent"),
        fmtTs(min(col("t"))).as("peak_at"))
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("max_concurrent"), col("peak_at"))
      .orderBy("day")
  }

  /** Per-user profile: volume, type diversity, first/last seen, value sum. */
  def userStats(events: DataFrame): DataFrame =
    events.groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("event_type")).as("n_types"),
        fmtTs(min(col("ts"))).as("first_seen"),
        fmtTs(max(col("ts"))).as("last_seen"),
        sum(money(col("value"))).cast("double").as("total_value"))
      .orderBy("user_id")

  /** Burst dedup (keep-first within a gap): collapse repeats of the same
    * (user, event_type) that arrive within `gapSec` of the PREVIOUS
    * event of the burst — the retry/double-click/replay dedup every
    * telemetry ingest needs before counting anything. Gaps-and-islands:
    * one lag + one running sum per (user_id, event_type), then one
    * aggregate per burst; the kept event is the burst head (earliest by
    * (ts, event_id) — a total, deterministic order). Reports only bursts
    * that actually collapsed (burst_len > 1): the drop-list.
    *
    * Scale notes (100 TB): both window passes partition by
    * (user_id, event_type) — per-key frames, no global sort; the shuffle
    * key matches the aggregate key so the burst groupBy reuses the
    * window exchange. */
  def burstDedup(events: DataFrame, gapSec: Long = 300): DataFrame = {
    val w = Window.partitionBy("user_id", "event_type")
      .orderBy("ts", "event_id")
    val gapMicros = gapSec * 1000000L
    events
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
      .withColumn("head",
        col("prev_us").isNull ||
          unix_micros(col("ts")) - col("prev_us") > gapMicros)
      .withColumn("burst", sum(when(col("head"), 1L).otherwise(0L)).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "event_type", "burst")
      .agg(fmtTs(min(col("ts"))).as("burst_start"),
        count(lit(1)).as("burst_len"),
        min(when(col("head"), col("event_id"))).as("kept_event"))
      .filter(col("burst_len") > 1)
      .select("user_id", "event_type", "burst_start", "burst_len",
        "kept_event")
      .orderBy("user_id", "event_type", "burst_start")
  }

  /** Daily most-frequent event type (agg + ranking window on top). */
  def dailyTopType(events: DataFrame): DataFrame = {
    val daily = events
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("day").orderBy(desc("n"), asc("event_type"))
    daily.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("day", "event_type", "n")
      .orderBy("day")
  }

  /** EWMA-smoothed daily event counts per type: y_1 = x_1, then
    * y_d = α·x_d + (1-α)·y_{d-1} over each type's OBSERVED days in order
    * (a calendar gap is treated as adjacency — the gap-filled variant is
    * `gapFillDaily`'s composition, deliberately a separate op).
    *
    * α = 0.5 on purpose: every step is an exact dyadic average of counts,
    * so the fold is bit-identical in any IEEE engine and the oracle
    * (DuckDB list_reduce over the same ordered list) needs no rounding
    * slack. The recurrence is a sequential fold, which Spark's
    * `aggregate` HOF runs over the per-row prefix list — quadratic in
    * days-per-type, but on the DAY-GRAIN frame: the corpus-sized work is
    * the one (type, day) count aggregate (map-side combined); the fold
    * touches calendar × type-domain rows, a constant at any corpus
    * size. */
  def ewmaDaily(events: DataFrame): DataFrame = {
    val daily = events
      .groupBy(col("event_type"),
        date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily
      .withColumn("xs", collect_list(col("n").cast("double")).over(w))
      .withColumn("ewma", aggregate(
        slice(col("xs"), lit(2), greatest(size(col("xs")) - 1, lit(0))),
        element_at(col("xs"), 1),
        (acc, x) => lit(0.5) * x + lit(0.5) * acc))
      .select(col("event_type"), col("day"), col("n"),
        round(col("ewma"), 6).as("ewma"))
      .orderBy("event_type", "day")
  }

  /** Event-type transition counts (Markov-style first-order paths): for
    * each user's time-ordered event stream, count (type -> next type)
    * pairs. One window pass, no self-join; the shuffle key is user_id. */
  def typeTransitions(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    events
      .select(col("event_type").as("from_type"),
        lead(col("event_type"), 1).over(w).as("to_type"))
      .filter(col("to_type").isNotNull)
      .groupBy("from_type", "to_type").agg(count(lit(1)).as("n"))
      .orderBy("from_type", "to_type")
  }

  /** Stationary distribution of the first-order event-type Markov chain
    * (where a user's session *settles*): row-normalize the transition
    * counts into P, give terminal-only types a self-loop so mass is
    * conserved, and run `iters` unrolled power-iteration rounds from the
    * uniform vector — the pageRankFromPairs discipline (double sums per
    * round, one round(6) anchor at the end, oracle = the same rounds
    * unrolled CTE-by-CTE). Types whose mass has fully drained report 0.
    * The rounds are a [[graft.Fixpoint.iterate]] loop: one lazy plan,
    * checkpointed every [[graft.Fixpoint.CheckpointEvery]] rounds.
    *
    * Scale notes (100 TB): the chain state is TYPE-cardinality (tens of
    * rows) — every join after the one transition-counting pass is over
    * type-sized frames, so iteration cost is independent of event
    * volume. */
  def markovStationary(events: DataFrame, iters: Int = 3): DataFrame = {
    // Round-9 (guide §1.2 step 1): tr is TYPE-pair-cardinality (tens of
    // rows) but its lineage is the corpus window pass — and it feeds p's
    // checkpoint, types.count(), and the final types join, so the
    // user_id exchange + lead window ran THREE times per query. One
    // eager checkpoint of the tiny count table pays the scan once.
    val tr = typeTransitions(events).localCheckpoint(true)
    val out = tr.groupBy("from_type").agg(sum("n").as("__out"))
    val types = tr.select(col("from_type").as("t"))
      .unionByName(tr.select(col("to_type").as("t"))).distinct()
    val p = tr.join(out, Seq("from_type"))
      .select(col("from_type"), col("to_type"),
        (col("n").cast("double") / col("__out")).as("p"))
      .unionByName(types
        .join(out.withColumnRenamed("from_type", "t"), Seq("t"), "left_anti")
        .select(col("t").as("from_type"), col("t").as("to_type"),
          lit(1.0).as("p")))
      .localCheckpoint(true)
    val n = types.count().toDouble
    if (n == 0)
      return types.select(col("t").as("event_type"),
        round(lit(0.0), 6).as("stationary"))
    val init = types.select(col("t").as("event_type"), (lit(1.0) / n).as("pi"))
    val pi = graft.Fixpoint.iterate(init, iters) { pi =>
      p.join(pi.withColumnRenamed("event_type", "from_type"), Seq("from_type"))
        .groupBy(col("to_type").as("event_type"))
        .agg(sum(col("pi") * col("p")).as("pi"))
    }
    types.join(pi.withColumnRenamed("event_type", "t"), Seq("t"), "left")
      .select(col("t").as("event_type"),
        round(coalesce(col("pi"), lit(0.0)), 6).as("stationary"))
      .orderBy("event_type")
  }

  /** Slowly-changing-dimension TYPE-2 build from a CDC change feed — the
    * warehouse-maintenance op that turns an event log into a versioned
    * dimension with validity intervals. `changeType` events set the
    * user's attribute (here: the `value` band); the build
    *
    *   1. collapses NO-OP updates (same band as the user's previous
    *      change — CDC feeds are full-row images, most carry no change),
    *   2. assigns version numbers per user,
    *   3. derives [valid_from, valid_to) from each change's timestamp and
    *      its successor's (lead), with the open current version flagged.
    *
    * Scale shape: ONE exchange by user_id; the no-op-collapse lag, the
    * version row_number, and the interval lead all share that partitioning
    * and sort (Spark plans one Sort under three Window ops), and per-user
    * width is the user's change count — never corpus-proportional. The
    * band is floor(value / band): a single double division both engines
    * evaluate identically on the same parquet doubles. */
  def scdType2(events: DataFrame, changeType: String = "purchase",
               band: Double = 50.0): DataFrame =
    scdFromChanges(scdChanges(events, changeType, band))
      .orderBy("user_id", "version")

  /** The change extraction (filter + tier band) — shared with the
    * streaming incremental maintainer so the two can't disagree on the
    * banding. */
  def scdChanges(events: DataFrame, changeType: String = "purchase",
                 band: Double = 50.0): DataFrame =
    events.filter(col("event_type") === changeType)
      .select(col("user_id"), col("ts"), col("event_id"),
        floor(col("value") / band).cast("long").as("tier"))

  /** The ONE versioning formula over extracted (user_id, ts, event_id,
    * tier) changes — consecutive-no-op collapse, version numbering,
    * [valid_from, valid_to) intervals. Single source for the batch
    * operator (above) and `Streaming.scdType2Writer`'s per-user
    * recompute: if the two ever drifted, the streamed dimension would
    * silently diverge from `ev_scd2`. UNordered output — batch callers
    * add their own total ORDER BY; the incremental writer merges on key. */
  def scdFromChanges(changes: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    changes
      .withColumn("__prev", lag(col("tier"), 1).over(w))
      .filter(col("__prev").isNull || col("tier") =!= col("__prev"))
      .drop("__prev")
      .withColumn("version", row_number().over(w))
      .withColumn("__next", lead(col("ts"), 1).over(w))
      .select(col("user_id"), col("version"), col("tier"),
        fmtTs(col("ts")).as("valid_from"),
        fmtTs(col("__next")).as("valid_to"), // null on the open version
        col("__next").isNull.as("is_current"))
  }

  /** CDC changelog apply (latest-wins with tombstones): materialize the
    * current per-key state from an append-only change stream — the
    * MERGE-free equivalent of a Delta/Hudi snapshot read, and the op an
    * ingestion pipeline runs to turn a Kafka-compacted topic into a
    * queryable table. Each event upserts its (event_type, value) for its
    * user; `tombstoneType` events delete the key. Change order is total:
    * (ts, event_id) — a replayed or reordered feed converges to the same
    * state.
    *
    * Scale notes (100 TB): ONE exchange by key for the latest-wins
    * window — no self-join, no driver state; at 10^10 keys the window is
    * a per-partition sort within the hash exchange. This beats the
    * naive groupBy(max(ts))+join-back plan (two exchanges + a join) and
    * is what a compacted-topic materialization must look like at scale. */
  def cdcApply(changes: DataFrame, tombstoneType: String = "error"): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").desc, col("event_id").desc)
    changes
      .withColumn("__rn", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(Window.partitionBy("user_id")))
      .filter(col("__rn") === 1 && col("event_type") =!= tombstoneType)
      .select(col("user_id"), col("event_id").as("last_event_id"),
        col("event_type").as("last_type"),
        money(col("value")).cast("double").as("last_value"),
        fmtTs(col("ts")).as("updated_at"), col("__n").as("n_changes"))
      .orderBy("user_id")
  }

  /** Calendar densification with LOCF (last observation carried
    * forward): each user's daily purchase total, filled over the full
    * [first, last] day spine — the gap-fill every downstream time-series
    * consumer (forecasting, retention models) needs, since "no row" and
    * "no purchases" are different facts. Fill is the portable
    * carry-group formulation (count-of-observed as the group key, max
    * within group) rather than IGNORE NULLS, so both engines express it
    * identically.
    *
    * Scale notes (100 TB): the spine explodes per user-day — bounded by
    * span length, not event count — and both window passes share the
    * one exchange by user; the raw event table is touched once by the
    * daily pre-aggregation (map-side combined). */
  def gapFillDaily(events: DataFrame, changeType: String = "purchase"): DataFrame = {
    val daily = events.filter(col("event_type") === changeType)
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(sum(money(col("value"))).as("__obs"))
    val spine = daily.groupBy("user_id")
      .agg(min("day").as("d0"), max("day").as("d1"))
      .select(col("user_id"), explode(sequence(col("d0"), col("d1"))).as("day"))
    val wOrd = Window.partitionBy("user_id").orderBy("day")
    spine.join(daily, Seq("user_id", "day"), "left")
      .withColumn("__grp", count(col("__obs")).over(wOrd))
      .withColumn("value",
        max(col("__obs")).over(Window.partitionBy("user_id", "__grp"))
          .cast("double"))
      .select(col("user_id"), date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("value"), col("__obs").isNotNull.as("observed"))
      .orderBy("user_id", "day")
  }

  /** GROWTH ACCOUNTING — the product-analytics daily report: per day,
    * active users (DAU), first-seen (new) users, returning users, and
    * the cumulative user count. "New" is a pure function of each user's
    * min day, so replays and backfills are idempotent.
    *
    * Scale notes (100 TB): events reduce to DISTINCT (user, day) in one
    * map-side-combined pass; first-seen is a per-user min over that
    * reduced frame (same exchange); the final frame is DAYS-cardinality
    * — bounded by the calendar, not the corpus — so the unpartitioned
    * cumulative window over it is a deliberate single-partition pass
    * over a few thousand rows at most, never event-scale data. */
  def growthAccounting(events: DataFrame): DataFrame = {
    val daily = events
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    val first = daily.groupBy("user_id").agg(min("day").as("__first"))
    val perDay = daily.join(first, Seq("user_id"))
      .groupBy("day")
      .agg(count(lit(1)).as("dau"),
        sum((col("day") === col("__first")).cast("long")).as("new_users"))
    val w = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perDay
      .withColumn("returning_users", col("dau") - col("new_users"))
      .withColumn("cum_users", sum("new_users").over(w))
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("dau"), col("new_users"), col("returning_users"),
        col("cum_users"))
      .orderBy("day")
  }

  /** JSON prop extraction: sum of props.k per event type. */
  def propsKSumByType(events: DataFrame): DataFrame =
    events.groupBy("event_type")
      .agg(sum(get_json_object(col("props"), "$.k").cast("long")).as("sum_k"))
      .orderBy("event_type")

  /** Pivot: days x event types contingency counts (explicit value list so
    * the output schema is static — required both for determinism and for
    * not scanning the data twice to infer pivot columns). */
  def typeByDayPivot(events: DataFrame,
                     types: Seq[String] = Seq("click", "error", "purchase", "signup", "view")): DataFrame =
    events.groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .pivot("event_type", types)
      .agg(count(lit(1)))
      .na.fill(0L, types)
      .orderBy("day")

  /** Time-RANGE window frame: per event, count + exact value sum of the
    * same user's events in the trailing `windowMinutes`. Unlike the
    * tumbling/sliding bucket aggregations this is a per-ROW trailing
    * window, and unlike ROWS frames it is gap-aware — the frame is bounded
    * by event TIME, not row count. Ordering key is integer microseconds so
    * the frame boundary is exact in both engines; RANGE includes same-µs
    * peers identically on both sides. One shuffle on user_id. */
  def rollingUserValue(events: DataFrame, windowMinutes: Int = 60): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts_us")
      .rangeBetween(-windowMinutes * 60L * 1000000L, Window.currentRow)
    events
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("ts_us"),
        money(col("value")).as("v"))
      .withColumn("n_trailing", count(lit(1)).over(w))
      .withColumn("sum_trailing", sum(col("v")).over(w).cast("double"))
      .select("event_id", "user_id", "n_trailing", "sum_trailing")
      .orderBy("event_id")
  }

  /** UNPIVOT (melt): the day x type contingency matrix back to long form,
    * zero rows included — the inverse of typeByDayPivot, used when a
    * wide metrics table must feed a long-format consumer. Pure per-row
    * Expand (one row in, |types| rows out): no shuffle beyond the pivot's
    * own aggregation. */
  def unpivotTypeByDay(events: DataFrame,
                       types: Seq[String] = Seq("click", "error", "purchase", "signup", "view")): DataFrame =
    typeByDayPivot(events, types)
      .unpivot(Array(col("day")), types.map(col).toArray, "event_type", "n")
      .orderBy("day", "event_type")

  /** Cohort retention: users grouped by first-signup day, counted on each
    * day-offset they were active. */
  def cohortRetention(events: DataFrame): DataFrame = {
    val cohorts = events.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min(to_date(col("ts"))).as("cohort_day"))
    val activity = events.select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    activity.join(cohorts, Seq("user_id"))
      .withColumn("day_offset", datediff(col("day"), col("cohort_day")).cast("long"))
      .filter(col("day_offset") >= 0)
      .groupBy("cohort_day", "day_offset")
      .agg(countDistinct(col("user_id")).as("n_users"))
      .select(date_format(col("cohort_day"), "yyyy-MM-dd").as("cohort_day"),
        col("day_offset"), col("n_users"))
      .orderBy("cohort_day", "day_offset")
  }

  /** A/B experiment readout: users assigned to two arms by the
    * samp_hash_split md5 contract (`sampleKey` first hex char < '8' → A
    * — deterministic, layout- and engine-invariant, the property real
    * experiment systems need so reassignment never happens), conversion
    * = any purchase event, and the two-proportion z-score under the
    * pooled-variance null — the number a launch review reads.
    *
    * Determinism: counts are exact longs; rates, the pooled variance,
    * and z evaluate once, in one fixed double tree over those longs
    * (the qualityRegression rule). Degenerate pools (zero variance)
    * report z = 0 by the same CASE in both engines.
    *
    * Scale: ONE user-keyed aggregate (conversion flag + arm are both
    * per-user scalars), then a 2-row census; the z arithmetic runs on
    * the 2-row frame against broadcast totals. */
  def abTestReport(events: DataFrame, seed: Long = 0L): DataFrame = {
    val users = events.groupBy("user_id").agg(
      max(when(col("event_type") === "purchase", 1L).otherwise(0L))
        .as("converted"))
      .withColumn("arm",
        when(substring(graft.sources.Sampling.sampleKey(col("user_id"),
          seed), 1, 1) < "8", "A").otherwise("B"))
    val census = users.groupBy("arm").agg(
      count(lit(1)).as("n_users"), sum("converted").as("n_converted"))
    val tot = census.agg(sum("n_users").as("nt"),
      sum("n_converted").as("ct"))
    census.crossJoin(broadcast(tot))
      .withColumn("rate",
        col("n_converted").cast("double") / col("n_users").cast("double"))
      .withColumn("p_pool", col("ct").cast("double") / col("nt").cast("double"))
      // z for THIS arm vs the complementary arm, symmetric by construction
      .withColumn("n_other", (col("nt") - col("n_users")).cast("double"))
      .withColumn("r_other",
        (col("ct") - col("n_converted")).cast("double") / col("n_other"))
      .withColumn("se2", col("p_pool") * (lit(1.0) - col("p_pool")) *
        (lit(1.0) / col("n_users").cast("double") + lit(1.0) / col("n_other")))
      .select(col("arm"), col("n_users"), col("n_converted"),
        round(col("rate"), 6).as("rate"),
        round(when(col("n_other") > 0.0 && col("se2") > 0.0,
          (col("rate") - col("r_other")) / sqrt(col("se2")))
          .otherwise(lit(0.0)), 6).as("z_score"))
      .orderBy("arm")
  }

  /** Retention decay fit: the pooled day-offset retention curve (active
    * users at offset d over the signup population, the cohortRetention
    * grid collapsed across cohorts) with an exponential-decay OLS fit
    * ln(rate) ~ d over offsets >= 1 — the one-number summary (daily decay
    * lambda, half-life) a growth report tracks across releases where the
    * full cohort grid is too wide to eyeball.
    *
    * Determinism: rates are exact-integer divisions; ln runs on those
    * doubles (identical both engines — the bm25 ln precedent); OLS sums
    * accumulate as DECIMAL(28,18) (order-free, the zipfFit rule);
    * lambda/half-life derive from the sums in one fixed double tree.
    *
    * Scale: inherits cohortRetention's shape (user-keyed distinct + one
    * (cohort, offset) agg); the curve frame is offset-cardinality (days —
    * tiny), the fit is over that frame only. */
  def retentionDecayFit(events: DataFrame): DataFrame = {
    val cohorts = events.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min(to_date(col("ts"))).as("cohort_day"))
    val nTotal = cohorts.agg(count(lit(1)).as("n_total"))
    val activity = events.select(col("user_id"),
      to_date(col("ts")).as("day")).distinct()
    val curve = activity.join(cohorts, Seq("user_id"))
      .withColumn("day_offset",
        datediff(col("day"), col("cohort_day")).cast("long"))
      .filter(col("day_offset") >= 0)
      .groupBy("day_offset")
      .agg(countDistinct(col("user_id")).as("n_users"))
      .crossJoin(broadcast(nTotal))
      .withColumn("rate",
        col("n_users").cast("double") / col("n_total").cast("double"))
    val x = col("day_offset").cast("double")
    val y = log(col("rate"))
    val dec = "decimal(28,18)"
    val fit = curve.filter(col("day_offset") >= 1 && col("rate") > 0).agg(
      count(lit(1)).as("n"),
      sum(x.cast(dec)).as("sx"), sum(y.cast(dec)).as("sy"),
      sum((x * x).cast(dec)).as("sxx"), sum((x * y).cast(dec)).as("sxy"))
    val nD = col("n").cast("double")
    val sxD = col("sx").cast("double"); val syD = col("sy").cast("double")
    val sxxD = col("sxx").cast("double"); val sxyD = col("sxy").cast("double")
    val den = nD * sxxD - sxD * sxD
    val slope = when(den === 0.0, 0.0)
      .otherwise((nD * sxyD - sxD * syD) / den)
    val lam = fit.withColumn("s", slope)
      .select(round(-col("s"), 6).as("decay_lambda"),
        round(when(col("s") < 0.0, lit(-math.log(2.0)) / col("s"))
          .otherwise(lit(0.0)), 6).as("half_life_days"))
    curve.crossJoin(broadcast(lam))
      .select(col("day_offset"), col("n_users"), round(col("rate"), 6)
        .as("rate"), col("decay_lambda"), col("half_life_days"))
      .orderBy("day_offset")
  }

  /** Watermark lateness audit: replay the event log in ARRIVAL order
    * (event_id — the append sequence) per shard and measure how many
    * events a streaming watermark of `delayMinutes` would have dropped,
    * and by how much — the batch dry-run you do before picking a
    * watermark for the Structured Streaming jobs (graft.streaming), where
    * the same policy silently discards late rows.
    *
    * Per shard the watermark before event e is max(event time) over
    * earlier-ARRIVED events minus the delay; e is late iff its event time
    * is below that. The first arrival in a shard is never late.
    *
    * Scale notes (100 TB): the running max is inherently sequential per
    * shard — exactly as in the streaming engine it models — so
    * parallelism equals shard count, which in production is the log's
    * physical partition count (Kafka: thousands). One window pass, state
    * is a single long per shard, and the output is shard-cardinality. */
  def watermarkLateAudit(events: DataFrame, delayMinutes: Int = 10,
                         shards: Int = 16): DataFrame = {
    val delayUs = delayMinutes * 60L * 1000000L
    val w = Window.partitionBy("shard").orderBy("event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val isLate = col("wm").isNotNull && col("us") < col("wm") - delayUs
    events
      .select(col("event_id"), (col("user_id") % shards).as("shard"),
        unix_micros(col("ts")).as("us"))
      .withColumn("wm", max("us").over(w))
      .select(col("shard"), isLate.cast("long").as("late"),
        when(isLate, col("wm") - delayUs - col("us")).otherwise(0L).as("late_us"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_events"), sum("late").as("n_late"),
        round(sum("late").cast("double") / count(lit(1)), 4).as("late_frac"),
        max("late_us").as("max_late_us"))
      .orderBy("shard")
  }

  /** Multi-touch attribution: credit each conversion's value back to the
    * touch events (marketing channels) that preceded it within a lookback
    * window — the revenue-accounting join every event pipeline ships.
    * Reports BOTH standard models side by side, one row per channel:
    *
    *   - last-touch: the full value goes to the most recent qualifying
    *     touch's type ("direct" when none exists in the lookback);
    *   - linear: the value splits evenly across ALL qualifying touches,
    *     so a channel earns value * (its touches / all touches) per
    *     conversion.
    *
    * "Preceding" is lexicographic (ts, event_id) — same-microsecond
    * touches count as before a later-id conversion — and "qualifying"
    * adds ts >= conversion ts - lookback. The two models share that
    * definition, so a conversion is "direct" in both or neither.
    *
    * Determinism: per-(conversion, channel) linear credit is one double
    * expression (value * n_c / k) rounded to 6 decimals, then summed as
    * DECIMAL(18,6) — order-independent across partitions and engines;
    * last-touch sums accumulate as DECIMAL(18,2). Both surface as DOUBLE.
    *
    * Scale notes (100 TB): the last-touch pass is ONE window over the
    * (touch|conversion) subset keyed by user_id — no join. The linear
    * pass joins conversions to touches on user_id (AQE skew-splits hot
    * users); the lookback bounds per-conversion fan-out by the user's
    * touch rate, never by history length. Final aggregates are
    * channel-cardinality — broadcast-sized. */
  def attribution(events: DataFrame,
                  touchTypes: Seq[String] = Seq("click", "view"),
                  convType: String = "purchase",
                  lookbackMinutes: Int = 120): DataFrame = {
    val lookUs = lookbackMinutes * 60L * 1000000L
    val base = events
      .filter(col("event_type").isin(touchTypes :+ convType: _*))
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"), money(col("value")).as("v"))
    // last-touch: carry the latest preceding touch forward per user
    val w = Window.partitionBy("user_id").orderBy("us", "event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val isTouch = col("event_type").isin(touchTypes: _*)
    val lastTouch = base
      .withColumn("lt_type",
        last(when(isTouch, col("event_type")), ignoreNulls = true).over(w))
      .withColumn("lt_us",
        last(when(isTouch, col("us")), ignoreNulls = true).over(w))
      .filter(col("event_type") === convType)
      .select(col("v"),
        when(col("lt_us").isNotNull && col("lt_us") >= col("us") - lookUs,
          col("lt_type")).otherwise(lit("direct")).as("channel"))
      .groupBy("channel")
      .agg(count(lit(1)).as("n_conv"),
        sum(col("v")).cast("double").as("value_last"))
    // linear: per-conversion touch counts by channel within the lookback
    val conv = base.filter(col("event_type") === convType)
      .select(col("event_id").as("cid"), col("user_id"),
        col("us").as("cus"), col("v"))
    val touch = base.filter(isTouch)
      .select(col("event_id").as("tid"), col("user_id"),
        col("event_type").as("channel"), col("us").as("tus"))
    val hits = conv.join(touch, Seq("user_id"))
      .filter(col("tus") >= col("cus") - lookUs &&
        (col("tus") < col("cus") ||
          (col("tus") === col("cus") && col("tid") < col("cid"))))
    val perConv = hits.groupBy("cid", "v", "channel")
      .agg(count(lit(1)).as("n_c"))
      .withColumn("k", sum("n_c").over(Window.partitionBy("cid")))
    val linear = perConv
      .select(col("channel"),
        round(col("v").cast("double") * col("n_c") / col("k"), 6)
          .cast(DecimalType(18, 6)).as("credit"))
      .union(conv.join(hits.select("cid").distinct(), Seq("cid"), "left_anti")
        .select(lit("direct").as("channel"),
          col("v").cast(DecimalType(18, 6)).as("credit")))
      .groupBy("channel")
      .agg(sum("credit").cast("double").as("value_linear"))
    lastTouch.join(linear, Seq("channel"), "full_outer")
      .select(col("channel"),
        coalesce(col("n_conv"), lit(0L)).as("n_conv_last"),
        coalesce(col("value_last"), lit(0.0)).as("value_last"),
        coalesce(col("value_linear"), lit(0.0)).as("value_linear"))
      .orderBy("channel")
  }

  /** Ordered funnel: users who progressed signup -> click -> purchase, each
    * stage strictly after the previous one. Three min-aggregations and two
    * joins — no per-user collect, no window over the full event stream.
    * Returns one row of stage counts. */
  def funnelCounts(events: DataFrame,
                   stages: Seq[String] = Seq("signup", "click", "purchase")): DataFrame = {
    require(stages.nonEmpty)
    val first = events.filter(col("event_type") === stages.head)
      .groupBy("user_id").agg(min("ts").as("t0"))
    val reached = stages.tail.zipWithIndex.foldLeft(Seq(first)) {
      case (acc, (stage, i)) =>
        val prev = acc.last.select(col("user_id"), col(s"t$i").as("tprev"))
        acc :+ events.filter(col("event_type") === stage)
          .join(prev, Seq("user_id"))
          .filter(col("ts") > col("tprev"))
          .groupBy("user_id").agg(min("ts").as(s"t${i + 1}"))
    }
    val counts = reached.zipWithIndex.map { case (df, i) =>
      df.agg(count(lit(1)).as(s"n_stage$i"))
    }
    counts.reduce(_.crossJoin(_))
  }

  /** Top-k entry paths: each user's first `steps` event types in time
    * order, concatenated "a>b>c", counted across users — the sequence
    * census behind onboarding/funnel DESIGN (ev_funnel checks a given
    * stage order; this op discovers which orders actually happen and at
    * what volume).
    *
    * Determinism: the per-user order is the total key (ts, event_type,
    * event_id) — concurrent same-timestamp events cannot reorder across
    * engines — and the path string is assembled from a rank-sorted array,
    * not from aggregation encounter order.
    *
    * Scale: ONE (user_id)-keyed exchange serves both the rank window and
    * the path rollup (the window's hash partitioning satisfies the
    * groupBy); rank<=steps cuts each user to `steps` skinny rows before
    * the rollup, and the final path census is a tiny-domain agg
    * (|types|^steps at most). No global window anywhere. */
  def topEventPaths(events: DataFrame, steps: Int = 3, k: Int = 20)
      : DataFrame = {
    val byUserTime = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("event_type"), col("event_id"))
    val firstSteps = events
      .withColumn("rn", row_number().over(byUserTime))
      .filter(col("rn") <= steps)
      .select(col("user_id"), col("rn"), col("event_type"))
    val paths = firstSteps.groupBy("user_id")
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("rn"), col("event_type")))),
        s => s.getField("event_type")), ">").as("path"))
    paths.groupBy("path").agg(count(lit(1)).as("n_users"))
      .orderBy(col("n_users").desc, col("path"))
      .limit(k)
  }

  /** RFM segmentation: users bucketed into quartiles of Recency (days
    * since last event, vs the corpus max date), Frequency (event count)
    * and Monetary (exact DECIMAL(18,2) value sum, carried as integer
    * cents), reported as the 4x4x4 segment census — the standard
    * user-base health matrix. r_q = 1 is MOST recent (smallest gap).
    *
    * Quartile boundaries are percentile_disc SPELLED OUT — smallest
    * metric value whose cumulative user count reaches ceil(p*n), with
    * ceil as pure integer arithmetic ((n+3) DIV 4 etc.) — because the
    * engines' builtin quantile definitions differ; a value sitting on a
    * boundary buckets identically in both engines since everything is
    * exact integers.
    *
    * Scale: one (user_id) aggregate reduces events to user grain; each
    * boundary derives from a cumulative window over the metric's VALUE
    * HISTOGRAM (distinct recency-days / frequencies / cent-amounts —
    * support-bounded, the percentileCalibration argument), never a rank
    * over users; users then join three broadcast 1-row boundary frames
    * and reduce to <= 64 segment rows. */
  def rfmSegments(events: DataFrame): DataFrame = {
    val users = events.groupBy("user_id").agg(
      max(col("ts")).as("last_ts"),
      count(lit(1)).as("freq"),
      sum(col("value").cast(DecimalType(18, 2))).as("money"))
    val ref = events.agg(max(to_date(col("ts"))).as("ref_date"))
    val u = users.crossJoin(broadcast(ref))
      .select(col("user_id"),
        datediff(col("ref_date"), to_date(col("last_ts")))
          .cast("long").as("rec"),
        col("freq"),
        (col("money") * 100).cast("long").as("cents"))
    // smallest v with cum(v) >= ceil(q*n), q = 1/4, 2/4, 3/4 — exact ints.
    // The cumulative sum is the two-level prefix-sum split (the
    // ev_concurrency carry pattern), NOT one flat Window.orderBy(v): the
    // cents histogram's support is near user cardinality (decimal sums
    // are almost unique per user), so a flat window would sort ~|users|
    // rows in one task. Coarse value buckets (v div 2^16) bound the
    // unpartitioned window by occupied-bucket count — value RANGE / 2^16,
    // independent of user count — and the in-bucket window partitions by
    // bucket; carry-in joins broadcast. cum(v) is bit-identical to the
    // flat spelling, so the oracle is untouched.
    def bounds(metric: String): DataFrame = {
      val W = 65536L
      val hist = u.groupBy(col(metric).as("v")).agg(count(lit(1)).as("c"))
        .withColumn("bk", expr(
          s"CASE WHEN v >= 0 THEN v div $W ELSE -(((-v) + ${W - 1}) div $W) END"))
      val carry = hist.groupBy("bk").agg(sum("c").as("bc"))
        .withColumn("carry", coalesce(
          sum("bc").over(Window.orderBy("bk")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select("bk", "carry")
      val cum = hist.join(broadcast(carry), Seq("bk"))
        .withColumn("cum", col("carry") +
          sum("c").over(Window.partitionBy("bk").orderBy("v")
            .rowsBetween(Window.unboundedPreceding, 0)))
        .crossJoin(broadcast(u.agg(count(lit(1)).as("n"))))
      cum.agg(
        min(when(col("cum") >= expr("(n + 3) DIV 4"), col("v")))
          .as(s"${metric}_b1"),
        min(when(col("cum") >= expr("(n + 1) DIV 2"), col("v")))
          .as(s"${metric}_b2"),
        min(when(col("cum") >= expr("(3 * n + 3) DIV 4"), col("v")))
          .as(s"${metric}_b3"))
    }
    def quartile(metric: String): Column =
      lit(1) + (col(metric) > col(s"${metric}_b1")).cast("int") +
        (col(metric) > col(s"${metric}_b2")).cast("int") +
        (col(metric) > col(s"${metric}_b3")).cast("int")
    u.crossJoin(broadcast(bounds("rec")))
      .crossJoin(broadcast(bounds("freq")))
      .crossJoin(broadcast(bounds("cents")))
      .select(col("user_id"), col("cents"),
        quartile("rec").as("r_q"), quartile("freq").as("f_q"),
        quartile("cents").as("m_q"))
      .groupBy("r_q", "f_q", "m_q")
      .agg(count(lit(1)).as("n_users"),
        (sum("cents").cast("double") / 100.0).as("total_value"))
      .orderBy("r_q", "f_q", "m_q")
  }
}
