package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.DecimalType

/** Structured Streaming forms of the graft.events operators (SURVEY.md
  * §2.8 / §7.3 step 3): same logical aggregations, expressed over an
  * unbounded source with watermarks. Batch equivalents carry the DuckDB
  * oracle; these carry MemoryStream tests (StreamingSpec).
  *
  * Scale notes: state lives in the state store keyed by (window, type) or
  * session key — partitioned by the same shuffle as the batch plan, so a
  * 1000-executor cluster shards state horizontally. Watermarks bound state
  * size; without them these aggregations would grow forever.
  */
object Streaming {

  /** Tumbling 1-hour counts/sums per event type with late-data cutoff.
    * Append-mode emits a window only once its watermark passes. */
  def tumblingHourly(events: DataFrame, watermarkDelay: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Sliding 1-hour/30-minute windows — each event contributes to 2
    * overlapping windows, state bounded by the watermark. */
  def slidingHourly(events: DataFrame, watermarkDelay: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), "1 hour", "30 minutes"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("n"))

  /** Event-time sessionization via the native session_window: gap-merged
    * per-user sessions, closed by the watermark. */
  def sessionWindows(events: DataFrame, gap: String = "30 minutes",
                     watermarkDelay: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"))

  /** Custom keyed state (the mapGroupsWithState surface): running event
    * count + last-seen epoch micros per user, updated per micro-batch. */
  case class UserRunning(userId: Long, nEvents: Long, lastSeenUs: Long)

  def runningUserCounts(events: Dataset[(Long, Long)]): Dataset[UserRunning] = {
    import events.sparkSession.implicits._
    events.groupByKey(_._1)
      .mapGroupsWithState[UserRunning, UserRunning](GroupStateTimeout.NoTimeout) {
        case (userId, rows, state: GroupState[UserRunning]) =>
          val prev = state.getOption.getOrElse(UserRunning(userId, 0L, Long.MinValue))
          val batch = rows.toSeq
          val next = UserRunning(userId, prev.nEvents + batch.size,
            math.max(prev.lastSeenUs, batch.map(_._2).max))
          state.update(next)
          next
      }
  }

  /** Stream-stream interval join: each left event pairs with right events
    * of the same key whose time is within [-before, +after] of it. Both
    * sides carry watermarks and the join condition carries the time bounds
    * — the combination is what lets Spark age out buffered rows on BOTH
    * sides (an unbounded-time stream-stream join would buffer forever).
    * The batch sibling is TemporalJoins.bandedRangeJoin.
    *
    * `joinType` "leftOuter" is the attribution-with-timeout form: a left
    * event with no partner inside the window is EMITTED (right columns
    * null) once the watermark proves no partner can still arrive —
    * exactly the state-eviction moment, so outer results cost no extra
    * buffering over the inner join. */
  def intervalJoin(left: DataFrame, right: DataFrame, key: String,
                   leftTime: String, rightTime: String,
                   before: String = "10 minutes", after: String = "10 minutes",
                   watermarkDelay: String = "1 hour",
                   joinType: String = "inner"): DataFrame = {
    val l = left.withWatermark(leftTime, watermarkDelay)
    val r = right.withWatermark(rightTime, watermarkDelay)
    l.join(r,
      l(key) === r(key) &&
        r(rightTime) >= l(leftTime) - expr(s"INTERVAL $before") &&
        r(rightTime) <= l(leftTime) + expr(s"INTERVAL $after"),
      joinType)
      .drop(r(key))
  }

  /** Streaming incremental index maintenance — the reference's S8/A8
    * upsert path (app/mapreduce/reducer2.py:25-45) as a foreachBatch loop:
    * each micro-batch of new docs is merged into the persisted term
    * frequencies by idempotent recompute-union
    * (InvertedIndex.mergeTermFrequency), and the result overwrites the
    * store. Exactly the Cassandra read-modify-write semantics, minus the
    * per-key round-trips: one distributed merge per batch.
    *
    * Returns the DataStreamWriter (caller starts/stops the query). The
    * store path holds ONE parquet table `term_frequency_in_doc`; an empty
    * or absent store bootstraps from the first batch. The write-then-swap
    * below assumes a single writer on a posix-rename filesystem (the same
    * assumption the reference's local-mode file writes make); on a real
    * cluster the swap step is what a transactional table format replaces. */
  def incrementalIndexWriter(docs: DataFrame, storeDir: String):
      org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        val p = graft.sources.AtomicStore.paths(storeDir, "term_frequency_in_doc")
        val src = graft.sources.AtomicStore.live(p)
        val merged = src match {
          case Some(f) => graft.index.InvertedIndex.mergeTermFrequency(
            spark.read.parquet(f.getPath), batch)
          case None => graft.index.InvertedIndex.termFrequency(batch)
        }
        merged.write.mode("overwrite").parquet(p.tmp.getPath)
        graft.sources.AtomicStore.promote(p, src, "incrementalIndexWriter")
        ()
      }

  /** Session-close events via flatMapGroupsWithState: per-user event
    * counts are held in keyed state and EMITTED ONLY when a session
    * closes — either the event-time timeout fires after `gapMinutes` of
    * silence, or a new event arrives more than the gap after the open
    * session's last event (sessions must split on EVENT-time gaps even
    * when the events arrive together, e.g. during a backlog replay — a
    * watermark-only check would merge a whole replayed day into one
    * session). This emit-zero-or-many shape is what mapGroupsWithState
    * (exactly one row per invocation) can't express. State is bounded by
    * the watermark-driven timeout. Input rows are (user_id, epoch
    * micros). */
  case class SessionState(nEvents: Long, lastSeenUs: Long)
  case class ClosedSession(userId: Long, nEvents: Long, lastSeenUs: Long)

  def sessionCloser(events: Dataset[(Long, Long)],
                    gapMinutes: Int = 30): Dataset[ClosedSession] = {
    import events.sparkSession.implicits._
    val gapUs = gapMinutes * 60L * 1000000L
    events.toDF("user_id", "us")
      .withColumn("ts", timestamp_micros(col("us")))
      .withWatermark("ts", "10 minutes")
      .as[(Long, Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[SessionState, ClosedSession](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (userId, rows, state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            // gap elapsed with no new events: flush and clear
            val s = state.get
            state.remove()
            Iterator(ClosedSession(userId, s.nEvents, s.lastSeenUs))
          } else {
            // fold events in event-time order, closing a session whenever
            // the NEXT event is more than the gap after the last one
            val closed = Seq.newBuilder[ClosedSession]
            var cur = state.getOption.orNull
            rows.map(_._2).toSeq.sorted.foreach { t =>
              cur match {
                case null =>
                  cur = SessionState(1L, t)
                case s if t - s.lastSeenUs > gapUs =>
                  closed += ClosedSession(userId, s.nEvents, s.lastSeenUs)
                  cur = SessionState(1L, t)
                case s =>
                  cur = SessionState(s.nEvents + 1, math.max(s.lastSeenUs, t))
              }
            }
            state.update(cur)
            state.setTimeoutTimestamp(
              cur.lastSeenUs / 1000L + gapMinutes * 60L * 1000L)
            closed.result().iterator
          }
      }
  }

  /** Streaming dedup on a content key (exactly-once emission of first
    * occurrence). `dropDuplicatesWithinWatermark` is the state-bounded
    * form: plain dropDuplicates only evicts when the EVENT-TIME column is
    * part of the dedup keys, so keying on content_hash alone would grow
    * state forever; the WithinWatermark variant expires each key once the
    * watermark passes its event time, which is the semantics a dedup-by-
    * content stream actually wants (same key may legitimately reappear
    * after the late-data horizon). */
  def streamingExactDedup(docs: DataFrame, watermarkDelay: String = "1 hour"): DataFrame =
    docs
      .withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark("content_hash")

  /** Streaming dedup against a PERSISTED fingerprint store — cross-batch,
    * cross-restart dedup against everything ever ingested, which the
    * state-store forms cannot express (dropDuplicatesWithinWatermark
    * forgets each key once the watermark passes; this store never does).
    * Per micro-batch: content-hash the docs, keep the min-doc_id
    * representative per hash WITHIN the batch, anti-join the stored hash
    * set, append the survivors to `outDir`, and merge their hashes into
    * the store with the same checked write-then-swap as
    * incrementalIndexWriter.
    *
    * Delivery contract: survivors are appended BEFORE the store swap, so a
    * crash between the two replays the batch as at-least-once into outDir
    * (duplicates cleaned by any downstream exact dedup) — the reverse
    * order could instead LOSE the batch (hashes already stored => replay
    * anti-joins its own docs away), which is unrecoverable. Scale: the
    * anti-join shuffles by hash only for the batch's rows; the store read
    * is a column-pruned parquet scan. */
  def dedupAgainstStoreWriter(docs: DataFrame, storeDir: String,
                              outDir: String):
      org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        val p = graft.sources.AtomicStore.paths(storeDir, "content_hashes")
        val hashed = batch.withColumn("content_hash", md5(col("text")))
        // deterministic within-batch representative: the min-doc_id row
        // per hash (struct-min, same trick as cheapestOrderPerCustomer)
        val repr = hashed
          .groupBy("content_hash")
          .agg(min(struct(col("doc_id"), col("text"))).as("m"))
          .select(col("m.doc_id").as("doc_id"), col("m.text").as("text"),
            col("content_hash"))
        val src = graft.sources.AtomicStore.live(p)
        // persisted: the survivor frame drives TWO actions (outDir append,
        // store rewrite) — unpersisted it would re-scan the store and
        // re-run the hash aggregation per action (round-3 review)
        val fresh = (src match {
          case Some(f) => repr.join(spark.read.parquet(f.getPath)
            .select("content_hash"), Seq("content_hash"), "left_anti")
          case None => repr
        }).persist()
        try {
          // survivors first (at-least-once), then the store swap
          fresh.select("doc_id", "text", "content_hash")
            .write.mode("append").parquet(outDir)
          val freshHashes = fresh.select("content_hash")
          val nextSeen = src match {
            case Some(f) => spark.read.parquet(f.getPath)
              .select("content_hash").unionByName(freshHashes).distinct()
            case None => freshHashes
          }
          nextSeen.write.mode("overwrite").parquet(p.tmp.getPath)
          graft.sources.AtomicStore.promote(p, src, "dedupAgainstStoreWriter")
        } finally fresh.unpersist()
        ()
      }

  /** Replay-idempotent hourly-count merge for the anomaly monitor. The
    * store keys contributions by batch_id: batches strictly older than the
    * current one are COMMITTED (Structured Streaming replays only the
    * last, uncommitted batch after a crash) and fold into one compacted
    * batch_id = -1 row per hour; the current batch's rows keep their id,
    * REPLACING any same-id rows from a crashed attempt. Re-running the
    * same (store, batch, id) therefore yields the same store — the
    * at-least-once foreachBatch becomes effectively exactly-once for the
    * counts. Store size stays <= 2 rows per hour. */
  private[graft] def mergeHourlyCounts(store: Option[DataFrame],
                                       batchCounts: DataFrame,
                                       batchId: Long): DataFrame = {
    val tagged = batchCounts.withColumn("batch_id", lit(batchId))
    store match {
      case None => tagged
      case Some(st) =>
        val committed = st.filter(col("batch_id") =!= batchId)
          .groupBy("hour").agg(sum("n").as("n"))
          .withColumn("batch_id", lit(-1L))
        committed.unionByName(tagged)
    }
  }

  /** Streaming anomaly monitor — `Events.hourlyAnomaly`'s streaming twin:
    * each micro-batch merges its hourly counts into a persisted store
    * (atomic swap, replay-idempotent via `mergeHourlyCounts`) and
    * rewrites `outDir` with the full z-score view computed by the SAME
    * shared formula as the batch operator. The view is a maintained
    * materialized table (one row per hour ever seen — bounded by the time
    * range), so late events revise their hour and every affected z-score
    * on the next batch; out is overwritten BEFORE the store promotes, so
    * a crash between the two replays the batch and rewrites the view from
    * the un-promoted store — converging, never double-counting. */
  def hourlyAnomalyWriter(events: DataFrame, storeDir: String, outDir: String,
                          trailingHours: Int = 24):
      org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    events.writeStream.outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val p = graft.sources.AtomicStore.paths(storeDir, "hourly_counts")
        val src = graft.sources.AtomicStore.live(p)
        val bc = batch.groupBy(date_trunc("hour", col("ts")).as("hour"))
          .agg(count(lit(1)).as("n"))
        val merged = mergeHourlyCounts(
          src.map(f => spark.read.parquet(f.getPath)), bc, batchId)
          .persist() // drives the view rewrite AND the store swap
        try {
          merged.write.mode("overwrite").parquet(p.tmp.getPath)
          graft.events.Events.anomalyFromHourlyCounts(
              merged.groupBy("hour").agg(sum("n").as("n")), trailingHours)
            .write.mode("overwrite").parquet(outDir)
          graft.sources.AtomicStore.promote(p, src, "hourlyAnomalyWriter")
        } finally merged.unpersist()
        ()
      }

  /** Streaming incremental SCD-2 maintenance — `Events.scdType2`'s
    * streaming twin (round-5 verdict item #6): each micro-batch merges
    * its banded change rows into a persisted change store
    * (replay-idempotent via the `mergeHourlyCounts` batch_id discipline)
    * and maintains the versioned dimension INCREMENTALLY: only users
    * touched by the batch have their version chains re-derived — through
    * the SAME `Events.scdFromChanges` formula as the batch operator —
    * and merge on key with the untouched rows of the stored dimension.
    * Out-of-order and late changes converge because a touched user's
    * whole chain recomputes from their full stored history: new versions
    * insert, open versions RE-CLOSE, and collapsed no-op versions
    * disappear, exactly as the batch recompute would.
    *
    * Crash-safety: the dimension and the change store are both
    * write-then-swap; the batch output is a pure function of
    * (committed-minus-this-batch store, batch), so a replay after a
    * crash between the two promotes rewrites identical tables —
    * converging, never torn (the `hourlyAnomalyWriter` discipline).
    *
    * Scale notes (100 TB): per batch, work is proportional to the
    * TOUCHED users' change history, not the dimension — the semi/anti
    * joins broadcast the batch's (small) key set, and the per-user
    * window is the batch operator's own partitioning. The change store
    * carries one row per (user, change) — the same floor a batch
    * recompute would scan; a real deployment prunes closed history by
    * retention the same way. */
  def scdType2Writer(events: DataFrame, storeDir: String, outDir: String,
                     changeType: String = "purchase", band: Double = 50.0):
      org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    events.writeStream.outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val p = graft.sources.AtomicStore.paths(storeDir, "scd_changes")
        val src = graft.sources.AtomicStore.live(p)
        val bc = graft.events.Events.scdChanges(batch, changeType, band)
          .withColumn("batch_id", lit(batchId))
        val merged = src
          .map(f => spark.read.parquet(f.getPath)
            .filter(col("batch_id") =!= batchId) // replaced on replay
            .unionByName(bc))
          .getOrElse(bc)
          .persist() // drives the dim delta AND the store swap
        try {
          val touched = merged.filter(col("batch_id") === batchId)
            .select("user_id").distinct()
          val delta = graft.events.Events.scdFromChanges(
            merged.join(broadcast(touched), Seq("user_id"), "leftsemi")
              .drop("batch_id"))
          val dimP = graft.sources.AtomicStore.paths(outDir, "scd_dim")
          val dimSrc = graft.sources.AtomicStore.live(dimP)
          val dim = dimSrc
            .map(f => spark.read.parquet(f.getPath)
              .join(broadcast(touched), Seq("user_id"), "left_anti")
              .unionByName(delta))
            .getOrElse(delta)
          dim.write.mode("overwrite").parquet(dimP.tmp.getPath)
          merged.write.mode("overwrite").parquet(p.tmp.getPath)
          graft.sources.AtomicStore.promote(dimP, dimSrc, "scdType2Writer")
          graft.sources.AtomicStore.promote(p, src, "scdType2Writer")
        } finally merged.unpersist()
        ()
      }

  /** STATELESS streaming ANN enrichment: each incoming query vector gets
    * its top-k sign-bit-LSH neighbors from a static embedding index — the
    * stream-time analog of Similarity.annCosineLshMany (analog, not twin:
    * an enrichment stream has its own id space, so an index vector equal
    * to the query shows up as its own nearest neighbor rather than being
    * excluded). Ranking matches the batch form's contract — rounded
    * cosine then vec_id — so tie order is deterministic, not
    * float-noise-dependent (round-3 review). The index packs to ONE row
    * per bucket; the per-event top-k happens INSIDE the array world
    * (score each candidate, sort_array on (round(-cos,4), vec_id)
    * structs, slice k, posexplode) — no streaming aggregation, no state
    * store, append mode: a pure projection over a broadcast map, which is
    * what survives an unbounded query stream. All query columns are
    * preserved (enrichment, not replacement). Buckets are bounded the
    * same way the batch LSH relies on; an over-hot bucket is a data-model
    * problem both forms share. */
  def streamAnnEnrich(queries: DataFrame, index: DataFrame, k: Int = 5,
                      dims: Int = 64, nPlanes: Int = 8): DataFrame = {
    import graft.similarity.Similarity
    graft.relational.TemporalJoins.requireFree("streamAnnEnrich", queries,
      "bucket", "__qv", "__qu", "__cands", "__top", "rank", "nn_vec_id",
      "cosine")
    val packed = Similarity.withUnitVec(
        index.select(col("vec_id"),
          Similarity.toDoubleVec(col("embedding")).as("v")), "v")
      .withColumn("bucket", Similarity.lshBucket(col("v"), dims, nPlanes))
      .groupBy("bucket")
      .agg(collect_list(struct(col("vec_id"), col("u"))).as("__cands"))
    val q = Similarity.withUnitVec(
        queries.withColumn("__qv",
          Similarity.toDoubleVec(col("embedding"))), "__qv", "__qu")
      .withColumn("bucket", Similarity.lshBucket(col("__qv"), dims, nPlanes))
    val scored = sort_array(transform(col("__cands"), c =>
      struct(round(-Similarity.dot(col("__qu"), c.getField("u")), 4)
          .as("negcos"),
        c.getField("vec_id").as("nn_vec_id"))))
    // an unmatched bucket leaves __cands (and so __top) null;
    // posexplode_outer still emits the query row, with null neighbor cols
    val keep = queries.columns.map(col)
    q.join(broadcast(packed), Seq("bucket"), "left")
      .withColumn("__top", slice(scored, 1, k))
      .select(keep :+
        posexplode_outer(col("__top")).as(Seq("rank", "__s")): _*)
      .select(keep ++ Seq((col("rank") + 1).cast("int").as("rank"),
        col("__s.nn_vec_id").as("nn_vec_id"),
        (-col("__s.negcos")).as("cosine")): _*)
  }

  /** Stream-STATIC as-of enrichment: each streaming event is joined with
    * the latest static dimension version whose `dimTime` <= the event's
    * `evTime` on the same key — the slowly-changing-dimension lookup every
    * enrichment pipeline needs (price lists, model versions, user tiers).
    *
    * Shuffle- and state-FREE by construction: the static side is packed
    * to ONE row per key holding its time-sorted version array, broadcast,
    * and the per-event "latest <= t" pick is a pure projection (filter +
    * last element of the array) — no streaming aggregation, no state
    * store, append mode, one output row per input event. EXACT as-of
    * semantics — the same contract as `TemporalJoins.asOfJoinExec`: null
    * keys/times never match on either side, and a matched version whose
    * VALUE is null yields null (the composition `asOfJoin` differs there
    * by its documented ignoreNulls carry-forward; StreamingSpec pins
    * batch parity on non-null-value data). Sized for dimension tables
    * (versions per key bounded); a 100 TB FACT side streams through
    * untouched. */
  def streamStaticAsOf(events: DataFrame, dim: DataFrame, key: String,
                       evTime: String, dimTime: String, valueCol: String,
                       as: String = "asof_value"): DataFrame = {
    // as == "__versions" would collapse the two names into one requireFree
    // check and then silently drop the output column at the end — exactly
    // the corruption the guard exists to stop (round-3 review)
    require(as != "__versions",
      s"streamStaticAsOf: output column name '$as' is reserved")
    graft.relational.TemporalJoins.requireFree(
      "streamStaticAsOf", events, "__versions", as)
    // no dim-side guard: packed selects only (key, fresh __versions), so a
    // pre-existing dim column of that name is never carried through
    val packed = dim.filter(col(dimTime).isNotNull)
      .groupBy(key)
      .agg(sort_array(collect_list(struct(col(dimTime).as("t"),
        col(valueCol).as("v")))).as("__versions"))
    // a null evTime nulls the filter predicate, which keeps nothing, and
    // try_element_at of an empty (or null, for unmatched keys) array is
    // null — so all the null semantics fall out of ONE evaluation of the
    // filtered array, with no size() guard re-running the filter
    val eligible = filter(col("__versions"), v => v.getField("t") <= col(evTime))
    events
      .join(broadcast(packed), Seq(key), "left")
      .withColumn(as, try_element_at(eligible, lit(-1)).getField("v"))
      .drop("__versions")
  }

  /** One admission decision per input event (rateLimitPerUser output). */
  case class Admission(userId: Long, eventId: Long, admitted: Boolean,
                       nAdmitted: Long)

  /** Per-key quota enforcement on the `transformWithState` API (the
    * arbitrary-state surface that supersedes mapGroupsWithState): each
    * user's lifetime admission count lives in a typed ValueState; every
    * event is emitted back with its admit/reject verdict, so rejected
    * traffic is observable downstream instead of silently dropped — the
    * ingestion guard in front of a training-data firehose.
    *
    * Requires the RocksDB state store provider (set in the caller's
    * session conf); state shards by user exactly like the groupByKey
    * shuffle, and a TTLConfig on the ValueState is the quota-reset dial
    * (NONE here: lifetime quota, the deterministic form a spec can pin).
    * Within a micro-batch the admission order follows the iterator order
    * Spark hands the processor — deterministic for a MemoryStream batch,
    * arrival order in production. */
  class RateLimitProcessor(limit: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Long), Admission] {
    @transient private var admitted:
      org.apache.spark.sql.streaming.ValueState[Long] = _
    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      admitted = getHandle.getValueState[Long]("admitted",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(
        key: Long, rows: Iterator[(Long, Long)],
        tv: org.apache.spark.sql.streaming.TimerValues): Iterator[Admission] = {
      var c = if (admitted.exists()) admitted.get() else 0L
      val out = rows.map { case (_, eventId) =>
        val ok = c < limit
        if (ok) { c += 1; admitted.update(c) }
        Admission(key, eventId, ok, c)
      }.toVector
      out.iterator
    }
  }

  def rateLimitPerUser(events: Dataset[(Long, Long)],
                       limit: Long): Dataset[Admission] = {
    import events.sparkSession.implicits._
    events.groupByKey(_._1)
      .transformWithState(new RateLimitProcessor(limit),
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
  }

  /** `sessionCloser` on the transformWithState API: identical session
    * semantics (mid-batch event-time gaps split immediately; silence is
    * closed by an EVENT-TIME TIMER once the watermark passes last-seen +
    * gap), re-expressed with the new primitives — a typed ValueState for
    * the open session and an explicit re-armed timer in place of
    * GroupStateTimeout's single implicit one. The equivalence spec
    * drives both implementations with the same input and requires the
    * same closed sessions. */
  class SessionProcessor(gapMinutes: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Long, java.sql.Timestamp), ClosedSession] {
    private val gapUs = gapMinutes * 60L * 1000000L
    @transient private var sess:
      org.apache.spark.sql.streaming.ValueState[SessionState] = _
    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      sess = getHandle.getValueState[SessionState]("session",
        org.apache.spark.sql.Encoders.product[SessionState],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(
        key: Long, rows: Iterator[(Long, Long, java.sql.Timestamp)],
        tv: org.apache.spark.sql.streaming.TimerValues):
        Iterator[ClosedSession] = {
      val closed = Seq.newBuilder[ClosedSession]
      var cur = if (sess.exists()) sess.get() else null
      rows.map(_._2).toSeq.sorted.foreach { t =>
        cur match {
          case null =>
            cur = SessionState(1L, t)
          case s if t - s.lastSeenUs > gapUs =>
            closed += ClosedSession(key, s.nEvents, s.lastSeenUs)
            cur = SessionState(1L, t)
          case s =>
            cur = SessionState(s.nEvents + 1, math.max(s.lastSeenUs, t))
        }
      }
      // cur can stay null if Spark ever hands us an empty row iterator
      // for a key with no prior state — guard instead of NPEing the task
      if (cur != null) {
        sess.update(cur)
        // one armed timer per key: re-arm at the open session's deadline
        val h = getHandle
        h.listTimers().foreach(t => h.deleteTimer(t.asInstanceOf[Long]))
        h.registerTimer(cur.lastSeenUs / 1000L + gapMinutes * 60L * 1000L)
      }
      closed.result().iterator
    }
    override def handleExpiredTimer(
        key: Long, tv: org.apache.spark.sql.streaming.TimerValues,
        info: org.apache.spark.sql.streaming.ExpiredTimerInfo):
        Iterator[ClosedSession] = {
      if (!sess.exists()) Iterator.empty
      else {
        val s = sess.get()
        sess.clear()
        Iterator(ClosedSession(key, s.nEvents, s.lastSeenUs))
      }
    }
  }

  def sessionCloserTws(events: Dataset[(Long, Long)],
                       gapMinutes: Int = 30): Dataset[ClosedSession] = {
    import events.sparkSession.implicits._
    events.toDF("user_id", "us")
      .withColumn("ts", timestamp_micros(col("us")))
      .withWatermark("ts", "10 minutes")
      .as[(Long, Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .transformWithState(new SessionProcessor(gapMinutes),
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        OutputMode.Append())
  }

  case class FunnelProgress(userId: Long, stagesReached: Int, lastReachUs: Long)

  /** Streaming per-user funnel on the REMAINING Spark-4 state primitives
    * (round-5 verdict item #7): a ListState event buffer + a MapState
    * stage->first-reach cache, completing the transformWithState API
    * surface next to the ValueState processors above.
    *
    * Semantics are the BATCH funnel's (Events.funnelCounts): stage 0
    * reaches at its minimum timestamp, stage i+1 at the minimum timestamp
    * STRICTLY after stage i's reach time. Events arrive in any order
    * across batches, and a late early event can only move reach times
    * earlier — so the reached set grows monotonically and the processor
    * can recompute from the ListState buffer each batch and emit the
    * current progress (Update mode). The MapState holds the per-stage
    * reach times as the queryable state a downstream join would read;
    * entries are only ever updated, never invalidated (monotonicity).
    *
    * The buffer is the honest cost of exact out-of-order funnels —
    * bounded per user by that user's funnel-relevant events, the same
    * state a watermark-delayed batch recompute would hold. At
    * production retention that bound needs a dial: `bufferTtl` evicts
    * buffered events by processing-time TTL (RocksDB-native, no timer
    * plumbing), trading exactness beyond the lateness horizon — an event
    * arriving later than the TTL can no longer move reach times earlier.
    * The `reach` MapState stays un-TTL'd deliberately: it is the tiny
    * (<= stages entries per user) monotone result, not the buffer, and
    * evicting it would silently reset progress rather than bound
    * lateness. Default NONE preserves the exact semantics the
    * batch-equivalence spec pins. */
  class FunnelProcessor(stages: Seq[String],
                        bufferTtl: org.apache.spark.sql.streaming.TTLConfig =
                          org.apache.spark.sql.streaming.TTLConfig.NONE)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, String, Long), FunnelProgress] {
    @transient private var buf:
      org.apache.spark.sql.streaming.ListState[(String, Long)] = _
    @transient private var reach:
      org.apache.spark.sql.streaming.MapState[String, Long] = _
    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      buf = getHandle.getListState[(String, Long)]("events",
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.STRING,
          org.apache.spark.sql.Encoders.scalaLong),
        bufferTtl)
      reach = getHandle.getMapState[String, Long]("reach",
        org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    }
    override def handleInputRows(
        key: Long, rows: Iterator[(Long, String, Long)],
        tv: org.apache.spark.sql.streaming.TimerValues):
        Iterator[FunnelProgress] = {
      rows.foreach(r => buf.appendValue((r._2, r._3)))
      val evs = buf.get().toVector
      var prevReach = Long.MinValue
      var n = 0
      var last = 0L
      var blocked = false
      stages.foreach { st =>
        if (!blocked) {
          // committed reach time as a FLOOR: under bufferTtl, evicted
          // events must not regress reported progress — the prior stays
          // valid because prev-stage reach times only ever move earlier.
          // In exact (NONE) mode the prior derives from a subset of the
          // current buffer under a >= constraint, so prior >= buffer min
          // and the min() below is provably the plain buffer recompute.
          val prior =
            if (reach.containsKey(st)) reach.getValue(st) else Long.MaxValue
          val cand = evs.collect {
            case (tpe, us) if tpe == st &&
              (n == 0 || us > prevReach) => us
          }
          val best = math.min(prior, if (cand.isEmpty) Long.MaxValue else cand.min)
          if (best == Long.MaxValue) blocked = true
          else {
            prevReach = best
            if (best < prior) reach.updateValue(st, best)
            last = best
            n += 1
          }
        }
      }
      Iterator.single(FunnelProgress(key, n, last))
    }
  }

  def funnelProgressTws(events: Dataset[(Long, String, Long)],
                        stages: Seq[String] = Seq("signup", "click", "purchase"),
                        bufferTtl: org.apache.spark.sql.streaming.TTLConfig =
                          org.apache.spark.sql.streaming.TTLConfig.NONE)
      : Dataset[FunnelProgress] = {
    import events.sparkSession.implicits._
    // TTL'd state requires the ProcessingTime time mode; the exact
    // (NONE) form keeps TimeMode.None as before. Note the engine keeps
    // scheduling TTL-cleanup batches for a ProcessingTime query even
    // with no new data, so processAllAvailable-style quiescence waits
    // do not return — drive TTL'd queries by polling the sink (the
    // bufferTtl spec shows the pattern)
    val timeMode =
      if (bufferTtl == org.apache.spark.sql.streaming.TTLConfig.NONE)
        org.apache.spark.sql.streaming.TimeMode.None()
      else org.apache.spark.sql.streaming.TimeMode.ProcessingTime()
    events
      .groupByKey(_._1)
      .transformWithState(new FunnelProcessor(stages, bufferTtl),
        timeMode, OutputMode.Update())
  }

  /** The retained latest-wins state per key (CdcProcessor). */
  case class CdcState(tsUs: Long, eventId: Long, tpe: String, value: Double,
                      n: Long)

  /** One materialized snapshot per key per batch (cdcMaterializerTws
    * output). `live` = false means the key's current state is a
    * tombstone — emitted, not suppressed, so a downstream sink can
    * DELETE the key (the changelog contract compacted-topic consumers
    * expect). */
  case class CdcSnapshot(userId: Long, lastEventId: Long, lastType: String,
                         lastValue: Double, lastTsUs: Long, nChanges: Long,
                         live: Boolean)

  /** Streaming form of `Events.cdcApply`: continuous latest-wins
    * materialization of a changelog with tombstones, on
    * `transformWithState`. The per-key ValueState holds exactly the row
    * the batch window's rn=1 would select, ordered by the same total
    * (ts, event_id) key — so ANY arrival order (late data, replays,
    * inter-batch splits) converges to the batch answer, which the
    * equivalence spec drives over the real events fixture. n is the
    * lifetime change count (monotone — the spec uses it to identify the
    * final snapshot).
    *
    * Scale notes: state is one fixed-size tuple per key, sharded by the
    * groupByKey exchange like every tws processor here; no buffering of
    * past events (latest-wins needs only the current winner — contrast
    * FunnelProcessor, whose exact out-of-order semantics force a
    * buffer). */
  class CdcProcessor(tombstoneType: String)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Long, Long, String, Double), CdcSnapshot] {
    @transient private var st:
      org.apache.spark.sql.streaming.ValueState[CdcState] = _
    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getValueState[CdcState]("last",
        org.apache.spark.sql.Encoders.product[CdcState],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(
        key: Long, rows: Iterator[(Long, Long, Long, String, Double)],
        tv: org.apache.spark.sql.streaming.TimerValues): Iterator[CdcSnapshot] = {
      var cur = if (st.exists()) st.get() else null
      rows.foreach { case (_, tsUs, eventId, tpe, value) =>
        cur =
          if (cur == null) CdcState(tsUs, eventId, tpe, value, 1L)
          else if (tsUs > cur.tsUs ||
            (tsUs == cur.tsUs && eventId > cur.eventId))
            CdcState(tsUs, eventId, tpe, value, cur.n + 1)
          else cur.copy(n = cur.n + 1)
      }
      if (cur == null) Iterator.empty // empty row iterator: nothing to say
      else {
        st.update(cur)
        Iterator.single(CdcSnapshot(key, cur.eventId, cur.tpe, cur.value,
          cur.tsUs, cur.n, cur.tpe != tombstoneType))
      }
    }
  }

  /** Input: (user_id, ts_micros, event_id, event_type, value). */
  def cdcMaterializerTws(changes: Dataset[(Long, Long, Long, String, Double)],
                         tombstoneType: String = "error"): Dataset[CdcSnapshot] = {
    import changes.sparkSession.implicits._
    changes
      .groupByKey(_._1)
      .transformWithState(new CdcProcessor(tombstoneType),
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
  }
}
