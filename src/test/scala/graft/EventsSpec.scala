package graft

import java.sql.Timestamp
import graft.events.Events

class EventsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("pivot zero-fills missing (day, type) cells like the FILTER oracle") {
    val ev = Seq(
      (ts("2024-01-01 10:00:00"), "click"),
      (ts("2024-01-01 11:00:00"), "view"),
      (ts("2024-01-02 10:00:00"), "error"), // day 2 has no click/view
    ).toDF("ts", "event_type")
    val rows = Events.typeByDayPivot(ev)
      .select("day", "click", "error", "view")
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(rows == Seq(
      ("2024-01-01", 1L, 0L, 1L),
      ("2024-01-02", 0L, 1L, 0L)))
  }

  test("concurrencyDaily matches a brute-force closed-interval replay") {
    val ev = graft.table(spark, "/root/testdata/sf0.001", "events")
    // ground truth: concurrency at boundary instant t = sessions with
    // st <= t <= en (closed intervals), max + earliest argmax per day —
    // evaluated directly, no sweep, no carry decomposition
    val sess = Events.sessionize(ev)
      .select("session_start", "session_end")
      .as[(String, String)].collect()
      .map { case (a, b) => (Timestamp.valueOf(a), Timestamp.valueOf(b)) }
    val bounds = sess.flatMap(s => Seq(s._1, s._2)).distinct
    val expect = bounds.groupBy(t => t.toLocalDateTime.toLocalDate.toString)
      .map { case (day, ts0) =>
        val best = ts0.map(t =>
            (t, sess.count(s => !s._1.after(t) && !s._2.before(t)).toLong))
          .sortBy { case (t, c) => (-c, t.getTime) }.head
        (day, best._2,
          best._1.toLocalDateTime.format(java.time.format.DateTimeFormatter
            .ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")))
      }.toSeq.sortBy(_._1)
    val got = Events.concurrencyDaily(ev)
      .as[(String, Long, String)].collect().toSeq
    assert(got == expect)
    assert(got.exists(_._2 > 1)) // fixture must actually overlap sessions
  }

  test("concurrencyDaily counts a session spanning midnight via the carry") {
    val ev = Seq(
      (1L, ts("2024-01-01 23:50:00"), 1L), // user 1: one session crossing midnight
      (1L, ts("2024-01-02 00:10:00"), 2L),
      (2L, ts("2024-01-02 00:05:00"), 3L), // user 2: inside day 2 only
    ).toDF("user_id", "ts", "event_id")
    val rows = Events.concurrencyDaily(ev)
      .as[(String, Long, String)].collect().toSeq
    // day 2's peak is 2: user 1's open session is carry-in, user 2 starts
    assert(rows == Seq(
      ("2024-01-01", 1L, "2024-01-01 23:50:00.000000"),
      ("2024-01-02", 2L, "2024-01-02 00:05:00.000000")))
  }

  test("burstDedup: exact-gap stays in burst, ties keep min id, singletons unreported") {
    val ev = Seq(
      (1L, ts("2024-01-01 10:00:00"), "click", 1L),
      (1L, ts("2024-01-01 10:04:00"), "click", 2L),  // 240s -> same burst
      (1L, ts("2024-01-01 10:09:00"), "click", 3L),  // exactly 300s after #2: NOT > gap -> same burst
      (1L, ts("2024-01-01 10:20:01"), "click", 4L),  // >300s -> new singleton burst (unreported)
      (1L, ts("2024-01-01 10:00:30"), "view", 5L),   // other type: own stream, singleton
      (2L, ts("2024-01-01 10:00:00"), "click", 7L),  // tie on ts: kept = min event_id
      (2L, ts("2024-01-01 10:00:00"), "click", 8L),
    ).toDF("user_id", "ts", "event_type", "event_id")
    val rows = Events.burstDedup(ev)
      .as[(Long, String, String, Long, Long)].collect().toSeq
    assert(rows == Seq(
      (1L, "click", "2024-01-01 10:00:00.000000", 3L, 1L),
      (2L, "click", "2024-01-01 10:00:00.000000", 2L, 7L)))
  }

  test("markovStationary: absorbing type drains sources, terminal-only type self-loops") {
    // user 1: A B B B (A->B, B->B x2); user 2: A C (A->C; C terminal-only)
    val ev = Seq(
      (1L, ts("2024-01-01 10:00:00"), "A", 1L),
      (1L, ts("2024-01-01 10:01:00"), "B", 2L),
      (1L, ts("2024-01-01 10:02:00"), "B", 3L),
      (1L, ts("2024-01-01 10:03:00"), "B", 4L),
      (2L, ts("2024-01-01 10:00:00"), "A", 5L),
      (2L, ts("2024-01-01 10:01:00"), "C", 6L),
    ).toDF("user_id", "ts", "event_type", "event_id")
    // P(A->B)=P(A->C)=0.5, P(B->B)=1, C self-loops; from uniform 1/3:
    // round 1 drains A to 0 and splits its mass evenly -> (0, 0.5, 0.5)
    val rows = Events.markovStationary(ev)
      .as[(String, Double)].collect().toSeq
    assert(rows == Seq(("A", 0.0), ("B", 0.5), ("C", 0.5)))
  }

  test("markovStationary past a checkpoint boundary equals the driver replay at round(6)") {
    // one user walking the cycle A B C nine times, then D and back to A:
    // an almost periodic chain, so the mass still rotates at round 9
    val walk = "ABC" * 9 + "DA"
    val ev = walk.zipWithIndex.map { case (t, i) =>
      (1L, new Timestamp(1704103200000L + i * 60000L), t.toString, i.toLong)
    }.toDF("user_id", "ts", "event_type", "event_id")
    // the update rule on the driver: row-normalized transition counts,
    // terminal-only types self-loop, power rounds from the uniform vector
    def replay(rounds: Int): Seq[(String, Double)] = {
      val moves = walk.map(_.toString).sliding(2).map(s => s(0) -> s(1)).toSeq
      val types = walk.map(_.toString).distinct.sorted
      val out = moves.groupBy(_._1).map { case (f, ms) => f -> ms.size.toDouble }
      val p = moves.groupBy(identity).map { case ((f, t), ms) => (f, t) -> ms.size / out(f) } ++
        types.filterNot(out.contains).map(t => (t, t) -> 1.0)
      val pi = (1 to rounds).foldLeft(types.map(_ -> 1.0 / types.size).toMap) { (pi, _) =>
        p.toSeq.groupBy(_._1._2).map { case (t, in) =>
          t -> in.map { case ((f, _), pr) => pi.getOrElse(f, 0.0) * pr }.sum }
      }
      types.map(t => t -> BigDecimal(pi.getOrElse(t, 0.0))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    val r = graft.Fixpoint.CheckpointEvery + 1
    assert(replay(r) != replay(r - 1) && replay(r) != replay(r + 1))
    assert(Events.markovStationary(ev, iters = r).as[(String, Double)]
      .collect().toSeq == replay(r))
  }

  test("cohort retention counts only at-or-after-signup activity") {
    val ev = Seq(
      (1L, ts("2024-01-01 10:00:00"), "signup"),
      (1L, ts("2024-01-03 10:00:00"), "click"),  // offset 2
      (2L, ts("2024-01-01 09:00:00"), "click"),  // pre-signup activity
      (2L, ts("2024-01-02 10:00:00"), "signup"),
      (2L, ts("2024-01-02 11:00:00"), "view"),   // offset 0 (same day)
      (3L, ts("2024-01-05 10:00:00"), "click"),  // never signed up
    ).toDF("user_id", "ts", "event_type")
    val rows = Events.cohortRetention(ev)
      .as[(String, Long, Long)].collect().toSeq
    assert(rows == Seq(
      ("2024-01-01", 0L, 1L), ("2024-01-01", 2L, 1L),
      ("2024-01-02", 0L, 1L)))
  }

  test("watermark audit: late iff event time below running max - delay") {
    // one shard (user 0): arrivals by event_id; delay 10 min
    val ev = Seq(
      (1L, 0L, ts("2024-01-01 10:00:00")), // first arrival: never late
      (2L, 0L, ts("2024-01-01 09:55:00")), // wm 10:00 - 10m = 09:50 -> on time
      (3L, 0L, ts("2024-01-01 09:45:00")), // wm 09:50 -> late by 5 min
      (4L, 0L, ts("2024-01-01 11:00:00")), // advances wm
      (5L, 0L, ts("2024-01-01 10:49:00")), // wm 10:50 -> late by 60 s
      (6L, 1L, ts("2024-01-01 08:00:00")), // other shard, single event
    ).toDF("event_id", "user_id", "ts")
    val out = Events.watermarkLateAudit(ev, 10, 16)
      .as[(Long, Long, Long, Double, Long)].collect().toSeq
    assert(out == Seq(
      (0L, 5L, 2L, 0.4, 300000000L),
      (1L, 1L, 0L, 0.0, 0L)))
  }

  test("attribution: last-touch vs linear credit, lookback + direct cases") {
    // user 1: click 10:00, view 11:00, purchase 12:00 (100.0)
    //   -> last-touch: view; linear: click 50 / view 50
    // user 2: click 08:00, purchase 12:00 (60.0) -> outside 120 min lookback
    //   -> direct in both models
    // user 3: purchase 12:00 (40.0), no touches -> direct
    val ev = Seq(
      (1L, 1L, ts("2024-01-01 10:00:00"), "click", 0.0),
      (2L, 1L, ts("2024-01-01 11:00:00"), "view", 0.0),
      (3L, 1L, ts("2024-01-01 12:00:00"), "purchase", 100.0),
      (4L, 2L, ts("2024-01-01 08:00:00"), "click", 0.0),
      (5L, 2L, ts("2024-01-01 12:00:00"), "purchase", 60.0),
      (6L, 3L, ts("2024-01-01 12:00:00"), "purchase", 40.0),
    ).toDF("event_id", "user_id", "ts", "event_type", "value")
    val rows = Events.attribution(ev)
      .as[(String, Long, Double, Double)].collect().toSeq
    assert(rows == Seq(
      ("click", 0L, 0.0, 50.0),
      ("direct", 2L, 100.0, 100.0),
      ("view", 1L, 100.0, 50.0)))
  }

  test("attribution: same-microsecond touch counts as before a later-id conversion") {
    val ev = Seq(
      (1L, 1L, ts("2024-01-01 10:00:00"), "click", 0.0), // same ts, lower id
      (2L, 1L, ts("2024-01-01 10:00:00"), "purchase", 30.0),
      (4L, 2L, ts("2024-01-01 10:00:00"), "purchase", 20.0),
      (5L, 2L, ts("2024-01-01 10:00:00"), "click", 0.0), // same ts, HIGHER id
    ).toDF("event_id", "user_id", "ts", "event_type", "value")
    val rows = Events.attribution(ev)
      .as[(String, Long, Double, Double)].collect().toSeq
    assert(rows == Seq(
      ("click", 1L, 30.0, 30.0),
      ("direct", 1L, 20.0, 20.0)))
  }

  test("funnel requires strict stage ordering") {
    val ev = Seq(
      (1L, ts("2024-01-01 10:00:00"), "signup", 1L),
      (1L, ts("2024-01-01 11:00:00"), "click", 2L),
      (1L, ts("2024-01-01 12:00:00"), "purchase", 3L),
      (2L, ts("2024-01-01 10:00:00"), "purchase", 4L), // purchase before signup
      (2L, ts("2024-01-01 11:00:00"), "signup", 5L),
      (2L, ts("2024-01-01 12:00:00"), "click", 6L),
    ).toDF("user_id", "ts", "event_type", "event_id")
    val r = Events.funnelCounts(ev).collect().head
    assert(r.getLong(0) == 2L) // both signed up
    assert(r.getLong(1) == 2L) // both clicked after signup
    assert(r.getLong(2) == 1L) // only user 1 purchased after clicking
  }

  test("trailing time-RANGE window is gap-aware and boundary-inclusive") {
    val ev = Seq(
      (1L, 1L, ts("2024-01-01 10:00:00"), 1.0),
      (2L, 1L, ts("2024-01-01 10:30:00"), 2.0), // frame: e1+e2
      (3L, 1L, ts("2024-01-01 11:45:00"), 4.0), // >1h gap: frame = e3 alone
      (4L, 2L, ts("2024-01-01 10:00:00"), 1.0),
      (5L, 2L, ts("2024-01-01 11:00:00"), 2.0), // exactly -1h: RANGE includes e4
      (6L, 3L, ts("2024-01-01 09:00:00"), 7.0), // other users never leak in
    ).toDF("event_id", "user_id", "ts", "value")
    val rows = Events.rollingUserValue(ev)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(rows == Seq(
      (1L, 1L, 1L, 1.0), (2L, 1L, 2L, 3.0), (3L, 1L, 1L, 4.0),
      (4L, 2L, 1L, 1.0), (5L, 2L, 2L, 3.0),
      (6L, 3L, 1L, 7.0)))
  }

  test("hourly anomaly: spike z-scores against its trailing baseline only") {
    // hours 00-05: steady 2 events; hour 06: 8-event spike; hour 07 steady.
    // baseline hours alternate 1..3 so the trailing variance is nonzero
    val steady = (0 until 6).flatMap { h =>
      val n = if (h % 2 == 0) 1 else 3
      (0 until n).map(i => (h * 10L + i, ts(f"2024-01-01 0$h%d:15:00")))
    }
    val spike = (0 until 8).map(i => (600L + i, ts("2024-01-01 06:15:00")))
    val after = Seq((700L, ts("2024-01-01 07:15:00")))
    val ev = (steady ++ spike ++ after).toDF("event_id", "ts")
    val rows = Events.hourlyAnomaly(ev).collect()
    val byHour = rows.map(r => r.getString(0).substring(11, 13) ->
      (r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Double]))).toMap
    assert(byHour("00")._2.isEmpty) // no trailing baseline at the first hour
    // baseline mean 2, sd 1.095...: the 8-event spike is strongly positive
    assert(byHour("06")._1 == 8L && byHour("06")._2.get > 3.0)
    // the hour AFTER the spike compares against a baseline that now
    // contains the spike -> modest NEGATIVE z, proving the current hour
    // was excluded from its own frame
    assert(byHour("07")._2.get < 0.0)
  }

  test("unpivot melts the pivot matrix back to zero-filled long form") {
    val ev = Seq(
      (ts("2024-01-01 10:00:00"), "click"),
      (ts("2024-01-01 11:00:00"), "click"),
      (ts("2024-01-02 10:00:00"), "error"),
    ).toDF("ts", "event_type")
    val rows = Events.unpivotTypeByDay(ev)
      .as[(String, String, Long)].collect().toSeq
    // 2 days x 5 types, zeros materialized
    assert(rows.size == 10)
    assert(rows.filter(_._3 > 0).toSet == Set(
      ("2024-01-01", "click", 2L), ("2024-01-02", "error", 1L)))
    // melt(pivot(long)) == original long counts plus explicit zeros
    assert(rows.map(_._3).sum == 3L)
  }

  test("SCD-2 collapses no-op updates and closes intervals at the successor") {
    val ev = Seq(
      // user 1: tier 0 -> (no-op tier 0, collapsed) -> tier 2
      (1L, 1L, ts("2024-01-01 10:00:00"), "purchase", 10.0),
      (2L, 1L, ts("2024-01-02 10:00:00"), "purchase", 20.0),
      (3L, 1L, ts("2024-01-03 10:00:00"), "purchase", 120.0),
      // user 2: one change; a click must not open a version
      (4L, 2L, ts("2024-01-01 12:00:00"), "purchase", 60.0),
      (5L, 2L, ts("2024-01-04 12:00:00"), "click", 999.0),
    ).toDF("event_id", "user_id", "ts", "event_type", "value")
    val rows = Events.scdType2(ev)
      .as[(Long, Int, Long, String, Option[String], Boolean)].collect().toSeq
    assert(rows == Seq(
      (1L, 1, 0L, "2024-01-01 10:00:00.000000",
        Some("2024-01-03 10:00:00.000000"), false),
      (1L, 2, 2L, "2024-01-03 10:00:00.000000", None, true),
      (2L, 1, 1L, "2024-01-01 12:00:00.000000", None, true)))
  }

  test("SCD-2: a reverted attribute re-opens a NEW version (type 2, not 1)") {
    // tier 0 -> tier 1 -> tier 0 again: three versions, history preserved
    val ev = Seq(
      (1L, 1L, ts("2024-01-01 00:00:00"), "purchase", 10.0),
      (2L, 1L, ts("2024-01-02 00:00:00"), "purchase", 60.0),
      (3L, 1L, ts("2024-01-03 00:00:00"), "purchase", 20.0),
    ).toDF("event_id", "user_id", "ts", "event_type", "value")
    val rows = Events.scdType2(ev)
      .as[(Long, Int, Long, String, Option[String], Boolean)].collect().toSeq
    assert(rows.map(r => (r._2, r._3, r._6)) ==
      Seq((1, 0L, false), (2, 1L, false), (3, 0L, true)))
    // intervals tile: each valid_to equals the next valid_from
    assert(rows.init.map(_._5.get) == rows.tail.map(_._4))
  }

  test("growth accounting: new vs returning split, cumulative total") {
    val ev = Seq(
      (1L, 1L, ts("2024-01-01 10:00:00")), (2L, 2L, ts("2024-01-01 11:00:00")),
      (3L, 1L, ts("2024-01-01 12:00:00")), // same user+day: one DAU
      (4L, 1L, ts("2024-01-02 10:00:00")), (5L, 3L, ts("2024-01-02 11:00:00")),
      (6L, 2L, ts("2024-01-04 10:00:00")),
    ).toDF("event_id", "user_id", "ts")
    val out = graft.events.Events.growthAccounting(ev)
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(out == Seq(
      ("2024-01-01", 2L, 2L, 0L, 2L),
      ("2024-01-02", 2L, 1L, 1L, 3L),
      ("2024-01-04", 1L, 0L, 1L, 3L))) // gap days absent by design
  }

  test("CDC apply: latest wins, tombstone deletes, replay converges") {
    val ev = Seq(
      // user 1: two upserts — the later one wins
      (1L, 1L, ts("2024-01-01 10:00:00"), "view", 1.0),
      (2L, 1L, ts("2024-01-02 10:00:00"), "purchase", 42.5),
      // user 2: upsert then tombstone — absent from the state
      (3L, 2L, ts("2024-01-01 10:00:00"), "purchase", 10.0),
      (4L, 2L, ts("2024-01-02 10:00:00"), "error", 0.0),
      // user 3: tombstone then a LATER upsert — resurrected
      (5L, 3L, ts("2024-01-01 10:00:00"), "error", 0.0),
      (6L, 3L, ts("2024-01-02 10:00:00"), "click", 7.0),
      // user 4: same ts — event_id breaks the tie (higher id wins)
      (7L, 4L, ts("2024-01-01 10:00:00"), "view", 1.0),
      (8L, 4L, ts("2024-01-01 10:00:00"), "purchase", 2.0),
    ).toDF("event_id", "user_id", "ts", "event_type", "value")
    def state(df: org.apache.spark.sql.DataFrame) =
      Events.cdcApply(df).select("user_id", "last_event_id", "last_type",
        "last_value", "n_changes")
        .as[(Long, Long, String, Double, Long)].collect().toSeq
    val s = state(ev)
    assert(s == Seq(
      (1L, 2L, "purchase", 42.5, 2L),
      (3L, 6L, "click", 7.0, 2L),
      (4L, 8L, "purchase", 2.0, 2L)))
    // replay in shuffled arrival order converges to the same state
    assert(state(ev.orderBy(org.apache.spark.sql.functions.rand(7))) == s)
  }

  test("EWMA daily: exact dyadic fold, first day seeds, single-day type passes through") {
    // type a: counts 4, 8, 2 -> ewma 4, 6, 4 (every step an exact half)
    val ev = (
      (1 to 4).map(i => (i.toLong, 1L, ts("2024-01-01 10:00:00"), "a", 0.0)) ++
      (5 to 12).map(i => (i.toLong, 1L, ts("2024-01-02 10:00:00"), "a", 0.0)) ++
      (13 to 14).map(i => (i.toLong, 1L, ts("2024-01-04 10:00:00"), "a", 0.0)) ++ // gap day: adjacency
      Seq((15L, 2L, ts("2024-01-03 10:00:00"), "b", 0.0))
    ).toDF("event_id", "user_id", "ts", "event_type", "value")
    val got = Events.ewmaDaily(ev)
      .as[(String, String, Long, Double)].collect().toSeq
    assert(got == Seq(
      ("a", "2024-01-01", 4L, 4.0),
      ("a", "2024-01-02", 8L, 6.0),
      ("a", "2024-01-04", 2L, 4.0),
      ("b", "2024-01-03", 1L, 1.0)))
  }

  test("topEventPaths: first-3 order by (ts, type, id); short histories keep their short path") {
    import java.sql.Timestamp
    def t(s: String) = Timestamp.valueOf(s)
    val ev = Seq(
      // user 1: plain 3-step path, a 4th event must not appear
      (1L, t("2024-01-01 10:00:00"), 1L, "view", 0.0, "{}"),
      (2L, t("2024-01-01 10:01:00"), 1L, "click", 0.0, "{}"),
      (3L, t("2024-01-01 10:02:00"), 1L, "purchase", 0.0, "{}"),
      (4L, t("2024-01-01 10:03:00"), 1L, "error", 0.0, "{}"),
      // user 2: same path as user 1, but steps 2+3 share a timestamp —
      // tie breaks by event_type ('click' < 'purchase')
      (5L, t("2024-01-02 09:00:00"), 2L, "view", 0.0, "{}"),
      (7L, t("2024-01-02 09:05:00"), 2L, "purchase", 0.0, "{}"),
      (6L, t("2024-01-02 09:05:00"), 2L, "click", 0.0, "{}"),
      // user 3: only two events -> a 2-step path of its own
      (8L, t("2024-01-03 08:00:00"), 3L, "signup", 0.0, "{}"),
      (9L, t("2024-01-03 08:01:00"), 3L, "view", 0.0, "{}"),
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = graft.events.Events.topEventPaths(ev)
      .as[(String, Long)].collect().toSeq
    assert(got == Seq(("view>click>purchase", 2L), ("signup>view", 1L)))
  }

  test("rfmSegments: hand-computed quartile boundaries (ceil percentile_disc) and exact cents") {
    import java.sql.Timestamp
    def t(s: String) = Timestamp.valueOf(s)
    // 4 users; ref date = 2024-01-10.
    // recency days: u1=0, u2=1, u3=5, u4=9  -> b1=0, b2=1, b3=5
    // freq:          u1=4, u2=1, u3=1, u4=1  -> b1=1, b2=1, b3=1
    // cents:         u1=400, u2=150, u3=50, u4=0 -> b1=0, b2=50, b3=150
    val ev = Seq(
      (1L, t("2024-01-10 08:00:00"), 1L, "a", 1.0),
      (2L, t("2024-01-10 09:00:00"), 1L, "a", 1.0),
      (3L, t("2024-01-09 09:00:00"), 1L, "a", 1.0),
      (4L, t("2024-01-01 09:00:00"), 1L, "a", 1.0),
      (5L, t("2024-01-09 12:00:00"), 2L, "a", 1.5),
      (6L, t("2024-01-05 12:00:00"), 3L, "a", 0.5),
      (7L, t("2024-01-01 12:00:00"), 4L, "a", 0.0),
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
      .withColumn("props", org.apache.spark.sql.functions.lit("{}"))
    val got = graft.events.Events.rfmSegments(ev)
      .as[(Int, Int, Int, Long, Double)].collect().toSeq
    // u1: rec 0 -> q1; freq 4 > all bounds -> q4; cents 400 -> q4
    // u2: rec 1 -> q2; freq 1 -> q1; cents 150 -> q3
    // u3: rec 5 -> q3; freq 1 -> q1; cents 50  -> q2
    // u4: rec 9 -> q4; freq 1 -> q1; cents 0   -> q1
    assert(got == Seq(
      (1, 4, 4, 1L, 4.0), (2, 1, 3, 1L, 1.5),
      (3, 1, 2, 1L, 0.5), (4, 1, 1, 1L, 0.0)))
  }

  test("retentionDecayFit: an exact halving curve recovers lambda = ln 2, half-life 1 day") {
    import java.sql.Timestamp
    def t(s: String) = Timestamp.valueOf(s)
    // 4 signups day 0; 2 users active day 1; 1 user active day 2:
    // rate(1) = 0.5, rate(2) = 0.25 -> ln rate = -ln2 * d exactly
    val ev = Seq(
      (1L, t("2024-01-01 08:00:00"), 1L, "signup", 0.0, "{}"),
      (2L, t("2024-01-01 08:00:00"), 2L, "signup", 0.0, "{}"),
      (3L, t("2024-01-01 08:00:00"), 3L, "signup", 0.0, "{}"),
      (4L, t("2024-01-01 08:00:00"), 4L, "signup", 0.0, "{}"),
      (5L, t("2024-01-02 08:00:00"), 1L, "click", 0.0, "{}"),
      (6L, t("2024-01-02 08:00:00"), 2L, "click", 0.0, "{}"),
      (7L, t("2024-01-03 08:00:00"), 1L, "click", 0.0, "{}"),
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val rows = graft.events.Events.retentionDecayFit(ev)
      .as[(Long, Long, Double, Double, Double)].collect().toSeq
    assert(rows.map(r => (r._1, r._2, r._3)) ==
      Seq((0L, 4L, 1.0), (1L, 2L, 0.5), (2L, 1L, 0.25)))
    val lam = math.rint(math.log(2) * 1e6) / 1e6
    assert(rows.forall(r => r._4 == lam && r._5 == 1.0))
  }

  test("abTestReport: exact counts per arm, antisymmetric z, sign follows the better arm") {
    import java.sql.Timestamp
    def t(s: String) = Timestamp.valueOf(s)
    val ev = (1L to 40L).flatMap { u =>
      val base = Seq((u * 10, t("2024-01-01 08:00:00"), u, "view", 0.0, "{}"))
      // users 1..10 convert
      if (u <= 10) base :+ ((u * 10 + 1, t("2024-01-02 08:00:00"), u, "purchase", 5.0, "{}"))
      else base
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = graft.events.Events.abTestReport(ev)
      .as[(String, Long, Long, Double, Double)].collect().toSeq
    assert(got.map(_._1) == Seq("A", "B"))
    assert(got.map(_._2).sum == 40L && got.map(_._3).sum == 10L)
    val Seq(a, b) = got
    assert(a._5 == -b._5)                      // antisymmetric z
    if (a._4 > b._4) assert(a._5 > 0.0)        // sign follows the rate
    if (a._4 < b._4) assert(a._5 < 0.0)
  }
}
