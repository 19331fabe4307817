package graft.ops

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class TimeSeriesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("resampleFill densifies to the hourly grid and forward-fills gaps") {
    val df = Seq(
      ("a", ts("2024-01-01 01:10:00"), 1.0),
      ("a", ts("2024-01-01 01:40:00"), 5.0),
      ("a", ts("2024-01-01 04:05:00"), 2.0),
      ("b", ts("2024-01-01 09:30:00"), 7.0)
    ).toDF("k", "ts", "v")
    val out = TimeSeries.resampleFill(df, Seq("k"), "ts", "v", "hour")
      .orderBy("k", "bucket").collect()
    val a = out.filter(_.getString(0) == "a")
    assert(a.map(_.getTimestamp(1).toString.substring(11, 13)).toSeq ==
      Seq("01", "02", "03", "04"))
    // bucket 01 reduces with max; 02/03 are gaps filled from 01
    assert(a.map(r => Option(r.get(2))).toSeq ==
      Seq(Some(5.0), None, None, Some(2.0)))
    assert(a.map(_.getDouble(3)).toSeq == Seq(5.0, 5.0, 5.0, 2.0))
    // single-observation key: axis of one bucket, fill = observation
    assert(out.filter(_.getString(0) == "b").map(_.getDouble(3)).toSeq == Seq(7.0))
  }

  test("resampleFill drops null timestamps and handles empty input") {
    val df = Seq(("a", Option.empty[Timestamp], 1.0))
      .toDF("k", "ts", "v")
    assert(TimeSeries.resampleFill(df, Seq("k"), "ts", "v", "hour").count() == 0)
  }

  test("interpolateAt: straight line across gaps, exact at " +
    "observations, null outside the observed span") {
    val df = Seq(
      ("a", ts("2024-01-01 01:10:00"), 10.0),
      ("a", ts("2024-01-01 04:05:00"), 40.0),  // 3-hour gap: 2 missing
      ("a", ts("2024-01-01 05:30:00"), 10.0),
      ("b", ts("2024-01-01 09:30:00"), 7.0)
    ).toDF("k", "ts", "v")
    val out = TimeSeries.interpolateAt(df, Seq("k"), "ts", "v", "hour")
      .orderBy("k", "bucket").collect()
    val a = out.filter(_.getString(0) == "a")
      .map(r => Option(r.get(3)).map(_.asInstanceOf[Double]))
    // hours 01..05: 10, 20, 30, 40, 10 — linear between 10@01 and 40@04
    assert(a.toSeq == Seq(Some(10.0), Some(20.0), Some(30.0),
      Some(40.0), Some(10.0)))
    // single observation: exact value, nothing to interpolate
    assert(out.filter(_.getString(0) == "b")
      .map(r => r.getDouble(3)).toSeq == Seq(7.0))
  }

  test("funnelLatency: exact median per adjacent pair, incomplete " +
    "actors excluded from later pairs") {
    def actor(id: Long, vs: Int, cs: Int, ps: Int) = Seq(
      (id, ts(f"2024-01-01 00:00:$vs%02d"), "view"),
      (id, ts(f"2024-01-01 00:00:$cs%02d"), "click"),
      (id, ts(f"2024-01-01 00:01:$ps%02d"), "purchase"))
    // view->click latencies 10, 20, 30 -> median 20; click->purchase
    // only for the two who purchased: 50-ish values
    val rows = actor(1, 0, 10, 0) ++ actor(2, 0, 20, 10) ++
      Seq((3L, ts("2024-01-01 00:00:00"), "view"),
        (3L, ts("2024-01-01 00:00:30"), "click"))
    val out = TimeSeries.funnelLatency(rows.toDF("a", "t", "e"),
      "a", "t", "e", Seq("view", "click", "purchase"))
      .collect().map(r => r.getAs[String]("pair") -> r).toMap
    val vc = out("view_to_click")
    assert(vc.getAs[Long]("n") == 3L)
    assert(vc.getAs[Double]("wmedian") == 20.0)
    val cp = out("click_to_purchase")
    // actor1: 60-10=50s, actor2: 70-20=50s; actor3 never purchased
    assert(cp.getAs[Long]("n") == 2L)
    assert(cp.getAs[Double]("wmedian") == 50.0)
  }

  test("funnel: ordered steps, out-of-order events do not count") {
    val df = Seq(
      // full conversion
      (1L, ts("2024-01-01 00:00:01"), "view"),
      (1L, ts("2024-01-01 00:00:02"), "click"),
      (1L, ts("2024-01-01 00:00:03"), "purchase"),
      // click BEFORE the first view: stage stops at 1, and the later
      // purchase cannot attach to the unqualified click
      (2L, ts("2024-01-01 00:00:01"), "click"),
      (2L, ts("2024-01-01 00:00:02"), "view"),
      (2L, ts("2024-01-01 00:00:03"), "purchase"),
      // view only
      (3L, ts("2024-01-01 00:00:01"), "view"),
      // never entered the funnel
      (4L, ts("2024-01-01 00:00:01"), "purchase")
    ).toDF("user_id", "ts", "event_type")
    val out = TimeSeries
      .funnel(df, "user_id", "ts", "event_type", Seq("view", "click", "purchase"))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getInt(4) == 3)
    assert(out(2L).getInt(4) == 1)
    assert(out(2L).isNullAt(2) && out(2L).isNullAt(3))
    assert(out(3L).getInt(4) == 1)
    assert(out(4L).getInt(4) == 0)
    assert(out(1L).getTimestamp(3) == ts("2024-01-01 00:00:03"))
  }

  test("funnel: a step tied on timestamp with the prior step qualifies") {
    val df = Seq(
      (1L, ts("2024-01-01 00:00:01"), "view"),
      (1L, ts("2024-01-01 00:00:01"), "click")
    ).toDF("user_id", "ts", "event_type")
    val out = TimeSeries
      .funnel(df, "user_id", "ts", "event_type", Seq("view", "click"))
      .collect()
    assert(out.head.getInt(3) == 2)
  }

  test("funnel on empty input is empty") {
    val df = Seq.empty[(Long, Timestamp, String)].toDF("user_id", "ts", "event_type")
    assert(TimeSeries.funnel(df, "user_id", "ts", "event_type",
      Seq("view", "click")).count() == 0)
  }

  test("eventSequences: time-ordered, tie-broken, capped inside the aggregate") {
    val df = Seq(
      (1L, ts("2024-01-01 00:00:01"), "a", 10L),
      (1L, ts("2024-01-01 00:00:03"), "c", 30L),
      (1L, ts("2024-01-01 00:00:02"), "b", 20L),
      // tie: same ts, order falls back to the id column
      (2L, ts("2024-01-01 00:00:01"), "y", 2L),
      (2L, ts("2024-01-01 00:00:01"), "x", 1L)
    ).toDF("k", "ts", "v", "id")
    val out = TimeSeries.eventSequences(df, Seq("k"), "ts", "v", "id", maxLen = 10)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(out(1L) == ((3L, "a b c")))
    assert(out(2L) == ((2L, "x y")))
    // cap truncates the sequence but NOT the count
    val capped = TimeSeries.eventSequences(df, Seq("k"), "ts", "v", "id", maxLen = 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(capped(1L) == ((3L, "a b")))
  }

  test("throttle keeps exactly the burst heads") {
    val df = Seq(
      // burst of three 10s-spaced events, then a 100s pause, then two more
      (1L, ts("2024-01-01 00:00:00"), "e", 1L),
      (1L, ts("2024-01-01 00:00:10"), "e", 2L),
      (1L, ts("2024-01-01 00:00:20"), "e", 3L),
      (1L, ts("2024-01-01 00:02:00"), "e", 4L),
      (1L, ts("2024-01-01 00:02:15"), "e", 5L)
    ).toDF("k", "ts", "v", "id")
    val kept = TimeSeries.throttle(df, Seq("k"), "ts", "id", gapMicros = 30L * 1000000L)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 4L))
    // gap larger than every inter-event distance: only the head survives
    assert(TimeSeries.throttle(df, Seq("k"), "ts", "id", gapMicros = 3600L * 1000000L)
      .count() == 1)
  }

  test("retentionCohorts: weekly triangle — cohorts, offsets, exact fractions") {
    // weeks (Mondays): 2024-01-01, 01-08, 01-15
    val ev = Seq(
      (1L, ts("2024-01-01 10:00:00")), // u1 cohort w0, active w0 w1 w2
      (1L, ts("2024-01-03 09:00:00")), //   second w0 event dedups
      (1L, ts("2024-01-09 10:00:00")),
      (1L, ts("2024-01-16 10:00:00")),
      (2L, ts("2024-01-02 10:00:00")), // u2 cohort w0, active w0 w2
      (2L, ts("2024-01-18 10:00:00")),
      (3L, ts("2024-01-08 10:00:00"))  // u3 cohort w1, active w1 only
    ).toDF("user_id", "t")
      .union(Seq((null.asInstanceOf[java.lang.Long], ts("2024-01-01 00:00:00")))
        .toDF("user_id", "t")) // null actor dropped
    val out = TimeSeries.retentionCohorts(ev, "user_id", "t", "week")
      .collect().map(r => (r.getTimestamp(0).toString.take(10), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(out == Map(
      ("2024-01-01", 0L) -> ((2L, 2L, 1.0)),
      ("2024-01-01", 1L) -> ((1L, 2L, 0.5)),
      ("2024-01-01", 2L) -> ((2L, 2L, 1.0)),
      ("2024-01-08", 0L) -> ((1L, 1L, 1.0))))
  }

  test("compressConsecutive keeps change points, null-safely") {
    val df = Seq(
      (1L, ts("2024-01-01 00:00:01"), Some("a"), 1L),
      (1L, ts("2024-01-01 00:00:02"), Some("a"), 2L), // dropped
      (1L, ts("2024-01-01 00:00:03"), Some("b"), 3L),
      (1L, ts("2024-01-01 00:00:04"), None, 4L),      // change to null kept
      (1L, ts("2024-01-01 00:00:05"), None, 5L),      // null == null dropped
      (1L, ts("2024-01-01 00:00:06"), Some("b"), 6L)
    ).toDF("k", "ts", "v", "id")
    val kept = TimeSeries.compressConsecutive(df, Seq("k"), "ts", "id", Seq("v"))
      .select("id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L, 4L, 6L))
  }

  test("transitionMatrix: consecutive-pair counts row-normalize per from_state") {
    val df = Seq(
      (1L, ts("2024-01-01 00:00:01"), "A", 1L),
      (1L, ts("2024-01-01 00:00:02"), "B", 2L),
      (1L, ts("2024-01-01 00:00:03"), "A", 3L),
      (2L, ts("2024-01-01 00:00:01"), "A", 4L),
      (2L, ts("2024-01-01 00:00:02"), "C", 5L),
      (3L, ts("2024-01-01 00:00:01"), "Z", 6L) // no successor → no pair
    ).toDF("k", "ts", "state", "id")
    val out = TimeSeries.transitionMatrix(df, Seq("k"), "ts", "state", "id")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    assert(out == Map(
      ("A", "B") -> ((1L, 0.5)), ("A", "C") -> ((1L, 0.5)),
      ("B", "A") -> ((1L, 1.0))))
  }

  test("transitionMatrix: timestamp ties order by the tie column") {
    val t0 = ts("2024-01-01 00:00:01")
    val df = Seq((1L, t0, "A", 2L), (1L, t0, "B", 1L)).toDF("k", "ts", "state", "id")
    val out = TimeSeries.transitionMatrix(df, Seq("k"), "ts", "state", "id")
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(out.toSeq == Seq(("B", "A"))) // id 1 precedes id 2
  }

  test("ewma: per-key recursive smoothing in (ts, tie) order") {
    val df = Seq(
      (1L, ts("2024-01-01 00:00:01"), 1L, 10.0),
      (1L, ts("2024-01-01 00:00:02"), 2L, 20.0),
      (1L, ts("2024-01-01 00:00:03"), 3L, 20.0),
      (2L, ts("2024-01-01 00:00:01"), 4L, 5.0)
    ).toDF("k", "ts", "id", "v")
    val out = TimeSeries.ewma(df, Seq("k"), "ts", "id", "v", alpha = 0.5)
      .collect().map(r => r.getLong(1) -> r.getDouble(4)).toMap
    assert(out(1L) == 10.0)            // e0 = x0
    assert(out(2L) == 15.0)            // 10 + 0.5·(20−10)
    assert(out(3L) == 17.5)            // 15 + 0.5·(20−15)
    assert(out(4L) == 5.0)             // independent key
  }

  test("ewma: null value/ts rows are dropped, ties order by tie column") {
    val t0 = ts("2024-01-01 00:00:01")
    val df = Seq(
      (1L, Option(t0), 2L, Option(100.0)),
      (1L, Option(t0), 1L, Option(0.0)),   // same ts: id 1 first
      (1L, Option(t0), 3L, Option.empty[Double]),
      (1L, Option.empty[java.sql.Timestamp], 4L, Option(9.0))
    ).toDF("k", "ts", "id", "v")
    val out = TimeSeries.ewma(df, Seq("k"), "ts", "id", "v", alpha = 0.5)
      .collect().map(r => r.getLong(1) -> r.getDouble(4)).toMap
    assert(out == Map(1L -> 0.0, 2L -> 50.0))
  }

  test("seasonalityProfile: per-dow exact means and ratio to key mean") {
    // 2024-01-07 is a Sunday (dow 1), 2024-01-08 a Monday (dow 2)
    val df = Seq(
      ("a", ts("2024-01-07 10:00:00"), 10.0),
      ("a", ts("2024-01-07 11:00:00"), 30.0),
      ("a", ts("2024-01-08 10:00:00"), 40.0)
    ).toDF("k", "ts", "v")
    val out = TimeSeries.seasonalityProfile(df, Seq("k"), "ts", "v")
      .collect().map(r => r.getInt(1) ->
        (r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(out(1) == ((2L, 20.0, 0.75)))   // sunday mean 20, key mean 80/3
    assert(out(2)._1 == 1L && out(2)._2 == 40.0)
    assert(math.abs(out(2)._3 - 1.5) < 1e-15)
  }

  test("gaps: missing ranges between distinct present values") {
    val df = Seq(1L, 2L, 5L, 6L, 6L, 10L).toDF("v")
    val out = TimeSeries.gaps(df, Nil, "v")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(out == Set((2L, 5L, 3L, 4L, 2L), (6L, 10L, 7L, 9L, 3L)))
  }

  test("frequentPaths: sessions split on gap, paths ordered, overlong dropped") {
    val df = Seq(
      (1L, ts("2024-01-01 10:00:00"), "view", Some(1L)),
      (1L, ts("2024-01-01 10:05:00"), "click", Some(2L)),
      // null tie: no place in the (ts, tie) order, so not in any path
      (1L, ts("2024-01-01 10:10:00"), "click", None),
      (1L, ts("2024-01-01 12:00:00"), "view", Some(3L)),   // new session
      (2L, ts("2024-01-01 10:00:00"), "view", Some(4L)),
      (2L, ts("2024-01-01 10:01:00"), "click", Some(5L))
    ).toDF("user_id", "ts", "event_type", "event_id")
    val out = TimeSeries.frequentPaths(df, "user_id", "ts", "event_id",
      "event_type", gapMicros = 1800000000L, maxLen = 20, topK = 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(out.toSet == Set(("view>click", 2L, 1L), ("view", 1L, 2L)))
  }

  test("periodOverPeriod: exact totals, missing periods skipped not zero-filled") {
    val df = Seq(
      ("a", ts("2024-01-01 10:00:00"), 10.0),
      ("a", ts("2024-01-01 11:00:00"), 10.0),
      ("a", ts("2024-01-02 10:00:00"), 30.0),
      ("a", ts("2024-01-04 10:00:00"), 15.0) // jan 3 missing
    ).toDF("k", "ts", "v")
    val out = TimeSeries.periodOverPeriod(df, Seq("k"), "ts", "v", "day")
      .collect().map(r => r.getTimestamp(1).toString.take(10) ->
        (r.getLong(2), r.getDouble(3), Option(r.get(4)), Option(r.get(6)))).toMap
    assert(out("2024-01-01") == ((2L, 20.0, None, None)))
    assert(out("2024-01-02") == ((1L, 30.0, Some(20.0), Some(0.5))))
    // previous PRESENT period (jan 2), not the absent jan 3
    assert(out("2024-01-04") == ((1L, 15.0, Some(30.0), Some(-0.5))))
  }

  test("anchoredThrottle: re-admits per gap window since last KEPT (vs chained throttle)") {
    // events at t=0, 20, 40, 60 min with 30-min gap:
    // anchored keeps 0, 40 (20 is <30 after 0; 40 is >=30 after 0;
    // 60 is <30 after 40) — chained throttle would keep only 0
    def ev(min: Int, id: Long) =
      (1L, new java.sql.Timestamp(min * 60000L), id)
    val df = Seq(ev(0, 1L), ev(20, 2L), ev(40, 3L), ev(60, 4L))
      .toDF("k", "ts", "id")
    val kept = TimeSeries.anchoredThrottle(df, Seq("k"), "ts", "id",
      minGapMicros = 1800000000L).collect().map(_.getLong(1)).toSet
    assert(kept == Set(1L, 3L))
    val chained = TimeSeries.throttle(df, Seq("k"), "ts", "id",
      gapMicros = 1800000000L).collect().map(_.getLong(2)).toSet
    assert(chained == Set(1L)) // every event within 30min of its PREDECESSOR
  }

  test("levelShift: step change scores h at the boundary, nulls at edges") {
    // series per key k: 6 values 10.0 then 6 values 20.0, w=3
    val rows = (0 until 12).map(i =>
      ("k", new Timestamp(1700000000000L + i * 1000L), i.toLong,
        if (i < 6) 10.0 else 20.0))
    val df = rows.toDF("k", "ts", "id", "v")
    val out = TimeSeries.levelShift(df, Seq("k"), "ts", "id", "v", w = 3)
      .collect().map(r => r.getLong(1) -> Option(r.get(4)).map(_.asInstanceOf[Double]))
      .toMap
    // rows 0-2 lack a full before-window; rows 9-11 lack after
    assert(out(0L).isEmpty && out(2L).isEmpty && out(9L).isEmpty && out(11L).isEmpty)
    // at i=3: after {4,5,6} already touches the step -> (40-30)/3
    assert(out(3L).contains((40.0 - 30.0) / 3.0))
    // at i=5: before {2,3,4}=10s, after {6,7,8}=20s -> +10 (= h)
    assert(out(5L).contains(10.0))
    // at i=6: before {3,4,5}=10s, after {7,8,9}=20s -> +10
    assert(out(6L).contains(10.0))
    // at i=4: after {5,6,7} = (10+20+20), before 30 -> 20/3
    assert(out(4L).contains((50.0 - 30.0) / 3.0))
  }

  test("proRata: cents conserve per group; largest remainder; zero weights null") {
    val df = Seq((1L, 1, 3.0, 100.00), (1L, 2, 3.0, 100.00), (1L, 3, 3.0, 100.00),
      (2L, 1, 1.0, 0.05), (2L, 2, 2.0, 0.05),
      (3L, 1, 0.0, 10.00)).toDF("g", "ln", "w", "total")
    val out = Allocate.proRata(df, Seq("g"), "ln", "w", "total")
      .collect().map(r => (r.getLong(0), r.getInt(1)) ->
        Option(r.getDecimal(4)).map(_.toString)).toMap
    assert(out((1L, 1)).contains("33.34")) // the extra cent: min line number
    assert(out((1L, 2)).contains("33.33") && out((1L, 3)).contains("33.33"))
    assert(out((2L, 1)).contains("0.02") && out((2L, 2)).contains("0.03"))
    assert(out((3L, 1)).isEmpty)
  }

  test("proRata: duplicate (group, tie) rows allocate an engine-order-" +
      "independent multiset") {
    // the q207 failure mode: tieCol NOT unique in the group, remainder
    // ties straddle the leftover-cent boundary. tc=4 cents, w=(1,5,2),
    // W=8 -> p=(4,20,8), base=(0,2,1), rem=(4,4,0), leftover=1. The
    // rem tie is between DIFFERENT weights on the SAME line number —
    // only the (rem DESC, tie, weight) chain makes the cent landing
    // deterministic: it goes to the w=1 row.
    val rows = Seq((1L, 1, 1.0, 0.04), (1L, 1, 5.0, 0.04),
      (1L, 1, 2.0, 0.04),
      // and a fully-identical tie run (w equal too): multiset must
      // still be stable even though row identity is arbitrary
      (2L, 1, 1.0, 0.05), (2L, 1, 1.0, 0.05), (2L, 2, 1.0, 0.05))
    def run(shufflePartitions: Int, inputPartitions: Int) = {
      val prev = spark.conf.get("spark.sql.shuffle.partitions")
      try {
        spark.conf.set("spark.sql.shuffle.partitions", shufflePartitions)
        Allocate.proRata(
          rows.toDF("g", "ln", "w", "total").repartition(inputPartitions),
          Seq("g"), "ln", "w", "total")
          .collect()
          .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2),
            Option(r.getDecimal(4)).map(_.toString).orNull))
          .sortBy(t => (t._1, t._2, t._3, t._4)).toSeq
      } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    }
    val a = run(3, 7)
    val b = run(32, 1)
    val c = run(5, 2)
    assert(a == b && b == c, s"partition-order-dependent output:\n$a\n$b\n$c")
    assert(a.filter(_._1 == 1L).map(_._4) == Seq("0.01", "0.01", "0.02"))
    assert(a.filter(_._1 == 2L).map(_._4) == Seq("0.02", "0.02", "0.01"))
  }

  test("laggedCrossCorr: shifted series peaks at its lag; gaps align " +
      "pairwise") {
    // y is x delayed by one step (y_{t+1} = x_t): lag-1 r = 1 exactly
    val df = Seq((0L, 0.0, 9.0), (1L, 1.0, 0.0), (2L, 2.0, 1.0),
      (3L, 3.0, 2.0), (4L, 4.0, 3.0)).toDF("t", "x", "y")
    val out = TimeSeries.laggedCrossCorr(df, Seq.empty, "t", "x", "y",
      maxLag = 2)
      .collect().map(r => r.getInt(0) ->
        (r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Double]))).toMap
    assert(out(0)._1 == 5L && out(1)._1 == 4L && out(2)._1 == 3L)
    assert(math.abs(out(1)._2.get - 1.0) < 1e-12)
    assert(out(0)._2.get < 0.5) // junk y_0 wrecks the contemporaneous r
    // a gap drops only the pairs that touch it
    val gap = Seq((0L, 0.0, 9.0), (1L, 1.0, 0.0), (3L, 3.0, 2.0),
      (4L, 4.0, 3.0)).toDF("t", "x", "y")
    val g = TimeSeries.laggedCrossCorr(gap, Seq.empty, "t", "x", "y",
      maxLag = 1)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(g(0) == 4L && g(1) == 2L) // (0,1) and (3,4) survive at lag 1
  }

  test("rollingCorr: exact +-1 on linear frames, warmup nulls, " +
      "regime flip detected") {
    // x tracks t for 3 steps then reverses; y keeps climbing
    val df = Seq((1L, 1.0, 1.0), (2L, 2.0, 2.0), (3L, 3.0, 3.0),
      (4L, 2.0, 4.0), (5L, 1.0, 5.0), (6L, 0.0, 6.0))
      .map { case (t, x, y) => ("k", t, x, y) }.toDF("k", "t", "x", "y")
    val out = TimeSeries.rollingCorr(df, Seq("k"), "t", "t", "x", "y",
      window = 3)
      .collect().map(r => r.getLong(1) ->
        Option(r.getAs[Any]("corr")).map(_.asInstanceOf[Double])).toMap
    assert(out(1L).isEmpty && out(2L).isEmpty) // warmup frames
    // sqrt(v)*sqrt(v) can land 1 ulp off v: perfect corr to 1e-12
    assert(math.abs(out(3L).get - 1.0) < 1e-12)
    assert(math.abs(out(5L).get + 1.0) < 1e-12) // frames 3,2,1 vs 3,4,5
    assert(math.abs(out(6L).get + 1.0) < 1e-12)
  }

  test("intervalCoverage: overlaps clipped, nested absorbed, segments " +
      "counted, duplicates free") {
    val df = Seq(
      ("k", 0L, 10L), ("k", 5L, 15L),   // overlap -> 15
      ("k", 20L, 30L),                  // second segment -> +10
      ("n", 0L, 100L), ("n", 10L, 20L), // nested absorbed -> 100
      ("d", 0L, 10L), ("d", 0L, 10L),   // duplicate contributes 0
      ("d", 8L, 8L),                    // zero-length dropped
      ("z", 5L, 3L))                    // inverted dropped -> no row
      .toDF("k", "s", "e")
    val out = TimeSeries.intervalCoverage(df, Seq("k"), "s", "e")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out("k") == ((3L, 25L, 2L)))
    assert(out("n") == ((2L, 100L, 1L)))
    assert(out("d") == ((2L, 10L, 1L)))
    assert(!out.contains("z"))
  }
  test("seasonalDecompose: periodic series recovers trend/seasonal " +
    "exactly, remainder zero; edges null; empty input") {
    // v = [3,1,2,3,1,2] at t = 0..5, period 3: interior trend = 2,
    // seasonal by phase = (+1 @ t%3=0, −1 @ 1, 0 @ 2), remainder = 0
    val df = Seq((0L, 3L), (1L, 1L), (2L, 2L), (3L, 3L), (4L, 1L),
      (5L, 2L)).toDF("t", "v")
    val out = TimeSeries.seasonalDecompose(df, Seq.empty, "t", "v", 3)
      .orderBy("t").collect()
    val interior = out.slice(1, 5)
    assert(interior.forall(_.getAs[Double]("trend") == 2.0))
    assert(interior.map(_.getAs[Double]("seasonal")).toSeq ==
      Seq(-1.0, 0.0, 1.0, -1.0))
    assert(interior.forall(_.getAs[Double]("remainder") == 0.0))
    for (r <- Seq(out.head, out.last))
      assert(r.isNullAt(r.fieldIndex("trend")) &&
        r.isNullAt(r.fieldIndex("seasonal")) &&
        r.isNullAt(r.fieldIndex("remainder")))
    assert(TimeSeries.seasonalDecompose(df.limit(0), Seq.empty, "t", "v", 3)
      .count() == 0)
    intercept[IllegalArgumentException] {
      TimeSeries.seasonalDecompose(df, Seq.empty, "t", "v", period = 4)
    }
  }

  test("bollinger: hand moments, breach only outside the band, " +
    "warmup null; empty input") {
    val df = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 10L)).toDF("t", "v")
    val out = TimeSeries.bollinger(df, Seq.empty, "t", "v",
      window = 3, k = 1.0).orderBy("t").collect()
    // warmup: frames of 1 and 2 rows
    assert(out.take(2).forall(r => r.isNullAt(r.fieldIndex("mean"))))
    val r2 = out(2) // frame [1,2,3]: mean 2, var 1, band [1,3]
    assert(r2.getAs[Double]("mean") == 2.0 && r2.getAs[Double]("sd") == 1.0)
    assert(r2.getAs[Double]("upper") == 3.0 &&
      r2.getAs[Double]("lower") == 1.0)
    assert(!r2.getAs[Boolean]("breach_hi") && !r2.getAs[Boolean]("breach_lo"))
    val r3 = out(3) // frame [2,3,10]: mean 5, var 19
    assert(r3.getAs[Double]("mean") == 5.0)
    assert(r3.getAs[Double]("sd") == math.sqrt(19.0))
    assert(r3.getAs[Boolean]("breach_hi") && !r3.getAs[Boolean]("breach_lo"))
    assert(TimeSeries.bollinger(df.limit(0), Seq.empty, "t", "v", 3)
      .count() == 0)
  }
  test("ohlc: first/last by the (ts, tie) total order; exact vwap; " +
    "zero-volume null") {
    val df = Seq(
      ("k", ts("2024-01-01 10:05:00"), 2L, 10.0, 1.0),
      ("k", ts("2024-01-01 10:05:00"), 1L, 30.0, 2.0), // tie: id 1 first
      ("k", ts("2024-01-01 10:55:00"), 3L, 20.0, 1.0),
      ("z", ts("2024-01-01 10:00:00"), 4L, 5.0, 0.0)   // zero volume
    ).toDF("key", "t", "id", "p", "v")
    val out = TimeSeries.ohlc(df, Seq("key"), "t", "id", "p", "v", "hour")
      .collect().map(r => r.getString(0) -> r).toMap
    val k = out("k")
    assert(k.getAs[Long]("n") == 3L)
    assert(k.getAs[Double]("open") == 30.0)  // id 1 at the tied ts
    assert(k.getAs[Double]("close") == 20.0)
    assert(k.getAs[Double]("high") == 30.0 && k.getAs[Double]("low") == 10.0)
    assert(k.getAs[Double]("volume") == 4.0)
    // vwap = (10·1 + 30·2 + 20·1)/4 = 22.5
    assert(k.getAs[Double]("vwap") == 22.5)
    val z = out("z")
    assert(z.getAs[Double]("volume") == 0.0 &&
      z.isNullAt(z.fieldIndex("vwap")))
  }

  test("twap: holding-time weights, bucket-edge close, zero-weight " +
    "tied ticks, per-bucket independence") {
    val df = Seq(
      ("k", ts("2024-01-01 00:00:00"), 1L, 10.0),
      ("k", ts("2024-01-01 00:54:00"), 2L, 99.0),
      // next hour: one tick holds to the edge
      ("k", ts("2024-01-01 01:30:00"), 3L, 40.0),
      // tied ticks: first contributes zero holding time
      ("z", ts("2024-01-01 00:00:00"), 4L, 1000.0),
      ("z", ts("2024-01-01 00:00:00"), 5L, 20.0)
    ).toDF("k", "ts", "id", "v")
    val out = TimeSeries.twap(df, Seq("k"), "ts", "id", "v", unit = "hour")
      .collect().map(r => (r.getString(0),
        r.getTimestamp(1).toString) -> r).toMap
    // 54 min at 10 + 6 min at 99 = (10*3240 + 99*360)/3600 = 18.9
    val k0 = out(("k", "2024-01-01 00:00:00.0"))
    assert(k0.getAs[Long]("n_ticks") == 2L &&
      k0.getAs[Double]("twap") == 18.9)
    // single mid-bucket tick holds to the hour edge: twap = its value
    assert(out(("k", "2024-01-01 01:00:00.0")).getAs[Double]("twap") == 40.0)
    // tie at id 4 gets weight 0; id 5 holds the full hour
    assert(out(("z", "2024-01-01 00:00:00.0")).getAs[Double]("twap") == 20.0)
  }

  test("maxDrawdown: hand peak-to-trough, monotone series scores 0, " +
    "non-positive peak nulls, earliest argmax on ties") {
    val df = Seq(
      // k: peak 100 at t2, trough 40 at t4 -> dd = 0.6; later
      // recovery to 120 then 60 is dd 0.5 — smaller
      ("k", ts("2024-01-01 00:00:00"), 1L, 80.0),
      ("k", ts("2024-01-01 00:01:00"), 2L, 100.0),
      ("k", ts("2024-01-01 00:02:00"), 3L, 70.0),
      ("k", ts("2024-01-01 00:03:00"), 4L, 40.0),
      ("k", ts("2024-01-01 00:04:00"), 5L, 120.0),
      ("k", ts("2024-01-01 00:05:00"), 6L, 60.0),
      // m: monotone rising -> dd 0 everywhere, argmax = FIRST row
      ("m", ts("2024-01-01 00:00:00"), 7L, 1.0),
      ("m", ts("2024-01-01 00:01:00"), 8L, 2.0),
      // z: never above zero -> null drawdown
      ("z", ts("2024-01-01 00:00:00"), 9L, -5.0),
      ("z", ts("2024-01-01 00:01:00"), 10L, -9.0)
    ).toDF("k", "ts", "id", "v")
    val out = TimeSeries.maxDrawdown(df, Seq("k"), "ts", "id", "v")
      .collect().map(r => r.getString(0) -> r).toMap
    val k = out("k")
    assert(k.getLong(1) == 6L && k.getDouble(2) == 100.0 &&
      k.getDouble(3) == 40.0 && k.getDouble(4) == 0.6)
    val m = out("m")
    assert(m.getDouble(4) == 0.0 && m.getDouble(2) == 1.0 &&
      m.getDouble(3) == 1.0)
    val z = out("z")
    assert(z.getLong(1) == 2L && z.isNullAt(2) && z.isNullAt(3) &&
      z.isNullAt(4))
  }

  test("holtLinear: hand level/trend walk, single-point key has zero " +
    "trend, forecast extrapolates h steps") {
    val df = Seq(
      ("k", ts("2024-01-01 00:00:00"), 1L, 10.0),
      ("k", ts("2024-01-01 00:01:00"), 2L, 20.0),
      ("k", ts("2024-01-01 00:02:00"), 3L, 30.0),
      ("solo", ts("2024-01-01 00:00:00"), 4L, 7.0)
    ).toDF("k", "ts", "id", "v")
    val out = TimeSeries.holtLinear(df, Seq("k"), "ts", "id", "v",
      alpha = 0.5, beta = 0.5, horizon = 2)
      .collect().map(r => r.getString(0) -> r).toMap
    // alpha=beta=.5: l1=10,b1=0; x=20 -> l=15, b=2.5;
    // x=30 -> l=.5*30+.5*17.5=23.75, b=.5*8.75+.5*2.5=5.625
    val k = out("k")
    assert(k.getLong(1) == 3L)
    assert(k.getDouble(2) == 23.75 && k.getDouble(3) == 5.625)
    assert(k.getDouble(4) == 23.75 + 2.0 * 5.625)
    val s = out("solo")
    assert(s.getLong(1) == 1L && s.getDouble(2) == 7.0 &&
      s.getDouble(3) == 0.0 && s.getDouble(4) == 7.0)
  }

  test("theilU: hand U1 chain, U2 = naive-relative RMSE; flat " +
    "actuals and single-point keys null U2") {
    val df = Seq(
      ("k", ts("2024-01-01 00:00:00"), 1L, 10.0, 12.0),
      ("k", ts("2024-01-01 00:01:00"), 2L, 20.0, 18.0),
      ("f", ts("2024-01-01 00:00:00"), 3L, 5.0, 6.0),
      ("f", ts("2024-01-01 00:01:00"), 4L, 5.0, 4.0),
      ("s", ts("2024-01-01 00:00:00"), 5L, 7.0, 7.0)
    ).toDF("key", "ts", "id", "a", "fc")
    val out = TimeSeries.theilU(df, Seq("key"), "ts", "id", "a", "fc")
      .collect().map(r => r.getString(0) -> r).toMap
    val k = out("k")
    // cents: e = (200, -200), a = (1000, 2000), f = (1200, 1800)
    val u1 = math.sqrt(80000.0 / 2.0) /
      (math.sqrt(5000000.0 / 2.0) + math.sqrt(4680000.0 / 2.0))
    assert(k.getAs[Double]("u1") == u1)
    assert(k.getAs[Double]("u2") == 0.2) // 200 / 1000
    assert(out("f").isNullAt(out("f").fieldIndex("u2"))) // flat naive
    assert(out("s").isNullAt(out("s").fieldIndex("u2"))) // n = 1
    assert(out("s").getAs[Double]("u1") ==
      math.sqrt(0.0) / (math.sqrt(490000.0) + math.sqrt(490000.0)))
  }

  test("trackingSignal: drifting forecast accumulates TS = n* " +
    "signed bias; perfect forecast nulls the signal") {
    val df = Seq(("k", 10.0, 10.0), ("k", 12.0, 10.0),
      ("k", 14.0, 10.0), ("p", 5.0, 5.0)).toDF("key", "a", "f")
    val out = TimeSeries.trackingSignal(df, Seq("key"), "a", "f")
      .collect().map(r => r.getString(0) -> r).toMap
    val k = out("k")
    assert(k.getAs[Double]("cum_error") == 6.0)
    assert(k.getAs[Double]("mad") == 2.0)
    assert(k.getAs[Double]("tracking_signal") == 3.0)
    assert(out("p").getAs[Double]("mad") == 0.0)
    assert(out("p").isNullAt(out("p").fieldIndex("tracking_signal")))
  }

  test("holtLinear/ewma: null-tie rows are DROPPED (the fold-family " +
    "null contract, matching the streaming arms' filter)") {
    // a null key, tie or value has no position in the (ts, tie) order
    // (TimeSeries.positioned) — holtStream/ewmaStream filter it, so
    // every array fold on sortedSeries must answer on the
    // null-bearing feed exactly as on its clean twin
    val rows = Seq(
      ("k", ts("2024-01-01 00:00:00"), Option(1L), Option(10.0)),
      ("k", ts("2024-01-01 00:01:00"), None, Option(99.0)),
      ("k", ts("2024-01-01 00:02:00"), Option(3L), Option(30.0)),
      (null, ts("2024-01-01 00:03:00"), Option(4L), Option(40.0)),
      ("k", ts("2024-01-01 00:04:00"), Option(5L), None),
      ("k", ts("2024-01-01 00:05:00"), Option(6L), Option(20.0)))
    val df = rows.toDF("k", "ts", "id", "v")
    // anchoredThrottle reads no value: a null value is a clean row there
    def cleanOf(valued: Boolean) = rows
      .filter(r => r._1 != null && r._3.isDefined && (!valued || r._4.isDefined))
      .toDF("k", "ts", "id", "v")
    val clean = cleanOf(valued = true)
    val a = TimeSeries.holtLinear(df, Seq("k"), "ts", "id", "v",
      alpha = 0.5, beta = 0.5).collect().head
    val b = TimeSeries.holtLinear(clean, Seq("k"), "ts", "id", "v",
      alpha = 0.5, beta = 0.5).collect().head
    assert(a.getLong(1) == 3L && a == b)
    val e1 = TimeSeries.ewma(df, Seq("k"), "ts", "id", "v", 0.5)
      .collect().map(r => (r.getLong(1), r.getDouble(4))).sorted
    val e2 = TimeSeries.ewma(clean, Seq("k"), "ts", "id", "v", 0.5)
      .collect().map(r => (r.getLong(1), r.getDouble(4))).sorted
    assert(e1.length == 3 && e1.sameElements(e2))
    def rowsOf(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(_.toString).sorted.toSeq
    val folds: Seq[(String, Boolean, org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.DataFrame)] = Seq(
      ("holtWinters", true, TimeSeries.holtWinters(_, Seq("k"), "ts", "id",
        "v", alpha = 0.5, beta = 0.5, gamma = 0.5, period = 2)),
      ("croston", true, TimeSeries.croston(_, Seq("k"), "ts", "id", "v",
        alpha = 0.5)),
      ("rsi", true, TimeSeries.rsi(_, Seq("k"), "ts", "id", "v",
        period = 2)),
      ("pageHinkley", true, TimeSeries.pageHinkley(_, Seq("k"), "ts", "id",
        "v", delta = 0.0, lambda = 5.0)),
      ("macd", true, TimeSeries.macd(_, Seq("k"), "ts", "id", "v",
        fastSpan = 2, slowSpan = 3, signalSpan = 2)),
      ("anchoredThrottle", false, TimeSeries.anchoredThrottle(_, Seq("k"),
        "ts", "id", minGapMicros = 60000000L)))
    folds.foreach { case (name, valued, f) =>
      val got = rowsOf(f(df))
      assert(got.nonEmpty && got == rowsOf(f(cleanOf(valued))), name)
    }
  }

  test("window operators drop null-tie rows: lagFeatures, levelShift, " +
    "throttle, eventSequences and topPaths answer as on the clean feed") {
    // Spark sorts a null tie FIRST in (ts, tie), ANSI engines LAST, so
    // the row has no engine-free place in the order
    // (TimeSeries.positioned) — it must not feed its neighbours
    val rows = Seq(
      ("k", ts("2024-01-01 00:00:00"), Option(1L), 1.0, "a"),
      ("k", ts("2024-01-01 00:00:00"), None, 5.0, "b"),
      ("k", ts("2024-01-01 00:01:00"), Option(2L), 3.0, "c"))
    val df = rows.toDF("k", "ts", "id", "v", "t")
    val clean = rows.filter(_._3.isDefined).toDF("k", "ts", "id", "v", "t")
    // id 1 heads the series: no lag, not the null-tie row's 5.0
    val lags = TimeSeries.lagFeatures(df, Seq("k"), "ts", "id", "v", Seq(1))
      .collect().map(r =>
        r.getAs[Long]("id") -> Option(r.getAs[Any]("v_lag1"))).toMap
    assert(lags == Map(1L -> None, 2L -> Some(1.0)))
    // w = 1: neither row has both neighbours once the null tie is gone
    val shifts = TimeSeries.levelShift(df, Seq("k"), "ts", "id", "v", w = 1)
      .collect()
    assert(shifts.length == 2 && shifts.forall(_.isNullAt(4)))
    def rowsOf(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(_.toString).sorted.toSeq
    val ops: Seq[(String, org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.DataFrame)] = Seq(
      ("throttle", TimeSeries.throttle(_, Seq("k"), "ts", "id",
        gapMicros = 0L)),
      ("eventSequences", TimeSeries.eventSequences(_, Seq("k"), "ts", "t",
        "id", maxLen = 5)),
      ("topPaths", TimeSeries.topPaths(_, "k", "ts", "id", "t",
        gapSeconds = 60L, maxLen = 5, k = 3)))
    ops.foreach { case (name, f) =>
      assert(rowsOf(f(df)) == rowsOf(f(clean)), name)
    }
  }

  test("stlDecompose: even period recovers the exact line trend " +
    "and the ±1 seasonal; remainder is 0 on the clean series") {
    // v = line (1..6) + alternating (+1, −1): [2,1,4,3,6,5], p = 2.
    // 2×2 MA trend (half-weight ends) is EXACTLY the line 2..5 on
    // rows 2..5; detrended = [−1,+1,−1,+1]; phase means (row−1)%2:
    // phase0 = +1, phase1 = −1, centering mean 0 — so seasonal
    // recovers the injected ±1 and remainder is exactly 0.
    val rows = (1 to 6).map(i =>
      ("k", ts(f"2024-01-0$i 00:00:00"), i.toLong,
        i.toDouble + (if (i % 2 == 1) 1.0 else -1.0)))
    val out = TimeSeries.stlDecompose(
      rows.toDF("k", "ts", "id", "v"), Seq("k"), "ts", "id", "v", 2)
      .collect().map(r => r.getAs[Long]("id") -> r).toMap
    assert(out.size == 6)
    (2 to 5).foreach { i =>
      val r = out(i.toLong)
      assert(r.getAs[Double]("trend") == i.toDouble)
      assert(r.getAs[Double]("seasonal") ==
        (if (i % 2 == 1) 1.0 else -1.0))
      assert(r.getAs[Double]("remainder") == 0.0)
      assert(r.getAs[Long]("phase") == (i - 1) % 2)
    }
    // head/tail: no full window, trend/remainder null; seasonal
    // still joins in (the phase mean exists from the mid rows)
    assert(out(1L).isNullAt(out(1L).fieldIndex("trend")))
    assert(out(6L).isNullAt(out(6L).fieldIndex("remainder")))
    assert(out(1L).getAs[Double]("seasonal") == 1.0)
  }

  test("stlDecompose: odd period plain centered mean; series " +
    "shorter than the window emits all-null trend and seasonal") {
    val rows = (1 to 5).map(i =>
      ("k", ts(f"2024-01-0$i 00:00:00"), i.toLong, (i * i).toDouble))
    val out = TimeSeries.stlDecompose(
      rows.toDF("k", "ts", "id", "v"), Seq("k"), "ts", "id", "v", 3)
      .collect().map(r => r.getAs[Long]("id") -> r).toMap
    // p = 3: trend_i = (v_{i−1}+v_i+v_{i+1})/3 on rows 2..4
    (2 to 4).foreach { i =>
      val t = ((i - 1) * (i - 1) + i * i + (i + 1) * (i + 1)) / 3.0
      assert(out(i.toLong).getAs[Double]("trend") == t)
    }
    // detrended (exact cents grid): row2 = 4−14/3, row3 = 9−29/3,
    // row4 = 16−50/3 → phases 1,2,0; centering = the n-weighted
    // overall detrended mean, one pinned chain over exact sums
    val d3 = (3 * 900 - 2900) / 1.0 / 3.0 / 100.0
    val mean = (-200.0 + -200.0 + -200.0) / 3.0 / 3.0 / 100.0
    assert(out(3L).getAs[Double]("seasonal") == d3 - mean)
    assert(out(3L).getAs[Double]("remainder") ==
      9.0 - out(3L).getAs[Double]("trend") -
        out(3L).getAs[Double]("seasonal"))
    // short series: 2 rows with period 3 — no full window anywhere
    val short = TimeSeries.stlDecompose(
      rows.take(2).toDF("k", "ts", "id", "v"),
      Seq("k"), "ts", "id", "v", 3).collect()
    assert(short.length == 2)
    assert(short.forall(_.isNullAt(short.head.fieldIndex("trend"))))
    assert(short.forall(_.isNullAt(short.head.fieldIndex("seasonal"))))
  }

  test("stlDecompose invariants on a seeded random feed: an offset " +
    "leaves seasonal bit-identical and shifts trend within an ulp " +
    "bound; repartitioning never changes a bit") {
    val rnd = new scala.util.Random(7)
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val rows = (1 to 300).map { i =>
      (s"k${rnd.nextInt(3)}",
        new java.sql.Timestamp(base + i * 60000L), i.toLong,
        rnd.nextInt(20000) / 100.0)
    }
    def run(rs: Seq[(String, java.sql.Timestamp, Long, Double)],
            parts: Int) = {
      val df0 = rs.toDF("k", "ts", "id", "v")
      TimeSeries.stlDecompose(
        if (parts > 0) df0.repartition(parts) else df0,
        Seq("k"), "ts", "id", "v", period = 6)
        .collect()
        .map(r => (r.getString(0), r.getLong(1)) ->
          (r.getAs[Any]("trend"), r.getAs[Any]("seasonal"),
            r.getAs[Any]("remainder"), r.getLong(4)))
        .toMap
    }
    val a = run(rows, 0)
    // detrended values ride the exact m·cents integer grid, so a
    // +77.13 offset leaves seasonal (and phase) BIT-IDENTICAL;
    // trend/remainder shift through different pinned division
    // chains, so they carry the offset to within an ulp bound
    val b = run(rows.map(r => (r._1, r._2, r._3, r._4 + 77.13)), 0)
    assert(a.keySet == b.keySet && a.nonEmpty)
    a.foreach { case (k, (t, s, rm, ph)) =>
      val (t2, s2, rm2, ph2) = b(k)
      assert(ph == ph2)
      (t, t2) match {
        case (x: java.lang.Double, y: java.lang.Double) =>
          assert(math.abs(y.doubleValue - (x.doubleValue + 77.13))
            < 1e-9, k)
        case _ => assert(t == null && t2 == null, k)
      }
      assert(s == s2, k) // seasonal invariant under offset, bit-exact
      (rm, rm2) match {
        case (x: java.lang.Double, y: java.lang.Double) =>
          assert(math.abs(y.doubleValue - x.doubleValue) < 1e-9, k)
        case _ => assert(rm == null && rm2 == null, k)
      }
    }
    // physical layout must not matter — bit-for-bit
    assert(run(rows, 7) == a)
  }

  test("cusum/transitionMatrix/compressConsecutive: null-tie (and " +
    "null-key) rows are DROPPED — the same fold-family null " +
    "contract, matching cusumStream/transitionsStream/compactStream") {
    // a null tie would order nulls-first in the batch window but is
    // filtered by the streaming arms — batch ≡ stream parity needs
    // the same filter on every fold-family batch arm
    val rows = Seq(
      (Some("k"), ts("2024-01-01 00:00:00"), Some(1L), "a", 10.0),
      (Some("k"), ts("2024-01-01 00:01:00"), None: Option[Long],
        "zz", 99.0),
      (None: Option[String], ts("2024-01-01 00:01:30"), Some(9L),
        "zz", 99.0),
      (Some("k"), ts("2024-01-01 00:02:00"), Some(3L), "a", 30.0),
      (Some("k"), ts("2024-01-01 00:03:00"), Some(4L), "b", 40.0))
    val df = rows.toDF("k", "ts", "id", "st", "v")
    val clean = rows.filter(r => r._3.isDefined && r._1.isDefined)
      .toDF("k", "ts", "id", "st", "v")
    def cu(d: org.apache.spark.sql.DataFrame) =
      TimeSeries.cusum(d, Seq("k"), "ts", "id", "v",
        target = 5.0, slack = 0.0, threshold = 50.0)
        .collect().map(r => (r.getLong(2), r.getDouble(4))).sorted
    assert(cu(df).length == 3 && cu(df).sameElements(cu(clean)))
    def tm(d: org.apache.spark.sql.DataFrame) =
      TimeSeries.transitionMatrix(d, Seq("k"), "ts", "st", "id")
        .collect().map(r => (r.getString(0), r.getString(1),
          r.getLong(2))).sorted
    // with the nulls dropped the sequence is a → a → b
    assert(tm(df).sameElements(Seq(("a", "a", 1L), ("a", "b", 1L))))
    assert(tm(df).sameElements(tm(clean)))
    def cc(d: org.apache.spark.sql.DataFrame) =
      TimeSeries.compressConsecutive(d, Seq("k"), "ts", "id",
        Seq("st")).collect().map(_.getAs[Long]("id")).sorted
    // a, (a dropped: consecutive dup), b — the null-tie "zz" row
    // must not break the a-a adjacency
    assert(cc(df).sameElements(Seq(1L, 4L)))
    assert(cc(df).sameElements(cc(clean)))
  }

  test("twapCarry invariants on a seeded random feed: gap-free bucket " +
    "coverage from first tick's bucket to last tick's, tick counts " +
    "conserved, twap inside the value envelope") {
    val rnd = new scala.util.Random(42)
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val rows = (1 to 400).map { i =>
      val key = s"k${rnd.nextInt(3)}"
      // sparse ticks across ~10 days: holds span many hourly buckets
      val at = new java.sql.Timestamp(base + math.abs(rnd.nextLong()) %
        (10L * 86400000L))
      (key, at, i.toLong, 1.0 + rnd.nextInt(10000) / 100.0)
    }
    val df = rows.toDF("k", "ts", "id", "v")
    val out = TimeSeries.twapCarry(df, Seq("k"), "ts", "id", "v",
      unit = "hour").collect()
    val byKey = out.groupBy(_.getString(0))
    rows.groupBy(_._1).foreach { case (k, rs) =>
      val buckets = byKey(k).map(_.getTimestamp(1).getTime).sorted
      val first = rs.map(_._2.getTime).min / 3600000L * 3600000L
      val last = rs.map(_._2.getTime).max / 3600000L * 3600000L
      // coverage is CONTIGUOUS from the first tick's bucket to the
      // last tick's — every intermediate bucket carried, none doubled
      assert(buckets.head == first && buckets.last == last)
      assert(buckets.length == ((last - first) / 3600000L + 1))
      assert(buckets.distinct.length == buckets.length)
      // every tick lands in exactly one bucket's n_ticks
      assert(byKey(k).map(_.getAs[Long]("n_ticks")).sum == rs.size)
      // twap is a convex combination of observed values
      val (lo, hi) = (rs.map(_._4).min, rs.map(_._4).max)
      byKey(k).filter(!_.isNullAt(3)).foreach { r =>
        val t = r.getAs[Double]("twap")
        assert(t >= lo - 1e-9 && t <= hi + 1e-9, s"$k $t not in [$lo,$hi]")
      }
    }
  }

  test("twapCarry: prevailing quote crosses buckets — spanned bucket " +
    "reports the held price with n_ticks 0, mixed bucket blends the " +
    "carry with its own ticks") {
    val df = Seq(
      ("k", ts("2024-01-01 00:30:00"), 1L, 10.0),
      ("k", ts("2024-01-01 02:30:00"), 2L, 40.0),
      ("k", ts("2024-01-01 03:00:00"), 3L, 50.0)
    ).toDF("k", "ts", "id", "v")
    val out = TimeSeries.twapCarry(df, Seq("k"), "ts", "id", "v",
      unit = "hour")
      .collect().map(r => r.getTimestamp(1).toString ->
        ((r.getAs[Long]("n_ticks"), r.getAs[Double]("twap")))).toMap
    assert(out == Map(
      "2024-01-01 00:00:00.0" -> ((1L, 10.0)), // 30 min at 10
      "2024-01-01 01:00:00.0" -> ((0L, 10.0)), // fully spanned: carry
      "2024-01-01 02:00:00.0" -> ((1L, 25.0)), // 30m@10 + 30m@40
      "2024-01-01 03:00:00.0" -> ((1L, 50.0)))) // last tick to edge
    // contrast with the no-carry contract: hour 01 absent, hour 02
    // prices only its own tick
    val plain = TimeSeries.twap(df, Seq("k"), "ts", "id", "v",
      unit = "hour")
      .collect().map(r => r.getTimestamp(1).toString ->
        r.getAs[Double]("twap")).toMap
    assert(!plain.contains("2024-01-01 01:00:00.0"))
    assert(plain("2024-01-01 02:00:00.0") == 40.0)
  }

  test("twapCarry: maxBucketsPerHold fails fast — a year-long hold at " +
    "minute buckets names the span; cap at the span passes") {
    def msgs(t: Throwable): String = Iterator.iterate(t)(_.getCause)
      .takeWhile(_ != null).map(m => Option(m.getMessage).getOrElse(""))
      .mkString("|")
    // one key silent for a year: ~525,600 minute buckets — the guard
    // must fire BEFORE the per-row sequence materializes
    val year = Seq(
      ("k", ts("2024-01-01 00:00:00"), 1L, 10.0),
      ("k", ts("2025-01-01 00:00:00"), 2L, 20.0)).toDF("k", "ts", "id", "v")
    val e = intercept[Throwable] {
      TimeSeries.twapCarry(year, Seq("k"), "ts", "id", "v",
        unit = "minute").collect()
    }
    assert(msgs(e).contains("maxBucketsPerHold"))
    // short hold spanning 3 hourly buckets: cap 2 rejects with the
    // span in the message, cap 3 (exactly the span) passes
    val short = Seq(
      ("k", ts("2024-01-01 00:30:00"), 1L, 10.0),
      ("k", ts("2024-01-01 02:30:00"), 2L, 20.0)).toDF("k", "ts", "id", "v")
    val e2 = intercept[Throwable] {
      TimeSeries.twapCarry(short, Seq("k"), "ts", "id", "v",
        unit = "hour", maxBucketsPerHold = 2).collect()
    }
    assert(msgs(e2).contains("spans 3 'hour' buckets"))
    val ok = TimeSeries.twapCarry(short, Seq("k"), "ts", "id", "v",
      unit = "hour", maxBucketsPerHold = 3).collect()
    assert(ok.length == 3)
  }

  test("croston: hand-walked size/interval smoothing on an " +
    "intermittent grid; demand-free key null") {
    def series(k: String, vs: Seq[Double]) = vs.zipWithIndex.map {
      case (v, i) => (k, ts(f"2024-01-0${i + 1} 00:00:00"), i.toLong, v)
    }
    val df = (series("k", Seq(0.0, 5.0, 0.0, 0.0, 8.0, 0.0)) ++
      series("z", Seq(0.0, 0.0, 0.0))).toDF("k", "ts", "id", "v")
    val out = TimeSeries.croston(df, Seq("k"), "ts", "id", "v",
      alpha = 0.5)
      .collect().map(r => r.getString(0) -> r).toMap
    val k = out("k")
    // first demand 5 at interval 2 seeds (z=5, p=2); demand 8 at
    // interval 3: z = .5*8+.5*5 = 6.5, p = .5*3+.5*2 = 2.5
    assert(k.getAs[Long]("n_periods") == 6L &&
      k.getAs[Long]("n_demands") == 2L)
    assert(k.getAs[Double]("size_est") == 6.5)
    assert(k.getAs[Double]("interval_est") == 2.5)
    assert(k.getAs[Double]("forecast") == 2.6)
    val z = out("z")
    assert(z.getAs[Long]("n_demands") == 0L &&
      z.isNullAt(z.fieldIndex("forecast")))
  }

  test("holtWinters: hand-walked additive fold at period 2, exact " +
    "dyadic values; per-season rows") {
    val df = Seq(
      ("k", ts("2024-01-01 00:00:00"), 1L, 10.0),
      ("k", ts("2024-01-01 00:01:00"), 2L, 20.0),
      ("k", ts("2024-01-01 00:02:00"), 3L, 30.0)
    ).toDF("k", "ts", "id", "v")
    val out = TimeSeries.holtWinters(df, Seq("k"), "ts", "id", "v",
      alpha = 0.5, beta = 0.5, gamma = 0.5, period = 2)
      .collect().map(r => r.getAs[Long]("season_idx") -> r).toMap
    assert(out.keySet == Set(1L, 2L))
    val r1 = out(1L)
    // zero init; t1: l=5, b=2.5, s1=2.5; t2: l=13.75, b=5.625,
    // s2=3.125; t3 (season 1 again, s1=2.5): l=23.4375, b=7.65625,
    // s1=4.53125 — all dyadic, so exact equality
    assert(r1.getAs[Long]("n") == 3L)
    assert(r1.getAs[Double]("level") == 23.4375)
    assert(r1.getAs[Double]("trend") == 7.65625)
    assert(r1.getAs[Double]("seasonal") == 4.53125)
    assert(out(2L).getAs[Double]("seasonal") == 3.125)
  }

  test("pageHinkley: flat series never alarms; a level shift latches " +
    "the FIRST crossing index; running mean reported") {
    def series(k: String, vs: Seq[Double]) = vs.zipWithIndex.map {
      case (v, i) => (k, ts(f"2024-01-01 00:${i}%02d:00"), i.toLong, v)
    }
    val df = (series("shift", Seq(10, 10, 10, 10, 100, 100, 100, 100)
        .map(_.toDouble)) ++
      series("flat", Seq.fill(6)(42.0))).toDF("k", "ts", "id", "v")
    val out = TimeSeries.pageHinkley(df, Seq("k"), "ts", "id", "v",
      delta = 0.0, lambda = 50.0)
      .collect().map(r => r.getString(0) -> r).toMap
    val sh = out("shift")
    // first post-shift tick: m jumps by 100 - mean(14000/5 cents) =
    // 72.00 > λ = 50 -> alarm at tick 5
    assert(sh.getAs[Long]("alarm_at") == 5L)
    assert(sh.getAs[Double]("mean") == 55.0)
    assert(sh.getAs[Double]("ph") > 50.0)
    val fl = out("flat")
    assert(fl.isNullAt(fl.fieldIndex("alarm_at")) &&
      fl.getAs[Double]("ph") == 0.0 && fl.getAs[Double]("mean") == 42.0)
  }

  test("rsi: hand-walked Wilder recurrence at period 2; short series " +
    "null; zero-loss series closes to 100") {
    // deltas (cents): +100, -100, +200, 0
    val df = Seq(
      ("k", ts("2024-01-01 00:00:00"), 1L, 10.0),
      ("k", ts("2024-01-01 00:01:00"), 2L, 11.0),
      ("k", ts("2024-01-01 00:02:00"), 3L, 10.0),
      ("k", ts("2024-01-01 00:03:00"), 4L, 12.0),
      ("k", ts("2024-01-01 00:04:00"), 5L, 12.0),
      ("s", ts("2024-01-01 00:00:00"), 6L, 1.0), // one delta only
      ("s", ts("2024-01-01 00:01:00"), 7L, 2.0),
      ("u", ts("2024-01-01 00:00:00"), 8L, 1.0), // strictly rising
      ("u", ts("2024-01-01 00:01:00"), 9L, 2.0),
      ("u", ts("2024-01-01 00:02:00"), 10L, 3.0)
    ).toDF("k", "ts", "id", "v")
    val out = TimeSeries.rsi(df, Seq("k"), "ts", "id", "v", period = 2)
      .collect().map(r => r.getString(0) -> r).toMap
    val k = out("k")
    // seed: gains (100,0)/2=50, losses (0,100)/2=50; then
    // (50+200)/2=125, 25; then 62.5, 12.5 -> rsi 100*62.5/75
    assert(k.getAs[Long]("n_deltas") == 4L)
    assert(k.getAs[Double]("avg_gain") == 0.625)
    assert(k.getAs[Double]("avg_loss") == 0.125)
    assert(math.abs(k.getAs[Double]("rsi") - 250.0 / 3.0) < 1e-12)
    // seed never completes -> nulls, count still reported
    val s = out("s")
    assert(s.getAs[Long]("n_deltas") == 1L && s.isNullAt(3))
    // no losses -> rsi exactly 100 (the pinned form needs no branch)
    assert(out("u").getAs[Double]("rsi") == 100.0)
  }

  test("topPaths: sessionized journeys count, rank by count then " +
    "path; maxLen truncates the session head") {
    val df = Seq(
      ("a", ts("2024-01-01 00:00:00"), 1L, "view"),
      ("a", ts("2024-01-01 00:01:00"), 2L, "click"),
      ("a", ts("2024-01-01 02:00:00"), 3L, "view"), // new session (>30m)
      ("b", ts("2024-01-01 00:00:00"), 4L, "view"),
      ("b", ts("2024-01-01 00:01:00"), 5L, "click")
    ).toDF("u", "ts", "id", "t")
    val out = TimeSeries.topPaths(df, "u", "ts", "id", "t",
      gapSeconds = 1800L, maxLen = 5, k = 10)
      .orderBy("rank").collect()
    assert(out.map(r => (r.getString(0), r.getLong(1), r.getInt(2)))
      .toSeq == Seq(("view > click", 2L, 1), ("view", 1L, 2)))
    // maxLen=1 keeps only each session's first event
    val one = TimeSeries.topPaths(df, "u", "ts", "id", "t",
      gapSeconds = 1800L, maxLen = 1, k = 10).collect()
    assert(one.length == 1 && one(0).getString(0) == "view" &&
      one(0).getLong(1) == 3L)
  }

  test("cohortLtv: cohort stamp from first activity, cumulative " +
    "revenue per acquired user") {
    val df = Seq(
      ("u1", ts("2024-01-01 00:10:00"), 10.0),
      ("u1", ts("2024-01-01 01:20:00"), 5.0),
      ("u2", ts("2024-01-01 01:30:00"), 2.0)
    ).toDF("u", "ts", "v")
    val out = TimeSeries.cohortLtv(df, "u", "ts", "v", unit = "hour")
      .orderBy("cohort", "age").collect()
    assert(out.length == 3)
    // cohort h0: ages 0 and 1, cum 10 then 15, one acquired user
    assert(out(0).getLong(1) == 0L && out(0).getDouble(4) == 10.0 &&
      out(0).getAs[Long]("cohort_size") == 1L &&
      out(0).getAs[Double]("ltv") == 10.0)
    assert(out(1).getLong(1) == 1L && out(1).getDouble(4) == 15.0 &&
      out(1).getAs[Double]("ltv") == 15.0)
    // cohort h1 (u2): its own curve, age 0
    assert(out(2).getLong(1) == 0L && out(2).getAs[Double]("ltv") == 2.0)
  }

  test("bestMeanSplit: localizes a clean level shift; earliest " +
    "position wins ties; n < 2 emits nothing") {
    // 4 low then 3 high: the split belongs after index 4
    val xs = Seq(1.0, 1.0, 1.0, 1.0, 9.0, 9.0, 9.0)
    val df = (xs.zipWithIndex.map { case (x, i) =>
      ("a", ts(f"2024-01-01 00:0$i:00"), Option(i.toLong), x)
    } ++ Seq(("solo", ts("2024-01-01 00:00:00"), Option(99L), 5.0),
      // no place in the (ts, tie) order, so dropped: a null tie, and a
      // null key (two rows — one alone would have no split to emit)
      ("a", ts("2024-01-01 00:07:00"), None, 1.0),
      (null, ts("2024-01-01 00:00:00"), Option(100L), 1.0),
      (null, ts("2024-01-01 00:01:00"), Option(101L), 9.0)))
      .toDF("k", "ts", "id", "v")
    val out = TimeSeries.bestMeanSplit(df, Seq("k"), "ts", "id", "v")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out.keySet == Set("a"))
    val a = out("a")
    assert(a.getAs[Long]("n") == 7L &&
      a.getAs[Long]("split_index") == 4L)
    // between-SS at the true split: 4*(1-value mean)^2 + 3*(9-m)^2
    val m = xs.sum / 7.0
    val expect = 4.0 * (1.0 - m) * (1.0 - m) + 3.0 * (9.0 - m) * (9.0 - m)
    assert(math.abs(a.getAs[Double]("gain") - expect) < 1e-9)
    assert(!out.contains("solo")) // single row: no valid split
    // constant series: every split gains ~0, EARLIEST index wins
    val const = (0 until 5).map(i =>
      ("c", ts(f"2024-01-01 00:0$i:00"), i.toLong, 3.0))
      .toDF("k", "ts", "id", "v")
    val c = TimeSeries.bestMeanSplit(const, Seq("k"), "ts", "id", "v")
      .collect().head
    assert(c.getAs[Long]("split_index") == 1L)
  }

  test("cusum matches the sequential recurrence on a hand series") {
    // target 10, slack 1: drift = x - 11
    val xs = Seq(10.0, 15.0, 14.0, 2.0, 20.0, 25.0)
    val df = xs.zipWithIndex.map { case (x, i) =>
      ("k", ts(f"2024-01-01 00:0$i:00"), i.toLong, x)
    }.toDF("k", "ts", "id", "v")
    val out = TimeSeries.cusum(df, Seq("k"), "ts", "id", "v",
      target = 10.0, slack = 1.0, threshold = 10.0)
      .orderBy("id").collect()
    // sequential replay: S=max(0, S + (x-11))
    var s = 0.0
    val expect = xs.map { x => s = math.max(0.0, s + (x - 11.0)); s }
    assert(out.map(_.getAs[Double]("cusum")).toSeq == expect)
    assert(out.map(_.getAs[Boolean]("alarm")).toSeq ==
      expect.map(_ > 10.0))
  }

  test("cusumLower mirrors the recurrence for downward shifts; " +
    "off-grid values snap HALF_UP on the shortest decimal string") {
    // target 10, slack 1: drift = 9 - x; 2.675 snaps to 2.68 (the
    // shortest-string convention, NOT the binary-double 2.67)
    val xs = Seq(10.0, 2.675, 3.0, 15.0, 1.0)
    val df = xs.zipWithIndex.map { case (x, i) =>
      ("k", ts(f"2024-01-01 00:0$i:00"), i.toLong, x)
    }.toDF("k", "ts", "id", "v")
    val out = TimeSeries.cusumLower(df, Seq("k"), "ts", "id", "v",
      target = 10.0, slack = 1.0, threshold = 10.0)
      .orderBy("id").collect()
    var s = BigDecimal(0)
    val snapped = xs.map(x =>
      BigDecimal(java.math.BigDecimal.valueOf(x)
        .setScale(2, java.math.RoundingMode.HALF_UP)))
    assert(snapped(1) == BigDecimal("2.68"))
    // sequential replay: S = max(0, S + (9 - x))
    val expect = snapped.map { x =>
      s = (s + (BigDecimal(9) - x)).max(BigDecimal(0)); s
    }.map(_.toDouble)
    assert(out.map(_.getAs[Double]("cusum")).toSeq == expect)
    assert(out.map(_.getAs[Boolean]("alarm")).toSeq ==
      expect.map(_ > 10.0))
    // the snapped input value is what comes back in `value`
    assert(out(1).getAs[Double]("value") == 2.68)
  }

  test("cusum resets independently per key; null rows dropped") {
    val df = Seq(
      ("a", Some(ts("2024-01-01 00:00:00")), 1L, Some(100.0)),
      ("a", Some(ts("2024-01-01 00:01:00")), 2L, Some(0.0)),
      ("b", Some(ts("2024-01-01 00:00:00")), 3L, Some(5.0)),
      ("b", None, 4L, Some(9.0)),
      ("b", Some(ts("2024-01-01 00:02:00")), 5L, None)
    ).toDF("k", "ts", "id", "v")
    val out = TimeSeries.cusum(df, Seq("k"), "ts", "id", "v", 10.0, 0.0, 50.0)
    assert(out.count() == 3)
    val a = out.filter(col("k") === "a").orderBy("id")
      .select("cusum").as[Double].collect().toSeq
    // 100-10=90; then 90+(0-10)=80
    assert(a == Seq(90.0, 80.0))
    val b = out.filter(col("k") === "b").select("cusum")
      .as[Double].collect().toSeq
    assert(b == Seq(0.0)) // max(0, 5-10) = 0
  }

  test("rollingSlope: exact trend on a line, window-local trend on " +
    "a kink, single-row start is null") {
    // y = 2x for x=1..5, then flat at 10
    val xs = Seq(2.0, 4.0, 6.0, 8.0, 10.0, 10.0, 10.0)
    val df = xs.zipWithIndex.map { case (y, i) =>
      ("k", ts(f"2024-01-01 00:0$i:00"), i.toLong, y)
    }.toDF("k", "ts", "id", "v")
    val out = TimeSeries.rollingSlope(df, Seq("k"), "ts", "id", "v",
      window = 3).orderBy("id").collect()
      .map(r => Option(r.get(4)).map(_.asInstanceOf[Double]))
    assert(out(0).isEmpty)          // n = 1: no slope
    assert(out(1) == Some(2.0))     // two points on the line
    assert(out(4) == Some(2.0))     // full window still on the line
    assert(out(6) == Some(0.0))     // flat tail
    // kink window {8, 10, 10}: slope = (3*58.. compute: x=5,6,7
    // y=10,10,10? no: ids 4,5,6 -> y=10,10,10 flat. id5 window y=8,10,10
    assert(out(5) == Some(1.0))     // {8,10,10} over 3 steps: slope 1
  }

  test("funnelWithin: gap bound breaks the chain where plain funnel " +
    "would credit it") {
    val df = Seq(
      // actor 1: view 10:00, click 10:30 (in gap), buy 12:30 (OUT)
      (1L, ts("2024-01-01 10:00:00"), "view"),
      (1L, ts("2024-01-01 10:30:00"), "click"),
      (1L, ts("2024-01-01 12:30:00"), "purchase"),
      // actor 2: full chain inside the gap
      (2L, ts("2024-01-01 09:00:00"), "view"),
      (2L, ts("2024-01-01 09:10:00"), "click"),
      (2L, ts("2024-01-01 09:50:00"), "purchase"),
      // actor 3: click before ANY view never qualifies
      (3L, ts("2024-01-01 08:00:00"), "click"),
      (3L, ts("2024-01-01 08:30:00"), "view")
    ).toDF("actor", "ts", "event_type")
    val out = TimeSeries.funnelWithin(df, "actor", "ts", "event_type",
      Seq("view", "click", "purchase"), maxGapSeconds = 3600)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[Int]("stage") == 2)
    assert(out(2L).getAs[Int]("stage") == 3)
    assert(out(2L).getAs[Timestamp]("step3_ts") ==
      ts("2024-01-01 09:50:00"))
    assert(out(3L).getAs[Int]("stage") == 1)
    // a later click chained to a STALE view must not resurrect:
    // actor 1's purchase at 12:30 is > 1h after the 10:30 click
    assert(out(1L).isNullAt(out(1L).fieldIndex("step3_ts")))
  }

  test("macd: hand-walked two-tick recurrence with unit alphas; " +
    "constant series flat at zero") {
    val df = Seq(
      ("k", ts("2024-01-01 00:00:00"), 1L, 1.0),
      ("k", ts("2024-01-01 01:00:00"), 2L, 2.0),
      ("c", ts("2024-01-01 00:00:00"), 1L, 5.0),
      ("c", ts("2024-01-01 01:00:00"), 2L, 5.0)
    ).toDF("key", "ts", "id", "v")
    // fast span 1 -> alpha 1 (ema follows x); slow span 2 -> 2/3;
    // signal span 1 -> signal == macd, histogram == 0
    val out = TimeSeries.macd(df, Seq("key"), "ts", "id", "v",
      fastSpan = 1, slowSpan = 2, signalSpan = 1)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r).toMap
    assert(out(("k", 1L)).getAs[Double]("macd") == 0.0)
    val es1 = 1.0 + 2.0 / (2.0 + 1.0) * (2.0 - 1.0)
    assert(out(("k", 2L)).getAs[Double]("macd") == 2.0 - es1)
    assert(out(("k", 2L)).getAs[Double]("signal") == 2.0 - es1)
    assert(out(("k", 2L)).getAs[Double]("histogram") == 0.0)
    assert(out(("c", 2L)).getAs[Double]("macd") == 0.0)
    assert(out(("c", 2L)).getAs[Double]("signal") == 0.0)
  }

  test("stochasticOscillator: hand %K over a 3-frame, flat head " +
    "frame null, explicit-lag %D") {
    val df = Seq(10.0, 20.0, 30.0, 20.0).zipWithIndex.map {
      case (v, i) => ("k", ts(s"2024-01-01 0$i:00:00"), i.toLong, v)
    }.toDF("key", "ts", "id", "v")
    val out = TimeSeries.stochasticOscillator(df, Seq("key"), "ts",
      "id", "v", n = 3, dPeriod = 2)
      .collect().map(r => r.getLong(1) -> r).toMap
    assert(out(0L).isNullAt(out(0L).fieldIndex("pct_k"))) // flat frame
    assert(out(1L).getAs[Double]("pct_k") == 100.0)
    assert(out(2L).getAs[Double]("pct_k") == 100.0)
    // frame rows 2..4: ll = 2000, hh = 3000 -> K = 0
    assert(out(3L).getAs[Double]("pct_k") == 0.0)
    assert(out(1L).isNullAt(out(1L).fieldIndex("pct_d"))) // lag null
    assert(out(2L).getAs[Double]("pct_d") == 100.0)
    assert(out(3L).getAs[Double]("pct_d") == 50.0)
  }

  test("forecastAccuracy: hand cent-grid MAE/RMSE/MASE and the " +
    "1e-9-grid MAPE/sMAPE quantization; flat naive null") {
    val df = Seq((10.0, 11.0), (12.0, 11.0), (11.0, 11.0))
      .zipWithIndex.map { case ((a, f), i) =>
        ("k", ts(s"2024-01-01 0$i:00:00"), i.toLong, a, f) } ++
      Seq(("z", ts("2024-01-01 00:00:00"), 0L, 5.0, 7.0),
        ("z", ts("2024-01-01 01:00:00"), 1L, 5.0, 7.0))
    val out = TimeSeries.forecastAccuracy(
      df.toDF("key", "ts", "id", "a", "f"),
      Seq("key"), "ts", "id", "a", "f")
      .collect().map(r => r.getString(0) -> r).toMap
    val k = out("k")
    // errors in cents: 100, 100, 0
    assert(k.getAs[Double]("mae") == 200.0 / 3.0 / 100.0)
    assert(k.getAs[Double]("rmse") == math.sqrt(20000.0 / 3.0) / 100.0)
    // mq: 1e11 div 1000, 1e11 div 1200, 0 -> truncated grid
    val mq = 100000000L + 100000000000L / 1200L + 0L
    assert(k.getAs[Double]("mape") == mq.toDouble / 3.0 / 1e7)
    val sq = 100000000000L / 2100L + 100000000000L / 2300L + 0L
    assert(k.getAs[Double]("smape") == sq.toDouble / 3.0 / 1e9 * 200.0)
    // naive diffs: |1200-1000|, |1100-1200| -> scale 150 cents
    assert(k.getAs[Double]("mase") == 200.0 / 3.0 / 150.0)
    // z: constant actuals -> naive scale 0 -> mase null
    assert(out("z").isNullAt(out("z").fieldIndex("mase")))
    assert(out("z").getAs[Double]("mae") == 2.0)
  }
}
