package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Encoder}
import org.apache.spark.sql.catalyst.plans.logical.FlatMapGroupsWithState
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.{LongType, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Pins the contract of the nine sorted keyed-recurrence operators
 *  that a checkpoint or a downstream reader depends on: which input
 *  rows each one drops for a null actor, ts, tie or value, its output
 *  schema (names, types, nullability), its grouping key and its state
 *  type. `flatMapGroupsWithState` also runs on a static frame, so
 *  every operator runs here in batch mode. */
class StreamContractSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val h0 = Timestamp.valueOf("2024-01-01 00:00:00").getTime
  private def hr(n: Int) = Some(new Timestamp(h0 + n * 3600000L))
  private def bucket(n: Int) = (h0 + n * 3600000L) * 1000L

  /** Actor 1, one row per hour. Ties 1-4 are complete (2 and 3 have a
   *  null state); 5 has a null actor, 6 a null ts, 7 a null tie, 8 a
   *  null value and 9 a null forecast. */
  private lazy val events: DataFrame = Seq(
    (Some(1L), hr(0), Some(1L), Some(10.0), Some("A"), Some(11.0)),
    (Some(1L), hr(1), Some(2L), Some(20.0), None, Some(19.0)),
    (Some(1L), hr(2), Some(3L), Some(30.0), None, Some(30.0)),
    (Some(1L), hr(3), Some(4L), Some(40.0), Some("A"), Some(42.0)),
    (None, hr(4), Some(5L), Some(50.0), Some("B"), Some(50.0)),
    (Some(1L), None, Some(6L), Some(60.0), Some("B"), Some(60.0)),
    (Some(1L), hr(5), None, Some(70.0), Some("B"), Some(70.0)),
    (Some(1L), hr(6), Some(8L), None, Some("B"), Some(80.0)),
    (Some(1L), hr(7), Some(9L), Some(90.0), Some("C"), None))
    .toDF("user_id", "ts", "event_id", "value", "event_type", "fc")

  /** Output schema, grouping key, state schema and mode of `out`. */
  private def pin[S](out: DataFrame, ddl: String)(implicit s: Encoder[S]): Unit = {
    assert(out.schema == StructType.fromDDL(ddl))
    val op = out.queryExecution.analyzed.collectFirst {
      case f: FlatMapGroupsWithState => f
    }.getOrElse(fail("no FlatMapGroupsWithState in the plan"))
    assert(op.groupingAttributes.map(_.dataType) == Seq(LongType))
    assert(op.stateEncoder.schema == s.schema)
    assert(!op.isMapGroupsWithState)
    assert(op.outputMode == OutputMode.Update())
    assert(op.timeout == GroupStateTimeout.NoTimeout)
  }

  private def ties(out: DataFrame): Set[Long] =
    out.select("tie").as[Long].collect().toSet

  private val valueTies = Set(1L, 2L, 3L, 4L, 9L)

  test("transitionsStream drops a null state; schema and state pinned") {
    val out = Streaming.transitionsStream(events, "user_id", "ts",
      "event_type", "event_id")
    pin[(String, Map[String, Long])](out,
      "actor BIGINT NOT NULL, from_state STRING, to_state STRING, " +
        "n BIGINT NOT NULL")
    assert(out.as[(Long, String, String, Long)].collect().toSet == Set(
      (1L, "A", "A", 1L), (1L, "A", "B", 1L), (1L, "B", "C", 1L)))
  }

  test("compactStream keeps a null state as a change point; schema and " +
    "state pinned") {
    val out = Streaming.compactStream(events, "user_id", "ts", "event_id",
      "event_type")
    pin[(Boolean, String)](out,
      "actor BIGINT NOT NULL, tie BIGINT NOT NULL, " +
        "ts_micros BIGINT NOT NULL, state STRING")
    // 2 (null after A) and 4 (A after null) are changes, 3 (null after
    // null) is not; 8 keeps its state although its value is null
    assert(out.select("tie", "state").as[(Long, String)].collect().toSet ==
      Set((1L, "A"), (2L, null), (4L, "A"), (8L, "B"), (9L, "C")))
  }

  test("ewmaStream drops null actor, ts, tie and value; schema and state " +
    "pinned") {
    val out = Streaming.ewmaStream(events, "user_id", "ts", "event_id",
      "value", 0.5)
    pin[(Boolean, Double)](out,
      "actor BIGINT NOT NULL, tie BIGINT NOT NULL, " +
        "ts_micros BIGINT NOT NULL, value DOUBLE NOT NULL, " +
        "ewma DOUBLE NOT NULL")
    assert(ties(out) == valueTies)
  }

  test("cusumStream drops null actor, ts, tie and value; schema and state " +
    "pinned") {
    val out = Streaming.cusumStream(events, "user_id", "ts", "event_id",
      "value", target = 10.0, slack = 0.0, threshold = 50.0)
    pin[(Long, Long)](out,
      "actor BIGINT NOT NULL, tie BIGINT NOT NULL, " +
        "ts_micros BIGINT NOT NULL, value DOUBLE NOT NULL, " +
        "cusum DOUBLE NOT NULL, alarm BOOLEAN NOT NULL")
    assert(ties(out) == valueTies)
  }

  test("pageHinkleyStream drops null actor, ts, tie and value; schema " +
    "and state pinned") {
    val out = Streaming.pageHinkleyStream(events, "user_id", "ts",
      "event_id", "value", delta = 0.5, lambda = 20.0)
    pin[(Long, Long, Double, Double, Long)](out,
      "actor BIGINT NOT NULL, tie BIGINT NOT NULL, " +
        "ts_micros BIGINT NOT NULL, n BIGINT NOT NULL, " +
        "mean DOUBLE NOT NULL, ph DOUBLE NOT NULL, " +
        "alarm_at BIGINT NOT NULL")
    assert(ties(out) == valueTies)
    assert(out.agg(org.apache.spark.sql.functions.max("n")).as[Long]
      .head() == 5L)
  }

  test("macdStream drops null actor, ts, tie and value; schema and state " +
    "pinned") {
    val out = Streaming.macdStream(events, "user_id", "ts", "event_id",
      "value")
    pin[(Long, Double, Double, Double)](out,
      "actor BIGINT NOT NULL, tie BIGINT NOT NULL, " +
        "ts_micros BIGINT NOT NULL, value DOUBLE NOT NULL, " +
        "n BIGINT NOT NULL, macd DOUBLE NOT NULL, " +
        "signal DOUBLE NOT NULL, histogram DOUBLE NOT NULL")
    assert(ties(out) == valueTies)
  }

  test("holtStream drops null actor, ts, tie and value; schema and state " +
    "pinned") {
    val out = Streaming.holtStream(events, "user_id", "ts", "event_id",
      "value", alpha = 0.3, beta = 0.1)
    pin[(Long, Double, Double)](out,
      "actor BIGINT NOT NULL, tie BIGINT NOT NULL, " +
        "ts_micros BIGINT NOT NULL, value DOUBLE NOT NULL, " +
        "n BIGINT NOT NULL, level DOUBLE NOT NULL, " +
        "trend DOUBLE NOT NULL, forecast DOUBLE NOT NULL")
    assert(ties(out) == valueTies)
  }

  test("trackingSignalStream drops a null actual or forecast too; schema " +
    "and state pinned") {
    val out = Streaming.trackingSignalStream(events, "user_id", "ts",
      "event_id", "value", "fc")
    pin[(Long, Long, Long)](out,
      "actor BIGINT NOT NULL, tie BIGINT NOT NULL, " +
        "ts_micros BIGINT NOT NULL, n BIGINT NOT NULL, " +
        "cum_error DOUBLE NOT NULL, mad DOUBLE NOT NULL, " +
        "tracking_signal DOUBLE")
    assert(ties(out) == Set(1L, 2L, 3L, 4L))
  }

  test("twapStream drops null actor, ts, tie and value; schema and state " +
    "pinned") {
    val out = Streaming.twapStream(events, "user_id", "ts", "event_id",
      "value", unitMicros = 3600000000L)
    pin[(Long, Long, Long, Long, Long, Long)](out,
      "actor BIGINT NOT NULL, bucket_us BIGINT NOT NULL, " +
        "n_ticks BIGINT NOT NULL, twap DOUBLE NOT NULL")
    // hour 7 (tie 9) stays open; a kept null-value row would close hour 6
    assert(out.select("bucket_us").as[Long].collect().toSet ==
      (0 to 3).map(bucket).toSet)
  }
}
