package graft.streaming

import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite

/** The premise behind "batch ≡ stream on an ordered feed", checked on
 *  the nine sorted recurrences without Spark: folding a key's events
 *  in one batch must end in the same state, and emit the same rows,
 *  as folding any in-order split of them batch by batch — each batch
 *  handed to [[Streaming.foldBatch]] shuffled, as a micro-batch may
 *  deliver it. */
class RecurrenceChunkingSpec extends AnyFunSuite {
  import Streaming.{Recurrence, foldBatch}

  private val key = 7L
  private val splitsPerFeed = 20

  /** `n` events of one key with timestamps in [minTs, maxTs] — drawn
   *  from a small range so timestamps tie — and ties a permutation of
   *  1..n, so (ts, tie) is unique; returned in (ts, tie) order. */
  private def feed[V](rnd: Random, n: Int, minTs: Long, maxTs: Long,
                      value: Random => V): Vector[(Long, Long, Long, V)] =
    rnd.shuffle((1L to n.toLong).toVector)
      .map(tie => (key, minTs + rnd.nextLong(maxTs - minTs + 1), tie, value(rnd)))
      .sortBy(r => (r._2, r._3))

  /** A random in-order split into non-empty chunks, each shuffled. */
  private def split[T](rnd: Random, xs: Vector[T]): Vector[Vector[T]] = {
    val cuts = (1 until xs.length).filter(_ => rnd.nextInt(4) == 0)
    (0 +: cuts :+ xs.length).sliding(2).map { case Seq(a, b) =>
      rnd.shuffle(xs.slice(a, b))
    }.toVector
  }

  private def fold[V, S, O](rec: Recurrence[V, S, O], rows: Seq[(Long, Long, Long, V)],
                            state: S): (S, Vector[O]) = {
    val (end, out) = foldBatch(rec, key, rows.iterator, state)
    (end, out.toVector)
  }

  /** Whole-feed fold vs chunked fold over seeded random feeds. A
   *  `cumulative` recurrence re-emits its whole state per batch, so
   *  each batch's rows must equal those of one batch over the prefix;
   *  the others emit per event, so the batches' rows concatenate to
   *  the whole-feed rows. */
  private def checkChunking[V, S, O](rec: Recurrence[V, S, O], maxTs: Long,
                                     cumulative: Boolean = false,
                                     minTs: Long = 0L)(
      value: Random => V): Unit =
    for (seed <- 1 to 40) {
      val rnd = new Random(seed)
      val events = feed(rnd, 1 + rnd.nextInt(40), minTs, maxTs, value)
      val (whole, wholeOut) = fold(rec, rnd.shuffle(events), rec.init)
      for (_ <- 1 to splitsPerFeed) {
        val chunks = split(rnd, events)
        var state = rec.init
        var seen = 0
        val outs = chunks.map { c =>
          val (s, out) = fold(rec, c, state)
          seen += c.length
          if (cumulative)
            assert(out.toSet == fold(rec, events.take(seen), rec.init)._2.toSet,
              s"seed $seed: batch rows differ from the prefix fold's")
          state = s
          out
        }
        assert(state == whole, s"seed $seed: end state differs on $chunks")
        if (!cumulative)
          assert(outs.flatten == wholeOut, s"seed $seed: rows differ on $chunks")
      }
    }

  private def price(rnd: Random): Double = rnd.nextInt(20000) / 100.0

  test("transitionsStream's recurrence is chunking-invariant") {
    checkChunking(Streaming.transitions, maxTs = 15, cumulative = true)(
      rnd => Seq("A", "B", "C")(rnd.nextInt(3)))
  }

  test("ewmaStream's recurrence is chunking-invariant") {
    checkChunking(Streaming.ewma(0.3), maxTs = 15)(price)
  }

  test("compactStream's recurrence is chunking-invariant, repeats and " +
    "nulls included") {
    checkChunking(Streaming.compact, maxTs = 15)(
      rnd => Seq("A", "A", "B", null)(rnd.nextInt(4)))
  }

  test("cusumStream's recurrence is chunking-invariant") {
    checkChunking(Streaming.cusum(100.0, 0.5, 150.0), maxTs = 15)(price)
  }

  test("pageHinkleyStream's recurrence is chunking-invariant") {
    checkChunking(Streaming.pageHinkley(0.5, 20.0), maxTs = 15)(price)
  }

  test("macdStream's recurrence is chunking-invariant") {
    checkChunking(Streaming.macd(3, 6, 2), maxTs = 15)(price)
  }

  test("holtStream's recurrence is chunking-invariant") {
    checkChunking(Streaming.holt(0.3, 0.1, 2), maxTs = 15)(price)
  }

  test("trackingSignalStream's recurrence is chunking-invariant") {
    checkChunking(Streaming.trackingSignal(2), maxTs = 15)(
      rnd => (rnd.nextInt(1000).toLong, rnd.nextInt(1000).toLong))
  }

  test("twapStream's recurrence is chunking-invariant across " +
    "multi-bucket gaps, with and without carryIn") {
    // 10 µs buckets over 400 µs on both sides of the epoch: holds span
    // up to dozens of buckets, pre-1970 buckets are negative
    for (carryIn <- Seq(false, true))
      checkChunking(Streaming.twap(10L, carryIn, 100000),
        minTs = -200, maxTs = 200)(price)
  }

  test("twapStream's maxBucketsPerHold still throws, inside one batch " +
    "and across two") {
    val rec = Streaming.twap(10L, carryIn = true, maxBucketsPerHold = 3)
    val rows = Vector((key, 5L, 1L, 1.0), (key, 100L, 2L, 2.0))
    val inOne = intercept[IllegalStateException](fold(rec, rows, rec.init))
    assert(inOne.getMessage.contains("spans 10 buckets > maxBucketsPerHold=3"))
    val (afterFirst, _) = fold(rec, rows.take(1), rec.init)
    intercept[IllegalStateException](fold(rec, rows.drop(1), afterFirst))
    // a hold spanning exactly the cap is allowed
    assert(fold(rec, Vector(rows(0), (key, 30L, 2L, 2.0)), rec.init)._2.length == 3)
  }
}
