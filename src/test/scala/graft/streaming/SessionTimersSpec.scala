package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Pins the event-time-timer semantics x157's oracle encodes, measured
  * against this Spark build (the [[WatermarkGateSpec]] discipline):
  *
  *   - input rows are processed BEFORE the batch's expired timers, so a
  *     session extended across a batch boundary merges (never split by
  *     its own stale timer);
  *   - a stale expiry (session extended in the same batch) is a no-op —
  *     the guard in handleExpiredTimer, exercised by a user whose idle
  *     timer comes due in the very batch that also carries their next
  *     event;
  *   - a timer fires iff its expiry ms <= the batch's eviction watermark,
  *     with the trailing AvailableNow flush applying the FINAL watermark
  *     ms_trunc(max event time) − delay — pinned by an EXACT-TIE last
  *     session (expiry == final watermark → emitted, inclusive) next to
  *     a 1 ms-later sibling (withheld).
  */
class SessionTimersSpec extends SparkSpec {
  import spark.implicits._

  // Offset from epoch: the stream starts with watermark 0 and the late
  // filter's inclusive boundary drops ts <= 0, so fixtures must not sit
  // at the epoch itself.
  private def sec(x: Long): Long = (1000000L + x) * 1000000L

  private def run(rows: Seq[(Int, Long, Long, Long)]): Set[(Long, Long, Long, Long)] = {
    val df = rows.toDF("b", "user_id", "event_id", "us")
      .withColumn("ts", timestamp_micros(col("us")))
    val out = StreamGate.replayStaged(spark, df, "stspec", "b", 4, "append",
      conf = Map(StreamGate.RocksDb)) { s =>
      SessionTimers.sessions(s.withWatermark("ts", "10 seconds")
        .as[SessionTimers.EventIn](org.apache.spark.sql.Encoders.product)).toDF()
    }
    out.as[(Long, Long, Long, Long)].collect().toSet
  }

  test("timer sessionization: cross-batch merge, stale-timer guard, inclusive final boundary") {
    // gap = 1800 s (SessionTimers.GapUs), delay = 10 s.
    // Anchor u9 @ 10000 s -> final watermark = 9990000 ms.
    // u3's last session ends 8190 s: expiry = 9990000 ms == W_final (tie).
    // u4's ends 8190.001 s: expiry = 9990001 ms, 1 ms past (withheld).
    // u1 merges 100 s (b0) with 1000 s (b1) across the batch boundary.
    // u5's idle timer (expiry 1800 s) first comes due in b3 (wmEvict_3 =
    // 8180 s), the same batch as their next event @ 6000 s: the event
    // closes the old session first and the stale timer must no-op.
    val rows = Seq(
      (0, 1L, 1L, sec(0)), (0, 1L, 2L, sec(100)),
      (0, 2L, 3L, sec(0)),
      (0, 5L, 4L, sec(0)),
      (1, 1L, 5L, sec(1000)),
      (2, 1L, 6L, sec(5000)),
      (2, 3L, 7L, sec(8190)),
      (2, 4L, 8L, sec(8190) + 1000L),
      (3, 5L, 9L, sec(6000)),
      (3, 9L, 10L, sec(10000)))
    val got = run(rows)
    val want = Set(
      (1L, sec(0), sec(1000), 3L),    // closed by event @ 5000 s
      (1L, sec(5000), sec(5000), 1L), // expiry 6800 s <= 9990 s -> emitted
      (2L, sec(0), sec(0), 1L),       // pure timer close
      (3L, sec(8190), sec(8190), 1L), // expiry == W_final: INCLUSIVE
      (5L, sec(0), sec(0), 1L),       // closed by event, stale timer no-ops
      (5L, sec(6000), sec(6000), 1L)) // expiry 7800 s -> emitted
    assert(got == want,
      s"timer semantics changed:\n  extra=${got -- want}\n  missing=${want -- got}")
  }
}
