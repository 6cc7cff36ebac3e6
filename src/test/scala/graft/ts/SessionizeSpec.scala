package graft.ts

import graft.SparkSpec
import java.time.Duration

class SessionizeSpec extends SparkSpec {
  import spark.implicits._

  private def events = Seq(
    ("u1", ts("2024-01-01 10:00:00")),
    ("u1", ts("2024-01-01 10:10:00")), // same session (10 min)
    ("u1", ts("2024-01-01 11:30:00")), // new session (80 min gap)
    ("u1", ts("2024-01-01 11:40:00")),
    ("u2", ts("2024-01-01 10:05:00"))  // own series, own session
  ).toDF("user_id", "ts")

  test("session ids increment on gaps > threshold, per series") {
    val out = Sessionize.withSessionIds(events, "ts", Duration.ofMinutes(30), Seq("user_id"))
      .orderBy("user_id", "ts").collect()
    assert(out.map(_.getLong(2)).toSeq == Seq(0L, 0L, 1L, 1L, 0L))
  }

  test("sessions aggregates bounds, counts, durations") {
    val out = Sessionize.sessions(events, "ts", Duration.ofMinutes(30), Seq("user_id"))
      .orderBy("user_id", "session_id").collect()
    assert(out.length == 3)
    val s0 = out(0) // u1 session 0
    assert(s0.getTimestamp(2) == ts("2024-01-01 10:00:00"))
    assert(s0.getTimestamp(3) == ts("2024-01-01 10:10:00"))
    assert(s0.getLong(4) == 2L)
    assert(s0.getLong(5) == 600L * 1000000L)
    val s1 = out(1) // u1 session 1
    assert(s1.getLong(4) == 2L)
    val s2 = out(2) // u2 single-event session: zero duration
    assert(s2.getLong(4) == 1L && s2.getLong(5) == 0L)
  }

  test("a 1500ms gap keeps events 1.2 s apart in one session and splits at 1.6 s") {
    val base = ts("2024-01-01 10:00:00").getTime
    val df = Seq(0L, 1200L, 2400L, 4000L)
      .map(ms => ("u1", new java.sql.Timestamp(base + ms))).toDF("user_id", "ts")
    val out = Sessionize.sessions(df, "ts", Duration.ofMillis(1500), Seq("user_id"))
      .orderBy("session_id").collect()
    assert(out.map(_.getLong(4)).toSeq == Seq(3L, 1L))
    assert(out(0).getLong(5) == 2400L * 1000L)
  }
}
