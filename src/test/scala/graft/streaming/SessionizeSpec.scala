package graft.streaming

import graft.SparkSpec
import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

class SessionizeSpec extends SparkSpec {
  import Sessionize._
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("streaming sessionization closes sessions on gap and counts purchases") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[SessionEvent]
    val query = sessions(spark, input.toDS())
      .writeStream.format("memory").queryName("sessions_out")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()

    // user 1: two events 10 min apart (one session), then 2h silence, then
    // one more event (second session). user 2: single purchase.
    input.addData(
      SessionEvent(1L, ts("2019-10-01 10:00:00"), "view"),
      SessionEvent(1L, ts("2019-10-01 10:10:00"), "purchase"),
      SessionEvent(2L, ts("2019-10-01 10:05:00"), "purchase"))
    query.processAllAvailable()
    input.addData(SessionEvent(1L, ts("2019-10-01 12:30:00"), "view"))
    query.processAllAvailable()
    // advance the watermark far past all timeouts so sessions close.
    input.addData(SessionEvent(99L, ts("2019-10-02 12:00:00"), "view"))
    query.processAllAvailable()
    query.stop()

    val out = spark.table("sessions_out").as[UserSession].collect()
      .sortBy(s => (s.user_id, s.session_start.getTime))
    val u1 = out.filter(_.user_id == 1L)
    u1.length shouldBe 2
    u1(0).n_events shouldBe 2
    u1(0).n_purchases shouldBe 1
    u1(0).duration_sec shouldBe 600
    u1(1).n_events shouldBe 1
    val u2 = out.filter(_.user_id == 2L)
    u2.length shouldBe 1
    u2(0).n_purchases shouldBe 1
  }

  test("batch sessionization agrees with the streaming gap rule") {
    // Same shape as the streaming test: user 1 splits into two sessions
    // across the 2h silence; user 2 has one single-purchase session.
    val events = Seq(
      (10L, 1L, ts("2019-10-01 10:00:00"), "view"),
      (11L, 1L, ts("2019-10-01 10:10:00"), "purchase"),
      (12L, 2L, ts("2019-10-01 10:05:00"), "purchase"),
      (13L, 1L, ts("2019-10-01 12:30:00"), "view")
    ).toDF("event_id", "user_id", "ts", "event_type")
    val out = Sessionize.batchSessions(events, gapSeconds = 1800)
      .orderBy("user_id", "session_idx")
      .select("user_id", "session_idx", "n_events", "n_purchases", "duration_ms")
      .as[(Long, Long, Long, Long, Long)].collect()
    out shouldBe Array(
      (1L, 1L, 2L, 1L, 600000L),
      (1L, 2L, 1L, 0L, 0L),
      (2L, 1L, 1L, 1L, 0L))
  }

  test("batch sessionization: an event exactly at the gap boundary stays in-session") {
    val events = Seq(
      (1L, 1L, ts("2019-10-01 10:00:00"), "view"),
      (2L, 1L, ts("2019-10-01 10:30:00"), "view"), // exactly gap later -> same session
      (3L, 1L, ts("2019-10-01 11:00:01"), "view") // gap + 1s -> new session
    ).toDF("event_id", "user_id", "ts", "event_type")
    val out = Sessionize.batchSessions(events, gapSeconds = 1800)
      .select("session_idx", "n_events").as[(Long, Long)].collect().sorted
    out shouldBe Array((1L, 2L), (2L, 1L))
  }

  test("batch sessionization drops null-timestamp events at entry") {
    // A null ts has no place on the session timeline (and Spark/DuckDB
    // even disagree on where it sorts); it must not perturb its
    // neighbors' boundary flags either.
    val events = Seq(
      (1L, 1L, Some(ts("2019-10-01 10:00:00")), "view"),
      (2L, 1L, None, "view"), // dropped
      (3L, 1L, Some(ts("2019-10-01 10:10:00")), "purchase")
    ).toDF("event_id", "user_id", "ts", "event_type")
    val out = Sessionize.batchSessions(events, gapSeconds = 1800)
      .select("session_idx", "n_events", "n_purchases", "duration_ms")
      .as[(Long, Long, Long, Long)].collect()
    out shouldBe Array((1L, 2L, 1L, 600000L))
  }

  test("late within-gap event extends the session backwards, never regresses the end") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[SessionEvent]
    val query = sessions(spark, input.toDS())
      .writeStream.format("memory").queryName("sessions_late")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()

    input.addData(SessionEvent(5L, ts("2019-10-01 10:00:00"), "view"))
    query.processAllAvailable()
    // late event 20 min EARLIER, still inside the watermark
    input.addData(SessionEvent(5L, ts("2019-10-01 09:40:00"), "view"))
    query.processAllAvailable()
    input.addData(SessionEvent(99L, ts("2019-10-02 12:00:00"), "view"))
    query.processAllAvailable()
    query.stop()

    val s = spark.table("sessions_late").as[UserSession].collect()
      .filter(_.user_id == 5L)
    s.length shouldBe 1
    s(0).session_start shouldBe ts("2019-10-01 09:40:00")
    s(0).session_end shouldBe ts("2019-10-01 10:00:00")
    s(0).duration_sec shouldBe 1200 // never negative
    s(0).n_events shouldBe 2
  }

  test("late event older than session_start - gap opens its own session") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[SessionEvent]
    val query = sessions(spark, input.toDS())
      .writeStream.format("memory").queryName("sessions_toolate")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()

    input.addData(SessionEvent(7L, ts("2019-10-01 10:00:00"), "view"))
    query.processAllAvailable()
    // late event 45 min earlier — inside the 1h watermark (so it is NOT
    // dropped) but outside the 30-min gap on the start side: it must NOT
    // merge (that would regress session_start past the gap boundary).
    input.addData(SessionEvent(7L, ts("2019-10-01 09:15:00"), "purchase"))
    query.processAllAvailable()
    input.addData(SessionEvent(99L, ts("2019-10-02 12:00:00"), "view"))
    query.processAllAvailable()
    query.stop()

    val s = spark.table("sessions_toolate").as[UserSession].collect()
      .filter(_.user_id == 7L).sortBy(_.session_start.getTime)
    s.length shouldBe 2
    s(0).session_start shouldBe ts("2019-10-01 09:15:00")
    s(0).session_end shouldBe ts("2019-10-01 09:15:00")
    s(0).n_purchases shouldBe 1
    s(1).session_start shouldBe ts("2019-10-01 10:00:00")
    s(1).n_events shouldBe 1
  }
}
