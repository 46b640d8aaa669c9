package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StatefulSessions
import graft.streaming.StatefulSessions.{ClosedSession, Ev}

/** Multi-batch stateful sessionization: sessions close either when a later
  * event exceeds the gap or when event time moves past last+gap (timeout). */
class StatefulSessionsSpec extends AnyFunSuite with SparkSuite {

  // base away from epoch 0: an event at exactly the initial watermark (0)
  // is dropped as late (filter is ts > watermark)
  private val baseMs = 1704067200000L // 2024-01-01
  private val baseUs = baseMs * 1000L
  private def ts(min: Long): Timestamp = new Timestamp(baseMs + min * 60000L)

  test("gap and timeout both close sessions across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val gapUs = 30L * 60 * 1000000 // 30 min
    val sessions = StatefulSessions.sessionize(input.toDS(), gapUs)
    val query = sessions.writeStream.format("memory")
      .queryName("closed_sessions").outputMode("append").start()
    try {
      // batch 1: two events 5 min apart → one open session
      input.addData(Ev(1L, ts(0)), Ev(1L, ts(5)))
      query.processAllAvailable()
      // batch 2: event 2 h later → gap-closes session 1, opens session 2;
      // also advances the watermark far past session 1's timeout
      input.addData(Ev(1L, ts(125)))
      query.processAllAvailable()
      // batch 3: another user keeps the stream moving → user 1's open
      // session times out on event time
      input.addData(Ev(2L, ts(300)))
      query.processAllAvailable()
      input.addData(Ev(2L, ts(400)))
      query.processAllAvailable()

      val got = spark.table("closed_sessions").as[ClosedSession].collect()
        .sortBy(s => (s.user_id, s.start_us))
      info("emitted: " + got.mkString("; "))
      assert(got.exists(s => s.user_id == 1 && s.start_us == baseUs &&
        s.n_events == 2 &&
        s.end_us == baseUs + (5 * 60 + 30 * 60) * 1000000L))
      assert(got.exists(s => s.user_id == 1 && s.n_events == 1 &&
        s.start_us == baseUs + 125L * 60 * 1000000))
    } finally query.stop()
  }

  test("bounded disorder: a nonzero watermark delay admits out-of-order events safely") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val gapUs = 30L * 60 * 1000000
    // 2-hour allowed disorder: cross-batch events up to 2 h behind the
    // max seen event time reach the session logic instead of being
    // dropped by the operator's late-row filter
    val sessions = StatefulSessions.sessionize(input.toDS(), gapUs,
      watermarkDelay = "2 hours")
    val query = sessions.writeStream.format("memory")
      .queryName("disorder_sessions").outputMode("append").start()
    try {
      // batch 1: watermark (after) = ts(120) - 2h = ts(0)
      input.addData(Ev(1L, ts(120)))
      query.processAllAvailable()
      // batch 2: a straggler 90 min behind the max event time — inside
      // the delay, so it must open a session, not vanish
      input.addData(Ev(2L, ts(30)))
      query.processAllAvailable()
      // batches 3-4: user 3's session arrives OUT OF ORDER across
      // batches — the later event first; the earlier one (within gap,
      // within delay) must merge AND lower the session start
      input.addData(Ev(3L, ts(500)))
      query.processAllAvailable()
      input.addData(Ev(3L, ts(490)))
      query.processAllAvailable()
      // advance the watermark far past everything so users 2 and 3 close
      // via event-time timeout
      input.addData(Ev(1L, ts(800)))
      query.processAllAvailable()
      input.addData(Ev(1L, ts(900)))
      query.processAllAvailable()
      assert(query.isActive, "disorder must not kill the stream")
      val got = spark.table("disorder_sessions").as[ClosedSession].collect()
      assert(got.exists(s => s.user_id == 2 &&
        s.start_us == baseUs + 30L * 60 * 1000000 && s.n_events == 1),
        s"straggler-opened session should close via timeout, got ${got.toSeq}")
      assert(got.exists(s => s.user_id == 3 &&
        s.start_us == baseUs + 490L * 60 * 1000000 && s.n_events == 2 &&
        s.end_us == baseUs + (500L + 30L) * 60 * 1000000),
        s"merged earlier event must extend the session start, got ${got.toSeq}")
    } finally query.stop()
  }

  test("stream sessionize over REAL events equals batch q_sessionize") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val dir = "/root/testdata/sf0.001"
    val evs = graft.model.Tables.events(spark, dir)
      .select(col("user_id"), col("ts")).as[Ev].collect()
    val maxMs = evs.map(_.ts.getTime).max
    val input = MemoryStream[Ev]
    val gapUs = 30L * 60 * 1000000L
    val sessions = StatefulSessions.sessionize(input.toDS(), gapUs)
    val query = sessions.writeStream.format("memory")
      .queryName("real_sessions").outputMode("append").start()
    try {
      input.addData(evs.toSeq)
      query.processAllAvailable()
      // sentinel user pushes the watermark a day past everything so every
      // real session times out and closes; two nudges so the timeout batch
      // definitely runs after the watermark advance
      input.addData(Ev(-1L, new Timestamp(maxMs + 86400000L)))
      query.processAllAvailable()
      input.addData(Ev(-1L, new Timestamp(maxMs + 2 * 86400000L)))
      query.processAllAvailable()

      val streamed = spark.table("real_sessions")
        .filter(col("user_id") =!= -1L)
        .select("user_id", "start_us", "end_us", "n_events")
      val batch = SparkEntry.queries("q_sessionize")(spark, dir)
        .select("user_id", "start_us", "end_us", "n_events")
      assert(streamed.count() == batch.count())
      assert(streamed.exceptAll(batch).isEmpty &&
        batch.exceptAll(streamed).isEmpty)
    } finally query.stop()
  }
}
