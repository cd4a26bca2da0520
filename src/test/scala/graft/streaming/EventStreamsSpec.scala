package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.unix_millis
import org.apache.spark.sql.streaming.OutputMode
import graft.SparkSuite
import graft.streaming.EventStreams.{Event, Session}

class EventStreamsSpec extends SparkSuite {
  import spark.implicits._

  private def ts(min: Long): Timestamp = new Timestamp(1700000000000L + min * 60000)

  test("watermarked hourly aggregation over a memory stream") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val agg = EventStreams.hourlyCounts(input.toDF(), watermark = "2 hours")
    val q = agg.writeStream.format("memory").queryName("hourly_test")
      .outputMode(OutputMode.Update()).start()
    try {
      input.addData(
        Event(1, ts(0), 10, "click", 1.0),
        Event(2, ts(5), 10, "click", 2.0),
        Event(3, ts(70), 11, "view", 3.0))
      q.processAllAvailable()
      val rows = spark.table("hourly_test")
        .collect().map(r => (r.getString(1), r.getLong(2), r.getDouble(3))).toSet
      assert(rows == Set(("click", 2L, 3.0), ("view", 1L, 3.0)))
    } finally q.stop()
  }

  test("streaming dedup drops duplicate event ids across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val deduped = EventStreams.dedupEvents(input.toDF(), watermark = "1 hour")
      .select($"event_id", $"value")
    val q = deduped.writeStream.format("memory").queryName("dedup_test")
      .outputMode(OutputMode.Append()).start()
    try {
      // batch 1: two events, one in-batch duplicate
      input.addData(
        Event(1, ts(0), 10, "click", 1.0),
        Event(1, ts(0), 10, "click", 1.0),
        Event(2, ts(1), 10, "view", 2.0))
      q.processAllAvailable()
      // batch 2: redelivery of event 1 (cross-batch, inside watermark)
      // plus one new event
      input.addData(
        Event(1, ts(0), 10, "click", 1.0),
        Event(3, ts(2), 11, "click", 3.0))
      q.processAllAvailable()
      val rows = spark.table("dedup_test")
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
      assert(rows == Set((1L, 1.0), (2L, 2.0), (3L, 3.0)))
    } finally q.stop()
  }

  test("cdcSnapshot: latest wins across micro-batches, duplicates absorbed") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val snap = EventStreams.cdcSnapshot(input.toDF(),
      keyCols = Seq("user_id"), orderCols = Seq("ts", "event_id"),
      payloadCols = Seq("event_id", "event_type", "value"))
    val q = snap.writeStream.format("memory").queryName("cdc_test")
      .outputMode(OutputMode.Complete()).start()
    try {
      input.addData(
        Event(1, ts(0), 10, "upsert", 1.0),
        Event(2, ts(1), 10, "upsert", 2.0),
        Event(3, ts(0), 11, "upsert", 5.0))
      q.processAllAvailable()
      // batch 2: user 10 re-delivered (older — must NOT win), user 11
      // tombstoned, user 12 appears
      input.addData(
        Event(1, ts(0), 10, "upsert", 1.0),
        Event(4, ts(2), 11, "error", 0.0),
        Event(5, ts(0), 12, "upsert", 9.0))
      q.processAllAvailable()
      val rows = spark.table("cdc_test")
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
      assert(rows == Map(
        10L -> (2L, "upsert"), 11L -> (4L, "error"), 12L -> (5L, "upsert")))
      // consumer projection: tombstoned key 11 drops from the snapshot
      val live = spark.table("cdc_test")
        .filter($"last_event_type" =!= "error")
        .collect().map(_.getLong(0)).toSet
      assert(live == Set(10L, 12L))
    } finally q.stop()
  }

  test("streaming aggregate lands in a JDBC table via foreachBatch upsert") {
    implicit val sqlCtx = spark.sqlContext
    System.setProperty("derby.system.home",
      java.nio.file.Files.createTempDirectory("graft-derby-stream").toString)
    val url = "jdbc:derby:memory:graftstream;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    conn.createStatement().execute(
      """CREATE TABLE hourly (
        |  hour_start BIGINT NOT NULL, event_type VARCHAR(64) NOT NULL,
        |  n BIGINT, total_value DOUBLE, PRIMARY KEY (hour_start, event_type))"""
        .stripMargin)
    conn.close()
    val input = MemoryStream[Event]
    val agg = EventStreams.hourlyCounts(input.toDF(), watermark = "2 hours")
      .select(unix_millis($"hour").as("hour_start"), $"event_type",
        $"n", $"total_value")
    val q = EventStreams.upsertStream(agg, url, "hourly",
      Seq("hour_start", "event_type"), "upsert_stream_test")
    def readBack(): Map[(Long, String), (Long, Double)] = {
      val c = java.sql.DriverManager.getConnection(url)
      try {
        val rs = c.createStatement()
          .executeQuery("SELECT hour_start, event_type, n, total_value FROM hourly")
        Iterator.continually(rs).takeWhile(_.next())
          .map(r => (r.getLong(1), r.getString(2)) -> (r.getLong(3), r.getDouble(4)))
          .toMap
      } finally c.close()
    }
    try {
      input.addData(Event(1, ts(0), 10, "click", 1.0), Event(2, ts(5), 10, "click", 2.0))
      q.processAllAvailable()
      assert(readBack().values.toSeq == Seq((2L, 3.0)))
      // a later event in the same window revises the row — the upsert
      // must overwrite, not duplicate
      input.addData(Event(3, ts(10), 11, "click", 4.0))
      q.processAllAvailable()
      assert(readBack().values.toSeq == Seq((3L, 7.0)))
    } finally q.stop()
  }

  test("stateful sessionization: gap break emits closed session") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val sessions = EventStreams.sessionize(input.toDS(), gapMillis = 10 * 60000)
    val q = sessions.writeStream.format("memory").queryName("sess_test")
      .outputMode(OutputMode.Append()).start()
    try {
      // user 10: two events 5 min apart, then a 30-min gap, then one more
      input.addData(
        Event(1, ts(0), 10, "click", 1.0),
        Event(2, ts(5), 10, "click", 2.0),
        Event(3, ts(35), 10, "view", 5.0))
      q.processAllAvailable()
      // a far-future event advances the watermark past 35min+gap,
      // firing the event-time timeout for the open session
      input.addData(Event(4, ts(500), 99, "click", 0.0))
      q.processAllAvailable()
      input.addData(Event(5, ts(501), 99, "click", 0.0))
      q.processAllAvailable()
      val closed = spark.table("sess_test").as[Session].collect()
        .sortBy(_.session_start.getTime)
      assert(closed.nonEmpty)
      assert(closed(0).user_id == 10)
      assert(closed(0).n_events == 2)
      assert(closed(0).total_value == 3.0)
      assert(closed(0).session_start == ts(0) && closed(0).session_end == ts(5))
      // the gap-broken second session eventually closed via timeout
      assert(closed.exists(s => s.user_id == 10 && s.session_start == ts(35)))
    } finally q.stop()
  }

  test("batch/stream parity: hourlyCounts on a static frame matches groupBy") {
    val df = Seq(
      Event(1, ts(0), 10, "click", 1.0),
      Event(2, ts(5), 10, "click", 2.0)).toDF()
    // on a batch frame the same transform is legal and gives the same numbers
    val out = EventStreams.hourlyCounts(df).collect()
    assert(out.length == 1)
    assert(out(0).getLong(2) == 2L)
  }

  test("indexHealthFeed: periodic cut bounds plan depth across batches") {
    import org.apache.spark.sql.functions.{col, lit, pmod}
    // 40 vectors; base index = ids % 4 == 0 (stride-8 quantizer), the
    // remaining 30 arrive in 5 file-batches of 6. cutEvery = 2 must
    // collapse the cells union to one LogicalRDD every second batch —
    // a lifetime canary's per-batch re-analysis stays O(cutEvery), not
    // O(batches).
    val em = (0 until 40).map { i =>
      val a = 2 * math.Pi * i / 40
      (i.toLong, Array(math.cos(a).toFloat, math.sin(a).toFloat,
        (i % 3).toFloat, 1f))
    }.toDF("vec_id", "embedding")
    val idx = graft.operators.Similarity.buildIvfIndex(
      em.filter(pmod(col("vec_id"), lit(4)) === 0),
      "vec_id", "embedding", centroidStride = 8)
    val rest = (0 until 40).filter(_ % 4 != 0)
    val stream = graft.queries.StreamingQueries.stagedStream(spark,
      rest.grouped(6).map(ids => em.filter(col("vec_id").isin(ids.map(_.toLong): _*)))
        .toSeq: _*)
    val out = java.nio.file.Files
      .createTempDirectory("graft_ihspec_out").toString
    def unions(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.analyzed.collect {
        case u: org.apache.spark.sql.catalyst.plans.logical.Union => u
      }.size
    val depth = scala.collection.mutable.ListBuffer.empty[Int]
    EventStreams.indexHealthFeed(stream, idx, "vec_id", "embedding",
      lit(1L), out, cutEvery = 2,
      probe = ix => depth += unions(ix.cells))
    val stats = spark.read.parquet(out)
      .select("n_vectors").collect().map(_.getLong(0)).sorted
    assert(stats.toSeq == Seq(16L, 22L, 28L, 34L, 40L),
      s"each batch appends 6 vectors to the base 10: ${stats.toSeq}")
    // batch trace: append, cut→0, append, cut→0, append. The cut
    // batches collapse to one LogicalRDD (zero Union nodes) and the
    // append depth is a CONSTANT (the delta plan's own unions + 1),
    // never batch-linear — without the cut this trace would be
    // strictly increasing.
    assert(depth(1) == 0 && depth(3) == 0,
      s"cut batches must collapse to a LogicalRDD: ${depth.toList}")
    assert(depth(2) == depth(4) && depth(2) > 0,
      s"append depth must be a batch-independent constant: ${depth.toList}")
    assert(depth(0) <= unions(idx.cells) + depth(2),
      s"first append bounded by base + one delta: ${depth.toList}")
    graft.core.OpCache.releaseAll(blocking = true)
  }

  test("attribution join matches views to clicks within the horizon only") {
    implicit val sqlCtx = spark.sqlContext
    val views = MemoryStream[Event]
    val clicks = MemoryStream[Event]
    val joined = EventStreams.attributionJoin(
      views.toDF(), clicks.toDF(), horizonMin = 10, watermark = "1 hour")
    val q = joined.writeStream.format("memory").queryName("attr_test")
      .outputMode(OutputMode.Append()).start()
    try {
      views.addData(
        Event(1, ts(0), 10, "view", 0.0), // clicks at +5 and +10 match
        Event(2, ts(30), 10, "view", 0.0), // no click in window
        Event(3, ts(0), 11, "view", 0.0)) // other user's clicks don't match
      clicks.addData(
        Event(101, ts(5), 10, "click", 0.0),
        Event(102, ts(10), 10, "click", 0.0), // boundary: exactly +10 matches
        Event(103, ts(11), 10, "click", 0.0), // +11 outside view 1's window
        Event(104, ts(55), 12, "click", 0.0))
      q.processAllAvailable()
      val got = spark.table("attr_test")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == Set((1L, 101L), (1L, 102L)))
    } finally q.stop()
  }

  test("a stream that misses its deadline is stopped and throws, naming it") {
    val q = spark.readStream.format("rate").option("rowsPerSecond", "1").load()
      .writeStream.format("noop").queryName("never_ends").start()
    try {
      val e = intercept[IllegalStateException](
        EventStreams.awaitDrained(q, timeoutMs = 200))
      assert(e.getMessage.contains("never_ends"))
      assert(!q.isActive)
    } finally q.stop()
  }
}
