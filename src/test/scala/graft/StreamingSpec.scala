package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.Streams

/** Structured Streaming path driven end-to-end via MemoryStream + memory
  * sink, plus batch/streaming parity of the windowed aggregation. */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = SparkFixture.spark
  import spark.implicits._

  private def ts(min: Int): Timestamp = Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")

  private def eventRows = Seq(
    (1L, ts(0), 1L, "click", 1.0, "{}"),
    (2L, ts(10), 1L, "click", 2.0, "{}"),
    (3L, ts(20), 2L, "view", 3.0, "{}"),
    (4L, ts(59), 2L, "view", 4.0, "{}"))

  test("hourlyTypeCounts: streaming over MemoryStream equals batch result") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double, String)]
    mem.addData(eventRows: _*)
    val stream = mem.toDF.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val agg = Streams.hourlyTypeCounts(stream)
    val got = Streams.runToMemory(agg, OutputMode.Complete())
      .orderBy("hour_start", "event_type")
      .select("event_type", "n_events", "sum_value")
      .as[(String, Long, Double)].collect()

    val batch = Streams.hourlyTypeCounts(
        eventRows.toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
      .orderBy("hour_start", "event_type")
      .select("event_type", "n_events", "sum_value")
      .as[(String, Long, Double)].collect()

    assert(got.toSeq == Seq(("click", 2L, 3.0), ("view", 2L, 7.0)))
    assert(got.toSeq == batch.toSeq)
  }

  test("intervalJoin: stream-stream join equals the batch join") {
    implicit val sqlCtx = spark.sqlContext
    // clicks at :00 and :10 for user 1; views for user 1 at :05 (inside
    // both 10-min windows), :25 (outside), user 2 at :06 (wrong user)
    val clicks = Seq((1L, ts(0), 1L, "click", 1.0, "{}"),
      (2L, ts(10), 1L, "click", 1.0, "{}"))
    val views = Seq((3L, ts(5), 1L, "view", 1.0, "{}"),
      (4L, ts(25), 1L, "view", 1.0, "{}"),
      (5L, ts(6), 2L, "view", 1.0, "{}"))
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value", "props")
    val memC = MemoryStream[(Long, Timestamp, Long, String, Double, String)]
    val memV = MemoryStream[(Long, Timestamp, Long, String, Double, String)]
    memC.addData(clicks: _*); memV.addData(views: _*)
    val joined = Streams.intervalJoin(
      memC.toDF.toDF(cols: _*), memV.toDF.toDF(cols: _*), "10 minutes")
    assert(joined.isStreaming)
    val got = Streams.runToMemory(joined, OutputMode.Append())
      .select("l_id", "r_id").as[(Long, Long)].collect().toSet
    // click 1 (:00) matches view :05; click 2 (:10) has no view in
    // [:10,:20]; view :25 and user-2 view never match
    assert(got == Set((1L, 3L)))
    val batch = Streams.intervalJoin(clicks.toDF(cols: _*),
        views.toDF(cols: _*), "10 minutes")
      .select("l_id", "r_id").as[(Long, Long)].collect().toSet
    assert(got == batch)
  }

  test("sliding windows emit overlapping buckets; streaming equals batch") {
    val batch = Streams.slidingCounts(
        eventRows.toDF("event_id", "ts", "user_id", "event_type", "value", "props"),
        length = "30 minutes", slide = "15 minutes")
      .orderBy("w_start", "event_type")
      .as[(Timestamp, Timestamp, String, Long)].collect()
    // every event lands in length/slide = 2 overlapping windows
    assert(batch.map(_._4).sum == eventRows.length * 2)
    // event at 10:00 lands in windows starting 09:45 and 10:00
    assert(batch.count(_._3 == "click") >= 2)

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double, String)]
    mem.addData(eventRows: _*)
    val stream = mem.toDF.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = Streams.runToMemory(
        Streams.slidingCounts(stream, length = "30 minutes", slide = "15 minutes"),
        OutputMode.Complete())
      .orderBy("w_start", "event_type")
      .as[(Timestamp, Timestamp, String, Long)].collect()
    assert(got.toSeq == batch.toSeq)
  }

  test("sessionize splits per-user sessions on inactivity gaps") {
    val ev = eventRows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[Streams.Event]
    val got = Streams.sessionize(ev, gapMs = 30 * 60 * 1000L)
      .collect().sortBy(s => (s.user_id, s.session_start_ms))
    // user 1: 10:00 + 10:10 merge (10 min gap); user 2: 10:20 vs 10:59 split
    assert(got.map(s => (s.user_id, s.session_start_ms, s.session_end_ms,
        s.n_events, s.sum_value)).toSeq == Seq(
      (1L, ts(0).getTime, ts(10).getTime, 2L, 3.0),
      (2L, ts(20).getTime, ts(20).getTime, 1L, 3.0),
      (2L, ts(59).getTime, ts(59).getTime, 1L, 4.0)))
    // a wider gap merges everything per user
    val wide = Streams.sessionize(ev, gapMs = 2 * 60 * 60 * 1000L).collect()
    assert(wide.length == 2 && wide.forall(_.n_events == 2))
  }

  test("sessionize max-duration cap splits a continuously-active session") {
    implicit val sqlCtx = spark.sqlContext
    // one user, an event every 10 min — no inactivity gap ever fires
    val ev = (0 to 4).map(i =>
        Streams.Event((i + 1).toLong, ts(10 * i), 7L, "click", 1.0))
      .toDS()
    // cap at 25 min: [0,10,20] would stretch to 30 at the 4th event →
    // split; second session [30,40] closes at end of input
    val got = Streams.sessionize(ev, gapMs = 15 * 60 * 1000L,
        maxSessionMs = 25 * 60 * 1000L)
      .collect().sortBy(_.session_start_ms)
    assert(got.map(s => (s.session_start_ms, s.session_end_ms, s.n_events))
      .toSeq == Seq(
        (ts(0).getTime, ts(20).getTime, 3L),
        (ts(30).getTime, ts(40).getTime, 2L)))
    // streaming path splits identically (first session emitted mid-stream)
    val mem = MemoryStream[Streams.Event]
    val query = Streams.sessionize(mem.toDS(), gapMs = 15 * 60 * 1000L,
        maxSessionMs = 25 * 60 * 1000L)
      .writeStream.outputMode("append").format("memory")
      .queryName("sess_cap_out").start()
    mem.addData((0 to 4).map(i =>
      Streams.Event((i + 1).toLong, ts(10 * i), 7L, "click", 1.0)): _*)
    query.processAllAvailable()
    val mid = spark.table("sess_cap_out").as[Streams.UserSession].collect()
    query.stop()
    assert(mid.map(s => (s.session_start_ms, s.session_end_ms, s.n_events))
      .toSeq == Seq((ts(0).getTime, ts(20).getTime, 3L)))
  }

  test("sessionize streaming: open state held, closed on event-time gap across batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Streams.Event]
    val query = Streams.sessionize(mem.toDS(), gapMs = 30 * 60 * 1000L)
      .writeStream.outputMode("append").format("memory")
      .queryName("sess_stream_out").start()
    mem.addData(Streams.Event(1L, ts(0), 7L, "click", 1.5))
    query.processAllAvailable()
    // nothing emitted yet: user 7's session is open state, not output
    assert(spark.table("sess_stream_out").count() == 0)
    // a later event 59 min after (gap > 30 min) splits: batch 2 closes
    // the first session and opens a new one
    mem.addData(Streams.Event(2L, ts(59), 7L, "view", 2.0))
    query.processAllAvailable()
    val closed = spark.table("sess_stream_out").as[Streams.UserSession].collect()
    query.stop()
    assert(closed.length == 1)
    assert(closed.head.user_id == 7L && closed.head.n_events == 1L)
    assert(closed.head.sum_value == 1.5)
    assert(closed.head.session_start_ms == ts(0).getTime &&
      closed.head.session_end_ms == ts(0).getTime)
  }

  test("streamingDedup: dups within the watermark horizon drop; evicted keys re-emit") {
    implicit val sqlCtx = spark.sqlContext
    def tm(min: Int): Timestamp = new Timestamp(ts(0).getTime + min * 60000L)
    val mem = MemoryStream[Streams.Event]
    val deduped = Streams.streamingDedup(mem.toDS().toDF(),
      Seq("user_id", "event_type"), watermark = "10 minutes")
    val query = deduped.writeStream.outputMode("append").format("memory")
      .queryName("sdedup_evict_out").start()
    // batch 1: an in-batch duplicate — one survivor
    mem.addData(Streams.Event(1L, tm(0), 7L, "click", 1.0),
      Streams.Event(2L, tm(1), 7L, "click", 2.0))
    query.processAllAvailable()
    assert(spark.table("sdedup_evict_out").count() == 1)
    // batch 2: same key within the horizon — still deduped by state
    mem.addData(Streams.Event(3L, tm(2), 7L, "click", 3.0))
    query.processAllAvailable()
    assert(spark.table("sdedup_evict_out").count() == 1)
    // batch 3: event time jumps 2 h — watermark passes key 7's state,
    // which is the ONLY way unbounded streams keep bounded dedup state
    mem.addData(Streams.Event(4L, tm(120), 8L, "view", 4.0))
    query.processAllAvailable()
    // batch 4: the evicted key re-emits (correct within-watermark contract)
    mem.addData(Streams.Event(5L, tm(121), 7L, "click", 5.0))
    query.processAllAvailable()
    query.stop()
    assert(spark.table("sdedup_evict_out").count() == 3)
  }

  test("transformWithState: running user totals accumulate across batches (RocksDB state)") {
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[(Long, Timestamp, Long, String, Double, String)]
      val stream = mem.toDF
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .select("event_id", "ts", "user_id", "event_type", "value")
        .as[Streams.Event]
      val q = Streams.runningUserTotals(stream)
        .writeStream.format("memory").queryName("tws_out")
        .outputMode("update").start()
      try {
        mem.addData((1L, ts(0), 7L, "click", 1.5, "{}"),
          (2L, ts(1), 7L, "click", 1.0, "{}"),
          (3L, ts(2), 8L, "view", 4.0, "{}"))
        q.processAllAvailable()
        mem.addData((4L, ts(3), 7L, "view", 2.0, "{}"))
        q.processAllAvailable()
      } finally q.stop()
      val got = spark.table("tws_out")
        .select("user_id", "n_events", "sum_value")
        .as[(Long, Long, Double)].collect().toSet
      assert(got.contains((7L, 2L, 2.5)))  // after batch 1
      assert(got.contains((8L, 1L, 4.0)))
      assert(got.contains((7L, 3L, 4.5)))  // state carried into batch 2
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("stream-stream interval join matches within window, bounded by watermarks") {
    implicit val sqlCtx = spark.sqlContext
    val memL = MemoryStream[(Long, Timestamp, Long, String, Double, String)]
    val memR = MemoryStream[(Long, Timestamp, Long, String, Double, String)]
    memL.addData((1L, ts(0), 7L, "click", 1.0, "{}"),
      (2L, ts(30), 8L, "click", 1.0, "{}"))
    memR.addData(
      (10L, ts(5), 7L, "view", 1.0, "{}"),   // within 10 min of click 1
      (11L, ts(25), 7L, "view", 1.0, "{}"),  // outside window
      (12L, ts(32), 9L, "view", 1.0, "{}"))  // other user
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value", "props")
    val joined = Streams.intervalJoin(
      memL.toDF.toDF(cols: _*), memR.toDF.toDF(cols: _*), "10 minutes")
    val got = Streams.runToMemory(joined, OutputMode.Append())
      .select("user_id", "l_id", "r_id").as[(Long, Long, Long)].collect()
    assert(got.toSeq == Seq((7L, 1L, 10L)))

    // batch parity on the same rows
    val lb = Seq((1L, ts(0), 7L, "click", 1.0, "{}"),
      (2L, ts(30), 8L, "click", 1.0, "{}")).toDF(cols: _*)
    val rb = Seq((10L, ts(5), 7L, "view", 1.0, "{}"),
      (11L, ts(25), 7L, "view", 1.0, "{}"),
      (12L, ts(32), 9L, "view", 1.0, "{}")).toDF(cols: _*)
    val batch = Streams.intervalJoin(lb, rb, "10 minutes")
      .select("user_id", "l_id", "r_id").as[(Long, Long, Long)].collect()
    assert(batch.toSeq == got.toSeq)
  }

  test("left-outer interval join emits unmatched clicks once the watermark passes") {
    implicit val sqlCtx = spark.sqlContext
    val memL = MemoryStream[(Long, Timestamp, Long, String, Double, String)]
    val memR = MemoryStream[(Long, Timestamp, Long, String, Double, String)]
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value", "props")
    val joined = Streams.intervalJoin(
      memL.toDF.toDF(cols: _*), memR.toDF.toDF(cols: _*),
      "10 minutes", watermark = "5 minutes", joinType = "leftOuter")

    memL.addData((1L, ts(0), 7L, "click", 1.0, "{}"),   // will match
      (2L, ts(1), 8L, "click", 1.0, "{}"))              // never matches
    memR.addData((10L, ts(5), 7L, "view", 1.0, "{}"))
    val q = joined.writeStream.format("memory").queryName("lij_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // advance both watermarks far past click 2's horizon
      memL.addData((3L, ts(59), 9L, "click", 1.0, "{}"))
      memR.addData((11L, ts(59), 9L, "purchaseless", 1.0, "{}"))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("lij_out")
      .select("user_id", "l_id", "r_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), if (r.isNullAt(2)) -1L else r.getLong(2)))
      .toSet
    assert(got.contains((7L, 1L, 10L)))  // matched pair
    assert(got.contains((8L, 2L, -1L)))  // unmatched left emitted with null right
  }

  test("stream-static enrich joins each micro-batch against the dimension") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double, String)]
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value", "props")
    val dim = Seq((1L, "gold"), (2L, "basic")).toDF("user_id", "segment")
    val enriched = Streams.enrich(
      mem.toDF.toDF(cols: _*), dim, Seq("user_id"))
      .select("event_id", "user_id", "segment")
    val q = enriched.writeStream.format("memory").queryName("enrich_out")
      .outputMode("append").start()
    try {
      mem.addData((10L, ts(0), 1L, "click", 1.0, "{}"))
      q.processAllAvailable()
      // second micro-batch joins the same static side again
      mem.addData((11L, ts(1), 2L, "view", 1.0, "{}"),
        (12L, ts(2), 3L, "view", 1.0, "{}")) // user 3: no dim row → null
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("enrich_out")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) "-" else r.getString(2))).sortBy(_._1).toSeq
    assert(got == Seq((10L, 1L, "gold"), (11L, 2L, "basic"), (12L, 3L, "-")))
    // batch parity: the same operator over a batch frame
    val batch = Streams.enrich(
      Seq((10L, ts(0), 1L, "click", 1.0, "{}")).toDF(cols: _*),
      dim, Seq("user_id")).select("event_id", "segment")
      .as[(Long, String)].collect().toSeq
    assert(batch == Seq((10L, "gold")))
  }

  test("interval join drops a right row arriving after the left watermark closed") {
    // Guards the bounded-state claim: once the watermark proves a left
    // row's window can no longer match, its state is evicted and the
    // leftOuter row emitted EXACTLY once — a right row for that window
    // arriving later must be discarded, not matched and not duplicated.
    implicit val sqlCtx = spark.sqlContext
    val memL = MemoryStream[(Long, Timestamp, Long, String, Double, String)]
    val memR = MemoryStream[(Long, Timestamp, Long, String, Double, String)]
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value", "props")
    val joined = Streams.intervalJoin(
      memL.toDF.toDF(cols: _*), memR.toDF.toDF(cols: _*),
      "10 minutes", watermark = "5 minutes", joinType = "leftOuter")

    val q = joined.writeStream.format("memory").queryName("late_ij_out")
      .outputMode("append").start()
    try {
      // batch 1: the left row whose window is [0, 10]; right has only an
      // unrelated user (sets the right watermark without matching)
      memL.addData((1L, ts(0), 7L, "click", 1.0, "{}"))
      memR.addData((10L, ts(0), 9L, "view", 1.0, "{}"))
      q.processAllAvailable()
      // batch 2: both watermarks jump far past the window → left state
      // evicted, outer row (7, 1, null) emitted
      memL.addData((2L, ts(59), 9L, "click", 1.0, "{}"))
      memR.addData((11L, ts(59), 9L, "view", 1.0, "{}"))
      q.processAllAvailable()
      // batch 3: a LATE right row that would have matched (ts 5 ∈ [0, 10])
      // arrives after the watermark closed that window → must be dropped
      memR.addData((12L, ts(5), 7L, "view", 1.0, "{}"))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("late_ij_out")
      .select("user_id", "l_id", "r_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), if (r.isNullAt(2)) -1L else r.getLong(2)))
    val user7 = rows.filter(_._1 == 7L).toSeq
    assert(user7 == Seq((7L, 1L, -1L)),
      s"expected exactly one unmatched outer row for user 7, got: ${user7.mkString(", ")}")
  }

  test("checkpointed file source + idempotent foreachBatch sink resumes exactly-once") {
    val root = SparkFixture.tempDir("graft_eo").toString
    val (srcDir, ckpt, outDir) = (s"$root/src", s"$root/ckpt", s"$root/out")
    new java.io.File(srcDir).mkdirs()
    val schema = "event_id LONG, user_id LONG, value DOUBLE"

    def writeBatchFile(name: String, rows: Seq[String]): Unit = {
      val p = java.nio.file.Paths.get(srcDir, name)
      java.nio.file.Files.write(p, rows.mkString("\n").getBytes)
    }
    def runOnce(): Unit = {
      val src = spark.readStream.schema(schema).json(srcDir)
      val q = Streams.parquetSinkExactlyOnce(src, outDir, ckpt)
      q.processAllAvailable(); q.stop(); q.awaitTermination()
    }

    writeBatchFile("a.json", Seq(
      """{"event_id":1,"user_id":7,"value":1.0}""",
      """{"event_id":2,"user_id":7,"value":2.0}"""))
    runOnce()
    // restart with NEW source files and the SAME checkpoint: committed
    // offsets must not be re-read, new data must land
    writeBatchFile("b.json", Seq(
      """{"event_id":3,"user_id":8,"value":3.0}"""))
    runOnce()
    // restart with NO new data: a no-op resume, nothing reprocessed
    runOnce()

    val got = spark.read.parquet(outDir)
      .select("event_id", "user_id", "value")
      .as[(Long, Long, Double)].collect().toSeq.sorted
    assert(got == Seq((1L, 7L, 1.0), (2L, 7L, 2.0), (3L, 8L, 3.0)))
    // exactly-once across restarts: no event appears twice
    assert(got.map(_._1).distinct.size == got.size)
  }

  test("streamingDedup drops duplicate event ids within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double, String)]
    mem.addData(eventRows ++ Seq(eventRows.head, eventRows(1)): _*) // 2 dups
    val stream = mem.toDF.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val deduped = Streams.streamingDedup(stream, Seq("event_id"), "2 hours")
    val got = Streams.runToMemory(deduped, OutputMode.Append())
    assert(got.count() == 4)
    assert(got.select("event_id").distinct().count() == 4)
  }

  test("userSessions merges events within gap; streaming equals batch") {
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq(
      (1L, ts(0), 7L, "click", 1.0, "{}"),
      (2L, ts(10), 7L, "click", 1.0, "{}"),   // same session (10 min gap)
      (3L, ts(55), 7L, "click", 1.0, "{}"),   // new session (45 min gap)
      (4L, ts(5), 8L, "view", 1.0, "{}"))
    val batch = Streams.userSessions(
        rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props"),
        gap = "30 minutes")
      .orderBy("user_id", "session_start_ms")
      .as[(Long, Long, Long)].collect()
    assert(batch.toSeq == Seq(
      (7L, ts(0).getTime, 2L), (7L, ts(55).getTime, 1L), (8L, ts(5).getTime, 1L)))

    val mem = MemoryStream[(Long, Timestamp, Long, String, Double, String)]
    mem.addData(rows: _*)
    val stream = mem.toDF.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = Streams.runToMemory(
        Streams.userSessions(stream, gap = "30 minutes"),
        OutputMode.Complete())
      .orderBy("user_id", "session_start_ms")
      .as[(Long, Long, Long)].collect()
    assert(got.toSeq == batch.toSeq)
  }

  test("indexAppend: streamed micro-batch appends equal the batch append") {
    implicit val sqlCtx = spark.sqlContext
    def vec(seed: Int): Array[Float] = {
      val r = new scala.util.Random(seed)
      Array.fill(8)((r.nextDouble() * 2 - 1).toFloat)
    }
    val base = (0 until 40).map(i => (i.toLong, vec(i)))
      .toDF("vec_id", "embedding")
    val batch = (40 until 60).map(i => (i.toLong, vec(i)))
    val trained = graft.similarity.Ivf.train(base, k = 3, iters = 1, dim = 8)
    val cRows = trained.collect()
    val cents = spark.createDataFrame(
      java.util.Arrays.asList(cRows: _*), trained.schema)
    val tmp = SparkFixture.tempDir("graft_sidx").toString
    val (streamStore, batchStore) = (s"$tmp/stream", s"$tmp/batch")
    graft.similarity.Ivf.writeIngestStore(base, cents, streamStore)
    graft.similarity.Ivf.writeAssignedStore(base, cents, batchStore)
    // batch path: one append of the whole new set
    graft.similarity.Ivf.appendToStore(
      batch.toDF("vec_id", "embedding"), cents, batchStore)
    // streaming path: the same vectors in two micro-batches
    val mem = MemoryStream[(Long, Array[Float])]
    val q = Streams.indexAppend(mem.toDF().toDF("vec_id", "embedding"),
      cents, streamStore, s"$tmp/ckpt")
    try {
      mem.addData(batch.take(10)); q.processAllAvailable()
      mem.addData(batch.drop(10)); q.processAllAvailable()
    } finally q.stop()
    // MULTISET comparison (sorted Seq, not Set): duplicate appended rows —
    // the exact non-idempotent-replay failure mode — must fail the
    // assertion, which a Set would silently collapse (ADVICE r9)
    def content(p: String) = spark.read.parquet(p)
      .select("vec_id", "centroid_id").as[(Long, Int)].collect()
      .toSeq.sorted
    val streamed = content(streamStore)
    assert(streamed == content(batchStore))
    assert(streamed.size == 60)
    assert(spark.read.parquet(streamStore).count() == 60)
    assert(spark.read.parquet(batchStore).count() == 60)
  }

  test("indexAppend: a replayed micro-batch rewrites, never duplicates") {
    implicit val sqlCtx = spark.sqlContext
    def vec(seed: Int): Array[Float] = {
      val r = new scala.util.Random(seed + 1000)
      Array.fill(8)((r.nextDouble() * 2 - 1).toFloat)
    }
    val base = (0 until 40).map(i => (i.toLong, vec(i)))
      .toDF("vec_id", "embedding")
    val batch = (40 until 60).map(i => (i.toLong, vec(i)))
    val trained = graft.similarity.Ivf.train(base, k = 3, iters = 1, dim = 8)
    val cents = spark.createDataFrame(
      java.util.Arrays.asList(trained.collect(): _*), trained.schema)
    val tmp = SparkFixture.tempDir("graft_sidxr").toString
    val store = s"$tmp/store"
    graft.similarity.Ivf.writeIngestStore(base, cents, store)
    val mem = MemoryStream[(Long, Array[Float])]
    val q = Streams.indexAppend(mem.toDF().toDF("vec_id", "embedding"),
      cents, store, s"$tmp/ckpt")
    try {
      mem.addData(batch.take(10)); q.processAllAvailable()
      mem.addData(batch.drop(10)); q.processAllAvailable()
    } finally q.stop()
    def probe() = graft.similarity.Ivf.ivfTopKFromStore(store,
        graft.similarity.Ann.selfQueries(base, 5), cents, k = 3, nprobe = 2)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Long, Double)].collect().toSeq
    val before = probe()
    assert(spark.read.parquet(store).count() == 60)
    // RE-FIRE batch 0 against the same store — exactly what foreachBatch
    // does when the last checkpointed batch replays after a crash. The
    // idempotent ingest=b0 overwrite must leave row counts AND the probe
    // result unchanged (a raw hive append would double batch 0's rows).
    graft.similarity.Ivf.writeBatchToStore(
      batch.take(10).toDF("vec_id", "embedding"), cents, store, 0L)
    assert(spark.read.parquet(store).count() == 60)
    assert(probe() == before)
  }

  test("indexAppendAudited: healthy wave holds the version; a shifted wave retrains exactly once and recall recovers") {
    implicit val sqlCtx = spark.sqlContext
    import graft.similarity.Ivf
    // IvfSpec's designed clusters: interleaved e1/e2 train a clean
    // 2-cell quantizer; the appended orthogonal e3 cluster scatters
    // under the FROZEN centroids (nprobe=1 probes miss), and the
    // retrain — seeded from the store's lowest ids, which now include
    // e3's id 2 — carves e3 its own cell so recall RECOVERS
    def unit(dim0: Int, seed: Int): Array[Float] = {
      val r = new scala.util.Random(seed)
      Array.tabulate(16) { d =>
        (if (d == dim0) 1.0f else 0.0f) +
          (r.nextDouble() * 0.02f - 0.01f).toFloat
      }
    }
    val resident = (3 until 23)
      .map(i => (i.toLong, unit(if (i % 2 == 1) 0 else 1, i)))
      .toDF("vec_id", "embedding")
    val tmp = SparkFixture.tempDir("graft_sauid").toString
    val root = s"$tmp/idx"
    val v1 = Ivf.writeVersionedIndex(resident, k = 2, root)
    assert(v1 == 1L)
    // wave 1: more e1/e2 members under new ids — in-distribution
    val w1 = (100 until 120)
      .map(i => (i.toLong, unit(if (i % 2 == 1) 0 else 1, i)))
    // wave 2: the orthogonal e3 cluster; one LOW id (2) so the retrain's
    // lowest-3-id seeding covers all three clusters
    val w2 = (Seq(2L) ++ (200L until 219L))
      .map(i => (i, unit(2, i.toInt)))
    val mem = MemoryStream[(Long, Array[Float])]
    val q = Streams.indexAppendAudited(
      mem.toDF().toDF("vec_id", "embedding"), root, s"$tmp/ckpt",
      auditEvery = 1, floor = 0.9, nAuditQueries = 10, k = 3, nprobe = 1,
      kCents = 3)
    try {
      mem.addData(w1); q.processAllAvailable()
      // the healthy in-stream audit must NOT advance the version
      assert(Ivf.indexVersion(spark, root) == 1L)
      mem.addData(w2); q.processAllAvailable()
    } finally q.stop()
    // the shifted wave advanced the version EXACTLY once, mid-stream
    assert(Ivf.indexVersion(spark, root) == 2L)
    // and the swap RECOVERED recall: the same drifted distribution's
    // queries now pass the floor on v=2 (no further retrain fires)
    val shiftedQs = w2.sortBy(_._1).take(6)
      .toDF("query_id", "query_vec")
    val (vStable, rAfter) = Ivf.reindexIfDrifted(spark, root, shiftedQs,
      k = 3, nprobe = 1, floor = 0.9, kCents = 3)
    assert(vStable == 2L && rAfter >= 0.9)
    // the v=2 store carries every row exactly once (resident + both waves)
    assert(spark.read.parquet(s"$root/v=2/store").count() == 60)
  }

  test("processAuditedBatch: a replayed batch whose first attempt retrained is a no-op; empty triggers skip") {
    import graft.similarity.Ivf
    def unit(dim0: Int, seed: Int): Array[Float] = {
      val r = new scala.util.Random(seed)
      Array.tabulate(16) { d =>
        (if (d == dim0) 1.0f else 0.0f) +
          (r.nextDouble() * 0.02f - 0.01f).toFloat
      }
    }
    val resident = (3 until 23)
      .map(i => (i.toLong, unit(if (i % 2 == 1) 0 else 1, i)))
      .toDF("vec_id", "embedding")
    val tmp = SparkFixture.tempDir("graft_replay").toString
    val root = s"$tmp/idx"
    Ivf.writeVersionedIndex(resident, k = 2, root)
    def process(b: org.apache.spark.sql.DataFrame, id: Long): Unit =
      Streams.processAuditedBatch(b, id, root, auditEvery = 1,
        floor = 0.9, nAuditQueries = 10, k = 3, nprobe = 1, kCents = 3,
        iters = 1, confidenceFloor = 0.0, samplePct = 100,
        idCol = "vec_id", vecCol = "embedding")
    // batch 0: in-space, appends and holds the version
    process((100 until 110)
      .map(i => (i.toLong, unit(if (i % 2 == 1) 0 else 1, i)))
      .toDF("vec_id", "embedding"), 0L)
    assert(Ivf.indexVersion(spark, root) == 1L)
    // batch 1: out-of-space e3 — the audit retrains, folding batch 1
    // into v=2's base (with the _folded_through marker)
    val b1 = (Seq(2L) ++ (200L until 209L)).map(i => (i, unit(2, i.toInt)))
      .toDF("vec_id", "embedding")
    process(b1, 1L)
    assert(Ivf.indexVersion(spark, root) == 2L)
    def storeCount() = spark.read.parquet(s"$root/v=2/store").count()
    def probe() = Ivf.ivfTopKFromVersioned(spark, root,
        graft.similarity.Ann.selfQueries(resident, 5), k = 3, nprobe = 2)
      .as[(Long, Long, Long, Double)].collect().toSeq.sorted
    assert(storeCount() == 40) // 20 resident + 10 b0 + 10 b1, each ONCE
    val served = probe()
    // CRASH REPLAY: the streaming checkpoint never committed batch 1 —
    // it re-fires against the NEW version. Without the marker the keyed
    // write would land b1's rows a second time next to v=2's base copy
    // (the r11 self-review hole); the replay must be a complete no-op.
    process(b1, 1L)
    assert(Ivf.indexVersion(spark, root) == 2L)
    assert(storeCount() == 40)
    assert(probe() == served)
    // a data-less trigger is skipped, never failed
    process(b1.limit(0), 2L)
    assert(Ivf.indexVersion(spark, root) == 2L && storeCount() == 40)
    // and compaction CARRIES the marker: a replay after the fold's
    // version was compacted still detects it
    Ivf.compactVersion(spark, root)
    process(b1, 1L)
    assert(Ivf.indexVersion(spark, root) == 3L)
    assert(spark.read.parquet(s"$root/v=3/store").count() == 40)
    // a batchId BELOW the marker is NOT a replay — it's a reset or
    // replaced checkpoint against an existing root, and silently
    // skipping would drop new data until the ids catch up: refuse
    val e = intercept[IllegalArgumentException] { process(b1, 0L) }
    assert(e.getMessage.contains("_folded_through"))
  }

  test("processAuditedBatch: cadence compaction folds the batch; its replay is a no-op") {
    import graft.similarity.Ivf
    def unit(dim0: Int, seed: Int): Array[Float] = {
      val r = new scala.util.Random(seed)
      Array.tabulate(16) { d =>
        (if (d == dim0) 1.0f else 0.0f) +
          (r.nextDouble() * 0.02f - 0.01f).toFloat
      }
    }
    val resident = (3 until 23)
      .map(i => (i.toLong, unit(if (i % 2 == 1) 0 else 1, i)))
      .toDF("vec_id", "embedding")
    val tmp = SparkFixture.tempDir("graft_creplay").toString
    val root = s"$tmp/idx"
    Ivf.writeVersionedIndex(resident, k = 2, root)
    def process(b: org.apache.spark.sql.DataFrame, id: Long): Unit =
      Streams.processAuditedBatch(b, id, root, auditEvery = 1,
        floor = 0.9, nAuditQueries = 10, k = 3, nprobe = 1, kCents = 3,
        iters = 1, confidenceFloor = 0.0, samplePct = 100,
        compactEvery = 1, keepVersions = 2,
        idCol = "vec_id", vecCol = "embedding")
    // an in-space batch: the audit holds, then the compaction cadence
    // folds base + this batch's layer into v=2 — which must carry the
    // batch's fold marker, because the batch's rows now live in v=2's
    // BASE, not under a replayable ingest key
    val b0 = (100 until 110)
      .map(i => (i.toLong, unit(if (i % 2 == 1) 0 else 1, i)))
      .toDF("vec_id", "embedding")
    process(b0, 0L)
    assert(Ivf.indexVersion(spark, root) == 2L)
    assert(Ivf.ingestLayerCount(spark, root, 2L) == 1)
    def storeCount() = spark.read.parquet(s"$root/v=2/store").count()
    def probe() = Ivf.ivfTopKFromVersioned(spark, root,
        graft.similarity.Ann.selfQueries(resident, 5), k = 3, nprobe = 2)
      .as[(Long, Long, Long, Double)].collect().toSeq.sorted
    assert(storeCount() == 30)
    val served = probe()
    // CRASH REPLAY of the compacted batch: without the fold marker the
    // keyed write would duplicate its rows next to the folded base copy
    process(b0, 0L)
    assert(Ivf.indexVersion(spark, root) == 2L)
    assert(storeCount() == 30)
    assert(probe() == served)
  }

  test("indexAppendAudited: the confidence gate repairs out-of-space drift off-cadence") {
    implicit val sqlCtx = spark.sqlContext
    import graft.similarity.Ivf
    def unit(dim0: Int, seed: Int): Array[Float] = {
      val r = new scala.util.Random(seed)
      Array.tabulate(16) { d =>
        (if (d == dim0) 1.0f else 0.0f) +
          (r.nextDouble() * 0.02f - 0.01f).toFloat
      }
    }
    val resident = (3 until 23)
      .map(i => (i.toLong, unit(if (i % 2 == 1) 0 else 1, i)))
      .toDF("vec_id", "embedding")
    val tmp = SparkFixture.tempDir("graft_sconf").toString
    val root = s"$tmp/idx"
    Ivf.writeVersionedIndex(resident, k = 2, root)
    // auditEvery is huge: the RECALL audit never runs in this stream —
    // the version can only move if the per-batch confidence signal
    // catches the out-of-space batch (the cheap always-on gate)
    val mem = MemoryStream[(Long, Array[Float])]
    val q = Streams.indexAppendAudited(
      mem.toDF().toDF("vec_id", "embedding"), root, s"$tmp/ckpt",
      auditEvery = 1000, floor = 0.9, k = 3, nprobe = 1, kCents = 3,
      confidenceFloor = 0.5)
    try {
      // in-space batch: confidence ~1, version holds
      mem.addData((100 until 110)
        .map(i => (i.toLong, unit(if (i % 2 == 1) 0 else 1, i))))
      q.processAllAvailable()
      assert(Ivf.indexVersion(spark, root) == 1L)
      // out-of-space batch (orthogonal e3 + one low id for seeding):
      // confidence ~0 -> repair fires on THIS batch, no cadence wait
      mem.addData((Seq(2L) ++ (200L until 209L)).map(i => (i, unit(2, i.toInt))))
      q.processAllAvailable()
    } finally q.stop()
    assert(Ivf.indexVersion(spark, root) == 2L)
    // and the repair is real: the same out-of-space distribution now
    // passes the recall floor on v=2
    val qs = (Seq(2L) ++ (200L until 205L)).map(i => (i, unit(2, i.toInt)))
      .toDF("query_id", "query_vec")
    val (vStable, rAfter) = Ivf.reindexIfDrifted(spark, root, qs,
      k = 3, nprobe = 1, floor = 0.9, kCents = 3)
    assert(vStable == 2L && rAfter >= 0.9)
  }

  test("a nightly retrain racing an uncommitted streaming batch cannot duplicate its replay") {
    import graft.similarity.Ivf
    def unit(dim0: Int, seed: Int): Array[Float] = {
      val r = new scala.util.Random(seed)
      Array.tabulate(16) { d =>
        (if (d == dim0) 1.0f else 0.0f) +
          (r.nextDouble() * 0.02f - 0.01f).toFloat
      }
    }
    val resident = (3 until 23)
      .map(i => (i.toLong, unit(if (i % 2 == 1) 0 else 1, i)))
      .toDF("vec_id", "embedding")
    val tmp = SparkFixture.tempDir("graft_nreplay").toString
    val root = s"$tmp/idx"
    Ivf.writeVersionedIndex(resident, k = 2, root)
    def process(b: org.apache.spark.sql.DataFrame, id: Long): Unit =
      Streams.processAuditedBatch(b, id, root, auditEvery = 1000,
        floor = 0.9, nAuditQueries = 10, k = 3, nprobe = 1, kCents = 3,
        iters = 1, confidenceFloor = 0.0, samplePct = 100,
        idCol = "vec_id", vecCol = "embedding")
    val b0 = (100 until 110)
      .map(i => (i.toLong, unit(if (i % 2 == 1) 0 else 1, i)))
      .toDF("vec_id", "embedding")
    process(b0, 0L)
    assert(Ivf.indexVersion(spark, root) == 1L)
    // the NIGHTLY retrain fires while batch 0's checkpoint commit is
    // still pending: it folds ingest=b0 into v=2's base. Before the r12
    // fix, writeVersionedIndex wrote no marker here — the replayed
    // batch would land its rows a SECOND time next to the folded copy
    // and corrupt served top-k (the ADVICE r11 medium).
    val v2 = Ivf.writeVersionedIndex(
      spark.read.parquet(s"$root/v=1/store")
        .select($"vec_id", $"embedding"), k = 2, root)
    assert(v2 == 2L)
    assert(Ivf.readFoldedThrough(spark, root, 2L) == Some(0L))
    def storeCount() = spark.read.parquet(s"$root/v=2/store").count()
    def probe() = Ivf.ivfTopKFromVersioned(spark, root,
        graft.similarity.Ann.selfQueries(resident, 5), k = 3, nprobe = 2)
      .as[(Long, Long, Long, Double)].collect().toSeq.sorted
    assert(storeCount() == 30)
    val served = probe()
    process(b0, 0L) // the crash replay: must be a complete no-op
    assert(Ivf.indexVersion(spark, root) == 2L)
    assert(storeCount() == 30)
    assert(probe() == served)
  }

  test("workload drift: a shifted query mix trips the in-stream log-replay gate while the corpus stands still") {
    implicit val sqlCtx = spark.sqlContext
    import graft.similarity.Ivf
    def unit(dim0: Int, seed: Int): Array[Float] = {
      val r = new scala.util.Random(seed)
      Array.tabulate(16) { d =>
        (if (d == dim0) 1.0f else 0.0f) +
          (r.nextDouble() * 0.02f - 0.01f).toFloat
      }
    }
    val resident = (3 until 23)
      .map(i => (i.toLong, unit(if (i % 2 == 1) 0 else 1, i)))
      .toDF("vec_id", "embedding")
    val tmp = SparkFixture.tempDir("graft_wload").toString
    val root = s"$tmp/idx"
    Ivf.writeVersionedIndex(resident, k = 2, root)
    // epoch 0 of the serving-query log: the workload the index was built
    // for (members of the resident clusters) — healthy under replay
    Ivf.logQueries(spark,
      root, (300 until 306)
        .map(i => (i.toLong, unit(if (i % 2 == 1) 0 else 1, i)))
        .toDF("query_id", "query_vec"), epoch = 0L)
    // the recall audit and confidence signal are OFF: only the
    // workload-log replay (workloadEvery = 1) can move the version
    val mem = MemoryStream[(Long, Array[Float])]
    val q = Streams.indexAppendAudited(
      mem.toDF().toDF("vec_id", "embedding"), root, s"$tmp/ckpt",
      auditEvery = 1000, floor = 0.9, k = 3, nprobe = 1, kCents = 3,
      confidenceFloor = 0.0, workloadEvery = 1, keepLogEpochs = 1)
    try {
      // batch 0: an e2 wave lands under the FROZEN v1 quantizer — its
      // rows split across both cells by noise sign (measured 7/3). The
      // logged workload is still the healthy e0/e1 mix, so the replay
      // audits 1.0 and the version holds: accumulating an underserved
      // region is NOT drift until someone queries it.
      mem.addData((200 until 210).map(i => (i.toLong, unit(2, i))))
      q.processAllAvailable()
      assert(Ivf.indexVersion(spark, root) == 1L)
      // THE WORKLOAD SHIFTS — the corpus does not: epoch 1 logs e2
      // queries. Their true neighbors are the wave rows sitting in BOTH
      // cells, so the nprobe=1 replay recalls a fraction (measured mean
      // 0.8 over the newest-epoch-first sample vs the 0.9 floor); the
      // arriving batch itself stays perfectly in-space, so nothing but
      // the log replay can trip.
      Ivf.logQueries(spark, root, (900 until 906)
        .map(i => (i.toLong, unit(2, i)))
        .toDF("query_id", "query_vec"), epoch = 1L)
      mem.addData((110 until 120)
        .map(i => (i.toLong, unit(if (i % 2 == 1) 0 else 1, i))))
      q.processAllAvailable()
    } finally q.stop()
    // the log replay tripped the gate and republished exactly once
    assert(Ivf.indexVersion(spark, root) == 2L)
    // the corpus really did stand still across the repair (both batches
    // + resident, each once — the retrain changed models, not data)
    assert(spark.read.parquet(s"$root/v=2/store").count() == 40)
    // the in-stream log retention (keepLogEpochs = 1) aged out the
    // pre-shift epoch on the same cadence: only the CURRENT workload
    // remains logged...
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.listStatus(new org.apache.hadoop.fs.Path(s"$root/_query_log"))
      .map(_.getPath.getName).filter(_.startsWith("epoch="))
      .toSeq == Seq("epoch=1"))
    // ...and the repair is real: the retrained quantizer carves the
    // wave's region its own cell, so that shifted workload replays clean
    val after = Ivf.workloadAudit(spark, root, k = 3, nprobe = 1)
      .agg(org.apache.spark.sql.functions.avg(
        org.apache.spark.sql.functions.col("recall_at_3")))
      .head().getDouble(0)
    assert(after >= 0.9)
  }

  test("indexAppendAudited defaults: the calibrated floor repairs out-of-space drift with zero hand-set knobs") {
    implicit val sqlCtx = spark.sqlContext
    import graft.similarity.Ivf
    def unit(dim0: Int, seed: Int): Array[Float] = {
      val r = new scala.util.Random(seed)
      Array.tabulate(16) { d =>
        (if (d == dim0) 1.0f else 0.0f) +
          (r.nextDouble() * 0.02f - 0.01f).toFloat
      }
    }
    val resident = (3 until 23)
      .map(i => (i.toLong, unit(if (i % 2 == 1) 0 else 1, i)))
      .toDF("vec_id", "embedding")
    val tmp = SparkFixture.tempDir("graft_dfloor").toString
    val root = s"$tmp/idx"
    Ivf.writeVersionedIndex(resident, k = 2, root)
    // the publish CALIBRATED a floor from the resident corpus's own
    // confidence (clustered geometry -> high confidence -> a real floor)
    val stored = Ivf.readConfidenceFloor(spark, root, 1L)
    assert(stored.exists(f => f > 0.3 && f < 0.6))
    // the recall audit never runs (huge cadence) and NO floor is passed:
    // only the default-on calibrated confidence signal can repair
    val mem = MemoryStream[(Long, Array[Float])]
    val q = Streams.indexAppendAudited(
      mem.toDF().toDF("vec_id", "embedding"), root, s"$tmp/ckpt",
      auditEvery = 1000, floor = 0.9, k = 3, nprobe = 1, kCents = 3)
    try {
      // healthy feed: never false-trips the calibrated floor
      mem.addData((100 until 110)
        .map(i => (i.toLong, unit(if (i % 2 == 1) 0 else 1, i))))
      q.processAllAvailable()
      assert(Ivf.indexVersion(spark, root) == 1L)
      // out-of-space batch (orthogonal e3): confidence ~0 < the stored
      // floor -> repaired on THIS batch, out of the box
      mem.addData((Seq(2L) ++ (200L until 209L)).map(i => (i, unit(2, i.toInt))))
      q.processAllAvailable()
    } finally q.stop()
    assert(Ivf.indexVersion(spark, root) == 2L)
    // and the NEW version re-calibrated its own floor for what it now
    // holds: the same distribution no longer trips (no repair loop)
    val qs = (Seq(2L) ++ (200L until 205L)).map(i => (i, unit(2, i.toInt)))
      .toDF("query_id", "query_vec")
    val (vStable, rAfter) = Ivf.reindexIfDrifted(spark, root, qs,
      k = 3, nprobe = 1, floor = 0.9, kCents = 3)
    assert(vStable == 2L && rAfter >= 0.9)
  }

  test("cdcApply maintains a versioned keyed snapshot across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val root = SparkFixture.tempDir("graft_cdc").toString
    val (snapDir, ckpt) = (s"$root/snap", s"$root/ckpt")
    val mem = MemoryStream[(Long, Double, Long, Boolean)]
    val changes = mem.toDS().toDF("id", "bal", "seq", "is_del")
    val q = Streams.cdcApply(changes, snapDir, ckpt, "id", Seq("seq"),
      partial = false, deleteCol = Some("is_del"))
    try {
      mem.addData((1L, 10.0, 1L, false), (2L, 20.0, 2L, false))
      q.processAllAvailable()
      val v0 = spark.read.parquet(s"$snapDir/v=0").orderBy("id")
        .as[(Long, Double)].collect().toSeq
      assert(v0 == Seq((1L, 10.0), (2L, 20.0))) // first batch: all inserts

      // batch 2: update 2 (latest seq wins), delete 1, insert 3
      mem.addData((2L, 99.0, 3L, false), (2L, 25.0, 4L, false),
        (1L, 0.0, 5L, true), (3L, 30.0, 6L, false))
      q.processAllAvailable()
      val v1 = spark.read.parquet(s"$snapDir/v=1").orderBy("id")
        .as[(Long, Double)].collect().toSeq
      assert(v1 == Seq((2L, 25.0), (3L, 30.0)))
      // time travel: the v=0 snapshot is still intact
      assert(spark.read.parquet(s"$snapDir/v=0").count() == 2)
    } finally q.stop()
  }

  test("windowedCounts: late rows drop iff their window already closed") {
    implicit val sqlCtx = spark.sqlContext
    def t2(s: String) = Timestamp.valueOf(s"2024-01-02 $s:00")
    val mem = MemoryStream[(Timestamp, String)]
    val out = Streams.runToMemory(
      Streams.windowedCounts(
        mem.toDF.toDF("ts", "event_type"),
        length = "1 hour", watermark = "30 minutes"),
      OutputMode.Append(),
      Seq(
        // phase 1: wm advances to 02:20 → windows 00 and 01 close
        () => mem.addData((t2("00:10"), "a"), (t2("00:20"), "a"),
          (t2("01:10"), "a"), (t2("02:50"), "a")),
        // phase 2: 00:30 is late for a CLOSED window → dropped;
        // 02:10 is late but window 02 is still open → counted;
        // 03:40 advances wm to 03:10, closing window 02
        () => mem.addData((t2("00:30"), "a"), (t2("02:10"), "a"),
          (t2("03:40"), "a"))))
    val got = out
      .selectExpr("cast(window.start as string) AS ws", "n")
      .as[(String, Long)].collect().toMap
    assert(got == Map(
      "2024-01-02 00:00:00" -> 2L, // 00:30 straggler NOT here
      "2024-01-02 01:00:00" -> 1L,
      "2024-01-02 02:00:00" -> 2L)) // 02:10 straggler counted
    // window 03 never closed → never emitted in Append mode
  }

  test("drive stops the query when a phase throws and reports each batch once") {
    implicit val sqlCtx = spark.sqlContext
    def start(mem: MemoryStream[Int]) = mem.toDF().writeStream.format("noop").start()
    val failing = MemoryStream[Int]
    val q = start(failing)
    val e = intercept[IllegalStateException](Streams.drive(q, Seq(
      () => failing.addData(1, 2),
      () => throw new IllegalStateException("phase 2 failed"))))
    assert(e.getMessage == "phase 2 failed")
    assert(!q.isActive)
    assert(spark.streams.active.isEmpty)

    val mem = MemoryStream[Int]
    val progress = Streams.drive(start(mem), Seq(
      () => mem.addData(1), () => mem.addData(2, 3)))
    assert(progress.map(_.batchId) == Seq(0L, 1L))
    assert(progress.map(_.numInputRows) == Seq(1L, 2L))
  }
}
