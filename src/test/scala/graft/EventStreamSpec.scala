package graft

import graft.streaming.EventStream
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import java.sql.Timestamp

class EventStreamSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("windowed counts with watermark match the batch equivalence anchor") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val events = input.toDF().toDF("ts", "event_type", "value")

    val query = EventStream.windowedTypeCounts(events, "10 minutes", "1 hour")
      .writeStream.format("memory").queryName("win_counts")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(
        (ts("2026-01-01 10:05:00"), "click", 1.0),
        (ts("2026-01-01 10:40:00"), "click", 2.0),
        (ts("2026-01-01 10:50:00"), "view", 5.0))
      query.processAllAvailable()
      // advance the watermark past 11:10 so the 10:00 window closes
      input.addData((ts("2026-01-01 12:30:00"), "click", 9.0))
      query.processAllAvailable()

      val streamed = spark.table("win_counts")
        .as[(Timestamp, String, Long, Long)].collect().toSet
      val batch = EventStream.windowedTypeCountsBatch(
        Seq(
          (ts("2026-01-01 10:05:00"), "click", 1.0),
          (ts("2026-01-01 10:40:00"), "click", 2.0),
          (ts("2026-01-01 10:50:00"), "view", 5.0)
        ).toDF("ts", "event_type", "value"))
        .as[(Timestamp, String, Long, Long)].collect().toSet
      assert(batch.subsetOf(streamed))
      assert(streamed.contains((ts("2026-01-01 10:00:00"), "click", 2L, 300L)))
    } finally query.stop()
  }

  test("stream-stream join matches purchases to in-window views only") {
    implicit val sqlCtx = spark.sqlContext
    val pIn = MemoryStream[(Long, Timestamp, Double)]
    val vIn = MemoryStream[(Long, Timestamp, Double)]
    def named(in: MemoryStream[(Long, Timestamp, Double)]) =
      in.toDF().toDF("user_id", "ts", "value")
    val query = EventStream.joinWithinWindow(named(pIn), named(vIn))
      .writeStream.format("memory").queryName("pv_join")
      .outputMode(OutputMode.Append()).start()
    try {
      vIn.addData(
        (1L, ts("2026-01-01 10:00:00"), 1.0), // in window of the purchase
        (1L, ts("2026-01-01 09:00:00"), 2.0), // too old (> 30 min before)
        (2L, ts("2026-01-01 10:10:00"), 3.0)) // other user
      pIn.addData((1L, ts("2026-01-01 10:15:00"), 50.0))
      query.processAllAvailable()
      // advance both watermarks so results emit
      vIn.addData((9L, ts("2026-01-01 13:00:00"), 0.0))
      pIn.addData((9L, ts("2026-01-01 13:00:00"), 0.0))
      query.processAllAvailable()
      val got = spark.table("pv_join")
        .as[(Long, Timestamp, Double, Timestamp, Double)].collect().toSet
      assert(got.contains(
        (1L, ts("2026-01-01 10:15:00"), 50.0, ts("2026-01-01 10:00:00"), 1.0)))
      // the stale view and the other user's view never match
      assert(!got.exists(r => r._5 == 2.0 || r._5 == 3.0))
    } finally query.stop()
  }

  test("sinkToTable appends micro-batches into the shared catalog sink") {
    implicit val sqlCtx = spark.sqlContext
    spark.sql("DROP TABLE IF EXISTS stream_sink_t")
    val input = MemoryStream[(Long, String)]
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_stream_ckpt").toString
    val query = EventStream.sinkToTable(
      input.toDF().toDF("id", "v"), "stream_sink_t", ckpt)
    try {
      input.addData((1L, "a"), (2L, "b"))
      query.processAllAvailable()
      input.addData((3L, "c"))
      query.processAllAvailable()
      val got = spark.table("stream_sink_t")
        .as[(Long, String)].collect().toSet
      assert(got == Set((1L, "a"), (2L, "b"), (3L, "c")))
    } finally query.stop()
  }

  test("session windows close at the watermark and match batch sessions") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, Double)]
    val events = input.toDF().toDF("ts", "user_id", "value")
    val query = EventStream.sessionCounts(events, "30 minutes", "10 minutes")
      .writeStream.format("memory").queryName("sessions")
      .outputMode(OutputMode.Append()).start()
    try {
      val batch1 = Seq(
        (ts("2026-01-01 09:00:00"), 1L, 1.0),
        (ts("2026-01-01 09:10:00"), 1L, 2.0), // merges: gap < 30m
        (ts("2026-01-01 10:30:00"), 1L, 5.0), // new session for user 1
        (ts("2026-01-01 09:05:00"), 2L, 7.0))
      input.addData(batch1: _*)
      query.processAllAvailable()
      // advance the watermark far enough to close every session
      input.addData((ts("2026-01-01 13:00:00"), 9L, 0.0))
      query.processAllAvailable()
      val streamed = spark.table("sessions")
        .as[(Timestamp, Timestamp, Long, Long, Long)].collect().toSet
      val batch = EventStream.sessionCounts(
        batch1.toDF("ts", "user_id", "value"))
        .as[(Timestamp, Timestamp, Long, Long, Long)].collect().toSet
      assert(batch.subsetOf(streamed))
      // user 1's first session merged two events, closed at 09:40
      assert(streamed.contains(
        (ts("2026-01-01 09:00:00"), ts("2026-01-01 09:40:00"), 1L, 2L, 300L)))
      // and the 10:30 event opened a SEPARATE session
      assert(streamed.exists(r => r._3 == 1L && r._1 == ts("2026-01-01 10:30:00")))
    } finally query.stop()
  }

  test("streaming curation equals the batch curation on the same docs") {
    implicit val sqlCtx = spark.sqlContext
    val docs = (0L until 200L).map { i =>
      (i, s"some words number $i contact user$i@mail.example.com here " +
        ("pad " * (i % 8).toInt))
    }
    val input = MemoryStream[(Long, String)]
    val stream = EventStream.curateDocStream(
      input.toDF().toDF("doc_id", "text"))
    val query = stream.writeStream.format("memory").queryName("curated")
      .outputMode(OutputMode.Append()).start()
    try {
      // two micro-batches: membership must not depend on batching
      input.addData(docs.take(120): _*)
      query.processAllAvailable()
      input.addData(docs.drop(120): _*)
      query.processAllAvailable()
      val streamed = spark.table("curated")
        .as[(Long, Long, String)].collect().toSet
      val batch = EventStream.curateDocStream(docs.toDF("doc_id", "text"))
        .as[(Long, Long, String)].collect().toSet
      assert(streamed == batch) // identical admission + identical redaction
      assert(batch.nonEmpty && batch.size < docs.size) // the gates did gate
      assert(batch.forall(_._3.contains("[EMAIL]")))
    } finally query.stop()
  }

  test("mapGroupsWithState accumulates per-user activity across batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Double)]
    val query = EventStream.runningUserActivity(input.toDS())
      .writeStream.format("memory").queryName("user_activity")
      .outputMode(OutputMode.Update()).start()
    try {
      input.addData((1L, 2.0), (1L, 7.0), (2L, 3.0))
      query.processAllAvailable()
      input.addData((1L, 4.0))
      query.processAllAvailable()
      val rows = spark.table("user_activity")
        .as[EventStream.UserActivity].collect()
        .groupBy(_.user_id).map { case (k, v) => k -> v.last }
      assert(rows(1L).n_events == 3L && rows(1L).max_value == 7.0)
      assert(rows(2L).n_events == 1L && rows(2L).max_value == 3.0)
    } finally query.stop()
  }

  test("checkpoint resume is exactly-once: restart equals the one-shot run") {
    // Crash-recovery proof the st_* oracle rows don't give: process half
    // the fixture, STOP, restart from the same checkpoint with the rest,
    // and the combined file-sink output must equal a one-shot run —
    // nothing reprocessed (source log), nothing lost (state store),
    // nothing double-committed (sink metadata log).
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.types._
    val root = java.nio.file.Files.createTempDirectory("graft_resume")
    val (srcDir, ckDir) = (s"$root/src", s"$root/ck")
    val (outDir, oneDir, oneCk) = (s"$root/out", s"$root/one", s"$root/one_ck")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(srcDir))
    val schema = StructType(Seq(StructField("ts", TimestampType),
      StructField("event_type", StringType), StructField("value", DoubleType)))
    val half1 = Seq(
      (ts("2026-01-01 10:05:00"), "click", 1.0),
      (ts("2026-01-01 10:15:00"), "view", 2.0),
      (ts("2026-01-01 10:25:00"), "click", 3.0),
      (ts("2026-01-01 10:35:00"), "view", 4.0))
    // strictly LATER than every half1 window, so no cross-run late data
    // and the one-shot watermark trajectory closes the same window set
    val half2 = Seq(
      (ts("2026-01-01 12:05:00"), "click", 5.0),
      (ts("2026-01-01 12:15:00"), "view", 6.0),
      (ts("2026-01-01 14:00:00"), "click", 0.0))
    def addFile(rows: Seq[(Timestamp, String, Double)], name: String) =
      rows.toDF("ts", "event_type", "value")
        .coalesce(1).write.parquet(s"$srcDir/$name")
    def runOnce(ck: String, out: String): Unit = {
      val stream = spark.readStream.schema(schema)
        .option("recursiveFileLookup", "true").parquet(srcDir)
      val q = EventStream.windowedTypeCounts(stream, "10 minutes", "10 minutes")
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ck)
        .outputMode(OutputMode.Append())
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    addFile(half1, "a")
    runOnce(ckDir, outDir) // run 1: half the fixture, then the query STOPS
    addFile(half2, "b")
    runOnce(ckDir, outDir) // run 2: SAME checkpoint picks up only file b
    runOnce(oneCk, oneDir) // reference: one shot over the whole fixture
    val resumed = spark.read.parquet(outDir)
      .as[(Timestamp, String, Long, Long)].collect().sorted
    val oneShot = spark.read.parquet(oneDir)
      .as[(Timestamp, String, Long, Long)].collect().sorted
    assert(resumed.nonEmpty)
    // sequence (not set) equality: a double-committed window would show
    // up as a duplicate row here
    assert(resumed.toSeq == oneShot.toSeq)
  }

  test("dropDuplicatesWithinWatermark suppresses replayed event ids") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, Double)]
    val events = input.toDF().toDF("event_id", "ts", "value")
    val query = EventStream.dedupWithinWatermark(events, "10 minutes")
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(
        (1L, ts("2026-01-01 10:00:00"), 1.0),
        (2L, ts("2026-01-01 10:01:00"), 2.0))
      query.processAllAvailable()
      // replay id 1 (at-least-once source) + one genuinely new event
      input.addData(
        (1L, ts("2026-01-01 10:00:00"), 1.0),
        (3L, ts("2026-01-01 10:02:00"), 3.0))
      query.processAllAvailable()
      val ids = spark.table("dedup_stream")
        .select("event_id").as[Long].collect().sorted
      assert(ids.toSeq === Seq(1L, 2L, 3L))
    } finally query.stop()
  }

  test("stateWidthFor floors at 8 for fixture-scale inputs and tracks " +
    "bytes above 256 MB (the st_sessions growth-term fix, r16)") {
    import graft.queries.StreamingQueries.stateWidthFor
    // fixture-scale file → the historical 8 state stores (gate plans
    // unchanged: sf0.1 events is ~16 MB)
    val dir = java.nio.file.Files.createTempDirectory("statew").toString
    val small = s"$dir/small.bin"
    java.nio.file.Files.write(java.nio.file.Paths.get(small),
      new Array[Byte](1 << 20))
    assert(stateWidthFor(spark, small) === 8)
    // the derived regime: ceil(bytes / 32 MB). The probe measured the
    // real thing at sf30 (467 MB → 15) and sf100 (1.6 GB → 50); here the
    // arithmetic is pinned against a sparse file-backed length
    val big = s"$dir/big.bin"
    val raf = new java.io.RandomAccessFile(big, "rw")
    raf.setLength(467L << 20) // the sf30 events size
    raf.close()
    assert(stateWidthFor(spark, big) === 15)
    // unreadable path → floor, never a throw — and LOUDLY (r16 ADVICE):
    // a silently railed-to-floor width at 1000x reproduces the exact
    // state blowup the derivation prevents, so the fallback must leave
    // a diagnostic in the bench/verify logs
    val realErr = System.err
    val captured = new java.io.ByteArrayOutputStream()
    try {
      System.setErr(new java.io.PrintStream(captured, true, "UTF-8"))
      assert(stateWidthFor(spark, "/no/such/file") === 8)
    } finally System.setErr(realErr)
    val diag = captured.toString("UTF-8")
    assert(diag.contains("stateWidthFor") && diag.contains("/no/such/file")
      && diag.contains("floor"), s"missing fallback diagnostic: '$diag'")
  }

  test("runStream starts the stream at stateWidthFor(widthFrom) and " +
    "restores the session width") {
    import graft.queries.StreamingQueries.{runStream, stateWidthFor}
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    val dir = java.nio.file.Files.createTempDirectory("runstream").toString
    spark.range(100).selectExpr("id % 5 AS k").write.parquet(s"$dir/src")
    val width = stateWidthFor(spark, s"$dir/src")
    assert(width.toString != before) // the scope must be observable
    var rows = 0L
    val q = runStream(
      spark.readStream.schema("k LONG").parquet(s"$dir/src").groupBy("k").count(),
      "complete", Some(s"$dir/src"), s"$dir/ck") { (batch, _) =>
      rows = batch.count()
    }
    assert(rows === 5L)
    assert(q.lastProgress.stateOperators.map(_.numShufflePartitions).toSeq ===
      Seq(width.toLong))
    assert(spark.conf.get(key) === before)
  }
}
