package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.Artifacts
import graft.operators.Parallelism
import org.apache.spark.sql.types.StructType
import graft.streaming.EventStream

/** Streaming operators on the CORRECTNESS path (§2.9 extension): the
  * events table replayed through `readStream` + `Trigger.AvailableNow`,
  * sunk to parquet via `foreachBatch`, read back, and hash-compared
  * against a plain batch-SQL oracle — the same windowed aggregation the
  * batch path runs, so stream/batch equivalence is checked by the DuckDB
  * gate rather than only by the unit spec.
  */
object StreamingQueries {

  /** [[Artifacts.runDir]] `name`, emptied: every invocation reprocesses
    * its input from a fresh drop directory, checkpoint and sink. */
  private def freshDir(s: SparkSession, name: String): String = {
    val dir = Artifacts.runDir(s, name)
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles).iterator.flatten.foreach(rm)
      f.delete(); ()
    }
    rm(new java.io.File(dir))
    dir
  }

  /** Stage a parquet fixture into a file-stream drop directory. The
    * driver's testdata fixtures are single parquet FILES, but
    * regenerated/scaled fixtures (anything Spark wrote, e.g.
    * `graft.ScaleUp`'s sf1) are parquet DIRECTORIES of part files —
    * and `Files.copy` on a directory copies only the empty directory
    * entry, which silently yields a ZERO-BATCH stream (the query
    * "succeeds" over no data; r11 found all file-source st_* queries
    * dead at sf1 this way). A file is copied as `<name>.parquet`; a
    * directory's part files land as `<name>_partN.parquet`.
    *
    * Also stages the deterministic stream inputs — the sentinel row, CDC
    * change sets, re-delivery halves. These are pure functions of the
    * fixture (an ingest INPUT a real pipeline receives, not computes),
    * so they are synthesized once per fixture content
    * ([[Artifacts.fixtureDir]], as the mm assets are) and copied into
    * each run's drop directory: fixture synthesis is not the operator
    * under test, and the streamed computation stays fully measured. */
  private def stageFixture(path: String, destDir: String, name: String): Unit = {
    val src = new java.io.File(path)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(destDir))
    val staged: Seq[(java.io.File, String)] =
      if (src.isDirectory)
        src.listFiles.toSeq
          .filter(f => f.isFile && f.getName.startsWith("part-"))
          .sortBy(_.getName)
          .zipWithIndex.map { case (f, i) => f -> s"${name}_part$i.parquet" }
      else Seq(src -> s"$name.parquet")
    require(staged.nonEmpty, s"no parquet files to stage under $path")
    staged.foreach { case (f, n) =>
      java.nio.file.Files.copy(f.toPath,
        java.nio.file.Paths.get(destDir, n),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
  }

  /** Stream-state width from the on-disk bytes under `path`:
    * ceil(bytes / [[Parallelism.TargetPartitionBytes]]), floored at the
    * fixture-scale 8. Every state partition carries a state store with
    * real per-micro-batch overhead (provider init, snapshot, commit), so
    * the count is sized to the stream's input, not inherited from the
    * batch default — 32 stores for a fixture-sized stream is pure fixed
    * cost. The r16 SessionProbe term-split measured the st_sessions
    * growth term to be the STREAM phase under the fixed 8-partition
    * state shuffle (sf30: t_stream 50.9 s at width 8 vs 24.8 s at the
    * derived 15; staging/sentinel/read-back all ≤ 5 s) — the basketPairs
    * lesson applied to streaming state: a stateful shuffle whose width
    * ignores input volume accumulates per-task state linearly until
    * spill. The floor keeps fixture-scale runs on the historical 8
    * stores; the width only rises when the data outgrows them, which is
    * the cluster regime. An unreadable path lands on the floor, with a
    * stderr diagnostic ([[Parallelism.inputBytes]]). */
  private[graft] def stateWidthFor(s: SparkSession, path: String): Int = {
    val bytes = Parallelism.inputBytes(
      s, path, "stateWidthFor", "floor state width 8")
    val target = Parallelism.TargetPartitionBytes
    math.max(8L, (bytes + target - 1) / target).toInt
  }

  /** The one stream lifecycle of the st_* queries: start `stream` in
    * output `mode` on checkpoint `ckDir` with `Trigger.AvailableNow`,
    * hand every micro-batch to `sink`, and block until the input is
    * drained. A stateful query fixes its state-store partition count
    * from `spark.sql.shuffle.partitions` at FIRST start (it is baked into
    * the checkpoint), so a stream with a `widthFrom` path starts inside a
    * [[stateWidthFor]] scope; a stateless one (`None`) starts at the
    * session width. Calling this twice on one `ckDir` resumes the first
    * lifetime's offsets and state. Returns the finished query. */
  private[graft] def runStream(stream: DataFrame, mode: String,
      widthFrom: Option[String], ckDir: String)(
      sink: (DataFrame, Long) => Unit): StreamingQuery = {
    val s = stream.sparkSession
    def start(): StreamingQuery = {
      val q = stream.writeStream
        .outputMode(mode)
        .option("checkpointLocation", ckDir)
        .trigger(Trigger.AvailableNow())
        .foreachBatch(sink)
        .start()
      q.awaitTermination()
      q
    }
    widthFrom.fold(start()) { p =>
      Parallelism.withShufflePartitions(s, stateWidthFor(s, p))(start())
    }
  }

  /** A sink writing each epoch to parquet `outDir`: a complete-mode epoch
    * restates the whole result, so it overwrites; append and update
    * epochs add to what is there. */
  private def parquetSink(outDir: String, mode: String): (DataFrame, Long) => Unit =
    (batch, _) =>
      batch.write.mode(if (mode == "complete") "overwrite" else "append")
        .parquet(outDir)

  /** [[runStream]] into the fresh parquet sink `<name>_out` on the fresh
    * checkpoint `<name>_ck`, with the state width sized from
    * `widthFrom`; returns the sink read back. */
  private def streamToParquet(s: SparkSession, stream: DataFrame,
      mode: String, widthFrom: String, name: String): DataFrame = {
    val outDir = freshDir(s, s"${name}_out")
    runStream(stream, mode, Some(widthFrom), freshDir(s, s"${name}_ck"))(
      parquetSink(outDir, mode))
    s.read.parquet(outDir)
  }

  /** The events fixture staged into drop directory `dir`. The file
    * stream source monitors DIRECTORIES, so the fixture lands in one —
    * the "files landing in a drop directory" shape a streaming ingest
    * actually has. */
  private final case class StagedEvents(
      s: SparkSession, path: String, rawSchema: StructType, dir: String) {
    /** A new file-stream source over `dir`, with the same nanos-as-long
      * handling as `Tables.events` (readStream needs the RAW schema up
      * front). */
    def stream: DataFrame =
      Tables.normalizeEventTs(s.readStream.schema(rawSchema).parquet(dir))
  }

  /** The events fixture staged into the fresh drop directory `name`,
    * once per file name in `copies`. */
  private def stagedEvents(s: SparkSession, d: String, name: String,
      copies: String*): StagedEvents = {
    val (path, rawSchema) = Tables.rawEvents(s, d)
    val dir = freshDir(s, name)
    copies.foreach(stageFixture(path, dir, _))
    StagedEvents(s, path, rawSchema, dir)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Windowed event-type counts, executed AS A STREAM: the fixture file
    // arrives through the file source, the watermarked tumbling-window
    // aggregation runs in complete mode (every window in the final
    // epoch's state — append mode would hold back windows the
    // end-of-stream watermark never closes), and the sink is overwritten
    // per epoch so the LAST epoch is what gets read back. Value sums are
    // integer cents end-to-end (see EventStream.windowedTypeCounts):
    // exact regardless of micro-batch slicing or partition merge order,
    // same convention as the batch rollups and the other st_* queries.
    // The state width is sized from the staged drop directory, i.e.
    // exactly the bytes the stream will read.
    "st_window_counts" -> ((s, d) => {
      val ev = stagedEvents(s, d, "win_src", "events")
      streamToParquet(s,
        EventStream.windowedTypeCounts(ev.stream, "10 minutes", "1 hour"),
        "complete", ev.dir, "win")
        .select(
          date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
          col("event_type"), col("n_events"), col("sum_cents"))
        .orderBy("window_start", "event_type")
    }),

    // Watermark-bounded streaming dedup under AT-LEAST-ONCE delivery: the
    // events file lands in the drop directory TWICE (a re-delivered
    // ingest batch), dropDuplicatesWithinWatermark(event_id) collapses
    // the duplicates with state bounded by the watermark horizon, and
    // the read-back aggregates to per-type totals. Whether AvailableNow
    // takes both files in one micro-batch (in-batch dedup) or two (the
    // second copy is all-late and dropped by the advanced watermark),
    // the sink converges to exactly one row per event — which is what
    // the batch oracle asserts. The width is sized from the STAGED
    // directory, so the dedup state's input volume is the doubled bytes.
    "st_dedup" -> ((s, d) => {
      val ev = stagedEvents(s, d, "dedup_src", "events_a", "events_b")
      streamToParquet(s, EventStream.dedupWithinWatermark(ev.stream, "10 minutes"),
        "append", ev.dir, "dedup")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          sum(round(col("value") * 100).cast("long")).as("sum_cents"))
        .orderBy("event_type")
    }),

    // Event-time SESSION windows as a stream, in append mode — the mode a
    // production sessionizer runs in (complete mode would keep every
    // session ever in state). Append only emits sessions the watermark
    // has CLOSED, and an end-of-stream watermark stalls 10 minutes behind
    // the last event — so a far-future sentinel event (user_id -1, +2
    // days) is staged as a second drop-directory file purely to advance
    // the watermark past every real session's end. Every real session
    // then emits, the sentinel's own session stays in state, and the
    // read-back filters the sentinel user. Session bounds compare as
    // epoch-micros integers (formatting to seconds could tie rows).
    "st_sessions" -> ((s, d) => {
      val ev = stagedEvents(s, d, "sess_src", "events")
      val raw = s.read.schema(ev.rawSchema).parquet(ev.path)
      // sentinel ts must match the fixture's physical ts type (long
      // nanos on legacy data, timestamp on current) or the file-source
      // schema check rejects the staged file. The sentinel is a pure
      // function of the fixture, so it is synthesized ONCE per fixture
      // content (Artifacts.fixtureDir) and only copied per run — the
      // max(ts) probe and the 1-row write run outside the measured time.
      val sentDir = Artifacts.fixtureDir(s, d, "sess_sentinel") {
        import org.apache.spark.sql.types.{LongType, TimestampType}
        val sentTs = ev.rawSchema("ts").dataType match {
          case LongType =>
            val maxTs = raw.agg(max("ts")).head.getLong(0)
            lit(maxTs + 172800L * 1000000000L) // +2 days, in nanos
          case tsType =>
            val maxUs = raw
              .agg(max(unix_micros(col("ts").cast(TimestampType))))
              .head.getLong(0)
            timestamp_micros(lit(maxUs + 172800L * 1000000L)).cast(tsType)
        }
        raw.limit(1).select(
          lit(-1L).as("event_id"),
          sentTs.as("ts"), // +2 days past every real session's end
          lit(-1L).as("user_id"), lit("flush").as("event_type"),
          lit(0.0).as("value"), lit("").as("props"))
          .coalesce(1)
      }
      stageFixture(sentDir, ev.dir, "sentinel")
      // width from the fixture: the SessionProbe split pinned the
      // st_sessions 300×→1000× growth to the stream phase at the fixed
      // width — 8 at fixture scale (identical plans), tracks input
      // bytes above it
      streamToParquet(s,
        EventStream.sessionCounts(ev.stream, "30 minutes", "10 minutes"),
        "append", ev.path, "sess")
        .filter(col("user_id") >= 0)
        .select(col("user_id"),
          unix_micros(col("session_start")).as("session_start_us"),
          unix_micros(col("session_end")).as("session_end_us"),
          col("n_events"), col("sum_cents"))
        .orderBy("user_id", "session_start_us")
    }),

    // Watermarked STREAM-STREAM join: purchases matched to the same
    // user's views in the trailing 30 minutes, both sides unbounded
    // streams reading the same drop directory. The time-bound condition
    // plus both-side watermarks is what makes buffered state finite on a
    // real cluster; inner-join matches emit as they are found, so with
    // AvailableNow over the fixture the emitted set IS the batch join —
    // which is exactly the oracle. Both sides' state stores share the
    // same shuffle partitions, but each input event lands in AT MOST one
    // side's buffer (it is a purchase or a view, never both), so the
    // staged directory's bytes bound the total buffered state and size
    // the width directly.
    "st_join" -> ((s, d) => {
      val ev = stagedEvents(s, d, "join_src", "events")
      def side(eventType: String): DataFrame =
        ev.stream.filter(col("event_type") === eventType)
      streamToParquet(s, EventStream.joinWithinWindow(
          side("purchase"), side("view"), "10 minutes", "30 minutes"),
        "append", ev.dir, "join")
        .select(col("user_id"),
          unix_micros(col("p_ts")).as("p_ts_us"), col("p_value"),
          unix_micros(col("v_ts")).as("v_ts_us"), col("v_value"))
        .orderBy("user_id", "p_ts_us", "v_ts_us")
    }),

    // Checkpoint RESUME on the oracle gate: the fixture arrives in TWO
    // separate query lifetimes against ONE checkpoint — run 1 aggregates
    // half the events and terminates (AvailableNow), half two lands in
    // the drop directory, run 2 restarts from the same checkpoint. The
    // source log makes run 2 read ONLY the new file, the restored state
    // store carries run 1's partial aggregates, and the final complete-
    // mode epoch must therefore equal the plain batch aggregate over ALL
    // events: lost state would undercount, reprocessing would double-
    // count, and either fails the hash compare. (EventStreamSpec pins
    // the same property for the append-mode file sink.)
    "st_resume" -> ((s, d) => {
      val (path, rawSchema) = Tables.rawEvents(s, d)
      val srcDir = freshDir(s, "resume_src")
      val outDir = freshDir(s, "resume_out")
      val ckDir = freshDir(s, "resume_ck")
      val raw = s.read.schema(rawSchema).parquet(path)
      // width from the FULL fixture (path, not srcDir): the checkpoint
      // bakes the state partition count at run 1, before half_b lands,
      // so sizing from the drop directory would freeze run 1's half-
      // sized width for the query's whole lifetime
      def run(): Unit = runStream(
        s.readStream.schema(rawSchema)
          .option("recursiveFileLookup", "true").parquet(srcDir)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_events"),
            sum(round(col("value") * 100).cast("long")).as("sum_cents")),
        "complete", Some(path), ckDir)(parquetSink(outDir, "complete"))
      // both halves are pure functions of the fixture — synthesized once
      // per fixture content, copied per run (Artifacts.fixtureDir); the
      // two query LIFETIMES and the checkpoint resume stay fully measured
      val halfA = Artifacts.fixtureDir(s, d, "resume_half_a") {
        raw.filter(col("event_id") % 2 === 0).coalesce(1)
      }
      val halfB = Artifacts.fixtureDir(s, d, "resume_half_b") {
        raw.filter(col("event_id") % 2 === 1).coalesce(1)
      }
      stageFixture(halfA, s"$srcDir/half_a", "half_a")
      run() // first lifetime: half the fixture, then the query STOPS
      stageFixture(halfB, s"$srcDir/half_b", "half_b")
      run() // second lifetime: SAME checkpoint, only half_b is new
      s.read.parquet(outDir)
        .select(col("event_type"), col("n_events"), col("sum_cents"))
        .orderBy("event_type")
    }),

    // CUSTOM per-key state on the oracle gate: runningUserActivity keeps
    // one mapGroupsWithState row per user (count + running max) and
    // emits the updated state every micro-batch. Both fields are
    // MONOTONE, so the sink's per-user maximum is the final state no
    // matter how AvailableNow chopped the file — which is exactly what
    // the batch oracle states (count + max per user). This puts the
    // arbitrary-state API itself, not just built-in window aggs, on the
    // correctness gate. State grows with input key cardinality (the
    // st_sessions shape), so the width is sized from the staged bytes.
    "st_state" -> ((s, d) => {
      import s.implicits._
      val ev = stagedEvents(s, d, "state_src", "events")
      val typed = ev.stream.select(col("user_id"), col("value"))
        .as[(Long, Double)]
      streamToParquet(s, EventStream.runningUserActivity(typed).toDF(),
        "update", ev.dir, "state")
        .groupBy("user_id")
        .agg(max(col("n_events")).as("n_events"),
          round(max(col("max_value")), 2).as("max_value"))
        .orderBy("user_id")
    }),

    // Stream-STATIC enrichment join — the most common production
    // streaming shape: each micro-batch of events joins a broadcast
    // dimension snapshot (no state store for the join: the static side
    // is a plan literal per batch, the stream side never waits), then a
    // running per-nation rollup in complete mode. At 100 TB/day the
    // stream side scales with executors and the dim broadcast is the
    // same bounded artifact every batch job ships. The rollup's state is
    // nation-bounded (25 keys) but the aggregation exchange still carries
    // the full stream, so the width is sized from the staged bytes.
    "st_enrich" -> ((s, d) => {
      val ev = stagedEvents(s, d, "enrich_src", "events")
      val stream = ev.stream
      val dim = broadcast(Tables.customer(s, d)
        .select(col("c_custkey"), col("c_nationkey")))
      // integer-cents discipline (the ts_*/w* precedent): per-row cents
      // then an exact integer sum, so no cross-engine/partition-order
      // float reassociation can drift past a rounding mask at scale
      streamToParquet(s, stream.join(dim, stream("user_id") === dim("c_custkey"))
          .groupBy("c_nationkey")
          .agg(count(lit(1)).as("n_events"),
            sum(round(col("value") * 100).cast("long")).as("sum_cents")),
        "complete", ev.dir, "enrich")
        .select(col("c_nationkey").cast("long").as("nation_key"),
          col("n_events"), col("sum_cents"))
        .orderBy("nation_key")
    }),

    // Streaming CDC apply: a base snapshot plus a change LOG landing as
    // files, folded into a serving table by foreachBatch. The merge is
    // Merge.applyVersioned — per-key highest-version wins, tombstones
    // retained — which is CONFLUENT (commutative/associative/
    // idempotent), so the final table is identical whether AvailableNow
    // takes the change files in one micro-batch or several, in any
    // order. That independence is what puts a STREAMING upsert on the
    // batch-SQL oracle gate: the oracle replays winner-per-key over the
    // full change log. State alternates between batchId-keyed dirs
    // (read-then-overwrite of one dir would race the lazy scan). The
    // stream itself is stateless, so it starts at the session width.
    "st_upsert" -> ((s, d) => {
      val cents = round(col("o_totalprice") * 100).cast("long")
      val o = Tables.orders(s, d).select(
        col("o_orderkey").as("k"), cents.as("price_cents"),
        col("o_orderstatus").as("status"))
      def change(ver: Int, modFilter: Long, delMod: Long, tag: String) =
        o.filter(col("k") % modFilter === 0)
          .select(col("k"),
            (col("price_cents") + ver * 1000).as("price_cents"),
            lit(tag).as("status"), lit(ver).as("version"),
            when(col("k") % delMod === 0, "D").otherwise("U").as("op"))
      val base = o.select(col("k"), col("price_cents"), col("status"),
        lit(0).as("version"), lit("U").as("op"))
        .filter(col("k") % 10 =!= 9)
      val srcDir = freshDir(s, "upsert_src")
      val stateRoot = freshDir(s, "upsert_state")
      // The base snapshot and both change sets are pure functions of the
      // orders fixture — CDC INPUTS a real pipeline receives, not
      // computes. Synthesized once per fixture content
      // (Artifacts.fixtureDir), copied into the drop directory per run;
      // the stream, the per-batch merges, and the read-back stay fully
      // measured. The base dir is read-only state v0 — the merge writes
      // only $stateRoot/v<bid>.
      Seq(change(1, 3L, 30L, "U1"), change(2, 5L, 50L, "U2"))
        .zipWithIndex.foreach { case (c, i) =>
          stageFixture(Artifacts.fixtureDir(s, d, s"upsert_change$i") {
            c.coalesce(1)
          }, srcDir, s"changes_$i")
        }
      var latest = Artifacts.fixtureDir(s, d, "upsert_base")(base)
      val schema = s.read.parquet(latest).schema
      runStream(s.readStream.schema(schema).parquet(srcDir), "append", None,
        s"$stateRoot/ck") { (batch, bid) =>
        val next = s"$stateRoot/v$bid"
        graft.operators.Merge
          .applyVersioned(s.read.parquet(latest), batch,
            "k", "version", "op")
          .write.mode("overwrite").parquet(next)
        latest = next
      }
      s.read.parquet(latest)
        .filter(col("op") =!= "D")
        .select("k", "price_cents", "status", "version")
        .orderBy("k")
    })
  )

  def oracleSql: Map[String, String] = Map(
    // the tumbling 1-hour window is epoch-aligned = date_trunc('hour')
    "st_window_counts" ->
      ("SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start, " +
        "event_type, count(*) AS n_events, " +
        "CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents " +
        "FROM events GROUP BY 1, 2 ORDER BY window_start, event_type"),
    // duplicates collapsed ⇒ the totals equal plain batch totals over the
    // ONE copy of the events table
    "st_dedup" ->
      ("SELECT event_type, count(*) AS n_events, " +
        "CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents " +
        "FROM events GROUP BY 1 ORDER BY event_type"),
    // gaps-and-islands replay of session_window semantics: a session's
    // end is last-event + gap, so a new session breaks when the gap to
    // the previous event is >= 30 minutes ([start, end) window bounds)
    "st_sessions" ->
      ("WITH g AS (SELECT user_id, ts, value, " +
        "CASE WHEN lag(ts) OVER w IS NULL OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE " +
        "THEN 1 ELSE 0 END AS brk FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)), " +
        "sgrp AS (SELECT user_id, ts, value, " +
        "sum(brk) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid FROM g) " +
        "SELECT user_id, epoch_us(min(ts)) AS session_start_us, " +
        "epoch_us(max(ts) + INTERVAL 30 MINUTE) AS session_end_us, " +
        "count(*) AS n_events, " +
        "CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents " +
        "FROM sgrp GROUP BY user_id, sid ORDER BY user_id, session_start_us"),
    // the emitted inner-join matches equal the plain batch join
    "st_join" ->
      ("SELECT p.user_id, epoch_us(p.ts) AS p_ts_us, p.value AS p_value, " +
        "epoch_us(v.ts) AS v_ts_us, v.value AS v_value " +
        "FROM events p JOIN events v ON p.user_id = v.user_id " +
        "AND v.ts >= p.ts - INTERVAL 30 MINUTE AND v.ts <= p.ts " +
        "WHERE p.event_type = 'purchase' AND v.event_type = 'view' " +
        "ORDER BY p.user_id, p_ts_us, v_ts_us"),
    // final custom state per user ≡ the plain batch count + max
    "st_state" ->
      ("SELECT user_id, count(*) AS n_events, " +
        "round(max(value), 2) AS max_value " +
        "FROM events GROUP BY user_id ORDER BY user_id"),
    // two query lifetimes over one checkpoint ≡ one batch aggregate
    "st_resume" ->
      ("SELECT event_type, count(*) AS n_events, " +
        "CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents " +
        "FROM events GROUP BY 1 ORDER BY 1"),
    // stream-static enrichment ≡ the plain batch join + rollup
    "st_enrich" ->
      ("SELECT CAST(c_nationkey AS BIGINT) AS nation_key, " +
        "count(*) AS n_events, " +
        "CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents " +
        "FROM events e JOIN customer c ON e.user_id = c.c_custkey " +
        "GROUP BY 1 ORDER BY 1"),
    // winner-per-key over the full change log = the confluent merge's
    // fixed point, however the stream batched it
    "st_upsert" ->
      ("WITH base AS (SELECT o_orderkey AS k, CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents, " +
        "o_orderstatus AS status, 0 AS version, 'U' AS op FROM orders WHERE o_orderkey % 10 <> 9), " +
        "c1 AS (SELECT o_orderkey AS k, CAST(round(o_totalprice * 100) AS BIGINT) + 1000 AS price_cents, " +
        "'U1' AS status, 1 AS version, CASE WHEN o_orderkey % 30 = 0 THEN 'D' ELSE 'U' END AS op " +
        "FROM orders WHERE o_orderkey % 3 = 0), " +
        "c2 AS (SELECT o_orderkey AS k, CAST(round(o_totalprice * 100) AS BIGINT) + 2000 AS price_cents, " +
        "'U2' AS status, 2 AS version, CASE WHEN o_orderkey % 50 = 0 THEN 'D' ELSE 'U' END AS op " +
        "FROM orders WHERE o_orderkey % 5 = 0), " +
        "log AS (SELECT * FROM base UNION ALL SELECT * FROM c1 UNION ALL SELECT * FROM c2), " +
        "w AS (SELECT *, row_number() OVER (PARTITION BY k ORDER BY version DESC, op DESC) AS rn FROM log) " +
        "SELECT k, price_cents, status, CAST(version AS INTEGER) AS version " +
        "FROM w WHERE rn = 1 AND op <> 'D' ORDER BY k")
  )
}
