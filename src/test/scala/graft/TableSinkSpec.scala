package graft

import graft.sources.TableSink

class TableSinkSpec extends SparkSpec {
  import spark.implicits._

  test("writeTable overwrites and is re-readable via the catalog") {
    val df1 = Seq((1, "a")).toDF("id", "v")
    assert(TableSink.writeTable(df1, "tsink_t1"))
    val df2 = Seq((2, "b"), (3, "c")).toDF("id", "v")
    assert(TableSink.writeTable(df2, "tsink_t1"))
    assert(spark.table("tsink_t1").count() == 2)
  }

  test("writeTable overwrite evolves the schema, incl. names with / and %") {
    // the semantics overwriteSchema exists for (ref utils.py:139): a
    // re-write with added/renamed columns — survey headers contain / ? % #
    // — must succeed and the catalog must serve the NEW schema, not fail
    // or silently keep the old one
    val v1 = Seq((1, "a")).toDF("id", "v")
    assert(TableSink.writeTable(v1, "tsink_evo"))
    val v2 = Seq((2, 0.5, "x"), (3, 0.7, "y"))
      .toDF("id", "Share %", "Race/Ethnicity")
    assert(TableSink.writeTable(v2, "tsink_evo"))
    val back = spark.table("tsink_evo")
    assert(back.columns.toSeq == Seq("id", "Share %", "Race/Ethnicity"))
    assert(back.count() == 2)
  }

  test("writeTable swallows failures and reports false") {
    val df = Seq((1, "a")).toDF("id", "v")
    assert(!TableSink.writeTable(df, "not a legal.table.name!"))
  }

  test("dropPurge recovers the LOCATION_ALREADY_EXISTS stale-directory failure") {
    // simulate a PREVIOUS session's leftover: a warehouse dir the current
    // catalog doesn't know about
    val wh = new java.io.File(new java.net.URI(
      spark.conf.get("spark.sql.warehouse.dir")).getPath, "tsink_stale")
    wh.mkdirs()
    val junk = new java.io.File(wh, "part-junk.parquet")
    java.nio.file.Files.write(junk.toPath, Array[Byte](1, 2, 3))
    val df = Seq((1, "a")).toDF("id", "v")
    // the bare write hits LOCATION_ALREADY_EXISTS and is swallowed
    assert(!TableSink.writeTable(df, "tsink_stale"),
      "expected the stale-location write to fail-and-swallow")
    // the documented recovery: purge, then write
    TableSink.dropPurge(spark, "tsink_stale")
    assert(!wh.exists, "dropPurge left the stale directory behind")
    assert(TableSink.writeTable(df, "tsink_stale"))
    assert(spark.table("tsink_stale").count() == 1)
  }

  test("column-name escape is injective and restores verbatim, incl. _u literals") {
    // the `_` always-escapes rule is what makes this injective: an
    // original name containing the literal marker `_u0025` must NOT
    // decode to `%` after a round trip
    val names = Seq("Race/Ethnicity", "Survey Completed?",
      "% of Survey Responses", "# of Survey Responses", "% Difference",
      "plain_snake_case", "literal_u0025marker", "ünïcode name")
    for (n <- names) {
      val esc = TableSink.escapeColName(n)
      assert(esc.matches("[A-Za-z0-9_]*"), s"escape of '$n' not storage-safe: $esc")
      assert(TableSink.restoreColName(esc) == n, s"round trip broke for '$n'")
    }
    assert(names.map(TableSink.escapeColName).distinct.size == names.size)
  }

  test("writeTableEscaped / readTableRestored round-trips special-char columns") {
    val df = Seq((1, "a", 0.25), (2, "b", 0.5))
      .toDF("Nation Key", "Race/Ethnicity", "% of Survey Responses")
    assert(TableSink.writeTableEscaped(df, "tsink_escaped"))
    // on disk: storage-safe names only
    assert(spark.table("tsink_escaped").columns.forall(_.matches("[A-Za-z0-9_]*")))
    val back = TableSink.readTableRestored(spark, "tsink_escaped")
    assert(back.columns.toSeq ==
      Seq("Nation Key", "Race/Ethnicity", "% of Survey Responses"))
    assert(back.count() == 2)
  }

  test("overwriteViaSwap keeps the new version plus keepVersions-1 old ones") {
    val base = java.nio.file.Files.createTempDirectory("tsink_swap").toString
    def write(n: Int) = TableSink.overwriteViaSwap(
      Seq((n, s"v$n")).toDF("id", "v"), "tsink_swap_t", base, keepVersions = 2)
    assert(write(1) == 1L)
    assert(write(2) == 2L)
    assert(write(3) == 3L)
    val dirs = new java.io.File(base, "tsink_swap_t").listFiles
      .filter(_.isDirectory).map(_.getName).sorted.toSeq
    // the immediately-previous version (v2) MUST survive: a reader that
    // resolved the view just before the swap may still be mid-scan in it
    assert(dirs == Seq("v2", "v3"), s"retention broke: $dirs")
    assert(spark.table("tsink_swap_t").collect().map(_.getInt(0)).toSeq == Seq(3))
  }

  test("two interleaved writers never share a version; view lands on the " +
    "highest committed one (optimistic concurrency)") {
    val base = java.nio.file.Files.createTempDirectory("tsink_occ").toString
    val rounds = 3
    val got = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (1 to 2).map { w =>
      new Thread(() =>
        try (1 to rounds).foreach { r =>
          got.add(TableSink.overwriteViaSwap(
            Seq((w, r)).toDF("writer", "round"), "tsink_occ_t", base,
            keepVersions = 100))
        } catch { case t: Throwable => errs.add(t) })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.isEmpty, s"writer failed: ${errs.peek()}")
    val versions = {
      import scala.jdk.CollectionConverters._
      got.asScala.toSeq
    }
    // the CAS claim: 6 writes, 6 DISTINCT versions — no lost write
    assert(versions.size == 2 * rounds && versions.distinct.size == versions.size,
      s"version collision: $versions")
    // every committed version directory is a complete, readable table
    val dir = new java.io.File(base, "tsink_occ_t")
    val committed = TableSink.committedVersions(dir)
    assert(committed.toSet == versions.toSet, s"commit markers: $committed")
    // the helping swap: the view reads the HIGHEST committed version
    val expect = spark.read
      .parquet(new java.io.File(dir, s"v${committed.max}").toString)
      .collect().toSeq
    assert(spark.table("tsink_occ_t").collect().toSeq == expect)
  }

  test("ClaimStore.local: exactly one winner among racing claimants") {
    val dir = java.nio.file.Files.createTempDirectory("tsink_claim").toFile
    val wins = new java.util.concurrent.atomic.AtomicInteger(0)
    val gate = new java.util.concurrent.CountDownLatch(1)
    val threads = (1 to 8).map { _ =>
      new Thread(() => {
        gate.await()
        if (TableSink.ClaimStore.local.tryClaim(dir, ".claim-v1"))
          wins.incrementAndGet()
        ()
      })
    }
    threads.foreach(_.start()); gate.countDown(); threads.foreach(_.join())
    assert(wins.get() == 1, s"${wins.get()} claimants won the same marker")
  }

  test("racing writers through a conditional-put adapter (the object-store " +
    "path) never share a version") {
    // an S3-style adapter: claims live in a shared KV store where
    // putIfAbsent IS the conditional put — no filesystem atomicity used
    val kv = new java.util.concurrent.ConcurrentHashMap[String, Boolean]()
    val store: TableSink.ClaimStore = (dir: java.io.File, name: String) =>
      kv.putIfAbsent(s"${dir.getName}/$name", true) == null
    val base = java.nio.file.Files.createTempDirectory("tsink_s3").toString
    val got = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (1 to 2).map { w =>
      new Thread(() =>
        try (1 to 2).foreach { r =>
          got.add(TableSink.overwriteViaSwap(
            Seq((w, r)).toDF("writer", "round"), "tsink_s3_t", base,
            keepVersions = 100, claims = store))
        } catch { case t: Throwable => errs.add(t) })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.isEmpty, s"writer failed: ${errs.peek()}")
    val versions = { import scala.jdk.CollectionConverters._; got.asScala.toSeq }
    assert(versions.size == 4 && versions.distinct.size == 4,
      s"version collision through the adapter: $versions")
    // every claim went through the adapter, and no local .claim files exist
    assert(kv.size >= 4)
    val dir = new java.io.File(base, "tsink_s3_t")
    assert(!Option(dir.listFiles).iterator.flatten
      .exists(_.getName.startsWith(".claim-")),
      "adapter path must not fall back to local claim files")
    assert(spark.table("tsink_s3_t").count() == 1)
  }

  test("racing writers through an ACTUAL HTTP If-None-Match conditional " +
    "put (S3-stub server) never share a version") {
    // A real local HTTP server speaking the object-store claim protocol:
    // PUT with If-None-Match: * succeeds (200) for exactly the first
    // caller of each key — putIfAbsent on the server side IS the
    // store's atomicity — and returns 412 Precondition Failed to every
    // loser, like S3/MinIO/ABFS. The adapter under test is the shipped
    // ClaimStore.httpConditionalPut: claims travel over the wire, not
    // through the local filesystem.
    val claimed = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val misuse = new java.util.concurrent.atomic.AtomicInteger(0)
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", (ex: com.sun.net.httpserver.HttpExchange) => {
      val conditional =
        "*" == ex.getRequestHeaders.getFirst("If-None-Match")
      if (ex.getRequestMethod != "PUT" || !conditional) {
        misuse.incrementAndGet()
        ex.sendResponseHeaders(400, -1)
      } else if (claimed.add(ex.getRequestURI.toString))
        ex.sendResponseHeaders(200, -1)
      else ex.sendResponseHeaders(412, -1)
      ex.close()
    })
    server.start()
    try {
      val store = TableSink.ClaimStore.httpConditionalPut(java.net.URI.create(
        s"http://127.0.0.1:${server.getAddress.getPort}/claims"))
      val base = java.nio.file.Files.createTempDirectory("tsink_http").toString
      val got = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val threads = (1 to 2).map { w =>
        new Thread(() =>
          try (1 to 2).foreach { r =>
            got.add(TableSink.overwriteViaSwap(
              Seq((w, r)).toDF("writer", "round"), "tsink_http_t", base,
              keepVersions = 100, claims = store))
          } catch { case t: Throwable => errs.add(t) })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      assert(errs.isEmpty, s"writer failed: ${errs.peek()}")
      val versions = {
        import scala.jdk.CollectionConverters._; got.asScala.toSeq
      }
      assert(versions.size == 4 && versions.distinct.size == 4,
        s"version collision through the HTTP adapter: $versions")
      assert(misuse.get() == 0, "adapter sent a non-conditional request")
      // every claim was made over the wire (4 wins + any lost retries)
      assert(claimed.size >= 4)
      // …and none fell back to local claim markers
      val dir = new java.io.File(base, "tsink_http_t")
      assert(!Option(dir.listFiles).iterator.flatten
        .exists(_.getName.startsWith(".claim-")),
        "HTTP adapter path must not create local claim files")
      assert(spark.table("tsink_http_t").count() == 1)
    } finally server.stop(0)
  }

  test("httpConditionalPut refuses to guess on a non-412 failure") {
    // a flaky store (500) must FAIL the writer, not count as 'lost the
    // race' — misclassifying it would hand two writers the same version
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", (ex: com.sun.net.httpserver.HttpExchange) => {
      ex.sendResponseHeaders(500, -1); ex.close()
    })
    server.start()
    try {
      val store = TableSink.ClaimStore.httpConditionalPut(java.net.URI.create(
        s"http://127.0.0.1:${server.getAddress.getPort}/claims"))
      val dir = java.nio.file.Files.createTempDirectory("tsink_http5").toFile
      intercept[IllegalStateException] { store.tryClaim(dir, ".claim-v1") }
    } finally server.stop(0)
  }

  test("a claimed-but-crashed writer's husk is skipped by claim, commit " +
    "list, and swap") {
    val base = java.nio.file.Files.createTempDirectory("tsink_husk").toString
    def write(n: Int) = TableSink.overwriteViaSwap(
      Seq((n, s"v$n")).toDF("id", "v"), "tsink_husk_t", base)
    assert(write(1) == 1L)
    // a writer that claimed v2 and died: directory exists, no _SUCCESS
    val dir = new java.io.File(base, "tsink_husk_t")
    assert(new java.io.File(dir, "v2").mkdir())
    assert(TableSink.committedVersions(dir) == Seq(1L))
    // the next writer must claim PAST the husk, not into it…
    assert(write(3) == 3L)
    // …and the view must point at the new commit, never the husk
    assert(spark.table("tsink_husk_t").collect().map(_.getInt(0)).toSeq
      == Seq(3))
    assert(TableSink.committedVersions(dir) == Seq(1L, 3L))
  }

  test("swap retry is exact-condition, not substring: a REAL table " +
    "squatting on the view name rethrows immediately (r15 ADVICE)") {
    // the permanent conflict the ADVICE named: CREATE OR REPLACE VIEW
    // over an existing TABLE throws EXPECT_VIEW_NOT_TABLE.* (captured
    // empirically) — a condition OUTSIDE the transient race set, so the
    // swap must rethrow on FIRST sight, not busy-retry 10 times
    // try/finally + IF EXISTS hygiene (r16 ADVICE): the squat table is
    // permanent catalog state in the SHARED test session — leaking it
    // pollutes other suites and fails this test's own re-run on the
    // CREATE itself
    spark.sql("DROP TABLE IF EXISTS tsink_squat")
    spark.sql("CREATE TABLE tsink_squat (id INT) USING parquet")
    val base = java.nio.file.Files.createTempDirectory("tsink_squat").toString
    try {
      val t0 = System.nanoTime()
      val e = intercept[org.apache.spark.sql.AnalysisException] {
        TableSink.overwriteViaSwap(
          Seq((1, "a")).toDF("id", "v"), "tsink_squat", base)
      }
      val elapsedMs = (System.nanoTime() - t0) / 1000000L
      assert(e.getCondition.startsWith("EXPECT_VIEW_NOT_TABLE"),
        s"unexpected condition: ${e.getCondition}")
      // retry-free: 10 backoff rounds would sleep ≥ ~1 s on their own;
      // a first-sight rethrow (one write + one failed statement) stays
      // well under the backoff budget. Generous bound to avoid host noise.
      assert(elapsedMs < 30000, s"squat conflict took ${elapsedMs}ms")
      // and the transient set is pinned verbatim to the two conditions the
      // 16-thread race probe produced — no substring matching
      assert(TableSink.TransientSwapConditions ===
        Set("TABLE_OR_VIEW_ALREADY_EXISTS", "TABLE_OR_VIEW_NOT_FOUND"))
    } finally {
      spark.sql("DROP TABLE IF EXISTS tsink_squat")
      def rec(f: java.io.File): Unit = {
        Option(f.listFiles).iterator.flatten.foreach(rec)
        f.delete(); ()
      }
      rec(new java.io.File(base))
    }
  }

  test("s11_dynamic_overwrite overwrites dynamically without touching " +
    "the session's partitionOverwriteMode") {
    val sf = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$sf/orders.parquet").exists())
    val key = "spark.sql.sources.partitionOverwriteMode"
    val before = spark.conf.getOption(key)
    val got = SparkEntry.queries("s11_dynamic_overwrite")(spark, sf).collect()
    assert(spark.conf.getOption(key) === before)
    // a session explicitly in STATIC mode still gets the dynamic replace
    spark.conf.set(key, "static")
    try {
      val underStatic = SparkEntry.queries("s11_dynamic_overwrite")(spark, sf)
      assert(underStatic.collect().toSeq === got.toSeq)
      assert(spark.conf.get(key) === "static")
    } finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    // the oracle SQL is plain enough to run on Spark itself
    spark.read.parquet(s"$sf/orders.parquet").createOrReplaceTempView("orders")
    try {
      val want = spark.sql(SparkEntry.oracleSql("s11_dynamic_overwrite")).collect()
      assert(got.toSeq === want.toSeq)
    } finally spark.catalog.dropTempView("orders")
  }
}
