package graft

import graft.operators.Parallelism

/** The data-volume-derived shuffle-width helper (SCALE.md, rounds 12-13):
  * the iterative/join operators size their own exchanges from bytes or
  * materialized rows instead of the session-wide knob. The invariants
  * pinned here are the ones the 300x ladder triage relied on. */
class ParallelismSpec extends SparkSpec {

  test("forRows floors at the session core count for small inputs") {
    // locally at sf0.1 every derivation must land exactly on
    // defaultParallelism -- same plans as before the helper existed
    assert(Parallelism.forRows(spark, 0L) === Parallelism.cores(spark))
    assert(Parallelism.forRows(spark, 1000L) === Parallelism.cores(spark))
  }

  test("forRows tracks bytes once rows outgrow one partition per core") {
    // 10^9 rows x 64 B = 64 GB -> ceil(64 GB / 32 MB) partitions
    val bytes = 1000000000L * 64L
    val expected = ((bytes + Parallelism.TargetPartitionBytes - 1) /
      Parallelism.TargetPartitionBytes).toInt
    assert(expected > Parallelism.cores(spark))
    assert(Parallelism.forRows(spark, 1000000000L) === expected)
  }

  test("derived counts never exceed the runaway-estimate cap") {
    assert(Parallelism.forRows(spark, Long.MaxValue / 128) === Parallelism.Cap)
  }

  test("forInputBytes sums a parquet directory and floors at cores") {
    val dir = java.nio.file.Files.createTempDirectory("par").toString
    spark.range(100).toDF("id").write.mode("overwrite")
      .parquet(s"$dir/t.parquet")
    // a tiny table floors at cores...
    assert(Parallelism.forInputBytes(spark, Seq(s"$dir/t.parquet")) ===
      Parallelism.cores(spark))
    // ...and a 64 B target makes the same real bytes dominate the floor
    val fine = Parallelism.forInputBytes(
      spark, Seq(s"$dir/t.parquet"), targetBytes = 64L)
    assert(fine > Parallelism.cores(spark) && fine <= Parallelism.Cap)
  }

  test("forPlanBytes floors at cores for small scans and tracks the " +
    "plan-stats bytes above the floor") {
    import spark.implicits._
    val tiny = Seq((1L, 2L), (3L, 4L)).toDF("a", "b")
    assert(Parallelism.forPlanBytes(tiny) === Parallelism.cores(spark))
    // same frame, a 1-byte target: the LocalRelation's honest row-width
    // stats dominate the floor (2 rows x 16 B payload > 16 one-byte
    // partitions only if stats count row overhead -- assert > cores
    // with a target small enough that any sane estimate clears it)
    val fine = Parallelism.forPlanBytes(tiny, targetBytes = 1L)
    assert(fine > Parallelism.cores(spark) && fine <= Parallelism.Cap)
  }

  test("forInputBytes treats unreadable paths as empty, not fatal") {
    // ...but not silently: the fallback leaves a diagnostic in the logs
    val realErr = System.err
    val captured = new java.io.ByteArrayOutputStream()
    try {
      System.setErr(new java.io.PrintStream(captured, true, "UTF-8"))
      assert(Parallelism.forInputBytes(spark, Seq("/no/such/path.parquet")) ===
        Parallelism.cores(spark))
    } finally System.setErr(realErr)
    val diag = captured.toString("UTF-8")
    assert(diag.contains("forInputBytes") &&
      diag.contains("/no/such/path.parquet"), s"missing diagnostic: '$diag'")
  }

  test("an_triangles' triangle table is registered scratch: " +
    "releaseScratch restores the cached-RDD set") {
    val sf = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$sf/lineitem.parquet").exists())
    val before = spark.sparkContext.getPersistentRDDs.keySet
    SparkEntry.queries("an_triangles")(spark, sf).collect()
    graft.operators.Dedup.releaseScratch(spark)
    assert(spark.sparkContext.getPersistentRDDs.keySet === before)
  }

  test("withShufflePartitions scopes the conf and restores on exit") {
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    val inside = Parallelism.withShufflePartitions(spark, 7) {
      spark.conf.get(key)
    }
    assert(inside === "7")
    assert(spark.conf.get(key) === before)
  }

  test("a stateful stream started inside withShufflePartitions bakes that " +
    "width into its state stores, and the session width is restored") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.streaming.Trigger
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    val dir = java.nio.file.Files.createTempDirectory("par-stream").toString
    spark.range(100).selectExpr("id % 5 AS k").write.parquet(s"$dir/src")
    val q = Parallelism.withShufflePartitions(spark, 3) {
      val q = spark.readStream.schema("k LONG").parquet(s"$dir/src")
        .groupBy("k").count()
        .writeStream
        .outputMode("complete")
        .option("checkpointLocation", s"$dir/ck")
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, _: Long) => batch.collect(); () }
        .start()
      q.awaitTermination()
      q
    }
    assert(q.lastProgress.stateOperators.map(_.numShufflePartitions).toSeq ===
      Seq(3L))
    assert(spark.conf.get(key) === before)
  }

  test("planBytesPlausible accepts scan-shaped frames and flags a frame " +
    "with a join above the scan (r15 ADVICE: forPlanBytes misuse signal)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("plausible").toString
    (1 to 2000).map(i => (i.toLong, s"name_$i", i % 7))
      .toDF("id", "name", "grp").write.mode("overwrite").parquet(dir)
    val scan = spark.read.parquet(dir)
    // Project/Filter lineage: estimate ≤ leaf bytes → plausible
    assert(Parallelism.planBytesPlausible(scan))
    assert(Parallelism.planBytesPlausible(
      scan.select("id", "grp").filter($"grp" === 1)))
    // a self-join's stats are a row-count PRODUCT — the exact shape the
    // forPlanBytes scaladoc forbids; the guard must see it
    val joined = scan.join(scan.withColumnRenamed("id", "id2"), "grp")
    assert(!Parallelism.planBytesPlausible(joined),
      "join-inflated stats should be flagged implausible")
    // and the derivation itself still rails safely (clamped to Cap)
    val n = Parallelism.forPlanBytes(joined)
    assert(n <= Parallelism.Cap)
  }

  test("withShufflePartitions restores the conf when the body throws") {
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    intercept[RuntimeException] {
      Parallelism.withShufflePartitions(spark, 9)(
        throw new RuntimeException("boom"))
    }
    assert(spark.conf.get(key) === before)
  }
}
