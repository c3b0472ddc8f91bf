package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.queries.Analytics

/** Pins the execution contract of [[Analytics.basketPairs]] (r16 verdict
  * hardening item): the eager variant persists its output, registers it
  * as operator scratch, and — because the persist keeps live lineage — a
  * consumer that reads the frame AFTER a scratch release silently
  * recomputes the same values (correct, just at session width). The lazy
  * [[Analytics.basketPairsPlan]] is the plan-only escape hatch: identical
  * results, no persist, no scratch registration, nothing executed at
  * call time. A change that breaks any leg of this contract (drops the
  * eager persist, starts registering the lazy plan, makes post-release
  * reads diverge) fails here instead of surprising the first
  * out-of-harness caller.
  */
class BasketPairsContractSpec extends SparkSpec {

  private def rawLines: DataFrame = {
    import spark.implicits._
    // 4 orders over 5 parts; pairs (1,2) and (2,3) reach support 2
    Seq(
      (10L, 1L), (10L, 2L), (10L, 3L),
      (11L, 1L), (11L, 2L),
      (12L, 2L), (12L, 3L),
      (13L, 4L), (13L, 5L)
    ).toDF("l_orderkey", "l_partkey")
  }

  private def rows(df: DataFrame): Seq[(Long, Long, Long)] =
    df.orderBy("part_a", "part_b")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq

  test("eager basketPairs persists its output and registers it as " +
    "scratch: releaseScratch drops the blocks") {
    graft.operators.Dedup.releaseScratch(spark) // clean slate
    val pairs = Analytics.basketPairs(rawLines)
    assert(pairs.storageLevel != StorageLevel.NONE,
      "eager basketPairs output must be persisted at call time")
    val expected = Seq((1L, 2L, 2L), (2L, 3L, 2L))
    assert(rows(pairs) === expected)
    graft.operators.Dedup.releaseScratch(spark)
    assert(pairs.storageLevel == StorageLevel.NONE,
      "releaseScratch must drop the eager output's blocks")
    // post-release read: plain persist keeps live lineage, so the frame
    // silently RECOMPUTES to the same values — the documented semantic
    // (correct, just at session width); a hard failure here would mean
    // someone swapped the persist for a truncated-lineage checkpoint
    assert(rows(pairs) === expected,
      "post-release read must recompute identical values")
  }

  test("basketPairsPlan is plan-only: identical results, never persisted, " +
    "never registered") {
    graft.operators.Dedup.releaseScratch(spark)
    val lazyPairs = Analytics.basketPairsPlan(rawLines)
    assert(lazyPairs.storageLevel == StorageLevel.NONE,
      "lazy variant must not persist at call time")
    assert(rows(lazyPairs) === Seq((1L, 2L, 2L), (2L, 3L, 2L)))
    assert(lazyPairs.storageLevel == StorageLevel.NONE,
      "lazy variant must not persist on execution either")
    // and it put nothing in the scratch registry: a release is a no-op
    // for it (nothing to drop — asserted via the session's RDD registry)
    val cachedBefore = spark.sparkContext.getPersistentRDDs.size
    graft.operators.Dedup.releaseScratch(spark)
    assert(spark.sparkContext.getPersistentRDDs.size == cachedBefore,
      "lazy variant must register no scratch blocks")
  }

  test("eager and lazy variants agree on the mega-basket guard and the " +
    "support filter") {
    // basket 13 has 4 distinct frequent parts with maxBasket = 3 → the
    // guard excludes it in BOTH variants
    import spark.implicits._
    val withMega = rawLines.union(Seq(
      (14L, 6L), (14L, 7L), (14L, 8L), (14L, 9L),
      (15L, 6L), (15L, 7L), (15L, 8L), (15L, 9L)
    ).toDF("l_orderkey", "l_partkey"))
    val eager = Analytics.basketPairs(withMega, support = 2, maxBasket = 3)
    val plan = Analytics.basketPairsPlan(withMega, support = 2, maxBasket = 3)
    assert(rows(eager) === rows(plan))
    assert(!rows(plan).exists(t => t._1 >= 6L),
      "mega-basket parts must be excluded by the guard")
    graft.operators.Dedup.releaseScratch(spark)
  }

  test("a width scope applies to a lazy plan checkpointed inside it — " +
    "the an_pagerank consumer contract") {
    // an_pagerank executes basketPairsPlan in pageRankScaled's edge
    // preparation (the Iterate driver's edge checkpoint), which runs
    // BEFORE the loop's width scope; the call site therefore wraps the whole call in the
    // pair-derived width. This pins the mechanism that wrapper relies
    // on: shuffle width is read at execution time, so a localCheckpoint
    // triggered inside withShufflePartitions materializes at the scoped
    // width, not the width at plan-construction time (the r17 sf30
    // subset battery caught the unwrapped form running the pair
    // aggregate at session width: 64.8 -> 87.7 s).
    import graft.operators.{Checkpointer, Parallelism}
    // AQE would re-coalesce this byte-tiny shuffle to 1 partition and
    // mask the width under test (at scale it only coalesces partitions
    // BELOW the advisory byte target — the protection still composes);
    // pin the pre-AQE mechanism with it off.
    val aqeKey = "spark.sql.adaptive.enabled"
    val aqePrev = spark.conf.get(aqeKey)
    try {
      spark.conf.set(aqeKey, "false")
      val plan = Analytics.basketPairsPlan(rawLines) // built OUTSIDE the scope
        .groupBy("part_a").count() // extra exchange: last stage is a shuffle
      val scoped = 7
      val cp = Parallelism.withShufflePartitions(spark, scoped) {
        Checkpointer.truncate(plan)
      }
      assert(cp.rdd.getNumPartitions == scoped,
        s"checkpointed-in-scope plan must carry the scoped width $scoped, " +
          s"got ${cp.rdd.getNumPartitions}")
      // fresh DataFrame for the control: QueryExecution memoizes toRdd,
      // so re-truncating the SAME object would reuse the scoped physical
      // plan and prove nothing
      val planAgain = Analytics.basketPairsPlan(rawLines)
        .groupBy("part_a").count()
      val cpDefault = Checkpointer.truncate(planAgain)
      assert(cpDefault.rdd.getNumPartitions != scoped,
        "outside the scope the same plan must fall back to the session width")
    } finally spark.conf.set(aqeKey, aqePrev)
  }
}
