package graft

import graft.operators.{Dedup, Packing, Sampling}
import org.apache.spark.sql.functions._

/** Degenerate-input robustness: a 100 TB pipeline WILL meet empty
  * partitions, empty tables (a filter that matched nothing), null text,
  * and whitespace-only docs — operators must pass them through, not
  * throw. */
class EdgeCaseSpec extends SparkSpec {
  import spark.implicits._

  test("dedup, sampling, packing, clustering accept empty inputs") {
    val emptyDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Dedup.minhashNearDupPairs(emptyDocs, "doc_id", "text").count() == 0)
    assert(Dedup.simhashNearDupPairs(emptyDocs, "doc_id", "text").count() == 0)
    assert(Dedup.prefixBlockedJaccardPairs(emptyDocs, "doc_id", "text").count() == 0)
    assert(Dedup.levenshteinNearDupPairs(emptyDocs, "doc_id", "text").count() == 0)
    assert(Sampling.bernoulli(emptyDocs, "doc_id", 0.5).count() == 0)
    val emptyTok = Seq.empty[(Long, String, Int)].toDF("id", "stream", "n")
    assert(Packing.seqPack(emptyTok, "id", "stream", col("n"), 100).count() == 0)
    val emptyPairs = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(Dedup.connectedComponents(emptyPairs, "a", "b").count() == 0)
  }

  test("quality gates on an EMPTY table report 0 violations, never null") {
    val empty = Seq.empty[(Long, String)].toDF("k", "v")
    val out = graft.operators.QualityChecks.ruleViolations(empty, Seq(
      "k_not_null" -> col("k").isNotNull,
      "name's quoted" -> col("v").isNotNull)) // quotes in names are data
      .as[(String, Long)].collect().toMap
    assert(out == Map("k_not_null" -> 0L, "name's quoted" -> 0L))
  }

  test("expectation split partitions the input; null predicates quarantine") {
    import graft.operators.QualityChecks
    val df = Seq(
      (1L, Some("ok long enough"), 10),
      (2L, None, 10),            // null text → text_present fails (unknown ≠ pass)
      (3L, Some("short"), -1),   // n_pos fails
      (4L, None, 0))             // both fail
      .toDF("id", "text", "n")
    val rules = Seq(
      "text_present" -> col("text").isNotNull,
      "n_pos" -> (col("n") > 0))
    val valid = QualityChecks.expectAll(df, rules)
    val quar = QualityChecks.quarantine(df, rules)
    assert(valid.select("id").as[Long].collect().toSet == Set(1L))
    val failed = quar.select(col("id"), concat_ws(",", col("failed_rules")))
      .as[(Long, String)].collect().toMap
    assert(failed == Map(
      2L -> "text_present", 3L -> "n_pos", 4L -> "text_present,n_pos"))
    // the two streams partition the input exactly
    assert(valid.count() + quar.count() == df.count())
  }

  test("intervalJoin: inclusive bounds, multi-bucket spans, empty interval side") {
    import graft.operators.TimeSeries
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val pts = Seq(
      (1L, 7L, ts("2026-01-01 10:00:00")),
      (2L, 7L, ts("2026-01-01 13:30:00")),
      (3L, 8L, ts("2026-01-01 10:00:00"))) // same instant, other key
      .toDF("event_id", "user_id", "ts")
    val ivs = Seq(
      // zero-length interval: [t, t] must match a point exactly at t
      (100L, 7L, ts("2026-01-01 10:00:00"), ts("2026-01-01 10:00:00")),
      // 5-hour span: covers several hour buckets; matches both key-7
      // points exactly once each (a point has ONE bucket — no dup)
      (101L, 7L, ts("2026-01-01 09:00:00"), ts("2026-01-01 14:00:00")))
      .toDF("ival_id", "user_id", "start_ts", "end_ts")
    val out = TimeSeries.intervalJoin(
      pts, ivs, "user_id", "ts", "start_ts", "end_ts")
      .select("ival_id", "event_id").as[(Long, Long)].collect().toList
    assert(out.sorted == List((100L, 1L), (101L, 1L), (101L, 2L)))
    assert(TimeSeries.intervalJoin(
      pts, ivs.limit(0), "user_id", "ts", "start_ts", "end_ts").count() == 0)
    // a sentinel open-ended interval (end = 9999-12-31) would explode a
    // ~70M-bucket array per row — the span guard fails fast instead
    val sentinel = Seq(
      (200L, 7L, ts("2026-01-01 00:00:00"), ts("9999-12-31 00:00:00")))
      .toDF("ival_id", "user_id", "start_ts", "end_ts")
    val err = intercept[Exception] {
      TimeSeries.intervalJoin(
        pts, sentinel, "user_id", "ts", "start_ts", "end_ts").count()
    }
    assert(err.getMessage != null || err.getCause != null)
  }

  test("ivfPqTopK: empty probe set yields an empty frame, not a failure") {
    import graft.operators.Similarity
    val emb = (0L until 8L).map { id =>
      (id, Array.tabulate(8)(i => (id * 8 + i + 1).toFloat))
    }.toDF("vec_id", "embedding")
    val out = Similarity.topK(emb, "vec_id", "embedding", lit(false), 3,
      Similarity.IvfCells(Similarity.coarseCodebookOf(emb, "vec_id", "embedding", 4), 2),
      Similarity.Adc(Similarity.pqCodebookOf(emb, "vec_id", "embedding", 4, 4)))
    assert(out.count() == 0)
  }

  test("ivfPqRefinedTopK: empty probes and refine=1 degenerate cleanly") {
    import graft.operators.Similarity
    val emb = (0L until 8L).map { id =>
      (id, Array.tabulate(8)(i => (id * 8 + i + 1).toFloat))
    }.toDF("vec_id", "embedding")
    val gate = Similarity.IvfCells(
      Similarity.coarseCodebookOf(emb, "vec_id", "embedding", 4), 2)
    val pq = Similarity.pqCodebookOf(emb, "vec_id", "embedding", 4, 4)
    def refined(probes: org.apache.spark.sql.Column, refine: Int) =
      Similarity.topK(emb, "vec_id", "embedding", probes, 3, gate,
        Similarity.AdcRefine(pq, refine))
    assert(refined(lit(false), 3).count() == 0)
    // refine=1: candidate set == final k — still ranks, never throws
    assert(refined(col("vec_id") === 0L, 1).count() <= 3)
    intercept[IllegalArgumentException] { refined(lit(true), 0) }
  }

  test("IVF zero vectors take the kernel's NaN contract (lowest cent_ids), " +
    "not ANSI DIVIDE_BY_ZERO in cell assignment") {
    import graft.operators.Similarity
    // three clusters along dims 0, 2, 4; ids 0-2 seed the codebook (one
    // per cluster, cent_id = id) and id 99 is the zero vector
    val vecs = (0L until 12L).map { id =>
      val c = (id % 3).toInt
      (id, Array.tabulate(8)(i =>
        if (i == 2 * c) 10f + id else if (i == 7) 1f else 0f))
    }
    val emb = (vecs :+ ((99L, Array.fill(8)(0f)))).toDF("vec_id", "embedding")
    // IvfCells: the zero doc lands in cell 0, which no probe visits here
    // (nprobe = 1, probes sit in cells 1 and 2), so results are exactly
    // those of the corpus without it
    def ivf(df: org.apache.spark.sql.DataFrame) =
      Similarity.topK(df, "vec_id", "embedding", col("vec_id").isin(1L, 2L), 3,
        Similarity.IvfCells(Similarity.coarseCodebookOf(df, "vec_id", "embedding", 3), 1))
        .orderBy("probe_id", "rank").collect().toSeq
    val withZero = ivf(emb)
    assert(withZero.nonEmpty)
    assert(withZero == ivf(vecs.toDF("vec_id", "embedding")))
    // IvfCells + Adc: the zero PROBE gets NaN sims for every cell, so it
    // probes the two lowest cent_ids (cells 0 and 1); every ADC score is
    // 0.0 and ties rank id asc
    val pq = Similarity.topK(emb, "vec_id", "embedding", col("vec_id") === 99L, 3,
      Similarity.IvfCells(Similarity.coarseCodebookOf(emb, "vec_id", "embedding", 3), 2),
      Similarity.Adc(Similarity.pqCodebookOf(emb, "vec_id", "embedding", 4, 4)))
      .orderBy("rank").as[(Long, Long, Int, Double)].collect().toSeq
    assert(pq == Seq((99L, 0L, 1, 0.0), (99L, 1L, 2, 0.0), (99L, 3L, 3, 0.0)))
  }

  test("scd2: empty change set leaves every key a single open version") {
    import graft.operators.Scd
    val target = Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "name", "bal")
    val empty = Seq.empty[(Long, Double, String)].toDF("id", "bal", "eff")
    val out = Scd.scd2(target, empty, "id",
      Seq("name"), Seq("bal"), "eff", "2020-01-01")
    assert(out.count() == 2)
    assert(out.filter(col("is_current") && col("valid_to").isNull).count() == 2)
    // and an empty TARGET takes pure inserts without a hiccup
    val out2 = Scd.scd2(target.limit(0),
      Seq((9L, 9.0, "2024-01-01")).toDF("id", "bal", "eff"), "id",
      Seq("name"), Seq("bal"), "eff", "2020-01-01")
    assert(out2.count() == 1 &&
      out2.head.getAs[String]("name") == null)
  }

  test("LEGACY-only timestamp strings: the try_to_timestamp divergence is pinned") {
    // ref transform_alchemer_data.py:44-50 sets
    // spark.sql.legacy.timeParserPolicy=LEGACY before to_timestamp with
    // 'MM/dd/yyyy h:mm:ss a'. The lenient SimpleDateFormat accepts
    // single-digit month/day for MM/dd; the engine's try_to_timestamp
    // (CORRECTED DateTimeFormatter) requires two digits and yields NULL.
    // This test pins BOTH behaviors so the divergence is a documented
    // contract, not an accident.
    val fmt = "MM/dd/yyyy h:mm:ss a"
    val df = Seq(
      ("01/05/2024 3:07:02 PM"), // well-formed: both parsers accept
      ("1/5/2024 3:07:02 PM")    // lenient-only: LEGACY accepts, CORRECTED nulls
    ).toDF("t")
    val corrected = df
      .select(expr(s"try_to_timestamp(t, '$fmt')").as("ts"))
      .collect().map(r => Option(r.get(0)).map(_.toString))
    assert(corrected(0).contains("2024-01-05 15:07:02.0"))
    assert(corrected(1).isEmpty,
      "single-digit month must NULL under the CORRECTED parser (Silver's path)")
    val prev = spark.conf.getOption("spark.sql.legacy.timeParserPolicy")
    spark.conf.set("spark.sql.legacy.timeParserPolicy", "LEGACY")
    try {
      val legacy = df
        .select(expr(s"to_timestamp(t, '$fmt')").as("ts"))
        .collect().map(r => Option(r.get(0)).map(_.toString))
      assert(legacy(0).contains("2024-01-05 15:07:02.0"))
      assert(legacy(1).contains("2024-01-05 15:07:02.0"),
        "the reference's LEGACY policy accepts single-digit month/day")
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.legacy.timeParserPolicy", v)
      case None => spark.conf.unset("spark.sql.legacy.timeParserPolicy")
    }
  }

  test("basketPairs excludes a pathological mega-basket but keeps its " +
    "parts' organic pairs") {
    // 4 organic 2-item baskets establishing pairs (1,2) and (3,4), plus
    // TWO degenerate 50-part baskets over parts 10..59 (every mega part
    // appears twice, so the apriori prune keeps them all and the baskets
    // stay size-50 when the cap is measured)
    val organic = Seq(
      (100L, 1L), (100L, 2L), (101L, 1L), (101L, 2L), (102L, 3L), (102L, 4L),
      (103L, 3L), (103L, 4L))
    val mega = (10L until 60L).flatMap(p => Seq((998L, p), (999L, p)))
    val raw = (organic ++ mega).toDF("l_orderkey", "l_partkey")
    val guarded = graft.queries.Analytics.basketPairs(raw, support = 2,
      maxBasket = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(guarded == Set((1L, 2L, 2L), (3L, 4L, 2L)),
      s"guarded pairs were ${guarded.mkString(", ")}")
    // without the guard the mega-baskets flood in: C(50,2) = 1225
    // support-2 pairs — one degenerate order shape dominating the output
    val unguarded = graft.queries.Analytics.basketPairs(raw, support = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(unguarded.size == 2 + 1225 && guarded.subsetOf(unguarded),
      s"expected 1227 unguarded pairs, got ${unguarded.size}")
  }

  test("basketPairs registers its persisted output as scratch: " +
    "releaseScratch drops the blocks and the frame recomputes correctly " +
    "(r15 ADVICE: no per-call persist leak)") {
    // id-scoped (not isEmpty): suites share the session and may run in
    // parallel, so only the ids THIS call introduced are asserted on
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val raw = Seq((1L, 1L), (1L, 2L), (2L, 1L), (2L, 2L))
      .toDF("l_orderkey", "l_partkey")
    val pairs = graft.queries.Analytics.basketPairs(raw, support = 2)
    val added = spark.sparkContext.getPersistentRDDs.keySet -- before
    // the eager persist+count left cached blocks behind…
    assert(added.nonEmpty,
      "expected basketPairs' materialized output to be cached")
    // …which the scratch barrier (Verify runs it per query, Bench per
    // sample) releases without invalidating the result: a plain persist
    // keeps its lineage, so the frame silently recomputes
    graft.operators.Dedup.releaseScratch(spark)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet & added
    assert(leaked.isEmpty,
      s"releaseScratch must drop basketPairs' persisted output: $leaked")
    assert(pairs.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2))).toSet ===
      Set((1L, 2L, 2L)))
  }

  test("levenshteinNearDupPairs drops an oversized prefix block whole " +
    "but keeps organic blocks") {
    // one organic 2-doc block (shared 30-char prefix, small tail edit)
    // plus a 40-doc boilerplate block — the mega-block every real corpus
    // has. maxBlock=10 must drop the flood entirely (no half-pairs) while
    // the organic pair survives.
    val prefix = "the quick brown fox jumps over the lazy dog "
    val boiler = "standard header boilerplate do not edit below line "
    val docs = (Seq(
      (1L, prefix + "alpha"), (2L, prefix + "alphb")) ++
      (10L until 50L).map(i => (i, boiler + s"row $i"))).toDF("doc_id", "text")
    val capped = Dedup.levenshteinNearDupPairs(
      docs, "doc_id", "text", maxBlock = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == Set((1L, 2L)), s"capped pairs were ${capped.mkString(", ")}")
    // cap off: the boilerplate block floods C(40,2) = 780 pairs back in
    val uncapped = Dedup.levenshteinNearDupPairs(
      docs, "doc_id", "text", maxBlock = 0).count()
    assert(uncapped == 1 + 780, s"expected 781 uncapped pairs, got $uncapped")
  }

  test("null, empty, and whitespace-only text flow through text kernels") {
    val docs = Seq((1L, null: String), (2L, ""), (3L, "   "), (4L, "one word"))
      .toDF("doc_id", "text")
    // shingle-less docs drop out of pair generation entirely
    assert(Dedup.minhashNearDupPairs(docs, "doc_id", "text").count() == 0)
    // simhash emits a signature for EVERY doc (empty text → sign of zero
    // counts → signature 0) — presence, not silence, for downstream joins
    val sigs = Dedup.simhashSignatures64(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    assert(sigs.size == 4)
    assert(sigs(1L) == 0L && sigs(2L) == 0L && sigs(3L) == 0L)
  }
}
