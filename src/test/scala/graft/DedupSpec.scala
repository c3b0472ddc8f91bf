package graft

import graft.operators.{Dedup, TextOps}
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again"),
    (2L, "the quick brown fox jumps over the lazy dog again and again today"), // near-dup of 1
    (3L, "completely different content about spark query engines at scale"),
    (4L, "the quick brown fox jumps over the lazy dog again and again"), // exact dup of 1
    (5L, "short text")
  ).toDF("doc_id", "text")

  test("rational Jaccard threshold tightens pair admission exactly") {
    // docs 1/2 overlap at jaccard 10/11 (0.909): admitted at 4/5,
    // rejected at 95/100 — integer compares, no float epsilon
    val loose = Dedup.minhashNearDupPairs(docs, "doc_id", "text",
      thresholdNum = 4, thresholdDen = 5)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(loose.contains((1L, 2L)))
    val strict = Dedup.minhashNearDupPairs(docs, "doc_id", "text",
      thresholdNum = 95, thresholdDen = 100)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(!strict.contains((1L, 2L)))
    assert(strict.contains((1L, 4L))) // exact dups survive any threshold
  }

  test("bucket-size cap drops boilerplate floods, keeps normal pairs") {
    // 20 identical boilerplate docs share every band bucket (size 20);
    // one genuine near-dup pair sits in small buckets
    val flood = (100L until 120L).map(i =>
      (i, "identical boilerplate header text repeated across the whole site"))
    val pair = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again today"))
    val df = (flood ++ pair).toDF("doc_id", "text")
    val uncapped = Dedup.minhashNearDupPairs(df, "doc_id", "text")
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(uncapped.contains((1L, 2L)))
    assert(uncapped.count(p => p._1 >= 100L) == 20 * 19 / 2) // quadratic flood
    val capped = Dedup.minhashNearDupPairs(df, "doc_id", "text",
      maxBucketSize = 10)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(capped == Set((1L, 2L))) // flood gone, genuine pair intact
  }

  test("incrementalMinhashPairs equals the full run restricted to batch-involving pairs") {
    // batch = odd ids, corpus = even ids; the incremental contract is the
    // full-run pair set minus corpus-internal pairs, nothing else
    val corpus = docs.filter(col("doc_id") % 2 === 0)
    val batch = docs.filter(col("doc_id") % 2 === 1)
    val incremental = Dedup.incrementalMinhashPairs(
      corpus, batch, "doc_id", "text")
      .select("a", "b", "n_inter", "n_union")
      .as[(Long, Long, Long, Long)].collect().toSet
    val full = Dedup.minhashNearDupPairs(docs, "doc_id", "text")
      .select("a", "b", "n_inter", "n_union")
      .as[(Long, Long, Long, Long)].collect().toSet
      .filter(p => p._1 % 2 == 1 || p._2 % 2 == 1)
    assert(incremental == full)
    assert(incremental.nonEmpty, "fixture should produce batch-involving pairs")
    // corpus-internal pairs (1,4 are odd — use the even exact dup check):
    // no pair with BOTH sides even may appear
    assert(incremental.forall(p => p._1 % 2 == 1 || p._2 % 2 == 1))
  }

  test("indexedIncrementalMinhashPairs matches the in-memory incremental run") {
    val corpus = docs.filter(col("doc_id") % 2 === 0)
    val batch = docs.filter(col("doc_id") % 2 === 1)
    val indexPath = java.nio.file.Files
      .createTempDirectory("graft_band_index_spec").toString
    try {
      Dedup.buildBandIndex(corpus, "doc_id", "text", indexPath)
      val indexed = Dedup.indexedIncrementalMinhashPairs(
        corpus, batch, "doc_id", "text", indexPath)
        .select("a", "b", "n_inter", "n_union")
        .as[(Long, Long, Long, Long)].collect().toSet
      val inMemory = Dedup.incrementalMinhashPairs(
        corpus, batch, "doc_id", "text")
        .select("a", "b", "n_inter", "n_union")
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(indexed == inMemory)
      assert(indexed.nonEmpty, "fixture should produce batch-involving pairs")
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(indexPath))
        .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .iterator().asScala.foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("connectedComponents converges a path graph to the component min") {
    // 1-2-3-4-5 is a diameter-4 path (forces multiple propagation
    // rounds); 10-11 is a separate component
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L))
      .toDF("a", "b")
    val out = Dedup.connectedComponents(pairs, "a", "b")
      .as[(Long, Long)].collect().toMap
    assert((1L to 5L).forall(out(_) == 1L))
    assert(out(10L) == 10L && out(11L) == 10L)
    assert(out.size == 7)
  }

  test("connectedComponents reliable-checkpoint mode matches local mode") {
    // spark.graft.checkpointDir switches every round's checkpoint to
    // reliable files, set and unset around the call
    val dir = java.nio.file.Files.createTempDirectory("graft-cc-ckpt").toString
    spark.conf.set(graft.operators.Checkpointer.DirKey, dir)
    try {
      val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L))
        .toDF("a", "b")
      val out = Dedup.connectedComponents(pairs, "a", "b")
        .as[(Long, Long)].collect().toMap
      assert((1L to 5L).forall(out(_) == 1L))
      assert(out(10L) == 10L && out(11L) == 10L)
      assert(out.size == 7)
      // the reliable dir actually received checkpoint files (the property
      // that survives an executor loss, unlike executor-local blocks)
      def files(f: java.io.File): Iterator[java.io.File] =
        Iterator(f) ++ Option(f.listFiles).iterator.flatten.flatMap(files)
      assert(files(new java.io.File(dir)).exists(_.getName.startsWith("rdd-")),
        s"no reliable checkpoint RDD dirs under $dir")
    } finally spark.conf.unset(graft.operators.Checkpointer.DirKey)
  }

  test("exactKeepFirst keeps lowest id per key") {
    val out = Dedup.exactKeepFirst(
      docs.withColumn("fp", TextOps.fingerprint(col("text"))),
      Seq("fp"), "doc_id")
    assert(out.count() == 4)
    assert(out.filter(col("doc_id") === 4).count() == 0)
  }

  test("minhashNearDupPairs finds exact and near duplicates, not unrelated") {
    val pairs = Dedup.minhashNearDupPairs(docs, "doc_id", "text")
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 4L))) // exact dup always survives
    assert(pairs.contains((1L, 2L)) || pairs.contains((2L, 4L))) // near-dup
    assert(!pairs.exists { case (a, b) => a == 3L || b == 3L })
  }

  test("jaccard integers are exact: identical docs give inter == union") {
    val pairs = Dedup.minhashNearDupPairs(docs, "doc_id", "text")
      .filter(col("a") === 1 && col("b") === 4).collect()
    assert(pairs.length == 1)
    assert(pairs(0).getAs[Long]("n_inter") == pairs(0).getAs[Long]("n_union"))
  }

  test("simhash pigeonhole finds pairs differing only in high bits " +
    "(regression: single high-slice bucketing missed these)") {
    val base = 0x0123456789abcdefL
    val sigs = Seq(
      (1L, base),
      (2L, base ^ (1L << 63) ^ (1L << 48)), // hamming 2, high half only
      (3L, base ^ (1L << 0) ^ (1L << 31) ^ (1L << 63)), // hamming 3, spread
      (4L, base ^ 0x0f0f0f0fL) // hamming 16 — beyond threshold
    ).toDF("doc_id", "sig")
    val pairs = Dedup.simhashPairsFromSigs(sigs, "doc_id", 3)
      .select("a", "b", "hamming").as[(Long, Long, Int)].collect().toSet
    // (2,3): xor = bit48 ^ bit0 ^ bit31 -> hamming 3, also within threshold
    assert(pairs == Set((1L, 2L, 2), (1L, 3L, 3), (2L, 3L, 3)))
  }

  test("simhash pigeonhole recall equals brute force on random signatures") {
    val rnd = new scala.util.Random(7)
    val baseSigs = Seq.tabulate(120)(i => (i.toLong, rnd.nextLong()))
    // plant near-dups at Hamming 1..3, flip positions anywhere in 64 bits
    val planted = (0 until 24).map { i =>
      val (_, sig) = baseSigs(i * 5)
      val flips = 1 + i % 3
      val flipped = (0 until flips).foldLeft(sig)((s, _) =>
        s ^ (1L << rnd.nextInt(64)))
      (1000L + i, flipped)
    }
    // exact duplicates (identical signatures) pin the Hamming-0 path:
    // the collapse-then-band implementation emits these from the
    // signature group self-join, not the banding
    val dupes = (0 until 10).map(i => (2000L + i, baseSigs(i * 3)._2))
    val all = baseSigs ++ planted ++ dupes
    val expected = (for {
      (a, sa) <- all; (b, sb) <- all
      if a < b && java.lang.Long.bitCount(sa ^ sb) <= 3
    } yield (a, b, java.lang.Long.bitCount(sa ^ sb))).toSet
    assert(dupes.exists { case (_, s) =>
      all.count(_._2 == s) >= 2 }, "fixture must contain duplicate sigs")
    assert(expected.nonEmpty, "fixture must plant at least one near pair")
    val got = Dedup.simhashPairsFromSigs(all.toDF("doc_id", "sig"), "doc_id", 3)
      .select("a", "b", "hamming").as[(Long, Long, Int)].collect().toSet
    assert(got == expected)
  }

  test("simhash maxGroupSize drops oversized exact-dup floods, " +
    "keeps every pair outside them") {
    val base = 0x0123456789abcdefL
    // a 5-member hamming-0 flood, a 2-member group, and two near singles
    val sigs = ((1L to 5L).map((_, base)) ++ Seq(
      (10L, base ^ 1L), (11L, base ^ 1L),
      (20L, base ^ (1L << 7)), (30L, base ^ 0xffL))).toDF("doc_id", "sig")
    val capped = Dedup.simhashPairsFromSigs(sigs, "doc_id", 3, maxGroupSize = 4)
      .select("a", "b", "hamming").as[(Long, Long, Int)].collect().toSet
    // the base flood (docs 1-5, size 5 > 4) is gone entirely — both its
    // internal pairs and its cross pairs to 10/11/20
    assert(capped == Set((10L, 11L, 0), (10L, 20L, 2), (11L, 20L, 2)))
    // cap 0 (default) keeps everything, including the flood's pairs
    val uncapped = Dedup.simhashPairsFromSigs(sigs, "doc_id", 3)
      .select("a", "b", "hamming").as[(Long, Long, Int)].collect().toSet
    assert(capped.subsetOf(uncapped))
    assert(uncapped.count { case (a, b, h) => a <= 5 && b <= 5 && h == 0 } == 10)
  }

  test("releaseScratch leaves a live checkpointed result usable") {
    // the targeted release drops only the operators' plain-persist
    // scratch; a caller still holding a checkpointed connectedComponents
    // frame must re-materialize from its final checkpoint, not hard-fail
    // on missing blocks (the r11 hazard of the old session-barrier form)
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b")
    val comps = graft.operators.Dedup.connectedComponents(pairs, "a", "b")
    val before = comps.as[(Long, Long)].collect().toMap
    Dedup.releaseScratch(spark)
    val after = comps.as[(Long, Long)].collect().toMap
    assert(after == before)
    assert(before ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
    // the barrier variant DOES reclaim the surviving final checkpoint
    Dedup.releaseAllCaches(spark)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("releaseScratch drops every persisted scratch block") {
    // an incremental near-dup run leaves its batch band table persisted
    // (the documented lifecycle: scratch must outlive the returned
    // frame) — releaseScratch is the executable side of that contract
    Dedup.incrementalMinhashPairs(docs.filter($"doc_id" % 2 === 0),
      docs.filter($"doc_id" % 2 === 1), "doc_id", "text").count()
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty ||
      !spark.sharedState.cacheManager.isEmpty,
      "expected the dedup run to leave scratch blocks registered")
    Dedup.releaseScratch(spark)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
    assert(spark.sharedState.cacheManager.isEmpty)
  }
}
