package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** Deduplication operators for training-data pipelines: exact keep-first,
  * hash-group dedup, minhash+LSH banded near-dup, and n-gram Jaccard
  * verification.
  *
  * Scale design (the whole point): near-dup candidate generation NEVER
  * does an all-pairs join. Docs shuffle by (band index, band hash) — an
  * O(n·bands) shuffle — and only same-bucket docs pair up. Jaccard
  * verification then touches candidate pairs only. The Jaccard score is
  * carried as exact integers (|A∩B|, |A∪B|) so thresholding is an integer
  * compare with no float-rounding hazard.
  *
  * The per-doc text kernels (tokenize → shingle → minhash → band;
  * simhash) run as native codegen expressions
  * (graft.expressions.ShingleBands / Simhash): one narrow pass inside
  * whole-stage codegen, no DataFrame→RDD round trip, no lineage break
  * for Catalyst/AQE. (The composable array-transform + md5-per-element
  * formulation evaluates its lambdas interpreted and measured ~100×
  * slower; the RDD mapPartitions formulation matched the expression on
  * CPU but paid row conversion and hid the plan.) Hashing is md5-of-UTF8
  * throughout, bit-identical to both Spark's and DuckDB's md5, so
  * results stay engine-portable and auditable.
  */
object Dedup {

  /** Registry of the frames the operators persist as SCRATCH: banded
    * batch tables, signature member tables, eval-set gram lists —
    * every one a plain `persist` whose lineage survives the blocks, so
    * dropping them is always CORRECT (a still-live consumer silently
    * recomputes; nothing hard-fails). localCheckpoint blocks are NOT in
    * this registry — their lineage is truncated, so dropping them while a
    * result frame is live would hard-fail re-execution; the [[Iterate]]
    * driver releases superseded checkpoints in-loop and leaves alive only
    * those the returned frame reads. */
  private val scratch = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()

  /** Persist a frame as operator scratch and register it for
    * [[releaseScratch]]. */
  private[graft] def scratchPersist(df: DataFrame): DataFrame = {
    df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    scratch.add(df)
    df
  }

  /** Release the scratch blocks the operators have registered (see
    * [[scratchPersist]]). The operators cannot unpersist eagerly — their
    * scratch must outlive the returned frame, whose consumption time they
    * cannot see — so a long-lived session calls this between pipelines to
    * drop the blocks deterministically instead of waiting for LRU
    * eviction. Blocking unpersist: the caller wants the memory NOW, not
    * after a racing async drop.
    *
    * SAFE while results are live: only plain persists are registered, and
    * a persisted frame's lineage survives its blocks — any still-live
    * consumer recomputes. Checkpointed results (e.g. a
    * [[connectedComponents]] frame a caller still holds) are untouched;
    * the session-barrier variant that would invalidate them is
    * [[releaseAllCaches]]. Only frames persisted through `spark` are
    * dropped: one session never evicts another's scratch. */
  def releaseScratch(spark: SparkSession): Unit =
    scratch.asScala.filter(_.sparkSession eq spark).foreach { df =>
      if (scratch.remove(df))
        try df.unpersist(blocking = true)
        catch { case _: Throwable => () /* stopped session: nothing to free */ }
    }

  /** Session-level cache BARRIER: unpersists EVERY persistent RDD in the
    * session — operator scratch, surviving final checkpoints of iterative
    * operators, user caches — and clears the relation cache. This
    * permanently invalidates any still-live frame whose plan reads a
    * `localCheckpoint` (truncated lineage cannot recompute: re-executing
    * such a frame HARD-FAILS on missing blocks). Call it only at pipeline
    * boundaries, after every frame from the previous pipeline has been
    * consumed (written to a sink, collected, or discarded) — Bench does,
    * between samples, precisely so no query's surviving state can shift a
    * later query's measurement. For routine between-pipeline hygiene with
    * results still in flight, use [[releaseScratch]]. */
  def releaseAllCaches(spark: SparkSession): Unit = {
    releaseScratch(spark)
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
  }

  /** Exact dedup keeping the first row per key by `orderCol` — the
    * deterministic form of dropDuplicates (which keeps an arbitrary row). */
  def exactKeepFirst(df: DataFrame, keys: Seq[String], orderCol: String): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(orderCol))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  private val NonAlnum = java.util.regex.Pattern.compile("[^a-z0-9 ]")
  private val Spaces = java.util.regex.Pattern.compile(" +")

  /** Tokenizer matching TextOps.tokens / the SQL oracle exactly:
    * lowercase, non-alphanumerics fold to space, split, drop empties.
    *
    * ASCII fast path: one allocation-lean char scan (A-Z fold, a-z/0-9
    * accumulate, everything else is a boundary) — provably identical to
    * the regex pipeline for ASCII input, and the regex engine never runs.
    * Any non-ASCII char falls back to the regex path, whose
    * String.toLowerCase semantics are authoritative (multi-char case
    * foldings like İ exist only there). This kernel is the inner loop of
    * every tokenize-bearing operator (minhash, simhash, graft_tokens),
    * so its constant factor is corpus-sized. */
  private[graft] def tokenize(text: String): Array[String] = {
    val n = text.length
    var ascii = true
    var i = 0
    while (ascii && i < n) {
      if (text.charAt(i) >= 128) ascii = false
      i += 1
    }
    if (!ascii)
      return Spaces.split(
        NonAlnum.matcher(text.toLowerCase(java.util.Locale.ROOT)).replaceAll(" "))
        .filter(_.nonEmpty)
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val sb = new java.lang.StringBuilder()
    i = 0
    while (i < n) {
      val c = text.charAt(i)
      val lc = if (c >= 'A' && c <= 'Z') (c + 32).toChar else c
      if ((lc >= 'a' && lc <= 'z') || (lc >= '0' && lc <= '9')) sb.append(lc)
      else if (sb.length > 0) { out += sb.toString; sb.setLength(0) }
      i += 1
    }
    if (sb.length > 0) out += sb.toString
    out.toArray
  }

  private val HexChars = "0123456789abcdef".toCharArray

  private[graft] def md5Hex(md: java.security.MessageDigest, s: String): String = {
    md.reset()
    val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val out = new Array[Char](32)
    var i = 0
    while (i < 16) {
      out(2 * i) = HexChars((d(i) >> 4) & 0xf)
      out(2 * i + 1) = HexChars(d(i) & 0xf)
      i += 1
    }
    new String(out)
  }

  /** First 60 bits of md5(s) as a long — bit-identical to
    * `java.lang.Long.parseLong(md5Hex(md, s).substring(0, 15), 16)`
    * (15 hex chars = digest bytes 0..6 plus the high nibble of byte 7),
    * computed straight from the digest bytes so the per-shingle hot
    * path allocates no 32-char hex string and runs no radix parse.
    * KernelEquivalenceSpec pins the equality against the hex-parse
    * formulation the DuckDB oracle replays. */
  private[graft] def md5Long60(md: java.security.MessageDigest, s: String): Long = {
    md.reset()
    val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    ((d(0) & 0xffL) << 52) | ((d(1) & 0xffL) << 44) | ((d(2) & 0xffL) << 36) |
      ((d(3) & 0xffL) << 28) | ((d(4) & 0xffL) << 20) | ((d(5) & 0xffL) << 12) |
      ((d(6) & 0xffL) << 4) | ((d(7) & 0xf0L) >> 4)
  }

  /** First 16 hex chars of md5(s) as two unsigned 32-bit halves packed
    * (lo, hi) = (bytes 0..3, bytes 4..7) — bit-identical to parsing
    * `md5Hex(s).substring(0, 8)` and `.substring(8, 16)` as unsigned hex
    * (the simhash word-hash formulation the SQL oracle replays), without
    * the hex-string allocation. Packed hi<<32|lo in one long to keep the
    * per-word call allocation-free. */
  private[graft] def md5Lo32Hi32(md: java.security.MessageDigest, s: String): Long = {
    md.reset()
    val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val lo = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
    val hi = ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
      ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)
    (hi << 32) | lo
  }

  /** Distinct k-word shingles in first-occurrence order.
    *
    * Allocation-lean: one reused StringBuilder per call instead of a
    * per-window `slice + mkString`, and a HashSet membership probe
    * instead of the generic `distinct` (which builds the whole
    * non-distinct sequence first). This kernel runs once per window of
    * every document in the minhash/Jaccard family — the profiled
    * run≫cpu gap on the kernel jobs was allocation/GC stall, not
    * compute (§4 constant factor). Output is provably identical: same
    * windows in the same order, first occurrence kept. */
  private[graft] def shingle(words: Array[String], k: Int): Array[String] =
    if (words.length < k) Array.empty
    else {
      val n = words.length - k + 1
      val out = new scala.collection.mutable.ArrayBuffer[String](n)
      val seen = new java.util.HashSet[String](n * 2)
      val sb = new java.lang.StringBuilder
      var i = 0
      while (i < n) {
        sb.setLength(0)
        var j = 0
        while (j < k) {
          if (j > 0) sb.append(' ')
          sb.append(words(i + j))
          j += 1
        }
        val s = sb.toString
        if (seen.add(s)) out += s
        i += 1
      }
      out.toArray
    }

  /** Deterministic 60-bit permutation constants for minhash: one per hash
    * function, md5-derived so both engines (and the oracle SQL, which
    * embeds them as literals) agree byte-for-byte. */
  private[graft] def permConstants(numHashes: Int): Array[Long] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(numHashes)(p =>
      java.lang.Long.parseLong(md5Hex(md, s"perm$p").substring(0, 15), 16))
  }

  /** Narrow (id, text) projection, rebalanced when the SOURCE is
    * under-split. The text kernels are CPU-bound (~100 µs/doc); a
    * single-row-group local file gives one split, so without the
    * rebalance the kernel would run on one core. On a cluster input with
    * splits ≥ cores the check is a no-op.
    *
    * Only a SCAN-SHAPED frame (projections and filters over file
    * relations, or a union of such) has the scan's splits as its
    * partitions; a frame with a join, aggregate or repartition in it is
    * already spread by that exchange, though its `inputFiles` still list
    * the files. The check reads the ANALYZED plan and file statuses: a
    * `.rdd.getNumPartitions` probe would force physical planning and,
    * under AQE, run every upstream shuffle stage at construction time.
    * The rebalance hashes on the id, so [[jaccardVerify]]'s id join
    * reuses the exchange instead of shuffling the corpus again (and,
    * unlike round-robin, needs no pre-shuffle sort for retries). */
  private def balancedNarrow(
      df: DataFrame, idCol: String, textCol: String): DataFrame = {
    graft.expressions.GraftFunctions.register(df.sparkSession)
    val spark = df.sparkSession
    val target = spark.sparkContext.defaultParallelism
    val narrow = df.select(col(idCol).cast("long").as(idCol), col(textCol).as("__text"))
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, Union}
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    def scanShaped(p: LogicalPlan): Boolean = p match {
      case _: LogicalRelation => true
      case _: Project | _: Filter | _: Union => p.children.forall(scanShaped)
      case _ => false
    }
    val files =
      if (scanShaped(df.queryExecution.analyzed)) df.inputFiles else Array.empty[String]
    if (files.isEmpty) narrow // in-memory or post-exchange: already distributed
    else {
      // Estimate the SCAN partition count the same way FilePartition
      // bin-packs: ceil((bytes + files·openCost) / maxPartitionBytes).
      // A raw file count over-counts (64 small files pack into ~1 scan
      // split — the kernel would run on one core) and under-counts (one
      // large file yields many splits — a repartition would be a useless
      // full shuffle); the byte estimate gets both directions right.
      // Driver-side metadata only — Spark lists the same statuses to plan
      // the scan anyway. Unreadable paths fall back to the file count.
      import org.apache.spark.network.util.JavaUtils.byteStringAsBytes
      val maxPart = byteStringAsBytes(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "128MB"))
      val openCost = byteStringAsBytes(
        spark.conf.get("spark.sql.files.openCostInBytes", "4MB"))
      val conf = spark.sparkContext.hadoopConfiguration
      val est = scala.util.Try {
        val bytes = files.iterator.map { f =>
          val p = new org.apache.hadoop.fs.Path(f)
          p.getFileSystem(conf).getFileStatus(p).getLen
        }.sum
        math.max(1L, (bytes + files.length * openCost + maxPart - 1) / maxPart)
      }.getOrElse(files.length.toLong)
      if (est < target) narrow.repartition(target, col(idCol)) else narrow
    }
  }

  /** `keep` plus the [[graft.expressions.ShingleBands]] struct `__sb` of
    * `text`, for every row whose text has at least `k` words.
    * explode(array(...)) is a deliberate Generate BARRIER: without it,
    * CollapseProject inlines the kernel into the null-check filter AND
    * each struct-field extraction — 3 evaluations per row (measured 2×
    * slower). Generate materializes the struct exactly once per row. */
  private def shingleBands(df: DataFrame, keep: Seq[Column], text: Column,
      k: Int, numHashes: Int): DataFrame =
    df.select(keep :+ explode(array(
        call_function("graft_shingle_bands", text, lit(k), lit(numHashes))))
        .as("__sb"): _*)
      .filter(col("__sb").isNotNull)

  /** Per-doc shingles + banded minhash keys, one narrow pass through the
    * native [[graft.expressions.ShingleBands]] expression — the kernel
    * stays INSIDE the DataFrame plan (whole-stage codegen, no
    * DataFrame→RDD round trip, no lineage break for Catalyst/AQE).
    *
    * Each shingle is content-hashed ONCE (md5 → 60-bit long); the
    * `numHashes` signatures derive by XOR with per-function constants and
    * a min-fold. At 100 TB the shingle hash is the dominant CPU line of
    * near-dup — one digest per shingle instead of one per (shingle, hash
    * fn) is an 8× cut with the same LSH guarantees (xor by a constant is
    * a bijection, so min-over-xored-hashes is a valid minhash family).
    * Band key b = md5(sig_2b "|" sig_2b+1). Docs shorter than k words
    * produce a null struct and are dropped, like the previous RDD
    * formulation's flatMap-None. */
  def withShinglesAndSigs(
      df: DataFrame, idCol: String, textCol: String,
      k: Int, numHashes: Int): DataFrame =
    shingleBands(balancedNarrow(df, idCol, textCol), Seq(col(idCol)), col("__text"),
      k, numHashes)
      .select(col(idCol),
        col("__sb.shingles").as("shingles"),
        col("__sb.bandkeys").as("bandkeys"))

  /** (id, band_idx, band_hash): one row per LSH band of every doc. */
  private def bands(df: DataFrame, idCol: String, textCol: String,
      k: Int, numHashes: Int): DataFrame =
    withShinglesAndSigs(df, idCol, textCol, k, numHashes).select(
      col(idCol), posexplode(col("bandkeys")).as(Seq("band_idx", "band_hash")))

  /** Band rows as one side of a bucket join, the id renamed to `as`. */
  private def keyed(banded: DataFrame, idCol: String, as: String): DataFrame =
    banded.select(col("band_idx"), col("band_hash"), col(idCol).as(as))

  /** Exact shingle-Jaccard verification of candidate pairs `cands` (a, b);
    * a pair may repeat (once per shared bucket). One id join, one regroup:
    * each pair end (id, a, b) merge-joins the documents on id (the
    * corpus-sized side: never broadcast or cached; where the caller
    * already rebalanced `df` the join reuses that exchange); the kernel
    * then sees candidate docs only, once per doc (the join emits a doc's
    * matches consecutively and [[graft.expressions.ShingleBands]] keeps
    * its last result); every (a, b, shingle) carries its end's tag bit and
    * regroups on (a, b): shingles with both tags are |A∩B|, all distinct
    * shingles |A∪B|. Repeated pairs only repeat tags. A pair whose end is
    * shorter than k words lacks that tag and drops out. Nothing persists. */
  private def jaccardVerify(
      df: DataFrame, idCol: String, textCol: String, k: Int,
      cands: DataFrame, thresholdNum: Int, thresholdDen: Int): DataFrame = {
    val needed = balancedNarrow(df, idCol, textCol).hint("merge").join(
      cands.select(explode(array(col("a"), col("b"))).as(idCol), col("a"), col("b")), Seq(idCol))
    shingleBands(needed, // tag bit 1: a's shingles, bit 2: b's
      Seq(col("a"), col("b"), when(col(idCol) === col("a"), 1).otherwise(2).as("__end")),
      col("__text"), k, numHashes = 2)
      .select(col("a"), col("b"), col("__end"), explode(col("__sb.shingles")).as("__g"))
      // one exchange on (a, b) serves both groupings below
      .repartition(col("a"), col("b"))
      .groupBy("a", "b", "__g").agg(bit_or(col("__end")).as("__e"))
      .groupBy("a", "b").agg(bit_or(col("__e")).as("__ends"),
        count(when(col("__e") === 3, true)).as("n_inter"), count(lit(1)).as("n_union"))
      // rational threshold num/den keeps the compare exact-integer at
      // any corpus size (default 1/2 = Jaccard ≥ 0.5)
      .filter(col("__ends") === 3 &&
        col("n_inter") * thresholdDen >= col("n_union") * thresholdNum)
      .select("a", "b", "n_inter", "n_union")
  }

  /** Candidate near-dup pairs via banded LSH, verified with exact shingle
    * Jaccard. Returns (a, b, n_inter, n_union) with a < b; a pair is
    * emitted iff 2·inter ≥ union (Jaccard ≥ 0.5).
    *
    * `maxBucketSize > 0` is the skew guard for web-scale corpora:
    * boilerplate floods (identical headers, template pages) put millions
    * of docs into ONE band bucket, whose in-bucket pairing is quadratic —
    * the classic LSH hot spot. Capping drops oversized buckets before the
    * pair join (one extra aggregate on the SAME shuffle key, so it
    * co-partitions with the join). The recall trade is explicit: a pair
    * is lost only if EVERY bucket it shares is oversized — for genuine
    * boilerplate that is the intended outcome, and the flood is better
    * handled by exact dedup upstream. Default 0 = unlimited (the
    * oracle-checked configuration). */
  def minhashNearDupPairs(
      df: DataFrame, idCol: String, textCol: String,
      k: Int = 3, numHashes: Int = 8, maxBucketSize: Int = 0,
      thresholdNum: Int = 1, thresholdDen: Int = 2): DataFrame = {
    require(thresholdNum > 0 && thresholdDen > 0,
      "Jaccard threshold must be a positive rational")
    // Two kernel passes over ONE rebalanced frame (its exchange runs
    // once), neither corpus-cached: candidate generation reads only the
    // band keys (fixed-width rows, shingle arrays projected away), and
    // verification recomputes shingles for the candidate docs alone —
    // at 100 TB the LSH collision set, a small fraction of the corpus.
    val narrow = balancedNarrow(df, idCol, textCol)
    val allBanded = bands(narrow, idCol, "__text", k, numHashes)
    val banded =
      if (maxBucketSize <= 0) allBanded
      // join-against-filtered-aggregate kept over the window-count form
      // (r18 measured-and-rejected): a window cap A/B'd FLAT at gate
      // scale (2.594 → 2.649 s median), and at 100 TB the window's
      // per-partition SORT lands exactly on the skewed bucket this guard
      // exists for, while the hash aggregate absorbs the hot key
      // map-side and the join co-partitions with the same exchange.
      // SHUFFLE_MERGE pinned: the cap side has one row per bucket —
      // corpus-sized at scale — and an unhinted join let AQE broadcast it
      // or not depending on which stage finished first (7 or 8 exchanges
      // between identical runs).
      else allBanded.hint("merge").join(
        allBanded.groupBy("band_idx", "band_hash")
          .agg(count(lit(1)).as("__bn"))
          .filter(col("__bn") <= maxBucketSize)
          .select("band_idx", "band_hash"),
        Seq("band_idx", "band_hash"))
    // Bucket self-join on (band_idx, band_hash): same-bucket docs
    // co-locate, no all-pairs blowup. SHUFFLE_MERGE pinned: both sides
    // are corpus-sized kernel output Catalyst under-estimates from the
    // scan, and an auto-broadcast of it is an executor OOM at scale. The
    // sides share one exchange (a ReusedExchange in the executed plan),
    // so the band kernel runs once. A pair sharing several buckets
    // arrives once per bucket; the verify step absorbs the repeats.
    val cands = keyed(banded, idCol, "a").hint("merge")
      .join(keyed(banded, idCol, "b"), Seq("band_idx", "band_hash"))
      .filter(col("a") < col("b"))
      .select("a", "b")
    jaccardVerify(narrow, idCol, "__text", k, cands, thresholdNum, thresholdDen)
  }

  /** INCREMENTAL near-dup: pairs where at least one side is in the new
    * ingest `batch` — the batch against the standing corpus, and the
    * batch against itself — with the corpus NEVER paired against itself.
    * That corpus×corpus pairing is the cost already paid when the corpus
    * was deduped; a daily ingest at 100 TB pays only O(batch·bands) new
    * band rows joined against the corpus's band table (which at scale is
    * the persisted LSH index — the same build-once/probe-many pattern as
    * [[graft.operators.Similarity.writeIvfIndex]]'s cell index; here
    * both sides are recomputed because the fixtures are small).
    *
    * Same candidates and the same exact-Jaccard verification a full
    * [[minhashNearDupPairs]] over corpus ∪ batch would produce for the
    * batch-involving pairs: a pair is a candidate iff it shares a band
    * bucket, regardless of which run found it. Returns (a, b, n_inter,
    * n_union) with a < b. Assumes disjoint id spaces (an ingest that
    * re-delivers known ids belongs to exact dedup, not near-dup). */
  def incrementalMinhashPairs(
      corpus: DataFrame, batch: DataFrame, idCol: String, textCol: String,
      k: Int = 3, numHashes: Int = 8,
      thresholdNum: Int = 1, thresholdDen: Int = 2): DataFrame = {
    require(thresholdNum > 0 && thresholdDen > 0,
      "Jaccard threshold must be a positive rational")
    val bandedBatch = bands(batch, idCol, textCol, k, numHashes)
      .transform(scratchPersist)
    batchPairs(corpus, batch, bandedBatch,
      bands(corpus, idCol, textCol, k, numHashes), idCol, textCol, k,
      thresholdNum, thresholdDen)
  }

  /** The verified pairs of the incremental operators, from the batch's
    * bands and the standing corpus's. ONE bucket join of the batch
    * against (corpus ∪ batch) bands replaces a batch×corpus plus a
    * batch×batch join (§2.4 fewer shuffles): with disjoint id spaces,
    * {unordered pairs sharing a bucket with ≥1 batch side} =
    * batch × (corpus ∪ batch) minus the self-hits. least/greatest
    * normalizes orientation (a within-batch pair arrives in both
    * orientations, a cross pair in one) and the verify step drops the
    * duplicates. SHUFFLE_MERGE pinned: the batch side is kernel-amplified
    * output Catalyst under-estimates. */
  private def batchPairs(
      corpus: DataFrame, batch: DataFrame, bandedBatch: DataFrame,
      bandedCorpus: DataFrame, idCol: String, textCol: String, k: Int,
      thresholdNum: Int, thresholdDen: Int): DataFrame = {
    val cands = keyed(bandedBatch, idCol, "a").hint("merge")
      .join(keyed(bandedCorpus.unionByName(bandedBatch), idCol, "b"),
        Seq("band_idx", "band_hash"))
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"))
    jaccardVerify(corpus.unionByName(batch), idCol, textCol, k, cands,
      thresholdNum, thresholdDen)
  }

  /** Partition key for the persisted band index: band_idx plus the first
    * hex char of the band hash → at most numBands×16 directories, each
    * holding ~1/16 of one band's rows. Small enough to stay a directory
    * listing, selective enough that a probe batch prunes real IO. */
  private def bandPfxCol: Column =
    concat_ws("_", col("band_idx"), substring(col("band_hash"), 1, 1))

  /** Build the corpus's LSH band table ONCE as a hive-partitioned parquet
    * index (`partitionBy` the (band_idx, hash-prefix) key) — the
    * build-once/probe-many shape for standing-corpus ingest dedup, the
    * same pattern as [[graft.operators.Similarity.writeIvfIndex]]'s
    * cell index. At 100 TB this is a one-time map-only write (one narrow
    * kernel pass over the corpus, numBands rows per doc); each daily
    * batch then probes the index instead of recomputing corpus bands.
    *
    * Build-ONCE semantics: a completed index (parquet `_SUCCESS` marker
    * present) is reused, not rebuilt — that is the operator's entire
    * point (the corpus index amortizes over every ingest batch; callers
    * indexing a different corpus must use a different `indexPath`, which
    * the query layer does by keying the path on the fixture's content). */
  def buildBandIndex(
      corpus: DataFrame, idCol: String, textCol: String, indexPath: String,
      k: Int = 3, numHashes: Int = 8): Unit = {
    val done = new java.io.File(indexPath, "_SUCCESS")
    if (!done.isFile) {
      bands(corpus, idCol, textCol, k, numHashes)
        .withColumn("band_pfx", bandPfxCol)
        // Range-cluster by the partition key before the partitioned
        // write (§6 small files): without this every write task holds
        // rows of every band_pfx and emits one file per (task, pfx) —
        // width × 64 tiny files, and the probe scan's split packing
        // charges openCostInBytes per file (measured: a 5.8 MB probe
        // read planned 64 tasks). Range clustering gives each directory
        // ~⌈width/64⌉+1 writers, so file count tracks data volume, not
        // width×keys; at scale a hot prefix still splits across tasks
        // (unlike a hash repartition on the 64-value key alone).
        .repartitionByRange(col("band_pfx"), col("band_hash"))
        .write.mode("overwrite").partitionBy("band_pfx").parquet(indexPath)
    }
  }

  /** [[incrementalMinhashPairs]] against a PERSISTED corpus band index
    * ([[buildBandIndex]]'s output) instead of recomputing corpus bands
    * per batch. The probe read prunes to the partitions holding the
    * batch's bucket-key prefixes: the probed prefix set is a driver-side
    * model artifact (≤ numBands×16 strings — bounded by the key design,
    * not the batch size, and needed as literals precisely so the filter
    * is STATIC partition pruning; PartitionFilters pinned in PlanSpec).
    * Pair set identical to [[incrementalMinhashPairs]] by construction:
    * candidates share a band bucket either way, and the exact-Jaccard
    * verification is unchanged. */
  def indexedIncrementalMinhashPairs(
      corpus: DataFrame, batch: DataFrame, idCol: String, textCol: String,
      indexPath: String, k: Int = 3, numHashes: Int = 8,
      thresholdNum: Int = 1, thresholdDen: Int = 2): DataFrame = {
    require(thresholdNum > 0 && thresholdDen > 0,
      "Jaccard threshold must be a positive rational")
    val spark = corpus.sparkSession
    val bandedBatch = bands(batch, idCol, textCol, k, numHashes)
      .transform(scratchPersist)
    val probedPfx = bandedBatch.select(bandPfxCol.as("band_pfx"))
      .distinct().collect().map(_.getString(0)).sorted
    val index = spark.read.parquet(indexPath)
      .filter(col("band_pfx").isin(probedPfx: _*))
      .select(col("band_idx"), col("band_hash"), col(idCol))
    batchPairs(corpus, batch, bandedBatch, index, idCol, textCol, k,
      thresholdNum, thresholdDen)
  }

  private def simhashFrame(
      df: DataFrame, idCol: String, textCol: String, bits: Int): DataFrame =
    // null text coalesces to "" → signature 0: presence, not silence,
    // for downstream joins (EdgeCaseSpec pins this)
    balancedNarrow(df, idCol, textCol).select(col(idCol),
      call_function("graft_simhash",
        coalesce(col("__text"), lit("")), lit(bits)).as("sig"))

  /** 32-bit simhash signatures over the token multiset via the native
    * [[graft.expressions.Simhash]] expression (whole-stage codegen, no
    * RDD round trip). Per word the hash is the first 8 md5 hex chars as
    * an unsigned 32-bit value — portable and identical to the SQL-oracle
    * formulation; per bit, ±1 contributions sum across words and the bit
    * sets when positive. */
  def simhashSignatures(df: DataFrame, idCol: String, textCol: String): DataFrame =
    simhashFrame(df, idCol, textCol, 32)

  /** 64-bit simhash signatures, same kernel family as
    * [[simhashSignatures]]: bits 0..31 hash from the first 8 md5 hex
    * chars of each word, bits 32..63 from the next 8 (two 32-bit parses —
    * both engines stay in signed-64 range, unlike a single 16-hex-char
    * parse). 64 bits is the standard fingerprint width (Manku et al.,
    * WWW'07): at web scale, 32 bits collide too often for Hamming
    * thresholds to mean anything. */
  def simhashSignatures64(df: DataFrame, idCol: String, textCol: String): DataFrame =
    simhashFrame(df, idCol, textCol, 64)

  /** Pigeonhole candidate generation + exact Hamming verify over 64-bit
    * signatures (`sigs` must have columns (idCol, sig)).
    *
    * The signature splits into B = maxHamming + 3 contiguous blocks; a
    * pair within Hamming distance maxHamming has ≥ 3 clean blocks, so it
    * matches EXACTLY on at least one of the C(B, 3) three-block key
    * tables — candidate generation is lossless for the threshold (that is
    * why the oracle can be brute-force all-pairs). Each key packs three
    * ≤16-bit block values into one long; signatures shuffle by
    * (table, key), an O(m·C(B,3)) narrow emit, and only same-key
    * signatures pair up. Bucket cardinality is 2^(3·64/B) (~2^32 for
    * maxHamming=3) — bounded in-bucket quadratics at any corpus size,
    * unlike bucketing on a single 16-bit slice.
    *
    * EXACT-COLLAPSE-THEN-BAND: banding runs over the m DISTINCT
    * signatures, not the n documents. Hamming(s, s') is a function of
    * the signatures alone, so identical-signature groups contribute
    * (a) their C(g, 2) member pairs at Hamming 0 — emitted directly
    * from a signature self-join — and (b) one representative each to
    * the banding, whose surviving signature pairs expand back to
    * g₁·g₂ member pairs. The result set is IDENTICAL to banding all n
    * docs, but the quadratic candidate joins see m, not n. Real corpora
    * are exactly where this matters: duplicate documents are the
    * common case at scale (the sf1 image fixture collapses 10k docs to
    * 1.7k signatures with a 552-member group; banding members would
    * put 552² rows through every shared key bucket).
    *
    * `maxGroupSize > 0` is the OUTPUT-side skew guard, the simhash
    * analogue of [[minhashNearDupPairs]]'s `maxBucketSize`: even with the
    * exact collapse, a clique of g identical signatures still OWES
    * C(g, 2) output rows — Θ(pairs) emission by definition of a pair
    * list, measured at 720 M rows / 36% of an sf30 battery before the
    * cap existed. With the cap, identical-signature groups larger than
    * `maxGroupSize` are dropped from BOTH the Hamming-0 self-join and
    * the cross expansion (output per group ≤ C(cap, 2), per signature
    * pair ≤ cap²); the flood they represent is exact duplication, which
    * the Θ(distinct sigs) canonical contract (groupBy sig → keep min id,
    * e.g. dd_phash_canonical) handles without pair emission. Recall
    * trade is explicit and one-sided: only pairs INSIDE an oversized
    * exact-dup flood are dropped. Default 0 = unlimited. */
  def simhashPairsFromSigs(
      sigs: DataFrame, idCol: String, maxHamming: Int,
      maxGroupSize: Int = 0): DataFrame = {
    require(maxHamming >= 1 && maxHamming + 3 <= 16,
      s"maxHamming out of range: $maxHamming")
    val nBlocks = maxHamming + 3
    val base = 64 / nBlocks
    val widths = Array.tabulate(nBlocks)(i => if (i < 64 % nBlocks) base + 1 else base)
    val offsets = widths.scanLeft(0)(_ + _)
    def block(i: Int): Column =
      shiftrightunsigned(col("sig"), offsets(i))
        .bitwiseAND(lit((1L << widths(i)) - 1))
    val keys = array((0 until nBlocks).combinations(3).map { c =>
      block(c(0))
        .bitwiseOR(shiftleft(block(c(1)), 16))
        .bitwiseOR(shiftleft(block(c(2)), 32))
    }.toSeq: _*)
    // The (id, sig) frame is referenced up to 5 times below (intra
    // self-join ×2, distinct banding, cross expansion ×2); without the
    // persist each reference re-executes the upstream signature scan —
    // the dominant cost when the input is a text kernel. Narrow
    // fixed-width rows (16 bytes/doc), registered as scratch.
    val allMembers = sigs.select(col(idCol), col("sig"))
    val members = scratchPersist(
      if (maxGroupSize <= 0) allMembers
      // window count over the SAME shuffle key the self-join below uses,
      // so the cap costs no extra exchange
      else allMembers
        .withColumn("__gn", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy("sig")))
        .filter(col("__gn") <= maxGroupSize)
        .drop("__gn"))
    // (a) Hamming-0 pairs: all member pairs within an identical-signature
    // group — one equi-self-join on the signature, output Σ C(g, 2).
    val intra = members.select(col("sig"), col(idCol).as("a"))
      .join(members.select(col("sig"), col(idCol).as("b")), "sig")
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"), lit(0).as("hamming"))
    // (b) Cross-signature pairs: band the distinct signatures only.
    val keyed = members.select(col("sig")).distinct()
      .select(col("sig"), posexplode(keys).as(Seq("tbl", "key")))
    val x = keyed.select(col("tbl"), col("key"), col("sig").as("siga"))
    val y = keyed.select(col("tbl"), col("key"), col("sig").as("sigb"))
    // Hamming-filter BEFORE the dedup shuffle: bit_count is a narrow
    // per-row expression, so rejecting over-threshold pairs first shrinks
    // the distinct exchange by the candidate miss rate (each surviving
    // pair still appears once per shared key table, hence the distinct).
    val sigPairs = x.hint("merge").join(y, Seq("tbl", "key"))
      .filter(col("siga") < col("sigb"))
      .withColumn("hamming", bit_count(expr("siga ^ sigb")).cast("int"))
      .filter(col("hamming") <= maxHamming)
      .select(col("siga"), col("sigb"), col("hamming")).distinct()
    // ... then expand each surviving signature pair to its member pairs.
    // siga ≠ sigb, so each unordered member pair appears exactly once;
    // least/greatest restores the a < b id order the caller expects.
    val cross = sigPairs
      .join(members.select(col("sig").as("siga"), col(idCol).as("ia")), "siga")
      .join(members.select(col("sig").as("sigb"), col(idCol).as("ib")), "sigb")
      .select(least(col("ia"), col("ib")).as("a"),
        greatest(col("ia"), col("ib")).as("b"), col("hamming"))
    intra.unionByName(cross)
  }

  /** SimHash near-dup over 64-bit signatures with pigeonhole banding —
    * full recall at the Hamming threshold, bounded buckets (see
    * [[simhashPairsFromSigs]]). */
  def simhashNearDupPairs(
      df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame =
    simhashPairsFromSigs(simhashSignatures64(df, idCol, textCol), idCol, maxHamming)

  /** Connected components over a near-dup pair list: iterative min-label
    * propagation until fixpoint — the pairs → clusters → canonical-doc
    * step every dedup pipeline runs after candidate verification.
    *
    * Each iteration is one neighbor join + one min-aggregate (two keyed
    * shuffles); iterations = component diameter, which for near-dup
    * clusters is tiny. The fixpoint is the component-minimum id —
    * well-defined independent of iteration order, so the result is
    * deterministic and an external oracle (recursive-CTE transitive
    * closure) reaches the same labels.
    *
    * The loop runs on the [[Iterate]] driver: each round's state carries
    * the old label beside the new one, so the round's one action counts
    * the moved labels over the SAME checkpointed frame — no extra
    * join-per-iteration. Lineage strategy is [[Checkpointer]]'s: local
    * checkpoints by default, reliable files under the session's
    * `spark.graft.checkpointDir`. Fails if labels still move after
    * `maxIters` rounds. Returns (id, component) for every node in a
    * pair. */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
      maxIters: Int = 50): DataFrame =
    // Both orientations from ONE pass over the pairs subtree: the union
    // form embedded the (possibly expensive — dd_cluster feeds the whole
    // minhash verify pipeline here) pairs plan twice, and while
    // ReuseExchange dedupes its shuffles, the post-shuffle verify join
    // re-executed per branch. explode of a 2-element struct array emits
    // the same two rows per pair inside one codegen stage (§2.3 shuffle
    // the same bytes, compute the input once).
    Iterate(pairs.select(explode(array(
        struct(col(aCol).as("src"), col(bCol).as("dst")),
        struct(col(bCol).as("src"), col(aCol).as("dst")))).as("__e"))
        .select(col("__e.src").as("src"), col("__e.dst").as("dst"))
        .distinct()) { loop =>
      // Lay the STATIC edge table out on the per-round join key ONCE:
      // hash-partition by dst, sort within partitions, checkpoint. A
      // checkpoint captures outputPartitioning/outputOrdering, so every
      // round's neighbor join reads the edge side with NO exchange and NO
      // sort — previously the (corpus-sized) edge frame was re-shuffled
      // and re-sorted per round while only the node-sized label table
      // changed (guide §2.4: operations keyed the same way share one
      // layout). One extra checkpoint pays for itself from round 2.
      val (edges, _) = loop.mark(
        loop.edges.repartition(loop.width, col("dst")).sortWithinPartitions("dst"))
      // FUSED FIRST ROUND: min-label propagation from labels(v) = v
      // computes exactly min(v, min neighbor id), which is one aggregate
      // over the pre-partitioned edge table (groupBy dst needs no
      // exchange) — so the init absorbs the first propagation round.
      val init = edges.groupBy(col("dst").as("id"))
        .agg(min(col("src")).as("__nbr_min"))
        .select(col("id"), col("id").as("old"),
          least(col("id"), col("__nbr_min")).as("component"))
      val (labels, moved) = loop.rounds(init, maxIters)(
        (prev, _, _) => {
          val nbrMin = edges
            .join(prev.select(col("id").as("dst"), col("component").as("nbr")), "dst")
            .groupBy(col("src").as("id")).agg(min("nbr").as("nbr_min"))
          prev.select("id", "component").join(nbrMin, Seq("id"), "left")
            .select(col("id"), col("component").as("old"),
              least(col("component"), coalesce(col("nbr_min"), col("component")))
                .as("component"))
        },
        progress = _.filter(col("component") =!= col("old")))
      require(moved == 0,
        s"connectedComponents: no fixpoint after $maxIters rounds — " +
          "component diameter exceeds the cap; raise maxIters")
      labels.select("id", "component")
    }

  /** Edit-distance near-dup with exact-prefix blocking: same-block pairs
    * verified by levenshtein over a bounded text window. The window cap is
    * the scale guard — levenshtein is O(len²), so the comparison cost per
    * pair is a constant, and blocking keeps the pair count O(bucket²)
    * instead of all-pairs. `maxBlock` is the block-skew guard (the
    * `maxGroupSize` pattern shared by the simhash/phash pair emitters): a
    * boilerplate-prefixed corpus puts m docs in ONE block and the self-join
    * emits m² pairs from a single task — blocks larger than `maxBlock` are
    * dropped whole (both join sides, so no half-pairs), costed as a window
    * count on the SAME shuffle key the join uses (no extra exchange).
    * The default cap is oracle-replayed (dd_edit_distance's DuckDB SQL
    * carries the matching QUALIFY block-count filter — the maxBasket
    * convention), so the guard binding on a skewed corpus diverges in
    * neither engine. Returns (a, b, edit_dist) with a < b. */
  def levenshteinNearDupPairs(
      df: DataFrame, idCol: String, textCol: String,
      prefixLen: Int = 30, window: Int = 120, maxDist: Int = 20,
      maxBlock: Int = 1024): DataFrame = {
    val blocked = df.select(
      col(idCol),
      md5(substring(col(textCol), 1, prefixLen)).as("blk"),
      substring(col(textCol), 1, window).as("__t"))
    val base =
      if (maxBlock <= 0) blocked
      else blocked
        .withColumn("__bn", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy("blk")))
        .filter(col("__bn") <= maxBlock)
        .drop("__bn")
    val a = base.select(col("blk"), col(idCol).as("a"), col("__t").as("ta"))
    val b = base.select(col("blk"), col(idCol).as("b"), col("__t").as("tb"))
    a.join(b, "blk").filter(col("a") < col("b"))
      .withColumn("edit_dist", levenshtein(col("ta"), col("tb")))
      .filter(col("edit_dist") <= maxDist)
      .select("a", "b", "edit_dist")
  }

  /** n-gram Jaccard near-dup with cheap exact-prefix blocking: candidates
    * share md5(prefix) buckets, then exact shingle Jaccard verifies.
    *
    * The blocking pass needs NO text kernel — just an md5 of the prefix —
    * so the shingle kernel runs exactly once, on the candidate docs alone
    * (jaccardVerify's id join). Docs shorter than k words drop out at
    * verification (the kernel yields no shingles for them), matching the
    * banded operators' semantics. Threshold 0/1 = report every candidate
    * pair's exact (inter, union) rather than filtering. */
  def prefixBlockedJaccardPairs(
      df: DataFrame, idCol: String, textCol: String,
      prefixLen: Int = 50, k: Int = 2): DataFrame = {
    val blocks = df.select(col(idCol).cast("long").as(idCol),
      md5(substring(col(textCol), 1, prefixLen)).as("blk"))
    val a = blocks.select(col("blk"), col(idCol).as("a"))
    val b = blocks.select(col("blk"), col(idCol).as("b"))
    val cands = a.hint("merge").join(b, "blk").filter(col("a") < col("b"))
      .select("a", "b")
    jaccardVerify(df, idCol, textCol, k, cands,
      thresholdNum = 0, thresholdDen = 1)
  }
}
