package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Bpe, Dedup, Packing, Sampling, TextOps}

/** Corpus-curation operators a 100 TB training-data pipeline runs between
  * ingest and tokenization: repetition scoring (the Gopher-style quality
  * rule), PII redaction, deterministic hash sampling, sequence packing,
  * and edit-distance near-dup. All oracle-checked; every ratio/threshold
  * is integer arithmetic so the hash compare is exact.
  */
object CurationOps {

  /** Bytes of shuffled window-fingerprint rows per byte of
    * scan-estimated document text (dd_span_dedup's width derivation):
    * one ~44 B (doc_id, s, fp₁₆) row per token position (~6 B of raw
    * text), times ~2× parquet→raw decompression ≈ 16. Folded into the
    * per-partition byte target the same way basketPairs folds
    * PairAmplification. */
  private val SpanAmplification = 16
  import Tables._

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Repetition quality rule (Rae et al., Gopher): the most frequent
    // word 2-gram's occurrence count vs the token count. Shape: narrow
    // gram explode → ONE (doc, gram) count shuffle → per-doc max — the
    // honest distributed form; no per-row quadratic array scans.
    "ta_repetition" -> ((s, d) => {
      val docs = documents(s, d)
        .select(col("doc_id"), TextOps.tokens(col("text")).as("ws"))
      val top = docs
        .select(col("doc_id"), explode(TextOps.allShingles(col("ws"), 2)).as("gram"))
        .groupBy("doc_id", "gram").agg(count(lit(1)).as("c"))
        .groupBy("doc_id").agg(max("c").as("top2_cnt"))
      docs.select(col("doc_id"), size(col("ws")).cast("long").as("n_tokens"))
        .join(top, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tokens"),
          coalesce(col("top2_cnt"), lit(0L)).as("top2_cnt"),
          (coalesce(col("top2_cnt"), lit(0L)) * 5 >= col("n_tokens"))
            .as("repetitive"))
        .orderBy("doc_id")
    }),

    // Deterministic epoch shuffle: the corpus reordered by a seeded
    // content hash — one balanced range-sort (uniform hash key), same
    // permutation on every engine/run/retry, new seed per epoch.
    "ta_shuffle" -> ((s, d) =>
      Sampling.deterministicShuffle(
        documents(s, d).select(col("doc_id"), col("source")),
        "doc_id", seed = "epoch0")
        .orderBy("shuffle_key", "doc_id")),

    // Rare-token (OOV-rate) quality proxy — the integer-exact stand-in
    // for a perplexity filter (CCNet-style): per doc, how many of its
    // tokens are corpus-rare (frequency ≤ 2) and the summed corpus
    // frequency of its tokens. Shape: token explode (narrow) → ONE
    // vocabulary count shuffle (map-side partials) → token-key join
    // co-partitioned with that shuffle → per-doc aggregate. All counts
    // are exact integers — no log/float, so the compare is hash-exact
    // (a real deployment maps sum_freq through log10 for the score).
    "ta_rare_tokens" -> ((s, d) => {
      val toks = documents(s, d)
        .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("tok"))
      val freq = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
      toks.join(freq, "tok")
        .groupBy("doc_id")
        .agg(
          count(lit(1)).as("n_tokens"),
          sum(when(col("cnt") <= 2, 1L).otherwise(0L)).as("n_rare"),
          sum(col("cnt")).as("sum_freq"))
        .orderBy("doc_id")
    }),

    // Vocabulary training + token-id encoding — the tokenizer-prep shape:
    // ONE corpus count shuffle trains the top-V vocab (count desc, token
    // asc — fully deterministic), the trained table collects as a BOUNDED
    // model artifact (V=256 entries, the codebook pattern) and ships back
    // as a broadcast map literal, so encoding is a NARROW per-row
    // transform — no explode, no join, no shuffle on the encode pass. At
    // 100 TB the count pass is map-side-combined (vocab-sized partials)
    // and the encode pass costs what the scan costs; OOV encodes as -1.
    "ta_vocab_encode" -> ((s, d) => {
      import s.implicits._
      val toks = documents(s, d)
        .select(col("doc_id"), TextOps.tokens(col("text")).as("ws"))
      val vocab = toks.select(explode(col("ws")).as("t"))
        .groupBy("t").agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("t").asc)
        .limit(256)
        .select("t").as[String].collect()
      val vmap = typedLit(vocab.zipWithIndex.toMap)
      toks
        .withColumn("ids", transform(col("ws"),
          t => coalesce(element_at(vmap, t), lit(-1))))
        .select(col("doc_id"),
          size(col("ids")).as("n_tokens"),
          size(filter(col("ids"), x => x === -1)).as("n_oov"),
          concat_ws(" ", transform(col("ids"), _.cast("string"))).as("ids_str"))
        .orderBy("doc_id")
    }),

    // Exact heavy hitters with bounded memory: Misra-Gries candidates
    // per partition (O(k) state), broadcast-gated exact recount, final
    // count·k > n cut — the sketch bounds memory and shuffle volume,
    // never correctness, so the result sits on the exact oracle gate.
    "ta_heavy_hitters" -> ((s, d) => {
      import s.implicits._
      val toks = documents(s, d)
        .select(explode(TextOps.tokens(col("text"))).as("t")).as[String]
      graft.operators.HeavyHitters.exactHeavyHitters(toks, 64)
    }),

    // Count-Min sketch frequency estimation (Cormode & Muthukrishnan):
    // the mergeable point-query sketch completing the family next to
    // Bloom (membership), HLL (distinct) and Misra-Gries (heavy
    // hitters). depth=4 rows × width=1024 buckets, bucket_i(tok) =
    // md5("i:"+tok) 16-bit prefix mod width — the engine-portable hash
    // the sampling family already uses, so the DuckDB oracle replays
    // the EXACT sketch. Build: token explode → 4 (row,bucket) pairs per
    // occurrence → ONE 4096-cell groupBy (map-side partials collapse
    // each partition to ≤4096 rows before the shuffle — the 100 TB
    // shape: sketch size is O(d·w), independent of corpus size, and
    // sketches of shards union-merge by cell addition). Probe: exact
    // top-20 tokens (deterministic count-desc/token-asc cut), estimate
    // = min over the 4 rows, via a broadcast of the tiny sketch. The
    // CMS guarantee est >= exact holds bit-exactly on the gate.
    "ta_cms_freq" -> ((s, d) => {
      val depth = 4
      val width = 1024L
      def bucket(row: Int, tok: org.apache.spark.sql.Column) =
        conv(substring(md5(concat(lit(s"$row:"), tok)), 1, 4), 16, 10)
          .cast("long") % width
      // ONE tokenize pass (r18, §2.3/§5): sketch and probes previously
      // each re-ran the corpus token explode (two kernel passes). Both
      // now derive from the SAME per-token count aggregate — the two
      // consumers share its exchange (ReuseExchange), and the sketch's
      // cell counts come from summing counts over DISTINCT tokens
      // (Σ over occurrences ≡ Σ over tokens of their counts, exact
      // integers), so the sketch shuffle input drops from 4×occurrences
      // to 4×vocabulary. Output is bit-identical.
      val tokCounts = documents(s, d)
        .select(explode(TextOps.tokens(col("text"))).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("exact_cnt"))
      val sketch = tokCounts
        .select(col("exact_cnt"), explode(array((0 until depth).map(i =>
          struct(lit(i).as("row"), bucket(i, col("tok")).as("bkt"))): _*))
          .as("rb"))
        .groupBy(col("rb.row").as("row"), col("rb.bkt").as("bkt"))
        .agg(sum(col("exact_cnt")).as("cnt"))
      val probes = tokCounts
        .orderBy(desc("exact_cnt"), asc("tok")).limit(20)
      probes
        .select(col("tok"), col("exact_cnt"),
          explode(array((0 until depth).map(i =>
            struct(lit(i).as("row"), bucket(i, col("tok")).as("bkt"))): _*))
            .as("rb"))
        .join(broadcast(sketch),
          col("rb.row") === sketch("row") && col("rb.bkt") === sketch("bkt"))
        .groupBy("tok", "exact_cnt")
        .agg(min(col("cnt")).as("cms_est"))
        .orderBy("tok")
    }),

    // Cross-doc boilerplate detection (Lee et al. "Deduplicating Training
    // Data" at fixed n; the C4 repeated-line rule generalized to 3-gram
    // windows): a shingle appearing in >= 5 DISTINCT docs is boilerplate,
    // and each doc reports how much of it is boilerplate. Shape: distinct-
    // shingle explode (narrow) → ONE shingle-count shuffle (map-side
    // partials; per-doc distinct makes count() = distinct-doc count) →
    // shingle-key join co-partitioned with that shuffle → per-doc
    // aggregate; short docs ride back in on a left join. All integers.
    "ta_boilerplate" -> ((s, d) => {
      val docs = documents(s, d)
      val sh = docs.select(col("doc_id"),
        explode(TextOps.shingles(TextOps.tokens(col("text")), 3)).as("sh"))
      val flood = sh.groupBy("sh").agg(count(lit(1)).as("nd"))
        .filter(col("nd") >= 5)
      val per = sh.join(flood, Seq("sh"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_shingles"),
          sum(when(col("nd").isNotNull, 1L).otherwise(0L)).as("n_boiler"))
      docs.select(col("doc_id"))
        .join(per, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
          coalesce(col("n_boiler"), lit(0L)).as("n_boiler"),
          (coalesce(col("n_boiler"), lit(0L)) * 5 >=
            coalesce(col("n_shingles"), lit(0L))).as("boilerplate_heavy"))
        .orderBy("doc_id")
    }),

    // PII redaction over deterministic synthetic PII (the corpus itself
    // is clean word-soup, so the query plants an email + phone per doc —
    // identically in the oracle — and redacts them).
    "ta_pii_redact" -> ((s, d) => {
      val aug = concat(
        substring(col("text"), 1, 40),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@mail.example.com or +1-555-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"), lit(" now"))
      documents(s, d).select(
        col("doc_id"),
        TextOps.piiRedact(aug).as("redacted"),
        size(regexp_extract_all(aug, lit(TextOps.EmailRe), lit(0)))
          .cast("long").as("n_emails"),
        size(regexp_extract_all(aug, lit(TextOps.PhoneRe), lit(0)))
          .cast("long").as("n_phones"))
        .orderBy("doc_id")
    }),

    // Deterministic stratified sample: 20% of src0, 10% elsewhere, by
    // md5 bucket of the key — reproducible across engines/retries/
    // repartitions, unlike RNG sampling (see operators/Sampling.scala).
    "ta_hash_sample" -> ((s, d) =>
      Sampling.stratified(documents(s, d), "doc_id", "source",
        Map("src0" -> 0.2), defaultRate = 0.1)
        .select(col("doc_id"), col("source"),
          Sampling.hashBucket16(col("doc_id")).as("bucket"))
        .orderBy("doc_id")),

    // Weighted (importance) sampling: inclusion probability proportional
    // to document length — P ≈ n_chars·13/65536 — as a deterministic
    // scan-side filter, no RNG
    "ta_weighted_sample" -> ((s, d) =>
      Sampling.weightedSample(documents(s, d), "doc_id", "n_chars", num = 13)
        .select(col("doc_id"), col("source"), col("n_chars"),
          Sampling.hashBucket16(col("doc_id")).as("bucket"))
        .orderBy("doc_id")),

    // Array-function battery over the token arrays: size/slice/sort/
    // contains/distinct/reverse — the §2.7-style breadth for collection
    // columns. `get` (0-based, null OOB) instead of element_at keeps the
    // empty-array behavior identical to DuckDB's 1-based list indexing
    // under ANSI mode.
    "f27_array_battery" -> ((s, d) => {
      val w = TextOps.tokens(col("text"))
      documents(s, d).select(
        col("doc_id"),
        size(w).cast("long").as("n_words"),
        concat_ws(" ", slice(w, 1, 3)).as("first3"),
        get(sort_array(w), lit(0)).as("min_word"),
        array_contains(w, "the").as("has_the"),
        size(array_distinct(w)).cast("long").as("n_uniq"),
        get(reverse(w), lit(0)).as("last_word"))
        .orderBy("doc_id")
    }),

    // Bitwise + cryptographic-hash battery (extension): the bit-twiddling
    // vocabulary sketches/fingerprints are built from (&, |, xor, shifts,
    // popcount) plus the md5/sha2 digests the dedup tier depends on —
    // each pinned against the oracle so the primitives themselves are
    // cross-engine-exact, not just the operators composed from them.
    "f28_bitwise_battery" -> ((s, d) => {
      val k = col("doc_id")
      documents(s, d).select(
        k,
        (k.bitwiseAND(lit(255L))).as("k_and"),
        (k.bitwiseOR(lit(4096L))).as("k_or"),
        (k.bitwiseXOR(lit(0x5bd1e995L))).as("k_xor"),
        shiftleft(k, 3).as("k_shl"),
        shiftright(k, 2).as("k_shr"),
        bit_count(k).cast("int").as("k_pop"),
        md5(col("text")).as("text_md5"),
        sha2(col("text"), 256).as("text_sha256"))
        .orderBy("doc_id")
    }),

    // Deterministic train/val/test split: cumulative hash cut points
    // label each doc once, appends never move old rows between splits.
    // Cut points: round(0.8*65536)=52429, +round(0.1*65536)=58983.
    "ta_split" -> ((s, d) =>
      Sampling.split(documents(s, d), "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"))
        .orderBy("split")),

    // Sequence packing: concat-then-chunk into 2048-token bins per
    // source stream — one window shuffle, integer prefix sums.
    "ta_seq_pack" -> ((s, d) =>
      Packing.seqPack(
        documents(s, d)
          .select(col("doc_id"), col("source"), TextOps.tokens(col("text")).as("ws")),
        "doc_id", "source", size(col("ws")), budget = 2048)
        .select("doc_id", "source", "n_tok", "start_offset", "bin")
        .orderBy("doc_id")),

    // Text normalization: HTML-tag strip → accent fold → whitespace
    // collapse → trim, the canonical pre-tokenization cleanup chain. All
    // codegen'd regexp/translate — scan-speed narrow maps. (The synthetic
    // corpus is clean, so markup and accents are planted deterministically,
    // identically in the oracle.)
    "ta_normalize" -> ((s, d) => {
      val dirty = concat(lit("<p>Café "), substring(col("text"), 1, 60),
        lit(" <br/>Über</p>  fin"))
      documents(s, d).select(
        col("doc_id"),
        trim(regexp_replace(
          translate(
            regexp_replace(dirty, "<[^>]*>", " "),
            "éÜüèà", "eUuea"),
          " +", " ")).as("clean"))
        .orderBy("doc_id")
    }),

    // Domain mixing: resample toward a target source mixture (40/30/20/
    // 10) at 25% of corpus size. The thresholds derive from observed
    // counts (driver-side model artifact); the applied predicate is one
    // narrow hash filter — and being hash-based, the mix is reproducible
    // across engines (the oracle re-derives identical thresholds in SQL).
    "ta_mix" -> ((s, d) =>
      Sampling.mixToTarget(documents(s, d), "doc_id", "source",
        Map("src0" -> 0.4, "src1" -> 0.3, "src2" -> 0.2, "src3" -> 0.1),
        outputFraction = 0.25)
        .select("doc_id", "source")
        .orderBy("doc_id")),

    // Salient terms per doc: tf · N/df scoring (the rational tf-idf —
    // log-free, so the score is exact integer arithmetic over a double
    // division and hash-compares across engines), top-3 per doc with
    // deterministic tie-break. Shape: one (token) df aggregate joined
    // back to one (doc, token) tf aggregate, then WindowGroupLimit.
    "ta_tfidf" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val toks = documents(s, d)
        .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("token"))
      val tf = toks.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      // df over a WINDOW on the tf table: tf already holds exactly one
      // row per (doc, token), so count(*) per token IS the distinct-doc
      // count — one tokenize pass and two keyed shuffles total, where
      // the join-against-a-second-aggregate form re-executed the whole
      // tokenize+tf chain for the df branch (2x the corpus work).
      val wd = Window.partitionBy("token")
      val nDocs = documents(s, d).agg(count(lit(1)).as("n_docs"))
      val w = Window.partitionBy("doc_id")
        .orderBy(col("score_q6").desc, col("token").asc)
      tf.withColumn("df", count(lit(1)).over(wd))
        .crossJoin(broadcast(nDocs))
        .withColumn("score_q6", round(col("tf") * col("n_docs") / col("df"), 6))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select("doc_id", "rank", "token", "tf", "df", "score_q6")
        .orderBy("doc_id", "rank")
    }),

    // BM25 relevance scoring against a fixed query — the retrieval
    // ranking a training-data curator runs to mine topical documents
    // (and the scoring half of a RAG retriever). Corpus stats (N, avgdl,
    // per-term df) are tiny driver-independent aggregates that broadcast;
    // the per-doc score is a narrow fold over at most |query| matched
    // terms, so the whole ranking is one token-explode pass + small
    // joins at any corpus size. Every arithmetic step is written
    // identically in the oracle (same literal 2.2 = k1+1, same operator
    // order), with per-term rounding at 6dp before the deterministic
    // per-doc sum.
    "ta_bm25" -> ((s, d) => {
      val qTerms = Seq("window", "hash", "stream")
      val toks = documents(s, d)
        .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("token"))
      // ONE tokenize pass: per-doc length and the |query| per-term counts
      // come out of a single (doc) aggregate — the separate dl / tf /
      // dfreq aggregates each re-executed the corpus tokenize (4 passes).
      // perDoc is one narrow row per document; registered scratch, read
      // by the stats aggregate, the tf unpivot, and the score join.
      val perDoc = Dedup.scratchPersist(
        toks.groupBy("doc_id").agg(
          count(lit(1)).as("dl"),
          qTerms.map(t =>
            sum(when(col("token") === t, 1L).otherwise(0L)).as(s"tf_$t")): _*))
      val dl = perDoc.select("doc_id", "dl")
      // integer-valued doubles sum exactly below 2^53 → avgdl is
      // reduction-order-independent
      val stats = perDoc.agg(count(lit(1)).as("n_docs"), avg("dl").as("avgdl"))
      // unpivot the fixed query terms back to (doc, token, tf) rows;
      // tf = 0 rows drop, matching the aggregate-over-matches form
      val tf = perDoc.select(col("doc_id"), explode(map(
        qTerms.flatMap(t => Seq(lit(t), col(s"tf_$t"))): _*))
        .as(Seq("token", "tf")))
        .filter(col("tf") > 0)
      val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
      val term = tf.join(broadcast(dfreq), "token")
        .join(dl, "doc_id").crossJoin(broadcast(stats))
        .withColumn("idf",
          log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
        .withColumn("bm25_term",
          round(col("idf") * col("tf") * lit(2.2) /
            (col("tf") + lit(1.2) * (lit(1.0) - lit(0.75) +
              lit(0.75) * col("dl") / col("avgdl"))), 6))
      term.groupBy("doc_id")
        .agg(round(sum("bm25_term"), 6).as("bm25_q6"),
          count(lit(1)).as("n_terms"))
        .orderBy(col("bm25_q6").desc, col("doc_id")).limit(20)
        .orderBy(col("bm25_q6").desc, col("doc_id"))
    }),

    // Corpus bigram counts, top-20 — the n-gram statistics an LM data
    // pipeline extracts for vocabulary/contamination analysis. The
    // bigram explode is a narrow per-doc transform (no joins); counting
    // is one keyed shuffle; top-k is a count-desc sort of the (bounded)
    // distinct-bigram set, never of the corpus.
    "ta_ngram_counts" -> ((s, d) => {
      val bigrams = documents(s, d)
        .select(TextOps.tokens(col("text")).as("ws"))
        .filter(size(col("ws")) > 1)
        .select(explode(expr(
          "transform(slice(ws, 1, size(ws) - 1), " +
            "(w, i) -> concat(w, ' ', element_at(ws, i + 2)))")).as("bigram"))
      bigrams.groupBy("bigram").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("bigram")).limit(20)
        .orderBy(col("n").desc, col("bigram"))
    }),

    // Repeated-SPAN removal (the Lee-et-al substring-dedup signal at
    // fixed n): every 8-token window fingerprints (md5 of the joined
    // slice); a fingerprint seen ≥2 times ANYWHERE in the corpus
    // (cross-doc or within-doc) marks its token positions covered; a
    // doc's cleaned form keeps exactly the uncovered tokens in order.
    // Scale shape (the r16 interval rewrite — the r14/r15 ladders
    // measured the original covered-POSITION form super-linear,
    // e≈1.58 on the 300×→1000× segment, because it exploded W=8 rows
    // per duplicated window, `.distinct()`ed them through a full
    // shuffle, and anti-joined them against a posexploded token table):
    // windows explode O(n_tokens) rows once, the dup set comes from one
    // fingerprint-count shuffle, and coverage now aggregates per-doc
    // covered INTERVALS — duplicated window starts collect per doc and
    // merge into disjoint [a, e] ranges in a single higher-order
    // `aggregate` pass over the sorted starts, so the rows shuffled
    // past the semi-join are O(#duplicated windows), never W× that,
    // and the cleaned text reassembles by slicing the COMPLEMENT gaps
    // out of the doc's own token array (one doc-keyed join of two
    // doc-sized tables) instead of re-shuffling every token. Output
    // carries the cleaned text's md5 so the cross-engine compare pins
    // the EXACT reconstruction, not just counts. A doc whose EVERY
    // token is covered (an exact/near-exact duplicate copy) drops out
    // of the cleaned corpus entirely — for full duplicates that is the
    // intended outcome (run exact dedup first to keep one canonical
    // copy; this pass then removes residual cross-doc boilerplate).
    "dd_span_dedup" -> ((s, d) => {
      val W = 8
      import graft.operators.Parallelism
      val docs = documents(s, d)
      val toks = docs
        .select(col("doc_id"), TextOps.tokens(col("text")).as("ws"))
      // SINGLE-PASS dup detection (the r16 1000× fix, third form): the
      // r15 two-consumer shape — scratch-persist the fingerprint table,
      // aggregate a dup set, semi-join coverage back — was measured
      // SUPER-LINEAR at the top of the ladder (sf30 19.2 → sf100
      // 109.9 s min on 3.33× data) and WIDTH-NEUTRAL (isolated sf100:
      // 109.9 s at 32 partitions, 146.1 at 128, 112.0 at 256), i.e. the
      // term is the persist itself: ~40 GB of O(n_windows) cached rows
      // fit in storage memory at 300× and thrash MEMORY_AND_DISK at
      // 1000×, paying a corpus-sized write plus two reads. So the dup
      // count now rides ONE windowed count over the fingerprint — the
      // kernel (tokenize + shingle + md5) runs once, the only wide
      // exchange is the fp-keyed window shuffle, and nothing is cached.
      // The fingerprint itself shrinks 3×: unhex(md5(·)) carries the
      // identical 128-bit value as 16 binary bytes instead of 32 hex
      // chars (~48 B UTF8String), so the one shuffle is ~half the bytes
      // — and COLLISION-IDENTICAL to the oracle's md5-string compare.
      val wins = toks.filter(size(col("ws")) >= W)
        .select(col("doc_id"),
          posexplode(TextOps.allShingles(col("ws"), W)).as(Seq("i0", "sh")))
        .select(col("doc_id"), (col("i0") + 1).as("s"),
          unhex(md5(col("sh"))).as("fp"))
      // SKEW BOUND of the bare fp window (r16 ADVICE, adjudicated by
      // measurement r17): a corpus-hot boilerplate shingle concentrates
      // its whole partition in one task, which WindowExec buffers in a
      // spillable ExternalAppendOnlyUnsafeRowBuffer — the degenerate
      // case externally sorts one hot slab on disk, degraded but never
      // OOM, and every non-hot fingerprint is unaffected. The salted
      // alternative the ADVICE sketched was BUILT and MEASURED: salt =
      // pmod(hash(doc_id, s), 32), per-(fp, salt) groupBy counts (map-
      // side partials kill the skew), per-fp window over the slice
      // summaries, semi-join back on (fp, salt). Its plan is skew-free
      // — and it re-runs the shingle kernel in both consumers (Catalyst
      // prunes the dead window off the broadcast semi-join's row side,
      // so no exchange is shared), which measured 1.816 s vs 1.157
      // isolated at sf0.1 (+57 %) and 10.08 s vs 6.95 at sf10 (+45 %):
      // the insurance against a degenerate corpus costs half again the
      // query at every real scale. So the single-kernel window stays,
      // and the skew ceiling — one spilled sort of the hot slab — is
      // the documented trade (SCALE.md r17 records the A/B).
      val winSpec = org.apache.spark.sql.expressions.Window.partitionBy("fp")
      val covered = wins
        .withColumn("__c", count(lit(1)).over(winSpec))
        .filter(col("__c") >= 2)
        .groupBy("doc_id")
        .agg(sort_array(collect_list(col("s"))).as("starts"))
        .select(col("doc_id"), expr(s"""
          aggregate(
            starts,
            cast(array() as array<struct<a: bigint, e: bigint>>),
            (acc, x) -> if(size(acc) > 0 and element_at(acc, -1).e >= x - 1,
              concat(slice(acc, 1, size(acc) - 1),
                array(named_struct(
                  'a', element_at(acc, -1).a,
                  'e', greatest(element_at(acc, -1).e,
                                cast(x + ${W - 1} as bigint))))),
              concat(acc, array(named_struct(
                'a', cast(x as bigint),
                'e', cast(x + ${W - 1} as bigint))))))""").as("ivs"))
      // complement gaps: kept ranges are [1, ivs₀.a−1], [ivsᵢ.e+1,
      // ivsᵢ₊₁.a−1], [ivsₗ.e+1, n_tokens]; the cleaned text is the
      // doc's own array sliced at those gaps — no per-token shuffle,
      // no per-position membership test.
      val cleaned = toks
        .join(covered, Seq("doc_id"), "left")
        .select(col("doc_id"), col("ws"),
          size(col("ws")).cast("long").as("n_tokens"),
          coalesce(col("ivs"),
            expr("cast(array() as array<struct<a: bigint, e: bigint>>)"))
            .as("ivs"))
        .select(col("doc_id"), col("n_tokens"), expr("""
          flatten(zip_with(
            concat(array(cast(1 as bigint)), transform(ivs, iv -> iv.e + 1)),
            concat(transform(ivs, iv -> iv.a - 1), array(n_tokens)),
            (ga, ge) -> if(ge >= ga,
              slice(ws, cast(ga as int), cast(ge - ga + 1 as int)),
              cast(array() as array<string>))))""").as("kept"))
        .filter(size(col("kept")) >= 1)
        .select(col("doc_id"), col("n_tokens"),
          (col("n_tokens") - size(col("kept"))).as("n_removed"),
          md5(concat_ws(" ", col("kept"))).as("cleaned_md5"))
      // the fp window shuffle carries ~16× the scan-estimated text
      // bytes (one ~44 B (doc_id, s, fp₁₆) row per ~6 B token position,
      // times parquet→raw decompression), so the width derives from the
      // scan with that amplification folded into the per-partition
      // target — at the fixture scales the floor keeps plans identical
      // (nSpan = cores through sf10), and at 1000× the per-task window
      // sort stays in memory instead of external-sorting 700 MB slices.
      // Parallelism.materialize: only the per-doc OUTPUT persists
      // (registered scratch — Verify/Bench release per query), executed
      // inside the scope; the orderBy tail stays deferred.
      val nSpan = Parallelism.forPlanBytes(
        docs.select(col("doc_id"), col("text")),
        Parallelism.TargetPartitionBytes / SpanAmplification)
      Parallelism.materialize(s, nSpan)(cleaned).orderBy("doc_id")
    }),

    // PMI collocation mining: ln(c_xy·N·N / (N2·c_x·c_y)) for bigrams
    // with support ≥ 5 — the classic corpus-collocation score. FLOAT-SAFE
    // by construction: every input is an integer aggregate, both
    // numerator and denominator products stay under 2^53 (exact
    // doubles), and the single ln runs once per OUTPUT row — no float
    // sum whose order could drift between engines. (Past ~1e12 tokens
    // N·N itself exceeds 2^53: rescale counts to per-million BEFORE the
    // ratio — same one-ln shape, same determinism.) Scale shape: two
    // map-side-combined count aggregates, bigrams join their two
    // unigram counts (unigram side bounded by vocabulary, broadcast),
    // scalar totals are 1-row broadcast literals.
    "ta_pmi" -> ((s, d) => {
      val toks = documents(s, d)
        .select(col("doc_id"), TextOps.tokens(col("text")).as("ws"))
      // uni and bi are vocabulary-bounded aggregates each read 2-3 times
      // below (two broadcast sides + the scalar totals) — un-persisted,
      // every read re-ran the corpus tokenize pass (5 executions total);
      // registered scratch cuts that to the two aggregate builds. The
      // bigram pass rides the native shingle kernel (tokens contain no
      // spaces, so the split_part round-trip is exact).
      val uni = Dedup.scratchPersist(
        toks.select(explode(col("ws")).as("w"))
          .groupBy("w").agg(count(lit(1)).as("c1")))
      val bi = Dedup.scratchPersist(
        toks.filter(size(col("ws")) > 1)
          .select(explode(TextOps.allShingles(col("ws"), 2)).as("g"))
          .select(split_part(col("g"), lit(" "), lit(1)).as("x"),
            split_part(col("g"), lit(" "), lit(2)).as("y"))
          .groupBy("x", "y").agg(count(lit(1)).as("cxy"))
          .filter(col("cxy") >= 5))
      val totals = uni.agg(sum("c1").as("n1")).crossJoin(
        bi.agg(sum("cxy").as("n2")))
      bi.join(broadcast(uni.select(col("w").as("x"), col("c1").as("cx"))), "x")
        .join(broadcast(uni.select(col("w").as("y"), col("c1").as("cy"))), "y")
        .crossJoin(broadcast(totals))
        .withColumn("pmi", round(log(
          (col("cxy").cast("double") * col("n1") * col("n1")) /
            (col("n2").cast("double") * col("cx") * col("cy"))), 6))
        .select(col("x"), col("y"), col("cxy"), col("pmi"))
        .orderBy(col("pmi").desc, col("x"), col("y")).limit(20)
        .orderBy(col("pmi").desc, col("x"), col("y"))
    }),

    // Edit-distance near-dup: prefix-blocked pairs, bounded-window
    // levenshtein verify.
    "dd_edit_distance" -> ((s, d) =>
      Dedup.levenshteinNearDupPairs(documents(s, d), "doc_id", "text")
        .orderBy("a", "b")),

    // Document chunking: overlapping token windows (width 50, stride 40)
    // — the context-window pre-split before embedding/tokenization. One
    // narrow transform+explode; rows amplify by ~n_tokens/stride with no
    // shuffle until the presentation sort.
    "ta_chunk" -> ((s, d) =>
      documents(s, d)
        .select(col("doc_id"), TextOps.tokens(col("text")).as("ws"))
        .filter(size(col("ws")) > 0)
        .select(col("doc_id"), posexplode(transform(
          sequence(lit(1), size(col("ws")), lit(40)),
          st => struct(
            st.as("start"),
            concat_ws(" ", slice(col("ws"), st, lit(50))).as("chunk"),
            size(slice(col("ws"), st, lit(50))).cast("long").as("n_tok"))))
          .as(Seq("chunk_idx", "c")))
        .select(col("doc_id"), col("chunk_idx"), col("c.start").as("start"),
          col("c.chunk").as("chunk"), col("c.n_tok").as("n_tok"))
        .orderBy("doc_id", "chunk_idx")),

    // BPE tokenizer TRAINING: one distributed word-count pass cut to a
    // bounded frequency table (count desc, word asc — the model-artifact
    // boundary, the codebook pattern), then driver-side merge training.
    // The oracle replays the ENTIRE training in SQL with no literals:
    // each level re-encodes the word table under the previous levels'
    // argmax merges (scalar subqueries) and derives the next argmax +
    // frequency — the trained model itself sits on the hash gate.
    "ta_bpe_merges" -> ((s, d) => {
      import s.implicits._
      Bpe.trainMerges(
        Bpe.wordCounts(documents(s, d), "text", BpeTopWords), BpeMerges)
        .toSeq.map(m => (m.rank, m.left, m.right, m.freq))
        .toDF("merge_rank", "left_sym", "right_sym", "freq")
        .orderBy("merge_rank")
    }),

    // Distributed BPE ENCODE: every token runs the codegen'd
    // regexp_replace + literal-replace chain (narrow map, no UDF, no
    // shuffle until the per-doc aggregate); emits per-doc word/char/
    // BPE-token counts — chars vs BPE tokens is the compression the
    // merges buy.
    "ta_bpe_encode" -> ((s, d) => {
      val merges = Bpe.trainMerges(
        Bpe.wordCounts(documents(s, d), "text", BpeTopWords), BpeMerges).toSeq
      documents(s, d)
        .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("w"))
        .withColumn("enc", Bpe.encodeWordCol(col("w"), merges))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_words"),
          sum(length(col("w"))).cast("long").as("n_chars"),
          sum(Bpe.symbolCountCol(col("enc"))).cast("long").as("n_bpe_tokens"))
        .orderBy("doc_id")
    })
  )

  private val BpeTopWords = 1000
  private val BpeMerges = 10

  /** SQL fragment: the symbol list of a bracketed encoding column. */
  private val bpeSyms = """regexp_extract_all(s, '\[([^\]]*)\]', 1)"""

  /** SQL fragment: apply the argmax merge of CTE `m` to column `s` —
    * left-to-right non-overlapping replace ≡ the greedy fuse. */
  private def bpeApply(m: String): String =
    s"replace(s, '[' || (SELECT l FROM $m) || '][' || (SELECT r FROM $m) || ']', " +
      s"'[' || (SELECT l FROM $m) || (SELECT r FROM $m) || ']')"

  /** The full training replay as chained CTEs (each starts with ", "):
    * word-frequency cut, char-split base encoding, then per level k the
    * weighted adjacent-pair counts, the (freq desc, l asc, r asc) argmax,
    * and the re-encoded word table. Every CTE is MATERIALIZED: DuckDB
    * inlines CTEs by default, and with each level referencing the
    * previous one from multiple scalar subqueries the inlined plan grows
    * exponentially in the level count (observed as a file-handle
    * explosion); materialization makes the chain linear. */
  private def bpeTrainingCtes: String = {
    val sb = new StringBuilder
    sb ++= ", tok AS MATERIALIZED (SELECT doc_id, unnest(ws) AS t FROM w)"
    sb ++= s", wf AS MATERIALIZED (SELECT t AS word, CAST(count(*) AS BIGINT) AS c FROM tok " +
      s"GROUP BY 1 ORDER BY c DESC, word ASC LIMIT $BpeTopWords)"
    sb ++= """, e0 AS MATERIALIZED (SELECT word, c, regexp_replace(word, '(.)', '[\1]', 'g') AS s FROM wf)"""
    for (k <- 1 to BpeMerges) {
      sb ++= s", y$k AS MATERIALIZED (SELECT c, $bpeSyms AS sy FROM e${k - 1})"
      sb ++= s", p$k AS MATERIALIZED (SELECT p.l AS l, p.r AS r, CAST(sum(c) AS BIGINT) AS f FROM (" +
        s"SELECT unnest(list_transform(range(1, len(sy)), " +
        s"i -> struct_pack(l := sy[i], r := sy[i+1]))) AS p, c FROM y$k) GROUP BY 1, 2)"
      sb ++= s", m$k AS MATERIALIZED (SELECT l, r, f FROM p$k ORDER BY f DESC, l ASC, r ASC LIMIT 1)"
      sb ++= s", e$k AS MATERIALIZED (SELECT word, c, ${bpeApply(s"m$k")} AS s FROM e${k - 1})"
    }
    sb.toString
  }

  private val wordsCte =
    "SELECT doc_id, source, list_filter(regexp_split_to_array(lower(regexp_replace(text, '[^a-z0-9 ]', ' ', 'g')), ' +'), x -> x <> '') AS ws FROM documents"

  def oracleSql: Map[String, String] = Map(
    // full BPE training replay, no literals: each level's argmax derives
    // from the previous levels' re-encoding via scalar subqueries
    "ta_bpe_merges" ->
      ("WITH w AS (" + wordsCte + ")" + bpeTrainingCtes + " " +
        (1 to BpeMerges).map(k =>
          s"SELECT $k AS merge_rank, l AS left_sym, r AS right_sym, f AS freq FROM m$k")
          .mkString("", " UNION ALL ", " ORDER BY merge_rank")),
    // same training replay, then every DISTINCT corpus word re-encodes
    // under the derived merges and joins back to the token stream
    "ta_bpe_encode" ->
      ("WITH w AS (" + wordsCte + ")" + bpeTrainingCtes +
        ", dw AS MATERIALIZED (SELECT DISTINCT t AS word FROM tok)" +
        """, d0 AS MATERIALIZED (SELECT word, regexp_replace(word, '(.)', '[\1]', 'g') AS s FROM dw)""" +
        (1 to BpeMerges).map(k =>
          s", d$k AS MATERIALIZED (SELECT word, ${bpeApply(s"m$k")} AS s FROM d${k - 1})")
          .mkString +
        s", denc AS MATERIALIZED (SELECT word, length(s) - length(replace(s, '[', '')) AS n_sym FROM d$BpeMerges) " +
        "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words, " +
        "CAST(sum(length(t)) AS BIGINT) AS n_chars, " +
        "CAST(sum(n_sym) AS BIGINT) AS n_bpe_tokens " +
        "FROM tok JOIN denc ON tok.t = denc.word " +
        "GROUP BY doc_id ORDER BY doc_id"),
    // the exact definition the MG+recount pipeline guarantees: every
    // token with count·64 > corpus total, exact counts
    "ta_heavy_hitters" ->
      ("WITH w AS (" + wordsCte + "), " +
        "tok AS (SELECT unnest(ws) AS item FROM w), " +
        "tot AS (SELECT count(*) AS n FROM tok) " +
        "SELECT item, count(*) AS cnt FROM tok CROSS JOIN tot " +
        "GROUP BY item, tot.n HAVING count(*) * 64 > tot.n " +
        "ORDER BY cnt DESC, item"),
    // full CMS replay: same md5("i:"+tok) 16-bit-prefix mod-1024
    // buckets, same 4×1024 cell counts, same top-20 probe cut, same
    // min-over-rows estimate — bit-exact
    "ta_cms_freq" ->
      ("WITH w AS (" + wordsCte + "), " +
        "tok AS (SELECT unnest(ws) AS tok FROM w), " +
        "hashed AS (SELECT tok, i, " +
        "CAST('0x' || substr(md5(CAST(i AS VARCHAR) || ':' || tok), 1, 4) AS BIGINT) % 1024 AS bkt " +
        "FROM tok CROSS JOIN range(4) r(i)), " +
        "sketch AS (SELECT i, bkt, count(*) AS cnt FROM hashed GROUP BY 1, 2), " +
        "probes AS (SELECT tok, count(*) AS exact_cnt FROM tok GROUP BY tok " +
        "ORDER BY exact_cnt DESC, tok LIMIT 20) " +
        "SELECT p.tok, p.exact_cnt, min(s.cnt) AS cms_est " +
        "FROM probes p CROSS JOIN range(4) r(i) JOIN sketch s ON s.i = r.i " +
        "AND s.bkt = CAST('0x' || substr(md5(CAST(r.i AS VARCHAR) || ':' || p.tok), 1, 4) AS BIGINT) % 1024 " +
        "GROUP BY 1, 2 ORDER BY tok"),
    // vocab = global top-256 by (count desc, token asc) — the same
    // deterministic cut Spark trains; per-token ids re-assemble in
    // position order via string_agg(... ORDER BY i)
    "ta_vocab_encode" ->
      ("WITH w AS (" + wordsCte + "), " +
        "tok AS (SELECT doc_id, unnest(ws) AS t FROM w), " +
        "cnt AS (SELECT t, count(*) AS c FROM tok GROUP BY 1), " +
        "vocab AS (SELECT t, row_number() OVER (ORDER BY c DESC, t ASC) - 1 AS id " +
        "FROM cnt ORDER BY c DESC, t ASC LIMIT 256), " +
        "tokp AS (SELECT w.doc_id, i, coalesce(v.id, -1) AS id " +
        "FROM w CROSS JOIN range(1, 600) r(i) " +
        "LEFT JOIN vocab v ON w.ws[i] = v.t WHERE i <= len(w.ws)), " +
        "enc AS (SELECT doc_id, count(*) AS n_tokens, " +
        "sum(CASE WHEN id = -1 THEN 1 ELSE 0 END) AS n_oov, " +
        "string_agg(CAST(id AS VARCHAR), ' ' ORDER BY i) AS ids_str " +
        "FROM tokp GROUP BY 1) " +
        "SELECT w.doc_id, CAST(coalesce(enc.n_tokens, 0) AS INTEGER) AS n_tokens, " +
        "CAST(coalesce(enc.n_oov, 0) AS INTEGER) AS n_oov, " +
        "coalesce(enc.ids_str, '') AS ids_str " +
        "FROM w LEFT JOIN enc ON w.doc_id = enc.doc_id ORDER BY w.doc_id"),
    // distinct 3-gram shingles per doc (ws[i:i+2] is DuckDB's inclusive
    // 3-slice), flood = shingles in >= 5 docs, per-doc boilerplate counts;
    // docs shorter than 3 tokens re-enter on the left join with zeros
    "ta_boilerplate" ->
      ("WITH w AS (" + wordsCte + "), " +
        "sh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(ws)-1), i -> array_to_string(ws[i:i+2], ' ')))) AS sh " +
        "FROM w WHERE len(ws) >= 3), " +
        "flood AS (SELECT sh FROM sh GROUP BY sh HAVING count(*) >= 5), " +
        "per AS (SELECT s.doc_id, count(*) AS n_shingles, " +
        "CAST(sum(CASE WHEN f.sh IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler " +
        "FROM sh s LEFT JOIN flood f ON s.sh = f.sh GROUP BY s.doc_id) " +
        "SELECT d.doc_id, COALESCE(per.n_shingles, 0) AS n_shingles, " +
        "COALESCE(per.n_boiler, 0) AS n_boiler, " +
        "COALESCE(per.n_boiler, 0) * 5 >= COALESCE(per.n_shingles, 0) AS boilerplate_heavy " +
        "FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id ORDER BY d.doc_id"),
    "ta_repetition" ->
      ("WITH w AS (" + wordsCte + "), " +
        "g AS (SELECT doc_id, unnest(list_transform(range(1, len(ws)), i -> array_to_string(ws[i:i+1], ' '))) AS gram FROM w), " +
        "c AS (SELECT doc_id, gram, count(*) AS c FROM g GROUP BY 1, 2), " +
        "m AS (SELECT doc_id, max(c) AS top2_cnt FROM c GROUP BY 1) " +
        "SELECT w.doc_id, CAST(len(w.ws) AS BIGINT) AS n_tokens, " +
        "CAST(coalesce(m.top2_cnt, 0) AS BIGINT) AS top2_cnt, " +
        "coalesce(m.top2_cnt, 0) * 5 >= len(w.ws) AS repetitive " +
        "FROM w LEFT JOIN m ON w.doc_id = m.doc_id ORDER BY w.doc_id"),
    "ta_pii_redact" ->
      ("WITH a AS (SELECT doc_id, substring(text, 1, 40) || ' contact user' || " +
        "CAST(doc_id AS VARCHAR) || '@mail.example.com or +1-555-' || " +
        "lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' now' AS aug FROM documents) " +
        "SELECT doc_id, " +
        s"regexp_replace(regexp_replace(aug, '${TextOps.EmailRe}', '[EMAIL]', 'g'), '${TextOps.PhoneRe}', '[PHONE]', 'g') AS redacted, " +
        s"CAST(len(regexp_extract_all(aug, '${TextOps.EmailRe}')) AS BIGINT) AS n_emails, " +
        s"CAST(len(regexp_extract_all(aug, '${TextOps.PhoneRe}')) AS BIGINT) AS n_phones " +
        "FROM a ORDER BY doc_id"),
    "ta_shuffle" ->
      ("SELECT doc_id, source, md5('epoch0:' || CAST(doc_id AS VARCHAR)) AS shuffle_key " +
        "FROM documents ORDER BY shuffle_key, doc_id"),
    "ta_rare_tokens" ->
      ("WITH w AS (" + wordsCte + "), " +
        "tok AS (SELECT doc_id, unnest(ws) AS tok FROM w), " +
        "freq AS (SELECT tok, count(*) AS cnt FROM tok GROUP BY tok) " +
        "SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens, " +
        "CAST(sum(CASE WHEN f.cnt <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare, " +
        "CAST(sum(f.cnt) AS BIGINT) AS sum_freq " +
        "FROM tok t JOIN freq f ON t.tok = f.tok " +
        "GROUP BY t.doc_id ORDER BY doc_id"),
    "ta_hash_sample" ->
      ("SELECT doc_id, source, CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS BIGINT) AS bucket " +
        "FROM documents " +
        "WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS BIGINT) < " +
        "CASE WHEN source = 'src0' THEN 13107 ELSE 6554 END " +
        "ORDER BY doc_id"),
    // exact-integer weighted threshold: bucket < min(n_chars·13, 65536)
    "ta_weighted_sample" ->
      ("SELECT doc_id, source, n_chars, CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS BIGINT) AS bucket " +
        "FROM documents " +
        "WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS BIGINT) < " +
        "least(CAST(n_chars AS BIGINT) * 13, 65536) " +
        "ORDER BY doc_id"),
    // ws[1:3] / ws[-1] clamp on short lists exactly like Spark's
    // slice/get-null behavior
    "f28_bitwise_battery" ->
      ("SELECT doc_id, doc_id & 255 AS k_and, doc_id | 4096 AS k_or, " +
        "xor(doc_id, 1540483477) AS k_xor, doc_id << 3 AS k_shl, " +
        "doc_id >> 2 AS k_shr, CAST(bit_count(doc_id) AS INTEGER) AS k_pop, " +
        "md5(text) AS text_md5, sha256(text) AS text_sha256 " +
        "FROM documents ORDER BY doc_id"),
    "f27_array_battery" ->
      ("WITH w AS (" + wordsCte + ") " +
        "SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_words, " +
        "array_to_string(ws[1:3], ' ') AS first3, " +
        "list_sort(ws)[1] AS min_word, " +
        "list_contains(ws, 'the') AS has_the, " +
        "CAST(len(list_distinct(ws)) AS BIGINT) AS n_uniq, " +
        "ws[-1] AS last_word FROM w ORDER BY doc_id"),
    // same cumulative cut points as Sampling.split's scanLeft rounding
    "ta_split" ->
      ("WITH b AS (SELECT n_chars, " +
        "CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS BIGINT) AS bkt " +
        "FROM documents) " +
        "SELECT CASE WHEN bkt < 52429 THEN 'train' WHEN bkt < 58983 THEN 'val' ELSE 'test' END AS split, " +
        "count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars " +
        "FROM b GROUP BY 1 ORDER BY split"),
    "ta_seq_pack" ->
      ("WITH w AS (" + wordsCte + "), " +
        "t AS (SELECT doc_id, source, CAST(len(ws) AS BIGINT) AS n_tok FROM w), " +
        // CAST the running sum: DuckDB widens sum(BIGINT) to HUGEINT,
        // which pandas would surface as float
        "o AS (SELECT doc_id, source, n_tok, " +
        "CAST(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - n_tok AS start_offset FROM t) " +
        "SELECT doc_id, source, n_tok, start_offset, " +
        "CAST(floor(start_offset / 2048) AS BIGINT) AS bin FROM o ORDER BY doc_id"),
    "ta_normalize" ->
      ("WITH a AS (SELECT doc_id, '<p>Café ' || substring(text, 1, 60) || ' <br/>Über</p>  fin' AS dirty FROM documents) " +
        "SELECT doc_id, trim(regexp_replace(" +
        "translate(regexp_replace(dirty, '<[^>]*>', ' ', 'g'), 'éÜüèà', 'eUuea'), " +
        "' +', ' ', 'g')) AS clean FROM a ORDER BY doc_id"),
    "ta_mix" ->
      ("WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY source), " +
        "tot AS (SELECT sum(n) AS total FROM c), " +
        // threshold arithmetic mirrors Sampling.mixToTarget's evaluation
        // order exactly: ((0.25 * total) * w / n) * 65536, round, cap
        "thr AS (SELECT c.source, least(65536, round(0.25 * tot.total * " +
        "CASE c.source WHEN 'src0' THEN 0.4 WHEN 'src1' THEN 0.3 " +
        "WHEN 'src2' THEN 0.2 WHEN 'src3' THEN 0.1 ELSE 0 END / c.n * 65536)) AS t " +
        "FROM c, tot) " +
        "SELECT d.doc_id, d.source FROM documents d JOIN thr ON d.source = thr.source " +
        "WHERE CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4) AS BIGINT) < thr.t " +
        "ORDER BY d.doc_id"),
    "ta_tfidf" ->
      ("WITH w AS (" + wordsCte + "), " +
        "toks AS (SELECT doc_id, unnest(ws) AS token FROM w), " +
        "tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY 1, 2), " +
        "dfreq AS (SELECT token, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1), " +
        "nd AS (SELECT count(*) AS n_docs FROM documents), " +
        "scored AS (SELECT tf.doc_id, tf.token, tf.tf, dfreq.df, " +
        "round(tf.tf * nd.n_docs / dfreq.df, 6) AS score_q6 " +
        "FROM tf JOIN dfreq ON tf.token = dfreq.token, nd) " +
        "SELECT doc_id, CAST(row_number() OVER (PARTITION BY doc_id ORDER BY score_q6 DESC, token ASC) AS INTEGER) AS rank, " +
        "token, tf, df, score_q6 FROM scored QUALIFY rank <= 3 ORDER BY doc_id, rank"),
    "ta_chunk" ->
      ("WITH w AS (" + wordsCte + "), " +
        "c AS (SELECT doc_id, unnest(range(1, len(ws) + 1, 40)) AS st, ws " +
        "FROM w WHERE len(ws) > 0) " +
        "SELECT doc_id, CAST((st - 1) // 40 AS INTEGER) AS chunk_idx, " +
        "CAST(st AS INTEGER) AS start, " +
        "array_to_string(ws[st:st+49], ' ') AS chunk, " +
        "CAST(len(ws[st:st+49]) AS BIGINT) AS n_tok " +
        "FROM c ORDER BY doc_id, chunk_idx"),
    // arithmetic written step-for-step as the Spark side (literal 2.2,
    // same operator order) so the doubles agree bit-for-bit before the
    // 6dp round
    "ta_bm25" ->
      ("WITH w AS (" + wordsCte + "), " +
        "toks AS (SELECT doc_id, unnest(ws) AS token FROM w), " +
        "dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1), " +
        "stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl), " +
        "tf AS (SELECT doc_id, token, count(*) AS tf FROM toks " +
        "WHERE token IN ('window', 'hash', 'stream') GROUP BY 1, 2), " +
        "dfreq AS (SELECT token, count(DISTINCT doc_id) AS df FROM toks " +
        "WHERE token IN ('window', 'hash', 'stream') GROUP BY 1), " +
        "term AS (SELECT tf.doc_id, " +
        "round(ln(1.0 + (s.n_docs - f.df + 0.5) / (f.df + 0.5)) * tf.tf * 2.2 / " +
        "(tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / s.avgdl)), 6) AS bm25_term " +
        "FROM tf JOIN dfreq f USING (token) JOIN dl USING (doc_id), stats s) " +
        "SELECT doc_id, round(sum(bm25_term), 6) AS bm25_q6, count(*) AS n_terms " +
        "FROM term GROUP BY 1 ORDER BY bm25_q6 DESC, doc_id LIMIT 20"),
    "ta_ngram_counts" ->
      ("WITH w AS (" + wordsCte + "), " +
        "bg AS (SELECT unnest(list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i + 1])) AS bigram " +
        "FROM w WHERE len(ws) > 1) " +
        "SELECT bigram, count(*) AS n FROM bg GROUP BY 1 " +
        "ORDER BY n DESC, bigram LIMIT 20"),
    // same window fingerprints, dup set, coverage anti-join, and ordered
    // md5 reassembly; parallel unnests zip token/position
    "dd_span_dedup" ->
      ("WITH w AS (" + wordsCte + "), " +
        "wins AS (SELECT doc_id, p.s AS s, p.fp AS fp FROM (" +
        "SELECT doc_id, unnest(list_transform(range(1, len(ws) - 6), i -> " +
        "struct_pack(s := i, fp := md5(array_to_string(ws[i:i+7], ' '))))) AS p " +
        "FROM w WHERE len(ws) >= 8)), " +
        "dups AS (SELECT fp FROM wins GROUP BY fp HAVING count(*) >= 2), " +
        "cov AS (SELECT DISTINCT doc_id, pos FROM (" +
        "SELECT wins.doc_id, unnest(range(s, s + 8)) AS pos " +
        "FROM wins JOIN dups USING (fp))), " +
        "tokp AS (SELECT doc_id, len(ws) AS n_tokens, unnest(ws) AS tok, " +
        "unnest(range(1, len(ws) + 1)) AS pos FROM w), " +
        "kept AS (SELECT t.* FROM tokp t ANTI JOIN cov USING (doc_id, pos)) " +
        "SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, " +
        "CAST(n_tokens - count(*) AS BIGINT) AS n_removed, " +
        "md5(string_agg(tok, ' ' ORDER BY pos)) AS cleaned_md5 " +
        "FROM kept GROUP BY doc_id, n_tokens ORDER BY doc_id"),
    // identical integer products inside one ln per row: the double
    // division is exact-over-exact (< 2^53), so both engines see the
    // same argument and round the same 6dp value
    "ta_pmi" ->
      ("WITH w AS (" + wordsCte + "), " +
        "tokn AS (SELECT unnest(ws) AS t FROM w), " +
        "uni AS (SELECT t AS wd, CAST(count(*) AS BIGINT) AS c1 FROM tokn GROUP BY 1), " +
        "bg AS (SELECT p.x AS x, p.y AS y, CAST(count(*) AS BIGINT) AS cxy FROM (" +
        "SELECT unnest(list_transform(range(1, len(ws)), " +
        "i -> struct_pack(x := ws[i], y := ws[i + 1]))) AS p " +
        "FROM w WHERE len(ws) > 1) GROUP BY 1, 2 HAVING count(*) >= 5), " +
        "tot AS (SELECT (SELECT CAST(sum(c1) AS BIGINT) FROM uni) AS n1, " +
        "(SELECT CAST(sum(cxy) AS BIGINT) FROM bg) AS n2) " +
        "SELECT x, y, cxy, round(ln(" +
        "(CAST(cxy AS DOUBLE) * n1 * n1) / (CAST(n2 AS DOUBLE) * ux.c1 * uy.c1)" +
        "), 6) AS pmi " +
        "FROM bg JOIN uni ux ON bg.x = ux.wd JOIN uni uy ON bg.y = uy.wd " +
        "CROSS JOIN tot " +
        "ORDER BY pmi DESC, x, y LIMIT 20"),
    // QUALIFY replays the operator's maxBlock=1024 skew guard (the
    // maxBasket convention: guard stays default-ON at scale AND the
    // oracle replays it, so a corpus with a >1024-doc prefix block
    // diverges in neither engine). Never binds on the fixtures — gate
    // output is the unguarded result.
    "dd_edit_distance" ->
      ("WITH b0 AS (SELECT doc_id, md5(substring(text, 1, 30)) AS blk, " +
        "substring(text, 1, 120) AS t FROM documents), " +
        "b AS (SELECT * FROM b0 " +
        "QUALIFY count(*) OVER (PARTITION BY blk) <= 1024) " +
        "SELECT x.doc_id AS a, y.doc_id AS b, " +
        "CAST(levenshtein(x.t, y.t) AS INTEGER) AS edit_dist " +
        "FROM b x JOIN b y ON x.blk = y.blk AND x.doc_id < y.doc_id " +
        "WHERE levenshtein(x.t, y.t) <= 20 ORDER BY a, b")
  )
}
