package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic scale-up of the driver's test fixtures: tiles each fact
  * table `factor` times with per-copy key offsets, so sf1 = 10 disjoint
  * sf0.1-shaped shards sharing the fixed dimensions (region/nation) —
  * the same scaling law TPC-H uses (more keys at the same per-key
  * density), which is what a 100 TB corpus looks like relative to a
  * 10 TB one.
  *
  * Content perturbation keeps the SIMILARITY structure linear:
  *  - `documents.text` is letter-permuted by the copy index: a full
  *    26-letter substitution (Fisher-Yates seeded by splitmix64(copy),
  *    case-preserving, applied via one codegen'd `translate`; copy 0 is
  *    the identity) — every copy keeps identical lengths,
  *    token-equality structure, and in-copy duplicate clusters, while
  *    cross-copy shingle overlap drops to ~zero. Naive tiling would
  *    instead make each document near-identical to its 9 clones: 45
  *    extra near-dup pairs per document, a QUADRATIC blowup in
  *    candidate pairs that would masquerade as super-linear operator
  *    cost. sf1 must mean "10x the clusters", not "every cluster x10".
  *    The first implementation was a Caesar SHIFT of the copy index —
  *    mod 26, so at factor > 26 copies i ≡ i' (mod 26) carried
  *    IDENTICAL text: at factor 1000 every base document would acquire
  *    ~38 exact cross-copy clones, pairs ∝ n_base·factor²/52 — the
  *    exact quadratic artifact this perturbation exists to prevent,
  *    reintroduced by the generator itself. A seeded permutation has
  *    26!−1 non-identity states; collisions across 1000 copies are
  *    ruled out by construction (distinct seeds → checked distinct
  *    mappings at build time).
  *  - `embeddings.embedding` is sign-flipped per copy: every vector in
  *    copy i multiplies elementwise by the same deterministic ±1
  *    pattern (a diagonal orthogonal matrix), so norms and all IN-copy
  *    angles are EXACTLY preserved while cross-copy cosine collapses to
  *    a random-sign sum (~N(0, 1/√dim)). Circular rotation — the first
  *    attempt — is also orthogonal but decorrelates only vectors that
  *    look like white noise; these embeddings are smooth enough that a
  *    1..9-position shift kept cross-copy cosine above the near-dup
  *    thresholds, and the sf1 pair count grew ~90x instead of 10x
  *    (measured: dd_semantic 873 → 78.5k pairs). Probe queries pinned
  *    to `vec_id < 10` stay bounded (copy 0 is verbatim) while the
  *    corpus under them grows `factor`x.
  *
  * Usage: runMain graft.ScaleUp <srcDir> <destDir> [factor] [tables]
  * (`tables` = comma-separated subset to regenerate, e.g. `documents`
  * after a perturbation fix — keys/strides are derived from the source
  * alone, so a partial rebuild is bit-identical to the full one.)
  */
object ScaleUp {

  private val Lower = "abcdefghijklmnopqrstuvwxyz"
  private val Upper = Lower.toUpperCase(java.util.Locale.ROOT)

  private def splitmix64(seed: Long): Long = {
    var z = seed + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Full 26-letter substitution for copy `i` (identity at 0):
    * Fisher-Yates driven by splitmix64, one codegen'd `translate`.
    * A copy-index Caesar SHIFT — the first implementation — is mod 26,
    * so at factor > 26 same-shift copies carry identical text and the
    * near-dup pair count turns quadratic in the factor (see scaladoc). */
  private[graft] def permuted(i: Int): String = {
    val p = Lower.toCharArray
    var state = splitmix64(i.toLong)
    var j = p.length - 1
    while (j > 0) {
      state = splitmix64(state)
      val k = (((state >>> 33) % (j + 1)).toInt + (j + 1)) % (j + 1)
      val t = p(j); p(j) = p(k); p(k) = t
      j -= 1
    }
    new String(p)
  }

  private[graft] def permuteLetters(c: org.apache.spark.sql.Column, i: Int) =
    if (i == 0) c
    else {
      val lo = permuted(i)
      translate(c, Lower + Upper,
        lo + lo.toUpperCase(java.util.Locale.ROOT))
    }

  /** Deterministic ±1 pattern for copy `i` (splitmix64 over the element
    * index) applied elementwise — one diagonal orthogonal transform per
    * copy. Copy 0 is the identity (verbatim vectors). */
  private[graft] def signFlip(arr: org.apache.spark.sql.Column, copy: Int, dim: Int) =
    if (copy == 0) arr
    else {
      val signs = Array.tabulate(dim) { j =>
        var z = copy * 0x9E3779B97F4A7C15L + j * 0xBF58476D1CE4E5B9L
        z ^= z >>> 31; z *= 0x94D049BB133111EBL; z ^= z >>> 27
        if ((z & 1L) == 0L) 1.0f else -1.0f
      }
      zip_with(arr, array(signs.map(lit(_)).toIndexedSeq: _*),
        (x, s) => x * s)
    }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: ScaleUp <srcDir> <destDir> [factor] [tables]")
    val (srcDir, destDir) = (args(0), args(1))
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    val only: Option[Set[String]] =
      args.lift(3).map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    // 26! permutation states make seed collisions implausible, but the
    // linearity claim rests on distinctness, so prove it per run
    // (copy 0 is the identity, not permuted(0))
    val perms = Lower +: (1 until factor).map(permuted)
    require(perms.distinct.size == factor,
      s"letter-permutation collision within factor=$factor")
    val spark = Session()

    def sel(t: String): Boolean = only.forall(_.contains(t))
    def read(t: String): DataFrame = spark.read.parquet(s"$srcDir/$t.parquet")
    def write(df: => DataFrame, t: String): Unit = if (sel(t))
      df.write.mode("overwrite").parquet(s"$destDir/$t.parquet")
    // key stride = next power of ten above the max key, so scaled keys
    // stay human-readable (copy i of key k is i*stride + k)
    def stride(df: DataFrame, key: String): Long = {
      val mx = df.agg(max(col(key).cast("long"))).head().getLong(0)
      var s = 1L
      while (s <= mx) s *= 10
      s
    }
    // union of `factor` per-copy transforms; copy 0 is always verbatim
    def tile(df: DataFrame)(copy: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until factor).map(i => copy(df, i)).reduce(_ unionByName _)

    // fixed dimensions ride along unchanged
    Seq("region", "nation").filter(sel).foreach(t => write(read(t), t))

    val customer = read("customer")
    val orders = read("orders")
    val supplier = read("supplier")
    val part = read("part")
    val docs = read("documents")
    val emb = read("embeddings")
    val events = read("events")
    val sC = stride(customer, "c_custkey")
    val sO = stride(orders, "o_orderkey")
    val sS = stride(supplier, "s_suppkey")
    val sP = stride(part, "p_partkey")
    val sD = stride(docs, "doc_id")
    val sV = stride(emb, "vec_id")
    val embDim = emb.select(size(col("embedding"))).head().getInt(0)
    val sE = stride(events, "event_id")

    write(tile(customer) { (df, i) =>
      df.withColumn("c_custkey", col("c_custkey") + lit(i * sC)) }, "customer")
    write(tile(supplier) { (df, i) =>
      df.withColumn("s_suppkey", col("s_suppkey") + lit(i * sS)) }, "supplier")
    write(tile(part) { (df, i) =>
      df.withColumn("p_partkey", col("p_partkey") + lit(i * sP)) }, "part")
    write(tile(orders) { (df, i) =>
      df.withColumn("o_orderkey", col("o_orderkey") + lit(i * sO))
        .withColumn("o_custkey", col("o_custkey") + lit(i * sC)) }, "orders")
    write(tile(read("lineitem")) { (df, i) =>
      df.withColumn("l_orderkey", col("l_orderkey") + lit(i * sO))
        .withColumn("l_partkey", col("l_partkey") + lit(i * sP))
        .withColumn("l_suppkey", col("l_suppkey") + lit(i * sS)) }, "lineitem")
    write(tile(events) { (df, i) =>
      df.withColumn("event_id", col("event_id") + lit(i * sE))
        .withColumn("user_id", col("user_id") + lit(i * sC)) }, "events")
    write(tile(docs) { (df, i) =>
      df.withColumn("doc_id", col("doc_id") + lit(i * sD))
        .withColumn("text", permuteLetters(col("text"), i)) }, "documents")
    write(tile(emb) { (df, i) =>
      df.withColumn("vec_id", col("vec_id") + lit(i * sV))
        .withColumn("embedding", signFlip(col("embedding"), i, embDim)) }, "embeddings")

    val counts = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
      .filter(sel)
      .map(t => s"$t=${spark.read.parquet(s"$destDir/$t.parquet").count()}")
    println(s"[scaleup] factor=$factor ${counts.mkString(" ")}")
    spark.stop()
  }
}
