package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-level text-analysis primitives for large-scale training-data
  * pipelines: tokenization, shingling, minhash signatures, simhash,
  * fingerprints, stopword stats. Everything is built from codegen'd
  * built-in expressions (no UDFs), so whole-stage codegen applies and the
  * operators run at scan speed on a 1000-executor cluster.
  *
  * Determinism: all hashing is md5-based (content-defined, engine-portable)
  * rather than JVM/murmur-seeded, so results are reproducible across
  * engines and runs — a requirement for auditable dedup at 100 TB.
  */
object TextOps {

  /** Tiny English stopword list for language-ID heuristics. */
  val EnglishStopwords: Seq[String] =
    Seq("the", "a", "of", "and", "in", "to", "is")

  /** Idempotently install graft's native expressions on the active
    * session so the Column builders below can reference them. Column
    * construction always happens driver-side with a live session; if
    * somehow none is active, the caller's analysis will name the missing
    * function explicitly. */
  private def registered(): Unit =
    org.apache.spark.sql.SparkSession.getActiveSession
      .foreach(graft.expressions.GraftFunctions.register)

  /** Lowercase word tokens; punctuation folds to whitespace. Native
    * codegen kernel ([[graft.expressions.Tokens]]) — one char-scan pass
    * per row instead of two regex passes plus an interpreted filter
    * lambda; word boundaries are bit-identical (same `Dedup.tokenize`
    * the minhash/simhash kernels and the SQL oracle replay). */
  def tokens(text: Column): Column = {
    registered()
    call_function("graft_tokens", text)
  }

  /** BPE-ish regex tokens: alpha runs and digit runs separately. */
  def regexTokens(text: Column): Column =
    regexp_extract_all(lower(text), lit("[a-z]+|[0-9]+"), lit(0))

  /** Distinct k-word shingles; empty array when the doc is shorter than k. */
  def shingles(words: Column, k: Int): Column =
    array_distinct(allShingles(words, k))

  /** Non-distinct k-word shingles — frequencies matter here, unlike
    * [[shingles]]: repetition scoring needs every occurrence. Native
    * kernel ([[graft.expressions.AllShingles]]): the composable
    * `transform(sequence(...), concat_ws(slice(...)))` form evaluated
    * its lambda interpreted, once per window. */
  def allShingles(words: Column, k: Int): Column = {
    registered()
    call_function("graft_all_shingles", words, lit(k))
  }

  /** PII patterns kept to syntax BOTH Java regex and RE2 (the oracle's
    * engine) interpret identically — char classes, +, bounded repeats. */
  val EmailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  val PhoneRe = "\\+1-555-[0-9]{4}"

  /** Redact emails and phone numbers to typed placeholders. Pure
    * regexp_replace — codegen'd, narrow, pushdown-transparent. */
  def piiRedact(text: Column): Column =
    regexp_replace(
      regexp_replace(text, EmailRe, "[EMAIL]"),
      PhoneRe, "[PHONE]")

  /** Content fingerprint: md5 of the alphanumeric-only lowercase text. */
  def fingerprint(text: Column): Column =
    md5(regexp_replace(lower(text), "[^a-z0-9]", ""))

  /** Rolling polynomial fingerprint over the token stream (Rabin-Karp
    * shape): acc ← (acc·131 + h(word)) mod (2³¹−1), with h = the first 7
    * md5 hex digits (28 bits). Every intermediate stays < 2⁴⁰, so the fold
    * never overflows a long even under ANSI mode, and the same arithmetic
    * runs verbatim in the SQL oracle. Order-sensitive by construction —
    * reordered tokens change the fingerprint, unlike the set-style md5. */
  def rollingFingerprint(words: Column): Column =
    aggregate(words, lit(0L),
      (acc, w) => (acc * 131 +
        conv(substring(md5(w), 1, 7), 16, 10).cast("long")) % 2147483647L)

  /** Count of tokens that appear in the given vocabulary. */
  def vocabHits(words: Column, vocab: Seq[String]): Column =
    size(filter(words, w => w.isin(vocab: _*)))
}
