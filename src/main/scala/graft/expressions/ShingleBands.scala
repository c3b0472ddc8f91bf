package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.operators.Dedup

/** Static kernel behind [[ShingleBands]]: the tokenize → shingle →
  * xor-permutation minhash → band derivation, built from the `Dedup`
  * helpers the DuckDB oracle replays byte-for-byte. Called from generated
  * code, so it is allocation-lean and thread-confined (per-thread
  * MessageDigest). */
object TextKernels {

  private val tlMd: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() => java.security.MessageDigest.getInstance("MD5"))

  private val permsCache =
    new java.util.concurrent.ConcurrentHashMap[Int, Array[Long]]()

  private def permsFor(n: Int): Array[Long] =
    permsCache.computeIfAbsent(n, m => Dedup.permConstants(m))

  /** 64-bit simhash over the token multiset: bits 0..31 from the first 8
    * md5 hex chars of each word, bits 32..63 from the next 8 — identical
    * arithmetic to the SQL oracle's two 32-bit halves. Empty/null text
    * gives signature 0 (all counts zero). */
  def simhash64(text: UTF8String): Long = {
    val md = tlMd.get()
    val str = if (text == null) "" else text.toString
    val counts = new Array[Long](64)
    Dedup.tokenize(str).foreach { w =>
      // (lo, hi) packed from digest bytes — bit-identical to the two
      // unsigned hex-substring parses the oracle replays (md5Lo32Hi32)
      val packed = Dedup.md5Lo32Hi32(md, w)
      val lo = packed & 0xffffffffL
      val hi = packed >>> 32
      var j = 0
      while (j < 32) {
        counts(j) += ((lo >> j) & 1L) * 2 - 1
        counts(j + 32) += ((hi >> j) & 1L) * 2 - 1
        j += 1
      }
    }
    var sig = 0L
    var j = 0
    while (j < 64) {
      if (counts(j) > 0) sig |= 1L << j
      j += 1
    }
    sig
  }

  /** 32-bit simhash (the compact variant): first 8 md5 hex chars only. */
  def simhash32(text: UTF8String): Long = {
    val md = tlMd.get()
    val str = if (text == null) "" else text.toString
    val counts = new Array[Long](32)
    Dedup.tokenize(str).foreach { w =>
      val h = Dedup.md5Lo32Hi32(md, w) & 0xffffffffL
      var j = 0
      while (j < 32) {
        counts(j) += ((h >> j) & 1L) * 2 - 1
        j += 1
      }
    }
    var sig = 0L
    var j = 0
    while (j < 32) {
      if (counts(j) > 0) sig |= 1L << j
      j += 1
    }
    sig
  }

  /** Tokenize as an ArrayData for the [[Tokens]] expression: same
    * `Dedup.tokenize` kernel the minhash/simhash paths use (so every
    * token consumer in the engine — and the SQL oracle — agrees on word
    * boundaries), materialized once per row inside codegen. */
  def tokens(text: UTF8String): ArrayData = {
    val str = if (text == null) "" else text.toString
    ArrayData.toArrayData(Dedup.tokenize(str).map(UTF8String.fromString))
  }

  /** All k-shingles in order (non-distinct) for the [[AllShingles]]
    * expression: space-joined k-windows, `[]` when the doc is shorter
    * than k — byte-identical to the composable
    * `transform(sequence(...), concat_ws(slice(...)))` form it replaces
    * (that form evaluates its lambda interpreted, per window). */
  def allShingles(words: ArrayData, k: Int): ArrayData = {
    val n = words.numElements()
    if (n < k) ArrayData.toArrayData(Array.empty[UTF8String])
    else {
      val out = new Array[UTF8String](n - k + 1)
      var i = 0
      while (i <= n - k) {
        val sb = new java.lang.StringBuilder()
        var j = 0
        while (j < k) {
          if (j > 0) sb.append(' ')
          sb.append(words.getUTF8String(i + j).toString)
          j += 1
        }
        out(i) = UTF8String.fromString(sb.toString)
        i += 1
      }
      ArrayData.toArrayData(out)
    }
  }

  /** Returns null when the doc has no k-shingles (dropped by callers) —
    * matching the RDD path's flatMap-None semantics. */
  def shingleBands(text: UTF8String, k: Int, numHashes: Int): InternalRow = {
    val md = tlMd.get()
    val str = if (text == null) "" else text.toString
    val sh = Dedup.shingle(Dedup.tokenize(str), k)
    if (sh.isEmpty) null
    else {
      val perms = permsFor(numHashes)
      val hashes = new Array[Long](sh.length)
      var i = 0
      while (i < sh.length) {
        // straight-from-bytes 60-bit hash; ≡ parseLong(hex.take(15), 16)
        hashes(i) = Dedup.md5Long60(md, sh(i))
        i += 1
      }
      val sigs = Array.tabulate(numHashes) { h =>
        var m = Long.MaxValue
        var j = 0
        while (j < hashes.length) {
          val v = hashes(j) ^ perms(h)
          if (v < m) m = v
          j += 1
        }
        m
      }
      val bands = Array.tabulate(numHashes / 2) { b =>
        Dedup.md5Hex(md, sigs(2 * b).toString + "|" + sigs(2 * b + 1).toString)
      }
      new GenericInternalRow(Array[Any](
        ArrayData.toArrayData(sh.map(UTF8String.fromString)),
        ArrayData.toArrayData(bands.map(UTF8String.fromString))))
    }
  }
}

/** Native Catalyst expression: per-doc minhash shingles + LSH band keys,
  * `struct<shingles: array<string>, bandkeys: array<string>>`, null when
  * the doc is shorter than k words.
  *
  * Exists so the dedup text kernel stays INSIDE the DataFrame plan: the
  * RDD mapPartitions formulation forces a DataFrame→RDD→DataFrame round
  * trip (InternalRow↔Row conversion on every row, an opaque lineage
  * break for Catalyst/AQE, and a schema re-assertion), while this
  * expression evaluates in whole-stage codegen via one static call. The
  * heavy lifting (md5) is JVM intrinsic either way — the win is the
  * conversion and the plan transparency, and the semantics are pinned to
  * the RDD path byte-for-byte (DedupSpec equivalence test).
  */
/** Native simhash signature expression; `bits` selects the 32- or 64-bit
  * kernel. Null text → null child → null out (callers coalesce or the
  * row simply carries null); NON-null empty text → signature 0. */
case class Simhash(child: Expression, bits: Int) extends UnaryExpression {
  require(bits == 32 || bits == 64, s"simhash bits must be 32 or 64: $bits")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_simhash requires a string argument, got ${child.dataType.simpleString}")

  override def dataType: DataType = LongType

  override def nullSafeEval(t: Any): Any =
    if (bits == 64) TextKernels.simhash64(t.asInstanceOf[UTF8String])
    else TextKernels.simhash32(t.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val fn = if (bits == 64) "simhash64" else "simhash32"
    defineCodeGen(ctx, ev, c => s"graft.expressions.TextKernels.$fn($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): Simhash =
    copy(child = newChild)
}

/** Native tokenizer expression: `text → array<string>` with the engine's
  * single word-boundary contract (`Dedup.tokenize`). Exists because the
  * composable `filter(split(regexp_replace(lower(text), ...)))` form
  * runs two regex passes plus an INTERPRETED filter lambda per row — the
  * text-analysis family calls it at least once per query, so its
  * constant factor is the family's dominant CPU line at scale. This
  * evaluates in whole-stage codegen via one static call, with an ASCII
  * char-scan fast path in the kernel (regex only for rows with
  * non-ASCII bytes, where regex semantics are authoritative). */
case class Tokens(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_tokens requires a string argument, got ${child.dataType.simpleString}")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullSafeEval(t: Any): Any =
    TextKernels.tokens(t.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expressions.TextKernels.tokens($c)")

  override protected def withNewChildInternal(newChild: Expression): Tokens =
    copy(child = newChild)
}

/** Native all-k-shingles expression over a token array (non-distinct,
  * in order; `[]` below k tokens) — replaces an interpreted
  * per-window `transform` lambda in the shingle-based analyses. */
case class AllShingles(child: Expression, k: Int) extends UnaryExpression {
  require(k >= 1, s"shingle width must be >= 1: $k")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_all_shingles requires array<string>, got ${other.simpleString}")
  }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullSafeEval(t: Any): Any =
    TextKernels.allShingles(t.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.expressions.TextKernels.allShingles($c, $k)")

  override protected def withNewChildInternal(newChild: Expression): AllShingles =
    copy(child = newChild)
}

case class ShingleBands(child: Expression, k: Int, numHashes: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_shingle_bands requires a string argument, got " +
        child.dataType.simpleString)

  override def nullable: Boolean = true

  override def dataType: DataType = StructType(Seq(
    StructField("shingles", ArrayType(StringType, containsNull = false)),
    StructField("bandkeys", ArrayType(StringType, containsNull = false))))

  override def nullSafeEval(t: Any): Any =
    TextKernels.shingleBands(t.asInstanceOf[UTF8String], k, numHashes)

  /** Keeps the last input (copied: it may sit in a reused row buffer) and
    * result, so over a sort-merge join, which emits a document's matches
    * consecutively, the kernel runs once per document, not per match. */
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val lastIn = ctx.addMutableState("UTF8String", "sbLastIn")
    val lastOut = ctx.addMutableState("InternalRow", "sbLastOut")
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |if ($lastIn == null || !$lastIn.equals($c)) {
         |  $lastOut = graft.expressions.TextKernels.shingleBands($c, $k, $numHashes);
         |  $lastIn = $c.clone();
         |}
         |${ev.value} = $lastOut;
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): ShingleBands =
    copy(child = newChild)
}
