package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType, StructField, StructType}

/** Within-block cosine pairing as ONE generator over the block's member
  * list — the scale fix for the self-join formulation of
  * `Similarity.cosineNearDupPairs` / `Similarity.knnGraph`.
  *
  * The join form is semantically right but materially wrong at corpus
  * scale: every candidate pair materializes a joined row carrying BOTH
  * sides' double vectors (512 B each at dim 64), so 127 M in-cell
  * candidates at the 1000x ladder point moved ~130 GB of vector copies
  * through the join (and, for kNN, through a window sort) to compute
  * 8e9 flops — measured 124 s of the dd_semantic sample and most of
  * sim_knn_graph's 85 s. This generator receives one block's members as
  * an array (`groupBy(block).agg(collect_list(struct(id, vd, nrm)))` —
  * the SAME single exchange the join needed, minus the join), scores
  * all pairs in a cache-resident primitive loop (a 128-member cell's
  * vectors fit in L2), and emits ONLY the passing rows.
  *
  * Bit-identical to the join form, which keeps every oracle untouched:
  * the dot is the same left-to-right double fold as [[DotProduct]], the
  * denominator multiplies lower-id-side norm first (the join's column
  * order), rounding replays Spark's `Round(_, 6)` double semantics
  * (HALF_UP via BigDecimal.valueOf, non-finite passthrough), threshold
  * and ordering comparisons use Spark's nan-safe double compare (NaN
  * greatest, so a NaN score passes `>= minScore` exactly as the SQL
  * comparison does). Members sort by id inside the generator —
  * collect_list order is nondeterministic, the output must not be.
  * The one deliberate divergence (same as [[IvfTopP]]'s): a degenerate
  * zero-norm member makes the join form's codegen'd division raise
  * DIVIDE_BY_ZERO under Spark 4's default ANSI mode; here the JVM
  * division yields NaN/Infinity scores instead of failing the job.
  *
  * Modes (by the `topK` literal):
  *  - `topK <= 0`: near-dup pairs — emit (a, b, score_r) for every
  *    member pair with a.id < b.id (strictly: equal ids never pair,
  *    like the join's `a < b` filter) and score_r >= minScore. Rows
  *    come from one resumable iterator whose refills each buffer at most
  *    [[CellPairs.RefillRows]] (2^17) rows, so a permissive minScore on a
  *    big block streams, as the join form did, in bounded memory.
  *  - `topK > 0`: per-member kNN — for EACH member, its topK neighbours
  *    by (score desc, id asc) among same-block members with a different
  *    id, emitted as (id, nbr, rank, score_r) with rank 1-based — the
  *    `row_number <= k` window replayed per block, without sorting
  *    candidate rows that carry vectors. Assumes ids are unique across
  *    the frame (the window form partitions by id globally; with
  *    duplicate ids the two forms diverge — callers own that contract).
  *
  * The caller also owns the block-size bound: one block's members
  * materialize in a single task. `Similarity.cellBlocked` sizes cells by
  * its corpus law (~128 members each), and `dd_cosine_neardup` sizes its
  * sign-bit blocks by `Similarity.signBlockBits`.
  */
case class CellPairs(child: Expression, minScore: Double, topK: Int)
    extends UnaryExpression with Generator with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StructType(Array(
        StructField(_, LongType, _, _),
        StructField(_, ArrayType(DoubleType, _), _, _),
        StructField(_, DoubleType, _, _))), _) =>
      TypeCheckResult.TypeCheckSuccess
    case t =>
      TypeCheckResult.TypeCheckFailure(
        "graft_cell_pairs requires array<struct<id: bigint, vd: " +
          s"array<double>, nrm: double>>, got ${t.simpleString}")
  }

  override def elementSchema: StructType =
    if (topK <= 0)
      StructType(Seq(
        StructField("a", LongType, nullable = false),
        StructField("b", LongType, nullable = false),
        StructField("score_r", DoubleType, nullable = false)))
    else
      StructType(Seq(
        StructField("id", LongType, nullable = false),
        StructField("nbr", LongType, nullable = false),
        StructField("rank", IntegerType, nullable = false),
        StructField("score_r", DoubleType, nullable = false)))

  override def prettyName: String = "graft_cell_pairs"

  /** Spark's Round(double, 6): HALF_UP over BigDecimal.valueOf, with
    * NaN/Infinity passed through untouched. */
  private def round6(x: Double): Double =
    if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) x
    else java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val arr = child.eval(input)
    if (arr == null) return Iterator.empty
    val data = arr.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val m = data.numElements()
    if (m < 2) return Iterator.empty

    // materialize members into primitive arrays, then sort by id — the
    // pair loop below must never touch ArrayData again
    val ids = new Array[Long](m)
    val vecs = new Array[Array[Double]](m)
    val nrms = new Array[Double](m)
    var i = 0
    while (i < m) {
      val row = data.getStruct(i, 3)
      ids(i) = row.getLong(0)
      val v = row.getArray(1)
      val n = v.numElements()
      val xs = new Array[Double](n)
      var j = 0
      while (j < n) { xs(j) = v.getDouble(j); j += 1 }
      vecs(i) = xs
      nrms(i) = row.getDouble(2)
      i += 1
    }
    val order = (0 until m).sortBy(ids).toArray

    // same left-to-right fold as DotProduct, over min(len) elements
    def score(ai: Int, bi: Int): Double = {
      val va = vecs(ai); val vb = vecs(bi)
      val n = if (va.length < vb.length) va.length else vb.length
      var acc = 0.0
      var j = 0
      while (j < n) { acc += va(j) * vb(j); j += 1 }
      round6(acc / (nrms(ai) * nrms(bi)))
    }

    if (topK <= 0) {
      // ONE emitter: each refill runs the eager double loop until it has
      // buffered RefillRows passing pairs or run out of pairs, and keeps
      // its two loop indices for the next refill. A block with fewer
      // passing pairs than the bound costs one bulk loop; a permissive
      // minScore on a big block streams in bounded chunks.
      new Iterator[InternalRow] {
        private var oi = 0
        private var oj = 1
        private val buf = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
        private var pos = 0
        private def refill(): Unit = {
          buf.clear(); pos = 0
          while (buf.length < CellPairs.RefillRows && oi < m - 1) {
            val ai = order(oi)
            while (buf.length < CellPairs.RefillRows && oj < m) {
              val bi = order(oj)
              if (ids(ai) < ids(bi)) {
                val s = score(ai, bi)
                // nan-safe >=: NaN passes, like Spark's comparisons
                if (java.lang.Double.compare(s, minScore) >= 0) {
                  val r = new GenericInternalRow(3)
                  r.update(0, ids(ai)); r.update(1, ids(bi)); r.update(2, s)
                  buf += r
                }
              }
              oj += 1
            }
            if (oj >= m) { oi += 1; oj = oi + 1 }
          }
        }
        override def hasNext: Boolean = {
          if (pos == buf.length && oi < m - 1) refill()
          pos < buf.length
        }
        override def next(): InternalRow = {
          if (!hasNext) throw new NoSuchElementException
          pos += 1
          buf(pos - 1)
        }
      }
    } else {
      val k = topK
      val out = Vector.newBuilder[InternalRow]
      var oi = 0
      while (oi < m) {
        val ai = order(oi)
        // insertion top-k by (score desc nan-first, id asc): tiny k, m
        // candidates — no allocation beyond the two k-slots
        val topS = new Array[Double](k)
        val topId = new Array[Long](k)
        var filled = 0
        var oj = 0
        while (oj < m) {
          val bi = order(oj)
          if (ids(bi) != ids(ai)) {
            val s = score(ai, bi)
            var pos = filled
            while (pos > 0 && {
              val c = java.lang.Double.compare(s, topS(pos - 1))
              c > 0 || (c == 0 && ids(bi) < topId(pos - 1))
            }) pos -= 1
            if (pos < k) {
              val last = if (filled < k) filled else k - 1
              var q = last
              while (q > pos) { topS(q) = topS(q - 1); topId(q) = topId(q - 1); q -= 1 }
              topS(pos) = s; topId(pos) = ids(bi)
              if (filled < k) filled += 1
            }
          }
          oj += 1
        }
        var rnk = 0
        while (rnk < filled) {
          val r = new GenericInternalRow(4)
          r.update(0, ids(ai)); r.update(1, topId(rnk))
          r.update(2, rnk + 1); r.update(3, topS(rnk))
          out += r
          rnk += 1
        }
        oi += 1
      }
      out.result().iterator
    }
  }

  override protected def withNewChildInternal(newChild: Expression): CellPairs =
    copy(child = newChild)
}

object CellPairs {
  /** The most threshold-mode rows one refill buffers (2^17). Each row is
    * a GenericInternalRow over a boxed Object[3], ~100 B with headers, so
    * a block's buffer stays under ~13 MB whatever minScore admits. A
    * corpus-scaled cell (~128 members) has at most 8,128 pairs, so it
    * always fits in one refill. */
  val RefillRows: Int = 1 << 17
}
