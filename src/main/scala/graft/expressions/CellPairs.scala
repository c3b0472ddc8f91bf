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
  *    like the join's `a < b` filter) and score_r >= minScore.
  *  - `topK > 0`: per-member kNN — for EACH member, its topK neighbours
  *    by (score desc, id asc) among same-block members with a different
  *    id, emitted as (id, nbr, rank, score_r) with rank 1-based — the
  *    `row_number <= k` window replayed per block, without sorting
  *    candidate rows that carry vectors. Assumes ids are unique across
  *    the frame (the window form partitions by id globally; with
  *    duplicate ids the two forms diverge — callers own that contract).
  *
  * The caller also owns the block-size bound (corpus-scaled cells,
  * sign-bit blocks): one block's members materialize in a single task.
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
      if (m.toLong * (m - 1) / 2 <= CellPairs.EagerPairBound) {
        // EAGER emission under the bound: the lazy iterator's per-element
        // machinery is a measured 2× on threshold workloads dominated by
        // small blocks (dd_semantic at 1000×: 22.5 s lazy vs 11.3 s eager,
        // SCALE.md r14 A/B). Worst case here is EagerPairBound rows —
        // each a GenericInternalRow over a boxed Object[3] (~100 B with
        // headers), so ~13 MB at the 2¹⁷ bound — bounded regardless of
        // minScore.
        val out = Vector.newBuilder[InternalRow]
        var oi = 0
        while (oi < m - 1) {
          val ai = order(oi)
          var oj = oi + 1
          while (oj < m) {
            val bi = order(oj)
            if (ids(ai) < ids(bi)) {
              val s = score(ai, bi)
              if (java.lang.Double.compare(s, minScore) >= 0) {
                val r = new GenericInternalRow(3)
                r.update(0, ids(ai)); r.update(1, ids(bi)); r.update(2, s)
                out += r
              }
            }
            oj += 1
          }
          oi += 1
        }
        return out.result().iterator
      }
      // LAZY emission above the bound: a permissive minScore admits up to
      // m²/2 pairs per block, and the join form this replaced streamed
      // them — so must this generator. Per-block memory stays O(m·dims)
      // (the member arrays above), never O(pairs); the loop state is two
      // indices.
      new Iterator[InternalRow] {
        private var oi = 0
        private var oj = 1
        private var pending: InternalRow = null
        private def advance(): Unit = {
          while (pending == null && oi < m - 1) {
            val ai = order(oi)
            while (pending == null && oj < m) {
              val bi = order(oj)
              oj += 1
              if (ids(ai) < ids(bi)) {
                val s = score(ai, bi)
                // nan-safe >=: NaN passes, like Spark's comparisons
                if (java.lang.Double.compare(s, minScore) >= 0) {
                  val r = new GenericInternalRow(3)
                  r.update(0, ids(ai)); r.update(1, ids(bi)); r.update(2, s)
                  pending = r
                }
              }
            }
            if (pending == null) { oi += 1; oj = oi + 1 }
          }
        }
        override def hasNext: Boolean = { advance(); pending != null }
        override def next(): InternalRow = {
          advance()
          val r = pending; pending = null; r
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
  /** Threshold-mode blocks whose worst-case pair count m·(m−1)/2 fits
    * under this bound emit eagerly (bulk Vector, fast iteration); larger
    * blocks fall back to the lazy streaming iterator so per-block memory
    * never exceeds ~EagerPairBound rows even at minScore = −∞. Each
    * buffered row is a GenericInternalRow over a boxed Object[3] —
    * ~100 B with object headers — so the worst-case buffer is ~13 MB at
    * this bound. 2¹⁷ pairs ⇔ m ≤ 512 members — every corpus-scaled cell
    * (~128 members by the k = n/128 law) sits far under it.
    *
    * `GRAFT_EAGER_PAIR_BOUND` overrides it for the sensitivity sweep
    * (SCALE.md r15) — a measurement knob for local-mode probes ONLY
    * (cluster executors read their own env, so the override would
    * silently diverge from the driver): the committed default IS the
    * contract. Enforced, not just documented — the override is honored
    * only under a local master, and a malformed value falls back to the
    * default instead of throwing NumberFormatException inside static
    * initialization (which would surface as an opaque
    * ExceptionInInitializerError on first use).
    *
    * Resolved LAZILY at first use, not at class-load, and FAIL-CLOSED:
    * if no SparkEnv exists yet (a cluster driver that loaded this class
    * before the session came up — exactly the case where class-load
    * resolution used to default to "local" and honor the override), the
    * master is treated as NON-local and the override is refused. Every
    * real evaluation site (driver or executor) runs with a live
    * SparkEnv, so a local-mode probe still gets its knob. */
  lazy val EagerPairBound: Long = {
    val isLocal = masterIsLocal(Option(org.apache.spark.SparkEnv.get)
      .map(_.conf.get("spark.master", "")))
    resolveEagerPairBound(sys.env.get("GRAFT_EAGER_PAIR_BOUND"), isLocal)
  }

  /** Fail-closed master classification behind [[EagerPairBound]], pure
    * for the spec: an absent SparkEnv (None) or an unset/empty master is
    * NOT local — the override-refusing branch — so a class loaded before
    * the session exists can never freeze a cluster run onto a local-only
    * measurement knob. */
  private[graft] def masterIsLocal(master: Option[String]): Boolean =
    master.exists(_.startsWith("local"))

  /** The override-resolution rule behind [[EagerPairBound]], pure for
    * the spec: non-local masters and malformed/non-positive values both
    * fall back to the committed default. */
  private[graft] def resolveEagerPairBound(
      raw: Option[String], isLocal: Boolean): Long = {
    val default = 1L << 17
    if (!isLocal) default
    else raw.flatMap(v => scala.util.Try(v.trim.toLong).toOption)
      .filter(_ > 0)
      .getOrElse(default)
  }
}
