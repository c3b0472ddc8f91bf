package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, DoubleType, LongType}

/** Nearest-IVF-cells assignment (`graft_ivf_topp`) as ONE codegen-
  * friendly expression with triangle-inequality group pruning — the
  * multi-probe kernel every IVF assignment uses: the probe side of the
  * IVF gates with p = nprobe, and with p = 1 the docs side, the kNN
  * graph and semantic clustering cells, the persisted index and Lloyd's
  * training. Returns the P best cells' cent_ids as `array<bigint>`, best
  * first by (−cosine, cent_id) under Spark's nan-safe struct ordering.
  *
  * An `array_min`/`sort_array` tree over one `struct(-dot/.., cid)` per
  * cell inlines one `graft_dot` + struct per cell, so with corpus-scaled
  * k (`Similarity.corpusCells`) the per-row cost is k·dims multiply-adds
  * PLUS k struct allocations and O(k·dims) of generated expression tree
  * — n·k total work that fit exponents >1 on the scale ladder
  * (sim_knn_graph e≈1.3, dd_semantic e≈1.16 on the 10×→30× segment),
  * and made the first multi-probe frontier measurement 13× instead of
  * ~4×. This expression
  * keeps the identical semantics but:
  *
  *  - holds the codebook as PRIMITIVE arrays in a serialized model
  *    artifact (one binary literal, not k literal subtrees), so plan size
  *    and codegen size are O(1) in k;
  *  - scans cells in a tight primitive loop (no per-cell struct values);
  *  - prunes whole GROUPS of cells by a Cauchy-Schwarz bound: cells are
  *    pre-clustered (driver-side, deterministic) into g ≈ √k groups with
  *    mean `m_g` and radius `r_g = max‖ĉ−m_g‖`; for a unit query x̂,
  *    `cos(x̂,ĉ) = ⟨x̂,ĉ⟩ ≤ ⟨x̂,m_g⟩ + ‖ĉ−m_g‖ ≤ ⟨x̂,m_g⟩ + r_g`,
  *    so a group whose bound (+ε slack for fp error) is below the P-th
  *    best similarity found so far cannot contribute and is skipped —
  *    typical per-row work drops from k·dims to (g + k/g + spill)·dims.
  *
  * EXACTNESS contract (what keeps every oracle untouched): every cell that
  * could rank IS evaluated — pruning uses `!(bound + ε < worstKept)`,
  * which also fails-open on NaN bounds — and an evaluated cell's
  * similarity is computed with bit-identical arithmetic to the expression
  * tree (same left-to-right dot fold as [[DotProduct]], same
  * `norm * cellNorm` product order, same negate), compared with Spark's
  * exact struct ordering (nan-safe double compare, then cent_id asc).
  * Rows whose length differs from the codebook's dims, or with non-finite
  * norms, fall back to the flat full scan — still bit-identical, never
  * wrong. The one deliberate divergence: a zero/NaN norm (degenerate
  * vector) yields NaN sims and the lowest cent_ids under nan-safe
  * ordering — the non-ANSI fold semantics — where the literal tree raises
  * DIVIDE_BY_ZERO under Spark 4's default ANSI mode and fails the job.
  * `p` is a literal constructor parameter (the CellPairs pattern), so
  * codegen stays branch-free.
  */
case class IvfTopP(first: Expression, second: Expression, third: Expression,
    p: Int) extends TernaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (BinaryType, ArrayType(DoubleType, _), DoubleType)
          if first.foldable && first.eval(null) != null && p >= 1 =>
        TypeCheckResult.TypeCheckSuccess
      case (BinaryType, ArrayType(DoubleType, _), DoubleType) if p < 1 =>
        TypeCheckResult.TypeCheckFailure("graft_ivf_topp: p must be >= 1")
      case (BinaryType, ArrayType(DoubleType, _), DoubleType) =>
        TypeCheckResult.TypeCheckFailure(
          "graft_ivf_topp: index must be a non-null foldable binary literal")
      case (a, b, c) =>
        TypeCheckResult.TypeCheckFailure(
          s"graft_ivf_topp requires (binary, array<double>, double), got " +
            s"${a.simpleString}, ${b.simpleString}, ${c.simpleString}")
    }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def prettyName: String = "graft_ivf_topp"

  @transient private lazy val index: IvfPrunedIndex =
    ModelLiteral.deserialize[IvfPrunedIndex](first.eval(null), prettyName)

  override def nullSafeEval(bytes: Any, vec: Any, norm: Any): Any =
    index.assignTopP(vec.asInstanceOf[ArrayData],
      norm.asInstanceOf[Double], p)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("ivfIndex", index,
      classOf[IvfPrunedIndex].getName)
    nullSafeCodeGen(ctx, ev, (_, vec, norm) =>
      s"${ev.value} = $ref.assignTopP($vec, $norm, $p);")
  }

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): IvfTopP =
    copy(first = f, second = s, third = t)
}

/** The serialized model artifact behind [[IvfTopP]]: the codebook flattened
  * to primitive arrays plus the driver-computed pruning groups. Built once
  * per codebook on the driver, shipped as one binary literal. */
@SerialVersionUID(-560561436893737401L) // see ModelLiteral
final class IvfPrunedIndex(
    val dims: Int,
    val cellCid: Array[Long],      // cid asc within group, groups contiguous
    val cellVec: Array[Double],    // k × dims, row-major
    val cellNrm: Array[Double],    // k
    val groupStart: Array[Int],    // g+1 offsets into the cell arrays
    val groupMean: Array[Double],  // g × dims, row-major (mean of ĉ members)
    val groupR: Array[Double],     // g: max ‖ĉ − mean‖ over members
    val probeGroups: Int = 0)      // 0 = exact; >0 = probe top-p groups only
    extends Serializable {

  import IvfPrunedIndex.{Eps, cmpDouble}

  private def numGroups: Int = groupR.length

  /** Exact (or probed, see `probeGroups`) TOP-P cells, best first — the
    * kernel behind `graft_ivf_topp`. Ordering is the nan-safe
    * (negsim, cent_id) struct ordering; pruning in exact mode compares a
    * group's Cauchy-Schwarz bound against the CURRENT P-TH BEST, only
    * once p candidates exist (fail-open before that and on NaN). At
    * p = 1 this is the top-1 argmax: the same tie order, NaN order and
    * pruning test. Returns min(p, k) cent_ids. */
  def assignTopP(vec: ArrayData, norm: Double, p: Int): ArrayData = {
    val n = vec.numElements()
    val xs = new Array[Double](n)
    var i = 0
    while (i < n) { xs(i) = vec.getDouble(i); i += 1 }
    val cap = if (p < cellCid.length) p else cellCid.length
    val negs = new Array[Double](cap)
    val cids = new Array[Long](cap)
    var cnt = 0

    // insert candidate keeping (neg, cid) ascending; worst kept = index
    // cnt-1. Same compare as the struct ordering.
    def offer(neg: Double, cid: Long): Unit = {
      if (cnt < cap) { negs(cnt) = neg; cids(cnt) = cid; cnt += 1 }
      else {
        val c = cmpDouble(neg, negs(cap - 1))
        if (!(c < 0 || (c == 0 && cid < cids(cap - 1)))) return
        negs(cap - 1) = neg; cids(cap - 1) = cid
      }
      var j = cnt - 1
      while (j > 0) {
        val c = cmpDouble(negs(j), negs(j - 1))
        if (c < 0 || (c == 0 && cids(j) < cids(j - 1))) {
          val tn = negs(j); negs(j) = negs(j - 1); negs(j - 1) = tn
          val tc = cids(j); cids(j) = cids(j - 1); cids(j - 1) = tc
          j -= 1
        } else j = 0
      }
    }
    def scan(from: Int, until: Int): Unit = {
      var ci = from
      while (ci < until) {
        val m = if (n < dims) n else dims
        var acc = 0.0
        var j = 0
        val off = ci * dims
        while (j < m) { acc += xs(j) * cellVec(off + j); j += 1 }
        offer(-(acc / (norm * cellNrm(ci))), cellCid(ci))
        ci += 1
      }
    }

    if (numGroups <= 1 || n != dims || !(norm > 0.0) ||
        java.lang.Double.isInfinite(norm)) {
      scan(0, cellCid.length)
    } else {
      val g = numGroups
      val bounds = new Array[Double](g)
      var gi = 0
      while (gi < g) {
        var acc = 0.0
        var j = 0
        val off = gi * dims
        while (j < dims) { acc += xs(j) * groupMean(off + j); j += 1 }
        bounds(gi) = acc / norm + groupR(gi)
        gi += 1
      }
      if (probeGroups > 0 && probeGroups < g) {
        // APPROXIMATE mode (the corpus-scaled-k contract, see
        // Similarity.semanticNearDupPairs): evaluate only the probeGroups
        // best-bound groups. Deterministic — selection by (bound desc,
        // group idx asc) with nan-safe compare (a NaN bound sorts first =
        // probed, the fail-open direction). The exact-prune path below
        // is vacuous exactly when approximation matters: a query whose
        // best similarity is small (decorrelated vector) has every group
        // bound above it, so exact mode degenerates to the flat scan —
        // measured as the n·k assignment term at the 1000x ladder point.
        val chosen = new Array[Boolean](g)
        var pi = 0
        while (pi < probeGroups) {
          var best = -1
          gi = 0
          while (gi < g) {
            if (!chosen(gi) &&
              (best < 0 || cmpDouble(bounds(gi), bounds(best)) > 0)) best = gi
            gi += 1
          }
          chosen(best) = true
          scan(groupStart(best), groupStart(best + 1))
          pi += 1
        }
      } else {
        // EXACT mode: seed with the best-bound group (NaN sorts first =
        // evaluated), then prune only groups that provably cannot rank
        var gmax = 0
        gi = 1
        while (gi < g) {
          if (cmpDouble(bounds(gi), bounds(gmax)) > 0) gmax = gi
          gi += 1
        }
        scan(groupStart(gmax), groupStart(gmax + 1))
        gi = 0
        while (gi < g) {
          // prune only against a FULL candidate set's worst member —
          // with fewer than cap kept, every group can still contribute
          // (an empty seed group leaves cnt at 0 and prunes nothing;
          // build() compacts empty groups away, this is the belt)
          if (gi != gmax &&
            !(cnt == cap && bounds(gi) + Eps < -negs(cap - 1)))
            scan(groupStart(gi), groupStart(gi + 1))
          gi += 1
        }
      }
    }
    val out = new Array[Any](cnt)
    i = 0
    while (i < cnt) { out(i) = cids(i); i += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

object IvfPrunedIndex {

  /** Slack absorbing fp error in the bound arithmetic (≤ dims·ulp ≈ 1e-14
    * at unit scale) — four orders of margin, far below any real gap. */
  private[expressions] final val Eps = 1e-9

  /** Fixed-point scale for group-Lloyd means — the same 2^20 trick (and
    * value) as `Similarity.trainCodebook`'s MeanScale, for the same
    * reason: long sums are order-independent, so the oracle replays the
    * grouping exactly. */
  private[expressions] final val MeanScale = 1048576L // 2^20

  /** Spark's nan-safe double ordering (NaN greatest, NaN == NaN,
    * -0.0 == 0.0) — what struct comparison / array_min use. */
  private[expressions] def cmpDouble(x: Double, y: Double): Int =
    if (x < y) -1
    else if (x > y) 1
    else {
      val xn = java.lang.Double.isNaN(x)
      val yn = java.lang.Double.isNaN(y)
      if (xn && yn) 0 else if (xn) 1 else if (yn) -1 else 0
    }

  /** Build the index from a (cent_id, vector, norm) codebook — the same
    * driver-side model artifact the literal-tree formulation inlines.
    * Cells are clustered into ⌈√k⌉ pruning groups by a deterministic
    * Lloyd's run over the NORMALIZED cells (init = first g cells in cid
    * order, 5 iterations, min-L2 assignment with lowest-group ties,
    * means in FIXED POINT — sum(floor(ĉ·2^20)) as long, one double
    * division — so the grouping is order-independent and an external
    * SQL oracle can replay it term-for-term, the same contract as
    * `Similarity.trainCodebook`). In EXACT mode the grouping only
    * affects SPEED; in PROBED mode (`probeGroups` > 0) it selects which
    * cells are scanned, so replayability is what lets the probed
    * assignment sit on the hash gate (`sim_probed_assign`). Small
    * codebooks (k < 32) get one flat group: the bound pass would cost
    * more than it saves. */
  def build(codebook: Array[(Long, Seq[Double], Double)],
      probeGroups: Int = 0): IvfPrunedIndex = {
    require(codebook.nonEmpty, "IvfPrunedIndex: empty codebook")
    val k = codebook.length
    val dims = codebook.head._2.length
    require(codebook.forall(_._2.length == dims),
      "IvfPrunedIndex: ragged codebook vectors")
    // normalized cells for grouping geometry (zero-norm cells → zeros:
    // their sims are NaN for every query, so placement is irrelevant)
    val hat = codebook.map { case (_, v, nrm) =>
      if (nrm > 0.0) v.map(_ / nrm).toArray else new Array[Double](dims)
    }
    // Pruning geometry assumes every cellNrm is a real positive L2 norm:
    // a nonzero cell with nrm = 0/NaN/Inf has ±Inf/NaN sims that the
    // radius bound does not cover, so any such codebook gets one flat
    // group (full scan — exact, just unpruned).
    val normsOk = codebook.forall { case (_, _, nrm) =>
      nrm > 0.0 && !java.lang.Double.isInfinite(nrm)
    }
    val g = if (k < 32 || !normsOk) 1
            else math.ceil(math.sqrt(k.toDouble)).toInt

    def dist2(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var j = 0
      while (j < dims) { val d = a(j) - b(j); acc += d * d; j += 1 }
      acc
    }

    val assign = new Array[Int](k)
    var mu: Array[Array[Double]] = Array.tabulate(math.min(g, k))(hat(_).clone)
    if (g > 1) {
      for (_ <- 0 until 5) {
        var ci = 0
        while (ci < k) {
          var best = 0; var bd = dist2(hat(ci), mu(0))
          var gi = 1
          while (gi < mu.length) {
            val d = dist2(hat(ci), mu(gi))
            if (d < bd) { bd = d; best = gi }
            gi += 1
          }
          assign(ci) = best
          ci += 1
        }
        mu = Array.tabulate(mu.length) { gi =>
          val members = (0 until k).filter(assign(_) == gi)
          if (members.isEmpty) mu(gi)
          else {
            // fixed-point mean (2^20 scale): integer sums are associative,
            // so the mean — and with it the probed group selection — is
            // identical no matter who computes it in what order
            val m = new Array[Long](dims)
            members.foreach { ci =>
              var j = 0
              while (j < dims) {
                m(j) += math.floor(hat(ci)(j) * MeanScale).toLong; j += 1
              }
            }
            Array.tabulate(dims)(j =>
              m(j).toDouble / members.length / MeanScale.toDouble)
          }
        }
      }
    }

    // Lloyd's can strand a group with zero members (its mean goes stale);
    // compact those out so every retained group is non-empty — an empty
    // seed group would otherwise leave the candidate set empty.
    if (mu.length > 1) {
      val live = (0 until mu.length).filter(gi => assign.contains(gi))
      if (live.length < mu.length) {
        val remap = live.zipWithIndex.toMap
        var ci = 0
        while (ci < k) { assign(ci) = remap(assign(ci)); ci += 1 }
        mu = live.map(mu(_)).toArray
      }
    }

    // cells grouped contiguously, cid asc inside each group
    val order = (0 until k).sortBy(ci => (assign(ci), codebook(ci)._1))
    val cellCid = new Array[Long](k)
    val cellVec = new Array[Double](k * dims)
    val cellNrm = new Array[Double](k)
    order.zipWithIndex.foreach { case (src, dst) =>
      val (cid, v, nrm) = codebook(src)
      cellCid(dst) = cid
      cellNrm(dst) = nrm
      var j = 0
      while (j < dims) { cellVec(dst * dims + j) = v(j); j += 1 }
    }
    val nGroups = mu.length
    val groupStart = new Array[Int](nGroups + 1)
    order.zipWithIndex.foreach { case (src, _) =>
      groupStart(assign(src) + 1) += 1
    }
    var gi = 0
    while (gi < nGroups) { groupStart(gi + 1) += groupStart(gi); gi += 1 }
    val groupMean = new Array[Double](nGroups * dims)
    val groupR = new Array[Double](nGroups)
    gi = 0
    while (gi < nGroups) {
      var j = 0
      while (j < dims) { groupMean(gi * dims + j) = mu(gi)(j); j += 1 }
      var ci = groupStart(gi)
      var r = 0.0
      while (ci < groupStart(gi + 1)) {
        // radius over the ORIGINAL normalized member, found via its slot
        val src = order(ci)
        val d = math.sqrt(dist2(hat(src), mu(gi)))
        if (d > r) r = d
        ci += 1
      }
      groupR(gi) = r
      gi += 1
    }
    new IvfPrunedIndex(dims, cellCid, cellVec, cellNrm,
      groupStart, groupMean, groupR, probeGroups)
  }
}
