package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, DoubleType, IntegerType, LongType}

/** Fused per-row vector-encode kernels — the `graft_ivf_topp` treatment
  * ([[IvfTopP]]) applied to the two remaining literal-tree hot paths the
  * 100× ladder point surfaced:
  *
  *  - [[LshSigs]]: ALL multi-table LSH signatures in one pass over the
  *    vector. The Column formulation evaluates `tables × planes` separate
  *    `graft_dot` calls per row (each re-walking the same ArrayData); with
  *    corpus-scaled plane counts (17 planes × 4 tables at the 100× point)
  *    that is 68 loop dispatches per row on the full-corpus side of the
  *    LSH gate — the measured dominant term of sim_topk_lsh's 70 s.
  *  - [[PqEncode]]: ALL product-quantization subspace codes in one pass.
  *    The Column formulation is `array_min` over `cents` struct subtrees
  *    per subspace (64 struct allocations per row at 4×16), run per doc in
  *    every ADC-scored top-k AND per Lloyd's iteration in
  *    trainSubCodebooks.
  *
  * Both hold their model (plane matrix / sub-codebooks) as ONE serialized
  * binary literal ([[ModelLiteral]]) — plan and codegen size O(1) in the
  * model — and replay the replaced expression trees bit-for-bit:
  *  - identical left-to-right double folds (`acc += x(j) * m(j)`, same
  *    element order as [[DotProduct]] / the `slice` subspace views);
  *  - LSH bit test `proj >= 0.0` under SPARK comparison semantics (−0.0
  *    sets the bit; NaN sorts greater than any value, so a NaN
  *    projection sets it too — Java's `>=` alone would diverge);
  *  - PQ argmin compared with Spark's nan-safe struct ordering
  *    ([[IvfPrunedIndex.cmpDouble]], then cid asc on ties — iteration in
  *    ascending-cid order with a strict-less keep reproduces it).
  * The embedded DuckDB oracles replay the same literals in SQL, so every
  * hash stays green.
  */
case class LshSigs(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType, ArrayType(DoubleType, _))
          if left.foldable && left.eval(null) != null =>
        TypeCheckResult.TypeCheckSuccess
      case (BinaryType, ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckFailure(
          "graft_lsh_sigs: model must be a non-null foldable binary literal")
      case (a, b) =>
        TypeCheckResult.TypeCheckFailure(
          s"graft_lsh_sigs requires (binary, array<double>), got " +
            s"${a.simpleString}, ${b.simpleString}")
    }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def prettyName: String = "graft_lsh_sigs"

  /** Deserialized once per task from the foldable literal, not per row. */
  @transient private lazy val model: LshPlanesModel =
    ModelLiteral.deserialize[LshPlanesModel](left.eval(null), prettyName)

  override def nullSafeEval(bytes: Any, vec: Any): Any =
    model.sigs(vec.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("lshModel", model,
      classOf[LshPlanesModel].getName)
    nullSafeCodeGen(ctx, ev, (_, vec) => s"${ev.value} = $ref.sigs($vec);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): LshSigs =
    copy(left = newLeft, right = newRight)
}

/** The serialized model behind [[LshSigs]]: `tables` independent ±1
  * hyperplane matrices flattened row-major (table, plane, dim). */
@SerialVersionUID(1702618014087919937L) // see ModelLiteral
final class LshPlanesModel(
    val tables: Int,
    val planes: Int,
    val dims: Int,
    val signs: Array[Double]) // tables × planes × dims, row-major
    extends Serializable {

  require(tables >= 1 && planes >= 1 && planes <= 48 && dims >= 1,
    s"LshPlanesModel: bad shape tables=$tables planes=$planes dims=$dims")
  require(signs.length == tables * planes * dims,
    s"LshPlanesModel: ${signs.length} signs for $tables×$planes×$dims")

  /** All `tables` signatures of one vector — bit-identical to summing
    * `when(graft_dot(v, plane_p) >= 0, 1L << p)` over planes per table
    * (same fold order; rows shorter than `dims` fold the shared prefix,
    * matching graft_dot's min-length semantics). */
  def sigs(vec: ArrayData): ArrayData = {
    val n = vec.numElements()
    val m = if (n < dims) n else dims
    val xs = new Array[Double](m)
    var i = 0
    while (i < m) { xs(i) = vec.getDouble(i); i += 1 }
    val out = new Array[Long](tables)
    var t = 0
    while (t < tables) {
      var sig = 0L
      var p = 0
      while (p < planes) {
        val off = (t * planes + p) * dims
        var acc = 0.0
        var j = 0
        while (j < m) { acc += xs(j) * signs(off + j); j += 1 }
        // Spark comparison semantics: NaN sorts GREATER than any value,
        // so a NaN projection satisfies `proj >= 0` and sets the bit
        // (unlike Java's `>=`) — pinned in VecEncodeSpec
        if (acc >= 0.0 || java.lang.Double.isNaN(acc)) sig += (1L << p)
        p += 1
      }
      out(t) = sig
      t += 1
    }
    new GenericArrayData(out)
  }
}

/** All PQ subspace codes in one pass — see [[LshSigs]]'s scaladoc. */
case class PqEncode(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType, ArrayType(DoubleType, _))
          if left.foldable && left.eval(null) != null =>
        TypeCheckResult.TypeCheckSuccess
      case (BinaryType, ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckFailure(
          "graft_pq_encode: model must be a non-null foldable binary literal")
      case (a, b) =>
        TypeCheckResult.TypeCheckFailure(
          s"graft_pq_encode requires (binary, array<double>), got " +
            s"${a.simpleString}, ${b.simpleString}")
    }

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def prettyName: String = "graft_pq_encode"

  @transient private lazy val model: PqModel =
    ModelLiteral.deserialize[PqModel](left.eval(null), prettyName)

  override def nullSafeEval(bytes: Any, vec: Any): Any =
    model.encode(vec.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqModel", model, classOf[PqModel].getName)
    nullSafeCodeGen(ctx, ev, (_, vec) => s"${ev.value} = $ref.encode($vec);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqEncode =
    copy(left = newLeft, right = newRight)
}

/** The serialized model behind [[PqEncode]]: per encoded subspace, its
  * slice offset into the full vector plus the sub-codebook (cid ascending)
  * flattened to primitive arrays. `sliceStart` is explicit (not s·width)
  * so trainSubCodebooks can encode ONE evolving subspace per iteration
  * while ADC scoring encodes all of them. */
@SerialVersionUID(-5773298605375734736L) // see ModelLiteral
final class PqModel(
    val width: Int,
    val sliceStart: Array[Int],      // one per encoded subspace
    val cid: Array[Array[Int]],      // per subspace, ascending
    val cvec: Array[Array[Double]],  // per subspace, cents × width row-major
    val nrm2: Array[Array[Double]],  // per subspace: ‖c‖² per centroid
    val clen: Array[Array[Int]])     // per subspace: true centroid length
    extends Serializable {

  require(sliceStart.length >= 1 &&
    cid.length == sliceStart.length && cvec.length == sliceStart.length &&
    nrm2.length == sliceStart.length && clen.length == sliceStart.length,
    "PqModel: ragged subspace arrays")
  require(cid.forall(_.nonEmpty), "PqModel: empty sub-codebook")

  /** Codes for every configured subspace — bit-identical to
    * `array_min(array(struct(nrm2_c - 2.0*dot(slice, c), cid)...)).cid`
    * per subspace (same slice fold order, nan-safe double compare, ties
    * cid asc; slices past the row's end fold the available prefix,
    * matching `slice`+graft_dot truncation). */
  def encode(vec: ArrayData): ArrayData = {
    val n = vec.numElements()
    // one upfront copy of the widest prefix any subspace touches
    var need = 0
    var s = 0
    while (s < sliceStart.length) {
      val e = sliceStart(s) + width
      if (e > need) need = e
      s += 1
    }
    val m = if (n < need) n else need
    val xs = new Array[Double](m)
    var i = 0
    while (i < m) { xs(i) = vec.getDouble(i); i += 1 }
    val out = new Array[Int](sliceStart.length)
    s = 0
    while (s < sliceStart.length) {
      val st = sliceStart(s)
      val avail0 = m - st
      val avail = if (avail0 < 0) 0 else if (avail0 > width) width else avail0
      val cds = cid(s)
      val vs = cvec(s)
      val n2 = nrm2(s)
      val ls = clen(s)
      var bestD2 = 0.0
      var bestCid = 0
      var init = false
      var c = 0
      while (c < cds.length) {
        var acc = 0.0
        var j = 0
        val off = c * width
        // fold min(centroid length, available slice) terms — the zero-pad
        // past a short centroid must NOT be folded, or a row NaN/Inf at a
        // padded position turns acc into NaN where the replaced
        // slice+graft_dot tree stayed finite
        val lim = if (ls(c) < avail) ls(c) else avail
        while (j < lim) { acc += xs(st + j) * vs(off + j); j += 1 }
        val d2 = n2(c) - 2.0 * acc
        if (!init || IvfPrunedIndex.cmpDouble(d2, bestD2) < 0) {
          bestD2 = d2; bestCid = cds(c); init = true
        }
        c += 1
      }
      out(s) = bestCid
      s += 1
    }
    new GenericArrayData(out)
  }
}

object PqModel {

  /** Build from `(cid, centroidSlice, ‖c‖²)` sub-codebooks — the same
    * driver-side model artifact the `array_min` formulation inlined.
    * `starts(i)` is subspace i's offset into the full vector. */
  def build(
      width: Int,
      starts: Array[Int],
      cbs: Array[Array[(Int, Seq[Double], Double)]]): PqModel = {
    require(starts.length == cbs.length, "PqModel.build: starts/cbs mismatch")
    val cid = new Array[Array[Int]](cbs.length)
    val cvec = new Array[Array[Double]](cbs.length)
    val nrm2 = new Array[Array[Double]](cbs.length)
    val clen = new Array[Array[Int]](cbs.length)
    var s = 0
    while (s < cbs.length) {
      val sorted = cbs(s).sortBy(_._1)
      require(sorted.forall(_._2.length <= width),
        s"PqModel.build: centroid wider than $width in subspace $s")
      cid(s) = sorted.map(_._1)
      nrm2(s) = sorted.map(_._3)
      clen(s) = sorted.map(_._2.length)
      val flat = new Array[Double](sorted.length * width)
      var c = 0
      while (c < sorted.length) {
        val v = sorted(c)._2
        var j = 0
        while (j < v.length) { flat(c * width + j) = v(j); j += 1 }
        c += 1
      }
      cvec(s) = flat
      s += 1
    }
    new PqModel(width, starts, cid, cvec, nrm2, clen)
  }
}
