package graft

import graft.expressions.{LshPlanesModel, ModelLiteral, PqModel}
import graft.operators.Similarity
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Pins the fused [[graft.expressions.LshSigs]] / [[graft.expressions
  * .PqEncode]] kernels bit-exactly to the Column-tree formulations they
  * replaced (per-plane `when(graft_dot ≥ 0)` sums; per-subspace
  * `array_min(struct(d2, cid))` trees) — on sign boundaries, adversarial
  * PQ ties, short rows (prefix-fold semantics), and NaN components. */
class VecEncodeSpec extends SparkSpec {
  import spark.implicits._

  private val Dims = 64

  private def vecs(n: Int, dims: Int = Dims) =
    (0L until n.toLong).map { id =>
      (id, Array.tabulate(dims)(i => math.sin(id * 131 + i * 7).toFloat * 3f))
    }.toDF("vec_id", "embedding")

  // ---------------------------------------------------------------- LSH

  /** The pre-fusion signature column: one graft_dot per plane. */
  private def treeSig(planes: Int, dims: Int, table: Int): Column =
    Similarity.lshSignature(col("embedding"),
      Similarity.hyperplaneSigns(planes, dims, table))

  private def fusedSigs(planes: Int, dims: Int, tables: Int): Column = {
    val flat = new Array[Double](tables * planes * dims)
    for (t <- 0 until tables) {
      val m = Similarity.hyperplaneSigns(planes, dims, t)
      for (p <- 0 until planes)
        System.arraycopy(m(p), 0, flat, (t * planes + p) * dims, dims)
    }
    call_function("graft_lsh_sigs",
      lit(ModelLiteral.serialize(
        new LshPlanesModel(tables, planes, dims, flat))),
      col("embedding").cast("array<double>"))
  }

  private def assertSigsMatch(
      df: org.apache.spark.sql.DataFrame, planes: Int, dims: Int,
      tables: Int): Unit = {
    val cols = (0 until tables).map(t => treeSig(planes, dims, t))
    val rows = df
      .select(col("vec_id"), array(cols: _*).as("e"),
        fusedSigs(planes, dims, tables).as("a"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getSeq[Long](1) == r.getSeq[Long](2),
        s"sig mismatch for vec ${r.getLong(0)}: " +
          s"${r.getSeq[Long](1)} vs ${r.getSeq[Long](2)}")
    }
  }

  test("lsh sigs: fused kernel matches the per-plane tree, 4 tables") {
    graft.expressions.GraftFunctions.register(spark)
    assertSigsMatch(vecs(200), planes = 17, dims = Dims, tables = 4)
  }

  test("lsh sigs: exact-zero projections set the bit (proj >= 0)") {
    graft.expressions.GraftFunctions.register(spark)
    // all-zero vectors: every projection is +0.0 → every bit set
    val zero = Seq((0L, Array.fill(Dims)(0f)), (1L, Array.fill(Dims)(0f)))
      .toDF("vec_id", "embedding")
    assertSigsMatch(zero, planes = 8, dims = Dims, tables = 2)
    val sigs = zero.select(fusedSigs(8, Dims, 2)).head().getSeq[Long](0)
    assert(sigs.forall(_ == 255L), s"zero vector should set all 8 bits: $sigs")
  }

  test("lsh sigs: rows shorter than dims fold the shared prefix") {
    graft.expressions.GraftFunctions.register(spark)
    val short = (0L until 20L).map { id =>
      (id, Array.tabulate(17)(i => math.cos(id * 31 + i).toFloat))
    }.toDF("vec_id", "embedding")
    assertSigsMatch(short, planes = 9, dims = Dims, tables = 3)
  }

  test("lsh sigs: NaN projections SET the bit (Spark NaN-greatest order)") {
    graft.expressions.GraftFunctions.register(spark)
    val nan = Seq((0L, Array.tabulate(Dims)(i =>
      if (i == 3) Float.NaN else 1f))).toDF("vec_id", "embedding")
    assertSigsMatch(nan, planes = 8, dims = Dims, tables = 2)
    val sigs = nan.select(fusedSigs(8, Dims, 2)).head().getSeq[Long](0)
    assert(sigs.forall(_ == 255L),
      s"NaN >= 0 is TRUE under Spark semantics — bits must set: $sigs")
  }

  // ----------------------------------------------------------------- PQ

  /** The pre-fusion per-subspace argmin: array_min over struct subtrees. */
  private def treeCode(
      cb: Array[(Int, Seq[Double], Double)], s: Int, width: Int): Column =
    array_min(array(cb.map { case (j, vec, nrm2) =>
      struct((lit(nrm2) - lit(2.0) *
        call_function("graft_dot",
          slice(col("__vd"), s * width + 1, width), typedlit(vec))).as("d2"),
        lit(j).as("cid"))
    }.toIndexedSeq: _*)).getField("cid")

  private def fusedCodes(
      cbs: Array[Array[(Int, Seq[Double], Double)]], width: Int): Column =
    call_function("graft_pq_encode",
      lit(ModelLiteral.serialize(PqModel.build(
        width, Array.tabulate(cbs.length)(_ * width), cbs))),
      col("__vd"))

  private def subCb(seed: Int, cents: Int, width: Int) =
    Array.tabulate(cents) { j =>
      val v: Seq[Double] = Seq.tabulate(width)(i =>
        math.sin(seed * 997 + j * 131 + i * 17) * 2.0)
      (j, v, v.foldLeft(0.0)((a, x) => a + x * x))
    }

  private def assertCodesMatch(
      df: org.apache.spark.sql.DataFrame,
      cbs: Array[Array[(Int, Seq[Double], Double)]], width: Int): Unit = {
    val rows = Similarity.withNorm(df, "embedding")
      .select(col("vec_id"),
        array(cbs.indices.map(s => treeCode(cbs(s), s, width)): _*).as("e"),
        fusedCodes(cbs, width).as("a"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getSeq[Int](1) == r.getSeq[Int](2),
        s"code mismatch for vec ${r.getLong(0)}: " +
          s"${r.getSeq[Int](1)} vs ${r.getSeq[Int](2)}")
    }
  }

  test("pq codes: fused kernel matches the array_min trees, 4×16") {
    val cbs = Array.tabulate(4)(s => subCb(s, 16, 16))
    assertCodesMatch(vecs(200), cbs, width = 16)
  }

  test("pq codes: exact-tie centroids resolve to the lowest cid both ways") {
    // duplicate centroid pairs — d2 ties exactly; array_min breaks by cid
    val dup = subCb(7, 4, 16)
    val cbs = Array(Array(
      (0, dup(1)._2, dup(1)._3), (1, dup(1)._2, dup(1)._3),
      (2, dup(3)._2, dup(3)._3), (3, dup(3)._2, dup(3)._3)))
    assertCodesMatch(vecs(100), cbs, width = 16)
  }

  test("pq codes: rows shorter than the last slice fold the prefix") {
    val cbs = Array.tabulate(4)(s => subCb(s, 8, 16))
    // 40-wide rows: subspace 2 sees 8 of 16 dims, subspace 3 sees none
    val short = (0L until 50L).map { id =>
      (id, Array.tabulate(40)(i => math.sin(id * 53 + i * 3).toFloat))
    }.toDF("vec_id", "embedding")
    assertCodesMatch(short, cbs, width = 16)
  }

  test("pq codes: NaN past a SHORT centroid's length is not folded") {
    // centroids narrower than the subspace width: the tree's graft_dot
    // folds min(slice, centroid) terms, so a row NaN at a padded position
    // must stay out of the accumulator (x * pad0 = NaN would poison d2)
    val shortCb = Array(Array.tabulate(5) { j =>
      val v: Seq[Double] = Seq.tabulate(12)(i => math.sin(j * 131 + i) * 2.0)
      (j, v, v.foldLeft(0.0)((a, x) => a + x * x))
    })
    val nanPad = Seq(
      (0L, Array.tabulate(16)(i => if (i == 14) Float.NaN else 1f)),
      (1L, Array.tabulate(16)(i =>
        if (i == 13) Float.PositiveInfinity else 0.5f)))
      .toDF("vec_id", "embedding")
    assertCodesMatch(nanPad, shortCb, width = 16)
  }

  test("pq codes: NaN components pick the same (lowest-cid) centroid") {
    val cbs = Array.tabulate(2)(s => subCb(s, 6, 16))
    val nan = Seq((0L, Array.tabulate(32)(i =>
      if (i == 5) Float.NaN else 1f))).toDF("vec_id", "embedding")
    assertCodesMatch(nan, cbs, width = 16)
  }

  // --------------------------------------------------- end-to-end parity

  test("lshTopK and pqTopK results are unchanged by the fused kernels") {
    // golden pin on a non-trivial corpus: rank frames must match the
    // brute-force-verified shapes SimilaritySpec already asserts; here we
    // only re-assert determinism of the fused path across two runs
    val df = vecs(300)
    def topK(gate: Similarity.Gate, scorer: Similarity.Scorer) = Similarity.topK(
      df, "vec_id", "embedding", col("vec_id") < 5, 3, gate, scorer).collect()
    val lsh = Similarity.LshBuckets(8, Dims, 4)
    val a = topK(lsh, Similarity.Exact)
    val b = topK(lsh, Similarity.Exact)
    assert(a.nonEmpty && a.sameElements(b))
    val pq = Similarity.Adc(Similarity.pqCodebookOf(df, "vec_id", "embedding"))
    val p = topK(Similarity.AllDocs, pq)
    val q = topK(Similarity.AllDocs, pq)
    assert(p.nonEmpty && p.sameElements(q))
  }
}
