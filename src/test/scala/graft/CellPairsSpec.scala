package graft

import graft.operators.Similarity
import org.apache.spark.sql.functions._

/** [[graft.expressions.CellPairs]] — the in-cell pair generator that
  * replaced the self-join form of cosineNearDupPairs/knnGraph. The
  * bit-identity claim is pinned by comparing against the join
  * formulation REBUILT here verbatim (same dot, same norm-product
  * order, same Round, same nan-safe threshold). */
class CellPairsSpec extends SparkSpec {
  import spark.implicits._

  private def joinFormPairs(emb: org.apache.spark.sql.DataFrame,
      minScore: Double): org.apache.spark.sql.DataFrame = {
    graft.expressions.GraftFunctions.register(spark)
    def dot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      call_function("graft_dot", a, b)
    val v = col("embedding").cast("array<double>")
    val base = emb.withColumn("__vd", v)
      .withColumn("__norm", sqrt(dot(v, v)))
    val a = base.select(col("blk"), col("vec_id").as("a"),
      col("__vd").as("__va"), col("__norm").as("__na"))
    val b = base.select(col("blk"), col("vec_id").as("b"),
      col("__vd").as("__vb"), col("__norm").as("__nb"))
    a.join(b, "blk").filter(col("a") < col("b"))
      .withColumn("score_r",
        round(dot(col("__va"), col("__vb")) / (col("__na") * col("__nb")), 6))
      .filter(col("score_r") >= minScore)
      .select(col("a"), col("b"), col("score_r"))
  }

  private val fixture = Seq(
    // blk 0: one tight near-dup cluster + an anti-correlated vector
    (0L, Array(1.0f, 0.0f, 0.5f), "x"),
    (1L, Array(0.9f, 0.1f, 0.5f), "x"),
    (2L, Array(-1.0f, 0.0f, -0.5f), "x"),
    // blk 1: orthogonal pair (score 0) and an exact duplicate pair
    (3L, Array(0.0f, 1.0f, 0.0f), "y"),
    (4L, Array(1.0f, 0.0f, 0.0f), "y"),
    (5L, Array(0.0f, 1.0f, 0.0f), "y"),
    // blk 2: single member -> no pairs
    (6L, Array(0.3f, 0.3f, 0.3f), "z"),
  ).toDF("vec_id", "embedding", "blk")

  test("threshold mode matches the join formulation bit for bit") {
    for (tau <- Seq(-1.0, 0.0, 0.35, 0.999)) {
      val gen = Similarity.cosineNearDupPairs(
        fixture, "vec_id", "embedding", "blk", tau)
        .orderBy("a", "b").collect().toSeq
      val join = joinFormPairs(fixture, tau)
        .orderBy("a", "b").collect().toSeq
      assert(gen === join, s"tau=$tau")
    }
  }

  /** `n` unit vectors in ONE block, at golden-angle increments so the
    * scores spread and a threshold actually filters. */
  private def oneBlock(n: Int) = (0 until n).map { i =>
    val th = i * 2.399963
    (i.toLong, Array(math.cos(th).toFloat, math.sin(th).toFloat), "w")
  }.toDF("vec_id", "embedding", "blk")

  test("a block whose worst case exceeds the refill bound matches the " +
    "join formulation") {
    // 513 members: 513·512/2 = 131,328 candidate pairs, just over
    // RefillRows (2^17 = 131,072); the threshold keeps far fewer, so one
    // refill walks every candidate. The small fixtures above never come
    // near the bound.
    assert(513L * 512 / 2 > graft.expressions.CellPairs.RefillRows)
    val gen = Similarity.cosineNearDupPairs(
      oneBlock(513), "vec_id", "embedding", "blk", 0.95)
      .orderBy("a", "b").collect().toSeq
    val join = joinFormPairs(oneBlock(513), 0.95)
      .orderBy("a", "b").collect().toSeq
    assert(gen.nonEmpty && gen === join)
  }

  test("a block with more passing pairs than the refill bound streams " +
    "them seamlessly across refills") {
    // 600 members at minScore -1: all 179,700 pairs pass, so the emitter
    // refills twice; the rows must equal the join form's, none lost or
    // repeated at the refill boundary
    val passing = 600L * 599 / 2
    assert(passing > graft.expressions.CellPairs.RefillRows)
    val gen = Similarity.cosineNearDupPairs(
      oneBlock(600), "vec_id", "embedding", "blk", -1.0)
    val join = joinFormPairs(oneBlock(600), -1.0)
    assert(gen.count() === passing)
    assert(gen.exceptAll(join).isEmpty && join.exceptAll(gen).isEmpty)
  }

  test("zero-norm member yields NaN score (join form raises under ANSI)") {
    // The one deliberate divergence, same as IvfTop1's: a degenerate
    // zero-norm vector makes the join form's codegen'd division raise
    // DIVIDE_BY_ZERO under Spark 4 ANSI mode; the generator's JVM
    // arithmetic yields NaN, which then passes the nan-safe >= exactly
    // as Spark's comparison would (NaN greatest).
    val df = Seq(
      (0L, Array(0.0f, 0.0f), "w"),
      (1L, Array(1.0f, 0.0f), "w")).toDF("vec_id", "embedding", "blk")
    val err = intercept[Exception] { joinFormPairs(df, 0.35).collect() }
    assert(err.getMessage.contains("DIVIDE_BY_ZERO"))
    val gen = Similarity.cosineNearDupPairs(df, "vec_id", "embedding", "blk", 0.35)
      .collect().toSeq
    assert(gen.size === 1 && gen.head.getDouble(2).isNaN)
  }

  test("knn mode replays the window contract (score desc, id asc, k cap)") {
    val got = Similarity.knnGraph(fixture.drop("blk"), "vec_id", "embedding",
      k = 2, centroids = 2)
      .orderBy("vec_id", "rank")
    // invariants rather than golden rows: every member with a non-empty
    // cell emits <= k rows, ranks are 1-based dense, and within an id the
    // scores are non-increasing with id-asc tie-break
    val rows = got.collect()
    val byId = rows.groupBy(_.getLong(0))
    byId.foreach { case (id, rs) =>
      assert(rs.length <= 2, s"id=$id emitted ${rs.length} > k")
      assert(rs.map(_.getInt(2)).toSeq === (1 to rs.length), s"id=$id ranks")
      val scores = rs.sortBy(_.getInt(2)).map(_.getDouble(3)).toSeq
      scores.sliding(2).foreach {
        case Seq(s1, s2) =>
          assert(java.lang.Double.compare(s1, s2) >= 0, s"id=$id order")
        case _ =>
      }
      rs.foreach(r => assert(r.getLong(1) !== id, s"id=$id self-match"))
    }
    assert(rows.nonEmpty)
  }

  test("knn tie on score breaks toward the lower neighbour id") {
    // vectors 0 and 2 are identical; vector 1 is orthogonal to both, so
    // its two candidate scores tie at 0.0 -> rank 1 goes to the lower id
    val df = Seq(
      (0L, Array(0.0f, 1.0f, 0.0f)),
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f))).toDF("vec_id", "embedding")
    val got = Similarity.knnGraph(df, "vec_id", "embedding", k = 2, centroids = 1)
      .orderBy("vec_id", "rank").collect()
    val for1 = got.filter(_.getLong(0) == 1L).sortBy(_.getInt(2))
    assert(for1.map(_.getLong(1)).toSeq === Seq(0L, 2L))
    // and the identical pair ranks each other first at score 1.0
    val for0 = got.filter(_.getLong(0) == 0L).sortBy(_.getInt(2))
    assert(for0.head.getLong(1) === 2L && for0.head.getDouble(3) === 1.0)
  }
}
