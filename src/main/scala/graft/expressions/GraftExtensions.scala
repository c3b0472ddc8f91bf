package graft.expressions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.types.{DoubleType, IntegerType}

/** Registration for graft's native expressions.
  *
  * Two entry points with the same registry payload:
  *  - `spark.sql.extensions=graft.expressions.GraftExtensions` installs the
  *    functions at session build time (the deployment path);
  *  - [[GraftFunctions.register]] installs them idempotently on a live
  *    session (the library path — Similarity calls it internally).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.all.foreach(ext.injectFunction)
}

object GraftFunctions {

  type FunctionDescription =
    (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  val all: Seq[FunctionDescription] = Seq(
    (
      FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (children: Seq[Expression]) => {
        require(children.size == 2, "graft_dot takes exactly 2 arguments")
        DotProduct(children.head, children(1))
      }),
    (
      FunctionIdentifier("graft_shingle_bands"),
      new ExpressionInfo(classOf[ShingleBands].getName, "graft_shingle_bands"),
      (children: Seq[Expression]) => {
        require(children.size == 3,
          "graft_shingle_bands takes (text, k, numHashes)")
        def intLit(e: Expression, name: String): Int = e match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case _ => throw new IllegalArgumentException(
            s"graft_shingle_bands: $name must be an integer literal")
        }
        ShingleBands(children.head,
          intLit(children(1), "k"), intLit(children(2), "numHashes"))
      }),
    (
      FunctionIdentifier("graft_simhash"),
      new ExpressionInfo(classOf[Simhash].getName, "graft_simhash"),
      (children: Seq[Expression]) => {
        require(children.size == 2, "graft_simhash takes (text, bits)")
        val bits = children(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case _ => throw new IllegalArgumentException(
            "graft_simhash: bits must be an integer literal")
        }
        Simhash(children.head, bits)
      }),
    (
      FunctionIdentifier("graft_tokens"),
      new ExpressionInfo(classOf[Tokens].getName, "graft_tokens"),
      (children: Seq[Expression]) => {
        require(children.size == 1, "graft_tokens takes exactly 1 argument")
        Tokens(children.head)
      }),
    (
      FunctionIdentifier("graft_all_shingles"),
      new ExpressionInfo(classOf[AllShingles].getName, "graft_all_shingles"),
      (children: Seq[Expression]) => {
        require(children.size == 2, "graft_all_shingles takes (words, k)")
        val k = children(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case _ => throw new IllegalArgumentException(
            "graft_all_shingles: k must be an integer literal")
        }
        AllShingles(children.head, k)
      }),
    (
      FunctionIdentifier("graft_ivf_topp"),
      new ExpressionInfo(classOf[IvfTopP].getName, "graft_ivf_topp"),
      (children: Seq[Expression]) => {
        require(children.size == 4,
          "graft_ivf_topp takes (serialized_index, vec, norm, p)")
        import org.apache.spark.sql.catalyst.expressions.Literal
        val p = children(3) match {
          case Literal(v: Int, IntegerType) => v
          case _ => throw new IllegalArgumentException(
            "graft_ivf_topp: p must be an integer literal")
        }
        IvfTopP(children.head, children(1), children(2), p)
      }),
    (
      FunctionIdentifier("graft_lsh_sigs"),
      new ExpressionInfo(classOf[LshSigs].getName, "graft_lsh_sigs"),
      (children: Seq[Expression]) => {
        require(children.size == 2, "graft_lsh_sigs takes (model, vec)")
        LshSigs(children.head, children(1))
      }),
    (
      FunctionIdentifier("graft_pq_encode"),
      new ExpressionInfo(classOf[PqEncode].getName, "graft_pq_encode"),
      (children: Seq[Expression]) => {
        require(children.size == 2, "graft_pq_encode takes (model, vec)")
        PqEncode(children.head, children(1))
      }),
    (
      FunctionIdentifier("graft_bloom_contains"),
      new ExpressionInfo(classOf[BloomMightContain].getName,
        "graft_bloom_contains"),
      (children: Seq[Expression]) => {
        require(children.size == 2,
          "graft_bloom_contains takes (serialized_filter, value)")
        BloomMightContain(children.head, children(1))
      }),
    (
      FunctionIdentifier("graft_cell_pairs"),
      new ExpressionInfo(classOf[CellPairs].getName, "graft_cell_pairs"),
      (children: Seq[Expression]) => {
        require(children.size == 3,
          "graft_cell_pairs takes (members, minScore, topK)")
        import org.apache.spark.sql.catalyst.expressions.Literal
        val minScore = children(1) match {
          case Literal(v: Double, DoubleType) => v
          case _ => throw new IllegalArgumentException(
            "graft_cell_pairs: minScore must be a double literal")
        }
        val k = children(2) match {
          case Literal(v: Int, IntegerType) => v
          case _ => throw new IllegalArgumentException(
            "graft_cell_pairs: topK must be an integer literal")
        }
        CellPairs(children.head, minScore, k)
      }))

  /** Idempotent per-session registration. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    all.foreach { case (ident, info, builder) =>
      if (!registry.functionExists(ident))
        registry.registerFunction(ident, info, builder)
    }
  }
}
