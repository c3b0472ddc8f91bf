package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Near-dup-structured embeddings fixture (r16 verdict item 3): the
  * ladder fixtures deliberately DECORRELATE copies (ScaleUp's sign-flip
  * keeps pair counts linear in the factor), which leaves them with
  * almost no true near-dup mass — 30 reference pairs at cosine ≥ 0.8 in
  * all of sf10 — so any recall number measured there is noise-level
  * support. This main writes a SEPARATE embeddings-only fixture (never
  * overwriting a ladder point, per the don't-mix-fixture-generations
  * rule): the ScaleUp-tiled corpus plus deterministic PLANTED clusters
  * whose ground truth the probe can reconstruct exactly.
  *
  * Cluster construction: seeds are REAL corpus vectors (so clusters sit
  * inside the corpus distribution, not off in random-direction space),
  * each perturbed into `members` copies `s + ε·|s|·g` with `g` a unit
  * Box-Muller gaussian seeded by splitmix64(cluster, member) — fully
  * deterministic, no Spark RNG. ε cycles through four tiers chosen so
  * the TRUE pairwise cosine (≈ 1/(1+ε²) for near-orthogonal noise)
  * populates every stratum the recall table reports: ε ∈ {0.229, 0.369,
  * 0.577, 0.905} → cos ≈ {0.95, 0.88, 0.75, 0.55}. Planted ids live at
  * `PlantBase + cluster·PlantStride + member`, strictly above every
  * tiled id (checked), so membership IS the id arithmetic and the probe
  * derives ground-truth pairs without any side file.
  *
  * usage: PlantClusters <srcDir> <destDir> [factor] [clustersPerTier]
  *        [members]
  * defaults: factor 100 (sf10-sized), 32 clusters × 4 tiers × 8 members
  * = 1024 planted vectors; pairs per tier = 32·C(8,2) = 896, so the
  * ≥ 0.8 stratum (tiers 1–2) carries ~1.8 k true pairs at the default —
  * past the ≥ 10³ support the r16 verdict requires.
  */
object PlantClusters {

  /** Planted ids start here — far above any tiled vec_id at any ladder
    * factor (sf100's max is ~10M/stride; asserted against the actual
    * tiled max at build time). */
  val PlantBase = 100000000L

  /** id = PlantBase + cluster·PlantStride + member (member < PlantStride). */
  val PlantStride = 64L

  /** ε tiers and the true-cosine design targets they encode. */
  val EpsTiers: Seq[Double] = Seq(0.229, 0.369, 0.577, 0.905)

  private def splitmix64(seed: Long): Long = {
    var z = seed + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Deterministic unit gaussian for (cluster, member): Box-Muller over
    * splitmix64 streams, normalized. */
  private[graft] def unitNoise(cluster: Int, member: Int, dim: Int): Array[Float] = {
    val out = new Array[Double](dim)
    var state = splitmix64(cluster.toLong * 0x9E3779B97F4A7C15L + member + 1)
    var i = 0
    while (i < dim) {
      state = splitmix64(state)
      val u1 = ((state >>> 11).toDouble + 1.0) / 9007199254740993.0 // (0,1)
      state = splitmix64(state)
      val u2 = (state >>> 11).toDouble / 9007199254740992.0 // [0,1)
      val r = math.sqrt(-2.0 * math.log(u1))
      out(i) = r * math.cos(2.0 * math.Pi * u2)
      if (i + 1 < dim) out(i + 1) = r * math.sin(2.0 * math.Pi * u2)
      i += 2
    }
    val norm = math.sqrt(out.map(x => x * x).sum)
    out.map(x => (x / norm).toFloat)
  }

  /** One planted member: seed + ε·|seed|·noise. */
  private[graft] def member(seed: Array[Float], cluster: Int, m: Int,
      eps: Double): Array[Float] = {
    val g = unitNoise(cluster, m, seed.length)
    val norm = math.sqrt(seed.map(x => x.toDouble * x).sum)
    seed.indices.map(i => (seed(i) + eps * norm * g(i)).toFloat).toArray
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: PlantClusters <srcDir> <destDir> [factor] [clustersPerTier] [members]")
    val (srcDir, destDir) = (args(0), args(1))
    val factor = args.lift(2).map(_.toInt).getOrElse(100)
    val perTier = args.lift(3).map(_.toInt).getOrElse(32)
    val members = args.lift(4).map(_.toInt).getOrElse(8)
    require(members <= PlantStride, s"members must fit the id stride")
    val spark = Session()

    val emb = spark.read.parquet(s"$srcDir/embeddings.parquet")
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    val mx = emb.agg(max(col("vec_id").cast("long"))).head().getLong(0)
    var stride = 1L
    while (stride <= mx) stride *= 10
    val tiledMax = (factor - 1).toLong * stride + mx
    require(PlantBase > tiledMax,
      s"planted ids must sit above the tiled range ($tiledMax)")

    // identical tiling law to ScaleUp (sign-flip decorrelation, copy 0
    // verbatim) — the corpus half of this fixture matches the ladder's
    val tiled: DataFrame = (0 until factor).map { i =>
      emb.withColumn("vec_id", col("vec_id") + lit(i * stride))
        .withColumn("embedding", ScaleUp.signFlip(col("embedding"), i, dim))
    }.reduce(_ unionByName _)

    // seeds: real corpus vectors, deterministically spread over the base
    // table (stride 7 walks the 2000-vector fixture without collision
    // for any plausible cluster count)
    val nClusters = perTier * EpsTiers.size
    val seedIds = (0 until nClusters).map(c => (c.toLong * 7L) % (mx + 1))
    // seeds carry their row's full shape (the fixture also has a label
    // column); a planted member keeps its seed's label — perturbed
    // copies of a document keep its class
    val seedVecs: Map[Long, (Array[Float], Int)] = emb
      .filter(col("vec_id").isin(seedIds.distinct: _*))
      .select(col("vec_id").cast("long"), col("embedding"), col("label"))
      .collect()
      .map(r => r.getLong(0) -> (r.getSeq[Float](1).toArray, r.getInt(2)))
      .toMap

    val planted: Seq[(Long, Array[Float], Int)] = (0 until nClusters).flatMap { c =>
      val eps = EpsTiers(c % EpsTiers.size)
      val (seed, label) = seedVecs(seedIds(c))
      (0 until members).map { m =>
        (PlantBase + c.toLong * PlantStride + m, member(seed, c, m, eps), label)
      }
    }
    import spark.implicits._
    val plantedDf = planted.toDF("vec_id", "embedding", "label")
      .select(col("vec_id").cast(emb.schema("vec_id").dataType).as("vec_id"),
        col("embedding"),
        col("label").cast(emb.schema("label").dataType).as("label"))

    tiled.unionByName(plantedDf)
      .write.mode("overwrite").parquet(s"$destDir/embeddings.parquet")

    val total = spark.read.parquet(s"$destDir/embeddings.parquet").count()
    val pairsPerTier = perTier * members * (members - 1) / 2
    println(s"[plant] factor=$factor total=$total planted=${planted.size} " +
      s"clusters=$nClusters pairs_per_tier=$pairsPerTier " +
      s"eps=${EpsTiers.mkString(",")}")
    spark.stop()
  }
}
