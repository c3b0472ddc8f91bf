package graft

import graft.operators.Similarity
import graft.operators.Similarity.{Adc, AdcRefine, AllDocs, IvfCells, IvfIndex, LshBuckets}
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  /** Deterministic pseudo-vectors plus planted near-duplicates. */
  private def fixture = {
    val base = (0L until 40L).map { id =>
      val v = Array.tabulate(64) { i =>
        (math.sin(id * 64 + i) * 100).toFloat
      }
      (id, v)
    }
    // plant near-dups of vectors 0..4 at ids 100..104 (tiny perturbation)
    val dups = (0L until 5L).map { id =>
      val v = base(id.toInt)._2.clone()
      v(0) = v(0) + 0.01f
      (id + 100L, v)
    }
    (base ++ dups).toDF("vec_id", "embedding")
  }

  private def topK(probes: org.apache.spark.sql.Column, k: Int,
      gate: Similarity.Gate, scorer: Similarity.Scorer = Similarity.Exact) =
    Similarity.topK(fixture, "vec_id", "embedding", probes, k, gate, scorer)
  private def cells(n: Int) = Similarity.coarseCodebookOf(fixture, "vec_id", "embedding", n)
  private def pqSeed(cents: Int) =
    Similarity.pqCodebookOf(fixture, "vec_id", "embedding", 4, cents)

  test("bruteForceTopK finds planted near-duplicates at rank 1") {
    val out = topK(col("vec_id") < 5, 3, AllDocs)
      .filter(col("rank") === 1).collect()
    assert(out.length == 5)
    out.foreach { r =>
      assert(r.getAs[Long]("vec_id_n") == r.getAs[Long]("probe_id") + 100L)
      assert(r.getAs[Double]("score_r") > 0.999)
    }
  }

  test("lshTopK recalls planted near-duplicates (same bucket, cos≈1)") {
    val out = topK(col("vec_id") < 5, 3, LshBuckets(8, 64, 1))
      .filter(col("rank") === 1).collect()
    // a near-identical vector lands in the same bucket for every plane
    assert(out.length == 5)
    out.foreach { r =>
      assert(r.getAs[Long]("vec_id_n") == r.getAs[Long]("probe_id") + 100L)
    }
  }

  test("ivfTopK recalls planted near-duplicates through cell routing") {
    val out = topK(col("vec_id") < 5, 3, IvfCells(cells(8), 2))
      .filter(col("rank") === 1).collect()
    // the perturbed twin lands in the same coarse cell as its original
    assert(out.length == 5)
    out.foreach { r =>
      assert(r.getAs[Long]("vec_id_n") == r.getAs[Long]("probe_id") + 100L)
    }
  }

  test("ivfPqTopK cell gate keeps planted twins and preserves PQ scores") {
    // k exceeds the corpus → the result IS the gated candidate set.
    // Recall property of the GATE: a near-identical twin always shares
    // its original's coarse cell, so gating never loses it. (Rank-1 is
    // NOT asserted — ADC is quantized; exactness is pinned separately by
    // the sub-centroid test below and the DuckDB hash compare.)
    val gated = topK(col("vec_id") < 5, 100, IvfCells(cells(8), 2), Adc(pqSeed(8)))
      .select("probe_id", "vec_id_n", "score_r")
      .as[(Long, Long, Double)].collect()
    val pairs = gated.map(r => (r._1, r._2)).toSet
    (0L until 5L).foreach { p =>
      assert(pairs.contains((p, p + 100L)),
        s"cell gate dropped probe $p's planted twin")
    }
    // score consistency: the gate changes WHICH pairs score, never HOW
    val ungated = topK(col("vec_id") < 5, 100, AllDocs, Adc(pqSeed(8)))
      .select("probe_id", "vec_id_n", "score_r")
      .as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    gated.foreach { case (p, c, s) =>
      assert(ungated((p, c)) == s, s"ADC score drift for ($p, $c)")
    }
  }

  test("ivfPqTopK scores a strict subset of pqTopK's candidates (cell gate)") {
    // k exceeds the corpus so BOTH sides return their full candidate set
    val gated = topK(col("vec_id") < 5, 100, IvfCells(cells(8), 2), Adc(pqSeed(8)))
      .select("probe_id", "vec_id_n").as[(Long, Long)].collect().toSet
    val ungated = topK(col("vec_id") < 5, 100, AllDocs, Adc(pqSeed(8)))
      .select("probe_id", "vec_id_n").as[(Long, Long)].collect().toSet
    assert(gated.subsetOf(ungated), "gating must only REMOVE candidates")
    assert(gated.size < ungated.size,
      "nprobe=2 of 8 cells must actually gate something on this fixture")
  }

  test("ivfPqRefinedTopK puts the planted twin back at rank 1 with its EXACT score") {
    // The refine's whole point: ADC quantization can demote the true
    // neighbour within the candidate set, but the exact re-rank restores
    // it — rank-1 IS asserted here (vs. the ADC-only test above, where it
    // deliberately isn't), with the brute-force-exact rounded score.
    val out = topK(col("vec_id") < 5, 3, IvfCells(cells(8), 2),
      AdcRefine(pqSeed(8), 3))
      .filter(col("rank") === 1).collect()
    assert(out.length == 5)
    out.foreach { r =>
      assert(r.getAs[Long]("vec_id_n") == r.getAs[Long]("probe_id") + 100L,
        s"refine lost probe ${r.getAs[Long]("probe_id")}'s planted twin")
      assert(r.getAs[Double]("score_r") > 0.999, "refined score is not exact")
    }
    // every refined score equals the brute-force exact score for its pair
    val exact = topK(col("vec_id") < 5, 100, AllDocs)
      .select("probe_id", "vec_id_n", "score_r")
      .as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    topK(col("vec_id") < 5, 3, IvfCells(cells(8), 2), AdcRefine(pqSeed(8), 3))
      .select("probe_id", "vec_id_n", "score_r")
      .as[(Long, Long, Double)].collect()
      .foreach { case (p, c, s) =>
        assert(exact((p, c)) == s, s"refined score for ($p, $c) is not exact")
      }
  }

  test("trained codebook is deterministic and recalls planted near-dups") {
    val cb = Similarity.trainCodebook(fixture, "vec_id", "embedding", 8, 2)
    assert(cb.nonEmpty && cb.length <= 8)
    // bit-identical across runs: fixed-point means leave no float
    // summation order to vary
    val cb2 = Similarity.trainCodebook(fixture, "vec_id", "embedding", 8, 2)
    assert(cb.toSeq == cb2.toSeq)
    val out = topK(col("vec_id") < 5, 3, IvfCells(cb, 2))
      .filter(col("rank") === 1).collect()
    assert(out.length == 5)
    out.foreach { r =>
      assert(r.getAs[Long]("vec_id_n") == r.getAs[Long]("probe_id") + 100L)
    }
  }

  test("trained sub-codebooks are deterministic and keep planted twins at rank 1") {
    val pq = Similarity.trainSubCodebooks(
      fixture, "vec_id", "embedding", subspaces = 4, cents = 8, iters = 2)
    assert(pq.subspaces == 4 && pq.width == 16)
    pq.subs.foreach { sub =>
      assert(sub.nonEmpty && sub.length <= 8)
      sub.foreach { case (_, vec, nrm2) =>
        assert(vec.length == 16)
        // cached norm² must match the vector (the argmin depends on it)
        assert(math.abs(nrm2 - vec.map(x => x * x).sum) < 1e-9)
      }
    }
    // bit-identical across runs (fixed-point means)
    val pq2 = Similarity.trainSubCodebooks(
      fixture, "vec_id", "embedding", subspaces = 4, cents = 8, iters = 2)
    assert(pq.subs.map(_.toSeq).toSeq == pq2.subs.map(_.toSeq).toSeq)
    // training must move the codebook off its seed slices
    val seedless = Similarity.trainSubCodebooks(
      fixture, "vec_id", "embedding", subspaces = 4, cents = 8, iters = 0)
    assert(pq.subs.map(_.toSeq).toSeq != seedless.subs.map(_.toSeq).toSeq)
    // training must REDUCE quantization distortion vs the seed slices:
    // total min-L2 over every vector×subspace, computed locally
    val vecs = fixture.collect().map(r =>
      (r.getAs[Long]("vec_id"),
        r.getAs[collection.Seq[Float]]("embedding").map(_.toDouble).toIndexedSeq))
    def distortion(pq: Similarity.PqCodebooks): Double =
      vecs.map { case (_, v) =>
        (0 until 4).map { s =>
          val x = v.slice(s * 16, (s + 1) * 16)
          pq.subs(s).map { case (_, c, _) =>
            x.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum
          }.min
        }.sum
      }.sum
    assert(distortion(pq) < distortion(seedless),
      "Lloyd's iterations failed to reduce quantization distortion")
    // trained codes lose the exact-reconstruction guarantee seed
    // codebooks gave centroid-probes (code ties can displace the twin
    // from an unrefined top-3), so assert the PRODUCTION contract:
    // trained PQ + exact refine puts every twin back at rank 1
    val out = topK(col("vec_id") < 5, 3, IvfCells(cells(16)), AdcRefine(pq, 5))
      .filter(col("rank") === 1).collect()
    assert(out.length == 5)
    out.foreach { r =>
      assert(r.getAs[Long]("vec_id_n") == r.getAs[Long]("probe_id") + 100L)
    }
  }

  test("codebook trained on a hash-sampled slice still routes near-dups") {
    // the 100 TB training path: deterministic half-rate sample
    val cb = Similarity.trainCodebook(
      fixture, "vec_id", "embedding", 8, 2, sampleRate = 0.5)
    assert(cb.nonEmpty)
    val out = topK(col("vec_id") < 5, 3, IvfCells(cb, 2))
      .filter(col("rank") === 1).collect()
    // near-identical twins share a cell under ANY codebook
    assert(out.length == 5)
    out.foreach { r =>
      assert(r.getAs[Long]("vec_id_n") == r.getAs[Long]("probe_id") + 100L)
    }
  }

  test("pqTopK ADC score is EXACT for docs that are sub-centroids") {
    // a doc that IS one of the 8 codebook vectors quantizes to itself
    // (sub-distance 0 in every subspace), so its reconstruction is
    // lossless and the asymmetric score must equal the exact dot —
    // the sharpest checkable property of ADC lookup scoring
    val out = topK(col("vec_id") === 0, 44, AllDocs, Adc(pqSeed(8))).collect()
    assert(out.nonEmpty && out.map(_.getAs[Int]("rank")).distinct.length == out.length)
    val vecs = fixture.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble)).toMap
    val p = vecs(0L)
    def sliceDot(a: Seq[Double], b: Seq[Double], s: Int): Double =
      (s * 16 until (s + 1) * 16).foldLeft(0.0)((acc, i) => acc + a(i) * b(i))
    val checked = out.filter(r => r.getAs[Long]("vec_id_n") < 8)
    assert(checked.nonEmpty)
    checked.foreach { r =>
      val d = vecs(r.getAs[Long]("vec_id_n"))
      val exact = (0 until 4).map(sliceDot(p, d, _)).sum
      assert(r.getAs[Double]("score_r") ==
        BigDecimal(exact).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
  }

  test("multi-table LSH recall dominates single-table recall") {
    // k=40 returns every candidate, so the result IS the candidate set
    def pairs(tables: Int) = topK(col("vec_id") < 5, 40, LshBuckets(8, 64, tables))
      .select("probe_id", "vec_id_n").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val one = pairs(1)
    val four = pairs(4)
    // the union of L tables' buckets can only grow the candidate set…
    assert(one.subsetOf(four))
    // …and on this fixture it strictly does — the single-table miss set
    // is exactly what multi-table LSH exists to recover
    assert(four.size > one.size)
  }

  test("recall floors: the sim_recall_report composition holds minimum " +
    "recall@5 per method on the planted fixture") {
    val pf = col("vec_id") < 5
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select("probe_id", "vec_id_n").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = pairSet(topK(pf, 5, AllDocs))
    assert(brute.size == 25)
    def recall(approx: Set[(Long, Long)]) =
      approx.intersect(brute).size.toDouble / brute.size
    val ivf = recall(pairSet(topK(pf, 5, IvfCells(cells(16)))))
    val ivfpq = recall(pairSet(topK(pf, 5, IvfCells(cells(16)), Adc(pqSeed(16)))))
    val lsh = recall(pairSet(topK(pf, 5, LshBuckets(8, 64, 4))))
    val cb = Similarity.trainCodebook(fixture, "vec_id", "embedding", 16, 2)
    val pq = Similarity.trainSubCodebooks(fixture, "vec_id", "embedding",
      subspaces = 4, cents = 16, iters = 2, dims = 64)
    val ivfTrained = recall(pairSet(topK(pf, 5, IvfCells(cb))))
    val refined = recall(pairSet(
      topK(pf, 5, IvfCells(cells(16)), AdcRefine(pqSeed(16), 3))))
    val trainedPq = recall(pairSet(topK(pf, 5, IvfCells(cb), Adc(pq))))
    val pqOnly = recall(pairSet(topK(pf, 5, AllDocs, Adc(pqSeed(16)))))
    // floors, not equalities: the gate (sim_recall_report) pins the exact
    // integers per scale; the spec pins the QUALITY contract — an index
    // change that tanks recall fails here even if it re-pins the oracle.
    // EVERY report variant carries a floor.
    assert(ivf >= 0.8, s"ivf recall@5 sank to $ivf")
    assert(ivfpq >= 0.3, s"ivfpq recall@5 sank to $ivfpq")
    assert(lsh >= 0.3, s"lsh recall@5 sank to $lsh")
    assert(ivfTrained >= 0.8, s"ivf_trained recall@5 sank to $ivfTrained")
    assert(refined >= 0.5, s"ivfpq_refined recall@5 sank to $refined")
    assert(refined >= ivfpq,
      s"exact refine must not lose recall vs raw ADC: $refined < $ivfpq")
    assert(trainedPq >= 0.3, s"ivfpq_trained_pq recall@5 sank to $trainedPq")
    assert(pqOnly >= 0.3, s"pq recall@5 sank to $pqOnly")
    // every method must still surface the planted rank-1 twins
    assert((0L until 5L).forall(p =>
      brute.contains((p, p + 100L))), "fixture twins missing from brute")
  }

  test("lshTopK candidate set is bucket-bounded (subset of brute scores)") {
    val brute = topK(col("vec_id") < 5, 40, AllDocs)
      .select("probe_id", "vec_id_n", "score_r")
    val lsh = topK(col("vec_id") < 5, 40, LshBuckets(8, 64, 1))
      .select("probe_id", "vec_id_n", "score_r")
    // every LSH-scored pair must carry the exact brute-force score
    assert(lsh.except(brute).count() == 0)
  }

  test("semanticNearDupPairs recalls planted twins; precision is exact") {
    val pairs = Similarity.semanticNearDupPairs(
      fixture, "vec_id", "embedding", 0.99, centroids = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // every planted twin shares its original's cluster (cos ≈ 1 beats
    // any centroid split) and must surface as a pair
    val found = pairs.map(p => (p._1, p._2)).toSet
    (0L until 5L).foreach(id => assert(found.contains((id, id + 100L))))
    // precision: within-cluster scores are EXACT cosines, so every
    // reported pair clears the threshold by construction
    pairs.foreach(p => assert(p._3 >= 0.99))
  }

  test("semanticNearDupPairs is a subset of all-pairs at the threshold") {
    // cluster blocking can only DROP pairs vs the unblocked all-pairs
    // scan; what survives carries the identical rounded score
    val all = Similarity.cosineNearDupPairs(
      fixture.withColumn("one", lit(1)), "vec_id", "embedding", "one", 0.5)
    val sem = Similarity.semanticNearDupPairs(
      fixture, "vec_id", "embedding", 0.5, centroids = 8)
    assert(sem.except(all).count() == 0)
  }

  test("twoLevelClustered: planted near-dups share a composite cell; " +
    "cells are valid (l2 < m2) and cover every row") {
    val m2 = 4
    val cb1 = Similarity.coarseCodebookOf(fixture, "vec_id", "embedding", 4)
    val cells = Similarity.twoLevelClustered(
      fixture, "vec_id", "embedding", cb1, m2).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(cells.size == 45, "every input row must be assigned exactly once")
    // composite key well-formed: l2 component within [0, m2)
    cells.values.foreach(c => assert(c % m2 >= 0 && c % m2 < m2))
    // a near-identical twin (cos ≈ 1) must land with its original — the
    // blocking-recall property SemDeDup needs from ANY cell law
    (0L until 5L).foreach { id =>
      assert(cells(id) == cells(id + 100L),
        s"planted twin $id/${id + 100} split across cells " +
          s"${cells(id)}/${cells(id + 100L)}")
    }
  }

  test("knnGraph and semanticNearDupPairs switch to the two-level form " +
    "above MaxDriverCells and still recall planted twins") {
    // bound forced low so the branch runs with real cell geometry on a
    // 45-row frame: k = 9 > 8 → two-level with k1 = 3, m2 = 3
    val edges = Similarity.knnGraph(
      fixture, "vec_id", "embedding", k = 1, centroids = 9,
      maxDriverCells = 8).collect()
    assert(edges.nonEmpty)
    (0L until 5L).foreach { id =>
      val nbr = edges.find(_.getLong(0) == id).map(_.getLong(1))
      assert(nbr.contains(id + 100L),
        s"two-level kNN lost planted twin of $id: got $nbr")
    }
    val pairs = Similarity.semanticNearDupPairs(
      fixture, "vec_id", "embedding", 0.99, centroids = 9,
      maxDriverCells = 8).collect()
    (0L until 5L).foreach { id =>
      assert(pairs.exists(p => p.getLong(0) == id && p.getLong(1) == id + 100L),
        s"two-level semantic near-dup lost planted pair ($id, ${id + 100})")
    }
  }

  test("twoLevelClustered l1Probes=2: every row keeps its top-1 cell " +
    "among <= 2 blocks, and the semantic two-level branch dedups (a, b)") {
    val m2 = 4
    val cb1 = Similarity.coarseCodebookOf(fixture, "vec_id", "embedding", 4)
    val top1 = Similarity.twoLevelClustered(
      fixture, "vec_id", "embedding", cb1, m2).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val probed = Similarity.twoLevelClustered(
      fixture, "vec_id", "embedding", cb1, m2, l1Probes = 2).collect()
      .groupBy(_.getLong(0)).map { case (id, rs) =>
        id -> rs.map(_.getLong(2)).toSet
      }
    assert(probed.keySet == top1.keySet, "multi-probe must cover every row")
    probed.foreach { case (id, cells) =>
      assert(cells.size >= 1 && cells.size <= 2,
        s"row $id blocked into ${cells.size} cells")
      assert(cells.contains(top1(id)),
        s"row $id lost its top-1 cell ${top1(id)}: probed $cells")
    }
    // the branch's pair output is (a, b)-unique even though a pair can
    // surface in two shared blocks — the dropDuplicates contract
    val pairs = Similarity.semanticNearDupPairs(
      fixture, "vec_id", "embedding", 0.5, centroids = 9,
      maxDriverCells = 8)
    val dup = pairs.groupBy("a", "b").count().filter(col("count") > 1).count()
    assert(dup == 0, s"two-level branch emitted $dup duplicated pairs")
  }

  test("cosineNearDupPairs drops null block keys (the join-form contract)") {
    // the self-join formulation never paired null-keyed rows (null does
    // not equi-join); the generator form must not either — groupBy would
    // otherwise collect every null into ONE block and pair its members
    val withNulls = fixture.withColumn("blk",
      when(col("vec_id") < 200, lit(null).cast("string")).otherwise(lit("x")))
    assert(Similarity.cosineNearDupPairs(
      withNulls, "vec_id", "embedding", "blk", -1.0).count() == 0,
      "null-block rows paired with each other")
    // sanity: the same frame with the nulls made real DOES pair
    val keyed = fixture.withColumn("blk", lit("x"))
    assert(Similarity.cosineNearDupPairs(
      keyed, "vec_id", "embedding", "blk", 0.99).count() >= 5)
  }

  test("non-integral id columns fail fast with a clear message") {
    val stringIds = fixture.withColumn("vec_id", concat(lit("doc-"),
      col("vec_id").cast("string")))
    val e1 = intercept[IllegalArgumentException] {
      Similarity.cosineNearDupPairs(
        stringIds.withColumn("blk", lit("x")),
        "vec_id", "embedding", "blk", 0.9)
    }
    assert(e1.getMessage.contains("integral"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      Similarity.knnGraph(stringIds, "vec_id", "embedding", 3)
    }
    assert(e2.getMessage.contains("integral"), e2.getMessage)
    // int (not just long) ids remain accepted — the cast widens losslessly
    val intIds = fixture.withColumn("vec_id", col("vec_id").cast("int"))
    assert(Similarity.cosineNearDupPairs(
      intIds.withColumn("blk", lit("x")),
      "vec_id", "embedding", "blk", 0.99).count() >= 5)
  }

  test("IVF index append adds part-files without rewriting the base index") {
    val idx = java.nio.file.Files.createTempDirectory("sim-ivf-incr").toString
    val isBatch = col("vec_id") % 3 === 0 && col("vec_id") >= 8
    val cb = Similarity.coarseCodebookOf(
      fixture.filter(!isBatch), "vec_id", "embedding", centroids = 8)
    Similarity.writeIvfIndex(
      fixture.filter(!isBatch), "vec_id", "embedding", idx, cb, "overwrite")
    def files(): Set[String] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        Option(f.listFiles).iterator.flatten.toSeq.flatMap(c =>
          if (c.isDirectory) walk(c) else Seq(c))
      walk(new java.io.File(idx))
        .filter(_.getName.endsWith(".parquet")).map(_.toString).toSet
    }
    val baseFiles = files()
    Similarity.writeIvfIndex(
      fixture.filter(isBatch), "vec_id", "embedding", idx, cb, "append")
    // the no-rebuild contract: every base part-file survives byte-for-
    // name, the batch lands as NEW files only
    assert(files().intersect(baseFiles) == baseFiles,
      "append rewrote or dropped base index files")
    assert(files().size > baseFiles.size, "append added no files")
    // and the probe over the appended index equals the single-build index
    val combined = topK(col("vec_id") < 5, 3, IvfIndex(idx, cb))
    val singleIdx = java.nio.file.Files.createTempDirectory("sim-ivf-single").toString
    Similarity.writeIvfIndex(fixture, "vec_id", "embedding", singleIdx, cells(8), "overwrite")
    val single = topK(col("vec_id") < 5, 3, IvfIndex(singleIdx, cells(8)))
    assert(combined.except(single).count() == 0 &&
      single.except(combined).count() == 0)
  }

  test("signBlockBits scales the block-key width with the corpus") {
    import graft.operators.Similarity
    // smallest b (floor 2, cap 48) with 256 * 2^b >= n
    assert(Similarity.signBlockBits(0) == 2)
    assert(Similarity.signBlockBits(256) == 2)
    assert(Similarity.signBlockBits(500) == 2)
    assert(Similarity.signBlockBits(2000) == 3)
    assert(Similarity.signBlockBits(20000) == 7)
    assert(Similarity.signBlockBits(1L << 40) == 32)
    assert(Similarity.signBlockBits(Long.MaxValue) == 48)
    // doubling the corpus adds exactly one bit => bucket count is Ω(n)
    assert(Similarity.signBlockBits(1 << 20) + 1 ==
      Similarity.signBlockBits(1 << 21))
  }

  test("lshPlanes holds the 8-plane floor at oracle scales, then scales") {
    import graft.operators.Similarity
    // floor: every oracle-checked scale (n <= 16384 at target 64) is 8
    assert(Similarity.lshPlanes(0) == 8)
    assert(Similarity.lshPlanes(200) == 8)     // sf0.01 (the oracle gate)
    assert(Similarity.lshPlanes(2000) == 8)    // sf0.1 (bench baseline)
    assert(Similarity.lshPlanes(16384) == 8)
    // past the floor: one plane per corpus doubling => bounded buckets
    assert(Similarity.lshPlanes(20000) == 9)   // sf1 ladder point
    assert(Similarity.lshPlanes(60000) == 10)  // sf3 ladder point
    assert(Similarity.lshPlanes(1 << 20) + 1 == Similarity.lshPlanes(1 << 21))
  }

  test("signBitsCol packs per-coordinate signs little-endian") {
    import graft.operators.Similarity
    import org.apache.spark.sql.functions.col
    val rows = Seq(
      (1L, Seq(1.0f, -2.0f, 0.0f, -0.5f)),   // bits: 1,0,1,0 -> 5
      (2L, Seq(-1.0f, 3.0f, -7.0f, 0.25f)))  // bits: 0,1,0,1 -> 10
      .toDF("id", "v")
    val got = rows.select(col("id"),
      Similarity.signBitsCol(col("v"), 4).as("b"))
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 5L, 2L -> 10L))
  }
}
