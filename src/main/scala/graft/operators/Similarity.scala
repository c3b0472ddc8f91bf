package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Four paths, per the scale brief:
  *  - [[bruteForceTopK]]: broadcast probes × one scan — exact, the
  *    baseline; the big table is never self-joined.
  *  - [[lshTopK]]: multi-table random-hyperplane LSH — candidates from
  *    same-signature buckets across L md5-seeded tables.
  *  - [[ivfTopK]]: coarse cells + nprobe probing, narrow broadcast-
  *    literal argmax assignment; codebook optionally TRAINED by
  *    [[trainCodebook]] (fixed-point Lloyd's, hash-sampled slice).
  *  - [[pqTopK]]: product quantization + asymmetric-distance lookup —
  *    the vector-compression path (codes instead of floats).
  *
  * All arithmetic is double-precision with a single left-fold order so the
  * scores are bit-reproducible (and match the DuckDB oracle exactly).
  */
object Similarity {

  /** Dot product via the native codegen expression [[graft.expressions
    * .DotProduct]] — same left-to-right double fold as the composable
    * `aggregate(zip_with(...))` form (bit-identical results, so the DuckDB
    * oracle parity is preserved) but without interpreted per-element
    * lambda dispatch. */
  private def dot(a: Column, b: Column): Column =
    call_function("graft_dot", a, b)

  /** Cosine similarity of two double arrays (cast first if float). */
  def cosine(a: Column, b: Column): Column = {
    val ad = a.cast("array<double>")
    val bd = b.cast("array<double>")
    dot(ad, bd) / (sqrt(dot(ad, ad)) * sqrt(dot(bd, bd)))
  }

  /** Precompute the L2 norm once per row (avoids recomputing per pair). */
  def withNorm(df: DataFrame, vecCol: String): DataFrame = {
    graft.expressions.GraftFunctions.register(df.sparkSession)
    val v = col(vecCol).cast("array<double>")
    df.withColumn("__vd", v).withColumn("__norm", sqrt(dot(v, v)))
  }

  /** Shared ranking epilogue: per-probe top-k by rounded score with the
    * deterministic (score desc, id asc) tie-break — the ONE place the
    * output contract (and the oracle convention) lives. */
  private def rankTopK(scored: DataFrame, idCol: String, k: Int): DataFrame = {
    val w = Window.partitionBy("probe_id")
      .orderBy(col("score_r").desc, col(idCol).asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col(idCol).as("vec_id_n"), col("rank"), col("score_r"))
  }

  /** Exact top-k neighbours for each probe: broadcast probes × full scan.
    * Scores are rounded to 6dp BEFORE ranking so rank ties break on vec_id
    * deterministically. Excludes self-matches. */
  def bruteForceTopK(
      emb: DataFrame, idCol: String, vecCol: String,
      probePred: Column, k: Int): DataFrame = {
    val base = withNorm(emb, vecCol)
    val probes = base.filter(probePred).select(
      col(idCol).as("probe_id"), col("__vd").as("__pd"), col("__norm").as("__pn"))
    val scored = base.join(broadcast(probes), col("probe_id") =!= col(idCol))
      .withColumn("score_r",
        round(dot(col("__pd"), col("__vd")) / (col("__pn") * col("__norm")), 6))
    rankTopK(scored, idCol, k)
  }

  /** Deterministic ±1 hyperplane matrix derived from md5 — no RNG, fully
    * reproducible across runs/engines. planes × dims. `table` seeds an
    * independent matrix per LSH table (table 0 keeps the original seed so
    * single-table results are unchanged). */
  def hyperplaneSigns(planes: Int, dims: Int, table: Int = 0): Array[Array[Double]] =
    Array.tabulate(planes, dims) { (p, i) =>
      val seed = if (table == 0) s"plane$p:dim$i" else s"t$table:plane$p:dim$i"
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(seed.getBytes("UTF-8"))
      if ((hex(0) & 1) == 1) 1.0 else -1.0
    }

  /** LSH signature column: one bit per hyperplane (sign of the projection).
    * Each projection is the codegen'd dot product against the literal
    * plane vector — same left-fold as the interpreted
    * `aggregate(zip_with(...))` form, minus per-element lambda dispatch
    * (this runs planes× per row on the full table). */
  def lshSignature(vecCol: Column, signs: Array[Array[Double]]): Column = {
    val v = vecCol.cast("array<double>")
    signs.zipWithIndex.map { case (plane, p) =>
      val proj = dot(v, typedlit(plane.toSeq))
      when(proj >= 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** Corpus-scaled sign-block WIDTH: the smallest `b` (floored at 2,
    * capped at 48) with `target · 2^b ≥ n`, so the bucket count grows
    * Ω(n) and the expected block size stays ≈ `target` at ANY corpus
    * size. Pure integer arithmetic — the SQL oracle replays it exactly
    * (a min-over-range search), with no float-log boundary hazard. This
    * is the blocking analogue of SemDeDup's corpus-scaled cell count:
    * a FIXED-cardinality block key (a label, a static bucket set) makes
    * per-block size linear in n and in-block pairing quadratic — the
    * classic blocked-near-dup scale trap. */
  def signBlockBits(n: Long, target: Long = 256L): Int = {
    var b = 0
    while ((target << b) < n && b < 48) b += 1
    math.max(2, b)
  }

  /** Corpus-scaled LSH PLANE count: the smallest plane count (floored at
    * `minPlanes`) whose 2^planes buckets keep the expected bucket size
    * ≈ `target` — [[signBlockBits]]'s law applied to [[lshTopK]]'s
    * hyperplane tables. A FIXED plane count makes bucket occupancy (and
    * so per-probe candidate mass) linear in n — the measured e≈1.05 term
    * on sim_topk_lsh's ladder segment; one extra plane per corpus
    * doubling keeps candidates bounded. Recall per table decays with
    * planes (the standard LSH trade); the multi-table union is the
    * repair — callers scaling planes should run ≥4 tables. Identical to
    * the fixed 8 at oracle scales (target·2^8 ≥ n for n ≤ 16384 at the
    * default target), so oracles replaying the 8-plane matrices are
    * untouched. */
  def lshPlanes(n: Long, target: Long = 64L, minPlanes: Int = 8): Int =
    math.max(minPlanes, signBlockBits(n, target))

  /** Axis-aligned sign-LSH block key: bit i is set iff coordinate i+1 is
    * ≥ 0 — [[hyperplaneSigns]] with identity planes, cheap enough to be
    * a pure projection (no dot products). For zero-centered embeddings
    * each bit splits the corpus ≈ in half, so `bits` from
    * [[signBlockBits]] yields ≈ `target`-sized blocks. Used as a
    * blocking key (recall boundary — near-dups differing in a low
    * coordinate's sign land in different blocks, the documented trade
    * of every blocked near-dup operator), not as a top-k candidate
    * generator (that is [[lshTopK]]'s multi-table job). */
  def signBitsCol(vecCol: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 48, s"signBitsCol: bits out of range: $bits")
    val v = vecCol.cast("array<double>")
    (0 until bits).map(i =>
      when(element_at(v, i + 1) >= 0, lit(1L << i)).otherwise(lit(0L)))
      .reduce(_ + _)
  }

  /** Embedding width, from one row of the (already-loaded) table — a tiny
    * driver fetch, same role as pulling the IVF codebook: hyperplanes are a
    * model artifact sized to the data, not a hardcoded guess. Returns 0 on
    * an empty frame (callers substitute any width; no rows exist to hash). */
  def embeddingDims(emb: DataFrame, vecCol: String): Int =
    emb.select(size(col(vecCol))).head(1).headOption.map(_.getInt(0)).getOrElse(0)

  /** Approximate top-k: candidates = same LSH bucket in ANY of `tables`
    * independent signature tables (multi-table LSH — the standard recall
    * repair for hyperplane signatures: one table's recall decays with
    * planes, L tables union their candidate sets). Returns the same shape
    * as [[bruteForceTopK]].
    *
    * Scale shape: the big side explodes to n·tables narrow rows (a map),
    * probes broadcast, so candidate generation is shuffle-free; the only
    * exchanges are the distinct on (probe, candidate, score) triples —
    * cross-table dedup over NARROW columns, never vectors — and the
    * final per-probe rank.
    *
    * `dims <= 0` derives the hyperplane width from the data (one-row
    * probe); passing it explicitly avoids the probe job on hot paths. */
  def lshTopK(
      emb: DataFrame, idCol: String, vecCol: String,
      probePred: Column, k: Int, planes: Int = 8, dims: Int = 0,
      tables: Int = 1): DataFrame = {
    val d = math.max(1, if (dims > 0) dims else embeddingDims(emb, vecCol))
    // ALL tables' signatures in one fused pass over the vector (the
    // per-table/per-plane graft_dot tree costs tables·planes separate
    // array walks per row — the dominant term once lshPlanes scales the
    // plane count with the corpus); bit-identical to summing the
    // per-plane when(dot >= 0) bits, pinned in VecEncodeSpec
    val signsFlat = new Array[Double](tables * planes * d)
    for (t <- 0 until tables) {
      val m = hyperplaneSigns(planes, d, t)
      for (p <- 0 until planes)
        System.arraycopy(m(p), 0, signsFlat, (t * planes + p) * d, d)
    }
    val model = new graft.expressions.LshPlanesModel(tables, planes, d, signsFlat)
    val sigsCol = call_function("graft_lsh_sigs",
      lit(graft.expressions.LshPlanesModel.serialize(model)), col("__vd"))
    val base = withNorm(emb, vecCol)
    // probePred is applied on the FULL-column frame, so it may reference
    // any metadata column of emb, not just the id/vector
    def banded(df: DataFrame): DataFrame = df.select(
      col(idCol), col("__vd"), col("__norm"),
      posexplode(sigsCol).as(Seq("__tbl", "__sig")))
    val docs = banded(base)
    val probes = banded(base.filter(probePred)).select(
      col(idCol).as("probe_id"), col("__vd").as("__pd"),
      col("__norm").as("__pn"), col("__tbl"), col("__sig"))
    val scored = docs.join(broadcast(probes), Seq("__tbl", "__sig"))
      .filter(col("probe_id") =!= col(idCol))
      .withColumn("score_r",
        round(dot(col("__pd"), col("__vd")) / (col("__pn") * col("__norm")), 6))
      .select(col("probe_id"), col(idCol), col("score_r"))
      .distinct()
    rankTopK(scored, idCol, k)
  }

  /** Fixed-point scale for codebook means: integer sums are associative,
    * so the distributed mean is bit-identical regardless of partition
    * merge order (same trick as the exact-cents int64 revenue sums). */
  private val MeanScale = 1048576L // 2^20

  /** K-means codebook by Lloyd's iterations, all DataFrame ops — no MLlib.
    *
    * Deterministic and engine-replayable by construction, so an external
    * SQL oracle can replay training exactly:
    *  - init = the first `centroids` vectors by id (no RNG);
    *  - assignment = the same narrow argmax kernel
    *    [[ivfTopK]] uses (cosine desc, ties cent_id asc), a map-only stage;
    *  - the new centroid mean is computed in FIXED POINT: per dimension,
    *    sum(floor(x·2^20)) as long → exact, order-independent — then one
    *    double division. Float sums would be partition-order-dependent.
    *  - a cell that loses all members drops out (mirrored by the oracle).
    *
    * Each iteration is one narrow assign + one (centroids·dims)-row
    * aggregate pulled to the driver — the codebook is a model artifact,
    * never corpus-sized. Returns (cent_id, vector, norm) for
    * [[ivfTopK]]'s `codebookOpt`. */
  def trainCodebook(
      emb: DataFrame, idCol: String, vecCol: String,
      centroids: Int = 16, iters: Int = 2,
      sampleRate: Double = 1.0,
      probeGroups: Int = 0): Array[(Long, Seq[Double], Double)] = {
    // the 100 TB path: train on a deterministic hash-sampled slice —
    // same thresholds an external oracle can replay (no RNG), and the
    // codebook quality degrades gracefully with the rate
    val trainSet =
      if (sampleRate >= 1.0) emb
      else Sampling.bernoulli(emb, idCol, sampleRate)
    val base = withNorm(trainSet, vecCol)
    // seeds are the `centroids` LOWEST-id rows OF THE TRAINING SET (not
    // an absolute id < centroids cut, which would shrink or vanish under
    // sampling): deterministic for any id distribution, and identical to
    // id < centroids on dense-from-0 ids — the oracle's formulation
    val seeds = base.orderBy(col(idCol)).limit(centroids)
    def leftFoldNorm(v: Seq[Double]): Double =
      math.sqrt(v.foldLeft(0.0)((a, x) => a + x * x))
    var cb: Array[(Long, Seq[Double], Double)] = seeds
      .select(col(idCol).cast("long"), col("__vd"), col("__norm"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1), r.getDouble(2)))
      .sortBy(_._1)
    require(cb.nonEmpty,
      s"trainCodebook: empty initial codebook — training set has no rows")
    for (_ <- 0 until iters) {
      // pruned single-expression argmax — bit-identical to the array_min
      // tree (see cellTop1Col); rebuilt per iteration from the evolving cb
      val top1 = cellTop1Col(cb, probeGroups)
      val assigned = base
        .withColumn("cent_id", top1.getField("cent_id"))
      val sums = assigned
        .select(col("cent_id"), posexplode(col("__vd")).as(Seq("pos", "x")))
        .groupBy("cent_id", "pos")
        .agg(sum(floor(col("x") * MeanScale).cast("long")).as("s"),
          count(lit(1)).as("n"))
        .collect()
      cb = sums
        .groupBy(_.getAs[Long]("cent_id"))
        .map { case (cid, rows) =>
          val vec = rows.sortBy(_.getAs[Int]("pos")).map { r =>
            r.getAs[Long]("s").toDouble / r.getAs[Long]("n") / MeanScale.toDouble
          }.toSeq
          (cid, vec, leftFoldNorm(vec))
        }
        .toArray.sortBy(_._1)
    }
    cb
  }

  /** Public form of [[coarseCodebook]] for callers that manage a
    * persisted index lifecycle (freeze at build, reuse on append/probe). */
  def coarseCodebookOf(
      emb: DataFrame, idCol: String, vecCol: String,
      centroids: Int = 16): Array[(Long, Seq[Double], Double)] =
    coarseCodebook(withNorm(emb, vecCol), idCol, centroids)

  /** Default coarse codebook: the first `centroids` vectors by id — one
    * tiny driver fetch (centroids × dims doubles), a model artifact, not
    * data; same role as the literal hyperplanes in LSH. */
  private def coarseCodebook(
      base: DataFrame, idCol: String, centroids: Int): Array[(Long, Seq[Double], Double)] =
    base.filter(col(idCol) < centroids)
      .select(col(idCol).cast("long"), col("__vd"), col("__norm"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1), r.getDouble(2)))
      .sortBy(_._1)

  /** Top-1 cell struct `struct<negsim, cent_id>` via
    * [[graft.expressions.IvfTop1]] — bit-identical to `array_min` over one
    * `struct(-cosine, cent_id)` per cell (same dot fold, same norm
    * product, same nan-safe (negsim, cent_id) ordering; pinned by
    * IvfTop1Spec), but ONE expression holding the codebook as a
    * serialized primitive-array artifact instead of k literal subtrees:
    * plan and codegen size are O(1) in k, the scan is a tight primitive
    * loop, and with k ≥ 32 cells a driver-computed √k grouping prunes
    * whole groups by a Cauchy-Schwarz bound — typical per-row work drops
    * from k·dims to ~(√k + k/√k)·dims, which is what keeps the
    * corpus-scaled codebooks (k = ⌈n/128⌉) from fitting a quadratic
    * n·k assignment term on the scale ladder. */
  private def cellTop1Col(codebook: Array[(Long, Seq[Double], Double)],
      probeGroups: Int = 0): Column = {
    val idx = graft.expressions.IvfPrunedIndex.build(codebook, probeGroups)
    call_function("graft_ivf_top1",
      lit(graft.expressions.IvfPrunedIndex.serialize(idx)),
      col("__vd"), col("__norm"))
  }

  /** Top-`p` cent_ids, best first, as `array<bigint>` via
    * [[graft.expressions.IvfTopP]] — the multi-probe assignment column
    * every IVF probe side uses. Same artifact and ordering as
    * [[cellTop1Col]] (the head is its cent_id); equal to the first `p`
    * of `sort_array` over every cell's (negsim, cent_id) struct, pinned
    * by IvfTopPSpec. `probeGroups = 0` is the exact path. */
  private def cellTopPCol(codebook: Array[(Long, Seq[Double], Double)],
      p: Int, probeGroups: Int = 0): Column = {
    val idx = graft.expressions.IvfPrunedIndex.build(codebook, probeGroups)
    call_function("graft_ivf_topp",
      lit(graft.expressions.IvfPrunedIndex.serialize(idx)),
      col("__vd"), col("__norm"), lit(p))
  }

  /** IVF-style approximate top-k: vectors partition into coarse cells
    * (nearest centroid by cosine), probes search only their `nprobe`
    * closest cells. The codebook (`centroids` vectors) is tiny — pulled to
    * the driver once and shipped as one serialized index literal, so cell
    * assignment is a NARROW per-row kernel call ([[cellTopPCol]]: the best
    * `keep` cells by cosine desc, ties cent_id asc — the exact ordering
    * the oracle's row_number replays), then `explode`. No row
    * amplification, no argmax shuffle; the only exchange in the whole job
    * is above the probe join. At 100 TB that is the difference between a
    * map stage and shuffling a 16×-amplified corpus. Centroids default to
    * the first `centroids` vectors; pass [[trainCodebook]]'s output for a
    * k-means codebook — the plan shape is identical either way.
    *
    * Zero vectors: cell assignment follows the kernel's contract — a
    * zero (or NaN) norm gives NaN sims for every cell, so the vector
    * lands in the lowest cent_id(s). The sorted literal-tree form this
    * replaced raised DIVIDE_BY_ZERO under ANSI instead. Exact scoring
    * still divides by both norms, so a zero-vector probe, or a zero
    * vector inside a probed cell, still fails under ANSI. */
  def ivfTopK(
      emb: DataFrame, idCol: String, vecCol: String,
      probePred: Column, k: Int, centroids: Int = 16, nprobe: Int = 4,
      codebookOpt: Option[Array[(Long, Seq[Double], Double)]] = None): DataFrame = {
    val base = withNorm(emb, vecCol)
    val codebook = codebookOpt.getOrElse(coarseCodebook(base, idCol, centroids))
    require(codebook.nonEmpty, "ivfTopK: empty codebook")
    def cellAssign(df: DataFrame, keep: Int): DataFrame =
      df.withColumn("cent_id", explode(cellTopPCol(codebook, keep)))
    // docs side keeps the keep=1 Generate BARRIER (not an inlined
    // cellTop1Col): without it CollapseProject re-evaluates the argmax in
    // the pushed isnotnull filter and the join key — measured 1.4-2x on
    // sim_topk_ivf*. The corpus-scaled callers (knnGraph,
    // semanticClustered, writeIvfIndex) use cellTop1Col because an
    // exchange/write barrier follows anyway.
    val assigned = cellAssign(base, 1)
      .select(col(idCol), col("cent_id"), col("__vd"), col("__norm"))
    val probes = cellAssign(base.filter(probePred), nprobe).select(
      col(idCol).as("probe_id"), col("cent_id"),
      col("__vd").as("__pd"), col("__norm").as("__pn"))
    val scored = assigned.join(broadcast(probes), Seq("cent_id"))
      .filter(col("probe_id") =!= col(idCol))
      .withColumn("score_r",
        round(dot(col("__pd"), col("__vd")) / (col("__pn") * col("__norm")), 6))
    rankTopK(scored, idCol, k)
  }

  /** Batch k-NN GRAPH construction — every item's top-k neighbours, not
    * just a probe set's (the SemDeDup/graph-curation precursor). The
    * all-pairs form is O(n²) and unshippable; here items pair only
    * WITHIN their IVF cell: one narrow argmax assignment (broadcast
    * codebook literal), one self-join co-partitioned on cent_id (fan-out
    * bounded by cell size — n²/c per cell, the classic blocked kNN
    * bound), one per-item top-k window. Same determinism contract as
    * the probe paths: scores round to 6dp BEFORE ranking, ties break
    * id asc. Items alone in their cell emit no edges (by design — raise
    * `centroids` resolution or multi-probe to densify). Callers should
    * scale `centroids` with the corpus (~n/128, as `sim_knn_graph` does):
    * a fixed count makes cell size ∝ n and the self-join quadratic.
    * `idCol` must be integral (ids travel as primitive bigint through the
    * pair generator — see [[requireLongCastableId]]); map string/UUID ids
    * to a surrogate bigint first. */
  def knnGraph(emb: DataFrame, idCol: String, vecCol: String,
      k: Int, centroids: Int = 16, probeGroups: Int = 0,
      maxDriverCells: Int = MaxDriverCells): DataFrame = {
    requireLongCastableId(emb, idCol, "knnGraph")
    // corpus-scaled cell counts outgrow the driver (see MaxDriverCells):
    // block by the two-level composite cell instead — same ~128-member
    // cells, O(√k) driver state, identical generator epilogue
    if (centroids > maxDriverCells) {
      val k1 = math.ceil(math.sqrt(centroids.toDouble)).toInt
      val m2 = math.ceil(centroids.toDouble / k1).toInt
      val l1 = coarseCodebook(withNorm(emb, vecCol), idCol, k1)
      require(l1.nonEmpty, "knnGraph: empty L1 codebook")
      return withNorm(
          twoLevelClustered(emb, idCol, vecCol, l1, m2,
            probeGroups = probeGroups), vecCol)
        .groupBy("__cell")
        .agg(collect_list(struct(col(idCol).cast("long").as("id"),
          col("__vd").as("vd"), col("__norm").as("nrm"))).as("members"))
        .select(call_function("graft_cell_pairs",
          col("members"), lit(0.0), lit(k))
          .as(Seq(idCol, "vec_id_n", "rank", "score_r")))
    }
    val base = withNorm(emb, vecCol)
    val codebook = coarseCodebook(base, idCol, centroids)
    require(codebook.nonEmpty, "knnGraph: empty codebook")
    // One exchange: group each cell's members (the argmax assignment
    // evaluates once per row on the aggregate's map side), then the
    // generator computes every member's in-cell top-k in one primitive
    // loop. The previous self-join + global row_number window moved a
    // joined row PER CANDIDATE (both vectors aboard) through the join
    // and a window sort — ~130 GB of copies at the 1000× ladder point;
    // the generator emits only the k winners per member
    // ([[graft.expressions.CellPairs]] replays the window's exact
    // (score desc, id asc) contract; ids must be unique, which idCol is).
    base
      .withColumn("cent_id",
        cellTop1Col(codebook, probeGroups).getField("cent_id"))
      .groupBy("cent_id")
      .agg(collect_list(struct(col(idCol).cast("long").as("id"),
        col("__vd").as("vd"), col("__norm").as("nrm"))).as("members"))
      .select(call_function("graft_cell_pairs",
        col("members"), lit(0.0), lit(k))
        .as(Seq(idCol, "vec_id_n", "rank", "score_r")))
  }

  /** Product-quantization top-k (inner-product ANN): the vector-
    * COMPRESSION path at 100 TB, where storing raw float embeddings
    * dominates cost. The embedding splits into `subspaces` slices; each
    * slice encodes as the id of its nearest (min-L2) sub-centroid, so a
    * 64-float vector becomes `subspaces` small ints. Probes score docs by
    * ASYMMETRIC distance: the probe's exact slice dotted with each doc's
    * reconstructed sub-centroid — per (probe, doc) pair that is
    * `subspaces` table lookups into a per-probe LUT built ONCE per row
    * (16 slice-dots against broadcast centroid literals), never a
    * 64-float read of the doc.
    *
    * Everything deterministic and oracle-replayable: sub-codebooks
    * default to the first `cents` vectors' slices ([[trainSubCodebooks]]
    * supplies per-subspace Lloyd's-trained ones), encoding ties break on
    * centroid id, scores round before ranking. Here the candidate set is
    * all docs (the compression demo); in production gate by IVF cell
    * first — the encode/score shapes are unchanged. */
  /** PQ sub-codebooks: (subspace, cent) → slice with its precomputed
    * ‖c‖² (argmin ‖x−c‖² = argmin(‖c‖² − 2⟨x,c⟩)) — a driver-side model
    * artifact, `subspaces × cents × width` doubles. */
  private def subCodebooks(
      base: DataFrame, idCol: String, cents: Int,
      subspaces: Int, width: Int): Array[Array[(Int, Seq[Double], Double)]] = {
    val rows = base.filter(col(idCol) < cents)
      .select(col(idCol).cast("long"), col("__vd")).collect()
      .sortBy(_.getLong(0))
    Array.tabulate(subspaces) { s =>
      rows.zipWithIndex.map { case (r, j) =>
        val slice = r.getSeq[Double](1).slice(s * width, (s + 1) * width)
        (j, slice, slice.foldLeft(0.0)((a, x) => a + x * x))
      }
    }
  }

  private def pqSliceCol(s: Int, width: Int): Column =
    slice(col("__vd"), s * width + 1, width)

  /** Per-subspace k-means sub-codebooks by fixed-point Lloyd's — the real
    * FAISS PQ training recipe, reusing [[trainCodebook]]'s determinism
    * contract on sliced vectors:
    *  - init = the first `cents` vectors' slices, coded by id-rank
    *    (exactly [[subCodebooks]]'s layout);
    *  - assignment = min-L2 via the ‖c‖² − 2⟨x,c⟩ form (ties code asc) —
    *    the same narrow broadcast-literal argmax [[pqCodeCol]] uses;
    *  - means in FIXED POINT (per dimension sum(floor(x·2^20)) as long →
    *    exact, partition-order-proof), then one double division — so an
    *    external SQL oracle replays training bit-exactly;
    *  - a sub-cell that loses all members drops out (mirrored by the
    *    oracle).
    * Each iteration per subspace is one narrow assign + one
    * (cents·width)-row driver aggregate — the codebook is a model
    * artifact, never corpus-sized. At 100 TB train on a
    * [[Sampling.bernoulli]] slice exactly like [[trainCodebook]]. */
  def trainSubCodebooks(
      emb: DataFrame, idCol: String, vecCol: String,
      subspaces: Int = 4, cents: Int = 16, iters: Int = 2,
      dims: Int = 0): Array[Array[(Int, Seq[Double], Double)]] = {
    val base = withNorm(emb, vecCol)
    val d0 = if (dims > 0) dims else embeddingDims(emb, vecCol)
    require(d0 > 0 && d0 % subspaces == 0,
      s"trainSubCodebooks: dims $d0 not divisible into $subspaces subspaces")
    val width = d0 / subspaces
    val init = subCodebooks(base, idCol, cents, subspaces, width)
    Array.tabulate(subspaces) { s =>
      var cb = init(s)
      require(cb.nonEmpty, s"trainSubCodebooks: empty seed for subspace $s")
      for (_ <- 0 until iters) {
        // fused single-subspace encode of the EVOLVING codebook (explicit
        // slice offset s·width; rebuilt per iteration — the model is tiny)
        val codeCol = element_at(
          pqEncodeCol(Array(cb), width, Some(Array(s * width))), 1)
        val sums = base
          .select(codeCol.as("cid"), posexplode(pqSliceCol(s, width)).as(Seq("pos", "x")))
          .groupBy("cid", "pos")
          .agg(sum(floor(col("x") * MeanScale).cast("long")).as("sm"),
            count(lit(1)).as("n"))
          .collect()
        cb = sums.groupBy(_.getAs[Int]("cid")).map { case (cid, rows) =>
          val vec = rows.sortBy(_.getAs[Int]("pos")).map { r =>
            r.getAs[Long]("sm").toDouble / r.getAs[Long]("n") / MeanScale.toDouble
          }.toSeq
          (cid, vec, vec.foldLeft(0.0)((a, x) => a + x * x))
        }.toArray.sortBy(_._1)
      }
      cb
    }
  }

  /** Per-doc PQ codes for EVERY subspace in one fused kernel
    * ([[graft.expressions.PqEncode]]) — nearest sub-centroid by L2 via
    * ‖c‖²−2⟨x,c⟩, ties centroid id asc, bit-identical to the former
    * per-subspace `array_min(array(struct(d2, cid)…))` trees (pinned in
    * VecEncodeSpec) but one pass over the vector instead of
    * subspaces × cents literal subtrees per row. */
  private def pqEncodeCol(
      cb: Array[Array[(Int, Seq[Double], Double)]], width: Int,
      starts: Option[Array[Int]] = None): Column = {
    val st = starts.getOrElse(Array.tabulate(cb.length)(_ * width))
    val model = graft.expressions.PqModel.build(width, st, cb)
    call_function("graft_pq_encode",
      lit(graft.expressions.PqModel.serialize(model)), col("__vd"))
  }

  /** Per-probe LUT for subspace `s`: the probe's exact slice dotted with
    * each sub-centroid — `cents` doubles, built once per probe row. */
  private def pqLutCol(
      cb: Array[Array[(Int, Seq[Double], Double)]], s: Int, width: Int): Column =
    array(cb(s).map { case (_, vec, _) => dot(pqSliceCol(s, width), typedlit(vec)) }
      .toSeq: _*)

  /** Asymmetric-distance score: Σ over subspaces of LUT[code]. */
  private def pqApproxDot(subspaces: Int): Column =
    (0 until subspaces)
      .map(s => element_at(col(s"lut$s"), col(s"code$s") + 1))
      .reduce(_ + _)

  def pqTopK(
      emb: DataFrame, idCol: String, vecCol: String,
      probePred: Column, k: Int,
      subspaces: Int = 4, cents: Int = 16, dims: Int = 0): DataFrame = {
    val base = withNorm(emb, vecCol)
    val d0 = if (dims > 0) dims else embeddingDims(emb, vecCol)
    require(d0 > 0 && d0 % subspaces == 0,
      s"pqTopK: dims $d0 not divisible into $subspaces subspaces (empty input?)")
    val width = d0 / subspaces
    val cb = subCodebooks(base, idCol, cents, subspaces, width)
    require(cb.head.nonEmpty,
      s"pqTopK: empty sub-codebook — no ids < $cents in $idCol")
    // Generate barrier (explode of a 1-element array): without it,
    // CollapseProject inlines the PQ encode into every per-PAIR
    // lookup below the cross join — per-doc work amplified to per-pair
    // (measured 4×). The barrier materializes codes once per doc.
    val encoded = base
      .select(col(idCol), explode(array(pqEncodeCol(cb, width))).as("__c"))
      .select((col(idCol) +:
        (0 until subspaces).map(s => element_at(col("__c"), s + 1).as(s"code$s"))): _*)
    val probes = base.filter(probePred).select(
      (col(idCol).as("probe_id") +:
        (0 until subspaces).map(s => pqLutCol(cb, s, width).as(s"lut$s"))): _*)
    rankTopK(
      encoded.crossJoin(broadcast(probes))
        .filter(col("probe_id") =!= col(idCol))
        .withColumn("score_r", round(pqApproxDot(subspaces), 6)),
      idCol, k)
  }

  /** IVF-gated PQ — the standard production ANN stack at 100 TB, composed
    * from the two halves above UNCHANGED: [[ivfTopK]]'s narrow
    * cell-assignment kernel bounds the candidate set to the
    * probe's `nprobe` cells, and [[pqTopK]]'s code/LUT columns score those
    * candidates by asymmetric distance (codes instead of floats). You
    * quantize because n is huge — and then you must not scan all n per
    * probe; this removes [[pqTopK]]'s all-docs candidate set.
    *
    * Plan shape: the doc side is ONE Generate barrier materializing
    * (cell id, PQ codes) per doc — the cell argmax and the encode are
    * narrow kernel calls over literal model artifacts, so below the probe join
    * the job is a pure map of the scan. Probes broadcast with their
    * per-row LUTs; the join is a broadcast HASH join on cent_id (never a
    * nested loop over the corpus — pinned in PlanSpec). Per (probe, doc)
    * pair the score is `subspaces` array lookups. */
  def ivfPqTopK(
      emb: DataFrame, idCol: String, vecCol: String,
      probePred: Column, k: Int, centroids: Int = 16, nprobe: Int = 4,
      subspaces: Int = 4, cents: Int = 16, dims: Int = 0,
      codebookOpt: Option[Array[(Long, Seq[Double], Double)]] = None,
      subCbOpt: Option[Array[Array[(Int, Seq[Double], Double)]]] = None): DataFrame =
    rankTopK(ivfPqScored(emb, idCol, vecCol, probePred, centroids, nprobe,
      subspaces, cents, dims, codebookOpt, subCbOpt), idCol, k)

  /** The IVF-gated ADC-scored frame (probe_id, id, score_r) shared by
    * [[ivfPqTopK]] (rank it) and [[ivfPqRefinedTopK]] (oversample it,
    * then re-rank exactly). */
  private def ivfPqScored(
      emb: DataFrame, idCol: String, vecCol: String,
      probePred: Column, centroids: Int, nprobe: Int,
      subspaces: Int, cents: Int, dims: Int,
      codebookOpt: Option[Array[(Long, Seq[Double], Double)]],
      subCbOpt: Option[Array[Array[(Int, Seq[Double], Double)]]] = None): DataFrame = {
    val base = withNorm(emb, vecCol)
    val codebook = codebookOpt.getOrElse(coarseCodebook(base, idCol, centroids))
    require(codebook.nonEmpty, "ivfPqTopK: empty coarse codebook")
    val d0 = if (dims > 0) dims else embeddingDims(emb, vecCol)
    require(d0 > 0 && d0 % subspaces == 0,
      s"ivfPqTopK: dims $d0 not divisible into $subspaces subspaces (empty input?)")
    val width = d0 / subspaces
    val cb = subCbOpt.getOrElse(subCodebooks(base, idCol, cents, subspaces, width))
    subCbOpt.foreach(t => require(t.length == subspaces &&
      t.forall(_.forall(_._2.length == width)),
      s"ivfPqTopK: trained sub-codebooks don't match $subspaces×$width"))
    require(cb.head.nonEmpty,
      s"ivfPqTopK: empty sub-codebook — no ids < $cents in $idCol")
    // doc side: ONE Generate barrier materializes the coarse cell AND the
    // PQ codes per doc (same CollapseProject hazard as pqTopK's encode)
    val encoded = base
      .select(col(idCol), explode(array(struct(
        cellTop1Col(codebook).getField("cent_id").as("cent_id"),
        pqEncodeCol(cb, width).as("codes")))).as("__c"))
      .select((col(idCol) +: col("__c.cent_id").as("cent_id") +:
        (0 until subspaces).map(s =>
          element_at(col("__c.codes"), s + 1).as(s"code$s"))): _*)
    // probe side: nprobe cell rows per probe; the LUTs are projected
    // BELOW the Generate (computed once per probe, replicated per cell)
    val probes = base.filter(probePred).select(
      (col(idCol).as("probe_id") +:
        explode(cellTopPCol(codebook, nprobe)).as("cent_id") +:
        (0 until subspaces).map(s => pqLutCol(cb, s, width).as(s"lut$s"))): _*)
    encoded.join(broadcast(probes), Seq("cent_id"))
      .filter(col("probe_id") =!= col(idCol))
      .withColumn("score_r", round(pqApproxDot(subspaces), 6))
  }

  /** IVF-PQ with an exact REFINE stage — the full production recipe
    * (FAISS's IndexRefine / IVFPQR): the ADC pass oversamples
    * `refine × k` candidates per probe from the gated cells, then only
    * those candidates' FULL vectors are fetched and re-scored by exact
    * cosine for the final top-k. Quantization error moves the true
    * neighbour down the ADC order but rarely out of the oversampled set,
    * so the refine recovers brute-force-grade precision at ADC cost.
    *
    * Scale shape: the candidate set is `probes × refine·k` ids — tiny —
    * and is BROADCAST into a second corpus scan (hash join on id, never
    * a shuffle of the corpus), exactly how a production store fetches
    * candidate vectors by key. Both ranking cuts use the shared
    * (score desc, id asc) tie-break so the DuckDB replay is exact. */
  def ivfPqRefinedTopK(
      emb: DataFrame, idCol: String, vecCol: String,
      probePred: Column, k: Int, refine: Int = 3,
      centroids: Int = 16, nprobe: Int = 4,
      subspaces: Int = 4, cents: Int = 16, dims: Int = 0,
      codebookOpt: Option[Array[(Long, Seq[Double], Double)]] = None,
      subCbOpt: Option[Array[Array[(Int, Seq[Double], Double)]]] = None): DataFrame = {
    require(refine >= 1, s"ivfPqRefinedTopK: refine $refine must be >= 1")
    val adc = ivfPqScored(emb, idCol, vecCol, probePred, centroids, nprobe,
      subspaces, cents, dims, codebookOpt, subCbOpt)
    val wAdc = Window.partitionBy("probe_id")
      .orderBy(col("score_r").desc, col(idCol).asc)
    val cand = adc.withColumn("__r", row_number().over(wAdc))
      .filter(col("__r") <= k * refine)
      .select(col("probe_id"), col(idCol))
    val base = withNorm(emb, vecCol)
    val docs = base.select(
      col(idCol), col("__vd").as("__dv"), col("__norm").as("__dn"))
    val probes = base.filter(probePred).select(
      col(idCol).as("probe_id"), col("__vd").as("__pv"), col("__norm").as("__pn"))
    val exact = docs.join(broadcast(cand), Seq(idCol))
      .join(broadcast(probes), Seq("probe_id"))
      .withColumn("score_r",
        round(dot(col("__pv"), col("__dv")) / (col("__pn") * col("__dn")), 6))
    rankTopK(exact, idCol, k)
  }

  /** IVF with the cell assignment PERSISTED as a hive-partitioned parquet
    * index (`partitionBy(cent_id)`) and the probe search reading it back
    * through a static cell filter — so the scan PRUNES to the probes'
    * nprobe cell directories (PartitionFilters carries cent_id; pinned in
    * PlanSpec). This connects partition pruning to the ANN stack: at
    * 100 TB the index build is a one-time map-only write, and each probe
    * batch reads only `≤ centroids` directories instead of the corpus —
    * a directory listing, not a scan.
    *
    * The probed cell-id set is a driver-side model artifact (≤ centroids
    * longs, from the DISTINCT over the probes' cell rows — bounded by the
    * codebook size, not the probe count, and needed as literals precisely
    * so the filter is static partition pruning rather than a runtime
    * join). Results are hash-identical to [[ivfTopK]]. */
  def ivfPartitionedTopK(
      emb: DataFrame, idCol: String, vecCol: String,
      probePred: Column, k: Int, indexPath: String,
      centroids: Int = 16, nprobe: Int = 4): DataFrame = {
    val base = withNorm(emb, vecCol)
    val codebook = coarseCodebook(base, idCol, centroids)
    require(codebook.nonEmpty, "ivfPartitionedTopK: empty codebook")
    writeIvfIndex(emb, idCol, vecCol, indexPath, codebook, "overwrite")
    probeIvfIndexTopK(emb, idCol, vecCol, probePred, k, indexPath,
      codebook, nprobe)
  }

  /** Write (or APPEND) the hive-partitioned IVF index for one batch of
    * vectors under a FIXED codebook — one narrow assignment pass, cell
    * directories only grow. Append is the incremental-ingest maintenance
    * path: the codebook is frozen at initial build (retraining would
    * reassign existing cells and force an index rebuild), new vectors
    * land in their cells as additional part-files, and probes see the
    * union — no rebuild, no read-modify-write. cent_id is written as int:
    * parquet partition-value inference reads small integral dirs back as
    * int, and a type mismatch would wrap the partition column in a cast
    * that defeats static pruning. */
  def writeIvfIndex(
      emb: DataFrame, idCol: String, vecCol: String, indexPath: String,
      codebook: Array[(Long, Seq[Double], Double)], mode: String): Unit = {
    require(codebook.nonEmpty, "writeIvfIndex: empty codebook")
    withNorm(emb, vecCol)
      .withColumn("cent_id",
        cellTop1Col(codebook).getField("cent_id").cast("int"))
      .select(col(idCol), col("__vd"), col("__norm"), col("cent_id"))
      .write.mode(mode).partitionBy("cent_id").parquet(indexPath)
  }

  /** Probe a persisted IVF index: each probe explodes to its nprobe
    * nearest cells, the index scan statically PRUNES to those cell
    * directories (PartitionFilters on cent_id, pinned in PlanSpec), and
    * candidates score by exact cosine. The probed cell-id set is a
    * driver-side model artifact (≤ codebook-size ints — bounded by the
    * codebook, not the probe count, and needed as literals precisely so
    * the filter is static partition pruning rather than a runtime join). */
  def probeIvfIndexTopK(
      probeSrc: DataFrame, idCol: String, vecCol: String,
      probePred: Column, k: Int, indexPath: String,
      codebook: Array[(Long, Seq[Double], Double)], nprobe: Int = 4): DataFrame = {
    val spark = probeSrc.sparkSession
    val probes = withNorm(probeSrc, vecCol).filter(probePred)
      .withColumn("cent_id", explode(cellTopPCol(codebook, nprobe)))
      .select(col(idCol).as("probe_id"), col("cent_id").cast("int").as("cent_id"),
        col("__vd").as("__pd"), col("__norm").as("__pn"))
    val probedCells = probes.select("cent_id").distinct()
      .collect().map(_.getInt(0)).sorted
    val index = spark.read.parquet(indexPath)
      .filter(col("cent_id").isin(probedCells.map(Int.box): _*))
    val scored = index.join(broadcast(probes), Seq("cent_id"))
      .filter(col("probe_id") =!= col(idCol))
      .withColumn("score_r",
        round(dot(col("__pd"), col("__vd")) / (col("__pn") * col("__norm")), 6))
    rankTopK(scored, idCol, k)
  }

  /** Semantic near-duplicate pairs (SemDeDup-style): k-means clusters
    * over the embedding space become the blocking key, then only
    * same-cluster pairs are cosine-compared — never all-pairs. This is
    * the embedding analogue of MinHash banding: the cluster bounds the
    * candidate set, the exact cosine verifies it.
    *
    * Scale shape: training is [[trainCodebook]] (hash-sampleable, model
    * artifact on the driver); cluster assignment is the same NARROW
    * broadcast-literal argmax [[ivfTopK]] uses (map-only, no shuffle);
    * the groupBy shuffles the corpus once on the cluster id, and each
    * cluster's pair count is bounded by (corpus/centroids)² per cell —
    * at 100 TB you raise `centroids` so cells stay bounded (the paper
    * uses k ≈ √n) and train on a [[Sampling.bernoulli]] slice.
    *
    * `probeGroups` is the assignment-cost contract for corpus-scaled k
    * (the 1000× ladder finding): the EXACT argmax is n·k — k = n/128
    * makes it quadratic, and the triangle-inequality prune is provably
    * vacuous for vectors whose best similarity is below the group radii
    * (most of a decorrelated corpus). With probeGroups = p > 0 each
    * vector is assigned within the p best-bound pruning groups only
    * (≈ p·√k of k cells evaluated) — the faiss-style IVF assignment
    * SemDeDup itself ships. Still fully deterministic (no RNG; nan-safe
    * bound ordering, idx-asc ties); differs from exact only for vectors
    * whose true cell hides outside the p best-bound groups, i.e. the
    * decorrelated ones whose cell choice is blocking noise anyway —
    * clustered vectors' own groups carry the top bounds. At the oracle
    * scales k = 16 < 32 keeps ONE flat group, so probing is inert and
    * the DuckDB replay stays exact (pinned by IvfTop1Spec).
    *
    * Deterministic and oracle-replayable end to end: fixed-point Lloyd
    * training, argmax ties broken cent_id-asc, scores rounded to 6dp
    * before thresholding. */
  def semanticNearDupPairs(
      emb: DataFrame, idCol: String, vecCol: String, minScore: Double,
      centroids: Int = 16, iters: Int = 2,
      codebookOpt: Option[Array[(Long, Seq[Double], Double)]] = None,
      probeGroups: Int = 0,
      maxDriverCells: Int = MaxDriverCells): DataFrame = {
    // Above maxDriverCells the single-level codebook is no longer a
    // model artifact (k = n/128 grows with the corpus): switch to the
    // two-level form — L1 trains at ⌈√k⌉ on the driver, L2 refines
    // distributively, blocking key = the composite (l1, l2) cell. Same
    // ~k blocks / ~128-member-cells law, O(√k) driver state. The bound
    // is parameterized only so specs can exercise the branch with sane
    // cell geometry on small frames; production callers keep the default.
    if (codebookOpt.isEmpty && centroids > maxDriverCells) {
      val k1 = math.ceil(math.sqrt(centroids.toDouble)).toInt
      val m2 = math.ceil(centroids.toDouble / k1).toInt
      val l1 = trainCodebook(emb, idCol, vecCol, k1, iters,
        probeGroups = probeGroups)
      // L1 MULTI-PROBE, default on for this branch (r17 nd-fixture
      // probes): two-level recall loss vs single-level is almost
      // entirely L1 hard-assignment straddling (truth pairs co-block at
      // L1 0.57 vs 0.55 full-cell at the ≥ 0.8 stratum, nd30), and
      // probing each vector's top-2 L1 cells recovers it — planted-truth
      // recall 0.550 → 0.838 (nd30 ≥ 0.8; 0.663 → 0.922 at ≥ 0.9) for
      // ~1.12× the pairs stage (16.1 → 18.1 s) once the assignment rides
      // the graft_ivf_topp pruned kernel. A pair surfacing in both
      // shared blocks dedups here (same (a, b, score_r) from identical
      // vectors, so dropDuplicates is exact); the single-level branch
      // emits each pair once and needs none of this.
      return cosineNearDupPairs(
        twoLevelClustered(emb, idCol, vecCol, l1, m2, iters, probeGroups,
          l1Probes = 2),
        idCol, vecCol, "__cell", minScore)
        .dropDuplicates("a", "b")
    }
    val codebook = codebookOpt.getOrElse(
      trainCodebook(emb, idCol, vecCol, centroids, iters))
    // cosineNearDupPairs' groupBy on the cluster key is the ONE exchange
    // of this operator — the argmax assignment evaluates once per row on
    // the map side of that aggregate (no barrier repartition needed: the
    // old self-join form required one to stop the planner duplicating
    // the assignment subtree into both join sides). One wide exchange +
    // in-cell generator pairing is the 100 TB shape.
    cosineNearDupPairs(
      semanticClustered(emb, idCol, vecCol, codebook, probeGroups),
      idCol, vecCol, "__cell", minScore)
  }

  /** Cluster-assignment half of [[semanticNearDupPairs]]: each vector
    * plus its nearest-centroid cell id `__cell` (narrow broadcast-literal
    * argmax — map-only). Exposed so pipelines can reuse one assignment
    * pass for blocking, stats, and mixture decisions.
    *
    * Deliberately DROPS the `__vd`/`__norm` scratch columns even though
    * the downstream pair scorer recomputes them: keeping the double-cast
    * vector through [[semanticNearDupPairs]]'s cluster-key exchange would
    * double the shuffle width (float + double copies of every vector),
    * and at corpus scale shuffle bytes are scarcer than the 64-wide dot
    * product recomputed after the exchange. */
  def semanticClustered(
      emb: DataFrame, idCol: String, vecCol: String,
      codebook: Array[(Long, Seq[Double], Double)],
      probeGroups: Int = 0): DataFrame = {
    require(codebook.nonEmpty, "semanticClustered: empty codebook")
    withNorm(emb, vecCol)
      .withColumn("__cell",
        cellTop1Col(codebook, probeGroups).getField("cent_id"))
      .select(col(idCol), col(vecCol), col("__cell"))
  }

  /** Fail fast when an id column cannot round-trip through the generator
    * path's `cast("long")`: the join formulation preserved any orderable
    * id type, but [[graft.expressions.CellPairs]] carries ids as
    * primitive longs, so a string/UUID id would ANSI-fail the cast (or
    * silently null under non-ANSI and then read garbage). Making the
    * contract explicit here turns that into a clear analysis-time error
    * instead of a mid-job cast exception. */
  private def requireLongCastableId(df: DataFrame, idCol: String, op: String): Unit = {
    import org.apache.spark.sql.types._
    val dt = df.schema(idCol).dataType
    val ok = dt match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    require(ok,
      s"$op: id column '$idCol' must be an integral type (tinyint/smallint/" +
        s"int/bigint) — ids travel as primitive bigint through the in-cell " +
        s"pair generator; got ${dt.simpleString}. Map non-numeric ids to a " +
        "surrogate bigint (e.g. monotonically_increasing_id or xxhash64) first.")
  }

  /** Cells a single-level codebook may hold as a DRIVER artifact before
    * the corpus-scaled law (k = n/128) must switch to the two-level
    * form: 2^16 cells × 64 dims × 8 B = 32 MB of driver/plan state. At
    * 100 TB (~2×10^11 vectors) single-level k would be ~1.5×10^9 cells —
    * a corpus-sized "model" no driver or broadcast holds; two-level
    * holds k1 = ⌈√k⌉ (~39k cells, 20 MB) on the driver and keeps the
    * k2-per-cell fine level DISTRIBUTED. */
  val MaxDriverCells: Int = 1 << 16

  /** TWO-LEVEL blocking assignment — the 100 TB form of
    * [[semanticClustered]] (see [[MaxDriverCells]] for the law). Level 1
    * is the usual driver-artifact codebook (probed index, O(√k) driver
    * state); level 2 lives in a DataFrame: per L1 cell, sub-centroids
    * init to the first `m2` members by id and refine by `iters`
    * fixed-point Lloyd rounds computed entirely with distributed
    * DataFrame ops — the fine codebook never visits the driver.
    *
    * Assignment is a co-partitioned equi-join on the L1 cell (both
    * sides shuffle once on `__l1`; sub-centroid fan-out collapses in
    * the partial aggregate BEFORE the next exchange, so the n·√k
    * candidate stream never shuffles) + a `min(struct(negsim, l2))`
    * argmax — the same deterministic (cosine desc, sub-id asc) contract
    * as every other assignment in this file, exactly replayable by an
    * external SQL oracle (fixed-point means, left-fold dots; pinned on
    * the hash gate by `sim_twolevel_assign`). Sub-cells that lose all
    * members drop out, mirroring [[trainCodebook]].
    *
    * Returns (idCol, vecCol, __cell) with __cell = l1·m2 + l2 — the
    * composite block key for [[cosineNearDupPairs]] / the kNN
    * generator. Skew: a hot L1 cell is one oversized join partition —
    * AQE's skew-join split handles it (stats exist on both exchanges). */
  def twoLevelClustered(
      emb: DataFrame, idCol: String, vecCol: String,
      l1Codebook: Array[(Long, Seq[Double], Double)], m2: Int,
      iters: Int = 2, probeGroups: Int = 0, l1Probes: Int = 1): DataFrame = {
    require(l1Codebook.nonEmpty, "twoLevelClustered: empty L1 codebook")
    require(m2 > 0, "twoLevelClustered: m2 must be positive")
    require(l1Probes >= 1, "twoLevelClustered: l1Probes must be >= 1")
    val base = withNorm(emb, vecCol)
      .withColumn("__l1", cellTop1Col(l1Codebook, probeGroups).getField("cent_id"))
      .select(col(idCol), col(vecCol), col("__l1"), col("__vd"), col("__norm"))
    // L2 init: the first m2 members of each L1 cell by id, sub-ids 0..m2-1
    // in id order — deterministic for any id distribution (the same seed
    // rule as trainCodebook under sampling)
    val w = Window.partitionBy("__l1").orderBy(col(idCol).asc)
    val cents0 = base
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= m2)
      .select(col("__l1"), (col("__rn") - 1).cast("long").as("__l2"),
        col("__vd").as("__cv"), col("__norm").as("__cn"))
    // one member→sub-centroid argmax, ARRAY-PACKED (the r16 premium
    // fix — the r15 crossover measured the two-level pairs stage 3.2×
    // single-level, and the old row-exploded form was why): the sub-
    // centroids of each L1 cell pack into ONE row's array, the join on
    // `__l1` attaches a member's whole candidate set to it in place,
    // and `array_min` over a transform computes the same deterministic
    // min(struct(negsim, l2)) without materializing n·m2 joined rows or
    // paying the old per-pass groupBy(idCol) exchange of n wide
    // (vector-carrying) rows. Same ordering semantics (struct compare:
    // negsim asc, l2 asc; NaN greatest) — the `sim_twolevel_assign`
    // hash gate pins bit-equality. The packed side is k1 rows of
    // m2-element arrays — the SAME total bytes as the fine codebook
    // (k·dims·8 B), so at fixture scales AQE broadcasts it, and at
    // 100 TB it shuffles k1 rows against n on `__l1` — still strictly
    // fewer exchanges per pass than the old join + re-aggregate.
    def assignOn(rows: DataFrame, cents: DataFrame): DataFrame = {
      val packed = cents.groupBy("__l1")
        .agg(collect_list(struct(col("__l2"), col("__cv"), col("__cn")))
          .as("__subs"))
      rows.join(packed, Seq("__l1"))
        .withColumn("__best",
          array_min(transform(col("__subs"), s =>
            struct(
              (-(dot(col("__vd"), s.getField("__cv")) /
                (col("__norm") * s.getField("__cn")))).as("__neg"),
              s.getField("__l2").as("__l2")))))
        .select(col(idCol), col(vecCol), col("__l1"),
          col("__best.__l2").as("__l2"), col("__vd"))
    }
    def assign(cents: DataFrame): DataFrame = assignOn(base, cents)
    var cents = cents0
    for (_ <- 0 until iters) {
      val assigned = assign(cents)
      // fixed-point per-dimension means (the trainCodebook contract:
      // integer sums → order-independent), reassembled in pos order;
      // empty sub-cells simply emit no rows — they drop out
      cents = assigned
        .select(col("__l1"), col("__l2"),
          posexplode(col("__vd")).as(Seq("pos", "x")))
        .groupBy("__l1", "__l2", "pos")
        .agg(sum(floor(col("x") * MeanScale).cast("long")).as("s"),
          count(lit(1)).as("n"))
        .withColumn("m",
          col("s").cast("double") / col("n") / lit(MeanScale.toDouble))
        .groupBy("__l1", "__l2")
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
          e => e.getField("m")).as("__cv"))
        .withColumn("__cn", sqrt(dot(col("__cv"), col("__cv"))))
    }
    // l1Probes > 1 (MEASUREMENT knob, default 1 = the committed plan,
    // bit-identical): the nd-fixture recall probe attributed the
    // two-level branch's near-dup loss almost entirely to L1 hard
    // assignment (truth pairs co-block at L1 0.676 vs 0.664 at the full
    // cell, ≥ 0.8 stratum, SCALE.md r17) — members of one tight cluster
    // straddle coarse-cell boundaries. Multi-probing re-blocks each
    // vector into its top-P L1 cells for the FINAL assignment only
    // (training stays top-1, so the fine codebook — and the default
    // path's every byte — is unchanged); a vector then appears in ≤ P
    // blocks and a straddling pair co-blocks if ANY probe overlaps.
    // Downstream pair consumers must dedup (a, b) across shared blocks.
    // Assignment rides the same pruned-index artifact as top-1
    // (graft_ivf_topp — O(1)-in-k plan, P-deep group pruning): the
    // first frontier measurement used sort_array over k1 literal cell
    // structs and its assignment cost alone made P=2 read as 13× the
    // pairs stage; the kernel form is what makes the frontier's price
    // the honest ~4× block-quadratics, not an expression artifact.
    val finalRows =
      if (l1Probes <= 1) base
      else withNorm(emb, vecCol)
        .withColumn("__l1",
          explode(cellTopPCol(l1Codebook, l1Probes, probeGroups)))
        .select(col(idCol), col(vecCol), col("__l1"), col("__vd"),
          col("__norm"))
    assignOn(finalRows, cents)
      .select(col(idCol), col(vecCol),
        (col("__l1") * m2 + col("__l2")).as("__cell"))
  }

  /** Embedding-cosine near-dup pairs with key blocking: only same-block
    * pairs are compared (block col = e.g. a cluster/label/LSH signature),
    * never all-pairs. Returns (a, b, score_r) with a < b, score ≥ minScore.
    *
    * Contract notes (both inherited from the join formulation this
    * replaced): `idCol` must be integral — see [[requireLongCastableId]];
    * and rows whose `blockCol` is NULL are dropped before grouping — a
    * null key never equi-joins, so the join form never paired null-keyed
    * rows, and the groupBy form must not either (groupBy would otherwise
    * collect all nulls into ONE block and pair them with each other).
    *
    * Shape (the 1000× ladder lesson, see [[graft.expressions.CellPairs]]):
    * ONE exchange groups each block's members into an array, then a
    * generator scores all pairs in a cache-resident loop and emits only
    * the passing rows. The previous self-join form shuffled the same
    * bytes but then MATERIALIZED a joined row per candidate pair — two
    * 512 B vectors each, ~130 GB of copies at the 1000× point for 8e9
    * flops of actual scoring (124 s of the 191 s dd_semantic sample).
    * Blocks materialize per task, so the CALLER owns the block-size
    * bound — both call sites scale their key's cardinality with the
    * corpus (cells via k = n/128, sign-bit blocks via signBlockBits). */
  def cosineNearDupPairs(
      emb: DataFrame, idCol: String, vecCol: String,
      blockCol: String, minScore: Double): DataFrame = {
    requireLongCastableId(emb, idCol, "cosineNearDupPairs")
    withNorm(emb, vecCol)
      .filter(col(blockCol).isNotNull)
      .groupBy(col(blockCol).as("blk"))
      .agg(collect_list(struct(col(idCol).cast("long").as("id"),
        col("__vd").as("vd"), col("__norm").as("nrm"))).as("members"))
      .select(call_function("graft_cell_pairs",
        col("members"), lit(minScore), lit(0)).as(Seq("a", "b", "score_r")))
  }
}
