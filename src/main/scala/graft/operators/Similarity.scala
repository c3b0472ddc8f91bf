package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.expressions.{IvfPrunedIndex, LshPlanesModel, ModelLiteral, PqModel}

/** Similarity search over an embedding column (`array<float>`).
  *
  * Every ANN top-k query runs one skeleton, [[topK]], in four stages:
  *  1. the probe frame ([[probeFrame]]): each probe's `probe_id` plus the
  *     columns its gate and its scorer read;
  *  2. the [[Gate]] joins each probe to its candidate docs and drops the
  *     self-match: all docs ([[AllDocs]], the exact baseline), the docs
  *     sharing a random-hyperplane signature in any of L LSH tables
  *     ([[LshBuckets]]), the docs of the probe's `nprobe` nearest IVF
  *     cells ([[IvfCells]]), or those cells' directories of a persisted
  *     cell index ([[IvfIndex]]);
  *  3. the [[Scorer]] scores each pair: exact cosine ([[Exact]]), product-
  *     quantization asymmetric-distance lookups ([[Adc]]: per-doc codes
  *     against per-probe LUTs), or ADC oversampling `refine × k`
  *     candidates that an exact re-score ranks ([[AdcRefine]]);
  *  4. [[rankTopK]] keeps each probe's k best by (score desc, id asc).
  *
  * Probes are always the broadcast side and the corpus side is a map of
  * the scan up to the probe join: nothing corpus-sized is broadcast.
  * Models (coarse codebooks, hyperplanes, PQ sub-codebooks) are driver-
  * side artifacts, shipped as one serialized literal per fused kernel
  * (`graft_ivf_topp`, `graft_lsh_sigs`, `graft_pq_encode`), so plan and
  * codegen size do not grow with the model. Codebooks come from
  * [[coarseCodebookOf]] / [[pqCodebookOf]] (the first vectors by id) or
  * from fixed-point Lloyd's training ([[trainCodebook]],
  * [[trainSubCodebooks]]).
  *
  * All arithmetic is double-precision with a single left-fold order so the
  * scores are bit-reproducible (and match the DuckDB oracle exactly).
  */
object Similarity {

  /** A coarse codebook: (cent_id, centroid, ‖centroid‖), cent_id asc. */
  type Codebook = Array[(Long, Seq[Double], Double)]

  /** PQ sub-codebooks over `width`-dim slices: per subspace, (code,
    * centroid slice, ‖slice‖²), code asc — argmin ‖x−c‖² is
    * argmin(‖c‖² − 2⟨x,c⟩). A driver-side model artifact, `subspaces ×
    * cents × width` doubles. */
  final case class PqCodebooks(
      width: Int, subs: Array[Array[(Int, Seq[Double], Double)]]) {
    def subspaces: Int = subs.length
  }

  /** Stage 2 of [[topK]]: which docs each probe scores. */
  sealed trait Gate extends Product with Serializable
  /** Every doc: exact search, the probes × corpus nested loop. */
  case object AllDocs extends Gate
  /** Docs sharing the probe's `planes`-bit signature in ANY of `tables`
    * md5-seeded hyperplane tables over `dims`-wide vectors — the standard
    * recall repair for hyperplane LSH: one table's recall decays with
    * planes, L tables union their candidate sets. */
  final case class LshBuckets(planes: Int, dims: Int, tables: Int) extends Gate
  /** The IVF gates: docs in the probe's `nprobe` nearest cells. */
  sealed trait CellGate extends Gate {
    def codebook: Codebook
    def nprobe: Int
  }
  /** Cells assigned on the fly, one narrow kernel call per doc. */
  final case class IvfCells(codebook: Codebook, nprobe: Int = 4) extends CellGate
  /** Cells read back from the index [[writeIvfIndex]] wrote at `path`
    * under the same codebook; the scan prunes to the probed cells'
    * directories. */
  final case class IvfIndex(path: String, codebook: Codebook, nprobe: Int = 4)
      extends CellGate

  /** Stage 3 of [[topK]]: how a (probe, candidate) pair scores. */
  sealed trait Scorer extends Product with Serializable
  /** Cosine of the full vectors, rounded to 6dp. */
  case object Exact extends Scorer
  /** Σ over subspaces of the probe's LUT entry at the doc's PQ code. */
  final case class Adc(pq: PqCodebooks) extends Scorer
  /** [[Adc]] picks `refine × k` candidates per probe, [[Exact]] ranks
    * them (FAISS's IndexRefine / IVFPQR). */
  final case class AdcRefine(pq: PqCodebooks, refine: Int) extends Scorer {
    require(refine >= 1, s"AdcRefine: refine $refine must be >= 1")
  }

  /** Dot product via the native codegen expression [[graft.expressions
    * .DotProduct]] — same left-to-right double fold as the composable
    * `aggregate(zip_with(...))` form (bit-identical results, so the DuckDB
    * oracle parity is preserved) but without interpreted per-element
    * lambda dispatch. */
  private def dot(a: Column, b: Column): Column =
    call_function("graft_dot", a, b)

  /** Precompute the L2 norm once per row (avoids recomputing per pair). */
  def withNorm(df: DataFrame, vecCol: String): DataFrame = {
    graft.expressions.GraftFunctions.register(df.sparkSession)
    val v = col(vecCol).cast("array<double>")
    df.withColumn("__vd", v).withColumn("__norm", sqrt(dot(v, v)))
  }

  /** Each probe's `k` nearest docs as (probe_id, vec_id_n, rank, score_r):
    * scores round to 6dp BEFORE ranking, so rank ties break on the doc
    * id deterministically; a probe never matches itself. `probePred`
    * applies to the full-column frame, so it may reference any column of
    * `emb`. A scorer that reads PQ codes needs the [[AllDocs]] or
    * [[IvfCells]] gate. */
  def topK(
      emb: DataFrame, idCol: String, vecCol: String,
      probePred: Column, k: Int, gate: Gate, scorer: Scorer = Exact): DataFrame = {
    val base = withNorm(emb, vecCol)
    val scored = scoredPairs(base, idCol, probePred, gate, scorer match {
      case Adc(pq) => Some(pq)
      case AdcRefine(pq, _) => Some(pq)
      case Exact => None
    })
    scorer match {
      case AdcRefine(_, refine) =>
        // the candidate set is probes × refine·k ids — tiny — and is
        // BROADCAST into a second corpus scan (hash join on id, never a
        // shuffle of the corpus), exactly how a production store fetches
        // candidate vectors by key
        val cand = rankTopK(scored, idCol, k * refine)
          .select(col("probe_id"), col("vec_id_n").as(idCol))
        rankTopK(exactScore(base.select(col(idCol) +: docVectorCols: _*)
          .join(broadcast(cand), Seq(idCol))
          .join(broadcast(probeFrame(base, idCol, probePred, probeVectorCols)),
            Seq("probe_id"))), idCol, k)
      case _ => rankTopK(scored, idCol, k)
    }
  }

  private val docVectorCols = Seq(col("__vd"), col("__norm"))
  private val probeVectorCols = Seq(col("__vd").as("__pd"), col("__norm").as("__pn"))

  /** Stage 1: the probes and the columns the gate and scorer need. */
  private def probeFrame(
      base: DataFrame, idCol: String, probePred: Column, cols: Seq[Column]): DataFrame =
    base.filter(probePred).select(col(idCol).as("probe_id") +: cols: _*)

  /** Stages 1-3: every (probe, candidate) pair the gate admits, scored
    * into `score_r` by exact cosine, or by ADC against `adc`. */
  private def scoredPairs(
      base: DataFrame, idCol: String, probePred: Column,
      gate: Gate, adc: Option[PqCodebooks]): DataFrame = {
    require(adc.isEmpty || gate == AllDocs || gate.isInstanceOf[IvfCells],
      s"topK: PQ scoring needs the AllDocs or IvfCells gate, not ${gate.productPrefix}")
    val probes0 = probeFrame(base, idCol, probePred, gateCols(gate, docSide = false) ++
      adc.fold(probeVectorCols)(pq =>
        (0 until pq.subspaces).map(s => pqLutCol(pq, s).as(s"lut$s"))))
    val probes = gate match { // cent_id is int in the index (see writeIvfIndex)
      case _: IvfIndex => probes0.withColumn("cent_id", col("cent_id").cast("int"))
      case _ => probes0
    }
    val docs = (gate, adc) match {
      case (IvfIndex(path, _, _), _) =>
        // the probed cell ids are a driver-side artifact (≤ codebook size,
        // not the probe count), literals so the filter is static partition
        // pruning rather than a runtime join
        val cells = probes.select("cent_id").distinct()
          .collect().map(_.getInt(0)).sorted
        base.sparkSession.read.parquet(path)
          .filter(col("cent_id").isin(cells.map(Int.box): _*))
      case (_, None) =>
        // the IVF docs side keeps the p = 1 Generate BARRIER: without it
        // CollapseProject re-evaluates the cell kernel in the pushed
        // isnotnull filter and the join key (measured 1.4-2x on sim_topk_ivf*)
        base.select((col(idCol) +: gateCols(gate, docSide = true)) ++ docVectorCols: _*)
      case (_, Some(pq)) =>
        // ONE Generate barrier materializes the cell and the PQ codes per
        // doc: without it CollapseProject inlines the encode into every
        // per-PAIR lookup above the probe join (measured 4x)
        val cell = gate match {
          case g: IvfCells => Seq(cellCol(g.codebook).as("cent_id"))
          case _ => Nil
        }
        base.select(col(idCol), explode(array(struct(
            cell :+ pqEncodeCol(pq.width, Array.tabulate(pq.subspaces)(_ * pq.width),
              pq.subs).as("codes"): _*))).as("__c"))
          .select((col(idCol) +: cell.map(_ => col("__c.cent_id").as("cent_id"))) ++
            (0 until pq.subspaces).map(s =>
              element_at(col("__c.codes"), s + 1).as(s"code$s")): _*)
    }
    val keys = gate match {
      case AllDocs => Nil
      case _: LshBuckets => Seq("__tbl", "__sig")
      case _: CellGate => Seq("cent_id")
    }
    val pairs = (if (keys.isEmpty) docs.crossJoin(broadcast(probes))
                 else docs.join(broadcast(probes), keys))
      .filter(col("probe_id") =!= col(idCol))
    val scored = adc.fold(exactScore(pairs))(pq =>
      pairs.withColumn("score_r", round((0 until pq.subspaces)
        .map(s => element_at(col(s"lut$s"), col(s"code$s") + 1)).reduce(_ + _), 6)))
    gate match {
      // cross-table dedup over NARROW columns, never vectors: a doc can
      // share a bucket with the probe in several tables
      case _: LshBuckets =>
        scored.select(col("probe_id"), col(idCol), col("score_r")).distinct()
      case _ => scored
    }
  }

  /** The gate's key columns on one side of the probe join, one row per
    * key (a Generate): every LSH table's signature, or the nearest IVF
    * cell (docs) / the `nprobe` nearest (probes). */
  private def gateCols(gate: Gate, docSide: Boolean): Seq[Column] = gate match {
    case AllDocs => Nil
    case LshBuckets(planes, dims, tables) =>
      // ALL tables' signatures in one fused pass over the vector (a per-
      // table/per-plane graft_dot tree costs tables·planes array walks
      // per row); bit-identical to summing the per-plane
      // when(dot >= 0) bits, pinned in VecEncodeSpec
      val signs = Array.concat((0 until tables).flatMap(hyperplaneSigns(planes, dims, _)): _*)
      Seq(posexplode(call_function("graft_lsh_sigs",
        lit(ModelLiteral.serialize(
          new LshPlanesModel(tables, planes, dims, signs))),
        col("__vd"))).as(Seq("__tbl", "__sig")))
    case g: CellGate =>
      Seq(explode(cellsCol(g.codebook, if (docSide) 1 else g.nprobe)).as("cent_id"))
  }

  /** The one exact score: cosine of probe and doc, rounded to 6dp. */
  private def exactScore(pairs: DataFrame): DataFrame =
    pairs.withColumn("score_r",
      round(dot(col("__pd"), col("__vd")) / (col("__pn") * col("__norm")), 6))

  /** Stage 4: per-probe top-k by rounded score with the deterministic
    * (score desc, id asc) tie-break — the ONE place the output contract
    * (and the oracle convention) lives. */
  private def rankTopK(scored: DataFrame, idCol: String, k: Int): DataFrame = {
    val w = Window.partitionBy("probe_id")
      .orderBy(col("score_r").desc, col(idCol).asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col(idCol).as("vec_id_n"), col("rank"), col("score_r"))
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

  /** LSH signature column: one bit per hyperplane (sign of the
    * projection), as a per-plane `graft_dot` tree — the reference the
    * fused `graft_lsh_sigs` kernel [[LshBuckets]] uses is pinned against
    * in VecEncodeSpec. */
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
    * ≈ `target` — [[signBlockBits]]'s law applied to [[LshBuckets]]'
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
    * generator (that is [[LshBuckets]]' multi-table job). */
  def signBitsCol(vecCol: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 48, s"signBitsCol: bits out of range: $bits")
    val v = vecCol.cast("array<double>")
    (0 until bits).map(i =>
      when(element_at(v, i + 1) >= 0, lit(1L << i)).otherwise(lit(0L)))
      .reduce(_ + _)
  }

  /** Embedding width, from one row of the (already-loaded) table — a tiny
    * driver fetch, same role as pulling the IVF codebook: the PQ slice
    * width is a model artifact sized to the data, not a hardcoded guess.
    * Returns 0 on an empty frame. */
  def embeddingDims(emb: DataFrame, vecCol: String): Int =
    emb.select(size(col(vecCol))).head(1).headOption.map(_.getInt(0)).getOrElse(0)

  /** Fixed-point scale for codebook means: integer sums are associative,
    * so the distributed mean is bit-identical regardless of partition
    * merge order (same trick as the exact-cents int64 revenue sums). */
  private val MeanScale = 1048576L // 2^20

  /** The distributed half of a fixed-point Lloyd's update: per (`keys`,
    * dimension `pos`), sum(floor(x·2^20)) as long (`s`) and the member
    * count (`n`) — exact and order-independent, so an external SQL
    * oracle replays training term-for-term. */
  private def fixedPointSums(df: DataFrame, keys: Seq[String], vec: Column): DataFrame =
    df.select(keys.map(col) :+ posexplode(vec).as(Seq("pos", "x")): _*)
      .groupBy((keys :+ "pos").map(col): _*)
      .agg(sum(floor(col("x") * MeanScale).cast("long")).as("s"),
        count(lit(1)).as("n"))

  /** The driver half, shared by [[trainCodebook]] and
    * [[trainSubCodebooks]]: one key's [[fixedPointSums]] (a model-sized
    * collect) reassembled into per-cell means in `pos` order, one double
    * division each. A cell that lost all members has no rows and drops
    * out (mirrored by the oracle). */
  private def lloydMeans(sums: DataFrame): Array[(Long, Seq[Double])] =
    sums.collect().groupBy(_.getLong(0)).map { case (cid, rows) =>
      cid -> rows.sortBy(_.getInt(1)).map { r =>
        r.getLong(2).toDouble / r.getLong(3) / MeanScale.toDouble
      }.toSeq
    }.toArray.sortBy(_._1)

  private def sumSq(v: Seq[Double]): Double = v.foldLeft(0.0)((a, x) => a + x * x)

  /** (id, __vd, __norm) rows of a [[withNorm]] frame as a codebook. */
  private def collectCodebook(normed: DataFrame, idCol: String): Codebook =
    normed.select(col(idCol).cast("long"), col("__vd"), col("__norm"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1), r.getDouble(2)))
      .sortBy(_._1)

  /** K-means codebook by Lloyd's iterations, all DataFrame ops — no MLlib.
    *
    * Deterministic and engine-replayable by construction, so an external
    * SQL oracle can replay training exactly:
    *  - init = the first `centroids` vectors by id (no RNG);
    *  - assignment = the nearest-cell kernel [[IvfCells]] uses (cosine
    *    desc, ties cent_id asc), a map-only stage;
    *  - the new centroid mean is computed in FIXED POINT
    *    ([[fixedPointSums]], [[lloydMeans]]); float sums would be
    *    partition-order-dependent.
    *
    * Each iteration is one narrow assign + one (centroids·dims)-row
    * aggregate pulled to the driver — the codebook is a model artifact,
    * never corpus-sized. `sampleRate < 1` trains on a deterministic
    * hash-sampled slice (the 100 TB path — same thresholds an external
    * oracle can replay, and quality degrades gracefully with the rate). */
  def trainCodebook(
      emb: DataFrame, idCol: String, vecCol: String,
      centroids: Int = 16, iters: Int = 2,
      sampleRate: Double = 1.0,
      probeGroups: Int = 0): Codebook = {
    val trainSet =
      if (sampleRate >= 1.0) emb
      else Sampling.bernoulli(emb, idCol, sampleRate)
    val base = withNorm(trainSet, vecCol)
    // seeds are the `centroids` LOWEST-id rows OF THE TRAINING SET (not
    // an absolute id < centroids cut, which would shrink or vanish under
    // sampling): deterministic for any id distribution, and identical to
    // id < centroids on dense-from-0 ids — the oracle's formulation
    var cb = collectCodebook(base.orderBy(col(idCol)).limit(centroids), idCol)
    require(cb.nonEmpty,
      s"trainCodebook: empty initial codebook — training set has no rows")
    for (_ <- 0 until iters)
      cb = lloydMeans(fixedPointSums(
          base.withColumn("cent_id", cellCol(cb, probeGroups)), Seq("cent_id"),
          col("__vd")))
        .map { case (cid, vec) => (cid, vec, math.sqrt(sumSq(vec))) }
    cb
  }

  /** The default coarse codebook: the first `centroids` vectors by id —
    * one tiny driver fetch (centroids × dims doubles), a model artifact,
    * not data; same role as the literal hyperplanes in LSH. */
  def coarseCodebookOf(
      emb: DataFrame, idCol: String, vecCol: String,
      centroids: Int = 16): Codebook =
    collectCodebook(withNorm(emb, vecCol).filter(col(idCol) < centroids), idCol)

  /** The `p` nearest cells' cent_ids, best first, as `array<bigint>`:
    * one [[graft.expressions.IvfTopP]] call holding the codebook as a
    * serialized pruned index, equal to the first `p` of `sort_array` over
    * every cell's (-cosine, cent_id) struct (pinned by IvfTopPSpec). Plan
    * and codegen size are O(1) in the cell count k, the scan is a tight
    * primitive loop, and with k ≥ 32 cells a driver-computed √k grouping
    * prunes whole groups by a Cauchy-Schwarz bound — typical per-row work
    * drops from k·dims to ~(√k + k/√k)·dims, which is what keeps the
    * corpus-scaled codebooks ([[corpusCells]]) from fitting a quadratic n·k
    * assignment term on the scale ladder. `probeGroups = 0` is the exact
    * path (see [[semanticNearDupPairs]] for the probed one).
    *
    * Zero vectors follow the kernel's contract: a zero (or NaN) norm
    * gives NaN sims for every cell, so the vector lands in the lowest
    * cent_id(s); exact scoring still divides by both norms, so a zero-
    * vector probe, or one inside a probed cell, fails under ANSI. */
  private def cellsCol(codebook: Codebook, p: Int, probeGroups: Int = 0): Column =
    call_function("graft_ivf_topp",
      lit(ModelLiteral.serialize(IvfPrunedIndex.build(codebook, probeGroups))),
      col("__vd"), col("__norm"), lit(p))

  /** The nearest cell's cent_id: [[cellsCol]] at p = 1, whose tie order
    * (cent_id asc), NaN order and pruning test are those of a top-1
    * argmax. */
  private def cellCol(codebook: Codebook, probeGroups: Int = 0): Column =
    cellsCol(codebook, 1, probeGroups).getItem(0)

  /** Batch k-NN GRAPH construction — every item's top-k neighbours, not
    * just a probe set's (the SemDeDup/graph-curation precursor). The
    * all-pairs form is O(n²) and unshippable; here items pair only
    * WITHIN their IVF cell: one narrow nearest-cell assignment, one
    * exchange grouping each cell's members, and the in-cell generator
    * ([[inCellPairs]]) — n²/c pairs per cell, the classic blocked kNN
    * bound. Same determinism contract as [[topK]]: scores round to 6dp
    * BEFORE ranking, ties break id asc. Items alone in their cell emit no
    * edges (by design — raise `centroids` resolution to densify). Callers
    * should scale `centroids` with the corpus ([[corpusCells]], as
    * `sim_knn_graph` does): a fixed count makes cell size ∝ n and the
    * pairing quadratic. Blocking is [[cellBlocked]] over first-k coarse
    * codebooks, one block per vector (no L1 multi-probe: a vector in two
    * blocks would rank its neighbours twice).
    * `idCol` must be integral (ids travel as primitive bigint through the
    * pair generator — see [[requireLongCastableId]]); map string/UUID ids
    * to a surrogate bigint first. */
  def knnGraph(emb: DataFrame, idCol: String, vecCol: String,
      k: Int, centroids: Int = 16, probeGroups: Int = 0,
      maxDriverCells: Int = MaxDriverCells): DataFrame = {
    requireLongCastableId(emb, idCol, "knnGraph")
    cellBlocked(emb, idCol, vecCol, centroids,
        coarseCodebookOf(emb, idCol, vecCol, _), probeGroups,
        maxDriverCells = maxDriverCells) { cells =>
      inCellPairs(withNorm(cells, vecCol), idCol, col("__cell"), 0.0, k,
        Seq(idCol, "vec_id_n", "rank", "score_r"))
    }
  }

  /** Per-doc PQ codes for every subspace starting at `starts` in one fused
    * kernel ([[graft.expressions.PqEncode]]) — nearest sub-centroid by L2
    * via ‖c‖²−2⟨x,c⟩, ties centroid id asc, bit-identical to per-subspace
    * `array_min(array(struct(d2, cid)…))` trees (pinned in VecEncodeSpec)
    * but one pass over the vector instead of subspaces × cents literal
    * subtrees per row. */
  private def pqEncodeCol(width: Int, starts: Array[Int],
      subs: Array[Array[(Int, Seq[Double], Double)]]): Column =
    call_function("graft_pq_encode",
      lit(ModelLiteral.serialize(PqModel.build(width, starts, subs))), col("__vd"))

  private def pqSliceCol(s: Int, width: Int): Column =
    slice(col("__vd"), s * width + 1, width)

  /** Per-probe LUT for subspace `s`: the probe's exact slice dotted with
    * each sub-centroid — `cents` doubles, built once per probe row. */
  private def pqLutCol(pq: PqCodebooks, s: Int): Column =
    array(pq.subs(s).map { case (_, vec, _) =>
      dot(pqSliceCol(s, pq.width), typedlit(vec)) }.toSeq: _*)

  /** The default PQ sub-codebooks: the first `cents` vectors' slices,
    * coded by id rank. `dims <= 0` reads the width from one row;
    * passing it avoids that job on hot paths. */
  def pqCodebookOf(
      emb: DataFrame, idCol: String, vecCol: String,
      subspaces: Int = 4, cents: Int = 16, dims: Int = 0): PqCodebooks = {
    val d0 = if (dims > 0) dims else embeddingDims(emb, vecCol)
    require(d0 > 0 && d0 % subspaces == 0,
      s"PQ: dims $d0 not divisible into $subspaces subspaces (empty input?)")
    val width = d0 / subspaces
    val rows = coarseCodebookOf(emb, idCol, vecCol, cents)
    require(rows.nonEmpty, s"PQ: empty sub-codebook — no ids < $cents in $idCol")
    PqCodebooks(width, Array.tabulate(subspaces) { s =>
      rows.zipWithIndex.map { case ((_, v, _), j) =>
        val slice = v.slice(s * width, (s + 1) * width)
        (j, slice, sumSq(slice))
      }
    })
  }

  /** Per-subspace k-means sub-codebooks by fixed-point Lloyd's — the real
    * FAISS PQ training recipe, [[trainCodebook]]'s determinism contract
    * on sliced vectors: init = [[pqCodebookOf]]; assignment = the fused
    * min-L2 encode of the evolving sub-codebook (ties code asc); means by
    * [[fixedPointSums]] / [[lloydMeans]]; a sub-cell that loses all
    * members drops out. Each iteration per subspace is one narrow assign
    * + one (cents·width)-row driver aggregate. */
  def trainSubCodebooks(
      emb: DataFrame, idCol: String, vecCol: String,
      subspaces: Int = 4, cents: Int = 16, iters: Int = 2,
      dims: Int = 0): PqCodebooks = {
    val init = pqCodebookOf(emb, idCol, vecCol, subspaces, cents, dims)
    val width = init.width
    val base = withNorm(emb, vecCol)
    init.copy(subs = init.subs.zipWithIndex.map { case (seed, s) =>
      var cb = seed
      for (_ <- 0 until iters) {
        val code = element_at(pqEncodeCol(width, Array(s * width), Array(cb)), 1)
        cb = lloydMeans(fixedPointSums(base.withColumn("cid", code.cast("long")),
            Seq("cid"), pqSliceCol(s, width)))
          .map { case (cid, vec) => (cid.toInt, vec, sumSq(vec)) }
      }
      cb
    })
  }

  /** IVF with the cell assignment PERSISTED: write (or APPEND) the hive-
    * partitioned index (`partitionBy(cent_id)`) for one batch of vectors
    * under a FIXED codebook — one narrow assignment pass, cell
    * directories only grow. [[IvfIndex]] probes read it back through a
    * static cell filter, so the scan PRUNES to the probes' nprobe cell
    * directories (PartitionFilters carries cent_id; pinned in PlanSpec):
    * at 100 TB the build is a one-time map-only write, and each probe
    * batch reads only `≤ centroids` directories instead of the corpus.
    * Append is the incremental-ingest maintenance path: the codebook is
    * frozen at initial build (retraining would reassign existing cells
    * and force a rebuild), new vectors land in their cells as additional
    * part-files, and probes see the union — no rebuild, no read-modify-
    * write. cent_id is written as int: parquet partition-value inference
    * reads small integral dirs back as int, and a type mismatch would
    * wrap the partition column in a cast that defeats static pruning. */
  def writeIvfIndex(
      emb: DataFrame, idCol: String, vecCol: String, indexPath: String,
      codebook: Codebook, mode: String): Unit =
    withNorm(emb, vecCol)
      .withColumn("cent_id", cellCol(codebook).cast("int"))
      .select(col(idCol), col("__vd"), col("__norm"), col("cent_id"))
      .write.mode(mode).partitionBy("cent_id").parquet(indexPath)

  /** Semantic near-duplicate pairs (SemDeDup-style): k-means clusters
    * over the embedding space become the blocking key, then only
    * same-cluster pairs are cosine-compared — never all-pairs. This is
    * the embedding analogue of MinHash banding: the cluster bounds the
    * candidate set, the exact cosine verifies it.
    *
    * Scale shape: training is [[trainCodebook]] (hash-sampleable, model
    * artifact on the driver); cluster assignment is the same NARROW
    * nearest-cell kernel [[IvfCells]] uses (map-only, no shuffle);
    * the groupBy shuffles the corpus once on the cluster id, and each
    * cluster's pair count is bounded by (corpus/centroids)² per cell —
    * at 100 TB you raise `centroids` so cells stay bounded (the paper
    * uses k ≈ √n) and train on a [[Sampling.bernoulli]] slice. Blocking
    * is [[cellBlocked]] with L1 multi-probe P = 2 on its two-level branch.
    *
    * `probeGroups` is the assignment-cost contract for corpus-scaled k
    * (the 1000× ladder finding): the EXACT argmax is n·k — the corpus
    * law ([[corpusCells]]) makes it quadratic, and the triangle-inequality
    * prune is provably vacuous for vectors whose best similarity is below
    * the group radii (most of a decorrelated corpus). With probeGroups = p > 0 each
    * vector is assigned within the p best-bound pruning groups only
    * (≈ p·√k of k cells evaluated) — the faiss-style IVF assignment
    * SemDeDup itself ships. Still fully deterministic (no RNG; nan-safe
    * bound ordering, idx-asc ties); differs from exact only for vectors
    * whose true cell hides outside the p best-bound groups, i.e. the
    * decorrelated ones whose cell choice is blocking noise anyway —
    * clustered vectors' own groups carry the top bounds. At the oracle
    * scales k = 16 < 32 keeps ONE flat group, so probing is inert and
    * the DuckDB replay stays exact (pinned on the gate fixtures in the
    * IVF kernel spec).
    *
    * Deterministic and oracle-replayable end to end: fixed-point Lloyd
    * training, argmax ties broken cent_id-asc, scores rounded to 6dp
    * before thresholding. */
  def semanticNearDupPairs(
      emb: DataFrame, idCol: String, vecCol: String, minScore: Double,
      centroids: Int = 16, iters: Int = 2,
      probeGroups: Int = 0,
      maxDriverCells: Int = MaxDriverCells): DataFrame =
    cellBlocked(emb, idCol, vecCol, centroids,
        trainCodebook(emb, idCol, vecCol, _, iters, probeGroups = probeGroups),
        probeGroups, l1Probes = 2, iters, maxDriverCells)(
      cosineNearDupPairs(_, idCol, vecCol, "__cell", minScore))

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
      codebook: Codebook,
      probeGroups: Int = 0): DataFrame = {
    require(codebook.nonEmpty, "semanticClustered: empty codebook")
    withNorm(emb, vecCol)
      .withColumn("__cell",
        cellCol(codebook, probeGroups))
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
    * [[cellBlocked]] switches to the two-level form: 2^16 cells × 64 dims
    * × 8 B = 32 MB of driver/plan state. At 100 TB (~2×10^11 vectors) the
    * corpus law would ask for ~1.5×10^9 single-level cells — a
    * corpus-sized "model" no driver or broadcast holds; two-level holds
    * k1 = ⌈√k⌉ (~39k cells, 20 MB) on the driver and keeps the
    * k2-per-cell fine level DISTRIBUTED. */
  val MaxDriverCells: Int = 1 << 16

  /** The corpus cell law of the in-cell cosine family: k = max(16,
    * ⌈n/128⌉) cells for n vectors keeps cells near 128 members, so
    * in-cell candidate pairs stay LINEAR in n (a fixed k makes them
    * quadratic — measured at sf1: 12.5M candidates for 10x the sf0.1
    * data). At every oracle scale n/128 < 16, so k = 16. */
  def corpusCells(n: Long): Int = math.max(16, math.ceil(n / 128.0).toInt)

  /** The one blocking step of the in-cell cosine family
    * ([[semanticNearDupPairs]], [[knnGraph]] and `dd_semantic`): assigns
    * every vector to one of `cells` blocks and hands the (idCol, vecCol,
    * __cell) frame to `pairs`, the caller's in-cell pairing. Callers size
    * `cells` by [[corpusCells]] (~128 members per cell); the pair
    * generator ([[graft.expressions.CellPairs]]) materializes one cell
    * per task.
    *
    * Up to [[MaxDriverCells]] cells the codebook is `train(cells)`, a
    * driver artifact, and the assignment is [[semanticClustered]]'s
    * narrow nearest-cell kernel. Above it, blocking is
    * [[twoLevelClustered]]: L1 is `train(k1)` with k1 = ⌈√cells⌉, and
    * m2 = ⌈cells/k1⌉ sub-cells per L1 cell refine distributively by
    * `iters` Lloyd rounds — the same ~cells blocks, O(√cells) driver
    * state. `train` gets the cell count it must produce, so a caller can
    * memoize one artifact per count. `maxDriverCells` is a parameter only
    * so specs can run the two-level branch on small frames. On the
    * single-level branch the pairing's groupBy on `__cell` is the one
    * exchange: the assignment runs once per row on the map side of that
    * aggregate, so no barrier repartition is needed.
    *
    * `l1Probes` = P > 1 (two-level only) places each vector in its top-P
    * L1 cells. Two-level recall loss against single-level is almost all
    * L1 hard-assignment straddling, and P = 2 recovered it on the r17
    * near-dup fixture (planted-truth recall 0.550 → 0.838 at the ≥ 0.8
    * stratum, nd30) for ~1.12× the pairs stage. A pair that shares two
    * blocks then surfaces twice, so `pairs` must emit (a, b, …) rows and
    * this step drops the repeats by (a, b); the copies are identical
    * (same vectors, same score), so the drop is exact. */
  def cellBlocked(emb: DataFrame, idCol: String, vecCol: String,
      cells: Int, train: Int => Codebook, probeGroups: Int = 0,
      l1Probes: Int = 1, iters: Int = 2,
      maxDriverCells: Int = MaxDriverCells)(
      pairs: DataFrame => DataFrame): DataFrame =
    if (cells <= maxDriverCells)
      pairs(semanticClustered(emb, idCol, vecCol, train(cells), probeGroups))
    else {
      val k1 = math.ceil(math.sqrt(cells.toDouble)).toInt
      val m2 = math.ceil(cells.toDouble / k1).toInt
      val blocked = pairs(twoLevelClustered(emb, idCol, vecCol, train(k1), m2,
        iters, probeGroups, l1Probes))
      if (l1Probes > 1) blocked.dropDuplicates("a", "b") else blocked
    }

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
      l1Codebook: Codebook, m2: Int,
      iters: Int = 2, probeGroups: Int = 0, l1Probes: Int = 1): DataFrame = {
    require(l1Codebook.nonEmpty, "twoLevelClustered: empty L1 codebook")
    require(m2 > 0, "twoLevelClustered: m2 must be positive")
    require(l1Probes >= 1, "twoLevelClustered: l1Probes must be >= 1")
    val base = withNorm(emb, vecCol)
      .withColumn("__l1", cellCol(l1Codebook, probeGroups))
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
      cents = fixedPointSums(assigned, Seq("__l1", "__l2"), col("__vd"))
        .withColumn("m",
          col("s").cast("double") / col("n") / lit(MeanScale.toDouble))
        .groupBy("__l1", "__l2")
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
          e => e.getField("m")).as("__cv"))
        .withColumn("__cn", sqrt(dot(col("__cv"), col("__cv"))))
    }
    // l1Probes = P > 1 re-blocks each vector into its top-P L1 cells for
    // the FINAL assignment only (default 1; cellBlocked's near-dup
    // callers run P = 2 and own the (a, b) dedup it requires).
    // The nd-fixture recall probe attributed the two-level branch's
    // near-dup loss almost entirely to L1 hard assignment (truth pairs
    // co-block at L1 0.676 vs 0.664 at the full cell, ≥ 0.8 stratum,
    // SCALE.md r17) — members of one tight cluster straddle coarse-cell
    // boundaries. Training stays top-1, so the fine codebook does not
    // depend on P; a vector appears in ≤ P blocks and a straddling pair
    // co-blocks if ANY probe overlaps, so downstream pair consumers must
    // dedup (a, b) across shared blocks. The assignment is the same
    // pruned-index kernel as top-1 (graft_ivf_topp — O(1)-in-k plan,
    // P-deep group pruning): the
    // first frontier measurement used sort_array over k1 literal cell
    // structs and its assignment cost alone made P=2 read as 13× the
    // pairs stage; the kernel form is what makes the frontier's price
    // the honest ~4× block-quadratics, not an expression artifact.
    val finalRows =
      if (l1Probes <= 1) base
      else withNorm(emb, vecCol)
        .withColumn("__l1",
          explode(cellsCol(l1Codebook, l1Probes, probeGroups)))
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
    * corpus (cells via [[corpusCells]], sign-bit blocks via
    * [[signBlockBits]]). */
  def cosineNearDupPairs(
      emb: DataFrame, idCol: String, vecCol: String,
      blockCol: String, minScore: Double): DataFrame = {
    requireLongCastableId(emb, idCol, "cosineNearDupPairs")
    inCellPairs(withNorm(emb, vecCol).filter(col(blockCol).isNotNull), idCol,
      col(blockCol).as("blk"), minScore, 0, Seq("a", "b", "score_r"))
  }

  /** The in-cell pair generator epilogue of [[knnGraph]] (`k` best per
    * member) and [[cosineNearDupPairs]] (every pair ≥ `minScore`): one
    * exchange groups each `cell`'s members of a [[withNorm]] frame, then
    * [[graft.expressions.CellPairs]] scores them in one primitive loop,
    * emitting columns `out`. */
  private def inCellPairs(normed: DataFrame, idCol: String, cell: Column,
      minScore: Double, k: Int, out: Seq[String]): DataFrame =
    normed.groupBy(cell)
      .agg(collect_list(struct(col(idCol).cast("long").as("id"),
        col("__vd").as("vd"), col("__norm").as("nrm"))).as("members"))
      .select(call_function("graft_cell_pairs",
        col("members"), lit(minScore), lit(k)).as(out))
}
