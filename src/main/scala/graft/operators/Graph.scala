package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph analytics beyond connected components (Dedup): an
  * exact scaled-integer PageRank, multi-source BFS and bounded weighted
  * shortest paths. Each is an init, a step and a progress count run by
  * the [[Iterate]] driver, which owns the edge truncation, the loop's
  * shuffle width, the one action per round and the checkpoint release.
  *
  * PageRank keeps every rank as a scaled BIGINT (`scale` = 1e12 by
  * default). Floating-point PageRank sums neighbor contributions in
  * partition order, so two engines (or two runs) disagree in the last
  * ulps and a hash-compare gate can never pin it. Here contributions
  * divide by out-degree with truncating integer `div`, the damping mix
  * is integer `15·S/(100·N) + 85·Σ/100`, and integer addition is
  * associative — the result is bit-identical regardless of partition
  * count, join order, or engine. The deliberate cost is ≤ 1 ulp of
  * scaled truncation per edge per iteration, which is part of the
  * operator's CONTRACT (the oracle replays the identical formula).
  *
  * Scale shape per PageRank round: one join of edges to the rank table
  * on src (both sides hash-partitioned on src — the rank side is
  * node-sized, NOT broadcast, so 100 TB graphs with billions of nodes
  * hold), one groupBy(dst) sum.
  */
object Graph {

  /** `iters` rounds of damped PageRank over a directed edge list.
    * Returns (id, rank_scaled). Dangling mass is dropped (the classic
    * simplified formulation — every node still receives the teleport
    * term). Deterministic: all arithmetic is integer. */
  def pageRankScaled(
      edges: DataFrame, src: String, dst: String,
      iters: Int = 3, scale: Long = 1000000000000L): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    // The edge truncation keeps every round's plan from embedding a fresh
    // copy of the (possibly expensive) edge-derivation subtree — the
    // co-purchase self-join re-ran 3× per action before it landed.
    Iterate(edges.select(col(src).as("src"), col(dst).as("dst"))) { loop =>
      val e = loop.edges
      // Out-degree is STATIC across iterations, and it is a NODE-sized
      // attribute — so it rides the rank table instead of being joined to
      // the corpus-sized edge frame every round (§2.4: only the node
      // table moves per round). One map-side-combined aggregate + one
      // node-sized join at setup, ~8 bytes/node through each round's rank
      // checkpoint, and the per-round (edges ⋈ ranks) ⋈ deg second join
      // disappears at every scale. (Folding deg into the EDGE table was
      // measured worse at gate scale — a corpus-sized setup join — and a
      // window count over src would buffer hub groups whole, the skew
      // shape the minhash bucket cap rejected.) deg is null for nodes
      // with no out-edges; such ids never match the contribs join, so the
      // null never evaluates.
      val deg = e.groupBy("src").agg(count(lit(1)).as("deg"))
      // N and the teleport term are scalars of a bounded aggregate
      val (nodes, n) = loop.mark(
        e.select(col("src").as("id"))
          .union(e.select(col("dst").as("id"))).distinct()
          .join(deg.withColumnRenamed("src", "id"), Seq("id"), "left"))
      val teleport = (15L * scale) / (100L * n)
      // every round's rank table is a fresh checkpoint, so round N's plan
      // reaches back only to round N-1's LogicalRDD and analysis stays
      // O(1) per round at ANY iteration count; deg rides along so every
      // round's rank table keeps it without re-joining
      val (ranks, _) = loop.rounds(nodes.withColumn("r", lit(scale / n)), iters) {
        (prev, _, _) =>
          val contribs = e.join(prev, e("src") === prev("id"))
            .select(col("dst").as("id"), expr("r div deg").as("c"))
            .groupBy("id").agg(sum(col("c")).as("c"))
          nodes.join(contribs, Seq("id"), "left")
            .select(col("id"), col("deg"),
              (lit(teleport) +
                expr("85 * coalesce(c, cast(0 as bigint)) div 100")).as("r"))
      }
      ranks.select(col("id"), col("r").as("rank_scaled"))
    }
  }

  /** Bounded weighted shortest path (Bellman–Ford with a frontier
    * optimization): minimum total integer weight from any seed over paths
    * of ≤ `maxHops` edges. Returns (id, dist) for every node reachable
    * within the bound.
    *
    * Per round, ONLY nodes whose distance improved last round relax
    * their out-edges (the frontier — classic Bellman-Ford relaxes every
    * edge every round, maxHops× the work on graphs where shortest paths
    * stabilize early), candidates take a per-target min, and one
    * full-outer merge folds strict improvements into the distance table
    * and flags them. The flagged rows are the next frontier and their
    * count is the round's progress, so the distance table is the one
    * frame each round checkpoints. Weights are integers so the min-fold
    * is exact: no float sum order can flip a comparison, and the hash
    * gate + recursive-CTE oracle replay bit-identically. */
  def ssspWeighted(
      edges: DataFrame, src: String, dst: String, weightCol: String,
      seeds: DataFrame, idCol: String, maxHops: Int): DataFrame = {
    require(maxHops >= 1, s"maxHops must be >= 1, got $maxHops")
    Iterate(edges.select(col(src).as("src"), col(dst).as("dst"),
        col(weightCol).cast("long").as("w"))) { loop =>
      val e = loop.edges
      val seeded = seeds.select(col(idCol).as("id")).distinct()
        .withColumn("dist", lit(0L)).withColumn("improved", lit(true))
      val (dist, _) = loop.rounds(seeded, maxHops)(
        (prev, _, _) => {
          val frontier = prev.filter(col("improved"))
          val cand = e.join(frontier, e("src") === frontier("id"))
            .select(col("dst").as("id"), (col("dist") + col("w")).as("cand"))
            .groupBy("id").agg(min("cand").as("cand"))
          // a strict improvement, or a node reached for the first time
          val better = col("cand").isNotNull &&
            (col("dist").isNull || col("cand") < col("dist"))
          prev.select("id", "dist").join(cand, Seq("id"), "full_outer")
            .select(col("id"), when(better, col("cand")).otherwise(col("dist")).as("dist"),
              better.as("improved"))
        },
        progress = _.filter(col("improved")))
      dist.select("id", "dist")
    }
  }

  /** Multi-source BFS: minimum hop distance from any seed node, bounded
    * at `maxHops`. Returns (id, hops) for every node within reach.
    *
    * Frontier-based — each iteration joins ONLY the nodes first reached
    * in the previous round against the edge list (both sides hash-
    * partitioned on the join key), then anti-joins the visited set so a
    * node enters the distance table exactly once, at its minimal hop.
    * That keeps per-iteration work proportional to the frontier, not to
    * the visited set — the property that lets a 3-hop neighborhood
    * query finish on a billion-edge graph where re-expanding the full
    * visited set each round would not. Min-hop BFS is deterministic by
    * construction (no arithmetic, only set reachability), so the result
    * sits on the exact hash gate and a recursive-CTE oracle replays it.
    *
    * The distance table is a UNION of the rounds' checkpointed frontiers:
    * every leg is materialized once, and re-checkpointing the growing
    * union each round would only re-copy the visited set maxHops times;
    * the anti-join reads the union's cached blocks directly. */
  def bfsHops(
      edges: DataFrame, src: String, dst: String,
      seeds: DataFrame, idCol: String, maxHops: Int): DataFrame = {
    require(maxHops >= 1, s"maxHops must be >= 1, got $maxHops")
    Iterate(edges.select(col(src).as("src"), col(dst).as("dst"))) { loop =>
      val e = loop.edges
      val (dist, _) = loop.rounds(
        seeds.select(col(idCol).as("id")).distinct().withColumn("hops", lit(0L)),
        maxHops)(
        (visited, frontier, h) =>
          e.join(frontier, e("src") === frontier("id"))
            .select(col("dst").as("id")).distinct()
            .join(visited, Seq("id"), "left_anti")
            .withColumn("hops", lit(h.toLong)),
        fold = _ unionByName _)
      dist
    }
  }
}
