package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** The one fixpoint driver behind the iterative operators: PageRank, BFS
  * and SSSP ([[Graph]]) and connected components
  * ([[Dedup.connectedComponents]]). Each supplies its edge projection,
  * its initial state, its step and what counts as progress; the driver
  * owns everything the loops share:
  *
  *  - edge preparation: the projected edges are checkpointed and counted
  *    once, and [[Parallelism.forRows]] turns the count into the loop's
  *    shuffle width. The operator's whole body runs inside
  *    [[Parallelism.withShufflePartitions]] at that width, so every
  *    frame it returns must be materialized in the scope — and is:
  *    what a body returns reads only checkpoints the driver made.
  *  - the round action: a [[Checkpointer.truncate]] mark, then ONE count
  *    over the marked frame (or over a narrow filter of it). The count is
  *    the job that materializes the checkpoint AND returns the round's
  *    progress number. It counts the RDD, so it is one job with no count
  *    shuffle. Per-job launch cost dominates these loops at gate scale,
  *    which is why a round gets exactly one action. Setup marks (the
  *    edges, PageRank's node table, the initial state) use the same
  *    action.
  *  - release: after each round, the checkpoints still alive are those
  *    the new state reads plus those the step read besides the old state
  *    (the loop's inputs: edges, PageRank's nodes). Every other
  *    checkpoint the driver made is unpersisted at once, so live state is
  *    the inputs plus the current round (BFS keeps its union of legs).
  *    When the body returns, every checkpoint the returned frame does not
  *    read is released too. Reliable-mode checkpoints hold no blocks, so
  *    there release frees nothing: file retention is the deployment's.
  *  - the round cap: at most `maxRounds` steps, and the loop stops early
  *    once a round's progress count is 0. */
object Iterate {

  /** Prepare `edges` (already projected), run `body` at the loop width,
    * and release every checkpoint the returned frame does not read. */
  def apply(edges: DataFrame)(body: Loop => DataFrame): DataFrame = {
    val loop = new Loop(edges)
    val out = Parallelism.withShufflePartitions(edges.sparkSession, loop.width)(body(loop))
    loop.releaseUnread(rdds(out))
    out
  }

  /** One operator call: its checkpoints, prepared edges and width. */
  final class Loop private[Iterate] (plan: DataFrame) {
    private val marks = scala.collection.mutable.Set.empty[RDD[_]]

    /** The prepared edges, counted at the caller's width before the loop
      * scope opens, and the loop's shuffle width derived from the count. */
    val (edges, width) = {
      val (e, n) = mark(plan)
      (e, Parallelism.forRows(plan.sparkSession, n))
    }

    /** The round action: mark `plan` for a checkpoint, then count
      * `progress` of the marked frame in one job, which materializes it.
      * Returns the marked frame and the count. */
    def mark(plan: DataFrame,
        progress: DataFrame => DataFrame = identity): (DataFrame, Long) = {
      val ck = Checkpointer.truncate(plan)
      marks ++= rdds(ck)
      // the count runs outside any SQL execution, so the AQE stages it
      // submits from a pool thread carry no execution id; a job
      // description (restored after) is what names them in a profile
      val sc = plan.sparkSession.sparkContext
      val outer = sc.getLocalProperty("spark.job.description")
      sc.setJobDescription("count at Iterate.mark")
      try (ck, progress(ck).queryExecution.toRdd.count())
      finally sc.setJobDescription(outer)
    }

    /** Mark `init` as the state, then run rounds 1 to `maxRounds`: round
      * `r` marks `step(state, last, r)`, where `last` is the previous
      * round's marked frame, and the new state is `fold(state, marked)`.
      * The loop stops when a round's `progress` count is 0. Returns the
      * final state and the last progress count. */
    def rounds(init: DataFrame, maxRounds: Int)(
        step: (DataFrame, DataFrame, Int) => DataFrame,
        progress: DataFrame => DataFrame = identity,
        fold: (DataFrame, DataFrame) => DataFrame = (_, ck) => ck)
        : (DataFrame, Long) = {
      var (state, changed) = mark(init, progress)
      var last = state
      var round = 0
      while (changed > 0 && round < maxRounds) {
        round += 1
        val next = step(state, last, round)
        val (ck, n) = mark(next, progress)
        val folded = fold(state, ck)
        releaseUnread(rdds(folded) ++ (rdds(next) -- rdds(state)))
        state = folded
        last = ck
        changed = n
      }
      (state, changed)
    }

    private[Iterate] def releaseUnread(live: Set[RDD[_]]): Unit =
      marks.filterInPlace(rdd => live(rdd) || { rdd.unpersist(blocking = true); false })
  }

  /** The checkpointed RDDs `df`'s analyzed plan reads. */
  private def rdds(df: DataFrame): Set[RDD[_]] =
    df.queryExecution.analyzed.collect { case lr: LogicalRDD => lr.rdd }.toSet
}
