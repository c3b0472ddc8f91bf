package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Injectable lineage-truncation strategy for the iterative operators,
  * applied by their one driver ([[Iterate]]). The loop must cut the plan
  * every round — otherwise round N embeds N copies of the edge
  * derivation — but HOW to cut is a deployment decision, not an
  * operator decision:
  *
  *  - default: `localCheckpoint` — blocks live on executors, zero
  *    external storage, the right call at local[32] and for restartable
  *    jobs. The known cost: on a real cluster an executor loss kills its
  *    blocks and the job, because truncated lineage cannot recompute.
  *  - `spark.graft.checkpointDir=<dir>` in the session conf: reliable
  *    `checkpoint` to HDFS/object storage — an executor loss
  *    mid-iteration recovers from the checkpoint files instead of
  *    killing the job. Always EAGER in this mode, with the frame
  *    persisted around the write: a lazy reliable checkpoint recomputes
  *    the whole step from lineage inside the checkpoint-write job, so
  *    every iteration would pay 2x its compute. The scratch blocks drop
  *    immediately after the write (the files carry the data from there).
  *
  * Checkpoint FILES are not scratch and are not touched by
  * [[Dedup.releaseScratch]]; reclaiming them across jobs is the
  * deployment's retention policy (Spark's own
  * `spark.cleaner.referenceTracking.cleanCheckpoints` handles the
  * in-session case). */
object Checkpointer {

  /** Session conf key selecting the reliable strategy. */
  val DirKey = "spark.graft.checkpointDir"

  /** Truncate `df`'s lineage under the configured strategy. A local
    * checkpoint is only marked: the caller's next action materializes
    * it (the [[Iterate]] driver's one count per round). Reliable is
    * always eager — see the class note. */
  def truncate(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val target =
      (try spark.conf.getOption(DirKey) catch { case _: Throwable => None })
        .filter(_.trim.nonEmpty)
    target match {
      case None => df.localCheckpoint(eager = false)
      case Some(d) =>
        val sc = spark.sparkContext
        // setCheckpointDir mints a fresh UUID subdir per call; only
        // (re)set when the configured root is not that subdir's parent
        val root = new Path(d)
        val qualified = root.getFileSystem(sc.hadoopConfiguration).makeQualified(root)
        if (!sc.getCheckpointDir.exists(c => new Path(c).getParent == qualified))
          sc.setCheckpointDir(d)
        val cached = df.persist(StorageLevel.MEMORY_AND_DISK)
        val ck = cached.checkpoint(true)
        cached.unpersist(false)
        ck
    }
  }
}
