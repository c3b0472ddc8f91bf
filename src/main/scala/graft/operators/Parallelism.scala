package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Data-volume-derived shuffle parallelism for the operators whose cost
  * the session-wide `spark.sql.shuffle.partitions` cannot see.
  *
  * The session default is sized for the AVERAGE query (locally: one
  * partition per core). Iterative/join operators break that assumption
  * two ways, both measured on the 1×–300× scale ladder:
  *
  *  - a JOIN whose per-task build state grows with the data spills once
  *    partitions stop tracking bytes — an_triangles looked e≈1.38 on the
  *    100×→300× segment until a 128-partition probe restored the linear
  *    slope (SCALE.md, round 12);
  *  - an ITERATIVE loop pays its partition count per round, so a count
  *    that is 4× too high at small scale multiplies into 4× the task
  *    launches per convergence.
  *
  * So the operator derives its own count from what it is about to
  * shuffle: estimated input bytes / target partition bytes, floored at
  * the session's core count (never fewer tasks than cores), capped
  * against runaway estimates. Locally at sf0.1 every formula below
  * lands exactly on `defaultParallelism` — same plans as before; the
  * count only rises when the data outgrows one partition-per-core,
  * which is the cluster regime.
  *
  * Two estimators, chosen by what is trustworthy at the call site:
  *  - [[forInputBytes]] — on-disk size of the parquet the query reads
  *    (exact, from the filesystem; use for non-iterative join queries
  *    whose Catalyst stats above a join are products, not sizes);
  *  - [[forRows]] — a materialized frame's row count × estimated row
  *    width (the [[Iterate]] driver's edge count, taken by the action
  *    that checkpoints the edges, where plan stats are
  *    `defaultSizeInBytes` garbage).
  *
  * [[withShufflePartitions]] scopes the session conf for code that
  * drives its OWN actions — the iterative operators' one driver
  * ([[Iterate]]) and [[materialize]]: every shuffle those actions execute
  * — whatever its key — uses the derived count, and the conf restores on
  * exit. It is only correct when the frames the caller receives back are
  * materialized inside the scope (checkpointed or persisted).
  */
object Parallelism {

  /** Hard ceiling on any derived count: 2^14 tasks per stage is already
    * cluster-sized; anything above it here means a corrupt estimate. */
  val Cap = 16384

  /** Default target bytes per shuffle partition. Spark's own AQE advisory
    * size is 64 MB post-shuffle; 32 MB of INPUT per task leaves room for
    * the 2–4× row-width amplification pair/wedge joins add. */
  val TargetPartitionBytes: Long = 32L << 20

  def cores(spark: SparkSession): Int = spark.sparkContext.defaultParallelism

  private def clamp(spark: SparkSession, byBytes: Long): Int =
    math.min(Cap.toLong, math.max(cores(spark).toLong, byBytes)).toInt

  /** On-disk bytes under `path` (a directory is summed recursively). An
    * unreadable path counts 0 — LOUDLY: a transient filesystem error at
    * 1000× that silently railed a width to its floor would reproduce the
    * very per-task blowup the derivation exists to prevent, so the
    * failure goes to stderr, tagged with the `caller` and the `fallback`
    * it lands on, where the bench/verify logs capture it. */
  private[graft] def inputBytes(
      spark: SparkSession, path: String, caller: String, fallback: String): Long =
    try {
      val hp = new org.apache.hadoop.fs.Path(path)
      hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .getContentSummary(hp).getLength
    } catch {
      case e: Exception =>
        System.err.println(
          s"[graft] $caller: cannot size '$path' " +
            s"(${e.getClass.getName}: ${e.getMessage}); falling back to $fallback")
        0L
    }

  /** Partition count from on-disk input size: `ceil(bytes / target)`,
    * floored at cores, capped. `paths` are the parquet files/directories
    * the query scans (see [[inputBytes]]; an unreadable path contributes
    * 0 and the floor keeps the result sane). */
  def forInputBytes(
      spark: SparkSession,
      paths: Seq[String],
      targetBytes: Long = TargetPartitionBytes): Int = {
    val total = paths.map(
      inputBytes(spark, _, "forInputBytes", "0 bytes (the core floor)")).sum
    clamp(spark, (total + targetBytes - 1) / targetBytes)
  }

  /** Partition count from Catalyst's logical size estimate of a
    * SCAN-SIDE frame — a Project/Filter lineage over a file relation,
    * where `stats.sizeInBytes` is the file bytes scaled by the
    * projection, i.e. an honest size. NOT valid above a join (stats
    * there are row-count products, the scaladoc's original warning);
    * callers own that the frame is scan-shaped. Use where the operator
    * receives a DataFrame (no path to hand [[forInputBytes]]) and needs
    * a width for its input-sized first shuffle before any action has
    * produced a row count for [[forRows]]. */
  def forPlanBytes(
      df: DataFrame,
      targetBytes: Long = TargetPartitionBytes): Int = {
    val plan = df.queryExecution.optimizedPlan
    val est = plan.stats.sizeInBytes
    // Plausibility guard (the scan-shaped contract, ENFORCED as a
    // signal): over a Project/Filter lineage the estimate can only
    // SHRINK relative to the leaves' file bytes, so an estimate far
    // above the summed leaf sizes means the caller handed a frame with
    // a join/aggregate in it — stats there are row-count products and
    // the derived width silently rails to Cap. Warn loudly (tests
    // assert via [[planBytesPlausible]]) rather than guess a width.
    val leafBytes = plan.collectLeaves()
      .map(_.stats.sizeInBytes).filter(_.isValidLong).map(_.toLong).sum
    if (leafBytes > 0L && est.isValidLong &&
        est.toLong > 4L * math.max(leafBytes, 1L)) {
      System.err.println(
        s"[Parallelism.forPlanBytes] estimate ${est} is ${est.toLong / math.max(leafBytes, 1L)}x " +
        s"the summed leaf bytes ($leafBytes) — the frame is not " +
        "scan-shaped (a join/aggregate inflated stats to a row-count " +
        "product); the derived width is untrustworthy and may rail to " +
        s"Cap ($Cap). Use forInputBytes/forRows at this call site.")
    }
    val bytes =
      if (est.isValidLong) est.toLong
      else Cap.toLong * targetBytes // corrupt estimate → the Cap rail
    clamp(df.sparkSession, (bytes + targetBytes - 1) / targetBytes)
  }

  /** True when [[forPlanBytes]]'s scan-shaped contract holds for `df`:
    * the plan's size estimate does not exceed 4× its leaves' file
    * bytes. Exposed so specs can assert a call site's frame shape. */
  def planBytesPlausible(df: DataFrame): Boolean = {
    val plan = df.queryExecution.optimizedPlan
    val est = plan.stats.sizeInBytes
    val leafBytes = plan.collectLeaves()
      .map(_.stats.sizeInBytes).filter(_.isValidLong).map(_.toLong).sum
    !est.isValidLong || leafBytes == 0L || est.toLong <= 4L * leafBytes
  }

  /** Partition count from a materialized row count of the iterative
    * operators' edge rows, at [[TargetPartitionBytes]] per partition. A
    * row counts 64 B: the SHUFFLED width (columns + row overhead) of the
    * narrow (long, long[, long]) edge/state rows they shuffle, not the
    * parquet-encoded width. */
  def forRows(spark: SparkSession, rows: Long): Int =
    clamp(spark, (rows * 64L + TargetPartitionBytes - 1) / TargetPartitionBytes)

  // NOTE (measured, round 13): widening a deferred query by
  // key-repartitioning the JOIN INPUTS to a derived count does not
  // work — the repartition only replaces the join's own exchanges,
  // while every ENSURE_REQUIREMENTS exchange downstream (a distinct, a
  // post-join aggregate — exactly the spill sites the derivation is
  // for) stays at the session width, and a multiply-referenced subplan
  // is still inlined once per reference. The an_triangles 300× probe
  // measured that variant at 184 s isolated vs 102 s for plain
  // fixed-width conf. The pattern that works is the iterative
  // operators' contract applied to the query layer: materialize the
  // heavy phase ONCE inside [[withShufflePartitions]] — [[materialize]]
  // — and return the small deferred tail.

  /** Run `body` with `spark.sql.shuffle.partitions = n`, restoring the
    * previous value on exit. Scopes EXECUTION, not construction: only
    * actions that run inside `body` see `n`, so the caller must
    * materialize (checkpoint) every frame that escapes the scope. */
  def withShufflePartitions[T](spark: SparkSession, n: Int)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, n.toString)
    try body finally spark.conf.set(key, prev)
  }

  /** The scope's materialization contract for an eager batch phase:
    * build `plan` with `spark.sql.shuffle.partitions = n`, persist it as
    * registered scratch ([[Dedup.scratchPersist]] — released by
    * `Dedup.releaseScratch` between queries), count it so every shuffle
    * runs at `n`, and return it. The plan is built INSIDE the scope
    * because a persist plans its physical exchanges when it is called. */
  def materialize(spark: SparkSession, n: Int)(plan: => DataFrame): DataFrame =
    withShufflePartitions(spark, n) {
      val m = Dedup.scratchPersist(plan)
      m.count()
      m
    }
}
