package graft

import graft.operators.{Dedup, Graph}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

/** The fixpoint driver's contract, seen through the four operators it
  * runs: a fixed number of setup jobs plus one job per round, and no
  * checkpoint left persisted that the returned frame does not read. */
class IterateSpec extends SparkSpec {
  import spark.implicits._

  /** Jobs started while `body` runs. The listener bus is asynchronous
    * but FIFO, so a sentinel job run after `body` marks the end: every
    * job start queued before the sentinel's belongs to `body`. */
  private def jobsOf(body: => Unit): Int = {
    val starts = new LinkedBlockingQueue[Boolean]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        starts.put(Option(e.properties).exists(_.getProperty("graft.sentinel") != null))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      body
      sc.setLocalProperty("graft.sentinel", "1")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty("graft.sentinel", null)
      var n = 0
      while (!Option(starts.poll(30, TimeUnit.SECONDS)).getOrElse(
          fail("the sentinel job never reached the listener"))) n += 1
      n
    } finally sc.removeSparkListener(listener)
  }

  /** The path 1 → 2 → … → n: BFS and SSSP from node 1 run n rounds (the
    * last finds an empty frontier), connected components n - 1 after its
    * fused first round (the last moves no label). */
  private def path(n: Int): DataFrame =
    (1L until n.toLong).map(i => (i, i + 1)).toDF("src", "dst")

  private val seed = Seq(1L).toDF("id")

  private def pageRank(n: Int) = Graph.pageRankScaled(path(n), "src", "dst", iters = n)
  private def bfs(n: Int) = Graph.bfsHops(path(n), "src", "dst", seed, "id", 50)
  private def sssp(n: Int, maxHops: Int = 50) = Graph.ssspWeighted(
    path(n).withColumn("w", $"dst" - $"src"), "src", "dst", "w", seed, "id", maxHops)
  private def components(n: Int) =
    Dedup.connectedComponents(path(n).toDF("a", "b"), "a", "b")

  test("each operator runs its setup jobs plus exactly one job per round") {
    // With AQE and broadcast joins off every action is exactly one job
    // (no separate map-stage or broadcast jobs), so the count is the
    // operator's action count. Setup: the edge mark, plus PageRank's node
    // table and connected components' laid-out edges, plus the initial
    // state. A second action per round adds a job per round and fails.
    val keys = Seq("spark.sql.adaptive.enabled", "spark.sql.autoBroadcastJoinThreshold")
    val prev = keys.map(k => k -> spark.conf.get(k))
    try {
      spark.conf.set(keys(0), "false")
      spark.conf.set(keys(1), "-1")
      for (n <- Seq(4, 7)) {
        assert(jobsOf(pageRank(n)) == 3 + n, s"pageRankScaled, $n iterations")
        assert(jobsOf(bfs(n)) == 2 + n, s"bfsHops, path of $n")
        assert(jobsOf(sssp(n)) == 2 + n, s"ssspWeighted, path of $n")
        assert(jobsOf(components(n)) == 3 + (n - 1), s"connectedComponents, path of $n")
      }
    } finally prev.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  /** Ids of the RDDs persisted in the session. */
  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Ids of the checkpointed RDDs `df`'s plan reads. */
  private def read(df: DataFrame): Set[Int] =
    df.queryExecution.analyzed.collect { case lr: LogicalRDD => lr.rdd.id }.toSet

  test("each operator leaves persisted exactly the checkpoints its result reads") {
    for ((name, run) <- Seq[(String, () => DataFrame)](
        "pageRankScaled" -> (() => pageRank(4)), "bfsHops" -> (() => bfs(4)),
        "ssspWeighted" -> (() => sssp(4)), "connectedComponents" -> (() => components(4)))) {
      Dedup.releaseAllCaches(spark)
      val out = run()
      assert(persisted == read(out), name)
      assert(persisted.nonEmpty, name)
    }
    // SSSP's live state is its distance table, whatever the hop bound
    val counts = Seq(2, 10).map { maxHops =>
      Dedup.releaseAllCaches(spark)
      val out = sssp(8, maxHops)
      assert(persisted == read(out), s"ssspWeighted at maxHops $maxHops")
      persisted.size
    }
    assert(counts == Seq(1, 1))
    Dedup.releaseAllCaches(spark)
  }

  test("Checkpointer applies a new checkpoint dir that is a prefix of the current one") {
    import graft.operators.Checkpointer
    val tmp = java.nio.file.Files.createTempDirectory("graft-ck-prefix")
    val sc = spark.sparkContext
    def truncateUnder(dir: java.nio.file.Path): String = {
      spark.conf.set(Checkpointer.DirKey, dir.toString)
      try Checkpointer.truncate(spark.range(3).toDF()).count()
      finally spark.conf.unset(Checkpointer.DirKey)
      sc.getCheckpointDir.get
    }
    val old = tmp.resolve("ck-old")
    val now = tmp.resolve("ck")
    assert(truncateUnder(old).contains(old.toString))
    val second = truncateUnder(now)
    assert(!second.contains(old.toString), s"still checkpointing under $second")
    assert(new org.apache.hadoop.fs.Path(second).getParent.toUri.getPath == now.toString)
    assert(java.nio.file.Files.isDirectory(now))
  }
}
