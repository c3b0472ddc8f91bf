package graft
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import scala.collection.mutable

/** Single-query triage for one entry of `SparkEntry.queries`, on the
  * data in `SPARK_GRAFT_SF_DIR` (default sf0.1):
  *
  *  - `bench-one`: a warm-up, then `samples` (default 5) timed fresh
  *    executions, each split into DataFrame construction (driver-side
  *    plan build and eager analysis) and execution (`count`). Every
  *    sample is printed, not just a median: a code slowdown moves all
  *    samples, shared-host noise spikes isolated ones (r11: ~9% CPU
  *    steal turned multi-job iterative queries into 2-5x outliers).
  *  - `profile`: a warm-up, then one execution under a SparkListener,
  *    one line per job (wall, tasks, stages, executor run/CPU time, scan
  *    input, shuffle read/write, spill; labeled by the job's description,
  *    else its SQL execution's, else its call site) and the driver gap:
  *    query wall minus the merged busy windows of its jobs; then the
  *    codegen classes the sample and the warm-up (in a fresh JVM: the
  *    plan's) compiled.
  *  - `explain`: `explain("formatted")` of the query's plan. Nothing
  *    runs, except what the query's construction itself executes.
  *
  * Usage: runMain graft.Probe <bench-one|profile|explain> <query> [samples]
  */
object Probe {
  val Usage = "usage: Probe <bench-one|profile|explain> <query> [samples]"
  private val Modes = Set("bench-one", "profile", "explain")

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("")
    val name = args.lift(1).getOrElse("")
    val samples = args.lift(2).fold(Option(5))(_.toIntOption).filter(_ >= 1)
    require(Modes(mode) && SparkEntry.queries.contains(name) && samples.nonEmpty,
      s"$Usage (got: ${args.mkString(" ")})")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session()
    try println(run(spark, mode, name, samples.get, sfDir))
    finally spark.stop()
  }

  /** The report of `mode` for query `name`, on a session the caller owns. */
  def run(spark: SparkSession, mode: String, name: String, samples: Int,
      sfDir: String): String = {
    require(Modes(mode) && samples >= 1, s"$Usage (mode '$mode', samples $samples)")
    val fn = SparkEntry.queries(name)
    val build = () => fn(spark, sfDir)
    if (mode == "explain")
      build().queryExecution.explainString(ExplainMode.fromString("formatted"))
    else {
      val cg0 = codegen()
      val rows = build().count() // warm-up: JIT + codegen, untimed
      val warmUp = codegen(cg0)
      graft.operators.Dedup.releaseAllCaches(spark)
      if (mode == "bench-one") benchOne(spark, name, samples, sfDir, rows, build)
      else profile(spark, name, build, warmUp)
    }
  }

  /** Codegen classes compiled in this JVM and their ns, less `since`. */
  private def codegen(since: (Long, Long) = (0L, 0L)): (Long, Long) = (
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount - since._1,
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime - since._2)

  private def benchOne(spark: SparkSession, name: String, n: Int, sfDir: String,
      rows: Long, build: () => DataFrame): String = {
    val split = (1 to n).map { _ =>
      val t0 = System.nanoTime()
      val df = build()
      val t1 = System.nanoTime()
      df.count()
      val t2 = System.nanoTime()
      graft.operators.Dedup.releaseAllCaches(spark)
      // Same opt-in as Bench: at 300x one execution of an iterative query
      // leaves ~20 GB of shuffle files; reclaim between samples.
      if (sys.env.get("SPARK_GRAFT_GC_EACH_QUERY").contains("1")) System.gc()
      ((t1 - t0) / 1e9, (t2 - t1) / 1e9)
    }
    val times = split.map { case (c, e) => c + e }
    val s = times.sorted
    def fmt(v: Double) = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    def arr(vs: Seq[Double]) = vs.map(fmt).mkString("[", ",", "]")
    // rows: output cardinality — the first thing to read on a ladder
    // flag (an output-bound query's time slope IS its row-count slope)
    s"""{"query":"$name","samples":${arr(times)},""" +
      s""""construct":${arr(split.map(_._1))},"execute":${arr(split.map(_._2))},""" +
      s""""min":${fmt(s.head)},"median":${fmt(s(n / 2))},"max":${fmt(s.last)},""" +
      s""""rows":$rows,"sf":"$sfDir"}"""
  }

  private final class JobAgg {
    var start = 0L; var end = 0L
    var tasks = 0; var runMs = 0L; var cpuNs = 0L
    var shRead = 0L; var shWrite = 0L; var spill = 0L
    var input = 0L
    var desc = ""
    val stages = mutable.Set.empty[Int]
  }

  private def profile(spark: SparkSession, name: String,
      build: () => DataFrame, warmUp: (Long, Long)): String = {
    val jobs = mutable.LinkedHashMap.empty[Int, JobAgg]
    val stageToJob = mutable.Map.empty[Int, Int]
    val executions = mutable.Map.empty[String, String]
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart =>
          executions(x.executionId.toString) = x.description.takeWhile(_ != '\n')
        case _ =>
      }
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val a = new JobAgg
        a.start = e.time
        val props = Option(e.properties)
        a.desc = props
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .filter(_.nonEmpty)
          // then the SQL execution the job runs for: AQE submits map-stage
          // jobs from a pool thread, whose call site names no operator
          .orElse(props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
            .flatMap(executions.get).filter(_.nonEmpty))
          // else the result stage's callsite name — identifies which
          // action (count/collect/broadcast/checkpoint) ran the job
          .orElse(e.stageInfos.lastOption.map(_.name.takeWhile(_ != '\n')))
          .getOrElse("")
        e.stageIds.foreach(sid => stageToJob(sid) = e.jobId)
        jobs.synchronized { jobs(e.jobId) = a }
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.synchronized { jobs.get(e.jobId).foreach(_.end = e.time) }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val jid = stageToJob.getOrElse(e.stageId, -1)
        jobs.synchronized {
          jobs.get(jid).foreach { a =>
            a.tasks += 1
            a.stages += e.stageId
            val m = e.taskMetrics
            if (m != null) {
              a.runMs += m.executorRunTime
              a.cpuNs += m.executorCpuTime
              a.shRead += m.shuffleReadMetrics.totalBytesRead
              a.shWrite += m.shuffleWriteMetrics.bytesWritten
              a.spill += m.diskBytesSpilled
              a.input += m.inputMetrics.bytesRead
            }
          }
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val cg0 = codegen()
    val t0 = System.nanoTime()
    var missing = 0
    // detach (also on failure: the session outlives the probe) BEFORE the
    // cache release so its unpersist jobs, outside the measured wall, are
    // not attributed to the query's job table
    val (rows, wall) = try {
      val rows = build().count()
      val wall = (System.nanoTime() - t0) / 1e9
      // Drain the async listener bus BEFORE detaching: late-queued
      // onJobEnd/onTaskEnd events would otherwise print wall 0.000 and
      // undercount task metrics. Poll until every job has an end time,
      // bounded by a short timeout; report stragglers instead of zeros.
      val deadline = System.nanoTime() + 5L * 1000 * 1000 * 1000
      missing = jobs.synchronized { jobs.values.count(_.end == 0L) }
      while (missing > 0 && System.nanoTime() < deadline) {
        Thread.sleep(50)
        missing = jobs.synchronized { jobs.values.count(_.end == 0L) }
      }
      (rows, wall)
    } finally spark.sparkContext.removeSparkListener(listener)
    val sample = codegen(cg0)
    graft.operators.Dedup.releaseAllCaches(spark)

    val out = mutable.ArrayBuffer.empty[String]
    def mb(b: Long) = f"${b / 1048576.0}%8.1f"
    out += f"== $name: wall ${wall}%.3f s, $rows rows, ${jobs.size} jobs =="
    if (missing > 0)
      out += s"!! $missing job(s) never reported an end event within 5s — " +
        "their wall is a lower bound"
    out += " job  wall_s tasks  stages  run_s  cpu_s  in_MB  shR_MB shW_MB spill_MB  desc"
    var jobWallSum = 0.0
    val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
    jobs.toSeq.sortBy(_._1).foreach { case (jid, a) =>
      val w = math.max(0L, a.end - a.start) / 1e3
      jobWallSum += w
      if (a.end > a.start) intervals += ((a.start, a.end))
      out += f"$jid%4d $w%7.3f ${a.tasks}%5d ${a.stages.size}%6d " +
        f"${a.runMs / 1e3}%6.2f ${a.cpuNs / 1e9}%6.2f ${mb(a.input)} ${mb(a.shRead)} " +
        f"${mb(a.shWrite)} ${mb(a.spill)}  ${a.desc.take(60)}"
    }
    // merge overlapping [start,end] windows so concurrent jobs (broadcast
    // builds under the main job, the §2.6 thread-pool queries) are not
    // double-counted against the wall — jobWallSum alone overstates
    // busy time and can push the "driver gap" negative
    var merged = 0.0
    intervals.sortBy(_._1).foldLeft((0L, 0L)) { case ((cs, ce), (s2, e2)) =>
      if (s2 > ce) { merged += (ce - cs) / 1e3; (s2, e2) }
      else (cs, math.max(ce, e2))
    } match { case (cs, ce) => merged += (ce - cs) / 1e3 }
    out += f"== job wall sum ${jobWallSum}%.3f s (merged busy ${merged}%.3f s) " +
      f"vs query wall ${wall}%.3f s (driver gap ${wall - merged}%.3f s) =="
    out += f"== codegen: ${sample._1} classes compiled (${sample._2 / 1e6}%.0f ms); " +
      f"warm-up ${warmUp._1} (${warmUp._2 / 1e6}%.0f ms) =="
    out.mkString("\n")
  }
}
