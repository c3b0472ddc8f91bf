package perfbench

import scala.collection.mutable
import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters of one step of one traced pass. Filled by the listeners on
  * the listener-bus thread; read by the harness after a drain. */
final class Counters {
  val v: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  val triggerMs: mutable.ArrayBuffer[Long] = mutable.ArrayBuffer.empty
  def add(k: String, x: Double): Unit = v(k) = v.getOrElse(k, 0.0) + x
}

final case class JobRec(id: Int, key: String, start: Long, var end: Long)

/** The three listeners of a traced run: a SparkListener (jobs, stages,
  * task metrics), a QueryExecutionListener (planning phases, file
  * writes) and a StreamingQueryListener (micro-batch progress). Events
  * are attributed to the step that caused them: jobs through the
  * `perfbench.step` local property, the other events by time. Attached
  * for traced passes only, so untraced passes pay nothing. */
final class Tracer(spark: SparkSession) {
  private val sc: SparkContext = spark.sparkContext
  val counters: mutable.LinkedHashMap[String, Counters] = mutable.LinkedHashMap.empty
  val jobs: mutable.ArrayBuffer[JobRec] = mutable.ArrayBuffer.empty
  private val stageKey = mutable.Map.empty[Int, String]
  /** (key, start ms) of every step window, in start order. */
  private val windows = mutable.ArrayBuffer.empty[(String, Long)]

  def openStep(key: String, startMs: Long): Unit = synchronized {
    windows += key -> startMs
    counters(key) = new Counters
  }

  private def keyAt(ms: Long): Option[String] = synchronized {
    windows.reverseIterator.find(_._2 <= ms).map(_._1)
  }
  private def add(key: Option[String], k: String, x: Double): Unit =
    synchronized { key.flatMap(counters.get).foreach(_.add(k, x)) }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val key = Option(e.properties).flatMap(p => Option(p.getProperty("perfbench.step")))
        .orElse(keyAt(e.time))
      Tracer.this.synchronized {
        key.foreach { k =>
          jobs += JobRec(e.jobId, k, e.time, e.time)
          e.stageIds.foreach(stageKey(_) = k)
        }
      }
      add(key, "exec.jobs", 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.find(_.id == e.jobId).foreach(_.end = e.time)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val key = Tracer.this.synchronized(stageKey.get(e.stageInfo.stageId))
      add(key, "exec.stages", 1)
      if (e.stageInfo.attemptNumber() > 0) add(key, "exec.stage_retries", 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val key = Tracer.this.synchronized(stageKey.get(e.stageId))
      add(key, "exec.tasks", 1)
      if (e.reason != Success) add(key, "exec.task_failures", 1)
      val m = e.taskMetrics
      if (m != null) {
        add(key, "task.run_s", m.executorRunTime / 1e3)
        add(key, "task.cpu_s", m.executorCpuTime / 1e9)
        add(key, "task.gc_s", m.jvmGCTime / 1e3)
        add(key, "task.deser_s", m.executorDeserializeTime / 1e3)
        add(key, "scan.bytes", m.inputMetrics.bytesRead.toDouble)
        add(key, "scan.rows", m.inputMetrics.recordsRead.toDouble)
        add(key, "shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add(key, "shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        add(key, "shuffle.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
        add(key, "spill.disk_bytes", m.diskBytesSpilled.toDouble)
        add(key, "sources.output_bytes", m.outputMetrics.bytesWritten.toDouble)
      }
    }
  }

  private def planning(qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    val at = phases.get("analysis").map(_.startTimeMs).getOrElse(System.currentTimeMillis())
    val key = keyAt(at)
    Seq("analysis", "optimization", "planning").foreach { p =>
      phases.get(p).foreach(s => add(key, s"driver.${p}_s", s.durationMs / 1e3))
    }
    // V1 file writes (saveAsTable, DataFrameWriter.parquet/json/csv, the
    // stream sinks' foreachBatch writes); the V2 noop sink is not a source
    val writes = qe.executedPlan.collect { case w: DataWritingCommandExec => w }
    if (writes.nonEmpty) {
      add(key, "sources.write_s", durationNs / 1e9)
      writes.foreach { w =>
        w.cmd.metrics.get("numFiles").foreach(m => add(key, "sources.files", m.value.toDouble))
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      planning(qe, durationNs)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      planning(qe, 0L)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val key = keyAt(java.time.Instant.parse(p.timestamp).toEpochMilli)
      def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      add(key, "streaming.batches", 1)
      add(key, "streaming.add_batch_s", d("addBatch") / 1e3)
      add(key, "streaming.commit_s", (d("walCommit") + d("commitOffsets")) / 1e3)
      p.stateOperators.foreach { s =>
        add(key, "streaming.state_commit_s", s.commitTimeMs / 1e3)
        add(key, "streaming.state_rows", s.numRowsUpdated.toDouble)
      }
      synchronized { key.flatMap(counters.get).foreach(_.triggerMs += d("triggerExecution")) }
    }
  }

  def attach(): Unit = {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Drain the bus, so every event of the pass is counted, then detach. */
  def detach(): Unit = {
    org.apache.spark.PerfBenchBus.drain(sc)
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(qeListener)
    sc.removeSparkListener(sparkListener)
  }
}
