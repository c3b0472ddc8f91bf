package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM: one session, one client, steps run one after
  * another. Sets up the session, runs a cold pass, then unmeasured warm-up
  * passes, then measured warm passes for the requested seconds, then an
  * untimed check pass that writes the checked outputs the steps' sinks do
  * not leave in place. Writes one JSON result file; the Python runner
  * turns it into metrics.
  *
  * Usage: PerfBench --workload W --input DIR --work DIR --out FILE
  *   --cores N --seconds S --trace 0|1 --spawn-ns T
  */
object PerfBench {

  private def arg(args: Array[String], k: String): String = {
    val i = args.indexOf(k)
    require(i >= 0 && i + 1 < args.length, s"missing $k")
    args(i + 1)
  }

  private val baseNano = System.nanoTime()
  private val baseEpochUs = {
    val now = java.time.Instant.now()
    now.getEpochSecond * 1000000L + now.getNano / 1000
  }
  /** Epoch microseconds on the monotonic clock. */
  def nowUs(): Long = baseEpochUs + (System.nanoTime() - baseNano) / 1000

  final case class Span(id: Int, parent: Int, kind: String, name: String,
      start: Long, var end: Long)

  final class Spans {
    val all = mutable.ArrayBuffer.empty[Span]
    def open(parent: Int, kind: String, name: String): Span = {
      val s = Span(all.size, parent, kind, name, nowUs(), 0L)
      all += s
      s
    }
    def close(s: Span): Unit = s.end = nowUs()
  }

  /** Unmeasured warm passes after the cold pass: pass times fall
    * steeply over them while the JIT compiles the hot paths. */
  val WarmupPasses = 2

  /** `jitS` is the JIT compilers' time during the pass, summed over
    * compiler threads. */
  final case class PassRun(pass: Int, traced: Boolean, warmup: Boolean,
      wallS: Double, jitS: Double)

  final case class StepRun(pass: Int, step: String, key: String, ok: Boolean,
      wallS: Double, constructS: Double, driverCpuS: Double,
      persistedBytes: Long, error: String)

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/local")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def q(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' || c > '~' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
  private def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "null" else java.lang.Double.toString(x)

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "--workload")
    val input = arg(args, "--input")
    val work = arg(args, "--work")
    val out = arg(args, "--out")
    val cores = arg(args, "--cores").toInt
    val seconds = arg(args, "--seconds").toDouble
    val trace = arg(args, "--trace") == "1"
    val spawnNs = arg(args, "--spawn-ns").toLong

    // set-up: JVM start until the session is ready and the first scan is done
    val spark = session(cores, work)
    spark.read.parquet(s"$input/${Workloads.firstTable(workload)}.parquet")
      .write.format("noop").mode("overwrite").save()
    val setupS = (nowUs() * 1000L - spawnNs) / 1e9

    val sc = spark.sparkContext
    val steps = Workloads.steps(workload, spark, input, work)
    val threads = ManagementFactory.getThreadMXBean
    val spans = new Spans
    val root = spans.open(-1, "workload", workload)
    val tracer = if (trace) Some(new Tracer(spark)) else None
    val runs = mutable.ArrayBuffer.empty[StepRun]
    val passes = mutable.ArrayBuffer.empty[PassRun]
    val jit = ManagementFactory.getCompilationMXBean

    def runPass(pass: Int, traced: Boolean): Double = {
      val tr = tracer.filter(_ => traced)
      tr.foreach(_.attach())
      val ps = spans.open(root.id, "pass", s"pass$pass")
      val jit0 = jit.getTotalCompilationTime
      var total = 0.0
      steps.zipWithIndex.foreach { case (step, i) =>
        val key = s"$pass:$i"
        sc.setLocalProperty("perfbench.step", key)
        val ss = spans.open(ps.id, "step", step.name)
        tr.foreach(_.openStep(key, ss.start / 1000))
        val cpu0 = threads.getCurrentThreadCpuTime
        val t0 = System.nanoTime()
        var tc = t0
        val err = try {
          val cs = spans.open(ss.id, "construct", step.name)
          val df = try step.build() finally spans.close(cs)
          tc = System.nanoTime()
          val as = spans.open(ss.id, "action", step.name)
          try step.sink(df) finally spans.close(as)
          null
        } catch {
          case e: Throwable =>
            System.err.println(s"[perfbench] step ${step.name} of pass $pass failed: $e")
            e.toString
        }
        val wall = (System.nanoTime() - t0) / 1e9
        val cpu = (threads.getCurrentThreadCpuTime - cpu0) / 1e9
        spans.close(ss)
        sc.setLocalProperty("perfbench.step", null)
        val persisted =
          if (traced) sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum else 0L
        graft.operators.Dedup.releaseAllCaches(spark)
        if (err == null) total += wall
        runs += StepRun(pass, step.name, key, err == null, wall, (tc - t0) / 1e9,
          cpu, persisted, Option(err).getOrElse(""))
      }
      spans.close(ps)
      tr.foreach(_.detach())
      passes += PassRun(pass, traced, pass >= 1 && pass <= WarmupPasses, total,
        (jit.getTotalCompilationTime - jit0) / 1e3)
      total
    }

    // cold pass, then warm-up passes that are not measured (the JIT is
    // still compiling the hot paths; pass times fall steeply over them),
    // then measured warm passes for `seconds`. A traced run alternates
    // traced and untraced measured passes, so it also measures its overhead.
    runPass(0, traced = false)
    (1 to WarmupPasses).foreach(p => runPass(p, traced = false))
    val warmStart = System.nanoTime()
    val minWarm = if (trace) 4 else 3
    var pass = WarmupPasses + 1
    while (pass - WarmupPasses <= minWarm || (System.nanoTime() - warmStart) / 1e9 < seconds) {
      runPass(pass, trace && (pass - WarmupPasses) % 2 == 1)
      pass += 1
    }
    spans.close(root)
    val peakRssMb = {
      val line = scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
      line.split("\\s+")(1).toDouble / 1024.0
    }

    // untimed check pass: the outputs a sink does not leave in place.
    // A step that reads an earlier step's table reads the last warm pass's.
    val checkDir = Workloads.checkDir(work)
    steps.foreach { step =>
      for (name <- step.check; frame <- step.checkFrame) {
        try frame().coalesce(1).write.mode("overwrite").parquet(s"$checkDir/$name")
        catch {
          case e: Throwable =>
            System.err.println(s"[perfbench] check run of ${step.name} failed: $e")
        }
        graft.operators.Dedup.releaseAllCaches(spark)
      }
    }
    // a check whose output is missing is reported as a failure
    val oracle = steps.flatMap(_.check).map(n => n -> graft.SparkEntry.oracleSql(n))
    Files.createDirectories(Paths.get(checkDir))
    Files.writeString(Paths.get(s"$checkDir/oracle_sql.json"),
      oracle.map { case (k, v) => s"${q(k)}:${q(v)}" }.mkString("{", ",", "}"))

    val jobs = tracer.map(_.jobs.toSeq).getOrElse(Nil)
    val sb = new StringBuilder
    sb ++= s"""{"setup_s":${num(setupS)},"peak_rss_mb":${num(peakRssMb)},"""
    sb ++= s""""spark_version":${q(spark.version)},"java_version":${q(sys.props("java.version"))},"""
    sb ++= s""""master":${q(sc.master)},"shuffle_partitions":${q(spark.conf.get("spark.sql.shuffle.partitions"))},"""
    sb ++= s""""checks":${oracle.size},"""
    sb ++= "\"passes\":" + passes.map { p =>
      s"""{"pass":${p.pass},"traced":${p.traced},"warmup":${p.warmup},""" +
        s""""wall_s":${num(p.wallS)},"jit_s":${num(p.jitS)}}""" }.mkString("[", ",", "]") + ","
    sb ++= "\"runs\":" + runs.map { r =>
      val c = tracer.flatMap(_.counters.get(r.key))
      val counters = c.map(_.v.map { case (k, x) => s"${q(k)}:${num(x)}" }.mkString("{", ",", "}"))
        .getOrElse("{}")
      val trig = c.map(_.triggerMs.mkString("[", ",", "]")).getOrElse("[]")
      s"""{"pass":${r.pass},"step":${q(r.step)},"ok":${r.ok},"wall_s":${num(r.wallS)},""" +
        s""""construct_s":${num(r.constructS)},"driver_cpu_s":${num(r.driverCpuS)},""" +
        s""""persisted_bytes":${r.persistedBytes},"error":${q(r.error)},""" +
        s""""counters":$counters,"trigger_ms":$trig}"""
    }.mkString("[", ",", "]") + ","
    // job windows become spans under the construct or action of their step
    val stepSpan = spans.all.filter(_.kind == "step")
    val byKey = runs.map(_.key).zip(stepSpan).toMap
    val jobSpans = jobs.flatMap { j =>
      byKey.get(j.key).map { st =>
        val kids = spans.all.filter(s => s.parent == st.id)
        val parent = kids.find(k => j.start * 1000 >= k.start && j.start * 1000 <= k.end)
          .orElse(kids.lastOption).getOrElse(st)
        Span(-1, parent.id, "job", s"job${j.id}", j.start * 1000, math.max(j.end, j.start) * 1000)
      }
    }
    val allSpans = spans.all.toSeq ++ jobSpans.zipWithIndex.map { case (s, i) =>
      s.copy(id = spans.all.size + i) }
    sb ++= "\"spans\":" + allSpans.map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"kind":${q(s.kind)},"name":${q(s.name)},""" +
        s""""start":${s.start},"end":${s.end}}"""
    }.mkString("[", ",", "]")
    sb ++= "}\n"
    spark.stop()
    Files.writeString(Paths.get(out), sb.toString)
  }
}
