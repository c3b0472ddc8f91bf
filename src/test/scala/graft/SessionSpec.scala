package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The one session factory, the single-query probe that runs on it, and
  * the guards that keep session building, scratch paths and the shuffle
  * width conf each in one place. */
class SessionSpec extends SparkSpec {

  private val Sf = "/root/testdata/sf0.001"

  test("the shared test session is built through Session") {
    val conf = spark.sparkContext.getConf
    assert(conf.get("spark.master") == "local[2]")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.ui.enabled") == "false")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "2")
    assert(conf.get("spark.cleaner.periodicGC.interval") == "2min")
  }

  /** The `src/main/scala` files, relative and sorted, whose text matches
    * `pattern`. */
  private def mainSourcesMatching(pattern: String): Seq[String] = {
    val root = Paths.get("src/main/scala")
    val re = pattern.r
    Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .filter(p => re.findFirstIn(new String(Files.readAllBytes(p), "UTF-8")).isDefined)
      .map(root.relativize(_).toString).toSeq.sorted
  }

  test("only graft/Session.scala builds a SparkSession in src/main") {
    assert(mainSourcesMatching("SparkSession\\.builder") == Seq("graft/Session.scala"))
  }

  test("only graft/Artifacts.scala reads java.io.tmpdir in src/main") {
    assert(mainSourcesMatching("java\\.io\\.tmpdir") == Seq("graft/Artifacts.scala"))
  }

  test("no src/main file makes a temp file or dir outside Artifacts' roots") {
    assert(mainSourcesMatching("createTempDirectory|createTempFile").isEmpty)
  }

  test("StreamingQueries.runStream is the one place that awaits a stream") {
    assert(mainSourcesMatching("awaitTermination") ==
      Seq("graft/queries/StreamingQueries.scala"))
    val src = new String(Files.readAllBytes(
      Paths.get("src/main/scala/graft/queries/StreamingQueries.scala")), "UTF-8")
    assert("awaitTermination".r.findAllMatchIn(src).size == 1)
    val runner = src.indexOf("def runStream(")
    val await = src.indexOf("awaitTermination")
    assert(runner >= 0 && await > runner &&
      src.indexOf("\n  }\n", runner) > await,
      "awaitTermination must sit inside runStream")
  }

  test("only the mains, Session and the etl config read the environment in src/main") {
    assert(mainSourcesMatching("sys\\.env|System\\.getenv") == Seq("graft/Bench.scala",
      "graft/Probe.scala", "graft/Session.scala", "graft/queries/EtlQueries.scala"))
  }

  test("MaxDriverCells is compared in exactly one method, the blocking step") {
    val comparison = "(?i)[<>]=?\\s*(\\w+\\.)*maxDriverCells\\b|\\bmaxDriverCells\\s*[<>]".r
    assert(mainSourcesMatching(comparison.regex) == Seq("graft/operators/Similarity.scala"))
    val src = new String(Files.readAllBytes(
      Paths.get("src/main/scala/graft/operators/Similarity.scala")), "UTF-8")
    val hits = comparison.findAllMatchIn(src).map(_.start).toSeq
    assert(hits.size == 1, s"${hits.size} MaxDriverCells comparisons")
    val method = "\\n  def (\\w+)".r.findAllMatchIn(src.take(hits.head)).toSeq.last.group(1)
    assert(method == "cellBlocked")
  }

  test("only Session and Parallelism set spark.sql.shuffle.partitions in src/main") {
    assert(mainSourcesMatching(
      "\"spark\\.sql\\.shuffle\\.partitions\"|SQLConf\\.SHUFFLE_PARTITIONS") ==
      Seq("graft/Session.scala", "graft/operators/Parallelism.scala"))
  }

  test("only Iterate derives a loop width or truncates lineage in src/main") {
    assert(mainSourcesMatching("Parallelism\\.forRows\\(|Checkpointer\\.truncate\\(") ==
      Seq("graft/operators/Iterate.scala"))
    // one width scope each: the fixpoint driver, materialize, runStream
    // and an_pagerank's pair-width wrapper
    val root = Paths.get("src/main/scala")
    val scopes = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
      .flatMap(p => Files.readAllLines(p).asScala.map(_.trim)
        .filterNot(l => l.startsWith("//") || l.startsWith("*"))
        .filter(l => l.contains("withShufflePartitions(") &&
          !l.contains("def withShufflePartitions"))
        .map(_ => root.relativize(p).toString))
      .sorted
    assert(scopes == Seq("graft/operators/Iterate.scala",
      "graft/operators/Parallelism.scala", "graft/queries/Analytics.scala",
      "graft/queries/StreamingQueries.scala"))
  }

  test("Probe bench-one, profile and explain run on a given session and leave it running") {
    assume(new java.io.File(s"$Sf/customer.parquet").exists())
    val rows = SparkEntry.queries("a1_group_count")(spark, Sf).count()
    val bench = Probe.run(spark, "bench-one", "a1_group_count", 1, Sf)
    assert(bench.startsWith("""{"query":"a1_group_count","samples":["""), bench)
    assert(bench.contains(""""construct":[""") && bench.contains(""""execute":["""), bench)
    assert(bench.contains(s""""rows":$rows,"""), bench)
    val profile = Probe.run(spark, "profile", "a1_group_count", 1, Sf)
    assert(profile.contains(s", $rows rows, "), profile)
    assert(profile.contains("driver gap"), profile)
    // the codegen line sits under the job table, after the driver-gap line
    val codegenLine = """== codegen: \d+ classes compiled \(\d+ ms\); warm-up \d+ \(\d+ ms\) ==""".r
    assert(profile.linesIterator.toSeq.lastOption.exists(codegenLine.matches), profile)
    val plan = Probe.run(spark, "explain", "a1_group_count", 1, Sf)
    assert(plan.contains("== Physical Plan =="), plan)
    // AQE map-stage jobs run on a pool thread; they are labeled by their
    // SQL execution, not by that thread's call site
    val iterative = Probe.run(spark, "profile", "an_bfs_hops", 1, Sf)
    assert(iterative.contains("driver gap"), iterative)
    assert(!iterative.contains("CompletableFuture"), iterative)
    assert(!spark.sparkContext.isStopped)
  }

  test("Probe rejects a bad mode, query or sample count before building a session") {
    assert(!spark.sparkContext.isStopped) // a session Probe.main would reuse and stop
    Seq(Array.empty[String], Array("nope", "a1_group_count"),
      Array("bench-one", "no_such_query"), Array("profile"),
      Array("bench-one", "a1_group_count", "0")).foreach { args =>
      val e = intercept[IllegalArgumentException](Probe.main(args))
      assert(e.getMessage.contains(Probe.Usage))
    }
    assert(!spark.sparkContext.isStopped)
  }

  test("Verify rejects a filter that matches nothing before writing anything") {
    val out = Files.createTempDirectory("graft-verify").resolve("out")
    intercept[IllegalArgumentException](
      Verify.main(Array(Sf, out.toString, "^no_such_query$")))
    assert(!Files.exists(out))
    assert(!spark.sparkContext.isStopped)
  }
}
