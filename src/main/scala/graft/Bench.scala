package graft
object Bench {
  /** Queries whose closures write through a sink (catalog tables,
    * filesystem artifacts, the partitioned ANN index) before reading the
    * result back. Their timings are IO-dominated by design — that is the
    * point of benchmarking a sink — so they are tagged and aggregated
    * separately: a compute regression should never hide inside (or be
    * faked by) filesystem variance. */
  private val SinkQueries = Set(
    "s1_csv_roundtrip", "s5_parquet_sink", "s6_json_single_file",
    "s7_csv_single_file", "s8_schema_merge", "s9_partition_prune",
    "etl_export", "j6_bucketed_join", "sim_topk_ivf_pruned",
    "sim_topk_ivf_append", "st_window_counts", "st_dedup", "s10_zorder",
    "dd_incremental_indexed", "s14_orc_roundtrip", "s17_parquet_bloom",
    "st_resume")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Optional name-regex filter (same contract as Verify's): a ladder
    // point too expensive for the full battery (sf100 at 4 executions ×
    // 210 queries is a working day) runs a documented subset instead —
    // the JSON's n_queries says how many, and the regression gate
    // already ignores runs whose sf differs from the baseline's.
    // SPARK_GRAFT_BENCH_SAMPLES (default 3) trades sample count for
    // wall-clock the same way; "samples" in the JSON reports it.
    val selected = SparkEntry.select(args.headOption)
    val nSamples = sys.env.get("SPARK_GRAFT_BENCH_SAMPLES")
      .map(_.toInt).getOrElse(3)
    require(nSamples >= 1, s"SPARK_GRAFT_BENCH_SAMPLES must be >= 1")
    val cpus = Session.cpus
    val spark = Session(cpus)
    // Warm the session (codegen, parquet footer reads) so the first timed
    // query isn't charged ~3s of one-time JVM/session startup.
    spark.read.parquet(s"$sfDir/region.parquet").count()
    // Steady-state timing: execute each query once unrecorded (JIT +
    // whole-stage-codegen class compilation for its plan), then time
    // THREE full fresh re-executions and report the MEDIAN. Plans are
    // rebuilt from scratch for every timed run, so all scans/shuffles/
    // aggregations re-execute — only JVM-level compilation is warm,
    // which is the steady state a long-lived cluster session runs in
    // ("warm":true marks the method). The median exists because
    // single-sample snapshots on a shared host manufactured phantom
    // per-query regressions (r6: 4.6s vs 0.9s on identical code); one
    // noise spike now lands in a discarded sample.
    //
    // Isolation + determinism (r7/r9 lesson): iteration is sorted by
    // name (`SparkEntry.select`) and every query's scratch state
    // (persisted frames, localCheckpoint RDDs, cached relations left by
    // the operators) is released after its samples. Without this, 187×4 executions in one session accumulated
    // scratch blocks until eviction pressure manufactured 2–6× phantom
    // regressions on unchanged code (r7 and r9 each had a different set).
    // Scratch releases after EVERY execution (warm-up and each timed
    // sample), not just per query: operators' persisted candidate frames
    // cache-hit across re-executions of the same plan, so without the
    // per-sample release runs 2-3 would measure warm-scratch — falsifying
    // the "all scans/shuffles re-execute" claim above for the dedup
    // family specifically.
    // Failures are STRUCTURAL, not log-only (r8 lesson: a throwing query
    // records the wall time of the failure — near zero — so breakage
    // silently DEFLATED the total). Any query whose warm-up or any timed
    // sample throws lands in "failed":[...] in both the detail file and
    // the stdout header, and the header carries "valid":false so the
    // driver/judge can never mistake a smaller total for a speedup.
    val failed = scala.collection.mutable.SortedSet.empty[String]
    val results = selected.map { case (name, fn) =>
      try { fn(spark, sfDir).count() } catch {
        case e: Throwable =>
          failed += name
          System.err.println(s"[bench] warm-up of $name failed: ${e.getMessage}")
      }
      graft.operators.Dedup.releaseAllCaches(spark)
      val times = Seq.fill(nSamples) {
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count() } catch {
          case e: Throwable =>
            failed += name
            System.err.println(s"[bench] timed run of $name failed: ${e.getMessage}")
        }
        val dt = (System.nanoTime() - t0) / 1e9
        graft.operators.Dedup.releaseAllCaches(spark)
        dt
      }.sorted
      // (median, min): median is the reported cost; min is what the
      // regression gate compares, because on a shared host a CPU-steal
      // window can inflate 2 of 3 samples (r11: an_pagerank median 14.1s
      // in one full-battery run vs a flat 3.1-4.0s series in isolation)
      // while a real code regression slows EVERY sample.
      // At big scale factors (sf10+) even 2-min periodic GC lets a few
      // multi-GB shuffle footprints coexist; the ladder runs set this to
      // force shuffle-file reclamation at every query boundary. Off by
      // default: a forced full GC between queries is wall-clock overhead
      // the regression-gated sf0.1 battery should not pay.
      if (sys.env.get("SPARK_GRAFT_GC_EACH_QUERY").contains("1")) System.gc()
      // One progress line per completed query: multi-hour ladder batteries
      // are otherwise silent at WARN until the final JSON, so a wedged or
      // dying run can only be diagnosed post-mortem (three sf30 attempts
      // learned this). stderr, like the failure lines.
      System.err.println(String.format(java.util.Locale.ROOT,
        "[bench] %s median=%.3fs min=%.3fs",
        name, Double.box(times(nSamples / 2)), Double.box(times.head)))
      name -> (times(nSamples / 2), times.head)
    }
    def fmt(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    def qjson(entries: Iterable[(String, Double)]): String =
      entries.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
        .mkString("{", ",", "}")
    val medians = results.map { case (k, (med, _)) => k -> med }
    val mins = results.map { case (k, (_, mn)) => k -> mn }
    val total = if (medians.nonEmpty) medians.map(_._2).sum else 0.0
    val sinkSec = medians.collect { case (k, v) if SinkQueries(k) => v }.sum

    // Regression gate: compare this run's per-query MINs against the
    // checked-in min-based per-query baseline (r11 rebaseline:
    // min-of-two-full-runs on the same host). A query regresses when it is both
    // >1.5x its baseline AND >0.3s absolute over it — the absolute floor
    // keeps sub-half-second shared-host noise (r10: a1_group_count
    // 0.12→0.37s on unchanged code) out of the gate while a real 2x on
    // anything that matters still trips it. Only applied when this run's
    // scale factor matches the baseline's — an sf1 run is not a
    // regression, it is a different experiment.
    val baselinePath = sys.env.getOrElse(
      "SPARK_GRAFT_BENCH_BASELINE", "BENCH_BASELINE_PERQ.json")
    val baseline: Map[String, Double] = try {
      val txt = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(baselinePath)), "UTF-8")
      val sfOk = """"sf"\s*:\s*"([^"]+)"""".r.findFirstMatchIn(txt)
        .forall(m => sfDir.endsWith(m.group(1)))
      if (!sfOk) Map.empty
      else """"([A-Za-z0-9_]+)"\s*:\s*([0-9]+\.[0-9]+)""".r
        .findAllMatchIn(txt)
        .map(m => m.group(1) -> m.group(2).toDouble).toMap
    } catch { case _: Throwable => Map.empty }
    // Gate on the MIN sample: all three samples must exceed the
    // threshold for a flag, so an isolated host-stall spike (which
    // inflates the median) cannot manufacture a regression, while a real
    // slowdown — present in every sample — still trips it.
    //
    // Two further defenses, both needed on this host (r11 measured ~16%
    // median steal with 2-3x localized windows on unchanged code):
    //  1. HOST FACTOR — the whole run may be uniformly slower than the
    //     machine that produced the baseline. The median min/baseline
    //     ratio over substantial (>0.3s) queries estimates that shift;
    //     the 1.5x threshold is applied on top of it (never below 1.0 —
    //     a fast host must not mask a regression).
    //  2. CONFIRMATION RE-RUN — a sustained contention window can cover
    //     several consecutive queries (iteration is sorted, so the
    //     window lands on an alphabetical block) and inflate all three
    //     samples at once. Each preliminary flag is re-run twice at the
    //     END of the battery, when that window has typically passed; the
    //     flag stands only if the merged min still exceeds the
    //     threshold. A real code regression reproduces in the re-run; a
    //     transient window does not.
    // Failed queries record near-zero wall times; including them in the
    // ratio set would drag the median toward 0 and suppress a legitimate
    // >1.0 host factor, re-enabling noise flags on a slow host — so they
    // are excluded. The factor is also CAPPED at 1.5x: an engine-wide
    // real regression (session config, shared operator) would otherwise
    // inflate the median ratio and scale the threshold up with itself,
    // letting a large uniform slowdown pass as "host shift". When the
    // raw factor exceeds the cap, host_factor_capped:true lands in the
    // JSON so the run reads as suspect rather than clean.
    val hostFactorRaw: Double = {
      val ratios = mins.collect {
        case (n, t) if !failed(n) && baseline.get(n).exists(_ > 0.3) =>
          t / baseline(n)
      }.sorted
      if (ratios.size < 8) 1.0 else math.max(1.0, ratios(ratios.size / 2))
    }
    val hostFactor = math.min(hostFactorRaw, 1.5)
    val hostFactorCapped = hostFactorRaw > 1.5
    def overThreshold(name: String, t: Double): Boolean =
      baseline.get(name).exists(b => t > b * 1.5 * hostFactor && t - b > 0.3)
    val prelim = mins.collect {
      case (name, t) if !failed(name) && overThreshold(name, t) => name -> t
    }
    val retried: Seq[(String, Double)] = prelim.map { case (name, batteryMin) =>
      val rerunMin = try {
        Seq.fill(2) {
          val t0 = System.nanoTime()
          SparkEntry.queries(name)(spark, sfDir).count()
          val dt = (System.nanoTime() - t0) / 1e9
          graft.operators.Dedup.releaseAllCaches(spark)
          dt
        }.min
      } catch { case _: Throwable => batteryMin } // re-run failure: keep flag
      name -> math.min(batteryMin, rerunMin)
    }
    val regressions = retried.collect {
      case (name, t) if overThreshold(name, t) => name
    }.sorted
    val unbaselined =
      if (baseline.isEmpty) Seq.empty[String]
      else medians.collect { case (name, _) if !baseline.contains(name) => name }.sorted
    def slist(names: Iterable[String]): String =
      names.map("\"" + _ + "\"").mkString("[", ",", "]")

    def header(extra: String): String =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","warm":true,""" +
        s""""samples":$nSamples,"agg":"median","n_queries":${medians.size},""" +
        s""""compute_sec":${fmt(total - sinkSec)},""" +
        s""""sink_sec":${fmt(sinkSec)},""" +
        s""""valid":${failed.isEmpty},"failed":${slist(failed)},""" +
        s""""regressions":${slist(regressions)},""" +
        s""""host_factor":${fmt(hostFactor)},""" +
        s""""host_factor_raw":${fmt(hostFactorRaw)},""" +
        s""""host_factor_capped":$hostFactorCapped,""" +
        // The r15 lesson: the round's committed artifact was captured in
        // a 1.22×-steal window (28 queries retried an order of magnitude
        // faster minutes later) and read as a regression at first sight.
        // A run taken under visible contention self-describes as suspect
        // so history is never silently polluted: re-run when quiet
        // before treating the numbers as a code signal.
        s""""contended":${hostFactorRaw > 1.1 || retried.nonEmpty},""" +
        s""""retried":${qjson(retried)},""" +
        s""""unbaselined":${slist(unbaselined)},$extra"sf":"$sfDir"}"""
    // FULL per-query detail + the sink tag list → the bench file (the
    // judge reads it; $SPARK_GRAFT_BENCH_OUT can point the driver at it).
    val sinkList = SinkQueries.toSeq.sorted.map("\"" + _ + "\"")
      .mkString("[", ",", "]")
    val fullJson = header(
      s""""queries":${qjson(medians)},"queries_min":${qjson(mins)},""" +
        s""""sink_queries":$sinkList,""")
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LOCAL.json")
    // The detail also lands in a per-core-count sibling (BENCH_LOCAL_c32
    // vs _c8): the r17 driver ran the 8-core scaling battery after the
    // 32-core one and the second overwrote the first's per-query detail,
    // leaving PERF_r17 with per_query: {} (r17 verdict item 6). Same
    // JSON, extra file name — the timed region and the stdout contract
    // are untouched.
    val outs = Seq(out,
      out.replaceAll("\\.json$", "") + s"_c$cpus.json").distinct
    outs.foreach { o =>
      try java.nio.file.Files.writeString(java.nio.file.Paths.get(o), fullJson + "\n")
      catch { case e: Throwable =>
        System.err.println(s"[bench] could not write $o: ${e.getMessage}")
      }
    }
    spark.stop()
    // stdout gets a MINIMAL line: the driver's log-tail capture window
    // is ~2 KB and every per-query variant to date (full map in r4/r5,
    // top-40 in r6) still truncated mid-JSON ("parsed": null). The
    // headline totals + top-10 fit in ~600 bytes with certainty; the
    // full per-query map is in the detail file above.
    val top = medians.sortBy(-_._2).take(10)
    val json = header(s""""top10":${qjson(top)},"detail":"$out",""")
    // printed LAST — after spark.stop()'s log chatter — so the line sits
    // intact at the very end of the driver's captured tail
    println(json)
  }
}
