package graft

import org.apache.spark.sql.execution.{GenerateExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec, ShuffleExchangeExec}

/** Plan-shape regression tests: the scale properties SCALE.md documents,
  * pinned as executable invariants. A change that un-pushes a filter,
  * drops a broadcast, or introduces a cartesian product fails here long
  * before it fails on a cluster.
  */
class PlanSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val d = "/root/testdata/sf0.001"

  private def planOf(name: String): SparkPlan = {
    val df = SparkEntry.queries(name)(spark, d)
    df.queryExecution.executedPlan
  }

  /** The cached relations `p` reads, directly or through other cached
    * relations, each once. */
  private def cachedRelations(p: SparkPlan): Seq[InMemoryRelation] = {
    def direct(q: SparkPlan) =
      collectWithSubqueries(q) { case im: InMemoryTableScanExec => im.relation }
    @annotation.tailrec
    def walk(todo: List[InMemoryRelation], seen: List[InMemoryRelation]): Seq[InMemoryRelation] =
      todo match {
        case Nil => seen.reverse
        case r :: rest if seen.exists(_.cacheBuilder eq r.cacheBuilder) => walk(rest, seen)
        case r :: rest => walk(direct(r.cacheBuilder.cachedPlan).toList ++ rest, r :: seen)
      }
    walk(direct(p).toList, Nil)
  }

  /** `pf` over `p` and over the plan of every relation it reads from the
    * cache, each cached plan once. */
  private def deepCollect[T](p: SparkPlan)(pf: PartialFunction[SparkPlan, T]): Seq[T] =
    collectWithSubqueries(p)(pf) ++
      cachedRelations(p).flatMap(r => collectWithSubqueries(r.cacheBuilder.cachedPlan)(pf))

  /** The executed (final adaptive) plan of query `name`, run to the end. */
  private def executedPlanOf(name: String): SparkPlan = {
    val df = SparkEntry.queries(name)(spark, d)
    df.collect()
    df.queryExecution.executedPlan
  }

  test("filter queries push predicates into the parquet scan") {
    val plan = planOf("p03_filter_eq").toString
    assert(plan.contains("PushedFilters: [IsNotNull(o_orderstatus), EqualTo(o_orderstatus,F)]"),
      s"filter not pushed to scan:\n$plan")
  }

  test("star-schema revenue query broadcasts its dimension joins") {
    val bhj = collectWithSubqueries(planOf("an_revenue_by_region")) {
      case j: BroadcastHashJoinExec => j
    }
    // nation and region are explicitly broadcast; orders/customer may
    // auto-broadcast at this fixture scale, so assert a lower bound
    assert(bhj.size >= 2, "expected nation+region broadcast joins")
  }

  test("near-dup candidate generation never plans a cartesian product") {
    Seq("dd_minhash_neardup", "dd_simhash_neardup", "dd_ngram_jaccard",
      "dd_cosine_neardup", "dd_incremental").foreach { q =>
      val cart = collectWithSubqueries(planOf(q)) {
        case c: CartesianProductExec => c
      }
      assert(cart.isEmpty, s"$q plans a cartesian product")
    }
  }

  test("ivf cell assignment is narrow: no shuffle below or beside the probe join") {
    val plan = planOf("sim_topk_ivf")
    val bhj = collectWithSubqueries(plan) { case j: BroadcastHashJoinExec => j }
    assert(bhj.nonEmpty, "expected broadcast probe join")
    // the old crossjoin×16 + row_number argmax put 2+ shuffles (and a
    // nested-loop join) BELOW the probe join; the narrow argmax leaves
    // only the top-k window + final sort — both above it
    val shuffles = collectWithSubqueries(plan) { case e: ShuffleExchangeExec => e }
    assert(shuffles.size <= 2,
      s"ivf gained shuffles below the probe join: ${shuffles.size}")
    val nlj = collectWithSubqueries(plan) {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
    }
    assert(nlj.isEmpty, "cell assignment regressed to a crossjoin")
  }

  test("ivf-pq gates candidates by cell: hash join on cent_id, no nested loop over the corpus") {
    val plan = planOf("sim_topk_ivfpq")
    val bhj = collectWithSubqueries(plan) { case j: BroadcastHashJoinExec => j }
    assert(bhj.nonEmpty, "expected a broadcast HASH probe join on cent_id")
    val nlj = collectWithSubqueries(plan) {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
    }
    assert(nlj.isEmpty,
      "PQ scoring regressed to an un-gated all-docs nested loop")
    val cart = collectWithSubqueries(plan) { case c: CartesianProductExec => c }
    assert(cart.isEmpty, "sim_topk_ivfpq plans a cartesian product")
  }

  test("ivf-pq refine fetches candidates by broadcast id join: no nested loop, no cartesian") {
    val plan = planOf("sim_topk_ivfpq_refined")
    val bhj = collectWithSubqueries(plan) { case j: BroadcastHashJoinExec => j }
    // ≥2 hash joins: the ADC probe join on cent_id + the candidate-id
    // fetch into the second scan (both broadcast; corpus never shuffles
    // below them)
    assert(bhj.size >= 2,
      s"expected broadcast hash joins for gate + candidate fetch, got ${bhj.size}")
    val nlj = collectWithSubqueries(plan) {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
    }
    assert(nlj.isEmpty, "refine fetch regressed to a nested loop over the corpus")
    val cart = collectWithSubqueries(plan) { case c: CartesianProductExec => c }
    assert(cart.isEmpty, "sim_topk_ivfpq_refined plans a cartesian product")
  }

  test("ivf partitioned-index readback prunes to the probed cell directories") {
    val plan = planOf("sim_topk_ivf_pruned").toString
    // the cell list prints as `IN (…)` or, past the InSet-conversion
    // threshold, `INSET …` — match the shared prefix
    val pruned = "PartitionFilters: \\[[^\\]]*cent_id[^\\]]* IN".r
      .findFirstIn(plan).isDefined
    assert(pruned,
      s"probed-cell predicate not in PartitionFilters:\n${plan.take(2000)}")
  }

  test("band-index readback prunes to the probed bucket-prefix directories") {
    val plan = planOf("dd_incremental_indexed").toString
    val pruned = "PartitionFilters: \\[[^\\]]*band_pfx[^\\]]* IN".r
      .findFirstIn(plan).isDefined
    assert(pruned,
      s"probed band-prefix predicate not in PartitionFilters:\n${plan.take(2000)}")
    val cart = collectWithSubqueries(planOf("dd_incremental_indexed")) {
      case c: CartesianProductExec => c
    }
    assert(cart.isEmpty, "dd_incremental_indexed plans a cartesian product")
  }

  test("interval join buckets candidates: equi-join, no nested loop") {
    val plan = planOf("ts_interval_join")
    val cart = collectWithSubqueries(plan) { case c: CartesianProductExec => c }
    assert(cart.isEmpty, "interval join plans a cartesian product")
    val nlj = collectWithSubqueries(plan) {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
    }
    assert(nlj.isEmpty,
      "interval join regressed to an inequality nested loop")
  }

  test("partitioned readback prunes to the filtered partition directory") {
    // assert the PREDICATE is inside the PartitionFilters list — the key
    // itself prints unconditionally (as []), so a bare substring check
    // would pass even after a pruning regression
    val plan = planOf("s9_partition_prune").toString
    val pruned = "PartitionFilters: \\[[^\\]]*o_orderstatus[^\\]]* = F\\)".r
      .findFirstIn(plan).isDefined
    assert(pruned,
      s"status predicate not in PartitionFilters:\n${plan.take(2000)}")
  }

  test("edit-distance dedup blocks pairs — no cartesian product") {
    val cart = collectWithSubqueries(planOf("dd_edit_distance")) {
      case c: CartesianProductExec => c
    }
    assert(cart.isEmpty, "dd_edit_distance plans a cartesian product")
  }

  test("hash sampling is a pushdown-transparent narrow filter") {
    val plan = planOf("ta_hash_sample")
    val shuffles = collectWithSubqueries(plan) { case e: ShuffleExchangeExec => e }
    // only the final presentation sort may exchange; the sample
    // predicate itself is a map-side filter
    assert(shuffles.size <= 1,
      s"hash sample gained shuffles: ${shuffles.size}")
  }

  test("sequence packing is one window shuffle plus the final sort") {
    val shuffles = collectWithSubqueries(planOf("ta_seq_pack")) {
      case e: ShuffleExchangeExec => e
    }
    assert(shuffles.size <= 2,
      s"seq_pack gained shuffles: ${shuffles.size}")
  }

  test("pretrain-mix bloom gate filters below the decontamination join") {
    // the gate must sit on the scan side — i.e. strictly BELOW the
    // broadcast join that makes the result exact — so at 100 TB only
    // ~fpp of the corpus grams ever reach the join
    val plan = planOf("llm_pretrain_mix")
    val gatedJoins = collectWithSubqueries(plan) {
      case j: BroadcastHashJoinExec
          if j.toString.contains("graft_bloom_contains") => j
    }
    // a gate planned ABOVE the join would sit in no join's subtree, so
    // subtree containment alone proves the scan-side placement
    assert(gatedJoins.nonEmpty,
      "no broadcast join has the bloom gate below it (scan side)")
  }

  test("AQE coalesces undersized shuffle partitions after a small aggregate") {
    // With 32 shuffle partitions, a fixture-sized groupBy would run 32
    // near-empty reduce tasks; AQE's coalescePartitions folds them into
    // a handful. At 100 TB the same machinery right-sizes every stage
    // to the ACTUAL map output instead of the static knob — this pins
    // that our aggregates stay eligible (no manual repartition blocking
    // the rule).
    import org.apache.spark.sql.functions.{col, count, lit}
    val df = spark.read.parquet(s"$d/orders.parquet")
      .groupBy("o_orderstatus").agg(count(lit(1)))
    df.collect() // AQE finalizes the plan only on execution
    val reads = collectWithSubqueries(df.queryExecution.executedPlan) {
      case r: org.apache.spark.sql.execution.adaptive.AQEShuffleReadExec => r
    }
    assert(reads.nonEmpty, "no AQEShuffleRead in the executed plan")
    val n = reads.head.partitionSpecs.size
    assert(n < 32, s"AQE did not coalesce: $n partitions")
  }

  test("selective fact-dim join stays eligible for runtime bloom-filter pruning") {
    // At 100 TB Spark's InjectRuntimeFilter turns a selective dim filter
    // into a bloom filter evaluated INSIDE the fact scan, cutting the
    // shuffle by the filter's selectivity. The rule only fires for plan
    // shapes with a selective filter-over-scan on the creation side and
    // a shuffle on the application side — this pins that our canonical
    // fact⋈dim shape keeps qualifying (thresholds are sized down to
    // fixture scale; the SHAPE, not the sizes, is what a refactor could
    // break).
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      import org.apache.spark.sql.functions.col
      val li = spark.read.parquet(s"$d/lineitem.parquet")
      val sel = spark.read.parquet(s"$d/orders.parquet")
        .filter(col("o_orderpriority") === "1-URGENT")
      val plan = li.join(sel, col("l_orderkey") === col("o_orderkey"))
        .queryExecution.optimizedPlan.toString
      assert(plan.contains("might_contain"),
        s"runtime bloom filter not injected:\n$plan")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("top-k per group plans a WindowGroupLimit below the shuffle") {
    val plan = planOf("an_topk_per_group")
    val limits = collectWithSubqueries(plan) {
      case w: org.apache.spark.sql.execution.window.WindowGroupLimitExec => w
    }
    // InferWindowGroupLimit plants a Partial limit below the exchange
    // and a Final above it: each map task ships ≤ k rows per group
    // instead of the whole table
    assert(limits.size >= 2,
      s"rank-limit pushdown not inferred (got ${limits.size} WindowGroupLimitExec):\n$plan")
    assert(limits.exists(_.mode.toString.contains("Partial")),
      "no partial (pre-shuffle) WindowGroupLimit")
  }

  test("single-pass rollup aggregates with exactly one pre-window shuffle pair") {
    val shuffles = collectWithSubqueries(planOf("etl_rollup")) {
      case e: ShuffleExchangeExec => e
    }
    // fixture rebalance + groupBy exchange + per-demographic window
    // exchange + final sort: anything beyond that is a regression
    assert(shuffles.size <= 4,
      s"rollup gained extra shuffles: ${shuffles.size}")
  }

  test("BPE encode is one narrow codegen pass: agg exchange + sort only") {
    val plan = planOf("ta_bpe_encode")
    val shuffles = collectWithSubqueries(plan) { case e: ShuffleExchangeExec => e }
    // scan → tokenize-explode → replace chain → partial agg | exchange |
    // final agg | sort exchange — the replace chain itself must add NO
    // shuffle and NO join
    assert(shuffles.size <= 2,
      s"BPE encode gained shuffles (replace chain no longer narrow): ${shuffles.size}")
    val joins = collectWithSubqueries(plan) {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }
    assert(joins.isEmpty, "BPE encode should not join — merges are literals")
  }

  test("SQL front door plans identically to the DataFrame path (modulo ids)") {
    import org.apache.spark.sql.functions._
    // the s16 SQL rollup vs the same query written against the DataFrame
    // API: after view resolution both must optimize to the SAME physical
    // plan — SQL entry is a parse path, not a materialization penalty.
    // Compare executed-plan strings with expression/plan ids normalized
    // (ids are mint-order artifacts, not plan shape).
    val sqlDf = SparkEntry.queries("s16_sql_entry")(spark, d)
    val r = graft.queries.Tables.t(spark, d, "region")
    val n = graft.queries.Tables.t(spark, d, "nation")
    val c = graft.queries.Tables.t(spark, d, "customer")
    val apiDf = r.join(n, n("n_regionkey") === r("r_regionkey"))
      .join(c, c("c_nationkey") === n("n_nationkey"))
      .groupBy(r("r_name").as("region_name"))
      .agg(countDistinct(n("n_nationkey")).as("n_nations"),
        count(lit(1)).as("n_customers"),
        round(sum(c("c_acctbal")), 2).as("total_acctbal"))
      .orderBy("region_name")
    def shape(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.executedPlan.toString
        .replaceAll("#\\d+", "#x")
        .replaceAll("plan_id=\\d+", "plan_id=x")
        .replaceAll("\\[id=#x\\]", "")
    assert(shape(sqlDf) == shape(apiDf),
      s"SQL and DataFrame plans diverged:\n--- SQL ---\n${shape(sqlDf)}\n" +
        s"--- API ---\n${shape(apiDf)}")
  }

  test("PMI joins its unigram sides as broadcasts; span dedup plans no cartesian") {
    val bhj = collectWithSubqueries(planOf("ta_pmi")) {
      case j: BroadcastHashJoinExec => j
    }
    assert(bhj.size >= 2, "expected the two unigram-count broadcast joins")
    Seq("dd_span_dedup", "an_triangles", "an_attribution_linear").foreach { q =>
      val cart = collectWithSubqueries(planOf(q)) {
        case c: CartesianProductExec => c
      }
      assert(cart.isEmpty, s"$q plans a cartesian product")
      val nlj = collectWithSubqueries(planOf(q)) {
        case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
      }
      assert(nlj.isEmpty, s"$q plans a nested-loop join")
    }
  }

  test("span dedup runs the shingle kernel once: one scan feeds the dup " +
    "window, one the reassembly (the r17 skew A/B's measured contract)") {
    // The r16 ADVICE flagged the bare fp window's skew slab and sketched
    // a salted two-phase count; r17 built and measured it: the salted
    // plan re-runs the tokenize+shingle+md5 kernel in both consumers
    // (+57 % at sf0.1, +45 % at sf10 — SCALE.md r17), so the committed
    // form keeps the single-kernel window and documents the spillable
    // skew ceiling. This pins it: exactly TWO document scans — the
    // shingle kernel's and the complement-reassembly's — so a rewrite
    // that silently adds a third (a second kernel pass) fails here
    // before it costs half the query at every scale.
    // the query's result is scratch-persisted, so the heavy pipeline
    // lives inside an InMemoryRelation — collect must hop through the
    // cached plan (collectWithSubqueries alone sees zero scans)
    val plan = planOf("dd_span_dedup")
    val scans = deepCollect(plan) {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => s
    }
    assert(scans.size == 2,
      s"dd_span_dedup should scan documents exactly twice, got ${scans.size}")
    // and the dup-count window partitions on the raw fingerprint (the
    // single-kernel form's signature; the salted form partitioned on
    // (fp, salt) and paid the second kernel)
    val wins = deepCollect(plan) {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(wins.exists(_.partitionSpec.length == 1),
      "expected the bare-fp dup-count window")
  }

  test("LSH/PQ encode stay fused: one kernel call, never per-plane dot trees") {
    // the pre-fusion formulations put tables×planes graft_dot calls (LSH)
    // / subspaces×cents struct subtrees (PQ) into the per-row projection —
    // the 100× ladder point's dominant term; a regression re-inlining them
    // shows up as graft_dot back in these plans
    val lsh = planOf("sim_topk_lsh").toString
    assert(lsh.contains("graft_lsh_sigs"), s"fused LSH kernel missing:\n$lsh")
    // the norm + score dots are legitimate (a handful); 8 planes × 4
    // tables re-inlined would put 32+ back
    assert("graft_dot\\(".r.findAllIn(lsh).size <= 8,
      "sim_topk_lsh re-inlined per-plane dot products")
    val pq = planOf("sim_topk_pq").toString
    assert(pq.contains("graft_pq_encode"), s"fused PQ kernel missing:\n$pq")
    assert(!pq.contains("array_min"),
      "sim_topk_pq regressed to the array_min struct-tree encode")
  }

  test("IVF cell assignment stays fused: one kernel call, never a sorted " +
    "tree of per-centroid literal structs") {
    // the pre-fusion form built sort_array(array(struct(negsim, cent_id)))
    // over one 64-double literal per centroid; its generated class grew
    // with k × dims (48.8 KB for sim_topk_ivf_trained's stage)
    val cellTree = "sort_array\\(array\\(named_struct\\(negsim".r
    Seq("sim_topk_ivf", "sim_topk_ivf_trained", "sim_topk_ivfpq",
      "sim_topk_ivfpq_refined", "sim_topk_ivf_pruned").foreach { q =>
      val plan = planOf(q).toString
      assert(plan.contains("graft_ivf_topp"), s"$q: fused IVF kernel missing")
      assert(cellTree.findFirstIn(plan).isEmpty,
        s"$q regressed to the sort_array cell-struct tree")
    }
  }

  test("sim_* whole-stage codegen stages stay under 16 KB of source") {
    // Every sim_* query whose largest stage was under the ceiling when
    // it was set (sf0.001). Named exceptions, not a reason to raise the
    // bound: the PQ-LUT plans (sim_topk_pq, sim_topk_ivfpq*) inline
    // subspaces × cents literal dot products per probe (64-67 KB), and
    // sim_topk_lsh / sim_twolevel_assign sit at 24 KB.
    Seq("sim_knn_graph", "sim_probed_assign", "sim_recall_report",
      "sim_topk_brute", "sim_topk_ivf", "sim_topk_ivf_append",
      "sim_topk_ivf_pruned", "sim_topk_ivf_trained").foreach { q =>
      val df = SparkEntry.queries(q)(spark, d)
      df.collect()
      val stages = collectWithSubqueries(df.queryExecution.executedPlan) {
        case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
      }
      assert(stages.nonEmpty, s"$q: expected whole-stage codegen stages")
      stages.foreach { w =>
        val chars = w.doCodeGen()._2.body.length
        assert(chars < 16 * 1024,
          s"$q codegen stage ${w.codegenStageId} is $chars chars of source")
      }
    }
  }

  test("minhash verify family stays within its plan budget: exchanges and " +
    "cached relations in the executed plan") {
    // Ceilings are the executed counts at this fixture (local[2]); an
    // Exchange is a shuffle or a broadcast, a ReusedExchange is neither.
    // dd_cluster and dd_canonical_stats read checkpointed labels, so
    // their budget covers only the plan after the checkpoint.
    val budget = Map( // query -> (exchanges, cached relations)
      "dd_minhash_neardup" -> (5, 0),
      "dd_minhash_capped" -> (7, 0),
      "dd_cluster" -> (1, 0),
      "dd_canonical_stats" -> (5, 0),
      "dd_ngram_jaccard" -> (5, 0),
      "dd_incremental" -> (8, 1),
      "dd_incremental_indexed" -> (7, 1))
    val got = budget.keys.toSeq.sorted.map { q =>
      val plan = executedPlanOf(q)
      q -> (deepCollect(plan) { case e: Exchange => e }.size, cachedRelations(plan).size)
    }.toMap
    budget.foreach { case (q, (ex, im)) =>
      assert(got(q)._1 <= ex && got(q)._2 <= im,
        s"$q: ${got(q)._1} exchanges / ${got(q)._2} cached relations, budget $ex / $im " +
          s"(all: $got)")
    }
    // the bucket-cap join is hinted, so AQE cannot broadcast its cap side
    // on one run and shuffle it on the next: a second plan counts the same
    val again = deepCollect(executedPlanOf("dd_minhash_capped")) { case e: Exchange => e }.size
    assert(again == got("dd_minhash_capped")._1,
      s"dd_minhash_capped: $again exchanges, then ${got("dd_minhash_capped")._1}")
  }

  test("minhash runs each text kernel once, and its documents exchange " +
    "serves both the banding kernel and the verify join") {
    val plan = executedPlanOf("dd_minhash_neardup")
    val kernels = deepCollect(plan) {
      case g: GenerateExec
          if g.generator.exists(_.isInstanceOf[graft.expressions.ShingleBands]) => g
    }
    // one banding pass over the corpus + one verify pass over candidates;
    // the bucket self-join's second side and the verify join's documents
    // side both read exchanges that already ran
    assert(kernels.size == 2, s"expected 2 kernel Generates, got ${kernels.size}")
    assert(deepCollect(plan) { case r: ReusedExchangeExec => r }.size >= 2,
      "expected the band and documents exchanges to be reused")
  }

  test("the text kernels rebalance an under-split scan, never a frame " +
    "already spread by an exchange") {
    import org.apache.spark.sql.catalyst.plans.logical.RepartitionOperation
    import org.apache.spark.sql.functions.col
    def rebalanced(df: org.apache.spark.sql.DataFrame) =
      graft.operators.Dedup.withShinglesAndSigs(df, "doc_id", "text", 3, 2)
        .queryExecution.analyzed.collect { case r: RepartitionOperation => r }.nonEmpty
    val docs = graft.queries.Tables.documents(spark, d)
    // a one-file scan is under-split (local[2]) and is rebalanced ...
    assert(rebalanced(docs.filter(col("doc_id") > 0)))
    // ... a frame downstream of a join is spread by the join's exchange
    // (its inputFiles still list the documents file)
    val joined = docs.join(docs.select("doc_id").filter(col("doc_id") % 7 === 0), "doc_id")
    assert(!rebalanced(joined), "post-join frame rebalanced again")
  }
}
