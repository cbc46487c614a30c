package graft.plans

import org.apache.spark.sql.functions.{col, when}

import graft.SparkSpec

/** Physical-plan regression guards: correctness tests prove WHAT the
  * queries compute; these prove the plans keep the SHAPE that scales —
  * a silent regression to a shuffle where a broadcast belongs, or to a
  * full sort where a group-limit heap belongs, passes every value test
  * and then falls over at 100 TB. Shapes asserted on sf0.001 hold at
  * any SF (they depend on plan structure, not statistics thresholds —
  * the dimension tables stay broadcast-size by design).
  */
class PlanShapeSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    graft.SparkEntry.queries(name)(spark, dir)
      .queryExecution.executedPlan.toString

  test("SWEEP: no registered query ever plans a CartesianProduct") {
    // the global watchdog: a future edit that regresses any of the
    // engine's joins to a cartesian (a dropped join key, an
    // inequality-only condition) passes every value test and then
    // falls over at scale — catch it at plan time, across the WHOLE
    // registry. The three deliberately quadratic oracle baselines
    // run their cross products through broadcast nested-loop (tiny
    // fixed sides), so CartesianProduct specifically must never
    // appear. Queries whose driver-side preparation needs real data
    // (stored-artifact builds run eagerly) still just build plans
    // here — sf0.001 keeps the sweep inside test budget.
    val skip = Set.empty[String]
    val offenders = graft.SparkEntry.queries.keys.toSeq.sorted
      .filterNot(skip)
      .flatMap { name =>
        val p =
          try plan(name)
          catch { case e: Throwable => s"PLAN_FAILED: $e" }
        if (p.contains("CartesianProduct") || p.startsWith("PLAN_FAILED"))
          Some(name -> p.linesIterator.take(3).mkString(" | "))
        else None
      }
    withClue(offenders.map { case (n, p) => s"\n  $n: $p" }.mkString) {
      offenders shouldBe empty
    }
  }

  test("SWEEP: no partition-less window over an unbounded-cardinality frame") {
    // A WindowExec with an empty partitionSpec is a SINGLE TASK: fine
    // over a frame whose row count is fixed by construction (histogram
    // bins, a k-bounded heap output, a coarse-bucket prefix), fatal
    // over anything that grows with the corpus (q53's former
    // max-over-suppliers window). Two frames count as bounded
    // automatically: a window fed by a Final WindowGroupLimit (the
    // heap already cut the input to ≤ partitions×k rows), and the
    // explicit allowlist below — every entry's frame is a
    // POST-aggregate with corpus-independent cardinality.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
    val bounded = Set(
      "c5_histogram_quantiles", // frame = log-histogram bins (≤ 16·log2 span)
      "c10_stored_quantiles",   // same bins, served from the stored artifact
      "q46_revenue_gini",       // frame = per-supplier deciles (10 rows)
      "q47_binned_gini",        // frame = (bin, count, sum) aggregate rows
      // frame = one row per 4096-doc coarse bucket — the deliberate
      // two-level prefix-sum of TextOps.packPlan (bucketSize is the
      // scale knob; the per-doc cumsum below it is bucket-partitioned)
      "t16_sequence_pack")
    def flatten(p: SparkPlan): Seq[SparkPlan] = {
      val inner = p match {
        case a: AdaptiveSparkPlanExec => flatten(a.inputPlan)
        case other => other.children.flatMap(flatten)
      }
      (p +: inner) ++ p.subqueries.flatMap(flatten)
    }
    val offenders = graft.SparkEntry.queries.keys.toSeq.sorted
      .filterNot(bounded)
      .flatMap { name =>
        try {
          val root = graft.SparkEntry.queries(name)(spark, dir)
            .queryExecution.executedPlan
          val bad = flatten(root).collect {
            // bounded automatically when a WindowGroupLimit sits below:
            // the heap already cut the frame to ≤ groups×k rows
            // (groups = shuffle partitions, or a fixed salt domain for
            // the salted two-level ranks)
            case w: WindowExec if w.partitionSpec.isEmpty &&
              !flatten(w.child).exists(_.isInstanceOf[WindowGroupLimitExec]) => w
          }
          if (bad.nonEmpty) Some(s"$name: ${bad.head.nodeName}") else None
        } catch { case e: Throwable => Some(s"$name PLAN_FAILED: $e") }
      }
    withClue(offenders.mkString("\n")) { offenders shouldBe empty }
  }

  test("q79 clustering coefficient: ONE degree aggregate serves orientation and output") {
    // the degree table is computed once (pinned) and passed into
    // Triangles.perNode — the plan downstream of the pin must contain
    // NO Union: a Union reappearing here means the operator went back
    // to recomputing its own both-endpoints degree aggregate, one
    // redundant full-edge-list exchange per serve
    plan("q79_clustering_coefficient") should not include "Union"
  }

  test("q1 pricing summary: map-side partial aggregation before the shuffle") {
    val p = plan("q1_pricing_summary")
    p should include("partial_sum")
    // exactly one pre-agg exchange pair: partial then final
    p should include regex "HashAggregate.*functions=\\[sum"
  }

  test("q2 dimension joins broadcast, never shuffle") {
    val p = plan("q2_broadcast_join")
    p should include("BroadcastHashJoin")
    p should not include "SortMergeJoin"
  }

  test("top-k windows become bounded group-limit heaps, not global sorts") {
    for (q <- Seq("q8_topk_per_group", "v1_knn_topk")) {
      val p = plan(q)
      withClue(s"$q: ") {
        p should include("WindowGroupLimit")
        p should include regex "WindowGroupLimit.*Partial"
        p should include regex "WindowGroupLimit.*Final"
      }
    }
  }

  test("v1 knn broadcasts the query side against the streaming corpus") {
    val p = plan("v1_knn_topk")
    p should include("BroadcastNestedLoopJoin")
  }

  test("incremental window predicate reaches the parquet scan") {
    val p = plan("s2_incremental_window")
    p should include regex "FileScan parquet.*DataFilters: \\[isnotnull"
  }

  test("scans are column-pruned to what the query projects") {
    // q1 touches 7 of lineitem's 16 columns; the scan must not read more
    val p = plan("q1_pricing_summary")
    val read = "FileScan parquet \\[([^\\]]*)\\]".r
      .findFirstMatchIn(p).map(_.group(1).split(",").length).getOrElse(99)
    read should be <= 7
  }

  test("LWW single-pass aggregate shuffles once on the merge key") {
    val p = plan("a1_lww_latest_agg")
    "Exchange hashpartitioning".r.findAllIn(p).length shouldBe 1
  }

  test("LWW aggregate is a SortAggregate with partial_max_by before the exchange") {
    // max_by's struct buffer cannot be hash-aggregated; the map-side
    // combine survives as a partial SortAggregate below the shuffle
    import org.apache.spark.sql.catalyst.expressions.aggregate.{Final, Partial}
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.aggregate.SortAggregateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val root = graft.SparkEntry.queries("a1_lww_latest_agg")(spark, dir)
      .queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
    def maxBy(p: SparkPlan, mode: Any) = p match {
      case a: SortAggregateExec => a.aggregateExpressions.exists(e =>
        e.mode == mode && e.aggregateFunction.prettyName == "max_by")
      case _ => false
    }
    val shuffles = root.collect {
      case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[HashPartitioning] => e
    }
    shuffles should have size 1
    shuffles.head.child.find(maxBy(_, Partial)) shouldBe defined
    root.find(p => maxBy(p, Final) && p.find(_ eq shuffles.head).isDefined) shouldBe defined
  }

  test("as-of join plans as union + window — no join operator at all") {
    val p = plan("q12_asof_join")
    p should include("Union")
    p should not include "Join"
  }

  test("range join is an equi-join, never nested-loop or cartesian") {
    val p = plan("q13_range_join")
    p should not include "BroadcastNestedLoopJoin"
    p should not include "CartesianProduct"
  }

  test("IVF probes broadcast the codebook and query sides") {
    val p = plan("v6_ivf_knn")
    p should include("BroadcastHashJoin") // probed-cell members join
    p should include("WindowGroupLimit") // final top-k trim
  }

  test("heap top-k aggregate has a partial phase before its shuffle") {
    val p = plan("v7_knn_topk_agg")
    // ObjectHashAggregate partial_topkaggregator -> exchange -> final
    p should include regex "(?i)partial_?topkaggregator"
  }

  test("pivot is one hash-aggregate pass, not one scan per column") {
    val p = plan("q20_pivot")
    "FileScan".r.findAllIn(p).length shouldBe 1
    p should include("pivotfirst")
  }

  test("unpivot is one Expand over one scan, not a union of re-reads") {
    val p = plan("q24_unpivot")
    "FileScan".r.findAllIn(p).length shouldBe 1
    p should include("Expand")
    p should not include "Union"
  }

  test("star join: dims broadcast, region filter pushed, no cartesian") {
    val p = plan("q25_star_join")
    // the hinted nation/region dims broadcast regardless of stats;
    // whether orders/customer shuffle or broadcast is a size decision
    // (SMJ at real scale, BHJ at sf0.001) and deliberately unpinned
    "BroadcastHashJoin".r.findAllIn(p).length should be >= 2
    p should not include "CartesianProduct"
    p should include regex "PushedFilters: \\[[^\\]]*EqualTo\\(r_name,ASIA\\)"
  }

  test("interval-overlap join is an equi-join, never nested-loop or cartesian") {
    val p = plan("q27_interval_join")
    p should not include "BroadcastNestedLoopJoin"
    p should not include "CartesianProduct"
  }

  test("BM25 broadcasts df/corpus stats; only postings pay a hash exchange") {
    val p = plan("t11_bm25_search")
    // the two tiny aggregates (per-term df, corpus stats) join broadcast
    "BroadcastExchange".r.findAllIn(p).length should be >= 2
    p should not include "SortMergeJoin"
  }

  test("gap-fill reuses one key partitioning across agg, join, and fill window") {
    val p = plan("q28_gapfill")
    // obs aggregate, span aggregate, join, and window all hash by the
    // key (+ tick for the join); the final orderBy adds one range
    // exchange. No more than 4 hash exchanges may appear.
    "Exchange hashpartitioning".r.findAllIn(p).length should be <= 4
  }

  test("decontamination: corpus grams deduplicate with a partial phase map-side") {
    val p = plan("d12_decontamination")
    // the corpus-side distinct must collapse duplicate grams BEFORE its
    // exchange (partial aggregate), and the probe is a semi join
    p should include regex "(?i)leftsemi"
    p should not include "CartesianProduct"
  }

  test("correlated EXISTS decorrelates to a semi join; scalar subquery broadcasts") {
    val p = plan("q29_exists_subquery")
    p should include regex "(?i)leftsemi"
    p should include("Subquery") // the avg() scalar, evaluated once
    p should not include "CartesianProduct"
  }

  test("NOT EXISTS decorrelates to an anti join (no per-row subplan)") {
    val p = plan("q32_not_exists")
    p should include regex "(?i)leftanti"
    p should not include "CartesianProduct"
  }

  test("LATERAL ORDER BY + LIMIT decorrelates to a group-limit window, one join") {
    val p = plan("q36_lateral_topk")
    // Catalyst rewrites the per-row limited subquery into exactly the
    // window top-k form — never a per-row subplan or cross product
    p should include("Window")
    p should not include "CartesianProduct"
    "(?i)join".r.findAllIn(p).length shouldBe 1
  }

  test("recursive CTE plans as UnionLoop (iterative joins, no unrolled self-union)") {
    val p = plan("q34_recursive_cte")
    p should include("UnionLoop")
    p should not include "CartesianProduct"
  }

  test("correlated scalar aggregate decorrelates to one per-key aggregate + join") {
    val p = plan("q33_scalar_subquery")
    // the avg-per-partkey subquery must run as a standalone aggregate
    // joined back to the probe side — never a per-row subplan
    "(?i)hashaggregate".r.findAllIn(p.toLowerCase).length should be >= 1
    "(?i)join".r.findAllIn(p.toLowerCase).length should be >= 2
    p should not include "CartesianProduct"
  }

  test("value-based RANGE frame plans as one window pass (no join, no self-union)") {
    val p = plan("q30_range_frame")
    "Window".r.findAllIn(p).length should be >= 1
    p should not include "Join"
    "FileScan".r.findAllIn(p).length shouldBe 1
  }

  test("sliding windows expand map-side into one aggregate — no join, one scan") {
    val p = plan("q31_sliding_window")
    p should include("Expand")
    p should not include "Join"
    "FileScan".r.findAllIn(p).length shouldBe 1
  }

  test("AQE splits a skewed shuffle join at runtime (the engine's join-skew path)") {
    // SkewTools salts AGGREGATES deterministically; for JOINS the
    // engine leans on AQE's OptimizeSkewedJoin — this pins that the
    // runtime re-plan actually fires under our session shape.
    // Thresholds lowered to trigger at test scale; real scans hit the
    // defaults.
    val conf = spark.conf
    val keys = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> conf.getOption(k))
    try {
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "20KB")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "20KB")
      conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force shuffled join
      import spark.implicits._
      // one pathological key carries ~all fact rows
      val fact = spark.range(60000)
        .select(when(col("id") % 100 === 0, col("id")).otherwise(0L).as("k"),
          col("id").as("payload"))
      val dim = (0L until 1000L).map(k => (k, s"d$k")).toDF("k", "name")
      val j = fact.join(dim, "k")
      j.collect()
      val p = j.queryExecution.executedPlan.toString
      p should include("skew=true")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("runtime bloom filter prunes a shuffled fact-dim join at the scan") {
    // The 100 TB shape AQE's runtime filtering covers: a selective dim
    // filter spawns a bloom_filter_agg whose result is pushed into the
    // fact scan, so most fact rows die before the join's exchange.
    // Thresholds are lowered to fire at test scale; defaults fire at
    // real scans.
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold").map(k => k -> conf.getOption(k))
    try {
      conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force shuffled join
      val dir = java.nio.file.Files.createTempDirectory("bloom").toString
      spark.range(50000).select(col("id").as("fk"), (col("id") % 1000).as("x"))
        .write.parquet(s"$dir/fact")
      spark.range(2000).select(col("id").as("pk"), (col("id") % 7).as("f"))
        .write.parquet(s"$dir/dim")
      val j = spark.read.parquet(s"$dir/fact")
        .join(spark.read.parquet(s"$dir/dim").filter(col("f") === 3),
          col("fk") === col("pk"))
      j.collect()
      j.queryExecution.executedPlan.toString should include("bloom_filter_agg")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("multi-probe LSH: probe set broadcasts, top-k is a group-limit heap") {
    for (q <- Seq("v18_multiprobe_lsh", "v19_multiprobe_h2")) {
      val p = plan(q)
      withClue(s"$q: ") {
        p should include("BroadcastHashJoin") // corpus joins the broadcast probes
        p should not include "SortMergeJoin"
        p should include("WindowGroupLimit") // rank<=k never globally sorts
      }
    }
  }

  test("shard manifest aggregates with a map-side partial phase") {
    val p = plan("t22_shard_manifest")
    p should include("partial_count")
    p should include("partial_sum")
  }

  test("sliding distinct: observed-day grid broadcasts, dedupes have partial phases") {
    val p = plan("q37_sliding_distinct")
    p should include("BroadcastHashJoin") // left-semi against the day grid
    p should include("partial_count")
  }

  test("sliding HLL: register merge is a partial max before its exchange") {
    val p = plan("q38_sliding_hll")
    p should include("partial_max") // per-register fold combines map-side
  }

  test("edit join: segment-dictionary equi-joins — no cartesian, no nested loop") {
    val p = plan("d27_edit_join")
    p should not include "CartesianProduct"
    p should not include "BroadcastNestedLoopJoin"
  }

  test("edit screen: stored dictionaries join by key — no cartesian") {
    val p = plan("d28_edit_screen")
    p should not include "CartesianProduct"
    p should not include "BroadcastNestedLoopJoin"
    p should include("graft_index") // both dictionary sides are stored pieces
  }

  test("binned Gini: the rank window runs over bins, never the fact stream") {
    val p = plan("q47_binned_gini")
    // the only window sits above the (bin, count, sum) aggregate —
    // a hash aggregate precedes it in the plan
    p should include("Window")
    p should include("partial_sum") // fact stream folds map-side first
  }

  test("prefix join: store-served — a pairs-piece scan, no joins at serve time") {
    val p = plan("d23_prefix_join")
    p should not include "CartesianProduct"
    p should not include "BroadcastNestedLoopJoin"
    // d23 serves the persisted `pairs` merge piece: candidate
    // generation and verify ran at build/advance time, so the serve
    // plan is a parquet scan of the artifact (plus LWW resolution
    // only while unfolded delta generations exist)
    p should include("graft_index")
    p should not include "SortMergeJoin"
  }

  test("agg pushdown: COUNT/MIN/MAX answered from parquet footers") {
    val p = plan("q40_agg_pushdown")
    p should include("PushedAggregation: [COUNT(*)")
    p should include regex "PushedAggregation: \\[[^\\]]*MIN\\(l_quantity\\)"
  }

  test("Q21 shape: stacked EXISTS/NOT EXISTS plan as semi + anti self-joins") {
    val p = plan("q48_waiting_supplier")
    p should include regex "(?i)leftsemi"
    p should include regex "(?i)leftanti"
    p should include("BroadcastHashJoin") // supplier dim broadcasts
    p should not include "CartesianProduct"
    p should not include "BroadcastNestedLoopJoin"
    // three fact legs scan lineitem separately BY DESIGN: each leg is
    // column-pruned to ≤3 columns (orderkey/suppkey[/shipdate]), so
    // re-scan beats materializing the unpruned fact; all three legs
    // shuffle on the same l_orderkey and co-partition
    "FileScan".r.findAllIn(p).length should be <= 5
  }

  test("Q18 shape: HAVING set aggregates with a partial phase, then joins — no re-scan per candidate") {
    val p = plan("q49_big_orders")
    p should include("partial_sum") // fact folds map-side
    p should include("TakeOrderedAndProject") // order+limit never global-sorts
    p should not include "CartesianProduct"
  }

  test("Q17 shape: correlated scalar-avg decorrelates to ONE fact scan + window") {
    val p = plan("q50_small_qty_revenue")
    // the per-part threshold is a window over the part-filtered fact:
    // exactly one lineitem scan, no aggregate self-join
    "FileScan".r.findAllIn(p).length should be <= 2 // lineitem + part
    p should include("Window")
    p should include("BroadcastHashJoin") // part subset broadcasts
    p should not include "CartesianProduct"
  }

  test("Q22 shape: scalar avg broadcasts 1 row; dormancy is a pruned anti join") {
    val p = plan("q51_dormant_customers")
    p should include regex "(?i)leftanti"
    // the global average enters as a broadcast nested-loop over ONE
    // aggregate row, never a driver collect
    p should include("BroadcastNestedLoopJoin")
    // the date filter reaches the orders scan
    p should include regex "PushedFilters: \\[[^\\]]*GreaterThanOrEqual\\(o_orderdate"
    p should not include "CartesianProduct"
  }

  test("stored sketches: c7/c9/c10/c11 serve plans never scan the corpus") {
    for (q <- Seq("c7_corpus_card", "c9_stored_profile",
        "c10_stored_quantiles", "c11_stored_cms")) {
      val p = plan(q)
      withClue(s"$q: ") {
        p should include("graft_index") // artifact root
        p should not include "documents.parquet"
      }
    }
  }

  test("stored sliding HLL: window merges stored registers, never the event stream") {
    val p = plan("q52_stored_sliding_hll")
    p should include("graft_index")
    p should not include "events.parquet"
    // register merge folds map-side before its exchange
    p should include regex "partial_max|max#"
  }

  test("partition pruning: the month range prunes layout directories at plan time") {
    val p = plan("q55_partition_pruned")
    p should include("graft_part_lineitem") // multi-path Location truncates the full name
    p should not include "lineitem.parquet" // only the layout is read
    // the range predicate lands in PartitionFilters (directory-level
    // pruning), not in DataFilters (row-level, after the read)
    p should include regex "PartitionFilters: \\[isnotnull\\(ship_month"
  }

  test("DPP: broadcast dim months prune fact partitions at runtime") {
    val p = plan("q56_dpp_join")
    p should include("dynamicpruningexpression")
    p should include("BroadcastHashJoin")
    p should not include "CartesianProduct"
  }

  test("stored df top-k: serves the vocabulary artifact, never the corpus text") {
    val p = plan("t32_stored_df_topk")
    p should include("graft_index")
    p should not include "documents.parquet"
    p should include("TakeOrderedAndProject") // TopK, not a global sort
  }

  test("top supplier: global max broadcasts 1 row; no partition-less window") {
    val p = plan("q53_top_supplier")
    // the revenue view is checkpointed (one lineitem scan, at query
    // build); the serve plan reads the checkpoint twice with NO window
    // — the former Window.partitionBy() form planned a single-task
    // WindowExec over a frame that grows with |suppliers|
    p should not include "Window"
    // the =max membership test plans as a BroadcastHashJoin on the
    // 1-row aggregate (cents = mc is an equi-condition); supplier
    // broadcasts too — two broadcast joins, no shuffle join at all
    "BroadcastHashJoin".r.findAllIn(p).length should be >= 2
    p should include("partial_max") // the global max is two-phase
    "FileScan".r.findAllIn(p).length should be <= 1 // supplier only
    p should not include "CartesianProduct"
  }

  test("nation volume: dimension chains broadcast, one fact-fact exchange") {
    val p = plan("q54_nation_volume")
    p should not include "CartesianProduct"
    // the only sort-merge/shuffled-hash join is lineitem-orders on
    // orderkey; every dimension chain arrives broadcast
    val nonBroadcastJoins =
      "SortMergeJoin".r.findAllIn(p).length +
        "ShuffledHashJoin".r.findAllIn(p).length
    nonBroadcastJoins should be <= 1
    p should include("BroadcastHashJoin")
    // the shipdate range reaches the lineitem scan
    p should include("PushedFilters")
  }

  test("returned revenue: pruned star probe ends in a TopK, not a global sort") {
    val p = plan("q61_returned_revenue")
    p should include("TakeOrderedAndProject")
    p should include("BroadcastHashJoin")
    p should include("PushedFilters") // returnflag + date reach the scans
    p should not include "CartesianProduct"
  }

  test("runtime bloom: build-side keys filter the fact scan of the shuffle join") {
    val p = plan("q59_runtime_bloom")
    p should include("bloom_filter_agg") // build-side bloom aggregate
    p should include("might_contain")    // injected into the fact side
    p should include("SortMergeJoin")    // the shuffle-join case it exists for
  }

  test("audience overlap: three window estimates over stored registers, no event scan") {
    val p = plan("q58_audience_overlap")
    p should include("graft_index")
    p should not include "events.parquet"
    p should not include "CartesianProduct" // 1-row joins go BNLJ
  }

  test("Q2 shape: regional min is a KEY-partitioned window, one fact scan") {
    val p = plan("q62_regional_min_offer")
    // the correlated MIN decorrelates to a window partitioned by
    // partkey over the broadcast-filtered offers: one lineitem scan,
    // no materialized intermediate, no partition-less window
    "lineitem.parquet".r.findAllIn(p).length shouldBe 1
    p should include regex "Window.*l_partkey"
    p should include("BroadcastHashJoin")
    p should not include "CartesianProduct"
  }

  test("NOT IN plans as a NULL-AWARE anti join, never a per-row subplan") {
    val p = plan("q65_supplier_diversity")
    // the one decorrelation that is NOT a plain anti join: a NULL in
    // the subquery must empty the result, so Catalyst's single-key
    // broadcast null-aware variant must appear — BroadcastHashJoin's
    // trailing boolean is its isNullAwareAntiJoin flag
    p should include("LeftAnti, BuildRight, true")
    p should not include "CartesianProduct"
  }

  test("disjunctive predicate decomposes and pushes into both scans") {
    val p = plan("q66_disjunctive_promo")
    // each side's implied disjunction reaches its own scan: Or(...)
    // lands in the part scan's pushed filters; one scan per table
    p should include regex "PushedFilters: \\[[^\\]]*Or\\("
    "FileScan".r.findAllIn(p).length shouldBe 2
    p should include("BroadcastHashJoin")
    p should not include "CartesianProduct"
  }

  test("SF-growing sides degrade to shuffle joins when the broadcast threshold says so") {
    // the scale-safe property the de-hinted TPC-H family must keep:
    // no corpus-growing side (customer/part/supplier or their chains)
    // carries a FORCED broadcast hint — under bench-scale stats the
    // planner (and the stats-gated maybeBroadcast) still pick
    // broadcast (asserted by the per-query pins above), but when the
    // threshold says the side does NOT fit, the same queries must
    // plan shuffle joins instead of insisting on a broadcast that
    // would OOM at 100 TB. Only genuinely bounded sides (nation,
    // region, 1-row aggregates) may stay broadcast regardless.
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "1024")
    for (q <- Seq("q54_nation_volume", "q61_returned_revenue",
        "q62_regional_min_offer", "q63_value_share",
        "q66_disjunctive_promo",
        "q67_shipping_priority", "q68_local_supplier_volume",
        "q70_market_share", "q71_product_profit", "q73_promo_share")) {
      val df2 = graft.SparkEntry.queries(q)(s2, dir)
      val p = df2.queryExecution.executedPlan.toString
      withClue(s"$q (threshold=1KB): ") {
        // the growing sides now shuffle — proof no hint forces them
        p should include regex "SortMergeJoin|ShuffledHashJoin"
        p should not include "CartesianProduct"
      }
      // and the answer is the same plan-shape-independently
      val want = graft.SparkEntry.queries(q)(spark, dir)
        .collect().map(_.toString).sorted.toSeq
      withClue(s"$q values under shuffle plan: ")(
        df2.collect().map(_.toString).sorted.toSeq shouldBe want)
    }
  }

  test("q63 value-share: the twice-consumed aggregate reuses one exchange (one fact scan)") {
    // the per-part value view feeds both the result rows and the
    // global-total broadcast as IDENTICAL aggregate subtrees; AQE's
    // runtime stage reuse must dedup the shuffle so lineitem is
    // scanned once. Asserted on the FINAL adaptive plan (reuse is a
    // runtime property) at sf0.01 — sf0.001's empty result collapses
    // to EmptyRelation before any stage materializes.
    val df = graft.SparkEntry.queries("q63_value_share")(
      spark, "/root/testdata/sf0.01")
    df.collect().length should be > 0
    val p = df.queryExecution.executedPlan.toString
    withClue(s"final adaptive plan: ${p.linesIterator.take(30).mkString("\n")}")(
      p should include("ReusedExchange"))
  }

  test("q78 link prediction: keyed wedge self-join, broadcast degree joins, anti vs edges") {
    val p = plan("q78_link_prediction")
    // the wedge join is KEYED on the shared node (the dst inequality
    // rides as a post-condition, never a cartesian); degrees and the
    // adjacency-exclusion anti join stay keyed/broadcast
    p should include regex "(BroadcastHashJoin|SortMergeJoin) \\[src#\\d+L?\\], \\[src#\\d+L?\\]"
    p should include("LeftAnti")
    p should not include "CartesianProduct"
    p should not include "BroadcastNestedLoopJoin"
  }

  test("tfidf retrieval: query features broadcast, dot agg combines map-side") {
    val p = plan("v22_tfidf_knn")
    // both query-side joins (features on bucket, norms on query_id)
    // broadcast — the corpus features are never shuffled for the join
    "BroadcastHashJoin".r.findAllIn(p).length should be >= 2
    p should include("partial_sum") // per-(query,doc) dot partials
    p should include("WindowGroupLimit") // top-k is a bounded heap
  }
}
