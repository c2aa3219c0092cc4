package graft

import graft.SparkSpec

/** Cross-registry plan audit: no query may plan a CartesianProduct or
  * BroadcastNestedLoopJoin — the two operators that mean "this join has
  * no key and will not survive a 100× scale-up". Locks in the plan-shape
  * discipline permanently: any future operator that quietly degrades to a
  * nested loop fails here, not in a production run.
  */
class PlanAuditSpec extends SparkSpec {

  /** Queries whose BUILDER runs eager work (streams, iterative loops,
    * fixture writes) — constructing their final DataFrame executes jobs,
    * so they are audited by their own operator specs instead of here.
    */
  private val eagerBuilders =
    Set("stream_dedup", "stream_windows", "stream_sessions", "stream_seen",
      // round-9 streaming gates (runToMemory in the builder) + the
      // fhir_scale gate (eager collect + unpersist of the corpus cache)
      "stream_asof", "stream_locf", "stream_fhir", "stream_join", "fhir_scale",
      "stream_drift", "stream_anomaly", "stream_topk", "stream_transitions",
      "stream_neardup", "stream_cdc",
      // round-13/14 transformWithState twins (runToMemory on RocksDB)
      "stream_neardup_tws", "stream_cdc_tws", "stream_episodes_tws",
      "stream_locf_tws", "stream_transitions_tws",
      // round-15 event-time eviction gates (stage chunks + runToMemory)
      "stream_locf_et", "stream_cdc_et", "stream_episodes_et",
      "stream_transitions_et", "stream_locf_et_tws", "stream_episodes_et_tws",
      // round-16 TWS matrix completions + the round-18 checkpoint-restart
      // gate (two full drains through the file sink in the builder)
      "stream_cdc_et_tws", "stream_transitions_et_tws",
      "stream_locf_et_tws_restart", "stream_episodes_et_tws_restart",
      // round-19 third restart cell (same two-incarnation file-sink drain)
      "stream_cdc_et_tws_restart",
      "dedup_clusters",
      // builder runs the same min-label CC loop (per-round actions)
      "leakage_split",
      // builder runs the history Bloom aggregate (sketch to driver)
      "dedup_incremental",
      // builders run Lloyd codebook training (K×dim codebook to driver,
      // broadcast-footprint class — same pattern as the Bloom sketch);
      // the r19 IVFADC gates train the coarse codebook AND the per-cell
      // residual PQ codebooks in the builder
      "ann_ivf", "ann_ivf_recall", "ann_ivfpq", "ann_ivfpq_recall",
      // builders write the JSONL/CSV/parquet exports before reading them
      // back; schema_merge's snapshots live at a stable path under target/ (the oracle
      // reads the same files), so auditing it here would clobber a
      // concurrent Verify run's export mid-compare
      "jsonl_roundtrip", "csv_roundtrip", "csv_roundtrip_docs",
      "schema_merge",
      // builder stages the media-file fixture directory (one .mp4 per
      // doc id) before the binaryFile read
      "media_binaryfile",
      // builders stage the five Spark-written lake fixture files before
      // the binaryFile read (r19)
      "lake_footer_census", "lake_footer_tail",
      // builder writes the supplier table into embedded Derby (JDBC DDL
      // + batch insert) before the stride read-back
      "jdbc_roundtrip",
      // builder registers the six FHIR tables as external parquet tables
      // (saveAsTable + ANALYZE) before the SQL-by-name read-back
      "catalog_roundtrip",
      // builder iterates connected components (actions per round)
      "embed_clusters")

  /** Queries that DELIBERATELY plan a BroadcastNestedLoopJoin: each is a
    * brute-force scoring pass of the full corpus against a provably-small
    * BROADCAST side, which is exactly "scan once, score in the mapper" —
    * the right plan for that semantics. The audit still forbids BNLJ
    * anywhere else (and CartesianProduct everywhere): the danger is a
    * keyless join of two LARGE sides, not a broadcast cross.
    */
  private val intentionalBroadcastCross = Map(
    "similarity_topk" -> "exact baseline: corpus × broadcast query set",
    "hard_negatives" -> "same broadcast/rank plan as similarity_topk with the near-positive band filtered",
    "ann_recall" -> "contains the exact ground-truth side (corpus × broadcast queries)",
    "ann_lsh_scaled" -> "same: recall gate carries the exact ground-truth side",
    "ann_rp_recall" -> "two bruteForceTopK passes (full + reduced space), each corpus × broadcast queries",
    "ann_ivf" -> "centroid assignment: corpus × broadcast codebook",
    "ann_ivf_recall" -> "both of the above",
    "ann_quantized_recall" -> "compressed-domain brute force × broadcast queries, plus the exact side",
    "ann_pq_recall" -> "exact ground-truth side (corpus × broadcast queries); the ADC scan itself is a hash join on (subspace, code)",
    "source_overlap" -> "group-pair size cross: rows = #groups², two longs each",
    "bm25_topk" -> "corpus-stats cross: matching docs × ONE broadcast stats row",
    "hybrid_topk" -> "embeds both: bm25 stats cross + exact-cosine corpus × broadcast query",
    "embed_kmeans" -> "centroid assignment: corpus × broadcast codebook (same as ann_ivf)",
    "semdedup" -> "centroid assignment: corpus × broadcast codebook; the within-cluster prune join itself is a hash join on cluster_id",
    "temperature_mixture" -> "per-group targets × ONE broadcast n_min row (groups-sized, not data-sized)",
    "drift_psi" -> "bins+2 rows × TWO one-row broadcast histogram totals",
    "drift_jsd" -> "bins+2 rows × TWO one-row broadcast histogram totals",
    "category_drift" -> "categories × THREE one-row broadcast totals (counts + union size)",
    "ks_drift" -> "distinct values × ONE one-row broadcast totals frame (the prefix-sum offsets join is hash, not cross)",
    "neardup_triangles" -> "THREE one-row aggregate frames crossed into the single summary row",
    "pmi_collocations" -> "filtered pair counts × ONE broadcast bigram-total row",
    "basket_lift" -> "floored pair counts × ONE broadcast basket-total row",
    "fhir_comorbidity" -> "same cooccurrenceLift shape: pair counts × ONE broadcast basket-total row",
    "equidepth_bins" -> "ranked rows × ONE broadcast total-count row",
    "rfm_segments" -> "entity-sized ranked frame × ONE broadcast total-count row",
    "benford_profile" -> "9 digit rows × ONE broadcast total row",
    "skew_profile" -> "P bucket rows × ONE broadcast total row",
    "k_anonymity" -> "distinct-class-size rows × ONE broadcast total row",
    "l_diversity" -> "diversity-level rows × ONE broadcast total row",
    "logrank_test" -> "distinct-event-time rows × ONE broadcast totals row",
    "chisq_independence" -> "the full r×c contingency grid (rowTotals × colTotals, both category-sized) plus two one-row broadcast totals/dims frames; maxCells guard fails fast on runaway grids",
    "kruskal_test" -> "ONE one-row group aggregate × ONE one-row ties/totals frame",
    "cost_concentration" -> "distinct-total rank rows × ONE broadcast totals row",
    "direct_std_rate" -> "(group,stratum) cell rows × ONE broadcast standard-weight total row",
    "kappa_agreement" -> "ONE one-row confusion aggregate × ONE one-row marginal-product frame",
    "weighted_kappa" -> "category-sized marginal cross (rt × broadcast ct) + the one-row wo × we frame",
    "spearman_corr" -> "ONE one-row moments aggregate × TWO one-row tie frames",
    "pr_curve" -> "distinct-threshold rows × ONE broadcast totals row",
    "roc_curve" -> "distinct-threshold rows × ONE broadcast totals row",
    "score_ks" -> "distinct-threshold rows × ONE broadcast totals row",
    "target_encode" -> "category rows × ONE broadcast totals row",
    "quantile_normalize" -> "ranked rows × ONE broadcast pooled-count row",
    "lift_table" -> "≤ nBins rows × ONE broadcast totals row")

  test("pit_lookup rides the broadcast as-of path (dim-sized right side, left never exchanged)") {
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val plan = SparkEntry.queries("pit_lookup")(spark, "/root/testdata/sf0.001")
      .queryExecution.sparkPlan
    val bhj = plan.collect { case j: BroadcastHashJoinExec => j }
    assert(bhj.nonEmpty,
      "pit_lookup no longer plans a BroadcastHashJoin — the SCD2 dim " +
        "stopped qualifying for the broadcast as-of path")
    // the event/probe side of the as-of must not shuffle ON THE ASOF KEY
    // (o_custkey) — that would mean the union-path key exchange snuck
    // back in. The r19 tiny-scan fan-out (SparkEntry.fanOutTiny, hash on
    // the base table's unique o_orderkey, fires only on sub-split
    // inputs) is scan-level parallelism, not an as-of exchange, and is
    // explicitly allowed.
    val streamShuffles = bhj.head.left.collect { case e: ShuffleExchangeExec => e }
    val asofKeyed = streamShuffles.filter(
      _.outputPartitioning.toString.contains("o_custkey"))
    assert(asofKeyed.isEmpty,
      s"probe side of the broadcast as-of is exchanged on the as-of key:\n${bhj.head.left}")
  }

  test("every oracle key names a registry query (a typo silently demotes the gate)") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracle entries without a query: $orphans")
    // and the allowlists in this spec stay in sync with the registry
    val stale = (eagerBuilders ++ intentionalBroadcastCross.keySet ++
      intentionalGlobalWindow.keySet) -- SparkEntry.queries.keySet
    assert(stale.isEmpty, s"plan-audit allowlist names unknown queries: $stale")
  }

  /** Queries whose unpartitioned window is DELIBERATE: each ranks a
    * relation already bounded to a small row count by construction, so the
    * single task sorts k-ish rows, not the corpus. Anything NOT listed
    * here that plans an unpartitioned window over an unbounded input
    * fails the audit below.
    */
  private val intentionalGlobalWindow = Map(
    "bm25_topk" -> "final k-row rank over the per-partition top-k cut survivors (cut asserted below)",
    "logrank_test" -> "at-risk prefix over DISTINCT pooled event times (an aggregate of durations, bounded far below subjects); stratified variants partition it",
    "ranksum_test" -> "rank prefix over DISTINCT snapped grid values (an aggregate bounded by the value domain at the chosen scale, not by subjects — the logrank_test argument); probe10e measures the flat-in-k curve",
    "kruskal_test" -> "the same distinct-grid-value rank prefix as ranksum_test, joined back to the (value, group) cells — both domain-sized",
    "auc_score" -> "the ranksum_test distinct-grid-value prefix (the AUC is a Mann–Whitney readout of the same relation)",
    "spearman_corr" -> "two per-axis distinct-grid-value rank prefixes (each the ranksum_test argument)",
    "cost_concentration" -> "rank prefix over the DISTINCT per-key cent-total relation (key-domain-sized after the per-key collapse; the documented coarse-grid lever applies)",
    "pr_curve" -> "descending cumulative over the DISTINCT score-threshold relation (value-domain-sized — the auc_score argument)",
    "avg_precision" -> "the same distinct-threshold cumulative as pr_curve",
    "roc_curve" -> "the same distinct-threshold cumulative as pr_curve",
    "score_ks" -> "the same distinct-threshold cumulative as pr_curve, folded to a 1-row argmax",
    "lift_table" -> "cumulative over ≤ nBins fixed-width bin rows")

  test("no registry query plans an unpartitioned window over an unbounded relation") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.{GlobalLimitExec, LocalLimitExec}
    // AQE wraps the plan in an AdaptiveSparkPlanExec leaf — dig through it
    def nodes(p: SparkPlan): Seq[SparkPlan] = p.collect {
      case n => n
    }.flatMap {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case n => Seq(n)
    }
    val sfDir = "/root/testdata/sf0.001"
    val offenders = SparkEntry.queries.toSeq
      .filterNot { case (name, _) => eagerBuilders(name) }
      .flatMap { case (name, fn) =>
        val plan = fn(spark, sfDir).queryExecution.executedPlan
        val unpartitioned = nodes(plan)
          .collect { case w: WindowExec if w.partitionSpec.isEmpty => w }
        // an unpartitioned window is acceptable when its input is bounded:
        // a limit below it, a partitioned window CUT below it (each
        // partition pre-trimmed to k rows — the two-phase top-k shape), or
        // an aggregate grouped EXACTLY on spark_partition_id (one row per
        // partition — the two-phase prefix-sum shape, O(partitions) rows)
        val bad = unpartitioned.filterNot { w =>
          nodes(w).exists {
            case c: WindowExec => c.partitionSpec.nonEmpty
            case _: GlobalLimitExec | _: LocalLimitExec => true
            case agg: org.apache.spark.sql.execution.aggregate.BaseAggregateExec =>
              agg.groupingExpressions.nonEmpty &&
                agg.groupingExpressions.forall(_.toAttribute.name == "__pid")
            case _ => false
          }
        }
        if (bad.isEmpty || intentionalGlobalWindow.contains(name)) None
        else Some(s"$name: ${bad.size} unbounded unpartitioned WindowExec")
      }
    assert(offenders.isEmpty,
      "single-task global sorts over unbounded input (add a per-partition " +
        s"cut or justify in intentionalGlobalWindow):\n${offenders.mkString("\n")}")
  }

  test("bm25_topk: the global rank window consumes only the per-partition cut") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.window.WindowExec
    def nodes(p: SparkPlan): Seq[SparkPlan] = p.collect {
      case n => n
    }.flatMap {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case n => Seq(n)
    }
    val plan = SparkEntry.queries("bm25_topk")(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan
    val windows = nodes(plan).collect { case w: WindowExec => w }
    val unpartitioned = windows.filter(_.partitionSpec.isEmpty)
    assert(unpartitioned.nonEmpty, "expected the final global rank window")
    // every unpartitioned (single-task) window must rank only the
    // survivors of a partitioned per-partition top-k cut below it —
    // i.e. its subtree contains a PARTITIONED window. Otherwise one task
    // sorts every doc matching any query term.
    unpartitioned.foreach { w =>
      val cutBelow = nodes(w).exists {
        case c: WindowExec => c.partitionSpec.nonEmpty
        case _ => false
      }
      assert(cutBelow,
        s"unpartitioned WindowExec with no per-partition top-k cut below it:\n$w")
    }
  }

  test("blockterm_join: large term list meets the corpus as a broadcast join, not a plan literal") {
    val plan = SparkEntry.queries("blockterm_join")(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"expected the 10k-term list behind a BroadcastHashJoin:\n${plan.take(2000)}")
    // no literal-collection blowup: none of the generated terms may be
    // embedded in the plan text (the HOF form would inline all 10k)
    assert(!plan.contains("zzterm42"),
      "generated terms leaked into the plan as literals")
    assert(plan.length < 100000, s"plan string blew up: ${plan.length} chars")
  }

  test("no registry query plans a cartesian product; nested-loop joins only where designed") {
    val sfDir = "/root/testdata/sf0.001"
    val offenders = SparkEntry.queries.toSeq
      .filterNot { case (name, _) => eagerBuilders(name) }
      .flatMap { case (name, fn) =>
        val plan = fn(spark, sfDir).queryExecution.executedPlan.toString
        val bad =
          (if (plan.contains("CartesianProduct")) Seq("CartesianProduct") else Nil) ++
          (if (plan.contains("BroadcastNestedLoopJoin") &&
            !intentionalBroadcastCross.contains(name)) Seq("BroadcastNestedLoopJoin") else Nil)
        if (bad.isEmpty) None else Some(s"$name: ${bad.mkString(", ")}")
      }
    assert(offenders.isEmpty,
      s"queries with scale-hostile join operators:\n${offenders.mkString("\n")}")
  }
}
