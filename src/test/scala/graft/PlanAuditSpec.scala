package graft

/** Plan-shape regression gate over EVERY query entry: the anti-patterns that
  * kill 100 TB jobs must never enter a plan unnoticed.
  *
  *  - no CartesianProduct anywhere;
  *  - BroadcastNestedLoopJoin only where a one-row broadcast makes it the
  *    right plan (query-vector probes, total-count attach);
  *  - SortMergeJoin only in the intentionally exchange-free bucketed join.
  */
class PlanAuditSpec extends SparkTestBase {

  private val sfDir = "/root/testdata/sf0.001"

  /** entries whose plan legitimately contains a bounded-row
    * BroadcastNestedLoop (one-row query/count probes; s04's k-row codebook) */
  private val oneRowBroadcastOk = Set(
    "q12_page_with_count", "q28_account_history", "s01_cosine_topk", "s03_ivf_ann",
    "s11_ivf_ann_derived", // s03's one-row broadcast query probe, derived codebook
    "s04_ivf_train", "s06_ivfpq_ann", "t16_tfidf_terms", "m05_asset_ann",
    "t19_source_mix", // one-row min-scale frame attached to the stratum dim
    "q41_bloom_join", // one-row bloom bitset broadcast to the fact scan
    "s09_bm25_search", // one-row corpus-stats frame (N, sumdl, dfs) attach
    "q46_histogram", // one-row (min, max) range frame attach
    "q49_histogram_edges", // q46's one-row range attach, three scenarios
    "t25_lm_perplexity", // one-row vocabulary-size (V) frame attach
    "q67_drift_psi", // q46's one-row range attach + a one-row totals attach
    "s13_matryoshka_ann", // s01's one-row query-vector broadcast, both stages
    "s16_sq8_ann", // s01's one-row query broadcast + the bounded rerank-candidate set
    "q79_rolling_distinct", // one-row max-day frame attached to the cover explode
    "s18_filtered_ann", // s11's one-row query probe over the filtered population
    "q83_fk_audit", // one-row orphan-count frame attached to the one-row total per relationship
    "t35_datasheet", // one-row top-language frame attached to the one-row base
    "q70_hll_rollup", // one-row exact-count frame attached to the one-row merged sketch
    "d16_bloom_dedup", // one-row corpus-bloom bitset broadcast to the batch scan
    "s14_ann_recall", // bounded query-panel broadcast (s04's k-row posture) + s08's codebook
    "s15_ann_recall_nprobe2", // s14's panel broadcast, multiprobe ANN leg
    // s19: s14's panel broadcast per swept nprobe + one-row cost/hits/
    // truth-count/selection-key attaches (all global-aggregate outputs)
    "s19_ann_autotune")
  /** q32: the intentionally exchange-free bucketed join. t07/t18/d09: the
    * corpus anti-join against the near-dup drop set — both sides data-scale-
    * unknown, so SMJ is the correct static plan (AQE downgrades it to a
    * broadcast join at runtime when the drop set measures small). q44: a
    * full-outer join of two snapshots — neither side can broadcast under
    * full-outer semantics, so SMJ is the only correct shape. d11: the
    * keep-flag left join against the dropped-id set (data-scale-unknown,
    * same AQE-downgrade posture as the anti joins). q45: contains q44's
    * full-outer diff plus the aggregate-merge full-outer (group-cardinality
    * sized — AQE downgrades at runtime). */
  private val sortMergeOk = Set("q32_bucketed_join", "t07_corpus_pipeline",
    "t18_export_packing", "d09_incremental_dedup", "q44_snapshot_diff",
    "d11_semantic_dedup", "q45_incremental_agg",
    "q47_changelog_invert", // contains q44's full-outer snapshot diff
    // d12: d09's capped-bucket probe/build join over a parquet-read-back
    // index unioned with a checkpointed batch side — sizes statically
    // unknown, SMJ is the correct static plan, AQE downgrades at runtime
    "d12_stored_index_dedup",
    // t24: the near leg's anti-join reads the exact leg's localCheckpointed
    // frame (no size stats) joined against d03's checkpointed LSH sets —
    // same AQE-downgrade posture as d12/d13
    "t24_split_leakage",
    // d13: the final node-label left join reads two localCheckpointed
    // frames (LogicalRDD reports no size stats), same AQE-downgrade
    // posture as the anti-joins above
    "d13_dup_clusters_star",
    // s14/s15/s19: the truth-vs-ann hit join reads two aggregate outputs
    // (panel-sized, no static stats) — AQE downgrades to broadcast at
    // runtime; the data-scale legs upstream are the audited shapes
    "s14_ann_recall", "s15_ann_recall_nprobe2", "s19_ann_autotune",
    // q74: the stale-key anti-join against the stored view — both sides
    // statically size-unknown; at scale the view is a bucketed store
    // (exchange-free), locally AQE downgrades
    "q74_join_view_refresh",
    // t39: the verdict attach joins read the localCheckpointed exact-kept
    // frame (no size stats) — t07/t24's AQE-downgrade posture
    "t39_drop_provenance",
    // q78: the co-purchase pair build is a fact-fact self equi-join on
    // l_orderkey (both sides data-scale) — SMJ is the correct static
    // plan; the triangle joins downstream run on the support-thresholded
    // sparse edge set
    "q78_triangle_count",
    // d18: the docs ⋈ cluster-label left join — the label side is d08's
    // localCheckpointed component output (corpus-sized at scale, no
    // static stats), so SMJ is the correct static plan; AQE downgrades
    // locally. The representative pick itself is a plain aggregate.
    "d18_cluster_rep",
    // q90: refreshView's base-view ⋈ delta FULL OUTER — both sides are
    // group-cardinality aggregate outputs (|view|-sized, no static
    // stats) and full-outer cannot broadcast, so SMJ is the only correct
    // static shape (q44's posture); the data-scale work upstream is the
    // changed-file reads inside changesBetween, which join nothing
    "q90_cdf_view",
    // q128: the decoded-asset ⋈ stored-meta agreement join — both sides
    // project the SAME asset-scale catalog scan (one through the
    // row-local decode kernel, which erases size stats), keyed on the
    // asset id: a fact-fact equi-join, SMJ is the correct static plan
    // (q78's posture); AQE downgrades at test scale
    "q128_lakehouse_assets")

  /** entries whose plan legitimately contains an UNPARTITIONED window:
    * q76's exact skyline pass — its input is the partition-locally pruned
    * candidate set (≤ partitions × per-partition frontier, the TakeOrdered
    * posture), never the raw input; the audit exists to catch ACCIDENTAL
    * global windows over data-scale frames */
  private val unpartitionedWindowOk = Set("q76_skyline")

  /** Each entry built ONCE for both tests (building runs its eager
    * setup): its executed-plan string and the windows with an empty
    * partition spec in its optimized logical plan. */
  private lazy val audited: Seq[(String, String, Seq[String])] =
    SparkEntry.queries.toSeq.map { case (name, fn) =>
      val qe = fn(spark, sfDir).queryExecution
      // checked on the optimized logical plan: EliminateWindowPartitions
      // has already dropped foldable keys there, so a partition spec that
      // survives only as literals (the r02 q16 regression) shows up as
      // empty
      val windows = qe.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window
            if w.partitionSpec.isEmpty =>
          s"$name: Window with empty partition spec (${w.windowExpressions.map(_.name).mkString(",")})"
      }
      (name, qe.executedPlan.toString, windows)
    }

  test("no entry plans a cartesian; NLJ/SMJ only on the allowlists") {
    val violations = audited.flatMap { case (name, plan, _) =>
      Seq(
        if (plan.contains("CartesianProduct")) Some(s"$name: CartesianProduct") else None,
        if (plan.contains("BroadcastNestedLoopJoin") && !oneRowBroadcastOk(name))
          Some(s"$name: unexpected BroadcastNestedLoopJoin") else None,
        if (plan.contains("SortMergeJoin") && !sortMergeOk(name))
          Some(s"$name: unexpected SortMergeJoin") else None
      ).flatten
    }
    assert(violations.isEmpty, violations.mkString("\n"))
  }

  test("no entry plans an unpartitioned window (single-partition sort)") {
    val violations = audited.flatMap { case (name, _, windows) =>
      if (unpartitionedWindowOk(name)) Seq.empty else windows
    }
    assert(violations.isEmpty, violations.mkString("\n"))
  }
}
