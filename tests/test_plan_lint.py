"""Scale-safety gate: every registry query's physical plan is linted for
100 TB anti-patterns (plans/lint.py). Intentional exceptions are declared
here WITH a reason — a new cartesian/global-window/Python-UDF can never land
silently.
"""

from __future__ import annotations

import pytest

from inspig_etl_spark import queries as reg
from inspig_etl_spark.plans.lint import lint_plan

SF_DIR = "/root/testdata/sf0.01"

# query name -> {finding code -> justification}
ALLOWED: dict[str, dict[str, str]] = {
    "docs_neardup_clusters": {
        "single-partition": "the label-propagation loop repartitions its edge "
        "cache to partitions sized from the MEASURED dup-graph node count "
        "(operators/dedup.py connected_components: ~500k label rows per "
        "partition, clamped to the session default) — at sf0.1 that is 1 "
        "partition for a 469-node graph, which plans as SinglePartition; at "
        "scale the same rule yields many partitions, so this is adaptive "
        "state-sizing, not a static bottleneck",
    },
    "docs_neardup_clusters_star": {
        "single-partition": "same adaptive state-sized CC loop as "
        "docs_neardup_clusters (see that entry). Visible on the star path "
        "since the r17 seed restructure: the seed labels are derived from "
        "the co-partitioned edge cache in the same job (one exchange "
        "instead of two), and star contraction consumes those labels "
        "through their persisted lineage rather than a checkpoint, so the "
        "sized repartition shows in the final plan",
    },
    "multimodal_paired_neardup": {
        "single-partition": "inherits docs_neardup_clusters' adaptive "
        "state-sized label-propagation loop (the cross-modal OR-edges feed "
        "the same CC kernel) — see that entry; 1 partition only because the "
        "sf0.01 cross-modal dup graph has a few hundred nodes",
    },
    "docs_neardup_keep_best": {
        "single-partition": "inherits docs_neardup_clusters' adaptive "
        "state-sized label-propagation loop (same CC kernel feeds the "
        "survivor-election window) — see that entry; 1 partition only "
        "because the sf0.1 dup graph has ~469 nodes",
    },
    "docs_curation_funnel": {
        "single-partition": "composes docs_neardup_keep_best, so it "
        "inherits the same adaptive state-sized CC loop partitions — see "
        "docs_neardup_clusters; every funnel-specific stage is a doc_id "
        "equi-join + one conditional-sum aggregation",
    },
    "docs_curation_funnel_by_source": {
        "single-partition": "same inheritance as docs_curation_funnel "
        "(keep-best's adaptive state-sized CC loop) — the per-source slice "
        "adds one doc_id equi-join and a grouped aggregation",
    },
    "docs_leakage_safe_split": {
        "single-partition": "inherits docs_neardup_clusters' adaptive "
        "state-sized label-propagation loop (the split key IS the CC "
        "cluster label) — see that entry; the split itself is one per-row "
        "hash expression",
    },
    "docs_curated_shard_manifest": {
        "single-partition": "composes the funnel flags (and through them "
        "docs_neardup_keep_best's adaptive state-sized CC loop — see "
        "docs_neardup_clusters); the manifest-specific stages shuffle on "
        "the shard key and (shard, bin_no), never to one partition",
    },
    "weekly_delta_wow": {
        "global-window": "input is the per-ISO-week aggregate (<=105 rows for the "
        "2-year scan window) — bounded BEFORE the window, documented invariant",
        "single-partition": "the exchange feeds that same bounded window's sort",
    },
    "ytd_accumulation": {
        "global-window": "running total over one year of daily aggregates "
        "(<=366 rows post-agg)",
    },
    "chunked_wide_rows": {
        "global-window": "global SORT_NO pagination is the operator's contract "
        "(reference culling.py:264-312); input is one report section (<=100s of rows)",
        "single-partition": "the exchange feeds that same bounded section sort",
    },
    "sorted_pinned_tail_topk": {
        "single-partition": "final ordered report slice, bounded by upstream agg",
    },
    "nearest_station_haversine": {
        "nested-loop": "broadcast cross join against the station dim is the "
        "reference design (weather.py:142-148) — the ASOS network is a fixed "
        "~100-station list that does not scale with data volume",
    },
    "embeddings_knn_bruteforce": {
        "nested-loop": "brute-force all-pairs IS this operator's definition (the "
        "correctness baseline the brief asks for); embeddings_knn_bucketed is the "
        "LSH scale path and lints clean",
    },
    "embeddings_ann_recall_report": {
        "nested-loop": "two declared BNLJ classes: (a) the float brute-force "
        "ground truth the sweep measures recall AGAINST (the "
        "embeddings_knn_bruteforce exception — a deployment samples the "
        "query set), and (b) the 1-row broadcast crossJoins assembling each "
        "variant's scalar metrics into its report row; every variant's own "
        "retrieval stages inherit the production kernels' bucketed/cell "
        "equi-join shapes and lint clean in those kernels' own entries",
    },
    "surrogate_keys_dim": {
        "global-window": "surrogate ids over an explicit total order are only "
        "assigned to bounded dim/report rows (25 nations here) — the helper's "
        "documented contract; fact-scale keys use composite natural keys",
        "single-partition": "the exchange feeds that same bounded id window",
    },
    "embeddings_cosine_neardup_pairs": {
        "nested-loop": "threshold pairs over id_a < id_b theta join — the exact "
        "baseline; MinHash-LSH banding (docs_minhash_neardup_groups) is the "
        "bucketed scale path and lints clean",
    },
    "docs_tfidf_topterms": {
        "nested-loop": "the corpus-size scalar N joins as a crossJoin against a "
        "broadcast 1-row aggregate — a constant-size broadcast side at any SF "
        "(the only Spark-native way to attach a computed scalar without a "
        "global window or a driver collect)",
    },
    "docs_dsir_importance_sample": {
        "nested-loop": "the corpus-mean importance weight joins as a crossJoin "
        "against a broadcast 1-row aggregate (the declared 1-row-scalar "
        "pattern); the 256-row bucket table itself attaches via a broadcast "
        "EQUI-join and is not part of this exception",
    },
    "docs_curated_epoch_mix": {
        "nested-loop": "the effective-token total joins as a crossJoin "
        "against a 1-row broadcast aggregate (the docs_training_mix_report "
        "share pattern) — constant-size build side at any corpus",
        "single-partition": "composes the funnel flags (and through them "
        "docs_neardup_keep_best's adaptive state-sized CC loop — see "
        "docs_neardup_clusters); the mix-specific stages are source-keyed "
        "partial aggs over bounded cells",
    },
    "docs_curation_by_engagement_cohort": {
        "nested-loop": "the |users| scalar joins as a crossJoin against a "
        "1-row broadcast aggregate (the standard 1-row-scalar pattern) — "
        "the attribution modulus",
        "single-partition": "two declared sources: (a) the inherited "
        "funnel-flags CC loop (see docs_neardup_clusters), and (b) the "
        "dense rank index over the USER DIMENSION (distinct users — "
        "dimension-sized, not event-sized); at a corpus where even the "
        "user dim outgrows one reducer, swap the global row_number for "
        "the (hash-bucket, within-bucket rank) composite index exactly as "
        "docs_shard_assignment's scale note prescribes — semantics "
        "identical, the md5 gate only needs a stable 0..N-1 bijection",
    },
    "docs_hybrid_rrf_search": {
        "nested-loop": "the corpus-size scalar N joins as a crossJoin "
        "against a 1-row broadcast aggregate to df-gate the rare-bigram "
        "vocabulary (the standard 1-row-scalar pattern)",
    },
    "docs_bm25_topk": {
        "nested-loop": "two 1-row broadcast scalars (the df-gate corpus "
        "size N inherited from the shared lexical base, plus BM25's avgdl "
        "corpus constant) join as crossJoins against 1-row aggregates — "
        "the standard 1-row-scalar pattern; the postings join itself is "
        "term-keyed and df-capped",
    },
    "docs_hybrid_recall_report": {
        "nested-loop": "two declared BNLJ classes, same as "
        "embeddings_ann_recall_report: (a) the float brute-force ground "
        "truth recall is measured AGAINST (the embeddings_knn_bruteforce "
        "exception — a deployment samples the query set), and (b) the "
        "1-row broadcast crossJoins assembling each method's scalar "
        "metrics into its report row (plus the towers' own 1-row df-gate/"
        "avgdl scalars); every method's retrieval stages inherit the "
        "production kernels' df-capped/cell equi-join shapes",
    },
    "embeddings_ivf_incremental_drift": {
        "nested-loop": "the ledger/grand totals join as a crossJoin against "
        "a 1-row broadcast aggregate (the standard 1-row-scalar pattern) "
        "onto the IVF_CELLS-row report",
    },
    "docs_decontaminate_bloom": {
        "nested-loop": "the Bloom bitmap attaches as a crossJoin against ONE "
        "constant-size broadcast row (BLOOM_WORDS packed words, independent "
        "of corpus size) — the whole point of the sketch is that this is "
        "the only non-scan operator the corpus side pays",
    },
    "docs_training_mix_report": {
        "nested-loop": "the corpus token total joins as a crossJoin against a "
        "broadcast 1-row aggregate over the already-bounded source x lang "
        "cells — constant-size at any SF",
    },
    "embeddings_sq8_adc_knn": {
        "nested-loop": "brute-force ADC scoring over the broadcast probe set "
        "(theta join query_id != neighbor_id) IS this operator's definition — "
        "the exact integer-scoring baseline, same shape as the allowlisted "
        "embeddings_knn_bruteforce; embeddings_knn_ivf_multiprobe is the "
        "cell-join scale path and lints clean",
    },
    "embeddings_ivfpq_refined_knn": {
        "nested-loop": "the per-row brute-force RECALL WITNESS (in_brute_topk) "
        "is the one quadratic term, same declared exception as "
        "embeddings_sq8_adc_knn; the retrieval itself is the cell equi-join "
        "shortlist plus id equi-join refine and lints clean without the "
        "witness — a deployment drops the witness column",
    },
}


# Queries whose PLAN BUILD itself runs 3+ Spark jobs (iterative loops with
# convergence actions, driver-side sizing reductions, staged streams) —
# measured by tools/find_action_builders.py (re-run it after adding or
# restructuring a query; names below carry their measured build-job count).
# They must lint SEQUENTIALLY with a clearCache each (below), for two
# reasons: (1) their builds execute and persist subtrees that other
# queries share, and a cached InMemoryRelation carries its
# AQE-materialized ShuffleQueryStages into every later consumer's plan —
# the order-dependence the per-test clearCache exists to kill; (2) the
# CC/kmeans loop builders pin session confs (AQE off, state-sized shuffle
# partitions) around their loops — harmless for RESULTS, but a plan built
# CONCURRENTLY on another thread plans its exchanges under the pinned
# partition count (observed r17: docs_sequence_packing's repartition
# planned as SinglePartition while a funnel-family build held the loop
# confs). Everything else builds without materializing caches or touching
# confs, so the bulk thread-pool phase (first, after one clearCache) lints
# fresh plans by construction.
ACTION_BUILDERS = frozenset(
    {
        "docs_leakage_safe_split",  # 22
        "docs_hybrid_recall_report",  # 4
        "multimodal_paired_neardup",  # 40
        "docs_neardup_clusters_star",  # 27
        "docs_neardup_cluster_quality",  # 23
        "embeddings_ann_recall_report",  # 5
        "embeddings_kmeans_lloyd",  # 4
        "embeddings_semdedup_prune",  # 4
        "docs_neardup_clusters",  # 22
        "docs_neardup_keep_best",  # 23
        "docs_decontaminate_union_report",  # 3
        "docs_curation_funnel",  # 28
        "docs_curated_shard_manifest",  # 28
        "docs_curation_funnel_by_source",  # 29
        "stream_ingest_curation_funnel",  # 128
        "staged_commit_retry",  # 13
        "stream_microbatch_upsert",  # 17
        "stream_incremental_dedup",  # 17
        "stream_dedup_watermark_evict",  # 18
        "docs_curated_epoch_mix",  # 29
        "docs_curation_by_engagement_cohort",  # 29
        "docs_curated_epoch_shard_manifest",  # 29
        "tpch_q3_shipping_priority",  # 3 (scan/footer jobs — kept sequential out of caution)
        "tpch_q5_local_supplier_volume",  # 6
        "stream_windowed_event_counts",  # 4
        "docs_bpe_train_merges",  # 10
        "docs_bpe_encode",  # 11
        "docs_unigram_surprisal",  # 4
        "on_demand_farm_report",  # 4 (its existence probe)
    }
)
_BULK_LINT = sorted(n for n in reg.queries() if n not in ACTION_BUILDERS)


def test_plans_are_scale_safe_bulk(spark):
    """Thread-pool lint over every query whose build runs no jobs (r17,
    VERDICT r16 item 2 — the sequential parametrized form was ~170
    driver-bound plan builds). Failures name each offending query."""
    import threading
    from concurrent.futures import ThreadPoolExecutor

    spark.catalog.clearCache()
    failures: list[str] = []
    lock = threading.Lock()

    def one(name: str) -> None:
        try:
            findings = lint_plan(reg.queries()[name](spark, SF_DIR))
            allowed = ALLOWED.get(name, {})
            unexplained = [f for f in findings if f.code not in allowed]
            if unexplained:
                with lock:
                    failures.append(f"{name}: {[str(f) for f in unexplained]}")
        except Exception as e:  # noqa: BLE001 - collected and re-raised in bulk
            with lock:
                failures.append(f"{name}: lint crashed: {e}")

    with ThreadPoolExecutor(max_workers=8) as pool:
        list(pool.map(one, _BULK_LINT))
    assert not failures, (
        f"{len(failures)} plans carry scale anti-patterns — fix the plan or "
        "declare an exception with a reason in tests/test_plan_lint.py:\n"
        + "\n".join(sorted(failures))
    )


@pytest.mark.parametrize("name", sorted(ACTION_BUILDERS))
def test_plan_is_scale_safe(spark, name):
    # Lint is defined over the FRESH plan: an earlier test in the session
    # may have executed (and persisted) a shared subtree, and a cached
    # InMemoryRelation carries its AQE-materialized ShuffleQueryStages —
    # including the Exchange SinglePartition under ordinary 1-row scalar
    # aggregates — which would flag here only because of suite ORDER.
    # Clearing makes the gate order-independent (and is the repo-wide
    # clearCache-after-action policy for lazily-returned query frames).
    spark.catalog.clearCache()
    df = reg.queries()[name](spark, SF_DIR)
    findings = lint_plan(df)
    allowed = ALLOWED.get(name, {})
    unexplained = [f for f in findings if f.code not in allowed]
    assert not unexplained, (
        f"{name}: scale anti-patterns {[str(f) for f in unexplained]} — fix the plan "
        "or declare an exception with a reason in tests/test_plan_lint.py"
    )


def test_collect_limit_rule_flags_only_oversized_limits(spark):
    """The collect-limit rule (VERDICT r15 item 7c): limit() funnels the
    kept rows through one task, so a bound above COLLECT_LIMIT_BOUND is a
    hidden single-task bottleneck. A report-sized head must pass, an
    effectively-unbounded one must flag, and the bound is configurable."""
    from pyspark.sql import functions as F

    from inspig_etl_spark.plans.lint import lint_plan

    # A parquet scan has unknown maxRows — Catalyst ELIDES a limit that is
    # provably >= its child's maxRows upper bound (Range stats are exact
    # and survive Filter/Project), which would leave nothing for the rule
    # to see. Real queries read files, where the limit always survives.
    df = spark.read.parquet(f"{SF_DIR}/orders.parquet").select("o_orderkey")
    small = df.limit(100)
    assert not [f for f in lint_plan(small) if f.code == "collect-limit"]
    huge = df.limit(10_000_000)
    flagged = [f for f in lint_plan(huge) if f.code == "collect-limit"]
    assert flagged and "10000000" in flagged[0].detail
    assert not [
        f
        for f in lint_plan(huge, collect_limit_bound=10_000_001)
        if f.code == "collect-limit"
    ]


def test_global_window_check_discriminates_partition_only(spark):
    """Regression: a partitioned window WITHOUT an ORDER BY also renders as
    two bracket groups and was falsely flagged; the check must key on the
    sort-direction markers only an ordering spec carries."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from inspig_etl_spark.plans.lint import lint_plan

    df = spark.range(10).withColumn("p", F.col("id") % 2)
    partition_only = df.withColumn("s", F.sum("id").over(Window.partitionBy("p")))
    assert not [f for f in lint_plan(partition_only) if f.code == "global-window"]
    order_only = df.withColumn("r", F.row_number().over(Window.orderBy("id")))
    assert [f for f in lint_plan(order_only) if f.code == "global-window"]
