"""Physical-plan regression tests: the scale properties the engine's
100 TB story depends on, pinned via explain output so a refactor that
silently loses a pushdown, a broadcast, or a top-k shows up as a test
failure, not a production regression.

These assert plan SHAPE, not timing — stable across machines.
"""

from __future__ import annotations

import pytest

from aruna_spark.queries import REGISTRY, load_all

load_all()


def _plan(spark, name, sf_dir):
    fn, _ = REGISTRY[name]
    return fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()


def test_pricing_summary_pushdown_and_partial_agg(spark, sf_dir):
    plan = _plan(spark, "rel_pricing_summary", sf_dir)
    # the shipdate filter must reach the parquet scan
    assert "PushedFilters: [" in plan
    assert "l_shipdate" in plan.split("PushedFilters:", 1)[1][:300]
    # map-side partial aggregation before the exchange
    assert "partial" in plan.lower()


def test_shipping_priority_is_topk_not_full_sort(spark, sf_dir):
    plan = _plan(spark, "rel_shipping_priority", sf_dir)
    assert "TakeOrderedAndProject" in plan


def test_region_revenue_broadcasts_dims(spark, sf_dir):
    plan = _plan(spark, "rel_region_revenue", sf_dir)
    assert "BroadcastHashJoin" in plan


def test_bruteforce_ann_broadcasts_queries(spark, sf_dir):
    plan = _plan(spark, "similarity_topk_bruteforce", sf_dir)
    # the small query set must broadcast; the corpus must NOT shuffle
    # into a join exchange before scoring
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_keyset_page_filter_pushdown(spark, sf_dir):
    plan = _plan(spark, "rel_keyset_page", sf_dir)
    assert "PushedFilters: [" in plan


def test_bm25_topk_no_python_udfs(spark, sf_dir):
    """The whole BM25 chain must stay JVM-side (no Python eval nodes)."""
    plan = _plan(spark, "search_bm25_topk", sf_dir)
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "TakeOrderedAndProject" in plan


@pytest.mark.parametrize(
    "name",
    [
        "rel_pricing_summary",
        "sparql_bgp_filter",
        "textstats_profile",
        "dedup_exact",
        "usage_counters_by_group",
        "placement_resolve_holders",
        "textstats_repetition",
        "corpus_retention_funnel",
        "jobs_drain_class_budget",
        "jobs_queue_lag",
        "blobs_hidden_sweep",
        "blob_permission_paths",
        "notify_route_resource_events",
        "matq_finish_batch",
        "matq_requeue_sweep",
        "jobs_submit_batch",
        "stream_watch_no_retroactive",
        "perm_allows_matrix",
        "placement_strategy_binding",
        "s3_search_buckets",
        "registry_subject_conflicts",
        "registry_resolve_users",
        "placement_resolve_override",
        "queue_lag_sample",
        "blob_replication_drain_plan",
        "blob_replication_drain_result",
        "blob_holders_refresh",
        "blob_holders_get",
        "onboarding_inspect_validate",
        "registry_create_group_gate",
        "crdt_admin_seed_replay",
        "registry_create_doc_placement",
        "usage_quota_status_resolved",
        "realm_user_group_caps",
        "user_token_canonical_check",
        "doc_serve_gate",
        "handle_pool_transfer_slice",
        # r14 (archive_rewrite_enriched is Arrow-batched mapInPandas
        # by design — the kernel is Python; it has no place here)
        "crdt_realm_quota_replay",
        "staging_source_descriptor",
        "archive_layout_inspect",
        "urlstats_canonicalize",
        "textstats_ngram_langid",
        "export_report_rows",
        "archive_import_plan",
        "textstats_boilerplate_lines",
        # r15 (archive_validate_file_ids and autoindex_dialect_entries
        # are Arrow-batched mapInPandas by design — Python kernels)
        "export_entity_identity",
        "export_resolve_candidates",
    ],
)
def test_hot_queries_have_no_row_at_a_time_python(spark, sf_dir, name):
    plan = _plan(spark, name, sf_dir)
    assert "BatchEvalPython" not in plan, f"{name} fell off the JVM path"


def test_rollup_single_scan_partial_agg(spark, sf_dir):
    """ROLLUP must stay one scan + partial aggregation (Expand, not a
    scan per grouping set)."""
    plan = _plan(spark, "corpus_rollup_stats", sf_dir)
    assert plan.count("FileScan") == 1
    assert "Expand" in plan
    assert "partial" in plan.lower()


def test_multipart_complete_single_shuffle(spark, sf_dir):
    plan = _plan(spark, "s3_multipart_complete", sf_dir)
    assert plan.count("Exchange") <= 2  # agg shuffle (+AQE read), no extras
    assert "BatchEvalPython" not in plan


def test_default_sparql_path_prunes_predicate_partitions(spark, sf_dir):
    """The DEFAULT registered sparql_* path must read the materialized
    predicate-partitioned store with PartitionFilters — not re-derive
    the projection union per query (VERDICT r2 perf-weak item b)."""
    plan = _plan(spark, "sparql_order_limit", sf_dir)
    assert "PartitionFilters: [" in plan
    assert "contentSize" in plan.split("PartitionFilters:", 1)[1][:400]


def test_default_search_path_prunes_token_shards(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The DEFAULT registered search_* path must read ONLY the query
    tokens' shard leaves of the pinned versioned-postings manifest —
    manifest-level pruning, stronger than scan-time PartitionFilters:
    the non-matching shards never even enter the file index (VERDICT
    r2 perf-weak item a; r4 Next #2 versioned substrate). The test
    corpus sizes to one shard, so the index is rebuilt here at the full
    256-way fan-out, where a whole-snapshot read would show."""
    from aruna_spark import store
    from aruna_spark.queries.search import QUERY_TEXT
    from aruna_spark.search import incremental
    from aruna_spark.search.bm25 import (
        build_field_literals,
        build_postings,
        tokenize,
    )
    from aruna_spark.search.incremental import _SHARD_RE, token_shards

    monkeypatch.setattr(incremental, "SHARD_ROWS", 0)
    postings = build_postings(
        build_field_literals(store.triples_store(spark, sf_dir))
    )
    table = incremental.init_postings_table(
        spark, postings, str(tmp_path / "idx")
    )
    assert table._manifest(0)["shards"] == incremental.BUCKETS
    monkeypatch.setattr(store, "postings_table", lambda *_: table)

    fn, _ = REGISTRY["search_bm25_topk"]
    df = fn(spark, sf_dir)
    expected = token_shards(spark, tokenize(QUERY_TEXT))
    postings_files = [f for f in df.inputFiles() if "shard=" in f]
    assert postings_files, "query must read the shard-leaf postings"
    seen = {int(_SHARD_RE.search(f).group(1)) for f in postings_files}
    assert seen <= expected, f"read shards {seen - expected} beyond the query's"
    assert len(seen) <= len(tokenize(QUERY_TEXT))
    assert len(table.files()) > len(seen)


def test_trained_ivf_never_trains_on_query_path(spark, sf_dir, monkeypatch):
    """The trained-IVF query must serve from the STORED index (VERDICT
    r3 'What's wrong' #1): with a warm store, k-means must not run —
    neither at plan-build nor at execution."""
    from aruna_spark import store
    from aruna_spark.queries import similarity

    store.ivf_trained_store(spark, sf_dir)  # warm the index artifact

    def boom(*a, **k):
        raise AssertionError("k-means training ran on the query path")

    monkeypatch.setattr(similarity, "train_ivf_centroids", boom)
    fn, _ = REGISTRY["similarity_ivf_trained_topk"]
    df = fn(spark, sf_dir)
    assert df.count() > 0
    # and the plan reads the cell-partitioned stored lists
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ivf_trained" in plan


@pytest.mark.parametrize(
    "name", ["sparql_star_describe", "sparql_bgp_filter"]
)
def test_bgp_star_compiles_to_single_scan(spark, sf_dir, name):
    """SURVEY §4(a) property-table rewrite: a subject star (>=3
    constant-predicate patterns, variable OR constant objects) must
    plan as ONE predicate-pruned triples scan + one aggregation —
    never k-1 subject self-joins (at 100 TB each join is a shuffle of
    the whole store)."""
    import re

    plan = _plan(spark, name, sf_dir)
    assert plan.count("Scan parquet") == 1
    assert not re.search(
        r"SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin", plan
    )
    assert "HashAggregate" in plan or "ObjectHashAggregate" in plan


def test_ivf_pq_never_trains_and_reads_codes_only(spark, sf_dir, monkeypatch):
    """The IVF-PQ query must serve from the STORED codes + codebooks:
    with a warm store, neither the coarse k-means nor the PQ trainer may
    run, and the candidate SCAN must read the codes table (PQ_M small
    ints per vector). Raw vectors are touched only by the refine stage's
    point-joins on the <=PQ_REFINE shortlist rows per query (and the
    broadcast-side query build)."""
    from aruna_spark import store
    from aruna_spark.queries import similarity

    store.pq_store(spark, sf_dir)  # warm the index artifact

    def boom(*a, **k):
        raise AssertionError("training ran on the query path")

    monkeypatch.setattr(similarity, "train_pq_codebooks", boom)
    monkeypatch.setattr(similarity, "train_ivf_centroids", boom)
    fn, _ = REGISTRY["similarity_ivf_pq_topk"]
    df = fn(spark, sf_dir)
    assert df.count() > 0
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ivf_pq" in plan
    # the big-side scan is the codes layout; raw embeddings appear only
    # in the broadcast-side query build (LUT + probe derivation)
    code_files = [f for f in df.inputFiles() if "ivf_pq" in f]
    assert code_files and all("cell=" in f for f in code_files)


@pytest.mark.parametrize(
    "name",
    [
        "search_bm25_page2",
        "search_perfield_rank_shift",
        "search_unified",
        "staging_list_level",
        "staging_list_recursive",
    ],
)
def test_search_plane_has_no_global_window(spark, sf_dir, name):
    """VERDICT r4 'What's wrong' #1/#2: the search plane and the
    listing-page envelopes must never rank or derive watermarks via an
    unpartitioned row_number window (WindowExec 'No Partition Defined'
    moves the whole relation into one partition). The rewrites use
    TakeOrderedAndProject + bounded folds — no Window node of any kind
    should remain in these plans."""
    plan = _plan(spark, name, sf_dir)
    assert "Window" not in plan, f"{name} still plans a WindowExec"
    assert "TakeOrderedAndProject" in plan


def _unpartitioned_specs(plan: str) -> list[str]:
    """windowspecdefinition(...) snippets whose first argument already
    carries a sort direction — i.e. no partition columns precede the
    order spec (scripts/window_audit.py runs this over the whole
    registry)."""
    import re

    out = []
    for m in re.finditer(
        r"windowspecdefinition\(([^()]*(?:\([^()]*\))?[^()]*)", plan
    ):
        first = m.group(1).split(",")[0].strip()
        if " ASC" in first or " DESC" in first:
            out.append(m.group(1)[:120])
    return out


def test_dashboard_epoch_prefix_scan_is_partitioned(spark, sf_dir):
    """The dashboard epoch running sum is a two-level prefix scan: a
    window PARTITIONED by hour bucket plus a broadcast-joined bucket
    offset — never a global Window.orderBy over every debounce window
    (the last `No Partition Defined` plan in the registry, r5)."""
    plan = _plan(spark, "stream_dashboard_epoch", sf_dir)
    assert _unpartitioned_specs(plan) == []
    assert "Window" in plan  # the within-bucket scan stays a window
    assert "BroadcastExchange" in plan  # bucket offsets ride broadcast


def test_lsh_topk_reads_stored_bucket_table(spark, sf_dir):
    """The LSH query path must scan the materialized bucket table and
    the precomputed-norm vectors layout — not re-bucket the corpus with
    24 hyperplane dot products per vector per query."""
    plan = _plan(spark, "similarity_lsh_topk", sf_dir)
    assert ".cache/lsh" in plan
    assert ".cache/vectors" in plan


def test_trained_ivf_dynamic_partition_pruning(spark, sf_dir):
    """The broadcast probe join over the cell-partitioned stored lists
    must trigger dynamic partition pruning — at scale a probe reads the
    nprobe cell directories, not the whole index."""
    plan = _plan(spark, "similarity_ivf_trained_topk", sf_dir)
    assert "dynamicpruning" in plan.lower()
    assert "BatchEvalPython" not in plan


def test_minhash_pairs_reads_stored_band_index(spark, sf_dir):
    """The raw near-dup query must self-join the materialized band-key
    index — never recompute minhash signatures from the wide shingle
    arrays per query. (dedup_clusters shares the chain but its
    localCheckpoint truncates the visible plan.)"""
    plan = _plan(spark, "dedup_minhash_pairs", sf_dir)
    assert ".cache/lsh_bands" in plan
    assert "xxhash64" not in plan  # minhashing happens at build only


def test_ngram_jaccard_reads_stored_prefix_index(spark, sf_dir):
    """The exact set-similarity join must consume the materialized
    PPJoin prefix index and the shingle store (with column pruning:
    the hashed pre-verify reads shh only, the exact verify sh only) —
    never recompute df-ranking or shingles per query."""
    plan = _plan(spark, "dedup_ngram_jaccard", sf_dir)
    assert ".cache/ngram_prefix" in plan
    assert ".cache/shingles" in plan
    assert "BatchEvalPython" not in plan
    # column-pruned scans of the shingle store: one shh-only pair
    # (pre-verify) and one sh-only pair (exact verify)
    import re

    scans = re.findall(r"FileScan parquet \[([^\]]*)\][^\n]*shingles", plan)
    assert any("shh" in s and "sh#" not in s for s in scans), scans
    assert any("sh#" in s and "shh" not in s for s in scans), scans


def test_window_audit_parser_handles_nested_call_sort_keys():
    """The audit's spec parser must split windowspecdefinition args at
    TOP-LEVEL commas: a global window whose first sort expression is a
    multi-argument call (e.g. coalesce(a#1, b#2) ASC) is exactly the
    class the audit exists to flag, and a naive split(',') truncates it
    before its direction marker and silently passes it."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "scripts"))
    from window_audit import unpartitioned_specs

    # unpartitioned, nested-call sort key -> MUST be flagged
    p1 = (
        "Window [row_number() windowspecdefinition(coalesce(a#1, b#2) "
        "ASC NULLS FIRST, specifiedwindowframe(RowFrame, "
        "unboundedpreceding$(), currentrow$())) AS rn#9]"
    )
    assert unpartitioned_specs(p1), "nested-call global window missed"
    # partitioned (partition col first, then the same sort key) -> clean
    p2 = (
        "Window [row_number() windowspecdefinition(grp#7, "
        "coalesce(a#1, b#2) ASC NULLS FIRST, specifiedwindowframe("
        "RowFrame, unboundedpreceding$(), currentrow$())) AS rn#9]"
    )
    assert not unpartitioned_specs(p2), "partitioned window misflagged"
    # plain unpartitioned spec still flagged
    p3 = (
        "windowspecdefinition(score#3 DESC NULLS LAST, "
        "specifiedwindowframe(RowFrame, unboundedpreceding$(), "
        "currentrow$()))"
    )
    assert unpartitioned_specs(p3)


@pytest.mark.parametrize(
    "name", ["rel_asof_latest_click", "rel_range_window_join"]
)
def test_temporal_joins_never_nested_loop(spark, sf_dir, name):
    """The whole point of the as-of union-window and the interval-bucket
    band join: the naive inequality formulations plan as nested loops.
    These must stay hash/sort joins with no Python in the path."""
    plan = _plan(spark, name, sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan


def test_stored_listing_pushes_key_predicates_to_scan(spark, sf_dir):
    """listing_v2_stored reads the persisted (bucket, key)-sorted
    VersionedTable: the bucket equality and the key prefix/keyset
    predicates must reach the parquet reader as PushedFilters (file and
    row-group skipping on the sort key), and the scan must not read the
    full VERSION_COLS width for a listing projection."""
    # the default 100-char metadata clip truncates the PushedFilters
    # list mid-entry; widen it for the assertion window
    prev = spark.conf.get("spark.sql.maxMetadataStringLength", "100")
    spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
    try:
        plan = _plan(spark, "listing_v2_stored", sf_dir)
    finally:
        spark.conf.set("spark.sql.maxMetadataStringLength", prev)
    assert "PushedFilters: [" in plan
    pushed = plan.split("PushedFilters:", 1)[1][:2000]
    assert "EqualTo(bucket,corpus)" in pushed
    # the prefix filter pushes as StartsWith, the keyset as GreaterThan
    assert "StringStartsWith(key,data/src4/)" in pushed
    assert "GreaterThan(key,data/src4/de/)" in pushed
    # column pruning: listing needs key/size/flags, never etag/blob_hash
    read_schema = plan.split("ReadSchema:", 1)[1][:2000]
    assert "etag" not in read_schema and "blob_hash" not in read_schema


def test_placement_broadcasts_cluster_view(spark, sf_dir):
    """The cluster view is a constant-size dimension: subjects x nodes
    must plan as a broadcast nested loop (never a shuffled cross), and
    the per-subject ranking must not introduce a global window."""
    plan = _plan(spark, "placement_resolve_holders", sf_dir)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "BatchEvalPython" not in plan
    assert "Window" not in plan


# ---------------------------------------------------- round-9 planes
def test_visibility_cascade_is_broadcast_anti_join(spark, sf_dir):
    """The deletion cascade's 100 TB claim: the tombstone set is the
    BROADCAST side of a left-anti join — never a shuffled join of the
    corpus against the tombstones."""
    plan = _plan(spark, "registry_doc_count_live", sf_dir)
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "SortMergeJoin" not in plan
    plan = _plan(spark, "registry_listing_live", sf_dir)
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_prune_drain_is_bounded_topk(spark, sf_dir):
    """The due page must be a distributed TakeOrderedAndProject, and
    the only window is partitioned by the graph key."""
    plan = _plan(spark, "matq_graph_prune_drain", sf_dir)
    assert "TakeOrderedAndProject" in plan


def test_user_access_gate_broadcasts_rules(spark, sf_dir):
    plan = _plan(spark, "s3_user_access_gate", sf_dir)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "BatchEvalPython" not in plan


def test_cors_preflight_broadcasts_rules_no_python(spark, sf_dir):
    plan = _plan(spark, "s3_cors_preflight_match", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_replication_validate_is_one_map_stage(spark, sf_dir):
    """The ladder is a narrow CASE cascade: no join, no exchange."""
    plan = _plan(spark, "s3_replication_validate", sf_dir)
    assert "Join" not in plan
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan


def test_update_batch_validation_stays_jvm_side(spark, sf_dir):
    """The JSON-LD ladder runs on VARIANT expressions — no Python
    eval nodes anywhere in the classifier."""
    plan = _plan(spark, "registry_update_batch", sf_dir)
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_pii_scan_is_pure_codegen(spark, sf_dir):
    plan = _plan(spark, "textstats_pii_scan", sf_dir)
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "Exchange" not in plan  # narrow map stage, no shuffle


def test_location_summary_broadcasts_config_sides(spark, sf_dir):
    plan = _plan(spark, "replication_location_summary", sf_dir)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_mirror_repair_drain_is_bounded_topk_broadcast(spark, sf_dir):
    """The repair page is a distributed TakeOrderedAndProject head,
    the Reconcile re-read a broadcast join against the metadata-sized
    relationship catalog — never a shuffled join, never Python."""
    plan = _plan(spark, "sync_mirror_repair_drain", sf_dir)
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "BatchEvalPython" not in plan


def test_sync_create_duplicate_scan_broadcasts_catalog(spark, sf_dir):
    plan = _plan(spark, "sync_create_validate", sf_dir)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "BatchEvalPython" not in plan


def test_refresh_drain_is_bounded_topk_no_python(spark, sf_dir):
    plan = _plan(spark, "staging_refresh_drain", sf_dir)
    assert "TakeOrderedAndProject" in plan
    assert "BatchEvalPython" not in plan


def test_legacy_migration_broadcasts_both_catalogs(spark, sf_dir):
    """The bucket catalog and the existing-relationship catalog are
    broadcast sides; the legacy scan never shuffles."""
    plan = _plan(spark, "sync_legacy_migration", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "BatchEvalPython" not in plan


def test_routing_config_windows_partition_by_config(spark, sf_dir):
    """Every window in the validation plan partitions by the config
    key — configs are tens of rules, so no global window."""
    import re

    plan = _plan(spark, "s3_bucket_routing_config", sf_dir)
    for m in re.finditer(r"windowspecdefinition\(", plan):
        args = plan[m.end():m.end() + 120]
        assert args.startswith("bucket"), args[:60]


def test_ivf_sqrt_probe_is_dpp_pruned_scan(spark, sf_dir):
    """The sqrt-IVF scoring scan must carry dynamic partition pruning
    on the probed cells — never a full-list rescan."""
    plan = _plan(spark, "similarity_ivf_sqrt_topk", sf_dir)
    assert "dynamicpruning" in plan
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan


def test_global_scan_pos_has_no_unpartitioned_window(spark, sf_dir):
    """ops/ordering.global_scan_pos (the r11 replication-plane scan
    positions): the total-order rank must compose from a PARTITIONED
    row_number plus broadcast fold-prefixed offsets — no window spec
    without partition columns anywhere in the plan, and the offsets
    relation joins back broadcast."""
    import re

    for name in ("sync_placement_status", "sync_outbox_drain_plan"):
        plan = _plan(spark, name, sf_dir)
        assert "BroadcastHashJoin" in plan, name
        for m in re.finditer(r"windowspecdefinition\(([^)]*)", plan):
            first_arg = m.group(1).split(",")[0]
            # partition columns render WITHOUT a sort direction
            assert " ASC" not in first_arg and " DESC" not in first_arg, (
                name,
                m.group(0),
            )


def test_semdedup_shuffles_once_on_cell_and_broadcasts_centroids(
    spark, sf_dir
):
    plan = _plan(spark, "dedup_semantic_cells", sf_dir)
    # centroid assignment is a broadcast join; since r15 it executes in
    # the eager localCheckpoint build job, so the registered query's
    # final plan reads the materialized (vec_id, cell, ...) relation
    # (Scan ExistingRDD). The pairwise stage still equi-joins on the
    # cell key and never nested-loops the corpus against itself.
    assert (
        "BroadcastNestedLoopJoin" in plan
        or "BroadcastHashJoin" in plan
        or "ExistingRDD" in plan
    )
    assert "CartesianProduct" not in plan


def test_validation_ladders_broadcast_their_catalogs(spark, sf_dir):
    for name in (
        "role_mutation_validate",
        "realm_placement_mutation_validate",
        "onboarding_reserve_validate",
        "user_resolve_safe",
        "handle_allocation_walk",
    ):
        plan = _plan(spark, name, sf_dir)
        assert "BroadcastHashJoin" in plan, name
        assert "BatchEvalPython" not in plan, name
