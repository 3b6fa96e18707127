"""Physical-plan assertions — scale contracts, enforced in CI.

At 100 TB the plan IS the performance: a dropped pushdown or a join that
stops broadcasting is a silent 100x regression that sf0.001 correctness
tests cannot catch. These tests pin the plan shapes SURVEY.md §4 promises.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from flink_cdc_connectors_spark.plans import (
    has_single_partition_window,
    explain_str,
    has_broadcast_join,
    has_pushed_filters,
    has_single_partition_exchange,
    read_schema_columns,
    shuffle_count,
)
from flink_cdc_connectors_spark.registry import all_queries

Q = all_queries()


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    df = Q["filter_pred"].builder(spark, sf_dir)
    assert has_pushed_filters(df, "l_quantity", "l_discount")


def test_snapshot_chunk_predicate_pushdown(spark, sf_dir):
    """The chunked snapshot scan's key-range predicate must reach parquet —
    the Spark analog of the reference's per-split WHERE hitting the B-tree
    (StatementUtils.buildSplitScanQuery)."""
    df = Q["cdc_snapshot_scan"].builder(spark, sf_dir)
    assert has_pushed_filters(df, "l_orderkey")


def test_scan_projection_prunes_columns(spark, sf_dir):
    df = Q["scan_project"].builder(spark, sf_dir)
    cols = read_schema_columns(df)
    assert "p_partkey" in cols and "p_name" in cols
    assert "p_retailprice" in cols
    # the unreferenced wide columns must NOT be read
    assert "p_brand" not in cols and "p_size" not in cols


def test_small_dim_join_broadcasts(spark, sf_dir):
    assert has_broadcast_join(Q["join_broadcast"].builder(spark, sf_dir))


def test_offset_filter_is_broadcast_not_shuffle(spark, sf_dir):
    """The chunk-watermark range join must broadcast the tiny watermark
    table (BNLJ), never shuffle the changelog."""
    df = Q["cdc_offset_filter"].builder(spark, sf_dir)
    assert has_broadcast_join(df)
    assert shuffle_count(df) == 0


def test_uneven_chunks_has_no_global_sort(spark, sf_dir):
    """The distributed NTILE must not collapse to a single partition (the
    WindowExec 'No Partition Defined' anti-pattern)."""
    df = Q["cdc_chunk_split_uneven"].builder(spark, sf_dir)
    assert not has_single_partition_exchange(df)


def test_watermark_late_has_no_global_window(spark, sf_dir):
    """The running-max watermark must use the bucketed prefix-max, never a
    single-partition window (round-1 'WindowExec: No Partition Defined').
    Since round 3 the operator is fully lazy: the plan contains one-row
    global-aggregate SinglePartition exchanges (min/max over the
    checkpoint) — legitimate — so the audit pins the precise anti-pattern:
    a Window fed by a SinglePartition exchange."""
    df = Q["stream_watermark_late"].builder(spark, sf_dir)
    assert not has_single_partition_window(df)
    # the windowed running max must still be bucketed (a Window node exists)
    assert "Window" in explain_str(df, "simple")


def test_changelog_normalize_single_shuffle(spark, sf_dir):
    """Normalize = exactly one hash shuffle on the key; the downstream
    filter must not add exchanges."""
    df = Q["cdc_changelog_normalize"].builder(spark, sf_dir)
    assert shuffle_count(df) == 1


def test_flagship_reuses_normalize_shuffle(spark, sf_dir):
    """entry(): normalize (1 hash shuffle on pk) + groupBy(cohort) (1 hash
    shuffle) + the final orderBy's range exchange over the 10 result rows —
    and the normalize shows WindowGroupLimit Partial (pre-shuffle top-1)."""
    import __spark_entry__ as E

    df = E.entry(spark)
    assert shuffle_count(df) <= 3
    assert "WindowGroupLimit" in explain_str(df, "simple")


def test_sim_search_broadcasts_queries(spark, sf_dir):
    """Brute-force kNN: the query side broadcasts; the corpus must not
    shuffle for the join itself."""
    df = Q["ext_sim_search_cosine"].builder(spark, sf_dir)
    assert has_broadcast_join(df)


def test_pivot_is_single_aggregate(spark, sf_dir):
    """PIVOT must compile to ONE hash aggregate (conditional counts), not a
    per-pivot-value shuffle: exactly the one groupBy exchange."""
    df = Q["pivot_agg"].builder(spark, sf_dir)
    assert shuffle_count(df) == 1


def test_scalar_subquery_no_extra_shuffle(spark, sf_dir):
    """The scalar subquery is a one-row broadcast into the filter — the
    outer scan must not shuffle at all."""
    df = Q["subquery_scalar"].builder(spark, sf_dir)
    assert shuffle_count(df) == 0


def test_correlated_in_decorrelates_to_join(spark, sf_dir):
    """Correlated IN must decorrelate to a join (no per-row subquery
    execution); plan contains a semi/hash join, not a nested subquery."""
    plan = explain_str(Q["subquery_in_correlated"].builder(spark, sf_dir))
    assert "Join" in plan or "BroadcastHashJoin" in plan


def test_sampled_chunks_no_full_table_shuffle(spark, sf_dir):
    """sample_bucket_chunks assigns by broadcast boundary search — the full
    orders table itself is never shuffled; the only exchange left is the
    final per-chunk stats aggregate."""
    df = Q["cdc_chunk_split_sampled"].builder(spark, sf_dir)
    assert shuffle_count(df) <= 1


def test_simhash_aggregate_is_partial(spark, sf_dir):
    """The corpus-scale SimHash must show map-side partial aggregation
    (explode -> partial_sum -> exchange -> final), never a single-partition
    window. Since the round-4 double-scan fix the query eagerly
    localCheckpoints the fingerprint frame (the band self-join would
    otherwise compute it twice), so the aggregate's shape is audited on
    the fingerprint operator's own plan; the full query is still audited
    for single-partition exchanges."""
    from flink_cdc_connectors_spark.functions import text as T
    from flink_cdc_connectors_spark.sources.loaders import load_table

    docs = load_table(spark, sf_dir, "documents")
    fp = T.simhash_df(docs, "doc_id", T.words("text"))
    assert "partial" in explain_str(fp).lower()
    assert not has_single_partition_exchange(fp)
    assert not has_single_partition_exchange(
        Q["ext_dedup_simhash"].builder(spark, sf_dir)
    )


def test_distribution_windows_stay_partitioned(spark, sf_dir):
    """NTILE/PERCENT_RANK/CUME_DIST are partitioned by nation key — never a
    single-task global window."""
    assert not has_single_partition_exchange(
        Q["window_ntile_dist"].builder(spark, sf_dir)
    )
    assert not has_single_partition_exchange(
        Q["window_first_last"].builder(spark, sf_dir)
    )


def test_string_agg_broadcasts_dim_and_partials(spark, sf_dir):
    """LISTAGG: 25-row nation dim broadcasts; collect_set aggregates show a
    map-side partial pass."""
    df = Q["agg_string_agg"].builder(spark, sf_dir)
    assert has_broadcast_join(df)
    assert "partial" in explain_str(df).lower()


def test_map_ops_wordcount_shape(spark, sf_dir):
    """Map construction is the two-level wordcount: (user,type) then user —
    bounded shuffles, no single-partition stage."""
    df = Q["map_ops"].builder(spark, sf_dir)
    assert not has_single_partition_exchange(df)
    assert shuffle_count(df) <= 2


def test_unnest_filter_pushed_before_explode(spark, sf_dir):
    """The vec_id predicate reaches the parquet scan — explode must never
    multiply rows that pruning would have dropped."""
    assert has_pushed_filters(Q["explode_unnest"].builder(spark, sf_dir), "vec_id")


def test_not_in_plans_null_aware_anti_join(spark, sf_dir):
    """NOT IN must become a (null-aware) anti join, not a per-row
    subquery."""
    plan = explain_str(Q["subquery_not_in"].builder(spark, sf_dir))
    assert "Anti" in plan


def test_stream_static_dim_broadcasts(spark, sf_dir):
    """The enrichment dim must broadcast — a shuffled dim would re-shuffle
    the unbounded side every micro-batch."""
    assert has_broadcast_join(Q["stream_join_static"].builder(spark, sf_dir))


def test_repetition_and_scrub_are_pure_projections(spark, sf_dir):
    """Repetition scoring and PII scrubbing are per-row expressions — zero
    exchanges, nothing leaves the scan stage."""
    assert shuffle_count(Q["ext_repetition_ratio"].builder(spark, sf_dir)) == 0
    assert shuffle_count(Q["ext_pii_scrub"].builder(spark, sf_dir)) == 0


def test_stratified_sample_is_pushed_filter(spark, sf_dir):
    """The deterministic sampling coin is a plain filter — no sampling
    operator, no shuffle; each executor decides locally."""
    df = Q["ext_stratified_sample"].builder(spark, sf_dir)
    assert shuffle_count(df) == 0


def test_sequence_pack_no_global_window(spark, sf_dir):
    """Sequence packing must use the bucketed prefix-sum, never a
    single-partition ORDER BY window over the corpus (one-row global-agg
    SinglePartition exchanges from the lazy operator are legitimate)."""
    assert not has_single_partition_window(
        Q["ext_sequence_pack"].builder(spark, sf_dir)
    )


def test_shuffle_shard_partitioned_window(spark, sf_dir):
    """The training-order shuffle sorts within shards only — the
    row_number window is partitioned by shard, never global."""
    assert not has_single_partition_exchange(
        Q["ext_shuffle_shard"].builder(spark, sf_dir)
    )


def test_txn_metadata_partitioned_windows(spark, sf_dir):
    """Transaction reconstruction windows are partitioned by user_id — the
    per-key streams sessionize in parallel."""
    assert not has_single_partition_exchange(
        Q["cdc_txn_metadata"].builder(spark, sf_dir)
    )


def test_asof_join_is_single_shuffle_sweep(spark, sf_dir):
    """The temporal as-of join is the union+window sweep — one hash
    shuffle on the key, partitioned window, no range-join pair explosion."""
    df = Q["join_temporal_asof"].builder(spark, sf_dir)
    assert not has_single_partition_exchange(df)
    assert shuffle_count(df) <= 2  # union sides co-shuffle + window


def test_interval_join_uses_equi_key(spark, sf_dir):
    """The interval join must hash-join on user_id (time bound as a
    post-join filter), never a nested-loop cross product."""
    plan = explain_str(Q["join_interval"].builder(spark, sf_dir))
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan
    assert "NestedLoop" not in plan


def test_cumulate_expansion_is_map_side(spark, sf_dir):
    """CUMULATE assigns step indices by arithmetic + explode BEFORE the
    aggregate — one partial-aggregated shuffle, like a tumbling window."""
    df = Q["stream_cumulate_window"].builder(spark, sf_dir)
    assert shuffle_count(df) == 1
    assert "partial" in explain_str(df).lower()


def test_funnel_reuses_user_partitioning(spark, sf_dir):
    """The three funnel stages all aggregate on user_id; no stage may
    collapse to a single partition."""
    df = Q["pattern_funnel"].builder(spark, sf_dir)
    assert not has_single_partition_exchange(df)


def test_approx_distinct_within_tolerance(spark, sf_dir):
    """HLL++ at rsd=0.02 must land within 5% of exact on every group — the
    query certifies this via its within_tol flag (oracle expects all TRUE),
    and this test pins the flag directly."""
    rows = Q["agg_approx_distinct"].builder(spark, sf_dir).collect()
    assert len(rows) > 0
    for r in rows:
        assert r["within_tol"], f"{r['l_returnflag']}: sketch outside 5% tolerance"


def test_salted_agg_two_stage(spark, sf_dir):
    """Salted aggregation is exactly two partial-aggregable exchanges
    (keys+salt, then keys) and never a single hot-reducer stage."""
    df = Q["agg_skew_salted"].builder(spark, sf_dir)
    assert shuffle_count(df) == 2
    assert not has_single_partition_exchange(df)


def test_decontaminate_broadcasts_eval_set(spark, sf_dir):
    """The eval n-gram set broadcasts; the training corpus side is never
    hash-shuffled for the join (benchmark suites are kilobytes at any
    corpus scale)."""
    df = Q["ext_decontaminate"].builder(spark, sf_dir)
    assert has_broadcast_join(df)


def test_domain_mix_rates_broadcast(spark, sf_dir):
    """Per-stratum rates are a tiny dim — they must broadcast back onto the
    corpus, and the keep decision stays a filter (no sampling operator)."""
    df = Q["ext_domain_mix"].builder(spark, sf_dir)
    plan = explain_str(df)
    assert has_broadcast_join(df)
    assert "Sample" not in plan


def test_shingle_expression_evaluated_once(spark, sf_dir):
    """The shingle pipeline must evaluate split(normalize(text)) exactly
    ONCE per row: a plain explode lets InferFiltersFromGenerate synthesize
    a size()/isnotnull() filter over the whole shingle expression and push
    it below the fan_out repartition — re-evaluating the expression ~3x per
    row on the unparallelized pre-repartition scan (measured 13x the
    query at sf0.1). _shingles uses explode_outer + a post-generate filter
    to keep the optimized plan at one evaluation."""
    from flink_cdc_connectors_spark.queries.tier_c import _shingles, _with_copies
    from flink_cdc_connectors_spark.sources.loaders import fan_out, load_table

    docs = fan_out(_with_copies(load_table(spark, sf_dir, "documents")))
    plan = _shingles(docs)._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("split(") == 1
    assert plan.count("regexp_replace(") == 1


def test_substring_dedup_single_split_and_hash_shuffle(spark, sf_dir):
    """ext_dedup_substring inherits the single-evaluation explode pattern:
    the gram pipeline appears once per branch (the dup-aggregate and probe
    branches each scan the corpus — no shared-subplan in the logical plan),
    and crucially NO split() is inlined into a Filter — the pathology
    InferFiltersFromGenerate caused (re-evaluating the pipeline below the
    repartition) always surfaces as a Filter over the split expression."""
    df = Q["ext_dedup_substring"].builder(spark, sf_dir)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("split(") <= 2  # one per corpus branch
    for line in plan.splitlines():
        if "Filter" in line:
            assert "split(" not in line


def test_doc_chunk_splits_text_once(spark, sf_dir):
    """ext_doc_chunk must evaluate split(text) exactly once per row — the
    same InferFiltersFromGenerate hazard _shingles pins: a plain explode
    lets the inferred size()/isnotnull filter re-evaluate the split below
    the projection. explode_outer + post-generate isNotNull keeps it at
    one evaluation."""
    plan = (
        Q["ext_doc_chunk"]
        .builder(spark, sf_dir)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert plan.count("split(") == 1


def test_kmeans_centroid_join_broadcasts(spark, sf_dir):
    """Lloyd re-assignment must broadcast the k-row centroid table, never
    shuffle the corpus against it."""
    assert has_broadcast_join(Q["ext_kmeans_spherical"].builder(spark, sf_dir))


def test_lookup_join_no_cartesian(spark, sf_dir):
    """The TTL-cache lookup join is equi-keyed on (key, hour) end to end —
    no nested-loop/cartesian product anywhere in the plan."""
    plan = explain_str(Q["join_lookup"].builder(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_tfidf_reads_only_needed_columns(spark, sf_dir):
    """TF-IDF touches doc_id+text only — lang/source/n_chars must be pruned
    from the scan."""
    cols = read_schema_columns(Q["ext_tfidf"].builder(spark, sf_dir))
    assert "text" in cols and "doc_id" in cols
    assert "lang" not in cols and "source" not in cols


def test_topn_changelog_prefix_is_bounded(spark, sf_dir):
    """The update-stream Top-N replay joins only the bounded offset prefix:
    the slice predicate must push to the scan on both join branches."""
    df = Q["stream_topn_changelog"].builder(spark, sf_dir)
    assert has_pushed_filters(df, "event_id")


def test_connector_capture_keys_shuffle_budget(spark, sf_dir):
    """Per-connector capture decodes must stay at <= 2 PK shuffles: one
    lag window to synthesize the capture artifact, at most one more for
    the fold over the PARSED key (the parse re-derives the key from wire
    text, so Catalyst cannot prove the partitionings equal — the second
    exchange is the honest price a real consumer pays; anything beyond it
    is a regression)."""
    budget = {
        "cdc_logminer_redo": 2,
        "cdc_capture_sqlserver": 1,
        "cdc_capture_db2": 2,
        "cdc_mongo_changestream": 2,
        "cdc_postgres_wal2json": 1,
    }
    for key, n in budget.items():
        df = Q[key].builder(spark, sf_dir)
        assert shuffle_count(df) <= n, f"{key}: shuffle budget {n} exceeded"
        plan = explain_str(df)
        assert "SortMergeJoin" not in plan, f"{key}: unexpected SMJ"
        assert "CartesianProduct" not in plan, f"{key}: cartesian product"


def test_bloom_probe_has_no_join(spark, sf_dir):
    """The Bloom bitmap is a plan literal: the probe side must test bits
    with pure column arithmetic — no sort-merge join anywhere, exactly one
    hash exchange on doc_id (the per-doc aggregate), and the only joins
    are broadcasts (the exact-membership audit)."""
    df = Q["ext_bloom_decontaminate"].builder(spark, sf_dir)
    plan = explain_str(df)
    assert "SortMergeJoin" not in plan
    assert plan.count("hashpartitioning(doc_id") == 1
    assert has_broadcast_join(df)


def test_url_dedup_prunes_text_column(spark, sf_dir):
    """URL dedup derives the url from id/lang/source — the wide text
    column must never be read."""
    cols = read_schema_columns(Q["ext_url_dedup"].builder(spark, sf_dir))
    assert "text" not in cols
    assert "doc_id" in cols and "lang" in cols and "source" in cols


def test_line_dedup_boiler_set_broadcasts(spark, sf_dir):
    """The >=3-docs boilerplate-line set must broadcast back into the
    token stream (ext_unigram_logprob shape) — the corpus never shuffles
    for the join."""
    df = Q["ext_dedup_lines"].builder(spark, sf_dir)
    assert has_broadcast_join(df)
    plan = explain_str(df)
    assert "SortMergeJoin" not in plan


def test_commit_order_windows_are_partitioned(spark, sf_dir):
    """Commit-order visibility must never collapse to a single-partition
    window (lane/txn and PK windows are all keyed). Static shuffle count
    is 5 since the round-8 lane-window fix: lag window, (lane, txn)
    window, the lanes-row open-txn aggregate's exchange (3 combined rows
    — partial-agg collapsed), the final PK window, and the aggregate
    subtree's copy of the lag-window exchange (ReuseExchange at
    runtime). The shape that matters is pinned separately:
    test_oceanbase_has_no_lane_partitioned_window."""
    df = Q["cdc_oceanbase_commit_order"].builder(spark, sf_dir)
    assert not has_single_partition_window(df)
    assert shuffle_count(df) <= 5


def test_gtid_failover_bounds_broadcast(spark, sf_dir):
    """The per-uuid GTID bounds (2 rows) must broadcast back into the log;
    the log itself shuffles only for the lag window."""
    df = Q["cdc_gtid_failover"].builder(spark, sf_dir)
    assert has_broadcast_join(df)
    assert shuffle_count(df) <= 3


def test_zorder_layout_single_pass(spark, sf_dir):
    """The layout measurement must be one scan + one aggregate (predicates
    as conditional counts) — no joins, no repeated scans."""
    df = Q["ext_zorder_layout"].builder(spark, sf_dir)
    plan = explain_str(df, "simple")
    assert "Join" not in plan
    assert plan.count("FileScan") == 1


def test_salted_join_salt_in_join_keys(spark, sf_dir):
    """The skew salt must actually be part of the join partitioning —
    SortMergeJoin on (k, __salt), not a broadcast that hides the skew."""
    import re

    df = Q["join_skew_salted"].builder(spark, sf_dir)
    plan = explain_str(df, "simple")
    m = re.search(r"SortMergeJoin \[k#\d+L?, __salt#\d+\]", plan)
    assert m, f"salted SMJ not found in plan:\n{plan[:2000]}"


def test_audio_pipeline_is_map_only(spark, sf_dir):
    """Media processing must stay map-only: per-row payloads are
    self-contained, so encode -> binary -> decode-features has ZERO
    exchanges."""
    df = Q["ext_multimodal_audio"].builder(spark, sf_dir)
    assert shuffle_count(df) == 0
    plan = explain_str(df, "simple")
    assert plan.count("MapInPandas") == 2


def test_image_pipeline_is_map_only(spark, sf_dir):
    """Same contract for the real BMP codec path: encode -> BinaryType ->
    parse/features is two MapInPandas stages and zero exchanges."""
    df = Q["ext_multimodal_image"].builder(spark, sf_dir)
    assert shuffle_count(df) == 0
    plan = explain_str(df, "simple")
    assert plan.count("MapInPandas") == 2


def test_bmp_codec_bytes_are_wellformed():
    """The encoded payload is a REAL BMP: correct magic, declared file
    size, 54-byte pixel offset, and the decoder's features match a
    direct per-pixel recomputation."""
    import struct

    import numpy as np

    # replicate one doc's encode inline (d=5 -> w=9: pad 1; h=10)
    d, w, h = 5, 9, 10
    x = np.arange(w, dtype=np.int64)[None, :, None]
    y = np.arange(h, dtype=np.int64)[:, None, None]
    c = np.array([0, 11, 22], dtype=np.int64)[None, None, :]
    px = ((d * 7 + x * 3 + y * 5 + c) % 256).astype(np.uint8)
    stride = (w * 3 + 3) & ~3
    rows = np.zeros((h, stride), dtype=np.uint8)
    rows[:, : w * 3] = px.reshape(h, w * 3)
    body = rows[::-1].tobytes()
    blob = (
        struct.pack("<2sIHHI", b"BM", 54 + len(body), 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 2835, 2835, 0, 0)
        + body
    )
    magic, fsize, _, _, off = struct.unpack_from("<2sIHHI", blob, 0)
    assert (magic, fsize, off) == (b"BM", len(blob), 54)
    hsize, ww, hh, _pl, bpp, comp = struct.unpack_from("<IiiHHI", blob, 14)
    assert (hsize, ww, hh, bpp, comp) == (40, w, h, 24, 0)
    # decode path: un-pad, flip, compare against the direct pixel tensor
    arr = np.frombuffer(blob, dtype=np.uint8, count=h * stride, offset=off)
    back = arr.reshape(h, stride)[:, : w * 3][::-1].reshape(h, w, 3)
    assert np.array_equal(back, px)


def test_continuous_rollup_merge_is_two_aggregates(spark, sf_dir):
    """Rollup + tail partials then one merge: two hash exchanges, no
    single-partition stage (the watermark is a plan-time scalar)."""
    df = Q["agg_continuous_rollup"].builder(spark, sf_dir)
    assert shuffle_count(df) <= 3
    assert not has_single_partition_exchange(df)


def test_ann_recall_reads_only_checkpoint_leaves(spark, sf_dir):
    """ext_ann_recall's corpus and exact-truth frames are EAGER local
    checkpoints, not caches: the 5-method union embeds each subtree ~10x,
    and with a plain cache() Catalyst re-analyzes the full brute-force
    lineage at every schema resolution (measured 4.5-6.6 s of driver-side
    build time before any job ran). Pin the shape: every leaf of the final
    plan must be a checkpointed-RDD scan — a parquet scan appearing here
    means a reference re-derived the corpus and the analysis tax is back."""
    df = Q["ext_ann_recall"].builder(spark, sf_dir)
    plan = explain_str(df, "simple")
    assert "ExistingRDD" in plan, f"no checkpoint leaf:\n{plan[:2000]}"
    # Scope the negative check to scan nodes only: a raw substring match
    # over the whole plan would false-fail on any future column/relation
    # name containing 'parquet' (r3 ADVICE item).
    scan_lines = [ln for ln in plan.splitlines() if "FileScan" in ln]
    assert not scan_lines, (
        f"parquet scan leaked back into the recall plan:\n{scan_lines}"
    )


def test_video_pipeline_is_map_only(spark, sf_dir):
    """The Y4M codec path: encode -> BinaryType -> parse/sample/features is
    two MapInPandas stages and zero exchanges (1->N frame explode happens
    inside the decode batch)."""
    df = Q["ext_multimodal_video"].builder(spark, sf_dir)
    assert shuffle_count(df) == 0
    plan = explain_str(df, "simple")
    assert plan.count("MapInPandas") == 2


def test_split_vector_no_single_partition_window(spark, sf_dir):
    """splitVector's cumulative-byte chunking must ride the bucketed
    prefix sum — never a global ORDER BY window (the single-partition
    anti-pattern that would serialize a 100 TB collection)."""
    df = Q["cdc_chunk_split_vector"].builder(spark, sf_dir)
    assert not has_single_partition_window(df)


def test_spatial_decode_is_map_only_plus_distinct(spark, sf_dir):
    """Geometry decode is a projection beside the other converters: the
    only exchange is the DISTINCT on the key."""
    df = Q["cdc_spatial_decode"].builder(spark, sf_dir)
    assert shuffle_count(df) <= 1


def test_incremental_dedup_plan_shape(spark, sf_dir):
    """Incremental dedup reads ONE eagerly-checkpointed shingle frame
    (signatures, band join, and Jaccard verify all consume checkpoint
    blocks — no repeated corpus scans) and never collapses to a
    single-partition exchange."""
    df = Q["ext_dedup_incremental"].builder(spark, sf_dir)
    plan = explain_str(df, "simple")
    assert "ExistingRDD" in plan
    assert not has_single_partition_exchange(df)


def test_update_lookup_single_key_exchange(spark, sf_dir):
    """cdc_mongo_update_lookup: every window (the batch-end lookup RANGE
    frame, the anomaly sums, the final rank) rides ONE hash exchange on
    the document key; the only other exchange is the one-row batch-grid
    min/max aggregate over the raw scan. 2 exchanges total, and never a
    single-partition window."""
    df = Q["cdc_mongo_update_lookup"].builder(spark, sf_dir)
    assert shuffle_count(df) <= 2
    assert not has_single_partition_window(df)


def test_curation_pipeline_plan_shape(spark, sf_dir):
    """ext_curation_pipeline: the eval shingle set must BROADCAST into the
    contamination join (the train side never shuffles on the shingle), the
    flag frame is cached (InMemoryRelation) so the shingle join feeds both
    the stage aggregate and the mix pass once, and no single-partition
    window sneaks in."""
    df = Q["ext_curation_pipeline"].builder(spark, sf_dir)
    plan = explain_str(df, "formatted")
    assert "BroadcastHashJoin" in plan
    assert "InMemoryTableScan" in plan or "InMemoryRelation" in plan
    assert not has_single_partition_window(df)


def test_changelog_mode_all_path_is_stateless_aggregate(spark, sf_dir):
    """cdc_changelog_mode_upsert: the retract path must be a plain
    exploded-contribution hash aggregate — the whole key needs only the
    _logged lag window, the upsert PK window, and the small group
    aggregates; no single-partition exchange or window anywhere."""
    df = Q["cdc_changelog_mode_upsert"].builder(spark, sf_dir)
    assert not has_single_partition_window(df)
    assert not has_single_partition_exchange(df)


def test_envelope_min_pos_filter_sits_between_codec_and_window(spark, sf_dir):
    """The round-7 metadata-codec lever: with ``min_pos`` set, the
    position filter must sit BELOW the to_json projection (so dropped
    rows never pay the serializer — this was the 15.9x-at-100x cost) and
    ABOVE the lag windows (the state machine still replays full per-key
    history, keeping boundary before-images correct)."""
    from flink_cdc_connectors_spark.sources.envelope import events_to_debezium_json
    from flink_cdc_connectors_spark.sources.loaders import load_table

    df = events_to_debezium_json(load_table(spark, sf_dir, "events"), min_pos=600)
    plan = df._jdf.queryExecution().optimizedPlan().toString()  # noqa: SLF001
    lines = plan.splitlines()
    i_json = next(i for i, l in enumerate(lines) if "StructsToJson" in l)
    i_filt = next(i for i, l in enumerate(lines) if "Filter" in l and "> 600" in l)
    i_win = next(i for i, l in enumerate(lines) if l.lstrip("+- ").startswith("Window"))
    assert i_json < i_filt < i_win, (
        f"min_pos filter must sit between the json codec and the lag "
        f"windows (json@{i_json}, filter@{i_filt}, window@{i_win}):\n{plan[:800]}"
    )


def test_resize_pipeline_is_map_only(spark, sf_dir):
    """The resize op keeps the codec contract: decode -> NN resample ->
    features is two MapInPandas stages, zero exchanges."""
    df = Q["ext_multimodal_resize"].builder(spark, sf_dir)
    assert shuffle_count(df) == 0
    plan = explain_str(df, "simple")
    assert plan.count("MapInPandas") == 2


def test_resize_nn_mapping_is_exact():
    """The NN index map pins: src = (dst * src_dim) // dst_dim — resized
    pixels are EXACT source pixels (no interpolation), the top-left corner
    is always source (0,0), and the bottom-right corner maps to the floor
    index, never past the edge."""
    from flink_cdc_connectors_spark.queries.tier_c_ext5 import (
        _RESIZE_H,
        _RESIZE_W,
        _bmp_codec,
    )
    import numpy as np
    import pandas as pd

    encode, parse = _bmp_codec()
    pdf = pd.DataFrame({"doc_id": [5], "w": [11], "h": [10]})
    blob = next(encode(iter([pdf])))["image"][0]
    w, h, px = parse(blob)
    assert (w, h) == (11, 10)
    xs = (np.arange(_RESIZE_W) * w) // _RESIZE_W
    ys = (np.arange(_RESIZE_H) * h) // _RESIZE_H
    assert xs[0] == 0 and ys[0] == 0
    assert xs[-1] < w and ys[-1] < h
    small = px[ys][:, xs]
    # every resized pixel equals the formula at its SOURCE coordinates
    for yo in range(_RESIZE_H):
        for xo in range(_RESIZE_W):
            for c, off in ((0, 0), (1, 11), (2, 22)):
                want = (5 * 7 + int(xs[xo]) * 3 + int(ys[yo]) * 5 + off) % 256
                assert int(small[yo, xo, c]) == want


def test_pgoutput_decode_has_no_per_lsn_shuffle(spark, sf_dir):
    """cdc_pgoutput_relation: the as-of schema resolution must be a pure
    broadcast interval join — no hash exchange keyed on the data LSN
    anywhere (the pre-round-8 newest-wins form resolved with a
    groupBy(lsn) aggregate that shuffled every parsed tuple; at the 10M
    ladder point that shuffle WAS the 100x cost center)."""
    df = Q["cdc_pgoutput_relation"].builder(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" in plan, "the relation registry must broadcast"
    assert "hashpartitioning(lsn" not in plan, (
        "decode must not shuffle per data LSN"
    )


def test_tikv_decode_is_two_combinable_aggregates(spark, sf_dir):
    """cdc_tikv_two_phase: txn assembly and latest-state fold must both be
    partial-combinable hash aggregates — no shuffle join of the phase
    streams and no per-key window sort (the pre-round-8 form paid a
    left-anti + inner join on (k, s) plus a window: two sorted 10M-row
    sides at the ladder point)."""
    df = Q["cdc_tikv_two_phase"].builder(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan
    assert "Window" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, (
        "the resolved-ts frontier must ride a broadcast"
    )


def test_oceanbase_has_no_lane_partitioned_window(spark, sf_dir):
    """cdc_oceanbase_commit_order: the per-lane open-transaction mark
    must be an aggregate + broadcast join, never a window partitioned by
    lane alone — lane cardinality is a constant (_OB_LANES), so a
    lane-partitioned exchange squeezes the whole log into that many
    tasks (measured 16.4x at the 10M ladder point before the fix)."""
    import re

    df = Q["cdc_oceanbase_commit_order"].builder(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # a lane-only EXCHANGE still exists — it carries the _OB_LANES-row
    # partial-aggregate output into the broadcast, not the log; the
    # pathology is a lane-only WINDOW SPEC (whole log in _OB_LANES tasks)
    assert not re.search(
        r"windowspecdefinition\(lane#\d+L?, specifiedwindowframe", plan
    ), "found a lane-only window: constant-cardinality partition spec"
    assert "BroadcastExchange" in plan


def test_pq_gemm_adc_matches_join_form(spark, sf_dir, monkeypatch):
    """ext_sim_search_pq: the scale-mode GEMM ADC shortlist (numpy
    lookup-table per IVF cell, cogrouped applyInPandas) must produce
    row-identical results to the oracle-replayed join + expression form —
    including the salted variant that bounds per-group memory when a
    fixed-16-cell corpus grows past _PQ_GEMM_GROUP_ROWS per cell. Rounding
    to 6dp happens BEFORE ranking on both engines, so summation-order fp
    noise cannot flip the rank-32 shortlist boundary."""
    from flink_cdc_connectors_spark.queries import tier_c_ext3 as T

    def run():
        return (
            T.ext_sim_search_pq(spark, sf_dir)
            .toPandas()
            .sort_values(["q_id", "rn"])
            .reset_index(drop=True)
        )

    jvm = run()
    monkeypatch.setattr(T, "_PQ_GEMM_MIN_ROWS", 0)
    gemm = run()
    assert jvm.equals(gemm), "GEMM ADC shortlist diverged from the join form"
    # salted grouping (forces n_salt > 1): per-group top-32 partials must
    # compose to the same global top-32
    monkeypatch.setattr(T, "_PQ_GEMM_GROUP_ROWS", 5)
    salted = run()
    assert jvm.equals(salted), "salted GEMM partial top-k diverged"


def test_token_count_batch_engine_matches_jvm_regex(spark, sf_dir, monkeypatch):
    """ext_token_count: the scale-mode mapInPandas tokenizer (precompiled
    re.findall, re.ASCII) must be value-identical to the JVM
    regexp_extract_all form the oracle replays — the gate may only change
    the engine, never a count."""
    from flink_cdc_connectors_spark.queries import tier_c as T

    jvm = (
        T.ext_token_count(spark, sf_dir)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    monkeypatch.setattr(T, "_MINHASH_SCALE_DOCS", -1)
    batch = (
        T.ext_token_count(spark, sf_dir)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
        .astype(jvm.dtypes.to_dict())
    )
    assert jvm.equals(batch), "batch tokenizer diverged from the JVM regex"


def test_token_count_scale_form_is_map_only(spark, sf_dir, monkeypatch):
    """ext_token_count past the gate: one Arrow-batched MapInPandas over
    the pruned (doc_id, text) scan — zero exchanges (the multimodal
    family's self-contained-payload shape). A shuffle here would mean the
    tokenizer started moving document text for no semantic reason."""
    from flink_cdc_connectors_spark.queries import tier_c as T

    monkeypatch.setattr(T, "_MINHASH_SCALE_DOCS", -1)
    df = T.ext_token_count(spark, sf_dir)
    assert shuffle_count(df) == 0
    assert "MapInPandas" in explain_str(df)
    # pruning: only the two consumed columns reach the scan
    assert read_schema_columns(df) == {"doc_id", "text"}


def test_cosine_gemm_matches_join_form(spark, sf_dir, monkeypatch):
    """ext_sim_search_cosine: the scale-mode batch-GEMM exact scan (one
    matmul per corpus Arrow batch against the collected <= 20-vector query
    matrix, per-batch top-10 partials) must be row-identical to the
    broadcast-join + HOF form the oracle replays. Rounding to 6dp happens
    BEFORE ranking on both engines; partial top-10s compose because any
    global top-10 member is in its batch's top-10 under the same total
    order."""
    from flink_cdc_connectors_spark.queries import tier_c as T

    def run():
        return (
            T.ext_sim_search_cosine(spark, sf_dir)
            .toPandas()
            .sort_values(["q_id", "rn"])
            .reset_index(drop=True)
        )

    jvm = run()
    monkeypatch.setattr(T, "_COSINE_GEMM_MIN_ROWS", 0)
    gemm = run().astype(jvm.dtypes.to_dict())
    assert jvm.equals(gemm), "GEMM exact scan diverged from the join form"


def test_srp_batch_sig_matches_hof(spark, sf_dir):
    """_srp_sig_batch (numpy matmul bucket-assign) must produce the exact
    bucket string the srp_bucket Column form produces for the same plane
    count — the embedding-LSH scale modes swap only the engine, never a
    bucket boundary."""
    from flink_cdc_connectors_spark.functions import vectors as V
    from flink_cdc_connectors_spark.queries.tier_c import _srp_sig_batch
    from flink_cdc_connectors_spark.sources.loaders import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.select("vec_id", V.as_double("embedding").alias("v"))
    for planes in (8, 13):
        jvm = (
            base.select(
                "vec_id", V.srp_bucket("v", num_planes=planes).alias("bucket")
            )
            .toPandas()
            .sort_values("vec_id")
            .reset_index(drop=True)
        )
        batch = (
            _srp_sig_batch(base, "v", planes)
            .select("vec_id", "bucket")
            .toPandas()
            .sort_values("vec_id")
            .reset_index(drop=True)
        )
        assert jvm.equals(batch), f"bucket mismatch at {planes} planes"


def test_minhash_recall_signature_stage_is_shuffle_free(spark, sf_dir):
    """Round 11: ext_minhash_recall measures the SHIPPED xxhash64 family,
    whose signature is array_min over a transform — a pure projection.
    The retired md5 form paid an explode + groupBy(doc_id) MIN exchange
    just to build signatures; pin that no hashpartitioning(doc_id) ever
    reappears in the plan (the only doc-keyed exchanges allowed are the
    band-candidate distinct on (id_a, id_b))."""
    from flink_cdc_connectors_spark.registry import all_queries

    df = all_queries()["ext_minhash_recall"].builder(spark, sf_dir)
    plan = spark._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "simple")
    assert "hashpartitioning(doc_id" not in plan, (
        "signature stage regressed to a doc_id shuffle:\n" + plan[:2000]
    )


def test_gram_hash_family_gates_are_value_identical(spark, sf_dir, monkeypatch):
    """VERDICT r11 #4 — the three equality-only gram-key gates. Past
    _MINHASH_SCALE_DOCS, ext_dedup_substring / ext_decontaminate /
    ext_curation_pipeline swap md5-over-joined-words grams for xxhash64
    word-tuple hashes. The gram value never reaches the output — only its
    EQUALITY classes do — so the gate may not change a single cell
    (modulo 64-bit collisions, absent on every fixture). This is the
    forced-gate A/B that lets these keys carry no oracle_max_docs flag:
    their oracles stay valid at every corpus size because the families
    are value-identical, and this pin is what makes that claim checked
    rather than asserted in a docstring."""
    from flink_cdc_connectors_spark.queries import tier_c as TC
    from flink_cdc_connectors_spark.registry import all_queries

    qs = all_queries()
    for key in ("ext_dedup_substring", "ext_decontaminate", "ext_curation_pipeline"):
        def run(k=key):
            pdf = qs[k].builder(spark, sf_dir).toPandas()
            return pdf.sort_values(list(pdf.columns)).reset_index(drop=True)

        sub_gate = run()
        monkeypatch.setattr(TC, "_MINHASH_SCALE_DOCS", -1)
        forced = run().astype(sub_gate.dtypes.to_dict())
        monkeypatch.undo()
        assert sub_gate.equals(forced), (
            f"{key}: xxhash64 gram family diverged from the md5 family "
            "the oracle replays"
        )
        assert len(sub_gate) > 0, f"{key}: vacuous A/B (0 rows)"
