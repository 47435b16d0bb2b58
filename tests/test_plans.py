"""Physical-plan assertions: the optimizations the engine depends on must be
visible in `explain` output — filters pushed to the parquet scan, small dims
broadcast, map-side partial aggregation, no nested-loop joins on the pair
operators (the regressions these guard were all real, see BENCH.md)."""

from __future__ import annotations

from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_to_parquet(spark):
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    q = li.filter(F.col("l_shipdate") <= "1997-01-01").select("l_orderkey", "l_quantity")
    plan = _plan(q)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # column pruning: the scan must read only the 3 referenced columns
    rs = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_orderkey" in rs and "l_shipdate" in rs and "l_quantity" in rs
    assert "l_extendedprice" not in rs and "l_partkey" not in rs


def test_dim_join_is_broadcast(spark):
    from covsar_spark.contract import QUERIES

    plan = _plan(QUERIES["region_revenue"](spark, "/root/testdata/sf0.001"))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # three tiny dims must all broadcast


def test_rollup_has_partial_aggregation(spark):
    from covsar_spark.contract import QUERIES

    plan = _plan(QUERIES["rollup_1m"](spark, "/root/testdata/sf0.001"))
    # partial_count before the exchange = map-side combine
    assert "partial_count" in plan or "partial_" in plan
    assert plan.count("Exchange") >= 1


def test_epoch_pairs_is_not_nested_loop(spark):
    """The bounded-lag pair join must stay a hash/sort join — the theta form
    silently degraded to BroadcastNestedLoopJoin (46s at sf0.1)."""
    from covsar_spark.contract import QUERIES

    plan = _plan(QUERIES["epoch_pairs"](spark, "/root/testdata/sf0.001"))
    assert "NestedLoopJoin" not in plan


def test_no_python_eval_in_text_ops(spark):
    """Text ops are pure column expressions: no row-at-a-time Python nodes
    (higher-order array lambdas legitimately run outside WholeStageCodegen,
    but never as Python)."""
    from covsar_spark.contract import QUERIES

    plan = _plan(QUERIES["quality_score"](spark, "/root/testdata/sf0.001"))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_whole_stage_codegen_on_q1(spark):
    from covsar_spark.contract import QUERIES

    import contextlib
    import io

    df = QUERIES["q1_pricing"](spark, "/root/testdata/sf0.001")
    # AQE's pre-execution plan hides the codegen wrappers; the codegen
    # explain mode reports the generated subtrees directly
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("codegen")
    assert "WholeStageCodegen" in buf.getvalue()
    assert "BatchEvalPython" not in _plan(df)


def test_bootstrap_single_aggregation_no_explode(spark):
    """bootstrap_pvalue must stay ONE wide aggregate over the base rows —
    the rows x reps explode formulation cost 8.4s at sf0.1."""
    from covsar_spark.contract import QUERIES

    plan = _plan(QUERIES["bootstrap_pvalue"](spark, "/root/testdata/sf0.001"))
    assert "Generate explode" not in plan and "Generate " not in plan
    assert "partial_" in plan  # map-side combine of the 120 conditional aggs


def test_near_dup_pairs_no_driver_state(spark):
    """The block-matmul near-dup must be a shuffle plan with only the tiny
    int block-pair table broadcast: packed blocks (ObjectHashAggregate
    collect_list) attach via shuffle equi-joins, the gemm runs in
    mapInPandas — never a driver-side collect (round-1 finding) and never a
    broadcast of the packed VECTOR table (round-3 finding: that ships the
    whole corpus to every executor)."""
    from covsar_spark.operators.similarity import near_dup_pairs

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    plan = _plan(near_dup_pairs(emb))
    assert "MapInPandas" in plan
    assert "BroadcastExchange" in plan  # the bare int pair-id table only
    assert "CollectLimit" not in plan
    # the collect_list aggregate must sit under a shuffle (hash exchange on
    # blk), not under a broadcast exchange
    assert "ObjectHashAggregate" in plan


def test_jaccard_verified_candidates_not_hint_broadcast(spark):
    """The LSH candidate-pair table grows quadratically inside hot buckets on
    a duplicate-heavy corpus, so jaccard_verified must NOT force-broadcast it
    (or the O(n_docs) sizes table) with a hint — broadcast only when AQE
    decides it fits. With the auto-broadcast threshold disabled, a hint-free
    plan has zero BroadcastExchange nodes; a leftover F.broadcast() hint
    would still show one."""
    from covsar_spark.operators.dedup import jaccard_verified

    thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        plan = _plan(jaccard_verified(docs))
        assert "BroadcastExchange" not in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)


def test_gapfill_cross_no_nested_loop(spark):
    """The cross-series fill joins grid<-per-epoch and grid<-per-source stats
    on equi-keys plus one single-row broadcast cross join — never a
    NestedLoopJoin over data-sized tables."""
    from covsar_spark.contract import QUERIES

    plan = _plan(QUERIES["gapfill_cross_1m"](spark, "/root/testdata/sf0.001"))
    # the only nested-loop allowed is the 1-row global-mean broadcast
    assert plan.count("NestedLoopJoin") <= 1


def test_repetition_stats_partial_agg(spark):
    """Both explode+count passes must partial-aggregate map-side."""
    from covsar_spark.contract import QUERIES

    plan = _plan(QUERIES["repetition_stats"](spark, "/root/testdata/sf0.001"))
    assert "partial_count" in plan or "partial_" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_lc_window_stats_single_aggregate(spark):
    from covsar_spark.contract import QUERIES

    plan = _plan(QUERIES["lc_window_stats"](spark, "/root/testdata/sf0.001"))
    assert "partial_" in plan
    assert "Join" not in plan  # one scan, one agg — no join anywhere


def test_minhash_single_shuffle_partial_agg(spark):
    """All 16 mins in one aggregate: exactly one HASH exchange (doc_id),
    with map-side partial mins — the param cross-join shuffled rows x16.
    (The r9 single-split scan fan-out adds one ROUND-ROBIN exchange of the
    raw docs below it; that one disappears on multi-split inputs.)"""
    from covsar_spark.contract import QUERIES

    plan = _plan(QUERIES["minhash_signatures"](spark, "/root/testdata/sf0.001"))
    assert plan.count("hashpartitioning") == 1
    assert plan.count("Exchange") <= 2
    assert "partial_min" in plan


def test_closure_kernel_single_exchange(spark):
    """The closure-correction kernel runs on the span-kernel skeleton: ONE
    repartition on (source, span) feeding one sorted MapInPandas — no
    grouped-map pass, no joins (the sentinel branch is a union)."""
    from covsar_spark.operators.closure_correct import closure_correct

    import pandas as pd

    pdf = pd.DataFrame(
        {"source": ["a"] * 10, "epoch_s": [60 * i for i in range(10)], "token_count": range(10)}
    )
    plan = _plan(closure_correct(spark.createDataFrame(pdf), "1m"))
    assert plan.count("REPARTITION_BY_NUM") == 1, plan
    assert "MapInPandas" in plan, plan
    assert "FlatMapGroupsInPandas" not in plan, plan
    assert "Join" not in plan, plan


def test_tier_kernel_single_exchange(spark, tiny_cols):
    """The fast-path tier kernel must add exactly ONE exchange beyond the
    input (its repartition). The rollup here is not persisted, so the
    sentinel branch does not reuse it: Catalyst computes its per-source
    min/max(epoch_s) straight from the input, a second scan with its own
    hash exchange (see sentinel_union_prep)."""
    from covsar_spark.operators.rollup import rollup_tokens, with_event_time
    from covsar_spark.operators.tier_kernel import tier_kernel
    from .conftest import cols_to_spark

    roll = rollup_tokens(with_event_time(cols_to_spark(spark, tiny_cols)), "1m")
    plan = _plan(tier_kernel(roll, "1m"))
    # exactly one wide kernel shuffle; no join in the kernel's data path
    # (the sentinel branch is a union, not a join)
    assert plan.count("REPARTITION_BY_NUM") == 1
    assert "SortMergeJoin" not in plan and "NestedLoopJoin" not in plan


def test_run_tiers_closure_reads_persisted_kernel(spark, tiny_cols):
    """On the kernel path the closure stats come out of the tier kernel:
    the closure frame scans its persisted span rows, with no grouped
    pandas pass and no span-bucket repartition of the rollup."""
    from covsar_spark.plans.pipeline import run_tiers
    from .conftest import cols_to_spark

    d = run_tiers(cols_to_spark(spark, tiny_cols), with_chunks=True, with_closure=True)["1m"]
    plan = _plan(d["closure"])
    assert "InMemoryTableScan" in plan and "MapInPandas" in plan, plan
    # nothing shuffles above the cached kernel output
    assert "Exchange" not in plan.split("InMemoryRelation")[0], plan
    assert "FlatMapGroupsInPandas" not in plan, plan
    assert "_bkt" not in plan, plan
    for t in ("rollup", "fused"):
        d[t].unpersist()


def _flagship_tokens(spark):
    return spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.col("n_chars").cast("long").alias("n_tok"),
        "source",
    )


def test_flagship_reuses_filled_tier(spark):
    """flagship() is one select over the 1m tier kernel's span rows: its
    final AQE plan holds the kernel's one repartition and one MapInPandas,
    and no join and no cached relation (the hourly sums and gap counts are
    span-row scalars, not an explode and re-group of the dense points)."""
    from covsar_spark.plans.pipeline import flagship

    df = flagship(_flagship_tokens(spark))
    assert df.collect()
    plan = _plan(df)
    assert "isFinalPlan=true" in plan, plan
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("REPARTITION_BY_NUM") == 1, final
    assert final.count("MapInPandas") == 1, final
    assert "Join" not in final, final
    assert "InMemoryRelation" not in final and "InMemoryTableScan" not in final, final


def test_flagship_leaves_no_cache(spark):
    """Repeated flagship() calls pin nothing in executor storage: starting
    from an empty cache, two collected calls leave no persisted RDD."""
    from covsar_spark.plans.pipeline import flagship

    spark.catalog.clearCache()
    for _ in range(2):
        assert flagship(_flagship_tokens(spark)).collect()
    assert spark.sparkContext._jsc.getPersistentRDDs().isEmpty()


def test_nearest_point_broadcast_partial_agg(spark):
    """nearest_point: the query side must broadcast (no shuffle of the
    candidate table for the join) and the argmin must partial-aggregate
    map-side — NOT a window over the cross join."""
    from covsar_spark.contract import QUERIES

    plan = _plan(QUERIES["nearest_point"](spark, "/root/testdata/sf0.001"))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "partial_min" in plan
    assert "Window" not in plan


def test_boilerplate_ngrams_hash_group_partial_agg(spark):
    """boilerplate_ngrams groups on the 60-bit shingle hash with map-side
    combine; the ranking is a TakeOrdered on the collapsed table, never a
    global Sort of the exploded shingle stream."""
    from covsar_spark.contract import QUERIES

    plan = _plan(QUERIES["boilerplate_ngrams"](spark, "/root/testdata/sf0.001"))
    assert "partial_" in plan
    assert "TakeOrderedAndProject" in plan


def test_ann_plan_build_runs_no_jobs(spark):
    """Round-5 verdict #6: the auto-sized ANN entries used to pay one eager
    count() job per plan build. With parquet-footer counts plumbed through
    (contract._parquet_rows) building the plan must launch ZERO Spark jobs
    — job-group membership is the witness."""
    from covsar_spark.contract import QUERIES

    sc = spark.sparkContext
    # warm the schema memo OUTSIDE the witness group: the FIRST touch of a
    # parquet path pays one footer schema-inference job (memoized by
    # contract._read), which is not the plan-build count this test guards
    from covsar_spark.contract import _read

    _read(spark, "/root/testdata/sf0.001", "embeddings")
    for name in ("ann_ivf_topk", "near_dup_lsh", "near_dup_cosine"):
        group = f"planbuild_{name}"
        sc.setJobGroup(group, "plan build must not run jobs")
        try:
            QUERIES[name](spark, "/root/testdata/sf0.001")
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        ids = sc.statusTracker().getJobIdsForGroup(group)
        assert not ids, f"{name}: plan build launched Spark jobs {ids}"


def test_ann_pinned_oracle_guard_trips_loudly():
    """The pinned-parameter guard (round-5 advice): a corpus size whose
    auto-resolution differs from the oracle-pinned value must raise, not
    silently diverge."""
    import pytest

    from covsar_spark.contract import _assert_pinned
    from covsar_spark.operators.similarity import resolve_n_lists, resolve_n_planes

    # driver scales resolve to the pinned values...
    assert resolve_n_lists(500) == 16 and resolve_n_lists(2000) == 16
    assert resolve_n_planes(500, n_planes=6) == 6
    assert resolve_n_planes(2000, n_planes=6) == 6
    # ...and past the documented 2048-vector ceiling the guard trips
    assert resolve_n_lists(4096) == 32
    with pytest.raises(ValueError, match="oracle-pinned"):
        _assert_pinned(resolve_n_lists(4096), 16, "ann_ivf_topk", "n_lists")


def test_lsh_topk_multitable_plan_shape(spark):
    """Multi-table lsh_topk (round 6) must stay all-equi-join: the (t,
    bucket) probe join broadcasts the exploded query side, candidate dedup
    is a hash aggregate on bare id pairs, and nothing degenerates into a
    nested-loop or cartesian join."""
    from covsar_spark.contract import _read
    from covsar_spark.operators.similarity import lsh_topk

    emb = _read(spark, "/root/testdata/sf0.001", "embeddings")
    plan = _plan(lsh_topk(emb, n_queries=5, k=10, n_tables=4, auto_planes=True, n_vecs=500))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    assert "HashAggregate" in plan  # bare id-pair dedup, partial+final


def test_unwrap2d_tiled_plan_shape(spark):
    """The tiled unwrap's scale contract, as caught-and-fixed by
    b011304:scripts/unwrap_scale.py (slope 1.93 -> sub-linear): seam joins must be
    strip-pre-filtered equi-joins (never a full-pixel-table join with the
    strip condition inside the predicate), the tile-adjacency constants and
    per-raster means must broadcast, and the persisted tile kernel must be
    read back from cache downstream (InMemoryTableScan) instead of
    re-running per consumer."""
    from covsar_spark.contract import _uw2_field
    from covsar_spark.operators.unwrap2d import unwrap_2d_tiled

    field = _uw2_field(spark, "/root/testdata/sf0.001")
    out = unwrap_2d_tiled(field, ["r_name"], tile=16)
    try:
        plan = _plan(out)
        assert "SortMergeJoin" not in plan
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert "BroadcastHashJoin" in plan
        # every stage1 consumer (4 seam strips, the final re-join, the
        # means side) reads the persisted kernel back as a cache scan —
        # the kernel fills the cache once instead of re-running per
        # consumer (pre-persist: ~6 executions, BENCH.md round 7). Note
        # each InMemoryTableScan PRINTS the cached plan inline, so
        # counting FlatMapGroupsInPandas text occurrences would be
        # meaningless here.
        assert plan.count("InMemoryTableScan") >= 6
        # strip filters sit above the cache read, BEFORE the seam joins:
        # only 1-pixel edge strips ever shuffle
        assert "pmod(" in plan and ", 16) = 15)" in plan and ", 16) = 0)" in plan
    finally:
        spark.catalog.clearCache()


def test_phase_residues_plan_shape(spark):
    """Tiled residue counting (round 8) must be ONE grouped-map pass over
    halo-routed pixels — zero joins of the pixel table (the r7 relational
    form was 3 equi-joins = 4 scans of the biggest table at raster scale),
    one explode, one shuffle on (raster, tile), then partial/final
    aggregation."""
    from covsar_spark.contract import QUERIES

    plan = _plan(QUERIES["phase_residues"](spark, "/root/testdata/sf0.001"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" not in plan
    assert plan.count("FlatMapGroupsInPandas") == 1
    assert "Generate explode" in plan
    assert "HashAggregate" in plan


def test_hll_cascade_plan_shape(spark):
    """Sketch scale shape: every leg is a map-side-combined hash aggregate
    (partial_max on registers before its exchange), the per-day estimator
    tables join via broadcast (≤ windows rows), and nothing sort-merges or
    windows over raw rows."""
    from covsar_spark.contract import QUERIES

    plan = _plan(QUERIES["hll_user_cascade"](spark, "/root/testdata/sf0.001"))
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert "partial_max" in plan  # register merge combines map-side
    assert "Window" not in plan


def test_hdr_quantiles_plan_shape(spark):
    """The cum-sum windows must run over the aggregated bucket tables, not
    raw rows: every Window sits above a HashAggregate in the plan tree, and
    the raw scans feed partial counts (map-side combine) first."""
    from covsar_spark.contract import QUERIES

    plan = _plan(QUERIES["hdr_value_quantiles"](spark, "/root/testdata/sf0.001"))
    assert "SortMergeJoin" not in plan
    assert "partial_count" in plan
    # raw rows never hit a Window operator directly: each Window's subtree
    # below it must already contain an aggregate (bucket table), which shows
    # up as no Window line preceding the first HashAggregate bottom-up
    lines = plan.splitlines()
    scan_idx = [i for i, ln in enumerate(lines) if "Scan parquet" in ln]
    win_idx = [i for i, ln in enumerate(lines) if "Window" in ln]
    agg_idx = [i for i, ln in enumerate(lines) if "HashAggregate" in ln]
    # every Window appears above (earlier than) some aggregate that sits
    # between it and the scans below — i.e. windows are post-aggregation
    assert win_idx and scan_idx
    for w in win_idx:
        assert any(w < a < max(scan_idx) for a in agg_idx)


def test_tier_refresh_plan_shape(spark):
    """Incremental refresh: the dirty-window set joins by BROADCAST on both
    sides (semi on the raw re-scan, anti on the kept tier), the merge is a
    plain union of disjoint sets, and both rollups keep map-side combine.
    A SortMergeJoin here would mean the tiny invalidation set is being
    shuffled with the tier — the exact failure mode the operator exists to
    avoid."""
    from covsar_spark.contract import QUERIES

    plan = _plan(QUERIES["tier_refresh_1h"](spark, "/root/testdata/sf0.001"))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "LeftSemi" in plan and "LeftAnti" in plan
    assert "SortMergeJoin" not in plan
    assert "Union" in plan
    assert "partial_count" in plan


def test_span_dedup_plan_shape(spark):
    """Hashed span-dedup scale path: rolling hashes are JVM codegen (no
    Python), the candidate joins broadcast, and — the O(len^2) guard — the
    explode output schema carries only (doc_id, pos, hk), never the tokens
    array (parent columns are copied per exploded row, so tokens attached
    to the explode would amplify a 2048-token doc ~2000x before the first
    exchange)."""
    from covsar_spark.contract import QUERIES

    plan = _plan(QUERIES["span_dedup"](spark, "/root/testdata/sf0.001"))
    assert "Python" not in plan
    # every join is an equi-join (hash keys: hk / gram / doc_id); which
    # strategy wins is AQE's runtime call since candidate sizes are dynamic
    # — but a nested-loop or cartesian would mean a join lost its keys
    assert "NestedLoop" not in plan and "Cartesian" not in plan
    assert "partial_count" in plan
    # the generate (explode) operators must not carry the tokens column:
    # tokens may feed the hash INSIDE the exploded expression, but the
    # Generate node's retained-parent and output attribute lists (the line's
    # tail, e.g. "..., [doc_id#110], false, [g#21]") must not retain it
    gen_lines = [ln for ln in plan.splitlines() if "Generate explode" in ln]
    assert gen_lines
    for ln in gen_lines:
        assert "tokens#" not in ln[-100:], ln[-160:]


def test_counter_increase_single_exchange(spark):
    """The module's scale claim, verified in the plan: the cumsum window,
    the lag window, and the (source, window) rollup all reuse ONE exchange
    on source — HashPartitioning(source) satisfies the agg's clustered
    distribution on (source, epoch_s) because source is a subset of the
    grouping keys. A second exchange would mean the rollup re-shuffles
    window-level partials it could have combined in place."""
    from covsar_spark.contract import QUERIES

    plan = _plan(QUERIES["counter_increase_1h"](spark, "/root/testdata/sf0.001"))
    assert plan.count("Exchange") == 1, plan
    assert "Python" not in plan


def test_counter_increase_window_local_lag(spark):
    """r9 decomposition (r8 verdict #1): the operator's sample-level lag
    partitions by (keys, WINDOW) like its four siblings — a series' full
    history never sorts in one task — and the only per-(keys) window left
    runs over the AGGREGATED one-row-per-window boundary table. Pinned on
    the raw operator (no fixture cumsum in the way)."""
    import re

    from pyspark.sql import functions as F

    from covsar_spark.operators.counters import counter_increase

    df = spark.range(100).select(
        (F.col("id") % 3).cast("string").alias("source"),
        (F.col("id") * 97).alias("epoch_s"),
        (F.col("id") * 5).alias("ctr"),
    )
    out = counter_increase(df, "ctr", keys=("source",), ts_col="epoch_s", tier_s=3600)
    plan = _plan(out)
    # the lag over SAMPLES must partition by (source, window-epoch): its
    # windowspecdefinition lists two partition columns before the _ts order
    assert re.search(
        r"lag\(_c#\d+.*windowspecdefinition\(source#\d+, epoch_s#\d+L?, _ts#", plan
    ), plan
    # no sample-level window partitioned by source alone: every
    # source-only windowspec must be the boundary lag over _last_c
    for m in re.finditer(r"windowspecdefinition\(source#\d+L?, epoch_s#\d+L? ASC", plan):
        ctx = plan[max(0, m.start() - 120): m.start()]
        assert "_last_c" in ctx, plan
    assert "Python" not in plan


def test_time_weighted_avg_single_exchange(spark):
    """LOCF weights: the lead() window partitions by (source, window) and
    the rollup groups by the same keys, so the whole operator is one
    exchange — and per-series state never exceeds one tumbling window."""
    from covsar_spark.contract import QUERIES

    plan = _plan(QUERIES["time_weighted_avg_1h"](spark, "/root/testdata/sf0.001"))
    assert plan.count("Exchange") == 1, plan
    assert "Python" not in plan


def test_lttb_single_grouped_map_pass(spark):
    """LTTB is one applyInPandas over the series keys: exactly one
    exchange, one Arrow grouped-map node, and the scan reads only the three
    referenced columns (ts, event_type, value)."""
    from covsar_spark.contract import QUERIES

    plan = _plan(QUERIES["lttb_downsample"](spark, "/root/testdata/sf0.001"))
    assert plan.count("Exchange") == 1, plan
    assert "FlatMapGroupsInPandas" in plan
    rs = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "props" not in rs and "user_id" not in rs


def test_state_durations_single_exchange(spark):
    """state_agg semantics: the lead() window partitions by (source, win)
    and the groupBy adds only `state` on top — a superset, so the exchange
    is reused and the operator is one shuffle."""
    from covsar_spark.contract import QUERIES

    plan = _plan(QUERIES["state_durations_1h"](spark, "/root/testdata/sf0.001"))
    assert plan.count("Exchange") == 1, plan
    assert "Python" not in plan


def test_ohlc_partial_agg_before_exchange(spark):
    """Candlestick rollup: min_by/max_by over the (ts, ord) struct makes
    the whole operator ONE groupBy with MAP-SIDE partial aggregation — the
    exchange carries per-(source, window) partials, not raw rows. The
    row_number() form this replaced shuffled EVERY raw row to feed the
    window operator and sorted by (source, win, ts, ord); the struct-buffer
    SortAggregate here sorts on the two group keys only, after the row
    count has already collapsed."""
    from covsar_spark.contract import QUERIES

    plan = _plan(QUERIES["ohlc_1h"](spark, "/root/testdata/sf0.001"))
    assert plan.count("Exchange") == 1, plan
    assert "Python" not in plan
    assert "Window" not in plan, "regressed to the window-function form"
    # the partial min_by must appear BELOW the exchange (map side)
    pre_exchange = plan.split("Exchange")[-1]
    assert "partial_min_by" in pre_exchange, plan


def test_heartbeat_coverage_single_exchange(spark):
    from covsar_spark.contract import QUERIES

    plan = _plan(QUERIES["heartbeat_coverage_1h"](spark, "/root/testdata/sf0.001"))
    assert plan.count("Exchange") == 1, plan
    assert "Python" not in plan


def test_run_tiers_relational_policy_eigen_and_chunks(spark, tiny_cols):
    """A non-zero fill policy composes the operators directly: the eigen and
    chunk tables both come from the same gap-filled tier, one row per span
    each. `run_tiers` runs the zero-fill tier kernel only, and refuses what
    the kernel cannot give; it and `tier_kernel` refuse the options they no
    longer take."""
    import pytest

    from covsar_spark.operators.compress import compress_rollup
    from covsar_spark.operators.eigen import eigen_rollup
    from covsar_spark.operators.gapfill import gapfill
    from covsar_spark.operators.rollup import rollup_tokens, with_event_time
    from covsar_spark.operators.tier_kernel import tier_kernel
    from covsar_spark.plans.pipeline import run_tiers
    from .conftest import cols_to_spark

    tokens = cols_to_spark(spark, tiny_cols)
    roll = rollup_tokens(with_event_time(tokens), "1m")
    filled = gapfill(roll, "1m", "ffill")
    eig = eigen_rollup(filled, "1m").select("source", "span_s", "n_epochs")
    ch = compress_rollup(filled, "1m").select("source", "span_s", "n_points")
    eig = eig.orderBy("source", "span_s").collect()
    ch = ch.orderBy("source", "span_s").collect()
    assert eig and [tuple(r) for r in eig] == [tuple(r) for r in ch]
    assert len({(r.source, r.span_s) for r in eig}) == len(eig)
    with pytest.raises(ValueError):
        run_tiers(tokens, with_eigen=False, persist=False)
    with pytest.raises(TypeError):
        run_tiers(tokens, policy="ffill", persist=False)
    with pytest.raises(TypeError):
        run_tiers(tokens, with_filled=False, persist=False)
    with pytest.raises(TypeError):
        run_tiers(tokens, persist_fused=False, persist=False)
    with pytest.raises(TypeError):
        tier_kernel(roll, "1m", emit_points=False)
