"""Physical-plan shape assertions: the scale properties the operators
advertise must be visible in the executed plan, not just the docstring.
(Plans only — nothing here executes a job beyond tiny scans.)"""

from __future__ import annotations

import re

import pytest

from opensnowcat_collector_spark.engine import registry


def _executed(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _plan(spark, sf_dir, name: str) -> str:
    return _executed(registry.all_queries()[name](spark, sf_dir))


def test_curation_pipeline_single_explode(spark, sf_dir):
    """The fused curation pipeline must explode the token stream exactly
    once — the whole point of composing dedup+quality+langid in one plan."""
    plan = _plan(spark, sf_dir, "corpus_curation_pipeline")
    assert plan.count("Generate explode") == 1, plan


def test_ngram_jaccard_no_cartesian(spark, sf_dir):
    """DF-capped shingle self-join must stay an equi-join on shingle —
    never a cartesian/broadcast-nested-loop explosion."""
    plan = _plan(spark, sf_dir, "dedup_ngram_jaccard")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_minhash_no_wide_aggregate(spark, sf_dir):
    """Minhash signatures must not carry per-doc shingle arrays through
    the shuffle (collect_set/collect_list were the row-width hazard)."""
    plan = _plan(spark, sf_dir, "dedup_minhash_lsh")
    assert "collect_set" not in plan and "collect_list" not in plan


def test_q3_broadcasts_dim_and_pushes_filters(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q3_shipping_priority")
    assert "BroadcastHashJoin" in plan
    assert re.search(r"PushedFilters: \[[^\]]*(GreaterThan|LessThan|EqualTo)", plan), plan


def _capture_checkpoints(spark, monkeypatch) -> list:
    """Record every frame ``localCheckpoint`` is called on: once
    checkpointed, a plan shows the split stage only as an ExistingRDD
    scan, so its Python stage is visible on the frame before."""
    frame_cls = type(spark.range(1))  # the session's concrete DataFrame
    seen: list = []
    original = frame_cls.localCheckpoint

    def spy(self, *args, **kwargs):
        seen.append(self)
        return original(self, *args, **kwargs)

    monkeypatch.setattr(frame_cls, "localCheckpoint", spy)
    return seen


def test_split_pipeline_single_python_stage(spark, monkeypatch):
    """``route`` is one narrow chain: one scan, no Union and no Python.
    ``run`` adds exactly one Python stage, the MapInPandas split of the
    oversized subset, and it lives inside the split checkpoint: the good
    and bad plans read the checkpoint (ExistingRDD) instead of
    re-expanding the Python stage."""
    from opensnowcat_collector_spark import pipeline
    from opensnowcat_collector_spark.config import CollectorConfig
    from opensnowcat_collector_spark.schema import RAW_REQUEST_SCHEMA

    from .fixtures import raw_requests

    cfg = CollectorConfig(deterministic_now_ms=1705320000000)
    raw = spark.createDataFrame(raw_requests(), RAW_REQUEST_SCHEMA)
    routed = pipeline.route(raw, cfg)
    route_plan = _executed(routed)
    assert route_plan.count("Scan") == 1, route_plan
    assert "Union" not in route_plan, route_plan
    for python_node in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython"):
        assert python_node not in route_plan, route_plan

    checkpointed = _capture_checkpoints(spark, monkeypatch)
    res = pipeline.run(routed, cfg)
    assert len(checkpointed) == 1
    split_plan = _executed(checkpointed[0])
    assert split_plan.count("MapInPandas") == 1, split_plan
    for out in (res.good, res.bad):
        plan = _executed(out)
        assert plan.count("MapInPandas") == 0, plan
        assert "ExistingRDD" in plan, plan


def test_topk_avoids_global_sort(spark, sf_dir):
    plan = _plan(spark, sf_dir, "topk_orders")
    assert "TakeOrderedAndProject" in plan


@pytest.mark.parametrize("name", ["sim_ann_lsh", "sim_ann_multiprobe"])
def test_ann_probe_partition_filters(spark, sf_dir, name):
    plan = _plan(spark, sf_dir, name)
    pf = re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert any("bucket" in p for p in pf), plan


def test_ann_batch_dynamic_partition_pruning(spark, sf_dir):
    """The batch-ANN bucket join must prune corpus partitions at runtime
    via DPP (join key = the index's partition column, query side
    broadcast)."""
    plan = _plan(spark, sf_dir, "sim_ann_batch")
    assert "dynamicpruning" in plan.lower(), plan


def test_ivf_kmeans_probe_trains_nothing(spark, sf_dir):
    """The k-means IVF probe must read the PERSISTED quantizer: no
    training joins/aggregations in the probe plan (was 18 exchanges when
    Lloyd iterations ran inline per query), and the vector scan pruned to
    the query's cell partition."""
    plan = _plan(spark, sf_dir, "sim_ann_ivf_kmeans")
    assert plan.count("Exchange") == 0, plan
    pf = re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert any("cell" in p for p in pf), plan
    assert "TakeOrderedAndProject" in plan


def test_salted_join_spreads_hot_key(spark, sf_dir):
    """With broadcast disabled (the 100 TB shape — dim too big to
    broadcast), the salted join must shuffle BOTH sides on (key, _salt):
    the hot key spreads over n_salts tasks instead of one."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan(spark, sf_dir, "join_skew_salted")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert re.search(r"hashpartitioning\([^)]*_salt", plan), plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_dedup_kmeans_reads_ivf_artifact(spark, sf_dir):
    """dedup_embedding_kmeans shares the persisted IVF artifact: exactly
    one shuffle (the groupBy(cell) feeding applyInPandas) and no
    training subtree."""
    plan = _plan(spark, sf_dir, "dedup_embedding_kmeans")
    assert plan.count("Exchange") <= 1, plan
    assert "FlatMapGroupsInPandas" in plan


def test_semdedup_no_cross_cluster_pairs(spark, sf_dir):
    """dedup_semdedup (r10): the epsilon-ball pass is per-CELL inside
    one applyInPandas over the persisted IVF layout — the plan must
    contain no join at all (no corpus self-join, no cartesian product:
    the only way a cross-cluster pair could form), no training subtree,
    and at most the single groupBy(cell) exchange."""
    plan = _plan(spark, sf_dir, "dedup_semdedup")
    assert plan.count("Exchange") <= 1, plan
    assert "FlatMapGroupsInPandas" in plan
    for node in ("CartesianProduct", "SortMergeJoin", "ShuffledHashJoin",
                 "BroadcastHashJoin", "BroadcastNestedLoopJoin"):
        assert node not in plan, (node, plan)


def test_bucketed_join_zero_exchanges(spark, sf_dir):
    """Both sides of join_bucketed_colocated read the materialized
    bucketed layout, so the join and the per-order aggregation must plan
    with ZERO exchanges even with broadcast disabled — the shuffle was
    paid once at layout-write time."""
    from opensnowcat_collector_spark.engine import registry

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = registry.all_queries()["join_bucketed_colocated"](spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "Exchange" not in plan, plan
    assert plan.count("Bucketed: true") == 2, plan
    assert "SortMergeJoin" in plan, plan


def test_incremental_ann_probe_prunes_partitions(spark, sf_dir):
    """The probe over the incrementally-appended index must still read
    only the query's bucket partition — appended files widen a bucket,
    never the scan."""
    from opensnowcat_collector_spark.engine import registry

    df = registry.all_queries()["sim_ann_incremental"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    import re

    pf = [p for p in re.findall(r"PartitionFilters: \[([^\]]*)\]", plan) if "bucket" in p]
    assert pf, plan


def test_no_driver_collect_in_graded_query_modules():
    """No graded query body may stage data through the driver: ``.collect()``
    is banned in every engine query module (VERDICT r5 item 2 — the
    leftouter replay staging was the last holdout, now executor-side via
    repartitionByRange).  Bounded O(1) pulls (``.first()``/``.head()`` on
    aggregates, small-index ``.toPandas()``) remain allowed; it is the
    unbounded full-result pull that kills a 1000-executor run."""
    import os

    import opensnowcat_collector_spark.engine as eng

    root = os.path.dirname(eng.__file__)
    offenders = []
    for dirpath, _dirs, files in os.walk(root):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(dirpath, fn)
            with open(path, encoding="utf-8") as f:
                for lineno, line in enumerate(f, 1):
                    code = line.split("#", 1)[0]
                    if ".collect()" in code:
                        offenders.append(f"{os.path.relpath(path, root)}:{lineno}")
    assert offenders == [], f"driver-side .collect() in engine modules: {offenders}"


def test_gopher_gates_zero_exchange_codegen(spark, sf_dir):
    plan = _plan(spark, sf_dir, "text_gopher_quality_gates")
    assert "Exchange" not in plan  # pure scan-stage projection
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "*(1)" in plan  # whole-stage codegen'd


def test_global_shuffle_no_corpus_single_partition_sort(spark, sf_dir):
    """position assignment must not funnel the corpus through one task:
    the only SinglePartition structure allowed is the <=SHUFFLE_PARTS-row
    offset window; the offsets join back is a broadcast."""
    plan = _plan(spark, sf_dir, "curate_global_shuffle")
    assert plan.count("SinglePartition") <= 1
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan
    # no global Sort: every Sort node in the plan is intra-partition
    for line in plan.splitlines():
        if "Sort " in line and "SortMergeJoin" not in line:
            assert "global=false" in line or "global=true" not in line, line


def test_countmin_sketch_broadcast_only(spark, sf_dir):
    """CMS heavy hitters: sketch and candidate set join BROADCAST (both
    bounded — <=768 counter rows, survivors only); the corpus-scaled
    side must never sort-merge."""
    plan = _plan(spark, sf_dir, "agg_countmin_heavy_hitters")
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 2


def test_sweep_concurrency_no_global_window(spark, sf_dir):
    """The sweep-line prefix sum must run per-hour (partitioned window);
    the only SinglePartition structure allowed is the |hours|-row carry
    cumsum, joined back broadcast."""
    plan = _plan(spark, sf_dir, "events_max_concurrency_sweep")
    assert plan.count("SinglePartition") <= 1
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" in plan


@pytest.mark.parametrize(
    "name,max_exchanges",
    [
        ("events_sliding_window_stats", 2),  # one window-start shuffle (+AQE read)
        ("join_asof_nearest", 1),  # one user_id shuffle shared by both frames
        ("curate_importance_resample", 0),  # scan-stage replication
    ],
)
def test_r6_ops_exchange_budget(spark, sf_dir, name, max_exchanges):
    plan = _plan(spark, sf_dir, name)
    assert plan.count("Exchange") <= max_exchanges, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_langid_profiles_broadcast_scoring(spark, sf_dir):
    """The 250-row profile must broadcast into the scoring join; the
    corpus-scaled gram side never sort-merges."""
    plan = _plan(spark, sf_dir, "text_langid_ngram_profiles")
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan


# ---- r7/r8 additions (VERDICT r7 item 4) ----------------------------------


def test_split_accounting_python_only_on_oversized(spark, sf_dir, monkeypatch):
    """The graded query runs the pipeline's one Python stage exactly once:
    the MapInPandas split sits inside the single split checkpoint, over a
    Union-free routed chain, and the query's own plan reads the
    checkpoint (ExistingRDD) with ZERO re-expanded MapInPandas nodes.  The
    accounting joins never degenerate to nested-loop shapes."""
    checkpointed = _capture_checkpoints(spark, monkeypatch)
    plan = _plan(spark, sf_dir, "collector_split_accounting")
    assert len(checkpointed) == 1
    split_plan = _executed(checkpointed[0])
    assert split_plan.count("MapInPandas") == 1, split_plan
    assert "Union" not in split_plan, split_plan
    assert plan.count("MapInPandas") == 0, plan
    assert "ExistingRDD" in plan, plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_thrift_roundtrip_two_python_stages_no_shuffle(spark, sf_dir):
    """Thrift encode (Arrow-batched scalar UDF) + decode (mapInPandas)
    are the only Python stages and the roundtrip is a pure per-row map:
    ZERO exchanges — byte fidelity must not cost a shuffle."""
    plan = _plan(spark, sf_dir, "collector_thrift_roundtrip")
    assert "Exchange" not in plan, plan
    assert plan.count("ArrowEvalPython") == 1, plan
    assert plan.count("MapInPandas") == 1, plan
    assert "BatchEvalPython" not in plan  # never row-at-a-time Python


def test_redirect_origin_gates_zero_exchange_codegen(spark, sf_dir):
    """F4/F5/T6 gates are scan-stage projections: no shuffle, no Python,
    whole-stage codegen'd — the allowlist checks must stay free at scale."""
    plan = _plan(spark, sf_dir, "collector_redirect_origin_gates")
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "*(1)" in plan


def test_shingle_containment_merge_hints_hold(spark, sf_dir):
    """Every corpus-scaled join in the containment query carries the
    anti-broadcast merge hint (the 64x broadcast-OOM class from
    BASELINE.md): the plan may contain ONLY sort-merge joins — a
    BroadcastHashJoin here means a statistics-less corpus-scaled side
    got broadcast and will OOM at scale."""
    plan = _plan(spark, sf_dir, "dedup_shingle_containment")
    assert "BroadcastHashJoin" not in plan, plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert plan.count("SortMergeJoin") >= 2, plan


def test_radius_search_broadcasts_probes_never_corpus(spark, sf_dir):
    """The radius BNLJ must build on the bounded probe set (modulo-
    selected, caller-bounded in production), NEVER the corpus: the single
    BroadcastExchange subtree must be the probe-side modulo filter, and
    the Arrow pair-cosine (not row-at-a-time Python) evaluates the
    predicate."""
    from opensnowcat_collector_spark.engine.llmdata.similarity import RADIUS_MOD

    plan = _plan(spark, sf_dir, "sim_radius_search")
    assert plan.count("BroadcastNestedLoopJoin") == 1, plan
    assert plan.count("BroadcastExchange") == 1, plan
    bx = plan.index("BroadcastExchange")
    assert f"% {RADIUS_MOD}" in plan[bx : bx + 600], (
        "broadcast side is not the modulo-filtered probe set:\n" + plan
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" in plan


def test_entropy_metrics_partial_agg_no_python(spark, sf_dir):
    """Char/word entropy: two explode->count streams, each map-side
    combined, one doc_id join — no Python stage, no nested-loop shapes,
    bounded exchange budget (2 per stream + join)."""
    plan = _plan(spark, sf_dir, "text_entropy_metrics")
    assert plan.count("Exchange") <= 5, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_suffix_repeats_blocked_window_no_global_sort(spark, sf_dir):
    """The suffix sort must be the hash-partitioned blocked window —
    never a single-partition global sort; the block key is the
    substring_index PREFIX of skey evaluated in the exchange (r14: the
    key itself is never shipped — only skey crosses the wire, and the
    window rides the same expression with no second exchange); LCP
    terms stay codegen'd (no Python, no interpreted higher-order
    aggregate)."""
    plan = _plan(spark, sf_dir, "dedup_suffix_repeats")
    assert "SinglePartition" not in plan, plan
    assert re.search(r"hashpartitioning\(substring_index\(skey", plan), plan
    assert plan.count("Exchange") <= 3, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "aggregate(" not in plan  # no interpreted lambda LCP


def test_suffix_apply_sweep_reuses_doc_partitioning(spark, sf_dir):
    """The span-union sweep adds ONE doc_id-keyed window over flagged
    positions and the final aggregate reuses that partitioning: still no
    SinglePartition anywhere, <= 2 exchanges total, zero Python."""
    plan = _plan(spark, sf_dir, "curate_suffix_dedup_apply")
    assert "SinglePartition" not in plan, plan
    assert plan.count("Exchange") <= 2, plan
    assert "EvalPython" not in plan and "MapInPandas" not in plan


def test_cascade_accounting_three_key_windows_no_joins(spark, sf_dir):
    """The dedup cascade is three chained hash-key windows (one exchange
    per stage key — the minimum for sequential survivor semantics) plus
    ONE single-row aggregate exchange: exactly 4 exchanges, 3 windows,
    and NO join of any kind (a join here means a stage re-scanned the
    corpus instead of threading survivor flags through the windows)."""
    plan = _plan(spark, sf_dir, "dedup_cascade_accounting")
    assert plan.count("Exchange") == 4, plan
    assert plan.count("Window") == 3, plan
    assert "Join" not in plan, plan
    assert "EvalPython" not in plan and "MapInPandas" not in plan
    for key in ("k1", "k2", "k3"):
        assert re.search(rf"hashpartitioning\({key}", plan), (key, plan)


def test_bigram_logprob_flat_explodes_no_lambdas(spark, sf_dir):
    """Bigram stream is a flat codegen'd position explode (sequence +
    element_at) — never an interpreted array lambda — and the two count
    tables come back as equi-joins (no nested-loop shapes)."""
    plan = _plan(spark, sf_dir, "text_bigram_logprob")
    assert "transform(" not in plan and "aggregate(" not in plan, plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "EvalPython" not in plan and "MapInPandas" not in plan


def test_embed_dim_stats_map_side_partial_single_exchange(spark, sf_dir):
    """Per-dim stats must collapse the DIM-way fan-out map-side: partial
    HashAggregate BEFORE the one and only exchange (shuffle volume =
    DIM x partitions regardless of corpus size), no joins, no Python."""
    plan = _plan(spark, sf_dir, "embed_dim_stats")
    assert plan.count("Exchange") == 1, plan
    # top-down plan string prints final agg / Exchange / PARTIAL agg —
    # partial_avg after the exchange in the text means it runs map-side
    # BEFORE the shuffle
    assert "partial_avg" in plan, plan
    assert plan.index("partial_avg") > plan.index("Exchange"), plan
    assert "Join" not in plan and "EvalPython" not in plan


def test_dsir_weights_bucket_table_always_broadcast(spark, sf_dir):
    """The DSIR scoring join must broadcast the CONSTANT-bounded 4096-row
    bucket table — never sort-merge the bigram stream against it; the
    only SinglePartition structure is the bounded bucket-totals
    aggregate (4096 rows -> 1), and the only BNLJ is the single-row
    totals broadcast."""
    plan = _plan(spark, sf_dir, "curate_dsir_weights")
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("BroadcastHashJoin") == 1, plan
    assert plan.count("BroadcastNestedLoopJoin") == 1, plan
    assert plan.count("SinglePartition") == 1, plan
    assert "EvalPython" not in plan and "MapInPandas" not in plan


def test_zipf_fit_distributed_topk_never_global_vocab_sort(spark, sf_dir):
    """The Zipf head must come from distributed partial top-k
    (TakeOrderedAndProject) — a global Sort of the vocabulary here is
    the scale killer; only the bounded 1000-row head reaches the
    row_number window, and the whole query costs ONE exchange."""
    plan = _plan(spark, sf_dir, "text_zipf_fit")
    assert plan.count("TakeOrderedAndProject") == 1, plan
    assert plan.count("Exchange") == 1, plan
    assert "EvalPython" not in plan and "MapInPandas" not in plan


def test_ccnet_buckets_single_lang_exchange_shared_by_windows(spark, sf_dir):
    """CCNet bucketing: the rank and per-lang count windows must SHARE
    one lang-keyed exchange (never two); the only SinglePartition
    structure is the single-row vocab total; no Python anywhere."""
    plan = _plan(spark, sf_dir, "curate_ccnet_buckets")
    assert len(re.findall(r"hashpartitioning\(lang", plan)) == 1, plan
    assert plan.count("SinglePartition") == 1, plan
    assert "EvalPython" not in plan and "MapInPandas" not in plan


def test_bpe_merge_argmax_stays_distributed(spark, sf_dir, monkeypatch):
    """BPE merge training (r8): with the lineage-bounding
    localCheckpoints disabled (identity-patched) so the full plan is
    visible, the query must show (a) one TakeOrderedAndProject(1) argmax
    per merge step — the merge decision is distributed partial top-k,
    never a global vocab sort or a driver collect; (b) merge application
    as BroadcastNestedLoopJoin of the SINGLE-ROW argmax side only
    (steps-1 applies); (c) zero sort-merge/shuffled-hash joins — nothing
    corpus-scaled is ever joined; (d) no Python stages.  The production
    path additionally checkpoints each stage boundary, which is pinned
    separately: its executed plan must contain ONLY checkpoint /local
    scans (bounded lineage — step k never recomputes steps 1..k-1)."""
    # Spark 4: instances are the classic concrete class, not the
    # pyspark.sql.DataFrame ABC — patch where the method resolves.
    from pyspark.sql.classic.dataframe import DataFrame

    from opensnowcat_collector_spark.engine.llmdata import text as T

    # r11: the graded query reads the build_bpe artifact, so the chain
    # pins run against the BUILD-time loop directly (the classifier-pin
    # pattern); the graded-query side gets its own reads-artifact pin.
    def train_plan():
        merges, _vocab = T._bpe_merge_loop(spark, sf_dir, apply_final=False)
        return merges._jdf.queryExecution().executedPlan().toString()

    # Production path: lineage is bounded — nothing but checkpoint scans.
    prod_plan = train_plan()
    assert "Scan ExistingRDD" in prod_plan, prod_plan
    assert "Exchange" not in prod_plan, prod_plan

    monkeypatch.setattr(
        DataFrame, "localCheckpoint", lambda self, eager=True: self
    )
    full_plan = train_plan()
    n = T.BPE_MERGE_STEPS
    # With checkpoints identity-patched the shared step-k subtrees are
    # DUPLICATED down every later step's lineage (the blow-up the
    # checkpoints exist to prevent), so counts are lower bounds, not
    # equalities.
    assert full_plan.count("TakeOrderedAndProject") >= n, full_plan
    assert full_plan.count("BroadcastNestedLoopJoin") >= n - 1, full_plan
    assert "SortMergeJoin" not in full_plan, full_plan
    assert "ShuffledHashJoin" not in full_plan, full_plan
    assert "BroadcastHashJoin" not in full_plan, full_plan
    assert "EvalPython" not in full_plan and "MapInPandas" not in full_plan


def test_bpe_merge_steps_reads_artifact(spark, sf_dir):
    """text_bpe_merge_steps (r11): the graded query reads the PERSISTED
    merge table — one bounded parquet scan, no corpus scan, no training
    subtree, no Python (the build_unigram_lm pay-once pattern)."""
    from opensnowcat_collector_spark.engine.llmdata.text import build_bpe

    build_bpe(spark, sf_dir)  # ensure the artifact exists
    plan = _plan(spark, sf_dir, "text_bpe_merge_steps")
    assert "merges" in plan, plan  # artifact scan
    assert "documents" not in plan, plan
    assert "Exchange" not in plan, plan
    assert "EvalPython" not in plan and "MapInPandas" not in plan


def test_bpe_segment_counts_broadcast_scoring_single_exchange(spark, sf_dir):
    """BPE apply (r8): the token stream must meet the |V|-row word->n_sub
    mapping as a BROADCAST hash join (the langid-profiles scoring shape)
    — never a sort-merge that shuffles the corpus on word — and the doc
    aggregation must partial-combine map-side so the ONLY corpus-scale
    exchange is the doc_id hash (vocab-chain checkpoints contribute
    none).  No Python stages."""
    plan = _plan(spark, sf_dir, "text_bpe_segment_counts")
    assert plan.count("BroadcastHashJoin") == 1, plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan, plan
    assert len(re.findall(r"Exchange hashpartitioning\(doc_id", plan)) == 1, plan
    assert "partial_count" in plan, plan
    assert plan.index("partial_count") > plan.index("Exchange hashpartitioning"), plan
    assert "EvalPython" not in plan and "MapInPandas" not in plan
    # the broadcast mapping is CAPPED (VERDICT r10 item 2): the build
    # side must flow through the distributed top-k, never an uncapped
    # corpus-vocab-keyed table (nor a global Sort for the cap itself)
    assert "TakeOrderedAndProject" in plan, plan
    assert plan.index("TakeOrderedAndProject") > plan.index("BroadcastHashJoin"), plan


def test_dup_line_fractions_two_combined_exchanges_no_python(spark, sf_dir):
    """MassiveText duplicate-line fractions (r8; re-shaped by the r14
    scan spread): at sf scale the one-split scan is hash-spread on
    doc_id BEFORE the line chunking (``tables.spread_scan``), and both
    aggregations — (doc_id, line) occurrence counts, then the doc_id
    rollup — ride that single doc-keyed exchange (hashpartitioning on
    doc_id satisfies every doc-prefixed grouping), so exploded line
    rows never cross an exchange at all.  At production scale the
    spread is a no-op and the two map-side-combined aggregation
    exchanges reappear — either way the (doc_id, line) key embeds
    doc_id, so a corpus-hot line can never skew one partition.  Single
    explode, no join, no window, no Python."""
    plan = _plan(spark, sf_dir, "text_dup_line_fractions")
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "REPARTITION_BY_NUM" in plan, plan
    assert plan.count("Generate explode") == 1, plan
    assert "Join" not in plan and "Window" not in plan, plan
    assert "EvalPython" not in plan and "MapInPandas" not in plan


def test_weighted_sample_takeordered_no_corpus_exchange(spark, sf_dir):
    """Efraimidis-Spirakis weighted sample (r8): selection must be a
    TakeOrderedAndProject (per-partition local top-K, bounded driver
    merge) with ZERO exchanges — never a global sort or corpus-wide
    window.  The row_number window runs strictly AFTER the K-row
    selection, and the scan reads only (doc_id, n_chars) with the
    n_chars>0 filter pushed down."""
    plan = _plan(spark, sf_dir, "curate_weighted_sample")
    assert "TakeOrderedAndProject" in plan, plan
    assert "Exchange" not in plan, plan
    assert plan.index("Window") < plan.index("TakeOrderedAndProject"), plan  # toString nests top-down
    assert re.search(r"PushedFilters: \[[^\]]*GreaterThan\(n_chars,0\)", plan), plan
    assert re.search(r"ReadSchema: struct<doc_id:bigint,n_chars:bigint>", plan), plan


def test_source_matrix_joins_counts_never_documents(spark, sf_dir):
    """Provenance matrix (r8): the self-join must run over the (k3,
    source) COUNT table — localCheckpoint'd once, so the documents scan
    and the count shuffle are NOT duplicated per join side — feeding a
    SortMergeJoin on the fingerprint: never a documents-vs-documents
    join, never a broadcast of the corpus-scaled count table (the 64x
    broadcast-OOM class), never a parquet re-scan inside the join."""
    plan = _plan(spark, sf_dir, "dedup_source_matrix")
    assert plan.count("SortMergeJoin") == 1, plan
    assert "BroadcastHashJoin" not in plan and "BroadcastNestedLoopJoin" not in plan, plan
    # both sides read the checkpointed count table: no parquet scan and
    # no count aggregation may appear inside the join plan itself
    assert "Scan parquet" not in plan, plan
    assert "partial_count" not in plan, plan
    assert "EvalPython" not in plan and "MapInPandas" not in plan


def test_quality_classifier_reads_artifact(spark, sf_dir):
    """curate_quality_classifier (r11): the graded query reads the
    PERSISTED weight table (the build_unigram_lm pay-once pattern — the
    10-step GD chain previously re-ran inside every call): one bounded
    parquet scan of the artifact, no corpus scan, no training subtree,
    no Python."""
    from opensnowcat_collector_spark.engine.llmdata.curation import (
        build_quality_classifier,
    )

    build_quality_classifier(spark, sf_dir)  # ensure the artifact exists
    plan = _plan(spark, sf_dir, "curate_quality_classifier")
    assert "weights" in plan, plan  # artifact scan
    assert "documents" not in plan, plan  # corpus never touched
    assert "Exchange" not in plan, plan
    assert "EvalPython" not in plan and "MapInPandas" not in plan


def test_quality_classifier_train_distributed(spark, sf_dir, monkeypatch):
    """Trained quality classifier (r9; artifact-built since r11): the
    BUILD-time training plan is bounded by checkpoints (final weights
    read back as a flat scan — step k never recomputes steps 1..k-1);
    with the checkpoints identity-patched so the full lineage is
    visible, every weight-table join onto the feature stream must be a
    BROADCAST hash join (the weight table is CONSTANT-bounded at
    QC_BUCKETS+1 rows), the single-row doc-count crossJoin is the only
    nested-loop shape, the gradient aggregation partial-combines
    map-side, and no Python stage appears anywhere (the gradient stays
    distributed — the BPE-trainer discipline)."""
    from pyspark.sql.classic.dataframe import DataFrame

    from opensnowcat_collector_spark.engine.llmdata import curation as C
    from opensnowcat_collector_spark.engine.tables import table

    def train_plan():
        w = C.qc_train(table(spark, sf_dir, "documents"))
        return w._jdf.queryExecution().executedPlan().toString()

    prod_plan = train_plan()
    assert "Scan ExistingRDD" in prod_plan, prod_plan
    assert "Exchange" not in prod_plan, prod_plan

    monkeypatch.setattr(DataFrame, "localCheckpoint", lambda self, eager=True: self)
    full_plan = train_plan()
    n = C.QC_STEPS
    # checkpoint-patched subtrees are duplicated down later steps'
    # lineage, so counts are lower bounds, not equalities
    assert full_plan.count("BroadcastHashJoin") >= n, full_plan
    assert full_plan.count("BroadcastNestedLoopJoin") >= n, full_plan
    assert "CartesianProduct" not in full_plan, full_plan
    assert "partial_sum" in full_plan, full_plan
    assert "EvalPython" not in full_plan and "MapInPandas" not in full_plan


def test_quality_classifier_score_broadcast_single_pass(spark, sf_dir):
    """Classifier scoring (r9): the corpus-scale half must be ONE linear
    pass — the trained weight table arrives as a bounded parquet scan of
    the persisted artifact (training is NOT re-run inline; r11) and
    meets the feature stream as a
    BROADCAST hash join; the margin aggregation partial-combines before
    its doc_id exchange; no Python stages."""
    from opensnowcat_collector_spark.engine.llmdata.curation import (
        build_quality_classifier,
    )

    build_quality_classifier(spark, sf_dir)
    plan = _plan(spark, sf_dir, "curate_quality_classifier_score")
    assert "weights" in plan, plan  # bounded artifact scan feeds the broadcast
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan, plan
    assert "partial_sum" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "EvalPython" not in plan and "MapInPandas" not in plan


def test_source_order_plan_bounded_pull_and_contiguous_steps(spark, sf_dir, monkeypatch):
    """Dedup-order planner (r9): the ONLY Spark work is the shared
    matrix subtree — the greedy runs driver-side over the
    |sources|^2-BOUNDED matrix pull (the K·DIM-centroid-table pattern;
    an in-plan sequential loop was measured at ~150 ms of pure job-
    launch overhead per step).  The bound is enforced loudly: a catalog
    wider than SOURCE_ORDER_BOUND raises instead of flooding the
    driver — and since r10 the guard fires BEFORE the driver transfer
    (the pull is ``.limit(SOURCE_ORDER_BOUND**2 + 1)``-capped, so the
    bound=1 case below moves at most 2 rows, never the full matrix).
    Output steps are contiguous from 1 and strictly
    mass-nonincreasing."""
    from opensnowcat_collector_spark.engine.llmdata import dedup as D

    rows = (
        registry.all_queries()["dedup_source_order_plan"](spark, sf_dir)
        .orderBy("step")
        .collect()
    )
    assert [r["step"] for r in rows] == list(range(1, len(rows) + 1))
    marginals = [r["marginal"] for r in rows]
    assert marginals == sorted(marginals, reverse=True)
    assert all(m > 0 for m in marginals)
    assert len({r["source"] for r in rows}) == len(rows)

    monkeypatch.setattr(D, "SOURCE_ORDER_BOUND", 1)
    with pytest.raises(ValueError, match="SOURCE_ORDER_BOUND"):
        registry.all_queries()["dedup_source_order_plan"](spark, sf_dir)


def test_source_order_frame_one_schema(spark, sf_dir):
    """The dedup-order result has one assembly path: plain source names,
    a name containing ``${`` (never substituted: it is bound, not spliced
    into the SQL text) and an empty plan all give the query's schema."""
    from opensnowcat_collector_spark.engine.llmdata.dedup import _source_order_frame

    plain = [(1, "a.example", 7), (2, "b'quote", 3)]
    hazard = [(1, "x${spark.app.name}y", 2)]
    frames = [_source_order_frame(spark, rows) for rows in (plain, hazard, [])]
    query = registry.all_queries()["dedup_source_order_plan"](spark, sf_dir)
    assert all(f.schema == query.schema for f in frames), [f.schema for f in frames]
    assert [tuple(r) for r in frames[0].collect()] == plain
    assert [tuple(r) for r in frames[1].collect()] == hazard
    assert frames[2].count() == 0


def test_fuzzy_contamination_jvm_levenshtein_broadcast_bench(spark, sf_dir):
    """Fuzzy decontamination (r9): the edit-distance verify must be
    Spark's built-in JVM levenshtein (never a Python stage), the
    benchmark sides (shingles and texts — tiny by construction) must
    BROADCAST so the train side never shuffles for them, the rare-
    shingle gate joins the corpus-scaled DF table as a SortMergeJoin
    (never a broadcast of a corpus-scaled side), and the train side is
    never self-joined (no nested-loop/cartesian shapes)."""
    plan = _plan(spark, sf_dir, "curate_fuzzy_contamination")
    assert "levenshtein" in plan, plan
    assert "EvalPython" not in plan and "MapInPandas" not in plan
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert plan.count("SortMergeJoin") == 1, plan
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan


def test_line_dedup_apply_combined_stats_no_window(spark, sf_dir):
    """C4 line-dedup apply (r9): per-line occurrence stats must come
    from a map-side-COMBINED groupBy (partial aggregation collapses a
    corpus-hot boilerplate line to one row per task) — never a
    line-partitioned window, which funnels the hot line through one
    task; the stats table joins back as a SortMergeJoin (corpus-scaled,
    never broadcast); the sites explode is checkpointed so both
    consumers read ONE Generate; no Python stages."""
    plan = _plan(spark, sf_dir, "curate_line_dedup_apply")
    assert "Window" not in plan, plan
    assert plan.count("SortMergeJoin") == 1, plan
    assert "BroadcastHashJoin" not in plan, plan
    assert "partial_count" in plan, plan
    assert plan.count("Generate") == 0, plan  # behind the checkpoint
    assert "Scan ExistingRDD" in plan, plan
    assert "EvalPython" not in plan and "MapInPandas" not in plan


def test_unigram_train_reads_artifact_no_em_subtree(spark, sf_dir):
    """text_unigram_lm_train (r10) must read the PERSISTED piece table
    (the build_ivf_index pay-once pattern): the consumer plan is a
    parquet scan of the artifact + the single-row total broadcast —
    no EM subtree (which would show dozens of exchanges), no Python
    stages, and no corpus scan."""
    from opensnowcat_collector_spark.engine.llmdata.text import build_unigram_lm

    build_unigram_lm(spark, sf_dir)  # ensure the artifact exists
    plan = _plan(spark, sf_dir, "text_unigram_lm_train")
    assert plan.count("Exchange") <= 2, plan
    assert "pieces" in plan, plan  # artifact scan
    assert "documents" not in plan, plan  # corpus never touched
    assert "EvalPython" not in plan and "MapInPandas" not in plan


def test_unigram_segment_broadcasts_mapping(spark, sf_dir):
    """text_unigram_lm_segment: the word -> piece-count mapping joins the
    corpus token stream as a BROADCAST (never a shuffled self-join of
    the corpus), the doc aggregation is map-side combined, and the
    whole serving path stays JVM-side."""
    from opensnowcat_collector_spark.engine.llmdata.text import build_unigram_lm

    build_unigram_lm(spark, sf_dir)
    plan = _plan(spark, sf_dir, "text_unigram_lm_segment")
    assert "BroadcastHashJoin" in plan, plan
    assert "partial_count" in plan or "partial_sum" in plan, plan
    assert "EvalPython" not in plan and "MapInPandas" not in plan
    assert "CartesianProduct" not in plan, plan
    # the broadcast mapping is CAPPED (VERDICT r10 item 2): the build
    # side flows through the distributed top-k, never an uncapped
    # corpus-vocab-keyed table
    assert "TakeOrderedAndProject" in plan, plan


def test_lsh_tune_constant_bounded_no_corpus(spark, sf_dir):
    """dedup_lsh_tune (r11): the banding auto-tuner is constant-bounded
    end-to-end — the corpus is NEVER read (no parquet scan), no Python
    stage, and the only shuffles are the bounded (b,r) hash aggregation
    plus the 700-row argmin window's single partition."""
    plan = _plan(spark, sf_dir, "dedup_lsh_tune")
    assert "Scan parquet" not in plan, plan
    assert "EvalPython" not in plan and "MapInPandas" not in plan
    assert plan.count("SinglePartition") == 1, plan


def test_rho_token_select_capped_broadcast_no_python(spark, sf_dir):
    """curate_rho_token_select (r10, capped r11): the token stream meets
    the word-score table as a BROADCAST join whose build side is the
    RHO_VOCAB_CAP distributed top-k (TakeOrderedAndProject — never an
    uncapped corpus-vocab broadcast, VERDICT r10 item 2, nor a
    sort-merge that shuffles the corpus on word); the doc aggregation
    partial-combines map-side; no Python stages, no corpus scan on the
    build side beyond the two vocab counts."""
    plan = _plan(spark, sf_dir, "curate_rho_token_select")
    assert "TakeOrderedAndProject" in plan, plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan, plan
    assert len(re.findall(r"Exchange hashpartitioning\(doc_id", plan)) == 1, plan
    assert "partial_count" in plan, plan
    assert "EvalPython" not in plan and "MapInPandas" not in plan


def test_doremi_weights_distributed_constant_broadcasts(spark, sf_dir):
    """DoReMi reweighting (r10; artifact-built since r11): the
    BUILD-time training plan is bounded by checkpoints (the final
    |domains|-sized mixture reads back as flat scans joined on source —
    EG rounds never recompute), with no Python stage, no cartesian
    product, and no corpus-scaled broadcast: every broadcast input is
    constant-bounded (weight table, alpha, domain sizes, single-row
    totals).  The GRADED query reads only the persisted mixture table."""
    from opensnowcat_collector_spark.engine.llmdata import curation as C

    train = C._doremi_train(spark, sf_dir)
    plan = train._jdf.queryExecution().executedPlan().toString()
    assert "Scan ExistingRDD" in plan, plan
    assert "EvalPython" not in plan and "MapInPandas" not in plan
    assert "CartesianProduct" not in plan, plan
    assert "Scan parquet" not in plan, plan  # corpus never re-scanned here

    C.build_doremi(spark, sf_dir)
    gplan = _plan(spark, sf_dir, "curate_doremi_weights")
    assert "mixture" in gplan, gplan  # bounded artifact scan
    assert "documents" not in gplan and "Exchange" not in gplan, gplan


def test_wordpiece_train_reads_artifact(spark, sf_dir):
    """text_wordpiece_train (r11): the graded query reads the PERSISTED
    merge table (the build_bpe pay-once pattern) — a bare artifact scan
    with no merge-loop subtree (which would show per-step exchanges and
    argmax sorts), no Python stage, and no corpus scan."""
    from opensnowcat_collector_spark.engine.llmdata.text import build_wordpiece

    build_wordpiece(spark, sf_dir)  # ensure the artifact exists
    plan = _plan(spark, sf_dir, "text_wordpiece_train")
    assert "merges" in plan, plan  # artifact scan
    assert "documents" not in plan, plan  # corpus never touched
    assert "Exchange" not in plan, plan
    assert "EvalPython" not in plan and "MapInPandas" not in plan


def test_kn_bigram_single_doc_exchange_no_python(spark, sf_dir):
    """text_kn_bigram_logprob (r11): the corpus-scaled bigram stream is
    shuffled on doc_id exactly once (the final scoring aggregation,
    map-side combined); the three smoothing tables derive from the
    bigram-count table, never from extra corpus scans (<= 2 document
    scans total: the stream + the shared subtree under the count
    aggregations); the single-row type-total joins in as a broadcast;
    no Python stages, no cartesian explosion."""
    plan = _plan(spark, sf_dir, "text_kn_bigram_logprob")
    assert len(re.findall(r"Exchange hashpartitioning\(doc_id", plan)) == 1, plan
    assert "partial_count" in plan or "partial_avg" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan or "BuildRight" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "EvalPython" not in plan and "MapInPandas" not in plan


def test_random_projection_broadcast_signs_single_exchange(spark, sf_dir):
    """embed_random_projection (r11): the DIM x RP_DIM sign matrix joins
    the exploded component stream as a BROADCAST (constant 1024 rows —
    never corpus-scaled, never shuffled onto the corpus side); the
    (vec_id, j) aggregation partial-combines map-side so the single
    corpus-scaled exchange carries RP_DIM rows per vector, not
    DIM x RP_DIM partial products; all JVM-side (no flat 64-term SQL
    expression that would fall out of whole-stage codegen, no Python
    stage)."""
    plan = _plan(spark, sf_dir, "embed_random_projection")
    assert "BroadcastHashJoin" in plan, plan
    assert len(re.findall(r"Exchange hashpartitioning\(vec_id", plan)) == 1, plan
    assert "partial_sum" in plan, plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan, plan
    assert "EvalPython" not in plan and "MapInPandas" not in plan


def test_wordpiece_segment_broadcast_capped(spark, sf_dir):
    """text_wordpiece_segment_counts (r11): serving is the artifact scan
    + the SEGMENT_VOCAB_CAP-capped broadcast join (distributed top-k
    build side — never an uncapped corpus-vocab broadcast, VERDICT r10
    item 2) + one map-side-combined doc aggregation; all JVM-side."""
    from opensnowcat_collector_spark.engine.llmdata.text import build_wordpiece

    build_wordpiece(spark, sf_dir)
    plan = _plan(spark, sf_dir, "text_wordpiece_segment_counts")
    assert "BroadcastHashJoin" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert "partial_count" in plan or "partial_sum" in plan, plan
    assert "EvalPython" not in plan and "MapInPandas" not in plan


def test_rp_rerank_two_stage_topk_no_global_sort(spark, sf_dir):
    """sim_ann_rp_rerank (r11): both cutoffs plan as distributed top-k
    (TakeOrderedAndProject — never a global Sort+Limit over the
    corpus); the query sketch and candidate set join as broadcasts; the
    exact stage touches only the candidate rows; all JVM-side."""
    plan = _plan(spark, sf_dir, "sim_ann_rp_rerank")
    assert plan.count("TakeOrderedAndProject") == 2, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "EvalPython" not in plan and "MapInPandas" not in plan


def test_semantic_contamination_broadcast_bench_single_arrow(spark, sf_dir):
    """curate_semantic_contamination (r11): the bounded benchmark side
    broadcasts (BroadcastNestedLoopJoin, BuildRight — linear in the
    train side, never a shuffled pair join), the per-pair cosine is
    exactly ONE Arrow stage (the pair_cos_udf discipline), and the max
    aggregation partial-combines map-side so the only corpus-scaled
    exchange carries one row per train vector."""
    plan = _plan(spark, sf_dir, "curate_semantic_contamination")
    assert "BroadcastNestedLoopJoin BuildRight" in plan, plan
    assert plan.count("ArrowEvalPython") == 1, plan
    assert "partial_max" in plan, plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan, plan


def test_contamination_audit_composes_screens_constant_output(spark, sf_dir):
    """curate_contamination_audit (r11): the audit composes the three
    REGISTERED screens (exact shingle probe + fuzzy levenshtein block +
    semantic Arrow pair-cosine — exactly one Python stage, the semantic
    screen's) into three doc_id-keyed flag joins and ONE constant-output
    (8-row max) aggregation; no cartesian blowup beyond the screens'
    own bounded broadcast NLJs."""
    plan = _plan(spark, sf_dir, "curate_contamination_audit")
    assert plan.count("ArrowEvalPython") == 1, plan
    assert "CartesianProduct" not in plan, plan
    assert "partial_count" in plan, plan


def test_line_hist_broadcast_size_gated(spark, sf_dir, monkeypatch):
    """The line-dedup history table is the repo's last corpus-scaled
    join side (VERDICT r11 item 2): its broadcast hint must be
    SIZE-CONDITIONAL, never unconditional.  Pin both sides of the gate
    on the exact membership join the serving/refresh twins build:
    under the cap the optimized plan broadcasts; with the cap forced
    to 0 the hint is withheld (no broadcast hint in the logical plan,
    no BroadcastHashJoin in the physical plan — the join goes
    line-keyed) while AQE retains its own stats-based discretion."""
    from opensnowcat_collector_spark.engine import streaming_queries as sq

    hist = sq._hist_line_table(spark, sf_dir)
    n_hist = hist.count()
    probe = hist.select("line").withColumnRenamed("line", "line")

    # Under the cap (default 5M): hint present -> BroadcastHashJoin.
    gated = probe.join(sq._hist_join_side(hist, n_hist), "line", "left")
    plan_small = gated._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan_small, plan_small

    # Over the cap: hint withheld -> no broadcast on the hist side
    # (disable AQE's own auto-broadcast so the pin tests OUR hint only).
    monkeypatch.setattr(sq, "LINE_HIST_BROADCAST_CAP", 0)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        ungated = probe.join(sq._hist_join_side(hist, n_hist), "line", "left")
        plan_big = ungated._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in plan_big, plan_big
        assert (
            "SortMergeJoin" in plan_big or "ShuffledHashJoin" in plan_big
        ), plan_big
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_kn_trigram_serves_from_artifact_single_doc_exchange(spark, sf_dir):
    """text_kn_trigram_logprob (r12): serving reads the pay-once
    build_kn_trigram artifact — the corpus (documents) is scanned
    exactly ONCE (the scoring stream; the count tables come from the
    persisted parquet, never a second explode), the corpus-scaled
    stream is shuffled on doc_id exactly once (the final scoring
    aggregation, map-side combined), the 1-row discount table joins in
    as a broadcast, and there are no Python stages and no cartesian
    explosion."""
    plan = _plan(spark, sf_dir, "text_kn_trigram_logprob")
    assert plan.count("documents.parquet") == 1, plan
    assert "spark_graft_kn" in plan, plan
    assert len(re.findall(r"Exchange hashpartitioning\(doc_id", plan)) == 1, plan
    assert "partial_count" in plan or "partial_avg" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan or "BuildRight" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "EvalPython" not in plan and "MapInPandas" not in plan, plan


def test_kn_buckets_artifact_serving_single_lang_window(spark, sf_dir):
    """curate_kn_perplexity_buckets (r12): the scoring subtree is the
    trigram serving plan (artifact reads, ONE documents scan, no
    Python), and bucketing adds exactly one lang-partitioned window —
    never a global SinglePartition sort."""
    plan = _plan(spark, sf_dir, "curate_kn_perplexity_buckets")
    assert plan.count("documents.parquet") <= 2, plan  # scoring scan + lang join
    assert "spark_graft_kn" in plan, plan
    assert "SinglePartition" not in plan, plan
    assert len(re.findall(r"Exchange hashpartitioning\(lang", plan)) >= 1, plan
    assert "EvalPython" not in plan and "MapInPandas" not in plan, plan


def test_cdc_chunks_three_linear_exchanges_no_python(spark, sf_dir):
    """dedup_cdc_chunks (r13): the whole pipeline is three linear
    exchanges — ONE doc_id exchange shared by the boundary-lag and
    chunk-id windows AND the (doc_id, chunk_id) reassembly groupBy
    (grouping keys are a superset of the window partition key, so no
    second corpus exchange), one chunk_hash exchange for the occurrence
    window, one final doc_id aggregation — with zero Python stages and
    no SinglePartition anywhere (all keys are doc_id/chunk_hash,
    md5-uniform)."""
    import re

    plan = _plan(spark, sf_dir, "dedup_cdc_chunks")
    assert plan.count("Exchange") == 3, plan
    assert len(re.findall(r"Exchange hashpartitioning\(doc_id", plan)) == 2, plan
    assert len(re.findall(r"Exchange hashpartitioning\(chunk_hash", plan)) == 1, plan
    assert "SinglePartition" not in plan, plan
    assert "EvalPython" not in plan and "MapInPandas" not in plan, plan


def test_unimax_single_corpus_exchange(spark, sf_dir):
    """curate_unimax_mix (r13): the ONLY corpus-scaled stage is the
    map-side-combined groupBy(lang); every window runs on the
    language table (bounded by the world's language count), so the
    SinglePartition exchange moves |langs| rows, never the corpus."""
    import re

    plan = _plan(spark, sf_dir, "curate_unimax_mix")
    assert plan.count("Exchange") == 2, plan
    assert len(re.findall(r"Exchange hashpartitioning\(lang", plan)) == 1, plan
    assert "partial_sum" in plan, plan  # the lang count agg combines map-side
    assert "EvalPython" not in plan and "MapInPandas" not in plan, plan


def test_unimax_apply_scan_stage_broadcast(spark, sf_dir):
    """curate_unimax_apply (r14): the sampler is a SCAN-STAGE broadcast
    join of the bounded allocation table onto the corpus — copy count
    and token accounting codegen'd in the scan, no corpus-keyed
    exchange beyond the mix query's own groupBy(lang), no sort-merge
    join, no Python."""
    import re

    plan = _plan(spark, sf_dir, "curate_unimax_apply")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    # the only exchanges belong to the allocation subtree: one
    # lang-keyed corpus aggregation + its bounded-table windows
    assert len(re.findall(r"Exchange hashpartitioning\(doc_id", plan)) == 0, plan
    assert len(re.findall(r"Exchange hashpartitioning\(lang", plan)) == 1, plan
    assert "EvalPython" not in plan and "MapInPandas" not in plan, plan


def test_cdc_apply_exchange_budget_no_python(spark, sf_dir):
    """dedup_cdc_apply (r14 optimization, guide §8): removal decisions
    run entirely on the NARROW (hash, site) projection — the
    map-side-combined chunk-stats aggregation and the chunk_hash-keyed
    stats join ship no chunk text — and the surviving removed-site
    markers UNION with the chunk rows into ONE doc_id rebuild
    aggregation, so chunk TEXT crosses exactly one exchange.  The
    chunking subtree is checkpointed so both arms read ONE chunking
    pass (no Generate/posexplode in the visible plan); the stats side
    must partial-aggregate before its exchange (a corpus-hot
    boilerplate chunk collapses map-side, never funnels a window
    partition); the stats join is a SortMergeJoin (corpus-scaled,
    never broadcast); nothing runs in Python or a single partition."""
    import re

    plan = _plan(spark, sf_dir, "dedup_cdc_apply")
    assert plan.count("Generate") == 0, plan  # behind the checkpoint
    assert "Scan ExistingRDD" in plan, plan
    # ONE doc_id exchange (the text rebuild over the union), two
    # chunk_hash exchanges (stats agg + narrow stats-join side)
    assert len(re.findall(r"Exchange hashpartitioning\(doc_id", plan)) == 1, plan
    assert len(re.findall(r"Exchange hashpartitioning\(chunk_hash", plan)) == 2, plan
    assert plan.count("SortMergeJoin") == 1, plan
    assert "Union" in plan, plan
    assert "BroadcastHashJoin" not in plan, plan
    # chunk_text must NOT ride the chunk_hash-keyed exchanges: both ship
    # only the narrow decision columns (the formatted plan carries each
    # Exchange's Input column list; the tree string does not)
    qs = registry.all_queries()
    df = qs["dedup_cdc_apply"](spark, sf_dir)
    fmt = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    hash_exchanges = re.findall(
        r"\(\d+\) Exchange\nInput \[\d+\]: \[([^\]]*)\]\n"
        r"Arguments: hashpartitioning\(chunk_hash",
        fmt,
    )
    assert len(hash_exchanges) == 2, fmt
    for cols in hash_exchanges:
        assert "chunk_text" not in cols, cols
    # the chunk-stats side partial-aggregates (min first_site) before
    # its exchange — the map-side-combine property
    assert "partial_min" in plan, plan
    assert "SinglePartition" not in plan, plan
    assert "EvalPython" not in plan and "MapInPandas" not in plan, plan


def test_kcenter_scan_argmax_no_shuffle_rounds(spark, sf_dir):
    """curate_kcenter_coreset (r14): each greedy round is one scan with
    a codegen'd literal-center distance ending in
    TakeOrderedAndProject (per-partition top-1, no global sort); the
    final assignment pass is one scan + a map-side-combined groupBy on
    the K-valued key with no joins and no Python."""
    import re

    plan = _plan(spark, sf_dir, "curate_kcenter_coreset")
    # final plan: the assignment aggregation (the K selection rounds
    # execute during construction — each is its own bounded-pull job)
    assert "Join" not in plan, plan
    assert "partial_count" in plan, plan
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1, plan
    assert "EvalPython" not in plan and "MapInPandas" not in plan, plan


def test_kcenter_round_update_keeps_single_distance_copy(spark, sf_dir):
    """curate_kcenter_coreset (r15 optimization): the per-round state
    update aliases the 64-term distance tree ONCE (`d2n`) and updates
    dmin/sel_round from the attribute; CollapseProject must NOT inline
    the expensive alias back into the consuming whens (that
    duplication was ~4 copies per round and doubled construction
    time).  Pin: the optimized single-round update plan contains
    exactly one copy of the distance tree's first and last terms."""
    from pyspark.sql import functions as F

    from opensnowcat_collector_spark.engine.llmdata.curation import _kc_spark_d2
    from opensnowcat_collector_spark.engine.llmdata.similarity import DIM
    from opensnowcat_collector_spark.engine.tables import table

    e = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    center = [float(i) for i in range(DIM)]
    staged = e.select(
        "vec_id",
        "embedding",
        F.lit(0.0).alias("dmin"),
        F.lit(1).alias("sel_round"),
        F.expr(_kc_spark_d2(center)).alias("d2n"),
    )
    upd = staged.select(
        "vec_id",
        F.when(F.col("d2n") < F.col("dmin"), F.col("d2n"))
        .otherwise(F.col("dmin"))
        .alias("dmin"),
        F.when(F.col("d2n") < F.col("dmin"), F.lit(2))
        .otherwise(F.col("sel_round"))
        .alias("sel_round"),
    )
    optimized = upd._jdf.queryExecution().optimizedPlan().toString()
    # the first and last distance terms each appear once as a squared
    # difference, (a[i] - c) * (a[i] - c), not copied into the consumers
    for term in ("[0]", f"[{DIM - 1}]"):
        assert optimized.count(term) == 2, (
            term,
            optimized.count(term),
            "distance tree duplicated back into the consumers",
        )


def test_fertility_capped_broadcast_single_lang_exchange(spark, sf_dir):
    """text_tokenizer_fertility (r14): the segmentation subtree is the
    text_bpe_segment_counts shape — artifact scan + capped BROADCAST
    word mapping — and the only corpus-keyed exchange is the
    map-side-combined groupBy(lang)."""
    import re

    plan = _plan(spark, sf_dir, "text_tokenizer_fertility")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "spark_graft_bpe" in plan, plan  # reads the trained artifact
    assert len(re.findall(r"Exchange hashpartitioning\(lang", plan)) >= 1, plan
    assert "EvalPython" not in plan and "MapInPandas" not in plan, plan


def test_length_curriculum_broadcast_thresholds_no_global_sort(spark, sf_dir):
    """curate_length_curriculum (r14): stage assignment must be a
    thresholds-BROADCAST codegen'd CASE in the scan stage — never a
    corpus-wide NTILE (global sort + single-partition window); the
    only SinglePartition window runs over the four stage rows."""
    plan = _plan(spark, sf_dir, "curate_length_curriculum")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan
    assert "Sort [n" not in plan, plan  # no corpus-wide length sort
    assert "partial_count" in plan, plan
    assert "EvalPython" not in plan and "MapInPandas" not in plan, plan
