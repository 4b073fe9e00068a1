"""Physical-plan audit over EVERY registered driver query.

The 100 TB contract is about plan shape as much as results: no
accidental cartesian products, filters reaching the parquet scan,
Python staying out of the JVM hot path unless Arrow-batched. This test
pins those properties for the whole queries() surface so a regression
shows up as a named failure, not a slow benchmark.
"""

from __future__ import annotations

import pytest

from autovalidate_backend_api_spark import entrypoints

QUERIES = entrypoints.queries()

# Intentional tiny-side nested-loop broadcasts (documented in each op):
# - cosine_topk / embedding brute force: ≤20-query side vs broadcast corpus
#   (the EXACT baseline; the scale paths are ann_/ivf_/blocked variants)
# - ivf_cosine_topk / semdedup_prune: every vector scores against a
#   broadcast 32-row centroid table — the IVF assignment shape,
#   O(n·32), not O(n²)
# - ann_recall_report: composes the whitelisted shapes — the exact
#   brute-force truth side (bounded query sample) and the IVF centroid
#   broadcast; its approximate sides (sign-LSH buckets, PQ code join)
#   stay equi-joins
# - ivf_lloyd_topk: the same IVF assignment shape with the 8-row
#   Lloyd-trained codebook broadcast (training itself is join-free —
#   pinned in test_clustering.py::test_plan_has_no_join_for_centroids)
# - knn_label_accuracy: the cosine_topk brute-force shape verbatim
#   (bounded ≤50-query side vs broadcast corpus) evaluating 1-NN label
#   recovery; the scale paths remain the ann_/ivf_ variants
_NL_WHITELIST = {
    "cosine_topk",
    "knn_label_accuracy",
    "ivf_cosine_topk",
    "ann_cosine_topk",
    "semdedup_prune",
    "ann_recall_report",
    "ivf_lloyd_topk",
}


# name → executed-plan string: both audits and the named pins read the
# same plan, so each query is planned once per module (planning the whole
# queries() surface dominates this module's cost).
_PLANS: dict[str, str] = {}


def _plan_of(name, spark, sf_dir) -> str:
    if name not in _PLANS:
        df = QUERIES[name](spark, sf_dir)
        _PLANS[name] = df._jdf.queryExecution().executedPlan().toString()
    return _PLANS[name]


@pytest.mark.parametrize("name", sorted(set(QUERIES) - _NL_WHITELIST))
def test_no_cartesian_nodes(name, spark, sf_dir):
    plan = _plan_of(name, spark, sf_dir)
    assert "CartesianProduct" not in plan, name
    assert "BroadcastNestedLoopJoin" not in plan, name


@pytest.mark.parametrize("name", sorted(_NL_WHITELIST))
def test_whitelisted_broadcasts_are_broadcast_not_cartesian(name, spark, sf_dir):
    """The whitelisted ops may nested-loop ONLY as a broadcast of the
    bounded side — a plain CartesianProduct (shuffle both sides) is
    still a bug."""
    plan = _plan_of(name, spark, sf_dir)
    assert "CartesianProduct" not in plan, name


def test_range_predicate_reaches_parquet_scan(spark, sf_dir):
    """P6: the BETWEEN + >= predicates must appear as PushedFilters on
    the parquet scan (Catalyst pushdown, not a post-scan filter only)."""
    plan = _plan_of("mid_price_parts", spark, sf_dir)
    assert "PushedFilters: [" in plan
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert "p_retailprice" in pushed and "p_size" in pushed, pushed


def test_projection_prunes_scan_columns(spark, sf_dir):
    """P1: a two-column projection must not read the whole documents
    schema (ReadSchema shows only what's needed)."""
    plan = _plan_of("normalized_docs", spark, sf_dir)
    read_schema = plan.split("ReadSchema: ", 1)[1].splitlines()[0]
    assert "doc_id" in read_schema and "text" in read_schema
    assert "lang" not in read_schema, read_schema


def test_no_row_at_a_time_python_udf(spark, sf_dir):
    """§2.9: Python in plans only as Arrow-batched (ArrowEvalPython /
    FlatMapGroupsInPandas / MapInPandas); BatchEvalPython (row-at-a-time
    pickling) must never appear."""
    for name in sorted(QUERIES):
        plan = _plan_of(name, spark, sf_dir)
        assert "BatchEvalPython" not in plan, name


def test_decontaminate_bench_side_broadcasts(spark, sf_dir):
    """The benchmark n-gram set must reach the overlap join as a
    broadcast (the corpus side never shuffles for the join) — the
    asymmetry the operator's 100 TB design depends on."""
    plan = _plan_of("decontaminate_ngram_overlap", spark, sf_dir)
    assert "BroadcastExchange" in plan and "BroadcastHashJoin" in plan


def test_duplicate_spans_removed_no_window(spark, sf_dir):
    """First-occurrence selection must stay a combinable min-struct
    aggregation: a Window regression would serialize every hot span's
    occurrence list through one task's sort."""
    plan = _plan_of("duplicate_spans_removed", spark, sf_dir)
    assert "Window" not in plan, plan


def test_scd2_plans_one_exchange(spark, sf_dir):
    """Both SCD2 windows (lag for the collapse, lead for valid_to) share
    one (user_id × (ts, id)) partitioning/ordering — Catalyst must plan
    exactly ONE hash exchange; a second Exchange means the orderings
    diverged and the history build shuffles the log twice."""
    plan = _plan_of("scd2_user_status", spark, sf_dir)
    import re

    assert len(re.findall(r"\bExchange hashpartitioning", plan)) == 1, plan


def test_snm_candidate_pairs_single_shuffle_no_join(spark, sf_dir):
    """SNM is the windowed collect_list sweep: one shuffle on the block
    key and ZERO joins — the rank-distance self-join exists only in the
    oracle."""
    plan = _plan_of("snm_candidate_pairs", spark, sf_dir)
    import re

    assert len(re.findall(r"\bExchange hashpartitioning", plan)) == 1, plan
    assert "Join" not in plan, plan


def test_cdc_apply_single_exchange_no_join(spark, sf_dir):
    """CDC apply is the one-window formulation: a single hash exchange
    on the key, zero joins — a join regression would shuffle the 100 TB
    snapshot twice."""
    plan = _plan_of("cdc_orders_state", spark, sf_dir)
    import re

    assert len(re.findall(r"\bExchange hashpartitioning", plan)) == 1, plan
    assert "Join" not in plan, plan


def test_trimmed_mean_single_exchange(spark, sf_dir):
    """row_number, the per-lang count window, and the final groupBy all
    share the lang partitioning — exactly ONE hash exchange."""
    plan = _plan_of("trimmed_mean_doc_length", spark, sf_dir)
    import re

    assert len(re.findall(r"\bExchange hashpartitioning", plan)) == 1, plan


def test_cohort_retention_no_big_side_join(spark, sf_dir):
    """The per-user view is ONE collect_set aggregation; the only join
    is the broadcast of the tiny per-cohort sizes — a SortMergeJoin
    regression would re-shuffle the event-scale side."""
    plan = _plan_of("user_cohort_retention", spark, sf_dir)
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_rolling_distinct_no_join(spark, sf_dir):
    """Replicate-to-windows + dedup is pure aggregation — zero joins at
    any scale."""
    plan = _plan_of("events_rolling_distinct_users", spark, sf_dir)
    assert "Join" not in plan, plan


def test_ewma_and_sequence_regex_plan_one_key_exchange(spark, sf_dir):
    """The recurrence/sequence ops are ONE key shuffle by design: the
    sorted collect_list agg and the fold/regex projection must not add
    a second hash exchange or any join."""
    import re

    for name in ("events_ewma", "event_sequence_regex"):
        plan = _plan_of(name, spark, sf_dir)
        assert len(re.findall(r"\bExchange hashpartitioning", plan)) == 1, (
            name, plan,
        )
        assert "Join" not in plan, name


def test_posting_bitmap_stats_no_join(spark, sf_dir):
    """The bitmap build is pure aggregation — (term, word) cells then
    per-term rollup; any join in the plan means the popcount/exact
    certification regressed to a self-join."""
    plan = _plan_of("posting_bitmap_stats", spark, sf_dir)
    assert "Join" not in plan, plan


def test_quota_allocation_window_is_on_aggregated_groups(spark, sf_dir):
    """Hamilton's remainder rank runs over the DOMAIN table (one row
    per group): the window must sit above the aggregation, and the
    plan must stay join-free (C and the leftover are driver scalars,
    not joined-in relations)."""
    plan = _plan_of("domain_quota_allocation", spark, sf_dir)
    assert "Window" in plan and "Join" not in plan, plan


def test_table_checksum_is_one_exchange_mapside_combined(spark, sf_dir):
    """The anti-entropy cheap path must stay cheap: zero joins, ONE
    exchange, and the checksum aggregates visibly map-side combined
    (partial_bit_xor / partial_sum before the exchange)."""
    plan = _plan_of("table_checksum", spark, sf_dir)
    assert plan.count("Exchange") == 1, plan
    assert "Join" not in plan
    assert "partial_bit_xor" in plan and "partial_sum" in plan


def test_hilbert_layout_is_joinfree_projection_chain(spark, sf_dir):
    """The xy2d rotation transform must compile to projections — zero
    joins, one exchange for the bucket aggregate, and partial min/max
    (the data-skipping ranges combine map-side)."""
    plan = _plan_of("hilbert_layout", spark, sf_dir)
    assert plan.count("Exchange") == 1, plan
    assert "Join" not in plan
    assert "partial_min" in plan and "partial_max" in plan


def test_interval_concurrency_windows_run_on_collapsed_boundaries(spark, sf_dir):
    """The sweep-line running sum must consume the key-collapsed
    boundary table, never raw events: the HashAggregates sit BELOW the
    Window operators in the plan (events collapse first), and no join
    appears anywhere."""
    plan = _plan_of("interval_concurrency_curve", spark, sf_dir)
    assert "Join" not in plan
    first_window = plan.index("Window")
    assert "HashAggregate" in plan[first_window:], plan


def test_pipeline_verify_joins_fall_back_to_sort_merge(spark, tmp_path, monkeypatch):
    """With broadcasts off (the scale at which no pair or signature side
    fits), the Stage C candidate ⋉̸ Stage B pairs anti-join and the
    Stage B and Stage C verify joins plan as SortMergeJoin. The only
    broadcasts left are the hinted hot-bucket sets (anti-joined on
    ``bucket`` / ``fp``); the signature side is never broadcast."""
    import re

    from autovalidate_backend_api_spark import corpus as C
    from autovalidate_backend_api_spark.plans.pipeline import run_pipeline
    from autovalidate_backend_api_spark.sources.checkpoint import CheckpointManager

    written: dict = {}
    write = CheckpointManager.write

    def capture(self, stage, df):
        written[stage] = df
        return write(self, stage, df)

    conf = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(conf)
    monkeypatch.setattr(CheckpointManager, "write", capture)
    try:
        spark.conf.set(conf, "-1")
        run_pipeline(spark, spark.createDataFrame(C.corpus_pandas(40, seed=3)),
                     str(tmp_path), run_id="smj")
        plans = {}
        for stage in ("stage_b_pairs", "stage_c_pairs"):
            written[stage].collect()  # the final adaptive plan
            plan = written[stage]._jdf.queryExecution().executedPlan().toString()
            assert "isFinalPlan=true" in plan, plan
            plans[stage] = plan.split("== Initial Plan ==")[0]
    finally:
        spark.conf.set(conf, prev)

    def smj(cols, kind):
        keys = ", ".join(rf"{c}#\d+L?" for c in cols)
        return re.compile(rf"SortMergeJoin \[{keys}\], \[{keys}\], {kind}")

    assert smj(["src", "dst"], "LeftAnti").search(plans["stage_c_pairs"]), plans["stage_c_pairs"]
    for stage, plan in plans.items():
        for key in ("src", "dst"):
            assert smj([key], "Inner").search(plan), (stage, plan)
        bhj = re.findall(r"BroadcastHashJoin \[(\w+)#\d+L?\], \[\w+#\d+L?\], (\w+)", plan)
        assert set(bhj) <= {("bucket", "LeftAnti"), ("fp", "LeftAnti")}, (stage, plan)
        assert plan.count("BroadcastExchange") <= len(bhj), (stage, plan)
