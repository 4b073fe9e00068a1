"""Incremental dedup equivalence: base run + increment == from-scratch
run over the union (the reference's confirmed-corrections reuse loop,
db_lookup.py:52-83, as batch dataflow)."""

from __future__ import annotations

import contextlib
import os
import shutil
import tempfile
from dataclasses import replace

import pandas as pd
import pytest

from autovalidate_backend_api_spark import corpus as C
from autovalidate_backend_api_spark.config import PINNED
from autovalidate_backend_api_spark.plans.incremental import incremental_update
from autovalidate_backend_api_spark.plans.pipeline import (
    SIGNATURE_COLUMNS,
    run_pipeline,
)
from autovalidate_backend_api_spark.sources.checkpoint import CheckpointManager

N_BASE = 120
COLS = ["repo", "path", "commit", "lang", "content"]


@pytest.fixture(scope="module")
def full_pd():
    return C.corpus_pandas(N_BASE, with_meta=True)


@pytest.fixture(scope="module")
def split_corpora(spark, full_pd):
    # split by base_id: first 80 bases = initial corpus, rest = increment
    old = full_pd[full_pd.base_id < 80][COLS]
    new = full_pd[full_pd.base_id >= 80][COLS]
    return (
        spark.createDataFrame(full_pd[COLS]),
        spark.createDataFrame(old),
        spark.createDataFrame(new),
    )


def _survivors(spark, tmp: str, run_id: str) -> set:
    mgr = CheckpointManager(spark, tmp, run_id, PINNED.config_hash())
    return {(r.key, r.sha) for r in mgr.read("stage_a_survivors").collect()}


def assert_unique_canonical(pairs) -> None:
    """``confirmed_pairs`` is a plain union of disjoint pair sets: no
    (src, dst) appears twice, and every row has src < dst."""
    rows = [(r.src, r.dst) for r in pairs.select("src", "dst").collect()]
    assert len(rows) == len(set(rows))
    assert all(src < dst for src, dst in rows)


@pytest.fixture(scope="module")
def scratch(spark, split_corpora):
    """(key → cluster_rep, Stage A survivors) of one from-scratch run
    over the whole corpus."""
    tmp = tempfile.mkdtemp(prefix="av_incr_scratch_")
    try:
        res = run_pipeline(spark, split_corpora[0], tmp, "full")
        clusters = {r["key"]: r["cluster_rep"] for r in res.clusters.collect()}
        return clusters, _survivors(spark, tmp, "full")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@pytest.fixture(scope="module")
def folded(spark, split_corpora):
    """(checkpoint dir, base result, fold result): a base run over the
    first 80 bases and one fold of the rest onto it."""
    _, old_df, new_df = split_corpora
    tmp = tempfile.mkdtemp(prefix="av_incr_")
    try:
        base = run_pipeline(spark, old_df, tmp, "base")
        incr = incremental_update(
            spark, new_df, tmp, prev_run_id="base", run_id="upd"
        )
        yield tmp, base, incr
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_incremental_matches_scratch(folded, scratch):
    got = {r["key"]: r["cluster_rep"] for r in folded[2].clusters.collect()}
    assert got == scratch[0]


STAGES = [
    "keymap", "stage_a_pairs", "stage_a_survivors", "signatures",
    "stage_b_pairs", "stage_c_pairs", "confirmed_pairs", "clusters",
]


def test_metrics_list_every_stage(folded):
    """Both entry points report one wall-clock entry per stage tag, in
    plan order; the fold's list also holds its ``signatures_new``."""
    _, base, incr = folded
    fold_stages = STAGES[:3] + ["signatures_new"] + STAGES[3:]
    for res, run_id, want in ((base, "base", STAGES), (incr, "upd", fold_stages)):
        assert [m["stage"] for m in res.metrics] == want
        for m in res.metrics:
            assert m["run_id"] == run_id
            assert isinstance(m["wall_ms"], int) and m["wall_ms"] >= 0
            drops = m["stage"] in ("stage_b_pairs", "stage_c_pairs")
            for k in ("dropped_buckets", "dropped_members"):
                assert (isinstance(m.get(k), int) and m[k] >= 0) if drops else k not in m


def test_fold_rejects_reused_parent_keys(spark, full_pd, folded):
    """An increment that re-uses (repo, path, commit) keys of its parent
    with edited content is an input error, as in a from-scratch run:
    the fold's key check raises instead of writing a second signature
    under the same key, and it raises where the keymap is made, before
    anything is signed."""
    reused = full_pd[full_pd.base_id < 80][COLS].head(3).copy()
    reused["content"] = reused["content"] + "\n# edited\n"
    new = full_pd[full_pd.base_id >= 80][COLS]
    increment = spark.createDataFrame(pd.concat([new, reused]))
    with pytest.raises(RuntimeError, match=r"duplicate corpus keys \(3\)"):
        incremental_update(spark, increment, folded[0], prev_run_id="base", run_id="dup")
    for stage in ("signatures_new", "signatures"):
        assert not os.path.exists(os.path.join(folded[0], "dup", stage)), stage


def test_fold_stage_c_skips_stage_b_pairs(spark, folded):
    """Stage C verifies only what Stage B did not confirm: no (src, dst)
    is in both pair tables of the base run or of the fold."""
    for run_id in ("base", "upd"):
        mgr = CheckpointManager(spark, folded[0], run_id, PINNED.config_hash())
        b, c = (mgr.read(s).select("src", "dst")
                for s in ("stage_b_pairs", "stage_c_pairs"))
        assert b.join(c, ["src", "dst"]).isEmpty(), run_id


def test_fold_rejects_parent_of_another_config(spark, split_corpora, folded):
    """A parent run written under another config holds band hashes and
    verified pairs from other parameters: the fold raises instead of
    mixing them into its own tables."""
    other = replace(PINNED, jaccard_threshold=0.8)
    with pytest.raises(RuntimeError, match="written under config"):
        incremental_update(
            spark, split_corpora[2], folded[0], prev_run_id="base",
            run_id="other", cfg=other,
        )


def test_fold_on_fold_matches_scratch(spark, full_pd, scratch):
    """base → fold → fold: a fold's checkpoints are a valid parent for
    the next fold, and the chain ends at the from-scratch clusters. The
    second fold also carries variants (exact copies among them) of files
    that the base run and the first fold hold, so it matches against the
    first fold's Stage A survivors, which must equal a scratch run's."""
    b = full_pd.base_id
    late_variant = b.between(70, 99) & (full_pd.slot >= 1)
    parts = [
        full_pd[(b < 80) & ~late_variant],
        full_pd[b.between(80, 99) & ~late_variant],
        full_pd[(b >= 100) | late_variant],
    ]
    base_df, fold1_df, fold2_df = (spark.createDataFrame(p[COLS]) for p in parts)
    tmp = tempfile.mkdtemp(prefix="av_incr_chain_")
    try:
        run_pipeline(spark, base_df, tmp, "base")
        fold1 = incremental_update(spark, fold1_df, tmp, prev_run_id="base", run_id="f1")
        incr = incremental_update(spark, fold2_df, tmp, prev_run_id="f1", run_id="f2")
        got = {r["key"]: r["cluster_rep"] for r in incr.clusters.collect()}
        assert got == scratch[0]
        assert _survivors(spark, tmp, "f2") == scratch[1]
        assert_unique_canonical(fold1.confirmed_pairs)
        assert_unique_canonical(incr.confirmed_pairs)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_candidate_generation_is_increment_proportional(spark):
    """VERDICT r4 #2: the incremental path's candidate generation must be
    increment-proportional — only buckets touched by a new key may enter
    the band/fingerprint exchange — while producing EXACTLY the same
    new-touching pairs as an unrestricted run over the union."""
    from pyspark.sql import functions as F

    from autovalidate_backend_api_spark.functions.signatures import (
        file_key_col,
        sha256_col,
        with_signatures,
    )
    from autovalidate_backend_api_spark.operators import stage_a_exact as A
    from autovalidate_backend_api_spark.operators import stage_b_lsh as B
    from autovalidate_backend_api_spark.operators import stage_c_substring as SC

    full = C.corpus_pandas(120, with_meta=True)
    cols = ["repo", "path", "commit", "lang", "content"]
    union_pd = full[cols]
    new_pd = full[full.base_id >= 112][cols]  # ~7% increment

    def _sigs(pdf: pd.DataFrame):
        keyed = spark.createDataFrame(pdf).select(
            file_key_col().alias("key_str"),
            sha256_col(F.col("content")).alias("sha"),
            "content",
        ).select(F.xxhash64("key_str").alias("key"), "sha", "content")
        survivors = keyed.join(
            A.survivor_keys(A.exact_reps(keyed)), ["key", "sha"], "left_semi"
        )
        return with_signatures(survivors, PINNED, include_winnow=True).select(
            *SIGNATURE_COLUMNS
        )

    all_sigs = _sigs(union_pd).cache()
    new_keys = (
        spark.createDataFrame(new_pd)
        .select(F.xxhash64(file_key_col()).alias("key"))
        .distinct()
    )
    new_sigs = all_sigs.join(new_keys, "key", "left_semi")

    def _touching(pairs):
        src_new = pairs.join(
            new_keys.withColumnRenamed("key", "src"), "src", "left_semi"
        )
        dst_new = pairs.join(
            new_keys.withColumnRenamed("key", "dst"), "dst", "left_semi"
        )
        return {
            (r.src, r.dst)
            for r in src_new.unionByName(dst_new).distinct().collect()
        }

    # --- proportionality: the restricted band table (what enters the
    # bucket exchange) scales with the increment, not the corpus
    touched = B.explode_bands(new_sigs).select("bucket").distinct()
    full_rows = B.explode_bands(all_sigs).count()
    restr_rows = (
        B.explode_bands(all_sigs).join(touched, "bucket", "left_semi").count()
    )
    assert restr_rows < 0.3 * full_rows, (restr_rows, full_rows)

    # --- stage B equivalence: identical new-touching candidate set
    full_cands, _ = B.candidate_pairs(all_sigs, PINNED)
    restr_cands, _ = B.candidate_pairs(all_sigs, PINNED, bucket_filter=touched)
    assert _touching(restr_cands) == _touching(full_cands)

    # --- stage C: fingerprint exchange proportional + identical verified
    # new-touching pairs (the prefilter may admit extra candidates for
    # old probers with shrunk probe_n; verify_containment settles them)
    touched_fp = new_sigs.filter(F.size("winnow") > 0).select(
        F.explode("winnow").alias("fp")
    ).distinct()
    fc_full, _ = SC.fingerprint_candidates(all_sigs, PINNED)
    fc_restr, _ = SC.fingerprint_candidates(all_sigs, PINNED, fp_filter=touched_fp)
    v_full = SC.verify_containment(fc_full, all_sigs, PINNED)
    v_restr = SC.verify_containment(fc_restr, all_sigs, PINNED)
    assert _touching(v_restr.select("src", "dst")) == _touching(
        v_full.select("src", "dst")
    )
    all_sigs.unpersist()


def test_increment_signs_only_new_content(spark, split_corpora, folded):
    """The expensive signature pass must be proportional to the
    increment (cache-gate semantics)."""
    new_df = split_corpora[2]
    mgr = CheckpointManager(spark, folded[0], "upd", PINNED.config_hash())
    n_new_sigs = mgr.manifest("signatures_new")["rows"]
    assert n_new_sigs <= new_df.count()
    assert n_new_sigs > 0


@contextlib.contextmanager
def _job_group(sc, group: str):
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_job_budget(spark, split_corpora):
    """Spark jobs per run, the cost that dominates at this size. Before
    Stage C skipped Stage B's pairs, the checkpointed base run over the
    first 80 bases took 37 jobs and the fold of the rest onto it 45
    (this corpus, ``shuffle_partitions`` 8, an empty cache); neither may
    take more. Re-running a completed ``run_id`` reads every stage back
    and submits no job."""
    _, old_df, new_df = split_corpora
    sc = spark.sparkContext
    tmp = tempfile.mkdtemp(prefix="av_incr_jobs_")
    try:
        runs = {
            "base": lambda: run_pipeline(spark, old_df, tmp, "base"),
            "fold": lambda: incremental_update(
                spark, new_df, tmp, prev_run_id="base", run_id="upd"
            ),
        }
        for name, run in runs.items():
            # a run leaves its Stage A tables cached; another run over
            # the same corpus would reuse them
            spark.catalog.clearCache()
            for attempt in ("first", "rerun"):
                with _job_group(sc, f"jobs-{name}-{attempt}"):
                    run()
        jobs = {g: len(sc.statusTracker().getJobIdsForGroup(f"jobs-{g}"))
                for g in ("base-first", "base-rerun", "fold-first", "fold-rerun")}
        assert jobs["base-first"] <= 37, jobs
        assert jobs["fold-first"] <= 45, jobs
        assert jobs["base-rerun"] == jobs["fold-rerun"] == 0, jobs
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
