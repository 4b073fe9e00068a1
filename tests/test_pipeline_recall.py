"""The north_rule correctness gate: dup-pair recall ≥ 0.99 on the recast
fixture corpus, zero false merges on negatives, the per-row sha256
invariant, golden cluster-assignment parity, and checkpoint resume."""

from __future__ import annotations

import json
import shutil
import tempfile

import pytest

from autovalidate_backend_api_spark import corpus as C
from autovalidate_backend_api_spark.plans.pipeline import run_pipeline
from test_incremental import assert_unique_canonical

N_BASE = 200


@pytest.fixture(scope="module")
def pipeline_run(spark):
    corpus_df = spark.createDataFrame(C.corpus_pandas(N_BASE))
    tmp = tempfile.mkdtemp(prefix="av_ckpt_")
    res = run_pipeline(spark, corpus_df, tmp, run_id="pytest")
    clusters = {r["key"]: r["cluster_rep"] for r in res.clusters.collect()}
    yield corpus_df, res, clusters, tmp
    shutil.rmtree(tmp, ignore_errors=True)


def _key(repo, path, commit):
    return f"{repo}\x01{path}\x01{commit}"


def test_recall_gate(pipeline_run):
    """north_rule: dup-pair recall ≥ 0.99 at the pinned config."""
    _, _, clusters, _ = pipeline_run
    exp = C.expected_pairs_pandas(N_BASE)
    mm = exp[exp.must_match]
    found = sum(
        clusters[_key(p.src_repo, p.src_path, p.src_commit)]
        == clusters[_key(p.dst_repo, p.dst_path, p.dst_commit)]
        for p in mm.itertuples()
    )
    recall = found / len(mm)
    assert recall >= 0.99, f"recall {recall:.4f} ({found}/{len(mm)})"


def test_negative_precision_guard(pipeline_run):
    """Files sharing only the license header must NOT cluster."""
    _, _, clusters, _ = pipeline_run
    exp = C.expected_pairs_pandas(N_BASE)
    neg = exp[exp.dup_class == "negative"]
    merged = sum(
        clusters[_key(p.src_repo, p.src_path, p.src_commit)]
        == clusters[_key(p.dst_repo, p.dst_path, p.dst_commit)]
        for p in neg.itertuples()
    )
    assert merged == 0, f"{merged}/{len(neg)} negatives falsely merged"


def test_sha_invariant(pipeline_run):
    """Per-row invariant: sha256(content) equality ⇒ same cluster, always."""
    corpus_df, _, clusters, _ = pipeline_run
    import pyspark.sql.functions as F

    rows = corpus_df.select(
        F.concat_ws("\x01", "repo", "path", "commit").alias("key"),
        F.sha2("content", 256).alias("sha"),
    ).collect()
    by_sha = {}
    for r in rows:
        by_sha.setdefault(r["sha"], []).append(r["key"])
    for sha, keys in by_sha.items():
        reps = {clusters[k] for k in keys}
        assert len(reps) == 1, f"sha group split across clusters: {sha}"


def test_golden_cluster_assignment(pipeline_run):
    """Full cluster-assignment parity with the expected transitive
    closure (representative = lexicographic min key)."""
    _, _, clusters, _ = pipeline_run
    expc = C.expected_clusters_pandas(N_BASE)
    mismatches = [
        (r.repo, r.path)
        for r in expc.itertuples()
        if clusters[_key(r.repo, r.path, r.commit)] != r.cluster_rep
    ]
    assert not mismatches, f"{len(mismatches)} mismatches, first: {mismatches[:3]}"


def test_checkpoint_resume(spark, pipeline_run):
    """Re-running the same (run_id, config) must skip completed stages
    and reproduce identical clusters (north_rule resumability)."""
    corpus_df, first, clusters, tmp = pipeline_run
    res2 = run_pipeline(spark, corpus_df, tmp, run_id="pytest")
    wall2 = {m["stage"]: m["wall_ms"] for m in res2.metrics}
    # resumed run does no recomputation — every stage is a checkpoint read
    assert sum(wall2.values()) < 15_000, f"resume recomputed: {wall2}"
    clusters2 = {r["key"]: r["cluster_rep"] for r in res2.clusters.collect()}
    assert clusters2 == clusters


def test_manifest_has_per_partition_lineage(spark, pipeline_run):
    from autovalidate_backend_api_spark.config import PINNED
    from autovalidate_backend_api_spark.sources.checkpoint import CheckpointManager

    _, _, _, tmp = pipeline_run
    mgr = CheckpointManager(spark, tmp, "pytest", PINNED.config_hash())
    man = mgr.manifest("confirmed_pairs")
    assert man["rows"] == sum(p[1] for p in man["partitions"])
    assert len(man["partitions"]) >= 1
    assert man["config_hash"] == PINNED.config_hash()


def test_checkpoint_read_runs_no_job(spark, pipeline_run):
    """A stage read passes the schema its manifest holds, so it runs no
    parquet schema-inference job, and the schema is the one inference
    gives."""
    from autovalidate_backend_api_spark.config import PINNED
    from autovalidate_backend_api_spark.sources.checkpoint import CheckpointManager

    _, _, _, tmp = pipeline_run
    mgr = CheckpointManager(spark, tmp, "pytest", PINNED.config_hash())
    sc = spark.sparkContext
    sc.setJobGroup("ckpt-read", "checkpoint reads")
    try:
        tables = {s: mgr.read(s) for s in ("keymap", "signatures", "clusters")}
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert sc.statusTracker().getJobIdsForGroup("ckpt-read") == []
    for stage, df in tables.items():
        assert df.schema == spark.read.parquet(f"{tmp}/pytest/{stage}/data").schema, stage


def test_config_change_invalidates_checkpoints(spark, pipeline_run):
    import dataclasses

    from autovalidate_backend_api_spark.config import PINNED
    from autovalidate_backend_api_spark.sources.checkpoint import CheckpointManager

    _, _, _, tmp = pipeline_run
    other = dataclasses.replace(PINNED, jaccard_threshold=0.8)
    mgr = CheckpointManager(spark, tmp, "pytest", other.config_hash())
    assert not mgr.exists("stage_b_pairs")
    mgr_same = CheckpointManager(spark, tmp, "pytest", PINNED.config_hash())
    assert mgr_same.exists("stage_b_pairs")


def test_rows_of_tolerates_corrupt_manifest(spark, tmp_path):
    """A missing or truncated manifest degrades rows_of() to None (the
    caller falls back to a recount) instead of raising."""
    import os

    from autovalidate_backend_api_spark.sources.checkpoint import CheckpointManager

    ckpt = CheckpointManager(spark, str(tmp_path), "run-x", "cfg")
    assert ckpt.rows_of("nope") is None  # missing → None (OSError path)
    stage_dir = os.path.join(str(tmp_path), "run-x", "confirmed_pairs")
    os.makedirs(stage_dir)
    with open(os.path.join(stage_dir, "_manifest.json"), "w") as f:
        f.write('{"rows": 12')  # truncated write
    assert ckpt.rows_of("confirmed_pairs") is None


def test_outputs_do_not_depend_on_shuffle_partitions(spark, tmp_path):
    """The keyed exchanges (signatures, Stage B bands, Stage C
    fingerprints) take their partition count from the session, so AQE
    can size them by bytes. The clusters and confirmed pairs of a
    checkpointed run must not change with that count. AQE coalescing is
    off here, so the two runs really use 8 and 3 partitions."""
    corpus_df = spark.createDataFrame(C.corpus_pandas(60, seed=11))
    confs = ("spark.sql.shuffle.partitions",
             "spark.sql.adaptive.coalescePartitions.enabled")
    prev = {k: spark.conf.get(k) for k in confs}
    outs = []
    try:
        spark.conf.set(confs[1], "false")
        for n, ckpt in ((8, True), (3, True), (3, False)):
            spark.conf.set(confs[0], str(n))
            res = run_pipeline(
                spark, corpus_df, str(tmp_path / f"sp{n}") if ckpt else None,
                run_id="sp",
            )
            assert_unique_canonical(res.confirmed_pairs)
            outs.append((
                {tuple(r) for r in res.clusters.collect()},
                {tuple(r) for r in res.confirmed_pairs.collect()},
            ))
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)
    (clusters8, pairs8), (clusters3, pairs3), ephemeral = outs
    # every stage that feeds confirmed_pairs contributes
    assert {r[-1] for r in pairs8} >= {"sha", "minhash", "substring"}
    assert clusters8 == clusters3
    assert pairs8 == pairs3
    # checkpoint_dir=None runs the same plan
    assert ephemeral == (clusters8, pairs8)


def test_stage_c_skips_stage_b_pairs(spark, pipeline_run):
    """Stage C is the fallback for what Stage B did not confirm: no
    (src, dst) is in both pair tables."""
    from autovalidate_backend_api_spark.config import PINNED
    from autovalidate_backend_api_spark.sources.checkpoint import CheckpointManager

    _, _, _, tmp = pipeline_run
    mgr = CheckpointManager(spark, tmp, "pytest", PINNED.config_hash())
    b, c = (mgr.read(s).select("src", "dst") for s in ("stage_b_pairs", "stage_c_pairs"))
    assert mgr.rows_of("stage_c_pairs") > 0
    assert b.join(c, ["src", "dst"]).isEmpty()


def test_distributed_cluster_table_matches_checkpoint(spark, pipeline_run):
    """The above-cap translation (large-star/small-star labels, then the
    same id → key translation) reproduces the run's clusters exactly."""
    import dataclasses

    from autovalidate_backend_api_spark.config import PINNED
    from autovalidate_backend_api_spark.plans.pipeline import cluster_table
    from autovalidate_backend_api_spark.sources.checkpoint import CheckpointManager

    _, _, clusters, tmp = pipeline_run
    mgr = CheckpointManager(spark, tmp, "pytest", PINNED.config_hash())
    dist = dataclasses.replace(PINNED, cc_driver_max_edges=0)
    got = cluster_table(mgr.read("keymap"), mgr.read("confirmed_pairs"), dist)
    got = {r["key"]: r["cluster_rep"] for r in got.collect()}
    assert got == clusters
    assert any(k != rep for k, rep in got.items())


def test_interrupted_run_resumes_to_same_outputs(spark, tmp_path):
    """A run cut after a lost stage output and a torn clusters manifest
    recomputes exactly those stages and yields the same clusters and
    confirmed pairs."""
    import os

    corpus_df = spark.createDataFrame(C.corpus_pandas(60, seed=5))
    base = str(tmp_path)

    def run():
        res = run_pipeline(spark, corpus_df, base, run_id="cut")
        return (
            {tuple(r) for r in res.clusters.collect()},
            {tuple(r) for r in res.confirmed_pairs.collect()},
        )

    clusters, pairs = run()
    shutil.rmtree(os.path.join(base, "cut", "stage_c_pairs"))
    manifest = os.path.join(base, "cut", "clusters", "_manifest.json")
    with open(manifest) as f:
        text = f.read()
    with open(manifest, "w") as f:
        f.write(text[: len(text) // 2])
    assert run() == (clusters, pairs)
    # both damaged checkpoints were rewritten, not bypassed
    assert os.path.exists(os.path.join(base, "cut", "stage_c_pairs", "_manifest.json"))
    with open(manifest) as f:
        assert json.load(f)["rows"] == len(clusters)
