"""The three workloads: set-up, the measured closed loop, output checks
and the traced run.

Each workload runs in its own worker process (``worker.py``) on one
SparkSession. Set-up materializes the seeded inputs and makes untimed
warm-up runs; the first one's output digest is the reference every
later run of the same process must reproduce.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import statistics
import sys
import time
from concurrent.futures import Future
from dataclasses import dataclass, field

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from autovalidate_backend_api_spark import entrypoints
from autovalidate_backend_api_spark.config import PINNED
from autovalidate_backend_api_spark.functions.signatures import file_key_col
from autovalidate_backend_api_spark.operators import stage_b_lsh as B
from autovalidate_backend_api_spark.operators import stage_c_substring as C
from autovalidate_backend_api_spark.plans.incremental import incremental_update
from autovalidate_backend_api_spark.plans.pipeline import run_pipeline
from autovalidate_backend_api_spark.sources.checkpoint import CheckpointManager

import checks
import inputs
from proctree import PeakRss, tree_cpu_s
from tracing import Spans, dir_mb, tag_checkpoints, tagged

# untimed runs before the measured ones, counted in setup_s. The first
# run of a session is slow while the JVM compiles; incremental_fold's base
# run is a cold pipeline run of its own before its warm-up fold.
WARM_RUNS = 1

GATES = (
    "token_bag_clone_pairs", "ssjoin_filter_report", "lsh_recall_report",
    "containment_pairs", "minhash_lsh_dedup_pairs", "token_sort_similarity_pairs",
    "bm25_search_topk", "rare_bigram_flags",
)

PIPELINE_TAGS = (
    "keymap", "stage_a_pairs", "stage_a_survivors", "signatures", "signatures_new",
    "stage_b_pairs", "stage_c_pairs", "confirmed_pairs", "clusters",
)
TAG_METRICS = (("wall_s", "s"), ("jobs", "count"), ("task_cpu_s", "s"),
               ("shuffle_write_mb", "MB"), ("spill_mb", "MB"), ("task_skew", "ratio"))
EXTRA_TAG_METRICS = {
    "signatures": ("py_run_s", "py_bytes_mb", "ckpt_mb", "rows_out"),
    "signatures_new": ("py_run_s", "py_bytes_mb", "ckpt_mb", "rows_out"),
    "stage_b_pairs": ("py_run_s", "ckpt_mb"),
    "stage_c_pairs": ("ckpt_mb",),
    "confirmed_pairs": ("rows_out",),
}
UNITS = {"py_run_s": "s", "py_bytes_mb": "MB", "ckpt_mb": "MB", "rows_out": "count"}
COUNT_METRICS = (
    ("stage_a.dup_share", "share"),
    ("stage_b.candidates", "count"), ("stage_b.verify_yield", "share"),
    ("stage_b.dropped_buckets", "count"), ("stage_b.dropped_members", "count"),
    ("stage_b.bucket_p99", "count"), ("stage_b.bucket_max", "count"),
    ("stage_c.candidates", "count"), ("stage_c.verify_yield", "share"),
    ("stage_c.dropped_buckets", "count"), ("stage_c.bucket_max", "count"),
    ("clusters.edges", "count"),
)
KERNEL_PARTS = ("us_per_doc", "prefix", "shingles", "grams", "unique", "oph", "bands",
                "simhash", "winnow")
TRACE_METRICS = (("trace.wall_s", "s"), ("trace.tagged_share", "share"))


def pipeline_layer_units() -> dict[str, str]:
    """Every per-layer metric of a traced pipeline workload, with its unit."""
    units = {}
    for tag in PIPELINE_TAGS:
        units.update({f"{tag}.{m}": u for m, u in TAG_METRICS})
        units.update({f"{tag}.{m}": UNITS[m] for m in EXTRA_TAG_METRICS.get(tag, ())})
    units.update(dict(COUNT_METRICS))
    units.update({f"hashing.{p}": "us/doc" for p in KERNEL_PARTS})
    units.update(dict(TRACE_METRICS))
    return units


def gate_layer_units() -> dict[str, str]:
    units = {f"gate.{g}.{m}": u for g in GATES for m, u in TAG_METRICS[:4]}
    units.update(dict(TRACE_METRICS))
    return units


@dataclass
class Ctx:
    spark: SparkSession
    work: str
    seed: int
    seconds: float
    trace: bool
    session_s: float
    # golden pairs of the pipeline workloads, computed while the session starts
    golden: Future | None = None
    spans: Spans = field(default_factory=Spans)


@dataclass
class Outcome:
    """What a workload hands back to the worker."""

    metrics: dict[str, tuple[float, str]] = field(default_factory=dict)
    report: dict[str, tuple[float, str]] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    correct: bool = True
    layers: dict[str, float] = field(default_factory=dict)
    # filled from the event log once the session has stopped
    layer_tags: tuple[str, ...] = ()
    trace_wall_s: float = 0.0


def log(msg: str) -> None:
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


def _timed(make):
    """(wall seconds, result) of ``make()``."""
    t0 = time.monotonic()
    out = make()
    return time.monotonic() - t0, out


def _closed_loop(ctx: Ctx, run, after) -> tuple[list[float], list[float], float]:
    """Run ``run(i)`` back to back until ``ctx.seconds`` of run wall have
    been measured (at least once). ``after(i, out)`` checks and cleans
    up outside the timed region. Returns (walls, cpu seconds, peak MB)."""
    walls, cpus = [], []
    with PeakRss() as rss:
        while not walls or sum(walls) < ctx.seconds:
            ctx.spark.catalog.clearCache()
            cpu0, t0 = tree_cpu_s(), time.monotonic()
            out = run(len(walls))
            walls.append(time.monotonic() - t0)
            cpus.append(tree_cpu_s() - cpu0)
            after(len(walls) - 1, out)
            log(f"run {len(walls) - 1}: {walls[-1]:.2f} s wall, {cpus[-1]:.2f} s cpu")
    return walls, cpus, rss.peak_mb


def _e2e(out: Outcome, walls, cpus, peak_mb, setup_s, files: int | None) -> None:
    wall = statistics.median(walls)
    out.metrics["wall_s"] = (wall, "s")
    if files is not None:
        out.metrics["files_per_s"] = (files / wall, "1/s")
    out.metrics["cpu_s"] = (statistics.median(cpus), "s")
    out.metrics["peak_rss_mb"] = (peak_mb, "MB")
    out.metrics["setup_s"] = (setup_s, "s")
    out.report["timed_runs"] = (len(walls), "count")


# ---------------------------------------------------------------------------
# pipeline workloads
# ---------------------------------------------------------------------------

def _ckpt(ctx: Ctx, base_dir: str, run_id: str) -> CheckpointManager:
    return CheckpointManager(ctx.spark, base_dir, run_id, PINNED.config_hash())


def _pipeline_workload(ctx: Ctx, out: Outcome, run, corpus, files: int,
                       setup_s: float, check_run=None) -> tuple[str, str]:
    """Shared flow of full_batch and incremental_fold.

    ``run(name)`` makes one run into checkpoint run dir ``name`` and
    returns (result, base_dir, run_id); ``corpus`` is every file the
    clusters cover, for the recall check. The first untimed warm-up run
    gives the digest every later run must reproduce;
    ``check_run(result)`` is an extra per-run check.
    Returns the traced run's (base_dir, run_id) in trace mode, else the
    last run's."""
    first: dict = {}
    last: dict = {}

    def check(res, base_dir, run_id):
        out.attempted += 1
        digest = checks.run_digest(res.clusters, res.confirmed_pairs)
        first.setdefault("digest", digest)
        if digest != first["digest"] or (check_run and not check_run(res)):
            out.failed += 1
        last.update(res=res, base_dir=base_dir, run_id=run_id)

    for i in range(WARM_RUNS):
        warm_s, res = _timed(lambda: run(f"warm{i}"))
        setup_s += warm_s
        log(f"warm-up {i}: {warm_s:.2f} s")
        check(*res)
        shutil.rmtree(os.path.join(res[1], res[2]), ignore_errors=True)
    log(f"set-up done, setup_s {setup_s:.2f}")
    golden = ctx.golden.result()  # long done: nothing else runs in the driver from here
    if ctx.trace:
        with tag_checkpoints(ctx.spark, ctx.spans):
            out.trace_wall_s, traced = _timed(lambda: run("traced"))
        check(*traced)
    else:
        def after(i, got):
            if last:
                shutil.rmtree(os.path.join(last["base_dir"], last["run_id"]), ignore_errors=True)
            check(*got)

        walls, cpus, peak = _closed_loop(ctx, lambda i: run(f"run{i}"), after)
        _e2e(out, walls, cpus, peak, setup_s, files)
        log("measured runs done")
    keys = {r[0] for r in corpus.select(file_key_col()).collect()}
    recall, false_merges = checks.recall_and_false_merges(last["res"].clusters, golden, keys)
    out.report["recall"] = (recall, "share")
    out.report["false_merges"] = (false_merges, "count")
    out.correct = out.failed == 0 and recall >= 0.99 and false_merges == 0
    log("recall checked")
    return last["base_dir"], last["run_id"]


def _bucket_counts(sigs, b_verified: int, c_verified: int) -> dict[str, float]:
    """Candidate, dropped-bucket and bucket-size counts over a signature
    table, from the operators' own candidate generators."""
    cap = PINNED.max_band_bucket
    n = F.col("n")
    sizes = B.explode_bands(sigs).groupBy("bucket").agg(F.count("*").alias("n"))
    b = sizes.agg(
        F.expr("percentile(n, 0.99)").alias("p99"),
        F.max(n).alias("mx"),
        F.sum((n > cap).cast("long")).alias("dropped"),
        F.sum(F.when(n > cap, n).otherwise(0)).alias("members"),
    ).first()
    b_cands = B.candidate_pairs(sigs, PINNED)[0].count()
    c_cands_df, c_dropped = C.fingerprint_candidates(sigs, PINNED)
    c_cands = c_cands_df.count()
    fp_max = (
        sigs.select(F.explode("winnow").alias("fp")).groupBy("fp").count()
        .agg(F.max("count")).first()[0]
    )
    return {
        "stage_b.candidates": b_cands,
        "stage_b.verify_yield": b_verified / b_cands if b_cands else 0.0,
        "stage_b.dropped_buckets": b["dropped"] or 0,
        "stage_b.dropped_members": b["members"] or 0,
        "stage_b.bucket_p99": b["p99"] or 0,
        "stage_b.bucket_max": b["mx"] or 0,
        "stage_c.candidates": c_cands,
        "stage_c.verify_yield": c_verified / c_cands if c_cands else 0.0,
        "stage_c.dropped_buckets": c_dropped.count(),
        "stage_c.bucket_max": fp_max or 0,
    }


def _checkpoint_layers(ctx: Ctx, out: Outcome, base_dir: str, run_id: str,
                       prev: CheckpointManager | None = None) -> None:
    """ckpt_mb / rows_out per tag and the count metrics of the traced run.

    For incremental_fold the counts describe the union signature table
    the fold leaves behind, and the verified pairs are the base run's
    plus the fold's (a fold only adds pairs touching a new file)."""
    mgr = _ckpt(ctx, base_dir, run_id)
    for tag, extra in EXTRA_TAG_METRICS.items():
        if "ckpt_mb" in extra:
            path = os.path.join(base_dir, run_id, tag)
            out.layers[f"{tag}.ckpt_mb"] = dir_mb(path) if os.path.isdir(path) else 0.0
        if "rows_out" in extra:
            out.layers[f"{tag}.rows_out"] = mgr.rows_of(tag) or 0

    def verified(stage):
        return (mgr.rows_of(stage) or 0) + ((prev.rows_of(stage) or 0) if prev else 0)

    keys = mgr.rows_of("keymap") or 1
    out.layers["stage_a.dup_share"] = (mgr.rows_of("stage_a_pairs") or 0) / keys
    out.layers["clusters.edges"] = mgr.rows_of("confirmed_pairs") or 0
    out.layers.update(
        _bucket_counts(mgr.read("signatures"), verified("stage_b_pairs"),
                       verified("stage_c_pairs"))
    )
    out.layer_tags = PIPELINE_TAGS


def full_batch(ctx: Ctx) -> Outcome:
    """run_pipeline with durable checkpoints, as spark_submit_job.py calls it."""
    out = Outcome()
    spark, ck = ctx.spark, f"{ctx.work}/ckpt"
    path = f"{ctx.work}/corpus"
    mat_s, n_files = _timed(lambda: inputs.write_corpus(spark, path, ctx.seed))
    log(f"inputs written ({mat_s:.2f} s)")
    corpus = spark.read.parquet(path)

    def run(name):
        base_dir = f"{ck}/{name}"
        return run_pipeline(spark, corpus, base_dir, name), base_dir, name

    base_dir, run_id = _pipeline_workload(ctx, out, run, corpus, n_files, ctx.session_s + mat_s)
    out.report["files"] = (n_files, "count")
    if ctx.trace:
        _checkpoint_layers(ctx, out, base_dir, run_id)
    return out


def incremental_fold(ctx: Ctx) -> Outcome:
    """incremental_update of a ~10% increment onto a completed base run."""
    out = Outcome()
    spark, ck = ctx.spark, f"{ctx.work}/ckpt"
    base_path, incr_path = f"{ctx.work}/base", f"{ctx.work}/incr"
    mat_s, (n_base_files, n_incr) = _timed(
        lambda: inputs.write_fold_inputs(spark, base_path, incr_path, ctx.seed)
    )
    log(f"inputs written ({mat_s:.2f} s)")
    base_s, _ = _timed(lambda: run_pipeline(spark, spark.read.parquet(base_path), ck, "base"))
    log(f"base run done ({base_s:.2f} s)")
    increment = spark.read.parquet(incr_path)
    base_pairs = _ckpt(ctx, ck, "base").read("confirmed_pairs").select("src", "dst")

    def run(name):
        return incremental_update(spark, increment, ck, "base", name), ck, name

    def keeps_base_pairs(res) -> bool:
        """A fold only adds pairs: every base pair is still confirmed."""
        return base_pairs.join(res.confirmed_pairs, ["src", "dst"], "left_anti").isEmpty()

    union = spark.read.parquet(base_path).unionByName(increment)
    base_dir, run_id = _pipeline_workload(
        ctx, out, run, union, n_incr, ctx.session_s + mat_s + base_s,
        check_run=keeps_base_pairs,
    )
    out.report["base_files"] = (n_base_files, "count")
    out.report["files"] = (n_incr, "count")
    if ctx.trace:
        _checkpoint_layers(ctx, out, base_dir, run_id, prev=_ckpt(ctx, ck, "base"))
        scratch = run_pipeline(spark, union, f"{ctx.work}/scratch", "scratch")
        got = _ckpt(ctx, base_dir, run_id).read("clusters").toPandas()
        want = scratch.clusters.toPandas()
        same = dict(zip(got["key"], got["cluster_rep"])) == dict(
            zip(want["key"], want["cluster_rep"])
        )
        out.report["fold_equals_scratch"] = (int(same), "bool")
    return out


# ---------------------------------------------------------------------------
# gate suite
# ---------------------------------------------------------------------------

def _gate_oracle(ctx: Ctx, sf_dir: str, out: Outcome) -> None:
    """Warm-up pass: every gate once, checked against its DuckDB oracle."""
    import duckdb

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, os.path.join(root, "tests"))
    from oracle_harness import compare

    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf_dir}/documents.parquet')")
    queries, oracles = entrypoints.queries(), entrypoints.oracle_sql()
    for g in GATES:
        ctx.spark.catalog.clearCache()
        out.attempted += 1
        ok, why = compare(queries[g](ctx.spark, sf_dir), con, oracles[g])
        if not ok:
            print(f"gate {g} differs from its oracle: {why}", file=sys.stderr)
            out.failed += 1
    con.close()


def _gate_pass(ctx: Ctx, out: Outcome, sf_dir: str, tag: bool) -> None:
    queries = entrypoints.queries()
    for g in GATES:
        ctx.spark.catalog.clearCache()
        out.attempted += 1
        with tagged(ctx.spark, ctx.spans, f"gate.{g}") if tag else contextlib.nullcontext():
            queries[g](ctx.spark, sf_dir).write.mode("overwrite").format("noop").save()


def gate_suite(ctx: Ctx) -> Outcome:
    """One pass over the dedup-family and ROADMAP-flagged gates."""
    out = Outcome()
    sf_dir = f"{ctx.work}/docs"
    mat_s, _ = _timed(lambda: inputs.write_documents(sf_dir, ctx.seed))
    oracle_s, _ = _timed(lambda: _gate_oracle(ctx, sf_dir, out))
    setup_s = ctx.session_s + mat_s + oracle_s
    if ctx.trace:
        out.trace_wall_s, _ = _timed(lambda: _gate_pass(ctx, out, sf_dir, tag=True))
        out.layer_tags = tuple(f"gate.{g}" for g in GATES)
    else:
        walls, cpus, peak = _closed_loop(ctx, lambda i: _gate_pass(ctx, out, sf_dir, False),
                                         lambda i, got: None)
        _e2e(out, walls, cpus, peak, setup_s, None)
    out.correct = out.failed == 0
    out.report["gates"] = (len(GATES), "count")
    return out


WORKLOADS = {
    "full_batch": full_batch,
    "incremental_fold": incremental_fold,
    "gate_suite": gate_suite,
}
