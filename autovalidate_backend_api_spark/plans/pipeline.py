"""The flagship dedup pipeline: Stage A → B → C → D with checkpoints.

Dataflow reframing of the reference cascade
(/root/reference/app/api/app.py:307-380, traced in SURVEY.md §3.1):

  corpus ─ sha256 ─► Stage A exact groups ──► star edges ───────────┐
              │ (survivors: 1 rep / sha — the P8 short-circuit)     │
              ▼                                                     │
         signatures (one Arrow pass: MinHash/SimHash/winnow)        │
              ├─► Stage B: LSH bands → candidates → verify ─────────┤
              └─► Stage C: winnow fingerprints → containment ───────┤
                                                                    ▼
                              union → canonicalize → connected components
                                                                    │
                              clusters (key → cluster_rep) ◄────────┘

Stage gating: Stage B/C run on sha-survivors only — exact copies never
reach the expensive stages (the reference's cache-hit short-circuit,
app.py:340-347). Stage C is the fallback for what Stage B did not
confirm (the reference's semantic pass, search.py:139-154): its
candidates are anti-joined against this run's Stage B pairs before the
containment verify, so the sha, B and C pair sets are disjoint by
construction and ``confirmed_pairs`` is their plain union.

Every stage output is an idempotent checkpoint commit; re-running the
same (run_id, config) skips completed stages (north_rule resumability).

One plan serves both entry points: ``run_pipeline`` is ``run_plan``
with no parent, and ``plans/incremental.py``'s fold is ``run_plan``
with a completed run as parent — search is the join restricted to the
probes of the new side, not a second cascade.
"""

from __future__ import annotations

import time
from dataclasses import dataclass

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from autovalidate_backend_api_spark.config import PINNED, PipelineConfig
from autovalidate_backend_api_spark.functions.signatures import (
    file_key_col,
    sha256_col,
    with_signatures,
)
from autovalidate_backend_api_spark.operators import stage_a_exact as A
from autovalidate_backend_api_spark.operators import stage_b_lsh as B
from autovalidate_backend_api_spark.operators import stage_c_substring as C
from autovalidate_backend_api_spark.operators.connected_components import (
    component_labels,
)
from autovalidate_backend_api_spark.sources.checkpoint import CheckpointManager

# columns of the checkpointed ``signatures`` table (batch and fold)
SIGNATURE_COLUMNS = (
    "key", "norm", "shingles", "bands_tok", "bands_chr",
    "n_shingles", "simhash", "winnow",
)

# the stages a fold reads from its parent and writes as parent ∪ increment
PARENT_TABLES = ("keymap", "stage_a_survivors", "signatures", "confirmed_pairs")


@dataclass
class PipelineResult:
    clusters: DataFrame          # key, cluster_rep
    confirmed_pairs: DataFrame   # src, dst, jaccard, hamming, stage
    metrics: list[dict]


def cluster_table(
    keymap: DataFrame,
    confirmed: DataFrame,
    cfg: PipelineConfig = PINNED,
    n_edges: int | None = None,
) -> DataFrame:
    """keymap (id, key_str) + confirmed (src, dst) id edges →
    (key, cluster_rep = min key_str of the key's component).

    Only edge-TOUCHED ids (≤ 2·edges) are translated to keys: every
    untouched keymap row is its own representative by identity, so the
    full id table never enters a wide shuffle just to translate
    singletons. The union-find labels arrive broadcast-hinted while
    small (``component_labels``), which keeps both keymap joins
    map-side; the representative is one window-min over the touched
    rows.
    """
    labels = component_labels(confirmed, cfg, n_edges)
    on = keymap.id == labels.key
    touched = keymap.join(labels, on).select(
        F.col("key_str").alias("key"),
        F.min("key_str").over(Window.partitionBy("comp")).alias("cluster_rep"),
    )
    singles = keymap.join(labels, on, "left_anti").select(
        F.col("key_str").alias("key"), F.col("key_str").alias("cluster_rep")
    )
    return touched.unionByName(singles)


def _touching(cands: DataFrame, new_keys: DataFrame | None) -> DataFrame:
    """The (src, dst) candidates with at least one endpoint in ``new_keys``
    (old×old pairs are already known — a new-touched bucket still pairs
    its old members with each other); every candidate when there is no
    parent run (``new_keys`` None). ``cands`` enters the plan once, so
    its hot-bucket observation is on no union branch AQE could prune."""
    if new_keys is None:
        return cands
    return (
        cands.select("src", "dst", F.explode(F.array("src", "dst")).alias("key"))
        .join(new_keys, "key", "left_semi")
        .select("src", "dst")
        .dropDuplicates(["src", "dst"])
    )


def _drop_counts(obs: Observation, dropped: DataFrame, rows_out: int | None) -> dict:
    """A stage's hot-bucket drops, from the observation its query filled
    (``stage_b_lsh.observe_drops``; no job of its own). It has no row
    when AQE left its node out of the final plan: when the drop set is
    empty (the anti-join loses its empty broadcast side), or when an
    empty stage after the anti-join made the subtree an empty relation.
    ``sizes`` and the anti-join's left side are one table, and every
    path from there to the output is inner joins, filters, aggregations
    and Stage C's left-anti join against the Stage B pairs (the
    observed side on its left; no union), so a stage that wrote rows
    lost it the first way: no drops. One that wrote none re-counts."""
    try:
        row = obs.get
    except Py4JJavaError as e:  # toPyRow asserts on the missing row
        if e.java_exception.getClass().getName() != "java.lang.AssertionError":
            raise
        row = {"dropped_buckets": 0} if rows_out else (
            dropped.agg(*B.drop_metrics()).first().asDict()
        )
    return {"dropped_buckets": int(row["dropped_buckets"]),
            "dropped_members": int(row.get("dropped_members") or 0)}


def run_pipeline(
    spark: SparkSession,
    corpus: DataFrame,
    checkpoint_dir: str | None,
    run_id: str = "run0",
    cfg: PipelineConfig = PINNED,
    verbose: bool = True,
) -> PipelineResult:
    """From-scratch run: ``run_plan`` with no parent.

    checkpoint_dir=None disables durable checkpoints (bench mode):
    stage outputs are persisted in memory/disk cache instead — same
    dataflow, no resumability. ``verbose`` is ignored; it stays so the
    bench scripts' calls still bind (drop counts are in ``metrics``)."""
    return run_plan(spark, corpus, checkpoint_dir, run_id, cfg)


def run_plan(
    spark: SparkSession,
    corpus: DataFrame,
    checkpoint_dir: str | None,
    run_id: str,
    cfg: PipelineConfig,
    parent_run_id: str | None = None,
) -> PipelineResult:
    """The one Stage A→D plan, for a from-scratch run and for a fold.

    With ``parent_run_id`` (a completed run under the same
    ``checkpoint_dir`` and config) ``corpus`` is an increment folded
    into that run's state (``plans/incremental.py``). Each stage then
    differs by one guard: ``keymap``, ``stage_a_survivors``,
    ``signatures`` and ``confirmed_pairs`` carry the parent's rows too;
    only content the parent has not signed is signed (written as
    ``signatures_new``); Stage B and C generate candidates only from the
    buckets and fingerprints of the new signatures and keep only pairs
    touching a new key. Without a parent every guard is a no-op.

    ``metrics`` has one entry per stage (run_id, stage, wall_ms); Stage
    B's and C's add ``dropped_buckets``/``dropped_members`` (a fold's:
    among the buckets it touches) unless resumed from a checkpoint.

    Stages materialize SEQUENTIALLY — deliberate, measured (r4): driver-
    thread concurrency for the independent branches (keymap ∥ Stage-A
    aggs; Stage B ∥ Stage C over the persisted signature table) was
    implemented and benchmarked at 147k files / local[8]: B and C each
    stretched from 11.5+8.0 s sequential to ~20 s running concurrently
    (wall saved ≈ 0; whole-pipeline A/B same-session: 47.3-49.7 s
    sequential vs 52.6-64.4 s concurrent). On this single-substrate
    host the shuffle-bound stages keep the machine saturated — two jobs
    just time-slice and thrash spill locality. On a REAL cluster with
    network waits and per-executor disks, scheduler-level overlap of
    independent stages is still the right expectation; revisit there
    (scheduler pools), not here."""
    metrics: list[dict] = []

    if checkpoint_dir is None:
        class _Ephemeral:
            rows: dict = {}

            def get_or_compute(self, stage, compute):
                df = compute().persist()
                # materialize so stage timings are honest; the count is
                # kept so downstream dispatch never re-counts (one job)
                self.rows[stage] = df.count()
                return df

            def rows_of(self, stage):
                return self.rows.get(stage)

        ckpt = _Ephemeral()
    else:
        ckpt = CheckpointManager(spark, checkpoint_dir, run_id, cfg.config_hash())
    # the parent's cumulative tables, each read (one schema job) once
    parent = None
    if parent_run_id is not None:
        prev = CheckpointManager(spark, checkpoint_dir, parent_run_id, cfg.config_hash())
        parent = {name: prev.read(name) for name in PARENT_TABLES}

    # (observation, dropped) of a Stage B/C query that ran: a resumed
    # stage never fills its observation, and reading it would block
    drops: dict[str, tuple[Observation, DataFrame]] = {}

    def stage(name: str, compute) -> DataFrame:
        t0 = time.monotonic()
        out = ckpt.get_or_compute(name, compute)
        entry = {"run_id": run_id, "stage": name,
                 "wall_ms": int((time.monotonic() - t0) * 1000)}
        if name in drops:
            entry.update(_drop_counts(*drops.pop(name), ckpt.rows_of(name)))
        metrics.append(entry)
        return out

    def with_parent(name: str, rows: DataFrame) -> DataFrame:
        """This run's rows of a stage plus its parent's, so a fold's
        tables hold the whole corpus and can parent the next fold."""
        return rows if parent is None else parent[name].unionByName(rows)

    # ---- surrogate ids ---------------------------------------------------
    # All internal shuffles (LSH buckets, pair tables, CC iterations) run
    # on 8-byte xxhash64 ids instead of ~70-byte string keys — shuffle
    # bytes are the non-scaling cost in this pipeline. String keys are
    # joined back once at the end; the cluster representative stays the
    # LEXICOGRAPHIC-MIN KEY (reference semantics), not the min id.
    # Collision safety: verified per run below (birthday bound at 64 bits
    # is ~3e-12 per pair at 49k files; at true 10^12-file scale swap in a
    # 128-bit id = struct(xxhash64(key, seed1), xxhash64(key, seed2))).
    keyed = corpus.select(
        file_key_col().alias("key_str"),
        sha256_col(F.col("content")).alias("sha"),
        "content",
    )
    hashed = keyed.select(
        F.xxhash64("key_str").alias("key"), "sha", "content"
    )

    def _keymap() -> DataFrame:
        # One grouped pass over the ids, before the keymap is written,
        # tells duplicate-input keys from genuine xxhash64 collisions (a
        # corpus with repeated (repo,path,commit) rows is an input error,
        # not a hash failure): an id held by several rows of one key_str
        # is a duplicate key, one held by several key_strs a collision.
        # A bad corpus raises before any signing, a resumed run skips the
        # check, and every later stage may assume unique keys.
        km = with_parent(
            "keymap", keyed.select(F.xxhash64("key_str").alias("id"), "key_str")
        )
        clashes = (
            km.groupBy("id")
            .agg(F.count("*").alias("n"), F.min("key_str").alias("lo"),
                 F.max("key_str").alias("hi"))
            .filter(F.col("n") > 1)
            .collect()
        )
        n_dup = sum(r["n"] - 1 for r in clashes if r["lo"] == r["hi"])
        if n_dup:
            raise RuntimeError(
                f"duplicate corpus keys ({n_dup}): "
                "(repo, path, commit) must be unique per corpus row"
            )
        if clashes:
            raise RuntimeError(
                f"xxhash64 key collision ({len(clashes)}): "
                "switch to the 128-bit id documented above"
            )
        # coalesce (narrow, no shuffle): the keymap is probed by SMALL
        # downstream jobs (the broadcast-join translation, the singleton
        # anti-join) — at the provider's input partitioning (128 at
        # bench) every probe pays a full wave of near-empty tasks
        # (measured 1.76 s for one agg over 49k cached rows; ~0.4 s at
        # shuffle_partitions). A fold's keymap is a plain union with its
        # parent's, kept unique by the check above.
        return km.coalesce(cfg.shuffle_partitions)

    keymap = stage("keymap", _keymap)

    # ONE sha256 pass over the corpus serves all of Stage A: the slim
    # (key, sha) projection is persisted (8-byte id + 64-char hex per
    # row — MBs at bench scale, and the same shape a production run
    # would checkpoint), the salted reps aggregation runs over it once,
    # and both the pair stage and the survivor stage consume the shared
    # ``reps`` frame (r6: previously exact_pairs and survivor_keys each
    # recomputed exact_reps — three sha256 corpus scans per run). A fold
    # adds its parent's survivors (one (key, sha) row per distinct
    # content), so a new file equal to an old one links to the old
    # representative (the Redis-hit analog) and old×old pairs never
    # recur.
    key_sha = with_parent("stage_a_survivors", hashed.select("key", "sha")).persist()
    reps = A.exact_reps(key_sha).persist()
    sha_pairs = stage("stage_a_pairs", lambda: A.exact_pairs(key_sha, reps))
    # survivor selection is content-free (key, sha only): content joins
    # back via a semi-join on key inside the signature stage, so document
    # bytes flow through exactly ONE exchange (the repartition-by-key
    # below) instead of sha-shuffle + key-shuffle
    survivors = stage("stage_a_survivors", lambda: A.survivor_keys(reps))

    # ---- signatures: one Arrow pass over sha-survivors ------------------
    # hash-partitioned by key, with no explicit count: AQE coalesces the
    # exchange by bytes, so the signature UDF runs as many Python tasks
    # as the data needs. Every Python-UDF task pays a fixed worker cost
    # (~0.17 s of CPU at any row count, CLAUDE.md "Sandbox gotchas"); a
    # pinned repartition(N, key) is never coalesced, so it would pay that
    # cost N times even for a few hundred docs. The exchange sits BEFORE
    # the UDF (r6): it carries (key, content) — ~1 KB/row — instead of
    # the post-UDF shingle/band/winnow arrays (~3.5 KB/row). The verify
    # joins do not rely on this partitioning: in checkpoint mode they
    # read the signatures back from parquet, and in either mode AQE
    # picks their strategy (see stage_b_lsh.verify_pairs). A fold signs
    # only content its parent has not signed (anti-join on sha = the
    # cache gate), so the Arrow pass is proportional to the increment.
    unsigned = hashed if parent is None else hashed.join(
        parent["stage_a_survivors"].select("sha"), "sha", "left_anti"
    )
    signed = stage(
        "signatures" if parent is None else "signatures_new",
        lambda: with_signatures(
            unsigned.join(survivors.select("key"), "key", "left_semi")
            .repartition("key"),
            cfg,
            include_winnow=True,
        ).select(*SIGNATURE_COLUMNS),
    )
    sigs = signed if parent is None else stage(
        "signatures", lambda: with_parent("signatures", signed)
    )
    # a fold's candidates must touch one of these keys (None: any pair)
    new_keys = None if parent is None else signed.select("key")

    # ---- Stage B: LSH candidates + verify --------------------------------
    # A fold's band exchange carries only the buckets a new file lands
    # in: the restriction keeps whole buckets, so caps and shared counts
    # are unchanged for every pair touching a new key.
    def _stage_b():
        touched = None if parent is None else (
            B.explode_bands(signed).select("bucket").distinct()
        )
        obs = Observation()
        cands, dropped = B.candidate_pairs(
            sigs, cfg, bucket_filter=touched, observation=obs
        )
        drops["stage_b_pairs"] = (obs, dropped)
        return B.verify_pairs(_touching(cands, new_keys), sigs, cfg)

    b_pairs = stage("stage_b_pairs", _stage_b)

    # ---- Stage C: containment on survivors -------------------------------
    def _stage_c():
        touched = None if parent is None else (
            signed.filter(F.size("winnow") > 0)
            .select(F.explode("winnow").alias("fp"))
            .distinct()
        )
        obs = Observation()
        cands, dropped = C.fingerprint_candidates(
            sigs, cfg, fp_filter=touched, observation=obs
        )
        drops["stage_c_pairs"] = (obs, dropped)
        # the fallback for what Stage B did not confirm (AQE picks the join)
        unresolved = _touching(cands, new_keys).join(
            b_pairs.select("src", "dst"), ["src", "dst"], "left_anti"
        )
        return C.verify_containment(unresolved, sigs, cfg)

    c_pairs = stage("stage_c_pairs", _stage_c)

    # ---- union + connected components -----------------------------------
    # A plain union: no (src, dst) repeats and every row has src < dst.
    # - A sha edge has an endpoint never signed (a member is no
    #   representative; a fold does not sign an already-signed sha's new
    #   representative), so no sha edge is a B or C pair.
    # - B pairs are unique (grouped by (src, dst); signature keys are
    #   unique); C pairs are unique (``.distinct()``) and skip B's.
    # - B and C emit least/greatest; a sha edge's src is its group's
    #   minimum id.
    # - Every pair a fold adds touches an increment key, which the key
    #   check keeps apart from the parent's keys.
    def _confirmed():
        return with_parent(
            "confirmed_pairs",
            sha_pairs.select("src", "dst", F.col("score").alias("jaccard"),
                             F.lit(0).alias("hamming"), "stage")
            .unionByName(b_pairs)
            .unionByName(c_pairs),
        )

    confirmed = stage("confirmed_pairs", _confirmed)

    # the materialization already counted confirmed_pairs (ephemeral
    # count / parquet manifest) — re-counting would be one more
    # blocking job for a number we have
    clusters = stage("clusters", lambda: cluster_table(
        keymap, confirmed, cfg, ckpt.rows_of("confirmed_pairs")
    ))

    return PipelineResult(clusters=clusters, confirmed_pairs=confirmed, metrics=metrics)
