"""Incremental dedup: fold NEW files into an existing run's state.

The reference's feedback loop persists every confirmed correction and
consults it before doing any expensive work on the next request
(reference app/api/core/db_lookup.py:52-83 write, :24-50 read);
the same cascade then runs on what is left. Batch reframing: a completed
run's checkpoints are the "known pairs cache", and a fold is the batch
plan (``plans/pipeline.py::run_plan``) with that run as parent — there
is no second Stage A→D. The plan reads four parent checkpoints:
``keymap`` (id → key_str), ``stage_a_survivors`` (one (key, sha) row
per distinct content), ``signatures`` and ``confirmed_pairs``. It writes
the same four for the fold — each the parent's rows plus the
increment's — so a fold can be the parent of the next fold. With a
parent the plan

1. signs ONLY content the parent has not signed (``signatures_new``;
   the expensive Arrow pass is proportional to the increment, not the
   corpus),
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
   ≪ files). The batch's duplicate-key/collision check runs where the
   union keymap is made, before any signing: an increment row re-using
   a parent key raises before the fold writes any checkpoint.

Equivalence contract (tested): incremental(full₁ + increment) produces
the same clusters as a from-scratch run over the union — modulo pairs
the from-scratch run finds between two old files only via buckets that
the increment re-populates; bucket caps are applied to the union table
both ways, so the candidate space is identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from autovalidate_backend_api_spark.config import PINNED, PipelineConfig
from autovalidate_backend_api_spark.plans.pipeline import PipelineResult, run_plan


def incremental_update(
    spark: SparkSession,
    new_corpus: DataFrame,
    checkpoint_dir: str,
    prev_run_id: str,
    run_id: str,
    cfg: PipelineConfig = PINNED,
) -> PipelineResult:
    """Fold ``new_corpus`` into run ``prev_run_id`` as run ``run_id``."""
    return run_plan(
        spark, new_corpus, checkpoint_dir, run_id, cfg, parent_run_id=prev_run_id
    )
