"""Pinned pipeline configuration (SURVEY.md §7).

The "reference shingle/signature config": chosen once, frozen, mirrored in
tests. Threshold values trace back to the reference service:

- verify threshold 0.75  ≙ fuzzy_threshold default 75
  (/root/reference/app/api/services/models.py:13, used at
  /root/reference/app/api/core/search.py:125)
- dual similarity spaces (token-level MinHash + char-level SimHash)
  ≙ the scorer-selection rule ``token_sort_ratio if ' ' in q or
  len(q) > 10 else fuzz.ratio`` (/root/reference/app/api/core/search.py:110)
- LSH over-generation below the verify threshold ≙ the candidate
  over-fetch ``limit=top_k*2`` then post-filter pattern
  (/root/reference/app/api/core/search.py:117,125)
"""

from __future__ import annotations

from dataclasses import dataclass, field, asdict
import hashlib
import json


@dataclass(frozen=True)
class PipelineConfig:
    # --- shingling -------------------------------------------------------
    token_shingle_k: int = 3          # k tokens per MinHash shingle
    char_gram_k: int = 4              # chars per SimHash gram
    # --- MinHash / LSH ---------------------------------------------------
    num_perm: int = 128               # OPH buckets (MinHash signature slots)
    lsh_bands: int = 32               # bands
    lsh_rows: int = 4                 # rows per band (bands*rows == num_perm)
    # MinHash is one-permutation hashing + OPTIMAL (hash-probing)
    # densification: one hash pass per doc, no seeded permutation family
    # (rotation densification was deliberately rejected: it creates
    # bursty correlated slots on sparse signatures, see
    # hashing.oph_signature). LSH bucket keys fold family + band index
    # into the 64-bit band hash (one-long keys, stage_b_lsh).

    # S-curve threshold (1/bands)^(1/rows) ≈ 0.66 < 0.75 verify threshold
    # ⇒ recall-safe over-generation (reference over-fetch pattern).
    # Require ≥2 shared LSH buckets per candidate pair. At the verify
    # threshold J=0.75 the pair-survival probability stays ≥0.9999
    # (binomial over 32 bands, p=J^4=0.316), while background pairs at
    # J≈0.2-0.3 — the candidate-explosion mass at web scale — drop 8-40×.
    # This is the "over-fetch, then threshold" dial (search.py:117,125).
    min_shared_buckets: int = 2
    # --- verification ----------------------------------------------------
    jaccard_threshold: float = 0.75   # token-space verify (ref threshold 75)
    hamming_max: int = 12             # char-space verify (≤12/64 bits)
    # --- Stage C (containment / substring) -------------------------------
    winnow_gram_k: int = 16           # chars per winnowing gram
    # Fingerprint density ≈ 2/(w+1) ≈ 1.5% at w=128 — the exploded
    # fingerprint table is THE Stage-C shuffle cost, and the containment
    # guarantee (contained doc shares fingerprints with its container)
    # holds whenever the contained normalized text is ≥ w + k - 1 chars:
    # every winnowing window of the contained doc is then also a window
    # of the container, so fps(contained) ⊆ fps(container). That bound
    # (143 chars) is the pipeline's containment contract — see
    # contains_min_len below.
    winnow_window: int = 128
    winnow_probe_h: int = 8           # bottom-h probe sketch (candidate gen)
    # (Stage C confirms by exact substring, contains() on normalized
    # text — the oracle semantics; stage_c_substring.verify_containment.)

    @property
    def contains_min_len(self) -> int:
        """Minimum contained-normalized-length the Stage-C guarantee
        covers (winnowing window + gram - 1)."""
        return self.winnow_window + self.winnow_gram_k - 1
    # --- skew / scale knobs ----------------------------------------------
    max_band_bucket: int = 200        # drop LSH buckets larger than this
    # Winnowing buckets cap lower than band buckets: a contained doc
    # shares ALL its ~100 fingerprints with its container, so it only
    # needs ONE of them to live in a surviving bucket — common-phrase
    # buckets (keyword runs) carry almost no containment signal.
    max_fingerprint_bucket: int = 32
    # Fingerprint-poor rescue bound (stage_c_substring.py): hot buckets
    # up to this size still serve probes from docs with ≤ winnow_probe_h
    # fingerprints (short docs whose ENTIRE fp set may be boilerplate-
    # hot); beyond it the bucket is dropped outright and counted.
    hot_fp_hard_cap: int = 4096
    # Partition count of the keymap coalesce (plans/pipeline.py) and the
    # gate queries that repartition explicitly. The pipeline's keyed
    # exchanges (signatures, Stage B bands, Stage C fingerprints) take no
    # count: AQE sizes them by bytes, so this does not pin their task
    # waves.
    shuffle_partitions: int = 32
    # Size dispatch for connected components: an edge set at or below
    # this count is collected and solved with driver-side union-find
    # (milliseconds, zero iterative Spark jobs — dup-pair edge sets are
    # tiny relative to the corpus); above it large-star/small-star runs
    # (connected_components.py). Driver memory at the 2M cap (ADVICE r3):
    # the Arrow collect lands two flat int64 columns (~32 MB), but
    # union-find's parent/size dicts hold up to 4M Python int keys —
    # ~400-600 MB peak. Fine for the multi-GB driver heaps this targets;
    # lower it on small drivers (the distributed path is always correct;
    # 0 sends every non-empty edge set there).
    cc_driver_max_edges: int = 2_000_000

    def config_hash(self) -> str:
        """Stable hash of the config — keys checkpoint compatibility."""
        return hashlib.sha256(
            json.dumps(asdict(self), sort_keys=True).encode()
        ).hexdigest()[:16]


PINNED = PipelineConfig()


@dataclass(frozen=True)
class EmbeddingProfile:
    """One-switch defaults for the embedding-space operators (VERDICT r4
    #8): the scale-correct choices live in one named profile instead of
    per-call arguments.

    - ORACLE_PROFILE (the default everywhere): every step is
      SQL-reproducible — sampled codebook (first n_cells ids), fixed
      8-bit sign-LSH — which is what the driver's DuckDB gates pin.
    - PRODUCTION_PROFILE: kmeans codebook (balanced cells bound the
      intra-cell quadratic in semdedup/IVF) and ``bits="auto"`` sign-LSH
      (bucket width grows with n, keeping expected bucket size constant
      — the fix for the fixed-width Θ(n²) degeneration, ADVICE r3).

    Operators take ``profile=`` and resolve any argument the caller left
    as None from it; explicit arguments always win, so the gate queries'
    pinned shapes are unchanged.
    """

    semdedup_centroids: str = "sample"
    lsh_bits: int | str = 8


ORACLE_PROFILE = EmbeddingProfile()
PRODUCTION_PROFILE = EmbeddingProfile(semdedup_centroids="kmeans", lsh_bits="auto")

# Corpus table shape mandated by BASELINE.json input_hint.
CORPUS_COLUMNS = ("repo", "path", "commit", "lang", "content")
