"""Vectorized signature functions: MinHash, SimHash, LSH bands, winnowing.

These replace the reference's similarity machinery with batch-friendly
signatures (per BASELINE.json north_rule):

- MinHash over token shingles ≈ token-level similarity
  (``fuzz.token_sort_ratio`` branch of /root/reference/app/api/core/search.py:110)
- SimHash over char 4-grams ≈ char-level similarity
  (``fuzz.ratio`` branch, same line)
- winnowing fingerprints → substring/containment candidates
  (the Qdrant semantic fallback analog, search.py:139-176)

Everything is numpy uint64 arithmetic inside Arrow-batched pandas UDFs —
no per-row Python in Spark's hot path (input_hint mandate). Gram hashes
are a polynomial rolling hash mod 2**64 (odd multiplier), mixed with a
splitmix64 finalizer; MinHash is one-permutation hashing over them, so
signatures are deterministic across runs with no seed.
"""

from __future__ import annotations

import hashlib
from typing import Iterable

import numpy as np

from autovalidate_backend_api_spark.config import PINNED

_U64 = np.uint64
_GOLDEN = _U64(0x9E3779B97F4A7C15)
_MIX1 = _U64(0xBF58476D1CE4E5B9)
_MIX2 = _U64(0x94D049BB133111EB)
_POLY = _U64(0x100000001B3)  # FNV-ish odd multiplier for shingle combine

_ERRSTATE = {"over": "ignore"}  # uint64 wrap-around is intentional


def mix64(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer, vectorized over uint64 arrays."""
    with np.errstate(**_ERRSTATE):
        z = (x + _GOLDEN).astype(_U64)
        z ^= z >> _U64(30)
        z *= _MIX1
        z ^= z >> _U64(27)
        z *= _MIX2
        z ^= z >> _U64(31)
    return z


def hash_token(token: str) -> int:
    """Stable 64-bit hash of one token (blake2b, 8-byte digest)."""
    return int.from_bytes(
        hashlib.blake2b(token.encode("utf-8"), digest_size=8).digest(), "little"
    )


def token_shingle_hashes(tokens: list[str], k: int = PINNED.token_shingle_k) -> np.ndarray:
    """Distinct uint64 hashes of the k-token shingles of ``tokens``.

    Documents shorter than k tokens fall back to single-token shingles so
    short files still produce a signature (mirrors the reference scoring
    short queries with ``fuzz.ratio`` rather than skipping them).
    """
    if not tokens:
        return np.empty(0, dtype=_U64)
    th = np.fromiter((hash_token(t) for t in tokens), dtype=_U64, count=len(tokens))
    n = len(tokens)
    if n < k:
        return np.unique(mix64(th))
    m = n - k + 1
    with np.errstate(**_ERRSTATE):
        acc = th[0:m].copy()
        for j in range(1, k):
            acc = acc * _POLY + th[j : j + m]
    return np.unique(mix64(acc))


def char_gram_hashes(text: str, k: int = PINNED.char_gram_k) -> np.ndarray:
    """uint64 hashes of every overlapping k-char gram (with multiplicity)."""
    b = np.frombuffer(text.encode("utf-8"), dtype=np.uint8).astype(_U64)
    n = b.shape[0]
    if n == 0:
        return np.empty(0, dtype=_U64)
    if n < k:
        with np.errstate(**_ERRSTATE):
            acc = _U64(0)
            for j in range(n):
                acc = acc * _POLY + b[j]
        return mix64(np.array([acc], dtype=_U64))
    m = n - k + 1
    with np.errstate(**_ERRSTATE):
        acc = b[0:m].copy()
        for j in range(1, k):
            acc = acc * _POLY + b[j : j + m]
    return mix64(acc)


# Modular inverse of _POLY mod 2**64 (odd ⇒ invertible): lets the prefix
# polynomial hash be computed with cumsum/cumprod instead of a sequential
# recurrence (see norm_shingle_hashes).
_IPOLY = _U64(pow(0x100000001B3, -1, 2**64))


def _prefix_hashes(b: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(prefix, pow) arrays for O(1) polynomial span hashes over bytes.

    prefix[i] = b[0]·POLY^(i-1) + … + b[i-1]  (mod 2^64), so the hash of
    span [a, e) is prefix[e] − prefix[a]·POLY^(e−a) — identical to the
    k-gram hash char_gram_hashes computes for the same bytes. The
    sequential recurrence prefix[i] = prefix[i-1]·POLY + b[i-1] is
    de-sequentialized via the inverse: prefix[i] = POLY^i · Σ_{j<i}
    b[j]·IPOLY^(j+1), all cumsum/cumprod (wraparound uint64).
    """
    n = b.shape[0]
    with np.errstate(**_ERRSTATE):
        pow_ = np.empty(n + 1, dtype=_U64)
        pow_[0] = _U64(1)
        if n:
            np.cumprod(np.full(n, _POLY, dtype=_U64), out=pow_[1:])
        ipow = np.empty(n, dtype=_U64)
        if n:
            np.cumprod(np.full(n, _IPOLY, dtype=_U64), out=ipow)
        c = np.empty(n + 1, dtype=_U64)
        c[0] = _U64(0)
        if n:
            np.cumsum(b * ipow, out=c[1:])
        prefix = c * pow_
    return prefix, pow_


def shingle_hashes_from_prefix(
    b: np.ndarray, prefix: np.ndarray, pow_: np.ndarray, k: int
) -> np.ndarray:
    """Token-shingle hashes from precomputed prefix arrays (see
    norm_shingle_hashes for the contract)."""
    n = b.shape[0]
    if n == 0:
        return np.empty(0, dtype=_U64)
    sp = np.flatnonzero(b == _U64(32))
    starts = np.concatenate(([0], sp + 1))
    ends = np.concatenate((sp, [n]))
    t = starts.shape[0]
    if t < k:
        a, e = starts, ends
    else:
        a, e = starts[: t - k + 1], ends[k - 1 :]
    with np.errstate(**_ERRSTATE):
        h = prefix[e] - prefix[a] * pow_[e - a]
    return np.unique(mix64(h))


def gram_hashes_from_prefix(
    prefix: np.ndarray, pow_: np.ndarray, n: int, k: int
) -> np.ndarray:
    """All k-char-gram hashes (with multiplicity) from prefix arrays —
    bit-identical to char_gram_hashes (same polynomial; exact-parity
    tested) in O(n) regardless of k, vs the k-pass accumulation loop."""
    if n == 0:
        return np.empty(0, dtype=_U64)
    if n < k:
        return mix64(prefix[n : n + 1].copy())
    m = n - k + 1
    with np.errstate(**_ERRSTATE):
        h = prefix[k:] - prefix[:m] * pow_[k]
    return mix64(h)


def norm_shingle_hashes(norm: str, k: int = PINNED.token_shingle_k) -> np.ndarray:
    """Distinct k-token shingle hashes of a NORMALIZED string, fully
    vectorized (no per-token Python hashing).

    Because normalized text is single-space separated, every k-token
    shingle is a contiguous byte span of ``norm`` — its hash comes from
    the prefix polynomial hash in O(1) per shingle. Same shingle-SET
    semantics as token_shingle_hashes (distinct k-grams; single-token
    fallback below k tokens; empty → no shingles), different 64-bit
    values (property-tested set-cardinality-equal in tests). Replaces a
    per-token blake2b call (~1 µs/token of Python) with three cum-ops
    over the byte array — the signature stage's dominant cost at scale.
    """
    b = np.frombuffer(norm.encode("utf-8"), dtype=np.uint8).astype(_U64)
    if b.shape[0] == 0:
        return np.empty(0, dtype=_U64)
    prefix, pow_ = _prefix_hashes(b)
    return shingle_hashes_from_prefix(b, prefix, pow_, k)


# Signature of an empty document: max-uint64 in every slot. Two empty
# documents are exact duplicates (Stage A catches them); the sentinel
# keeps them from LSH-matching everything.
EMPTY_SLOT = np.uint64(0xFFFFFFFFFFFFFFFF)


def oph_signature(shingles: np.ndarray, num_perm: int = PINNED.num_perm) -> np.ndarray:
    """One-permutation-hashing MinHash signature (Li, Owen & Zhang
    NeurIPS'12) with OPTIMAL densification (Shrivastava ICML'17).

    One pass instead of num_perm passes: the hash's top log2(num_perm)
    bits pick a bucket; the signature slot is the min hash in that
    bucket. Empty slots are filled by hash-probing the ORIGINALLY
    occupied slots with a probe sequence that is a pure function of
    (slot, attempt) — identical across documents, so two similar sets
    borrow from the same source slot with high probability and slot
    collisions stay ≈ Jaccard AND independent across slots. (Rotation
    densification — borrow the cyclically-next non-empty slot — was
    measured here to create BURSTY correlated slots on sparse
    signatures: runs of consecutive borrowed slots match together,
    inflating LSH band collisions ~30% and costing ~0.5% verify recall.)
    Same LSH banding behavior as per-permutation MinHash at
    ~1/num_perm the compute; recall gate re-validated in
    tests/test_pipeline_recall.py.

    Known residual (measured at the 20k-file bench corpus): documents
    with far fewer elements than num_perm densify most slots from few
    sources, so their band collisions correlate — ~20-25% more LOW-J
    candidate pairs than per-permutation MinHash (exact verify kills
    them; per-J≥0.7 candidate counts were identical between the two).
    tests/test_skew.py pins that sparse high-J pairs stay candidates.
    """
    p = num_perm
    log2p = p.bit_length() - 1
    assert (1 << log2p) == p, "num_perm must be a power of two for OPH"
    if shingles.size == 0:
        return np.full(p, EMPTY_SLOT, dtype=_U64)
    buckets = (shingles >> _U64(64 - log2p)).astype(np.intp)
    sig = np.full(p, EMPTY_SLOT, dtype=_U64)
    np.minimum.at(sig, buckets, shingles)
    occupied = sig != EMPTY_SLOT
    idx = np.flatnonzero(~occupied)
    attempt = _U64(1)
    with np.errstate(**_ERRSTATE):
        while idx.size:
            j = (mix64(idx.astype(_U64) + attempt * _GOLDEN) >> _U64(64 - log2p)).astype(
                np.intp
            )
            hit = occupied[j]
            sig[idx[hit]] = sig[j[hit]]
            idx = idx[~hit]
            attempt += _U64(1)
    return sig


def band_hashes(sig: np.ndarray, bands: int, rows: int, salt: int = 0) -> np.ndarray:
    """Combine each band's ``rows`` signature slots into one uint64 key.

    ``salt`` namespaces signature FAMILIES into the same key space (tok
    bands use salt=0, char bands salt=bands), so the LSH bucket key is
    ONE long instead of (family:string, band_idx:int, band_hash:long) —
    the exploded band table is the pipeline's biggest shuffle, and the
    packed key cuts its row to 16 bytes (VERDICT r2 next-round #1a).
    """
    with np.errstate(**_ERRSTATE):
        banded = sig.reshape(bands, rows)
        acc = banded[:, 0].copy()
        for j in range(1, rows):
            acc = acc * _POLY + banded[:, j]
        # fold in the (salted) band index so band 0 and band 1 — and the
        # same band across families — never collide
        acc = acc * _POLY + (np.arange(bands, dtype=_U64) + _U64(salt))
    return mix64(acc)


# (256, 8) little-endian bit table: _BIT_LUT[v, j] = bit j of byte v.
_BIT_LUT = np.unpackbits(
    np.arange(256, dtype=np.uint8)[:, None], axis=1, bitorder="little"
).astype(np.int64)


def simhash64(gram_hashes: np.ndarray) -> int:
    """64-bit SimHash fingerprint from char-gram hashes (with multiplicity).

    Bit votes via one 256-bin bincount per byte position + a (256, 8)
    LUT matmul — same output as unpacking an (m, 64) bit matrix at a
    fraction of the memory traffic (~8× faster on multi-KB docs).
    """
    m = gram_hashes.size
    if m == 0:
        return 0
    bytes_view = gram_hashes.view(np.uint8).reshape(-1, 8)
    votes = np.empty(64, dtype=np.int64)
    for bp in range(8):
        counts = np.bincount(bytes_view[:, bp], minlength=256)
        votes[bp * 8 : (bp + 1) * 8] = counts @ _BIT_LUT
    fp_bits = (votes * 2 - m > 0).astype(np.uint8)
    return int(np.packbits(fp_bits, bitorder="little").view(np.uint64)[0])


def _sliding_min(g: np.ndarray, w: int) -> np.ndarray:
    """O(n) sliding-window minimum (van Herk / Gil-Werman).

    Per block of ``w``: prefix-min left→right and suffix-min right→left
    (both one ``np.minimum.accumulate`` pass); window [i, i+w) then spans
    at most two blocks, so its min is min(suffix[i], prefix[i+w-1]).
    Replaces the O(n·w) ``sliding_window_view(...).min(axis=1)`` — at
    w=128 that was ~100× more memory traffic and the signature stage's
    dominant cost on long documents.
    """
    n = g.size
    m = n - w + 1
    nb = -(-n // w)
    padded = np.full(nb * w, EMPTY_SLOT, dtype=_U64)
    padded[:n] = g
    blocks = padded.reshape(nb, w)
    prefix = np.minimum.accumulate(blocks, axis=1).ravel()
    suffix = np.minimum.accumulate(blocks[:, ::-1], axis=1)[:, ::-1].ravel()
    idx = np.arange(m)
    return np.minimum(suffix[idx], prefix[idx + w - 1])


def winnow_fingerprints(
    text: str,
    k: int = PINNED.winnow_gram_k,
    w: int = PINNED.winnow_window,
    grams: np.ndarray | None = None,
) -> np.ndarray:
    """Winnowing (Schleimer et al., SIGMOD'03) fingerprints of ``text``.

    Selects the min gram-hash in every window of ``w`` consecutive grams.
    Guarantee: any match of length ≥ w + k - 1 shares a fingerprint; and
    if A's text is a substring of B's, A's fingerprint set ⊆ B's
    (selection depends only on window content) — full recall for
    containment candidates ≥ k chars.
    """
    g = grams if grams is not None else char_gram_hashes(text, k)
    if g.size == 0:
        return np.empty(0, dtype=_U64)
    if g.size <= w:
        return np.unique(g.min(keepdims=True))
    return np.unique(_sliding_min(g, w))


def to_int64(arr: np.ndarray) -> np.ndarray:
    """Reinterpret uint64 → int64 for Spark LongType transport."""
    return arr.view(np.int64)


def tokens_of(normalized: str) -> list[str]:
    """Token split of an already-normalized string (single spaces)."""
    return normalized.split(" ") if normalized else []


def jaccard(a: Iterable[int], b: Iterable[int]) -> float:
    sa, sb = set(a), set(b)
    if not sa and not sb:
        return 1.0
    u = len(sa | sb)
    return len(sa & sb) / u if u else 0.0
