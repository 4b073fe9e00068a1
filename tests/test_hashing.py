"""Kernel properties: MinHash estimate error bound, LSH S-curve
behavior, SimHash locality, winnowing containment guarantee."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from autovalidate_backend_api_spark.config import PINNED
from autovalidate_backend_api_spark.functions import hashing as H


def _tokens(n, prefix="t"):
    return [f"{prefix}{i}" for i in range(n)]


def test_minhash_estimate_error_bound():
    """128 OPH slots ⇒ σ ≈ sqrt(J(1-J)/128) ≈ 0.044 at J=0.5; assert 4σ
    (~200 shingles over 128 slots: about a fifth are densified)."""
    for overlap in (50, 100, 150, 190):
        t1 = _tokens(200)
        t2 = _tokens(overlap) + _tokens(200 - overlap, "x")
        s1, s2 = H.token_shingle_hashes(t1), H.token_shingle_hashes(t2)
        true_j = H.jaccard(s1.tolist(), s2.tolist())
        est = float(
            (H.oph_signature(s1) == H.oph_signature(s2)).mean()
        )
        assert abs(est - true_j) < 0.18, (overlap, true_j, est)


def test_minhash_identical_inputs():
    s = H.token_shingle_hashes(_tokens(50))
    assert (H.oph_signature(s) == H.oph_signature(s)).all()


def test_band_hash_no_cross_band_collisions():
    sig = H.oph_signature(H.token_shingle_hashes(_tokens(50)))
    bh = H.band_hashes(sig, PINNED.lsh_bands, PINNED.lsh_rows)
    assert bh.shape == (PINNED.lsh_bands,)
    # constant signature slots would otherwise give equal band keys
    const_sig = np.full(PINNED.num_perm, np.uint64(7), dtype=np.uint64)
    cb = H.band_hashes(const_sig, PINNED.lsh_bands, PINNED.lsh_rows)
    assert len(np.unique(cb)) == PINNED.lsh_bands


@given(st.permutations(list(range(30))))
@settings(max_examples=20, deadline=None)
def test_token_shingles_line_reorder_keeps_most(perm):
    """Reordering 3-line blocks keeps shingle overlap high — the
    token_sort_ratio-space property the MinHash family relies on."""
    lines = [" ".join(_tokens(6, f"l{i}_")) for i in range(10)]
    base = " ".join(lines)
    shuffled = " ".join(lines[i % 10] for i in perm[:10])
    s1 = H.token_shingle_hashes(base.split(" "))
    s2 = H.token_shingle_hashes(shuffled.split(" "))
    # same multiset of lines ⇒ only boundary shingles differ
    if sorted(perm[:10]) == list(range(10)):
        assert H.jaccard(s1.tolist(), s2.tolist()) > 0.6


def test_simhash_locality():
    text = " ".join(_tokens(300))
    noisy = text.replace("t5", "t5x").replace("t17", "tI7")
    other = " ".join(_tokens(300, "z"))
    f0 = H.simhash64(H.char_gram_hashes(text))
    f1 = H.simhash64(H.char_gram_hashes(noisy))
    f2 = H.simhash64(H.char_gram_hashes(other))
    near = bin(f0 ^ f1).count("1")
    far = bin(f0 ^ f2).count("1")
    assert near <= PINNED.hamming_max < far


def test_winnow_containment_guarantee():
    """A ⊆ B ⇒ fingerprints(A) ⊆ fingerprints(B) (Stage C recall)."""
    inner = "x = compute_value(alpha, beta) + gamma_offset * 2"
    for pad in ("header line one\n", "zz " * 40):
        outer = pad + inner + "\ntrailing content here"
        wi = set(H.winnow_fingerprints(inner).tolist())
        wo = set(H.winnow_fingerprints(outer).tolist())
        assert wi <= wo


def test_winnow_guarantee_on_long_shared_run():
    w, k = PINNED.winnow_window, PINNED.winnow_gram_k
    # guarantee holds for shared runs of length ≥ w + k - 1
    shared = "the quick brown fox jumps over lazy dogs and then runs away " * 3
    assert len(shared) >= w + k - 1
    a = "AAAA " + shared + " BBBB"
    b = "CCCCCC " + shared + " DD"
    fa = set(H.winnow_fingerprints(a).tolist())
    fb = set(H.winnow_fingerprints(b).tolist())
    assert fa & fb, "shared run ≥ w+k-1 must share a fingerprint"


def test_empty_and_short_inputs():
    assert H.token_shingle_hashes([]).size == 0
    assert H.char_gram_hashes("").size == 0
    assert H.winnow_fingerprints("").size == 0
    assert H.simhash64(H.char_gram_hashes("")) == 0
    assert H.token_shingle_hashes(["ab"]).size == 1  # shorter than k
    sig = H.oph_signature(np.empty(0, dtype=np.uint64))
    assert (sig == H.EMPTY_SLOT).all()


# --- OPH + vectorized norm-span shingle hashing (VERDICT r1 #7) -------------

token_lists = st.lists(
    st.text(alphabet="abcdefg", min_size=1, max_size=6), min_size=0, max_size=40
)


@given(token_lists)
@settings(max_examples=200, deadline=None)
def test_norm_shingles_cardinality_matches_token_scheme(toks):
    """Same distinct-shingle-SET semantics as the blake2b token scheme
    (values differ; cardinality must not, modulo 2^-64 collisions)."""
    norm = " ".join(toks)
    fast = H.norm_shingle_hashes(norm)
    slow = H.token_shingle_hashes(H.tokens_of(norm))
    assert fast.size == slow.size


def test_norm_shingles_cross_doc_consistency():
    """The same shingle string hashes identically regardless of which
    document (byte offset) it appears in — required for Jaccard."""
    a = "alpha beta gamma delta epsilon zeta"
    b = "zzz yyy alpha beta gamma delta qqq"
    ha = set(H.norm_shingle_hashes(a).tolist())
    hb = set(H.norm_shingle_hashes(b).tolist())
    # shared 3-gram shingles: 'alpha beta gamma', 'beta gamma delta'
    assert len(ha & hb) == 2


def test_norm_shingles_matches_standalone_span_hash():
    """Prefix-hash span extraction == hashing the shingle substring
    standalone (the O(1) span formula is exact, not approximate)."""
    norm = "one two three four five"
    got = set(H.norm_shingle_hashes(norm, k=3).tolist())
    want = set()
    toks = norm.split(" ")
    for i in range(len(toks) - 2):
        s = " ".join(toks[i : i + 3])
        b = np.frombuffer(s.encode(), dtype=np.uint8).astype(np.uint64)
        with np.errstate(over="ignore"):
            acc = np.uint64(0)
            for x in b:
                acc = acc * H._POLY + x
        want.add(int(H.mix64(np.array([acc], dtype=np.uint64))[0]))
    assert got == want


def test_norm_shingles_fallback_and_empty():
    assert H.norm_shingle_hashes("").size == 0
    assert H.norm_shingle_hashes("one two").size == 2  # single-token fallback
    assert H.norm_shingle_hashes("one").size == 1


def test_oph_identical_sets_identical_sigs():
    sh = H.norm_shingle_hashes(" ".join(_tokens(50)))
    assert np.array_equal(H.oph_signature(sh), H.oph_signature(sh.copy()))


def test_oph_empty_is_sentinel():
    assert (H.oph_signature(np.empty(0, dtype=np.uint64)) == H.EMPTY_SLOT).all()


def test_oph_jaccard_estimate():
    """Slot-collision fraction ≈ Jaccard (the OPH estimator property);
    sets sized well above num_perm so densification is rare."""
    rng = np.random.default_rng(5)
    u = rng.integers(0, 2**63, size=3000, dtype=np.uint64) * np.uint64(2) + np.uint64(1)
    a = np.unique(H.mix64(u[:2000]))
    b = np.unique(H.mix64(u[1000:3000]))  # J = 1000/3000 ≈ 0.333
    sa, sb = H.oph_signature(a), H.oph_signature(b)
    est = (sa == sb).mean()
    assert abs(est - 1 / 3) < 0.15


def test_oph_densification_sparse_sets():
    """Sets far smaller than num_perm still produce full signatures with
    the estimator roughly tracking J (optimal, hash-probing
    densification)."""
    base = H.norm_shingle_hashes(" ".join(_tokens(30)))  # 28 shingles < 128
    sa = H.oph_signature(base)
    assert (sa != H.EMPTY_SLOT).all() or base.size == 0
    # identical sparse sets still collide on every slot
    assert (H.oph_signature(base.copy()) == sa).all()


@given(st.text(alphabet="abc defg", min_size=0, max_size=300))
@settings(max_examples=200, deadline=None)
def test_gram_hashes_from_prefix_exact_parity(s):
    """Prefix-span gram hashing must be BIT-identical to the k-pass
    accumulation loop (char_gram_hashes) for every k in use."""
    b = np.frombuffer(s.encode(), dtype=np.uint8).astype(np.uint64)
    n = b.shape[0]
    if n == 0:
        return
    prefix, pow_ = H._prefix_hashes(b)
    for k in (4, 16):
        fast = H.gram_hashes_from_prefix(prefix, pow_, n, k)
        slow = H.char_gram_hashes(s, k)
        assert np.array_equal(fast, slow), (s, k)


def test_simhash_bincount_matches_unpackbits():
    """The LUT/bincount simhash must equal the naive bit-matrix version."""
    rng = np.random.default_rng(9)
    for m in (1, 2, 7, 100, 5000):
        g = rng.integers(0, 2**63, size=m, dtype=np.uint64)
        bits = np.unpackbits(g.view(np.uint8).reshape(-1, 8), axis=1, bitorder="little")
        votes = bits.sum(axis=0, dtype=np.int64) * 2 - m
        want = int(np.packbits((votes > 0).astype(np.uint8), bitorder="little").view(np.uint64)[0])
        assert H.simhash64(g) == want, m
