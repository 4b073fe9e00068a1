"""In-process probe of the signature kernel, part by part.

Replays the per-document loop of ``signatures.make_signature_udf`` (the
default one-permutation scheme) over a seeded sample of normalized
corpus documents, timing each public ``functions.hashing`` call it
makes. No Spark: this is the Python-UDF layer on its own.
"""

from __future__ import annotations

import statistics
import time

import numpy as np

from autovalidate_backend_api_spark import corpus as C
from autovalidate_backend_api_spark.config import PINNED
from autovalidate_backend_api_spark.functions import hashing as H
from autovalidate_backend_api_spark.functions.normalize import normalize_text_py

PARTS = ("prefix", "shingles", "grams", "unique", "oph", "bands", "simhash", "winnow")
SAMPLE_BASES = 120  # ~290 documents
REPEATS = 5


def sample_docs(seed: int, n_base: int = SAMPLE_BASES) -> list[str]:
    return [normalize_text_py(c) for c in C.corpus_pandas(n_base, seed)["content"]]


def _one_pass(docs: list[str], cfg=PINNED) -> dict[str, int]:
    ns = dict.fromkeys(PARTS, 0)
    clock = time.perf_counter_ns
    for s in docs:
        t0 = clock()
        b = np.frombuffer(s.encode("utf-8"), dtype=np.uint8).astype(np.uint64)
        n = b.shape[0]
        prefix, pow_ = H._prefix_hashes(b)
        t1 = clock()
        sh = H.shingle_hashes_from_prefix(b, prefix, pow_, cfg.token_shingle_k)
        t2 = clock()
        grams = H.gram_hashes_from_prefix(prefix, pow_, n, cfg.char_gram_k)
        grams_w = H.gram_hashes_from_prefix(prefix, pow_, n, cfg.winnow_gram_k)
        t3 = clock()
        uniq = np.unique(grams)
        t4 = clock()
        sig_t = H.oph_signature(sh, cfg.num_perm)
        sig_c = H.oph_signature(uniq, cfg.num_perm)
        t5 = clock()
        H.band_hashes(sig_t, cfg.lsh_bands, cfg.lsh_rows, salt=0)
        H.band_hashes(sig_c, cfg.lsh_bands, cfg.lsh_rows, salt=cfg.lsh_bands)
        t6 = clock()
        H.simhash64(grams)
        t7 = clock()
        H.winnow_fingerprints(s, cfg.winnow_gram_k, cfg.winnow_window, grams=grams_w)
        t8 = clock()
        for part, dt in zip(PARTS, (t1 - t0, t2 - t1, t3 - t2, t4 - t3, t5 - t4,
                                    t6 - t5, t7 - t6, t8 - t7)):
            ns[part] += dt
    return ns


def probe(seed: int) -> dict[str, float]:
    """``hashing.<part>`` µs/doc (median of REPEATS passes) and their sum."""
    docs = [d for d in sample_docs(seed) if d]
    passes = [_one_pass(docs) for _ in range(REPEATS)]
    out = {
        f"hashing.{p}": statistics.median(x[p] for x in passes) / 1e3 / len(docs)
        for p in PARTS
    }
    out["hashing.us_per_doc"] = sum(out.values())
    return out
