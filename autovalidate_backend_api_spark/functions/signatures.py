"""Arrow-batched pandas UDFs that attach dedup signatures to a corpus.

Column plumbing (all computed from the *normalized* content, which is
produced by native Spark expressions — see functions/normalize.py):

- ``shingles``   array<long>  distinct token-shingle hashes (verify stage)
- ``bands_tok``  array<long>  token-space LSH band keys
- ``bands_chr``  array<long>  char-space LSH band keys (MinHash over
                              char 4-grams — the ``fuzz.ratio`` branch of
                              the reference's dual-scorer rule,
                              /root/reference/app/api/core/search.py:110)
- ``n_shingles`` int          shingle count (cheap size filter / metrics)
- ``simhash``    long         64-bit char-space fingerprint (verify metric)
- ``winnow``     array<long>  winnowing fingerprints (Stage C containment)

One UDF computes the char-gram hashes once and derives both the char
MinHash bands and the SimHash from them.

Scale note (100 TB): the shingle array is carried only into the verify
join on candidate pairs; at production scale the signatures DataFrame is
persisted once (bucketed by file key) and joined twice, so content is
read and shingled exactly once.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from autovalidate_backend_api_spark.config import PipelineConfig, PINNED
from autovalidate_backend_api_spark.functions import hashing as H

def _sig_schema(include_winnow: bool) -> T.StructType:
    fields = [
        T.StructField("shingles", T.ArrayType(T.LongType()), False),
        T.StructField("bands_tok", T.ArrayType(T.LongType()), False),
        T.StructField("bands_chr", T.ArrayType(T.LongType()), False),
        T.StructField("n_shingles", T.IntegerType(), False),
        T.StructField("simhash", T.LongType(), False),
    ]
    if include_winnow:
        fields.append(T.StructField("winnow", T.ArrayType(T.LongType()), False))
    return T.StructType(fields)


def make_signature_udf(cfg: PipelineConfig = PINNED, include_winnow: bool = True):
    """pandas UDF: raw content → norm + every signature column.

    One fused Arrow round trip: normalization (Python ``re``, byte-parity
    with functions/normalize.py), token-shingle OPH MinHash bands, char-gram
    OPH MinHash bands, SimHash, winnowing fingerprints. Char-gram hashes are
    computed once and shared by the char MinHash and SimHash.
    """
    k_tok, k_chr = cfg.token_shingle_k, cfg.char_gram_k
    bands, rows = cfg.lsh_bands, cfg.lsh_rows
    wk, ww = cfg.winnow_gram_k, cfg.winnow_window
    num_perm = cfg.num_perm

    @F.pandas_udf(_sig_schema(include_winnow))
    def signature(norm_iter: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        # Input is the ALREADY-NORMALIZED text: normalization runs
        # JVM-side in whole-stage codegen (functions/normalize.py native
        # chain — byte-parity with the Python reference is
        # property-tested), so the Arrow round trip carries hashing only.
        for content in norm_iter:
            m = len(content)
            sh_out, bt_out, bc_out, wn_out = [None] * m, [None] * m, [None] * m, [None] * m
            n_out = np.empty(m, dtype=np.int32)
            sim_out = np.empty(m, dtype=np.uint64)
            for i, raw in enumerate(content):
                s = raw if isinstance(raw, str) else ""
                # ONE prefix-hash pass per doc feeds every gram family:
                # token shingles (variable spans), char 4-grams (MinHash
                # + SimHash), winnow 16-grams — see hashing.py (values
                # identical to the per-family loops; exact-parity tested).
                b = np.frombuffer(s.encode("utf-8"), dtype=np.uint8).astype(
                    np.uint64
                )
                n = b.shape[0]
                if n:
                    prefix, pow_ = H._prefix_hashes(b)
                    sh = H.shingle_hashes_from_prefix(b, prefix, pow_, k_tok)
                    grams = H.gram_hashes_from_prefix(prefix, pow_, n, k_chr)
                    grams_w = H.gram_hashes_from_prefix(prefix, pow_, n, wk)
                else:
                    sh = grams = grams_w = np.empty(0, dtype=np.uint64)
                sig_t = H.oph_signature(sh, num_perm)
                sig_c = H.oph_signature(np.unique(grams), num_perm)
                sh_out[i] = H.to_int64(sh)
                bt_out[i] = H.to_int64(H.band_hashes(sig_t, bands, rows, salt=0))
                bc_out[i] = H.to_int64(H.band_hashes(sig_c, bands, rows, salt=bands))
                n_out[i] = len(sh)
                sim_out[i] = H.simhash64(grams)
                if include_winnow:
                    wn_out[i] = H.to_int64(
                        H.winnow_fingerprints(s, wk, ww, grams=grams_w)
                    )
            data = {
                "shingles": sh_out,
                "bands_tok": bt_out,
                "bands_chr": bc_out,
                "n_shingles": pd.Series(n_out),
                "simhash": pd.Series(sim_out.view(np.int64)),
            }
            if include_winnow:
                data["winnow"] = wn_out
            yield pd.DataFrame(data)

    return signature


def sha256_col(col: Column) -> Column:
    """Exact-dup key: hex sha256 of raw content (per-row invariant,
    reference analog: Redis exact key db_lookup.py:35)."""
    return F.sha2(col, 256)


def file_key_col() -> Column:
    """Single-string file key (collision-free: field-separated)."""
    return F.concat_ws("\x01", F.col("repo"), F.col("path"), F.col("commit"))


def make_winnow_udf(cfg: PipelineConfig = PINNED):
    """pandas UDF: normalized text → winnowing fingerprints ONLY.

    The Stage-C-standalone fast path: ``containment_pairs`` consumes
    just (key, norm, winnow), but the fused signature UDF also computes
    two 128-perm OPH MinHash signatures, 64 band hashes and a SimHash
    per doc — the majority of the per-doc kernel, all discarded. Same
    prefix-hash machinery, identical winnow values (the fused UDF's
    winnow path is exact-parity tested; this one shares its kernels).
    """
    from pyspark.sql import types as T

    wk, ww = cfg.winnow_gram_k, cfg.winnow_window

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def winnow_only(norm_iter: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for content in norm_iter:
            out = [None] * len(content)
            for i, raw in enumerate(content):
                s = raw if isinstance(raw, str) else ""
                b = np.frombuffer(s.encode("utf-8"), dtype=np.uint8).astype(np.uint64)
                if b.shape[0]:
                    prefix, pow_ = H._prefix_hashes(b)
                    grams_w = H.gram_hashes_from_prefix(prefix, pow_, b.shape[0], wk)
                else:
                    grams_w = np.empty(0, dtype=np.uint64)
                out[i] = H.to_int64(H.winnow_fingerprints(s, wk, ww, grams=grams_w))
            yield pd.Series(out)

    return winnow_only


def with_winnow_signatures(
    corpus: DataFrame,
    cfg: PipelineConfig = PINNED,
    content_col: str = "content",
) -> DataFrame:
    """(key, norm, winnow) only — for consumers that run Stage C alone."""
    from autovalidate_backend_api_spark.functions.normalize import (
        normalize_text_col,
    )

    df = corpus
    if "key" not in df.columns:
        df = df.withColumn("key", file_key_col())
    df = df.withColumn("norm", normalize_text_col(F.col(content_col)))
    return df.withColumn("winnow", make_winnow_udf(cfg)(F.col("norm")))


def with_signatures(
    corpus: DataFrame,
    cfg: PipelineConfig = PINNED,
    content_col: str = "content",
    include_winnow: bool = True,
) -> DataFrame:
    """Attach key/sha/norm/signature columns to a corpus DataFrame.

    Normalization is JVM-native (whole-stage codegen, byte-parity with
    the Python reference property-tested in tests/test_normalize.py);
    the single Arrow round trip carries only the hashing work.
    """
    from autovalidate_backend_api_spark.functions.normalize import (
        normalize_text_col,
    )

    df = corpus
    if "key" not in df.columns:
        df = df.withColumn("key", file_key_col())
    if "sha" not in df.columns:
        df = df.withColumn("sha", sha256_col(F.col(content_col)))
    df = df.withColumn("norm", normalize_text_col(F.col(content_col)))
    sig = make_signature_udf(cfg, include_winnow=include_winnow)
    df = df.withColumn("_sig", sig(F.col("norm")))
    out_fields = ["shingles", "bands_tok", "bands_chr", "n_shingles", "simhash"]
    if include_winnow:
        out_fields.append("winnow")
    df = df.select(
        "*", *[F.col(f"_sig.{f}").alias(f) for f in out_fields]
    ).drop("_sig")
    return df
