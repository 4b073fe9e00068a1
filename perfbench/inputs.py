"""Seeded benchmark inputs, written to parquet during set-up.

The program under test only ever reads these parquet files. Every row
is a pure function of the seed: the code corpus comes from the
product's own generator (``corpus.corpus_spark``: 20% mega-repo skew,
30% shared license header, all 7 dup classes) and the gate documents
from a numpy generator shaped like the ``documents`` test table
(testdata sf0.1).
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession, Window
from pyspark.sql import functions as F

from autovalidate_backend_api_spark import corpus as C
from autovalidate_backend_api_spark.config import CORPUS_COLUMNS

# Corpus size. The generator's row count for a number of bases varies
# with the seed, so the corpus keeps exactly N_FILES rows — the first in
# (base_id, slot) order — from N_BASE bases; every seed then does the
# same amount of work.
N_BASE = 420
N_FILES = 950
# incremental_fold moves N_INCREMENT rows (10%) from the corpus into the
# increment: every row of the newest NEW_BASES bases (brand-new files and
# their variants), then variant rows of older bases (exact copies and
# near-dups of base files) in seeded hash order
N_INCREMENT = 95
NEW_BASES = 20
# gate_suite documents (the sf0.1 test table has 5000)
N_DOCS = 1000

# the documents table's vocabulary: 30 common words, plus "dup" marking
# a planted near-duplicate (a copy of an earlier document with one
# extra token)
DOC_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
DOC_LANGS = (("en", 0.41), ("zh", 0.15), ("es", 0.15), ("fr", 0.15), ("de", 0.14))
DUP_SHARE = 0.05


def _corpus(spark: SparkSession, seed: int, n_base: int, n_files: int):
    """The first ``n_files`` rows of the seeded corpus, with its meta columns."""
    first = Window.orderBy("base_id", "slot")
    return (
        C.corpus_spark(spark, n_base, seed, with_meta=True)
        .withColumn("_row", F.row_number().over(first))
        .filter(F.col("_row") <= n_files)
        .drop("_row")
    )


def write_corpus(spark: SparkSession, path: str, seed: int,
                 n_base: int = N_BASE, n_files: int = N_FILES) -> int:
    _corpus(spark, seed, n_base, n_files).select(*CORPUS_COLUMNS).write.parquet(path)
    return spark.read.parquet(path).count()


def write_fold_inputs(
    spark: SparkSession, base_path: str, incr_path: str, seed: int,
    n_base: int = N_BASE, n_files: int = N_FILES, n_increment: int = N_INCREMENT,
) -> tuple[int, int]:
    """Split the seeded corpus into a base corpus and its increment."""
    full_path = base_path + ".full"
    _corpus(spark, seed, n_base, n_files).write.parquet(full_path)
    full = spark.read.parquet(full_path)
    newest = full.agg(F.max("base_id")).first()[0] - NEW_BASES
    order = Window.orderBy(
        F.when(F.col("base_id") > newest, 0).when(F.col("slot") >= 1, 1).otherwise(2),
        F.xxhash64("base_id", "slot", F.lit(seed)),
    )
    ranked = full.withColumn("_rank", F.row_number().over(order))
    incr = F.col("_rank") <= n_increment
    ranked.filter(~incr).select(*CORPUS_COLUMNS).write.parquet(base_path)
    ranked.filter(incr).select(*CORPUS_COLUMNS).write.parquet(incr_path)
    return spark.read.parquet(base_path).count(), spark.read.parquet(incr_path).count()


def documents_pandas(seed: int, n_docs: int = N_DOCS) -> pd.DataFrame:
    rng = np.random.default_rng(seed)
    texts: list[str] = []
    for i in range(n_docs):
        if i > 20 and rng.random() < DUP_SHARE:
            toks = texts[int(rng.integers(0, i))].split(" ")
            at = int(rng.integers(0, len(toks) + 1))
            texts.append(" ".join(toks[:at] + ["dup"] + toks[at:]))
        else:
            texts.append(" ".join(rng.choice(DOC_VOCAB, size=int(rng.integers(10, 101)))))
    langs, weights = zip(*DOC_LANGS)
    return pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(langs, size=n_docs, p=weights),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def write_documents(sf_dir: str, seed: int, n_docs: int = N_DOCS) -> int:
    os.makedirs(sf_dir, exist_ok=True)
    docs = documents_pandas(seed, n_docs)
    docs.to_parquet(f"{sf_dir}/documents.parquet", index=False)
    return len(docs)


def golden_pairs(seed: int, n_base: int = N_BASE) -> pd.DataFrame:
    """(a, b, must_match, negative) over file keys, from the product's
    golden ``expected_pairs_pandas``. Pairs with a file past the corpus
    row cut are still listed; the recall check drops them."""
    exp = C.expected_pairs_pandas(n_base, seed)
    key = lambda p: exp[f"{p}_repo"] + "\x01" + exp[f"{p}_path"] + "\x01" + exp[f"{p}_commit"]
    return pd.DataFrame({
        "a": key("src"),
        "b": key("dst"),
        "must_match": exp["must_match"].astype(bool),
        "negative": exp["dup_class"] == "negative",
    })
