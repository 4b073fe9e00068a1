"""Degenerate-input behavior of the full pipeline: empty corpus, one
file, all-identical corpus. These are the inputs a 100 TB backfill WILL
contain somewhere; none may crash or mis-cluster."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from autovalidate_backend_api_spark.plans.pipeline import run_pipeline

_SCHEMA = "repo string, path string, commit string, lang string, content string"


def _run(spark, rows):
    corpus = spark.createDataFrame(rows, _SCHEMA)
    res = run_pipeline(spark, corpus, None, run_id="degen")
    return {r["key"]: r["cluster_rep"] for r in res.clusters.collect()}


def test_single_file(spark):
    got = _run(spark, [("r", "a.py", "c1", "py", "just one file here")])
    assert len(got) == 1
    (k, v), = got.items()
    assert k == v


def test_repeated_corpus_row_raises(spark, tmp_path):
    """A (repo, path, commit) key given twice is an input error: the
    keymap stage's key check names it instead of clustering it, and a
    checkpointed run raises before any signature is written."""
    rows = [
        ("r", "a.py", "c1", "py", "first file body"),
        ("r", "b.py", "c1", "py", "second file body"),
        ("r", "a.py", "c1", "py", "first file body"),
    ]
    with pytest.raises(RuntimeError, match=r"duplicate corpus keys \(1\)"):
        _run(spark, rows)
    corpus = spark.createDataFrame(rows, _SCHEMA)
    with pytest.raises(RuntimeError, match=r"duplicate corpus keys \(1\)"):
        run_pipeline(spark, corpus, str(tmp_path), run_id="dup")
    assert not (tmp_path / "dup" / "signatures").exists()


def test_all_identical_contents(spark):
    rows = [("r", f"f{i}.py", "c1", "py", "same bytes everywhere") for i in range(20)]
    got = _run(spark, rows)
    assert len(got) == 20
    assert len(set(got.values())) == 1  # one cluster, Stage A star edges


def test_empty_and_whitespace_contents(spark):
    """Empty/whitespace docs are exact dups of each other (Stage A), and
    must never near-dup-match non-empty docs (zero-shingle exclusion)."""
    rows = [
        ("r", "e1.py", "c1", "py", ""),
        ("r", "e2.py", "c1", "py", ""),
        ("r", "w1.py", "c1", "py", "   \n\t "),
        ("r", "n1.py", "c1", "py", "real content with several tokens in it"),
    ]
    got = _run(spark, rows)
    assert len(got) == 4
    # the two byte-identical empties cluster together
    e1 = got["r\x01e1.py\x01c1"]
    assert got["r\x01e2.py\x01c1"] == e1
    # the non-empty doc stays alone
    n1_key = "r\x01n1.py\x01c1"
    assert got[n1_key] == n1_key
    assert sum(1 for v in got.values() if v == got[n1_key]) == 1


def test_empty_corpus(spark):
    got = _run(spark, [])
    assert got == {}


def test_null_token_bands_keep_char_buckets(spark):
    """Signatures read back from parquet are nullable. A row whose
    bands_tok is NULL must still yield its char-family buckets (and vice
    versa), so the pair stays an LSH candidate through the other family."""
    from autovalidate_backend_api_spark.operators import stage_b_lsh as B

    sigs = spark.createDataFrame(
        [(1, None, [10, 11], 5), (2, [20], [10, 11], 5), (3, [30], None, 5)],
        "key long, bands_tok array<bigint>, bands_chr array<bigint>, "
        "n_shingles int",
    )
    got = sorted(tuple(r) for r in B.explode_bands(sigs).collect())
    assert got == [(10, 1), (10, 2), (11, 1), (11, 2), (20, 2), (30, 3)]
    pairs, _ = B.candidate_pairs(sigs)
    assert [tuple(r) for r in pairs.collect()] == [(1, 2)]


# ---------------------------------------------------------------------------
# degenerate inputs for the round-4 operators (semdedup, incremental)
# ---------------------------------------------------------------------------

def test_semdedup_degenerate_shapes(spark):
    """Empty table, single vector, and all-identical vectors must not
    crash; identical vectors collapse to one survivor."""
    from pyspark.sql import types as T
    from autovalidate_backend_api_spark.operators.similarity import semdedup_prune

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    )
    empty = spark.createDataFrame([], schema)
    assert semdedup_prune(empty, threshold=0.9, n_cells=4).count() == 0

    one = spark.createDataFrame([(7, [1.0, 2.0, 3.0])], schema)
    rows = semdedup_prune(one, threshold=0.9, n_cells=4).collect()
    assert len(rows) == 1 and rows[0]["keep"] == 1 and rows[0]["rep"] == 7

    same = spark.createDataFrame([(i, [1.0, 0.0, 2.0]) for i in range(12)], schema)
    rows = semdedup_prune(same, threshold=0.9, n_cells=3).collect()
    assert len(rows) == 12
    # identical vectors: all in one cell, one component, min-id survivor
    assert {r["rep"] for r in rows} == {0}
    assert sum(r["keep"] for r in rows) == 1


def test_incremental_with_empty_increment(spark, tmp_path):
    """An increment with zero files must reproduce the base clusters
    unchanged (the no-op nightly run)."""
    from autovalidate_backend_api_spark import corpus as C
    from autovalidate_backend_api_spark.plans.incremental import incremental_update
    from autovalidate_backend_api_spark.plans.pipeline import run_pipeline

    corpus = spark.createDataFrame(C.corpus_pandas(40))
    base_res = run_pipeline(spark, corpus, str(tmp_path), run_id="base")
    base = {r["key"]: r["cluster_rep"] for r in base_res.clusters.collect()}

    empty = corpus.limit(0)
    inc_res = incremental_update(spark, empty, str(tmp_path), "base", "inc")
    inc = {r["key"]: r["cluster_rep"] for r in inc_res.clusters.collect()}
    assert inc == base
