"""Skew robustness: boilerplate-heavy corpora must not explode candidate
generation, and true dup pairs must survive hot-bucket drops via their
other bands (SURVEY.md §4 — the web-scale skew contract)."""

from __future__ import annotations

from pyspark.sql import functions as F

from autovalidate_backend_api_spark.config import PINNED
from autovalidate_backend_api_spark.functions.signatures import with_signatures
from autovalidate_backend_api_spark.operators import stage_b_lsh as B

BOILER = " ".join(f"license clause {i} all rights reserved" for i in range(40))


def _skewed_corpus(spark, n=600, planted=25):
    """Every doc shares a large identical boilerplate block (≈50% of its
    tokens); `planted` docs get a near-identical twin (one token edit)."""
    rows = []
    for i in range(n):
        unique = " ".join(f"body{i}tok{j}" for j in range(160))
        rows.append((f"doc{i:04d}", f"{BOILER} {unique}"))
        if i < planted:
            twin = unique.replace(f"body{i}tok5", f"body{i}tokX")
            rows.append((f"twin{i:04d}", f"{BOILER} {twin}"))
    return spark.createDataFrame(rows, "key string, content string")


def test_hot_buckets_dropped_and_recall_survives(spark):
    corpus = _skewed_corpus(spark)
    n_docs = corpus.count()
    sigs = with_signatures(corpus, PINNED, include_winnow=False).persist()
    cands, dropped = B.candidate_pairs(sigs, PINNED)
    n_cands = cands.count()
    # the boilerplate bands bucket half the corpus together — they MUST
    # be dropped, and candidates must stay far below all-pairs
    assert dropped.count() > 0, "expected boilerplate band buckets above the cap"
    assert n_cands < n_docs * 40, f"candidate explosion: {n_cands} pairs for {n_docs} docs"
    # every planted twin still reaches verify via its non-boilerplate
    # bands and passes the exact-Jaccard threshold
    verified = B.verify_pairs(cands, sigs, PINNED)
    twins = {
        (min(r["src"], r["dst"]), max(r["src"], r["dst"]))
        for r in verified.filter(F.col("jaccard") >= PINNED.jaccard_threshold).collect()
    }
    expected = {(f"doc{i:04d}", f"twin{i:04d}") for i in range(25)}
    missing = expected - twins
    assert not missing, f"hot-bucket drops lost planted pairs: {sorted(missing)[:5]}"
    sigs.unpersist()


def test_fingerprint_poor_doc_in_hot_bucket_still_found(spark):
    """Stage-C recall contract regression (found via sf0.1 oracle sweep):
    a short contained doc can have a SINGLE winnow fingerprint, and that
    fingerprint's bucket can be boilerplate-hot (>max_fingerprint_bucket
    docs share it). The fingerprint-poor rescue path must still pair it
    with its container."""
    from autovalidate_backend_api_spark.operators import stage_c_substring as C

    # one shared short phrase (≥ contains_min_len=143 norm chars) that
    # appears verbatim inside many longer docs AND as a standalone doc
    shared = " ".join(f"anchor{i}" for i in range(18))  # ~150 chars
    assert len(shared) >= PINNED.contains_min_len
    rows = [("contained", shared)]
    for i in range(60):  # 60 > max_fingerprint_bucket=32 containers
        filler = " ".join(f"host{i}w{j}" for j in range(120))
        rows.append((f"host{i:03d}", f"{filler} {shared}"))
    corpus = spark.createDataFrame(rows, "key string, content string")
    sigs = with_signatures(corpus, PINNED, include_winnow=True).persist()
    cands, dropped = C.fingerprint_candidates(sigs, PINNED)
    confirmed = C.verify_containment(cands, sigs, PINNED)
    found = {
        (r["src"], r["dst"]) for r in confirmed.collect()
        if "contained" in (r["src"], r["dst"])
    }
    assert len(found) == 60, f"contained doc paired with {len(found)}/60 hosts"
    sigs.unpersist()


def test_oph_sparse_doc_candidate_parity_at_verify_threshold(spark):
    """VERDICT r2 next-round #7: OPH's documented sparse-doc residual is
    EXTRA low-J candidates only — every true pair at J ≥ 0.7 (above the
    0.66 LSH S-curve midpoint, where the verify threshold lives) stays a
    candidate, even when every doc has far fewer shingles than
    num_perm=128."""
    import numpy as np

    from autovalidate_backend_api_spark.functions import hashing as H

    rng = np.random.default_rng(23)
    vocab = [f"w{i}" for i in range(400)]
    docs = {}
    for i in range(40):
        toks = list(rng.choice(vocab, size=30, replace=False))  # ~28 shingles << 128
        docs[f"d{i:03d}"] = " ".join(toks)
        if i < 15:
            # twin with 1-2 token edits → J around 0.8-0.93 (sparse + high-J)
            twin = list(toks)
            for j in range(1 + i % 2):
                twin[5 + j] = f"edit{i}_{j}"
            docs[f"t{i:03d}"] = " ".join(twin)
    corpus = spark.createDataFrame(list(docs.items()), "key string, content string")

    # exact token-shingle Jaccard ground truth (same shingle contract)
    sets = {k: set(H.token_shingle_hashes(v.split(" ")).tolist()) for k, v in docs.items()}
    keys = sorted(sets)
    hi_truth = set()
    for a in range(len(keys)):
        for b in range(a + 1, len(keys)):
            sa, sb = sets[keys[a]], sets[keys[b]]
            u = len(sa | sb)
            if u and len(sa & sb) / u >= 0.7:
                hi_truth.add((keys[a], keys[b]))
    assert len(hi_truth) >= 10, "fixture must plant high-J sparse pairs"

    sigs = with_signatures(corpus, PINNED, include_winnow=False).persist()
    pairs, _ = B.candidate_pairs(sigs, PINNED)
    cands = {
        (min(r["src"], r["dst"]), max(r["src"], r["dst"])) for r in pairs.collect()
    }
    sigs.unpersist()
    assert hi_truth <= cands, "OPH misses high-J sparse pairs"


def _as_pipeline_corpus(corpus):
    return corpus.select(
        F.lit("r").alias("repo"), F.col("key").alias("path"),
        F.lit("c").alias("commit"), "content",
    )


def _drops(res) -> dict:
    return {m["stage"]: (m.get("dropped_buckets"), m.get("dropped_members"))
            for m in res.metrics if m["stage"] in ("stage_b_pairs", "stage_c_pairs")}


def _operator_drops(dropped) -> tuple[int, int]:
    return dropped.count(), dropped.agg(F.sum("bucket_n")).first()[0] or 0


def test_pipeline_metrics_count_hot_bucket_drops(spark, tmp_path):
    """Stage B/C metrics carry the drops of the frames the operators
    return — the boilerplate corpus drops buckets in both stages — with
    durable checkpoints and without, also for a stage that writes no
    pair; a resumed run counts nothing."""
    import threading

    from autovalidate_backend_api_spark.operators import stage_c_substring as C
    from autovalidate_backend_api_spark.plans.pipeline import run_pipeline
    from autovalidate_backend_api_spark.sources.checkpoint import CheckpointManager

    corpus = _as_pipeline_corpus(_skewed_corpus(spark, n=300, planted=10))
    res = run_pipeline(spark, corpus, str(tmp_path), "hot")
    sigs = CheckpointManager(spark, str(tmp_path), "hot", PINNED.config_hash()).read(
        "signatures"
    )
    want = {
        "stage_b_pairs": _operator_drops(B.candidate_pairs(sigs, PINNED)[1]),
        "stage_c_pairs": _operator_drops(C.fingerprint_candidates(sigs, PINNED)[1]),
    }
    assert want["stage_b_pairs"][0] > 0 and want["stage_c_pairs"][0] > 0
    assert _drops(res) == want
    assert _drops(run_pipeline(spark, corpus, None, "hot")) == want

    # no twins: Stage C still drops hot buckets but writes no pair, so
    # its count cannot come from a missing observation row
    lone = _run_with_rows(
        spark, _as_pipeline_corpus(_skewed_corpus(spark, n=300, planted=0)),
        tmp_path / "lone",
    )
    lone_sigs = CheckpointManager(
        spark, str(tmp_path / "lone"), "zero", PINNED.config_hash()
    ).read("signatures")
    assert lone["stage_c_pairs"] == (
        _operator_drops(C.fingerprint_candidates(lone_sigs, PINNED)[1]), 0
    )
    assert lone["stage_c_pairs"][0][0] > 0

    # resume: no stage query runs, so no observation is read (it would
    # never fill) and no drop field is reported
    done = []
    t = threading.Thread(
        target=lambda: done.append(run_pipeline(spark, corpus, str(tmp_path), "hot")),
        daemon=True,
    )
    t.start()
    t.join(120)
    assert done, "resumed run did not return"
    assert _drops(done[0]) == {"stage_b_pairs": (None, None), "stage_c_pairs": (None, None)}


def test_pipeline_metrics_report_zero_drops(spark, tmp_path):
    """No hot band bucket: AQE prunes the empty drop broadcast from the
    plan, so the observation has no row; Stage B wrote pairs, so that
    reads as zero drops. A stage that wrote no rows counts them
    directly."""
    from autovalidate_backend_api_spark import corpus as C

    corpus = spark.createDataFrame(C.corpus_pandas(60, seed=11))
    drops, rows = _run_with_rows(spark, corpus, tmp_path)["stage_b_pairs"]
    assert rows > 0, "fixture must confirm Stage B pairs"
    assert drops == (0, 0)

    unique = spark.createDataFrame(
        [("r", f"p{i}", "c", " ".join(f"doc{i}word{j}" for j in range(60)))
         for i in range(20)],
        "repo string, path string, commit string, content string",
    )
    res = _run_with_rows(spark, unique, tmp_path / "unique")
    assert res == {"stage_b_pairs": ((0, 0), 0), "stage_c_pairs": ((0, 0), 0)}


def _run_with_rows(spark, corpus, path) -> dict:
    """{stage: ((dropped_buckets, dropped_members), rows written)}."""
    from autovalidate_backend_api_spark.plans.pipeline import run_pipeline
    from autovalidate_backend_api_spark.sources.checkpoint import CheckpointManager

    res = run_pipeline(spark, corpus, str(path), "zero")
    mgr = CheckpointManager(spark, str(path), "zero", PINNED.config_hash())
    return {stage: (d, mgr.rows_of(stage)) for stage, d in _drops(res).items()}


def test_span_ops_survive_universal_hot_span(spark):
    """A chunk shared by EVERY doc (universal boilerplate): the span ops
    must stay combinable-aggregation-shaped (no single-task rank blowup)
    and produce the right verdicts — the curation-layer analog of the
    LSH hot-bucket guarantees."""
    from autovalidate_backend_api_spark.operators.datapipe import (
        corpus_duplicate_spans,
        remove_duplicate_spans,
    )

    hot = " ".join(f"boiler{i}" for i in range(16))
    docs = spark.createDataFrame(
        [(i, "en", "s0", hot + " " + " ".join(f"d{i}w{j}" for j in range(16)))
         for i in range(500)],
        "doc_id bigint, lang string, source string, text string",
    )
    rep = corpus_duplicate_spans(docs)
    rows = rep.collect()
    assert len(rows) == 500
    assert all(r["n_spans"] == 2 and r["n_dup_spans"] == 1 for r in rows)

    cleaned = {r["doc_id"]: r for r in remove_duplicate_spans(docs).collect()}
    # exactly one doc keeps the hot chunk (the min (doc_id, idx) owner)
    keepers = [d for d, r in cleaned.items() if r["n_dropped"] == 0]
    assert keepers == [0]
    assert all(r["n_dropped"] == 1 for d, r in cleaned.items() if d != 0)
    assert cleaned[7]["cleaned"].startswith("d7w0 ")  # hot chunk cut


def test_mann_whitney_u_hand_checked_with_ties(spark):
    """A=[1,2,3], B=[2,4]: midranks (1, 2.5, 2.5, 4, 5) → R_A = 7.5,
    2U = 15 − 12 = 3, AUC = 1.5/6 = 0.25 — the tie is half-counted
    exactly (pair-definition cross-check: only (3>2)=1 and (2=2)=0.5
    score)."""
    from autovalidate_backend_api_spark.operators.profiling import mann_whitney_u

    df = spark.createDataFrame(
        [("a", 1), ("a", 2), ("a", 3), ("b", 2), ("b", 4)],
        "g: string, v: bigint",
    )
    r = mann_whitney_u(df, group_col="g", value_col="v", group_a="a", group_b="b").first()
    assert (r["na"], r["nb"], r["two_u"], r["auc"]) == (3, 2, 3, 0.25)


def test_ks_statistic_hand_checked(spark):
    """Same samples: the ECDF gap peaks at v=3 (F_A=1, F_B=0.5) →
    d_num = |3·2 − 1·3| = 3, D = 0.5."""
    from autovalidate_backend_api_spark.operators.profiling import ks_statistic

    df = spark.createDataFrame(
        [("a", 1), ("a", 2), ("a", 3), ("b", 2), ("b", 4)],
        "g: string, v: bigint",
    )
    r = ks_statistic(df, group_col="g", value_col="v", group_a="a", group_b="b").first()
    assert (r["na"], r["nb"], r["d_num"], r["ks_d"]) == (3, 2, 3, 0.5)
