"""Suffix-automaton longest-common-substring: parity with an
independent O(nm) DP (the textbook definition), edge cases, and the
Spark confirm operator."""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import Row

from autovalidate_backend_api_spark.functions.substring import (
    lcs_confirm_pairs,
    lcs_substring_len,
)


def _dp_lcs_substring(a: str, b: str) -> int:
    """Independent quadratic DP over code points (the definition)."""
    best = 0
    prev = [0] * (len(b) + 1)
    for i in range(1, len(a) + 1):
        cur = [0] * (len(b) + 1)
        for j in range(1, len(b) + 1):
            if a[i - 1] == b[j - 1]:
                cur[j] = prev[j - 1] + 1
                if cur[j] > best:
                    best = cur[j]
        prev = cur
    return best


@pytest.mark.parametrize(
    "a,b,want",
    [
        ("", "", 0),
        ("abc", "", 0),
        ("", "abc", 0),
        ("abc", "abc", 3),
        ("abcdef", "zabcy", 3),
        ("abab", "baba", 3),
        ("xyz", "abc", 0),
        ("aaaa", "aa", 2),
        ("the quick brown fox", "quick brown", 11),
        ("ababab", "bababa", 5),
    ],
)
def test_lcs_substring_known_cases(a, b, want):
    assert lcs_substring_len(a, b) == want
    assert lcs_substring_len(b, a) == want


@settings(max_examples=300, deadline=None)
@given(
    st.text(alphabet="abc", max_size=40),
    st.text(alphabet="abc", max_size=40),
)
def test_lcs_substring_matches_dp_small_alphabet(a, b):
    # small alphabet maximizes repeated-substring structure (clone-heavy
    # automaton paths)
    assert lcs_substring_len(a, b) == _dp_lcs_substring(a, b)


@settings(max_examples=150, deadline=None)
@given(st.text(max_size=30), st.text(max_size=30))
def test_lcs_substring_matches_dp_unicode(a, b):
    assert lcs_substring_len(a, b) == _dp_lcs_substring(a, b)


def test_lcs_confirm_pairs_spark(spark):
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="alpha beta gamma delta epsilon"),
            Row(doc_id=2, text="beta gamma delta"),  # contained in 1
            Row(doc_id=3, text="zeta eta theta"),  # disjoint from 1
        ],
        "doc_id bigint, text string",
    )
    pairs = spark.createDataFrame(
        [Row(src=1, dst=2), Row(src=1, dst=3)], "src bigint, dst bigint"
    )
    out = {(r["src"], r["dst"]): r.asDict() for r in lcs_confirm_pairs(pairs, docs).collect()}
    assert out[(1, 2)]["lcs_len"] == len("beta gamma delta")
    assert out[(1, 2)]["containment"] == 1.0
    # 'eta' appears inside 'beta'/'theta' wordings: exact value from DP
    expect = _dp_lcs_substring("alpha beta gamma delta epsilon", "zeta eta theta")
    assert out[(1, 3)]["lcs_len"] == expect
    assert out[(1, 3)]["containment"] < 1.0
    # min_containment filter keeps only the true containment pair
    kept = lcs_confirm_pairs(pairs, docs, min_containment=0.9).collect()
    assert [(r["src"], r["dst"]) for r in kept] == [(1, 2)]

