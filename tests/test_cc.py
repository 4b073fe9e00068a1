"""Connected components on known graphs (Stage D).

``connected_components`` size-dispatches small edge sets to driver-side
union-find; large-star/small-star is forced here with
cc_driver_max_edges=0 (it is the subject under test), and a dedicated
test pins driver ≡ distributed on the same graphs.
"""

from __future__ import annotations

import dataclasses
import random

import pytest

from autovalidate_backend_api_spark.config import PINNED
from autovalidate_backend_api_spark.operators import connected_components as cc
from autovalidate_backend_api_spark.operators.connected_components import (
    component_labels,
    connected_components,
)

DIST_CFG = dataclasses.replace(PINNED, cc_driver_max_edges=0)


def _run(spark, vertices, edges, cfg=DIST_CFG):
    vdf = spark.createDataFrame([(v,) for v in vertices], "key string")
    edf = spark.createDataFrame(edges, "src string, dst string")
    out = connected_components(vdf, edf, cfg)
    return {r["key"]: r["cluster_rep"] for r in out.collect()}


def _chain(n):
    keys = [f"v{i:03d}" for i in range(n)]
    return keys, [(keys[i], keys[i + 1]) for i in range(n - 1)]


def test_star(spark):
    got = _run(spark, list("abcd"), [("a", "b"), ("a", "c"), ("a", "d")])
    assert got == {"a": "a", "b": "a", "c": "a", "d": "a"}


def test_chain(spark):
    # worst case diameter: e-d-c-b-a
    got = _run(spark, list("abcde"), [("e", "d"), ("d", "c"), ("c", "b"), ("b", "a")])
    assert set(got.values()) == {"a"}


def test_two_components_and_isolated(spark):
    got = _run(
        spark, list("abcdefg"), [("a", "b"), ("b", "c"), ("e", "f")]
    )
    assert got["a"] == got["b"] == got["c"] == "a"
    assert got["e"] == got["f"] == "e"
    assert got["d"] == "d" and got["g"] == "g"


def test_rep_is_lexicographic_min(spark):
    got = _run(spark, ["z", "m", "a"], [("z", "m"), ("m", "a")])
    assert set(got.values()) == {"a"}


def test_input_order_invariance(spark):
    edges = [("c", "b"), ("a", "c"), ("d", "a")]
    got1 = _run(spark, list("abcd"), edges)
    got2 = _run(spark, list("dcba"), list(reversed(edges)))
    assert got1 == got2


def test_empty_edges_all_singletons(spark):
    # both dispatch branches must handle zero edges
    for cfg in (PINNED, DIST_CFG):
        vdf = spark.createDataFrame([(v,) for v in "abc"], "key string")
        edf = spark.createDataFrame([], "src string, dst string")
        out = connected_components(vdf, edf, cfg)
        got = {r["key"]: r["cluster_rep"] for r in out.collect()}
        assert got == {"a": "a", "b": "b", "c": "c"}


def test_nonconvergence_raises(spark, monkeypatch):
    """ADVICE r1: exhausting the round bound must be LOUD, not a
    silently-split component."""
    monkeypatch.setattr(cc, "STAR_MAX_ROUNDS", 1)
    keys, chain = _chain(8)
    vdf = spark.createDataFrame([(k,) for k in keys], "key string")
    edf = spark.createDataFrame(chain, "src string, dst string")
    with pytest.raises(RuntimeError, match="did not converge in 1 rounds"):
        connected_components(vdf, edf, DIST_CFG).collect()


def test_star_algorithm_known_graphs(spark):
    """``component_labels`` labels the edge-TOUCHED vertices only, with
    the same (key, comp) table on both dispatch branches."""
    edges = [("a", "b"), ("b", "c"), ("e", "f"), ("g", "g")]
    edf = spark.createDataFrame(edges, "src string, dst string")
    for cfg in (PINNED, DIST_CFG):
        got = {tuple(r) for r in component_labels(edf, cfg).collect()}
        assert got == {
            ("a", "a"), ("b", "a"), ("c", "a"), ("e", "e"), ("f", "e")
        }


def test_star_handles_long_chain_in_log_rounds(spark, monkeypatch):
    """A 40-node chain (diameter 39) converges within 8 rounds: the
    round count grows with log n, not with the diameter."""
    monkeypatch.setattr(cc, "STAR_MAX_ROUNDS", 8)
    keys, chain = _chain(40)
    got = _run(spark, keys, chain)
    assert set(got.values()) == {"v000"} and len(got) == 40


def test_driver_union_find_matches_distributed(spark):
    """The size-dispatched driver union-find (the default path for small
    edge sets) must agree with large-star/small-star on known, chain and
    random graphs, including representative choice (min member)."""
    cases = [
        (list("abcd"), [("a", "b"), ("a", "c"), ("a", "d")]),
        (list("abcde"), [("e", "d"), ("d", "c"), ("c", "b"), ("b", "a")]),
        (list("abcdefg"), [("a", "b"), ("b", "c"), ("e", "f")]),
        (["z", "m", "a"], [("z", "m"), ("m", "a")]),
        _chain(12),
    ]
    for seed, n, m in ((1, 60, 45), (2, 60, 45), (3, 60, 45), (4, 50, 40), (5, 50, 40)):
        rng = random.Random(seed)
        keys = [f"k{i:02d}" for i in range(n)]
        edges = [(keys[rng.randrange(n)], keys[rng.randrange(n)]) for _ in range(m)]
        cases.append((keys, [(a, b) for a, b in edges if a != b]))
    for verts, edges in cases:
        driver = _run(spark, verts, edges, PINNED)      # dispatches to union-find
        dist = _run(spark, verts, edges, DIST_CFG)      # large-star/small-star
        assert driver == dist
