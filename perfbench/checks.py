"""Output checks: an order-independent digest of a run's outputs and the
dup-pair recall / false-merge count against the golden pairs."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# bounded additive component: the sum of the low 20 bits stays < 2^63
# for any table below 2^43 rows
_LOW_BITS = 1 << 20


def table_digest(df: DataFrame, cols: list[str]) -> str:
    """count : XOR of row hashes : sum of their low bits.

    The technique of the ``table_checksum`` gate: both aggregates are
    commutative, so the digest ignores row order and partitioning; the
    sum catches rows repeated an even number of times, which XOR cancels.
    """
    h = F.xxhash64(*cols)
    row = df.select(h.alias("h")).agg(
        F.count("*").alias("n"),
        F.expr("bit_xor(h)").alias("x"),
        F.sum(F.pmod("h", F.lit(_LOW_BITS))).alias("s"),
    ).first()
    return f"{row['n']}:{(row['x'] or 0) & (2**64 - 1):016x}:{row['s'] or 0}"


def run_digest(clusters: DataFrame, confirmed_pairs: DataFrame) -> str:
    return (
        table_digest(clusters, ["key", "cluster_rep"])
        + "|"
        + table_digest(confirmed_pairs, ["src", "dst", "stage"])
    )


def recall_and_false_merges(
    clusters: DataFrame, golden: pd.DataFrame, keys: set[str]
) -> tuple[float, int]:
    """Share of ``must_match`` pairs put in one cluster, and the number of
    ``negative`` pairs that were, over the golden pairs whose two files
    are both input ``keys``."""
    golden = golden[golden["a"].isin(keys) & golden["b"].isin(keys)]
    rep = clusters.toPandas().set_index("key")["cluster_rep"]
    same = golden["a"].map(rep).to_numpy() == golden["b"].map(rep).to_numpy()
    must = golden["must_match"].to_numpy()
    recall = float(same[must].mean()) if must.any() else 1.0
    return recall, int(same[golden["negative"].to_numpy()].sum())
