"""Probabilistic record-linkage preparation: blocked agreement-pattern
counting (the Fellegi–Sunter / Splink input table).

The reference's cascade is a hard-threshold linker: a pair either
passes fuzzy match at 0.75 or falls through to semantic search
(/root/reference/app/api/core/search.py:100-130). The probabilistic
generalization scores a pair by its AGREEMENT VECTOR γ = (γ₁..γ_k)
over k field comparisons, with per-pattern m/u weights estimated from
the pattern-frequency table. Computing that table IS the big-data job
— everything after it (EM on k counts) is driver-sized. So the
operator here produces exactly that: blocked candidate pairs → exact
per-pattern BIGINT counts.

Scale shape: the self-join is BLOCKED (equi-join on the block key —
shuffle-partitioned, AQE-skew-handled; at 10^12 rows the block-size
distribution is the thing to audit first, which is what
profiling.join_skew_report is for — run it on the block key before
this join). The output is ≤ 2^k rows of BIGINTs. Field comparisons
are pure projections inside the join stage; no float ops anywhere, so
the DuckDB twin is exact by construction.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def agreement_pattern_counts(
    records: DataFrame,
    *,
    id_col: str,
    block_col: str,
    fields: list[str],
) -> DataFrame:
    """Per-pattern pair counts over within-block candidate pairs.

    ``records`` must carry ``id_col`` (unique BIGINT), ``block_col``
    (the blocking key — pairs are generated only within a block), and
    the comparison ``fields``. A pair (a, b), a < b by id, agrees on
    field f iff both sides are non-null and equal (the null-safe
    Splink convention: a null never "agrees").

    Returns one row per observed pattern: ``gamma_<field>`` (0/1 int)
    per field, plus ``n_pairs`` (BIGINT), the EM input table.
    """
    keep = [id_col, block_col, *fields]
    left = records.select([F.col(c).alias(f"_l_{c}") for c in keep])
    right = records.select([F.col(c).alias(f"_r_{c}") for c in keep])
    pairs = left.join(
        right,
        (F.col(f"_l_{block_col}") == F.col(f"_r_{block_col}"))
        & (F.col(f"_l_{id_col}") < F.col(f"_r_{id_col}")),
    )
    gammas: list[Column] = [
        (
            F.col(f"_l_{f}").isNotNull()
            & F.col(f"_r_{f}").isNotNull()
            & (F.col(f"_l_{f}") == F.col(f"_r_{f}"))
        )
        .cast("int")
        .alias(f"gamma_{f}")
        for f in fields
    ]
    return (
        pairs.select(*gammas)
        .groupBy([f"gamma_{f}" for f in fields])
        .agg(F.count("*").cast("bigint").alias("n_pairs"))
    )


def agreement_pattern_counts_sql(
    records_cte: str,
    *,
    id_col: str,
    block_col: str,
    fields: list[str],
) -> str:
    """DuckDB twin generated from the same field list. ``records_cte``
    must define a CTE named ``records`` with the same columns."""
    gammas = ",\n           ".join(
        f"CAST(l.{f} IS NOT NULL AND r.{f} IS NOT NULL AND l.{f} = r.{f} "
        f"AS INT) AS gamma_{f}"
        for f in fields
    )
    gcols = ", ".join(f"gamma_{f}" for f in fields)
    return f"""WITH {records_cte},
    g AS (SELECT {gammas}
      FROM records l JOIN records r
        ON l.{block_col} = r.{block_col} AND l.{id_col} < r.{id_col})
    SELECT {gcols}, CAST(count(*) AS BIGINT) AS n_pairs
    FROM g GROUP BY {gcols}"""


def mu_field_weights(
    records: DataFrame,
    *,
    id_col: str,
    block_col: str,
    truth_col: str,
    fields: list[str],
) -> DataFrame:
    """Per-field m/u probabilities from LABELED blocked pairs — the
    Fellegi–Sunter parameters themselves, the supervised shortcut past
    EM (Splink's `estimate_m_from_label_column`): m_f = P(γ_f = 1 |
    match), u_f = P(γ_f = 1 | non-match), where a pair is a match iff
    the two sides' ``truth_col`` values are equal (here: exact content
    equality — the per-row sha invariant the whole pipeline preserves).

    One aggregation over the pair stream computes every numerator and
    denominator (map-side-combinable sums — the dq_profile shape), then
    an in-row ``stack`` unpivots to one row per field; only a 1×(2k+2)
    row ever leaves the executors. Counts are BIGINTs; m and u are each
    ONE exactly-rounded division (round 6), NULL-guarded when a class
    is empty — so the probabilities value-hash cross-engine.
    """
    keep = [id_col, block_col, truth_col, *fields]
    left = records.select([F.col(c).alias(f"_l_{c}") for c in keep])
    right = records.select([F.col(c).alias(f"_r_{c}") for c in keep])
    pairs = left.join(
        right,
        (F.col(f"_l_{block_col}") == F.col(f"_r_{block_col}"))
        & (F.col(f"_l_{id_col}") < F.col(f"_r_{id_col}")),
    )
    is_match = (F.col(f"_l_{truth_col}") == F.col(f"_r_{truth_col}")).cast("bigint")
    gammas = {
        f: (
            F.col(f"_l_{f}").isNotNull()
            & F.col(f"_r_{f}").isNotNull()
            & (F.col(f"_l_{f}") == F.col(f"_r_{f}"))
        ).cast("bigint")
        for f in fields
    }
    aggs = [
        F.sum(is_match).cast("bigint").alias("_nm"),
        F.sum(F.lit(1) - is_match).cast("bigint").alias("_nu"),
    ]
    for i, f in enumerate(fields):
        aggs.append(F.sum(gammas[f] * is_match).cast("bigint").alias(f"_am{i}"))
        aggs.append(
            F.sum(gammas[f] * (F.lit(1) - is_match)).cast("bigint").alias(f"_au{i}")
        )
    one = pairs.agg(*aggs)
    stack_args = ", ".join(f"'{f}', _am{i}, _au{i}" for i, f in enumerate(fields))
    return (
        one.select(
            "_nm",
            "_nu",
            F.expr(
                f"stack({len(fields)}, {stack_args})"
                " AS (field, _agree_m, _agree_u)"
            ),
        )
        .select(
            "field",
            F.coalesce(F.col("_nm"), F.lit(0)).cast("bigint").alias("n_match"),
            F.coalesce(F.col("_agree_m"), F.lit(0))
            .cast("bigint")
            .alias("n_agree_match"),
            F.when(
                F.col("_nm") > 0,
                F.round(
                    F.col("_agree_m").cast("double") / F.col("_nm").cast("double"),
                    6,
                ),
            ).alias("m"),
            F.coalesce(F.col("_nu"), F.lit(0)).cast("bigint").alias("n_unmatch"),
            F.coalesce(F.col("_agree_u"), F.lit(0))
            .cast("bigint")
            .alias("n_agree_unmatch"),
            F.when(
                F.col("_nu") > 0,
                F.round(
                    F.col("_agree_u").cast("double") / F.col("_nu").cast("double"),
                    6,
                ),
            ).alias("u"),
        )
    )


def mu_field_weights_sql(
    records_cte: str,
    *,
    id_col: str,
    block_col: str,
    truth_col: str,
    fields: list[str],
) -> str:
    """DuckDB twin of :func:`mu_field_weights`, generated from the same
    field list. ``records_cte`` must define a CTE named ``records``."""
    gcols = ",\n          ".join(
        f"CAST(l.{f} IS NOT NULL AND r.{f} IS NOT NULL AND l.{f} = r.{f} "
        f"AS BIGINT) AS _g{i}"
        for i, f in enumerate(fields)
    )
    gsum = []
    for i in range(len(fields)):
        gsum.append(f"coalesce(CAST(sum(_g{i} * _m) AS BIGINT), 0) AS _am{i}")
        gsum.append(
            f"coalesce(CAST(sum(_g{i} * (1 - _m)) AS BIGINT), 0) AS _au{i}"
        )
    branches = " UNION ALL ".join(
        f"""SELECT '{f}' AS field, _nm AS n_match, _am{i} AS n_agree_match,
            CASE WHEN _nm > 0
                 THEN round(CAST(_am{i} AS DOUBLE) / CAST(_nm AS DOUBLE), 6)
            END AS m,
            _nu AS n_unmatch, _au{i} AS n_agree_unmatch,
            CASE WHEN _nu > 0
                 THEN round(CAST(_au{i} AS DOUBLE) / CAST(_nu AS DOUBLE), 6)
            END AS u
        FROM agg"""
        for i, f in enumerate(fields)
    )
    return f"""WITH {records_cte},
    p AS (SELECT CAST(l.{truth_col} = r.{truth_col} AS BIGINT) AS _m,
          {gcols}
      FROM records l JOIN records r
        ON l.{block_col} = r.{block_col} AND l.{id_col} < r.{id_col}),
    agg AS (SELECT coalesce(CAST(sum(_m) AS BIGINT), 0) AS _nm,
                   coalesce(CAST(sum(1 - _m) AS BIGINT), 0) AS _nu,
                   {', '.join(gsum)}
            FROM p)
    SELECT * FROM ({branches})"""


def _gamma_cols(fields: list[str]) -> dict[str, Column]:
    return {
        f: (
            F.col(f"_l_{f}").isNotNull()
            & F.col(f"_r_{f}").isNotNull()
            & (F.col(f"_l_{f}") == F.col(f"_r_{f}"))
        ).cast("int")
        for f in fields
    }


def _blocked_pairs(
    records: DataFrame, *, id_col: str, block_col: str, keep: list[str]
) -> DataFrame:
    left = records.select([F.col(c).alias(f"_l_{c}") for c in keep])
    right = records.select([F.col(c).alias(f"_r_{c}") for c in keep])
    return left.join(
        right,
        (F.col(f"_l_{block_col}") == F.col(f"_r_{block_col}"))
        & (F.col(f"_l_{id_col}") < F.col(f"_r_{id_col}")),
    )


def fs_pattern_posterior(
    records: DataFrame,
    *,
    id_col: str,
    block_col: str,
    truth_col: str,
    fields: list[str],
) -> DataFrame:
    """Per-agreement-pattern match posterior P(match | γ) from LABELED
    blocked pairs — the decision table a Fellegi–Sunter linker
    thresholds (Splink's predict() collapsed to its sufficient
    statistic: with 0/1 comparisons the pair score depends only on the
    pattern, so one BIGINT count pair per pattern IS the model).

    One blocked self-join → groupBy on the γ columns → per pattern
    ``n_pairs``, ``n_match`` (exact BIGINTs) and ``posterior`` = ONE
    exactly-rounded division (round 6) — value-hash-safe cross-engine.
    Output ≤ 2^k rows.
    """
    keep = [id_col, block_col, truth_col, *fields]
    pairs = _blocked_pairs(records, id_col=id_col, block_col=block_col, keep=keep)
    is_match = (F.col(f"_l_{truth_col}") == F.col(f"_r_{truth_col}")).cast("bigint")
    gammas = _gamma_cols(fields)
    gcols = [gammas[f].alias(f"gamma_{f}") for f in fields]
    return (
        pairs.select(*gcols, is_match.alias("_m"))
        .groupBy([f"gamma_{f}" for f in fields])
        .agg(
            F.count("*").cast("bigint").alias("n_pairs"),
            F.sum("_m").cast("bigint").alias("n_match"),
        )
        .select(
            *[f"gamma_{f}" for f in fields],
            "n_pairs",
            "n_match",
            F.round(
                F.col("n_match").cast("double") / F.col("n_pairs").cast("double"),
                6,
            ).alias("posterior"),
        )
    )


def fs_linkage_clusters(
    records: DataFrame,
    *,
    id_col: str,
    block_col: str,
    truth_col: str,
    fields: list[str],
    min_posterior_num: int = 1,
    min_posterior_den: int = 2,
) -> DataFrame:
    """End-to-end probabilistic entity resolution: blocked pairs →
    per-pattern posterior (trained on ``truth_col`` labels, the
    supervised shortcut past EM) → accept every pair whose pattern
    clears ``min_posterior_num/min_posterior_den`` → connected
    components → one canonical record (min id) per entity.

    The threshold test is the EXACT-INTEGER cross-multiply
    ``n_match * den >= n_pairs * num`` — zero float ops anywhere in the
    accept/reject path, so the cluster assignment is bit-identical
    cross-engine by construction.

    Returns ``(rid, canonical_rid, cluster_size, is_dup)``.

    Scale shape: the pattern table is ≤ 2^k rows → broadcast back onto
    the pair stream (no second shuffle); the blocked self-join lineage
    is evaluated twice (pattern pass + edge pass) — at production scale
    persist the γ-projected pair frame between the passes, or fold this
    into the dedup pipeline's confirmed-pair stream. CC is the shared
    Stage-D operator (driver union-find dispatch for small edge sets,
    alternating-star behind it).
    """
    from autovalidate_backend_api_spark.operators.connected_components import (
        connected_components,
    )

    keep = [id_col, block_col, truth_col, *fields]
    pairs = _blocked_pairs(records, id_col=id_col, block_col=block_col, keep=keep)
    is_match = (F.col(f"_l_{truth_col}") == F.col(f"_r_{truth_col}")).cast("bigint")
    gammas = _gamma_cols(fields)
    gnames = [f"gamma_{f}" for f in fields]
    tagged = pairs.select(
        F.col(f"_l_{id_col}").alias("src"),
        F.col(f"_r_{id_col}").alias("dst"),
        *[gammas[f].alias(f"gamma_{f}") for f in fields],
        is_match.alias("_m"),
    )
    accepted = (
        tagged.groupBy(gnames)
        .agg(
            F.count("*").cast("bigint").alias("n_pairs"),
            F.sum("_m").cast("bigint").alias("n_match"),
        )
        .filter(
            F.col("n_match") * F.lit(min_posterior_den)
            >= F.col("n_pairs") * F.lit(min_posterior_num)
        )
        .select(gnames)
    )
    edges = tagged.join(F.broadcast(accepted), gnames).select("src", "dst")
    vertices = records.select(F.col(id_col).alias("key")).distinct()
    labels = connected_components(vertices, edges)
    sizes = labels.groupBy("cluster_rep").agg(
        F.count("*").cast("bigint").alias("cluster_size")
    )
    return labels.join(sizes, "cluster_rep").select(
        F.col("key").alias("rid"),
        F.col("cluster_rep").alias("canonical_rid"),
        "cluster_size",
        (F.col("key") != F.col("cluster_rep")).cast("int").alias("is_dup"),
    )


def golden_records(
    records: DataFrame,
    clusters: DataFrame,
    *,
    id_col: str,
    min_fields: list[str],
    max_fields: list[str],
) -> DataFrame:
    """Survivorship: collapse each resolved entity to ONE golden row —
    min-wins for ``min_fields`` (deterministic lexicographic/numeric
    rule), max-wins for ``max_fields`` (freshest/most-complete rule).
    ``clusters`` is :func:`fs_linkage_clusters` output. All rules are
    exact (no floats); one shuffle on ``canonical_rid``.
    """
    joined = records.join(
        clusters.select(F.col("rid").alias(id_col), "canonical_rid"), id_col
    )
    aggs = [F.min(f).alias(f"{f}_golden") for f in min_fields]
    aggs += [F.max(f).alias(f"{f}_latest") for f in max_fields]
    aggs.append(F.count("*").cast("bigint").alias("n_members"))
    return joined.groupBy("canonical_rid").agg(*aggs)


def _fs_pairs_sql_body(
    *, id_col: str, block_col: str, truth_col: str, fields: list[str]
) -> str:
    gammas = ",\n           ".join(
        f"CAST(l.{f} IS NOT NULL AND r.{f} IS NOT NULL AND l.{f} = r.{f} "
        f"AS INT) AS gamma_{f}"
        for f in fields
    )
    return f"""p AS (SELECT l.{id_col} AS src, r.{id_col} AS dst,
           CAST(l.{truth_col} = r.{truth_col} AS BIGINT) AS _m,
           {gammas}
      FROM records l JOIN records r
        ON l.{block_col} = r.{block_col} AND l.{id_col} < r.{id_col})"""


def fs_pattern_posterior_sql(
    records_cte: str,
    *,
    id_col: str,
    block_col: str,
    truth_col: str,
    fields: list[str],
) -> str:
    """DuckDB twin of :func:`fs_pattern_posterior`, generated from the
    same field list. ``records_cte`` must define a CTE ``records``."""
    body = _fs_pairs_sql_body(
        id_col=id_col, block_col=block_col, truth_col=truth_col, fields=fields
    )
    gcols = ", ".join(f"gamma_{f}" for f in fields)
    return f"""WITH {records_cte},
    {body}
    SELECT {gcols}, CAST(count(*) AS BIGINT) AS n_pairs,
           coalesce(CAST(sum(_m) AS BIGINT), 0) AS n_match,
           round(CAST(coalesce(CAST(sum(_m) AS BIGINT), 0) AS DOUBLE)
                 / CAST(count(*) AS DOUBLE), 6) AS posterior
    FROM p GROUP BY {gcols}"""


def _fs_clusters_sql_ctes(
    records_cte: str,
    *,
    id_col: str,
    block_col: str,
    truth_col: str,
    fields: list[str],
    min_posterior_num: int,
    min_posterior_den: int,
) -> str:
    """Shared recursive-CTE prefix (through ``comp``/``cs``) for the
    cluster and golden-record oracles."""
    body = _fs_pairs_sql_body(
        id_col=id_col, block_col=block_col, truth_col=truth_col, fields=fields
    )
    gcols = ", ".join(f"gamma_{f}" for f in fields)
    return f"""WITH RECURSIVE {records_cte},
    {body},
    pat AS (SELECT {gcols}, CAST(count(*) AS BIGINT) AS n_pairs,
                   coalesce(CAST(sum(_m) AS BIGINT), 0) AS n_match
            FROM p GROUP BY {gcols}),
    acc AS (SELECT {gcols} FROM pat
            WHERE n_match * {min_posterior_den} >= n_pairs * {min_posterior_num}),
    ed AS (SELECT src, dst FROM p JOIN acc USING ({gcols})),
    edges AS (SELECT src, dst FROM ed UNION SELECT dst, src FROM ed),
    verts AS (SELECT DISTINCT {id_col} AS rid FROM records),
    reach(node, lbl) AS (
      SELECT rid, rid FROM verts
      UNION
      SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node),
    comp AS (SELECT node AS rid, min(lbl) AS canonical_rid FROM reach GROUP BY 1),
    cs AS (SELECT canonical_rid, CAST(count(*) AS BIGINT) AS cluster_size
           FROM comp GROUP BY 1)"""


def fs_linkage_clusters_sql(
    records_cte: str,
    *,
    id_col: str,
    block_col: str,
    truth_col: str,
    fields: list[str],
    min_posterior_num: int = 1,
    min_posterior_den: int = 2,
) -> str:
    """DuckDB twin of :func:`fs_linkage_clusters` (recursive-CTE
    transitive closure, min-id representative)."""
    ctes = _fs_clusters_sql_ctes(
        records_cte,
        id_col=id_col,
        block_col=block_col,
        truth_col=truth_col,
        fields=fields,
        min_posterior_num=min_posterior_num,
        min_posterior_den=min_posterior_den,
    )
    return f"""{ctes}
    SELECT comp.rid, comp.canonical_rid, cs.cluster_size,
           CAST(comp.rid <> comp.canonical_rid AS INT) AS is_dup
    FROM comp JOIN cs USING (canonical_rid)"""


def golden_records_sql(
    records_cte: str,
    *,
    id_col: str,
    block_col: str,
    truth_col: str,
    fields: list[str],
    min_fields: list[str],
    max_fields: list[str],
    min_posterior_num: int = 1,
    min_posterior_den: int = 2,
) -> str:
    """DuckDB twin of :func:`golden_records` over
    :func:`fs_linkage_clusters` output — extends the cluster CTEs with
    the survivorship aggregation."""
    ctes = _fs_clusters_sql_ctes(
        records_cte,
        id_col=id_col,
        block_col=block_col,
        truth_col=truth_col,
        fields=fields,
        min_posterior_num=min_posterior_num,
        min_posterior_den=min_posterior_den,
    )
    mins = ", ".join(f"min(r.{f}) AS {f}_golden" for f in min_fields)
    maxs = ", ".join(f"max(r.{f}) AS {f}_latest" for f in max_fields)
    sel = ", ".join(x for x in (mins, maxs) if x)
    return f"""{ctes}
    SELECT comp.canonical_rid, {sel},
           CAST(count(*) AS BIGINT) AS n_members
    FROM comp JOIN records r ON r.{id_col} = comp.rid
    GROUP BY comp.canonical_rid"""


def block_profile(records: DataFrame, *, block_col: str) -> DataFrame:
    """The audit that must run BEFORE any blocked self-join: block-size
    distribution and the pair count each size class will generate
    (Σ s·(s−1)/2 — the actual join cost, quadratic in the hot block).
    At 10^12 rows this table is what says whether the block key is
    usable at all; the FS operators' docstrings point here.

    Two map-side-combinable aggregations; exact BIGINTs only (s·(s−1)
    is even, so the /2 is exact integer `div`).

    Output: ``block_size, n_blocks, n_pairs_total``.
    """
    sizes = records.groupBy(block_col).agg(
        F.count("*").cast("bigint").alias("s")
    )
    return (
        sizes.groupBy(F.col("s").alias("block_size"))
        .agg(F.count("*").cast("bigint").alias("n_blocks"))
        .select(
            "block_size",
            "n_blocks",
            (
                F.col("n_blocks")
                * F.expr("block_size * (block_size - 1) div 2")
            )
            .cast("bigint")
            .alias("n_pairs_total"),
        )
    )
