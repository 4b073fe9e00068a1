"""Table-layout planning operators: Z-order clustering + compaction.

At 100 TB the table MAINTENANCE jobs are themselves big Spark jobs:

- **Z-order layout**: interleave the bits of two clustering columns so
  one sort key localizes BOTH dimensions — every file (bucket) then
  carries tight min/max ranges on each column and the scan planner
  skips files on either predicate. This is the lakehouse OPTIMIZE
  ZORDER primitive; here the z-key is pure integer bit arithmetic
  (shift/and/add with literal shift amounts), so the whole layout
  report is value-hash bit-exact against a generated DuckDB twin.

- **Compaction planning**: group small files into target-sized output
  bins per partition (Iceberg binpack's planning step). The bin id is
  a running-sum integer division over the partition's files in file-id
  order — one window per partition, exact BIGINT arithmetic, and the
  plan (not the rewrite) is what ships to the driver. Partitions plan
  independently → the window parallelizes across partitions; a single
  degenerate partition with millions of files would serialize its own
  window and should be range-chunked first (same caveat as any
  per-partition sort).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

ZORDER_BITS = 16  # 2 × 16 interleaved bits → z < 2^32


def zorder_key(a: Column, b: Column, *, bits: int = ZORDER_BITS) -> Column:
    """Morton interleave of the low ``bits`` bits of two non-negative
    integer columns (a gets even bit positions, b odd). Literal shift
    amounts only — F.shiftleft/shiftright require them anyway."""
    terms = []
    for i in range(bits):
        terms.append(F.shiftleft(F.shiftright(a, i).bitwiseAND(F.lit(1)), 2 * i))
        terms.append(
            F.shiftleft(F.shiftright(b, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    z = terms[0]
    for t in terms[1:]:
        z = z + t  # disjoint bit positions → + ≡ |
    return z.cast("bigint")


def zorder_key_sql(a: str, b: str, *, bits: int = ZORDER_BITS) -> str:
    """The identical interleave as DuckDB SQL (generated from the same
    loop so the two engines cannot drift)."""
    terms = []
    for i in range(bits):
        terms.append(f"((({a} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({b} >> {i}) & 1) << {2 * i + 1})")
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


def zorder_layout_report(
    df: DataFrame, a: str, b: str, *, n_bucket_bits: int = 4, bits: int = ZORDER_BITS
) -> DataFrame:
    """Assign every row to one of 2^n_bucket_bits z-range buckets (the
    file boundaries an OPTIMIZE ZORDER write would use) and report each
    bucket's row count and per-dimension min/max — the data-skipping
    ranges the layout exists to tighten."""
    z = zorder_key(F.col(a), F.col(b), bits=bits)
    shift = 2 * bits - n_bucket_bits
    rows = df.select(
        F.shiftright(z, shift).cast("bigint").alias("bucket"),
        F.col(a).cast("bigint").alias("a"),
        F.col(b).cast("bigint").alias("b"),
    )
    return rows.groupBy("bucket").agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.min("a").alias("min_a"),
        F.max("a").alias("max_a"),
        F.min("b").alias("min_b"),
        F.max("b").alias("max_b"),
    )


def zorder_layout_oracle_sql(
    table: str, a: str, b: str, *, n_bucket_bits: int = 4, bits: int = ZORDER_BITS
) -> str:
    shift = 2 * bits - n_bucket_bits
    zsql = zorder_key_sql(a, b, bits=bits)
    return f"""WITH zr AS (SELECT ({zsql} >> {shift}) AS bucket,
           CAST({a} AS BIGINT) AS a, CAST({b} AS BIGINT) AS b FROM {table})
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_rows,
           min(a) AS min_a, max(a) AS max_a,
           min(b) AS min_b, max(b) AS max_b
    FROM zr GROUP BY 1"""


def compaction_plan(
    files: DataFrame,
    *,
    partition: str,
    file_id: str,
    size_col: str,
    target_bytes: int,
) -> DataFrame:
    """Per-partition compaction bins: files in ``file_id`` order
    accumulate into a bin until the running size crosses the target
    (bin = bytes-before div target). Returns one row per output bin
    with file count, total bytes, and the id range it covers."""
    w = (
        Window.partitionBy(partition)
        .orderBy(file_id)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    before = F.coalesce(F.sum(size_col).over(w), F.lit(0)).cast("bigint")
    binned = files.select(
        F.col(partition).alias("part"),
        F.col(file_id).alias("fid"),
        F.col(size_col).cast("bigint").alias("sz"),
        before.alias("before"),
    ).withColumn("bin", F.expr(f"before div {int(target_bytes)}"))
    return (
        binned.groupBy("part", "bin")
        .agg(
            F.count("*").cast("bigint").alias("n_files"),
            F.sum("sz").cast("bigint").alias("total_bytes"),
            F.min("fid").cast("bigint").alias("first_file"),
            F.max("fid").cast("bigint").alias("last_file"),
        )
        .withColumnRenamed("part", partition)
        .withColumn("bin", F.col("bin").cast("bigint"))
    )


def compaction_plan_oracle_sql(
    table: str, *, partition: str, file_id: str, size_col: str, target_bytes: int
) -> str:
    return f"""WITH cf AS (SELECT {partition} AS part, {file_id} AS fid,
           CAST({size_col} AS BIGINT) AS sz,
           CAST(coalesce(sum({size_col}) OVER (PARTITION BY {partition}
                ORDER BY {file_id}
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
             AS before
           FROM {table}),
    cb AS (SELECT part, fid, sz, before // {int(target_bytes)} AS bin FROM cf)
    SELECT part AS {partition}, CAST(bin AS BIGINT) AS bin,
           CAST(count(*) AS BIGINT) AS n_files,
           CAST(sum(sz) AS BIGINT) AS total_bytes,
           CAST(min(fid) AS BIGINT) AS first_file,
           CAST(max(fid) AS BIGINT) AS last_file
    FROM cb GROUP BY 1, 2"""


# --- rendezvous (highest-random-weight) sharding -----------------------
#
# A shard-routing primitive for incremental state tables:
# key k goes to argmax_s md5("hrw:" || s || ":" || k) — when a shard is
# added or removed, ONLY the keys whose argmax was that shard move
# (Thaler & Ravishankar 1998), unlike k % N where nearly every key
# moves. Deterministic md5 weights (the sketches.py hash family), pure
# 48-bit BIGINT compares, and a generated first-match argmax CASE chain
# shared with the DuckDB twin — so assignments are value-hash bit-exact.
# Scale shape: a pure projection (n_shards md5 calls per row, no
# shuffle, no state); the chain length is the shard COUNT, not the data.

HRW_SHARDS = 8


def _hrw_weight(key: Column, shard: int) -> Column:
    h = F.md5(F.concat(F.lit(f"hrw:{shard}:"), key))
    return F.conv(F.substring(h, 1, 12), 16, 10).cast("bigint")


def hrw_assignments(
    df: DataFrame, key_col: str, *, n_shards: int = HRW_SHARDS
) -> DataFrame:
    """``df`` + ``shard`` (int; max-weight shard, smallest id on
    near-impossible ties — the CASE chain checks ascending) and
    ``weight`` (the winning 48-bit BIGINT) from rendezvous-hashing
    ``key_col``. The n_shards md5 weights are projected into concrete
    columns FIRST so the argmax chain references attributes, not
    re-evaluated md5 trees (the HOF-capture/CollapseProject barrier
    discipline — non-cheap producer referenced ≥2× keeps the barrier)."""
    key = F.col(key_col).cast("string")
    wcols = [f"_hrw_w{s}" for s in range(n_shards)]
    staged = df.select(
        "*", *[_hrw_weight(key, s).alias(c) for s, c in enumerate(wcols)]
    )
    ws = [F.col(c) for c in wcols]
    wmax = F.greatest(*ws) if len(ws) > 1 else ws[0]
    pick = F.when(ws[0] == wmax, F.lit(0))
    for s in range(1, n_shards):
        pick = pick.when(ws[s] == wmax, F.lit(s))
    return staged.select(
        "*", pick.cast("int").alias("shard"), wmax.alias("weight")
    ).drop(*wcols)


def hrw_shard_sql(key_expr: str, *, n_shards: int = HRW_SHARDS) -> tuple[str, str]:
    """(shard_expr, weight_expr) DuckDB twins, generated from the same
    loop as :func:`hrw_shard` so the engines cannot drift. ``key_expr``
    must already be a VARCHAR expression."""
    ws = [
        f"CAST('0x' || substr(md5('hrw:{s}:' || {key_expr}), 1, 12) AS BIGINT)"
        for s in range(n_shards)
    ]
    wmax = "greatest(" + ", ".join(ws) + ")" if len(ws) > 1 else ws[0]
    chain = " ".join(f"WHEN {w} = wmax THEN {s}" for s, w in enumerate(ws))
    return f"CAST(CASE {chain} END AS INT)", wmax


def range_partition_bounds(
    df: DataFrame, value_col: str, *, n_bins: int = 8
) -> DataFrame:
    """Exact equi-depth range-partition boundaries for an integer
    column: for each bin k in 1..n_bins, the smallest value whose
    cumulative row count reaches ceil(k·N / n_bins) — the boundary
    table a range-partitioned sort/layout job ships to every task.

    Spark's own RangePartitioner SAMPLES to approximate exactly this
    table; the exact version is the auditable planning artifact (and
    the oracle-checkable one). Shape: the rows collapse to a value
    HISTOGRAM first (one map-side-combinable groupBy — Θ(|distinct
    values|) rows, not Θ(N)), the cumulative sum runs over that
    histogram's value order, and each bin picks its boundary with one
    min() over the qualifying values. The global window is over the
    collapsed histogram (same justification as interval_concurrency);
    the bin fan-out is a literal n_bins-row explode. Exact BIGINTs
    only — ceil(k·N/n_bins) is integer ``div`` arithmetic, never a
    float division.

    Output: ``bin_id, target_rank, upper_bound, cum_rows`` where
    ``cum_rows`` is the cumulative count at the boundary value.
    """
    hist = df.groupBy(F.col(value_col).alias("v")).agg(
        F.count("*").cast("bigint").alias("c")
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.select(
        "v", F.sum("c").over(w).cast("bigint").alias("cum")
    )
    total = Window.partitionBy()
    cum = cum.select("v", "cum", F.max("cum").over(total).alias("n"))
    bins = cum.select(
        "v",
        "cum",
        F.explode(
            F.expr(f"sequence(1, {int(n_bins)})")
        ).alias("bin_id"),
        "n",
    ).withColumn(
        "target_rank",
        F.expr(f"(bin_id * n + {int(n_bins)} - 1) div {int(n_bins)}"),
    )
    return (
        bins.filter(F.col("cum") >= F.col("target_rank"))
        .groupBy("bin_id", "target_rank")
        .agg(
            F.min("v").cast("bigint").alias("upper_bound"),
            F.min("cum").cast("bigint").alias("cum_rows"),
        )
    )


def range_partition_bounds_sql(
    table: str, value_sql: str, *, n_bins: int = 8
) -> str:
    """DuckDB twin of :func:`range_partition_bounds`."""
    return f"""WITH hist AS (
      SELECT {value_sql} AS v, CAST(count(*) AS BIGINT) AS c
      FROM {table} GROUP BY 1),
    cum AS (SELECT v, CAST(sum(c) OVER (ORDER BY v) AS BIGINT) AS cum
            FROM hist),
    tot AS (SELECT v, cum, max(cum) OVER () AS n FROM cum),
    bins AS (SELECT v, cum, bin_id, n,
                    (bin_id * n + {n_bins} - 1) // {n_bins} AS target_rank
             FROM tot, (SELECT unnest(range(1, {n_bins} + 1)) AS bin_id))
    SELECT bin_id, CAST(target_rank AS BIGINT) AS target_rank,
           CAST(min(v) AS BIGINT) AS upper_bound,
           CAST(min(cum) AS BIGINT) AS cum_rows
    FROM bins WHERE cum >= target_rank
    GROUP BY 1, 2"""


HILBERT_BITS = 8  # order-8 curve → 2^8 × 2^8 grid, d < 2^16


def _hilbert_levels(bits: int):
    """Power-of-two side lengths, high to low — shared by the Spark and
    SQL generators so the two engines cannot drift."""
    return [1 << k for k in range(bits - 1, -1, -1)]


def hilbert_layout_report(
    df: DataFrame,
    a: str,
    b: str,
    *,
    bits: int = HILBERT_BITS,
    n_bucket_bits: int = 4,
) -> DataFrame:
    """Hilbert-curve clustering report — the locality-tighter sibling of
    :func:`zorder_layout_report`: the Hilbert index never jumps (every
    consecutive pair of d values is grid-adjacent), so range buckets
    carry strictly tighter per-dimension min/max ranges than Morton
    buckets of the same size, which is why lakehouse OPTIMIZE
    implementations offer it beside Z-order.

    The classic xy2d transform (Hamilton, "Compact Hilbert Indices",
    TR-2006; the Wikipedia-standard rotation form): per power-of-two
    level, accumulate s²·((3·rx) XOR ry) and rotate/reflect the
    coordinates. Each level is ONE projection in the plan (a select
    chain, mirrored by a CTE chain in the oracle) — all integer
    shift/and/xor/sub arithmetic with literal shift amounts, so the
    whole report is value-hash bit-exact cross-engine. Inputs must be
    non-negative and < 2^bits (caller buckets them first).
    """
    rows = df.select(
        F.col(a).cast("bigint").alias("x"),
        F.col(b).cast("bigint").alias("y"),
        F.col(a).cast("bigint").alias("a"),
        F.col(b).cast("bigint").alias("b"),
        F.lit(0).cast("bigint").alias("d"),
    )
    for s in _hilbert_levels(bits):
        rx = F.when(F.col("x").bitwiseAND(F.lit(s)) > 0, 1).otherwise(0)
        ry = F.when(F.col("y").bitwiseAND(F.lit(s)) > 0, 1).otherwise(0)
        rows = rows.select(
            "x", "y", "a", "b", "d",
            rx.cast("bigint").alias("rx"),
            ry.cast("bigint").alias("ry"),
        )
        d2 = F.col("d") + F.lit(s * s) * (
            (F.lit(3) * F.col("rx")).bitwiseXOR(F.col("ry"))
        )
        # rotation: ry==1 → unchanged; ry==0 → swap (+ reflect if rx==1)
        nx = F.when(F.col("ry") == 1, F.col("x")).otherwise(
            F.when(F.col("rx") == 1, F.lit(s - 1) - F.col("y")).otherwise(F.col("y"))
        )
        ny = F.when(F.col("ry") == 1, F.col("y")).otherwise(
            F.when(F.col("rx") == 1, F.lit(s - 1) - F.col("x")).otherwise(F.col("x"))
        )
        rows = rows.select(
            nx.cast("bigint").alias("x"),
            ny.cast("bigint").alias("y"),
            "a",
            "b",
            d2.cast("bigint").alias("d"),
        )
    shift = 2 * bits - n_bucket_bits
    return (
        rows.select(
            F.shiftright(F.col("d"), shift).cast("bigint").alias("bucket"),
            "a",
            "b",
        )
        .groupBy("bucket")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.min("a").alias("min_a"),
            F.max("a").alias("max_a"),
            F.min("b").alias("min_b"),
            F.max("b").alias("max_b"),
        )
    )


def hilbert_layout_oracle_sql(
    table: str,
    a: str,
    b: str,
    *,
    bits: int = HILBERT_BITS,
    n_bucket_bits: int = 4,
) -> str:
    """DuckDB twin of :func:`hilbert_layout_report`: the same level
    loop emitted as a MATERIALIZED CTE chain (x/y referenced twice per
    level — the kcore inlining rule)."""
    steps = [
        f"""h0 AS MATERIALIZED (
      SELECT CAST({a} AS BIGINT) AS x, CAST({b} AS BIGINT) AS y,
             CAST({a} AS BIGINT) AS a, CAST({b} AS BIGINT) AS b,
             CAST(0 AS BIGINT) AS d FROM {table})"""
    ]
    for i, s in enumerate(_hilbert_levels(bits), start=1):
        steps.append(
            f"""h{i} AS MATERIALIZED (
      SELECT CASE WHEN ry = 1 THEN x
                  WHEN rx = 1 THEN {s - 1} - y ELSE y END AS x,
             CASE WHEN ry = 1 THEN y
                  WHEN rx = 1 THEN {s - 1} - x ELSE x END AS y,
             a, b,
             d + {s * s} * xor(3 * rx, ry) AS d
      FROM (SELECT x, y, a, b, d,
                   CASE WHEN (x & {s}) > 0 THEN 1 ELSE 0 END AS rx,
                   CASE WHEN (y & {s}) > 0 THEN 1 ELSE 0 END AS ry
            FROM h{i - 1}))"""
        )
    n = len(_hilbert_levels(bits))
    shift = 2 * bits - n_bucket_bits
    return (
        "WITH "
        + ",\n    ".join(steps)
        + f"""
    SELECT CAST(d >> {shift} AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_rows,
           min(a) AS min_a, max(a) AS max_a,
           min(b) AS min_b, max(b) AS max_b
    FROM h{n} GROUP BY 1"""
    )


def vacuum_plan(
    manifest: DataFrame,
    *,
    partition_col: str = "part",
    snapshot_col: str = "snapshot_id",
    bytes_col: str = "bytes",
    keep_snapshots: int = 2,
) -> DataFrame:
    """Snapshot-retention (VACUUM / expire_snapshots) planning: per
    partition, rank snapshots newest-first and mark every file owned
    by a snapshot past the ``keep_snapshots`` horizon as expired —
    the plan (files to delete, bytes reclaimed) a table-maintenance
    job ships, the retention sibling of :func:`compaction_plan`.

    Shape: one Θ(|partition, snapshot|) aggregate ranks snapshots
    (dense window per partition — snapshot cardinality per partition
    is bounded by the retention policy itself, never by file count),
    broadcast back onto the file-level counts. Exact BIGINTs only.

    Output per (partition, snapshot): file/byte counts, the newest-
    first rank, the expire verdict, and the partition's reclaimable
    byte total.
    """
    per_snap = manifest.groupBy(
        F.col(partition_col).alias("part"), F.col(snapshot_col).alias("snapshot_id")
    ).agg(
        F.count("*").cast("bigint").alias("n_files"),
        F.sum(F.col(bytes_col)).cast("bigint").alias("n_bytes"),
    )
    w = Window.partitionBy("part").orderBy(F.col("snapshot_id").desc())
    ranked = per_snap.withColumn(
        "snap_rank", F.row_number().over(w).cast("bigint")
    ).withColumn("expire", F.col("snap_rank") > keep_snapshots)
    wp = Window.partitionBy("part")
    return ranked.select(
        "part",
        "snapshot_id",
        "n_files",
        "n_bytes",
        "snap_rank",
        "expire",
        F.sum(F.when(F.col("expire"), F.col("n_bytes")).otherwise(0))
        .over(wp)
        .cast("bigint")
        .alias("part_bytes_reclaimable"),
    )


def vacuum_plan_sql(
    table: str,
    partition_sql: str,
    snapshot_sql: str,
    bytes_sql: str,
    *,
    keep_snapshots: int = 2,
) -> str:
    """DuckDB twin of :func:`vacuum_plan`."""
    return f"""WITH ps AS (
      SELECT {partition_sql} AS part, {snapshot_sql} AS snapshot_id,
             CAST(count(*) AS BIGINT) AS n_files,
             CAST(sum({bytes_sql}) AS BIGINT) AS n_bytes
      FROM {table} GROUP BY 1, 2),
    rk AS (SELECT *, CAST(row_number() OVER (PARTITION BY part
                         ORDER BY snapshot_id DESC) AS BIGINT) AS snap_rank
           FROM ps)
    SELECT part, snapshot_id, n_files, n_bytes, snap_rank,
           snap_rank > {keep_snapshots} AS expire,
           CAST(sum(CASE WHEN snap_rank > {keep_snapshots} THEN n_bytes
                         ELSE 0 END) OVER (PARTITION BY part) AS BIGINT)
             AS part_bytes_reclaimable
    FROM rk"""
