"""Stage D — connected components over the confirmed-pair edge DataFrame.

The batch reframing of the reference's typo → canonical correction map
(/root/reference/app/api/core/db_lookup.py:52-83): instead of persisting
one correction per query, we assign every file the lexicographic-min key
of its transitive dup closure as cluster representative.

One dispatch on the edge count (``component_labels``):

- at or below ``cfg.cc_driver_max_edges`` the edges are collected
  through Arrow and solved with union-find on the driver — dup-pair edge
  sets are tiny relative to the corpus (49k files → ~30k edges at the
  bench corpus), and any iterative Spark algorithm pays several
  driver-synchronized shuffle jobs per round on what is, in absolute
  terms, a few MB of longs;
- above it, alternating large-star / small-star (Kiveris et al.,
  "Connected Components in MapReduce and Beyond", SoCC'14) converges in
  O(log n) rounds at ANY component diameter, so long containment chains
  cannot exhaust the round bound. Each round's edge table is
  ``localCheckpoint``ed — iterative joins otherwise accumulate lineage
  and re-execute the whole prefix (classic iterative-Spark trap).

Both paths label every edge-touched vertex with the minimum member of
its component; untouched vertices never enter either path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from autovalidate_backend_api_spark.config import PipelineConfig, PINNED

# O(log n) rounds suffice for ANY component shape; 64 covers 2^64
# vertices, so the bound is never the binding constraint on real input.
STAR_MAX_ROUNDS = 64
# Broadcast bound on the driver-built label table: near the 2M-edge
# dispatch cap it can reach ~4M rows (~64 MB serialized) —
# force-broadcasting that overrides autoBroadcastJoinThreshold and
# serializes through the driver (ADVICE r3). Past the bound, plain joins
# + AQE.
BROADCAST_MAX_LABELS = 500_000


def union_find_labels(rows) -> list[tuple]:
    """Union-find (path compression + union by size) over collected edge
    rows; returns [(vertex, min_member_of_its_component), ...] for the
    edge-TOUCHED vertices only."""
    parent: dict = {}
    size: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for r in rows:
        a, b = r[0], r[1]
        if a == b:
            continue
        for v in (a, b):
            if v not in parent:
                parent[v] = v
                size[v] = 1
        ra, rb = find(a), find(b)
        if ra != rb:
            if size[ra] < size[rb]:
                ra, rb = rb, ra
            parent[rb] = ra
            size[ra] += size[rb]
    comp_min: dict = {}
    for v in parent:
        root = find(v)
        if root not in comp_min or v < comp_min[root]:
            comp_min[root] = v
    return [(v, comp_min[find(v)]) for v in parent]


def component_labels(
    edges: DataFrame, cfg: PipelineConfig = PINNED, n_edges: int | None = None
) -> DataFrame:
    """(src, dst) edges → (key, comp) for the edge-TOUCHED vertices only;
    ``comp`` is the minimum member of the vertex's component.

    ``n_edges`` is the edge count when the caller already has it (a
    checkpoint manifest); otherwise the edges are persisted and counted
    here — persisted so that an edge DERIVATION (e.g. repo overlap
    pairs) is not recomputed in full by the Arrow collect or the first
    star round (r6: repo_fork_clusters paid its pair join twice).

    The union-find table is built on the driver and carries a broadcast
    hint while it holds ≤ ``BROADCAST_MAX_LABELS`` rows, so the joins
    that translate or complete it stay map-side.
    """
    if n_edges is None:
        edges = edges.persist()
        n_edges = edges.count()
    if n_edges > cfg.cc_driver_max_edges:
        return _star_labels(edges)
    # Arrow collect: two flat columns, not one PySpark Row object per
    # edge (hundreds of MB of Python objects at the 2M-edge cap,
    # ADVICE r3)
    pdf = edges.select("src", "dst").toPandas()
    labeled = union_find_labels(zip(pdf["src"].tolist(), pdf["dst"].tolist()))
    key_type = edges.schema["src"].dataType
    schema = T.StructType(
        [T.StructField("key", key_type), T.StructField("comp", key_type)]
    )
    labels = edges.sparkSession.createDataFrame(labeled, schema)
    return F.broadcast(labels) if len(labeled) <= BROADCAST_MAX_LABELS else labels


def connected_components(
    vertices: DataFrame, edges: DataFrame, cfg: PipelineConfig = PINNED
) -> DataFrame:
    """(key) vertices + (src, dst) edges → (key, cluster_rep).

    ``component_labels`` over the edges, plus every vertex absent from
    all edges as its own representative (in dedup workloads the
    overwhelming majority of vertices are singletons, so they are
    unioned in label-free instead of entering either CC path).
    """
    labels = component_labels(edges, cfg)
    singletons = vertices.join(labels, "key", "left_anti").select(
        "key", F.col("key").alias("cluster_rep")
    )
    return labels.select("key", F.col("comp").alias("cluster_rep")).unionByName(
        singletons
    )


def _star_labels(edges: DataFrame) -> DataFrame:
    """Alternating large-star / small-star over (src, dst) edges →
    (key, comp) for the touched vertices.

    large-star: every node hangs its LARGER neighbors under the min of
    its closed neighborhood; small-star: every node re-hangs its
    smaller-or-equal neighbors under that min. At fixpoint the edge set
    is a star forest rooted at each component's minimum. Convergence is
    detected by an (edge-count, xxhash64-checksum) fingerprint — one
    aggregation job per round, which also materializes the lazy
    checkpoint. Not converging within ``STAR_MAX_ROUNDS`` raises: a
    silently-split component would be a wrong cluster assignment.
    """
    E = (
        edges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .dropDuplicates(["src", "dst"])
    ).localCheckpoint(eager=False)
    touched = (
        E.select(F.col("src").alias("key"))
        .union(E.select(F.col("dst").alias("key")))
        .distinct()
    ).localCheckpoint(eager=False)

    def fingerprint(e: DataFrame) -> tuple:
        # bit_xor: order-independent, overflow-free under ANSI mode
        row = e.agg(
            F.count("*").alias("n"),
            F.expr("bit_xor(xxhash64(src, dst))").alias("chk"),
        ).collect()[0]
        return (row["n"], row["chk"])

    def large_star(e: DataFrame) -> DataFrame:
        sym = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        nm = sym.groupBy("src").agg(F.min("dst").alias("md"))
        m = F.least(F.col("md"), F.col("src"))
        return (
            sym.join(nm, "src")
            .filter(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), m.alias("dst"))
            .filter(F.col("src") != F.col("dst"))
            .dropDuplicates(["src", "dst"])
        )

    def small_star(e: DataFrame) -> DataFrame:
        directed = e.select(
            F.greatest("src", "dst").alias("u"), F.least("src", "dst").alias("v")
        )
        nm = directed.groupBy("u").agg(F.min("v").alias("m"))
        hang_neighbors = (
            directed.join(nm, "u")
            .filter(F.col("v") != F.col("m"))
            .select(F.col("v").alias("src"), F.col("m").alias("dst"))
        )
        hang_center = nm.select(F.col("u").alias("src"), F.col("m").alias("dst"))
        return (
            hang_neighbors.unionByName(hang_center)
            .filter(F.col("src") != F.col("dst"))
            .dropDuplicates(["src", "dst"])
        )

    prev = None
    prev_E = None
    for _ in range(STAR_MAX_ROUNDS):
        new_E = small_star(large_star(E)).localCheckpoint(eager=False)
        fp = fingerprint(new_E)
        if fp == prev:
            # fingerprint equality is probabilistic (~2^-64 collision) —
            # a collision here would SILENTLY emit split components, so
            # confirm set equality exactly before trusting it. Counts
            # already match (the fingerprint includes n), so one-sided
            # exceptAll suffices; costs one job only at convergence. A
            # collision thus degrades to one extra round, never to
            # wrong output.
            if new_E.exceptAll(prev_E).isEmpty():
                E = new_E
                break
        prev, prev_E, E = fp, new_E, new_E
    else:
        raise RuntimeError(
            f"large-star/small-star did not converge in {STAR_MAX_ROUNDS} rounds"
        )

    # fixpoint: E is a star forest (child → root); roots label themselves
    children = E.select(F.col("src").alias("key"), F.col("dst").alias("comp"))
    roots = touched.join(children.select("key"), "key", "left_anti").select(
        "key", F.col("key").alias("comp")
    )
    return children.unionByName(roots)
