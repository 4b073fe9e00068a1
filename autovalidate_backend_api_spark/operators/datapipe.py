"""Training-data pipeline operators over a document corpus.

The reference validates/normalizes user text before it reaches the
expensive fuzzy stage (/root/reference/app/api/core/search.py:14-21,
:100-130); a training-data pipeline runs the same shape of work over a
corpus: decide what gets in (decontamination, quality flags), how it is
weighted (domain mixture), how it is split (deterministic train/val/
test), and how it is laid out for the trainer (sequence packing). Each
operator here is a pure DataFrame→DataFrame function registered as a
driver gate in entrypoints.py with an exact DuckDB oracle.

Scale notes are per-operator docstrings; the common rules:
- nothing here collects to the driver,
- every aggregation is map-side combinable,
- the only broadcast is the benchmark n-gram set, which is small by
  construction (eval benchmarks are MBs; the corpus is the 100 TB side).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from autovalidate_backend_api_spark.functions.normalize import normalize_text_col


def _token_ngrams(tokens: Column, k: int) -> Column:
    """``array<string>`` of space-joined k-token shingles (empty when the
    doc has fewer than k tokens — Spark's ``sequence(1, n)`` counts DOWN
    for n < 1, so the short-doc case must be guarded, not clamped)."""
    n = F.size(tokens) - F.lit(k - 1)
    grams = F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.array_join(F.slice(tokens, i, k), " "),
    )
    return F.when(n >= 1, grams).otherwise(F.array().cast("array<string>"))


def curation_report(
    docs: DataFrame,
    *,
    span_k: int = 16,
    decon_k: int = 8,
    bench_mod: int = 97,
    dup_word_max: float = 0.5,
    top_bigram_max: float = 0.18,
    dup_span_max: float = 0.5,
    persist: bool = True,
) -> DataFrame:
    """One-scan curation verdict: every per-doc admission signal —
    Gopher repetition, corpus-duplicated-span fraction, benchmark
    decontamination, deterministic split — computed from a SINGLE
    tokenization of the corpus and joined into one row per doc with the
    final ``keep`` decision.

    At 100 TB you cannot afford one corpus scan per signal: normalize +
    split is the dominant map-side cost (measured: the signature stage
    dwarfs everything downstream in the dedup pipeline), so running the
    five operators separately pays it five times. Here the token table
    ``(doc_id, t, n_tokens, n_distinct)`` is computed once and persisted
    (MEMORY_AND_DISK — at cluster scale this is the natural stage to
    checkpoint), and every signal branches off it: the three shuffling
    branches (top-bigram agg, span-dup count, decontamination hits) each
    shuffle doc_id-keyed rows PROPORTIONAL TO THEIR SIGNAL (bigram
    counts, duplicated spans, contamination hits), never corpus-sized
    text; the split and dup-word fraction are pure projections of the
    persisted table.

    ``keep = not benchmark ∧ gopher-pass ∧ not contaminated ∧
    dup_span_frac ≤ dup_span_max``.

    Measured at sf0.1 (5k docs, local[16], hot JVM, min-of-2): fused
    1.0 s vs ~1.6 s for the four standalone operators run separately
    (post the two-step-projection fix that removed the per-gram
    re-tokenize; before it the standalone sum was 10.8 s). The fused
    advantage is the amortized normalize+tokenize+scan cost and grows
    with corpus size — signal-proportional shuffles are the small term
    at scale. Signal-by-signal equality with the standalone ops is
    pinned by ``test_curation_report_matches_standalone_ops``.

    Returns ``doc_id, n_tokens, dup_word_frac, top_bigram_frac,
    dup_span_frac, contaminated, is_benchmark, split, keep``.
    """
    toks = F.split(normalize_text_col(F.col("text")), " ")
    tok_tbl = docs.select(
        "doc_id",
        toks.alias("t"),
        F.size(toks).cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("bigint").alias("n_distinct"),
    )
    if persist:
        tok_tbl = tok_tbl.persist()

    # branch 1: top-bigram count (intra-doc repetition)
    top_bi = (
        tok_tbl.select("doc_id", F.explode(_token_ngrams(F.col("t"), 2)).alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_c"))
    )

    # branch 2: corpus-duplicated spans (md5 of non-overlapping chunks)
    n_full = F.floor(F.size(F.col("t")) / span_k).cast("int")
    span_arr = F.transform(
        F.sequence(F.lit(1), n_full),
        lambda i: F.md5(F.array_join(F.slice(F.col("t"), (i - 1) * span_k + 1, span_k), " ")),
    )
    spans = tok_tbl.select(
        "doc_id",
        F.when(n_full >= 1, span_arr).otherwise(F.array().cast("array<string>")).alias("spans"),
    )
    sd = spans.select("doc_id", F.explode("spans").alias("h")).dropDuplicates(["h", "doc_id"])
    dup_h = sd.groupBy("h").agg(F.count("*").alias("nd")).filter(F.col("nd") >= 2).select("h")
    dup_per_doc = sd.join(dup_h, "h").groupBy("doc_id").agg(F.count("*").alias("n_dup_spans"))
    n_spans_tbl = spans.select("doc_id", F.size("spans").cast("bigint").alias("n_spans"))

    # branch 3: decontamination (k-gram overlap vs the benchmark split)
    is_bench = F.col("doc_id") % bench_mod == 0
    grams = tok_tbl.select("doc_id", F.explode(_token_ngrams(F.col("t"), decon_k)).alias("g"))
    bench_grams = F.broadcast(grams.filter(is_bench).select("g").distinct())
    hits = (
        grams.filter(~is_bench)
        .join(bench_grams, "g")
        .dropDuplicates(["doc_id", "g"])
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hits"))
    )

    dup_frac = F.round(1 - F.col("n_distinct") / F.greatest(F.col("n_tokens"), F.lit(1)), 6)
    bi_frac = F.round(
        F.coalesce(F.col("top_c"), F.lit(0)) / F.greatest(F.col("n_tokens") - 1, F.lit(1)), 6
    )
    span_frac = F.round(
        F.coalesce(F.col("n_dup_spans"), F.lit(0)) / F.greatest(F.col("n_spans"), F.lit(1)), 6
    )
    contaminated = (F.coalesce(F.col("n_hits"), F.lit(0)) > 0).cast("int")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast("bigint")
        % 100
    )
    split = (
        F.when(bucket < 10, F.lit("test")).when(bucket < 20, F.lit("val")).otherwise(F.lit("train"))
    )
    keep = (
        (~is_bench)
        & (dup_frac <= dup_word_max)
        & (bi_frac <= top_bigram_max)
        & (contaminated == 0)
        & (span_frac <= dup_span_max)
    ).cast("int")
    return (
        tok_tbl.select("doc_id", "n_tokens", "n_distinct")
        .join(top_bi, "doc_id", "left")
        .join(n_spans_tbl, "doc_id", "left")
        .join(dup_per_doc, "doc_id", "left")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            dup_frac.alias("dup_word_frac"),
            bi_frac.alias("top_bigram_frac"),
            span_frac.alias("dup_span_frac"),
            contaminated.alias("contaminated"),
            is_bench.cast("int").alias("is_benchmark"),
            split.alias("split"),
            keep.alias("keep"),
        )
    )


_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_IPV4_RE = r"\b(?:\d{1,3}\.){3}\d{1,3}\b"


def pii_scrub(docs: DataFrame) -> DataFrame:
    """PII redaction pass: replace email addresses and IPv4 literals with
    fixed placeholder tokens (``<EMAIL>`` / ``<IP>``) and count the
    redactions — the standard pre-training scrub (C4 / RefinedWeb both
    strip PII-ish spans with exactly this regex-class approach, public).
    Patterns are RE2-compatible (no lookarounds) so the DuckDB oracle
    replays them verbatim.

    Returns ``doc_id, scrubbed, n_emails, n_ips``.

    100 TB plan: a pure per-row projection — four native regex
    expressions, zero shuffles, whole-stage codegen end to end; scales
    embarrassingly. Counting uses regexp-split length (occurrences =
    parts - 1), computed on the ORIGINAL text so overlapping placeholder
    rewrites can't miscount.
    """
    t = F.col("text")
    n_emails = (F.size(F.split(t, _EMAIL_RE, -1)) - 1).cast("bigint")
    n_ips = (F.size(F.split(t, _IPV4_RE, -1)) - 1).cast("bigint")
    scrubbed = F.regexp_replace(
        F.regexp_replace(t, _EMAIL_RE, "<EMAIL>"), _IPV4_RE, "<IP>"
    )
    return docs.select(
        "doc_id",
        scrubbed.alias("scrubbed"),
        n_emails.alias("n_emails"),
        n_ips.alias("n_ips"),
    )


def corpus_duplicate_spans(
    docs: DataFrame, *, k: int = 16, min_docs: int = 2
) -> DataFrame:
    """Corpus-level duplicated-span detection — RefinedWeb/CCNet-style
    "remove lines repeated across documents" (public), recast on
    non-overlapping ``k``-token chunks because this corpus has no line
    boundaries. A span is duplicated when it occurs in at least
    ``min_docs`` DISTINCT documents; per doc we report how much of it is
    made of corpus-duplicated material.

    Returns ``doc_id, n_spans, n_dup_spans, dup_span_frac`` (docs with
    fewer than k tokens have 0 spans and frac 0.0).

    100 TB plan: spans explode map-side into (md5(span), doc_id) — the
    16-byte hash, never the text, is what shuffles (32+ byte/token spans
    → 16-byte keys; the only corpus-sized exchange carries hashes).
    Distinct-doc counting is two map-side-combinable aggregations; the
    dup verdict joins back to the per-doc span list on the same hash key
    so AQE can reuse the partitioning. Hot spans (boilerplate headers
    appearing in millions of docs) are ALREADY collapsed to one row per
    (span, doc) before the count, so skew is bounded by docs-per-span
    post-distinct, and the final join is span-hash-keyed with
    count-filtered right side (only spans that ARE duplicated — output-
    proportional, not corpus-proportional).
    """
    exploded, sizes = span_occurrence_pairs(docs, k)
    dup = (
        exploded.groupBy("h")
        .agg(F.count("*").alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
        .select("h")
    )
    dup_per_doc = (
        exploded.join(dup, "h")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_dup_spans"))
    )
    return _span_report(sizes, dup_per_doc)


def span_occurrence_pairs(docs: DataFrame, k: int = 16):
    """Shared span extraction: ``(exploded, sizes)`` where ``exploded``
    is the doc-distinct ``(doc_id, h)`` span-occurrence table (md5 of
    each non-overlapping k-token chunk) and ``sizes`` is
    ``(doc_id, n_spans)``. ``exploded`` doubles as the durable STATE of
    the incremental variant — it contains no text, only 16-byte hashes.

    Tokenization goes through a materialized column attribute (a split
    expression captured inside the transform lambda re-evaluates once
    per span in interpreted HOF eval — measured ~15× on this shape).
    """
    tok_tbl = docs.select(
        "doc_id", F.split(normalize_text_col(F.col("text")), " ").alias("t")
    )
    t = F.col("t")
    n_full = F.floor(F.size(t) / k).cast("int")
    spans = F.transform(
        F.sequence(F.lit(1), n_full),
        lambda i: F.md5(F.array_join(F.slice(t, (i - 1) * k + 1, k), " ")),
    )
    per_doc = tok_tbl.select(
        "doc_id",
        F.when(n_full >= 1, spans)
        .otherwise(F.array().cast("array<string>"))
        .alias("spans"),
    )
    exploded = per_doc.select(
        "doc_id", F.explode("spans").alias("h")
    ).dropDuplicates(["h", "doc_id"])
    sizes = per_doc.select("doc_id", F.size("spans").cast("bigint").alias("n_spans"))
    return exploded, sizes


def _span_report(sizes: DataFrame, dup_per_doc: DataFrame) -> DataFrame:
    """(doc_id, n_spans) ⟕ (doc_id, n_dup_spans) → the report schema."""
    return sizes.join(dup_per_doc, "doc_id", "left").select(
        "doc_id",
        "n_spans",
        F.coalesce("n_dup_spans", F.lit(0)).cast("bigint").alias("n_dup_spans"),
        F.round(
            F.coalesce("n_dup_spans", F.lit(0))
            / F.greatest(F.col("n_spans"), F.lit(1)),
            6,
        ).alias("dup_span_frac"),
    )


def duplicate_spans_state(
    docs: DataFrame, k: int = 16, *, min_docs: int = 2, persist: bool = True
):
    """Build the incremental span-dedup state from scratch:
    ``(pairs, counts, report)`` — the doc-distinct ``(doc_id, h)`` span
    table, the per-hash distinct-doc counts ``(h, n_docs)``, and the
    current report. None of the three carries text.

    In production these three ARE durable checkpoint tables; building
    them in-session (the gate does) must persist them the same way —
    unpersisted lineage would re-explode the corpus once per downstream
    consumer (measured 5× on the gate). The report derives from the
    persisted pairs table, not a second tokenization.
    """
    pairs, sizes = span_occurrence_pairs(docs, k)
    if persist:
        pairs = pairs.persist()
    counts = pairs.groupBy("h").agg(F.count("*").alias("n_docs"))
    if persist:
        counts = counts.persist()
    dup = counts.filter(F.col("n_docs") >= min_docs).select("h")
    ndup = pairs.join(dup, "h").groupBy("doc_id").agg(
        F.count("*").alias("n_dup_spans")
    )
    report = _span_report(sizes, ndup)
    if persist:
        report = report.persist()
    return pairs, counts, report


def incremental_duplicate_spans(
    new_docs: DataFrame,
    state_pairs: DataFrame,
    state_counts: DataFrame,
    state_report: DataFrame,
    *,
    k: int = 16,
    min_docs: int = 2,
    broadcast_touched: bool = True,
    persist: bool = True,
):
    """Increment-proportional ``corpus_duplicate_spans``: fold a batch of
    new documents into an existing span-dedup state and return the
    full-corpus report plus the new state — certified identical to a
    from-scratch run over the union (gate + tests).

    State contract (from ``duplicate_spans_state``): ``state_pairs`` =
    doc-distinct ``(doc_id, h)``, ``state_counts`` = ``(h, n_docs)``,
    ``state_report`` = the current report. None carries text, so
    re-tokenizing old documents is impossible BY CONSTRUCTION — the only
    tokenize/explode in the plan is over ``new_docs``.

    The key proportionality argument: counts only ever GROW, so an old
    document's verdict changes iff one of its spans CROSSES the
    ``min_docs`` threshold — i.e. had ``1 ≤ n_docs < min_docs`` before
    and reaches it with the increment. A boilerplate span already
    duplicated across millions of docs is inert (its owners' counts
    already include it), so the update set is bounded by the number of
    CROSSING spans — at most the increment's distinct-span count, each
    with < min_docs old owners — never by the hot span's owner count.

    Plan shape (all old-side work is semi-join-pruned scans):
      1. explode the increment's spans; count them per hash,
      2. old counts of touched hashes (semi-join ``state_counts``,
         broadcast the increment-sized hash set when small — set
         ``broadcast_touched=False`` for huge increments),
      3. crossing spans → their old owners (semi-join ``state_pairs``)
         = the docs to recompute; their full span sets (second
         semi-join) and those spans' NEW totals decide their verdicts,
      4. new docs' verdicts come straight from the merged totals,
      5. every other ``state_report`` row carries over via anti-join.

    The folded ``counts`` state is a full-outer hash merge — the one
    corpus-sized (but 24-byte-row, hash-only) write per fold; at
    10^12-span scale run it LSM-style (append increment counts, compact
    periodically) exactly like the checkpointed signature tables.
    """
    new_pairs, new_sizes = span_occurrence_pairs(new_docs, k)
    if persist:
        new_pairs = new_pairs.persist()

    def _b(df):
        return F.broadcast(df) if broadcast_touched else df

    inc_counts = new_pairs.groupBy("h").agg(F.count("*").alias("inc_n"))
    old_touched_counts = state_counts.join(_b(inc_counts.select("h")), "h", "left_semi")
    merged = (
        inc_counts.join(old_touched_counts, "h", "left")
        .select(
            "h",
            F.coalesce("n_docs", F.lit(0)).alias("old_n"),
            (F.coalesce("n_docs", F.lit(0)) + F.col("inc_n")).alias("new_n"),
        )
    )
    crossing = merged.filter(
        (F.col("old_n") >= 1)
        & (F.col("old_n") < min_docs)
        & (F.col("new_n") >= min_docs)
    ).select("h")
    upd_docs = (
        state_pairs.join(_b(crossing), "h", "left_semi").select("doc_id").distinct()
    )
    upd_pairs = state_pairs.join(_b(upd_docs), "doc_id", "left_semi")
    # NEW totals for every span of an updated doc: old count + increment
    # count (0 for untouched spans) — restricted to the update set
    upd_h = upd_pairs.select("h").distinct()
    upd_totals = (
        state_counts.join(_b(upd_h), "h", "left_semi")
        .join(inc_counts, "h", "left")
        .select(
            "h", (F.col("n_docs") + F.coalesce("inc_n", F.lit(0))).alias("new_n")
        )
    )
    dup_for_upd = upd_totals.filter(F.col("new_n") >= min_docs).select("h")
    ndup_upd = upd_pairs.join(dup_for_upd, "h").groupBy("doc_id").agg(
        F.count("*").alias("n_dup_spans")
    )
    # new docs: verdicts straight from the merged totals
    dup_for_new = merged.filter(F.col("new_n") >= min_docs).select("h")
    ndup_new = new_pairs.join(_b(dup_for_new), "h").groupBy("doc_id").agg(
        F.count("*").alias("n_dup_spans")
    )
    recomputed_sizes = state_report.join(
        upd_docs, "doc_id", "left_semi"
    ).select("doc_id", "n_spans").unionByName(new_sizes)
    recomputed = _span_report(recomputed_sizes, ndup_upd.unionByName(ndup_new))
    carried = state_report.join(upd_docs, "doc_id", "left_anti")
    report = carried.unionByName(recomputed)

    new_state_pairs = state_pairs.unionByName(new_pairs)
    new_state_counts = (
        state_counts.join(inc_counts, "h", "full_outer")
        .select(
            "h",
            (
                F.coalesce("n_docs", F.lit(0)) + F.coalesce("inc_n", F.lit(0))
            ).alias("n_docs"),
        )
    )
    return report, new_state_pairs, new_state_counts


def remove_duplicate_spans(docs: DataFrame, *, k: int = 16) -> DataFrame:
    """Exact-substring span REMOVAL — the acting half of
    ``corpus_duplicate_spans``: every repeated ``k``-token chunk keeps its
    first occurrence (global (doc_id, chunk_idx) order) and is cut from
    every later one, then each doc's text is rebuilt from its surviving
    chunks plus the unchunked tail (ExactSubstr-style dedup, Lee et al.
    2021 "Deduplicating Training Data Makes Language Models Better",
    public, recast on fixed chunks so the keep rule is engine-exact).

    Returns ``doc_id, n_chunks, n_dropped, cleaned``.

    100 TB plan: the span-dedup machinery shuffles only
    ``(md5(chunk), doc_id, chunk_idx)`` rows — 16-byte hashes. The
    canonical occurrence per hash is a ``min(struct(doc_id, idx))``
    aggregation (map-side combinable, no window sort, so a boilerplate
    span occurring in millions of docs costs a combiner-reduced min,
    not a single-task rank). The drop verdict flows back as a per-doc
    int list (dup-doc-proportional), and reconstruction is a pure array
    projection — so text crosses AT MOST the one doc_id-keyed verdict
    back-join exchange (zero when the verdict side is small enough for
    AQE to broadcast), mirroring the flagship pipeline's one-content-
    exchange budget.
    """
    # Two-step projection: tokens become an attribute BEFORE the span
    # lambda captures them (expression capture re-runs the regex+split
    # per span in interpreted HOF eval — measured ~15× on this shape).
    tok_tbl = docs.select(
        "doc_id", F.split(normalize_text_col(F.col("text")), " ").alias("t")
    )
    t0 = F.col("t")
    n_full = F.floor(F.size(t0) / k).cast("int")
    spans = F.transform(
        F.sequence(F.lit(1), n_full),
        lambda i: F.md5(F.array_join(F.slice(t0, (i - 1) * k + 1, k), " ")),
    )
    base = tok_tbl.select(
        "doc_id",
        "t",
        n_full.alias("nf"),
        F.when(n_full >= 1, spans).otherwise(F.array().cast("array<string>")).alias("spans"),
    )
    occ = base.select(
        "doc_id", F.posexplode("spans").alias("pos", "h")
    ).select("doc_id", (F.col("pos") + 1).alias("j"), "h")
    canon = occ.groupBy("h").agg(F.min(F.struct("doc_id", "j")).alias("c"))
    dropped = (
        occ.join(canon, "h")
        .filter((F.col("doc_id") != F.col("c.doc_id")) | (F.col("j") != F.col("c.j")))
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("j")).alias("dj"))
    )
    dj = F.coalesce(F.col("dj"), F.array().cast("array<int>"))
    kept_idx = F.when(
        F.col("nf") >= 1,
        F.filter(
            F.sequence(F.lit(1), F.col("nf")),
            lambda j: ~F.array_contains(dj, j),
        ),
    ).otherwise(F.array().cast("array<int>"))
    kept_tok = F.flatten(
        F.transform(kept_idx, lambda j: F.slice(F.col("t"), (j - 1) * k + 1, k))
    )
    tail_len = F.size(F.col("t")) - F.col("nf") * k
    tail = F.when(
        tail_len > 0, F.slice(F.col("t"), F.col("nf") * k + 1, tail_len)
    ).otherwise(F.array().cast("array<string>"))
    return (
        base.join(dropped, "doc_id", "left")
        .select(
            "doc_id",
            F.col("nf").cast("bigint").alias("n_chunks"),
            F.size(dj).cast("bigint").alias("n_dropped"),
            F.array_join(F.concat(kept_tok, tail), " ").alias("cleaned"),
        )
    )


def stratified_sample(
    docs: DataFrame, *, frac: float = 0.1, strata=("lang",)
) -> DataFrame:
    """Exact deterministic stratified sample: within each stratum, rank
    docs by ``md5(doc_id)`` (an order-free, engine-independent shuffle of
    the stratum) and keep the first ``ceil(frac · stratum_size)`` — every
    stratum is represented at exactly the target rate (±1 doc), unlike
    Bernoulli hash-threshold sampling which only hits the rate in
    expectation and can miss small strata entirely.

    Returns the sampled ``doc_id, <strata...>, rk, stratum_n`` rows.

    100 TB plan: one window per stratum (rank by the md5 already
    computed) + one count — both partition by the stratum key, so
    parallelism = number of strata; fine for lang/source-style strata
    (dozens-thousands). A single giant stratum serializes its sort into
    one task — for frac ≪ 1 on such strata, switch to the hash-threshold
    variant (``md5 % M < frac·M``, a pure projection) and accept the
    binomial rate jitter; exactness and full parallelism are a genuine
    trade-off here, documented rather than hidden.
    """
    cols = list(strata)
    hk = F.md5(F.col("doc_id").cast("string"))
    w = Window.partitionBy(*cols).orderBy(hk.asc(), F.col("doc_id").asc())
    ranked = docs.select("doc_id", *cols).withColumn(
        "rk", F.row_number().over(w).cast("bigint")
    )
    counts = docs.groupBy(*cols).agg(F.count("*").alias("stratum_n"))
    return (
        ranked.join(F.broadcast(counts), cols)
        .filter(F.col("rk") <= F.ceil(F.col("stratum_n") * frac))
        .select("doc_id", *cols, "rk", "stratum_n")
    )


def decontaminate_ngram_overlap(
    docs: DataFrame,
    *,
    k: int = 8,
    bench_mod: int = 97,
    broadcast_bench: bool = True,
) -> DataFrame:
    """Benchmark decontamination: exact k-token n-gram overlap.

    The standard LLM-corpus decontamination rule (GPT-3 appendix C /
    The Pile §6.3, public): a training document is contaminated if it
    shares any k-token n-gram with any document of the held-out
    benchmark set. Here the benchmark split is deterministic —
    ``doc_id % bench_mod == 0`` — so the whole operator is
    SQL-reproducible; in production the benchmark set is an external
    (tiny) table and everything else is unchanged.

    Returns one row per NON-benchmark doc: ``doc_id``, ``n_hits``
    (distinct contaminating n-grams), ``contaminated`` (0/1).

    100 TB plan: the benchmark n-gram set is deduped and broadcast
    (benchmarks are MBs against a 100 TB corpus — the asymmetry is the
    whole point of the operator). The corpus side explodes its n-grams
    map-side and inner-joins the broadcast FIRST, so only matching
    (doc, gram) rows — proportional to contamination, not to the corpus
    — reach the dedup+count shuffle. No corpus-sized shuffle exists in
    the plan. With ``broadcast_bench=False`` the same plan runs as a
    shuffle join for benchmark sets too large to broadcast.
    """
    # Two-step projection (see remove_duplicate_spans): tokenize into an
    # attribute so the regex+split chain runs once per row, not once per
    # exploded n-gram inside the interpreted transform lambda.
    tok_tbl = docs.select(
        "doc_id", F.split(normalize_text_col(F.col("text")), " ").alias("t")
    )
    grams = tok_tbl.select(
        "doc_id", F.explode(_token_ngrams(F.col("t"), k)).alias("g")
    )
    is_bench = F.col("doc_id") % bench_mod == 0
    bench = grams.filter(is_bench).select("g").distinct()
    if broadcast_bench:
        bench = F.broadcast(bench)
    hits = (
        grams.filter(~is_bench)
        .join(bench, "g")  # broadcast hash join: corpus rows never shuffle
        .select("doc_id", "g")
        .dropDuplicates(["doc_id", "g"])  # hit-proportional shuffle
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hits"))
    )
    return (
        docs.filter(~is_bench)
        .select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_hits", F.lit(0)).cast("bigint").alias("n_hits"),
            (F.coalesce("n_hits", F.lit(0)) > 0).cast("int").alias("contaminated"),
        )
    )


def train_val_test_split(
    docs: DataFrame, *, val_pct: int = 10, test_pct: int = 10
) -> DataFrame:
    """Deterministic hash-based train/val/test assignment.

    ``bucket = int(md5(doc_id)[:8], 16) % 100`` — a pure projection
    (zero shuffles, trivially parallel at any scale), stable across
    runs/engines (md5 of the decimal string is engine-independent,
    unlike xxhash64/DuckDB ``hash()``), and independent of corpus order
    — re-sharding or appending data never reassigns an existing doc,
    which is the property that keeps eval sets frozen across corpus
    versions. Stratification is implicit: within any stratum (lang,
    source, ...) the md5 buckets are uniform, so per-stratum rates hold
    in expectation without a per-stratum pass.
    """
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % 100
    )
    return docs.select(
        "doc_id",
        "lang",
        bucket.alias("bucket"),
        F.when(bucket < test_pct, F.lit("test"))
        .when(bucket < test_pct + val_pct, F.lit("val"))
        .otherwise(F.lit("train"))
        .alias("split"),
    )


def gopher_repetition_flags(
    docs: DataFrame,
    *,
    dup_word_max: float = 0.5,
    top_bigram_max: float = 0.18,
) -> DataFrame:
    """Gopher-style repetition quality signals (Rae et al. 2021 §A1.1,
    public): fraction of duplicated words and the fraction of the doc
    occupied by its single most frequent word bigram. A doc is kept when
    both are at or under threshold (0.18 is the published top-2-gram
    bound).

    Returns ``doc_id, n_tokens, dup_word_frac, top_bigram_frac, keep``.

    100 TB plan: the duplicate-word fraction is a pure projection
    (array_distinct inside the row). The top-bigram count is the only
    shuffle: explode bigrams → two-level count/max aggregation, both
    levels map-side combinable and keyed by doc_id — partition-local
    after the first hash exchange, no skew beyond document length
    (bounded by upstream length filters). Docs with <2 tokens produce
    no bigram rows and rejoin via left join with a 0 count.
    """
    toks = F.split(normalize_text_col(F.col("text")), " ")
    base = docs.select(
        "doc_id",
        toks.alias("t"),
        F.size(toks).cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("bigint").alias("n_distinct"),
    )
    top_bi = (
        base.select("doc_id", F.explode(_token_ngrams(F.col("t"), 2)).alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_c"))
    )
    dup_frac = F.round(1 - F.col("n_distinct") / F.col("n_tokens"), 6)
    bi_frac = F.round(
        F.coalesce(F.col("top_c"), F.lit(0))
        / F.greatest(F.col("n_tokens") - 1, F.lit(1)),
        6,
    )
    return (
        base.join(top_bi, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            dup_frac.alias("dup_word_frac"),
            bi_frac.alias("top_bigram_frac"),
            ((dup_frac <= dup_word_max) & (bi_frac <= top_bigram_max))
            .cast("int")
            .alias("keep"),
        )
    )


def domain_mixture_weights(docs: DataFrame) -> DataFrame:
    """Per-(lang, source) token inventory + uniform-target resampling
    weights — the domain-mixing table a trainer consumes (DoReMi /
    The Pile-style mixing, public; here the target is uniform across
    domains, the degenerate-but-deterministic baseline).

    ``weight = (1/n_domains) / token_share``: >1 means upsample.

    100 TB plan: one map-side-combinable groupBy over the corpus down to
    |domains| rows (dozens), then the share/weight normalization runs as
    a window over that TINY aggregate — the empty-partition window is
    deliberate and safe because its input is post-aggregation, never
    corpus-sized.
    """
    norm = normalize_text_col(F.col("text"))
    per_domain = (
        docs.select(
            "lang", "source", F.size(F.split(norm, " ")).cast("bigint").alias("n_tok")
        )
        .groupBy("lang", "source")
        .agg(F.count("*").alias("n_docs"), F.sum("n_tok").alias("n_tokens"))
    )
    w = Window.partitionBy()
    share = F.col("n_tokens") / F.sum("n_tokens").over(w)
    n_domains = F.count("*").over(w)
    return per_domain.select(
        "lang",
        "source",
        "n_docs",
        "n_tokens",
        F.round(share, 6).alias("token_share"),
        F.round((1 / n_domains) / share, 6).alias("weight"),
    )


def pack_sequences(docs: DataFrame, *, seq_len: int = 256) -> DataFrame:
    """Concat-and-chunk sequence packing: lay documents end-to-end in
    deterministic (source, doc_id) order and cut fixed ``seq_len``-token
    trainer chunks; each doc reports the chunk its first token lands in
    and its offset — the standard pre-tokenized-corpus layout (GPT-2/
    T5 "pack then split", public).

    Returns ``doc_id, source, n_tokens, start_offset, chunk_id`` where
    ``start_offset`` is the doc's first-token position within its
    source's stream and ``chunk_id = floor(start_offset / seq_len)``.

    100 TB plan: packing is sharded by ``source`` — the running sum is a
    window per source partition, so shards pack in parallel and no
    global single-partition sort exists. A global pack order would be a
    driver bottleneck by definition; per-shard streams are what real
    pipelines feed per-worker data loaders anyway. Skewed sources bound
    the parallelism; sub-shard by (source, hash(doc_id) % n) when one
    source dominates.
    """
    norm = normalize_text_col(F.col("text"))
    sized = docs.select(
        "doc_id", "source", F.size(F.split(norm, " ")).cast("bigint").alias("n_tokens")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = sized.withColumn(
        "start_offset", F.sum("n_tokens").over(w) - F.col("n_tokens")
    )
    return packed.select(
        "doc_id",
        "source",
        "n_tokens",
        "start_offset",
        F.floor(F.col("start_offset") / seq_len).cast("bigint").alias("chunk_id"),
    )


def c4_line_filter(
    docs: DataFrame,
    *,
    min_words_per_line: int = 3,
    min_kept_lines: int = 3,
) -> DataFrame:
    """C4-style line-level quality filtering (Raffel et al. 2020 §2.2,
    public): keep only lines that end in a terminal punctuation mark and
    carry at least ``min_words_per_line`` words; drop whole documents
    that retain fewer than ``min_kept_lines`` lines, contain the
    boilerplate marker "lorem ipsum", or contain a curly brace (C4's
    code-page heuristic). The reference applies the same shape of
    pre-admission gating to user text before its expensive stages
    (/root/reference/app/api/core/search.py:100-130); C4 runs it
    per-line over a crawl.

    Returns ``doc_id, n_lines, n_kept, has_lorem, has_brace, keep,
    kept_text`` where ``kept_text`` is the surviving lines re-joined
    with a newline (empty string when nothing survives).

    100 TB plan: a PURE PROJECTION — line split, per-line predicate,
    and reconstruction all happen inside the row with zero shuffles and
    zero UDFs; throughput is scan-bound and trivially parallel at any
    executor count. The line array is projected into a column attribute
    BEFORE the higher-order filter so the split is evaluated once per
    row, not once per line (HOF lambdas are interpreted with no CSE —
    the round-5 plan pathology documented in CLAUDE.md).
    """
    with_lines = docs.select(
        "doc_id",
        F.split(F.col("text"), "\n").alias("ls"),
        (F.instr(F.lower(F.col("text")), "lorem ipsum") > 0).alias("lor"),
        (F.instr(F.col("text"), "{") > 0).alias("br"),
    )

    def _line_ok(l: Column) -> Column:
        t = F.trim(l)
        words = F.filter(F.split(t, " "), lambda w: w != "")
        return F.substring(t, -1, 1).isin(".", "!", "?", '"') & (
            F.size(words) >= min_words_per_line
        )

    kept = with_lines.select(
        "doc_id",
        F.size("ls").alias("n_lines"),
        F.filter("ls", _line_ok).alias("kept"),
        "lor",
        "br",
    )
    keep = (
        (F.size("kept") >= min_kept_lines) & ~F.col("lor") & ~F.col("br")
    )
    return kept.select(
        "doc_id",
        "n_lines",
        F.size("kept").alias("n_kept"),
        F.col("lor").cast("int").alias("has_lorem"),
        F.col("br").cast("int").alias("has_brace"),
        keep.cast("int").alias("keep"),
        F.array_join("kept", "\n").alias("kept_text"),
    )


def dedup_lines(docs: DataFrame) -> DataFrame:
    """Within-document duplicate-line removal, first occurrence wins —
    the standard boilerplate-collapse pass (repeated nav/footer lines)
    a crawl pipeline runs BEFORE corpus-level span dedup
    (corpus_duplicate_spans handles the cross-document case).

    Returns ``doc_id, n_lines, n_kept, n_removed, text_deduped``.

    100 TB plan: a PURE PROJECTION — the first-occurrence test is an
    indexed higher-order filter (``array_position(ls, line) == i+1``)
    entirely inside the row: zero shuffles, zero UDFs, no state. The
    cost is O(lines²) per document worst-case (array_position scans the
    attribute array), bounded in practice by upstream max-document
    length gates; a pathological million-line doc should be length-
    capped long before this pass, as every real pipeline does. The line
    array is projected to a column attribute first so ``split`` is not
    re-evaluated per element (HOF-capture pathology, CLAUDE.md).
    """
    with_lines = docs.select("doc_id", F.split(F.col("text"), "\n").alias("ls"))
    kept = with_lines.select(
        "doc_id",
        F.size("ls").alias("n_lines"),
        F.filter(
            "ls", lambda l, i: F.array_position(F.col("ls"), l) == i + 1
        ).alias("kept"),
    )
    return kept.select(
        "doc_id",
        "n_lines",
        F.size("kept").alias("n_kept"),
        (F.col("n_lines") - F.size("kept")).alias("n_removed"),
        F.array_join("kept", "\n").alias("text_deduped"),
    )


def dsir_importance_flags(
    docs: DataFrame, target: Column, *, n_buckets: int = 1024
) -> DataFrame:
    """DSIR-style hashed n-gram importance filtering (Xie et al. 2023,
    "Data Selection for Language Models via Importance Resampling",
    arXiv:2302.03169, public): score every document by how much more
    likely its hashed-unigram profile is under the TARGET distribution
    (the curated subset you want more of) than under the RAW corpus
    distribution, and keep docs at or above parity. This is the exact-
    arithmetic variant: instead of the paper's log-likelihood ratio
    (whose float sum is not engine-reproducible), the keep decision
    cross-multiplies integer count sums — ``keep ⇔ s_t·(Nr+K) ≥
    s_r·(Nt+K)`` with add-one smoothing ``s_t = Σ_g ct[b(g)] + n_tok``
    — so the DuckDB oracle reproduces it bit-for-bit.

    ``b(g) = int(md5(g)[:8], 16) % n_buckets`` — the same engine-
    independent hash the deterministic split uses.

    Returns ``doc_id, n_tokens, target_hits, raw_hits, score, keep``
    (``score`` is the smoothed ratio rounded to 6 places; products stay
    exactly representable in doubles at gate scale).

    100 TB plan: one corpus tokenization → per-(doc, bucket) counts (a
    map-side-combinable groupBy keyed by doc_id, so the exchange is
    doc-partitioned and skew-free) → the K-row global bucket table is
    BROADCAST back (K = 1024 rows regardless of corpus size; the
    target-side counts come from the curated subset, which is the small
    side by definition) → one more doc-keyed sum. Nothing corpus-sized
    crosses more than the one (doc, bucket) exchange; totals Nt/Nr are
    windows over the K-row aggregate, never a corpus scan. At 10^12
    docs the bucket table is still 1024 rows — the only state that
    matters is per-executor.

    Overflow note: the cross-multiplication is bigint; at gate scale
    the products are ≤ ~1e13. At true 100 TB scale (Nr ~ 1e14 raw
    tokens) compare ``s_t/(Nt+K)`` to ``s_r/(Nr+K)`` in doubles instead
    — the oracle profile keeps the integer form because the gate corpus
    bounds it.
    """
    toks = F.split(normalize_text_col(F.col("text")), " ")
    base = docs.select(
        "doc_id",
        target.cast("int").alias("is_target"),
        toks.alias("t"),
        F.size(toks).cast("bigint").alias("n_tokens"),
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("g")), 1, 8), 16, 10).cast("bigint")
        % n_buckets
    )
    db = (
        base.select("doc_id", "is_target", F.explode("t").alias("g"))
        .select("doc_id", "is_target", bucket.alias("b"))
        .groupBy("doc_id", "is_target", "b")
        .agg(F.count("*").alias("c"))
    )
    bk = db.groupBy("b").agg(
        F.sum(F.when(F.col("is_target") == 1, F.col("c")).otherwise(0)).alias("ct"),
        F.sum("c").alias("cr"),
    )
    w = Window.partitionBy()
    bkx = bk.select(
        "b",
        "ct",
        "cr",
        F.sum("ct").over(w).alias("nt"),
        F.sum("cr").over(w).alias("nr"),
    )
    per_doc = (
        db.join(F.broadcast(bkx), "b")
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("c") * F.col("ct")).alias("target_hits"),
            F.sum(F.col("c") * F.col("cr")).alias("raw_hits"),
            F.max("nt").alias("nt"),
            F.max("nr").alias("nr"),
        )
    )
    s_t = F.col("target_hits") + F.col("n_tokens")
    s_r = F.col("raw_hits") + F.col("n_tokens")
    lhs = s_t * (F.col("nr") + n_buckets)
    rhs = s_r * (F.col("nt") + n_buckets)
    return (
        base.select("doc_id", "n_tokens")
        .join(per_doc, "doc_id")
        .select(
            "doc_id",
            "n_tokens",
            "target_hits",
            "raw_hits",
            F.round(lhs.cast("double") / rhs.cast("double"), 6).alias("score"),
            (lhs >= rhs).cast("int").alias("keep"),
        )
    )


def cross_source_dup_matrix(docs: DataFrame) -> DataFrame:
    """Cross-source exact-duplication matrix: for every unordered pair
    of sources (repos, crawls, dumps), how many identical documents they
    share — the report that surfaces mirrored repos / license-laundered
    copies / double-ingested dumps before near-dup stages run (the
    BASELINE scenario's "source-code repositories at 10^12-file scale"
    makes this the first question an operator asks of a new ingest).

    Returns ``source_a, source_b, n_groups, n_pairs`` (source_a <
    source_b; ``n_groups`` = distinct shared texts, ``n_pairs`` =
    doc-level duplicate pairs, counted COMBINATORIALLY as c_a·c_b).

    100 TB plan: doc-level pair expansion is never materialized — the
    corpus aggregates to per-(hash, source) counts first (map-side
    combinable, one exchange keyed by content hash), and the self-join
    expands only source-pairs-per-hash, bounded by |sources|² per group
    no matter how many million empty-__init__.py copies a group holds.
    The giant-identical-group problem that forces caps in doc-level
    designs simply doesn't exist here: a hash shared by every source
    contributes |sources|² rows, not docs².
    """
    sc = (
        docs.select(F.md5("text").alias("h"), "source")
        .groupBy("h", "source")
        .agg(F.count("*").alias("c"))
    )
    a, b = sc.alias("a"), sc.alias("b")
    px = a.join(
        b,
        (F.col("a.h") == F.col("b.h")) & (F.col("a.source") < F.col("b.source")),
    )
    return (
        px.select(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
            (F.col("a.c") * F.col("b.c")).alias("np"),
        )
        .groupBy("source_a", "source_b")
        .agg(
            F.count("*").cast("bigint").alias("n_groups"),
            F.sum("np").cast("bigint").alias("n_pairs"),
        )
    )


# fixed, ordered mojibake repair table (UTF-8 read as Latin-1/cp1252 —
# the artifacts ftfy fixes most often; all 2-char patterns, mutually
# non-overlapping, applied in this order on both engines)
MOJIBAKE_FIXES: tuple[tuple[str, str], ...] = (
    ("Ã©", "é"),  # Ã© -> é
    ("Ã¨", "è"),  # Ã¨ -> è
    ("Ã¼", "ü"),  # Ã¼ -> ü
    ("Ã¶", "ö"),  # Ã¶ -> ö
    ("Ã¤", "ä"),  # Ã¤ -> ä
    ("Ã±", "ñ"),  # Ã± -> ñ
    ("Ã¡", "á"),  # Ã¡ -> á
)


def fix_mojibake(docs: DataFrame) -> DataFrame:
    """ftfy-lite encoding repair: undo the most common UTF-8-decoded-as-
    Latin-1 artifacts with a fixed, ordered replace chain (CCNet/C4 both
    run a full ftfy pass; the chain here is the deterministic subset an
    exact SQL oracle can reproduce — the real library is unavailable in
    this sandbox and its long tail is behaviorally fuzzy anyway).

    Returns ``doc_id, n_fixes, fixed_text`` where ``n_fixes`` counts
    replaced occurrences across all patterns (computed per pattern
    before its replacement, sequentially, exactly as the chain applies).

    100 TB plan: a pure projection — a constant-size replace chain and
    char-length arithmetic inside the row; zero shuffles, zero UDFs.
    """
    out_text = F.col("text")
    n_fixes = F.lit(0).cast("bigint")
    for bad, good in MOJIBAKE_FIXES:
        n_fixes = n_fixes + (
            (F.length(out_text) - F.length(F.replace(out_text, F.lit(bad), F.lit(""))))
            / F.lit(len(bad))
        ).cast("bigint")
        out_text = F.replace(out_text, F.lit(bad), F.lit(good))
    return docs.select(
        "doc_id", n_fixes.alias("n_fixes"), out_text.alias("fixed_text")
    )


def oov_rate(docs: DataFrame, *, vocab_k: int = 100) -> DataFrame:
    """Tokenizer-coverage report: build the corpus top-``vocab_k`` term
    vocabulary (count desc, term asc — fully deterministic) and score
    every document by the fraction of its token INSTANCES falling
    outside it — the out-of-vocabulary rate a tokenizer team tracks per
    corpus slice before committing a vocab.

    Returns ``doc_id, n_tokens, n_oov, oov_rate`` (rate rounded to 6).

    100 TB plan: one corpus tokenization → global term counts (map-side
    combinable; the term-count table is vocabulary-sized, not corpus-
    sized) → the top-k is ``orderBy().limit(k)``, which Spark plans as
    TakeOrderedAndProject (per-partition top-k merged on the driver —
    never a single-partition global sort, even over a billion-term
    vocabulary) → the K-row vocab BROADCASTS back onto a second
    doc-keyed count. Same two-exchange shape as dsir_importance_flags;
    nothing corpus-sized is shuffled more than once per aggregation.
    """
    toks = F.split(normalize_text_col(F.col("text")), " ")
    base = docs.select("doc_id", toks.alias("t"))
    tok = base.select("doc_id", F.explode("t").alias("term"))
    counts = tok.groupBy("term").agg(F.count("*").alias("c"))
    vocab = (
        counts.orderBy(F.col("c").desc(), F.col("term").asc())
        .limit(vocab_k)
        .select("term")
    )
    flagged = tok.join(
        F.broadcast(vocab.withColumn("in_vocab", F.lit(1))), "term", "left"
    )
    per_doc = flagged.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_tokens"),
        F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_oov"),
    )
    return per_doc.select(
        "doc_id",
        "n_tokens",
        "n_oov",
        F.round(F.col("n_oov") / F.col("n_tokens"), 6).alias("oov_rate"),
    )


def stack_code_filters(
    docs: DataFrame,
    *,
    max_line_len: int = 1000,
    max_avg_line_len: int = 100,
) -> DataFrame:
    """The-Stack/StarCoder-style code-file quality filters (Kocetkov et
    al. 2022, arXiv:2211.15533 §2; Allal et al. 2023, arXiv:2301.03988
    — both public): drop files with a line longer than ``max_line_len``
    chars, an average line length above ``max_avg_line_len``, an
    alphanumeric character fraction below 0.25, or an "auto-generated"
    marker anywhere in the file. This is the pre-admission gate a
    source-code corpus (the north-rule's payload) runs before any dedup
    stage — the code-payload sibling of c4_line_filter's prose gate.

    All four decisions are exact-integer: the alnum test is
    ``4·n_alnum ≥ n_chars`` (never a float compare), the average-line
    test is ``sum_len ≤ max_avg·n_lines`` with
    ``sum_len = n_chars − (n_lines − 1)`` (total chars minus newlines —
    an identity, not a second aggregation). The reported ``avg_line_len``
    / ``alnum_frac`` doubles are display-only roundings of those exact
    integers.

    Returns ``doc_id, n_lines, max_line_len, avg_line_len, alnum_frac,
    flag_long_line, flag_avg_line, flag_low_alnum, flag_autogen, keep``.

    100 TB plan: a PURE PROJECTION — line split, per-line length
    transform, and all four predicates run inside the row; zero
    shuffles, zero UDFs, scan-bound at any executor count. The line
    array is projected into a column attribute before the higher-order
    transform (HOF-capture pathology, CLAUDE.md).
    """
    with_lines = docs.select(
        "doc_id",
        F.split(F.col("text"), "\n").alias("ls"),
        F.length("text").cast("bigint").alias("n_chars"),
        F.length(F.regexp_replace(F.col("text"), "[^A-Za-z0-9]", ""))
        .cast("bigint")
        .alias("n_alnum"),
        (F.instr(F.lower(F.col("text")), "auto-generated") > 0).alias("ag"),
    )
    stats = with_lines.select(
        "doc_id",
        F.size("ls").cast("bigint").alias("n_lines"),
        F.array_max(F.transform("ls", lambda l: F.length(l)))
        .cast("bigint")
        .alias("max_line_len"),
        (F.col("n_chars") - F.size("ls") + 1).alias("sum_len"),
        "n_chars",
        "n_alnum",
        "ag",
    )
    keep = (
        (F.col("max_line_len") <= max_line_len)
        & (F.col("sum_len") <= max_avg_line_len * F.col("n_lines"))
        & (4 * F.col("n_alnum") >= F.col("n_chars"))
        & ~F.col("ag")
    )
    return stats.select(
        "doc_id",
        "n_lines",
        "max_line_len",
        F.round(F.col("sum_len") / F.col("n_lines"), 6).alias("avg_line_len"),
        F.round(F.col("n_alnum") / F.greatest(F.col("n_chars"), F.lit(1)), 6).alias(
            "alnum_frac"
        ),
        (F.col("max_line_len") > max_line_len).cast("int").alias("flag_long_line"),
        (F.col("sum_len") > max_avg_line_len * F.col("n_lines"))
        .cast("int")
        .alias("flag_avg_line"),
        (4 * F.col("n_alnum") < F.col("n_chars")).cast("int").alias("flag_low_alnum"),
        F.col("ag").cast("int").alias("flag_autogen"),
        keep.cast("int").alias("keep"),
    )


# SPDX detection chain: FIRST match in this order wins (a file carrying
# both an MIT and an Apache marker is reported MIT). The chain order IS
# the contract — the gate oracle is GENERATED from this table, exactly
# like MOJIBAKE_FIXES.
LICENSE_MARKERS: tuple[tuple[str, str], ...] = (
    ("mit license", "MIT"),
    ("apache license", "Apache-2.0"),
    ("gnu general public license", "GPL-3.0"),
    ("mozilla public license", "MPL-2.0"),
    ("bsd 3-clause", "BSD-3-Clause"),
)


def license_detect(docs: DataFrame) -> DataFrame:
    """SPDX-style license detection over source files — the standard
    permissive-license admission gate a code corpus runs (The Stack
    keeps only permissively-licensed files, arXiv:2211.15533 §2.2).
    Case-insensitive marker scan; first marker in ``LICENSE_MARKERS``
    chain order wins; files with no marker report ``'unknown'``.

    Returns ``doc_id, license, has_license``.

    100 TB plan: a pure projection — a constant-size case-insensitive
    contains chain inside the row; zero shuffles, zero UDFs. At real
    scale the marker table grows to the full SPDX corpus but stays a
    compile-time constant; detection cost is scan-bound either way.
    """
    low = F.lower(F.col("text"))
    chain = None
    for marker, spdx in LICENSE_MARKERS:
        cond = F.instr(low, marker) > 0
        chain = F.when(cond, spdx) if chain is None else chain.when(cond, spdx)
    lic = chain.otherwise("unknown")
    return docs.select(
        "doc_id",
        lic.alias("license"),
        (lic != "unknown").cast("int").alias("has_license"),
    )


def strip_comments_dedup_groups(docs: DataFrame) -> DataFrame:
    """Comment-insensitive exact dedup over source files: strip
    whole-line comments (``//``, ``#``, ``--`` after leading
    whitespace), blank lines, and per-line trailing whitespace, then
    group files by the md5 of the surviving text — so a fork that only
    re-headers a file (license banner, generated-by note, trailing-
    whitespace churn) lands in the same group as the original. This is
    Stage A's sha-equality invariant relaxed to the code-payload
    normal form; big code-dedup runs (The Stack v2, arXiv:2402.19173)
    dedup on exactly this kind of comment/whitespace-insensitive key.

    Returns ``doc_id, group_size, canonical_id, n_comment_lines,
    is_dup`` (canonical = min doc_id in group; ``is_dup`` marks every
    non-canonical member of a ≥2 group).

    100 TB plan: the strip + hash is a pure projection; the ONLY
    exchange carries ``(doc_id, h, n_comment_lines)`` rows — content
    never shuffles (the same content-crosses-one-exchange rule as
    Stage A, which here is zero since content stays put). Group stats
    come from one window over the hash partition. Giant identical
    groups are a count per hash, never a pair expansion.
    """
    with_lines = docs.select("doc_id", F.split(F.col("text"), "\n").alias("ls"))

    def _is_code(l: Column) -> Column:
        t = F.trim(l)
        return ~(
            (t == "")
            | t.startswith("//")
            | t.startswith("#")
            | t.startswith("--")
        )

    stripped = with_lines.select(
        "doc_id",
        (F.size("ls") - F.size(F.filter("ls", _is_code)))
        .cast("bigint")
        .alias("n_comment_lines"),
        F.md5(
            F.array_join(
                F.transform(F.filter("ls", _is_code), lambda l: F.rtrim(l)), "\n"
            )
        ).alias("h"),
    )
    w = Window.partitionBy("h")
    grouped = stripped.select(
        "doc_id",
        F.count("*").over(w).cast("bigint").alias("group_size"),
        F.min("doc_id").over(w).alias("canonical_id"),
        "n_comment_lines",
    )
    return grouped.select(
        "doc_id",
        "group_size",
        "canonical_id",
        "n_comment_lines",
        ((F.col("group_size") >= 2) & (F.col("doc_id") != F.col("canonical_id")))
        .cast("int")
        .alias("is_dup"),
    )


def rare_bigram_flags(docs: DataFrame, *, k: int = 64) -> DataFrame:
    """LM-perplexity-style quality filter (CCNet, Wenzek et al. 2020,
    arXiv:1911.00359, public — which scores docs under a KenLM model
    and drops the high-perplexity tail) in an exact-arithmetic variant:
    train an add-one-smoothed bigram model ON the corpus itself, call a
    bigram occurrence "rare" when its smoothed conditional probability
    is below ``1/k`` — ``(c(ab)+1)·k < c(a·)+V``, an exact integer
    compare (the float log-prob sum of true perplexity is not engine-
    reproducible; this is the same exactness trade dsir_importance_flags
    makes) — and keep a doc while rare occurrences are ≤ 25% of its
    bigrams (``4·n_rare ≤ n_bigrams``). ``c(a·)`` is the bigram-prefix
    count and ``V`` the observed continuation vocabulary, both derived
    from the one bigram-count table.

    Returns ``doc_id, n_bigrams, n_rare, rare_rate, keep`` (docs with
    fewer than 2 tokens have no bigrams and no row — same on both
    engines).

    100 TB plan: one tokenization → per-(doc, bigram) counts (doc-keyed
    exchange, map-side combinable) → global bigram counts (bigram-keyed
    exchange over a vocabulary²-bounded table, NOT corpus-sized rows) →
    prefix counts and V are aggregations OVER that table (tiny) and
    broadcast/cross-joined back; the flag join hits the doc-bigram
    table on the same bigram key the count exchange used. Zipf skew in
    the count join is AQE's bread and butter; nothing corpus-sized
    crosses more than the two keyed exchanges.
    """
    toks = F.split(normalize_text_col(F.col("text")), " ")
    base = docs.select("doc_id", toks.alias("t"))
    n = F.size("t")
    pairs = F.zip_with(
        F.slice(F.col("t"), 1, F.greatest(n - 1, F.lit(0))),
        F.slice(F.col("t"), 2, F.greatest(n - 1, F.lit(0))),
        lambda a, b: F.struct(a.alias("a"), b.alias("b")),
    )
    bg = base.select("doc_id", F.explode(pairs).alias("p")).select(
        "doc_id", F.col("p.a").alias("a"), F.col("p.b").alias("b")
    )
    db = bg.groupBy("doc_id", "a", "b").agg(F.count("*").cast("bigint").alias("dc"))
    gc = db.groupBy("a", "b").agg(F.sum("dc").alias("c"))
    # V (continuation vocabulary) as an unpartitioned window over the
    # vocab²-bounded count table — NOT a 1-row crossJoin, which plans as
    # the banned BroadcastNestedLoopJoin (same rule as corpus_summary;
    # the single-partition window is over the small aggregate, never the
    # corpus — the dsir_importance_flags pattern)
    wall = Window.partitionBy()
    gcv = gc.withColumn("v", F.size(F.collect_set("b").over(wall)).cast("bigint"))
    pc = gc.groupBy("a").agg(F.sum("c").alias("ca"))
    flagged = (
        db.join(gcv, ["a", "b"])
        .join(F.broadcast(pc), "a")
        .select(
            "doc_id",
            "dc",
            ((F.col("c") + 1) * k < F.col("ca") + F.col("v"))
            .cast("int")
            .alias("rare"),
        )
    )
    agg = flagged.groupBy("doc_id").agg(
        F.sum("dc").cast("bigint").alias("n_bigrams"),
        F.sum(F.col("dc") * F.col("rare")).cast("bigint").alias("n_rare"),
    )
    return agg.select(
        "doc_id",
        "n_bigrams",
        "n_rare",
        F.round(F.col("n_rare") / F.col("n_bigrams"), 6).alias("rare_rate"),
        (4 * F.col("n_rare") <= F.col("n_bigrams")).cast("int").alias("keep"),
    )


def repo_fingerprint_groups(docs: DataFrame) -> DataFrame:
    """Repo-level exact dedup via an order-insensitive content
    fingerprint: each repo (the ``source`` column — the north-rule
    input's ``repo``) is fingerprinted as the md5 of its SORTED file-
    content md5s, so two repos with identical file SETS collide no
    matter how their files are ordered or keyed — the mirror/re-upload
    case every code-corpus pipeline deduplicates FIRST, before any
    file-level stage runs (The Stack dedups forks/mirrors at repo
    granularity before file near-dup, arXiv:2211.15533 §2.1).

    Returns one row per repo: ``source, n_files, fingerprint,
    group_size, canonical_source, is_dup`` (canonical = min source
    name; ``is_dup`` marks non-canonical members of ≥2 groups).

    100 TB plan: file content is hashed IN PLACE (projection); the
    repo-keyed exchange carries 16-byte ``(source, h)`` rows, never
    content. The per-repo sorted-concat is bounded by repo size (a
    10^6-file repo concatenates ~32 MB inside one task — acceptable;
    beyond that, fold pairwise like a Merkle tree). The second window
    exchange is one row per repo. Giant mirror groups are counts per
    fingerprint, never pair expansions.
    """
    fh = docs.select("source", F.md5(F.col("text")).alias("h"))
    fp = fh.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_files"),
        F.md5(F.concat_ws("", F.array_sort(F.collect_list("h")))).alias(
            "fingerprint"
        ),
    )
    w = Window.partitionBy("fingerprint")
    return fp.select(
        "source",
        "n_files",
        "fingerprint",
        F.count("*").over(w).cast("bigint").alias("group_size"),
        F.min("source").over(w).alias("canonical_source"),
    ).select(
        "source",
        "n_files",
        "fingerprint",
        "group_size",
        "canonical_source",
        (
            (F.col("group_size") >= 2)
            & (F.col("source") != F.col("canonical_source"))
        )
        .cast("int")
        .alias("is_dup"),
    )


def dup_code_blocks(docs: DataFrame, *, min_docs: int = 2) -> DataFrame:
    """Cross-document duplicate CODE BLOCKS: split every file into
    blank-line-delimited blocks (functions/stanzas — the structural
    unit of a source file), trim each, hash, and report blocks that
    appear in at least ``min_docs`` distinct documents — Type-1 clone
    detection at block granularity (the structural sibling of
    corpus_duplicate_spans' fixed 16-token chunks; classic clone-
    detection framing per Roy & Cordy 2007's public survey). The
    reference's frequent-typo cache plays the same role — spot the
    verbatim unit everyone repeats — at query granularity
    (/root/reference/app/api/core/search.py:100-130).

    Returns ``block_hash, n_docs, n_occ, block_chars`` for qualifying
    blocks (equal hashes ⇒ equal text ⇒ block_chars is well-defined).

    100 TB plan: blocks are split/trimmed/hashed inside the row; the
    ONLY exchange carries ``(doc_id, block_hash, len)`` rows keyed by
    block hash — text never shuffles. countDistinct(doc_id) is a
    two-phase partial aggregate; a universal boilerplate block (license
    stanza in every file) is one hot key whose count is map-side
    combined, never a doc-level expansion.
    """
    blocks = F.filter(
        F.transform(F.split(F.col("text"), "\n\n"), lambda b: F.trim(b)),
        lambda b: b != "",
    )
    per_block = docs.select(
        "doc_id", F.explode(blocks).alias("b")
    ).select("doc_id", F.md5("b").alias("block_hash"), F.length("b").alias("bl"))
    agg = per_block.groupBy("block_hash").agg(
        F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
        F.count("*").cast("bigint").alias("n_occ"),
        F.max("bl").cast("bigint").alias("block_chars"),
    )
    return agg.filter(F.col("n_docs") >= min_docs)


def split_identifiers(docs: DataFrame) -> DataFrame:
    """Code-LM pre-tokenization accounting: split camelCase (at every
    ``[a-z0-9]→[A-Z]`` boundary — an acronym run like ``HTMLParser``
    stays whole, the standard subtoken rule) and snake_case identifiers
    into subtokens and report the per-document expansion rate — the
    number a tokenizer team uses to size a code vocabulary (identifier
    splitting is the classic code-LM preprocessing step, e.g.
    CodeSearchNet, arXiv:1909.09436).

    Returns ``doc_id, n_tokens, n_subtokens, expansion_rate`` (rate =
    subtokens per raw whitespace token, rounded to 6; docs with no
    tokens report 0 tokens and rate null-free via greatest(n,1)).

    100 TB plan: a pure projection — two regexp passes and two splits
    inside the row, zero shuffles, zero UDFs.
    """
    raw_toks = F.filter(F.split(F.col("text"), r"\s+"), lambda t: t != "")
    sub = F.regexp_replace(
        F.regexp_replace(F.col("text"), "([a-z0-9])([A-Z])", r"$1 $2"),
        "_",
        " ",
    )
    sub_toks = F.filter(F.split(sub, r"\s+"), lambda t: t != "")
    out = docs.select(
        "doc_id",
        F.size(raw_toks).cast("bigint").alias("n_tokens"),
        F.size(sub_toks).cast("bigint").alias("n_subtokens"),
    )
    return out.select(
        "doc_id",
        "n_tokens",
        "n_subtokens",
        F.round(
            F.col("n_subtokens") / F.greatest(F.col("n_tokens"), F.lit(1)), 6
        ).alias("expansion_rate"),
    )


def extract_imports(docs: DataFrame) -> DataFrame:
    """Dependency extraction over source files: pull the imported module
    from ``import X ...`` / ``from X import ...`` / ``#include <X>``
    lines and aggregate the corpus dependency inventory — the
    library-popularity table a code-corpus curation run reports (and
    the input to dependency-aware sampling). Line-anchored, first
    token after the keyword; C includes take the ``<...>`` payload.

    Returns ``dep, n_docs, n_occ`` — one row per distinct dependency
    with document frequency and total occurrence count.

    100 TB plan: extraction is in-row (line split + prefix tests + one
    regexp); the ONLY exchange carries ``(doc_id, dep)`` rows keyed by
    dep for the two-phase distinct count — same shape as
    dup_code_blocks, with the same hot-key tolerance (a universally
    imported stdlib module is one map-side-combined key).
    """
    # trim once per line in its own HOF pass: when-branch CONDITIONS all
    # re-evaluate their trim in interpreted HOF eval (no CSE inside
    # lambdas — the house expression-capture gotcha), so the old
    # single-pass form trimmed each line up to 4× before extracting
    # NOTE: pass an explicit single-arg lambda — F.trim itself has an
    # optional second parameter, and transform() would feed it the
    # element INDEX as a trim-character set
    ls = F.transform(F.split(F.col("text"), "\n"), lambda l: F.trim(l))
    with_lines = docs.select("doc_id", ls.alias("ls"))

    def _dep(t: Column) -> Column:
        return (
            F.when(t.startswith("import "), F.element_at(F.split(t, " "), 2))
            .when(t.startswith("from "), F.element_at(F.split(t, " "), 2))
            .when(t.startswith("#include"), F.regexp_extract(t, "<([^>]*)>", 1))
            .otherwise(F.lit(""))
        )

    deps = with_lines.select(
        "doc_id",
        F.filter(F.transform("ls", _dep), lambda d: d != "").alias("deps"),
    )
    per_dep = deps.select("doc_id", F.explode("deps").alias("dep"))
    return per_dep.groupBy("dep").agg(
        F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
        F.count("*").cast("bigint").alias("n_occ"),
    )


def type2_clone_groups(docs: DataFrame) -> DataFrame:
    """Type-2 clone detection (identifier/literal-renamed copies — Roy &
    Cordy 2007's public clone taxonomy): normalize every identifier
    token ``[A-Za-z_][A-Za-z0-9_]*`` to ``ID`` and every remaining
    digit run to ``N``, then group files by the md5 of the normalized
    text — a fork that only RENAMES variables (the classic
    plagiarism/vendoring shape) collides with the original, while any
    structural change (punctuation, line shape, token arity) does not.
    Completes the clone ladder: dup_code_blocks finds Type-1 (verbatim)
    block clones, strip_comments_dedup_groups comment-blind file
    clones, this the renamed ones.

    Returns ``doc_id, n_idents, group_size, canonical_id, is_dup``.

    100 TB plan: normalization + hash are a pure projection; the one
    window exchange carries ``(doc_id, h, n_idents)`` — identical
    scale shape to strip_comments_dedup_groups (content never
    shuffles; giant clone groups are counts per hash).
    """
    ident = "[A-Za-z_][A-Za-z0-9_]*"
    norm = F.regexp_replace(
        F.regexp_replace(F.col("text"), ident, "ID"), "[0-9]+", "N"
    )
    hashed = docs.select(
        "doc_id",
        F.regexp_count(F.col("text"), F.lit(ident)).cast("bigint").alias("n_idents"),
        F.md5(norm).alias("h"),
    )
    w = Window.partitionBy("h")
    return (
        hashed.select(
            "doc_id",
            "n_idents",
            F.count("*").over(w).cast("bigint").alias("group_size"),
            F.min("doc_id").over(w).alias("canonical_id"),
        )
        .select(
            "doc_id",
            "n_idents",
            "group_size",
            "canonical_id",
            ((F.col("group_size") >= 2) & (F.col("doc_id") != F.col("canonical_id")))
            .cast("int")
            .alias("is_dup"),
        )
    )


def code_admission_report(docs: DataFrame) -> DataFrame:
    """ONE-SCAN fusion of the code-corpus admission signals — the code-
    payload sibling of curation_report: The-Stack/StarCoder quality
    flags, SPDX license detection, and identifier-subtoken accounting
    all computed from a single pass over the file, with the final
    admission decision ``admit = stack_keep AND has_license`` (The
    Stack admits only permissively-licensed files that pass the
    quality gate, arXiv:2211.15533 §2). Signal-by-signal equality with
    the standalone operators is pinned by test, exactly as
    curation_report pins its prose signals.

    Returns ``doc_id, n_lines, max_line_len, avg_line_len, alnum_frac,
    flag_long_line, flag_avg_line, flag_low_alnum, flag_autogen,
    license, has_license, n_tokens, n_subtokens, expansion_rate,
    stack_keep, admit``.

    100 TB plan: a PURE PROJECTION — every signal is in-row; zero
    shuffles, zero UDFs, one scan where running the standalone
    operators would cost four. At 100 TB the scan IS the cost; this
    is the fusion that matters.
    """
    low = F.lower(F.col("text"))
    chain = None
    for marker, spdx in LICENSE_MARKERS:
        cond = F.instr(low, marker) > 0
        chain = F.when(cond, spdx) if chain is None else chain.when(cond, spdx)
    lic = chain.otherwise("unknown")
    sub = F.regexp_replace(
        F.regexp_replace(F.col("text"), "([a-z0-9])([A-Z])", r"$1 $2"), "_", " "
    )
    base = docs.select(
        "doc_id",
        F.split(F.col("text"), "\n").alias("ls"),
        F.length("text").cast("bigint").alias("n_chars"),
        F.length(F.regexp_replace(F.col("text"), "[^A-Za-z0-9]", ""))
        .cast("bigint")
        .alias("n_alnum"),
        (F.instr(low, "auto-generated") > 0).alias("ag"),
        lic.alias("license"),
        F.size(F.filter(F.split(F.col("text"), r"\s+"), lambda t: t != ""))
        .cast("bigint")
        .alias("n_tokens"),
        F.size(F.filter(F.split(sub, r"\s+"), lambda t: t != ""))
        .cast("bigint")
        .alias("n_subtokens"),
    )
    stats = base.select(
        "doc_id",
        F.size("ls").cast("bigint").alias("n_lines"),
        F.array_max(F.transform("ls", lambda l: F.length(l)))
        .cast("bigint")
        .alias("max_line_len"),
        (F.col("n_chars") - F.size("ls") + 1).alias("sum_len"),
        "n_chars",
        "n_alnum",
        "ag",
        "license",
        "n_tokens",
        "n_subtokens",
    )
    stack_keep = (
        (F.col("max_line_len") <= 1000)
        & (F.col("sum_len") <= 100 * F.col("n_lines"))
        & (4 * F.col("n_alnum") >= F.col("n_chars"))
        & ~F.col("ag")
    )
    has_license = F.col("license") != "unknown"
    return stats.select(
        "doc_id",
        "n_lines",
        "max_line_len",
        F.round(F.col("sum_len") / F.col("n_lines"), 6).alias("avg_line_len"),
        F.round(F.col("n_alnum") / F.greatest(F.col("n_chars"), F.lit(1)), 6).alias(
            "alnum_frac"
        ),
        (F.col("max_line_len") > 1000).cast("int").alias("flag_long_line"),
        (F.col("sum_len") > 100 * F.col("n_lines")).cast("int").alias("flag_avg_line"),
        (4 * F.col("n_alnum") < F.col("n_chars")).cast("int").alias("flag_low_alnum"),
        F.col("ag").cast("int").alias("flag_autogen"),
        "license",
        has_license.cast("int").alias("has_license"),
        "n_tokens",
        "n_subtokens",
        F.round(
            F.col("n_subtokens") / F.greatest(F.col("n_tokens"), F.lit(1)), 6
        ).alias("expansion_rate"),
        stack_keep.cast("int").alias("stack_keep"),
        (stack_keep & has_license).cast("int").alias("admit"),
    )


# Secret patterns: RE2-compatible (no lookarounds) so Spark's Java regex
# and DuckDB's RE2 agree byte-for-byte. The AWS example key format and
# the GitHub ghp_ token format are public documentation; the PEM header
# is RFC 7468.
SECRET_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("aws", r"AKIA[0-9A-Z]{16}", "<SECRET_AWS_KEY>"),
    ("github", r"ghp_[A-Za-z0-9]{36}", "<SECRET_GH_TOKEN>"),
    ("pem", r"-----BEGIN [A-Z ]*PRIVATE KEY-----", "<SECRET_PEM_KEY>"),
)


def secret_scan(docs: DataFrame) -> DataFrame:
    """Credential scanning over source files — the code-payload sibling
    of ``pii_scrub``: count and redact AWS access-key ids, GitHub
    personal-access tokens, and PEM private-key headers (the three
    highest-signal fixed-format secrets; the same gate every public
    code-corpus curation run applies, e.g. The Stack's PII/secret
    removal step, arXiv:2211.15533 §2.5). Pattern table is the single
    source of truth: the gate's oracle SQL is GENERATED from
    ``SECRET_PATTERNS`` exactly like ``license_detect``'s marker chain.

    Returns ``doc_id, n_aws, n_github, n_pem, n_secrets, has_secret,
    redacted`` — redacted text replaces every match with its typed
    placeholder (patterns are disjoint by construction, so replacement
    order cannot change the result).

    100 TB plan: a PURE PROJECTION — three regexp_count + three
    regexp_replace inside the row; zero shuffles, zero UDFs, content
    never leaves its partition.
    """
    counts = [
        F.regexp_count(F.col("text"), F.lit(pat)).cast("bigint").alias(f"n_{name}")
        for name, pat, _ in SECRET_PATTERNS
    ]
    red = F.col("text")
    for _, pat, placeholder in SECRET_PATTERNS:
        red = F.regexp_replace(red, pat, placeholder)
    base = docs.select("doc_id", *counts, red.alias("redacted"))
    total = sum((F.col(f"n_{name}") for name, _, _ in SECRET_PATTERNS), F.lit(0))
    return base.select(
        "doc_id",
        "n_aws",
        "n_github",
        "n_pem",
        total.cast("bigint").alias("n_secrets"),
        (total > 0).cast("int").alias("has_secret"),
        "redacted",
    )


def indent_profile(docs: DataFrame) -> DataFrame:
    """Indentation accounting over source files: per-document counts of
    space-indented vs tab-indented lines, the deepest leading-whitespace
    run, and the resolved indentation style — the formatting signal a
    code-corpus curation run reports per file (and the input to
    style-stratified sampling; minified files show ``flat`` + long
    lines, generated files show pathological depth).

    A line's indent is the length of its leading ``[ \\t]*`` run; the
    style is ``tabs`` / ``spaces`` when only one family indents lines,
    ``mixed`` when both do, ``flat`` when nothing is indented.

    Returns ``doc_id, n_lines, n_space_lines, n_tab_lines, max_indent,
    indent_style``.

    100 TB plan: a PURE PROJECTION — one line split + per-line regexp
    inside the row, zero shuffles, zero UDFs.
    """
    ls = F.split(F.col("text"), "\n")
    indents = F.transform(
        ls, lambda l: F.length(F.regexp_extract(l, r"^[ \t]*", 0))
    )
    base = docs.select(
        "doc_id",
        F.size(ls).cast("bigint").alias("n_lines"),
        F.size(F.filter(ls, lambda l: l.startswith(" ")))
        .cast("bigint")
        .alias("n_space_lines"),
        F.size(F.filter(ls, lambda l: l.startswith("\t")))
        .cast("bigint")
        .alias("n_tab_lines"),
        F.array_max(indents).cast("bigint").alias("max_indent"),
    )
    style = (
        F.when((F.col("n_space_lines") > 0) & (F.col("n_tab_lines") > 0), "mixed")
        .when(F.col("n_space_lines") > 0, "spaces")
        .when(F.col("n_tab_lines") > 0, "tabs")
        .otherwise("flat")
    )
    return base.select(
        "doc_id",
        "n_lines",
        "n_space_lines",
        "n_tab_lines",
        "max_indent",
        style.alias("indent_style"),
    )

def token_bag_clone_pairs(
    docs: DataFrame, *, theta_num: int = 7, theta_den: int = 10
) -> DataFrame:
    """Type-3 (near-miss) clone detection via the SourcererCC bag-of-
    tokens join (Sajnani et al., ICSE'16, public): two files are clones
    when their token-MULTISET overlap reaches θ·max(|A|,|B|). Catches
    statement-level edits (insertions/deletions/reorders) that break
    every verbatim rung of the clone ladder (dup_code_blocks Type-1,
    strip_comments_dedup_groups comment-blind, type2_clone_groups
    renamed) while still penalizing wholesale rewrites.

    The join is the published PREFIX FILTER, made exact: sort each
    document's tokens by global rarity (document frequency asc, token
    asc — a total order both engines reproduce), index only tokens
    whose first multiset position lies within ``|A| - ⌈θ|A|⌉ + 1``
    (θ as the exact fraction theta_num/theta_den; the ceil is integer
    arithmetic), generate candidates from prefix-token collisions, and
    verify with the full multiset overlap. The filter is LOSSLESS —
    any pair with overlap ≥ ⌈θ·max⌉ shares a prefix token — so the
    output equals the brute-force all-pairs join (the oracle).

    Returns ``src, dst, overlap, na, nb, sim`` (sim rounded at 6;
    admission itself is the exact integer test
    ``overlap·theta_den ≥ theta_num·max(na, nb)``).

    100 TB plan: content tokenizes in place; the exchanges carry
    (doc_id, token-hash-width) rows. Hot tokens (keywords, stopwords)
    have high df, so they sort LAST and are never index keys for any
    document longer than the prefix — the posting lists that drive
    candidate generation are rare-token lists by construction (this is
    exactly why SourcererCC scales to 428M files in the paper).
    Verification is pair-keyed joins; a skewed clone group is many
    pairs, never a widened row. The token-count table is persisted and
    reused across the sizing/df/verify branches (one tokenization).
    """
    toks = F.filter(F.split(F.col("text"), r"\s+"), lambda t: t != "")
    tc = (
        docs.select("doc_id", F.explode(toks).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").cast("bigint").alias("c"))
        .persist()
    )
    sz = tc.groupBy("doc_id").agg(F.sum("c").cast("bigint").alias("n"))
    dfreq = tc.groupBy("tok").agg(F.count("*").cast("bigint").alias("df"))
    ceil_theta_n = F.expr(
        f"CAST(({theta_num} * n + {theta_den} - 1) DIV {theta_den} AS BIGINT)"
    )
    w = Window.partitionBy("doc_id").orderBy("df", "tok")
    pref = (
        tc.join(dfreq, "tok")
        .join(sz, "doc_id")
        .withColumn("pos", F.sum("c").over(w) - F.col("c") + 1)
        .filter(F.col("pos") <= F.col("n") - ceil_theta_n + 1)
        .select("doc_id", "tok")
    )
    # Candidates carry the two doc sizes through the prefix join so the
    # published LENGTH FILTER (SSJoin/PPJoin — priced by
    # ssjoin_filter_report) prunes BEFORE the token-expansion verify:
    # overlap ≤ min(na, nb), so a pair can only reach θ when
    # min·den ≥ num·max — provably lossless, and on a low-entropy
    # corpus (posting lists are not rare) it cuts the candidate set the
    # verify join must expand by ~3× (r6 measured: 737k → 212k
    # candidates at sf0.1; verify intermediate shrinks by the same
    # factor).
    pref_sz = pref.join(sz, "doc_id")
    cand = (
        pref_sz.select(F.col("doc_id").alias("src"), "tok", F.col("n").alias("na"))
        .join(
            pref_sz.select(
                F.col("doc_id").alias("dst"), "tok", F.col("n").alias("nb")
            ),
            "tok",
        )
        .filter(F.col("src") < F.col("dst"))
        .filter(
            F.least("na", "nb") * theta_den >= theta_num * F.greatest("na", "nb")
        )
        .select("src", "dst", "na", "nb")
        .distinct()
        .persist()  # consumed twice: verify-join spine + final sizes
    )
    ta = tc.select(F.col("doc_id").alias("src"), "tok", F.col("c").alias("ca"))
    tb = tc.select(F.col("doc_id").alias("dst"), "tok", F.col("c").alias("cb"))
    ov = (
        cand.select("src", "dst")
        .join(ta, "src")
        .join(tb, ["dst", "tok"])
        .groupBy("src", "dst")
        .agg(F.sum(F.least("ca", "cb")).cast("bigint").alias("overlap"))
    )
    mx = F.greatest(F.col("na"), F.col("nb"))
    return (
        ov.join(cand, ["src", "dst"])
        .filter(F.col("overlap") * theta_den >= theta_num * mx)
        .select(
            "src",
            "dst",
            "overlap",
            "na",
            "nb",
            F.round(F.col("overlap") / mx, 6).alias("sim"),
        )
    )


def repo_file_overlap_pairs(
    files: DataFrame,
    *,
    theta_num: int = 1,
    theta_den: int = 2,
    max_repos_per_hash: int | None = None,
) -> DataFrame:
    """Fork/mirror detection at REPOSITORY granularity: two repos are
    related when the Jaccard of their file-content-hash SETS reaches
    theta_num/theta_den — the coarse rung above repo_fingerprint_groups
    (which only catches EXACT mirrors; a fork that added one file
    escapes it, but shares ~all hashes here). This is the repo-level
    dedup pass a code-corpus curation run does before file-level LSH:
    collapsing forks first removes the dominant duplication mode of any
    GitHub-shaped corpus (The Stack dedups forks the same way,
    arXiv:2211.15533 §2.3).

    ``max_repos_per_hash`` drops file hashes present in MORE than that
    many repos before any pair expansion — a universal boilerplate file
    (empty __init__.py, stock LICENSE/README) is one hot hash whose
    posting list would otherwise cost Θ(repos²) pairs while carrying
    zero fork signal (its idf is ~0). The drop is part of the operator
    CONTRACT (sizes count surviving hashes only), so the oracle
    reproduces it exactly — same count-first hot-key strategy as the
    LSH bucket cap, but spec'd rather than best-effort.

    Returns ``repo_a, repo_b, shared, na, nb, jaccard`` (admission is
    the exact integer test shared·den ≥ num·(na+nb-shared)).

    100 TB plan: content is hashed in place and never shuffles; the
    distinct and the pair join carry (repo, 16-byte hash) rows; with
    the cap, per-hash pair expansion is bounded by cap², so the join
    output is Θ(shared-hash mass), not Θ(hot-hash²). Pair counting is
    map-side combinable on (repo_a, repo_b).
    """
    fh = files.select("repo", F.md5("text").alias("h")).distinct()
    if max_repos_per_hash is not None:
        # Window count per hash instead of an aggregate + anti-join: one
        # exchange on h that the pair self-join below REUSES, and — the
        # reason it's not a join — when a caller's file table derives a
        # hash from a literal (planted boilerplate), constant folding
        # leaves the anti-join's left key with no attribute, which
        # Catalyst can only execute as a nested-loop join (caught by the
        # plan-audit suite). The window form has no join to degrade.
        w_h = Window.partitionBy("h")
        fh = (
            fh.withColumn("nr", F.count("*").over(w_h))
            .filter(F.col("nr") <= max_repos_per_hash)
            .drop("nr")
        )
    fh = fh.persist()
    sz = fh.groupBy("repo").agg(F.count("*").cast("bigint").alias("n"))
    pairs = (
        fh.select(F.col("repo").alias("repo_a"), "h")
        .join(fh.select(F.col("repo").alias("repo_b"), "h"), "h")
        .filter(F.col("repo_a") < F.col("repo_b"))
        .groupBy("repo_a", "repo_b")
        .agg(F.count("*").cast("bigint").alias("shared"))
    )
    union = F.col("na") + F.col("nb") - F.col("shared")
    return (
        pairs.join(sz.select(F.col("repo").alias("repo_a"), F.col("n").alias("na")), "repo_a")
        .join(sz.select(F.col("repo").alias("repo_b"), F.col("n").alias("nb")), "repo_b")
        .filter(F.col("shared") * theta_den >= theta_num * union)
        .select(
            "repo_a",
            "repo_b",
            "shared",
            "na",
            "nb",
            F.round(F.col("shared") / union, 6).alias("jaccard"),
        )
    )


def license_propagation(files: DataFrame) -> DataFrame:
    """Repo-level license resolution: a file's EFFECTIVE license is its
    own header license when it declares one, else the repo's license —
    detected from the repo's root ``LICENSE``-named file(s) via the
    same ``LICENSE_MARKERS`` chain as ``license_detect``. This is how
    real corpus builds assign licenses (most source files carry no SPDX
    header; the repo manifest is the authority — The Stack's
    per-repo license propagation, arXiv:2211.15533 §2.2).

    Input needs ``repo, path, text``. When several LICENSE files exist
    in one repo the lexicographically smallest detected license wins
    (deterministic, engine-agnostic). Returns ``repo, path,
    file_license, repo_license, effective_license, licensed`` with
    'unknown' where nothing resolves.

    100 TB plan: file-level detection is in-row; the per-repo license
    table aggregates only LICENSE-path rows (≈ one row per repo — MBs
    at 10^8 repos) and BROADCASTS back onto the file table, so content
    crosses zero exchanges and the only shuffle is the tiny per-repo
    min-aggregate.
    """
    low = F.lower(F.col("text"))
    chain = None
    for marker, spdx in LICENSE_MARKERS:
        cond = F.instr(low, marker) > 0
        chain = F.when(cond, spdx) if chain is None else chain.when(cond, spdx)
    lic = chain.otherwise("unknown")
    detected = files.select("repo", "path", lic.alias("file_license"))
    is_license_file = (F.col("path") == "LICENSE") | F.col("path").endswith(
        "/LICENSE"
    )
    repo_lic = (
        detected.filter(is_license_file & (F.col("file_license") != "unknown"))
        .groupBy("repo")
        .agg(F.min("file_license").alias("repo_license"))
    )
    out = detected.join(F.broadcast(repo_lic), "repo", "left").select(
        "repo",
        "path",
        "file_license",
        F.coalesce(F.col("repo_license"), F.lit("unknown")).alias("repo_license"),
    )
    eff = F.when(F.col("file_license") != "unknown", F.col("file_license")).otherwise(
        F.col("repo_license")
    )
    return out.select(
        "repo",
        "path",
        "file_license",
        "repo_license",
        eff.alias("effective_license"),
        (eff != "unknown").cast("int").alias("licensed"),
    )


def repo_fork_clusters(
    files: DataFrame,
    *,
    theta_num: int = 1,
    theta_den: int = 2,
    max_repos_per_hash: int | None = None,
) -> DataFrame:
    """Repo-tier cluster assignment — the fork families a curation run
    collapses before file-level dedup: edges from
    ``repo_file_overlap_pairs`` (file-hash-set Jaccard ≥ θ), closed
    under transitivity by Stage D's connected components, one canonical
    repo (lexicographic min) per family. The repo-granularity twin of
    the flagship pipeline's cluster stage: same CC operator (size-
    dispatched driver union-find / large-star/small-star), same
    survivor rule.

    Returns ``repo, canonical_repo, cluster_size, is_fork``.

    100 TB plan: inherits repo_file_overlap_pairs' bounds (hash-width
    shuffles, cap² pair expansion); the edge set is repo-granularity
    (orders of magnitude smaller than file pairs), so CC's driver
    dispatch almost always applies — and large-star/small-star
    stands behind it for adversarial fork graphs.
    """
    from autovalidate_backend_api_spark.operators.connected_components import (
        connected_components,
    )

    pairs = repo_file_overlap_pairs(
        files,
        theta_num=theta_num,
        theta_den=theta_den,
        max_repos_per_hash=max_repos_per_hash,
    )
    edges = pairs.select(
        F.col("repo_a").alias("src"), F.col("repo_b").alias("dst")
    )
    vertices = files.select(F.col("repo").alias("key")).distinct()
    labels = connected_components(vertices, edges)
    sizes = labels.groupBy("cluster_rep").agg(
        F.count("*").cast("bigint").alias("cluster_size")
    )
    return (
        labels.join(sizes, "cluster_rep")
        .select(
            F.col("key").alias("repo"),
            F.col("cluster_rep").alias("canonical_repo"),
            "cluster_size",
            (F.col("key") != F.col("cluster_rep")).cast("int").alias("is_fork"),
        )
    )


# Path-classification tables — single source of truth shared with the
# gate's generated oracle SQL (the LICENSE_MARKERS pattern).
VENDOR_DIRS: tuple[str, ...] = (
    "node_modules", "vendor", "third_party", "dist", "build", "target",
)
EXT_LANG: tuple[tuple[str, str], ...] = (
    ("py", "python"),
    ("js", "javascript"),
    ("ts", "typescript"),
    ("rs", "rust"),
    ("go", "go"),
    ("java", "java"),
    ("c", "c"),
    ("cpp", "cpp"),
    ("md", "markdown"),
)


def path_filter_flags(files: DataFrame) -> DataFrame:
    """Path-based admission signals — the filters a code-corpus build
    applies BEFORE reading any content (The Stack drops vendored and
    minified trees by path, arXiv:2211.15533 §2; content-free filters
    are the cheapest gate in the pipeline, so they run first):
    vendored-directory detection (any path segment in ``VENDOR_DIRS``),
    minified-asset detection (``.min.js`` / ``.min.css``), extension →
    language resolution via ``EXT_LANG``, and the combined
    ``keep = NOT vendored AND NOT minified``.

    Returns ``repo, path, ext, path_lang, is_vendored, is_minified,
    keep``.

    100 TB plan: a PURE PROJECTION over path strings only — at Iceberg
    scale this runs on the metadata/path column without touching
    content bytes at all; zero shuffles, zero UDFs.
    """
    seg_re = "(^|/)(" + "|".join(VENDOR_DIRS) + ")/"
    ext = F.lower(F.regexp_extract(F.col("path"), r"\.([A-Za-z0-9]+)$", 1))
    chain = None
    for e, lang in EXT_LANG:
        cond = F.col("ext") == e
        chain = F.when(cond, lang) if chain is None else chain.when(cond, lang)
    vend = F.regexp_count(F.col("path"), F.lit(seg_re)) > 0
    mini = F.col("path").endswith(".min.js") | F.col("path").endswith(".min.css")
    return (
        files.select("repo", "path", ext.alias("ext"))
        .select(
            "repo",
            "path",
            "ext",
            chain.otherwise("unknown").alias("path_lang"),
            vend.cast("int").alias("is_vendored"),
            mini.cast("int").alias("is_minified"),
        )
        .select(
            "repo",
            "path",
            "ext",
            "path_lang",
            "is_vendored",
            "is_minified",
            ((F.col("is_vendored") == 0) & (F.col("is_minified") == 0))
            .cast("int")
            .alias("keep"),
        )
    )


def repo_language_profile(files: DataFrame) -> DataFrame:
    """Per-repository language inventory: file counts, distinct
    languages, and the PRIMARY language (most files; ties break to the
    lexicographically smallest language — deterministic on both
    engines) with its share of the repo — the repo-level stratification
    key a corpus build samples and reports by (language mixture is the
    headline table of every code-corpus card).

    Input needs ``repo, lang``. Returns ``repo, n_files, n_langs,
    primary_lang, primary_frac``.

    100 TB plan: one map-side-combinable (repo, lang) count, then a
    repo-keyed window over the per-repo language rows (bounded by the
    language vocabulary, ~10²) — the shuffle carries count rows only.
    """
    cnt = files.groupBy("repo", "lang").agg(
        F.count("*").cast("bigint").alias("c")
    )
    w = Window.partitionBy("repo").orderBy(F.col("c").desc(), "lang")
    wr = Window.partitionBy("repo")
    return (
        cnt.withColumn("rk", F.row_number().over(w))
        .withColumn("n_files", F.sum("c").over(wr).cast("bigint"))
        .withColumn("n_langs", F.count("*").over(wr).cast("bigint"))
        .filter(F.col("rk") == 1)
        .select(
            "repo",
            "n_files",
            "n_langs",
            F.col("lang").alias("primary_lang"),
            F.round(F.col("c") / F.col("n_files"), 6).alias("primary_frac"),
        )
    )


def function_def_inventory(docs: DataFrame) -> DataFrame:
    """Corpus-level function-definition inventory: extract the defined
    name from ``def X(`` / ``function X(`` / ``fn X(`` / ``func X(``
    lines (Python/JS/Rust/Go surface syntax) and aggregate document
    frequency + occurrence count per name — the duplicate-definition
    table that surfaces copy-pasted helpers across a corpus (the
    function-granularity sibling of ``extract_imports``).

    Returns ``fname, n_docs, n_occ``.

    100 TB plan: extraction is in-row (line split + one anchored
    regexp); the ONLY exchange carries ``(doc_id, fname)`` rows keyed
    by name for the two-phase distinct count — a universally copied
    helper name is one map-side-combined hot key.
    """
    pat = r"^\s*(?:def|function|fn|func)\s+([A-Za-z_][A-Za-z0-9_]*)\s*\("
    names = F.filter(
        F.transform(
            F.split(F.col("text"), "\n"),
            lambda l: F.regexp_extract(l, pat, 1),
        ),
        lambda x: x != "",
    )
    per = docs.select("doc_id", F.explode(names).alias("fname"))
    return per.groupBy("fname").agg(
        F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
        F.count("*").cast("bigint").alias("n_occ"),
    )


def function_units(docs: DataFrame) -> DataFrame:
    """Segment each document into FUNCTION-GRANULARITY units: a unit
    starts at a definition line (the same four-syntax anchor as
    :func:`function_def_inventory`) and extends to the line before the
    next definition (or EOF); content before the first definition (the
    import/preamble block) belongs to no unit and is dropped. This is
    the granularity shift every serious code-dedup pipeline makes —
    SourcererCC's clone units are METHODS, not files (Sajnani et al.,
    ICSE'16 §III.A), because file-level hashing misses the dominant
    real-world clone mode: one copy-pasted helper inside an otherwise
    novel file.

    Returns ``doc_id, fidx, fname, body`` — fidx is the 1-based unit
    ordinal within the doc, fname the defined name, body the unit's
    verbatim lines (definition line included) re-joined with \\n.

    100 TB plan: the line explode and running definition count are one
    window keyed by doc_id (a single exchange partitioned on doc —
    each doc's lines land together; docs are bounded, so no skew
    concern), and the unit re-assembly is a sort_array fold inside the
    same grouping — content crosses exactly one exchange, at line
    granularity, and leaves at unit granularity. Downstream clone ops
    consume units exactly like docs (id → (doc_id, fidx)).
    """
    pat = r"^\s*(?:def|function|fn|func)\s+([A-Za-z_][A-Za-z0-9_]*)\s*\("
    lines = docs.select(
        "doc_id", F.posexplode(F.split("text", "\n")).alias("pos", "ln")
    )
    is_def = F.regexp_extract("ln", pat, 1)
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tagged = lines.withColumn(
        "fidx", F.sum(F.when(is_def != "", 1).otherwise(0)).over(w)
    ).filter(F.col("fidx") >= 1)
    return tagged.groupBy("doc_id", "fidx").agg(
        F.max(F.when(is_def != "", is_def)).alias("fname"),
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "ln"))),
                lambda x: x["ln"],
            ),
            "\n",
        ).alias("body"),
    )


def function_clone_groups(docs: DataFrame) -> DataFrame:
    """Cross-document exact clone groups at FUNCTION granularity:
    md5-group the :func:`function_units` bodies and keep groups seen
    in ≥ 2 distinct documents — the function-level rung of the clone
    ladder (dup_code_blocks is Type-1 at block granularity,
    type2_clone_groups at file granularity; this is the unit
    SourcererCC actually dedups). A duplicated definition WITHIN one
    doc raises n_units above n_docs but cannot create a group alone.

    Returns ``body_md5, n_docs, n_units, fname`` (fname = min defined
    name in the group — clones that were renamed at the call site keep
    distinct bodies and do NOT land here; that's type2's job).

    100 TB plan: after segmentation the only exchange carries
    (16-byte md5, doc_id) rows keyed by hash — map-side combinable
    counts, hot keys are exactly the universally-vendored helpers and
    arrive pre-aggregated per partition.
    """
    u = function_units(docs)
    return (
        u.groupBy(F.md5("body").alias("body_md5"))
        .agg(
            F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
            F.count("*").cast("bigint").alias("n_units"),
            F.min("fname").alias("fname"),
        )
        .filter(F.col("n_docs") >= 2)
    )


def vocab_growth_curve(
    docs: DataFrame, *, cutoffs: tuple[int, ...] = (16, 64, 256, 1024, 4096, 16384)
) -> DataFrame:
    """Vocabulary-growth (Heaps' law) curve points: for each corpus
    prefix ``doc_id < D`` report total token count and distinct-term
    count — the sub-linear V(N) ≈ K·N^β growth every natural corpus
    shows, and the first diagnostic a curation run reads when a source
    looks synthetic or template-heavy (a flat curve = boilerplate; a
    LINEAR curve = serial numbers / hashes masquerading as text).
    Prefixes are doc_id-ordered, so the curve is append-stable: new
    docs extend it without changing existing points (same property the
    md5 split relies on).

    Returns one row per cutoff: ``cutoff, n_tokens, n_vocab`` — pure
    BIGINT arithmetic, oracle-exact by construction.

    100 TB plan: NO global token ordering (a global rank would be a
    single-partition sort). Per-term first-occurrence doc =
    map-side-combinable min; per-doc token counts = map-side-combinable
    count; each curve point is a conditional sum over those two compact
    tables, evaluated as one aggregation pass each with |cutoffs|
    columns, unpivoted at the end — two exchanges total, both carrying
    (key, BIGINT) rows, however many cutoffs.
    """
    toks = F.filter(F.split(F.col("text"), r"\s+"), lambda t: t != "")
    per = docs.select("doc_id", F.explode(toks).alias("term"))
    first = per.groupBy("term").agg(F.min("doc_id").alias("md"))
    ntok = per.groupBy("doc_id").agg(F.count("*").alias("nt"))
    # tagged union → ONE aggregation (corpus_summary's trick: a 1-row
    # broadcast cross join plans as the banned nested loop)
    tagged = first.select(
        F.lit("v").alias("kind"),
        F.col("md").cast("bigint").alias("key"),
        F.lit(1).cast("bigint").alias("w"),
    ).unionByName(
        ntok.select(
            F.lit("t").alias("kind"),
            F.col("doc_id").cast("bigint").alias("key"),
            F.col("nt").cast("bigint").alias("w"),
        )
    )
    aggs = []
    for d in cutoffs:
        aggs.append(
            F.sum(
                F.when((F.col("kind") == "t") & (F.col("key") < d), F.col("w"))
            ).cast("bigint").alias(f"nt_{d}")
        )
        aggs.append(
            F.sum(
                F.when((F.col("kind") == "v") & (F.col("key") < d), F.col("w"))
            ).cast("bigint").alias(f"nv_{d}")
        )
    one = tagged.agg(*aggs)
    stack = ", ".join(
        f"{d}L, coalesce(nt_{d}, 0L), coalesce(nv_{d}, 0L)" for d in cutoffs
    )
    return one.selectExpr(
        f"stack({len(cutoffs)}, {stack}) AS (cutoff, n_tokens, n_vocab)"
    )


def vocab_growth_oracle_sql(
    docs_cte: str, *, cutoffs: tuple[int, ...] = (16, 64, 256, 1024, 4096, 16384)
) -> str:
    """DuckDB SQL replaying :func:`vocab_growth_curve`. ``docs_cte``
    must define ``vg(doc_id, text)`` (text whitespace-tokenizable)."""
    points = "\n      UNION ALL ".join(
        f"""SELECT CAST({d} AS BIGINT) AS cutoff,
        (SELECT CAST(coalesce(sum(nt), 0) AS BIGINT) FROM vgnt WHERE doc_id < {d})
          AS n_tokens,
        (SELECT CAST(count(*) AS BIGINT) FROM vgv WHERE md < {d}) AS n_vocab"""
        for d in cutoffs
    )
    return f"""WITH {docs_cte},
    vgt AS (SELECT doc_id, unnest(list_filter(
              regexp_split_to_array(text, '\\s+'), t -> t <> '')) AS term
            FROM vg),
    vgv AS (SELECT term, min(doc_id) AS md FROM vgt GROUP BY term),
    vgnt AS (SELECT doc_id, count(*) AS nt FROM vgt GROUP BY doc_id)
    {points}"""


def snapshot_diff(old: DataFrame, new: DataFrame) -> DataFrame:
    """Corpus-snapshot delta at (repo, path) granularity: which files
    were ADDED, DELETED, or MODIFIED between two snapshots of the
    corpus table — the churn set an incremental ingest run feeds into
    `plans/incremental.py` instead of re-deduping 10^12 unchanged
    files. The reference's analog is the feedback write path: only the
    NEW correction is persisted, never the whole catalog
    (/root/reference/app/api/core/db_lookup.py:52-83).

    Inputs need ``repo, path, text``. Returns ``repo, path, status,
    old_h, new_h`` with status ∈ {'added','deleted','modified'} —
    unchanged files are EXCLUDED, so the output is churn-proportional,
    not corpus-proportional.

    100 TB plan: content is md5-hashed IN PLACE on each side before the
    join, so the full-outer join carries only (repo, path, 16-byte
    hash) rows co-partitioned on the join key; content bytes cross zero
    exchanges. The unchanged-row drop happens in the join's post-filter
    (hash equality), bounding the output by the churn rate. On a real
    Iceberg deployment the old side comes from the snapshot's data
    files via incremental scan — the operator's join form is the
    format-agnostic general case.
    """
    oh = old.select("repo", "path", F.md5("text").alias("old_h"))
    nh = new.select("repo", "path", F.md5("text").alias("new_h"))
    j = oh.join(nh, ["repo", "path"], "full_outer")
    status = (
        F.when(F.col("old_h").isNull(), "added")
        .when(F.col("new_h").isNull(), "deleted")
        .when(F.col("old_h") != F.col("new_h"), "modified")
    )
    return (
        j.withColumn("status", status)
        .filter(F.col("status").isNotNull())
        .select("repo", "path", "status", "old_h", "new_h")
    )


def repo_minhash_pairs(
    files: DataFrame,
    *,
    n_perm: int = 16,
    theta_num: int = 1,
    theta_den: int = 2,
) -> DataFrame:
    """Repo-level fork detection via MinHash over file-content-hash
    sets — the WEB-SCALE sibling of ``repo_file_overlap_pairs``. The
    exact variant joins full (repo, file-hash) posting lists (shuffle
    mass = total distinct file-hash rows, ~10^12 at corpus scale);
    this one collapses each repo to ``n_perm`` 32-hex-char signature
    components first, so everything after the per-repo aggregate
    carries Θ(n_repos · n_perm) tiny rows (~10^9 at 10^8 repos).

    Component i of a repo's signature is ``min(md5(i || ':' || h))``
    over the repo's distinct file hashes h (Broder's minwise estimate,
    one independent permutation per salt). Two repos' estimated
    Jaccard is the fraction of agreeing components; pairs are admitted
    at est ≥ theta_num/theta_den. Candidate generation equi-joins on
    (i, component value) — lossless for any pair with ≥1 agreeing
    component, hence for every pair that can reach a positive
    threshold. Deterministic (md5 both engines), so the driver oracle
    reproduces the estimate EXACTLY rather than probabilistically.

    Returns ``repo_a, repo_b, matches, est_jaccard``.

    100 TB plan: the (repo, h) distinct and per-(repo, i) min are both
    map-side combinable; the pair join's hot-key exposure is a
    component value shared by MANY repos, which is exactly a fork
    family — posting lists are fork-family-sized, not boilerplate-
    sized, because the min is over the WHOLE repo's hash set (a single
    shared boilerplate file only wins a component with probability
    1/|repo files|). Verify-by-exact-overlap can be chained downstream
    on the admitted pairs (increment-proportional).
    """
    fh = files.select("repo", F.md5("text").alias("h")).distinct()
    perms = fh.select(
        "repo", F.explode(F.sequence(F.lit(0), F.lit(n_perm - 1))).alias("i"), "h"
    )
    sig = perms.groupBy("repo", "i").agg(
        F.min(F.md5(F.concat_ws(":", F.col("i"), F.col("h")))).alias("c")
    )
    matches = (
        sig.select(F.col("repo").alias("repo_a"), "i", "c")
        .join(sig.select(F.col("repo").alias("repo_b"), "i", "c"), ["i", "c"])
        .filter(F.col("repo_a") < F.col("repo_b"))
        .groupBy("repo_a", "repo_b")
        .agg(F.count("*").cast("bigint").alias("matches"))
    )
    return matches.filter(
        F.col("matches") * theta_den >= theta_num * n_perm
    ).select(
        "repo_a",
        "repo_b",
        "matches",
        F.round(F.col("matches") / F.lit(float(n_perm)), 6).alias("est_jaccard"),
    )


def cdc_chunk_dedup(
    docs: DataFrame,
    *,
    boundary_hexes: tuple[str, ...] = ("0", "1", "2", "3"),
    min_occ: int = 2,
) -> DataFrame:
    """Content-defined chunking dedup at LINE granularity: lines are
    folded into chunks whose boundary is content-derived (a line whose
    md5 starts with one of ``boundary_hexes`` CLOSES its chunk), then
    identical chunks are counted corpus-wide — the storage-dedup view
    of duplication (restic/borgbackup-style CDC, FastCDC USENIX ATC'16,
    recast line-wise for source text). Because boundaries depend only
    on content, an insertion early in a file re-aligns after ~one chunk
    and the unchanged tail still dedups — the property fixed-width
    blocks lack, and the reason incremental corpus storage uses CDC.

    Returns ``chunk_h, n_occ, n_docs, n_lines`` for chunks seen
    ``min_occ``+ times (the duplicate-chunk inventory).

    100 TB plan: chunking is a PER-ROW array fold (``F.aggregate``) —
    zero shuffle until the chunk-hash count, which is map-side
    combinable on 16-byte keys; content leaves the row only as hashes.
    The per-doc-window formulation (what the SQL oracle runs) would
    shuffle every line of the corpus instead.
    """
    hex_arr = F.array(*[F.lit(h) for h in boundary_hexes])
    lines = F.split(F.col("text"), "\n")
    empty_chunks = F.array().cast("array<string>")
    init = F.struct(
        empty_chunks.alias("chunks"), F.lit("").alias("cur"), F.lit(0).alias("n")
    )

    def step(acc, ln):
        new_cur = F.when(acc["n"] == 0, ln).otherwise(
            F.concat(acc["cur"], F.lit("\n"), ln)
        )
        is_b = F.array_contains(hex_arr, F.substring(F.md5(ln), 1, 1))
        return F.struct(
            F.when(is_b, F.array_append(acc["chunks"], new_cur))
            .otherwise(acc["chunks"])
            .alias("chunks"),
            F.when(is_b, F.lit("")).otherwise(new_cur).alias("cur"),
            F.when(is_b, F.lit(0)).otherwise(acc["n"] + 1).alias("n"),
        )

    fin = lambda acc: F.when(  # noqa: E731
        acc["n"] > 0, F.array_append(acc["chunks"], acc["cur"])
    ).otherwise(acc["chunks"])
    chunks = docs.select(
        "doc_id", F.explode(F.aggregate(lines, init, step, fin)).alias("chunk")
    )
    return (
        chunks.select(
            "doc_id",
            F.md5("chunk").alias("chunk_h"),
            F.size(F.split(F.col("chunk"), "\n")).cast("bigint").alias("nl"),
        )
        .groupBy("chunk_h")
        .agg(
            F.count("*").cast("bigint").alias("n_occ"),
            F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
            F.min("nl").alias("n_lines"),
        )
        .filter(F.col("n_occ") >= min_occ)
    )


def exact_group_canonical(files: DataFrame) -> DataFrame:
    """Canonical-keeper selection per EXACT-duplicate group: every
    content hash held by ≥2 (repo, path) locations elects exactly one
    surviving copy by a deterministic curation policy — non-vendored
    location beats vendored (``VENDOR_DIRS``, same rule as
    ``path_filter_flags``), then shortest path, then lexicographic
    (path, repo). This is the keep-one step a corpus build runs after
    ``exact_dedup_groups``: the policy, not the grouping, decides which
    provenance the training corpus records (The Stack keeps one file
    per content hash the same way, arXiv:2211.15533 §2.3).

    Input needs ``repo, path, text``. Returns ``h, n_copies,
    keep_repo, keep_path`` for groups with ≥2 copies.

    100 TB plan: content is hashed in place; ONE exchange on the
    16-byte hash serves both the group count and the rank window
    (same partitioning), carrying (repo, path, hash, flag) rows only.
    Group width is exact-dup-group-sized — the hottest key is the most
    copied file in the corpus, still thousands of rows, not 10^12.
    """
    seg_re = "(^|/)(" + "|".join(VENDOR_DIRS) + ")/"
    fh = files.select(
        "repo",
        "path",
        F.md5("text").alias("h"),
        (F.regexp_count(F.col("path"), F.lit(seg_re)) > 0).cast("int").alias("vend"),
    )
    w = Window.partitionBy("h").orderBy(
        "vend", F.length("path"), "path", "repo"
    )
    wh = Window.partitionBy("h")
    return (
        fh.withColumn("rk", F.row_number().over(w))
        .withColumn("n_copies", F.count("*").over(wh).cast("bigint"))
        .filter((F.col("rk") == 1) & (F.col("n_copies") >= 2))
        .select(
            "h",
            "n_copies",
            F.col("repo").alias("keep_repo"),
            F.col("path").alias("keep_path"),
        )
    )


def priority_sample(
    rows: DataFrame,
    *,
    id_col: str = "doc_id",
    weight_col: str = "weight",
    k: int = 64,
) -> DataFrame:
    """Priority sampling (Duffield–Lund–Thorup, JACM 2007): a weighted
    without-replacement sample of ``k`` rows whose ``est_weight`` column
    is an unbiased estimator of any subset-sum — THE way a curation run
    takes a size-weighted corpus sample whose token counts still add up
    (uniform sampling under-represents long documents; Bernoulli-per-row
    has unbounded sample size).

    Priority q = w / u with u ∈ (0,1] a deterministic per-id uniform
    ((48-bit md5 slice + 1) / 2^48). The k largest priorities are kept;
    τ = the (k+1)-th priority; est_weight = max(w, τ). Every arithmetic
    step is a single IEEE-exactly-rounded double op on exactly
    representable integers (48-bit hash, integer weight, power-of-two
    divisor), so the SELECTION — not just the values — is bit-identical
    on any IEEE engine and the DuckDB oracle checks the sample itself.

    Returns ``<id>, weight, priority, est_weight`` (k rows; all rows
    with est_weight = weight when the input has ≤ k rows, τ = 0).

    100 TB plan: priority is a pure projection; the k+1 cut is
    orderBy+limit → TakeOrderedAndProject (per-partition top-k, no
    global sort, driver holds k+1 rows); the τ attachment is a window
    over those k+1 rows only. Bottom-k states merge (union, re-take
    k+1), so per-partition / per-day samples compose.
    """
    u = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("ps:"), F.col(id_col).cast("string"))), 1, 12),
            16,
            10,
        ).cast("bigint")
        + F.lit(1)
    ).cast("double") / F.lit(float(1 << 48))
    base = rows.select(
        F.col(id_col),
        F.col(weight_col).cast("bigint").alias("weight"),
        (F.col(weight_col).cast("double") / u).alias("priority"),
    )
    top = base.orderBy(F.col("priority").desc(), F.col(id_col).asc()).limit(k + 1)
    # the windows run on ≤ k+1 rows (post-limit) — single tiny partition
    wfull = Window.partitionBy(F.lit(1))
    worder = wfull.orderBy(F.col("priority").desc(), F.col(id_col).asc())
    tau = F.when(
        F.count("*").over(wfull) == k + 1, F.min("priority").over(wfull)
    ).otherwise(F.lit(0.0))
    return (
        top.withColumn("rn", F.row_number().over(worder))
        .withColumn("tau", tau)
        .filter(F.col("rn") <= k)
        .select(
            id_col,
            "weight",
            "priority",
            F.greatest(F.col("weight").cast("double"), F.col("tau")).alias(
                "est_weight"
            ),
        )
    )


def term_cooccurrence_lift(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 2,
    max_df_ratio: float = 1.0,
) -> DataFrame:
    """Document-level term-pair co-occurrence with exact-integer lift —
    the association table a tokenizer/phrase-mining pass reads (PMI's
    monotone log-free twin: PMI = log(lift), so lift ranks identically).

    For terms x, y: ``n_a``/``n_b`` = document frequencies, ``n_ab`` =
    docs containing both, ``lift = (n_ab · N) / (n_a · n_b)`` — both
    products are exact BIGINTs < 2^53, the single division is IEEE-
    exactly-rounded, round(6): bitwise cross-engine (the exact-integer-
    moments float discipline; never oracle log()).

    Scale shape: the pair stage is a per-doc inverted self-join — Θ(Σ
    d_i²) over per-doc DISTINCT term counts, the classic co-occurrence
    blowup. Two caps bound it: ``max_df_ratio`` drops stopword-grade
    terms (df > ratio·N) BEFORE the join — the highest-d_i mass is
    exactly those terms — and ``min_count`` prunes the output. The
    corpus N is a bounded scalar collect attached as a literal (a 1-row
    join side would plan as the banned nested loop).
    """
    terms = (
        docs.select(
            F.col(id_col).alias("doc"),
            F.explode(F.split(F.col(text_col), " ")).alias("term"),
        )
        .filter(F.col("term") != "")
        .distinct()
    )
    n_docs = docs.select(id_col).distinct().count()  # bounded scalar
    df_t = terms.groupBy("term").agg(F.count("*").cast("bigint").alias("df"))
    if max_df_ratio < 1.0:
        df_t = df_t.filter(F.col("df") <= int(max_df_ratio * n_docs))
        terms = terms.join(df_t.select("term"), "term", "left_semi")
    terms = terms.persist()
    a = terms.select(F.col("doc"), F.col("term").alias("term_a"))
    b = terms.select(F.col("doc"), F.col("term").alias("term_b"))
    pairs = (
        a.join(b, "doc")
        .filter(F.col("term_a") < F.col("term_b"))
        .groupBy("term_a", "term_b")
        .agg(F.count("*").cast("bigint").alias("n_ab"))
        .filter(F.col("n_ab") >= min_count)
    )
    dfa = df_t.select(F.col("term").alias("term_a"), F.col("df").alias("n_a"))
    dfb = df_t.select(F.col("term").alias("term_b"), F.col("df").alias("n_b"))
    return (
        pairs.join(dfa, "term_a")
        .join(dfb, "term_b")
        .select(
            "term_a",
            "term_b",
            "n_ab",
            "n_a",
            "n_b",
            F.round(
                (F.col("n_ab") * F.lit(n_docs)).cast("double")
                / (F.col("n_a") * F.col("n_b")).cast("double"),
                6,
            ).alias("lift"),
        )
    )


def cluster_aware_split(
    clusters: DataFrame, *, val_pct: int = 10, test_pct: int = 10
) -> DataFrame:
    """Leakage-safe train/val/test assignment: split by the dedup
    CLUSTER representative, not the document — every member of a
    near-dup cluster lands in the same split by construction.

    The well-known eval-contamination failure of naive hash splits is
    that near-duplicates straddle the split (train on one fork, eval on
    the other — arXiv:2107.06499 measures the inflation); the fix is to
    make the split a pure function of the cluster id. Same md5 rule as
    :func:`train_val_test_split` applied to ``cluster_rep``, so
    singleton docs keep the uniform 80/10/10 rate and the property is
    exact, not statistical: ``split(doc) = f(rep(doc))`` — two docs in
    one cluster CANNOT differ.

    Scale shape: a pure projection over the cluster table (the dedup
    pipeline already paid the shuffles); zero additional exchanges.
    """
    bucket = (
        F.conv(F.substring(F.md5(F.col("cluster_rep")), 1, 8), 16, 10)
        .cast("bigint")
        % 100
    )
    return clusters.select(
        "key",
        "cluster_rep",
        bucket.alias("bucket"),
        F.when(bucket < test_pct, F.lit("test"))
        .when(bucket < test_pct + val_pct, F.lit("val"))
        .otherwise(F.lit("train"))
        .alias("split"),
    )


def quota_allocation(
    groups: DataFrame, *, key: str, count_col: str, total_slots: int
) -> DataFrame:
    """Largest-remainder apportionment (Hamilton's method): split
    ``total_slots`` sample slots across groups proportionally to
    ``count_col``, EXACTLY — ``Σ quota = total_slots`` by construction,
    no float rounding drift ever.

    The missing piece between domain_mixture_weights (the ratios) and
    stratified_sample (the draw): a mixture ratio times a slot budget
    is fractional, and naive per-group rounding mis-totals. Hamilton:
    ``base = (N·c) div C`` slots per group, then the ``N − Σbase``
    leftover slots go to the largest remainders ``(N·c) mod C``
    (rank ties broken by key asc). Everything is BIGINT multiply /
    div / mod — bit-exact on any engine, no quotient floats.

    Scale shape: one map-side-combinable count per group feeds this;
    the allocation itself runs on the GROUP table (domains — tiny by
    definition), so the remainder rank is a window over rows that fit
    one task by construction; C and the leftover R are the only driver
    scalars. Returns ``key, n_items, base_quota, extra, quota``.
    """
    tot = groups.agg(F.sum(count_col).cast("bigint").alias("c")).first()
    c_total = int(tot["c"])
    scaled = groups.select(
        F.col(key),
        F.col(count_col).cast("bigint").alias("n_items"),
        F.expr(
            f"(CAST({total_slots} AS BIGINT) * CAST({count_col} AS BIGINT))"
            f" div {c_total}"
        ).alias("base_quota"),
        F.expr(
            f"(CAST({total_slots} AS BIGINT) * CAST({count_col} AS BIGINT))"
            f" % {c_total}"
        ).alias("rem"),
    )
    base_sum = int(scaled.agg(F.sum("base_quota")).first()[0])
    leftover = total_slots - base_sum
    w = Window.orderBy(F.desc("rem"), F.asc(key))
    return scaled.select(
        key,
        "n_items",
        "base_quota",
        (F.row_number().over(w) <= leftover).cast("bigint").alias("extra"),
    ).select(
        key,
        "n_items",
        "base_quota",
        "extra",
        (F.col("base_quota") + F.col("extra")).cast("bigint").alias("quota"),
    )


def quota_allocation_oracle_sql(
    groups_cte: str, *, key: str, total_slots: int
) -> str:
    """DuckDB twin of :func:`quota_allocation`; ``groups_cte`` must
    define ``grp(key, n_items)``."""
    return f"""WITH {groups_cte},
    tot AS (SELECT CAST(sum(n_items) AS BIGINT) AS c FROM grp),
    scaled AS (SELECT {key}, n_items,
        ({total_slots} * n_items) // tot.c AS base_quota,
        ({total_slots} * n_items) % tot.c AS rem
      FROM grp, tot),
    bs AS (SELECT CAST(sum(base_quota) AS BIGINT) AS s FROM scaled),
    ranked AS (SELECT *,
        row_number() OVER (ORDER BY rem DESC, {key}) AS rk FROM scaled)
    SELECT {key}, CAST(n_items AS BIGINT) AS n_items,
           CAST(base_quota AS BIGINT) AS base_quota,
           CAST(CASE WHEN rk <= {total_slots} - bs.s THEN 1 ELSE 0 END
                AS BIGINT) AS extra,
           CAST(base_quota
                + CASE WHEN rk <= {total_slots} - bs.s THEN 1 ELSE 0 END
                AS BIGINT) AS quota
    FROM ranked, bs"""
