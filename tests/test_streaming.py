"""Structured Streaming: the windowed agg runs as a real stream and
matches its batch twin (unified-model invariant)."""

from __future__ import annotations

from pyspark.sql import functions as F

from autovalidate_backend_api_spark.streaming.events import (
    build_window_agg,
    run_streaming_window_agg,
    sessionize_batch,
)


def test_stream_matches_batch(spark, sf_dir, tmp_path):
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    expected = {
        (r["window"]["start"], r["event_type"]): (r["n_events"], round(r["total_value"], 6))
        for r in build_window_agg(batch).collect()
    }
    # FileStreamSource requires a directory of files
    import shutil

    src = tmp_path / "events_stream"
    src.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", src / "part-000.parquet")
    got_df = run_streaming_window_agg(spark, str(src))
    got = {
        (r["window"]["start"], r["event_type"]): (r["n_events"], round(r["total_value"], 6))
        for r in got_df.collect()
    }
    assert got == expected


def test_sessionize_counts(spark, sf_dir):
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = sessionize_batch(events)
    rows = out.collect()
    assert len(rows) == events.select("user_id").distinct().count()
    assert all(r["n_sessions"] >= 1 for r in rows)
    total_events = events.count()
    assert sum(r["n_sessions"] for r in rows) <= total_events


def test_streaming_dedup_first_arrival_wins(spark, tmp_path):
    """Stateful streaming exact-dedup (Stage A's streaming face): across
    micro-batches, only the first row per content digest survives."""
    import pyspark.sql.types as T
    from pyspark.sql import functions as F

    from autovalidate_backend_api_spark.streaming.events import run_streaming_dedup

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("content", T.StringType()),
        ]
    )
    src = str(tmp_path / "docs_stream")
    # two files → two micro-batches (maxFilesPerTrigger=1); dup content
    # appears in both batches and within a batch
    batch1 = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", "alpha"), (2, "2024-01-01 00:01:00", "alpha"),
         (3, "2024-01-01 00:02:00", "beta")],
        "doc_id long, ts string, content string",
    ).withColumn("ts", F.to_timestamp("ts"))
    batch2 = spark.createDataFrame(
        [(4, "2024-01-01 00:03:00", "beta"), (5, "2024-01-01 00:04:00", "gamma")],
        "doc_id long, ts string, content string",
    ).withColumn("ts", F.to_timestamp("ts"))
    batch1.coalesce(1).write.parquet(src + "/b1")
    batch2.coalesce(1).write.parquet(src + "/b2")
    # flatten into one source dir (streaming reads files in order)
    import glob
    import shutil

    os_files = sorted(glob.glob(src + "/b*/part-*.parquet"))
    for i, f in enumerate(os_files):
        shutil.copy(f, f"{src}/file_{i}.parquet")
    shutil.rmtree(src + "/b1")
    shutil.rmtree(src + "/b2")

    out = run_streaming_dedup(spark, src, schema, query_name="dedup_t1")
    contents = sorted(r["content"] for r in out.collect())
    assert contents == ["alpha", "beta", "gamma"]


def test_lexical_profile_runs_as_stream(spark, sf_dir, tmp_path):
    """doc_lexical_profile's projection (lexical_profile) is shuffle-free,
    so the SAME function must run unmodified on a streaming DataFrame and
    agree row-for-row with its batch twin — extending the unified-model
    property to the per-doc lexical diversity layer."""
    import shutil

    from autovalidate_backend_api_spark.entrypoints import lexical_profile

    batch = spark.read.parquet(f"{sf_dir}/documents.parquet")
    schema = batch.schema
    src = tmp_path / "docs_lex_stream"
    src.mkdir()
    shutil.copy(f"{sf_dir}/documents.parquet", src / "part-000.parquet")
    stream = spark.readStream.schema(schema).parquet(str(src))

    prof = lexical_profile(stream)
    assert prof.isStreaming
    q = (
        prof.writeStream.outputMode("append")
        .format("memory")
        .queryName("lex_stream")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    key = lambda r: (  # noqa: E731
        r["n_tokens"], r["n_distinct"], r["ttr"], r["avg_token_len"],
        r["pct_long"],
    )
    got = {
        r["doc_id"]: key(r)
        for r in spark.sql("SELECT * FROM lex_stream").collect()
    }
    want = {r["doc_id"]: key(r) for r in lexical_profile(batch).collect()}
    assert got == want
