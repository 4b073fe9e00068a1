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


def _stream_to_memory(spark, src, schema, build, name):
    """Drive a stateful transformation file-by-file into a memory sink
    (update mode); returns all emitted rows across batches."""
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = (
        build(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
        n_batches = len(q.recentProgress)
    finally:
        q.stop()
    return spark.sql(f"SELECT * FROM {name}").collect(), n_batches


def test_sessionize_stateful_matches_batch_on_ordered_stream(spark, tmp_path):
    """applyInPandasWithState sessionizer ≡ sessionize_batch when files
    arrive in event-time order: a session CONTINUES across a batch
    boundary (user 1, 00:10 → 00:20) and a new one opens across a batch
    boundary (user 2, 00:05 → 01:00) — both are state, not windowing.
    Rows within a file are deliberately out of order."""
    import pyspark.sql.types as T

    from autovalidate_backend_api_spark.streaming.stateful import (
        sessionize_stateful,
    )

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
        ]
    )
    files = [
        # (event_id, ts, user_id) — file 1 intra-batch disorder
        [(2, "2024-01-01 00:10:00", 1), (1, "2024-01-01 00:00:00", 1),
         (3, "2024-01-01 00:05:00", 2)],
        [(4, "2024-01-01 00:20:00", 1), (5, "2024-01-01 01:00:00", 2)],
        [(6, "2024-01-01 02:00:00", 1), (7, "2024-01-01 01:10:00", 2)],
    ]
    src = str(tmp_path / "sess_stream")
    all_rows = []
    for i, rows in enumerate(files):
        df = spark.createDataFrame(
            rows, "event_id long, ts string, user_id long"
        ).withColumn("ts", F.to_timestamp("ts"))
        df.coalesce(1).write.parquet(f"{src}/tmp{i}")
        all_rows += rows
    import glob
    import os
    import shutil
    import time

    # FileStreamSource orders files by mtime, and copies made within one
    # clock tick tie: strictly increasing mtimes make the in-order
    # arrival this test is about hold.
    t0 = time.time() - 60
    for i in range(len(files)):
        part = glob.glob(f"{src}/tmp{i}/part-*.parquet")[0]
        shutil.copy(part, f"{src}/file_{i}.parquet")
        os.utime(f"{src}/file_{i}.parquet", (t0 + i, t0 + i))
        shutil.rmtree(f"{src}/tmp{i}")

    emitted, n_batches = _stream_to_memory(
        spark, src, schema, lambda s: sessionize_stateful(s, 30), "sess_sf"
    )
    assert n_batches >= 3  # state genuinely crossed micro-batches
    final = {}
    for r in emitted:  # n_events_seen is monotone → max row is latest
        cur = final.get(r["user_id"])
        if cur is None or r["n_events_seen"] > cur["n_events_seen"]:
            final[r["user_id"]] = r
    got = {u: r["n_sessions"] for u, r in final.items()}
    assert got == {1: 2, 2: 2}

    batch = spark.createDataFrame(
        all_rows, "event_id long, ts string, user_id long"
    ).withColumn("ts", F.to_timestamp("ts"))
    want = {
        r["user_id"]: r["n_sessions"] for r in sessionize_batch(batch, 30).collect()
    }
    assert got == want


def test_kmv_state_distinct_equals_batch_bottom_k_exactly(spark, tmp_path):
    """Mergeable-sketch state: the final per-group row equals the batch
    bottom-k over ALL files EXACTLY (order-insensitive merge), for both
    estimator branches (grp 'a' ≥ k distinct terms → (k−1)·2^48/v_k;
    grp 'b' < k → exact count)."""
    import pyspark.sql.types as T

    from autovalidate_backend_api_spark.operators.sketches import KMV_NUM
    from autovalidate_backend_api_spark.streaming.stateful import (
        hash48,
        kmv_state_distinct,
    )

    k = 8
    schema = T.StructType(
        [
            T.StructField("grp", T.StringType()),
            T.StructField("terms", T.ArrayType(T.StringType())),
        ]
    )
    files = [
        [("a", [f"t{i}" for i in range(0, 12)]), ("b", ["x", "y"])],
        [("a", [f"t{i}" for i in range(6, 20)]), ("b", ["y", "z"])],
        [("a", [f"t{i}" for i in range(15, 25)])],
    ]
    src = str(tmp_path / "kmv_stream")
    import glob
    import shutil

    for i, rows in enumerate(files):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            f"{src}/tmp{i}"
        )
        part = glob.glob(f"{src}/tmp{i}/part-*.parquet")[0]
        shutil.copy(part, f"{src}/file_{i}.parquet")
        shutil.rmtree(f"{src}/tmp{i}")

    emitted, n_batches = _stream_to_memory(
        spark, src, schema, lambda s: kmv_state_distinct(s, k=k), "kmv_sf"
    )
    assert n_batches >= 3
    final = {}
    for r in emitted:  # n_term_occurrences is monotone per group
        cur = final.get(r["grp"])
        if cur is None or r["n_term_occurrences"] > cur["n_term_occurrences"]:
            final[r["grp"]] = r

    for grp in ("a", "b"):
        terms = {t for rows in files for g, ts in rows if g == grp for t in ts}
        bottom = sorted(hash48(t) for t in terms)[:k]
        r = final[grp]
        assert r["n_k"] == len(bottom)
        assert r["kth_min_hash"] == bottom[-1]
        want = (
            float(len(bottom)) if len(bottom) < k else KMV_NUM / float(bottom[-1])
        )
        assert r["kmv_estimate"] == round(want, 3)
    # grp a crossed the k boundary → estimator branch; grp b exact branch
    assert final["a"]["n_k"] == k and final["b"]["n_k"] == 3


def test_stateful_ops_reject_batch_frames(spark):
    import pytest as _pytest

    from autovalidate_backend_api_spark.streaming.stateful import (
        kmv_state_distinct,
        sessionize_stateful,
    )

    df = spark.createDataFrame([(1,)], "user_id long")
    with _pytest.raises(ValueError):
        sessionize_stateful(df)
    with _pytest.raises(ValueError):
        kmv_state_distinct(df)


def test_stream_stream_interval_join_matches_batch(spark, sf_dir, tmp_path):
    """Stream-stream watermarked INNER interval join (§2.8): two real
    streams (signups, purchases) derived from the events feed, joined
    within a 6h bound per user — result row-for-row equal to the same
    builder applied to batch frames. The time-range predicate + both
    watermarks are what bound the join state on an unbounded feed."""
    import shutil

    from autovalidate_backend_api_spark.streaming.events import EVENT_SCHEMA
    from autovalidate_backend_api_spark.streaming.joins import interval_join

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    b_sign = batch.filter(F.col("event_type") == "signup")
    b_pur = batch.filter(F.col("event_type") == "purchase")
    expected = {
        tuple(r) for r in interval_join(b_sign, b_pur).collect()
    }

    src = tmp_path / "ev_join_stream"
    src.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", src / "part-000.parquet")
    stream = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    s_sign = stream.filter(F.col("event_type") == "signup")
    s_pur = stream.filter(F.col("event_type") == "purchase")
    q = (
        interval_join(s_sign, s_pur)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("ssij")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {tuple(r) for r in spark.sql("SELECT * FROM ssij").collect()}
    assert got == expected and len(expected) > 0


def test_idempotent_sink_replay_and_crash_recovery(spark, tmp_path):
    """Exactly-once over at-least-once: a replayed committed batch is a
    no-op; a staged-but-uncommitted batch (crash between write and
    commit) stays invisible until its replay commits it."""
    import os

    from autovalidate_backend_api_spark.streaming.sink import (
        IdempotentBatchSink,
        read_committed,
    )

    out = str(tmp_path / "sink_out")
    sink = IdempotentBatchSink(out)
    b0 = spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string")
    sink(b0, 0)
    sink(b0, 0)  # replay of a committed batch
    got = read_committed(spark, out)
    assert got.count() == 2  # not 4

    # crash sim: batch 1 staged without commit -> invisible
    b1 = spark.createDataFrame([(3, "c")], "id long, s string")
    b1.write.mode("overwrite").parquet(os.path.join(out, "batch_id=1"))
    assert read_committed(spark, out).count() == 2
    sink(b1, 1)  # replay commits it
    assert read_committed(spark, out).count() == 3
    assert sink.committed_ids() == [0, 1]


def test_idempotent_sink_under_real_stream(spark, sf_dir, tmp_path):
    """Drive a real streaming query through foreachBatch into the sink;
    committed output equals the source rows exactly."""
    import shutil

    from autovalidate_backend_api_spark.streaming.events import EVENT_SCHEMA
    from autovalidate_backend_api_spark.streaming.sink import (
        IdempotentBatchSink,
        read_committed,
    )

    src = tmp_path / "ev_sink_src"
    src.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", src / "part-000.parquet")
    out = str(tmp_path / "ev_sink_out")
    stream = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    q = (
        stream.writeStream.foreachBatch(IdempotentBatchSink(out))
        .option("checkpointLocation", str(tmp_path / "ev_sink_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    got = read_committed(spark, out)
    assert got.count() == batch.count()
    assert {r.event_id for r in got.select("event_id").collect()} == {
        r.event_id for r in batch.select("event_id").collect()
    }


def test_cdc_state_latest_equals_batch_cdc_apply(spark, tmp_path):
    """Order-insensitive fold: the streamed per-key latest state equals
    relational.cdc_apply over the union of all files, even though the
    slicing puts later seqs in EARLIER files for some keys."""
    import glob
    import shutil

    import pyspark.sql.types as T

    from autovalidate_backend_api_spark.operators.relational import cdc_apply
    from autovalidate_backend_api_spark.streaming.stateful import (
        cdc_state_latest,
    )

    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("seq", T.LongType()),
            T.StructField("op", T.StringType()),
            T.StructField("val", T.StringType()),
        ]
    )
    files = [
        # key 1: delete arrives BEFORE the earlier-seq update
        [(1, 3, "D", "x"), (2, 1, "U", "b1")],
        [(1, 1, "U", "a1"), (2, 2, "U", "b2"), (3, 1, "U", "c1")],
        # key 3: re-insert after delete; key 4: seq tie, delete wins
        [(3, 2, "D", "c1"), (3, 5, "U", "c2"), (4, 7, "U", "d"),
         (4, 7, "D", "d")],
    ]
    src = str(tmp_path / "cdc_stream")
    for i, rows in enumerate(files):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            f"{src}/tmp{i}"
        )
        part = glob.glob(f"{src}/tmp{i}/part-*.parquet")[0]
        shutil.copy(part, f"{src}/file_{i}.parquet")
        shutil.rmtree(f"{src}/tmp{i}")

    emitted, n_batches = _stream_to_memory(
        spark, src, schema, cdc_state_latest, "cdc_sf"
    )
    assert n_batches >= 3
    final = {}
    for r in emitted:  # seq is monotone per key
        cur = final.get(r["k"])
        if cur is None or (r["seq"], r["is_deleted"]) >= (cur["seq"], cur["is_deleted"]):
            final[r["k"]] = r
    stream_state = {
        k: r["val"] for k, r in final.items() if r["is_deleted"] == 0
    }

    all_rows = [r for rows in files for r in rows]
    base = spark.createDataFrame([], "k bigint, val string")
    changes = spark.createDataFrame(all_rows, schema)
    batch_state = {
        r["k"]: r["val"]
        for r in cdc_apply(
            base, changes, key_cols=["k"], seq_col="seq", op_col="op"
        ).collect()
    }
    assert stream_state == batch_state == {2: "b2", 3: "c2"}


def test_cdc_state_latest_rejects_batch(spark):
    from autovalidate_backend_api_spark.streaming.stateful import (
        cdc_state_latest,
    )

    df = spark.createDataFrame([(1, 1, "U", "a")],
                               "k bigint, seq bigint, op string, val string")
    import pytest

    with pytest.raises(ValueError):
        cdc_state_latest(df)


def test_ewma_state_matches_batch_fold_bitwise(spark, tmp_path):
    """Streaming EWMA ≡ batch ewma_by_key BITWISE under event-time-
    ordered file arrival: the fold crosses micro-batch boundaries via
    state, intra-file disorder is absorbed by the per-batch sort, and
    every double op is the identical exactly-rounded sequence the
    batch operator runs."""
    import pyspark.sql.types as T

    from autovalidate_backend_api_spark.operators.temporal import ewma_by_key
    from autovalidate_backend_api_spark.streaming.stateful import ewma_state

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    files = [
        # intra-file disorder; per-user event-time order across files
        [(2, "2024-01-01 00:10:00", 1, 3.3), (1, "2024-01-01 00:00:00", 1, 10.1),
         (3, "2024-01-01 00:05:00", 2, 42.5)],
        [(4, "2024-01-01 00:20:00", 1, 7.77), (5, "2024-01-01 01:00:00", 2, 0.25)],
        [(6, "2024-01-01 02:00:00", 1, 1.125)],
    ]
    src = str(tmp_path / "ewma_stream")
    import glob
    import shutil

    for i, rows in enumerate(files):
        df = spark.createDataFrame(
            rows, "event_id long, ts string, user_id long, value double"
        ).withColumn("ts", F.to_timestamp("ts"))
        df.coalesce(1).write.parquet(f"{src}/tmp{i}")
        part = glob.glob(f"{src}/tmp{i}/part-*.parquet")[0]
        shutil.copy(part, f"{src}/file_{i}.parquet")
        shutil.rmtree(f"{src}/tmp{i}")

    emitted, n_batches = _stream_to_memory(
        spark, src, schema, lambda s: ewma_state(s), "ewma_sf"
    )
    assert n_batches >= 3  # the fold genuinely crossed micro-batches
    final = {}
    for r in emitted:  # n_events is monotone → max row is latest
        cur = final.get(r["user_id"])
        if cur is None or r["n_events"] > cur["n_events"]:
            final[r["user_id"]] = r

    batch_rows = spark.createDataFrame(
        [r for rows in files for r in rows],
        "event_id long, ts string, user_id long, value double",
    ).withColumn("ts", F.to_timestamp("ts"))
    want = {
        r["user_id"]: r
        for r in ewma_by_key(
            batch_rows, key="user_id", ts="ts", tiebreak="event_id",
            value="value",
        ).collect()
    }
    assert set(final) == set(want) == {1, 2}
    for uid in want:
        assert final[uid]["n_events"] == want[uid]["n_events"]
        assert final[uid]["ewma_value"] == want[uid]["ewma_value"]  # bitwise
        assert final[uid]["last_value"] == want[uid]["last_value"]


def test_cusum_state_matches_batch_fold_bitwise(spark, tmp_path):
    """Streaming CUSUM ≡ batch cusum_drift BITWISE under event-time-
    ordered file arrival — the ewma_state contract applied to the
    struct-accumulator recurrence (S, M). allowance=5.0 keeps both the
    clamped-to-zero and accumulating branches exercised; user 1 drifts
    (values ≫ allowance), user 2 stays flat."""
    import pyspark.sql.types as T

    from autovalidate_backend_api_spark.operators.temporal import cusum_drift
    from autovalidate_backend_api_spark.streaming.stateful import cusum_state

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    files = [
        [(2, "2024-01-01 00:10:00", 1, 9.5), (1, "2024-01-01 00:00:00", 1, 12.25),
         (3, "2024-01-01 00:05:00", 2, 1.5)],
        [(4, "2024-01-01 00:20:00", 1, 0.75), (5, "2024-01-01 01:00:00", 2, 2.25)],
        [(6, "2024-01-01 02:00:00", 1, 30.125), (7, "2024-01-01 02:30:00", 2, 0.5)],
    ]
    src = str(tmp_path / "cusum_stream")
    import glob
    import shutil

    for i, rows in enumerate(files):
        df = spark.createDataFrame(
            rows, "event_id long, ts string, user_id long, value double"
        ).withColumn("ts", F.to_timestamp("ts"))
        df.coalesce(1).write.parquet(f"{src}/tmp{i}")
        part = glob.glob(f"{src}/tmp{i}/part-*.parquet")[0]
        shutil.copy(part, f"{src}/file_{i}.parquet")
        shutil.rmtree(f"{src}/tmp{i}")

    emitted, n_batches = _stream_to_memory(
        spark, src, schema,
        lambda s: cusum_state(s, allowance=5.0, threshold=20.0), "cusum_sf"
    )
    assert n_batches >= 3
    final = {}
    for r in emitted:
        cur = final.get(r["user_id"])
        if cur is None or r["n_events"] > cur["n_events"]:
            final[r["user_id"]] = r

    batch_rows = spark.createDataFrame(
        [r for rows in files for r in rows],
        "event_id long, ts string, user_id long, value double",
    ).withColumn("ts", F.to_timestamp("ts"))
    want = {
        r["user_id"]: r
        for r in cusum_drift(
            batch_rows, key="user_id", ts="ts", tiebreak="event_id",
            value="value", allowance=5.0, threshold=20.0,
        ).collect()
    }
    assert set(final) == set(want) == {1, 2}
    for uid in want:
        assert final[uid]["n_events"] == want[uid]["n_events"]
        assert final[uid]["cusum_final"] == want[uid]["cusum_final"]  # bitwise
        assert final[uid]["cusum_max"] == want[uid]["cusum_max"]
        assert final[uid]["drifted"] == want[uid]["drifted"]
    assert want[1]["drifted"] and not want[2]["drifted"]


def test_cusum_state_rejects_batch(spark):
    from autovalidate_backend_api_spark.streaming.stateful import cusum_state

    df = spark.createDataFrame([(1,)], "user_id: long")
    import pytest as _pytest

    with _pytest.raises(ValueError):
        cusum_state(df, allowance=1.0, threshold=2.0)


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
