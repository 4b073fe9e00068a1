"""Self-tests of the benchmark's own machinery (not of the product).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os

import pytest

import checks
import inputs
import tracing
import workloads

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


# ---------------------------------------------------------------------------
# digest
# ---------------------------------------------------------------------------

def test_digest_ignores_row_order_and_partitioning(spark):
    rows = [(f"k{i}", f"k{i % 7}") for i in range(500)]
    df = spark.createDataFrame(rows, "key string, cluster_rep string")
    want = checks.table_digest(df, ["key", "cluster_rep"])
    shuffled = df.orderBy("cluster_rep", "key", ascending=False).repartition(13)
    assert checks.table_digest(shuffled, ["key", "cluster_rep"]) == want
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        for n in ("1", "7", "64"):
            spark.conf.set("spark.sql.shuffle.partitions", n)
            grouped = df.groupBy("key").agg({"cluster_rep": "max"}).withColumnRenamed(
                "max(cluster_rep)", "cluster_rep"
            )
            assert checks.table_digest(grouped, ["key", "cluster_rep"]) == want
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def test_digest_sees_changed_and_repeated_rows(spark):
    rows = [(f"k{i}", "r") for i in range(50)]
    base = checks.table_digest(spark.createDataFrame(rows, "key string, rep string"),
                               ["key", "rep"])
    changed = rows[:-1] + [("k49", "other")]
    assert checks.table_digest(
        spark.createDataFrame(changed, "key string, rep string"), ["key", "rep"]
    ) != base
    # a row added twice cancels in XOR; the count and the sum still see it
    twice = rows + [("k0", "r"), ("k0", "r")]
    got = checks.table_digest(spark.createDataFrame(twice, "key string, rep string"),
                              ["key", "rep"])
    assert got.split(":")[1] == base.split(":")[1] and got != base


# ---------------------------------------------------------------------------
# event-log parser
# ---------------------------------------------------------------------------

def _task(stage: int, run_ms: int, cpu_ns: int, shuffle: int, py_ms: int = 0,
          py_bytes: int = 0) -> dict:
    acc = []
    if py_ms:
        acc = [{"Name": "time to run Python workers", "Update": str(py_ms)},
               {"Name": "data sent to Python workers", "Update": str(py_bytes)},
               {"Name": "data returned from Python workers", "Update": "0"}]
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Info": {"Accumulables": acc},
        "Task Metrics": {
            "Executor Run Time": run_ms, "Executor CPU Time": cpu_ns,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
            "Disk Bytes Spilled": 0,
        },
    }


def _job(job: int, tag: str | None, stages: dict[int, int]) -> list[dict]:
    props = {"spark.job.description": tag} if tag else {}
    out = [{"Event": "SparkListenerJobStart", "Job ID": job, "Stage IDs": list(stages),
            "Properties": props}]
    for sid, span in stages.items():
        out.append({"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": sid},
                    "Properties": props})
        out.append({"Event": "SparkListenerStageCompleted",
                    "Stage Info": {"Stage ID": sid, "Submission Time": 0,
                                   "Completion Time": span}})
    return out


CANNED = (
    _job(0, "a", {0: 1000, 1: 100})
    + [_task(0, 100, 1_000_000_000, 1_000_000, py_ms=500, py_bytes=1_000_000),
       _task(0, 300, 3_000_000_000, 2_000_000),
       _task(1, 50, 500_000_000, 0)]
    + _job(1, None, {2: 5000})
    + [_task(2, 9999, 9_000_000_000, 9_000_000)]
    + _job(2, "b", {3: 10}) + _job(3, "b", {})
    + [_task(3, 10, 0, 0), _task(3, 10, 0, 0), _task(3, 40, 0, 0)]
)


def test_layer_table_sums_per_tag(tmp_path):
    roll = tmp_path / "eventlog_v2_local-1"
    roll.mkdir()
    (roll / "appstatus_local-1").write_text("")
    # rolled over: file 10 follows file 2, though it sorts first as text
    half = len(CANNED) // 2
    for index, events in ((2, CANNED[:half]), (10, CANNED[half:])):
        (roll / f"events_{index}_local-1").write_text(
            "\n".join(json.dumps(e) for e in events) + "\n"
        )
    table = tracing.layer_table(tracing.read_events(str(tmp_path)))
    assert set(table) == {"a", "b"}  # the untagged job is left out
    a, b = table["a"], table["b"]
    assert a["jobs"] == 1 and b["jobs"] == 2
    assert a["task_cpu_s"] == pytest.approx(4.5)
    assert a["shuffle_write_mb"] == pytest.approx(3.0)
    assert a["py_run_s"] == pytest.approx(0.5)
    assert a["py_bytes_mb"] == pytest.approx(1.0)
    assert a["task_skew"] == pytest.approx(1.5)  # stage 0 is the longest: 300 / 200
    assert b["task_skew"] == pytest.approx(4.0)
    assert b["task_cpu_s"] == 0


# ---------------------------------------------------------------------------
# input generators
# ---------------------------------------------------------------------------

def _rows_digest(df) -> str:
    rows = sorted(tuple(r) for r in df.collect())
    return hashlib.sha256(repr(rows).encode()).hexdigest()


def test_documents_depend_only_on_seed():
    a = inputs.documents_pandas(5, 300).to_csv().encode()
    assert a == inputs.documents_pandas(5, 300).to_csv().encode()
    assert a != inputs.documents_pandas(6, 300).to_csv().encode()


def test_corpus_inputs_depend_only_on_seed(spark, tmp_path):
    digests = []
    for i, seed in enumerate((5, 5, 6)):
        base, incr = str(tmp_path / f"b{i}"), str(tmp_path / f"i{i}")
        n_base, n_incr = inputs.write_fold_inputs(
            spark, base, incr, seed, n_base=40, n_files=80, n_increment=8
        )
        assert (n_base, n_incr) == (72, 8)
        digests.append((_rows_digest(spark.read.parquet(base)),
                        _rows_digest(spark.read.parquet(incr))))
    assert digests[0] == digests[1]
    assert digests[0][0] != digests[2][0] and digests[0][1] != digests[2][1]


# ---------------------------------------------------------------------------
# BENCHMARK.json stays in step with what the workers report
# ---------------------------------------------------------------------------

def test_benchmark_json_lists_reported_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    per_layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert per_layer == workloads.pipeline_layer_units()
    assert {w["name"] for w in spec["workloads"]} <= set(workloads.WORKLOADS)
