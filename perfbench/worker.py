"""One workload in one process: build the session, run, write the result.

Started by ``run.py`` with the environment it prepares; writes the
result as JSON to ``--result``. In trace mode it also splits the
session's event log by tag and writes the spans and the layer table.
"""

from __future__ import annotations

import argparse
import json
import os
import time
from concurrent.futures import ThreadPoolExecutor


def _layers(out, spans, log_dir: str, seed: int) -> dict[str, float]:
    from kernel import probe
    from tracing import read_events, layer_table
    from workloads import EXTRA_TAG_METRICS, TAG_METRICS

    table = layer_table(read_events(log_dir))
    walls = spans.wall_s()
    layers = dict(out.layers)
    for tag in out.layer_tags:
        row = table.get(tag, {})
        layers[f"{tag}.wall_s"] = walls.get(tag, 0.0)
        for m, _ in TAG_METRICS[1:]:
            layers[f"{tag}.{m}"] = row.get(m, 0.0)
        for m in EXTRA_TAG_METRICS.get(tag, ()):
            if m in ("py_run_s", "py_bytes_mb"):
                layers[f"{tag}.{m}"] = row.get(m, 0.0)
    if not out.layer_tags[0].startswith("gate."):
        layers.update(probe(seed))
    layers["trace.wall_s"] = out.trace_wall_s
    layers["trace.tagged_share"] = sum(walls.values()) / out.trace_wall_s
    return layers


def main() -> None:
    t_start = time.monotonic()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--result", required=True)
    ap.add_argument("--trace-out", required=True)
    args = ap.parse_args()

    golden = None
    if args.workload != "gate_suite":
        # pure Python; overlaps the JVM start, where the driver only waits
        import inputs

        pool = ThreadPoolExecutor(max_workers=1)
        golden = pool.submit(inputs.golden_pairs, args.seed)
        pool.shutdown(wait=False)

    from autovalidate_backend_api_spark.session import build_session
    from tracing import event_log_conf
    from workloads import WORKLOADS, Ctx, gate_layer_units, pipeline_layer_units

    log_dir = f"{args.work}/eventlog"
    conf = {"spark.sql.warehouse.dir": f"{args.work}/warehouse",
            "spark.ui.showConsoleProgress": "false"}
    if args.trace:
        conf.update(event_log_conf(log_dir))
    spark = build_session(
        app_name=f"perfbench-{args.workload}",
        master=f"local[{len(os.sched_getaffinity(0))}]",
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    ctx = Ctx(spark, args.work, args.seed, args.seconds, bool(args.trace),
              session_s=time.monotonic() - t_start, golden=golden)
    try:
        out = WORKLOADS[args.workload](ctx)
    finally:
        spark.stop()

    metrics = out.metrics
    if args.trace:
        units = gate_layer_units() if args.workload == "gate_suite" else pipeline_layer_units()
        layers = _layers(out, ctx.spans, log_dir, args.seed)
        metrics = {name: (layers[name], unit) for name, unit in units.items()}
        with open(args.trace_out, "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed,
                       "spans": ctx.spans.spans, "layers": layers,
                       "report": out.report}, f, indent=1)
    result = {
        "correct": out.correct,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        "report": {k: {"value": v, "unit": u} for k, (v, u) in out.report.items()},
    }
    with open(args.result, "w") as f:
        json.dump(result, f)


if __name__ == "__main__":
    main()
