"""Benchmark entry point.

    python3 perfbench/run.py --workload <ingest_live|query_sql>
        --seed <n> --seconds <s> --trace <0|1>

Prints, as the last line of standard output, one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics of BENCHMARK.json with ``--trace 0``, the per-layer metrics with
``--trace 1``.  Every run uses a fresh scratch directory under
``perfbench/.cache/runs`` and removes it at exit; traced runs also write
their spans and Spark counters to ``perfbench/.cache/trace``.

``--rate`` (messages per second, ``ingest_live`` only) and ``--cpus``
exist for recording the rate ramp and the single-core baseline; the
benchmark's own runs leave both at their defaults.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import common  # noqa: E402

sys.path.insert(1, common.ROOT)

WORKLOADS = ("ingest_live", "query_sql")


def _metric_units(kind: str) -> dict[str, str]:
    """Name -> unit of the ``end_to_end`` or ``per_layer`` metrics."""
    with open(os.path.join(common.ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def main() -> int:
    t_start = common.process_start_time()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--rate", type=float, default=None)
    ap.add_argument("--cpus", type=int, default=None)
    args = ap.parse_args()
    args.trace = bool(args.trace)
    # a terminated run still stops the JVM and reaps its processes
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    # fail fast, before any set-up, when the program is not beside us
    import mqtt_message_pump_spark  # noqa: F401

    import importlib

    workload = importlib.import_module(args.workload)
    units = _metric_units("per_layer" if args.trace else "end_to_end")
    prepared = workload.prepare() if hasattr(workload, "prepare") else 0.0

    run_dir = common.make_run_dir(args.workload, args.seed)
    common.set_environment(run_dir, args.cpus or common.nproc())
    rss = common.RssSampler().start()
    spark = None
    try:
        res = workload.run(args, t_start + prepared, run_dir, rss)
        spark = res.pop("spark", None)
        if spark is not None:
            common.stop_spark(spark)
            spark = None
        peak = rss.stop()
        print(f"# processes at peak RSS (MB): {rss.at_peak}", file=sys.stderr)
        if args.trace:
            events = common.read_event_log(run_dir)
            layer = dict(res.get("layer", {}))
            layer.update(workload.spark_layer(events, res))
            overhead = common.tracing_overhead(args.workload, res.get("e2e"))
            path = common.write_trace(
                args.workload, args.seed,
                {"layer": layer, "e2e": res.get("e2e"),
                 "tracing_overhead": overhead,
                 "spans": res["spans"].items, "problems": res["problems"]},
            )
            print(f"# trace written to {path}", file=sys.stderr)
            print(f"# tracing overhead: {json.dumps(overhead)}", file=sys.stderr)
            # a count of a layer this workload never calls is 0
            unused = sorted(set(units) - set(layer))
            print(f"# layers unused by {args.workload}: {unused}", file=sys.stderr)
            metrics = {
                name: (layer.get(name, 0.0), unit) for name, unit in units.items()
            }
        else:
            e2e = dict(res.get("e2e", {}))
            e2e["peak_rss_mb"] = peak
            common.record_untraced(args.workload, e2e)
            metrics = {
                name: (e2e[name], unit) for name, unit in units.items() if name in e2e
            }
        for name, (value, unit) in sorted(metrics.items()):
            print(f"# {name} = {value:.6g} {unit}", file=sys.stderr)
        correct = not res["problems"] and len(metrics) == len(units)
    finally:
        if spark is not None:
            common.stop_spark(spark)
        rss.stop()
        common.reap_descendants()
        common.remove_run_dir(run_dir)
    print(common.result_line(correct, res["attempted"], res["failed"], metrics))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
