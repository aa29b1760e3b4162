"""``query_sql``: a closed loop with one client over the batch layers.

One cycle is every query key of ``query_mix.keys()`` (built and forced to
the noop sink, as ``bench.py`` runs them) plus one statement of each kind
in ``sink_sql.CYCLE`` against a manifest sink shaped like
``json_message``, in an order the seed draws.  The loop runs whole cycles until
``--seconds`` have elapsed, so every key and statement kind runs equally
often.  This workload exercises ``plans`` (and ``operators`` behind it),
``sqlstmt``, the sink's read and rewrite paths and Spark's shuffle and
task layer; it touches no source or streaming code.

The query keys and the statements share one workload, and one Spark
session, because the benchmark's time budget has room for two JVM
start-ups per pair of runs, not three (see README.md).

Set-up, all checked:

1. session start;
2. one pass over the keys, each result compared with its DuckDB oracle
   (``query_mix.checked_pass``), which also warms the query paths;
3. the starting sink built with ``sinks.write_append`` -- reported as
   ``sinks.build_s`` and left out of ``setup_s``;
4. one statement of each kind, each checked against the DuckDB mirror:
   a statement kind's first run in a session costs up to four times a
   later one, and by an amount that differs from run to run.
"""

from __future__ import annotations

import os
import random
import sys
import time

import common
import query_mix
import sink_sql

def prepare() -> float:
    return query_mix.prepare()


def run(args, t_start: float, run_dir: str, rss: common.RssSampler) -> dict:
    from mqtt_message_pump_spark.sinks import files_sink

    spans = common.Spans()
    rng = random.Random(args.seed)
    keys = query_mix.keys()
    with spans.span("session.start"):
        spark = common.start_spark(run_dir, args.trace, "query-sql")
    sc = spark.sparkContext

    rng.shuffle(keys)
    problems = query_mix.checked_pass(spark, keys)
    attempted = len(keys)
    failed = len(problems)

    path = os.path.join(run_dir, sink_sql.TABLE)
    sc.setJobDescription("build")
    with spans.span("sinks.build"):
        rows, mids = sink_sql.build(spark, path, rng)
    build_s = spans.total("sinks.build")
    client = sink_sql.Client(spark, path, sink_sql.Mirror(rows), rng, mids)

    def send(op: tuple[str, str], measured: list | None) -> None:
        nonlocal attempted, failed
        attempted += 1
        try:
            if op[0] == "query":
                out = query_mix.timed_call(spark, op[1], spans)
                out["problem"] = None
            else:
                out = client.run(op[1], spans)
        except Exception as e:  # noqa: BLE001 - counted as a failed call
            out = {"problem": f"{op}: {type(e).__name__}: {e}"}
        if out["problem"]:
            failed += 1
            problems.append(out["problem"])
        elif measured is not None:
            measured.append(out)

    for kind in sink_sql.CYCLE:
        send(("stmt", kind), None)
    t_ready = time.time()

    client.tag = "op"
    ops: list[dict] = []
    cycles = 0
    t_loop = time.perf_counter()
    while cycles == 0 or time.perf_counter() - t_loop < args.seconds:
        cycle = [("query", k) for k in keys] + [("stmt", s) for s in sink_sql.CYCLE]
        rng.shuffle(cycle)
        for op in cycle:
            send(op, ops)
        cycles += 1
    wall = time.perf_counter() - t_loop

    attempted += 1
    problem, n_rows = sink_sql.final_check(spark, path, client.mirror)
    if problem:
        failed += 1
        problems.append(problem)
    live = []
    if args.trace:
        with spans.span("sinks.files_sink"):
            live = [r.asDict() for r in files_sink(spark, path).collect()]
    sc.setJobDescription(None)
    for p in problems[:20]:
        print(f"# query_sql check: {p}", file=sys.stderr)

    res = {"problems": problems, "attempted": attempted, "failed": failed,
           "spans": spans, "spark": spark, "ops": ops, "wall": wall,
           "cpus": int(sc.defaultParallelism)}
    if not ops:
        problems.append("no operation completed")
        return res
    lat = [o["latency_s"] for o in ops]
    res["e2e"] = {
        "setup_s": t_ready - t_start - build_s,
        "latency_p50_s": common.median(lat),
        "latency_p90_s": common.percentile(lat, 90),
        "ops_per_s": len(lat) / wall,
    }
    queries = [o for o in ops if o["kind"] == "query"]
    stmts = [o for o in ops if o["kind"] != "query"]
    if args.trace:
        res["layer"] = _layer_metrics(ops, queries, stmts, live, path, n_rows,
                                      build_s, res["e2e"]["latency_p50_s"])
    for o in ops:
        print(f"# op {o.get('key', o['kind'])}: {o['latency_s']:.3f} s", file=sys.stderr)
    print(
        f"# query_sql: {cycles} cycles, {len(queries)} queries + {len(stmts)} "
        f"statements in {wall:.2f} s; {n_rows} rows at the end, "
        f"build {build_s:.2f} s",
        file=sys.stderr,
    )
    return res


def _layer_metrics(ops, queries, stmts, live, path, n_rows, build_s,
                   latency_p50_s) -> dict:
    layer = sink_sql.layer_metrics(stmts, live, path, n_rows, build_s)
    modules: dict[str, list[float]] = {}
    for q in queries:
        modules.setdefault(query_mix.plan_module(q["key"]), []).append(q["exec_s"])
    layer.update(
        {
            "driver.plan_s_per_op": common.median([o["plan_s"] for o in ops]),
            "driver.exec_s_per_op": common.median([o["exec_s"] for o in ops]),
            "plans.construct_s": common.median([q["plan_s"] for q in queries]),
            "plans.execute_s": common.median([q["exec_s"] for q in queries]),
            "trace.latency_p50_s": latency_p50_s,
            **{f"plans.{m}.execute_s": common.median(v) for m, v in modules.items()},
        }
    )
    return layer


def spark_layer(events: list[dict], res: dict) -> dict:
    """Spark counters per measured operation, plus the per-kind split."""

    def label(job):
        parts = common.job_description(job).split(":")
        return parts[1] if parts[0] == "op" and len(parts) > 2 else None

    prof = common.job_profile(events, label)
    n_query = sum(1 for o in res["ops"] if o["kind"] == "query")
    n_stmt = len(res["ops"]) - n_query
    total = {
        k: sum(p[k] for p in prof.values())
        for k in ("jobs", "stages", "tasks", "one_task_stages", "run_s", "gc_s",
                  "sched_delay_s", "shuffle_write_b", "spill_b")
    }
    out = common.per_op_layer(total, len(res["ops"]), res["wall"], res["cpus"])
    for kind, n in (("query", n_query), ("stmt", n_stmt)):
        p = prof.get(kind)
        if p is None or not n:
            continue
        name = "plans" if kind == "query" else "sqlstmt"
        out[f"{name}.jobs_per_op"] = p["jobs"] / n
        out[f"{name}.stages_per_op"] = p["stages"] / n
        out[f"{name}.tasks_per_op"] = p["tasks"] / n
        out[f"{name}.one_task_stages_per_op"] = p["one_task_stages"] / n
        out[f"{name}.shuffle_write_mb_per_op"] = p["shuffle_write_b"] / 2**20 / n
    return out
