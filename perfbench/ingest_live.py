"""``ingest_live``: the reference's whole dataflow under open-loop MQTT load.

The pump runs exactly as a user starts it, ``pump run`` (``cli.cmd_run``)
on a generated INI file: QoS 1, a persistent session under a fixed client
name, the manifest commit protocol, redelivery dedupe on, and a
``jsonsample`` of the generated record shape.  Trigger, poll window and
row budget keep their defaults (5 s, 5 s, 10,000 rows).  A separate
generator process (``generator.py``) hosts the broker, publishes on a
fixed schedule and listens to the monitor topic.

Latency of a message runs from its scheduled send time to the end of the
micro-batch that committed it to both sinks.
"""

from __future__ import annotations

import contextlib
import datetime
import glob
import json
import os
import subprocess
import sys
import threading

import common
import generator

# About half the rate the pump sustains with default settings on a
# 4-core host (see README.md, "Rate ramp").
RATE = 1000.0
WARMUP = generator.WARMUP
CLIENT_NAME = "bench-pump"


def _write_ini(run_dir: str, port: int) -> str:
    path = os.path.join(run_dir, "pump.ini")
    with open(path, "w", encoding="utf-8") as fh:
        fh.write(
            f"""[source-mqtt]
server = tcp://127.0.0.1:{port}
qos = 1
cleansession = false
clientname = {CLIENT_NAME}

[monitor-mqtt]
server = tcp://127.0.0.1:{port}
clientname = {CLIENT_NAME}

[topic]
topicroot = {generator.DATA_TOPIC_ROOT}

[store]
path = {os.path.join(run_dir, "sink")}
commitprotocol = manifest

[adapter]
jsonsample = {generator.json_sample()}

[batch]
dedupewatermark = 60
"""
        )
    return path


def _progress_listener():
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressLog(StreamingQueryListener):
        def __init__(self) -> None:
            self.progress: list[dict] = []
            self.terminated = threading.Event()

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            self.progress.append(json.loads(event.progress.json))

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            self.terminated.set()

    return ProgressLog()


def _batch_end(progress: dict) -> float:
    start = datetime.datetime.strptime(
        progress["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ"
    ).replace(tzinfo=datetime.timezone.utc)
    return start.timestamp() + progress["batchDuration"] / 1000.0


def _read_sink(spark, spans: common.Spans, table_path: str):
    """(batch_id -> pyarrow table, live-batch rows) of one manifest sink,
    read with pyarrow from the files its live manifests name."""
    import pyarrow.dataset as ds

    from mqtt_message_pump_spark.sinks import files_sink

    with spans.span("sinks.files_sink"):
        live = [r.asDict() for r in files_sink(spark, table_path).collect()]
    tables = {}
    for batch in live:
        files = sorted(
            glob.glob(os.path.join(table_path, batch["dir"], "**", "*.parquet"),
                      recursive=True)
        )
        batch["bytes"] = sum(os.path.getsize(f) for f in files)
        tables[batch["batch_id"]] = (
            ds.dataset(files, format="parquet", partitioning="hive").to_table()
            if files
            else None
        )
    return tables, live


def check_sinks(seed: int, published: int, raw: dict, flat: dict):
    """Map each published message to the batch that committed it.

    Returns ({seq: batch_id} for messages committed exactly once with
    the published values, [problems], {seq: receive time},
    {seq: scheduled send time})."""
    problems: list[str] = []
    raw_batch: dict[int, list[int]] = {}
    raw_payload: dict[int, str] = {}
    recv: dict[int, float] = {}
    sent: dict[int, float] = {}
    for batch_id, t in raw.items():
        if t is None:
            continue
        cols = t.select(["payload", "collect_datetime"]).to_pydict()
        for payload, collected in zip(cols["payload"], cols["collect_datetime"]):
            records = json.loads(payload)
            seq = next(iter(records.values()))["params"]["seq"]
            raw_batch.setdefault(seq, []).append(batch_id)
            raw_payload[seq] = payload
            recv[seq] = collected.replace(tzinfo=datetime.timezone.utc).timestamp()
    flat_rows: dict[tuple[int, str], list[tuple]] = {}
    for batch_id, t in flat.items():
        if t is None:
            continue
        cols = t.select(
            ["key_id", "command", "params_key", "params_thingKey",
             "params_value", "params_seq", "params_sent_us"]
        ).to_pydict()
        for i in range(t.num_rows):
            key = (int(cols["params_seq"][i]), cols["key_id"][i])
            flat_rows.setdefault(key, []).append(
                (batch_id, cols["command"][i], cols["params_key"][i],
                 cols["params_thingKey"][i], cols["params_value"][i],
                 int(cols["params_sent_us"][i]))
            )
    ok: dict[int, int] = {}
    for seq in range(published):
        batches = raw_batch.get(seq, [])
        if len(batches) != 1:
            problems.append(f"seq {seq}: {len(batches)} raw rows")
            continue
        records = json.loads(raw_payload[seq])
        sent_us = next(iter(records.values()))["params"]["sent_us"]
        expected = generator.message_records(seed, seq, sent_us)
        if records != expected:
            problems.append(f"seq {seq}: raw payload differs")
            continue
        sent[seq] = sent_us / 1e6
        good = True
        for key_id, rec in expected.items():
            rows = flat_rows.get((seq, key_id), [])
            p = rec["params"]
            want = (batches[0], rec["command"], p["key"], p["thingKey"],
                    p["value"], p["sent_us"])
            if rows != [want]:
                problems.append(f"seq {seq} record {key_id}: flat rows {rows}")
                good = False
                break
        if good:
            ok[seq] = batches[0]
    extra = set(raw_batch) - set(range(published))
    if extra:
        problems.append(f"{len(extra)} raw rows with unknown seq")
    n_flat = sum(len(v) for v in flat_rows.values())
    n_expected = sum(len(generator.message_records(seed, s, 0)) for s in range(published))
    if n_flat != n_expected:
        problems.append(f"json_message holds {n_flat} rows, expected {n_expected}")
    return ok, problems, recv, sent


def monitor_problems(monitor: list[dict], batches: int, committed: int) -> list[str]:
    """The monitor publishes once per batch, and its lifetime total is
    the number of committed rows."""
    if len(monitor) != batches:
        return [f"{len(monitor)} monitor messages for {batches} batches"]
    if monitor:
        last = monitor[-1]
        total = last["AvgPeriodSubMsgPerSec"] * last["RunTimeSeconds"]
        if round(total) != committed:
            return [f"monitor total {total:.1f} != {committed} rows"]
    return []


def run(args, t_start: float, run_dir: str, rss: common.RssSampler) -> dict:
    from mqtt_message_pump_spark import cli
    from mqtt_message_pump_spark.config import load_config

    spans = common.Spans()
    rate = args.rate or RATE
    gen = subprocess.Popen(
        [sys.executable, os.path.join(common.BENCH_DIR, "generator.py"),
         "--seed", str(args.seed), "--rate", str(rate),
         "--seconds", str(args.seconds)],
        stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
    )
    rss.exclude.add(gen.pid)
    try:
        port = json.loads(gen.stdout.readline())["port"]
        cfg = load_config(_write_ini(run_dir, port))
        with spans.span("session.start"):
            spark = common.start_spark(run_dir, args.trace, "pump-run")
        listener = _progress_listener()
        spark.streams.addListener(listener)
        # cmd_run drains once its duration is up: it stops at the first
        # batch that read no rows.  The duration only has to reach past
        # the query's start-up, so that the drain begins inside a trigger.
        with contextlib.redirect_stdout(sys.stderr), spans.span("cli.cmd_run"):
            rc = cli.cmd_run(cfg, None, max(args.seconds, 10.0))
        # listener events arrive asynchronously but in order: the query's
        # termination comes after its last progress event
        listener.terminated.wait(10.0)
        gen.stdin.write(f"{len(listener.progress)}\n")
        gen.stdin.flush()
        summary = json.loads(gen.stdout.readline())
        gen.wait(30)
        store = cfg.store.path
        raw, raw_live = _read_sink(spark, spans, f"{store}/raw_message")
        flat, flat_live = _read_sink(spark, spans, f"{store}/json_message")
        spark.streams.removeListener(listener)
        progress = sorted(listener.progress, key=lambda p: p["batchId"])
    except BaseException:
        gen.kill()
        gen.wait(10)
        raise

    problems = [] if rc == 0 else [f"pump run exited with {rc}"]
    if summary.get("error"):
        problems.append(f"generator: {summary['error']}")
    published = summary["published"]
    ok, check_problems, recv, sent = check_sinks(args.seed, published, raw, flat)
    problems += check_problems

    ends = {p["batchId"]: _batch_end(p) for p in progress}
    monitor = [json.loads(m) for _, m in summary.get("monitor", [])]
    committed = sum(t.num_rows for t in raw.values() if t is not None)
    problems += monitor_problems(monitor, len(progress), committed)

    ready = ends.get(0)
    load_start = summary.get("load_start")
    measured = list(range(WARMUP, published))
    late_stamps = [
        s for s in measured
        if s in sent and abs(sent[s] - (load_start + (s - WARMUP) / rate)) > 2e-6
    ]
    if late_stamps:
        problems.append(f"{len(late_stamps)} messages stamped off schedule")
    committed_ok = [s for s in measured if ok.get(s) in ends]
    lat = [ends[ok[s]] - sent[s] for s in committed_ok]
    failed = len([s for s in range(published) if s not in ok])
    for p in progress:
        print(
            f"# batch {p['batchId']}: {p['numInputRows']} rows, "
            f"ends +{ends[p['batchId']] - t_start:.2f} s, durationMs "
            f"{json.dumps(p['durationMs'], sort_keys=True)}",
            file=sys.stderr,
        )
    if not lat or ready is None:
        problems.append("no measured message was committed")
    for p in problems[:20]:
        print(f"# ingest_live check: {p}", file=sys.stderr)

    result = {
        "problems": problems,
        "attempted": max(published, 1),
        "failed": failed,
        "spans": spans,
        "spark": spark,
    }
    if not lat or ready is None:
        return result
    last_commit = max(ends[ok[s]] for s in committed_ok)
    result["e2e"] = {
        "setup_s": ready - t_start,
        "latency_p50_s": common.median(lat),
        "latency_p90_s": common.percentile(lat, 90),
        "latency_p99_s": common.percentile(lat, 99),
        "ops_per_s": len(lat) / (last_commit - load_start),
    }
    p99 = result["e2e"].pop("latency_p99_s")
    if args.trace:
        layer = _layer_metrics(progress, ends, ok, recv, sent, raw, flat,
                               raw_live, flat_live, summary, committed_ok)
        layer["trace.latency_p50_s"] = result["e2e"]["latency_p50_s"]
        layer["streaming.latency_p99_s"] = p99
        steady = [p for p in progress if p["batchId"] > 0 and p["numInputRows"] > 0]
        result["layer"] = layer
        result["steady_batches"] = [p["batchId"] for p in steady]
        result["steady_wall"] = sum(p["batchDuration"] for p in steady) / 1000.0
        result["cpus"] = int(spark.sparkContext.defaultParallelism)
    print(
        f"# ingest_live: rate {rate}/s, {published} published "
        f"({WARMUP} warm-up), {len(progress)} batches, drain "
        f"{last_commit - summary['load_end']:.2f} s, generator late max "
        f"{summary.get('late_max_s', 0):.4f} s",
        file=sys.stderr,
    )
    return result


def _layer_metrics(progress, ends, ok, recv, sent, raw, flat, raw_live,
                   flat_live, summary, measured) -> dict:
    steady = [p for p in progress if p["batchId"] > 0 and p["numInputRows"] > 0]
    dur = {
        k: [p["durationMs"].get(k, 0) / 1000.0 for p in steady]
        for k in ("triggerExecution", "addBatch", "queryPlanning",
                  "walCommit", "commitOffsets", "latestOffset")
    }
    rows = [p["numInputRows"] for p in steady]
    n_raw = sum(t.num_rows for t in raw.values() if t is not None)
    n_flat = sum(t.num_rows for t in flat.values() if t is not None)
    n_read = sum(p["numInputRows"] for p in progress)
    state = [so for p in progress[-1:] for so in p.get("stateOperators", [])]
    rlag = [recv[s] - sent[s] for s in measured if s in recv]
    clag = [ends[ok[s]] - recv[s] for s in measured if s in recv]
    return {
        "sources.rows_per_batch": common.median(rows),
        "sources.budget_fill": common.median(rows) / 10000.0,
        "sources.redelivered_ratio": (n_read - n_raw) / max(n_read, 1),
        "sources.receive_lag_p50_s": common.median(rlag),
        "driver.plan_s_per_op": common.median(dur["queryPlanning"]),
        "driver.exec_s_per_op": common.median(dur["addBatch"]),
        "streaming.trigger_s": common.median(dur["triggerExecution"]),
        "streaming.add_batch_s": common.median(dur["addBatch"]),
        "streaming.planning_s": common.median(dur["queryPlanning"]),
        "streaming.wal_commit_s": common.median(dur["walCommit"]),
        "streaming.commit_offsets_s": common.median(dur["commitOffsets"]),
        "streaming.latest_offset_s": common.median(dur["latestOffset"]),
        "streaming.commit_lag_p50_s": common.median(clag),
        "streaming.first_batch_s": progress[0]["batchDuration"] / 1000.0,
        "streaming.state_rows": sum(so.get("numRowsTotal", 0) for so in state),
        "streaming.state_mb": sum(so.get("memoryUsedBytes", 0) for so in state) / 2**20,
        "functions.flat_rows_per_msg": n_flat / max(n_raw, 1),
        "sinks.files_per_batch": common.median(
            [b["n_files"] for b in raw_live + flat_live]),
        "sinks.bytes_per_row": sum(b["bytes"] for b in raw_live + flat_live)
        / max(n_raw + n_flat, 1),
        "sinks.live_batches": len(raw_live),
        "generator.late_max_s": summary.get("late_max_s", 0.0),
    }


def spark_layer(events: list[dict], res: dict) -> dict:
    """Spark counters of the steady micro-batches (batch 0 is set-up)."""
    import re

    steady = set(res.get("steady_batches", []))

    def label(job):
        m = re.search(r"batch = (\d+)", common.job_description(job))
        return "batch" if m and int(m.group(1)) in steady else None

    prof = common.job_profile(events, label).get("batch")
    if prof is None:
        return {}
    return common.per_op_layer(
        prof, len(steady), res["steady_wall"], res["cpus"]
    )
