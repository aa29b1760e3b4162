"""Shared plumbing for the benchmark workloads: environment, scratch
directories, spans, the process-tree memory sampler, the Spark event-log
reader and the result line."""

from __future__ import annotations

import json
import os
import shutil
import signal
import statistics
import threading
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
CACHE = os.path.join(BENCH_DIR, ".cache")
DRIVER_MEMORY = "2g"


def process_start_time() -> float:
    """Wall-clock start of this process, from /proc (10 ms resolution)."""
    try:
        with open("/proc/self/stat") as fh:
            ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/stat") as fh:
            btime = next(
                int(line.split()[1]) for line in fh if line.startswith("btime")
            )
        return btime + ticks / os.sysconf("SC_CLK_TCK")
    except (OSError, ValueError, StopIteration):
        return time.time()


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def make_run_dir(workload: str, seed: int) -> str:
    run = os.path.join(
        CACHE, "runs", f"{workload}-{seed}-{os.getpid()}-{time.time_ns()}"
    )
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(run, sub))
    return run


def set_environment(run_dir: str, cpus: int) -> None:
    """Environment every Spark process of the run inherits.  Must run
    before pyspark starts its JVM."""
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(":") if p]
    os.environ["PYTHONPATH"] = ":".join(dict.fromkeys(paths))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["TZ"] = "UTC"
    time.tzset()



def spark_conf(run_dir: str, trace: bool) -> dict[str, str]:
    conf = {
        # keep the JVM's temp files and perf counters inside the run
        # directory; commit and touch the whole heap at start, so the JVM's
        # share of the peak memory does not depend on when G1 grows the heap
        "spark.driver.defaultJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} -XX:-UsePerfData "
            f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch"
        ),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.local.dir": os.path.join(run_dir, "local"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        # Spark 4.1's default event log is zstd-compressed and rolling,
        # which Python's standard library cannot read
        os.makedirs(os.path.join(run_dir, "eventlog"))
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": os.path.join(run_dir, "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


def start_spark(run_dir: str, trace: bool, app_name: str):
    from mqtt_message_pump_spark.session import get_spark

    return get_spark(app_name=app_name, extra_conf=spark_conf(run_dir, trace))


class Spans:
    """In-memory spans around the benchmark's calls into each layer."""

    def __init__(self) -> None:
        self.items: list[dict] = []

    def span(self, name: str, op: str | None = None):
        spans = self

        class _Span:
            def __enter__(self):
                self.t0 = time.perf_counter()
                self.w0 = time.time()
                return self

            def __exit__(self, *exc):
                self.seconds = time.perf_counter() - self.t0
                spans.items.append(
                    {"name": name, "op": op, "start": self.w0,
                     "seconds": self.seconds}
                )
                return False

        return _Span()

    def total(self, name: str) -> float:
        return sum(s["seconds"] for s in self.items if s["name"] == name)


def _tree_pids(root: int, exclude: set[int]) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in exclude:
            continue
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def _rss_bytes(pid: int) -> int:
    """Proportional resident set size: each shared page counts once
    across the tree.  Spark's Python workers are forked from one daemon,
    so plain RSS would count their shared pages once per worker."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, ValueError, IndexError):
        pass
    return 0


class RssSampler:
    """Peak summed RSS of this process and its descendants, minus the
    processes in ``exclude`` (the load generator) and theirs."""

    def __init__(self, interval: float = 0.25) -> None:
        self.interval = interval
        self.exclude: set[int] = set()
        self.peak = 0
        self.at_peak: list[int] = []  # MB per process at the peak
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            sizes = {p: _rss_bytes(p) for p in _tree_pids(me, self.exclude)}
            total = sum(sizes.values())
            if total > self.peak:
                self.peak = total
                self.at_peak = sorted(
                    (v // 2**20 for v in sizes.values()), reverse=True
                )
            self._stop.wait(self.interval)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(10)
        return self.peak / 2**20


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext

    try:
        spark.stop()
    finally:
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None) if gateway is not None else None
        if gateway is not None:
            try:
                gateway.shutdown()
            except Exception:  # noqa: BLE001 - already gone
                pass
        if proc is not None:
            try:
                proc.stdin.close()
                proc.wait(30)
            except Exception:  # noqa: BLE001 - fall through to reaping
                proc.kill()
                proc.wait(10)
        SparkContext._gateway = None
        SparkContext._jvm = None


def reap_descendants(timeout: float = 20.0) -> None:
    """Terminate every process this run left behind and wait for each."""
    me = os.getpid()
    deadline = time.time() + timeout
    sig = signal.SIGTERM
    while True:
        pids = [p for p in _tree_pids(me, set()) if p != me]
        if not pids:
            return
        if time.time() > deadline:
            sig = signal.SIGKILL
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        for pid in pids:
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass
        time.sleep(0.2)


def percentile(values: list[float], q: int) -> float:
    """The q-th percentile (q in 1..99), interpolated between the two
    nearest samples (``statistics.quantiles``, inclusive method)."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def median(values: list[float]) -> float:
    return statistics.median(values)


def read_event_log(run_dir: str) -> list[dict]:
    """Every event of the run's (uncompressed, non-rolling) event log."""
    log_dir = os.path.join(run_dir, "eventlog")
    events: list[dict] = []
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name), encoding="utf-8") as fh:
            for line in fh:
                line = line.strip()
                if line:
                    events.append(json.loads(line))
    return events


def job_profile(events: list[dict], label_of) -> dict[str, dict]:
    """Per-label Spark counters from the event log.

    ``label_of(job_start_event)`` maps a job to the operation it served
    (query key, statement, micro-batch) or None to leave it out."""
    stage_label: dict[int, str] = {}
    out: dict[str, dict] = {}

    def bucket(label: str) -> dict:
        return out.setdefault(
            label,
            {"jobs": 0, "stages": 0, "tasks": 0, "one_task_stages": 0,
             "run_s": 0.0, "gc_s": 0.0, "sched_delay_s": 0.0, "shuffle_write_b": 0,
             "spill_b": 0},
        )

    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            label = label_of(ev)
            if label is None:
                continue
            bucket(label)["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_label[sid] = label
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            label = stage_label.get(info["Stage ID"])
            if label is None or "Completion Time" not in info:
                continue
            b = bucket(label)
            b["stages"] += 1
            if info["Number of Tasks"] == 1:
                b["one_task_stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            label = stage_label.get(ev.get("Stage ID"))
            if label is None:
                continue
            b = bucket(label)
            info, m = ev["Task Info"], ev.get("Task Metrics") or {}
            b["tasks"] += 1
            run_ms = m.get("Executor Run Time", 0)
            b["run_s"] += run_ms / 1000.0
            b["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
            wall = info.get("Finish Time", 0) - info.get("Launch Time", 0)
            overhead = (
                run_ms
                + m.get("Executor Deserialize Time", 0)
                + m.get("Result Serialization Time", 0)
                + info.get("Getting Result Time", 0)
            )
            b["sched_delay_s"] += max(0, wall - overhead) / 1000.0
            b["shuffle_write_b"] += (
                m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
            )
            b["spill_b"] += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
    return out


def per_op_layer(prof: dict, n_ops: int, wall: float, cpus: int) -> dict:
    """The Spark-layer per-layer metrics from one ``job_profile`` bucket
    that covers ``n_ops`` operations and ``wall`` seconds."""
    n = max(n_ops, 1)
    return {
        "spark.jobs_per_op": prof["jobs"] / n,
        "spark.stages_per_op": prof["stages"] / n,
        "spark.tasks_per_op": prof["tasks"] / n,
        "spark.one_task_stages_per_op": prof["one_task_stages"] / n,
        "spark.task_run_s_per_op": prof["run_s"] / n,
        "spark.gc_s_per_op": prof["gc_s"] / n,
        "spark.scheduler_delay_s_per_op": prof["sched_delay_s"] / n,
        "spark.shuffle_write_mb_per_op": prof["shuffle_write_b"] / 2**20 / n,
        "spark.spill_mb_per_op": prof["spill_b"] / 2**20 / n,
        "spark.core_busy_ratio": prof["run_s"] / (wall * cpus),
    }


def job_description(job_start: dict) -> str:
    props = job_start.get("Properties") or {}
    return props.get("spark.job.description") or ""


def write_trace(workload: str, seed: int, payload: dict) -> str:
    trace_dir = os.path.join(CACHE, "trace")
    os.makedirs(trace_dir, exist_ok=True)
    path = os.path.join(trace_dir, f"{workload}-seed{seed}-{os.getpid()}.json")
    with open(path, "w", encoding="utf-8") as fh:
        json.dump(payload, fh, indent=1, default=str)
    return path


def _untraced_path(workload: str) -> str:
    return os.path.join(CACHE, "untraced", f"{workload}.jsonl")


def record_untraced(workload: str, e2e: dict) -> None:
    """Keep an untraced run's end-to-end figures, the base the tracing
    overhead of later traced runs is measured against."""
    os.makedirs(os.path.dirname(_untraced_path(workload)), exist_ok=True)
    with open(_untraced_path(workload), "a", encoding="utf-8") as fh:
        fh.write(json.dumps(e2e) + "\n")


def tracing_overhead(workload: str, traced: dict | None) -> dict:
    """Traced end-to-end figures over the median of the last ten untraced
    runs of the workload in this checkout, minus one."""
    try:
        with open(_untraced_path(workload), encoding="utf-8") as fh:
            base = [json.loads(line) for line in fh][-10:]
    except (OSError, ValueError):
        base = []
    out = {"untraced_runs": len(base)}
    for name, value in (traced or {}).items():
        values = [b[name] for b in base if name in b]
        if values and median(values):
            out[name] = value / median(values) - 1.0
    return out


def remove_run_dir(run_dir: str) -> None:
    shutil.rmtree(run_dir, ignore_errors=True)


def result_line(correct: bool, attempted: int, failed: int, metrics: dict) -> str:
    return json.dumps(
        {
            "correct": bool(correct),
            "attempted": int(attempted),
            "failed": int(failed),
            "metrics": {
                name: {"value": float(value), "unit": unit}
                for name, (value, unit) in metrics.items()
            },
        }
    )
