"""The registered-query half of the ``query_sql`` workload.

The keys come from ``bench.HEADLINE``: in headline order, the first key
with a DuckDB oracle from each registering module of
``mqtt_message_pump_spark.plans``, so every plan module and the operators
behind it are on the path.  The fixture is the sf0.01 table set under
``data/sf0.01`` (the scale the oracle audits use), read from the checkout.

Set-up runs every key once, converts its result to pandas and compares
it with the DuckDB oracle under the canonical form of
``tools/audit_canon.py``; that pass also warms the code paths.
"""

from __future__ import annotations

import functools
import hashlib
import importlib.util
import json
import os
import time

import common

SF_DIR = os.path.join(common.BENCH_DIR, "data", "sf0.01")
PER_MODULE = 1


@functools.cache
def _audit_canon():
    spec = importlib.util.spec_from_file_location(
        "audit_canon", os.path.join(common.ROOT, "tools", "audit_canon.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def keys() -> list[str]:
    import bench
    from mqtt_message_pump_spark.plans import ORACLES

    picked, per_module = [], {}
    for key in bench.HEADLINE:
        if key not in ORACLES:
            continue
        module = plan_module(key)
        if per_module.get(module, 0) < PER_MODULE:
            per_module[module] = per_module.get(module, 0) + 1
            picked.append(key)
    return picked


def plan_module(key: str) -> str:
    from mqtt_message_pump_spark.plans import QUERIES

    fn = QUERIES[key]
    return getattr(fn, "__wrapped__", fn).__module__.rsplit(".", 1)[-1]


def digest(frame) -> str:
    """sha256 of a canonical (sorted, stringified) pandas frame."""
    text = frame.to_csv(index=False)
    return hashlib.sha256(
        (",".join(frame.columns) + "\n" + text).encode()
    ).hexdigest()


def _fixture_digest() -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(SF_DIR)):
        h.update(name.encode())
        with open(os.path.join(SF_DIR, name), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def expected_answers() -> dict[str, dict]:
    """Canonical digests of the DuckDB oracle answers, cached under the
    benchmark's cache and keyed by the oracle SQL text and the fixture.
    They are the checker, not the measured program."""
    import duckdb

    from mqtt_message_pump_spark.plans import ORACLES

    canon = _audit_canon()
    path = os.path.join(common.CACHE, "oracles.json")
    try:
        with open(path, encoding="utf-8") as fh:
            cache = json.load(fh)
    except (OSError, ValueError):
        cache = {}
    fixture = _fixture_digest()
    out, duck, dirty = {}, None, False
    for key in keys():
        sql = ORACLES[key]
        ident = hashlib.sha256(f"{fixture}\n{sql}".encode()).hexdigest()
        if ident not in cache:
            if duck is None:
                duck = duckdb.connect()
                for t in canon.TABLES:
                    duck.execute(
                        f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{os.path.join(SF_DIR, t)}.parquet'"
                    )
            frame = canon.canon(duck.execute(sql).df())
            cache[ident] = {"rows": len(frame), "digest": digest(frame)}
            dirty = True
        out[key] = cache[ident]
    if duck is not None:
        duck.close()
    if dirty:
        os.makedirs(common.CACHE, exist_ok=True)
        tmp = f"{path}.{os.getpid()}"
        with open(tmp, "w", encoding="utf-8") as fh:
            json.dump(cache, fh)
        os.replace(tmp, path)
    return out


def check(key: str, frame, expected: dict) -> str | None:
    """None when ``frame`` (Spark's result as pandas) equals the oracle
    answer under the canonical form, else what differs."""
    canon = _audit_canon().canon(frame)
    if isinstance(canon, str):
        return f"{key}: {canon}"
    if len(canon) != expected["rows"]:
        return f"{key}: {len(canon)} rows, oracle has {expected['rows']}"
    if len(canon) == 0:
        return f"{key}: 0 rows, the check would prove nothing"
    if digest(canon) != expected["digest"]:
        return f"{key}: values differ from the oracle"
    return None


_EXPECTED: dict = {}


def prepare() -> float:
    t0 = time.time()
    _EXPECTED.update(expected_answers())
    return time.time() - t0


def checked_pass(spark, order: list[str]) -> list[str]:
    """Set-up pass: run every key, convert its result to pandas and
    compare it with the oracle.  Returns the problems found."""
    from mqtt_message_pump_spark.plans import QUERIES

    problems = []
    arrow = "spark.sql.execution.arrow.pyspark.enabled"
    spark.conf.set(arrow, "false")  # the conversion audit_canon audits
    try:
        for key in order:
            spark.sparkContext.setJobDescription(f"check:{key}")
            try:
                frame = QUERIES[key](spark, SF_DIR).toPandas()
                problem = check(key, frame, _EXPECTED[key])
            except Exception as e:  # noqa: BLE001 - counted as a failed call
                problem = f"{key}: {type(e).__name__}: {e}"
            if problem:
                problems.append(problem)
    finally:
        spark.conf.set(arrow, "true")
    return problems


def timed_call(spark, key: str, spans: common.Spans) -> dict:
    """One measured call: build the DataFrame, then force it to the noop
    sink, as ``bench.py`` does."""
    from bench import force
    from mqtt_message_pump_spark.plans import QUERIES

    spark.sparkContext.setJobDescription(f"op:query:{key}")
    with spans.span(f"plans.{plan_module(key)}", op=key):
        t0 = time.perf_counter()
        df = QUERIES[key](spark, SF_DIR)
        t1 = time.perf_counter()
        force(df)
        t2 = time.perf_counter()
    return {"kind": "query", "key": key, "plan_s": t1 - t0, "exec_s": t2 - t1,
            "latency_s": t2 - t0}
