"""The SQL-statement half of the ``query_sql`` workload: statements sent
through ``sqlstmt.execute_sql`` to a manifest sink shaped like the pump's
``json_message`` table.

``build`` makes the starting table with ``sinks.write_append`` (manifest
store, one call per batch, batches clustered by ``collect_date`` as the
pump writes them).  A cycle of statements holds one point ``SELECT`` by
``mid``, one date-window ``GROUP BY``, one ``INSERT ... VALUES``, one
``UPDATE`` and one ``DELETE`` by ``mid``, and one ``MERGE`` from a small
change view; the seed draws every literal.

A DuckDB table receives the same writes.  Every ``SELECT`` result, and
the final table, must equal the mirror's.
"""

from __future__ import annotations

import datetime
import os
import random
import time

import common

N_BATCHES = 4
MIDS_PER_BATCH = 400
DAYS = 4
FIRST_DAY = datetime.date(2024, 1, 1)
KEYS = ("ut", "temp", "hum", "volt")
CYCLE = ("point", "range", "insert", "update", "delete", "merge")
COLUMNS = ("mid", "key_id", "command", "params_key", "params_thingKey",
           "params_ts", "params_value", "collect_datetime", "collect_date")
SPARK_SCHEMA = (
    "mid string, key_id string, command string, params_key string, "
    "params_thingKey string, params_ts string, params_value double, "
    "collect_datetime timestamp, collect_date date"
)
DUCK_SCHEMA = (
    "mid VARCHAR, key_id VARCHAR, command VARCHAR, params_key VARCHAR, "
    "params_thingKey VARCHAR, params_ts VARCHAR, params_value DOUBLE, "
    "collect_datetime TIMESTAMP, collect_date DATE"
)
TABLE = "json_message"


def message_rows(rng: random.Random, day: datetime.date) -> list[tuple]:
    """The flattened rows of one message: 1-3 records sharing a mid.
    Values are whole numbers, so sums are exact in both engines."""
    mid = f"{rng.getrandbits(64):016x}"
    at = datetime.datetime.combine(day, datetime.time()) + datetime.timedelta(
        seconds=rng.randrange(86_400)
    )
    return [
        (mid, str(k + 1), "property.publish", rng.choice(KEYS),
         f"{rng.getrandbits(64):016X}", "2020-01-05T20:31:00Z",
         float(rng.randint(0, 10_000)), at, day)
        for k in range(rng.randint(1, 3))
    ]


def _literal(v) -> str:
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    if isinstance(v, datetime.datetime):
        return f"TIMESTAMP '{v.isoformat(sep=' ')}'"
    if isinstance(v, datetime.date):
        return f"DATE '{v.isoformat()}'"
    return repr(v)


def _canon(rows) -> list[tuple]:
    return sorted((tuple(r) for r in rows), key=repr)


def compare(label: str, got: list[tuple], want: list[tuple]) -> str | None:
    """None when the program's rows equal the mirror's (both canonical)."""
    if got == want:
        return None
    diff = next((g, w) for g, w in zip(got + [None], want + [None]) if g != w)
    return f"{label}: {len(got)} rows vs mirror {len(want)}; first difference {diff}"


class Mirror:
    """The DuckDB copy of the table: the checker, not the measured program."""

    def __init__(self, rows: list[tuple]) -> None:
        import duckdb

        import pandas as pd

        self.db = duckdb.connect()
        self.db.execute(f"CREATE TABLE {TABLE} ({DUCK_SCHEMA})")
        self.db.register("initial_rows", pd.DataFrame(rows, columns=COLUMNS))
        self.db.execute(f"INSERT INTO {TABLE} SELECT * FROM initial_rows")
        self.db.unregister("initial_rows")

    def query(self, sql: str) -> list[tuple]:
        return _canon(self.db.execute(sql).fetchall())

    def execute(self, sql: str) -> None:
        self.db.execute(sql)

    def merge(self, rows: list[tuple]) -> None:
        self.db.execute(f"CREATE OR REPLACE TEMP TABLE chg ({DUCK_SCHEMA})")
        self.db.executemany(
            f"INSERT INTO chg VALUES ({', '.join('?' * len(COLUMNS))})", rows
        )
        sets = ", ".join(f"{c} = s.{c}" for c in COLUMNS[2:])
        self.db.execute(
            f"UPDATE {TABLE} AS t SET {sets} FROM chg AS s "
            "WHERE t.mid = s.mid AND t.key_id = s.key_id"
        )
        self.db.execute(
            f"INSERT INTO {TABLE} SELECT s.* FROM chg AS s WHERE NOT EXISTS "
            f"(SELECT 1 FROM {TABLE} AS t "
            "WHERE t.mid = s.mid AND t.key_id = s.key_id)"
        )


class Client:
    """Draws seeded statements and sends each to the program and the
    mirror, comparing what comes back."""

    def __init__(self, spark, path: str, mirror: Mirror, rng: random.Random,
                 mids: dict[str, list[tuple]]) -> None:
        self.spark, self.path, self.mirror, self.rng = spark, path, mirror, rng
        self.mids = mids  # live mid -> its rows, as the mirror holds them
        self.n = 0
        self.tag = "warmup"  # job-description prefix; "op" when measured

    def _mid(self) -> str:
        return self.rng.choice(sorted(self.mids))

    def statement(self, kind: str) -> tuple[str, object]:
        """(sql, how to apply it to the mirror) for one statement."""
        if kind == "point":
            cols = "mid, key_id, params_key, params_value, collect_date"
            return (f"SELECT {cols} FROM {TABLE} WHERE mid = '{self._mid()}'",
                    "query")
        if kind == "range":
            # two days of the starting table; writes land on the last day
            d0 = FIRST_DAY + datetime.timedelta(days=self.rng.randrange(DAYS - 2))
            d1 = d0 + datetime.timedelta(days=1)
            return (
                "SELECT collect_date, params_key, count(*) AS n, "
                f"sum(params_value) AS total FROM {TABLE} WHERE collect_date "
                f"BETWEEN DATE '{d0}' AND DATE '{d1}' "
                "GROUP BY collect_date, params_key",
                "query",
            )
        if kind == "insert":
            day = FIRST_DAY + datetime.timedelta(days=DAYS - 1)
            rows = message_rows(self.rng, day) + message_rows(self.rng, day)
            values = ", ".join(
                "(" + ", ".join(_literal(v) for v in r) + ")" for r in rows
            )
            for r in rows:
                self.mids.setdefault(r[0], []).append(r)
            return (f"INSERT INTO {TABLE} ({', '.join(COLUMNS)}) VALUES {values}",
                    "same")
        if kind == "update":
            return (
                f"UPDATE {TABLE} SET params_value = params_value + 1 "
                f"WHERE mid = '{self._mid()}'",
                "same",
            )
        if kind == "delete":
            mid = self._mid()
            del self.mids[mid]
            return f"DELETE FROM {TABLE} WHERE mid = '{mid}'", "same"
        if kind == "merge":
            old = self.mids[self._mid()]
            day = FIRST_DAY + datetime.timedelta(days=DAYS - 1)
            new = message_rows(self.rng, day)[:1]
            changed = [
                r[:6] + (float(self.rng.randint(0, 10_000)),) + r[7:] for r in old
            ]
            self.mids[new[0][0]] = new
            rows = changed + new
            view = f"chg_{self.n}"
            self.spark.createDataFrame(rows, SPARK_SCHEMA).createOrReplaceTempView(view)
            return (
                f"MERGE INTO {TABLE} AS t USING {view} AS s "
                "ON t.mid = s.mid AND t.key_id = s.key_id "
                "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *",
                rows,
            )
        raise ValueError(kind)

    def run(self, kind: str, spans: common.Spans) -> dict:
        """Send one statement; returns its timings, summary and problem."""
        from mqtt_message_pump_spark.sqlstmt import execute_sql

        self.n += 1
        sql, mirror_op = self.statement(kind)
        self.spark.sparkContext.setJobDescription(f"{self.tag}:stmt:{kind}:{self.n}")
        out = {"kind": kind, "problem": None, "summary": None}
        t0 = time.perf_counter()
        with spans.span(f"sqlstmt.{kind}", op=str(self.n)):
            res = execute_sql(self.spark, sql, tables={TABLE: self.path})
            t1 = time.perf_counter()
            if mirror_op == "query":
                got = _canon(res.collect())
        t2 = time.perf_counter()
        out.update(plan_s=t1 - t0, exec_s=t2 - t1, latency_s=t2 - t0)
        if mirror_op == "query":
            out["problem"] = compare(f"{kind} #{self.n} {sql}", got,
                                     self.mirror.query(sql))
            if not got:
                out["problem"] = f"{kind} #{self.n}: empty result proves nothing"
        else:
            out["summary"] = res
            if mirror_op == "same":
                self.mirror.execute(sql)
            else:
                self.mirror.merge(mirror_op)
        return out


def build(spark, path: str, rng: random.Random) -> tuple[list[tuple], dict]:
    from mqtt_message_pump_spark.config import StoreConf
    from mqtt_message_pump_spark.sinks import write_append

    store = StoreConf(commit_protocol="manifest")
    rows, mids = [], {}
    for b in range(N_BATCHES):
        day = FIRST_DAY + datetime.timedelta(days=b * DAYS // N_BATCHES)
        batch = [r for _ in range(MIDS_PER_BATCH) for r in message_rows(rng, day)]
        write_append(spark.createDataFrame(batch, SPARK_SCHEMA), store, path,
                     TABLE, cluster=False, batch_id=b)
        rows += batch
    for r in rows:
        mids.setdefault(r[0], []).append(r)
    return rows, mids


def final_check(spark, path: str, mirror: Mirror) -> tuple[str | None, int]:
    """(problem or None, row count) from comparing the whole table with
    the mirror."""
    from mqtt_message_pump_spark.sqlstmt import execute_sql

    spark.sparkContext.setJobDescription("final check")
    sql = f"SELECT {', '.join(COLUMNS)} FROM {TABLE}"
    final = _canon(execute_sql(spark, sql, tables={TABLE: path}).collect())
    return compare("final table", final, mirror.query(sql)), len(final)


def layer_metrics(stmts, live, path, n_rows, build_s) -> dict:
    by_kind: dict[str, list[float]] = {}
    for s in stmts:
        by_kind.setdefault(s["kind"], []).append(s["latency_s"])
    selects = [s for s in stmts if s["summary"] is None]
    writes = [s["summary"] for s in stmts
              if isinstance(s["summary"], dict) and s["summary"].get("live_batches")]
    prune = [w["candidate_batches"] / w["live_batches"] for w in writes]
    changed = sum(w.get("rows_updated", 0) + w.get("rows_deleted", 0)
                  + w.get("rows_inserted", 0) for w in writes)
    # the summaries name the rewritten batches; a batch holds about the
    # table's mean rows per live batch
    rewritten = sum(len(w.get("rewritten", [])) for w in writes) * (
        n_rows / max(len(live), 1)
    )
    sink_bytes = 0
    for root, _dirs, files in os.walk(path):
        sink_bytes += sum(
            os.path.getsize(os.path.join(root, f)) for f in files
            if f.endswith(".parquet")
        )
    out = {
        "sinks.files_per_batch": common.median([b["n_files"] for b in live]),
        "sinks.bytes_per_row": sink_bytes / max(n_rows, 1),
        "sinks.live_batches": len(live),
        "sinks.prune_ratio": sum(prune) / len(prune) if prune else 0.0,
        "sinks.rows_rewritten_per_row_changed": rewritten / max(changed, 1),
        "sinks.build_s": build_s,
        "sqlstmt.select_plan_s": common.median([s["plan_s"] for s in selects]),
        "sqlstmt.select_exec_s": common.median([s["exec_s"] for s in selects]),
    }
    names = {"point": "point_select_s", "range": "range_agg_s"}
    for kind, values in by_kind.items():
        out[f"sqlstmt.{names.get(kind, kind + '_s')}"] = common.median(values)
    return out
