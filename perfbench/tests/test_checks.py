"""Each output check of the benchmark fails on a deliberately corrupted
output, and passes on a faithful one.  No Spark session is started.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import datetime
import json
import os
import sys

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [BENCH, os.path.dirname(BENCH)]

import generator  # noqa: E402
import ingest_live  # noqa: E402
import query_mix  # noqa: E402
import sink_sql  # noqa: E402

pa = pytest.importorskip("pyarrow")

SEED = 11
N = 12


def _sinks(drop_raw=(), dup_raw=(), flat_edit=None):
    """Raw and flat sink contents for messages 0..N-1, as batch 0."""
    raw = {"payload": [], "collect_datetime": []}
    flat = {k: [] for k in ("key_id", "command", "params_key",
                            "params_thingKey", "params_value", "params_seq",
                            "params_sent_us")}
    at = datetime.datetime(2026, 1, 1, tzinfo=datetime.timezone.utc)
    for seq in range(N):
        recs = generator.message_records(SEED, seq, 1_700_000_000_000_000 + seq)
        copies = 0 if seq in drop_raw else 2 if seq in dup_raw else 1
        for _ in range(copies):
            raw["payload"].append(json.dumps(recs))
            raw["collect_datetime"].append(at)
        for key_id, rec in recs.items():
            p = rec["params"]
            row = {"key_id": key_id, "command": rec["command"],
                   "params_key": p["key"], "params_thingKey": p["thingKey"],
                   "params_value": p["value"], "params_seq": p["seq"],
                   "params_sent_us": p["sent_us"]}
            if flat_edit is not None:
                row = flat_edit(seq, row)
            if row is None:
                continue
            for k, v in row.items():
                flat[k].append(v)
    return {0: pa.table(raw)}, {0: pa.table(flat)}


def _ingest_problems(raw, flat):
    ok, problems, _recv, _sent = ingest_live.check_sinks(SEED, N, raw, flat)
    return ok, problems


def test_ingest_check_passes_faithful_sinks():
    ok, problems = _ingest_problems(*_sinks())
    assert problems == []
    assert sorted(ok) == list(range(N))


@pytest.mark.parametrize(
    "corruption",
    [
        {"drop_raw": (3,)},
        {"dup_raw": (5,)},
        {"flat_edit": lambda s, r: dict(r, params_value=r["params_value"] + 1)
         if s == 4 else r},
        {"flat_edit": lambda s, r: None if s == 7 else r},
    ],
    ids=["missing-message", "duplicated-message", "wrong-value", "missing-record"],
)
def test_ingest_check_fails_corrupted_sinks(corruption):
    ok, problems = _ingest_problems(*_sinks(**corruption))
    assert problems
    assert len(ok) < N


def test_monitor_check():
    last = {"AvgPeriodSubMsgPerSec": 100.0, "RunTimeSeconds": 12.0}
    assert ingest_live.monitor_problems([{}, last], 2, 1200) == []
    assert ingest_live.monitor_problems([last], 2, 1200)  # a batch unreported
    assert ingest_live.monitor_problems([{}, last], 2, 1199)  # wrong total


def test_query_check_compares_canonical_form():
    pd = pytest.importorskip("pandas")
    canon = query_mix._audit_canon().canon
    frame = pd.DataFrame({"b": [2.5, 1.0, 3.0], "a": ["x", "y", "z"]})
    expected = {"rows": 3, "digest": query_mix.digest(canon(frame))}
    # row and column order do not matter
    shuffled = frame.iloc[[2, 0, 1]][["a", "b"]]
    assert query_mix.check("k", shuffled, expected) is None
    wrong = frame.copy()
    wrong.loc[1, "b"] = 1.5
    assert query_mix.check("k", wrong, expected)
    assert query_mix.check("k", frame.iloc[:2], expected)
    empty = frame.iloc[:0]
    assert query_mix.check("k", empty, {"rows": 0, "digest": query_mix.digest(canon(empty))})


def test_sql_results_compare_against_the_mirror():
    pytest.importorskip("duckdb")
    import random

    rng = random.Random(SEED)
    day = sink_sql.FIRST_DAY
    rows = [r for _ in range(20) for r in sink_sql.message_rows(rng, day)]
    mirror = sink_sql.Mirror(rows)
    sql = f"SELECT mid, key_id, params_value FROM {sink_sql.TABLE}"
    want = mirror.query(sql)
    got = sink_sql._canon((r[0], r[1], r[6]) for r in rows)
    assert sink_sql.compare("select", got, want) is None
    assert sink_sql.compare("select", got[1:], want)
    changed = [got[0][:2] + (got[0][2] + 1,)] + got[1:]
    assert sink_sql.compare("select", sink_sql._canon(changed), want)
    # a write applied to the mirror shows in the comparison
    mirror.execute(f"DELETE FROM {sink_sql.TABLE} WHERE mid = '{rows[0][0]}'")
    assert sink_sql.compare("select", got, mirror.query(sql))


def test_mirror_merge_updates_matches_and_inserts_the_rest():
    pytest.importorskip("duckdb")
    import random

    rng = random.Random(SEED)
    day = sink_sql.FIRST_DAY
    rows = sink_sql.message_rows(rng, day)
    mirror = sink_sql.Mirror(rows)
    changed = [r[:6] + (r[6] + 7.0,) + r[7:] for r in rows]
    new = sink_sql.message_rows(rng, day)
    mirror.merge(changed + new)
    got = mirror.query(f"SELECT * FROM {sink_sql.TABLE}")
    assert got == sink_sql._canon(changed + new)
