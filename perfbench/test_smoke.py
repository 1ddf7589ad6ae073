"""Tests of the benchmark itself.

    python3 -m pytest perfbench/test_smoke.py      # or: python3 perfbench/test_smoke.py

`test_oracle_check_*` exercise the batch output check on a tiny fixture
without a JVM. `test_smoke_*` run every workload end to end in --smoke
mode (tiny fixture and stream, about a minute each with the build warm)
and check the result line against BENCHMARK.json.
"""
import json
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run  # noqa: E402

ORACLE = "SELECT user_id, count(*) AS n FROM events GROUP BY user_id"


def _record(tmp, result_sql):
    """A batch record with one query whose result parquet `result_sql`
    writes, checked against ORACLE."""
    import duckdb
    fx = os.path.join(tmp, "fixture")
    out = os.path.join(tmp, "results", "q_count_by_user")
    os.makedirs(fx)
    os.makedirs(out)
    con = duckdb.connect()
    con.execute(f"""COPY (SELECT i AS event_id, i % 7 AS user_id FROM range(100) t(i))
        TO '{fx}/events.parquet' (FORMAT PARQUET)""")
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{fx}/events.parquet'")
    con.execute(f"COPY ({result_sql}) TO '{out}/part-0.parquet' (FORMAT PARQUET)")
    n = con.execute(f"SELECT count(*) FROM ({ORACLE})").fetchone()[0]
    return {"fixture_dir": fx, "detail": {
        "queries": ["q_count_by_user"], "oracle_sql": {"q_count_by_user": ORACLE},
        "check_errors": [],
        "runs": [{"query": "q_count_by_user", "rows": n, "err": None}]}}


def test_oracle_check_accepts_the_oracle_result():
    with tempfile.TemporaryDirectory() as tmp:
        failed, verdicts, _ = run.check_batch(_record(tmp, ORACLE), tmp)
        assert failed == 0 and verdicts == {"q_count_by_user": "ok"}


def test_oracle_check_flags_a_wrong_value():
    with tempfile.TemporaryDirectory() as tmp:
        wrong = ORACLE.replace("count(*)", "count(*) + (user_id = 3)::BIGINT")
        failed, verdicts, _ = run.check_batch(_record(tmp, wrong), tmp)
        assert failed == 1 and verdicts["q_count_by_user"].startswith("mismatch")


def _smoke(workload, trace):
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", "3", "--seconds", "2", "--trace", str(trace), "--smoke"],
                       cwd=ROOT, capture_output=True, text=True, timeout=900)
    assert p.returncode == 0, p.stderr[-3000:]
    last = json.loads(p.stdout.strip().splitlines()[-1])
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    spec = bench["per_layer" if trace else "end_to_end"]
    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    assert last["correct"] and last["failed"] == 0 and last["attempted"] >= 1
    assert list(last["metrics"]) == [m["name"] for m in spec]
    for m in spec:
        assert last["metrics"][m["name"]]["unit"] == m["unit"]
    return last["metrics"]


def test_smoke_sim_ts():
    m = _smoke("sim_ts", 0)
    assert all(v["value"] > 0 for v in m.values())


def test_smoke_sim_ts_traced():
    m = _smoke("sim_ts", 1)
    assert m["exec.jobs"]["value"] > 0 and m["plan.nodes"]["value"] > 0


def test_smoke_rt_twins():
    m = _smoke("rt_twins", 0)
    assert all(v["value"] > 0 for v in m.values())


def test_smoke_rt_twins_traced():
    m = _smoke("rt_twins", 1)
    assert m["ema_tws.state.commit_ms"]["value"] > 0
    assert m["baseline.scalar_events_per_s"]["value"] > 0


if __name__ == "__main__":
    fails = 0
    for name, fn in list(globals().items()):
        if name.startswith("test_"):
            try:
                fn()
                print(f"ok   {name}")
            except Exception as e:  # report every test, then fail
                fails += 1
                print(f"FAIL {name}: {e!r}")
    sys.exit(1 if fails else 0)
