#!/usr/bin/env python3
"""graft benchmark: one command, one workload, one seed, one run.

Usage (from the repository root):

    python3 perfbench/run.py --workload <sim_ts|corpus_heavy|rt_twins> \
        --seed <n> --seconds <s> --trace <0|1> [--smoke]

Builds the library and the benchmark harness from source (once per source
state), runs the workload in one JVM on local[nproc], checks every output
outside the timed regions, and prints as its LAST stdout line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (--trace 0) or the per-layer metrics
(--trace 1) named in BENCHMARK.json. The line before it names the
workload's own metrics (query_p50_s, events_per_s, error_rate, ...).
The full record (host basis, calibration, per-query and per-batch detail,
spans of a traced run) is written under .bench_build/records/.

--smoke runs the same code on a tiny fixture and stream, in seconds, so
perfbench/test_smoke.py can exercise the checks.
"""
import argparse
import hashlib
import importlib.util
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("sim_ts", "corpus_heavy", "rt_twins")
BATCH = ("sim_ts", "corpus_heavy")
DEADLINE_S = 175.0  # the whole run, build excluded
HEAP = "3g"
# fixture scale factor per batch workload (see perfbench/README.md)
SCALE = {"sim_ts": 0.01, "corpus_heavy": 0.1}

# per-layer metric prefixes each workload exercises; the others read 0
LAYERS_OF = {
    "sim_ts": ("entry.", "plan.", "exec.", "caching.", "setup.", "trace."),
    "corpus_heavy": ("entry.", "plan.", "exec.", "caching.", "setup.", "trace."),
    "rt_twins": ("exec.", "setup.", "trace.", "gen.", "baseline.",
                 "ema_fmgws.", "ema_tws.", "dedup_exact."),
}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_hash():
    """Hash of every input of the build: library, harness, build files."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def build():
    """Compile once per source state; returns (classpath, jvm options)."""
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            sys.exit(f"perfbench: {need} not found under {ROOT}; run from a full checkout")
    stamp = os.path.join(BUILD, "stamp")
    launch = os.path.join(BUILD, "launch.txt")
    src = source_hash()
    if not (os.path.exists(stamp) and open(stamp).read() == src and os.path.exists(launch)):
        log("building library and benchmark harness (sbt) ...")
        sbt_tmp = os.path.join(BUILD, "sbt-tmp")  # sbt's socket dirs, not /tmp
        os.makedirs(sbt_tmp, exist_ok=True)
        t0 = time.time()
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            "-Dsbt.server.autostart=false", f"-Djava.io.tmpdir={sbt_tmp}",
                            "-J-XX:-UsePerfData",
                            "launchSpec"],
                           cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           text=True, timeout=600)
        if p.returncode != 0:
            sys.stderr.write(p.stdout[-4000:])
            sys.exit("perfbench: build failed")
        with open(stamp, "w") as f:
            f.write(src)
        log(f"built in {time.time() - t0:.1f} s")
    lines = open(launch).read().splitlines()
    return lines[0], lines[1:], src


def fixture(classpath, jvm_opts, src, sf):
    """The library's own fixture at scale `sf`, written by its generator
    (`graft.GenScaleData`) in a JVM of its own. The tables are the same
    for every seed, so they are written once per source state, before
    and outside every benchmark JVM."""
    out = os.path.join(BUILD, "fixture", f"sf{sf}")
    stamp = os.path.join(out, "_STAMP")
    if os.path.exists(stamp) and open(stamp).read() == src:
        return out
    shutil.rmtree(out, ignore_errors=True)
    tmp = os.path.join(BUILD, "fixture", "tmp")
    os.makedirs(tmp, exist_ok=True)
    log(f"writing the sf{sf} fixture (graft.GenScaleData) ...")
    t0 = time.time()
    p = subprocess.run(["java", *jvm_opts, "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
                        "-cp", classpath, "graft.GenScaleData", out, str(sf)],
                       cwd=tmp, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=300)
    shutil.rmtree(tmp, ignore_errors=True)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        sys.exit("perfbench: fixture generation failed")
    with open(stamp, "w") as f:
        f.write(src)
    log(f"fixture written in {time.time() - t0:.1f} s")
    return out


def oracle_module():
    """The library's canonical result hash (tools/oracle_check.py)."""
    path = os.path.join(ROOT, "tools", "oracle_check.py")
    spec = importlib.util.spec_from_file_location("oracle_check", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def check_batch(record, run_dir):
    """Hash-compare each query's result with its DuckDB oracle query, and
    every measured run's row count with the oracle's. Returns
    (failed, per-query verdicts)."""
    import duckdb
    import pandas as pd
    oc = oracle_module()
    con = duckdb.connect()
    fx = record["fixture_dir"]
    for t in oc.TABLES:
        p = os.path.join(fx, f"{t}.parquet")
        if os.path.isdir(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}/*.parquet'")
        elif os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    detail = record["detail"]
    oracle = detail["oracle_sql"]
    check_errors = {e["query"]: e["err"] for e in detail["check_errors"]}
    verdicts, oracle_rows = {}, {}
    for q in detail["queries"]:
        if q in check_errors:
            verdicts[q] = "threw: " + check_errors[q]
            continue  # already counted as failed by the JVM harness
        d = os.path.join(run_dir, "results", q)
        files = [os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet")]
        got = pd.concat([pd.read_parquet(f) for f in files]) if files else pd.DataFrame()
        if q not in oracle:
            verdicts[q] = "no oracle"
            continue
        exp = con.execute(oracle[q]).df()
        oracle_rows[q] = len(exp)
        g, e = oc.canon(got), oc.canon(exp)
        ok = list(g.columns) == list(e.columns) and len(g) == len(e) and oc.h(g) == oc.h(e)
        verdicts[q] = "ok" if ok else f"mismatch (rows {len(g)} vs {len(e)})"
    failed = sum(1 for v in verdicts.values() if v.startswith("mismatch"))
    # every measured run must return the oracle's row count
    bad_rows = [r for r in detail["runs"]
                if r["err"] is None and r["query"] in oracle_rows and r["rows"] != oracle_rows[r["query"]]]
    return failed + len(bad_rows), verdicts, len(bad_rows)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    classpath, jvm_opts, src = build()
    cores = len(os.sched_getaffinity(0))
    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-s{a.seed}-t{a.trace}")
    # nothing of an earlier run survives: the rechunked fixture (under
    # java.io.tmpdir), checkpoints and results all live in run_dir
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    sf = 0.001 if a.smoke else SCALE.get(a.workload)
    # a fixed, pre-touched heap: the JVM's peak RSS minus the heap is then
    # its native peak (RocksDB, code, threads), free of G1's heap-sizing
    # choices, and the heap's share is read as the largest live heap
    # sampled (Main.memoryJson); no hsperfdata file, so the JVM writes
    # nothing outside the run dir; a fixed set of JIT compiler threads,
    # so graftbench.Cpu can tell the JIT's CPU time from the program's
    cmd = (["java", *jvm_opts, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
            "-XX:-UsePerfData", "-XX:-UseDynamicNumberOfCompilerThreads",
            f"-Djava.io.tmpdir={tmp}",
            "-cp", classpath, "graftbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--out", run_dir, "--cores", str(cores)]
           + (["--fixture", fixture(classpath, jvm_opts, src, sf)] if a.workload in BATCH else [])
           + (["--smoke"] if a.smoke else []))
    t0 = time.time()
    with open(os.path.join(run_dir, "jvm.log"), "w") as jlog:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=jlog, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=DEADLINE_S - 15)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            sys.exit("perfbench: benchmark JVM timed out")
    if rc != 0:
        sys.stderr.write(open(os.path.join(run_dir, "jvm.log")).read()[-4000:])
        sys.exit(f"perfbench: benchmark JVM exited with {rc}")
    jvm_s = time.time() - t0
    log(f"benchmark JVM ran {jvm_s:.1f} s")
    with open(os.path.join(run_dir, "record.json")) as f:
        rec = json.load(f)

    failed = rec["failed"]
    if a.workload in BATCH:
        t1 = time.time()
        f2, verdicts, bad_rows = check_batch(rec, run_dir)
        failed += f2
        rec["oracle"] = {"verdicts": verdicts, "runs_with_wrong_row_count": bad_rows,
                         "check_s": time.time() - t1}
        log(f"oracle check: {f2} mismatches in {time.time() - t1:.1f} s")
    attempted = rec["attempted"]

    e2e = rec["e2e"]
    if a.workload in BATCH:
        named = {"wall_s": (e2e["wall_s"], "s"), "query_p50_s": (e2e["query_p50_s"], "s"),
                 "query_tail_s": (e2e["query_tail_s"], "s"),
                 "query_cpu_geomean_s": (e2e["query_cpu_geomean_s"], "s"),
                 "query_cpu_tail_s": (e2e["query_cpu_tail_s"], "s")}
        op_ms, tail_ms = e2e["query_cpu_geomean_s"] * 1e3, e2e["query_cpu_tail_s"] * 1e3
        tail_note = {"query_tail_pct": e2e["query_tail_pct"], "samples": e2e["query_samples"],
                     "query_cpu_tail_pct": e2e["query_cpu_tail_pct"]}
    else:
        named = {"wall_s": (e2e["wall_s"], "s"), "events_per_s": (e2e["events_per_s"], "events/s"),
                 "event_latency_p50_ms": (e2e["event_latency_p50_ms"], "ms"),
                 "event_latency_tail_ms": (e2e["event_latency_tail_ms"], "ms")}
        op_ms, tail_ms = e2e["event_latency_p50_ms"], e2e["event_latency_tail_ms"]
        tail_note = {"event_latency_tail_pct": e2e["event_latency_tail_pct"],
                     "samples": e2e["event_latency_samples"]}
    peak_mem = rec["memory"]["peak_mem_mb"]
    named.update({"setup_s": (rec["setup_s"], "s"), "cpu_s": (e2e["cpu_s"], "s"),
                  "peak_mem_mb": (peak_mem, "MB"),
                  "error_rate": (failed / attempted, "fraction")})

    if a.trace == 0:
        values = {"setup_s": rec["setup_s"], "cpu_s": e2e["cpu_s"], "op_ms": op_ms,
                  "op_tail_ms": tail_ms, "peak_mem_mb": peak_mem}
        spec = bench["end_to_end"]
    else:
        values = {}
        for m in bench["per_layer"]:
            n = m["name"]
            if n in rec["layers"]:
                values[n] = rec["layers"][n]
            elif n.startswith(LAYERS_OF[a.workload]):
                sys.exit(f"perfbench: traced run did not produce {n}")
            else:
                values[n] = 0.0
        spec = bench["per_layer"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec}

    rec["host"] = {"nproc": cores, "sf": sf, "jvm": rec["jvm"], "spark": rec["spark"],
                   "git_commit": git_commit(), "source_hash": src, "seed": a.seed,
                   "seconds": a.seconds, "heap": HEAP, "jvm_wall_s": jvm_s}
    rec["named_metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in named.items()}
    rec["named_metrics"]["error_rate"]["attempted"] = attempted
    rec["named_metrics"]["tail"] = tail_note
    records = os.path.join(BUILD, "records")
    os.makedirs(records, exist_ok=True)
    out = os.path.join(records, f"{a.workload}-seed{a.seed}-trace{a.trace}{'-smoke' if a.smoke else ''}.json")
    with open(out, "w") as f:
        json.dump(rec, f)
    if a.trace == 1:
        shutil.copy(os.path.join(run_dir, "spans.json"), out.replace(".json", ".spans.json"))
    shutil.rmtree(run_dir, ignore_errors=True)

    print(json.dumps({"workload": a.workload, "seed": a.seed, "named_metrics": rec["named_metrics"],
                      "calibration": rec["calibration"], "record": os.path.relpath(out, ROOT)}))
    print(json.dumps({"correct": failed == 0, "attempted": int(attempted), "failed": int(failed),
                      "metrics": metrics}))


def git_commit():
    try:
        p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return p.stdout.strip() if p.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


if __name__ == "__main__":
    main()
