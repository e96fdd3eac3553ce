#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

Usage (from the root of the checkout):
  python3 perfbench/run.py --workload vcut_cron|catalog_mix|warehouse_rw \
      --seed N --seconds S --trace 0|1

Builds the library and harness if needed (build.py), generates the seeded
inputs (gen.py), runs the workload in one JVM at local[4] with one
closed-loop client, checks every output, and prints a table of metrics
followed by one JSON line:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer ones. Exits 1 if an output check failed, 2 if the run could not
be made. Each run's record (metrics, provenance, noise monitors) is
appended to perfbench/results/runs.jsonl for compare.py.
"""
import argparse
import hashlib
import json
import math
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("vcut_cron", "catalog_mix", "warehouse_rw")
SETUPS = 3
JVM_TIMEOUT_S = 160


def tail(xs):
    """(value, percentile) of the highest percentile with >= 10 samples above
    it, or None when that would not lie above the median (fewer than 21)."""
    s = sorted(xs)
    i = len(s) - 11
    if i < len(s) // 2:
        return None
    return s[i], 100.0 * (i + 1) / len(s)


def latencies(ops, kind):
    # a failed op counts as missing every latency limit
    return [o["s"] if o["ok"] else math.inf for o in ops if o["kind"] == kind]


def oracle_failures(work, result):
    """catalog_mix: compare first-pass results with DuckDB, and the other
    queries' (rows, hash) with the expected values kept beside this file."""
    import duckdb
    import pandas as pd

    def canon(df):
        df = df.reindex(sorted(df.columns), axis=1)
        df = df.map(lambda v: repr(v) if isinstance(v, float) else str(v))
        if len(df.columns):
            df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
        return df

    bad = {}
    oracle = json.load(open(os.path.join(work, "oracle.json")))
    expected = json.load(open(os.path.join(HERE, "expected_hashes.json")))
    con = duckdb.connect()
    data = os.path.join(work, "inputs", "catalog")
    for f in sorted(os.listdir(data)):
        con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{os.path.join(data, f)}'")
    for q, first in ((q, hs[0]) for q, hs in result["hashes"].items()):
        if q in oracle:
            got = canon(pd.read_parquet(os.path.join(work, "results", q)))
            want = canon(con.execute(oracle[q]).df())
            if list(got.columns) != list(want.columns) or len(got) != len(want) \
                    or not got.equals(want):
                bad[q] = f"{q}: differs from the DuckDB oracle ({len(got)} vs {len(want)} rows)"
        elif expected.get(q) != first:
            bad[q] = f"{q}: (rows, hash) {first} != expected {expected.get(q)}"
    return bad


def provenance():
    sha = os.environ.get("PERFBENCH_COMMIT")
    if not sha:
        try:
            sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                                 text=True, timeout=10).stdout.strip() or None
        except (OSError, subprocess.SubprocessError):
            sha = None
    h = hashlib.sha256()
    for s in build.sources():
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return {"commit": sha or "unknown", "source_digest": h.hexdigest()[:16],
            "cores": 4, "xmx": build.XMX, "host_cpus": os.cpu_count(), "python": platform.python_version()}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    try:
        jar = build.build()
    except SystemExit as e:
        sys.stderr.write(f"{e}\n")
        return 2

    work = os.path.join(HERE, "work", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    inputs, tmp = os.path.join(work, "inputs"), os.path.join(work, "tmp")
    os.makedirs(tmp)
    try:
        t0 = time.monotonic()
        {"catalog_mix": lambda: gen.gen_catalog(os.path.join(inputs, "catalog")),
         "vcut_cron": lambda: gen.gen_vcut(os.path.join(inputs, "vcut"), a.seed),
         "warehouse_rw": lambda: gen.gen_warehouse(os.path.join(inputs, "warehouse"), a.seed),
         }[a.workload]()
        gen_s = time.monotonic() - t0

        cmd = build.jvm_args(jar, work) + [
            "--workload", a.workload, "--inputs", inputs, "--work", work,
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--seed", str(a.seed),
            "--setups", str(SETUPS)]
        with open(os.path.join(work, "jvm.log"), "w") as log:
            try:
                p = subprocess.run(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                                   timeout=JVM_TIMEOUT_S)
                code = p.returncode
            except subprocess.TimeoutExpired:
                code = "timeout"
        res_path = os.path.join(work, "result.json")
        if code != 0 or not os.path.exists(res_path):
            with open(os.path.join(work, "jvm.log")) as log:
                sys.stderr.write("".join(log.readlines()[-40:]))
            sys.stderr.write(f"perfbench: the benchmark JVM ended with {code}\n")
            return 2
        r = json.load(open(res_path))
        failures = list(r["failures"])
        ops = r["ops"]
        if a.workload == "catalog_mix":
            bad = oracle_failures(work, r)
            failures += bad.values()
            for o in ops:
                if o["name"] in bad:
                    o["ok"] = False
        spans = os.path.join(work, "spans.jsonl")
        results = os.path.join(HERE, "results")
        os.makedirs(results, exist_ok=True)
        if os.path.exists(spans):
            shutil.copy(spans, os.path.join(results, f"spans-{a.workload}-{a.seed}.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    attempted = len(ops)
    failed = sum(1 for o in ops if not o["ok"])
    reads, writes = latencies(ops, "read"), latencies(ops, "write")
    layers = r["layers"]
    info = {"failed_share": (failed / attempted if attempted else 1.0, "ratio", attempted),
            "gen_s": (gen_s, "s", 1)}
    for kind, xs in (("read", reads), ("write", writes)):
        if xs:
            info[f"{kind}_p50_s"] = (statistics.median(xs), "s", len(xs))
            t = tail(xs)
            if t:
                info[f"{kind}_tail_s"] = (t[0], "s", len(xs), t[1])
    metrics = {
        "setup_s": (statistics.median(r["setup_s"]), "s", len(r["setup_s"])),
        "read_p50_s": info["read_p50_s"] if reads else (0.0, "s", 0),
        "ops_per_s": (sum(1 for o in ops if o["ok"]) / r["phase_s"], "ops/s", attempted),
        "live_heap_mb": (statistics.median(r["heap_mb"]), "MB", len(r["heap_mb"])),
    }
    if a.trace:
        per = dict(layers)
        per["ops.write_p50_s"] = info["write_p50_s"][0] if "write_p50_s" in info else 0.0
        per["ops.failed_share"] = info["failed_share"][0]
        names = per_layer_names()
        report = {k: (per.get(k, 0.0), unit, None) for k, unit in names}
        for k in sorted(set(per) - {n for n, _ in names}):
            info[k] = (per[k], "", None)
    else:
        report = metrics

    correct = not failures and attempted > 0
    for f in failures[:20]:
        print(f"check failed: {f}")
    print(f"workload {a.workload}  seed {a.seed}  seconds {a.seconds}  trace {a.trace}  "
          f"ops {attempted}  failed {failed}")
    print(f"  set-up rounds (s): {', '.join(f'{x:.3f}' for x in r['setup_s'])}")
    for k, v in list(report.items()) + [kv for kv in info.items() if kv[0] not in report]:
        extra = f"  (p{v[3]:.0f} of n={v[2]})" if len(v) > 3 else (f"  (n={v[2]})" if v[2] else "")
        print(f"  {k:<36} {v[0]:>14.6g} {v[1]}{extra}")

    record = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
              "time": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()), **provenance(),
              "correct": correct, "attempted": attempted, "failed": failed,
              "metrics": {k: v[0] for k, v in metrics.items()},
              "info": {k: v[0] for k, v in info.items()},
              "layers": layers, "setup_rounds_s": r["setup_s"], "jvm_xmx_mb": r["xmx_mb"],
              "heap_samples_mb": r["heap_mb"],
              "op_p50_s": {n: statistics.median(o["s"] for o in ops if o["name"] == n)
                           for n in sorted({o["name"] for o in ops})},
              "noise": {k: layers.get(k) for k in ("box.cal_ms", "box.steal_s", "box.loadavg")}}
    with open(os.path.join(HERE, "results", "runs.jsonl"), "a") as f:
        f.write(json.dumps(record, sort_keys=True) + "\n")

    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v[0], "unit": v[1]} for k, v in report.items()}}))
    return 0 if correct else 1


def per_layer_names():
    """(name, unit) of every per-layer metric, as BENCHMARK.json lists them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return [(m["name"], m["unit"]) for m in json.load(f)["per_layer"]]


if __name__ == "__main__":
    sys.exit(main())
