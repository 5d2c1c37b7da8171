#!/usr/bin/env python3
"""Smoke test of the benchmark itself, on tiny inputs (sf0.001, a few
commits):

    python3 perfbench/smoke.py

For every workload, untraced and traced, it checks that the last stdout
line is the result object, that every metric BENCHMARK.json names is
present with its unit and a finite value, and that nothing failed. Then it
corrupts one expected digest (lake_ingest's first read-back checksum, the
first train query's oracle digest) and checks that the run reports the
mismatch as a failure, and that the oracle check fails a result whose
values match but whose column type differs. Exits non-zero on the first
problem.
"""
import json
import math
import os
import shutil
import subprocess
import sys

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("lake_ingest", "train_small", "train_large")


def run(workload, trace, *extra):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--smoke", *extra]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=600)
    if p.returncode != 0:
        raise SystemExit(f"FAIL {' '.join(cmd)}: exit {p.returncode}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def check_types():
    """A result equal in value to its oracle but of another integer type
    is a failure."""
    sys.path.insert(0, HERE)
    import oracle
    work = os.path.join(HERE, ".work", "smoke-types")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "results", "q"))
    con = duckdb.connect()
    con.sql("COPY (SELECT CAST(range AS INTEGER) AS x FROM range(5)) "
            f"TO '{os.path.join(work, 'results', 'q', 'part-0.parquet')}' (FORMAT PARQUET)")
    con.close()
    try:
        ok = oracle.check(work, os.path.join(work, "results"),
                          {"q": "SELECT CAST(range AS INTEGER) AS x FROM range(5)"}, ["q"])
        bad = oracle.check(work, os.path.join(work, "results"),
                           {"q": "SELECT CAST(range AS BIGINT) AS x FROM range(5)"}, ["q"])
    finally:
        shutil.rmtree(work, ignore_errors=True)
    assert ok == [], ok
    assert len(bad) == 1 and "types" in bad[0], bad
    print("ok oracle: an INTEGER result against a BIGINT oracle is a failure", flush=True)


def main():
    check_types()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    for wl in WORKLOADS:
        for trace, section in ((0, "end_to_end"), (1, "per_layer")):
            res = run(wl, trace)
            assert set(res) == {"correct", "attempted", "failed", "metrics"}, res.keys()
            want = {m["name"]: m["unit"] for m in bench[section]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            assert got == want, f"{wl} trace={trace}: metrics {sorted(set(got) ^ set(want))}"
            for k, v in res["metrics"].items():
                assert isinstance(v["value"], (int, float)) and math.isfinite(v["value"]), (k, v)
            assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, res
            print(f"ok {wl} trace={trace}: {len(want)} metrics, "
                  f"{res['attempted']} operations", flush=True)
    for wl in ("lake_ingest", "train_small"):
        res = run(wl, 0, "--corrupt-expected")
        assert not res["correct"] and res["failed"] >= 1, res
        print(f"ok {wl}: corrupted expected digest counted as {res['failed']} failure(s)",
              flush=True)


if __name__ == "__main__":
    main()
