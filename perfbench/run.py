#!/usr/bin/env python3
"""perfbench: one seeded workload of graft, measured end to end.

    python3 perfbench/run.py --workload lake_ingest --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout. The first run builds the program
and the harness with sbt (offline) into ``perfbench/.work``; later runs
reuse the build while the sources are unchanged. Inputs are generated per
seed by this process before any JVM starts and are cached per seed.

Every run launches one workload JVM, ``local[nproc]``. It runs a cold
first unit of work, then whole passes for ``--seconds``; then this script
checks every output and prints one JSON line last:
``--trace 0`` gives the end-to-end metrics of BENCHMARK.json,
``--trace 1`` the per-layer metrics of a traced pass. A full run record
(noise stamps, per-workload detail, every operation) is written to
``perfbench/.work/runs/``. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)
import inputs  # noqa: E402
import oracle  # noqa: E402

# the heap starts at its maximum: a heap that G1 grows and shrinks around
# the full collections between passes made whole runs of train_small up
# to 1.5x slower than others (pass_s spread 0.19 over 5 seeds, 0.07 with
# a fixed heap)
HEAP = "3g"
# The host probe's median time (Harness.hostProbe, steal removed) on the
# 4-vCPU VM the bounds were set on. On that VM the speed of whole runs
# drifted by up to 1.5x within minutes with no steal; the probe tracks
# it, so the end-to-end times are scaled to this reference (README.md).
HOST_REF_S = 0.16
JVM_TIMEOUT_S = 160

WORKLOADS = {
    # Keboola jobs: a cold first job in the fresh JVM, then passes of
    # appends to a partitioned external table and native upserts to a PK
    # table, each commit followed by a read-back
    "lake_ingest": {"commits": 2, "rows": 2000, "slices": 4, "update_share": 0.3},
    # per-query fixed cost dominates (planning, driver decision jobs,
    # scheduling): queries whose time at sf0.01 is at least 90% fixed
    # cost, by their measured sf0.01 and sf0.1 times (README.md), one or
    # more per operator family
    "train_small": {"sf": 0.01, "queries": [
        "q01_identity_scan", "q20_dedup_exact", "q26_ann_lsh", "q31_topk_per_group",
        "q46_quantiles", "q48_stratified_sample"]},
    # scan, shuffle and text kernels dominate: queries whose time grows
    # at least 3.5x from sf0.1 to sf1, none using the lake or ANN gates
    "train_large": {"sf": 0.3, "queries": [
        "q27_text_stats", "q29_fingerprint", "q63_freq_terms"]},
}
SMOKE = {
    "lake_ingest": {"commits": 2, "rows": 50, "slices": 2, "update_share": 0.3},
    "train_small": {"sf": 0.001, "queries": [
        "q01_identity_scan", "q31_topk_per_group", "q46_quantiles"]},
    "train_large": {"sf": 0.001, "queries": ["q27_text_stats"]},
}
# Operator families and the benchmark queries whose code reaches them:
# the query itself or the operator it calls makes a call into one of the
# family's public functions (read from graft.queries.Queries and the
# operators). Dedup.rebalance, the partitioning helper most kernels
# route through, does not count toward operators.Dedup. A family's
# figures total its queries' traced time and jobs.
FAMILIES = {
    "operators.Similarity": ["q26_ann_lsh"],                  # lshTopK
    "operators.Dedup": ["q20_dedup_exact"],                   # exactSummary
    "operators.TextAnalysis": ["q27_text_stats",              # textStats
                               "q29_fingerprint",             # fingerprint
                               "q63_freq_terms"],             # words
    "operators.Sampling": ["q48_stratified_sample"],          # stratifiedSample
    "operators.GroupQuantiles": ["q46_quantiles"],            # exact
    "functions.TopKFunctions": ["q26_ann_lsh",                # via Similarity.lshTopKFrames
                               "q31_topk_per_group"],         # via Ranking.topKPerGroup
}
# the harness's span layers, then job time and time no layer accounts for
SELF_LAYERS = ["runner.load_input", "lake.write", "lake.merge", "lake.read",
               "queries.build", "queries.run", "spark", "unattributed"]
# JDK 17 module opens Spark needs outside spark-submit (the list of
# org.apache.spark.launcher.JavaModuleOptions)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def nproc():
    return len(os.sched_getaffinity(0))


def loadavg1():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def cpu_ticks():
    """CPU ticks of all CPUs since boot from /proc/stat: (stolen by the
    hypervisor for other guests, busy in this guest), as the harness
    reads them."""
    with open("/proc/stat") as f:
        f = [int(x) for x in f.readline().split()[1:]]
    return f[7], f[0] + f[1] + f[2] + f[5] + f[6]


def stolen_share(t0, t1):
    steal, busy = t1[0] - t0[0], t1[1] - t0[1]
    return steal / (steal + busy) if steal + busy > 0 else 0.0


def unstolen(iv):
    """An interval's wall time less the share the hypervisor gave to other
    guests: what it takes when this guest has its CPUs to itself."""
    return iv["s"] * (1.0 - iv["stolen"])


def host_factor(res):
    """How much faster the host ran than the reference host during this
    run: HOST_REF_S over the median of the run's host probes."""
    return HOST_REF_S / median([unstolen(h) for h in res["host"]])


# ---- build ---------------------------------------------------------------

def source_digest():
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt")]
    for pat in ("src/main/**/*", "project/*.properties", "project/*.sbt",
                "perfbench/harness/build.sbt", "perfbench/harness/project/*.properties",
                "perfbench/harness/src/**/*"):
        files += glob.glob(os.path.join(ROOT, pat), recursive=True)
    for f in sorted(set(files)):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def build():
    """Compiles the program and the harness; returns the runtime classpath."""
    for need in ("build.sbt", "src/main/scala"):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise SystemExit(f"[perfbench] no program sources: {need} missing under {ROOT}")
    stamp = os.path.join(WORK, "build", source_digest() + ".classpath")
    if os.path.exists(stamp):
        return open(stamp).read().strip()
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Xmx2g",
        "-Djava.io.tmpdir=" + os.path.join(WORK, "tmp")]))
    log("building program and harness with sbt")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export harness/Runtime/fullClasspath"],
        cwd=os.path.join(HERE, "harness"), env=env, stdin=subprocess.DEVNULL,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=840)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines or "harness" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("[perfbench] build failed")
    log(f"built in {time.time() - t0:.1f} s")
    with open(stamp, "w") as f:
        f.write(lines[-1].strip())
    return lines[-1].strip()


# ---- harness JVM ---------------------------------------------------------

def run_jvm(cp, spec, scratch, timeout):
    """Runs the harness on `spec`; returns (result dict, launch epoch,
    CPU ticks at launch)."""
    spec_file = os.path.join(scratch, f"spec-{spec['workload']}.json")
    out_file = os.path.join(scratch, f"result-{spec['workload']}.json")
    with open(spec_file, "w") as f:
        json.dump(spec, f)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Djava.io.tmpdir=" + os.path.join(scratch, "tmp"),
           "-Dspark.ui.enabled=false"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Harness", spec_file, out_file]
    os.makedirs(os.path.join(scratch, "tmp"), exist_ok=True)
    ticks = cpu_ticks()
    launched = time.time()
    p = subprocess.Popen(cmd, cwd=scratch, stdin=subprocess.DEVNULL,
                         stdout=subprocess.DEVNULL, stderr=subprocess.PIPE, text=True)
    try:
        _, err = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        raise SystemExit(f"[perfbench] harness exceeded {timeout:.0f} s")
    finally:
        if p.poll() is None:
            p.kill()
            p.wait()
    if p.returncode != 0 or not os.path.exists(out_file):
        sys.stderr.write(err[-4000:])
        raise SystemExit(f"[perfbench] harness exited with {p.returncode}")
    with open(out_file) as f:
        return json.load(f), launched, ticks


# ---- metrics helpers -----------------------------------------------------

def median(xs):
    return statistics.median(xs) if xs else 0.0


def pct(xs, q):
    """Nearest-rank percentile, q in (0, 100]."""
    if not xs:
        return 0.0
    s = sorted(xs)
    return s[max(0, min(len(s) - 1, -(-len(s) * q // 100) - 1))]


def dir_bytes(path):
    total = 0
    for dp, _, fs in os.walk(path):
        for f in fs:
            total += os.path.getsize(os.path.join(dp, f))
    return total


# ---- workloads -----------------------------------------------------------

def lake_inputs(cfg, seed):
    key = "lake-{commits}x{rows}x{slices}-u{update_share}-seed{seed}".format(seed=seed, **cfg)
    return inputs.ensure(os.path.join(WORK, "inputs"), key, lambda p: inputs.gen_lake(
        p, seed, cfg["commits"], cfg["rows"], cfg["slices"], cfg["update_share"]))


def train_inputs(cfg, seed):
    key = f"train-sf{cfg['sf']}-seed{seed}"

    def gen(p):
        # the generator reports table sizes on stdout, which carries
        # only this script's result
        sys.stdout.flush()
        saved = os.dup(1)
        os.dup2(2, 1)
        try:
            inputs.gen_train(p, seed, cfg["sf"], ROOT)
        finally:
            sys.stdout.flush()
            os.dup2(saved, 1)
            os.close(saved)
    return inputs.ensure(os.path.join(WORK, "inputs"), key, gen)


def check_lake(res, plan, corrupt):
    """Compares each read-back with the generator's expected state."""
    expect = {("read_cold", -1, 0): plan["cold"]["expect"]}
    for j, st in enumerate(plan["steps"]):
        for kind in ("append", "upsert"):
            expect[(f"read_{kind}", j)] = st[kind]["expect"]
    if corrupt:
        k = ("read_append", 0)
        expect[k] = [expect[k][0] + 1] + expect[k][1:]
    failures = []
    for op in res["ops"]:
        if "error" in op:
            failures.append(f"{op['kind']} pass {op['pass']} step {op['step']}: {op['error']}")
        elif op["kind"].startswith("read_"):
            key = (op["kind"], -1, 0) if op["kind"] == "read_cold" else (op["kind"], op["step"])
            if op.get("check") != expect[key]:
                failures.append(f"{op['kind']} pass {op['pass']} step {op['step']}: "
                                f"read-back {op.get('check')} != expected {expect[key]}")
    return failures


def lake_detail(res, plan, tables):
    ops = [o for o in res["ops"] if o["pass"] >= 0 and "error" not in o]
    app = [unstolen(o) for o in ops if o["kind"] == "append"]
    ups = [unstolen(o) for o in ops if o["kind"] == "upsert"]
    reads = [unstolen(o) for o in ops if o["kind"].startswith("read_")]
    staged = sum(st[k]["bytes"] for st in plan["steps"] for k in ("append", "upsert"))
    rows = sum(st[k]["rows"] for st in plan["steps"] for k in ("append", "upsert"))
    cold = [unstolen(o) for o in res["ops"] if o["kind"] == "cold"]
    return {
        "first_commit_s": cold[0] if cold else 0.0,
        "append_p50_s": median(app),
        "upsert_p50_s": median(ups),
        "commit_p75_s": pct(app + ups, 75),
        "read_p50_s": median(reads),
        "ingest_rows_per_s": rows * len(res["passes"]) / max(sum(app + ups), 1e-9),
        "bytes_per_input_byte": dir_bytes(os.path.join(tables, "p0")) / staged,
        "commits": len(app) + len(ups),
    }


def run_workload(args, cfg, cp, scratch):
    spec = {"workload": args.workload, "seconds": args.seconds, "trace": bool(args.trace),
            "cores": nproc()}
    if args.workload == "lake_ingest":
        src = lake_inputs(cfg, args.seed)
        with open(os.path.join(src, "plan.json")) as f:
            plan = json.load(f)
        spec.update(input=src, tables=os.path.join(scratch, "tables"),
                    checksum_sql=inputs.CHECKSUM_SQL)
    else:
        src = train_inputs(cfg, args.seed)
        spec.update(input=src, queries=cfg["queries"],
                    results=os.path.join(scratch, "results"))
    res, launched, ticks = run_jvm(cp, spec, scratch, JVM_TIMEOUT_S)

    untraced = [o for o in res["ops"] if o["pass"] >= 0 and "error" not in o
                and o["pass"] < len(res["passes"])]
    setup = {"s": res["ready_ms"] / 1000.0 - launched,
             "stolen": stolen_share(ticks, res["ready_ticks"])}
    cold = (next(o for o in res["ops"] if o["kind"] == "cold")
            if args.workload == "lake_ingest" else res["cold"][0])

    def metrics(t):
        ops = [t(o) for o in untraced]
        return {
            "setup_s": t(setup),
            "cold_s": t(cold),
            "pass_s": median([t(p) for p in res["passes"]]),
            "op_geomean_s": statistics.geometric_mean(ops) if ops else 0.0,
            "live_heap_mb": max(res["live_heap_mb"]),
        }
    factor = host_factor(res)
    e2e = metrics(lambda iv: unstolen(iv) * factor)
    if args.workload == "lake_ingest":
        failures = check_lake(res, plan, args.corrupt_expected)
        detail = lake_detail(res, plan, spec["tables"])
        attempted = len(res["ops"])
    else:
        failures = [f"{o['kind']} pass {o['pass']}: {o['error']}"
                    for o in res["ops"] if "error" in o]
        unwritten = {o["kind"] for o in res["ops"] if o["pass"] == -1 and "error" in o}
        failures += oracle.check(src, spec["results"], res["oracle_sql"],
                                 [q for q in cfg["queries"] if q not in unwritten],
                                 args.corrupt_expected)
        per_q = {}
        for o in untraced:
            per_q.setdefault(o["kind"], []).append(unstolen(o))
        detail = {"query_p50_s": {q: median(v) for q, v in sorted(per_q.items())}}
        attempted = len(res["ops"])
    detail["peak_rss_mb"] = res["peak_rss_kb"] / 1024.0
    detail["wall"] = metrics(lambda iv: iv["s"])
    detail["unstolen"] = metrics(unstolen)
    detail["host_factor"] = factor
    detail["stolen_share"] = {"setup": setup["stolen"], "cold": cold["stolen"],
                              "passes": [p["stolen"] for p in res["passes"]]}
    layers = None
    if args.trace:
        layers = per_layer(res, spec, plan if args.workload == "lake_ingest" else None)
    return e2e, detail, layers, failures, attempted, res


def per_layer(res, spec, plan):
    t = dict(res["trace"])
    out = {}
    for layer in ("runner.load_input", "sources.scan_cast", "log.snapshot", "log.history"):
        out[layer + "_s"] = t.get(layer + ".job_s", 0.0) + t.get(layer + ".driver_s", 0.0)
    for k in ("lake.write.jobs", "lake.write.job_s", "lake.write.driver_s",
              "lake.write.files_added", "lake.merge.jobs", "lake.merge.job_s",
              "lake.merge.driver_s", "lake.merge.shuffle_bytes", "lake.read.job_s",
              "lake.read.driver_s", "lake.read.files_scanned"):
        out[k] = t.get(k, 0.0)
    snaps = t.get("log.snapshots", 0.0)
    out["log.replay_commits"] = t.get("log.replay_commits", 0.0) / snaps if snaps else 0.0
    out["lake.merge.rewrite_ratio"] = 0.0
    out["log.bytes"] = 0.0
    if plan is not None:
        staged = sum(st["upsert"]["bytes"] for st in plan["steps"])
        out["lake.merge.rewrite_ratio"] = t.get("lake.merge.bytes_added", 0.0) / staged
        traced_pass = os.path.join(spec["tables"], f"p{len(res['passes'])}")
        out["log.bytes"] = sum(dir_bytes(d) for d in glob.glob(
            os.path.join(traced_pass, "*", "_delta_log")))
    for k in ("spark.jobs", "driver_serial_s", "spark.executor_run_s",
              "spark.executor_cpu_s", "spark.parallelism", "spark.shuffle_write_bytes",
              "spark.spill_bytes", "spark.input_bytes", "jvm.gc_s", "wall_s"):
        out[k] = t.get(k, 0.0)
    for fam, queries in FAMILIES.items():
        out[fam + ".s"] = sum(t.get(f"tag.{q}.s", 0.0) for q in queries)
        out[fam + ".jobs"] = sum(t.get(f"tag.{q}.jobs", 0.0) for q in queries)
    for layer in SELF_LAYERS:
        out[f"self.{layer}_s"] = t.get(f"self.{layer}_s", 0.0)
    out["trace.overhead_s"] = (median([unstolen(p) for p in res["traced_passes"]])
                               - median([unstolen(p) for p in res["passes"]]))
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs (sf0.001, a few commits) for the smoke test")
    ap.add_argument("--corrupt-expected", action="store_true",
                    help="alter one expected digest; the run must count a failure")
    args = ap.parse_args()
    # a terminated run still stops its JVM (see run_jvm's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    cfg = (SMOKE if args.smoke else WORKLOADS)[args.workload]
    os.environ.update(OMP_NUM_THREADS="1", OPENBLAS_NUM_THREADS="1", MKL_NUM_THREADS="1")
    stamp = {"nproc": nproc(), "loadavg_start": loadavg1()}
    ticks0 = cpu_ticks()
    cp = build()
    scratch = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch)
    try:
        e2e, detail, layers, failures, attempted, res = run_workload(args, cfg, cp, scratch)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    stamp.update(loadavg_end=loadavg1(), jvm_gc_s=res["gc_s"],
                 stolen_share=stolen_share(ticks0, cpu_ticks()))
    for f in failures:
        log("FAILED " + f)

    section = bench["per_layer"] if args.trace else bench["end_to_end"]
    values = layers if args.trace else e2e
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in section}
    result = {"correct": not failures, "attempted": attempted, "failed": len(failures),
              "metrics": metrics}
    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "smoke": args.smoke, "stamp": stamp,
              "end_to_end": e2e, "detail": detail, "per_layer": layers,
              "failures": failures, "result": result,
              "ops": res["ops"]}
    runs = os.path.join(WORK, "runs")
    os.makedirs(runs, exist_ok=True)
    name = f"{time.strftime('%Y%m%dT%H%M%S')}-{args.workload}-s{args.seed}-t{args.trace}.json"
    with open(os.path.join(runs, name), "w") as f:
        json.dump(record, f, indent=1)
    print(json.dumps({"stamp": stamp, "detail": detail}))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
