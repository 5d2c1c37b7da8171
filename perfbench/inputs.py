"""Seeded input generation for the perfbench workloads.

Every input is a pure function of (workload, seed, size), built by this one
single-threaded process before the benchmark JVM starts, and cached under
the work directory per seed so a repeated seed reuses it.

lake_ingest: a sequence of Keboola datadirs. Each holds a headerless sliced
CSV (``in/tables/batch.csv/part-*.csv``), a manifest typing one column per
KBC base type, and a ``config.json`` naming the destination and load mode.
Keys are generated here, never taken from lineitem (whose
``(l_orderkey, l_linenumber)`` repeats, which makes last-write-wins upserts
ambiguous). The generator also computes the expected table state after
every commit, as the checksum tuple ``CHECKSUM_SQL`` yields.

train_*: ``tools/gen_testdata.py`` at the workload's scale factor, with the
seed injected from outside by replacing numpy's generator factory (the
tool hard-codes seed 42).
"""
import datetime
import importlib.util
import json
import os
import shutil

import numpy as np

# one column per KBC base type; `id` is the primary key, `region` the
# partition column of the append table
COLUMNS = [
    ("id", "INTEGER"), ("region", "STRING"), ("amount", "NUMERIC"),
    ("score", "FLOAT"), ("active", "BOOLEAN"), ("day", "DATE"),
    ("ts", "TIMESTAMP"), ("note", "STRING"),
]
REGIONS = ["amer", "apac", "emea", "latam"]
WORDS = ["alpha", "beta", "gamma", "delta", "lake", "commit", "row",
         "stage", "cast", "merge", "spark", "table"]

# The read-back checksum. The harness runs it over LakeTable.read();
# `checksum` below computes the same tuple from the expected state.
CHECKSUM_SQL = (
    "SELECT count(*), sum(id), sum(CAST(amount * 100 AS BIGINT)), "
    "sum(CAST(round(score * 1000) AS BIGINT)), sum(IF(active, id, 0)), "
    "sum(unix_date(day)), sum(unix_seconds(ts)), "
    "sum(length(note) * (id % 7)), sum(id * length(region)) FROM t")

DAY0 = datetime.date(2015, 1, 1).toordinal() - datetime.date(1970, 1, 1).toordinal()


def _fixed(v, places):
    sign = "-" if v < 0 else ""
    v = abs(int(v))
    return f"{sign}{v // 10 ** places}.{v % 10 ** places:0{places}d}"


def _rows(rng, ids):
    """Random typed rows for the given ids, as tuples of python ints/strs:
    (id, region, amount_cents, score_milli, active, epoch_day, epoch_s, note)."""
    n = len(ids)
    region = rng.integers(0, len(REGIONS), n)
    cents = rng.integers(-10_000_000, 100_000_000, n)
    milli = rng.integers(-1_000_000, 1_000_000, n)
    active = rng.integers(0, 2, n)
    day = DAY0 + rng.integers(0, 3650, n)
    secs = day * 86400 + rng.integers(0, 86400, n)
    nwords = rng.integers(1, 6, n)
    word = rng.integers(0, len(WORDS), (n, 5))
    return [
        (int(ids[i]), REGIONS[region[i]], int(cents[i]), int(milli[i]),
         bool(active[i]), int(day[i]), int(secs[i]),
         " ".join(WORDS[w] for w in word[i, :nwords[i]]))
        for i in range(n)
    ]


def _csv_line(r):
    ts = datetime.datetime.fromtimestamp(r[6], datetime.timezone.utc)
    return ",".join([
        str(r[0]), r[1], _fixed(r[2], 2), _fixed(r[3], 3),
        "true" if r[4] else "false",
        datetime.date.fromordinal(datetime.date(1970, 1, 1).toordinal() + r[5]).isoformat(),
        ts.strftime("%Y-%m-%d %H:%M:%S"), r[7],
    ])


def checksum(rows):
    """The tuple CHECKSUM_SQL returns for a table holding `rows`."""
    c = [0] * 9
    for r in rows:
        c[0] += 1
        c[1] += r[0]
        c[2] += r[2]
        c[3] += r[3]
        c[4] += r[0] if r[4] else 0
        c[5] += r[5]
        c[6] += r[6]
        c[7] += len(r[7]) * (r[0] % 7)
        c[8] += r[0] * len(r[1])
    return c


def _write_datadir(d, rows, slices, params):
    tables = os.path.join(d, "in", "tables")
    data = os.path.join(tables, "batch.csv")
    os.makedirs(data)
    manifest = {
        "name": "batch",
        "columns": [c for c, _ in COLUMNS],
        "primary_key": ["id"],
        "column_metadata": {
            c: [{"key": "KBC.datatype.basetype", "value": t}] for c, t in COLUMNS},
    }
    with open(os.path.join(tables, "batch.csv.manifest"), "w") as f:
        json.dump(manifest, f)
    with open(os.path.join(d, "config.json"), "w") as f:
        json.dump({"action": "run", "parameters": params}, f)
    size = 0
    for s in range(slices):
        chunk = rows[s::slices]
        text = "".join(_csv_line(r) + "\n" for r in chunk)
        with open(os.path.join(data, f"part-{s:04d}.csv"), "w") as f:
            f.write(text)
        size += len(text.encode())
    return size


APPEND_PARAMS = {"destination": {
    "table": "appends", "table_type": "external", "mode": "append",
    "partition_by": ["region"], "compression": "SNAPPY"}}
UPSERT_PARAMS = {"destination": {
    "table": "upserts", "table_type": "native", "mode": "upsert",
    "warehouse": "local", "compression": "SNAPPY"}}


def gen_lake(out, seed, commits, rows, slices, update_share):
    """Writes the datadirs of one lake_ingest run plus `plan.json`.

    `cold` is the first job of a fresh JVM (its own table). Then, per
    step j, `append/j` adds `rows` new keys to the partitioned external
    table and `upsert/j` merges `rows` keys into the native PK table, a
    share `update_share` of them existing keys drawn with an exponential
    skew toward the most recent inserts.
    """
    rng = np.random.default_rng(seed)
    os.makedirs(out)
    next_id = 1
    plan = {"steps": [], "cold": None}

    def fresh(n):
        nonlocal next_id
        ids = np.arange(next_id, next_id + n, dtype=np.int64)
        next_id += n
        return ids

    cold = _rows(rng, fresh(rows))
    plan["cold"] = {"dir": "cold", "rows": rows,
                    "bytes": _write_datadir(os.path.join(out, "cold"), cold, slices,
                                            {"destination": dict(APPEND_PARAMS["destination"], table="cold")}),
                    "expect": checksum(cold)}
    appended = []
    state = {}
    upsert_keys = []  # insertion order, newest last
    for j in range(commits):
        a = _rows(rng, fresh(rows))
        appended += a
        abytes = _write_datadir(os.path.join(out, "append", str(j)), a, slices, APPEND_PARAMS)
        n_upd = int(rows * update_share) if upsert_keys else 0
        upd = []
        if n_upd:
            ages = np.floor(rng.exponential(rows, 4 * n_upd)).astype(np.int64)
            ages = ages[ages < len(upsert_keys)]
            seen = set()
            for age in ages:
                k = upsert_keys[len(upsert_keys) - 1 - age]
                if k not in seen:
                    seen.add(k)
                    upd.append(k)
                if len(upd) == n_upd:
                    break
        new_ids = fresh(rows - len(upd))
        u = _rows(rng, np.concatenate([np.array(upd, dtype=np.int64), new_ids]))
        order = rng.permutation(len(u))
        u = [u[i] for i in order]
        for r in u:
            state[r[0]] = r
        upsert_keys += [int(i) for i in new_ids]
        ubytes = _write_datadir(os.path.join(out, "upsert", str(j)), u, slices, UPSERT_PARAMS)
        plan["steps"].append({
            "append": {"dir": f"append/{j}", "rows": rows, "bytes": abytes,
                       "expect": checksum(appended)},
            "upsert": {"dir": f"upsert/{j}", "rows": rows, "bytes": ubytes,
                       "updated": len(upd), "expect": checksum(state.values())},
        })
    with open(os.path.join(out, "plan.json"), "w") as f:
        json.dump(plan, f)


def gen_train(out, seed, sf, repo_root):
    """Runs tools/gen_testdata.py at `sf` with numpy's default_rng seeded
    by `seed` instead of the tool's built-in 42."""
    path = os.path.join(repo_root, "tools", "gen_testdata.py")
    spec = importlib.util.spec_from_file_location("gen_testdata", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    real = np.random.default_rng
    np.random.default_rng = lambda *_a, **_k: real(seed)
    try:
        mod.main(float(sf), out)
    finally:
        np.random.default_rng = real


def ensure(cache_dir, key, build):
    """Returns `cache_dir/key`, building it with `build(path)` unless a
    completed copy is already cached."""
    path = os.path.join(cache_dir, key)
    done = path + ".done"
    if os.path.exists(done):
        return path
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(cache_dir, exist_ok=True)
    build(path)
    open(done, "w").close()
    return path
