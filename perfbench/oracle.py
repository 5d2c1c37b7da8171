"""Output check for the train workloads: each query's Spark result against
its ``SparkEntry.oracleSql`` replayed in DuckDB over the same generated
input, compared as tools/check_correctness.py compares them: first the
column names and their DuckDB types, which must be identical (the digest
casts every value to VARCHAR, so it cannot tell an INTEGER from a BIGINT),
then the row count plus an order-insensitive digest (count, sum and xor of
per-row hashes over a canonical VARCHAR encoding, computed by DuckDB on
both sides).
"""
import glob
import os

import duckdb


def _schema(rel):
    """(name, DuckDB type) of every column, sorted by name."""
    return sorted((c, str(t)) for c, t in zip(rel.columns, rel.types))


def _digest(con, rel):
    cols = sorted(rel.columns)
    sel = ", ".join(f'COALESCE(CAST("{c}" AS VARCHAR), chr(1))' for c in cols)
    row = f"hash(concat_ws(chr(2), {sel}))"
    return tuple(con.sql(
        f"SELECT count(*), sum({row}::HUGEINT), bit_xor({row}) FROM rel").fetchone())


def check(sf_dir, results_dir, oracle_sql, queries, corrupt=False):
    """Returns one message per query whose written result differs from
    its oracle; `corrupt` alters the first query's expected digest."""
    con = duckdb.connect()
    for t in glob.glob(os.path.join(sf_dir, "*.parquet")):
        name = os.path.basename(t)[:-len(".parquet")]
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{t}'")
    failures = []
    for i, q in enumerate(queries):
        if q not in oracle_sql:
            failures.append(f"{q}: no oracle SQL")
            continue
        try:
            got_rel = con.sql(f"SELECT * FROM '{os.path.join(results_dir, q)}/*.parquet'")
            want_rel = con.sql(oracle_sql[q])
            got_schema, want_schema = _schema(got_rel), _schema(want_rel)
            if got_schema != want_schema:
                failures.append(f"{q}: columns/types {got_schema} != oracle {want_schema}")
                continue
            got, want = _digest(con, got_rel), _digest(con, want_rel)
        except Exception as e:  # noqa: BLE001 - any failure is a failed check
            failures.append(f"{q}: check raised {type(e).__name__}: {e}")
            continue
        if corrupt and i == 0:
            want = (want[0], want[1] + 1, want[2])
        if got != want:
            failures.append(f"{q}: rows/digest {got} != oracle {want}")
    con.close()
    return failures
