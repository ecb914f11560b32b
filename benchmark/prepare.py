"""Make a run's inputs before the measured process starts.

Run by run.py as a child process, so this work stays out of both the
measured set-up time and the measured peak memory.  The fixture tables,
the dashboard's DuckDB twin answers and the curation oracle row counts
are made once per checkout and cached; the per-run inputs (the curation
row permutation, the ingest batches) are made from the seed every run.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import data  # noqa: E402



def _write_json(path: str, obj) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(obj, fh)
    os.replace(tmp, path)


def ensure_fixture(cache_dir: str) -> str:
    """The fixture tables, cached under a name that changes with the code
    that makes them."""
    with open(data.__file__, "rb") as fh:
        version = hashlib.sha256(fh.read()).hexdigest()[:16]
    out = os.path.join(cache_dir, f"fixture-{version}")
    if not os.path.isdir(out):
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        data.write_fixture(tmp)
        os.replace(tmp, out)
    return out


def duckdb_on(fixture: str):
    import duckdb

    con = duckdb.connect()
    for t in data.TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{fixture}/{t}.parquet')")
    return con


def ensure_twins(cache_dir: str, fixture: str) -> None:
    from dashboard import twins_path
    from templates import canonical, twin_sql, universe

    path = twins_path(cache_dir)
    if os.path.exists(path):
        return
    con = duckdb_on(fixture)
    twins = {stmt: canonical(con.sql(twin_sql(name, stmt)).fetchall())
             for name, stmt in universe()}
    con.close()
    _write_json(path, twins)


def ensure_oracle_rows(cache_dir: str, fixture: str) -> None:
    from curation import STAGES, oracle_counts_path
    from heavydb_spark.queries import ORACLES

    path = oracle_counts_path(cache_dir)
    if os.path.exists(path):
        return
    con = duckdb_on(fixture)
    rows = {s: con.sql(f"SELECT COUNT(*) FROM ({ORACLES[s]})").fetchone()[0]
            for s in STAGES if s in ORACLES}
    con.close()
    _write_json(path, rows)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--cache-dir", required=True)
    args = ap.parse_args()
    os.makedirs(args.cache_dir, exist_ok=True)
    fixture = ensure_fixture(args.cache_dir)
    run_data = os.path.join(args.run_dir, "data")
    shutil.copytree(fixture, run_data)
    if args.workload == "dashboard":
        ensure_twins(args.cache_dir, fixture)
    elif args.workload == "curation":
        import pyarrow.parquet as pq

        from curation import INPUT_TABLES

        ensure_oracle_rows(args.cache_dir, fixture)
        for t in INPUT_TABLES:
            path = os.path.join(run_data, f"{t}.parquet")
            pq.write_table(data.permute_rows(pq.read_table(path), args.seed),
                           path)
    elif args.workload == "ingest":
        from ingest import write_inputs

        write_inputs(args.seed, os.path.join(run_data, "ingest"))
    return 0


if __name__ == "__main__":
    sys.exit(main())
