"""`ingest`: one closed-loop client writing to a managed table.

The only workload that runs the write paths: Engine.load_table, COPY FROM
a Parquet file (sources.copy_io), INSERT ... SELECT, and the copy-on-write
UPDATE and DELETE of operators.mutation.  Every write is followed by
aggregate reads through sql_arrow.  Reads and writes alternate rather than
overlap: a read that overlaps a copy-on-write swap fails, a known engine
defect.

A ledger in this process applies every write to its own copy of the
table; every write's reported count and every read must match it, and
after the JVM stops the table's files on disk must equal its final state.
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import stats

TABLE = "ingest_t"
CREATE = (f"CREATE TABLE {TABLE} (id BIGINT, grp INTEGER, qty BIGINT, "
          "price BIGINT, tag TEXT)")
SCHEMA = pa.schema([("id", pa.int64()), ("grp", pa.int32()),
                    ("qty", pa.int64()), ("price", pa.int64()),
                    ("tag", pa.string())])
INITIAL_ROWS = 20_000
LOAD_ROWS = 2_000
COPY_ROWS = 2_000
INSERT_ROWS = 1_000
DELETE_ROWS = LOAD_ROWS + COPY_ROWS + INSERT_ROWS  # table size stays put
GROUPS = 16
MAX_CYCLES = 40  # batches made per run; a window uses far fewer
WRITES = ("load_table", "copy_from", "insert", "update", "delete")
READS = (
    ("totals", f"SELECT COUNT(*) AS n, SUM(qty) AS q, SUM(price) AS p, "
               f"MIN(id) AS lo, MAX(id) AS hi FROM {TABLE}"),
    ("by_grp", f"SELECT grp, COUNT(*) AS n, SUM(qty) AS q FROM {TABLE} "
               f"GROUP BY grp"),
)


def batch(rng, first_id: int, n: int) -> pa.Table:
    return pa.table({
        "id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
        "grp": pa.array(rng.integers(0, GROUPS, n), pa.int32()),
        "qty": pa.array(rng.integers(1, 100, n), pa.int64()),
        "price": pa.array(rng.integers(100, 100_000, n), pa.int64()),
        "tag": pa.array([f"t{k}" for k in rng.integers(0, 50, n)]),
    }, schema=SCHEMA)


def write_inputs(seed: int, out_dir: str) -> None:
    """The run's seeded inputs: the initial rows, and per cycle one
    load_table batch, one Parquet file for COPY FROM and the literals of
    INSERT ... SELECT and UPDATE."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 7])
    pq.write_table(batch(rng, 0, INITIAL_ROWS),
                   os.path.join(out_dir, "initial.parquet"))
    next_id = INITIAL_ROWS
    lits = []
    for c in range(MAX_CYCLES):
        pq.write_table(batch(rng, next_id, LOAD_ROWS),
                       os.path.join(out_dir, f"load_{c}.parquet"))
        next_id += LOAD_ROWS
        pq.write_table(batch(rng, next_id, COPY_ROWS),
                       os.path.join(out_dir, f"copy_{c}.parquet"))
        next_id += COPY_ROWS
        # INSERT copies a slice of the live ids [lo, next_id)
        live_lo = c * DELETE_ROWS
        sel = live_lo + int(rng.integers(0, next_id - live_lo - INSERT_ROWS))
        lits.append({"sel": sel, "grp": int(rng.integers(0, GROUPS))})
        next_id += INSERT_ROWS
    with open(os.path.join(out_dir, "literals.json"), "w") as fh:
        json.dump(lits, fh)


class Ledger:
    """The table as the acknowledged writes say it must be."""

    def __init__(self, initial: pd.DataFrame):
        self.df = initial.reset_index(drop=True)

    def append(self, rows: pd.DataFrame) -> int:
        self.df = pd.concat([self.df, rows], ignore_index=True)
        return len(rows)

    def insert_select(self, lo: int, hi: int, new_first: int) -> None:
        """INSERT ... SELECT reports no count, so this returns none."""
        rows = self.df[(self.df.id >= lo) & (self.df.id < hi)].copy()
        rows["id"] = rows["id"] + (new_first - lo)
        self.append(rows)

    def update(self, grp: int) -> int:
        hit = self.df.grp == grp
        self.df.loc[hit, "qty"] += 1
        return int(hit.sum())

    def delete_below(self, bound: int) -> int:
        hit = self.df.id < bound
        self.df = self.df[~hit].reset_index(drop=True)
        return int(hit.sum())

    def read(self, name: str) -> list[tuple]:
        d = self.df
        if name == "totals":
            return [(len(d), int(d.qty.sum()), int(d.price.sum()),
                     int(d.id.min()), int(d.id.max()))]
        g = d.groupby("grp").agg(n=("id", "size"), q=("qty", "sum"))
        return sorted((int(k), int(r.n), int(r.q)) for k, r in g.iterrows())

    def equals(self, table: pa.Table) -> bool:
        got = table.select(SCHEMA.names).to_pandas()
        a = got.sort_values("id").reset_index(drop=True)
        b = self.df.sort_values("id").reset_index(drop=True)
        return a.astype(b.dtypes).equals(b)


def _table_dir(run) -> str:
    return os.path.join(run.run_dir, "warehouse", TABLE)


def _files(run) -> dict[str, int]:
    out = {}
    for root, _dirs, names in os.walk(os.path.join(run.run_dir, "warehouse")):
        for n in names:
            p = os.path.join(root, n)
            out[p] = os.path.getsize(p)
    return out


def _timed(run, op_id: str, kind: str, fn, check) -> None:
    run.job_group(op_id)
    ok = False
    t0 = time.perf_counter()
    try:
        with run.span("op"):
            got = fn()
        t1 = time.perf_counter()
        ok = check(got)
        if not ok:
            print(f"ingest: {op_id} {kind} gave {got!r}", file=sys.stderr)
    except Exception:
        t1 = time.perf_counter()
        traceback.print_exc()
    run.ops.append({"id": op_id, "kind": kind, "t0": t0, "t1": t1, "ok": ok})


def _reads(run, tag: str) -> None:
    for name, sql in READS:
        def fn(sql=sql):
            t = run.eng.sql_arrow(sql)
            return sorted(zip(*(c.to_pylist() for c in t.columns)))
        _timed(run, f"{tag}-{name}", "read", fn,
               lambda got, name=name: got == run.ledger.read(name))


def _count(df) -> int:
    return int(df.collect()[0][-1])


def _cycle(run, c: int, reads: bool = True) -> None:
    eng, led, lit = run.eng, run.ledger, run.literals[c]
    inp = os.path.join(run.run_dir, "data", "ingest")
    live_lo = int(led.df.id.min())
    ins_first = int(led.df.id.max()) + 1 + LOAD_ROWS + COPY_ROWS
    sel_lo, sel_hi = lit["sel"], lit["sel"] + INSERT_ROWS
    bound = live_lo + DELETE_ROWS
    load = pq.read_table(os.path.join(inp, f"load_{c}.parquet"))
    copy_path = os.path.join(inp, f"copy_{c}.parquet")
    copy_rows = pq.read_table(copy_path).to_pandas()

    def insert():
        eng.sql(f"INSERT INTO {TABLE} SELECT id + {ins_first - sel_lo}, "
                f"grp, qty, price, tag FROM {TABLE} "
                f"WHERE id >= {sel_lo} AND id < {sel_hi}")

    # (kind, the engine call returning its reported count, the ledger
    # change returning the count it expects, user rows appended)
    steps = (
        ("load_table", lambda: _count(eng.load_table(TABLE, load)),
         lambda: led.append(load.to_pandas()), LOAD_ROWS),
        ("copy_from", lambda: _count(eng.sql(
            f"COPY {TABLE} FROM '{copy_path}' "
            "WITH (source_type='parquet_file')")),
         lambda: led.append(copy_rows), COPY_ROWS),
        ("insert", insert,
         lambda: led.insert_select(sel_lo, sel_hi, ins_first),
         INSERT_ROWS),
        ("update", lambda: _count(eng.sql(
            f"UPDATE {TABLE} SET qty = qty + 1 WHERE grp = {lit['grp']}")),
         lambda: led.update(lit["grp"]), 0),
        ("delete", lambda: _count(eng.sql(
            f"DELETE FROM {TABLE} WHERE id < {bound}")),
         lambda: led.delete_below(bound), 0),
    )
    files0 = _files(run) if run.trace else None
    for kind, call, apply, user_rows in steps:
        _timed(run, f"c{c}-{kind}", kind, call,
               lambda got, apply=apply: got == apply())
        run.user_rows += user_rows
        if files0 is not None:
            files1 = _files(run)
            run.bytes_written += sum(size for p, size in files1.items()
                                     if files0.get(p) != size)
            files0 = files1
        if reads:
            _reads(run, f"c{c}-{kind}")


def setup(run) -> None:
    from heavydb_spark.engine import Engine

    inp = os.path.join(run.run_dir, "data", "ingest")
    with open(os.path.join(inp, "literals.json")) as fh:
        run.literals = json.load(fh)
    initial = pq.read_table(os.path.join(inp, "initial.parquet"))
    run.eng = Engine(run.spark).attach(run.data_dir)
    run.user_rows = run.bytes_written = 0
    with run.span("setup.warmup"):
        run.eng.sql(CREATE)
        run.eng.load_table(TABLE, initial).collect()
        run.ledger = Ledger(initial.to_pandas())
        _reads(run, "warmup")
        _cycle(run, 0, reads=False)  # the first write of each kind is cold
        _reads(run, "warmup-end")
    run.user_rows = run.bytes_written = 0
    warm = run.ops
    run.ops = []
    if not all(op["ok"] for op in warm):
        raise RuntimeError("ingest warm-up disagrees with the ledger")


def window(run, deadline: float) -> None:
    c = 1  # cycle 0 is in the warm-up
    while time.perf_counter() < deadline:
        if c == MAX_CYCLES:
            raise RuntimeError("ingest ran out of prepared batches")
        _cycle(run, c)
        c += 1
    run.report["cycles"] = c - 1


def after_stop(run) -> None:
    """Check the table's files on disk against the ledger."""
    ok = False
    try:
        ok = run.ledger.equals(pq.read_table(_table_dir(run)))
    except Exception:
        traceback.print_exc()
    if not ok:
        print("ingest: table files on disk differ from the ledger",
              file=sys.stderr)
    run.ops.append({"id": "on-disk", "kind": "disk_check", "t0": 0.0,
                    "t1": 0.0, "ok": ok})
    run.report["table_files_end"] = sum(
        1 for n in os.listdir(_table_dir(run)) if n.endswith(".parquet"))


def _timed_ops(run, kinds) -> list[float]:
    return [(op["t1"] - op["t0"]) * 1e3 for op in run.ops
            if op["kind"] in kinds]


def figures(run, window_s: float) -> None:
    timed = [op for op in run.ops if op["kind"] != "disk_check"]
    run.end_to_end["ops_per_s"] = (len(timed) / window_s, "1/s")
    run.end_to_end["query_p50_ms"] = (
        stats.percentile(_timed_ops(run, ("read",)), 50), "ms")
    run.report["write_p50_ms"] = stats.percentile(
        _timed_ops(run, WRITES), 50)
    run.report["rows_per_s"] = run.user_rows / window_s


def layer_figures(run, window_s: float, groups: dict) -> None:
    pl = run.per_layer
    for kind in WRITES:
        pl[f"ingest.{kind}_ms_p50"] = (
            stats.percentile(_timed_ops(run, (kind,)), 50), "ms")
    row_bytes = batch(np.random.default_rng(0), 0, 1000).nbytes / 1000
    pl["ingest.bytes_written_per_user_byte"] = (
        run.bytes_written / (run.user_rows * row_bytes), "ratio")
    pl["ingest.table_files_end"] = (run.report["table_files_end"], "count")
