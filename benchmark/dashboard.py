"""`dashboard`: short HeavyDB-dialect aggregates from two closed-loop
clients sharing one Engine.

This is the engine's main traffic.  Per-statement fixed costs (dialect
rewrite, the Engine front end, Spark job scheduling) dominate and the
operators layer does nothing; the byte-identical repeats let a later
result or plan cache show a gain.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import threading
import time
import traceback

import stats
from templates import (TEMPLATES, client_blocks, same_result, twin_sql,
                       universe)

CLIENTS = 2
WARMUP_LITERAL = 0  # each template's first literal, once, before the window
# then this many blocks per client, as in the window: blocks keep getting
# faster for a while after each template's first run
WARMUP_BLOCKS = 2


def twins_path(cache_dir: str) -> str:
    """The cached twin answers, named after the statements they answer."""
    digest = hashlib.sha256(json.dumps([
        (name, stmt, twin_sql(name, stmt)) for name, stmt in universe()
    ]).encode()).hexdigest()[:16]
    return os.path.join(cache_dir, f"dashboard_twins-{digest}.json")


def setup(run) -> None:
    from heavydb_spark.engine import Engine

    run.eng = Engine(run.spark).attach(run.data_dir)
    with open(twins_path(run.cache_dir)) as fh:
        run.twins = json.load(fh)
    with run.span("setup.warmup"):
        for t in TEMPLATES:
            run.eng.sql_arrow(t.heavy.format(t.literals[WARMUP_LITERAL]))
        ops, _ = _clients(run, "w", time.perf_counter(), WARMUP_BLOCKS)
    if not all(op["ok"] for op in ops):
        raise RuntimeError("dashboard warm-up gave a wrong result")


def _client(run, c: int, tag: str, deadline: float, min_blocks: int,
            out: list, blocks_s: list) -> None:
    """Send whole blocks until the deadline has passed and at least
    min_blocks are done."""
    # the warm-up draws its blocks from streams the window does not use
    blocks = client_blocks(run.seed, c + (CLIENTS if tag == "w" else 0))
    i = 0
    while True:
        t_block = time.perf_counter()
        for name, stmt in next(blocks):
            op_id = f"{tag}{c}-{i}"
            i += 1
            run.job_group(op_id)
            ok, nbytes = False, 0
            t0 = time.perf_counter()
            try:
                with run.span("op"):
                    tbl = run.eng.sql_arrow(stmt)
                t1 = time.perf_counter()
                rows = list(zip(*(col.to_pylist() for col in tbl.columns)))
                ok = same_result(name, tbl.column_names, rows,
                                 run.twins[stmt])
                nbytes = tbl.nbytes
                if not ok:
                    print(f"dashboard: wrong result for {stmt}",
                          file=sys.stderr)
            except Exception:
                t1 = time.perf_counter()
                traceback.print_exc()
            out.append({"id": op_id, "kind": "query", "template": name,
                        "stmt": stmt, "client": c, "t0": t0, "t1": t1,
                        "ok": ok, "bytes": nbytes})
        blocks_s.append(time.perf_counter() - t_block)
        if len(blocks_s) >= min_blocks and time.perf_counter() >= deadline:
            return


def _clients(run, tag: str, deadline: float, min_blocks: int = 1):
    """Run the clients to the deadline; their ops and block times."""
    ops: list[list] = [[] for _ in range(CLIENTS)]
    blocks_s: list[list] = [[] for _ in range(CLIENTS)]
    threads = [threading.Thread(target=_client, args=(
        run, c, tag, deadline, min_blocks, ops[c], blocks_s[c]))
        for c in range(CLIENTS)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return [op for client_ops in ops for op in client_ops], blocks_s


def window(run, deadline: float) -> None:
    run.ops, run.blocks_s = _clients(run, "c", deadline)
    run.report["blocks_s"] = run.blocks_s


def after_stop(run) -> None:
    pass


def figures(run, window_s: float) -> None:
    ms = [(op["t1"] - op["t0"]) * 1e3 for op in run.ops]
    # each client's rate over its own whole blocks, summed: the client
    # that finishes first does not idle the end of the window
    run.end_to_end["ops_per_s"] = (sum(
        len(b) * len(TEMPLATES) / sum(b) for b in run.blocks_s), "1/s")
    run.end_to_end["query_p50_ms"] = (stats.percentile(ms, 50), "ms")
    distinct = len({op["stmt"] for op in run.ops})
    run.report["statements"] = len(run.ops)
    run.report["repeat_share"] = 1.0 - distinct / len(run.ops)
    run.report["query_p90_ms"] = stats.percentile(ms, 90)
    run.report["query_p90_declared"] = stats.supported(len(ms), 90)


def _overlap_share(ops) -> float:
    """Share of op time during which an op of another client was also in
    flight."""
    from spans import union_length

    busy = sum(union_length([
        (max(o["t0"], op["t0"]), min(o["t1"], op["t1"]))
        for o in ops if o["client"] != op["client"]]) for op in ops)
    return busy / sum(op["t1"] - op["t0"] for op in ops)


def layer_figures(run, window_s: float, groups: dict) -> None:
    from spans import self_times

    spans = run.tracer.spans
    selfs = self_times(spans)
    window_ops = {op["id"] for op in run.ops}
    per_op: dict[str, dict] = {}
    for s in spans:
        if s["op"] not in window_ops:
            continue
        d = per_op.setdefault(s["op"], {"op": 0.0, "dialect": 0.0,
                                        "front": 0.0, "action": 0.0})
        if s["name"] == "op":
            d["op"] = s["t1"] - s["t0"]
        elif s["name"] == "dialect.rewrite":
            d["dialect"] += selfs[s["id"]]
        elif s["name"] == "engine.sql":
            d["front"] += selfs[s["id"]]
        elif s["name"] == "action.toArrow":
            d["action"] += selfs[s["id"]]
    ops = list(per_op.values())
    n = len(ops)

    def p(key, q=50):
        return stats.percentile([d[key] * 1e3 for d in ops], q)

    pl = run.per_layer
    pl["dialect.rewrite_ms_p50"] = (p("dialect"), "ms")
    pl["engine.front_ms_p50"] = (p("front"), "ms")
    pl["engine.action_ms_p50"] = (p("action"), "ms")
    run.report["engine.action_ms_p90"] = p("action", 90)
    run.report["engine.action_ms_p90_samples"] = n
    attributed = sum(d["dialect"] + d["front"] + d["action"] for d in ops)
    wall = sum(d["op"] for d in ops)
    pl["dashboard.attributed_share"] = (attributed / wall, "share")
    pl["dashboard.unattributed_ms_p50"] = (stats.percentile(
        [(d["op"] - d["dialect"] - d["front"] - d["action"]) * 1e3
         for d in ops], 50), "ms")
    g = [groups.get(op["id"], {}) for op in run.ops]
    pl["engine.jobs_per_op"] = (sum(x.get("jobs", 0) for x in g) / n, "count")
    pl["engine.tasks_per_op"] = (sum(x.get("tasks", 0) for x in g) / n,
                                 "count")
    pl["engine.result_bytes_per_op"] = (
        sum(op["bytes"] for op in run.ops) / n, "B")
    pl["dashboard.client_overlap_share"] = (_overlap_share(run.ops), "share")
    for t in TEMPLATES:
        ms = [(op["t1"] - op["t0"]) * 1e3 for op in run.ops
              if op["template"] == t.name]
        pl[f"dashboard.{t.name}.p50_ms"] = (stats.percentile(ms, 50), "ms")
