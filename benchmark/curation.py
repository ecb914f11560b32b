"""`curation`: whole passes of a fixed chain of LLM-data builders from the
query catalog, one caller, no Engine.

The mirror of `dashboard`: the operators layer and its shuffles do almost
all the work, while dialect, engine and functions.register_all do none,
so a change to those should predict no change here.  Each stage ends in
an Observation (row count + sum of row hashes) over a `noop` sink, which
runs the whole plan without collecting it to the driver.
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback

import stats

# Trimmed so a window of a few seconds holds several whole passes on
# 4 cores:
# join_fuzzy_names and pipe_curation_v2 take 4-6 s each alone, and
# dedup_minhash_lsh (2 s, no oracle) would leave an even number of stages,
# which puts the median on the boundary between two stages' samples.
STAGES = ("sim_cosine_topk", "text_quality", "dedup_span_rewrite")
# passes keep getting faster for several passes (1.8 s down to 1.35 s
# after three warm-up passes), so warm up well past the first few
WARMUP_PASSES = 5
INPUT_TABLES = ("documents", "embeddings")  # the tables the seed permutes

# Fingerprints of each stage's output on the fixture: (rows, sum of
# Spark row hashes).  Rows are also checked against the catalog's DuckDB
# oracle.  They do not depend on the input row order.
PINNED = {
    "dedup_span_rewrite": (5000, 79938489013),
    "text_quality": (5000, 64734466379),
    "sim_cosine_topk": (10, -1566595208),
}


def oracle_counts_path(cache_dir: str) -> str:
    """The cached oracle row counts, named after the stages they count."""
    return os.path.join(cache_dir,
                        f"curation_oracle_rows-{'-'.join(STAGES)}.json")


def fingerprint(df):
    """(rows, hash sum) of df, computed by running its whole plan into a
    noop sink."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation()
    df.observe(
        obs,
        F.count(F.lit(1)).alias("n"),
        F.sum(F.hash(*df.columns).cast("long")).alias("h"),
    ).write.format("noop").mode("overwrite").save()
    got = obs.get
    return got["n"], got["h"]


def _expected(run, stage):
    rows, h = PINNED[stage]
    return run.oracle_rows.get(stage, rows), h


def _pass(run, tag: str) -> None:
    from heavydb_spark.queries import QUERIES

    for stage in STAGES:
        op_id = f"{tag}-{stage}"
        run.job_group(op_id)
        ok = False
        t0 = time.perf_counter()
        try:
            with run.span("op"):
                df = QUERIES[stage](run.spark, run.data_dir)
                t_built = time.perf_counter()
                got = fingerprint(df)
            t1 = time.perf_counter()
            want = _expected(run, stage)
            ok = got == want
            if not ok:
                print(f"curation: {stage} gave {got}, expected {want}",
                      file=sys.stderr)
        except Exception:
            t_built = t1 = time.perf_counter()
            traceback.print_exc()
        run.ops.append({"id": op_id, "kind": stage, "t0": t0,
                        "t_built": t_built, "t1": t1, "ok": ok})


def setup(run) -> None:
    from heavydb_spark import catalog

    catalog.register_views(run.spark, run.data_dir)
    with open(oracle_counts_path(run.cache_dir)) as fh:
        run.oracle_rows = json.load(fh)
    if run.trace:
        from heavydb_spark.queries import QUERIES

        for stage in STAGES:
            QUERIES[stage] = run.tracer.wrap(f"operators.{stage}",
                                             QUERIES[stage])
    with run.span("setup.warmup"):
        for w in range(WARMUP_PASSES):
            _pass(run, f"warmup{w}")
    warm = run.ops
    run.ops = []
    if not all(op["ok"] for op in warm):
        raise RuntimeError("curation warm-up pass gave a wrong result")


def window(run, deadline: float) -> None:
    p = 0
    pass_s = []
    while time.perf_counter() < deadline:
        t0 = time.perf_counter()
        _pass(run, f"p{p}")
        pass_s.append(time.perf_counter() - t0)
        p += 1
    run.report["pass_s"] = pass_s


def after_stop(run) -> None:
    pass


def figures(run, window_s: float) -> None:
    ms = [(op["t1"] - op["t0"]) * 1e3 for op in run.ops]
    run.end_to_end["ops_per_s"] = (len(run.ops) / window_s, "1/s")
    run.end_to_end["query_p50_ms"] = (stats.percentile(ms, 50), "ms")


def layer_figures(run, window_s: float, groups: dict) -> None:
    pl = run.per_layer
    for stage in STAGES:
        ops = [op for op in run.ops if op["kind"] == stage]
        g = [groups.get(op["id"], {}) for op in ops]
        n = len(ops)
        pl[f"operators.{stage}.build_ms"] = (stats.percentile(
            [(op["t_built"] - op["t0"]) * 1e3 for op in ops], 50), "ms")
        pl[f"operators.{stage}.exec_s"] = (stats.percentile(
            [op["t1"] - op["t_built"] for op in ops], 50), "s")
        pl[f"operators.{stage}.tasks"] = (
            sum(x.get("tasks", 0) for x in g) / n, "count")
        pl[f"operators.{stage}.shuffle_write_bytes"] = (
            sum(x.get("shuffle_write_bytes", 0) for x in g) / n, "B")
        pl[f"operators.{stage}.gc_ms"] = (
            sum(x.get("gc_ms", 0) for x in g) / n, "ms")
