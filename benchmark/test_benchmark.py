"""Tests of the benchmark itself.

    python3 -m pytest benchmark/test_benchmark.py -q

The last two tests start a Spark session over the fixture (about a
minute); the rest are plain Python.
"""

from __future__ import annotations

import math
import os
import sys

import numpy as np
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import data  # noqa: E402
import ingest  # noqa: E402
import spans  # noqa: E402
import stats  # noqa: E402
import templates  # noqa: E402


def _blocks(seed, client, n=3):
    gen = templates.client_blocks(seed, client)
    return [next(gen) for _ in range(n)]


def test_same_seed_same_statement_sequence():
    assert _blocks(5, 0) == _blocks(5, 0)
    assert _blocks(5, 0) != _blocks(6, 0)
    assert _blocks(5, 0) != _blocks(5, 1)
    for block in _blocks(5, 1):  # every block sends every template once
        assert sorted(n for n, _ in block) == sorted(
            t.name for t in templates.TEMPLATES)


def test_same_seed_same_batches(tmp_path):
    a, b, c = tmp_path / "a", tmp_path / "b", tmp_path / "c"
    ingest.write_inputs(3, str(a))
    ingest.write_inputs(3, str(b))
    ingest.write_inputs(4, str(c))
    for name in ("initial.parquet", "load_0.parquet", "copy_5.parquet",
                 "literals.json"):
        same = (pq.read_table(a / name).equals(pq.read_table(b / name))
                if name.endswith(".parquet")
                else (a / name).read_text() == (b / name).read_text())
        assert same, name
    assert not pq.read_table(a / "load_0.parquet").equals(
        pq.read_table(c / "load_0.parquet"))


def test_same_seed_same_permutation():
    t = data.fixture_tables()["embeddings"]
    p1, p2 = data.permute_rows(t, 9), data.permute_rows(t, 9)
    assert p1.equals(p2)
    assert not p1.equals(data.permute_rows(t, 10))
    assert sorted(p1.column("vec_id").to_pylist()) == list(range(t.num_rows))


def test_fixture_is_fixed():
    a, b = data.fixture_tables(), data.fixture_tables()
    assert all(a[n].equals(b[n]) for n in data.TABLES)
    assert a["lineitem"].num_rows == 600_000
    assert a["documents"].num_rows == 5_000


def test_percentiles_and_sample_counts():
    rng = np.random.default_rng(0)
    xs = rng.exponential(1.0, 137).tolist()
    for q in (50, 90):
        assert math.isclose(stats.percentile(xs, q), np.percentile(xs, q))
    assert stats.percentile([3.0, 1.0, 2.0], 50) == 2.0
    assert stats.percentile([1.0, 2.0], 50) == 1.5
    assert not stats.supported(99, 90)
    assert stats.supported(100, 90)
    assert stats.supported(1, 50)
    with pytest.raises(ValueError):
        stats.percentile([], 50)


def test_self_time_on_hand_built_tree():
    def s(i, parent, t0, t1):
        return {"id": i, "parent": parent, "name": str(i), "op": "x",
                "thread": 0, "t0": t0, "t1": t1}

    tree = [
        s(1, 0, 0.0, 10.0),
        s(2, 1, 1.0, 4.0),   # children of 1 overlap: union is 1..6
        s(3, 1, 3.0, 6.0),
        s(4, 2, 2.0, 3.0),
        s(5, 1, 9.0, 12.0),  # runs past its parent: clipped to 9..10
    ]
    self_t = spans.self_times(tree)
    assert self_t[1] == pytest.approx(10.0 - 5.0 - 1.0)
    assert self_t[2] == pytest.approx(3.0 - 1.0)
    assert self_t[3] == pytest.approx(3.0)
    assert self_t[4] == pytest.approx(1.0)
    assert self_t[5] == pytest.approx(3.0)


def test_tracer_nests_spans_per_thread():
    tr = spans.Tracer()

    def inner(x):
        return x + 1

    outer = tr.wrap("outer", lambda x: tr.wrap("inner", inner)(x) * 2)
    tr.set_op("op1")
    assert outer(1) == 4
    by_name = {s["name"]: s for s in tr.spans}
    assert by_name["inner"]["parent"] == by_name["outer"]["id"]
    assert by_name["outer"]["parent"] == 0
    assert by_name["inner"]["op"] == "op1"


def test_event_log_totals():
    # two job groups recorded from a local Spark run (q1: a 2-stage
    # aggregate, q2: a 3-stage distinct count), trimmed to the fields read
    log = os.path.join(HERE, "testdata", "eventlog.jsonl")
    totals = spans.parse_event_log(log)
    assert totals == {
        "q1": {"jobs": 1, "tasks": 4, "run_ms": 203 + 198 + 84 + 89,
               "gc_ms": 8 + 8 + 9 + 9, "shuffle_write_bytes": 2 * 133},
        "q2": {"jobs": 1, "tasks": 5, "run_ms": 63 + 70 + 32 + 35 + 26,
               "gc_ms": 7, "shuffle_write_bytes": 2 * 135 + 2 * 59},
    }


def test_benchmark_json_declares_every_layer_metric():
    import json

    import curation

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        names = {m["name"] for m in json.load(fh)["per_layer"]}
    for t in templates.TEMPLATES:
        assert f"dashboard.{t.name}.p50_ms" in names
    for stage in curation.STAGES:
        for part in ("build_ms", "exec_s", "tasks", "shuffle_write_bytes",
                     "gc_ms"):
            assert f"operators.{stage}.{part}" in names
    for kind in ingest.WRITES:
        assert f"ingest.{kind}_ms_p50" in names


def test_client_overlap_share():
    import dashboard

    ops = [{"client": 0, "t0": 0.0, "t1": 10.0},
           {"client": 1, "t0": 5.0, "t1": 15.0},
           {"client": 1, "t0": 20.0, "t1": 30.0}]
    # 5 s of each of the first two ops overlap; the third runs alone
    assert dashboard._overlap_share(ops) == pytest.approx(10.0 / 30.0)


# --- against the engine ----------------------------------------------------


@pytest.fixture(scope="module")
def fixture_dir(tmp_path_factory):
    out = str(tmp_path_factory.mktemp("fixture"))
    data.write_fixture(out)
    return out


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from heavydb_spark.session import get_spark

    wh = str(tmp_path_factory.mktemp("warehouse"))
    s = get_spark(app_name="benchmark_tests", master="local[4]",
                  shuffle_partitions=4,
                  extra_conf={"spark.sql.warehouse.dir": wh,
                              "spark.ui.showConsoleProgress": "false"})
    yield s
    s.stop()


def test_every_dashboard_statement_equals_its_twin(spark, fixture_dir):
    import prepare
    from heavydb_spark.engine import Engine

    eng = Engine(spark).attach(fixture_dir)
    con = prepare.duckdb_on(fixture_dir)
    wrong = []
    for name, stmt in templates.universe():
        want = templates.canonical(
            con.sql(templates.twin_sql(name, stmt)).fetchall())
        assert want, f"twin of {stmt} is empty"
        tbl = eng.sql_arrow(stmt)
        rows = list(zip(*(c.to_pylist() for c in tbl.columns)))
        if not templates.same_result(name, tbl.column_names, rows, want):
            wrong.append(stmt)
    assert not wrong


def test_curation_pins_match_the_oracles(spark, fixture_dir):
    import curation
    import prepare
    from heavydb_spark.queries import ORACLES, QUERIES

    con = prepare.duckdb_on(fixture_dir)
    for stage in curation.STAGES:
        df = QUERIES[stage](spark, fixture_dir)
        assert curation.fingerprint(df) == curation.PINNED[stage], stage
        if stage not in ORACLES:
            continue
        got = templates.canonical(
            [tuple(r) for r in df.select(*sorted(df.columns)).collect()])
        oracle = con.sql(ORACLES[stage])
        cols = sorted(oracle.columns)
        want = templates.canonical(
            con.sql(f"SELECT {', '.join(cols)} FROM ({ORACLES[stage]})")
            .fetchall())
        assert len(got) == len(want), stage
        for g, w in zip(got, want):
            assert all(
                math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-6)
                if isinstance(a, float) or isinstance(b, float) else a == b
                for a, b in zip(g, w)), (stage, g, w)
