"""Dashboard statement templates, their DuckDB twins and result checks.

Each template is one HeavyDB-dialect statement shape with one literal
slot.  There is an odd number of them, so the median of a run's whole
blocks falls inside one template's samples rather than on the boundary
between two.  Its twin is the same question in DuckDB SQL; the twin's answer on
the fixture is the expected result.  Literals are Zipf-drawn from a small
fixed domain, so a run repeats some statements byte for byte, and the
whole statement universe (every template x every literal) is small enough
to answer with DuckDB once per checkout.  Each literal selects about the
same share of rows, so which literals a seed draws barely changes a
block's cost.
"""

from __future__ import annotations

import datetime
import decimal
import math
from dataclasses import dataclass

import numpy as np

from data import PART_ADJ, PART_NOUN, PRIORITIES, SEGMENTS

ZIPF_S = 1.1
YEARS = tuple(range(1996, 2001))  # whole years of orders and shipments


@dataclass(frozen=True)
class Template:
    name: str
    heavy: str  # HeavyDB dialect, sent through Engine.sql_arrow
    twin: str  # DuckDB SQL giving the same answer
    literals: tuple
    # result columns compared within a relative tolerance (approximate
    # aggregates); every other column must match exactly
    tolerant: tuple = ()
    rel_tol: float = 0.0


TEMPLATES = (
    Template(
        "groupby_filtered",
        "SELECT l_returnflag, l_linestatus, COUNT(*) AS n, "
        "SUM(l_quantity) AS qty FROM lineitem WHERE l_linenumber = {0} "
        "GROUP BY l_returnflag, l_linestatus",
        "SELECT l_returnflag, l_linestatus, COUNT(*) AS n, "
        "SUM(l_quantity) AS qty FROM lineitem WHERE l_linenumber = {0} "
        "GROUP BY l_returnflag, l_linestatus",
        tuple(range(1, 8)),
    ),
    Template(
        "groupby_multicol",
        "SELECT c_mktsegment, c_nationkey, COUNT(*) AS n, "
        "MIN(c_acctbal) AS lo, MAX(c_acctbal) AS hi FROM customer "
        "WHERE c_mktsegment = '{0}' GROUP BY c_mktsegment, c_nationkey",
        "SELECT c_mktsegment, c_nationkey, COUNT(*) AS n, "
        "MIN(c_acctbal) AS lo, MAX(c_acctbal) AS hi FROM customer "
        "WHERE c_mktsegment = '{0}' GROUP BY c_mktsegment, c_nationkey",
        SEGMENTS,
    ),
    Template(
        "topk",
        "SELECT o_orderkey, o_totalprice FROM orders "
        "WHERE o_orderpriority = '{0}' "
        "ORDER BY o_totalprice DESC, o_orderkey LIMIT 10",
        "SELECT o_orderkey, o_totalprice FROM orders "
        "WHERE o_orderpriority = '{0}' "
        "ORDER BY o_totalprice DESC, o_orderkey LIMIT 10",
        PRIORITIES,
    ),
    Template(
        "having",
        "SELECT o_custkey, COUNT(*) AS n, SUM(o_totalprice) AS spend "
        "FROM orders WHERE o_orderpriority = '{0}' GROUP BY o_custkey "
        "HAVING COUNT(*) >= 5",
        "SELECT o_custkey, COUNT(*) AS n, SUM(o_totalprice) AS spend "
        "FROM orders WHERE o_orderpriority = '{0}' GROUP BY o_custkey "
        "HAVING COUNT(*) >= 5",
        PRIORITIES,
    ),
    Template(
        "star_orders",
        "SELECT n_name, COUNT(*) AS n, SUM(o_totalprice) AS revenue "
        "FROM orders JOIN customer ON o_custkey = c_custkey "
        "JOIN nation ON c_nationkey = n_nationkey "
        "WHERE n_regionkey = {0} AND o_orderstatus = 'F' GROUP BY n_name",
        "SELECT n_name, COUNT(*) AS n, SUM(o_totalprice) AS revenue "
        "FROM orders JOIN customer ON o_custkey = c_custkey "
        "JOIN nation ON c_nationkey = n_nationkey "
        "WHERE n_regionkey = {0} AND o_orderstatus = 'F' GROUP BY n_name",
        (0, 1, 2, 3, 4),
    ),
    Template(
        "star_lineitem",
        "SELECT r_name, COUNT(*) AS n, SUM(l_quantity) AS qty "
        "FROM lineitem JOIN supplier ON l_suppkey = s_suppkey "
        "JOIN nation ON s_nationkey = n_nationkey "
        "JOIN region ON n_regionkey = r_regionkey "
        "WHERE l_shipdate >= TIMESTAMP '{0}-01-01 00:00:00' "
        "AND l_shipdate < TIMESTAMP '{0}-04-01 00:00:00' GROUP BY r_name",
        "SELECT r_name, COUNT(*) AS n, SUM(l_quantity) AS qty "
        "FROM lineitem JOIN supplier ON l_suppkey = s_suppkey "
        "JOIN nation ON s_nationkey = n_nationkey "
        "JOIN region ON n_regionkey = r_regionkey "
        "WHERE l_shipdate >= TIMESTAMP '{0}-01-01 00:00:00' "
        "AND l_shipdate < TIMESTAMP '{0}-04-01 00:00:00' GROUP BY r_name",
        YEARS,
    ),
    Template(
        "dateadd",
        "SELECT o_orderstatus, COUNT(*) AS n FROM orders WHERE o_orderdate "
        ">= DATEADD('day', -{0}, TIMESTAMP '2001-08-01 00:00:00') "
        "GROUP BY o_orderstatus",
        "SELECT o_orderstatus, COUNT(*) AS n FROM orders WHERE o_orderdate "
        ">= TIMESTAMP '2001-08-01 00:00:00' - INTERVAL {0} DAY "
        "GROUP BY o_orderstatus",
        (7, 14, 30, 60, 90, 180, 365),
    ),
    Template(
        "datediff",
        "SELECT l_returnflag, COUNT(*) AS n FROM lineitem "
        "JOIN orders ON l_orderkey = o_orderkey "
        "WHERE DATEDIFF('day', o_orderdate, l_shipdate) > {0} "
        "AND o_orderpriority = '1-URGENT' GROUP BY l_returnflag",
        "SELECT l_returnflag, COUNT(*) AS n FROM lineitem "
        "JOIN orders ON l_orderkey = o_orderkey "
        "WHERE date_diff('day', o_orderdate, l_shipdate) > {0} "
        "AND o_orderpriority = '1-URGENT' GROUP BY l_returnflag",
        (30, 60, 90, 100, 110, 115, 120),
    ),
    Template(
        "extract",
        "SELECT EXTRACT(MONTH FROM o_orderdate) AS m, COUNT(*) AS n "
        "FROM orders WHERE EXTRACT(YEAR FROM o_orderdate) = {0} "
        "GROUP BY EXTRACT(MONTH FROM o_orderdate)",
        "SELECT EXTRACT(MONTH FROM o_orderdate) AS m, COUNT(*) AS n "
        "FROM orders WHERE EXTRACT(YEAR FROM o_orderdate) = {0} "
        "GROUP BY EXTRACT(MONTH FROM o_orderdate)",
        YEARS,
    ),
    Template(
        "approx_ndv",
        "SELECT event_type, APPROX_COUNT_DISTINCT(user_id) AS users "
        "FROM events WHERE event_id % 7 = {0} GROUP BY event_type",
        "SELECT event_type, COUNT(DISTINCT user_id) AS users "
        "FROM events WHERE event_id % 7 = {0} GROUP BY event_type",
        tuple(range(7)),
        tolerant=("users",),
        rel_tol=0.2,  # four times the sketch's default relative error
    ),
    Template(
        "approx_median",
        "SELECT c_mktsegment, APPROX_MEDIAN(c_acctbal) AS med "
        "FROM customer WHERE c_nationkey = {0} GROUP BY c_mktsegment",
        "SELECT c_mktsegment, MEDIAN(c_acctbal) AS med "
        "FROM customer WHERE c_nationkey = {0} GROUP BY c_mktsegment",
        tuple(range(0, 24, 2)),
    ),
    Template(
        "window",
        "SELECT o_orderkey, SUM(o_totalprice) OVER (PARTITION BY o_custkey "
        "ORDER BY o_orderdate, o_orderkey ROWS BETWEEN 2 PRECEDING AND "
        "CURRENT ROW) AS run3 FROM orders "
        "WHERE o_custkey BETWEEN {0} AND {0} + 19",
        "SELECT o_orderkey, SUM(o_totalprice) OVER (PARTITION BY o_custkey "
        "ORDER BY o_orderdate, o_orderkey ROWS BETWEEN 2 PRECEDING AND "
        "CURRENT ROW) AS run3 FROM orders "
        "WHERE o_custkey BETWEEN {0} AND {0} + 19",
        tuple(range(0, 15_000, 1_500)),
    ),
    Template(
        "string_filter",
        "SELECT p_brand, COUNT(*) AS n FROM part "
        "WHERE p_name LIKE '%{0}%' GROUP BY p_brand",
        "SELECT p_brand, COUNT(*) AS n FROM part "
        "WHERE p_name LIKE '%{0}%' GROUP BY p_brand",
        PART_NOUN + PART_ADJ,
    ),
)
BY_NAME = {t.name: t for t in TEMPLATES}


def universe() -> list[tuple[str, str]]:
    """Every (template name, statement) a run can send."""
    return [(t.name, t.heavy.format(v)) for t in TEMPLATES for v in t.literals]


def twin_sql(name: str, statement: str) -> str:
    t = BY_NAME[name]
    for v in t.literals:
        if t.heavy.format(v) == statement:
            return t.twin.format(v)
    raise KeyError(statement)


def _zipf_weights(k: int) -> np.ndarray:
    w = 1.0 / np.arange(1, k + 1) ** ZIPF_S
    return w / w.sum()


def client_blocks(seed: int, client: int):
    """Endless blocks for one client: each block sends every template once,
    in a seed-chosen order, with a Zipf-drawn literal.  The same seed and
    client give the same sequence."""
    rng = np.random.default_rng([seed, client])
    weights = {t.name: _zipf_weights(len(t.literals)) for t in TEMPLATES}
    while True:
        block = []
        for i in rng.permutation(len(TEMPLATES)):
            t = TEMPLATES[i]
            v = t.literals[rng.choice(len(t.literals), p=weights[t.name])]
            block.append((t.name, t.heavy.format(v)))
        yield block


def _plain(v):
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, (datetime.date, datetime.datetime)):
        return v.isoformat()
    return v


def canonical(rows) -> list[list]:
    """Rows as JSON-able lists in a fixed order (floats rounded for the
    sort key only)."""
    out = [[_plain(v) for v in r] for r in rows]

    def key(r):
        return [round(v, 2) if isinstance(v, float) else str(v) for v in r]

    return sorted(out, key=key)


def _close(a, b, rel: float) -> bool:
    if isinstance(a, (int, float)) and isinstance(b, (int, float)) \
            and not isinstance(a, bool) and not isinstance(b, bool):
        if isinstance(a, int) and isinstance(b, int) and rel == 0.0:
            return a == b
        return math.isclose(a, b, rel_tol=max(rel, 1e-9), abs_tol=1e-6)
    return a == b


def same_result(name: str, columns: list[str], rows, expected) -> bool:
    """True when `rows` (engine result) equals the twin's `expected`
    rows, up to row order and the template's tolerance."""
    t = BY_NAME[name]
    got = canonical(rows)
    if len(got) != len(expected):
        return False
    tol = [t.rel_tol if c in t.tolerant else 0.0 for c in columns]
    for g, e in zip(got, expected):
        if len(g) != len(e):
            return False
        if not all(_close(a, b, r) for a, b, r in zip(g, e, tol)):
            return False
    return True
