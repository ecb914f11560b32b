"""Scalar function surface (SURVEY.md §2.8).

Nearly all of the reference's string/datetime/math library maps 1:1 onto
`pyspark.sql.functions` and stays JVM-side (whole-stage codegen). This
package holds only the genuine gaps, each registered as a SQL function so
both the DataFrame API and `engine.sql` can reach it.

The SQL functions come in groups, one per module (strings, arrays, geos,
geo, render, h3); each module declares the names it registers
(`SQL_FUNCTIONS`) and the groups its SQL bodies call (`SQL_REQUIRES`).
Registering a group costs up to several seconds, so nothing registers
when an `Engine` is built: the engine registers a group, after the groups
it requires, the first time a statement's rewritten text calls one of its
functions, once per Spark session (`groups_to_register`). `SHOW
FUNCTIONS` registers every group first. Code that sends SQL naming these
functions to `spark.sql` itself calls `register_all(spark)` first; the
Column helpers need no registration.
"""

from __future__ import annotations

import re
import threading
import weakref

from pyspark.sql import SparkSession

from heavydb_spark.functions import arrays, geo, geos, h3, render, strings

# group -> (declaring module, register function)
_GROUPS = {
    "strings": (strings, strings.register_string_functions),
    "arrays": (arrays, arrays.register_array_functions),
    "geos": (geos, geos.register_geos_functions),
    "geo": (geo, geo.register_geo_functions),
    "render": (render, render.register_render_functions),
    "h3": (h3, h3.register_h3_functions),
}

# SQL function name -> its group
GROUP_OF = {
    name: group
    for group, (mod, _) in _GROUPS.items()
    for name in mod.SQL_FUNCTIONS
}


def _closure(group: str) -> list[str]:
    out: list[str] = []
    for dep in getattr(_GROUPS[group][0], "SQL_REQUIRES", ()):
        out += [g for g in _closure(dep) if g not in out]
    return out + [group]


# group -> the groups to register for it, required groups first
_CLOSURE = {group: _closure(group) for group in _GROUPS}

# identifiers in call position; the names are looked up in GROUP_OF
# (one generic pattern is ~7x cheaper per statement than an alternation
# of every function name)
_CALL_RE = re.compile(r"\b([A-Za-z_]\w*)\s*\(")

# session -> the groups registered in it; each value is replaced, never
# mutated, so the lock-free reads see a whole set. Weak-keyed so stopped
# sessions stay garbage-collectable.
_REGISTERED: "weakref.WeakKeyDictionary[SparkSession, frozenset[str]]" = (
    weakref.WeakKeyDictionary()
)
_LOCK = threading.Lock()


def registered_groups(spark: SparkSession) -> frozenset[str]:
    return _REGISTERED.get(spark, frozenset())


def groups_to_register(spark: SparkSession, sql: str) -> set[str]:
    """The groups whose functions `sql` calls and that `spark` has not
    registered yet (lock-free)."""
    done = registered_groups(spark)
    if len(done) == len(_GROUPS):
        return set()
    return {
        GROUP_OF[name]
        for name in map(str.lower, _CALL_RE.findall(sql))
        if name in GROUP_OF
    } - done


def register_all(spark: SparkSession, groups=None) -> None:
    """Register the SQL functions of `groups` (default: every group) in
    `spark`, each after the groups it requires, once per session."""
    wanted = list(dict.fromkeys(
        g for group in (_GROUPS if groups is None else groups)
        for g in _CLOSURE[group]
    ))
    if registered_groups(spark).issuperset(wanted):
        return
    with _LOCK:
        for group in wanted:
            done = registered_groups(spark)
            if group in done:
                continue
            _GROUPS[group][1](spark)
            _REGISTERED[spark] = done | {group}


def single_value(col):
    """SINGLE_VALUE aggregate (sqldefs.h:85): the group's value, erroring
    if the group holds more than one distinct value — the runtime check
    the reference's planner inserts under scalar subqueries. JVM-side:
    raise_error fires inside codegen, no UDF."""
    from pyspark.sql import functions as F

    return F.when(
        F.count_distinct(col) > 1,
        F.raise_error(F.lit("more than one row returned by SINGLE_VALUE")),
    ).otherwise(F.first(col, ignorenulls=True))


from heavydb_spark.functions.udaf import geometric_mean  # noqa: F401,E402
