"""SQL function groups register in a session on first use, not in
Engine() (functions/__init__.py).

Temporary functions are session-scoped, so every test that needs an
unregistered start builds its Engine on `spark.newSession()`: a fresh
function registry on the shared JVM.
"""

from __future__ import annotations

import threading

import pytest

from heavydb_spark import functions
from heavydb_spark.engine import Engine

POLY = "ST_GeomFromText('POLYGON ((0 0, 4 0, 4 4, 0 4))')"
POLY2 = "ST_GeomFromText('POLYGON ((2 2, 6 2, 6 6, 2 6))')"

# SHOW FUNCTIONS as it read when Engine() registered every group
# eagerly; lazy registration must not change it. (url_encode, url_decode
# and st_asbinary register too, but SHOW USER FUNCTIONS hides names that
# shadow a Spark built-in.)
SHOW_FUNCTIONS = (
    "approx_distance_in_meters conv_4326_900913_x conv_4326_900913_y "
    "convert_meters_to_merc_pixel_height "
    "convert_meters_to_merc_pixel_width convert_meters_to_pixel_height "
    "convert_meters_to_pixel_width cosine_similarity distance_in_meters "
    "dot_product geo_kind geo_segments h3_celltolat h3_celltolon "
    "h3_celltoparent h3_celltostring h3_isvalidcell h3_lonlattocell "
    "h3_pointtocell h3_stringtocell hash_heavy initcap_heavy "
    "is_point_in_merc_view is_point_in_view is_point_size_in_merc_view "
    "is_point_size_in_view jarowinkler_similarity rect_pixel_bin_x "
    "rect_pixel_bin_y st_area st_area_any st_asbinary_line "
    "st_asbinary_poly st_astext st_aswkb st_buffer st_buffer_any "
    "st_buffer_line st_buffer_poly st_centroid st_centroid_any "
    "st_concavehull st_contains st_convexhull st_dfullywithin "
    "st_difference st_disjoint st_distance st_distance_any "
    "st_distance_geog st_dwithin st_endpoint st_equals st_equals_any "
    "st_geomfromtext st_intersection st_intersects st_intersects_any "
    "st_intersectsbox st_isempty st_isvalid st_length st_length_any "
    "st_length_geog st_maxdistance st_npoints st_nrings st_numrings "
    "st_perimeter st_perimeter_any st_perimeter_geog st_point st_pointn "
    "st_startpoint st_transform st_transform_rings st_union st_within "
    "st_x st_xmax st_xmin st_y st_ymax st_ymin"
).split()


@pytest.fixture
def fresh(spark):
    return Engine(spark.newSession())


def _user_functions(session) -> set[str]:
    return {
        r[0].split(".")[-1].lower()
        for r in session.sql("SHOW USER FUNCTIONS").collect()
    }


def test_engine_registers_nothing(fresh):
    assert functions.registered_groups(fresh.spark) == frozenset()
    assert _user_functions(fresh.spark) == set()


def test_geo_first_statement_registers_geo_and_geos(fresh):
    r = fresh.sql(
        f"SELECT ST_INTERSECTS({POLY}, {POLY2}) AS a, ST_AREA({POLY}) AS b"
    ).first()
    assert r["a"] is True and r["b"] == pytest.approx(16.0)
    assert functions.registered_groups(fresh.spark) == {"geo", "geos"}


def test_geos_first_statement(fresh):
    r = fresh.sql(
        "SELECT size(ST_CONVEXHULL('POLYGON((0 0, 4 0, 4 4, 0 4, 0 0))'))"
        " AS n"
    ).first()
    assert r["n"] == 1
    assert "geos" in functions.registered_groups(fresh.spark)


def test_h3_first_statement(fresh):
    from pyspark.sql import functions as F

    from heavydb_spark.functions import h3

    r = fresh.sql(
        "SELECT H3_POINTTOCELL(ST_POINT(-122.4, 37.8), 7) AS a, "
        "H3_LONLATTOCELL(-122.4, 37.8, 7) AS b"
    ).first()
    want = fresh.spark.range(1).select(
        h3.h3_lonlat_to_cell(F.lit(-122.4), F.lit(37.8), 7).alias("c")
    ).first()["c"]
    assert r["a"] == r["b"] == want


def test_render_first_statement(fresh):
    r = fresh.sql(
        "SELECT is_point_in_view(10.0, 20.0, 0.0, 30.0, 0.0, 30.0) AS a, "
        "rect_pixel_bin_x(25.0, 0.0, 100.0, 10.0, 0.0, 100.0) AS b"
    ).first()
    assert r["a"] is True and r["b"] == 25.0


def test_string_first_statement(fresh):
    from heavydb_spark.functions.strings import _cyrb53

    r = fresh.sql(
        "SELECT INITCAP('mary-jane o.brien') AS a, HASH('abc') AS b, "
        "URL_ENCODE('Hello World!') AS c"
    ).first()
    assert r["a"] == "Mary-Jane O.Brien"
    assert r["b"] == _cyrb53(b"abc", 0)
    assert r["c"] == "Hello+World%21"
    assert functions.registered_groups(fresh.spark) == {"strings"}


def test_array_first_statement(fresh):
    r = fresh.sql(
        "SELECT DOT_PRODUCT(ARRAY[1, 2, 3], ARRAY[1.0, 2.0, 3.0]) AS a"
    ).first()
    assert r["a"] == 14.0
    assert functions.registered_groups(fresh.spark) == {"arrays"}


def test_update_where_registers_on_first_use(fresh):
    table = "fn_registry_upd"
    fresh.sql(f"DROP TABLE IF EXISTS {table}")
    fresh.sql(f"CREATE TABLE {table} (id INT, x DOUBLE, s TEXT)")
    try:
        fresh.sql(f"INSERT INTO {table} VALUES (1, 0.5, 'a b'), "
                  "(2, 3.0, 'c d')")
        assert functions.registered_groups(fresh.spark) == frozenset()
        fresh.sql(f"UPDATE {table} SET s = URL_ENCODE(s) "
                  "WHERE ST_X(ST_POINT(x, 0.0)) > 1.0")
        rows = sorted(tuple(r) for r in
                      fresh.sql(f"SELECT id, s FROM {table}").collect())
        assert rows == [(1, "a b"), (2, "c+d")]
    finally:
        fresh.sql(f"DROP TABLE IF EXISTS {table}")


def test_concurrent_first_geo_statements(fresh):
    sql = f"SELECT ST_INTERSECTS({POLY}, {POLY2}) AS a"
    start = threading.Barrier(2)
    results, errors = [], []

    def run():
        start.wait()
        try:
            results.append(fresh.sql(sql).first()["a"])
        except Exception as exc:  # noqa: BLE001 - reported below
            errors.append(exc)

    threads = [threading.Thread(target=run) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert errors == [] and results == [True, True]


def test_declared_names_match_registered(spark):
    """Drift guard: every function a group registers is declared in its
    module's SQL_FUNCTIONS and each group registers with only its
    SQL_REQUIRES closure before it."""
    builtins = {r[0] for r in spark.sql("SHOW SYSTEM FUNCTIONS").collect()}
    everything = spark.newSession()
    functions.register_all(everything)
    assert _user_functions(everything) == set(functions.GROUP_OF) - builtins
    for group, closure in functions._CLOSURE.items():
        session = spark.newSession()
        functions.register_all(session, groups=[group])
        assert _user_functions(session) == {
            n for n, g in functions.GROUP_OF.items() if g in closure
        } - builtins, group


def test_show_functions_unchanged(fresh):
    names = [r["name"] for r in fresh.sql("SHOW FUNCTIONS").collect()]
    assert names == SHOW_FUNCTIONS
