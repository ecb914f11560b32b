"""Replay the reference's ArrayTest against the engine — the FOURTH
reference test file harvested into the comparator family (r10 verdict
queue #3 second half; see scripts/correlated_subquery_probe.py).

Tests/ArrayTest.cpp asserts through typed C++ row loops with INLINE
expected vectors, so each test transcribes (file:line cited) to
expected Python rows run engine-only — no oracle engine is needed, and
DuckDB's array-op semantics differ anyway. The suite's own fixtures
(array_ext_ops_test :82-128 incl. the fixed-length BIGINT[2] column and
ENCODING clauses, dot_product_test :1598, dot_product_varlen_test
:1753, tinyint_arr :745) rebuild through the engine's own DDL + brace
array-literal INSERT path.

Reference null-representation notes transcribed to engine semantics:
- inline_int/fp_null_value sentinels in expected arrays are NULL
  elements here (the engine-wide NULL-not-sentinel stance);
- a NULL string cell in tarray_append expectations is written "" by the
  reference's checker (NullableStrType) — None here.

ArrayEqual queries are augmented with their input column (the C++
checks rows positionally by insertion order, which a distributed scan
does not define; the input column keys each row's expectation).

Engine-superset accepts (reference throws, well-defined here):
- array_append downcast (arri32 + i64 widens, ArrayAppendDowncast:540);
- CARDINALITY/ARRAY_LENGTH over ARRAY_APPEND (CardinalityWithUdf:662);
- mixed int-array x float-array DOT_PRODUCT and scalar-subquery args
  (ArrayDotProductExceptionsTest:1846).
Documented skips: raw_array_* (reference test-lib UDFs), fixed-ENCODING
DDL rejects (encodings are storage hints this engine drops by design),
MultiFragArray* (fragment linearization is reference-internal storage;
Spark partitioning is orthogonal).

Run: python scripts/array_test_probe.py
"""
import decimal
import os
import re
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from heavydb_spark.engine import Engine
from heavydb_spark.session import get_spark

T = True
F_ = False
N = None


def canon_cell(v):
    if v is None:
        return '<null>'
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, decimal.Decimal):
        return f"{float(v):.6g}"
    if isinstance(v, float):
        return f"{v:.6g}"
    if isinstance(v, (list, tuple)):
        return '[' + ','.join(canon_cell(x) for x in v) + ']'
    return str(v)


def canon_row(r):
    return tuple(canon_cell(v) for v in r)


# --- fixtures (suite's own DDL/INSERT text) ----------------------------

ARRAY_EXT_OPS_DDL = """
    CREATE TABLE array_ext_ops_test (
        i64 BIGINT, i32 INT, i16 SMALLINT, i8 TINYINT, d DOUBLE, f FLOAT,
        i1 BOOLEAN, str TEXT ENCODING DICT(32),
        arri64 BIGINT[], arri32 INT[], arri16 SMALLINT[], arri8 TINYINT[],
        arrd DOUBLE[], arrf FLOAT[], arri1 BOOLEAN[], arrstr TEXT[],
        arrdict TEXT[] ENCODING DICT(32), farri64 BIGINT[2])
"""

ARRAY_EXT_OPS_ROWS = [
    "(3, 3, 3, 3, 3, 3, 'true', 'c', {1, 2}, {1, 2}, {1, 2}, {1, 2}, "
    "{1, 2}, {1, 2}, {'true', 'false'}, {'a', 'b'}, {'a', 'b'}, {1, 2})",
    "(1, 1, 1, 1, 1, 1, 'false', 'a', {}, {}, {}, {}, {}, {}, {}, {}, "
    "{}, {1, 2})",
    "(0, 0, 0, 0, 0, 0, 'false', 'a', {-1}, {-1}, {-1}, {-1}, {-1}, "
    "{-1}, {'true'}, {'z'}, {'x', 'y', 'z'}, {1, 2})",
    "(0, 0, 0, 0, 0, 0, 'false', 'a', NULL, NULL, NULL, NULL, NULL, "
    "NULL, NULL, NULL, NULL, NULL)",
    "(NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, {4, 5}, {4, 5}, "
    "{4, 5}, {4, 5}, {4, 5}, {4, 5}, {'false', 'true'}, {'d', 'e'}, "
    "{'d', 'e'}, {4, 5})",
    "(NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, "
    "NULL, NULL, NULL, NULL, NULL, NULL, NULL)",
]

DOT_DDL = ("CREATE TABLE dot_product_test (id INTEGER, i8val TINYINT, "
           "i16val SMALLINT, i32val INT, i64val BIGINT, f32val FLOAT, "
           "f64val DOUBLE, i8 TINYINT[3], i16 SMALLINT[3], i32 INTEGER[3],"
           " i64 BIGINT[3], f32 FLOAT[3], f64 DOUBLE[3], d18 "
           "DECIMAL(18,9)[3], i8null TINYINT[3], i16null SMALLINT[3], "
           "i32null INTEGER[3], i64null BIGINT[3], f32null FLOAT[3], "
           "f64null DOUBLE[3], d18null DECIMAL(18,9)[3])")

DOT_ROW = ("({}, 8, 16, 32, 64, 32.0, 64.0, {{1, 2, 3}}, {{1, 2, 3}}, "
           "{{1, 2, 3}}, {{1, 2, 3}}, {{1., 2., 3.}}, {{1., 2., 3.}}, "
           "{{1., 2., 3.}}, NULL, NULL, NULL, NULL, NULL, NULL, NULL)")

DOT_VARLEN_DDL = ("CREATE TABLE dot_product_varlen_test (fixlen2 FLOAT[2],"
                  " fixlen3 FLOAT[3], varlen2 FLOAT[], varlen3 FLOAT[], "
                  "varlennull FLOAT[])")

INT_APPEND_EXPECTED = [([1, 2, 3],), ([1],), ([-1, 0],), ([0],),
                       ([4, 5, N],), ([N],)]
FP_APPEND_EXPECTED = [([1.0, 2.0, 3.0],), ([1.0],), ([-1.0, 0.0],),
                      ([0.0],), ([4.0, 5.0, N],), ([N],)]

# BasicDotProduct param table (ArrayTest.cpp:1696-1749); (expected, lhs,
# rhs) — expected None means the reference asserts IS NULL
DOT_BASIC = [
    (14, "i8", "i8"), (14, "i8", "i16"), (14, "i8", "i32"),
    (14, "i8", "i64"), (14, "i8", "f32"), (14, "i8", "f64"),
    (14, "i16", "i16"), (14, "i16", "i32"), (14, "i16", "i64"),
    (14, "i16", "f32"), (14, "i16", "f64"),
    (14, "i32", "i32"), (14, "i32", "i64"), (14, "i32", "f32"),
    (14, "i32", "f64"),
    (14, "i64", "i64"), (14, "i64", "f32"), (14, "i64", "f64"),
    (14, "f32", "f32"), (14, "f32", "f64"), (14, "f64", "f64"),
    (14, "i8", "{1,2,3}"), (14, "i16", "{1,2,3}"), (14, "i32", "{1,2,3}"),
    (14, "i64", "{1,2,3}"), (14, "f32", "{1,2,3}"), (14, "f64", "{1,2,3}"),
    (74, "f64", "{1,i32val,3}"),
    (14, "i8", "{1.0,2.0,3.0}"), (14, "i16", "{1.0,2.0,3.0}"),
    (14, "i32", "{1.0,2.0,3.0}"), (14, "i64", "{1.0,2.0,3.0}"),
    (14, "f32", "{1.0,2.0,3.0}"), (14, "f64", "{1.0,2.0,3.0}"),
    (14, "i8", "{1.0,20e-1,3.0}"), (14, "i16", "{1.0,20e-1,3.0}"),
    (14, "i32", "{1.0,20e-1,3.0}"), (14, "i64", "{1.0,20e-1,3.0}"),
    (14, "f32", "{1.0,20e-1,3.0}"), (14, "f64", "{1.0,20e-1,3.0}"),
    (N, "i8", "{1,2}"), (N, "i16", "{1,2,3,4}"), (N, "i32", "{1,2}"),
    (N, "i64", "{1,2,3,4}"), (N, "f32", "{1,2}"), (N, "f64", "{1,2,3,4}"),
    (N, "i8null", "{1,2,3}"), (N, "i16null", "{1,2,3}"),
    (N, "i32null", "{1,2,3}"), (N, "i64null", "{1,2,3}"),
    (N, "f32null", "{1,2,3}"), (N, "f64null", "{1,2,3}"),
]

# Varlen param table (ArrayTest.cpp:1805-1844)
DOT_VARLEN = [
    (5, "{1,2}", "{1,2}"), (N, "{1,2}", "{1,2,3}"),
    (5, "{1,2}", "fixlen2"), (N, "{1,2}", "fixlen3"),
    (5, "{1,2}", "varlen2"), (N, "{1,2}", "varlen3"),
    (N, "{1,2,3}", "{1,2}"), (14, "{1,2,3}", "{1,2,3}"),
    (N, "{1,2,3}", "fixlen2"), (14, "{1,2,3}", "fixlen3"),
    (N, "{1,2,3}", "varlen2"), (14, "{1,2,3}", "varlen3"),
    (5, "fixlen2", "{1,2}"), (N, "fixlen2", "{1,2,3}"),
    (5, "fixlen2", "fixlen2"), (N, "fixlen2", "fixlen3"),
    (5, "fixlen2", "varlen2"), (N, "fixlen2", "varlen3"),
    (N, "fixlen3", "{1,2}"), (14, "fixlen3", "{1,2,3}"),
    (N, "fixlen3", "fixlen2"), (14, "fixlen3", "fixlen3"),
    (N, "fixlen3", "varlen2"), (14, "fixlen3", "varlen3"),
    (5, "varlen2", "{1,2}"), (N, "varlen2", "{1,2,3}"),
    (5, "varlen2", "fixlen2"), (N, "varlen2", "fixlen3"),
    (5, "varlen2", "varlen2"), (N, "varlen2", "varlen3"),
    (N, "varlen3", "{1,2}"), (14, "varlen3", "{1,2,3}"),
    (N, "varlen3", "fixlen2"), (14, "varlen3", "fixlen3"),
    (N, "varlen3", "varlen2"), (14, "varlen3", "varlen3"),
    (N, "varlennull", "{1,2,3}"), (N, "varlennull", "varlen3"),
    (N, "varlennull", "varlennull"),
]

# NonArrayAndMultidimensional (ArrayTest.cpp:1862-1884): the reference
# throws; well-typed Spark shapes evaluate as superset, ill-typed raise
DOT_EXCEPTIONS = [
    ("1.0", "{1.0,2.0}"), ("{1.0,2.0}", "1.0"),
    ("i8", "{1.0,i8val,3.0}"), ("i16", "{1.0,i16val,3.0}"),
    ("i32", "{1.0,i32val,3.0}"), ("i64", "{1.0,i64val,3.0}"),
    ("f32", "{1.0,f32val,3.0}"), ("f64", "{1.0,f64val,3.0}"),
    ("1.0", "fixlen2"), ("1.0", "varlen2"),
    ("{1,2,3}", "NULL"), ("fixlen2", "NULL"), ("varlen2", "NULL"),
    ("fixlen2", "1.0"), ("varlen2", "1.0"),
    ("{{1,2},{1,2}}", "{1.0,2.0}"), ("{1.0,2.0}", "{{1,2},{1,2}}"),
    ("{{1,2},{1,2}}", "fixlen2"), ("{{1,2},{1,2}}", "varlen2"),
    ("fixlen2", "{{1,2},{1,2}}"), ("varlen2", "{{1,2},{1,2}}"),
    ("f32", "(SELECT {1.0,2.0,3.0})"),
]


def cases():
    setup_ext = [
        ('ddl', "DROP TABLE IF EXISTS array_ext_ops_test"),
        ('ddl', ARRAY_EXT_OPS_DDL),
    ] + [('noerr', f"INSERT INTO array_ext_ops_test VALUES {r}")
         for r in ARRAY_EXT_OPS_ROWS]

    C = [{'name': "ArrayExtOpsEnv.ArrayAppend+Equal",
          'cite': "ArrayTest.cpp:235-538",
          'steps': setup_ext + [
              # ArrayAppendInteger :235 (incl. the i64+i8 upcast)
              ('qx', "SELECT array_append(arri64, i64) AS a FROM "
                     "array_ext_ops_test", INT_APPEND_EXPECTED),
              ('qx', "SELECT array_append(arri32, i32) AS a FROM "
                     "array_ext_ops_test", INT_APPEND_EXPECTED),
              ('qx', "SELECT array_append(arri16, i16) AS a FROM "
                     "array_ext_ops_test", INT_APPEND_EXPECTED),
              ('qx', "SELECT array_append(arri8, i8) AS a FROM "
                     "array_ext_ops_test", INT_APPEND_EXPECTED),
              ('qx', "SELECT array_append(arri64, i8) AS a FROM "
                     "array_ext_ops_test", INT_APPEND_EXPECTED),
              # ArrayAppendString :293 (TextEncodingDict; the
              # reference's "" rows are NULL strings)
              ('qx', "SELECT tarray_append(arrdict, str) AS a from "
                     "array_ext_ops_test",
               [(["a", "b", "c"],), (["a"],), (["x", "y", "z", "a"],),
                (["a"],), (["d", "e", N],), ([N],)]),
              # ArrayAppendBool :347
              ('qx', "SELECT barray_append(arri1, i1) AS a FROM "
                     "array_ext_ops_test",
               [([T, F_, T],), ([F_],), ([T, F_],), ([F_],),
                ([F_, T, N],), ([N],)]),
              # ArrayAppendDouble :377 / Float :405
              ('qx', "SELECT array_append(arrd, d) AS a FROM "
                     "array_ext_ops_test", FP_APPEND_EXPECTED),
              ('qx', "SELECT array_append(arrf, f) AS a FROM "
                     "array_ext_ops_test", FP_APPEND_EXPECTED),
              # ArrayAppendDowncast :540 — reference throws; Spark
              # widens (values unchanged)
              ('ref_rejects_x', "SELECT array_append(arri32, i64) AS a "
                                "FROM array_ext_ops_test",
               INT_APPEND_EXPECTED),
          ]},
         ]

    # ArrayEqual :433 — literal compares keyed by the input column
    eq_first = {'name': "ArrayExtOpsEnv.ArrayEqual[literal]",
                'cite': "ArrayTest.cpp:433", 'steps': list(setup_ext)}
    lit = {
        "arri1": "ARRAY[true, false]",
        "arri8": "ARRAY[CAST(1 AS TINYINT), CAST(2 AS TINYINT)]",
        "arri16": "ARRAY[CAST(1 AS SMALLINT), CAST(2 AS SMALLINT)]",
        "arri32": "ARRAY[CAST(1 AS INT), CAST(2 AS INT)]",
        "arri64": "ARRAY[CAST(1 AS BIGINT), CAST(2 AS BIGINT)]",
        "arrf": "ARRAY[CAST(1 AS FLOAT), CAST(2 AS FLOAT)]",
        "arrd": "ARRAY[CAST(1 AS DOUBLE), CAST(2 AS DOUBLE)]",
    }
    col_rows = {
        "arri1": [[T, F_], [], [T], N, [F_, T], N],
        "arrf": [[1.0, 2.0], [], [-1.0], N, [4.0, 5.0], N],
        "arrd": [[1.0, 2.0], [], [-1.0], N, [4.0, 5.0], N],
    }
    int_rows = [[1, 2], [], [-1], N, [4, 5], N]
    for col, rhs in lit.items():
        rows = col_rows.get(col, int_rows)
        eq_first['steps'].append(
            ('qx', f"SELECT {col} AS k, array_equal({col}, {rhs}) AS e "
                   "FROM array_ext_ops_test",
             [(r, r == rows[0]) for r in rows]))
    # col = col: true except the NULL rows (reference rows 3 and 5 -> 0)
    for col in list(lit) + ["arrdict"]:
        rows = col_rows.get(
            col, {"arrdict": [["a", "b"], [], ["x", "y", "z"], N,
                              ["d", "e"], N]}.get(col, int_rows))
        eq_first['steps'].append(
            ('qx', f"SELECT {col} AS k, array_equal({col}, {col}) AS e "
                   "FROM array_ext_ops_test",
             [(r, r is not N) for r in rows]))
    C.append(eq_first)

    # Cardinality :662-699
    C.append({'name': "Cardinality",
              'cite': "ArrayTest.cpp:662",
              'steps': [
                  ('ref_rejects_x',
                   "SELECT CARDINALITY(ARRAY_APPEND({1, 2}, 3)) AS c",
                   [(3,)]),
                  ('ref_rejects_x',
                   "SELECT ARRAY_LENGTH(ARRAY_APPEND({1, 2}, 3)) AS c",
                   [(3,)]),
                  ('qx', "SELECT CARDINALITY({}) AS c", [(0,)]),
                  ('qx', "SELECT CARDINALITY({1}) AS c", [(1,)]),
                  ('qx', "SELECT CARDINALITY({1,2}) AS c", [(2,)]),
              ]})

    # LiteralDecimals :1567
    C.append({'name': "Select.LiteralDecimals",
              'cite': "ArrayTest.cpp:1567",
              'steps': [
                  ('noerr', "SELECT {1.0, 10.00}"),
                  ('qx', "SELECT array_equal({POWER(2.0,59), "
                         "POWER(2.0,-20)}, {576460752303423488.0, "
                         "0.00000095367431640625}) AS e", [(T,)]),
              ]})

    # FixedEncodedArrayTest.ExceptionTest :719 — ENCODING storage hints
    # are dropped by design (COVERAGE.md); the rejects have no analogue
    C.append({'name': "FixedEncodedArrayTest.ExceptionTest",
              'cite': "ArrayTest.cpp:719",
              'steps': [('skip', "fixed-ENCODING DDL rejects: encodings "
                                 "are storage hints this engine drops "
                                 "by design")]})

    # TinyIntArrayImportTest :753 — three insert progressions
    seqs = [["{1}", "NULL", "{1}"],
            ["{}", "{}", "{1}", "{}", "{}", "NULL", "{1}"],
            ["{}", "{}", "{1}", "{}", "{}", "NULL", "{}", "{}", "{1}"]]
    for i, seq in enumerate(seqs):
        steps = [('ddl', "DROP TABLE IF EXISTS tinyint_arr"),
                 ('ddl', "CREATE TABLE tinyint_arr (ti tinyint[])")]
        steps += [('noerr', f"INSERT INTO tinyint_arr VALUES ({v})")
                  for v in seq]
        steps.append(
            ('qx', "SELECT count(*) AS c, count(ti) AS n FROM "
                   "tinyint_arr",
             [(len(seq), len([v for v in seq if v != "NULL"]))]))
        C.append({'name': f"TinyIntArrayImportTest[seq{i}]",
                  'cite': "ArrayTest.cpp:753", 'steps': steps})

    # MultiFragArray* :1134,1399 — fragment linearization is
    # reference-internal storage; both tables are identical here
    C.append({'name': "MultiFragArrayJoinTest",
              'cite': "ArrayTest.cpp:1134",
              'steps': [('skip', "single-vs-multi-fragment linearization"
                                 " equality: fragments do not exist in "
                                 "this engine (Spark partitioning is "
                                 "orthogonal; fragment_size dropped)")]})

    # ArrayDotProductTest :1658
    dot = {'name': "ArrayDotProductTest.BasicValues",
           'cite': "ArrayTest.cpp:1658",
           'steps': [
               ('ddl', "DROP TABLE IF EXISTS dot_product_test"),
               ('ddl', DOT_DDL),
           ] + [('noerr', "INSERT INTO dot_product_test VALUES "
                          + DOT_ROW.format(i)) for i in range(5)]}
    for exp, lhs, rhs in DOT_BASIC:
        if exp is None:
            q = (f"SELECT DOT_PRODUCT({lhs},{rhs}) IS NULL AS v FROM "
                 "dot_product_test WHERE id=0")
            dot['steps'].append(('qx', q, [(T,)]))
        else:
            q = (f"SELECT DOT_PRODUCT({lhs},{rhs}) AS v FROM "
                 "dot_product_test WHERE id=0")
            dot['steps'].append(('qx', q, [(exp,)]))
    C.append(dot)

    var = {'name': "ArrayDotProductVarlenTest",
           'cite': "ArrayTest.cpp:1753",
           'steps': [
               ('ddl', "DROP TABLE IF EXISTS dot_product_varlen_test"),
               ('ddl', DOT_VARLEN_DDL),
               ('noerr', "INSERT INTO dot_product_varlen_test VALUES "
                         "({1,2}, {1,2,3}, {1,2}, {1,2,3}, NULL)"),
           ]}
    for exp, lhs, rhs in DOT_VARLEN:
        if exp is None:
            q = (f"SELECT DOT_PRODUCT({lhs},{rhs}) IS NULL AS v "
                 "FROM dot_product_varlen_test")
            var['steps'].append(('qx', q, [(T,)]))
        else:
            q = (f"SELECT DOT_PRODUCT({lhs},{rhs}) AS v "
                 "FROM dot_product_varlen_test")
            var['steps'].append(('qx', q, [(exp,)]))
    for lhs, rhs in DOT_EXCEPTIONS:
        var['steps'].append(
            ('ref_rejects_any',
             f"SELECT DOT_PRODUCT({lhs},{rhs}) AS v FROM "
             "dot_product_varlen_test" if not lhs.startswith(("i", "f"))
             or lhs in ("fixlen2", "fixlen3", "varlen2", "varlen3",
                        "varlennull")
             else f"SELECT DOT_PRODUCT({lhs},{rhs}) AS v FROM "
                  "dot_product_test WHERE id=0"))
    C.append(var)
    return C


def main():
    spark = get_spark(master='local[8]', shuffle_partitions=4,
                      extra_conf={'spark.ui.showConsoleProgress': 'false'})
    eng = Engine(spark)

    counts = dict(ok=0, mism=0, err=0, superset=0, reject_parity=0,
                  skip=0, noerr=0)
    mismatches, errors = [], []

    for case in cases():
        name = case['name']
        broken = False
        for step in case['steps']:
            kind, sql = step[0], step[1]
            if broken:
                break
            try:
                if kind == 'skip':
                    counts['skip'] += 1
                    print(f"  skip [{name}]: {sql}", file=sys.stderr)
                elif kind == 'ddl':
                    eng.sql(sql)
                    md = re.match(r'(?i)\s*DROP\s+TABLE\s+IF\s+EXISTS\s+'
                                  r'(\w+)', sql)
                    if md:
                        wh = spark.conf.get(
                            'spark.sql.warehouse.dir', 'spark-warehouse')
                        wh = re.sub(r'^file:/*', '/', wh)
                        shutil.rmtree(os.path.join(wh, md.group(1).lower()),
                                      ignore_errors=True)
                elif kind == 'noerr':
                    df = eng.sql(sql)
                    if sql.lstrip().upper().startswith('SELECT'):
                        df.collect()
                    counts['noerr'] += 1
                elif kind in ('qx', 'ref_rejects_x'):
                    try:
                        got = [canon_row(tuple(r))
                               for r in eng.sql(sql).collect()]
                    except Exception:
                        if kind == 'ref_rejects_x':
                            counts['reject_parity'] += 1
                            continue
                        raise
                    want = [canon_row(r) for r in step[2]]
                    if sorted(got) == sorted(want):
                        counts['superset' if kind == 'ref_rejects_x'
                               else 'ok'] += 1
                    else:
                        counts['mism'] += 1
                        mismatches.append((name, sql, sorted(got)[:4],
                                           sorted(want)[:4]))
                elif kind == 'ref_rejects_any':
                    try:
                        eng.sql(sql).collect()
                        counts['superset'] += 1
                    except Exception:
                        counts['reject_parity'] += 1
                else:  # pragma: no cover
                    raise ValueError(kind)
            except Exception as e:
                counts['err'] += 1
                errors.append((name, str(e).splitlines()[0][:160],
                               sql[:160]))
                broken = True

    total = sum(counts.values())
    print(f"\n{counts['ok']} match + {counts['reject_parity']} "
          f"reject-parity + {counts['superset']} engine-superset + "
          f"{counts['noerr']} no-throw, {counts['mism']} mismatch, "
          f"{counts['err']} harness-err, {counts['skip']} skip "
          f"of {total} steps")
    print("\n== MISMATCHES ==")
    for nm, sql, g, w in mismatches:
        print(f"[{nm}] {sql[:180]}\n  got  {g}\n  want {w}")
    print("\n== HARNESS ERRORS ==")
    for nm, e, sql in errors:
        print(f"[{nm}] {e} :: {sql}")
    spark.stop()
    sys.exit(1 if (counts['mism'] or counts['err']) else 0)


if __name__ == '__main__':
    main()
