"""Replay the reference's CorrelatedSubqueryTest against the engine —
the THIRD reference test file harvested into the comparator family
(r10 verdict queue #3; the StringFunctionsTest findings are pinned
in tests/test_stringops_parity.py).

Tests/CorrelatedSubqueryTest.cpp asserts through C++ loops over
deterministic fixtures rather than inline expected blocks, so this
harness transcribes each test (file:line cited per case) as:

1. the test's own fixture build — setupTest(valueType, factsCount,
   lookupCount) fills test_facts with rows (i, i, NULL) and
   test_lookup with rows (i, i) (CorrelatedSubqueryTest.cpp:43-68) —
   executed on BOTH the engine and DuckDB;
2. the test's own statements, replayed step-by-step:
     q    SELECT on both engines, canonical row compare (ordered when
          the query carries a top-level ORDER BY);
     qx   SELECT on the engine vs the C++ loop's own expected rows
          (transcribed), for tests whose oracle loop is value-inline
          (SingleValue progressions, geo, post-LIMIT determinism);
     both UPDATE/DELETE executed on both engines (post-images then
          compared by a following q step);
     eng  reference asserts NO_THROW only — engine must not raise;
     err  reference raises (SINGLE_VALUE_FOUND_MULTIPLE_VALUES /
          unsupported decorrelation) — the engine must raise too;
     ref_rejects[_dml]  the REFERENCE rejects but ANSI/Spark semantics
          are well-defined: the engine evaluates and is value-compared
          against DuckDB — counted separately as engine-superset
          accepts, never as mismatches.

Engine-superset classes (each an accept-edge, documented in
COVERAGE.md):
- correlated scalar subqueries with inner ORDER BY / LIMIT / OFFSET
  (Select.CorrelatedWithInnerSortDisallowed:508) — the reference's
  decorrelator rejects; Spark evaluates them (value-checked vs DuckDB);
- multiple correlated subqueries in one UPDATE/DELETE
  (Update.MultipleCorrelatedDisallowed:746, Delete.Correlated:1198);
- doubly-nested / aliased decorrelation (NotSupportedDecorrelation:1653);
- ANSI outer-scope column resolution inside IN subqueries
  (InClauseHavingInvalidInnerCol:1687 — the reference errors with
  'invalid IN clause', ANSI resolves the outer column).

Documented rejects: Select.Very_Large_In:1535 needs the rowid
pseudo-column (the standing engine-reject class shared by both other
comparators). Select.InExpr_As_Child_Operand_Of_OR_Operator:1620
asserts a PLAN property (kIN detection) — its four queries are
replayed value-paired instead.

Run: python scripts/correlated_subquery_probe.py
"""
import datetime as _dt
import decimal
import os
import re
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from heavydb_spark.engine import Engine
from heavydb_spark.session import get_spark


def canon_cell(v):
    if v is None:
        return '<null>'
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, decimal.Decimal):
        return f"{float(v):.6g}"
    if isinstance(v, float):
        return f"{v:.6g}"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, (_dt.date, _dt.datetime)):
        return str(v)
    # VARCHAR SingleValue progressions compare '1' == 1 the way the
    # suite's getValue does (std::stoi on the string cell)
    s = str(v)
    return s


def canon_row(r):
    return tuple(canon_cell(v) for v in r)


def _ordered(sql):
    # top-level ORDER BY only: outside any parens
    depth = 0
    up = sql.upper()
    for m in re.finditer(r'[()]|ORDER\s+BY', up):
        t = m.group(0)
        if t == '(':
            depth += 1
        elif t == ')':
            depth -= 1
        elif depth == 0:
            return True
    return False


def _duck_sql(sql):
    """The reference's SAMPLE() on a provably single-row inner is any
    single value; DuckDB spells the deterministic equivalent MIN()."""
    return re.sub(r'(?i)\bSAMPLE\s*\(', 'MIN(', sql)


# ---------------------------------------------------------------------------
# Fixture builders (CorrelatedSubqueryTest.cpp:43-68 setupTest)
# ---------------------------------------------------------------------------

def setup_std(value_type, facts, lookups):
    """setupTest port: DDL + batched inserts, same rows/order."""
    steps = [
        ('ddl', "DROP TABLE IF EXISTS test_facts"),
        ('ddl', "DROP TABLE IF EXISTS test_lookup"),
        ('ddl', f"CREATE TABLE test_facts (id int, val {value_type}, "
                "lookup_id int) WITH(fragment_size=3)"),
        ('ddl', f"CREATE TABLE test_lookup (id int, val {value_type})"),
        ('both', "INSERT INTO test_facts VALUES " + ", ".join(
            f"({i}, {i}, null)" for i in range(facts))),
        ('both', "INSERT INTO test_lookup VALUES " + ", ".join(
            f"({i}, {i})" for i in range(lookups))),
    ]
    return steps


DUP_INSERTS = [('both', "INSERT INTO test_lookup VALUES " + ", ".join(
    f"({i + 5}, {i})" for i in range(5)))]

LOOKUP_WHERE = [
    ('ddl', "DROP TABLE IF EXISTS test_lookup_where"),
    ('ddl', "CREATE TABLE test_lookup_where (id int, val int)"),
    ('both', "INSERT INTO test_lookup_where VALUES " + ", ".join(
        f"({i}, {i})" for i in range(5))),
]

LOOKUP_JOIN = [
    ('ddl', "DROP TABLE IF EXISTS test_lookup_join"),
    ('ddl', "CREATE TABLE test_lookup_join (id int, val int)"),
    ('both', "INSERT INTO test_lookup_join VALUES " + ", ".join(
        f"({i}, {i})" for i in range(5))),
]

_CORR = ("SELECT id, val, (SELECT test_lookup.id FROM test_lookup WHERE "
         "test_lookup.val = test_facts.val) as lookup_id FROM test_facts")
_POST = "SELECT id, val, lookup_id FROM test_facts ORDER BY id"


def single_value_cases():
    """runSingleValueTest progression (CorrelatedSubqueryTest.cpp:158-216)
    for every column type the reference loops (:219-230), with the
    validation block (:115-156) transcribed to its inline expectations."""
    cases = []
    for ct in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT",
               "DECIMAL(10,2)", "FLOAT", "DOUBLE", "VARCHAR(10)"):
        is_char = "CHAR" in ct
        validation = [
            ('err', "SELECT SINGLE_VALUE(id) FROM test_facts"),
            ('err', "SELECT SINGLE_VALUE(id) FROM test_facts group by val"),
            ('qx', "SELECT SINGLE_VALUE(val) AS v FROM test_facts",
             [(1,)]),
            ('qx', "SELECT id, SINGLE_VALUE(val) AS v FROM test_facts "
                   "GROUP BY id ORDER BY id",
             [(1, 1), (2, 1), (3, 1)]),
        ]
        if not is_char:
            validation.append(
                ('qx', "SELECT id+1 AS ip, val FROM (SELECT id, "
                       "SINGLE_VALUE(val) as val FROM test_facts "
                       "GROUP BY id) ORDER BY id",
                 [(2, 1), (3, 1), (4, 1)]))
        steps = [
            ('ddl', "DROP TABLE IF EXISTS test_facts"),
            ('ddl', f"CREATE TABLE test_facts (id {ct}, val {ct}) "
                    "WITH(fragment_size=3)"),
            ('eng', "INSERT INTO test_facts VALUES(1, 1), (2, 1), (3, 1)"),
        ] + validation + [
            ('eng', "INSERT INTO test_facts VALUES(1, 1), (2, 1), (3, 1)"),
        ] + validation + [
            ('eng', "INSERT INTO test_facts VALUES(1, null), (2, 1), "
                    "(3, 1), (1, 1), (2, null), (3, 1), (1, 1), (2, 1), "
                    "(3, null)"),
        ] + validation + [
            ('eng', "INSERT INTO test_facts VALUES(1, 2)"),
            ('err', "SELECT SINGLE_VALUE(id) FROM test_facts"),
            ('err', "SELECT SINGLE_VALUE(id) FROM test_facts group by val"),
            ('err', "SELECT SINGLE_VALUE(val) FROM test_facts"),
            ('err', "SELECT id, SINGLE_VALUE(val) FROM test_facts "
                    "GROUP BY id ORDER BY id"),
            ('qx', "SELECT id, SINGLE_VALUE(val) AS v FROM test_facts "
                   f"WHERE id NOT IN (CAST (1 as {ct})) GROUP BY id "
                   "ORDER BY id",
             [(2, 1), (3, 1)]),
        ]
        cases.append({
            'name': f"Select.SingleValue[{ct}]",
            'cite': "CorrelatedSubqueryTest.cpp:219",
            'steps': steps,
            'engine_only': True,  # inline expectations; no duck build
        })
    return cases


def cases():
    C = []

    # --- Select decorrelation family -----------------------------------
    C.append({'name': "Select.Correlated",
              'cite': "CorrelatedSubqueryTest.cpp:232",
              'steps': setup_std("int", 13, 5) + [('q', _CORR)]})
    C.append({'name': "Select.CorrelatedWithDouble",
              'cite': "CorrelatedSubqueryTest.cpp:260",
              'steps': setup_std("double", 13, 5) + [('q', _CORR)]})
    C.append({'name': "Select.CorrelatedWithInnerDuplicatesFails",
              'cite': "CorrelatedSubqueryTest.cpp:288",
              'steps': setup_std("int", 13, 5) + DUP_INSERTS
              + [('err', _CORR)]})
    C.append({'name': "Select.CorrelatedWithInnerDuplicatesAndMinId",
              'cite': "CorrelatedSubqueryTest.cpp:305",
              'steps': setup_std("int", 13, 5) + DUP_INSERTS + [
                  ('q', "SELECT id, val, (SELECT MIN(test_lookup.id) FROM "
                        "test_lookup WHERE test_lookup.val = test_facts.val)"
                        " as lookup_id FROM test_facts")]})
    C.append({'name': "Select.CorrelatedWithInnerDuplicatesAndMaxId",
              'cite': "CorrelatedSubqueryTest.cpp:377",
              'steps': setup_std("int", 13, 5) + DUP_INSERTS + [
                  ('q', "SELECT id, val, (SELECT MAX(test_lookup.id) FROM "
                        "test_lookup WHERE test_lookup.val = test_facts.val)"
                        " as lookup_id FROM test_facts")]})
    C.append({'name': "Select.CorrelatedWithOuterSortAscending",
              'cite': "CorrelatedSubqueryTest.cpp:450",
              'steps': setup_std("int", 13, 5)
              + [('q', _CORR + " ORDER BY id ASC")]})
    C.append({'name': "Select.CorrelatedWithOuterSortDescending",
              'cite': "CorrelatedSubqueryTest.cpp:479",
              'steps': setup_std("int", 13, 5)
              + [('q', _CORR + " ORDER BY id DESC")]})
    # reference rejects inner sort/limit in correlated subqueries;
    # Spark/ANSI evaluate them — engine-superset, value-checked
    C.append({'name': "Select.CorrelatedWithInnerSortDisallowed",
              'cite': "CorrelatedSubqueryTest.cpp:508",
              'steps': setup_std("int", 13, 5) + [
                  ('ref_rejects',
                   "SELECT id, (SELECT test_lookup.id FROM test_lookup "
                   "WHERE test_lookup.val = test_facts.val LIMIT 1) as "
                   "lookup_id FROM test_facts"),
                  ('ref_rejects',
                   "SELECT id, (SELECT test_lookup.id FROM test_lookup "
                   "WHERE test_lookup.val = test_facts.val LIMIT 1 "
                   "OFFSET 1) as lookup_id FROM test_facts"),
                  ('ref_rejects',
                   "SELECT id, (SELECT test_lookup.id FROM test_lookup "
                   "WHERE test_lookup.val = test_facts.val ORDER BY "
                   "test_lookup.id) as lookup_id FROM test_facts"),
                  ('ref_rejects',
                   "SELECT id, (SELECT test_lookup.id FROM test_lookup "
                   "WHERE test_lookup.val = test_facts.val ORDER BY "
                   "test_lookup.id LIMIT 1) as lookup_id FROM test_facts"),
              ]})
    C.append({'name': "Select.NonCorrelatedWithInnerSortAllowed",
              'cite': "CorrelatedSubqueryTest.cpp:533",
              'steps': setup_std("int", 13, 5) + [
                  ('both', "INSERT INTO test_lookup VALUES(5, 0)"),
                  ('eng', "SELECT id, (SELECT test_lookup.id FROM "
                          "test_lookup WHERE test_lookup.val = 0 LIMIT 1) "
                          "as lookup_id FROM test_facts"),
                  ('eng', "SELECT id, (SELECT test_lookup.id FROM "
                          "test_lookup WHERE test_lookup.val = 0 LIMIT 1 "
                          "OFFSET 1 ) as lookup_id FROM test_facts"),
                  ('eng', "SELECT id, (SELECT test_lookup.id FROM "
                          "test_lookup WHERE test_lookup.val = 1 ORDER BY "
                          "test_lookup.id) as lookup_id FROM test_facts"),
                  ('eng', "SELECT id, (SELECT test_lookup.id FROM "
                          "test_lookup WHERE test_lookup.val = 1 ORDER BY "
                          "test_lookup.id LIMIT 1) as lookup_id FROM "
                          "test_facts"),
              ]})
    C.append({'name': "Select.CorrelatedWhere",
              'cite': "CorrelatedSubqueryTest.cpp:560",
              'steps': setup_std("int", 13, 5) + [
                  ('q', "SELECT id, val, lookup_id FROM test_facts WHERE "
                        "(SELECT test_lookup.id FROM test_lookup WHERE "
                        "test_lookup.val = test_facts.val) < 100 "
                        "ORDER BY id ASC")]})
    C.append({'name': "Select.CorrelatedWhereNull",
              'cite': "CorrelatedSubqueryTest.cpp:583",
              'steps': setup_std("int", 13, 5) + [
                  ('q', "SELECT id, val, lookup_id FROM test_facts WHERE "
                        "(SELECT test_lookup.id FROM test_lookup WHERE "
                        "test_lookup.val = test_facts.val) IS NULL "
                        "ORDER BY id ASC")]})

    # --- Update family ---------------------------------------------------
    C.append({'name': "Update.Correlated",
              'cite': "CorrelatedSubqueryTest.cpp:606",
              'steps': setup_std("int", 13, 5) + [
                  ('both', "UPDATE test_facts SET lookup_id = (SELECT "
                           "test_lookup.id FROM test_lookup WHERE "
                           "test_lookup.val = test_facts.val)"),
                  ('q', _POST)]})
    C.append({'name': "Update.CorrelatedTwoColumns",
              'cite': "CorrelatedSubqueryTest.cpp:639",
              'steps': setup_std("int", 13, 5) + [
                  ('both', "UPDATE test_facts SET val = val+1, lookup_id = "
                           "(SELECT test_lookup.id FROM test_lookup WHERE "
                           "test_lookup.val = test_facts.val)"),
                  ('q', _POST)]})
    C.append({'name': "Update.CorrelatedWithWhere",
              'cite': "CorrelatedSubqueryTest.cpp:672",
              'steps': setup_std("int", 13, 5) + [
                  ('both', "UPDATE test_facts SET lookup_id = 0"),
                  ('both', "UPDATE test_facts SET lookup_id = (SELECT "
                           "test_lookup.id FROM test_lookup WHERE "
                           "test_lookup.val = test_facts.val) WHERE id < 10"),
                  ('q', _POST)]})
    C.append({'name': "Update.CorrelatedWithTwoJoinConditions",
              'cite': "CorrelatedSubqueryTest.cpp:710",
              'steps': setup_std("int", 13, 5) + [
                  ('both', "UPDATE test_facts SET lookup_id = 0"),
                  ('both', "UPDATE test_facts SET lookup_id = (SELECT "
                           "test_lookup.id FROM test_lookup WHERE "
                           "val = test_facts.val AND id < 4)"),
                  ('q', _POST)]})
    # reference: first stmt NO_THROW, the two multi-correlated forms throw
    C.append({'name': "Update.MultipleCorrelatedDisallowed[accepted]",
              'cite': "CorrelatedSubqueryTest.cpp:746",
              'steps': setup_std("int", 13, 5) + LOOKUP_WHERE + [
                  ('both', "UPDATE test_facts SET lookup_id = 0"),
                  ('both', "UPDATE test_facts SET lookup_id = 1 WHERE "
                           "(SELECT id FROM test_lookup_where WHERE "
                           "val=test_facts.val) > 10"),
                  ('q', _POST)]})
    C.append({'name': "Update.MultipleCorrelatedDisallowed[set+where]",
              'cite': "CorrelatedSubqueryTest.cpp:775",
              'steps': setup_std("int", 13, 5) + LOOKUP_WHERE + [
                  ('both', "UPDATE test_facts SET lookup_id = 0"),
                  ('ref_rejects_dml',
                   "UPDATE test_facts SET lookup_id = (SELECT "
                   "test_lookup.id FROM test_lookup WHERE val = "
                   "test_facts.val) WHERE (SELECT SAMPLE(id) FROM "
                   "test_lookup_where WHERE val=test_facts.val) < 10"),
                  ('q', _POST)]})
    C.append({'name': "Update.MultipleCorrelatedDisallowed[two-sets]",
              'cite': "CorrelatedSubqueryTest.cpp:781",
              'steps': setup_std("int", 13, 5) + LOOKUP_WHERE + [
                  ('both', "UPDATE test_facts SET lookup_id = 0"),
                  ('ref_rejects_dml',
                   "UPDATE test_facts SET lookup_id = (SELECT "
                   "test_lookup.id FROM test_lookup WHERE val = "
                   "test_facts.val), val=(SELECT id FROM test_lookup_where "
                   "WHERE val=test_facts.val)"),
                  ('q', _POST)]})
    C.append({'name': "Update.CorrelatedWithJoinInSubquery",
              'cite': "CorrelatedSubqueryTest.cpp:838",
              'steps': setup_std("int", 13, 5) + LOOKUP_JOIN + [
                  ('both', "UPDATE test_facts SET lookup_id = (SELECT "
                           "test_lookup_join.id FROM test_lookup JOIN "
                           "test_lookup_join ON test_lookup_join.val="
                           "test_lookup.val WHERE test_lookup.val = "
                           "test_facts.val )"),
                  ('q', _POST)]})
    C.append({'name': "Update.CorrelatedWithDouble",
              'cite': "CorrelatedSubqueryTest.cpp:885",
              'steps': setup_std("double", 13, 5) + [
                  ('both', "UPDATE test_facts SET lookup_id = (SELECT "
                           "test_lookup.id FROM test_lookup WHERE "
                           "test_lookup.val = test_facts.val)"),
                  ('q', _POST)]})
    # geo fixture: points (i+.5, i+.5); unit polygons [i, i+1]^2 — the
    # C++ loop expects lookup_id = id for id < 5 else NULL (engine-only:
    # DuckDB has no geo; the expectation is inline)
    C.append({'name': "Update.CorrelatedWithGeo",
              'cite': "CorrelatedSubqueryTest.cpp:918",
              'engine_only': True,
              'steps': [
                  ('ddl', "DROP TABLE IF EXISTS test_facts"),
                  ('ddl', "DROP TABLE IF EXISTS test_lookup"),
                  ('ddl', "CREATE TABLE test_facts (id int, pt point, "
                          "lookup_id int) WITH(fragment_size=3)"),
                  ('ddl', "CREATE TABLE test_lookup (id int, poly POLYGON)"),
                  ('eng', "INSERT INTO test_facts VALUES " + ", ".join(
                      f"({i}, 'POINT ({i + 0.5} {i + 0.5})', NULL)"
                      for i in range(13))),
                  ('eng', "INSERT INTO test_lookup VALUES " + ", ".join(
                      f"({i}, 'POLYGON(({i} {i}, {i} {i + 1}, "
                      f"{i + 1} {i + 1}, {i + 1} {i}))')"
                      for i in range(5))),
                  ('eng', "UPDATE test_facts SET lookup_id = (SELECT "
                          "test_lookup.id FROM test_lookup WHERE "
                          "ST_CONTAINS(poly, pt))"),
                  ('qx', "SELECT id, lookup_id FROM test_facts ORDER BY id",
                   [(i, i if i < 5 else None) for i in range(13)]),
              ]})
    C.append({'name': "Update.CorrelatedWithInnerDuplicatesFails",
              'cite': "CorrelatedSubqueryTest.cpp:970",
              'steps': setup_std("int", 13, 5) + DUP_INSERTS + [
                  ('err', "UPDATE test_facts SET lookup_id = (SELECT "
                          "test_lookup.id FROM test_lookup WHERE "
                          "test_lookup.val = test_facts.val)")]})
    C.append({'name': "Update.CorrelatedWithInnerDuplicatesAndMinId",
              'cite': "CorrelatedSubqueryTest.cpp:987",
              'steps': setup_std("int", 13, 5) + DUP_INSERTS + [
                  ('both', "UPDATE test_facts SET lookup_id = (SELECT "
                           "MIN(test_lookup.id) FROM test_lookup WHERE "
                           "test_lookup.val = test_facts.val)"),
                  ('q', _POST)]})
    C.append({'name': "Update.CorrelatedWithInnerDuplicatesAndMaxId",
              'cite': "CorrelatedSubqueryTest.cpp:1066",
              'steps': setup_std("int", 13, 5) + DUP_INSERTS + [
                  ('both', "UPDATE test_facts SET lookup_id = (SELECT "
                           "MAX(test_lookup.id) FROM test_lookup WHERE "
                           "test_lookup.val = test_facts.val)"),
                  ('q', _POST)]})
    # the C++ expectations: all-0, then all-1 (ASC LIMIT 1 of val=1 ids
    # {1,5} -> 1), then all-5 (DESC)
    C.append({'name': "Update.NonCorrelatedAllowed",
              'cite': "CorrelatedSubqueryTest.cpp:1105",
              'steps': setup_std("int", 13, 5) + [
                  ('both', "INSERT INTO test_lookup VALUES(5, 1)"),
                  ('both', "UPDATE test_facts SET lookup_id = (SELECT "
                           "test_lookup.id FROM test_lookup WHERE "
                           "test_lookup.val = 0)"),
                  ('qx', _POST, [(i, i, 0) for i in range(13)]),
                  ('both', "UPDATE test_facts SET lookup_id = (SELECT "
                           "test_lookup.id FROM test_lookup WHERE "
                           "test_lookup.val = 1 ORDER BY test_lookup.id "
                           "ASC LIMIT 1)"),
                  ('qx', _POST, [(i, i, 1) for i in range(13)]),
                  ('both', "UPDATE test_facts SET lookup_id = (SELECT "
                           "test_lookup.id FROM test_lookup WHERE "
                           "test_lookup.val = 1 ORDER BY test_lookup.id "
                           "DESC LIMIT 1)"),
                  ('qx', _POST, [(i, i, 5) for i in range(13)]),
              ]})

    # --- Delete family ---------------------------------------------------
    # reference flow: SAMPLE-update runs, the two-subquery DELETE throws
    # (state unchanged), the single-subquery DELETE removes ids 0-2
    C.append({'name': "Delete.Correlated",
              'cite': "CorrelatedSubqueryTest.cpp:1198",
              'steps': setup_std("int", 13, 5) + [
                  ('both', "UPDATE test_facts SET lookup_id = (SELECT "
                           "SAMPLE(test_lookup.id) FROM test_lookup WHERE "
                           "test_lookup.val = test_facts.val )"),
                  ('both', "DELETE FROM test_facts WHERE (SELECT "
                           "SAMPLE(test_lookup.id) FROM test_lookup WHERE "
                           "test_lookup.val = test_facts.val) < 3"),
                  ('q', _POST)]})
    C.append({'name': "Delete.Correlated[two-subqueries]",
              'cite': "CorrelatedSubqueryTest.cpp:1209",
              'steps': setup_std("int", 13, 5) + [
                  ('ref_rejects_dml',
                   "DELETE FROM test_facts WHERE (SELECT test_lookup.id "
                   "FROM test_lookup WHERE test_lookup.val = "
                   "test_facts.val) < 100 AND (SELECT "
                   "SAMPLE(test_lookup.val) FROM test_lookup WHERE "
                   "test_lookup.id = test_facts.id) < 100"),
                  ('q', _POST)]})

    # --- EXISTS / IN decorrelation family -------------------------------
    C.append({'name': "Select.Exists_NoJoinCorrelation",
              'cite': "CorrelatedSubqueryTest.cpp:1276",
              'steps': setup_std("int", 13, 5) + [
                  ('q', "SELECT fact.id, fact.val FROM test_facts fact "
                        "WHERE EXISTS (SELECT 1 FROM test_lookup l)"),
                  ('q', "SELECT fact.id, fact.val FROM test_facts fact "
                        "WHERE NOT EXISTS (SELECT 1 FROM test_lookup l)"),
                  ('q', "SELECT fact.id, fact.val FROM test_facts fact "
                        "WHERE EXISTS (SELECT * FROM test_lookup l where "
                        "l.val > 10000)"),
                  ('q', "SELECT fact.id, fact.val FROM test_facts fact "
                        "WHERE NOT EXISTS (SELECT * FROM test_lookup l "
                        "where l.val > 10000)"),
              ]})
    C.append({'name': "Select.JoinCorrelation",
              'cite': "CorrelatedSubqueryTest.cpp:1310",
              'steps': setup_std("int", 13, 5) + [
                  ('q', "SELECT fact.id, fact.val FROM test_facts fact "
                        "WHERE EXISTS (SELECT l.id FROM test_lookup l "
                        "WHERE l.id = fact.id AND l.val > 3)"),
                  ('q', "SELECT fact.id, fact.val FROM test_facts fact "
                        "WHERE NOT EXISTS (SELECT l.id FROM test_lookup l "
                        "WHERE l.id = fact.id AND l.val > 3)"),
                  ('q', "SELECT fact.id, fact.val FROM test_facts fact "
                        "WHERE EXISTS (SELECT l.id FROM test_lookup l "
                        "WHERE l.id <> fact.id AND l.val > 3)"),
                  ('q', "SELECT fact.id, fact.val FROM test_facts fact "
                        "WHERE NOT EXISTS (SELECT l.id FROM test_lookup l "
                        "WHERE l.id <> fact.id AND l.val > 3)"),
              ]})
    C.append({'name': "Select.JoinCorrelation_withMultipleExists",
              'cite': "CorrelatedSubqueryTest.cpp:1400",
              'steps': setup_std("int", 13, 5) + [
                  ('q', "SELECT fact.id, fact.val FROM test_facts fact "
                        "WHERE EXISTS(SELECT l.id FROM test_lookup l WHERE "
                        "l.id = fact.id AND l.val > 3) AND EXISTS"
                        "(SELECT l2.id FROM test_lookup l2 WHERE l2.id = "
                        "fact.id AND l2.val > 3)"),
                  ('q', "SELECT fact.id, fact.val FROM test_facts fact "
                        "WHERE EXISTS(SELECT l.id FROM test_lookup l WHERE "
                        "l.id = fact.id AND l.val > 3) AND NOT EXISTS"
                        "(SELECT l2.id FROM test_lookup l2 WHERE l2.id = "
                        "fact.id AND l2.val > 5)"),
                  ('q', "SELECT fact.id, fact.val FROM test_facts fact "
                        "WHERE NOT EXISTS(SELECT l.id FROM test_lookup l "
                        "WHERE l.id <> fact.id AND l.val > 5) AND EXISTS"
                        "(SELECT l2.id FROM test_lookup l2 WHERE l2.id = "
                        "fact.id AND l2.val > 3) AND EXISTS(SELECT l3.id "
                        "FROM test_lookup l3 WHERE l3.id = fact.id AND "
                        "l3.val > 3)"),
                  ('q', "SELECT fact.id, fact.val FROM test_facts fact "
                        "WHERE NOT EXISTS(SELECT l.id FROM test_lookup l "
                        "WHERE l.id <> fact.id AND l.val > 5) AND EXISTS"
                        "(SELECT l2.id FROM test_lookup l2 WHERE l2.id = "
                        "fact.id AND l2.val > 3) AND NOT EXISTS (SELECT "
                        "l3.id FROM test_lookup l3 WHERE l3.id = fact.id "
                        "AND l3.val > 3)"),
                  ('q', "SELECT fact.id, fact.val FROM test_facts fact "
                        "WHERE NOT EXISTS(SELECT * FROM test_lookup l "
                        "WHERE l.id <> fact.id AND l.val > 5) AND EXISTS"
                        "(SELECT * FROM test_lookup l2 WHERE l2.id = "
                        "fact.id AND l2.val > 3) AND EXISTS(SELECT * FROM "
                        "test_lookup l3 WHERE l3.id = fact.id AND "
                        "l3.val > 3)"),
                  ('q', "SELECT fact.id, fact.val FROM test_facts fact "
                        "WHERE NOT EXISTS(SELECT * FROM test_lookup l "
                        "WHERE l.id <> fact.id AND l.val > 5) AND EXISTS"
                        "(SELECT * FROM test_lookup l2 WHERE l2.id = "
                        "fact.id AND l2.val > 3) AND NOT EXISTS (SELECT * "
                        "FROM test_lookup l3 WHERE l3.id = fact.id AND "
                        "l3.val > 3)"),
              ]})
    C.append({'name': "Select.JoinCorrelation_InClause",
              'cite': "CorrelatedSubqueryTest.cpp:1481",
              'steps': setup_std("int", 13, 5) + [
                  ('q', "SELECT fact.id, fact.val FROM test_facts fact "
                        "WHERE fact.val IN (SELECT l.val FROM test_lookup "
                        "l WHERE fact.id = l.id) AND fact.val > 3"),
                  ('q', "SELECT fact.id, fact.val FROM test_facts fact "
                        "WHERE fact.val IN (SELECT l.val FROM test_lookup "
                        "l WHERE fact.id = l.id)"),
                  ('q', "SELECT fact.id, fact.val FROM test_facts fact "
                        "WHERE fact.val IN (SELECT l.val FROM test_lookup "
                        "l WHERE fact.id <> l.id)"),
                  ('q', "SELECT fact.id, fact.val FROM test_facts fact "
                        "WHERE fact.val IN (SELECT l.val FROM test_lookup "
                        "l WHERE fact.id = l.id) AND fact.val > 1 AND "
                        "fact.val IN (SELECT l2.val FROM test_lookup l2 "
                        "WHERE fact.id = l2.id)"),
                  ('q', "SELECT fact.id, fact.val FROM test_facts fact "
                        "WHERE fact.val IN (SELECT l.val FROM test_lookup "
                        "l WHERE fact.id = l.id) AND fact.val > 1 AND "
                        "fact.val IN (SELECT l2.val FROM test_lookup l2 "
                        "WHERE fact.id = l2.id) AND fact.id > 3"),
              ]})
    C.append({'name': "Select.Very_Large_In",
              'cite': "CorrelatedSubqueryTest.cpp:1535",
              'steps': [('skip', "rowid pseudo-column (documented engine "
                                 "reject, shared with both other "
                                 "comparators)")]})
    # plan-level kIN detection in the reference; replayed value-paired
    C.append({'name': "Select.InExpr_As_Child_Operand_Of_OR_Operator",
              'cite': "CorrelatedSubqueryTest.cpp:1620",
              'steps': setup_std("int", 13, 5) + [
                  ('q', "WITH TT1 AS (SELECT val AS key0 FROM test_facts) "
                        "SELECT val FROM test_facts WHERE val IN (SELECT "
                        "key0 FROM TT1)"),
                  ('q', "WITH TT1 AS (SELECT val AS key0 FROM test_facts) "
                        "SELECT val FROM test_facts WHERE (val IN (SELECT "
                        "key0 FROM TT1) OR val IS NULL)"),
                  ('q', "WITH TT1 AS (SELECT val AS key0 FROM test_facts) "
                        "SELECT val FROM test_facts GROUP BY val HAVING "
                        "val IN (SELECT key0 FROM TT1)"),
                  ('q', "WITH TT1 AS (SELECT val AS key0 FROM test_facts) "
                        "SELECT val FROM test_facts GROUP BY val HAVING "
                        "(val IN (SELECT key0 FROM TT1) OR val IS NULL)"),
              ]})
    decor_setup = [
        ('ddl', "DROP TABLE IF EXISTS test_decor1"),
        ('ddl', "DROP TABLE IF EXISTS test_decor2"),
        ('ddl', "DROP TABLE IF EXISTS test_decor3"),
        ('ddl', "CREATE TABLE test_decor1 (a int, b int, c int)"),
        ('ddl', "CREATE TABLE test_decor2 (d int, e int, f int)"),
        ('ddl', "CREATE TABLE test_decor3 (g int, h int, i int)"),
    ]
    C.append({'name': "Select.NotSupportedDecorrelation",
              'cite': "CorrelatedSubqueryTest.cpp:1653",
              'steps': decor_setup + [
                  ('ref_rejects',
                   "select COUNT(c) AS n from test_decor1 where b > 0 and "
                   "a in (select d from test_decor2 where e > 0 and c in "
                   "(select i from test_decor3))"),
                  ('q', "select COUNT(c) AS n from test_decor1 where b > 0 "
                        "and a in (select d from test_decor2 where c in "
                        "(select i from test_decor3))"),
                  ('ref_rejects',  # watchdog-on rejects the alias form
                   "select COUNT(c) AS n from test_decor1 where b > 0 and "
                   "a in (select d AS dd from test_decor2 where c in "
                   "(select i from test_decor3))"),
              ]})
    qe1333_setup = [
        ('ddl', "DROP TABLE IF EXISTS qe_1333_1"),
        ('ddl', "DROP TABLE IF EXISTS qe_1333_2"),
        ('ddl', "CREATE TABLE qe_1333_1 (a text)"),
        ('ddl', "CREATE TABLE qe_1333_2 (s text)"),
    ]
    C.append({'name': "Select.InClauseHavingInvalidInnerCol",
              'cite': "CorrelatedSubqueryTest.cpp:1687",
              'steps': qe1333_setup + [
                  ('ref_rejects',  # ANSI resolves outer-scope `a`
                   "SELECT MAX(c) AS max_c FROM (SELECT COUNT(*) AS c "
                   "FROM qe_1333_1 WHERE a IN (SELECT a FROM qe_1333_2 "
                   "WHERE s = 'yes') GROUP BY a) LIMIT 5"),
              ]})

    C.extend(single_value_cases())
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
        con = duckdb.connect()
        engine_only = case.get('engine_only', False)
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
                    # a previous (dead) session can leave the managed
                    # table's warehouse directory behind with no catalog
                    # entry: DROP IF EXISTS no-ops, CREATE then fails
                    # with LOCATION_ALREADY_EXISTS — scrub the leftover
                    md = re.match(r'(?i)\s*DROP\s+TABLE\s+IF\s+EXISTS\s+'
                                  r'(\w+)', sql)
                    if md:
                        wh = spark.conf.get(
                            'spark.sql.warehouse.dir', 'spark-warehouse')
                        wh = re.sub(r'^file:/*', '/', wh)
                        shutil.rmtree(os.path.join(wh, md.group(1).lower()),
                                      ignore_errors=True)
                    if not engine_only:
                        con.execute(re.sub(
                            r'(?i)\s*with\s*\(fragment_size\s*=\s*\d+\)',
                            '', sql))
                elif kind == 'both':
                    eng.sql(sql)
                    if not engine_only:
                        con.execute(_duck_sql(sql))
                elif kind == 'eng':
                    eng.sql(sql).collect() if sql.lstrip().upper() \
                        .startswith('SELECT') else eng.sql(sql)
                    counts['noerr'] += 1
                elif kind == 'err':
                    try:
                        eng.sql(sql).collect()
                    except Exception:
                        counts['reject_parity'] += 1
                    else:
                        counts['mism'] += 1
                        mismatches.append(
                            (name, sql, 'RAN', 'reference raises'))
                elif kind in ('q', 'qx'):
                    sdf = eng.sql(sql)
                    got = [canon_row(tuple(r)) for r in sdf.collect()]
                    if kind == 'qx':
                        want = [canon_row(r) for r in step[2]]
                    else:
                        want = [canon_row(r) for r in
                                con.execute(_duck_sql(sql)).fetchall()]
                    match = (got == want if _ordered(sql)
                             else sorted(got) == sorted(want))
                    if match:
                        counts['ok'] += 1
                    else:
                        counts['mism'] += 1
                        mismatches.append((name, sql, got[:4], want[:4]))
                elif kind == 'ref_rejects':
                    try:
                        sdf = eng.sql(sql)
                        got = [canon_row(tuple(r)) for r in sdf.collect()]
                    except Exception:
                        counts['reject_parity'] += 1
                        continue
                    want = [canon_row(r) for r in
                            con.execute(_duck_sql(sql)).fetchall()]
                    match = (got == want if _ordered(sql)
                             else sorted(got) == sorted(want))
                    if match:
                        counts['superset'] += 1
                    else:
                        counts['mism'] += 1
                        mismatches.append((name, sql, got[:4], want[:4]))
                elif kind == 'ref_rejects_dml':
                    try:
                        eng.sql(sql)
                    except Exception:
                        counts['reject_parity'] += 1
                        broken = True  # post-image q no longer comparable
                        continue
                    con.execute(_duck_sql(sql))
                    counts['superset'] += 1
                else:  # pragma: no cover
                    raise ValueError(kind)
            except Exception as e:
                counts['err'] += 1
                errors.append((name, str(e).splitlines()[0][:160],
                               sql[:160]))
                broken = True
        con.close()

    total = sum(v for k, v in counts.items())
    print(f"\n{counts['ok']} match + {counts['reject_parity']} "
          f"reject-parity + {counts['superset']} engine-superset + "
          f"{counts['noerr']} no-throw, {counts['mism']} mismatch, "
          f"{counts['err']} harness-err, {counts['skip']} skip "
          f"of {total} steps")
    print("\n== MISMATCHES ==")
    for nm, sql, g, w in mismatches:
        print(f"[{nm}] {sql[:200]}\n  got  {g}\n  want {w}")
    print("\n== HARNESS ERRORS ==")
    for nm, e, sql in errors:
        print(f"[{nm}] {e} :: {sql}")
    spark.stop()
    sys.exit(1 if (counts['mism'] or counts['err']) else 0)


if __name__ == '__main__':
    main()
