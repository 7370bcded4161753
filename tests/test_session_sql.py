"""Stateful SQL-session surface: CREATE/INSERT VALUES/ALTER/DROP flows
(reference InterpreterCreateQuery / InterpreterInsertQuery /
InterpreterAlterQuery; the stateless test corpus's dominant shape)."""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from clickhouse_core_spark.plans.frontend import ch_sql  # noqa: E402


@pytest.fixture()
def tables():
    return {}


def test_insert_values_memory_engine(spark, tables):
    ch_sql(spark, "CREATE TABLE sm1 (a UInt32, s String) ENGINE Memory",
           tables=tables)
    ch_sql(spark, "INSERT INTO sm1 VALUES (1, 'x'), (2, 'y')",
           tables=tables)
    ch_sql(spark, "INSERT INTO sm1 (a) VALUES (3)", tables=tables)
    rows = ch_sql(spark, "SELECT * FROM sm1 ORDER BY a",
                  tables=tables).collect()
    assert [(r.a, r.s) for r in rows] == [(1, "x"), (2, "y"), (3, "")]
    ch_sql(spark, "DROP TABLE sm1", tables=tables)


def test_insert_values_mergetree_defaults(spark, tables):
    ch_sql(spark, "CREATE TABLE smt (id Int64, dflt Int64 DEFAULT 54321,"
                  " dbl Int64 DEFAULT id * 2) ENGINE MergeTree ORDER BY id",
           tables=tables)
    ch_sql(spark, "INSERT INTO smt (id) VALUES (7)", tables=tables)
    r = ch_sql(spark, "SELECT * FROM smt", tables=tables).collect()[0]
    assert (r.id, r.dflt, r.dbl) == (7, 54321, 14)
    ch_sql(spark, "DROP TABLE smt", tables=tables)


def test_insert_select_positional_alignment(spark, tables):
    ch_sql(spark, "CREATE TABLE pos1 (k UInt32, v String) ENGINE Memory",
           tables=tables)
    ch_sql(spark, "INSERT INTO pos1 SELECT 5, 'five'", tables=tables)
    r = ch_sql(spark, "SELECT * FROM pos1", tables=tables).collect()[0]
    assert (r.k, r.v) == (5, "five")
    ch_sql(spark, "DROP TABLE pos1", tables=tables)


def test_values_without_commas_between_tuples(spark, tables):
    ch_sql(spark, "CREATE TABLE nc1 (n Int32) ENGINE Memory",
           tables=tables)
    ch_sql(spark, "INSERT INTO nc1 VALUES (1), (2) (3), (4)",
           tables=tables)
    n = ch_sql(spark, "SELECT count(*) AS c FROM nc1",
               tables=tables).collect()[0].c
    assert n == 4
    ch_sql(spark, "DROP TABLE nc1", tables=tables)


def test_alter_add_drop_rename_modify(spark, tables):
    ch_sql(spark, "CREATE TABLE al1 (a UInt8, b String) ENGINE Memory",
           tables=tables)
    ch_sql(spark, "INSERT INTO al1 VALUES (1, 'x')", tables=tables)
    ch_sql(spark, "ALTER TABLE al1 ADD COLUMN c UInt32 DEFAULT 7",
           tables=tables)
    r = ch_sql(spark, "SELECT * FROM al1", tables=tables).collect()[0]
    assert r.c == 7
    ch_sql(spark, "ALTER TABLE al1 DROP COLUMN b, RENAME COLUMN a TO aa",
           tables=tables)
    row = ch_sql(spark, "SELECT * FROM al1", tables=tables).collect()[0]
    assert row.asDict() == {"aa": 1, "c": 7}
    ch_sql(spark, "ALTER TABLE al1 MODIFY COLUMN c Int64", tables=tables)
    schema = ch_sql(spark, "SELECT * FROM al1", tables=tables).schema
    assert schema["c"].dataType.simpleString() == "bigint"
    ch_sql(spark, "DROP TABLE al1", tables=tables)


def test_create_table_as_clone(spark, tables):
    ch_sql(spark, "CREATE TABLE cl_src (x UInt8, y String) ENGINE Memory",
           tables=tables)
    ch_sql(spark, "INSERT INTO cl_src VALUES (1, 'v')", tables=tables)
    ch_sql(spark, "CREATE TABLE cl_dst AS cl_src ENGINE = Memory",
           tables=tables)
    assert ch_sql(spark, "SELECT count(*) AS c FROM cl_dst",
                  tables=tables).collect()[0].c == 0
    ch_sql(spark, "INSERT INTO cl_dst SELECT * FROM cl_src",
           tables=tables)
    assert ch_sql(spark, "SELECT count(*) AS c FROM cl_dst",
                  tables=tables).collect()[0].c == 1
    for t in ("cl_src", "cl_dst"):
        ch_sql(spark, f"DROP TABLE {t}", tables=tables)


def test_expression_order_by_key(spark, tables):
    ch_sql(spark, "CREATE TABLE exk (d DateTime, ui UInt32) "
                  "ENGINE = MergeTree ORDER BY toDate(d)", tables=tables)
    ch_sql(spark, "INSERT INTO exk SELECT "
                  "toDateTime('2020-05-05 01:00:00'), number "
                  "FROM numbers(10)", tables=tables)
    assert ch_sql(spark, "SELECT count(*) AS c FROM exk",
                  tables=tables).collect()[0].c == 10
    ch_sql(spark, "DROP TABLE exk", tables=tables)


def test_digit_leading_table_names(spark, tables):
    ch_sql(spark, "CREATE TABLE 01999_t (a UInt8) ENGINE Memory",
           tables=tables)
    ch_sql(spark, "INSERT INTO 01999_t VALUES (9)", tables=tables)
    assert ch_sql(spark, "SELECT a FROM 01999_t",
                  tables=tables).collect()[0].a == 9
    ch_sql(spark, "DROP TABLE 01999_t", tables=tables)


def test_variant_cast_and_accessors(spark):
    rows = ch_sql(spark, """
        SELECT CAST('42', 'Variant(String, UInt64)') AS v1,
               variantType(CAST('abc', 'Variant(String, UInt64)')) AS t2,
               variantType(CAST('[1]', 'Variant(String, Array(UInt64))')) AS t3,
               variantElement(CAST('42', 'Variant(String, UInt64)'),
                              'UInt64') AS e4
    """).collect()[0]
    assert rows.v1.typ == "UInt64" and rows.t2 == "String"
    assert rows.t3 == "Array(UInt64)" and int(rows.e4) == 42


def test_multi_column_with_fill(spark):
    rows = ch_sql(spark, """
        SELECT number AS a, number % 3 AS b FROM numbers(6)
        WHERE number % 2 = 0 ORDER BY a WITH FILL, b
    """).collect()
    assert [r.a for r in rows] == [0, 1, 2, 3, 4]
    # generated rows carry type DEFAULTS (reference FillingTransform
    # non-Nullable semantics), not NULL
    assert [r.b for r in rows] == [0, 0, 2, 0, 1]


def test_with_fill_inside_subquery(spark):
    rows = ch_sql(spark, """
        SELECT * FROM (
            SELECT number AS x FROM numbers(10)
            WHERE number % 3 = 1 ORDER BY x WITH FILL STEP 2
        ) WHERE x < 6 ORDER BY x
    """).collect()
    # FillingRow progression is NOT re-anchored on off-grid originals:
    # grid 1,3,5,(7) with originals 4,7 interleaved — 1,3,4,5,7
    assert [r.x for r in rows] == [1, 3, 4, 5]


def test_limit_offset_with_ties(spark):
    rows = ch_sql(spark, """
        SELECT a FROM (SELECT arrayJoin([1, 1, 2, 3]) AS a)
        ORDER BY a LIMIT 1, 1 WITH TIES
    """).collect()
    assert [r.a for r in rows] == [1]


def test_mutations_refresh_views(spark, tables):
    ch_sql(spark, "CREATE TABLE mu (k UInt32, v String) "
                  "ENGINE MergeTree ORDER BY k", tables=tables)
    ch_sql(spark, "INSERT INTO mu VALUES (1, 'a'), (2, 'b'), (3, 'c')",
           tables=tables)
    ch_sql(spark, "ALTER TABLE mu DELETE WHERE k = 2", tables=tables)
    ch_sql(spark, "ALTER TABLE mu UPDATE v = upper(v) WHERE k = 1",
           tables=tables)
    rows = ch_sql(spark, "SELECT * FROM mu ORDER BY k",
                  tables=tables).collect()
    assert [(r.k, r.v) for r in rows] == [(1, "A"), (3, "c")]
    ch_sql(spark, "DROP TABLE mu", tables=tables)


def test_fill_staleness_and_suffix(spark, tables):
    ch_sql(spark, "CREATE TABLE st8 (a Int64, b Int64, c Int64) "
                  "Engine=MergeTree ORDER BY a", tables=tables)
    ch_sql(spark, "INSERT INTO st8(a, b, c) VALUES (0, 5, 10), "
                  "(7, 8, 15), (14, 10, 20)", tables=tables)
    rows = ch_sql(spark, """
        SELECT *, 'original' AS orig FROM st8
        ORDER BY a, b WITH FILL TO 20 STEP 2 STALENESS 3,
                 c WITH FILL TO 25 step 3""", tables=tables).collect()
    # reference golden (03266_with_fill_staleness_cases test-1)
    got = [(r.a, r.b, r.c, r.orig) for r in rows]
    assert got[:7] == [
        (0, 5, 10, "original"), (0, 5, 13, ""), (0, 5, 16, ""),
        (0, 5, 19, ""), (0, 5, 22, ""), (0, 7, 0, ""),
        (7, 8, 15, "original")]
    assert len(got) == 14
    ch_sql(spark, "DROP TABLE st8", tables=tables)


def test_fill_no_reanchor(spark):
    rows = ch_sql(spark, """
        SELECT number AS x FROM numbers(10)
        WHERE number IN (1, 4, 7) ORDER BY x WITH FILL STEP 2
    """).collect()
    # grid stays anchored at 1 (1,3,5,...); originals interleave
    assert [r.x for r in rows] == [1, 3, 4, 5, 7]


def test_dictionary_ddl_lookups(spark, tables):
    ch_sql(spark, "CREATE TABLE dsrc8 (id UInt64, v String) "
                  "ENGINE MergeTree ORDER BY id", tables=tables)
    ch_sql(spark, "INSERT INTO dsrc8 VALUES (1, 'one'), (2, 'two')",
           tables=tables)
    ch_sql(spark, "CREATE DICTIONARY dict8 (id UInt64, "
                  "v String DEFAULT '?') PRIMARY KEY id "
                  "SOURCE(CLICKHOUSE(TABLE 'dsrc8')) LAYOUT(HASHED()) "
                  "LIFETIME(1)", tables=tables)
    r = ch_sql(spark, "SELECT dictGet('dict8', 'v', 2) AS hit, "
                      "dictGet('dict8', 'v', 9) AS miss, "
                      "dictGetOrNull('dict8', 'v', 9) AS onull, "
                      "dictHas('dict8', 1) AS has",
               tables=tables).collect()[0]
    assert (r.hit, r.miss, r.onull, r.has) == ("two", "?", None, 1)
    ch_sql(spark, "DROP DICTIONARY dict8", tables=tables)
    ch_sql(spark, "DROP TABLE dsrc8", tables=tables)


def test_collapsing_lone_negative_read_vs_merge(spark, tables):
    """FINAL READS drop unmatched -1 rows (only_positive_sign=true on
    the read path, ReadFromMergeTree.cpp — golden 03290 count()=0);
    the MERGE keeps them in the part, so the raw read still sees 1."""
    ch_sql(spark, "CREATE TABLE cl8 (k Int8, sign Int8) "
                  "ENGINE = CollapsingMergeTree(sign) ORDER BY k",
           tables=tables)
    ch_sql(spark, "INSERT INTO cl8 VALUES (5, -1)", tables=tables)
    ch_sql(spark, "OPTIMIZE TABLE cl8 FINAL", tables=tables)
    assert ch_sql(spark, "SELECT count() AS c FROM cl8 FINAL",
                  tables=tables).collect()[0].c == 0
    assert ch_sql(spark, "SELECT count() AS c FROM cl8",
                  tables=tables).collect()[0].c == 1
    ch_sql(spark, "DROP TABLE cl8", tables=tables)


def test_mv_to_table_cascade(spark, tables):
    ch_sql(spark, "CREATE TABLE mvsrc8 (x UInt32) ENGINE = MergeTree "
                  "ORDER BY x", tables=tables)
    ch_sql(spark, "CREATE TABLE mvdst8 (x UInt32) ENGINE = MergeTree "
                  "ORDER BY x", tables=tables)
    ch_sql(spark, "CREATE MATERIALIZED VIEW mv8 TO mvdst8 AS "
                  "SELECT x FROM mvsrc8 WHERE x % 2 = 0",
           tables=tables)
    ch_sql(spark, "INSERT INTO mvsrc8 VALUES (1), (2), (4)",
           tables=tables)
    rows = ch_sql(spark, "SELECT x FROM mvdst8 ORDER BY x",
                  tables=tables).collect()
    assert [r.x for r in rows] == [2, 4]
    ch_sql(spark, "DROP TABLE mv8", tables=tables)


def test_map_literals_and_json_subcolumns(spark, tables):
    r = ch_sql(spark, "SELECT {'a': 1, 'b': 2} AS m").collect()[0]
    assert r.m == {"a": 1, "b": 2}
    ch_sql(spark, "CREATE TABLE tj8 (id UInt64, json JSON) "
                  "ENGINE = MergeTree ORDER BY id", tables=tables)
    ch_sql(spark, 'INSERT INTO tj8 VALUES (1, \'{"a": {"b": 42}}\')',
           tables=tables)
    r = ch_sql(spark, "SELECT json.a.b AS ab FROM tj8",
               tables=tables).collect()[0]
    assert r.ab == "42"
    ch_sql(spark, "DROP TABLE tj8", tables=tables)


def test_partition_ops_sql(spark, tables):
    ch_sql(spark, "CREATE TABLE po1 (id UInt64, v UInt64) ENGINE = "
                  "MergeTree PARTITION BY id ORDER BY v",
           tables=tables)
    ch_sql(spark, "CREATE TABLE po2 (id UInt64, v UInt64) ENGINE = "
                  "MergeTree PARTITION BY id ORDER BY v",
           tables=tables)
    ch_sql(spark, "INSERT INTO po1 SELECT intDiv(number, 5), number "
                  "FROM numbers(20)", tables=tables)
    ch_sql(spark, "ALTER TABLE po2 REPLACE PARTITION 2 FROM po1",
           tables=tables)
    rows = ch_sql(spark, "SELECT count() AS c, min(v) AS lo FROM po2",
                  tables=tables).collect()[0]
    assert (rows.c, rows.lo) == (5, 10)
    ch_sql(spark, "ALTER TABLE po1 DROP PARTITION 0", tables=tables)
    assert ch_sql(spark, "SELECT count() AS c FROM po1",
                  tables=tables).collect()[0].c == 15
    ch_sql(spark, "DROP TABLE po1", tables=tables)
    ch_sql(spark, "DROP TABLE po2", tables=tables)


# ---------------------------------------------------------------- Memory
# A Memory table is one MemoryTable object in ``tables``: DROP, RENAME,
# mutations and ALTER all act on it, and its column declarations move
# with it (reference StorageMemory + IStorage column description).

_MEM = "CREATE TABLE {} (k UInt32, s String DEFAULT 'x') ENGINE = Memory"


def _rows(spark, tables, sql):
    return [tuple(r) for r in ch_sql(spark, sql, tables=tables).collect()]


def test_memory_drop_forgets_rows(spark, tables):
    ch_sql(spark, _MEM.format("md1"), tables=tables)
    ch_sql(spark, "INSERT INTO md1 VALUES (1, 'a')", tables=tables)
    ch_sql(spark, "DROP TABLE md1", tables=tables)
    ch_sql(spark, _MEM.format("md1"), tables=tables)
    ch_sql(spark, "INSERT INTO md1 VALUES (2, 'b')", tables=tables)
    assert _rows(spark, tables, "SELECT * FROM md1 ORDER BY k") \
        == [(2, "b")]


def test_memory_rename_keeps_defaults(spark, tables):
    ch_sql(spark, _MEM.format("mr1"), tables=tables)
    ch_sql(spark, "RENAME TABLE mr1 TO mr2", tables=tables)
    ch_sql(spark, "INSERT INTO mr2 (k, s) VALUES (3, NULL)",
           tables=tables)
    ch_sql(spark, "INSERT INTO mr2 (k) VALUES (4)", tables=tables)
    assert _rows(spark, tables, "SELECT * FROM mr2 ORDER BY k") \
        == [(3, "x"), (4, "x")]


@pytest.mark.parametrize("stmt", ["DELETE FROM {} WHERE k = 1",
                                  "ALTER TABLE {} DELETE WHERE k = 1"])
def test_memory_delete_survives_insert(spark, tables, stmt):
    ch_sql(spark, _MEM.format("mdel"), tables=tables)
    ch_sql(spark, "INSERT INTO mdel VALUES (1, 'a'), (2, 'b')",
           tables=tables)
    ch_sql(spark, stmt.format("mdel"), tables=tables)
    ch_sql(spark, "INSERT INTO mdel VALUES (3, 'c')", tables=tables)
    assert _rows(spark, tables, "SELECT k FROM mdel ORDER BY k") \
        == [(2,), (3,)]


def test_memory_update_survives_insert(spark, tables):
    ch_sql(spark, _MEM.format("mupd"), tables=tables)
    ch_sql(spark, "INSERT INTO mupd VALUES (3, 'c')", tables=tables)
    ch_sql(spark, "ALTER TABLE mupd UPDATE s = 'z' WHERE k = 3",
           tables=tables)
    ch_sql(spark, "INSERT INTO mupd VALUES (5, 'e')", tables=tables)
    assert _rows(spark, tables, "SELECT * FROM mupd ORDER BY k") \
        == [(3, "z"), (5, "e")]


def test_memory_add_column_then_insert(spark, tables):
    ch_sql(spark, _MEM.format("madd"), tables=tables)
    ch_sql(spark, "INSERT INTO madd VALUES (1, 'a')", tables=tables)
    ch_sql(spark, "ALTER TABLE madd ADD COLUMN x UInt8 DEFAULT 9",
           tables=tables)
    ch_sql(spark, "INSERT INTO madd (k, s) VALUES (7, 'g')",
           tables=tables)
    assert _rows(spark, tables, "SELECT k, s, x FROM madd ORDER BY k") \
        == [(1, "a", 9), (7, "g", 9)]


def test_dropped_json_table_leaves_no_subcolumn_rewrite(spark, tables):
    ch_sql(spark, "CREATE TABLE mj1 (k UInt32, doc JSON) ENGINE = Memory",
           tables=tables)
    ch_sql(spark, "DROP TABLE mj1", tables=tables)
    ch_sql(spark, "CREATE TABLE mo1 (k UInt32, doc Tuple(a UInt32)) "
                  "ENGINE = Memory", tables=tables)
    ch_sql(spark, "INSERT INTO mo1 VALUES (1, tuple(5))", tables=tables)
    assert _rows(spark, tables, "SELECT k, doc.a FROM mo1") == [(1, 5)]


def test_memory_and_mergetree_agree_on_one_column_list(spark, tables):
    cols = ("(k UInt32, s String DEFAULT 'x', n Nullable(Int32) "
            "DEFAULT 7, m UInt32 MATERIALIZED k * 2, "
            "t DateTime('Asia/Tokyo'), t64 DateTime64(0))")
    engines = {"pmem": "ENGINE = Memory",
               "pmt": "ENGINE = MergeTree ORDER BY k"}
    out = {}
    for name, engine in engines.items():
        ch_sql(spark, f"CREATE TABLE {name} {cols} {engine}",
               tables=tables)
        ch_sql(spark, f"INSERT INTO {name} (k, s, n, t, t64) VALUES "
                      f"(1, NULL, NULL, '2024-01-02 03:04:05', "
                      f"'2024-01-02 03:04:05.789')", tables=tables)
        ch_sql(spark, f"INSERT INTO {name} (k, t, t64) VALUES "
                      f"(2, '2024-05-06 07:08:09', "
                      f"'2024-05-06 07:08:09')", tables=tables)
        show = ch_sql(spark, f"SHOW CREATE TABLE {name}",
                      tables=tables).collect()[0][0]
        out[name] = (
            _rows(spark, tables, f"SELECT * FROM {name} ORDER BY k"),
            _rows(spark, tables, f"DESCRIBE TABLE {name}"),
            [ln.rstrip(",") for ln in show.splitlines()
             if ln.startswith("    ")])
    mem, mt = out["pmem"], out["pmt"]
    assert mem == mt
    rows = mem[0]
    assert [(r[0], r[1], r[2], r[3]) for r in rows] \
        == [(1, "x", None, 2), (2, "x", 7, 4)]
    assert rows[0][5].microsecond == 0
    desc = {r[0]: r for r in mem[1]}
    assert desc["n"][1] == "Nullable(Int32)" and desc["n"][2] == "DEFAULT"
    assert "    `t` DateTime('Asia/Tokyo')" in mem[2]


def test_retried_statement_logs_no_error(spark):
    import logging

    from pyspark.errors import AnalysisException
    from pyspark.logger import PySparkLogger
    seen = []

    class _Keep(logging.Handler):
        def emit(self, record):
            seen.append(record)

    qlog = PySparkLogger.getLogger("SQLQueryContextLogger")
    h = _Keep(level=logging.DEBUG)
    qlog.addHandler(h)
    try:
        r = ch_sql(spark, "SELECT sum(number = 1) AS c FROM numbers(3)")
        assert r.collect()[0].c == 1
        assert seen == []
        with pytest.raises(AnalysisException, match="nosuch"):
            ch_sql(spark, "SELECT nosuch FROM numbers(1)").collect()
    finally:
        qlog.removeHandler(h)
