"""ClickHouse-SQL dialect frontend: translated queries must run on
Spark and match the same semantics computed natively."""

from decimal import Decimal

import pytest

from clickhouse_core_spark.plans import ch_sql, translate_ch_sql


@pytest.fixture(autouse=True)
def _views(catalog):
    catalog.register_all()


def test_function_name_translation():
    out = translate_ch_sql(
        "SELECT toYear(o_orderdate), toStartOfMonth(o_orderdate) FROM orders")
    assert "year(o_orderdate)" in out
    assert "date_trunc('month', o_orderdate)" in out


def test_nested_translation():
    out = translate_ch_sql("SELECT toString(toYear(toDate(x))) FROM t")
    assert out == "SELECT CAST(year(to_date(x)) AS STRING) FROM t"


def test_parametric_quantile():
    out = translate_ch_sql("SELECT quantile(0.5)(l_quantity) FROM lineitem")
    assert "percentile(l_quantity, 0.5)" in out


def test_strings_not_rewritten():
    out = translate_ch_sql("SELECT 'toYear(x)' AS s FROM t")
    assert "'toYear(x)'" in out


def test_format_and_settings_stripped():
    out = translate_ch_sql(
        "SELECT 1 FROM t SETTINGS max_threads = 4 FORMAT JSONEachRow")
    assert "SETTINGS" not in out and "FORMAT" not in out


def test_end_to_end_aggregate(spark):
    df = ch_sql(spark, """
        SELECT l_returnflag,
               uniqExact(l_suppkey) AS s,
               countIf(l_quantity > 25) AS big,
               quantile(0.5)(l_quantity) AS med,
               argMax(l_orderkey, l_extendedprice) AS biggest
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """)
    rows = df.collect()
    native = spark.sql("""
        SELECT l_returnflag, count(DISTINCT l_suppkey) AS s,
               count_if(l_quantity > 25) AS big,
               percentile(l_quantity, 0.5) AS med,
               max_by(l_orderkey, l_extendedprice) AS biggest
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """).collect()
    assert [tuple(r) for r in rows] == [tuple(r) for r in native]


def test_end_to_end_datetime_and_if(spark):
    df = ch_sql(spark, """
        SELECT toYYYYMM(o_orderdate) AS ym,
               multiIf(o_totalprice > 300000, 'big',
                       o_totalprice > 100000, 'mid', 'small') AS sz,
               intDiv(o_orderkey, 100) AS bucket
        FROM orders WHERE toYear(o_orderdate) == 1995
        ORDER BY o_orderkey LIMIT 5
    """)
    rows = df.collect()
    assert len(rows) == 5
    assert all(str(r["ym"]).startswith("1995") for r in rows)
    assert set(r["sz"] for r in rows) <= {"big", "mid", "small"}


def test_limit_by(spark):
    df = ch_sql(spark, """
        SELECT o_custkey, o_orderkey FROM orders
        ORDER BY o_totalprice DESC
        LIMIT 2 BY o_custkey
    """)
    counts = df.groupBy("o_custkey").count().collect()
    assert all(r["count"] <= 2 for r in counts)
    assert "__rn" not in df.columns


def test_array_join_explode(spark):
    df = ch_sql(spark, "SELECT arrayJoin(array(1, 2, 3)) AS x")
    assert sorted(r["x"] for r in df.collect()) == [1, 2, 3]


def test_zero_arg_count(spark):
    r = ch_sql(spark, "SELECT count() AS n FROM orders").collect()[0]
    assert r["n"] > 0


def test_array_literals(spark):
    r = ch_sql(spark, "SELECT [1, 2, 3] AS a, has([1, 2], 2) AS h, "
                      "arrayMap(x -> x * 2, [1, 2]) AS m").collect()[0]
    assert r["a"] == [1, 2, 3] and r["h"] is True and r["m"] == [2, 4]
    nested = ch_sql(spark, "SELECT [[1], [2, 3]] AS n").collect()[0]
    assert nested["n"] == [[1], [2, 3]]


def test_in_array_literal_is_value_list(spark):
    r = ch_sql(spark, "SELECT count() AS n FROM orders "
                      "WHERE o_orderstatus IN ['F', 'O']").collect()[0]
    assert r["n"] > 0


def test_parametric_topk(spark):
    r = ch_sql(spark, "SELECT topK(2)(o_orderstatus) AS t FROM orders").collect()[0]
    assert len(r["t"]) == 2
    # weighted: heaviest first
    r2 = ch_sql(spark, "SELECT topKWeighted(1)(o_orderstatus, o_totalprice) "
                       "AS t FROM orders").collect()[0]
    assert len(r2["t"]) == 1


def test_limit_by_expression_key(spark):
    # LIMIT n BY f(x): function-call BY keys must translate (regression:
    # the old regex silently passed the CH text through to Spark)
    df = ch_sql(spark, """
        SELECT o_orderkey, o_orderdate FROM orders
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 2 BY toYear(o_orderdate)
    """)
    rows = df.collect()
    from collections import Counter
    per_year = Counter(r["o_orderdate"].year for r in rows)
    assert per_year and all(v <= 2 for v in per_year.values())


def test_final_clause(spark):
    from clickhouse_core_spark.plans.frontend import register_mergetree_sql
    df = spark.createDataFrame([(1, 1, "a"), (1, 2, "b"), (2, 1, "c")],
                               "k int, ver int, v string")
    register_mergetree_sql(spark, "t_final_test", df, engine="replacing",
                           keys=["k"], version="ver")
    rows = ch_sql(spark, "SELECT k, v FROM t_final_test FINAL ORDER BY k").collect()
    assert [tuple(r) for r in rows] == [(1, "b"), (2, "c")]


def test_sample_clause_deterministic(spark):
    out1 = ch_sql(spark, "SELECT count(*) AS n FROM lineitem SAMPLE 0.25",
                  sample_by={"lineitem": "l_orderkey"}).collect()[0]["n"]
    out2 = ch_sql(spark, "SELECT count(*) AS n FROM lineitem SAMPLE 0.25",
                  sample_by={"lineitem": "l_orderkey"}).collect()[0]["n"]
    total = ch_sql(spark, "SELECT count(*) AS n FROM lineitem").collect()[0]["n"]
    assert out1 == out2            # deterministic subset
    assert 0 < out1 < total        # a real sample
    with pytest.raises(ValueError, match="sampling key"):
        ch_sql(spark, "SELECT 1 FROM lineitem SAMPLE 0.5")


def test_array_join_forms(spark):
    spark.createDataFrame(
        [(1, [10, 20], ["a", "b"]), (2, [30], ["c"]), (3, [], [])],
        "id int, arr array<int>, tags array<string>",
    ).createOrReplaceTempView("aj_t")
    got = ch_sql(spark, "SELECT id, x FROM aj_t ARRAY JOIN arr AS x "
                        "ORDER BY id, x").collect()
    assert [tuple(r) for r in got] == [(1, 10), (1, 20), (2, 30)]
    # implicit alias: element takes the array's own name
    got = ch_sql(spark, "SELECT id, arr FROM aj_t ARRAY JOIN arr "
                        "ORDER BY id, arr").collect()
    assert [tuple(r) for r in got] == [(1, 10), (1, 20), (2, 30)]
    # lockstep multi-array, not a cross product
    got = ch_sql(spark, "SELECT id, x, tg FROM aj_t ARRAY JOIN arr AS x, "
                        "tags AS tg ORDER BY id, x").collect()
    assert [tuple(r) for r in got] == [(1, 10, "a"), (1, 20, "b"), (2, 30, "c")]
    # LEFT ARRAY JOIN keeps empty-array rows
    got = ch_sql(spark, "SELECT id, x FROM aj_t LEFT ARRAY JOIN arr AS x "
                        "ORDER BY id, x").collect()
    assert (3, None) in [tuple(r) for r in got]


def test_with_totals(spark):
    rows = ch_sql(spark, """
        SELECT o_orderstatus, sum(o_totalprice) AS s
        FROM orders GROUP BY o_orderstatus WITH TOTALS
    """).collect()
    per_group = [r for r in rows if r["o_orderstatus"] is not None]
    totals = [r for r in rows if r["o_orderstatus"] is None]
    assert len(totals) == 1
    assert abs(totals[0]["s"] - sum(r["s"] for r in per_group)) < 1e-4


def test_prewhere_alone_translates():
    out = translate_ch_sql("SELECT x FROM t PREWHERE a > 1 ORDER BY x")
    assert "PREWHERE" not in out.upper()
    assert "WHERE" in out and "(a > 1)" in out


def test_prewhere_merges_with_where(spark):
    df = ch_sql(spark, """
        SELECT o_orderkey FROM orders
        PREWHERE o_orderstatus = 'F'
        WHERE o_totalprice > 100000
        ORDER BY o_orderkey LIMIT 5""")
    rows = df.collect()
    assert len(rows) == 5
    native = ch_sql(spark, """
        SELECT o_orderkey FROM orders
        WHERE o_orderstatus = 'F' AND o_totalprice > 100000
        ORDER BY o_orderkey LIMIT 5""").collect()
    assert [r.o_orderkey for r in rows] == [r.o_orderkey for r in native]


def test_qualify_filters_window_results(spark):
    from collections import Counter
    df = ch_sql(spark, """
        SELECT o_orderpriority, o_orderkey,
               row_number() OVER (PARTITION BY o_orderpriority
                                  ORDER BY o_orderkey) AS rn
        FROM orders
        QUALIFY rn <= 2
        ORDER BY o_orderpriority, rn""")
    rows = df.collect()
    per = Counter(r.o_orderpriority for r in rows)
    assert per and all(v <= 2 for v in per.values())
    assert all(r.rn <= 2 for r in rows)


def test_with_fill_sql_clause(spark):
    df = ch_sql(spark, """
        SELECT o_orderkey % 5 AS slot, count(*) AS n
        FROM orders WHERE o_orderkey % 5 IN (0, 2)
        GROUP BY slot
        ORDER BY slot WITH FILL FROM 0 TO 4""")
    rows = df.collect()
    # TO is EXCLUSIVE and filled slots carry the count's type default
    # (reference FillingTransform golden behavior)
    assert [r.slot for r in rows] == [0, 1, 2, 3]
    assert rows[1].n == 0 and rows[3].n == 0  # filled slots
    assert rows[0].n > 0 and rows[2].n > 0


def test_quantile_gk_parametric(spark, catalog):
    from clickhouse_core_spark.plans import ch_sql
    df = ch_sql(spark, """
        SELECT l_returnflag, quantileGK(100, 0.5)(l_quantity) AS med
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")
    rows = df.collect()
    assert len(rows) == 3
    assert all(1 <= r["med"] <= 50 for r in rows)


def test_subscripts_are_one_based(spark):
    from clickhouse_core_spark.plans import ch_sql
    row = ch_sql(spark, """
        SELECT [10, 20, 30][1] AS first_el,
               [10, 20, 30][-1] AS last_el,
               splitByChar(',', 'a,b,c')[2] AS second_tok,
               map('k', 7)['k'] AS by_key,
               [[1, 2], [3, 4]][2][1] AS nested
    """).first()
    assert (row.first_el, row.last_el, row.second_tok,
            row.by_key, row.nested) == (10, 30, "b", 7, 3)


def test_tuple_positional_access(spark):
    from clickhouse_core_spark.plans import ch_sql
    row = ch_sql(spark, """
        SELECT tuple(5, 'x').2 AS snd,
               tupleElement(tuple(7, 8), 1) AS fst,
               tuple(1, 2).1 + 1.5 AS mixed
    """).first()
    assert (row.snd, row.fst, row.mixed) == ("x", 7, 2.5)


def test_explain_statement(spark, catalog):
    from clickhouse_core_spark.plans import ch_sql
    out = ch_sql(spark, "EXPLAIN PLAN SELECT count(*) FROM nation")
    text = "\n".join(r[0] for r in out.collect())
    assert "Physical Plan" in text or "Aggregate" in text


def test_insert_delete_update_statements(spark, tmp_path):
    from clickhouse_core_spark.plans import ch_sql
    from clickhouse_core_spark.sources import MergeTreeTable
    t = MergeTreeTable(spark, str(tmp_path / "mt"), order_by=["k"])
    spark.createDataFrame([(1, 10.0), (2, 20.0), (3, 30.0)],
                          "k int, v double").createOrReplaceTempView("src_rows")
    tables = {"mt": t}
    ch_sql(spark, "INSERT INTO mt SELECT k, v FROM src_rows", tables=tables)
    assert t.read_raw().count() == 3
    ch_sql(spark, "ALTER TABLE mt UPDATE v = v * 10 WHERE k = 2",
           tables=tables)
    got = {r.k: r.v for r in t.read_raw().collect()}
    assert got[2] == 200.0 and got[1] == 10.0
    ch_sql(spark, "ALTER TABLE mt DELETE WHERE k = 1", tables=tables)
    assert sorted(r.k for r in t.read_raw().collect()) == [2, 3]
    ch_sql(spark, "DELETE FROM mt WHERE v >= 200", tables=tables)
    assert sorted(r.k for r in t.read_raw().collect()) == [3]


def test_create_table_ddl(spark, tmp_path):
    from clickhouse_core_spark.plans import ch_sql, create_table_sql
    t = create_table_sql(spark, """
        CREATE TABLE metrics (
            k Int64, ver UInt32, name Nullable(String), v Float64
        ) ENGINE = ReplacingMergeTree(ver) ORDER BY k PARTITION BY name
    """, str(tmp_path))
    assert t.engine == "replacing" and t.version_col == "ver"
    assert t.order_by == ["k"] and t.partition_by == ["name"]
    spark.createDataFrame(
        [(1, 1, "a", 1.0), (1, 2, "a", 5.0), (2, 1, "b", 3.0)],
        "k long, ver long, name string, v double"
    ).createOrReplaceTempView("m_src")
    ch_sql(spark, "INSERT INTO metrics SELECT * FROM m_src",
           tables={"metrics": t})
    fin = {r.k: r.v for r in t.read(final=True).collect()}
    assert fin == {1: 5.0, 2: 3.0}  # replacing keeps max version


def test_asof_join_sql(spark):
    from clickhouse_core_spark.plans import ch_sql
    spark.createDataFrame([(1, 10.0), (1, 20.0), (2, 15.0)],
                          "k int, t double").createOrReplaceTempView("asof_l")
    spark.createDataFrame([(1, 5.0, "a"), (1, 18.0, "b"), (2, 99.0, "c")],
                          "k int, t double, tag string"
                          ).createOrReplaceTempView("asof_r")
    rows = ch_sql(spark, """
        SELECT k, t, tag FROM asof_l ASOF LEFT JOIN asof_r
        ON asof_l.k = asof_r.k AND asof_l.t >= asof_r.t
        ORDER BY k, t""").collect()
    got = [(r.k, r.t, r.tag) for r in rows]
    assert got == [(1, 10.0, "a"), (1, 20.0, "b"), (2, 15.0, None)]


def test_asof_join_sql_shared_column_keeps_left(spark):
    from clickhouse_core_spark.plans import ch_sql
    spark.createDataFrame([(1, 10.0, "l1"), (1, 20.0, "l2")],
                          "k int, t double, tag string"
                          ).createOrReplaceTempView("asof_sl")
    spark.createDataFrame([(1, 5.0, "r1", 7)],
                          "k int, t double, tag string, v int"
                          ).createOrReplaceTempView("asof_sr")
    rows = ch_sql(spark, """
        SELECT k, t, tag, v FROM asof_sl ASOF JOIN asof_sr
        ON asof_sl.k = asof_sr.k AND asof_sl.t >= asof_sr.t
        ORDER BY t""").collect()
    assert [tuple(r) for r in rows] == [(1, 10.0, "l1", 7), (1, 20.0, "l2", 7)]


def test_any_join_sql_and_global(spark):
    from clickhouse_core_spark.plans import ch_sql, translate_ch_sql
    spark.createDataFrame([(1, "x"), (2, "y")],
                          "k int, lv string").createOrReplaceTempView("any_l")
    spark.createDataFrame([(1, "r1"), (1, "r2"), (2, "r3")],
                          "k int, rv string").createOrReplaceTempView("any_r")
    rows = ch_sql(spark, """
        SELECT k, lv, rv FROM any_l ANY LEFT JOIN any_r USING (k)
        ORDER BY k""").collect()
    assert len(rows) == 2  # one right row per key, not a fanout
    assert "GLOBAL" not in translate_ch_sql(
        "SELECT * FROM a GLOBAL ANY LEFT JOIN b USING (k)").upper()


def test_star_except_and_replace(spark):
    from clickhouse_core_spark.plans import ch_sql
    spark.createDataFrame([(1, 2, 3)], "a int, b int, c int"
                          ).createOrReplaceTempView("star_t")
    r1 = ch_sql(spark, "SELECT * EXCEPT (b) FROM star_t").first()
    assert r1.asDict() == {"a": 1, "c": 3}
    r2 = ch_sql(spark, "SELECT * REPLACE (b * 10 AS b) FROM star_t").first()
    assert r2.asDict() == {"a": 1, "c": 3, "b": 20}


def test_scalar_with_aliases(spark, catalog):
    from clickhouse_core_spark.plans import ch_sql
    row = ch_sql(spark, """
        WITH 2 + 3 AS five, 'AFRICA' AS target
        SELECT five * 2 AS ten, count(*) AS n
        FROM region WHERE r_name = target
    """).first()
    assert (row.ten, row.n) == (10, 1)
    # mixed scalar + subquery CTE
    row2 = ch_sql(spark, """
        WITH 10 AS lim, big AS (SELECT r_regionkey FROM region)
        SELECT count(*) AS n FROM big WHERE r_regionkey < lim
    """).first()
    assert row2.n == 5


def test_quantile_exact_sql_forms(spark):
    from clickhouse_core_spark.plans import ch_sql
    spark.createDataFrame([(float(v),) for v in [15, 20, 35, 40, 50]],
                          "x double").createOrReplaceTempView("qx")
    row = ch_sql(spark, """
        SELECT quantileExactExclusive(0.4)(x) AS exc,
               quantileExactInclusive(0.25)(x) AS inc,
               quantileExactLow(0.5)(x) AS lo,
               quantileExactHigh(0.5)(x) AS hi
        FROM qx""").first()
    assert row.exc == pytest.approx(26.0)   # Excel doc example
    assert row.inc == pytest.approx(20.0)
    assert (row.lo, row.hi) == (35.0, 35.0)  # odd size: both the middle


def test_describe_show_passthrough(spark, catalog):
    # r5: DESCRIBE/SHOW now emit the reference's own output shapes
    # (InterpreterDescribeQuery 7-column block, SHOW TABLES name list)
    # instead of passing through to Spark's versions
    from clickhouse_core_spark.plans import ch_sql
    d = ch_sql(spark, "DESCRIBE TABLE nation")
    assert d.columns[:2] == ["name", "type"]
    cols = {r["name"] for r in d.collect()}
    assert {"n_nationkey", "n_name"} <= cols
    st = ch_sql(spark, "SHOW TABLES")
    assert st.columns == ["name"]
    assert "nation" in {r["name"] for r in st.collect()}


def test_array_reduce_sql(spark):
    from clickhouse_core_spark.plans import ch_sql
    row = ch_sql(spark, """
        SELECT arrayReduce('sum', [1.0, 2.0, 3.0]) AS s,
               arrayReduce('uniqExact', [1, 1, 2]) AS u,
               arrayReduce('anyLast', [7, 8, 9]) AS al
    """).first()
    assert (row.s, row.u, row.al) == (6.0, 2, 9)


def test_any_join_inner_strictness(spark):
    """Bare ANY JOIN is ANY INNER in ClickHouse: unmatched left rows are
    DROPPED (ADVICE r3 — was rewritten to LEFT JOIN unconditionally)."""
    from clickhouse_core_spark.plans import ch_sql, translate_ch_sql
    spark.createDataFrame([(1, "x"), (2, "y"), (3, "z")],
                          "k int, lv string").createOrReplaceTempView("anyi_l")
    spark.createDataFrame([(1, "r1"), (1, "r2")],
                          "k int, rv string").createOrReplaceTempView("anyi_r")
    rows = ch_sql(spark, """
        SELECT k, lv, rv FROM anyi_l ANY JOIN anyi_r USING (k)
        ORDER BY k""").collect()
    # inner: only k=1 survives, exactly once
    assert [(r.k, r.lv) for r in rows] == [(1, "x")]
    # LEFT forms still keep unmatched left rows with NULL
    rows_l = ch_sql(spark, """
        SELECT k, lv, rv FROM anyi_l ANY LEFT JOIN anyi_r USING (k)
        ORDER BY k""").collect()
    assert [(r.k, r.rv is None) for r in rows_l] == [
        (1, False), (2, True), (3, True)]
    up = translate_ch_sql("SELECT * FROM a ANY JOIN b USING (k)").upper()
    assert "LEFT JOIN" not in up


def test_scalar_with_skips_string_literals(spark):
    """WITH 5 AS x must not rewrite 'x' inside string constants
    (ADVICE r3 — bare re.sub corrupted literal text)."""
    from clickhouse_core_spark.plans import ch_sql
    row = ch_sql(spark,
                 "WITH 5 AS x SELECT 'x marks' AS s, x AS v").first()
    assert (row.s, row.v) == ("x marks", 5)


def test_group_concat_reference_defaults(spark):
    """groupConcat defaults to the EMPTY delimiter and the two-parameter
    form groupConcat(sep, N)(x) honors the limit
    (AggregateFunctionGroupConcat.cpp)."""
    from clickhouse_core_spark.plans import ch_sql
    spark.createDataFrame([(1, "a"), (1, "b"), (1, "c")],
                          "g int, v string").createOrReplaceTempView("gc_t")
    row = ch_sql(spark, """
        SELECT groupConcat(v) AS bare,
               groupConcat('-')(v) AS sep,
               groupConcat('-', 2)(v) AS lim
        FROM (SELECT g, v FROM gc_t ORDER BY v) GROUP BY g""").first()
    assert sorted(row.bare) == ["a", "b", "c"] and len(row.bare) == 3
    assert sorted(row.sep.split("-")) == ["a", "b", "c"]
    assert len(row.lim.split("-")) == 2


def test_quantile_exact_low_high_level_one(spark):
    """level >= 1 must return the max, not index past the array
    (QuantileExact.h caps at size - 1; ADVICE r3)."""
    from clickhouse_core_spark.plans import ch_sql
    spark.createDataFrame([(float(v),) for v in [15, 20, 35, 40, 50]],
                          "x double").createOrReplaceTempView("qx1")
    row = ch_sql(spark, """
        SELECT quantileExactLow(1.0)(x) AS lo,
               quantileExactHigh(1.0)(x) AS hi
        FROM qx1""").first()
    assert (row.lo, row.hi) == (50.0, 50.0)


def test_bitmap_sql_surface(spark):
    """bitmap* scalar algebra + groupBitmap through the CH-SQL frontend
    (FunctionsBitmap.cpp / AggregateFunctionGroupBitmap.cpp)."""
    from clickhouse_core_spark.plans import ch_sql
    row = ch_sql(spark, """
        SELECT bitmapCardinality(bitmapBuild([1, 2, 2, 3])) AS card,
               bitmapAndCardinality(bitmapBuild([1, 2, 3]),
                                    bitmapBuild([2, 3, 4])) AS andc,
               bitmapXor(bitmapBuild([1, 2]), bitmapBuild([2, 3])) AS xr,
               bitmapHasAll(bitmapBuild([1, 2, 3]), bitmapBuild([1, 3])) AS hall,
               bitmapSubsetInRange(bitmapBuild([1, 5, 9]), 2, 9) AS rng,
               subBitmap(bitmapBuild([10, 20, 30, 40]), 1, 2) AS sb
    """).first()
    assert (row.card, row.andc) == (3, 2)
    assert row.xr == [1, 3]
    assert row.hall is True
    assert row.rng == [5]
    assert row.sb == [20, 30]
    spark.createDataFrame([(1, 10), (1, 10), (1, 20), (2, 30)],
                          "g int, u int").createOrReplaceTempView("bm_t")
    rows = ch_sql(spark, """
        SELECT g, groupBitmap(u) AS c FROM bm_t GROUP BY g ORDER BY g
    """).collect()
    assert [(r.g, r.c) for r in rows] == [(1, 2), (2, 1)]


def test_sql_division_ansi_safe(spark):
    """intDiv/modulo/divide SQL forms must not throw under ANSI mode
    (same contract as the Column registry — VERDICT r3 item 3)."""
    from clickhouse_core_spark.plans import ch_sql
    old = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        row = ch_sql(spark, """
            SELECT intDiv(-7, 2) AS i, intDiv(7, 0) AS iz,
                   intDivOrZero(7, 0) AS ioz, modulo(7, 0) AS mz,
                   moduloOrZero(7, 0) AS moz, divide(7, 0) AS dz
        """).first()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", old)
    import math
    # divide(7, 0) = +inf: CH float-division semantics
    # (FunctionBinaryArithmetic.h DivideFloatingImpl)
    assert (row.i, row.iz, row.ioz, row.mz, row.moz) == (
        -3, None, 0, None, 0)
    assert row.dz == math.inf


def test_numbers_tvf_sql(spark):
    from clickhouse_core_spark.plans.frontend import ch_sql
    assert [r.n for r in ch_sql(
        spark, "SELECT number AS n FROM numbers(3) ORDER BY n").collect()] \
        == [0, 1, 2]
    assert ch_sql(spark,
                  "SELECT sum(number) AS s FROM numbers(10, 5)").first().s \
        == 60
    # generate_series is end-inclusive in CH
    assert [r.g for r in ch_sql(
        spark, "SELECT generate_series AS g FROM generate_series(2, 8, 3)"
    ).collect()] == [2, 5, 8]


def test_median_alias_family_sql(spark, catalog):
    from clickhouse_core_spark.plans.frontend import ch_sql
    row = ch_sql(spark, """
        SELECT medianExact(o_orderkey) AS me, medianExactLow(o_orderkey) AS ml,
               medianTDigest(o_orderkey) AS mt
        FROM orders""").first()
    assert row.ml <= row.me + 1e-9 and row.mt > 0


def test_limit_with_ties_sql(spark, catalog):
    from clickhouse_core_spark.plans.frontend import ch_sql
    out = ch_sql(spark, """
        SELECT o_orderstatus FROM orders
        ORDER BY o_orderstatus LIMIT 2 WITH TIES""").collect()
    # ties on the 2nd value keep every row of that status
    assert len(out) >= 2 and len({r.o_orderstatus for r in out}) == 1
    # no __rk leak
    assert out[0].asDict().keys() == {"o_orderstatus"}


def test_cast_ch_type_names_sql(spark):
    from clickhouse_core_spark.plans.frontend import ch_sql
    row = ch_sql(spark, "SELECT CAST('12' AS UInt32) AS u, "
                        "'2024-01-02'::Date AS d, '5'::Float64 AS f").first()
    assert row.u == 12 and str(row.d) == "2024-01-02" and row.f == 5.0


def test_group_array_parametric_sql(spark, catalog):
    from clickhouse_core_spark.plans.frontend import ch_sql
    row = ch_sql(spark, """
        SELECT groupArray(3)(o_orderkey) AS g
        FROM (SELECT o_orderkey FROM orders ORDER BY o_orderkey LIMIT 10)
    """).first()
    assert row.g == [0, 1, 2]


def test_suffix_combinators_sql(spark, catalog):
    from clickhouse_core_spark.plans.frontend import ch_sql
    row = ch_sql(spark, """
        SELECT anyIf(o_orderkey, o_orderstatus = 'F') AS a,
               uniqExactIf(o_custkey, o_totalprice > 100000) AS u,
               medianIf(o_totalprice, o_orderstatus = 'F') AS m
        FROM orders""").first()
    assert row.u >= 0 and row.m is not None
    # -Array aggregates across the group's arrays
    assert ch_sql(spark, "SELECT sumArray([1, 2, 3]) AS sa "
                         "FROM system.one").first().sa == 6.0


def test_range_scalar_and_system_one(spark):
    from clickhouse_core_spark.plans.frontend import ch_sql
    row = ch_sql(spark, "SELECT range(4) AS r, range(0) AS e, "
                        "range(2, 5) AS ab FROM system.one").first()
    assert row.r == [0, 1, 2, 3] and row.e == [] and row.ab == [2, 3, 4]
    # numbers() TVF still routes to range TVF untouched
    assert ch_sql(spark, "SELECT sum(number) AS s FROM numbers(4)"
                  ).first().s == 6


def test_columns_apply_sql(spark, catalog):
    from clickhouse_core_spark.plans.frontend import ch_sql
    df = ch_sql(spark,
                "SELECT COLUMNS('o_(orderkey|custkey)') APPLY(max) "
                "FROM orders")
    assert set(df.columns) == {"max(o_orderkey)", "max(o_custkey)"}
    assert df.first()["max(o_orderkey)"] > 0


def test_create_view_and_outfile(spark, catalog, tmp_path):
    from clickhouse_core_spark.plans.frontend import ch_sql
    ch_sql(spark, "CREATE VIEW v_round4 AS SELECT o_orderstatus, "
                  "count() AS c FROM orders GROUP BY o_orderstatus")
    assert ch_sql(spark, "SELECT sum(c) AS t FROM v_round4").first().t > 0
    ch_sql(spark, "CREATE MATERIALIZED VIEW mv_round4 AS "
                  "SELECT max(o_orderkey) AS m FROM orders")
    assert spark.table("mv_round4").first().m > 0
    out = str(tmp_path / "outfile_csv")
    df = ch_sql(spark, f"SELECT o_orderkey FROM orders "
                       f"ORDER BY o_orderkey LIMIT 5 "
                       f"INTO OUTFILE '{out}' FORMAT CSVWithNames")
    assert df.count() == 5
    back = spark.read.option("header", "true").csv(out)
    assert back.count() == 5


def test_system_tables_introspection(spark, catalog):
    from clickhouse_core_spark.plans.frontend import ch_sql
    catalog.register_system_tables()
    names = {r.name for r in ch_sql(
        spark, "SELECT name FROM system.tables").collect()}
    assert {"orders", "lineitem"} <= names
    cols = ch_sql(spark, "SELECT name, type FROM system.columns "
                         "WHERE table = 'orders' ORDER BY position").collect()
    assert cols[0].name == "o_orderkey"


def test_query_cache(spark, catalog):
    from clickhouse_core_spark.plans import frontend as fe
    fe.clear_query_cache()
    q = "SELECT count() AS c FROM orders SETTINGS use_query_cache = 1"
    df1 = fe.ch_sql(spark, q)
    df2 = fe.ch_sql(spark, q)
    assert df1 is df2           # same cached frame object
    assert df1.first().c > 0
    assert len(fe._QUERY_CACHE) == 1
    fe.clear_query_cache()
    assert not fe._QUERY_CACHE


def test_optimize_table_and_system_drop(spark, tmp_path):
    from clickhouse_core_spark.plans import frontend as fe
    from clickhouse_core_spark.sources.mergetree import MergeTreeTable
    t = MergeTreeTable(spark, str(tmp_path / "opt_t"), order_by=["k"])
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    t.insert(df.filter("k = 1"))
    t.insert(df.filter("k = 2"))
    n_parts = len(t.parts())
    fe.ch_sql(spark, "OPTIMIZE TABLE opt_t FINAL", tables={"opt_t": t})
    assert len(t.parts()) <= n_parts
    assert t.read().count() == 2
    fe.ch_sql(spark, "SELECT 1 AS x SETTINGS use_query_cache = 1")
    assert fe._QUERY_CACHE
    fe.ch_sql(spark, "SYSTEM DROP QUERY CACHE")
    assert not fe._QUERY_CACHE


def test_optimize_table_deduplicate_sql(spark, tmp_path):
    from clickhouse_core_spark.plans import frontend as fe
    from clickhouse_core_spark.sources.mergetree import MergeTreeTable
    t = MergeTreeTable(spark, str(tmp_path / "opt_d"), order_by=["k"])
    t.insert(spark.createDataFrame(
        [(1, "a"), (1, "a"), (2, "b"), (2, "z")], "k int, v string"))
    fe.ch_sql(spark, "OPTIMIZE TABLE opt_d FINAL DEDUPLICATE",
              tables={"opt_d": t})
    assert t.read_raw().count() == 3       # exact dup collapsed
    fe.ch_sql(spark, "OPTIMIZE TABLE opt_d DEDUPLICATE BY k",
              tables={"opt_d": t})
    assert sorted(r.k for r in t.read_raw().collect()) == [1, 2]


def test_array_rotate_shift_resize_sql(spark):
    from clickhouse_core_spark.plans.frontend import ch_sql
    r = ch_sql(spark, """
        SELECT arrayRotateLeft([1,2,3,4], 1) AS rl,
               arrayRotateRight([1,2,3,4], 1) AS rr,
               arrayShiftLeft([1,2,3], 1, 0) AS sl,
               arrayResize([1,2,3], 5, 0) AS rz,
               arrayPushBack([1,2], 3) AS pb,
               arrayPopFront([1,2,3]) AS pf FROM system.one""").first()
    assert r.rl == [2, 3, 4, 1] and r.rr == [4, 1, 2, 3]
    assert r.sl == [2, 3, 0] and r.rz == [1, 2, 3, 0, 0]
    assert r.pb == [1, 2, 3] and r.pf == [2, 3]


def test_string_bit_misc_sql(spark):
    from clickhouse_core_spark.plans.frontend import ch_sql
    r = ch_sql(spark, """
        SELECT countMatches('aaa', 'a') AS cm,
               positionCaseInsensitive('Hello', 'hello') AS pci,
               substringIndex('a.b.c', '.', 2) AS si,
               length(toFixedString('ab', 4)) AS fx,
               bitRotateLeft(1, 1) AS brl,
               intExp2(10) AS e2 FROM system.one""").first()
    assert (r.cm, r.pci, r.si, r.fx, r.brl, r.e2) == \
        (3, 1, "a.b", 4, 2, 1024)


def test_explain_estimate_mergetree(spark, tmp_path):
    from clickhouse_core_spark.plans import frontend as fe
    from clickhouse_core_spark.sources.mergetree import MergeTreeTable
    t = MergeTreeTable(spark, str(tmp_path / "est"), order_by=["k"])
    t.insert(spark.range(100).selectExpr("id as k"))
    t.insert(spark.range(100, 150).selectExpr("id as k"))
    r = fe.ch_sql(spark, "EXPLAIN ESTIMATE SELECT * FROM est",
                  tables={"est": t}).first()
    assert r.table == "est" and r.parts == 2 and r.rows == 150
    assert r.marks >= 2          # >= one row group per part
    # without a managed table it stays the plan dump
    spark.range(3).createOrReplaceTempView("est_v")
    out = fe.ch_sql(spark, "EXPLAIN ESTIMATE SELECT * FROM est_v")
    assert "plan" in out.columns or out.columns  # plan text frame


def test_delete_from_is_lightweight_alter_is_mutation(spark, tmp_path):
    from clickhouse_core_spark.plans import frontend as fe
    from clickhouse_core_spark.sources.mergetree import MergeTreeTable
    t = MergeTreeTable(spark, str(tmp_path / "dl"), order_by=["k"])
    t.insert(spark.range(20).selectExpr("id as k"))
    parts = t.parts()
    fe.ch_sql(spark, "DELETE FROM dl WHERE k < 5", tables={"dl": t})
    assert t.parts() == parts            # lightweight: no rewrite
    assert t.read_raw().count() == 15
    fe.ch_sql(spark, "ALTER TABLE dl DELETE WHERE k >= 15",
              tables={"dl": t})
    assert t.parts() != parts            # mutation: parts rewritten
    assert sorted(r.k for r in t.read_raw().collect()) == \
        list(range(5, 15))


def test_system_query_log(spark):
    from clickhouse_core_spark.plans import frontend as fe
    fe.ch_sql(spark, "TRUNCATE TABLE system.query_log")
    fe.ch_sql(spark, "SELECT toYear(o_orderdate) AS y FROM orders LIMIT 1")
    fe.ch_sql(spark, "SYSTEM FLUSH LOGS")
    log = fe.system_query_log(spark).collect()
    kinds = [r.kind for r in log]
    assert kinds == ["SELECT", "SYSTEM"]
    sel = log[0]
    assert "toYear" in sel.query and "year(o_orderdate)" in sel.translated
    fe.ch_sql(spark, "TRUNCATE query_log")
    assert fe.system_query_log(spark).count() == 0


def test_values_zeros_table_functions(spark):
    """values()/zeros() table functions (reference
    src/TableFunctions/TableFunctionValues.cpp, TableFunctionZeros.cpp):
    schema-string and bare forms, zeros/zeros_mt zero column."""
    from clickhouse_core_spark.plans.frontend import ch_sql
    rows = ch_sql(spark, """
        SELECT * FROM values('a Int32, b String', (1, 'x'), (2, 'y'))
        ORDER BY a""").collect()
    assert [tuple(r) for r in rows] == [(1, "x"), (2, "y")]
    bare = ch_sql(spark, "SELECT c1, c2 FROM values((7, 'q'), (8, 'r')) "
                  "ORDER BY c1").collect()
    assert [tuple(r) for r in bare] == [(7, "q"), (8, "r")]
    z = ch_sql(spark,
               "SELECT count(*) AS n, sum(zero) AS s FROM zeros(9)") \
        .collect()[0]
    assert (z["n"], z["s"]) == (9, 0)
    # INSERT ... VALUES must not be rewritten as the table function
    from clickhouse_core_spark.plans.frontend import translate_ch_sql
    assert "VALUES" in translate_ch_sql("INSERT INTO t VALUES (1, 2)")
    assert "__v" not in translate_ch_sql("INSERT INTO t VALUES (1, 2)")


def test_ternary_extract_cast_using(spark):
    """CH expression-surface stragglers: ternary ?: (src/Parsers/
    ExpressionListParsers.cpp), ANSI EXTRACT(unit FROM x) alongside CH
    extract(s, re), two-arg cast(x, 'Type') incl. Nullable unwrap,
    bare USING a, b."""
    import pandas as pd
    from clickhouse_core_spark.plans.frontend import ch_sql, \
        translate_ch_sql
    df = spark.createDataFrame(
        pd.DataFrame({"a": [0, 1, 2], "b": [10, 20, 30]}))
    df.createOrReplaceTempView("surface_t")
    rows = ch_sql(spark, """
        SELECT a,
               a > 0 ? b + 1 : -1 AS r,
               a = 1 ? (a = 1 ? 'inner' : 'x') : 'outer' AS nested,
               EXTRACT(YEAR FROM DATE'2024-03-01') AS y,
               extract(concat('v', toString(b)), '[0-9]+') AS ex,
               cast(b, 'Nullable(String)') AS cs
        FROM surface_t ORDER BY a""").collect()
    assert [r["r"] for r in rows] == [-1, 21, 31]
    assert [r["nested"] for r in rows] == ["outer", "inner", "outer"]
    assert rows[0]["y"] == 2024 and rows[1]["ex"] == "20"
    assert rows[2]["cs"] == "30"
    df.createOrReplaceTempView("su1")
    df.createOrReplaceTempView("su2")
    n = ch_sql(spark,
               "SELECT count(*) AS n FROM su1 JOIN su2 USING a, b") \
        .collect()[0]["n"]
    assert n == 3
    # '?' inside string literals is untouched
    assert "?" in translate_ch_sql("SELECT 'what?' AS q")


def test_utility_statements(spark):
    """Utility-statement surface (reference InterpreterShowTablesQuery,
    InterpreterDescribeQuery, InterpreterExistsQuery,
    InterpreterDropQuery, InterpreterRenameQuery, InterpreterCheckQuery,
    InterpreterSetQuery, InterpreterShowCreateQuery)."""
    import pandas as pd
    from clickhouse_core_spark.plans.frontend import ch_sql, \
        SESSION_SETTINGS
    df = spark.createDataFrame(pd.DataFrame({"a": [1, 2], "b": ["x", "y"]}))
    df.createOrReplaceTempView("util_t")
    assert [r["name"] for r in
            ch_sql(spark, "SHOW TABLES LIKE 'util_t'").collect()] \
        == ["util_t"]
    d = {(r["name"], r["type"])
         for r in ch_sql(spark, "DESCRIBE TABLE util_t").collect()}
    assert d == {("a", "Int64"), ("b", "String")}
    assert ch_sql(spark, "EXISTS util_t").collect()[0]["result"] == 1
    assert ch_sql(spark, "EXISTS TABLE util_nope") \
        .collect()[0]["result"] == 0
    assert ch_sql(spark, "CHECK TABLE util_t").collect()[0]["result"] == 1
    ch_sql(spark, "RENAME TABLE util_t TO util_ren")
    assert ch_sql(spark, "EXISTS util_ren").collect()[0]["result"] == 1
    stmt = ch_sql(spark, "SHOW CREATE TABLE util_ren") \
        .collect()[0]["statement"]
    assert stmt.startswith("CREATE TABLE default.util_ren")
    assert "`a` Int64" in stmt
    spark.createDataFrame(pd.DataFrame({"z": [9]})) \
        .createOrReplaceTempView("util_x")
    ch_sql(spark, "EXCHANGE TABLES util_ren AND util_x")
    assert spark.table("util_ren").columns == ["z"]
    ch_sql(spark, "TRUNCATE TABLE util_x")
    assert spark.table("util_x").count() == 0
    ch_sql(spark, "DROP TABLE util_x")
    assert ch_sql(spark, "EXISTS util_x").collect()[0]["result"] == 0
    ch_sql(spark, "DROP TABLE IF EXISTS util_never")   # no raise
    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        ch_sql(spark, "SET max_threads = 12")
        assert SESSION_SETTINGS["max_threads"] == "12"
        assert spark.conf.get("spark.sql.shuffle.partitions") == "12"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
    ch_sql(spark, "USE somedb")                        # records, no-op
    # reset: _CURRENT_DATABASE is module-global and SHOW CREATE renders
    # it — leaking 'somedb' breaks later db-qualified assertions
    ch_sql(spark, "USE default")
    assert ch_sql(spark, "SHOW PROCESSLIST").columns \
        == ["user", "query", "elapsed"]
    assert ch_sql(spark, "KILL QUERY WHERE query_id = 'q'").count() == 0
    ch_sql(spark, "DROP TABLE util_ren")


def test_format_inline_tvf(spark):
    """format(Fmt, 'inline') table function (reference
    src/TableFunctions/TableFunctionFormat.cpp): literal data through
    the format-reader matrix with schema inference."""
    from clickhouse_core_spark.plans.frontend import ch_sql
    r = ch_sql(spark, "SELECT a, b FROM format(JSONEachRow, "
               "'{\"a\": 1, \"b\": \"x\"}\\n{\"a\": 2, \"b\": \"y\"}') "
               "ORDER BY a").collect()
    assert [(x["a"], x["b"]) for x in r] == [(1, "x"), (2, "y")]
    c = ch_sql(spark, "SELECT c, d, c * 2 AS c2 FROM format("
               "CSVWithNames, 'c,d\\n1,foo\\n2,bar') ORDER BY c") \
        .collect()
    assert [(x["c"], x["d"], x["c2"]) for x in c] == \
        [(1, "foo", 2), (2, "bar", 4)]


def test_small_form_rewrites(spark):
    """LIMIT offset,count / DISTINCT ON / COLLATE / 0x-0b literals /
    ?? operator / double-quoted identifiers (reference
    ParserSelectQuery, ExpressionListParsers, ParserLiteral)."""
    import pandas as pd
    from clickhouse_core_spark.plans.frontend import ch_sql
    df = spark.createDataFrame(
        pd.DataFrame({"a": [1, 1, 2, 2, 3], "b": [5, 4, 3, 2, 1],
                      "n": [None, 7, None, 8, None]}).astype(
                          {"n": "object"}))
    df.createOrReplaceTempView("small_t")
    lim = ch_sql(spark, "SELECT b FROM small_t ORDER BY b LIMIT 1, 2") \
        .collect()
    assert [r["b"] for r in lim] == [2, 3]
    don = ch_sql(spark, """
        SELECT DISTINCT ON (a) a, b FROM small_t ORDER BY a, b""") \
        .collect()
    assert [(r["a"], r["b"]) for r in don] == [(1, 4), (2, 2), (3, 1)]
    lit = ch_sql(spark, "SELECT 0x1F AS h, 0b101 AS bn, "
                 "'0x10 kept' AS s").collect()[0]
    assert (lit["h"], lit["bn"], lit["s"]) == (31, 5, "0x10 kept")
    co = ch_sql(spark, "SELECT a FROM small_t ORDER BY a COLLATE 'en' "
                "LIMIT 1").collect()[0]["a"]
    assert co == 1
    nc = ch_sql(spark, "SELECT a, n ?? -1 AS nv FROM small_t ORDER BY a, nv") \
        .collect()
    assert [r["nv"] for r in nc] == [-1, 7, -1, 8, -1]
    dq = ch_sql(spark, 'SELECT a AS "my col" FROM small_t ORDER BY a '
                "LIMIT 1")
    assert dq.columns == ["my col"]


def test_ternary_with_array_literal(spark):
    """A ternary branch that is an array literal: the else-branch
    boundary scan skips brackets like parens."""
    from clickhouse_core_spark.plans.frontend import ch_sql
    rows = ch_sql(spark, "SELECT number, number % 2 = 0 ? [number, 1] : "
                         "[2, 3] AS x FROM numbers(3) ORDER BY number")
    assert [r["x"] for r in rows.collect()] == [[0, 1], [2, 3], [2, 1]]


@pytest.fixture(scope="module")
def pin_tables(spark):
    from clickhouse_core_spark.plans.frontend import ch_sql
    tables = {}
    ch_sql(spark, "CREATE TABLE pass_pin (k UInt32, c Nested(d UInt32)) "
                  "ENGINE = MergeTree ORDER BY k", tables=tables)
    ch_sql(spark, "INSERT INTO pass_pin VALUES (1, [10, 20, 30])",
           tables=tables)
    yield tables
    ch_sql(spark, "DROP TABLE pass_pin", tables=tables)


def _pass_pin_part(rows, tables):
    import os
    part = os.path.basename(tables["pass_pin"].parts()[0])
    return [tuple(r) for r in rows] == [(part, 1)]


# Rewrite passes that only a crafted statement reaches: each statement
# must go through its pass (the pass changes its input) and return the
# reference's answer.
_PASS_PINS = [
    ("_fold_totypename_static",
     "SELECT toTypeName(CAST('abc' AS FixedString(3)))",
     [("FixedString(3)",)]),
    ("_rewrite_object_literal_casts",
     """SELECT '{"a":{"b":1,"c":2}}'::Object('json')""",
     [('{"a.b":1,"a.c":2}',)]),
    ("_rewrite_decimal_div", "SELECT toDecimal32(2, 2) / 3",
     [(Decimal("0.66"),)]),
    ("_fix_like_patterns", r"SELECT 'a\\.b' LIKE 'a\\.b'", [(True,)]),
    ("_rewrite_star_in_args", "SELECT tuple(*, 1) FROM numbers(2)",
     [((0, 1),), ((1, 1),)]),
    ("_fold_const_int", "SELECT count() FROM numbers(toUInt8(300))",
     [(44,)]),
    ("_rewrite_virtual_columns", "SELECT _part, k FROM pass_pin",
     _pass_pin_part),
    ("_retry_bool_agg_arg", "SELECT sum(number = 1) FROM numbers(3)",
     [(1,)]),
    ("_retry_not_numeric",
     "SELECT count() FROM numbers(3) WHERE NOT ignore(number)", [(3,)]),
    ("_retry_missing_aggregation",
     "SELECT sum((2*number) AS func), func FROM numbers(4) "
     "GROUP BY number", [(0, 0), (2, 2), (4, 4), (6, 6)]),
    ("_retry_octet_length_array", "SELECT length(c.d) FROM pass_pin",
     [(3,)]),
]


@pytest.mark.parametrize("pass_name,stmt,expected", _PASS_PINS,
                         ids=[p[0] for p in _PASS_PINS])
def test_rewrite_pass_pins(spark, pin_tables, monkeypatch, pass_name,
                           stmt, expected):
    from clickhouse_core_spark.plans import frontend
    from clickhouse_core_spark.plans.frontend import ch_sql
    orig, fired = getattr(frontend, pass_name), []

    def spy(*args):
        out = orig(*args)
        src = next(a for a in args if isinstance(a, str))
        if out is not None and str(out).strip() != src.strip():
            fired.append(out)
        return out

    monkeypatch.setattr(frontend, pass_name, spy)
    rows = ch_sql(spark, stmt, tables=pin_tables).collect()
    assert fired
    if callable(expected):
        assert expected(rows, pin_tables)
    else:
        assert sorted(tuple(r) for r in rows) == expected
