"""Operator tests: join variants (SURVEY §2.3)."""

import datetime as dt
import functools
import operator

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import DataFrame, functions as F

from clickhouse_core_spark.operators import (
    asof_join, asof_join_same_source, any_join, array_join, paste_join)


def _ts(s):
    return dt.datetime.fromisoformat(s)


def test_asof_backward_inclusive(spark):
    left = spark.createDataFrame(
        [(1, _ts("2024-01-01 10:00:00"), "a"),
         (1, _ts("2024-01-01 12:00:00"), "b"),
         (2, _ts("2024-01-01 10:00:00"), "c")],
        "k int, ts timestamp, lv string")
    right = spark.createDataFrame(
        [(1, _ts("2024-01-01 09:00:00"), 100),
         (1, _ts("2024-01-01 11:00:00"), 200),
         (2, _ts("2024-01-01 11:00:00"), 300)],
        "k int, rts timestamp, rv int")
    out = asof_join(left, right, on=["k"], left_ts="ts", right_ts="rts",
                    inequality=">=", how="inner")
    got = {(r.lv, r.rv) for r in out.collect()}
    assert got == {("a", 100), ("b", 200)}  # c has no right row <= 10:00


def test_asof_backward_equal_ts_inclusive_vs_strict(spark):
    left = spark.createDataFrame([(1, _ts("2024-01-01 10:00:00"), "x")],
                                 "k int, ts timestamp, lv string")
    right = spark.createDataFrame([(1, _ts("2024-01-01 10:00:00"), 7)],
                                  "k int, rts timestamp, rv int")
    inclusive = asof_join(left, right, ["k"], "ts", "rts", ">=").collect()
    strict = asof_join(left, right, ["k"], "ts", "rts", ">").collect()
    assert len(inclusive) == 1 and inclusive[0].rv == 7
    assert len(strict) == 0


def test_asof_forward(spark):
    left = spark.createDataFrame([(1, _ts("2024-01-01 10:00:00"), "x")],
                                 "k int, ts timestamp, lv string")
    right = spark.createDataFrame(
        [(1, _ts("2024-01-01 09:00:00"), 1),
         (1, _ts("2024-01-01 11:00:00"), 2),
         (1, _ts("2024-01-01 12:00:00"), 3)],
        "k int, rts timestamp, rv int")
    out = asof_join(left, right, ["k"], "ts", "rts", "<=").collect()
    assert len(out) == 1 and out[0].rv == 2  # nearest at-or-after


def test_asof_left_keeps_unmatched(spark):
    left = spark.createDataFrame([(9, _ts("2024-01-01 10:00:00"), "x")],
                                 "k int, ts timestamp, lv string")
    right = spark.createDataFrame([(1, _ts("2024-01-01 09:00:00"), 1)],
                                  "k int, rts timestamp, rv int")
    out = asof_join(left, right, ["k"], "ts", "rts", ">=", how="left").collect()
    assert len(out) == 1 and out[0].rv is None


_SRC_SCHEMA = "side string, k int, ts long, lv int, a int, b string"
_OPS = {">=": operator.ge, ">": operator.gt, "<=": operator.le, "<": operator.lt}


def _asof_runs(spark, rows, combos):
    """Run both ASOF builders over one side-tagged frame ('L' rows are
    the left side, 'R' rows the right) for each (inequality, how) in
    ``combos``, in one Spark job; return {(inequality, how, builder):
    sorted rows as (k, lts, lv, rts, a, b)}."""
    df = spark.createDataFrame(rows, _SRC_SCHEMA)
    is_l, is_r = F.col("side") == "L", F.col("side") == "R"
    outs = []
    for inequality, how in combos:
        same = asof_join_same_source(
            df, ["k"], is_l, is_r, "ts", {"lts": "ts", "lv": "lv"},
            {"rts": "ts", "a": "a", "b": "b"}, inequality, how)
        two = asof_join(
            df.filter(is_l).select("k", F.col("ts").alias("lts"), "lv"),
            df.filter(is_r).select("k", F.col("ts").alias("rts"), "a", "b"),
            ["k"], "lts", "rts", inequality, ["rts", "a", "b"], how)
        for builder, out in (("same", same), ("two", two)):
            outs.append(out.select(F.lit(f"{inequality} {how} {builder}")
                                   .alias("run"), "*"))
    got = {(*c, b): [] for c in combos for b in ("same", "two")}
    for r in functools.reduce(DataFrame.unionByName, outs).collect():
        got[tuple(r.run.split())].append(tuple(r)[1:])
    return {key: sorted(v, key=repr) for key, v in got.items()}


def _asof_both(spark, rows, inequality, how):
    runs = _asof_runs(spark, rows, [(inequality, how)])
    return [runs[inequality, how, b] for b in ("same", "two")]


def _asof_oracle(rows, inequality, how):
    """Nearest-row ASOF by brute force: NULL keys and timestamps never
    match; right ts are unique per key, so the nearest row is unique."""
    op = _OPS[inequality]
    nearest = max if inequality in (">=", ">") else min
    out = []
    for _, k, lts, lv, _, _ in (r for r in rows if r[0] == "L"):
        cands = [r for r in rows if r[0] == "R" and k is not None
                 and r[1] == k and lts is not None and r[2] is not None
                 and op(lts, r[2])]
        if cands:
            _, _, rts, _, a, b = nearest(cands, key=lambda r: r[2])
            out.append((k, lts, lv, rts, a, b))
        elif how == "left":
            out.append((k, lts, lv, None, None, None))
    return sorted(out, key=repr)


def _flatten_cases(cases):
    """Independent cases share one frame (one Spark job): case i owns
    keys 10*i+1 and 10*i+2; NULL keys stay NULL."""
    rows = []
    for i, (lefts, rights) in enumerate(cases):
        def key(k):
            return None if k is None else 10 * i + k
        rows += [("L", key(k), t, len(rows) + j, None, None)
                 for j, (k, t) in enumerate(lefts)]
        rows += [("R", key(k), t, None, a, b) for k, t, a, b in rights]
    return rows


_st_key = st.sampled_from([1, 2, None])
_st_ts = st.one_of(st.none(), st.integers(0, 6))
_st_case = st.tuples(
    st.lists(st.tuples(_st_key, _st_ts), max_size=6),
    # right ts unique per key, so the nearest right row is unique
    st.lists(st.tuples(_st_key, _st_ts, st.one_of(st.none(), st.integers(0, 9)),
                       st.sampled_from([None, "x", "y"])),
             max_size=6, unique_by=lambda r: (r[0], r[1])))
_COMBOS = [(i, h) for i in _OPS for h in ("inner", "left")]


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(cases=st.lists(_st_case, min_size=1, max_size=8))
def test_asof_matches_brute_force(spark, cases):
    rows = _flatten_cases(cases)
    runs = _asof_runs(spark, rows, _COMBOS)
    for inequality, how in _COMBOS:
        want = _asof_oracle(rows, inequality, how)
        assert runs[inequality, how, "same"] == want, (inequality, how)
        assert runs[inequality, how, "two"] == want, (inequality, how)


def test_asof_never_stitches_right_rows(spark):
    rows = [("R", 1, 5, None, 100, None), ("R", 1, 15, None, None, "x"),
            ("L", 1, 20, 0, None, None)]
    for got in _asof_both(spark, rows, ">=", "inner"):
        assert got == [(1, 20, 0, 15, None, "x")]


def test_asof_inner_keeps_all_null_payload(spark):
    rows = [("R", 1, 5, None, None, None), ("L", 1, 20, 0, None, None),
            ("L", 1, 3, 1, None, None)]
    df = spark.createDataFrame(rows, _SRC_SCHEMA)
    out = asof_join_same_source(df, ["k"], F.col("side") == "L",
                                F.col("side") == "R", "ts", {"lv": "lv"},
                                {"a": "a", "b": "b"})
    assert [tuple(r) for r in out.collect()] == [(1, 0, None, None)]
    left = df.filter("side = 'L'").select("k", "ts", "lv")
    right = df.filter("side = 'R'").select("k", F.col("ts").alias("rts"), "a", "b")
    out = asof_join(left, right, ["k"], "ts", "rts")
    assert [tuple(r) for r in out.collect()] == [(1, 20, 0, None, None)]


def test_asof_null_right_ts_never_matches(spark):
    rows = [("R", 1, None, None, 7, "n"), ("L", 1, 20, 0, None, None)]
    for inequality in (">=", "<="):
        for got in _asof_both(spark, rows, inequality, "left"):
            assert got == [(1, 20, 0, None, None, None)]


def test_asof_same_source_null_filter_is_false(spark):
    ev = spark.createDataFrame(
        [(1, 10, "click", None), (1, 20, "purchase", 150.0)],
        "user_id int, ts long, kind string, value double")
    out = asof_join_same_source(
        ev, ["user_id"], F.col("value") > 100, F.col("kind") == "click",
        "ts", {"pts": "ts"}, {"cts": "ts"})
    assert [tuple(r) for r in out.collect()] == [(1, 20, 10)]


def test_asof_same_source_overlap_is_left_only(spark):
    # v=20 and v=30 match both filters: they are left rows only, so the
    # ts=3 row does not see ts=2 as a right row (the two-scan form would).
    ev = spark.createDataFrame([(1, 1, 10, None), (1, 2, 20, "both"),
                                (1, 3, 30, "l3")],
                               "k int, ts long, v int, tag string")
    out = asof_join_same_source(
        ev, ["k"], F.col("v") >= 20, F.col("v") >= 10, "ts",
        {"lts": "ts"}, {"rtag": "tag"})
    assert sorted(tuple(r) for r in out.collect()) == [(1, 2, None), (1, 3, None)]


def test_asof_rejects_right_value_clash(spark):
    left = spark.createDataFrame([(1, 1, "l")], "k int, ts long, tag string")
    right = spark.createDataFrame([(1, 0, "r")], "k int, ts long, tag string")
    with pytest.raises(ValueError, match="tag"):
        asof_join(left, right, ["k"], "ts")


def test_any_join_dedupes_right(spark):
    left = spark.createDataFrame([(1, "l")], "k int, lv string")
    right = spark.createDataFrame([(1, 30), (1, 10), (1, 20)], "k int, rv int")
    out = any_join(left, right, on=["k"], tie_break=[F.col("rv")]).collect()
    assert len(out) == 1 and out[0].rv == 10


def test_any_join_min_by_matches_row_number_on_null_ties(spark):
    """String tie-breaks take the min_by path, Column tie-breaks the
    row_number path; both order NULLs first and agree on duplicates."""
    left = spark.createDataFrame([(1, "l1"), (2, "l2"), (3, "l3")],
                                 "k int, lv string")
    right = spark.createDataFrame(
        [(1, None, "n"), (1, None, "n"), (1, None, "z"), (1, 5, "a"),
         (2, None, None), (2, None, "b"), (2, 3, None), (2, None, None)],
        "k int, t int, v string")

    def rows(tie_break):
        out = any_join(left, right, ["k"], how="left", tie_break=tie_break)
        return sorted((r.k, r.t, r.v) for r in out.collect())

    by_min = rows(["t", "v"])
    assert by_min == rows([F.col("t"), F.col("v")])
    assert by_min == [(1, None, "n"), (2, None, None), (3, None, None)]


def test_array_join_inner_and_left(spark):
    df = spark.createDataFrame([(1, [10, 20]), (2, [])], "id int, xs array<int>")
    inner = array_join(df, ["xs"]).collect()
    assert {(r.id, r.xs) for r in inner} == {(1, 10), (1, 20)}
    left = array_join(df, ["xs"], left=True).collect()
    assert {(r.id, r.xs) for r in left} == {(1, 10), (1, 20), (2, None)}


def test_array_join_parallel_arrays(spark):
    df = spark.createDataFrame([(1, [1, 2], ["a", "b"])],
                               "id int, xs array<int>, ys array<string>")
    out = array_join(df, ["xs", "ys"], with_position=True).collect()
    assert {(r.pos, r.xs, r.ys) for r in out} == {(0, 1, "a"), (1, 2, "b")}


def test_paste_join(spark):
    l = spark.createDataFrame([("a",), ("b",)], "x string")
    r = spark.createDataFrame([(2,), (1,)], "y int")
    out = paste_join(l, r, left_order=["x"], right_order=["y"]).collect()
    assert {(row.x, row.y) for row in out} == {("a", 1), ("b", 2)}
