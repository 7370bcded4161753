"""Seeded ClickHouse-dialect statements, each with a DuckDB twin.

Every template draws its literals from the run's random generator, so
statement texts do not repeat within or across passes.  ``ch`` goes
through the engine's ``ch_sql`` frontend; ``duck`` is the same question
in DuckDB SQL over the same Parquet files, used as the oracle.
"""

from __future__ import annotations

import datetime as _dt
import random
from typing import Callable, NamedTuple


class Statement(NamedTuple):
    template: str
    ch: str
    duck: str


def _day(rng: random.Random, lo: str = "1995-06-01", span_days: int = 2000) -> str:
    d = _dt.date.fromisoformat(lo) + _dt.timedelta(days=rng.randrange(span_days))
    return d.isoformat()


def count_uniq(rng):
    q = rng.randint(5, 45)
    p = rng.randint(1000, 99000)
    return (f"SELECT l_returnflag, count() AS n, uniqExact(l_partkey) AS parts "
            f"FROM lineitem WHERE l_quantity > {q} AND l_extendedprice > {p} "
            f"GROUP BY l_returnflag ORDER BY l_returnflag",
            f"SELECT l_returnflag, count(*) AS n, count(DISTINCT l_partkey) AS parts "
            f"FROM lineitem WHERE l_quantity > {q} AND l_extendedprice > {p} "
            f"GROUP BY l_returnflag ORDER BY l_returnflag")


def countif_hour(rng):
    et = rng.choice(["click", "error", "purchase", "signup", "view"])
    day = rng.randint(1, 28)
    return (f"SELECT toStartOfHour(ts) AS h, countIf(event_type = '{et}') AS hits, "
            f"count() AS n FROM events "
            f"WHERE ts >= toDateTime('2024-01-{day:02d} 00:00:00') "
            f"AND ts < toDateTime('2024-01-{day + 2:02d} 00:00:00') "
            f"GROUP BY h ORDER BY h",
            f"SELECT date_trunc('hour', ts) AS h, "
            f"count(*) FILTER (WHERE event_type = '{et}') AS hits, count(*) AS n "
            f"FROM events WHERE ts >= TIMESTAMP '2024-01-{day:02d} 00:00:00' "
            f"AND ts < TIMESTAMP '2024-01-{day + 2:02d} 00:00:00' "
            f"GROUP BY h ORDER BY h")


def quantile_exact(rng):
    level = rng.choice([0.1, 0.25, 0.5, 0.75, 0.9, 0.95])
    m = rng.randint(2, 9)
    r = rng.randrange(m)
    return (f"SELECT o_orderpriority, quantileExact({level})(o_totalprice) AS q "
            f"FROM orders WHERE o_custkey % {m} = {r} "
            f"GROUP BY o_orderpriority ORDER BY o_orderpriority",
            # the reference's quantileExact is the sorted element at
            # index floor(level * n), counted from 0
            f"SELECT o_orderpriority, "
            f"list_sort(list(o_totalprice))[CAST(floor({level} * count(*)) AS BIGINT) + 1] AS q "
            f"FROM orders WHERE o_custkey % {m} = {r} "
            f"GROUP BY o_orderpriority ORDER BY o_orderpriority")


def limit_by(rng):
    et = rng.choice(["click", "error", "purchase", "signup", "view"])
    n = rng.randint(1, 4)
    v = rng.randint(0, 150)
    return (f"SELECT user_id, event_id, value FROM events "
            f"WHERE event_type = '{et}' AND value >= {v} "
            f"ORDER BY user_id, value DESC, event_id LIMIT {n} BY user_id",
            f"SELECT user_id, event_id, value FROM ("
            f"SELECT user_id, event_id, value, row_number() OVER ("
            f"PARTITION BY user_id ORDER BY value DESC, event_id) AS rn "
            f"FROM events WHERE event_type = '{et}' AND value >= {v}) WHERE rn <= {n} "
            f"ORDER BY user_id, value DESC, event_id")


def arg_max(rng):
    day = _day(rng)
    n = rng.randint(5, 40)
    return (f"SELECT o_custkey, argMax(o_orderkey, o_totalprice) AS top_order, "
            f"max(o_totalprice) AS top FROM orders "
            f"WHERE o_orderdate >= toDateTime('{day} 00:00:00') "
            f"GROUP BY o_custkey ORDER BY top DESC, o_custkey LIMIT {n}",
            f"SELECT o_custkey, arg_max(o_orderkey, o_totalprice) AS top_order, "
            f"max(o_totalprice) AS top FROM orders "
            f"WHERE o_orderdate >= TIMESTAMP '{day} 00:00:00' "
            f"GROUP BY o_custkey ORDER BY top DESC, o_custkey LIMIT {n}")


def any_left_join(rng):
    nation = rng.randrange(25)
    bal = rng.randint(-1000, 9000)
    return (f"SELECT c.c_custkey, c.c_acctbal, coalesce(o.n_orders, 0) AS n_orders "
            f"FROM customer AS c ANY LEFT JOIN (SELECT o_custkey, count() AS n_orders "
            f"FROM orders GROUP BY o_custkey) AS o ON c.c_custkey = o.o_custkey "
            f"WHERE c.c_nationkey = {nation} AND c.c_acctbal >= {bal} "
            f"ORDER BY c.c_custkey",
            f"SELECT c.c_custkey, c.c_acctbal, coalesce(o.n_orders, 0) AS n_orders "
            f"FROM customer AS c LEFT JOIN (SELECT o_custkey, count(*) AS n_orders "
            f"FROM orders GROUP BY o_custkey) AS o ON c.c_custkey = o.o_custkey "
            f"WHERE c.c_nationkey = {nation} AND c.c_acctbal >= {bal} "
            f"ORDER BY c.c_custkey")


def group_array(rng):
    n = rng.randint(3, 60)
    v = round(rng.uniform(1.0, 150.0), 2)
    return (f"SELECT user_id, length(groupArray({n})(event_id)) AS k, count() AS c "
            f"FROM events WHERE value > {v} GROUP BY user_id ORDER BY user_id",
            f"SELECT user_id, least({n}, count(*)) AS k, count(*) AS c "
            f"FROM events WHERE value > {v} GROUP BY user_id ORDER BY user_id")


def top_k(rng):
    d = rng.randint(0, 10) / 100.0
    q = rng.randint(1, 50)
    return (f"SELECT l_linestatus, arraySort(topK(5)(l_returnflag)) AS flags "
            f"FROM lineitem WHERE l_discount <= {d} AND l_quantity >= {q} "
            f"GROUP BY l_linestatus ORDER BY l_linestatus",
            f"SELECT l_linestatus, list_sort(list(DISTINCT l_returnflag)) AS flags "
            f"FROM lineitem WHERE l_discount <= {d} AND l_quantity >= {q} "
            f"GROUP BY l_linestatus ORDER BY l_linestatus")


def json_extract(rng):
    # events.props holds only {"k": <int>}; the statement splices the
    # event type into it as a string field and extracts it back
    k = rng.randint(0, 90)
    m = rng.randint(2, 9)
    doc = "concat('{\"t\": \"', event_type, '\", ', substring(props, 2))"
    return (f"SELECT JSONExtractString({doc}, 't') AS t, count() AS c "
            f"FROM events WHERE user_id % {m} = 0 "
            f"AND JSONExtractInt(props, 'k') >= {k} GROUP BY t ORDER BY t",
            f"SELECT json_extract_string({doc}, '$.t') AS t, count(*) AS c "
            f"FROM events WHERE user_id % {m} = 0 "
            f"AND CAST(json_extract(props, '$.k') AS BIGINT) >= {k} "
            f"GROUP BY t ORDER BY t")


def with_totals(rng):
    day = _day(rng)
    return (f"SELECT l_returnflag, sum(l_quantity) AS q, count() AS n FROM lineitem "
            f"WHERE l_shipdate < toDateTime('{day} 00:00:00') "
            f"GROUP BY l_returnflag WITH TOTALS ORDER BY l_returnflag",
            # the frontend flattens the totals block into one extra row
            # with a NULL key, which is GROUPING SETS ((k), ())
            f"SELECT l_returnflag, sum(l_quantity) AS q, count(*) AS n FROM lineitem "
            f"WHERE l_shipdate < TIMESTAMP '{day} 00:00:00' "
            f"GROUP BY GROUPING SETS ((l_returnflag), ()) ORDER BY l_returnflag")


def status_mix(rng):
    p = rng.randint(10, 490) * 1000
    return (f"SELECT o_orderstatus, uniqExact(o_custkey) AS custs, "
            f"countIf(o_totalprice > {p}) AS big FROM orders "
            f"GROUP BY o_orderstatus ORDER BY o_orderstatus",
            f"SELECT o_orderstatus, count(DISTINCT o_custkey) AS custs, "
            f"count(*) FILTER (WHERE o_totalprice > {p}) AS big FROM orders "
            f"GROUP BY o_orderstatus ORDER BY o_orderstatus")


def nation_join(rng):
    b = round(rng.uniform(-500.0, 9000.0), 2)
    k = rng.randint(3, 25)
    return (f"SELECT n.n_name AS nation, count() AS c FROM customer AS c "
            f"INNER JOIN nation AS n ON c.c_nationkey = n.n_nationkey "
            f"WHERE c.c_acctbal > {b} GROUP BY n.n_name ORDER BY c DESC, nation LIMIT {k}",
            f"SELECT n.n_name AS nation, count(*) AS c FROM customer AS c "
            f"INNER JOIN nation AS n ON c.c_nationkey = n.n_nationkey "
            f"WHERE c.c_acctbal > {b} GROUP BY n.n_name ORDER BY c DESC, nation LIMIT {k}")


TEMPLATES: dict[str, Callable[[random.Random], tuple[str, str]]] = {
    f.__name__: f for f in (count_uniq, countif_hour, quantile_exact, limit_by,
                            arg_max, any_left_join, group_array, top_k,
                            json_extract, with_totals, status_mix, nation_join)
}


def draw(rng: random.Random, names, seen: set) -> list[Statement]:
    """One statement per template, in template order.  A text already
    in ``seen`` is drawn again, so no statement repeats within a run."""
    out = []
    for n in names:
        for _ in range(1000):
            st = Statement(n, *TEMPLATES[n](rng))
            if st.ch not in seen:
                break
        else:
            raise RuntimeError(f"template {n} ran out of distinct literals")
        seen.add(st.ch)
        out.append(st)
    return out
