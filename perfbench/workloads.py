"""Workload definitions and the seeded plan of each pass.

A pass is a list of units in a seeded order.  A unit is one driver
entry (``queries()[name]``), one ClickHouse-dialect statement, or one
MergeTree ingest cycle, whose statements keep their fixed order.  This
module needs neither Spark nor the engine, so the plan can be checked
on its own.
"""

from __future__ import annotations

import math
import random
from dataclasses import dataclass
from typing import NamedTuple

import datagen
import templates

TABLE = "perfbench_mt"


@dataclass(frozen=True)
class Workload:
    sf: float
    tables: tuple[str, ...]        # tables generated and registered
    entries: tuple[str, ...]       # bench.HEADLINE entries, once per pass
    templates: tuple[str, ...]     # CH-SQL templates ...
    template_draws: int            # ... each drawn this often per pass
    ingest_batches: int            # INSERT batches per ingest cycle


WORKLOADS: dict[str, Workload] = {
    "interactive_sf0.01": Workload(
        sf=0.01,
        tables=datagen.TABLES,
        # one entry per builder module family: TPC-H aggregation, ASOF
        # join, windows, sequence functions, and the dedup, text and
        # similarity pipelines
        entries=("q1_pricing_summary", "join_asof_backward",
                 "win_rank_family", "funnel_window", "dedup_paragraph",
                 "text_token_count", "ann_cosine_topk"),
        templates=tuple(templates.TEMPLATES),
        template_draws=1,
        ingest_batches=1),
    "mergetree_ingest": Workload(
        sf=0.1,
        tables=("lineitem", "events"),
        entries=("final_replacing",),
        templates=("count_uniq",),
        template_draws=2,
        ingest_batches=2),
}


class Step(NamedTuple):
    name: str          # stable op name, e.g. "ingest:insert_2"
    ch: str            # statement sent to ch_sql
    kind: str          # "ddl", "insert", "final", "optimize", "count"
    rows_sql: str      # DuckDB: rows the statement inserts ("" if none)
    duck: str          # DuckDB twin of a SELECT ("" if none)


@dataclass(frozen=True)
class IngestCycle:
    batches: int
    offset: int
    order: tuple[int, ...]
    upd_mod: int
    upd_rem: int

    def _batch_pred(self, b: int) -> str:
        return f"(l_orderkey + {self.offset}) % {self.batches} = {self.order[b]}"

    def steps(self) -> list[Step]:
        t = TABLE
        final_ch = (f"SELECT count() AS n, uniqExact(l_orderkey) AS orders, "
                    f"max(ver) AS v, sum(if(ver = 2, l_quantity, 0)) AS upd_qty "
                    f"FROM {t} FINAL")
        upd_where = f"l_orderkey % {self.upd_mod} = {self.upd_rem}"
        upd_rows = (f"SELECT l_orderkey, l_linenumber, max(l_quantity) + 100 AS q "
                    f"FROM lineitem WHERE {upd_where} GROUP BY l_orderkey, l_linenumber")
        out = [Step("ingest:create",
                    f"CREATE TABLE {t} (l_orderkey Int64, l_linenumber Int32, "
                    f"l_quantity Float64, l_extendedprice Float64, "
                    f"l_returnflag String, ver UInt32) "
                    f"ENGINE = ReplacingMergeTree(ver) "
                    f"ORDER BY (l_orderkey, l_linenumber)", "ddl", "", "")]
        for b in range(self.batches):
            pred = self._batch_pred(b)
            seen = " OR ".join(f"({self._batch_pred(i)})" for i in range(b + 1))
            out.append(Step(
                f"ingest:insert_{b + 1}",
                f"INSERT INTO {t} SELECT l_orderkey, l_linenumber, l_quantity, "
                f"l_extendedprice, l_returnflag, 1 AS ver FROM lineitem WHERE {pred}",
                "insert", f"SELECT count(*) FROM lineitem WHERE {pred}", ""))
            # the plain read sees every inserted row, duplicates included
            out.append(Step(
                f"ingest:rows_{b + 1}", f"SELECT count() AS n FROM {t}", "count", "",
                f"SELECT count(*) AS n FROM lineitem WHERE {seen}"))
            out.append(Step(
                f"ingest:final_{b + 1}", final_ch, "final", "",
                f"SELECT count(*) AS n, count(DISTINCT l_orderkey) AS orders, "
                f"1 AS v, 0.0 AS upd_qty FROM (SELECT DISTINCT l_orderkey, "
                f"l_linenumber FROM lineitem WHERE {seen})"))
        out.append(Step(
            "ingest:update",
            f"INSERT INTO {t} SELECT l_orderkey, l_linenumber, "
            f"max(l_quantity) + 100 AS l_quantity, "
            f"max(l_extendedprice) AS l_extendedprice, "
            f"max(l_returnflag) AS l_returnflag, 2 AS ver FROM lineitem "
            f"WHERE {upd_where} GROUP BY l_orderkey, l_linenumber",
            "insert", f"SELECT count(*) FROM ({upd_rows})", ""))
        out.append(Step(
            "ingest:rows_update", f"SELECT count() AS n FROM {t}", "count", "",
            f"SELECT (SELECT count(*) FROM lineitem) "
            f"+ (SELECT count(*) FROM ({upd_rows})) AS n"))
        # every batch is in by now, so the table holds every key once
        all_keys = "SELECT DISTINCT l_orderkey, l_linenumber FROM lineitem"
        final_all = (f"SELECT count(*) AS n, count(DISTINCT l_orderkey) AS orders, "
                     f"2 AS v, (SELECT sum(q) FROM ({upd_rows})) AS upd_qty "
                     f"FROM ({all_keys})")
        out.append(Step("ingest:final_update", final_ch, "final", "", final_all))
        out.append(Step("ingest:optimize", f"OPTIMIZE TABLE {t} FINAL",
                        "optimize", "", ""))
        out.append(Step("ingest:final_merged", final_ch, "final", "", final_all))
        out.append(Step("ingest:merged_rows", f"SELECT count() AS n FROM {t}", "count", "",
                        f"SELECT count(*) AS n FROM ({all_keys})"))
        out.append(Step("ingest:drop", f"DROP TABLE {t}", "ddl", "", ""))
        return out


class Unit(NamedTuple):
    kind: str                       # "entry", "chsql" or "ingest"
    name: str
    statement: templates.Statement | None = None
    cycle: IngestCycle | None = None


def plan_pass(workload: Workload, rng: random.Random, seen: set) -> list[Unit]:
    """The units of one pass, in the order the seed gives them.
    ``seen`` holds the statement texts drawn so far in the run."""
    units = [Unit("entry", f"entry:{n}") for n in workload.entries]
    for _ in range(workload.template_draws):
        units += [Unit("chsql", f"chsql:{s.template}", statement=s)
                  for s in templates.draw(rng, workload.templates, seen)]
    b = workload.ingest_batches
    order = list(range(b))
    rng.shuffle(order)
    upd_mod = rng.randint(5, 12)
    units.append(Unit("ingest", "ingest", cycle=IngestCycle(
        b, rng.randrange(1000), tuple(order), upd_mod, rng.randrange(upd_mod))))
    rng.shuffle(units)
    return units


def percentile(values: list[float], p: float, min_beyond: int = 10) -> tuple[float, int]:
    """Nearest-rank ``p``-th percentile and the sample count.

    Refuses (ValueError) when fewer than ``min_beyond`` samples lie
    beyond the percentile's rank, since such a tail is one or two
    samples deep and does not repeat from run to run.
    """
    n = len(values)
    if n == 0:
        raise ValueError("no samples")
    rank = max(1, math.ceil(p / 100.0 * n))
    if n - rank < min_beyond:
        raise ValueError(f"p{p:g} of {n} samples has {n - rank} beyond it; "
                         f"need {min_beyond}")
    return sorted(values)[rank - 1], n
