"""Special-purpose table engines: Set, Join, Buffer, Memory.

Reference: src/Storages/StorageSet.cpp (persistent IN-set),
StorageJoin.cpp (pre-built right side + joinGet), StorageBuffer.cpp
(write-through buffer with flush thresholds), StorageMemory.cpp.

Spark-first mappings:
- **SetTable** — a persisted distinct-key parquet; membership is a
  broadcast LEFT SEMI join (the exact shape the reference's IN (set)
  executes: hash-set probe on every shard), or an ANTI join for
  NOT IN.  No driver-side collect at any size.
- **JoinTable** — a persisted keyed right side; ``join()`` replays a
  stored ANY/ALL join, ``join_get(key, value)`` is the reference's
  joinGet scalar lookup (broadcast left-join + field pick).
- **BufferTable** — accumulates inserted micro-batches in memory and
  flushes to the destination table when row/batch thresholds trip
  (the reference's min/max_rows flush rule); reads see buffer + base,
  like the reference's union read path.
- **MemoryTable** — the rows of a session table as one locally
  checkpointed frame; insert, mutations, ALTER and TRUNCATE replace
  it.  ch_sql keeps every table declared with a column list on a
  non-MergeTree, non-Join engine in one.
"""

from __future__ import annotations

import os
from typing import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from clickhouse_core_spark.sources.mergetree import ColumnDecls


class SetTable:
    """ENGINE = Set analog (reference src/Storages/StorageSet.cpp:248):
    stores the distinct key tuples; used on the right side of IN."""

    def __init__(self, spark: SparkSession, path: str,
                 key_cols: Sequence[str]):
        self.spark = spark
        self.path = path
        self.key_cols = list(key_cols)

    def insert(self, df: DataFrame) -> None:
        (df.select(*self.key_cols).distinct()
         .write.mode("append").parquet(self.path))

    def _keys(self) -> DataFrame:
        return self.spark.read.parquet(self.path).distinct()

    def filter_in(self, df: DataFrame,
                  cols: Sequence[str] | None = None,
                  negate: bool = False) -> DataFrame:
        """``WHERE (cols...) [NOT] IN set`` — broadcast semi/anti join,
        the distributed hash-set probe."""
        cols = list(cols or self.key_cols)
        keys = F.broadcast(self._keys().toDF(*[f"__set_{c}"
                                               for c in self.key_cols]))
        cond = None
        for c, kc in zip(cols, self.key_cols):
            eq = df[c].eqNullSafe(keys[f"__set_{kc}"])
            cond = eq if cond is None else (cond & eq)
        return df.join(keys, on=cond,
                       how="left_anti" if negate else "left_semi")


class JoinTable:
    """ENGINE = Join analog (reference src/Storages/StorageJoin.cpp):
    a persisted, keyed right-hand side reused across queries."""

    def __init__(self, spark: SparkSession, path: str,
                 key_cols: Sequence[str], strictness: str = "any",
                 kind: str = "left"):
        if strictness not in ("any", "all"):
            raise ValueError("strictness must be 'any' or 'all'")
        self.spark = spark
        self.path = path
        self.key_cols = list(key_cols)
        self.strictness = strictness
        self.kind = kind
        self.decls = ColumnDecls()

    def insert(self, df: DataFrame) -> None:
        df.write.mode("append").parquet(self.path)

    def _right(self) -> DataFrame:
        r = self.spark.read.parquet(self.path)
        if self.strictness == "any":
            # deterministic pick-one per key (LIMITS.md any-join contract)
            from clickhouse_core_spark.operators.joins import any_join
            other = [c for c in r.columns if c not in self.key_cols]
            order = other or self.key_cols
            from pyspark.sql import Window
            w = Window.partitionBy(*self.key_cols).orderBy(
                *[F.col(c) for c in order])
            r = (r.withColumn("__jrn", F.row_number().over(w))
                 .filter(F.col("__jrn") == 1).drop("__jrn"))
        return r

    def join(self, left: DataFrame, how: str | None = None) -> DataFrame:
        return left.join(F.broadcast(self._right()), on=self.key_cols,
                         how=how or self.kind)

    def read(self) -> DataFrame:
        """The stored right side (ANY-deduplicated), for view
        registration in SQL sessions."""
        return self._right()

    def join_get(self, left: DataFrame, value_col: str,
                 out_col: str | None = None) -> DataFrame:
        """joinGet('table', 'value', key) analog
        (StorageJoin.cpp joinGet): scalar lookup of ``value_col``."""
        out = out_col or value_col
        right = self._right().select(
            *self.key_cols, F.col(value_col).alias(out))
        return left.join(F.broadcast(right), on=self.key_cols, how="left")


class BufferTable:
    """ENGINE = Buffer analog (reference src/Storages/StorageBuffer.cpp):
    inserts accumulate in memory; a flush writes them to the
    destination when thresholds trip.  Reads union buffer + base, so
    un-flushed rows are visible (the reference's read path)."""

    def __init__(self, destination, max_rows: int = 100000,
                 max_batches: int = 16):
        self.destination = destination
        self.max_rows = max_rows
        self.max_batches = max_batches
        self._buffer: list[DataFrame] = []
        self._buffered_rows = 0

    def insert(self, df: DataFrame) -> None:
        df = df.cache()
        self._buffered_rows += df.count()   # materializes the batch
        self._buffer.append(df)
        if (self._buffered_rows >= self.max_rows
                or len(self._buffer) >= self.max_batches):
            self.flush()

    def flush(self) -> None:
        if not self._buffer:
            return
        merged = self._buffer[0]
        for b in self._buffer[1:]:
            merged = merged.unionByName(b)
        self.destination.insert(merged)
        for b in self._buffer:
            b.unpersist()
        self._buffer = []
        self._buffered_rows = 0

    def read(self) -> DataFrame:
        base = self.destination.read_raw() if self._has_base() else None
        bufs = list(self._buffer)
        out = base
        for b in bufs:
            out = b if out is None else out.unionByName(b)
        if out is None:
            raise ValueError("buffer table has no rows")
        return out

    def _has_base(self) -> bool:
        try:
            return bool(self.destination.parts())
        except (OSError, ValueError):
            return False


class MemoryTable:
    """ENGINE = Memory analog (reference StorageMemory.cpp): the rows
    live in the session as one locally checkpointed frame, so lineage
    stays bounded however many inserts and mutations it has seen.
    ``decls`` is the declared column list; a declared table reads
    empty before its first insert, an undeclared one raises."""

    def __init__(self, spark: SparkSession,
                 decls: ColumnDecls | None = None):
        self.spark = spark
        self.decls = decls or ColumnDecls()
        self._df: DataFrame | None = None

    def insert(self, df: DataFrame) -> None:
        df = self.decls.truncate_dt64(df)
        self.replace(df if self._df is None
                     else self._df.unionByName(df))

    def replace(self, df: DataFrame) -> None:
        """Store ``df`` as the table's rows (ALTER and mutations)."""
        self._df = df.localCheckpoint(eager=True)

    def read_raw(self) -> DataFrame:
        """The stored rows; Object('json') columns stay strings."""
        if self._df is not None:
            return self._df
        if not self.decls.schema_ddl:
            raise ValueError("memory table is empty")
        return self.spark.createDataFrame([], self.decls.schema_ddl)

    def read(self) -> DataFrame:
        return self.decls.finalize_objects(self.read_raw())

    def truncate(self) -> None:
        self._df = None
        self.decls.obj_trees.clear()
        self.decls.obj_ch_types.clear()

    def delete_where(self, predicate: Column) -> None:
        """Drop the rows where ``predicate`` is TRUE (NULL keeps)."""
        if self._df is not None:
            self.replace(self._df.filter(
                ~F.coalesce(predicate, F.lit(False))))

    def update_where(self, predicate: Column, assignments: dict) -> None:
        """Set ``column -> expression`` on the rows where ``predicate``
        is TRUE; each value casts to its column's type."""
        if self._df is None:
            return
        cond = F.coalesce(predicate, F.lit(False))
        self.replace(self._df.withColumns({
            c: F.when(cond, e.cast(self._df.schema[c].dataType))
            .otherwise(F.col(f"`{c}`"))
            for c, e in assignments.items()}))
