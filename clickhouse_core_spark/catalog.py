"""Catalog over a directory of Parquet tables.

Analog of the reference's table catalog (reference:
src/Storages/IStorage.h — engine-backed schema'd tables); here a table
is a Parquet path registered as a Spark temp view so both the DataFrame
API and ``spark.sql`` can reach it. Filters/column pruning push down to
the Parquet scan via Catalyst (the PREWHERE / primary-key-pruning
analogs are free — see SURVEY.md §4.2).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .session import _DEFAULT_CONF

# Parquet TIMESTAMP(NANOS) columns arrive as long (see session.py
# nanosAsLong); convert to µs-precision timestamps, truncating exactly
# like DuckDB does, so oracle comparisons line up.
_NANOS_TS_COLUMNS = {"events": ("ts",)}


def _normalize_nanos(df: DataFrame, cols: tuple[str, ...] | None = None) -> DataFrame:
    """Normalize timestamp columns to session-zoned TIMESTAMP.

    Two fixture shapes arrive here:
    - parquet TIMESTAMP(NANOS) read as long (nanosAsLong conf): truncate
      to µs like DuckDB and build a timestamp;
    - parquet timestamp[us] without timezone → Spark TIMESTAMP_NTZ:
      cast to timestamp_ltz.  The session timezone is pinned UTC
      (_RUNTIME_CONF), so the wall-clock values are preserved exactly
      and match DuckDB's epoch(ts) semantics, while downstream code
      (unix_micros, cast to double, window math) only has to handle the
      one LTZ type.
    """
    for field in df.schema.fields:
        want = cols is not None and field.name in cols
        auto = cols is None and field.name == "ts" and field.dataType.typeName() == "long"
        if want or auto:
            # integer div (not /): double division loses µs precision on
            # epoch-nanos magnitudes.
            df = df.withColumn(
                field.name,
                F.timestamp_micros(F.expr(f"`{field.name}` div 1000")))
        elif field.dataType.typeName() == "timestamp_ntz":
            df = df.withColumn(field.name, F.col(field.name).cast("timestamp"))
    return df

# The driver's synthetic star schema (TESTDATA.md / FIXTURES.md).
STANDARD_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

# Small dimension tables that should always broadcast in joins.
BROADCAST_TABLES = frozenset({"region", "nation"})


# Runtime-settable SQL confs the engine depends on, taken by key from
# the one conf table (session._DEFAULT_CONF).  Applied on whatever
# session we're handed: the driver builds its own session and passes it
# to __spark_entry__.entry, so build-time conf is not guaranteed there.
# - nanosAsLong: events.ts is parquet TIMESTAMP(NANOS); Spark errors on
#   it unless read as long (we then truncate to µs like DuckDB does).
# - timeZone: deterministic timestamps for the DuckDB oracle.
# - arrow: transfer for the pandas-based pipeline operators.
# - AQE byte-sized coalescing (see session.py r13/r14 note), so the
#   vanilla session gets the same reducer sizing and env overrides.
_RUNTIME_CONF = {k: _DEFAULT_CONF[k] for k in (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.session.timeZone",
    "spark.sql.execution.arrow.pyspark.enabled",
    "spark.sql.adaptive.coalescePartitions.parallelismFirst",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes",
)}


def apply_runtime_conf(spark: SparkSession) -> None:
    for k, v in _RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # immutable on this session build; assume preconfigured


class Catalog:
    """Lazily loads and registers the tables found in ``base_dir``."""

    def __init__(self, spark: SparkSession, base_dir: str):
        self.spark = spark
        self.base_dir = base_dir
        self._cache: dict[str, DataFrame] = {}
        self._registered: set[str] = set()
        apply_runtime_conf(spark)

    def path(self, name: str) -> str:
        return os.path.join(self.base_dir, f"{name}.parquet")

    def table(self, name: str) -> DataFrame:
        if name not in self._cache:
            df = self.spark.read.parquet(self.path(name))
            df = _normalize_nanos(df)
            self._cache[name] = df
        return self._cache[name]

    def __getattr__(self, name: str) -> DataFrame:
        # catalog.lineitem sugar; only for known tables to avoid
        # swallowing attribute errors.
        if name in STANDARD_TABLES:
            return self.table(name)
        raise AttributeError(name)

    def register_all(self, tables: tuple[str, ...] = STANDARD_TABLES,
                     force: bool = False) -> None:
        """Register every available table as a temp view for spark.sql.

        Registration is idempotent per Catalog instance: each
        ``createOrReplaceTempView`` is a py4j round trip (~9 ms), and
        every query entry calls this, so re-registering all 10 tables
        per query cost ~90 ms/query of pure driver overhead (r13
        measurement).  Pass ``force=True`` after externally replacing
        one of the standard views."""
        if force:
            self._registered.clear()
        for name in tables:
            if name not in self._registered and os.path.exists(self.path(name)):
                self.table(name).createOrReplaceTempView(name)
                self._registered.add(name)

    def register_system_tables(self) -> None:
        """Introspection views mirroring the reference's system database
        (src/Storages/System/StorageSystemTables.cpp, ...Columns.cpp;
        system.one at StorageSystemOne.h).  Spark temp views can't carry
        a ``system.`` qualifier, so the CH names map to ``system_*``
        (ch_sql also rewrites ``FROM system.one`` directly)."""
        spark = self.spark
        rows = []
        col_rows = []
        for name in STANDARD_TABLES:
            if not os.path.exists(self.path(name)):
                continue
            df = self.table(name)
            rows.append((name, "MergeTree", self.path(name)))
            for pos, f in enumerate(df.schema.fields):
                col_rows.append((name, f.name, f.dataType.simpleString(),
                                 pos + 1))
        spark.createDataFrame(
            rows, "name string, engine string, data_path string"
        ).createOrReplaceTempView("system_tables")
        spark.createDataFrame(
            col_rows,
            "table string, name string, type string, position int"
        ).createOrReplaceTempView("system_columns")
        spark.createDataFrame([(0,)], "dummy int") \
            .createOrReplaceTempView("system_one")


def load_catalog(spark: SparkSession, base_dir: str, register: bool = True) -> Catalog:
    cat = Catalog(spark, base_dir)
    if register:
        cat.register_all()
    return cat
