"""MergeTree-semantics table on Parquet.

Reference model (src/Storages/MergeTree/):
- a table is a set of immutable *parts*, each internally sorted by the
  table's ORDER BY key (IMergeTreeDataPart.h:71);
- inserts create new parts (never modify old ones);
- background merges combine parts and apply engine-specific merge rules
  (Replacing/Summing/Collapsing..., registerStorageMergeTree.cpp:931-937);
- SELECT ... FINAL applies the merge rules at read time;
- PARTITION BY prunes whole partitions; the sort key drives range pruning
  (KeyCondition.h:51).

Spark mapping, feature for feature:
- part       = a Parquet subdirectory ``part=NNNN`` written with
               ``partitionBy(partition_by)`` + ``sortWithinPartitions(order_by)``
               → Parquet row-group min/max stats on the sort key give the
               primary-index pruning analog for free at scan time;
- insert     = append a new part directory (atomic per-directory write);
- FINAL      = view rewrite from operators/final.py;
- merge      = ``compact()``: read all parts, apply the engine rewrite,
               rewrite as a single part (the background-merge analog —
               run it on a schedule, reads stay correct either way);
- mutation   = ``delete_where()`` partition-rewrite (ALTER DELETE analog,
               reference src/Interpreters/InterpreterDeleteQuery.cpp:105);
- TTL        = ``apply_ttl()`` compaction that filters expired rows
               (reference src/Processors/Transforms/TTLTransform.h).

At 100 TB: partition_by keeps partition directories aligned with query
predicates (partition pruning), order_by clusters data within files so
Parquet stats prune row groups; compaction cost is proportional to the
merged data, and reads never block on it.
"""

from __future__ import annotations

import json
import os
import re
import time
from dataclasses import dataclass, field
from typing import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from clickhouse_core_spark.operators.final import (
    coalescing_final,
    collapsing_final,
    replacing_final,
    summing_final,
    versioned_collapsing_final,
)

_ENGINES = ("merge_tree", "replacing", "summing", "collapsing",
            "versioned_collapsing", "coalescing", "aggregating")


def _type_default_sql(dt) -> str | None:
    """CH type default as a SQL literal (addMissingDefaults.cpp): 0
    for numbers, '' for strings, empty collections, the epoch for
    date/time.  None for types with no clear default (struct etc.)."""
    from pyspark.sql import types as T
    s = dt.simpleString()
    if isinstance(dt, T.ArrayType):
        return f"CAST(array() AS {s})"
    if isinstance(dt, T.MapType):
        return f"CAST(map() AS {s})"
    if isinstance(dt, T.StringType):
        return "''"
    if isinstance(dt, T.BinaryType):
        return "CAST('' AS BINARY)"
    if isinstance(dt, T.DateType):
        return "DATE'1970-01-01'"
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return f"CAST('1970-01-01 00:00:00' AS {s})"
    if isinstance(dt, T.BooleanType):
        return "false"
    if isinstance(dt, T.NumericType):
        return "0"
    return None


def _split_ddl_columns(ddl: str) -> list[str]:
    """Split a Spark DDL column list on top-level commas (commas inside
    ARRAY<...>/STRUCT<...>/DECIMAL(p,s) don't separate columns)."""
    out, depth, start = [], 0, 0
    for i, ch in enumerate(ddl):
        if ch in "<(":
            depth += 1
        elif ch in ">)":
            depth -= 1
        elif ch == "," and depth == 0:
            out.append(ddl[start:i])
            start = i + 1
    out.append(ddl[start:])
    return out


@dataclass
class ColumnDecls:
    """The column list a table was declared with (reference
    ColumnsDescription, src/Storages/ColumnsDescription.h).  MergeTree,
    Join and Memory tables each own one; the frontend's CREATE TABLE
    parser fills it and ALTER edits it.  A table made through the
    Python API without a column list keeps the empty record."""

    schema_ddl: str = ""                # Spark DDL of the stored columns
    decl_texts: list = field(default_factory=list)   # "`c` <CH type>"
    projections: list = field(default_factory=list)  # (name, SELECT)
    nullable: set = field(default_factory=set)
    # column -> Spark SQL DEFAULT / MATERIALIZED expression
    defaults: dict = field(default_factory=dict)
    materialized: set = field(default_factory=set)
    json: set = field(default_factory=set)         # JSON string carrier
    obj: set = field(default_factory=set)          # Object('json')
    obj_array: set = field(default_factory=set)    # Array(Object(..))
    obj_nullable: set = field(default_factory=set)  # Object(Nullable)
    dynamic: set = field(default_factory=set)
    timezones: dict = field(default_factory=dict)  # DateTime('tz')
    dt64_scales: dict = field(default_factory=dict)  # DateTime64(p)
    stats: dict = field(default_factory=dict)      # STATISTICS kinds
    codecs: dict = field(default_factory=dict)     # canonical CODEC
    # Object columns: the finalized tuple's type name and type tree,
    # refreshed by every finalizing read
    obj_ch_types: dict = field(default_factory=dict)
    obj_trees: dict = field(default_factory=dict)

    @property
    def columns(self) -> list[str]:
        return re.findall(r"`([^`]+)`", self.schema_ddl)

    def truncate_dt64(self, df: DataFrame) -> DataFrame:
        """Declared DateTime64(p) columns TRUNCATE inserted values to
        their scale (DataTypeDateTime64 conversion; golden 02997 — a
        DateTime64(0) column stores whole seconds)."""
        for cname, p in self.dt64_scales.items():
            if cname in df.columns and p < 6:
                q = 10 ** (6 - p)
                df = df.withColumn(
                    cname, F.timestamp_micros(
                        (F.floor(F.unix_micros(
                            F.col(f"`{cname}`").cast("timestamp"))
                            / q) * q).cast("long")))
        return df

    def finalize_objects(self, df: DataFrame) -> DataFrame:
        """Deprecated ``Object('json')`` columns finalize to the
        row-union named TUPLE on reads (reference DataTypeObject —
        goldens 01825); see :func:`finalize_object_columns`."""
        if not self.obj and not self.obj_array:
            return df
        return finalize_object_columns(
            df, self.obj, self.obj_array, self.obj_ch_types,
            self.obj_trees, nullable_cols=self.obj_nullable)


class MergeTreeTable:
    """A managed, partitioned, sort-clustered Parquet table with
    MergeTree engine semantics."""

    def __init__(self, spark: SparkSession, path: str,
                 order_by: Sequence[str],
                 partition_by: Sequence[str] = (),
                 engine: str = "merge_tree",
                 key_cols: Sequence[str] | None = None,
                 version_col: str | None = None,
                 is_deleted_col: str | None = None,
                 sign_col: str | None = None,
                 sum_cols: Sequence[str] | None = None,
                 bloom_filter_cols: Sequence[str] = (),
                 token_index_cols: Sequence[str] = (),
                 gin_index_cols: Sequence[str] = (),
                 column_defaults: dict | None = None):
        if engine not in _ENGINES:
            raise ValueError(f"engine must be one of {_ENGINES}")
        self.spark = spark
        self.path = path
        self.order_by = list(order_by)
        self.partition_by = list(partition_by)
        self.engine = engine
        # dedup/merge identity: defaults to the sort key (reference:
        # ORDER BY *is* the dedup key for Replacing/Summing engines)
        self.key_cols = list(key_cols) if key_cols else self.order_by
        self.version_col = version_col
        # ReplacingMergeTree(version, is_deleted): FINAL drops keys
        # whose surviving row is a tombstone (is_deleted = 1)
        self.is_deleted_col = is_deleted_col
        self.sign_col = sign_col
        self.sum_cols = list(sum_cols) if sum_cols else None
        # Skip-index analog (reference
        # src/Storages/MergeTree/MergeTreeIndexBloomFilter.h:1): parquet
        # bloom filters on high-cardinality columns NOT in the sort key.
        # The sort key already prunes via row-group min/max stats; bloom
        # filters give point-lookup row-group skipping on columns whose
        # values are scattered across the file.
        self.bloom_filter_cols = list(bloom_filter_cols)
        # tokenbf_v1 full-text skip index analog (reference
        # src/Storages/MergeTree/MergeTreeIndexBloomFilterText.h:152):
        # per part, a sidecar parquet of DISTINCT (token, file) pairs for
        # each indexed text column, written with a parquet bloom filter
        # on the token column.  A hasToken probe is then an equality
        # lookup on the sidecar (bloom + dictionary row-group skipping —
        # predicates Spark actually pushes to parquet, unlike
        # array_contains) that prunes the main scan to the files
        # containing the token.
        self.token_index_cols = list(token_index_cols)
        # GIN inverted-index analog (reference
        # src/Storages/MergeTree/MergeTreeIndexGin.h:145 — GinIndexStore
        # keeps token → posting-list-of-granules): per part, a sidecar
        # parquet of DISTINCT (token, file, row_group, row range) rows.
        # Where the tokenbf sidecar answers "which FILES may contain the
        # token", the GIN posting list answers "which ROW GROUPS DO
        # contain it" — exact, finer-grained, and the scan path reads
        # only those row groups (Arrow row-group reads executor-side).
        self.gin_index_cols = list(gin_index_cols)
        # CH DEFAULT column expressions (reference
        # src/Processors/Transforms/AddingDefaultsTransform.h /
        # ColumnDefault.h): column name -> SQL expression STRING
        # (JSON-persistable); INSERT adds missing columns and fills
        # NULLs from the expression (which may reference other
        # inserted columns, the materialized-default contract)
        self.decls = ColumnDecls(defaults=dict(column_defaults or {}))
        # storage facts set by CREATE TABLE: the SAMPLE BY expression,
        # FINAL on every read (EmbeddedRocksDB key-value semantics),
        # the projections ALTER ADD PROJECTION declared
        self.sample_by_expr: str | None = None
        self.always_final = False
        self.sql_projections: set = set()
        os.makedirs(path, exist_ok=True)
        self._write_meta()

    @property
    def column_defaults(self) -> dict:
        """The declared DEFAULT expressions (``decls.defaults``)."""
        return self.decls.defaults

    # ------------------------------------------------------------- metadata

    def _meta_path(self) -> str:
        return os.path.join(self.path, "_mergetree_meta.json")

    def _write_meta(self) -> None:
        meta = {
            "engine": self.engine, "order_by": self.order_by,
            "partition_by": self.partition_by, "key_cols": self.key_cols,
            "version_col": self.version_col, "sign_col": self.sign_col,
            "is_deleted_col": self.is_deleted_col,
            "sum_cols": self.sum_cols,
            "bloom_filter_cols": self.bloom_filter_cols,
            "token_index_cols": self.token_index_cols,
            "gin_index_cols": self.gin_index_cols,
            "column_defaults": self.column_defaults,
        }
        with open(self._meta_path(), "w") as fh:
            json.dump(meta, fh)

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "MergeTreeTable":
        with open(os.path.join(path, "_mergetree_meta.json")) as fh:
            meta = json.load(fh)
        return cls(spark, path,
                   order_by=meta["order_by"], partition_by=meta["partition_by"],
                   engine=meta["engine"], key_cols=meta["key_cols"],
                   version_col=meta["version_col"], sign_col=meta["sign_col"],
                   is_deleted_col=meta.get("is_deleted_col"),
                   sum_cols=meta["sum_cols"],
                   bloom_filter_cols=meta.get("bloom_filter_cols", ()),
                   token_index_cols=meta.get("token_index_cols", ()),
                   gin_index_cols=meta.get("gin_index_cols", ()),
                   column_defaults=meta.get("column_defaults"))

    # ----------------------------------------------------------------- parts

    def parts(self) -> list[str]:
        return sorted(
            os.path.join(self.path, d) for d in os.listdir(self.path)
            if d.startswith("part-") and os.path.isdir(os.path.join(self.path, d)))

    def truncate(self) -> None:
        """TRUNCATE TABLE: drop every part.  An emptied Object('json')
        column resets its unified type (the next insert starts
        fresh)."""
        self._drop_parts(self.parts())
        self.decls.obj_trees.clear()
        self.decls.obj_ch_types.clear()

    def insert(self, df: DataFrame,
               write_options: dict | None = None,
               part_name: str | None = None) -> str:
        """Write a new immutable part: partitioned by ``partition_by``,
        sorted by ``order_by`` within each file (gives Parquet row-group
        min/max stats the same pruning power as the reference's primary
        index).  ``write_options`` passes extra parquet writer options
        (e.g. a small ``parquet.block.size`` to force multiple row
        groups per file — the index-granularity knob).  ``part_name``
        overrides the time-ordered default name (mutations keep their
        source part's place in the part order)."""
        part_dir = os.path.join(
            self.path, part_name or f"part-{int(time.time() * 1e6):016x}")
        df = self.decls.truncate_dt64(df)
        nullable = self.decls.nullable
        for name, expr_sql in self.column_defaults.items():
            if name not in df.columns:
                df = df.withColumn(name, F.expr(expr_sql))
            elif name not in nullable:
                # NULL into a NON-Nullable column takes the DEFAULT
                # (input_format_null_as_default); an explicit NULL in
                # a Nullable column is data and stays
                df = df.withColumn(
                    name, F.coalesce(F.col(f"`{name}`"),
                                     F.expr(expr_sql)))
        # ORDER BY / PARTITION BY entries may be EXPRESSIONS
        # (registerStorageMergeTree.cpp accepts any expression key);
        # F.expr handles both plain columns and expressions.  Directory
        # partitioning needs real columns — expression partition keys
        # fall back to sort-only (the row-group stats still prune).
        plain_parts = [c for c in self.partition_by
                       if re.fullmatch(r"\w+", c)]
        writer = df
        if plain_parts:
            # repartition on the partition key so each output partition
            # directory is written by few tasks (avoids small-file blowup)
            writer = writer.repartition(*[F.col(c) for c in plain_parts])
        if self.order_by:
            writer = writer.sortWithinPartitions(
                *[F.expr(c) for c in self.order_by])
        w = writer.write.mode("overwrite")
        for col in self.bloom_filter_cols:
            w = w.option(f"parquet.bloom.filter.enabled#{col}", "true")
        for k, v in (write_options or {}).items():
            w = w.option(k, v)
        if plain_parts:
            w = w.partitionBy(*plain_parts)
        w.parquet(part_dir)
        if plain_parts and all(e.startswith(("_", "."))
                               for e in os.listdir(part_dir)):
            # an empty partitioned write leaves no data slice: the part
            # holds nothing, so it is no part
            self._drop_parts([part_dir])
            return part_dir
        # the part's column list (the reference's per-part columns.txt):
        # every read of the part uses it, so none infers from Parquet
        # and hive partition columns keep their written types
        with open(self._schema_path(part_dir), "w") as fh:
            fh.write(df.schema.json())
        if self.token_index_cols:
            self._write_token_index(part_dir)
        if self.gin_index_cols:
            self._write_gin_index(part_dir)
        return part_dir

    # ------------------------------------------------- tokenbf skip index

    @staticmethod
    def _tokenize(col: Column) -> Column:
        """Reference token extractor (SplitTokenExtractor,
        MergeTreeIndexBloomFilterText.h): maximal alphanumeric runs,
        lowercased for case-insensitive probes."""
        return F.array_distinct(F.filter(
            F.split(F.lower(col), r"[^\p{L}\p{N}]+"), lambda t: t != ""))

    def _token_idx_dir(self, part_dir: str, col: str) -> str:
        return os.path.join(part_dir, "_token_idx", col)

    def _write_token_index(self, part_dir: str) -> None:
        """Build the per-part token sidecar: distinct (token, file) rows
        per indexed column, bloom-filtered on token.  One extra pass over
        the fresh part — the same write-time cost profile as the
        reference's index granule build."""
        df = (self._read_part(part_dir)
              .withColumn("__file", F.col("_metadata.file_path")))
        for col in self.token_index_cols:
            idx = (df.select(F.explode(self._tokenize(F.col(col)))
                             .alias("token"), "__file")
                   .distinct())
            (idx.repartition(1).sortWithinPartitions("token")
             .write.mode("overwrite")
             .option("parquet.bloom.filter.enabled#token", "true")
             .parquet(self._token_idx_dir(part_dir, col)))

    def files_with_token(self, col: str, token: str) -> list[str]:
        """Skip-index probe: the main-table files whose token sidecar
        contains ``token``.  The equality predicate reaches the parquet
        reader (PushedFilters), where bloom + dictionary filters skip
        row groups — the tokenbf granule-skip analog."""
        if col not in self.token_index_cols:
            raise ValueError(f"no token index on column {col!r}")
        idx_dirs = [self._token_idx_dir(p, col) for p in self.parts()]
        idx_dirs = [d for d in idx_dirs if os.path.isdir(d)]
        if not idx_dirs:
            return []
        idx = self.spark.read.parquet(*idx_dirs)
        rows = (idx.filter(F.col("token") == token.lower())
                .select("__file").distinct().collect())
        return [r["__file"] for r in rows]

    def scan_with_token(self, col: str, token: str) -> DataFrame:
        """hasToken(col, token)-filtered scan that reads ONLY the files
        the token index admits (file-list pruning is split planning —
        the same driver-side decision as partition pruning).  Falls back
        to an empty result without touching the main table when no file
        matches."""
        files = self.files_with_token(col, token)
        if not files:
            return self.read_raw().filter(F.lit(False))
        pat = r"(?i)(^|[^\p{L}\p{N}])" + token + r"($|[^\p{L}\p{N}])"
        df = (self.spark.read.schema(self._file_schema(files[0]))
              .parquet(*files).filter(F.col(col).rlike(pat)))
        # honor lightweight deletes (read_raw's implicit _row_exists = 1
        # contract) on the pruned scan too
        return self._apply_delete_masks(df, self.parts())

    # ---------------------------------------------- GIN posting-list index

    def _gin_idx_dir(self, part_dir: str, col: str) -> str:
        return os.path.join(part_dir, "_gin_idx", col)

    def _rowgroup_bounds(self, part_dir: str) -> list[tuple]:
        """Parquet-footer walk: (file_uri, row_group, row_start,
        row_end_exclusive) for every data file in the part.  Footer
        reads are the same O(files) planning-time cost Spark itself
        pays; at cluster scale this runs once per freshly-written part
        at insert time, never per query."""
        import pyarrow.parquet as pq
        rows = []
        for root, dirs, files in os.walk(part_dir):
            dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
            for f in sorted(files):
                if not f.endswith(".parquet") or f.startswith(("_", ".")):
                    continue
                p = os.path.join(root, f)
                md = pq.ParquetFile(p).metadata
                start = 0
                for rg in range(md.num_row_groups):
                    n = md.row_group(rg).num_rows
                    # Spark's _metadata.file_path renders local URIs as
                    # file:/abs/path (single slash)
                    rows.append(("file:" + p, rg, start, start + n))
                    start += n
        return rows

    def _write_gin_index(self, part_dir: str) -> None:
        """Build the per-part GIN posting list (reference
        src/Storages/MergeTree/MergeTreeIndexGin.h:145 — token →
        posting list of granules): DISTINCT (token, file, row_group,
        row range) via one distributed pass over the fresh part.  Row →
        row-group assignment is a broadcast range join of _metadata
        .row_index against the footer bounds, so the heavy tokenize/
        explode work is executor-side."""
        bounds = self._rowgroup_bounds(part_dir)
        bdf = self.spark.createDataFrame(
            bounds, "file string, rg int, row_start long, row_end long")
        base = (self._read_part(part_dir)
                .select(F.col("_metadata.file_path").alias("file"),
                        F.col("_metadata.row_index").alias("row_index"),
                        *self.gin_index_cols))
        for col in self.gin_index_cols:
            posting = (base
                       .select("file", "row_index",
                               F.explode(self._tokenize(F.col(col)))
                               .alias("token"))
                       .join(F.broadcast(bdf.withColumnRenamed("file", "bfile")),
                             (F.col("file") == F.col("bfile"))
                             & (F.col("row_index") >= F.col("row_start"))
                             & (F.col("row_index") < F.col("row_end")))
                       .select("token", "file", "rg", "row_start", "row_end")
                       .distinct())
            (posting.repartition(1).sortWithinPartitions("token")
             .write.mode("overwrite")
             .option("parquet.bloom.filter.enabled#token", "true")
             .parquet(self._gin_idx_dir(part_dir, col)))

    def _gin_postings(self, col: str, tokens: Sequence[str]) -> DataFrame:
        if col not in self.gin_index_cols:
            raise ValueError(f"no GIN index on column {col!r}")
        idx_dirs = [self._gin_idx_dir(p, col) for p in self.parts()]
        idx_dirs = [d for d in idx_dirs if os.path.isdir(d)]
        if not idx_dirs:
            return self.spark.createDataFrame(
                [], "token string, file string, rg int, "
                    "row_start long, row_end long")
        idx = self.spark.read.parquet(*idx_dirs)
        toks = [t.lower() for t in tokens]
        # equality/IN probe → pushed to parquet, bloom + dictionary +
        # sorted-by-token min/max stats skip posting row groups
        return idx.filter(F.col("token").isin(toks))

    def gin_rowgroup_stats(self, col: str, tokens: Sequence[str]) -> dict:
        """Scan-pruning metric: admitted vs total row groups for a
        probe — the observable the reference exposes via
        rows_read/marks_read in system.query_log."""
        admitted = (self._gin_postings(col, tokens)
                    .select("file", "rg").distinct().count())
        total = sum(len(self._rowgroup_bounds(p)) for p in self.parts())
        return {"admitted_rowgroups": admitted, "total_rowgroups": total}

    def scan_with_tokens_gin(self, col: str, tokens: Sequence[str],
                             mode: str = "any") -> DataFrame:
        """hasToken / hasAnyTokens / hasAllTokens-filtered scan through
        the GIN posting list: reads ONLY the admitted row groups
        (executor-side Arrow row-group reads), then applies the exact
        token predicate.  mode='any' → hasAnyTokens semantics,
        'all' → hasAllTokens (posting intersection before the scan)."""
        if mode not in ("any", "all"):
            raise ValueError("mode must be 'any' or 'all'")
        toks = [t.lower() for t in tokens]
        post = self._gin_postings(col, toks)
        if mode == "all" and len(toks) > 1:
            per_rg = (post.groupBy("file", "rg")
                      .agg(F.countDistinct("token").alias("n"))
                      .filter(F.col("n") == len(toks)))
            pairs = [(r["file"], r["rg"]) for r in
                     per_rg.select("file", "rg").collect()]
        else:
            pairs = [(r["file"], r["rg"]) for r in
                     post.select("file", "rg").distinct().collect()]
        if not pairs:
            return self.read_raw().filter(F.lit(False))
        by_file: dict[str, list[int]] = {}
        for f, rg in pairs:
            by_file.setdefault(f, []).append(rg)
        # honor lightweight deletes: row-group reads bypass _metadata, so
        # ask the Arrow reader to emit (file, absolute row) lineage and
        # anti-join the mask pairs against it
        mask = self._mask_df(self.parts())
        scan = self._scan_rowgroups(sorted(by_file.items()),
                                    with_lineage=mask is not None)
        if mask is not None:
            scan = (scan.join(F.broadcast(mask), ["__file", "__row"],
                              "left_anti")
                    .drop("__file", "__row"))
        pats = [r"(?i)(^|[^\p{L}\p{N}])" + t + r"($|[^\p{L}\p{N}])"
                for t in toks]
        conds = [F.col(col).rlike(p) for p in pats]
        pred = conds[0]
        for c in conds[1:]:
            pred = (pred | c) if mode == "any" else (pred & c)
        return scan.filter(pred)

    def scan_with_token_gin(self, col: str, token: str) -> DataFrame:
        """hasToken(col, token) through the GIN index (the finer-grained
        sibling of ``scan_with_token``'s file-level tokenbf pruning)."""
        return self.scan_with_tokens_gin(col, [token], mode="any")

    def _scan_rowgroups(self, file_rgs: list,
                        with_lineage: bool = False) -> DataFrame:
        """Distributed row-group-granular scan: one input row per file
        with the admitted row-group ids; each executor opens its file
        with Arrow and reads ONLY those row groups.  This is the split
        planning a cluster scan does with a real index — the admitted
        list is tiny driver-side metadata (like a partition list), the
        data never moves through the driver.  ``with_lineage`` appends
        (__file, __row) columns — the _metadata-equivalent identity the
        delete-mask anti-join needs — computed executor-side from the
        footer's row-group row offsets."""
        from pyspark.sql.pandas.types import to_arrow_schema
        schema = self._file_schema(file_rgs[0][0])
        out_schema = schema
        if with_lineage:
            # copy the field list — StructType(schema.fields) would alias
            # it and .add() would mutate `schema` as well
            out_schema = (StructType(list(schema.fields))
                          .add("__file", "string").add("__row", "long"))
        arrow_schema = to_arrow_schema(schema)
        sdf = self.spark.createDataFrame(
            file_rgs, "file string, rgs array<int>")
        sdf = sdf.repartition(min(len(file_rgs), 64), "file")

        def read_rgs(batches):
            import pyarrow as pa
            import pyarrow.parquet as pq
            for b in batches:
                for f, rgs in zip(b.column("file").to_pylist(),
                                  b.column("rgs").to_pylist()):
                    path = f
                    if path.startswith("file:"):
                        path = "/" + path.split(":", 1)[1].lstrip("/")
                    pf = pq.ParquetFile(path)
                    if not with_lineage:
                        t = pf.read_row_groups(
                            sorted(rgs), columns=list(schema.fieldNames()))
                        t = t.cast(arrow_schema)
                        yield from t.to_batches()
                        continue
                    md = pf.metadata
                    starts, s = [], 0
                    for i in range(md.num_row_groups):
                        starts.append(s)
                        s += md.row_group(i).num_rows
                    for rg in sorted(rgs):
                        t = pf.read_row_groups(
                            [rg], columns=list(schema.fieldNames()))
                        t = t.cast(arrow_schema)
                        n = t.num_rows
                        t = t.append_column(
                            "__file", pa.array([f] * n, pa.string()))
                        t = t.append_column(
                            "__row", pa.array(
                                range(starts[rg], starts[rg] + n),
                                pa.int64()))
                        yield from t.to_batches()

        return sdf.mapInArrow(read_rgs, out_schema)

    # ----------------------------------------------------------------- reads

    @staticmethod
    def _schema_path(part: str) -> str:
        return os.path.join(part, "_schema.json")

    def _read_part(self, part: str) -> DataFrame:
        """One part as a DataFrame, read with the schema the part was
        written with (its ``_schema.json``).  Per-part ``basePath``
        keeps hive partition discovery local to the part."""
        try:
            with open(self._schema_path(part)) as fh:
                schema = StructType.fromJson(json.load(fh))
        except FileNotFoundError:
            raise FileNotFoundError(
                f"MergeTree part {part} has no _schema.json: it was not "
                f"written by MergeTreeTable.insert (or predates per-part "
                f"schemas) and cannot be read") from None
        return (self.spark.read.option("basePath", part).schema(schema)
                .parquet(part))

    def _file_schema(self, file_uri: str) -> StructType:
        """The schema of one data file of a part: its part's schema
        without the hive partition columns, which a file read does not
        discover."""
        path = file_uri
        if path.startswith("file:"):
            path = "/" + path.split(":", 1)[1].lstrip("/")
        root = os.path.abspath(self.path)
        part = os.path.join(root, os.path.relpath(path, root).split(os.sep)[0])
        return StructType([f for f in self._read_part(part).schema.fields
                           if f.name not in self.partition_by])

    def read_raw(self, with_seq: bool = False,
                 parts: Sequence[str] | None = None) -> DataFrame:
        """All appended rows, engine semantics NOT applied (the
        reference's default non-FINAL read); lightweight-delete masks
        are applied (the reference's implicit `_row_exists = 1`
        filter).  ``with_seq`` adds a ``__part_seq`` column (the
        part's insertion-order index) so FINAL merges can break
        version ties by part recency like the reference's
        last-in-selection rule.  ``parts`` restricts the read to
        those parts (a per-part mutation)."""
        parts = self.parts() if parts is None else list(parts)
        if not parts:
            raise ValueError(f"table at {self.path} has no parts")
        if len(parts) == 1:
            df = self._read_part(parts[0])
            if with_seq:
                df = df.withColumn("__part_seq", F.lit(0))
        else:
            # unionByName tolerates ALTER-evolved schemas: missing
            # columns fill NULL and the declared DEFAULTs apply below
            dfs = [self._read_part(p) for p in parts]
            # delete masks anti-join on _metadata, which only resolves
            # on a DIRECT file-scan relation — apply per part BEFORE
            # the union (golden 02864: INSERT after a lightweight
            # DELETE must not break subsequent multi-part reads)
            dfs = [self._apply_delete_masks(d, [p])
                   for d, p in zip(dfs, parts)]
            if with_seq:
                dfs = [d.withColumn("__part_seq", F.lit(i))
                       for i, d in enumerate(dfs)]
            df = dfs[0]
            for d in dfs[1:]:
                df = df.unionByName(d, allowMissingColumns=True)
        fields = {f.name: f for f in df.schema.fields}
        names = list(fields)
        if self.decls.schema_ddl:
            df, names = self._fill_declared(df, self.decls.schema_ddl,
                                            fields)
        # declared DateTime64(p) columns carry their scale as field
        # metadata so renderers print EXACTLY p fractional digits
        # (golden 02997; metadata survives SELECT * projections)
        scales = self.decls.dt64_scales
        if names != list(fields) or scales:
            df = df.select(*[
                (F.col(f"`{c}`").alias(c, metadata={
                    "ch_dt64_scale": scales[c]})
                 if c in scales else F.col(f"`{c}`"))
                for c in names])
        if len(parts) == 1:
            df = self._apply_delete_masks(df, parts)
        return df

    def _fill_declared(self, df: DataFrame, ddl: str,
                       fields: dict) -> tuple[DataFrame, list]:
        """ALTER-evolved parts: a part written before ADD COLUMN lacks
        the column — unionByName filled NULL, but the reference reads
        the declared DEFAULT, else the TYPE default, for non-Nullable
        columns (addMissingDefaults.cpp; golden 00446).  A declared
        column present in NO part yet is materialized from its
        default so views keep the full schema (golden 00721).  Type
        defaults are constants and go in one ``withColumns``; declared
        DEFAULT expressions may read other columns, so they follow
        one by one in declaration order.  Returns the frame and its
        column names in declared order (hive partition columns come
        back APPENDED after the data columns; reference column order
        is declaration order, golden 01114)."""
        decl_cols = []
        for c in _split_ddl_columns(ddl):
            toks = c.strip().split(None, 1)
            if len(toks) == 2:
                decl_cols.append((toks[0].strip("`"), toks[1]))
        nullable = self.decls.nullable
        defaults = self.decls.defaults
        names = list(fields)
        consts, exprs = {}, []
        for cname, ctype in decl_cols:
            fld = fields.get(cname)
            if fld is None:
                try:
                    dt = self.spark.createDataFrame(
                        [], f"`{cname}` {ctype}").schema[0].dataType
                except Exception:
                    continue
                names.append(cname)
                if defaults.get(cname):
                    exprs.append((cname, F.expr(defaults[cname]).cast(dt)))
                else:
                    consts[cname] = F.expr(
                        _type_default_sql(dt) or "NULL").cast(dt)
                continue
            if cname in nullable or not fld.nullable:
                continue
            dflt = defaults.get(cname)
            if dflt is not None:
                exprs.append((cname, F.coalesce(
                    F.col(f"`{cname}`"),
                    F.expr(dflt).cast(fld.dataType))))
                continue
            dflt = _type_default_sql(fld.dataType)
            if dflt is not None:
                consts[cname] = F.coalesce(
                    F.col(f"`{cname}`"), F.expr(dflt).cast(fld.dataType))
        if consts:
            df = df.withColumns(consts)
        for cname, col in exprs:
            df = df.withColumn(cname, col)
        declared = [c for c, _t in decl_cols]
        have = set(names)
        return df, ([c for c in declared if c in have]
                    + [c for c in names if c not in declared])

    def read(self, final: bool = False) -> DataFrame:
        if not final or self.engine == "merge_tree":
            return self.decls.finalize_objects(self.read_raw())
        return self._final_of(
            self.read_raw(with_seq=self.engine == "replacing"))

    def read_views(self) -> tuple[DataFrame, DataFrame]:
        """The plain and the FINAL read from ONE ``read_raw`` — what a
        view refresh after INSERT / mutation / OPTIMIZE registers."""
        if self.engine == "merge_tree":
            plain = self.decls.finalize_objects(self.read_raw())
            return plain, plain
        raw = self.read_raw(with_seq=self.engine == "replacing")
        plain = raw.drop("__part_seq") if self.engine == "replacing" \
            else raw
        return self.decls.finalize_objects(plain), self._final_of(raw)

    def _final_of(self, raw: DataFrame) -> DataFrame:
        out = self._apply_engine(raw)
        if self.engine == "replacing":
            # __part_seq broke equal-version ties by part recency (the
            # reference keeps the last row in the selection)
            out = out.drop("__part_seq")
        return self.decls.finalize_objects(out)

    def _apply_engine(self, df: DataFrame) -> DataFrame:
        if self.engine == "replacing":
            return replacing_final(df, self.key_cols,
                                   version=self.version_col,
                                   is_deleted=self.is_deleted_col)
        if self.engine == "summing":
            return summing_final(df, self.key_cols, sum_cols=self.sum_cols)
        if self.engine == "collapsing":
            return collapsing_final(df, self.key_cols, sign=self.sign_col,
                                    order_col=self.version_col)
        if self.engine == "versioned_collapsing":
            return versioned_collapsing_final(df, self.key_cols,
                                              sign=self.sign_col,
                                              version=self.version_col)
        if self.engine == "aggregating":
            from clickhouse_core_spark.operators.sketches import (
                aggregating_final)
            return aggregating_final(df, self.key_cols)
        if self.engine == "coalescing":
            return coalescing_final(df, self.key_cols,
                                    order_col=self.version_col)
        return df

    # ------------------------------------------------------------ background

    def compact(self) -> None:
        """Background-merge analog: fold all parts into one, applying the
        engine merge rule, then atomically swap.  Readers between swap
        steps see either the old parts or the new one — both yield the
        same FINAL result."""
        parts = self.parts()
        has_masks = any(os.path.isdir(self._mask_dir(p)) for p in parts)
        if len(parts) <= 1 and self.engine == "merge_tree" \
                and not has_masks:
            return
        if self.engine == "replacing":
            # merge keeps the last row per key INCLUDING tombstones —
            # is_deleted rows drop only at FINAL read (or the
            # reference's OPTIMIZE ... CLEANUP, not modeled)
            raw = self.read_raw(with_seq=True)
            merged = replacing_final(raw, self.key_cols,
                                     version=self.version_col,
                                     is_deleted=None) \
                .drop("__part_seq")
        elif self.engine == "collapsing":
            # MERGE semantics (MergeTask constructs the transform with
            # only_positive_sign = false): unmatched -1 rows stay in
            # the merged part; only FINAL READS drop them (03290)
            raw = self.read_raw()
            merged = collapsing_final(raw, self.key_cols,
                                      sign=self.sign_col,
                                      order_col=self.version_col,
                                      only_positive_sign=False)
        else:
            raw = self.read_raw()
            merged = self._apply_engine(raw)
        # engine rewrites may drop their bookkeeping column (collapsing
        # drops the sign); the merged PART must keep the table schema —
        # surviving rows are state rows (sign = +1), matching the
        # reference's merged-part contents
        if self.sign_col and self.sign_col in raw.columns \
                and self.sign_col not in merged.columns:
            merged = merged.withColumn(
                self.sign_col,
                F.lit(1).cast(raw.schema[self.sign_col].dataType))
        new_part = self.insert(merged)
        self._drop_parts([p for p in parts if p != new_part])

    def _mutate_parts(self, rewrite) -> None:
        """Mutation analog (reference MutateTask): rewrite every part
        on its own, in part order, through ``read_raw`` (delete masks
        and ALTER defaults apply).  The new part is named after its
        source plus a mutation number, which sorts right after the
        source and before the next part, so the part-recency tie-break
        of FINAL (and of EmbeddedRocksDB's upserts) survives."""
        for p in self.parts():
            base, _, n = os.path.basename(p).partition("_m")
            self.insert(rewrite(self.read_raw(parts=[p])),
                        part_name=f"{base}_m{int(n or 0) + 1}")
            self._drop_parts([p])

    def delete_where(self, predicate: Column) -> None:
        """ALTER TABLE ... DELETE analog: rewrite parts without matching
        rows (reference lightweight delete rewrites the _row_exists mask;
        a partition rewrite is the Spark-native equivalent)."""
        # delete only rows where the predicate is TRUE: NOT NULL is NULL
        # and would drop NULL-predicate rows too, so coalesce to FALSE
        self._mutate_parts(
            lambda df: df.filter(~F.coalesce(predicate, F.lit(False))))

    # ------------------------------------------------ lightweight delete

    def _mask_dir(self, part_dir: str) -> str:
        return os.path.join(part_dir, "_delete_mask")

    def delete_where_lightweight(self, predicate: Column) -> None:
        """Lightweight DELETE (reference
        src/Interpreters/InterpreterDeleteQuery.cpp:105 — the
        `_row_exists` mask model): instead of rewriting parts, write a
        tiny per-part sidecar of deleted (file, row_index) pairs; reads
        anti-join the mask.  Deleting 100 rows from a 100 TB table
        costs one filtered scan + a KB-sized sidecar write — the
        rewrite happens lazily at the next compact().  Masks accumulate
        (append mode) across successive lightweight deletes."""
        cond = F.coalesce(predicate, F.lit(False))
        for part in self.parts():
            hits = (self._read_part(part)
                    .withColumn("__file", F.col("_metadata.file_path"))
                    .withColumn("__row", F.col("_metadata.row_index"))
                    .filter(cond)
                    .select("__file", "__row"))
            (hits.write.mode("append")
             .parquet(self._mask_dir(part)))

    def _mask_df(self, parts: Sequence[str]):
        """The accumulated lightweight-delete (file, row) pairs across
        ``parts``, or None when no mask sidecar exists."""
        mask_dirs = [self._mask_dir(p) for p in parts
                     if os.path.isdir(self._mask_dir(p))
                     and any(f.endswith(".parquet") for _r, _d, fs in
                             os.walk(self._mask_dir(p)) for f in fs)]
        if not mask_dirs:
            return None
        return self.spark.read.parquet(*mask_dirs)

    def _apply_delete_masks(self, df: DataFrame,
                            parts: Sequence[str]) -> DataFrame:
        mask = self._mask_df(parts)
        if mask is None:
            return df
        # masks are tiny relative to data — broadcast the anti side
        return (df.withColumn("__file", F.col("_metadata.file_path"))
                .withColumn("__row", F.col("_metadata.row_index"))
                .join(F.broadcast(mask), ["__file", "__row"],
                      "left_anti")
                .drop("__file", "__row"))

    def update_where(self, predicate: Column, assignments: dict) -> None:
        """ALTER TABLE ... UPDATE analog (reference
        src/Interpreters/MutationsInterpreter.h): rewrite parts with the
        assignment expressions applied to matching rows.  Same
        partition-rewrite shape as delete_where — mutations are
        part rewrites in the reference too, never in-place edits."""
        self._mutate_parts(lambda df: df.withColumns(
            {name: F.when(predicate, expr).otherwise(F.col(name))
             for name, expr in assignments.items()}))

    def apply_ttl(self, expired: Column) -> None:
        """TTL compaction: drop rows where ``expired`` holds."""
        self.delete_where(expired)

    def apply_column_ttl(self, expired: Column, columns: Sequence[str]) -> None:
        """Column-level TTL (reference
        src/Storages/TTLDescription.h / TTLColumnAlgorithm): expired
        rows keep existing but the listed columns reset to NULL — the
        part-rewrite analog of the reference's column TTL merge."""
        self.update_where(
            expired, {c: F.lit(None) for c in columns})

    def apply_ttl_group_by(self, expired: Column,
                           group_by: Sequence[str],
                           aggregates: dict) -> None:
        """TTL ... GROUP BY (reference TTLAggregationAlgorithm,
        src/Processors/TTL/TTLAggregationAlgorithm.h): expired rows
        collapse to one row per ``group_by`` with the given aggregate
        expressions (column -> aggregated Column); fresh rows pass
        through untouched.  One part rewrite, aggregation only over the
        expired slice."""
        parts = self.parts()
        raw = self.read_raw()
        cond = F.coalesce(expired, F.lit(False))
        fresh = raw.filter(~cond)
        expired_rows = raw.filter(cond)
        agg_exprs = []
        for col in raw.columns:
            if col in group_by:
                continue
            expr = aggregates.get(col)
            if expr is None:
                expr = F.min(col)  # deterministic placeholder for
                # non-aggregated, non-key columns (reference picks any)
            agg_exprs.append(expr.alias(col))
        rolled = (expired_rows.groupBy(*group_by).agg(*agg_exprs)
                  .select(*raw.columns))
        new_part = self.insert(fresh.unionByName(rolled))
        self._drop_parts([p for p in parts if p != new_part])

    # ------------------------------------------- backup/freeze/optimize

    def optimize_deduplicate(self, by: Sequence[str] | None = None) -> None:
        """OPTIMIZE TABLE ... DEDUPLICATE [BY cols] (reference
        src/Interpreters/InterpreterOptimizeQuery.cpp,
        MergeTreeDataMergerMutator deduplicate merge): rewrite all
        parts with full-row (or BY-column-subset) duplicates dropped.
        dropDuplicates keeps an arbitrary surviving row — the same
        contract as the reference's dedup merge."""
        parts = self.parts()
        deduped = self.read_raw().dropDuplicates(
            list(by) if by else None)
        new_part = self.insert(deduped)
        self._drop_parts([p for p in parts if p != new_part])

    def _detached_dir(self) -> str:
        d = os.path.join(self.path, "_detached")
        os.makedirs(d, exist_ok=True)
        return d

    def _resolve_part_name(self, name: str, pool: list) -> str | None:
        """A part argument is either this engine's ``part-...``
        basename or the reference's ``<partition>_<min>_<max>_<level>``
        name (MergeTreePartInfo::fromPartName) — the min block number
        maps to the Nth part in creation (sorted) order, 1-based."""
        base = {os.path.basename(p): p for p in pool}
        if name in base:
            return base[name]
        m = re.fullmatch(r"\w+?_(\d+)_(\d+)_\d+(?:_\d+)?", name)
        if m:
            i = int(m.group(1))
            ordered = sorted(pool)
            if 1 <= i <= len(ordered):
                return ordered[i - 1]
        return None

    def detach_part(self, name: str) -> None:
        """ALTER TABLE ... DETACH PART 'name' (reference
        src/Parsers/ParserAlterQuery.cpp part form,
        MergeTreeData::detachPartition): the part leaves the active
        set but stays on disk under _detached/ for a later ATTACH."""
        import shutil
        p = self._resolve_part_name(name, self.parts())
        if p is None:
            raise ValueError(f"DETACH PART: no active part {name!r} "
                             f"(reference NO_SUCH_DATA_PART)")
        shutil.move(p, os.path.join(self._detached_dir(),
                                    os.path.basename(p)))

    def attach_part(self, name: str) -> None:
        """ALTER TABLE ... ATTACH PART 'name': restore a detached
        part into the active set (MergeTreeData::attachPartition)."""
        import shutil
        det = self._detached_dir()
        pool = [os.path.join(det, e.name) for e in os.scandir(det)
                if e.is_dir()]
        p = self._resolve_part_name(name, pool)
        if p is None:
            raise ValueError(f"ATTACH PART: no detached part "
                             f"{name!r} (reference BAD_DATA_PART_NAME)")
        shutil.move(p, os.path.join(self.path, os.path.basename(p)))

    def detach_partition(self, value) -> None:
        """ALTER TABLE ... DETACH PARTITION v: every active part's
        slice of that partition moves to _detached/ (modeled at part
        granularity: parts holding ONLY that partition move whole)."""
        import shutil
        plain = [c for c in self.partition_by
                 if re.fullmatch(r"\w+", c)]
        det = self._detached_dir()
        if plain and len(plain) == len(self.partition_by):
            for part in self.parts():
                d = os.path.join(part, f"{plain[0]}={value}")
                if os.path.isdir(d):
                    dst = os.path.join(det, os.path.basename(part))
                    os.makedirs(dst, exist_ok=True)
                    shutil.copy(self._schema_path(part), dst)
                    shutil.move(d, os.path.join(
                        dst, f"{plain[0]}={value}"))
                if not any(e.name.startswith(f"{plain[0]}=")
                           for e in os.scandir(part) if e.is_dir()):
                    self._drop_parts([part])
            return
        # expression partition keys: split the slice out as a new
        # detached part, rewrite the remainder
        slice_df = (self.read_raw()
                    .filter(self.partition_predicate(value))
                    .localCheckpoint(eager=True))
        kept = (self.read_raw()
                .filter(~self.partition_predicate(value))
                .localCheckpoint(eager=True))
        old = self.parts()
        new_part = self.insert(slice_df)
        shutil.move(new_part, os.path.join(
            det, os.path.basename(new_part)))
        self.insert(kept)
        self._drop_parts(old)

    def attach_partition(self, value) -> None:
        """ALTER TABLE ... ATTACH PARTITION v (no FROM): restore the
        partition's detached parts/slices."""
        import shutil
        det = self._detached_dir()
        for e in sorted(os.scandir(det), key=lambda x: x.name):
            if not e.is_dir():
                continue
            plain = [c for c in self.partition_by
                     if re.fullmatch(r"\w+", c)]
            if plain and len(plain) == len(self.partition_by):
                d = os.path.join(e.path, f"{plain[0]}={value}")
                if not os.path.isdir(d):
                    continue
                dst = os.path.join(self.path, e.name)
                os.makedirs(dst, exist_ok=True)
                shutil.copy(self._schema_path(e.path), dst)
                shutil.move(d, os.path.join(
                    dst, f"{plain[0]}={value}"))
                if not any(x.is_dir() for x in os.scandir(e.path)):
                    shutil.rmtree(e.path, ignore_errors=True)
            else:
                # expression partition key: re-attach ONLY rows of the
                # requested partition — a detached part may hold other
                # partitions' slices (or have come from DETACH PART),
                # and those must stay detached
                df = self._read_part(e.path)
                pred = F.coalesce(self.partition_predicate(value),
                                  F.lit(False))
                match = df.filter(pred).localCheckpoint(eager=True)
                if match.isEmpty():
                    continue
                rest = df.filter(~pred).localCheckpoint(eager=True)
                shutil.rmtree(e.path, ignore_errors=True)
                self.insert(match)
                if not rest.isEmpty():
                    new_part = self.insert(rest)
                    shutil.move(new_part, os.path.join(
                        det, os.path.basename(new_part)))

    def freeze(self, backup_name: str | None = None) -> str:
        """ALTER TABLE ... FREEZE analog (reference
        src/Storages/StorageMergeTree freeze / shadow directory):
        snapshot every current part into ``_shadow/<name>/``.  Parts
        are immutable directories, so the snapshot is a plain copy
        (a cluster deployment uses filesystem hard links or object
        store manifests — same layout, cheaper copy)."""
        import shutil
        name = backup_name or f"freeze-{int(time.time() * 1e6):016x}"
        shadow = os.path.join(self.path, "_shadow", name)
        os.makedirs(shadow, exist_ok=True)
        for part in self.parts():
            dst = os.path.join(shadow, os.path.basename(part))
            if not os.path.exists(dst):
                shutil.copytree(part, dst)
        shutil.copy(self._meta_path(), os.path.join(
            shadow, "_mergetree_meta.json"))
        return shadow

    def backup(self, dest: str) -> str:
        """BACKUP TABLE ... TO (reference src/Backups/): copy the
        current part set + metadata to ``dest``; restore_table reads
        it back as a full MergeTreeTable."""
        import shutil
        os.makedirs(dest, exist_ok=True)
        for part in self.parts():
            dst = os.path.join(dest, os.path.basename(part))
            if not os.path.exists(dst):
                shutil.copytree(part, dst)
        shutil.copy(self._meta_path(),
                    os.path.join(dest, "_mergetree_meta.json"))
        return dest

    @classmethod
    def restore_table(cls, spark: SparkSession, backup_dir: str,
                      path: str) -> "MergeTreeTable":
        """RESTORE TABLE ... FROM (reference src/Backups/): materialize
        a backup (or a freeze shadow) as a live table at ``path``."""
        import shutil
        os.makedirs(path, exist_ok=True)
        for d in sorted(os.listdir(backup_dir)):
            src = os.path.join(backup_dir, d)
            dst = os.path.join(path, d)
            if d.startswith("part-") and os.path.isdir(src) \
                    and not os.path.exists(dst):
                shutil.copytree(src, dst)
        shutil.copy(os.path.join(backup_dir, "_mergetree_meta.json"),
                    os.path.join(path, "_mergetree_meta.json"))
        return cls.load(spark, path)

    def parts_info(self) -> DataFrame:
        """system.parts analog (reference
        src/Storages/System/StorageSystemParts.cpp): one row per part
        with name, row count, compressed bytes on disk, and file count —
        the operational introspection surface compaction policies read.
        Metadata-only: parquet footers, no data scan."""
        import pyarrow.parquet as pq

        rows = []
        for part in self.parts():
            n_rows = n_bytes = n_files = 0
            for root, _dirs, files in os.walk(part):
                for f in files:
                    fp = os.path.join(root, f)
                    if f.endswith(".parquet"):
                        n_rows += pq.ParquetFile(fp).metadata.num_rows
                        n_files += 1
                    n_bytes += os.path.getsize(fp)
            rows.append((os.path.basename(part), n_rows, n_bytes, n_files))
        return self.spark.createDataFrame(
            rows, "part string, rows long, bytes_on_disk long, files int")

    def _drop_parts(self, parts: Sequence[str]) -> None:
        import shutil
        for p in parts:
            shutil.rmtree(p, ignore_errors=True)

    # ------------------------------------------------ partition ops

    def partition_predicate(self, value) -> Column:
        """Row predicate selecting one partition (reference
        MergeTreeData partition ID matching).  String-compared so
        ``PARTITION 0`` matches an int key and ``PARTITION '2020-01'``
        a formatted expression key alike."""
        if not self.partition_by:
            raise ValueError("table has no PARTITION BY")
        expr = self.partition_by[0]
        col = F.col(expr) if re.fullmatch(r"\w+", expr) else F.expr(expr)
        return col.cast("string") == F.lit(str(value))

    def drop_partition(self, value) -> None:
        """ALTER TABLE ... DROP PARTITION (reference
        MergeTreeData::dropPartition).  Hive-layout partition keys drop
        directory slices — a metadata operation, no data movement, the
        same O(1) cost profile as the reference's part unlinking.
        Expression partition keys rewrite the remaining rows into a
        fresh part (one filtered scan) and drop the old parts."""
        import shutil
        plain = [c for c in self.partition_by if re.fullmatch(r"\w+", c)]
        if plain and len(plain) == len(self.partition_by):
            for part in self.parts():
                d = os.path.join(part, f"{plain[0]}={value}")
                if os.path.isdir(d):
                    shutil.rmtree(d, ignore_errors=True)
                # a part whose every hive slice is gone is itself gone
                if not any(
                        e.name.startswith(f"{plain[0]}=")
                        for e in os.scandir(part) if e.is_dir()):
                    self._drop_parts([part])
            return
        old = self.parts()
        if not old:
            return
        kept = self.read_raw().filter(~self.partition_predicate(value))
        self.insert(kept.localCheckpoint(eager=True))
        self._drop_parts(old)

    def attach_partition_from(self, src: "MergeTreeTable",
                              value) -> None:
        """ALTER TABLE dst ATTACH PARTITION v FROM src: append src's
        slice as a new part (src keeps its data)."""
        self.insert(src.read_raw().filter(src.partition_predicate(value)))

    def replace_partition(self, src: "MergeTreeTable", value) -> None:
        """ALTER TABLE dst REPLACE PARTITION v FROM src
        (MergeTreeData::replacePartitionFrom): dst's slice is swapped
        for src's."""
        slice_df = (src.read_raw()
                    .filter(src.partition_predicate(value))
                    .localCheckpoint(eager=True))
        self.drop_partition(value)
        self.insert(slice_df)

    def move_partition_to(self, dst: "MergeTreeTable", value) -> None:
        """ALTER TABLE src MOVE PARTITION v TO TABLE dst."""
        dst.attach_partition_from(self, value)
        self.drop_partition(value)


# ---------------------------------------------------------------- projections

class Projection:
    """Projection spec: ``keys`` group-by columns and ``aggs`` mapping
    output alias -> (fn, source_col) with fn in sum/count/min/max/avg.
    ``count`` ignores its source column (COUNT(*))."""

    SUPPORTED = ("sum", "count", "min", "max", "avg")

    def __init__(self, name: str, keys: Sequence[str],
                 aggs: dict[str, tuple]):
        self.name = name
        self.keys = list(keys)
        self.aggs = {a: (fn, col) for a, (fn, col) in aggs.items()}
        for a, (fn, _col) in self.aggs.items():
            if fn not in self.SUPPORTED:
                raise ValueError(f"projection agg {fn!r} not supported")


def _projection_partials(df, proj: "Projection"):
    """The PARTIAL aggregate columns a projection part stores: avg is
    carried as (sum, count) so partials re-aggregate associatively."""
    cols = []
    seen = set()
    for _a, (fn, col) in proj.aggs.items():
        if fn in ("sum", "avg") and ("sum", col) not in seen:
            cols.append(F.sum(col).alias(f"__p_sum_{col}"))
            seen.add(("sum", col))
        if fn in ("count", "avg") and ("count", None) not in seen:
            cols.append(F.count(F.lit(1)).alias("__p_count"))
            seen.add(("count", None))
        if fn == "min" and ("min", col) not in seen:
            cols.append(F.min(col).alias(f"__p_min_{col}"))
            seen.add(("min", col))
        if fn == "max" and ("max", col) not in seen:
            cols.append(F.max(col).alias(f"__p_max_{col}"))
            seen.add(("max", col))
    return df.groupBy(*proj.keys).agg(*cols)


def _projection_dir(table: "MergeTreeTable", name: str) -> str:
    return os.path.join(table.path, "_projections", name)


def add_projection(table: "MergeTreeTable", name: str,
                   keys: Sequence[str], aggs: dict[str, tuple]) -> None:
    """ALTER TABLE ... ADD PROJECTION analog (reference
    src/Storages/MergeTree/MergeTreeProjections.h / docs projections):
    materialize a partial-aggregate side table grouped by ``keys``.

    The side table stores PARTIALS (sum/count/min/max per key group):
    a query grouping by any SUBSET of ``keys`` re-aggregates them —
    the AggregatingMergeTree projection contract — so the projection is
    |distinct keys| rows instead of the base table, and refreshing
    after an insert is one aggregation of the NEW part only (partials
    merge associatively)."""
    proj = Projection(name, keys, aggs)
    projections = getattr(table, "projections", {})
    projections[name] = proj
    table.projections = projections
    _projection_partials(table.read_raw(), proj).write.mode(
        "overwrite").parquet(_projection_dir(table, name))


def refresh_projection_with_part(table: "MergeTreeTable", name: str,
                                 part_df) -> None:
    """Incremental maintenance: append the new part's partials (the
    reference computes per-part projections at insert time)."""
    proj = table.projections[name]
    _projection_partials(part_df, proj).write.mode("append").parquet(
        _projection_dir(table, name))


def select_aggregate(table: "MergeTreeTable", keys: Sequence[str],
                     aggs: dict[str, tuple]):
    """Aggregate query router (reference setting
    optimize_use_projections, src/Storages/MergeTree/
    MergeTreeDataSelectExecutor projection analysis): serve the
    aggregation from a covering projection when one exists (keys ⊆
    projection keys, every agg derivable from stored partials), else
    from the base table.  Returns (DataFrame, route) where route is the
    projection name or 'base'."""
    keys = list(keys)
    want = {a: (fn, col) for a, (fn, col) in aggs.items()}

    def covered(proj: Projection) -> bool:
        if not set(keys) <= set(proj.keys):
            return False
        stored = {(fn2, col2) for (fn2, col2) in [
            v for v in proj.aggs.values()]}
        for fn, col in want.values():
            if fn in ("sum", "avg"):
                if not any(f in ("sum", "avg") and c == col
                           for f, c in stored):
                    return False
            elif fn == "count":
                if not any(f in ("count", "avg") for f, _c in stored):
                    return False
            elif (fn, col) not in stored:
                return False
        return True

    for name, proj in getattr(table, "projections", {}).items():
        if not covered(proj):
            continue
        p = table.spark.read.parquet(_projection_dir(table, name))
        outs = []
        for a, (fn, col) in want.items():
            if fn == "sum":
                outs.append(F.sum(f"__p_sum_{col}").alias(a))
            elif fn == "count":
                outs.append(F.sum("__p_count").alias(a))
            elif fn == "min":
                outs.append(F.min(f"__p_min_{col}").alias(a))
            elif fn == "max":
                outs.append(F.max(f"__p_max_{col}").alias(a))
            else:  # avg = Σ partial sums / Σ partial counts
                outs.append((F.sum(f"__p_sum_{col}")
                             / F.sum("__p_count")).alias(a))
        return p.groupBy(*keys).agg(*outs), name

    base = table.read_raw()
    outs = []
    for a, (fn, col) in want.items():
        outs.append({"sum": F.sum, "count": lambda c: F.count(F.lit(1)),
                     "min": F.min, "max": F.max,
                     "avg": F.avg}[fn](col).alias(a))
    return base.groupBy(*keys).agg(*outs), "base"


def finalize_object_columns(df: DataFrame, obj_cols, obj_array_cols,
                            ch_types: dict | None = None,
                            trees: dict | None = None,
                            nullable_cols=()) -> DataFrame:
    """Finalize deprecated ``Object('json')`` string-carrier columns
    to their row-union named tuples (reference DataTypeObject —
    goldens 01825): parse against the unified struct, default-fill
    members missing from a row (non-Nullable unless a path held
    explicit JSON nulls).  ``ch_types``/``trees`` (optional dicts)
    receive the exact reference type NAME and the type tree per
    column.  The union scan collects each column once per view
    registration — a compat shim for the deprecated type, not a
    scale path (LIMITS.md)."""
    from .rowformats import (object_tree_ch_name, object_tree_ddl,
                             object_type_tree)

    def fill(col, node, force_nullable=False):
        kind = node[0]
        if kind == "struct":
            return F.struct(*[
                fill(col[k], s, force_nullable).alias(k)
                for k, s in node[1]])
        if kind == "array":
            inner = node[1]
            out = F.transform(
                col, lambda e: fill(e, inner, force_nullable))
            if force_nullable:
                return out
            return F.coalesce(
                out, F.array().cast(f"ARRAY<{object_tree_ddl(inner)}>"))
        # JSON bools parse as BOOLEAN and store as UInt8 1/0
        base = (col.cast("tinyint") if node[1] == "BOOLEAN" else col)
        if node[3] or force_nullable:
            return base
        if node[1] == "STRING":
            dv = F.lit(node[4] if len(node) > 4 else "")
        else:
            dv = F.lit(0).cast(
                "tinyint" if node[1] == "BOOLEAN" else node[1])
        return F.coalesce(base, dv)

    for c in [c for c in obj_cols or () if c in df.columns]:
        try:
            vals = [r[0] for r in df.select(f"`{c}`").collect()]
            tree = object_type_tree(vals)
        except Exception:
            tree = None
        if tree:
            fnull = c in (nullable_cols or ())
            parsed = F.from_json(F.col(f"`{c}`"),
                                 object_tree_ddl(tree))
            df = df.withColumn(c, fill(parsed, tree, fnull))
            if ch_types is not None:
                ch_types[c] = object_tree_ch_name(
                    tree, force_nullable=fnull)
            if trees is not None:
                trees[c] = tree
        else:
            # table emptied (TRUNCATE / DELETE-all): the type resets
            if ch_types is not None:
                ch_types.pop(c, None)
            if trees is not None:
                trees.pop(c, None)
    for c in [c for c in obj_array_cols or () if c in df.columns]:
        # Array(Object('json')): unify across ALL elements of all rows
        try:
            vals = [e for r in df.select(f"`{c}`").collect()
                    for e in (r[0] or [])]
            tree = object_type_tree(vals)
        except Exception:
            tree = None
        if tree:
            ddl = object_tree_ddl(tree)
            df = df.withColumn(c, F.transform(
                F.col(f"`{c}`"),
                lambda e: fill(F.from_json(e, ddl), tree)))
            if ch_types is not None:
                ch_types[c] = (
                    f"Array({object_tree_ch_name(tree, 8)})")
            if trees is not None:
                trees[c] = ("array", tree)
    return df
