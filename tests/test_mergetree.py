"""MergeTree table layer: parts, FINAL view rewrites, compaction
equivalence, delete/TTL rewrites (reference
src/Storages/MergeTree/MergeTreeData.h — Spark-first re-expression)."""

import shutil

import pytest

from pyspark.sql import functions as F

from clickhouse_core_spark.sources import MergeTreeTable


@pytest.fixture()
def tmp_table_path(tmp_path):
    p = str(tmp_path / "tbl")
    yield p
    shutil.rmtree(p, ignore_errors=True)


def _rows(df, *cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_insert_creates_parts_and_raw_read(spark, tmp_table_path):
    t = MergeTreeTable(spark, tmp_table_path, order_by=["k"])
    t.insert(spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"))
    t.insert(spark.createDataFrame([(3, "c")], "k int, v string"))
    assert len(t.parts()) == 2
    assert _rows(t.read_raw(), "k", "v") == [(1, "a"), (2, "b"), (3, "c")]


def test_replacing_final_and_compact(spark, tmp_table_path):
    t = MergeTreeTable(spark, tmp_table_path, order_by=["k"],
                       engine="replacing", version_col="ver")
    t.insert(spark.createDataFrame([(1, 1, "old"), (2, 1, "x")],
                                   "k int, ver int, v string"))
    t.insert(spark.createDataFrame([(1, 2, "new")], "k int, ver int, v string"))
    final = _rows(t.read(final=True), "k", "v")
    assert final == [(1, "new"), (2, "x")]
    # raw read sees all three rows until compaction
    assert t.read_raw().count() == 3
    t.compact()
    assert len(t.parts()) == 1
    # after compaction even the raw read is merged, FINAL unchanged
    assert t.read_raw().count() == 2
    assert _rows(t.read(final=True), "k", "v") == final


def test_summing_engine(spark, tmp_table_path):
    t = MergeTreeTable(spark, tmp_table_path, order_by=["k"],
                       engine="summing", sum_cols=["amt"])
    t.insert(spark.createDataFrame([(1, 10.0), (2, 5.0)], "k int, amt double"))
    t.insert(spark.createDataFrame([(1, 7.0)], "k int, amt double"))
    assert _rows(t.read(final=True), "k", "amt") == [(1, 17.0), (2, 5.0)]


def test_collapsing_engine(spark, tmp_table_path):
    t = MergeTreeTable(spark, tmp_table_path, order_by=["k"],
                       engine="collapsing", sign_col="sign", version_col="seq")
    t.insert(spark.createDataFrame(
        [(1, 1, 1, 100.0), (2, 1, 1, 50.0)], "k int, sign int, seq int, v double"))
    # cancel k=1 state, write a new one; cancel k=2 entirely
    t.insert(spark.createDataFrame(
        [(1, -1, 2, 100.0), (1, 1, 3, 120.0), (2, -1, 2, 50.0)],
        "k int, sign int, seq int, v double"))
    assert _rows(t.read(final=True), "k", "v") == [(1, 120.0)]


def test_partitioned_writes_and_pruning(spark, tmp_table_path):
    t = MergeTreeTable(spark, tmp_table_path, order_by=["id"],
                       partition_by=["bucket"])
    df = spark.range(1000).select(
        F.col("id"), (F.col("id") % 4).alias("bucket"),
        (F.col("id") * 2.0).alias("v"))
    t.insert(df)
    read = t.read_raw().filter(F.col("bucket") == 2)
    assert read.count() == 250
    # partition pruning visible in the physical plan
    plan = read._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan or "bucket" in plan


def test_delete_where_and_ttl(spark, tmp_table_path):
    t = MergeTreeTable(spark, tmp_table_path, order_by=["k"])
    t.insert(spark.createDataFrame([(i, float(i)) for i in range(10)],
                                   "k int, v double"))
    t.delete_where(F.col("k") >= 7)
    assert t.read_raw().count() == 7
    t.apply_ttl(F.col("k") < 3)
    assert _rows(t.read_raw(), "k") == [(3,), (4,), (5,), (6,)]


def test_delete_where_null_predicate_keeps_rows(spark, tmp_table_path):
    # ALTER DELETE removes only rows where the predicate is TRUE; a
    # NULL predicate (NULL comparison) must KEEP the row
    t = MergeTreeTable(spark, tmp_table_path, order_by=["k"])
    t.insert(spark.createDataFrame([(1, 5.0), (2, None), (3, 20.0)],
                                   "k int, v double"))
    t.delete_where(F.col("v") > 10.0)
    assert _rows(t.read_raw(), "k") == [(1,), (2,)]


def test_load_roundtrip(spark, tmp_table_path):
    t = MergeTreeTable(spark, tmp_table_path, order_by=["k"],
                       engine="replacing", version_col="ver")
    t.insert(spark.createDataFrame([(1, 1, "a")], "k int, ver int, v string"))
    t2 = MergeTreeTable.load(spark, tmp_table_path)
    assert t2.engine == "replacing" and t2.version_col == "ver"
    assert t2.read(final=True).count() == 1


def test_update_where_mutation(spark, tmp_table_path):
    t = MergeTreeTable(spark, tmp_table_path, order_by=["k"])
    t.insert(spark.createDataFrame([(i, float(i)) for i in range(6)],
                                   "k int, v double"))
    t.update_where(F.col("k") % 2 == 0, {"v": F.col("v") * 100})
    got = dict(_rows(t.read_raw(), "k", "v"))
    assert got == {0: 0.0, 1: 1.0, 2: 200.0, 3: 3.0, 4: 400.0, 5: 5.0}
    assert len(t.parts()) == 1  # mutation rewrites into a single new part


def _scan_output_rows(df):
    """numOutputRows of the parquet scan leaf after executing df —
    counts rows in row groups / files that survived pushed-filter
    skipping (the vectorized reader prunes at row-group granularity)."""
    df.collect()
    scan = df._jdf.queryExecution().executedPlan().collectLeaves().head()
    return scan.metrics().apply("numOutputRows").value()


def test_bloom_filter_skips_row_groups(spark, tmp_path):
    """Skip-index analog (reference
    src/Storages/MergeTree/MergeTreeIndexBloomFilter.h:1): a point
    lookup on a high-cardinality column that is NOT in the sort key
    reads fewer row groups when the part was written with a parquet
    bloom filter on that column.  The key values are shuffled so every
    file's min/max spans the whole domain — min/max stats alone cannot
    prune, isolating the bloom filter's contribution."""
    import random

    rnd = random.Random(7)
    vals = list(range(40000))
    rnd.shuffle(vals)
    df = (spark.createDataFrame([(i, v) for i, v in enumerate(vals)],
                                "seq long, k long")
          .repartition(20))  # 20 files per part, each a full-domain slice

    plain = MergeTreeTable(spark, str(tmp_path / "plain"), order_by=["seq"])
    plain.insert(df)
    bloomed = MergeTreeTable(spark, str(tmp_path / "bloomed"),
                             order_by=["seq"], bloom_filter_cols=["k"])
    bloomed.insert(df)

    target = F.col("k") == 12345
    rows_plain = _scan_output_rows(plain.read_raw().filter(target))
    rows_bloom = _scan_output_rows(bloomed.read_raw().filter(target))
    assert rows_plain == 40000          # min/max can't prune shuffled keys
    assert rows_bloom < rows_plain / 4  # bloom skipped non-matching files
    # correctness unchanged
    assert bloomed.read_raw().filter(target).count() == 1


def test_bloom_filter_cols_roundtrip_via_load(spark, tmp_path):
    t = MergeTreeTable(spark, str(tmp_path / "t"), order_by=["k"],
                       bloom_filter_cols=["v"])
    t.insert(spark.createDataFrame([(1, 10)], "k int, v int"))
    assert MergeTreeTable.load(spark, str(tmp_path / "t")).bloom_filter_cols == ["v"]


def test_parts_info_system_view(spark, tmp_table_path):
    t = MergeTreeTable(spark, tmp_table_path, order_by=["k"])
    t.insert(spark.createDataFrame([(1,), (2,)], "k int"))
    t.insert(spark.createDataFrame([(3,)], "k int"))
    info = t.parts_info().collect()
    assert len(info) == 2
    assert sorted(r.rows for r in info) == [1, 2]
    assert all(r.bytes_on_disk > 0 and r.files >= 1 for r in info)


def test_column_ttl_nulls_expired_columns(spark, tmp_table_path):
    t = MergeTreeTable(spark, tmp_table_path, order_by=["k"])
    t.insert(spark.createDataFrame(
        [(1, 100, "old"), (2, 200, "new")], "k int, age int, payload string"))
    t.apply_column_ttl(F.col("age") > 150, ["payload"])
    got = {r.k: r.payload for r in t.read_raw().collect()}
    assert got == {1: "old", 2: None}


def test_ttl_group_by_rolls_up_expired(spark, tmp_table_path):
    t = MergeTreeTable(spark, tmp_table_path, order_by=["g"])
    t.insert(spark.createDataFrame(
        [("a", 1, 10.0), ("a", 1, 20.0), ("b", 0, 5.0), ("b", 0, 7.0)],
        "g string, old int, v double"))
    t.apply_ttl_group_by(F.col("old") == 1, ["g"],
                         {"v": F.sum("v"), "old": F.max("old")})
    rows = sorted((r.g, r.old, r.v) for r in t.read_raw().collect())
    # expired 'a' rows collapsed to one summed row; fresh 'b' rows intact
    assert rows == [("a", 1, 30.0), ("b", 0, 5.0), ("b", 0, 7.0)]


def test_token_index_prunes_files(spark, tmp_path):
    """tokenbf_v1 full-text skip-index analog (reference
    src/Storages/MergeTree/MergeTreeIndexBloomFilterText.h:152): a
    hasToken probe through the token sidecar reads ONLY the main-table
    files containing the token, and the result matches the full-scan
    rlike filter."""
    rows = []
    # 8 distinct "topic" tokens, each confined to a contiguous doc_id
    # block; repartitionByRange keeps each block in its own file(s)
    for i in range(4000):
        topic = f"topic{i // 500}"
        rows.append((i, f"document {i} about {topic} and data"))
    df = (spark.createDataFrame(rows, "doc_id long, text string")
          .repartitionByRange(8, "doc_id"))
    t = MergeTreeTable(spark, str(tmp_path / "toks"), order_by=["doc_id"],
                       token_index_cols=["text"])
    t.insert(df)

    def _norm(uri):
        return "/" + uri.split(":", 1)[-1].lstrip("/")

    hits = {_norm(f) for f in t.files_with_token("text", "topic3")}
    all_files = {_norm(f) for f in t.read_raw().inputFiles()}
    assert 0 < len(hits) < len(all_files)  # real pruning, not all files

    pruned = t.scan_with_token("text", "topic3")
    assert {_norm(f) for f in pruned.inputFiles()} <= hits
    expect = (t.read_raw()
              .filter(F.col("text").rlike(r"(^|[^\p{L}\p{N}])topic3($|[^\p{L}\p{N}])"))
              .count())
    assert pruned.count() == expect == 500

    # absent token: no main-table read at all
    assert t.scan_with_token("text", "zzzmissing").count() == 0


def test_gin_index_prunes_rowgroups(spark, tmp_path):
    """True GIN inverted-index analog (reference
    src/Storages/MergeTree/MergeTreeIndexGin.h:145): the posting list
    maps token → (file, row_group), so a rare-token probe admits FEWER
    ROW GROUPS than the file-level tokenbf path admits files' worth —
    and the row-group-granular scan returns exactly the full-scan
    result."""
    rows = []
    for i in range(4000):
        topic = f"topic{i // 500}"
        rows.append((i, f"document {i} about {topic} and data"))
    # 2 files x many row groups: tiny parquet.block.size forces multiple
    # row groups per file, so rg-granular pruning is visible inside files
    df = (spark.createDataFrame(rows, "doc_id long, text string")
          .repartitionByRange(2, "doc_id"))
    t = MergeTreeTable(spark, str(tmp_path / "gin"), order_by=["doc_id"],
                       gin_index_cols=["text"])
    t.insert(df, write_options={"parquet.block.size": "16384",
                                "parquet.page.size": "4096"})

    stats = t.gin_rowgroup_stats("text", ["topic3"])
    assert stats["total_rowgroups"] > 2          # the knob worked
    assert 0 < stats["admitted_rowgroups"] < stats["total_rowgroups"]

    pruned = t.scan_with_token_gin("text", "topic3")
    expect = (t.read_raw()
              .filter(F.col("text").rlike(
                  r"(^|[^\p{L}\p{N}])topic3($|[^\p{L}\p{N}])")))
    assert pruned.count() == expect.count() == 500
    assert sorted(r.doc_id for r in pruned.collect()) == list(
        range(1500, 2000))

    # absent token: zero admitted row groups, no main-table read
    assert t.gin_rowgroup_stats("text", ["zzz"])["admitted_rowgroups"] == 0
    assert t.scan_with_token_gin("text", "zzzmissing").count() == 0


def test_gin_any_all_tokens_and_reload(spark, tmp_path):
    """hasAnyTokens / hasAllTokens through the posting list; metadata
    roundtrip; compaction rebuilds the sidecar."""
    t = MergeTreeTable(spark, str(tmp_path / "gin2"), order_by=["doc_id"],
                       gin_index_cols=["text"])
    t.insert(spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha delta"), (3, "beta epsilon"),
         (4, "zeta eta")], "doc_id long, text string"))
    anyhit = t.scan_with_tokens_gin("text", ["alpha", "beta"], mode="any")
    assert sorted(r.doc_id for r in anyhit.collect()) == [1, 2, 3]
    allhit = t.scan_with_tokens_gin("text", ["alpha", "beta"], mode="all")
    assert sorted(r.doc_id for r in allhit.collect()) == [1]

    t2 = MergeTreeTable.load(spark, str(tmp_path / "gin2"))
    assert t2.gin_index_cols == ["text"]
    t2.insert(spark.createDataFrame([(5, "beta theta")],
                                    "doc_id long, text string"))
    t2.compact()
    assert sorted(r.doc_id for r in
                  t2.scan_with_token_gin("text", "beta").collect()) == [1, 3, 5]
    # sidecar invisible to the main read
    assert t2.read_raw().columns == ["doc_id", "text"]


def test_token_index_sidecar_invisible_to_main_read(spark, tmp_path):
    """The _token_idx sidecar lives inside the part directory but is
    underscore-prefixed, so the main parquet read never sees it."""
    t = MergeTreeTable(spark, str(tmp_path / "tk2"), order_by=["doc_id"],
                       token_index_cols=["text"])
    t.insert(spark.createDataFrame([(1, "hello world")],
                                   "doc_id long, text string"))
    assert t.read_raw().columns == ["doc_id", "text"]
    assert t.read_raw().count() == 1
    # survives metadata roundtrip and compaction rebuilds the index
    t2 = MergeTreeTable.load(spark, str(tmp_path / "tk2"))
    assert t2.token_index_cols == ["text"]
    t2.insert(spark.createDataFrame([(2, "more hello text")],
                                    "doc_id long, text string"))
    t2.compact()
    assert len(t2.files_with_token("text", "hello")) >= 1
    assert t2.scan_with_token("text", "hello").count() == 2


def test_projection_routing_and_partials(spark, tmp_path):
    from clickhouse_core_spark.sources import (
        MergeTreeTable, add_projection, refresh_projection_with_part,
        select_aggregate)
    t = MergeTreeTable(spark, str(tmp_path / "proj_t"),
                       order_by=["k"], engine="merge_tree")
    df1 = spark.createDataFrame(
        [("a", 1, 10.0), ("a", 2, 20.0), ("b", 3, 5.0)],
        "g string, k int, v double")
    t.insert(df1)
    add_projection(t, "by_g", keys=["g"],
                   aggs={"s": ("sum", "v"), "c": ("count", None),
                         "mn": ("min", "v"), "av": ("avg", "v")})
    # covered query -> routed to projection
    out, route = select_aggregate(t, ["g"], {"s": ("sum", "v"),
                                             "c": ("count", None),
                                             "av": ("avg", "v")})
    assert route == "by_g"
    got = {r.g: (r.s, r.c, r.av) for r in out.collect()}
    assert got == {"a": (30.0, 2, 15.0), "b": (5.0, 1, 5.0)}
    # incremental part refresh keeps partial re-aggregation exact
    df2 = spark.createDataFrame([("a", 4, 40.0)], "g string, k int, v double")
    t.insert(df2)
    refresh_projection_with_part(t, "by_g", df2)
    out2, route2 = select_aggregate(t, ["g"], {"s": ("sum", "v"),
                                               "mn": ("min", "v")})
    assert route2 == "by_g"
    got2 = {r.g: (r.s, r.mn) for r in out2.collect()}
    assert got2 == {"a": (70.0, 10.0), "b": (5.0, 5.0)}
    # projection result == base-table result
    base, routeb = select_aggregate(t, ["g"], {"mx": ("max", "v")})
    assert routeb == "base"  # max not stored? it IS not in aggs -> base
    assert {r.g: r.mx for r in base.collect()} == {"a": 40.0, "b": 5.0}
    # non-covered keys -> base route
    _out3, route3 = select_aggregate(t, ["k"], {"s": ("sum", "v")})
    assert route3 == "base"


def test_set_join_buffer_memory_engines(spark, tmp_path):
    from clickhouse_core_spark.sources import (
        BufferTable, JoinTable, MemoryTable, MergeTreeTable, SetTable)
    # Set engine: persisted IN-set, semi/anti probe
    s = SetTable(spark, str(tmp_path / "set"), key_cols=["k"])
    s.insert(spark.createDataFrame([(1,), (2,)], "k int"))
    s.insert(spark.createDataFrame([(2,), (3,)], "k int"))
    df = spark.createDataFrame([(1, "a"), (4, "d"), (3, "c")],
                               "k int, v string")
    assert sorted(r.k for r in s.filter_in(df).collect()) == [1, 3]
    assert [r.k for r in s.filter_in(df, negate=True).collect()] == [4]
    # Join engine: ANY strictness + joinGet
    j = JoinTable(spark, str(tmp_path / "join"), key_cols=["k"])
    j.insert(spark.createDataFrame([(1, "x"), (1, "y"), (3, "z")],
                                   "k int, payload string"))
    got = {r.k: r.payload for r in j.join(df).collect()}
    assert got[1] == "x" and got[3] == "z" and got[4] is None  # ANY pick
    jg = j.join_get(df, "payload", out_col="p")
    assert {r.k: r.p for r in jg.collect()}[3] == "z"
    # Buffer engine over a MergeTree destination
    dest = MergeTreeTable(spark, str(tmp_path / "mt"), order_by=["k"])
    buf = BufferTable(dest, max_rows=3)
    buf.insert(spark.createDataFrame([(1, "a")], "k int, v string"))
    assert len(dest.parts()) == 0          # below threshold: buffered
    assert buf.read().count() == 1         # but visible to reads
    buf.insert(spark.createDataFrame([(2, "b"), (3, "c")],
                                     "k int, v string"))
    assert len(dest.parts()) == 1          # threshold tripped -> flushed
    assert buf.read().count() == 3
    # Memory engine
    m = MemoryTable(spark)
    m.insert(spark.createDataFrame([(1,)], "x int"))
    m.insert(spark.createDataFrame([(2,)], "x int"))
    assert sorted(r.x for r in m.read().collect()) == [1, 2]
    m.truncate()
    import pytest as _pt
    with _pt.raises(ValueError):
        m.read()


def test_system_tables_analogs(spark):
    from clickhouse_core_spark.sources import (
        system_columns, system_functions, system_numbers, system_one,
        system_settings, system_tables)
    spark.createDataFrame([(1, "a")], "k int, v string") \
        .createOrReplaceTempView("systest_view")
    tables = {r.name for r in system_tables(spark).collect()}
    assert "systest_view" in tables
    cols = {r.name: r.type for r in
            system_columns(spark, "systest_view").collect()}
    assert cols == {"k": "int", "v": "string"}
    fns = {r.name for r in system_functions(spark).collect()}
    assert {"toYear", "lgamma", "sqidEncode"} <= fns
    assert [r.number for r in system_numbers(spark, 3, 5).collect()] == \
        [5, 6, 7]
    assert system_one(spark).first().dummy == 0
    st = {r.name: r.value for r in system_settings(spark).collect()}
    assert "spark.sql.shuffle.partitions" in st


def test_introspection_helpers_and_prometheus(spark):
    from clickhouse_core_spark.sources import (
        dump_column_structure, format_prometheus, has_column_in_table,
        is_nullable_column, to_column_type_name)
    df = spark.createDataFrame([(1, "a")], "k int, v string")
    df.createOrReplaceTempView("intros_view")
    assert has_column_in_table(spark, "intros_view", "k")
    assert not has_column_in_table(spark, "intros_view", "zzz")
    assert to_column_type_name(df, "k") == "int"
    assert is_nullable_column(df, "v")
    assert dump_column_structure(df, "k").startswith("k int")
    m = spark.createDataFrame(
        [("up", 1.0, "is it up", "gauge", {"job": "x"}),
         ("up", 0.0, "is it up", "gauge", {"job": "y"})],
        "name string, value double, help string, type string, "
        "labels map<string,string>")
    text = format_prometheus(m)
    assert text.count("# HELP up is it up") == 1
    assert '# TYPE up gauge' in text
    assert 'up{job="x"} 1.0' in text and 'up{job="y"} 0.0' in text


def test_aggregating_engine_state_merge(spark, tmp_path):
    from clickhouse_core_spark.operators import rollup_states, merge_states
    from clickhouse_core_spark.sources import MergeTreeTable
    from pyspark.sql import functions as F
    t = MergeTreeTable(spark, str(tmp_path / "agg_mt"),
                       order_by=["g"], engine="aggregating",
                       key_cols=["g"])
    df1 = spark.createDataFrame(
        [("a", i, float(i)) for i in range(50)] +
        [("b", i % 5, float(i)) for i in range(20)],
        "g string, u int, v double")
    df2 = spark.createDataFrame(
        [("a", i, float(i)) for i in range(40, 90)],
        "g string, u int, v double")
    # two parts of partial states
    t.insert(rollup_states(df1, ["g"], uniq_cols=["u"], sum_cols=["v"]))
    t.insert(rollup_states(df2, ["g"], uniq_cols=["u"], sum_cols=["v"]))
    # FINAL merges states per key; finishing via merge_states
    final = t.read(final=True)
    assert final.count() == 2          # one merged state row per key
    fin = {r.g: (r.u_uniq, r.v_sum, r.rows)
           for r in merge_states(final, ["g"]).collect()}
    # 'a' saw u in 0..89 (90 distinct, HLL ±2%), v sum = sum(0..49)+sum(40..89)
    assert abs(fin["a"][0] - 90) <= 4
    assert fin["a"][1] == sum(range(50)) + sum(range(40, 90))
    assert fin["a"][2] == 100
    assert abs(fin["b"][0] - 5) <= 1 and fin["b"][2] == 20
    # compact() folds parts through the same merge without changing results
    t.compact()
    fin2 = {r.g: r.v_sum for r in
            merge_states(t.read(final=True), ["g"]).collect()}
    assert fin2 == {g: v for g, (_u, v, _r) in fin.items()}


def test_optimize_deduplicate(spark, tmp_path):
    t = MergeTreeTable(spark, str(tmp_path / "od"), order_by=["k"])
    t.insert(spark.createDataFrame(
        [(1, "a"), (2, "b")], "k long, v string"))
    t.insert(spark.createDataFrame(
        [(1, "a"), (3, "c"), (1, "z")], "k long, v string"))
    t.optimize_deduplicate()                     # full-row dedup
    rows = sorted((r.k, r.v) for r in t.read_raw().collect())
    assert rows == [(1, "a"), (1, "z"), (2, "b"), (3, "c")]
    t.optimize_deduplicate(by=["k"])             # BY-subset dedup
    assert sorted(r.k for r in t.read_raw().collect()) == [1, 2, 3]
    assert len(t.parts()) == 1


def test_freeze_backup_restore(spark, tmp_path):
    t = MergeTreeTable(spark, str(tmp_path / "src"), order_by=["k"],
                       engine="replacing")
    t.insert(spark.createDataFrame([(1, 10), (2, 20)], "k long, v long"))
    shadow = t.freeze("snap1")
    # freeze is a point-in-time snapshot: later inserts don't leak in
    t.insert(spark.createDataFrame([(3, 30)], "k long, v long"))
    assert t.read_raw().count() == 3
    restored = MergeTreeTable.restore_table(
        spark, shadow, str(tmp_path / "restored"))
    assert restored.engine == "replacing"
    assert sorted(r.k for r in restored.read_raw().collect()) == [1, 2]
    # full backup carries everything
    bdir = t.backup(str(tmp_path / "bk"))
    r2 = MergeTreeTable.restore_table(spark, bdir,
                                      str(tmp_path / "restored2"))
    assert sorted(r.k for r in r2.read_raw().collect()) == [1, 2, 3]
    # shadow dir stays invisible to the live table's reads
    assert t.read_raw().count() == 3


def test_gin_scan_equals_full_scan_property(spark, tmp_path):
    """Property-style parity: for every token in a random-ish corpus,
    the GIN-pruned scan returns exactly the rows the full-scan token
    regex returns (deterministic corpus, all tokens swept)."""
    import itertools
    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta"]
    rows = []
    for i, combo in enumerate(itertools.combinations(words, 3)):
        rows.append((i, " ".join(combo)))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    t = MergeTreeTable(spark, str(tmp_path / "ginp"), order_by=["doc_id"],
                       gin_index_cols=["text"])
    t.insert(df, write_options={"parquet.block.size": "16384"})
    for tok in words:
        got = sorted(r.doc_id for r in
                     t.scan_with_token_gin("text", tok).collect())
        want = sorted(
            r.doc_id for r in t.read_raw().filter(
                F.col("text").rlike(
                    r"(^|[^\p{L}\p{N}])" + tok + r"($|[^\p{L}\p{N}])"))
            .collect())
        assert got == want, tok


def test_lightweight_delete_mask(spark, tmp_path):
    """Lightweight DELETE: rows vanish from reads via the mask sidecar
    WITHOUT a part rewrite; compact() materializes the deletion and
    drops the masks with the old parts."""
    import os
    t = MergeTreeTable(spark, str(tmp_path / "lwd"), order_by=["k"])
    t.insert(spark.range(100).selectExpr("id as k", "id * 2 as v"))
    parts_before = t.parts()
    t.delete_where_lightweight(F.col("k") % 10 == 0)
    # no rewrite: same part directories
    assert t.parts() == parts_before
    assert t.read_raw().count() == 90
    assert sorted(r.k for r in
                  t.read_raw().filter(F.col("k") < 15).collect()) == \
        [1, 2, 3, 4, 5, 6, 7, 8, 9, 11, 12, 13, 14]
    # masks accumulate across deletes
    t.delete_where_lightweight(F.col("k") == 1)
    assert t.read_raw().count() == 89
    # FINAL-style reads see the mask too
    assert t.read().count() == 89
    # compact materializes: masks gone, data rewritten
    t.compact()
    assert t.read_raw().count() == 89
    assert all(not os.path.isdir(os.path.join(p, "_delete_mask"))
               for p in t.parts())
    # deleting everything leaves an empty-but-valid table view
    t.delete_where_lightweight(F.lit(True))
    assert t.read_raw().count() == 0


def test_lightweight_delete_masks_token_and_gin_scans(spark, tmp_path):
    """Deleted rows must NOT reappear through the index-pruned scan
    paths (read_raw's implicit `_row_exists = 1` contract covers ALL
    reads in the reference): tokenbf file-pruned scans and GIN
    row-group-granular scans both anti-join the mask sidecar."""
    rows = [(i, f"document {i} about topic{i // 500} and data")
            for i in range(2000)]
    df = (spark.createDataFrame(rows, "doc_id long, text string")
          .repartitionByRange(2, "doc_id"))
    t = MergeTreeTable(spark, str(tmp_path / "lwdidx"), order_by=["doc_id"],
                       token_index_cols=["text"], gin_index_cols=["text"],
                       )
    t.insert(df, write_options={"parquet.block.size": "16384",
                                "parquet.page.size": "4096"})
    assert t.scan_with_token("text", "topic1").count() == 500
    assert t.scan_with_token_gin("text", "topic1").count() == 500
    t.delete_where_lightweight(F.col("doc_id") % 2 == 0)
    # both index paths honor the mask: exactly the odd half remains
    got_tok = sorted(r.doc_id for r in
                     t.scan_with_token("text", "topic1").collect())
    got_gin = sorted(r.doc_id for r in
                     t.scan_with_token_gin("text", "topic1").collect())
    expect = [i for i in range(500, 1000) if i % 2 == 1]
    assert got_tok == expect
    assert got_gin == expect
    # multi-token GIN modes honor the mask too
    assert t.scan_with_tokens_gin("text", ["topic0", "topic1"],
                                  mode="any").count() == 500


def test_column_defaults_on_insert(spark, tmp_path):
    """CH DEFAULT expressions (AddingDefaultsTransform analog): missing
    columns materialize from the expression, NULLs in present columns
    fill in; defaults may reference other inserted columns; the
    contract survives a metadata reload."""
    t = MergeTreeTable(
        spark, str(tmp_path / "defs"), order_by=["k"],
        column_defaults={"status": "'new'", "doubled": "k * 2"})
    t.insert(spark.createDataFrame(
        [(1, "set"), (2, None)], "k int, status string"))
    rows = {r.k: (r.status, r.doubled)
            for r in t.read_raw().collect()}
    assert rows[1] == ("set", 2)      # present value kept
    assert rows[2] == ("new", 4)      # NULL filled, missing col built
    t2 = MergeTreeTable.load(spark, str(tmp_path / "defs"))
    assert t2.column_defaults == {"status": "'new'", "doubled": "k * 2"}
    t2.insert(spark.createDataFrame([(3, None)], "k int, status string"))
    assert {r.k: r.doubled for r in t2.read_raw().collect()}[3] == 6


# ------------------------------------------------ part schemas

def _assert_part_schemas_are_inferred(spark, t):
    """Every current part carries its ``_schema.json`` (the schema the
    part is pinned to from its write on), and reads with
    the schema Spark infers for it — all columns of an unpartitioned
    part, the data columns of a hive part (whose partition columns
    keep their written types instead of the ones directory names
    suggest)."""
    import os
    for p in t.parts():
        assert os.path.isfile(os.path.join(p, "_schema.json"))
        got = t._read_part(p).schema
        inferred = spark.read.parquet(p).schema
        if not t.partition_by:
            assert got == inferred
        else:
            data = [f for f in got.fields if f.name not in t.partition_by]
            assert data == [f for f in inferred.fields
                            if f.name not in t.partition_by]


_PIN_OPS = {
    "insert": [],
    "add_column": ["ALTER TABLE {t} ADD COLUMN c Int32 DEFAULT 7",
                   "INSERT INTO {t} VALUES (5, 'e', 2, 9)"],
    "lightweight_delete": ["DELETE FROM {t} WHERE k = 1"],
    "heavy_delete": ["ALTER TABLE {t} DELETE WHERE k = 1"],
    "drop_partition": ["ALTER TABLE {t} DROP PARTITION 2"],
    "detach_attach": ["ALTER TABLE {t} DETACH PART '{part0}'",
                      "ALTER TABLE {t} ATTACH PART '{part0}'"],
    "detach_attach_partition": ["ALTER TABLE {t} DETACH PARTITION 1",
                                "ALTER TABLE {t} ATTACH PARTITION 1"],
    "truncate": ["TRUNCATE TABLE {t}"],
    "optimize": ["OPTIMIZE TABLE {t} FINAL"],
}


@pytest.mark.parametrize("op", sorted(_PIN_OPS))
def test_pinned_schema_equals_inference(spark, op):
    import os
    from clickhouse_core_spark.plans.frontend import ch_sql
    tables, name = {}, f"pin_{op}"
    part_by = " PARTITION BY p" if "partition" in op else ""
    ch_sql(spark, f"CREATE TABLE {name} (k UInt32, s String, p UInt8) "
                  f"ENGINE = MergeTree ORDER BY k{part_by}", tables=tables)
    ch_sql(spark, f"INSERT INTO {name} VALUES (1, 'a', 1), (2, 'b', 2)",
           tables=tables)
    ch_sql(spark, f"INSERT INTO {name} VALUES (3, 'c', 1)", tables=tables)
    t = tables[name]
    part0 = os.path.basename(t.parts()[0])
    before = sorted(tuple(r) for r in ch_sql(
        spark, f"SELECT k, s, p FROM {name}", tables=tables).collect())
    for stmt in _PIN_OPS[op]:
        ch_sql(spark, stmt.format(t=name, part0=part0), tables=tables)
    _assert_part_schemas_are_inferred(spark, t)
    if op == "truncate":
        assert t.parts() == []
    if op.startswith("detach_attach"):
        assert sorted(tuple(r) for r in ch_sql(
            spark, f"SELECT k, s, p FROM {name}",
            tables=tables).collect()) == before
    ch_sql(spark, f"DROP TABLE {name}", tables=tables)


def test_part_schema_type_matrix(spark, tmp_path):
    """A part reads with the schema it was written with, equal to a
    fresh inference for every column type the goldens store
    (Nullable, LowCardinality, small ints, Decimal, DateTime64 with
    its scale metadata, timestamp_ntz, date, binary, Array/Map/Tuple
    also with non-nullable elements, the JSON string carrier)."""
    from decimal import Decimal
    from pyspark.sql import types as T
    df = spark.createDataFrame(
        [(1, None, "lc", 3, 4, Decimal("1.5"), Decimal(7),
          "2020-01-01 00:00:00.123", [1], {"a": 1}, (1, "x"), '{"a":1}',
          bytearray(b"b"))],
        "k int, n int, lc string, ti tinyint, si smallint, "
        "dec decimal(18,4), d20 decimal(20,0), ts string, arr array<int>, "
        "m map<string,int>, tup struct<x:int,y:string>, js string, "
        "bin binary")
    df = df.select(
        "*", F.to_date("ts").alias("d"),
        F.col("ts").cast("timestamp_ntz").alias("ntz"),
        F.array(F.lit(1)).alias("arr_nn"),
        F.create_map(F.lit("a"), F.lit(1)).alias("map_nn"),
        F.struct(F.lit(1).alias("x")).alias("tup_nn")).withColumn(
        "ts", F.col("ts").cast("timestamp").alias(
            "ts", metadata={"ch_dt64_scale": 3}))
    assert not df.schema["arr_nn"].dataType.containsNull
    t = MergeTreeTable(spark, str(tmp_path / "types"), order_by=["k"])
    for _ in range(2):
        t.insert(df)
    _assert_part_schemas_are_inferred(spark, t)
    assert t.read_raw().schema["ts"].metadata == {"ch_dt64_scale": 3}
    assert t.read_raw().collect() == spark.read.parquet(
        *t.parts()).collect()
    h = MergeTreeTable(spark, str(tmp_path / "hive"), order_by=["k"],
                       partition_by=["n"])
    h.insert(df.fillna(0, ["n"]).withColumn("n", F.col("n").cast("short")))
    _assert_part_schemas_are_inferred(spark, h)
    assert h.read_raw().schema["n"].dataType == T.ShortType()


def test_hive_string_partition_keeps_its_values(spark):
    """A String partition key whose values look like numbers reads
    back as the strings that were inserted: inferring the type from
    directory names made '01' and '1' the same int."""
    from pyspark.sql import types as T
    from clickhouse_core_spark.plans.frontend import ch_sql
    tables = {}
    q = lambda s: ch_sql(spark, s, tables=tables)  # noqa: E731
    q("CREATE TABLE hive_str (k UInt32, s String) ENGINE = MergeTree "
      "PARTITION BY s ORDER BY k")
    q("INSERT INTO hive_str VALUES (1, '01'), (2, '1'), (3, '007')")
    df = q("SELECT k, s FROM hive_str")
    assert df.schema["s"].dataType == T.StringType()
    assert sorted(tuple(r) for r in df.collect()) == [
        (1, "01"), (2, "1"), (3, "007")]
    assert q("SELECT count() AS n FROM (SELECT s FROM hive_str "
             "GROUP BY s)").first()["n"] == 3
    q("DROP TABLE hive_str")


def test_read_raw_of_a_loaded_table_launches_no_job(spark, tmp_path):
    sc = spark.sparkContext
    path = str(tmp_path / "nojob")
    t = MergeTreeTable(spark, path, order_by=["k"])
    for i in range(3):
        t.insert(spark.createDataFrame([(i, "v")], "k int, v string"))
    try:
        sc.setJobGroup("mt_schema", "read_raw of a loaded table")
        df = MergeTreeTable.load(spark, path).read_raw()
        assert sc.statusTracker().getJobIdsForGroup("mt_schema") == []
        # the probe sees the job of a Parquet schema inference
        spark.read.parquet(t.parts()[0])
        assert sc.statusTracker().getJobIdsForGroup("mt_schema") != []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert _rows(df, "k", "v") == [(0, "v"), (1, "v"), (2, "v")]


# ------------------------------------------------ DROP / key-value tables

def test_drop_table_removes_views_and_data(spark):
    import os
    from clickhouse_core_spark.plans.frontend import ch_sql
    tables = {}
    ch_sql(spark, "CREATE TABLE drop_rmt (k UInt32, v UInt32) ENGINE = "
                  "ReplacingMergeTree(v) ORDER BY k", tables=tables)
    ch_sql(spark, "INSERT INTO drop_rmt VALUES (1, 1), (1, 2)",
           tables=tables)
    path = tables["drop_rmt"].path
    ch_sql(spark, "DROP TABLE drop_rmt", tables=tables)
    with pytest.raises(Exception, match="drop_rmt"):
        ch_sql(spark, "SELECT * FROM drop_rmt FINAL", tables=tables).collect()
    assert not os.path.exists(path)


def test_drop_replica_keeps_shared_storage(spark):
    import os
    from clickhouse_core_spark.plans.frontend import ch_sql
    tables = {}
    for r in ("1", "2"):
        ch_sql(spark, f"CREATE TABLE drop_rep{r} (k UInt32) ENGINE = "
                      f"ReplicatedMergeTree('/ch/drop_rep', '{r}') "
                      f"ORDER BY k", tables=tables)
    ch_sql(spark, "INSERT INTO drop_rep1 VALUES (1), (2)", tables=tables)
    path = tables["drop_rep1"].path
    ch_sql(spark, "DROP TABLE drop_rep1", tables=tables)
    assert os.path.isdir(path)
    assert ch_sql(spark, "SELECT count() AS n FROM drop_rep2",
                  tables=tables).first()["n"] == 2
    ch_sql(spark, "DROP TABLE drop_rep2", tables=tables)
    assert not os.path.exists(path)


def test_drop_keeps_storage_reused_after_rename(spark):
    """RENAME keeps the storage directory; a new table under the old
    name gets a directory of its own, so the renamed table keeps its
    row, and dropping it leaves the new table's."""
    from clickhouse_core_spark.plans.frontend import ch_sql
    tables = {}
    q = lambda s: ch_sql(spark, s, tables=tables)  # noqa: E731
    q("CREATE TABLE drop_ren (k UInt32) ENGINE = MergeTree ORDER BY k")
    q("INSERT INTO drop_ren VALUES (7)")
    q("RENAME TABLE drop_ren TO drop_ren2")
    q("CREATE TABLE drop_ren (k UInt32) ENGINE = MergeTree ORDER BY k")
    q("INSERT INTO drop_ren VALUES (1)")
    assert [tuple(r) for r in q("SELECT k FROM drop_ren2").collect()] \
        == [(7,)]
    q("DROP TABLE drop_ren2")
    assert q("SELECT count() AS n FROM drop_ren").first()["n"] == 1
    q("DROP TABLE drop_ren")


def test_rename_moves_the_name_not_the_storage(spark):
    """RENAME TABLE moves the name and its FINAL view: the old name is
    gone, a lightweight DELETE made before the RENAME still holds, and
    re-creating the old name leaves the renamed table's rows alone."""
    from clickhouse_core_spark.plans.frontend import ch_sql
    tables = {}
    q = lambda s: ch_sql(spark, s, tables=tables)  # noqa: E731
    rows = lambda s: sorted(tuple(r) for r in q(s).collect())  # noqa: E731
    q("CREATE TABLE rn (k UInt32, v UInt32) ENGINE = ReplacingMergeTree(v) "
      "ORDER BY k")
    q("INSERT INTO rn VALUES (1, 1), (1, 2), (2, 5), (4, 4)")
    q("DELETE FROM rn WHERE k = 4")
    path = tables["rn"].path
    q("RENAME TABLE rn TO rn2")
    assert tables["rn2"].path == path
    assert rows("SELECT k, v FROM rn2 FINAL") == [(1, 2), (2, 5)]
    for stmt in ("SELECT k FROM rn", "SELECT k FROM rn FINAL"):
        with pytest.raises(Exception, match="rn"):
            q(stmt).collect()
    q("CREATE TABLE rn (k UInt32, v UInt32) ENGINE = ReplacingMergeTree(v) "
      "ORDER BY k")
    assert tables["rn"].path != path
    q("INSERT INTO rn VALUES (9, 9)")
    q("INSERT INTO rn2 VALUES (3, 1)")
    assert rows("SELECT k, v FROM rn2") == [(1, 1), (1, 2), (2, 5), (3, 1)]
    assert rows("SELECT k, v FROM rn") == [(9, 9)]
    q("DROP TABLE rn")
    q("DROP TABLE rn2")


def test_part_without_schema_file_names_the_part(spark, tmp_path):
    """A part without ``_schema.json`` (written before parts carried
    it, or assembled by hand) fails its read with an error naming the
    part; nothing falls back to Parquet inference."""
    import os
    import re
    t = MergeTreeTable(spark, str(tmp_path / "noschema"), order_by=["k"])
    t.insert(spark.createDataFrame([(1, "v")], "k int, v string"))
    part = t.parts()[0]
    os.remove(os.path.join(part, "_schema.json"))
    with pytest.raises(FileNotFoundError, match=re.escape(part)):
        t.read_raw()


def test_rocksdb_keeps_latest_value_across_mutations(spark):
    """EmbeddedRocksDB upserts: a mutation rewrites part by part in
    part order, so the latest value of a key still wins — through the
    view after the DELETE and after the following merge."""
    from clickhouse_core_spark.plans.frontend import ch_sql
    tables = {}
    q = lambda s: ch_sql(spark, s, tables=tables)  # noqa: E731
    q("CREATE TABLE kv_mut (k UInt32, v String) ENGINE = EmbeddedRocksDB "
      "PRIMARY KEY k")
    q("INSERT INTO kv_mut VALUES (1, 'a'), (2, 'b')")
    q("INSERT INTO kv_mut VALUES (1, 'c')")
    q("ALTER TABLE kv_mut DELETE WHERE k = 2")
    rows = lambda: sorted(tuple(r) for r in  # noqa: E731
                          q("SELECT k, v FROM kv_mut").collect())
    assert rows() == [(1, "c")]
    q("OPTIMIZE TABLE kv_mut")
    assert rows() == [(1, "c")]
    q("DROP TABLE kv_mut")


def test_mutation_emptying_a_hive_part_drops_it(spark, tmp_path):
    """A per-part DELETE that removes every row of a hive-partitioned
    part leaves no part behind (an empty partitioned write has no file
    to read a schema from)."""
    t = MergeTreeTable(spark, str(tmp_path / "hive_del"), order_by=["k"],
                       partition_by=["p"])
    t.insert(spark.createDataFrame([(1, 1)], "k int, p int"))
    t.insert(spark.createDataFrame([(2, 2)], "k int, p int"))
    t.delete_where(F.col("p") == 2)
    assert len(t.parts()) == 1
    t.insert(spark.createDataFrame([], "k int, p int"))
    assert len(t.parts()) == 1
    assert _rows(t.read_raw(), "k", "p") == [(1, 1)]


def test_join_engine_insert_refreshes_its_view(spark):
    from clickhouse_core_spark.plans.frontend import ch_sql
    tables = {}
    ch_sql(spark, "CREATE TABLE jeng (k UInt32, v String) "
                  "ENGINE = Join(ANY, LEFT, k)", tables=tables)
    ch_sql(spark, "INSERT INTO jeng VALUES (1, 'a')", tables=tables)
    assert [tuple(r) for r in ch_sql(spark, "SELECT k, v FROM jeng",
                                     tables=tables).collect()] == [(1, "a")]
    ch_sql(spark, "DROP TABLE jeng", tables=tables)
