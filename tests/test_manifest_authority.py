"""Manifests-as-listing mode (``manifest_authority=True``): generation
membership comes from the span manifest's ``listing``, the DML carry is
a manifest REFERENCE instead of a hardlink, and generation GC is
reference-aware — the executable form of the HDFS/object-store mapping
``storage_io.py`` item 4 documents (no-hardlink backends keep
generation directories virtual, the Iceberg/Delta membership model).

Pins:

- membership authority: a stray parquet file dropped into the live
  generation directory is IGNORED by reads, counts, and DML locates;
- reference carry: after a selective DML, carried members are NOT
  physically present in the new generation directory (link_or_copy was
  never called for them) yet every read resolves them through the
  manifest's refs — and refs FLATTEN (a ref never points at a ref);
- reference-aware GC: the generation directory that physically owns
  referenced files survives sweeps for as long as any live generation
  references it, across multiple DML swaps;
- the store battery's core behaviors (CTAS/scan, upsert, delete,
  point get, retention GC, split, changefeed round trip, snapshot
  bootstrap) under the mode — the feature suites re-run in BOTH modes
  via their parametrized fixtures, this file pins the mode-specific
  mechanics.
"""

import os

import pytest
from pyspark.sql import functions as F

from spark_sql_hbase_spark.catalog import TableSpec
from spark_sql_hbase_spark.sources.keyed_parquet import KeyedTableStore


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("ma_wh"))
    return KeyedTableStore(spark, wh, manifest_authority=True)


def _mk(store, spark, name, rows, split_keys=None):
    spec = TableSpec(
        namespace="ma",
        name=name,
        key_type="string",
        families={"cf": {"v": "long"}},
        split_keys=split_keys or [],
    )
    store.create_table(spec)
    store.insert(
        f"ma.{name}",
        spark.createDataFrame(rows, "row_key string, `cf:v` long"),
        overwrite=True,
    )
    return spec


def _rows(store, name):
    return {(r["row_key"], r["cf:v"]) for r in store.read(name).collect()}


def test_stray_file_in_generation_dir_is_ignored(store, spark):
    spec = _mk(store, spark, "stray", [(f"k{i:02d}", i) for i in range(10)])
    path = store.table_path(spec)
    # an operator (or a crashed foreign writer) drops a parquet file
    # into the live generation directory — WITHOUT a manifest entry
    spark.createDataFrame(
        [("zzz", 999)], "row_key string, `cf:v` long"
    ).coalesce(1).write.mode("overwrite").parquet(path + ".stray")
    stray = next(
        f for f in os.listdir(path + ".stray") if f.endswith(".parquet")
    )
    os.rename(
        os.path.join(path + ".stray", stray),
        os.path.join(path, "part-stray-deadbeef.parquet"),
    )
    assert "part-stray-deadbeef.parquet" in store._list_parquet(path)
    # membership says no: reads, listings and counts all ignore it
    assert "part-stray-deadbeef.parquet" not in store._data_files(path)
    assert _rows(store, "ma.stray") == {(f"k{i:02d}", i) for i in range(10)}
    assert store._footer_row_count(path) == 10
    # ... and a DML locate does not resurrect it
    store.delete_where("ma.stray", "row_key = 'k00'")
    assert ("zzz", 999) not in _rows(store, "ma.stray")


def test_dml_carry_is_reference_not_hardlink(store, spark):
    spec = _mk(
        store,
        spark,
        "refs",
        [(f"{p}{i:03d}", i) for p in "abc" for i in range(40)],
        split_keys=["b", "c"],
    )
    path0 = store.table_path(spec)
    gen0 = os.path.basename(path0)
    members0 = set(store._data_files(path0))
    # selective DML: only the a-region rewrites; b/c files carry
    store.upsert(
        "ma.refs",
        spark.createDataFrame(
            [("a001", 111)], "row_key string, `cf:v` long"
        ),
    )
    path1 = store.table_path(spec)
    carried = members0 & set(store._data_files(path1))
    assert carried, "untouched regions must carry by name"
    refs1 = store._span_refs(path1)
    for f in carried:
        # carried members are NOT physically present in the new
        # generation: the manifest references their original directory
        assert not os.path.exists(os.path.join(path1, f))
        assert refs1[f] == gen0
        assert os.path.isfile(store._file_abs(path1, f, refs1))
    # the read resolves through the refs and the content is exact
    got = _rows(store, "ma.refs")
    assert ("a001", 111) in got and len(got) == 120

    # second DML: refs FLATTEN — still pointing at gen0, never at gen1
    store.upsert(
        "ma.refs",
        spark.createDataFrame(
            [("a002", 222)], "row_key string, `cf:v` long"
        ),
    )
    path2 = store.table_path(spec)
    refs2 = store._span_refs(path2)
    for f in set(store._data_files(path2)) & carried:
        assert refs2[f] == gen0, "a ref must never point at a ref"
    got = _rows(store, "ma.refs")
    assert ("a002", 222) in got and len(got) == 120


def test_referenced_generation_survives_sweeps(store, spark):
    spec = _mk(
        store,
        spark,
        "gcref",
        [(f"{p}{i:03d}", i) for p in "ab" for i in range(30)],
        split_keys=["b"],
    )
    root = store.table_root(spec)
    gen0 = os.path.basename(store.table_path(spec))
    # several DML swaps later, gen0 is neither current nor previous,
    # but still physically owns the carried b-region files
    for i in range(4):
        store.upsert(
            "ma.gcref",
            spark.createDataFrame(
                [(f"a{i:03d}", 1000 + i)], "row_key string, `cf:v` long"
            ),
        )
    assert os.path.isdir(os.path.join(root, gen0)), (
        "referenced generation directory must survive reference-aware GC"
    )
    cur = store.table_path(spec)
    assert gen0 in set(store._span_refs(cur).values())
    # content stays exact through every swap
    got = _rows(store, "ma.gcref")
    assert len(got) == 60
    assert ("b000", 0) in got
    # a MAJOR compaction rewrites everything physically: gen0 loses its
    # last reference and the next swap's sweep reclaims it
    store.compact("ma.gcref")
    store.upsert(
        "ma.gcref",
        spark.createDataFrame([("a000", 1)], "row_key string, `cf:v` long"),
    )
    store.upsert(
        "ma.gcref",
        spark.createDataFrame([("a000", 2)], "row_key string, `cf:v` long"),
    )
    assert not os.path.isdir(os.path.join(root, gen0)), (
        "unreferenced directory must eventually be reclaimed"
    )
    assert len(_rows(store, "ma.gcref")) == 60


def test_append_then_swap_membership_is_exact(store, spark):
    spec = _mk(store, spark, "appsw", [(f"k{i:02d}", i) for i in range(10)])
    # append rides a span SIDECAR (its membership record)
    store.insert(
        "ma.appsw",
        spark.createDataFrame([("x1", 101), ("x2", 102)],
                              "row_key string, `cf:v` long"),
    )
    assert len(_rows(store, "ma.appsw")) == 12
    # a swap after the append carries manifest+sidecar members alike
    store.delete_where("ma.appsw", "row_key = 'k03'")
    got = _rows(store, "ma.appsw")
    assert len(got) == 11 and ("x1", 101) in got and ("k03", 3) not in got


def test_point_get_and_bloom_under_manifest_mode(store, spark):
    spec = TableSpec(
        namespace="ma",
        name="pget",
        key_type="string",
        families={"cf": {"v": "long"}},
        split_keys=["m"],
        properties={"BLOOMFILTER": "ROW"},
    )
    store.create_table(spec)
    store.insert(
        "ma.pget",
        spark.createDataFrame(
            [(f"{p}{i:03d}", i) for p in "az" for i in range(50)],
            "row_key string, `cf:v` long",
        ),
        overwrite=True,
    )
    store.upsert(
        "ma.pget",
        spark.createDataFrame([("a001", 11)], "row_key string, `cf:v` long"),
    )
    got = {
        (r["row_key"], r["cf:v"])
        for r in store.get("ma.pget", ["a001", "z049", "nope"]).collect()
    }
    assert got == {("a001", 11), ("z049", 49)}


def test_retention_gc_under_manifest_mode(store, spark):
    spec = TableSpec(
        namespace="ma",
        name="vers",
        key_type="string",
        families={"cf": {"bal": "long", "v": "long"}},
    )
    store.create_table(spec)
    store.insert(
        "ma.vers",
        spark.createDataFrame(
            [("k1", 10, 1), ("k2", 20, 1)],
            "row_key string, `cf:bal` long, `cf:v` long",
        ),
        overwrite=True,
    )
    store.insert(
        "ma.vers",
        spark.createDataFrame(
            [("k1", 11, 2)], "row_key string, `cf:bal` long, `cf:v` long"
        ),
    )
    store.compact_versions("ma.vers", "cf:v", keep_versions=1)
    got = {
        (r["row_key"], r["cf:bal"], r["cf:v"])
        for r in store.read("ma.vers").collect()
    }
    assert got == {("k1", 11, 2), ("k2", 20, 1)}


def test_snapshot_bootstrap_round_trip_under_manifest_mode(
    store, spark, tmp_path_factory
):
    """Snapshot capture resolves references to PHYSICAL files (the
    snapshot is self-contained), and the replication loop converges."""
    _mk(store, spark, "ship", [(f"k{i:02d}", i) for i in range(15)])
    # a DML first, so the snapshot captures a generation WITH refs
    store.upsert(
        "ma.ship",
        spark.createDataFrame([("k01", 101)], "row_key string, `cf:v` long"),
    )
    store.snapshot("ma.ship", "ma_s1")
    remote_wh = str(tmp_path_factory.mktemp("ma_remote"))
    store.export_snapshot("ma_s1", remote_wh)
    remote = KeyedTableStore(spark, remote_wh, manifest_authority=True)
    remote.clone_snapshot("ma_s1", "ma.ship")
    assert _rows(remote, "ma.ship") == _rows(store, "ma.ship")
    store.upsert(
        "ma.ship",
        spark.createDataFrame([("k02", 202), ("x9", 900)],
                              "row_key string, `cf:v` long"),
    )
    store.delete_where("ma.ship", "row_key = 'k05'")
    remote.apply_changes(
        "ma.ship", store.read_changes("ma.ship", versus="ma_s1")
    )
    assert _rows(remote, "ma.ship") == _rows(store, "ma.ship")


def test_datasource_reads_manifest_membership(store, spark):
    """The Python DataSource honors membership under
    ``.option("manifest_authority", "true")``: stray files ignored,
    reference-carried members resolved — matching the store surface."""
    spec = _mk(
        store,
        spark,
        "dsrc",
        [(f"{p}{i:03d}", i) for p in "ab" for i in range(20)],
        split_keys=["b"],
    )
    # a DML leaves carried members as refs; a stray lands beside them
    store.upsert(
        "ma.dsrc",
        spark.createDataFrame([("a001", 111)], "row_key string, `cf:v` long"),
    )
    path = store.table_path(spec)
    spark.createDataFrame(
        [("zzz", 999)], "row_key string, `cf:v` long"
    ).coalesce(1).write.mode("overwrite").parquet(path + ".stray")
    stray = next(
        f for f in os.listdir(path + ".stray") if f.endswith(".parquet")
    )
    os.rename(
        os.path.join(path + ".stray", stray),
        os.path.join(path, "part-stray-cafebabe.parquet"),
    )
    from spark_sql_hbase_spark.sources.keyed_datasource import (
        KeyedTableDataSource,
    )

    spark.dataSource.register(KeyedTableDataSource)
    df = (
        spark.read.format("keyedtable")
        .schema(spec.schema())
        .option("path", path)
        .option("manifest_authority", "true")
        .load()
    )
    got = {(r["row_key"], r["cf:v"]) for r in df.collect()}
    assert ("zzz", 999) not in got
    assert ("a001", 111) in got and ("b000", 0) in got and len(got) == 40
    # row-key pruning still plans over resolved members
    pruned = df.filter(F.col("row_key") == "b005")
    assert {(r["row_key"], r["cf:v"]) for r in pruned.collect()} == {("b005", 5)}


def test_concurrent_writers_under_manifest_mode(store, spark):
    """Manifest-mode concurrency: the membership cache must never serve
    a stale listing across another writer's commit (the signature is
    the span documents' stat tuple), and the CAS/carry protocol holds
    when the carry is a manifest reference.  Three writers interleave
    appends, upserts, and deletes; the final content must be exact."""
    import threading

    _mk(
        store, spark, "conc",
        [(f"k{i:03d}", i) for i in range(30)],
        split_keys=["k015"],
    )
    errs = []

    def appender():
        try:
            for i in range(3):
                store.insert(
                    "ma.conc",
                    spark.createDataFrame(
                        [(f"x{i}", 100 + i)], "row_key string, `cf:v` long"
                    ),
                )
        except Exception:
            import traceback
            errs.append(traceback.format_exc())

    def upserter():
        try:
            for i in range(3):
                store.upsert(
                    "ma.conc",
                    spark.createDataFrame(
                        [(f"k{i:03d}", 1000 + i)],
                        "row_key string, `cf:v` long",
                    ),
                )
        except Exception:
            import traceback
            errs.append(traceback.format_exc())

    def deleter():
        try:
            for i in range(20, 23):
                store.delete_where("ma.conc", f"row_key = 'k{i:03d}'")
        except Exception:
            import traceback
            errs.append(traceback.format_exc())

    threads = [
        threading.Thread(target=f) for f in (appender, upserter, deleter)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs, errs[0]
    got = _rows(store, "ma.conc")
    want = {(f"k{i:03d}", i) for i in range(30) if i not in (0, 1, 2, 20, 21, 22)}
    want |= {(f"k{i:03d}", 1000 + i) for i in range(3)}
    want |= {(f"x{i}", 100 + i) for i in range(3)}
    assert got == want


def test_covered_index_under_manifest_mode(store, spark):
    """Covered-index dual maintenance holds in manifest mode: the index
    table is itself a manifest-authority keyed table, answers
    index-only, and stays consistent through a selective DML whose
    carry is by reference."""
    rows = [(i, f"name{i}", i % 4, float(i) * 1.5) for i in range(1, 41)]
    src = spark.createDataFrame(
        rows, "k long, name string, grp long, val double"
    )
    store.ctas(
        TableSpec(
            namespace="ma",
            name="ixmain",
            key_type="string",
            families={"c": {"name": "string", "grp": "long", "val": "double"}},
        ),
        src.select(
            F.lpad(F.col("k").cast("string"), 8, "0").alias("row_key"),
            F.col("name").alias("c:name"),
            F.col("grp").alias("c:grp"),
            F.col("val").alias("c:val"),
        ),
    )
    store.create_covered_index(
        "ma.ixmain", "ma.by_grp", index_col="c:grp",
        include=["c:name", "c:val"], key_width=4,
    )
    # selective DML on the main table: the index must follow
    store.upsert(
        "ma.ixmain",
        spark.createDataFrame(
            [("00000006", "name6", 2, 99.0)],
            "row_key string, `c:name` string, `c:grp` long, `c:val` double",
        ),
    )
    idx = store.read("ma.by_grp").filter(
        (F.col("row_key") >= "0002|") & (F.col("row_key") < "0002}")
    )
    got = {
        (r["i:src_key"], r["c:name"], r["c:val"]) for r in idx.collect()
    }
    exp = {
        (f"{i:08d}", f"name{i}", i * 1.5)
        for i in range(1, 41)
        if i % 4 == 2 and i != 6
    } | {("00000006", "name6", 99.0)}
    assert got == exp
    files = idx.inputFiles()
    assert files and all("by_grp" in f for f in files), files


def test_engine_session_sql_under_manifest_mode(spark, tmp_path_factory):
    """EngineSession(manifest_authority=True): SQL DDL/DML routes
    through a manifests-as-listing store, and the temp-view read path
    serves membership-correct results."""
    from spark_sql_hbase_spark.session import EngineSession

    sess = EngineSession(
        spark=spark,
        warehouse_dir=str(tmp_path_factory.mktemp("ma_sess")),
        manifest_authority=True,
    )
    assert sess.store.manifest_authority
    sess.sql(
        "CREATE TABLE ma.sqlt (row_key STRING, `cf:v` BIGINT) USING keyed"
    )
    sess.sql("INSERT INTO ma.sqlt VALUES ('k1', 1), ('k2', 2)")
    got = {
        (r["row_key"], r["cf:v"])
        for r in sess.sql("SELECT * FROM ma__sqlt").collect()
    }
    assert got == {("k1", 1), ("k2", 2)}


def test_failed_swap_leaves_membership_and_content_intact(store, spark):
    """Crash-safety in manifest mode: a swap that fails AFTER staging
    (flip never lands) leaves the live generation's membership and
    content untouched, and the next healthy DML commits normally."""
    _mk(store, spark, "crash", [(f"k{i:02d}", i) for i in range(10)])
    before = _rows(store, "ma.crash")
    orig = store._write_gen_manifest

    def boom(*a, **k):
        raise RuntimeError("injected flip failure")

    store._write_gen_manifest = boom
    try:
        with pytest.raises(RuntimeError, match="injected"):
            store.delete_where("ma.crash", "row_key = 'k03'")
    finally:
        store._write_gen_manifest = orig
    assert _rows(store, "ma.crash") == before
    # healthy retry commits
    store.delete_where("ma.crash", "row_key = 'k03'")
    got = _rows(store, "ma.crash")
    assert len(got) == 9 and ("k03", 3) not in got


def test_corrupt_main_manifest_is_fatal_to_membership(tmp_path):
    """Authority must never LOSE files: if the MAIN ``_spans.json``
    exists but cannot be parsed, its base members are unrecoverable
    from append sidecars AND the physical listing would drop carried
    refs / admit strays — so ``_load_span_membership`` raises
    ``CorruptSpanManifestError`` (loud, with remediation) rather than
    silently shrinking membership either way.  The tolerant skip
    remains for SIDECARS only (deleted mid-merge: rename-before-unlink
    means their entries live in the merged manifest)."""
    import json

    from spark_sql_hbase_spark.sources.keyed_parquet import (
        CorruptSpanManifestError,
    )

    gen = tmp_path / "gen"
    gen.mkdir()
    main = gen / "_spans.json"
    main.write_text(
        json.dumps(
            {"version": 1, "files": {}, "listing": ["a.parquet", "b.parquet"]}
        )
    )
    side = gen / "_spans-01.json"
    side.write_text(
        json.dumps({"version": 1, "files": {}, "listing": ["c.parquet"]})
    )
    m = KeyedTableStore._load_span_membership(str(gen))
    assert m is not None
    assert m[0] == {"a.parquet", "b.parquet", "c.parquet"}
    # an unreadable SIDECAR is skipped (mid-merge deletion tolerance)
    side.write_text("{corrupt")
    m = KeyedTableStore._load_span_membership(str(gen))
    assert m is not None and m[0] == {"a.parquet", "b.parquet"}
    # an unreadable MAIN manifest refuses loudly: never sidecar-only
    # membership, never a silent physical-listing fallback
    side.write_text(
        json.dumps({"version": 1, "files": {}, "listing": ["c.parquet"]})
    )
    main.write_text("{corrupt")
    with pytest.raises(CorruptSpanManifestError, match="unreadable main"):
        KeyedTableStore._load_span_membership(str(gen))


def test_datasource_missing_manifest_member_fails_loudly(store, spark):
    """A manifest-listed member whose physical file is missing must
    FAIL the DataSource scan (matching the store-side read path), not
    silently shrink query results — e.g. a prematurely reclaimed
    source generation behind a carried reference."""
    spec = _mk(store, spark, "dsmiss", [(f"k{i:02d}", i) for i in range(6)])
    path = store.table_path(spec)
    from spark_sql_hbase_spark.sources.keyed_datasource import (
        _list_region_files,
    )

    files = _list_region_files(path, True)
    assert files
    os.unlink(files[0])
    with pytest.raises(FileNotFoundError, match="manifest-listed member"):
        _list_region_files(path, True)


def test_dot_qualified_sql_select_insert_readback(spark, tmp_path_factory):
    """The reference's headline flow (`SELECT/INSERT ... ns.name`,
    HBaseSessionCatalog.scala:63-102, README.md:47) must work in the
    100 TB layout: the session router rewrites the relations of Spark's
    parsed plan that name a registered table to the membership-aware
    read (sqlfront.resolve_keyed_dotted_names), so SELECT sees manifest
    membership — strays ignored, reference-carried members resolved —
    and INSERT routes through the store."""
    from spark_sql_hbase_spark.session import EngineSession

    sess = EngineSession(
        spark=spark,
        warehouse_dir=str(tmp_path_factory.mktemp("ma_dotsql")),
        manifest_authority=True,
    )
    sess.sql(
        "CREATE TABLE ma.dq (row_key STRING, `cf:v` BIGINT) USING keyed"
    )
    sess.sql("INSERT INTO ma.dq VALUES ('k1', 1), ('k2', 2)")
    # dot-qualified SELECT readback
    got = {
        (r["row_key"], r["cf:v"])
        for r in sess.sql("SELECT * FROM ma.dq ORDER BY row_key").collect()
    }
    assert got == {("k1", 1), ("k2", 2)}
    # a DML leaves carried members as manifest REFS; a stray parquet
    # lands in the live generation dir — the dot-qualified read must
    # still serve exact membership
    sess.store.upsert(
        "ma.dq",
        spark.createDataFrame([("k1", 11)], "row_key string, `cf:v` long"),
    )
    spec = sess.store.registry.get("ma.dq")
    path = sess.store.table_path(spec)
    spark.createDataFrame(
        [("zzz", 999)], "row_key string, `cf:v` long"
    ).coalesce(1).write.mode("overwrite").parquet(path + ".stray")
    stray = next(
        f for f in os.listdir(path + ".stray") if f.endswith(".parquet")
    )
    os.rename(
        os.path.join(path + ".stray", stray),
        os.path.join(path, "part-stray-deadbeef.parquet"),
    )
    # re-register the view AFTER the stray lands — a directory-listing
    # membership regression would now show it (the view's pinned file
    # list from the upsert-time refresh could never see it otherwise)
    sess.store.refresh("ma.dq")
    got = {
        (r["row_key"], r["cf:v"])
        for r in sess.sql(
            "SELECT row_key, `cf:v` FROM ma.dq WHERE `cf:v` > 0"
        ).collect()
    }
    assert got == {("k1", 11), ("k2", 2)}  # stray invisible, ref resolved
    # joins + aggregates through the resolved name
    n = sess.sql(
        "SELECT COUNT(*) AS n FROM ma.dq a JOIN ma.dq b USING (row_key)"
    ).collect()[0]["n"]
    assert n == 2
    # three-part session-catalog form resolves identically
    got3 = {
        r["row_key"]
        for r in sess.sql("SELECT row_key FROM spark_catalog.ma.dq").collect()
    }
    assert got3 == {"k1", "k2"}


def test_name_resolution_never_rewrites_literals_or_comments(spark, tmp_path_factory):
    """'ma.dq' inside a string literal (or comment) must pass through
    the resolver untouched — only identifier positions resolve."""
    from spark_sql_hbase_spark.session import EngineSession

    sess = EngineSession(
        spark=spark,
        warehouse_dir=str(tmp_path_factory.mktemp("ma_lit")),
        manifest_authority=True,
    )
    sess.sql("CREATE TABLE ma.lit (row_key STRING, `cf:v` BIGINT) USING keyed")
    sess.sql("INSERT INTO ma.lit VALUES ('ma.lit', 1)")
    rows = sess.sql(
        "SELECT row_key, 'ma.lit' AS tag /* ma.lit */ FROM ma.lit "
        "WHERE row_key = 'ma.lit' -- ma.lit\n"
    ).collect()
    assert [(r["row_key"], r["tag"]) for r in rows] == [("ma.lit", "ma.lit")]


def test_use_namespace_bare_name_resolution(spark, tmp_path_factory):
    """`USE ns` + bare table names (reference README.md:55) resolve in
    manifest mode through the router's current-database bare pass."""
    from spark_sql_hbase_spark.session import EngineSession

    sess = EngineSession(
        spark=spark,
        warehouse_dir=str(tmp_path_factory.mktemp("ma_use")),
        manifest_authority=True,
    )
    prev = spark.catalog.currentDatabase()
    try:
        sess.sql("CREATE TABLE ma.bare (row_key STRING, `cf:v` BIGINT) USING keyed")
        sess.sql("USE ma")
        sess.sql("INSERT INTO bare VALUES ('k1', 5)")
        assert [
            r["cf:v"] for r in sess.sql("SELECT `cf:v` FROM bare").collect()
        ] == [5]
        assert "bare" in [
            r.tableName for r in sess.sql("SHOW TABLES IN ma").collect()
        ]
    finally:
        spark.catalog.setCurrentDatabase(prev)


def test_ctas_from_dotted_source_resolves(spark, tmp_path_factory):
    """CTAS whose source query reads a keyed table dot-qualified must
    resolve through the router in manifest mode (the source is parsed
    by stock Spark, which has no catalog entry to serve it)."""
    from spark_sql_hbase_spark.session import EngineSession

    sess = EngineSession(
        spark=spark,
        warehouse_dir=str(tmp_path_factory.mktemp("ma_ctas")),
        manifest_authority=True,
    )
    sess.sql("CREATE TABLE ma.src (row_key STRING, `cf:v` BIGINT) USING keyed")
    sess.sql("INSERT INTO ma.src VALUES ('k1', 1), ('k2', 2), ('k3', 3)")
    sess.sql(
        "CREATE TABLE ma.dst USING keyed AS "
        "SELECT row_key, `cf:v` FROM ma.src WHERE `cf:v` > 1"
    )
    got = {
        (r["row_key"], r["cf:v"])
        for r in sess.sql("SELECT * FROM ma.dst").collect()
    }
    assert got == {("k2", 2), ("k3", 3)}


def test_dotted_resolution_keeps_qualified_column_refs(spark, tmp_path_factory):
    """Review r11: rewriting `FROM ns.t` must keep `t.col` (and alias)
    qualifiers resolving — the rewrite aliases the view back to the
    table name, so statements valid in POSIX mode stay valid here."""
    from spark_sql_hbase_spark.session import EngineSession

    sess = EngineSession(
        spark=spark,
        warehouse_dir=str(tmp_path_factory.mktemp("ma_qual")),
        manifest_authority=True,
    )
    sess.sql("CREATE TABLE ma.q (row_key STRING, `cf:v` BIGINT) USING keyed")
    sess.sql("INSERT INTO ma.q VALUES ('k1', 1), ('k2', 2)")
    # bare-table-name qualifier on the columns
    rows = sess.sql(
        "SELECT q.row_key, q.`cf:v` FROM ma.q WHERE q.`cf:v` > 1"
    ).collect()
    assert [(r["row_key"], r["cf:v"]) for r in rows] == [("k2", 2)]
    # self-join with explicit aliases; comma-FROM list under USE ns
    n = sess.sql(
        "SELECT COUNT(*) AS n FROM ma.q a JOIN ma.q b "
        "ON a.row_key = b.row_key WHERE a.`cf:v` = b.`cf:v`"
    ).collect()[0]["n"]
    assert n == 2
    prev = spark.catalog.currentDatabase()
    try:
        sess.sql("USE ma")
        m = sess.sql(
            "SELECT COUNT(*) AS n FROM q x, q y WHERE x.row_key = y.row_key"
        ).collect()[0]["n"]
        assert m == 2
    finally:
        spark.catalog.setCurrentDatabase(prev)


def test_merge_with_dotted_source_resolves(spark, tmp_path_factory):
    """Review r11 round 2: MERGE INTO ... USING ns.src — the source is
    a bare fragment the position-based resolver can't see, so the MERGE
    handler resolves it directly; both target and source are keyed
    manifest-mode tables here."""
    from spark_sql_hbase_spark.session import EngineSession

    sess = EngineSession(
        spark=spark,
        warehouse_dir=str(tmp_path_factory.mktemp("ma_merge")),
        manifest_authority=True,
    )
    sess.sql("CREATE TABLE ma.mt (row_key STRING, `cf:v` BIGINT) USING keyed")
    sess.sql("INSERT INTO ma.mt VALUES ('k1', 1), ('k2', 2)")
    sess.sql("CREATE TABLE ma.ms (row_key STRING, `cf:v` BIGINT) USING keyed")
    sess.sql("INSERT INTO ma.ms VALUES ('k2', 22), ('k3', 33)")
    sess.sql(
        "MERGE INTO ma.mt USING ma.ms ON row_key "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    got = {
        (r["row_key"], r["cf:v"])
        for r in sess.sql("SELECT * FROM ma.mt").collect()
    }
    assert got == {("k1", 1), ("k2", 22), ("k3", 33)}


def test_db_qualified_column_refs_resolve(spark, tmp_path_factory):
    """Review r11 follow-through: `ns.name.col` column qualifiers —
    valid POSIX SQL — re-qualify to the relation alias in manifest
    mode, end to end."""
    from spark_sql_hbase_spark.session import EngineSession

    sess = EngineSession(
        spark=spark,
        warehouse_dir=str(tmp_path_factory.mktemp("ma_dbq")),
        manifest_authority=True,
    )
    sess.sql("CREATE TABLE ma.dbq (row_key STRING, `cf:v` BIGINT) USING keyed")
    sess.sql("INSERT INTO ma.dbq VALUES ('k1', 1), ('k2', 2)")
    rows = sess.sql(
        "SELECT ma.dbq.row_key, ma.dbq.`cf:v` FROM ma.dbq "
        "WHERE ma.dbq.`cf:v` > 1"
    ).collect()
    assert [(r["row_key"], r["cf:v"]) for r in rows] == [("k2", 2)]
