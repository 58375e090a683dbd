"""Sink semantics: idempotent partition overwrite, MERGE upsert, retention
delete, watermark touch (SURVEY §2.2 K1–K7)."""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sm_etl_cloud_run_spark.sinks import (
    merge_upsert,
    retention_delete,
    touch_watermark,
    write_partition_overwrite,
)
from sm_etl_cloud_run_spark.sinks.merge import dedupe_last_write
from sm_etl_cloud_run_spark.sinks.watermark import read_control, write_control


def test_partition_overwrite_idempotent(spark, tmp_path):
    """K3: re-running the same file's batch must not duplicate rows."""
    path = str(tmp_path / "fact")
    batch1 = spark.createDataFrame(
        [("PASP2408.dbc", 1), ("PASP2408.dbc", 2), ("PASP2407.dbc", 3)], "arquivo string, v int"
    )
    write_partition_overwrite(batch1, path, ["arquivo"])
    # re-process one file with corrected content
    batch2 = spark.createDataFrame([("PASP2408.dbc", 99)], "arquivo string, v int")
    write_partition_overwrite(batch2, path, ["arquivo"])
    out = spark.read.parquet(path)
    rows = sorted((r["arquivo"], r["v"]) for r in out.collect())
    assert rows == [("PASP2407.dbc", 3), ("PASP2408.dbc", 99)]
    # idempotency: same batch again → same state
    write_partition_overwrite(batch2, path, ["arquivo"])
    assert sorted((r["arquivo"], r["v"]) for r in spark.read.parquet(path).collect()) == rows


def test_merge_upsert_k5_semantics(spark, tmp_path):
    """K5: insert new keys, update changed rows, touch unchanged rows."""
    path = str(tmp_path / "meta")
    t0 = dt.datetime(2024, 1, 1)
    t1 = dt.datetime(2024, 2, 1)
    initial = spark.createDataFrame(
        [("PASP2408", t0, 10, "old"), ("PASP2407", t0, 20, "keep")],
        "nome string, mtime timestamp, tamanho int, payload string",
    )
    merge_upsert(spark, initial, path, ["nome"])
    incoming = spark.createDataFrame(
        [
            ("PASP2408", t1, 11, "new"),   # changed mtime → update
            ("PASP2407", t0, 20, "noise"), # unchanged mtime → keep target payload
            ("PASP2409", t1, 30, "ins"),   # new key → insert
        ],
        "nome string, mtime timestamp, tamanho int, payload string",
    )
    merge_upsert(
        spark, incoming, path, ["nome"],
        update_condition=F.col("src.mtime") != F.col("tgt.mtime"),
    )
    rows = {r["nome"]: r for r in spark.read.parquet(path).collect()}
    assert rows["PASP2408"]["payload"] == "new" and rows["PASP2408"]["tamanho"] == 11
    assert rows["PASP2407"]["payload"] == "keep"
    assert rows["PASP2409"]["payload"] == "ins"
    assert len(rows) == 3


def test_dedupe_last_write(spark):
    df = spark.createDataFrame(
        [("a", 1, "old"), ("a", 2, "new"), ("b", 1, "x")], "k string, ver int, v string"
    )
    out = {r["k"]: r["v"] for r in dedupe_last_write(df, ["k"], "ver").collect()}
    assert out == {"a": "new", "b": "x"}


def test_retention_delete_k6(spark, tmp_path):
    """K6: per incoming group, drop target rows older than the group min."""
    path = str(tmp_path / "retain")
    target = spark.createDataFrame(
        [
            ("PA", "SP", dt.date(2023, 1, 1)),
            ("PA", "SP", dt.date(2024, 6, 1)),
            ("PA", "RJ", dt.date(2023, 1, 1)),  # group absent from incoming → kept
        ],
        "tipo string, uf string, d date",
    )
    target.write.parquet(path)
    incoming = spark.createDataFrame([("PA", "SP", dt.date(2024, 1, 1))], "tipo string, uf string, d date")
    retention_delete(spark, incoming, path, ["tipo", "uf"], "d")
    rows = sorted((r["tipo"], r["uf"], r["d"]) for r in spark.read.parquet(path).collect())
    assert rows == [
        ("PA", "RJ", dt.date(2023, 1, 1)),
        ("PA", "SP", dt.date(2024, 6, 1)),
    ]


def test_touch_watermark_k7(spark, tmp_path):
    path = str(tmp_path / "control")
    write_control(path, [
        {"tipo": "PA", "uf": "SP", "timestamp_etl_gcs": None},
        {"tipo": "PA", "uf": "RJ", "timestamp_etl_gcs": None},
    ])
    touch_watermark(path, {"tipo": ["PA"], "uf": ["SP"]}, "timestamp_etl_gcs")
    rows = {r["uf"]: r["timestamp_etl_gcs"] for r in read_control(path)}
    assert rows["SP"] is not None and rows["RJ"] is None
    # the ledger is one parquet file Spark reads with a TimestampType watermark
    assert os.path.isfile(path)
    ctl = spark.read.parquet(path)
    assert ctl.schema["timestamp_etl_gcs"].dataType == T.TimestampType()
    assert ctl.where(F.col("timestamp_etl_gcs").isNotNull()).count() == 1

    # a batch: one rewrite stamps exactly the rows whose key is listed
    path = str(tmp_path / "control_batch")
    write_control(path, [
        {"tipo": "PA", "uf": uf, "timestamp_etl_gcs": None} for uf in ("SP", "RJ", "MG")
    ])
    touch_watermark(path, {"uf": ["SP", "MG"]}, "timestamp_etl_gcs")
    rows = {r["uf"]: r["timestamp_etl_gcs"] for r in read_control(path)}
    assert rows["SP"] is not None and rows["SP"] == rows["MG"] and rows["RJ"] is None
    # a bare string is a collection of characters: rejected, not matched
    with pytest.raises(TypeError):
        touch_watermark(path, {"uf": "SP"}, "timestamp_etl_gcs")
    with pytest.raises(FileNotFoundError):
        touch_watermark(str(tmp_path / "missing"), {"uf": ["SP"]}, "timestamp_etl_gcs")


def test_merge_upsert_null_condition_keeps_target_row(spark, tmp_path):
    """ADVICE r1: a matched row whose update_condition evaluates NULL
    (e.g. either compared timestamp is NULL) must keep the target row —
    SQL MERGE semantics when no WHEN MATCHED clause fires — not vanish."""
    path = str(tmp_path / "meta")
    t0 = dt.datetime(2024, 1, 1)
    initial = spark.createDataFrame(
        [("A", None, "tgt-a"), ("B", t0, "tgt-b")],
        "nome string, mtime timestamp, payload string",
    )
    merge_upsert(spark, initial, path, ["nome"])
    incoming = spark.createDataFrame(
        [("A", t0, "src-a"),    # tgt.mtime NULL → condition NULL → keep target
         ("B", None, "src-b")], # src.mtime NULL → condition NULL → keep target
        "nome string, mtime timestamp, payload string",
    )
    merge_upsert(
        spark, incoming, path, ["nome"],
        update_condition=F.col("src.mtime") != F.col("tgt.mtime"),
    )
    rows = {r["nome"]: r["payload"] for r in spark.read.parquet(path).collect()}
    assert rows == {"A": "tgt-a", "B": "tgt-b"}


def test_compact_parquet_dir_bin_packs_and_preserves_rows(spark, tmp_path):
    from sm_etl_cloud_run_spark.sinks.compact import compact_parquet_dir, dir_stats

    path = str(tmp_path / "smallfiles")
    df = spark.range(20000).selectExpr("id", "id % 97 as k", "CAST(id AS STRING) as s")
    df.repartition(64).write.parquet(path)
    files_before, bytes_before = dir_stats(path)
    assert files_before == 64

    report = compact_parquet_dir(
        spark, path, target_file_bytes=max(1, bytes_before // 4),
    )
    assert not report["skipped"]
    assert report["files_after"] <= 8 < files_before
    assert report["rows"] == 20000
    got = spark.read.parquet(path)
    assert got.count() == 20000
    assert got.selectExpr("sum(id)").first()[0] == sum(range(20000))


def test_compact_with_range_sort_clusters_keys(spark, tmp_path):
    """Range-sorted compaction: each output file covers a disjoint id
    range, so parquet min/max stats can prune point scans."""
    import pyarrow.parquet as pq
    import glob as _glob

    from sm_etl_cloud_run_spark.sinks.compact import compact_parquet_dir

    path = str(tmp_path / "sortme")
    spark.range(10000).selectExpr("id", "id % 7 as v").repartition(16).write.parquet(path)
    report = compact_parquet_dir(
        spark, path, target_file_bytes=1, sort_cols=["id"],
    )
    # target=1 byte caps at ceil(bytes) files but repartitionByRange is
    # bounded by the partition count requested; just require multiple
    # files with disjoint [min, max] id ranges
    files = [f for f in _glob.glob(path + "/*.parquet")]
    assert len(files) >= 2 and report["rows"] == 10000
    ranges = []
    for f in files:
        t = pq.read_table(f, columns=["id"])
        if t.num_rows:
            ids = t["id"].to_pylist()
            ranges.append((min(ids), max(ids)))
    ranges.sort()
    for (lo1, hi1), (lo2, _hi2) in zip(ranges, ranges[1:]):
        assert hi1 < lo2, "file id ranges overlap — range clustering failed"


def test_compact_skips_single_file_dirs(spark, tmp_path):
    from sm_etl_cloud_run_spark.sinks.compact import compact_parquet_dir

    path = str(tmp_path / "onefile")
    spark.range(100).coalesce(1).write.parquet(path)
    report = compact_parquet_dir(spark, path)
    assert report["skipped"] and report["files_before"] == 1


def test_scd2_apply_versions_changes_and_is_idempotent(spark):
    import datetime as dt

    from sm_etl_cloud_run_spark.sinks.scd2 import scd2_apply

    d1, d2 = dt.date(2024, 1, 1), dt.date(2024, 2, 1)
    history = spark.createDataFrame(
        [
            (1, "Alice", "BR", d1, None, True),
            (2, "Bob", "AR", d1, None, True),
            (3, "Carol", "CL", d1, None, True),
        ],
        "id long, name string, country string, valid_from date, valid_to date, is_current boolean",
    )
    snapshot = spark.createDataFrame(
        [
            (1, "Alice", "PT", d2),   # changed country → new version
            (2, "Bob", "AR", d2),     # unchanged → untouched
            (4, "Dave", "UY", d2),    # new key → first version
            # key 3 absent → untouched (no-news, not a delete)
        ],
        "id long, name string, country string, effective_date date",
    )
    kw = dict(key_cols=["id"], compare_cols=["name", "country"])
    v1 = scd2_apply(history, snapshot, **kw)
    rows = {(r["id"], r["valid_from"]): r for r in v1.collect()}
    assert len(rows) == 5
    closed = rows[(1, d1)]
    assert closed["valid_to"] == d2 and not closed["is_current"] and closed["country"] == "BR"
    opened = rows[(1, d2)]
    assert opened["valid_to"] is None and opened["is_current"] and opened["country"] == "PT"
    assert rows[(2, d1)]["is_current"] and rows[(2, d1)]["valid_to"] is None
    assert rows[(3, d1)]["is_current"]
    assert rows[(4, d2)]["is_current"] and rows[(4, d2)]["country"] == "UY"

    # idempotency: the same snapshot applied to the new history changes nothing
    v2 = scd2_apply(v1, snapshot, **kw)
    a = sorted(map(tuple, v1.collect()))
    b = sorted(map(tuple, v2.collect()))
    assert a == b

    # as-of correctness: facts dated d1 see BR, facts dated d2 see PT
    asof = {
        r["valid_from"]: r["country"]
        for r in v2.where("id = 1").collect()
    }
    assert asof == {d1: "BR", d2: "PT"}


def test_morton_code_interleaves_bits(spark):
    from sm_etl_cloud_run_spark.sinks.compact import morton_code

    df = spark.createDataFrame([(3, 2), (0, 0), (1, 0), (0, 1)], "a long, b long")
    got = {(r["a"], r["b"]): r["z"] for r in
           df.select("a", "b", morton_code("a", "b").alias("z")).collect()}
    # bit i of a lands at position 2i, bit i of b at 2i+1
    assert got[(0, 0)] == 0 and got[(1, 0)] == 1 and got[(0, 1)] == 2
    assert got[(3, 2)] == 0b1101


def test_compact_zorder_clusters_two_dimensions(spark, tmp_path):
    """Z-order compaction: per-file (x, y) bounding boxes must be far
    smaller than a plain bin-packed layout's — the property that makes
    parquet footer stats prune 2-D scans."""
    import glob as _glob

    import pyarrow.parquet as pq

    from sm_etl_cloud_run_spark.sinks.compact import compact_parquet_dir

    rows = [(x, y, x * 64 + y) for x in range(64) for y in range(64)]
    df = spark.createDataFrame(rows, "x long, y long, payload long")

    def bbox_area_sum(path):
        total = 0
        for f in _glob.glob(path + "/*.parquet"):
            t = pq.read_table(f, columns=["x", "y"])
            if t.num_rows:
                xs, ys = t["x"].to_pylist(), t["y"].to_pylist()
                total += (max(xs) - min(xs) + 1) * (max(ys) - min(ys) + 1)
        return total

    zpath = str(tmp_path / "zorder")
    df.orderBy(F.rand(seed=7)).repartition(16).write.parquet(zpath)
    _, bytes_before = __import__(
        "sm_etl_cloud_run_spark.sinks.compact", fromlist=["dir_stats"]
    ).dir_stats(zpath)
    report = compact_parquet_dir(
        spark, zpath, target_file_bytes=max(1, bytes_before // 8),
        zorder_cols=("x", "y"),
    )
    assert report["rows"] == 64 * 64 and report["files_after"] >= 4

    plain = str(tmp_path / "plain")
    df.orderBy(F.rand(seed=7)).repartition(report["files_after"]).write.parquet(plain)
    z_area, p_area = bbox_area_sum(zpath), bbox_area_sum(plain)
    # random layout: every file spans ~the whole 64x64 square; z-order
    # files cover disjoint-ish tiles
    assert z_area < 0.5 * p_area, (z_area, p_area)


def test_matview_incremental_equals_full_recompute(spark, tmp_path):
    from pyspark.sql import functions as F

    from sm_etl_cloud_run_spark.sinks.matview import refresh_incremental

    schema = "day string, cents long"
    d1 = spark.createDataFrame(
        [("mon", 100), ("mon", 50), ("tue", 10)], schema)
    d2 = spark.createDataFrame(
        [("mon", 7), ("wed", 300), ("tue", -5)], schema)
    rollup = str(tmp_path / "daily_rollup")

    assert refresh_incremental(
        spark, d1, rollup, ["day"], part_id="p1",
        sum_cols=["cents"], min_cols=["cents"], max_cols=["cents"])
    assert refresh_incremental(
        spark, d2, rollup, ["day"], part_id="p2",
        sum_cols=["cents"], min_cols=["cents"], max_cols=["cents"])
    # re-applying an already-merged partition is a no-op (idempotent)
    assert not refresh_incremental(
        spark, d2, rollup, ["day"], part_id="p2",
        sum_cols=["cents"], min_cols=["cents"], max_cols=["cents"])

    got = {
        r["day"]: (r["n_rows"], r["sum_cents"], r["min_cents"], r["max_cents"])
        for r in spark.read.parquet(rollup).collect()
    }
    full = {
        r["day"]: (r["n"], r["s"], r["mn"], r["mx"])
        for r in d1.unionByName(d2).groupBy("day").agg(
            F.count("*").cast("long").alias("n"), F.sum("cents").alias("s"),
            F.min("cents").alias("mn"), F.max("cents").alias("mx"),
        ).collect()
    }
    assert got == full == {
        "mon": (3, 157, 7, 100), "tue": (2, 5, -5, 10), "wed": (1, 300, 300, 300)
    }


def test_snapshot_publish_atomic_and_pinned(spark, tmp_path):
    from sm_etl_cloud_run_spark.sinks.snapshot import (
        current_version,
        prune_versions,
        publish_snapshot,
        read_snapshot,
    )

    root = str(tmp_path / "warehouse")
    v1 = publish_snapshot(
        {"dim": spark.createDataFrame([(1, "a")], "k long, v string"),
         "fact": spark.createDataFrame([(1, 10)], "k long, m long")},
        root,
    )
    assert v1 == 1 and current_version(root) == 1

    # a reader resolves v1 and stays pinned there across later publishes
    pinned = read_snapshot(spark, root)
    v2 = publish_snapshot(
        {"dim": spark.createDataFrame([(1, "a2")], "k long, v string"),
         "fact": spark.createDataFrame([(1, 20), (2, 5)], "k long, m long")},
        root,
    )
    assert v2 == 2
    assert [r["v"] for r in pinned["dim"].collect()] == ["a"]
    assert pinned["fact"].count() == 1
    fresh = read_snapshot(spark, root)
    assert [r["v"] for r in fresh["dim"].collect()] == ["a2"]
    assert fresh["fact"].count() == 2

    publish_snapshot({"dim": spark.createDataFrame([(9, "z")], "k long, v string")}, root)
    removed = prune_versions(root, keep=2)
    assert removed == ["v1"]
    # current snapshot still reads fine after pruning
    assert read_snapshot(spark, root)["dim"].count() == 1


def test_snapshot_time_travel(spark, tmp_path):
    from sm_etl_cloud_run_spark.sinks.snapshot import (
        publish_snapshot,
        read_snapshot,
    )
    import pytest

    root = str(tmp_path / "tt")
    publish_snapshot({"t": spark.createDataFrame([(1,)], "v long")}, root)
    publish_snapshot({"t": spark.createDataFrame([(2,), (3,)], "v long")}, root)
    assert read_snapshot(spark, root)["t"].count() == 2
    assert [r["v"] for r in read_snapshot(spark, root, version=1)["t"].collect()] == [1]
    with pytest.raises(FileNotFoundError):
        read_snapshot(spark, root, version=99)


def test_merge_upsert_schema_evolution(spark, tmp_path):
    import pyspark.errors
    import pytest

    from sm_etl_cloud_run_spark.sinks.merge import merge_upsert

    target = str(tmp_path / "evolving")
    v1 = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    merge_upsert(spark, v1, target, ["k"])

    # source grew a column: default is a loud failure...
    v2 = spark.createDataFrame([(2, "B", 99), (3, "c", 7)], "k long, v string, score long")
    with pytest.raises(pyspark.errors.PySparkException):
        merge_upsert(spark, v2, target, ["k"])
    # ...and with evolution on, old rows get a typed NULL
    merge_upsert(spark, v2, target, ["k"], allow_schema_evolution=True)
    got = {r["k"]: (r["v"], r["score"]) for r in spark.read.parquet(target).collect()}
    assert got == {1: ("a", None), 2: ("B", 99), 3: ("c", 7)}

    # and a SHRUNKEN source merges too (its missing column is NULL-filled)
    v3 = spark.createDataFrame([(4,)], "k long")
    merge_upsert(spark, v3, target, ["k"], allow_schema_evolution=True)
    got = {r["k"]: (r["v"], r["score"]) for r in spark.read.parquet(target).collect()}
    assert got[4] == (None, None) and got[2] == ("B", 99)


def test_transactional_multi_table_cdc_publish(spark, tmp_path):
    """Composition contract: CDC diffs applied to SEVERAL tables become
    visible through ONE manifest flip — a reader pinned before the
    publish sees the old version of every table, never a mix."""
    from sm_etl_cloud_run_spark.operators.cdc import apply_cdc, cdc_diff
    from sm_etl_cloud_run_spark.sinks.snapshot import publish_snapshot, read_snapshot
    from pyspark.sql import functions as F

    root = str(tmp_path / "tx")
    dim_v1 = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    fact_v1 = spark.createDataFrame([(1, 10), (2, 20)], "k long, m long")
    publish_snapshot({"dim": dim_v1, "fact": fact_v1}, root)
    pinned = read_snapshot(spark, root)

    dim_v2 = spark.createDataFrame([(1, "a"), (2, "B2"), (3, "c")], "k long, v string")
    fact_v2 = spark.createDataFrame([(1, 11), (3, 30)], "k long, m long")
    snap = read_snapshot(spark, root)
    new_tables = {}
    for name, target in (("dim", dim_v2), ("fact", fact_v2)):
        diff = cdc_diff(snap[name], target, ["k"])
        log = snap[name].withColumn("op", F.lit("U")).withColumn("seq", F.lit(0)) \
            .unionByName(diff.withColumn("seq", F.lit(1)))
        new_tables[name] = apply_cdc(log, ["k"], ["seq"]).drop("op", "seq")
    publish_snapshot(new_tables, root)

    # pinned reader: consistent OLD state across both tables
    assert {r["k"]: r["v"] for r in pinned["dim"].collect()} == {1: "a", 2: "b"}
    assert {r["k"]: r["m"] for r in pinned["fact"].collect()} == {1: 10, 2: 20}
    # fresh reader: consistent NEW state across both tables
    fresh = read_snapshot(spark, root)
    assert {r["k"]: r["v"] for r in fresh["dim"].collect()} == {1: "a", 2: "B2", 3: "c"}
    assert {r["k"]: r["m"] for r in fresh["fact"].collect()} == {1: 11, 3: 30}


def test_forget_entity_purges_across_tables_idempotently(spark, tmp_path):
    from sm_etl_cloud_run_spark.sinks.merge import forget_entity

    events_p = str(tmp_path / "ev")
    snap_p = str(tmp_path / "snap")
    spark.createDataFrame(
        [(1, 100), (2, 200), (3, 300), (2, 201)], "user_id long, v long"
    ).write.parquet(events_p)
    spark.createDataFrame(
        [(1, "a"), (4, "d")], "uid long, state string"
    ).write.parquet(snap_p)

    subjects = spark.createDataFrame([(2,), (4,)], "subject long")
    removed = forget_entity(
        spark,
        {events_p: ["user_id"], snap_p: ["uid"]},
        subjects,
    )
    assert removed == {events_p: 2, snap_p: 1}
    assert sorted(r["user_id"] for r in spark.read.parquet(events_p).collect()) == [1, 3]
    assert [r["uid"] for r in spark.read.parquet(snap_p).collect()] == [1]

    # idempotent: re-running the same purge removes nothing more
    again = forget_entity(spark, {events_p: ["user_id"], snap_p: ["uid"]}, subjects)
    assert again == {events_p: 0, snap_p: 0}


def test_snapshot_crashed_publish_recovers_clean(spark, tmp_path):
    """A publish that dies mid-phase-1 leaves an orphan v{N} with no
    per-version manifest: time travel to it refuses (not a mixed table
    list), and the NEXT publish reuses the version number without
    mixing the crashed attempt's files into the committed snapshot."""
    import os

    import pytest

    from sm_etl_cloud_run_spark.sinks.snapshot import (
        publish_snapshot,
        read_snapshot,
    )

    root = str(tmp_path / "crash")
    publish_snapshot({"t": spark.createDataFrame([(1,)], "v long")}, root)

    # simulate a crashed v2 attempt: tables on disk, no version manifest
    orphan = os.path.join(root, "v2")
    spark.createDataFrame([(99,)], "v long").write.parquet(
        os.path.join(orphan, "t.parquet")
    )
    spark.createDataFrame([(98,)], "v long").write.parquet(
        os.path.join(orphan, "stale_extra.parquet")
    )
    with pytest.raises(FileNotFoundError):
        read_snapshot(spark, root, version=2)

    # the retry commits v2 cleanly: only ITS tables, none of the orphan's
    v2 = publish_snapshot({"t": spark.createDataFrame([(2,)], "v long")}, root)
    assert v2 == 2
    snap = read_snapshot(spark, root, version=2)
    assert set(snap) == {"t"}
    assert [r["v"] for r in snap["t"].collect()] == [2]
    assert not os.path.exists(os.path.join(orphan, "stale_extra.parquet"))


def test_matview_merge_preserves_all_null_sum(spark):
    """A key whose measure is NULL in every delta must roll up to a
    NULL sum (what a full recompute returns), not 0 — and schema drift
    between partials is an error, not a silent column drop."""
    import pytest as _pytest

    from sm_etl_cloud_run_spark.sinks.matview import (
        merge_partials,
        partial_aggregate,
    )

    d1 = spark.createDataFrame(
        [("a", None), ("b", 5)], "k string, m long"
    )
    d2 = spark.createDataFrame(
        [("a", None), ("c", None)], "k string, m long"
    )
    p1 = partial_aggregate(d1, ["k"], sum_cols=["m"], part_id="p1")
    p2 = partial_aggregate(d2, ["k"], sum_cols=["m"], part_id="p2")
    merged = {r["k"]: r["sum_m"] for r in merge_partials(p1, p2, ["k"]).collect()}
    full = {
        r["k"]: r["sum_m"]
        for r in d1.unionByName(d2).groupBy("k").agg(F.sum("m").alias("sum_m")).collect()
    }
    assert merged == full  # {'a': None, 'b': 5, 'c': None}
    with _pytest.raises(ValueError, match="schemas diverge"):
        merge_partials(p1, p2.drop("sum_m"), ["k"]).collect()


def test_snapshot_gc_removes_only_manifestless_orphans(spark, tmp_path):
    import os

    from sm_etl_cloud_run_spark.sinks.snapshot import (
        gc_orphan_versions,
        publish_snapshot,
        read_snapshot,
    )

    root = str(tmp_path / "gc")
    publish_snapshot({"t": spark.createDataFrame([(1,)], "v long")}, root)
    # crashed future attempt (no version manifest) + unrelated file
    spark.createDataFrame([(9,)], "v long").write.parquet(
        os.path.join(root, "v7", "t.parquet")
    )
    removed = gc_orphan_versions(root)
    assert removed == ["v7"]
    # the committed version is untouched and still reads
    assert read_snapshot(spark, root, version=1)["t"].count() == 1
    assert gc_orphan_versions(root) == []
