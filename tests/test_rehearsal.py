"""Full-lifecycle EP1/EP2/EP3 rehearsal (SURVEY §3 as ONE measured run):

FTP LIST scan → control table (EP3) → runner-gated download + DBC
decode + transform_fact + bronze CSV + watermark (EP1) → runner-gated
typed cast + staged transactional Derby load + watermark (EP2), then
the idempotency story: drained gates, a retroactive FTP re-publish
re-triggering exactly one file, and the delete-then-insert keeping the
warehouse exact on the re-run. Wall time per stage is printed and
recorded in ROUND_NOTES.md.
"""

from __future__ import annotations

import datetime as dt
import re
import sys
import time

import os

import pytest
from pyspark import cloudpickle
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dbc_fixtures import make_dbc, make_dbf
from test_datasus_ftp import FakeFtpSession

from sm_etl_cloud_run_spark import runner
from sm_etl_cloud_run_spark.pipelines import PA_SPEC, rehearsal
from sm_etl_cloud_run_spark.sinks import watermark
from sm_etl_cloud_run_spark.sinks.watermark import read_control, touch_watermark, write_control
from sm_etl_cloud_run_spark.sources.jdbc import read_jdbc_table
from sm_etl_cloud_run_spark.streaming.incremental import gate_pending_runs

cloudpickle.register_pickle_by_value(sys.modules[__name__])

_DIR = "/dissemin/publicos/SIASUS/200801_/Dados"
_ROWS_PER_SHARD = 6000
_SHARDS = ("PASP2408a.dbc", "PASP2408b.dbc", "PASP2408c.dbc", "PASP2408d.dbc")


def _shard_bytes(shard_idx: int) -> bytes:
    """One PA shard: even rows pass panel+condition (CAPS in São Paulo),
    odd rows are outside the panel → dropped by F1. All 56 raw columns
    present so the real FactSpec rename/clean chain runs unmodified."""
    cols = PA_SPEC.raw_columns
    base = {c: "X" for c in cols}
    base.update({
        "PA_TPUPS": "70", "PA_MVM": "202408", "PA_CMP": "202408",
        "PA_MN_IND": "M", "PA_OBITO": "1", "PA_ENCERR": "0",
        "PA_PERMAN": "", "PA_ALTA": "1", "PA_TRANSF": "0",
        "PA_MOTSAI": "11", "PA_CNPJMNT": "00000000000000",
        "PA_IDADE": "042", "PA_SRV_C": "121001",
        "PA_CIDPRI": "F200", "PA_CATEND": "01",
    })
    data = []
    for i in range(_ROWS_PER_SHARD):
        r = dict(base)
        n = shard_idx * _ROWS_PER_SHARD + i
        r["PA_CODUNI"] = f"{n % 9999999:07d}"
        r["PA_PROC_ID"] = f"{n % 999999999:09d}"
        r["PA_CBOCOD"] = f"{n % 999999:06d}"
        r["PA_QTDPRO"] = str(5 + n % 7)
        r["PA_QTDAPR"] = str(1 + n % 5)
        if i % 2 == 0:
            r["PA_UFMUN"], r["PA_MUNPCN"] = "355030", "355030"
        else:
            r["PA_UFMUN"], r["PA_MUNPCN"] = "111111", "222222"  # non-panel
        data.append([r[c] for c in cols])
    widths = {c: max(1, max(len(row[i]) for row in data))
              for i, c in enumerate(cols)}
    fields = [(c, "C", widths[c]) for c in cols]
    return make_dbc(make_dbf(fields, data))


def test_ep1_ep2_ep3_full_lifecycle(spark, tmp_path):
    t0 = time.perf_counter()
    tree = {_DIR: {name: _shard_bytes(i) for i, name in enumerate(_SHARDS)}}
    gen_sec = time.perf_counter() - t0

    control = str(tmp_path / "sm_metadados_ftp")
    derby = f"jdbc:derby:{tmp_path}/wh;create=true"
    periods = spark.createDataFrame(
        [(dt.date(2024, 8, 1), "p-2024-08-M")], "data_inicio date, id string"
    )
    geo = spark.createDataFrame(
        [("355030", "m-sp"), ("330455", "m-rj")], "id_sus string, id string"
    )
    rehearsal.configure(
        host="ftp.fake", directory=_DIR,
        transport_factory=lambda: FakeFtpSession(tree),
        control_path=control, bronze_root=str(tmp_path / "bronze"),
        panel_ids=["355030", "330455"], periods=periods, geo=geo,
        jdbc_url=derby, jdbc_table="pa_fato",
        jdbc_column_types="ftp_arquivo_nome VARCHAR(64)",
    )

    # EP3: control refresh — 4 files, both stages pending
    t0 = time.perf_counter()
    ctl = rehearsal.refresh_control(spark)
    ep3_sec = time.perf_counter() - t0
    assert len(ctl) == 4 and ctl == read_control(control)
    assert all(r["timestamp_etl_gcs"] is None for r in ctl)
    assert set(r["periodo"] for r in ctl) == {"2024-08"}

    # EP1 via the runner CLI: gate selects all 4, job lands bronze + watermark
    t0 = time.perf_counter()
    rc = runner.main([
        "--control", control, "--tipo", "PA", "--acao", "baixar",
        "--job", "sm_etl_cloud_run_spark.pipelines.rehearsal:ep1_baixar_pa_lote",
    ])
    ep1_sec = time.perf_counter() - t0
    assert rc == 0
    assert all(r["timestamp_etl_gcs"] is not None for r in read_control(control))

    # EP2 via the runner CLI: gate selects all 4, staged Derby load
    t0 = time.perf_counter()
    rc = runner.main([
        "--control", control, "--tipo", "PA", "--acao", "inserir",
        "--job", "sm_etl_cloud_run_spark.pipelines.rehearsal:ep2_inserir_pa_lote",
    ])
    ep2_sec = time.perf_counter() - t0
    assert rc == 0

    expected = _SHARDS and len(_SHARDS) * (_ROWS_PER_SHARD // 2)
    loaded = read_jdbc_table(spark, derby, "pa_fato")
    assert loaded.count() == expected
    # typed semantics survived the whole path
    one = loaded.where(F.col("quantidade_aprovada").isNotNull()).limit(1).collect()[0]
    assert isinstance(one["quantidade_aprovada"], int)
    assert one["obito"] is True

    # both gates drained: a re-run finds nothing pending
    for acao in ("baixar", "inserir"):
        assert gate_pending_runs(read_control(control), acao, tipo="PA") == []

    # retroactive re-publish: bump ONE file's FTP timestamp via a fresh
    # LIST (EP3 keeps the other watermarks) → exactly one file re-pends,
    # and the re-run's delete-then-insert keeps the warehouse exact
    class BumpedFtp(FakeFtpSession):
        def retrlines(self, cmd, callback):
            assert cmd == "LIST"
            for name, content in sorted(self._tree[self._cwd].items()):
                # far-future stamp so it beats the wall-clock watermark
                stamp = "09-03-99" if name == _SHARDS[0] else "09-03-24"
                callback(f"{stamp}  03:45PM      {len(content)} {name}")

    rehearsal.configure(transport_factory=lambda: BumpedFtp(tree))
    rehearsal.refresh_control(spark)
    pending = gate_pending_runs(read_control(control), "baixar", tipo="PA")
    assert [r["arquivo"] for r in pending] == [_SHARDS[0]]  # exactly the re-published shard
    t0 = time.perf_counter()
    runner.main([
        "--control", control, "--tipo", "PA", "--acao", "baixar",
        "--job", "sm_etl_cloud_run_spark.pipelines.rehearsal:ep1_baixar_pa_lote",
    ])
    runner.main([
        "--control", control, "--tipo", "PA", "--acao", "inserir",
        "--job", "sm_etl_cloud_run_spark.pipelines.rehearsal:ep2_inserir_pa_lote",
    ])
    rerun_sec = time.perf_counter() - t0
    assert read_jdbc_table(spark, derby, "pa_fato").count() == expected

    # EP2 re-run is idempotent FOR REAL: clear one file's load watermark
    # so the gate re-selects it, re-run EP2, and the warehouse row set is
    # unchanged (delete-then-insert) — a --dry-run would prove only that
    # the gate is drained. Audit timestamps are now(): drop them.
    drop = ["criacao_data", "atualizacao_data"]
    before = sorted(map(tuple, read_jdbc_table(spark, derby, "pa_fato").drop(*drop).collect()))
    redo = read_control(control)
    for r in redo:
        if r["arquivo"] == _SHARDS[1]:
            r["timestamp_load_bd"] = None
    write_control(control, redo)
    assert len(gate_pending_runs(read_control(control), "inserir", tipo="PA")) == 1
    rc = runner.main([
        "--control", control, "--tipo", "PA", "--acao", "inserir",
        "--job", "sm_etl_cloud_run_spark.pipelines.rehearsal:ep2_inserir_pa_lote",
    ])
    assert rc == 0
    again = read_jdbc_table(spark, derby, "pa_fato").drop(*drop).collect()
    assert sorted(map(tuple, again)) == before

    total_raw = len(_SHARDS) * _ROWS_PER_SHARD
    print(
        f"\nREHEARSAL raw_rows={total_raw} loaded_rows={expected} "
        f"gen={gen_sec:.1f}s ep3={ep3_sec:.1f}s ep1={ep1_sec:.1f}s "
        f"ep2={ep2_sec:.1f}s retro_rerun={rerun_sec:.1f}s"
    )


def test_refresh_control_survives_partial_listing(spark, tmp_path):
    """A transient FTP listing that omits a tracked file must NOT drop
    that file's row or its stage watermarks — the reference's control
    refresh is an upsert (datasus_ftp_metadados.py
    upsert_dados_no_postgres), never a rebuild; it prunes only by age."""
    control = str(tmp_path / "ctl")
    full_tree = {_DIR: {"PASP2407.dbc": b"x", "PASP2408.dbc": b"yy"}}
    rehearsal.configure(
        host="ftp.fake", directory=_DIR,
        transport_factory=lambda: FakeFtpSession(full_tree),
        control_path=control, bronze_root=str(tmp_path / "bronze"),
        panel_ids=["355030"], periods=None, geo=None,
    )
    ctl = rehearsal.refresh_control(spark)
    assert len(ctl) == 2

    # mark 2407 as fully processed
    touch_watermark(control, {"tipo": ["PA"], "arquivo": ["PASP2407.dbc"]},
                    "timestamp_etl_gcs")
    touch_watermark(control, {"tipo": ["PA"], "arquivo": ["PASP2407.dbc"]},
                    "timestamp_load_bd")

    # transient listing omits 2407 entirely
    partial_tree = {_DIR: {"PASP2408.dbc": b"yy"}}
    rehearsal.configure(transport_factory=lambda: FakeFtpSession(partial_tree))
    ctl = rehearsal.refresh_control(spark)
    rows = {r["arquivo"]: r for r in ctl}
    assert set(rows) == {"PASP2407.dbc", "PASP2408.dbc"}
    kept = rows["PASP2407.dbc"]
    assert kept["timestamp_etl_gcs"] is not None
    assert kept["timestamp_load_bd"] is not None
    assert kept["timestamp_modificacao_ftp"] is not None  # last-seen mtime
    assert kept["sigla_uf"] == "SP" and kept["periodo"] == "2024-07"


class _ListingFtp(FakeFtpSession):
    """LIST with a chosen size and stamp per file:
    {name: (size, "MM-DD-YY  hh:mmAM")}."""

    def __init__(self, listing: dict[str, tuple[int, str]]):
        super().__init__({_DIR: dict.fromkeys(listing, b"")})
        self._listing = listing

    def retrlines(self, cmd, callback):
        assert cmd == "LIST"
        for name, (size, stamp) in sorted(self._listing.items()):
            callback(f"{stamp}      {size} {name}")


def test_refresh_control_retention_and_size(spark, tmp_path):
    """EP3's 13-month window (F6) and file size over the ledger: a file
    more than 13 months older than the newest listed file of its tipo
    never enters the ledger and a tracked one is pruned; `tamanho` is
    the LIST size; a re-upload refreshes size and mtime but keeps both
    stage watermarks; an unlisted file inside the window keeps its
    size."""
    control = str(tmp_path / "ctl")
    _configure_listing(control, {}, tmp_path)

    def refresh(listing):
        rehearsal.configure(transport_factory=lambda: _ListingFtp(listing))
        return {r["arquivo"]: r for r in rehearsal.refresh_control(spark)}

    rows = refresh({
        "PASP2408.dbc": (100, "09-03-24  03:45PM"),
        "PASP2407.dbc": (300, "08-01-24  01:00PM"),
        "PASP2307.dbc": (50, "08-01-23  01:00PM"),   # 13 months before 2408: kept
        "PASP2306.dbc": (400, "07-01-23  01:00PM"),  # 14 months: never added
    })
    assert set(rows) == {"PASP2408.dbc", "PASP2407.dbc", "PASP2307.dbc"}
    assert {a: r["tamanho"] for a, r in rows.items()} == {
        "PASP2408.dbc": 100, "PASP2407.dbc": 300, "PASP2307.dbc": 50,
    }
    for col in ("timestamp_etl_gcs", "timestamp_load_bd"):
        touch_watermark(control, {"tipo": ["PA"], "arquivo": ["PASP2408.dbc", "PASP2407.dbc"]}, col)
    stamped = {r["arquivo"]: r for r in read_control(control)}

    # 2409 moves the window to 2023-08: the tracked 2307 is pruned;
    # 2408 is re-uploaded; 2407 is missing from this listing
    rows = refresh({
        "PASP2409.dbc": (10, "10-01-24  01:00PM"),
        "PASP2408.dbc": (150, "09-04-24  09:00AM"),
        "PASP2306.dbc": (400, "07-01-23  01:00PM"),
    })
    assert set(rows) == {"PASP2409.dbc", "PASP2408.dbc", "PASP2407.dbc"}
    assert rows == {r["arquivo"]: r for r in read_control(control)}
    bumped = rows["PASP2408.dbc"]
    assert bumped["tamanho"] == 150
    assert bumped["timestamp_modificacao_ftp"] == dt.datetime(2024, 9, 4, 9, 0, tzinfo=dt.timezone.utc)
    for arquivo in ("PASP2408.dbc", "PASP2407.dbc"):
        for col in ("timestamp_etl_gcs", "timestamp_load_bd"):
            assert rows[arquivo][col] is not None
            assert rows[arquivo][col] == stamped[arquivo][col]
    assert rows["PASP2407.dbc"]["tamanho"] == 300
    assert rows["PASP2407.dbc"]["timestamp_modificacao_ftp"] == stamped["PASP2407.dbc"]["timestamp_modificacao_ftp"]
    assert rows["PASP2409.dbc"]["timestamp_etl_gcs"] is None

    # an empty listing prunes nothing
    assert set(refresh({})) == set(rows)


def test_refresh_control_migrates_ledger_without_tamanho(spark, tmp_path):
    """A ledger written before `tamanho` existed gains the column on the
    first refresh, even when its first row is a file the listing omits:
    that row's size is NULL, the listed file's is its LIST size, the
    watermarks survive and the column is int64."""
    control = str(tmp_path / "ctl")
    t = dt.datetime(2024, 9, 3, 15, 45, tzinfo=dt.timezone.utc)
    write_control(control, [
        {"tipo": "PA", "arquivo": arquivo, "sigla_uf": "SP", "periodo": periodo,
         "timestamp_modificacao_ftp": t, "timestamp_etl_gcs": t, "timestamp_load_bd": None}
        for arquivo, periodo in (("PASP2407.dbc", "2024-07"), ("PASP2408.dbc", "2024-08"))
    ])
    _configure_listing(control, {"PASP2408.dbc": b"yy"}, tmp_path)
    rehearsal.refresh_control(spark)
    rows = {r["arquivo"]: r for r in read_control(control)}
    assert rows["PASP2407.dbc"]["tamanho"] is None
    assert rows["PASP2408.dbc"]["tamanho"] == 2
    assert all(r["timestamp_etl_gcs"] == t for r in rows.values())
    assert spark.read.parquet(control).schema["tamanho"].dataType == T.LongType()

    # rows with different keys are refused, and the ledger is untouched
    before = (tmp_path / "ctl").read_bytes()
    with pytest.raises(ValueError):
        write_control(control, [{"a": 1}, {"a": 2, "tamanho": 5}])
    assert (tmp_path / "ctl").read_bytes() == before
    # a size column with no value yet stays int64
    write_control(control, [{"arquivo": "PASP2407.dbc", "tamanho": None}])
    assert spark.read.parquet(control).schema["tamanho"].dataType == T.LongType()


def test_refresh_control_empty_first_listing_writes_typed_ledger(spark, tmp_path):
    """The first EP3 over a directory with no PA file writes an empty
    ledger that still has all eight columns, typed: a watermark touch
    reads it, and a later refresh that lists files upserts into it."""
    control = str(tmp_path / "ctl")
    _configure_listing(control, {}, tmp_path)
    assert rehearsal.refresh_control(spark) == []
    touch_watermark(control, {"tipo": ["PA"]}, "timestamp_etl_gcs")
    assert read_control(control) == []
    schema = spark.read.parquet(control).schema
    assert schema.fieldNames() == [
        "tipo", "arquivo", "sigla_uf", "periodo", "tamanho",
        "timestamp_modificacao_ftp", "timestamp_etl_gcs", "timestamp_load_bd",
    ]
    assert schema["tamanho"].dataType == T.LongType()
    for c in ("timestamp_modificacao_ftp", "timestamp_etl_gcs", "timestamp_load_bd"):
        assert schema[c].dataType == T.TimestampType(), c

    _configure_listing(control, {"PASP2408.dbc": b"yy"}, tmp_path)
    rehearsal.refresh_control(spark)
    rows = read_control(control)
    assert [(r["arquivo"], r["tamanho"], r["timestamp_etl_gcs"]) for r in rows] == [
        ("PASP2408.dbc", 2, None)
    ]


def test_lifecycle_jobs_reject_unsafe_filenames(spark, tmp_path):
    """ep1/ep2 re-validate the control-row filename at the point of use:
    a hand-edited row can't reach the JDBC delete predicate or the
    bronze path with SQL/path metacharacters — and one bad name fails
    the whole batch before any file is landed or watermarked."""
    control = str(tmp_path / "ctl")
    bronze = str(tmp_path / "bronze")
    good = "PASP2407.dbc"
    rehearsal.configure(
        host="ftp.fake", directory=_DIR,
        transport_factory=lambda: FakeFtpSession({_DIR: {good: b"x"}}),
        control_path=control, bronze_root=bronze,
        panel_ids=["355030"], periods=None, geo=None,
    )
    rehearsal.refresh_control(spark)
    for bad in ("PA'; DROP TABLE pa_fato; --", "../../etc/passwd",
                "PASP24.dbc/../x", "PASP9999.dbc.exe"):
        for job in (rehearsal.ep1_baixar_pa_lote, rehearsal.ep2_inserir_pa_lote):
            with pytest.raises(ValueError):
                job(spark, [{"arquivo": bad}])
            with pytest.raises(ValueError):
                job(spark, [{"arquivo": good}, {"arquivo": bad}])
    assert not os.path.exists(bronze)
    row = read_control(control)[0]
    assert row["timestamp_etl_gcs"] is None and row["timestamp_load_bd"] is None


def _configure_listing(control: str, files: dict[str, bytes], tmp_path) -> None:
    rehearsal.configure(
        host="ftp.fake", directory=_DIR,
        transport_factory=lambda: FakeFtpSession({_DIR: files}),
        control_path=control, bronze_root=str(tmp_path / "bronze"),
        panel_ids=["355030"], periods=None, geo=None,
    )


def test_control_plane_launches_no_spark_job(spark, tmp_path):
    """EP3, the runner's gate and a watermark touch read and write the
    driver-side ledger only: no Spark job starts."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    control = str(tmp_path / "ctl")
    _configure_listing(control, {"PASP2407.dbc": b"x", "PASP2408.dbc": b"yy"}, tmp_path)
    # a job group on this thread tags any job the calls below start
    sc.setJobGroup("control-plane", "control plane only")
    try:
        rehearsal.refresh_control(spark)
        assert runner.main([
            "--control", control, "--tipo", "PA", "--acao", "baixar", "--dry-run",
            "--job", "sm_etl_cloud_run_spark.pipelines.rehearsal:ep1_baixar_pa_lote",
        ]) == 0
        touch_watermark(control, {"tipo": ["PA"], "arquivo": ["PASP2407.dbc"]},
                        "timestamp_etl_gcs")
        # a later job in another group: once the status store lists it,
        # it has seen every job started before it
        sc.setJobGroup("control-plane-probe", "probe")
        spark.range(1).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    deadline = time.monotonic() + 30
    while not tracker.getJobIdsForGroup("control-plane-probe") and time.monotonic() < deadline:
        time.sleep(0.05)
    assert tracker.getJobIdsForGroup("control-plane-probe")
    assert tracker.getJobIdsForGroup("control-plane") == []
    assert len(gate_pending_runs(read_control(control), "baixar", tipo="PA")) == 1


def _ledger_state(control: str) -> list[tuple]:
    """Ledger rows with the stage watermarks reduced to set/unset (their
    values are the wall clock of the touch)."""
    return sorted(
        (r["arquivo"], r["sigla_uf"], r["periodo"], r["timestamp_modificacao_ftp"],
         r["timestamp_etl_gcs"] is not None, r["timestamp_load_bd"] is not None)
        for r in read_control(control)
    )


def test_ledger_crash_before_swap_keeps_previous_ledger(spark, tmp_path, monkeypatch):
    """A crash inside `write_control`'s rename, during EP3 or a watermark
    touch, leaves the previous ledger readable and unchanged, and the
    rerun reaches the state of a run that never crashed."""
    crashed, clean = str(tmp_path / "crashed"), str(tmp_path / "clean")
    one = {"PASP2407.dbc": b"x"}
    two = {"PASP2407.dbc": b"x", "PASP2408.dbc": b"yy"}

    def refresh(files):
        def step(control):
            _configure_listing(control, files, tmp_path)
            rehearsal.refresh_control(spark)
        return step

    def touch(arquivos, col):
        return lambda control: touch_watermark(control, {"tipo": ["PA"], "arquivo": arquivos}, col)

    steps = [
        refresh(two),
        touch(["PASP2407.dbc", "PASP2408.dbc"], "timestamp_etl_gcs"),
        touch(["PASP2407.dbc"], "timestamp_load_bd"),
        refresh(one),  # a partial listing keeps 2408
        touch(["PASP2408.dbc"], "timestamp_load_bd"),
    ]
    real_replace = os.replace

    def crash(src, dst):
        if dst == crashed:
            raise OSError("crash before the ledger swap")
        return real_replace(src, dst)

    def gates():
        rows = read_control(crashed)
        return {acao: gate_pending_runs(rows, acao, tipo="PA") for acao in ("baixar", "inserir")}

    for step in steps:
        step(clean)
        before = (tmp_path / "crashed").read_bytes() if os.path.exists(crashed) else None
        gated = gates() if before else None
        with monkeypatch.context() as m:
            m.setattr(watermark.os, "replace", crash)
            with pytest.raises(OSError, match="crash before"):
                step(crashed)
        if before is None:
            assert not os.path.exists(crashed)
        else:
            assert (tmp_path / "crashed").read_bytes() == before
            assert gates() == gated
        # the failed write left no temp file behind
        assert sorted(os.listdir(tmp_path)) == sorted(
            n for n in ("clean", "crashed") if os.path.exists(tmp_path / n))
        step(crashed)  # the rerun
        assert _ledger_state(crashed) == _ledger_state(clean)
    assert all(s[4] and s[5] for s in _ledger_state(crashed))
