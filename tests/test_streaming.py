"""Incremental-gate and runner tests (SURVEY §2.9), plus the check that
the dedup-state census prices what a real streaming dedup does."""

from __future__ import annotations

import datetime as dt
import json
import os

from pyspark.sql import functions as F

from sm_etl_cloud_run_spark.sinks.watermark import gate_pending_runs, read_control, write_control


def _control_rows():
    t = dt.datetime(2024, 8, 1, 12, 0)
    rows = [
        # (tipo, mod_ftp, etl_gcs, load_bd)
        ("PA", t, None, None),                         # never landed → baixar pending
        ("PA", t, t + dt.timedelta(hours=1), None),    # fresh in gcs → inserir pending
        ("BI", t, t - dt.timedelta(hours=1), None),    # ftp newer → baixar pending
        ("BI", t, t + dt.timedelta(hours=1), t + dt.timedelta(hours=2)),  # all fresh
    ]
    cols = ("tipo", "timestamp_modificacao_ftp", "timestamp_etl_gcs", "timestamp_load_bd")
    return [{"arquivo": f"{r[0]}SP2408{'abcd'[i]}.dbc", **dict(zip(cols, r))}
            for i, r in enumerate(rows)]


def _ledger(tmp_path) -> str:
    path = str(tmp_path / "control")
    write_control(path, _control_rows())
    return path


def test_gate_pending_runs(tmp_path):
    c = read_control(_ledger(tmp_path))
    assert len(gate_pending_runs(c, "baixar")) == 2
    assert len(gate_pending_runs(c, "baixar", tipo="BI")) == 1
    # inserir: etl_gcs newer than load_bd (or load null, but etl must exist to compare)
    pend = [r for r in gate_pending_runs(c, "inserir") if r["timestamp_etl_gcs"] is not None]
    assert len(pend) == 2
    # SQL's NULL rule: a NULL upstream is never newer; a NULL downstream always pends
    t = dt.datetime(2024, 8, 1, tzinfo=dt.timezone.utc)
    rows = [
        {"timestamp_modificacao_ftp": None, "timestamp_etl_gcs": t},     # NULL > t → not stale
        {"timestamp_modificacao_ftp": None, "timestamp_etl_gcs": None},  # never ran → stale
        {"timestamp_modificacao_ftp": t, "timestamp_etl_gcs": t},        # equal → fresh
    ]
    assert gate_pending_runs(rows, "baixar") == [rows[1]]


_RUNNER_LOG = os.environ.get("RUNNER_LOG_PATH", "/tmp/runner_calls.log")


def _recording_job(spark, rows):
    # the runner imports this module by path (fresh instance), so record
    # through the filesystem rather than module state: one line per call
    with open(_RUNNER_LOG, "a") as f:
        f.write(" ".join(r["tipo"] for r in rows) + "\n")


def _calls() -> list[str]:
    return open(_RUNNER_LOG).read().splitlines()


def test_runner_cli(spark, tmp_path, capsys):
    from sm_etl_cloud_run_spark import runner

    path = _ledger(tmp_path)
    open(_RUNNER_LOG, "w").close()
    rc = runner.main(["--control", path, "--tipo", "PA", "--acao", "baixar",
                      "--job", "tests.test_streaming:_recording_job"])
    assert rc == 0 and _calls() == ["PA"]
    # the first stdout line is the gate decision, with the pending files
    first = json.loads(capsys.readouterr().out.splitlines()[0])
    assert first == {"tipo": "PA", "acao": "baixar", "pending": 1,
                     "arquivos": ["PASP2408a.dbc"]}
    # dry-run gates but never executes
    open(_RUNNER_LOG, "w").close()
    rc = runner.main(["--control", path, "--tipo", "BI", "--acao", "baixar", "--dry-run",
                      "--job", "tests.test_streaming:_recording_job"])
    assert rc == 0 and _calls() == []


def test_runner_starts_spark_only_to_run_a_job(tmp_path, monkeypatch, capsys):
    """A gate-only call (--dry-run, no --job, nothing pending) never
    starts a Spark session."""
    from sm_etl_cloud_run_spark import runner

    def no_spark(*a, **k):
        raise AssertionError("get_spark called for a gate-only run")

    monkeypatch.setattr(runner, "get_spark", no_spark)
    path = _ledger(tmp_path)
    job = ["--job", "tests.test_streaming:_recording_job"]
    for argv in (["--tipo", "PA", "--acao", "inserir", "--dry-run", *job],
                 ["--tipo", "PA", "--acao", "inserir"],
                 ["--tipo", "XX", "--acao", "baixar", *job]):
        assert runner.main(["--control", path, *argv]) == 0
    lines = [json.loads(ln) for ln in capsys.readouterr().out.splitlines()]
    assert [ln["arquivos"] for ln in lines] == [
        ["PASP2408a.dbc", "PASP2408b.dbc"], ["PASP2408a.dbc", "PASP2408b.dbc"], []]


def test_runner_calls_job_once_with_all_pending_rows(spark, tmp_path):
    """Both PA rows are pending for 'inserir' (NULL load_bd): the job is
    called ONCE with the list of both rows, with or without the
    ignored --batch flag."""
    from sm_etl_cloud_run_spark import runner

    path = _ledger(tmp_path)
    for extra in ([], ["--batch"]):
        open(_RUNNER_LOG, "w").close()
        rc = runner.main(["--control", path, "--tipo", "PA", "--acao", "inserir",
                          "--job", "tests.test_streaming:_recording_job", *extra])
        assert rc == 0 and _calls() == ["PA PA"]


def test_runner_missing_job_exits_with_message(tmp_path):
    import pytest

    from sm_etl_cloud_run_spark import runner

    path = _ledger(tmp_path)
    for job, msg in (("tests.no_such_module:job", "no_such_module"),
                     ("tests.test_streaming:no_such_job", "no_such_job")):
        with pytest.raises(SystemExit, match=msg):
            runner.main(["--control", path, "--tipo", "PA", "--acao", "baixar",
                         "--job", job])


def test_streaming_dedup_evictions_match_dedup_census(spark, tmp_path):
    """The dedup-state census is the PRICE TAG of a streaming dedup: on
    a shared fixture, Spark's own dropDuplicatesWithinWatermark must
    emit exactly the census's n_intervals rows (one per state
    lifecycle), suppress n_suppressed, and end with only the flush
    sentinel in the state store. Spacing note: the operator stores
    expiresAt = first_seen + D and evicts when the watermark (which
    itself lags by D) passes it, so a key re-admits in-order only when
    an intervening event exceeds first_seen + 2D — the fixture provides
    that margin, while the census only needs the event-time condition
    t > first_seen + D (both hold here, so the counts must agree)."""
    from sm_etl_cloud_run_spark.plans.events_queries import dedup_state_census

    base_t = dt.datetime(2024, 6, 1, 9, 0)

    def ts(s: int) -> dt.datetime:
        return base_t + dt.timedelta(seconds=s)

    # (event_id, sec) in arrival == event-time order; dups on keys 1, 2
    arrival = [(1, 0), (1, 5), (2, 10), (2, 35), (3, 65), (4, 70), (1, 100)]
    hist = spark.createDataFrame(
        [(k, ts(s)) for k, s in arrival], "event_id long, ts timestamp"
    )
    census = dedup_state_census(
        hist.select(
            F.col("event_id").alias("k"), F.unix_micros("ts").alias("tsu")
        ),
        (("30s", 30_000_000),),
    ).collect()[0]
    assert census["n_intervals"] == 5
    assert census["n_suppressed"] == 2
    assert census["truncated_keys"] == 0
    # [65,95) x [70,100) overlap; k4's close at t=100 is processed
    # BEFORE k1's re-entry opens (half-open eviction-before-insert),
    # so the peak is 2, never 3
    assert census["peak_state"] == 2

    src = str(tmp_path / "dedup_src")
    os.makedirs(src)
    schema = "event_id long, ts timestamp"
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(src)
        .withWatermark("ts", "30 seconds")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    q = stream.writeStream.outputMode("append").format("memory") \
        .queryName("dedup_census_out").start()
    try:
        for k, s in arrival + [(99, 1000), (99, 1001)]:
            spark.createDataFrame([(k, ts(s))], schema).coalesce(1) \
                .write.mode("append").parquet(src)
            q.processAllAvailable()
        got = spark.sql(
            "SELECT event_id, ts FROM dedup_census_out WHERE event_id != 99"
        ).collect()
        assert len(got) == census["n_intervals"]
        assert {
            (r["event_id"], int((r["ts"] - base_t).total_seconds()))
            for r in got
        } == {(1, 0), (2, 10), (3, 65), (4, 70), (1, 100)}
        state_rows = [
            op["numRowsTotal"]
            for p in (q.recentProgress or [])
            for op in (p["stateOperators"] or [])
        ]
        assert state_rows and state_rows[-1] == 1  # only the sentinel remains
    finally:
        q.stop()
