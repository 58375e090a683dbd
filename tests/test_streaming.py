"""Incremental-gate + Structured Streaming tests (SURVEY §2.9)."""

from __future__ import annotations

import datetime as dt
import json
import os

from pyspark.sql import functions as F

from sm_etl_cloud_run_spark.sinks.watermark import read_control, write_control
from sm_etl_cloud_run_spark.streaming.incremental import gate_pending_runs
from sm_etl_cloud_run_spark.streaming.stream_ops import (
    read_events_stream,
    run_stream_to_memory,
    running_totals_stateful,
    streaming_sessions,
    windowed_counts,
    windowed_sketch_profile,
)


def test_windowed_sketch_profile_stream_matches_batch(spark, tmp_path):
    """Sketches are mergeable, so the streaming answer must equal the
    batch answer EXACTLY (same HLL registers / GK summary, same merge
    algebra) — and the HLL estimate must sit within its rsd of truth."""
    base = dt.datetime(2024, 3, 1, 9, 5)
    rows = [
        (base + dt.timedelta(minutes=i % 55), i % 37, float(i % 101))
        for i in range(400)
    ]
    df = spark.createDataFrame(rows, "ts timestamp, user_id long, value double")
    path = str(tmp_path / "sketch_events")
    df.coalesce(1).write.parquet(path)

    batch = windowed_sketch_profile(spark.read.parquet(path))
    stream = windowed_sketch_profile(read_events_stream(spark, path, df.schema))
    q = run_stream_to_memory(stream, "sketch_out", output_mode="complete")
    try:
        got = spark.sql("SELECT * FROM sketch_out")
        b = {r["window_start"]: (r["n_events"], r["approx_users"], r["median_value"])
             for r in batch.collect()}
        s = {r["window_start"]: (r["n_events"], r["approx_users"], r["median_value"])
             for r in got.collect()}
        assert b == s and len(b) == 1
        (n_events, approx_users, median) = next(iter(b.values()))
        assert n_events == 400
        assert abs(approx_users - 37) <= max(2, int(37 * 0.05))
        assert 0.0 <= median <= 101.0
    finally:
        q.stop()


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


def test_windowed_counts_stream_matches_batch(spark, tmp_path):
    base = dt.datetime(2024, 1, 1, 10, 15)
    rows = [
        (base, "click", 1.0),
        (base + dt.timedelta(minutes=20), "click", 2.0),
        (base + dt.timedelta(hours=2), "view", 5.0),
    ]
    df = spark.createDataFrame(rows, "ts timestamp, event_type string, value double")
    # single file: with maxFilesPerTrigger=1, multi-file order is
    # nondeterministic and a later file can advance the watermark past
    # earlier events (they'd be dropped as late)
    path = str(tmp_path / "events")
    df.coalesce(1).write.parquet(path)

    batch = windowed_counts(spark.read.parquet(path), window="1 hour")
    stream = windowed_counts(read_events_stream(spark, path, df.schema), window="1 hour")
    # 'complete' mode: with a finite file source the watermark never
    # advances past the last window, so 'append' would emit nothing
    q = run_stream_to_memory(stream, "win_out", output_mode="complete")
    try:
        got = spark.sql("SELECT * FROM win_out")
        b = {(r["window_start"], r["event_type"]): (r["n"], r["total_value"]) for r in batch.collect()}
        s = {(r["window_start"], r["event_type"]): (r["n"], r["total_value"]) for r in got.collect()}
        assert b == s and len(b) == 2
    finally:
        q.stop()


def test_running_totals_stateful(spark, tmp_path):
    base = dt.datetime(2024, 1, 1, 10, 0)
    rows = [
        (base, 1, "click", 1.5),
        (base, 2, "click", 2.5),
        (base, 3, "view", 10.0),
    ]
    df = spark.createDataFrame(rows, "ts timestamp, user_id long, event_type string, value double")
    path = str(tmp_path / "stateful")
    df.coalesce(1).write.parquet(path)
    stream = running_totals_stateful(read_events_stream(spark, path, df.schema))
    q = run_stream_to_memory(stream, "totals_out", output_mode="update")
    try:
        got = {r["key"]: (r["n"], r["total"]) for r in spark.sql("SELECT * FROM totals_out").collect()}
        assert got == {"click": (2, 4.0), "view": (1, 10.0)}
    finally:
        q.stop()


def test_watermark_drops_late_events(spark, tmp_path):
    """Late-data semantics: an event older than watermark − threshold is
    dropped once the watermark has advanced past its window."""
    base = dt.datetime(2024, 1, 1, 10, 0)
    path = str(tmp_path / "late")
    schema = "ts timestamp, event_type string, value double"
    # file 1: advances the watermark far ahead
    spark.createDataFrame([(base + dt.timedelta(hours=10), "click", 1.0)], schema) \
        .coalesce(1).write.mode("overwrite").parquet(path)
    stream = windowed_counts(
        read_events_stream(spark, path, spark.read.parquet(path).schema),
        window="1 hour", watermark="1 hour",
    )
    q = stream.writeStream.outputMode("update").format("memory").queryName("late_out").start()
    try:
        q.processAllAvailable()
        # file 2: an event 10h older than anything seen → beyond watermark
        spark.createDataFrame([(base, "view", 5.0)], schema) \
            .coalesce(1).write.mode("append").parquet(path)
        q.processAllAvailable()
        types = {r["event_type"] for r in spark.sql("SELECT * FROM late_out").collect()}
        assert "click" in types and "view" not in types
    finally:
        q.stop()


def test_streaming_sessions(spark, tmp_path):
    base = dt.datetime(2024, 1, 1, 10, 0)
    rows = [
        (base, 1, "click", 0.0),
        (base + dt.timedelta(minutes=5), 1, "click", 0.0),
        (base + dt.timedelta(hours=3), 1, "click", 0.0),
    ]
    df = spark.createDataFrame(rows, "ts timestamp, user_id long, event_type string, value double")
    path = str(tmp_path / "sess")
    df.coalesce(1).write.parquet(path)
    stream = streaming_sessions(read_events_stream(spark, path, df.schema), gap="30 minutes")
    q = run_stream_to_memory(stream, "sess_out", output_mode="complete")
    try:
        got = spark.sql("SELECT * FROM sess_out ORDER BY session_start").collect()
        assert [r["n_events"] for r in got] == [2, 1]
    finally:
        q.stop()


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """Replayed events (same event_id) collapse to one row on the stream;
    the batch twin of the same call gives the identical result."""
    from sm_etl_cloud_run_spark.streaming.stream_ops import streaming_dedup

    base = dt.datetime(2024, 8, 1, 12, 0)
    rows = [
        (1, base, "click", 10.0),
        (1, base, "click", 10.0),                          # exact replay
        (2, base + dt.timedelta(minutes=5), "view", 1.0),
        (2, base + dt.timedelta(minutes=6), "view", 1.0),  # retried producer, same key
        (3, base + dt.timedelta(minutes=7), "purchase", 99.0),
    ]
    df = spark.createDataFrame(rows, "event_id long, ts timestamp, event_type string, value double")
    path = str(tmp_path / "events")
    df.repartition(2).write.parquet(path)

    stream = streaming_dedup(read_events_stream(spark, path, df.schema))
    q = run_stream_to_memory(stream, "dedup_out")
    try:
        got = spark.table("dedup_out").groupBy("event_id").count().collect()
        assert {r["event_id"]: r["count"] for r in got} == {1: 1, 2: 1, 3: 1}
    finally:
        q.stop()
    # batch fallback: plain global dedup (superset of the horizon dedup)
    assert streaming_dedup(df).count() == 3


def test_stream_upsert_sink_idempotent(spark, tmp_path):
    from sm_etl_cloud_run_spark.streaming.stream_ops import stream_upsert_sink

    base = dt.datetime(2024, 1, 1, 10, 15)
    rows = [
        (base, "click", 1.0),
        (base + dt.timedelta(minutes=20), "click", 2.0),
        (base + dt.timedelta(hours=2), "view", 5.0),
    ]
    df = spark.createDataFrame(rows, "ts timestamp, event_type string, value double")
    src = str(tmp_path / "events")
    df.coalesce(1).write.parquet(src)
    target = str(tmp_path / "rollup_table")

    def run_once(tag: str) -> None:
        stream = windowed_counts(read_events_stream(spark, src, df.schema), window="1 hour")
        q = stream_upsert_sink(
            stream, target, ("window_start", "event_type"),
            order_col="n", checkpoint_dir=str(tmp_path / f"ckpt_{tag}"),
            output_mode="complete", query_name=f"upsert_{tag}",
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run_once("a")
    expected = {
        (r["window_start"], r["event_type"]): (r["n"], r["total_value"])
        for r in windowed_counts(spark.read.parquet(src), window="1 hour").collect()
    }
    got = {
        (r["window_start"], r["event_type"]): (r["n"], r["total_value"])
        for r in spark.read.parquet(target).collect()
    }
    assert got == expected and len(got) == 2

    # replay from a FRESH checkpoint (at-least-once redelivery of every
    # batch): the keyed upsert must converge to the same table, no dupes
    run_once("b")
    again = {
        (r["window_start"], r["event_type"]): (r["n"], r["total_value"])
        for r in spark.read.parquet(target).collect()
    }
    assert again == expected


def test_streaming_corpus_ingestion_dedup_upsert(spark, tmp_path):
    """The LLM-corpus ingestion loop on a stream: documents arrive,
    exact-dedup on content fingerprint within the watermark horizon,
    keyed upsert into the corpus table. Replaying the entire source
    from a FRESH checkpoint (at-least-once redelivery) must leave the
    table unchanged — ingestion is idempotent end-to-end."""
    from sm_etl_cloud_run_spark.functions.text import doc_fingerprint
    from sm_etl_cloud_run_spark.streaming.stream_ops import (
        stream_upsert_sink,
        streaming_dedup,
    )

    base = dt.datetime(2024, 8, 1, 12, 0)
    rows = [
        (1, "alpha beta gamma", base),
        (2, "delta epsilon zeta", base + dt.timedelta(minutes=1)),
        (2, "delta epsilon zeta", base + dt.timedelta(minutes=2)),   # replayed doc
        (4, "ALPHA, beta. gamma!", base + dt.timedelta(minutes=3)),  # same normalized content as 1
        (5, "eta theta iota", base + dt.timedelta(minutes=4)),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, ingest_ts timestamp")
    src = str(tmp_path / "docs")
    df.repartition(2).write.parquet(src)
    target = str(tmp_path / "corpus")

    def run_once(tag: str) -> None:
        stream = (
            read_events_stream(spark, src, df.schema)
            .withColumn("fingerprint", doc_fingerprint(F.col("text")))
        )
        deduped = streaming_dedup(
            stream, keys=("fingerprint",), ts_col="ingest_ts", watermark="1 hour"
        )
        q = stream_upsert_sink(
            deduped, target, ("fingerprint",),
            order_col="doc_id", checkpoint_dir=str(tmp_path / f"ckpt_{tag}"),
            output_mode="append", query_name=f"corpus_{tag}",
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run_once("a")
    got = {r["fingerprint"]: r["doc_id"] for r in spark.read.parquet(target).collect()}
    # 3 distinct contents: {1,4} share a normalized fingerprint, 2's replay collapses
    assert len(got) == 3

    run_once("b")  # full replay, fresh checkpoint
    again = {r["fingerprint"]: r["doc_id"] for r in spark.read.parquet(target).collect()}
    assert set(again) == set(got)
    assert all(v in (got[k], max(got[k], v)) for k, v in again.items())


def test_stream_stream_attribution_join_matches_batch(spark, tmp_path):
    """Watermarked stream-stream inner join with a time-range bound:
    the streaming answer must equal the batch twin exactly."""
    from sm_etl_cloud_run_spark.streaming.stream_ops import stream_attribution_join

    base = dt.datetime(2024, 5, 1, 10, 0)
    clicks = spark.createDataFrame(
        [
            (1, base),                                # → purchase at +30min
            (1, base + dt.timedelta(minutes=50)),     # → same purchase (in horizon)
            (2, base),                                # purchase too late (+2h)
            (3, base + dt.timedelta(hours=1)),        # no purchase
        ],
        "user_id long, click_ts timestamp",
    )
    purchases = spark.createDataFrame(
        [
            (1, base + dt.timedelta(minutes=55)),
            (2, base + dt.timedelta(hours=2)),
            (4, base),                                # no click
        ],
        "user_id long, purchase_ts timestamp",
    )
    cdir, pdir = str(tmp_path / "clicks"), str(tmp_path / "purchases")
    clicks.coalesce(1).write.parquet(cdir)
    purchases.coalesce(1).write.parquet(pdir)

    batch = stream_attribution_join(
        spark.read.parquet(cdir), spark.read.parquet(pdir)
    )
    stream = stream_attribution_join(
        read_events_stream(spark, cdir, clicks.schema),
        read_events_stream(spark, pdir, purchases.schema),
    )
    q = run_stream_to_memory(stream, "attr_out", output_mode="append")
    try:
        q.processAllAvailable()
        got = sorted(
            (r["user_id"], r["click_ts"], r["purchase_ts"])
            for r in spark.sql("SELECT * FROM attr_out").collect()
        )
        want = sorted(
            (r["user_id"], r["click_ts"], r["purchase_ts"])
            for r in batch.collect()
        )
        assert got == want
        # user 1 matched twice (two in-horizon clicks), users 2/3/4 never
        assert [u for u, _, _ in got] == [1, 1]
    finally:
        q.stop()


def test_checkpoint_recovery_no_loss_no_double_count(spark, tmp_path):
    """Exactly-once across a RESTART: a query writing through a
    checkpointLocation is stopped, new source files arrive, and a new
    query started from the SAME checkpoint must pick up only the unseen
    files — every event counted exactly once in the foreachBatch sink."""
    src = str(tmp_path / "cp_events")
    sink = str(tmp_path / "cp_sink")
    cp = str(tmp_path / "cp_state")
    schema = "event_id long, value double"

    def start():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1).parquet(src)
        )

        def append_batch(batch, batch_id):
            if not batch.isEmpty():
                batch.write.mode("append").parquet(sink)

        return (
            stream.writeStream.option("checkpointLocation", cp)
            .foreachBatch(append_batch).start()
        )

    spark.createDataFrame([(1, 1.0), (2, 2.0)], schema) \
        .coalesce(1).write.mode("append").parquet(src)
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    # offline arrival while no query is running
    spark.createDataFrame([(3, 3.0), (4, 4.0)], schema) \
        .coalesce(1).write.mode("append").parquet(src)

    q2 = start()
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()

    got = sorted(r["event_id"] for r in spark.read.parquet(sink).collect())
    assert got == [1, 2, 3, 4]          # nothing lost, nothing re-emitted


def test_stateful_timeout_sessionization_emits_closed_sessions(spark, tmp_path):
    """Event-time-timeout sessionization: a user's session emits ONCE,
    as a final record, when the watermark passes last_event + gap."""
    from sm_etl_cloud_run_spark.streaming.stream_ops import sessionize_stateful_timeout

    base = dt.datetime(2024, 6, 1, 9, 0)
    src = str(tmp_path / "sess_src")
    schema = "user_id long, ts timestamp"
    # file 1: user 1's two-event session; user 2's single event
    spark.createDataFrame(
        [(1, base), (1, base + dt.timedelta(minutes=10)), (2, base)], schema
    ).coalesce(1).write.mode("append").parquet(src)

    stream = sessionize_stateful_timeout(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src),
        gap="30 minutes",
    )
    q = stream.writeStream.outputMode("append").format("memory") \
        .queryName("sess_to_out").start()
    try:
        q.processAllAvailable()
        assert spark.sql("SELECT * FROM sess_to_out").count() == 0  # nothing closed yet
        # file 2: an event 3 hours later pushes the watermark past both
        # open sessions' (last_seen + gap) timeouts
        spark.createDataFrame([(3, base + dt.timedelta(hours=3))], schema) \
            .coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
        # one more nudge so the batch AFTER the watermark advance fires timeouts
        spark.createDataFrame([(3, base + dt.timedelta(hours=3, minutes=1))], schema) \
            .coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
        got = {r["user_id"]: r for r in spark.sql("SELECT * FROM sess_to_out").collect()}
        assert set(got) >= {1, 2}
        assert got[1]["n_events"] == 2
        assert got[1]["session_start"] == base
        assert got[1]["session_end"] == base + dt.timedelta(minutes=10)
        assert got[2]["n_events"] == 1
    finally:
        q.stop()


def test_stream_static_dim_enrichment(spark, tmp_path):
    """Stream-static join: a streaming fact enriched against a static
    dimension frame — the dim broadcasts per micro-batch, no state."""
    src = str(tmp_path / "ss_events")
    schema = "user_id long, value double"
    spark.createDataFrame([(1, 10.0), (2, 20.0), (9, 90.0)], schema) \
        .coalesce(1).write.parquet(src)
    dim = spark.createDataFrame([(1, "gold"), (2, "silver")], "user_id long, tier string")

    stream = (
        spark.readStream.schema(schema).parquet(src)
        .join(dim, "user_id", "left")
        .withColumn("tier", F.coalesce(F.col("tier"), F.lit("unknown")))
    )
    q = stream.writeStream.outputMode("append").format("memory") \
        .queryName("ss_out").start()
    try:
        q.processAllAvailable()
        got = {r["user_id"]: r["tier"] for r in spark.sql("SELECT * FROM ss_out").collect()}
        assert got == {1: "gold", 2: "silver", 9: "unknown"}
    finally:
        q.stop()


def test_stream_cdc_apply_converges_and_never_regresses(spark, tmp_path):
    from sm_etl_cloud_run_spark.operators.cdc import apply_cdc
    from sm_etl_cloud_run_spark.streaming.stream_ops import (
        read_cdc_snapshot,
        stream_cdc_apply,
    )

    schema = "k long, seq long, op string, v string"
    batch1 = [(1, 1, "U", "a"), (2, 1, "U", "x"), (3, 1, "U", "m")]
    batch2 = [(1, 2, "U", "b"), (2, 2, "D", None), (4, 2, "U", "new")]
    src = tmp_path / "changes"
    src.mkdir()
    spark.createDataFrame(batch1, schema).coalesce(1).write.parquet(str(src / "b1"))
    spark.createDataFrame(batch2, schema).coalesce(1).write.parquet(str(src / "b2"))
    target = str(tmp_path / "snapshot")

    def run(tag: str, glob: str) -> None:
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src / glob))
        )
        q = stream_cdc_apply(
            stream, target, ("k",), seq_col="seq",
            checkpoint_dir=str(tmp_path / f"ckpt_{tag}"), query_name=f"cdc_{tag}",
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run("a", "*/*.parquet")
    full_log = spark.createDataFrame(batch1 + batch2, schema)
    expected = {
        r["k"]: r["v"] for r in apply_cdc(full_log, ["k"], ["seq"]).collect()
    }
    got = {r["k"]: r["v"] for r in read_cdc_snapshot(spark, target).collect()}
    assert got == expected == {1: "b", 3: "m", 4: "new"}

    # at-least-once redelivery of a STALE batch (fresh checkpoint, only
    # batch1): the seq guard must keep every newer row and the delete
    run("replay_stale", "b1/*.parquet")
    again = {r["k"]: r["v"] for r in read_cdc_snapshot(spark, target).collect()}
    assert again == expected

    # full replay from scratch also converges (idempotency)
    run("replay_all", "*/*.parquet")
    final = {r["k"]: r["v"] for r in read_cdc_snapshot(spark, target).collect()}
    assert final == expected


def test_metrics_recorder_captures_progress(spark, tmp_path):
    from sm_etl_cloud_run_spark.streaming.observability import MetricsRecorder

    base = dt.datetime(2024, 1, 1, 9, 0)
    rows = [(base + dt.timedelta(minutes=i), "click", float(i)) for i in range(40)]
    df = spark.createDataFrame(rows, "ts timestamp, event_type string, value double")
    src = str(tmp_path / "obs_events")
    df.coalesce(1).write.parquet(src)

    rec = MetricsRecorder()
    spark.streams.addListener(rec)
    try:
        stream = windowed_counts(read_events_stream(spark, src, df.schema), window="1 hour")
        q = (
            stream.writeStream.outputMode("complete")
            .format("memory").queryName("obs_out").start()
        )
        try:
            q.processAllAvailable()
            assert rec.wait_for_batches(1), "no progress event with input rows arrived"
        finally:
            q.stop()
    finally:
        spark.streams.removeListener(rec)

    prog = rec.to_df(spark).where(F.col("num_input_rows") > 0).collect()
    assert sum(r["num_input_rows"] for r in prog) == 40
    assert all(r["query_name"] == "obs_out" for r in prog)
    assert all(r["trigger_ms"] >= 0 for r in prog)
    # the windowed agg keeps state: the state store must report rows
    assert any(r["state_rows"] > 0 for r in prog)


def test_plan_backfill_scoped_forced_and_capped(tmp_path):
    rows = [
        # periodo, mod_ftp, etl_gcs (stale if ftp > gcs or gcs null)
        ("2024-01", dt.datetime(2024, 2, 1), dt.datetime(2024, 2, 2)),   # fresh
        ("2024-02", dt.datetime(2024, 3, 5), dt.datetime(2024, 3, 1)),   # stale
        ("2024-03", dt.datetime(2024, 4, 1), None),                      # never ran
        ("2024-04", dt.datetime(2024, 5, 1), dt.datetime(2024, 5, 2)),   # fresh
    ]
    path = str(tmp_path / "control")
    # written out of period order: the plan sorts oldest-first itself
    write_control(path, [
        dict(zip(("periodo", "timestamp_modificacao_ftp", "timestamp_etl_gcs"), r))
        for r in reversed(rows)
    ])
    control = read_control(path)
    from sm_etl_cloud_run_spark.streaming.incremental import plan_backfill

    stale = [r["periodo"] for r in plan_backfill(control, "baixar")]
    assert stale == ["2024-02", "2024-03"]

    scoped = [r["periodo"] for r in
              plan_backfill(control, "baixar", start="2024-03", end="2024-04")]
    assert scoped == ["2024-03"]

    forced = [r["periodo"] for r in
              plan_backfill(control, "baixar", start="2024-01", end="2024-04",
                            force=True)]
    assert forced == ["2024-01", "2024-02", "2024-03", "2024-04"]

    capped = [r["periodo"] for r in
              plan_backfill(control, "baixar", force=True, max_partitions=2)]
    assert capped == ["2024-01", "2024-02"]  # oldest-first wave


def test_stream_drift_monitor_matches_batch(spark, tmp_path):
    from sm_etl_cloud_run_spark.streaming.stream_ops import stream_drift_monitor

    base = dt.datetime(2024, 6, 1, 8, 10)
    # one hour of values drifted high vs a uniform baseline
    rows = [(base + dt.timedelta(seconds=20 * i), float(60 + (i % 40))) for i in range(120)]
    df = spark.createDataFrame(rows, "ts timestamp, value double")
    path = str(tmp_path / "drift_events")
    df.coalesce(1).write.parquet(path)
    baseline = [0.25, 0.25, 0.25, 0.25]

    batch = stream_drift_monitor(
        spark.read.parquet(path), baseline, lo=0.0, hi=100.0)
    stream = stream_drift_monitor(
        spark.readStream.schema(df.schema).parquet(path), baseline, lo=0.0, hi=100.0)
    q = stream.writeStream.outputMode("complete").format("memory") \
        .queryName("drift_out").start()
    try:
        q.processAllAvailable()
        got = {r["window_start"]: (r["n"], r["psi"])
               for r in spark.sql("SELECT * FROM drift_out").collect()}
    finally:
        q.stop()
    want = {r["window_start"]: (r["n"], r["psi"]) for r in batch.collect()}
    assert got == want and len(want) == 1
    (n, psi) = next(iter(want.values()))
    assert n == 120 and psi > 0.2  # values 60-99 vs uniform → loud drift

    # a zero baseline bin would make log(p/q) infinite — rejected up
    # front, same as a baseline that doesn't sum to 1
    import pytest

    with pytest.raises(ValueError, match="must all be > 0"):
        stream_drift_monitor(
            spark.read.parquet(path), [0.5, 0.5, 0.0], lo=0.0, hi=100.0)


def test_stream_topk_trending_matches_batch(spark, tmp_path):
    from sm_etl_cloud_run_spark.streaming.stream_ops import (
        finish_topk_trending,
        stream_windowed_key_counts,
    )

    base = dt.datetime(2024, 6, 1, 8, 0)
    rows = []
    # hour 1: user 1 hot (10), user 2 warm (5), users 3-6 one each
    rows += [(base + dt.timedelta(minutes=i), 1) for i in range(10)]
    rows += [(base + dt.timedelta(minutes=20 + i), 2) for i in range(5)]
    rows += [(base + dt.timedelta(minutes=30 + i), 3 + i) for i in range(4)]
    # hour 2: user 2 surges (8), user 1 cools (2), user 7 appears (3)
    h2 = base + dt.timedelta(hours=1)
    rows += [(h2 + dt.timedelta(minutes=i), 2) for i in range(8)]
    rows += [(h2 + dt.timedelta(minutes=10 + i), 1) for i in range(2)]
    rows += [(h2 + dt.timedelta(minutes=20 + i), 7) for i in range(3)]
    rows.append((h2 + dt.timedelta(minutes=40), None))  # NULL key dropped
    df = spark.createDataFrame(rows, "ts timestamp, user_id long")
    path = str(tmp_path / "trend_events")
    df.coalesce(1).write.parquet(path)

    batch_counts = stream_windowed_key_counts(spark.read.parquet(path))
    stream_counts = stream_windowed_key_counts(
        spark.readStream.schema(df.schema).parquet(path)
    )
    q = stream_counts.writeStream.outputMode("complete").format("memory") \
        .queryName("trend_counts").start()
    try:
        q.processAllAvailable()
        got = {(r["window_start"], r["key"]): r["n"]
               for r in spark.sql("SELECT * FROM trend_counts").collect()}
    finally:
        q.stop()
    want = {(r["window_start"], r["key"]): r["n"] for r in batch_counts.collect()}
    assert got == want and len(want) == 9  # 6 keys hour 1 + 3 keys hour 2

    top = finish_topk_trending(batch_counts, k=2)
    by_win = {}
    for r in top.collect():
        by_win.setdefault(r["window_start"], []).append(
            (r["rank"], r["key"], r["n"], r["prev_n"], r["delta_n"]))
    h1_top = sorted(by_win[base])
    h2_top = sorted(by_win[h2])
    # hour 1: no previous window → prev_n 0, delta = n
    assert h1_top == [(1, 1, 10, 0, 10), (2, 2, 5, 0, 5)]
    # hour 2: user 2 surged 5→8, user 7 entered the top-k from nothing
    assert h2_top == [(1, 2, 8, 5, 3), (2, 7, 3, 0, 3)]


def test_streaming_near_dedup_matches_batch(spark, tmp_path):
    """LSH near-dup suppression on a stream: an exact clone arriving
    later is dropped (every band collides with the original's claims),
    distinct docs survive, sub-shingle docs drop out — and the batch
    twin of the same call returns the identical survivor set."""
    from sm_etl_cloud_run_spark.streaming.stream_ops import (
        run_stream_to_memory,
        streaming_near_dedup,
    )

    base = dt.datetime(2024, 8, 1, 12, 0)
    t_a = "the quick brown fox jumps over the lazy dog tonight"
    t_b = "spark plans joins with broadcast hash exchange strategies today"
    t_c = "columnar parquet scans prune row groups via min max footers"
    rows1 = [(1, base, t_a), (2, base + dt.timedelta(minutes=1), t_b)]
    rows2 = [
        (3, base + dt.timedelta(minutes=30), t_a),   # exact clone of 1 → drop
        (4, base + dt.timedelta(minutes=31), t_c),   # distinct → survive
        (5, base + dt.timedelta(minutes=32), "ab"),  # < shingle_k words → no bands
    ]
    sentinel = [(99, base + dt.timedelta(days=2), "watermark mover sentinel text rolls far ahead now")]
    schema = "doc_id long, ts timestamp, text string"
    src = str(tmp_path / "docs")
    spark.createDataFrame(rows1, schema).coalesce(1).write.mode("append").parquet(src)

    stream = streaming_near_dedup(read_events_stream(spark, src, spark.createDataFrame(rows1, schema).schema))
    q = run_stream_to_memory(stream, "near_dedup_out", output_mode="append")
    try:
        q.processAllAvailable()
        spark.createDataFrame(rows2, schema).coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
        spark.createDataFrame(sentinel, schema).coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
        q.processAllAvailable()
        got = {r["doc_id"] for r in spark.table("near_dedup_out").collect()}
    finally:
        q.stop()
    assert got - {99} == {1, 2, 4}

    batch = spark.createDataFrame(rows1 + rows2, schema)
    batch_surv = {r["doc_id"] for r in streaming_near_dedup(batch).collect()}
    assert batch_surv == {1, 2, 4}


def test_velocity_alerts_stream_matches_batch(spark, tmp_path):
    """stream_velocity_alerts: the sliding-window fraud rule emits the
    SAME alert set on a stream as on the batch twin of the identical
    expression — and only users crossing the threshold appear."""
    import datetime as dt

    from sm_etl_cloud_run_spark.streaming.stream_ops import (
        read_events_stream,
        run_stream_to_memory,
        stream_velocity_alerts,
    )

    base = dt.datetime(2024, 1, 1, 10, 0)
    rows = []
    # user 1: 5 events inside 10 minutes → alerts at threshold 4
    for m in range(5):
        rows.append((base + dt.timedelta(minutes=m), 1, 0.0))
    # user 2: 3 slow events over 2 hours → never alerts
    for h in range(3):
        rows.append((base + dt.timedelta(hours=h), 2, 0.0))
    df = spark.createDataFrame(rows, "ts timestamp, user_id long, value double")
    path = str(tmp_path / "events")
    df.coalesce(1).write.parquet(path)

    kw = dict(window="30 minutes", slide="10 minutes", threshold=4)
    batch = stream_velocity_alerts(spark.read.parquet(path), **kw)
    stream = stream_velocity_alerts(
        read_events_stream(spark, path, df.schema), **kw
    )
    q = run_stream_to_memory(stream, "velo_out", output_mode="complete")
    try:
        got = spark.sql("SELECT * FROM velo_out")
        key = lambda r: (r["window_start"], r["user_id"], r["n_events"])  # noqa: E731
        b = sorted(map(key, batch.collect()))
        s = sorted(map(key, got.collect()))
        assert b == s
        assert b, "threshold user must alert"
        assert all(r["user_id"] == 1 for r in batch.collect())
    finally:
        q.stop()


def test_plan_watermark_delay_bars_and_error():
    """The planner picks the SMALLEST rung clearing both bars, honors
    the optional state budget, and refuses (loudly) when nothing
    qualifies — silent least-bad picks are how state blows up."""
    import pytest

    from sm_etl_cloud_run_spark.streaming.stream_ops import plan_watermark_delay

    ladder = (("5s", 5_000_000), ("30s", 30_000_000), ("2m", 120_000_000))
    table = [
        {"delay": "5s", "dropped_bp": 900, "peak_state": 2},
        {"delay": "30s", "dropped_bp": 0, "peak_state": 3},
        {"delay": "2m", "dropped_bp": 0, "peak_state": 7},
    ]
    assert plan_watermark_delay(
        table, max_dropped_bp=0, delays_us=ladder) == ("30s", 30_000_000)
    assert plan_watermark_delay(
        table, max_dropped_bp=1000, delays_us=ladder) == ("5s", 5_000_000)
    # the state budget rejects the 30s rung, pushing to 2m
    assert plan_watermark_delay(
        [{**r, "dropped_bp": 0} for r in table],
        max_dropped_bp=0, max_peak_state=2, delays_us=ladder,
    ) == ("5s", 5_000_000)
    with pytest.raises(ValueError):
        plan_watermark_delay(
            table, max_dropped_bp=0, max_peak_state=1, delays_us=ladder)


def test_sessionize_planned_watermark_evictions_match_census(spark, tmp_path):
    """VERDICT r9 item 5, the closing assertion: run the REAL stream
    with the watermark the decision table chose and check its
    evicted-state count (= emitted closed sessions) equals the census
    prediction on the same fixture — state_census(rung=G, pad=W),
    i.e. merge by the session gap, hold until last + G + W.

    The fixture is arrival-ordered with one 20s-late event, so the
    5s rung busts max_dropped_bp=0 (dropped_bp=909) and the planner
    must choose W=30s; spacer users between a user's sessions keep the
    event-time high-water mark advancing so every gap-G close fires
    before that user's next session opens (one event per micro-batch =
    the watermark-lag-one-batch contract, simulated by hand in the
    inline table below)."""
    from sm_etl_cloud_run_spark.plans.events_queries import state_census
    from sm_etl_cloud_run_spark.streaming.stream_ops import (
        sessionize_with_planned_watermark,
    )

    base_t = dt.datetime(2024, 6, 1, 9, 0)

    def ts(s: int) -> dt.datetime:
        return base_t + dt.timedelta(seconds=s)

    ladder = (("5s", 5_000_000), ("30s", 30_000_000))
    # (event_id, user, sec) in ARRIVAL order; e11 is 20s late
    arrival = [
        (1, 1, 0), (2, 2, 5), (3, 1, 8), (4, 3, 12), (5, 4, 50),
        (6, 4, 55), (7, 2, 100), (8, 2, 106), (9, 4, 140), (10, 1, 200),
        (11, 3, 180),
    ]
    hist = spark.createDataFrame(
        [(e, u, ts(s)) for e, u, s in arrival],
        "event_id long, user_id long, ts timestamp",
    )
    src = str(tmp_path / "planned_src")
    os.makedirs(src)
    schema = "user_id long, ts timestamp"

    label, w, stream = sessionize_with_planned_watermark(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(src),
        hist, gap="10 seconds", max_dropped_bp=0, delays_us=ladder,
    )
    assert (label, w) == ("30s", 30_000_000)

    census = state_census(
        hist.select("user_id", F.unix_micros("ts").alias("tsu")),
        (("g", 10_000_000),), close_pad_us=w,
    ).collect()[0]
    assert census["n_intervals"] == 8  # hand-derived session count

    q = stream.writeStream.outputMode("append").format("memory") \
        .queryName("planned_sess_out").start()
    try:
        # one event per micro-batch, arrival order; the two sentinel
        # u99 batches at the end advance the watermark past every arm
        for _, u, s in arrival + [(12, 99, 1000), (13, 99, 1001)]:
            spark.createDataFrame([(u, ts(s))], schema).coalesce(1) \
                .write.mode("append").parquet(src)
            q.processAllAvailable()
        got = spark.sql(
            "SELECT user_id, session_start, session_end, n_events "
            "FROM planned_sess_out WHERE user_id != 99"
        ).collect()
        # evicted-state count == the census's n_intervals, exactly
        assert len(got) == census["n_intervals"]
        # and the sessions themselves are the census's merge-by-G set
        assert {
            (r["user_id"],
             int((r["session_start"] - base_t).total_seconds()),
             int((r["session_end"] - base_t).total_seconds()),
             r["n_events"])
            for r in got
        } == {
            (1, 0, 8, 2), (1, 200, 200, 1),
            (2, 5, 5, 1), (2, 100, 106, 2),
            (3, 12, 12, 1), (3, 180, 180, 1),
            (4, 50, 55, 2), (4, 140, 140, 1),
        }
        # only the sentinel's open session may remain in the store
        state_rows = [
            op["numRowsTotal"]
            for p in (q.recentProgress or [])
            for op in (p["stateOperators"] or [])
        ]
        assert state_rows and state_rows[-1] == 1
    finally:
        q.stop()


def test_velocity_planned_watermark_picks_from_table(spark):
    """The velocity path wires the same decision: on the shared
    fixture the 20s-late event forces W=30s at a zero drop bar, and
    the returned frame is the velocity rule itself (batch twin here —
    the stream==batch equivalence is pinned by
    test_velocity_alerts_stream_matches_batch)."""
    from sm_etl_cloud_run_spark.streaming.stream_ops import (
        velocity_alerts_with_planned_watermark,
    )

    base_t = dt.datetime(2024, 6, 1, 9, 0)
    rows = [
        (e, u, base_t + dt.timedelta(seconds=s))
        for e, u, s in [
            (1, 1, 0), (2, 1, 30), (3, 1, 60), (4, 2, 90), (5, 1, 70),
        ]
    ]  # e5 is 20s late against the running max (90)
    hist = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp")
    ladder = (("5s", 5_000_000), ("30s", 30_000_000))
    label, w, out = velocity_alerts_with_planned_watermark(
        hist.select("user_id", "ts"), hist,
        max_dropped_bp=0, delays_us=ladder,
        window="2 minutes", slide="1 minute", threshold=4,
    )
    assert (label, w) == ("30s", 30_000_000)
    alerts = out.collect()
    assert {r["user_id"] for r in alerts} == {1}  # 4 events in 2 minutes


def test_streaming_dedup_evictions_match_dedup_census(spark, tmp_path):
    """The dedup-state census is the PRICE TAG of streaming_dedup: on a
    shared fixture, the real dropDuplicatesWithinWatermark run must
    emit exactly the census's n_intervals rows (one per state
    lifecycle), suppress n_suppressed, and end with only the flush
    sentinel in the state store. Spacing note: the operator stores
    expiresAt = first_seen + D and evicts when the watermark (which
    itself lags by D) passes it, so a key re-admits in-order only when
    an intervening event exceeds first_seen + 2D — the fixture provides
    that margin, while the census only needs the event-time condition
    t > first_seen + D (both hold here, so the counts must agree)."""
    from sm_etl_cloud_run_spark.plans.events_queries import dedup_state_census
    from sm_etl_cloud_run_spark.streaming.stream_ops import streaming_dedup

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
    stream = streaming_dedup(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(src),
        keys=("event_id",), ts_col="ts", watermark="30 seconds",
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


def test_near_dedup_planned_watermark_matches_dedup_census(spark, tmp_path):
    """Closes the streaming-pricing triangle (VERDICT r10 item 3): the
    near-dedup's state is one dropDuplicatesWithinWatermark entry per
    distinct BAND KEY in horizon, so the dedup-state census fed the
    claim relation must be its exact price tag. On a shared fixture:
    (1) the planner picks the 30s rung (one doc is 20s late, so the 5s
    rung drops it and a zero drop bar rejects 5s); (2) a REAL stream
    run of the claims stage admits exactly the census's n_intervals
    claims and suppresses n_suppressed; (3) the full planned operator's
    survivor set equals the hand-derived first-claimant-of-every-band
    set, batch and stream agreeing."""
    from sm_etl_cloud_run_spark.plans.events_queries import dedup_state_census
    from sm_etl_cloud_run_spark.streaming.stream_ops import (
        near_dedup_band_claims,
        near_dedup_with_planned_watermark,
        run_stream_to_memory,
        streaming_near_dedup,
    )

    base_t = dt.datetime(2024, 6, 1, 9, 0)

    def ts(s: int) -> dt.datetime:
        return base_t + dt.timedelta(seconds=s)

    t1 = "alpha beta gamma delta epsilon"
    t2 = "zeta eta theta iota kappa"
    t3 = "lam mu nu xi omicron"
    t4 = "pi rho sigma tau upsilon"
    bands, num_hashes = 2, 4
    # (doc_id, sec, text) — doc_id IS arrival order (the tradeoff
    # table's lateness contract); doc 5 is 20s late (event time 50
    # after doc 4's 70); doc 6 re-claims t1's bands past first + 2D,
    # the operator's documented in-order re-admission margin.
    arrival = [
        (1, 0, t1), (2, 5, t1), (3, 10, t2),
        (4, 70, t3), (5, 50, t4), (6, 100, t1),
    ]
    schema = "doc_id long, ts timestamp, text string"
    hist = spark.createDataFrame([(d, ts(s), x) for d, s, x in arrival], schema)

    ladder = (("5s", 5_000_000), ("30s", 30_000_000))
    label, d_us, planned = near_dedup_with_planned_watermark(
        hist, hist, max_dropped_bp=0, delays_us=ladder,
        bands=bands, num_hashes=num_hashes,
    )
    assert (label, d_us) == ("30s", 30_000_000)

    claims = near_dedup_band_claims(
        hist, bands=bands, num_hashes=num_hashes
    ).select(
        F.col("__band_key").alias("k"), F.unix_micros("ts").alias("tsu")
    )
    census = dedup_state_census(claims, (("30s", 30_000_000),)).collect()[0]
    # hand-derivation (2 band keys per doc, no cross-text collisions):
    # t1's 2 keys occur at {0, 5, 100} → 2 lifecycles each (5 is
    # suppressed, 100 > 0 + 30 re-admits); t2/t3/t4 keys once each.
    assert census["n_events"] == 12
    assert census["n_intervals"] == 10
    assert census["n_suppressed"] == 2
    assert census["truncated_keys"] == 0
    # intervals: t1 [0,30)x2 + t2 [10,40)x2 overlap → 4; t4 [50,80)x2
    # + t3 [70,100)x2 overlap → 4; t1 re-entry [100,130)x2 alone.
    assert census["peak_state"] == 4

    # (2) real stream of the CLAIMS stage == the census, exactly
    src = str(tmp_path / "near_docs")
    os.makedirs(src)
    sentinel = [(99, ts(1000), "sentinel text rolls the watermark on"),
                (98, ts(1001), "second sentinel advances once more so")]
    claims_stream = near_dedup_band_claims(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(src),
        bands=bands, num_hashes=num_hashes,
    ).withWatermark("ts", "30 seconds").dropDuplicatesWithinWatermark(
        ["__band_key"]
    )
    q = claims_stream.writeStream.outputMode("append").format("memory") \
        .queryName("near_claims_out").start()
    try:
        for d, s, x in arrival + sentinel:
            spark.createDataFrame([(d, ts(s) if isinstance(s, int) else s, x)],
                                  schema).coalesce(1) \
                .write.mode("append").parquet(src)
            q.processAllAvailable()
        got = spark.sql(
            "SELECT doc_id FROM near_claims_out WHERE doc_id < 90"
        ).collect()
        assert len(got) == census["n_intervals"]
        admitted = sorted(r["doc_id"] for r in got)
        assert admitted == [1, 1, 3, 3, 4, 4, 5, 5, 6, 6]  # doc 2 suppressed
    finally:
        q.stop()

    # (3) the planned operator end-to-end: batch twin on the same call.
    # The batch twin dedups GLOBALLY (first claimant ever, no horizon),
    # so doc 6's re-admission is stream-only — the claims-stage pin in
    # (2) is what proves the horizon semantics; here the twin drops
    # both clones of t1's bands.
    surv = {r["doc_id"] for r in streaming_near_dedup(
        hist, watermark="30 seconds", bands=bands, num_hashes=num_hashes,
    ).collect()}
    assert surv == {1, 3, 4, 5}
    assert planned.isStreaming is False  # batch twin returned for a batch frame
    assert {r["doc_id"] for r in planned.collect()} == surv


def test_near_dedup_planned_watermark_full_stream_readmits(spark, tmp_path):
    """The FULL planned near-dedup driven as a real stream: history
    prices the horizon (same fixture as the census-pin test → 30 s
    rung), the streaming docs frame goes through
    near_dedup_with_planned_watermark, and the survivor set includes
    doc 6 — the re-admission the batch twin structurally cannot emit
    (its first-claimant rule is global). This is the stream-only
    semantics of the horizon, asserted on the operator the planner
    actually returns rather than on its claims stage."""
    from sm_etl_cloud_run_spark.streaming.stream_ops import (
        near_dedup_with_planned_watermark,
    )

    base_t = dt.datetime(2024, 6, 1, 9, 0)

    def ts(s: int) -> dt.datetime:
        return base_t + dt.timedelta(seconds=s)

    t1 = "alpha beta gamma delta epsilon"
    t2 = "zeta eta theta iota kappa"
    t3 = "lam mu nu xi omicron"
    t4 = "pi rho sigma tau upsilon"
    bands, num_hashes = 2, 4
    arrival = [
        (1, 0, t1), (2, 5, t1), (3, 10, t2),
        (4, 70, t3), (5, 50, t4), (6, 100, t1),
    ]
    schema = "doc_id long, ts timestamp, text string"
    hist = spark.createDataFrame([(d, ts(s), x) for d, s, x in arrival], schema)

    src = str(tmp_path / "planned_near_docs")
    os.makedirs(src)
    stream_in = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    label, d_us, out = near_dedup_with_planned_watermark(
        stream_in, hist, max_dropped_bp=0,
        delays_us=(("5s", 5_000_000), ("30s", 30_000_000)),
        bands=bands, num_hashes=num_hashes,
        emit_window="10 seconds",
    )
    assert (label, d_us) == ("30s", 30_000_000)
    assert out.isStreaming is True

    sentinel = [(99, ts(1000), "sentinel text rolls the watermark on"),
                (98, ts(1001), "second sentinel advances once more so")]
    q = out.writeStream.outputMode("append").format("memory") \
        .queryName("planned_near_full_out").start()
    try:
        for d, s, x in arrival + sentinel:
            spark.createDataFrame(
                [(d, ts(s) if isinstance(s, int) else s, x)], schema
            ).coalesce(1).write.mode("append").parquet(src)
            q.processAllAvailable()
        got = {
            r["doc_id"]
            for r in spark.sql(
                "SELECT doc_id FROM planned_near_full_out WHERE doc_id < 90"
            ).collect()
        }
    finally:
        q.stop()
    # doc 2 suppressed (both bands claimed by doc 1); doc 6 RE-ADMITTED
    # (its bands evicted once the watermark passed first + D)
    assert got == {1, 3, 4, 5, 6}


def test_near_dedup_tuned_plan_prices_census_at_chosen_banding(spark, tmp_path):
    """BOTH near-dedup knobs evidence-based (VERDICT r11 item 4): the
    banding comes from the measured-recall tuner on the history slice
    and the watermark horizon is priced at THAT banding. The fixture
    forces a choice that DIFFERS from the hardcoded 4x2 default: its
    one true near-dup pair (J = 16/18 = 0.888, last word swapped)
    agrees on ALL 8 minhash sigs, so every banding measures 100%
    recall and the cheapest-key rule (false_bp*100 + bands) picks 1x8.
    Pins, at the tuned (b1r8, 30s) operating point: (1) the census's
    exact admission/suppression/peak-state counts; (2) a REAL stream
    of the claims stage admitting exactly those claims; (3) the
    claimless-doc completeness contract (ADVICE r11 item 3): a
    2-word doc (no shingles, no claims) that is 60s late no longer
    inflates dropped_bp, so a zero-drop bar still plans — the old
    all-docs pricing would have refused every rung; (4) the tuner's
    own refusal propagates loudly."""
    import pytest

    from sm_etl_cloud_run_spark.plans import textops
    from sm_etl_cloud_run_spark.plans.events_queries import dedup_state_census
    from sm_etl_cloud_run_spark.streaming.stream_ops import (
        near_dedup_band_claims,
        near_dedup_with_tuned_plan,
        plan_near_dedup_banding,
    )

    base_t = dt.datetime(2024, 6, 1, 9, 0)

    def ts(s: int) -> dt.datetime:
        return base_t + dt.timedelta(seconds=s)

    stem = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lam mu nu xi omicron pi rho sigma tau")
    tA1 = stem + " upsilonbase"   # 20 words, 18 shingles
    tA2 = stem + " phi"           # near-dup: J = 16/18, all 8 sigs agree
    tB = ("one two three four five six seven eight nine ten eleven "
          "twelve thirteen fourteen fifteen")
    tC = ("red orange yellow green blue indigo violet crimson teal "
          "maroon ochre cyan magenta amber jade")
    tD = ("north south east west up down left right forward backward "
          "inward outward clockwise widdershins zenith")
    # doc_id IS arrival order; doc 5 is 20s late (event 50 after 70);
    # doc 6 re-claims A's band past first + 2D; doc 7 has NO shingles
    # (2 words) and is 60s late — claimless, so it must not price.
    arrival = [
        (1, 0, tA1), (2, 5, tA2), (3, 10, tB),
        (4, 70, tC), (5, 50, tD), (6, 100, tA1), (7, 40, "too short"),
    ]
    schema = "doc_id long, ts timestamp, text string"
    hist = spark.createDataFrame([(d, ts(s), x) for d, s, x in arrival], schema)

    ladder = (("5s", 5_000_000), ("30s", 30_000_000))
    banding, label, d_us, planned = near_dedup_with_tuned_plan(
        hist, hist, max_dropped_bp=0, delays_us=ladder,
    )
    assert banding == "b1r8"  # evidence picked NOT the 4x2 default
    assert (label, d_us) == ("30s", 30_000_000)
    assert planned is not None

    # census at the TUNED banding: 1 band -> one key per doc; A's key
    # occurs at {0, 5, 100} -> 2 lifecycles (5 suppressed inside 30s,
    # 100 > 0 + 30 re-admits); B/C/D once; doc 7 claims nothing.
    claims = near_dedup_band_claims(
        hist, bands=1, num_hashes=8
    ).select(F.col("__band_key").alias("k"), F.unix_micros("ts").alias("tsu"))
    census = dedup_state_census(claims, (("30s", 30_000_000),)).collect()[0]
    assert census["n_events"] == 6
    assert census["n_intervals"] == 5
    assert census["n_suppressed"] == 1
    # A[0,30) overlaps B[10,40) -> 2; D[50,80) overlaps C[70,100) -> 2
    assert census["peak_state"] == 2

    # (2) REAL stream of the claims stage at (b1r8, 30s) == census
    src = str(tmp_path / "tuned_near_docs")
    os.makedirs(src)
    sentinel = [(99, ts(1000), "sentinel text rolls the watermark on"),
                (98, ts(1001), "second sentinel advances once more so")]
    claims_stream = near_dedup_band_claims(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(src),
        bands=1, num_hashes=8,
    ).withWatermark("ts", "30 seconds").dropDuplicatesWithinWatermark(
        ["__band_key"]
    )
    q = claims_stream.writeStream.outputMode("append").format("memory") \
        .queryName("tuned_claims_out").start()
    try:
        for d, s, x in arrival + sentinel:
            spark.createDataFrame(
                [(d, ts(s) if isinstance(s, int) else s, x)], schema
            ).coalesce(1).write.mode("append").parquet(src)
            q.processAllAvailable()
        got = spark.sql(
            "SELECT doc_id FROM tuned_claims_out WHERE doc_id < 90"
        ).collect()
        assert len(got) == census["n_intervals"]
        assert sorted(r["doc_id"] for r in got) == [1, 3, 4, 5, 6]
    finally:
        q.stop()

    # (4) tuner refusal propagates loudly through the streaming planner
    orig = textops._TUNE_RECALL_FLOOR_BP
    textops._TUNE_RECALL_FLOOR_BP = 10001
    try:
        with pytest.raises(ValueError, match="measured-recall floor"):
            plan_near_dedup_banding(hist)
    finally:
        textops._TUNE_RECALL_FLOOR_BP = orig
