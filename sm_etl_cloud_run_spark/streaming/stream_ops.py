"""Structured Streaming operators — the continuous upgrade path.

The reference has no continuous processing (SURVEY §2.9); these
operators extend the engine to streams while sharing transformation
logic with their batch twins, so the same business logic runs in either
mode (the Structured Streaming contract).

- tumbling/sliding windowed aggregation with event-time watermarks
- streaming sessionization via `session_window`
- file-source ingestion of the same parquet layout the batch path reads
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def read_events_stream(spark: SparkSession, path: str, schema: StructType) -> DataFrame:
    """File-source stream over the batch parquet layout (one file per
    trigger by default keeps local smoke runs bounded)."""
    return spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(path)


def windowed_counts(
    events: DataFrame,
    *,
    ts_col: str = "ts",
    key_col: str = "event_type",
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Tumbling-window count+sum with a late-data watermark.

    Works on both batch and streaming DataFrames — the batch twin of
    this exact expression backs the `events_hourly_rollup` oracle query.
    """
    src = events.withWatermark(ts_col, watermark) if events.isStreaming else events
    return (
        src.groupBy(F.window(ts_col, window).alias("w"), F.col(key_col))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total_value"))
        .select(F.col("w.start").alias("window_start"), key_col, "n", "total_value")
    )


def streaming_sessions(
    events: DataFrame,
    *,
    ts_col: str = "ts",
    user_col: str = "user_id",
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Session windows per user (gap-based), streaming-native."""
    src = events.withWatermark(ts_col, watermark) if events.isStreaming else events
    return (
        src.groupBy(F.session_window(F.col(ts_col), gap).alias("s"), F.col(user_col))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("s.start").alias("session_start"),
            F.col("s.end").alias("session_end"),
            user_col,
            "n_events",
        )
    )


def windowed_sketch_profile(
    events: DataFrame,
    *,
    ts_col: str = "ts",
    user_col: str = "user_id",
    value_col: str = "value",
    window: str = "1 hour",
    watermark: str = "2 hours",
    rsd: float = 0.02,
) -> DataFrame:
    """Per-window sketch profile: HLL++ distinct users + GK median —
    the streaming twin of the batch `events_sketch_profile` query.

    Both sketches are mergeable, which is exactly what makes them
    streaming-legal: partial HLL registers / GK summaries combine
    across micro-batches and partitions without holding raw values in
    state, so per-window state is O(sketch), not O(events) — the whole
    point of sketch aggregates at 100 TB/stream. Works on batch frames
    too (same expression, no watermark), which is how the test pins
    stream output to the batch answer exactly: identical sketch, same
    merge algebra, deterministic result.
    """
    src = events.withWatermark(ts_col, watermark) if events.isStreaming else events
    return (
        src.groupBy(F.window(ts_col, window).alias("w"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.approx_count_distinct(user_col, rsd).cast("long").alias("approx_users"),
            F.percentile_approx(value_col, 0.5, 10000).alias("median_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "n_events", "approx_users", "median_value",
        )
    )


def stream_attribution_join(
    clicks: DataFrame,
    purchases: DataFrame,
    *,
    user_col: str = "user_id",
    click_ts: str = "click_ts",
    purchase_ts: str = "purchase_ts",
    horizon: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream inner join: attribute each purchase to the clicks
    of the same user within the preceding `horizon` (last-touch
    attribution's candidate set).

    The streaming-legal shape: BOTH sides are watermarked and the join
    condition carries an explicit event-time range
    (click ≤ purchase ≤ click + horizon) — that bound is what lets
    Spark expire per-key state instead of buffering both streams
    forever; an unbounded-condition stream-stream join cannot clean up
    and dies by state growth at any real scale. Matched rows emit
    immediately (inner join); the watermark governs only state
    eviction. Works identically on batch frames (no watermark, same
    condition), which is how the test pins stream output to the batch
    answer.
    """
    c = clicks.withWatermark(click_ts, watermark) if clicks.isStreaming else clicks
    p = (
        purchases.withWatermark(purchase_ts, watermark)
        if purchases.isStreaming else purchases
    )
    c, p = c.alias("c"), p.alias("p")
    cond = (
        (F.col(f"c.{user_col}") == F.col(f"p.{user_col}"))
        & (F.col(f"p.{purchase_ts}") >= F.col(f"c.{click_ts}"))
        & (
            F.col(f"p.{purchase_ts}")
            <= F.col(f"c.{click_ts}") + F.expr(f"INTERVAL {horizon}")
        )
    )
    return c.join(p, cond).select(
        F.col(f"c.{user_col}").alias(user_col),
        F.col(f"c.{click_ts}").alias(click_ts),
        F.col(f"p.{purchase_ts}").alias(purchase_ts),
    )


def running_totals_stateful(
    events: DataFrame,
    *,
    key_col: str = "event_type",
    value_col: str = "value",
) -> DataFrame:
    """Custom stateful operator: per-key running (count, sum) maintained
    across micro-batches via `applyInPandasWithState`.

    The reference has no continuous state; this is the engine's
    scale-path primitive for accumulating per-entity aggregates over an
    unbounded stream (Arrow-batched, state stored per key in the state
    store — no driver involvement).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf[value_col].sum())
        state.update((n, total))
        yield pd.DataFrame({"key": [key[0]], "n": [n], "total": [round(total, 2)]})

    return events.groupBy(key_col).applyInPandasWithState(
        update,
        outputStructType="key string, n long, total double",
        stateStructType="n long, total double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_stream_to_memory(df: DataFrame, query_name: str, *, output_mode: str = "append"):
    """Drive a streaming DataFrame to completion against the memory sink
    (local smoke testing)."""
    q = df.writeStream.outputMode(output_mode).format("memory").queryName(query_name).start()
    q.processAllAvailable()
    return q


def sessionize_stateful_timeout(
    events: DataFrame,
    *,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap: str = "30 minutes",
    watermark: str = "0 seconds",
) -> DataFrame:
    """Custom stateful sessionization with EVENT-TIME TIMEOUT: a user's
    session accumulates in the state store and is EMITTED (then
    cleared) only once the event-time watermark passes its close —
    the `applyInPandasWithState` upgrade of `session_window` for when
    the output must be one final record per closed session (billing,
    session logs) rather than an updating aggregate.

    Mechanics: each key's state holds (start, last_seen, n). Every
    batch extends the open session with its events and re-arms an
    event-time timeout at last_seen + gap; when the watermark crosses
    that without new events, Spark calls the function with
    `state.hasTimedOut` and the closed session is yielded. State per
    key is three scalars — bounded regardless of stream length — and
    eviction is watermark-driven, the only state-cleanup contract that
    survives unbounded streams.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    # parse "<n> seconds|minutes|hours" without dateutil
    qty, unit = gap.split()
    gap_millis = int(qty) * {"seconds": 1, "minutes": 60, "hours": 3600}[unit] * 1000

    def update(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            start_ms, last_ms, n = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "session_start": [pd.Timestamp(start_ms, unit="ms")],
                    "session_end": [pd.Timestamp(last_ms, unit="ms")],
                    "n_events": [n],
                }
            )
            return
        start_ms, last_ms, n = state.get if state.exists else (None, None, 0)
        for pdf in pdfs:
            ts = pd.to_datetime(pdf[ts_col])
            batch_min = int(ts.min().value // 1_000_000)
            batch_max = int(ts.max().value // 1_000_000)
            start_ms = batch_min if start_ms is None else min(start_ms, batch_min)
            last_ms = batch_max if last_ms is None else max(last_ms, batch_max)
            n += len(pdf)
        state.update((start_ms, last_ms, n))
        state.setTimeoutTimestamp(last_ms + gap_millis)
        yield from ()

    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(user_col)
        .applyInPandasWithState(
            update,
            outputStructType=(
                "user_id long, session_start timestamp, "
                "session_end timestamp, n_events long"
            ),
            stateStructType="start_ms long, last_ms long, n long",
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def streaming_dedup(
    events: DataFrame,
    *,
    keys: tuple[str, ...] = ("event_id",),
    ts_col: str = "ts",
    watermark: str = "2 hours",
) -> DataFrame:
    """Exactly-once event dedup for streams: drop rows whose key was
    already seen within the watermark horizon
    (`dropDuplicatesWithinWatermark`), so at-least-once sources (replays,
    retried producers) don't double-count downstream.

    State is bounded by the watermark (keys older than the horizon are
    evicted), which is what makes it runnable forever at
    corpus-firehose scale — a plain `dropDuplicates` on a stream would
    accumulate state without bound.

    The batch fallback is a plain global `dropDuplicates` — a SUPERSET
    of the streaming dedup (it also collapses duplicates farther apart
    than the horizon). Backfills that must reproduce streaming output
    exactly should window the batch input to the horizon first.
    """
    if events.isStreaming:
        return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(list(keys))
    return events.dropDuplicates(list(keys))


def stream_drift_monitor(
    events: DataFrame,
    baseline_probs: list[float],
    *,
    ts_col: str = "ts",
    value_col: str = "value",
    lo: float,
    hi: float,
    window: str = "1 hour",
    watermark: str = "1 hour",
):
    """Per-window PSI drift against a fixed baseline distribution — the
    streaming twin of `events_distribution_drift` (train-vs-serve skew,
    evaluated continuously).

    The whole computation is ONE stateful aggregation keyed by the time
    window: bin membership is a conditional-sum per fixed bin (B
    columns, not a second groupBy — Structured Streaming allows a
    single stateful aggregate per query in update mode), and the PSI is
    a closed-form expression over those columns with +1 smoothing.
    Baseline probabilities are literals (trained offline, parameter-
    sized). State per window is B counters; eviction is watermark-
    driven. Works identically on a batch DataFrame (no watermark/
    window state — the stream==batch equivalence is tested).
    """
    from pyspark.sql import functions as F

    n_bins = len(baseline_probs)
    if n_bins < 2:
        raise ValueError("need at least 2 baseline bins")
    total_p = sum(baseline_probs)
    if not (0.999 <= total_p <= 1.001):
        raise ValueError(f"baseline probabilities must sum to 1, got {total_p}")
    if min(baseline_probs) <= 0.0:
        # a zero bin makes log(p/q) infinite and the window PSI
        # Infinity/NULL — require the caller to smooth the baseline
        # the same way the observed side is (+1-style)
        raise ValueError(
            "baseline probabilities must all be > 0 (smooth zero bins "
            f"before calling), got min={min(baseline_probs)}"
        )
    width = (hi - lo) / n_bins
    bin_idx = F.least(
        F.lit(n_bins - 1),
        F.greatest(F.lit(0), F.floor((F.col(value_col) - lo) / width).cast("int")),
    )
    binned = events.where(F.col(value_col).isNotNull()).withColumn("__bin", bin_idx)
    if binned.isStreaming:
        binned = binned.withWatermark(ts_col, watermark)
    agg_cols = [
        F.sum(F.when(F.col("__bin") == i, 1).otherwise(0)).alias(f"n_{i}")
        for i in range(n_bins)
    ]
    counts = binned.groupBy(F.window(ts_col, window)).agg(
        F.count(F.lit(1)).alias("n"), *agg_cols
    )
    total = F.col("n") + n_bins  # +1 smoothing across all bins
    psi = None
    for i in range(n_bins):
        p = (F.col(f"n_{i}") + 1).cast("double") / total
        q = F.lit(float(baseline_probs[i]))
        term = (p - q) * F.log(p / q)
        psi = term if psi is None else (psi + term)
    return counts.select(
        F.col("window.start").alias("window_start"),
        "n",
        F.round(psi, 6).alias("psi"),
    )


def stream_windowed_key_counts(
    events: DataFrame,
    *,
    key_col: str = "user_id",
    ts_col: str = "ts",
    window: str = "1 hour",
    watermark: str = "1 hour",
) -> DataFrame:
    """Per-(window, key) event counts — the stateful half of a windowed
    top-k / trending job (streaming twin of `events_heavy_hitters_exact`
    evaluated per time window).

    ONE stateful aggregation keyed by (window, key): state per live
    window is one counter per active key, evicted by the watermark.
    The top-k rank is deliberately NOT here — a rank window over a
    streaming aggregate is not executable in a single streaming query,
    and doesn't belong in one: the per-window count relation this
    returns is |active keys|-sized, so the finisher
    (:func:`finish_topk_trending`) runs batch-side on each snapshot
    (memory sink, foreachBatch, or the table this stream writes).
    Works identically on a batch DataFrame (stream==batch tested).
    NULL keys are dropped by the same contract as the batch twin.
    """
    from pyspark.sql import functions as F

    df = events.where(F.col(key_col).isNotNull())
    if df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    return (
        df.groupBy(F.window(ts_col, window), F.col(key_col).alias("key"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "key", "n",
        )
    )


def finish_topk_trending(counts: DataFrame, *, k: int = 5) -> DataFrame:
    """Batch finisher over :func:`stream_windowed_key_counts` output:
    per-window top-k keys plus the trend vs the PREVIOUS window.

    Rank is a window function partitioned BY time window (never
    global), over the |keys-per-window|-sized count relation. The
    previous-window count arrives by self-equi-join on
    (prev.window_end = cur.window_start, key) — adjacent tumbling
    windows share that boundary instant, so no interval arithmetic —
    and `delta_n` = n − prev_n (0 for keys newly trending). Output is
    deterministic: ties break by key.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    w = Window.partitionBy("window_start").orderBy(
        F.col("n").desc(), F.col("key").asc()
    )
    prev = counts.select(
        F.col("window_end").alias("window_start"),
        F.col("key"),
        F.col("n").alias("prev_n"),
    )
    return (
        counts.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .join(prev, ["window_start", "key"], "left")
        .withColumn("prev_n", F.coalesce(F.col("prev_n"), F.lit(0)).cast("long"))
        .withColumn("delta_n", (F.col("n") - F.col("prev_n")).cast("long"))
        .select("window_start", "window_end", "key", "n", "rank", "prev_n", "delta_n")
    )


def minhash_band_keys(
    text_col,
    *,
    num_hashes: int = 8,
    bands: int = 4,
    shingle_k: int = 3,
):
    """Array of LSH band keys for one document, computed ENTIRELY
    map-side (array-native xxhash64 MinHash — no explode, no groupBy),
    so it is legal in a streaming projection where the batch operator's
    explode→aggregate signature plan would be a stateful aggregation.

    Returns array<string> of `bands` keys, each embedding its band
    index (band collisions across different band positions are not
    matches — same contract as operators/dedup._band_buckets). Docs
    shorter than `shingle_k` words yield an empty array (they cannot
    near-dup match; same drop-out as minhash_signatures).
    """
    from ..functions.text import word_shingles

    if num_hashes % bands != 0:
        raise ValueError(f"num_hashes ({num_hashes}) must be divisible by bands ({bands})")
    rows_per_band = num_hashes // bands
    sh = word_shingles(text_col, shingle_k)
    sigs = [
        F.array_min(F.transform(sh, lambda s, i=i: F.xxhash64(F.lit(i), s)))
        for i in range(num_hashes)
    ]
    keys = [
        F.concat_ws(
            ":",
            F.lit(str(b)),
            *sigs[b * rows_per_band:(b + 1) * rows_per_band],
        )
        for b in range(bands)
    ]
    return F.when(F.size(sh) > 0, F.array(*keys)).otherwise(
        F.array().cast("array<string>")
    )


def near_dedup_band_claims(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    ts_col: str = "ts",
    text_col: str = "text",
    num_hashes: int = 8,
    bands: int = 4,
    shingle_k: int = 3,
) -> DataFrame:
    """The (band_key, doc) CLAIM relation `streaming_near_dedup` feeds
    its `dropDuplicatesWithinWatermark` — one row per (doc, band), all
    map-side (:func:`minhash_band_keys` + posexplode). Split out so the
    census-pinning test can run the claims stage alone against the
    dedup-state census's prediction of its admissions/state, the same
    observability seam :func:`~..plans.events_queries.dedup_state_census`
    prices."""
    return docs.select(
        F.col(id_col),
        F.col(ts_col),
        F.explode(
            minhash_band_keys(
                F.col(text_col),
                num_hashes=num_hashes, bands=bands, shingle_k=shingle_k,
            )
        ).alias("__band_key"),
    )


def streaming_near_dedup(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    ts_col: str = "ts",
    text_col: str = "text",
    watermark: str = "2 hours",
    emit_window: str = "10 minutes",
    num_hashes: int = 8,
    bands: int = 4,
    shingle_k: int = 3,
) -> DataFrame:
    """NEAR-duplicate suppression on a document stream: a document
    survives only if it is the FIRST claimant of EVERY one of its
    MinHash-LSH band keys within the watermark horizon — i.e. it is
    dropped as soon as ANY band collides with an earlier document (the
    standard LSH candidate rule, turned into an online filter).

    Streaming plan — two chained stateful operators, both
    watermark-bounded (runnable forever at firehose scale):

    1. band keys are computed map-side (:func:`minhash_band_keys`) and
       posexploded to (band_key, doc) claim rows;
    2. ``dropDuplicatesWithinWatermark("band_key")`` keeps each band
       key's first claim — state is |distinct band keys in horizon|;
    3. an event-time-windowed count per doc (append mode) keeps docs
       whose surviving claims == ``bands`` — every band was
       first-claimed by this doc. ``emit_window`` only buckets the
       aggregation for append emission; a doc's claims share its own
       timestamp, so the bucket never splits a document.

    Batch twin (same call on a bounded frame): first claimant per band
    is min(ts, id) — equivalent when stream arrival follows event time
    (replays/backfills should feed in event-time order, the same
    contract streaming_dedup documents). Short docs (< shingle_k words)
    have no bands and drop out on both paths.
    """
    banded = near_dedup_band_claims(
        docs, id_col=id_col, ts_col=ts_col, text_col=text_col,
        num_hashes=num_hashes, bands=bands, shingle_k=shingle_k,
    )
    if docs.isStreaming:
        claims = (
            banded.withWatermark(ts_col, watermark)
            .dropDuplicatesWithinWatermark(["__band_key"])
        )
        return (
            claims.groupBy(F.window(F.col(ts_col), emit_window), F.col(id_col))
            .agg(F.count(F.lit(1)).alias("__n_claims"))
            .where(F.col("__n_claims") == bands)
            .select(id_col)
        )
    first = banded.groupBy("__band_key").agg(
        F.min(F.struct(F.col(ts_col), F.col(id_col))).alias("__first")
    )
    return (
        banded.join(first, "__band_key")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("__n_bands"),
            F.sum(
                F.when(F.col(f"__first.{id_col}") == F.col(id_col), 1).otherwise(0)
            ).alias("__n_won"),
        )
        .where(F.col("__n_bands") == F.col("__n_won"))
        .select(id_col)
    )


def stream_velocity_alerts(
    events: DataFrame,
    *,
    ts_col: str = "ts",
    user_col: str = "user_id",
    window: str = "30 minutes",
    slide: str = "10 minutes",
    threshold: int = 8,
    watermark: str = "2 hours",
) -> DataFrame:
    """The fraud/abuse velocity rule as a streaming-native sliding-
    window monitor: alert whenever a user produces >= `threshold`
    events inside any `window`-long sliding window (stepped by
    `slide`). State is ONE (user, window) counting aggregate —
    watermark-evicted, bounded by active users x (window/slide) —
    and the emitted row is the alert itself, so the sink is the
    alert queue.

    Relationship to `events_velocity_rule` (plans/sequence-family):
    the batch rule is the EXACT any-span form (lag(K-1) comparison —
    O(1) per event but needs ordered per-user history, which a stream
    cannot keep unbounded); the sliding-window form trades span
    granularity (alerts quantize to `slide`) for expirable state —
    the standard streaming relaxation. Batch and stream agree on THIS
    expression exactly: works on both DataFrame kinds, and
    tests/test_streaming.py pins stream == batch on the same slice.
    """
    src = events.withWatermark(ts_col, watermark) if events.isStreaming else events
    return (
        src.groupBy(
            F.window(ts_col, window, slide).alias("w"), F.col(user_col)
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .where(F.col("n_events") >= threshold)
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            user_col,
            "n_events",
        )
    )


# ---------------------------------------------------------------------------
# watermark planning: act on the events_watermark_tradeoff decision table
# ---------------------------------------------------------------------------


def plan_watermark_delay(
    tradeoff,
    *,
    max_dropped_bp: int,
    max_peak_state: int | None = None,
    delays_us: tuple[tuple[str, int], ...] | None = None,
) -> tuple[str, int]:
    """Pick the watermark delay FROM the decision table instead of by
    folklore (VERDICT r9 item 5): the smallest candidate D whose exact
    completeness loss (``dropped_bp``, events later than D against the
    running event-time high-water mark) clears ``max_dropped_bp`` and —
    when a state budget is given — whose exact peak concurrent per-user
    state (``peak_state``) fits ``max_peak_state``.

    ``tradeoff`` is the output of
    ``plans.events_queries.watermark_tradeoff_table`` (DataFrame or its
    collected rows — it is ladder-sized, so collecting here is a
    parameter-sized transfer). Returns ``(label, d_us)``. Raises
    ``ValueError`` when no rung qualifies: the table's job is to force
    that conversation (grow the ladder, relax the bar, or buy memory),
    not to silently pick the least-bad rung.
    """
    if delays_us is None:
        from ..plans.events_queries import _CENSUS_DELAYS_US
        delays_us = _CENSUS_DELAYS_US
    d_of = dict(delays_us)
    rows = tradeoff.collect() if hasattr(tradeoff, "collect") else list(tradeoff)
    viable = [
        (d_of[r["delay"]], r["delay"])
        for r in rows
        if r["delay"] in d_of
        and r["dropped_bp"] <= max_dropped_bp
        and (max_peak_state is None or r["peak_state"] <= max_peak_state)
    ]
    if not viable:
        raise ValueError(
            f"no candidate delay meets dropped_bp<={max_dropped_bp}"
            f" and peak_state<={max_peak_state}; ladder covered"
            f" {sorted(d_of)} us — widen the ladder or relax a bar"
        )
    d, label = min(viable)
    return label, d


def _us_to_duration(d_us: int) -> str:
    """Exact CalendarInterval string for a microsecond delay (whole
    seconds required — the ladder's rungs are minutes/hours)."""
    if d_us % 1_000_000:
        raise ValueError(f"sub-second watermark delay not supported: {d_us}us")
    return f"{d_us // 1_000_000} seconds"


def _duration_to_us(dur: str) -> int:
    """Inverse of :func:`_us_to_duration` for the gap grammar
    `sessionize_stateful_timeout` accepts ("<n> seconds|minutes|hours")."""
    qty, unit = dur.split()
    return int(qty) * {"seconds": 1, "minutes": 60, "hours": 3600}[unit] * 1_000_000


def sessionize_with_planned_watermark(
    events: DataFrame,
    history: DataFrame,
    *,
    gap: str = "30 minutes",
    max_dropped_bp: int,
    max_peak_state: int | None = None,
    user_col: str = "user_id",
    ts_col: str = "ts",
    delays_us: tuple[tuple[str, int], ...] | None = None,
) -> tuple[str, int, DataFrame]:
    """Gap-``gap`` stateful sessionization whose WATERMARK DELAY W is
    chosen from the decision table computed on a batch ``history``
    slice (event_id, user_id, ts) — closing the loop the
    census/tradeoff queries open (VERDICT r9 item 5).

    The two bars budget the two real costs:

    - completeness: ``dropped_bp`` per rung W is the exact share of
      history events later than W against the running event-time
      high-water mark (the lateness arm of
      ``watermark_tradeoff_table``) — those are the events the stream
      would refuse;
    - state: a gap-G sessionizer with delay W merges events G apart
      but holds each entry until the high-water mark passes
      ``last + G + W``, so the peak is priced by
      ``state_census(history, rungs=(label, G), close_pad_us=W)`` —
      NOT by the registered census's (G=0) model. The chosen rung's
      ``n_intervals`` under that pricing is the run's exact
      evicted-state count, which tests/test_streaming.py pins against
      the actual stream on a shared fixture.

    Returns ``(label, w_us, stream_df)``.
    """
    from ..plans.events_queries import (
        _CENSUS_DELAYS_US,
        state_census,
        watermark_tradeoff_table,
    )

    ladder = _CENSUS_DELAYS_US if delays_us is None else delays_us
    gap_us = _duration_to_us(gap)
    base = history.select(
        "event_id", F.col(user_col).alias("user_id"),
        F.unix_micros(F.col(ts_col)).alias("tsu"),
    )
    drops = watermark_tradeoff_table(base, ladder).collect()
    # price state at the EFFECTIVE horizon per rung: merge by G, close
    # at last + G + W. Because the pad differs per rung while the merge
    # gap does not, each rung is its own 1-rung census call (the loop is
    # ladder-sized) rather than one stacked ladder whose d would wrongly
    # serve as the merge gap.
    priced = {}
    for label, w_us in ladder:
        row = state_census(
            base.select("user_id", "tsu"),
            ((label, gap_us),),
            close_pad_us=w_us,
        ).collect()
        if row:
            priced[label] = row[0]
    merged = [
        {
            "delay": r["delay"],
            "dropped_bp": r["dropped_bp"],
            "peak_state": priced[r["delay"]]["peak_state"],
            "n_intervals": priced[r["delay"]]["n_intervals"],
        }
        for r in drops
        if r["delay"] in priced
    ]
    label, w = plan_watermark_delay(
        merged, max_dropped_bp=max_dropped_bp, max_peak_state=max_peak_state,
        delays_us=ladder,
    )
    out = sessionize_stateful_timeout(
        events, user_col=user_col, ts_col=ts_col,
        gap=gap, watermark=_us_to_duration(w),
    )
    return label, w, out


def velocity_alerts_with_planned_watermark(
    events: DataFrame,
    history: DataFrame,
    *,
    max_dropped_bp: int,
    max_peak_state: int | None = None,
    user_col: str = "user_id",
    ts_col: str = "ts",
    delays_us: tuple[tuple[str, int], ...] | None = None,
    **velocity_kwargs,
) -> tuple[str, int, DataFrame]:
    """`stream_velocity_alerts` with its state-eviction horizon chosen
    from the decision table on a batch ``history`` slice: D bounds how
    late an event may arrive and still count toward an alert window,
    and the table says exactly what share of events that sacrifices
    (``dropped_bp``) for what state ceiling. Returns
    ``(label, d_us, stream_df)``."""
    from ..plans.events_queries import watermark_tradeoff_table

    base = history.select(
        "event_id", F.col(user_col).alias("user_id"),
        F.unix_micros(F.col(ts_col)).alias("tsu"),
    )
    table = watermark_tradeoff_table(
        base, *(() if delays_us is None else (delays_us,))
    )
    label, d = plan_watermark_delay(
        table, max_dropped_bp=max_dropped_bp, max_peak_state=max_peak_state,
        delays_us=delays_us,
    )
    out = stream_velocity_alerts(
        events, ts_col=ts_col, user_col=user_col,
        watermark=_us_to_duration(d), **velocity_kwargs,
    )
    return label, d, out


def near_dedup_with_planned_watermark(
    docs: DataFrame,
    history: DataFrame,
    *,
    max_dropped_bp: int,
    max_peak_state: int | None = None,
    id_col: str = "doc_id",
    ts_col: str = "ts",
    text_col: str = "text",
    delays_us: tuple[tuple[str, int], ...] | None = None,
    num_hashes: int = 8,
    bands: int = 4,
    shingle_k: int = 3,
    **near_dedup_kwargs,
) -> tuple[str, int, DataFrame]:
    """:func:`streaming_near_dedup` with its watermark horizon D chosen
    from the decision tables on a batch ``history`` slice (doc_id, ts,
    text) — the third and last stateful operator wired to the
    census-pricing loop (VERDICT r10 item 3; sessionize and velocity
    landed in round 10).

    The two bars budget the operator's two real costs:

    - completeness: ``dropped_bp`` per rung D is the exact share of
      history DOCUMENTS later than D against the running event-time
      high-water mark (``watermark_tradeoff_table`` over doc rows —
      a doc's claims share its own timestamp, so doc lateness IS claim
      lateness);
    - state: the near-dedup's state is ONE
      ``dropDuplicatesWithinWatermark`` entry per distinct BAND KEY in
      horizon — exactly what
      :func:`~..plans.events_queries.dedup_state_census` prices when
      fed the claim relation (:func:`near_dedup_band_claims`) as
      (k=band_key, tsu). The chosen rung's ``peak_state`` is the exact
      peak store size the cluster pays and ``n_intervals`` the exact
      admitted-claim count, which tests/test_streaming.py pins against
      a real stream run on a shared fixture.

    Returns ``(label, d_us, stream_df)``.
    """
    from ..plans.events_queries import (
        _CENSUS_DELAYS_US,
        dedup_state_census,
        watermark_tradeoff_table,
    )

    ladder = _CENSUS_DELAYS_US if delays_us is None else delays_us
    claims = near_dedup_band_claims(
        history, id_col=id_col, ts_col=ts_col, text_col=text_col,
        num_hashes=num_hashes, bands=bands, shingle_k=shingle_k,
    )
    # Completeness is priced over docs that actually CLAIM bands
    # (ADVICE r11 item 3): a doc shorter than shingle_k words emits no
    # claims, never enters the operator, and never advances the claims
    # stream's watermark — counting its lateness would inflate
    # dropped_bp and push the planner to a wider rung than the
    # operator needs. The distinct (doc, tsu) slice of the claim
    # relation is exactly the operator's own event stream.
    drops = watermark_tradeoff_table(
        claims.select(
            F.col(id_col).alias("event_id"),
            F.col(id_col).alias("user_id"),
            F.unix_micros(F.col(ts_col)).alias("tsu"),
        ).distinct(),
        ladder,
    ).collect()
    priced = {
        r["delay"]: r
        for r in dedup_state_census(
            claims.select(
                F.col("__band_key").alias("k"),
                F.unix_micros(F.col(ts_col)).alias("tsu"),
            ),
            ladder,
        ).collect()
    }
    merged = [
        {
            "delay": r["delay"],
            "dropped_bp": r["dropped_bp"],
            "peak_state": priced[r["delay"]]["peak_state"],
            "n_intervals": priced[r["delay"]]["n_intervals"],
        }
        for r in drops
        if r["delay"] in priced
    ]
    label, d = plan_watermark_delay(
        merged, max_dropped_bp=max_dropped_bp, max_peak_state=max_peak_state,
        delays_us=ladder,
    )
    out = streaming_near_dedup(
        docs, id_col=id_col, ts_col=ts_col, text_col=text_col,
        watermark=_us_to_duration(d),
        num_hashes=num_hashes, bands=bands, shingle_k=shingle_k,
        **near_dedup_kwargs,
    )
    return label, d, out


def plan_near_dedup_banding(
    history: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> tuple[str, int, int]:
    """Choose the near-dedup BANDING from measured recall on a batch
    history slice: runs the LSH banding tuner
    (:func:`~..plans.textops._banding_tuner_core` — stratified
    near-dup-seeded probe sample, exact-Jaccard labels, every candidate
    banding of the 8-hash signature pool scored in one pass) and
    returns the chosen ``(banding_label, bands, rows_per_band)``.

    Refusal contract: raises ``ValueError`` when NO banding clears the
    measured-recall floor — the same loud refusal as
    :func:`plan_watermark_delay`; a streaming operator must not start
    on a banding the evidence says loses >10% of true near-dups.

    The tuner is hardwired to the production signature pool
    (textops.NUM_HASHES = 8, SHINGLE_K = 3); callers running a
    different pool must size their own sample.
    """
    from ..plans.textops import _banding_tuner_core

    docs = history.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
    )
    _, decision = _banding_tuner_core({"documents": docs})
    chosen = [r for r in decision.collect() if r["chosen"] == 1]
    if not chosen:
        raise ValueError(
            "no LSH banding clears the measured-recall floor on this "
            "history slice — refusing to plan streaming near-dedup on "
            "an operating point the evidence rejects (raise the "
            "signature budget or relax the floor)"
        )
    row = chosen[0]
    return row["banding"], int(row["bands"]), int(row["rows_per_band"])


def near_dedup_with_tuned_plan(
    docs: DataFrame,
    history: DataFrame,
    *,
    max_dropped_bp: int,
    max_peak_state: int | None = None,
    id_col: str = "doc_id",
    ts_col: str = "ts",
    text_col: str = "text",
    delays_us: tuple[tuple[str, int], ...] | None = None,
    **near_dedup_kwargs,
) -> tuple[str, str, int, DataFrame]:
    """:func:`near_dedup_with_planned_watermark` with BOTH knobs
    evidence-based (VERDICT r11 item 4): the banding comes from the
    measured-recall tuner on the history slice
    (:func:`plan_near_dedup_banding`), and the watermark horizon is
    then priced at THAT banding — the state the census prices is one
    store entry per distinct band key in horizon, and the band-key
    cardinality is exactly what the banding determines, so pricing the
    horizon at a hardcoded 4x2 while streaming at the tuned banding
    would cost-model a different operator than the one running.

    Returns ``(banding_label, delay_label, d_us, stream_df)``. Either
    planner refuses loudly: no banding above the recall floor or no
    rung under the drop/state bars raises instead of degrading.
    """
    from ..plans.textops import NUM_HASHES, SHINGLE_K

    banding, b, _r = plan_near_dedup_banding(
        history, id_col=id_col, text_col=text_col
    )
    label, d, out = near_dedup_with_planned_watermark(
        docs, history,
        max_dropped_bp=max_dropped_bp, max_peak_state=max_peak_state,
        id_col=id_col, ts_col=ts_col, text_col=text_col,
        delays_us=delays_us,
        num_hashes=NUM_HASHES, bands=b, shingle_k=SHINGLE_K,
        **near_dedup_kwargs,
    )
    return banding, label, d, out
