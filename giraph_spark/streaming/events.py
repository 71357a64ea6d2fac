"""Streaming operators over the events table.

Batch + streaming twins: each operator has a batch formulation (testable
against a SQL oracle) and a Structured Streaming formulation (readStream +
watermark + windowed agg / stateful sessionization). The streaming side is
exercised in tests with the rate/memory sources against the same logic.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def read_events_stream(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """File-source stream over the events table only (schema inferred from
    the static table — required by readStream). The path targets
    ``events.parquet`` itself, NOT ``sf_dir`` — the directory holds other
    tables (customer, lineitem, …) whose files would otherwise be read
    under the events schema as garbage rows. Timestamp handling mirrors
    :func:`giraph_spark.plans.fixtures.read_events` (schema-adaptive:
    nanos-as-long or native micros)."""
    from ..plans.fixtures import normalize_event_ts

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    # The file stream source requires a directory or a glob, not a bare
    # file path ("Option 'basePath' must be a directory"); the one-char
    # character class turns the exact file name into a glob that matches
    # only events.parquet.
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(f"{sf_dir}/events.parque[t]")
    )
    return normalize_event_ts(stream)


def _with_watermark(events: DataFrame, watermark: str) -> DataFrame:
    """Apply the event-time watermark, first coercing a TIMESTAMP_NTZ
    ``ts`` (e.g. a user-supplied stream that bypassed
    :func:`read_events_stream`) to TIMESTAMP — Spark's event-time
    validator accepts only the latter. The session timezone is pinned to
    UTC first (matching :func:`~giraph_spark.plans.fixtures.normalize_event_ts`
    on the batch path) so the cast is a relabel, not a value shift — without
    the pin, Spark's default session tz is the JVM local zone and every
    event time would silently shift by the tz offset, skewing windows,
    watermarks, and dedup horizons."""
    if dict(events.dtypes).get("ts") == "timestamp_ntz":
        events.sparkSession.conf.set("spark.sql.session.timeZone", "UTC")
        events = events.withColumn("ts", F.col("ts").cast("timestamp"))
    return events.withWatermark("ts", watermark)


def event_counts_stream(
    events: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Tumbling-window event counts per type with late-data handling."""
    return (
        _with_watermark(events, watermark)
        .groupBy(F.window("ts", window).alias("w"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
        )
    )


def streaming_degrees(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Continuously-maintained out-degree of the events_chain graph
    analog: per-user event counts (graph degree = successive-event edges
    = events-1 per user)."""
    return (
        _with_watermark(events, watermark)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


def sessionize(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Batch sessionization: a session breaks when the gap to the previous
    event of the same user exceeds ``gap_minutes``. One window pass:
    lag → break flag → running sum = session index. Returns per-session
    rows ``(user_id, session_id, session_start, session_end, n_events)``."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
    brk = (gap.isNull() | (gap > gap_minutes * 60)).cast("long")
    with_sess = (
        events.withColumn("_brk", brk)
        .withColumn(
            "session_seq",
            F.sum("_brk").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
    )
    return (
        with_sess.groupBy("user_id", "session_seq")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
        )
        .withColumn("session_seq", F.col("session_seq").cast("long"))
    )


def user_activity_stream(
    events: DataFrame,
    watermark: str = "2 hours",
    idle_timeout_ms: int = 30 * 60 * 1000,
) -> DataFrame:
    """Custom stateful per-user activity tracking via
    ``applyInPandasWithState`` — the arbitrary-stateful-operator path for
    session logic ``session_window`` cannot express (here: running event
    count, distinct event types, and first/last timestamps per user, with a
    processing-time idle timeout that emits and clears the state — the
    streaming analog of Giraph's per-vertex long-lived state across
    supersteps).

    Emits a running snapshot row per user per micro-batch (and a final row
    when the idle timeout clears the state):
    ``(user_id, n_events, first_ts, last_ts, closed)``.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        BooleanType,
        LongType,
        StructField,
        StructType,
        TimestampType,
    )

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n_events", LongType()),
            StructField("first_ts", TimestampType()),
            StructField("last_ts", TimestampType()),
            StructField("closed", BooleanType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("n_events", LongType()),
            StructField("first_us", LongType()),
            StructField("last_us", LongType()),
        ]
    )

    def _row(user_id, n, first_us, last_us, closed):
        import pandas as pd

        return pd.DataFrame(
            {
                "user_id": [user_id],
                "n_events": [n],
                "first_ts": [pd.Timestamp(first_us, unit="us")],
                "last_ts": [pd.Timestamp(last_us, unit="us")],
                "closed": [closed],
            }
        )

    def track(key, pdf_iter, state: GroupState):
        (user_id,) = key
        if state.hasTimedOut:
            n, first_us, last_us = state.get
            state.remove()
            yield _row(user_id, n, first_us, last_us, True)
            return
        n, first_us, last_us = state.get if state.exists else (0, None, None)
        for pdf in pdf_iter:
            if len(pdf) == 0:
                continue
            ts_us = pdf["ts"].astype("int64") // 1000
            n += len(pdf)
            lo, hi = int(ts_us.min()), int(ts_us.max())
            first_us = lo if first_us is None else min(first_us, lo)
            last_us = hi if last_us is None else max(last_us, hi)
        state.update((n, first_us, last_us))
        state.setTimeoutDuration(idle_timeout_ms)
        yield _row(user_id, n, first_us, last_us, False)

    return (
        _with_watermark(events, watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            track,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
        )
    )


def build_chain_edges_stream(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Streaming graph construction: incrementally derive the event-chain
    graph (FIXTURES.md B3 — edge from each event to the user's next event)
    from an event stream.

    The cross-batch seam is the interesting part: the last event of user U
    in batch N must connect to U's first event in batch N+1, which the
    stateless window formulation (``events_chain``) cannot do over a
    stream. Per-user state = (last_event_id, last_ts_us), carried by
    ``applyInPandasWithState``; each micro-batch emits the within-batch
    chain plus the seam edge from state.

    Assumes per-user time-ordered arrival across batches (standard for log
    ingestion; the watermark bounds how late a file may be). At scale the
    state is O(users) — two longs per user — and the shuffle is the same
    hash-by-key exchange every stateful operator pays.

    Returns a streaming DataFrame of ``(src, dst)`` edge rows whose union
    over all batches equals the batch ``events_chain`` edge set.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import LongType, StructField, StructType

    out_schema = StructType(
        [StructField("src", LongType()), StructField("dst", LongType())]
    )
    state_schema = StructType(
        [StructField("last_event", LongType()), StructField("last_ts_us", LongType())]
    )

    def build(key, pdf_iter, state: GroupState):
        chunks = [p for p in pdf_iter if len(p) > 0]
        if not chunks:
            return
        pdf = pd.concat(chunks).sort_values(["ts", "event_id"])
        ids = pdf["event_id"].astype("int64").tolist()
        prev = state.get[0] if state.exists else None
        srcs = ([prev] if prev is not None else []) + ids[:-1]
        dsts = ids if prev is not None else ids[1:]
        last_us = int(pdf["ts"].astype("int64").iloc[-1] // 1000)
        state.update((ids[-1], last_us))
        if srcs:
            yield pd.DataFrame({"src": srcs, "dst": dsts})

    return (
        _with_watermark(events, watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            build,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def sessionize_stream(
    events: DataFrame, gap_minutes: int = 30, watermark: str = "2 hours"
) -> DataFrame:
    """Streaming sessionization via the built-in session window (gap-based
    merge, state managed by Spark; the stateful-operator path —
    ``applyInPandasWithState`` — is only needed for session logic the
    session_window cannot express)."""
    return (
        _with_watermark(events, watermark)
        .groupBy(
            F.session_window(F.col("ts"), f"{gap_minutes} minutes").alias("sw"),
            F.col("user_id"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
    )


def dedup_stream(
    events: DataFrame,
    keys: tuple[str, ...] = ("event_id",),
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming ingestion dedup: keep the first occurrence of each key,
    with dedup state BOUNDED by the watermark
    (``dropDuplicatesWithinWatermark``) — the at-least-once-source →
    effectively-once-sink pattern. Unbounded ``dropDuplicates`` state
    grows forever on an infinite stream; the watermark bound is what
    makes this runnable at ingestion scale (state = keys within one
    watermark horizon). Duplicates separated by more than the watermark
    are NOT caught — that cross-horizon tail is the batch dedup pass's
    job (``functions.dedup``), which is exactly how production pipelines
    split the work between the two."""
    return _with_watermark(events, watermark).dropDuplicatesWithinWatermark(
        list(keys)
    )


def funnel_stream(
    events: DataFrame,
    steps: list[str],
    *,
    within_seconds: int | None = None,
    watermark: str = "2 hours",
    idle_timeout_ms: int = 6 * 60 * 60 * 1000,
) -> DataFrame:
    """Streaming conversion funnel: the per-user sequential-min
    progression of :func:`giraph_spark.functions.joins.funnel` maintained
    incrementally across micro-batches via ``applyInPandasWithState``.

    Per user the state is one epoch-microsecond slot per step (-1 =
    not reached). Each micro-batch merges its events into the carried
    state with the same per-step min rule as the batch operator: ``t0`` =
    min ``steps[0]`` time; ``tK`` = min ``steps[K]`` time ``>= t(K-1)``
    (and ``<= t(K-1) + within_seconds`` when set). A snapshot row
    ``(user_id, t0..tN, n_completed)`` is emitted whenever a user's
    progress advances; the LAST row per user equals the batch ``funnel``
    result under per-user time-ordered arrival across batches (the same
    log-ingestion assumption as :func:`build_chain_edges_stream`;
    intra-batch disorder is fine — each pass computes per-step mins over
    the whole batch, not a single scan). ``steps`` must be distinct.

    State is bounded: a user idle for ``idle_timeout_ms`` of processing
    time (default 6 h) has their funnel state evicted — completed and
    abandoned funnels don't accumulate forever in the state store (the
    unbounded-growth failure mode of ``NoTimeout`` stateful operators).
    A user re-appearing after eviction starts a fresh funnel.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        LongType,
        StructField,
        StructType,
        TimestampType,
    )

    if len(set(steps)) != len(steps):
        raise ValueError("funnel steps must be distinct")
    k = len(steps)
    within_us = None if within_seconds is None else within_seconds * 1_000_000

    out_schema = StructType(
        [StructField("user_id", LongType())]
        + [StructField(f"t{i}", TimestampType()) for i in range(k)]
        + [StructField("n_completed", LongType())]
    )
    state_schema = StructType(
        [StructField(f"t{i}", LongType()) for i in range(k)]
    )

    def track(key, pdf_iter, state: GroupState):
        (user_id,) = key
        if state.hasTimedOut:
            state.remove()
            return
        t = list(state.get) if state.exists else [-1] * k
        chunks = [p for p in pdf_iter if len(p) > 0]
        if not chunks:
            return
        pdf = pd.concat(chunks)
        us = pdf["ts"].astype("int64") // 1000
        types = pdf["event_type"]
        changed = False
        for i, s in enumerate(steps):
            if t[i] != -1:
                continue
            mask = types == s
            if i > 0:
                if t[i - 1] == -1:
                    break
                mask = mask & (us >= t[i - 1])
                if within_us is not None:
                    mask = mask & (us <= t[i - 1] + within_us)
            if not mask.any():
                if i == 0:
                    break
                continue
            t[i] = int(us[mask].min())
            changed = True
        state.update(tuple(t))
        state.setTimeoutDuration(idle_timeout_ms)
        if changed:
            row = {"user_id": [user_id]}
            for i in range(k):
                row[f"t{i}"] = [
                    pd.Timestamp(t[i], unit="us") if t[i] != -1 else pd.NaT
                ]
            row["n_completed"] = [sum(1 for x in t if x != -1)]
            yield pd.DataFrame(row)

    return (
        _with_watermark(events, watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            track,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
        )
    )


def near_dup_stream(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ts_col: str = "ts",
    k: int = 5,
    num_hashes: int = 64,
    bands: int = 16,
    watermark: str = "2 hours",
    eviction_horizon_ms: int = 2 * 60 * 60 * 1000,
) -> DataFrame:
    """Streaming MinHash-LSH near-duplicate candidates at ingestion: the
    streaming tier of :func:`giraph_spark.functions.dedup.
    minhash_lsh_pairs`. Each document's signature is banded exactly as
    in the batch operator (pure expressions, so the sketch works on an
    unbounded stream); per LSH bucket a keyed state remembers the
    FIRST-SEEN document, and every later same-bucket arrival emits a
    candidate row ``(doc_id, dup_of, band, bucket)`` pointing at that
    holder. Aggregate downstream per doc (e.g. ``min(dup_of)`` /
    ``count(distinct band)``) or route flagged docs to the quarantine
    sink.

    State bounds (the production contract, as :func:`dedup_stream`):
    one (holder id, ts) pair per live bucket, evicted once the EVENT-TIME
    watermark passes ``eviction_horizon_ms`` beyond the bucket's last
    arrival — buckets of long-gone topics do not accumulate forever
    (event-time, not processing-time, so an ``availableNow`` replay
    terminates instead of idling for wall-clock timeouts). Duplicates separated by
    more than the eviction horizon are the batch pass's job; the
    streaming tier exists to catch the near-in-time redundancy (crawl
    re-fetches, syndicated reposts) before it lands in the corpus.
    Within a micro-batch, arrival order is normalized to (ts, id), so
    replays are deterministic."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import LongType, StructField, StructType

    from ..functions.hashing import normalize_text
    from ..functions.lsh import explode_bands, minhash_band_keys

    src = docs if ts_col == "ts" else docs.withColumnRenamed(ts_col, "ts")
    ts_col = "ts"  # _with_watermark operates on the canonical ts name
    # signature as a PURE EXPRESSION: min-hash over the in-row shingle
    # array (duplicate shingles cannot change a min, so this equals the
    # batch minhash_signatures' explode+groupBy form exactly). A
    # groupBy here would be a SECOND stateful operator in the stream —
    # Spark restricts chaining those; the projection form keeps the
    # bucket state the only stateful stage (and costs zero shuffles).
    shingles = F.expr(
        f"transform(sequence(1, greatest(length(_n) - {k} + 1, 1)), "
        f"i -> substring(_n, i, {k}))"
    )
    def seeded_hash(seed: int):
        # NOTE: F.transform dispatches on the lambda's ARITY (a second
        # parameter would receive the array index), so the seed must be
        # bound via this closure factory, never a default argument
        return lambda x: F.xxhash64(x, F.lit(seed))

    sig = (
        _with_watermark(src, watermark)
        .select(
            F.col(id_col),
            F.col(ts_col),
            normalize_text(F.col(text_col)).alias("_n"),
        )
        .select(F.col(id_col), F.col(ts_col), shingles.alias("_sh"))
        .select(
            F.col(id_col),
            F.col(ts_col),
            F.array(
                *[
                    F.array_min(F.transform(F.col("_sh"), seeded_hash(seed)))
                    for seed in range(num_hashes)
                ]
            ).alias("sig"),
        )
    )

    banded = explode_bands(
        sig, [id_col, ts_col], minhash_band_keys(num_hashes, bands)
    ).withColumn("band", F.col("band").cast("long"))

    out_schema = StructType(
        [
            StructField(id_col, LongType()),
            StructField("dup_of", LongType()),
            StructField("band", LongType()),
            StructField("bucket", LongType()),
        ]
    )
    state_schema = StructType(
        [StructField("holder", LongType()), StructField("first_us", LongType())]
    )

    def track(key, pdf_iter, state: GroupState):
        band, bucket = key
        if state.hasTimedOut:
            state.remove()
            return
        chunks = [p for p in pdf_iter if len(p) > 0]
        if not chunks:
            return
        pdf = pd.concat(chunks).sort_values([ts_col, id_col])
        ids = pdf[id_col].astype("int64").tolist()
        uss = (pdf[ts_col].astype("int64") // 1000).tolist()
        if state.exists:
            holder, first_us = state.get
        else:
            holder, first_us = int(ids[0]), int(uss[0])
            ids, uss = ids[1:], uss[1:]
        out_ids = [int(i) for i in ids if int(i) != holder]
        state.update((holder, first_us))
        # event-time eviction: timeout fires when the watermark passes
        # the bucket's last activity + horizon (must exceed the current
        # watermark, hence the max())
        last_ms = max(
            (uss[-1] if uss else first_us) // 1000,
            state.getCurrentWatermarkMs() + 1,
        )
        state.setTimeoutTimestamp(last_ms + eviction_horizon_ms)
        if out_ids:
            yield pd.DataFrame(
                {
                    id_col: out_ids,
                    "dup_of": [holder] * len(out_ids),
                    "band": [int(band)] * len(out_ids),
                    "bucket": [int(bucket)] * len(out_ids),
                }
            )

    return banded.groupBy("band", "bucket").applyInPandasWithState(
        track,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
