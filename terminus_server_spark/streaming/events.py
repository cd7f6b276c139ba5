"""Structured Streaming operators over the events stream (SURVEY §2.7).

The reference has no streaming surface; this is part of the
large-scale-pipeline extension.  Operators are written against
streaming DataFrames (watermarks bound state) and are exercised in
tests with a file source + ``availableNow`` trigger so the *same
code* runs in production as ``readStream`` → kafka/files →
``writeStream``.

The operators are pure transformations over a (possibly streaming)
DataFrame, so batch oracles can verify their semantics exactly
(stream-batch unification is the point of Structured Streaming).

Every ``run_stream_*`` harness replays its batches through one
private primitive, ``_replay``: it stages each batch as one file,
runs ONE query over them (one micro-batch per batch) into a memory,
file or ``foreachBatch`` sink, and deletes its directories once the
query has ended.  A query that pins its state partition count is
built in a cloned session (checkpoint.run_in_clone), so no harness
writes the caller's conf.  The state sinks (CDC, upsert, sketches,
graph maintenance) write only their per-batch step; ``_fold`` owns
the versioned parquet state that step reads and writes.
``backfill_file_source`` and ``run_stream_fanout`` test source
semantics (multi-file triggers, batch-id replays), so they keep their
own queries and share only the directory cleanup.

The CDC graph harnesses (``run_stream_*_cdc``) fold one step,
``_cdc_step``.  Each micro-batch carries ``(op, src, dst)`` rows with
op ∈ {add, del}, and the ops of one batch are an UNORDERED set.  The
step splits the batch on ``op`` and canonicalises both halves into
the edge store's form (``operators.graph._und``; ``_und_w`` for the
weighted store, ``_directed`` for directed graphs, whose self-loops
stay).  Deletes run first, against the pre-batch store; inserts run
next, against the post-delete store, so an edge deleted and re-added
in one batch is present.  A direction with no rows is skipped.  The
step updates the store itself at the cost of the batch
(``graph._delete``, ``graph._fresh``): the accumulated edges are
never shuffled or re-deduplicated.  A harness supplies only its empty
state and its ``on_delete``/``on_insert`` maintainers, and its final
state equals its batch operator over the NET edge set, whatever the
batch split (nodes that lose their last edge stay as singletons where
the state is a node labelling).
"""

from __future__ import annotations

import glob
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession, functions as F

from terminus_server_spark.checkpoint import run_in_clone
from terminus_server_spark.operators.graph import (
    _delete,
    _directed,
    _fresh,
    _symmetrize,
    _und,
    _und_w,
    connected_components_decremental,
    connected_components_incremental,
    kcore_decremental,
    kcore_incremental,
    ktruss_decremental,
    ktruss_incremental,
    msf_decremental,
    msf_incremental,
    pagerank,
    pagerank_warm,
    scc_decremental,
    scc_incremental,
    triangle_count_decremental,
    triangle_count_incremental,
)


def _event_time(events: DataFrame, col: str = "ts") -> DataFrame:
    """Watermarks / time windows require TIMESTAMP (LTZ); the canonical
    wire type for event timestamps is TIMESTAMP_NTZ (see
    session.load_tables).  Session tz is UTC, so the cast changes only
    the type, not the wall time.  No-op if already LTZ."""
    if dict(events.dtypes).get(col) == "timestamp_ntz":
        events = events.withColumn(col, F.col(col).cast("timestamp"))
    return events


def windowed_counts(events: DataFrame, window: str = "1 hour", watermark: str = "2 hours") -> DataFrame:
    """Tumbling-window per-type aggregates with a watermark.

    Output: (window_start, event_type, n_events, sum_value) — the
    decimal-sum convention keeps sums order-independent so the batch
    oracle hash-matches."""
    e = _event_time(events).withWatermark("ts", watermark)
    return (
        e.groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(28,6)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def stream_dedup(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Exactly-once event stream: drop duplicate event_ids within the
    watermark horizon (state is bounded by the watermark — the 100 TB
    requirement for infinite streams)."""
    deduped = _event_time(events).withWatermark("ts", watermark).dropDuplicates(["event_id"])
    return deduped.withColumn("ts", F.col("ts").cast("timestamp_ntz"))


def _clear(root: str, keep: tuple[str, ...] = ()) -> None:
    """Delete the harness directory ``root`` but for its entries
    ``keep`` — the files the returned frame reads; ``root`` itself
    goes too when nothing is kept."""
    for entry in os.listdir(root):
        if entry not in keep:
            shutil.rmtree(os.path.join(root, entry))
    if not keep:
        os.rmdir(root)


def _replay(
    spark: SparkSession,
    root: str,
    batches: list[DataFrame],
    sink,
    keep: tuple[str, ...] = (),
    heavy_batches: bool = False,
    shuffle_partitions: int | None = None,
) -> tuple[DataFrame | None, list]:
    """Feed ``batches`` through ONE streaming query, one micro-batch
    per batch, in order: the replay every harness in this module runs
    on.  It is the production shape (a long-running query processing
    many triggers), not a query restart per batch — a restart re-pays
    source listing, offset-log recovery and query planning on every
    delivery, measured as the dominant fixed cost of every
    versioned-state sink.

    Staging: each batch lands in ``root/src`` as a single parquet
    file whose pinned mtime fixes the file-source order (oldest
    first), and ``maxFilesPerTrigger=1`` makes file i exactly
    micro-batch i.  The default coalesce(1) serializes only the
    batch's final stage (upstream shuffles keep their parallelism)
    and is right for DELTA-SIZED batches — a production stream's
    files arrive from the source already written, staging exists
    only in this harness, and the two-phase variant's extra
    write+read+job per batch measurably regresses many-small-batch
    sinks (stream_kcore 13.3→20.7 s, stream_cc_incremental 9.5→14.7
    s).  Callers whose batches are CORPUS-SIZED scans pass
    ``heavy_batches=True``: coalesce(1) would collapse the whole
    scan+transform into one task (stream_json_docs: 4 serialized
    corpus scans, 5.4→34 s), so those stage two-phase — a plain
    parallel write, then a file-level read+coalesce(1) task that
    concatenates the staged bytes into the one delivery file without
    touching the upstream plan (13.3 s).  repartition(1) loses both
    ways: its round-robin shuffle + sort per batch dominates
    delta-sized batches (stream_kcore +4 s).

    ``sink(stream)`` turns the file stream into the writer the caller
    asks for (memory, file or ``foreachBatch``); the replay adds the
    checkpoint (``root/ckpt``) and the availableNow trigger, starts
    the query and waits for it to drain.  ``shuffle_partitions`` pins
    the query's STATE partition count: the query is then built and
    started in a clone of ``spark`` carrying that one setting
    (checkpoint.run_in_clone).  A query fixes the count in its offset
    log at start, so the clone scopes it to this query alone and the
    caller's conf is never written.

    Once the query has ended (or failed), everything under ``root``
    but the entries ``keep`` is deleted.  Returns ``(table,
    progresses)``: the table a memory sink filled (named by its
    ``queryName``) bound to ``spark``, or None for the other sinks,
    and the query's per-batch progress objects."""
    src = os.path.join(root, "src")
    progresses: list = []

    def run(s: SparkSession) -> DataFrame | None:
        stream = (
            s.readStream.schema(batches[0].schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            sink(stream)
            .option("checkpointLocation", os.path.join(root, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        progresses.extend(q.recentProgress)
        return s.table(q.name) if q.name else None

    try:
        os.makedirs(src)
        for i, b in enumerate(batches):
            stage = os.path.join(root, f"stage{i}")
            (b if heavy_batches else b.coalesce(1)).write.parquet(stage)
            parts = glob.glob(os.path.join(stage, "part-*.parquet"))
            if len(parts) > 1:
                merged = os.path.join(root, f"merge{i}")
                spark.read.parquet(stage).coalesce(1).write.parquet(merged)
                parts = glob.glob(os.path.join(merged, "part-*.parquet"))
            dst = os.path.join(src, f"batch{i:05d}.parquet")
            os.replace(parts[0], dst)
            # file-source batch order follows modification time (oldest
            # first): pin mtimes so batch i is micro-batch i
            os.utime(dst, (i + 1, i + 1))
        if shuffle_partitions is None:
            table = run(spark)
        else:
            conf = {"spark.sql.shuffle.partitions": str(shuffle_partitions)}
            table = run_in_clone(spark, conf, run)
    finally:
        _clear(root, keep)
    return table, progresses


def _fold(
    spark: SparkSession,
    batches: list[DataFrame],
    step,
    answer: str,
    heavy_batches: bool = False,
    append: tuple[str, ...] = (),
) -> DataFrame:
    """Versioned state folded over a stream replay: the
    read-modify-write-swap every state sink in this module runs on.

    ``step(prev, batch_df)`` maps the last state version (a dict of
    named frames, ``None`` before the first batch) and one micro-batch
    to the next version's dict.  The fold owns the rest: micro-batch
    i reads version i-1 and writes version i of each table as
    immutable parquet (never overwriting a file it reads, the
    cross-batch contract a transactional table format provides), and
    drops version i-1 once version i is written, so the state on disk
    is one version whatever the stream's length.  Tables named in
    ``append`` are insert-only stores kept in one directory: the step
    returns only the rows to add, appended AFTER the versioned tables
    are written so their lazy plans read the pre-batch store.

    Returns the last version of table ``answer``; nothing else the
    fold wrote is left on disk."""
    root = tempfile.mkdtemp(prefix="tss_stream_")
    version, names = -1, []

    def path(name: str, v: int) -> str:
        if name in append:
            return os.path.join(root, name)
        return os.path.join(root, name, f"v{v}")

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        nonlocal version, names
        s = batch_df.sparkSession
        prev = {n: s.read.parquet(path(n, version)) for n in names} or None
        out = step(prev, batch_df)
        for name in sorted(out, key=lambda n: n in append):
            mode = "append" if name in append else "overwrite"
            out[name].write.mode(mode).parquet(path(name, version + 1))
        for name in names:
            if name not in append:
                shutil.rmtree(path(name, version))
        version, names = version + 1, list(out)

    _replay(
        spark,
        root,
        batches,
        lambda stream: stream.writeStream.foreachBatch(merge),
        keep=(answer,),
        heavy_batches=heavy_batches,
    )
    return spark.read.parquet(path(answer, version))


def _cdc_step(empty, on_delete, on_insert, canon=_und):
    """The fold step of every CDC graph harness (contract in the
    module docstring).  ``empty(adds)`` is the state before the first
    batch, a dict of named frames; ``on_delete(state, store, dels)``
    and ``on_insert(state, store, adds)`` map it to the next state,
    given the store as it stands before that direction applies.  The
    store itself is the state's ``edges`` table, which the step
    alone updates."""

    def step(prev, batch_df: DataFrame) -> dict:
        adds = canon(batch_df.where(F.col("op") == "add")).localCheckpoint(eager=True)
        dels = canon(batch_df.where(F.col("op") == "del")).localCheckpoint(eager=True)
        if prev is None:
            prev = {"edges": adds.limit(0), **empty(adds)}
        state = dict(prev)
        store = state.pop("edges")
        if dels.count():
            state = on_delete(state, store, dels)
            store = _delete(store, dels)
        if adds.count():
            state = on_insert(state, store, adds)
            store = store.unionByName(_fresh(store, adds))
        return {"edges": store, **state}

    return step


def run_stream_to_table(
    spark: SparkSession,
    events_path_df: DataFrame,
    transform,
    table_name: str,
    output_mode: str = "append",
    shuffle_partitions: int | None = None,
) -> DataFrame:
    """Test/driver harness: replay a batch events DataFrame through a
    real streaming query (file source, availableNow trigger, memory
    sink) as one micro-batch and return the resulting batch DataFrame.

    This is the honest way to prove the streaming operator works as a
    *stream* (state, watermarks, triggers) while still returning a
    comparable DataFrame.  ``shuffle_partitions``: see
    run_stream_batches_to_table."""
    return run_stream_batches_to_table(
        spark, [events_path_df], transform, table_name, output_mode, shuffle_partitions
    )[0]


def run_stream_batches_to_table(
    spark: SparkSession,
    batches: list[DataFrame],
    transform,
    table_name: str,
    output_mode: str = "append",
    shuffle_partitions: int | None = None,
) -> tuple[DataFrame, list]:
    """Replay a *sequence* of batch DataFrames as one micro-batch
    each (file source, one file per batch, ``maxFilesPerTrigger=1``,
    availableNow, memory sink) — the harness that proves cross-batch
    state and watermark-driven EventTimeTimeout expiry for real: the
    watermark only advances between micro-batches, so state TTL is
    unobservable under a single batch.

    ``shuffle_partitions`` pins the STATE partition count for this
    query alone (stream-stream joins keep four HDFS-backed state
    stores per partition and snapshot each one every micro-batch — at
    local bench scale that per-partition file traffic, not the data,
    dominates; the production default stays the session's setting).

    Returns ``(result_df, progresses)`` — progresses are the
    streaming query's per-batch progress objects, whose
    ``stateOperators[].numRowsRemoved`` exposes expired state."""
    return _replay(
        spark,
        tempfile.mkdtemp(prefix="tss_stream_"),
        batches,
        lambda stream: transform(stream)
        .writeStream.format("memory")
        .queryName(table_name)
        .outputMode(output_mode),
        heavy_batches=True,
        shuffle_partitions=shuffle_partitions,
    )


def session_windows(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Per-user session windows: events closer than ``gap`` merge into
    one session; session end = last event + gap (Spark
    ``session_window`` semantics).  Watermark bounds the open-session
    state, which is what makes this safe on an unbounded stream.

    Output: (user_id, session_start, session_end, n_events,
    sum_value).  Works identically on batch and streaming inputs."""
    e = _event_time(events).withWatermark("ts", watermark)
    return (
        e.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(28,6)")).cast("double").alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("w.start").cast("timestamp_ntz").alias("session_start"),
            F.col("w.end").cast("timestamp_ntz").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


def stream_static_join_counts(
    events: DataFrame,
    dim: DataFrame,
    on: str,
    window: str = "1 hour",
    watermark: str = "2 hours",
    group_col: str = "n_name",
) -> DataFrame:
    """Stream-static join + windowed rollup: each micro-batch probes
    the static dimension (broadcast by Catalyst — the static side is
    planned once), then aggregates per window and dim attribute.

    Output: (window_start, <group_col>, n_events, sum_value).  This is
    the streaming-enrichment shape (events → dimension lookup →
    rollup); state is bounded by the watermark, the join adds none."""
    e = _event_time(events).withWatermark("ts", watermark).join(dim, on=on)
    return (
        e.groupBy(F.window("ts", window).alias("w"), group_col)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(28,6)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            group_col,
            "n_events",
            "sum_value",
        )
    )


def stream_stream_attribution_join(
    events: DataFrame,
    within: str = "30 minutes",
    watermark: str = "1 hour",
    how: str = "inner",
) -> DataFrame:
    """(user_id, purchase_id, view_id, gap_us): stream-stream
    interval join — every purchase paired with the same user's views
    in the ``within`` window before it (the attribution join;
    complements pattern_alerts, which keeps only the latest view).

    Both sides carry watermarks and the join condition bounds event
    time on BOTH streams, which is exactly what lets Structured
    Streaming expire join state: a buffered view older than
    watermark + within can never match a future purchase and is
    dropped.  Works identically on batch inputs (plain interval
    join), so the SQL oracle replays it exactly.

    ``how="leftOuter"`` keeps unattributed purchases: Structured
    Streaming emits the NULL-view row only once the watermark passes
    the purchase's event time (no future view can match it — the
    state-closure proof), so outer results trail the stream by the
    watermark delay; the batch oracle is the plain LEFT interval
    join."""
    e = _event_time(events)
    views = (
        e.where(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("view_ts"),
            F.col("event_id").alias("view_id"),
        )
        .withWatermark("view_ts", watermark)
    )
    purchases = (
        e.where(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.col("ts").alias("purchase_ts"),
            F.col("event_id").alias("purchase_id"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    joined = purchases.join(
        views,
        F.expr(
            f"user_id = v_user AND view_ts >= purchase_ts - INTERVAL {within}"
            " AND view_ts < purchase_ts"
        ),
        how,
    )
    return joined.select(
        "user_id",
        "purchase_id",
        "view_id",
        (
            F.unix_micros(F.col("purchase_ts")) - F.unix_micros(F.col("view_ts"))
        ).alias("gap_us"),
    )


def funnel_counts(
    events: DataFrame, steps: tuple[str, ...] = ("signup", "view", "purchase")
) -> DataFrame:
    """(step, step_idx, n_users): ordered-funnel conversion — users
    whose first step-k event happens strictly after their first
    step-(k-1) conversion time.  The product-analytics staple over an
    event stream.

    Dataflow: one filtered min-ts aggregate per step (map-side
    partials, keyed by user — no skew), chained through broadcastable
    per-user join keys; K steps = K scans of one event slice, not a
    self-join explosion."""
    cur = None
    out_rows = []
    for i, step in enumerate(steps):
        stepped = events.where(F.col("event_type") == step)
        if cur is not None:
            stepped = stepped.join(cur, "user_id").where(F.col("ts") > F.col("_t"))
        cur = stepped.groupBy("user_id").agg(F.min("ts").alias("_t"))
        out_rows.append(
            cur.agg(F.count(F.lit(1)).alias("n_users")).select(
                F.lit(step).alias("step"), F.lit(i).alias("step_idx"), "n_users"
            )
        )
    out = out_rows[0]
    for o in out_rows[1:]:
        out = out.unionByName(o)
    return out


def spend_alerts(
    events: DataFrame,
    threshold: float = 1000.0,
    watermark: str = "2 hours",
    ttl_s: int = 30 * 86400,
) -> DataFrame:
    """(user_id, alert_ts, total_at_alert): one alert per user at the
    FIRST event where their cumulative spend reaches ``threshold`` —
    a custom stateful operator no built-in aggregation expresses
    (emit-once semantics + per-key running state), implemented with
    ``applyInPandasWithState``.

    State per key: (scaled running total, emitted flag) — a few
    bytes — and it is *bounded*: EventTimeTimeout drops the state of
    any user silent for ``ttl_s`` of event time (watermark-driven),
    so an unbounded user population cannot grow the state store
    forever.  Aging out an idle user's running total is the standard
    production tradeoff; within the TTL horizon the semantics are
    exact.  Totals accumulate as floor(value * 1e6) bigints, so the
    crossing decision (and the reported total) is order-independent
    and exactly reproducible by the SQL oracle's window cumsum.

    The gate replays it through a real streaming query via
    run_stream_to_table; the state-expiry path is exercised by a
    multi-micro-batch test that watches numRowsRemoved."""
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    thr_scaled = int(threshold * 1e6)
    ttl_ms = ttl_s * 1000

    def fn(key, pdf_iter, state: GroupState):
        import math

        if state.hasTimedOut:
            state.remove()
            return
        total, emitted = state.get if state.exists else (0, 0)
        rows = []
        batch_max_us = None
        chunks = [pdf for pdf in pdf_iter]
        if chunks:
            pdf = pd.concat(chunks).sort_values(["ts", "event_id"])
            batch_max_us = int(pdf["ts"].max().value // 1000)
            if not emitted:
                for ts, val in zip(pdf["ts"], pdf["value"]):
                    total += int(math.floor(val * 1e6))
                    if total >= thr_scaled:
                        rows.append((key[0], ts, total / 1e6))
                        emitted = 1
                        break
        state.update((total, emitted))
        # expire after ttl_s of *event-time* inactivity: the clock is
        # the user's own latest event, never processing time, so
        # replays age state identically
        base_ms = batch_max_us // 1000 if batch_max_us is not None else 0
        wm = state.getCurrentWatermarkMs()
        state.setTimeoutTimestamp(max(base_ms + ttl_ms, wm + 1))
        if rows:
            yield pd.DataFrame(rows, columns=["user_id", "alert_ts", "total_at_alert"])

    e = _event_time(events).withWatermark("ts", watermark)
    return e.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType="user_id bigint, alert_ts timestamp_ntz, total_at_alert double",
        stateStructType="total bigint, emitted int",
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def pattern_alerts(
    events: DataFrame, within_s: int = 1800, watermark: str = "2 hours"
) -> DataFrame:
    """(user_id, purchase_ts, gap_us): a row for every purchase that
    follows the user's latest view within ``within_s`` seconds — the
    streaming CEP staple ("A then B inside T") as a custom stateful
    operator (applyInPandasWithState; the built-in windows can't
    express cross-event-type sequences).

    State per key: the epoch-micros of the latest view — one bigint —
    and it is *bounded*: a stored view is useless once the watermark
    passes ``view + within_s`` (no in-order purchase can match it any
    more), so EventTimeTimeout drops exactly-expired state with NO
    semantic change — unbounded user populations stay cheap and the
    pattern still works across micro-batches (a view in batch N
    matches a purchase in batch N+k inside the window).  Gap
    arithmetic is integer micros, so the SQL oracle's preceding-frame
    window MAX reproduces it exactly."""
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    within_us = within_s * 1_000_000

    def fn(key, pdf_iter, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        last_view = state.get[0] if state.exists else None
        if last_view == -1:  # sentinel for "no view yet" (state is non-null)
            last_view = None
        rows = []
        batch_max_us = None
        chunks = [pdf for pdf in pdf_iter]
        if chunks:
            pdf = pd.concat(chunks).sort_values(["ts", "event_id"])
            batch_max_us = int(pdf["ts"].max().value // 1000)
            for ts, etype in zip(pdf["ts"], pdf["event_type"]):
                ts_us = ts.value // 1000  # pandas ns → µs
                if etype == "view":
                    last_view = ts_us
                elif etype == "purchase" and last_view is not None:
                    gap = ts_us - last_view
                    if gap <= within_us:
                        rows.append((key[0], ts, gap))
        state.update((last_view if last_view is not None else -1,))
        # the state's horizon: last_view + within (after that no
        # purchase can match); a key with no view yet expires one
        # window after its latest event
        base_us = last_view if last_view is not None else (batch_max_us or 0)
        wm = state.getCurrentWatermarkMs()
        state.setTimeoutTimestamp(max(base_us // 1000 + within_s * 1000, wm + 1))
        if rows:
            yield pd.DataFrame(rows, columns=["user_id", "purchase_ts", "gap_us"])

    e = _event_time(events).withWatermark("ts", watermark)
    return e.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType="user_id bigint, purchase_ts timestamp_ntz, gap_us bigint",
        stateStructType="last_view bigint",
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def run_stream_upsert(
    spark: SparkSession,
    batches: list[DataFrame],
    key_cols: list[str],
    order_cols: list[str],
) -> DataFrame:
    """Streaming upsert sink — the ``foreachBatch`` MERGE pattern:
    each micro-batch merges newest-wins into a keyed table, so the
    sink holds exactly one (latest) row per key at all times.  This
    is how Structured Streaming targets engines without native MERGE
    sinks (and mirrors MERGE INTO on ones with it); the batch verb
    equivalent is sources' ``upsert``.

    Harness: replay ``batches`` through a real stream (file source,
    one micro-batch per batch); each ``foreachBatch`` writes an
    immutable new table version (``_fold``).  Returns the final
    table."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(*key_cols).orderBy(*[F.col(c).desc() for c in order_cols])

    def step(prev, batch_df: DataFrame) -> dict:
        cur = batch_df
        if prev is not None:
            cur = prev["table"].unionByName(batch_df.select(*prev["table"].columns))
        newest = cur.withColumn("_rn", F.row_number().over(w))
        return {"table": newest.where(F.col("_rn") == 1).drop("_rn")}

    return _fold(spark, batches, step, "table")


def run_stream_batches_to_files(
    spark: SparkSession,
    batches: list[DataFrame],
    transform,
    output_mode: str = "append",
    shuffle_partitions: int | None = None,
) -> DataFrame:
    """Like :func:`run_stream_batches_to_table` but with the
    exactly-once FILE sink (writeStream.format("parquet")): committed
    output files are tracked in the sink's _spark_metadata log, so a
    reread sees each micro-batch's rows exactly once even across
    query restarts — the durable-output half of the streaming story
    the memory-sink harness can't exercise.  Returns the read-back
    DataFrame (the metadata-log-filtered view of the output
    directory)."""
    root = tempfile.mkdtemp(prefix="tss_stream_")
    out = os.path.join(root, "out")
    _replay(
        spark,
        root,
        batches,
        lambda stream: transform(stream)
        .writeStream.format("parquet")
        .option("path", out)
        .outputMode(output_mode),
        keep=("out",),
        heavy_batches=True,
        shuffle_partitions=shuffle_partitions,
    )
    return spark.read.parquet(out)


def backfill_file_source(
    spark: SparkSession,
    first: DataFrame,
    second: DataFrame,
    max_files_per_trigger: int = 2,
    n_files_each: int = 4,
):
    """Rate-capped file-source BACKFILL with exactly-once resume —
    the production pattern for replaying a large landed corpus
    through a streaming pipeline without one giant batch:
    ``maxFilesPerTrigger`` bounds every micro-batch's input (memory
    and state pressure stay flat no matter how many files landed),
    ``availableNow`` drains what exists then stops, and the
    checkpoint's file log makes a later run over the same directory
    pick up ONLY files it has not processed (late-landing files
    append to the same sink with no double-counting — source-side
    exactly-once, complementing the sink-side commit log).

    Runs the drain twice against one directory + one checkpoint:
    ``first`` is landed before run 1, ``second`` lands between runs.
    Returns ``(sink_df, n_batches_run1, n_batches_run2)`` — batch
    counts prove the cap sliced the backfill (ceil(files/cap)) and
    that run 2 read only the new files."""
    tmp = tempfile.mkdtemp(prefix="tss_stream_")
    src = os.path.join(tmp, "src")
    ckpt = os.path.join(tmp, "ckpt")
    sink = os.path.join(tmp, "sink")
    first.repartition(n_files_each).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema

    def drain() -> int:
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(src)
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return len([p for p in q.recentProgress if p["numInputRows"] > 0])

    n1 = drain()
    second.repartition(n_files_each).write.mode("append").parquet(src)
    n2 = drain()
    _clear(tmp, ("sink",))
    return spark.read.parquet(sink), n1, n2


def run_stream_fanout(
    spark: SparkSession,
    source_df: DataFrame,
    key_cols: list[str],
    value_col: str = "value",
    max_files_per_trigger: int = 2,
    n_files: int = 4,
):
    """foreachBatch FAN-OUT to two sinks with per-batch idempotence —
    the one-stream-many-sinks production pattern (raw archive for
    replay + live rollup for serving) where each sink write must be
    a deterministic function of ``batch_id`` so foreachBatch's
    at-least-once retries collapse to exactly-once:

    - archive sink: raw micro-batch rows at a batch-id-addressed path
      (a retry overwrites the SAME directory — no duplicates);
    - rollup sink: keyed aggregate versions chained as
      ``v[batch_id] = merge(v[batch_id-1], batch)`` (read-modify-
      write-swap; a retry recomputes the same version from the same
      inputs — idempotent by construction, and never overwrites a
      file it is reading).

    After the drain, the LAST batch is deliberately replayed through
    the same writer (simulating a foreachBatch retry after a sink
    failure); both sinks must be byte-identical afterwards, which the
    caller's oracle comparison enforces.  Returns
    ``(archive_df, rollup_df)``."""
    tmp = tempfile.mkdtemp(prefix="tss_stream_")
    src = os.path.join(tmp, "src")
    ckpt = os.path.join(tmp, "ckpt")
    archive = os.path.join(tmp, "archive")
    last = -1

    def rollup_of(df: DataFrame) -> DataFrame:
        return df.groupBy(*key_cols).agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.col(value_col).cast("decimal(28,6)")).alias("_sv"),
        )

    def fanout(batch_df: DataFrame, batch_id: int) -> None:
        nonlocal last
        s = batch_df.sparkSession
        batch_df.write.mode("overwrite").parquet(
            os.path.join(archive, f"b{batch_id}")
        )
        agg = rollup_of(batch_df)
        prev = os.path.join(tmp, f"roll_v{batch_id - 1}")
        if os.path.exists(prev):
            agg = (
                s.read.parquet(prev)
                .unionByName(agg)
                .groupBy(*key_cols)
                .agg(
                    F.sum("n").cast("bigint").alias("n"),
                    F.sum("_sv").cast("decimal(28,6)").alias("_sv"),
                )
            )
        agg.write.mode("overwrite").parquet(os.path.join(tmp, f"roll_v{batch_id}"))
        last = max(last, batch_id)

    source_df.repartition(n_files).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(fanout)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # simulate the at-least-once retry: re-run the LAST batch through
    # the same writer — both sinks must come out unchanged.
    # Materialize the replay rows BEFORE the retry overwrites the very
    # directory they come from (a real retry re-reads the source, not
    # its own sink — localCheckpoint stands in for that)
    replay = spark.read.parquet(os.path.join(archive, f"b{last}")).localCheckpoint(
        eager=True
    )
    fanout(replay, last)
    _clear(tmp, ("archive", f"roll_v{last}"))
    archive_df = spark.read.parquet(os.path.join(archive, "b*"))
    rollup_df = spark.read.parquet(os.path.join(tmp, f"roll_v{last}")).select(
        *key_cols, "n", F.col("_sv").cast("double").alias("sum_value")
    )
    return archive_df, rollup_df


def run_stream_cdc(
    spark: SparkSession,
    batches: list[DataFrame],
    key_cols: list[str],
    seq_col: str = "seq",
) -> DataFrame:
    """Streaming CDC replication — the delete-aware sibling of
    :func:`run_stream_upsert`: each micro-batch carries I/U/D ops
    (+ a sequence column) and ``foreachBatch`` merges them into the
    keyed table, so the sink converges to the table a transactional
    MERGE INTO would hold — 'D' removes the key, the newest op per
    key BY SEQUENCE wins, intermediate churn collapses before
    touching the table.  The table RETAINS each row's winning
    sequence (``__seq__``) AND keeps deletions as TOMBSTONES (op='D'
    rows filtered from the returned view): both are required for
    out-of-order replay — without the sequence the merge degrades to
    last-applied-wins across batches, and without the tombstone an
    older 'U' arriving after a newer 'D' would resurrect the deleted
    key (it would see no stored competitor at all).  Same versioned
    fold as the upsert sink."""
    from pyspark.sql.window import Window

    data_cols = [c for c in batches[0].columns if c not in ("op", seq_col)]
    w = Window.partitionBy(*key_cols).orderBy(F.col("__seq__").desc())

    def step(prev, batch_df: DataFrame) -> dict:
        ops = batch_df.select(*data_cols, F.col("op"), F.col(seq_col).alias("__seq__"))
        if prev is not None:
            # stored rows (incl. 'D' tombstones) compete with their
            # winning op and seq
            ops = prev["table"].unionByName(ops)
        newest = ops.withColumn("__rn__", F.row_number().over(w))
        return {"table": newest.where(F.col("__rn__") == 1).select(*data_cols, "op", "__seq__")}

    final = _fold(spark, batches, step, "table")
    return final.where(F.col("op") != "D").drop("op", "__seq__")


def run_stream_landmark_refresh(
    spark: SparkSession,
    edge_batches: list[DataFrame],
    landmarks: DataFrame,
) -> DataFrame:
    """Streaming landmark-distance maintenance: the (landmark, node,
    hops) label table of :func:`terminus_server_spark.operators.graph.
    landmark_distance_audit` kept fresh as edge INSERTIONS stream in —
    the serving-side shape of the ALT/landmark index at 100 TB (the
    label table answers distance queries as a pure join; this keeps
    it current without ever re-running |L| full BFS passes).

    Each ``foreachBatch`` merge exploits monotonicity: edge inserts
    can only create or SHORTEN distances, so the delta is a
    relaxation wave seeded from the new edges alone — label(L, u) + 1
    candidates over the batch edges, then improvements propagate
    through the accumulated edge set until no label decreases.  Every
    round strictly shortens a label, so the wave runs to that
    fixpoint with no round cap.  Per batch the work scales with the
    improvement frontier (labels the batch actually changed), not
    |L|·|V|; a batch that closes no new paths costs one
    empty-frontier probe.

    State (labels + accumulated undirected edges) is a versioned
    fold (``_fold``), like the CDC/upsert sinks.  ``landmarks``:
    (node) — fixed upfront; graphs are undirected (edges symmetrized
    internally)."""
    from terminus_server_spark.checkpoint import (
        loop_checkpoint,
        loop_checkpoint_count,
    )

    seed = landmarks.select(
        F.col("node").alias("landmark"),
        F.col("node").alias("node"),
        F.lit(0).alias("hops"),
    )

    def _merge_labels(labels: DataFrame, imp: DataFrame) -> DataFrame:
        imp2 = imp.select("landmark", "node", F.col("hops").alias("_h2"))
        return labels.join(imp2, ["landmark", "node"], "full_outer").select(
            "landmark", "node", F.least("hops", "_h2").alias("hops")
        )

    def _improvements(cand: DataFrame, labels: DataFrame) -> DataFrame:
        best = cand.groupBy("landmark", "node").agg(F.min("hops").alias("hops"))
        cur = labels.select("landmark", "node", F.col("hops").alias("_cur"))
        return (
            best.join(cur, ["landmark", "node"], "left_outer")
            .where(F.col("_cur").isNull() | (F.col("hops") < F.col("_cur")))
            .select("landmark", "node", "hops")
        )

    def step(prev, batch_df: DataFrame) -> dict:
        und = (
            batch_df.select("src", "dst")
            .union(batch_df.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
            .where(F.col("src").isNotNull() & (F.col("src") != F.col("dst")))
            .distinct()
        )
        if prev is not None:
            labels = prev["labels"]
            edges_all = prev["edges"].union(und).distinct()
        else:
            labels, edges_all = seed, und
        edges_all = loop_checkpoint(edges_all)
        # seed the wave from the NEW edges only
        cand = labels.join(und, labels["node"] == und["src"]).select(
            "landmark", F.col("dst").alias("node"), (F.col("hops") + 1).alias("hops")
        )
        frontier, n_f = loop_checkpoint_count(_improvements(cand, labels))
        while n_f > 0:
            labels = loop_checkpoint(_merge_labels(labels, frontier))
            cand = frontier.join(edges_all, frontier["node"] == edges_all["src"]).select(
                "landmark", F.col("dst").alias("node"), (F.col("hops") + 1).alias("hops")
            )
            frontier, n_f = loop_checkpoint_count(_improvements(cand, labels))
        return {"labels": labels, "edges": edges_all}

    return _fold(spark, edge_batches, step, "labels")


def run_stream_kmv_sketch(
    spark: SparkSession,
    batches: list[DataFrame],
    col: str,
    k: int = 256,
) -> DataFrame:
    """(n_kept, theta, est_distinct): streaming distinct-count via a
    foreachBatch-maintained KMV sketch — the mergeable-sketch
    property doing real work: per micro-batch the state update is
    ``top-k-smallest(state ∪ batch-hashes)``, a k-row table however
    much data has streamed, and because KMV union is associative and
    commutative the final estimate is BIT-IDENTICAL to the batch
    sketch over all data regardless of how rows were split into
    batches — which is exactly what the exact oracle checks.

    Per batch: one scan of the batch (map-side distinct hash), one
    k-row top-k against the stored sketch, one k-row parquet swap.
    State is O(k) forever — the streaming cardinality monitor shape
    (HLL would be cheaper per byte but isn't engine-portable;
    md5-KMV trades 2 KB for a testable, exactly-reproducible
    estimate)."""
    frac = (
        F.conv(F.substring(F.md5(F.col(col).cast("string")), 1, 8), 16, 10)
        .cast("double")
        / F.lit(float(16**8))
    )

    def step(prev, batch_df: DataFrame) -> dict:
        mins = batch_df.select(frac.alias("f")).distinct()
        if prev is not None:
            mins = prev["mins"].union(mins)
        return {"mins": mins.distinct().orderBy("f").limit(k)}

    mins = _fold(spark, batches, step, "mins")
    return mins.agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.max("f").alias("theta"),
        ((F.count(F.lit(1)) - 1).cast("double") / F.max("f")).alias("est_distinct"),
    )


def run_stream_hll_sketch(
    spark: SparkSession,
    batches: list[DataFrame],
    col: str,
    b: int = 6,
) -> DataFrame:
    """(n_zero_buckets, sum_inv, est_distinct): streaming cardinality
    via foreachBatch-maintained HyperLogLog registers — the
    2^b-integer state that HLL is famous for, in the engine-portable
    md5 form of operators/pipeline.hll_distinct_estimate.  Register
    merge is per-bucket MAX: associative, commutative, idempotent, so
    the final registers — and therefore the raw estimate — are
    BIT-IDENTICAL to the one-shot batch sketch over all streamed rows
    regardless of batch splits (the oracle is the same closed form as
    `sketch_hll`, which is exactly the mergeability claim under
    test).  Versus the KMV monitor: 2^b integers instead of k
    fractions, and duplicate-heavy streams cost nothing (MAX absorbs
    re-deliveries, so the sketch is also at-least-once safe).

    Per batch: one scan emitting (bucket, rank), one ≤2^b-row MAX
    merge against the stored registers, one ≤2^b-row parquet swap.
    State is O(2^b) forever."""
    from terminus_server_spark.operators.pipeline import _hll_alpha

    m = 1 << b
    h32 = F.conv(F.substring(F.md5(F.col(col).cast("string")), 1, 8), 16, 10).cast("long")
    wit = F.conv(F.substring(F.md5(F.col(col).cast("string")), 9, 8), 16, 10).cast("long")
    rank = F.when(wit == 0, F.lit(33)).otherwise(F.lit(33) - F.length(F.bin(wit)))

    def step(prev, batch_df: DataFrame) -> dict:
        regs = (
            batch_df.select((h32 % m).alias("bucket"), rank.alias("r"))
            .groupBy("bucket")
            .agg(F.max("r").alias("mr"))
        )
        if prev is not None:
            regs = (
                regs.unionByName(prev["regs"])
                .groupBy("bucket")
                .agg(F.max("mr").alias("mr"))
            )
        return {"regs": regs}

    regs = _fold(spark, batches, step, "regs")
    grid = spark.range(m).select(F.col("id").alias("bucket"))
    full = grid.join(regs, "bucket", "left_outer").select(
        "bucket", F.coalesce("mr", F.lit(0)).alias("mr")
    )
    inv = F.lit(1.0) / F.expr("shiftleft(CAST(1 AS BIGINT), mr)").cast("double")
    alpha = _hll_alpha(m)
    return full.agg(
        F.sum(F.when(F.col("mr") == 0, 1).otherwise(0)).alias("n_zero_buckets"),
        F.sum(inv).alias("sum_inv"),
        (F.lit(alpha * m * m) / F.sum(inv)).alias("est_distinct"),
    )


def run_stream_scd2(
    spark: SparkSession,
    batches: list[DataFrame],
    key_col: str = "user_id",
    attr_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """(key, attr, valid_from, valid_to): SCD type-2 dimension history
    maintained INCREMENTALLY as change events stream in — the sink
    converges to exactly what the batch gaps-and-islands build
    (operators/temporal.scd2_intervals) would produce over all events,
    which is what the oracle checks.

    Per micro-batch, only the AFFECTED KEYS rework: the stored table
    keeps one row per validity interval plus the run-opening event id
    (the total-order tie-break the batch build uses); a batch's keys
    pull their interval-start change points, merge with the batch's
    events, re-collapse consecutive same-value runs, and re-chain
    valid_to — untouched keys carry over byte-identical.  State is
    O(intervals), not O(events).

    Ordering contract: batches must deliver each key's events in
    event-time order ACROSS batches (the watermark assumption every
    streaming SCD2 needs) — a late change older than an
    already-collapsed duplicate run cannot resurrect the duplicate it
    collapsed into.  In-batch disorder is fine (the rebuild sorts)."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("key").orderBy("vf", "eid")

    def step(prev, batch_df: DataFrame) -> dict:
        changes = batch_df.select(
            F.col(key_col).alias("key"),
            F.col(attr_col).alias("attr"),
            F.col(ts_col).alias("vf"),
            F.col(id_col).alias("eid"),
        )
        untouched = None
        if prev is not None:
            cur = prev["intervals"]
            keys = changes.select("key").distinct()
            untouched = cur.join(keys, "key", "left_anti")
            touched = cur.join(keys, "key", "left_semi").select(
                "key", "attr", F.col("valid_from").alias("vf"), F.col("eid")
            )
            changes = changes.unionByName(touched)
        runs = changes.select(
            "key", "attr", "vf", "eid",
            F.when(
                F.lag("attr").over(w).isNull()
                | (F.lag("attr").over(w) != F.col("attr")),
                1,
            ).otherwise(0).alias("_chg"),
        )
        # a run's first row IS its (vf, eid)-minimal row, so the
        # _chg==1 filter alone yields one row per interval
        iv = runs.where(F.col("_chg") == 1).select("key", "attr", "vf", "eid")
        out = iv.select(
            "key",
            "attr",
            F.col("vf").alias("valid_from"),
            F.lead("vf").over(w).alias("valid_to"),
            "eid",
        )
        if untouched is not None:
            out = out.unionByName(untouched)
        return {"intervals": out}

    final = _fold(spark, batches, step, "intervals")
    return final.select("key", "attr", "valid_from", "valid_to")


def run_stream_quantile_grid(
    spark: SparkSession,
    batches: list[DataFrame],
    col: str,
    lo: float,
    hi: float,
    n_buckets: int = 128,
    qs: tuple = (0.5, 0.9, 0.99),
) -> DataFrame:
    """(q, bucket, approx_le): streaming quantile monitoring via a
    fixed-grid histogram — the grid bounds are configured A PRIORI
    (that is what "fixed grid" means operationally: a streaming
    sketch cannot re-bucket when the observed range grows), and each
    micro-batch ADDS its per-bucket counts into the stored 128-row
    register table.  Addition is associative/commutative, so the
    final histogram — and the CDF inversion read off it — is
    bit-identical to the one-shot batch sketch over all streamed rows
    (the same mergeability contract as the KMV / CMS / HLL monitors;
    quantiles complete the streaming-sketch family).

    Per batch: one scan bucketing map-side, one ≤n_buckets-row SUM
    merge, one ≤n_buckets-row parquet swap.  State is O(n_buckets)
    forever."""
    from pyspark.sql.window import Window

    width = (hi - lo) / float(n_buckets)

    def step(prev, batch_df: DataFrame) -> dict:
        # clamp BOTH grid edges (values < lo land in bucket 0, just
        # as values > hi land in the top bucket) and drop NULL
        # measures — otherwise the CDF inversion can return a
        # negative bucket id / approx_le below the grid floor.
        hist = (
            batch_df.where(F.col(col).isNotNull())
            .select(
                F.greatest(
                    F.lit(0),
                    F.least(
                        F.floor((F.col(col) - F.lit(lo)) / F.lit(width)),
                        F.lit(n_buckets - 1),
                    ),
                )
                .cast("int")
                .alias("bucket")
            )
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        if prev is not None:
            hist = (
                hist.unionByName(prev["hist"])
                .groupBy("bucket")
                .agg(F.sum("c").alias("c"))
            )
        return {"hist": hist}

    hist = _fold(spark, batches, step, "hist")
    n = hist.agg(F.sum("c").alias("n"))
    cum = hist.select(
        "bucket", F.sum("c").over(Window.orderBy("bucket")).alias("cum")
    )
    qdf = spark.range(len(qs)).select(
        F.element_at(
            F.array(*[F.lit(float(x)) for x in qs]), (F.col("id") + 1).cast("int")
        ).alias("q")
    )
    return (
        qdf.crossJoin(F.broadcast(n))
        .join(cum, F.col("cum") >= F.ceil(F.col("q") * F.col("n").cast("double")))
        .groupBy("q")
        .agg(
            F.min("bucket").cast("int").alias("bucket"),
            (
                F.lit(lo)
                + (F.min("bucket").cast("double") + F.lit(1.0)) * F.lit(width)
            ).alias("approx_le"),
        )
    )


def run_stream_countmin(
    spark: SparkSession,
    batches: list[DataFrame],
    col: str,
    depth: int = 4,
    width: int = 64,
    min_estimate: int = 1,
) -> DataFrame:
    """(key, est, exact): streaming Count-Min heavy hitters — the
    additive sibling of :func:`run_stream_kmv_sketch`: each
    foreachBatch merge ADDS the batch's (row, bucket) counter cells
    into the stored depth×width table (CMS counters are elementwise
    additive, so the merged sketch is bit-identical to the one-shot
    batch sketch however rows were split).  State is the fixed
    depth×width cell table forever — the streaming frequency monitor
    shape.  The final heavy-hitter readout joins the sketch against
    the candidate key set exactly like the batch operator, so the
    oracle is the SAME cell-replay SQL as `sketch_countmin`."""

    def buckets(key):
        return F.array(
            *[
                F.conv(
                    F.substring(F.md5(F.concat(F.lit(f"{i}:"), key)), 1, 8), 16, 10
                ).cast("long")
                % width
                for i in range(depth)
            ]
        )

    def step(prev, batch_df: DataFrame) -> dict:
        cells = (
            batch_df.select(
                F.posexplode(buckets(F.col(col).cast("string"))).alias("row", "bucket")
            )
            .groupBy("row", "bucket")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        if prev is not None:
            cells = (
                prev["cells"].unionByName(cells)
                .groupBy("row", "bucket")
                .agg(F.sum("c").alias("c"))
            )
        return {"cells": cells}

    cells = _fold(spark, batches, step, "cells")
    full = batches[0]
    for b in batches[1:]:
        full = full.unionByName(b)
    keys = full.select(F.col(col).cast("string").alias("key")).groupBy("key").agg(
        F.count(F.lit(1)).alias("exact")
    )
    kb = keys.select(
        "key", "exact", F.posexplode(buckets(F.col("key"))).alias("row", "bucket")
    )
    return (
        kb.join(F.broadcast(cells), ["row", "bucket"])
        .groupBy("key", "exact")
        .agg(F.min("c").alias("est"))
        .where(F.col("est") >= min_estimate)
        .select("key", "est", "exact")
        .orderBy(F.col("est").desc(), "key")
    )


def _cc_insert(labels: DataFrame, edges: DataFrame) -> DataFrame:
    """``connected_components_incremental`` of ``labels`` over
    ``edges``, after every endpoint the labels lack enters as a
    singleton.  The known endpoints are found on the label table
    narrowed map-side (broadcast semi join, batch-sized output): a
    plain anti join against it would shuffle the whole accumulated
    table every batch."""
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst")))
        .distinct()
    )
    known = labels.select("node").join(F.broadcast(nodes), "node", "left_semi")
    fresh = nodes.join(F.broadcast(known), "node", "left_anti")
    labels = labels.unionByName(fresh.select("node", F.col("node").alias("component")))
    return connected_components_incremental(labels, edges)


def _no_labels(adds: DataFrame) -> DataFrame:
    return adds.select(
        F.col("src").alias("node"), F.col("src").alias("component")
    ).limit(0)


def run_stream_cc(spark: SparkSession, edge_batches: list[DataFrame]) -> DataFrame:
    """(node, component): connected-component labels maintained
    incrementally as edge INSERTIONS stream in — the streaming twin
    of :func:`terminus_server_spark.operators.graph.
    connected_components_incremental`, which does the heavy lifting:
    per micro-batch, new nodes enter as singleton labels and the
    batch edges' label PAIRS contract through a ≤|batch|-edge
    meta-graph, so per-batch cost scales with the delta while the
    stored label table stays exactly what full CC on everything
    seen so far would produce.  Same versioned fold as the
    landmark/CDC sinks."""
    def step(prev, batch_df: DataFrame) -> dict:
        und = _symmetrize(batch_df)
        labels = _no_labels(und) if prev is None else prev["labels"]
        return {"labels": _cc_insert(labels, und)}

    return _fold(spark, edge_batches, step, "labels")


def run_stream_cc_cdc(spark: SparkSession, batches: list[DataFrame]) -> DataFrame:
    """(node, component): connected-component labels over a CDC edge
    stream (the CDC step: module docstring).  Deletes run through
    ``connected_components_decremental`` (splits recomputed only on
    the dirty components over the post-delete store), inserts through
    ``connected_components_incremental`` (label pairs contract via a
    ≤|batch|-edge meta-graph, fresh nodes entering as singletons).
    The final labels equal batch CC of the NET edge set; per-batch
    cost rides the delta and the dirty components, never the
    corpus."""
    def on_delete(state, store, dels):
        return {"labels": connected_components_decremental(state["labels"], store, dels)}

    def on_insert(state, store, adds):
        return {"labels": _cc_insert(state["labels"], adds)}

    empty = lambda adds: {"labels": _no_labels(adds)}
    return _fold(spark, batches, _cdc_step(empty, on_delete, on_insert), "labels")


def run_stream_gql_subscription(
    spark: SparkSession,
    doc_batches: list[DataFrame],
    gql_src: str,
    root: str,
    class_name: str = "Doc",
    variables: dict | None = None,
) -> DataFrame:
    """Subscription-style standing GraphQL query: document batches
    stream in, and ONE registered query (wire format, variables and
    all) re-evaluates per micro-batch over the accumulated document
    state — the live-view semantics a GraphQL subscription exposes,
    built from the same read algebra as the request path (the
    standing query is COMPILED once per batch against the current
    snapshot; filters still push to the scan, orderBy+limit still
    plan as TakeOrderedAndProject).

    State: the accumulated docs + the latest result, a versioned
    fold like the other sinks.  Returns the final result table —
    which must equal the same query over ALL documents (the oracle's
    check), proving the per-batch re-evaluation converges to the
    batch answer."""
    from terminus_server_spark.docs.graphql import execute_graphql

    def step(prev, batch_df: DataFrame) -> dict:
        docs = batch_df if prev is None else prev["docs"].unionByName(batch_df)
        result = execute_graphql({class_name: docs}, gql_src, variables=variables)[root]
        return {"docs": docs, "result": result}

    return _fold(spark, doc_batches, step, "result")


def run_stream_bisect(
    spark: SparkSession,
    batches: list[DataFrame],
    seq_col: str,
    op_col: str | None = None,
    num: int = 6,
    den: int = 10,
) -> DataFrame:
    """(first_bad_seq, n_at_first): streaming maintenance of the
    ``vc_bisect`` monotone predicate over a commit stream — the
    streaming-versioning matrix completion (r8 verdict task 9;
    batch analogue: versioning/layers.py:bisect_first_bad).

    State is the per-commit NET ROW COUNT table — one row per commit
    seq, O(#commits) forever, never the materialized states
    themselves.  Per micro-batch: one map-side count per seq in the
    batch, one seq-grain merge into the stored table (sum —
    associative and commutative, so the final state is BIT-IDENTICAL
    however the commit rows were split into batches: the same
    mergeability claim the sketch monitors prove, and what the exact
    oracle checks).  The bisection answer — the first seq whose
    cumulative count crosses ``num/den`` of the final total — then
    reads off the tiny state table with one window pass; no binary
    search and no per-commit materialization is ever needed because
    the state IS the cumulative curve.

    ``op_col``: optional add/del tag; ``del`` rows weigh -1 so delta
    layers with retractions monitor the same way (net counts stay
    monotone iff the predicate's subject does — the monotonicity
    requirement is the caller's, exactly as in the batch bisect)."""
    from pyspark.sql.window import Window

    w = (
        F.when(F.col(op_col) == "del", F.lit(-1)).otherwise(F.lit(1))
        if op_col is not None
        else F.lit(1)
    )

    def step(prev, batch_df: DataFrame) -> dict:
        part = batch_df.groupBy(F.col(seq_col).alias("commit_seq")).agg(
            F.sum(w).cast("bigint").alias("n")
        )
        if prev is not None:
            part = prev["counts"].unionByName(part)
        out = part.groupBy("commit_seq").agg(F.sum("n").cast("bigint").alias("n"))
        return {"counts": out}

    counts = _fold(spark, batches, step, "counts")
    total = counts.agg(F.sum("n").alias("t"))
    # the running sum's window is ordered WITHOUT a partition — safe
    # here by construction: it runs over the O(#commits) state table
    # (commit-grain, metadata-scale), never over row-grain data
    cum = counts.crossJoin(F.broadcast(total)).select(
        "commit_seq",
        F.sum("n").over(Window.orderBy("commit_seq")).alias("c"),
        "t",
    )
    return (
        cum.where(F.col("c") * den > F.col("t") * num)
        .orderBy("commit_seq")
        .limit(1)
        .select(
            F.col("commit_seq").cast("int").alias("first_bad_seq"),
            F.col("c").cast("bigint").alias("n_at_first"),
        )
    )


def run_stream_inverted_index(
    spark: SparkSession,
    batches: list[DataFrame],
    text_col: str = "text",
) -> DataFrame:
    """(tok, doc_id, tf, df, cf): CONTINUOUS inverted-index
    maintenance — documents stream in micro-batches and every batch
    folds its postings into the stored table with one additive merge
    (tf sums per (tok, doc_id) are associative and commutative, so
    the final index is BIT-IDENTICAL to the batch
    ``retrieval.inverted_index`` over all documents regardless of
    how the corpus was split into batches — the mergeability claim
    the oracle checks, same family as the sketch monitors).  The
    corpus stats (df, cf) derive from the merged postings at read
    time: they are NOT incrementally-maintained duplicates that
    could drift from the postings.

    Per batch: one explode + (tok, doc_id) combine over the BATCH,
    one merge groupBy against the stored table, one swap write —
    state is the posting table itself (the index IS the state), and
    a re-delivered batch is absorbed exactly-once by the streaming
    checkpoint, not by the merge (sums are not idempotent —
    documented difference from the MAX-merged HLL monitor)."""
    from pyspark.sql.window import Window

    from terminus_server_spark.checkpoint import plan_checkpoint
    from terminus_server_spark.operators.retrieval import _ltoks

    def step(prev, batch_df: DataFrame) -> dict:
        part = plan_checkpoint(
            batch_df.select("doc_id", F.explode(_ltoks(text_col)).alias("tok"))
            .groupBy("tok", "doc_id")
            .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
        )
        if prev is not None:
            # Delta-sized merge: the stored table never re-shuffles.
            # Colliding keys get their tf bumped via a broadcast LEFT
            # join (map-side over the store), and the batch rows whose
            # key is NOT yet stored are appended via an anti-join
            # against the (tiny) set of keys that DID collide — found
            # with a broadcast semi-join, again map-side over the
            # store.  Two local scans of the store replace the full
            # exchange + hash re-aggregate of the accumulated index
            # per delivery; only the delta is ever shuffled.  Sums
            # stay associative+commutative, so the merged table is
            # bit-identical to the union+groupBy it replaces.
            stored = prev["postings"]
            bumped = (
                stored.join(
                    F.broadcast(part.withColumnRenamed("tf", "_tf_new")),
                    ["tok", "doc_id"],
                    "left",
                )
                .select(
                    "tok",
                    "doc_id",
                    (F.col("tf") + F.coalesce(F.col("_tf_new"), F.lit(0)))
                    .cast("bigint")
                    .alias("tf"),
                )
            )
            hit_keys = stored.join(
                F.broadcast(part), ["tok", "doc_id"], "left_semi"
            ).select("tok", "doc_id")
            appended = part.join(
                F.broadcast(hit_keys), ["tok", "doc_id"], "left_anti"
            )
            out = bumped.unionByName(appended)
        else:
            out = part
        return {"postings": out}

    post = _fold(spark, batches, step, "postings", heavy_batches=True)
    # df/cf via a window over the same tok partitioning: one exchange
    # instead of the groupBy+join-back pair (identical values — both
    # are exact per-tok count/sum over the merged postings)
    w = Window.partitionBy("tok")
    return post.select(
        "tok",
        "doc_id",
        "tf",
        F.count(F.lit(1)).over(w).cast("bigint").alias("df"),
        F.sum("tf").over(w).cast("bigint").alias("cf"),
    )


def run_stream_json_docs(
    spark: SparkSession,
    batches: list[DataFrame],
    json_col: str = "json",
    prefix: str = "JSONDocument",
) -> DataFrame:
    """(graph, subject, predicate, obj, obj_type, obj_num): streaming
    ``sys:JSON`` ingestion — arbitrary JSON documents stream in
    micro-batches and each batch's triples (body + leaf index, see
    docs/json_docs.py) MERGE into the content-addressed store by
    distinct-union.  Content addressing makes the merge IDEMPOTENT
    (a re-delivered or duplicated document is the same subject and
    the same triple rows), so the monitor is at-least-once safe by
    construction — the stronger delivery guarantee the additive
    posting merge cannot offer — and the final store is
    bit-identical to the batch ``schemaless_to_triples`` over all
    documents under any batch split OR redelivery, which is what the
    shared oracle checks."""
    from terminus_server_spark.docs.json_docs import schemaless_to_triples

    def step(prev, batch_df: DataFrame) -> dict:
        part = schemaless_to_triples(batch_df, json_col, prefix=prefix).distinct()
        if prev is not None:
            # The stored side is already distinct (invariant of this
            # merge), so distinct-union reduces to "store rows not
            # re-delivered in this batch, plus the batch" — a
            # broadcast anti-join that keeps the store map-side
            # instead of re-shuffling the whole accumulated store
            # per delivery (the batch is the delta; only it shuffles).
            # eqNullSafe, not `=`: obj_num/obj_type carry NULLs and a
            # NULL-blind anti-join would keep (duplicate) redelivered
            # rows whose only difference is NULL = NULL.
            pv, pa = prev["triples"].alias("_old"), part.alias("_new")
            cond = None
            for c in part.columns:
                e = F.col(f"_old.{c}").eqNullSafe(F.col(f"_new.{c}"))
                cond = e if cond is None else cond & e
            out = pv.join(F.broadcast(pa), cond, "left_anti").unionByName(part)
        else:
            out = part
        return {"triples": out}

    return _fold(spark, batches, step, "triples", heavy_batches=True)


def _no_triangles(edges: DataFrame) -> DataFrame:
    return edges.sparkSession.range(1).select(F.lit(0).cast("bigint").alias("n_triangles"))


def run_stream_triangle_count(
    spark: SparkSession,
    batches: list[DataFrame],
) -> DataFrame:
    """(n_triangles): streaming triangle-count maintenance — edges
    arrive in micro-batches and each foreachBatch update applies the
    exact inclusion-exclusion identity
    (operators/graph.py:triangle_count_incremental) against the
    accumulated edge set: cost per batch ∝ the BATCH's wedges, never
    a recount of the whole graph.  State = the canonical edge store
    (the graph itself — already owned by any edge store) plus one
    number; the final count is exactly the batch `triangle_count`
    over all edges under any batch split, which is what the
    shared-closed-form oracle checks.  Duplicate edges across batches
    are absorbed by the insert's anti join against the store
    (``graph._fresh``), so redelivered EDGES are safe; redelivered
    batches are handled by the streaming checkpoint.  The store is
    INSERT-ONLY: only the edges it lacks are appended, after the
    count snapshot is written, so the snapshot's lazy plan reads the
    pre-batch store."""
    def step(prev, batch_df: DataFrame) -> dict:
        delta = _und(batch_df)
        if prev is None:
            stored, count = delta.limit(0), _no_triangles(delta)
        else:
            stored, count = prev["edges"], prev["count"]
        return {
            "count": triangle_count_incremental(count, stored, delta),
            "edges": _fresh(stored, delta),
        }

    return _fold(spark, batches, step, "count", append=("edges",))


def _no_core(adds: DataFrame) -> DataFrame:
    return adds.select(
        F.col("src").alias("node"), F.lit(0).cast("long").alias("degree")
    ).limit(0)


def run_stream_kcore(
    spark: SparkSession,
    batches: list[DataFrame],
    k: int = 3,
) -> DataFrame:
    """(node, degree): streaming k-core maintenance over an
    insert-only edge stream — each foreachBatch update applies
    ``kcore_incremental`` (operators/graph.py) against the stored
    edge set and core: per batch the candidate set is the batch's
    non-core adjacency closure, never a re-peel of the graph.  State
    = the canonical edge store + the core WITH stored per-node
    degrees, so the steady-state update is fully delta-sized
    (candidate-incident aggregates + delta-sized degree increments —
    the stored core's internal edges are never re-aggregated, per
    batch or at read); the final core is exactly the batch k-core of
    all edges under any batch split (the shared oracle's claim).
    Duplicate or redelivered edges (either orientation) are absorbed
    by the insert's anti join against the store.  The store is
    INSERT-ONLY and appended after the core snapshot is written, as
    in ``run_stream_triangle_count``."""
    def step(prev, batch_df: DataFrame) -> dict:
        delta = _und(batch_df)
        if prev is None:
            stored, core = delta.limit(0), _no_core(delta)
        else:
            stored, core = prev["edges"], prev["core"]
        return {
            "core": kcore_incremental(core, stored, delta, k=k),
            "edges": _fresh(stored, delta),
        }

    # the state already carries the maintained per-node degrees —
    # read it back verbatim, no edge re-aggregation at the sink
    return _fold(spark, batches, step, "core", append=("edges",))


def run_stream_kcore_cdc(
    spark: SparkSession,
    batches: list[DataFrame],
    k: int = 3,
) -> DataFrame:
    """(node, degree): streaming k-core maintenance over a CDC edge
    stream (the CDC step: module docstring), the k-core analogue of
    ``run_stream_cc_cdc``.  Deletes run through ``kcore_decremental``
    (a peel of the old core seeded at the dirty frontier over the
    post-delete store — core_new ⊆ core_old by maximality), inserts
    through ``kcore_incremental`` (candidate closure over non-core
    delta endpoints; the stored core's internal edges are never
    re-aggregated).  State = the edge store + the core WITH stored
    per-node degrees.  The final core equals the batch k-core of the
    NET edge set."""
    def on_delete(state, store, dels):
        return {"core": kcore_decremental(state["core"], store, dels, k=k)}

    def on_insert(state, store, adds):
        return {"core": kcore_incremental(state["core"], store, adds, k=k)}

    empty = lambda adds: {"core": _no_core(adds)}
    return _fold(spark, batches, _cdc_step(empty, on_delete, on_insert), "core")


def run_stream_ktruss_cdc(
    spark: SparkSession,
    batches: list[DataFrame],
    k: int = 4,
) -> DataFrame:
    """(a, b): streaming k-truss maintenance over a CDC edge stream
    (the CDC step: module docstring).  Deletes run through
    ``ktruss_decremental`` (a peel of the old truss minus the deleted
    edges — truss_new ⊆ truss_old by maximality, support recomputed
    only along the deletion cascade), inserts through
    ``ktruss_incremental`` (candidate set = the delta's
    shares-a-triangle closure intersected with non-truss edges;
    frozen old truss).  The decremental step needs no edge store at
    all (the truss IS its own support subgraph); the store feeds the
    incremental step's triangle closure.  The final truss equals the
    batch k-truss of the NET edge set."""
    def on_delete(state, store, dels):
        return {"truss": ktruss_decremental(state["truss"], dels, k=k)}

    def on_insert(state, store, adds):
        return {"truss": ktruss_incremental(state["truss"], store, adds, k=k)}

    empty = lambda adds: {"truss": adds.toDF("a", "b").limit(0)}
    return _fold(spark, batches, _cdc_step(empty, on_delete, on_insert), "truss")


def _pagerank_step(edges, ranks, cold_iters, warm_iters, damping) -> DataFrame:
    """The ranks of ``edges`` after one batch: ``cold_iters`` cold
    rounds on the first batch (``ranks`` is None), else ``warm_iters``
    rounds from the carried ranks, fresh nodes seeded at the uniform
    share 1/|V|.  ``pagerank_warm`` starts from the carried ranks of
    the current node set only, so a node that lost its last edge
    stops receiving teleport mass and stops contributing."""
    if ranks is None:
        return pagerank(edges, damping=damping, iters=cold_iters)
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_new = nodes.count()
    fresh = nodes.join(ranks.select("node"), "node", "left_anti")
    seeded = ranks.unionByName(fresh.select("node", F.lit(1.0 / n_new).alias("rank")))
    return pagerank_warm(edges, seeded, damping=damping, iters=warm_iters)


def run_stream_pagerank(
    spark: SparkSession,
    batches: list[DataFrame],
    cold_iters: int = 3,
    warm_iters: int = 2,
    damping: float = 0.85,
) -> DataFrame:
    """(node, rank): streaming PageRank maintenance — the power
    method's warm-restart pattern (operators/graph.py:pagerank_warm;
    Langville & Meyer) run per micro-batch over the accumulated
    DIRECTED edge store (``graph._directed``: self-loops count, as in
    batch ``pagerank``): batch 1 pays ``cold_iters`` cold iterations,
    every later batch restarts from the carried ranks and runs only
    ``warm_iters`` — the versioned-store "recompute only what moved"
    schedule, streaming.  Fresh nodes entering with a batch seed at
    the uniform share 1/|V_new| before the warm rounds (the carried
    table must cover every node of the updated graph).  The edge
    store update is delta-sized (``graph._fresh``).  Arithmetic is
    the shared floor-scaled fixed-point loop, so the final ranks
    replay bit-exactly from the unrolled cold+warm schedule — that
    replay IS the oracle."""

    def step(prev, batch_df: DataFrame) -> dict:
        adds = _directed(batch_df).localCheckpoint(eager=True)
        stored = adds.limit(0) if prev is None else prev["edges"]
        edges = stored.unionByName(_fresh(stored, adds))
        ranks = None if prev is None else prev["ranks"]
        return {
            "edges": edges,
            "ranks": _pagerank_step(edges, ranks, cold_iters, warm_iters, damping),
        }

    return _fold(spark, batches, step, "ranks")


def run_stream_msf_cdc(spark: SparkSession, batches: list[DataFrame]) -> DataFrame:
    """(a, b, w): streaming minimum-spanning-forest maintenance over
    a CDC edge stream of ``(op, src, dst, w)`` rows (the CDC step:
    module docstring; the store is ``graph._und_w``'s, so a pair
    restated in one batch keeps its minimum weight).  Deletes run
    through ``msf_decremental`` (per-component locality — only the
    DIRTY components re-run Borůvka over their post-delete edges, so
    replacement edges rejoin exactly; the base store is scanned
    map-side, never shuffled), inserts through ``msf_incremental``
    (the Eppstein sparsification identity MSF(E ∪ Δ) = MSF(MSF(E) ∪
    Δ) — Borůvka re-runs over only the carried forest + the batch,
    never the accumulated store).  The decremental step needs
    base-component labels; they are CARRIED STATE maintained by the
    same delta-sized CC pair (``connected_components_decremental`` /
    ``_incremental``, both riding the dirty components / the batch
    meta-graph) rather than recomputed — no per-batch pass over the
    store or the forest.  State = the weighted edge store + the
    forest + the labels.  With globally distinct weights the final
    forest equals the batch ``msf_boruvka`` of the NET edge set."""
    def empty(adds):
        return {"forest": adds.toDF("a", "b", "w").limit(0), "labels": _no_labels(adds)}

    def on_delete(state, store, dels):
        # both maintainers read the SAME pre-delete labels
        labels = state["labels"]
        return {
            "forest": msf_decremental(state["forest"], labels, store, dels),
            "labels": connected_components_decremental(
                labels, store.select("src", "dst"), dels
            ),
        }

    def on_insert(state, store, adds):
        return {
            "forest": msf_incremental(state["forest"], adds),
            "labels": _cc_insert(state["labels"], adds),
        }

    step = _cdc_step(empty, on_delete, on_insert, _und_w)
    return _fold(spark, batches, step, "forest")


def run_stream_triangles_cdc(
    spark: SparkSession,
    batches: list[DataFrame],
) -> DataFrame:
    """(n_triangles): streaming triangle-count maintenance over a CDC
    edge stream (the CDC step: module docstring).  Deletes run
    through ``triangle_count_decremental`` (the triangles of the
    pre-batch store through a deleted edge subtract), inserts through
    ``triangle_count_incremental`` against the post-delete store, so
    an edge deleted and re-added in one batch cancels exactly.
    Per-batch cost rides the DELTA's wedge neighborhood, never a
    recount.  The final count equals the batch ``triangle_count`` of
    the NET edge set."""
    def on_delete(state, store, dels):
        return {"count": triangle_count_decremental(state["count"], store, dels)}

    def on_insert(state, store, adds):
        return {"count": triangle_count_incremental(state["count"], store, adds)}

    empty = lambda adds: {"count": _no_triangles(adds)}
    return _fold(spark, batches, _cdc_step(empty, on_delete, on_insert), "count")


def run_stream_pagerank_cdc(
    spark: SparkSession,
    batches: list[DataFrame],
    cold_iters: int = 3,
    warm_iters: int = 2,
    damping: float = 0.85,
) -> DataFrame:
    """(node, rank): streaming PageRank maintenance over a CDC edge
    stream — the delete-capable sibling of ``run_stream_pagerank``
    (same DIRECTED store, self-loops kept, and the same warm-restart
    schedule).  The CDC step (module docstring) updates the store;
    the ranks follow from the updated store, cold on batch 1 and warm
    from the carried ranks afterwards (``_pagerank_step``: vanished
    nodes drop out, fresh nodes seed at 1/|V_new|).  Arithmetic is
    the shared floor-scaled fixed-point loop, so the final ranks
    replay bit-exactly from the unrolled cold+warm schedule over the
    evolving net edge sets — that replay IS the oracle."""
    keep = lambda state, store, delta: state
    cdc = _cdc_step(lambda adds: {}, keep, keep, _directed)

    def step(prev, batch_df: DataFrame) -> dict:
        edges = cdc(prev, batch_df)["edges"]
        ranks = None if prev is None else prev["ranks"]
        return {
            "edges": edges,
            "ranks": _pagerank_step(edges, ranks, cold_iters, warm_iters, damping),
        }

    return _fold(spark, batches, step, "ranks")


def _ends(labels: DataFrame) -> tuple[DataFrame, DataFrame]:
    """A label table as (src, _ls) and (dst, _ld) lookups."""
    return (
        labels.select(F.col("node").alias("src"), F.col("component").alias("_ls")),
        labels.select(F.col("node").alias("dst"), F.col("component").alias("_ld")),
    )


def run_stream_scc_cdc(spark: SparkSession, batches: list[DataFrame]) -> DataFrame:
    """(node, component): streaming STRONGLY CONNECTED component
    maintenance over a CDC edge stream of DIRECTED rows (the CDC
    step: module docstring, over the ``_directed`` store, so a node
    whose only edge is a self-loop keeps its label), composing
    ``scc_decremental`` THEN ``scc_incremental`` per micro-batch.
    State = the edge store + the labels + the CONDENSATION, and the
    condensation is maintained INCREMENTALLY alongside the labels —
    never recomputed from the store:

    - after deletes, only rows touching a TOUCHED class (a class
      owning a really-deleted edge endpoint) are recomputed, from
      the store slice incident to those classes' nodes (dirty-sized;
      untouched condensation rows pass through verbatim);
    - after inserts, old condensation endpoints map through the
      merge relabel (a state-sized map join, same order as the
      label relabel itself) and the delta's inter-class pairs union
      in; self-loops (merged-away pairs) drop.

    The final labels equal batch SCC of the NET directed edge set."""
    def empty(adds):
        return {
            "labels": _no_labels(adds),
            "cond": adds.toDF("src_comp", "dst_comp").limit(0),
        }

    def on_delete(state, store, dels):
        labels, cond = state["labels"], state["cond"]
        lab_s, lab_d = _ends(labels)
        real = store.join(F.broadcast(dels), ["src", "dst"], "left_semi")
        hit = real.join(lab_s, "src").join(lab_d, "dst")
        touched = (
            hit.select(F.col("_ls").alias("component"))
            .union(hit.select(F.col("_ld")))
            .distinct()
            .localCheckpoint(eager=True)
        )
        new_labels = scc_decremental(labels, store, dels).localCheckpoint(eager=True)
        # condensation maintenance: recompute only rows touching a
        # touched class, from the post-delete touched-node-incident
        # slice of the store
        post = _delete(store, dels)
        touched_nodes = labels.join(
            F.broadcast(touched), "component", "left_semi"
        ).select("node")
        slice_ = post.join(
            F.broadcast(touched_nodes.select(F.col("node").alias("src"))),
            "src",
            "left_semi",
        ).unionByName(
            post.join(
                F.broadcast(touched_nodes.select(F.col("node").alias("dst"))),
                "dst",
                "left_semi",
            )
        )
        nl_s, nl_d = _ends(new_labels)
        recomputed = (
            slice_.join(nl_s, "src")
            .join(nl_d, "dst")
            .where(F.col("_ls") != F.col("_ld"))
            .select(F.col("_ls").alias("src_comp"), F.col("_ld").alias("dst_comp"))
            .distinct()
        )
        untouched_cond = cond.join(
            F.broadcast(touched.select(F.col("component").alias("src_comp"))),
            "src_comp",
            "left_anti",
        ).join(
            F.broadcast(touched.select(F.col("component").alias("dst_comp"))),
            "dst_comp",
            "left_anti",
        )
        cond = (
            untouched_cond.select("src_comp", "dst_comp")
            .unionByName(recomputed)
            .distinct()
        )
        return {"labels": new_labels, "cond": cond}

    def on_insert(state, store, adds):
        labels, cond = state["labels"], state["cond"]
        new_labels = scc_incremental(labels, cond, adds).localCheckpoint(eager=True)
        # merge relabel map: classes whose label changed
        relab = (
            labels.select(F.col("component").alias("old"))
            .distinct()
            .join(
                new_labels.select(
                    F.col("node").alias("old"), F.col("component").alias("new")
                ),
                "old",
                "left_outer",
            )
            .select("old", F.coalesce("new", F.col("old")).alias("new"))
        )
        cond_m = (
            cond.join(
                relab.select(F.col("old").alias("src_comp"), F.col("new").alias("_ns")),
                "src_comp",
                "left_outer",
            )
            .join(
                relab.select(F.col("old").alias("dst_comp"), F.col("new").alias("_nd")),
                "dst_comp",
                "left_outer",
            )
            .select(
                F.coalesce(F.col("_ns"), F.col("src_comp")).alias("src_comp"),
                F.coalesce(F.col("_nd"), F.col("dst_comp")).alias("dst_comp"),
            )
        )
        nl_s, nl_d = _ends(new_labels)
        delta_cond = (
            adds.join(nl_s, "src")
            .join(nl_d, "dst")
            .select(F.col("_ls").alias("src_comp"), F.col("_ld").alias("dst_comp"))
        )
        cond = (
            cond_m.unionByName(delta_cond)
            .where(F.col("src_comp") != F.col("dst_comp"))
            .distinct()
        )
        return {"labels": new_labels, "cond": cond}

    step = _cdc_step(empty, on_delete, on_insert, _directed)
    return _fold(spark, batches, step, "labels")
