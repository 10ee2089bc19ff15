"""Streaming layer: the reference's batch/stream duality, Spark-first.

The reference runs the *same DataFrame chain* on a static read and on a
file-source stream, sinking complete-mode sorted aggregates to the
console forever (q2:96-120 and clones; SURVEY §2.8). The engine keeps
that duality as a first-class contract: every plan builder in
``plans.queries`` takes a DataFrame — batch or streaming — unchanged.

This module adds what the reference lacked for production streams:
bounded-run triggers (``availableNow``) so a stream can be driven to a
checkable final state, a memory sink for tests/oracles, and watermarked
event-time windows (the reference's "per-day" slicing was done by
pointing the batch reader at a directory; README.md:30).
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def stream_query(
    df: DataFrame,
    output_mode: str = "complete",
    fmt: str = "console",
    query_name: str | None = None,
    available_now: bool = False,
    checkpoint: str | None = None,
):
    """Start a streaming query with the reference's sink shape
    (complete-mode, untruncated console — q2:115-120) or any variant."""
    writer = (
        df.writeStream.outputMode(output_mode)
        .format(fmt)
        .option("truncate", "false")
    )
    if query_name:
        writer = writer.queryName(query_name)
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def run_stream_to_memory(
    spark: SparkSession,
    stream_df: DataFrame,
    query_name: str,
    output_mode: str = "complete",
    state_partitions: int | None = 8,
) -> DataFrame:
    """Drive a streaming plan over everything currently in its source and
    return the final result as a batch DataFrame (memory sink).

    This is the engine's batch/stream equivalence harness: for any
    builder B, ``run_stream_to_memory(spark, B(stream_src), n)`` must
    equal ``B(batch_src)`` — the reference's central design property.

    ``state_partitions`` pins ``spark.sql.shuffle.partitions`` for the
    plan compiled at ``start()`` (a streaming aggregation's state
    partitioning is fixed at first run and checkpointed). Stateful
    micro-batches pay a per-partition state-store commit every trigger,
    so oversized state partitioning costs fixed latency per batch; size
    it to state volume, not to CPU count. The batch conf is restored
    after start.

    TEST/ORACLE HARNESS ONLY: the memory sink accumulates every emitted
    row in the DRIVER heap for the life of the query. The r9 third
    streaming decade measured the boundary — sessionizing 100M events
    emits tens of millions of session rows and OOMs a 16 g driver even
    with bounded triggers (the state store was fine; the sink wasn't).
    Large drives belong on ``run_stream_to_parquet`` (executor-side
    landing, flat driver).
    """
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    if state_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    try:
        q = (
            stream_df.writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(query_name)
            .trigger(availableNow=True)
            .start()
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    q.awaitTermination()
    return spark.table(query_name)


SESSION_OUT_SCHEMA = (
    "user_id long, session_start timestamp, session_end timestamp, "
    "n_events long"
)
_SESSION_STATE_SCHEMA = "start long, end long, n long"

# ONE definition of the engine's sessionization parameters, consumed by
# both streaming variants, the batch catalog queries, their post-filter
# predicates, AND the generated DuckDB oracles (f-string interpolation
# in plans.catalog) — the three hard-coded copies the r7 advice flagged
# would silently break strictly-closed-session parity if edited
# independently.
SESSION_GAP_MINUTES = 30
SESSION_GAP = f"{SESSION_GAP_MINUTES} minutes"
SESSION_GAP_SECONDS = SESSION_GAP_MINUTES * 60
SESSION_DELAY_MINUTES = 10
SESSION_DELAY = f"{SESSION_DELAY_MINUTES} minutes"


def stateful_sessionize(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_seconds: int = SESSION_GAP_SECONDS,
) -> DataFrame:
    """Custom stateful streaming sessionization via
    ``applyInPandasWithState`` — the engine's DEMONSTRATOR of an
    operator class the built-in surface can't express (per-key mutable
    state with custom close/emit logic; SURVEY §2.8 lists the
    reference as having none). NOT the default sessionization: for
    plain gap sessions use ``sessionize_stream`` (the JVM-native
    ``session_window`` plan below) — the decade A/B measured this
    Arrow-per-key-group path at 342 s vs 118 s native at 10M events,
    ~8× wall-clock growth per 10× events (SCALE.md "Streaming").
    Reach for this shape only when the semantics genuinely need custom
    state (per-key timeouts, non-gap close rules, emit-on-update).

    State per user = the open session (start, end, count) as epoch
    micros. Each micro-batch folds its events in timestamp order into
    the open session; sessions whose gap closes *within the observed
    data* are emitted as final rows, the trailing open session stays in
    state (and is emitted only when a later batch closes it — standard
    conservative semantics: nothing is emitted that could still change).

    Scale: state is O(users) fixed-size tuples in the state store, one
    shuffle on the user key per batch; the pandas hook processes one
    key-group at a time so driver memory is never involved.
    """
    import pandas as pd

    gap_us = gap_seconds * 1_000_000

    def fold(key, pdfs, state):
        (user,) = key
        if state.exists:
            start, end, n = state.get
        else:
            start, end, n = None, None, 0
        closed: list[tuple[int, int, int]] = []
        # Drain ALL Arrow chunks before sorting: a key group larger
        # than arrow.maxRecordsPerBatch arrives as several pdfs in
        # shuffle order, and sorting each chunk independently can
        # close a session mid-group before an earlier-timestamped
        # event in a later chunk arrives (wrongly-split sessions).
        # Memory is bounded by the group's events in THIS micro-batch
        # — and the JVM-native session_window path is the scale
        # default anyway (this operator is the custom-state demo).
        chunks = [pdf[ts_col] for pdf in pdfs]
        if chunks:
            for ts in pd.concat(chunks).sort_values():
                t = int(ts.value) // 1000  # pandas ns -> us
                if start is None:
                    start, end, n = t, t, 1
                elif t - end > gap_us:  # strict: session_window merges
                    # events exactly `gap` apart (window end inclusive)
                    closed.append((start, end, n))
                    start, end, n = t, t, 1
                else:
                    # min/max merge: an out-of-order event arriving in a
                    # later micro-batch (sorted only within its batch)
                    # must widen the open session, never shrink it.
                    start, end, n = min(start, t), max(end, t), n + 1
        state.update((start, end, n))
        if closed:
            yield pd.DataFrame(
                {
                    "user_id": [user] * len(closed),
                    "session_start": [pd.Timestamp(s, unit="us") for s, _, _ in closed],
                    "session_end": [pd.Timestamp(e, unit="us") for _, e, _ in closed],
                    "n_events": [c for _, _, c in closed],
                }
            )

    from pyspark.sql.streaming.state import GroupStateTimeout

    return (
        events.select(F.col(user_col), F.col(ts_col))
        .groupBy(user_col)
        .applyInPandasWithState(
            fold,
            outputStructType=SESSION_OUT_SCHEMA,
            stateStructType=_SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def native_sessionize_stream(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap: str = SESSION_GAP,
    delay: str = SESSION_DELAY,
) -> DataFrame:
    """JVM-native streaming sessionization: watermark + ``session_window``
    aggregation in append mode — the engine's DEFAULT streaming
    sessionization (aliased as ``sessionize_stream``; r8).

    Both compute identical gap sessions (``session_window`` merges events
    exactly ``gap`` apart, and so does the stateful fold). The difference
    is where the work happens: this plan keeps the per-session state rows
    in the JVM state store with watermark-driven eviction and never
    crosses into Python, while ``stateful_sessionize`` pays an Arrow
    round-trip per key-group per micro-batch. Measured same-session at
    10M events / 150k users (one availableNow batch, local[32], SCALE.md
    "Streaming"): native 118 s vs applyInPandasWithState 342 s. Keep the
    stateful variant for logic ``session_window`` can't express (custom
    close/emit rules, per-key timeouts); use this one when gap
    sessionization is the actual semantics.

    Append-mode emission: a session row is emitted once the watermark
    (max event time − ``delay``) passes the session's window end
    (last event + ``gap``). Callers that need a run-deterministic result
    from a finite source must post-filter to strictly-closed sessions —
    see ``plans.catalog.stream_sessionize_native`` — because boundary-
    equality emission is an engine implementation detail.

    ``session_end`` is reported as the LAST EVENT's timestamp
    (``window.end - gap``) to match batch ``operators.relational
    .sessionize`` and the reference-style oracle exactly.

    Replay/backfill caveat (measured, SCALE.md "Streaming"): the file
    stream source orders arrival by file MODIFICATION TIME, not name. A
    time-partitioned backfill written in parallel arrives time-shuffled
    and everything behind the advancing watermark is silently dropped
    as late (70% of sessions lost in the 10M-event A/B). Replays must
    arrive in event-time order — sequenced mtimes, or the ingest
    protocol's monotonic file numbering (``sources/ingest.py``) — or
    carry ``delay`` ≥ the disorder span. Incremental arrival is also
    the memory-correct shape: the advancing watermark evicts closed
    sessions per batch, bounding state by OPEN sessions (O(users)),
    where a single availableNow batch holds every session until the
    terminal flush.
    """
    return (
        events.withWatermark(ts_col, delay)
        .groupBy(
            F.col(user_col),
            F.session_window(F.col(ts_col), gap).alias("_w"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            user_col,
            F.col("_w.start").alias("session_start"),
            (F.col("_w.end") - F.expr(f"INTERVAL {gap}")).alias("session_end"),
            "n_events",
        )
    )


# The default streaming sessionization. Gap sessions are what
# session_window computes natively, in the JVM state store, with
# watermark-driven eviction — measured 2.9× the applyInPandasWithState
# demonstrator at 10M events and scaling ~linearly where the stateful
# path grew ~8× per decade (SCALE.md "Streaming").
sessionize_stream = native_sessionize_stream


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str = "ts",
    right_ts: str = "r_ts",
    within: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked stream-stream inner join: left rows pair with right
    rows of the same key whose timestamp lies in (left_ts - within,
    left_ts]. The event-time bound + watermarks let Spark drop buffered
    state once no future match is possible — without them a
    stream-stream join buffers both streams forever.

    Run to completion (availableNow) the inner join equals the
    equivalent batch range join, which is how the oracle checks it.
    """
    l = left.withWatermark(left_ts, watermark)
    r = right.withWatermark(right_ts, watermark)
    cond = (
        (F.col(key) == F.col(f"_r_{key}"))
        & (F.col(right_ts) <= F.col(left_ts))
        & (F.col(right_ts) > F.col(left_ts) - F.expr(f"INTERVAL {within}"))
    )
    return l.join(
        r.withColumnRenamed(key, f"_r_{key}"), cond, "inner"
    ).drop(f"_r_{key}")


def stream_dedup(
    stream: DataFrame,
    subset: list[str],
    watermark_col: str | None = None,
    watermark: str = "1 day",
) -> DataFrame:
    """Streaming exact dedup: first occurrence of each ``subset`` key
    wins. With a watermark column the per-key state is dropped once the
    watermark passes (bounded state); without one state grows with key
    cardinality (the reference's complete-mode tradeoff, documented)."""
    if watermark_col is not None:
        stream = stream.withWatermark(watermark_col, watermark)
        return stream.dropDuplicatesWithinWatermark(subset)
    return stream.dropDuplicates(subset)


def windowed_event_counts(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    window: str = "1 day",
    watermark: str = "1 day",
) -> DataFrame:
    """Watermarked tumbling-window counts — the scalable replacement for
    the reference's unbounded complete-mode state (SURVEY §7.6).

    With a watermark, Spark drops per-window state once the watermark
    passes the window end; state is bounded by (windows in flight ×
    keys), not by the stream's lifetime. Works identically on batch
    DataFrames (the window function degrades to a group-by).
    """
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("win"), F.col(key_col))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("win.start").alias("window_start"),
            key_col,
            "n",
        )
    )


def write_batch_idempotent(bdf: DataFrame, batch_id: int, out_dir: str) -> None:
    """Land one micro-batch at ``out_dir/batch_id=<id>`` with overwrite
    semantics. foreachBatch is at-least-once: a batch whose files landed
    before the checkpoint commit is replayed wholesale on restart — but
    a replay carries the SAME batch_id, so overwriting the per-batch
    directory replaces the partial/duplicate output instead of appending
    a second copy. That keys exactly-once on the batch id, the standard
    idempotent-file-sink recipe."""
    bdf.write.mode("overwrite").parquet(f"{out_dir}/batch_id={batch_id}")


def run_stream_transform_to_parquet(
    spark: SparkSession,
    stream_df: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    transform=None,
) -> DataFrame:
    """foreachBatch file sink — the production shape for streaming
    pipelines that land files instead of memory/console. Each
    micro-batch (optionally run through ``transform``, an arbitrary
    BATCH DataFrame→DataFrame function — this is foreachBatch's whole
    point: inside the hook the micro-batch is a plain batch frame, so
    plans streaming cannot express statelessly, e.g. per-batch
    aggregating joins, run unchanged) overwrites its own ``batch_id=N``
    subdirectory (``write_batch_idempotent``), so checkpoint-replayed
    batches are exactly-once at the file level, not just
    at-least-once. Drains with availableNow and returns a batch
    DataFrame over the files written (the batch_id partition column is
    an implementation detail and is dropped). A drain that produced
    ZERO micro-batches (empty source dir, or every file already
    committed in the checkpoint from a prior run) never creates
    ``out_dir`` — that is a successful run with no new data, so an
    empty DataFrame with the result schema (the transform applied to
    an empty batch of the stream's schema — schema derivation only,
    nothing executes) is returned instead of letting the read fail.
    Detected by catching PATH_NOT_FOUND from the read itself, NOT a
    driver-local isdir probe: out_dir may be
    file://.../hdfs://.../s3a://... where a local os.path check is
    always False and would silently discard data that WAS just
    landed."""
    from pyspark.errors import AnalysisException

    fn = transform if transform is not None else (lambda bdf: bdf)
    query = (
        stream_df.writeStream.foreachBatch(
            lambda bdf, bid: write_batch_idempotent(fn(bdf), bid, out_dir)
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    try:
        return spark.read.parquet(out_dir).drop("batch_id")
    except AnalysisException as exc:
        if "PATH_NOT_FOUND" in str(exc):
            empty = spark.createDataFrame([], stream_df.schema)
            return spark.createDataFrame([], fn(empty).schema)
        raise


def run_stream_to_parquet(
    spark: SparkSession,
    stream_df: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
) -> DataFrame:
    """``run_stream_transform_to_parquet`` with no per-batch transform
    (kept as the stable name for plain landing jobs)."""
    return run_stream_transform_to_parquet(
        spark, stream_df, out_dir, checkpoint_dir
    )


def stream_decontaminate_join(
    spark: SparkSession,
    stream_df: DataFrame,
    bench_df: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 13,
) -> DataFrame:
    """Streaming benchmark decontamination in JOIN mode (r9): run
    ``safety.decontaminate(strategy='join')`` over each micro-batch
    inside ``foreachBatch`` — the in-engine path for benchmark suites
    too large for the stateless array probe (``decontaminate``'s
    streaming branch raises past ``array_bench_limit`` and points
    here).

    Why foreachBatch: the join strategy ends in a per-document
    aggregation over the document's exploded n-grams, which append-mode
    streaming cannot express statelessly — but every document's
    n-grams are entirely WITHIN one micro-batch (documents don't span
    files), so running the batch operator per micro-batch computes the
    exact batch semantics incrementally. Cost per batch is
    batch_ngrams × O(1) broadcast-hash probes — the scale path — where
    the array probe pays batch_rows × |bench|.

    The benchmark is materialized ONCE (persist + count) before the
    stream starts, so per-batch plans re-hash only the cached benchmark
    rows instead of re-scanning its source every trigger; it is
    unpersisted after the drain (results are already on disk).
    Idempotence: each batch lands in its own overwritten ``batch_id=N``
    dir (``write_batch_idempotent``), so checkpoint replays are
    exactly-once at the file level. Returns the drained result as a
    batch DataFrame — (doc_id, n_ngrams, n_contaminated_ngrams,
    contaminated), equal to ``decontaminate(batch_corpus, bench,
    strategy='join')`` over the same files.
    """
    from big_data_analysis_of_twitter_emoji_usage_spark.operators.safety import decontaminate

    bench_static = bench_df.persist()
    bench_static.count()
    try:
        return run_stream_transform_to_parquet(
            spark,
            stream_df,
            out_dir,
            checkpoint_dir,
            transform=lambda bdf: decontaminate(
                bdf,
                bench_static,
                text_col=text_col,
                id_col=id_col,
                n=n,
                strategy="join",
            ),
        )
    finally:
        bench_static.unpersist()


_STORE_LAYOUT_FILE = "_layout.json"
# v2 (r11): payload rows carry the verify columns the probe needs
# (signbucket stores land _n; banded stores land id-bucketed _pbkt dirs)
_STORE_LAYOUT_VERSION = 2


def _marker_io(spark: SparkSession, store_dir: str):
    """(fs, marker Path, Path ctor) for the store's layout marker —
    through the Hadoop FileSystem, NOT driver-local os/open: a
    local-only check silently never engages on HDFS/object stores,
    turning the fail-fast layout gate into a no-op exactly where
    stores are big enough for a silent mis-probe to matter."""
    from big_data_analysis_of_twitter_emoji_usage_spark.sources.writers import _hadoop_fs

    fs, _ = _hadoop_fs(spark, store_dir)
    jpath = spark.sparkContext._jvm.org.apache.hadoop.fs.Path
    return fs, jpath(f"{store_dir.rstrip('/')}/{_STORE_LAYOUT_FILE}"), jpath


def write_store_layout_marker(
    spark: SparkSession,
    store_dir: str,
    kind: str,
    store_buckets: int | None,
    max_batch_id: int | None = None,
) -> None:
    """Persist the accumulating dedup/index store's layout contract as
    ``<store_dir>/_layout.json`` (underscore-prefixed, so Spark's file
    index never reads it as data). The banded layout's bucket count
    (``store_buckets``) is a STORE-LIFETIME choice: resuming with a
    different count — or resuming an unbanded store, marked
    ``store_buckets`` None — silently hides pre-switch history from
    the probe and emits wrong keeper sets, so the drives refuse to start on a mismatch instead of
    relying on a docstring (same fail-fast posture as ``get_spark``
    rejecting a typo'd ``state_store``). Call this yourself when
    seeding a store from batch-built ``build_minhash_store`` /
    ``build_signbucket_store`` output. Marker IO goes through the
    Hadoop FileSystem, so the gate engages on any store FS Spark can
    reach.

    ``max_batch_id`` (r12) records the highest streaming batch id ever
    landed in the store; the drives keep it current per trigger and
    REFUSE to resume a store whose marker records landed batches when
    the drive's checkpoint is fresh (no commits): a recreated
    checkpoint restarts batch ids at 0, and a later roll's dynamic
    overwrite would silently replace surviving history leaves with
    colliding ids (the r11 consolidation names merged leaves
    ``min(ids)-1``, so MERGED history never collides — only
    unconsolidated leaves and recent tails do). Batch-seeded stores
    leave it None (no landed batches → fresh checkpoints are fine)."""
    fs, marker, jpath = _marker_io(spark, store_dir)
    fs.mkdirs(marker.getParent())
    payload = {
        "layout_version": _STORE_LAYOUT_VERSION,
        "kind": kind,
        "store_buckets": store_buckets,
    }
    if max_batch_id is not None:
        payload["max_batch_id"] = max_batch_id
    # tmp-then-rename, NOT create(marker, True): since the r12
    # watermark this rewrite happens once per trigger, and an in-place
    # create truncates the live marker immediately — a crash mid-write
    # would leave _layout.json empty/corrupt and every later drive
    # unreadable. The tmp write is all-or-nothing at the marker path;
    # the delete→rename window leaves a COMPLETE tmp, which the reader
    # rolls forward (same repair-on-read family as compact_parquet_dir).
    _write_small_json_atomic(spark, fs, jpath, marker, payload)


def _write_small_json_atomic(spark, fs, jpath, target, payload: dict) -> None:
    """tmp-then-rename landing for tiny JSON control files (layout
    marker, drift signal): the tmp write is all-or-nothing at the
    target path, and the delete→rename window leaves a COMPLETE tmp
    the marker reader rolls forward."""
    tmp = jpath(str(target) + ".tmp")
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(json.dumps(payload).encode()))
    finally:
        out.close()
    if fs.exists(target):
        fs.delete(target, False)
    fs.rename(tmp, target)


def _record_max_batch_id(spark: SparkSession, store_dir: str, bid: int) -> None:
    """Advance the marker's ``max_batch_id`` watermark after a batch
    lands (driver-side, one tiny atomic JSON rewrite per trigger —
    monotone, never lowered by a checkpoint replay of an earlier
    batch)."""
    got = _read_store_layout_marker(spark, store_dir)
    if got is None:
        raise ValueError(
            f"dedup store at {store_dir} lost its _layout.json marker "
            "mid-drive — write_store_layout_marker() it back with the "
            "drive's layout before resuming."
        )
    if int(got.get("max_batch_id", -1)) < bid:
        write_store_layout_marker(
            spark, store_dir, got["kind"], got["store_buckets"], bid
        )


def _checkpoint_is_fresh(spark: SparkSession, checkpoint_dir: str) -> bool:
    """True iff the Structured Streaming checkpoint has never started a
    batch (missing dir, or an empty/missing ``offsets/``) — through
    the Hadoop FS, same FS-agnostic posture as ``_marker_io``.

    ``offsets/``, deliberately NOT ``commits/``: a drive that crashed
    after its first batch's work landed (and after the marker's
    watermark advanced) but BEFORE the commit file has offsets/0 and
    an empty commits/ — resuming THAT checkpoint replays the same
    batch id idempotently and is exactly the safe path; gating on
    commits/ would brick the legitimate resume the gate's own error
    message recommends. Only a checkpoint with no offsets at all
    restarts batch ids at 0 against a store that already has them."""
    from big_data_analysis_of_twitter_emoji_usage_spark.sources.writers import _hadoop_fs

    fs, _ = _hadoop_fs(spark, checkpoint_dir)
    jpath = spark.sparkContext._jvm.org.apache.hadoop.fs.Path
    offsets = jpath(f"{checkpoint_dir.rstrip('/')}/offsets")
    if not fs.exists(offsets):
        return True
    return not any(
        not s.getPath().getName().startswith(".")
        for s in fs.listStatus(offsets)
    )


def _read_store_layout_marker(
    spark: SparkSession, store_dir: str
) -> dict | None:
    """Read the store's layout marker, repairing the atomic-write
    protocol's crash windows: a COMPLETE ``.tmp`` left by a crash
    between delete and rename (or beside a marker a pre-r12 in-place
    writer corrupted) is rolled forward to the marker path. Returns
    None when neither file exists; raises with rebuild guidance when
    what exists cannot be decoded."""
    fs, marker, jpath = _marker_io(spark, store_dir)
    tmp = jpath(str(marker) + ".tmp")

    def _read(path) -> dict:
        st = fs.open(path)
        try:
            buf, b = [], st.read()
            while b != -1:  # ~80 bytes; byte-wise py4j read is fine
                buf.append(b)
                b = st.read()
        finally:
            st.close()
        return json.loads(bytes(buf).decode())

    marker_exists = fs.exists(marker)
    if marker_exists:
        try:
            return _read(marker)
        except ValueError:
            pass  # truncated/corrupt — try the tmp roll-forward below
    if fs.exists(tmp):
        try:
            got = _read(tmp)
        except ValueError:
            got = None
        if got is not None:
            if marker_exists:
                fs.delete(marker, False)
            fs.rename(tmp, marker)
            return got
        fs.delete(tmp, False)  # incomplete tmp: the marker is truth
    if marker_exists:
        raise ValueError(
            f"dedup store at {store_dir} has an undecodable "
            f"{_STORE_LAYOUT_FILE} and no complete recovery tmp — "
            "rebuild the store, or write_store_layout_marker() if you "
            "know its layout."
        )
    return None


def _enforce_store_layout(
    spark: SparkSession,
    store_dir: str,
    kind: str,
    store_buckets: int | None,
    checkpoint_dir: str | None = None,
) -> None:
    """Drive-start layout gate: first use writes the marker; every
    later drive (or resume) must present the SAME kind and bucket
    count, and a non-empty store without a marker is refused (it could
    be either layout — rebuild it, or ``write_store_layout_marker`` if
    you know which; pre-v2 stores also predate the stored verify
    columns, so a rebuild is the correct migration).

    With ``checkpoint_dir`` (r12), also refuses the fresh-checkpoint /
    landed-store combination: a recreated checkpoint restarts batch
    ids at 0, so its landings can silently dynamic-overwrite surviving
    history leaves with colliding ids. Markers written before r12 (no
    ``max_batch_id``) pass ungated — they predate the watermark, and
    their first post-r12 drive starts recording it."""
    fs, marker, jpath = _marker_io(spark, store_dir)
    expected = {
        "layout_version": _STORE_LAYOUT_VERSION,
        "kind": kind,
        "store_buckets": store_buckets,
    }
    got = _read_store_layout_marker(spark, store_dir)
    if got is not None:
        if {k: got.get(k) for k in expected} != expected:
            raise ValueError(
                f"dedup store layout mismatch at {store_dir}: the store "
                f"was written with {got}, this drive requests {expected}. "
                "The layout (bucketing and bucket count) is a "
                "store-lifetime contract — rebuild the store to change it."
            )
        if (
            checkpoint_dir is not None
            and int(got.get("max_batch_id", -1)) >= 0
            and _checkpoint_is_fresh(spark, checkpoint_dir)
        ):
            raise ValueError(
                f"dedup store at {store_dir} has landed streaming batches "
                f"(max_batch_id={got['max_batch_id']}) but this drive's "
                f"checkpoint {checkpoint_dir} has never started a batch: "
                "a fresh checkpoint restarts batch ids at 0 and would "
                "silently overwrite surviving history leaves with "
                "colliding ids. Resume with the original checkpoint, or "
                "rebuild the store alongside the new checkpoint."
            )
        return

    def _nonempty(path: str) -> bool:
        p = jpath(path)
        if not fs.exists(p):
            return False
        return any(
            # the marker family (_layout.json and its atomic-write tmp)
            # is metadata, not store content
            not s.getPath().getName().startswith(_STORE_LAYOUT_FILE)
            for s in fs.listStatus(p)
        )

    siblings = [
        store_dir.rstrip("/") + sfx
        for sfx in ("_recent", "_bands", "_bands_recent")
    ]
    if _nonempty(store_dir) or any(_nonempty(s) for s in siblings):
        raise ValueError(
            f"dedup store at {store_dir} has no _layout.json marker "
            "(pre-r11 store?): its layout cannot be verified against "
            f"this drive's (kind={kind!r}, store_buckets={store_buckets!r}). "
            "Rebuild the store, or write_store_layout_marker() if you "
            "know its layout matches (pre-v2 stores lack the stored "
            "verify columns and should be rebuilt)."
        )
    write_store_layout_marker(spark, store_dir, kind, store_buckets)


def _read_bucket_subtrees(
    spark: SparkSession, root: str, bucket_col: str, buckets: list
) -> DataFrame | None:
    """Direct-path read of ONLY the touched bucket partitions of a
    bucket-major store (``<root>/<bucket_col>=K/batch_id=N/...``):
    existence is checked per bucket through the Hadoop FS (≤
    ``len(buckets)`` RPCs, bounded by ``store_buckets``), then Spark's
    file index lists just the touched subtrees. This is the layout's
    whole point: partition PRUNING (filter/INSET on a batch-major
    layout) avoids reading untouched dirs but still pays a full
    InMemoryFileIndex discovery of every partition dir per
    ``spark.read`` — measured ~7 s per read at B=4096 on this host,
    more than the pruned scan itself (r11, SCALE.md), and a per-trigger
    O(B·batches) prefix listing on an object store. Bucket-major
    direct paths make probe cost proportional to the TOUCHED buckets
    only. Returns None when no touched bucket dir exists yet (e.g. a
    zero-row first batch). Thin alias over
    ``sources.readers.read_partition_subtrees`` (shared with the
    persisted IVF postings probe)."""
    from big_data_analysis_of_twitter_emoji_usage_spark.sources.readers import (
        read_partition_subtrees,
    )

    return read_partition_subtrees(spark, root, bucket_col, buckets)


def _read_committed_recent(
    spark: SparkSession, root: str, bid: int
) -> DataFrame | None:
    """Direct-path read of a two-tier store's COMMITTED recent batch
    dirs (``<root>/batch_id=K`` for K < ``bid``) — the r12 probe shape:
    the in-flight batch's rows come straight from the persisted
    in-memory frame instead of being read back from the files the
    trigger just wrote, which (a) removes the land→read-back ordering
    so the landings can overlap the probe (guide §2.6), and (b) makes
    the read immune to a concurrent landing's in-flight commit: only
    dirs whose batches are checkpoint-committed enter the file index
    (one listStatus, no per-dir existence RPCs). Returns None when no
    committed dir exists yet (first trigger, or a fully-rolled tail)."""
    from big_data_analysis_of_twitter_emoji_usage_spark.sources.writers import (
        _hadoop_fs,
    )

    root = root.rstrip("/")
    fs, hroot = _hadoop_fs(spark, root)
    if not fs.exists(hroot):
        return None
    dirs = [
        f"{root}/{s.getPath().getName()}"
        for s in fs.listStatus(hroot)
        if s.isDirectory()
        and s.getPath().getName().startswith("batch_id=")
        and int(s.getPath().getName().split("=", 1)[1]) < bid
    ]
    if not dirs:
        return None
    return spark.read.option("basePath", root).parquet(*dirs)


def _run_two_tier_maintenance(
    spark: SparkSession,
    roots: list[tuple[str, str, bool]],
    bid: int,
    min_batch_dirs: int,
    defer_reap: bool = False,
) -> list[str]:
    """The r12 self-driving maintenance cycle, called from inside
    ``foreachBatch`` after batch ``bid``'s work lands: for each
    (root, bucket_col, wide) store root, roll the COMMITTED recent
    tail (strictly below the in-flight ``bid`` — those batches'
    checkpoint commits landed before this batch ran, so rolling them
    adds no new crash window; the in-flight batch stays in the tail,
    which also keeps the tail non-empty for the next probe's read),
    then threshold-gated consolidation: ``consolidate_bucket_history``
    early-returns unless some bucket accumulated ``min_batch_dirs``
    batch dirs, so the O(store) merge rewrite fires only every ~
    ``min_batch_dirs / roll_cadence`` cycles instead of every cycle —
    the single-level LSM amortization (a size-tiered policy is the
    next refinement; the threshold already bounds per-probe subtree
    listing at ``min_batch_dirs`` dirs per bucket). ``wide`` stores
    (shingle/vector payload arrays) roll and consolidate with
    ``shuffle=False`` — the wide-row exchange was measured spilling
    past local scratch at the 20M-doc decade (SCALE.md r11).

    ``defer_reap=True`` (r13): the cycle only ADDS files — the rolled
    recent dirs, the merged buckets' old dirs and the consolidation
    PENDING marker are NOT deleted; their paths are RETURNED for the
    caller to pass to ``_reap_deferred`` at a read-quiesced point.
    The interim double-presence is exactly the two ops' documented
    crash windows, which every probe tolerates by construction — this
    is what lets the whole cycle run on a background thread UNDER
    live probes (guide §2.6) without a delete ever racing a probe's
    pinned file index. Returns [] when not deferring."""
    from big_data_analysis_of_twitter_emoji_usage_spark.sources.writers import (
        _hadoop_fs,
        consolidate_bucket_history,
        roll_recent_into_store,
    )

    def _maintain_one(root: str, bucket_col: str, wide: bool) -> list[str]:
        reap = roll_recent_into_store(
            spark,
            root,
            bucket_col,
            before_batch_id=bid,
            shuffle=not wide,
            defer_reap=defer_reap,
        ).get("deferred_reap", [])
        fs, hroot = _hadoop_fs(spark, root)
        if fs.exists(hroot):
            reap += consolidate_bucket_history(
                spark,
                root,
                min_batch_dirs=min_batch_dirs,
                shuffle=not wide,
                defer_reap=defer_reap,
            ).get("deferred_reap", [])
        return reap

    if len(roots) == 1:
        return _maintain_one(*roots[0])
    # The roots (band store + payload store) are DISJOINT directory
    # trees whose roll/consolidate jobs share no state — submit them
    # from a small thread pool so the second root's jobs back-fill the
    # executor slots the first root's tail leaves idle (optimization
    # guide §2.6: actions are only sequential because driver code
    # calls them sequentially). Within a root the order stays
    # roll → consolidate (consolidate merges the dirs roll just
    # landed). Exceptions propagate via future.result().
    from concurrent.futures import ThreadPoolExecutor

    reap: list[str] = []
    with ThreadPoolExecutor(max_workers=len(roots)) as pool:
        futures = [pool.submit(_maintain_one, *r) for r in roots]
        for f in futures:
            reap += f.result()
    return reap


class _MaintenanceScheduler:
    """Serialized background in-drive maintenance (r13, guide §2.6):
    at most ONE cycle in flight, run on a single worker thread so
    later triggers' jobs back-fill the executor slots the cycle's
    tail leaves idle. ``cycle(bid)`` is the drive's maintenance
    callable and returns a deferred-deletion list (possibly empty);
    deletions are reaped at read-quiesced points only — the next
    foreachBatch entry (``on_trigger_entry``, before any probe plan
    is built), the next ``fire`` (which also serializes cycles), or
    ``drain``. A failed cycle surfaces at the next of those points,
    one trigger later than a synchronous cycle would — within the
    ops' documented crash contract (an interrupted cycle was always
    legal and convergent: the next roll re-rolls everything
    committed, the consolidation PENDING marker recovers)."""

    def __init__(self, spark: SparkSession, cycle):
        from concurrent.futures import ThreadPoolExecutor

        self._spark = spark
        self._cycle = cycle
        self._pool = ThreadPoolExecutor(max_workers=1)
        self._pending = None

    def _join_and_reap(self) -> None:
        f, self._pending = self._pending, None
        _reap_deferred(self._spark, f.result())

    def on_trigger_entry(self) -> None:
        if self._pending is not None and self._pending.done():
            self._join_and_reap()

    def fire(self, bid: int) -> None:
        if self._pending is not None:
            self._join_and_reap()
        self._pending = self._pool.submit(self._cycle, bid)

    def drain(self) -> None:
        try:
            if self._pending is not None:
                self._join_and_reap()
        finally:
            self._pool.shutdown(wait=True)


def _reap_deferred(spark: SparkSession, paths: list[str]) -> None:
    """Delete the paths a ``defer_reap`` maintenance cycle returned.
    Call ONLY from a point where no concurrent reader can hold them in
    a pinned file index: between triggers (foreachBatch entry, before
    any probe plan is built) or after the drive drains. Order is
    preserved — data dirs first, the consolidation PENDING marker
    last, keeping the marker ⇒ possible-duplication invariant. The
    FileSystem is resolved per path: one cycle's list spans every
    store root it maintained, and those roots need not share a
    filesystem or scheme."""
    from big_data_analysis_of_twitter_emoji_usage_spark.sources.writers import (
        _hadoop_fs,
    )

    for p in paths:
        fs, hpath = _hadoop_fs(spark, p)
        fs.delete(hpath, True)


def _run_store_drive(
    spark: SparkSession,
    stream_df: DataFrame,
    checkpoint_dir: str,
    store_dir: str,
    land,
    maintain_every: int | None,
    cycle,
) -> None:
    """Drive ``stream_df`` to completion (availableNow) into a
    persisted store — the trigger loop every store drive shares. Per
    trigger: reap a finished maintenance cycle (foreachBatch entry, no
    probe plan built yet), ``land(bdf, bid)``, advance the store
    marker's ``max_batch_id`` watermark, and every
    ``maintain_every``-th landed batch fire ``cycle(bid)`` on the
    background ``_MaintenanceScheduler``. The in-flight cycle is
    joined (and its error raised) before this returns, so a drained
    read after it sees a quiesced store."""
    sched = (
        _MaintenanceScheduler(spark, cycle) if maintain_every is not None else None
    )
    n_landed = 0  # triggers since drive start (cadence, not state)

    def _on_batch(bdf: DataFrame, bid: int) -> None:
        nonlocal n_landed
        if sched is not None:
            sched.on_trigger_entry()
        land(bdf, bid)
        # marker watermark AFTER the batch's work lands — a crash in
        # between leaves the watermark one batch low, which only makes
        # the fresh-checkpoint gate conservative (never permissive)
        _record_max_batch_id(spark, store_dir, bid)
        if sched is not None:
            n_landed += 1
            if n_landed % maintain_every == 0:
                sched.fire(bid)

    query = (
        stream_df.writeStream.foreachBatch(_on_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    try:
        query.awaitTermination()
    finally:
        if sched is not None:
            sched.drain()


def _banded_store_drive(
    spark: SparkSession,
    stream_df: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    store_dir: str,
    kind: str,
    id_col: str,
    store_buckets: int,
    max_bucket: int | None,
    maintain_every: int | None,
    consolidate_min_batch_dirs: int,
    build_state,
    band_rows,
    band_keys: list[str],
    verify,
) -> DataFrame:
    """The streaming near-dup drive over a banded store — one skeleton
    for two LSH families (band, probe, exactly verify): MinHash bands
    (``stream_near_dedup_minhash``) and sign-random-projection buckets
    (``stream_near_dedup_embedding``). The entry points supply only
    what differs:

    - ``build_state(bdf)``: the batch's store increment (payload rows,
      one per id — ``build_minhash_store`` / ``build_signbucket_store``,
      so batch-built reference stores and this accumulating store are
      interchangeable);
    - ``band_rows(state)``: its (id, *band_keys) LSH rows;
    - ``verify(cand, payload)``: the ``id_b`` ids (named ``id_col``)
      of candidate (id_a, id_b) pairs that pass the exact similarity
      test over the candidates' payload rows;
    - ``kind``: the layout marker's store kind.

    A document is DROPPED iff some already-seen or smaller-id
    same-batch document shares a band key AND passes ``verify``;
    dropped documents' rows STAY in the store — the drop rule is "has
    a smaller qualifying partner, whatever that partner's own fate",
    which is batch-boundary-free, so under event-order = id-order
    arrival the drained keeper set equals the batch operator's.

    Layout (banded since r10; bucket-major and two-tier since r11):
    band rows land under ``<store_dir>_bands`` keyed ``_bkt =
    pmod(xxhash64(*band_keys), store_buckets)``, payload rows under
    ``<store_dir>`` keyed ``_pbkt = pmod(xxhash64(id), store_buckets)``. The probe reads ONLY the
    touched bucket subtrees by direct path (``_read_bucket_subtrees``;
    ≤ store_buckets FS existence checks) — untouched bucket dirs are
    never read nor even LISTED: the r10 batch-major layout
    (``batch_id=N/_bkt=K`` + literal-IN pruning) skipped their bytes but
    paid a full file-index discovery of every partition dir per read,
    measured ~7 s per read at B=4096 — more than the pruned scan
    itself — and an O(B·batches) prefix listing on an
    object store (SCALE.md r11). History is never re-banded and never
    shuffled: band rows are paid once at arrival and joined against
    the BROADCAST current batch. The verify reads only the candidate
    ids' payload buckets — without that every trigger scanned the full
    history's widest column for a handful of candidates (measured 6×+
    and growing at the 5M-doc decade, SCALE.md). Probe cost ≈
    coverage(m, store_buckets) × (listing + history-read) for a batch
    of ``m`` band rows — constant-in-history in the trickle regime;
    size ``store_buckets`` ≈ 5–10× the per-trigger band-row count.

    TWO-TIER LANDING: a dynamic-overwrite landing straight into the
    bucket-major layout costs ~17 ms of commit per touched partition
    dir PER TRIGGER (measured ~9 s/trigger at B=4096), so each batch
    lands batch-major in ``<root>_recent/batch_id=N``
    (``write_batch_idempotent`` — one cheap dir, replay-idempotent) and
    probes read history ∪ committed recent ∪ the in-flight batch's
    persisted rows. Both landings run on background threads overlapped
    with the probe (nothing in the trigger reads them back) and are
    joined before the batch returns. Maintenance —
    ``roll_recent_into_store`` on both roots, then the threshold-gated
    ``consolidate_bucket_history`` — runs between drives or in-drive
    every ``maintain_every`` landed batches on a background thread
    (``_run_two_tier_maintenance`` with deferred reaping; rolls only
    checkpoint-COMMITTED batches, so no new crash window). The crash
    windows of both ops only duplicate rows across tiers, which the
    DISTINCT candidate/drop sets, the ``countDistinct`` occupancy and
    the pair-aggregating verify tolerate.

    The layout is a STORE-LIFETIME contract persisted in
    ``<store_dir>/_layout.json`` (``_enforce_store_layout``): a changed
    bucket count or an unmarked pre-existing store is refused, as is a
    fresh checkpoint against a store with landed batches.

    ``max_bucket`` (r12) is the hot-group backstop: band groups whose
    occupancy exceeds it produce NO candidates. Every row of a group
    hashes to the same ``_bkt``, so the touched-subtree read already
    holds each probed group's full history∪recent∪current occupancy —
    the guard is the batch operator's window-count rule applied to the
    corpus AS OF EACH TRIGGER. The one inherent online caveat: a group
    that crosses the cap mid-stream produced drops while it was small
    and stops producing new ones after; where no group crosses the cap
    mid-stream the drained keeper set equals the batch operator's at
    the same ``max_bucket``.

    Returns the drained keeper rows (original stream columns) as a
    batch DataFrame over ``out_dir``."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.errors import AnalysisException

    from big_data_analysis_of_twitter_emoji_usage_spark.sources.readers import (
        union_partition_tiers,
    )

    store_root = store_dir.rstrip("/")
    bands_dir = store_root + "_bands"
    _enforce_store_layout(spark, store_dir, kind, store_buckets, checkpoint_dir)

    def _bucket(*cols):
        return F.pmod(F.xxhash64(*cols), F.lit(store_buckets))

    def _tiers(root: str, col: str, buckets: list, cur: DataFrame, bid: int):
        # touched history subtrees ∪ committed recent dirs ∪ the
        # in-flight batch's persisted rows; <= bid keeps a replay's
        # read-set exact
        committed = _read_committed_recent(spark, root + "_recent", bid)
        cur = cur.withColumn("batch_id", F.lit(bid))
        recent = cur if committed is None else committed.unionByName(cur)
        return union_partition_tiers(
            _read_bucket_subtrees(spark, root, col, buckets),
            recent.filter(F.col(col).isin(buckets)),
            col,
        ).filter(F.col("batch_id") <= F.lit(bid))

    def _dedup_batch(bdf: DataFrame, bid: int) -> None:
        state = build_state(bdf).persist()
        state_p = state.withColumn("_pbkt", _bucket(F.col(id_col)))
        bc = band_rows(state).withColumn("_bkt", _bucket(*band_keys)).persist()
        cand = seen_cached = None
        pool = ThreadPoolExecutor(max_workers=2)
        landings = [
            pool.submit(write_batch_idempotent, state_p, bid, store_root + "_recent"),
            pool.submit(write_batch_idempotent, bc, bid, bands_dir + "_recent"),
        ]
        try:
            bkts = [r[0] for r in bc.select("_bkt").distinct().collect()]
            if not bkts:
                # zero-row micro-batch: nothing landed, nothing to dedup
                write_batch_idempotent(bdf, bid, out_dir)
                return
            bands_seen = _tiers(bands_dir, "_bkt", bkts, bc, bid)
            probe = bc
            if max_bucket is not None:
                # hot groups are emptied from the broadcast probe side
                # (killing all their pairs); ``hot`` is bounded by the
                # batch's distinct groups. bands_seen is persisted so
                # the occupancy agg and the candidate join share ONE
                # read of the touched subtrees — the dominant
                # per-trigger IO at deep history.
                bands_seen = seen_cached = bands_seen.persist()
                hot = (
                    bands_seen.join(
                        F.broadcast(bc.select(*band_keys).distinct()), band_keys
                    )
                    .groupBy(*band_keys)
                    # countDistinct, not count: store rows are unique
                    # per (id, band key) by construction, so the
                    # distinct-id count IS the batch operator's
                    # occupancy under any crash-window duplication
                    .agg(F.countDistinct(F.col(id_col)).alias("_bc"))
                    .filter(F.col("_bc") > max_bucket)
                    .select(*band_keys)
                )
                probe = bc.join(F.broadcast(hot), band_keys, "left_anti")
            on = F.col("a._bkt") == F.col("b._bkt")
            for k in band_keys:
                on = on & (F.col(f"a.{k}") == F.col(f"b.{k}"))
            cand = (
                bands_seen.alias("a")
                .join(
                    F.broadcast(probe).alias("b"),
                    on & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
                )
                .select(
                    F.col(f"a.{id_col}").alias("id_a"),
                    F.col(f"b.{id_col}").alias("id_b"),
                )
                .distinct()
                .persist()
            )
            # cand is persisted so the payload-bucket collect and the
            # verify join share one execution of the band probe
            pbkts = [
                r[0]
                for r in cand.select(F.explode(F.array("id_a", "id_b")).alias("_i"))
                .select(_bucket("_i").alias("_pbkt"))
                .distinct()
                .collect()
            ]
            keep = bdf
            if pbkts:
                payload = _tiers(store_root, "_pbkt", pbkts, state_p, bid)
                keep = bdf.join(verify(cand, payload), id_col, "left_anti")
            write_batch_idempotent(keep, bid, out_dir)
        finally:
            # join the landing threads FIRST: their writes read the
            # persisted frames, and a landing failure must fail the
            # batch so the checkpoint never commits a half-landed
            # trigger. Drain EVERY future before re-raising (r13): a
            # raise on the first must not skip the second's join nor
            # the pool shutdown.
            errs = []
            for f in landings:
                try:
                    f.result()
                except BaseException as e:  # noqa: BLE001 — re-raised
                    errs.append(e)
            pool.shutdown()
            for df in (state, bc, cand, seen_cached):
                if df is not None:
                    df.unpersist()
            if errs:
                raise errs[0]

    _run_store_drive(
        spark,
        stream_df,
        checkpoint_dir,
        store_dir,
        _dedup_batch,
        maintain_every,
        lambda bid: _run_two_tier_maintenance(
            spark,
            [(bands_dir, "_bkt", False), (store_dir, "_pbkt", True)],
            bid,
            consolidate_min_batch_dirs,
            defer_reap=True,
        ),
    )
    try:
        return spark.read.parquet(out_dir).drop("batch_id")
    except AnalysisException as exc:
        if "PATH_NOT_FOUND" in str(exc):
            return spark.createDataFrame([], stream_df.schema)
        raise


def stream_near_dedup_minhash(
    spark: SparkSession,
    stream_df: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    store_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 8,
    band_size: int = 2,
    threshold: float = 0.4,
    unit: str = "word",
    *,
    store_buckets: int,
    max_bucket: int | None = None,
    maintain_every: int | None = None,
    consolidate_min_batch_dirs: int = 8,
) -> DataFrame:
    """Incremental near-dup deduplication of a document stream against
    an accumulating MinHash signature store (r9) — the ingestion-time
    twin of ``dedup.near_dup_pairs``. Each micro-batch is deduplicated
    against EVERYTHING seen so far without recomputing history: its
    shingle arrays + MinHash signatures are computed once
    (``build_minhash_store``) and landed in the banded store, its
    (band, sig) rows probe the store's, and candidates are verified by
    exact shingle Jaccard (``dedup.verify_pairs_jaccard``) ≥
    ``threshold``; survivors land in ``out_dir/batch_id=N``. Under
    ordered arrival (the staged-replay contract, as
    ``native_sessionize_stream``) the drained keeper set equals
    ``corpus MINUS {id_b of near_dup_pairs(corpus)}`` at the same
    parameters, which is the DuckDB oracle; out-of-order arrival is
    still "dedup against all prior arrivals + smaller in-batch ids".

    ``store_buckets`` sizes the banded store (see
    ``_banded_store_drive`` for the layout, its measured reasons, the
    maintenance loop and the ``max_bucket`` hot-band backstop — the
    batch operator's ``near_dup_pairs(max_bucket=...)`` rule applied to
    the corpus as of each trigger). ``maintain_every`` /
    ``consolidate_min_batch_dirs`` (r12) run the roll + consolidation
    loop in-drive every Nth landed batch.

    Returns the drained keeper rows (original stream columns) as a
    batch DataFrame over ``out_dir``.
    """
    from big_data_analysis_of_twitter_emoji_usage_spark.operators.dedup import (
        build_minhash_store,
        signature_bands,
        verify_pairs_jaccard,
    )

    hcols = [f"h{i}" for i in range(num_hashes)]

    def _verify(cand: DataFrame, payload: DataFrame) -> DataFrame:
        pairs = verify_pairs_jaccard(
            cand, payload.select(id_col, "shingles"), id_col, threshold
        )
        return pairs.select(F.col("id_b").alias(id_col)).distinct()

    return _banded_store_drive(
        spark,
        stream_df,
        out_dir,
        checkpoint_dir,
        store_dir,
        "minhash",
        id_col,
        store_buckets,
        max_bucket,
        maintain_every,
        consolidate_min_batch_dirs,
        lambda bdf: build_minhash_store(bdf, text_col, id_col, k, num_hashes, unit),
        lambda state: signature_bands(
            state.select(id_col, *hcols), id_col, num_hashes, band_size
        ),
        ["band", "sig"],
        _verify,
    )


def stream_near_dedup_embedding(
    spark: SparkSession,
    stream_df: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    store_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = 8,
    tables: int = 2,
    threshold: float = 0.4,
    *,
    store_buckets: int,
    max_bucket: int | None = None,
    maintain_every: int | None = None,
    consolidate_min_batch_dirs: int = 8,
) -> DataFrame:
    """Incremental SEMANTIC near-dup deduplication of an embedding
    stream against an accumulating sign-LSH bucket store (r9) — the
    embedding-space twin of ``stream_near_dedup_minhash`` and the
    ingestion-time twin of ``similarity.embedding_near_dup_pairs``. Per
    micro-batch: vectors, their stored self-norm ``_n`` and per-table
    coordinate-sign bucket codes are computed ONCE at arrival
    (``build_signbucket_store``) and landed in the banded store, the
    batch's (table, bucket) rows probe the store's, and candidates are
    verified by exact cosine ≥ ``threshold`` over the stored vectors
    and norms (no per-trigger norm recompute). Under ordered arrival
    the drained keeper set equals the batch operator's keeper rule.

    ``bits``/``tables`` are REQUIRED static here (no auto-bits): the
    bucket space must be identical across the store's whole lifetime —
    a per-batch corpus-sized ``bits`` would re-key history and silently
    miss cross-batch pairs. Size them for the corpus the store will
    GROW INTO (the ``auto_sign_bits`` rule at expected n), and rebuild
    the store on re-bucketing, exactly like any persisted LSH index.
    ``store_buckets``, ``max_bucket`` (the
    ``embedding_near_dup_pairs(max_bucket=...)`` window rule as of each
    trigger), ``maintain_every`` and ``consolidate_min_batch_dirs``:
    same contract as the MinHash twin (see ``_banded_store_drive``).

    Returns the drained keeper rows (original stream columns) over
    ``out_dir``.
    """
    from big_data_analysis_of_twitter_emoji_usage_spark.core import explode_nonempty
    from big_data_analysis_of_twitter_emoji_usage_spark.operators.similarity import (
        _dot,
        build_signbucket_store,
        cosine_with_norms,
    )

    def _bands(state: DataFrame) -> DataFrame:
        structs = F.array(
            *[
                F.struct(F.lit(t).alias("t"), F.col(f"b{t}").alias("b"))
                for t in range(tables)
            ]
        )
        return state.select(
            F.col(id_col), explode_nonempty(structs).alias("_tb")
        ).select(id_col, F.col("_tb.t").alias("_t"), F.col("_tb.b").alias("_b"))

    def _verify(cand: DataFrame, payload: DataFrame) -> DataFrame:
        # per-side stored norms, never a per-pair recompute; the
        # fallback computes _n for seeded stores predating the column
        n = (
            F.col("_n")
            if "_n" in payload.columns
            else _dot(F.col("_v"), F.col("_v"))
        )
        vecs = payload.select(F.col(id_col), F.col("_v"), n.alias("_n"))

        def side(s: str) -> DataFrame:
            return vecs.select(
                F.col(id_col).alias(f"id_{s}"),
                F.col("_v").alias(f"_v{s}"),
                F.col("_n").alias(f"_n{s}"),
            )

        return (
            cand.join(side("a"), "id_a")
            .join(side("b"), "id_b")
            .filter(
                cosine_with_norms("_va", "_vb", F.col("_na"), F.col("_nb"))
                >= threshold
            )
            .select(F.col("id_b").alias(id_col))
            .distinct()
        )

    bcols = [f"b{t}" for t in range(tables)]
    return _banded_store_drive(
        spark,
        stream_df,
        out_dir,
        checkpoint_dir,
        store_dir,
        "signbucket",
        id_col,
        store_buckets,
        max_bucket,
        maintain_every,
        consolidate_min_batch_dirs,
        lambda bdf: build_signbucket_store(bdf, id_col, vec_col, bits, tables),
        lambda state: _bands(state.select(id_col, *bcols)),
        ["_t", "_b"],
        _verify,
    )


def stream_ivf_index_append(
    spark: SparkSession,
    stream_df: DataFrame,
    centroids_dir: str,
    postings_dir: str,
    checkpoint_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    replication: int = 2,
    maintain_every: int | None = None,
    consolidate_min_batch_dirs: int = 8,
    drift_signal: bool = True,
) -> DataFrame:
    """Maintain a persisted IVF index under streaming arrival (r9) —
    the ANN member of the continuous-curation contract: the centroid
    set is FIXED (read once from ``centroids_dir``, written by
    ``similarity.build_ivf_index`` over the seed corpus — the static
    quantizer, same contract as the dedup stores' static ``bits``),
    and each micro-batch assigns its vectors to those centroids via
    the SAME replicated flat assignment the batch builder uses
    (``similarity._flat_replicated_assign`` — shared code, cannot
    drift) and lands vector-carrying posting rows. The accumulated
    postings are exactly ``build_ivf_index``'s posting relation for
    the total corpus against the seed centroids, so
    ``cosine_knn_ivf_probe_dir`` works unchanged over them at any
    point in the stream's life — a vector is searchable one trigger
    after it arrives, with no index rebuild ever. Re-centering (new
    centroids for a drifted corpus) is an explicit offline rebuild,
    exactly like re-bucketing a dedup store.

    The store is the TWO-TIER ``write_ivf_index`` layout (r11): each
    batch lands batch-major in ``<postings_dir>_recent`` (one cheap dir
    per trigger — landing straight into per-list dirs pays the
    dynamic-overwrite commit per touched list per trigger), the probe
    reads history ∪ recent, and the maintenance loop is
    ``roll_recent_into_store(postings_dir, "_list")`` +
    ``consolidate_bucket_history`` into ``_list=K/batch_id=N`` — the
    probed-lists-only layout that bounds probe IO to the probed
    fraction of the corpus (measured 10.2× byte reduction at 2M
    vectors / sqrt-rule lists; SCALE.md r11) — run between drives, or
    IN-DRIVE every ``maintain_every`` landed batches (r12;
    ``_run_two_tier_maintenance``, committed batches only,
    consolidation threshold-gated on ``consolidate_min_batch_dirs`` —
    same contract as the dedup drives). Like the dedup stores, the
    layout is a store-lifetime contract enforced by a ``_layout.json``
    marker, whose ``max_batch_id`` watermark also refuses a
    fresh-checkpoint resume of a store with landed batches (colliding
    batch ids would silently overwrite history leaves).
    Each in-drive maintenance fire also lands the RE-CENTERING DRIFT
    SIGNAL beside the index (``drift_signal=True``, r12):
    ``similarity.ivf_drift_summary`` over the accumulated postings —
    occupancy skew, mean assignment cosine, empty-list share, stamped
    with the batch id — written atomically to
    ``<postings_dir>/_drift.json`` (underscore-hidden from Spark's
    file index), so the metric an operator alerts on (thresholds in
    the summary's docstring, measured basis in SCALE.md r12) is
    maintained by the drive itself at maintenance cadence: one
    broadcast-join aggregate scan of the postings per cycle, the same
    O(store) class as the consolidation it rides along with.
    Returns the accumulated postings (batch_id dropped).
    """
    from big_data_analysis_of_twitter_emoji_usage_spark.operators.similarity import (
        _as_double,
        _dot,
        _flat_replicated_assign,
    )
    from big_data_analysis_of_twitter_emoji_usage_spark.sources.readers import (
        union_partition_tiers,
    )
    from big_data_analysis_of_twitter_emoji_usage_spark.sources.writers import (
        _hadoop_fs,
    )

    _enforce_store_layout(
        spark, postings_dir, "ivf_postings_list_major", None, checkpoint_dir
    )
    recent_dir = postings_dir.rstrip("/") + "_recent"
    c = spark.read.parquet(centroids_dir)
    # broadcast-sized by contract; counted once for the drift rollup
    n_lists = c.count() if (maintain_every is not None and drift_signal) else 0

    def _postings(bdf: DataFrame) -> DataFrame:
        # same posting shape as build_ivf_index incl. the stored
        # self-norm (_cn) — the streamed index stays probe-identical
        # AND schema-identical to the batch-built one
        e0 = bdf.select(
            F.col(id_col).alias("_id"), _as_double(F.col(vec_col)).alias("_v")
        )
        assign = _flat_replicated_assign(e0, c, replication)
        return (
            bdf.select(
                F.col(id_col).alias("neighbor_id"),
                _as_double(F.col(vec_col)).alias("cv"),
            )
            .withColumn("_cn", _dot(F.col("cv"), F.col("cv")))
            .join(assign.withColumnRenamed("_id", "neighbor_id"), "neighbor_id")
        )

    def _append(bdf: DataFrame, bid: int) -> None:
        write_batch_idempotent(_postings(bdf), bid, recent_dir)

    def _maintain(bid: int) -> list:
        # no deferred reap here: this drive has no per-trigger probes
        # pinning store file indexes (landings only ADD new recent
        # dirs), so immediate deletes race nothing — and the drift
        # read below must see each posting exactly once
        _run_two_tier_maintenance(
            spark,
            [(postings_dir, "_list", False)],
            bid,
            consolidate_min_batch_dirs,
        )
        if drift_signal:
            from big_data_analysis_of_twitter_emoji_usage_spark.operators.similarity import (
                ivf_drift_summary,
                ivf_index_drift_stats,
            )

            s = ivf_drift_summary(
                ivf_index_drift_stats(
                    spark, centroids_dir, postings_dir, as_of_batch_id=bid
                ),
                n_lists,
            )
            s["as_of_batch_id"] = bid
            fs, _, jpath = _marker_io(spark, postings_dir)
            _write_small_json_atomic(
                spark,
                fs,
                jpath,
                jpath(f"{postings_dir.rstrip('/')}/_drift.json"),
                s,
            )
        return []  # nothing deferred (deletes ran inline above)

    # r13 (guide §2.6): the maintenance cycle + drift signal run on ONE
    # background thread so later triggers' landings back-fill the
    # executor slots its jobs leave idle. Safe because the cycle
    # touches only data a concurrent landing never reads or writes:
    # the roll reads EXACTLY the committed (< bid) batch dirs by direct
    # path and writes/deletes only those and the history tier; a
    # landing writes a NEW ≥-bid dir; the drift read pins its file
    # index to batches ≤ bid (as_of_batch_id). A maintenance error
    # fails the drive at the next trigger entry, fire or drain, with
    # the batch itself committed — inside the documented crash
    # contract (roll re-runs on everything committed; the
    # consolidation PENDING marker recovers).
    _run_store_drive(
        spark,
        stream_df,
        checkpoint_dir,
        postings_dir,
        _append,
        maintain_every,
        _maintain,
    )

    def _tier(root: str, prefix: str) -> DataFrame | None:
        # read a tier only when it holds partition dirs: a rolled tail
        # is an EMPTY dir and a fresh store holds only the layout
        # marker — both uninferable as parquet
        fs, hroot = _hadoop_fs(spark, root)
        if fs.exists(hroot) and any(
            s.isDirectory() and s.getPath().getName().startswith(prefix)
            for s in fs.listStatus(hroot)
        ):
            return spark.read.parquet(root)
        return None

    main = _tier(postings_dir, "_list=")
    recent = _tier(recent_dir, "batch_id=")
    if recent is not None:
        return union_partition_tiers(main, recent, "_list").drop("batch_id")
    if main is not None:
        return main.withColumn("_list", F.col("_list").cast("long")).drop(
            "batch_id"
        )
    # First drive over an empty source: no trigger fired. Same contract
    # as the sibling drains — the (neighbor_id, cv, _cn, _list) schema
    # of an empty batch (schema derivation only, nothing executes).
    empty = _postings(spark.createDataFrame([], stream_df.schema))
    return spark.createDataFrame([], empty.schema)
