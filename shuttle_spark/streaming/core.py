"""Structured Streaming operators (SURVEY.md §2.B B24–B25, §7 Phase 3).

The reference's finalize barrier — reducers poll the partition dir until every
worker file is `_final` before reading (/root/reference/src/main/java/com/oppo/
shuttle/rss/clients/ShufflePartitionReader.java:134-153) — is the moral
ancestor of the watermark: both declare "this slice of input is complete, you
may emit".  Our engine exposes the Spark-native version: file-source streams,
event-time watermarks, tumbling/session windows, stream dedup, and four
custom stateful families (keep-latest, EWMA, LOCF, CUSUM), each per-key and
packed, all run by one ``applyInPandasWithState`` runner (``_watermark_fold``)
in append mode.

Correctness protocol (tested in tests/test_streaming.py): every streaming
operator replayed to completion over a static directory must equal its batch
twin — the strongest available oracle for stream semantics.

Scale notes (100 TB / real cluster):

* File-source streams list incrementally; ``maxFilesPerTrigger`` is the
  backpressure knob (the engine twin of the reference's token-bucket flow
  control, FlowController.java:160-202).
* Watermark + append mode bounds state: window state is dropped once the
  watermark passes window end.  Without a watermark, 100 TB of keys would pin
  unbounded state — every stateful op here therefore requires one.
* ``applyInPandasWithState`` state lives in the state store (RocksDB in
  production via ``spark.sql.streaming.stateStore.providerClass``); the
  shuffle before it hash-partitions by key — the same exchange shape the
  reference's workers implement server-side.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import time
import uuid
from collections.abc import Callable, Iterable, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from shuttle_spark.catalog import normalize_events_ts, table_path


def events_raw_schema(sf_dir: str) -> T.StructType:
    """Stream-source schema matching the physical events parquet.

    The driver has shipped events.ts as parquet TIMESTAMP(NANOS) (read as
    epoch-nanos long under nanosAsLong) and as timestamp[us] (read as
    TIMESTAMP_NTZ) in different rounds; probe the footer so the declared
    stream schema always matches the file.  Parquet file streams match
    columns by name, so field order is immaterial.
    """
    import pyarrow.parquet as pq

    ts_type = pq.read_schema(table_path(sf_dir, "events")).field("ts").type
    spark_ts: T.DataType
    if str(ts_type) == "int64" or str(ts_type).startswith("timestamp[ns"):
        # Deliberately BEFORE the tz branch: ns+tz ("timestamp[ns, tz=...]")
        # must also be LongType.  Spark has no nanosecond timestamp type —
        # declaring TimestampType over TIMESTAMP(NANOS) parquet throws
        # SchemaColumnConvertNotSupportedException (verified on 4.1.2,
        # adjusted and unadjusted alike); under nanosAsLong both read as
        # epoch-nano bigint, which normalize_events_ts converts (nanos are
        # UTC-anchored either way, so the conversion is tz-exact).
        spark_ts = T.LongType()
    elif getattr(ts_type, "tz", None):
        # tz-annotated (isAdjustedToUTC) micros/millis: Spark's parquet
        # reader refuses to read these as TIMESTAMP_NTZ; declare TIMESTAMP.
        spark_ts = T.TimestampType()
    else:
        spark_ts = T.TimestampNTZType()
    return T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("ts", spark_ts),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )


_TMP_DIRS: list[str] = []


def _scratch_root(min_free_bytes: int = 1 << 30) -> str | None:
    """Preferred base for streaming scratch (checkpoints, staged landing
    dirs, sink versions): a tmpfs mount when one exists AND has headroom.
    Checkpoint commits fsync every delta/offset file; on tmpfs that's a
    memory write, which removes the per-micro-batch disk floor from
    replay-style tests (measured ~15% off each streaming contract at
    sf0.1).  In production the checkpoint location is a DURABLE path the
    caller passes — this root only serves the harness's ephemeral replay
    checkpoints, which die with the process anyway.

    tmpfs is RAM-backed (typically capped at 50% of memory), so it
    COMPETES with executor memory: writing data-sized scratch there at
    larger SF risks ENOSPC with no recovery.  The gate is a free-space
    check (``os.statvfs``) against ``min_free_bytes`` — callers staging
    data-sized fixtures pass a much larger floor than checkpoint writers
    (ADVICE r6).  SPARK_GRAFT_SCRATCH overrides unconditionally; None
    falls back to the system tempdir."""
    override = os.environ.get("SPARK_GRAFT_SCRATCH")
    if override:
        os.makedirs(override, exist_ok=True)
        return override
    shm = "/dev/shm"
    if os.path.isdir(shm) and os.access(shm, os.W_OK):
        try:
            st = os.statvfs(shm)
            if st.f_bavail * st.f_frsize < min_free_bytes:
                return None
        except OSError:
            return None
        d = os.path.join(shm, "shuttle_spark_scratch")
        try:
            os.makedirs(d, exist_ok=True)
            return d
        except OSError:
            return None
    return None


def scratch_tempdir() -> str:
    """The scratch base for fixture/sink dirs that manage their own
    age-gated GC (contracts._fixture_dir/_scratch_dir).  These hold FULL
    parquet fixture copies and sink versions — data-sized, unlike the
    kilobyte-scale checkpoint deltas — so tmpfs is used only with a
    generous floor (8 GiB free); otherwise the disk tempdir, which
    degrades to slower-but-correct instead of ENOSPC."""
    return _scratch_root(min_free_bytes=8 << 30) or tempfile.gettempdir()


def tracked_mkdtemp(prefix: str) -> str:
    """mkdtemp whose directory is removed at interpreter exit — staging
    dirs, checkpoints, and sink scratch would otherwise leak disk across
    repeated harness/bench runs (ADVICE r3).  Lands on tmpfs when
    available (see _scratch_root)."""
    d = tempfile.mkdtemp(prefix=prefix, dir=_scratch_root())
    _TMP_DIRS.append(d)
    return d


def track_tmp_dir(path: str) -> str:
    """Register an externally-created scratch path for exit-time removal."""
    _TMP_DIRS.append(path)
    return path


@atexit.register
def _cleanup_tmp_dirs() -> None:
    for d in _TMP_DIRS:
        shutil.rmtree(d, ignore_errors=True)


_staged: dict[str, str] = {}


def _staged_events_dir(sf_dir: str) -> str:
    """Temp directory containing (a symlink to) the events parquet file."""
    cached = _staged.get(sf_dir)
    if cached is not None:
        return cached
    d = tracked_mkdtemp("events_stream_")
    os.symlink(table_path(sf_dir, "events"), os.path.join(d, "events-000.parquet"))
    _staged[sf_dir] = d
    return d


def events_stream(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """The events table as a file-source stream (replay of a static dir).

    In production the same code reads a landing directory that receivers
    append to; ``max_files_per_trigger`` rate-limits each micro-batch.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # FileStreamSource ingests *directories* (a landing zone receivers append
    # to).  The testdata table is a single file, so stage it into a temp dir
    # by symlink — zero-copy, and the same code path production would use.
    stream_dir = _staged_events_dir(sf_dir)
    reader = spark.readStream.schema(events_raw_schema(sf_dir))
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    # The NTZ->TIMESTAMP cast inside normalize_events_ts resolves the
    # session timezone at ANALYSIS time, i.e. right here — pin UTC for the
    # build exactly like the batch twin (catalog.load_table), else a
    # driver-created session in another zone shifts stream timestamps
    # against batch and breaks the module's stream == batch protocol.
    prev_tz = spark.conf.get("spark.sql.session.timeZone", None)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        df = normalize_events_ts(reader.parquet(stream_dir))
    finally:
        if prev_tz is None:
            spark.conf.unset("spark.sql.session.timeZone")
        else:
            spark.conf.set("spark.sql.session.timeZone", prev_tz)
    return df


def windowed_agg_stream(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
    ts_col: str = "ts",
    keys: Sequence[str] = ("event_type",),
) -> DataFrame:
    """Tumbling-window count+sum with an event-time watermark (B24).

    Append-mode-safe: windows finalize (and state is freed) when the
    watermark passes window end.
    """
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("w"), *keys)
        .agg(F.count("*").alias("cnt"), F.sum("value").alias("sum_value"))
        .select(F.col("w.start").alias("w"), *keys, "cnt", "sum_value")
    )


def session_agg_stream(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
    ts_col: str = "ts",
    keys: Sequence[str] = ("user_id",),
) -> DataFrame:
    """Gap-based session windows per key (B25) — Spark's native
    ``session_window`` merges adjacent state; watermark closes sessions."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(ts_col, gap).alias("sw"), *keys)
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            *keys,
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


def stream_dedup(
    events: DataFrame,
    keys: Sequence[str],
    watermark: str = "2 hours",
    ts_col: str = "ts",
) -> DataFrame:
    """Exactly-once by key on a stream — the streaming twin of the
    reference's duplicate-block seen-set (ShufflePartitionReader.java:378-393),
    with the watermark bounding the seen-set the way the reference's stage
    TTL bounds its state (ShuffleDataExecutor.java:279-313)."""
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        list(keys)
    )


# ---------------------------------------------------------------------------
# Stateful stream families (keep-latest, EWMA, LOCF, CUSUM): one
# applyInPandasWithState runner, per-key or packed, and one vectorized step
# per family.
# ---------------------------------------------------------------------------

_DTYPES = {"long": "int64", "string": object}
_ROW = ("p_k", "p_ts", "p_eid", "p_c")  # pending row: key, ts_us, tiebreak, cents
_NULL_CENTS = -(2**62)  # a NULL value inside the long-array state


def _row_state(key_type: str) -> dict[str, str]:
    return {"p_k": key_type, "p_ts": "long", "p_eid": "long", "p_c": "long"}


def _watermark_fold(
    events: DataFrame,
    group: str | Column,
    ts_col: str,
    watermark: str,
    out_ddl: str,
    state: dict[str, str],
    step: Callable,
) -> DataFrame:
    """Run one stateful stream family to append-mode output.

    ``group`` is the key column (one state entry per key) or a ``pmod``
    bucket Column of it (PACKED state: many keys share an entry, so the
    measured ~1.3 ms applyInPandasWithState per-GROUP-invocation
    constant is paid per bucket per batch instead of per key — at a
    10M-key stream that constant is the per-key form's whole budget).
    Both forms run the same step, so they emit the same rows; the
    packed-vs-per-key parity tests pin it.

    ``state`` maps each state field to its element type (``long`` or
    ``string``).  Every field is a flat array, carried per-key values
    and pending rows alike; ``p_ts`` holds the pending rows' event
    times in epoch micros.  ``step(pending, incoming, wm_ms) -> (emit,
    pending)`` gets the loaded arrays, the group's rows of this
    micro-batch as one pandas frame (None on a timeout call) and the
    current watermark; it returns the rows to emit (a frame or None)
    and the arrays to carry.

    The runner owns the rest: it loads the state and saves it through
    ``ndarray.tolist()``, re-arms the event-time timeout at the earliest
    pending row (so a bucket fires in the micro-batch a per-key entry
    would), and removes the state once every array is empty.  The
    watermark bounds pending state the way the reference's stage TTL
    bounds its seen-sets (ShuffleDataExecutor.java:279-313)."""
    dtypes = {name: _DTYPES[t] for name, t in state.items()}

    def fold(_key, pdf_iter: Iterable[pd.DataFrame], gs: GroupState):
        wm_ms = gs.getCurrentWatermarkMs()
        saved = gs.get if gs.exists else [[]] * len(dtypes)
        pending = {
            n: np.asarray(v, dtype=dt) for (n, dt), v in zip(dtypes.items(), saved)
        }
        batch = [] if gs.hasTimedOut else [p for p in pdf_iter if len(p)]
        incoming = (
            None if not batch
            else batch[0] if len(batch) == 1
            else pd.concat(batch, ignore_index=True)
        )
        emit, pending = step(pending, incoming, wm_ms)
        if any(len(a) for a in pending.values()):
            gs.update(tuple(pending[n].tolist() for n in dtypes))
            if len(pending["p_ts"]):
                gs.setTimeoutTimestamp(
                    max(int(pending["p_ts"].min()) // 1000 + 1, wm_ms + 1)
                )
        elif gs.exists:
            gs.remove()
        if emit is not None:
            yield emit

    if not isinstance(group, str):
        events = events.withColumn("__bucket", group)
        group = "__bucket"
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(group)
        .applyInPandasWithState(
            fold,
            out_ddl,
            ", ".join(f"{n} array<{t}>" for n, t in state.items()),
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


def _bucket(key_col: str, n_state_buckets: int) -> Column:
    return F.pmod(F.col(key_col), F.lit(n_state_buckets))


def _event_us(ts: pd.Series) -> np.ndarray:
    return ts.values.astype("datetime64[us]").astype("int64")


def _append(pending: dict, rows: dict) -> dict:
    return {
        n: np.concatenate([a, rows[n]]) if n in rows else a
        for n, a in pending.items()
    }


def _frame(cols: dict, mask: np.ndarray) -> pd.DataFrame | None:
    """The masked rows of ``cols`` as a frame, None when there are none."""
    if not mask.any():
        return None
    return pd.DataFrame({n: a[mask] for n, a in cols.items()})


def _runs(keys: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Per row: start and end index of its run of equal adjacent keys."""
    head = np.ones(len(keys), dtype=bool)
    head[1:] = keys[1:] != keys[:-1]
    starts = np.flatnonzero(head)
    run = np.cumsum(head) - 1
    return starts[run], np.append(starts[1:], len(keys))[run]


def _cents_rows(
    pdf: pd.DataFrame,
    key_col: str,
    key_type: str,
    ts_col: str,
    tb_col: str,
    value_col: str,
    wm_ms: int,
    scale: int = 2,
    keep_null: bool = False,
) -> dict:
    """One micro-batch as pending rows.  Rows strictly before the
    watermark drop, the rule Spark's built-in stateful operators apply:
    their predecessors are already final, so scoring them would replay
    history out of order.  Rows AT the watermark stay, because
    ``_finalize`` takes ts <= watermark (ADVICE r6).  Values become
    integer cents, ``floor(value * 10**scale + 0.5)`` on the same float64
    inputs as the batch twins; NULLs become ``_NULL_CENTS`` when
    ``keep_null``, else drop."""
    us = _event_us(pdf[ts_col])
    keys = pdf[key_col]
    keys = (
        keys.to_numpy("int64") if key_type == "long"
        else keys.astype(str).to_numpy(object)
    )
    vals = pdf[value_col].values.astype("float64")
    nan = np.isnan(vals)
    live = us >= wm_ms * 1000
    if not keep_null:
        live &= ~nan
    cents = np.floor(np.where(nan, 0.0, vals) * 10**scale + 0.5).astype("int64")
    cents[nan] = _NULL_CENTS
    return {
        "p_k": keys[live],
        "p_ts": us[live],
        "p_eid": pdf[tb_col].to_numpy("int64")[live],
        "p_c": cents[live],
    }


def _finalize(pending: dict, wm_ms: int) -> tuple[dict, dict]:
    """Split pending rows at the watermark.  Rows with ts <= watermark
    are final: every predecessor has a smaller or equal event time, so it
    is final with or before them.  They come out in (key, ts, tiebreak)
    order, which keeps each key's rows contiguous and in event-time
    order; the rest stay pending."""
    fin = pending["p_ts"] <= wm_ms * 1000
    rows = {n: pending[n][fin] for n in _ROW}
    order = np.lexsort((rows["p_eid"], rows["p_ts"], rows["p_k"]))
    rest = {n: a[~fin] if n in _ROW else a for n, a in pending.items()}
    return {n: a[order] for n, a in rows.items()}, rest


def _after_history(hist: dict, fin: dict) -> tuple[dict, np.ndarray, np.ndarray]:
    """Each key's carried ``hist`` rows (oldest first) followed by its
    finalized rows, key-contiguous; ``new`` marks the finalized rows and
    a column one side lacks is zero on that side.  Returns the rows and
    each row's run start and end."""
    n_h, n_f = len(hist["p_k"]), len(fin["p_k"])
    rows = {
        n: np.concatenate(
            [hist.get(n, np.zeros(n_h, "int64")), fin.get(n, np.zeros(n_f, "int64"))]
        )
        for n in {**hist, **fin}
    }
    rows["new"] = np.arange(n_h + n_f) >= n_h
    order = np.argsort(rows["p_k"], kind="stable")
    rows = {n: a[order] for n, a in rows.items()}
    return (rows, *_runs(rows["p_k"]))


def _keep_latest(
    events: DataFrame, group: str | Column, key_col: str, ts_col: str, watermark: str
) -> DataFrame:
    def step(pending, incoming, wm_ms):
        if incoming is not None:
            pending = _append(
                pending,
                {
                    "p_k": incoming[key_col].to_numpy("int64"),
                    "p_ts": _event_us(incoming[ts_col]),
                    "p_eid": incoming["event_id"].to_numpy("int64"),
                    "p_type": incoming["event_type"].to_numpy(object),
                },
            )
        # each key's winner is its last row in (key, ts, event_id) order
        order = np.lexsort((pending["p_eid"], pending["p_ts"], pending["p_k"]))
        _, end = _runs(pending["p_k"][order])
        win = order[np.arange(len(order)) == end - 1]
        pending = {n: a[win] for n, a in pending.items()}
        emit = pending["p_ts"] // 1000 < wm_ms
        out = {
            key_col: pending["p_k"],
            "ts_us": pending["p_ts"],
            "event_id": pending["p_eid"],
            "event_type": pending["p_type"],
        }
        return _frame(out, emit), {n: a[~emit] for n, a in pending.items()}

    return _watermark_fold(
        events,
        group,
        ts_col,
        watermark,
        f"`{key_col}` long, ts_us long, event_id long, event_type string",
        {"p_k": "long", "p_ts": "long", "p_eid": "long", "p_type": "string"},
        step,
    )


def stream_keep_latest(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Custom stateful operator: latest row per key, emitted once the
    watermark closes the key's quiet period (B8's streaming twin — the
    stale-attempt filter of PartitionPipeReader.java:150-170 as a live op).

    State per key = its current winner under the total (ts, event_id)
    order, deterministic like the reference's attemptId tiebreak.  Every
    row is ingested, late ones included; the winner is emitted, and its
    state freed, once ``ts_us // 1000 < watermark_ms``.  The payload is
    the events-table shape (event_id tiebreak + event_type), FIXED: for
    arbitrary payload columns use the batch twin ``dedup.keep_latest`` or
    the foreachBatch sink ``run_upsert_sink``, which honor them.  Output
    schema: key, ts_us (epoch micros), event_id, event_type.
    """
    return _keep_latest(events, key_col, key_col, ts_col, "2 hours")


def stream_keep_latest_packed(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    watermark: str = "2 hours",
    n_state_buckets: int = 32,
) -> DataFrame:
    """``stream_keep_latest`` with PACKED state (VERDICT r10 item 6):
    keys share ``pmod(key, n_state_buckets)`` state groups and each
    bucket's per-key argmax runs vectorized (see ``_watermark_fold``).
    Emits the same rows as the per-key operator."""
    return _keep_latest(
        events, _bucket(key_col, n_state_buckets), key_col, ts_col, watermark
    )


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    ts_col: str = "ts",
    within: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked stream-stream inner join: right events that follow a left
    event on the same key within ``within``.

    Both sides carry a watermark and the join condition bounds BOTH event
    times, so Spark can evict buffered rows once the watermark passes —
    without the time bound, each side's join state grows without limit (the
    streaming analog of the reference's stage-TTL cleanup,
    ShuffleDataExecutor.java:279-313).  Inner-join matches are emitted as
    they arrive; the watermark governs state size only, so a full replay
    equals the batch join exactly.

    Output: key, l_id/l_ts from the left event, r_id/r_ts from the right.
    """
    lw = left.withWatermark(ts_col, watermark).select(
        F.col(key).alias("l_key"),
        F.col("event_id").alias("l_id"),
        F.col(ts_col).alias("l_ts"),
    )
    rw = right.withWatermark(ts_col, watermark).select(
        F.col(key).alias("r_key"),
        F.col("event_id").alias("r_id"),
        F.col(ts_col).alias("r_ts"),
    )
    return lw.join(
        rw,
        (F.col("l_key") == F.col("r_key"))
        & (F.col("r_ts") >= F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr(f"INTERVAL {within}")),
        "inner",
    ).select(F.col("l_key").alias(key), "l_id", "l_ts", "r_id", "r_ts")


_staged_multi: dict[tuple[str, str, str, int], str] = {}


def _staged_table_files(
    spark: SparkSession, sf_dir: str, table: str, range_col: str, n_files: int
) -> str:
    """A testdata table staged as ``n_files`` range-ordered parquet files
    in a temp dir — a realistic landing zone whose replay under
    ``maxFilesPerTrigger=1`` yields ``n_files`` real micro-batches (the
    single-file symlink staging gives exactly one)."""
    # every parameter that changes the layout is in the key — staging the
    # same table by a different range_col must not hit the other's cache
    key = (sf_dir, table, range_col, n_files)
    cached = _staged_multi.get(key)
    if cached is not None:
        return cached
    from shuttle_spark.catalog import load_table

    d = tracked_mkdtemp(f"{table}_multi_")
    load_table(spark, sf_dir, table).repartitionByRange(
        n_files, range_col
    ).write.mode("overwrite").parquet(d)
    # FileStreamSource picks files oldest-modtime-first, but the range
    # buckets are WRITTEN by parallel tasks whose completion order is
    # arbitrary — a later range file finishing first would replay first,
    # advance the watermark past the earlier buckets, and turn their rows
    # into droppable late data (observed: stream_ewma parity flaked run to
    # run).  Pin modtimes to part-file NAME order (== sorted range order)
    # so every replay delivers buckets in range order, the in-order
    # landing-zone contract a production receiver provides by arrival.
    parts = sorted(
        f for f in os.listdir(d) if f.endswith(".parquet")
    )
    base = time.time() - len(parts)
    for i, f in enumerate(parts):
        os.utime(os.path.join(d, f), (base + i, base + i))
    _staged_multi[key] = d
    return d


def staged_events_files(spark: SparkSession, sf_dir: str, n_files: int) -> str:
    return _staged_table_files(spark, sf_dir, "events", "ts", n_files)


def events_stream_multi(
    spark: SparkSession,
    sf_dir: str,
    n_files: int = 4,
    files_per_trigger: int = 1,
) -> DataFrame:
    """events as a multi-batch stream: n_files staged files,
    ``files_per_trigger`` per micro-batch.  Replay-style contracts pass 2
    (4 files -> 2 real micro-batches): per-batch fixed cost — trigger
    scheduling, state-store commit, sink version write — is the dominant
    replay cost at test SF, and 2 batches still exercise every cross-batch
    code path (state carry-over, predecessor-version merge).  Production
    sizes this by arrival rate, not by this harness."""
    from shuttle_spark.sources.io import read_stream

    d = staged_events_files(spark, sf_dir, n_files)
    return read_stream(
        spark,
        d,
        "event_id long, user_id long, event_type string,"
        " ts timestamp, value double, props string",
        max_files_per_trigger=files_per_trigger,
    )


def _scoped_conf(spark: SparkSession, overrides: dict[str, str]):
    """Set session confs, returning a restore closure that puts back the
    explicit prior value or UNSETS keys that had none (a bare
    ``conf.get(k, None)``-then-``set`` restore would leak the override
    into the shared session forever)."""
    saved: dict[str, str | None] = {}
    for k, v in overrides.items():
        saved[k] = spark.conf.get(k, None)
        spark.conf.set(k, v)

    def restore() -> None:
        for k, old in saved.items():
            if old is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, old)

    return restore


def _run_to_completion(
    writer,
    spark: SparkSession,
    query_name: str,
    shuffle_partitions: int | None,
) -> None:
    """Run a configured DataStreamWriter to completion (AvailableNow)
    with a scoped shuffle-partition override.  The checkpoint only
    serves this one run, so it is deleted once the query terminates:
    the result lives in the sink, and a long-lived session must not
    accumulate one checkpoint per replay."""
    ckpt = tempfile.mkdtemp(prefix=f"ckpt_{query_name}_", dir=_scratch_root())
    overrides = {}
    if shuffle_partitions is not None:
        overrides["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    restore = _scoped_conf(spark, overrides)
    try:
        (
            writer.queryName(query_name)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
    finally:
        restore()
        shutil.rmtree(ckpt, ignore_errors=True)


def run_upsert_sink(
    events: DataFrame,
    path: str,
    key_col: str = "user_id",
    ts_col: str = "ts",
    payload_cols: Sequence[str] = ("event_id", "event_type"),
    query_name: str | None = None,
    shuffle_partitions: int | None = None,
) -> DataFrame:
    """Durable keep-latest state via ``foreachBatch``: every micro-batch
    merges the previous state version with the batch and commits a NEW
    versioned directory ``v{batch_id}`` (read newest v{k<batch_id} ->
    union batch -> keep latest per key -> write v{batch_id} -> GC older
    versions).  Prior versions are never deleted before the new one is
    fully written, so there is no crash window that loses state: a batch
    replayed after a crash re-reads the same predecessor version and
    rewrites the same v{batch_id} — exactly-once under checkpoint
    recovery, the durable twin of the reference's latest-attempt-wins
    block replacement (PartitionPipeReader.java:150-170) and its
    rename-commit finalize (ShuffleDataExecutor.java:119-138).

    Cost per batch is bounded by STATE size (distinct keys), not stream
    length.  On a transactional table format (Delta/Iceberg) the same
    operator is a MERGE INTO; this is the format-free portable form.

    Returns the final state as a batch DataFrame.
    """
    from pyspark.sql import Window

    spark = events.sparkSession
    sel_cols = [key_col, ts_col, *payload_cols]
    order = [F.col(ts_col).desc()] + [F.col(c).desc() for c in payload_cols]

    def _fs():
        jvm = spark._jvm
        p = jvm.org.apache.hadoop.fs.Path(path)
        return p, p.getFileSystem(spark._jsc.hadoopConfiguration())

    def _versions(fs, root) -> list[int]:
        if not fs.exists(root):
            return []
        out = []
        for st in fs.listStatus(root):
            name = st.getPath().getName()
            if name.startswith("v") and name[1:].isdigit():
                out.append(int(name[1:]))
        return sorted(out)

    last_batch: dict[str, int] = {}

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        last_batch["v"] = batch_id
        root, fs = _fs()
        incoming = batch_df.select(*sel_cols)
        # newest COMMITTED predecessor (strictly older than this batch —
        # a replayed batch must not read its own partial output, and a
        # crash-truncated or stale uncommitted version dir must never be
        # merged into new state: same _SUCCESS gate as the read-back path)
        jvm = spark._jvm
        preds = [
            v
            for v in _versions(fs, root)
            if v < batch_id
            and fs.exists(
                jvm.org.apache.hadoop.fs.Path(f"{path}/v{v}/_SUCCESS")
            )
        ]
        if preds:
            incoming = spark.read.parquet(f"{path}/v{preds[-1]}").unionByName(
                incoming
            )
        w = Window.partitionBy(key_col).orderBy(*order)
        merged = (
            incoming.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .drop("rn")
        )
        merged.write.mode("overwrite").parquet(f"{path}/v{batch_id}")
        # GC AFTER the new version is complete, and always RETAIN the
        # newest predecessor: if the process dies after this GC but before
        # the streaming checkpoint commits batch_id, the replayed batch
        # still finds v{batch_id-1} to merge from.  Two generations on
        # disk, zero crash windows; a crash mid-GC leaves extras, which is
        # harmless (readers take the max).
        jvm = spark._jvm
        for v in preds[:-1]:
            fs.delete(jvm.org.apache.hadoop.fs.Path(f"{path}/v{v}"), True)

    name = query_name or f"upsert_{uuid.uuid4().hex[:8]}"
    _run_to_completion(
        events.writeStream.foreachBatch(merge), spark, name, shuffle_partitions
    )
    # Read THIS run's final version (not the directory max: a previous
    # differently-batched run may have left a stale higher version that
    # this run's GC retained as its own batch ids never reached it).
    if "v" in last_batch:
        return spark.read.parquet(f"{path}/v{last_batch['v']}")
    # merge() never ran (zero-batch stream / fully-caught-up checkpoint):
    # fall back to the newest COMMITTED version — _SUCCESS is written last
    # by the parquet committer, so a partially-written dir left by a crash
    # mid-write is never picked.  A fresh path with no versions at all is
    # legitimately empty state, not an error.
    root, fs = _fs()
    jvm = spark._jvm
    versions = _versions(fs, root)
    committed = [
        v
        for v in versions
        if fs.exists(jvm.org.apache.hadoop.fs.Path(f"{path}/v{v}/_SUCCESS"))
    ]
    if not committed:
        # versions may exist with no _SUCCESS anywhere: a crash before the
        # FIRST commit left only partial output.  That is empty state, not
        # data — falling back to an uncommitted dir would read truncated
        # rows (or die on a corrupt footer), exactly what the guard above
        # promises never happens.
        return spark.createDataFrame([], events.select(*sel_cols).schema)
    return spark.read.parquet(f"{path}/v{committed[-1]}")


def staged_documents_files(spark: SparkSession, sf_dir: str, n_files: int) -> str:
    """The documents table staged as ``n_files`` parquet files — the
    landing zone of a daily-ingest corpus pipeline."""
    return _staged_table_files(spark, sf_dir, "documents", "doc_id", n_files)


def run_stream_decontaminate(
    docs_stream: DataFrame,
    benchmark: DataFrame,
    out_path: str,
    n: int = 5,
    query_name: str | None = None,
    shuffle_partitions: int | None = None,
) -> DataFrame:
    """Streaming corpus decontamination — the daily-ingest shape: documents
    arrive in micro-batches, each batch is n-gram-decontaminated against
    the FIXED benchmark set (operators/pipeline.decontaminate — the
    benchmark gram broadcast is per-plan, amortized by Spark's broadcast
    reuse), and the clean survivors are appended durably.  Per-doc
    decontamination against a static benchmark is batch-local, so the
    incremental result equals the all-at-once batch result exactly.

    Exactly-once append: each batch writes its own ``b{batch_id}``
    directory with overwrite, so a replayed batch overwrites rather than
    duplicates (same versioned-commit idea as run_upsert_sink and the
    reference's rename finalize, ShuffleDataExecutor.java:119-138).
    ``out_path``'s lifetime must match the checkpoint's: reusing a
    populated out_path with a FRESH checkpoint re-processes the same
    documents into new batch ids alongside the old dirs — duplicates by
    construction, whatever the sink does.

    Returns the clean corpus as a batch DataFrame: every COMMITTED batch
    dir (``_SUCCESS`` present — a crashed mid-write batch is invisible,
    and a zero-batch run over a caught-up checkpoint returns the empty
    corpus instead of dying on an unmatchable glob).
    """
    import glob as _glob
    import os as _os

    from shuttle_spark.operators import pipeline as P

    spark = docs_stream.sparkSession

    def clean_batch(batch_df: DataFrame, batch_id: int) -> None:
        clean = P.decontaminate(batch_df, benchmark, n=n)
        clean.write.mode("overwrite").parquet(f"{out_path}/b{batch_id}")

    name = query_name or f"decon_{uuid.uuid4().hex[:8]}"
    _run_to_completion(
        docs_stream.writeStream.foreachBatch(clean_batch),
        spark,
        name,
        shuffle_partitions,
    )
    dirs = sorted(
        d
        for d in _glob.glob(f"{out_path}/b*")
        if _os.path.exists(_os.path.join(d, "_SUCCESS"))
    )
    if not dirs:
        return spark.createDataFrame(
            [],
            P.decontaminate(
                spark.createDataFrame([], docs_stream.schema), benchmark, n=n
            ).schema,
        )
    return spark.read.parquet(*dirs)


def replay_partitions(spark: SparkSession, lo: int = 4, hi: int = 16) -> int:
    """Bench-scale partition count for PER-KEY Python-state replays
    (applyInPandasWithState over a wide key space): the ~1 ms per-GROUP
    runner constant parallelizes across partitions while each partition
    adds a fixed state-store commit, so the sweet spot tracks the local
    core count.  Measured at sf0.1 (round 13, interleaved medians):
    stream_locf at local[32] reads 5.85/4.07/3.48/4.01 s for 4/8/16/32
    partitions and at local[8] reads 6.49/5.29/6.87/9.82 —
    ``min(cores, 16)`` picks the winner at both; keep_latest and ewma
    show the same shape (4.72→3.8, 5.17→4.52 at local[32]).  JVM-state
    operators (packed buckets, stream-stream join, session windows) are
    commit-dominated and measured WORSE above 4 partitions (ssjoin
    3.19→8.68) — they keep the fixed small count.  Production sizes
    stateful partitions by state volume, not by this bench dial (see
    run_available_now).  Results are partition-count-invariant (per-key
    state is key-local); only scheduling changes."""
    master = spark.sparkContext.master or ""
    if master.startswith("local[") and master.endswith("]"):
        # local[N], local[*] and local[N,F] / local[*,F] (F = max task
        # failures): only the core count matters
        inner = master[6:-1].split(",", 1)[0]
        cores = (os.cpu_count() or lo) if inner == "*" else int(inner)
    else:
        cores = spark.sparkContext.defaultParallelism
    return max(lo, min(hi, cores))


def run_available_now(
    stream_df: DataFrame,
    query_name: str | None = None,
    shuffle_partitions: int | None = None,
) -> DataFrame:
    """Replay a stream to completion (Trigger.AvailableNow) into an
    append-mode memory sink and return the result as a batch DataFrame —
    the harness that lets tests assert stream == batch.  Every operator
    replayed here emits final rows only (watermarked aggregates and the
    stateful families), so append is the one output mode.  The query's
    checkpoint is deleted once it terminates.

    ``shuffle_partitions`` sizes the stateful-operator partition count for
    THIS query only (pinned into its checkpoint at first start; the session
    value is restored afterwards).  State-store commit cost scales with
    partition count, so small replays want few partitions (4 at bench SF
    measured 2-3x faster than 32) while a 100 TB stream wants hundreds —
    it is the streaming twin of the reference's workers-per-app sizing
    (Ors2ShuffleManager.scala:372-398).
    """
    name = query_name or f"q_{uuid.uuid4().hex[:8]}"
    spark = stream_df.sparkSession
    writer = stream_df.writeStream.format("memory").outputMode("append")
    _run_to_completion(writer, spark, name, shuffle_partitions)
    return spark.table(name)


def _ewma(
    events: DataFrame,
    group: str | Column,
    key_col: str,
    ts_col: str,
    value_col: str,
    threshold_cents: int,
    window: int,
    min_lags: int,
    watermark: str,
) -> DataFrame:
    weights = 1 << np.arange(window - 1, -1, -1, dtype="int64")
    cum_denom = np.append(0, np.cumsum(weights))
    thr = int(threshold_cents)

    def step(pending, incoming, wm_ms):
        if incoming is not None:
            pending = _append(
                pending,
                _cents_rows(
                    incoming, key_col, "long", ts_col, "event_id", value_col, wm_ms
                ),
            )
        fin, pending = _finalize(pending, wm_ms)
        hist = {"p_k": pending["h_k"], "p_c": pending["h_c"]}
        rows, start, end = _after_history(hist, fin)
        x = rows["p_c"]
        i = np.arange(len(x))
        # lag-j term of the FIR, for every row with at least j predecessors
        n_lags = np.minimum(i - start, window)
        wsum = np.zeros(len(x), dtype="int64")
        for j in range(1, window + 1):
            lagged = np.flatnonzero(n_lags >= j)
            wsum[lagged] += x[lagged - j] * weights[j - 1]
        denom = cum_denom[n_lags]
        hit = (
            rows["new"]
            & (n_lags >= min_lags)
            & (np.abs(x * denom - wsum) > thr * denom)
        )
        keep = end - i <= window
        pending.update(h_k=rows["p_k"][keep], h_c=x[keep])
        out = {
            key_col: rows["p_k"],
            "event_id": rows["p_eid"],
            "ts_us": rows["p_ts"],
            "cents": x,
            "wsum": wsum,
            "denom": denom,
        }
        return _frame(out, hit), pending

    return _watermark_fold(
        events,
        group,
        ts_col,
        watermark,
        f"`{key_col}` long, event_id long, ts_us long, cents long, wsum long,"
        " denom long",
        {"h_k": "long", "h_c": "long", **_row_state("long")},
        step,
    )


def stream_ewma_deviants(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    threshold_cents: int = 10000,
    window: int = 8,
    min_lags: int = 4,
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming twin of ``relational.ewma_deviants``: per-key EWMA anomaly
    detection as a live stateful operator (``applyInPandasWithState``).

    Micro-batches deliver rows in arrival order, but the EWMA recurrence is
    defined over EVENT-time order — so rows buffer in state and score only
    once the watermark passes them (the finalize-at-watermark pattern of
    this module's window/session operators, applied to a custom
    recurrence).  A finalized row's predecessors have smaller-or-equal
    event time, hence are finalized with or before it, so the scored
    history is exactly the batch operator's lag window: stream == batch on
    the watermark-finalized subset, bit-for-bit (the arithmetic is the
    same all-integer FIR — cents, dyadic weights, integer
    cross-multiplied threshold).  NULL values carry no evidence and drop.

    State per key = (last ``window`` finalized cents, pending rows); at
    scale it is O(window + in-flight disorder) per key and spills to
    RocksDB.
    """
    return _ewma(
        events, key_col, key_col, ts_col, value_col, threshold_cents, window,
        min_lags, watermark,
    )


def stream_ewma_packed(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    threshold_cents: int = 10000,
    window: int = 8,
    min_lags: int = 4,
    watermark: str = "2 hours",
    n_state_buckets: int = 32,
) -> DataFrame:
    """``stream_ewma_deviants`` with PACKED state: keys share
    ``pmod(key, n_state_buckets)`` state groups (see ``_watermark_fold``).
    Emits the same rows as the per-key operator."""
    return _ewma(
        events, _bucket(key_col, n_state_buckets), key_col, ts_col, value_col,
        threshold_cents, window, min_lags, watermark,
    )


def stream_mv_maintenance(
    base_totals: DataFrame,
    changes: DataFrame,
    group_col: str,
    value_col: str,
    key_cols: Sequence[str],
    n_batches: int = 4,
    scale: int = 2,
) -> DataFrame:
    """Per-group (count, scaled-long sum) totals maintained through a
    STREAM of arriving changesets — the live twin of
    ``lineage.incremental_group_totals``: changeset files land in a
    directory, a file-source stream delivers them one per micro-batch,
    and ``foreachBatch`` folds each batch into the running totals
    (retract-then-add, exact integer domain), exactly how a production
    MV sits downstream of a CDC feed.

    The arriving changeset is split into ``n_batches`` files by a
    deterministic key hash, so each key's single op lands in exactly one
    batch — the standard CDC-compaction invariant (at most one op per
    key per changeset) that makes maintenance COMMUTE over any batch
    partitioning: the final totals are independent of micro-batch
    boundaries and arrival interleaving, which is what lets the
    stream_mv_maintenance contract share the batch oracle verbatim.
    Totals are eagerly ``localCheckpoint``-ed after every fold: O(1)
    plan lineage over unbounded maintenance cycles (the same discipline
    as the k-core peel), and the scaled-long domain means no float
    drift accumulates, ever."""
    from shuttle_spark.operators.lineage import incremental_group_totals

    spark = changes.sparkSession
    land = tracked_mkdtemp("mvstream_land_")
    res = F.pmod(
        F.xxhash64(*[F.col(k) for k in key_cols]), F.lit(n_batches)
    )
    ch = changes.withColumn("__b", res)
    schema = ch.drop("__b").schema
    # ONE partitioned staging write instead of n_batches sequential
    # coalesce(1) jobs (guide §1.2): repartition on __b puts each bucket
    # in exactly one task, so every __b=i dir holds exactly one part
    # file (partitionBy strips __b from the file contents, identical to
    # the old per-bucket drop("__b") writes).
    stage = tracked_mkdtemp("mvstream_stage_")
    (
        ch.repartition(n_batches, "__b")
        .write.partitionBy("__b")
        .mode("overwrite")
        .parquet(stage)
    )
    for i in range(n_batches):
        part_dir = os.path.join(stage, f"__b={i}")
        data = (
            [f for f in os.listdir(part_dir) if f.endswith(".parquet")]
            if os.path.isdir(part_dir)
            else []
        )
        if len(data) == 1:
            shutil.move(
                os.path.join(part_dir, data[0]),
                os.path.join(land, f"changeset-{i:04d}.parquet"),
            )
        elif not data:
            # empty bucket (no key hashed to it): stage an empty
            # changeset file so the micro-batch count is unchanged
            empty_dir = tracked_mkdtemp(f"mvstream_empty{i}_")
            spark.createDataFrame([], schema).coalesce(1).write.mode(
                "overwrite"
            ).parquet(empty_dir)
            f0 = [
                f for f in os.listdir(empty_dir) if f.endswith(".parquet")
            ][0]
            shutil.move(
                os.path.join(empty_dir, f0),
                os.path.join(land, f"changeset-{i:04d}.parquet"),
            )
        else:  # pragma: no cover - repartition("__b") pins one task/bucket
            raise RuntimeError(
                f"staging bucket {i} produced {len(data)} files; expected 1"
            )
    # lazy: the first fold's merge materializes the base totals inside
    # its own batch job (r12)
    state = {"totals": base_totals.localCheckpoint(eager=False)}

    def _fold(batch_df: DataFrame, _batch_id: int) -> None:
        state["totals"] = incremental_group_totals(
            state["totals"], batch_df, group_col, value_col, scale
        ).localCheckpoint(eager=True)

    ckpt = tracked_mkdtemp("mvstream_ckpt_")
    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(land)
        .writeStream.foreachBatch(_fold)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return state["totals"]


def _locf(
    events: DataFrame,
    group: str | Column,
    key_col: str,
    ts_col: str,
    value_col: str,
    watermark: str,
) -> DataFrame:
    def step(pending, incoming, wm_ms):
        if incoming is not None:
            pending = _append(
                pending,
                _cents_rows(
                    incoming, key_col, "long", ts_col, "event_id", value_col,
                    wm_ms, keep_null=True,
                ),
            )
        fin, pending = _finalize(pending, wm_ms)
        hist = {"p_k": pending["h_k"], "p_c": pending["h_c"]}
        rows, start, end = _after_history(hist, fin)
        x = rows["p_c"]
        i = np.arange(len(x))
        seen = x != _NULL_CENTS
        last = np.maximum.accumulate(np.where(seen, i, -1))
        carried = last >= start  # an observation at or before the row, same key
        # the history keeps each key's last observation
        keep = seen & (i == last[end - 1])
        pending.update(h_k=rows["p_k"][keep], h_c=x[keep])
        out = {
            key_col: rows["p_k"],
            "event_id": rows["p_eid"],
            "ts_us": rows["p_ts"],
            "cents": pd.arrays.IntegerArray(x[last], ~carried),
            "was_filled": carried & ~seen,
        }
        return _frame(out, rows["new"]), pending

    return _watermark_fold(
        events,
        group,
        ts_col,
        watermark,
        f"`{key_col}` long, event_id long, ts_us long, cents long,"
        " was_filled boolean",
        {"h_k": "long", "h_c": "long", **_row_state("long")},
        step,
    )


def stream_locf(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming twin of ``relational.locf_impute``: last-observation-
    carried-forward as a live stateful operator (applyInPandasWithState)
    — the online feature-serving shape, where each event's NULL value
    must be filled with the key's most recent observation AT ARRIVAL.

    Same finalize-at-watermark protocol as ``stream_ewma_deviants``:
    rows (NULL values included — they're what gets imputed) buffer in
    state and emit only once the watermark passes them, processed in
    (ts, event_id) order.  A finalized row's predecessors are finalized
    with or before it, so the carried value is exactly the batch
    operator's unbounded-preceding window: stream == batch on the
    finalized subset, bit-for-bit in the cents domain
    (floor(value*100 + 0.5), this module's money convention).

    State per key = (last finalized observation, pending rows) — O(1 +
    in-flight disorder), the smallest state any operator in this module
    carries.  Emits (key, event_id, ts_us, cents, was_filled): cents
    NULL only for leading-NULL rows with no prior observation."""
    return _locf(events, key_col, key_col, ts_col, value_col, watermark)


def stream_locf_packed(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    watermark: str = "2 hours",
    n_state_buckets: int = 32,
) -> DataFrame:
    """``stream_locf`` with PACKED state: keys share ``pmod(key,
    n_state_buckets)`` state groups (see ``_watermark_fold``).  Size
    ``n_state_buckets`` ~= shuffle partitions x a small constant: enough
    groups to keep every core busy, few enough that the per-group
    constant vanishes.  Emits the same rows as the per-key operator."""
    return _locf(
        events, _bucket(key_col, n_state_buckets), key_col, ts_col, value_col,
        watermark,
    )


def _cusum(
    events: DataFrame,
    group: str | Column,
    key_col: str,
    ts_col: str,
    value_col: str,
    target_cents: int,
    slack_cents: int,
    threshold_cents: int,
    watermark: str,
    tiebreak_col: str,
    scale: int,
) -> DataFrame:
    tb_type = {f.name: f.dataType for f in events.schema.fields}.get(
        tiebreak_col
    )
    if tb_type is not None and not isinstance(
        tb_type, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
    ):
        raise ValueError(
            f"stream_cusum tiebreak_col {tiebreak_col!r} must be an"
            f" integral column (got {tb_type.simpleString()}); its value"
            " rides the LongType state/output schema exactly like batch"
            " cusum_points' long tiebreak"
        )
    drift = target_cents + slack_cents

    def step(pending, incoming, wm_ms):
        if incoming is not None:
            pending = _append(
                pending,
                _cents_rows(
                    incoming, key_col, "string", ts_col, tiebreak_col,
                    value_col, wm_ms, scale,
                ),
            )
        fin, pending = _finalize(pending, wm_ms)
        # a key's carried counters (h_c, h_m) lead its run, (0, 0) for a
        # new key; then per finalized row c += cents - drift, m = min(m, c)
        hist = {"p_k": pending["h_k"], "p_c": pending["h_c"], "m": pending["h_m"]}
        rows, start, end = _after_history(hist, fin)
        new = rows["new"]
        step_c = np.where(new, rows["p_c"] - drift, rows["p_c"])
        cum = np.cumsum(step_c)
        c = cum - cum[start] + step_c[start]
        runs = np.split(c, np.unique(start)[1:])
        run_min = np.concatenate([np.minimum.accumulate(r) for r in runs])
        m = np.minimum(run_min, rows["m"][start])
        tail = np.arange(len(c)) == end - 1
        pending.update(h_k=rows["p_k"][tail], h_c=c[tail], h_m=m[tail])
        stat = c - m
        out = {
            key_col: rows["p_k"],
            tiebreak_col: rows["p_eid"],
            "ts_us": rows["p_ts"],
            "stat_cents": stat,
            "is_alert": stat > threshold_cents,
        }
        return _frame(out, new), pending

    return _watermark_fold(
        events.filter(F.col(value_col).isNotNull()),
        group,
        ts_col,
        watermark,
        f"`{key_col}` string, `{tiebreak_col}` long, ts_us long,"
        " stat_cents long, is_alert boolean",
        {"h_k": "string", "h_c": "long", "h_m": "long", **_row_state("string")},
        step,
    )


def stream_cusum(
    events: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
    target_cents: int = 5000,
    slack_cents: int = 200,
    threshold_cents: int = 20000,
    watermark: str = "2 hours",
    tiebreak_col: str = "event_id",
    scale: int = 2,
) -> DataFrame:
    """Streaming twin of ``relational.cusum_points``: Page's one-sided
    CUSUM drift detector as a live stateful operator — the online
    alerting shape ("page me when the metric stream drifts"), where the
    batch closed form (cumsum - clamped running min) becomes TWO long
    counters of carried state: ``c`` (running deviation sum) and ``m``
    (min(0, running min of c)), updated per finalized row in (ts,
    event_id) order; the emitted statistic is ``c - m``, bit-equal to
    the batch operator on the finalized subset.

    Same finalize-at-watermark protocol as ``stream_locf``: rows buffer
    in state, emit once the watermark passes them, late/disordered rows
    inside the watermark are re-sorted before folding.  NULL values are
    excluded upstream (they carry no evidence, matching the batch
    operator's filter).  State per key = two longs + the in-flight
    disorder buffer — CUSUM is the textbook case for why streaming drift
    detection is cheap: the entire history compresses to (c, m).

    ``tiebreak_col`` and ``scale`` mirror ``cusum_points``' signature
    exactly (defaults ``event_id`` / 2), so non-default batch callers
    get the same stream twin, not a silently divergent one.
    ``tiebreak_col`` MUST be an integral column (it is carried through
    state arrays and the output schema as a long) — validated up front
    rather than failing at Arrow conversion or silently truncating a
    float (ADVICE r10).  The key is carried as a string.

    Emits ``(key, tiebreak, ts_us, stat_cents, is_alert)``."""
    return _cusum(
        events, key_col, key_col, ts_col, value_col, target_cents,
        slack_cents, threshold_cents, watermark, tiebreak_col, scale,
    )


def stream_cusum_packed(
    events: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
    target_cents: int = 5000,
    slack_cents: int = 200,
    threshold_cents: int = 20000,
    watermark: str = "2 hours",
    tiebreak_col: str = "event_id",
    scale: int = 2,
    n_state_buckets: int = 32,
) -> DataFrame:
    """``stream_cusum`` with PACKED state: keys share
    ``pmod(hash(key), n_state_buckets)`` state groups (see
    ``_watermark_fold``); hashing keeps the bucketing key-type-generic,
    as ``stream_cusum`` keys on a STRING metric name.  Emits the same
    rows as the per-key operator."""
    bucket = F.pmod(F.hash(F.col(key_col)), F.lit(n_state_buckets))
    return _cusum(
        events, bucket, key_col, ts_col, value_col, target_cents,
        slack_cents, threshold_cents, watermark, tiebreak_col, scale,
    )
