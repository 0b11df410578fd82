"""Streaming sessionization: native session windows + a custom-state
operator.

Two paths, per the engine's operator policy (prefer built-in composition,
drop to ``applyInPandasWithState`` only for semantics Spark cannot
express):

* :func:`session_window_agg` — Spark's native ``session_window`` (gap-based
  event-time windows). Works identically over a batch DataFrame (no
  watermark) and a stream (watermark + append mode); state management,
  late-data handling, and spill are Spark's problem, which is exactly
  what you want at scale.
* :func:`sessionize_with_state` — ``applyInPandasWithState`` with explicit
  per-user state, for session semantics the native operator cannot
  express (here: sessions also close after a max-events cap, a common
  bot-detection rule). Demonstrates the full custom-stateful plumbing:
  state schema, event-time timeout, emission on both rollover and
  timeout.

Every ``*_with_state`` operator runs on one keyed-state helper
(:func:`_with_state`) and shares one contract: one fixed-size state row
per key; per-key event-time order across micro-batches (replay in order
or pre-sort the backlog); ``(ts, order)`` order within a batch; on a
batch frame the twins of a batch fold delegate to it (dedup and CDC use
one ranked window); parameter errors raise ``ValueError`` when the
operator is built.
"""

from __future__ import annotations

from typing import Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupStateTimeout
from pyspark.sql.types import StructType


def session_window_agg(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    *,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Per-user gap sessions with count/value aggregates.

    On a streaming DataFrame a watermark is applied first (append-mode
    emission once the watermark passes session end); on a batch DataFrame
    the same expression computes all sessions immediately.
    """
    src = df.withWatermark(ts_col, watermark) if df.isStreaming else df
    return (
        src.groupBy(F.col(user_col), F.session_window(F.col(ts_col), gap))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("value_sum"),
        )
        .select(
            F.col(user_col),
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "value_sum",
        )
    )


def _batch_rows(pdfs, sort_cols):
    """One sorted frame from a state fn's chunk iterator, skipping the
    pd.concat copy in the common single-chunk case.  Every state fn
    here is called once per (group, micro-batch) — at sf0.1 that is
    thousands of calls per batch, so per-call pandas overhead is the
    operators' hot path (guide §4.5: amortize per-call work)."""
    chunks = list(pdfs)
    rows = chunks[0] if len(chunks) == 1 else pd.concat(chunks)
    return rows.sort_values(sort_cols)


def _i64(values) -> np.ndarray:
    return np.asarray(values, dtype="int64")


def _f64(values) -> np.ndarray:
    return np.asarray(values, dtype="float64")


def _bool(values) -> np.ndarray:
    return np.asarray(values, dtype=bool)


def _ts(values) -> np.ndarray:
    # epoch micros (None -> NaT) as the ns-resolution column Arrow expects
    return np.asarray(values, dtype="datetime64[us]").astype("datetime64[ns]")


# typed numpy column builders by Spark type; other types stay Python lists
_COLUMN = {"bigint": _i64, "double": _f64, "boolean": _bool, "timestamp": _ts}

_ORDER = ["_t", "o"]  # (ts, order) within a batch


def _with_state(
    keyed: DataFrame,
    key_col: str,
    step,
    *,
    state_schema: str,
    out_schema: str,
    order,
    timeout: str = GroupStateTimeout.NoTimeout,
    skip_known: bool = False,
) -> DataFrame:
    """``keyed.groupBy(key_col).applyInPandasWithState`` in append mode,
    for a ``step(key, state, rows)`` that returns output row tuples (or
    nothing).  Both schemas are DDL strings; ``rows`` is the key's batch
    sorted by ``order``, or ``None`` on a timeout call.  With
    ``skip_known`` a key whose state exists is skipped before its rows
    are read.  Output timestamps are epoch micros."""
    schema = StructType.fromDDL(out_schema)
    columns = [
        (f.name, _COLUMN.get(f.dataType.simpleString(), list))
        for f in schema.fields
    ]

    def _fn(key, pdfs, state):
        if skip_known and state.exists:
            return
        rows = None if state.hasTimedOut else _batch_rows(pdfs, order)
        emitted = step(key[0], state, rows)
        if emitted:
            yield pd.DataFrame(
                {n: c(v) for (n, c), v in zip(columns, zip(*emitted))},
                copy=False,
            )

    return keyed.groupBy(key_col).applyInPandasWithState(
        _fn,
        outputStructType=schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=timeout,
    )


def sessionize_with_state(
    events: DataFrame,
    *,
    gap_minutes: int = 30,
    max_events: int = 1000,
    watermark: str = "1 hour",
) -> DataFrame:
    """Custom stateful sessionization: a session closes on a ``gap_minutes``
    silence, **or** as soon as it accumulates ``max_events`` events (a rule
    native ``session_window`` cannot express).

    Expects columns ``user_id``, ``ts``, ``value``. Emits one row per
    closed session; ``closed_by`` is 0 for a gap rollover, 1 for the cap
    and 2 for a timeout. State is one fixed-size row per active user —
    per-partition memory is bounded by active users, not events, and
    Spark's state store handles checkpointing/recovery.

    On a stream an open session times out once the watermark passes its
    last event plus the gap. A late batch can carry a session whose
    deadline is already behind the current watermark (Spark filters late
    rows against the previous batch's watermark); that session closes in
    the same call as a timeout.
    """
    gap_us = gap_minutes * 60 * 1_000_000
    gap_ms = gap_minutes * 60 * 1000
    streaming = events.isStreaming
    no_session = (None, None, 0, 0.0)

    def _step(user, state, rows):
        start, last, n, vsum = state.get if state.exists else no_session
        out = []
        if rows is not None:
            # vectorize the per-row timestamp conversion once per batch;
            # the session state machine itself is inherently sequential
            ts_us = (
                rows["ts"].astype("datetime64[ns]").astype("int64") // 1000
            ).tolist()
            vals = rows["value"].astype("float64").tolist()
            for t_us, value in zip(ts_us, vals):
                v = value if value == value else 0.0  # NaN-safe
                if start is None:
                    start, last, n, vsum = t_us, t_us, 1, v
                elif t_us - last > gap_us:
                    out.append((user, start, last, n, vsum, 0))
                    start, last, n, vsum = t_us, t_us, 1, v
                else:
                    last, n, vsum = t_us, n + 1, vsum + v
                if n >= max_events:
                    out.append((user, start, last, n, vsum, 1))
                    start = last = None
                    n, vsum = 0, 0.0

        if start is None:
            if state.exists:
                state.remove()
            return out
        deadline = last // 1000 + gap_ms
        if rows is None or (
            streaming and deadline < state.getCurrentWatermarkMs()
        ):
            out.append((user, start, last, n, vsum, 2))
            state.remove()
        else:
            state.update((start, last, n, vsum))
            state.setTimeoutTimestamp(deadline)
        return out

    src = events.withWatermark("ts", watermark) if streaming else events
    return _with_state(
        src.select("user_id", "ts", "value"),
        "user_id",
        _step,
        state_schema="session_start bigint, last_ts bigint, n_events bigint, "
        "value_sum double",  # epoch micros
        out_schema="user_id bigint, session_start timestamp, "
        "session_end timestamp, n_events bigint, value_sum double, "
        "closed_by bigint",
        order="ts",
        timeout=GroupStateTimeout.EventTimeTimeout,
    )


def global_dedup_with_state(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    ts_col: str = "ts",
    normalize: bool = True,
) -> DataFrame:
    """Streaming global exact dedup: emit only the FIRST occurrence of
    each distinct content across the whole stream (not per micro-batch,
    not watermark-bounded — the reference's ``UniqueCombinations`` is
    explicitly per-micro-batch-only in streams; this closes that gap).

    Grouping key = sha256 of the (optionally normalized) content, so
    state is one fixed-size row per distinct content and the shuffle
    carries ``(hash, id, ts)`` — never the text. Unbounded-state caveat
    documented on purpose: distinct-content cardinality grows with the
    corpus, so at 100 TB pair this with RocksDB state store and/or an
    upstream watermark-bounded pre-dedup.

    Works identically on a batch DataFrame (keeps min-ts row per content).
    """
    from dbldatagen_spark.functions.dedup import normalize_text_expr

    content = F.col(text_col)
    if normalize:
        content = normalize_text_expr(content)
    keyed = df.select(
        F.sha2(content, 256).alias("_content_key"),
        F.col(id_col).alias("doc_id"),
        F.col(ts_col).alias("_ts"),
    )

    if not df.isStreaming:
        from pyspark.sql import Window

        w = Window.partitionBy("_content_key").orderBy("_ts", "doc_id")
        return (
            keyed.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .select("doc_id", F.col("_ts").alias("first_seen_ts"))
        )

    def _step(key, state, rows):
        ts = pd.Timestamp(rows["_ts"].iat[0])
        t_us = ts.value // 1000
        state.update((t_us,))
        return [(int(rows["doc_id"].iat[0]), None if ts is pd.NaT else t_us)]

    # content already emitted in an earlier batch: skip_known yields nothing
    return _with_state(
        keyed,
        "_content_key",
        _step,
        state_schema="first_seen_us bigint",
        out_schema="doc_id bigint, first_seen_ts timestamp",
        order=["_ts", "doc_id"],
        skip_known=True,
    )


def cdc_latest_with_state(
    df: DataFrame,
    key_col: str,
    seq_col: str,
    *,
    op_col: str = "op",
    payload_col: str = "payload",
    delete_ops: Tuple[str, ...] = ("D", "DELETE", "delete"),
) -> DataFrame:
    """Streaming materialized view of a CDC log: per key, maintain the
    highest-sequence operation in state and emit the key's new current
    row whenever a micro-batch changes it — the continuous counterpart
    of :func:`dbldatagen_spark.functions.apply_cdc` (last writer wins,
    tombstones mark the key dead instead of dropping the row, so
    downstream sinks can propagate deletes).

    Emits ``(key, seq, alive, payload)`` rows; the LAST emission per key
    (highest seq) is the current state, and equals the batch
    ``apply_cdc`` result on the same prefix of the log. Out-of-order
    arrivals across batches are handled: a batch whose max sequence is
    behind the state is ignored (no emission).

    ``payload_col`` should be a single (pre-serialized — e.g. ``to_json``
    of the tracked columns) string so state stays one fixed-size row per
    key; the shuffle carries (key, seq, op, payload) only. On a batch
    frame the identical semantics come from one ranked window.
    """
    keyed = df.select(
        F.col(key_col).cast("long").alias("key"),
        F.col(seq_col).cast("long").alias("seq"),
        F.col(op_col).cast("string").alias("_op"),
        F.col(payload_col).cast("string").alias("payload"),
    )
    dels = list(delete_ops)

    if not df.isStreaming:
        from pyspark.sql import Window

        w = Window.partitionBy("key").orderBy(F.col("seq").desc())
        return (
            keyed.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .select(
                "key",
                "seq",
                # NULL op counts as an upsert (alive), matching the
                # streaming path's str() comparison
                (~F.coalesce(F.col("_op").isin(dels), F.lit(False)))
                .cast("long")
                .alias("alive"),
                "payload",
            )
        )

    def _step(key, state, rows):
        new_seq = int(rows["seq"].iat[-1])
        if state.exists and state.get[0] >= new_seq:
            return None  # stale/redelivered batch: state already newer
        alive = 0 if str(rows["_op"].iat[-1]) in dels else 1
        payload = rows["payload"].iat[-1]
        payload = "" if payload is None else str(payload)
        state.update((new_seq, alive, payload))
        return [(key, new_seq, alive, payload)]

    return _with_state(
        keyed,
        "key",
        _step,
        state_schema="seq bigint, alive bigint, payload string",
        out_schema="key bigint, seq bigint, alive bigint, payload string",
        order="seq",
    )


def rate_limit_with_state(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    *,
    max_events: int,
    window_seconds: int,
    order_col: str,
) -> DataFrame:
    """Streaming twin of
    :func:`dbldatagen_spark.functions.ratelimit.rate_limit_events`:
    per-key token-bucket admission across micro-batches. State is the
    admitted-epoch list pruned to the trailing window — O(max_events)
    longs per key, never history-sized. Emits ``(key, order, allowed)``
    per event; identical decisions to the batch fold on an in-order
    stream (the real-run pytest asserts it).
    """
    if max_events < 1 or window_seconds <= 0:
        raise ValueError("max_events must be >= 1 and window_seconds > 0, "
                         f"got {max_events} and {window_seconds}")
    if not df.isStreaming:
        from dbldatagen_spark.functions.ratelimit import rate_limit_events

        return rate_limit_events(
            df,
            key_col,
            ts_col,
            max_events=max_events,
            window_seconds=window_seconds,
            order_col=order_col,
        )

    keyed = df.select(
        F.col(key_col).cast("long").alias("key"),
        F.floor(
            F.unix_timestamp(F.col(ts_col).cast("timestamp"))
        ).cast("long").alias("_e"),
        F.col(order_col).cast("long").alias("o"),
    )
    win = int(window_seconds)
    cap = int(max_events)

    def _step(key, state, rows):
        admitted = list(state.get[0]) if state.exists else []
        out = []
        for e, o in zip(rows["_e"], rows["o"]):
            e = int(e)
            admitted = [a for a in admitted if a > e - win]
            ok = len(admitted) < cap
            if ok:
                admitted.append(e)
            out.append((key, int(o), 1 if ok else 0))
        state.update((admitted,))
        return out

    return _with_state(
        keyed,
        "key",
        _step,
        state_schema="admitted array<bigint>",
        out_schema="key bigint, o bigint, allowed bigint",
        order=["_e", "o"],
    )


def ewma_with_state(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    *,
    alpha: float,
    order_col: str,
) -> DataFrame:
    """Streaming twin of
    :func:`dbldatagen_spark.functions.timeseries.ewma`: per-key
    exponentially weighted moving average across micro-batches. State
    is ONE double per key (the last smoothed value) — the minimal
    possible streaming state. NULL values are skipped without touching
    state, mirroring the batch fold's NULL exclusion. Emits
    ``(key, o, value, ewma)`` per non-null event.

    The recurrence ``a*v + (1-a)*s`` runs in IEEE doubles in the same
    order as the batch fold, so an in-order stream reproduces the
    batch result bit-for-bit (the real-run pytest asserts exact
    equality).
    """
    if not (0.0 < alpha <= 1.0):
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    if not df.isStreaming:
        from dbldatagen_spark.functions.timeseries import ewma

        return ewma(
            df, key_col, ts_col, value_col, alpha=alpha, order_col=order_col
        ).select(
            F.col(key_col).cast("long").alias("key"),
            F.col(order_col).cast("long").alias("o"),
            F.col(value_col).cast("double").alias("value"),
            F.col("ewma"),
        )

    keyed = df.select(
        F.col(key_col).cast("long").alias("key"),
        F.col(ts_col).cast("timestamp").alias("_t"),
        F.col(order_col).cast("long").alias("o"),
        F.col(value_col).cast("double").alias("v"),
    )
    a = float(alpha)

    def _step(key, state, rows):
        last = float(state.get[0]) if state.exists else None
        out = []
        for o, v in zip(rows["o"], rows["v"]):
            if pd.isna(v):
                continue
            v = float(v)
            last = v if last is None else a * v + (1.0 - a) * last
            out.append((key, int(o), v, last))
        if last is not None:
            state.update((last,))
        return out

    return _with_state(
        keyed,
        "key",
        _step,
        state_schema="last double",
        out_schema="key bigint, o bigint, value double, ewma double",
        order=_ORDER,
    )


def cusum_with_state(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    *,
    drift: float,
    threshold: float,
    target: float,
    order_col: str,
    reset_on_alarm: bool = True,
) -> DataFrame:
    """Streaming twin of
    :func:`dbldatagen_spark.functions.timeseries.cusum_flags`: two-sided
    CUSUM change-point detection across micro-batches with TWO doubles
    of state per key (the carried s+/s- statistics). ``target`` is
    required here — the batch fold's self-calibrated per-key mean is a
    two-pass statistic a stream cannot know upfront; pass a monitoring
    target (and the batch call the pytest compares against uses the
    same explicit target). Emits
    ``(key, o, value, cusum_pos, cusum_neg, alarm)``; bit-for-bit equal
    to the batch fold on an in-order stream.
    """
    if drift < 0.0:
        raise ValueError(f"drift must be >= 0, got {drift}")
    if threshold <= 0.0:
        raise ValueError(f"threshold must be > 0, got {threshold}")
    if not df.isStreaming:
        from dbldatagen_spark.functions.timeseries import cusum_flags

        return cusum_flags(
            df,
            key_col,
            ts_col,
            value_col,
            drift=drift,
            threshold=threshold,
            target=target,
            order_col=order_col,
            reset_on_alarm=reset_on_alarm,
        ).select(
            F.col(key_col).cast("long").alias("key"),
            F.col(order_col).cast("long").alias("o"),
            F.col(value_col).cast("double").alias("value"),
            F.col("cusum_pos"),
            F.col("cusum_neg"),
            F.col("alarm"),
        )

    keyed = df.select(
        F.col(key_col).cast("long").alias("key"),
        F.col(ts_col).cast("timestamp").alias("_t"),
        F.col(order_col).cast("long").alias("o"),
        F.col(value_col).cast("double").alias("v"),
    )
    d = float(drift)
    h = float(threshold)
    mu = float(target)
    reset = bool(reset_on_alarm)

    def _step(key, state, rows):
        sp, sn = state.get if state.exists else (0.0, 0.0)
        out = []
        for o, v in zip(rows["o"], rows["v"]):
            if pd.isna(v):
                continue
            v = float(v)
            rp = max(0.0, sp + (v - mu - d))
            rn = max(0.0, sn + (mu - v - d))
            alarm = rp > h or rn > h
            sp, sn = (0.0, 0.0) if (reset and alarm) else (rp, rn)
            out.append((key, int(o), v, rp, rn, alarm))
        state.update((float(sp), float(sn)))
        return out

    return _with_state(
        keyed,
        "key",
        _step,
        state_schema="sp double, sn double",
        out_schema="key bigint, o bigint, value double, cusum_pos double, "
        "cusum_neg double, alarm boolean",
        order=_ORDER,
    )


def transition_counts_with_state(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    state_col: str,
    *,
    order_col: str,
    states,
) -> DataFrame:
    """Streaming twin of the per-key categorical transition signature
    (:func:`dbldatagen_spark.functions.analytics.behavior_vectors`
    without the final normalization — counts, not frequencies): each
    key's cumulative ``k x k`` transition-count matrix over the explicit
    ``states`` vocabulary, maintained across micro-batches.  State is
    ``(last-state index, k^2 count cells)`` per key, O(k^2) longs,
    never history-sized.

    Semantics mirror the batch lag-window exactly: a transition counts
    only when BOTH endpoints are in-vocabulary, and an out-of-vocabulary
    event BREAKS the chain (``a -> X -> b`` contributes nothing), so an
    in-order replay's final emission equals the batch signature
    bit-for-bit (integer counts — asserted by the real-run pytest and
    the registry conformance query).

    Emits ``(key, n_transitions, counts)`` per key per batch — the
    CUMULATIVE signature after that batch (keys with no in-vocabulary
    transitions yet emit nothing, mirroring the batch drop); take each
    key's last emission for current state, exactly like
    :func:`cdc_latest_with_state`.  On a batch frame it delegates to
    the batch aggregation (``counts = round(behavior * n)`` — exact:
    the frequencies are integer ratios ``c/n`` and ``|c| < 2^52``).

    Scale shape: one key shuffle into the stateful operator; state and
    per-emission payload are both ``k^2 + 1`` longs per key regardless
    of history length.
    """
    if len(states) < 2:
        raise ValueError(f"states needs >= 2 entries, got {len(states)}")
    if len(set(states)) != len(states):
        raise ValueError("states must be distinct")
    k = len(states)
    if not df.isStreaming:
        from dbldatagen_spark.functions.analytics import behavior_vectors

        bv = behavior_vectors(
            df, key_col, ts_col, state_col, order_col=order_col, states=states
        )
        n = F.col("n_transitions").cast("double")
        return bv.select(
            F.col(key_col).cast("long").alias("key"),
            F.col("n_transitions").cast("long").alias("n_transitions"),
            F.transform(
                F.col("behavior"), lambda x: F.round(x * n).cast("long")
            ).alias("counts"),
        )

    keyed = df.select(
        F.col(key_col).cast("long").alias("key"),
        F.col(ts_col).cast("timestamp").alias("_t"),
        F.col(order_col).cast("long").alias("o"),
        F.col(state_col).cast("string").alias("s"),
    )
    idx = {s: i for i, s in enumerate(states)}

    def _step(key, state, rows):
        if state.exists:
            last, counts = int(state.get[0]), list(state.get[1])
        else:
            last, counts = -1, [0] * (k * k)
        for s in rows["s"]:
            cur = idx.get(s, -1)
            if last >= 0 and cur >= 0:
                counts[last * k + cur] += 1
            last = cur  # out-of-vocab sets -1: breaks the chain, as batch
        state.update((last, counts))
        n = sum(counts)
        return [(key, n, counts)] if n else None

    return _with_state(
        keyed,
        "key",
        _step,
        state_schema="last bigint, counts array<bigint>",
        out_schema="key bigint, n_transitions bigint, counts array<bigint>",
        order=_ORDER,
    )


def holt_with_state(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    *,
    alpha: float,
    beta: float,
    order_col: str,
) -> DataFrame:
    """Streaming twin of
    :func:`dbldatagen_spark.functions.timeseries.holt_linear`: Holt's
    linear-trend smoother across micro-batches with TWO doubles of
    state per key (the carried level and trend).  NULL values skip
    without touching state, mirroring the batch fold's NULL exclusion.
    The recurrences run in IEEE doubles in the identical sequence as
    the batch fold, so an in-order stream reproduces level AND trend
    bit-for-bit (the real-run pytest asserts exact equality).  Emits
    ``(key, o, value, level, trend)`` per non-null event.
    """
    if not (0.0 < alpha <= 1.0):
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    if not (0.0 < beta <= 1.0):
        raise ValueError(f"beta must be in (0, 1], got {beta}")
    if not df.isStreaming:
        from dbldatagen_spark.functions.timeseries import holt_linear

        return holt_linear(
            df, key_col, ts_col, value_col,
            alpha=alpha, beta=beta, order_col=order_col,
        ).select(
            F.col(key_col).cast("long").alias("key"),
            F.col(order_col).cast("long").alias("o"),
            F.col(value_col).cast("double").alias("value"),
            F.col("level"),
            F.col("trend"),
        )

    keyed = df.select(
        F.col(key_col).cast("long").alias("key"),
        F.col(ts_col).cast("timestamp").alias("_t"),
        F.col(order_col).cast("long").alias("o"),
        F.col(value_col).cast("double").alias("v"),
    )
    a = float(alpha)
    bt = float(beta)

    def _step(key, state, rows):
        have = state.exists
        lvl, trd = (float(x) for x in state.get) if have else (0.0, 0.0)
        out = []
        for o, v in zip(rows["o"], rows["v"]):
            if pd.isna(v):
                continue
            v = float(v)
            if not have:
                lvl, trd, have = v, 0.0, True
            else:
                l_new = a * v + (1.0 - a) * (lvl + trd)
                trd = bt * (l_new - lvl) + (1.0 - bt) * trd
                lvl = l_new
            out.append((key, int(o), v, lvl, trd))
        if have:
            state.update((lvl, trd))
        return out

    return _with_state(
        keyed,
        "key",
        _step,
        state_schema="l double, b double",
        out_schema="key bigint, o bigint, value double, level double, "
        "trend double",
        order=_ORDER,
    )
