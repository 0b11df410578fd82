"""Contracts shared by the ``*_with_state`` streaming operators: their
output schemas on a streaming source, and a late-session replay that
must end without an ``INVALID_TIMEOUT_TIMESTAMP`` error."""

import datetime as dt
import glob
import os
import random
import shutil
import time

import pytest
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

_SOURCE = (
    "user_id long, ts timestamp, value double, event_id long, "
    "event_type string, doc_id long, text string, seq long, op string, "
    "payload string"
)


def _schema(*fields):
    return StructType([StructField(n, t) for n, t in fields])


_L, _D, _T = LongType(), DoubleType(), TimestampType()

_TWINS = {
    "sessionize_with_state": (
        lambda m, s: m.sessionize_with_state(s),
        _schema(("user_id", _L), ("session_start", _T), ("session_end", _T),
                ("n_events", _L), ("value_sum", _D), ("closed_by", _L)),
    ),
    "global_dedup_with_state": (
        lambda m, s: m.global_dedup_with_state(s, "doc_id", "text"),
        _schema(("doc_id", _L), ("first_seen_ts", _T)),
    ),
    "cdc_latest_with_state": (
        lambda m, s: m.cdc_latest_with_state(s, "user_id", "seq"),
        _schema(("key", _L), ("seq", _L), ("alive", _L),
                ("payload", StringType())),
    ),
    "rate_limit_with_state": (
        lambda m, s: m.rate_limit_with_state(
            s, "user_id", "ts", max_events=3, window_seconds=60,
            order_col="event_id"),
        _schema(("key", _L), ("o", _L), ("allowed", _L)),
    ),
    "ewma_with_state": (
        lambda m, s: m.ewma_with_state(
            s, "user_id", "ts", "value", alpha=0.3, order_col="event_id"),
        _schema(("key", _L), ("o", _L), ("value", _D), ("ewma", _D)),
    ),
    "cusum_with_state": (
        lambda m, s: m.cusum_with_state(
            s, "user_id", "ts", "value", drift=0.5, threshold=5.0,
            target=100.0, order_col="event_id"),
        _schema(("key", _L), ("o", _L), ("value", _D), ("cusum_pos", _D),
                ("cusum_neg", _D), ("alarm", BooleanType())),
    ),
    "transition_counts_with_state": (
        lambda m, s: m.transition_counts_with_state(
            s, "user_id", "ts", "event_type", order_col="event_id",
            states=["click", "view"]),
        _schema(("key", _L), ("n_transitions", _L),
                ("counts", ArrayType(LongType()))),
    ),
    "holt_with_state": (
        lambda m, s: m.holt_with_state(
            s, "user_id", "ts", "value", alpha=0.3, beta=0.2,
            order_col="event_id"),
        _schema(("key", _L), ("o", _L), ("value", _D), ("level", _D),
                ("trend", _D)),
    ),
}


@pytest.mark.parametrize("twin", sorted(_TWINS))
def test_twin_output_schema(spark, tmp_path, twin):
    from dbldatagen_spark.streaming import stateful

    build, expected = _TWINS[twin]
    src = spark.readStream.schema(_SOURCE).parquet(str(tmp_path))
    assert build(stateful, src).schema == expected


@pytest.mark.parametrize("bad", [{"max_events": 0}, {"window_seconds": 0}])
def test_rate_limit_with_state_rejects_bad_limits_on_a_stream(
    spark, tmp_path, bad
):
    from dbldatagen_spark.streaming.stateful import rate_limit_with_state

    src = spark.readStream.schema(_SOURCE).parquet(str(tmp_path))
    kwargs = {"max_events": 3, "window_seconds": 60, **bad}
    with pytest.raises(ValueError, match=next(iter(bad))):
        rate_limit_with_state(src, "user_id", "ts", order_col="event_id",
                              **kwargs)


def _replay_sessions(spark, tmp_path, rows, split, name):
    """Write ``rows`` as two parquet files split at ``event_id < split``
    (increasing mtimes), replay them one file per trigger through
    ``sessionize_with_state`` and return the closed sessions."""
    from dbldatagen_spark.streaming.stateful import sessionize_with_state

    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, value double, event_id long"
    )
    src = tmp_path / "src"
    src.mkdir()
    base = time.time() - 3600
    for i, cond in enumerate([f"event_id < {split}", f"event_id >= {split}"]):
        staged = str(tmp_path / f"staged-{i}")
        df.where(cond).coalesce(1).write.parquet(staged)
        (part,) = glob.glob(os.path.join(staged, "*.parquet"))
        dst = str(src / f"events-{i}.parquet")
        shutil.move(part, dst)
        os.utime(dst, (base + i, base + i))

    stream = (spark.readStream.schema(df.schema)
              .option("maxFilesPerTrigger", 1).parquet(str(src)))
    q = (
        sessionize_with_state(stream, gap_minutes=30, watermark="1 hour")
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert q.awaitTermination(180)
        assert q.exception() is None
    finally:
        q.stop()
    return spark.table(name).collect()


def test_sessionize_late_session_closes_instead_of_raising(spark, tmp_path):
    """Events over a week written as two files split by id, replayed one
    file per trigger: the second file's rows pass the late filter (the
    previous batch's watermark) while their session deadlines already
    sit behind the current watermark. Those sessions close as timeouts
    and the query ends cleanly."""
    rng = random.Random(7)
    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (rng.randint(1, 40),
         t0 + dt.timedelta(seconds=rng.randrange(7 * 86400)),
         rng.uniform(0.0, 200.0), i)
        for i in range(2000)
    ]
    got = _replay_sessions(spark, tmp_path, rows, 1000, "late_sessions")
    assert {r["closed_by"] for r in got} >= {0, 2}


def test_sessionize_late_session_rows(spark, tmp_path):
    """Exact output of the late close. The first file moves the
    watermark to 09:00; the second file's rows pass the late filter
    (still at the first batch's watermark) and extend user 1's open
    session and open user 3's, both with deadlines before 09:00 — each
    closes in that call with every one of its events. User 4's session,
    untouched by the second file, closes by an ordinary timeout; user
    2's stays open."""
    t = lambda hh, mm: dt.datetime(2024, 1, 1, hh, mm)  # noqa: E731
    rows = [
        (1, t(0, 0), 1.0, 0), (1, t(0, 10), 2.0, 1),
        (4, t(2, 0), 5.0, 2), (4, t(5, 0), 6.0, 3),
        (2, t(10, 0), 7.0, 4),
        (3, t(1, 0), 10.0, 5), (3, t(1, 5), 20.0, 6),
        (1, t(0, 20), 4.0, 7),
    ]
    got = _replay_sessions(spark, tmp_path, rows, 5, "late_session_rows")
    assert sorted(tuple(r) for r in got) == [
        (1, t(0, 0), t(0, 20), 3, 7.0, 2),
        (3, t(1, 0), t(1, 5), 2, 30.0, 2),
        (4, t(2, 0), t(2, 0), 1, 5.0, 0),
        (4, t(5, 0), t(5, 0), 1, 6.0, 2),
    ]
