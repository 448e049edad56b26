"""Custom stateful streaming operators via ``applyInPandasWithState``.

The reference has no streaming at all (SURVEY §2.9); this is the engine's
scale path for per-key state that windowed aggregation can't express
(running profiles, session carriers, incremental counters that must
survive across micro-batches).

Semantics contract: the batch twin of :func:`user_running_totals` is
``events.groupBy(user_id).agg(count, sum)`` — after a single availableNow
pass over a static source the streamed output equals the batch aggregate
exactly (verified in tests/test_streaming.py). State is Arrow-serialized
per key-group; keep the state row narrow (two numeric fields here) so the
state store stays small at 10^9 keys.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

STATE_SCHEMA = "n_events BIGINT, value_total DOUBLE"
OUTPUT_SCHEMA = "user_id BIGINT, n_events BIGINT, value_total DOUBLE"


def _update_user_totals(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    n, total = state.get if state.exists else (0, 0.0)
    for pdf in pdfs:
        n += int(len(pdf))
        total += float(pdf["value"].fillna(0.0).sum())
    state.update((n, total))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "value_total": [total]}
    )


def user_running_totals(events: DataFrame) -> DataFrame:
    """Per-user running (count, sum(value)) maintained across micro-batches.

    ``events`` must be a *streaming* DataFrame with ``user_id`` and
    ``value`` columns. Output mode: update (one refreshed row per user per
    batch that touched them).
    """
    return events.groupBy("user_id").applyInPandasWithState(
        _update_user_totals,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def user_running_totals_tws(events: DataFrame) -> DataFrame:
    """Per-user running totals on the ``transformWithStateInPandas``
    API (Spark 4's StatefulProcessor) — semantically identical to
    :func:`user_running_totals`, exercised so BOTH stateful surfaces
    (the GroupState flatMap API and the newer processor/handle API with
    typed ValueState) are covered; the processor API additionally
    offers timers, TTL'd state, and multiple named state variables,
    which is where new stateful operators should land.

    Runtime requirements beyond the GroupState API: the ``protobuf``
    package (the processor's state server speaks protobuf to the JVM)
    and the RocksDB state store provider
    (``spark.sql.streaming.stateStore.providerClass``). The test is
    gated on protobuf availability exactly like the PIL image branch —
    environments without it use :func:`user_running_totals`, which is
    semantically identical.

    Output contract matches :func:`user_running_totals` exactly: one
    refreshed (user_id, n_events, value_total) row per touched user per
    micro-batch, update mode.
    """
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

    # Fail at construction with an actionable message, not minutes later
    # inside a stream thread: transformWithState needs the RocksDB state
    # store (multiple column families), which is NOT Spark's default.
    provider = events.sparkSession.conf.get(
        "spark.sql.streaming.stateStore.providerClass", ""
    )
    if "RocksDB" not in (provider or ""):
        raise ValueError(
            "transformWithStateInPandas requires the RocksDB state store:"
            " set spark.sql.streaming.stateStore.providerClass=org.apache."
            "spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
            " (the default HDFSBackedStateStoreProvider lacks the multiple"
            " column families this API uses)"
        )

    class RunningTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._totals = handle.getValueState("totals", STATE_SCHEMA)

        def handleInputRows(self, key, rows, timer_values):
            n, total = (
                self._totals.get() if self._totals.exists() else (0, 0.0)
            )
            for pdf in rows:
                n += int(len(pdf))
                total += float(pdf["value"].fillna(0.0).sum())
            self._totals.update((n, total))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "value_total": [total]}
            )

        def close(self) -> None:
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=RunningTotals(),
        outputStructType=OUTPUT_SCHEMA,
        outputMode="update",
        timeMode="none",
    )


SESSION_STATE_SCHEMA = "last_ts_us BIGINT, session_id BIGINT"
SESSION_OUTPUT_SCHEMA = "user_id BIGINT, event_id BIGINT, session_id BIGINT"


def sessionize_stream(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Streaming gap-based sessionization: the stateful twin of the batch
    ``sessionize`` query (lag + running sum over event time).

    Per-user state is two BIGINTs — (timestamp of the key's latest seen
    event, current session ordinal). Each micro-batch sorts its rows for
    the key by (ts, event_id), continues the session numbering from
    state, and emits one (user_id, event_id, session_id) row per event —
    so after any micro-batch split of an in-order feed the union of
    outputs equals the batch assignment. State size is O(1) per user
    regardless of history, the property that keeps the state store flat
    at 10^9 users; windowed aggregation cannot express this because the
    session boundary depends on the *previous event*, not on a fixed
    grid.
    """
    gap_us = gap_minutes * 60 * 1_000_000

    def update(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        last_ts, cur = state.get if state.exists else (-1, 0)
        chunks = [p for p in pdfs if len(p)]
        if not chunks:
            return
        rows = pd.concat(chunks).sort_values(["ts", "event_id"])
        ts_us = rows["ts"].astype("int64") // 1000
        session_ids = []
        for t in ts_us:
            if last_ts >= 0 and t - last_ts > gap_us:
                cur += 1
            last_ts = int(t)
            session_ids.append(cur)
        state.update((last_ts, cur))
        yield pd.DataFrame(
            {
                "user_id": rows["user_id"].astype("int64"),
                "event_id": rows["event_id"].astype("int64"),
                "session_id": pd.Series(session_ids, index=rows.index).astype(
                    "int64"
                ),
            }
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=SESSION_OUTPUT_SCHEMA,
        stateStructType=SESSION_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def dedup_stream(
    events: DataFrame,
    id_cols: list[str] | None = None,
    watermark_col: str = "ts",
    watermark: str = "1 day",
) -> DataFrame:
    """Streaming deduplication: drop repeated ``id_cols`` rows arriving
    within the watermark horizon (``dropDuplicatesWithinWatermark``).

    This is the streaming twin of the exact-dedup operator: state holds
    one entry per key only until the watermark passes it, so state size
    is bounded by the duplicate-arrival window, not by stream history —
    the property that makes exactly-once ingest dedup viable at 10^12
    events (an unbounded dropDuplicates would OOM the state store).
    """
    return events.withWatermark(watermark_col, watermark).dropDuplicatesWithinWatermark(
        id_cols or ["event_id"]
    )


DISTINCT_STATE_SCHEMA = "types_csv STRING"
DISTINCT_OUTPUT_SCHEMA = "user_id BIGINT, distinct_types BIGINT"


def _update_user_distinct(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    seen = set()
    if state.exists:
        (csv,) = state.get
        if csv:
            seen.update(csv.split(","))
    for pdf in pdfs:
        seen.update(str(v) for v in pdf["event_type"].dropna().unique())
    state.update((",".join(sorted(seen)),))
    yield pd.DataFrame({"user_id": [key[0]], "distinct_types": [len(seen)]})


def user_distinct_types_stream(events: DataFrame) -> DataFrame:
    """Per-user running COUNT(DISTINCT event_type) across micro-batches —
    the streaming twin of the batch `running_distinct_count` rewrite
    (harness_functions) collapsed to its final per-user value.

    State per user is the SET of seen types, stored as a sorted CSV
    string — O(|type domain|) per key, fine for enum-like domains
    (event_type here has a handful of values). For unbounded value
    domains the state must become a sketch (HLL / KMV) instead of a
    set: same operator shape, bounded state, approximate count — that
    is the 10^9-key scale path, and the batch approx_count_distinct
    entry pins the sketch's error envelope.

    Output mode: update (one refreshed row per touched user per batch).
    A single availableNow pass over a static source equals
    ``groupBy(user_id).agg(count_distinct(event_type))`` exactly
    (tests/test_streaming.py).
    """
    return events.groupBy("user_id").applyInPandasWithState(
        _update_user_distinct,
        outputStructType=DISTINCT_OUTPUT_SCHEMA,
        stateStructType=DISTINCT_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


KMV_STATE_SCHEMA = "hashes_csv STRING"
KMV_OUTPUT_SCHEMA = (
    "user_id BIGINT, n_hashes BIGINT, est_distinct_props DOUBLE"
)
_KMV_K = 16


def _kmv_hash(value: str) -> int:
    import hashlib

    return int(hashlib.md5(value.encode()).hexdigest()[:8], 16)


def _update_user_kmv(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    hashes: set[int] = set()
    if state.exists:
        (csv,) = state.get
        if csv:
            hashes.update(int(x) for x in csv.split(","))
    for pdf in pdfs:
        hashes.update(
            _kmv_hash(str(v)) for v in pdf["props"].dropna().unique()
        )
    smallest = sorted(hashes)[:_KMV_K]
    state.update((",".join(str(x) for x in smallest),))
    n = len(smallest)
    if n >= _KMV_K:
        est = (_KMV_K - 1) * 4294967296.0 / smallest[-1]
    else:
        est = float(n)
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_hashes": [n],
            "est_distinct_props": [est],
        }
    )


def user_distinct_props_kmv_stream(events: DataFrame) -> DataFrame:
    """Per-user APPROXIMATE distinct props via a K-minimum-values sketch
    carried in state — the bounded-state path
    :func:`user_distinct_types_stream`'s docstring promises for
    unbounded value domains: state is at most k=16 hash values per user
    no matter how many distinct values stream past.

    KMV on md5 is deterministic AND order/batching-insensitive (the k
    smallest of a union do not depend on arrival order), so after one
    availableNow pass the streamed estimate equals the batch-computed
    KMV estimate EXACTLY — an equality test, not a tolerance test
    (tests/test_streaming.py). The batch twin of the estimator itself
    is the oracle-hash-checked `approx_distinct_kmv` registry entry.
    """
    return events.groupBy("user_id").applyInPandasWithState(
        _update_user_kmv,
        outputStructType=KMV_OUTPUT_SCHEMA,
        stateStructType=KMV_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


SUMMARY_STATE_SCHEMA = (
    "start_us BIGINT, end_us BIGINT, n_events BIGINT, session_no BIGINT"
)
SUMMARY_OUTPUT_SCHEMA = (
    "user_id BIGINT, session_no BIGINT, start_us BIGINT, end_us BIGINT, "
    "n_events BIGINT"
)


def session_summaries_stream(
    events: DataFrame, gap_minutes: int = 30, watermark: str = "0 seconds"
) -> DataFrame:
    """EMIT-ON-CLOSE session summaries: one (user, session_no, start,
    end, n_events) row per COMPLETED session — the append-mode shape a
    downstream consumer (billing, engagement rollups) wants, vs
    :func:`sessionize_stream`'s per-event running assignment.

    A session closes two ways, and both paths emit exactly once:
    * inline — a later event for the same user proves the gap;
    * event-time TIMEOUT — the watermark passes the session's end + gap
      while the user stays silent (``GroupStateTimeout.EventTimeTimeout``
      + ``setTimeoutTimestamp``), closing the tail session without
      waiting for the user's next visit. Without timeouts, a user's
      final session NEVER emits on a quiet stream — the classic
      missing-revenue bug in emit-on-close pipelines.

    State per user is one open session (4 BIGINTs, O(1) forever).
    availableNow runs timeout-only batches until quiescent, so at stream
    end every session whose (end + gap) the FINAL watermark passed has
    emitted; only sessions inside the gap horizon of the last event stay
    open (not CLOSED yet) — verified exactly in tests/test_streaming.py.
    """
    gap_us = gap_minutes * 60 * 1_000_000

    def update(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        out: list[tuple[int, int, int, int, int]] = []
        uid = key[0]

        if state.hasTimedOut:
            start, end, n, sno = state.get
            out.append((uid, sno, start, end, n))
            state.remove()
            yield pd.DataFrame(
                out,
                columns=[
                    "user_id", "session_no", "start_us", "end_us", "n_events"
                ],
            )
            return

        start, end, n, sno = state.get if state.exists else (-1, -1, 0, -1)
        chunks = [p for p in pdfs if len(p)]
        rows = (
            pd.concat(chunks).sort_values(["ts", "event_id"])
            if chunks
            else None
        )
        if rows is not None:
            for t in rows["ts"].astype("int64") // 1000:
                t = int(t)
                if start < 0:
                    start, end, n, sno = t, t, 1, sno + 1
                elif t - end > gap_us:
                    out.append((uid, sno, start, end, n))
                    start, end, n, sno = t, t, 1, sno + 1
                else:
                    end, n = max(end, t), n + 1
        state.update((start, end, n, sno))
        # Close the open session when event time passes its gap horizon.
        state.setTimeoutTimestamp((end + gap_us) // 1000)
        if out:
            yield pd.DataFrame(
                out,
                columns=[
                    "user_id", "session_no", "start_us", "end_us", "n_events"
                ],
            )

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=SUMMARY_OUTPUT_SCHEMA,
            stateStructType=SUMMARY_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


# --- count-min sketch in state -------------------------------------------

_CMS_D = 2   # hash rows
_CMS_W = 16  # buckets per row
CMS_STATE_SCHEMA = "cells STRING"
CMS_OUTPUT_SCHEMA = "user_id BIGINT, n_seen BIGINT, cells STRING"


def _cms_bucket(j: int, value: str) -> int:
    import hashlib

    return int(
        hashlib.md5(f"{j}:{value}".encode()).hexdigest()[:8], 16
    ) % _CMS_W


def _update_user_cms(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    cells = [0] * (_CMS_D * _CMS_W)
    n_seen = 0
    if state.exists:
        (csv,) = state.get
        prev = [int(x) for x in csv.split(",")]
        n_seen, cells = prev[0], prev[1:]
    for pdf in pdfs:
        for v in pdf["event_type"].dropna():
            n_seen += 1
            for j in range(_CMS_D):
                cells[j * _CMS_W + _cms_bucket(j, str(v))] += 1
    state.update((",".join(str(x) for x in [n_seen] + cells),))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_seen": [n_seen],
            "cells": [",".join(str(x) for x in cells)],
        }
    )


def user_event_cms_stream(events: DataFrame) -> DataFrame:
    """Per-user count-min sketch of event-type frequencies carried in
    state — the heavy-hitter twin of the KMV distinct sketch: bounded
    O(d*w) state per user regardless of how many event types stream
    past, answering "roughly how often has THIS user done X" without
    per-type counters.

    CMS cells are pure sums of deterministic-hash increments, so they
    are arrival-order- and batching-insensitive: after one availableNow
    pass the streamed cell grid equals the batch-built sketch EXACTLY
    (tests/test_streaming.py), the same determinism contract as the
    oracle-hash-checked batch `cms_heavy_hitters` registry entry.
    """
    return events.groupBy("user_id").applyInPandasWithState(
        _update_user_cms,
        outputStructType=CMS_OUTPUT_SCHEMA,
        stateStructType=CMS_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def cms_estimate(cells: list[int], value: str) -> int:
    """Point-estimate a value's frequency from a sketch produced by
    :func:`user_event_cms_stream` (min over its d cells; never
    under-counts)."""
    return min(
        cells[j * _CMS_W + _cms_bucket(j, value)] for j in range(_CMS_D)
    )
