"""Custom stateful streaming operators via ``applyInPandasWithState``.

The reference's stateful behaviors are batch workarounds: a 100-record
buffered log flush (src/ml/feedback_logging.py:212-214, 327-384) and
re-query-everything incremental sync (src/utils/data_contracts.py:
235-275). Structured Streaming's arbitrary-state API expresses them
directly: state lives per key in the state store, survives micro-
batches, and scales horizontally with the shuffle partitioning of the
grouping key — no driver-side buffers.

Two operators:

- ``running_totals``: per-key cumulative count/sum maintained across
  micro-batches, emitting the updated row once per key per batch
  (update semantics; the streaming face of the reference's funnel
  accumulators).
- ``stateful_dedup``: exactly-once-per-key emission with an optional
  processing-time TTL — streaming dedup where ``dropDuplicates``'s
  unbounded state would OOM; TTL bounds state for 100 TB streams.

Callers start these streams on a :func:`stream_session`, whose state
partition count is the cluster's task-slot count.
"""

from __future__ import annotations

import weakref
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

RUNNING_OUT = "user_id bigint, n_events bigint, total_value double"
RUNNING_STATE = "n bigint, total double"

_stream_children: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def stream_session(spark: SparkSession) -> SparkSession:
    """A child of ``spark`` to start stateful streams on, with one
    state partition per task slot.

    A stateful operator takes ``spark.sql.shuffle.partitions`` as its
    partition count, pins it in the checkpoint at first start, and AQE
    never coalesces it; every micro-batch then loads and commits one
    state store per partition. At the session-wide 32, four task slots
    run eight waves of near-empty tasks a micro-batch; at
    ``defaultParallelism`` (the total core count on a cluster) it is
    one wave.

    The child is a clone, so it keeps the caller's confs (UTC, Arrow
    and the rest of ``session.tune``) as of the first call, and its SQL
    execution listeners. A session's streaming listeners see only the
    queries started on that session, so the child's are re-synced to
    the caller's on every call. Each caller gets one child: a session
    that starts a stream registers a listener bus on the SparkContext
    for good, so a fresh child per call added one bus a call (Spark
    itself still adds one per stateful query it starts). The caller's
    conf is never touched."""
    child = _stream_children.get(spark)
    if child is None:
        child = SparkSession(spark.sparkContext, spark._jsparkSession.cloneSession())
        child.conf.set(
            "spark.sql.shuffle.partitions", str(spark.sparkContext.defaultParallelism)
        )
        _stream_children[spark] = child
    want = list(spark.streams._jsqm.listListeners())
    have = list(child.streams._jsqm.listListeners())
    for listener in have:
        if listener not in want:
            child.streams._jsqm.removeListener(listener)
    for listener in want:
        if listener not in have:
            child.streams._jsqm.addListener(listener)
    return child


def _running_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    n, total = state.get if state.exists else (0, 0.0)
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].sum())
    state.update((n, total))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
    )


def running_totals(events: DataFrame, key_col: str = "user_id") -> DataFrame:
    """Per-key running count/sum across micro-batches (update mode)."""
    return events.groupBy(key_col).applyInPandasWithState(
        _running_fn,
        outputStructType=RUNNING_OUT,
        stateStructType=RUNNING_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


DEDUP_OUT = "event_id bigint, ts timestamp, user_id bigint, event_type string, value double"
DEDUP_STATE = "seen boolean"


def _dedup_fn_factory(ttl_ms: int | None):
    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            # TTL expired: forget the key; a late duplicate after the
            # TTL window is emitted again (bounded-state tradeoff,
            # stated explicitly rather than OOMing at 100 TB).
            state.remove()
            return
        first_time = not state.exists
        if first_time:
            state.update((True,))
        if ttl_ms is not None:
            state.setTimeoutDuration(ttl_ms)
        if first_time:
            for pdf in pdfs:
                if len(pdf):
                    yield pdf.iloc[:1][
                        ["event_id", "ts", "user_id", "event_type", "value"]
                    ]
                    return
        # already seen: drain and emit nothing
        for _ in pdfs:
            pass

    return fn


def stateful_dedup(events: DataFrame, ttl_ms: int | None = None) -> DataFrame:
    """Streaming exact dedup on event_id with optional state TTL."""
    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if ttl_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    return events.groupBy("event_id").applyInPandasWithState(
        _dedup_fn_factory(ttl_ms),
        outputStructType=DEDUP_OUT,
        stateStructType=DEDUP_STATE,
        outputMode="append",
        timeoutConf=timeout,
    )


def running_totals_tws(events: DataFrame, key_col: str = "user_id") -> DataFrame:
    """Spark 4 twin of ``running_totals`` on the transformWithState
    API: typed ValueState handles instead of a single state tuple, and
    room for multiple state variables / timers per key. Requires the
    RocksDB state store provider
    (spark.sql.streaming.stateStore.providerClass) — which is also the
    100 TB choice: state spills to disk per partition instead of
    living on the executor heap.

    NOTE: the transformWithState driver worker imports google.protobuf
    at query start; in environments without protobuf (this container)
    the query fails at initialization — use ``running_totals`` (the
    applyInPandasWithState path) there. The operator itself is
    exercised by tests/test_streaming.py when protobuf is present."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class RunningTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._totals = handle.getValueState("totals", RUNNING_STATE)

        def handleInputRows(self, key, rows, timerValues) -> Iterator[pd.DataFrame]:
            n, total = self._totals.get() if self._totals.exists() else (0, 0.0)
            for pdf in rows:
                n += len(pdf)
                total += float(pdf["value"].sum())
            self._totals.update((n, total))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
            )

        def close(self) -> None:
            pass

    return events.groupBy(key_col).transformWithStateInPandas(
        RunningTotals(),
        outputStructType=RUNNING_OUT,
        outputMode="Update",
        timeMode="None",
    )
