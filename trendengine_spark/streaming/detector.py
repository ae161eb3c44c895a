"""Stateful online level-shift detector — the streaming twin of DBEST
change detection (SURVEY §7.1 P5; no reference analog).

Semantics (a streamable subset of the batch rule in
``functions/dbest.py``): per key, maintain an exponential running
mean; when an arriving value deviates from the running mean by ≥
``shift_threshold``, emit a shift event and re-anchor the mean. The
batch rule's "sustained over `duration`" confirmation needs future
data, so the online variant re-anchors immediately and lets a
retraction-free append stream stay monotone — the standard
online/offline detection trade-off.

State: one (mean, count) pair per key — O(#keys) total, constant per
key; eviction by processing-time timeout.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType(), True),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("running_mean", T.DoubleType(), True),
        T.StructField("shift", T.DoubleType(), True),
    ]
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("mean", T.DoubleType(), True),
        T.StructField("count", T.LongType(), True),
    ]
)


def _detect(
    key,
    batches: Iterator[pd.DataFrame],
    state: GroupState,
    shift_threshold: float,
    alpha: float,
) -> Iterator[pd.DataFrame]:
    if state.hasTimedOut:
        state.remove()
        return
    mean, count = state.get if state.exists else (None, 0)
    out_rows = []
    for pdf in batches:
        pdf = pdf.sort_values("ts")
        for ts, value in zip(pdf["ts"], pdf["value"]):
            v = float(value)
            if mean is None:
                mean, count = v, 1
                continue
            shift = v - mean
            if abs(shift) >= shift_threshold:
                out_rows.append(
                    {
                        "user_id": key[0],
                        "ts": ts,
                        "value": v,
                        "running_mean": mean,
                        "shift": shift,
                    }
                )
                mean, count = v, 1  # re-anchor after a shift
            else:
                count += 1
                mean += alpha * (v - mean)
    state.update((mean, count))
    state.setTimeoutDuration(24 * 3600 * 1000)
    if out_rows:
        yield pd.DataFrame(out_rows, columns=[f.name for f in OUTPUT_SCHEMA.fields])


def online_level_shifts(
    events: DataFrame,
    shift_threshold: float = 5.0,
    alpha: float = 0.2,
    key_col: str = "user_id",
) -> DataFrame:
    """Apply the stateful detector to a (streaming or batch-test)
    events frame grouped by ``key_col``. Output: one row per detected
    shift.

    The state evicts on ``GroupStateTimeout.ProcessingTimeTimeout``,
    so a ``trigger(availableNow=True)`` query never terminates: the
    pending timeout keeps Spark scheduling no-data batches.
    ``trigger(once=True)`` is the supported batch-style trigger (one
    micro-batch over what is available, then the query ends)."""

    def fn(key, batches, state):
        return _detect(key, batches, state, shift_threshold, alpha)

    return events.groupBy(key_col).applyInPandasWithState(
        fn,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )
