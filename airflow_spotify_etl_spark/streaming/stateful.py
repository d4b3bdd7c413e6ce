"""Custom stateful streaming operator via ``applyInPandasWithState`` (ST5/
ST6 beyond what built-ins express — the north-star API for arbitrary
per-key streaming state).

``running_user_totals`` maintains a per-user running aggregate ACROSS
micro-batches — the streaming analog of the reference's per-run summary
(spotify_etl2.py:271-278), except the numbers survive restarts via the
checkpointed state store instead of resetting every run.

Built-in windowed aggregation can't express "lifetime totals, updated per
batch" (no window bounds it); dropDuplicates can't either (state, but no
custom value). This is exactly the applyInPandasWithState niche: arbitrary
user-defined state (count, sum, last-seen) keyed by user, Arrow-batched.

Scale: state lives in the state store partitioned by key — the same
machinery as stream-stream joins; state size is O(|active keys|), and idle
keys can be evicted by swapping NoTimeout for ProcessingTimeTimeout plus a
``state.setTimeoutDuration`` call in the update function (left out here so
the tested behavior and the documented behavior match exactly)."""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

__all__ = ["running_user_totals"]

_OUT_SCHEMA = (
    "user_id long, n_events long, total_value double, last_seen_us long"
)
_STATE_SCHEMA = "n long, total double, last_us long"


def _update(key, pdfs, state: GroupState) -> Iterator:
    import pandas as pd

    n, total, last_us = state.get if state.exists else (0, 0.0, 0)
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].fillna(0.0).sum())
        batch_max = pdf["ts"].max()
        if pd.notna(batch_max):
            last_us = max(last_us, int(batch_max.value // 1000))
    state.update((n, total, last_us))
    yield pd.DataFrame(
        [
            {
                "user_id": key[0],
                "n_events": n,
                "total_value": round(total, 2),
                "last_seen_us": last_us,
            }
        ]
    )


def running_user_totals(stream: DataFrame, key_col: str = "user_id") -> DataFrame:
    """Per-key lifetime totals, one updated row per key per micro-batch.
    Input needs ``ts`` (timestamp) and ``value`` (double) columns."""
    return stream.groupBy(key_col).applyInPandasWithState(
        _update,
        outputStructType=_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
