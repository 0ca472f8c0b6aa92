"""Stateful streaming: per-camera IoU dedup + accumulators
(SURVEY.md §2.9 St2-St3).

The reference keeps per-camera mutable dicts guarded by a global lock
(``app/globals.py:4,13-14``) and suppresses a detection whose bbox
overlaps the previous frame's bbox at IoU > 0.5
(``app/services/camera.py:239-256``); accumulated counts are ``+=``
under the GIL (``:287-290``). Here the same semantics are ONE
``applyInPandasWithState`` operator keyed by camera_id: state =
(previous bbox, accumulated counts); locks, GIL and the dual-store
sync script all disappear — the state store + checkpoint give
exactly-once.

Rows within each micro-batch are processed in (ts, id) order, so the
suppressed-set matches the batch operator q_iou_dedup exactly — that
equivalence is pinned by tests/test_streaming.py.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

IOU_THRESHOLD = 0.5

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("camera_id", T.StringType()),
        T.StructField("id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("new_count", T.LongType()),
        T.StructField("iou_prev", T.DoubleType()),
        T.StructField("suppressed", T.BooleanType()),
        T.StructField("accumulated_count", T.LongType()),
    ]
)

# state: last seen bbox + running accumulator
STATE_SCHEMA = T.StructType(
    [
        T.StructField("x1", T.LongType()),
        T.StructField("y1", T.LongType()),
        T.StructField("x2", T.LongType()),
        T.StructField("y2", T.LongType()),
        T.StructField("accumulated", T.LongType()),
        T.StructField("has_prev", T.BooleanType()),
    ]
)


def _iou(a: tuple[int, int, int, int], b: tuple[int, int, int, int]) -> float:
    ix = max(0, min(a[2], b[2]) - max(a[0], b[0]))
    iy = max(0, min(a[3], b[3]) - max(a[1], b[1]))
    inter = ix * iy
    union = (a[2] - a[0]) * (a[3] - a[1]) + (b[2] - b[0]) * (b[3] - b[1]) - inter
    return inter / union if union > 0 else 0.0


def dedup_fn(
    key: tuple[str], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per-camera state function: the micro-batch arrives as Arrow
    chunks, but the IoU suppression runs row by row in Python over the
    sorted batch (each row compares with the previous row's box)."""
    (camera_id,) = key
    if state.exists:
        x1, y1, x2, y2, accumulated, has_prev = state.get
        prev: tuple[int, int, int, int] | None = (x1, y1, x2, y2) if has_prev else None
    else:
        prev, accumulated = None, 0

    out: list[dict[str, Any]] = []
    # Buffer the whole micro-batch and sort ONCE: Arrow chunk order
    # within a group is not guaranteed, and per-chunk sorting would
    # dedup against the wrong "previous" frame across chunk seams.
    chunks = list(pdfs)
    batch = pd.concat(chunks, ignore_index=True) if chunks else pd.DataFrame()
    if len(batch):
        batch = batch.sort_values(["ts", "id"])
        for row in batch.itertuples(index=False):
            box = (int(row.x1), int(row.y1), int(row.x2), int(row.y2))
            iou_prev = _iou(box, prev) if prev is not None else 0.0
            suppressed = iou_prev > IOU_THRESHOLD
            if not suppressed:
                accumulated += int(row.new_count)
            out.append(
                {
                    "camera_id": camera_id,
                    "id": int(row.id),
                    "ts": row.ts,
                    "new_count": int(row.new_count),
                    "iou_prev": float(iou_prev),
                    "suppressed": bool(suppressed),
                    "accumulated_count": accumulated,
                }
            )
            prev = box

    if prev is not None:
        state.update((prev[0], prev[1], prev[2], prev[3], accumulated, True))
    else:
        state.update((0, 0, 0, 0, accumulated, False))
    if out:
        yield pd.DataFrame(out)


def stateful_dedup(stream: DataFrame) -> DataFrame:
    """Wire the state function onto a (possibly streaming) detection
    frame keyed by camera_id."""
    return stream.groupBy("camera_id").applyInPandasWithState(
        dedup_fn,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --- congestion episodes ------------------------------------------------
#
# Detect sustained congestion EPISODES per camera (consecutive
# observations ≥ EPISODE_THRESHOLD) and emit one row when an episode
# CLOSES (a below-threshold observation arrives). An episode still open
# at end-of-stream stays in state — exactly the long-running-job
# semantics: the next feed file resumes it from the checkpoint.
#
# One `applyInPandasWithState` operator keyed by camera_id
# (`congestion_episodes`, registered as q_stream_congestion_episodes and
# oracle-checked); state = the open episode, if any.

EPISODE_THRESHOLD = 300

EPISODE_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("camera_id", T.StringType()),
        T.StructField("episode_start", T.TimestampType()),
        T.StructField("episode_end", T.TimestampType()),
        T.StructField("n_obs", T.LongType()),
        T.StructField("peak", T.LongType()),
        T.StructField("total", T.LongType()),
    ]
)

_EPISODE_STATE_SCHEMA = T.StructType(
    [
        T.StructField("start_us", T.LongType()),
        T.StructField("end_us", T.LongType()),
        T.StructField("n_obs", T.LongType()),
        T.StructField("peak", T.LongType()),
        T.StructField("total", T.LongType()),
        T.StructField("is_open", T.BooleanType()),
    ]
)


def _fold_episodes(cur, pdfs):
    """The episode fold: buffer the whole micro-batch and sort ONCE —
    Arrow delivers a group as multiple chunks in no guaranteed order,
    so per-chunk sorting would mis-segment episodes whenever a batch
    spans chunks. Returns (open_episode_or_None, closed_episode_tuples)."""
    chunks = list(pdfs)
    if not chunks:  # state fn can fire without rows (e.g. timeout modes)
        return cur, []
    batch = pd.concat(chunks, ignore_index=True).sort_values(["ts", "id"])
    closed: list[tuple] = []
    for ts, nc in zip(batch["ts"], batch["new_count"]):
        us = ts.value // 1000  # pandas ns → µs (exact integers)
        nc = int(nc)
        if nc >= EPISODE_THRESHOLD:
            if cur is None:
                cur = (us, us, 1, nc, nc)
            else:
                cur = (cur[0], us, cur[2] + 1, max(cur[3], nc), cur[4] + nc)
        elif cur is not None:
            closed.append(cur)
            cur = None
    return cur, closed


def _closed_frame(camera_id, closed):
    return pd.DataFrame(
        {
            "camera_id": [camera_id] * len(closed),
            "episode_start": [pd.Timestamp(c[0] * 1000) for c in closed],
            "episode_end": [pd.Timestamp(c[1] * 1000) for c in closed],
            "n_obs": [c[2] for c in closed],
            "peak": [c[3] for c in closed],
            "total": [c[4] for c in closed],
        }
    )


def episodes_fn(
    key: tuple[str], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per-camera state function: state = (start_us, end_us, n_obs,
    peak, total, is_open) of the open episode; emits the episodes that
    closed in this micro-batch."""
    (camera_id,) = key
    cur: tuple | None = None
    if state.exists:
        start_us, end_us, n_obs, peak, total, is_open = state.get
        if is_open:
            cur = (start_us, end_us, n_obs, peak, total)
    cur, closed = _fold_episodes(cur, pdfs)
    if cur is None:
        state.update((0, 0, 0, 0, 0, False))
    else:
        state.update((*cur, True))
    if closed:
        yield _closed_frame(camera_id, closed)


def congestion_episodes(stream: DataFrame) -> DataFrame:
    return stream.groupBy("camera_id").applyInPandasWithState(
        episodes_fn,
        outputStructType=EPISODE_OUTPUT_SCHEMA,
        stateStructType=_EPISODE_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
