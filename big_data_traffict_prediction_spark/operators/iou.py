"""IoU-based stationary-vehicle suppression, batch form (SURVEY.md §2.8
F12, §2.9 St3).

The reference suppresses a detection if its bbox overlaps (IoU > 0.5)
any bbox from the previous frame of the same camera
(``app/services/camera.py:88-104`` hand-coded IoU, applied
``:239-256``). Batch form: each observation gets its predecessor's box
via ``lag()`` in one window pass and the IoU is pure column arithmetic —
greatest/least/multiply — entirely inside whole-stage codegen; no UDF.

Testdata has no bboxes, so deterministic synthetic boxes are derived
from each event's (value, props.k, id): ``simulate.detections_frame``
on the Spark side (the same frame the detection stream replays),
``_BBOX_SQL`` in the oracle — integer-only so cross-engine exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..compat import iou
from ..registry import register
from ..streaming.simulate import detections_frame
from ..tables import with_traffic

IOU_THRESHOLD = 0.5

_BBOX_SQL = """
SELECT camera_id, ts, id,
       CAST(FLOOR(value) AS BIGINT) % 80 AS x1,
       CAST(json_extract_string(props, '$.k') AS BIGINT) % 80 AS y1,
       CAST(FLOOR(value) AS BIGINT) % 80 + 15 + id % 10 AS x2,
       CAST(json_extract_string(props, '$.k') AS BIGINT) % 80 + 15 + id % 7 AS y2
FROM traffic
""".strip()


@register(
    oracle=with_traffic(f"""
, boxes AS (
  {_BBOX_SQL}
),
seq AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY camera_id ORDER BY ts, id) AS rn
  FROM boxes
)
SELECT c.camera_id, c.id AS event_id, p.id AS prev_event_id,
       ROUND(
         CAST(GREATEST(0, LEAST(c.x2, p.x2) - GREATEST(c.x1, p.x1))
            * GREATEST(0, LEAST(c.y2, p.y2) - GREATEST(c.y1, p.y1)) AS DOUBLE)
         / CAST((c.x2 - c.x1) * (c.y2 - c.y1) + (p.x2 - p.x1) * (p.y2 - p.y1)
            - GREATEST(0, LEAST(c.x2, p.x2) - GREATEST(c.x1, p.x1))
            * GREATEST(0, LEAST(c.y2, p.y2) - GREATEST(c.y1, p.y1)) AS DOUBLE),
         6) AS iou,
       (CAST(GREATEST(0, LEAST(c.x2, p.x2) - GREATEST(c.x1, p.x1))
           * GREATEST(0, LEAST(c.y2, p.y2) - GREATEST(c.y1, p.y1)) AS DOUBLE)
        / CAST((c.x2 - c.x1) * (c.y2 - c.y1) + (p.x2 - p.x1) * (p.y2 - p.y1)
           - GREATEST(0, LEAST(c.x2, p.x2) - GREATEST(c.x1, p.x1))
           * GREATEST(0, LEAST(c.y2, p.y2) - GREATEST(c.y1, p.y1)) AS DOUBLE))
        > {IOU_THRESHOLD} AS suppressed
FROM seq c
JOIN seq p ON p.camera_id = c.camera_id AND p.rn = c.rn - 1
ORDER BY c.camera_id, event_id
"""),
)
def q_iou_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Static-vehicle suppression: IoU of each observation's box vs the
    previous frame's box of the same camera; suppressed when
    IoU > 0.5. The previous box arrives via ``lag()`` in ONE window
    pass over the per-camera sort — no rank+self-join, half the work of
    the two-branch form, a single (camera_id) shuffle total, and the
    IoU itself never leaves codegen."""
    boxes = detections_frame(spark, sf_dir)
    w = Window.partitionBy("camera_id").orderBy("ts", "id")
    prev = boxes.select(
        "camera_id",
        "ts",
        "id",
        "x1",
        "y1",
        "x2",
        "y2",
        *[F.lag(col).over(w).alias(f"p_{col}") for col in ("id", "x1", "y1", "x2", "y2")],
    )
    pair_iou = iou(
        (F.col("x1"), F.col("y1"), F.col("x2"), F.col("y2")),
        (F.col("p_x1"), F.col("p_y1"), F.col("p_x2"), F.col("p_y2")),
    )
    return (
        prev.filter(F.col("p_id").isNotNull())
        .select(
            "camera_id",
            F.col("id").alias("event_id"),
            F.col("p_id").alias("prev_event_id"),
            F.round(pair_iou, 6).alias("iou"),
            (pair_iou > IOU_THRESHOLD).alias("suppressed"),
        )
        # output-only sort dropped — data-sized output, order-insensitive gate (guide §2.4)
    )
