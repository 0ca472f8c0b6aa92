"""MLlib traffic forecasting (SURVEY.md §7 phase 4; BASELINE.json
"Spark MLlib pipelines" north star).

The reference "predicts" by replaying the historical average for a
(dow, hour) slot (app/database.py:109-145). Here the same training
data — per (camera, date, hour) volumes — feeds an MLlib Pipeline
(one-hot dow/hour/camera → LinearRegression), which generalizes the
replay: with only categorical features it converges toward the same
slot means, and it extends to richer features without changing shape.

Model training is iterative/driver-coordinated → no SQL oracle
(rows-only driver check); tests compare its predictions against the
pattern-replay baseline instead.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..compat import constant_key, dow0, md5_hash, md5_hash_sql
from ..registry import register
from ..tables import load_table, memo_on_input, traffic_history


def _memoized(fn):
    """MLlib fits are EAGER — they run at DataFrame-construction time,
    unlike every other registry query (whose functions only build a
    plan). Registry-wide sweeps (tests/test_plans.py calls every
    registered query twice) would otherwise retrain the model — and
    leak one cached train frame — per call. Memoize the returned
    DataFrame per Spark application on the events files it trains on
    (tables.memo_on_input): DataFrames are immutable, so reuse is sound
    while those files are unchanged, and an append refits."""

    @functools.wraps(fn)
    def wrapper(spark: SparkSession, sf_dir: str) -> DataFrame:
        return memo_on_input(
            fn.__name__, spark, sf_dir, ("events",), lambda: fn(spark, sf_dir)
        )

    return wrapper


def training_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(camera_id, dow, hour_of_day, d, hourly_total) — the same daily
    slot sums the pattern-replay prediction averages over."""
    h = traffic_history(spark, sf_dir)
    return (
        h.groupBy(
            "camera_id",
            dow0("ts").alias("dow"),
            F.hour("ts").alias("hour_of_day"),
            F.to_date("ts").alias("d"),
        )
        .agg(F.sum("new_count").cast("double").alias("hourly_total"))
    )


def _pipeline():
    """The forecaster: one-hot camera/dow/hour → LinearRegression. Both
    q_ml_forecast and q_ml_forecast_eval (which sweeps regParam) fit it."""
    from pyspark.ml import Pipeline
    from pyspark.ml.feature import OneHotEncoder, StringIndexer, VectorAssembler
    from pyspark.ml.regression import LinearRegression

    return Pipeline(
        stages=[
            StringIndexer(
                inputCol="camera_id", outputCol="camera_idx", handleInvalid="keep"
            ),
            OneHotEncoder(
                inputCols=["camera_idx", "dow", "hour_of_day"],
                outputCols=["camera_oh", "dow_oh", "hour_oh"],
                handleInvalid="keep",
            ),
            VectorAssembler(
                inputCols=["camera_oh", "dow_oh", "hour_oh"], outputCol="features"
            ),
            LinearRegression(
                featuresCol="features",
                labelCol="hourly_total",
                predictionCol="predicted_volume",
                regParam=0.01,
                elasticNetParam=0.0,
            ),
        ]
    )


@register(oracle=None)
@_memoized
def q_ml_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train the pipeline and score every (camera, dow, hour) slot;
    returns slot-level predicted volume next to the replay baseline
    (avg_hourly_volume) for comparison."""
    train = training_frame(spark, sf_dir).cache()
    model = _pipeline().fit(train)

    slots = (
        train.groupBy("camera_id", "dow", "hour_of_day")
        .agg(
            F.avg("hourly_total").alias("avg_hourly_volume"),
            F.count(F.lit(1)).alias("days_observed"),
        )
    )
    scored = model.transform(slots)
    return (
        scored.select(
            "camera_id",
            "dow",
            "hour_of_day",
            F.round("avg_hourly_volume", 6).alias("avg_hourly_volume"),
            F.round("predicted_volume", 6).alias("predicted_volume"),
            "days_observed",
        )
        .orderBy("camera_id", "dow", "hour_of_day")
    )


CV_REG_GRID = [0.01, 0.1, 1.0]
CV_FOLDS = 3
CV_SEED = 42


@register(oracle=None)
@_memoized
def q_ml_forecast_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free evaluation of the MLlib forecaster: train on the
    FIRST 80% of days (the q_time_split chronological boundary — never
    a random row split, which leaks future slots into training), sweep
    ``regParam`` with a seeded ``CrossValidator`` on the train window,
    then score the held-out tail and report test RMSE next to the
    pattern-replay baseline (per-slot train-window mean, missing slots
    → 0 per reference app/database.py:138 semantics).

    Model selection is iterative/driver-coordinated (MLlib fits) → no
    SQL oracle; the pinned test asserts the model does not lose to the
    replay baseline beyond tolerance. Both RMSEs aggregate
    distributed — only the ≤|grid|×folds model fits touch the driver.
    """
    from pyspark.ml.evaluation import RegressionEvaluator
    from pyspark.ml.tuning import CrossValidator, ParamGridBuilder
    from pyspark.sql import Window

    frame = training_frame(spark, sf_dir)
    dates = frame.select("d").distinct()
    n = dates.agg(F.count(F.lit(1)).alias("n_dates"))
    # calendar-bounded rank: single partition by design (see q_time_split)
    w_cal = Window.partitionBy(constant_key(F.year("d"))).orderBy("d")
    split = (
        dates.withColumn("rn", F.row_number().over(w_cal))
        .crossJoin(F.broadcast(n))
        .select(
            "d", (F.col("rn") * 10 <= F.col("n_dates") * 8).alias("is_train")
        )
    )
    labeled = frame.join(F.broadcast(split), "d")
    train = labeled.filter("is_train").cache()
    test = labeled.filter(~F.col("is_train"))

    pipe = _pipeline()
    lr = pipe.getStages()[-1]
    grid = ParamGridBuilder().addGrid(lr.regParam, CV_REG_GRID).build()
    evaluator = RegressionEvaluator(
        labelCol="hourly_total", predictionCol="predicted_volume", metricName="rmse"
    )
    cv = CrossValidator(
        estimator=pipe,
        estimatorParamMaps=grid,
        evaluator=evaluator,
        numFolds=CV_FOLDS,
        seed=CV_SEED,
        parallelism=2,
    )
    model = cv.fit(train)
    best_reg = model.bestModel.stages[-1].getRegParam()

    err_m = F.col("predicted_volume") - F.col("hourly_total")
    m = model.transform(test).agg(
        F.round(F.sqrt(F.avg(err_m * err_m)), 6).alias("rmse_model"),
        F.count(F.lit(1)).alias("n_test"),
    )
    slot_means = train.groupBy("camera_id", "dow", "hour_of_day").agg(
        F.avg("hourly_total").alias("replay_volume")
    )
    err_b = F.coalesce("replay_volume", F.lit(0.0)) - F.col("hourly_total")
    b = (
        test.join(slot_means, ["camera_id", "dow", "hour_of_day"], "left")
        .agg(F.round(F.sqrt(F.avg(err_b * err_b)), 6).alias("rmse_baseline"))
    )
    t = train.agg(F.count(F.lit(1)).alias("n_train"))
    return (
        m.crossJoin(b)
        .crossJoin(t)
        .select(
            "n_train",
            "n_test",
            "rmse_model",
            "rmse_baseline",
            F.lit(best_reg).alias("best_reg_param"),
        )
    )


KFOLDS = 5


@register(
    oracle=f"""
WITH a AS (
  SELECT event_id,
         CAST({md5_hash_sql("'fold#' || CAST(event_id AS VARCHAR)", 15)}
              % {KFOLDS} AS INT) AS fold
  FROM events
)
SELECT fold, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(MIN(event_id) AS BIGINT) AS min_id,
       CAST(MAX(event_id) AS BIGINT) AS max_id
FROM a GROUP BY fold ORDER BY fold
""",
)
def q_kfold_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-fold cross-validation assignment: every event lands in one of
    {KFOLDS} folds by a salted md5 of its id — deterministic across
    engines, reruns and partitionings (a seeded RNG split is none of
    those), and uniform in expectation. The summary emits fold sizes
    and id ranges; the per-row assignment is the same pure map the
    training job would apply — zero shuffles beyond the ≤K-group
    rollup. Complements q_time_split's chronological split: k-fold for
    i.i.d. evaluation, time-split for leakage-free forecasting.
    """
    e = load_table(spark, sf_dir, "events")
    fold = F.pmod(
        md5_hash(F.concat(F.lit("fold#"), F.col("event_id").cast("string")), 15),
        F.lit(KFOLDS),
    ).cast("int")
    return (
        e.select("event_id", fold.alias("fold"))
        .groupBy("fold")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("event_id").cast("long").alias("min_id"),
            F.max("event_id").cast("long").alias("max_id"),
        )
        .orderBy("fold")
    )
