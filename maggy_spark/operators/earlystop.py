"""Metric-stream operators: dedup and the median early-stopping rule.

Reference: metric append dedup-by-step ignoring nulls
(`maggy/trial.py:93-108`, C2) and the median stopping rule
(`maggy/earlystop/medianrule.py:27-60`, C3) triggered per
`es_interval` steps (`optimization_driver.py:456-471`).

Batch forms here are the oracle-checkable core; the streaming forms
(watermark + dropDuplicates + trigger re-evaluation) live in
maggy_spark.streaming and reuse the same expressions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from maggy_spark.plans.fixtures import metrics_df, metrics_raw_df, trials_df, with_fixtures

DEC = "decimal(18,4)"


# -- C2: metric dedup ---------------------------------------------------


def c2_metric_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drop null-valued metrics and collapse duplicate steps.

    Reference: `Trial.append_metric` (`trial.py:93-108`) ignores
    null values and already-seen steps. Relationally: filter +
    group-by-first (duplicate steps carry identical values in the
    fixture, so min() is the deterministic representative).
    In streaming this is `withWatermark + dropDuplicates`.
    """
    raw = metrics_raw_df(spark, sf_dir)
    return (
        raw.where(F.col("value").isNotNull())
        .groupBy("trial_id", "step")
        .agg(F.min("value").alias("value"))
    )


C2_SQL = with_fixtures(
    """
SELECT trial_id, step, min(value) AS value
FROM metrics_raw
WHERE value IS NOT NULL
GROUP BY trial_id, step
"""
)


# -- C3: median stopping rule ------------------------------------------


def c3_median_rule(spark: SparkSession, sf_dir: str, step_limit: int = 3) -> DataFrame:
    """Early-stop decision for every running trial (direction=max).

    Reference: `MedianStoppingRule.earlystop_check`
    (`medianrule.py:27-60`): for the checked trial at step s, take
    each finished trial's mean of its first s metrics; the median of
    those is the bar; stop the checked trial if its best (max)
    observed metric is below the bar.

    The output also carries ONE explicit `__median_bar__` row holding
    the bar aggregate itself — the A8 median-of-prefix-averages
    threshold (`medianrule.py:44-51`) — so the driver's value-hash
    gate verifies the A8 semantics directly (not only as a repeated
    column on running-trial rows, which would vanish if no trial is
    running).
    """
    # Single scan of metrics, single join with trial status, single
    # groupBy computing both the prefix-average inputs (finalized
    # trials) and the best-so-far (running trials); the median bar is
    # a 1-row broadcast-joined aggregate. Two shuffles total — the
    # shape that holds at 1000 executors.
    def build_per_trial():
        from pyspark.sql import Window

        m = metrics_df(spark, sf_dir)
        t = trials_df(spark, sf_dir, statuses=["FINALIZED", "RUNNING"]).select(
            "trial_id", "status"
        )
        # "first s" is POSITIONAL (the first s observations of the
        # history, row_number over step order), matching the reference,
        # which indexes interim-metric ARRAYS (medianrule.py:44-51),
        # and the trial-local rule (executor.median_rule) —
        # fixture histories have step-label gaps, so filtering on the
        # label would silently diverge (pinned by
        # tests/test_earlystop_parity.py). The window's trial_id
        # partitioning is the SAME one the groupBy needs: still one
        # exchange total.
        w = Window.partitionBy("trial_id").orderBy("step")
        return (
            m.join(t, "trial_id")
            .withColumn("rn", F.row_number().over(w))
            .groupBy("trial_id", "status")
            .agg(
                F.sum(F.when(F.col("rn") <= step_limit, F.col("value").cast(DEC))).alias("psum"),
                F.count(F.when(F.col("rn") <= step_limit, F.col("value"))).alias("pcnt"),
                F.max("value").alias("best_metric"),
            )
        )

    # consumed twice (median bar + per-trial decisions) AND by every
    # repeated invocation in a session (gate, bench reps): session-
    # cache the materialization instead of leaking one persisted copy
    # per call
    from maggy_spark.plans.fixtures import session_cached

    per_trial = session_cached(spark, ("c3_per_trial", sf_dir, step_limit), build_per_trial)
    pavg = per_trial.where((F.col("status") == "FINALIZED") & (F.col("pcnt") > 0)).select(
        (F.col("psum").cast("double") / F.col("pcnt")).alias("pavg")
    )
    median = pavg.agg(F.round(F.percentile("pavg", F.lit(0.5)), 4).alias("median_bar"))
    decisions = (
        per_trial.where(F.col("status") == "RUNNING")
        .crossJoin(F.broadcast(median))
        .select(
            "trial_id",
            "best_metric",
            "median_bar",
            (F.col("best_metric") < F.col("median_bar")).alias("should_stop"),
        )
    )
    # A8: the bar itself as one sentinel row (1-row union, no shuffle)
    bar_row = median.select(
        F.lit("__median_bar__").alias("trial_id"),
        F.lit(None).cast("double").alias("best_metric"),
        F.col("median_bar"),
        # false, not NULL: a null in a boolean column degrades the
        # oracle's pandas dtype to object and trips the schema gate
        F.lit(False).alias("should_stop"),
    )
    return decisions.unionAll(bar_row)


C3_SQL = with_fixtures(
    """
, pos AS (
    SELECT m.trial_id, m.value,
           row_number() OVER (PARTITION BY m.trial_id ORDER BY m.step) AS rn
    FROM metrics m
    JOIN trials t ON m.trial_id = t.trial_id AND t.status = 'FINALIZED'
),
pavg AS (
    SELECT trial_id,
           cast(sum(cast(value AS DECIMAL(18,4))) AS DOUBLE) / count(value) AS pavg
    FROM pos
    WHERE rn <= 3
    GROUP BY trial_id
),
med AS (SELECT round(quantile_cont(pavg, 0.5), 4) AS median_bar FROM pavg),
best AS (
    SELECT m.trial_id, max(m.value) AS best_metric
    FROM metrics m
    JOIN trials t ON m.trial_id = t.trial_id AND t.status = 'RUNNING'
    GROUP BY m.trial_id
)
SELECT b.trial_id, b.best_metric, med.median_bar,
       (b.best_metric < med.median_bar) AS should_stop
FROM best b CROSS JOIN med
UNION ALL
SELECT '__median_bar__', CAST(NULL AS DOUBLE), median_bar, FALSE
FROM med
"""
)


OPERATORS = [
    ("c2_metric_dedup", c2_metric_dedup, C2_SQL),
    ("c3_median_rule", c3_median_rule, C3_SQL),
]
