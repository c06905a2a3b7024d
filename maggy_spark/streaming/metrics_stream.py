"""Structured Streaming forms of the metric-stream operators.

Reference control plane (SURVEY.md §2.3): heartbeat messages every
`hb_interval` seconds (`maggy/core/rpc.py:716-737`) append
(trial_id, step, value) to per-trial histories with duplicate steps
dropped and nulls ignored (`maggy/trial.py:93-108`); the driver
re-evaluates early stopping per message batch
(`optimization_driver.py:433-471`).

Streaming mapping:
- heartbeats -> any streaming source with schema
  `metrics(trial_id STRING, step BIGINT, value DOUBLE, ts TIMESTAMP)`
- C2 dedup -> `withWatermark(ts) + dropDuplicates([trial_id, step])`;
  the watermark bounds dedup state exactly like the reference's
  "stale steps are rejected" rule (`reporter.py:95-96`)
- C3 trigger -> each micro-batch recomputes the median rule over the
  accumulated per-trial state (foreachBatch against the batch C3
  query, reusing the same expressions as operators/earlystop.py)

State scale: dropDuplicates state is (trial_id, step) keys inside
the watermark horizon; per-trial running aggregates are bounded by
active trials — both fine for 1000-executor clusters.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEC = "decimal(18,4)"


def dedup_metric_stream(metrics_stream: DataFrame, watermark: str = "10 seconds") -> DataFrame:
    """C2 in streaming form: drop null values, dedup (trial_id, step)
    within the watermark horizon.

    Must be dropDuplicatesWithinWatermark: plain dropDuplicates only
    evicts state when the event-time column is part of the dedup key,
    so keying on (trial_id, step) alone would grow state forever on a
    long-running heartbeat stream.
    """
    return (
        metrics_stream.withWatermark("ts", watermark)
        .where(F.col("value").isNotNull())
        .dropDuplicatesWithinWatermark(["trial_id", "step"])
    )


def windowed_metric_aggregates(
    metrics_stream: DataFrame, watermark: str = "10 seconds", window: str = "5 seconds"
) -> DataFrame:
    """Tumbling-window per-trial aggregates over the deduped stream:
    count/mean/max per (trial, window) — the progress feed the
    reference exposes via LOG polling (`spark_driver.py:253-264`)."""
    deduped = dedup_metric_stream(metrics_stream, watermark)
    return deduped.groupBy(
        F.window("ts", window).alias("w"), F.col("trial_id")
    ).agg(
        F.count("value").alias("n_reports"),
        # plain double mean: USER metrics have arbitrary scale — the
        # decimal(18,4) accumulator (which exists for cross-engine
        # parity on the fixtures) rounds a 4e-5 loss to 0 and overflows
        # to null past 1e14 (same reasoning as the A1 summary,
        # store.summarize_trials)
        F.avg("value").alias("mean_value"),
        F.max("value").alias("max_value"),
    )


def early_stop_decisions_stream(
    metrics_stream: DataFrame,
    finalized_prefix_avgs: DataFrame,
    watermark: str = "10 seconds",
    direction: str = "max",
) -> DataFrame:
    """C3 as a streaming query: running trials' best-so-far vs the
    (static) median bar of finalized trials' prefix averages.

    `finalized_prefix_avgs` is the batch-side relation
    (trial_id, pavg) — a static DataFrame joined into the stream;
    the stream side keeps only per-trial max state."""
    bar = finalized_prefix_avgs.agg(
        F.round(F.percentile("pavg", F.lit(0.5)), 4).alias("median_bar")
    )
    deduped = dedup_metric_stream(metrics_stream, watermark)
    # "best so far" is direction-dependent: max of the stream when
    # maximizing, min when minimizing (matches the batch twin in
    # executor.median_rule)
    best_agg = F.max("value") if direction == "max" else F.min("value")
    best = deduped.groupBy("trial_id").agg(best_agg.alias("best_metric"))
    cmp = (F.col("best_metric") < F.col("median_bar")) if direction == "max" else (
        F.col("best_metric") > F.col("median_bar")
    )
    return best.crossJoin(bar).select("trial_id", "best_metric", "median_bar", cmp.alias("should_stop"))


def stateful_trial_tracker(
    metrics_stream: DataFrame,
    median_bar: float,
    direction: str = "max",
    timeout_conf: str = "NoTimeout",
) -> DataFrame:
    """Custom stateful operator via `applyInPandasWithState`: per-trial
    running (best, count, stop?) state maintained across micro-batches
    — the arbitrary-state form of the early-stop trigger for when
    per-batch recomputation over the full history gets expensive
    (SURVEY.md §7.3e).

    State per trial_id: (best_metric DOUBLE, n_reports BIGINT,
    max_step BIGINT). Each micro-batch folds its new rows into the
    state and emits the updated row with the stop decision against
    the (static) bar. Duplicate/regressed steps are dropped like the
    reference's metric append (`trial.py:93-108`): only rows with
    step > max_step count, processed in step order.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = "trial_id string, best_metric double, n_reports bigint, should_stop boolean"
    state_schema = "best_metric double, n_reports bigint, max_step bigint"
    is_max = direction == "max"

    def update(key, pdfs, state: GroupState):
        import pandas as _pd

        best = None
        count = 0
        max_step = -1
        if state.exists:
            best, count, max_step = state.get
        for pdf in pdfs:
            pdf = pdf.dropna(subset=["value"]).sort_values("step")
            pdf = pdf[pdf["step"] > max_step].drop_duplicates(subset=["step"], keep="first")
            if len(pdf):
                vals = pdf["value"]
                batch_best = float(vals.max() if is_max else vals.min())
                best = batch_best if best is None else (
                    max(best, batch_best) if is_max else min(best, batch_best)
                )
                count += int(len(vals))
                max_step = int(pdf["step"].max())
        state.update((best, count, max_step))
        stop = (
            best is not None
            and ((best < median_bar) if is_max else (best > median_bar))
        )
        yield _pd.DataFrame(
            [{"trial_id": key[0], "best_metric": best, "n_reports": count, "should_stop": stop}]
        )

    return metrics_stream.groupBy("trial_id").applyInPandasWithState(
        update, out_schema, state_schema, "update", getattr(GroupStateTimeout, timeout_conf)
    )
