"""Spark SQL reference implementations of the live store's kernels,
which the engine computes on the driver:

- A1, the result summary (`store.summarize_trials`);
- A4, the per-budget stats (`ExperimentStore.budget_stats`);
- G5, the promotions (`ExperimentStore.promotable`);
- A8, the median early-stop bar (`ExperimentStore.median_bar`).

The tests compare the engine's answers against these relational
definitions.
"""

from __future__ import annotations


def summarize_finalized(finalized_df, direction: str) -> dict:
    """The A1 summary over a FINALIZED-trials relation.

    Null metrics are excluded from best/worst/avg (a null struct field
    would sort below every real metric under min and win `worst`);
    num_trials still counts every finalized row. Plain double avg:
    user metrics have arbitrary scale (a loss of 4e-5 would round to
    0 under the oracle kernel's decimal(18,4) accumulator, which
    exists for cross-engine parity on the fixtures, not results).
    """
    sign = "-1.0D" if direction == "min" else "1.0D"
    agg = finalized_df.selectExpr(
        "max(CASE WHEN final_metric IS NOT NULL THEN named_struct("
        f"'m', final_metric * {sign}, 'ns', -seq, 'trial_id', trial_id, 'final_metric', final_metric) END) AS b",
        "min(CASE WHEN final_metric IS NOT NULL THEN named_struct("
        f"'m', final_metric * {sign}, 'seq', seq, 'trial_id', trial_id, 'final_metric', final_metric) END) AS w",
        "avg(final_metric) AS avg",
        "count(*) AS num_trials",
        "CAST(sum(CASE WHEN early_stop THEN 1 ELSE 0 END) AS BIGINT) AS early_stopped",
    ).collect()[0]
    if agg.num_trials == 0 or agg.b is None:
        return {"num_trials": int(agg.num_trials or 0), "early_stopped": int(agg.early_stopped or 0)}
    return {
        "best_id": agg.b.trial_id,
        "best_val": agg.b.final_metric,
        "worst_id": agg.w.trial_id,
        "worst_val": agg.w.final_metric,
        "avg": agg.avg,
        "num_trials": agg.num_trials,
        "early_stopped": agg.early_stopped,
    }


def median_bar_sql(spark, trials_df, metrics_df, step_limit: int = 3) -> float | None:
    """A8: the median over FINALIZED trials of each trial's mean metric
    value at step <= step_limit."""
    row = spark.sql(
        """SELECT percentile(pavg, 0.5D) AS bar FROM (
            SELECT trial_id, avg(value) AS pavg
            FROM {m} JOIN (SELECT trial_id FROM {t} WHERE status = 'FINALIZED') f USING (trial_id)
            WHERE step <= :step_limit
            GROUP BY trial_id)""",
        args={"step_limit": step_limit},
        t=trials_df,
        m=metrics_df,
    ).collect()[0]
    return None if row.bar is None else float(row.bar)


def budget_stats_sql(spark, trials_df, direction: str):
    """A4: per-budget best, worst and mean metric over the FINALIZED
    trials with a metric, direction-aware."""
    best, worst = ("max", "min") if direction == "max" else ("min", "max")
    return spark.sql(
        f"""SELECT budget, {best}(final_metric) AS ybest, {worst}(final_metric) AS yworst,
               avg(final_metric) AS ymean, count(*) AS n_trials
        FROM {{t}} WHERE status = 'FINALIZED' AND final_metric IS NOT NULL
        GROUP BY budget""",
        t=trials_df,
    )


def promotable_sql(spark, trials_df, direction: str, eta: int):
    """G5: the top floor(n/eta) per budget-rung by metric, then seq."""
    order = "DESC" if direction == "max" else "ASC"
    return spark.sql(
        f"""SELECT rung, trial_id, final_metric, rank FROM (
            SELECT budget AS rung, trial_id, final_metric,
                row_number() OVER (PARTITION BY budget ORDER BY final_metric {order}, seq) AS rank,
                count(*) OVER (PARTITION BY budget) AS n
            FROM {{t}} WHERE status = 'FINALIZED' AND final_metric IS NOT NULL)
        WHERE rank <= floor(n / :eta)""",
        args={"eta": eta},
        t=trials_df,
    )
