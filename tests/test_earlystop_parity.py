"""Pin the TRIAL-LOCAL median early-stop predicate (_make_stop_check,
the cooperative check evaluated inside executor tasks) to the batch
twin c3_median_rule's semantics — in particular for histories SHORTER
than the checked step, whose prefix mean must average over the steps
that exist, not divide by s (reference medianrule.py:27-60).
"""

import base64
import json
import statistics

from hypothesis import given, settings
from hypothesis import strategies as st

from maggy_spark.executor import _dumps_by_value, _make_stop_check, median_rule

_MEDIAN = base64.b64encode(_dumps_by_value(median_rule)).decode("ascii")
_vals = st.floats(min_value=-100, max_value=100, allow_nan=False, allow_infinity=False)


def _check_for(histories, direction="max", es_interval=1):
    return _make_stop_check(
        json.dumps(
            {
                "direction": direction,
                "es_interval": es_interval,
                "rule": _MEDIAN,
                "finalized": [{"metric_history": h} for h in histories],
            }
        ),
        "t0",
    )


@settings(max_examples=200, deadline=None, derandomize=True)
@given(
    histories=st.lists(st.lists(_vals, min_size=1, max_size=6), min_size=1, max_size=9),
    checked=st.lists(_vals, min_size=1, max_size=6),
)
def test_trial_local_median_semantics_property(histories, checked):
    """Independent formulation of the rule: bar = statistics.median of
    each finished history's mean over its first min(s, len) values;
    stop iff the checked trial's best is strictly below the bar. This
    pins both the even/odd median arithmetic and the short-history
    averaging of the trial-local path. The mean uses a plain
    left-to-right float sum like the implementation (and the
    reference rule) — fmean's exact fsum differs on catastrophic-
    cancellation histories (e.g. [99.0, 2e-16, -99.0]), which is a
    summation-primitive choice, not part of the pinned semantics."""
    s = len(checked)
    bar = statistics.median(sum(h[:s]) / len(h[:s]) for h in histories)
    for direction, expected in (
        ("max", max(checked) < bar),
        ("min", min(checked) > bar),
    ):
        got = _check_for(histories, direction)(list(range(s)), checked)
        assert got == expected


def test_trial_local_check_interval_gating():
    check = _check_for([[1.0, 1.0, 1.0]], es_interval=2)
    # s=1: off-interval -> never stops regardless of value
    assert check([0], [-100.0]) is False
    # s=2: on-interval -> the terrible metric stops
    assert check([0, 1], [-100.0, -100.0]) is True


def test_trial_local_bar_equals_c3_bar_on_fixture(spark, sf_dir):
    """Feed the IDENTICAL fixture histories through both paths: the
    batch c3_median_rule's __median_bar__ row and the trial-local
    predicate must brakcet the same threshold (c3 rounds to 4
    decimals, so probe ±1e-3 around it). The fixture's ragged 1-7
    step histories exercise the shorter-than-s case at s=3."""
    from maggy_spark.operators.earlystop import c3_median_rule
    from maggy_spark.plans.fixtures import metrics_df, trials_df

    hist = {}
    for r in metrics_df(spark, sf_dir).collect():
        hist.setdefault(r["trial_id"], []).append((r["step"], r["value"]))
    fins = [
        [v for _, v in sorted(hist[r["trial_id"]])]
        for r in trials_df(spark, sf_dir, statuses=["FINALIZED"]).collect()
        if hist.get(r["trial_id"])
    ]
    assert any(len(h) < 3 for h in fins), "fixture should have short histories"

    bar_c3 = next(
        r["median_bar"]
        for r in c3_median_rule(spark, sf_dir, step_limit=3).collect()
        if r["trial_id"] == "__median_bar__"
    )
    check = _check_for(fins)
    steps3 = [0, 1, 2]
    assert check(steps3, [bar_c3 - 1e-3] * 3) is True  # just below the bar -> stop
    assert check(steps3, [bar_c3 + 1e-3] * 3) is False  # just above -> continue


def _stop_only_real(to_check, finalized, direction):
    """A rule keyed on the checked trial's id: it stops trial "real"."""
    return to_check.trial_id if to_check.trial_id == "real" else None


def _three_steps(reporter):
    for step in range(3):
        reporter.broadcast(float(step), step)
    return 3.0


def test_rule_sees_the_checked_trials_real_id(spark):
    """The rule's `to_check.trial_id` is the running trial's id, not a
    placeholder: a rule that returns it only for one trial stops only
    that trial."""
    from maggy_spark.executor import run_trial_wave

    src = json.dumps({
        "direction": "max", "es_interval": 1,
        "rule": base64.b64encode(_dumps_by_value(_stop_only_real)).decode("ascii"),
        "finalized": [{"trial_id": "done", "metric_history": [1.0, 1.0, 1.0]}],
    })
    pending = [{"trial_id": "real", "params": {}}, {"trial_id": "other", "params": {}}]
    real, other = run_trial_wave(spark, pending, _three_steps, stop_check_source=src)
    assert real["early_stop"] and real["metric_history"] == [0.0]
    assert not other["early_stop"] and other["final_metric"] == 3.0
