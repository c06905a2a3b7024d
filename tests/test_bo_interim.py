"""Multi-fidelity BO: interim-results surrogate augmentation.

The reference feeds every k-th interim metric (plus the final one) of
each finalized trial into the GP training matrix, with the hparam
vector augmented by a normalized-budget column z = [x, n/N]
(`maggy/optimizer/bayes/base.py:536-668`; gp.py:200-204 acquires at
z = 1). These tests pin:

- the index-selection rule against the reference's exact semantics,
- `BaseAsyncBO.get_XY(interim_results=True)` row-for-row against the
  DuckDB-oracle-checked relational twin `a10b_interim_xy`,
- the GP end-to-end path with `interim_results=True` through `lagom`.
"""

import numpy as np
import pytest

from maggy_spark import Searchspace, lagom
from maggy_spark.bayes import GP, BaseAsyncBO
from maggy_spark.config import HyperparameterOptConfig
from maggy_spark.trial import Trial


# -- index selection (reference base.py:643-668) -----------------------


def test_get_interim_result_idx_reference_semantics():
    f = BaseAsyncBO.get_interim_result_idx
    # every 10th (1-based) plus final
    assert f(list(range(25)), 10) == [9, 19, 24]
    # final already on the interval -> not duplicated
    assert f(list(range(20)), 10) == [9, 19]
    # history shorter than one interval -> just the final result
    assert f(list(range(4)), 10) == [3]
    assert f([7.0], 10) == [0]
    # interval 1 keeps everything
    assert f(list(range(3)), 1) == [0, 1, 2]


def _controller_from_fixtures(spark, sf_dir):
    """Load the fixture trials/metrics relations into a live GP
    controller, the way a finished experiment would populate it."""
    from maggy_spark.plans.fixtures import metrics_df, trials_df

    gp = GP(num_warmup_trials=0, n_points=50, interim_results=True, interim_results_interval=2)
    gp.initialize(Searchspace(p1=("INTEGER", [0, 49])), 10_000, "max", 5)

    hist = {}
    for r in metrics_df(spark, sf_dir).collect():
        hist.setdefault(r["trial_id"], []).append((r["step"], r["value"]))
    for r in trials_df(spark, sf_dir, statuses=["FINALIZED"]).collect():
        t = Trial({"p1": int(r["p1"])})
        steps = sorted(hist.get(r["trial_id"], []))
        t.step_history = [s for s, _ in steps]
        t.metric_history = [v for _, v in steps]
        t.finalize(t.metric_history[-1] if t.metric_history else None)
        gp.finalize_trial(t)
    return gp


def test_get_xy_interim_matches_a10b_relation(spark, sf_dir):
    """get_XY(interim_results=True) must be the in-memory twin of the
    oracle-green a10b_interim_xy relation: same multiset of
    (x1, z_budget, y) rows over the same fixture corpus."""
    from maggy_spark.operators.aggregations import a10b_interim_xy

    gp = _controller_from_fixtures(spark, sf_dir)
    X, y = gp.get_XY(interim_results=True, interim_results_interval=2)

    rel = a10b_interim_xy(spark, sf_dir, interval=2).collect()
    assert X.shape == (len(rel), 2)
    got = sorted((round(x[0], 9), round(x[1], 9), round(v, 9)) for x, v in zip(X, y))
    want = sorted(
        (round(r["x1"], 9), round(r["z_budget"], 9), round(r["y"], 9)) for r in rel
    )
    assert got == want


def test_get_xy_interim_empty_and_shapes():
    gp = GP(num_warmup_trials=0, interim_results=True)
    gp.initialize(Searchspace(x=("DOUBLE", [0, 1])), 10, "min", 5)
    X, y = gp.get_XY(interim_results=True)
    assert X.shape == (0, 2) and y.shape == (0,)
    t = Trial({"x": 0.5})
    t.metric_history = [3.0, 2.0, 1.0]
    t.step_history = [0, 1, 2]
    t.finalize(1.0)
    gp.finalize_trial(t)
    X, y = gp.get_XY(interim_results=True, interim_results_interval=2)
    # indices {1, 2} of a 3-long history; z = i/(N-1) with N=3
    assert X.shape == (2, 2)
    assert pytest.approx(sorted(X[:, 1])) == [0.5, 1.0]
    assert pytest.approx(sorted(y)) == [1.0, 2.0]  # min direction: raw values


def test_gp_interim_busy_locations_augmented_at_full_budget():
    """Busy (evaluating) trials join the fit at z = 1 with the liar
    metric (reference base.py:601-640); suggestion still lands in the
    searchspace box after the budget column is dropped."""
    gp = GP(num_warmup_trials=0, n_points=64, interim_results=True, interim_results_interval=2)
    gp.initialize(Searchspace(x=("DOUBLE", [0, 1])), 10, "min", 5)
    rng = np.random.default_rng(3)
    for i in range(4):
        t = Trial({"x": float(rng.random())})
        t.metric_history = [float(3 - s + 0.1 * i) for s in range(3)]
        t.step_history = [0, 1, 2]
        t.finalize(t.metric_history[-1])
        gp.finalize_trial(t)
    gp.trial_store = {t.trial_id: t for t in (Trial({"x": 0.25}), Trial({"x": 0.75}))}
    params = gp.suggest_model_params()
    assert set(params) == {"x"}
    assert 0.0 <= params["x"] <= 1.0


def test_gp_interim_e2e(spark):
    """lagom with interim_results=True: trials report a 6-step history,
    the surrogate trains on the augmented matrix, and the search still
    finds a good point on the parabola."""

    def train(x, reporter):
        for step in range(6):
            # converging interim metric: final value is (x-0.6)^2
            reporter.broadcast((x - 0.6) ** 2 + (5 - step) * 0.05, step)
        return (x - 0.6) ** 2

    cfg = HyperparameterOptConfig(
        num_trials=10,
        optimizer=GP(n_points=300, num_warmup_trials=4, interim_results=True, interim_results_interval=2),
        searchspace=Searchspace(x=("DOUBLE", [0.0, 1.0])),
        direction="min",
        es_policy="none",
        seed=7,
        parallelism=2,
    )
    res = lagom(train, cfg, spark)
    assert res["num_trials"] == 10
    assert res["best_val"] < 0.1


def test_gp_interim_distributed_scoring():
    """The deprecated distributed_scoring flag warns and is a no-op
    under interim_results: budget-augmented candidates are scored on
    the driver at z = 1 and the suggestion still decodes to the plain
    searchspace box."""
    with pytest.warns(DeprecationWarning, match="distributed_scoring"):
        gp = GP(
            n_points=256,
            num_warmup_trials=0,
            interim_results=True,
            interim_results_interval=2,
            distributed_scoring=True,
        )
    gp.initialize(Searchspace(x=("DOUBLE", [0.0, 1.0])), 10, "min", 5)
    rng = np.random.default_rng(4)
    for i in range(4):
        t = Trial({"x": float(rng.random())})
        t.metric_history = [float(3 - s + 0.1 * i) for s in range(4)]
        t.step_history = [0, 1, 2, 3]
        t.finalize(t.metric_history[-1])
        gp.finalize_trial(t)
    params = gp.suggest_model_params()
    assert set(params) == {"x"}
    assert 0.0 <= params["x"] <= 1.0


# -- round-6 review-fix regressions -------------------------------------


def test_gp_interim_falls_back_when_no_histories():
    """interim_results=True with a train_fn that never broadcast:
    every history is empty, so the fit must fall back to the
    final-metric matrix instead of dying on a zero-size y.min()."""
    gp = GP(num_warmup_trials=0, n_points=64, interim_results=True)
    gp.initialize(Searchspace(x=("DOUBLE", [0, 1])), 10, "min", 5)
    for i in range(4):
        t = Trial({"x": i / 4})
        t.finalize(float(i))  # no metric_history at all
        gp.finalize_trial(t)
    params = gp.suggest_model_params()
    assert 0.0 <= params["x"] <= 1.0


def test_refine_freezes_budget_coordinate():
    """lbfgs refinement must hold z = 1: trials run at full budget, so
    optimizing EI at a lower fidelity and then dropping z would return
    an x tuned for the wrong budget."""
    gp = GP(num_warmup_trials=0, n_points=64, interim_results=True, acq_optimizer="lbfgs")
    gp.initialize(Searchspace(x=("DOUBLE", [0, 1])), 10, "min", 5)
    rng = np.random.default_rng(0)
    X = np.hstack([rng.random((12, 1)), rng.random((12, 1))])  # [x, z]
    y = np.sin(3 * X[:, 0]) + 0.3 * X[:, 1]
    from maggy_spark.bayes import _GPModel

    m = _GPModel()
    m.fit(X, y)
    starts = np.array([[0.2, 1.0], [0.8, 1.0]])
    best = gp._refine(m, starts, float(y.min()), n_free=1)
    assert best[1] == 1.0  # z untouched
    # without the freeze the ascent moves z (sanity that the test bites)
    free = gp._refine(m, starts, float(y.min()))
    assert free.shape == (2,)


def test_interim_interval_validated():
    with pytest.raises(ValueError, match="interim_results_interval"):
        GP(interim_results=True, interim_results_interval=0)
    gp = GP(interim_results=True)
    gp.initialize(Searchspace(x=("DOUBLE", [0, 1])), 10, "min", 5)
    with pytest.raises(ValueError, match="interim_results_interval"):
        gp.get_XY(interim_results=True, interim_results_interval=-1)
