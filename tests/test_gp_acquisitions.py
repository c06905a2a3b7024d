"""GP acquisition surface: EI/PI/LCB/AsyTS, lbfgs refinement, liars.

Reference: `maggy/optimizer/bayes/acquisitions.py:68-183`,
`maggy/optimizer/bayes/gp.py:183-264` (sampling vs lbfgs routine),
`gp.py:329-373` (constant-liar + kriging-believer imputation).
"""

import numpy as np
import pytest

from maggy_spark.bayes import (
    GP,
    _GPModel,
    expected_improvement,
    lower_confidence_bound,
    probability_of_improvement,
)
from maggy_spark.searchspace import Searchspace

SP = {"x": ("DOUBLE", [0.0, 1.0]), "y": ("DOUBLE", [0.0, 1.0])}


def quadratic(params):
    # minimum at (0.3, 0.7): metric to MAXIMIZE
    return -((params["x"] - 0.3) ** 2) - ((params["y"] - 0.7) ** 2)


def _drive(ctrl, num_trials, seed):
    ctrl.initialize(Searchspace(**SP), num_trials, "max", seed)
    seen = []
    for _ in range(200):
        batch = ctrl.next_batch(1)
        if not batch:
            break
        for t in batch:
            t.final_metric = quadratic(t.params)
            ctrl.finalize_trial(t)
            seen.append(t)
    return seen


# -- acquisition math ---------------------------------------------------


def test_acquisition_shapes_and_bounds():
    mu = np.array([0.0, 1.0, -1.0])
    sigma = np.array([1.0, 0.5, 2.0])
    ei = expected_improvement(mu, sigma, y_best=0.0)
    pi = probability_of_improvement(mu, sigma, y_best=0.0)
    lcb = lower_confidence_bound(mu, sigma, kappa=1.96)
    assert (ei >= 0).all()
    assert ((pi >= 0) & (pi <= 1)).all()
    # lower mean -> better (larger) LCB utility; more sigma -> more bonus
    assert lcb[2] > lcb[0] > lcb[1]
    # PI with lower mean is more probable to improve
    assert pi[2] > pi[0] > pi[1]


def test_sample_y_joint_and_deterministic():
    rng = np.random.default_rng(0)
    X = rng.random((12, 2))
    y = (X**2).sum(1)
    m = _GPModel()
    m.fit(X, y)
    q = rng.random((64, 2))
    f1 = m.sample_y(q, np.random.default_rng(7))
    f2 = m.sample_y(q, np.random.default_rng(7))
    f3 = m.sample_y(q, np.random.default_rng(8))
    assert np.array_equal(f1, f2)
    assert not np.array_equal(f1, f3)
    # a joint draw interpolates the observations approximately: at the
    # training points the posterior is pinned (noise 1e-6)
    ftr = m.sample_y(X, np.random.default_rng(9))
    assert np.allclose(ftr, y, atol=1e-2)


# -- controller determinism across the acquisition surface --------------


@pytest.mark.parametrize(
    "acq_fun,acq_optimizer",
    [("EI", "sampling"), ("EI", "lbfgs"), ("PI", "sampling"), ("PI", "lbfgs"),
     ("LCB", "sampling"), ("LCB", "lbfgs"), ("asy_ts", "sampling")],
)
def test_seeded_determinism(acq_fun, acq_optimizer):
    def run():
        ctrl = GP(
            acq_fun=acq_fun,
            acq_optimizer=acq_optimizer,
            n_points=500,
            num_warmup_trials=4,
            random_fraction=0.1,
            n_restarts_optimizer=3,
        )
        return [t.params for t in _drive(ctrl, num_trials=10, seed=11)]

    a, b = run(), run()
    assert len(a) == 10
    assert a == b


@pytest.mark.parametrize("liar", ["cl_min", "cl_max", "cl_mean", "kb"])
def test_liar_strategies_with_busy_trials(liar):
    ctrl = GP(liar_strategy=liar, n_points=300, num_warmup_trials=3, random_fraction=0.0)
    ctrl.initialize(Searchspace(**SP), 12, "max", 5)
    # finalize enough for the surrogate, then leave two trials busy
    for t in ctrl.next_batch(6):
        t.final_metric = quadratic(t.params)
        ctrl.finalize_trial(t)
    busy = ctrl.next_batch(2)
    assert len(ctrl.trial_store) == 2
    params = ctrl.suggest_model_params()
    assert set(params) == {"x", "y"}
    assert all(0.0 <= params[k] <= 1.0 for k in params)
    for t in busy:  # cleanup contract: finalize clears the in-flight store
        t.final_metric = quadratic(t.params)
        ctrl.finalize_trial(t)
    assert not ctrl.trial_store


@pytest.mark.parametrize("bad", [float("nan"), float("inf"), float("-inf")])
def test_non_finite_metric_does_not_collapse_the_gp(bad):
    """A finalized trial without a finite metric is left out of the
    surrogate's data: the GP suggests what it suggests without it
    (before, one NaN made every EI NaN and the argmax fell back to the
    pool's first candidate)."""
    from maggy_spark.trial import Trial

    def suggest(extra):
        ctrl = GP(n_points=300, num_warmup_trials=0, random_fraction=0.0)
        ctrl.initialize(Searchspace(**SP), 20, "max", 3)
        rng = np.random.default_rng(0)
        for i in range(6):
            t = Trial({"x": float(rng.random()), "y": float(rng.random())})
            t.final_metric = quadratic(t.params)
            ctrl.final_store.append(t)
        ctrl.final_store.extend(extra)
        return ctrl.suggest_model_params()

    broken = Trial({"x": 0.5, "y": 0.5})
    broken.final_metric = bad
    assert suggest([broken]) == suggest([])


@pytest.mark.parametrize("missing", [None, float("nan")])
def test_model_gate_counts_only_finite_metrics(missing):
    """Finalized trials without a finite metric (an early stop before any
    broadcast, a diverged run) do not open the model phase: the GP
    keeps drawing randoms instead of fitting an empty surrogate (which
    raised ValueError on y.min())."""
    from maggy_spark.trial import Trial

    ctrl = GP(n_points=50, num_warmup_trials=0, random_fraction=0.0)
    ctrl.initialize(Searchspace(**SP), 10, "max", 1)
    for i in range(4):
        t = Trial({"x": i / 10, "y": i / 10})
        t.final_metric = missing
        ctrl.final_store.append(t)
    [t] = ctrl.next_batch(1)
    assert t.info_dict["sample_type"] == "random"


def test_invalid_configs_rejected():
    with pytest.raises(ValueError, match="unknown acquisition"):
        GP(acq_fun="UCB")
    with pytest.raises(ValueError, match="unknown acq_optimizer"):
        GP(acq_optimizer="bfgs")
    with pytest.raises(ValueError, match="unknown liar strategy"):
        GP(liar_strategy="cl_median")


# -- each mode beats random on the quadratic ----------------------------


@pytest.mark.parametrize(
    "acq_fun,acq_optimizer,liar",
    [("EI", "sampling", "cl_min"), ("EI", "lbfgs", "cl_min"),
     ("PI", "sampling", "cl_min"), ("LCB", "sampling", "cl_min"),
     ("asy_ts", "sampling", "cl_min"), ("EI", "sampling", "kb")],
)
def test_beats_random_on_quadratic(acq_fun, acq_optimizer, liar):
    from maggy_spark.optimizers import RandomSearch

    n, seed = 24, 13
    gp_best = max(
        t.final_metric
        for t in _drive(
            GP(acq_fun=acq_fun, acq_optimizer=acq_optimizer, liar_strategy=liar,
               n_points=800, num_warmup_trials=6, random_fraction=0.05),
            n, seed,
        )
    )
    rnd_best = max(t.final_metric for t in _drive(RandomSearch(), n, seed))
    assert gp_best >= rnd_best
