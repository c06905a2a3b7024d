"""TPE mixed-vartype fidelity: truncated-normal sampling, per-dim
bandwidths, categorical re-roll (reference tpe.py:84-118,223-251).
"""

import numpy as np
import pytest

from maggy_spark.bayes import TPE, _norm_cdf, _norm_ppf, _truncnorm_rvs
from maggy_spark.searchspace import Searchspace


# -- numeric primitives --------------------------------------------------


def test_norm_ppf_accuracy():
    # golden quantiles of the standard normal
    for p, z in [(0.5, 0.0), (0.975, 1.959964), (0.025, -1.959964),
                 (0.841344746, 1.0), (0.001, -3.090232)]:
        assert abs(float(_norm_ppf(np.array([p]))[0]) - z) < 1e-5
    # round-trips the CDF
    zs = np.linspace(-4, 4, 41)
    assert np.allclose(_norm_ppf(_norm_cdf(zs)), zs, atol=1e-6)


def test_truncnorm_in_bounds_no_pileup():
    rng = np.random.default_rng(3)
    means = np.full(4000, 0.95)  # near the upper bound
    x = _truncnorm_rvs(means, 0.2, 0.0, 1.0, rng)
    assert ((x >= 0.0) & (x <= 1.0)).all()
    # clipping would pile ~40% of the mass exactly at 1.0; inverse-CDF
    # truncation renormalizes inside the bounds instead
    assert (x == 1.0).mean() < 0.01
    assert (x > 0.9).mean() > 0.3  # still concentrated near the mean


def test_truncnorm_deterministic():
    means = np.linspace(0, 1, 100)
    a = _truncnorm_rvs(means, 0.1, 0.0, 1.0, np.random.default_rng(5))
    b = _truncnorm_rvs(means, 0.1, 0.0, 1.0, np.random.default_rng(5))
    assert np.array_equal(a, b)


# -- mixed-vartype KDE ---------------------------------------------------


def _mixed_tpe(seed=2):
    sp = Searchspace(
        x=("DOUBLE", [0.0, 1.0]),
        opt=("CATEGORICAL", ["adam", "sgd", "rmsprop"]),
    )
    t = TPE(num_warmup_trials=4, random_fraction=0.0)
    t.initialize(sp, 40, "max", seed)
    return t, sp


def test_categorical_kde_matches_statsmodels_formula():
    # hand-computed statsmodels KDEMultivariate semantics
    # (normal_reference + aitchison_aitken with num_levels from the
    # OBSERVED data): 6/2/2 obs across categories 0/1/2 (encoded /2),
    # raw-index column [0]*6+[1]*2+[2]*2 with std 0.8 and observed
    # levels = 3, so lam = 1.06*0.8*10^(-1/6) ~ 0.578 sits INSIDE the
    # (levels-1)/levels = 2/3 validity limit (no clip engaged)
    t, _sp = _mixed_tpe()
    data = np.array([[0.5, 0.0]] * 6 + [[0.5, 0.5]] * 2 + [[0.5, 1.0]] * 2)
    cats = np.array([[0.5, 0.0], [0.5, 0.5], [0.5, 1.0]])
    pdf = t._kde_pdf(data, cats)
    lam = 1.06 * 0.8 * 10 ** (-1.0 / 6.0)  # 1.06*std(idx)*n^(-1/(4+q))
    assert lam < 2 / 3  # the un-clipped regime is what's being pinned
    # AA kernel, levels=3: match -> 1-lam, mismatch -> lam/(3-1)
    expect_cat = np.array(
        [0.6 * (1 - lam) + 0.4 * lam / 2,  # category 0 (6 matches)
         0.2 * (1 - lam) + 0.8 * lam / 2,  # category 1 (2 matches)
         0.2 * (1 - lam) + 0.8 * lam / 2]  # category 2 (2 matches)
    )
    cont = pdf / pdf.sum()  # continuous factor cancels (same x=0.5)
    assert np.allclose(cont, expect_cat / expect_cat.sum(), atol=1e-9)
    assert pdf[0] == pdf.max()  # majority category carries the mass


def test_continuous_bw_uses_shared_exponent():
    # statsmodels normal_reference: bw = 1.06*std*n^(-1/(4+q)) with
    # q = TOTAL dims (2 here), not the per-dim Scott n^(-1/5)
    t, _sp = _mixed_tpe()
    rng = np.random.default_rng(7)
    col = rng.random(20)
    data = np.column_stack([col, np.repeat([0.0, 0.5, 1.0], 20)[:20]])
    bw = t._normal_reference_bw(data)
    assert abs(bw[0] - 1.06 * col.std() * 20 ** (-1.0 / 6.0)) < 1e-12
    # categorical lambda on the raw-index scale: std(col*2)
    assert abs(bw[1] - 1.06 * (data[:, 1] * 2).std() * 20 ** (-1.0 / 6.0)) < 1e-12


def test_good_samples_concentrate_per_dim():
    # property (verdict G8 done-criterion): draws from the good KDE
    # concentrate near the good trials in EVERY dim — continuous mass
    # near the good mean, categorical mass on the good category
    t, sp = _mixed_tpe()
    rng = np.random.default_rng(0)
    for _ in range(30):
        x = float(rng.random())
        opt = ["adam", "sgd", "rmsprop"][int(rng.integers(3))]
        # good iff x near 0.2 AND opt == 'sgd'
        metric = -abs(x - 0.2) - (0.0 if opt == "sgd" else 1.0)
        tr_batch = t.next_batch(1)
        if not tr_batch:
            break
        tr = tr_batch[0]
        tr.params = {"x": x, "opt": opt}
        tr.final_metric = metric
        t.finalize_trial(tr)
    draws = [t.suggest_model_params() for _ in range(40)]
    xs = np.array([d["x"] for d in draws])
    opts = [d["opt"] for d in draws]
    assert abs(np.median(xs) - 0.2) < 0.25
    assert opts.count("sgd") > len(opts) * 0.5


def test_tpe_seeded_determinism_mixed_space():
    def run(seed):
        t, _ = _mixed_tpe(seed)
        out = []
        for _ in range(60):
            batch = t.next_batch(1)
            if not batch:
                break
            for tr in batch:
                tr.final_metric = -abs(tr.params["x"] - 0.2) - (
                    0.0 if tr.params["opt"] == "sgd" else 1.0
                )
                t.finalize_trial(tr)
                out.append(tr.params)
        return out

    a, b = run(9), run(9)
    assert len(a) == 40
    assert a == b
    assert run(10) != a  # seed actually matters


def test_tpe_beats_random_on_mixed_space():
    # on a ~1-d problem best-of-N uniform random is near optimal, so
    # the comparison runs on 3 continuous dims + 1 categorical where
    # model guidance actually pays; majority-of-seeds because any
    # single seed can flip on random luck. Seeds are spaced far apart:
    # RandomSearch salts per-draw with seed+attempt, so CONSECUTIVE
    # base seeds share almost all their draws.
    from maggy_spark.optimizers import RandomSearch

    def metric(p):
        d = abs(p["x"] - 0.2) + abs(p["y"] - 0.7) + abs(p["z"] - 0.4)
        return -d - (0.0 if p["opt"] == "sgd" else 1.0)

    def best_of(ctrl, seed, n=50):
        sp = Searchspace(
            x=("DOUBLE", [0.0, 1.0]), y=("DOUBLE", [0.0, 1.0]), z=("DOUBLE", [0.0, 1.0]),
            opt=("CATEGORICAL", ["adam", "sgd", "rmsprop"]),
        )
        ctrl.initialize(sp, n, "max", seed)
        best = -np.inf
        for _ in range(120):
            batch = ctrl.next_batch(1)
            if not batch:
                break
            for tr in batch:
                tr.final_metric = metric(tr.params)
                ctrl.finalize_trial(tr)
                best = max(best, tr.final_metric)
        return best

    wins, tpe_bests = 0, []
    for seed in (17, 1017, 2017, 3017, 4017):
        tb = best_of(TPE(num_warmup_trials=8), seed)
        rb = best_of(RandomSearch(), seed)
        tpe_bests.append(tb)
        wins += tb >= rb
    assert wins >= 3
    assert all(b > -0.6 for b in tpe_bests)  # in the basin, sgd found, every seed


def test_kde_pdf_never_negative():
    # wide-spread category indices at small n push the raw
    # normal-reference lambda past 1; unclipped that turns the AA
    # kernel weights negative and poisons the EI argmax — the pdf
    # must clip to the (levels-1)/levels validity limit instead
    sp = Searchspace(
        x=("DOUBLE", [0.0, 1.0]),
        opt=("CATEGORICAL", ["a", "b", "c", "d", "e"]),
    )
    t = TPE(num_warmup_trials=4, random_fraction=0.0)
    t.initialize(sp, 40, "max", 0)
    # 6 obs pinned to the extreme indices 0 and 4 (std = 2 on raw scale)
    data = np.array([[0.5, 0.0]] * 3 + [[0.5, 1.0]] * 3)
    lam_raw = t._normal_reference_bw(data)[1]
    assert lam_raw > 0.8  # the hazardous regime is actually exercised
    q = np.array([[0.5, i / 4] for i in range(5)])
    pdf = t._kde_pdf(data, q)
    assert (pdf >= 0).all()
