"""GP/TPE controllers, LOCO ablation, and barrier-mode distributed
training end-to-end on Spark local."""

import numpy as np
import pytest

from maggy_spark import Searchspace, lagom
from maggy_spark.ablation import LOCO, AblationStudy, components_df
from maggy_spark.bayes import GP, TPE, _GPModel, expected_improvement
from maggy_spark.config import AblationConfig, HyperparameterOptConfig, TorchDistributedConfig


# -- surrogate unit behavior -------------------------------------------


def test_gp_model_interpolates():
    rng = np.random.default_rng(0)
    X = rng.random((30, 2))
    y = np.sin(3 * X[:, 0]) + X[:, 1] ** 2
    m = _GPModel()
    m.fit(X, y)
    mu, sigma = m.predict(X)
    assert np.abs(mu - y).max() < 0.05  # near-interpolation at train points
    assert (sigma >= 0).all()
    Xs = rng.random((50, 2))
    mu2, _ = m.predict(Xs)
    ytrue = np.sin(3 * Xs[:, 0]) + Xs[:, 1] ** 2
    assert np.abs(mu2 - ytrue).mean() < 0.2


def test_expected_improvement_prefers_low_mean_high_sigma():
    mu = np.array([0.0, 1.0, 0.0])
    sigma = np.array([0.1, 0.1, 1.0])
    ei = expected_improvement(mu, sigma, y_best=0.5)
    assert ei[0] > ei[1]  # lower predicted mean wins
    assert ei[2] > ei[0]  # more uncertainty wins at equal mean


def _hpo(optimizer, n, seed=21, parallelism=4):
    return HyperparameterOptConfig(
        num_trials=n,
        optimizer=optimizer,
        searchspace=Searchspace(x=("DOUBLE", [0.0, 1.0]), y=("DOUBLE", [0.0, 1.0])),
        direction="min",
        es_policy="none",
        seed=seed,
        parallelism=parallelism,
    )


def parabola(x, y):
    return (x - 0.7) ** 2 + (y - 0.2) ** 2


def test_gp_e2e_beats_worst(spark):
    res = lagom(parabola, _hpo(GP(n_points=500, num_warmup_trials=6), 14), spark)
    assert res["num_trials"] == 14
    assert res["best_val"] < 0.08  # found a decent point on the parabola


def test_tpe_e2e(spark):
    res = lagom(parabola, _hpo(TPE(num_warmup_trials=6), 14, seed=9), spark)
    assert res["num_trials"] == 14
    assert res["best_val"] <= res["avg"]


def test_bo_samples_model_after_warmup(spark):
    gp = GP(n_points=200, num_warmup_trials=4)
    res = lagom(parabola, _hpo(gp, 10, seed=33), spark)
    types = [t.info_dict.get("sample_type") for t in gp.final_store]
    assert "model" in types  # surrogate actually used


# -- ablation -----------------------------------------------------------


def make_study(tmp_path_factory=None, spark=None):
    import pandas as pd

    path = "/tmp/maggy_spark_test_train.parquet"
    rng = np.random.default_rng(5)
    n = 400
    df = pd.DataFrame(
        {
            "f_signal": rng.normal(0, 1, n),
            "f_noise": rng.normal(0, 1, n),
            "f_weak": rng.normal(0, 1, n),
        }
    )
    df["label"] = (df.f_signal + 0.1 * df.f_weak + rng.normal(0, 0.1, n) > 0).astype(int)
    df.to_parquet(path)
    study = AblationStudy(training_dataset_path=path, label_name="label")
    study.features.include("f_signal", "f_noise", "f_weak")
    return study


def test_loco_trial_count():
    study = make_study()
    study.model.layers.include("dense_1", "dense_2")
    study.model.layers.include_groups(["dense_1", "dense_2"], prefix="dense")
    study.add_custom_model_generator("wide", lambda: None)
    # n_features(3) + n_layers(2) + groups(1) + prefix(1) + custom(1) + base(1)
    loco = LOCO(study, [])
    assert loco.get_number_of_trials() == 9
    loco.initialize()
    assert len(loco.trial_buffer) == 9


def test_loco_trial_ids_stable():
    l1, l2 = LOCO(make_study(), []), LOCO(make_study(), [])
    l1.initialize()
    l2.initialize()
    assert [t.trial_id for t in l1.trial_buffer] == [t.trial_id for t in l2.trial_buffer]


def test_components_df(spark):
    study = make_study()
    study.model.layers.include("dense_1")
    rows = components_df(spark, study).collect()
    kinds = sorted(r.kind for r in rows)
    assert kinds == ["feature", "feature", "feature", "layer"]


def test_ablation_e2e_feature_importance(spark):
    """Dropping the signal feature must hurt the metric most."""
    study = make_study()

    def train_fn(dataset_function, ablated_feature, label_name):
        # deterministic proxy model: |corr(label, mean-of-features)|
        pdf = dataset_function()
        feats = [c for c in pdf.columns if c != label_name]
        score = abs(np.corrcoef(pdf[feats].mean(axis=1), pdf[label_name])[0, 1])
        return float(score)

    config = AblationConfig(ablation_study=study, direction="max")
    res = lagom(train_fn, config, spark)
    assert res["num_trials"] == 4  # base + 3 features
    # best config (highest corr) should NOT be the one that dropped the signal
    assert res["best_excludes"]["ablated_feature"] != "f_signal"
    assert res["worst_val"] <= res["best_val"]


# -- distributed (barrier mode) ----------------------------------------


def test_barrier_distributed_training(spark):
    def train_fn(rank, world_size, master_addr, master_port, workers, is_chief):
        assert world_size == 3 and len(workers) == 3
        assert isinstance(master_port, int)
        return float(rank)  # each worker reports its rank

    config = TorchDistributedConfig(num_workers=3)
    res = lagom(train_fn, config, spark)
    assert res["test result"] == pytest.approx(1.0)  # mean(0,1,2)
    assert res["errors"] is None
    assert res["per_worker"] == {0: 0.0, 1: 1.0, 2: 2.0}


def test_barrier_tf_config(spark):
    from maggy_spark.config import TfDistributedConfig
    import json as _json

    def train_fn(tf_config, rank):
        cfg = _json.loads(tf_config)
        assert cfg["task"]["type"] == ("chief" if rank == 0 else "worker")
        return len(cfg["cluster"]["worker"])

    res = lagom(train_fn, TfDistributedConfig(num_workers=2), spark)
    assert res["test result"] == 2.0


def test_gp_distributed_scoring_matches_shape(spark):
    """distributed_scoring is deprecated and does nothing: the flag
    warns, and the GP still scores on the driver and suggests in-space."""
    with pytest.warns(DeprecationWarning, match="distributed_scoring"):
        gp = GP(n_points=3200, num_warmup_trials=5, distributed_scoring=True)
    res = lagom(parabola, _hpo(gp, 10, seed=2), spark)
    assert res["num_trials"] == 10
    types = [t.info_dict.get("sample_type") for t in gp.final_store]
    assert "model" in types  # the surrogate produced suggestions
    assert all(0.0 <= t.params[k] <= 1.0 for t in gp.final_store for k in ("x", "y"))
    assert res["best_val"] < 0.15


def test_lagom_validation_errors(spark):
    from maggy_spark.config import HyperparameterOptConfig

    with pytest.raises(ValueError, match="searchspace"):
        lagom(parabola, HyperparameterOptConfig(num_trials=2), spark)
    with pytest.raises(ValueError, match="direction"):
        lagom(
            parabola,
            HyperparameterOptConfig(
                num_trials=2,
                searchspace=Searchspace(x=("DOUBLE", [0, 1]), y=("DOUBLE", [0, 1])),
                direction="sideways",
            ),
            spark,
        )


def test_gp_multi_fidelity_model_selection():
    """Per-budget surrogates: the biggest sufficiently-observed budget
    wins (reference base.py:251-268)."""
    gp = GP(num_warmup_trials=0, n_points=50)
    gp.initialize(Searchspace(x=("DOUBLE", [0, 1])), 30, "min", 5)
    from maggy_spark.trial import Trial

    def fin(x, budget, metric):
        t = Trial({"x": x})
        t.info_dict["budget"] = budget
        t.finalize(metric)
        return t

    # 6 trials at budget 1, 1 at budget 3 (insufficient: GP floor is d+1=2)
    for i in range(6):
        gp.finalize_trial(fin(i / 10, 1, float(i)))
    gp.finalize_trial(fin(0.0, 3, 0.0))
    assert gp.min_model_trials() == 2
    assert gp.model_budget() == 1  # budget 3 lacks observations
    X, y = gp.get_xy(1)
    assert len(y) == 6
    # one more at budget 3 -> the bigger fidelity becomes the model budget
    gp.finalize_trial(fin(0.2, 3, 1.0))
    assert gp.model_budget() == 3
    assert len(gp.get_xy(3)[1]) == 2


def test_gp_single_fidelity_pools_all():
    gp = GP(num_warmup_trials=0, n_points=50)
    gp.initialize(Searchspace(x=("DOUBLE", [0, 1])), 10, "min", 5)
    from maggy_spark.trial import Trial

    for i in range(5):
        t = Trial({"x": i / 10})
        t.finalize(float(i))
        gp.finalize_trial(t)
    assert gp.model_budget() is None  # no budgets anywhere
    assert len(gp.get_xy(gp.model_budget())[1]) == 5


def test_tpe_multi_fidelity_selection():
    tpe = TPE(num_warmup_trials=0)
    tpe.initialize(Searchspace(x=("DOUBLE", [0, 1])), 30, "min", 5)
    from maggy_spark.trial import Trial

    def fin(x, budget, metric):
        t = Trial({"x": x})
        t.info_dict["budget"] = budget
        t.finalize(metric)
        return t

    for i in range(8):
        tpe.finalize_trial(fin(i / 10, 1, float(i)))
    for i in range(2):
        tpe.finalize_trial(fin(i / 5, 9, float(i)))
    assert tpe.min_model_trials() == 4
    assert tpe.model_budget() == 1  # budget 9 insufficient (2 < 4)
    for i in range(2, 5):
        tpe.finalize_trial(fin(i / 5, 9, float(i)))
    assert tpe.model_budget() == 9
