"""Round-5 API-surface parity: the reference's documented helper
methods on Trial / Searchspace / AblationStudy / maggy.util, exercised
through the compat facade exactly as reference user code would call
them (reference `maggy/trial.py`, `maggy/searchspace.py`,
`maggy/ablation/ablationstudy.py`, `maggy/util.py`)."""

from __future__ import annotations

import json
import os

import pytest


# -- Trial (reference trial.py:83-176) -----------------------------------


def test_trial_early_stop_accessors():
    from maggy import Trial

    t = Trial({"x": 1})
    assert t.get_early_stop() is False
    t.set_early_stop()
    assert t.get_early_stop() is True


def test_trial_to_dict_reference_shape():
    from maggy import Trial

    t = Trial({"param1": 5, "param2": "ada"})
    t.append_metric(0.5, 0)
    t.append_metric(0.7, 1)
    d = t.to_dict()
    assert d["__class__"] == "Trial"
    assert d["trial_id"] == "3d1cc9fdb1d4d001"  # golden, test_trial.py:24-32
    assert d["metric_dict"] == {0: 0.5, 1: 0.7}
    assert d["metric_history"] == [0.5, 0.7]
    assert d["status"] == Trial.PENDING


def test_trial_to_json_roundtrip_and_class_guard():
    from maggy import Trial

    t = Trial({"a": 2})
    t.append_metric(1.5, 3)
    t.finalize(1.5)
    t2 = Trial.from_json(t.to_json())
    assert t2.trial_id == t.trial_id
    assert t2.final_metric == 1.5
    assert t2.metric_dict == {3: 1.5}
    bogus = json.dumps({"__class__": "NotATrial", "params": {}})
    with pytest.raises(ValueError):
        Trial.from_json(bogus)


def test_trial_to_json_handles_numpy():
    import numpy as np

    from maggy import Trial

    t = Trial({"a": 1})
    t.final_metric = np.float64(0.25)
    payload = json.loads(t.to_json())
    assert payload["final_metric"] == 0.25


# -- Searchspace (reference searchspace.py:446-479) ----------------------


def test_searchspace_dict_list_roundtrip():
    from maggy import Searchspace

    sp = Searchspace(x=("DOUBLE", [-3.0, 3.0]), y=("INTEGER", [1, 5]), z=("CATEGORICAL", ["g", "b"]))
    hparams = {"x": -3.0, "y": 3, "z": "g"}
    as_list = Searchspace.dict_to_list(hparams)
    assert as_list == [-3.0, 3, "g"]
    assert sp.list_to_dict(as_list) == hparams
    with pytest.raises(ValueError):
        sp.list_to_dict([1.0, 2])  # wrong arity


# -- AblationStudy (reference ablationstudy.py:18-408) -------------------


def test_ablation_reference_constructor_and_to_dict():
    from maggy.ablation import AblationStudy

    study = AblationStudy("titanic_train_dataset", 1, "survived")
    study.features.include("pclass", ["fare", "sibsp"])
    study.features.exclude("fare")
    study.model.layers.include("my_dense_two", "my_dense_three")
    study.model.layers.include_groups(["my_dense_two", "my_dense_three"], prefix="my_dense")
    d = study.to_dict()
    assert d["training_dataset_name"] == "titanic_train_dataset"
    assert d["training_dataset_version"] == 1
    assert d["label_name"] == "survived"
    assert d["included_features"] == ["pclass", "sibsp"]
    assert d["included_layers"] == ["my_dense_three", "my_dense_two"]
    assert d["custom_dataset_generator"] is False


def test_ablation_layers_group_encoding_and_exclude_groups():
    from maggy.ablation import AblationStudy

    study = AblationStudy("ds", 1, "label")
    ly = study.model.layers
    ly.include_groups(["a", "b"], prefix="conv")
    assert frozenset(["a", "b"]) in ly.included_groups
    assert frozenset(["conv"]) in ly.included_groups  # prefix singleton
    ly.exclude_groups(["a", "b"])
    assert frozenset(["a", "b"]) not in ly.included_groups
    ly.exclude_groups(prefix="conv")
    assert ly.included_groups == set()
    with pytest.raises(ValueError):
        ly.include_groups(prefix=42)


def test_ablation_model_level_custom_generators_make_trials():
    from maggy.ablation import LOCO, AblationStudy

    study = AblationStudy("ds", 1, "label")
    study.model.set_base_model_generator(lambda: "base")
    study.model.add_custom_model_generator(lambda: "m1", "wide_model")
    assert study.model.base_model_generator() == "base"
    loco = LOCO(study, [])
    loco.initialize()
    trials = loco.trial_buffer
    ablated = {t.params["ablated_layer"] for t in trials}
    assert "custom model: wide_model" in ablated  # base + the custom trial
    assert len(trials) == 2


def test_ablation_set_dataset_generator():
    from maggy.ablation import AblationStudy

    study = AblationStudy("ds", 1, "label")
    gen = lambda: "data"  # noqa: E731
    study.set_dataset_generator(gen)
    assert study.custom_dataset_generator is gen
    assert study.to_dict()["custom_dataset_generator"] is True


# -- maggy.util (reference util.py:63-348) -------------------------------


def test_handle_return_val_contract(tmp_path):
    from maggy import util

    log_dir = str(tmp_path / "trial")
    metric = util.handle_return_val({"metric": 0.9, "note": "x"}, log_dir, "metric", "run.log")
    assert metric == 0.9
    outputs = json.loads((tmp_path / "trial" / ".outputs.json").read_text())
    assert outputs["metric"] == 0.9 and outputs["log"] == "run.log"
    assert json.loads((tmp_path / "trial" / ".metric").read_text()) == 0.9
    # scalar form wraps into a dict
    assert util.handle_return_val(3, str(tmp_path / "t2"), "metric", "l") == 3
    with pytest.raises(KeyError):
        util.handle_return_val({"loss": 1.0}, log_dir, "metric", "l")
    with pytest.raises(TypeError):
        util.handle_return_val("not-a-number", log_dir, "metric", "l")
    with pytest.raises(TypeError):
        util.handle_return_val(None, log_dir, "metric", "l")
    with pytest.raises(ValueError):
        util.handle_return_val({"metric": 1.0}, log_dir, None, "l")
    with pytest.raises(TypeError):
        util.handle_return_val({"metric": "high"}, log_dir, "metric", "l")


def test_register_environment_bumps_past_prev_ml_id(tmp_path, monkeypatch):
    from maggy import util

    monkeypatch.setattr(util, "_DEFAULT_LOG_BASE", str(tmp_path))
    monkeypatch.setenv("ML_ID", "app1_3")
    app_id, run_id = util.register_environment("app1", 2)
    assert (app_id, run_id) == ("app1", 4)  # bumped past prev run 3
    assert os.environ["ML_ID"] == "app1_4"
    assert (tmp_path / "app1_4" / "experiment.json").exists()
    # different app id passes through untouched
    monkeypatch.setenv("ML_ID", "other_9")
    assert util.validate_ml_id("app1", 2) == ("app1", 2)
    monkeypatch.setenv("ML_ID", "badformat")
    with pytest.raises(ValueError):
        util.validate_ml_id("app1", 2)


def test_clean_dir_keeps_named_entries(tmp_path):
    from maggy import util

    (tmp_path / "keep.txt").write_text("k")
    (tmp_path / "drop.txt").write_text("d")
    (tmp_path / "sub").mkdir()
    util.clean_dir(str(tmp_path), keep=["keep.txt"])
    assert sorted(p.name for p in tmp_path.iterdir()) == ["keep.txt"]
    with pytest.raises(ValueError):
        util.clean_dir(str(tmp_path / "missing"))


def test_partition_attempt_id_driver_side_and_misc():
    from maggy import util

    assert util.get_partition_attempt_id() == (0, 0)
    assert util.num_physical_devices() >= 1
    util.set_app_id("appX")
    util.set_app_id("appY")  # first writer wins
    assert util.APP_ID == "appX"


def test_populate_and_finalize_experiment(tmp_path):
    from maggy import util
    from maggy.config import HyperparameterOptConfig
    from maggy_spark.searchspace import Searchspace

    config = HyperparameterOptConfig(
        num_trials=2,
        optimizer="randomsearch",
        searchspace=Searchspace(x=("DOUBLE", [0.0, 1.0])),
        direction="max",
        name="exp1",
        description="d",
    )
    exp = util.populate_experiment(config, "app1", 0, "lagom")
    assert exp["name"] == "exp1" and exp["ml_id"] == "app1_0" and exp["state"] == "INIT"
    out = util.finalize_experiment(
        exp, 0.7, "app1", 0, "FINISHED", 1.5, str(tmp_path), None, "metric"
    )
    assert out["state"] == "FINISHED" and out["metric"] == 0.7
    saved = json.loads((tmp_path / "experiment.json").read_text())
    assert saved["optimization_key"] == "metric"


# -- custom early-stop rules (reference abstractearlystop.py:20-40) ------


def test_builtin_rule_earlystop_check_semantics():
    import types

    from maggy.earlystop import MedianStoppingRule, NoStoppingRule

    fin = [
        types.SimpleNamespace(metric_history=[1.0, 1.0], trial_id="a"),
        types.SimpleNamespace(metric_history=[3.0, 3.0], trial_id="b"),
    ]
    weak = types.SimpleNamespace(metric_history=[0.5, 0.6], trial_id="w")
    strong = types.SimpleNamespace(metric_history=[5.0, 6.0], trial_id="s")
    assert MedianStoppingRule.earlystop_check(weak, fin, "max") == "w"
    assert MedianStoppingRule.earlystop_check(strong, fin, "max") is None
    assert MedianStoppingRule.earlystop_check(strong, fin, "min") == "s"
    assert NoStoppingRule.earlystop_check(weak, fin, "max") is None


def test_custom_rule_stops_trials_e2e(spark):
    """A user rule subclassing AbstractEarlyStop runs trial-locally."""
    from maggy import Searchspace, experiment
    from maggy.config import HyperparameterOptConfig
    from maggy.earlystop import AbstractEarlyStop

    class StopWeakRule(AbstractEarlyStop):
        @staticmethod
        def earlystop_check(to_check, finalized_trials, direction):
            # stop anything whose first metric is below the best
            # finalized final_metric minus 0.5
            best = max(t.final_metric for t in finalized_trials)
            if to_check.metric_history and to_check.metric_history[0] < best - 0.5:
                return to_check.trial_id
            return None

    def fn(x, reporter):
        for step in range(40):
            reporter.broadcast(x, step)
        return x

    config = HyperparameterOptConfig(
        num_trials=6,
        optimizer="gridsearch",
        # grid order is deterministic: the strong configs run in wave 1
        # (parallelism=2), then 0.1/0.05 land in wave 2 with the bar up
        searchspace=Searchspace(x=("DISCRETE", [0.9, 0.85, 0.1, 0.05, 0.8, 0.75])),
        direction="max",
        es_policy=StopWeakRule,
        es_min=2,
        es_interval=1,
        parallelism=2,
    )
    res = experiment.lagom(fn, config, spark)
    assert res["num_trials"] == 6
    # the weak wave-2 trials must be stopped by the custom rule
    assert res.get("early_stopped", 0) >= 1
    assert res["best_val"] == 0.9


def test_median_rule_subclass_override_runs_e2e(spark):
    """A MedianStoppingRule subclass that overrides earlystop_check runs
    its override, not the built-in median: every trial after the es_min
    gate is stopped. All trials report the same metric, so the median
    rule itself would stop none."""
    from maggy import Searchspace, experiment
    from maggy.config import HyperparameterOptConfig
    from maggy.earlystop import MedianStoppingRule

    class AlwaysStop(MedianStoppingRule):
        @staticmethod
        def earlystop_check(to_check, finalized_trials, direction):
            return to_check.trial_id

    def fn(x, reporter):
        for step in range(5):
            reporter.broadcast(1.0, step)
        return 1.0

    config = HyperparameterOptConfig(
        num_trials=5,
        optimizer="randomsearch",
        searchspace=Searchspace(x=("DOUBLE", [0.0, 1.0])),
        direction="max",
        es_policy=AlwaysStop,
        es_min=2,
        es_interval=1,
        parallelism=1,
        seed=3,
    )
    res = experiment.lagom(fn, config, spark)
    assert res["num_trials"] == 5
    assert res["early_stopped"] == 3


def test_no_stopping_rule_subclass_override_runs_e2e(spark):
    """A NoStoppingRule subclass that overrides earlystop_check stops
    trials: overriding the check must not leave early stopping off."""
    from maggy import Searchspace, experiment
    from maggy.config import HyperparameterOptConfig
    from maggy.earlystop import NoStoppingRule

    class StopWeak(NoStoppingRule):
        @staticmethod
        def earlystop_check(to_check, finalized_trials, direction):
            best = max(t.final_metric for t in finalized_trials)
            if to_check.metric_history[0] < best - 0.5:
                return to_check.trial_id
            return None

    def fn(x, reporter):
        for step in range(10):
            reporter.broadcast(x, step)
        return x

    config = HyperparameterOptConfig(
        num_trials=6,
        optimizer="gridsearch",
        # grid order: the strong configs run in wave 1 (parallelism=2),
        # then 0.1/0.05 land in wave 2 with two finalized trials
        searchspace=Searchspace(x=("DISCRETE", [0.9, 0.85, 0.1, 0.05, 0.8, 0.75])),
        direction="max",
        es_policy=StopWeak,
        es_min=2,
        es_interval=1,
        parallelism=2,
    )
    res = experiment.lagom(fn, config, spark)
    assert res["num_trials"] == 6
    assert res["early_stopped"] >= 1

def test_unknown_es_policy_still_rejected(spark):
    from maggy_spark.config import HyperparameterOptConfig
    from maggy_spark.experiment import _es_rule

    config = HyperparameterOptConfig(
        num_trials=1, optimizer="randomsearch", searchspace=None,
        direction="max", es_policy="aggressive",
    )
    with pytest.raises(ValueError):
        _es_rule(config)


def test_handle_return_val_accepts_zero_metric(tmp_path):
    from maggy import util

    assert util.handle_return_val(0.0, str(tmp_path), "metric", "l") == 0.0
    assert util.handle_return_val({"metric": 0}, str(tmp_path), "metric", "l") == 0
    with pytest.raises(TypeError):
        util.handle_return_val({}, str(tmp_path), "metric", "l")  # empty dict still invalid
