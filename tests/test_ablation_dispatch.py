"""Ablation through the one dispatch loop: every LOCO or custom-ablator
trial is its own one-row `run_trial_wave` call from `experiment._drive`,
capped at the cluster's default parallelism, with the HPO lifecycle's
artifacts (result.json, trials relation, trial logs), ERROR trials fed
back to a custom ablator, and per-trial callables shipped by value."""

from __future__ import annotations

import json
import os
import threading
import time

import pandas as pd
import pytest

from maggy_spark.ablation import AblationStudy, AbstractAblator
from maggy_spark.config import AblationConfig
from maggy_spark.experiment import lagom
from maggy_spark.trial import Trial


def wide_study(tmp_path, n_features: int) -> AblationStudy:
    path = str(tmp_path / "wide.parquet")
    cols = {f"f{i}": [float(i)] * 3 for i in range(n_features)}
    pd.DataFrame({**cols, "label": [0, 1, 0]}).to_parquet(path)
    study = AblationStudy(training_dataset_path=path, label_name="label")
    study.features.include(*cols)
    return study


class ListAblator(AbstractAblator):
    """Reference-protocol ablator: one trial per feature plus the base,
    handed out in order; records what the engine feeds back."""

    def __init__(self, study, model_function=None):
        super().__init__(study, [])
        self.model_function = model_function
        self.fed_back = []
        self.finalize_calls = []

    def get_number_of_trials(self):
        return 1 + len(self.ablation_study.features.list_all())

    def get_dataset_generator(self, ablated_feature, dataset_type="parquet"):
        from maggy_spark.ablation import make_dataset_function

        study = self.ablation_study
        return make_dataset_function(study.training_dataset_path, study.label_name, ablated_feature)

    def get_model_generator(self, ablated_layer):
        return self.model_function

    def initialize(self):
        for f in ["None"] + self.ablation_study.features.list_all():
            params = {
                "dataset_function": self.get_dataset_generator(None if f == "None" else f),
                "ablated_feature": f,
                "ablated_layer": "None",
            }
            if self.model_function is not None:
                params["model_function"] = self.model_function
            self.trial_buffer.append(Trial(params, trial_type="ablation"))

    def get_trial(self, ablation_trial=None):
        if ablation_trial is not None:
            self.fed_back.append(ablation_trial)
            return None
        return self.trial_buffer.pop(0) if self.trial_buffer else None

    def finalize_experiment(self, trials):
        self.finalize_calls.append(list(trials))


def feature_score(dataset_function, label_name):
    """Higher when a higher-numbered feature is dropped."""
    df = dataset_function()
    time.sleep(0.2)  # long enough for trials to overlap
    return -float(sum(int(c[1:]) for c in df.columns if c != label_name))


@pytest.fixture()
def wave_calls(monkeypatch):
    """Count every `run_trial_wave` call the dispatch loop makes and the
    most calls in flight at once."""
    import maggy_spark.experiment as experiment

    original = experiment.run_trial_wave
    state = {"calls": [], "in_flight": 0, "peak": 0}
    lock = threading.Lock()

    def counting(spark, pending, *args, **kwargs):
        with lock:
            state["calls"].append([p["trial_id"] for p in pending])
            state["in_flight"] += 1
            state["peak"] = max(state["peak"], state["in_flight"])
        try:
            return original(spark, pending, *args, **kwargs)
        finally:
            with lock:
                state["in_flight"] -= 1

    monkeypatch.setattr(experiment, "run_trial_wave", counting)
    return state


def _assert_one_call_per_trial(wave_calls, trial_ids, slots):
    assert all(len(c) == 1 for c in wave_calls["calls"])
    assert sorted(c[0] for c in wave_calls["calls"]) == sorted(trial_ids)
    assert min(2, slots) <= wave_calls["peak"] <= slots


def test_loco_runs_one_job_per_trial_within_parallelism(spark, tmp_path, wave_calls):
    from maggy_spark.ablation import loco_trials

    slots = spark.sparkContext.defaultParallelism
    study = wide_study(tmp_path, slots + 2)
    res = lagom(feature_score, AblationConfig(ablation_study=study, direction="max"), spark)

    _assert_one_call_per_trial(wave_calls, [t.trial_id for t in loco_trials(study)], slots)
    assert res["num_trials"] == slots + 3 and res["errors"] == 0
    assert res["best_excludes"] == f"feature:f{slots + 1}"
    assert res["n_components"] == slots + 2


def test_custom_ablator_runs_one_job_per_trial_within_parallelism(spark, tmp_path, wave_calls):
    slots = spark.sparkContext.defaultParallelism
    study = wide_study(tmp_path, slots + 2)
    ablator = ListAblator(study)
    res = lagom(feature_score, AblationConfig(ablation_study=study, ablator=ablator, direction="max"), spark)

    _assert_one_call_per_trial(wave_calls, [t.trial_id for t in ablator.final_store], slots)
    assert len(ablator.final_store) == slots + 3
    assert res["best_excludes"] == {"ablated_feature": f"f{slots + 1}", "ablated_layer": "None"}
    assert res["n_components"] == slots + 2


@pytest.mark.parametrize("kind", ["loco", "custom"])
def test_ablation_honours_log_dir(spark, tmp_path, kind):
    from maggy_spark.sources.sinks import read_trial_summaries

    study = wide_study(tmp_path, 2)
    ablator = "loco" if kind == "loco" else ListAblator(study)

    def train_fn(dataset_function, ablated_feature):
        print(f"ablating {ablated_feature}")
        return float(len(dataset_function().columns))

    config = AblationConfig(
        name=f"abl_{kind}", ablation_study=study, ablator=ablator, log_dir=str(tmp_path / "logs")
    )
    res = lagom(train_fn, config, spark)

    exp_dir = res["log_dir"]
    with open(os.path.join(exp_dir, "result.json")) as f:
        assert json.load(f)["num_trials"] == 3
    rows = read_trial_summaries(spark, exp_dir).collect()
    assert len(rows) == 3 and len({r.trial_id for r in rows}) == 3
    for r in rows:
        with open(os.path.join(exp_dir, "trial_logs", f"{r.trial_id}.log")) as f:
            assert f.read().startswith("ablating ")


def test_failing_custom_ablator_trial_is_fed_back_and_finalized(spark, tmp_path):
    study = wide_study(tmp_path, 3)
    ablator = ListAblator(study)

    def train_fn(dataset_function, ablated_feature):
        if ablated_feature == "f1":
            raise RuntimeError("trial blew up")
        return float(len(dataset_function().columns))

    res = lagom(train_fn, AblationConfig(ablation_study=study, ablator=ablator), spark)

    assert res["errors"] == 1 and res["num_trials"] == 3
    [failed] = [t for t in ablator.fed_back if t.status == Trial.ERROR]
    assert failed.params["ablated_feature"] == "f1"
    assert "trial blew up" in failed.info_dict["error"]
    assert failed in ablator.final_store
    assert len(ablator.fed_back) == 4
    assert len(ablator.finalize_calls) == 1
    assert {t.trial_id for t in ablator.finalize_calls[0]} == {t.trial_id for t in ablator.fed_back}


def model_of_this_module():
    """Module-level, so it pickles by reference unless shipped by value:
    Python workers cannot import this test module."""
    return "model-from-test-module"


def test_custom_ablator_callables_ship_by_value(spark, tmp_path):
    slots = spark.sparkContext.defaultParallelism
    study = wide_study(tmp_path, slots + 1)
    ablator = ListAblator(study, model_function=model_of_this_module)

    def train_fn(dataset_function, model_function):
        assert model_function() == "model-from-test-module"
        return float(len(dataset_function().columns))

    res = lagom(train_fn, AblationConfig(ablation_study=study, ablator=ablator), spark)

    errors = [t.info_dict.get("error") for t in ablator.final_store if t.status == Trial.ERROR]
    assert errors == []
    assert res["num_trials"] == slots + 2


def test_concurrent_extras_pickles_stay_by_value():
    """Pool threads pickle trial extras at once; the by-value registry
    dance must not flip one thread's pickle back to by-reference."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    from maggy_spark import executor

    extras = {"model_function": model_of_this_module, "ablated_feature": "f1"}
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=4 * (os.cpu_count() or 1)) as pool:
            blobs = list(pool.map(lambda _: executor._dumps_by_value(extras), range(2000), timeout=60))
    finally:
        sys.setswitchinterval(interval)
    # cloudpickle rebuilds a by-value function through _make_function;
    # a by-reference pickle names only its module and qualname
    assert all(b"_make_function" in b for b in blobs)
