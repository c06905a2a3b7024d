"""Reference-protocol ablators (`ablation/ablator/abstractablator.py`,
`loco.py`): the LOCO class shape, reference-style ablation trial ids,
and driving a custom AbstractAblator through lagom."""

from __future__ import annotations

import json

import pandas as pd
import pytest

from maggy_spark.ablation import LOCO, AblationStudy, AbstractAblator
from maggy_spark.trial import Trial


@pytest.fixture()
def parquet_ds(tmp_path):
    path = str(tmp_path / "train.parquet")
    pd.DataFrame(
        {"f1": [1.0, 2.0, 3.0], "f2": [4.0, 5.0, 6.0], "label": [0, 1, 0]}
    ).to_parquet(path)
    return path


def make_study(path):
    study = AblationStudy(path, 1, "label")
    study.features.include("f1", "f2")
    return study


def test_reference_import_paths():
    from maggy.ablation import LOCO as L1
    from maggy.ablation import AbstractAblator as A1
    from maggy.ablation.ablator import LOCO as L2
    from maggy.ablation.ablator import AbstractAblator as A2
    from maggy.ablation.ablator.loco import LOCO as L3

    assert L1 is L2 is L3 and A1 is A2


def test_ablation_trial_id_hashes_only_ablated_labels():
    t1 = Trial(
        {"dataset_function": lambda: 1, "ablated_feature": "f1",
         "model_function": None, "ablated_layer": "None"},
        trial_type="ablation",
    )
    t2 = Trial(
        {"dataset_function": lambda: 2, "ablated_feature": "f1",
         "model_function": None, "ablated_layer": "None"},
        trial_type="ablation",
    )
    assert t1.trial_id == t2.trial_id  # callables don't contribute
    t3 = Trial({"ablated_feature": "f2", "ablated_layer": "None"}, trial_type="ablation")
    assert t3.trial_id != t1.trial_id
    # engine-native ablation params (no reference keys) keep their scheme
    t4 = Trial({"ablated": "feature:f1"}, trial_type="ablation")
    assert t4.trial_id != t1.trial_id


def test_loco_buffer_and_counts(parquet_ds):
    study = make_study(parquet_ds)
    study.model.layers.include("dense_1")
    study.model.layers.include_groups(["dense_1", "dense_2"], prefix="conv")
    study.model.add_custom_model_generator(lambda: "m", "wide")
    loco = LOCO(study, [])
    assert loco.get_number_of_trials() == 1 + 2 + 1 + 1 + 1 + 1
    loco.initialize()
    assert len(loco.trial_buffer) == loco.get_number_of_trials()
    seen = set()
    while True:
        t = loco.get_trial()
        if t is None:
            break
        seen.add((t.params["ablated_feature"], t.params["ablated_layer"]))
    assert ("None", "None") in seen  # base trial
    assert ("f1", "None") in seen and ("f2", "None") in seen
    assert ("None", "dense_1") in seen
    assert ("None", str(sorted(["dense_1", "dense_2"]))) in seen
    assert ("None", "Layers prefixed conv") in seen
    assert ("None", "custom model: wide") in seen
    assert loco.name() == "LOCO"


def test_loco_dataset_generator_prunes_column(parquet_ds):
    study = make_study(parquet_ds)
    loco = LOCO(study, [])
    df = loco.get_dataset_generator("f1")()
    assert sorted(df.columns) == ["f2", "label"]
    full = loco.get_dataset_generator(None)()
    assert sorted(full.columns) == ["f1", "f2", "label"]


def test_loco_model_generator_without_tf_returns_base(parquet_ds):
    study = make_study(parquet_ds)
    study.model.set_base_model_generator(lambda: "base-model")
    loco = LOCO(study, [])
    gen = loco.get_model_generator(ablated_layer="dense_1")
    assert gen() == "base-model"  # no TF in the container: base passthrough
    assert loco.get_model_generator(custom_model_generator=lambda: "custom")() == "custom"


def test_lagom_drives_custom_ablator(spark, parquet_ds):
    from maggy_spark.config import AblationConfig
    from maggy_spark.experiment import lagom

    class FeatureOnlyAblator(AbstractAblator):
        """Minimal custom policy: base + one trial per feature."""

        def get_number_of_trials(self):
            return 1 + len(self.ablation_study.features.list_all())

        def get_dataset_generator(self, ablated_feature, dataset_type="parquet"):
            from maggy_spark.ablation import make_dataset_function

            return make_dataset_function(
                self.ablation_study.training_dataset_path,
                self.ablation_study.label_name,
                ablated_feature,
            )

        def get_model_generator(self, ablated_layer):
            return None

        def initialize(self):
            self.trial_buffer.append(
                Trial(
                    {"dataset_function": self.get_dataset_generator(None),
                     "ablated_feature": "None", "ablated_layer": "None"},
                    trial_type="ablation",
                )
            )
            for f in self.ablation_study.features.list_all():
                self.trial_buffer.append(
                    Trial(
                        {"dataset_function": self.get_dataset_generator(f),
                         "ablated_feature": f, "ablated_layer": "None"},
                        trial_type="ablation",
                    )
                )

        def get_trial(self, ablation_trial=None):
            return self.trial_buffer.pop() if self.trial_buffer else None

        def finalize_experiment(self, trials):
            self.finalized = list(trials)

    study = make_study(parquet_ds)
    ablator = FeatureOnlyAblator(study)

    def train_fn(dataset_function, ablated_feature):
        df = dataset_function()
        # fewer columns -> lower "metric": base wins under max
        return float(len(df.columns))

    res = lagom(train_fn, AblationConfig(ablation_study=study, ablator=ablator, direction="max"), spark)
    assert res["num_trials"] == 3
    assert res["best_val"] == 3.0  # base trial keeps all 3 columns
    assert res["best_excludes"] == {"ablated_feature": "None", "ablated_layer": "None"}
    assert len(ablator.finalized) == 3
    assert len(ablator.final_store) == 3


def test_lagom_drives_reference_loco_class(spark, parquet_ds):
    from maggy_spark.config import AblationConfig
    from maggy_spark.experiment import lagom

    study = make_study(parquet_ds)
    ablator = LOCO(study, [])

    def train_fn(dataset_function, ablated_feature):
        return float(len(dataset_function().columns))

    res = lagom(train_fn, AblationConfig(ablation_study=study, ablator=ablator, direction="max"), spark)
    assert res["num_trials"] == 3  # base + f1 + f2


def test_bad_ablator_spec_raises(spark, parquet_ds):
    from maggy_spark.config import AblationConfig
    from maggy_spark.experiment import lagom

    study = make_study(parquet_ds)
    with pytest.raises(ValueError):
        lagom(lambda: 1.0, AblationConfig(ablation_study=study, ablator="unknown"), spark)
    with pytest.raises(TypeError):
        lagom(lambda: 1.0, AblationConfig(ablation_study=study, ablator=42), spark)


def test_ablate_keras_layer_surgery_gated():
    from maggy_spark.frameworks import ablate_keras_layer

    with pytest.raises(ImportError):
        ablate_keras_layer(object(), "dense_1")


def test_custom_dataset_generator_is_honored(parquet_ds):
    study = make_study(parquet_ds)

    def my_gen():
        return "custom-dataset"

    study.set_dataset_generator(my_gen)
    loco = LOCO(study, [])
    assert loco.get_dataset_generator("f1") is my_gen  # reference loco.py:45-47


def test_run_ablation_injects_custom_dataset_and_base_model(spark, parquet_ds):
    from maggy_spark.ablation import run_ablation
    from maggy_spark.config import AblationConfig

    study = make_study(parquet_ds)
    study.set_dataset_generator(lambda: "custom-dataset")
    study.model.set_base_model_generator(lambda: "base-model")

    def train_fn(dataset_function, model_function, ablated_feature):
        # every trial must see the USER generator and the base model
        ok = dataset_function() == "custom-dataset" and model_function() == "base-model"
        return 1.0 if ok else 0.0

    res = run_ablation(train_fn, AblationConfig(ablation_study=study), spark)
    assert res["num_trials"] == 3  # base + f1 + f2
    assert res["best_val"] == 1.0 and res["worst_val"] == 1.0  # all trials saw both


def test_custom_ablator_sees_every_finished_trial(spark, parquet_ds):
    """get_trial returning None for one finished trial must not stop
    delivery of the other queued finished trials (an adaptive ablator
    reacts to specific results)."""
    from maggy_spark.ablation import run_ablation
    from maggy_spark.config import AblationConfig

    class Reactive(AbstractAblator):
        def __init__(self, study):
            super().__init__(study, [])
            self.initial = [
                Trial({"ablated_feature": f, "ablated_layer": "None"}, trial_type="ablation")
                for f in ("a", "b", "c")
            ]
            self.seen_finished = []
            self.spawned = False

        def get_number_of_trials(self):
            return 4

        def get_dataset_generator(self, ablated_feature, dataset_type="parquet"):
            return None

        def get_model_generator(self, ablated_layer=None, custom_model_generator=None):
            return None

        def initialize(self):
            pass

        def get_trial(self, ablation_trial=None):
            if ablation_trial is not None:
                self.seen_finished.append(ablation_trial.params.get("ablated_feature"))
                # only trial 'b' triggers a follow-up; 'a' returns None
                if ablation_trial.params.get("ablated_feature") == "b" and not self.spawned:
                    self.spawned = True
                    return Trial(
                        {"ablated_feature": "b_followup", "ablated_layer": "None"},
                        trial_type="ablation",
                    )
                return None
            if self.initial:
                return self.initial.pop(0)
            return None

        def finalize_experiment(self, trials):
            pass

    study = make_study(parquet_ds)
    abl = Reactive(study)
    res = run_ablation(
        lambda ablated_feature: 1.0, AblationConfig(ablation_study=study, ablator=abl), spark
    )
    assert sorted(abl.seen_finished[:3]) == ["a", "b", "c"]  # every finished delivered
    assert abl.spawned and res["num_trials"] == 4  # the follow-up ran


def test_loco_buffers_engine_native_custom_generators(parquet_ds):
    study = make_study(parquet_ds)
    study.add_custom_model_generator("narrow", lambda: "narrow-model")  # engine-native dict
    study.model.add_custom_model_generator(lambda: "wide-model", "wide")  # reference list
    loco = LOCO(study, [])
    loco.initialize()
    assert len(loco.trial_buffer) == loco.get_number_of_trials()
    labels = {t.params["ablated_layer"] for t in loco.trial_buffer}
    assert "custom model: narrow" in labels and "custom model: wide" in labels


def test_builtin_loco_ablates_layer_groups_and_prefixes_as_sets(spark, parquet_ds, monkeypatch):
    """ablator="loco" hands Keras layer surgery the reference's layer
    identifiers: the group's member set and a prefix as a singleton
    set, not their string labels. The payload's model functions run on
    the driver against a stub tensorflow module and a recording
    ablate_keras_layer."""
    import sys
    import types

    from maggy_spark import experiment, frameworks
    from maggy_spark.config import AblationConfig

    captured = {}

    def capture(train_fn, config, spark, controller, parallelism, scheduling, payload, finish):
        captured.update(controller=controller, payload=payload)
        return {}

    monkeypatch.setattr(experiment, "_run_trials", capture)
    recorded = []
    monkeypatch.setattr(frameworks, "ablate_keras_layer", lambda model, layer: recorded.append(layer) or model)
    monkeypatch.setitem(sys.modules, "tensorflow", types.ModuleType("tensorflow"))

    study = make_study(parquet_ds)
    study.model.set_base_model_generator(lambda: "base-model")
    study.model.layers.include("dense_0")
    study.model.layers.include_groups(["dense_1", "dense_2"], prefix="conv")
    experiment.lagom(lambda model_function: 1.0, AblationConfig(ablation_study=study, ablator="loco"), spark)

    controller = captured["controller"]
    for trial in controller.next_batch(controller.num_trials):
        _, extras = captured["payload"](trial)
        assert extras["model_function"]() == "base-model"
    assert len(recorded) == 3
    assert "dense_0" in recorded and {"dense_1", "dense_2"} in recorded and {"conv"} in recorded
