"""Ablation studies: LOCO (leave-one-component-out).

Reference: `maggy/ablation/ablationstudy.py:18-408` (feature set,
layer set, layer groups, custom model generators) and the LOCO
ablator (`maggy/ablation/ablator/loco.py:31-261`): n+1 trials — the
base trial plus one per included component; feature trials drop one
dataset column, layer trials drop one model layer (by name, group,
or prefix).

Rebuild: the component inventory is a relational `components` table
(FIXTURES.md F4); the trial list has one trial per component row
(operator G11); feature ablation is `.drop(column)` — i.e. column
pruning, which parquet gives us for free; the ablated training table
is read executor-side via pyarrow inside the trial task (the
dataset_function contract, `loco.py:222-230`). Trials run through the
HPO lifecycle (`experiment._run_trials`) behind `_AblationController`,
each its own Spark job with its dataset/model callables as extras.
"""

from __future__ import annotations

from abc import ABC, abstractmethod
from typing import Callable

from pyspark.sql import SparkSession

from maggy_spark.config import AblationConfig
from maggy_spark.trial import Trial


class _IncludeSet:
    """Insertion-ordered include/exclude collection (reference
    `ablationstudy.py:160-225` Features API)."""

    def __init__(self) -> None:
        self._items: list[str] = []

    def include(self, *names) -> None:
        for n in names:
            for item in (n if isinstance(n, (list, tuple)) else [n]):
                if not isinstance(item, str):
                    raise ValueError(f"component names must be strings, got {item!r}")
                if item not in self._items:
                    self._items.append(item)

    def exclude(self, *names) -> None:
        for n in names:
            for item in (n if isinstance(n, (list, tuple)) else [n]):
                if item in self._items:
                    self._items.remove(item)

    def list_all(self) -> list[str]:
        return list(self._items)

    @property
    def included_features(self) -> set[str]:
        """Reference attribute shape (`ablationstudy.py:162`)."""
        return set(self._items)

    def __len__(self) -> int:
        return len(self._items)

    def __iter__(self):
        return iter(self._items)


class _Layers(_IncludeSet):
    """Layers + layer groups + prefix groups (`ablationstudy.py:253-408`)."""

    def __init__(self) -> None:
        super().__init__()
        self._groups: list[frozenset[str]] = []
        self._prefixes: list[str] = []

    def include_groups(self, *groups, prefix: str | None = None) -> None:
        if prefix is not None:
            if not isinstance(prefix, str):
                raise ValueError(
                    "`prefix` argument of layers.include_groups() should either be "
                    f"a `NoneType` or a `str`, got {prefix!r}"
                )
            if prefix not in self._prefixes:
                self._prefixes.append(prefix)
        for g in groups:
            if not isinstance(g, (list, tuple, set, frozenset)) or len(g) < 2:
                raise ValueError("a layer group needs >= 2 layer names (ablationstudy.py:306-347)")
            fs = frozenset(g)
            if fs not in self._groups:
                self._groups.append(fs)

    def exclude_groups(self, *groups, prefix: str | None = None) -> None:
        """Remove previously-included groups / prefix groups
        (reference `ablationstudy.py:349-385`)."""
        if prefix is not None:
            if not isinstance(prefix, str):
                raise ValueError(
                    "`prefix` argument of layers.exclude_groups() should either be "
                    f"a `NoneType` or a `str`, got {prefix!r}"
                )
            if prefix in self._prefixes:
                self._prefixes.remove(prefix)
        for g in groups:
            if not isinstance(g, (list, tuple, set, frozenset)):
                raise ValueError("layers.exclude_groups() takes lists of layer names")
            fs = frozenset(g)
            if fs in self._groups:
                self._groups.remove(fs)

    def list_groups(self) -> list[list[str]]:
        return [sorted(g) for g in self._groups]

    def list_prefixes(self) -> list[str]:
        return list(self._prefixes)

    @property
    def included_layers(self) -> set[str]:
        """Reference attribute shape (`ablationstudy.py:255`)."""
        return set(self._items)

    @property
    def included_groups(self) -> set[frozenset]:
        """Reference encoding (`ablationstudy.py:256,306-347`): each
        explicit group is a frozenset of layer names; a prefix group
        is a singleton frozenset holding the prefix."""
        return set(self._groups) | {frozenset([p]) for p in self._prefixes}

    def print_all(self) -> None:
        """(reference `ablationstudy.py:387-394`)"""
        if self._items:
            print("Included single layers are: \n")
            for layer in self._items:
                print(layer)
        else:
            print("There are no single layers in this ablation study configuration.")

    def print_all_groups(self) -> None:
        """(reference `ablationstudy.py:396-408`)"""
        if self._groups or self._prefixes:
            print("Included layer groups are: \n")
            for group in self._groups:
                print("--- Layer group " + str(sorted(group)))
            for prefix in self._prefixes:
                print(f'---- All layers prefixed "{prefix}"')
        else:
            print("There are no layer groups in this ablation study configuration.")


class _Model:
    """Model-side ablation declarations (reference
    `ablationstudy.py:228-250`): layer sets plus base/custom model
    generators."""

    def __init__(self) -> None:
        self.layers = _Layers()
        self.base_model_generator: Callable | None = None
        self.custom_model_generators: list[tuple[Callable, str]] = []

    def set_base_model_generator(self, base_model_generator: Callable) -> None:
        self.base_model_generator = base_model_generator

    def add_custom_model_generator(self, custom_model_generator: Callable, model_identifier: str) -> None:
        self.custom_model_generators.append((custom_model_generator, model_identifier))


class AblationStudy:
    """Declares what to ablate (reference `ablationstudy.py:18-157`).

    Constructor takes the reference's positional shape
    ``(training_dataset_name, training_dataset_version, label_name)``;
    in this engine the dataset name doubles as a parquet path (or pass
    ``training_dataset_path=`` explicitly) and feature trials read it
    with the ablated column pruned.
    """

    def __init__(
        self,
        training_dataset_name: str | None = None,
        training_dataset_version: int | None = None,
        label_name: str | None = None,
        *,
        training_dataset_path: str | None = None,
        **kwargs,
    ) -> None:
        self.features = _IncludeSet()
        self.model = _Model()
        self.custom_model_generators: dict[str, Callable] = {}
        self.hops_training_dataset_name = training_dataset_name
        self.hops_training_dataset_version = training_dataset_version
        self.label_name = label_name
        self.training_dataset_path = training_dataset_path or training_dataset_name
        self.custom_dataset_generator = kwargs.get("dataset_generator", False)

    def set_dataset_generator(self, dataset_generator: Callable) -> None:
        """(reference `ablationstudy.py:151-157`)"""
        self.custom_dataset_generator = dataset_generator

    def add_custom_model_generator(self, name: str, generator: Callable) -> None:
        """Engine-native registration (name -> generator); the
        reference's Model-level form is `model.add_custom_model_generator`."""
        self.custom_model_generators[name] = generator

    def _custom_model_names(self) -> list[str]:
        """Union of engine-native and reference-style registrations,
        insertion-ordered and de-duplicated."""
        names = list(self.custom_model_generators)
        for _, identifier in self.model.custom_model_generators:
            if identifier not in names:
                names.append(identifier)
        return names

    def to_dict(self) -> dict:
        """(reference `ablationstudy.py:130-149`)"""
        return {
            "training_dataset_name": self.hops_training_dataset_name,
            "training_dataset_version": self.hops_training_dataset_version,
            "label_name": self.label_name,
            "included_features": list(self.features.list_all()),
            "included_layers": sorted(self.model.layers.included_layers),
            "custom_dataset_generator": bool(self.custom_dataset_generator),
        }


class AbstractAblator(ABC):
    """The reference's custom-ablator extension point
    (`ablation/ablator/abstractablator.py:20-86`): an ablation policy
    that buffers/creates trials and hands them out one at a time.

    Custom ablators written against the reference subclass this and
    are passed via ``AblationConfig(ablator=instance)``; the engine
    drains `get_trial(None)` for the first trials, then hands every
    settled trial back through `get_trial` and runs what it returns,
    each trial its own job in the HPO dispatch loop."""

    def __init__(self, ablation_study, final_store=None) -> None:
        self.ablation_study = ablation_study
        self.final_store = final_store if final_store is not None else []
        self.trial_buffer: list[Trial] = []

    @abstractmethod
    def get_number_of_trials(self) -> int:
        """Total trial count including the base trial."""

    @abstractmethod
    def get_dataset_generator(self, ablated_feature, dataset_type: str = "parquet"):
        """Executor-side dataset loader with `ablated_feature` pruned."""

    @abstractmethod
    def get_model_generator(self, ablated_layer):
        """Model factory with `ablated_layer` removed."""

    @abstractmethod
    def initialize(self) -> None:
        """Fill (or warm-start) `trial_buffer`."""

    @abstractmethod
    def get_trial(self, ablation_trial=None):
        """Next Trial to run, or None when exhausted; receives each
        finished trial reference-style."""

    @abstractmethod
    def finalize_experiment(self, trials) -> None:
        """Post-experiment hook (cleanup / extra logging)."""

    def name(self) -> str:
        return str(self.__class__.__name__)


class LOCO(AbstractAblator):
    """Leave-one-component-out as a reference-protocol ablator
    (`ablation/ablator/loco.py:27-261`): pre-generates base + one
    trial per included component into `trial_buffer`. Trials carry
    the reference param shape (`ablated_feature`/`ablated_layer` plus
    dataset/model callables), so trial ids hash the ablated labels
    exactly like the reference (`trial.py:62-67`).

    The built-in "loco" ablator (loco_trials/components_df) stays the
    default; this class exists so reference user code subclassing or
    instantiating LOCO runs unchanged. Both run through the same
    dispatch loop."""

    def get_number_of_trials(self) -> int:
        study = self.ablation_study
        return (
            1
            + len(study.features.list_all())
            + len(study.model.layers.list_all())
            + len(study.model.layers.list_groups())
            + len(study.model.layers.list_prefixes())
            + len(study._custom_model_names())
        )

    def get_dataset_generator(self, ablated_feature, dataset_type: str = "parquet"):
        study = self.ablation_study
        # a user-supplied generator wins, returned AS-IS like the
        # reference (`loco.py:45-47`) — it owns the ablation logic
        if study.custom_dataset_generator:
            return study.custom_dataset_generator
        return make_dataset_function(study.training_dataset_path, study.label_name, ablated_feature)

    def get_model_generator(self, ablated_layer=None, custom_model_generator=None):
        if custom_model_generator is not None:
            return custom_model_generator
        base = self.ablation_study.model.base_model_generator
        if base is None or ablated_layer is None:
            return base
        return ablating_model_generator(base, ablated_layer)

    def initialize(self) -> None:
        study = self.ablation_study
        self.trial_buffer.append(Trial(self.create_trial_dict(None, None), trial_type="ablation"))
        for f in study.features.list_all():
            self.trial_buffer.append(Trial(self.create_trial_dict(f, None), trial_type="ablation"))
        for layer in study.model.layers.list_all():
            self.trial_buffer.append(Trial(self.create_trial_dict(None, layer), trial_type="ablation"))
        for group in study.model.layers.list_groups():
            self.trial_buffer.append(Trial(self.create_trial_dict(None, set(group)), trial_type="ablation"))
        for prefix in study.model.layers.list_prefixes():
            self.trial_buffer.append(Trial(self.create_trial_dict(None, {prefix}), trial_type="ablation"))
        # both registration surfaces, de-duplicated by identifier, so
        # the buffer agrees with get_number_of_trials (which counts
        # the union via _custom_model_names)
        buffered = set()
        for gen, identifier in study.model.custom_model_generators:
            if identifier in buffered:
                continue
            buffered.add(identifier)
            self.trial_buffer.append(
                Trial(
                    self.create_trial_dict(None, None, custom_model_generator=(gen, identifier)),
                    trial_type="ablation",
                )
            )
        for identifier, gen in study.custom_model_generators.items():
            if identifier in buffered:
                continue
            buffered.add(identifier)
            self.trial_buffer.append(
                Trial(
                    self.create_trial_dict(None, None, custom_model_generator=(gen, identifier)),
                    trial_type="ablation",
                )
            )

    def get_trial(self, ablation_trial=None):
        if self.trial_buffer:
            return self.trial_buffer.pop()
        return None

    def finalize_experiment(self, trials) -> None:
        return None

    def create_trial_dict(self, ablated_feature=None, layer_identifier=None, custom_model_generator=None) -> dict:
        """Reference-shaped trial params (`loco.py:205-261`): the
        ablated labels plus the dataset/model callables."""
        trial_dict: dict = {}
        if ablated_feature is None:
            trial_dict["dataset_function"] = self.get_dataset_generator(None)
            trial_dict["ablated_feature"] = "None"
        else:
            trial_dict["dataset_function"] = self.get_dataset_generator(ablated_feature)
            trial_dict["ablated_feature"] = ablated_feature

        if layer_identifier is None and custom_model_generator is None:
            trial_dict["model_function"] = self.ablation_study.model.base_model_generator
            trial_dict["ablated_layer"] = "None"
        elif layer_identifier is not None:
            trial_dict["model_function"] = self.get_model_generator(ablated_layer=layer_identifier)
            if isinstance(layer_identifier, str):
                trial_dict["ablated_layer"] = layer_identifier
            elif len(layer_identifier) > 1:
                trial_dict["ablated_layer"] = str(sorted(layer_identifier))
            else:
                trial_dict["ablated_layer"] = "Layers prefixed " + next(iter(layer_identifier))
        else:
            gen, identifier = custom_model_generator
            trial_dict["model_function"] = self.get_model_generator(custom_model_generator=gen)
            trial_dict["ablated_layer"] = "custom model: " + identifier
        return trial_dict


def loco_trials(study: AblationStudy) -> list[Trial]:
    """The LOCO trial list: base + one per component
    (`loco.py:138-194`; count `loco.py:31-39` =
    n_features + n_layers + n_groups + n_custom + 1).
    Trial ids hash only the ablation labels (`trial.py:62-67`)."""
    trials = [Trial({"ablated": "None"}, trial_type="ablation", info_dict={"component": "base"})]
    for f in study.features:
        trials.append(Trial({"ablated": f"feature:{f}"}, trial_type="ablation",
                            info_dict={"component": "feature", "name": f}))
    for layer in study.model.layers:
        trials.append(Trial({"ablated": f"layer:{layer}"}, trial_type="ablation",
                            info_dict={"component": "layer", "name": layer}))
    for group in study.model.layers.list_groups():
        gname = ",".join(group)
        trials.append(Trial({"ablated": f"layer_group:{gname}"}, trial_type="ablation",
                            info_dict={"component": "layer_group", "members": group}))
    for prefix in study.model.layers.list_prefixes():
        trials.append(Trial({"ablated": f"layer_prefix:{prefix}"}, trial_type="ablation",
                            info_dict={"component": "layer_prefix", "name": prefix}))
    for name in study._custom_model_names():
        trials.append(Trial({"ablated": f"custom:{name}"}, trial_type="ablation",
                            info_dict={"component": "custom_model", "name": name}))
    return trials


def components_df(spark: SparkSession, study: AblationStudy):
    """The `components` relation (FIXTURES.md F4) for relational use."""
    rows = (
        [("feature", f, [f]) for f in study.features]
        + [("layer", l, [l]) for l in study.model.layers]
        + [("layer_group", "group:" + ",".join(g), list(g)) for g in study.model.layers.list_groups()]
        + [("layer_group", "prefix:" + p, [p]) for p in study.model.layers.list_prefixes()]
        + [("custom_model", "custom:" + n, [n]) for n in study._custom_model_names()]
    )
    return spark.createDataFrame(rows, "kind string, name string, members array<string>")


def ablating_model_generator(base: Callable, ablated_layer):
    """Model generator with one layer (or layer set/prefix) removed.

    Layer surgery needs a framework model object; outside a TF/Keras
    environment the base model is returned and the ablated layer name
    travels with the trial for the user function to apply (the
    container ships no frameworks). Module-level — not a method
    closure — so by-value serialization registers the USER's module
    for `base` when a trial ships it to executors."""

    def model_generator():
        model = base()
        try:
            import tensorflow as tf  # noqa: F401

            from maggy_spark.frameworks import ablate_keras_layer

            return ablate_keras_layer(model, ablated_layer)
        except ImportError:
            return model

    return model_generator


def make_dataset_function(path: str | None, label: str | None, ablated_feature: str | None):
    """Executor-side dataset loader with the ablated column pruned —
    the `dataset_function` contract (`loco.py:222-230`). Reads
    parquet via pyarrow with an explicit column projection, so the
    ablation is column pruning at the scan, not a post-hoc drop."""

    def dataset_function():
        if path is None:
            raise ValueError("AblationStudy has no training_dataset_path")
        import pyarrow.parquet as pq

        schema_names = pq.read_schema(path).names
        cols = [c for c in schema_names if c != ablated_feature]
        return pq.read_table(path, columns=cols).to_pandas()

    return dataset_function


def run_ablation(train_fn: Callable, config: AblationConfig, spark: SparkSession) -> dict:
    """Execute the ablation study through the HPO lifecycle
    (`experiment._run_trials`; the reference `AblationDriver` subclasses
    the HPO driver, `ablation_driver.py:32-87`): async refill at the
    cluster's default parallelism, every trial its own job, early
    stopping off (`ablation_driver.py:52`). The default "loco" ablator
    runs `loco_trials`; a custom AbstractAblator instance (reference
    `ablation_driver.py:65-77`) is drained through `get_trial`
    reference-style."""
    from maggy_spark.experiment import _run_trials

    study: AblationStudy = config.ablation_study
    if study is None:
        raise ValueError("AblationConfig.ablation_study is required")
    ablator = getattr(config, "ablator", "loco")
    if isinstance(ablator, str):
        if ablator.lower() != "loco":
            raise ValueError(f"unknown ablator {ablator!r}; only 'loco' is built in")
        controller = _AblationController(loco_trials(study))
        components = _loco_components(study)
    else:
        if not callable(getattr(ablator, "get_trial", None)):
            raise TypeError(
                "ablator should be 'loco' or an instance of AbstractAblator, got "
                f"{type(ablator).__name__}"
            )
        ablator.ablation_study = study
        ablator.final_store = []
        ablator.trial_buffer = list(getattr(ablator, "trial_buffer", []))
        ablator.initialize()
        # the reference driver requests trials with no finished
        # reference until the ablator runs dry
        controller = _AblationController(list(iter(lambda: ablator.get_trial(None), None)), ablator)
        components = _reference_components
    label = study.label_name

    def payload(trial: Trial) -> tuple[dict, dict]:
        # the train_fn sees only these injected values (and reporter),
        # never the trial's raw params
        ablated_feature, ablated_layer, dataset_fn, model_fn = components(trial)
        extras = {"ablated_feature": ablated_feature, "ablated_layer": ablated_layer, "label_name": label}
        # a None callable is left out: it would clobber a user-supplied
        # parameter default (build_kwargs prefers extras over defaults)
        if dataset_fn is not None:
            extras["dataset_function"] = dataset_fn
        if model_fn is not None:
            extras["model_function"] = model_fn
        return {}, extras

    def finish(result: dict) -> None:
        best = result.get("best_config")
        if best is not None:
            # "BEST Config Excludes ..." (ablation_driver.py:153-183)
            result["best_excludes"] = (
                best.get("ablated", "None")
                if isinstance(ablator, str)
                else {k: best.get(k, "None") for k in ("ablated_feature", "ablated_layer")}
            )
        result["n_components"] = controller.num_trials - 1

    return _run_trials(
        train_fn, config, spark, controller, spark.sparkContext.defaultParallelism, "async", payload, finish
    )


class _AblationController:
    """The controller protocol `experiment._drive` runs (`next_batch`,
    `finalize_trial`, `report_error`, `done`, `num_trials`,
    `final_store`) over an ablation study's trials.

    With no ablator the trials are fixed. With a reference-protocol
    ablator every settled trial, ERROR ones included, joins its
    `final_store` and is handed back through `get_trial` in settle
    order; a returned trial joins the queue. `finalize_experiment`
    fires once, from the first `done()` that sees every trial settled.
    """

    def __init__(self, trials: list[Trial], ablator=None) -> None:
        self._pending = list(trials)
        self._ablator = ablator
        self._finalized = False
        self.num_trials = len(self._pending)
        self.final_store: list[Trial] = ablator.final_store if ablator is not None else []

    def next_batch(self, max_trials: int) -> list[Trial]:
        batch, self._pending = self._pending[:max_trials], self._pending[max_trials:]
        return batch

    def finalize_trial(self, trial: Trial) -> None:
        self.final_store.append(trial)
        if self._ablator is not None:
            follow_up = self._ablator.get_trial(trial)
            if follow_up is not None:
                self._pending.append(follow_up)
                self.num_trials += 1

    report_error = finalize_trial

    def done(self) -> bool:
        finished = not self._pending and len(self.final_store) == self.num_trials
        if finished and self._ablator is not None and not self._finalized:
            self._finalized = True
            self._ablator.finalize_experiment(self.final_store)
        return finished


def _loco_components(study: AblationStudy) -> Callable:
    """(ablated_feature, ablated_layer, dataset_function, model_function)
    of a `loco_trials` trial. A user-set dataset generator replaces the
    parquet reader for every trial (reference loco.py:45-47 — the
    generator owns the ablation logic); the base model generator goes to
    every non-custom trial, with layer trials getting the ablating
    wrapper."""
    custom_gens = dict(study.custom_model_generators)
    for gen, identifier in study.model.custom_model_generators:
        custom_gens.setdefault(identifier, gen)
    base = study.model.base_model_generator

    def components(trial: Trial) -> tuple:
        kind, _, name = trial.params["ablated"].partition(":")
        ablated_feature = name if kind == "feature" else None
        ablated_layer = name if kind in ("layer", "layer_group", "layer_prefix") else None
        dataset_fn = study.custom_dataset_generator or make_dataset_function(
            study.training_dataset_path, study.label_name, ablated_feature
        )
        if kind == "custom":
            model_fn = custom_gens.get(name)
        elif base is not None and ablated_layer is not None:
            model_fn = ablating_model_generator(base, ablated_layer)
        else:
            model_fn = base
        return ablated_feature, ablated_layer, dataset_fn, model_fn

    return components


def _reference_components(trial: Trial) -> tuple:
    """The same four values from a reference-shaped trial's params."""
    p = trial.params
    return p.get("ablated_feature"), p.get("ablated_layer"), p.get("dataset_function"), p.get("model_function")
