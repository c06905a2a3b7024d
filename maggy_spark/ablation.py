"""Ablation studies: LOCO (leave-one-component-out).

Reference: `maggy/ablation/ablationstudy.py:18-408` (feature set,
layer set, layer groups, custom model generators) and the LOCO
ablator (`maggy/ablation/ablator/loco.py:31-261`): n+1 trials — the
base trial plus one per included component; feature trials drop one
dataset column, layer trials drop one model layer (by name, group,
or prefix).

Rebuild: the component inventory is a relational `components` table
(FIXTURES.md F4); the trial list is a UNION ALL projection over it
(operator G11); feature ablation is `.drop(column)` — i.e. column
pruning, which parquet gives us for free; the ablated training table
is read executor-side via pyarrow inside the trial task (the
dataset_function contract, `loco.py:222-230`).
"""

from __future__ import annotations

from abc import ABC, abstractmethod
from typing import Any, Callable

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from maggy_spark.config import AblationConfig
from maggy_spark.executor import run_trial_wave
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
    drains `get_trial` into execution waves."""

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

    The engine's relational LOCO path (loco_trials/components_df)
    stays the scale-native default; this class exists so reference
    user code subclassing or instantiating LOCO runs unchanged."""

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
    """Execute the ablation study; early stopping forced off
    (`ablation_driver.py:52`). The default "loco" ablator runs the
    engine's relational path; a custom AbstractAblator instance
    (reference `ablation_driver.py:65-77`) is drained through
    `get_trial` reference-style."""
    from maggy_spark.experiment import _aggregate_result

    study: AblationStudy = config.ablation_study
    if study is None:
        raise ValueError("AblationConfig.ablation_study is required")
    ablator_spec = getattr(config, "ablator", "loco")
    if not isinstance(ablator_spec, str):
        if not callable(getattr(ablator_spec, "get_trial", None)):
            raise TypeError(
                "ablator should be 'loco' or an instance of AbstractAblator, got "
                f"{type(ablator_spec).__name__}"
            )
        return _run_custom_ablator(train_fn, config, spark, ablator_spec)
    if ablator_spec.lower() != "loco":
        raise ValueError(f"unknown ablator {ablator_spec!r}; only 'loco' is built in")
    trials = loco_trials(study)

    path = study.training_dataset_path
    label = study.label_name
    custom_gens = dict(study.custom_model_generators)
    for gen, identifier in study.model.custom_model_generators:
        custom_gens.setdefault(identifier, gen)
    # a user-set dataset generator replaces the parquet reader for
    # every trial (reference loco.py:45-47 — the generator owns the
    # ablation logic); the base model generator is injected for every
    # non-custom trial, with layer trials getting the ablating wrapper
    custom_dataset_gen = study.custom_dataset_generator or None
    base_model_gen = study.model.base_model_generator
    # Serialize the USER fn by value here: `wrapped` (a local function)
    # is always pickled by value, but a closure cell holding train_fn
    # would be pickled by REFERENCE to train_fn's module — exactly the
    # executor-side ModuleNotFoundError _dumps_by_value prevents.
    from maggy_spark.executor import _dumps_by_value

    train_fn_bytes = _dumps_by_value(train_fn)

    def wrapped(hparams: dict, reporter: Any = None, **_kw) -> Any:
        from pyspark import cloudpickle as _cp

        user_fn = _cp.loads(train_fn_bytes)
        ablated = hparams.get("ablated", "None")
        kind, _, name = ablated.partition(":")
        ablated_feature = name if kind == "feature" else None
        ablated_layer = name if kind in ("layer", "layer_group", "layer_prefix") else None
        from maggy_spark.executor import build_kwargs

        extras = {
            "dataset_function": custom_dataset_gen
            if custom_dataset_gen is not None
            else make_dataset_function(path, label, ablated_feature),
            "ablated_feature": ablated_feature,
            "ablated_layer": ablated_layer,
            "label_name": label,
        }
        # only inject model_function when this trial actually carries
        # one — an unconditional None would clobber a user-supplied
        # parameter default (build_kwargs prefers extras over defaults)
        if kind == "custom" and custom_gens.get(name) is not None:
            extras["model_function"] = custom_gens[name]
        elif kind != "custom" and base_model_gen is not None:
            extras["model_function"] = (
                base_model_gen
                if ablated_layer is None
                else ablating_model_generator(base_model_gen, ablated_layer)
            )
        kwargs = build_kwargs(user_fn, {}, reporter, extras)
        return user_fn(**kwargs)

    pending = [{"trial_id": t.trial_id, "params": t.params, "budget": 0} for t in trials]
    by_id = {t.trial_id: t for t in trials}
    results = run_trial_wave(spark, pending, wrapped, optimization_key=config.optimization_key)
    done: list[Trial] = []
    for r in results:
        t = by_id[r["trial_id"]]
        if r["error"]:
            t.status = Trial.ERROR
            t.info_dict["error"] = r["error"]
        else:
            t.status = Trial.FINALIZED
            t.final_metric = r["final_metric"]
        t.info_dict["seq"] = len(done)
        done.append(t)

    result = _aggregate_result(done, config.direction)
    best = next((t for t in done if t.trial_id == result.get("best_id")), None)
    if best is not None:
        result["best_config"] = dict(best.params)
        # "BEST Config Excludes ..." (ablation_driver.py:153-183)
        result["best_excludes"] = best.params.get("ablated", "None")
    result["n_components"] = len(trials) - 1
    return result


def _run_custom_ablator(train_fn: Callable, config: AblationConfig, spark: SparkSession, ablator) -> dict:
    """Drive a reference-protocol ablator (`abstractablator.py:20-86`)
    through the engine's wave executor.

    The reference driver hands each finished trial to the next
    `get_trial` call; here finished trials queue during a wave and
    drain one per call. Per-trial dataset/model callables cannot ride
    the relational params payload (run_trial_wave strips callables
    before shipping), so they are cloudpickled by value into a
    trial_id-keyed map captured by the wave closure."""
    from maggy_spark.executor import _dumps_by_value, build_kwargs  # noqa: F401
    from maggy_spark.experiment import _aggregate_result

    study: AblationStudy = config.ablation_study
    final_store: list[Trial] = []
    ablator.ablation_study = study
    ablator.final_store = final_store
    ablator.trial_buffer = list(getattr(ablator, "trial_buffer", []))
    ablator.initialize()

    train_fn_bytes = _dumps_by_value(train_fn)
    label = study.label_name
    finished_q: list[Trial] = []
    done: list[Trial] = []

    first_wave = True
    while True:
        batch: list[Trial] = []
        if first_wave:
            # initial drain: the reference driver requests trials with
            # no finished reference until the ablator runs dry
            first_wave = False
            while True:
                t = ablator.get_trial(None)
                if t is None:
                    break
                batch.append(t)
        else:
            # EVERY finished trial is handed to get_trial, even when an
            # earlier one returned None — stopping at the first None
            # would drop queued finished trials and an adaptive ablator
            # would never see them (the reference driver feeds each
            # finished trial regardless of prior returns)
            while finished_q:
                t = ablator.get_trial(finished_q.pop(0))
                if t is not None:
                    batch.append(t)
        if not batch:
            break

        # serialize EACH callable through _dumps_by_value: passing the
        # tuple would defeat by-value module registration (getmodule on
        # a tuple is None) and pickle the user's notebook functions by
        # reference — the executor-side ModuleNotFoundError this path
        # exists to prevent
        def _ser(fn):
            return None if fn is None else _dumps_by_value(fn)

        fn_map = {
            t.trial_id: (
                _ser(t.params.get("dataset_function")),
                _ser(t.params.get("model_function")),
            )
            for t in batch
        }

        def wrapped(hparams: dict, reporter: Any = None, **_kw) -> Any:
            from pyspark import cloudpickle as _cp

            user_fn = _cp.loads(train_fn_bytes)
            tid = hparams.get("__trial_id__")
            dataset_fn = model_fn = None
            if tid in fn_map:
                ds_bytes, mf_bytes = fn_map[tid]
                dataset_fn = _cp.loads(ds_bytes) if ds_bytes is not None else None
                model_fn = _cp.loads(mf_bytes) if mf_bytes is not None else None
            extras = {
                "ablated_feature": hparams.get("ablated_feature"),
                "ablated_layer": hparams.get("ablated_layer"),
                "label_name": label,
            }
            if dataset_fn is not None:
                extras["dataset_function"] = dataset_fn
            if model_fn is not None:
                extras["model_function"] = model_fn
            kwargs = build_kwargs(user_fn, {}, reporter, extras)
            return user_fn(**kwargs)

        pending = [
            {
                "trial_id": t.trial_id,
                "params": {
                    **{k: v for k, v in t.params.items() if not callable(v)},
                    "__trial_id__": t.trial_id,
                },
                "budget": 0,
            }
            for t in batch
        ]
        by_id = {t.trial_id: t for t in batch}
        results = run_trial_wave(spark, pending, wrapped, optimization_key=config.optimization_key)
        for r in results:
            t = by_id[r["trial_id"]]
            if r["error"]:
                t.status = Trial.ERROR
                t.info_dict["error"] = r["error"]
            else:
                t.status = Trial.FINALIZED
                t.final_metric = r["final_metric"]
            t.info_dict["seq"] = len(done)
            done.append(t)
            final_store.append(t)
            finished_q.append(t)

    ablator.finalize_experiment(done)
    result = _aggregate_result(done, config.direction)
    best = next((t for t in done if t.trial_id == result.get("best_id")), None)
    if best is not None:
        result["best_config"] = {k: v for k, v in best.params.items() if not callable(v)}
        result["best_excludes"] = {
            "ablated_feature": best.params.get("ablated_feature", "None"),
            "ablated_layer": best.params.get("ablated_layer", "None"),
        }
    result["n_components"] = len(done) - 1
    return result
