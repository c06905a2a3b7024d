"""Reference-style custom optimizers (the reference's advertised
extension point: subclass `maggy.optimizer.AbstractOptimizer` with
no-arg `initialize()`, `get_suggestion(trial=None)`,
`finalize_experiment(trials)` — `abstractoptimizer.py:54-80`) run
unchanged inside the engine via ReferenceOptimizerAdapter, and the
reference's helper surface on the base class reads engine state."""

from __future__ import annotations

import numpy as np
import pytest

from maggy_spark.optimizers import (
    AbstractOptimizer,
    ReferenceOptimizerAdapter,
    get_controller,
)
from maggy_spark.searchspace import Searchspace
from maggy_spark.trial import Trial


class SequenceOptimizer(AbstractOptimizer):
    """A reference-shaped custom optimizer: walks x through fixed
    values, records what it saw, stops by returning None."""

    def __init__(self, values):
        super().__init__()
        self.values = list(values)
        self.seen_finished = []
        self.finalized_with = None

    def initialize(self):  # reference no-arg hook
        self._cursor = 0

    def get_suggestion(self, trial=None):
        if trial is not None:
            self.seen_finished.append(trial.trial_id)
        if self._cursor >= len(self.values):
            return None
        t = self.create_trial({"x": self.values[self._cursor]}, sample_type="random")
        self._cursor += 1
        return t

    def finalize_experiment(self, trials):
        self.finalized_with = list(trials)


def make_space():
    return Searchspace(x=("DOUBLE", [0.0, 10.0]))


def test_get_controller_wraps_reference_protocol():
    opt = SequenceOptimizer([1.0, 2.0])
    ctrl = get_controller(opt)
    assert isinstance(ctrl, ReferenceOptimizerAdapter)
    assert ctrl.wrapped is opt
    # engine-native controllers pass through untouched
    from maggy_spark.optimizers import RandomSearch

    rs = RandomSearch()
    assert get_controller(rs) is rs
    # a non-protocol object still raises
    with pytest.raises(ValueError):
        get_controller("definitely-not-an-optimizer")


def test_adapter_drives_suggest_finalize_loop():
    opt = SequenceOptimizer([1.0, 2.0, 3.0])
    ctrl = get_controller(opt)
    ctrl.initialize(make_space(), num_trials=3, direction="min", seed=0)
    batch = ctrl.next_batch(2)
    assert [t.params["x"] for t in batch] == [1.0, 2.0]
    assert set(opt.trial_store) == {t.trial_id for t in batch}
    for i, t in enumerate(batch):
        t.finalize(float(i))
        ctrl.finalize_trial(t)
    assert opt.trial_store == {}  # drained on finalize
    batch2 = ctrl.next_batch(2)
    assert [t.params["x"] for t in batch2] == [3.0]
    # finished trials were handed to get_suggestion reference-style
    # (the cap stops asking once num_trials=3 trials are out, so only
    # the first queued finisher was handed back)
    assert opt.seen_finished == [batch[0].trial_id]
    for t in batch2:
        t.finalize(9.0)
        ctrl.finalize_trial(t)
    ctrl.end_experiment()
    assert opt.finalized_with is not None and len(opt.finalized_with) == 3
    # the wrapped optimizer sees the shared final_store through helpers
    assert len(opt.get_hparams_dict()) == 3


def test_adapter_stops_when_suggestion_none_before_num_trials():
    opt = SequenceOptimizer([5.0])
    ctrl = get_controller(opt)
    ctrl.initialize(make_space(), num_trials=10, direction="min", seed=0)
    (t,) = ctrl.next_batch(4)
    t.finalize(1.0)
    ctrl.finalize_trial(t)
    assert ctrl.next_batch(4) == []
    assert ctrl.next_batch(4) == []  # exhausted despite num_trials=10


class CentreLineSearch(AbstractOptimizer):
    """Walks x, then y, through five steps while holding the other at
    the midpoint, skipping any config `hparams_exist` has seen: both
    walks pass the centre (0.5, 0.5)."""

    def initialize(self):
        steps = [i / 4 for i in range(5)]
        self.queue = [{"x": v, "y": 0.5} for v in steps] + [{"x": 0.5, "y": v} for v in steps]

    def get_suggestion(self, trial=None):
        while self.queue:
            candidate = self.create_trial(self.queue.pop(0), sample_type="grid")
            if not self.hparams_exist(candidate):
                return candidate
        return None

    def finalize_experiment(self, trials):
        pass


@pytest.mark.parametrize("batch", [1, 10])
def test_adapter_hparams_exist_sees_emitted_trials(batch):
    """The wrapped optimizer's own dedup guard reads the adapter's
    ledger, so the centre config runs once, whether its twin is already
    finalized (batch 1) or still in flight in the same batch (batch
    10)."""
    ctrl = get_controller(CentreLineSearch())
    ctrl.initialize(Searchspace(x=("DOUBLE", [0.0, 1.0]), y=("DOUBLE", [0.0, 1.0])), 10, "min", 0)
    emitted = []
    while wave := ctrl.next_batch(batch):
        emitted.extend(wave)
        for t in wave:
            t.finalize(t.params["x"] + t.params["y"])
            ctrl.finalize_trial(t)
    ids = [t.trial_id for t in emitted]
    assert len(ids) == len(set(ids)) == 9


def test_lagom_accepts_reference_custom_optimizer(spark):
    from maggy_spark.config import HyperparameterOptConfig
    from maggy_spark.experiment import lagom

    opt = SequenceOptimizer([2.0, 4.0, 6.0, 8.0])
    config = HyperparameterOptConfig(
        num_trials=4,
        optimizer=opt,
        searchspace=make_space(),
        direction="max",
        name="custom-opt",
    )

    def train_fn(x, reporter=None):
        return float(x)

    res = lagom(train_fn, config, spark)
    assert res["num_trials"] == 4
    assert res["best_val"] == 8.0
    assert opt.finalized_with is not None and len(opt.finalized_with) == 4


# -- reference helper surface on the base class --------------------------


def _finalized(params, metric, history=(0.1, 0.2)):
    t = Trial(params)
    for i, v in enumerate(history):
        t.append_metric(v, i)
    t.finalize(metric)
    return t


def test_reference_helpers_read_engine_state():
    from maggy_spark.optimizers import RandomSearch

    ctrl = RandomSearch()
    ctrl.initialize(make_space(), num_trials=5, direction="max", seed=1)
    t1 = _finalized({"x": 1.0}, 0.5)
    t2 = _finalized({"x": 2.0}, 0.9)
    ctrl.finalize_trial(t1)
    ctrl.finalize_trial(t2)

    assert ctrl.get_hparams_dict() == {t1.trial_id: {"x": 1.0}, t2.trial_id: {"x": 2.0}}
    assert ctrl.get_hparams_dict(t1.trial_id) == {t1.trial_id: {"x": 1.0}}
    np.testing.assert_array_equal(ctrl.get_hparams_array(), [[1.0], [2.0]])
    # direction=max negates into min-space
    assert ctrl.get_metrics_dict() == {t1.trial_id: -0.5, t2.trial_id: -0.9}
    np.testing.assert_array_equal(ctrl.get_metrics_array(), [-0.5, -0.9])
    hist = ctrl.get_metrics_array(interim_metrics=True)
    np.testing.assert_array_equal(hist[0], [-0.1, -0.2])
    assert ctrl.ybest() == -0.9 and ctrl.yworst() == -0.5
    assert ctrl.ymean() == pytest.approx(-0.7)
    assert ctrl.get_max_budget() == 2  # len(first trial's history)
    assert ctrl.name() == "RandomSearch"
    # hparams_exist accepts a Trial like the reference
    assert ctrl.hparams_exist(Trial({"x": 1.0})) is False  # not registered via emit


def test_create_trial_reference_contract():
    from maggy_spark.optimizers import RandomSearch

    ctrl = RandomSearch()
    t = ctrl.create_trial({"x": 3.0}, sample_type="random", run_budget=9)
    assert t.params["budget"] == 9
    assert t.info_dict["sample_type"] == "random"
    with pytest.raises(ValueError):
        ctrl.create_trial({"x": 1.0}, sample_type="bogus")
    with pytest.raises(ValueError):
        ctrl.create_trial({"x": 1.0}, sample_type="model")  # model needs model_budget
    m = ctrl.create_trial({"x": 1.0}, sample_type="model", model_budget=3)
    assert m.info_dict["model_budget"] == 3


def test_init_pruner_reference_signature():
    from maggy_spark.optimizers import RandomSearch

    ctrl = RandomSearch()
    ctrl.init_pruner("hyperband", {"min_budget": 1, "max_budget": 4, "eta": 2, "n_iterations": 1})
    ctrl.initialize(make_space(), num_trials=99, direction="min", seed=0)
    assert ctrl.pruner is not None
    assert ctrl.num_trials == ctrl.pruner.num_trials()
    with pytest.raises(ValueError):
        ctrl.init_pruner("median", {})


def test_get_XY_alias(spark=None):
    from maggy_spark.bayes import GP

    gp = GP()
    gp.initialize(make_space(), num_trials=5, direction="min", seed=0)
    gp.finalize_trial(_finalized({"x": 5.0}, 1.0))
    X, y = gp.get_XY()
    assert X.shape == (1, 1) and y.tolist() == [1.0]


def test_async_scheduling_with_custom_optimizer_and_rule(spark):
    """The reference-protocol adapter and a custom early-stop rule
    both survive the async (per-trial refill) scheduler, including
    the bar-file republish path."""
    from maggy.earlystop import AbstractEarlyStop
    from maggy_spark.config import HyperparameterOptConfig
    from maggy_spark.experiment import lagom

    class AlwaysStopLate(AbstractEarlyStop):
        @staticmethod
        def earlystop_check(to_check, finalized_trials, direction):
            # once anything finalized, stop any trial that has
            # reported at least 3 metrics
            if finalized_trials and len(to_check.metric_history) >= 3:
                return to_check.trial_id
            return None

    opt = SequenceOptimizer([float(v) for v in range(1, 9)])

    def train_fn(x, reporter=None):
        for step in range(30):
            reporter.broadcast(x, step)
        return x

    config = HyperparameterOptConfig(
        num_trials=8,
        optimizer=opt,
        searchspace=make_space(),
        direction="max",
        scheduling="async",
        parallelism=2,
        es_policy=AlwaysStopLate,
        es_min=1,
        es_interval=1,
        name="async-custom",
    )
    res = lagom(train_fn, config, spark)
    assert res["num_trials"] == 8
    assert res["best_val"] == 8.0
    assert opt.finalized_with is not None and len(opt.finalized_with) == 8
    # late trials saw the republished bar and stopped mid-stream
    assert res.get("early_stopped", 0) >= 1


def test_adapter_survives_trial_errors(spark):
    """An ERROR trial (train_fn raises) is dropped from the wrapped
    optimizer's in-flight store and the experiment completes."""
    from maggy_spark.config import HyperparameterOptConfig
    from maggy_spark.experiment import lagom

    opt = SequenceOptimizer([1.0, 2.0, 3.0])

    def train_fn(x, reporter=None):
        if x == 2.0:
            raise RuntimeError("boom")
        return float(x)

    res = lagom(
        train_fn,
        HyperparameterOptConfig(
            num_trials=3, optimizer=opt, searchspace=make_space(),
            direction="max", name="err-opt",
        ),
        spark,
    )
    assert res["best_val"] == 3.0
    assert res["errors"] == 1
    assert res["num_trials"] == 2  # finalized only; the ERROR row is separate
    assert opt.trial_store == {}  # errored trial evicted


def test_get_metrics_array_ragged_histories():
    """interim_metrics=True must survive different history lengths
    (early-stopped trials) on numpy >= 1.24."""
    from maggy_spark.optimizers import RandomSearch

    ctrl = RandomSearch()
    ctrl.initialize(make_space(), num_trials=5, direction="max", seed=1)
    ctrl.finalize_trial(_finalized({"x": 1.0}, 0.5, history=(0.1, 0.2, 0.3)))
    ctrl.finalize_trial(_finalized({"x": 2.0}, 0.9, history=(0.4,)))
    arr = ctrl.get_metrics_array(interim_metrics=True)
    assert len(arr) == 2
    np.testing.assert_array_equal(arr[0], [-0.1, -0.2, -0.3])
    np.testing.assert_array_equal(arr[1], [-0.4])


def test_adapter_idle_drains_finished_queue():
    """IDLE with queued finishers must keep feeding get_suggestion
    instead of ending the wave (and the experiment) early."""
    from maggy_spark.optimizers import AbstractOptimizer

    class NeedsAllReports(AbstractOptimizer):
        """Refuses to emit rung-2 trials until it has seen BOTH
        rung-1 finishers."""

        def initialize(self):
            self.seen = []
            self.emitted = 0

        def get_suggestion(self, trial=None):
            if trial is not None:
                self.seen.append(trial.trial_id)
            if self.emitted < 2:
                self.emitted += 1
                return self.create_trial({"x": float(self.emitted)}, sample_type="random")
            if len(self.seen) < 2:
                return "IDLE"
            if self.emitted < 3:
                self.emitted += 1
                return self.create_trial({"x": 30.0}, sample_type="promoted")
            return None

        def finalize_experiment(self, trials):
            pass

    ctrl = get_controller(NeedsAllReports())
    ctrl.initialize(make_space(), num_trials=3, direction="min", seed=0)
    wave1 = ctrl.next_batch(4)
    assert len(wave1) == 2
    for t in wave1:
        t.finalize(1.0)
        ctrl.finalize_trial(t)
    # first call after the wave: optimizer answers IDLE until it has
    # drained both finishers from the queue, then emits the promotion
    wave2 = ctrl.next_batch(4)
    assert [t.params["x"] for t in wave2] == [30.0]


def test_legacy_process_group_backend_value_accepted():
    from maggy_spark.config import TorchDistributedConfig

    cfg = TorchDistributedConfig(module=object, backend="gloo")
    assert cfg.backend == "torch"
    assert cfg.process_group_backend == "gloo"
    cfg2 = TorchDistributedConfig(module=object, backend="nccl")
    assert cfg2.process_group_backend == "nccl"
