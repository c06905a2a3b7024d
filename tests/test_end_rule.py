"""The dispatch loop's one end rule, checked without Spark: a run ends
when the controller emits nothing and no trial is in flight. With one
ERROR trial, every built-in controller, a reference-protocol custom
optimizer and the LOCO ablation controller settle the same trials at
parallelism 3 as at parallelism 1, under both schedulings; the ERROR
trial counts toward `num_trials` and is never replaced; the end hook
(`finalize_experiment` for the reference protocols) runs once, after
the last settle. Every controller's trial ledger ends with nothing in
flight and each settled trial finalized or errored once, and every run
emits unique trial ids, the same ids in the same order as pinned."""

from __future__ import annotations

import hashlib
import logging
import threading
import time
from collections import Counter

import pytest

from maggy_spark import experiment
from maggy_spark.ablation import LOCO, AblationStudy, _AblationController
from maggy_spark.config import HyperparameterOptConfig
from maggy_spark.optimizers import AbstractOptimizer, get_controller
from maggy_spark.searchspace import Searchspace

NUM_TRIALS = 8
LOCO_FEATURES = ("a", "b", "c", "d", "e")
# settled trials with the second emitted trial failing: Asha's
# promotions are floor(7/2) + floor(3/2); Pbt's second generation
# carries only the 3 finished trials of the first; "hyperband" runs
# its pruner's num_trials() for (1, 9, 3, 2); LOCO runs its study
SETTLED = {"asha": 12, "pbt": 7, "hyperband": 17, "loco": 1 + len(LOCO_FEATURES)}
CASES = ["randomsearch", "gridsearch", "none", "asha", "pbt", "hyperband", "gp", "tpe", "reference", "loco"]
# md5[:12] of each run's comma-joined emitted trial ids, per case, or
# per (scheduling, parallelism) where those change the run: the run's
# id rule (`AbstractOptimizer._record`) renames no trial whose id is
# already unique. GP and TPE stay in warmup, so they emit
# RandomSearch's draws.
ID_SEQUENCES = {
    "randomsearch": "9f296c1e8207",
    "gridsearch": "558eadd06322",
    "none": "9adb22fccf6c",
    "asha": {("wave", 1): "1633c29f5db0", ("wave", 3): "f6fbc267a29e",
             ("async", 1): "1633c29f5db0", ("async", 3): "6ad52992c07a"},
    "pbt": "7f22974f6194",
    "hyperband": {("wave", 1): "393a63392d5c", ("wave", 3): "393a63392d5c",
                  ("async", 1): "393a63392d5c", ("async", 3): "b2813fb93797"},
    "gp": "9f296c1e8207",
    "tpe": "9f296c1e8207",
    "reference": "2d4e90afece4",
    "loco": "fd13350147e2",
}


class EndlessReference(AbstractOptimizer):
    """A reference-protocol optimizer that never runs dry: only the
    engine's `num_trials` bounds it. It records, for each
    `finalize_experiment` call, the finalized trials it was given and
    how many runner calls had returned by then."""

    def __init__(self, returned: list) -> None:
        super().__init__()
        self.returned = returned
        self.finalize_calls: list[tuple[int, int]] = []

    def initialize(self):
        self._i = 0

    def get_suggestion(self, trial=None):
        self._i += 1
        return self.create_trial({"x": self._i / 100.0}, sample_type="random")

    def finalize_experiment(self, trials):
        self.finalize_calls.append((len(trials), len(self.returned)))


class RecordingLOCO(LOCO):
    def __init__(self, study, returned: list) -> None:
        super().__init__(study, [])
        self.returned = returned
        self.finalize_calls: list[tuple[int, int]] = []

    def finalize_experiment(self, trials):
        self.finalize_calls.append((len(trials), len(self.returned)))


def _controller(case: str, returned: list):
    if case == "loco":
        study = AblationStudy(training_dataset_path=None, label_name="label")
        study.features.include(*LOCO_FEATURES)
        ablator = RecordingLOCO(study, returned)
        ablator.initialize()
        return _AblationController(ablator), ablator
    if case == "gridsearch":
        space = Searchspace(a=("DISCRETE", [1, 2, 3, 4]), b=("CATEGORICAL", ["u", "v"]))
    else:
        space = Searchspace(x=("DOUBLE", [0.0, 1.0]))
    spec = EndlessReference(returned) if case == "reference" else case
    controller = get_controller(spec)
    controller.initialize(space, NUM_TRIALS, "max", 5)
    return controller, spec


@pytest.mark.parametrize("parallelism", [1, 3])
@pytest.mark.parametrize("scheduling", ["wave", "async"])
@pytest.mark.parametrize("case", CASES)
def test_one_error_settles_the_same_trials_at_any_parallelism(monkeypatch, caplog, case, scheduling, parallelism):
    spark_jobs = []
    monkeypatch.setattr(experiment, "run_trial_wave", lambda *a, **kw: spark_jobs.append(a))
    returned: list[str] = []
    controller, spec = _controller(case, returned)
    emitted = []
    next_batch = controller.next_batch

    def recording_next_batch(n):
        batch = next_batch(n)
        emitted.extend(batch)
        return batch

    monkeypatch.setattr(controller, "next_batch", recording_next_batch)
    calls = Counter()
    lock = threading.Lock()

    def runner(trial, stop_src):
        with lock:
            calls[trial.trial_id] += 1
            n = sum(calls.values())
        time.sleep(0.003 * (n % 3))  # settle out of submission order
        error = "RuntimeError: boom" if emitted.index(trial) == 1 else None
        metric = None if error else float(n)
        with lock:
            returned.append(trial.trial_id)
        return {"trial_id": trial.trial_id, "final_metric": metric, "metric_history": [], "step_history": [],
                "early_stop": False, "error": error, "logs": [], "duration_ms": 1}

    config = HyperparameterOptConfig(es_policy="none", name=f"end_rule_{case}", log_dir=None)
    with caplog.at_level(logging.WARNING, logger="maggy_spark"):
        res = experiment._run_trials(None, config, None, controller, parallelism, scheduling, runner=runner)

    settled = SETTLED.get(case, NUM_TRIALS)
    assert spark_jobs == []
    assert len(emitted) == settled and set(calls.values()) == {1} and len(calls) == settled
    ids = [t.trial_id for t in emitted]
    assert len(set(ids)) == len(ids)
    want = ID_SEQUENCES[case]
    want = want[scheduling, parallelism] if isinstance(want, dict) else want
    assert hashlib.md5(",".join(ids).encode()).hexdigest()[:12] == want, ids
    assert res["errors"] == 1 and res["num_trials"] + res["errors"] == settled
    warnings = [r.getMessage() for r in caplog.records if r.name == "maggy_spark" and r.levelno == logging.WARNING]
    if case == "pbt":
        # one error shrinks the second generation to the 3 survivors
        assert len(warnings) == 1 and f"{settled} of {NUM_TRIALS}" in warnings[0]
    else:
        assert warnings == []
    # the ledger: nothing left in flight, and every settled trial is
    # finalized or errored exactly once
    assert controller.trial_store == {} and controller._n_emitted == settled
    assert Counter(t.trial_id for t in controller.final_store + controller.error_store) == Counter(returned)
    assert len(controller.error_store) == 1
    if case in ("reference", "loco"):
        # once, after the last settle, over every finalized trial (the
        # ablator's final_store also holds its ERROR trials)
        finalized = settled if case == "loco" else settled - 1
        assert spec.finalize_calls == [(finalized, settled)]


@pytest.mark.parametrize("parallelism", [1, 3])
@pytest.mark.parametrize("case", CASES)
def test_wave_run_replays_from_its_settled_rows(monkeypatch, case, parallelism):
    """Replay: a fresh controller whose runner answers each trial with
    the first run's row for that id emits the same trials in the same
    order. A controller's state is therefore a function of its seed and
    its settled rows alone."""
    monkeypatch.setattr(experiment, "run_trial_wave", lambda *a, **kw: pytest.fail("no Spark job"))
    config = HyperparameterOptConfig(es_policy="none", name=f"replay_{case}", log_dir=None)
    lock = threading.Lock()
    rows: dict[str, dict] = {}

    def first(trial, stop_src):
        with lock:
            n = len(rows) + 1
            # the second trial to run fails; metrics tie every fifth trial
            rows[trial.trial_id] = {
                "trial_id": trial.trial_id, "final_metric": None if n == 2 else float(n % 5),
                "metric_history": [], "step_history": [], "early_stop": False,
                "error": "RuntimeError: boom" if n == 2 else None, "logs": [], "duration_ms": 1,
            }
            return dict(rows[trial.trial_id])

    def run(runner) -> list[str]:
        controller, _ = _controller(case, [])
        emitted = []
        next_batch = controller.next_batch

        def recording_next_batch(n):
            batch = next_batch(n)
            emitted.extend(t.trial_id for t in batch)
            return batch

        controller.next_batch = recording_next_batch
        experiment._run_trials(None, config, None, controller, parallelism, "wave", runner=runner)
        return emitted

    ids = run(first)
    assert len(ids) == len(rows) == SETTLED.get(case, NUM_TRIALS)
    assert run(lambda trial, stop_src: dict(rows[trial.trial_id])) == ids
