"""The emission gate (`AbstractOptimizer._record`) and trial failure
isolation in `_drive`.

Every emitted trial goes through `_record`: an id already emitted this
run is salted until it is new, and params outside the searchspace
settle as an ERROR row without running. A runner that raises, or a
Spark job whose Python worker dies, settles its trial as an ERROR row
and the run goes on. All but the last check run without Spark."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap
import threading
from collections import Counter
from pathlib import Path

import numpy as np
import pytest

from maggy_spark import experiment
from maggy_spark.config import HyperparameterOptConfig
from maggy_spark.experiment import _error_text, _result_row
from maggy_spark.optimizers import AbstractOptimizer, GridSearch, Pbt
from maggy_spark.searchspace import Searchspace
from maggy_spark.trial import Trial

ROOT = Path(__file__).resolve().parent.parent


class Buffered(AbstractOptimizer):
    """A custom optimizer that emits the given params, in order."""

    def __init__(self, params: list[dict]) -> None:
        super().__init__()
        self.params = params

    def _initialize(self) -> None:
        self._buffer = [Trial(p) for p in self.params]

    def _next_batch(self, max_trials: int) -> list[Trial]:
        out, self._buffer = self._buffer[:max_trials], self._buffer[max_trials:]
        return out


def _counting_runner(fail=None):
    """A runner scoring x (or depth) that counts its calls per trial id
    and raises RuntimeError for the trial `fail` picks."""
    calls = Counter()
    lock = threading.Lock()

    def runner(trial, stop_src):
        with lock:
            calls[trial.trial_id] += 1
        if fail is not None and fail(trial):
            raise RuntimeError("boom")
        return _result_row(trial, float(trial.params.get("x", trial.params.get("depth", 0))), duration_ms=1)

    return runner, calls


def _config(name: str) -> HyperparameterOptConfig:
    return HyperparameterOptConfig(es_policy="none", name=name, log_dir=None)


# -- the run's one trial-id rule -----------------------------------------


def test_pbt_without_a_double_param_emits_distinct_ids():
    """A loser that adopts its donor's params is not perturbed when no
    param is DOUBLE; its id is salted, not shared with the surviving
    donor, and the ledger holds the whole second generation."""
    pbt = Pbt(population=4)
    space = Searchspace(k=("INTEGER", [1, 8]), opt=("CATEGORICAL", ["adam", "sgd"]))
    pbt.initialize(space, num_trials=8, direction="max", seed=3)
    first = pbt.next_batch(4)
    for i, t in enumerate(first):
        t.final_metric = float(i)
        pbt.finalize_trial(t)
    second = pbt.next_batch(4)

    ids = [t.trial_id for t in first + second]
    assert len(second) == 4 and len(set(ids)) == 8
    assert pbt._n_emitted == 8 and set(pbt.trial_store) == {t.trial_id for t in second}
    [adopted] = [t for t in second if t.info_dict["sample_type"] == "model"]
    [donor] = [t for t in second if t.params == adopted.params and t is not adopted]
    assert adopted.trial_id != donor.trial_id


@pytest.mark.parametrize("scheduling", ["wave", "async"])
def test_a_config_emitted_twice_in_one_batch_runs_twice_under_distinct_ids(scheduling):
    opt = Buffered([{"x": 0.5}, {"x": 0.5}, {"x": 0.25}])
    opt.initialize(Searchspace(x=("DOUBLE", [0.0, 1.0])), num_trials=3, direction="max", seed=1)
    emitted, ledger = [], []
    next_batch = opt.next_batch

    def recording_next_batch(n):
        batch = next_batch(n)
        emitted.extend(batch)
        ledger.append((len(emitted), opt._n_emitted))
        return batch

    opt.next_batch = recording_next_batch
    runner, calls = _counting_runner()
    trials, _ = experiment._drive(runner, _config("twice"), opt, 3, scheduling)

    assert len(calls) == 3 and set(calls.values()) == {1}
    assert len({t.trial_id for t in trials}) == 3 and all(t.status == Trial.FINALIZED for t in trials)
    # trial_store never dropped one: the ledger counted every emission
    assert all(n == counted for n, counted in ledger) and len(opt.final_store) == 3


def test_recording_a_trial_twice_is_a_no_op():
    opt = Buffered([])
    opt.initialize(Searchspace(x=("DOUBLE", [0.0, 1.0])), num_trials=1, direction="max", seed=1)
    t = Trial({"x": 0.5})
    first_id = opt._record(t).trial_id
    assert opt._record(t).trial_id == first_id and opt._n_emitted == 1


# -- params outside the searchspace --------------------------------------


def test_outside_names_each_bad_param_and_skips_missing_names_and_double_bounds():
    space = Searchspace(
        depth=("INTEGER", [1, 8]), x=("DOUBLE", [0.0, 1.0]), units=("DISCRETE", [16, 32]),
        opt=("CATEGORICAL", ["adam", "sgd"]),
    )
    assert space.outside({"depth": 3, "x": 7.5, "units": 16.0, "opt": "sgd"}) is None
    assert space.outside({"run": 0}) is None
    assert space.outside({"depth": np.int64(8), "units": np.int64(32)}) is None
    assert space.outside({"depth": 4.5}) == "params outside the searchspace: depth=4.5 (INTEGER [1, 8])"
    assert space.outside({"depth": 9, "units": 64, "opt": "adagrad"}) == (
        "params outside the searchspace: depth=9 (INTEGER [1, 8]), units=64 (DISCRETE [16, 32]), "
        "opt=adagrad (CATEGORICAL ['adam', 'sgd'])"
    )
    assert space.outside({"depth": True}) is not None and space.outside({"depth": "3"}) is not None


@pytest.mark.parametrize("scheduling", ["wave", "async"])
def test_params_outside_the_searchspace_settle_as_an_error_row_without_running(scheduling):
    opt = Buffered([{"depth": 2}, {"depth": 4.5}, {"depth": 3}])
    opt.initialize(Searchspace(depth=("INTEGER", [1, 8])), num_trials=3, direction="max", seed=1)
    runner, calls = _counting_runner()
    trials, _ = experiment._drive(runner, _config("outside"), opt, 2, scheduling)

    [bad] = [t for t in trials if t.params["depth"] == 4.5]
    assert bad.trial_id not in calls and sum(calls.values()) == 2
    assert bad.status == Trial.ERROR and opt.error_store == [bad]
    assert bad.info_dict["error"] == "params outside the searchspace: depth=4.5 (INTEGER [1, 8])"
    assert sorted(t.info_dict["seq"] for t in trials) == [1, 2, 3]


# -- a runner that raises ------------------------------------------------


@pytest.mark.parametrize("scheduling", ["wave", "async"])
def test_a_raising_runner_is_an_error_row_and_the_run_goes_on(scheduling):
    grid = GridSearch()
    grid.initialize(Searchspace(x=("DISCRETE", [1, 2, 3, 4])), num_trials=4, direction="max", seed=1)
    runner, calls = _counting_runner(fail=lambda t: t.params["x"] == 2)
    res = experiment._run_trials(None, _config("raising"), None, grid, 2, scheduling, runner=runner)

    assert len(calls) == 4 and (res["errors"], res["num_trials"]) == (1, 3)
    [failed] = grid.error_store
    assert failed.params == {"x": 2} and failed.info_dict["error"] == "RuntimeError: boom"
    assert res["best_config"] == {"x": 4}


class _FakeJavaError(Exception):
    """py4j's Java error shape: a `java_exception` and the JVM trace as
    its text."""

    java_exception = object()


def test_error_text_keeps_sparks_reason_not_the_jvm_trace():
    trace = (
        "An error occurred while calling z:org.apache.spark.api.python.PythonRDD.collectAndServe.\n"
        ": org.apache.spark.SparkException: Job aborted due to stage failure: Task 0 in stage 0.0 failed 1 "
        "times, most recent failure: Lost task 0.0 in stage 0.0 (TID 0) (localhost executor driver): "
        "org.apache.spark.SparkException: Python worker exited unexpectedly (crashed). Consider setting "
        "'spark.python.worker.faulthandler.enabled' configuration to 'true' for the better Python traceback.\n"
        + "\tat org.apache.spark.api.python.BasePythonRunner$ReaderIterator.hasNext(PythonRunner.scala:596)\n" * 200
    )
    assert _error_text(_FakeJavaError(trace)) == (
        "_FakeJavaError: org.apache.spark.SparkException: Python worker exited unexpectedly (crashed)"
    )
    assert len(_error_text(_FakeJavaError("x" * 5000))) == 300
    assert _error_text(ValueError("bad\nvalue")) == "ValueError: bad\nvalue"


# -- a lost Python worker ------------------------------------------------

LOST_WORKER = """
import json
import os

from pyspark.sql import SparkSession

from maggy_spark import Searchspace, lagom
from maggy_spark.ablation import LOCO, AblationStudy
from maggy_spark.config import AblationConfig, HyperparameterOptConfig
from maggy_spark.optimizers import GridSearch

spark = SparkSession.builder.master("local[2]").config("spark.ui.enabled", "false").getOrCreate()
spark.sparkContext.setLogLevel("OFF")


def train(x):
    if x == 2:
        os._exit(1)
    if x == 3:
        raise ValueError("x is three")
    return float(x)


out = {}
for scheduling in ("wave", "async"):
    grid = GridSearch()
    config = HyperparameterOptConfig(
        optimizer=grid, searchspace=Searchspace(x=("DISCRETE", [1, 2, 3, 4])), direction="max",
        es_policy="none", parallelism=2, scheduling=scheduling, name="lost_worker_" + scheduling,
    )
    res = lagom(train, config, spark)
    out[scheduling] = {k: res[k] for k in ("errors", "num_trials", "best_config")}
    out[scheduling]["error"] = {t.params["x"]: t.info_dict["error"] for t in grid.error_store}

study = AblationStudy(training_dataset_path=None, label_name="label")
study.features.include("a", "b", "c")
loco = LOCO(study, [])


def ablated(ablated_feature):
    if ablated_feature == "b":
        os._exit(1)
    return 1.0


res = lagom(ablated, AblationConfig(ablation_study=study, ablator=loco, direction="max"), spark)
out["loco"] = {k: res[k] for k in ("errors", "num_trials")}
out["loco"]["error"] = {t.params["ablated_feature"]: t.info_dict.get("error") for t in loco.final_store}
out["after"] = spark.sparkContext.parallelize([1, 2, 3], 3).sum()
print("RESULT " + json.dumps(out))
"""


def test_a_lost_python_worker_becomes_an_error_row(tmp_path):
    """GridSearch over 4 points on local[2]: the trial at x=2 kills its
    Python worker and the trial at x=3 raises. Both modes return with
    two ERROR rows; a LOCO study whose "b" trial kills its worker returns
    with one; and the session still runs jobs."""
    script = tmp_path / "lost_worker.py"
    script.write_text(textwrap.dedent(LOST_WORKER))
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")])))
    proc = subprocess.run(
        [sys.executable, str(script)], cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    [line] = [ln for ln in proc.stdout.splitlines() if ln.startswith("RESULT ")]
    out = json.loads(line[len("RESULT "):])
    for scheduling in ("wave", "async"):
        run = out[scheduling]
        assert (run["errors"], run["num_trials"], run["best_config"]) == (2, 2, {"x": 4})
        lost, raised = run["error"]["2"], run["error"]["3"]
        assert "Python worker exited unexpectedly (crashed)" in lost and len(lost) <= 300, lost
        assert raised.startswith("ValueError: x is three"), raised
    # under ablation too, and the ablator's final_store holds the lost trial
    assert (out["loco"]["errors"], out["loco"]["num_trials"]) == (1, 3)
    assert "Python worker exited unexpectedly (crashed)" in out["loco"]["error"]["b"]
    assert out["after"] == 6
