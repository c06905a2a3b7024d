"""End-to-end lagom runs — the shape of the reference's own e2e test
(`maggy/tests/test_randomsearch.py:66-100`: 5-trial random search,
reporter broadcasts, result is a dict with best/worst/avg)."""

import logging

import pytest

from maggy_spark import Searchspace, lagom
from maggy_spark.config import BaseConfig, HyperparameterOptConfig
from maggy_spark.optimizers import Asha, GridSearch, RandomSearch


def quadratic_train_fn(x, y, reporter):
    # deterministic "training": maximize -(x-0.3)^2 - (y-5)^2/100
    val = -((x - 0.3) ** 2) - ((y - 5) ** 2) / 100.0
    for step in range(3):
        reporter.broadcast(val * (step + 1) / 3.0, step)
    return val


SP = {"x": ("DOUBLE", [0.0, 1.0]), "y": ("INTEGER", [0, 10])}


def test_random_search_e2e(spark):
    config = HyperparameterOptConfig(
        num_trials=5,
        optimizer="randomsearch",
        searchspace=Searchspace(**SP),
        direction="max",
        es_policy="none",
        seed=42,
    )
    res = lagom(quadratic_train_fn, config, spark)
    assert res["num_trials"] == 5
    assert res["best_val"] >= res["avg"] >= res["worst_val"]
    assert set(res["best_config"]) == {"x", "y"}
    assert res["best_val"] == pytest.approx(
        -((res["best_config"]["x"] - 0.3) ** 2) - ((res["best_config"]["y"] - 5) ** 2) / 100.0
    )


def test_random_search_deterministic_under_seed(spark):
    def run():
        config = HyperparameterOptConfig(
            num_trials=4, optimizer="randomsearch",
            searchspace=Searchspace(**SP), direction="max", es_policy="none", seed=7,
        )
        return lagom(quadratic_train_fn, config, spark)

    r1, r2 = run(), run()
    assert r1["best_id"] == r2["best_id"]
    assert r1["best_val"] == r2["best_val"]


SEED_SPACE = {
    "lr": ("DOUBLE", [1e-4, 1e-1]),
    "units": ("INTEGER", [8, 256]),
    "act": ("CATEGORICAL", ["relu", "tanh", "gelu"]),
}


def _first_batch(controller, seed):
    """The configs (budget ignored) of a controller's first next_batch."""
    import json

    controller.initialize(Searchspace(**SEED_SPACE), 24, "max", seed)
    return [
        json.dumps({k: v for k, v in t.params.items() if k != "budget"}, sort_keys=True)
        for t in controller.next_batch(24)
    ]


@pytest.mark.parametrize("name", ["randomsearch", "asha", "pbt", "hyperband", "tpe", "gp"])
def test_adjacent_seeds_share_no_config(name):
    """Every random draw comes from one random.Random(seed) stream per
    run, so seeds s and s + 1 start different experiments (a
    `seed + i` salt made them share all configs but one), and a reused
    instance initialized with s again replays s's configs."""
    from maggy_spark.optimizers import get_controller

    reused = get_controller(name)
    for s in (3, 41):
        first = _first_batch(reused, s)
        adjacent = _first_batch(get_controller(name), s + 1)
        assert first and adjacent and not set(first) & set(adjacent)
        assert _first_batch(reused, s) == first


def test_draw_unseen_budget_is_per_call(monkeypatch):
    """_draw_unseen(n) stops after n * (MAX_DEDUP_RETRIES + 1) draws: a
    2-value space fills 2 of 10 pre-buffer slots, and a later call on
    the exhausted space returns nothing after its own budget."""
    from maggy_spark.optimizers import MAX_DEDUP_RETRIES

    rs = RandomSearch()
    rs.initialize(Searchspace(x=("INTEGER", [1, 2])), num_trials=10, direction="max", seed=1)
    assert sorted(t.params["x"] for t in rs.next_batch(10)) == [1, 2]
    draws = []
    draw = rs._random_params
    monkeypatch.setattr(rs, "_random_params", lambda: draws.append(1) or draw())
    assert rs._draw_unseen(3) == []
    assert len(draws) == 3 * (MAX_DEDUP_RETRIES + 1)


def test_grid_search_e2e(spark):
    def fn(a, b):
        return float(len(a)) * b

    config = HyperparameterOptConfig(
        optimizer="gridsearch",
        searchspace=Searchspace(a=("CATEGORICAL", ["s", "ss", "sss"]), b=("DISCRETE", [1, 2])),
        direction="max",
        es_policy="none",
    )
    res = lagom(fn, config, spark)
    assert res["num_trials"] == 6  # full product
    assert res["best_val"] == 6.0  # 'sss' * 2
    assert res["worst_val"] == 1.0


def test_min_direction(spark):
    def fn(x):
        return (x - 0.5) ** 2

    config = HyperparameterOptConfig(
        num_trials=6, optimizer="randomsearch",
        searchspace=Searchspace(x=("DOUBLE", [0.0, 1.0])),
        direction="min", es_policy="none", seed=3,
    )
    res = lagom(fn, config, spark)
    assert res["best_val"] <= res["avg"] <= res["worst_val"]


def test_asha_promotes(spark):
    def fn(x, budget=1):
        # better x and more budget -> better metric
        return x * budget

    config = HyperparameterOptConfig(
        num_trials=8,
        optimizer=Asha(reduction_factor=2, resource_min=1, resource_max=4),
        searchspace=Searchspace(x=("DOUBLE", [0.0, 1.0])),
        direction="max", es_policy="none", seed=11, parallelism=4,
    )
    res = lagom(fn, config, spark)
    assert res["num_trials"] >= 8  # rung-0 plus promotions
    # the winner must be a promoted high-budget trial
    assert res["best_val"] > 1.0


def test_error_trial_does_not_kill_experiment(spark):
    calls = {"n": 0}

    def fn(x):
        if x < 0.5:
            raise RuntimeError("boom")
        return x

    config = HyperparameterOptConfig(
        num_trials=6, optimizer="randomsearch",
        searchspace=Searchspace(x=("DOUBLE", [0.0, 1.0])),
        direction="max", es_policy="none", seed=5,
    )
    res = lagom(fn, config, spark)
    # errored trials excluded from aggregates but experiment completes
    assert res["num_trials"] >= 1
    assert res["best_val"] >= 0.5


def test_early_stop_median_rule(spark):
    # 10 good trials establish the bar; then bad trials get stopped at
    # their first broadcast past es_interval
    def fn(x, reporter):
        base = 100.0 if x >= 0.5 else -100.0
        for step in range(5):
            reporter.broadcast(base + step, step)
        return base + 4

    sp = Searchspace(x=("DOUBLE", [0.0, 1.0]))
    config = HyperparameterOptConfig(
        num_trials=24, optimizer="randomsearch", searchspace=sp,
        direction="max", es_policy="median", es_interval=1, es_min=8,
        seed=13, parallelism=8,
    )
    res = lagom(fn, config, spark)
    assert res["num_trials"] + res["early_stopped"] >= 24 or res["early_stopped"] > 0


def test_base_config_single_run(spark):
    def fn():
        return 42.0

    res = lagom(fn, BaseConfig(), spark)
    assert res["test result"] == 42.0


def test_invalid_optimizer_rejected(spark):
    with pytest.raises(ValueError):
        lagom(
            quadratic_train_fn,
            HyperparameterOptConfig(optimizer="bogus", searchspace=Searchspace(**SP)),
            spark,
        )


def test_gridsearch_rejects_continuous():
    g = GridSearch()
    with pytest.raises(ValueError):
        g.initialize(Searchspace(x=("DOUBLE", [0, 1])), 5, "max", None)


def test_randomsearch_requires_continuous():
    r = RandomSearch()
    with pytest.raises(ValueError):
        r.initialize(Searchspace(c=("CATEGORICAL", ["a", "b"])), 5, "max", None)


def test_by_value_modules_reaches_closures_and_containers():
    """User callables hidden inside closures, defaults, and dicts must
    register their modules for by-value pickling — otherwise a
    library wrapper ships the user function by reference and executors
    die with ModuleNotFoundError."""
    import sys
    import types

    from maggy_spark.executor import _by_value_modules

    usermod = types.ModuleType("fake_user_script_xyz")
    exec("def user_fn():\n    return 42\n", usermod.__dict__)
    sys.modules["fake_user_script_xyz"] = usermod
    try:
        user_fn = usermod.user_fn

        def wrapper():
            return user_fn()

        assert usermod in _by_value_modules(user_fn)
        assert usermod in _by_value_modules(wrapper)          # closure cell
        assert usermod in _by_value_modules({"module": user_fn})  # config dict

        def with_default(f=user_fn):
            return f()

        assert usermod in _by_value_modules(with_default)     # default arg
    finally:
        del sys.modules["fake_user_script_xyz"]


# -- bounded trial-log transport (round-6 verdict item 4) ---------------


def test_chatty_trial_logs_bounded_and_full_log_sunk(spark, tmp_path):
    """A train_fn printing ~10 MB must yield a BOUNDED result row
    (tail + truncation marker) while the full capture lands under
    <log_dir>/trial_logs/<trial_id>.log."""
    from maggy_spark.executor import MAX_RESULT_LOG_LINES, run_trial_wave

    n_lines = 250_000  # ~10 MB at ~42 chars/line

    def chatty(x):
        for i in range(250_000):
            print(f"step {i}: loss=0.123456789 acc=0.98765 x={x}")
        return 1.0

    res = run_trial_wave(
        spark, [{"trial_id": "t_chatty", "params": {"x": 1}}], chatty, log_dir=str(tmp_path)
    )
    row = res[0]
    assert len(row["logs"]) == MAX_RESULT_LOG_LINES + 1  # tail + marker
    assert "truncated" in row["logs"][0] and "trial_logs" in row["logs"][0]
    assert row["logs"][-1].startswith(f"step {n_lines - 1}:")
    full = (tmp_path / "trial_logs" / "t_chatty.log").read_text().rstrip("\n").split("\n")
    assert len(full) == n_lines
    assert full[-1] == row["logs"][-1]
    assert full[0].startswith("step 0:")


def test_quiet_trial_logs_pass_through_unchanged(spark, tmp_path):
    from maggy_spark.executor import run_trial_wave

    def quiet(x):
        print("hello")
        return float(x)

    res = run_trial_wave(
        spark, [{"trial_id": "t_q", "params": {"x": 2}}], quiet, log_dir=str(tmp_path)
    )
    assert res[0]["logs"] == ["hello"]
    assert (tmp_path / "trial_logs" / "t_q.log").read_text() == "hello\n"


def test_lagom_full_logs_under_experiment_dir(spark, tmp_path):
    """e2e: with log_dir configured, every trial's full print capture
    lands under the EXPERIMENT dir (not the log_dir root), and the
    persisted trials relation carries only bounded log arrays."""
    from maggy_spark.executor import MAX_RESULT_LOG_LINES

    def noisy(x, reporter):
        for i in range(MAX_RESULT_LOG_LINES + 50):
            print(f"line {i}")
        reporter.broadcast(float(x), 0)
        return float(x)

    config = HyperparameterOptConfig(
        num_trials=3,
        optimizer="randomsearch",
        searchspace=Searchspace(x=("DOUBLE", [0.0, 1.0])),
        direction="max",
        es_policy="none",
        seed=3,
        name="exp_logs",
        log_dir=str(tmp_path),
    )
    res = lagom(noisy, config, spark)
    import os

    ldir = os.path.join(res["log_dir"], "trial_logs")
    log_files = os.listdir(ldir)
    assert len(log_files) == 3
    for f in log_files:
        lines = open(os.path.join(ldir, f)).read().rstrip("\n").split("\n")
        assert len(lines) == MAX_RESULT_LOG_LINES + 50  # nothing truncated in the sink


def test_async_scheduling_also_sinks_full_logs(spark, tmp_path):
    """The async (slot-refill) dispatch mode passes the
    experiment dir to the executor exactly like the wave path."""
    def chatty(x, reporter):
        for i in range(250):
            print(f"l{i}")
        reporter.broadcast(float(x), 0)
        return float(x)

    config = HyperparameterOptConfig(
        num_trials=3,
        optimizer="randomsearch",
        searchspace=Searchspace(x=("DOUBLE", [0.0, 1.0])),
        direction="max",
        es_policy="none",
        seed=9,
        name="exp_async_logs",
        log_dir=str(tmp_path),
        scheduling="async",
        parallelism=2,
    )
    res = lagom(chatty, config, spark)
    import os

    ldir = os.path.join(res["log_dir"], "trial_logs")
    assert len(os.listdir(ldir)) == 3
    for f in os.listdir(ldir):
        assert open(os.path.join(ldir, f)).read().count("\n") == 250


# -- A1 result aggregation: driver-side Python vs the Spark kernel ------

def _agg_trial(n, metric, seq=None, status="FINALIZED", early_stop=False):
    from maggy_spark.trial import Trial

    t = Trial({"n": n})
    t.status = status
    t.final_metric = metric
    t.early_stop = early_stop
    if seq is not None:
        t.info_dict["seq"] = seq
    return t


AGG_CASES = {
    # 5.0 and 1.0 are each held by several trials: the lower seq wins
    # best among equal metrics, and also wins worst
    "ties": lambda: [
        _agg_trial(1, 5.0, seq=3), _agg_trial(2, 5.0, seq=1), _agg_trial(3, 1.0, seq=5),
        _agg_trial(4, 1.0, seq=4, early_stop=True), _agg_trial(5, 3.0, seq=2),
        _agg_trial(6, None, seq=6, status="ERROR"),
    ],
    "null_metrics": lambda: [
        _agg_trial(1, None, seq=1), _agg_trial(2, 4.0, seq=2),
        _agg_trial(3, None, seq=3), _agg_trial(4, -2.0, seq=4),
    ],
    "nan_metric": lambda: [
        _agg_trial(1, 1.0, seq=1), _agg_trial(2, float("nan"), seq=2), _agg_trial(3, 3.0, seq=3),
    ],
    "int_metrics": lambda: [
        _agg_trial(1, 3, seq=1), _agg_trial(2, 7, seq=2), _agg_trial(3, 1, seq=3),
    ],
    # seq falls back to the list index, ERROR rows included
    "seqless": lambda: [
        _agg_trial(1, 2.0), _agg_trial(2, None, status="ERROR"), _agg_trial(3, 2.0), _agg_trial(4, 0.5),
    ],
    "all_metrics_null": lambda: [_agg_trial(1, None, seq=1), _agg_trial(2, None, seq=2)],
    # errors are counted by _run_trials, never in num_trials
    "all_error": lambda: [_agg_trial(i, None, seq=i, status="ERROR") for i in range(1, 4)],
    "empty": lambda: [],
}


@pytest.mark.parametrize("direction", ["max", "min"])
@pytest.mark.parametrize("case", sorted(AGG_CASES))
def test_aggregate_result_matches_spark_summary(spark, case, direction):
    from pyspark.sql import functions as F

    from maggy_spark.experiment import _aggregate_result, trials_to_df
    from tests.store_oracles import summarize_finalized

    trials = AGG_CASES[case]()
    got = _aggregate_result(trials, direction)
    finalized = trials_to_df(spark, trials, direction).where(F.col("status") == "FINALIZED")
    want = summarize_finalized(finalized, direction)
    assert got.keys() == want.keys()
    for key, value in want.items():
        if key in ("best_val", "worst_val", "avg"):
            assert type(got[key]) is float
            assert got[key] == pytest.approx(value, nan_ok=True), key
        else:
            assert got[key] == value, key


def test_aggregate_result_tie_break_by_seq():
    from maggy_spark.experiment import _aggregate_result

    trials = AGG_CASES["ties"]()
    ids = {t.info_dict["seq"]: t.trial_id for t in trials}
    res = _aggregate_result(trials, "max")
    assert (res["best_id"], res["worst_id"]) == (ids[1], ids[4])
    assert res["num_trials"] == 5 and res["early_stopped"] == 1
    res = _aggregate_result(trials, "min")
    assert (res["best_id"], res["worst_id"]) == (ids[4], ids[1])


def test_aggregate_result_nan_orders_above_numbers():
    from maggy_spark.experiment import _aggregate_result

    trials = AGG_CASES["nan_metric"]()
    nan_id = trials[1].trial_id
    assert _aggregate_result(trials, "max")["best_id"] == nan_id
    assert _aggregate_result(trials, "min")["best_id"] == nan_id  # -NaN is NaN


def test_aggregate_result_keeps_error_only_shape():
    from maggy_spark.experiment import _aggregate_result

    trials = [_agg_trial(i, None, status="ERROR") for i in range(3)]
    assert _aggregate_result(trials, "max") == {"num_trials": 0, "early_stopped": 0}
    assert _aggregate_result([], "min") == {"num_trials": 0, "early_stopped": 0}


# -- the executor's result rows and the dispatch loop ------------------

RESULT_KEYS = {
    "trial_id", "final_metric", "metric_history", "step_history",
    "early_stop", "error", "logs", "duration_ms",
}


def _contract_train_fn(x, reporter):
    """x=0 raises, x=1 reports below the stop bar, x=2 finishes; int
    metrics in, numpy.float64 out."""
    import numpy as np

    if x == 0:
        raise RuntimeError("boom")
    base = 1 if x == 1 else 100
    for step in range(3):
        reporter.broadcast(base + step, step)
    return np.float64(base + 0.5)


def _assert_plain_row(row):
    assert set(row) == RESULT_KEYS
    assert type(row["trial_id"]) is str
    assert row["final_metric"] is None or type(row["final_metric"]) is float
    assert type(row["metric_history"]) is list and all(type(m) is float for m in row["metric_history"])
    assert type(row["step_history"]) is list and all(type(s) is int for s in row["step_history"])
    assert type(row["early_stop"]) is bool
    assert row["error"] is None or type(row["error"]) is str
    assert type(row["logs"]) is list and all(type(line) is str for line in row["logs"])
    assert type(row["duration_ms"]) is int


def test_run_trial_wave_result_rows_are_plain_python(spark):
    """The row contract a Spark result schema used to enforce: exact
    keys, plain Python types, rows in `pending` order, for one trial
    and for several in one call."""
    import base64
    import json

    from maggy_spark.executor import _dumps_by_value, median_rule, run_trial_wave

    [row] = run_trial_wave(spark, [{"trial_id": "solo", "params": {"x": 2}}], _contract_train_fn)
    _assert_plain_row(row)
    assert row["final_metric"] == 100.5 and row["error"] is None and not row["early_stop"]
    assert row["metric_history"] == [100.0, 101.0, 102.0] and row["step_history"] == [0, 1, 2]

    # a finished history far above trial x=1's reports: the median rule
    # stops x=1 at its first broadcast and leaves x=2 running
    stop_src = json.dumps({
        "direction": "max", "es_interval": 1,
        "rule": base64.b64encode(_dumps_by_value(median_rule)).decode("ascii"),
        "finalized": [{"metric_history": [50.0, 50.0, 50.0]}],
    })
    pending = [
        {"trial_id": "t_done", "params": {"x": 2}},
        {"trial_id": "t_error", "params": {"x": 0}},
        {"trial_id": "t_stopped", "params": {"x": 1}},
    ]
    rows = run_trial_wave(spark, pending, _contract_train_fn, stop_check_source=stop_src)
    assert [r["trial_id"] for r in rows] == ["t_done", "t_error", "t_stopped"]
    for r in rows:
        _assert_plain_row(r)
    done, error, stopped = rows
    assert done["final_metric"] == 100.5 and not done["early_stop"] and done["error"] is None
    assert error["final_metric"] is None and error["error"] == "RuntimeError: boom"
    assert not error["early_stop"] and error["metric_history"] == []
    assert stopped["early_stop"] and stopped["error"] is None
    assert stopped["final_metric"] == 1.0 and stopped["metric_history"] == [1.0]


def _capture_trials(monkeypatch):
    """Record the trial list every lagom run hands to _aggregate_result."""
    from maggy_spark import experiment

    runs = []
    original = experiment._aggregate_result

    def recording(trials, direction):
        runs.append(list(trials))
        return original(trials, direction)

    monkeypatch.setattr(experiment, "_aggregate_result", recording)
    return runs


def test_wave_mode_settles_in_submission_order(spark, tmp_path, monkeypatch):
    """Trial 0 of each run finishes last, yet wave mode applies results,
    assigns seq and appends to the live store in submission order, so
    two runs of one seed agree exactly."""
    import time

    from maggy_spark.store import ExperimentStore

    runs = _capture_trials(monkeypatch)
    appended = []
    original_append = ExperimentStore.append_trials

    def recording_append(self, trials):
        appended.append([t.trial_id for t in trials])
        return original_append(self, trials)

    monkeypatch.setattr(ExperimentStore, "append_trials", recording_append)

    def fn(x):
        if x == 0:
            time.sleep(0.3)
        return float(x)

    def run(name):
        config = HyperparameterOptConfig(
            optimizer="gridsearch",
            searchspace=Searchspace(x=("DISCRETE", [0, 1, 2, 3, 4, 5])),
            direction="max", es_policy="none", parallelism=3, scheduling="wave",
            name=name, log_dir=str(tmp_path), stream_artifacts=True,
        )
        return lagom(fn, config, spark)

    r1 = run("wave_order_a")
    r2 = run("wave_order_b")
    assert r1["num_waves"] == r2["num_waves"] == 2
    trials1, trials2 = runs
    assert [t.params["x"] for t in trials1] == [0, 1, 2, 3, 4, 5]  # grid (submission) order
    assert [t.info_dict["seq"] for t in trials1] == [1, 2, 3, 4, 5, 6]

    def key(trials):
        return [(t.trial_id, t.info_dict["seq"], t.final_metric) for t in trials]

    assert key(trials1) == key(trials2)
    assert r1["best_id"] == r2["best_id"] == trials1[-1].trial_id
    ids = [t.trial_id for t in trials1]
    assert appended == [ids[:3], ids[3:], ids[:3], ids[3:]]  # once per wave, in order


@pytest.mark.parametrize("scheduling", ["wave", "async"])
def test_train_fn_pickled_once_per_experiment(spark, monkeypatch, scheduling):
    from maggy_spark import executor

    calls = []
    original = executor._dumps_by_value

    def counting(fn):
        calls.append(fn)
        return original(fn)

    monkeypatch.setattr(executor, "_dumps_by_value", counting)
    config = HyperparameterOptConfig(
        num_trials=6, optimizer="randomsearch", searchspace=Searchspace(**SP),
        direction="max", es_policy="none", seed=21, parallelism=2, scheduling=scheduling,
    )
    res = lagom(quadratic_train_fn, config, spark)
    assert res["num_trials"] == 6
    assert res["num_waves"] == (3 if scheduling == "wave" else 6)
    assert calls == [quadratic_train_fn]


def test_wave_mode_finalizes_optimizer_that_runs_dry(spark):
    """A custom optimizer out of suggestions before num_trials still
    gets finalize_experiment once its last wave settles."""
    from maggy_spark.optimizers import AbstractOptimizer

    class TwoValues(AbstractOptimizer):
        def __init__(self):
            super().__init__()
            self.finalized_with = None

        def initialize(self):
            self.values = [1.0, 2.0]

        def get_suggestion(self, trial=None):
            if not self.values:
                return None
            return self.create_trial({"x": self.values.pop(0)}, sample_type="random")

        def finalize_experiment(self, trials):
            self.finalized_with = list(trials)

    opt = TwoValues()
    config = HyperparameterOptConfig(
        num_trials=5, optimizer=opt, searchspace=Searchspace(x=("DOUBLE", [0.0, 10.0])),
        direction="max", es_policy="none", parallelism=4, scheduling="wave",
    )
    res = lagom(lambda x: float(x), config, spark)
    assert res["num_trials"] == 2 and res["best_val"] == 2.0
    assert opt.finalized_with is not None and len(opt.finalized_with) == 2


def test_stalled_controller_warns(spark, caplog):
    """A controller that runs dry before num_trials ends the experiment
    with the trials it settled and one warning that says so."""
    config = HyperparameterOptConfig(
        num_trials=10, optimizer="randomsearch",
        searchspace=Searchspace(x=("INTEGER", [1, 2])),
        direction="max", es_policy="none", seed=1,
    )
    with caplog.at_level(logging.WARNING, logger="maggy_spark"):
        res = lagom(lambda x: float(x), config, spark)
    assert res["num_trials"] == 2
    warnings = [r for r in caplog.records if r.name == "maggy_spark" and r.levelno == logging.WARNING]
    assert len(warnings) == 1
    assert "RandomSearch" in warnings[0].getMessage() and "2 of 10" in warnings[0].getMessage()


@pytest.mark.parametrize("scheduling", ["wave", "async"])
def test_drive_runs_a_fake_runner_without_spark(monkeypatch, scheduling):
    """`_drive` only schedules: with an in-process runner and no
    SparkSession, every RandomSearch trial settles exactly once, `seq`
    runs 1..8, and the third emitted trial, whose fake training raises,
    ends as an ERROR row."""
    import threading
    import time
    from collections import Counter

    from maggy_spark import experiment

    spark_jobs = []
    monkeypatch.setattr(experiment, "run_trial_wave", lambda *a, **kw: spark_jobs.append(a))
    controller = RandomSearch()
    controller.initialize(Searchspace(x=("DOUBLE", [0.0, 1.0])), num_trials=8, direction="max", seed=5)
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
        # a runner may return a failed trial's row carrying its error,
        # like run_trial_wave's rows (a runner that raises is the other
        # way, tests/test_emission_gate.py)
        with lock:
            calls[trial.trial_id] += 1
        time.sleep(0.02 * trial.params["x"])  # finish out of submission order
        metric = error = None
        try:
            if trial is emitted[2]:
                raise RuntimeError("boom")
            metric = trial.params["x"]
        except RuntimeError as e:
            error = f"{type(e).__name__}: {e}"
        return {"trial_id": trial.trial_id, "final_metric": metric, "metric_history": [], "step_history": [],
                "early_stop": False, "error": error, "logs": [], "duration_ms": 1}

    config = HyperparameterOptConfig(es_policy="none", name="fake_runner")
    trials, rounds = experiment._drive(runner, config, controller, 3, scheduling)

    assert spark_jobs == []
    assert len(emitted) == 8 and {t.trial_id for t in trials} == {t.trial_id for t in emitted}
    assert set(calls.values()) == {1} and len(calls) == 8
    assert [t.info_dict["seq"] for t in trials] == list(range(1, 9))
    assert rounds == (3 if scheduling == "wave" else 8)
    [failed] = [t for t in trials if t.status == "ERROR"]
    assert failed is emitted[2] and failed.info_dict["error"] == "RuntimeError: boom"
    assert all(t.status == "FINALIZED" and t.final_metric == t.params["x"] for t in trials if t is not failed)
    assert len(controller.final_store) == 7 and controller.next_batch(3) == []


@pytest.mark.parametrize("scheduling", ["wave", "async"])
def test_all_error_run_counts_each_trial_once(monkeypatch, scheduling):
    """ROADMAP item 3's invariant on the all-ERROR path: `num_trials`
    plus `errors` equals the settled trials, with no Spark job."""
    import threading

    from maggy_spark import experiment

    spark_jobs = []
    monkeypatch.setattr(experiment, "run_trial_wave", lambda *a, **kw: spark_jobs.append(a))
    settled = []
    lock = threading.Lock()

    def failing_runner(trial, stop_src):
        with lock:
            settled.append(trial.trial_id)
        return {"trial_id": trial.trial_id, "final_metric": None, "metric_history": [], "step_history": [],
                "early_stop": False, "error": "RuntimeError: boom", "logs": [], "duration_ms": 1}

    controller = RandomSearch()
    controller.initialize(Searchspace(x=("DOUBLE", [0.0, 1.0])), num_trials=5, direction="max", seed=5)
    config = HyperparameterOptConfig(es_policy="none", name="all_error", log_dir=None)
    res = experiment._run_trials(None, config, None, controller, 2, scheduling, runner=failing_runner)

    assert spark_jobs == [] and len(settled) == 5
    assert res["num_trials"] + res["errors"] == len(settled)
    assert (res["num_trials"], res["errors"]) == (0, 5)
    assert "best_id" not in res and "best_config" not in res
