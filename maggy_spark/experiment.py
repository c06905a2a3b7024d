"""`lagom(train_fn, config)` — the experiment entry point.

Reference lifecycle (SURVEY.md §3.1, `maggy/experiment/experiment.py:
21-45`, `experiment_pyspark.py:43-146`): dispatch on config type,
drive trials to completion, return the result dict. The rebuild has
one dispatch loop (`_drive`): the controller emits pending trials,
a driver thread pool runs each as its own single-task Spark job
(executor.py), finalized trials feed back into the controller, and
the final result is the A1 summary computed on the driver over the
trials it already holds — no RPC server, no reservation registry, no
digestion threads. Ablation studies run through the same lifecycle
(`_run_trials`) behind a controller adapter (ablation.py), as the
reference's ablation driver subclasses its HPO driver (SURVEY.md §3.2).
MLlib tuning (`mllib_bridge.fit_with_lagom`) runs through it too, with
a driver-side runner that fits each estimator in place of the Spark
task runner.

Asynchrony note (SURVEY.md §7.3b): the reference assigns a new trial
the instant one finishes; `scheduling="async"` does the same.
`scheduling="wave"` refills only when a whole wave of `parallelism`
trials has settled, so ASHA promotions are checked between waves and
one seed gives one result.
"""

from __future__ import annotations

import logging
import time
from typing import Any, Callable

import pyarrow as pa
from pyspark.sql import SparkSession

from maggy_spark.config import (
    AblationConfig,
    BaseConfig,
    HyperparameterOptConfig,
    TfDistributedConfig,
    TorchDistributedConfig,
)
from maggy_spark.executor import encode_stop_source, median_rule, no_stop_rule, run_trial_wave, stop_views
from maggy_spark.optimizers import get_controller
from maggy_spark.store import TRIALS_ARROW_SCHEMA, TRIALS_SCHEMA, ExperimentStore, summarize_trials, trial_rows
from maggy_spark.trial import Trial

_LOG = logging.getLogger("maggy_spark")


def lagom(
    train_fn: Callable,
    config: BaseConfig | None = None,
    spark: SparkSession | None = None,
    **base_kwargs,
) -> dict:
    """Run an experiment; returns the result dict (best/worst/avg...).

    Public API preserved from the reference (`experiment.lagom`):
    `config` is optional exactly like the reference entry point
    (`experiment/experiment.py:21-41`), defaulting to a single
    no-hparam run under the default BaseConfig — the README
    quick-start shape `experiment.lagom(train_fn=fn)` runs unchanged.
    Extra keyword args (name/description/hb_interval/...) feed that
    default config, so the reference README's
    `lagom(train_fn=fn, name='MNIST')` also runs verbatim (the
    reference code itself rejects that stale doc shape; accepting it
    is a strict superset). Passing both `config` and extras is a
    user error and raises.
    """
    if config is None:
        defaults = {"name": "maggy_experiment", "description": "experiment without config object"}
        config = BaseConfig(**{**defaults, **base_kwargs})
    elif base_kwargs:
        # validate BEFORE building a SparkSession: a bad call must not
        # pay (and leak) JVM startup just to raise
        raise TypeError(
            f"lagom() got config= AND extra kwargs {sorted(base_kwargs)}; "
            "put them on the config object instead"
        )
    spark = spark or SparkSession.builder.getOrCreate()
    if isinstance(config, HyperparameterOptConfig):
        return _run_hpo(train_fn, config, spark)
    if isinstance(config, AblationConfig):
        from maggy_spark.ablation import run_ablation

        return run_ablation(train_fn, config, spark)
    if isinstance(config, (TorchDistributedConfig, TfDistributedConfig)):
        from maggy_spark.distributed import run_distributed_training

        return run_distributed_training(train_fn, config, spark)
    if isinstance(config, BaseConfig):
        return _run_base(train_fn, config, spark)
    raise TypeError(f"unsupported config type: {type(config).__name__}")


def _run_base(train_fn: Callable, config: BaseConfig, spark: SparkSession) -> dict:
    """BaseConfig: run the function once, locally (reference
    base_executor.py:21-42 identity wrapper)."""
    from maggy_spark.executor import build_kwargs, normalize_return
    from maggy_spark.reporter import Reporter

    reporter = Reporter()
    kwargs = build_kwargs(train_fn, {}, reporter)
    ret = train_fn(**kwargs)
    metric = normalize_return(ret, config.metric_key or "metric") if ret is not None else None
    return {"test result": metric, "logs": reporter.logs}


def _es_rule(config) -> Callable | None:
    """The experiment's early-stop rule: an `earlystop_check(to_check,
    finalized_trials, direction)` function (reference
    `abstractearlystop.py:20-40`), or None when nothing stops early.

    es_policy may be "median" (`executor.median_rule`), None or "none",
    or a rule class or instance with a callable `earlystop_check`,
    which runs as given; a rule whose check is `executor.no_stop_rule`
    disables early stopping. Checks compare by function identity, so a
    MedianStoppingRule or NoStoppingRule subclass that overrides the
    check runs its override. A config without es_policy (ablation,
    reference `ablation_driver.py:52`) never stops early. Anything else
    is rejected rather than silently treated as median."""
    policy = getattr(config, "es_policy", None)
    name = policy.lower() if isinstance(policy, str) else None
    if name == "median":
        return median_rule
    if policy is None or name == "none":
        return None
    rule = getattr(policy, "earlystop_check", None)
    if not callable(rule):
        raise ValueError(
            f"unsupported es_policy {policy!r}: expected 'median', 'none', None, "
            "or a rule implementing earlystop_check"
        )
    return None if rule is no_stop_rule else rule


def _log_progress(controller, settled: int) -> None:
    """A11: per-wave progress line (reference util.progress_bar,
    printed on the driver; INFO level so notebooks opt in)."""
    from maggy_spark.util import progress_bar

    total = max(controller.num_trials, settled)
    _LOG.info("maggy experiment %s", progress_bar(settled, total))


def _bar(controller, config) -> list[Trial]:
    """The finalized trials a stop check compares against: none until
    es_min have finalized (medianrule.py min-completed gate)."""
    return controller.final_store if len(controller.final_store) >= config.es_min else []


def _stop_source(controller, config, rule: bytes, refresh_path: str | None = None) -> str | None:
    """The early-stop state trial tasks check against. Under async
    scheduling (`refresh_path`) even a trial submitted before the gate
    gets a source: its check re-reads the bar file as the bar
    tightens."""
    finalized = _bar(controller, config)
    if not finalized and refresh_path is None:
        return None
    return encode_stop_source(rule, config.direction, config.es_interval, finalized, refresh_path)


def _publish_bar(controller, config, refresh_path: str) -> None:
    """Atomically publish the tightened bar for in-flight trials: only
    `{"finalized": [...]}`, the one key the checks' refresh reads
    (write + os.replace: readers see the old or the new file, never a
    torn one)."""
    import json
    import os

    tmp = f"{refresh_path}.tmp.{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump({"finalized": stop_views(_bar(controller, config))}, f)
    os.replace(tmp, refresh_path)


def _apply_result(controller, trial: Trial, r: dict, seq: int) -> None:
    trial.metric_history = list(r["metric_history"] or [])
    trial.step_history = [int(s) for s in (r["step_history"] or [])]
    trial.early_stop = bool(r["early_stop"])
    trial.duration = (r["duration_ms"] or 0) / 1000.0
    if r.get("logs"):
        trial.info_dict["logs"] = list(r["logs"])
    trial.info_dict["seq"] = seq
    if r["error"]:
        trial.status = Trial.ERROR
        trial.info_dict["error"] = r["error"]
        controller.report_error(trial)
    else:
        trial.status = Trial.FINALIZED
        trial.final_metric = r["final_metric"]
        controller.finalize_trial(trial)


def _run_hpo(train_fn: Callable, config: HyperparameterOptConfig, spark: SparkSession) -> dict:
    controller, parallelism = _init_hpo(config, spark)
    return _run_trials(train_fn, config, spark, controller, parallelism, config.scheduling)


def _init_hpo(config: HyperparameterOptConfig, spark: SparkSession) -> tuple[Any, int]:
    """Validate an HPO config and initialize its controller for this
    run; returns (controller, parallelism)."""
    controller = get_controller(config.optimizer)
    if config.searchspace is None:
        raise ValueError("HyperparameterOptConfig.searchspace is required")
    if config.direction not in ("min", "max"):
        raise ValueError(f"direction must be 'min' or 'max', got {config.direction!r}")
    # config.pruner attaches for this run only; initialize rejects one
    # that conflicts with the optimizer's own
    controller.initialize(
        searchspace=config.searchspace,
        num_trials=config.num_trials,
        direction=config.direction,
        seed=config.seed,
        pruner=config.pruner,
        pruner_kwargs=config.pruner_kwargs,
    )
    return controller, config.parallelism or spark.sparkContext.defaultParallelism


def _run_trials(
    train_fn, config, spark, controller, parallelism, scheduling, payload=None, finish=None, runner=None
) -> dict:
    """The experiment lifecycle after the controller is initialized,
    shared by HPO, ablation and MLlib tuning: experiment dir and live
    store, `_drive`, the A1 summary with best/worst config, then
    `finish(result)` (the caller's own result keys) and the S5/S6
    persist under log_dir.

    `runner(trial, stop_src) -> row` runs one trial; by default it is
    `_spark_runner` over `train_fn`, whose tasks receive
    `payload(trial)` as their (hparams, extras)."""
    rule = _es_rule(config)  # reject an unsupported policy before any work
    store = None
    exp_dir = None
    if config.log_dir:
        # the experiment dir is resolved eagerly (not at persist time)
        # so trial tasks can stream their FULL print captures to
        # <exp_dir>/trial_logs/ while result rows carry a bounded tail
        from maggy_spark.util import next_run_id, register_environment

        run_id = next_run_id(config.log_dir, config.name)
        exp_dir = register_environment(config.name, run_id, config.log_dir)
        if getattr(config, "stream_artifacts", False):
            store = ExperimentStore(spark, exp_dir + "/live", direction=config.direction)

    t_start = time.time()
    if runner is None:
        runner = _spark_runner(train_fn, config, spark, exp_dir, payload)
    all_trials, waves = _drive(runner, config, controller, parallelism, scheduling, store, rule)

    result = _aggregate_result(all_trials, config.direction)
    result["duration_sec"] = round(time.time() - t_start, 3)
    result["num_waves"] = waves
    result["errors"] = sum(t.status == Trial.ERROR for t in all_trials)
    best = next((t for t in all_trials if t.trial_id == result.get("best_id")), None)
    if best is not None:
        result["best_config"] = {k: v for k, v in best.params.items() if not callable(v)}
    worst = next((t for t in all_trials if t.trial_id == result.get("worst_id")), None)
    if worst is not None:
        result["worst_config"] = {k: v for k, v in worst.params.items() if not callable(v)}
    if finish is not None:
        finish(result)
    if config.log_dir:
        result["log_dir"] = _persist_experiment(config, all_trials, result, exp_dir)
    return result


def _persist_experiment(config, trials: list[Trial], result: dict, exp_dir: str) -> str:
    """S5/S6 finalize into the experiment dir: result.json + trials
    relation (reference optimization_driver.py:235-253,294-342),
    written from the rows the driver holds, with no Spark job."""
    from maggy_spark.sources.sinks import write_experiment_result, write_trial_artifacts

    write_experiment_result(result, exp_dir)
    if trials:
        table = pa.Table.from_pylist(trial_rows(trials, config.direction), schema=TRIALS_ARROW_SCHEMA)
        write_trial_artifacts(table, exp_dir)
    return exp_dir


def _tb_base(config) -> str:
    """Per-experiment base dir for trial TensorBoard registration
    (reference tensorboard.py:28-37): under log_dir when configured,
    else a temp location so in-function `tensorboard.logdir()` always
    resolves."""
    import os
    import tempfile

    base = config.log_dir or os.path.join(tempfile.gettempdir(), "maggy_tb")
    return os.path.join(base, f"{config.name}_tb")


def _spark_runner(train_fn, config, spark, exp_dir, payload=None) -> Callable:
    """The Spark task runner: `run_one(trial, stop_src)` runs one trial
    as its own single-task `run_trial_wave` job in the 'maggy'
    scheduler pool and returns its result row. `payload(trial)` gives
    the (hparams, extras) the task receives; by default
    (trial.params, None)."""
    from maggy_spark.executor import _dumps_by_value

    # serialized ONCE per experiment: per-call _dumps_by_value would redo
    # the closure walk + cloudpickle registry dance (under a global
    # lock) for every trial
    fn_bytes = _dumps_by_value(train_fn)
    tb_base = _tb_base(config)

    def run_one(trial: Trial, stop_src: str | None) -> dict:
        spark.sparkContext.setLocalProperty("spark.scheduler.pool", "maggy")
        params, extras = payload(trial) if payload is not None else (trial.params, None)
        [r] = run_trial_wave(
            spark,
            [{"trial_id": trial.trial_id, "params": params,
              "budget": int(trial.info_dict.get("budget", 0))}],
            train_fn,
            optimization_key=config.optimization_key,
            stop_check_source=stop_src,
            extras=extras,
            tb_base_dir=tb_base,
            fn_bytes=fn_bytes,
            log_dir=exp_dir,
        )
        return r

    return run_one


def _drive(runner, config, controller, parallelism, scheduling, store=None, rule=None) -> tuple[list[Trial], int]:
    """The dispatch loop: a driver thread pool keeps up to `parallelism`
    trials in flight, each run by `runner(trial, stop_src) -> row`, where
    the row has `run_trial_wave`'s shape (trial_id, final_metric,
    metric_history, step_history, early_stop, error, logs, duration_ms)
    and a failed trial carries its `error` instead of raising. For
    lagom the runner is `_spark_runner`, one single-task Spark job per
    trial in the 'maggy' scheduler pool (SURVEY.md §7.3b), without the
    reference's socket plane. `scheduling` picks only the refill rule:

    - "wave" refills only once the pool is empty, with one
      next_batch(parallelism) call and one stop source per wave. It
      applies results, assigns `seq` and appends to the live store in
      submission order once the whole wave has settled, so one seed
      gives one result however the trials finish.
    - "async" refills a slot the moment its trial settles
      (`optimization_driver.py:519-541`) and applies results in
      completion order. In-flight trials re-read a bar file that the
      driver republishes as trials settle — the reference re-evaluates
      its rule at every METRIC heartbeat (`optimization_driver.py:
      456-471`).

    `rule` is the early-stop rule (`_es_rule`), or None; `stop_src` is
    then always None.

    The run ends when `next_batch` emits nothing and no trial is in
    flight (a controller changes only when a trial settles). Then
    `controller.end_experiment()` runs once, and a run that settled
    fewer than `controller.num_trials` trials logs a warning.

    Returns (trials in `seq` order, waves run in wave mode or jobs run
    in async mode)."""
    import os
    from concurrent.futures import ALL_COMPLETED, FIRST_COMPLETED, ThreadPoolExecutor, wait

    from maggy_spark.executor import _dumps_by_value

    wave_mode = scheduling != "async"
    # the rule is pickled once per run: a rule reused across
    # experiments ships whatever state it holds at this run
    rule_bytes = None if rule is None else _dumps_by_value(rule)
    # Under log_dir the bar file is on the experiment's (shared)
    # storage; tmpdir in local mode.
    bar_path = None
    if not wave_mode and rule_bytes is not None:
        import tempfile

        base = config.log_dir or tempfile.gettempdir()
        os.makedirs(base, exist_ok=True)
        bar_path = os.path.join(base, f".maggy_bar_{config.name}_{os.getpid()}_{id(controller):x}.json")

    all_trials: list[Trial] = []
    rounds = 0
    limit, unit = (10_000, "wave") if wave_mode else (100_000, "job")
    try:
        with ThreadPoolExecutor(max_workers=parallelism) as pool:
            in_flight: dict = {}  # future -> trial, in submission order
            while True:
                # the refill rule: a wave only into an empty pool, an
                # async trial into any free slot
                while len(in_flight) < parallelism and not (wave_mode and in_flight):
                    batch = controller.next_batch(parallelism if wave_mode else 1)
                    if not batch:
                        break
                    stop_src = None if rule_bytes is None else _stop_source(controller, config, rule_bytes, bar_path)
                    for t in batch:
                        in_flight[pool.submit(runner, t, stop_src)] = t
                    rounds += 1
                if not in_flight:
                    if len(all_trials) < controller.num_trials:
                        # legitimate for a searchspace smaller than
                        # num_trials, but never silent
                        _LOG.warning(
                            "%s stopped suggesting trials with %d of %d settled; the experiment ends early",
                            type(controller).__name__, len(all_trials), controller.num_trials,
                        )
                    controller.end_experiment()
                    break
                finished, _ = wait(in_flight, return_when=ALL_COMPLETED if wave_mode else FIRST_COMPLETED)
                settled = []
                for f in [f for f in in_flight if f in finished]:  # submission order
                    trial = in_flight.pop(f)
                    _apply_result(controller, trial, f.result(), len(all_trials) + 1)
                    all_trials.append(trial)
                    settled.append(trial)
                if bar_path is not None:
                    _publish_bar(controller, config, bar_path)
                if store is not None:
                    store.append_trials(settled)
                    store.append_metrics(settled)
                _log_progress(controller, len(all_trials))
                if rounds > limit:
                    raise RuntimeError(f"experiment did not converge ({unit} limit)")
    finally:
        if bar_path is not None:
            try:
                os.remove(bar_path)
            except OSError:
                pass
    return all_trials, rounds


def trials_to_df(spark: SparkSession, trials: list[Trial], direction: str = "max"):
    """Materialize driver-side trials as the `trials` DataFrame
    (FIXTURES.md F2 schema, defined once in store.py)."""
    return spark.createDataFrame(trial_rows(trials, direction), TRIALS_SCHEMA)


def _aggregate_result(trials: list[Trial], direction: str) -> dict:
    """The A1 result summary over the experiment's own trials
    (reference optimization_driver.py:344-406 + prep_results).

    Computed on the driver, which already holds every row: it is
    `store.summarize_trials` over the trials' table rows, the same
    function the live store's result_summary runs over its files, so
    the result dict and the store agree. A trial without a seq takes
    its list index, as in trials_to_df.
    """
    return summarize_trials(trial_rows(trials, direction), direction)
