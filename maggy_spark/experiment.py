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

Asynchrony note (SURVEY.md §7.3b): the reference assigns a new trial
the instant one finishes; `scheduling="async"` does the same.
`scheduling="wave"` refills only when a whole wave of `parallelism`
trials has settled, so ASHA promotions are checked between waves and
one seed gives one result.
"""

from __future__ import annotations

import json
import logging
import math
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
from maggy_spark.executor import run_trial_wave
from maggy_spark.optimizers import get_controller
from maggy_spark.store import TRIALS_ARROW_SCHEMA, TRIALS_SCHEMA, ExperimentStore, trial_rows
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


def _es_custom_rule(config):
    """The user's `earlystop_check` for a custom rule (a class or
    instance implementing the reference's AbstractEarlyStop contract,
    `abstractearlystop.py:20-40`), or None for built-in policies."""
    policy = getattr(config, "es_policy", None)
    if policy is None or isinstance(policy, str):
        return None
    if getattr(policy, "POLICY", None) in ("median", "none"):
        return None  # facade built-ins select by name
    fn = getattr(policy, "earlystop_check", None)
    return fn if callable(fn) else None


def _es_enabled(config) -> bool:
    """Early stopping runs for the median policy or a custom
    reference-contract rule; None or "none" disable it. Anything else
    is rejected up front rather than being silently treated as
    median. A config without an es_policy (ablation, reference
    `ablation_driver.py:52`) never stops early."""
    if _es_custom_rule(config) is not None:
        return True
    policy = getattr(config, "es_policy", None)
    # facade rule classes/instances (maggy.earlystop) carry a POLICY
    # string; strings pass through unchanged
    policy = getattr(policy, "POLICY", policy)
    if policy is None or (isinstance(policy, str) and policy.lower() == "none"):
        return False
    if isinstance(policy, str) and policy.lower() == "median":
        return True
    raise ValueError(
        f"unsupported es_policy {policy!r}: expected 'median', 'none', None, "
        "or a rule implementing earlystop_check"
    )


def _log_progress(controller, settled: int) -> None:
    """A11: per-wave progress line (reference util.progress_bar,
    printed on the driver; INFO level so notebooks opt in)."""
    from maggy_spark.util import progress_bar

    total = max(controller.num_trials, settled)
    _LOG.info("maggy experiment %s", progress_bar(settled, total))


def _bar_payload(controller, config) -> dict:
    """Current early-stop state: histories appear only once es_min
    trials have finalized (medianrule.py min-completed gate). For a
    custom rule, the rule's check function travels cloudpickled (by
    value — user rules live in un-importable notebook modules) with
    richer finalized-trial snapshots for its Trial-shaped arguments."""
    histories = []
    finalized = []
    past_gate = len(controller.final_store) >= config.es_min
    if past_gate:
        histories = [t.metric_history for t in controller.final_store if t.metric_history]
    payload = {
        "direction": config.direction,
        "es_interval": config.es_interval,
        "prefix_histories": histories,
    }
    rule_fn = _es_custom_rule(config)
    if rule_fn is not None:
        import base64

        from maggy_spark.executor import _dumps_by_value

        if past_gate:
            finalized = [
                {
                    "trial_id": t.trial_id,
                    "metric_history": list(t.metric_history),
                    "final_metric": t.final_metric,
                }
                for t in controller.final_store
            ]
        # the rule function is static WITHIN one experiment: pickle it
        # once per run and memoize on the CONTROLLER (reset at
        # initialize) — _bar_payload runs per bar refresh and, in the
        # async path, per trial submission. Memoizing on the function
        # object itself would live for the whole process: a rule
        # reused across experiments whose closure state was mutated
        # between runs would ship the stale first pickle forever.
        cached = getattr(controller, "_maggy_rule_b64", None)
        if cached is None:
            cached = base64.b64encode(_dumps_by_value(rule_fn)).decode("ascii")
            controller._maggy_rule_b64 = cached
        payload["custom_rule"] = cached
        payload["finalized"] = finalized
    return payload


def _stop_source(controller, config, refresh_path: str | None = None) -> str | None:
    if not _es_enabled(config):
        return None
    payload = _bar_payload(controller, config)
    if refresh_path is not None:
        # async scheduling: the trial-local check re-reads the bar file
        # as it tightens, so even a trial submitted BEFORE es_min
        # finishers gets a stop source (empty bar now, live bar later)
        payload["refresh_path"] = refresh_path
    elif not payload["prefix_histories"] and not payload.get("finalized"):
        return None
    return json.dumps(payload)


def _publish_bar(controller, config, refresh_path: str) -> None:
    """Atomically publish the tightened bar for in-flight trials
    (write + os.replace: readers see the old or the new file, never a
    torn one)."""
    import os

    payload = _bar_payload(controller, config)
    tmp = f"{refresh_path}.tmp.{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(payload, f)
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
        controller.report_error(trial)  # rung ledgers / busy sets / done() accounting
    else:
        trial.status = Trial.FINALIZED
        trial.final_metric = r["final_metric"]
        controller.finalize_trial(trial)


def _run_hpo(train_fn: Callable, config: HyperparameterOptConfig, spark: SparkSession) -> dict:
    controller = get_controller(config.optimizer)
    if getattr(config, "pruner", None) is not None and controller._pruner_spec is None:
        # config-level pruner attaches to whatever optimizer was chosen
        # (reference passes pruner via the optimizer constructor;
        # config-level is the ergonomic equivalent)
        controller._pruner_spec = config.pruner
        controller._pruner_kwargs = dict(config.pruner_kwargs or {})
    if config.searchspace is None:
        raise ValueError("HyperparameterOptConfig.searchspace is required")
    if config.direction not in ("min", "max"):
        raise ValueError(f"direction must be 'min' or 'max', got {config.direction!r}")
    _es_enabled(config)  # reject unsupported policies before any work
    controller.initialize(
        searchspace=config.searchspace,
        num_trials=config.num_trials,
        direction=config.direction,
        seed=config.seed,
    )
    controller.spark = spark  # controllers may fan work out (e.g. GP distributed scoring)
    controller._maggy_rule_b64 = None  # per-run custom-rule pickle memo (_bar_payload)
    parallelism = config.parallelism or spark.sparkContext.defaultParallelism
    return _run_trials(train_fn, config, spark, controller, parallelism, config.scheduling)


def _run_trials(
    train_fn, config, spark, controller, parallelism, scheduling, payload=None, finish=None
) -> dict:
    """The experiment lifecycle after the controller is initialized,
    shared by HPO and ablation: experiment dir and live store, `_drive`,
    the A1 summary with best/worst config, then `finish(result)` (the
    caller's own result keys) and the S5/S6 persist under log_dir.
    `payload` is passed on to `_drive`."""
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
    all_trials, waves = _drive(train_fn, config, spark, controller, parallelism, scheduling, store, exp_dir, payload)

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


def _drive(
    train_fn, config, spark, controller, parallelism, scheduling, store=None, exp_dir=None, payload=None
) -> tuple[list[Trial], int]:
    """The dispatch loop: a driver thread pool keeps up to `parallelism`
    trials in flight, each as its own single-task Spark job in the
    'maggy' scheduler pool (SURVEY.md §7.3b), without the reference's
    socket plane. `scheduling` picks only the refill rule:

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

    `payload(trial)` gives the (hparams, extras) a trial's task
    receives; by default (trial.params, None).

    Returns (trials in `seq` order, waves run in wave mode or jobs run
    in async mode)."""
    import os
    from concurrent.futures import ALL_COMPLETED, FIRST_COMPLETED, ThreadPoolExecutor, wait

    from maggy_spark.executor import _dumps_by_value

    wave_mode = scheduling != "async"
    # serialized ONCE per experiment: per-call _dumps_by_value would redo
    # the closure walk + cloudpickle registry dance (under a global
    # lock) for every trial
    fn_bytes = _dumps_by_value(train_fn)
    tb_base = _tb_base(config)
    # Under log_dir the bar file is on the experiment's (shared)
    # storage; tmpdir in local mode.
    bar_path = None
    if not wave_mode and _es_enabled(config):
        import tempfile

        base = config.log_dir or tempfile.gettempdir()
        os.makedirs(base, exist_ok=True)
        bar_path = os.path.join(base, f".maggy_bar_{config.name}_{os.getpid()}_{id(controller):x}.json")

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

    all_trials: list[Trial] = []
    rounds = 0
    limit, unit = (10_000, "wave") if wave_mode else (100_000, "job")
    try:
        with ThreadPoolExecutor(max_workers=parallelism) as pool:
            in_flight: dict = {}  # future -> trial, in submission order
            while True:
                # the refill rule: a wave only into an empty pool, an
                # async trial into any free slot
                while len(in_flight) < parallelism and not (wave_mode and in_flight) and not controller.done():
                    batch = controller.next_batch(parallelism if wave_mode else 1)
                    if not batch:
                        break
                    stop_src = _stop_source(controller, config, bar_path)
                    for t in batch:
                        in_flight[pool.submit(run_one, t, stop_src)] = t
                    rounds += 1
                if not in_flight:
                    # the controller is done or ran dry (e.g. a custom
                    # optimizer out of suggestions before num_trials):
                    # ask done() one last time — it is the hook that
                    # fires a reference optimizer's finalize_experiment,
                    # which must run on EVERY exit path
                    controller.done()
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


def summarize_finalized(finalized_df, direction: str) -> dict:
    """The A1 summary over a FINALIZED-trials relation — shared by the
    experiment finalize path and the live ExperimentStore.

    Null metrics are excluded from best/worst/avg (a null struct field
    would sort below every real metric under min and win `worst`);
    num_trials still counts every finalized row. Plain double avg:
    user metrics have arbitrary scale (a loss of 4e-5 would round to
    0 under the oracle kernel's decimal(18,4) accumulator, which
    exists for cross-engine parity on the fixtures, not results).
    """
    sign = "-1.0D" if direction == "min" else "1.0D"
    agg = finalized_df.selectExpr(
        "max(CASE WHEN final_metric IS NOT NULL THEN named_struct("
        f"'m', final_metric * {sign}, 'ns', -seq, 'trial_id', trial_id, 'final_metric', final_metric) END) AS b",
        "min(CASE WHEN final_metric IS NOT NULL THEN named_struct("
        f"'m', final_metric * {sign}, 'seq', seq, 'trial_id', trial_id, 'final_metric', final_metric) END) AS w",
        "avg(final_metric) AS avg",
        "count(*) AS num_trials",
        "CAST(sum(CASE WHEN early_stop THEN 1 ELSE 0 END) AS BIGINT) AS early_stopped",
    ).collect()[0]
    if agg.num_trials == 0 or agg.b is None:
        return {"num_trials": int(agg.num_trials or 0), "early_stopped": int(agg.early_stopped or 0)}
    return {
        "best_id": agg.b.trial_id,
        "best_val": agg.b.final_metric,
        "worst_id": agg.w.trial_id,
        "worst_val": agg.w.final_metric,
        "avg": agg.avg,
        "num_trials": agg.num_trials,
        "early_stopped": agg.early_stopped,
    }


def _aggregate_result(trials: list[Trial], direction: str) -> dict:
    """The A1 result aggregation over the experiment's own trials
    (reference optimization_driver.py:344-406 + prep_results).

    Computed in Python: the driver already holds every row. It follows
    summarize_finalized's rules exactly — that function computes the
    same summary over the live store, and the two are checked against
    each other. Only FINALIZED trials count; null metrics are left out
    of best/worst/avg; best is max (sign*m, -seq) and worst is
    min (sign*m, seq), with seq defaulting to the list index as in
    trials_to_df; NaN orders above every number, as Spark orders
    doubles.
    """
    if not trials:
        return {"num_trials": 0, "early_stopped": 0}
    finalized = [(t.info_dict.get("seq", i), t) for i, t in enumerate(trials) if t.status == Trial.FINALIZED]
    if not finalized:
        errs = sum(t.status == Trial.ERROR for t in trials)
        return {"num_trials": len(trials), "errors": errs, "early_stopped": 0}
    early_stopped = sum(bool(t.early_stop) for _, t in finalized)
    scored = [(seq, t.trial_id, float(t.final_metric)) for seq, t in finalized if t.final_metric is not None]
    if not scored:
        return {"num_trials": len(finalized), "early_stopped": early_stopped}
    sign = -1.0 if direction == "min" else 1.0

    def order(m: float) -> tuple:
        m *= sign
        return (True, 0.0) if math.isnan(m) else (False, m)

    # struct order as in summarize_finalized: metric, seq, then trial_id
    _, best_id, best_val = max(scored, key=lambda r: (order(r[2]), -r[0], r[1]))
    _, worst_id, worst_val = min(scored, key=lambda r: (order(r[2]), r[0], r[1]))
    return {
        "best_id": best_id,
        "best_val": best_val,
        "worst_id": worst_id,
        "worst_val": worst_val,
        "avg": sum(m for _, _, m in scored) / len(scored),
        "num_trials": len(finalized),
        "early_stopped": early_stopped,
    }
