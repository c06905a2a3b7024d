"""Experiment configs — the public API surface of `lagom`.

Mirrors the reference's config classes (`maggy/config/*.py`):
`BaseConfig` (`base_config.py`), `HyperparameterOptConfig`
(`hyperparameter_optimization.py:20-87`), `AblationConfig`
(`ablation.py`), `TfDistributedConfig`/`TorchDistributedConfig`
(`tf_distributed.py`/`torch_distributed.py`). Fields keep the
reference names so user code ports unchanged.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any


@dataclass
class BaseConfig:
    name: str = "maggy_experiment"
    description: str = ""
    hb_interval: int = 1  # heartbeat granularity, reference default 1 s
    metric_key: str | None = None
    # when set, finalize writes result.json + the bucketed trials
    # relation under <log_dir>/<name>_<run_id>/ (reference S5/S6,
    # optimization_driver.py:235-253)
    log_dir: str | None = None
    # with log_dir set, also append trials/metrics to a live
    # ExperimentStore after every wave, so other Spark sessions can
    # watch the running experiment relationally (each append is one
    # small parquet file written with pyarrow, no Spark job)
    stream_artifacts: bool = False


@dataclass
class HyperparameterOptConfig(BaseConfig):
    """Reference: `config/hyperparameter_optimization.py:20-87`."""

    num_trials: int = 1
    optimizer: Any = "randomsearch"  # name or optimizer instance
    searchspace: Any = None
    direction: str = "max"
    es_interval: int = 1    # early-stop check cadence (steps)
    es_min: int = 10        # min finalized trials before checking
    # "median", "none", None, or a rule class or instance with
    # earlystop_check(to_check, finalized_trials, direction), such as
    # maggy.earlystop's (a subclass's override is what runs)
    es_policy: Any = "median"
    optimization_key: str = "metric"
    # multi-fidelity: attach a Hyperband pruner to the optimizer —
    # "hyperband" or a HyperbandPruner (or subclass) instance, for
    # this run only. The pruner then owns
    # budgets/promotions and OVERRIDES num_trials (reference
    # optimization_driver.py:87-89; pruner/hyperband.py).
    # optimizer="hyperband" names the same composition, RandomSearch
    # with this pruner, on the default ladder (1, 9, 3, 2);
    # get_controller("hyperband", **ladder) builds another ladder.
    pruner: Any = None
    pruner_kwargs: dict | None = None
    seed: int | None = None
    parallelism: int | None = None  # max concurrent trials (defaults to cores)
    # Both modes run every trial as its own single-task Spark job from
    # a driver thread pool ('maggy' scheduler pool); they differ only
    # in when a freed slot is refilled.
    # "wave": only once the whole wave of `parallelism` trials has
    # settled; results apply in submission order, so one seed gives
    # one result.
    # "async": the moment a trial settles, preserving the reference's
    # async scheduling (optimization_driver.py:519-541), which ASHA/BO
    # exploit; results apply in completion order.
    scheduling: str = "wave"


@dataclass
class AblationConfig(BaseConfig):
    """Reference: `config/ablation.py`; early stopping forced off
    (`ablation_driver.py:52`)."""

    ablation_study: Any = None
    # "loco" (runs `ablation.LOCO(study, [])`, as the reference
    # driver does) or a reference-protocol AbstractAblator instance
    # (`ablation_driver.py:65-77`); either runs through the HPO
    # dispatch loop, async, one job per trial
    ablator: Any = "loco"
    direction: str = "max"
    optimization_key: str = "metric"


@dataclass
class TorchDistributedConfig(BaseConfig):
    """Gang-scheduled distributed training (reference
    `config/torch_distributed.py:33-45`); executed barrier-mode.
    Carries every reference constructor field (module, dataset,
    hparams, backend torch|deepspeed, mixed_precision, zero_lvl,
    deepspeed_config) so reference call sites construct unchanged;
    train_set/test_set/num_workers are this engine's additions."""

    BACKENDS = ("torch", "deepspeed")  # reference torch_distributed.py:31

    module: Any = None
    dataset: Any = None
    hparams: dict | None = None
    # reference semantics: WHICH WRAPPER runs the training (torch vs
    # deepspeed), NOT the torch.distributed process-group backend —
    # that is `process_group_backend` below
    backend: str = "torch"
    mixed_precision: bool = False
    zero_lvl: int = 0
    deepspeed_config: dict | None = None
    train_set: Any = None
    test_set: Any = None
    num_workers: int = 2
    process_group_backend: str = "gloo"  # valid init_process_group value

    # torch.distributed process-group names callers used when
    # `backend` still meant the process group (pre reference-parity
    # rename): accept and route them so old call sites keep working
    _LEGACY_PG_BACKENDS = ("gloo", "nccl", "mpi")

    def __post_init__(self):
        if self.backend in self._LEGACY_PG_BACKENDS:
            self.process_group_backend = self.backend
            self.backend = "torch"
        if self.backend not in self.BACKENDS:
            raise ValueError(
                f"backend must be one of {self.BACKENDS}, got {self.backend!r} "
                "(the torch.distributed process group backend is "
                "process_group_backend)"
            )


@dataclass
class TfDistributedConfig(BaseConfig):
    """Reference `config/tf_distributed.py:27-37`. Carries every
    reference constructor field (model, dataset, process_data,
    mixed_precision, hparams); train_set/test_set/num_workers are
    this engine's additions."""

    model: Any = None
    dataset: Any = None
    hparams: dict | None = None
    mixed_precision: bool = False
    train_set: Any = None
    test_set: Any = None
    num_workers: int = 2
    process_data: Any = None
