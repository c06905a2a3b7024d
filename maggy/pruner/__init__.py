"""Pruner facade (reference `maggy/pruner/__init__.py`): the
reference exports `Hyperband`; the engine's implementation is
maggy_spark.pruner.HyperbandPruner (same pruning_routine contract,
pruner/hyperband.py:137-195).

`AbstractPruner` keeps the reference's subclassing contract
(`pruner/abstractpruner.py:20-70`): `pruning_routine` /
`report_trial` / `finished` / `num_trials`. The engine's Hyperband is
registered as a virtual subclass, so `isinstance(p, AbstractPruner)`
holds for it. An optimizer attaches only "hyperband" or a
HyperbandPruner instance, a subclass included: the subclass is
rebuilt from its four ladder fields at every `initialize`, so its
overrides run on a fresh ledger. Any other pruner is rejected with a
ValueError.
"""

from __future__ import annotations

from abc import ABC, abstractmethod

from maggy_spark.pruner import HyperbandPruner
from maggy_spark.pruner import HyperbandPruner as Hyperband


class AbstractPruner(ABC):
    """Reference pruner contract (`abstractpruner.py:20-70`)."""

    def __init__(self, trial_metric_getter=None) -> None:
        self.trial_metric_getter = trial_metric_getter

    @abstractmethod
    def pruning_routine(self):
        """Next action: {"trial_id": ..., "budget": ...}, "IDLE", or
        None when the schedule is exhausted."""

    @abstractmethod
    def report_trial(self, original_trial_id, new_trial_id):
        """Bind an emitted trial id to the slot the routine allocated."""

    @abstractmethod
    def finished(self) -> bool:
        """True when every rung of every iteration has settled."""

    @abstractmethod
    def num_trials(self) -> int:
        """Total trials the schedule will run."""

    def initialize_logger(self, exp_dir=None) -> None:
        """Logging hook; filesystem logging is engine-side here."""

    def name(self) -> str:
        return str(self.__class__.__name__)


AbstractPruner.register(HyperbandPruner)

__all__ = ["AbstractPruner", "Hyperband", "HyperbandPruner"]
