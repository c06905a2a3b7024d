"""Early-stop rule facade (reference `maggy/earlystop/__init__.py`).

Every policy is a rule with the reference's static
``earlystop_check(to_check, finalized_trials, direction)`` contract
(`abstractearlystop.py:20-40`), evaluated trial-locally (SURVEY §7.3a):
pass the class or an instance as `es_policy`. The built-in checks are
the engine's own functions, `MedianStoppingRule.earlystop_check` is
`maggy_spark.executor.median_rule` and `NoStoppingRule`'s is
`no_stop_rule`, so a subclass that overrides the check runs its
override. The engine cloudpickles the check into the trial-local stop
source and stops the trial whenever it returns non-None. `POLICY` names
each built-in ("median", "none"); the engine does not read it.
"""

from __future__ import annotations

from maggy_spark.executor import median_rule, no_stop_rule


class AbstractEarlyStop:
    """Rule base (reference abstractearlystop.py:20-40). Subclass and
    implement `earlystop_check`; pass the class or an instance as
    `es_policy`."""

    POLICY: str | None = None

    @staticmethod
    def earlystop_check(to_check, finalized_trials, direction):
        raise NotImplementedError("implement earlystop_check(to_check, finalized_trials, direction)")


class MedianStoppingRule(AbstractEarlyStop):
    """Median rule (reference medianrule.py:24-59): stop a trial whose
    best metric falls on the wrong side of the median of finalized
    trials' prefix averages at the same step (see `median_rule`)."""

    POLICY = "median"
    earlystop_check = staticmethod(median_rule)


class NoStoppingRule(AbstractEarlyStop):
    """Never stops (reference nostop.py)."""

    POLICY = "none"
    earlystop_check = staticmethod(no_stop_rule)


__all__ = ["AbstractEarlyStop", "MedianStoppingRule", "NoStoppingRule"]
