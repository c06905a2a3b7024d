"""Hyperband pruner — multi-fidelity budget allocation attachable to
ANY suggestion-capable optimizer (RandomSearch, GP, TPE).

Reference: `maggy/pruner/hyperband.py:29-594` and the driver wiring
`core/experiment_driver/optimization_driver.py:87-89` (a pruner
overrides the experiment's num_trials). The reference runs the pruner
as a subroutine of `BaseAsyncBO.get_suggestion`
(`optimizer/bayes/base.py:186-211`): `pruning_routine()` is consulted
before every suggestion and answers one of

1. ``{"trial_id": None, "budget": b}`` — sample a NEW config from the
   optimizer's model, run it at budget ``b`` (first rung of an SH
   iteration still has open slots);
2. ``{"trial_id": tid, "budget": b}`` — re-run the params of finished
   trial ``tid`` at the bigger budget ``b`` (a promotion);
3. ``"IDLE"`` — every started iteration is waiting on running trials
   and no new iteration may start yet;
4. ``None`` — all SH iterations are complete.

After the optimizer creates the trial it calls
``report_trial(original_trial_id, new_trial_id)`` so the pruner can
record the slot (`hyperband.py:266-279`).

Ladder math (`hyperband.py:114-124,197-218`): R = number of distinct
budgets = trunc(log_eta(max/min)) + 1; budgets ascend geometrically
min..max; SH iteration i (cycling i mod R) spans s = R-1-(i mod R)
promotions, seeds n0 = floor(R/(s+1)) * eta^s configs at the ladder's
(R-1-s)-th budget, and keeps 1/eta per rung.

Rung stepping: each SH iteration is an `SHIteration`
(`hyperband.py:304-527`), the engine's one successive-halving
implementation. The optimizer name "hyperband" is RandomSearch with
this pruner attached (`optimizers.get_controller`).

Divergence from the reference (by design): the attached optimizer's
getter (`AbstractOptimizer._pruner_metrics`) scores an ERROR trial
+inf, read from its trial ledger, so a rung can still promote; the
reference's `trial_metric_getter` never learns about failures and its
iteration would stall forever. As with the reference `AbstractPruner`,
a standalone pruner knows only its getter, so that getter must score a
failed trial itself. A finalized trial without a metric scores +inf
the same way, and a NaN metric ranks last (`optimizers.min_rank_key`).
"""

from __future__ import annotations

import math

from maggy_spark.optimizers import exact_smax, min_rank_key


class HyperbandPruner:
    """Hyperband over the reference's ladder geometry: one
    `SHIteration` per successive-halving iteration, started in order.

    The pruner owns the geometry (`n_budgets`, `budgets`, each
    iteration's `ns` and base rung) and the order iterations start in
    with the IDLE/None answers of `pruning_routine`; the iterations do
    the rung stepping.

    `trial_metric_getter(ids)` must return `{trial_id: metric}` for the
    SETTLED trials among `ids` (metrics already normalized so lower is
    better, a failed trial scored +inf); unsettled ids are simply
    absent from the dict. The attached optimizer provides it
    (`AbstractOptimizer._pruner_metrics`).
    """

    IDLE = "IDLE"

    def __init__(
        self,
        min_budget: int = 1,
        max_budget: int = 9,
        eta: int = 3,
        n_iterations: int = 2,
        trial_metric_getter=None,
    ):
        if min_budget <= 0:
            raise ValueError(f"min_budget must be > 0, got {min_budget}")
        if max_budget <= min_budget:
            raise ValueError(f"need max_budget > min_budget, got {max_budget} <= {min_budget}")
        if eta < 2:
            raise ValueError(f"eta must be >= 2, got {eta}")
        self.min_budget = min_budget
        self.max_budget = max_budget
        self.eta = eta
        self.n_iterations = n_iterations
        self.trial_metric_getter = trial_metric_getter
        # same ladder semantics as the reference (hyperband.py:115-124):
        # R = largest k with min*eta^k <= max, plus 1 — via the shared
        # exact-integer search (float-log dropped rungs for exact
        # powers; see optimizers.exact_smax)
        self.n_budgets = exact_smax(min_budget, max_budget, eta) + 1
        self.budgets = [max_budget // eta ** (self.n_budgets - 1 - j) for j in range(self.n_budgets)]
        self._iters = [self._plan_iteration(i) for i in range(n_iterations)]
        self._updating: int | None = None  # iteration awaiting report_trial

    # -- geometry ------------------------------------------------------

    def _plan_iteration(self, i: int) -> SHIteration:
        R = self.n_budgets
        s = R - 1 - (i % R)  # promotions in this iteration
        n0 = int(math.floor(R / (s + 1))) * self.eta**s
        ns = [max(int(n0 * self.eta ** (-j)), 1) for j in range(s + 1)]
        # the iteration runs the ladder's tail: its rung 0 is ladder
        # rung R-1-s
        return SHIteration(ns, self.budgets[R - 1 - s:], iteration_id=i, trial_metric_getter=self.trial_metric_getter)

    def _base_rung(self, it: SHIteration) -> int:
        return self.n_budgets - it.n_rungs

    # -- optimizer interface -------------------------------------------

    def num_trials(self) -> int:
        """Total trials across every SH iteration — overrides the
        experiment's num_trials (optimization_driver.py:87-89)."""
        return sum(sum(it.n_configs) for it in self._iters)

    def pruning_routine(self):
        # iterations start in order: a later one is asked for a slot
        # (its first ask starts it) only while every earlier one is
        # finished or waiting on running trials
        for idx, it in enumerate(self._iters):
            if it.state == SHIteration.FINISHED:
                continue
            nxt = it.get_next_run()
            if nxt is not None:
                self._updating = idx
                return nxt
        return None if self.finished() else self.IDLE

    def report_trial(self, original_trial_id, new_trial_id) -> None:
        """Record the trial the optimizer actually started for the slot
        most recently handed out (`hyperband.py:266-279,445-476`)."""
        self._iters[self._updating].report_trial(original_trial_id, new_trial_id)
        self._updating = None

    def finished(self) -> bool:
        return all(it.finished() for it in self._iters)

    # -- introspection --------------------------------------------------

    def schedule_rows(self) -> list[tuple[int, int, int, int]]:
        """(iteration, ladder_rung, budget, n_configs) — the static
        plan; relational twin is operator g14_pruner_schedule."""
        out = []
        for i, it in enumerate(self._iters):
            for j, n in enumerate(it.n_configs):
                out.append((i, self._base_rung(it) + j, it.budgets[j], n))
        return out

    def rungs_df(self, spark):
        """The live rung ledger as a DataFrame (`hyperband.py:173`
        rungs relation): one row per slot with promotion lineage."""
        rows = []
        for i, it in enumerate(self._iters):
            for j in range(it.n_rungs):
                for cfg in it.configs[j]:
                    rows.append(
                        (i, self._base_rung(it) + j, int(it.budgets[j]),
                         cfg["original_trial_id"], cfg["actual_trial_id"], j > 0)
                    )
        return spark.createDataFrame(
            rows,
            "iteration int, rung int, budget int, original_trial_id string, "
            "trial_id string, promoted boolean",
        )


class SHIteration:
    """One synchronous SuccessiveHalving iteration, exposed with the
    reference's public class surface (`pruner/hyperband.py:304-527`):
    `get_next_run` hands out (trial_id, budget) slots, `report_trial`
    binds the optimizer's emitted trial ids, `promotable`/`promote`
    advance the best 1/eta of a settled rung, `finished` closes the
    iteration. HyperbandPruner steps every one of its iterations with
    this class; reference user code (custom pruners) can drive it
    directly too.

    `trial_metric_getter(ids) -> {trial_id: metric}` must return
    entries only for FINISHED trials (lower is better)."""

    INIT = "INIT"
    RUNNING = "RUNNING"
    FINISHED = "FINISHED"

    def __init__(self, n_configs, budgets, iteration_id=0, trial_metric_getter=None, logger=None):
        if len(n_configs) != len(budgets):
            raise ValueError("n_configs and budgets must align rung-for-rung")
        self.iteration_id = iteration_id
        self.state = SHIteration.INIT
        self.n_configs = list(n_configs)
        self.budgets = list(budgets)
        self.n_rungs = len(self.n_configs)
        self.current_rung = 0
        self.actual_n_configs = [0] * self.n_rungs
        self.configs = {rung: [] for rung in range(self.n_rungs)}
        self.trial_metric_getter = trial_metric_getter
        self._logger = logger
        # promoted slots handed to the caller but not yet bound via
        # report_trial — without this, two get_next_run() calls before
        # a report would hand the SAME promotion out twice and leave
        # another slot permanently unstarted
        self._handed_out: set = set()

    def _metrics(self, ids):
        if self.trial_metric_getter is None:
            return {}
        return dict(self.trial_metric_getter(ids) or {})

    def get_next_run(self):
        """{"trial_id": None|promoted_id, "budget": b} for the next
        slot, or None when waiting on running trials / finished."""
        self.state = SHIteration.RUNNING
        rung = self.current_rung
        if self.actual_n_configs[rung] < self.n_configs[rung]:
            if rung == 0:
                self.actual_n_configs[0] += 1
                return {"trial_id": None, "budget": self.budgets[0]}
            for cfg in self.configs[rung]:
                if cfg["actual_trial_id"] is None and cfg["original_trial_id"] not in self._handed_out:
                    self.actual_n_configs[rung] += 1
                    self._handed_out.add(cfg["original_trial_id"])
                    return {"trial_id": cfg["original_trial_id"], "budget": self.budgets[rung]}
            return None  # promotions awaiting report_trial
        if self.promotable():
            if self.current_rung + 1 < self.n_rungs:
                self.promote()
                return self.get_next_run()
            self.state = SHIteration.FINISHED
            return None
        return None

    def report_trial(self, original_trial_id, new_trial_id):
        """Bind the trial the optimizer actually started to its slot."""
        rung = self.current_rung
        if original_trial_id is None:
            self.configs[rung].append(
                {"original_trial_id": new_trial_id, "actual_trial_id": new_trial_id}
            )
        else:
            for cfg in self.configs[rung]:
                if cfg["original_trial_id"] == original_trial_id and cfg["actual_trial_id"] is None:
                    cfg["actual_trial_id"] = new_trial_id
                    self._handed_out.discard(original_trial_id)
                    break

    def promotable(self):
        """True when every slot of the current rung is bound AND
        finished (its metric is available)."""
        rung = self.current_rung
        if self.actual_n_configs[rung] < self.n_configs[rung]:
            return False
        actual = [c["actual_trial_id"] for c in self.configs[rung]]
        if len(actual) < self.n_configs[rung] or any(a is None for a in actual):
            return False
        return len(self._metrics(actual)) == len(actual)

    def promote(self):
        """Advance the best 1/eta of the settled rung; returns the
        promoted trial ids (ascending metric, NaN/None last, stable
        ties)."""
        rung = self.current_rung
        actual = [c["actual_trial_id"] for c in self.configs[rung]]
        metrics = self._metrics(actual)
        keep = self.n_configs[rung + 1]
        ranked = sorted(actual, key=lambda tid: min_rank_key(metrics[tid]))[:keep]
        self.current_rung = rung + 1
        for tid in ranked:
            self.configs[self.current_rung].append(
                {"original_trial_id": tid, "actual_trial_id": None}
            )
        return ranked

    def finished(self):
        """True once the last rung has fully settled."""
        if self.state != SHIteration.FINISHED and self.current_rung == self.n_rungs - 1 and self.promotable():
            self.state = SHIteration.FINISHED
        return self.state == SHIteration.FINISHED
