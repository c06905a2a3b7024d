"""Trial-generating controllers (SURVEY.md §2.2).

Each controller consumes finalized trials and emits the next batch of
pending `Trial`s. State is tiny (per-trial metadata), so controllers
run driver-side and the heavy lifting — trial execution and result
aggregation — is Spark's.

Reference semantics:
- RandomSearch: pre-buffers `num_trials` random configs, requires at
  least one continuous hparam (`optimizer/randomsearch.py:23-113`).
- GridSearch: Cartesian product of DISCRETE/CATEGORICAL domains
  only; `num_trials` = product size (`optimizer/gridsearch.py:33-93`).
- SingleRun: `num_trials` empty-param trials (`singlerun.py:21-37`).
- ASHA: async successive halving — random at rung 0 with
  budget=resource_min; promote the top 1/reduction_factor of a rung
  to budget min*factor^(rung+1) (`optimizer/asha.py:71-169`).
- Hyperband: a pruner, not a controller (`pruner/hyperband.py`); the
  name "hyperband" is RandomSearch with `pruner.HyperbandPruner`
  attached.
- Random draws: every controller draws from one `random.Random(seed)`
  stream per run (`_random_params`), so one seed gives one run and
  adjacent seeds share no draws.
- Trial ledger: only `AbstractOptimizer` records a trial's lifecycle,
  in the reference driver's `trial_store` (in flight) and `final_store`
  plus an `error_store` (`optimization_driver.py:71-72,111-117`); GP's
  busy-location imputation and the dedup guard read it.
- Dedup guard: a candidate whose params (ex budget) equal an emitted
  trial's is rejected and redrawn by `_draw_unseen`, at most
  n * (MAX_DEDUP_RETRIES + 1) draws for n configs
  (`abstractoptimizer.py:254-295`, `bayes/base.py:288-301`).
"""

from __future__ import annotations

import itertools
import json
import math
import random
import time
from abc import ABC

from maggy_spark.searchspace import CATEGORICAL, DISCRETE, DOUBLE, INTEGER, Searchspace
from maggy_spark.trial import Trial, trial_id_for_params

MAX_DEDUP_RETRIES = 3


def exact_smax(min_budget: int, max_budget: int, eta: int) -> int:
    """Largest s with min_budget * eta^s <= max_budget, by exact
    integer search. The float form int(floor(log(max/min)/log(eta)))
    silently DROPS the top rung for exact powers — log(1000)/log(10)
    evaluates to 2.9999999999999996 — so every ladder consumer
    (HyperbandPruner, Asha, g10) derives its geometry from this one
    function."""
    if min_budget <= 0:
        # a non-positive floor makes the search condition always true
        # (0 * anything <= max) — an infinite loop, not a ladder
        raise ValueError(f"min_budget must be > 0, got {min_budget}")
    if eta < 2:
        # eta <= 1 never grows the budget — the while loop would spin
        # forever (the old float-log form at least raised on log(1)=0).
        # Guarded HERE so every consumer inherits it: the ladder
        # constructors check their own eta, but g10_hyperband_ladder
        # forwards a caller-supplied eta straight into this function.
        raise ValueError(f"eta must be >= 2, got {eta}")
    s = 0
    while min_budget * eta ** (s + 1) <= max_budget:
        s += 1
    return s


def min_rank_key(metric) -> tuple:
    """Sort key for promotion ranking in min-space: ascending, with NaN
    and None last. Python's sort is not a total order over NaN — one
    NaN metric scrambles the whole ranking — so every promotion sort
    (SHIteration.promote, Asha._promotable) ranks by this key; sorted()
    keeps ties in input order."""
    missing = metric is None or math.isnan(metric)
    return (missing, 0.0 if missing else metric)


class AbstractOptimizer(ABC):
    """Controller base: holds the searchspace and the trial ledger.

    A Hyperband pruner may be attached (reference
    `abstractoptimizer.py:29-46` accepts pruner/pruner_kwargs): the
    pruner then decides budgets and promotions while THIS optimizer
    keeps sampling new configs — multi-fidelity composition
    (`bayes/base.py:186-211`). Any optimizer implementing
    `_suggest_one` composes (RandomSearch, GP, TPE)."""

    def __init__(self, pruner=None, pruner_kwargs: dict | None = None) -> None:
        self.searchspace: Searchspace | None = None
        self.num_trials: int = 0
        self.direction: str = "max"
        self.seed: int | None = None
        self.trial_store: dict[str, Trial] = {}
        self.final_store: list[Trial] = []
        self.error_store: list[Trial] = []
        self._seen_params: set[str] = set()
        self._trial_ids: set[str] = set()
        self._pruner_spec = pruner
        self._pruner_kwargs = dict(pruner_kwargs or {})
        self.pruner = None
        # reference bookkeeping (`abstractoptimizer.py:29-52`): the
        # sampling-time stopwatch consumed by create_trial
        self.sampling_time_start: float = 0.0

    def initialize(
        self,
        searchspace: Searchspace,
        num_trials: int,
        direction: str,
        seed: int | None,
        pruner=None,
        pruner_kwargs: dict | None = None,
    ) -> None:
        """Reset for one experiment. `pruner`/`pruner_kwargs` are the
        run's own pruner (`config.pruner`); without one the pruner given
        to the constructor, if any, attaches. Neither is stored on the
        optimizer, so a reused instance's next run starts clean. A run
        pruner that differs from the constructor's raises ValueError,
        since one of the two would be silently dropped."""
        own = (self._pruner_spec, self._pruner_kwargs)
        if pruner is not None and own[0] is not None and own != (pruner, dict(pruner_kwargs or {})):
            raise ValueError(
                f"optimizer {type(self).__name__} already carries pruner {own[0]!r} with {own[1]}; config.pruner="
                f"{pruner!r} with pruner_kwargs={pruner_kwargs} would be ignored: set the pruner in one place"
            )
        self.searchspace = searchspace
        self.num_trials = num_trials
        self.direction = direction
        self.seed = seed
        # the run's one draw stream: a reused instance replays its draws
        self._sampler = random.Random(seed)
        # a controller instance may be reused across lagom() calls
        # (get_controller accepts instances): reset accumulated state
        # or the second run sees every trial as settled and every
        # redraw as a duplicate
        self.trial_store = {}
        self.final_store = []
        self.error_store = []
        self._seen_params = set()
        self._trial_ids = set()
        self.pruner = None
        if pruner is None:
            pruner, pruner_kwargs = own
        if pruner is not None:
            self.pruner = self._build_pruner(pruner, dict(pruner_kwargs or {}))
            # a pruner overrides num_trials (optimization_driver.py:87-89)
            self.num_trials = self.pruner.num_trials()
            self._pruned_params: dict[str, dict] = {}
        self._initialize()

    def _build_pruner(self, spec, kwargs: dict):
        from maggy_spark.pruner import HyperbandPruner

        if type(self)._suggest_one is AbstractOptimizer._suggest_one:
            raise ValueError(
                f"{type(self).__name__} cannot drive a pruner: it has no "
                "_suggest_one (use RandomSearch, GP, or TPE)"
            )
        if isinstance(spec, str):
            if spec.lower() != "hyperband":
                raise ValueError(f"unknown pruner {spec!r}; only 'hyperband' is supported")
            return HyperbandPruner(**kwargs, trial_metric_getter=self._pruner_metrics)
        if not isinstance(spec, HyperbandPruner):
            raise ValueError(
                f"unsupported pruner {spec!r}: expected 'hyperband' or a "
                "HyperbandPruner (or subclass) instance"
            )
        # an INSTANCE spec is a parameter carrier only: rebuild a fresh
        # ledger of its class every initialize(), else a reused
        # controller inherits the exhausted rung state and the second
        # lagom() emits 0 trials
        return type(spec)(
            min_budget=spec.min_budget,
            max_budget=spec.max_budget,
            eta=spec.eta,
            n_iterations=spec.n_iterations,
            trial_metric_getter=self._pruner_metrics,
        )

    def _pruner_metrics(self, trial_ids) -> dict[str, float]:
        """trial_metric_getter contract (`pruner/abstractpruner.py`):
        {trial_id: min-normalized metric} for the SETTLED subset."""
        if isinstance(trial_ids, str):
            trial_ids = [trial_ids]
        wanted = set(trial_ids)
        # an ERROR trial, or one finalized without a metric
        # (EarlyStopException before any broadcast), is settled all the
        # same: score it +inf, or its rung never settles
        scores = {
            t.trial_id: math.inf if t.final_metric is None else self.metric_for_min(t.final_metric)
            for t in self.final_store
            if t.trial_id in wanted
        }
        scores.update((t.trial_id, math.inf) for t in self.error_store if t.trial_id in wanted)
        return scores

    def _initialize(self) -> None:  # hook
        pass

    def next_batch(self, max_trials: int) -> list[Trial]:
        """Emit up to max_trials new pending trials, each recorded in
        flight; [] when the trial budget is spent or the next trial
        waits on one in flight."""
        if self.pruner is not None:
            batch = self._next_batch_pruned(max_trials)
        else:
            batch = self._next_batch(max_trials)
        for t in batch:
            self._record(t)
        return batch

    def _next_batch(self, max_trials: int) -> list[Trial]:
        """Single-fidelity batch emission (no pruner attached).

        Engine controllers override this. Deliberately NOT
        @abstractmethod: a custom optimizer written against the
        reference's subclassing contract (no-arg initialize +
        get_suggestion) must stay instantiable — get_controller wraps
        such instances in ReferenceOptimizerAdapter, which drives
        get_suggestion and never reaches this base body."""
        raise NotImplementedError(
            f"{type(self).__name__} implements neither the engine contract "
            "(_next_batch) nor the reference contract (get_suggestion)"
        )

    def _suggest_one(self) -> tuple[dict, str] | None:
        """One (params, sample_type) suggestion for a pruner-allocated
        slot; None when the searchspace is exhausted. Only optimizers
        implementing this compose with a pruner."""
        raise ValueError(
            f"{type(self).__name__} does not support a pruner "
            "(only RandomSearch/GP/TPE can fill SH rung-0 slots)"
        )

    def _next_batch_pruned(self, max_trials: int) -> list[Trial]:
        """Pruner-driven emission: `pruning_routine()` before every
        trial decides new-sample vs promotion vs wait
        (`bayes/base.py:186-211`)."""
        out: list[Trial] = []
        while len(out) < max_trials:
            nxt = self.pruner.pruning_routine()
            if nxt is None or nxt == "IDLE":
                break
            budget, src_id = int(nxt["budget"]), nxt.get("trial_id")
            if src_id:
                params, stype = dict(self._pruned_params[src_id]), "promoted"
            else:
                # a slot already allocated in the rung ledger is filled
                # with an unconditional random rather than stalling
                params, stype = self._suggest_one() or (self._random_params(), "random_forced")
            t = Trial(
                {**params, "budget": budget},
                info_dict={"sample_type": stype, "budget": budget},
            )
            if src_id:
                t.info_dict["original_trial_id"] = src_id
            # two SH iterations may run identical params at the same
            # budget: _record salts the second id
            self._record(t)
            self._pruned_params[t.trial_id] = dict(params)
            self.pruner.report_trial(original_trial_id=src_id, new_trial_id=t.trial_id)
            out.append(t)
        return out

    # -- the trial ledger ----------------------------------------------

    def _record(self, trial: Trial) -> Trial:
        """An emitted trial: in flight until it settles, and seen by the
        dedup guard. Paths that make several trials per batch record
        each as it is made, so the next suggestion sees it; `next_batch`
        records every trial again, a no-op for one already recorded.

        The run's one trial-id rule: an id already emitted this run is
        salted with `rerun` until it is new, so result routing and the
        ledger never conflate two trials (the reference keeps per-rung
        trial copies). Params outside the searchspace put the reason in
        `info_dict["error"]`, and `_drive` settles the trial as an ERROR
        row without running it."""
        if self.trial_store.get(trial.trial_id) is trial:
            return trial
        salt = 0
        while trial.trial_id in self._trial_ids:
            salt += 1
            trial.trial_id = trial_id_for_params({**trial.params, "rerun": salt})
        if self.searchspace is not None:
            reason = self.searchspace.outside(trial.params)
            if reason is not None:
                trial.info_dict["error"] = reason
        self._trial_ids.add(trial.trial_id)
        self.trial_store[trial.trial_id] = trial
        self._seen_params.add(self._params_key(trial.params))
        return trial

    @property
    def _n_emitted(self) -> int:
        """Trials emitted this run: in flight, finalized or errored."""
        return len(self.trial_store) + len(self.final_store) + len(self.error_store)

    def finalize_trial(self, trial: Trial) -> None:
        self.trial_store.pop(trial.trial_id, None)
        self.final_store.append(trial)

    def report_error(self, trial: Trial) -> None:
        """An emitted trial failed (ERROR row): it will never finalize.
        It still counts toward num_trials and is not replaced; the
        pruner scores it +inf (`_pruner_metrics`)."""
        self.trial_store.pop(trial.trial_id, None)
        self.error_store.append(trial)

    def end_experiment(self) -> None:
        """Hook: runs once per run, after its last trial settled."""

    # -- random draws and the dedup guard (G1, G12) --------------------

    def _random_params(self) -> dict:
        """One uniform config from the run's draw stream: every random
        draw a controller makes comes through here."""
        return self.searchspace.get_random_parameter_values(1, seed=self._sampler.getrandbits(64))[0]

    def _draw_unseen(self, n: int = 1) -> list[dict]:
        """Up to n random configs never seen before, each marked seen.
        Makes at most n * (MAX_DEDUP_RETRIES + 1) draws in total, so a
        space with fewer than n unseen configs yields fewer."""
        out: list[dict] = []
        for _ in range(n * (MAX_DEDUP_RETRIES + 1)):
            if len(out) == n:
                break
            params = self._random_params()
            if not self.hparams_exist(params):
                self._seen_params.add(self._params_key(params))
                out.append(params)
        return out

    def _params_key(self, params: dict) -> str:
        clean = {k: v for k, v in params.items() if k != "budget" and not callable(v)}
        return json.dumps(clean, sort_keys=True, default=str)

    def hparams_exist(self, params) -> bool:
        """Duplicate-config guard; accepts a params dict (engine) or a
        Trial (reference `abstractoptimizer.py:254-295`)."""
        if isinstance(params, Trial):
            params = params.params
        return self._params_key(params) in self._seen_params

    # -- sign normalization (A2) ---------------------------------------

    def metric_for_min(self, value: float) -> float:
        """Normalize to a minimization problem (abstractoptimizer.py:186-213)."""
        return -value if self.direction == "max" else value

    # -- reference helper surface (`abstractoptimizer.py:81-444`) -------
    #
    # The helpers reference custom optimizers call from get_suggestion:
    # finalized-trial views (hparams/metrics as dicts/arrays), the
    # y-statistics in min-space, trial construction, and pruner setup.
    # All read engine state (final_store / direction / searchspace)
    # directly — no duplicated bookkeeping.

    def name(self) -> str:
        """(reference `abstractoptimizer.py:81-82`)"""
        return str(type(self).__name__)

    def get_hparams_dict(self, trial_ids="all") -> dict:
        """{trial_id: params} over finalized trials
        (`abstractoptimizer.py:136-157`)."""
        include = lambda x: trial_ids == "all" or x == trial_ids or x in trial_ids  # noqa: E731
        return {t.trial_id: t.params for t in self.final_store if include(t.trial_id)}

    def get_hparams_array(self, budget: int = 0):
        """Finalized hparams as an array in final_store order,
        optionally filtered by budget (`abstractoptimizer.py:158-185`)."""
        import numpy as np

        return np.array(
            [
                Searchspace.dict_to_list(t.params)
                for t in self.final_store
                if not budget or t.params.get("budget") == budget
            ]
        )

    def get_metrics_dict(self, trial_ids="all") -> dict:
        """{trial_id: final_metric} in min-space — `max` problems are
        negated (`abstractoptimizer.py:186-214`)."""
        include = lambda x: trial_ids == "all" or x == trial_ids or x in trial_ids  # noqa: E731
        return {
            t.trial_id: self.metric_for_min(t.final_metric)
            for t in self.final_store
            if include(t.trial_id)
        }

    def get_metrics_array(self, budget: int = 0, interim_metrics: bool = False):
        """Final metrics (or metric histories) in final_store order,
        min-space (`abstractoptimizer.py:215-253`)."""
        import numpy as np

        metrics = []
        for t in self.final_store:
            if not budget or t.params.get("budget") == budget:
                metrics.append(np.array(t.metric_history) if interim_metrics else t.final_metric)
        if interim_metrics and len({len(m) for m in metrics}) > 1:
            # ragged histories (early-stopped trials): numpy >= 1.24
            # refuses implicit object promotion, so request it — the
            # reference documents exactly this ragged-array shape
            arr = np.empty(len(metrics), dtype=object)
            for i, m in enumerate(metrics):
                arr[i] = m
        else:
            arr = np.array(metrics)
        return -arr if self.direction == "max" else arr

    def ybest(self, budget: int = 0) -> float:
        """Best (min-space) finalized metric (`abstractoptimizer.py:402-415`)."""
        import numpy as np

        return float(np.min(self.get_metrics_array(budget=budget)))

    def yworst(self, budget: int = 0) -> float:
        """Worst (min-space) finalized metric (`abstractoptimizer.py:416-429`)."""
        import numpy as np

        return float(np.max(self.get_metrics_array(budget=budget)))

    def ymean(self, budget: int = 0) -> float:
        """Mean (min-space) finalized metric (`abstractoptimizer.py:430-444`)."""
        import numpy as np

        return float(np.mean(self.get_metrics_array(budget=budget)))

    def get_max_budget(self) -> int:
        """Experiment max budget: from the pruner when attached, else
        the first finalized trial's history length
        (`abstractoptimizer.py:378-401`)."""
        if self.pruner is not None:
            return self.pruner.max_budget
        if not self.final_store:
            raise ValueError("At least one finalized Trial is necessary to calculate max budget")
        return len(self.final_store[0].metric_history)

    def init_pruner(self, pruner, pruner_kwargs: dict | None = None):
        """Declare a pruner (reference `abstractoptimizer.py:297-316`);
        the rung ledger itself is (re)built at initialize() so a
        controller instance can be reused across experiments."""
        if pruner not in ("hyperband",):
            raise ValueError(f"expected pruner to be in ['hyperband'], got {pruner}")
        self._pruner_spec = pruner
        self._pruner_kwargs = dict(pruner_kwargs or {})
        return self._pruner_spec

    def create_trial(self, hparams: dict, sample_type: str, run_budget: int = 0, model_budget=None) -> Trial:
        """Construct a Trial with the reference's sample-type
        vocabulary and budget handling (`abstractoptimizer.py:317-377`)."""
        allowed = ["random", "random_forced", "model", "promoted", "grid"]
        if sample_type not in allowed:
            raise ValueError(f"expected sample_type to be in {allowed}, got {sample_type}")
        if sample_type == "model" and model_budget is None:
            raise ValueError("expected `model_budget` because sample_type==`model`, got None")
        sampling_time = time.time() - self.sampling_time_start if self.sampling_time_start else 0.0
        self.sampling_time_start = 0.0
        info = {"run_budget": run_budget, "sample_type": sample_type, "sampling_time": sampling_time}
        if model_budget is not None:
            info["model_budget"] = model_budget
        if run_budget > 0:
            hparams = {**hparams, "budget": run_budget}
        return Trial(hparams, trial_type="optimization", info_dict=info)


class RandomSearch(AbstractOptimizer):
    def _initialize(self) -> None:
        if not any(t in (DOUBLE, INTEGER) for t in self.searchspace.names().values()):
            raise ValueError(
                "RandomSearch requires at least one continuous (DOUBLE/INTEGER) "
                "hyperparameter (reference randomsearch.py:30-36)"
            )
        self._buffer = [Trial(p, info_dict={"sample_type": "random"}) for p in self._draw_unseen(self.num_trials)]

    def _next_batch(self, max_trials: int) -> list[Trial]:
        out, self._buffer = self._buffer[:max_trials], self._buffer[max_trials:]
        return out

    def _suggest_one(self) -> tuple[dict, str] | None:
        """Pruner slot fill: drain the pre-buffered configs, then keep
        drawing fresh randoms (the pruner's rung-0 demand can exceed
        the original buffer when iterations shrink rungs)."""
        if self._buffer:
            return dict(self._buffer.pop(0).params), "random"
        drawn = self._draw_unseen()
        return (drawn[0], "random") if drawn else None


class GridSearch(AbstractOptimizer):
    def _initialize(self) -> None:
        bad = [n for n, t in self.searchspace.names().items() if t in (DOUBLE, INTEGER)]
        if bad:
            raise ValueError(
                f"GridSearch supports only DISCRETE/CATEGORICAL hparams; got "
                f"continuous {bad} (reference gridsearch.py:83-93)"
            )
        names = list(self.searchspace.keys())
        domains = [self.searchspace.get(n) for n in names]
        self._buffer = [
            Trial(dict(zip(names, combo)), info_dict={"sample_type": "grid"}) for combo in itertools.product(*domains)
        ]
        self.num_trials = len(self._buffer)

    def _next_batch(self, max_trials: int) -> list[Trial]:
        out, self._buffer = self._buffer[:max_trials], self._buffer[max_trials:]
        return out


class SingleRun(AbstractOptimizer):
    def _next_batch(self, max_trials: int) -> list[Trial]:
        runs = range(self._n_emitted, min(self._n_emitted + max_trials, self.num_trials))
        return [Trial({"run": i}, info_dict={"sample_type": "random"}) for i in runs]


class Asha(AbstractOptimizer):
    """Asynchronous successive halving (reference `optimizer/asha.py`).

    budget lives as an explicit attr in info_dict (the reference
    smuggles it into params and flags that as tech debt,
    `abstractoptimizer.py:168,275`).
    """

    def __init__(self, reduction_factor: int = 2, resource_min: int = 1, resource_max: int = 4):
        super().__init__()
        if reduction_factor < 2:
            raise ValueError("reduction_factor must be >= 2 (asha.py guard)")
        if not 0 < resource_min <= resource_max:
            raise ValueError(
                f"need 0 < resource_min <= resource_max, got {resource_min}, {resource_max}"
            )
        self.eta = reduction_factor
        self.resource_min = resource_min
        self.resource_max = resource_max
        # max rung: largest k with min*eta^k <= max  (asha.py:78-83)
        self.max_rung = exact_smax(resource_min, resource_max, reduction_factor)

    def _initialize(self) -> None:
        # reset per-run state (instances may be reused across lagom calls)
        self._promoted: dict[int, set[str]] = {r: set() for r in range(self.max_rung + 1)}
        self._emitted_rung0 = 0

    def budget_for_rung(self, rung: int) -> int:
        return self.resource_min * self.eta**rung

    def _rung_of(self, trial: Trial) -> int:
        return int(trial.info_dict.get("rung", 0))

    def _promotable(self, rung: int) -> list[Trial]:
        """Top floor(n_finished/eta) of a rung not yet promoted
        (asha.py:100-147,161-169); direction-aware sort."""
        fin = [t for t in self.final_store if self._rung_of(t) == rung and t.final_metric is not None]
        k = len(fin) // self.eta - len(self._promoted[rung])
        if k <= 0:
            return []
        fin.sort(key=lambda t: min_rank_key(self.metric_for_min(t.final_metric)))
        top = [t for t in fin if t.trial_id not in self._promoted[rung]][: k]
        return top

    def _next_batch(self, max_trials: int) -> list[Trial]:
        out: list[Trial] = []
        # promotions first, highest rung first (asha.py:96-121)
        for rung in range(self.max_rung - 1, -1, -1):
            for src in self._promotable(rung):
                if len(out) >= max_trials:
                    return out
                params = {k: v for k, v in src.params.items()}
                t = Trial(params, info_dict={
                    "sample_type": "promoted",
                    "rung": rung + 1,
                    "budget": self.budget_for_rung(rung + 1),
                    "original_trial_id": src.trial_id,
                })
                # promoted trials share params with their source; id must
                # differ by rung — disambiguate like the reference's
                # per-rung trial copies (hyperband.py:458-465)
                t.trial_id = Trial({**params, "budget": self.budget_for_rung(rung + 1)}).trial_id
                self._promoted[rung].add(src.trial_id)
                out.append(t)
        # fill with rung-0 randoms (asha.py:149-156); _emitted_rung0
        # counts only trials actually emitted (a dedup skip must not
        # use up the rung-0 budget)
        slots = min(max_trials - len(out), self.num_trials - self._emitted_rung0)
        for params in self._draw_unseen(slots):
            out.append(Trial(params, info_dict={
                "sample_type": "random",
                "rung": 0,
                "budget": self.budget_for_rung(0),
            }))
            self._emitted_rung0 += 1
        return out


class Pbt(AbstractOptimizer):
    """Population Based Training (Jaderberg et al. 2017,
    arXiv:1711.09846) as a wave-scheduler controller — the runtime
    counterpart of the g14_pbt_schedule relation (the r13 VERDICT's
    "PBT as a controller, not just a relation").

    Generation-synchronous: a fixed ``population`` of configs runs
    per generation; when a generation fully settles, the bottom
    quartile EXPLOITS the top quartile (loser of rank i adopts donor
    of rank i's params, ranks tie-broken on trial_id — exactly
    g14's pairing) and EXPLORES by multiplying every continuous
    (DOUBLE) param by 1.2 or 0.8 on the deterministic md5 coin
    ``hash_uniform('pbt', loser_id) < 0.5`` — the same 52-bit
    arithmetic g14 pins cross-engine, so the controller's generation
    step is verifiable against the relation (test_pbt_step_equals_
    g14_arithmetic). Survivors carry their params into the next
    generation unchanged (the training-continues arm; each
    generation is a fresh trial at budget=generation here, the same
    budget-as-generation encoding the g14 fixture uses).

    No clamping: the perturbation is the paper's multiplicative walk
    verbatim (and g14's exact arithmetic) — bound-sensitive
    objectives should guard in the train fn.

    ``num_trials`` on the config is the TOTAL trial budget:
    generations = max(num_trials // population, 1), so
    ``num_trials=16, population=4`` runs 4 generations of 4. Waits
    (returns []) while a generation is in flight — same contract as
    Asha's promotion gates. Errored trials never finalize and are
    excluded from ranking, so the next generation shrinks and the run
    ends short of ``num_trials``; a generation that settles with zero
    finalized trials falls back to fresh random draws.
    """

    def __init__(self, population: int = 4) -> None:
        super().__init__()
        if population < 2:
            raise ValueError(f"population must be >= 2, got {population}")
        self.population = population

    def _initialize(self) -> None:
        self.generations = max(self.num_trials // self.population, 1)
        self.num_trials = self.generations * self.population
        self._gen = 0
        self._buffer = [self._make_trial(p, 0, "random") for p in self._draw_unseen(self.population)]
        # errored trials shrink a generation's settle target — gate on
        # what was actually EMITTED, not the nominal population, or an
        # error-bearing generation waits forever
        self._gen_emitted = len(self._buffer)

    # -- generation plumbing -------------------------------------------

    def _make_trial(self, params: dict, generation: int, sample_type: str, donor_id: str | None = None) -> Trial:
        info = {"sample_type": sample_type, "generation": generation, "budget": generation}
        if donor_id is not None:
            info["donor_trial_id"] = donor_id
        t = Trial(dict(params), info_dict=info)
        # same params may legitimately recur across generations (the
        # survivor arm); disambiguate the id by generation, the Asha
        # budget-injection pattern
        t.trial_id = Trial({**params, "generation": generation}).trial_id
        return t

    @staticmethod
    def pbt_coin(loser_id: str) -> float:
        """Python replica of hash_uniform('pbt', loser_id): top 52
        md5 bits / 2^52 — bit-identical to g14's Spark/DuckDB coin."""
        import hashlib

        h = hashlib.md5(f"pbt:{loser_id}".encode()).hexdigest()
        return int(h[:13], 16) / 4503599627370496.0

    def _evolve(self, finalized: list[Trial], generation: int) -> list[Trial]:
        """One g14 step: rank, pair bottom-q losers with top-q donors,
        perturb DOUBLE params by the coin factor; survivors carry."""
        valid = [t for t in finalized if t.final_metric is not None]
        if not valid:
            return [self._make_trial(p, generation, "random") for p in self._draw_unseen(self.population)]
        # g14's two windows verbatim: rk_best orders metric best-first,
        # rk_worst worst-first, BOTH tie-breaking on trial_id ASC
        ranked = sorted(
            valid, key=lambda t: (self.metric_for_min(t.final_metric), t.trial_id)
        )
        worst_first = sorted(
            valid, key=lambda t: (-self.metric_for_min(t.final_metric), t.trial_id)
        )
        q = max(len(valid) // 4, 1)
        donors = ranked[:q]
        losers = worst_first[:q]  # pair_rank 1 = worst
        double_names = [n for n, ty in self.searchspace.names().items() if ty == DOUBLE]
        out = []
        replaced = {t.trial_id for t in losers}
        for loser, donor in zip(losers, donors):  # pair_rank i: worst-i adopts best-i
            factor = 1.2 if self.pbt_coin(loser.trial_id) < 0.5 else 0.8
            params = dict(donor.params)
            for n in double_names:
                params[n] = float(params[n]) * factor
            out.append(self._make_trial(params, generation, "model", donor_id=donor.trial_id))
        for t in ranked:
            if t.trial_id not in replaced:
                out.append(self._make_trial(dict(t.params), generation, "promoted"))
        return out

    def _next_batch(self, max_trials: int) -> list[Trial]:
        if not self._buffer and self._gen + 1 < self.generations:
            settled = self.final_store + self.error_store
            if sum(t.info_dict.get("generation") == self._gen for t in settled) >= self._gen_emitted:
                finalized = [
                    t for t in self.final_store
                    if t.info_dict.get("generation") == self._gen
                ]
                self._gen += 1
                self._buffer = self._evolve(finalized, self._gen)
                self._gen_emitted = len(self._buffer)
        out, self._buffer = self._buffer[:max_trials], self._buffer[max_trials:]
        return out


CONTROLLERS = {
    "randomsearch": RandomSearch,
    "gridsearch": GridSearch,
    "none": SingleRun,
    "asha": Asha,
    "pbt": Pbt,
}


class ReferenceOptimizerAdapter(AbstractOptimizer):
    """Drives a reference-protocol custom optimizer — an object
    implementing the reference's subclassing contract
    (`abstractoptimizer.py:54-80`): no-arg ``initialize()``,
    ``get_suggestion(trial=None) -> Trial | None``, and
    ``finalize_experiment(trials)`` — inside the engine's batch loop.

    The reference driver hands each finished trial to the next
    `get_suggestion` call (`optimization_driver.py:341-370`); here
    finished trials queue up during a wave and drain one per
    suggestion. The wrapped optimizer's `trial_store`, `final_store`
    and `_seen_params` are the adapter's own ledger (the same objects),
    so its helper calls and its `hparams_exist` see every emitted trial
    without copying. At most `num_trials` trials are emitted, and
    `finalize_experiment` runs from `end_experiment`, once, after the
    last trial settled."""

    def __init__(self, wrapped) -> None:
        super().__init__()
        for required in ("initialize", "get_suggestion", "finalize_experiment"):
            if not callable(getattr(wrapped, required, None)):
                raise TypeError(
                    f"custom optimizer {type(wrapped).__name__} lacks the reference "
                    f"protocol method {required}()"
                )
        self.wrapped = wrapped

    def initialize(self, searchspace, num_trials, direction, seed, pruner=None, pruner_kwargs=None) -> None:
        super().initialize(searchspace, num_trials, direction, seed, pruner, pruner_kwargs)
        w = self.wrapped
        w.searchspace = searchspace
        w.num_trials = num_trials
        w.direction = direction
        # aliases, not copies
        w.trial_store, w.final_store, w._seen_params = self.trial_store, self.final_store, self._seen_params
        self._finished_queue: list[Trial] = []
        self._exhausted = False
        w.initialize()

    def _next_batch(self, max_trials: int) -> list[Trial]:
        out: list[Trial] = []
        while len(out) < max_trials and not self._exhausted and self._n_emitted < self.num_trials:
            last = self._finished_queue.pop(0) if self._finished_queue else None
            self.wrapped.sampling_time_start = time.time()
            t = self.wrapped.get_suggestion(last)
            if t is None:
                self._exhausted = True
                break
            if isinstance(t, str):
                # "IDLE": a pruner-managed optimizer has no startable
                # slot right now (reference randomsearch.py:26-35).
                # Keep draining queued finishers — the optimizer may
                # unblock once it has seen all of them (e.g. a rung
                # promotion needs every report); only stop filling the
                # wave when there is nothing left to feed it
                if self._finished_queue:
                    continue
                break
            out.append(self._record(t))
        return out

    def finalize_trial(self, trial: Trial) -> None:
        super().finalize_trial(trial)
        self._finished_queue.append(trial)

    def end_experiment(self) -> None:
        self.wrapped.finalize_experiment(self.final_store)


def _is_reference_protocol(spec) -> bool:
    """True when `spec` implements the reference custom-optimizer
    contract rather than the engine's batch contract: its
    ``initialize`` takes no arguments beyond self (the reference's
    abstract hook), and it exposes ``get_suggestion``."""
    import inspect

    if not callable(getattr(spec, "get_suggestion", None)):
        return False
    try:
        # getattr on the INSTANCE, not type(spec): passing a class as
        # spec makes type(spec) the metaclass, where .initialize raises
        # a raw AttributeError instead of the clean ValueError below
        init = inspect.unwrap(getattr(spec, "initialize"))
        params = [
            p
            for p in inspect.signature(init).parameters.values()
            if p.name != "self" and p.kind not in (p.VAR_POSITIONAL, p.VAR_KEYWORD)
        ]
    except (TypeError, ValueError, AttributeError):
        return False
    return all(p.default is not p.empty for p in params)


def get_controller(spec, **kwargs) -> AbstractOptimizer:
    """Resolve a controller name or instance (reference
    `optimization_driver.py:612-655` controller_dict). A custom
    optimizer written against the reference's AbstractOptimizer
    contract is wrapped in ReferenceOptimizerAdapter."""
    import inspect as _inspect

    if _inspect.isclass(spec):
        # a natural mistake (the protocol methods are visible on the
        # class too); without this the class would fall through to the
        # name lookup or wrap un-instantiated
        raise TypeError(
            f"optimizer should be an INSTANCE of {spec.__name__}, not the class — "
            f"pass {spec.__name__}() instead"
        )
    if isinstance(spec, AbstractOptimizer):
        if type(spec).initialize is not AbstractOptimizer.initialize and _is_reference_protocol(spec):
            return ReferenceOptimizerAdapter(spec)
        return spec
    if not isinstance(spec, str) and _is_reference_protocol(spec):
        return ReferenceOptimizerAdapter(spec)
    name = str(spec).lower()
    if name in ("gp", "tpe"):
        from maggy_spark.bayes import GP, TPE

        return GP(**kwargs) if name == "gp" else TPE(**kwargs)
    if name == "hyperband":
        # Hyperband is a pruner (reference pruner/hyperband.py): the
        # name is RandomSearch with it attached, as config.pruner builds
        return RandomSearch(pruner="hyperband", pruner_kwargs=kwargs)
    if name not in CONTROLLERS:
        raise ValueError(
            f"unknown optimizer {spec!r}; expected one of "
            f"{sorted(CONTROLLERS) + ['gp', 'tpe', 'hyperband']}"
        )
    return CONTROLLERS[name](**kwargs)
