"""The benchmark's workloads: inputs made from the seed, the timed calls,
and the checks on their outputs.

Every workload optimizes the same synthetic objective over a mixed
DOUBLE/INTEGER/CATEGORICAL space. The seed moves the optimum and the
sampling seed, so no change can tune itself to one trial order. A trial
reports a learning curve that ends exactly on the objective, so the
best result can be recomputed from its config.
"""

from __future__ import annotations

import math
import random
import shutil
from pathlib import Path

from maggy_spark.config import HyperparameterOptConfig
from maggy_spark.experiment import lagom
from maggy_spark.searchspace import Searchspace
from maggy_spark.store import ExperimentStore

# seeds are spaced so two benchmark seeds never share sampler draws
# (RandomSearch seeds draw i with seed + i)
SEED_STRIDE = 100_003
CATEGORIES = ["adam", "sgd", "rmsprop"]


def searchspace() -> Searchspace:
    return Searchspace(
        lr=("DOUBLE", [0.0, 1.0]),
        layers=("INTEGER", [1, 12]),
        opt=("CATEGORICAL", CATEGORIES),
    )


def optimum(seed: int) -> tuple[float, int, str]:
    rng = random.Random(seed)
    return 0.15 + 0.7 * rng.random(), rng.randint(2, 11), rng.choice(CATEGORIES)


def objective(lr, layers, opt, best) -> float:
    d = float(lr) - best[0]
    k = int(layers) - best[1]
    return 1.0 - d * d - 0.01 * k * k - (0.0 if opt == best[2] else 0.05)


def curve(final: float, step: int, steps: int) -> float:
    """The metric a trial reports at `step` of `steps`; the last step
    reports `final` exactly."""
    gap = 1.0 - (step + 1) / steps
    return final - 0.5 * gap * gap


def make_train(best, steps_per_budget: int, burn_iters: int, fixed_steps: int = 0):
    """A train function over the objective. It reports `fixed_steps`
    steps, or `budget * steps_per_budget` when `fixed_steps` is 0, and
    burns `burn_iters` rounds of single-threaded numpy per step
    (about 0.18 ms each on a 2020s x86 core)."""

    def train(lr, layers, opt, reporter, budget=0):
        import numpy as np

        final = objective(lr, layers, opt, best)
        steps = fixed_steps or max(1, int(budget)) * steps_per_budget
        a = np.full((96, 96), 0.5)
        for s in range(steps):
            for _ in range(burn_iters):
                a = np.tanh(a @ a) * 0.01
            reporter.broadcast(curve(final, s, steps), s)
        return final

    return train


def _close(a, b) -> bool:
    return a is not None and b is not None and math.isclose(a, b, rel_tol=1e-12, abs_tol=1e-12)


class Workload:
    """One benchmark workload; `run` is its timed unit."""

    name = ""
    trials_per_unit = 0  # settled trials one timed unit produces (at least)
    min_units = 2  # timed units per run, at the least

    def __init__(self, spark, seed: int, parallelism: int, work_dir: Path):
        self.spark = spark
        self.seed = seed
        self.parallelism = parallelism
        self.work_dir = work_dir
        self.best = optimum(seed)

    def inputs(self) -> dict:
        return {
            "seed": self.seed,
            "optimum": {"lr": round(self.best[0], 6), "layers": self.best[1], "opt": self.best[2]},
            "sampler_seed": self.seed * SEED_STRIDE,
            "trials_per_unit": self.trials_per_unit,
        }

    def config(self, warmup: bool) -> HyperparameterOptConfig:
        raise NotImplementedError

    def train_fn(self):
        raise NotImplementedError

    def run(self, warmup: bool = False, span=None) -> dict:
        """One unit: the timed calls. `span` (a Tracer.span factory)
        wraps lagom and the workload's own reads in the traced pass."""
        cfg = self.config(warmup)
        fn = self.train_fn()
        if span is None:
            return {"result": lagom(fn, cfg, spark=self.spark), "warmup": warmup}
        with span("experiment.lagom", root=True):
            return {"result": lagom(fn, cfg, spark=self.spark), "warmup": warmup}

    def check(self, out: dict, trials: list[dict]) -> list[str]:
        """Failed checks of one unit's outputs (empty when correct)."""
        res = out["result"]
        failed = []
        want = self.expected_trials(out)
        if res.get("num_trials") != want:
            failed.append(f"num_trials {res.get('num_trials')} != {want}")
        errors = sum(t["error"] is not None for t in trials)
        if errors or res.get("errors"):
            failed.append(f"{errors} ERROR trial rows")
        cfg = res.get("best_config") or {}
        try:
            f = objective(cfg["lr"], cfg["layers"], cfg["opt"], self.best)
        except KeyError:
            return failed + [f"best_config incomplete: {cfg}"]
        if not self.best_matches(res.get("best_val"), f):
            failed.append(f"best_val {res.get('best_val')} != objective {f} of best_config")
        return failed

    def expected_trials(self, out: dict) -> int:
        return self.config(out["warmup"]).num_trials

    def best_matches(self, best_val, f: float) -> bool:
        return _close(best_val, f)

    def steps_budgeted(self, trial: dict) -> int:
        """Steps the trial would report if it ran to completion."""
        return self.steps


class HpoShortTrials(Workload):
    """Near-zero trial compute under wave scheduling, so the run
    measures the engine's per-wave cost."""

    name = "hpo_short_trials"
    trials_per_unit = 24
    min_units = 3
    steps = 10

    def __init__(self, *args):
        super().__init__(*args)
        self.best_ids: set[str] = set()

    def config(self, warmup):
        return HyperparameterOptConfig(
            name="hpo_short_trials",
            num_trials=self.parallelism if warmup else self.trials_per_unit,
            optimizer="randomsearch",
            searchspace=searchspace(),
            direction="max",
            es_policy="none",
            seed=self.seed * SEED_STRIDE,
            parallelism=self.parallelism,
            scheduling="wave",
        )

    def train_fn(self):
        return make_train(self.best, steps_per_budget=1, burn_iters=10, fixed_steps=self.steps)

    def check(self, out, trials):
        failed = super().check(out, trials)
        best_id = out["result"].get("best_id")
        if not out.get("warmup"):
            # every unit of one seed runs the same trials
            self.best_ids.add(best_id)
            if len(self.best_ids) > 1:
                failed.append(f"best_id differs between units of one seed: {sorted(self.best_ids)}")
        return failed


class BoAsyncEarlyStop(Workload):
    """CPU-bound trials under async GP search with median early stop:
    per-trial jobs, the GP suggest path and the bar-file refresh."""

    name = "bo_async_earlystop"
    trials_per_unit = 20
    steps = 12

    def config(self, warmup):
        from maggy_spark.bayes import GP

        return HyperparameterOptConfig(
            name="bo_async_earlystop",
            num_trials=self.parallelism if warmup else self.trials_per_unit,
            optimizer=GP(acq_fun="EI", num_warmup_trials=8),
            searchspace=searchspace(),
            direction="max",
            es_policy="median",
            es_min=8,
            es_interval=1,
            seed=self.seed * SEED_STRIDE,
            parallelism=self.parallelism,
            scheduling="async",
        )

    def train_fn(self):
        return make_train(self.best, steps_per_budget=1, burn_iters=64, fixed_steps=self.steps)

    def best_matches(self, best_val, f):
        # an early-stopped best reports its curve value at the stop step
        return any(_close(best_val, curve(f, s, self.steps)) for s in range(self.steps))


class HyperbandLiveStore(Workload):
    """TPE under a Hyperband pruner, writing a live store per wave and
    the sinks at finalize, then reading the store back."""

    name = "hyperband_live_store"
    # one successive-halving bracket: 3 trials at budget 1, the best
    # promoted to budget 3, so each wave holds trials of one budget and
    # a trial's overhead does not include waiting on a longer neighbour
    hb = {"min_budget": 1, "max_budget": 3, "eta": 3, "n_iterations": 1}
    trials_per_unit = 4
    steps_per_budget = 8

    def config(self, warmup):
        # the warm-up is one wave without the pruner; it appends to the
        # live store, runs the sinks and reads the store back once
        return HyperparameterOptConfig(
            name="hyperband_live_store",
            num_trials=self.parallelism,
            optimizer="tpe",
            pruner=None if warmup else "hyperband",
            pruner_kwargs=None if warmup else dict(self.hb),
            searchspace=searchspace(),
            direction="max",
            es_policy="none",
            seed=self.seed * SEED_STRIDE,
            parallelism=self.parallelism,
            scheduling="wave",
            log_dir=str(self.work_dir / "experiments"),
            stream_artifacts=True,
        )

    def train_fn(self):
        return make_train(self.best, steps_per_budget=self.steps_per_budget, burn_iters=64)

    def run(self, warmup=False, span=None):
        out = super().run(warmup, span)
        out["store"] = ExperimentStore(self.spark, out["result"]["log_dir"] + "/live", direction="max")
        if span is None:
            out.update(self._read(out["store"]))
        else:
            with span("store.reads"):
                out.update(self._read(out["store"]))
        return out

    @staticmethod
    def _read(store) -> dict:
        return {
            "summary": store.result_summary(),
            "budget_stats": store.budget_stats().collect(),
            "promotable": store.promotable(3).collect(),
            "median_bar": store.median_bar(),
        }

    def rungs(self, warmup: bool) -> list[tuple[int, int]]:
        """(budget, trials) the unit runs; warm-up trials report one
        budget's worth of steps."""
        return [(1, self.parallelism)] if warmup else plan(**self.hb)

    def expected_trials(self, out):
        return sum(n for _b, n in self.rungs(out["warmup"]))

    def steps_budgeted(self, trial):
        return max(1, trial["budget"]) * self.steps_per_budget

    def check(self, out, trials):
        failed = super().check(out, trials)
        res, store, summary = out["result"], out["store"], out["summary"]
        for key in ("best_id", "best_val", "num_trials"):
            if summary.get(key) != res.get(key):
                failed.append(f"store {key} {summary.get(key)} != lagom {res.get(key)}")
        n_rows = store.trials().count()
        if n_rows != res.get("num_trials"):
            failed.append(f"store trial rows {n_rows} != num_trials {res.get('num_trials')}")
        want_steps = sum(b * n for b, n in self.rungs(out["warmup"])) * self.steps_per_budget
        m_rows = store.metrics().count()
        if m_rows != want_steps:
            failed.append(f"store metric rows {m_rows} != steps run {want_steps}")
        if not out["budget_stats"] or out["median_bar"] is None:
            failed.append("live store reads returned nothing")
        shutil.rmtree(res["log_dir"], ignore_errors=True)
        return failed


def plan(min_budget: int, max_budget: int, eta: int, n_iterations: int) -> list[tuple[int, int]]:
    """(budget, trials) per rung of a Hyperband plan, derived here
    independently of the pruner: rungs min*eta^j up to max_budget,
    iteration i starts s = R-1-(i mod R) promotions above the base."""
    budgets = [max_budget]
    while budgets[0] // eta >= min_budget:
        budgets.insert(0, budgets[0] // eta)
    r = len(budgets)
    out = []
    for i in range(n_iterations):
        s = r - 1 - (i % r)
        n0 = (r // (s + 1)) * eta**s
        for j in range(s + 1):
            out.append((budgets[r - 1 - s + j], max(n0 // eta**j, 1)))
    return out


WORKLOADS = {w.name: w for w in (HpoShortTrials, BoAsyncEarlyStop, HyperbandLiveStore)}
