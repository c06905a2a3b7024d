"""Hyperband pruner: ladder geometry, optimizer composition, reuse.

Reference: `maggy/pruner/hyperband.py:114-218` (ladder + SH stepping),
`maggy/core/experiment_driver/optimization_driver.py:87-89` (a pruner
overrides num_trials), `maggy/optimizer/bayes/base.py:186-211`
(pruning_routine consulted before every suggestion).
"""

import pytest

from maggy_spark import Searchspace, lagom
from maggy_spark.bayes import GP
from maggy_spark.config import HyperparameterOptConfig
from maggy_spark.optimizers import GridSearch, RandomSearch
from maggy_spark.pruner import HyperbandPruner

SP = {"x": ("DOUBLE", [0.0, 1.0]), "y": ("INTEGER", [0, 10])}


# -- ladder geometry ----------------------------------------------------


def test_ladder_exact_powers():
    # regression: float-log + int() truncation dropped the min-budget
    # rung for exact powers (1/100/10 gave [10,100])
    p = HyperbandPruner(min_budget=1, max_budget=100, eta=10, n_iterations=1)
    assert p.n_budgets == 3
    assert p.budgets == [1, 10, 100]


@pytest.mark.parametrize(
    "lo,hi,eta,want",
    [
        (1, 9, 3, [1, 3, 9]),
        (1, 81, 3, [1, 3, 9, 27, 81]),
        (2, 50, 5, [2, 10, 50]),
        (1, 10, 4, [2, 10]),  # non-exact: ladder anchored at max_budget
        (3, 4, 2, [4]),       # degenerate: single rung
    ],
)
def test_ladder_geometry(lo, hi, eta, want):
    p = HyperbandPruner(min_budget=lo, max_budget=hi, eta=eta, n_iterations=1)
    assert p.budgets == want
    assert p.budgets[-1] == hi


def test_schedule_totals():
    # (1,9,3,2): iteration 0 = [9,3,1], iteration 1 = [3,1] -> 17 slots
    p = HyperbandPruner(1, 9, 3, 2)
    assert p.num_trials() == 17
    assert p.schedule_rows() == [
        (0, 0, 1, 9), (0, 1, 3, 3), (0, 2, 9, 1),
        (1, 1, 3, 3), (1, 2, 9, 1),
    ]


# -- controller composition (no Spark) ----------------------------------


def _drive(controller, num_trials=5, seed=7, direction="max"):
    """Synchronous controller loop: emit, score, finalize until done."""
    controller.initialize(Searchspace(**SP), num_trials, direction, seed)
    emitted = []
    for _ in range(500):
        if controller.done():
            break
        batch = controller.next_batch(4)
        if not batch:
            # the rung ledger steps lazily inside pruning_routine: an
            # empty batch right after the last finalize means "re-check
            # done()", which must now be True
            assert controller.done(), "controller stalled before done()"
            break
        for t in batch:
            x = t.params["x"]
            t.final_metric = -((x - 0.3) ** 2)
            controller.finalize_trial(t)
        emitted.extend(batch)
    assert controller.done()
    return emitted


@pytest.mark.parametrize("ctor", [RandomSearch, GP])
def test_pruner_drives_any_suggester(ctor):
    ctrl = ctor(pruner="hyperband", pruner_kwargs={"min_budget": 1, "max_budget": 9, "eta": 3, "n_iterations": 2})
    emitted = _drive(ctrl)
    assert len(emitted) == 17  # pruner overrides num_trials
    promoted = [t for t in emitted if t.info_dict.get("original_trial_id")]
    assert len(promoted) == 5  # 3+1 (iter 0) + 1 (iter 1)
    by_id = {t.trial_id: t for t in emitted}
    for t in promoted:
        src = by_id[t.info_dict["original_trial_id"]]
        same = {k: v for k, v in t.params.items() if k != "budget"}
        assert same == {k: v for k, v in src.params.items() if k != "budget"}
        assert t.params["budget"] > src.params["budget"]


def test_pruner_instance_reused_across_runs():
    # regression: an INSTANCE spec was consumed by the first run; the
    # second initialize() saw finished()==True and emitted 0 trials
    inst = HyperbandPruner(1, 9, 3, 2)
    ctrl = RandomSearch(pruner=inst)
    assert len(_drive(ctrl, seed=7)) == 17
    assert len(_drive(ctrl, seed=8)) == 17


def test_pruner_rejects_non_suggesters():
    with pytest.raises(ValueError, match="cannot drive a pruner"):
        _drive(GridSearch(pruner="hyperband"))


def test_unknown_pruner_name():
    with pytest.raises(ValueError, match="only 'hyperband'"):
        _drive(RandomSearch(pruner="sha-sub-sampling"))


# -- e2e through lagom ---------------------------------------------------


def hb_train_fn(x, y, budget, reporter):
    val = -((x - 0.3) ** 2) - ((y - 5) ** 2) / 100.0
    for step in range(int(budget)):
        reporter.broadcast(val * (step + 1) / budget, step)
    return val


@pytest.mark.parametrize("optimizer", ["randomsearch", "gp"])
def test_lagom_hyperband_composition_e2e(spark, optimizer):
    config = HyperparameterOptConfig(
        num_trials=3,  # overridden by the pruner
        optimizer=optimizer,
        searchspace=Searchspace(**SP),
        direction="max",
        es_policy="none",
        seed=42,
        pruner="hyperband",
        pruner_kwargs={"min_budget": 1, "max_budget": 9, "eta": 3, "n_iterations": 2},
    )
    res = lagom(hb_train_fn, config, spark)
    assert res["num_trials"] == 17
    assert res["best_val"] >= res["worst_val"]


def test_lagom_hyperband_large_ladder_under_fair_pool(spark):
    """The scale row beyond the minimal ladder (VERDICT r10 item 8):
    a 3-rung-deeper eta=3 ladder (min=1, max=27, n_iterations=1 ->
    27+9+3+1 = 40 rung-trials) driven through the async FAIR pool at
    parallelism 8. Pins (1) the exact ladder arithmetic at smax=3,
    (2) scheduler correctness at 2.4x the bench ladder's trial count
    (promotion ordering survives deeper rungs and wider waves), and
    (3) the <=2 s/trial budget the bench holds the 17-trial row to —
    asserted here with the same bound; the trial fn is near-noop so
    wall time IS driver machinery."""
    import time

    config = HyperparameterOptConfig(
        num_trials=3,  # overridden by the pruner's ladder
        optimizer="randomsearch",
        searchspace=Searchspace(**SP),
        direction="max",
        es_policy="none",
        seed=42,
        parallelism=8,
        scheduling="async",  # refill a slot as each trial settles, not per wave
        pruner="hyperband",
        pruner_kwargs={"min_budget": 1, "max_budget": 27, "eta": 3, "n_iterations": 1},
    )
    t0 = time.time()
    res = lagom(hb_train_fn, config, spark)
    wall = time.time() - t0
    assert res["num_trials"] == 40
    assert res["best_val"] >= res["worst_val"]
    assert wall / res["num_trials"] <= 2.0, f"{wall:.1f}s for 40 trials"


def test_exact_smax_keeps_top_rung_for_exact_powers():
    """Float-log ladder math drops the max-budget rung for exact
    powers (log(1000)/log(10) = 2.999...); every consumer shares the
    exact integer search."""
    from maggy_spark.hyperband import Hyperband
    from maggy_spark.optimizers import Asha, exact_smax

    assert exact_smax(1, 1000, 10) == 3
    assert exact_smax(1, 243, 3) == 5
    assert exact_smax(1, 9, 3) == 2
    hb = Hyperband(min_budget=1, max_budget=1000, eta=10, n_iterations=1)
    assert hb.budgets == [1, 10, 100, 1000]
    asha = Asha(resource_min=1, resource_max=243, reduction_factor=3)
    assert asha.max_rung == 5


def test_hyperband_promotion_skips_metricless_trials():
    """A trial finalized with final_metric=None (train_fn raised
    EarlyStopException without reporting) must not crash or win a
    promotion sort."""
    from maggy_spark.hyperband import Hyperband
    from maggy_spark.searchspace import Searchspace

    hb = Hyperband(min_budget=1, max_budget=9, eta=3, n_iterations=1)
    hb.initialize(
        searchspace=Searchspace(x=("DOUBLE", [0, 1])), num_trials=100, direction="max", seed=7
    )
    wave = hb.next_batch(16)
    assert wave
    for i, t in enumerate(wave):
        t.finalize(None if i == 0 else float(i))
        hb.finalize_trial(t)
    nxt = hb.next_batch(16)  # promotion sort must not TypeError
    promoted_src = {t.info_dict.get("original_trial_id") for t in nxt}
    assert wave[0].trial_id not in promoted_src
