"""Property-based invariants for the SHIteration ladder and the
reference-optimizer adapter (hypothesis): any metric assignment and
any ladder geometry must preserve slot accounting, promotion counts,
and best-config survival."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from maggy_spark.optimizers import get_controller
from maggy_spark.pruner import SHIteration
from maggy_spark.searchspace import Searchspace


@st.composite
def ladders(draw):
    eta = draw(st.integers(min_value=2, max_value=4))
    rungs = draw(st.integers(min_value=1, max_value=4))
    n_last = draw(st.integers(min_value=1, max_value=3))
    ns = [n_last * eta ** (rungs - 1 - j) for j in range(rungs)]
    budgets = [eta**j for j in range(rungs)]
    return ns, budgets


@settings(max_examples=60, deadline=None, derandomize=True)
@given(ladders(), st.randoms(use_true_random=False))
def test_sh_iteration_invariants(ladder, rnd):
    ns, budgets = ladder
    metrics: dict[str, float] = {}
    it = SHIteration(ns, budgets, trial_metric_getter=lambda ids: {
        t: metrics[t] for t in ids if t in metrics
    })
    counter = 0
    ran_per_rung = [0] * len(ns)
    while not it.finished():
        run = it.get_next_run()
        if run is None:
            # stalled: finish every bound-but-unfinished trial
            progressed = False
            for rung, cfgs in it.configs.items():
                for cfg in cfgs:
                    tid = cfg["actual_trial_id"]
                    if tid is not None and tid not in metrics:
                        metrics[tid] = rnd.random()
                        progressed = True
            assert progressed or it.finished(), "deadlock: no run, nothing to finish"
            continue
        rung = it.current_rung
        assert run["budget"] == budgets[rung]
        tid = f"t{counter}"
        counter += 1
        it.report_trial(run["trial_id"], tid)
        ran_per_rung[rung] += 1
        assert ran_per_rung[rung] <= ns[rung], "rung over-subscribed"
    # every rung ran exactly its planned config count
    assert ran_per_rung == ns
    assert it.state == SHIteration.FINISHED
    # the last rung's survivors are exactly n_last trials
    assert len(it.configs[len(ns) - 1]) == ns[-1]


@settings(max_examples=30, deadline=None, derandomize=True)
@given(st.lists(st.floats(min_value=0, max_value=100, allow_nan=False), min_size=1, max_size=12, unique=True))
def test_adapter_runs_every_value_exactly_once(values):
    from maggy_spark.optimizers import AbstractOptimizer

    class Seq(AbstractOptimizer):
        def __init__(self, vals):
            super().__init__()
            self.vals = list(vals)

        def initialize(self):
            self._i = 0

        def get_suggestion(self, trial=None):
            if self._i >= len(self.vals):
                return None
            t = self.create_trial({"x": self.vals[self._i]}, sample_type="random")
            self._i += 1
            return t

        def finalize_experiment(self, trials):
            self.done_trials = list(trials)

    ctrl = get_controller(Seq(values))
    ctrl.initialize(Searchspace(x=("DOUBLE", [0.0, 100.0])), len(values), "min", 0)
    seen = []
    while True:
        batch = ctrl.next_batch(3)
        if not batch:
            break
        for t in batch:
            seen.append(t.params["x"])
            t.finalize(float(t.params["x"]))
            ctrl.finalize_trial(t)
    assert seen == list(values)  # exactly once, emission order
    ctrl.end_experiment()
    assert len(ctrl.wrapped.done_trials) == len(values)


def test_sh_iteration_no_double_handout_before_report():
    """Two get_next_run() calls before report_trial must hand out TWO
    DIFFERENT promotions, and the iteration must still terminate."""
    from maggy_spark.pruner import SHIteration

    metrics: dict[str, float] = {}
    it = SHIteration([4, 2], [1, 2], trial_metric_getter=lambda ids: {
        t: metrics[t] for t in ids if t in metrics
    })
    for i in range(4):
        assert it.get_next_run() == {"trial_id": None, "budget": 1}
        it.report_trial(None, f"t{i}")
    metrics.update({"t0": 0.1, "t1": 0.2, "t2": 0.9, "t3": 0.8})
    r1 = it.get_next_run()
    r2 = it.get_next_run()  # BEFORE reporting r1
    assert {r1["trial_id"], r2["trial_id"]} == {"t0", "t1"}  # distinct slots
    assert it.get_next_run() is None  # rung fully handed out
    it.report_trial(r1["trial_id"], r1["trial_id"] + "b")
    it.report_trial(r2["trial_id"], r2["trial_id"] + "b")
    metrics.update({"t0b": 0.05, "t1b": 0.06})
    assert it.finished()
