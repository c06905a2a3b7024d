"""Wave timing, spans and attribute patching, all from outside the program.

Nothing under ``maggy_spark/`` is edited: a layer is measured by
replacing the module or class attribute its caller looks up with a
timing wrapper, and restoring it afterwards. The wrapper goes where the
name is *looked up*, which is not always where it is defined:
``experiment.py`` binds ``run_trial_wave`` at import time, so that
wrapper sits on ``maggy_spark.experiment``; ``_persist_experiment``
imports the sink functions inside its body, so those wrappers sit on
``maggy_spark.sources.sinks`` and are picked up at call time.
"""

from __future__ import annotations

import functools
import importlib
import itertools
import json
import threading
import time
from contextlib import contextmanager

# (owner, attribute, span name). An owner is "module" or "module:Class".
TRACE_TARGETS = [
    ("maggy_spark.experiment", "run_trial_wave", "executor.run_trial_wave"),
    ("maggy_spark.executor", "_dumps_by_value", "executor.dumps_by_value"),
    ("maggy_spark.experiment", "_aggregate_result", "experiment.aggregate_result"),
    ("maggy_spark.experiment", "_publish_bar", "experiment.publish_bar"),
    ("maggy_spark.optimizers:AbstractOptimizer", "next_batch", "optimizers.next_batch"),
    ("maggy_spark.bayes:GP", "suggest_model_params", "bayes.suggest_model_params"),
    ("maggy_spark.bayes:TPE", "suggest_model_params", "bayes.suggest_model_params"),
    ("maggy_spark.pruner:HyperbandPruner", "pruning_routine", "pruner.pruning_routine"),
    ("maggy_spark.store:ExperimentStore", "append_trials", "store.append_trials"),
    ("maggy_spark.store:ExperimentStore", "append_metrics", "store.append_metrics"),
    ("maggy_spark.sources.sinks", "write_trial_artifacts", "sinks.write_trial_artifacts"),
    ("maggy_spark.sources.sinks", "write_experiment_result", "sinks.write_experiment_result"),
]


def _resolve(owner: str):
    module, _, cls = owner.partition(":")
    obj = importlib.import_module(module)
    return getattr(obj, cls) if cls else obj


class Patches:
    """Attribute replacements that can be undone in reverse order."""

    def __init__(self):
        self._saved: list[tuple[object, str, object]] = []

    def replace(self, owner: str, attr: str, make_wrapper) -> None:
        obj = _resolve(owner)
        original = obj.__dict__[attr] if isinstance(obj, type) else getattr(obj, attr)
        self._saved.append((obj, attr, original))
        setattr(obj, attr, make_wrapper(original))

    def restore(self) -> None:
        while self._saved:
            obj, attr, original = self._saved.pop()
            setattr(obj, attr, original)


class WaveLog:
    """The one wrapper the untraced run keeps: the wall time of every
    ``run_trial_wave`` call with the rows it returned. The async driver
    calls it from its thread pool, so appends take a lock."""

    def __init__(self):
        self.calls: list[dict] = []
        self._lock = threading.Lock()

    def wrap(self, run_trial_wave):
        @functools.wraps(run_trial_wave)
        def timed(spark, pending, *args, **kwargs):
            t0 = time.perf_counter()
            rows = run_trial_wave(spark, pending, *args, **kwargs)
            wall = time.perf_counter() - t0
            budgets = {p["trial_id"]: int(p.get("budget", 0)) for p in pending}
            call = {
                "wall_s": wall,
                "trials": [
                    {
                        "trial_id": r["trial_id"],
                        "duration_ms": int(r["duration_ms"] or 0),
                        "error": r["error"],
                        "early_stop": bool(r["early_stop"]),
                        "steps": len(r["step_history"] or []),
                        "budget": budgets.get(r["trial_id"], 0),
                    }
                    for r in rows
                ],
            }
            with self._lock:
                self.calls.append(call)
            return rows

        return timed

    def take(self) -> list[dict]:
        with self._lock:
            out, self.calls = self.calls, []
        return out


class Tracer:
    """In-memory spans: name, start, end, parent, shared run id.

    Parents follow a per-thread stack; a span opened on a thread with an
    empty stack (the async driver's pool threads) is parented to the
    current root span, the enclosing ``lagom`` call."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self.root: int | None = None
        self.unit: int | None = None
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, root: bool = False):
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {
            "run": self.run_id,
            "unit": self.unit,
            "id": next(self._ids),
            "name": name,
            "parent": stack[-1] if stack else self.root,
        }
        if root:
            self.root = rec["id"]
        stack.append(rec["id"])
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            if root:
                self.root = None
            with self._lock:
                self.spans.append(rec)

    def wrap(self, name: str):
        def make(fn):
            @functools.wraps(fn)
            def traced(*args, **kwargs):
                with self.span(name):
                    return fn(*args, **kwargs)

            return traced

        return make

    def install(self, patches: Patches) -> None:
        for owner, attr, name in TRACE_TARGETS:
            patches.replace(owner, attr, self.wrap(name))

    def unit_spans(self, unit: int) -> list[dict]:
        with self._lock:
            return [s for s in self.spans if s["unit"] == unit]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def union_s(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end) intervals."""
    total, cur_start, cur_end = 0.0, None, None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_time_s(span: dict, spans: list[dict]) -> float:
    """A span's duration minus the part its direct children cover."""
    kids = [
        (max(s["start"], span["start"]), min(s["end"], span["end"]))
        for s in spans
        if s["parent"] == span["id"]
    ]
    return (span["end"] - span["start"]) - union_s([k for k in kids if k[1] > k[0]])
