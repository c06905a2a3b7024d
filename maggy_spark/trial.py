"""Trial: one hyperparameter configuration and its evaluation state.

Reference semantics (`maggy/trial.py:24-176`): a trial is identified
by the first 16 hex chars of md5 over the sorted-key JSON encoding of
its params (golden value: ``{"param1": 5, "param2": "ada"}`` ->
``"3d1cc9fdb1d4d001"``, asserted by the reference's own test
`maggy/tests/test_trial.py:24-32`). Metric history appends are
deduplicated by step, and null values are ignored
(`trial.py:93-108`).

In the rebuild a Trial is a plain row in the `trials` DataFrame
(SURVEY.md §1.1 / FIXTURES.md F2); this class is the driver-side
convenience object.
"""

from __future__ import annotations

import hashlib
import json
import time
from typing import Any

PENDING = "PENDING"
SCHEDULED = "SCHEDULED"
RUNNING = "RUNNING"
ERROR = "ERROR"
FINALIZED = "FINALIZED"

_ID_EXCLUDED_KEYS = ("dataset_function", "model_function", "ablated_feature", "ablated_layer")


def trial_id_for_params(params: dict[str, Any]) -> str:
    """16-char md5 prefix of the sorted-key JSON of params.

    Matches `substr(md5(to_json(sorted map)),1,16)` in SQL, so the
    same id is computable relationally (SURVEY.md §1.2).
    """
    hashable = {k: v for k, v in params.items() if k not in _ID_EXCLUDED_KEYS and not callable(v)}
    payload = json.dumps(hashable, sort_keys=True)
    return hashlib.md5(payload.encode("utf-8")).hexdigest()[:16]


class Trial:
    PENDING = PENDING
    SCHEDULED = SCHEDULED
    RUNNING = RUNNING
    ERROR = ERROR
    FINALIZED = FINALIZED

    def __init__(
        self,
        params: dict[str, Any],
        trial_type: str = "optimization",
        info_dict: dict | None = None,
    ) -> None:
        self.params = dict(params)
        self.trial_type = trial_type
        self.info_dict = dict(info_dict or {})
        if trial_type == "ablation" and (
            "ablated_feature" in self.params or "ablated_layer" in self.params
        ):
            # reference-shaped ablation trials (`trial.py:62-67`) hash
            # ONLY the ablated component labels — the dataset/model
            # callables in params must not (and cannot) contribute
            basis = {
                "ablated_feature": self.params.get("ablated_feature"),
                "ablated_layer": self.params.get("ablated_layer"),
            }
            payload = json.dumps(basis, sort_keys=True)
            self.trial_id = hashlib.md5(payload.encode("utf-8")).hexdigest()[:16]
        else:
            self.trial_id = trial_id_for_params(self.params)
        self.status = PENDING
        self.final_metric: float | None = None
        self.metric_history: list[float] = []
        self.step_history: list[int] = []
        self.early_stop = False
        self.start: float | None = None
        self.duration: float | None = None

    # -- metric stream (reference C2, trial.py:93-108) -------------------

    def append_metric(self, value: float | None, step: int | None = None) -> int | None:
        """Append (step, value) if step unseen and value non-null.

        Returns the step if appended, else None. Steps default to the
        next integer when omitted.
        """
        if value is None:
            return None
        if step is None:
            step = self.step_history[-1] + 1 if self.step_history else 0
        step = int(step)
        if step in self.step_history:
            return None
        self.metric_history.append(float(value))
        self.step_history.append(step)
        return step

    def start_run(self) -> None:
        self.status = RUNNING
        self.start = time.time()

    def finalize(self, final_metric: float | None) -> None:
        self.status = FINALIZED
        self.final_metric = None if final_metric is None else float(final_metric)
        if self.start is not None:
            self.duration = time.time() - self.start

    def to_row(self, seq: int, direction: str = "min", budget: int = 0) -> dict:
        """Flatten to the `trials` table schema (FIXTURES.md F2)."""
        return {
            "trial_id": self.trial_id,
            "seq": int(seq),
            "params": {k: _canonical_str(v) for k, v in self.params.items() if not callable(v)},
            "budget": int(budget),
            "sample_type": self.info_dict.get("sample_type", "random"),
            "status": self.status,
            "direction": direction,
            "final_metric": None if self.final_metric is None else float(self.final_metric),
            "early_stop": bool(self.early_stop),
            "duration_ms": int(self.duration * 1000) if self.duration is not None else None,
        }

    def json(self) -> str:
        return json.dumps(
            {
                "trial_id": self.trial_id,
                "params": {k: v for k, v in self.params.items() if not callable(v)},
                "status": self.status,
                "final_metric": self.final_metric,
                "metric_history": self.metric_history,
                "step_history": self.step_history,
                "early_stop": self.early_stop,
            },
            sort_keys=True,
        )

    # -- reference serialization shape (`maggy/trial.py:83-176`) ---------

    def get_early_stop(self) -> bool:
        """Early-stop flag accessor (reference `trial.py:83-86`)."""
        return self.early_stop

    def set_early_stop(self) -> None:
        """Latch the early-stop flag (reference `trial.py:88-91`)."""
        self.early_stop = True

    @property
    def metric_dict(self) -> dict[int, float]:
        """step -> value view of the metric history (reference keeps
        this as a parallel dict, `trial.py:93-108`; here it is derived
        so the two can never diverge)."""
        return dict(zip(self.step_history, self.metric_history))

    def to_dict(self) -> dict:
        """Reference-shaped state dict (`trial.py:141-150`): every
        field except the non-serializable lock/start bookkeeping,
        tagged with ``__class__`` for `from_json` round-trips."""
        return {
            "__class__": self.__class__.__name__,
            "trial_type": self.trial_type,
            "trial_id": self.trial_id,
            "params": {k: v for k, v in self.params.items() if not callable(v)},
            "status": self.status,
            "early_stop": self.early_stop,
            "final_metric": self.final_metric,
            "metric_history": list(self.metric_history),
            "step_history": list(self.step_history),
            "metric_dict": self.metric_dict,
            "duration": self.duration,
            "info_dict": dict(self.info_dict),
        }

    def to_json(self) -> str:
        """`json.dumps(to_dict())` (reference `trial.py:138-139`);
        numpy scalars/arrays coerced like the reference's encoder."""
        return json.dumps(self.to_dict(), default=_json_default)

    @classmethod
    def from_json(cls, payload: str) -> "Trial":
        """Rebuild from `json()` or the reference's `to_json()` shape
        (`trial.py:152-176`: a tagged payload must carry the Trial
        class marker)."""
        d = json.loads(payload)
        if "__class__" in d and d["__class__"] != cls.__name__:
            raise ValueError(f"payload is not a {cls.__name__} object")
        t = cls(d["params"], trial_type=d.get("trial_type", "optimization"),
                info_dict=d.get("info_dict"))
        if d.get("trial_id"):
            t.trial_id = d["trial_id"]
        t.status = d.get("status", PENDING)
        t.final_metric = d.get("final_metric")
        t.metric_history = list(d.get("metric_history", []))
        t.step_history = list(d.get("step_history", []))
        t.early_stop = bool(d.get("early_stop", False))
        t.duration = d.get("duration")
        return t

    def __repr__(self) -> str:
        return f"Trial({self.trial_id}, status={self.status}, params={self.params!r})"


def _json_default(obj):
    """Coerce numpy scalars/arrays to JSON (reference
    `util.py:97-107` json_default_numpy, used by Trial.to_json)."""
    try:
        import numpy as np
    except ImportError:  # pragma: no cover - numpy is baked in
        raise TypeError(f"Object of type {type(obj)} is not JSON serializable")
    if isinstance(obj, np.integer):
        return int(obj)
    if isinstance(obj, np.floating):
        return float(obj)
    if isinstance(obj, np.ndarray):
        return obj.tolist()
    raise TypeError(f"Object of type {type(obj)} is not JSON serializable")


def _canonical_str(v: Any) -> str:
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float) and v.is_integer():
        return str(int(v))
    return str(v)
