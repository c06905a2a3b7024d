"""Searchspace: named hyperparameters with typed feasible regions.

Semantics match the reference (`maggy/searchspace.py:23-263`):
exactly four hyperparameter types (DOUBLE, INTEGER, DISCRETE,
CATEGORICAL), insertion-ordered, with validation on add; plus the
numeric transform layer (`searchspace.py:266-443`): min-max
normalization to [0,1] with clipping for DOUBLE/INTEGER, ordinal
encoding for CATEGORICAL, and the rounding inverse for INTEGER.

Implementation is pure Python (no Spark deps) so it can ship to
executors cheaply; `to_dataframe` exports the declaration as a small
Spark DataFrame for relational use (SURVEY.md §1.1).
"""

from __future__ import annotations

import json
import numbers
import random
from typing import Any

DOUBLE = "DOUBLE"
INTEGER = "INTEGER"
DISCRETE = "DISCRETE"
CATEGORICAL = "CATEGORICAL"

_TYPES = (DOUBLE, INTEGER, DISCRETE, CATEGORICAL)


class Searchspace:
    """Insertion-ordered mapping of hyperparameter name -> (type, region).

    >>> sp = Searchspace(dropout=("DOUBLE", [0.01, 0.99]),
    ...                  units=("DISCRETE", [16, 32, 64]))
    >>> sp.names()
    {'dropout': 'DOUBLE', 'units': 'DISCRETE'}
    """

    DOUBLE = DOUBLE
    INTEGER = INTEGER
    DISCRETE = DISCRETE
    CATEGORICAL = CATEGORICAL

    def __init__(self, **kwargs: tuple[str, list]) -> None:
        self._hparam_types: dict[str, str] = {}
        self._feasible_regions: dict[str, list] = {}
        for name, spec in kwargs.items():
            if not isinstance(spec, (tuple, list)) or len(spec) != 2:
                raise ValueError(
                    f"Hyperparameter {name}: expected (type, feasible_region) "
                    f"pair, got {spec!r}"
                )
            self.add(name, spec[0], spec[1])

    # -- declaration ---------------------------------------------------

    def add(self, name: str, hp_type, region: list | None = None) -> None:
        """Validate and register one hyperparameter.

        Two call shapes: the engine's ``add(name, type, region)`` and
        the reference's ``add(name, (type, region))``
        (`searchspace.py:71-80`). Validation mirrors reference
        `searchspace.py:71-150`: DOUBLE/INTEGER need a 2-element
        [lo, hi] with lo < hi (INTEGER bounds strictly int); DISCRETE
        needs numeric values; CATEGORICAL needs strings.
        """
        if region is None:
            if not isinstance(hp_type, (tuple, list)) or len(hp_type) != 2:
                raise ValueError(
                    f"Hyperparameter {name}: expected (type, feasible_region), got {hp_type!r}"
                )
            hp_type, region = hp_type
        if not isinstance(name, str) or not name:
            raise ValueError(f"Hyperparameter name must be a non-empty string: {name!r}")
        if name in self._hparam_types:
            raise ValueError(f"Hyperparameter {name} already defined")
        hp_type = str(hp_type).upper()
        if hp_type not in _TYPES:
            raise ValueError(f"Hyperparameter {name}: unknown type {hp_type!r}; expected one of {_TYPES}")
        if not isinstance(region, (list, tuple)):
            raise ValueError(f"Hyperparameter {name}: feasible region must be a list, got {region!r}")
        region = list(region)
        if hp_type in (DOUBLE, INTEGER):
            if len(region) != 2:
                raise ValueError(f"Hyperparameter {name}: {hp_type} region must be [lo, hi], got {region!r}")
            lo, hi = region
            if hp_type == DOUBLE:
                if not all(isinstance(v, (int, float)) and not isinstance(v, bool) for v in (lo, hi)):
                    raise ValueError(f"Hyperparameter {name}: DOUBLE bounds must be numeric, got {region!r}")
            else:
                if not all(isinstance(v, int) and not isinstance(v, bool) for v in (lo, hi)):
                    raise ValueError(f"Hyperparameter {name}: INTEGER bounds must be int, got {region!r}")
            if not lo < hi:
                raise ValueError(f"Hyperparameter {name}: lower bound must be < upper bound, got {region!r}")
        elif hp_type == DISCRETE:
            if not region:
                raise ValueError(f"Hyperparameter {name}: DISCRETE region must be non-empty")
            if not all(isinstance(v, (int, float)) and not isinstance(v, bool) for v in region):
                raise ValueError(f"Hyperparameter {name}: DISCRETE values must be numeric, got {region!r}")
        else:  # CATEGORICAL
            if not region:
                raise ValueError(f"Hyperparameter {name}: CATEGORICAL region must be non-empty")
            if not all(isinstance(v, str) for v in region):
                raise ValueError(f"Hyperparameter {name}: CATEGORICAL values must be strings, got {region!r}")
        self._hparam_types[name] = hp_type
        self._feasible_regions[name] = region

    def names(self) -> dict[str, str]:
        """name -> type, insertion-ordered."""
        return dict(self._hparam_types)

    def get(self, name: str, default=None):
        """Feasible region of `name`, or `default` when undeclared
        (reference `searchspace.py:173-178`)."""
        return self._feasible_regions.get(name, default)

    def keys(self):
        return list(self._hparam_types.keys())

    def items(self):
        """Yield hyperparameter views in insertion order. Each view
        unpacks as the engine's (name, type, region) triple AND
        supports the reference's dict-style access
        (`item["name"] / item["type"] / item["values"]`,
        `searchspace.py:210-237`)."""
        for name, t in self._hparam_types.items():
            yield _HparamView((name, t, self._feasible_regions[name]))

    def values(self):
        """[(type, region), ...] in insertion order (reference
        `searchspace.py:248-255`)."""
        return [(t, self._feasible_regions[n]) for n, t in self._hparam_types.items()]

    def to_dict(self) -> dict:
        """name -> (type, region) (reference `searchspace.py:152-162`)."""
        return {n: (t, self._feasible_regions[n]) for n, t in self._hparam_types.items()}

    def __iter__(self):
        return self.items()

    def __getattr__(self, name: str):
        # reference exposes each hparam's region as an attribute
        # (`setattr` in add, accessed as `sp.dropout`)
        regions = self.__dict__.get("_feasible_regions")
        if regions is not None and name in regions:
            return regions[name]
        raise AttributeError(name)

    def __len__(self) -> int:
        return len(self._hparam_types)

    def __contains__(self, name: str) -> bool:
        return name in self._hparam_types

    def __repr__(self) -> str:
        parts = ", ".join(
            f"{n}=({t}, {self._feasible_regions[n]!r})" for n, t in self._hparam_types.items()
        )
        return f"Searchspace({parts})"

    def json(self) -> str:
        return json.dumps(
            {n: [t, self._feasible_regions[n]] for n, t in self._hparam_types.items()}
        )

    @classmethod
    def from_json(cls, payload: str) -> "Searchspace":
        sp = cls()
        for name, (t, region) in json.loads(payload).items():
            sp.add(name, t, region)
        return sp

    # -- sampling (reference G1, searchspace.py:180-208) ----------------

    def get_random_parameter_values(self, num: int, seed: int | None = None) -> list[dict[str, Any]]:
        """Draw `num` uniform configurations; deterministic under seed.

        DOUBLE -> uniform(lo, hi); INTEGER -> randint(lo, hi) inclusive;
        DISCRETE/CATEGORICAL -> choice(domain).
        """
        rng = random.Random(seed)
        out = []
        for _ in range(int(num)):
            params: dict[str, Any] = {}
            for name, t, region in self.items():
                if t == DOUBLE:
                    params[name] = rng.uniform(region[0], region[1])
                elif t == INTEGER:
                    params[name] = rng.randint(region[0], region[1])
                else:
                    params[name] = rng.choice(region)
            out.append(params)
        return out

    def contains(self, params: dict[str, Any]) -> bool:
        """True iff every declared hparam is present and inside its region."""
        for name, t, region in self.items():
            if name not in params:
                return False
            v = params[name]
            if t == DOUBLE:
                if not (region[0] <= float(v) <= region[1]):
                    return False
            elif t == INTEGER:
                if int(v) != v or not (region[0] <= v <= region[1]):
                    return False
            elif v not in region:
                return False
        return True

    def outside(self, params: dict[str, Any]) -> str | None:
        """Why params fall outside the space, or None: each declared
        INTEGER the params carry must be integral and in [lo, hi], each
        DISCRETE/CATEGORICAL in its domain. Unlike `contains`, a missing
        name passes (SingleRun carries only `run`) and DOUBLE bounds are
        not checked (Pbt's multiplicative walk leaves them)."""
        bad = []
        for name, t, region in self.items():
            if name not in params or t == DOUBLE:
                continue
            v = params[name]
            if t == INTEGER:
                ok = (
                    isinstance(v, numbers.Real) and not isinstance(v, bool)
                    and float(v).is_integer() and region[0] <= v <= region[1]
                )
            else:
                ok = v in region
            if not ok:
                bad.append(f"{name}={v} ({t} {region})")
        return f"params outside the searchspace: {', '.join(bad)}" if bad else None

    # -- numeric transform layer (reference §1.4) -----------------------

    def transform(self, params: dict[str, Any], normalize_categorical: bool = True) -> list[float]:
        """Encode params to a numeric vector in declaration order.

        DOUBLE/INTEGER min-max normalize to [0,1] with clipping;
        DISCRETE min-max over [min(domain), max(domain)];
        CATEGORICAL ordinal-encode by domain index, optionally
        normalized by (index)/(len-1).
        """
        vec: list[float] = []
        for name, t, region in self.items():
            v = params[name]
            if t in (DOUBLE, INTEGER):
                vec.append(_minmax(float(v), float(region[0]), float(region[1])))
            elif t == DISCRETE:
                lo, hi = float(min(region)), float(max(region))
                vec.append(_minmax(float(v), lo, hi))
            else:
                idx = region.index(v)
                if normalize_categorical and len(region) > 1:
                    vec.append(idx / (len(region) - 1))
                else:
                    vec.append(float(idx))
        return vec

    def inverse_transform(self, vec: list[float], normalize_categorical: bool = True) -> dict[str, Any]:
        """Decode a numeric vector back to params; INTEGER rounds."""
        params: dict[str, Any] = {}
        for (name, t, region), x in zip(self.items(), vec):
            if t == DOUBLE:
                params[name] = region[0] + float(x) * (region[1] - region[0])
            elif t == INTEGER:
                params[name] = int(round(region[0] + float(x) * (region[1] - region[0])))
            elif t == DISCRETE:
                lo, hi = float(min(region)), float(max(region))
                raw = lo + float(x) * (hi - lo)
                params[name] = min(region, key=lambda d: abs(float(d) - raw))
            else:
                if normalize_categorical and len(region) > 1:
                    idx = int(round(float(x) * (len(region) - 1)))
                else:
                    idx = int(round(float(x)))
                params[name] = region[max(0, min(idx, len(region) - 1))]
        return params

    @staticmethod
    def dict_to_list(hparams: dict) -> list:
        """One config, dict -> positional list (reference
        `searchspace.py:446-457`; order is the dict's insertion
        order, matching `keys()` for engine-produced configs)."""
        return list(hparams.values())

    def list_to_dict(self, hparams: list) -> dict:
        """One config, positional list -> dict keyed by the declared
        hyperparameter order (reference `searchspace.py:459-479`)."""
        names = self.keys()
        if len(names) != len(hparams):
            raise ValueError("hparam_names and hparams have to have same length (and order!)")
        return dict(zip(names, hparams))

    # -- Spark export ----------------------------------------------------

    def to_dataframe(self, spark):
        """Export as `searchspace(name, seq, type, lo, hi, domain)` DF."""
        from pyspark.sql import types as T

        schema = T.StructType(
            [
                T.StructField("name", T.StringType(), False),
                T.StructField("seq", T.IntegerType(), False),
                T.StructField("type", T.StringType(), False),
                T.StructField("lo", T.DoubleType(), True),
                T.StructField("hi", T.DoubleType(), True),
                T.StructField("domain", T.ArrayType(T.StringType()), True),
            ]
        )
        rows = []
        for seq, (name, t, region) in enumerate(self.items()):
            if t in (DOUBLE, INTEGER):
                rows.append((name, seq, t, float(region[0]), float(region[1]), None))
            else:
                rows.append((name, seq, t, None, None, [str(v) for v in region]))
        return spark.createDataFrame(rows, schema)


class _HparamView(tuple):
    """A (name, type, region) triple that also answers the reference's
    dict-style keys (name/type/values)."""

    _KEYS = {"name": 0, "type": 1, "values": 2}

    def __getitem__(self, key):
        if isinstance(key, str):
            return tuple.__getitem__(self, self._KEYS[key])
        return tuple.__getitem__(self, key)

    def get(self, key, default=None):
        try:
            return self[key]
        except (KeyError, IndexError):
            return default


def _minmax(v: float, lo: float, hi: float) -> float:
    if hi == lo:
        return 0.0
    x = (v - lo) / (hi - lo)
    return max(0.0, min(1.0, x))
