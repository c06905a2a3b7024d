"""ExperimentStore: trials and metrics as live parquet tables.

SURVEY.md §3.1's rebuild lifecycle: "controller emits pending trials
-> execute batch -> APPEND TO trials/metrics TABLES -> early-stop +
result aggregation SQL". This store is those tables — appended per
wave, queried with the kernel shapes the oracle gate checks (A1
summary, A4 budget stats, G5 promotions, A8 median bar) — so
dashboards/other sessions can watch a running experiment with plain
Spark SQL instead of asking the driver process.

Append-only parquet with one file per wave: cheap atomic appends, no
compaction needed at experiment scale (thousands of trials, not
billions of rows). Appends are written by the driver with pyarrow —
the rows are already in its memory, so no Spark job is needed to put
them on disk.

Every kernel read runs on the driver: one multi-file pyarrow read of
the store's own files, then Python. Their input is a few kilobytes the
driver wrote itself, so a Spark job (~200 ms) would cost far more than
the read (a few ms). `result_summary` (A1, a dict) is
`summarize_trials`, which the experiment's result dict runs too, so
the two cannot drift; `median_bar` (A8) returns a float.

`budget_stats` (A4) and `promotable` (G5) return DataFrames for the
caller to build on, made with `createDataFrame` from an Arrow table of
the answer: a local relation, which runs no Spark job when collected
(one made from Python rows runs one). It is a snapshot taken at call
time: collecting it again does not see later appends, as a lazy scan
of the files would. Call the method again for fresh numbers.
"""

from __future__ import annotations

import math
import numbers
import os
import uuid
from typing import Callable, Iterable

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import from_arrow_schema

from maggy_spark.trial import Trial

# The one definition of each table's row shape (FIXTURES.md F2 for
# trials). The store writes the Arrow form; the Spark form, used by
# experiment.trials_to_df and seen by every reader, is derived from it.
TRIALS_ARROW_SCHEMA = pa.schema([
    ("trial_id", pa.string()),
    ("seq", pa.int64()),
    ("params", pa.map_(pa.string(), pa.string())),
    ("budget", pa.int32()),
    ("sample_type", pa.string()),
    ("status", pa.string()),
    ("direction", pa.string()),
    ("final_metric", pa.float64()),
    ("early_stop", pa.bool_()),
    ("duration_ms", pa.int64()),
])
TRIALS_SCHEMA = from_arrow_schema(TRIALS_ARROW_SCHEMA)
METRICS_ARROW_SCHEMA = pa.schema([
    ("trial_id", pa.string()),
    ("step", pa.int64()),
    ("value", pa.float64()),
])
METRICS_SCHEMA = from_arrow_schema(METRICS_ARROW_SCHEMA)
# The answers of the two DataFrame kernels, nullability included, as
# their Spark SQL definitions (tests/store_oracles.py) type them.
_BUDGET_STATS_SCHEMA = pa.schema([("budget", pa.int32()), ("ybest", pa.float64()), ("yworst", pa.float64()),
                                  ("ymean", pa.float64()), pa.field("n_trials", pa.int64(), nullable=False)])
_PROMOTABLE_SCHEMA = pa.schema([("rung", pa.int32()), ("trial_id", pa.string()), ("final_metric", pa.float64()),
                                pa.field("rank", pa.int32(), nullable=False)])


def trial_rows(trials: list[Trial], direction: str) -> list[dict]:
    """Trials as `trials` table rows; seq defaults to the list index."""
    return [
        t.to_row(seq=t.info_dict.get("seq", i), direction=direction, budget=int(t.info_dict.get("budget", 0)))
        for i, t in enumerate(trials)
    ]


def _nan_greatest(m: float) -> tuple:
    """Sort key ordering doubles as Spark does: NaN above every number."""
    return (True, 0.0) if math.isnan(m) else (False, m)


def summarize_trials(rows: Iterable[dict], direction: str) -> dict:
    """A1, the result summary, over `trials` table rows (trial_id, seq,
    status, final_metric, early_stop): the one implementation behind
    the experiment's result dict and the live store's result_summary.

    Only FINALIZED rows count. Null metrics are left out of
    best/worst/avg; num_trials still counts them. best is the max of
    (sign*metric, -seq, trial_id) and worst the min of
    (sign*metric, seq, trial_id); NaN orders above every number, as
    Spark orders doubles, and -NaN is NaN. avg is a plain double mean
    summed in seq order, so it does not depend on the order the rows
    were read in (user metrics have arbitrary scale: the oracle
    kernels' decimal(18,4) accumulator would round a 4e-5 loss to 0).
    """
    finalized = [r for r in rows if r["status"] == "FINALIZED"]
    early_stopped = sum(bool(r["early_stop"]) for r in finalized)
    scored = sorted((r["seq"], r["trial_id"], r["final_metric"]) for r in finalized if r["final_metric"] is not None)
    if not scored:
        return {"num_trials": len(finalized), "early_stopped": early_stopped}
    sign = -1.0 if direction == "min" else 1.0
    _, best_id, best_val = max(scored, key=lambda r: (_nan_greatest(sign * r[2]), -r[0], r[1]))
    _, worst_id, worst_val = min(scored, key=lambda r: (_nan_greatest(sign * r[2]), r[0], r[1]))
    return {
        "best_id": best_id,
        "best_val": best_val,
        "worst_id": worst_id,
        "worst_val": worst_val,
        "avg": sum(m for _, _, m in scored) / len(scored),
        "num_trials": len(finalized),
        "early_stopped": early_stopped,
    }


def _data_files(path: str) -> list[str]:
    """The parquet files Spark reads from a table directory: it skips
    names starting with '.' or '_' (temp files, checksums, _SUCCESS)."""
    if not os.path.isdir(path):
        return []
    return [os.path.join(path, n) for n in sorted(os.listdir(path)) if not n.startswith((".", "_"))]


def _read(path: str, schema: pa.Schema, columns: list[str], filters=None) -> pa.Table:
    """`columns` of a table's data files in one pyarrow read, rows in
    file order; a table with no file yet raises, as Spark's does."""
    files = _data_files(path)
    if not files:
        raise FileNotFoundError(f"no data file under {path}")
    return pq.read_table(files, schema=schema, columns=columns, filters=filters, partitioning=None)


def publish(path: str, write: Callable[[str], object]) -> None:
    """Create the file `path` by calling `write` on a hidden name next
    to it, then os.replace: a concurrent reader (Spark skips names
    starting with '.') sees the whole file or none of it."""
    folder, name = os.path.split(path)
    tmp = os.path.join(folder, f".{name}.{uuid.uuid4().hex}")
    try:
        write(tmp)
        os.replace(tmp, path)
    except BaseException:
        if os.path.exists(tmp):
            os.remove(tmp)
        raise


def _write_parquet(table: pa.Table, path: str) -> None:
    """Add `table` to the directory as one new file."""
    os.makedirs(path, exist_ok=True)
    publish(os.path.join(path, f"part-{uuid.uuid4().hex}.parquet"), lambda tmp: pq.write_table(table, tmp))


class ExperimentStore:
    def __init__(self, spark: SparkSession, path: str, direction: str = "max"):
        self.spark = spark
        self.path = path
        self.direction = direction
        self._trials_path = os.path.join(path, "trials")
        self._metrics_path = os.path.join(path, "metrics")
        self._seq_counter: int | None = None
        os.makedirs(path, exist_ok=True)

    # -- appends -------------------------------------------------------

    def _next_seq(self) -> int:
        """Monotone seq across appends AND across store handles: the
        tie-break key in summaries/promotions must stay unique. The
        existing row count comes from the parquet footers."""
        if self._seq_counter is None:
            self._seq_counter = sum(
                pq.read_metadata(f).num_rows for f in _data_files(self._trials_path)
            )
        return self._seq_counter

    def append_trials(self, trials: list[Trial]) -> None:
        if not trials:
            return
        base = self._next_seq()
        # REBASE onto the store's counter rather than setdefault: every
        # real caller presets a 1-based per-run seq, so keeping it
        # verbatim would collide when a second run appends into an
        # existing store. Caller seq only decides ORDER within the
        # batch; the stored value is base+1..base+n — identical to the
        # caller's numbering on a fresh store, unique on a reused one.
        # NB: the rebase mutates the caller's Trial objects' seq in
        # place (deliberate — the driver's Trial list and the store
        # must agree on numbering for read-back joins).
        # Seq-less trials sort AFTER all preset ones in batch order:
        # the old `.get("seq", i)` fallback mixed 1-based presets with
        # 0-based indices, interleaving a mixed batch unpredictably.
        def _order_key(i: int):
            s = trials[i].info_dict.get("seq")
            return (s is None, 0 if s is None else s, i)

        order = sorted(range(len(trials)), key=_order_key)
        for pos, i in enumerate(order):
            trials[i].info_dict["seq"] = base + pos + 1
        self._seq_counter = base + len(trials)
        rows = trial_rows(trials, self.direction)
        _write_parquet(pa.Table.from_pylist(rows, schema=TRIALS_ARROW_SCHEMA), self._trials_path)

    def append_metrics(self, trials: list[Trial]) -> None:
        rows = [
            {"trial_id": t.trial_id, "step": int(s), "value": float(v)}
            for t in trials
            for s, v in zip(t.step_history, t.metric_history, strict=True)
        ]
        if not rows:
            return
        _write_parquet(pa.Table.from_pylist(rows, schema=METRICS_ARROW_SCHEMA), self._metrics_path)

    # -- live relations ------------------------------------------------

    # Read with the known schema: inferring it costs a Spark job per
    # read. A table with no file yet still raises (path not found).

    def trials(self) -> DataFrame:
        return self.spark.read.schema(TRIALS_SCHEMA).parquet(self._trials_path)

    def metrics(self) -> DataFrame:
        return self.spark.read.schema(METRICS_SCHEMA).parquet(self._metrics_path)

    # -- kernel queries over the live store ----------------------------

    def result_summary(self) -> dict:
        """A1 over the live store, on the driver (module note)."""
        cols = ["trial_id", "seq", "status", "final_metric", "early_stop"]
        return summarize_trials(_read(self._trials_path, TRIALS_ARROW_SCHEMA, cols).to_pylist(), self.direction)

    def _scored_by_budget(self, *columns: str) -> dict:
        """The FINALIZED rows with a metric as tuples of `columns`,
        grouped by budget, in file row order: the input of A4 and G5."""
        scored = (pc.field("status") == "FINALIZED") & pc.field("final_metric").is_valid()
        t = _read(self._trials_path, TRIALS_ARROW_SCHEMA, ["budget", *columns], scored)
        groups: dict = {}
        for budget, *row in zip(*(t[c].to_pylist() for c in t.column_names)):
            groups.setdefault(budget, []).append(row)
        return groups

    def budget_stats(self) -> DataFrame:
        """A4 per-budget ybest/yworst/ymean/n_trials over the FINALIZED
        trials with a metric — direction-aware: ybest is the BEST
        metric for this experiment's direction (the reference equates
        ybest with min only after sign-normalizing max-direction
        metrics). NaN is the greatest double, as in Spark's max and
        min; ymean sums in file row order. A snapshot taken at this
        call: collecting it again sees no later append (module note)."""
        best, worst = (max, min) if self.direction == "max" else (min, max)
        rows = []
        for budget, scored in self._scored_by_budget("final_metric").items():
            ms = [m for m, in scored]
            ybest, yworst = best(ms, key=_nan_greatest), worst(ms, key=_nan_greatest)
            rows.append({"budget": budget, "ybest": ybest, "yworst": yworst, "ymean": sum(ms) / len(ms),
                         "n_trials": len(ms)})
        return self.spark.createDataFrame(pa.Table.from_pylist(rows, schema=_BUDGET_STATS_SCHEMA))

    def promotable(self, eta: int = 2) -> DataFrame:
        """G5: per budget-rung, the top floor(n/eta) of its n FINALIZED
        trials with a metric, ranked from 1 by final_metric (descending
        for max, ascending for min; NaN is the greatest double), then by
        seq. A metric-less trial is never ranked, so a broken trial
        cannot win a rung under 'min'. An eta that is not an int >= 1
        raises ValueError. A snapshot taken at this call (module note)."""
        if isinstance(eta, bool) or not isinstance(eta, numbers.Integral) or eta < 1:
            raise ValueError(f"eta must be an int >= 1, got {eta!r}")
        rows = []
        for rung, scored in self._scored_by_budget("trial_id", "final_metric", "seq").items():
            scored.sort(key=lambda r: r[2])
            scored.sort(key=lambda r: _nan_greatest(r[1]), reverse=self.direction == "max")
            rows += [
                {"rung": rung, "trial_id": trial_id, "final_metric": m, "rank": rank}
                for rank, (trial_id, m, _seq) in enumerate(scored[: len(scored) // eta], 1)
            ]
        return self.spark.createDataFrame(pa.Table.from_pylist(rows, schema=_PROMOTABLE_SCHEMA))

    def median_bar(self, step_limit: int = 3) -> float | None:
        """A8: the early-stop bar from the live metric stream — the
        median over FINALIZED trials of each one's mean value at
        step <= step_limit — on the driver (module note), with Spark
        SQL's arithmetic: a mean sums in file row order, and the median
        is `percentile(mean, 0.5)`, NaN sorting greatest, interpolated
        between the middle two as (hi-pos)*a + (pos-lo)*b at
        pos = (n-1)*0.5."""
        t = _read(self._trials_path, TRIALS_ARROW_SCHEMA, ["trial_id"], [("status", "=", "FINALIZED")])
        finalized = set(t["trial_id"].to_pylist())
        m = _read(self._metrics_path, METRICS_ARROW_SCHEMA, ["trial_id", "value"], [("step", "<=", step_limit)])
        sums: dict[str, list] = {}
        for trial_id, value in zip(m["trial_id"].to_pylist(), m["value"].to_pylist()):
            if trial_id in finalized and value is not None:
                acc = sums.setdefault(trial_id, [0.0, 0])
                acc[0] += value
                acc[1] += 1
        means = sorted((total / n for total, n in sums.values()), key=_nan_greatest)
        if not means:
            return None
        pos = (len(means) - 1) * 0.5
        lo, hi = math.floor(pos), math.ceil(pos)
        a, b = means[lo], means[hi]
        return a if lo == hi or a == b else (hi - pos) * a + (pos - lo) * b
