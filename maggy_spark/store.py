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

The scalar kernels, `result_summary` (A1, a dict) and `median_bar`
(A8, a float), run on the driver: one multi-file pyarrow read of the
store's own files, then Python. Their input is a few kilobytes the
driver wrote itself, so a Spark job (~200 ms) would cost far more than
the read (a few ms). A1 is `summarize_trials`, which the experiment's
result dict runs too, so the two cannot drift.

`budget_stats` (A4) and `promotable` (G5) return DataFrames for the
caller to build on, so they stay Spark SQL, one statement each: a
DataFrame Column tree costs a py4j round trip per node, a SQL string
is parsed in the JVM in one call. A table that fits one of Spark's
own file splits (files x openCostInBytes + bytes <= maxPartitionBytes,
both read from the session) is scanned as one partition: the kernel
then needs no exchange, and adaptive execution runs it as one job
instead of a shuffle-map job plus a result job. A larger table keeps
its parallel scan and its plan.
"""

from __future__ import annotations

import math
import os
import re
import uuid
from typing import Callable, Iterable

import pyarrow as pa
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


def trial_rows(trials: list[Trial], direction: str) -> list[dict]:
    """Trials as `trials` table rows; seq defaults to the list index."""
    return [
        t.to_row(seq=t.info_dict.get("seq", i), direction=direction, budget=int(t.info_dict.get("budget", 0)))
        for i, t in enumerate(trials)
    ]


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

    def order(m: float) -> tuple:
        m *= sign
        return (True, 0.0) if math.isnan(m) else (False, m)

    _, best_id, best_val = max(scored, key=lambda r: (order(r[2]), -r[0], r[1]))
    _, worst_id, worst_val = min(scored, key=lambda r: (order(r[2]), r[0], r[1]))
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


def _conf_bytes(value: str) -> int:
    """A Spark byte-size conf value ("134217728b", "128m", "4MB") in
    bytes; units are binary, as in Spark's JavaUtils.byteStringAsBytes."""
    num, unit = re.fullmatch(r"\s*(\d+)\s*([a-z]*)\s*", value.lower()).groups()
    return int(num) * 1024 ** "bkmgtp".index(unit[:1] or "b")


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

    def _scan(self, df: DataFrame, path: str) -> DataFrame:
        """`df` as one partition when the whole table fits one of
        Spark's file splits (module note)."""
        files = _data_files(path)
        conf = self.spark.conf
        size = len(files) * _conf_bytes(conf.get("spark.sql.files.openCostInBytes"))
        size += sum(os.path.getsize(f) for f in files)
        return df.coalesce(1) if size <= _conf_bytes(conf.get("spark.sql.files.maxPartitionBytes")) else df

    # -- kernel queries over the live store ----------------------------

    def result_summary(self) -> dict:
        """A1 over the live store, on the driver (module note)."""
        cols = ["trial_id", "seq", "status", "final_metric", "early_stop"]
        return summarize_trials(_read(self._trials_path, TRIALS_ARROW_SCHEMA, cols).to_pylist(), self.direction)

    def budget_stats(self) -> DataFrame:
        """A4 per-budget ybest/yworst/ymean over the live store —
        direction-aware: ybest is the BEST metric for this
        experiment's direction (the reference equates ybest with min
        only after sign-normalizing max-direction metrics)."""
        best, worst = ("max", "min") if self.direction == "max" else ("min", "max")
        t = self._scan(self.trials(), self._trials_path)
        return self.spark.sql(
            f"""SELECT budget, {best}(final_metric) AS ybest, {worst}(final_metric) AS yworst,
                   avg(final_metric) AS ymean, count(*) AS n_trials
            FROM {{t}} WHERE status = 'FINALIZED' AND final_metric IS NOT NULL
            GROUP BY budget""",
            t=t,
        )

    def promotable(self, eta: int = 2) -> DataFrame:
        """G5: top floor(n/eta) per budget-rung, direction-aware.

        Metric-less finalized trials are excluded up front: under
        direction='min' a null would sort FIRST (asc is nulls-first)
        and a broken trial would win the rung."""
        order = "DESC" if self.direction == "max" else "ASC"
        t = self._scan(self.trials(), self._trials_path)
        return self.spark.sql(
            f"""SELECT rung, trial_id, final_metric, rank FROM (
                SELECT budget AS rung, trial_id, final_metric,
                    row_number() OVER (PARTITION BY budget ORDER BY final_metric {order}, seq) AS rank,
                    count(*) OVER (PARTITION BY budget) AS n
                FROM {{t}} WHERE status = 'FINALIZED' AND final_metric IS NOT NULL)
            WHERE rank <= floor(n / :eta)""",
            args={"eta": eta},
            t=t,
        )

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
        means = sorted((total / n for total, n in sums.values()), key=lambda v: (math.isnan(v), v))
        if not means:
            return None
        pos = (len(means) - 1) * 0.5
        lo, hi = math.floor(pos), math.ceil(pos)
        a, b = means[lo], means[hi]
        return a if lo == hi or a == b else (hi - pos) * a + (pos - lo) * b
