"""ExperimentStore: trials and metrics as live parquet tables.

SURVEY.md §3.1's rebuild lifecycle: "controller emits pending trials
-> execute batch -> APPEND TO trials/metrics TABLES -> early-stop +
result aggregation SQL". This store is those tables — appended per
wave, queried with the same relational kernel shapes the oracle gate
checks (A1 summary, A4 budget stats, G5 promotions, A8 median bar) —
so dashboards/other sessions can watch a running experiment with
plain Spark SQL instead of asking the driver process.

Append-only parquet with one file per wave: cheap atomic appends, no
compaction needed at experiment scale (thousands of trials, not
billions of rows). Appends are written by the driver with pyarrow —
the rows are already in its memory, so no Spark job is needed to put
them on disk — and read back with Spark.

Each kernel is one SQL statement over the scanned tables: a
DataFrame Column tree costs a py4j round trip per node (hundreds per
read), a SQL string is parsed in the JVM in one call. A table that
fits one of Spark's own file splits (files x openCostInBytes + bytes
<= maxPartitionBytes, both read from the session) is scanned as one
partition: the kernel then needs no exchange, and adaptive execution
runs it as one job instead of a shuffle-map job plus a result job.
A larger table keeps its parallel scan and its plan.
"""

from __future__ import annotations

import os
import re
import uuid
from typing import Callable

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


def _data_files(path: str) -> list[str]:
    """The parquet files Spark reads from a table directory: it skips
    names starting with '.' or '_' (temp files, checksums, _SUCCESS)."""
    if not os.path.isdir(path):
        return []
    return [os.path.join(path, n) for n in sorted(os.listdir(path)) if not n.startswith((".", "_"))]


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

    def _scan(self, df: DataFrame, path: str) -> tuple[DataFrame, bool]:
        """`df` as one partition when the whole table fits one of
        Spark's file splits (module note); True when it was made so."""
        files = _data_files(path)
        conf = self.spark.conf
        size = len(files) * _conf_bytes(conf.get("spark.sql.files.openCostInBytes"))
        size += sum(os.path.getsize(f) for f in files)
        one = size <= _conf_bytes(conf.get("spark.sql.files.maxPartitionBytes"))
        return (df.coalesce(1) if one else df), one

    # -- kernel queries over the live store ----------------------------

    def result_summary(self) -> dict:
        """A1 over the live store — the same aggregation the finalize
        path uses (single source in experiment.summarize_finalized)."""
        from maggy_spark.experiment import summarize_finalized

        t, _ = self._scan(self.trials(), self._trials_path)
        return summarize_finalized(t.where("status = 'FINALIZED'"), self.direction)

    def budget_stats(self) -> DataFrame:
        """A4 per-budget ybest/yworst/ymean over the live store —
        direction-aware: ybest is the BEST metric for this
        experiment's direction (the reference equates ybest with min
        only after sign-normalizing max-direction metrics)."""
        best, worst = ("max", "min") if self.direction == "max" else ("min", "max")
        t, _ = self._scan(self.trials(), self._trials_path)
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
        t, _ = self._scan(self.trials(), self._trials_path)
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
        """A8: the early-stop bar from the live metric stream. When
        both tables are one partition a sort-merge join needs no
        exchange, where a broadcast join would cost its own job."""
        t, t_one = self._scan(self.trials(), self._trials_path)
        m, m_one = self._scan(self.metrics(), self._metrics_path)
        hint = "/*+ MERGE(f) */" if t_one and m_one else ""
        row = self.spark.sql(
            f"""SELECT percentile(pavg, 0.5D) AS bar FROM (
                SELECT {hint} trial_id, avg(value) AS pavg
                FROM {{m}} JOIN (SELECT trial_id FROM {{t}} WHERE status = 'FINALIZED') f USING (trial_id)
                WHERE step <= :step_limit
                GROUP BY trial_id)""",
            args={"step_limit": step_limit},
            t=t,
            m=m,
        ).collect()[0]
        return None if row.bar is None else float(row.bar)
