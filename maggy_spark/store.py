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
them on disk — and read back with Spark. The metric stream reuses the
same expressions as operators/earlystop.py.
"""

from __future__ import annotations

import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
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


def _write_parquet(table: pa.Table, path: str) -> None:
    """Add `table` to the directory as one new file. It is written
    under a hidden name and published with os.replace, so a concurrent
    Spark reader sees the whole file or none of it."""
    os.makedirs(path, exist_ok=True)
    name = f"part-{uuid.uuid4().hex}.parquet"
    tmp = os.path.join(path, "." + name)
    try:
        pq.write_table(table, tmp)
        os.replace(tmp, os.path.join(path, name))
    except BaseException:
        if os.path.exists(tmp):
            os.remove(tmp)
        raise


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
        """A1 over the live store — the same aggregation the finalize
        path uses (single source in experiment.summarize_finalized)."""
        from maggy_spark.experiment import summarize_finalized

        t = self.trials().where(F.col("status") == "FINALIZED")
        return summarize_finalized(t, self.direction)

    def budget_stats(self) -> DataFrame:
        """A4 per-budget ybest/yworst/ymean over the live store —
        direction-aware: ybest is the BEST metric for this
        experiment's direction (the reference equates ybest with min
        only after sign-normalizing max-direction metrics)."""
        t = self.trials().where(
            (F.col("status") == "FINALIZED") & F.col("final_metric").isNotNull()
        )
        best = F.max("final_metric") if self.direction == "max" else F.min("final_metric")
        worst = F.min("final_metric") if self.direction == "max" else F.max("final_metric")
        return t.groupBy("budget").agg(
            best.alias("ybest"),
            worst.alias("yworst"),
            F.avg("final_metric").alias("ymean"),
            F.count("*").alias("n_trials"),
        )

    def promotable(self, eta: int = 2) -> DataFrame:
        """G5: top floor(n/eta) per budget-rung, direction-aware.

        Metric-less finalized trials are excluded up front: under
        direction='min' a null would sort FIRST (asc is nulls-first)
        and a broken trial would win the rung."""
        from pyspark.sql.window import Window

        t = self.trials().where(
            (F.col("status") == "FINALIZED") & F.col("final_metric").isNotNull()
        )
        order = F.col("final_metric").desc() if self.direction == "max" else F.col("final_metric").asc()
        w = Window.partitionBy("budget").orderBy(order, F.col("seq"))
        ranked = t.select(
            F.col("budget").alias("rung"), "trial_id", "final_metric",
            F.row_number().over(w).alias("rank"),
            F.count("*").over(Window.partitionBy("budget")).alias("n"),
        )
        return ranked.where(F.col("rank") <= F.floor(F.col("n") / eta)).drop("n")

    def median_bar(self, step_limit: int = 3) -> float | None:
        """A8: the early-stop bar from the live metric stream."""
        fin = self.trials().where(F.col("status") == "FINALIZED").select("trial_id")
        pavg = (
            self.metrics().where(F.col("step") <= step_limit)
            .join(fin, "trial_id")
            .groupBy("trial_id")
            .agg(F.avg("value").alias("pavg"))
        )
        row = pavg.agg(F.percentile("pavg", F.lit(0.5)).alias("bar")).collect()[0]
        return None if row.bar is None else float(row.bar)
