"""Experiment result/artifact sinks and the summary scan.

Reference: the driver dumps `result.json`/`maggy.json` on finalize
(S5, `optimization_driver.py:235-253,294-342`; `base_driver.py:59-77`),
per-trial `.hparams.json`/`.outputs.json`/`trial.json` artifacts (S6,
`maggy/util.py:159-199`, `trial_executor.py:144-154`) and re-joins
them with `util.build_summary_json` (S9, `util.py:134-147`).

Rebuild: the trials relation IS the artifact store — parquet
partitioned by trial_id bucket (not one file per trial: at 100
TB-scale experiment counts, millions of tiny JSON files are the
anti-pattern; partitioned parquet keeps the same lookup key with sane
file counts). As in the reference, the driver writes both sinks
itself: the rows are already in its memory, so the trials relation
is written with pyarrow, with no Spark job, in the layout a Spark
`partitionBy("bucket")` write gives (`bucket=<n>/` directories,
bucket = crc32(trial_id) % buckets, the value Spark's `crc32`
gives). Only the reads go through Spark.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
import zlib
from typing import Any

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

from maggy_spark.store import TRIALS_SCHEMA, publish

# The finalize relation as read back: the trials table plus the
# directory-discovered partition column. Passing it saves the schema
# inference job on every read.
ARTIFACTS_SCHEMA = StructType(TRIALS_SCHEMA.fields + [StructField("bucket", IntegerType())])


def write_experiment_result(result: dict[str, Any], log_dir: str, name: str = "result.json") -> str:
    """S5: experiment-level result dict -> JSON file (driver-side
    metadata, tiny), published whole with os.replace."""
    os.makedirs(log_dir, exist_ok=True)
    path = os.path.join(log_dir, name)

    def write(tmp: str) -> None:
        with open(tmp, "w", encoding="utf-8") as f:
            json.dump(result, f, sort_keys=True, default=str, indent=2)

    publish(path, write)
    return path


def write_trial_artifacts(trials: pa.Table | DataFrame, log_dir: str, buckets: int = 64) -> str:
    """S6: the trials relation as parquet, bucketed by trial_id hash so
    a single-trial lookup prunes to one file group. `trials` is an
    Arrow table (or a DataFrame, fetched with toArrow). An existing
    relation is replaced: the new one is built in a hidden sibling
    directory and swapped in."""
    table = trials.toArrow() if isinstance(trials, DataFrame) else trials
    bucket = [zlib.crc32(t.encode("utf-8")) % buckets for t in table.column("trial_id").to_pylist()]
    table = table.append_column("bucket", pa.array(bucket, pa.int32()))
    path = os.path.join(log_dir, "trials")
    tmp = os.path.join(log_dir, f".trials-{uuid.uuid4().hex}")
    old = tmp + "-old"
    try:
        os.makedirs(tmp)
        pq.write_to_dataset(table, tmp, partition_cols=["bucket"])
        if os.path.exists(path):
            os.replace(path, old)
        os.replace(tmp, path)
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    shutil.rmtree(old, ignore_errors=True)
    return path


def read_experiment(spark: SparkSession, log_dir: str) -> DataFrame:
    """Load the trials relation back."""
    return spark.read.schema(ARTIFACTS_SCHEMA).parquet(os.path.join(log_dir, "trials"))


def read_trial_summaries(spark: SparkSession, log_dir: str) -> DataFrame:
    """S9 summary scan: per-trial params + final metric + status,
    sorted best-first — the reference's `build_summary_json`
    "combinations" array as a DataFrame. "Best" follows the rows'
    own `direction` column: plain metric-desc would put the WORST
    trial first for a minimization experiment."""
    t = read_experiment(spark, log_dir)
    signed = F.when(F.col("direction") == "min", -F.col("final_metric")).otherwise(
        F.col("final_metric")
    )
    return (
        t.select(
            "trial_id", "params", "status", "final_metric", "early_stop", "duration_ms",
            signed.alias("__signed__"),
        )
        .orderBy(F.col("__signed__").desc_nulls_last())
        .drop("__signed__")
    )
