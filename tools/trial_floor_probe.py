"""Per-trial floor of the executor: what one trial costs beyond its own code.

    python3 tools/trial_floor_probe.py --slots 4 --reps 20

Warms a ``local[<slots>]`` session (one Python worker per slot), then
prints the median, over ``--reps`` repetitions, of:

- ``sequential_ms``: ``run_trial_wave`` wall time minus the trial's
  ``duration_ms`` for one no-op trial, one call at a time;
- ``concurrent_ms``: the same per-call overhead with ``<slots>`` calls
  submitted at once from as many driver threads (how the experiment
  driver fills its slots);
- ``jvm_job_ms``: a 1-task RDD ``count`` run entirely in the JVM, the
  floor of a Spark job without a Python worker.

The last line of standard output is the JSON of these figures. Run it on
an otherwise idle machine; compare two checkouts back to back, not
against numbers taken at another time.
"""

from __future__ import annotations

import argparse
import json
import shutil
import statistics
import sys
import tempfile
import time
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


def noop():
    return 0.0


def trial_overhead_ms(spark, trial_id: str, fn_bytes: bytes) -> float:
    from maggy_spark.executor import run_trial_wave

    t0 = time.perf_counter()
    [row] = run_trial_wave(spark, [{"trial_id": trial_id, "params": {}}], noop, fn_bytes=fn_bytes)
    wall_ms = (time.perf_counter() - t0) * 1000
    assert row["error"] is None, row
    return wall_ms - row["duration_ms"]


def jvm_job_ms(spark) -> float:
    sc = spark.sparkContext
    data = sc._jvm.java.util.ArrayList()
    data.add(0)
    t0 = time.perf_counter()
    sc._jsc.parallelize(data, 1).count()
    return (time.perf_counter() - t0) * 1000


def main(argv=None) -> None:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--slots", type=int, default=4)
    p.add_argument("--reps", type=int, default=20)
    args = p.parse_args(argv)

    from pyspark.sql import SparkSession

    from maggy_spark.executor import _dumps_by_value

    work = tempfile.mkdtemp(prefix="trial_floor_")
    spark = (
        SparkSession.builder.master(f"local[{args.slots}]")
        .appName("trial_floor_probe")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", work)
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    try:
        fn_bytes = _dumps_by_value(noop)
        with ThreadPoolExecutor(args.slots) as pool:

            def wave(tag: str) -> list[float]:
                futures = [pool.submit(trial_overhead_ms, spark, f"{tag}-{i}", fn_bytes) for i in range(args.slots)]
                return [f.result() for f in futures]

            # start every worker and pay each one's first-task costs
            for w in range(3):
                wave(f"warm{w}")
            for _ in range(3):
                jvm_job_ms(spark)

            sequential = [trial_overhead_ms(spark, f"seq-{r}", fn_bytes) for r in range(args.reps)]
            concurrent = [ms for r in range(args.reps) for ms in wave(f"con-{r}")]
        jvm = [jvm_job_ms(spark) for _ in range(args.reps)]
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)

    out = {
        "slots": args.slots,
        "reps": args.reps,
        "sequential_ms": round(statistics.median(sequential), 1),
        "concurrent_ms": round(statistics.median(concurrent), 1),
        "jvm_job_ms": round(statistics.median(jvm), 1),
    }
    for k, v in out.items():
        print(f"{k:>14}: {v}")
    print(json.dumps(out))


if __name__ == "__main__":
    main()
