"""What the early-stop state costs one trial as the experiment grows.

    python3 tools/stop_source_probe.py --reps 5

Warms a ``local[2]`` session, then runs one 20-step trial under the
built-in median rule (``es_interval=1``, so the rule runs at every
step) against a growing set of finalized trials. The trial reports
1.0 at every step and the finalized histories stay below 0.5, so no
check stops it. Per row (finalized trials × steps per history) it
prints the median, over ``--reps`` repetitions, of:

- ``encode_ms``: the driver's ``encode_stop_source`` for that bar;
- ``source_mb``: the size of the encoded source the trial task carries;
- ``trial_wall_ms``: ``run_trial_wave`` wall time for the one trial;
- ``trial_code_ms``: the trial's own ``duration_ms`` (the user function
  plus its stop checks).

The first row runs without a stop source. The last line of standard
output is the JSON of the table. Compare two checkouts back to back on
an otherwise idle machine, not against numbers taken at another time.
"""

from __future__ import annotations

import argparse
import json
import random
import shutil
import statistics
import sys
import tempfile
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

STEPS = 20
SHAPES = [(0, 0), (100, 50), (1000, 50), (1000, 200), (4000, 100)]


def twenty_steps(reporter):
    for step in range(STEPS):
        reporter.broadcast(1.0, step)
    return 1.0


def finalized_trials(n: int, steps: int) -> list:
    from maggy_spark.trial import Trial

    rng = random.Random(n * 1000 + steps)
    out = []
    for i in range(n):
        t = Trial({"i": i})
        t.metric_history = [rng.random() / 2 for _ in range(steps)]
        t.final_metric = t.metric_history[-1]
        out.append(t)
    return out


def measure(spark, fn_bytes: bytes, rule_bytes: bytes, finalized: list, tag: str) -> dict:
    from maggy_spark.executor import encode_stop_source, run_trial_wave

    src, encode_ms = None, None
    if finalized:
        t0 = time.perf_counter()
        src = encode_stop_source(rule_bytes, "max", 1, finalized)
        encode_ms = (time.perf_counter() - t0) * 1000
    t0 = time.perf_counter()
    [row] = run_trial_wave(
        spark, [{"trial_id": tag, "params": {}}], twenty_steps, stop_check_source=src, fn_bytes=fn_bytes
    )
    wall_ms = (time.perf_counter() - t0) * 1000
    assert row["error"] is None and not row["early_stop"] and len(row["metric_history"]) == STEPS, row
    return {
        "encode_ms": encode_ms,
        "source_mb": None if src is None else len(src) / 1e6,
        "trial_wall_ms": wall_ms,
        "trial_code_ms": row["duration_ms"],
    }


def main(argv=None) -> None:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--reps", type=int, default=5)
    args = p.parse_args(argv)

    from pyspark.sql import SparkSession

    from maggy_spark.executor import _dumps_by_value, median_rule

    work = tempfile.mkdtemp(prefix="stop_source_")
    spark = (
        SparkSession.builder.master("local[2]")
        .appName("stop_source_probe")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", work)
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    try:
        fn_bytes = _dumps_by_value(twenty_steps)
        rule_bytes = _dumps_by_value(median_rule)
        bars = {shape: finalized_trials(*shape) for shape in SHAPES}
        for w in range(4):  # start the workers and pay their first-task costs
            measure(spark, fn_bytes, rule_bytes, bars[SHAPES[1]], f"warm{w}")
        samples = {shape: [] for shape in SHAPES}
        for r in range(args.reps):  # rows interleaved, so drift hits each alike
            for shape in SHAPES:
                samples[shape].append(measure(spark, fn_bytes, rule_bytes, bars[shape], f"rep{r}-{shape[0]}x{shape[1]}"))
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)

    def med(rows: list, key: str):
        vals = [row[key] for row in rows if row[key] is not None]
        return round(statistics.median(vals), 2) if vals else None

    table = [
        {"finalized": n, "steps": s, **{k: med(samples[(n, s)], k) for k in samples[(n, s)][0]}}
        for n, s in SHAPES
    ]
    print("| finalized × steps | driver encode | source | trial wall | trial code |")
    print("|---|---|---|---|---|")
    for row in table:
        shape = f"{row['finalized']} × {row['steps']}" if row["finalized"] else "none"
        enc = "–" if row["encode_ms"] is None else f"{row['encode_ms']:.0f} ms"
        mb = "–" if row["source_mb"] is None else f"{row['source_mb']:.2f} MB"
        print(f"| {shape} | {enc} | {mb} | {row['trial_wall_ms']:.0f} ms | {row['trial_code_ms']:.0f} ms |")
    print(json.dumps({"reps": args.reps, "steps": STEPS, "rows": table}))


if __name__ == "__main__":
    main()
