"""Cost of the live store's kernel reads and of the finalize sink.

    python3 tools/store_read_probe.py --waves 2 300 --reps 10

Warms a ``local[4]`` session, builds one live store per ``--waves``
value (each wave appends 4 trials and their 8-step metric curves, one
parquet file per table, as the experiment driver does), and prints for
each of the four kernel reads (``result_summary``,
``budget_stats().collect()``, ``promotable(3).collect()``,
``median_bar()``) the median over ``--reps`` of:

- ``ms``: wall time of the read;
- ``jobs``: Spark jobs it ran;
- ``py4j``: driver-to-JVM round trips it made.

Then, per store, ``finalize_ms``: the median wall time of the
finalize sinks (``experiment._persist_experiment``: ``result.json``
and the bucketed ``trials/`` relation) over the store's trials.

The last line of standard output is the JSON of these figures. Run it
on an otherwise idle machine; compare two checkouts back to back, not
against numbers taken at another time.
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
from types import SimpleNamespace

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

READS = {
    "result_summary": lambda s: s.result_summary(),
    "budget_stats": lambda s: s.budget_stats().collect(),
    "promotable": lambda s: s.promotable(3).collect(),
    "median_bar": lambda s: s.median_bar(),
}


def build_store(spark, path: str, waves: int):
    from maggy_spark.store import ExperimentStore
    from maggy_spark.trial import Trial

    rnd = random.Random(waves)
    store = ExperimentStore(spark, path, direction="max")
    trials = []
    for w in range(waves):
        wave = []
        for i in range(4):
            t = Trial({"x": rnd.random(), "wave": w, "slot": i})
            for step in range(8):
                t.append_metric(rnd.random(), step)
            t.finalize(rnd.random())
            t.info_dict["budget"] = 1 + (w + i) % 3
            wave.append(t)
        store.append_trials(wave)
        store.append_metrics(wave)
        trials += wave
    return store, trials


class Counter:
    """Counts py4j commands sent by the driver and Spark jobs run under
    a job group, around one call."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        client = self.sc._gateway._gateway_client
        send = client.send_command
        self.sent = 0

        def counting(*args, **kwargs):
            self.sent += 1
            return send(*args, **kwargs)

        client.send_command = counting
        self.n = 0

    def __call__(self, fn, *args) -> tuple[float, int, int]:
        self.n += 1
        group = f"store_read_probe_{self.n}"
        self.sc.setJobGroup(group, group)
        sent = self.sent
        t0 = time.perf_counter()
        fn(*args)
        ms = (time.perf_counter() - t0) * 1000
        py4j = self.sent - sent
        return ms, len(self.sc.statusTracker().getJobIdsForGroup(group)), py4j


def main(argv=None) -> None:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--waves", type=int, nargs="+", default=[2, 300])
    p.add_argument("--reps", type=int, default=10)
    args = p.parse_args(argv)

    from pyspark.sql import SparkSession

    from maggy_spark import experiment

    work = tempfile.mkdtemp(prefix="store_read_probe_")
    spark = (
        SparkSession.builder.master("local[4]")
        .appName("store_read_probe")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.local.dir", work)
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    out = {"reps": args.reps, "stores": {}}
    try:
        measure = Counter(spark)
        for waves in args.waves:
            store, trials = build_store(spark, f"{work}/store{waves}", waves)
            samples = {name: [] for name in READS}
            for rep in range(args.reps + 2):  # the first two rounds warm up
                for name, read in READS.items():
                    if rep >= 2:
                        samples[name].append(measure(read, store))
                    else:
                        read(store)
            config = SimpleNamespace(direction="max")
            finalize = []
            for rep in range(args.reps + 2):
                exp_dir = f"{work}/exp{waves}_{rep}"
                t0 = time.perf_counter()
                experiment._persist_experiment(config, trials, {"num_trials": len(trials)}, exp_dir)
                finalize.append((time.perf_counter() - t0) * 1000)
            row = {
                name: {
                    "ms": round(statistics.median(s[0] for s in runs), 1),
                    "jobs": statistics.median(s[1] for s in runs),
                    "py4j": statistics.median(s[2] for s in runs),
                }
                for name, runs in samples.items()
            }
            row["finalize_ms"] = round(statistics.median(finalize[2:]), 1)
            out["stores"][f"{waves}_waves"] = row
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)

    for store, row in out["stores"].items():
        print(f"{store}: finalize_ms {row['finalize_ms']}")
        for name in READS:
            r = row[name]
            print(f"  {name:>15}: {r['ms']:8.1f} ms {r['jobs']:3g} jobs {r['py4j']:5g} py4j")
    print(json.dumps(out))


if __name__ == "__main__":
    main()
