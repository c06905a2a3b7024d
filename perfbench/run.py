#!/usr/bin/env python3
"""Experiment-engine benchmark.

    python3 perfbench/run.py --workload hpo_short_trials --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. One process, one SparkSession on
``local[<cores>]``, trial parallelism equal to the core count. The run
sets up several times (session start, Python-worker warm-up, one small
untimed warm-up experiment) and reports the median as ``setup_s``; it
then repeats the workload's timed unit for ``--seconds`` (at least
``min_units`` times) and checks every unit's outputs.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` alternates
untraced and traced units, prints the per-layer metrics (medians over
the traced units, per unit) and the tracing overhead, and writes the
spans to ``.perfbench_work/spans/``. The last line of standard output
is one JSON object: ``correct``, ``attempted``, ``failed``, ``metrics``.
See LAYERS.md for what each metric measures.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import signal
import statistics
import sys
import time
import traceback
import uuid
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench_work"
SETUP_CYCLES = 3
WATCHDOG_S = 170


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def percentile(values: list[float], p: float) -> float:
    """Linear interpolation between closest ranks."""
    xs = sorted(values)
    pos = (len(xs) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n: int) -> int:
    """The highest whole percentile with at least ten of `n` samples
    beyond it (50 when there are fewer than 20)."""
    return max(50, (100 * n - 1000) // n) if n else 50


# -- Spark process ------------------------------------------------------


def start_session(parallelism: int, work: Path):
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{parallelism}]")
        .appName("perfbench")
        .config("spark.driver.memory", "1g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.partitions", str(parallelism))
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.local.dir", str(work / "spark-local"))
        .config("spark.sql.warehouse.dir", str(work / "warehouse"))
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={work / 'tmp'}")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_workers(spark, parallelism: int) -> None:
    """Start one Python worker per slot, as the first trial wave would."""
    spark.range(0, parallelism, numPartitions=parallelism).mapInPandas(lambda it: it, "id long").collect()


def spark_counters(spark) -> tuple[int, int]:
    """(jobs submitted, tasks finished) so far in this SparkContext."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    try:
        jsc.listenerBus().waitUntilEmpty()
    except Exception:  # noqa: BLE001 - counters may then lag by a few events
        pass
    jobs = max(sc.statusTracker().getJobIdsForGroup(None) or [-1]) + 1
    execs = jsc.statusStore().executorList(True)
    tasks = sum(execs.apply(i).totalTasks() for i in range(execs.size()))
    return jobs, tasks


def jvm_peak_rss_kb(spark) -> int:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def stop_spark(spark) -> None:
    """Stop the context, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if spark is not None:
        spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()


# -- one run --------------------------------------------------------------


class Run:
    def __init__(self, workload_cls, seed: int, seconds: float, trace: bool, work: Path):
        from tracing import Patches, Tracer, WaveLog

        self.cls = workload_cls
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.parallelism = cores()
        self.min_units = workload_cls.min_units
        self.spark = None
        self.workload = None
        self.wavelog = WaveLog()
        self.patches = Patches()
        self.tracer = Tracer(run_id=uuid.uuid4().hex[:12])
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.units: list[dict] = []

    # accounting ---------------------------------------------------------

    def _count(self, attempted: int, failed: int, why: list[str]) -> None:
        self.attempted += attempted
        self.failed += failed
        self.failures += why

    def _settle(self, out, calls, raised: str | None) -> list[dict]:
        """Count the unit's call, trials and check; return its trials."""
        trials = [t for c in calls for t in c["trials"]]
        errors = [t for t in trials if t["error"] is not None]
        self._count(1 + len(trials), len(errors), [f"ERROR row: {t['error']}" for t in errors[:3]])
        if raised is not None:
            self._count(0, 1, [raised])
            return trials
        bad = self.workload.check(out, trials)
        self._count(1, 1 if bad else 0, bad)
        return trials

    # phases -------------------------------------------------------------

    def setup(self) -> list[float]:
        """SETUP_CYCLES x (session start, worker warm-up, warm-up
        experiment); the JVM launches in the first cycle only."""
        self.patches.replace("maggy_spark.experiment", "run_trial_wave", self.wavelog.wrap)
        times = []
        for _ in range(SETUP_CYCLES):
            if self.spark is not None:
                self.spark.stop()
            t0 = time.perf_counter()
            self.spark = start_session(self.parallelism, self.work)
            warm_workers(self.spark, self.parallelism)
            self.workload = self.cls(self.spark, self.seed, self.parallelism, self.work)
            out, raised = self._call(warmup=True)
            times.append(time.perf_counter() - t0)
            self._settle(out, self.wavelog.take(), raised)
        return times

    def _call(self, warmup=False, span=None):
        try:
            return self.workload.run(warmup=warmup, span=span), None
        except Exception as e:  # noqa: BLE001 - a raised call is a failed operation
            traceback.print_exc(file=sys.stderr)
            return None, f"{type(e).__name__}: {e}"

    def unit(self, traced: bool) -> dict:
        from tracing import Patches

        k = len(self.units)
        self.tracer.unit = k
        layer = Patches()
        if traced:
            self.tracer.install(layer)
            jobs0, tasks0 = spark_counters(self.spark)
        t0 = time.perf_counter()
        try:
            out, raised = self._call(span=self.tracer.span if traced else None)
            makespan = time.perf_counter() - t0
            if traced:
                jobs1, tasks1 = spark_counters(self.spark)
        finally:
            layer.restore()
        calls = self.wavelog.take()
        trials = self._settle(out, calls, raised)
        rec = {"k": k, "traced": traced, "makespan_s": makespan, "calls": calls, "trials": trials, "ok": raised is None}
        if traced:
            rec["spark.jobs"] = jobs1 - jobs0
            rec["spark.tasks"] = tasks1 - tasks0
        return rec

    def measure(self) -> list[dict]:
        t_begin = time.perf_counter()
        while True:
            traced_units = sum(u["traced"] for u in self.units)
            enough = (traced_units if self.trace else len(self.units)) >= self.min_units
            if enough and time.perf_counter() - t_begin >= self.seconds:
                break
            # the traced pass alternates untraced and traced units
            self.units.append(self.unit(traced=self.trace and len(self.units) % 2 == 1))
        return self.units


# -- metrics ----------------------------------------------------------------


def end_to_end(run: Run, setup_times: list[float], rss_mb: float) -> tuple[dict, dict]:
    units = [u for u in run.units if u["ok"]] or run.units
    p = run.parallelism
    samples = [
        c["wall_s"] * 1000.0 - t["duration_ms"]
        for u in units
        for c in u["calls"]
        for t in c["trials"]
    ]
    tail_p = tail_percentile(run.min_units * run.cls.trials_per_unit)

    def settled(u):
        return sum(t["error"] is None for t in u["trials"])

    def med(f):
        return statistics.median(f(u) for u in units)

    metrics = {
        "setup_s": (statistics.median(setup_times), "s"),
        "makespan_s": (med(lambda u: u["makespan_s"]), "s"),
        "trials_per_s": (med(lambda u: settled(u) / u["makespan_s"]), "1/s"),
        "trial_overhead_p50_ms": (percentile(samples, 50) if samples else 0.0, "ms"),
        "trial_overhead_tail_ms": (percentile(samples, tail_p) if samples else 0.0, "ms"),
        "slot_utilization": (
            med(lambda u: sum(t["duration_ms"] for t in u["trials"]) / 1000.0 / (p * u["makespan_s"])),
            "ratio",
        ),
        "driver_peak_rss_mb": (rss_mb, "MB"),
    }
    info = {
        "trial_overhead_tail": {"percentile": tail_p, "samples": len(samples)},
        "units": len(run.units),
        "setup_cycles_s": [round(t, 4) for t in setup_times],
        "unit_makespans_s": [round(u["makespan_s"], 4) for u in run.units],
    }
    return metrics, info


def per_layer(run: Run) -> tuple[dict, dict]:
    from tracing import self_time_s, union_s

    traced = [u for u in run.units if u["traced"]]
    # the first timed unit still runs slower than later ones, so it is
    # left out of the traced-vs-untraced comparison
    plain = [u for u in run.units if not u["traced"]][1:]
    rows = []
    for u in traced:
        spans = run.tracer.unit_spans(u["k"])

        def calls(name):
            return sum(s["name"] == name for s in spans)

        def busy(name):
            return sum(s["end"] - s["start"] for s in spans if s["name"] == name)

        roots = [s for s in spans if s["name"] == "experiment.lagom"]
        top = [(s["start"], s["end"]) for s in spans if s["parent"] is None]
        trial_fn_s = sum(t["duration_ms"] for t in u["trials"]) / 1000.0
        slot_busy_s = sum(c["wall_s"] * len(c["trials"]) for c in u["calls"])
        steps_run = sum(t["steps"] for t in u["trials"])
        steps_budgeted = sum(run.workload.steps_budgeted(t) for t in u["trials"])
        rows.append({
            "executor.run_trial_wave.calls": (calls("executor.run_trial_wave"), "count"),
            "executor.run_trial_wave.busy_s": (busy("executor.run_trial_wave"), "s"),
            "executor.trial_fn_s": (trial_fn_s, "s"),
            "executor.useful_ratio": (trial_fn_s / slot_busy_s if slot_busy_s else 0.0, "ratio"),
            "executor.dumps_by_value.calls": (calls("executor.dumps_by_value"), "count"),
            "executor.dumps_by_value.busy_s": (busy("executor.dumps_by_value"), "s"),
            "experiment.aggregate_result_s": (busy("experiment.aggregate_result"), "s"),
            "experiment.publish_bar.calls": (calls("experiment.publish_bar"), "count"),
            "experiment.publish_bar.busy_s": (busy("experiment.publish_bar"), "s"),
            "experiment.lagom_s": (busy("experiment.lagom"), "s"),
            "experiment.driver_self_s": (sum(self_time_s(r, spans) for r in roots), "s"),
            "optimizers.next_batch.calls": (calls("optimizers.next_batch"), "count"),
            "optimizers.next_batch.busy_s": (busy("optimizers.next_batch"), "s"),
            "bayes.suggest_model_params.calls": (calls("bayes.suggest_model_params"), "count"),
            "bayes.suggest_model_params.busy_s": (busy("bayes.suggest_model_params"), "s"),
            "pruner.pruning_routine.calls": (calls("pruner.pruning_routine"), "count"),
            "earlystop.stopped_trials": (sum(t["early_stop"] for t in u["trials"]), "count"),
            "earlystop.steps_run_ratio": (steps_run / steps_budgeted if steps_budgeted else 0.0, "ratio"),
            "store.append_trials.calls": (calls("store.append_trials"), "count"),
            "store.append_trials.busy_s": (busy("store.append_trials"), "s"),
            "store.append_metrics.calls": (calls("store.append_metrics"), "count"),
            "store.append_metrics.busy_s": (busy("store.append_metrics"), "s"),
            "store.reads_s": (busy("store.reads"), "s"),
            "sinks.write_trial_artifacts_s": (busy("sinks.write_trial_artifacts"), "s"),
            "sinks.write_experiment_result_s": (busy("sinks.write_experiment_result"), "s"),
            "spark.jobs": (u["spark.jobs"], "count"),
            "spark.tasks": (u["spark.tasks"], "count"),
            "trace.unattributed_s": (u["makespan_s"] - union_s(top), "s"),
        })
    metrics = {
        name: (statistics.median(r[name][0] for r in rows), unit) for name, (_v, unit) in rows[0].items()
    } if rows else {}
    traced_ms = statistics.median(u["makespan_s"] for u in traced) if traced else 0.0
    plain_ms = statistics.median(u["makespan_s"] for u in plain) if plain else 0.0
    metrics["trace.makespan_s"] = (traced_ms, "s")
    metrics["trace.overhead_s"] = (traced_ms - plain_ms, "s")
    info = {"traced_units": len(traced), "untraced_units": len(plain), "untraced_makespan_s": plain_ms}
    return metrics, info


# -- entry point ------------------------------------------------------------


def _timeout(signum, frame):
    raise TimeoutError(f"benchmark run exceeded {WATCHDOG_S} s")


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "maggy_spark" / "__init__.py").is_file():
        print(f"perfbench: no maggy_spark package under {ROOT}; run from a full checkout", file=sys.stderr)
        return 2
    work = WORK / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "spark-local", "warehouse"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    # before numpy/pyspark load: scratch files stay in the checkout and
    # numpy trials stay single-threaded on every Python worker
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["OMP_NUM_THREADS"] = "1"
    sys.path.insert(0, str(ROOT))
    try:
        import maggy_spark  # noqa: F401
        from workloads import WORKLOADS
    except ImportError as e:
        print(f"perfbench: cannot import the program: {e}", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        return 2

    signal.signal(signal.SIGALRM, _timeout)
    signal.alarm(WATCHDOG_S)
    run = Run(WORKLOADS[args.workload], args.seed, args.seconds, bool(args.trace), work)
    phases = {"start": time.perf_counter()}
    try:
        setup_times = run.setup()
        phases["setup"] = time.perf_counter()
        run.measure()
        phases["measure"] = time.perf_counter()
        rss_mb = (jvm_peak_rss_kb(run.spark) + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024.0
        if args.trace:
            metrics, info = per_layer(run)
            spans_dir = WORK / "spans"
            spans_dir.mkdir(parents=True, exist_ok=True)
            spans_path = spans_dir / f"{args.workload}-seed{args.seed}.jsonl"
            run.tracer.write(str(spans_path))
            info["spans"] = str(spans_path.relative_to(ROOT))
        else:
            metrics, info = end_to_end(run, setup_times, rss_mb)
    finally:
        signal.alarm(0)
        run.patches.restore()
        stop_spark(run.spark)
        shutil.rmtree(work, ignore_errors=True)
        phases["stop"] = time.perf_counter()

    marks = list(phases.items())
    info["phase_s"] = {name: round(t - marks[i][1], 3) for i, (name, t) in enumerate(marks[1:])}

    info["inputs"] = run.workload.inputs()
    info["error_rate"] = run.failed / max(run.attempted, 1)
    for line in run.failures[:20]:
        print(f"# FAILED {line}")
    print(f"# workload {args.workload}: {json.dumps(info, sort_keys=True)}")
    for name, (value, unit) in metrics.items():
        print(f"{name} {value:.6g} {unit}")
    print(f"error_rate {info['error_rate']:.6g} ratio ({run.failed} failed / {run.attempted} attempted)")
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {name: {"value": value, "unit": unit} for name, (value, unit) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
