"""ExperimentStore: live relational analytics over a running
experiment's trials/metrics tables."""

from contextlib import contextmanager

import pytest

from maggy_spark.store import ExperimentStore
from maggy_spark.trial import Trial


def _trial(seq, metric, budget=0, steps=(1.0, 2.0, 3.0)):
    t = Trial({"x": seq})
    for i, v in enumerate(steps):
        t.append_metric(v * metric, i)
    t.finalize(metric)
    t.info_dict["seq"] = seq
    t.info_dict["budget"] = budget
    return t


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    tmp_path = tmp_path_factory.mktemp("store")
    s = ExperimentStore(spark, str(tmp_path / "exp"), direction="max")
    wave1 = [_trial(1, 10.0, budget=1), _trial(2, 30.0, budget=1)]
    s.append_trials(wave1)
    s.append_metrics(wave1)
    wave2 = [_trial(3, 20.0, budget=2), _trial(4, 40.0, budget=2)]
    s.append_trials(wave2)
    s.append_metrics(wave2)
    return s


def test_incremental_appends_visible(store):
    assert store.trials().count() == 4
    assert store.metrics().count() == 12


def test_result_summary_matches_kernel_shape(store):
    res = store.result_summary()
    assert res["best_val"] == 40.0 and res["worst_val"] == 10.0
    assert res["num_trials"] == 4
    assert res["avg"] == pytest.approx(25.0)


def test_budget_stats_direction_aware(store):
    rows = {r.budget: r for r in store.budget_stats().collect()}
    # direction='max': ybest is the BEST (largest) metric
    assert rows[1].ybest == 30.0 and rows[1].yworst == 10.0
    assert rows[2].ybest == 40.0 and rows[2].yworst == 20.0
    assert rows[2].n_trials == 2


def test_result_summary_ignores_null_metrics(spark, tmp_path):
    s = ExperimentStore(spark, str(tmp_path / "nullm"), direction="max")
    good = [_trial(1, 10.0), _trial(2, 5.0)]
    broken = Trial({"x": 99})
    broken.finalize(None)  # finalized without a metric
    broken.info_dict["seq"] = 3
    s.append_trials(good + [broken])
    res = s.result_summary()
    assert res["worst_val"] == 5.0  # not the null-metric trial
    assert res["best_val"] == 10.0
    assert res["num_trials"] == 3  # still counted


def test_append_without_seq_stays_unique(spark, tmp_path):
    s = ExperimentStore(spark, str(tmp_path / "seqless"), direction="max")

    def bare(metric):
        t = Trial({"m": metric})
        t.finalize(metric)
        return t

    s.append_trials([bare(1.0), bare(2.0)])
    s.append_trials([bare(3.0), bare(4.0)])
    seqs = [r.seq for r in s.trials().collect()]
    assert len(seqs) == len(set(seqs)) == 4  # unique across waves


def test_promotable_top_half(store):
    promo = {r.rung: r.trial_id for r in store.promotable(eta=2).collect()}
    # per rung: top floor(2/2)=1 by metric desc
    t = {r.seq: r.trial_id for r in store.trials().collect()}
    assert promo[1] == t[2]  # metric 30 beats 10
    assert promo[2] == t[4]  # metric 40 beats 20


def test_median_bar(store):
    # prefix means over first 3 steps: 2*metric for each trial ->
    # [20, 60, 40, 80]; median = 50
    assert store.median_bar(step_limit=3) == pytest.approx(50.0)


def test_empty_store_summary(spark, tmp_path):
    s = ExperimentStore(spark, str(tmp_path / "empty"))
    s.append_trials([])
    with pytest.raises(Exception):
        s.trials().count()  # nothing written yet -> no parquet path


def test_lagom_streams_to_store(spark, tmp_path):
    from maggy_spark import Searchspace, lagom
    from maggy_spark.config import HyperparameterOptConfig

    def fn(x, reporter):
        reporter.broadcast(x, 0)
        reporter.broadcast(x * 2, 1)
        return x

    cfg = HyperparameterOptConfig(
        name="live_exp", num_trials=6, optimizer="randomsearch",
        searchspace=Searchspace(x=("DOUBLE", [0, 1])),
        direction="max", es_policy="none", seed=4, parallelism=3,
        log_dir=str(tmp_path), stream_artifacts=True,
    )
    res = lagom(fn, cfg, spark)
    live = ExperimentStore(spark, f"{tmp_path}/live_exp_0/live", direction="max")
    assert live.trials().count() == 6
    assert live.metrics().count() == 12  # 2 broadcasts per trial
    summary = live.result_summary()
    assert summary["best_val"] == res["best_val"]
    assert summary["num_trials"] == 6


def test_streaming_run_keeps_single_dir(spark, tmp_path):
    from maggy_spark import Searchspace, lagom
    from maggy_spark.config import HyperparameterOptConfig
    import os

    cfg = HyperparameterOptConfig(
        name="single_dir", num_trials=2, optimizer="randomsearch",
        searchspace=Searchspace(x=("DOUBLE", [0, 1])),
        direction="max", es_policy="none", seed=9,
        log_dir=str(tmp_path), stream_artifacts=True,
    )
    res = lagom(lambda x: x, cfg, spark)
    # live store and final artifacts share one run dir
    assert res["log_dir"].endswith("single_dir_0")
    assert os.path.isdir(f"{res['log_dir']}/live")
    assert os.path.exists(f"{res['log_dir']}/result.json")
    assert not os.path.isdir(f"{tmp_path}/single_dir_1")


def test_promotable_min_direction_ignores_null_metrics(spark, tmp_path):
    s = ExperimentStore(spark, str(tmp_path / "minp"), direction="min")
    broken = Trial({"x": 99})
    broken.finalize(None)  # finalized, no metric: must never win a rung
    broken.info_dict["seq"] = 3
    s.append_trials([_trial(1, 10.0, budget=1), _trial(2, 5.0, budget=1), broken])
    promo = s.promotable(eta=2).collect()
    assert [r.trial_id for r in promo] != []
    # min direction, rung budget=1, floor(2/2)=1 slot: metric 5.0
    # wins and the null-metric trial is excluded everywhere
    t = {r.seq: r.trial_id for r in s.trials().collect()}
    assert [r.trial_id for r in promo if r.rung == 1] == [t[2]]
    assert all(r.final_metric is not None for r in promo)


def test_append_rebases_preset_seq_across_handles(spark, tmp_path):
    path = str(tmp_path / "tworuns")
    s1 = ExperimentStore(spark, path, direction="max")
    s1.append_trials([_trial(1, 1.0), _trial(2, 2.0)])
    # a SECOND run (fresh handle) appends its own 1-based seqs
    s2 = ExperimentStore(spark, path, direction="max")
    s2.append_trials([_trial(1, 3.0), _trial(2, 4.0)])
    seqs = sorted(r.seq for r in s2.trials().collect())
    assert seqs == [1, 2, 3, 4]  # unique and monotone, not 1,1,2,2


LEGACY_TRIALS_DDL = (
    "trial_id string, seq bigint, params map<string,string>, budget int, "
    "sample_type string, status string, direction string, final_metric double, "
    "early_stop boolean, duration_ms bigint"
)


def test_trials_schema_derived_from_arrow_matches_legacy_ddl(spark):
    from maggy_spark.store import TRIALS_SCHEMA

    assert TRIALS_SCHEMA == spark.createDataFrame([], LEGACY_TRIALS_DDL).schema


def test_pyarrow_appends_keep_spark_schema(spark, tmp_path):
    import os

    from maggy_spark.experiment import trials_to_df
    from maggy_spark.store import METRICS_SCHEMA

    s = ExperimentStore(spark, str(tmp_path / "fmt"), direction="max")
    trials = [_trial(1, 10.0, budget=1), _trial(2, 30.0, budget=2)]
    s.append_trials(trials)
    s.append_metrics(trials)
    assert s.trials().schema == trials_to_df(spark, trials, "max").schema
    assert s.metrics().schema == METRICS_SCHEMA
    for table in ("trials", "metrics"):
        assert not [n for n in os.listdir(tmp_path / "fmt" / table) if n.startswith(".")]
    rows = {r.trial_id: r for r in s.trials().collect()}
    assert rows[trials[1].trial_id].params == {"x": "2"}
    assert rows[trials[1].trial_id].budget == 2


def test_store_first_written_by_spark_stays_readable(spark, tmp_path):
    """A store whose first append was written by Spark (the store's
    earlier format) reads back and summarizes after a pyarrow append."""
    from maggy_spark.experiment import trials_to_df
    from maggy_spark.store import METRICS_SCHEMA

    path = tmp_path / "legacy"
    old = [_trial(1, 10.0, budget=1), _trial(2, 30.0, budget=1)]
    trials_to_df(spark, old, "max").coalesce(1).write.mode("append").parquet(str(path / "trials"))
    spark.createDataFrame(
        [(t.trial_id, s, v) for t in old for s, v in zip(t.step_history, t.metric_history)], METRICS_SCHEMA
    ).coalesce(1).write.mode("append").parquet(str(path / "metrics"))

    s = ExperimentStore(spark, str(path), direction="max")
    new = [_trial(1, 20.0, budget=2), _trial(2, 40.0, budget=2)]
    s.append_trials(new)
    s.append_metrics(new)
    assert sorted(r.seq for r in s.trials().collect()) == [1, 2, 3, 4]
    assert s.metrics().count() == 12
    res = s.result_summary()
    assert (res["best_id"], res["best_val"]) == (new[1].trial_id, 40.0)
    assert (res["worst_id"], res["worst_val"]) == (old[0].trial_id, 10.0)
    assert res["num_trials"] == 4 and res["avg"] == pytest.approx(25.0)


def test_next_seq_read_errors_propagate(spark, tmp_path):
    """seq restarts at 0 only when there is no data file; an
    unreadable one must fail the append, not silently reuse seqs."""
    import pyarrow as pa

    path = tmp_path / "broken"
    (path / "trials").mkdir(parents=True)
    (path / "trials" / "_SUCCESS").write_text("")
    assert ExperimentStore(spark, str(path))._next_seq() == 0
    (path / "trials" / "part-0.parquet").write_bytes(b"not parquet")
    with pytest.raises(pa.ArrowInvalid):
        ExperimentStore(spark, str(path)).append_trials([_trial(1, 1.0)])


def test_written_files_carry_the_arrow_schema(tmp_path):
    """`trials()`/`metrics()` read with the pinned Spark schema, so the
    read-back schema checks above no longer see what was written: pin
    each file's footer to the Arrow schema instead."""
    import os

    import pyarrow.parquet as pq

    from maggy_spark.store import METRICS_ARROW_SCHEMA, TRIALS_ARROW_SCHEMA

    s = ExperimentStore(None, str(tmp_path / "footer"), direction="max")
    for wave in ([_trial(1, 10.0, budget=1)], [_trial(2, 30.0, budget=2), _trial(3, 5.0)]):
        s.append_trials(wave)
        s.append_metrics(wave)
    for table, schema in (("trials", TRIALS_ARROW_SCHEMA), ("metrics", METRICS_ARROW_SCHEMA)):
        files = sorted(os.listdir(tmp_path / "footer" / table))
        assert len(files) == 2, files
        for name in files:
            assert pq.read_schema(tmp_path / "footer" / table / name).equals(schema), (table, name)


# -- Spark jobs per kernel read -----------------------------------------


def _jobs_run(spark, read) -> int:
    """Spark jobs that `read()` runs, counted under its own job group."""
    import uuid

    sc = spark.sparkContext
    group = f"store-read-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        read()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _kernel_reads(s):
    return {
        "result_summary": s.result_summary,
        "budget_stats": lambda: s.budget_stats().collect(),
        "promotable": lambda: s.promotable(2).collect(),
        "median_bar": s.median_bar,
    }


def test_small_store_reads_run_one_job_each(spark, tmp_path):
    """Every kernel read runs on the driver with no Spark job: the
    DataFrame kernels return a local relation, collected without one."""
    s = ExperimentStore(spark, str(tmp_path / "onejob"), direction="max")
    for wave in range(3):
        trials = [_trial(2 * wave + 1, 10.0 + wave, budget=1 + wave % 2), _trial(2 * wave + 2, 5.0, budget=1)]
        s.append_trials(trials)
        s.append_metrics(trials)
    want = {"result_summary": 0, "budget_stats": 0, "promotable": 0, "median_bar": 0}
    assert {name: _jobs_run(spark, read) for name, read in _kernel_reads(s).items()} == want


def _tricky_min_store(spark, path):
    """direction='min' with a tie, a null-metric FINALIZED row, a NaN
    metric and an ERROR row, over three appends. Each trial reports
    steps 0..4 with value base + step, so its mean over steps 0..3 is
    base + 1.5. Returns the store, the trial ids by name and the
    trials."""
    s = ExperimentStore(spark, path, direction="min")
    waves = [
        # (name, budget, status, final_metric, early_stop, base)
        [("A", 1, "FINALIZED", 2.0, False, 0.0), ("B", 1, "FINALIZED", 2.0, False, 1.0),
         ("C", 1, "FINALIZED", None, False, 2.0)],
        [("D", 2, "FINALIZED", float("nan"), False, 3.0), ("E", 2, "FINALIZED", 5.0, True, 4.0),
         ("F", 2, "ERROR", None, False, 100.0)],
        [("G", 1, "FINALIZED", 3.0, False, 5.0)],
    ]
    ids, appended = {}, []
    for wave in waves:
        trials = []
        for name, budget, status, metric, early_stop, base in wave:
            t = Trial({"name": name})
            for step in range(5):
                t.append_metric(base + step, step)
            t.finalize(metric)
            t.status = status
            t.early_stop = early_stop
            t.info_dict["budget"] = budget
            ids[name] = t.trial_id
            trials.append(t)
        s.append_trials(trials)
        s.append_metrics(trials)
        appended += trials
    return s, ids, appended


def test_kernel_semantics_on_tricky_min_store(spark, tmp_path):
    import math

    s, ids, _trials = _tricky_min_store(spark, str(tmp_path / "tricky"))
    name = {v: k for k, v in ids.items()}
    assert {r.trial_id: r.seq for r in s.trials().collect()} == {ids[n]: i + 1 for i, n in enumerate("ABCDEFG")}

    # A1: NaN orders above every number, and -NaN is NaN, so D wins
    # best under min; worst is the largest metric, E. C (null) counts
    # but is not scored; F (ERROR) is not counted.
    res = s.result_summary()
    assert (name[res["best_id"]], name[res["worst_id"]]) == ("D", "E")
    assert math.isnan(res["best_val"]) and res["worst_val"] == 5.0 and math.isnan(res["avg"])
    assert (res["num_trials"], res["early_stopped"]) == (6, 1)

    # A4 under min: ybest = min, yworst = max; NaN is the max
    rows = {r.budget: r for r in s.budget_stats().collect()}
    assert sorted(rows) == [1, 2]
    assert (rows[1].ybest, rows[1].yworst, rows[1].n_trials) == (2.0, 3.0, 3)
    assert rows[1].ymean == pytest.approx(7.0 / 3)
    assert rows[2].ybest == 5.0 and math.isnan(rows[2].yworst) and math.isnan(rows[2].ymean)
    assert rows[2].n_trials == 2

    # G5 ascending, ties broken by seq (A before B), NaN last
    def promo(eta):
        return sorted((r.rung, r.rank, name[r.trial_id]) for r in s.promotable(eta).collect())

    assert promo(1) == [(1, 1, "A"), (1, 2, "B"), (1, 3, "G"), (2, 1, "E"), (2, 2, "D")]
    assert promo(2) == [(1, 1, "A"), (2, 1, "E")]
    assert promo(3) == [(1, 1, "A")]

    # A8 over FINALIZED trials only (A B C D E G, not F): the step 0..3
    # means are 1.5 2.5 3.5 4.5 5.5 6.5, median 4.0; at step 0 the
    # values are 0 1 2 3 4 5, median 2.5
    assert s.median_bar() == pytest.approx(4.0)
    assert s.median_bar(step_limit=0) == pytest.approx(2.5)


# Spark's file splits for the trials table (the oracles' scan): with no
# open cost and a minimum of one partition, a small table is one split;
# 3 files x the 4 MB default open cost no longer fit one 8 MB split.
ONE_SPLIT = {"spark.sql.files.minPartitionNum": "1", "spark.sql.files.openCostInBytes": "0"}
PAST_ONE_SPLIT = {"spark.sql.files.maxPartitionBytes": "8m"}


@contextmanager
def _spark_conf(spark, conf: dict):
    for key, value in conf.items():
        spark.conf.set(key, value)
    try:
        yield
    finally:
        for key in conf:
            spark.conf.unset(key)


def _at_one_split_and_past(spark, s, check):
    """Run `check()` with the trials table read as one Spark partition,
    then as several."""
    with _spark_conf(spark, ONE_SPLIT):
        assert s.trials().rdd.getNumPartitions() == 1
        check()
    with _spark_conf(spark, PAST_ONE_SPLIT):
        assert s.trials().rdd.getNumPartitions() > 1
        check()


def test_store_past_one_split_reads_the_same(spark, tmp_path):
    """A table larger than one file split answers the same as one that
    fits one split."""
    s, _ids, _trials = _tricky_min_store(spark, str(tmp_path / "split"))

    def answers():
        rows = {k: read() for k, read in _kernel_reads(s).items()}
        return repr({k: sorted(v) if isinstance(v, list) else v for k, v in rows.items()})

    with _spark_conf(spark, ONE_SPLIT):
        assert s.trials().rdd.getNumPartitions() == 1
        small = answers()
    with _spark_conf(spark, PAST_ONE_SPLIT):
        assert s.trials().rdd.getNumPartitions() > 1
        assert answers() == small


# -- the driver-side scalar kernels against their SQL oracles -----------


def _exact(summary: dict) -> dict:
    """`summary` with each float replaced by its repr, so `==` is exact
    equality with NaN equal to NaN."""
    return {k: repr(v) if isinstance(v, float) else v for k, v in summary.items()}


def _assert_scalar_reads_match_oracles(spark, s, trials, step_limits=(0, 3)):
    """result_summary and median_bar against the Spark SQL oracles over
    the same files: ids, values, counts and bars exactly. avg is exactly
    _aggregate_result's over the trials that were appended; Spark sums
    it in the order its file splits are packed, so the oracle's avg may
    differ in the last bits."""
    from maggy_spark.experiment import _aggregate_result
    from tests.store_oracles import median_bar_sql, summarize_finalized

    got = s.result_summary()
    want = summarize_finalized(s.trials().where("status = 'FINALIZED'"), s.direction)
    assert got.keys() == want.keys()
    assert _exact(got) == _exact(_aggregate_result(trials, s.direction))
    if "avg" in want:
        assert got.pop("avg") == pytest.approx(want.pop("avg"), rel=1e-12, nan_ok=True)
    assert _exact(got) == _exact(want)
    for step_limit in step_limits:
        bar, want_bar = s.median_bar(step_limit), median_bar_sql(spark, s.trials(), s.metrics(), step_limit)
        assert repr(bar) == repr(want_bar), step_limit


@pytest.mark.parametrize("direction", ["min", "max"])
def test_scalar_reads_match_sql_oracles_on_tricky_store(spark, tmp_path, direction):
    """A tie, a null metric, NaN, an ERROR row and an early stop, read
    at one file split and past one split."""
    s, _ids, trials = _tricky_min_store(spark, str(tmp_path / "tricky"))
    s = ExperimentStore(spark, s.path, direction=direction)
    _at_one_split_and_past(spark, s, lambda: _assert_scalar_reads_match_oracles(spark, s, trials, (-1, 0, 2, 3, 4)))


@pytest.fixture(scope="module")
def waves_store(spark, tmp_path_factory):
    """A seeded 300-wave store of 4 trials a wave over budgets 1..3,
    with early stops and ERROR rows, and its trials."""
    import random

    rnd = random.Random(300)
    s = ExperimentStore(spark, str(tmp_path_factory.mktemp("waves") / "store"), direction="max")
    trials = []
    for w in range(300):
        wave = []
        for i in range(4):
            t = Trial({"x": rnd.random(), "wave": w, "slot": i})
            for step in range(8):
                t.append_metric(rnd.random(), step)
            t.finalize(rnd.random())
            t.early_stop = (w + i) % 5 == 0
            if (w + i) % 11 == 0:
                t.status = Trial.ERROR
            t.info_dict["budget"] = 1 + (w + i) % 3
            wave.append(t)
        s.append_trials(wave)
        s.append_metrics(wave)
        trials += wave
    return s, trials


def test_scalar_reads_match_sql_oracles_on_300_waves(spark, waves_store):
    s, trials = waves_store
    for direction in ("max", "min"):
        _assert_scalar_reads_match_oracles(spark, ExperimentStore(spark, s.path, direction), trials, (0, 3, 7))


def test_median_bar_sorts_nan_greatest_like_percentile(spark, tmp_path):
    """A NaN trial mean sorts above every number: with 3 means it sits
    past the median, with 4 the median interpolates between numbers,
    with 2 it interpolates into NaN."""
    from tests.store_oracles import median_bar_sql

    nan = float("nan")
    for means, bar in (([1.0, nan, 3.0], 3.0), ([2.0, nan, 1.0, 3.0], 2.5), ([1.0, nan], nan)):
        s = ExperimentStore(spark, str(tmp_path / f"nan{len(means)}"), direction="max")
        trials = [_trial(seq, 1.0, steps=(m, m)) for seq, m in enumerate(means, 1)]
        s.append_trials(trials)
        s.append_metrics(trials)
        got = s.median_bar()
        assert repr(got) == repr(median_bar_sql(spark, s.trials(), s.metrics()))
        assert repr(got) == repr(bar)


def test_result_dict_store_and_sink_agree_without_spark(tmp_path):
    """The result dict, the live store and the finalize sink's trials
    relation give the same A1 summary, with no Spark session; the
    scalar reads raise while a table has no file yet."""
    import os
    from types import SimpleNamespace

    import pyarrow.parquet as pq

    from maggy_spark.experiment import _aggregate_result, _persist_experiment
    from maggy_spark.store import summarize_trials

    s = ExperimentStore(None, str(tmp_path / "live"), direction="min")
    with pytest.raises(FileNotFoundError):
        s.result_summary()
    with pytest.raises(FileNotFoundError):
        s.median_bar()
    null_metric = Trial({"x": 9})
    null_metric.finalize(None)
    # tie on 2.0 (seq 1 and 2), one null metric
    wave1 = [_trial(1, 2.0), _trial(2, 2.0, steps=(4.0,)), null_metric]
    s.append_trials(wave1)
    with pytest.raises(FileNotFoundError):
        s.median_bar()  # trials written, metrics not yet
    s.append_metrics(wave1)
    error, stopped = _trial(5, 100.0), _trial(6, 3.0)
    error.status, stopped.early_stop = Trial.ERROR, True
    wave2 = [_trial(4, 0.5), error, stopped]
    s.append_trials(wave2)
    s.append_metrics(wave2)
    trials = wave1 + wave2

    result = _aggregate_result(trials, "min")
    assert (result["best_id"], result["worst_id"]) == (wave2[0].trial_id, stopped.trial_id)
    assert (result["num_trials"], result["early_stopped"]) == (5, 1)
    exp_dir = str(tmp_path / "exp")
    _persist_experiment(SimpleNamespace(direction="min"), trials, result, exp_dir)
    sink = summarize_trials(pq.read_table(os.path.join(exp_dir, "trials")).to_pylist(), "min")
    assert _exact(result) == _exact(s.result_summary()) == _exact(sink)
    # FINALIZED means over steps 0..2: 4, 8, 1 and 6 (the ERROR trial
    # and the metric-less one are out): median of [1, 4, 6, 8] is 5
    assert s.median_bar() == 5.0


# -- the driver-side DataFrame kernels against their SQL oracles --------


def _assert_frame_reads_match_oracles(spark, s, etas=(1, 2, 3)):
    """budget_stats and promotable against the Spark SQL oracles over
    the same files: the same schema, nullability included, and the same
    rows exactly, except ymean within rel 1e-12 (Spark sums it in the
    order its file splits are packed)."""
    from tests.store_oracles import budget_stats_sql, promotable_sql

    got, want = s.budget_stats(), budget_stats_sql(spark, s.trials(), s.direction)
    assert got.schema == want.schema
    got, want = (sorted((r.asDict() for r in df.collect()), key=lambda r: r["budget"]) for df in (got, want))
    assert [r["budget"] for r in got] == [r["budget"] for r in want]
    for g, w in zip(got, want):
        assert g.pop("ymean") == pytest.approx(w.pop("ymean"), rel=1e-12, nan_ok=True)
        assert _exact(g) == _exact(w)
    for eta in etas:
        got, want = s.promotable(eta), promotable_sql(spark, s.trials(), s.direction, eta)
        assert got.schema == want.schema, eta
        got, want = ([_exact(r.asDict()) for r in sorted(df.collect(), key=lambda r: (r.rung, r.rank))]
                     for df in (got, want))
        assert got == want, eta


@pytest.mark.parametrize("direction", ["min", "max"])
def test_frame_reads_match_sql_oracles_on_tricky_store(spark, tmp_path, direction):
    """A tie, a null metric, NaN, an ERROR row and an early stop, read
    at one file split and past one split."""
    s, _ids, _trials = _tricky_min_store(spark, str(tmp_path / "tricky"))
    s = ExperimentStore(spark, s.path, direction=direction)
    _at_one_split_and_past(spark, s, lambda: _assert_frame_reads_match_oracles(spark, s))


@pytest.mark.parametrize("direction", ["min", "max"])
def test_frame_reads_match_sql_oracles_on_300_waves(spark, waves_store, direction):
    s = ExperimentStore(spark, waves_store[0].path, direction)
    _at_one_split_and_past(spark, s, lambda: _assert_frame_reads_match_oracles(spark, s))


@pytest.mark.parametrize("direction", ["min", "max"])
def test_promotable_breaks_ties_by_seq_not_file_order(spark, tmp_path, direction):
    """A batch is written in list order, so the file can hold seq 2
    before seq 1: the tie on 5.0 still goes to seq 1."""
    s = ExperimentStore(spark, str(tmp_path / "ties"), direction=direction)
    other = 1.0 if direction == "max" else 9.0
    trials = [_trial(2, 5.0, budget=1), _trial(1, 5.0, budget=1), _trial(3, other, budget=1)]
    s.append_trials(trials)
    assert [r.seq for r in s.trials().collect()] == [2, 1, 3]
    assert [(r.rank, r.trial_id) for r in s.promotable(3).collect()] == [(1, trials[1].trial_id)]
    _assert_frame_reads_match_oracles(spark, s)


@pytest.mark.parametrize("unscored", ["error_rows", "null_metrics"])
def test_frame_reads_with_no_scored_trial_are_empty(spark, tmp_path, unscored):
    """No FINALIZED trial with a metric: both reads are empty, with the
    oracles' schema."""
    from tests.store_oracles import budget_stats_sql, promotable_sql

    s = ExperimentStore(spark, str(tmp_path / unscored), direction="min")
    trials = [_trial(1, 1.0, budget=1), _trial(2, 2.0, budget=2)]
    for t in trials:
        if unscored == "error_rows":
            t.status = Trial.ERROR
        else:
            t.finalize(None)
    s.append_trials(trials)
    got, want = s.budget_stats(), budget_stats_sql(spark, s.trials(), s.direction)
    assert got.schema == want.schema
    assert got.collect() == want.collect() == []
    for eta in (1, 2):
        got, want = s.promotable(eta), promotable_sql(spark, s.trials(), s.direction, eta)
        assert got.schema == want.schema
        assert got.collect() == want.collect() == []


@pytest.mark.parametrize("eta", [0, -1, 1.5, True])
def test_promotable_rejects_eta_that_is_not_an_int_from_one(tmp_path, eta):
    """Checked before the store is read, with no Spark session: at 0 the
    SQL raised DIVIDE_BY_ZERO when collected, below 0 it returned no row."""
    s = ExperimentStore(None, str(tmp_path / "eta"))
    with pytest.raises(ValueError, match="eta"):
        s.promotable(eta)


def test_frame_reads_raise_before_the_trials_table_has_a_file(tmp_path):
    s = ExperimentStore(None, str(tmp_path / "nofile"))
    with pytest.raises(FileNotFoundError):
        s.budget_stats()
    with pytest.raises(FileNotFoundError):
        s.promotable(2)
