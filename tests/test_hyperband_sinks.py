"""Hyperband controller golden scenario, sinks round-trip, callbacks."""

import json

import pytest

from maggy_spark import Searchspace, lagom
from maggy_spark.callbacks import KerasBatchEnd, KerasEpochEnd
from maggy_spark.config import HyperparameterOptConfig
from maggy_spark.experiment import trials_to_df
from maggy_spark.hyperband import Hyperband
from maggy_spark.reporter import Reporter
from maggy_spark.sources import (
    read_experiment,
    read_trial_summaries,
    write_experiment_result,
    write_trial_artifacts,
)


def test_hyperband_golden_schedule():
    hb = Hyperband(min_budget=1, max_budget=9, eta=3, n_iterations=2)
    hb.initialize(Searchspace(x=("DOUBLE", [0, 1])), 0, "max", 42)
    sched = {(s["iteration"], s["rung"]): (s["budget"], s["n_configs"]) for s in hb.schedule()}
    # golden from FIXTURES.md F6 (reference hyperband.py:115-124,200-209)
    assert sched == {
        (0, 0): (1, 9), (0, 1): (3, 3), (0, 2): (9, 1),
        (1, 1): (3, 3), (1, 2): (9, 1),
    }
    assert hb.num_trials == 9 + 3 + 1 + 3 + 1


def test_hyperband_e2e_promotes_best(spark):
    def fn(x, budget=1):
        return x * budget  # richer budget + better x wins

    hb = Hyperband(min_budget=1, max_budget=9, eta=3, n_iterations=2)
    config = HyperparameterOptConfig(
        optimizer=hb, searchspace=Searchspace(x=("DOUBLE", [0.0, 1.0])),
        direction="max", es_policy="none", seed=17, parallelism=16, num_trials=0,
    )
    res = lagom(fn, config, spark)
    assert res["num_trials"] == 17
    # the winner must come from the top rung (budget 9)
    best = next(t for t in hb.final_store if t.trial_id == res["best_id"])
    assert best.info_dict["budget"] == 9
    # rung ledger: iteration 0 rung 1 holds exactly 3 trials, all promoted
    rungs = hb.rungs_df(spark)
    r01 = rungs.where("iteration = 0 AND rung = 1").collect()
    assert len(r01) == 3 and all(r.promoted for r in r01)
    # promoted trials carry their source id
    assert all(r.original_trial_id != r.trial_id for r in r01)


def test_hyperband_promotes_in_metric_order(spark):
    captured = {}

    def fn(x, budget=1):
        return x

    hb = Hyperband(min_budget=1, max_budget=4, eta=2, n_iterations=1)
    config = HyperparameterOptConfig(
        optimizer=hb, searchspace=Searchspace(x=("DOUBLE", [0.0, 1.0])),
        direction="max", es_policy="none", seed=3, parallelism=8, num_trials=0,
    )
    lagom(fn, config, spark)
    rung0 = [t for t in hb.final_store if t.info_dict["rung"] == 0]
    rung1 = [t for t in hb.final_store if t.info_dict["rung"] == 1]
    top_x = sorted((t.params["x"] for t in rung0), reverse=True)[: len(rung1)]
    assert sorted(t.params["x"] for t in rung1) == sorted(top_x)


def test_sinks_roundtrip(spark, tmp_path):
    from maggy_spark.trial import Trial

    trials = []
    for i, m in enumerate([3.0, 1.0, 2.0]):
        t = Trial({"x": i})
        t.finalize(m)
        t.info_dict["seq"] = i
        trials.append(t)
    df = trials_to_df(spark, trials, "max")
    log_dir = str(tmp_path / "exp")
    write_trial_artifacts(df, log_dir, buckets=4)
    write_experiment_result({"best_val": 3.0, "num_trials": 3}, log_dir)

    back = read_experiment(spark, log_dir)
    assert back.count() == 3
    summ = read_trial_summaries(spark, log_dir).collect()
    assert [r.final_metric for r in summ] == [3.0, 2.0, 1.0]  # best-first
    with open(f"{log_dir}/result.json") as f:
        assert json.load(f)["best_val"] == 3.0


def test_keras_callbacks_report():
    rep = Reporter()
    cb = KerasBatchEnd(rep, metric="loss")
    cb.on_batch_end(0, {"loss": 1.0})
    cb.on_batch_end(1, {"loss": 0.5})
    cb.on_batch_end(2, {})  # missing metric ignored
    ce = KerasEpochEnd(rep, metric="val_loss")
    ce.on_epoch_end(5, {"val_loss": 0.25})
    assert rep.metric_history == [1.0, 0.5, 0.25]
    assert rep.step_history == [0, 1, 5]


def test_lagom_persists_artifacts(spark, tmp_path):
    from maggy_spark.sources import read_experiment, read_trial_summaries

    def fn(x):
        return x * 2

    config = HyperparameterOptConfig(
        name="exp_persist", num_trials=3, optimizer="randomsearch",
        searchspace=Searchspace(x=("DOUBLE", [0, 1])),
        direction="max", es_policy="none", seed=1, log_dir=str(tmp_path),
    )
    res = lagom(fn, config, spark)
    assert res["log_dir"].endswith("exp_persist_0")
    with open(f"{res['log_dir']}/result.json") as f:
        assert json.load(f)["best_id"] == res["best_id"]
    assert read_experiment(spark, res["log_dir"]).count() == 3
    top = read_trial_summaries(spark, res["log_dir"]).limit(1).collect()[0]
    assert top.final_metric == res["best_val"]
    # second run increments the run id
    res2 = lagom(fn, config, spark)
    assert res2["log_dir"].endswith("exp_persist_1")


def test_gp_mixed_searchspace(spark):
    """BO over DOUBLE + INTEGER + CATEGORICAL dims end-to-end."""
    from maggy_spark.bayes import GP

    def fn(lr, layers, act):
        base = {"relu": 0.0, "tanh": 0.1}[act]
        return (lr - 0.3) ** 2 + (layers - 4) ** 2 / 100.0 + base

    sp = Searchspace(
        lr=("DOUBLE", [0.0, 1.0]),
        layers=("INTEGER", [1, 8]),
        act=("CATEGORICAL", ["relu", "tanh"]),
    )
    config = HyperparameterOptConfig(
        num_trials=12, optimizer=GP(n_points=400, num_warmup_trials=6),
        searchspace=sp, direction="min", es_policy="none", seed=6, parallelism=4,
    )
    res = lagom(fn, config, spark)
    assert res["num_trials"] == 12
    best = res["best_config"]
    assert isinstance(best["layers"], int) and 1 <= best["layers"] <= 8
    assert best["act"] in ("relu", "tanh")
    assert res["best_val"] < 0.3


def test_trial_summaries_best_first_respects_direction(spark, tmp_path):
    """direction='min': the LOWEST metric is best-first — metric-desc
    alone would return the worst trial at the head."""
    from maggy_spark.experiment import trials_to_df
    from maggy_spark.sources import read_trial_summaries, write_trial_artifacts
    from maggy_spark.trial import Trial

    trials = []
    for i, m in enumerate([3.0, 1.0, 2.0]):
        t = Trial({"x": i})
        t.finalize(m)
        t.info_dict["seq"] = i
        trials.append(t)
    log_dir = str(tmp_path / "minexp")
    write_trial_artifacts(trials_to_df(spark, trials, "min"), log_dir, buckets=2)
    summ = read_trial_summaries(spark, log_dir).collect()
    assert [r.final_metric for r in summ] == [1.0, 2.0, 3.0]


# -- the driver-side pyarrow artifact writer ---------------------------


def _artifact_trials(n, tag=""):
    from maggy_spark.trial import Trial

    trials = []
    for i in range(n):
        t = Trial({"x": i, "tag": tag})
        t.finalize(float(i))
        t.info_dict["seq"] = i
        trials.append(t)
    return trials


def test_bucket_is_sparks_crc32(spark):
    """zlib.crc32 over UTF-8, the driver-side writer's bucket, is the
    value Spark's crc32(trial_id) % 64 gives, non-ASCII ids included."""
    import hashlib
    import zlib

    from pyspark.sql import functions as F

    ids = [hashlib.md5(str(i).encode()).hexdigest()[:16] for i in range(200)]
    ids += [f"{p}-{i}" for p in ("é", "naïve", "試行", "проба", "🙂") for i in range(20)]
    got = {t: zlib.crc32(t.encode("utf-8")) % 64 for t in ids}
    df = spark.createDataFrame([(t,) for t in ids], "trial_id string")
    want = dict(df.select("trial_id", (F.crc32("trial_id") % 64).cast("int")).collect())
    assert got == want
    assert len(set(got.values())) > 32  # spread over the buckets


def test_pyarrow_artifacts_read_back_like_spark_written(spark, tmp_path):
    """The pyarrow-written relation and one written by Spark's own
    partitionBy read back alike, with `bucket: int` discovered from the
    directories whether the schema is passed or inferred."""
    import pyarrow as pa
    from pyspark.sql import functions as F

    from maggy_spark.sources.sinks import ARTIFACTS_SCHEMA
    from maggy_spark.store import TRIALS_ARROW_SCHEMA, trial_rows

    trials = _artifact_trials(40)
    ours, theirs = str(tmp_path / "ours"), str(tmp_path / "theirs")
    write_trial_artifacts(pa.Table.from_pylist(trial_rows(trials, "max"), schema=TRIALS_ARROW_SCHEMA), ours)
    (
        trials_to_df(spark, trials, "max")
        .withColumn("bucket", (F.crc32(F.col("trial_id")) % 64).cast("int"))
        .write.partitionBy("bucket")
        .parquet(f"{theirs}/trials")
    )
    for log_dir in (ours, theirs):
        assert spark.read.parquet(f"{log_dir}/trials").schema == ARTIFACTS_SCHEMA
    a, b = read_experiment(spark, ours), read_experiment(spark, theirs)
    assert a.schema == b.schema == ARTIFACTS_SCHEMA
    assert sorted(a.collect()) == sorted(b.collect())
    pairs = sorted((r.trial_id, r.bucket) for r in a.select("trial_id", "bucket").collect())
    assert len(pairs) == 40 and len({b for _, b in pairs}) > 1


def test_artifacts_overwrite_leaves_only_the_second_set(spark, tmp_path):
    import os

    log_dir = str(tmp_path / "twice")
    first, second = _artifact_trials(6, "first"), _artifact_trials(3, "second")
    write_trial_artifacts(trials_to_df(spark, first, "max"), log_dir)
    write_experiment_result({"num_trials": 6}, log_dir)
    write_trial_artifacts(trials_to_df(spark, second, "max"), log_dir)
    write_experiment_result({"num_trials": 3}, log_dir)
    ids = sorted(r.trial_id for r in read_experiment(spark, log_dir).collect())
    assert ids == sorted(t.trial_id for t in second)
    assert sorted(os.listdir(log_dir)) == ["result.json", "trials"]
    with open(f"{log_dir}/result.json") as f:
        assert json.load(f) == {"num_trials": 3}


def test_read_experiment_runs_no_schema_inference_job(spark, tmp_path):
    """read_experiment passes the relation's known schema: before an
    action it runs no Spark job (schema inference ran one per call)."""
    log_dir = str(tmp_path / "nojob")
    write_trial_artifacts(trials_to_df(spark, _artifact_trials(4), "max"), log_dir)
    sc = spark.sparkContext
    sc.setJobGroup("read-experiment-nojob", "read-experiment-nojob")
    try:
        df = read_experiment(spark, log_dir)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert sc.statusTracker().getJobIdsForGroup("read-experiment-nojob") == []
    assert df.count() == 4
