"""Regression tests for the round-1 code-review findings."""

import pytest

from maggy_spark import Searchspace, lagom
from maggy_spark.bayes import GP, TPE
from maggy_spark.config import HyperparameterOptConfig, TorchDistributedConfig
from maggy_spark.optimizers import Asha, get_controller


def test_hyperband_small_parallelism_runs_all_trials(spark):
    """Finding 1: parallelism < first-rung width must not drop trials."""
    def fn(x, budget=1):
        return x * budget

    hb = get_controller("hyperband", min_budget=1, max_budget=9, eta=3, n_iterations=2)
    config = HyperparameterOptConfig(
        optimizer=hb, searchspace=Searchspace(x=("DOUBLE", [0.0, 1.0])),
        direction="max", es_policy="none", seed=17, parallelism=4, num_trials=0,
    )
    res = lagom(fn, config, spark)
    assert res["num_trials"] == 17  # 9+3+1+3+1, nothing dropped
    best = next(t for t in hb.final_store if t.trial_id == res["best_id"])
    assert best.info_dict["budget"] == 9


def test_hyperband_async_small_parallelism(spark):
    """Finding 1 under async scheduling (next_batch(1))."""
    def fn(x, budget=1):
        return x * budget

    hb = get_controller("hyperband", min_budget=1, max_budget=4, eta=2, n_iterations=1)
    config = HyperparameterOptConfig(
        optimizer=hb, searchspace=Searchspace(x=("DOUBLE", [0.0, 1.0])),
        direction="max", es_policy="none", seed=3, parallelism=2,
        scheduling="async", num_trials=0,
    )
    res = lagom(fn, config, spark)
    assert res["num_trials"] == hb.num_trials  # full schedule executed


def test_ablation_by_value_pickling(spark):
    """Finding 2: a train_fn from a non-importable module must survive
    the ablation wrapper's closure."""
    from tests.test_bayes_ablation_dist import make_study

    study = make_study()

    # this module (tests.*) is not importable by executor workers
    def train_fn(dataset_function, label_name):
        pdf = dataset_function()
        return float(len(pdf.columns))

    from maggy_spark.config import AblationConfig

    res = lagom(train_fn, AblationConfig(ablation_study=study, direction="max"), spark)
    assert res["num_trials"] == 4  # no executor-side ModuleNotFoundError


def test_stream_early_stop_min_direction(spark):
    """Finding 3: direction='min' uses min-of-stream as best."""
    import datetime

    from maggy_spark.streaming import early_stop_decisions_stream

    def ts(s):
        return datetime.datetime(2026, 1, 1, 0, 0, s)

    finalized = spark.createDataFrame(
        [("f1", 10.0), ("f2", 20.0), ("f3", 30.0)], "trial_id string, pavg double"
    )
    import tempfile

    rows = [("t", 0, 25.0, ts(0)), ("t", 1, 5.0, ts(1))]  # reached 5 < bar 20
    d = tempfile.mkdtemp(prefix="es_min_")
    spark.createDataFrame(rows, "trial_id string, step bigint, value double, ts timestamp").write.mode(
        "overwrite"
    ).parquet(d)
    stream = spark.readStream.schema("trial_id string, step bigint, value double, ts timestamp").parquet(d)
    q = (
        early_stop_decisions_stream(stream, finalized, direction="min")
        .writeStream.format("memory").queryName("es_min_out").outputMode("complete")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(60)
    row = spark.sql("SELECT * FROM es_min_out").collect()[0]
    assert row.best_metric == 5.0  # min, not max
    assert row.should_stop is False  # 5 < 20: under the bar, keep going


def test_gp_busy_accumulates():
    """Finding 4: in-flight params accumulate across batches."""
    gp = GP(num_warmup_trials=2, n_points=50)
    gp.initialize(Searchspace(x=("DOUBLE", [0, 1])), 6, "min", 7)
    b1 = gp.next_batch(1)
    b2 = gp.next_batch(1)
    assert len(gp.trial_store) == 2  # not overwritten
    gp.finalize_trial(_finalized(b1[0]))
    assert len(gp.trial_store) == 1


def _finalized(trial):
    trial.finalize(0.5)
    return trial


def test_dedup_retries_redraw():
    """Finding 5: seeded retries must produce different draws."""
    gp = GP(num_warmup_trials=10, n_points=10)
    gp.initialize(Searchspace(c=("DOUBLE", [0, 1])), 10, "min", 42)
    p1 = gp._random_params()
    p2 = gp._random_params()
    assert p1 != p2  # draw counter salts the seed


def test_asha_dedup_skip_does_not_inflate_accounting(spark):
    """Finding 9: discrete-ish space where duplicates occur."""
    def fn(x, i, budget=1):
        return x * budget + i

    asha = Asha(reduction_factor=2, resource_min=1, resource_max=2)
    config = HyperparameterOptConfig(
        num_trials=6,
        optimizer=asha,
        searchspace=Searchspace(x=("DOUBLE", [0.0, 1.0]), i=("INTEGER", [0, 1])),
        direction="max", es_policy="none", seed=2, parallelism=3,
    )
    res = lagom(fn, config, spark)
    assert res["num_trials"] >= 6
    assert sum(1 for t in asha._emitted() if t.info_dict.get("rung") == 0) == sum(
        1 for t in asha.final_store if t.info_dict.get("rung") == 0
    )


def test_tpe_gates_until_bad_split_nonempty():
    """Finding 8: TPE must not model before both KDEs have rows."""
    tpe = TPE(num_warmup_trials=1)
    tpe.initialize(Searchspace(x=("DOUBLE", [0, 1])), 10, "min", 1)
    assert tpe.min_model_trials() == 4  # 2*(1+1)
    # under the gate every suggestion is random, never NaN-EI
    for i in range(3):
        batch = tpe.next_batch(1)
        for t in batch:
            t.finalize(float(i))
            tpe.finalize_trial(t)
    assert all(t.info_dict["sample_type"].startswith("random") for t in tpe.final_store)


def test_es_policy_none_and_invalid(spark):
    def fn(x):
        return x

    cfg = HyperparameterOptConfig(
        num_trials=2, optimizer="randomsearch",
        searchspace=Searchspace(x=("DOUBLE", [0, 1])),
        direction="max", es_policy=None, seed=1,
    )
    res = lagom(fn, cfg, spark)  # None disables early stopping
    assert res["early_stopped"] == 0

    cfg.es_policy = object()
    with pytest.raises(ValueError, match="es_policy"):
        lagom(fn, cfg, spark)


def test_distributed_config_objects_injected(spark):
    """Finding 6: config-carried training objects reach the train_fn."""
    def train_fn(rank, module, train_set, test_set):
        return float(module["layers"] + len(train_set) + len(test_set))

    cfg = TorchDistributedConfig(
        num_workers=2,
        module={"layers": 3},
        train_set=[1, 2, 3],
        test_set=[4],
    )
    res = lagom(train_fn, cfg, spark)
    assert res["errors"] is None
    assert res["test result"] == 7.0


# -- third review round -------------------------------------------------


def test_controller_reuse_across_runs(spark):
    """Reused optimizer instances must reset state on initialize."""
    def fn(x):
        return x

    gp = GP(num_warmup_trials=2, n_points=50)
    cfg = HyperparameterOptConfig(
        num_trials=4, optimizer=gp, searchspace=Searchspace(x=("DOUBLE", [0, 1])),
        direction="max", es_policy="none", seed=3,
    )
    r1 = lagom(fn, cfg, spark)
    r2 = lagom(fn, cfg, spark)
    assert r1["num_trials"] == 4 and r2["num_trials"] == 4  # second run not empty


def test_hyperband_by_name(spark):
    from maggy_spark.optimizers import RandomSearch
    from maggy_spark.pruner import HyperbandPruner

    hb = get_controller("hyperband", min_budget=1, max_budget=4, eta=2, n_iterations=1)
    hb.initialize(Searchspace(x=("DOUBLE", [0, 1])), 0, "max", 0)
    assert isinstance(hb, RandomSearch) and isinstance(hb.pruner, HyperbandPruner)


def test_hyperband_survives_errored_trial(spark):
    """An ERROR row must not stall the iteration's remaining rungs."""
    def fn(x, budget=1):
        if budget == 1 and x < 0.2:
            raise RuntimeError("flaky trial")
        return x * budget

    hb = get_controller("hyperband", min_budget=1, max_budget=4, eta=2, n_iterations=1)
    cfg = HyperparameterOptConfig(
        optimizer=hb, searchspace=Searchspace(x=("DOUBLE", [0, 1])),
        direction="max", es_policy="none", seed=8, parallelism=8, num_trials=0,
    )
    res = lagom(fn, cfg, spark)
    # promotions happened despite errors: some budget-4 trials finalized
    assert any(t.info_dict.get("budget") == 4 for t in hb.final_store)


def test_asha_survives_errored_trial(spark):
    def fn(x, budget=1):
        if x > 0.8:
            raise RuntimeError("boom")
        return x * budget

    asha = Asha(reduction_factor=2, resource_min=1, resource_max=2)
    cfg = HyperparameterOptConfig(
        num_trials=6, optimizer=asha, searchspace=Searchspace(x=("DOUBLE", [0, 1])),
        direction="max", es_policy="none", seed=4, parallelism=3,
    )
    res = lagom(fn, cfg, spark)  # must terminate, not stall
    assert res["num_trials"] >= 1


def test_experiment_avg_not_rounded(spark):
    """Tiny loss-scale metrics must not collapse to 0 in the avg."""
    def fn(x):
        return 4.2e-05 * (1 + x / 10)

    cfg = HyperparameterOptConfig(
        num_trials=3, optimizer="randomsearch",
        searchspace=Searchspace(x=("DOUBLE", [0, 1])),
        direction="max", es_policy="none", seed=2,
    )
    res = lagom(fn, cfg, spark)
    assert res["avg"] > 4e-05


def test_error_trial_logs_captured(spark):
    """Prints from failing trials must reach the trial logs."""
    from maggy_spark.executor import run_trial_wave

    def fn(x):
        print("about to fail")
        raise RuntimeError("dead")

    [r] = run_trial_wave(spark, [{"trial_id": "t0", "params": {"x": 0.5}, "budget": 0}], fn)
    assert r["error"] and "dead" in r["error"]
    assert "about to fail" in (r["logs"] or [])  # failure diagnostics survive


def test_ablation_respects_model_function_default(spark):
    from tests.test_bayes_ablation_dist import make_study
    from maggy_spark.config import AblationConfig

    study = make_study()

    def default_model():
        return "base-model"

    def train_fn(dataset_function, label_name, model_function=default_model):
        assert model_function is not None  # default must survive injection
        model_function()
        return float(len(dataset_function().columns))

    res = lagom(train_fn, AblationConfig(ablation_study=study, direction="max"), spark)
    assert res["num_trials"] == 4  # no NoneType-not-callable errors


def test_ladder_guards_reject_nonpositive_min():
    """exact_smax must raise, not loop forever, for min_budget <= 0;
    Asha validates its resources up front."""
    from maggy_spark.optimizers import exact_smax

    with pytest.raises(ValueError, match="min_budget"):
        exact_smax(0, 4, 2)
    with pytest.raises(ValueError, match="resource_min"):
        Asha(resource_min=0, resource_max=4)


def test_get_controller_rejects_class_spec():
    from maggy_spark.optimizers import RandomSearch, get_controller

    with pytest.raises(TypeError, match="INSTANCE"):
        get_controller(RandomSearch)


def test_reference_finalize_fires_on_wave_boundary_exhaustion(spark):
    """A custom reference-protocol optimizer that runs out of
    suggestions before num_trials must still get its
    finalize_experiment hook, which the dispatch loop runs once the
    run ends."""

    class Tiny:
        def __init__(self):
            self.finalized_with = None
            self._left = 3

        def initialize(self):
            pass

        def get_suggestion(self, trial=None):
            if self._left == 0:
                return None
            self._left -= 1
            from maggy_spark.trial import Trial

            return Trial({"x": float(self._left)})

        def finalize_experiment(self, trials):
            self.finalized_with = list(trials)

    opt = Tiny()
    config = HyperparameterOptConfig(
        optimizer=opt, searchspace=Searchspace(x=("DOUBLE", [0.0, 1.0])),
        direction="max", es_policy="none", seed=3, parallelism=2, num_trials=10,
    )
    res = lagom(lambda x: x, config, spark)
    assert res["num_trials"] == 3
    assert opt.finalized_with is not None and len(opt.finalized_with) == 3


def test_stop_check_clamps_zero_interval():
    """es_interval=0 in the serialized stop state must not turn every
    broadcast into a ZeroDivisionError ERROR row."""
    import base64
    import json

    from maggy_spark.executor import _dumps_by_value, _make_stop_check, median_rule

    src = json.dumps({
        "direction": "max", "es_interval": 0,
        "rule": base64.b64encode(_dumps_by_value(median_rule)).decode("ascii"),
        "finalized": [{"metric_history": [1.0]}, {"metric_history": [2.0]}, {"metric_history": [3.0]}],
    })
    check = _make_stop_check(src, "t0")
    assert check([0], [0.1]) in (True, False)  # no ZeroDivisionError


# -- round-6 ADVICE fixes ----------------------------------------------


def test_exact_smax_rejects_degenerate_eta():
    """eta <= 1 never grows the budget: exact_smax must raise, not
    hang (g10_hyperband_ladder forwards caller eta straight in)."""
    from maggy_spark.optimizers import exact_smax

    assert exact_smax(1, 27, 3) == 3
    for bad in (1, 0, -2):
        with pytest.raises(ValueError, match="eta"):
            exact_smax(1, 27, bad)


def test_invalidate_session_cache_drops_by_dir(spark, tmp_path):
    from maggy_spark.plans.fixtures import invalidate_session_cache, session_cached

    a = str(tmp_path / "a")
    b = str(tmp_path / "b")
    session_cached(spark, (a, "x"), lambda: spark.range(3))
    session_cached(spark, (b, "x"), lambda: spark.range(4))
    assert invalidate_session_cache(spark, a) == 1
    cache = spark._maggy_session_cache
    assert (a, "x") not in cache and (b, "x") in cache
    # rebuild after invalidation really re-runs the builder
    calls = []
    session_cached(spark, (a, "x"), lambda: (calls.append(1), spark.range(5))[1])
    assert calls == [1]
    invalidate_session_cache(spark)  # leave no leftovers for other tests


def test_append_trials_mixed_seq_orders_presets_first(spark, tmp_path):
    """A batch mixing preset and missing seq values: presets keep
    their relative order FIRST, seq-less trials follow in batch
    order (the old fallback interleaved them unpredictably)."""
    from maggy_spark.store import ExperimentStore
    from maggy_spark.trial import Trial

    store = ExperimentStore(spark, str(tmp_path / "live"), direction="max")
    t_preset2 = Trial({"x": 1}); t_preset2.info_dict["seq"] = 2; t_preset2.finalize(1.0)
    t_noseq = Trial({"x": 2}); t_noseq.finalize(2.0)
    t_preset1 = Trial({"x": 3}); t_preset1.info_dict["seq"] = 1; t_preset1.finalize(3.0)
    store.append_trials([t_preset2, t_noseq, t_preset1])
    stored = {r["trial_id"]: r["seq"] for r in store.trials().collect()}
    assert stored[t_preset1.trial_id] == 1
    assert stored[t_preset2.trial_id] == 2
    assert stored[t_noseq.trial_id] == 3  # seq-less lands after presets


def test_custom_rule_repickled_per_experiment(spark, monkeypatch):
    """A rule object reused across experiments with MUTATED closure
    state must ship the fresh state, not the first run's pickle."""
    from pyspark import cloudpickle

    from maggy_spark import executor

    class Rule:
        POLICY = "custom"

        def __init__(self):
            self.threshold = -1e9

        def earlystop_check(self, to_check, finalized, direction):
            return None

    rule = Rule()
    cfg = HyperparameterOptConfig(
        num_trials=2, optimizer="randomsearch",
        searchspace=Searchspace(x=("DOUBLE", [0.0, 1.0])),
        direction="max", es_policy=rule, es_min=1, seed=5, parallelism=1,
    )
    pickles = []
    dumps = executor._dumps_by_value

    def recording(obj):
        out = dumps(obj)
        if getattr(obj, "__self__", None) is rule:
            pickles.append(out)
        return out

    monkeypatch.setattr(executor, "_dumps_by_value", recording)

    def fn(x, reporter):
        reporter.broadcast(x, 0)
        return x

    lagom(fn, cfg, spark)
    # two waves, the second with a stop source: one pickle within a run
    assert len(pickles) == 1
    first = pickles[0]
    rule.threshold = 42.0  # mutate closure state between experiments
    lagom(fn, cfg, spark)
    assert len(pickles) == 2
    second = pickles[1]
    assert second != first  # fresh pickle for the new run

    rebuilt = cloudpickle.loads(second)
    assert rebuilt.__self__.threshold == 42.0


def test_dd11_sql_parameterized_matches_operator(spark):
    """dd11's oracle is generated from the operator's own arguments:
    a NON-default delta_mod run must still compare equal."""
    import duckdb

    from maggy_spark.functions.dedup import dd11_incremental_near_dup, dd11_sql

    sf = "/root/testdata/sf0.001"
    got = sorted(
        tuple(r) for r in dd11_incremental_near_dup(spark, sf, delta_mod=7).collect()
    )
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'")
    want = sorted(tuple(r) for r in con.execute(dd11_sql(delta_mod=7)).fetchall())
    con.close()
    assert got == want


def test_rep_boundary_leaves_no_session_state(spark, tmp_path):
    """bench.py's per-rep reset (r15, VERDICT r14 item 3) relies on
    invalidate_session_cache(spark) with no sf_dir wiping EVERY kind
    of session-scoped memo — persisted relations AND the plain-int
    corpus counts that used to survive clearCache by type accident
    (letting reps 2+ of a row skip a count job)."""
    from maggy_spark.plans.fixtures import corpus_count, invalidate_session_cache, session_cached

    sf = "/root/testdata/sf0.001"
    session_cached(spark, (str(tmp_path), "rel"), lambda: spark.range(3))
    n1 = corpus_count(spark, sf, "region")
    assert spark._maggy_session_cache and spark._maggy_corpus_counts
    invalidate_session_cache(spark)
    assert spark._maggy_session_cache == {}
    assert spark._maggy_corpus_counts == {}
    # the next consumer really recounts (memo repopulates from scratch)
    assert corpus_count(spark, sf, "region") == n1
    assert list(spark._maggy_corpus_counts) == [(sf, "region")]
    invalidate_session_cache(spark)  # leave no leftovers for other tests


def test_star_loop_does_not_poison_ml_serialization(spark):
    """r15 regression pin: the loop-telemetry metrics must NOT go
    through pyspark.sql.Observation — constructing one initializes
    the SparkSession's lazy, non-serializable `observationManager`,
    after which ANY later task closure that captures the session
    (pyspark.ml model summaries do) dies with
    NotSerializableException(ObservationManager). The named
    CollectMetrics form (fixtures.checkpoint_with_metrics) leaves the
    session clean; this drives a star loop (and its checksum
    telemetry) and then the exact ML shape that failed."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.evaluation import BinaryClassificationEvaluator
    from pyspark.ml.linalg import Vectors

    from maggy_spark.functions.dedup import star_components

    e = spark.createDataFrame([(3, 2), (2, 1), (5, 4)], "hi long, lo long")
    stars = {tuple(r) for r in star_components(e).collect()}
    assert stars == {(2, 1), (3, 1), (5, 4)}

    train = spark.createDataFrame(
        [(Vectors.dense([float(i % 10) / 10, float(i % 7) / 7]), float(i % 2)) for i in range(60)],
        ["features", "label"],
    )
    model = LogisticRegression(maxIter=5).fit(train)
    auc = BinaryClassificationEvaluator().evaluate(model.transform(train))
    assert 0.0 <= auc <= 1.0
