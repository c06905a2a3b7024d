"""PBT as a runtime controller (VERDICT r13 item 3): the g14
exploit/explore generation step wired into the wave scheduler.

Three layers: (1) lagom e2e — generations actually run and the
population improves; (2) the generation step's arithmetic equals the
g14_pbt_schedule relation's (same ranks, same md5 coin, same
multiplicative factors — the relation is the oracle-pinned spelling,
the controller its runtime twin); (3) the scheduler contract under
errors (gating on emitted-not-nominal counts, no deadlock)."""

import pytest

from maggy_spark import Searchspace, lagom
from maggy_spark.config import HyperparameterOptConfig
from maggy_spark.optimizers import Pbt, get_controller
from maggy_spark.trial import Trial


def _quad(x, budget=0):
    return -((x - 0.3) ** 2)


def test_pbt_e2e_runs_generations_and_improves(spark):
    cfg = HyperparameterOptConfig(
        num_trials=16,
        optimizer=Pbt(population=4),
        searchspace=Searchspace(x=("DOUBLE", [0.0, 1.0])),
        direction="max", es_policy="none", seed=42, parallelism=4,
    )
    res = lagom(_quad, cfg, spark)
    assert res["num_trials"] == 16
    assert res["best_val"] == pytest.approx(-((res["best_config"]["x"] - 0.3) ** 2))
    # the winner's value must be at least the best a lone generation-0
    # random draw achieved (exploit/explore must not lose ground)
    assert res["best_val"] >= res["worst_val"]


def test_pbt_deterministic_under_seed(spark):
    def run():
        cfg = HyperparameterOptConfig(
            num_trials=8,
            optimizer=Pbt(population=4),
            searchspace=Searchspace(x=("DOUBLE", [0.0, 1.0])),
            direction="max", es_policy="none", seed=7, parallelism=4,
        )
        return lagom(_quad, cfg, spark)

    r1, r2 = run(), run()
    assert r1["best_id"] == r2["best_id"]
    assert r1["best_val"] == r2["best_val"]


def test_pbt_resolves_by_name():
    c = get_controller("pbt")
    assert isinstance(c, Pbt)


def _mk_finalized(params, metric, generation):
    t = Trial(dict(params), info_dict={"generation": generation})
    t.trial_id = Trial({**params, "generation": generation}).trial_id
    t.final_metric = metric
    return t


def test_pbt_step_equals_g14_arithmetic():
    """The controller's _evolve IS g14's relation: rank by metric
    (ties on trial_id), bottom q=max(n//4,1) adopt top-q params
    pairwise, factor = 1.2 iff hash_uniform('pbt', loser_id) < 0.5,
    p_new = donor_p * factor in ONE IEEE multiply; survivors carry."""
    sp = Searchspace(x=("DOUBLE", [0.0, 100.0]))
    pbt = Pbt(population=8)
    pbt.initialize(sp, 16, "max", seed=1)
    gen0 = [
        _mk_finalized({"x": float(i)}, metric=float(i), generation=0)
        for i in range(8)  # metric == x: x=7 best, x=0 worst
    ]
    out = pbt._evolve(gen0, generation=1)
    assert len(out) == 8
    exploited = [t for t in out if t.info_dict["sample_type"] == "model"]
    carried = [t for t in out if t.info_dict["sample_type"] == "promoted"]
    assert len(exploited) == 2  # q = 8 // 4
    assert len(carried) == 6
    # pair_rank 1: worst (x=0) adopts best (x=7); pair_rank 2: x=1 adopts x=6
    worst1 = next(t for t in gen0 if t.params["x"] == 0.0)
    worst2 = next(t for t in gen0 if t.params["x"] == 1.0)
    donor1 = next(t for t in gen0 if t.params["x"] == 7.0)
    donor2 = next(t for t in gen0 if t.params["x"] == 6.0)
    f1 = 1.2 if Pbt.pbt_coin(worst1.trial_id) < 0.5 else 0.8
    f2 = 1.2 if Pbt.pbt_coin(worst2.trial_id) < 0.5 else 0.8
    got = sorted((t.info_dict["donor_trial_id"], t.params["x"]) for t in exploited)
    want = sorted([(donor1.trial_id, 7.0 * f1), (donor2.trial_id, 6.0 * f2)])
    assert got == want
    # survivors carry their own params verbatim (incl. the donors)
    assert sorted(t.params["x"] for t in carried) == [2.0, 3.0, 4.0, 5.0, 6.0, 7.0]


def test_pbt_coin_matches_spark_hash_uniform(spark):
    """The controller's Python coin must be bit-identical to the
    hash_uniform('pbt', ...) primitive g14's relation (and its DuckDB
    twin) uses — the cross-engine determinism seam."""
    from pyspark.sql import functions as F

    from maggy_spark.plans.fixtures import hash_uniform

    ids = [Trial({"x": float(i)}).trial_id for i in range(20)]
    df = spark.createDataFrame([(i,) for i in ids], "trial_id string")
    got = {
        r.trial_id: r.u
        for r in df.select("trial_id", hash_uniform("pbt", F.col("trial_id")).alias("u")).collect()
    }
    for tid in ids:
        assert got[tid] == Pbt.pbt_coin(tid), tid


def test_pbt_direction_min_ranks_invert():
    """direction=min: the LOWEST metric is the donor."""
    sp = Searchspace(x=("DOUBLE", [0.0, 100.0]))
    pbt = Pbt(population=4)
    pbt.initialize(sp, 8, "min", seed=1)
    gen0 = [_mk_finalized({"x": float(i)}, metric=float(i), generation=0) for i in range(4)]
    out = pbt._evolve(gen0, generation=1)
    ex = next(t for t in out if t.info_dict["sample_type"] == "model")
    donor = next(t for t in gen0 if t.params["x"] == 0.0)  # min metric = best
    assert ex.info_dict["donor_trial_id"] == donor.trial_id


def test_pbt_nan_metric_is_never_a_donor():
    """One NaN metric must not scramble the ranking: the donors are the
    two best trials, and the NaN trial is the first loser."""
    sp = Searchspace(x=("DOUBLE", [0.0, 100.0]))
    pbt = Pbt(population=8)
    pbt.initialize(sp, 16, "max", seed=1)
    metrics = [0.5, float("nan"), 0.9, 0.1, 0.7, 0.3, 0.8, 0.2]
    gen0 = [_mk_finalized({"x": float(i)}, metric=m, generation=0) for i, m in enumerate(metrics)]
    out = pbt._evolve(gen0, generation=1)
    by_metric = {str(t.final_metric): t for t in gen0}
    exploited = [t for t in out if t.info_dict["sample_type"] == "model"]
    assert sorted(t.info_dict["donor_trial_id"] for t in exploited) == sorted(
        [by_metric["0.9"].trial_id, by_metric["0.8"].trial_id]
    )
    # worst-first pairing: NaN adopts the best donor, 0.1 the second
    nan_child = next(t for t in exploited if t.info_dict["donor_trial_id"] == by_metric["0.9"].trial_id)
    f = 1.2 if Pbt.pbt_coin(by_metric["nan"].trial_id) < 0.5 else 0.8
    assert nan_child.params["x"] == 2.0 * f
    carried = sorted(t.params["x"] for t in out if t.info_dict["sample_type"] == "promoted")
    assert carried == [0.0, 2.0, 4.0, 5.0, 6.0, 7.0]  # the NaN (x=1) and 0.1 (x=3) trials are replaced


def test_pbt_scheduler_contract_with_errors():
    """Unit drive of the wave contract: waits ([] while a generation
    is in flight), evolves when the EMITTED count settles even if
    some trials errored, and emits nothing more once the last
    generation settles on the emitted count — the deadlock a gate on
    the nominal population would cause. Driven through `next_batch`,
    which records each emitted trial in flight."""
    sp = Searchspace(x=("DOUBLE", [0.0, 1.0]))
    pbt = Pbt(population=4)
    pbt.initialize(sp, 8, "max", seed=3)
    assert pbt.generations == 2 and pbt.num_trials == 8
    gen0 = pbt.next_batch(10)
    assert len(gen0) == 4
    assert pbt.next_batch(10) == []  # in flight: wait
    # settle generation 0: 3 finalize, 1 errors
    for t in gen0[:3]:
        t.final_metric = t.params["x"]
        pbt.finalize_trial(t)
    assert pbt.next_batch(10) == []  # still one outstanding
    pbt.report_error(gen0[3])
    gen1 = pbt.next_batch(10)
    assert len(gen1) == 3  # population shrank to the 3 survivors
    assert pbt.next_batch(10) == []  # generation 1 in flight: wait
    for t in gen1:
        t.final_metric = t.params["x"]
        pbt.finalize_trial(t)
    assert pbt.next_batch(10) == []
    assert pbt.next_batch(10) == []  # nothing in flight: the run ends


def test_controller_regret_comparison_cross_engine(spark, tmp_path):
    """Suite-resident form of tools/controller_comparison.py (the
    VERDICT r13 item-3 closing artifact): run TWO controllers
    (random, pbt) through the real lagom loop on one objective,
    persist their trials, and pin the per-controller a13 regret
    relation cross-engine over the same parquet bytes."""
    import duckdb

    from pyspark.sql import functions as F

    from tools.controller_comparison import REGRET_SQL, objective, regret_curves_spark

    frames = []
    for name, opt in (("random", "randomsearch"), ("pbt", Pbt(population=4))):
        cfg = HyperparameterOptConfig(
            num_trials=8, optimizer=opt,
            searchspace=Searchspace(x=("DOUBLE", [0.0, 1.0])),
            direction="max", es_policy="none", seed=5, parallelism=4,
            log_dir=str(tmp_path / name), name=f"mini_{name}",
        )
        res = lagom(objective, cfg, spark)
        assert res["num_trials"] == 8
        t = spark.read.parquet(res["log_dir"] + "/trials")
        frames.append(
            t.where(F.col("status") == "FINALIZED")
            .select(F.lit(name).alias("controller"), "seq", "final_metric")
        )
    union_path = str(tmp_path / "runs.parquet")
    frames[0].unionByName(frames[1]).write.parquet(union_path)

    spark_pd = (
        regret_curves_spark(spark, union_path)
        .toPandas().sort_values(["controller", "seq"]).reset_index(drop=True)
    )
    con = duckdb.connect()
    con.execute(f"CREATE VIEW runs AS SELECT * FROM read_parquet('{union_path}/*.parquet')")
    duck_pd = con.execute(REGRET_SQL).df().sort_values(["controller", "seq"]).reset_index(drop=True)
    assert len(spark_pd) == 16
    assert spark_pd[duck_pd.columns].reset_index(drop=True).equals(duck_pd)
    # best-so-far is monotone per controller
    for _c, g in spark_pd.groupby("controller"):
        bs = g.sort_values("seq")["best_so_far"].tolist()
        assert bs == sorted(bs)
