"""MLlib interop: param-grid bridge, CrossValidator, controller-driven
fits, and MinHashLSH near-dup."""

import pytest

from maggy_spark import Searchspace
from maggy_spark.mllib_bridge import (
    cross_validate,
    fit_with_lagom,
    minhash_lsh_near_dup,
    searchspace_to_param_grid,
)


@pytest.fixture(scope="module")
def train_df(spark):
    from pyspark.ml.feature import VectorAssembler

    df = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    df = df.selectExpr(
        "cast(c_acctbal as double) as f1",
        "cast(c_nationkey as double) as f2",
        "cast(c_acctbal > 0 as double) as label",
    )
    return VectorAssembler(inputCols=["f1", "f2"], outputCol="features").transform(df)


def test_param_grid_shapes(spark):
    from pyspark.ml.classification import LogisticRegression

    lr = LogisticRegression()
    sp = Searchspace(
        reg=("DOUBLE", [0.0, 1.0]),
        iters=("DISCRETE", [5, 10]),
    )
    grid = searchspace_to_param_grid(sp, {"reg": lr.regParam, "iters": lr.maxIter}, num_points=3)
    assert len(grid) == 3 * 2
    regs = sorted({g[lr.regParam] for g in grid})
    assert regs == [0.0, 0.5, 1.0]


def test_param_grid_missing_mapping_rejected(spark):
    from pyspark.ml.classification import LogisticRegression

    lr = LogisticRegression()
    with pytest.raises(ValueError):
        searchspace_to_param_grid(Searchspace(x=("DOUBLE", [0, 1])), {"y": lr.regParam})


def test_cross_validate_runs(spark, train_df):
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.evaluation import BinaryClassificationEvaluator

    sp = Searchspace(reg=("DISCRETE", [0.0, 0.1]))
    lr = LogisticRegression(featuresCol="features", labelCol="label", maxIter=5)
    model = cross_validate(
        lr, BinaryClassificationEvaluator(labelCol="label"), sp, {"reg": lr.regParam},
        train_df, num_folds=2, parallelism=2,
    )
    assert len(model.avgMetrics) == 2
    assert max(model.avgMetrics) > 0.9  # separable by construction


def test_fit_with_lagom_controller(spark, train_df):
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.evaluation import BinaryClassificationEvaluator

    train, val = train_df.randomSplit([0.8, 0.2], seed=1)

    def factory(params):
        return LogisticRegression(
            featuresCol="features", labelCol="label",
            regParam=float(params["reg"]), maxIter=int(params["iters"]),
        )

    res = fit_with_lagom(
        factory,
        BinaryClassificationEvaluator(labelCol="label"),
        Searchspace(reg=("DOUBLE", [0.0, 0.5]), iters=("INTEGER", [3, 8])),
        train, val,
        num_trials=4, parallelism=2, seed=7,
    )
    assert res["num_trials"] == 4
    assert res["best_val"] >= res["worst_val"]
    assert res["best_val"] > 0.9


def test_minhash_lsh_finds_planted_dup(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog near the river bank today"),
        (2, "the quick brown fox jumps over the lazy dog near the river bank now"),  # near-dup of 1
        (3, "completely different content about spark shuffles and parquet column pruning"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    pairs = {(r.doc_a, r.doc_b) for r in minhash_lsh_near_dup(df, jaccard_threshold=0.5).collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_param_grid_single_point(spark):
    from pyspark.ml.classification import LogisticRegression

    from maggy_spark.mllib_bridge import searchspace_to_param_grid
    from maggy_spark.searchspace import Searchspace

    lr = LogisticRegression()
    ss = Searchspace(regParam=("DOUBLE", [0.1, 0.9]), maxIter=("INTEGER", [5, 50]))
    grid = searchspace_to_param_grid(
        ss, {"regParam": lr.regParam, "maxIter": lr.maxIter}, num_points=1
    )
    assert len(grid) == 1
    vals = list(grid[0].values())
    assert 0.1 in vals and 5 in vals  # low end, no ZeroDivisionError


def test_fit_with_lagom_zero_trials_raises(spark):
    import pytest as _pytest

    from maggy_spark.mllib_bridge import fit_with_lagom
    from maggy_spark.searchspace import Searchspace

    ss = Searchspace(x=("DOUBLE", [0, 1]))
    df = spark.range(1)
    with _pytest.raises(ValueError, match="no trials"):
        fit_with_lagom(
            lambda params: None, None, ss, df, df, optimizer="randomsearch", num_trials=0
        )


def test_train_validation_split_runs(spark, train_df):
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.evaluation import BinaryClassificationEvaluator

    from maggy_spark.mllib_bridge import train_validation_split
    from maggy_spark.searchspace import Searchspace

    lr = LogisticRegression(maxIter=5)
    model = train_validation_split(
        lr,
        BinaryClassificationEvaluator(),
        Searchspace(regParam=("DISCRETE", [0.01, 0.1])),
        {"regParam": lr.regParam},
        train_df,
        parallelism=2,
    )
    assert len(model.validationMetrics) == 2
    assert model.bestModel is not None


def test_brp_lsh_finds_planted_euclidean_dup(spark):
    from maggy_spark.mllib_bridge import brp_lsh_near_dup

    base = [float(i % 7) for i in range(16)]
    near = list(base)
    near[0] += 0.1  # distance 0.1
    far = [v + 50.0 for v in base]
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far)], "vec_id bigint, embedding array<float>"
    )
    pairs = {(r.id_a, r.id_b): r.euclidean_dist for r in brp_lsh_near_dup(df, distance_threshold=1.0).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] == pytest.approx(0.1, abs=1e-6)
    assert all(k == (1, 2) for k in pairs)  # the far vector never pairs


# -- fit_with_lagom runs its fits through lagom's dispatch loop ---------
# Stub estimator/evaluator: fit(params) sleeps delays[x] and raises for
# x == fail; the evaluator reads the metric for x. No MLlib fit runs.


class _StubModel:
    def __init__(self, x):
        self.x = x

    def transform(self, df):
        return self.x


class _StubEstimator:
    def __init__(self, params, delays, fail):
        self.x, self.delays, self.fail = params["x"], delays, fail

    def fit(self, df):
        import time

        time.sleep(self.delays[self.x])
        if self.x == self.fail:
            raise RuntimeError("boom")
        return _StubModel(self.x)


class _StubEvaluator:
    def __init__(self, metrics):
        self.metrics = metrics

    def evaluate(self, x):
        return self.metrics[x]


GRID = Searchspace(x=("DISCRETE", [0, 1, 2, 3]))


def _stub_fit(spark, metrics, delays=(0, 0, 0, 0), fail=None, **kw):
    df = spark.range(1)
    kw = {"optimizer": "gridsearch", "num_trials": 4, **kw}
    return fit_with_lagom(
        lambda params: _StubEstimator(params, delays, fail), _StubEvaluator(metrics), GRID, df, df, **kw
    )


def test_fit_with_lagom_raising_fit_is_an_error_row(spark):
    """One raising fit among four grid trials becomes an ERROR row; the
    other three settle and the run returns."""
    res = _stub_fit(spark, [1.0, 4.0, 2.0, 3.0], fail=2, parallelism=2)
    assert res["errors"] == 1 and res["num_trials"] == 3
    assert (res["best_config"], res["best_val"]) == ({"x": 1}, 4.0)
    assert (res["worst_config"], res["worst_val"]) == ({"x": 0}, 1.0)
    assert res["avg"] == pytest.approx(8.0 / 3)
    assert res["num_waves"] == 2 and res["duration_sec"] >= 0


def test_fit_with_lagom_ranks_like_aggregate_result(spark):
    """A NaN metric is ranked by `_aggregate_result`'s rule, over trials
    in grid (submission) order, whichever order the fits finish in."""
    import math

    from maggy_spark.experiment import _aggregate_result
    from maggy_spark.trial import Trial

    metrics = [1.0, 3.0, 2.0, math.nan]
    expected_trials = []
    for seq, (x, m) in enumerate(zip(GRID.get("x"), metrics), start=1):
        t = Trial({"x": x})
        t.finalize(m)
        t.info_dict["seq"] = seq
        expected_trials.append(t)
    expected = _aggregate_result(expected_trials, "max")

    def plain(d):
        return {k: "nan" if isinstance(v, float) and math.isnan(v) else v for k, v in d.items()}

    runs = [
        _stub_fit(spark, metrics, delays=delays, parallelism=4)
        for delays in ((0.0, 0.05, 0.1, 0.15), (0.15, 0.1, 0.05, 0.0))
    ]
    for res in runs:
        assert plain({k: res[k] for k in expected}) == plain(expected)
        assert res["best_config"] == {"x": 3} and res["worst_config"] == {"x": 0}
    assert plain({k: v for k, v in runs[0].items() if k != "duration_sec"}) == plain(
        {k: v for k, v in runs[1].items() if k != "duration_sec"}
    )


def test_fit_with_lagom_rejects_unknown_direction(spark):
    """The controller and the result read one direction, so a value
    that is neither 'min' nor 'max' is rejected before any fit."""
    with pytest.raises(ValueError, match="direction"):
        _stub_fit(spark, [1.0, 2.0, 3.0, 4.0], direction="minimize")
