"""MLlib interop: Searchspace <-> ParamGridBuilder, and MLlib
estimators as first-class trial functions (SURVEY.md §7.2 step 9).

Two integration points:
- `searchspace_to_param_grid`: a declared Searchspace becomes the
  grid for `pyspark.ml.tuning.CrossValidator` /
  `TrainValidationSplit` (DISCRETE/CATEGORICAL verbatim; continuous
  hparams are lattice-sampled with `num_points`).
- `fit_with_lagom`: our controllers (random/ASHA/GP/TPE) drive MLlib
  estimator fits as trials of lagom's one dispatch loop
  (`experiment._drive`). Each fit is itself a distributed Spark job,
  so its runner fits on the driver thread (FAIR-pool style) rather
  than inside a trial task — two nested levels of Spark parallelism.
"""

from __future__ import annotations

import time
from typing import Any

from maggy_spark.searchspace import CATEGORICAL, DISCRETE, DOUBLE, INTEGER, Searchspace
from maggy_spark.trial import Trial


def searchspace_to_param_grid(
    searchspace: Searchspace, param_map: dict[str, Any], num_points: int = 5
) -> list:
    """Build a ParamGridBuilder grid from a Searchspace.

    `param_map`: hparam name -> pyspark.ml Param instance (e.g.
    `{"regParam": lr.regParam}`). DISCRETE/CATEGORICAL domains pass
    through; DOUBLE becomes a `num_points` uniform lattice; INTEGER a
    full or strided integer lattice.
    """
    from pyspark.ml.tuning import ParamGridBuilder

    builder = ParamGridBuilder()
    for name, hp_type, region in searchspace.items():
        if name not in param_map:
            raise ValueError(f"searchspace hparam {name!r} missing from param_map")
        param = param_map[name]
        if hp_type in (DISCRETE, CATEGORICAL):
            values = list(region)
        elif hp_type == DOUBLE:
            lo, hi = float(region[0]), float(region[1])
            if num_points == 1:
                values = [lo]  # single-point lattice, not a 0/0
            else:
                values = [lo + (hi - lo) * i / (num_points - 1) for i in range(num_points)]
        elif hp_type == INTEGER:
            lo, hi = int(region[0]), int(region[1])
            n = hi - lo + 1
            if n <= num_points:
                values = list(range(lo, hi + 1))
            elif num_points == 1:
                values = [lo]
            else:
                values = sorted({lo + round((n - 1) * i / (num_points - 1)) for i in range(num_points)})
        else:  # pragma: no cover
            raise ValueError(f"unknown hparam type {hp_type}")
        builder.addGrid(param, values)
    return builder.build()


def cross_validate(
    estimator,
    evaluator,
    searchspace: Searchspace,
    param_map: dict[str, Any],
    train_df,
    num_folds: int = 3,
    parallelism: int = 4,
    seed: int = 42,
):
    """Spark-native grid CV over the searchspace (the reference's grid
    search realized as MLlib CrossValidator)."""
    from pyspark.ml.tuning import CrossValidator

    grid = searchspace_to_param_grid(searchspace, param_map)
    cv = CrossValidator(
        estimator=estimator,
        estimatorParamMaps=grid,
        evaluator=evaluator,
        numFolds=num_folds,
        parallelism=parallelism,
        seed=seed,
    )
    return cv.fit(train_df)


def fit_with_lagom(
    estimator_factory,
    evaluator,
    searchspace: Searchspace,
    train_df,
    val_df,
    optimizer: Any = "randomsearch",
    num_trials: int = 8,
    direction: str = "max",
    seed: int | None = 42,
    parallelism: int = 2,
) -> dict:
    """Drive MLlib fits with a maggy controller.

    `estimator_factory(params) -> Estimator`. Each fit is a trial of
    lagom's dispatch loop (`experiment._drive`), wave-refilled with
    early stopping off, run on a driver thread in the 'maggy'
    scheduler pool (use a FAIR scheduler on a shared cluster). A fit
    or evaluation that raises becomes an ERROR row and the other
    trials go on. The result dict is `lagom`'s.
    """
    from maggy_spark.config import HyperparameterOptConfig
    from maggy_spark.experiment import _init_hpo, _run_trials

    spark = train_df.sparkSession
    config = HyperparameterOptConfig(
        num_trials=num_trials,
        optimizer=optimizer,
        searchspace=searchspace,
        direction=direction,
        es_policy="none",
        seed=seed,
        parallelism=parallelism,
        scheduling="wave",
    )
    controller, parallelism = _init_hpo(config, spark)

    def run_fit(trial: Trial, stop_src: str | None) -> dict:
        # concurrent fits share executors fairly when the session runs
        # spark.scheduler.mode=FAIR; harmless under FIFO
        spark.sparkContext.setLocalProperty("spark.scheduler.pool", "maggy")
        t0 = time.time()
        metric = error = None
        try:
            model = estimator_factory(trial.params).fit(train_df)
            metric = float(evaluator.evaluate(model.transform(val_df)))
        except Exception as e:  # noqa: BLE001 - errors become ERROR rows
            error = f"{type(e).__name__}: {e}"
        return {
            "trial_id": trial.trial_id, "final_metric": metric, "metric_history": [], "step_history": [],
            "early_stop": False, "error": error, "logs": [], "duration_ms": int((time.time() - t0) * 1000),
        }

    result = _run_trials(None, config, spark, controller, parallelism, "wave", runner=run_fit)
    if not result["num_waves"]:
        raise ValueError(
            "controller produced no trials (num_trials=0 or an empty "
            "searchspace) — nothing to fit"
        )
    return result


def minhash_lsh_near_dup(
    docs_df,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hash_tables: int = 4,
    jaccard_threshold: float = 0.5,
):
    """MLlib-native near-dup: HashingTF token sets -> MinHashLSH
    approxSimilarityJoin — the library-grade alternative to the
    SQL-level dd2/dd3 pipeline, for when the corpus needs banded
    multi-probe joins managed by MLlib."""
    from pyspark.ml.feature import HashingTF, MinHashLSH, Tokenizer
    from pyspark.sql import functions as F

    tok = Tokenizer(inputCol=text_col, outputCol="_tokens")
    tf = HashingTF(inputCol="_tokens", outputCol="_features", numFeatures=1 << 18, binary=True)
    featured = tf.transform(tok.transform(docs_df)).where(
        F.size("_tokens") > 0
    )
    lsh = MinHashLSH(inputCol="_features", outputCol="_hashes", numHashTables=num_hash_tables, seed=42)
    model = lsh.fit(featured)
    # approxSimilarityJoin keeps dist < threshold STRICTLY; widen the
    # LSH cut by an epsilon and re-filter inclusively so a pair at
    # exactly jaccard_threshold (distance exactly 1-threshold) is kept
    # — the distCol is the exact jaccard distance, so the post-filter
    # is precise, not approximate
    dist_cut = 1.0 - jaccard_threshold
    joined = model.approxSimilarityJoin(
        featured, featured, min(1.0, dist_cut + 1e-9), distCol="jaccard_dist"
    ).where(F.col("jaccard_dist") <= dist_cut)
    return (
        joined.where(F.col(f"datasetA.{id_col}") < F.col(f"datasetB.{id_col}"))
        .select(
            F.col(f"datasetA.{id_col}").alias("doc_a"),
            F.col(f"datasetB.{id_col}").alias("doc_b"),
            (1.0 - F.col("jaccard_dist")).alias("jaccard_sim"),
        )
    )


def train_validation_split(
    estimator,
    evaluator,
    searchspace: Searchspace,
    param_map: dict[str, Any],
    train_df,
    train_ratio: float = 0.75,
    parallelism: int = 4,
    seed: int = 42,
):
    """Spark-native single-split tuning over the searchspace (MLlib
    TrainValidationSplit) — the cheaper sibling of `cross_validate`
    for when one fold is enough (SURVEY §7.2 step 9 names both)."""
    from pyspark.ml.tuning import TrainValidationSplit

    grid = searchspace_to_param_grid(searchspace, param_map)
    tvs = TrainValidationSplit(
        estimator=estimator,
        estimatorParamMaps=grid,
        evaluator=evaluator,
        trainRatio=train_ratio,
        parallelism=parallelism,
        seed=seed,
    )
    return tvs.fit(train_df)


def brp_lsh_near_dup(
    vecs_df,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    distance_threshold: float = 1.0,
    bucket_length: float = 2.0,
    num_hash_tables: int = 3,
):
    """MLlib-native Euclidean near-dup: BucketedRandomProjectionLSH
    approxSimilarityJoin over a vector column — the library-managed
    alternative to the SQL-level ann4 bucket probe, for when the
    corpus wants MLlib's multi-table banded joins (SURVEY §7.2 step 9
    names BucketedRandomProjectionLSH explicitly).

    Emits ordered (id_a < id_b) pairs with exact euclidean distance
    <= `distance_threshold`; the distCol is exact, so the final cut
    is precise even though candidate generation is approximate."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector
    from pyspark.sql import functions as F

    featured = vecs_df.select(
        F.col(id_col), array_to_vector(F.col(vec_col).cast("array<double>")).alias("_vec")
    )
    lsh = BucketedRandomProjectionLSH(
        inputCol="_vec",
        outputCol="_hashes",
        bucketLength=bucket_length,
        numHashTables=num_hash_tables,
        seed=42,
    )
    model = lsh.fit(featured)
    joined = model.approxSimilarityJoin(
        featured, featured, distance_threshold + 1e-9, distCol="euclidean_dist"
    ).where(F.col("euclidean_dist") <= distance_threshold)
    return (
        joined.where(F.col(f"datasetA.{id_col}") < F.col(f"datasetB.{id_col}"))
        .select(
            F.col(f"datasetA.{id_col}").alias("id_a"),
            F.col(f"datasetB.{id_col}").alias("id_b"),
            "euclidean_dist",
        )
    )
