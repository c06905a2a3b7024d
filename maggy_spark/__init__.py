"""maggy_spark — a PySpark-native experiment/analytics engine.

A ground-up rebuild of the capabilities of logicalclocks/maggy
(distribution-transparent hyperparameter optimization, ablation
studies, and distributed training on Spark), re-expressed as
idiomatic Spark: DataFrame/SQL relational kernel, one Spark job per
trial, Structured Streaming metric ingest — no custom sockets,
no long-held foreachPartition workers.

Reference semantics are documented per-operator in SURVEY.md §2 with
file:line citations into /root/reference; this package shares no code
with the reference.
"""

from maggy_spark.config import (
    AblationConfig,
    BaseConfig,
    HyperparameterOptConfig,
    TfDistributedConfig,
    TorchDistributedConfig,
)
from maggy_spark.searchspace import Searchspace
from maggy_spark.trial import Trial, trial_id_for_params

__version__ = "0.1.0"


def lagom(train_fn, config=None, spark=None, **base_kwargs):
    """Run an experiment (see maggy_spark.experiment.lagom)."""
    from maggy_spark.experiment import lagom as _lagom

    return _lagom(train_fn, config, spark, **base_kwargs)


__all__ = [
    "AblationConfig",
    "BaseConfig",
    "HyperparameterOptConfig",
    "Searchspace",
    "TfDistributedConfig",
    "TorchDistributedConfig",
    "Trial",
    "lagom",
    "trial_id_for_params",
    "__version__",
]
