"""The reference's three user extension points, running unchanged on
the Spark-native engine: a custom optimizer (reference
`abstractoptimizer.py` subclass contract), a custom early-stop rule
(`abstractearlystop.py`), and a custom ablator (`abstractablator.py`).

Run: python examples/custom_extensions.py
"""

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import pandas as pd
from pyspark.sql import SparkSession

from maggy import Searchspace, experiment
from maggy.ablation import AblationStudy, AbstractAblator
from maggy.config import AblationConfig, HyperparameterOptConfig
from maggy.earlystop import AbstractEarlyStop
from maggy.optimizer import AbstractOptimizer
from maggy.trial import Trial


# -- 1. custom optimizer: coordinate line-search ------------------------


class LineSearch(AbstractOptimizer):
    """Walks each hyperparameter through its range while holding the
    others at their midpoint — written EXACTLY like a reference custom
    optimizer: no-arg initialize, get_suggestion(trial), and the
    base-class helpers (create_trial, get_metrics_dict)."""

    STEPS = 5

    def initialize(self):
        self.queue = []
        for name, t, region in self.searchspace.items():
            if t not in ("DOUBLE", "INTEGER"):
                continue
            lo, hi = float(region[0]), float(region[1])
            mids = {}
            for n, tt, r in self.searchspace.items():
                if tt in ("DOUBLE", "INTEGER") and n != name:
                    mid = (float(r[0]) + float(r[1])) / 2.0
                    mids[n] = int(round(mid)) if tt == "INTEGER" else mid
            for i in range(self.STEPS):
                val = lo + (hi - lo) * i / (self.STEPS - 1)
                params = {name: val, **mids}
                if t == "INTEGER":
                    params[name] = int(round(val))
                self.queue.append(params)

    def get_suggestion(self, trial=None):
        while self.queue:
            params = self.queue.pop(0)
            candidate = self.create_trial(params, sample_type="grid")
            if not self.hparams_exist(candidate):
                return candidate
        return None

    def finalize_experiment(self, trials):
        print(f"[LineSearch] explored {len(trials)} configs; "
              f"best (min-space) = {min(self.get_metrics_dict().values()):.4f}")


# -- 2. custom early-stop rule: trailing-gap rule -----------------------


class TrailingGapRule(AbstractEarlyStop):
    """Stop a trial whose best metric trails the best finalized result
    by more than `GAP` once any trial has finalized."""

    GAP = 0.4

    @staticmethod
    def earlystop_check(to_check, finalized_trials, direction):
        finals = [t.final_metric for t in finalized_trials if t.final_metric is not None]
        if not finals or not to_check.metric_history:
            return None
        if direction == "max" and max(to_check.metric_history) < max(finals) - TrailingGapRule.GAP:
            return to_check.trial_id
        if direction == "min" and min(to_check.metric_history) > min(finals) + TrailingGapRule.GAP:
            return to_check.trial_id
        return None


# -- 3. custom ablator: feature-pairs policy ----------------------------


class FeaturePairsAblator(AbstractAblator):
    """Ablates PAIRS of features together (interaction screening)
    instead of LOCO's one-at-a-time policy."""

    def get_number_of_trials(self):
        n = len(self.ablation_study.features.list_all())
        return 1 + n * (n - 1) // 2

    def get_dataset_generator(self, ablated_feature, dataset_type="parquet"):
        from maggy_spark.ablation import make_dataset_function

        return make_dataset_function(
            self.ablation_study.training_dataset_path,
            self.ablation_study.label_name,
            ablated_feature,
        )

    def get_model_generator(self, ablated_layer):
        return None

    def initialize(self):
        feats = self.ablation_study.features.list_all()
        self.trial_buffer.append(
            Trial({"dataset_function": self.get_dataset_generator(None),
                   "ablated_feature": "None", "ablated_layer": "None"},
                  trial_type="ablation")
        )
        for i, a in enumerate(feats):
            for b in feats[i + 1:]:
                # drop column a; the second column travels as metadata
                # for the training function to drop as well
                self.trial_buffer.append(
                    Trial({"dataset_function": self.get_dataset_generator(a),
                           "ablated_feature": f"{a}+{b}", "ablated_layer": "None"},
                          trial_type="ablation")
                )

    def get_trial(self, ablation_trial=None):
        return self.trial_buffer.pop() if self.trial_buffer else None

    def finalize_experiment(self, trials):
        print(f"[FeaturePairsAblator] finished {len(trials)} trials")


def main():
    spark = (
        SparkSession.builder.master("local[8]")
        .appName("maggy-spark-custom-extensions")
        .config("spark.sql.shuffle.partitions", "8")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    # custom optimizer + custom early-stop rule in one experiment
    def train_fn(lr, depth, reporter):
        quality = 1.0 - (lr - 0.25) ** 2 - (depth - 4) ** 2 / 50.0
        for epoch in range(4):
            reporter.broadcast(quality * (epoch + 1) / 4.0, epoch)
        return quality

    config = HyperparameterOptConfig(
        name="line_search_demo",
        num_trials=10,
        optimizer=LineSearch(),          # custom optimizer INSTANCE
        searchspace=Searchspace(lr=("DOUBLE", [0.0, 0.5]), depth=("INTEGER", [1, 8])),
        direction="max",
        es_policy=TrailingGapRule,        # custom rule CLASS
        es_min=2,
        parallelism=4,
    )
    result = experiment.lagom(train_fn, config, spark)
    print("custom optimizer best:", result["best_val"], result["best_config"])

    # custom ablator
    ds_path = "/tmp/maggy_custom_ablation.parquet"
    pd.DataFrame(
        {"f1": [1.0, 2.0, 3.0, 4.0], "f2": [0.1, 0.2, 0.3, 0.4],
         "f3": [5.0, 6.0, 7.0, 8.0], "label": [0, 1, 0, 1]}
    ).to_parquet(ds_path)
    study = AblationStudy(ds_path, 1, "label")
    study.features.include("f1", "f2", "f3")

    def ablation_fn(dataset_function, ablated_feature):
        df = dataset_function()
        return float(df.shape[1])  # stand-in metric: surviving width

    ab_result = experiment.lagom(
        ablation_fn,
        AblationConfig(ablation_study=study, ablator=FeaturePairsAblator(study), direction="max"),
        spark,
    )
    print("custom ablator trials:", ab_result["num_trials"],
          "best excludes:", ab_result["best_excludes"])

    spark.stop()


if __name__ == "__main__":
    main()
