"""Distributed ML stage (SURVEY §2.9, §7 step 5).

The reference collects the entire ABT to the driver and trains sklearn
(/root/reference/scripts/05_ml_model.py:35 ``toPandas()``) — the main thing
this rebuild moves back into Spark: MLlib pipelines keep the 100 TB design
goal honest (nothing leaves the executors until the final top-k frames).
"""

from f1_data_engineering_machine_learning_spark.ml.model import (  # noqa: F401
    RACE_GAIN_FEATURES,
    RACE_POSITION_FEATURES,
    SPLIT_COL,
    SPRINT_GAIN_FEATURES,
    SPRINT_POSITION_FEATURES,
    champion_model,
    evaluate,
    feature_columns,
    feature_importances,
    group_random_split,
    impute_sentinels,
    oot_split,
    score,
    train_champion_model,
)
