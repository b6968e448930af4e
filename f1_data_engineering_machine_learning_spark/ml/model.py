"""Champion-prediction model: splits, sentinel imputation, RandomForest.

Maps the reference's pandas/sklearn stage
(/root/reference/scripts/05_ml_model.py) onto MLlib:

- M1 OOT split (lines 40-87)            -> two filters on dtYear
- M2 group-level random split (69-80)   -> F.rand(seed) over distinct
  (DriverId, dtYear) pairs + inner join back. Exact RNG parity with
  numpy is impossible (SURVEY §7 hard part (e)); the contract — split by
  group so a driver-year never straddles train/test, ~80/20, seeded
  determinism — is preserved and tested.
- M3 sentinel imputation (140-172)      -> fillna(99) on the 12 sprint
  position features, fillna(0) on the 6 sprint gain features; the same
  sentinels for the race-only twins (a driver whose first session is a
  sprint has no race in scope)
- M4 RandomForest (174-185)             -> RandomForestClassifier(seed=42,
  minInstancesPerNode=20) after VectorAssembler
- M5 scoring (215-230)                  -> transform + probability[1]
- M6 metrics (217-235)                  -> accuracy + areaUnderROC
- M7 feature importance (238-245)       -> featureImportances zip
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: the reference imputes 99 into the 12 sprint position/grid features and 0
#: into the 6 sprint gain features (/root/reference/scripts/05_ml_model.py:140-172)
SPRINT_POSITION_FEATURES = [
    f"{stat}{base}{suffix}"
    for stat in ("avg", "median")
    for base in ("PositionSprint", "GridPositionSprint")
    for suffix in ("", "1Year", "CurrentTemp")
]
SPRINT_GAIN_FEATURES = [
    f"{stat}PositionSprintGain{suffix}"
    for stat in ("avg", "median")
    for suffix in ("", "1Year", "CurrentTemp")
]
#: the race-only twins, NULL when a snapshot has sprints but no race in
#: scope; they take the same sentinels
RACE_POSITION_FEATURES = [c.replace("Sprint", "Race") for c in SPRINT_POSITION_FEATURES]
RACE_GAIN_FEATURES = [c.replace("Sprint", "Race") for c in SPRINT_GAIN_FEATURES]

#: share of (DriverId, dtYear) groups the group split sends to test
TEST_FRAC = 0.2

#: the column ``train_champion_model`` labels each scored row with:
#: ``"train"``, ``"test"``, ``"oot"``, or NULL for rows in no split
SPLIT_COL = "split"

#: columns that are identifiers/labels, never features
#: (/root/reference/scripts/05_ml_model.py:121-126)
NON_FEATURE_COLUMNS = {"DriverId", "dtRef", "flChamp"}


def feature_columns(df: DataFrame) -> list[str]:
    """All columns minus identifiers and the label (P11 column exclusion)."""
    return [c for c in df.columns if c not in NON_FEATURE_COLUMNS]


def oot_split(df: DataFrame, oot_year: int = 2024) -> tuple[DataFrame, DataFrame]:
    """(training pool, out-of-time holdout) by dtYear (M1)."""
    return (
        df.filter(F.col("dtYear") < oot_year),
        df.filter(F.col("dtYear") == oot_year),
    )


def _group_draws(df: DataFrame, group_cols: Sequence[str], seed: int) -> DataFrame:
    """One ``F.rand(seed)`` draw ``__r`` per distinct group. The (tiny) group
    frame is repartition(1)-ed and sorted, so the draws are stable run to
    run."""
    return (
        df.select(*group_cols)
        .distinct()
        .repartition(1)
        .sortWithinPartitions(*group_cols)
        .withColumn("__r", F.rand(seed))
    )


def group_random_split(
    df: DataFrame,
    group_cols: Sequence[str] = ("DriverId", "dtYear"),
    test_frac: float = TEST_FRAC,
    seed: int = 42,
) -> tuple[DataFrame, DataFrame]:
    """Group-integral random split (M2): all rows of a (DriverId, dtYear)
    land on the same side — two filters over one draw per group."""
    on = list(group_cols)
    drawn = df.join(F.broadcast(_group_draws(df, on, seed)), on, "inner")
    r = F.col("__r")
    return (
        drawn.filter(r >= test_frac).drop("__r"),
        drawn.filter(r < test_frac).drop("__r"),
    )


def impute_sentinels(df: DataFrame) -> DataFrame:
    """M3: 99 into sprint and race-only position features, 0 into their
    gain features — NULL here means 'never started a sprint (or a race) in
    scope', and the reference encodes that as worst-possible position /
    zero gain."""
    fills: dict[str, float] = {}
    for c in SPRINT_POSITION_FEATURES + RACE_POSITION_FEATURES:
        if c in df.columns:
            fills[c] = 99.0
    for c in SPRINT_GAIN_FEATURES + RACE_GAIN_FEATURES:
        if c in df.columns:
            fills[c] = 0.0
    return df.fillna(fills)


def champion_model(feature_cols: Sequence[str], label_col: str = "flChamp"):
    """VectorAssembler + RandomForestClassifier(seed=42,
    minInstancesPerNode=20) — the MLlib twin of the reference's sklearn
    Pipeline (M4). ``handleInvalid='keep'`` covers residual NULLs the
    sentinel imputer doesn't own (the reference imputes only sprint
    features; other NULL features are filtered by the ABT gate)."""
    from pyspark.ml import Pipeline
    from pyspark.ml.classification import RandomForestClassifier
    from pyspark.ml.feature import VectorAssembler

    assembler = VectorAssembler(
        inputCols=list(feature_cols), outputCol="features", handleInvalid="keep"
    )
    rf = RandomForestClassifier(
        featuresCol="features",
        labelCol=label_col,
        seed=42,
        minInstancesPerNode=20,
        numTrees=100,
    )
    return Pipeline(stages=[assembler, rf])


def score(model, df: DataFrame) -> DataFrame:
    """M5: adds ``predict`` (class) and ``proba`` (P(champ)) columns."""
    from pyspark.ml.functions import vector_to_array

    out = model.transform(df)
    return out.withColumn(
        "proba", vector_to_array(F.col("probability"))[1]
    ).withColumnRenamed("prediction", "predict")


def evaluate(scored: DataFrame, label_col: str = "flChamp") -> dict[str, float]:
    """M6: accuracy + ROC-AUC, computed distributed."""
    from pyspark.ml.evaluation import (
        BinaryClassificationEvaluator,
        MulticlassClassificationEvaluator,
    )

    with_double = scored.withColumn("__label", F.col(label_col).cast("double"))
    auc = BinaryClassificationEvaluator(
        labelCol="__label", rawPredictionCol="rawPrediction", metricName="areaUnderROC"
    ).evaluate(with_double)
    acc = MulticlassClassificationEvaluator(
        labelCol="__label", predictionCol="predict", metricName="accuracy"
    ).evaluate(with_double.withColumn("predict", F.col("predict").cast("double")))
    return {"accuracy": acc, "roc_auc": auc}


def feature_importances(model, feature_cols: Sequence[str]) -> list[tuple[str, float]]:
    """M7: (name, importance) sorted desc, zeros dropped."""
    rf_model = model.stages[-1]
    imps = rf_model.featureImportances.toArray()
    pairs = [(n, float(v)) for n, v in zip(feature_cols, imps) if v > 0]
    return sorted(pairs, key=lambda kv: -kv[1])


def strip_training_summary(model) -> None:
    """Drop a fitted model's training summary BEFORE the model rides into
    prediction closures. Spark 4.1 hazard: the summary holds a
    SparkSession reference, and the session's ``observationManager`` is a
    lazily-initialized NON-transient field — null (and silently skipped
    by Java serialization) until the first ``Dataset.observe`` anywhere
    in the session, after which every closure that captures the session
    fails with ``Task not serializable``. Training a model and computing
    write-audit metrics (plans/export.py::write_with_audit) in the same
    session is exactly that combination. Best-effort: MLlib models
    without a summary are left untouched; PipelineModels strip each
    stage.

    The summary field is a Scala ``Option``: it must be cleared with
    ``Option.empty()``, not py4j ``None`` — a raw null makes a later
    ``model.hasSummary`` throw NullPointerException (``isDefined`` on
    null) instead of returning False."""
    from pyspark import SparkContext

    stages = getattr(model, "stages", None)
    for m in stages if stages is not None else [model]:
        try:
            jobj = getattr(m, "_java_obj", None)
            if jobj is None:
                continue
            jvm = SparkContext._active_spark_context._jvm
            jobj.setSummary(jvm.scala.Option.empty())
        except Exception:
            pass


def train_champion_model(
    abt: DataFrame, oot_year: int = 2024, seed: int = 42
) -> dict:
    """End-to-end M1-M7: split, impute, train, score, evaluate.

    The group split is drawn once and stamped on every ABT row as
    ``SPLIT_COL``; the imputed frame is persisted for the fit, scored once,
    and every split is evaluated from that one scored frame. Returns the
    fitted model, per-split metrics, importances, and ``scored``: every ABT
    row with ``predict``/``proba``, persisted — the caller unpersists it.
    Nothing is collected except scalar metrics."""
    on = ["DriverId", "dtYear"]
    pool, _ = oot_split(abt, oot_year)
    year, r = F.col("dtYear"), F.col("__r")
    split = F.when(year == oot_year, "oot").when(
        year < oot_year,
        F.when(r < TEST_FRAC, "test").when(r >= TEST_FRAC, "train"),
    )
    frame = impute_sentinels(
        abt.join(F.broadcast(_group_draws(pool, on, seed)), on, "left")
        .withColumn(SPLIT_COL, split)
        .drop("__r")
    ).persist()
    feats = feature_columns(abt)
    numeric_feats = [
        c
        for c in feats
        if dict(abt.dtypes)[c] in ("int", "bigint", "double", "float")
    ]

    present = frame.select(SPLIT_COL, "flChamp").distinct().collect()
    # Guard the degenerate split: a training pool whose group split left
    # a single label class fits a 1-class forest whose probability
    # vectors have length 1, and the AUC evaluator then dies with an
    # opaque "rawPredictionCol vectors must have length=2". Surface the
    # real cause instead — tight OOT bounds on small pools hit this
    # (e.g. the fixture's oot_year=2022 leaves one season to split).
    if sum(1 for row in present if row[0] == "train") < 2:
        frame.unpersist()
        raise ValueError(
            "training split has a single flChamp class; widen the pool "
            "(earlier oot_year) or re-seed group_random_split"
        )
    model = champion_model(numeric_feats).fit(
        frame.filter(F.col(SPLIT_COL) == "train")
    )
    strip_training_summary(model)

    scored = score(model, frame).persist()
    result = {"model": model, "features": numeric_feats, "metrics": {}}
    splits = {row[0] for row in present}
    for name in ("train", "test", "oot"):
        if name in splits:
            result["metrics"][name] = evaluate(
                scored.filter(F.col(SPLIT_COL) == name)
            )
    # the train evaluation has materialized every partition of ``scored``
    frame.unpersist()
    result["importances"] = feature_importances(model, numeric_feats)
    result["scored"] = scored
    return result
