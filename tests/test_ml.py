"""MLlib stage tests on the F1 fixture ABT (SURVEY §5 rebuild item 4)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from f1_data_engineering_machine_learning_spark.ml import (
    RACE_GAIN_FEATURES,
    RACE_POSITION_FEATURES,
    SPLIT_COL,
    SPRINT_GAIN_FEATURES,
    SPRINT_POSITION_FEATURES,
    evaluate,
    group_random_split,
    impute_sentinels,
    oot_split,
    score,
    train_champion_model,
)
from f1_data_engineering_machine_learning_spark.pipeline import (
    abt_champions,
    champions,
    driver_feature_store,
    event_dates,
)
from f1_data_engineering_machine_learning_spark.pipeline.fixtures import results_fixture


@pytest.fixture(scope="module")
def abt(spark):
    results = results_fixture(spark)
    fs = driver_feature_store(results, event_dates(results), mode="single_pass")
    return abt_champions(fs, champions(results), oot_bound=2024).cache()


def test_sentinel_feature_lists():
    assert len(SPRINT_POSITION_FEATURES) == 12
    assert len(SPRINT_GAIN_FEATURES) == 6
    assert len(RACE_POSITION_FEATURES) == 12
    assert len(RACE_GAIN_FEATURES) == 6
    assert "medianGridPositionRace1Year" in RACE_POSITION_FEATURES
    assert "avgPositionRaceGainCurrentTemp" in RACE_GAIN_FEATURES


def test_oot_split_partitions(abt):
    pool, oot = oot_split(abt, oot_year=2023)
    assert pool.filter(F.col("dtYear") >= 2023).count() == 0
    assert oot.filter(F.col("dtYear") != 2023).count() == 0
    assert pool.count() + oot.count() == abt.count()


def test_oot_split_second_year_boundaries(abt):
    """Second-OOT-year golden (reference scripts/05_ml_model.py:66-67
    semantics): with oot_year=2022 the pool is STRICTLY years < 2022,
    the holdout exactly == 2022, and years AFTER the OOT year (2023 in
    the fixture) land in NEITHER — the reference silently drops them
    (df_oot = year == oot_year; df_train_all = year < oot_year). The
    single 2023/2024 split can't see that boundary because the fixture
    has no year past 2023."""
    pool, oot = oot_split(abt, oot_year=2022)
    assert pool.filter(F.col("dtYear") >= 2022).count() == 0
    assert oot.filter(F.col("dtYear") != 2022).count() == 0
    n_2023 = abt.filter(F.col("dtYear") == 2023).count()
    assert n_2023 > 0  # the fixture really has post-OOT rows
    assert pool.count() + oot.count() == abt.count() - n_2023


def test_train_champion_model_second_oot_year(abt):
    """M1-M7 end-to-end at a second OOT boundary (oot_year=2022): the
    training pool collapses to the 2021 season, the OOT metrics are
    computed on 2022, and the group split keeps its integrity inside the
    smaller pool."""
    pool, _ = oot_split(abt, oot_year=2022)
    train, test = group_random_split(pool, seed=42)
    tr = {
        (r.DriverId, r.dtYear)
        for r in train.select("DriverId", "dtYear").distinct().collect()
    }
    te = {
        (r.DriverId, r.dtYear)
        for r in test.select("DriverId", "dtYear").distinct().collect()
    }
    assert tr.isdisjoint(te)
    assert train.count() + test.count() == pool.count()

    # seed=42 leaves 2021's only champion driver-year in test — a
    # single-class training pool, which must fail LOUDLY (the guard),
    # not deep in the evaluator with an opaque vector-length error
    with pytest.raises(ValueError, match="single flChamp class"):
        train_champion_model(abt, oot_year=2022, seed=42)

    result = train_champion_model(abt, oot_year=2022, seed=4)
    assert "train" in result["metrics"] and "oot" in result["metrics"]
    for split, m in result["metrics"].items():
        assert 0.0 <= m["accuracy"] <= 1.0, split
        assert 0.0 <= m["roc_auc"] <= 1.0, split
    assert len(result["importances"]) > 0


def test_group_split_integrity(abt):
    train, test = group_random_split(abt, seed=42)
    n_train, n_test = train.count(), test.count()
    assert n_train + n_test == abt.count()
    tr = {(r.DriverId, r.dtYear) for r in train.select("DriverId", "dtYear").distinct().collect()}
    te = {(r.DriverId, r.dtYear) for r in test.select("DriverId", "dtYear").distinct().collect()}
    assert tr.isdisjoint(te)  # a driver-year never straddles the split
    assert 0.05 < n_test / (n_train + n_test) < 0.5  # ~0.2 with small-N noise
    # determinism given the seed
    train2, _ = group_random_split(abt, seed=42)
    assert train2.count() == n_train


def test_impute_sentinels(abt):
    imp = impute_sentinels(abt)
    for c in (
        SPRINT_POSITION_FEATURES
        + SPRINT_GAIN_FEATURES
        + RACE_POSITION_FEATURES
        + RACE_GAIN_FEATURES
    ):
        assert imp.filter(F.col(c).isNull()).count() == 0


def _sprint_debut_row() -> dict:
    """A new driver whose first (and only) session is the 2022 round-2
    sprint: every snapshot of theirs has sprint form and no race form."""
    return {
        "DriverNumber": "99",
        "DriverId": "driver_99",
        "TeamId": "team_99",
        "Position": "5",
        "GridPosition": "6",
        "Status": "Finished",
        "Points": "4.0",
        "Laps": "20",
        "identifier": "sprint",
        "date": "2022-03-14 15:00:00",
        "year": "2022",
        "RoundNumber": "2",
        "Country": "country_02",
        "Location": "loc_02",
        "OfficialEventName": "GP 02 2022",
    }


def test_pipeline_survives_snapshot_without_race_in_scope(spark, tmp_path):
    """Regression: a snapshot with sprints but no race in scope has NULL
    race-only features; they must get the sprint sentinels, or the forest
    dies with 'Vector values MUST NOT be NaN or Infinity'."""
    from f1_data_engineering_machine_learning_spark.pipeline.fixtures import (
        results_rows,
    )
    from f1_data_engineering_machine_learning_spark.pipeline.run import run_pipeline

    rows = results_rows() + [_sprint_debut_row()]
    cols = list(rows[0])
    results = spark.createDataFrame(
        [[r[c] for c in cols] for r in rows], ", ".join(f"{c} string" for c in cols)
    )
    wd = str(tmp_path / "wd")
    summary = run_pipeline(spark, wd, results=results, oot_year=2023)
    assert summary["metrics"]["train"]["roc_auc"] > 0.5

    abt = spark.read.parquet(f"{wd}/abt_champions")
    debut = abt.filter(F.col("DriverId") == "driver_99")
    assert debut.count() > 0
    for c in RACE_POSITION_FEATURES + RACE_GAIN_FEATURES:
        assert debut.filter(F.col(c).isNotNull()).count() == 0, c
    imputed = impute_sentinels(debut).first()
    assert all(imputed[c] == 99.0 for c in RACE_POSITION_FEATURES)
    assert all(imputed[c] == 0.0 for c in RACE_GAIN_FEATURES)


#: Spark jobs train_champion_model launches on the fixture ABT (measured
#: 31): the split/class probe over the one group draw, the forest fit, and
#: two evaluators per split over the one cached scored frame
TRAIN_JOB_BUDGET = 31


def test_train_champion_model_job_budget_and_split_parity(spark, abt):
    """One split assignment and one scoring pass: the job count stays
    within a pinned budget, and every split's metrics equal the reference
    path (group_random_split + score + evaluate per split)."""
    from tests.util_jobs import jobs_launched

    result, n_jobs = jobs_launched(
        spark, lambda: train_champion_model(abt, oot_year=2023)
    )
    scored = result["scored"]
    try:
        assert n_jobs <= TRAIN_JOB_BUDGET, n_jobs
        assert scored.is_cached
        assert scored.count() == abt.count()

        pool, oot = oot_split(abt, 2023)
        train, test = group_random_split(pool, seed=42)
        model = result["model"]
        for name, split in (("train", train), ("test", test), ("oot", oot)):
            want = evaluate(score(model, impute_sentinels(split)))
            got = result["metrics"][name]
            for metric in ("accuracy", "roc_auc"):
                assert abs(got[metric] - want[metric]) <= 1e-12, (name, metric)
            assert (
                scored.filter(F.col(SPLIT_COL) == name).count() == split.count()
            )
    finally:
        scored.unpersist()


def test_train_champion_model(abt):
    result = train_champion_model(abt, oot_year=2023)
    assert result["metrics"]["train"]["roc_auc"] > 0.5
    assert 0 <= result["metrics"]["train"]["accuracy"] <= 1
    assert "oot" in result["metrics"]
    assert len(result["importances"]) > 0
    top_name, top_imp = result["importances"][0]
    assert top_imp > 0
    # scoring stays distributed and bounded
    from f1_data_engineering_machine_learning_spark.ml import score

    scored = score(result["model"], impute_sentinels(abt))
    probs = scored.agg(
        F.min("proba").alias("lo"), F.max("proba").alias("hi")
    ).collect()[0]
    assert 0.0 <= probs.lo and probs.hi <= 1.0


def test_text_classifier_separable(spark):
    """HashingTF->IDF->LR pipeline learns a separable synthetic corpus."""
    import random

    from f1_data_engineering_machine_learning_spark.ml.text_clf import train_text_classifier

    rng = random.Random(42)
    en = "the and of to in is that with for on time work world life".split()
    es = "el la de que y en un una los por como para con su al".split()
    rows = []
    for i in range(200):
        vocab, label = (en, 0) if i % 2 == 0 else (es, 1)
        rows.append((" ".join(rng.choices(vocab, k=12)), label))
    df = spark.createDataFrame(rows, ["text", "label"])
    model, acc = train_text_classifier(df, num_features=1 << 10)
    assert acc > 0.95
    # scoring is distributed and schema-stable
    scored = model.transform(df)
    assert "prediction" in scored.columns


def test_strip_training_summary_leaves_has_summary_false(spark):
    """Regression (round-4 advice): stripping must clear the summary to
    Scala Option.empty(), not a raw null — a null Option makes a later
    model.hasSummary throw NullPointerException instead of returning
    False."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import VectorAssembler

    from f1_data_engineering_machine_learning_spark.ml.model import (
        strip_training_summary,
    )

    df = spark.createDataFrame(
        [(float(i % 2), float(i), float(2 * i)) for i in range(20)],
        "label double, a double, b double",
    )
    feats = VectorAssembler(inputCols=["a", "b"], outputCol="features").transform(df)
    model = LogisticRegression(maxIter=2).fit(feats)
    assert model.hasSummary is True
    strip_training_summary(model)
    assert model.hasSummary is False  # not an NPE


def test_training_survives_prior_observation(spark, tmp_path):
    """Regression: one Dataset.observe anywhere in the session initializes
    the session's ObservationManager (a non-transient lazy field), after
    which any closure capturing the session via a model's training
    summary dies with Task not serializable. strip_training_summary at
    the fit sites keeps train->score->evaluate working in a session that
    has produced write-audit metrics."""
    from f1_data_engineering_machine_learning_spark.plans.export import (
        write_with_audit,
    )
    from f1_data_engineering_machine_learning_spark.ml.text_clf import (
        train_text_classifier,
    )
    from pyspark.sql import functions as F

    # poison the session the way a real pipeline does: audited write
    metrics = write_with_audit(
        spark.range(50).select(F.col("id").alias("k")),
        str(tmp_path / "audited"),
        key_col="k",
    )
    assert metrics["n_rows"] == 50
    docs = spark.createDataFrame(
        [(i, ("spam " * 5 if i % 2 else "ham words here"), i % 2)
         for i in range(40)],
        "id long, text string, label int",
    )
    model, acc = train_text_classifier(docs, "text", "label")
    assert acc > 0.9  # evaluator ran through the closure, no serialization error
