"""ML path tests: time-ordered CV, train→predict→eval, registry lifecycle."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from weatherdatapipeline_spark.ml.pipeline import (
    classification_metrics,
    predict,
    regression_metrics,
    time_series_splits,
    train,
)
from weatherdatapipeline_spark.ml.registry import HAS_MLFLOW, LocalRegistry
from weatherdatapipeline_spark.sources.synthetic import synthetic_weather


def test_time_series_splits_expanding():
    splits = time_series_splits(60, 5)
    assert len(splits) == 5
    prev_train = 0
    for train_end, val_end in splits:
        assert train_end > prev_train  # expanding prefix
        assert val_end > train_end  # non-empty validation chunk
        prev_train = train_end
    assert splits[-1][1] == 60  # covers the tail


def test_metrics_known_values(spark):
    df = spark.createDataFrame(
        [(1.0, 2.0), (3.0, 3.0), (5.0, 1.0)], "y double, yhat double"
    )
    m = regression_metrics(df, "y", "yhat")
    assert abs(m["mae"] - (1 + 0 + 4) / 3) < 1e-9
    assert abs(m["rmse"] - ((1 + 0 + 16) / 3) ** 0.5) < 1e-9
    dfc = spark.createDataFrame(
        [(0.0, 0.0), (0.0, 1.0), (1.0, 1.0), (1.0, 1.0)], "y double, yhat double"
    )
    mc = classification_metrics(dfc, "y", "yhat")
    assert abs(mc["accuracy"] - 0.75) < 1e-9
    # class 0: p=1, r=.5, f1=2/3 sup=2; class 1: p=2/3, r=1, f1=0.8 sup=2
    assert abs(mc["weighted_f1"] - (2 / 3 * 2 + 0.8 * 2) / 4) < 1e-9


@pytest.fixture(scope="module")
def trained(spark):
    weather = synthetic_weather(spark, n_batches=30)
    return train(weather, n_splits=3, n_trees=5), weather


def test_train_produces_metrics(trained):
    models, _ = trained
    for k in ("mae", "rmse", "accuracy", "weighted_f1"):
        assert k in models.metrics
    assert models.metrics["n_folds"] == 3.0
    assert models.metrics["mae"] >= 0


def test_train_adaptive_feature_fallback(spark, tmp_path):
    """Small corpora retry with lighter lags/windows before the hard floor
    (reference training.py:29-40). 80 raw rows -> default depth leaves 40
    usable (< 50) -> first fallback (lags=[1], rolling=[2]) leaves 60
    (>= 30) and is chosen; the config is recorded and round-trips through
    the registry so inference regenerates matching features."""
    weather = synthetic_weather(spark, n_batches=8)  # 10 cities x 8 rows
    models = train(weather, n_splits=2, n_trees=3)
    assert models.feature_config == {"lags": [1], "rolling_windows": [2]}
    assert all("lag_3" not in c for c in models.feature_cols)
    assert any("lag_1" in c for c in models.feature_cols)

    reg = LocalRegistry(str(tmp_path))
    reg.log("fb", models, params={})
    loaded = reg.load(spark, reg.latest("fb"))
    assert loaded.feature_config == models.feature_config
    preds = predict(loaded, weather)
    assert preds.filter(F.col("pred_temperature").isNotNull()).count() > 0


def test_train_default_depth_when_enough_rows(trained):
    models, _ = trained
    assert models.feature_config == {"lags": [1, 3], "rolling_windows": [3]}


def test_train_insufficient_rows_raises(spark):
    tiny = synthetic_weather(spark, n_batches=5)  # 50 rows → ~10 survive filter
    with pytest.raises(ValueError, match="insufficient"):
        train(tiny, min_rows=1000)


def test_inference_builds_every_trained_onehot(trained):
    """Train/serve skew guard: the stored categories hold all four one-hot
    sources, so inference builds every one-hot the model was trained on
    itself — none is left to align_features' all-False fill."""
    from weatherdatapipeline_spark.operators.features import ONE_HOT_COLS, engineer_features

    models, weather = trained
    assert list(models.categories) == ONE_HOT_COLS
    trained_onehots = [c for c in models.feature_cols if c.startswith(("hour_", "dayofweek_"))]
    assert trained_onehots  # the 30-batch history spans midnight
    cfg = models.feature_config
    feats, cols = engineer_features(
        weather,
        inference=True,
        categories=models.categories,
        lags=cfg["lags"],
        rolling_windows=cfg["rolling_windows"],
    )
    assert cols == models.feature_cols
    row = feats.agg(*[F.max(F.col(c).cast("int")).alias(c) for c in trained_onehots]).first()
    assert all(row[c] == 1 for c in trained_onehots)


def test_registry_entry_without_calendar_levels_still_scores(spark, tmp_path, trained):
    """Entries logged before the calendar levels were stored hold only
    city/country categories; they must still load and score (the missing
    one-hots are aligned in as False, as when they were trained)."""
    import json

    models, weather = trained
    reg = LocalRegistry(str(tmp_path))
    mv = reg.log("old", models, params={})
    meta = f"{mv.path}/meta.json"
    with open(meta) as f:
        entry = json.load(f)
    entry["categories"] = {k: entry["categories"][k] for k in ("city", "country")}
    with open(meta, "w") as f:
        json.dump(entry, f)
    loaded = reg.load(spark, reg.latest("old"))
    assert set(loaded.categories) == {"city", "country"}
    preds = predict(loaded, weather)
    assert preds.count() == weather.count()
    assert preds.filter(F.col("pred_temperature").isNotNull()).count() > 0


def test_predict_appends_columns_keeps_warmup_rows(trained):
    models, weather = trained
    preds = predict(models, weather)
    assert preds.count() == weather.count()  # inference keeps ALL rows (J1-free)
    n_null = preds.filter(F.col("pred_temperature").isNull()).count()
    assert n_null == 10 * 3  # per city: 3 lag-warm-up rows unscorable
    scored = preds.filter(F.col("pred_temperature").isNotNull())
    conditions = {r["pred_condition"] for r in scored.select("pred_condition").distinct().collect()}
    assert conditions <= {"Clear", "Clouds", "Rain", "Mist", "Thunderstorm"}


def test_logistic_regression_alternative(spark, tmp_path):
    from weatherdatapipeline_spark.ml.registry import LocalRegistry

    weather = synthetic_weather(spark, n_batches=20)
    models = train(weather, n_splits=2, n_trees=3, classifier_kind="lr")
    assert models.metrics["accuracy"] >= 0
    reg = LocalRegistry(str(tmp_path))
    reg.log("lr_model", models, params={"classifier_kind": "lr"})
    loaded = reg.load(spark, reg.latest("lr_model"))
    preds = predict(loaded, weather)
    assert preds.filter(F.col("pred_condition").isNotNull()).count() > 0


@pytest.fixture(
    params=[
        "local",
        pytest.param(
            "mlflow",
            marks=pytest.mark.skipif(
                not HAS_MLFLOW, reason="mlflow not installed in this environment"
            ),
        ),
    ]
)
def make_reg(request, tmp_path):
    """Fresh-registry factory parametrized over both backends; the MLflow
    case runs only where mlflow is importable (registry needs a DB-backed
    store, hence sqlite)."""
    import itertools

    counter = itertools.count()

    def _make():
        sub = tmp_path / f"reg{next(counter)}"
        if request.param == "local":
            return LocalRegistry(str(sub))
        from weatherdatapipeline_spark.ml.registry import MlflowRegistry

        return MlflowRegistry(
            tracking_uri=f"sqlite:///{sub}.db", experiment=f"test-{sub.name}"
        )

    return _make


def test_registry_backend_lifecycle(make_reg, spark, trained):
    """The lifecycle contract holds for every registry backend."""
    models, weather = trained
    reg = make_reg()
    v1 = reg.log("weather", models, params={"n_trees": 5})
    assert (v1.version, v1.stage) == (1, "Staging")
    reg.promote("weather", 1, "Production")
    mv = reg.get_stage("weather", "Production")
    assert mv.version == 1 and mv.feature_cols == models.feature_cols
    loaded = reg.load(spark, mv)
    preds = predict(loaded, weather)
    assert preds.filter(F.col("pred_temperature").isNotNull()).count() > 0


@pytest.mark.skipif(HAS_MLFLOW, reason="mlflow installed — constructor works")
def test_mlflow_registry_requires_mlflow():
    from weatherdatapipeline_spark.ml.registry import MlflowRegistry

    with pytest.raises(ImportError, match="mlflow is not installed"):
        MlflowRegistry()


def test_make_registry_auto_falls_back_local(tmp_path):
    from weatherdatapipeline_spark.ml.registry import make_registry

    reg = make_registry(str(tmp_path / "auto"))
    if not HAS_MLFLOW:
        assert isinstance(reg, LocalRegistry)


def test_registry_lifecycle(tmp_path, spark, trained):
    models, weather = trained
    reg = LocalRegistry(str(tmp_path))
    v1 = reg.log("weather", models, params={"n_trees": 5})
    assert (v1.version, v1.stage) == (1, "Staging")
    v2 = reg.log("weather", models, params={"n_trees": 5})
    assert v2.version == 2
    reg.promote("weather", 1, "Production")
    assert reg.get_stage("weather", "Production").version == 1
    reg.promote("weather", 2, "Production")
    got = {v.version: v.stage for v in reg.versions("weather")}
    assert got == {1: "Archived", 2: "Production"}  # stage handoff
    best = reg.best_version("weather", "mae", ascending=True)
    assert best is not None
    # reload and score — the persisted feature contract round-trips
    loaded = reg.load(spark, reg.get_stage("weather", "Production"))
    assert loaded.feature_cols == models.feature_cols
    preds = predict(loaded, weather)
    assert preds.filter(F.col("pred_temperature").isNotNull()).count() > 0


def test_get_stage_falls_back_to_latest(tmp_path, trained):
    models, _ = trained
    reg = LocalRegistry(str(tmp_path) + "/fb")
    reg.log("m", models, params={})
    # nothing in Production → latest version (predict.py:33-43 fallback)
    assert reg.get_stage("m", "Production").version == 1
