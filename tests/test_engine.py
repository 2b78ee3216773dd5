"""WeatherEngine facade: the reference's endpoint surface exercised as one
lifecycle — etl → train → promote → predict → evaluate → health."""

from __future__ import annotations

import itertools
from collections import Counter

import pytest
from pyspark.sql import functions as F

from weatherdatapipeline_spark.engine import WeatherEngine
from weatherdatapipeline_spark.sources.synthetic import synthetic_weather


@pytest.fixture(scope="module")
def engine(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("engine"))
    eng = WeatherEngine(
        spark, root, source=lambda s: synthetic_weather(s, n_batches=25)
    )
    return eng


def test_full_lifecycle(engine):
    out = engine.run_etl()
    assert out == {"status": "success", "records": 250, "cities_count": 10}

    trained = engine.train_models(n_splits=2, n_trees=5)
    assert trained["version"] == 1 and trained["stage"] == "Staging"
    assert "mae" in trained["metrics"]

    promoted = engine.promote(1)
    assert promoted == {"version": 1, "stage": "Production"}

    preds = engine.predict_temperature(limit=100)
    assert preds.count() == 100
    assert preds.filter(F.col("pred_temperature").isNotNull()).count() > 0

    wx = engine.predict_weather(limit=50)
    assert wx.count() == 50

    ev = engine.evaluate(limit=200)
    assert ev["n"] > 0 and ev["mae"] >= 0 and 0 <= ev["accuracy"] <= 1

    # persist=True writes row-level prediction-vs-actual details to the
    # predictions sink (reference /monitor/eval?persist=true)
    ev2 = engine.evaluate(limit=100, persist=True)
    eval_rows = engine.catalog.read("predictions", merge_schema=True).filter(
        F.col("pred_type") == "eval"
    )
    assert eval_rows.count() == ev2["n"]
    assert eval_rows.filter(F.col("actual_temp_next").isNotNull()).count() > 0
    assert {"pred_temperature", "actual_condition"} <= set(eval_rows.columns)

    assert "predictions" in engine.collections()
    h = engine.health()
    assert h["status"] == "healthy" and h["model_versions"] == 1


def test_predict_does_not_leak_cached_blocks(spark, engine):
    """Regression: predict paths persisted without unpersist — every call
    in a long-lived engine leaked cached blocks. After predict, the JVM
    must hold no persistent RDDs beyond what existed before."""
    before = set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())
    engine.predict_temperature(limit=20)
    engine.predict_weather(limit=20)
    after = set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())
    assert after <= before, f"leaked cached RDDs: {after - before}"


@pytest.fixture(scope="module")
def served(spark, tmp_path_factory):
    """An engine whose v1 was trained and promoted in this process. Its
    source advances the clock on every poll, so each run_etl adds later
    rows."""
    root = str(tmp_path_factory.mktemp("served"))
    polls = itertools.count()

    def source(s):
        k = next(polls)
        return synthetic_weather(s, n_batches=12, seed=42 + k, start_unix=1_700_000_000 + k * 3600)

    eng = WeatherEngine(spark, root, source=source)
    eng.run_etl()
    eng.promote(eng.train_models(n_splits=1, n_trees=3)["version"])
    return eng


def _rows(df, *cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_predict_scores_once_sink_matches_returned_rows(spark, served):
    """One predict call's sink rows are exactly its returned non-NULL rows,
    and the returned frame is over the scored rows: collecting it runs no
    Spark job (no feature building, no model), and collecting it again
    after more ETL gives the same rows."""
    sc = spark.sparkContext
    for call, col, kind in (
        (served.predict_temperature, "pred_temperature", "regression"),
        (served.predict_weather, "pred_condition", "classification"),
    ):
        def sunk():
            if "predictions" not in served.collections():
                return Counter()
            rows = served.table("predictions").filter(F.col("pred_type") == kind)
            return Counter(_rows(rows, "city", "timestamp", col))

        before = sunk()
        out = call(limit=40)
        sc.setJobGroup(f"collect-{kind}", kind)
        try:
            first = _rows(out, "city", "timestamp", col)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert sc.statusTracker().getJobIdsForGroup(f"collect-{kind}") == []
        assert len(first) == 40
        scored = Counter(r for r in first if r[2] is not None)
        assert scored and sunk() - before == scored
        served.run_etl()
        assert _rows(out, "city", "timestamp", col) == first


def test_production_model_served_from_memory(spark, served, monkeypatch):
    """The bundle train_models just logged serves predict/evaluate with no
    registry.load; a Production change costs exactly one load, and so does
    a fresh engine over the same registry."""
    from weatherdatapipeline_spark.ml.registry import LocalRegistry

    loads = []
    original = LocalRegistry.load

    def counting_load(self, spark_, mv):
        loads.append(mv.version)
        return original(self, spark_, mv)

    monkeypatch.setattr(LocalRegistry, "load", counting_load)

    def serve(eng):
        rows = _rows(eng.predict_temperature(limit=30), "city", "timestamp", "pred_temperature")
        eng.predict_weather(limit=30)
        eng.evaluate(limit=100)
        return rows

    v1_memory = serve(served)
    assert loads == []
    v2 = served.train_models(n_splits=1, n_trees=2)["version"]
    served.promote(v2)
    serve(served)
    assert loads == []
    served.promote(1)
    v1_loaded = serve(served)
    assert loads == [1]
    # the reloaded bundle scores exactly like the in-memory one
    assert v1_loaded == v1_memory

    fresh = WeatherEngine(spark, served.catalog.root, source=served.source)
    serve(fresh)
    assert loads == [1, 1]


def test_predict_without_model_raises(spark, tmp_path_factory):
    eng = WeatherEngine(spark, str(tmp_path_factory.mktemp("cold")))
    eng.run_etl()
    with pytest.raises(RuntimeError, match="no trained model"):
        eng.predict_temperature()


def test_default_source_advances_one_poll_per_etl(spark, tmp_path):
    eng = WeatherEngine(spark, str(tmp_path))
    for _ in range(4):
        assert eng.run_etl()["records"] == 10
    raw = eng.catalog.read("raw_weather")
    assert raw.count() == 40
    assert raw.select("city", "timestamp").distinct().count() == 40
    # poll k is batch k of the generator's own multi-batch feed
    feed = synthetic_weather(spark, n_batches=4)
    assert sorted(raw.select(*feed.columns).collect()) == sorted(feed.collect())


def test_prepare_training_corpus(spark, sf_dir, tmp_path):
    from weatherdatapipeline_spark.pipelines import prepare_training_corpus

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = str(tmp_path / "corpus")
    stats = prepare_training_corpus(spark, docs, out).collect()[0]
    assert 0 < stats["n_docs"] <= docs.count()
    assert 0 < stats["kept_ratio"] <= 1.0
    assert stats["n_chunks"] >= stats["n_docs"]  # every doc yields >= 1 chunk
    assert stats["n_sequences"] >= 1

    written = spark.read.parquet(out)
    assert written.count() == stats["n_chunks"]
    assert set(r["split"] for r in written.select("split").distinct().collect()) <= {
        "train", "val", "test"
    }
    # partition pruning is the read pattern: train-only scan reads one dir
    import os

    assert os.path.isdir(os.path.join(out, "split=train"))
