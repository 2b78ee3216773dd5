"""Training pipeline — the Spark ML re-expression of the reference's
sklearn path (reference ml/training.py).

Mapping (SURVEY.md §3.2):
- sklearn RandomForestRegressor/Classifier (training.py:45, :70)
  → ``pyspark.ml`` RandomForest* (tree building distributes across
  executors; the reference got single-node ``n_jobs=-1`` at best)
- TimeSeriesSplit(5) over row order (training.py:25-26) →
  ``row_number()`` over a TOTAL order (city, timestamp, tiebreaker) +
  range filters — expanding train prefix / next-chunk validation,
  deterministic under any partitioning (SURVEY.md §7.3 hard part (c))
- metric fns (training.py:55-57, :83-85) → native evaluators/aggregates
  (MAE, RMSE, accuracy, weighted F1 — A10)
- feature-schema artifact (training.py:105,:129) → feature_cols list in
  the registry entry, plus the levels of all four one-hot sources, so
  inference builds the trained one-hots itself; align_features realigns
  whatever an entry's levels do not produce

Scale: training data flows through ONE VectorAssembler plan; CV folds are
filters over a row_number column — no per-fold shuffles. RF fits are the
dominant cost and parallelize in the JVM.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators.features import engineer_features


def with_time_order(df: DataFrame, tiebreaker: str | None = None) -> DataFrame:
    """Impose the reference's implicit global row order (sort by city,
    timestamp — features.py:27) as an explicit total order column."""
    order = [F.col("city"), F.col("timestamp")]
    if tiebreaker:
        order.append(F.col(tiebreaker))
    w = Window.orderBy(*order)
    return df.withColumn("_row", F.row_number().over(w))


def time_series_splits(n_rows: int, n_splits: int = 5) -> list[tuple[int, int]]:
    """sklearn TimeSeriesSplit fold boundaries: expanding train prefix
    [1, train_end], validation chunk (train_end, val_end]. Returns row
    ranges (1-based, inclusive) as (train_end, val_end)."""
    fold = n_rows // (n_splits + 1)
    out = []
    for k in range(1, n_splits + 1):
        train_end = fold * k + (n_rows % (n_splits + 1))
        val_end = min(train_end + fold, n_rows)
        out.append((train_end, val_end))
    return out


@dataclass
class TrainedModels:
    regressor: object
    classifier: object
    label_indexer: object
    feature_cols: list[str]
    categories: dict[str, list]
    metrics: dict[str, float] = field(default_factory=dict)
    feature_config: dict = field(default_factory=dict)


# Adaptive feature fallback (reference training.py:29-40): small corpora
# can't afford the deep lag/rolling warm-up rows, so retry with lighter
# temporal features before giving up — (config overrides, min usable rows
# to accept this rung). The last rung always applies, subject to the hard
# min_rows floor in train().
FEATURE_FALLBACKS: list[tuple[dict, int]] = [
    ({}, 50),  # default lags [1,3] / rolling [3]
    ({"lags": [1], "rolling_windows": [2]}, 30),
    ({"lags": [1], "rolling_windows": []}, 0),
]


def _assembler(feature_cols: list[str]):
    from pyspark.ml.feature import VectorAssembler

    return VectorAssembler(inputCols=feature_cols, outputCol="features")


def regression_metrics(scored: DataFrame, label: str, pred: str) -> dict[str, float]:
    """MAE/RMSE as single-pass aggregates (A10)."""
    row = scored.agg(
        F.avg(F.abs(F.col(label) - F.col(pred))).alias("mae"),
        F.sqrt(F.avg(F.pow(F.col(label) - F.col(pred), 2))).alias("rmse"),
    ).collect()[0]
    return {"mae": float(row["mae"]), "rmse": float(row["rmse"])}


def classification_metrics(scored: DataFrame, label: str, pred: str) -> dict[str, float]:
    """Accuracy + weighted F1 from one per-class confusion aggregate
    (precision/recall per class, support-weighted — A10)."""
    per_class = (
        scored.groupBy(label)
        .agg(
            F.count(F.lit(1)).alias("support"),
            F.sum((F.col(label) == F.col(pred)).cast("long")).alias("tp"),
        )
        .collect()
    )
    pred_counts = {
        r[0]: r[1]
        for r in scored.groupBy(pred).agg(F.count(F.lit(1)).alias("n")).collect()
    }
    total = sum(r["support"] for r in per_class)
    correct = sum(r["tp"] for r in per_class)
    f1_sum = 0.0
    for r in per_class:
        tp, sup = r["tp"], r["support"]
        predicted = pred_counts.get(r[0], 0)
        prec = tp / predicted if predicted else 0.0
        rec = tp / sup if sup else 0.0
        f1 = 2 * prec * rec / (prec + rec) if prec + rec else 0.0
        f1_sum += f1 * sup
    return {
        "accuracy": correct / total if total else 0.0,
        "weighted_f1": f1_sum / total if total else 0.0,
    }


def train(
    weather: DataFrame,
    n_splits: int = 5,
    n_trees: int = 50,
    min_rows: int = 20,
    classifier_kind: str = "rf",
) -> TrainedModels:
    """L-path: feature plan → time-ordered CV metrics → refit on all rows
    (reference training.py:147-158 flow; hard floor of 20 rows mirrors
    training.py:95-96). Feature depth adapts to data volume via
    FEATURE_FALLBACKS (training.py:29-40); the chosen config is recorded
    on the returned bundle as ``feature_config``."""
    from pyspark.ml.classification import RandomForestClassifier
    from pyspark.ml.feature import StringIndexer
    from pyspark.ml.regression import RandomForestRegressor

    from ..operators.features import DEFAULT_LAGS, DEFAULT_ROLLING, one_hot_levels

    # one scan for all four one-hot sources, shared by every fallback rung
    # and stored with the model so inference builds the same one-hots
    categories = one_hot_levels(weather)
    feats = feature_cols = None
    feature_config: dict = {}
    n = 0
    for overrides, accept_floor in FEATURE_FALLBACKS:
        feats, feature_cols = engineer_features(
            weather, inference=False, categories=categories, **overrides
        )
        feats = with_time_order(feats).persist()
        n = feats.count()
        feature_config = {
            "lags": overrides.get("lags", DEFAULT_LAGS),
            "rolling_windows": overrides.get("rolling_windows", DEFAULT_ROLLING),
        }
        if n >= accept_floor:
            break
        feats.unpersist()
    # big data takes the first rung after the one count train() always
    # needed; only small corpora pay the extra feature passes
    if n < min_rows:
        raise ValueError(
            f"insufficient training data: {n} rows < {min_rows} (even after "
            f"feature fallbacks; last config {feature_config})"
        )

    assembled = _assembler(feature_cols).transform(feats)
    indexer = StringIndexer(
        inputCol="target_condition", outputCol="label_idx", stringOrderType="alphabetAsc"
    ).fit(assembled)
    assembled = indexer.transform(assembled).persist()

    reg = RandomForestRegressor(
        featuresCol="features", labelCol="target_temp_next", numTrees=n_trees, seed=42
    )
    if classifier_kind == "lr":
        # the reference's LogisticRegression alternative (training.py:72-74)
        from pyspark.ml.classification import LogisticRegression

        clf = LogisticRegression(featuresCol="features", labelCol="label_idx", maxIter=50)
    else:
        clf = RandomForestClassifier(
            featuresCol="features", labelCol="label_idx", numTrees=n_trees, seed=42
        )

    fold_metrics: list[dict[str, float]] = []
    for train_end, val_end in time_series_splits(n, n_splits):
        tr = assembled.filter(F.col("_row") <= train_end)
        va = assembled.filter((F.col("_row") > train_end) & (F.col("_row") <= val_end))
        if tr.isEmpty() or va.isEmpty():
            continue
        m = {}
        scored_r = reg.fit(tr).transform(va)
        m.update(regression_metrics(scored_r, "target_temp_next", "prediction"))
        scored_c = clf.fit(tr).transform(va)
        m.update(classification_metrics(scored_c, "label_idx", "prediction"))
        fold_metrics.append(m)

    metrics = {
        k: sum(m[k] for m in fold_metrics) / len(fold_metrics)
        for k in (fold_metrics[0] if fold_metrics else {})
    }
    metrics["n_rows"] = float(n)
    metrics["n_folds"] = float(len(fold_metrics))

    final_reg = reg.fit(assembled)
    final_clf = clf.fit(assembled)
    assembled.unpersist()
    feats.unpersist()
    return TrainedModels(
        regressor=final_reg,
        classifier=final_clf,
        label_indexer=indexer,
        feature_cols=feature_cols,
        categories=categories,
        metrics=metrics,
        feature_config=feature_config,
    )


def predict(models: TrainedModels, weather: DataFrame) -> DataFrame:
    """P-path: inference features (NaN rows kept) → transform-appended
    prediction columns. The reference's positional concat J1 (main.py:132)
    disappears: ``model.transform`` adds columns on the same rows.

    Rows whose features contain NULLs (lag/rolling warm-up) are scored as
    NULL predictions — kept, mirroring inference=True semantics."""
    from ..operators.features import align_features

    cfg = models.feature_config or {}
    feats, feature_cols = engineer_features(
        weather,
        inference=True,
        categories=models.categories,
        # regenerate with the TRAINED config: a fallback-trained model's
        # columns (e.g. roll_2 stats) don't exist in default-depth features
        lags=cfg.get("lags"),
        rolling_windows=cfg.get("rolling_windows"),
    )
    feats = align_features(feats, models.feature_cols)
    cond = F.lit(True)
    for c in models.feature_cols:
        cond = cond & F.col(c).isNotNull()
    scorable = feats.filter(cond)
    assembled = _assembler(models.feature_cols).transform(scorable)
    scored = models.regressor.transform(assembled).withColumnRenamed(
        "prediction", "pred_temperature"
    )
    scored = models.classifier.transform(scored).withColumnRenamed(
        "prediction", "pred_label_idx"
    )
    labels = models.label_indexer.labels
    label_arr = F.array(*[F.lit(x) for x in labels])
    scored = scored.withColumn(
        "pred_condition", F.element_at(label_arr, F.col("pred_label_idx").cast("int") + 1)
    )
    keep = ["city", "timestamp", "pred_temperature", "pred_condition"]
    preds = scored.select(*keep)
    # left join back so un-scorable warm-up rows surface with NULL preds
    return feats.select("city", "timestamp").join(preds, ["city", "timestamp"], "left")
