"""WeatherEngine — the reference's user-facing surface, endpoint for
endpoint, minus HTTP (FastAPI/uvicorn is an explicit non-goal,
SURVEY.md §7.4; any web framework can wrap this facade).

| Reference endpoint (main.py)      | Here                                   |
|-----------------------------------|----------------------------------------|
| GET  /run-etl-mongodb   (:70)     | ``run_etl()``                          |
| POST /train             (:115)    | ``train_models()``                     |
| GET  /predict/temp      (:124)    | ``predict_temperature(limit)``         |
| GET  /predict/weather   (:207)    | ``predict_weather(limit)``             |
| GET  /monitor/eval      (:153)    | ``evaluate(limit)``                    |
| POST /registry/promote  (:194)    | ``promote(version)``                   |
| GET  /weather-data/<c>  (:235)    | ``table(name)``                        |
| GET  /collections       (:261)    | ``collections()``                      |
| GET  /health            (:274)    | ``health()``                           |
| POST /scheduler/start   (:284)    | ``start_stream(minutes)``              |

Each method returns DataFrames / plain dicts, lazily where possible —
the caller decides when to collect (the reference eagerly materialized
at every step). The predict endpoints are the exception: they score once,
sink the scored rows and return a frame over those same rows.

The engine is long-lived, so per-call fixed costs are paid once: the
Production bundle stays in memory between predict/evaluate calls
(``train_models`` seeds it with the bundle it just logged) and is reloaded
from the registry only when the Production version changes.
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .ml.pipeline import TrainedModels
from .ml.pipeline import predict as _predict
from .ml.pipeline import train as _train
from .ml.registry import make_registry
from .operators.stats import batch_statistics
from .sources.catalog import TableCatalog
from .sources.synthetic import CITIES, synthetic_weather

MODEL_NAME = "weather_models"


def _synthetic_poll(spark: SparkSession, k: int) -> DataFrame:
    """Poll ``k`` of the default feed: exactly batch ``k`` of
    ``synthetic_weather(n_batches=k + 1)``, since a generated row depends
    only on id + seed and its poll time. Successive polls therefore never
    repeat a (city, timestamp)."""
    return synthetic_weather(
        spark, n_batches=1, seed=42 + k * len(CITIES), start_unix=1_700_000_000 + 300 * k
    )


class WeatherEngine:
    def __init__(self, spark: SparkSession, root: str, source=None, registry=None):
        """``source``: callable(spark) -> DataFrame of WEATHER_RAW rows.
        Defaults to the synthetic generator, one new 5-minute poll per
        ``run_etl`` (a new engine starts the feed over); production wires
        ``sources.rest.ingest`` here (same injection seam the tests use).
        ``registry``: any object with the LocalRegistry interface; defaults
        to make_registry's auto pick — MlflowRegistry where mlflow is
        installed (the reference always talks to MLflow), LocalRegistry
        otherwise.
        """
        self.spark = spark
        self.catalog = TableCatalog(spark, root)
        self.registry = registry or make_registry(f"{root.rstrip('/')}/model_registry")
        # the default feed advances one poll per call, like the live API
        polls = itertools.count()
        self.source = source or (lambda s: _synthetic_poll(s, next(polls)))
        # (version, path, TrainedModels) of the bundle last trained or
        # loaded. A registry version directory is written once by the
        # single writer, so a matching (version, path) is the same models.
        self._served: tuple[int, str, TrainedModels] | None = None

    # --- E-path --------------------------------------------------------

    def run_etl(self) -> dict:
        """Extract → four sinks + stats (reference main.py:70-112)."""
        batch = self.source(self.spark).persist()
        try:
            self.catalog.append_raw(batch)
            self.catalog.overwrite_current(batch)
            self.catalog.append_batch_partition(batch)
            stats = batch_statistics(batch)
            self.catalog.append_stats(stats)
            row = stats.collect()[0]
            return {
                "status": "success",
                "records": row["total_records"],
                "cities_count": row["cities_count"],
            }
        finally:
            batch.unpersist()

    # --- L-path --------------------------------------------------------

    def train_models(self, **kwargs) -> dict:
        """Train on the full raw history, log + auto-promote to Staging
        (reference main.py:115-121 → training.py:147-158)."""
        raw = self.catalog.read("raw_weather")
        models = _train(raw, **kwargs)
        mv = self.registry.log(MODEL_NAME, models, params=dict(kwargs))
        self._served = (mv.version, mv.path, models)
        return {"version": mv.version, "stage": mv.stage, "metrics": models.metrics}

    def promote(self, version: int, stage: str = "Production") -> dict:
        mv = self.registry.promote(MODEL_NAME, version, stage)
        return {"version": mv.version, "stage": mv.stage}

    # --- P-path --------------------------------------------------------

    def _production_models(self) -> TrainedModels:
        mv = self.registry.get_stage(MODEL_NAME, "Production")
        if mv is None:
            raise RuntimeError("no trained model available — call train_models()")
        if self._served is None or self._served[:2] != (mv.version, mv.path):
            self._served = (mv.version, mv.path, self.registry.load(self.spark, mv))
        return self._served[2]

    def _score_latest(self, limit: int) -> DataFrame:
        raw = self.catalog.read("raw_weather")
        latest = raw.orderBy(F.desc("timestamp"), F.desc("city")).limit(limit)
        return _predict(self._production_models(), latest)

    def _predict_to_sink(self, limit: int, pred_col: str, pred_type: str) -> DataFrame:
        """Score the latest ``limit`` rows in ONE pass: the scored rows are
        collected (Arrow keeps timestamps exact), the sink is written from
        them, and the returned frame is built over those same rows — so it
        holds no cached blocks and re-collecting it re-runs no model."""
        preds = self._score_latest(limit)
        local = self.spark.createDataFrame(preds.toArrow(), schema=preds.schema)
        self.catalog.append_predictions(
            local.filter(F.col(pred_col).isNotNull()), pred_type=pred_type
        )
        return local.select("city", "timestamp", pred_col)

    def predict_temperature(self, limit: int = 100) -> DataFrame:
        """Reference main.py:124-150: latest rows scored, predictions sunk.

        Eager: the call scores once and appends the non-NULL predictions
        to the sink. The returned (city, timestamp, pred_temperature)
        frame is over the at-most-``limit`` rows that were scored, so its
        non-NULL rows equal the rows sunk by this call, and collecting it
        again gives the same rows even after later ETL or training."""
        return self._predict_to_sink(limit, "pred_temperature", "regression")

    def predict_weather(self, limit: int = 100) -> DataFrame:
        """Reference main.py:207: as ``predict_temperature``, for the
        condition class (``pred_condition``)."""
        return self._predict_to_sink(limit, "pred_condition", "classification")

    def evaluate(self, limit: int = 500, persist: bool = False) -> dict:
        """A10 monitoring metrics of Production models on recent history
        (reference main.py:153-191): next-step targets from the data
        itself, MAE/RMSE on temperature, accuracy on condition.

        ``persist=True`` additionally writes the per-row
        prediction-vs-actual details to the predictions sink tagged
        ``pred_type="eval"`` (reference /monitor/eval?persist=true,
        predict.py:182-252 evaluate_with_details)."""
        from pyspark.sql import Window

        from .operators.features import ensure_event_time

        preds = self._score_latest(limit)
        # predictions carry the coerced TimestampType key (F1); coerce the
        # raw side identically so the (city, timestamp) join keys align
        raw = ensure_event_time(self.catalog.read("raw_weather"))
        w = Window.partitionBy("city").orderBy("timestamp")
        actual = raw.select(
            "city",
            "timestamp",
            F.lead("temperature", 1).over(w).alias("actual_temp_next"),
            F.col("weather").alias("actual_condition"),
        )
        joined = preds.join(actual, ["city", "timestamp"], "inner").filter(
            F.col("pred_temperature").isNotNull()
        )
        if persist:
            joined = joined.persist()
        try:
            if persist:
                details = joined.select(
                    "city",
                    "timestamp",
                    "pred_temperature",
                    "pred_condition",
                    "actual_temp_next",
                    "actual_condition",
                )
                self.catalog.append_predictions(details, pred_type="eval")
            row = joined.agg(
                F.count(F.lit(1)).alias("n"),
                F.avg(F.abs(F.col("actual_temp_next") - F.col("pred_temperature"))).alias("mae"),
                F.sqrt(
                    F.avg(F.pow(F.col("actual_temp_next") - F.col("pred_temperature"), 2))
                ).alias("rmse"),
                F.avg(
                    (F.col("actual_condition") == F.col("pred_condition")).cast("double")
                ).alias("accuracy"),
            ).collect()[0]
            return {k: row[k] for k in ("n", "mae", "rmse", "accuracy")}
        finally:
            if persist:
                joined.unpersist()

    # --- data access ---------------------------------------------------

    def table(self, name: str) -> DataFrame:
        return self.catalog.read(name)

    def collections(self) -> list[str]:
        return self.catalog.list_tables()

    def health(self) -> dict:
        return {
            "status": "healthy",
            "tables": self.collections(),
            "model_versions": len(self.registry.versions(MODEL_NAME)),
        }

    # --- streaming (replaces the APScheduler cron, reference :284) -----

    def start_stream(self, source_dir: str, schema, minutes: int = 5, checkpoint=None):
        """Continuous ETL: file-stream source → the four sinks every
        ``minutes`` (ST1)."""
        from .streaming.jobs import streaming_etl

        stream = self.spark.readStream.schema(schema).parquet(source_dir)
        return streaming_etl(
            stream, self.catalog, trigger_minutes=minutes, checkpoint=checkpoint
        )
