"""Per-city time-series feature engineering — the Spark re-expression of
the reference's ``engineer_features`` (reference ml/features.py:16-79).

Pandas-parity contract (the oracle for this module is pandas itself; see
tests/test_features_pandas_oracle.py):

- unix-seconds → timestamp with coerce-to-null (reference features.py:9-13)
- sort by (city, timestamp) → expressed as window ordering, not a global
  sort (reference features.py:27 — W5)
- ``hour``; ``dayofweek`` with the pandas convention Monday=0 (Spark
  ``weekday``; reference features.py:30-31 — F2/F3)
- per-city lags [1,3] of temperature/humidity/wind_speed/pressure →
  NULL in the first k rows of each city, exactly where pandas yields NaN
  (reference features.py:34-39 — W1)
- rolling mean/std (sample std, ddof=1) over 3 rows with pandas
  ``min_periods=window`` default: first w-1 rows of each city are NULL —
  the count-mask emulation (reference features.py:44-46 — W3/W4)
- regression target ``target_temp_next`` = next-step temperature (lead);
  classification target ``target_condition`` = current weather
  (reference features.py:50-52 — W2)
- one-hot city/country/hour/dayofweek with ``drop_first=True`` semantics:
  category levels discovered sorted, the first level dropped, boolean
  columns named ``{col}_{level}`` (reference features.py:67 — F12)
- training mode drops any row with a NULL in any feature or target;
  inference mode keeps all rows (reference features.py:71-77 — P6)

Unlike the reference, everything is ONE lazy logical plan over a single
DataFrame — targets are columns, so the positional index alignments
(J1/J4) disappear; row identity is carried by (city, timestamp).

Scale: the only shuffle is the hash partition on ``city`` for the windows;
every lag/rolling/one-hot is computed inside that one exchange. The plan is
two projections whatever the lag/window/level counts: one ``withColumns``
for every derived column (calendar, lags, rolling stats, targets), one for
every one-hot, so building it costs two analyzer passes instead of one per
column. Category discovery, when the caller passes no levels, is one
``collect_set`` aggregate over all one-hot sources at once.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

DEFAULT_LAGS = [1, 3]
DEFAULT_ROLLING = [3]
ONE_HOT_COLS = ["city", "country", "hour", "dayofweek"]
DROP_COLS = [
    "description",
    "weather",
    "timestamp",
    "inserted_at",
    "updated_at",
    "batch_id",
    "batch_info",
    "is_current",
]
LAG_BASES = {
    "temp": "temperature",
    "humidity": "humidity",
    "wind": "wind_speed",
    "pressure": "pressure",
}


def ensure_event_time(df: DataFrame, ts_col: str = "timestamp") -> DataFrame:
    """Unix seconds → TimestampType, bad values → NULL (F1: the
    ``pd.to_datetime(unit='s', errors='coerce')`` parity via try_cast)."""
    field = dict(zip(df.columns, [f.dataType.simpleString() for f in df.schema.fields]))
    if field.get(ts_col) == "timestamp":
        return df
    return df.withColumn(ts_col, F.timestamp_seconds(F.col(ts_col).try_cast("long")))


def discover_categories(df: DataFrame, cols: list[str]) -> dict[str, list]:
    """Sorted distinct non-NULL levels per column — what ``pd.get_dummies``
    derives implicitly. One ``collect_set`` aggregate covers every column
    (empty input yields empty lists); the result is persisted as model
    metadata so inference NEVER re-derives categories from live data (the
    reference instead patches drift after the fact in ``_align_features``,
    predict.py:65-88)."""
    row = df.agg(*[F.collect_set(c).alias(c) for c in cols]).first()
    return {c: sorted(row[c]) for c in cols}


def _calendar() -> dict[str, Column]:
    # F2/F3: pandas dayofweek is Monday=0 → Spark weekday
    return {"hour": F.hour("timestamp"), "dayofweek": F.weekday("timestamp")}


def one_hot_levels(df: DataFrame) -> dict[str, list]:
    """The levels of every ``ONE_HOT_COLS`` column of raw weather rows — the
    categories ``engineer_features`` discovers when given none."""
    return discover_categories(ensure_event_time(df).withColumns(_calendar()), ONE_HOT_COLS)


def engineer_features(
    df: DataFrame,
    lags: list[int] | None = None,
    rolling_windows: list[int] | None = None,
    inference: bool = False,
    categories: dict[str, list] | None = None,
    tiebreaker_col: str | None = None,
) -> tuple[DataFrame, list[str]]:
    """Returns (DataFrame, feature_column_names).

    The DataFrame carries key columns (city, timestamp), all feature
    columns, and both targets — callers select what they need. The feature
    column list is the persistable schema contract (reference
    training.py:105 saves the same thing as a JSON artifact).
    """
    # None means default; an EMPTY list is a real request for no lags /
    # no rolling features (the adaptive-fallback ladder passes [])
    lags = DEFAULT_LAGS if lags is None else lags
    rolling_windows = DEFAULT_ROLLING if rolling_windows is None else rolling_windows

    df = ensure_event_time(df)
    # pandas' stable sort keeps original row order for duplicate (city,
    # timestamp) pairs; distributed ordering has no "original order", so a
    # caller-supplied tiebreaker column makes the window total and the
    # result deterministic (SURVEY.md §7.3 hard part (c)).
    order = [F.col("timestamp")] + ([F.col(tiebreaker_col)] if tiebreaker_col else [])
    w = Window.partitionBy("city").orderBy(*order)

    # ONE projection for every derived column: calendar, W1 per-city lags,
    # W3/W4 rolling stats with the min_periods=w mask (pandas yields NaN
    # until the window is full; count over the frame supplies the mask),
    # W2 targets (lead for next-step temperature, current weather as class)
    derived = _calendar()
    for lag in lags:
        for short, base in LAG_BASES.items():
            derived[f"{short}_lag_{lag}"] = F.lag(base, lag).over(w)
    for win in rolling_windows:
        if win and win > 1:
            frame = w.rowsBetween(-(win - 1), 0)
            full_t = F.count("temperature").over(frame) >= win
            full_h = F.count("humidity").over(frame) >= win
            derived[f"temp_rollmean_{win}"] = F.when(full_t, F.avg("temperature").over(frame))
            derived[f"temp_rollstd_{win}"] = F.when(
                full_t, F.stddev_samp("temperature").over(frame)
            )
            derived[f"humidity_rollmean_{win}"] = F.when(full_h, F.avg("humidity").over(frame))
    derived["target_temp_next"] = F.lead("temperature", 1).over(w)
    derived["target_condition"] = F.col("weather")
    if categories is None:
        categories = one_hot_levels(df)
    df = df.withColumns(derived)

    # F12: one-hot with drop_first semantics over fixed category lists, in
    # a second projection (they read the calendar columns built above)
    onehots = {
        f"{c}_{level}": (F.col(c) == F.lit(level)).cast("boolean")
        for c in ONE_HOT_COLS
        for level in categories.get(c, [])[1:]  # drop_first drops the sorted-first level
    }
    df = df.withColumns(onehots)

    numeric_features = [
        "temperature",
        "feels_like",
        "humidity",
        "pressure",
        "wind_speed",
        *[f"{s}_lag_{k}" for k in lags for s in LAG_BASES],
        *[
            f"{p}_{win}"
            for win in rolling_windows
            if win and win > 1
            for p in ("temp_rollmean", "temp_rollstd", "humidity_rollmean")
        ],
    ]
    feature_cols = numeric_features + list(onehots)

    # P6: training-mode validity filter (any-NULL feature or NULL target)
    if not inference:
        cond = F.lit(True)
        for c in feature_cols + ["target_temp_next", "target_condition"]:
            cond = cond & F.col(c).isNotNull()
        df = df.filter(cond)

    keep = ["city", "timestamp"] + feature_cols + ["target_temp_next", "target_condition"]
    # one-hot replaced the raw categorical; drop the reference's drop-set
    # plus the raw one-hot sources (pandas get_dummies removes them too)
    return df.select(*[c for c in keep if c in df.columns]), feature_cols


def align_features(
    df: DataFrame, expected_feature_cols: list[str], onehot_prefixes: tuple[str, ...] = (
        "city_", "country_", "hour_", "dayofweek_",
    )
) -> DataFrame:
    """Schema-alignment contract at inference (reference predict.py:65-88):
    missing one-hot columns materialize as False, missing numerics as 0.0,
    extra columns are dropped, order enforced. A pure ``select`` builder —
    no data pass, just plan surgery."""
    existing = set(df.columns)
    selected = []
    for c in expected_feature_cols:
        if c in existing:
            selected.append(F.col(c))
        elif c.startswith(onehot_prefixes):
            selected.append(F.lit(False).alias(c))
        else:
            selected.append(F.lit(0.0).alias(c))
    passthrough = [c for c in df.columns if c not in expected_feature_cols]
    return df.select(*[F.col(c) for c in passthrough], *selected)
