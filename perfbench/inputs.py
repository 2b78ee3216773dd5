"""Seeded input generation for the benchmark workloads.

Everything here is a pure function of the seed: numpy's PCG64 generator
drives every value, and files are written with pyarrow (no Spark), so the
program under test only ever sees the generated files.

- ``weather_polls``: 54-city observation polls at the reference's 5-minute
  cadence (one table per poll, per-city strictly increasing timestamps).
- ``documents``: a word-bag corpus shaped like the repo's testdata
  ``documents`` table, with a stated share of near-duplicate rewrites.
- ``star_tables``: the small TPC-H-style tables the query mix reads
  (``lineitem``, ``supplier``, ``events``), same schemas as the testdata.
"""

from __future__ import annotations

import itertools
import os
from collections.abc import Iterator
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The reference polls 54 cities (config.py); (city, ISO-2 country).
CITIES = [
    ("Mumbai", "IN"), ("Delhi", "IN"), ("Bangalore", "IN"), ("Chennai", "IN"),
    ("Kolkata", "IN"), ("Hyderabad", "IN"), ("Pune", "IN"), ("Ahmedabad", "IN"),
    ("Jaipur", "IN"), ("Lucknow", "IN"), ("London", "GB"), ("Manchester", "GB"),
    ("Edinburgh", "GB"), ("New York", "US"), ("Los Angeles", "US"), ("Chicago", "US"),
    ("Houston", "US"), ("Seattle", "US"), ("Miami", "US"), ("Toronto", "CA"),
    ("Vancouver", "CA"), ("Mexico City", "MX"), ("Sao Paulo", "BR"), ("Rio de Janeiro", "BR"),
    ("Buenos Aires", "AR"), ("Lima", "PE"), ("Bogota", "CO"), ("Santiago", "CL"),
    ("Paris", "FR"), ("Lyon", "FR"), ("Berlin", "DE"), ("Munich", "DE"),
    ("Madrid", "ES"), ("Barcelona", "ES"), ("Rome", "IT"), ("Milan", "IT"),
    ("Amsterdam", "NL"), ("Stockholm", "SE"), ("Oslo", "NO"), ("Warsaw", "PL"),
    ("Moscow", "RU"), ("Istanbul", "TR"), ("Cairo", "EG"), ("Lagos", "NG"),
    ("Nairobi", "KE"), ("Johannesburg", "ZA"), ("Dubai", "AE"), ("Riyadh", "SA"),
    ("Tokyo", "JP"), ("Osaka", "JP"), ("Seoul", "KR"), ("Beijing", "CN"),
    ("Singapore", "SG"), ("Sydney", "AU"),
]
CONDITIONS = ["Clear", "Clouds", "Rain", "Mist", "Thunderstorm"]
INTENSITY = ["light", "heavy", "moderate"]
POLL_INTERVAL_S = 300

WEATHER_SCHEMA = pa.schema(
    [
        pa.field("city", pa.string(), nullable=False),
        ("country", pa.string()),
        ("temperature", pa.float64()),
        ("feels_like", pa.float64()),
        ("humidity", pa.int32()),
        ("pressure", pa.int32()),
        ("weather", pa.string()),
        ("description", pa.string()),
        ("wind_speed", pa.float64()),
        ("timestamp", pa.int64()),
    ]
)

VOCAB = (
    "the a data spark table row column key value query join filter group agg "
    "sort merge hash scan batch stream window order part line customer vector "
    "fast slow big small time event model train score index cache shard node "
    "graph edge path rank token chunk corpus text word"
).split()
LANGS = (["en"] * 8) + ["zh", "zh", "es", "es", "fr", "fr", "de", "de"]


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per input kind, so adding draws to one kind
    never shifts another's values."""
    return np.random.default_rng([seed, sum(map(ord, stream))])


def weather_polls(seed: int) -> Iterator[pa.Table]:
    """Endless consecutive 54-row polls; poll ``k`` is stamped
    ``t0 + 300 k`` for every city (value ranges from the reference's
    demo generator)."""
    rng = _rng(seed, "weather")
    t0 = 1_700_000_000 + int(rng.integers(0, 365)) * 86_400
    n = len(CITIES)
    city = [c for c, _ in CITIES]
    country = [k for _, k in CITIES]
    for k in itertools.count():
        base = rng.uniform(15.0, 40.0, n)
        cond = rng.integers(0, len(CONDITIONS), n)
        inten = rng.integers(0, len(INTENSITY), n)
        yield pa.table(
            {
                "city": city,
                "country": country,
                "temperature": np.round(base + rng.uniform(-5.0, 5.0, n), 2),
                "feels_like": np.round(base + rng.uniform(-3.0, 7.0, n), 2),
                "humidity": rng.integers(40, 91, n).astype(np.int32),
                "pressure": rng.integers(1000, 1021, n).astype(np.int32),
                "weather": [CONDITIONS[i] for i in cond],
                "description": [
                    f"{INTENSITY[j]} {CONDITIONS[i].lower()}" for i, j in zip(cond, inten)
                ],
                "wind_speed": np.round(rng.uniform(1.0, 15.0, n), 2),
                "timestamp": np.full(n, t0 + k * POLL_INTERVAL_S, dtype=np.int64),
            },
            schema=WEATHER_SCHEMA,
        )


def documents(seed: int, n_docs: int, near_dup_share: float) -> pa.Table:
    """Word-bag documents; a ``near_dup_share`` of them are rewrites of an
    earlier document (1-3 word substitutions), the rest are fresh draws."""
    rng = _rng(seed, "documents")
    texts: list[str] = []
    for i in range(n_docs):
        if i > 0 and rng.random() < near_dup_share:
            words = texts[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(1, 4))):
                words[int(rng.integers(0, len(words)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        else:
            words = [VOCAB[j] for j in rng.integers(0, len(VOCAB), int(rng.integers(8, 80)))]
        texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": [LANGS[j] for j in rng.integers(0, len(LANGS), n_docs)],
            "source": [f"src{j}" for j in rng.integers(0, 20, n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _dates(rng: np.random.Generator, start: datetime, days: int, n: int) -> pa.Array:
    us = np.datetime64(start, "us") + rng.integers(0, days, n).astype("timedelta64[D]")
    return pa.array(us, pa.timestamp("us"))


def star_tables(seed: int, n_lineitem: int, n_events: int) -> dict[str, pa.Table]:
    """``lineitem``/``supplier``/``events`` with the testdata schemas and
    value ranges (TESTDATA.md), scaled by ``n_lineitem`` and ``n_events``."""
    rng = _rng(seed, "star")
    n_supp, n_part = 100, max(200, n_lineitem // 30)
    lineitem = pa.table(
        {
            "l_orderkey": rng.integers(0, max(1, n_lineitem // 4), n_lineitem),
            "l_partkey": rng.integers(0, n_part, n_lineitem),
            "l_suppkey": rng.integers(0, n_supp, n_lineitem),
            "l_linenumber": rng.integers(1, 8, n_lineitem).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_lineitem).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900.0, 105_000.0, n_lineitem), 2),
            "l_discount": rng.integers(0, 11, n_lineitem) / 100.0,
            "l_tax": rng.integers(0, 9, n_lineitem) / 100.0,
            "l_returnflag": [("A", "N", "R")[j] for j in rng.integers(0, 3, n_lineitem)],
            "l_linestatus": [("F", "O")[j] for j in rng.integers(0, 2, n_lineitem)],
            "l_shipdate": _dates(rng, datetime(1995, 1, 2), 2_500, n_lineitem),
        }
    )
    supplier = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": np.round(rng.uniform(-999.0, 9_999.0, n_supp), 2),
        }
    )
    start = np.datetime64(datetime(2024, 1, 1), "us")
    offsets = np.sort(rng.integers(0, int(timedelta(days=7).total_seconds() * 1e6), n_events))
    events = pa.table(
        {
            "event_id": np.arange(n_events, dtype=np.int64),
            "ts": pa.array(start + offsets.astype("timedelta64[us]"), pa.timestamp("us")),
            "user_id": rng.integers(0, 2_000, n_events),
            "event_type": [
                ("view", "click", "purchase", "signup", "error")[j]
                for j in rng.integers(0, 5, n_events)
            ],
            "value": np.round(rng.uniform(0.0, 200.0, n_events), 2),
            "props": [f'{{"k": {j}}}' for j in rng.integers(0, 100, n_events)],
        }
    )
    return {"lineitem": lineitem, "supplier": supplier, "events": events}


def write_table(table: pa.Table, path: str) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return path
