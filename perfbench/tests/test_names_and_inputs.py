import json
import os
import re

from perfbench import inputs
from perfbench.layers import PER_LAYER_UNITS
from perfbench.run import END_TO_END_UNITS
from perfbench.workloads import WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def test_metric_names_and_units_are_well_formed():
    for table in (END_TO_END_UNITS, PER_LAYER_UNITS):
        for name, unit in table.items():
            assert NAME.match(name), name
            assert UNIT.match(unit), unit
    assert not set(END_TO_END_UNITS) & set(PER_LAYER_UNITS)


def test_benchmark_json_matches_the_code():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER_UNITS
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    for entry in spec["workloads"] + spec["end_to_end"] + spec["per_layer"]:
        assert NAME.match(entry["name"])


def _weather(seed, n=3):
    polls = inputs.weather_polls(seed)
    return [next(polls) for _ in range(n)]


def test_same_seed_same_inputs():
    assert _weather(5) == _weather(5)
    assert inputs.documents(5, 200, 0.25).equals(inputs.documents(5, 200, 0.25))
    a, b = inputs.star_tables(5, 500, 500), inputs.star_tables(5, 500, 500)
    assert all(a[k].equals(b[k]) for k in a)


def test_different_seed_different_inputs():
    assert _weather(5) != _weather(6)
    assert not inputs.documents(5, 200, 0.25).equals(inputs.documents(6, 200, 0.25))
    a, b = inputs.star_tables(5, 500, 500), inputs.star_tables(6, 500, 500)
    assert not any(a[k].equals(b[k]) for k in ("lineitem", "events"))


def test_weather_polls_have_distinct_keys_and_advance_the_clock():
    polls = _weather(7, 4)
    keys = {(c, t) for p in polls for c, t in zip(p["city"].to_pylist(), p["timestamp"].to_pylist())}
    assert len(keys) == 4 * len(inputs.CITIES)
    stamps = [p["timestamp"][0].as_py() for p in polls]
    assert [b - a for a, b in zip(stamps, stamps[1:])] == [inputs.POLL_INTERVAL_S] * 3


def test_documents_carry_near_duplicates():
    docs = inputs.documents(3, 400, 0.25)["text"].to_pylist()

    def shingles(text):
        w = text.split()
        return {tuple(w[i : i + 3]) for i in range(len(w) - 2)}

    sets = [shingles(t) for t in docs]
    near = sum(
        any(len(sets[i] & sets[j]) / max(1, len(sets[i] | sets[j])) > 0.5 for j in range(i))
        for i in range(1, len(docs))
    )
    # about a quarter are rewrites; fresh word-bag draws never come close
    assert 0.15 * len(docs) < near < 0.35 * len(docs)
