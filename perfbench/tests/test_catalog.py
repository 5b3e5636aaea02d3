import json
import os

from perfbench import run
from perfbench.workloads import WORKLOADS

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load(path):
    with open(path) as f:
        return json.load(f)


def test_catalog_and_benchmark_json_match_the_command():
    cat = _load(os.path.join(HERE, "catalog.json"))
    bench = _load(os.path.join(os.path.dirname(HERE), "BENCHMARK.json"))
    assert set(cat["workloads"]) == set(WORKLOADS)
    assert [w["name"] for w in bench["workloads"]] == list(cat["workloads"])
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run._per_layer_names()
    for m in bench["per_layer"]:
        assert cat["per_layer"][m["name"]]["unit"] == m["unit"]
        assert cat["per_layer"][m["name"]]["better"] == m["better"]
    for m in bench["end_to_end"]:
        assert cat["end_to_end"][m["name"]]["better"] == m["better"]
    for entry in cat["per_layer"].values():
        assert set(entry["moves"]) <= set(run.END_TO_END)
