"""BENCHMARK.json lists exactly the metrics the runs print, and
SPEC.json places each of them in a layer and its workloads."""

from __future__ import annotations

import json
import os

import metrics

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)


def test_benchmark_json_matches_metric_catalog():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    assert [w["name"] for w in b["workloads"]] == list(metrics.WORKLOADS)
    assert [
        (m["name"], m["unit"], m["better"], m["bound"]) for m in b["end_to_end"]
    ] == list(metrics.E2E)
    assert [(m["name"], m["unit"], m["better"]) for m in b["per_layer"]] == list(
        metrics.LAYER
    )
    names = [m["name"] for m in b["end_to_end"] + b["per_layer"]]
    assert len(names) == len(set(names)) and len(b["per_layer"]) <= 128
    assert any(
        m["name"] == "setup_s" and m["bound"] == max(x["bound"] for x in b["end_to_end"])
        for m in b["end_to_end"]
    )


def test_spec_maps_every_metric_to_one_layer_and_its_workloads():
    with open(os.path.join(HERE, "SPEC.json")) as f:
        spec = json.load(f)
    workloads = {w["name"]: w for w in spec["workloads"]}
    assert list(workloads) == list(metrics.WORKLOADS)
    layers = {entry["layer"]: entry for entry in spec["layers"]}
    for w in workloads.values():
        assert sorted(w["stresses"] + w["bypasses"]) == sorted(layers)
    for name, *_ in metrics.E2E:
        assert set(spec["end_to_end"][name]) == set(metrics.WORKLOADS)
    groups = [(k, v["metric_prefixes"]) for k, v in layers.items()]
    groups.append(("tracing", spec["tracing"]["metric_prefixes"]))
    for name, *_ in metrics.LAYER:
        owners = [k for k, prefixes in groups if name.startswith(tuple(prefixes))]
        assert len(owners) == 1, (name, owners)
        if owners[0] != "tracing":
            assert any(owners[0] in w["stresses"] for w in workloads.values()), name
