"""The metrics every run reports, with their units, as BENCHMARK.json at
the checkout root declares them.

Every workload reports every end-to-end metric (the workload decides what
its rate counts and what its step is, see README.md), and every traced run
reports every per-layer metric; a layer a workload does not run reads 0.
"""

import json
import os

from harness import ROOT

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    _BENCH = json.load(_fh)

# name: (unit, better)
END_TO_END = {m["name"]: (m["unit"], m["better"]) for m in _BENCH["end_to_end"]}
PER_LAYER = {m["name"]: (m["unit"], m["better"]) for m in _BENCH["per_layer"]}


def units() -> dict:
    out = {k: u for k, (u, _) in END_TO_END.items()}
    out.update({k: u for k, (u, _) in PER_LAYER.items()})
    return out


def layer_metrics(measured: dict) -> dict:
    """Every per-layer metric: the measured ones, 0 for layers this
    workload does not run. Unknown names are a programming error."""
    unknown = set(measured) - set(PER_LAYER)
    if unknown:
        raise KeyError(f"unknown per-layer metrics {sorted(unknown)}")
    return {k: float(measured.get(k, 0.0)) for k in PER_LAYER}
