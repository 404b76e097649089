"""The metric names and units, read from ``BENCHMARK.json``, the one place
they are declared."""

from __future__ import annotations

import json
from pathlib import Path

BENCHMARK = Path(__file__).resolve().parent.parent / "BENCHMARK.json"


def declared(kind: str) -> dict[str, str]:
    """name -> unit of the ``end_to_end`` or the ``per_layer`` metrics."""
    with open(BENCHMARK) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def report(kind: str, values: dict[str, float]) -> dict[str, dict]:
    """``{name: {"value", "unit"}}`` for every declared metric of ``kind``.

    A value without a declared metric is an error, and so is a missing
    end-to-end value. A per-layer metric of a layer the workload does not
    load reads 0 (its "predicted no change" in LAYERS.md)."""
    units = declared(kind)
    unknown = sorted(set(values) - set(units))
    if unknown:
        raise KeyError(f"{kind} values not declared in BENCHMARK.json: {unknown}")
    missing = sorted(set(units) - set(values))
    if kind == "end_to_end" and missing:
        raise KeyError(f"end-to-end metrics without a value: {missing}")
    return {k: {"value": float(values.get(k, 0.0)), "unit": u} for k, u in units.items()}
