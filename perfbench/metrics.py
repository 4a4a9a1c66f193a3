"""The benchmark's metric list, read from BENCHMARK.json at the root of
the checkout (its ``end_to_end`` and ``per_layer`` entries).

Every run prints every metric of its mode, whatever the workload: a
per-layer metric of a layer the workload does not run reads 0.
"""

from __future__ import annotations

import json
import os

_SPEC_PATH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json")

with open(_SPEC_PATH) as _f:
    _SPEC = json.load(_f)

END_TO_END = [m["name"] for m in _SPEC["end_to_end"]]
PER_LAYER = [m["name"] for m in _SPEC["per_layer"]]
UNITS = {m["name"]: m["unit"] for m in _SPEC["end_to_end"] + _SPEC["per_layer"]}

# units of the figures printed before the result line
REPORT_UNITS = {
    "docs_per_s": "docs/s",
    "mb_per_s": "MB/s",
    "write_bytes_per_input_byte": "ratio",
    "knn_ms_p50": "ms",
    "ivf_ms_p50": "ms",
    "queries": "count",
    "ivf_recall_at_5": "ratio",
    "failed_frac": "ratio",
    "peak_rss_mb": "MB",
    "setup_s": "s",
    "op_ms_p50": "ms",
}


def emit(values: dict[str, float], names: list[str]) -> dict[str, dict]:
    """The ``metrics`` object of the result line: every name, with its
    unit; a name the run did not measure reads 0."""
    return {n: {"value": float(values.get(n, 0.0)), "unit": UNITS[n]} for n in names}
