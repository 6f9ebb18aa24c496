"""Write BENCHMARK.json at the repository root from the benchmark's own
workload and metric definitions (workloads.py, catalog.py).

    python3 perfbench/manifest.py
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import catalog  # noqa: E402
import workloads  # noqa: E402


def manifest() -> dict:
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": catalog.RUN_SECONDS,
        "workloads": [{"name": w.name, "why": w.why} for w in workloads.WORKLOADS.values()],
        "end_to_end": [
            {"name": n, "unit": u, "better": b, "bound": bound}
            for n, u, b, bound in catalog.END_TO_END
        ],
        "per_layer": [{"name": n, "unit": u, "better": b} for n, u, b in catalog.PER_LAYER],
    }


if __name__ == "__main__":
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json"), "w") as f:
        json.dump(manifest(), f, indent=2)
        f.write("\n")
