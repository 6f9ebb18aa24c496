"""``bench.py`` end to end at the test sf, in a process of its own: it ends
its Spark with ``perfbench.workloads.stop_spark``, which would also stop the
session-scoped test Spark if it ran in this process."""

import json
import os
import subprocess
import sys

import bench

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_bench_runs_and_every_check_holds(sf_dir):
    proc = subprocess.run(
        [sys.executable, "bench.py"],
        cwd=ROOT,
        env={**os.environ, "SPARK_GRAFT_SF_DIR": sf_dir},
        capture_output=True,
        text=True,
        timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    last = json.loads(proc.stdout.splitlines()[-1])
    assert {"metric", "value", "unit"} <= last.keys()
    assert last["correct"] == {name: True for name in ("kg_pipeline_e2e", *bench.HEADLINE)}
    assert last["queries"].keys() == last["correct"].keys()
