"""Every bounded ``jobs/*`` flag is checked before a Spark session starts:
a bad value exits with argparse's usage error (status 2) naming the flag.

Each case runs the job as a subprocess — ``main()`` in-process would
re-configure the shared test session.  The input path does not exist, so a
job that let the bad value through would fail later, after starting Spark,
with a different error."""

import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CASES = [
    ("run_graph_stats", "--graph", "--kcore-k", "0"),
    ("run_graph_stats", "--graph", "--negatives-buckets", "0"),
    ("run_graph_stats", "--graph", "--pagerank-iters", "-1"),
    ("run_graph_stats", "--graph", "--lpa-iters", "-1"),
    ("run_graph_stats", "--graph", "--checkpoint-every", "-1"),
    ("run_graph_stats", "--graph", "--negatives-k", "-1"),
    ("run_embedding_prep", "--graph", "--negatives-buckets", "0"),
    ("run_embedding_prep", "--graph", "--negatives-k", "-1"),
    ("run_curation", "--input", "--min-tokens", "-1"),
    ("run_curation", "--input", "--near-dup-threshold", "0"),
    ("run_pipeline", "--input", "--buckets", "0"),
    ("run_pipeline", "--input", "--salt-factor", "0"),
]


@pytest.mark.parametrize(
    "job,source,flag,value", CASES, ids=[f"{c[0]}{c[2]}={c[3]}" for c in CASES]
)
def test_bad_flag_is_rejected_before_spark(tmp_path, job, source, flag, value):
    env = {**os.environ, "PYTHONPATH": ROOT}
    proc = subprocess.run(
        [
            sys.executable, os.path.join(ROOT, "jobs", f"{job}.py"),
            source, str(tmp_path / "missing"), "--out", str(tmp_path / "out"),
            flag, value,
        ],
        capture_output=True, text=True, env=env, timeout=300,
    )
    assert proc.returncode == 2, proc.stderr[-2000:]
    assert flag in proc.stderr and value in proc.stderr, proc.stderr[-2000:]
