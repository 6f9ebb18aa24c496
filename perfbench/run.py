"""kgx benchmark: one workload, one seed, one process.

Run from the repository root:

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 1 --trace 0

It generates the workload's documents from the seed, starts Spark on
``local[nproc]`` and computes the DuckDB oracle's answer.  It then calls
the workload's kgx entry point, first in a fresh JVM, and again until
``--seconds`` have passed, checking every call's output against the oracle.
With ``--trace 0`` the last stdout line holds the end-to-end metrics of the
first call; with ``--trace 1`` it holds the per-layer metrics of a traced
run (see perfbench/layers.py).  The line before it is the run record:
source ids, config, host probe and every call's wall.  METHODS.md says what
each workload and metric is for.
"""

from __future__ import annotations

import argparse
import contextlib
import dataclasses
import json
import os
import shutil
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import catalog  # noqa: E402
import hostenv  # noqa: E402
import workloads  # noqa: E402


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(workloads.RUNNABLE))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if args.seed < 0 or args.seconds <= 0:
        p.error("--seed must be >= 0 and --seconds > 0")
    if args.trace and args.workload not in workloads.WORKLOADS:
        p.error(f"--trace 1 covers {sorted(workloads.WORKLOADS)}; {args.workload} is traced with them")
    return args


def prepare_environment(work: str) -> None:
    """Keep every file Spark, its Python workers and DuckDB write inside
    ``work``, and let the workers import kgx from the repository root."""
    if not os.path.isfile(os.path.join(ROOT, "kgx", "__init__.py")):
        sys.exit(f"kgx package not found under {ROOT}: run from a kgx checkout")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Djava.io.tmpdir={tmp} "
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} pyspark-shell"
    )
    sys.path.insert(0, ROOT)


class Runner:
    """Owns one workload's inputs, oracle answer and output directory."""

    def __init__(self, wl, work: str, seed: int):
        self.wl = wl
        self.src_dir = workloads.write_documents(
            workloads.raw_documents(wl.base_docs, seed), os.path.join(work, f"src-{wl.name}")
        )
        self.out_dir = os.path.join(work, f"out-{wl.name}")
        self.spark = self.expected = None
        self.n = hostenv.nproc()
        self.attempted = self.failed = 0

    def call(self) -> dict:
        """One timed, checked call.  A raise or a wrong output counts as a
        failed operation; the result says which."""
        self.attempted += 1
        rec: dict = {}
        try:
            with hostenv.Stopwatch() as sw:
                rec["result"] = workloads.run_job(self.spark, self.wl, self.src_dir, self.out_dir, self.n)
            rec.update(wall_s=sw.wall_s, cpu_s=sw.cpu_s, host_steal_s=sw.steal_s)
            rec["output_bytes"] = hostenv.tree_bytes(self.out_dir)
            rec["correct"] = workloads.output_checksum(self.wl, self.out_dir) == self.expected
        except Exception as e:  # noqa: BLE001 — a failed operation, reported
            rec.update(correct=False, error=f"{type(e).__name__}: {e}"[:500])
        if not rec["correct"]:
            self.failed += 1
        return rec


def setup(args, work: str) -> tuple[list[Runner], dict]:
    """Process start → Spark up, inputs written, oracle answer computed.
    The oracle (DuckDB, native threads) runs while the JVM starts.  The
    first runner is the workload's; a traced run adds one, without oracle
    or calls, per workload listed in its ``traced_with``."""
    wl = workloads.RUNNABLE[args.workload]
    side = wl.traced_with if args.trace else ()
    runners = [Runner(w, work, args.seed) for w in (wl, *side)]
    oracle: dict = {}

    def _oracle():
        t0 = time.perf_counter()
        try:
            runners[0].expected = workloads.oracle_checksum(wl, runners[0].src_dir)
        except Exception as e:  # noqa: BLE001 — re-raised on the main thread
            oracle["error"] = e
        oracle["s"] = time.perf_counter() - t0

    th = threading.Thread(target=_oracle)
    th.start()
    t0 = time.perf_counter()
    try:
        spark = workloads.start_spark(runners[0].n)
        session_s = time.perf_counter() - t0
    finally:
        th.join()
    for r in runners:
        r.spark = spark
    if "error" in oracle:
        workloads.stop_spark(spark)
        raise oracle["error"]
    timings = {"setup_s": hostenv.process_age_s(), "session_s": session_s, "oracle_s": oracle["s"]}
    return runners, timings


def measure(runner: Runner, seconds: float) -> tuple[list[dict], dict]:
    """Time the first call in this JVM, the one every ``spark-submit`` job
    pays, then keep calling until ``seconds`` have passed.  The later calls
    trace the warm-up curve in the run record; the end-to-end metrics come
    from the first call alone."""
    t_end = time.perf_counter() + seconds
    calls = [runner.call()]
    while time.perf_counter() < t_end:
        calls.append(runner.call())
    first = calls[0]
    if "wall_s" not in first:
        return calls, {}
    return calls, {
        "wall_s": first["wall_s"],
        "docs_per_s": runner.wl.docs / first["wall_s"],
        "cpu_s": first["cpu_s"],
        "output_mb": first["output_bytes"] / 1e6,
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    prepare_environment(work)
    runners: list[Runner] = []
    try:
        runners, setup_t = setup(args, work)
        runner = runners[0]
        wl = runner.wl
        record = {
            "workload": wl.name,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            **hostenv.source_id(ROOT),
            "config": {
                "master": f"local[{runner.n}]",
                "shuffle_partitions": 2 * runner.n,
                "n_buckets": workloads.n_buckets(runner.n),
                "workload": dataclasses.asdict(wl),
                "docs": wl.docs,
            },
            "setup": setup_t,
            "host_probe_before": hostenv.host_probe(runner.n),
        }
        if args.trace:
            import layers

            metrics = layers.traced_metrics(runners, record)
        else:
            record["calls"], e2e = measure(runner, args.seconds)
            metrics = {**e2e, "setup_s": setup_t["setup_s"]} if e2e else {}
            metrics = catalog.with_units(metrics, catalog.END_TO_END)
        record["host_probe_after"] = hostenv.host_probe(runner.n)
    finally:
        if runners and runners[0].spark is not None:
            workloads.stop_spark(runners[0].spark)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # left when another run still uses it
            os.rmdir(os.path.dirname(work))
    attempted = sum(r.attempted for r in runners)
    failed = sum(r.failed for r in runners)
    print(json.dumps({"run_record": record}, default=str))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
