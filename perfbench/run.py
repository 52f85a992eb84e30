"""Benchmark entry point.

    python3 perfbench/run.py --workload <copy_pg|analytics_read|lake_ivm>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The last line of standard output is one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end metrics of BENCHMARK.json;
with ``--trace 1`` they are its per-layer metrics (0 where the workload
does not exercise that layer), and the spans of the run are written to
``.perfbench_out/spans-<workload>-<seed>.json``.

Every run is isolated: TMPDIR, Spark's local and warehouse dirs, the JVM's
temp dir and every persisted-index root the program reads from its
environment point into a fresh directory under ``.perfbench_tmp/``, which
is removed when the run ends, as is the run's private PostgreSQL cluster.
``--size tiny`` shrinks every input for the self-test
(``python3 -m pytest perfbench``). See perfbench/METRICS.md.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from dataclasses import dataclass  # noqa: E402

from harness import log  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("copy_pg", "analytics_read", "lake_ivm")
# environment variables through which the program picks where it persists
# indexes; each defaults to a shared path under /tmp
INDEX_ROOT_VARS = (
    "SPARK_GRAFT_TEXT_INDEX_ROOT",
    "SPARK_GRAFT_ANN_INDEX_ROOT",
    "SPARK_GRAFT_ANN_LP_INDEX_ROOT",
    "SPARK_GRAFT_ANN_ZR_INDEX_ROOT",
    "SPARK_GRAFT_ANN_ZLR_INDEX_ROOT",
    "SPARK_GRAFT_RETRIEVAL_ANN_ROOT",
    "SPARK_GRAFT_INDEX_ROOT",
)
JVM_HEAP = "2g"


@dataclass
class Ctx:
    workload: str
    seed: int
    seconds: float
    trace: bool
    tiny: bool
    run_dir: str
    setup_s: float = 0.0

    def path(self, *parts: str) -> str:
        return os.path.join(self.run_dir, *parts)

    def spark(self, app: str):
        from pgcp_spark.session import get_spark

        return get_spark(
            f"perfbench_{app}",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.local.dir": self.path("spark-local"),
                "spark.sql.warehouse.dir": self.path("warehouse"),
                "spark.driver.extraJavaOptions": (
                    f"-Djava.io.tmpdir={self.path('tmp')} -XX:-UsePerfData"
                ),
                # keep every job and stage of a run visible to the tracker
                "spark.ui.retainedJobs": "1000000",
                "spark.ui.retainedStages": "1000000",
            },
        )

    def stop_spark(self, spark) -> None:
        """Stop the session and wait for its JVM to exit."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        spark.stop()
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the JVM exits on EOF
            try:
                proc.wait(timeout=120)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    def spans_path(self) -> str:
        return os.path.join(ROOT, ".perfbench_out", f"spans-{self.workload}-{self.seed}.json")

    def setup_done(self, repeated: list[float]) -> None:
        """Mark the first timed op. ``repeated`` holds the durations of the
        set-up step the workload ran several times; it counts once, at its
        median, so the one-off part of set-up is what moves it."""
        import statistics

        elapsed = time.perf_counter() - T_START
        if repeated:
            elapsed += statistics.median(repeated) - sum(repeated)
        self.setup_s = elapsed
        log(f"set-up {elapsed:.1f} s; repeated step (s): {[round(x, 2) for x in repeated]}")


def _isolate(run_dir: str) -> None:
    tmp = os.path.join(run_dir, "tmp")
    for d in (tmp, os.path.join(run_dir, "spark-local"), os.path.join(run_dir, "index")):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None  # re-read TMPDIR
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    for var in INDEX_ROOT_VARS:
        os.environ[var] = os.path.join(run_dir, "index", var.lower())
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = JVM_HEAP


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full")
    args = p.parse_args(argv)
    # a termination request unwinds through the finally blocks, which stop
    # the Postgres cluster and the JVM and remove the run's directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    runs = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(runs, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=runs)
    try:
        _isolate(run_dir)
        sys.path.insert(0, ROOT)
        importlib.import_module("pgcp_spark")  # fail fast outside a checkout
        ctx = Ctx(
            workload=args.workload,
            seed=args.seed,
            seconds=args.seconds,
            trace=bool(args.trace),
            tiny=args.size == "tiny",
            run_dir=run_dir,
        )
        result = importlib.import_module(args.workload).run(ctx)
        if ctx.trace:  # every per-layer metric, 0 where this workload has none
            names = {}
            for w in WORKLOADS:
                names.update(importlib.import_module(w).PER_LAYER)
            result["metrics"] = {
                n: result["metrics"].get(n, {"value": 0.0, "unit": u}) for n, u in names.items()
            }
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(runs)
        except OSError:
            pass
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
