#!/usr/bin/env python3
"""Pipeline benchmark: times the production entry points of
``data_quality_checker_spark`` from outside, on ``local[4]`` from one
driver process.

    python3 perfbench/run.py --workload crawl_batch --seed 1 \
        --seconds 15 --trace 0

Run it from the repository root; workloads are ``crawl_batch`` and
``recrawl_incremental`` (perfbench/workloads.py). It prints progress on
stderr and, as the last line of stdout, one JSON object
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones (BENCHMARK.json ``end_to_end``);
with ``--trace 1`` they are the ``per_layer`` ones
(perfbench/trace_run.py).

One run:

1. session start (``get_spark`` with the program's defaults, on
   ``local[4]``), then the seeded inputs are generated or reused from
   the work directory (not part of ``setup_s``);
2. set-up: zip the package from the working tree and ``addPyFile`` it
   (as ``spark-submit --py-files`` does), then the workload's own
   preparation: for ``recrawl_incremental`` the MinHash index of the
   previous crawl, for ``crawl_batch`` one untimed warm-up operation
   on a 2% slice of the input (see ``Bench.warm_up``);
3. timed operations, each into a fresh output directory, until
   ``--seconds`` of operation time has been spent (at least one); each
   is followed by the correctness gate (perfbench/checks.py).

``setup_s`` = session start + set-up, measured once per run: the JVM
start and the first compilation of the plan happen once per process.
Every file the run writes goes to ``.perfbench_work/`` under the
repository root; a run's outputs are removed when it ends, generated
inputs are kept per seed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

from harness import (
    DRIVER_MEMORY,
    END_TO_END_UNITS,
    PACKAGE,
    PER_LAYER_UNITS,
    ROOT,
    WORKLOADS,
    Bench,
)


def shutdown(spark) -> None:
    """Stop Spark and the JVM, then wait until every process this run
    started (the JVM, the Python daemon and its workers) has ended."""
    from pyspark import SparkContext
    from tracing import _descendants

    started = _descendants(os.getpid())
    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 30
    while True:
        alive = [p for p in started if _running(p)]
        if not alive:
            return
        if time.time() > deadline:
            for p in alive:
                os.kill(p, signal.SIGKILL)
            deadline = time.time() + 30
        time.sleep(0.2)


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            stat = fh.read()
    except OSError:
        return False
    return stat[stat.rindex(b")") + 2 :][:1] != b"Z"


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / PACKAGE / "__init__.py").is_file():
        print(f"perfbench: package {PACKAGE}/ not found under {ROOT}", file=sys.stderr)
        return 2
    work = ROOT / ".perfbench_work"
    for sub in ("tmp", "spark-local", "inputs", "traces"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    # keep every temporary file of the JVM, Spark and Python inside the
    # checkout
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    # every JVM, the spark-submit launcher too: no /tmp/hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}"
    )
    os.environ.pop("PYTHONPATH", None)
    # driver heap through the program's own knob (get_spark defaults to
    # 8g): 2g left docs_per_s unchanged on crawl_batch and made
    # peak_rss_mb 2x smaller and 3x steadier, as the default heap's
    # size follows G1's growth decisions, which vary from run to run
    os.environ["SPARK_DQC_DRIVER_MEM"] = DRIVER_MEMORY
    sys.path.insert(1, str(ROOT))
    run_dir = work / f"run-{os.getpid()}"
    run_dir.mkdir()
    bench = Bench(args, work, run_dir)
    try:
        if args.trace:
            from trace_run import run_traced

            metrics, units = run_traced(bench), PER_LAYER_UNITS
        else:
            metrics, units = bench.run_untraced(), END_TO_END_UNITS
    finally:
        shutdown(bench.spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    out = {
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
