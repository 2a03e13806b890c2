"""Benchmark state and phases shared by untraced and traced runs
(see run.py for the run protocol)."""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time
import traceback
import zipfile
from contextlib import nullcontext
from pathlib import Path

import workloads as W
from checks import Oracle, Tally, sample_pred, self_test_and_digest
from tracing import RssSampler, descendants_cpu_s

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "data_quality_checker_spark"
WORKLOADS = ("crawl_batch", "recrawl_incremental")
CORES = 4
DRIVER_MEMORY = "2g"
# md5 slice of the input the crawl_batch warm-up runs on: a larger one
# made set-up longer without making the timed operation faster
WARMUP_FRAC = 0.02

_METRICS = json.loads((ROOT / "BENCHMARK.json").read_text())
END_TO_END_UNITS = {m["name"]: m["unit"] for m in _METRICS["end_to_end"]}
PER_LAYER_UNITS = {m["name"]: m["unit"] for m in _METRICS["per_layer"]}


def log(msg: str) -> None:
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``, skipping checksum and marker
    files."""
    total = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.startswith(".") or n.startswith("_"):
                continue
            total += os.path.getsize(os.path.join(root, n))
            files += 1
    return total, files


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Bench:
    def __init__(self, args, work: Path, run_dir: Path):
        self.args = args
        self.workload = args.workload
        self.seed = args.seed
        self.work = work
        self.run_dir = run_dir
        self.spark = None
        self.inputs = None
        self.attempted = 0
        self.failed = 0
        self.digest = None
        self.oracle = None
        self.warmed = False
        self.tally = Tally()

    # ---------------------------------------------------------------- session
    def start_session(self, event_log: str | None = None):
        from data_quality_checker_spark.session import get_spark

        local = self.work / "spark-local"
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": str(local),
            "spark.sql.warehouse.dir": str(self.work / "warehouse"),
        }
        if event_log:
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": event_log,
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        t0 = time.perf_counter()
        spark = get_spark(
            f"perfbench-{self.workload}",
            master=f"local[{CORES}]",
            shuffle_partitions=CORES,
            extra_conf=conf,
        )
        spark.sparkContext.setLogLevel("ERROR")
        self.spark = spark
        return time.perf_counter() - t0

    def ship_package(self) -> None:
        """Zip the package from the working tree and addPyFile it, as
        ``spark-submit --py-files`` would: Python workers do not see
        this process's sys.path."""
        target = self.run_dir / "dqc.zip"
        with zipfile.ZipFile(target, "w", zipfile.ZIP_DEFLATED) as z:
            for path in sorted((ROOT / PACKAGE).rglob("*.py")):
                z.write(path, path.relative_to(ROOT))
        self.spark.sparkContext.addPyFile(str(target))

    # --------------------------------------------------------------- workload
    def prepare(self) -> None:
        """The workload's own set-up work, measured in ``setup_s``."""
        if self.workload == "recrawl_incremental":
            from data_quality_checker_spark.operators.minhash_index import (
                build_minhash_index,
            )
            from pyspark.sql import functions as F

            prev = W.capture_id(self.spark.read.parquet(self.inputs.prev))
            self.base_index = str(self.run_dir / "index_base")
            build_minhash_index(
                prev.filter(F.col("text").isNotNull()).select("doc_id", "text"),
                self.base_index,
                id_col="doc_id",
            )
            self.base_index_bytes = dir_bytes(self.base_index)[0]

    def warm_up(self) -> None:
        """crawl_batch only: one untimed operation on a small slice of
        the input, so the JVM has compiled the plan's generated code
        and hot paths before the timed operations, as in a long batch
        job. recrawl_incremental has none: an incremental re-crawl is a
        short job in a fresh JVM, whose cold start its user waits for."""
        if self.workload != "crawl_batch":
            return
        out = str(self.run_dir / "warmup")
        self.before_op(out)
        pages = self.spark.read.parquet(self.inputs.pages).filter(
            sample_pred(WARMUP_FRAC)
        )
        self.op(out, pages)
        self.warmed = True

    def config(self):
        from data_quality_checker_spark.plans.pipeline import PipelineConfig

        if self.workload == "recrawl_incremental":
            return PipelineConfig(
                url_prefilter=True, max_docs_per_host=W.MAX_DOCS_PER_HOST
            )
        return PipelineConfig()

    def before_op(self, out: str) -> None:
        """Untimed per-operation state reset: every recrawl operation
        starts from the same index state."""
        os.makedirs(out)
        if self.workload == "recrawl_incremental":
            shutil.copytree(self.base_index, f"{out}/index")

    def op(self, out: str, pages=None, span=None) -> dict:
        """The timed operation, on ``pages`` (default: the whole
        input): production entry points only. ``span`` as in
        ``index_ops``."""
        from data_quality_checker_spark.plans.pipeline import run_pipeline

        spark = self.spark
        if pages is None:
            pages = spark.read.parquet(self.inputs.pages)
        if self.workload != "recrawl_incremental":
            run_pipeline(spark, pages, f"{out}/run", self.config())
            return {}
        run_pipeline(
            spark,
            pages,
            f"{out}/run",
            self.config(),
            url_blocklist=spark.read.parquet(self.inputs.blocklist),
        )
        return {"pairs": self.index_ops(out, f"{out}/index", span)}

    def index_ops(self, out: str, index: str, span=None) -> int:
        """Query the kept docs of ``out`` against ``index``, then append
        them to it; returns the near-duplicate pair count. ``span``
        (a Tracer.span) wraps each call when tracing."""
        from data_quality_checker_spark.operators.dedup import release_cache
        from data_quality_checker_spark.operators.minhash_index import (
            append_minhash_index,
            query_minhash_index,
        )

        span = span or (lambda name: nullcontext())
        kept = W.capture_id(
            self.spark.read.parquet(f"{out}/run/scored").filter("keep")
        ).select("doc_id", "text")
        with span("minhash_index.query"):
            pairs = query_minhash_index(kept, index, id_col="doc_id")
            n_pairs = pairs.count()
            release_cache(pairs)
        with span("minhash_index.append"):
            append_minhash_index(
                kept, index, id_col="doc_id", batch_id=f"crawl-{self.seed}"
            )
        return n_pairs

    def out_bytes(self, out: str) -> int:
        total = dir_bytes(f"{out}/run")[0]
        if self.workload == "recrawl_incremental":
            total += dir_bytes(f"{out}/index")[0] - self.base_index_bytes
        return total

    # ------------------------------------------------------------ correctness
    def check(self, out: str, result: dict) -> list[str]:
        """The correctness gate of one operation (perfbench/checks.py).
        The digest must match the first operation on these inputs, in
        this run or an earlier one."""
        scored = self.spark.read.parquet(f"{out}/run/scored")
        problems, digest = self_test_and_digest(scored)
        if problems:
            return problems
        digest = f"{digest}:{result.get('pairs', '-')}"
        stored = Path(self.inputs.root) / f"_digest_{self.workload}"
        if self.digest is None:
            if not stored.exists():
                stored.write_text(digest + "\n")
            self.digest = stored.read_text().strip()
        if digest != self.digest:
            problems.append(f"digest {digest} != {self.digest}")
        t = self.oracle.check(scored)
        self.tally.add(t)
        problems.extend(t.problems)
        return problems

    def timed_ops(self, budget_s: float, rss, tracer=None) -> list[dict]:
        """Run timed operations, each followed by the correctness gate,
        until ``budget_s`` of operation time is spent (at least one).
        Returns the operations that passed."""
        done, spent, n = [], 0.0, 0
        while n == 0 or spent < budget_s:
            n += 1
            self.attempted += 1
            out = str(self.run_dir / f"op{self.attempted}")
            self.before_op(out)
            rec, t0 = {"out": out}, time.perf_counter()
            try:
                with rss.window() as w, tracer.span("op") if tracer else nullcontext():
                    cpu0, t0 = descendants_cpu_s(os.getpid()), time.perf_counter()
                    result = rec["result"] = self.op(
                        out, span=tracer.span if tracer else None
                    )
                    rec["wall"] = time.perf_counter() - t0
                    rec["cpu"] = descendants_cpu_s(os.getpid()) - cpu0
                rec["rss"] = w["peak_bytes"]
                problems = self.check(out, result)
            except Exception:  # a failed operation is counted, not fatal
                rec.setdefault("wall", time.perf_counter() - t0)
                problems = [traceback.format_exc(limit=3)]
            spent += rec["wall"]
            if problems:
                self.failed += 1
                log(f"op {self.attempted} FAILED: {problems}")
            else:
                rec["bytes"] = self.out_bytes(out)
                log(f"op {self.attempted}: {rec['wall']:.2f} s, cpu {rec['cpu']:.2f} s")
                done.append(rec)
        return done

    # --------------------------------------------------------------- phases
    def setup(self) -> dict:
        """Session start, inputs (generated or reused, untimed), then
        the set-up work ``setup_s`` measures."""
        session_s = self.start_session()
        log(f"session start {session_s:.2f} s")
        t0 = time.perf_counter()
        self.inputs = W.generate(self.spark, str(self.work), self.workload, self.seed)
        log(f"inputs {self.inputs.docs} docs ({time.perf_counter() - t0:.2f} s)")
        t0 = time.perf_counter()
        self.ship_package()
        self.prepare()
        self.warm_up()
        prep_s = time.perf_counter() - t0
        log(f"set-up {prep_s:.2f} s")
        self.oracle = Oracle()
        return {"session_s": session_s, "setup_s": session_s + prep_s}

    def run_untraced(self) -> dict:
        rss = RssSampler().start()
        try:
            st = self.setup()
            done = self.timed_ops(self.args.seconds, rss)
        finally:
            rss.stop()
        return self.end_to_end(st, done)

    def end_to_end(self, st: dict, done: list[dict]) -> dict:
        docs = self.inputs.docs
        med = lambda xs: statistics.median(xs) if xs else 0.0  # noqa: E731
        return {
            "docs_per_s": med([docs / r["wall"] for r in done]),
            "setup_s": st["setup_s"],
            "peak_rss_mb": med([r["rss"] / 2**20 for r in done]),
            "out_bytes_per_doc": med([r["bytes"] / docs for r in done]),
            "ok_frac": 1.0 - self.failed / self.attempted,
            "keep_f1": self.tally.f1,
            "scrub_exact_frac": self.tally.scrub_exact_frac,
        }
