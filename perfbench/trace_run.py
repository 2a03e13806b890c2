"""The traced run (``--trace 1``): per-layer metrics.

After set-up (and one untimed operation where set-up has no warm-up),
operations are timed with tracing off for half of ``--seconds``. The session is
then restarted with the Spark event log on, the operation is timed
again under an ``op`` span (the MinHash index calls in child spans of
their own), and every other public call the workload uses is timed on
its own under a child span of ``layers``, writing to a ``noop`` sink
or to a real parquet directory. Each span sets a Spark
job group; once the session stops, the event log attributes task CPU,
GC, shuffle and spill bytes, task record counts and Python-worker
bytes to it. The spans are written to ``.perfbench_work/traces/``.

- ``*_s``: span wall time; ``pipeline.capture_dedup_s`` is
  ``score_pages`` with capture dedup minus without.
- ``io.scan_bytes``: parquet bytes of the input (the event log's input
  bytes miss reads made off the task thread); ``io.write_bytes`` and
  ``io.files_written``: the traced operation's output.
- ``session.*``: per traced operation; ``cpu_busy_frac`` is the CPU
  time of the JVM and its Python workers over wall time x cores.
- ``trace_overhead_frac``: median traced / median untraced operation
  wall - 1 (the traced session is a fresh SparkContext in the same JVM).
  The traced operations run later, so a JVM still warming up makes
  them faster: a negative value means the tracing cost is below what
  the comparison resolves.
- Counts come from untimed jobs or the operation's output; a layer a
  workload does not run reports 0.
"""

from __future__ import annotations

import statistics
from dataclasses import replace

from pyspark.sql import functions as F

from harness import CORES, PER_LAYER_UNITS, WARMUP_FRAC, dir_bytes, log, noop
from tracing import RssSampler, Tracer, span_task_metrics, task_skew


def run_traced(b) -> dict:
    rss = RssSampler().start()
    ev_dir = b.run_dir / "eventlog"
    ev_dir.mkdir()
    try:
        st = b.setup()
        if not b.warmed:
            # the untraced and traced operations compared below must
            # both run in a warm JVM
            b.timed_ops(0, rss)
        untraced = b.timed_ops(b.args.seconds / 2, rss)
        b.spark.stop()
        b.start_session(event_log=str(ev_dir))
        b.ship_package()
        tracer = Tracer(b.spark)
        traced = b.timed_ops(b.args.seconds / 2, rss, tracer)
        counts = {}
        if traced:
            with tracer.span("layers"):
                counts = layer_spans(b, tracer, traced[-1])
        b.spark.stop()
    finally:
        rss.stop()
    tracer.write(
        str(b.work / "traces" / f"{b.workload}-s{b.seed}-{b.run_dir.name}.json")
    )
    groups = span_task_metrics(str(ev_dir))
    return per_layer(b, st, untraced, traced, tracer, groups, counts)


def layer_spans(b, tr: Tracer, rec: dict) -> dict:
    """Time each public call on its own, after the traced operation
    ``rec``; returns the untimed counts."""
    from data_quality_checker_spark.plans.pipeline import (
        partition_metrics,
        score_pages,
        with_url_prefilter,
    )
    from data_quality_checker_spark.plans.scrub import with_scrub
    from data_quality_checker_spark.plans.verdict import (
        with_rule_flags,
        with_verdict,
    )
    from data_quality_checker_spark.sources.io import write_partitioned

    spark, cfg, out = b.spark, b.config(), rec["out"]
    pages = spark.read.parquet(b.inputs.pages)
    scored = spark.read.parquet(f"{out}/run/scored")
    counts = {}
    with tr.span("io.scan"):
        noop(pages)
    pre = pages
    if b.workload == "recrawl_incremental":
        pre = with_url_prefilter(
            pages,
            spark.read.parquet(b.inputs.blocklist),
            cfg.url_blocked_words,
            cfg.max_docs_per_host,
        )
        with tr.span("urlfilter"):
            noop(pre)
        counts["urlfilter.rows_dropped"] = pages.count() - pre.count()
    with tr.span("verdict"):
        noop(with_verdict(with_rule_flags(pages, cfg.rules), cfg.rules))
    with tr.span("verdict.keep_only"):
        noop(
            with_verdict(
                with_rule_flags(pages, cfg.rules),
                cfg.rules,
                self_contained_keep=True,
            )
            .filter("keep")
            .select("url")
        )
    with tr.span("scrub"):
        noop(with_scrub(pages, "text"))
    with tr.span("pipeline.score"):
        noop(score_pages(pre, cfg))
    with tr.span("pipeline.score_nodedup"):
        noop(score_pages(pre, replace(cfg, dedup_latest_capture=False)))
    r = pre.agg(F.count(F.lit(1)), F.countDistinct("url")).first()
    counts["pipeline.captures_collapsed"] = r[0] - r[1]
    with tr.span("pipeline.metrics"):
        noop(partition_metrics(scored, "trace"))
    with tr.span("io.write"):
        write_partitioned(scored, f"{out}/rewrite", "partition_id")
    m = spark.read.parquet(f"{out}/run/metrics")
    counts["scrub.matches"] = m.agg(
        F.sum(F.col("scrub_email") + F.col("scrub_phone") + F.col("scrub_ip"))
    ).first()[0]
    counts["io.write_bytes"], counts["io.files_written"] = dir_bytes(f"{out}/run")
    if b.workload == "recrawl_incremental":
        # the index calls ran in spans of their own inside the operation
        counts["minhash_index.pairs"] = rec["result"]["pairs"]
    else:
        counts.update(_udf_span(b, tr, pages))
    return counts


def _udf_span(b, tr: Tracer, pages) -> dict:
    """``langid_conf_udf`` alone, over the crawl's warm-up slice with an
    artifact trained here."""
    from checks import sample_pred
    from data_quality_checker_spark.plans.langid import train_langid_artifact
    from data_quality_checker_spark.plans.udfs import langid_conf_udf

    artifact = train_langid_artifact(
        b.spark, str(b.run_dir / "langid_layer.json.gz")
    )
    b.spark.sparkContext.addFile(artifact)
    pages = pages.filter(sample_pred(WARMUP_FRAC))
    with tr.span("udfs.langid"):
        noop(pages.select(langid_conf_udf("text", artifact).alias("lid")))
    return {"udfs.rows": pages.count()}


def per_layer(b, st, untraced, traced, tracer, groups, counts) -> dict:
    m = {k: 0.0 for k in PER_LAYER_UNITS}
    m.update(counts)
    secs, by_name = {}, {}
    for s in tracer.spans:
        if s["parent"] is not None:
            secs[s["name"]] = s["end"] - s["start"]
            by_name[s["name"]] = groups.get(s["group"], {})

    def g(name, key):
        return by_name.get(name, {}).get(key, 0.0)

    for metric, span in (
        ("verdict.s", "verdict"),
        ("verdict.keep_only_s", "verdict.keep_only"),
        ("scrub.s", "scrub"),
        ("io.scan_s", "io.scan"),
        ("io.write_s", "io.write"),
        ("pipeline.score_s", "pipeline.score"),
        ("pipeline.metrics_s", "pipeline.metrics"),
        ("urlfilter.s", "urlfilter"),
        ("minhash_index.query_s", "minhash_index.query"),
        ("minhash_index.append_s", "minhash_index.append"),
        ("udfs.langid_s", "udfs.langid"),
    ):
        m[metric] = secs.get(span, 0.0)
    if "pipeline.score_nodedup" in secs:
        m["pipeline.capture_dedup_s"] = (
            secs["pipeline.score"] - secs["pipeline.score_nodedup"]
        )
    # the parquet bytes a full scan covers (the event log's input
    # bytes miss reads made off the task thread)
    m["io.scan_bytes"] = dir_bytes(b.inputs.pages)[0]
    m["pipeline.shuffle_bytes"] = g("pipeline.score", "shuffle_bytes")
    m["minhash_index.shuffle_bytes"] = g(
        "minhash_index.query", "shuffle_bytes"
    ) + g("minhash_index.append", "shuffle_bytes")
    m["udfs.arrow_bytes"] = g("udfs.langid", "arrow_bytes")
    if "urlfilter" in by_name:
        m["urlfilter.task_skew"] = task_skew(by_name["urlfilter"]["stage_rows"])

    ops = [groups.get(s["group"], {}) for s in tracer.spans if s["name"] == "op"]
    n_ops = max(len(ops), 1)
    cpu = sum(o.get("cpu_s", 0.0) for o in ops)
    m["session.start_s"] = st["session_s"]
    m["session.task_cpu_s"] = cpu / n_ops
    m["session.gc_s"] = sum(o.get("gc_s", 0.0) for o in ops) / n_ops
    m["session.spill_bytes"] = sum(o.get("spill_bytes", 0.0) for o in ops) / n_ops
    walls = [r["wall"] for r in traced]
    if walls:
        m["session.cpu_busy_frac"] = sum(r["cpu"] for r in traced) / (
            sum(walls) * CORES
        )
    if walls and untraced:
        m["trace_overhead_frac"] = (
            statistics.median(walls) / statistics.median(r["wall"] for r in untraced)
            - 1.0
        )
    log(f"per-layer: {m}")
    return {k: float(v) for k, v in m.items()}
