"""Seeded workload generators.

Every input is a deterministic function of ``seed``: it is generated
with Spark on top of ``synth.pages_df_distributed(seed=...)``, written
as parquet under the benchmark's work directory and reused by later
runs with the same seed. The program under test only ever reads the
generated parquet.

Workloads (see BENCHMARK.json for why each was chosen):

- ``crawl_batch``: a fresh v2 snapshot with unique urls through
  ``run_pipeline`` with the default ``PipelineConfig``.
- ``recrawl_incremental``: a re-crawl of a previous crawl. A seeded
  share of the previous urls is re-fetched with a later ``warc_ts``
  (some with edited text), some urls are captured twice, some urls
  fail the url shape rules, a few hosts are blocklisted, and hosts are
  Zipf-skewed. ``run_pipeline`` runs with url prefilter, per-host cap
  and blocklist; its kept docs are then queried against and appended
  to a MinHash index of the previous crawl.

The recrawl mix: hosts (Zipf s=1.5 folded onto 50 hosts) and the
recapture rate (one row in 37 captured again an hour later) are the
ones ``synth.make_pages`` uses for the test fixtures (FIXTURES.md).
The re-fetch, edit and bad-url shares, the blocked hosts and the host
cap have no measured source: they are placeholders, chosen so that
every layer of the workload processes some rows. The per-layer counts
of the traced run (``urlfilter.rows_dropped``,
``pipeline.captures_collapsed``, ``minhash_index.pairs``) show what
each layer gets.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass

from pyspark.sql import Window
from pyspark.sql import functions as F

# bump when a generator changes so cached inputs are rebuilt
GEN_VERSION = "g3"

CRAWL_DOCS = 10_000
RECRAWL_PREV_DOCS = 1_500
RECRAWL_NEW_DOCS = 700

# recrawl mix from synth.make_pages (FIXTURES.md)
ZIPF_HOSTS = 50
RECAPTURE_EVERY = 37  # one current row in 37 is captured twice
# recrawl mix placeholders, in percent (no measured source)
REFETCH_PCT = 40  # of previous urls, re-fetched one day later
EDIT_PCT = 25  # of re-fetched pages, with edited text
BAD_URL_PCT = 4  # of new pages, urls failing the shape heuristics
BLOCKED_HOSTS = ("host5.example", "host9.example", "host14.example")
MAX_DOCS_PER_HOST = 150

PAGE_COLS = ("url", "warc_ts", "html", "text", "lang")


def _gen_path(work: str, name: str, seed: int, docs: int) -> str:
    return os.path.join(work, "inputs", f"{name}-{GEN_VERSION}-n{docs}-s{seed}")


def _write_once(df, path: str):
    """Write ``df`` to ``path`` unless a complete copy exists."""
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        shutil.rmtree(path, ignore_errors=True)
        df.write.mode("overwrite").parquet(path)
    return path


def _zipf_host(seed: int):
    """Host of rank r with P(rank >= r) ~ r**-0.5 (Zipf, s=1.5), folded
    onto ``ZIPF_HOSTS`` hosts as ``synth.make_pages`` does."""
    u = (
        F.pmod(F.xxhash64(F.col("id"), F.lit(seed + 101)), F.lit(1 << 30))
        + 1
    ) / F.lit(float(1 << 30))
    rank = F.floor(F.pow(u, F.lit(-2.0))) - 1
    return F.concat(
        F.lit("host"), F.pmod(rank, F.lit(ZIPF_HOSTS)), F.lit(".example")
    )


def _html(text):
    return F.encode(
        F.concat(
            F.lit("<html><body>"),
            F.coalesce(text, F.lit("")),
            F.lit("</body></html>"),
        ),
        "UTF-8",
    )


def _pct(seed_salt: int, pct: int):
    return F.pmod(F.xxhash64(F.col("id"), F.lit(seed_salt)), F.lit(100)) < pct


@dataclass
class Inputs:
    root: str  # the seed's input directory
    pages: str
    docs: int
    prev: str | None = None
    blocklist: str | None = None


def v2_sample(spark, docs: int, seed: int):
    """``docs`` pages of ``pages_df_distributed(seed=seed)`` with the
    v2 class mix held exact. The generator draws each page's class from
    ``pmod(xxhash64(id, seed), 100)``, so the class counts of a small
    slice vary with the seed -- and the 2% of ~5,200-word pages carry
    most of the scoring cost. Taking ``docs / 100`` pages from every
    class bucket (lowest ids first) removes that sampling noise; the
    pages themselves stay the generator's. Keeps ``id`` and adds the
    in-bucket rank ``_rank`` (1-based)."""
    from data_quality_checker_spark.plans.synth import pages_df_distributed

    per_bucket = docs // 100
    pool = pages_df_distributed(spark, docs * 8 // 5, seed=seed).withColumn(
        "id", F.regexp_extract("url", r"/p([0-9]+)$", 1).cast("long")
    )
    bucket = F.pmod(F.xxhash64(F.col("id"), F.lit(seed)), F.lit(100))
    return (
        pool.withColumn(
            "_rank", F.row_number().over(Window.partitionBy(bucket).orderBy("id"))
        )
        .filter(F.col("_rank") <= per_bucket)
    )


def generate(spark, work: str, workload: str, seed: int) -> Inputs:
    if workload == "recrawl_incremental":
        return _generate_recrawl(spark, work, seed)
    path = _gen_path(work, workload, seed, CRAWL_DOCS)
    _write_once(v2_sample(spark, CRAWL_DOCS, seed).select(*PAGE_COLS), path)
    return Inputs(root=path, pages=path, docs=_count(spark, path))


def _count(spark, path: str) -> int:
    return spark.read.parquet(path).count()


def _generate_recrawl(spark, work: str, seed: int) -> Inputs:
    root = _gen_path(
        work, "recrawl_incremental", seed, RECRAWL_PREV_DOCS + RECRAWL_NEW_DOCS
    )
    prev_p, cur_p, bl_p = (
        f"{root}/previous",
        f"{root}/current",
        f"{root}/blocklist",
    )
    # the first PREV/100 pages of every class bucket form the previous
    # crawl, the rest are new pages: both keep the exact v2 mix
    base = (
        v2_sample(spark, RECRAWL_PREV_DOCS + RECRAWL_NEW_DOCS, seed)
        .withColumn("is_prev", F.col("_rank") <= RECRAWL_PREV_DOCS // 100)
        .withColumn("host", _zipf_host(seed))
        .withColumn("url", F.concat(F.lit("https://"), F.col("host"), F.lit("/p"), F.col("id")))
        .persist()
    )
    prev = base.filter("is_prev")
    _write_once(prev.select(*PAGE_COLS), prev_p)

    edited_text = F.when(
        F.col("text").isNotNull() & _pct(seed + 13, EDIT_PCT),
        F.concat(F.col("text"), F.lit(" the page was updated with new data")),
    ).otherwise(F.col("text"))
    refetched = (
        prev.filter(_pct(seed + 11, REFETCH_PCT))
        .withColumn("text", edited_text)
        .withColumn("html", _html(F.col("text")))
        .withColumn("warc_ts", F.col("warc_ts") + F.expr("INTERVAL 1 DAY"))
    )
    bad_url = F.when(
        F.pmod(F.col("id"), F.lit(2)) == 0,
        F.concat(F.lit("https://"), F.col("host"), F.lit("/img/p"), F.col("id"), F.lit(".jpg")),
    ).otherwise(
        F.concat(F.lit("http://10.0.0."), F.pmod(F.col("id"), F.lit(250)), F.lit("/p"), F.col("id"))
    )
    fresh = (
        base.filter(~F.col("is_prev"))
        .withColumn("url", F.when(_pct(seed + 17, BAD_URL_PCT), bad_url).otherwise(F.col("url")))
        .withColumn("warc_ts", F.col("warc_ts") + F.expr("INTERVAL 2 DAYS"))
    )
    current = refetched.unionByName(fresh)
    # same page captured again an hour later: capture dedup keeps the
    # later copy
    again = current.filter(
        F.pmod(F.xxhash64(F.col("id"), F.lit(seed + 19)), F.lit(RECAPTURE_EVERY)) == 0
    ).withColumn(
        "warc_ts", F.col("warc_ts") + F.expr("INTERVAL 1 HOUR")
    )
    _write_once(current.unionByName(again).select(*PAGE_COLS), cur_p)
    _write_once(
        spark.createDataFrame([(d,) for d in BLOCKED_HOSTS], "domain string"),
        bl_p,
    )
    base.unpersist()
    return Inputs(
        root=root,
        pages=cur_p,
        docs=_count(spark, cur_p),
        prev=prev_p,
        blocklist=bl_p,
    )


def capture_id(df):
    """Index id of a capture: url plus its fetch time, so a re-fetch of
    a known url is a new index entry whose near-duplicate is the
    previous capture."""
    return df.withColumn(
        "doc_id",
        F.concat_ws("@", F.col("url"), F.unix_micros(F.col("warc_ts")).cast("string")),
    )
