"""Correctness gate run after every timed operation (outside the timed
region).

- Self-test: the written scored table carries ``scrubbed_text``,
  ``fired_rules`` and ``keep`` with the expected types, and they are
  non-null wherever they must be, so a column-pruned plan can never be
  timed.
- Digest: an order-independent hash over every scored row's
  ``(url, keep, fired_rules, sha2(scrubbed_text))``; it must be the
  same on every run of a seed.
- Oracle slice: a hash-sampled slice of urls is relabelled in pure
  Python with ``plans.oracle.label_page``, giving keep/drop F1 and the
  share of byte-identical scrubbed texts.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import functions as F
from pyspark.sql import types as T

# share of urls in the oracle slice: md5(url) prefix below this
SAMPLE_FRAC = 0.06

MIN_F1 = 0.99

_REQUIRED = {
    "scrubbed_text": T.StringType(),
    "fired_rules": T.ArrayType(T.StringType(), True),
    "keep": T.BooleanType(),
}


@dataclass
class Tally:
    tp: int = 0
    fp: int = 0
    fn: int = 0
    tn: int = 0
    scrub_ok: int = 0
    sampled: int = 0
    problems: list = field(default_factory=list)

    def add(self, other: "Tally") -> None:
        for k in ("tp", "fp", "fn", "tn", "scrub_ok", "sampled"):
            setattr(self, k, getattr(self, k) + getattr(other, k))

    @property
    def f1(self) -> float:
        denom = 2 * self.tp + self.fp + self.fn
        return 1.0 if denom == 0 else 2 * self.tp / denom

    @property
    def scrub_exact_frac(self) -> float:
        return self.scrub_ok / self.sampled if self.sampled else 0.0


def sample_pred(frac: float = SAMPLE_FRAC, url_col: str = "url"):
    cut = int(frac * (1 << 32))
    return F.conv(F.substring(F.md5(F.col(url_col)), 1, 8), 16, 10).cast(
        "long"
    ) < F.lit(cut)


def self_test_and_digest(scored) -> tuple[list[str], str]:
    """(problems, digest) for one written scored table."""
    problems = []
    fields = {f.name: f.dataType for f in scored.schema.fields}
    for name, dtype in _REQUIRED.items():
        if fields.get(name) != dtype:
            problems.append(f"scored column {name}: {fields.get(name)}")
    if problems:
        return problems, ""
    row_hash = F.xxhash64(
        F.col("url"),
        F.col("keep"),
        F.col("fired_rules"),
        F.sha2(F.col("scrubbed_text"), 256),
    )
    r = scored.agg(
        F.count(F.lit(1)).alias("rows"),
        F.count("text").alias("text_rows"),
        F.count("scrubbed_text").alias("scrubbed_rows"),
        F.count("fired_rules").alias("fired_rows"),
        F.count("keep").alias("keep_rows"),
        F.sum(row_hash.cast("decimal(38,0)")).alias("h"),
    ).first()
    if r["rows"] == 0:
        problems.append("scored table is empty")
    if r["scrubbed_rows"] != r["text_rows"]:
        problems.append(
            f"scrubbed_text non-null {r['scrubbed_rows']} != text non-null "
            f"{r['text_rows']}"
        )
    for col in ("fired_rows", "keep_rows"):
        if r[col] != r["rows"]:
            problems.append(f"{col} {r[col]} != rows {r['rows']}")
    return problems, f"{r['rows']}:{r['h']}"


class Oracle:
    """Pure-Python labels for sampled rows."""

    def __init__(self):
        from data_quality_checker_spark.plans.rules import RuleConfig

        self.cfg = RuleConfig()

    def label(self, text):
        from data_quality_checker_spark.plans.oracle import label_page

        return label_page(text, self.cfg)

    def check(self, scored) -> Tally:
        rows = (
            scored.filter(sample_pred())
            .select("url", "text", "keep", "fired_rules", "scrubbed_text")
            .collect()
        )
        t = Tally()
        for r in rows:
            want = self.label(r["text"])
            t.sampled += 1
            if r["keep"] and want["keep"]:
                t.tp += 1
            elif r["keep"]:
                t.fp += 1
            elif want["keep"]:
                t.fn += 1
            else:
                t.tn += 1
            if r["scrubbed_text"] == want["scrubbed"]:
                t.scrub_ok += 1
            elif len(t.problems) < 3:
                t.problems.append(f"scrub mismatch at {r['url']}")
            if list(r["fired_rules"]) != want["fired_rules"] and len(t.problems) < 3:
                t.problems.append(
                    f"fired_rules {list(r['fired_rules'])} != "
                    f"{want['fired_rules']} at {r['url']}"
                )
        if t.sampled == 0:
            t.problems.append("oracle slice is empty")
        return t
