"""Verdict assembly: one rule battery -> rule_* flags, fired_rules, keep.

with_verdict materializes rules.rule_stats once per document, derives
the 12 rule_* flags from it (rules.rule_flags) and builds fired_rules
and keep. Per-rule boolean columns are retained (never NULL) so the
metrics stage can aggregate rule-level drop counts without
re-evaluating rules (generalizes generate_report, dq_checker.py:33-45).
"""

from __future__ import annotations

from functools import lru_cache, reduce
from operator import or_

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_quality_checker_spark.functions.text import bind_once
from data_quality_checker_spark.plans.rules import (
    RULE_NAMES,
    RuleConfig,
    rule_flags,
    rule_stats,
)

RULE_PREFIX = "rule_"
_STATS = "_rule_stats"

# keep's OR-chain evaluation order: cheapest rules first so codegen's
# short-circuit skips the battery for any doc already dropped by a
# length gate. Evaluation order only — fired_rules stays in RULE_NAMES
# order (pinned by the oracles). Measured 13.7s -> 7.0s for
# filter(keep) over 800k docs.
_KEEP_EVAL_ORDER = (
    "empty", "too_short", "too_long", "too_few_words", "too_many_words",
    "mean_word_len", "high_symbol", "high_repetition", "dup_lines",
    "low_stopword", "toxicity", "lang",
)
assert set(_KEEP_EVAL_ORDER) == set(RULE_NAMES)


@lru_cache(maxsize=32)
def _verdict_exprs(
    cfg: RuleConfig, text_col: str, lang_fires: Column | None = None
) -> tuple[Column, dict[str, Column], Column, Column]:
    """(stats, rule_* columns, fired_rules, keep) for one config.

    keep reads the stats through a bind_once of the ``_rule_stats``
    column, not through the rule_* columns: a ``filter(keep)``-only
    consumer prunes the flags and has the stats substituted into its
    Filter condition, where the binding still evaluates them once per
    row. The three cheap gates stay plain predicates ahead of it, so
    docs they drop never run the battery.

    Cached: building these trees costs ~0.3 s of py4j round-trips,
    billed to every score_pages call. Column trees are reusable across
    DataFrames and sessions, but they hold references into the JVM
    gateway: a process that restarts the gateway must call
    ``_verdict_exprs.cache_clear()``. A ``lang_fires`` override is an
    unhashable Column, so with_verdict builds those uncached."""
    flags = rule_flags(cfg, text_col, F.col(_STATS), lang_fires)
    # the cheap gates are null-safe but typed nullable; the coalesce
    # keeps every rule_* column non-nullable in the scored schema
    cols = {
        f"{RULE_PREFIX}{n}": F.coalesce(e, F.lit(False))
        for n, e in flags.items()
    }
    fired = F.array_compact(
        F.array(
            *[F.when(F.col(RULE_PREFIX + n), F.lit(n)) for n in RULE_NAMES]
        )
    )
    cheap, rest = _KEEP_EVAL_ORDER[:3], _KEEP_EVAL_ORDER[3:]

    def _rest_fired(s: Column) -> Column:
        f = rule_flags(cfg, text_col, s, lang_fires)
        return reduce(or_, (f[n] for n in rest))

    any_fired = reduce(or_, (flags[n] for n in cheap)) | F.coalesce(
        bind_once(F.col(_STATS), _rest_fired), F.lit(False)
    )
    return rule_stats(cfg, text_col), cols, fired, ~any_fired


def with_verdict(
    df: DataFrame,
    cfg: RuleConfig | None = None,
    text_col: str = "text",
    lang_fires: Column | None = None,
    self_contained_keep: bool = False,
) -> DataFrame:
    """Adds the rule_* flags, fired_rules (array<string>, RULE_NAMES
    order) and keep (bool).

    ``lang_fires`` overrides the language rule (both rule_lang and
    keep follow it); the langid-UDF pipeline branch passes the model's
    verdict. ``self_contained_keep`` is accepted and ignored — keep
    always has the bound form; the parameter stays only because
    perfbench/trace_run.py passes it."""
    cfg = cfg or RuleConfig()
    build = _verdict_exprs
    if lang_fires is not None:
        build = _verdict_exprs.__wrapped__
    stats, flags, fired, keep = build(cfg, text_col, lang_fires)
    return (
        df.withColumn(_STATS, stats)
        .withColumns(flags)
        .withColumns({"fired_rules": fired, "keep": keep})
        .drop(_STATS)
    )


def with_rule_flags(
    df: DataFrame, cfg: RuleConfig | None = None, text_col: str = "text"
) -> DataFrame:
    """Adds only the 12 rule_* flag columns."""
    return with_verdict(df, cfg, text_col).drop("fired_rules", "keep")
