"""Heuristic quality rules as named Catalyst Column expressions.

Each rule maps to a reference check it generalizes (comments cite the
reference checker's file:line). A rule expression is TRUE when the
document VIOLATES the rule (i.e. should be dropped for it) — the same
polarity as the reference's "return violating rows" style.

The battery has ONE Catalyst form: rule_stats builds a bound per-doc
stats struct (one lowercase, one token split, one fused wordlist
extraction, one symbol scan, one line split) and rule_flags compares
it against the RuleConfig thresholds. plans/verdict.py materializes
both; plans/oracle.py (pure Python) and plans/duck.py (DuckDB SQL) are
the independent twins the tests pin it against. The whole battery adds
zero shuffles and zero Python.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import lru_cache

from pyspark.sql import Column
from pyspark.sql import functions as F

from data_quality_checker_spark.functions import text as X
from data_quality_checker_spark.functions.wordlists import (
    LANGS,
    QUALITY_STOPWORDS,
    STOPWORDS,
    TOXIC_WORDS,
)


@dataclass(frozen=True)
class RuleConfig:
    """Thresholds for the rule battery (Gopher/C4-flavored defaults).

    Boundary semantics are explicit closed/open sides (SURVEY.md §7
    hard part (c)): violations use strict < / > against the bounds, so
    a doc exactly at a bound is kept."""

    min_chars: int = 80          # nlp_analyzer.py:87-88 (length gate)
    max_chars: int = 20000
    min_words: int = 15
    max_words: int = 5000
    min_mean_word_len: float = 2.0   # nlp_analyzer.py:99-122
    max_mean_word_len: float = 12.0
    min_stopword_ratio: float = 0.02  # nlp_analyzer.py:927-929
    max_symbol_ratio: float = 0.12    # dq_checker.py:543-557 reframed
    max_repetition: float = 0.80      # nlp_analyzer.py:852-885
    max_dup_line_fraction: float = 0.30  # dq_checker.py:985-998 per-doc
    allowed_langs: tuple[str, ...] = ("en",)
    toxic_words: tuple[str, ...] = TOXIC_WORDS
    stopwords: tuple[str, ...] = QUALITY_STOPWORDS


@lru_cache(maxsize=64)
def word_alt_pattern(words: tuple[str, ...]) -> str:
    """Whitespace-bounded word-set regex whose match count over
    lowered text equals the token-membership count of the split-based
    tokenizer (verified row-for-row on 800k docs). Lookahead keeps the
    trailing separator unconsumed so adjacent stopwords both count.
    Words are regex-escaped: the oracle compares TOKEN MEMBERSHIP, so
    a curated list entry like 'a$$' must match literally here too
    (unescaped, '$' would anchor and never match — breaking the
    pinned F1 parity — and '(' would throw at runtime).

    The word set is emitted as a TRIE-structured pattern
    (``(?:a(?:nd?|[nst])|...)``) instead of a flat 30-way alternation
    (round-7): java.util.regex tries flat alternatives in order,
    pushing a backtrack frame per branch at every whitespace position,
    where the trie walks shared prefixes once — measured 6.9 s ->
    5.0 s for the 5-language battery over 800k docs with bit-identical
    counts. Count equivalence is structural, not incidental: the
    trailing ``(?=\\s|$)`` means ANY successful match spans exactly a
    whole whitespace-bounded token that is a member of the set, so
    greedy-longest (trie) and first-in-list (flat) always accept the
    same positions and consume the same spans; the property tests pin
    the count against the pure-Python tokenizer mirror either way."""
    import re as _re

    root: dict = {}
    for w in words:
        d = root
        for ch in w:
            d = d.setdefault(ch, {})
        d[""] = True

    def emit(d: dict) -> str:
        end = "" in d
        alts: list[str] = []
        singles: list[str] = []
        for k in sorted(k for k in d if k != ""):
            sub = emit(d[k])
            if sub == "":
                singles.append(_re.escape(k))
            else:
                alts.append(_re.escape(k) + sub)
        if singles:
            # leaf siblings collapse to a character class
            alts.append(
                "[" + "".join(singles) + "]"
                if len(singles) > 1
                else singles[0]
            )
        if not alts:
            return ""
        body = "|".join(alts)
        if len(alts) > 1 or end:
            body = "(?:" + body + ")"
        if end:
            body += "?"  # this node is itself a word end
        return body

    return r"(?:^|\s)" + emit(root) + r"(?=\s|$)"


@lru_cache(maxsize=8)
def _wordset_fold_sql(
    stopwords: tuple[str, ...], toxic: tuple[str, ...]
) -> tuple[str, str]:
    """(map_sql, grouped_extraction_pattern) over the union of the
    five language lists PLUS the config's quality-stopword and
    toxic-word lists; membership arrays are len(LANGS)+2 wide
    ([..langs.., quality, toxic]), so ONE extraction pass folds into
    all seven wordlist counts. The map is one parsed SQL ``map(...)``
    literal: building it from per-element ``F.lit`` Columns cost ~830
    py4j round-trips per query construction."""
    lists = [STOPWORDS[lang] for lang in LANGS] + [
        tuple(stopwords),
        tuple(toxic),
    ]
    union = tuple(sorted({w for ws in lists for w in ws}))
    sets = [set(ws) for ws in lists]

    def esc(s: str) -> str:
        return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"

    parts: list[str] = []
    for w in union:
        parts.append(esc(w))
        parts.append(
            "array("
            + ",".join("1" if w in s else "0" for s in sets)
            + ")"
        )
    pat = word_alt_pattern(union)
    head, tail = r"(?:^|\s)", r"(?=\s|$)"
    grouped = head + "(" + pat[len(head) : -len(tail)] + ")" + tail
    return "map(" + ",".join(parts) + ")", grouped


def _lang_argmax_from_counts(counts: Column) -> Column:
    """Deterministic argmax (LANGS order tie-break, 'und' when every
    count is zero) over the first len(LANGS) entries of a counts
    array."""
    sc = [counts[i] for i in range(len(LANGS))]
    best = F.greatest(*sc)
    e = F.lit("und")
    for i in reversed(range(len(LANGS))):
        e = F.when(
            (sc[i] > 0) & (sc[i] == best), F.lit(LANGS[i])
        ).otherwise(e)
    return e


def rule_stats(cfg: RuleConfig, text_col: str = "text") -> Column:
    """The per-document stats struct every rule reads. Per document:
    one ``lower``, one token split, one fused wordlist extraction, one
    symbol scan and one line split.

    Fields: ``wc`` (tokens), ``nonws`` (non-whitespace chars of the
    LOWERCASED text, as the oracle measures it — lower() can change
    length, e.g. U+0130 'İ' -> 'i̇'), ``symc`` (symbol chars of the raw
    text), ``udist`` (distinct tokens), ``dlf`` (duplicate-line
    fraction, NULL without lines) and ``wsc`` (array<int> of the
    len(LANGS)+2 wordlist counts: [..LANGS.., quality stopwords, toxic
    words]).

    Every intermediate is a HOF let-binding (functions/text.bind_once),
    so each scan evaluates EXACTLY ONCE per row however the optimizer
    inlines the struct. That matters for a ``filter(keep)``-only
    consumer: the battery is substituted into the Filter condition,
    and FilterExec, unlike ProjectExec, does no common-subexpression
    elimination — unbound, each stat re-evaluated once per referencing
    flag (measured 6.1 s vs 0.1 s battery per 800k docs)."""
    t = F.col(text_col)
    map_sql, ext_pat = _wordset_fold_sql(cfg.stopwords, cfg.toxic_words)
    zero = F.array_repeat(F.lit(0), len(LANGS) + 2)

    def _from_lower(lo: Column) -> Column:
        cmap = F.expr(map_sql)
        # each count equals its regexp_count twin: any match spans
        # exactly a whole whitespace-bounded member token (see
        # word_alt_pattern)
        wsc = F.aggregate(
            F.regexp_extract_all(lo, F.lit(ext_pat), 1),
            zero,
            lambda acc, tk: F.zip_with(
                acc, F.element_at(cmap, tk), lambda a, b: a + b
            ),
        )

        def _stats(toks: Column) -> Column:
            # wc / nonws / udist all derive from the one token array:
            # the \S+ run count is the non-empty split-token count
            # (same Java \s class; lowercasing never adds or removes
            # whitespace), and tokens partition the non-ws chars
            return F.struct(
                F.size(toks).alias("wc"),
                F.aggregate(
                    F.transform(toks, F.length),
                    F.lit(0).cast("long"),
                    lambda a, x: a + x,
                ).alias("nonws"),
                # counting the negated class skips the output-string
                # allocation of length(regexp_replace(...))
                F.regexp_count(
                    t, F.lit(r"[^\p{L}\p{N}\s]")
                ).alias("symc"),
                F.size(F.array_distinct(toks)).alias("udist"),
                X.bind_once(
                    X.lines(t),
                    lambda lns: F.when(
                        F.size(lns) > 0,
                        (
                            F.size(lns) - F.size(F.array_distinct(lns))
                        ).cast("double")
                        / F.size(lns),
                    ),
                ).alias("dlf"),
                wsc.alias("wsc"),
            )

        return X.bind_once(X.tokens(lo, lowercase=False), _stats)

    return X.bind_once(F.lower(t), _from_lower)


def rule_flags(
    cfg: RuleConfig,
    text_col: str,
    stats: Column,
    lang_fires: Column | None = None,
) -> dict[str, Column]:
    """name -> violation Column in RULE_NAMES order, which is the
    fired_rules order everywhere (Spark, oracle, SQL). The only place
    the battery compares thresholds.

    ``stats`` is the rule_stats struct: a materialized column or a
    bind_once lambda variable. No flag is ever NULL: the three cheap
    length gates are plain null-safe predicates (left unwrapped so a
    ``filter(keep)`` keeps them as separate cheap conjuncts ahead of
    the battery), the other nine are coalesced to false and never fire
    on NULL text. ``lang_fires`` replaces the stopword-argmax language
    rule (the langid-UDF pipeline branch passes the model's verdict)."""
    t = F.col(text_col)
    ln_t = F.length(t)
    n = len(LANGS)
    wc = stats["wc"]
    mwl = F.when(wc > 0, stats["nonws"].cast("double") / wc)
    if lang_fires is None:
        lang_fires = ~_lang_argmax_from_counts(stats["wsc"]).isin(
            *cfg.allowed_langs
        )

    def gated(c: Column) -> Column:
        return F.coalesce(t.isNotNull() & c, F.lit(False))

    return {
        # dq_checker.py:291-304 (null %) + empty-string gate;
        # whitespace-ONLY docs are empty: rlike stops at the first
        # non-ws char, and F.trim strips spaces only
        "empty": t.isNull() | ~t.rlike(r"\S"),
        # nlp_analyzer.py:87-88; dq_checker.py:619-634
        "too_short": t.isNotNull() & (ln_t < cfg.min_chars),
        "too_long": t.isNotNull() & (ln_t > cfg.max_chars),
        "too_few_words": gated((wc > 0) & (wc < cfg.min_words)),
        "too_many_words": gated(wc > cfg.max_words),
        # nlp_analyzer.py:99-122
        "mean_word_len": gated(
            (mwl < cfg.min_mean_word_len) | (mwl > cfg.max_mean_word_len)
        ),
        # nlp_analyzer.py:927-929
        "low_stopword": gated(
            F.when(wc > 0, stats["wsc"][n].cast("double") / wc)
            < cfg.min_stopword_ratio
        ),
        # dq_checker.py:543-557 reframed as symbol density
        "high_symbol": gated(
            F.when(ln_t > 0, stats["symc"].cast("double") / ln_t)
            > cfg.max_symbol_ratio
        ),
        # nlp_analyzer.py:852-885
        "high_repetition": gated(
            F.when(wc > 0, 1.0 - stats["udist"].cast("double") / wc)
            > cfg.max_repetition
        ),
        # dq_checker.py:985-998 applied within document
        "dup_lines": gated(stats["dlf"] > cfg.max_dup_line_fraction),
        # nlp_analyzer.py:887-900 langid; heuristic stand-in for fastText
        "lang": gated(lang_fires),
        # dq_checker.py:222-241 membership check as a deny-list
        "toxicity": gated(stats["wsc"][n + 1] > 0),
    }


# static (Column construction needs a live SparkSession; keep importable
# without one). Must stay in sync with rule_flags — pinned by a test.
RULE_NAMES: tuple[str, ...] = (
    "empty",
    "too_short",
    "too_long",
    "too_few_words",
    "too_many_words",
    "mean_word_len",
    "low_stopword",
    "high_symbol",
    "high_repetition",
    "dup_lines",
    "lang",
    "toxicity",
)
