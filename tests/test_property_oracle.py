"""Property tests (SURVEY.md §5.2 item 3): the Catalyst rule battery
and scrub chain agree row-for-row with the pure-Python oracle on
random documents.

Alphabet: ASCII printable + every Java-\\s whitespace except \\x0b
(vertical tab is the one char outside the three-engine contract —
RE2's \\s lacks it; functions/text.py documents the exclusion), plus
non-ASCII probes (NBSP, superscript two, vulgar half, accented and CJK
letters) — the round-1 ADVICE divergences (CRLF line trimming, Unicode
category drift in symbol ratio) were exactly the chars this alphabet
used to omit. Batched: hypothesis generates corpora, one Spark job per
corpus."""

from __future__ import annotations

import string

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from data_quality_checker_spark.plans import oracle as O
from data_quality_checker_spark.plans.rules import RuleConfig
from data_quality_checker_spark.plans.scrub import scrub_python
from data_quality_checker_spark.plans.verdict import with_verdict
from data_quality_checker_spark.plans.scrub import with_scrub

_ALPHABET = (
    string.ascii_letters
    + string.digits
    + string.punctuation
    + " \n\t\r\f"
    + " ²½é漢"
)

_texts = st.lists(
    st.one_of(
        st.none(),
        st.text(alphabet=_ALPHABET, max_size=400),
        # PII-shaped fragments mixed into prose
        st.builds(
            lambda a, b: f"{a} reach me at j.doe+x@mail-x.example.com or "
            f"+1 (555) 123-4567 via 10.0.0.1 {b}",
            st.text(alphabet=_ALPHABET, max_size=80),
            st.text(alphabet=_ALPHABET, max_size=80),
        ),
    ),
    min_size=1,
    max_size=25,
)

_SETTINGS = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@given(texts=_texts)
@_SETTINGS
def test_verdict_matches_python_oracle(spark, texts):
    cfg = RuleConfig()
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "id long, text string"
    )
    got = {
        r["id"]: (r["keep"], list(r["fired_rules"]))
        for r in with_verdict(df, cfg)
        .select("id", "keep", "fired_rules")
        .collect()
    }
    for i, t in enumerate(texts):
        fired = O.fired_rules(t, cfg)
        assert got[i] == (not fired, fired), (
            f"doc {i}: spark={got[i]} oracle={(not fired, fired)} "
            f"text={t!r}"
        )


@given(texts=_texts)
@_SETTINGS
def test_scrub_byte_identical_to_python(spark, texts):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "id long, text string"
    )
    got = {
        r["id"]: r["scrubbed_text"]
        for r in with_scrub(df, "text").select("id", "scrubbed_text").collect()
    }
    for i, t in enumerate(texts):
        assert got[i] == scrub_python(t), f"doc {i}: {t!r}"
