"""Trained char-n-gram language-ID artifact (plans/langid.py): the
round-5 fidelity upgrade of the wordlist stand-in (VERDICT r04 item 2).
Reference ancestor: nlp_analyzer.py:887-900 (langdetect per call).

Gates, in deployment-faithfulness order:
 - train split: memorization sanity (== 1.0 in practice, gate 0.99)
 - mixed split (70% trained function words + 30% unseen vocabulary,
   the regime real crawl text lives in): >= 0.95 overall, >= 0.84
   per language (measured 0.983 / 0.92 across seeds)
 - pure held-out-word split (adversarial by construction — sv's
   held-out words are fluent Danish): transfer floor + the
   same-script-or-abstain invariant (measured 0.998)
 - OOD abstention: gibberish / bare punctuation -> 'und', never a
   confident wrong label
 - calibration: top-bin empirical accuracy is high and the bins are
   fit on the mixed regime
"""

from __future__ import annotations

import gzip
import json
import pickle

import pytest
from pyspark.sql import functions as F

from data_quality_checker_spark.plans import langid as L
from data_quality_checker_spark.plans import models, udfs

_SCRIPT = {
    "ru": "cyr", "uk": "cyr", "el": "el", "ar": "ar", "he": "he",
    "hi": "hi", "ja": "ja", "ko": "ko", "zh": "zh",
}
for _lg in L.LANGID_LANGS:
    _SCRIPT.setdefault(_lg, "latin")


@pytest.fixture(scope="module")
def artifact(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("langid") / "charngram.model.gz")
    L.train_langid_artifact(spark, path)
    return path


@pytest.fixture(scope="module")
def model(artifact):
    return L.load_charngram_langid(artifact)


def _accuracy(model, split, n=25, seed=99):
    per = {}
    for lang in L.LANGID_LANGS:
        test = L.sentences(lang, n, seed=seed, split=split)
        per[lang] = sum(model.predict(s) == lang for s in test) / n
    return per


def test_language_coverage_and_split_disjointness():
    assert len(L.LANGID_LANGS) >= 20
    for lang in L.LANGID_LANGS:
        train, held = L.split_words(lang)
        assert len(held) >= 4 and len(train) >= 20, lang
        assert not set(train) & set(held), lang
        # deterministic: the split is md5-rank, not process-hash
        assert L.split_words(lang) == (train, held)


def test_train_split_accuracy(model):
    per = _accuracy(model, "train")
    assert sum(per.values()) / len(per) >= 0.99, per


def test_mixed_split_accuracy_gate(model):
    """The deployment-faithful gate: trained function words + ~30%
    unseen vocabulary (measured 0.983 overall, 0.92 min)."""
    per = _accuracy(model, "mixed")
    overall = sum(per.values()) / len(per)
    assert overall >= 0.95, (overall, per)
    worst = min(per, key=per.get)
    assert per[worst] >= 0.84, (worst, per[worst])


def test_held_out_word_transfer_floor(model):
    """Adversarial: sentences from words the training split never saw.
    Mutually-intelligible pairs make exact accuracy genuinely capped
    (sv held-out words appear verbatim in da's training pool), so the
    hard invariant is same-script-or-abstain; exact accuracy gets a
    transfer floor (measured 0.429 / 0.998)."""
    ok = und = hit = tot = 0
    for lang in L.LANGID_LANGS:
        for s in L.sentences(lang, 25, seed=99, split="held"):
            p = model.predict(s)
            tot += 1
            hit += int(p == lang)
            if p == "und":
                und += 1
            elif _SCRIPT.get(p) == _SCRIPT[lang]:
                ok += 1
    assert hit / tot >= 0.35, hit / tot
    assert (ok + und) / tot >= 0.95, (ok / tot, und / tot)


def test_ood_abstention_and_confidence(model):
    """The uniform-background 'und' class: gibberish and bare
    punctuation abstain instead of getting a confident wrong label;
    clean in-distribution text keeps a high calibrated confidence."""
    assert model.predict("zqx vprw qqj zzk xq") == "und"
    assert model.predict("?!") == "und"
    assert model.predict("") == "und"
    assert model.predict(None) == "und"
    lang, conf = model.predict_with_confidence(
        "the people would make time for this year and day"
    )
    assert lang == "en" and conf >= 0.9, (lang, conf)
    # close-pair sentences still resolve (word features carry them)
    assert model.predict("och att det är inte bara") == "sv"
    assert model.predict("og at det er ikke kun") == "da"


def test_calibration_bins(model):
    cal = model.calibration
    assert cal, "artifact must carry calibration bins"
    # bins tile [0, 1] in order
    assert cal[0][0] == 0.0 and cal[-1][1] > 1.0
    for (_, hi, _, _), (lo, _, _, _) in zip(cal, cal[1:]):
        assert hi == lo
    # the populated top bin is the accuracy the mixed gate measures
    top = cal[-1]
    assert top[3] > 100 and top[2] >= 0.95, top


def test_spark_python_gram_parity(spark, model):
    """_norm_expr and CharNgramLangID._grams must emit the same bag
    (this parity caught a real bug: a two-arg transform lambda made
    Spark pass the array index as the slice length)."""
    texts = [
        L.sentences("en", 1, seed=5)[0],
        L.sentences("ja", 1, seed=5)[0],
        L.sentences("ar", 1, seed=5)[0],
        "x",
        "  ",
        # non-ASCII whitespace: NBSP / ideographic space are NOT in
        # the ASCII _WS class, so they survive normalization and form
        # grams — the Python mirror must keep them exactly as the
        # Catalyst form does (ASCII-space strip, never Unicode strip)
        "caf\xe9\xa0au\xa0lait",
        "\xa0",
        "　日本語　",
    ]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = [
        sorted(r["g"])
        for r in df.select(L._norm_expr("text", 3).alias("g")).collect()
    ]
    for t, g in zip(texts, got):
        assert g == sorted(model._grams(t)), t


def test_artifact_roundtrip_udf_parity_nonpicklable(
    spark, artifact, model
):
    """The charngram artifact rides the SAME addFile + iterator-UDF
    path as the wordlist stand-in (models.load_langid_model format
    dispatch): worker predictions must equal driver predictions, and
    the loaded handle must refuse to pickle."""
    spark.sparkContext.addFile(artifact)
    texts = [
        s
        for lang in ("en", "de", "ru", "ja", "sv")
        for s in L.sentences(lang, 5, seed=31, split="mixed")
    ] + [None, "", "zqx vprw qqj"]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = [
        r["lang"]
        for r in df.select(
            udfs.langid_udf(F.col("text"), model_path=artifact).alias(
                "lang"
            )
        ).collect()
    ]
    want = [model.predict(t) if t is not None else "und" for t in texts]
    assert got == want
    with pytest.raises(TypeError, match="not picklable"):
        pickle.dumps(model)
    # format dispatch still rejects unknown artifacts
    bad = artifact + ".bad.gz"
    with gzip.open(bad, "wt") as fh:
        json.dump({"format": "other"}, fh)
    with pytest.raises(ValueError, match="artifact"):
        models.load_langid_model(bad)


def test_min_count_prune_and_max_rows_guard(spark, tmp_path):
    counts, v = L.train_charngram_counts(
        spark.createDataFrame(
            [("en", "aaa aaa aaa"), ("xx", "zzz")],
            "lang string, text string",
        )
    )
    pruned = L.write_charngram_langid(
        str(tmp_path / "p.gz"), counts, v, min_count=3
    )
    m = L.load_charngram_langid(pruned)
    assert all(
        n >= 3 for table in m.counts.values() for n in table.values()
    )
    # totals are pre-prune: pruning must not shift the denominator
    assert m.totals["xx"] > sum(m.counts.get("xx", {}).values())
    with pytest.raises(ValueError, match="max_rows"):
        L.write_charngram_langid(
            str(tmp_path / "g.gz"), counts, v, max_rows=1
        )


def test_artifact_payload_deterministic(spark, tmp_path, artifact):
    """Same corpus, same seed -> identical payload (json-level; the
    gzip header carries an mtime, so byte identity is not the claim)."""
    p2 = str(tmp_path / "again.gz")
    L.train_langid_artifact(spark, p2)
    a = json.load(gzip.open(artifact, "rt"))
    b = json.load(gzip.open(p2, "rt"))
    assert a == b


def test_pipeline_with_trained_langid_artifact(spark, artifact, model):
    """End-to-end north-rule shape: the trained artifact scores inside
    the vectorized UDF within score_pages. lang_detected matches the
    driver-side model exactly, the lang rule re-fires on the model's
    label, and the calibrated-confidence reject knob demotes
    low-confidence docs without poisoning rule flags to NULL."""
    import datetime as dt

    from data_quality_checker_spark.plans.pipeline import (
        PipelineConfig,
        score_pages,
    )

    spark.sparkContext.addFile(artifact)
    en = "the people would make time for this year and day with them"
    es = "el tiempo es bueno para todo el mundo entre años y días"
    # chosen so the deterministic artifact resolves it to 'en' (the
    # allowed lang) in a LOW calibration bin (raw posterior ~0.80 →
    # bin accuracy 0.5, vs clean English's 0.992288 top bin): the
    # shape the confidence-reject assertions below REQUIRE — they
    # fail loudly on fixture drift rather than silently skipping
    ambiguous = "this time el mundo would la make de"
    gib = "zqx vprw qqj zzk xq"
    # long enough to pass every other rule; the model labels it 'en'
    # in the same low bin as ``ambiguous`` while the stopword argmax
    # says 'es', so only the UDF override decides its keep
    mixed = (
        "time de el today la make the mundo de and el la this would"
        " make de make el people"
    )
    ts = dt.datetime(2024, 3, 1)
    rows = [
        (f"https://h.ex/{i}", ts, b"<html/>", t, "en")
        for i, t in enumerate((en, es, ambiguous, gib, mixed))
    ]
    pages = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, lang string"
    )
    cfg = PipelineConfig(
        dedup_latest_capture=False,
        langid_impl="udf",
        langid_model_path=artifact,
    )
    got = {
        r["url"]: r
        for r in score_pages(pages, cfg)
        .select(
            "url", "text", "lang_detected", "lang_confidence", "rule_lang",
            "fired_rules", "keep",
        )
        .collect()
    }
    for u, r in got.items():
        want_lang, want_conf = model.predict_with_confidence(r["text"])
        assert r["lang_detected"] == want_lang, (u, r)
        assert r["lang_confidence"] == pytest.approx(want_conf), u
        assert r["rule_lang"] is not None  # never NULL
        assert r["rule_lang"] == (want_lang != "en"), (u, want_lang)
    assert got["https://h.ex/0"]["lang_detected"] == "en"
    assert got["https://h.ex/1"]["lang_detected"] == "es"
    assert got["https://h.ex/3"]["lang_detected"] == "und"
    # keep follows the model's label, not the stopword argmax
    assert got["https://h.ex/4"]["fired_rules"] == []
    assert got["https://h.ex/4"]["keep"] is True

    # confidence reject: a threshold above the ambiguous doc's
    # calibrated confidence fires its lang rule; clear English with
    # top-bin confidence survives
    amb_conf = got["https://h.ex/2"]["lang_confidence"]
    en_conf = got["https://h.ex/0"]["lang_confidence"]
    # PRECONDITIONS as assertions, not a conditional skip: this block
    # is the only end-to-end exercise of langid_min_confidence firing
    # rule_lang — if a model/corpus tweak breaks the fixture's shape
    # (ambiguous doc no longer 'en', or no longer lower-confidence
    # than clean English), the test must FAIL so the fixture gets
    # rebuilt, not silently stop asserting the reject path.
    assert got["https://h.ex/2"]["lang_detected"] == "en", (
        "fixture drift: the ambiguous doc must resolve to an ALLOWED "
        "lang (en) so only the confidence threshold can fire its rule"
    )
    assert amb_conf < en_conf, (
        "fixture drift: ambiguous doc must be lower-confidence than "
        "clean English for a separating threshold to exist"
    )
    thresh = (amb_conf + en_conf) / 2
    cfg2 = PipelineConfig(
        dedup_latest_capture=False,
        langid_impl="udf",
        langid_model_path=artifact,
        langid_min_confidence=thresh,
    )
    got2 = {
        r["url"]: r
        for r in score_pages(pages, cfg2)
        .select("url", "rule_lang", "fired_rules", "keep")
        .collect()
    }
    assert got2["https://h.ex/2"]["rule_lang"] is True
    assert got2["https://h.ex/0"]["rule_lang"] is False
    # fired_rules and keep read the same lang override as rule_lang:
    # the low-confidence reject alone drops the otherwise-kept doc
    for u, r in got2.items():
        assert ("lang" in r["fired_rules"]) is r["rule_lang"], u
    assert got2["https://h.ex/4"]["rule_lang"] is True
    assert got2["https://h.ex/4"]["fired_rules"] == ["lang"]
    assert got2["https://h.ex/4"]["keep"] is False
