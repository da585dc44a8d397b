"""The fused curation kernel and the fast paths inside it.

``compose(canonical_stages())`` runs langid, the quality battery and the PII
scrub in one Arrow kernel; the per-operator chain (each operator's own
``apply``) is the independent rendering it must equal on every column,
dropped rows included. ``pii.scrub`` and ``py_langid`` skip scans that
cannot match; they must equal their unguarded regex forms."""

from __future__ import annotations

import itertools
import random
import re
import sys

import pyspark.sql.functions as F

from datatrove_spark.config import PIIConfig
from datatrove_spark.operators import langid, pii

# --- whole-sink equivalence ----------------------------------------------------

EDGE_DOCS = [
    None,
    "",
    "\x1c\x85\xa0　",
    " \x1c the \x85 of \xa0 and 　 to ",
    "the\x00quick\x00brown fox of the and",
    "@",
    "1.2.3",
    "999.1.1.1",
    "8.8.8.8",
    "สวัสดีครับ นี่คือเอกสารภาษาไทย",
    "안녕하세요 이것은 한국어 문서입니다",
    "これはひらがなとカタカナのテストです",
    "这是一个中文文档的测试",
    " ".join(["the", "of", "and", "word"] * 25_000),
]


def _url(i: int) -> str:
    return f"https://h{i % 7}.example.com/page/{i}"


def _curation_docs(spark) -> dict[str, str | None]:
    from datatrove_spark.sources.pages import generate_pages

    texts = [r.text for r in generate_pages(spark, 400).select("text").collect()] + EDGE_DOCS
    return {_url(i): t for i, t in enumerate(texts)}


def test_curation_kernel_equals_per_operator_chain(spark):
    """Every sink column, in order, equals the chain of single-operator
    applies: URL filter -> langid -> quality battery -> PII over the
    battery's text. Dropped rows carry scrubbed text too."""
    from datatrove_spark.config import DEFAULT_CONFIG
    from datatrove_spark.operators import quality_fused, url_filter
    from datatrove_spark.plans.pipeline import canonical_stages, compose

    docs = _curation_docs(spark)
    df = spark.createDataFrame(list(docs.items()), "url string, text string").repartition(4)
    got = compose(df, canonical_stages())
    assert got.columns == [
        "url", "text", "url_filter_reason", "url_filter_keep", "language", "language_score",
        "langid_reason", "langid_keep", "quality_battery_reason", "drop_reason", "keep",
    ]

    d = url_filter.apply(df, cfg=DEFAULT_CONFIG.url_filter)
    d = quality_fused.apply(langid.apply(d))
    d = pii.apply(d, text_col="final_text")
    reason = F.coalesce("url_filter_reason", "langid_reason", "drop_reason")
    want = d.select(
        "url", F.col("pii_text").alias("text"), "url_filter_reason", "url_filter_keep", "language",
        "language_score", "langid_reason", "langid_keep", F.col("drop_reason").alias("quality_battery_reason"),
        reason.alias("drop_reason"), reason.isNull().alias("keep"),
    )
    a = {r.url: r for r in got.collect()}
    b = {r.url: r for r in want.collect()}
    assert a.keys() == b.keys() == docs.keys()
    for url in a:
        assert a[url].asDict() == b[url].asDict(), url
    # the comparison saw a dropped row whose text the scrub rewrote
    ip_doc = a[_url(400 + EDGE_DOCS.index("8.8.8.8"))]
    assert not ip_doc.keep and ip_doc.text == pii.scrub("8.8.8.8") != "8.8.8.8"
    assert a[_url(400)].text == a[_url(401)].text == ""  # NULL text is an empty document


# --- pii.scrub fast paths ---------------------------------------------------------


def _scrub_unguarded(text: str | None, cfg: PIIConfig = PIIConfig()) -> str:
    """``scrub`` with both ``sub`` calls run on every text."""
    text = text or ""
    i = itertools.count()
    text = pii._EMAIL.sub(lambda m: cfg.email_replacements[next(i) % len(cfg.email_replacements)], text)
    j = itertools.count()

    def isub(m: re.Match) -> str:
        if not pii._is_public(m.group(0)):
            return m.group(0)
        return cfg.ip_replacements[next(j) % len(cfg.ip_replacements)]

    return pii._IPV4.sub(isub, text)


ADVERSARIAL = [
    "a@b.com",
    "8.8.8.8",
    "a@b.com 8.8.8.8",
    "8.8.8.8 then a@b.com",
    "mail x@y.org.",
    "@b.com and a@ and @",
    "1.2.3.4.5.6.7.8",
    "0.0.0.0 255.255.255.255",
    "a@[8.8.8.8]",
    "a@[1.2.3.4] b@c.de",
    "٨.٨.٨.٨",  # Arabic-Indic digits: no ASCII digit, no match
    "８.８.８.８",  # fullwidth digits
    "1.٢.3.4 and 8.8.8.8",
    "ü@é.com and u@e.com",
    "x＠y.com",  # fullwidth at sign
    "9.9.9.9\n",
    "\n9.9.9.9",
    "1.1 2.2 3.3",
    "10.0.0.1",
]


def _fuzz_texts(n: int, seed: int) -> list[str]:
    alphabet = list("ab1925.@ -_\n") + ["ก", "가", "ア", "中", "٣", "　", "com"]
    rng = random.Random(seed)
    return ["".join(rng.choice(alphabet) for _ in range(rng.randint(0, 40))) for _ in range(n)]


def test_scrub_equals_unguarded_scrub():
    texts = [None, ""] + ADVERSARIAL + _fuzz_texts(5000, 7)
    assert any(pii.scrub(t) != t for t in ADVERSARIAL)
    for t in texts:
        assert pii.scrub(t) == _scrub_unguarded(t), repr(t)


# --- py_langid fast paths ------------------------------------------------------


def _langid_unguarded(text: str | None) -> tuple[str, float | None]:
    """``py_langid`` with every script scan run and ``\\S+`` tokens."""
    if not text:
        return "und", None
    for lang, rx in (("th", langid.THAI_RE), ("ko", langid.HANGUL_RE), ("ja", langid.KANA_RE), ("zh", langid.HAN_RE)):
        frac = len(re.findall(rx, text)) / len(text)
        if frac > langid.SCRIPT_FRAC_THRESHOLD:
            return lang, frac
    ws = re.findall(r"\S+", text.lower())
    if not ws:
        return "und", None
    counts: dict[str, int] = {}
    for w in ws:
        for lg in langid._INVERTED.get(w, ()):
            counts[lg] = counts.get(lg, 0) + 1
    if not counts:
        return "und", 0.0
    score, lang = max((c / len(ws), lg) for lg, c in counts.items())
    return lang, score


MIXED = [
    "the of and สวัสดี",
    "สวัสดี the of and to",
    "가 the of",
    "가나다 the",
    "ア the of and 中",
    "中文 the",
    "中 中 the of and in is that",
    "der die und 　 the",
    "the\x1cof\x1dand\x1eto\x1fin\x85is\xa0that it　was",
    "the​of",  # zero-width space is not whitespace
    "THE OF AND İstanbul",  # lower() changes length
    "\x00the\x00",
    "и в не на что",
    "ก" * 3 + "a" * 7,
    "ก" * 4 + "a" * 6,
]


def test_py_langid_equals_unguarded_langid():
    texts = [None, "", " ", "　"] + MIXED + EDGE_DOCS[:-1] + _fuzz_texts(5000, 11)
    for t in texts:
        assert langid.py_langid(t) == _langid_unguarded(t), repr(t)


def test_re_whitespace_equals_isspace():
    """``py_langid`` tokenizes with ``str.split()``; that equals ``\\S+``
    only while ``re``'s ``\\s`` matches exactly the ``str.isspace()`` code
    points."""
    ws = re.compile(r"\s")
    bad = [c for c in range(sys.maxunicode + 1) if bool(ws.match(chr(c))) != chr(c).isspace()]
    assert bad == []
