"""c4_quality_filter / pii_redact / dsir_importance / gopher_repetition /
language_id_multi: every metric must equal an independent pure-python
recomputation on handcrafted docs that exercise each rule, plus a
partition-invariance pins for the aggregate-bearing ops (DSIR, Gopher
repetition)."""

import hashlib
import math
import re
from collections import Counter

import pytest


@pytest.fixture(scope="module")
def spark():
    from whitebox_tools_spark.session import get_spark

    yield get_spark(app_name="text-cleaning", cores=4, shuffle_partitions=4)


# ---------------------------------------------------------------------------
# C4 rules
# ---------------------------------------------------------------------------
_C4_DOCS = [
    # doc 1: three good lines -> kept
    (1, "this line has exactly six words.\nshort line\n"
        "another line with five words!\nand one more keeper line here?"),
    # doc 2: only two good lines -> dropped (min_kept_lines)
    (2, "one good line of five words.\ntiny.\nnope"),
    # doc 3: javascript line is filtered, doc keeps 3 others
    (3, "please enable javascript to continue now.\n"
        "a first proper line with words.\n"
        "b second proper line with words.\n"
        "c third proper line with words."),
    # doc 4: lorem ipsum -> dropped at doc level
    (4, "a fine line with five words.\nmore lorem ipsum text here now.\n"
        "third good line with words."),
    # doc 5: brace -> dropped at doc level
    (5, "function f() { return }\ngood line number one right here.\n"
        "good line number two right here.\ngood line number three here now."),
    # doc 6: no terminal punctuation anywhere -> zero kept
    (6, "no punctuation in this line at all\nanother one missing the mark"),
]


def _py_c4(text, min_line_words=5, min_kept_lines=3):
    lines = text.split("\n")
    kept = []
    for ln in lines:
        tr = ln.strip()
        words = re.split(r"\s+", tr) if tr else []
        if (
            re.search(r'[.!?"]$', tr)
            and len(words) >= min_line_words
            and "javascript" not in ln.lower()
        ):
            kept.append(ln)
    lorem = "lorem ipsum" in text.lower()
    brace = "{" in text
    return {
        "n_lines": len(lines),
        "n_kept_lines": len(kept),
        "has_lorem": int(lorem),
        "has_brace": int(brace),
        "keep_doc": int(len(kept) >= min_kept_lines and not lorem and not brace),
        "cleaned": "\n".join(kept),
    }


def test_c4_rules_vs_python(spark):
    from whitebox_tools_spark.operators.text import c4_quality_filter

    df = spark.createDataFrame(_C4_DOCS, ["doc_id", "text"])
    out = {r["doc_id"]: r.asDict() for r in c4_quality_filter(df).collect()}
    assert set(out) == {d for d, _ in _C4_DOCS}
    for did, text in _C4_DOCS:
        exp = _py_c4(text)
        got = {k: out[did][k] for k in exp}
        assert got == exp, f"doc {did}: {got} != {exp}"
    # the specific rule outcomes the fixture was built to pin
    assert out[1]["keep_doc"] == 1 and out[1]["n_kept_lines"] == 3
    assert out[2]["keep_doc"] == 0
    assert out[3]["n_kept_lines"] == 3  # javascript line removed
    assert out[4]["has_lorem"] == 1 and out[4]["keep_doc"] == 0
    assert out[5]["has_brace"] == 1 and out[5]["keep_doc"] == 0
    assert out[6]["n_kept_lines"] == 0


# ---------------------------------------------------------------------------
# PII redaction
# ---------------------------------------------------------------------------
def test_pii_redact_vs_python(spark):
    from whitebox_tools_spark.operators.text import (
        PII_EMAIL, PII_IPV4, PII_PHONE, pii_redact,
    )

    docs = [
        (1, "mail a.user+tag@sub.example.co.uk and b@x.io now"),
        (2, "server at 192.168.0.1 and 10.0.0.255."),
        (3, "call +44 20 7946 0958 or +1-555-000-1111 today"),
        (4, "mixed u@v.org on 8.8.8.8 phone +33 1 23 45 67 89 end"),
        (5, "nothing sensitive here at all"),
    ]
    out = {r["doc_id"]: r.asDict() for r in pii_redact(
        spark.createDataFrame(docs, ["doc_id", "text"])).collect()}
    for did, text in docs:
        n_e = len(re.findall(PII_EMAIL, text))
        r1 = re.sub(PII_EMAIL, "<EMAIL>", text)
        n_i = len(re.findall(PII_IPV4, r1))
        r2 = re.sub(PII_IPV4, "<IP>", r1)
        n_p = len(re.findall(PII_PHONE, r2))
        r3 = re.sub(PII_PHONE, "<PHONE>", r2)
        assert out[did]["n_emails"] == n_e, did
        assert out[did]["n_ips"] == n_i, did
        assert out[did]["n_phones"] == n_p, did
        assert out[did]["redacted"] == r3, did
    assert out[1]["n_emails"] == 2
    assert out[2]["n_ips"] == 2
    assert out[3]["n_phones"] == 2
    assert out[4]["n_emails"] == out[4]["n_ips"] == out[4]["n_phones"] == 1
    assert out[5]["redacted"] == docs[4][1]


# ---------------------------------------------------------------------------
# DSIR importance
# ---------------------------------------------------------------------------
def _py_dsir(docs, target, n_buckets=16):
    """Independent scalar DSIR: hashed-bigram add-1-smoothed log ratio,
    replaying the engine's 9-dp scaled-integer quantization."""

    def bucket(gram):
        return int(hashlib.md5(gram.encode()).hexdigest()[:15], 16) % n_buckets

    raw, tgt = Counter(), Counter()
    per_doc = {}
    for did, src, text in docs:
        toks = re.split(r"\s+", text.strip()) if text.strip() else []
        bs = [bucket(f"{a} {b}") for a, b in zip(toks, toks[1:])]
        per_doc[did] = bs
        for b in bs:
            raw[b] += 1
            if src in target:
                tgt[b] += 1
    raw_tot, tgt_tot = sum(raw.values()), sum(tgt.values())
    lwi = {
        b: round(
            round(
                math.log((tgt[b] + 1) / (tgt_tot + n_buckets))
                - math.log((raw[b] + 1) / (raw_tot + n_buckets)),
                9,
            )
            * 1e9
        )
        for b in raw
    }
    return {
        did: round(sum(lwi[b] for b in bs) / 1e9 / len(bs), 6)
        for did, bs in per_doc.items()
        if bs
    }


def test_dsir_importance_vs_python_and_ranking(spark):
    from whitebox_tools_spark.operators.text import dsir_importance

    docs = [
        (1, "wiki", "solar panels convert light into power"),
        (2, "wiki", "solar panels store light as power"),
        (3, "web", "solar panels convert light into power"),  # target-like
        (4, "web", "buy cheap pills online casino bonus"),  # off-target
        (5, "web", "x"),  # single token -> omitted
    ]
    exp = _py_dsir(docs, {"wiki"}, n_buckets=16)
    df = spark.createDataFrame(docs, ["doc_id", "source", "text"])
    for parts in (1, 5):
        out = {
            r["doc_id"]: r["dsir_logweight"]
            for r in dsir_importance(
                df.repartition(parts), target_sources=("wiki",), n_buckets=16
            ).collect()
        }
        assert set(out) == set(exp)  # doc 5 omitted on both sides
        for did in exp:
            assert out[did] == pytest.approx(exp[did], abs=1e-9), (parts, did)
    # the target-like web doc must outrank the off-target one
    assert exp[3] > exp[4]


# ---------------------------------------------------------------------------
# full Gopher repetition family
# ---------------------------------------------------------------------------
def _py_gopher_rep(text):
    """Independent scalar recomputation of all 13 repetition fractions."""
    toks = re.split(r"\s+", text.strip()) if text.strip() else []
    word_chars = sum(len(w) for w in toks)

    def unit(units):
        c = Counter(units)
        n, d = len(units), len(c)
        chars = sum(len(u) for u in units)
        dchars = sum(len(u) * k for u, k in c.items() if k > 1)
        return (
            (n - d) / n if n else 0.0,
            dchars / chars if chars else 0.0,
        )

    dl, dlc = unit(text.split("\n"))
    dp, dpc = unit(text.split("\n\n"))

    out = {
        "dup_line_frac": dl, "dup_line_char_frac": dlc,
        "dup_para_frac": dp, "dup_para_char_frac": dpc,
    }
    for n in (2, 3, 4):
        grams = [" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)]
        c = Counter(grams)
        mass = max(
            (k * (len(g) - (n - 1)) for g, k in c.items() if k >= 2), default=0
        )
        out[f"top{n}_char_frac"] = mass / word_chars if word_chars else 0.0
    for n in range(5, 11):
        grams = [(i, " ".join(toks[i:i + n])) for i in range(len(toks) - n + 1)]
        c = Counter(g for _, g in grams)
        covered = set()
        for i, g in grams:
            if c[g] > 1:
                covered.update(range(i, i + n))
        mass = sum(len(toks[i]) for i in covered)
        out[f"dup{n}_char_frac"] = mass / word_chars if word_chars else 0.0
    from whitebox_tools_spark.operators.text import GOPHER_REP_THRESHOLDS

    out["passes"] = int(
        all(out[k] <= thr for k, thr in GOPHER_REP_THRESHOLDS.items())
    )
    return {
        k: (round(v, 6) if isinstance(v, float) else v) for k, v in out.items()
    }


_REP_DOCS = [
    # clean: no repetition at all
    (1, "alpha beta gamma delta\n\nepsilon zeta eta theta\n\niota kappa"),
    # duplicate line (2 of 3) -> dup_line_frac 1/3
    (2, "same line here\nsame line here\nunique tail line"),
    # duplicate paragraph
    (3, "para one text\n\npara one text\n\nother paragraph"),
    # heavy 2-gram repetition: 'spam ham' x5
    (4, "spam ham spam ham spam ham spam ham spam ham"),
    # repeated 5-gram with overlap: 'a b c d e' twice
    (5, "a b c d e x a b c d e y"),
    # a doc whose repeated 6-gram overlaps itself (periodic text)
    (6, "w1 w2 w3 w1 w2 w3 w1 w2 w3 w1 w2 w3"),
    (7, ""),
]


def test_gopher_repetition_vs_python(spark):
    from whitebox_tools_spark.operators.text import gopher_repetition

    df = spark.createDataFrame(_REP_DOCS, ["doc_id", "text"])
    for parts in (1, 5):
        out = {
            r["doc_id"]: r.asDict()
            for r in gopher_repetition(df.repartition(parts)).collect()
        }
        assert set(out) == {d for d, _ in _REP_DOCS}
        for did, text in _REP_DOCS:
            exp = _py_gopher_rep(text)
            got = {k: out[did][k] for k in exp}
            for k in exp:
                assert got[k] == pytest.approx(exp[k], abs=1e-9), (parts, did, k)
    # pinned rule outcomes
    e2 = _py_gopher_rep(_REP_DOCS[1][1])
    assert e2["dup_line_frac"] == pytest.approx(1 / 3, abs=1e-6)
    assert e2["passes"] == 0
    e4 = _py_gopher_rep(_REP_DOCS[3][1])
    assert e4["top2_char_frac"] > 0.5 and e4["passes"] == 0
    e5 = _py_gopher_rep(_REP_DOCS[4][1])
    assert e5["dup5_char_frac"] > 0 and e5["dup6_char_frac"] == 0.0
    e6 = _py_gopher_rep(_REP_DOCS[5][1])
    assert e6["dup6_char_frac"] > 0  # periodic overlap counted once per pos
    assert _py_gopher_rep(_REP_DOCS[0][1])["passes"] == 1


# ---------------------------------------------------------------------------
# multi-language ID
# ---------------------------------------------------------------------------
def test_language_id_multi_vs_python(spark):
    from whitebox_tools_spark.operators.text import LANG_STOPWORDS, language_id_multi

    docs = [
        (1, "the cat sat on the mat and it is happy"),
        (2, "le chat dans la maison et les oiseaux sur le toit"),
        (3, "der hund und die katze mit ein buch ist da"),
        (4, "el perro y las aves en una casa que es grande"),
        (5, "zzz qqq www rrr"),                       # no stopwords -> unknown
        (6, ""),                                      # empty -> unknown
        # tie: 'la' is only in fr's list here, 'en' only in es's — craft a
        # genuine tie: one fr word + one es word + two fillers
        (7, "le el foo bar"),
    ]

    def py(textv):
        toks = textv.strip().split() if textv.strip() else []
        n = len(toks)
        r = {
            lang: (sum(1 for w in toks if w.lower() in ws) / n if n else 0.0)
            for lang, ws in LANG_STOPWORDS.items()
        }
        best = max(r.values())
        if best < 0.05:
            return r, "unknown"
        return r, sorted(k for k, v in r.items() if v == best)[0]

    out = {r["doc_id"]: r.asDict() for r in language_id_multi(
        spark.createDataFrame(docs, ["doc_id", "text"])).collect()}
    for did, textv in docs:
        r, pred = py(textv)
        assert out[did]["pred_lang"] == pred, (did, out[did], pred)
        for lang in r:
            assert out[did][f"ratio_{lang}"] == pytest.approx(round(r[lang], 6)), (did, lang)
    assert [out[i]["pred_lang"] for i in (1, 2, 3, 4, 5, 6)] == [
        "en", "fr", "de", "es", "unknown", "unknown",
    ]
    assert out[7]["pred_lang"] == "es"  # tie breaks alphabetically: es < fr
