"""Unit semantics for PII redaction, TF-IDF, and unigram surprisal —
planted inputs with hand-computed expectations (the synthetic corpus
contains no PII, so the catalog query alone would not exercise the
replacement paths)."""

from __future__ import annotations

import math

from themis_tritonsort_spark.operators.pii import redact_pii
from themis_tritonsort_spark.operators.sampling import split_assign
from themis_tritonsort_spark.operators.textstats import (
    tf_idf_topk,
    unigram_surprisal,
)


def test_redact_pii_planted(spark):
    df = spark.createDataFrame(
        [
            (1, "mail bob.smith+x@corp.example.com now"),
            (2, "host 192.168.0.1 ssn 123-45-6789"),
            (3, "call 555-867-5309 or 555.867.5309"),
            (4, "clean text only"),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in redact_pii(df, "text").collect()}
    assert out[1]["n_email"] == 1 and out[1]["text"] == "mail <EMAIL> now"
    assert out[2]["n_ipv4"] == 1 and out[2]["n_ssn"] == 1
    assert out[2]["text"] == "host <IP> ssn <SSN>"
    assert out[3]["n_phone"] == 2
    assert out[3]["text"] == "call <PHONE> or <PHONE>"
    assert out[4]["text"] == "clean text only"
    assert all(
        out[4][c] == 0 for c in ("n_email", "n_ipv4", "n_ssn", "n_phone")
    )


def test_split_assign_total_and_valid(spark):
    df = spark.createDataFrame([(i,) for i in range(200)], ["doc_id"])
    splits = [("train", 0.9), ("validation", 0.05), ("test", 0.05)]
    rows = split_assign(df, "doc_id", splits).collect()
    assert len(rows) == 200  # every row assigned, none dropped
    by = {}
    for r in rows:
        by.setdefault(r["split"], set()).add(r["doc_id"])
    assert set(by) <= {"train", "validation", "test"}
    # deterministic: rerun gives the identical assignment
    again = {
        r["doc_id"]: r["split"]
        for r in split_assign(df, "doc_id", splits).collect()
    }
    assert all(again[i] == s for s, ids in by.items() for i in ids)
    # train dominates at these fractions
    assert len(by["train"]) > 150


def test_tf_idf_topk_hand_computed(spark):
    # 2 docs; "rare" only in doc 1: idf_scaled = 2*1e6 // 1 = 2e6.
    # "common" in both: idf_scaled = 2*1e6 // 2 = 1e6.
    df = spark.createDataFrame(
        [(1, "rare common common"), (2, "common common common")],
        ["doc_id", "text"],
    )
    out = {
        (r["doc_id"], r["word"]): r
        for r in tf_idf_topk(df, "doc_id", "text", 2).collect()
    }
    assert out[(1, "rare")]["tfidf"] == 1 * 2_000_000
    assert out[(1, "common")]["tfidf"] == 2 * 1_000_000
    assert out[(2, "common")]["tfidf"] == 3 * 1_000_000
    assert len(out) == 3


def test_dedup_spans_keep_first(spark):
    from themis_tritonsort_spark.operators.textstats import dedup_spans

    # span size 2; "a b" appears in doc 1 (twice) and doc 2 — only the
    # doc-1 position-0 copy survives.
    df = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b x y"), (3, "z z")], ["doc_id", "text"]
    )
    out = {
        r["doc_id"]: r
        for r in dedup_spans(df, "doc_id", "text", span_tokens=2).collect()
    }
    assert out[1]["n_spans"] == 2 and out[1]["n_kept"] == 1
    assert out[1]["dedup_text"] == "a b"
    assert out[2]["n_spans"] == 2 and out[2]["n_kept"] == 1
    assert out[2]["dedup_text"] == "x y"
    assert out[3]["n_kept"] == 1 and out[3]["dedup_text"] == "z z"


def test_dedup_spans_fully_duplicated_doc_survives_empty(spark):
    from themis_tritonsort_spark.operators.textstats import dedup_spans

    df = spark.createDataFrame([(1, "a b"), (2, "a b")], ["doc_id", "text"])
    out = {
        r["doc_id"]: r
        for r in dedup_spans(df, "doc_id", "text", span_tokens=2).collect()
    }
    assert out[2]["n_kept"] == 0 and out[2]["dedup_text"] == ""


def test_blocklist_filter_drops_hit_docs(spark):
    from themis_tritonsort_spark.operators.pii import blocklist_filter

    df = spark.createDataFrame(
        [
            (1, "visit badsite today"),
            (2, "plain benign prose"),
            (3, "short ok"),  # no >=6-letter target at all
        ],
        ["doc_id", "text"],
    )
    blocked = spark.createDataFrame([("badsite",), ("malware",)], ["target"])
    kept = sorted(
        r["doc_id"]
        for r in blocklist_filter(df, "doc_id", "text", blocked).collect()
    )
    assert kept == [2, 3]
    # non-broadcast fallback gives the identical result
    kept2 = sorted(
        r["doc_id"]
        for r in blocklist_filter(
            df, "doc_id", "text", blocked, broadcast_hits=False
        ).collect()
    )
    assert kept2 == [2, 3]


def test_unigram_surprisal_hand_computed(spark):
    # corpus: a a a b  -> P(a)=3/4, P(b)=1/4
    df = spark.createDataFrame([(1, "a a a"), (2, "b")], ["doc_id", "text"])
    s_a = round(-1_000_000 * math.log(3 / 4))
    s_b = round(-1_000_000 * math.log(1 / 4))
    out = {
        r["doc_id"]: r for r in unigram_surprisal(df, "doc_id", "text").collect()
    }
    assert out[1]["n_tokens"] == 3 and out[1]["nll_micronat"] == 3 * s_a
    assert out[1]["mean_micronat"] == s_a
    assert out[2]["n_tokens"] == 1 and out[2]["nll_micronat"] == s_b


def test_cooccurrence_pmi_hand_computed(spark):
    import math

    from themis_tritonsort_spark.operators.textstats import cooccurrence_pmi

    # 4 docs: {a,b} x2, {a} x1, {b} x1 -> n_a=3, n_b=3, n_ab=2, N=4
    df = spark.createDataFrame(
        [(1, "a b"), (2, "b a a"), (3, "a"), (4, "b")], ["doc_id", "text"]
    )
    out = cooccurrence_pmi(df, "doc_id", "text").collect()
    assert len(out) == 1
    r = out[0]
    assert (r["w1"], r["w2"], r["n_ab"]) == ("a", "b", 2)
    assert r["pmi_micronat"] == round(1_000_000 * math.log(2 * 4 / (3 * 3)))


def test_compression_ratio_signal(spark):
    """zlib compressibility: stdlib-reference parity per row, the
    semantic ordering (repetitive text compresses harder than
    high-entropy text), the empty-text convention, and determinism."""
    import zlib

    from themis_tritonsort_spark.operators.textstats import compression_ratio

    rows = [
        (1, "spam " * 200),  # highly repetitive
        # aperiodic high-entropy text: concatenated md5 hex digests
        (2, "".join(
            __import__("hashlib").md5(str(i).encode()).hexdigest()
            for i in range(40)
        )),
        (3, ""),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["id"]: r for r in compression_ratio(df, "doc_id", "text").collect()}
    for i, text in rows:
        raw = (text or "").encode()
        comp = zlib.compress(raw, 6)
        assert got[i]["raw_len"] == len(raw)
        assert got[i]["compressed_len"] == len(comp)
        expect = round(1_000_000 * len(comp) / len(raw)) if raw else 1_000_000
        assert got[i]["ratio_ppm"] == expect
    assert got[1]["ratio_ppm"] < got[2]["ratio_ppm"] / 2  # spam compresses
    assert got[3]["ratio_ppm"] == 1_000_000 == got[4]["ratio_ppm"]
    again = {
        r["id"]: r["ratio_ppm"]
        for r in compression_ratio(df, "doc_id", "text").collect()
    }
    assert again == {i: r["ratio_ppm"] for i, r in got.items()}
