"""Pretraining-pipeline text operators (operators/textstats.py):
repetition signals, benchmark decontamination, TF-IDF top terms."""

import math

import pytest
from pyspark.sql import functions as F

from kelos_on_kafka_spark.operators import textstats
from tests.conftest import await_stream


def test_repetition_stats_flags_planted_repeats(spark):
    docs = spark.createDataFrame(
        [
            (1, "spam spam spam spam spam spam ham"),    # mode-heavy
            (2, "one two three four five six seven"),     # clean
            (3, "a b c a b c a b c a b c"),               # dup trigrams
            (4, ""),                                      # empty
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: r.asDict()
        for r in textstats.repetition_stats(docs).collect()
    }
    assert got[1]["n_tok"] == 7 and got[1]["top_tok_n"] == 6
    assert got[1]["repetitive"]  # 5*6 > 7
    assert got[2]["n_distinct_tok"] == 7 and not got[2]["repetitive"]
    # doc 3: 10 trigrams, 3 distinct ("a b c","b c a","c a b")
    assert got[3]["n_ngrams"] == 10 and got[3]["n_distinct_ngrams"] == 3
    assert got[3]["repetitive"]
    assert got[4]["n_tok"] == 0 and not got[4]["repetitive"]


def test_contamination_counts_shared_trigrams(spark):
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps high"),
            (2, "totally unrelated words only here"),
        ],
        "doc_id long, text string",
    )
    probes = spark.createDataFrame(
        [(100, "what does the quick brown fox say")],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.n_contaminated, r.contaminated)
        for r in textstats.contamination(docs, probes).collect()
    }
    # shared trigrams: "the quick brown", "quick brown fox"
    assert got[1] == (2, True)
    assert got[2] == (0, False)


def test_top_terms_ranking_and_score(spark):
    docs = spark.createDataFrame(
        [
            (1, "apple apple apple banana"),
            (2, "banana banana cherry"),
            (3, "cherry date date date"),
        ],
        "doc_id long, text string",
    )
    out = textstats.top_terms_tfidf(docs, k=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    r1 = sorted(by_doc[1], key=lambda r: r.rank)
    # doc 1: apple tf=3 df=1 beats banana tf=1 df=2
    assert [r.term for r in r1] == ["apple", "banana"]
    assert (r1[0].tf, r1[0].doc_freq) == (3, 1)
    assert r1[0].tfidf == pytest.approx(3 * math.log(3 / 1), rel=1e-12)
    # deterministic under repartitioning
    again = textstats.top_terms_tfidf(docs.repartition(5), k=2).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, out))


def test_text_ops_unify_batch_and_stream(spark, tmp_path):
    """The stateless text operators run unchanged on a STREAMING
    DataFrame (batch/stream unification: same code, same results) —
    repetition_stats on a file stream equals the batch run."""
    import uuid

    docs = spark.createDataFrame(
        [
            (1, "spam spam spam spam spam spam ham"),
            (2, "one two three four five six seven"),
            (3, "a b c a b c a b c a b c"),
        ],
        "doc_id long, text string",
    )
    src = str(tmp_path / "src")
    docs.write.parquet(src)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    name = f"tops_{uuid.uuid4().hex[:12]}"
    q = (
        textstats.repetition_stats(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    await_stream(q, 120)
    got = sorted(map(tuple, spark.table(name).collect()))
    want = sorted(map(tuple, textstats.repetition_stats(docs).collect()))
    assert got == want


# --- property: repetition_stats equals a pure-Python reference ---------

import re as _re

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


def _py_repetition(text, n=3):
    t = text.strip()
    toks = _re.split(r"\s+", t, flags=_re.ASCII) if t else []
    n_tok = len(toks) if t else 0
    n_distinct = len(set(toks)) if t else 0
    grams = []
    split = _re.split(r"\s+", t, flags=_re.ASCII)
    for i in range(max(len(split) - n, 0) + 1):
        g = " ".join(split[i : i + n])
        if g != "":
            grams.append(g)
    clean = [x for x in toks if x != ""]
    top = max((clean.count(x) for x in set(clean)), default=0)
    return (
        n_tok,
        n_distinct,
        top,
        len(grams),
        len(set(grams)),
        5 * top > n_tok or 2 * len(set(grams)) < len(grams),
    )


TOKENS = st.lists(
    st.sampled_from(["a", "b", "ab", "ba", "x1", "zzz", "a", "b"]),
    min_size=0,
    max_size=12,
)
WS = st.sampled_from([" ", "  ", "\t", " \t "])


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(tokses=st.lists(TOKENS, min_size=1, max_size=5), ws=WS)
def test_repetition_stats_matches_python_reference(spark, tokses, ws):
    texts = [ws.join(toks) for toks in tokses]
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = {
        r.doc_id: (
            r.n_tok,
            r.n_distinct_tok,
            r.top_tok_n,
            r.n_ngrams,
            r.n_distinct_ngrams,
            r.repetitive,
        )
        for r in textstats.repetition_stats(docs).collect()
    }
    for i, text in enumerate(texts):
        assert got[i] == _py_repetition(text), repr(text)


def test_normalize_text_and_normalized_dups(spark):
    from kelos_on_kafka_spark.operators import textstats

    rows = [
        (1, "Hello,  World!"),
        (2, "hello world"),          # same after normalization
        (3, "HELLO\tWORLD "),        # same after normalization
        (4, "hello worlds"),         # different
        (5, "hello, world?"),        # same after punct strip
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    norm = {
        r.doc_id: r.n
        for r in df.select(
            "doc_id", textstats.normalize_text().alias("n")
        ).collect()
    }
    assert norm[1] == norm[2] == norm[3] == norm[5] == "hello world"
    assert norm[4] == "hello worlds"
    got = {
        r.doc_id: (r.keeper_id, r.n_variants)
        for r in textstats.normalized_dup_groups(df).collect()
    }
    assert got[1] == (1, 4) and got[2] == (1, 4)
    assert got[3] == (1, 4) and got[5] == (1, 4)
    assert got[4] == (4, 1)
