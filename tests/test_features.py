"""Feature extraction: determinism per url, d=4, anomaly separation
(SURVEY.md §5 invariant test)."""

import numpy as np
import pandas as pd

from kelos_on_kafka_spark.functions.features import (
    doc_features_pandas,
    featurize_pages,
    page_features_pandas,
)
from kelos_on_kafka_spark.sources.pages import synth_pages, to_spark_pages

EDGE_TEXTS = [
    "héllo wörld",               # multi-byte chars: bytes != chars
    "\thello\tworld\n",          # tab/newline edges survive trim()
    "  a  b ",                   # repeated spaces
    "",                          # empty
    " \t\n ",                    # whitespace-only
    "naïve café — ünïcode 123",  # mixed multi-byte + digits
    "🙂 emoji 🙂🙂",             # 4-byte chars
    "plain ascii words 42",
    "trailing space ",
    "\nleading",
]


def test_generator_is_deterministic_per_url():
    a = synth_pages(n=200, seed=5)
    b = synth_pages(n=200, seed=5)
    assert (a["url"] == b["url"]).all()
    assert (a["text"] == b["text"]).all()
    assert all(x == y for x, y in zip(a["html"], b["html"]))


def test_features_dim_and_determinism():
    pdf = synth_pages(n=100, seed=3)
    f1 = page_features_pandas(pdf["text"], pdf["html"].apply(bytes.decode))
    f2 = page_features_pandas(pdf["text"], pdf["html"].apply(bytes.decode))
    assert all(len(v) == 4 for v in f1)
    assert all(tuple(x) == tuple(y) for x, y in zip(f1, f2))


def test_anomalies_separate_in_feature_space():
    pdf = synth_pages(n=2000, seed=11, anomaly_rate=0.02)
    feats = np.array(
        list(page_features_pandas(pdf["text"], pdf["html"]))
    )
    kinds = pdf["kind"].to_numpy()
    normal = feats[(kinds == "article") | (kinds == "listing") | (kinds == "stub")]
    farm = feats[kinds == "linkfarm"]
    garbage = feats[kinds == "garbage"]
    assert len(farm) and len(garbage)
    centroid = normal.mean(axis=0)
    d_norm = np.linalg.norm(normal - centroid, axis=1)
    d_farm = np.linalg.norm(farm - centroid, axis=1)
    d_garb = np.linalg.norm(garbage - centroid, axis=1)
    # planted anomalies sit far outside the bulk
    assert d_farm.min() > np.quantile(d_norm, 0.99)
    assert d_garb.min() > np.quantile(d_norm, 0.99)


def test_jvm_featurizer_matches_pandas_featurizer(spark):
    pdf = synth_pages(n=400, seed=17)
    sdf = to_spark_pages(spark, pdf)
    a = (
        featurize_pages(sdf, jvm=True)
        .select("url", "features")
        .orderBy("url")
        .collect()
    )
    b = (
        featurize_pages(sdf, jvm=False)
        .select("url", "features")
        .orderBy("url")
        .collect()
    )
    for ra, rb in zip(a, b):
        assert tuple(ra.features) == tuple(rb.features), ra.url
    # JVM variant has no Python stage in the plan
    plan = (
        featurize_pages(sdf, jvm=True)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "ArrowEvalPython" not in plan


def test_featurizer_parity_on_edge_texts(spark):
    """JVM and Arrow featurizers agree on non-ASCII and whitespace-edged
    text, not just single-space ASCII: the counting contract is
    character-based with empty tokens dropped in BOTH paths."""
    pdf = pd.DataFrame(
        {"url": [f"u{i}" for i in range(len(EDGE_TEXTS))], "text": EDGE_TEXTS}
    )
    sdf = spark.createDataFrame(pdf)
    a = (
        featurize_pages(sdf, html_col=None, jvm=True)
        .select("url", "features")
        .orderBy("url")
        .collect()
    )
    b = (
        featurize_pages(sdf, html_col=None, jvm=False)
        .select("url", "features")
        .orderBy("url")
        .collect()
    )
    for ra, rb in zip(a, b):
        assert tuple(ra.features) == tuple(rb.features), (
            ra.url,
            ra.features,
            rb.features,
        )


def _doc_features_reference(text: pd.Series) -> pd.Series:
    """Original per-row implementation, kept as the parity oracle for the
    vectorized doc_features_pandas."""
    out = np.empty((len(text), 4), dtype=np.float64)
    for i, s in enumerate(text.fillna("")):
        toks = s.split()
        n = len(toks)
        nc = len(s)
        if n:
            uniq, counts = np.unique(
                np.array(toks, dtype=object), return_counts=True
            )
            ttr = len(uniq) / n
            hapax = float((counts == 1).sum()) / n
            mwl = sum(map(len, toks)) / n
        else:
            ttr = hapax = mwl = 0.0
        out[i, 0] = np.log10(1.0 + nc) / 2.0
        out[i, 1] = mwl / 10.0
        out[i, 2] = ttr
        out[i, 3] = hapax
    return pd.Series([list(row) for row in out])


def test_doc_features_vectorized_matches_reference():
    texts = EDGE_TEXTS + [
        "the the the the",                 # all-duplicate tokens
        "one two three four five",         # all-hapax
        "a a b b c",                        # mixed counts
        "x",                                # single token
    ]
    pdf = synth_pages(n=300, seed=23)
    series = pd.concat(
        [pd.Series(texts), pdf["text"]], ignore_index=True
    )
    got = doc_features_pandas(series)
    want = _doc_features_reference(series)
    for i, (g, w) in enumerate(zip(got, want)):
        assert tuple(g) == tuple(w), (i, series[i], g, w)


def test_spark_featurize_matches_local_and_is_order_stable(spark):
    pdf = synth_pages(n=300, seed=9)
    sdf = to_spark_pages(spark, pdf)
    out = (
        featurize_pages(sdf)
        .select("url", "features")
        .orderBy("url")
        .collect()
    )
    # local reference computation
    local = page_features_pandas(pdf["text"], pdf["html"])
    by_url = dict(zip(pdf["url"], local))
    for row in out:
        assert tuple(row.features) == tuple(by_url[row.url]), row.url
    # parallelism independence: 1 partition vs 8 partitions
    out8 = (
        featurize_pages(sdf.repartition(8))
        .select("url", "features")
        .orderBy("url")
        .collect()
    )
    assert [tuple(r.features) for r in out] == [
        tuple(r.features) for r in out8
    ]
