"""Vectorized per-page feature extraction — Arrow/pandas UDFs only, no
per-row Python (BASELINE.json input_hint).

Replaces the reference's "CSV row = feature vector" assumption
(InputProducer.java:50-61) with a deterministic map from Common-Crawl
style pages ``(url, warc_ts, html, text, lang)`` to d=4 numeric vectors.
d stays < 8 so NumPy's sequential summation keeps float-op order parity
with the scalar kernel (see core.py module docstring).

Determinism contract (north_star): a page's features are a pure function
of its text and html — identical per url across runs and parallelism
levels, verified in tests/test_features.py.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType


_WS_TABLE = np.zeros(256, dtype=bool)
_WS_TABLE[[9, 10, 11, 12, 13, 32]] = True  # ASCII whitespace


def _batch_char_counts(texts: pd.Series):
    """Vectorized per-row (digit chars, non-space CHARS, token count) via
    one byte-level scan of the whole batch: rows are joined with a single
    space (plus a leading one), boolean masks are cumsum'ed once, and
    per-row counts come from offset differences.  ~10x faster than
    pandas ``str.count`` (regex findall per row).

    The counting contract is CHARACTER-based and matches the Catalyst
    featurizer exactly: non-space chars = non-space bytes minus UTF-8
    continuation bytes (0x80-0xBF, which are never ASCII whitespace and
    never digits), so multi-byte characters count once — identical to
    ``length(regexp_replace(t, '\\s', ''))``.  Whitespace is ASCII
    whitespace (Java regex ``\\s``); tokens are maximal non-whitespace
    runs, identical to ``filter(split(t, '\\s+'), x -> x != '')``."""
    bs = [s.encode("utf-8") for s in texts]
    n = len(bs)
    if n == 0:
        z = np.zeros(0)
        return z, z, z
    lens = np.fromiter((len(b) for b in bs), dtype=np.int64, count=n)
    buf = np.frombuffer(b" " + b" ".join(bs) + b" ", dtype=np.uint8)
    starts = np.zeros(n, dtype=np.int64)
    starts[1:] = np.cumsum(lens[:-1] + 1)
    starts += 1  # the leading space
    ends = starts + lens

    digit = (buf >= 48) & (buf <= 57)
    ws = _WS_TABLE[buf]
    continuation = (buf & 0xC0) == 0x80
    nonspace_char = ~ws & ~continuation
    prev_ws = np.empty_like(ws)
    prev_ws[0] = True
    prev_ws[1:] = ws[:-1]
    token_start = ~ws & prev_ws

    idx = np.empty(2 * n, dtype=np.int64)
    idx[0::2] = starts
    idx[1::2] = ends
    empty = lens == 0

    def _per_row(mask):
        c = np.add.reduceat(mask.view(np.int8), idx, dtype=np.int64)[0::2]
        c[empty] = 0  # reduceat yields a[i] for empty segments
        return c.astype(np.float64)

    return _per_row(digit), _per_row(nonspace_char), _per_row(token_start)


def _batch_pattern_counts(html: pd.Series, pat: bytes = b"<a ") -> np.ndarray:
    """Per-row occurrence count of a short byte pattern via C-level
    ``bytes.count`` — reads each row once with zero allocations, which
    beats a vectorized joined-buffer scan here: html is the big column
    and building match masks over it is pure memory-bandwidth waste."""
    return np.fromiter(
        (
            (
                b if isinstance(b, (bytes, bytearray)) else str(b or "").encode()
            ).count(pat)
            for b in html
        ),
        dtype=np.float64,
        count=len(html),
    )


def page_features_pandas(
    text: pd.Series, html: pd.Series | None = None
) -> pd.Series:
    """Compute the d=4 feature vector for a batch of pages.

    All arithmetic is float64 and scale-fixed (no data-dependent
    normalization) so the same page always maps to the same vector in
    batch and streaming.  Scales are chosen so same-kind pages fall
    within the reference's 0.25 clustering radius.
    """
    t = text.fillna("")
    n_chars = t.str.len().to_numpy(dtype=np.float64)
    safe = np.maximum(n_chars, 1.0)

    # sqrt, not log10: sqrt is correctly rounded per IEEE754 in both
    # numpy and the JVM, so the two featurizer implementations stay
    # bit-identical (log10 differs by 1 ULP between libms)
    f1 = np.sqrt(1.0 + n_chars) / 60.0

    if html is not None:
        anchors = _batch_pattern_counts(html)
    else:
        anchors = np.zeros(len(t))
    f2 = np.minimum(anchors / (1.0 + n_chars / 1024.0), 20.0) / 10.0

    digits, n_nonspace, n_words = _batch_char_counts(t)
    f3 = (digits / safe) * 10.0 / 4.0

    with np.errstate(invalid="ignore", divide="ignore"):
        mean_wl = np.where(n_words > 0, n_nonspace / np.maximum(n_words, 1.0), 0.0)
    f4 = np.fmin(mean_wl, 20.0) / 10.0

    mat = np.column_stack([f1, f2, f3, f4])
    return pd.Series([list(row) for row in mat])


# Spark-facing UDFs (Arrow-batched).  pandas_udf infers types from the
# signature, so each wrapper has a plain (pd.Series, ...) signature.


@F.pandas_udf(ArrayType(DoubleType()))
def page_features_with_html(text: pd.Series, html: pd.Series) -> pd.Series:
    return page_features_pandas(text, html)


@F.pandas_udf(ArrayType(DoubleType()))
def page_features_text_only(text: pd.Series) -> pd.Series:
    return page_features_pandas(text, None)


def doc_features_pandas(text: pd.Series) -> pd.Series:
    """d=4 features for plain-text documents (no html), chosen so every
    dimension varies on natural text — a constant dimension would make
    the KDE bandwidth collapse to 0 and the reference semantics then
    yield NaN densities (GaussianKernel with h=0):
    [log10(1+chars)/2, mean_token_len/10, type_token_ratio, hapax_ratio].

    Fully batch-vectorized: one explode of the batch's tokens (Python
    ``str.split()`` semantics via pandas), one ``pd.factorize`` over ALL
    tokens (C hash table), then bincount/unique over integer keys for
    per-row token/type/hapax counts — token ``len()`` is called only
    once per DISTINCT token in the batch.  No per-row Python loop.
    """
    t = text.fillna("").reset_index(drop=True).astype(str)
    n_rows = len(t)
    nc = t.str.len().to_numpy(dtype=np.float64)

    ex = t.str.split().explode()
    mask = ex.notna().to_numpy()
    rows = ex.index.to_numpy()[mask].astype(np.int64)
    toks = ex.to_numpy()[mask]

    n_tok = np.bincount(rows, minlength=n_rows).astype(np.float64)
    if len(toks):
        codes, uniq = pd.factorize(toks)
        ulen = np.fromiter(
            (len(u) for u in uniq), dtype=np.float64, count=len(uniq)
        )
        sum_len = np.bincount(rows, weights=ulen[codes], minlength=n_rows)
        # per-(row, token-type) occurrence counts via one integer unique
        key = rows * np.int64(len(uniq)) + codes
        ukey, kcounts = np.unique(key, return_counts=True)
        urow = (ukey // np.int64(len(uniq))).astype(np.int64)
        n_uniq = np.bincount(urow, minlength=n_rows).astype(np.float64)
        n_hapax = np.bincount(
            urow[kcounts == 1], minlength=n_rows
        ).astype(np.float64)
    else:
        sum_len = np.zeros(n_rows)
        n_uniq = np.zeros(n_rows)
        n_hapax = np.zeros(n_rows)

    safe_n = np.maximum(n_tok, 1.0)
    has = n_tok > 0
    mwl = np.where(has, sum_len / safe_n, 0.0)
    ttr = np.where(has, n_uniq / safe_n, 0.0)
    hapax = np.where(has, n_hapax / safe_n, 0.0)

    mat = np.column_stack(
        [np.log10(1.0 + nc) / 2.0, mwl / 10.0, ttr, hapax]
    )
    return pd.Series([list(row) for row in mat])


@F.pandas_udf(ArrayType(DoubleType()))
def doc_features(text: pd.Series) -> pd.Series:
    return doc_features_pandas(text)


def featurize_pages(
    df,
    text_col: str = "text",
    html_col: str | None = "html",
    jvm: bool = False,
):
    """pages(url, warc_ts, html, text, lang) -> + features array<double>.

    Two equivalent implementations producing bit-identical vectors
    (asserted in tests):

    - ``jvm=False`` (default): Arrow-batched pandas UDF with vectorized
      byte-level counters — measured ~2.5x faster than the JVM variant
      (Java regex per row loses to batched byte scans).
    - ``jvm=True``: pure Catalyst expressions, zero Python workers —
      useful when Python worker capacity is the constrained resource.
    """
    if jvm:
        return df.withColumn(
            "features", _features_expr(text_col, html_col if html_col in df.columns else None)
        )
    if html_col is not None and html_col in df.columns:
        feats = page_features_with_html(F.col(text_col), F.col(html_col))
    else:
        feats = page_features_text_only(F.col(text_col))
    return df.withColumn("features", feats)


def _features_expr(text_col: str, html_col: str | None):
    """Catalyst-only feature vector, numerically identical to
    ``page_features_pandas`` (same float-op order per element; Java and
    NumPy both use IEEE754 doubles and the same log10/min semantics)."""
    t = F.col(text_col)
    n_chars = F.length(t).cast("double")
    safe = F.greatest(n_chars, F.lit(1.0))

    f1 = F.sqrt(F.lit(1.0) + n_chars) / 60.0

    if html_col is not None:
        # count of "<a " occurrences: split on the literal (regex-quoted)
        html_str = F.coalesce(F.decode(F.col(html_col), "UTF-8"), F.lit(""))
        anchors = (F.size(F.split(html_str, r"\Q<a \E")) - 1).cast("double")
    else:
        anchors = F.lit(0.0)
    f2 = F.least(anchors / (F.lit(1.0) + n_chars / 1024.0), F.lit(20.0)) / 10.0

    digits = F.length(F.regexp_replace(t, "[^0-9]", "")).cast("double")
    f3 = digits / safe * 10.0 / 4.0

    # maximal non-whitespace runs: split keeps empty strings at
    # whitespace-adjacent edges (tabs/newlines survive trim), so filter
    # them out — exactly the byte tokenizer's token-start count
    n_words = F.size(
        F.filter(F.split(t, r"\s+"), lambda x: x != "")
    ).cast("double")
    n_nonspace = F.length(F.regexp_replace(t, r"\s", "")).cast("double")
    mean_wl = F.when(
        n_words > 0, n_nonspace / F.greatest(n_words, F.lit(1.0))
    ).otherwise(F.lit(0.0))
    f4 = F.least(mean_wl, F.lit(20.0)) / 10.0

    return F.array(f1, f2, f3, f4)
