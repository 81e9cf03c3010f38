"""Workload ``docs_near_dup``: the four shingle-join leaves of the driver
contract (``__spark_entry__.queries()``: ngram_jaccard, jaccard_prefix,
containment, edit_verify) over a seeded proxy corpus, each written to a
noop sink.  One timed action is the four-query set; each query's output
is checked against DuckDB running the same query's ``oracle_sql()``.

The corpus is learned from the sf0.1 documents the way
``BENCH/make_docs_sfx.py`` builds its proxy: token unigrams, document
lengths and languages are drawn from the marginals in
``docs_profile.json``, and exact duplicates are planted at one per 300
documents.  No KELOS code runs here."""

from __future__ import annotations

import json
import os
import time

import numpy as np

import harness as H

N_DOCS = 600
# one warm-up: a query set is most of a run
WARMUPS = 1
QUERIES = ("ngram_jaccard", "jaccard_prefix", "containment", "edit_verify")
PROFILE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "docs_profile.json")
SHINGLE_WORDS = 3
MAX_DOC_FREQ = 1000  # the df cap of ngram_jaccard_pairs / containment_pairs


def _corpus(seed: int, n: int):
    import pyarrow as pa

    with open(PROFILE) as f:
        prof = json.load(f)
    rng = np.random.default_rng(seed)

    def marginal(d):
        keys = list(d)
        p = np.array([d[k] for k in keys], dtype=float)
        return keys, p / p.sum()

    vocab, vp = marginal(prof["words"])
    lens, lp = marginal(prof["doc_lengths"])
    langs, gp = marginal(prof["langs"])
    doc_len = np.array(lens, dtype=np.int64)[rng.choice(len(lens), size=n, p=lp)]
    toks = np.array(vocab)[rng.choice(len(vocab), size=int(doc_len.sum()), p=vp)]
    bounds = np.concatenate([[0], np.cumsum(doc_len)])
    docs = [" ".join(toks[bounds[i]:bounds[i + 1]]) for i in range(n)]
    n_dup = max(n // 300, 2)
    for a, b in zip(rng.integers(0, n, n_dup), rng.integers(0, n, n_dup)):
        docs[a] = docs[b]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(docs),
            "lang": pa.array(np.array(langs)[rng.choice(len(langs), size=n, p=gp)]),
            "source": pa.array([f"src{i % prof['n_sources']}" for i in range(n)]),
            "n_chars": pa.array([len(d) for d in docs], pa.int64()),
        }
    )


def _df_bound(texts) -> int:
    """Sigma df*(df-1)/2 over the capped 3-word shingles: the pair rows an
    inverted-index self-join may enumerate."""
    df: dict[str, int] = {}
    for t in texts:
        w = t.split()
        for s in {" ".join(w[i:i + SHINGLE_WORDS]) for i in range(max(len(w) - 2, 1))}:
            if s:
                df[s] = df.get(s, 0) + 1
    return sum(d * (d - 1) // 2 for d in df.values() if d <= MAX_DOC_FREQ)


def prepare(spark, seed: int, seconds: float) -> tuple[dict, float]:
    """Generate (once per seed) the corpus and the DuckDB oracle
    fingerprints; returns (inputs, seconds spent generating now)."""
    d = H.input_dir("docs_near_dup", seed, N_DOCS)
    meta = os.path.join(d, "inputs.json")
    if os.path.exists(meta):
        with open(meta) as f:
            return json.load(f), 0.0
    import duckdb
    import pyarrow.parquet as pq

    import __spark_entry__ as E

    t0 = time.perf_counter()
    os.makedirs(d, exist_ok=True)
    table = _corpus(seed, N_DOCS)
    pq.write_table(table, os.path.join(d, "documents.parquet"))
    oracle = E.oracle_sql()
    con = duckdb.connect()
    con.execute(f"SET threads TO {H.nproc()}")
    con.execute(f"SET temp_directory = '{H.TMP}'")
    con.register("documents", table)
    expected = {}
    for q in QUERIES:
        pdf = con.execute(oracle[q]).df()
        cols = list(pdf.columns)
        pdf = pdf.astype("int64")
        fp = H.fingerprint(
            spark.createDataFrame(pdf, ", ".join(f"{c} long" for c in cols)), cols
        )
        expected[q] = {"cols": cols, "fp": fp}
    con.close()
    inputs = {
        "dir": d,
        "expected": expected,
        "df_bound_pairs": _df_bound(table.column("text").to_pylist()),
    }
    with open(meta, "w") as f:
        json.dump(inputs, f)
    return inputs, time.perf_counter() - t0


def _query(spark, inputs, name: str, tracer=None) -> tuple[float, bool]:
    import __spark_entry__ as E
    from pyspark.sql import functions as F

    exp = inputs["expected"][name]
    if tracer is not None:
        spark.sparkContext.setLocalProperty("perfbench.span", name)
    t0 = time.perf_counter()
    out = E.queries()[name](spark, inputs["dir"])
    df, obs = H.observed(out, [F.col(c).cast("long") for c in exp["cols"]])
    df.write.format("noop").mode("overwrite").save()
    dt = time.perf_counter() - t0
    return dt, H.read_fp(obs) == exp["fp"]


def _query_set(spark, inputs) -> tuple[float, bool]:
    t0 = time.perf_counter()
    ok = all([_query(spark, inputs, q)[1] for q in QUERIES])
    return time.perf_counter() - t0, ok


def warmup(spark, inputs) -> None:
    _query_set(spark, inputs)


def measure(spark, inputs, seconds: float, rss=None) -> dict:
    """Closed loop of four-query sets, back to back, for ``seconds``."""
    return H.closed_loop(
        lambda: _query_set(spark, inputs), seconds, N_DOCS, "docs_near_dup: query set"
    )


def trace(spark, inputs, tracer, reps: int = 1) -> dict:
    """Each query in its own span (median of ``reps``), its jobs tagged
    with the query name for the event log."""
    secs = {q: [] for q in QUERIES}
    for _ in range(reps):
        with tracer.span("query_set"):
            for q in QUERIES:
                with tracer.span(f"dedup.{q}") as sp:
                    _query(spark, inputs, q, tracer)
                secs[q].append(sp["end"] - sp["start"])
    spark.sparkContext.setLocalProperty("perfbench.span", None)
    return {"secs": {q: H.median(v) for q, v in secs.items()}, "inputs": inputs, "reps": reps}


def trace_metrics(traced: dict, log: H.EventLog) -> dict:
    secs, inputs, reps = traced["secs"], traced["inputs"], traced["reps"]

    def rows(span, pred):
        return sum(log.sql_metric(span, pred, "number of output rows")) / reps

    enumerated = rows(
        "ngram_jaccard", lambda node, s: "Join" in node and "shingle" in s
    )
    pair_keys = rows(
        "ngram_jaccard",
        lambda node, s: node == "HashAggregate" and "__pk" in s and "partial_" not in s,
    )
    result = inputs["expected"]["ngram_jaccard"]["fp"]["rows"]
    shuffle = sum(
        t["shuffle_bytes"] for q in QUERIES for s in log.stages(q) for t in log.tasks[s]
    ) / reps
    return {
        "dedup.ngram_jaccard_s": secs["ngram_jaccard"],
        "dedup.jaccard_prefix_s": secs["jaccard_prefix"],
        "dedup.containment_s": secs["containment"],
        "dedup.edit_verify_s": secs["edit_verify"],
        "dedup.enumerated_pairs": enumerated,
        "dedup.pair_keys": pair_keys,
        "dedup.result_pairs": result,
        "dedup.shuffle_bytes": shuffle,
        "dedup.useful_ratio": result / enumerated if enumerated else 0.0,
        "dedup.df_bound_pairs": inputs["df_bound_pairs"],
        "traced_e2e_s": sum(secs.values()),
    }
