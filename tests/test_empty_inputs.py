"""Empty-input hardening: every round-3 operator on a zero-row frame
returns an empty (or well-defined) result with the right schema — no
crashes on the empty partitions a real pipeline constantly produces."""

import pytest
from pyspark.sql import functions as F

from kelos_on_kafka_spark.operators import dedup, sampling, textstats
from kelos_on_kafka_spark.operators.temporal import (
    absence_matches,
    gap_tolerant_matches,
)
from tests.conftest import await_stream


@pytest.fixture()
def empty_docs(spark):
    return spark.createDataFrame(
        [], "doc_id long, text string, lang string, source string"
    )


@pytest.fixture()
def empty_events(spark):
    return spark.createDataFrame(
        [], "event_id long, user_id long, event_type string, ts timestamp"
    )


def test_text_ops_on_empty(spark, empty_docs):
    assert textstats.repetition_stats(empty_docs).count() == 0
    assert (
        textstats.contamination(empty_docs, empty_docs).count() == 0
    )
    assert textstats.top_terms_tfidf(empty_docs).count() == 0
    assert textstats.corpus_report(empty_docs).count() == 0


def test_dedup_ops_on_empty(spark, empty_docs):
    assert dedup.dedup_decisions(empty_docs).count() == 0
    assert dedup.simhash_near_dup_pairs(empty_docs, max_hamming=0).count() == 0


def test_temporal_ops_on_empty(spark, empty_events):
    assert (
        absence_matches(
            empty_events, "user_id", "ts", "event_type",
            "click", "purchase", 1_000_000, "event_id",
        ).count()
        == 0
    )
    assert (
        gap_tolerant_matches(
            empty_events, "user_id", "ts", "event_type",
            "click", "purchase", "view", 1_000_000, "event_id",
        ).count()
        == 0
    )


def test_sampling_ops_on_empty(spark):
    df = spark.createDataFrame([], "doc_id long, wt int")
    assert sampling.weighted_priority_sample(df, "doc_id", "wt", 5).count() == 0


def test_pq_on_empty(spark):
    from kelos_on_kafka_spark.operators.similarity import (
        md5_codebooks,
        pq_topk,
    )

    emb = spark.createDataFrame([], "vec_id long, embedding array<double>")
    books = md5_codebooks(seed=43, m=4, k_sub=8, subdim=16)
    assert pq_topk(emb, [0, 1], books, k=5).count() == 0


def test_round4_ops_on_empty(spark, empty_docs, empty_events):
    from kelos_on_kafka_spark.operators import semistruct, webtext
    from kelos_on_kafka_spark.operators.sampling import (
        weighted_stratified_cap,
    )
    from kelos_on_kafka_spark.operators.temporal import funnel_steps
    from kelos_on_kafka_spark.plans.maintenance import snapshot_diff

    docs_url = empty_docs.withColumn("url", F.lit("https://a.b/x"))
    assert webtext.domain_stats(docs_url).count() == 0
    assert webtext.domain_capped(docs_url).count() == 0
    assert dedup.span_fingerprints(empty_docs).count() == 0
    assert dedup.span_dedup_verdicts(empty_docs).count() == 0
    assert dedup.span_clean_docs(empty_docs).count() == 0
    assert textstats.normalized_dup_groups(empty_docs).count() == 0
    ev_props = empty_events.withColumn("props", F.lit("{}"))
    assert semistruct.props_stats(ev_props).count() == 0
    docs_wt = empty_docs.withColumn("wt", F.lit(1))
    assert (
        weighted_stratified_cap(docs_wt, ["lang"], "doc_id", "wt", 5).count()
        == 0
    )
    assert (
        funnel_steps(
            empty_events, "user_id", "ts", "event_type", ["A", "B"]
        ).count()
        == 0
    )
    assert snapshot_diff(empty_docs, empty_docs, ["doc_id"]).count() == 0


def test_stream_ann_on_empty_corpus(spark, tmp_path):
    """A probe stream against an EMPTY corpus yields no rows (and no
    crash) — the cross join simply produces nothing to rank."""
    import uuid

    from kelos_on_kafka_spark.streaming.ann_stream import stream_cosine_topk

    corpus = spark.createDataFrame([], "vec_id long, embedding array<float>")
    src = str(tmp_path / f"p_{uuid.uuid4().hex[:6]}")
    spark.createDataFrame(
        [(1, 1_700_000_000), (999, 1_700_040_000)], "probe_id long, sec long"
    ).select(
        "probe_id",
        F.timestamp_seconds("sec").alias("ts"),
        F.array(F.lit(1.0), F.lit(2.0)).cast("array<float>").alias("vec"),
    ).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(
        "probe_id long, ts timestamp, vec array<float>"
    ).parquet(src)
    name = f"e_{uuid.uuid4().hex[:8]}"
    q = (
        stream_cosine_topk(stream, corpus, k=3)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    await_stream(q, 60)
    assert spark.table(name).count() == 0
