"""kelos_on_kafka_spark — a PySpark-native streaming engine with the
query/data-processing capabilities of emanuel-metzenthin/KELOS-on-Kafka
(KDE-based local outlier detection over sliding stream windows), built
Spark-first: DataFrame/SQL plans, Arrow-vectorized grouped pandas stages
for the algorithmic core, Structured Streaming with watermarks and an
exactly-once idempotent sink.
"""

from kelos_on_kafka_spark import zipcache  # noqa: F401  (installs on import)
from kelos_on_kafka_spark.config import DEFAULT_CONFIG, KelosConfig

__all__ = [
    "DEFAULT_CONFIG",
    "KelosConfig",
    "detect_outliers",
    "detect_outliers_streamwise",
    "kelos_debug_tables",
    "kelos_stream",
    "write_outlier_stream",
    "featurize_pages",
    "get_spark",
    "stream_near_dup_pairs",
    "asof_join",
    "sequence_matches",
    "salted_join",
    "salted_topn",
    "hash_split",
    "stratified_cap",
    "deterministic_sample",
    "with_lineage",
    "record_stream_metrics",
    "upsert_partitioned",
    "compact_partitions",
    "dedup_decisions",
    "repetition_stats",
    "contamination",
    "top_terms_tfidf",
    "corpus_report",
    "weighted_priority_sample",
    "absence_matches",
    "gap_tolerant_matches",
    "funnel_steps",
    "normalize_text",
    "normalized_dup_groups",
    "filter_verdicts",
    "pq_topk",
    "train_pq_codebooks",
    "stream_bloom_dedup",
    "write_routed_stream",
    "expire_partitions",
    "snapshot_diff",
    "zorder_key",
    "write_zordered",
    "assign_session_ids",
    "url_host",
    "registered_domain",
    "domain_stats",
    "domain_capped",
    "span_fingerprints",
    "span_dedup_verdicts",
    "span_clean_docs",
    "weighted_stratified_cap",
    "stream_cosine_topk",
    "stream_ivf_topk",
    "stream_funnel",
    "stream_pane_sample",
    "props_stats",
    "parse_warc_segments",
    "warc_to_pages",
    "json_long",
    "image_phash",
    "ahash64",
    "hamming_near_dup_pairs",
    "rolling_stats",
    "cohort_retention",
    "pagerank_integer",
]
__version__ = "0.4.0"

_LAZY = {
    "stream_near_dup_pairs": ("kelos_on_kafka_spark.streaming.dedup_stream", None),
    "asof_join": ("kelos_on_kafka_spark.operators.temporal", None),
    "rolling_stats": ("kelos_on_kafka_spark.operators.temporal", None),
    "cohort_retention": ("kelos_on_kafka_spark.operators.webtext", None),
    "pagerank_integer": ("kelos_on_kafka_spark.operators.graph", None),
    "sequence_matches": ("kelos_on_kafka_spark.operators.temporal", None),
    "salted_join": ("kelos_on_kafka_spark.plans.skew", None),
    "salted_topn": ("kelos_on_kafka_spark.plans.skew", None),
    "hash_split": ("kelos_on_kafka_spark.operators.sampling", None),
    "stratified_cap": ("kelos_on_kafka_spark.operators.sampling", None),
    "deterministic_sample": ("kelos_on_kafka_spark.operators.sampling", None),
    "with_lineage": ("kelos_on_kafka_spark.plans.lineage", None),
    "record_stream_metrics": ("kelos_on_kafka_spark.plans.lineage", None),
    "upsert_partitioned": ("kelos_on_kafka_spark.plans.maintenance", None),
    "compact_partitions": ("kelos_on_kafka_spark.plans.maintenance", None),
    "dedup_decisions": ("kelos_on_kafka_spark.operators.dedup", None),
    "repetition_stats": ("kelos_on_kafka_spark.operators.textstats", None),
    "contamination": ("kelos_on_kafka_spark.operators.textstats", None),
    "top_terms_tfidf": ("kelos_on_kafka_spark.operators.textstats", None),
    "corpus_report": ("kelos_on_kafka_spark.operators.textstats", None),
    "weighted_priority_sample": ("kelos_on_kafka_spark.operators.sampling", None),
    "absence_matches": ("kelos_on_kafka_spark.operators.temporal", None),
    "gap_tolerant_matches": ("kelos_on_kafka_spark.operators.temporal", None),
    "funnel_steps": ("kelos_on_kafka_spark.operators.temporal", None),
    "normalize_text": ("kelos_on_kafka_spark.operators.textstats", None),
    "normalized_dup_groups": ("kelos_on_kafka_spark.operators.textstats", None),
    "filter_verdicts": ("kelos_on_kafka_spark.operators.textstats", None),
    "pq_topk": ("kelos_on_kafka_spark.operators.similarity", None),
    "train_pq_codebooks": ("kelos_on_kafka_spark.operators.similarity", None),
    "stream_bloom_dedup": ("kelos_on_kafka_spark.streaming.bloom_dedup", None),
    "write_routed_stream": ("kelos_on_kafka_spark.streaming.sink", None),
    "expire_partitions": ("kelos_on_kafka_spark.plans.maintenance", None),
    "snapshot_diff": ("kelos_on_kafka_spark.plans.maintenance", None),
    "zorder_key": ("kelos_on_kafka_spark.plans.layout", None),
    "write_zordered": ("kelos_on_kafka_spark.plans.layout", None),
    "assign_session_ids": ("kelos_on_kafka_spark.operators.windowing", None),
    "url_host": ("kelos_on_kafka_spark.operators.webtext", None),
    "registered_domain": ("kelos_on_kafka_spark.operators.webtext", None),
    "domain_stats": ("kelos_on_kafka_spark.operators.webtext", None),
    "domain_capped": ("kelos_on_kafka_spark.operators.webtext", None),
    "span_fingerprints": ("kelos_on_kafka_spark.operators.dedup", None),
    "span_dedup_verdicts": ("kelos_on_kafka_spark.operators.dedup", None),
    "span_clean_docs": ("kelos_on_kafka_spark.operators.dedup", None),
    "weighted_stratified_cap": ("kelos_on_kafka_spark.operators.sampling", None),
    "stream_cosine_topk": ("kelos_on_kafka_spark.streaming.ann_stream", None),
    "stream_ivf_topk": ("kelos_on_kafka_spark.streaming.ann_stream", None),
    "stream_funnel": ("kelos_on_kafka_spark.streaming.funnel_stream", None),
    "stream_pane_sample": ("kelos_on_kafka_spark.streaming.sample_stream", None),
    "props_stats": ("kelos_on_kafka_spark.operators.semistruct", None),
    "parse_warc_segments": ("kelos_on_kafka_spark.sources.warc", None),
    "warc_to_pages": ("kelos_on_kafka_spark.sources.warc", None),
    "json_long": ("kelos_on_kafka_spark.operators.semistruct", None),
    "image_phash": ("kelos_on_kafka_spark.operators.multimodal", None),
    "ahash64": ("kelos_on_kafka_spark.operators.multimodal", None),
    "hamming_near_dup_pairs": ("kelos_on_kafka_spark.operators.dedup", None),
}


def __getattr__(name):
    """Lazy top-level exports (keeps `import kelos_on_kafka_spark` cheap —
    the heavy pyspark imports happen on first use)."""
    if name in ("detect_outliers", "detect_outliers_streamwise", "kelos_debug_tables"):
        from kelos_on_kafka_spark.operators import kelos_batch

        return getattr(kelos_batch, name)
    if name == "kelos_stream":
        from kelos_on_kafka_spark.streaming.engine import kelos_stream

        return kelos_stream
    if name == "write_outlier_stream":
        from kelos_on_kafka_spark.streaming.sink import write_outlier_stream

        return write_outlier_stream
    if name == "featurize_pages":
        from kelos_on_kafka_spark.functions.features import featurize_pages

        return featurize_pages
    if name == "get_spark":
        from kelos_on_kafka_spark.plans.session import get_spark

        return get_spark
    if name in _LAZY:
        import importlib

        mod = importlib.import_module(_LAZY[name][0])
        return getattr(mod, name)
    raise AttributeError(name)
