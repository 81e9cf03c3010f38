"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship KELOS windowed top-N outlier query on
/root/testdata/sf0.001.  ``queries()`` exposes one callable per
implemented operator surface (SURVEY.md §2 + the training-data-pipeline
operators); ``oracle_sql()`` gives the DuckDB-equivalent ANSI SQL for
every relationally-expressible query.  The KELOS pipeline itself is a
stateful order-dependent streaming algorithm (greedy micro-clustering +
KDE + KLOME pruning) and is not SQL-expressible — it is covered by the
rows-only check here and by the oracle-parity suite in tests/.

All oracle-checked queries emit integer/boolean/string/decimal-derived
columns or raw passthrough doubles, so value hashes are engine-exact
(sums are computed in DECIMAL(18,2) then cast to double in BOTH engines;
timestamps are emitted as integer epoch-microseconds).
"""

from __future__ import annotations

import functools
import tempfile
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery

from kelos_on_kafka_spark.config import KelosConfig
from kelos_on_kafka_spark.functions.features import doc_features
from kelos_on_kafka_spark.operators import dedup, similarity, textstats, windowing
from kelos_on_kafka_spark.operators.kelos_batch import detect_outliers

SF_DEFAULT = "/root/testdata/sf0.001"

HOUR_US = 3_600_000_000
DAY_US = 86_400_000_000
STREAM_TIMEOUT_S = 300


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


@functools.cache
def _scratch_root() -> tempfile.TemporaryDirectory:
    """This process's staging root, removed at interpreter exit."""
    return tempfile.TemporaryDirectory(prefix="spark_entry_")


def _scratch() -> str:
    """A fresh directory under ``_scratch_root``."""
    return tempfile.mkdtemp(dir=_scratch_root().name)


def _file_stream(
    spark: SparkSession,
    schema: str,
    *parts: DataFrame,
    files_per_trigger: int = 2,
) -> DataFrame:
    """Stage each part as parquet in its own subdirectory, one after the
    other, and stream the files back.  A later part (a sentinel) gets
    later file times, so it arrives after the earlier ones."""
    src = _scratch()
    for i, part in enumerate(parts):
        part.write.parquet(f"{src}/{i:03d}")
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(f"{src}/*")
    )


def _await(q: StreamingQuery) -> None:
    """Wait for an availableNow query to finish.  One that is still
    running after ``STREAM_TIMEOUT_S`` is stopped and fails loudly
    instead of returning a partial sink."""
    if not q.awaitTermination(STREAM_TIMEOUT_S):
        q.stop()
        raise TimeoutError(
            f"streaming query {q.name or q.id} still running after "
            f"{STREAM_TIMEOUT_S} s"
        )


def _drain(out: DataFrame) -> DataFrame:
    """Run a streaming frame availableNow into a memory table and return
    the table."""
    name = f"drain_{uuid.uuid4().hex[:12]}"
    _await(
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    return out.sparkSession.table(name)


# ---------------------------------------------------------------------------
# Flagship: KELOS windowed top-N outliers over document-derived features
# ---------------------------------------------------------------------------


def _kelos_points(spark: SparkSession, sf_dir: str, per_pane: int) -> DataFrame:
    from kelos_on_kafka_spark.plans.layout import fan_out

    # small doc scans arrive as one partition; fan out so the Arrow
    # feature UDF saturates the cores (no-op at real scale)
    docs = fan_out(_t(spark, sf_dir, "documents"))
    feats = docs.select(
        F.col("doc_id").alias("id"),
        F.timestamp_seconds(
            (F.expr(f"doc_id div {per_pane}")) * F.lit(10)
        ).alias("ts"),
        doc_features(F.col("text")).alias("features"),
    )
    return feats


def q_kelos_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    cfg = KelosConfig(n=10)
    pts = _kelos_points(spark, sf_dir, per_pane=100)
    return detect_outliers(pts, cfg).select(
        "window_id", "rank", "point_id", "klome", "density"
    )


# sf_dir -> the persisted debug walk the debug queries read; at most one.
_DEBUG_WALK: dict = {}


def _kelos_debug(spark: SparkSession, sf_dir: str, which: str) -> DataFrame:
    """One table of the debug walk of ``sf_dir``.  The three debug
    queries of a scale factor share one persisted walk; the previous
    scale factor's walk is unpersisted when a new one is built, so a
    session holds at most one.  A walk that ``clearCache`` released is
    built again."""
    from kelos_on_kafka_spark.operators.kelos_batch import debug_tables, debug_walk

    walk = _DEBUG_WALK.get(sf_dir)
    if (
        walk is None
        or walk.sparkSession is not spark
        or not walk.storageLevel.useDisk
    ):
        for old in _DEBUG_WALK.values():
            if old.sparkSession is spark:
                old.unpersist()
        _DEBUG_WALK.clear()
        pts = _kelos_points(spark, sf_dir, per_pane=100)
        walk = _DEBUG_WALK[sf_dir] = debug_walk(pts, KelosConfig(n=10))
    return debug_tables(walk)[which]


def _per_dim(col: str, prefix: str) -> list:
    """array<double> -> 4 scalar double columns.  The driver's
    canonicalizer sorts raw column values, so driver-facing projections
    must be scalar-only (lists are unhashable in pandas sort_values)."""
    return [
        F.element_at(F.col(col), i + 1).alias(f"{prefix}{i}") for i in range(4)
    ]


def q_kelos_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-point micro-cluster assignments (reference topic
    cluster-assignments / AssignmentConsumer.java:58-75; rows-only)."""
    return _kelos_debug(spark, sf_dir, "assignments").select(
        "shard", "pane_id", "point_id", "cluster_id", *_per_dim("features", "f")
    )


def q_kelos_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-window cluster synopses with KDE densities, bounds and
    pruning flags (reference topics densities/candidates,
    ClusterConsumer.java:57-76; rows-only)."""
    return _kelos_debug(spark, sf_dir, "clusters").select(
        "shard",
        "window_id",
        "cluster_id",
        "size",
        *_per_dim("centroid", "c"),
        "density",
        "min_density_bound",
        "max_density_bound",
        "might_contain_outliers",
    )


def q_kelos_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outlier-candidate points after KLOME dominance pruning
    (reference CandidatesConsumer.java:61-85; rows-only)."""
    return _kelos_debug(spark, sf_dir, "candidates").select(
        "shard", "window_id", "point_id", *_per_dim("features", "f")
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    cfg = KelosConfig(n=10)
    pts = _kelos_points(spark, SF_DEFAULT, per_pane=16)
    return detect_outliers(pts, cfg).select(
        "window_id", "rank", "point_id", "klome", "density"
    )


# ---------------------------------------------------------------------------
# Windowed / streaming-surface queries over `events`
# ---------------------------------------------------------------------------


def q_pane_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(
        windowing.pane_id("ts", 3600).alias("pane_id")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_value"),
    )


def q_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = windowing.with_pane(_t(spark, sf_dir, "events"), "ts", 3600)
    ev = windowing.explode_to_sliding_windows(ev, "pane_id", 3)
    return ev.groupBy("window_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
    )


def q_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return windowing.session_windows(ev, "ts", ["user_id"], 1800)


def q_topn_per_pane(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = windowing.with_pane(_t(spark, sf_dir, "events"), "ts", 86400)
    w = Window.partitionBy("pane_id").orderBy(
        F.col("value").desc(), F.col("event_id").asc()
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("pane_id", "rn", "event_id", "value")
    )


def q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        windowing.epoch_us("ts").alias("ts_us"),
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"),
        F.col("event_id").alias("click_id"),
        F.col("ts_us").alias("cts"),
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("pu"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts_us").alias("pts"),
    )
    return clicks.join(
        purchases,
        (F.col("cu") == F.col("pu"))
        & (F.col("pts") >= F.col("cts"))
        & (F.col("pts") <= F.col("cts") + F.lit(HOUR_US)),
    ).select("click_id", "purchase_id")


# ---------------------------------------------------------------------------
# Dedup / text / similarity over `documents` and `embeddings`
# ---------------------------------------------------------------------------


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_dup_groups(_t(spark, sf_dir, "documents"))


def q_dedup_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(
            textstats.doc_fingerprint("text", 8).alias("fingerprint"),
            "doc_id",
        )
        .groupBy("fingerprint")
        .agg(
            F.min("doc_id").alias("keeper_id"),
            F.count(F.lit(1)).alias("n_docs"),
        )
    )


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    # hash_shingles: result-identical deployment fast path (the two
    # inverted-index shuffles move xxhash64 longs, not n-gram strings);
    # string-vs-hashed identity on the committed corpora is pinned by
    # tests/test_round6_ops.py::test_hash_shingles_fast_path_result_identical
    # and the oracle (raw-string SQL) by the dtype-strict local mirror.
    return dedup.ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"),
        shingle_words=3,
        min_jaccard_pct=2,
        hash_shingles=True,
    )


def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.corpus_stats_by_lang(_t(spark, sf_dir, "documents"))


def q_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.quality_flags(_t(spark, sf_dir, "documents"))


def q_stopword_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.stopword_stats(_t(spark, sf_dir, "documents"))


def q_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish token counts via the GPT-2-style pre-tokenizer pattern
    (ASCII classes so Java regex and RE2 agree)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", textstats.n_bpe_ish_tokens("text").alias("n_bpe_tokens")
    )


def q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (MOSS) fingerprints — any shared token run of length
    >= window+shingle-1 between two docs shares a fingerprint."""
    return dedup.winnow_fingerprints(
        _t(spark, sf_dir, "documents"), shingle_words=3, window=4
    )


def q_knn_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.cosine_topk(emb, probe_ids=list(range(20)), k=5)


# Hyperplanes for the ANN driver query: md5-derived float constants,
# embedded as literals in BOTH the Spark plan and the SQL oracle so the
# bucketing (sign of an identical left-to-right multiply-add chain) is
# bit-exact across engines.  64 = embeddings table dim.
_KNN_PLANES = similarity.md5_planes(seed=41, n_planes=4, dim=64)


_PQ_BOOKS = similarity.md5_codebooks(seed=43, m=4, k_sub=8, subdim=16)


def q_knn_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (encode -> per-probe ADC table -> m
    lookups per pair): literal md5 codebooks reproduce codes AND
    asymmetric distances bit-exactly in DuckDB.  The driver
    contract is the integer ranking (like every ANN query): the float
    distance stays internal — at sf0.1 the ADC add-chain differs from
    DuckDB by 1 ulp on one probe group (accumulated-sum rounding),
    while rows and ranking stay identical at every scale tested."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.pq_topk(
        emb, probe_ids=list(range(20)), codebooks=_PQ_BOOKS, k=5
    ).select("probe_id", "rank", "neighbor_id")


def q_knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate ANN via random-hyperplane LSH buckets (oracle-checked:
    literal md5-derived hyperplanes reproduce the buckets in DuckDB)."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.lsh_bucketed_topk(
        emb, probe_ids=list(range(20)), k=5, planes=_KNN_PLANES
    )


def q_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat ANN: deterministic coarse cells, nprobe=2 probe scan."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.ivf_topk(
        emb, probe_ids=list(range(20)), k=5, n_cells=16, nprobe=2
    )


def q_embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs within LSH buckets (synthetic
    embeddings are random, so the driver threshold sits at the tail of
    the cosine distribution rather than a production 0.95)."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.embedding_near_dup_pairs(
        emb, threshold=0.35, planes=_KNN_PLANES
    )


def q_sq8_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar embedding quantization (similarity.sq8_codes): per-dim
    corpus min/max -> uint8-range affine codes, exploded
    (vec_id, dim, code) for the SQL oracle; sq8_pack is the
    never-exploding packed deployment form (equivalence pinned in
    tests/test_round6_ops.py)."""
    return similarity.sq8_codes(_t(spark, sf_dir, "embeddings"))


def q_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN search over the SQ8 codes (similarity.sq8_topk): top-5
    neighbors for probes 0..9 ranked by INTEGER code dot product —
    the quantize->search loop closed, no float tolerance anywhere."""
    packed = similarity.sq8_pack(_t(spark, sf_dir, "embeddings"))
    return similarity.sq8_topk(packed, probe_ids=list(range(10)), k=5)


def q_minhash_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    sigs = dedup.minhash_signatures(
        _t(spark, sf_dir, "documents"), n_hashes=8, shingle_words=3
    )
    return sigs.select(
        "doc_id", F.posexplode("minhash").alias("seed", "minhash")
    )


def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-banded near-dup candidate pairs (oracle-checked: portable
    banding buckets by md5 over the comma-joined band values)."""
    sigs = dedup.minhash_signatures(
        _t(spark, sf_dir, "documents"), n_hashes=16, shingle_words=3
    )
    return dedup.lsh_candidate_pairs(
        sigs, n_bands=4, rows_per_band=4, portable=True
    )


def q_cosine_rescore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidates->rescore: LSH-banded candidate pairs (the exact
    portable banding of minhash_lsh_pairs) rescored with the EXACT
    token-count cosine (dedup.count_cosine_rescore) — integer dot
    products, one IEEE float op chain for the cosine, so the oracle
    matches bit-for-bit."""
    docs = _t(spark, sf_dir, "documents")
    sigs = dedup.minhash_signatures(docs, n_hashes=16, shingle_words=3)
    pairs = dedup.lsh_candidate_pairs(
        sigs, n_bands=4, rows_per_band=4, portable=True
    )
    return dedup.count_cosine_rescore(docs, pairs)


def q_near_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive near-dup group resolution: LSH candidate pairs ->
    distributed connected components (min-label + pointer jumping) ->
    (doc_id, group_id=keeper).  Oracle: recursive-CTE closure over the
    same portable pairs."""
    return dedup.near_dup_groups(
        _t(spark, sf_dir, "documents"),
        n_hashes=16,
        shingle_words=3,
        n_bands=4,
        rows_per_band=4,
        portable=True,
    )


def q_dedup_decisions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed dedup verdict: exact groups ∪ near-dup groups resolved
    to one (doc_id, keeper_id, reason) row per document — the table a
    pretraining pipeline consumes (filter reason='keep')."""
    return dedup.dedup_decisions(
        _t(spark, sf_dir, "documents"),
        n_hashes=16,
        shingle_words=3,
        n_bands=4,
        rows_per_band=4,
        portable=True,
    )


def q_stream_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful STREAMING LSH near-dup: the documents table is streamed
    as files through the real applyInPandasWithState query
    (streaming/dedup_stream.py, availableNow trigger), pairs land in a
    memory sink, and the distinct pair set is returned.  With every doc
    inside the horizon this equals the batch banded pairs, so the
    minhash_lsh_pairs oracle applies verbatim.

    max_bucket caveat (documented divergence): the batch operator and
    the oracle DROP an oversized (band, bucket) entirely, while the
    stream — append mode cannot retract already-emitted pairs — emits
    pairs among the first max_bucket members and then saturates.  The
    pairing is exact here only because no bucket in the documents
    table approaches the cap (max observed bucket ≪ 1000); at a scale
    where buckets saturate, stream output is a PREFIX of each bucket's
    batch pairs, not equal to it."""
    from kelos_on_kafka_spark.streaming.dedup_stream import (
        stream_near_dup_pairs,
    )

    # constant event time: no row can be late, every pair is in-horizon
    stream = _file_stream(
        spark,
        "doc_id long, text string, ts timestamp",
        _t(spark, sf_dir, "documents").select(
            "doc_id",
            "text",
            F.timestamp_seconds(F.lit(1_000_000)).alias("ts"),
        ).repartition(4),
    )
    pairs = stream_near_dup_pairs(
        stream,
        horizon="1 day",
        n_hashes=16,
        shingle_words=3,
        n_bands=4,
        rows_per_band=4,
        portable=True,
    )
    return _drain(pairs).select("doc_a", "doc_b").distinct()


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash per document with the md5-portable token hash
    (oracle-checked; the xxhash64 fast path stays in the library for
    JVM-only deployments and is covered by pytest)."""
    return dedup.simhash64(
        _t(spark, sf_dir, "documents"), n_bits=64, portable=True
    )


def q_simhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: pigeonhole chunk bucketing + exact
    popcount(xor) verification, hamming <= 3 over the portable 64-bit
    simhash."""
    return dedup.simhash_near_dup_pairs(
        _t(spark, sf_dir, "documents"), max_hamming=3, portable=True
    )


def q_simhash16_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash with the md5-based portable token hash — fully
    reproduced by the DuckDB oracle (per-bit majority in SQL)."""
    return dedup.simhash64(
        _t(spark, sf_dir, "documents"), n_bits=16, portable=True
    )


def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-payload metadata plumbing: documents' text bytes stand in
    for opaque media payloads."""
    from kelos_on_kafka_spark.operators.multimodal import (
        attach_media_metadata,
    )

    media = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("asset_id"),
        F.encode(F.col("text"), "utf-8").alias("payload"),
    )
    return attach_media_metadata(media).select(
        "asset_id", "n_bytes", "checksum"
    )


def q_multimodal_image_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stubbed image decode over binary payloads (mapInPandas plumbing);
    width/height derive deterministically from sha256(payload), which the
    DuckDB oracle reproduces."""
    from kelos_on_kafka_spark.operators.multimodal import (
        extract_image_features,
    )

    media = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("asset_id"),
        F.encode(F.col("text"), "utf-8").alias("payload"),
    )
    return extract_image_features(media).select(
        "asset_id", "width", "height"
    )


def _media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents' text bytes standing in for opaque media payloads."""
    return _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("asset_id"),
        F.encode(F.col("text"), "utf-8").alias("payload"),
    )


def q_media_exact_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-exact media dedup: group binary payloads by sha256 — the
    image/audio twin of text dedup_exact (bytes are hashed where they
    sit; only 32-byte digests shuffle)."""
    media = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("asset_id"),
        F.encode(F.col("text"), "utf-8").alias("payload"),
    )
    return media.groupBy(
        F.sha2(F.col("payload"), 256).alias("sha256")
    ).agg(
        F.min("asset_id").alias("keeper_id"),
        F.count(F.lit(1)).alias("n_assets"),
    )


def q_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plumbing (mapInPandas row explosion with
    lineage); the deterministic fake decoder slices the payload, so the
    oracle reproduces each frame digest via substring math (documents
    are ASCII: char offsets == byte offsets)."""
    from kelos_on_kafka_spark.operators.multimodal import sample_video_frames

    frames = sample_video_frames(_media(spark, sf_dir))
    return frames.select(
        "asset_id",
        "frame_index",
        "frame_ts_ms",
        F.md5("frame").alias("frame_md5"),
    )


def q_audio_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio decode plumbing (deterministic sha256-derived fake):
    sample rate / duration / sample count, integer-exact in SQL."""
    from kelos_on_kafka_spark.operators.multimodal import (
        extract_audio_features,
    )

    return extract_audio_features(_media(spark, sf_dir)).select(
        "asset_id", "sample_rate", "duration_ms", "n_samples"
    )


def q_lang_guess(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kelos_on_kafka_spark.plans.layout import fan_out

    docs = fan_out(_t(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id", textstats.lang_guess("text").alias("lang_pred")
    )


def q_rolling_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 1h per-user rolling count/sum/mean for every event
    (temporal.rolling_stats) — one RANGE-framed window pass; sum in
    DECIMAL(18,2)->double, mean as one double division (the portable
    numeric convention), so the SQL twin matches bit-for-bit."""
    from kelos_on_kafka_spark.operators.temporal import rolling_stats

    return rolling_stats(_t(spark, sf_dir, "events"))


def q_domain_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer PageRank (graph.pagerank_integer, 3 iterations) over
    the domain link graph of the synthetic-HTML fixture: src = the
    page's own domain d{doc_id % 97}.example.com, dst = each outlink
    host via the REAL extract_links/url_host path — the oracle
    re-derives the edges from the fixture FORMULA, so href/host
    extraction defects mismatch, while the all-integer rank arithmetic
    (floor division everywhere) is engine-exact with no float caveats."""
    from kelos_on_kafka_spark.operators.graph import pagerank_integer
    from kelos_on_kafka_spark.operators.webtext import (
        extract_links,
        url_host,
    )

    links = extract_links(
        _synth_html_pages(_t(spark, sf_dir, "documents"))
    ).where(F.col("link").isNotNull())
    edges = links.select(
        F.concat(
            F.lit("d"),
            (F.col("doc_id") % 97).cast("string"),
            F.lit(".example.com"),
        ).alias("src"),
        url_host("link").alias("dst"),
    )
    return pagerank_integer(edges, iterations=3).select(
        F.col("node").alias("domain"), "rank"
    )


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix (webtext.cohort_retention): users by
    first-seen UTC day x active-day offset, integer-exact."""
    from kelos_on_kafka_spark.operators.webtext import cohort_retention

    return cohort_retention(_t(spark, sf_dir, "events"))


def q_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-checkable projection of the streaming relational surface:
    the SAME stream_tumbling_counts wrapper the streaming tests run
    (withWatermark is a no-op in batch), window bounds emitted as
    session-timezone-independent epoch microseconds."""
    from kelos_on_kafka_spark.streaming import relational

    ev = _t(spark, sf_dir, "events")
    out = relational.stream_tumbling_counts(
        ev, pane="1 hour", key_col="event_type"
    )
    return out.select(
        windowing.epoch_us("window_start").alias("window_start_us"),
        windowing.epoch_us("window_end").alias("window_end_us"),
        "event_type",
        "n_events",
    )


def q_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows via Spark's native window duplication, same
    wrapper the streaming path uses; 3h window sliding by 1h."""
    from kelos_on_kafka_spark.streaming import relational

    ev = _t(spark, sf_dir, "events")
    out = relational.stream_sliding_counts(
        ev, size="3 hours", slide="1 hour"
    )
    return out.select(
        windowing.epoch_us("window_start").alias("window_start_us"),
        windowing.epoch_us("window_end").alias("window_end_us"),
        "n_events",
    )


def q_stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session windows via Spark's session_window (the
    streaming wrapper in batch); session end = last event + gap."""
    from kelos_on_kafka_spark.streaming import relational

    ev = _t(spark, sf_dir, "events")
    out = relational.stream_session_windows(
        ev, key_col="user_id", gap="30 minutes"
    )
    return out.select(
        "user_id",
        windowing.epoch_us("session_start").alias("session_start_us"),
        windowing.epoch_us("session_end").alias("session_end_us"),
        "n_events",
    )


# ---------------------------------------------------------------------------
# Relational surface over the TPC-H-ish tables
# ---------------------------------------------------------------------------


def q_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    return (
        orders.join(
            F.broadcast(customer), orders.o_custkey == customer.c_custkey
        )
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue"),
        )
    )


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_quantity") < 30)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_qty"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_base_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    big = orders.where(F.col("o_totalprice") > 100000).select("o_custkey")
    return customer.join(
        big, customer.c_custkey == big.o_custkey, "left_semi"
    ).select("c_custkey", "c_name")


# ---------------------------------------------------------------------------
# Temporal operators (operators/temporal.py): as-of join + CEP sequences
# ---------------------------------------------------------------------------


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each click matched to the most recent purchase at-or-before it
    per user (as-of join; purchases pre-deduped per (user, ts) like any
    ASOF engine requires).  Oracle: DuckDB's native ASOF JOIN."""
    from kelos_on_kafka_spark.operators.temporal import asof_join

    ev = _t(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), "ts"
    )
    purch = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("purchase_id"))
    )
    out = asof_join(
        clicks,
        purch,
        key_cols=["user_id"],
        left_ts="ts",
        right_ts="ts",
        right_cols=["purchase_id"],
        how="inner",
    )
    return out.select("click_id", "purchase_id")


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style within-doc repetition signals (token/distinct/mode
    counts, trigram total vs distinct) — integer-exact filters a
    pretraining pipeline runs first."""
    return textstats.repetition_stats(_t(spark, sf_dir, "documents"))


def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: per-doc count of distinct trigrams
    shared with a probe set (every 97th doc stands in for an eval
    benchmark); probe shingle hashes broadcast, corpus side map-side
    semi-joined."""
    docs = _t(spark, sf_dir, "documents")
    probes = docs.where(F.col("doc_id") % 97 == 0)
    return textstats.contamination(docs, probes)


def q_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc top-5 distinctive terms (TF-IDF keyword extraction);
    the driver row compares the integer ranking contract (tf desc,
    doc_freq asc, term asc) — the double tfidf column stays out of the
    hash comparison."""
    return textstats.top_terms_tfidf(_t(spark, sf_dir, "documents"), k=5).select(
        "doc_id", "rank", "term", "tf", "doc_freq"
    )


def q_pivot_lang_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crosstab: doc counts per source pivoted over the four languages
    + 'other' (explicit pivot values keep the output schema static —
    the form that scales: no driver-side distinct-value scan)."""
    docs = _t(spark, sf_dir, "documents").withColumn(
        "lg",
        F.when(
            F.col("lang").isin("en", "de", "fr", "es"), F.col("lang")
        ).otherwise(F.lit("other")),
    )
    out = (
        docs.groupBy("source")
        .pivot("lg", ["en", "de", "fr", "es", "other"])
        .agg(F.count(F.lit(1)))
    )
    return out.select(
        "source",
        *[
            F.coalesce(F.col(c), F.lit(0)).cast("long").alias(f"n_{c}")
            for c in ("en", "de", "fr", "es", "other")
        ],
    )


def q_rolling_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user rolling mean over the last 5 events (rows frame) —
    the moving-average analytics window; DECIMAL-summed for the exact
    cross-engine contract, count emitted so consumers see the warm-up
    rows."""
    from pyspark.sql.window import Window

    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(windowing.epoch_us("ts").asc(), F.col("event_id").asc())
        .rowsBetween(-4, 0)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.sum(F.col("value").cast("decimal(18,2)"))
        .over(w)
        .cast("double")
        .alias("roll_sum"),
        F.count(F.lit(1)).over(w).cast("long").alias("roll_n"),
    )


def q_corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The data card: per (lang, source) doc/token totals, low-quality
    and repetitive counts, exact-dup counts — all integers."""
    return textstats.corpus_report(_t(spark, sf_dir, "documents"))


def q_cep_gap_tolerant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE quantifier case A B* Z: click, any number of
    views, purchase within 24h — one window pass, no self-join."""
    from kelos_on_kafka_spark.operators.temporal import gap_tolerant_matches

    return gap_tolerant_matches(
        _t(spark, sf_dir, "events"),
        key_col="user_id",
        ts_col="ts",
        type_col="event_type",
        first_type="click",
        last_type="purchase",
        skip_type="view",
        within_us=DAY_US,
        id_col="event_id",
    )


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact weighted sampling without replacement (min-of-w portable
    hashes; integer-only, no float pow/ln): 50 docs weighted by a
    length-derived quality tier."""
    from kelos_on_kafka_spark.operators.sampling import (
        weighted_priority_sample,
    )

    docs = _t(spark, sf_dir, "documents").withColumn(
        "wt",
        F.least(
            F.lit(1) + F.floor(F.col("n_chars") / F.lit(150)), F.lit(8)
        ).cast("int"),
    )
    return weighted_priority_sample(docs, "doc_id", "wt", n=50).select(
        "doc_id", "priority"
    )


def q_funnel_dropoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Negation CEP: clicks with NO purchase by the same user within 1h
    (funnel drop-off) — one window pass, no join, no NOT-EXISTS
    row-explosion.  Oracle: the NOT EXISTS form."""
    from kelos_on_kafka_spark.operators.temporal import absence_matches

    return absence_matches(
        _t(spark, sf_dir, "events"),
        key_col="user_id",
        ts_col="ts",
        type_col="event_type",
        first_type="click",
        absent_type="purchase",
        within_us=HOUR_US,
        id_col="event_id",
    )


def q_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub (emails/phones) with audit counts — portable regex
    subset (no backreferences/lookaround) so Java regex and RE2 agree."""
    return textstats.redact_pii(_t(spark, sf_dir, "documents"))


def q_stream_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 events per 12h pane computed by the REAL streaming top-N
    operator (streaming/topn_stream.py: bounded O(n) state per pane,
    watermark-close emission); oracle is the plain window ranking.

    Staging is fully distributed (VERDICT r02: the previous toPandas
    here was a driver OOM shape at scale): the events table is range-
    partitioned on event time and written sorted — file i holds earlier
    rows than file i+1 — and a span-covering watermark delay makes the
    result independent of file arrival order (no row can ever be late);
    a sentinel written second (strictly later mod-time) advances the
    watermark past every real pane so all panes emit."""
    pane_s = 43200
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        (windowing.epoch_us("ts") / F.lit(1_000_000))
        .cast("long")
        .alias("sec"),
        "value",
    )
    row = ev.agg(F.min("sec").alias("lo"), F.max("sec").alias("hi")).first()
    span_s = int(row["hi"] - row["lo"]) + pane_s
    sentinel_pane = int(row["hi"] // pane_s + 2)
    sentinel_sec = sentinel_pane * pane_s + span_s
    stream = _file_stream(
        spark,
        "event_id long, ts timestamp, value double",
        ev.repartitionByRange(4, "sec")
        .sortWithinPartitions("sec", "event_id")
        .select("event_id", F.timestamp_seconds("sec").alias("ts"), "value"),
        spark.createDataFrame(
            [(999_999_999, sentinel_sec, 0.0)],
            "event_id long, sec long, value double",
        ).select(
            "event_id", F.timestamp_seconds("sec").alias("ts"), "value"
        ).coalesce(1),
    )

    from kelos_on_kafka_spark.streaming.topn_stream import (
        stream_topn_per_window,
    )

    return _drain(
        stream_topn_per_window(
            stream,
            n=5,
            pane_seconds=pane_s,
            watermark_delay=f"{span_s} seconds",
        )
    ).where(
        F.col("pane_id") < F.lit(sentinel_pane)
    ).select("pane_id", "rank", "event_id", "value")


def q_stream_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct users per 6h window on the REAL stream (chained
    stateful ops: dedup on (window, user) then windowed count — distinct
    aggs are illegal in streaming).  unix_micros output keeps the
    comparison session-timezone-free."""
    pane_s = 21600
    ev = _t(spark, sf_dir, "events").select(
        (windowing.epoch_us("ts") / F.lit(1_000_000))
        .cast("long")
        .alias("sec"),
        "user_id",
    )
    row = ev.agg(F.min("sec").alias("lo"), F.max("sec").alias("hi")).first()
    span_s = int(row["hi"] - row["lo"]) + pane_s
    sentinel_sec = int(row["hi"] // pane_s + 2) * pane_s + span_s
    # distributed ordered staging; span watermark makes it order-proof
    # (see q_stream_topn)
    stream = _file_stream(
        spark,
        "ts timestamp, user_id bigint",
        ev.repartitionByRange(4, "sec")
        .sortWithinPartitions("sec", "user_id")
        .select(F.timestamp_seconds("sec").alias("ts"), "user_id"),
        spark.createDataFrame(
            [(sentinel_sec, 999_999)], "sec long, user_id bigint"
        ).select(
            F.timestamp_seconds("sec").alias("ts"), "user_id"
        ).coalesce(1),
    )

    from kelos_on_kafka_spark.streaming.relational import (
        stream_windowed_distinct,
    )

    return (
        _drain(
            stream_windowed_distinct(
                stream,
                key_col="user_id",
                pane=f"{pane_s} seconds",
                watermark=f"{span_s} seconds",
            )
        )
        .select(
            F.unix_micros("window_start").alias("window_start_us"),
            "n_distinct",
        )
        .where(F.col("window_start_us") < F.lit(sentinel_sec * 1_000_000))
    )


def q_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clicks⋈purchases within 1h on the REAL stateful stream-stream
    interval join (streaming/relational.py:stream_interval_join — the
    window-store time-range fetch of the reference's FilterProcessor,
    FilterProcessorSupplier.java:42-43, re-expressed as Spark's
    watermark-evicted join state).  Both sides stream as range-
    partitioned files; a span watermark keeps every row admissible, and
    inner-join results are emitted as matches arrive, so no sentinel is
    needed.  Oracle: the batch interval_join SQL verbatim."""
    # NTZ -> TIMESTAMP via the session-tz-independent epoch (CLAUDE.md:
    # unix_micros rejects TIMESTAMP_NTZ), microseconds preserved exactly
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.timestamp_micros(windowing.epoch_us("ts")).alias("ts"),
    )
    row = ev.agg(
        F.min(F.unix_micros("ts")).alias("lo"),
        F.max(F.unix_micros("ts")).alias("hi"),
    ).first()
    span_s = int((row["hi"] - row["lo"]) // 1_000_000) + 3600

    def side(typ: str, id_as: str, key_as: str, ts_as: str) -> DataFrame:
        return _file_stream(
            spark,
            "event_id long, user_id bigint, ts timestamp",
            ev.where(F.col("event_type") == typ)
            .repartitionByRange(4, "ts")
            .sortWithinPartitions("ts", "event_id")
            .select("event_id", "user_id", "ts"),
        ).select(
            F.col("event_id").alias(id_as),
            F.col("user_id").alias(key_as),
            F.col("ts").alias(ts_as),
        )

    from kelos_on_kafka_spark.streaming.relational import stream_interval_join

    joined = stream_interval_join(
        side("click", "click_id", "cu", "cts"),
        side("purchase", "purchase_id", "pu", "pts"),
        left_key="cu",
        right_key="pu",
        left_ts="cts",
        right_ts="pts",
        within="1 hour",
        watermark=f"{span_s} seconds",
        how="inner",
    )
    return _drain(joined.select("click_id", "purchase_id"))


def q_stream_interval_join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """leftOuter variant of the stateful stream-stream interval join:
    unmatched clicks are flushed (purchase_id NULL) once the watermark
    passes click_ts + 1h — the state-eviction semantics Spark's outer
    stream join adds over the inner form.  A sentinel row on EACH side
    (the global watermark is the min across inputs) pushes the final
    watermark one hour past the last click so every unmatched click
    flushes; sentinels never join (impossible user ids) and never flush
    (the watermark stops short of their own bound).  Oracle: the plain
    LEFT JOIN interval SQL."""
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.timestamp_micros(windowing.epoch_us("ts")).alias("ts"),
    )
    row = ev.agg(
        F.min(F.unix_micros("ts")).alias("lo"),
        F.max(F.unix_micros("ts")).alias("hi"),
    ).first()
    span_s = int((row["hi"] - row["lo"]) // 1_000_000) + 3600
    sentinel_us = row["hi"] + (span_s + 7200) * 1_000_000

    def side(
        typ: str, sent_uid: int, id_as: str, key_as: str, ts_as: str
    ) -> DataFrame:
        return _file_stream(
            spark,
            "event_id long, user_id bigint, ts timestamp",
            ev.where(F.col("event_type") == typ)
            .repartitionByRange(4, "ts")
            .sortWithinPartitions("ts", "event_id")
            .select("event_id", "user_id", "ts"),
            spark.createDataFrame(
                [(-abs(sent_uid), sent_uid, sentinel_us)],
                "event_id long, user_id bigint, us long",
            ).select(
                "event_id", "user_id", F.timestamp_micros("us").alias("ts")
            ).coalesce(1),
        ).select(
            F.col("event_id").alias(id_as),
            F.col("user_id").alias(key_as),
            F.col("ts").alias(ts_as),
        )

    from kelos_on_kafka_spark.streaming.relational import stream_interval_join

    joined = stream_interval_join(
        side("click", -1, "click_id", "cu", "cts"),
        side("purchase", -2, "purchase_id", "pu", "pts"),
        left_key="cu",
        right_key="pu",
        left_ts="cts",
        right_ts="pts",
        within="1 hour",
        watermark=f"{span_s} seconds",
        how="leftOuter",
    )
    return _drain(joined.select("click_id", "purchase_id")).where(
        F.col("click_id") >= 0
    ).select(
        "click_id", "purchase_id"
    )


def q_stream_bloom_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate Bloom-filter windowed dedup on the REAL stream
    (streaming/bloom_dedup.py): first event per (6h pane, user) with
    O(n_bits) state per pane instead of O(keys).  Sized so no false
    positive fires at this corpus (deterministic: the pairing with the
    exact first-occurrence oracle is stable, not probabilistic — FP
    behavior is a pure function of the data, pinned separately by
    tests/test_bloom_dedup.py with a deliberately tiny filter)."""
    from kelos_on_kafka_spark.streaming.bloom_dedup import stream_bloom_dedup

    pane_s = 21600
    stream = _file_stream(
        spark,
        "event_id long, ts timestamp, user_id bigint",
        _t(spark, sf_dir, "events")
        .select(
            "event_id",
            F.timestamp_micros(windowing.epoch_us("ts")).alias("ts"),
            "user_id",
        )
        .coalesce(1)
        .sortWithinPartitions("ts", "event_id"),
        files_per_trigger=1,
    )
    return _drain(
        stream_bloom_dedup(
            stream,
            key_col="user_id",
            ts_col="ts",
            id_col="event_id",
            pane_seconds=pane_s,
            n_bits=1 << 20,
            k=4,
        )
    ).select("pane_id", "key_h1", "row_id", "ts_us")


def q_stream_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup via dropDuplicatesWithinWatermark: first
    event per (user, type) on the REAL stream.  A span-covering
    watermark makes every duplicate pair fall within the horizon, and
    the single sorted staging file fixes arrival order, so 'first
    received' == min (ts, event_id) — the oracle's window pick.  (The
    single upstream partition preserves per-reducer arrival order
    through the key exchange.)"""
    from kelos_on_kafka_spark.streaming.relational import stream_dedup_exact

    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        F.timestamp_micros(windowing.epoch_us("ts")).alias("ts"),
        "user_id",
        "event_type",
    )
    row = ev.agg(
        F.min(F.unix_micros("ts")).alias("lo"),
        F.max(F.unix_micros("ts")).alias("hi"),
    ).first()
    span_s = int((row["hi"] - row["lo"]) // 1_000_000) + 3600
    stream = _file_stream(
        spark,
        "event_id long, ts timestamp, user_id bigint, event_type string",
        ev.coalesce(1).sortWithinPartitions("ts", "event_id"),
        files_per_trigger=1,
    )
    return _drain(
        stream_dedup_exact(
            stream,
            key_cols=["user_id", "event_type"],
            ts_col="ts",
            watermark=f"{span_s} seconds",
        )
    ).select(
        "user_id",
        "event_type",
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
    )


def q_session_dynamic_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows with a DYNAMIC per-event gap (purchases hold a
    session open 1h, everything else 30min) — Spark's session_window
    gap expression; oracle is the running-max islands formulation
    (empirically pinned: an event at exactly a session's end merges
    into it, so a new island starts strictly past the running max)."""
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.timestamp_micros(windowing.epoch_us("ts")).alias("ts"),
    )
    gap = F.when(
        F.col("event_type") == "purchase", F.lit("1 hour")
    ).otherwise(F.lit("30 minutes"))
    return (
        ev.groupBy("user_id", F.session_window("ts", gap).alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_micros("w.start").alias("session_start_us"),
            F.unix_micros("w.end").alias("session_end_us"),
            "n_events",
        )
    )


def q_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p50/p95 per event type.  Spark's ``percentile`` and
    DuckDB's ``quantile_cont`` share the linear-interpolation definition
    (h = (n-1)p) — verified bit-exact, so the hashes match without any
    decimal detour.  At scale swap for ``approx_percentile`` (t-digest;
    no exact-sort shuffle) — the exact form here is the oracle-checkable
    contract."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("p50"),
        F.expr("percentile(value, 0.95)").alias("p95"),
    )


def q_rollup_panes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-granularity rollup in ONE pass (hypertable-style
    continuous-aggregate shape): event counts/sums at (day, hour) and
    (day) via GROUPING SETS — Catalyst expands the sets inside a single
    shuffle instead of two jobs; at scale this halves the scan cost of
    maintaining coarser rollups."""
    ev = _t(spark, sf_dir, "events").select(
        windowing.pane_id("ts", 86400).alias("day_id"),
        windowing.pane_id("ts", 3600).alias("hour_id"),
        "value",
    )
    return (
        ev.groupingSets(
            [["day_id", "hour_id"], ["day_id"]], "day_id", "hour_id"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_value"),
            F.grouping_id().alias("gid"),
        )
        # the coarser set leaves hour_id null; emit -1 so the hash
        # compare never sees nulls (same coalesce in the oracle)
        .select(
            "day_id",
            F.coalesce(F.col("hour_id"), F.lit(-1)).alias("hour_id"),
            "gid",
            "n_events",
            "sum_value",
        )
    )


def q_cep_sequence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strictly-consecutive click->purchase sequences per user within
    1 day (the MATCH_RECOGNIZE core case; lag-chain plan, one window
    pass)."""
    from kelos_on_kafka_spark.operators.temporal import sequence_matches

    ev = _t(spark, sf_dir, "events")
    return sequence_matches(
        ev,
        key_col="user_id",
        ts_col="ts",
        type_col="event_type",
        pattern=["click", "purchase"],
        within_us=DAY_US,
        id_col="event_id",
    )


# ---------------------------------------------------------------------------
# Explicit skew handling (plans/skew.py) — salted operators, each
# result-identical to the plain relational query the oracle runs
# ---------------------------------------------------------------------------


def q_salted_topn_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 longest documents per lang via the two-phase salted top-n
    (lang is a 4-value hot key — the worst-case distribution for a
    window sort)."""
    from kelos_on_kafka_spark.plans.skew import salted_topn

    docs = _t(spark, sf_dir, "documents")
    return salted_topn(
        docs,
        key_cols=["lang"],
        order_col="n_chars",
        n=3,
        n_salts=8,
        tiebreak_col="doc_id",
    ).select("lang", "rank", "doc_id", "n_chars")


def q_skew_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem joined to a 3-row dim on l_returnflag (maximal key skew:
    every row is one of 3 keys) through the salted replicate-join, then
    aggregated — exactly what the plain join computes."""
    from kelos_on_kafka_spark.plans.skew import salted_join

    li = _t(spark, sf_dir, "lineitem")
    dim = spark.createDataFrame(
        [("A", 1), ("N", 2), ("R", 3)], "l_returnflag string, mult int"
    )
    joined = salted_join(
        li,
        dim,
        on=["l_returnflag"],
        n_salts=16,
        salt_cols=["l_orderkey", "l_linenumber"],
    )
    return joined.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum((F.col("l_quantity") * F.col("mult")).cast("decimal(18,2)"))
        .cast("double")
        .alias("weighted_qty"),
    )


def q_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment by portable md5 bucket
    (stable under re-runs, repartitioning, and engines — the dataset
    split a 10^12-doc pipeline can audit externally)."""
    from kelos_on_kafka_spark.operators.sampling import hash_split

    docs = _t(spark, sf_dir, "documents")
    return hash_split(
        docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}, seed=0
    ).select("doc_id", "split")


def q_stratified_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-lang cap: at most 20 docs per language chosen by hash order
    (the "max N pages per domain" pretraining balance op)."""
    from kelos_on_kafka_spark.operators.sampling import stratified_cap

    docs = _t(spark, sf_dir, "documents")
    return stratified_cap(docs, ["lang"], "doc_id", n=20, seed=0).select(
        "lang", "sample_rank", "doc_id"
    )


def q_det_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stable 20% document sample (membership = f(seed, doc_id) only)."""
    from kelos_on_kafka_spark.operators.sampling import (
        deterministic_sample,
    )

    docs = _t(spark, sf_dir, "documents")
    return deterministic_sample(docs, "doc_id", 0.2, seed=3).select(
        "doc_id", "lang"
    )


def q_distinct_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """count(distinct token) per lang through the two-phase distinct
    rewrite (dedup shuffle spreads the hot key over (lang, tok))."""
    from kelos_on_kafka_spark.plans.skew import two_phase_distinct

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "lang",
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("tok"),
    ).where(F.col("tok") != "")
    return two_phase_distinct(toks, ["lang"], "tok", "n_distinct_tokens")


# --- generated oracle SQL -------------------------------------------------


def _simhash_sql(n_bits: int) -> str:
    """SimHash oracle: per-bit majority vote over md5-hashed tokens,
    generated programmatically (n_bits sum/CASE terms).  The portable
    token hash has 60 bits, so bits 60..63 of the 64-bit variant are
    always 0 in both engines (majority of zeros never sets a bit)."""
    return (
        """
    WITH toks AS (
      SELECT doc_id,
             unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
      FROM documents
    ), h AS (
      SELECT doc_id,
             cast(concat('0x', substr(md5(concat('0:', tok)), 1, 15))
               AS BIGINT) AS h
      FROM toks WHERE tok != ''
    ), sums AS (
      SELECT doc_id, count(*) AS n,
    """
        + ",\n".join(
            f"sum((h >> {b}) & 1) AS b{b}" for b in range(min(n_bits, 60))
        )
        + """
      FROM h GROUP BY doc_id
    )
    SELECT doc_id, cast(
    """
        + " + ".join(
            f"(CASE WHEN 2 * b{b} >= n THEN {1 << b} ELSE 0 END)"
            for b in range(min(n_bits, 60))
        )
        + """
      AS BIGINT) AS simhash
    FROM sums
"""
    )


def _minhash_pairs_ctes(
    n_hashes: int = 16,
    shingle_words: int = 3,
    n_bands: int = 4,
    rows_per_band: int = 4,
    max_bucket: int = 1000,
) -> str:
    """Shared CTE chain for the LSH-banded candidate-pair oracles:
    recompute the md5 minhash signatures, bucket each band by md5 over
    the comma-joined band values (string_agg ORDER BY seed == Spark's
    concat_ws over the array slice), apply the same max_bucket skew
    guard, join within buckets.  Ends with a ``pairs`` CTE of distinct
    (doc_a, doc_b)."""
    seeds = ",".join(f"({s})" for s in range(n_hashes))
    w = shingle_words - 1
    return f"""toks AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
      FROM documents
    ), idx AS (
      SELECT doc_id, t,
             unnest(generate_series(1, greatest(len(t) - {w}, 1))) AS i
      FROM toks
    ), sh AS (
      SELECT doc_id, array_to_string(t[i:i+{w}], ' ') AS shingle
      FROM idx
      WHERE array_to_string(t[i:i+{w}], ' ') != ''
    ), sig AS (
      SELECT doc_id, s.seed,
             min(cast(concat('0x',
                 substr(md5(concat(s.seed, ':', shingle)), 1, 15))
               AS BIGINT)) AS mh
      FROM sh CROSS JOIN (VALUES {seeds}) AS s(seed)
      GROUP BY doc_id, s.seed
    ), bands AS (
      SELECT doc_id, seed // {rows_per_band} AS band,
             md5(string_agg(cast(mh AS VARCHAR), ',' ORDER BY seed))
               AS bucket
      FROM sig GROUP BY doc_id, seed // {rows_per_band}
    ), sized AS (
      SELECT doc_id, band, bucket FROM bands
      QUALIFY count(*) OVER (PARTITION BY band, bucket) <= {max_bucket}
    ), pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM sized a JOIN sized b ON a.band = b.band AND a.bucket = b.bucket
      WHERE a.doc_id < b.doc_id
    )"""


def _minhash_pairs_sql(**kw) -> str:
    return f"WITH {_minhash_pairs_ctes(**kw)}\nSELECT doc_a, doc_b FROM pairs"


def _cosine_rescore_sql(**kw) -> str:
    """Exact token-count cosine over the portable LSH candidate pairs:
    integer dot / norms (DuckDB HUGEINT, exact), then the identical
    IEEE chain cast->sqrt->mul->div as the Spark operator."""
    return f"""
    WITH {_minhash_pairs_ctes(**kw)},
    tcnt AS (
      SELECT doc_id, tok AS token, count(*) AS cnt FROM (
        SELECT doc_id,
               unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
        FROM documents) u
      WHERE tok != '' GROUP BY doc_id, tok
    ), norms AS (
      SELECT doc_id, sum(cnt * cnt) AS n2 FROM tcnt GROUP BY doc_id
    ), dots AS (
      SELECT p.doc_a, p.doc_b, sum(a.cnt * b.cnt) AS dot
      FROM pairs p
      JOIN tcnt a ON a.doc_id = p.doc_a
      JOIN tcnt b ON b.doc_id = p.doc_b AND b.token = a.token
      GROUP BY p.doc_a, p.doc_b
    )
    SELECT p.doc_a, p.doc_b,
           CAST(coalesce(d.dot, 0) AS BIGINT) AS dot,
           CAST(coalesce(d.dot, 0) AS DOUBLE)
             / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE)))
             AS cosine
    FROM pairs p
    LEFT JOIN dots d ON d.doc_a = p.doc_a AND d.doc_b = p.doc_b
    JOIN norms na ON na.doc_id = p.doc_a
    JOIN norms nb ON nb.doc_id = p.doc_b
    """


def _near_dup_groups_sql(**kw) -> str:
    """Transitive near-dup groups oracle: candidate pairs -> undirected
    edges -> recursive min-label closure (group_id = min doc_id in the
    connected component), matching ``dedup.near_dup_groups``."""
    return f"""
    WITH RECURSIVE {_minhash_pairs_ctes(**kw)},
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION ALL SELECT doc_b, doc_a FROM pairs
    ), nodes AS (
      SELECT DISTINCT a AS v FROM edges
    ), reach(v, l) AS (
      SELECT v, v FROM nodes
      UNION
      SELECT e.b, r.l FROM reach r JOIN edges e ON e.a = r.v
    )
    SELECT v AS doc_id, min(l) AS group_id FROM reach GROUP BY v
    """


def _dedup_decisions_sql(**kw) -> str:
    """Composed dedup verdict oracle: exact keeper per md5(text) group,
    near keeper from the recursive min-label closure, same precedence
    as ``dedup.dedup_decisions`` (exact beats near beats keep)."""
    return f"""
    WITH RECURSIVE {_minhash_pairs_ctes(**kw)},
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION ALL SELECT doc_b, doc_a FROM pairs
    ), cnodes AS (
      SELECT DISTINCT a AS v FROM edges
    ), reach(v, l) AS (
      SELECT v, v FROM cnodes
      UNION
      SELECT e.b, r.l FROM reach r JOIN edges e ON e.a = r.v
    ), ngroups AS (
      SELECT v AS doc_id, min(l) AS near_keeper FROM reach GROUP BY v
    ), ex AS (
      SELECT doc_id,
             min(doc_id) OVER (PARTITION BY md5(text)) AS exact_keeper
      FROM documents
    )
    SELECT ex.doc_id,
           CASE WHEN ex.exact_keeper <> ex.doc_id THEN ex.exact_keeper
                WHEN g.near_keeper IS NOT NULL
                     AND g.near_keeper <> ex.doc_id THEN g.near_keeper
                ELSE ex.doc_id END AS keeper_id,
           CASE WHEN ex.exact_keeper <> ex.doc_id THEN 'exact'
                WHEN g.near_keeper IS NOT NULL
                     AND g.near_keeper <> ex.doc_id THEN 'near'
                ELSE 'keep' END AS reason
    FROM ex LEFT JOIN ngroups g ON g.doc_id = ex.doc_id
    """


def _embedding_near_dups_sql(
    planes: list[list[float]], threshold: float, max_bucket: int = 10000
) -> str:
    """Near-dup pairs oracle: same literal hyperplanes -> same buckets;
    within-bucket pairs filtered by the identical cosine expression
    (list_dot_product == the sequential fold; norms precomputed in both
    engines)."""

    def dot(row):
        return "0.0 + " + " + ".join(
            f"v[{i + 1}] * ({c!r})" for i, c in enumerate(row)
        )

    bucket = " + ".join(
        f"(CASE WHEN ({dot(row)}) >= 0.0 THEN {1 << p} ELSE 0 END)"
        for p, row in enumerate(planes)
    )
    return f"""
    WITH c AS (
      SELECT vec_id, cast(embedding AS DOUBLE[]) AS v FROM embeddings
    ), b AS (
      SELECT vec_id, v, ({bucket}) AS bucket,
             sqrt(list_dot_product(v, v)) AS nrm
      FROM c
    ), sized AS (
      SELECT vec_id, v, bucket, nrm FROM b
      QUALIFY count(*) OVER (PARTITION BY bucket) <= {max_bucket}
    )
    SELECT a.vec_id AS vec_a, bb.vec_id AS vec_b
    FROM sized a JOIN sized bb ON a.bucket = bb.bucket
    WHERE a.vec_id < bb.vec_id
      AND list_dot_product(a.v, bb.v) / (a.nrm * bb.nrm) >= {threshold!r}
    """


def _stopword_stats_sql() -> str:
    """Generated from the SAME stopword tuple the Spark operator uses."""
    hits = " + ".join(
        f"(len(string_split(p, ' {m} ')) - 1)"
        for m in textstats.STOPWORDS_EN
    )
    return f"""
    WITH s AS (
      SELECT doc_id,
             concat(' ', lower(text), ' ') AS p,
             CASE WHEN trim(text) = '' THEN 0
                  ELSE len(regexp_split_to_array(trim(text), '\\s+'))
             END AS nt
      FROM documents
    ), h AS (
      SELECT doc_id, nt, ({hits}) AS hits FROM s
    )
    SELECT doc_id,
           cast(nt AS BIGINT) AS n_tokens,
           cast(hits AS BIGINT) AS sw_hits,
           cast(CASE WHEN nt > 0 THEN floor((100 * hits) / nt) ELSE 0 END
                AS BIGINT) AS sw_ratio_x100
    FROM h
    """


def _image_phash_sql() -> str:
    """aHash oracle over the deterministic pixel stub: 64 'pixel'
    bytes = sha256(payload) || sha256(hex(sha256(payload))), bit i set
    iff 64*pixel_i >= sum(pixels) (integer-exact: the float mean is
    sum/64, a power-of-two division, so the comparison is equivalent),
    two's-complement via a negative bit-63 term."""
    byte_exprs = []
    for i in range(64):
        src, off = ("h1", i) if i < 32 else ("h2", i - 32)
        byte_exprs.append(
            f"cast(concat('0x', substr({src}, {2 * off + 1}, 2)) AS BIGINT)"
        )
    cols = ",\n             ".join(
        f"{e} AS b{i}" for i, e in enumerate(byte_exprs)
    )
    total = " + ".join(f"b{i}" for i in range(64))
    terms = " + ".join(
        f"(CASE WHEN 64 * b{i} >= s THEN "
        + (f"cast({1 << i} AS BIGINT)" if i < 63 else "cast(-9223372036854775807 - 1 AS BIGINT)")
        + " ELSE cast(0 AS BIGINT) END)"
        for i in range(64)
    )
    return f"""
    WITH d AS (
      SELECT doc_id AS asset_id, sha256(text) AS h1,
             sha256(sha256(text)) AS h2
      FROM documents
    ), b AS (
      SELECT asset_id,
             {cols}
      FROM d
    ), sb AS (
      SELECT *, ({total}) AS s FROM b
    )
    SELECT asset_id, ({terms}) AS phash FROM sb
    """


def _quality_verdicts_sql() -> str:
    """Composed Gopher-style filter stack oracle — assembled from the
    SAME pieces the individual oracles use (quality components,
    repetition CTEs, generated stopword hits)."""
    hits = " + ".join(
        f"(len(string_split(p, ' {m} ')) - 1)"
        for m in textstats.STOPWORDS_EN
    )
    return f"""
    WITH base AS (
      SELECT doc_id,
             concat(' ', lower(text), ' ') AS p,
             trim(text) AS tt,
             regexp_split_to_array(trim(text), '\\s+') AS t,
             length(text) AS nc,
             length(regexp_replace(text, '[^0-9]', '', 'g')) AS nd
      FROM documents
    ), q AS (
      SELECT doc_id,
             CASE WHEN tt = '' THEN 0 ELSE len(t) END AS nt,
             nc, nd, ({hits}) AS hits
      FROM base
    ), idx AS (
      SELECT doc_id, t,
             unnest(generate_series(1, greatest(len(t) - 2, 1))) AS i
      FROM base
    ), sh AS (
      SELECT doc_id, array_to_string(t[i:i+2], ' ') AS shingle
      FROM idx WHERE array_to_string(t[i:i+2], ' ') != ''
    ), grams AS (
      SELECT doc_id, count(*) AS n_ngrams,
             count(DISTINCT shingle) AS n_distinct_ngrams
      FROM sh GROUP BY 1
    ), modes AS (
      SELECT doc_id, max(c) AS top_tok_n FROM (
        SELECT doc_id, tok, count(*) AS c FROM (
          SELECT doc_id, unnest(t) AS tok FROM base
        ) WHERE tok != '' GROUP BY 1, 2
      ) GROUP BY 1
    ), v AS (
      SELECT q.doc_id,
             (q.nt < 5) AS too_short,
             (10 * q.nd > 3 * q.nc) AS digit_heavy,
             ((CASE WHEN q.nt > 0
                    THEN floor((100 * (q.nc - (q.nt - 1))) / q.nt)
                    ELSE 0 END) > 1500) AS long_tokens,
             (5 * coalesce(m.top_tok_n, 0) > q.nt
              OR 2 * coalesce(g.n_distinct_ngrams, 0)
                 < coalesce(g.n_ngrams, 0)) AS repetitive,
             (50 * q.hits < q.nt) AS low_stopword
      FROM q
      LEFT JOIN grams g ON g.doc_id = q.doc_id
      LEFT JOIN modes m ON m.doc_id = q.doc_id
    )
    SELECT doc_id, too_short, digit_heavy, long_tokens, repetitive,
           low_stopword,
           (NOT too_short AND NOT digit_heavy AND NOT long_tokens
            AND NOT repetitive AND NOT low_stopword) AS keep
    FROM v
    """


def _lang_guess_sql() -> str:
    """Marker-word language guess, generated from the SAME marker table
    the Spark operator uses (textstats.LID_MARKERS).  Occurrence counts
    via non-overlapping left-to-right split in both engines; tie-break
    priority = marker-table order."""
    langs = list(textstats.LID_MARKERS)

    def score(lang: str) -> str:
        return " + ".join(
            f"(len(string_split(p, ' {m} ')) - 1)"
            for m in textstats.LID_MARKERS[lang]
        )

    sc = ",\n             ".join(f"({score(l)}) AS s_{l}" for l in langs)
    best = "greatest(" + ", ".join(f"s_{l}" for l in langs) + ")"
    cases = "\n                ".join(
        f"WHEN s_{l} = {best} THEN '{l}'" for l in langs
    )
    return f"""
    WITH s AS (
      SELECT doc_id, concat(' ', lower(text), ' ') AS p FROM documents
    ), sc AS (
      SELECT doc_id,
             {sc}
      FROM s
    )
    SELECT doc_id,
           CASE WHEN {best} = 0 THEN 'und'
                {cases}
                ELSE 'und' END AS lang_pred
    FROM sc
    """


def _knn_lsh_sql(
    planes: list[list[float]], k: int = 5, probe_max: int = 20
) -> str:
    """ANN-LSH oracle: the hyperplane components are the SAME float
    literals the Spark plan uses (repr round-trips doubles exactly) and
    the dot product is the same left-to-right add chain, so sign bits —
    hence buckets — match bit-exactly.  Ranking mirrors knn_cosine."""

    def dot(row):
        return "0.0 + " + " + ".join(
            f"v[{i + 1}] * ({c!r})" for i, c in enumerate(row)
        )

    bucket = " + ".join(
        f"(CASE WHEN ({dot(row)}) >= 0.0 THEN {1 << p} ELSE 0 END)"
        for p, row in enumerate(planes)
    )
    return f"""
    WITH c AS (
      SELECT vec_id, cast(embedding AS DOUBLE[]) AS v FROM embeddings
    ), b AS (
      SELECT vec_id, v, ({bucket}) AS bucket FROM c
    ), p AS (
      SELECT vec_id AS pid, v AS pv, bucket AS pb
      FROM b WHERE vec_id < {probe_max}
    ), s AS (
      SELECT p.pid AS probe_id, b.vec_id AS neighbor_id,
             list_dot_product(p.pv, b.v)
             / (sqrt(list_dot_product(p.pv, p.pv))
                * sqrt(list_dot_product(b.v, b.v))) AS cosine
      FROM p JOIN b ON b.bucket = p.pb WHERE b.vec_id != p.pid
    ), r AS (
      SELECT probe_id, neighbor_id,
             row_number() OVER (PARTITION BY probe_id
                                ORDER BY cosine DESC, neighbor_id) AS rn
      FROM s
    )
    SELECT probe_id, rn AS rank, neighbor_id FROM r WHERE rn <= {k}
    """


def _knn_pq_sql(
    books: list[list[list[float]]], k: int = 5, probe_max: int = 20
) -> str:
    """PQ oracle: codebook components are the SAME float literals the
    Spark plan uses and every distance is the same left-to-right add
    chain, so codes (argmin) and ADC sums match bit-exactly.  The
    probe's per-subspace distance lists double as the lookup tables."""
    m = len(books)
    sd = len(books[0][0])

    def dist(j: int, centroid: list[float]) -> str:
        terms = " + ".join(
            f"(v[{j * sd + i + 1}] - ({c!r})) * (v[{j * sd + i + 1}] - ({c!r}))"
            for i, c in enumerate(centroid)
        )
        return f"0.0 + {terms}"

    def dlist(j: int) -> str:
        return "[" + ", ".join(dist(j, c) for c in books[j]) + "]"

    lists = ",\n             ".join(
        f"{dlist(j)} AS l{j}" for j in range(m)
    )
    codes = ", ".join(
        f"list_position(l{j}, list_min(l{j})) AS code{j}" for j in range(m)
    )
    adc = " + ".join(f"p.l{j}[e.code{j}]" for j in range(m))
    return f"""
    WITH c AS (
      SELECT vec_id, cast(embedding AS DOUBLE[]) AS v FROM embeddings
    ), lst AS (
      SELECT vec_id, v,
             {lists}
      FROM c
    ), enc AS (
      SELECT vec_id, {codes} FROM lst
    ), p AS (
      SELECT vec_id AS probe_id, {", ".join(f"l{j}" for j in range(m))}
      FROM lst WHERE vec_id < {probe_max}
    ), s AS (
      SELECT p.probe_id, e.vec_id AS neighbor_id,
             0.0 + {adc} AS approx_dist
      FROM p JOIN enc e ON e.vec_id != p.probe_id
    ), r AS (
      SELECT probe_id, neighbor_id, approx_dist,
             row_number() OVER (PARTITION BY probe_id
                                ORDER BY approx_dist ASC, neighbor_id) AS rn
      FROM s
    )
    SELECT probe_id, rn AS rank, neighbor_id
    FROM r WHERE rn <= {k}
    """


# ---------------------------------------------------------------------------
# Round-4 queries: web/domain ops, span-level dedup, JSON extraction,
# weighted stratified caps, streaming ANN, sharded Bloom state
# ---------------------------------------------------------------------------

# Deterministic URL reconstruction for the domain operators: the sf
# documents table carries no URL column, so BOTH engines synthesize the
# same absolute URL from (source, doc_id) — the operator under test is
# the host/registered-domain extraction + rollup, not the literal.
# (A function, not a module constant: Column construction needs an
# active SparkContext, and this module imports Spark-free.)
def _url_expr():
    return F.concat(
        F.lit("https://sub"),
        (F.col("doc_id") % 3).cast("string"),
        F.lit("."),
        F.col("source"),
        F.lit("-site.org/p/"),
        F.col("doc_id").cast("string"),
    )


def q_domain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-registered-domain rollup (operators/webtext.py): host via the
    portable URL regex, domain = last two labels, integer aggregates."""
    from kelos_on_kafka_spark.operators.webtext import domain_stats

    docs = _t(spark, sf_dir, "documents").withColumn("url", _url_expr())
    return domain_stats(docs)


def q_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'At most 10 pages per registered domain' by portable hash order
    (webtext.domain_capped -> sampling.stratified_cap)."""
    from kelos_on_kafka_spark.operators.webtext import domain_capped

    docs = _t(spark, sf_dir, "documents").withColumn("url", _url_expr())
    return domain_capped(docs, max_per_domain=10).select(
        "doc_id", "domain", "sample_rank"
    )


def q_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style span-level dedup verdicts: global first occurrence of
    every 8-token span keeps it; all later occurrences are dups
    (dedup.span_dedup_verdicts — one shuffle on the span digest)."""
    return dedup.span_dedup_verdicts(
        _t(spark, sf_dir, "documents"), span_tokens=8
    ).select(
        "doc_id", "span_idx", "span_h", "keeper_doc", "keeper_idx", "is_dup"
    )


def q_span_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document span-dedup rewrite summary: span counts + md5 of
    the surviving spans re-joined in order (dedup.span_clean_docs)."""
    return dedup.span_clean_docs(_t(spark, sf_dir, "documents"), span_tokens=8)


def q_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed JSON extraction + relational rollup over the events props
    blob (operators/semistruct.py): parse once, aggregate integers."""
    from kelos_on_kafka_spark.operators.semistruct import props_stats

    return props_stats(_t(spark, sf_dir, "events"))


def q_weighted_strat_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language exact weighted sampling without replacement
    (sampling.weighted_stratified_cap): 10 docs per lang, weighted by
    the same length tier as weighted_sample — one window pass."""
    from kelos_on_kafka_spark.operators.sampling import (
        weighted_stratified_cap,
    )

    docs = _t(spark, sf_dir, "documents").withColumn(
        "wt",
        F.least(
            F.lit(1) + F.floor(F.col("n_chars") / F.lit(150)), F.lit(8)
        ).cast("int"),
    )
    return weighted_stratified_cap(
        docs, ["lang"], "doc_id", "wt", n=10
    ).select("doc_id", "lang", "priority", "sample_rank")


def _stream_knn(
    spark: SparkSession,
    sf_dir: str,
    topk: Callable[[DataFrame, DataFrame], DataFrame],
) -> DataFrame:
    """``topk(probes, corpus)`` on a stream of 20 probe vectors (event
    time spread over 4 one-hour windows) against the static embeddings
    corpus.  A zero-vector sentinel written after the probes advances
    the final watermark.  It must reach the watermark operator
    (filtering it out upstream would freeze the watermark and no window
    would close); its far-future window never closes, so it never
    reaches the sink."""
    emb = _t(spark, sf_dir, "embeddings")
    base_s = 1_700_000_000
    probes = _file_stream(
        spark,
        "probe_id long, ts timestamp, vec array<float>",
        emb.where(F.col("vec_id") < 20)
        .select(
            F.col("vec_id").alias("probe_id"),
            F.timestamp_seconds(
                F.lit(base_s) + (F.col("vec_id") % 4) * 3600
            ).alias("ts"),
            F.col("embedding").alias("vec"),
        )
        .coalesce(1)
        .sortWithinPartitions("probe_id"),
        spark.createDataFrame(
            [(999_999, base_s + 10 * 3600)], "probe_id long, sec long"
        ).select(
            "probe_id",
            F.timestamp_seconds("sec").alias("ts"),
            F.array_repeat(F.lit(0.0), 64).cast("array<float>").alias("vec"),
        ).coalesce(1),
        files_per_trigger=1,
    )
    return _drain(topk(probes, emb)).where(F.col("probe_id") < 20).select(
        F.unix_micros("window_start").alias("window_start_us"),
        "probe_id",
        "rank",
        "neighbor_id",
    )


def q_stream_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ANN (streaming/ann_stream.py): a stream of 20 probe
    vectors (event-time spread over 4 one-hour windows) against the
    static embeddings corpus, exact windowed top-5 cosine per probe,
    emitted on window close (append mode; sentinel advances the final
    watermark).  Ranking contract identical to batch knn_cosine."""
    from kelos_on_kafka_spark.streaming.ann_stream import stream_cosine_topk

    return _stream_knn(
        spark,
        sf_dir,
        lambda probes, emb: stream_cosine_topk(
            probes,
            emb,
            k=5,
            probe_id_col="probe_id",
            probe_vec_col="vec",
            ts_col="ts",
            window="1 hour",
        ),
    )


def q_stream_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-routed streaming ANN (streaming/ann_stream.stream_ivf_topk):
    same probe stream as stream_knn, but each probe joins only its
    nprobe=2 coarse cells of the pre-assigned corpus — the
    O(N·nprobe/n_cells) scale path, with the same deterministic cell
    quantizer as batch knn_ivf."""
    from kelos_on_kafka_spark.streaming.ann_stream import stream_ivf_topk

    return _stream_knn(
        spark,
        sf_dir,
        lambda probes, emb: stream_ivf_topk(
            probes, emb, k=5, n_cells=16, nprobe=2, window="1 hour"
        ),
    )


def q_stream_bloom_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sharded-state Bloom windowed dedup on the REAL stream: 4
    independent filters per pane keyed by the portable key hash
    (capacity x4, bounded state per shard).  Sized FP-free here, so the
    exact first-occurrence oracle applies — measured margin at the
    driver's sf0.01: max 27 distinct keys per (pane, shard) against
    2^18 bits, per-probe FP ~(4*27/2^18)^4 ~ 3e-14 (still ~3e-10 at 10x
    the keys); per-shard FP determinism under deliberate saturation is
    pinned by tests/test_bloom_dedup.py with a tiny filter."""
    from kelos_on_kafka_spark.streaming.bloom_dedup import stream_bloom_dedup

    pane_s = 21600
    stream = _file_stream(
        spark,
        "event_id long, ts timestamp, user_id bigint",
        _t(spark, sf_dir, "events")
        .select(
            "event_id",
            F.timestamp_micros(windowing.epoch_us("ts")).alias("ts"),
            "user_id",
        )
        .coalesce(1)
        .sortWithinPartitions("ts", "event_id"),
        files_per_trigger=1,
    )
    return _drain(
        stream_bloom_dedup(
            stream,
            key_col="user_id",
            ts_col="ts",
            id_col="event_id",
            pane_seconds=pane_s,
            n_bits=1 << 18,
            k=4,
            n_state_shards=4,
        )
    ).select("pane_id", "key_h1", "row_id", "ts_us")


def q_norm_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup modulo normalization (textstats.normalized_dup_groups):
    lower/strip-punct/collapse-whitespace canonical form, md5 grouped —
    catches the variants byte-exact dedup misses at the same cost."""
    return textstats.normalized_dup_groups(_t(spark, sf_dir, "documents"))


def q_cube_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE rollup (day x event_type, all four grouping sets) with
    integer/decimal-exact aggregates — the full-lattice OLAP companion
    to rollup_panes' GROUPING SETS."""
    ev = _t(spark, sf_dir, "events").select(
        windowing.pane_id("ts", 86400).alias("day_id"),
        "event_type",
        "value",
    )
    return ev.cube("day_id", "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_value"),
        F.grouping_id().cast("long").alias("gid"),
    ).select(
        F.coalesce(F.col("day_id"), F.lit(-1)).alias("day_id"),
        F.coalesce(F.col("event_type"), F.lit("ALL")).alias("event_type"),
        "gid",
        "n_events",
        "sum_value",
    )


def q_image_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual (average) hash per media asset
    (multimodal.image_phash over the deterministic pixel stub; inject a
    Pillow-backed pixel_decoder in deployment).  The oracle reproduces
    the stub's chained-sha256 pixels and the integer-exact aHash in
    SQL; pair with dedup.hamming_near_dup_pairs for perceptual
    near-dup detection of re-encoded copies."""
    from kelos_on_kafka_spark.operators.multimodal import image_phash

    media = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("asset_id"),
        F.encode(F.col("text"), "utf-8").alias("payload"),
    )
    return image_phash(media)


def q_quality_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed Gopher-style filter stack (textstats.filter_verdicts):
    one row per doc with every rule boolean and the final keep — the
    quality-filter analogue of dedup_decisions; single projection pass,
    zero shuffles."""
    return textstats.filter_verdicts(_t(spark, sf_dir, "documents"))


def q_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shape: order revenue (sum extendedprice*(1-discount),
    computed exactly in DECIMAL on both engines) over an orders ⋈
    lineitem join, top-10 by revenue with a deterministic tiebreak —
    the classic join + agg + top-n SQL surface."""
    from pyspark.sql.window import Window

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    li = _t(spark, sf_dir, "lineitem")
    rev = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderkey", "o_orderpriority")
        .agg(
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,2)")
                * (
                    F.lit(1).cast("decimal(18,2)")
                    - F.col("l_discount").cast("decimal(18,2)")
                )
            )
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )
    # global top-10 via TakeOrdered (map-side partial top-n, no
    # single-task global window sort); rank assigned over the 10
    # survivors only
    top = rev.orderBy(
        F.col("revenue").desc(), F.col("o_orderkey").asc()
    ).limit(10)
    w = Window.orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc())
    return top.withColumn("rank", F.row_number().over(w)).select(
        "rank", "o_orderkey", "o_orderpriority", "revenue", "n_items"
    )


def q_session_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event session-id enrichment (windowing.assign_session_ids):
    every event tagged with its user's 1-based session index and the
    session start epoch — the join-key form of session_windows."""
    from kelos_on_kafka_spark.operators.windowing import assign_session_ids

    return assign_session_ids(
        _t(spark, sf_dir, "events"),
        ts_col="ts",
        key_cols=["user_id"],
        gap_seconds=1800,
        id_col="event_id",
    )


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-snapshot delta (plans/maintenance.snapshot_diff):
    added/removed/changed/unchanged per doc between two deterministic
    variants of the documents table — both engines build the same two
    snapshots, the operator under test is the fingerprint full-outer
    diff (content never shuffles, only 16-byte digests)."""
    from kelos_on_kafka_spark.plans.maintenance import snapshot_diff

    docs = _t(spark, sf_dir, "documents")
    old = docs.where(F.col("doc_id") % 7 != 0)
    new = docs.where(F.col("doc_id") % 11 != 0).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 5 == 0, F.concat(F.col("text"), F.lit(" v2"))
        ).otherwise(F.col("text")),
    )
    return snapshot_diff(old, new, ["doc_id"])


def q_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generalized k-step funnel (temporal.funnel_steps): leftmost-
    greedy click -> view -> purchase within 2 days, one shuffle + three
    chained window passes, no self-joins."""
    from kelos_on_kafka_spark.operators.temporal import funnel_steps

    return funnel_steps(
        _t(spark, sf_dir, "events"),
        key_col="user_id",
        ts_col="ts",
        type_col="event_type",
        steps=["click", "view", "purchase"],
        within_us=2 * DAY_US,
    )


def q_stream_session_dynamic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC-gap session windows on the REAL stream (purchases hold a
    session open 1h, everything else 30min): Spark's session_window
    with a Column gap under a watermark — sessions emit exactly once on
    close; the sentinel advances the final watermark past every real
    session.  Same oracle as the batch session_dynamic_gap."""
    from kelos_on_kafka_spark.streaming import relational

    row = (
        _t(spark, sf_dir, "events")
        .agg(F.max(windowing.epoch_us("ts")).alias("hi"))
        .first()
    )
    sentinel_us = int(row["hi"]) + 10 * 3600 * 1_000_000
    stream = _file_stream(
        spark,
        "event_id long, user_id bigint, event_type string, ts timestamp",
        _t(spark, sf_dir, "events")
        .select(
            "event_id",
            "user_id",
            "event_type",
            F.timestamp_micros(windowing.epoch_us("ts")).alias("ts"),
        )
        .coalesce(1)
        .sortWithinPartitions("ts", "event_id"),
        spark.createDataFrame(
            [(999_999_999, 999_999, "view", sentinel_us)],
            "event_id long, user_id bigint, event_type string, us long",
        ).select(
            "event_id",
            "user_id",
            "event_type",
            F.timestamp_micros("us").alias("ts"),
        ).coalesce(1),
        files_per_trigger=1,
    )
    gap = F.when(
        F.col("event_type") == "purchase", F.lit("1 hour")
    ).otherwise(F.lit("30 minutes"))
    out = relational.stream_session_windows(
        stream, ts_col="ts", key_col="user_id", gap=gap
    )
    return _drain(out).where(F.col("user_id") != 999_999).select(
        "user_id",
        F.unix_micros("session_start").alias("session_start_us"),
        F.unix_micros("session_end").alias("session_end_us"),
        "n_events",
    )


def q_stream_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic streaming downsampling (streaming/topn_stream.py):
    at most 20 events per 12h pane by portable-hash priority, O(n)
    state per pane, emitted on watermark close.  Priorities stay LONG
    end-to-end (a double value column would round 60-bit hashes), so
    the exact per-pane hash-order oracle applies.  Staging pattern =
    q_stream_topn (range-partitioned sorted files + span watermark +
    sentinel)."""
    pane_s = 43200
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        (windowing.epoch_us("ts") / F.lit(1_000_000))
        .cast("long")
        .alias("sec"),
    )
    row = ev.agg(F.min("sec").alias("lo"), F.max("sec").alias("hi")).first()
    span_s = int(row["hi"] - row["lo"]) + pane_s
    sentinel_pane = int(row["hi"] // pane_s + 2)
    sentinel_sec = sentinel_pane * pane_s + span_s
    stream = _file_stream(
        spark,
        "event_id long, ts timestamp",
        ev.repartitionByRange(4, "sec")
        .sortWithinPartitions("sec", "event_id")
        .select("event_id", F.timestamp_seconds("sec").alias("ts")),
        spark.createDataFrame(
            [(999_999_999, sentinel_sec)], "event_id long, sec long"
        ).select(
            "event_id", F.timestamp_seconds("sec").alias("ts")
        ).coalesce(1),
    )

    from kelos_on_kafka_spark.streaming.topn_stream import (
        stream_pane_sample,
    )

    return _drain(
        stream_pane_sample(
            stream,
            n=20,
            pane_seconds=pane_s,
            watermark_delay=f"{span_s} seconds",
        )
    ).where(
        F.col("pane_id") < F.lit(sentinel_pane)
    ).select("pane_id", "sample_rank", "row_id", "priority")


def q_stream_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming funnel (streaming/funnel_stream.py): the
    k-step greedy chain as O(k)-state-per-key applyInPandasWithState,
    emitting a key's row the moment its chain completes within the
    deadline; deadline-passed state is watermark-evicted.  Oracle: the
    batch funnel's matched rows (single sorted staging file = in-order
    arrival, the contract the operator documents)."""
    from kelos_on_kafka_spark.streaming.funnel_stream import stream_funnel

    stream = _file_stream(
        spark,
        "event_id long, user_id bigint, ts timestamp, event_type string",
        _t(spark, sf_dir, "events")
        .select(
            "event_id",
            "user_id",
            F.timestamp_micros(windowing.epoch_us("ts")).alias("ts"),
            "event_type",
        )
        .coalesce(1)
        .sortWithinPartitions("ts", "event_id"),
        files_per_trigger=1,
    )
    return _drain(
        stream_funnel(
            stream,
            key_col="user_id",
            ts_col="ts",
            type_col="event_type",
            steps=["click", "view", "purchase"],
            within_us=2 * DAY_US,
        )
    ).select(
        "key", "s0_us", "s1_us", "s2_us", "matched", "duration_us"
    )


def q_kelos_topn_epan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KELOS top-N under the Epanechnikov kernel option
    (core.KERNELS / KelosConfig.kernel — compact-support extension;
    rows-only like the other KELOS queries, values pinned vs the NumPy
    oracle by tests/test_epanechnikov.py)."""
    cfg = KelosConfig(n=10, kernel="epanechnikov")
    pts = _kelos_points(spark, sf_dir, per_pane=100)
    return detect_outliers(pts, cfg).select(
        "window_id", "rank", "point_id", "klome", "density"
    )


# ---------------------------------------------------------------------------
# Round-5 operators: n-gram LM scoring, incremental dedup, outage gaps,
# sessionized engagement, cluster occupancy, histogram drift, chained
# streaming rollup
# ---------------------------------------------------------------------------


def q_bigram_rarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram-frequency 'perplexity proxy' (operators/lm.py):
    per-doc min/sum/mean corpus frequency of its word bigrams —
    integer-first so the hash is engine-exact (the one double is a
    single division of two exact counts)."""
    from kelos_on_kafka_spark.operators.lm import bigram_rarity

    return bigram_rarity(_t(spark, sf_dir, "documents"))


def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup a new crawl batch against the previous snapshot's digest
    table (dedup.incremental_dedup).  Fixture: old corpus = digests of
    doc_id % 3 == 0 originals; new batch = all docs with doc_id % 11
    == 0 texts collapsed to one boilerplate page — exercises all three
    statuses (seen / keep / batch_dup)."""
    docs = _t(spark, sf_dir, "documents")
    new_batch = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 11 == 0, F.lit("BOILERPLATE PAGE")
        ).otherwise(F.col("text")).alias("text"),
    )
    old = docs.where(F.col("doc_id") % 3 == 0).select(
        F.md5("text").alias("digest")
    )
    return dedup.incremental_dedup(new_batch, old)


def _synth_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic messy-URL fixture over documents (the table has
    no url column): scheme/host case, default and explicit ports,
    trailing slashes, tracking params, shuffled param order, fragments
    — every rule canonical_url normalizes.  The same expression is
    spelled in the oracle SQL so both engines canonicalize identical
    inputs."""
    d = F.col("doc_id")
    url = F.concat(
        F.lit("HTTP"),
        F.when(d % 2 == 0, F.lit("S")).otherwise(F.lit("")),
        F.lit("://"),
        F.when(d % 3 == 0, F.lit("WWW.")).otherwise(F.lit("www.")),
        F.col("source"),
        F.lit(".Com"),
        F.when(d % 2 == 0, F.lit(":443"))
        .when(d % 5 == 0, F.lit(":8080"))
        .otherwise(F.lit("")),
        F.lit("/Articles/"),
        (d % 40).cast("string"),
        F.when(d % 4 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(d % 6 == 0, F.lit("?utm_source=feed&b=2&a=1"))
        .when(d % 6 == 1, F.lit("?b=2&a=1"))
        .when(d % 6 == 2, F.lit("?a=1&b=2&gclid=xyz"))
        .otherwise(F.lit("")),
        F.when(d % 7 == 0, F.lit("#Section-2")).otherwise(F.lit("")),
    )
    return _t(spark, sf_dir, "documents").select(
        "doc_id", url.alias("url")
    )


def q_canonical_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-level dedup (webtext.canonical_url_dedup): canonicalize and
    group — case, default ports, fragments, tracking params, param
    order and trailing slashes all collapse; one row per canonical key
    with variant count and min-id keeper."""
    from kelos_on_kafka_spark.operators.webtext import canonical_url_dedup

    return canonical_url_dedup(_synth_urls(spark, sf_dir))


def q_equidepth_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type equi-depth histogram of event values
    (windowing.equidepth_histogram): ntile(8) over (value, event_id) —
    deterministic total order, observed lo/hi bounds, zero float
    arithmetic."""
    return windowing.equidepth_histogram(
        _t(spark, sf_dir, "events"),
        ["event_type"],
        "value",
        n_buckets=8,
        id_col="event_id",
    )


def q_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-ranked corpus vocabulary (textstats.build_vocab):
    whitespace tokens with count >= 5, ids by (count desc, token asc)
    — byte-reproducible tokenizer/embedding vocab."""
    from kelos_on_kafka_spark.operators.textstats import build_vocab

    return build_vocab(
        _t(spark, sf_dir, "documents"), min_count=5
    )


def q_encode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-id encoding of the corpus against its own vocab
    (textstats.encode_tokens over build_vocab min_count=5 — the same
    vocab as the ``vocab`` query): long-format (doc_id, pos, token,
    token_id) with OOV -> -1, the encoded stream chunking/packing
    consume.  Broadcast vocab join — the exploded token stream never
    shuffles."""
    from kelos_on_kafka_spark.operators.textstats import (
        build_vocab,
        encode_tokens,
    )

    docs = _t(spark, sf_dir, "documents")
    return encode_tokens(docs, build_vocab(docs, min_count=5))


def q_packed_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized packed training sequences
    (chunking.pack_token_ids): the encoded corpus (same min_count=5
    vocab as ``vocab``/``encode_tokens``) laid end-to-end per source
    shard and cut every 256 ids — one row per (part, seq_id) with the
    md5 of the comma-joined ids.  The model-input layout the whole
    vocab -> encode -> pack path exists to produce."""
    from kelos_on_kafka_spark.operators.chunking import pack_token_ids
    from kelos_on_kafka_spark.operators.textstats import build_vocab

    docs = _t(spark, sf_dir, "documents")
    return pack_token_ids(
        docs, build_vocab(docs, min_count=5), max_tokens=256
    )


def q_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc OOV rate vs the corpus vocab (textstats.oov_stats,
    min_count=5 — the same vocab as the ``vocab`` query): the
    gibberish/misencoding quality gate.  Docs whose every token is
    rare score 1.0; empty docs keep a row with NULL rate."""
    from kelos_on_kafka_spark.operators.textstats import oov_stats

    return oov_stats(_t(spark, sf_dir, "documents"), min_count=5)


def q_adaptive_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adaptive per-language length gate
    (textstats.adaptive_length_filter): keep docs at/above their
    lang's p10 token count — thresholds follow each group instead of
    one global cutoff deleting low-resource languages."""
    from kelos_on_kafka_spark.operators.textstats import (
        adaptive_length_filter,
    )

    return adaptive_length_filter(
        _t(spark, sf_dir, "documents"), pct=0.1
    )


def q_stream_incr_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming incremental dedup
    (streaming/incr_dedup_stream.stream_incremental_dedup): the
    q_incremental_dedup fixture run as a STREAM against the static
    old-corpus digest table — statuses seen (history join) / keep
    (first stream arrival) / batch_dup.  Event time = doc_id seconds,
    files staged in event-time order so keeper = min doc_id (the
    stream_dedup_exact arrival contract); oracle = the batch ranking
    SQL."""
    from kelos_on_kafka_spark.streaming.incr_dedup_stream import (
        stream_incremental_dedup,
    )

    BASE = 1_700_000_000
    docs = _t(spark, sf_dir, "documents")
    new_batch = docs.select(
        "doc_id",
        F.timestamp_seconds(F.lit(BASE) + F.col("doc_id")).alias("ts"),
        F.when(
            F.col("doc_id") % 11 == 0, F.lit("BOILERPLATE PAGE")
        ).otherwise(F.col("text")).alias("text"),
    )
    history = docs.where(F.col("doc_id") % 3 == 0).select(
        F.md5("text").alias("digest")
    )
    n_docs = docs.agg(F.max("doc_id")).first()[0] + 1
    step = (n_docs + 2) // 3
    stream = _file_stream(
        spark,
        "doc_id long, ts timestamp, text string",
        *(
            new_batch.where(
                (F.col("doc_id") >= i * step)
                & (F.col("doc_id") < (i + 1) * step)
            )
            .coalesce(1)
            .sortWithinPartitions("ts", "doc_id")
            for i in range(3)
        ),
        files_per_trigger=1,
    )
    return _drain(
        stream_incremental_dedup(
            stream,
            history,
            horizon_us=10**15,
            watermark_delay=f"{2 * n_docs} seconds",
        )
    )


def q_event_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user silence gaps > 1h (temporal.detect_gaps): feed-health /
    outage detection, the inverse of sessionization under the same
    strict-> boundary convention."""
    from kelos_on_kafka_spark.operators.temporal import detect_gaps

    return detect_gaps(
        _t(spark, sf_dir, "events"), "ts", ["user_id"], HOUR_US
    )


def _synth_html_pages(d: DataFrame) -> DataFrame:
    """Deterministic synthetic-HTML fixture shared by the link
    queries: each document's page body is its text wrapped in <p>
    plus ``doc_id % 4`` anchor tags with host
    d{(doc_id*31+i) % 97}.example.com — the input_hint html column
    shape, synthesized in-engine (no external data).  The oracles
    derive expected outputs from this FORMULA directly, so any defect
    in the href extraction, host regex or token accounting
    mismatches."""
    n = (F.col("doc_id") % 4).cast("long")
    anchors = F.when(
        n >= 1,
        F.array_join(
            F.transform(
                F.sequence(F.lit(1).cast("long"), n),
                lambda i: F.concat(
                    F.lit('<a href="https://d'),
                    ((F.col("doc_id") * 31 + i) % 97).cast("string"),
                    F.lit(".example.com/p"),
                    F.col("doc_id").cast("string"),
                    F.lit('">t</a>'),
                ),
            ),
            "",
        ),
    ).otherwise(F.lit(""))
    return d.select(
        "doc_id",
        "text",
        F.concat(
            F.lit("<html><body><p>"),
            F.coalesce(F.col("text"), F.lit("")),
            F.lit("</p>"),
            anchors,
            F.lit("</body></html>"),
        ).alias("html"),
    )


def q_link_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-page outlink stats (webtext.link_stats) over the
    deterministic synthetic-HTML fixture (_synth_html_pages):
    n_links, distinct hosts and links-per-token density, all from
    one shuffle-free projection."""
    from kelos_on_kafka_spark.operators.webtext import link_stats

    return link_stats(_synth_html_pages(_t(spark, sf_dir, "documents")))


def q_outlink_domains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-level inlink rollup (webtext.extract_links -> host ->
    groupBy): n_inlinks + n_pages per target host over the same
    synthetic-HTML fixture — the crawl-frontier / spam-prior
    aggregation, exercising the exploded link path end-to-end
    (posexplode_outer's NULL rows for linkless pages are filtered
    before the rollup)."""
    from kelos_on_kafka_spark.operators.webtext import (
        extract_links,
        url_host,
    )

    links = extract_links(
        _synth_html_pages(_t(spark, sf_dir, "documents"))
    ).where(F.col("link").isNotNull())
    return links.groupBy(url_host("link").alias("host")).agg(
        F.count(F.lit(1)).alias("n_inlinks"),
        F.countDistinct("doc_id").alias("n_pages"),
    )


def q_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily sessionized engagement metrics (webtext.bounce_rate):
    sessions as strict-> 30-min islands per user, bounce = 1-event
    session, attributed to the UTC day of the session start."""
    from kelos_on_kafka_spark.operators.webtext import bounce_rate

    return bounce_rate(_t(spark, sf_dir, "events"))


def q_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means-assignment occupancy report over the embedding corpus
    (similarity.cluster_sizes): every vector to its nearest of 8
    deterministic centroids (the IVF quantizer), integer-only output."""
    return similarity.cluster_sizes(
        _t(spark, sf_dir, "embeddings"), n_cells=8
    )


def q_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group cardinality report (maintenance.cardinality_stats):
    rows + EXACT distinct users per (event_type, UTC day) — the
    table-stats primitive.  Exact count(DISTINCT) is the oracle
    contract; exact=False swaps in the HyperLogLog++ sketch
    (fixed-size mergeable state, tests/test_round6_ops.py bounds its
    error)."""
    from kelos_on_kafka_spark.plans.maintenance import cardinality_stats

    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.expr(
            "timestampdiff(MICROSECOND, CAST('1970-01-01 00:00:00' AS "
            "TIMESTAMP_NTZ), CAST(ts AS TIMESTAMP_NTZ)) div 86400000000"
        ).alias("day_id"),
        "user_id",
    )
    return cardinality_stats(
        ev, ["event_type", "day_id"], "user_id", exact=True
    )


def q_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram drift between two event slices
    (maintenance.distribution_drift): fixed [0,100) buckets over
    ``value``, split by event_id parity — the per-snapshot data-quality
    gate."""
    from kelos_on_kafka_spark.plans.maintenance import distribution_drift

    ev = _t(spark, sf_dir, "events")
    return distribution_drift(
        ev.where(F.col("event_id") % 2 == 0),
        ev.where(F.col("event_id") % 2 == 1),
        "value",
        0.0,
        100.0,
        10,
    )


def q_stream_chained_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHAINED stateful streaming aggregation
    (relational.stream_chained_window_agg): 10-min pane counts per
    event_type feeding an hourly rollup of pane statistics inside ONE
    streaming query (two watermark-driven stateful operators, the
    Spark >= 3.4 multi-stateful path).  Staging = q_stream_topn's
    distributed pattern (range-partitioned sorted files + span
    watermark + late sentinel)."""
    from kelos_on_kafka_spark.streaming.relational import (
        stream_chained_window_agg,
    )

    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        F.timestamp_micros(windowing.epoch_us("ts")).alias("ts"),
        "event_type",
    )
    row = ev.agg(
        F.min(F.unix_micros("ts")).alias("lo"),
        F.max(F.unix_micros("ts")).alias("hi"),
    ).first()
    span_s = int((row["hi"] - row["lo"]) // 1_000_000) + 3600
    sentinel_sec = int(row["hi"] // 1_000_000) + span_s + 4 * 3600
    stream = _file_stream(
        spark,
        "event_id long, ts timestamp, event_type string",
        ev.repartitionByRange(4, "ts").sortWithinPartitions("ts", "event_id"),
        spark.createDataFrame(
            [(999_999_999, sentinel_sec, "click")],
            "event_id long, sec long, event_type string",
        ).select(
            "event_id", F.timestamp_seconds("sec").alias("ts"), "event_type"
        ).coalesce(1),
    )
    out = stream_chained_window_agg(
        stream,
        pane="10 minutes",
        coarse="1 hour",
        watermark=f"{span_s} seconds",
    )
    return _drain(out).where(
        F.unix_micros("window_start")
        < F.lit((sentinel_sec - 3600) * 1_000_000)
    ).select(
        F.unix_micros("window_start").alias("window_start_us"),
        F.unix_micros("window_end").alias("window_end_us"),
        "event_type",
        "n_panes",
        "max_pane_count",
        "sum_pane_count",
    )


def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (operators/chunking.py):
    64-token chunks, stride 48; chunk text leaves the plan only as an
    md5 fingerprint."""
    from kelos_on_kafka_spark.operators.chunking import chunk_documents

    return chunk_documents(
        _t(spark, sf_dir, "documents"), chunk_tokens=64, stride=48
    )


def q_seq_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-split sequence packing (chunking.pack_sequences):
    docs laid end-to-end per source shard, cut every 256 tokens; each
    doc reports (seq_id, seq_offset) of its first token."""
    from kelos_on_kafka_spark.operators.chunking import pack_sequences

    return pack_sequences(
        _t(spark, sf_dir, "documents"), max_tokens=256, part_col="source"
    )


def q_scd2_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 dimension merge (maintenance.scd2_apply): customer
    mktsegment as the open dimension (valid from epoch 0), order
    priorities as the change batch keyed by custkey — chained versions
    per key, MAX_LONG-open rows."""
    from kelos_on_kafka_spark.plans.maintenance import scd2_apply

    cur = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("key"),
        F.col("c_mktsegment").alias("attr"),
        F.lit(0).cast("long").alias("valid_from_us"),
    )
    ch = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("key"),
        F.col("o_orderpriority").alias("attr"),
        windowing.epoch_us("o_orderdate").alias("ts_us"),
        F.col("o_orderkey").alias("change_id"),
    )
    return scd2_apply(cur, ch)


def q_cdc_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changelog compaction (maintenance.cdc_compact): events as a CDC
    stream per user — last op wins (ts, id tiebreak), 'error' as the
    tombstone op; one row per live user."""
    from kelos_on_kafka_spark.plans.maintenance import cdc_compact

    return cdc_compact(
        _t(spark, sf_dir, "events"),
        key_col="user_id",
        ts_col="ts",
        id_col="event_id",
        delete_predicate=F.col("event_type") == "error",
        payload_cols=["value"],
    )


def q_stream_cdc_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CDC loop end-to-end in ONE streaming query (VERDICT r5 #3):
    per-pane upsert/tombstone deltas (relational.stream_cdc_pane_state
    with emit_deletes=True) feed the CDC-merge sink
    (streaming.sink.write_cdc_table_stream ->
    maintenance.merge_cdc_delta), materializing a keyed parquet table
    that must equal the BATCH compaction of the full changelog — the
    oracle is exactly cdc_state's SQL.  Sentinel key -1 closes the
    panes and is filtered from the returned table."""
    from kelos_on_kafka_spark.streaming.relational import (
        stream_cdc_pane_state,
    )
    from kelos_on_kafka_spark.streaming.sink import write_cdc_table_stream

    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        F.timestamp_micros(windowing.epoch_us("ts")).alias("ts"),
        "user_id",
        (F.col("event_type") == "error").alias("is_del"),
        "value",
    )
    row = ev.agg(
        F.min(F.unix_micros("ts")).alias("lo"),
        F.max(F.unix_micros("ts")).alias("hi"),
    ).first()
    span_s = int((row["hi"] - row["lo"]) // 1_000_000) + 43200
    sentinel_sec = int(row["hi"] // 1_000_000) + span_s + 4 * 43200
    stream = _file_stream(
        spark,
        "event_id long, ts timestamp, user_id long, "
        "is_del boolean, value double",
        ev.repartitionByRange(4, "ts").sortWithinPartitions("ts", "event_id"),
        spark.createDataFrame(
            [(999_999_999, sentinel_sec, -1, False, 0.0)],
            "event_id long, sec long, user_id long, is_del boolean, value double",
        ).select(
            "event_id", F.timestamp_seconds("sec").alias("ts"),
            "user_id", "is_del", "value",
        ).coalesce(1),
    )
    delta = stream_cdc_pane_state(
        stream,
        "user_id",
        "ts",
        "event_id",
        "is_del",
        ["value"],
        pane="12 hours",
        watermark=f"{span_s} seconds",
        emit_deletes=True,
    )
    # the returned frame reads the table lazily, so it lives under the
    # process's staging root
    base = _scratch()
    table = f"{base}/table"
    _await(
        write_cdc_table_stream(
            delta,
            table,
            f"{base}/ckpt",
            key_col="user_id",
            order_cols=["ts", "id"],
            n_buckets=8,
            trigger={"availableNow": True},
        )
    )
    return spark.read.parquet(table).where(F.col("user_id") >= 0).select(
        F.col("user_id").alias("key"),
        "id",
        F.unix_micros("ts").alias("ts_us"),
        "value",
    )


def q_stream_cdc_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming per-pane CDC compaction
    (relational.stream_cdc_pane_state): last op per (12h pane, user)
    wins, 'error' tombstones emit nothing, pane delta emitted on
    watermark close — the upsert feed a downstream MERGE applies.
    Staging = the q_stream_topn distributed pattern."""
    from kelos_on_kafka_spark.streaming.relational import (
        stream_cdc_pane_state,
    )

    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        F.timestamp_micros(windowing.epoch_us("ts")).alias("ts"),
        "user_id",
        (F.col("event_type") == "error").alias("is_del"),
        "value",
    )
    row = ev.agg(
        F.min(F.unix_micros("ts")).alias("lo"),
        F.max(F.unix_micros("ts")).alias("hi"),
    ).first()
    span_s = int((row["hi"] - row["lo"]) // 1_000_000) + 43200
    sentinel_sec = int(row["hi"] // 1_000_000) + span_s + 4 * 43200
    stream = _file_stream(
        spark,
        "event_id long, ts timestamp, user_id long, "
        "is_del boolean, value double",
        ev.repartitionByRange(4, "ts").sortWithinPartitions("ts", "event_id"),
        spark.createDataFrame(
            [(999_999_999, sentinel_sec, 0, False, 0.0)],
            "event_id long, sec long, user_id long, is_del boolean, value double",
        ).select(
            "event_id", F.timestamp_seconds("sec").alias("ts"),
            "user_id", "is_del", "value",
        ).coalesce(1),
    )
    out = stream_cdc_pane_state(
        stream,
        "user_id",
        "ts",
        "event_id",
        "is_del",
        ["value"],
        pane="12 hours",
        watermark=f"{span_s} seconds",
    )
    return _drain(out).where(
        F.unix_micros("window_start")
        < F.lit((sentinel_sec - 43200) * 1_000_000)
    ).select(
        F.unix_micros("window_start").alias("window_start_us"),
        F.unix_micros("window_end").alias("window_end_us"),
        "user_id",
        "id",
        F.unix_micros("ts").alias("ts_us"),
        "value",
    )


def q_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-filtered exact Jaccard join
    (dedup.ngram_jaccard_prefix_pairs, PPJoin/AllPairs family):
    result-identical to the plain inverted-index join at t = 3/10 —
    the lossless-pruning alternative to the df-cap; oracle is the
    plain relational form."""
    return dedup.ngram_jaccard_prefix_pairs(
        _t(spark, sf_dir, "documents"),
        jaccard_num=3,
        jaccard_den=10,
        # VERDICT r6 #1: the freq/rank/prefix-index joins move xxhash64
        # longs instead of shingle strings; verification recomputes the
        # exact intersection, so the result is unchanged (identity with
        # the string path pinned in tests/test_round7_perf.py)
        hash_shingles=True,
    )


def q_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle-containment near-dup pairs
    (dedup.containment_pairs): |A∩B| / min(|A|,|B|) >= 30% — catches
    the short-doc-wrapped-in-long-doc shape symmetric Jaccard
    under-scores.  Same inverted-index plan and integer rational
    threshold as ngram_jaccard; 30% (vs the library's 80% default)
    so the synthetic corpus, which has near-dups but few true
    subsets, yields a non-trivial pair set to hash."""
    return dedup.containment_pairs(
        _t(spark, sf_dir, "documents"),
        min_containment_pct=30,
        # same result-identical hashed-shingle fast path as
        # q_ngram_jaccard (identity pinned by the same r6 test)
        hash_shingles=True,
    )


def q_edit_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidates->verify with exact edit distance
    (dedup.edit_distance_verify): the portable LSH banding of
    minhash_lsh_pairs filtered to pairs whose levenshtein over the
    first 1000 chars is <= 30% of the longer text.  Character-level
    confirmation of set-similarity candidates — both engines ship the
    classic levenshtein builtin, so the oracle is the same expression
    over the same pair CTEs."""
    docs = _t(spark, sf_dir, "documents")
    sigs = dedup.minhash_signatures(docs, n_hashes=16, shingle_words=3)
    pairs = dedup.lsh_candidate_pairs(
        sigs, n_bands=4, rows_per_band=4, portable=True
    )
    return dedup.edit_distance_verify(
        docs, pairs, max_dist_pct=30, prefix_chars=1000
    )


def q_pipeline_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed END-TO-END cleaning pipeline in one query — the
    'switch your pipeline to this engine' story: Gopher-style quality
    filtering (textstats.filter_verdicts) -> exact-dedup keepers
    (dedup.exact_dup_groups) -> deterministic 50% sample
    (sampling.deterministic_sample, portable md5 membership) ->
    (doc_id, fingerprint, n_tokens).  Every stage is the SAME operator
    the standalone queries gate, so the composition inherits their
    oracles; the combined oracle chains the same SQL pieces."""
    from kelos_on_kafka_spark.operators.sampling import (
        deterministic_sample,
    )

    docs = _t(spark, sf_dir, "documents")
    kept = docs.join(
        textstats.filter_verdicts(docs)
        .where(F.col("keep"))
        .select("doc_id"),
        "doc_id",
    )
    keepers = dedup.exact_dup_groups(kept).select(
        F.col("keeper_id").alias("doc_id"), "fingerprint"
    )
    deduped = kept.join(keepers, "doc_id")
    sampled = deterministic_sample(deduped, "doc_id", 0.5, seed=7)
    return sampled.select(
        "doc_id",
        "fingerprint",
        textstats.n_tokens("text").cast("long").alias("n_tokens"),
    )


def q_group_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group percentiles (windowing.group_percentiles):
    p50/p95 of ``value`` per (event_type, UTC day) — the grouped form
    of value_percentiles (same linear-interpolation definition on both
    engines, verified bit-exact there).  The exact form is the
    oracle-checkable contract; exact=False is the tested
    approx_percentile scale path (rank-error-bounded sketch,
    tests/test_group_percentiles.py)."""
    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.expr(
            "timestampdiff(MICROSECOND, CAST('1970-01-01 00:00:00' AS "
            "TIMESTAMP_NTZ), CAST(ts AS TIMESTAMP_NTZ)) div 86400000000"
        ).alias("day_id"),
        "value",
    )
    return windowing.group_percentiles(
        ev, ["event_type", "day_id"], "value", [0.5, 0.95], exact=True
    )


def q_winsorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group winsorization (windowing.winsorize): clip each
    event's value into its event_type's exact [p05, p95] band; rows
    keep their identity (event_id) and carry the audit bounds.  The
    exact percentile form is the oracle contract; exact=False is the
    sketch-bounded 100 TB path (tests/test_round6_ops.py)."""
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    return windowing.winsorize(
        ev, ["event_type"], "value", lo=0.05, hi=0.95, exact=True
    ).select(
        "event_id", "event_type", "value", "value_wins", "w_lo", "w_hi"
    )


def q_robust_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group robust scaling (windowing.robust_scale): each event's
    value standardized by its event_type's (median, IQR) — the
    outlier-insensitive z-score.  Exact percentiles are the oracle
    contract; exact=False swaps the approx_percentile sketch in."""
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    return windowing.robust_scale(ev, ["event_type"], "value").select(
        "event_id", "event_type", "value", "value_scaled", "r_med", "r_iqr"
    )


def q_stream_gap_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming silence/outage monitor (streaming/gap_stream.py):
    closed gaps > 1h per user once the watermark finalizes them + one
    censored silence alert (gap_end_us = -1) per key when the
    watermark passes last_ts + 4h.  The round-6 operator buffers
    events in state until watermark passage, so output is arrival-
    order-independent (tests/test_gap_monitor_ooo.py); the staging
    keeps sequential event-time files only for determinism of the
    micro-batch COUNT, plus TWO sentinels (timeouts fire one batch
    after the watermark that arms them)."""
    from kelos_on_kafka_spark.streaming.gap_stream import (
        stream_gap_monitor,
    )

    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        F.timestamp_micros(windowing.epoch_us("ts")).alias("ts"),
        "user_id",
    )
    row = ev.agg(
        F.min(F.unix_micros("ts")).alias("lo"),
        F.max(F.unix_micros("ts")).alias("hi"),
    ).first()
    lo_us, hi_us = row["lo"], row["hi"]
    span_s = int((hi_us - lo_us) // 1_000_000) + 3600
    s1 = int(hi_us // 1_000_000) + span_s + 8 * 3600
    s2 = s1 + span_s + 8 * 3600
    span_us = (hi_us - lo_us) // 3 + 1
    stream = _file_stream(
        spark,
        "event_id long, ts timestamp, user_id long",
        *(
            ev.where(
                (F.unix_micros("ts") >= lo_us + i * span_us)
                & (F.unix_micros("ts") < lo_us + (i + 1) * span_us)
            )
            .coalesce(1)
            .sortWithinPartitions("ts", "event_id")
            for i in range(3)
        ),
        *(
            spark.createDataFrame(
                [(999_999_990 + i, sec, -1)],
                "event_id long, sec long, user_id long",
            ).select(
                "event_id", F.timestamp_seconds("sec").alias("ts"), "user_id"
            ).coalesce(1)
            for i, sec in enumerate([s1, s2])
        ),
        files_per_trigger=1,
    )
    out = stream_gap_monitor(
        stream,
        "user_id",
        "ts",
        min_gap_us=HOUR_US,
        max_silence_us=4 * HOUR_US,
        watermark_delay=f"{span_s} seconds",
    )
    return _drain(out).where(F.col("key") >= 0)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """ORDERING IS LOAD-BEARING: the external driver's correctness gate
    records only the FIRST 50 dict entries, so queries that have never
    had a driver CORRECTNESS row (new this round, or rotated out by a
    past insertion) MUST occupy the front of the dict; long-driver-green
    relational queries rotate to the back, where the byte-compatible
    local mirror (tests/test_entry_oracle.py) still regression-guards
    them every pytest run.  tests/test_registry_order.py enforces this
    against the committed CORRECTNESS_r*.json artifacts — never append a
    new query at the end."""
    return {
        # --- NEW in round 6 (never driver-gated) ---
        "encode_tokens": q_encode_tokens,
        "packed_ids": q_packed_ids,
        "containment": q_containment,
        "edit_verify": q_edit_verify,
        "rolling_stats": q_rolling_stats,
        "domain_pagerank": q_domain_pagerank,
        "cosine_rescore": q_cosine_rescore,
        "winsorized": q_winsorized,
        "robust_scaled": q_robust_scaled,
        "sq8_codes": q_sq8_codes,
        "sq8_topk": q_sq8_topk,
        "oov_rate": q_oov_rate,
        "cohort_retention": q_cohort_retention,
        "cardinality": q_cardinality,
        "link_stats": q_link_stats,
        "outlink_domains": q_outlink_domains,
        "stream_cdc_table": q_stream_cdc_table,
        "canonical_urls": q_canonical_urls,
        "equidepth_hist": q_equidepth_hist,
        "vocab": q_vocab,
        "adaptive_filter": q_adaptive_filter,
        "stream_incr_dedup": q_stream_incr_dedup,
        # --- oracle or implementation CHANGED in round 6: must re-green
        # (snapshot_diff collision-free sentinel on both engines;
        # stream_gap_monitor buffered out-of-order rewrite;
        # doc_chunks/seq_packing NULL-text coalesce in the plan;
        # group_percentiles rewired through the library operator;
        # dedup_decisions grew the pair_source candidate stage) ---
        "snapshot_diff": q_snapshot_diff,
        "stream_gap_monitor": q_stream_gap_monitor,
        "doc_chunks": q_doc_chunks,
        "seq_packing": q_seq_packing,
        "group_percentiles": q_group_percentiles,
        "dedup_decisions": q_dedup_decisions,
        # --- rotate-back: longest-unverified driver-green (r01/r02
        # vintage, VERDICT r5 #2) so the hard-signal evidence stays
        # fresh ---
        "dedup_fingerprint": q_dedup_fingerprint,
        "stopword_stats": q_stopword_stats,
        "bpe_token_count": q_bpe_token_count,
        "winnow_fingerprints": q_winnow_fingerprints,
        "knn_ivf": q_knn_ivf,
        "embedding_near_dups": q_embedding_near_dups,
        "minhash_sigs": q_minhash_sigs,
        "simhash_near_dups": q_simhash_near_dups,
        "simhash16_portable": q_simhash16_portable,
        "hash_split": q_hash_split,
        "stratified_cap": q_stratified_cap,
        # --- KELOS debug surface (rows-only by design; keep gated) ---
        "kelos_topn_epan": q_kelos_topn_epan,
        "kelos_topn": q_kelos_topn,
        "kelos_assignments": q_kelos_assignments,
        "kelos_clusters": q_kelos_clusters,
        "kelos_candidates": q_kelos_candidates,
        # --- recent driver-green (r05), fill the window to 50; the rest
        # rotate behind the gate under local-mirror guard ---
        "scd2_dim": q_scd2_dim,
        "cdc_state": q_cdc_state,
        "stream_cdc_state": q_stream_cdc_state,
        "jaccard_prefix": q_jaccard_prefix,
        "pipeline_clean": q_pipeline_clean,
        "bigram_rarity": q_bigram_rarity,
        "incremental_dedup": q_incremental_dedup,
        "event_gaps": q_event_gaps,
        "bounce_rate": q_bounce_rate,
        "cluster_sizes": q_cluster_sizes,
        "value_drift": q_value_drift,
        "stream_chained_agg": q_stream_chained_agg,
        "session_assign": q_session_assign,
        "session_windows": q_session_windows,
        "stream_session": q_stream_session,
        "stream_knn_ivf": q_stream_knn_ivf,
        "stream_funnel": q_stream_funnel,
        "stream_tumbling": q_stream_tumbling,
        "stream_sliding": q_stream_sliding,
        "multimodal_meta": q_multimodal_meta,
        "multimodal_image_dims": q_multimodal_image_dims,
        "media_exact_dups": q_media_exact_dups,
        "video_frames": q_video_frames,
        "audio_meta": q_audio_meta,
        "lang_guess": q_lang_guess,
        "det_sample": q_det_sample,
        "value_percentiles": q_value_percentiles,
        # --- behind the gate from here (position > 50): all have a
        # committed driver-green row and stay mirror-guarded ---
        "redact_pii": q_redact_pii,
        "funnel_dropoff": q_funnel_dropoff,
        "weighted_sample": q_weighted_sample,
        "cep_gap_tolerant": q_cep_gap_tolerant,
        "corpus_report": q_corpus_report,
        "pivot_lang_source": q_pivot_lang_source,
        "rolling_avg": q_rolling_avg,
        "repetition_stats": q_repetition_stats,
        "contamination": q_contamination,
        "top_terms": q_top_terms,
        "stream_topn": q_stream_topn,
        "stream_distinct": q_stream_distinct,
        "stream_interval_join": q_stream_interval_join,
        "stream_interval_join_left": q_stream_interval_join_left,
        "stream_bloom_dedup": q_stream_bloom_dedup,
        "stream_dedup_exact": q_stream_dedup_exact,
        "session_dynamic_gap": q_session_dynamic_gap,
        "domain_stats": q_domain_stats,
        "domain_cap": q_domain_cap,
        "span_dedup": q_span_dedup,
        "span_clean": q_span_clean,
        "props_extract": q_props_extract,
        "weighted_strat_cap": q_weighted_strat_cap,
        "norm_dedup": q_norm_dedup,
        "cube_events": q_cube_events,
        "top_orders": q_top_orders,
        "quality_verdicts": q_quality_verdicts,
        "image_phash": q_image_phash,
        "funnel_steps": q_funnel_steps,
        "stream_knn": q_stream_knn,
        "stream_bloom_sharded": q_stream_bloom_sharded,
        "stream_session_dynamic": q_stream_session_dynamic,
        "stream_sample": q_stream_sample,
        "pane_agg": q_pane_agg,
        "sliding_window": q_sliding_window,
        "topn_per_pane": q_topn_per_pane,
        "interval_join": q_interval_join,
        "dedup_exact": q_dedup_exact,
        "ngram_jaccard": q_ngram_jaccard,
        "token_stats": q_token_stats,
        "quality_flags": q_quality_flags,
        "knn_cosine": q_knn_cosine,
        "knn_lsh": q_knn_lsh,
        "knn_pq": q_knn_pq,
        "minhash_lsh_pairs": q_minhash_lsh_pairs,
        "stream_near_dups": q_stream_near_dups,
        "near_dup_groups": q_near_dup_groups,
        "simhash": q_simhash,
        "region_revenue": q_region_revenue,
        "pricing_summary": q_pricing_summary,
        "semi_join": q_semi_join,
        "salted_topn_docs": q_salted_topn_docs,
        "skew_join_agg": q_skew_join_agg,
        "distinct_tokens": q_distinct_tokens,
        "asof_join": q_asof_join,
        "cep_sequence": q_cep_sequence,
        "rollup_panes": q_rollup_panes,
    }


# Shared SQ8 quantization CTE chain (sq8_codes / sq8_topk oracles):
# per-dim corpus min/max -> affine integer codes, the identical
# cast->sub->div->mul->floor IEEE chain as similarity.sq8_codes.
_SQ8_CTES = """e AS (
              SELECT emb.vec_id, i.i - 1 AS dim,
                     CAST(emb.embedding[i.i] AS DOUBLE) AS v
              FROM embeddings emb
              JOIN (SELECT unnest(generate_series(1, 64)) AS i) i
                ON i.i <= len(emb.embedding)
            ), s AS (
              SELECT dim, min(v) AS mn, max(v) AS mx FROM e GROUP BY dim
            ), codes AS (
              SELECT e.vec_id, e.dim,
                     CASE WHEN s.mx > s.mn THEN
                       least(CAST(255 AS BIGINT),
                             CAST(floor((e.v - s.mn) / (s.mx - s.mn)
                                        * 256.0) AS BIGINT))
                     ELSE CAST(0 AS BIGINT) END AS code
              FROM e JOIN s USING (dim)
            )"""


def oracle_sql() -> dict[str, str]:
    return {
        "cosine_rescore": _cosine_rescore_sql(),
        "winsorized": """
            WITH b AS (
              SELECT event_type,
                     quantile_cont(value, 0.05) AS w_lo,
                     quantile_cont(value, 0.95) AS w_hi
              FROM events GROUP BY event_type
            )
            SELECT e.event_id, e.event_type, e.value,
                   CASE WHEN e.value IS NOT NULL THEN
                     least(greatest(e.value, b.w_lo), b.w_hi) END
                     AS value_wins,
                   b.w_lo, b.w_hi
            FROM events e JOIN b USING (event_type)
        """,
        "oov_rate": """
            WITH toks AS (
              SELECT doc_id, tok AS token FROM (
                SELECT doc_id,
                       unnest(regexp_split_to_array(
                         trim(coalesce(text, '')), '\\s+')) AS tok
                FROM documents) u
              WHERE tok <> ''
            ), voc AS (
              SELECT token FROM toks
              GROUP BY token HAVING count(*) >= 5
            ), per AS (
              SELECT t.doc_id, count(*) AS n_tokens,
                     sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END)
                       AS n_oov
              FROM toks t LEFT JOIN voc v ON v.token = t.token
              GROUP BY t.doc_id
            )
            SELECT d.doc_id,
                   CAST(coalesce(p.n_tokens, 0) AS BIGINT) AS n_tokens,
                   CAST(coalesce(p.n_oov, 0) AS BIGINT) AS n_oov,
                   CASE WHEN coalesce(p.n_tokens, 0) > 0 THEN
                     CAST(coalesce(p.n_oov, 0) AS DOUBLE)
                       / CAST(p.n_tokens AS DOUBLE) END AS oov_rate
            FROM documents d LEFT JOIN per p ON p.doc_id = d.doc_id
        """,
        "rolling_stats": """
            SELECT event_id, user_id, epoch_us(ts) AS ts_us,
                   CAST(count(*) OVER w AS BIGINT) AS n_trail,
                   CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w
                        AS DOUBLE) AS sum_trail,
                   CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w
                        AS DOUBLE)
                     / CAST(count(*) OVER w AS DOUBLE) AS avg_trail
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                         RANGE BETWEEN 3600000000 PRECEDING
                               AND CURRENT ROW)
        """,
        # edges re-derived from the fixture formula (see outlink_domains),
        # then 3 unrolled integer-PageRank iterations — all BIGINT floor
        # division, so engine-exact
        "domain_pagerank": """
            WITH l AS (
              SELECT 'd' || CAST(d.doc_id % 97 AS VARCHAR)
                         || '.example.com' AS src,
                     'd' || CAST((d.doc_id * 31 + i.i) % 97 AS VARCHAR)
                         || '.example.com' AS dst
              FROM documents d
              JOIN (SELECT unnest(generate_series(1, 3)) AS i) i
                ON i.i <= d.doc_id % 4
            ),
            e AS (SELECT DISTINCT src, dst FROM l WHERE src <> dst),
            nodes AS (
              SELECT src AS node FROM e UNION SELECT dst FROM e
            ),
            deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
            r0 AS (
              SELECT node, CAST(1000000 AS BIGINT) AS rank FROM nodes
            ),
            i1 AS (
              SELECT e.dst AS node,
                     CAST(sum(r.rank // d.outdeg) AS BIGINT) AS inc
              FROM e JOIN r0 r ON r.node = e.src
                     JOIN deg d ON d.src = e.src
              GROUP BY e.dst
            ),
            r1 AS (
              SELECT n.node,
                     CAST(150000 + (85 * coalesce(i.inc, 0)) // 100
                          AS BIGINT) AS rank
              FROM nodes n LEFT JOIN i1 i ON i.node = n.node
            ),
            i2 AS (
              SELECT e.dst AS node,
                     CAST(sum(r.rank // d.outdeg) AS BIGINT) AS inc
              FROM e JOIN r1 r ON r.node = e.src
                     JOIN deg d ON d.src = e.src
              GROUP BY e.dst
            ),
            r2 AS (
              SELECT n.node,
                     CAST(150000 + (85 * coalesce(i.inc, 0)) // 100
                          AS BIGINT) AS rank
              FROM nodes n LEFT JOIN i2 i ON i.node = n.node
            ),
            i3 AS (
              SELECT e.dst AS node,
                     CAST(sum(r.rank // d.outdeg) AS BIGINT) AS inc
              FROM e JOIN r2 r ON r.node = e.src
                     JOIN deg d ON d.src = e.src
              GROUP BY e.dst
            )
            SELECT n.node AS domain,
                   CAST(150000 + (85 * coalesce(i.inc, 0)) // 100
                        AS BIGINT) AS rank
            FROM nodes n LEFT JOIN i3 i ON i.node = n.node
        """,
        "cohort_retention": """
            WITH d AS (
              SELECT DISTINCT user_id,
                     epoch_us(ts) // 86400000000 AS day_id
              FROM events
            ), f AS (
              SELECT user_id, min(day_id) AS cohort_day
              FROM d GROUP BY user_id
            )
            SELECT f.cohort_day,
                   d.day_id - f.cohort_day AS day_offset,
                   count(*) AS n_users
            FROM d JOIN f USING (user_id)
            GROUP BY 1, 2
        """,
        "sq8_codes": f"""
            WITH {_SQ8_CTES}
            SELECT vec_id, dim, code FROM codes
        """,
        "sq8_topk": f"""
            WITH {_SQ8_CTES},
            sc AS (
              SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
                     sum(p.code * c.code) AS dot
              FROM codes p
              JOIN codes c ON c.dim = p.dim AND c.vec_id <> p.vec_id
              WHERE p.vec_id < 10
              GROUP BY p.vec_id, c.vec_id
            ), r AS (
              SELECT probe_id, neighbor_id, dot,
                     row_number() OVER (PARTITION BY probe_id
                                        ORDER BY dot DESC, neighbor_id)
                       AS rn
              FROM sc
            )
            SELECT probe_id, rn AS rank, neighbor_id,
                   CAST(dot AS BIGINT) AS dot
            FROM r WHERE rn <= 5
        """,
        "robust_scaled": """
            WITH s AS (
              SELECT event_type,
                     quantile_cont(value, 0.5) AS r_med,
                     quantile_cont(value, 0.75)
                       - quantile_cont(value, 0.25) AS r_iqr
              FROM events GROUP BY event_type
            )
            SELECT e.event_id, e.event_type, e.value,
                   CASE WHEN e.value IS NOT NULL AND s.r_iqr <> 0 THEN
                     (e.value - s.r_med) / s.r_iqr END AS value_scaled,
                   s.r_med, s.r_iqr
            FROM events e JOIN s USING (event_type)
        """,
        "cardinality": """
            SELECT event_type,
                   epoch_us(ts) // 86400000000 AS day_id,
                   count(*) AS n_rows,
                   count(DISTINCT user_id) AS n_distinct
            FROM events GROUP BY event_type, day_id
        """,
        "link_stats": """
            -- oracle from the fixture FORMULA (doc_id % 4 links, host
            -- key (doc_id*31+i) % 97), independent of the operator's
            -- href/host regex machinery
            WITH l AS (
              SELECT d.doc_id, (d.doc_id * 31 + i.i) % 97 AS hk
              FROM documents d
              JOIN (SELECT unnest(generate_series(1, 3)) AS i) i
                ON i.i <= d.doc_id % 4
            ), agg AS (
              SELECT doc_id, count(*) AS n_links,
                     count(DISTINCT hk) AS n_hosts
              FROM l GROUP BY doc_id
            ), tok AS (
              SELECT doc_id,
                     CASE WHEN trim(text) = '' THEN 0
                          ELSE len(regexp_split_to_array(trim(text),
                                                         '\\s+'))
                     END AS n_toks
              FROM documents
            )
            SELECT t.doc_id,
                   CAST(coalesce(a.n_links, 0) AS BIGINT) AS n_links,
                   CAST(coalesce(a.n_hosts, 0) AS BIGINT) AS n_hosts,
                   CASE WHEN t.n_toks > 0 THEN
                     CAST(coalesce(a.n_links, 0) AS DOUBLE)
                       / CAST(t.n_toks AS DOUBLE)
                   END AS link_density
            FROM tok t LEFT JOIN agg a USING (doc_id)
        """,
        "outlink_domains": """
            -- from the fixture formula (see link_stats), independent
            -- of the operator's href/host extraction machinery
            WITH l AS (
              SELECT d.doc_id,
                     'd' || CAST((d.doc_id * 31 + i.i) % 97 AS VARCHAR)
                         || '.example.com' AS host
              FROM documents d
              JOIN (SELECT unnest(generate_series(1, 3)) AS i) i
                ON i.i <= d.doc_id % 4
            )
            SELECT host, count(*) AS n_inlinks,
                   count(DISTINCT doc_id) AS n_pages
            FROM l GROUP BY host
        """,
        # kelos_topn: stateful order-dependent streaming pipeline, not
        # SQL-expressible — rows-only check (parity vs the NumPy oracle is
        # enforced in tests/test_spark_batch.py).
        "stream_gap_monitor": """
            WITH o AS (
              SELECT user_id AS key, epoch_us(ts) AS t,
                     lead(epoch_us(ts)) OVER (
                       PARTITION BY user_id
                       ORDER BY epoch_us(ts), event_id
                     ) AS nx
              FROM events
            )
            SELECT key, t AS gap_start_us, nx AS gap_end_us,
                   nx - t AS gap_us
            FROM o WHERE nx IS NOT NULL AND nx - t > 3600000000
            UNION ALL
            SELECT user_id AS key, max(epoch_us(ts)) AS gap_start_us,
                   CAST(-1 AS BIGINT) AS gap_end_us,
                   CAST(-1 AS BIGINT) AS gap_us
            FROM events GROUP BY user_id
        """,
        "group_percentiles": """
            SELECT event_type,
                   epoch_us(ts) // 86400000000 AS day_id,
                   count(*) AS n_events,
                   quantile_cont(value, 0.5) AS p50,
                   quantile_cont(value, 0.95) AS p95
            FROM events GROUP BY 1, 2
        """,
        "pipeline_clean": f"""
            WITH v AS ({_quality_verdicts_sql()}),
            kept AS (
              SELECT d.doc_id, d.text
              FROM documents d JOIN v ON d.doc_id = v.doc_id
              WHERE v.keep
            ), k AS (
              SELECT md5(text) AS fingerprint, min(doc_id) AS keeper
              FROM kept GROUP BY 1
            ), dd AS (
              SELECT kept.doc_id, k.fingerprint, kept.text
              FROM kept JOIN k ON kept.doc_id = k.keeper
            )
            SELECT doc_id, fingerprint,
                   CASE WHEN trim(text) = '' THEN 0
                        ELSE len(regexp_split_to_array(trim(text), '\\s+'))
                   END AS n_tokens
            FROM dd
            WHERE cast(concat('0x', substr(md5(concat('7:',
                    cast(doc_id AS VARCHAR))), 1, 15)) AS BIGINT)
                  / 1152921504606846976.0 < 0.5
        """,
        "jaccard_prefix": """
            WITH toks AS (
              SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
              FROM documents
            ), idx AS (
              SELECT doc_id, t,
                     unnest(generate_series(1, greatest(len(t) - 2, 1))) AS i
              FROM toks
            ), sh AS (
              SELECT DISTINCT doc_id,
                     array_to_string(t[i:i+2], ' ') AS shingle
              FROM idx
              WHERE array_to_string(t[i:i+2], ' ') != ''
            ), sizes AS (
              SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1
            ), inter AS (
              SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
              FROM sh a JOIN sh b ON a.shingle = b.shingle
              WHERE a.doc_id < b.doc_id
              GROUP BY 1, 2
            )
            SELECT doc_a, doc_b, inter,
                   sa.n_sh + sb.n_sh - inter AS union_n
            FROM inter
            JOIN sizes sa ON sa.doc_id = doc_a
            JOIN sizes sb ON sb.doc_id = doc_b
            WHERE 10 * inter >= 3 * (sa.n_sh + sb.n_sh - inter)
        """,
        "stream_cdc_state": """
            WITH r AS (
              SELECT epoch_us(ts) // 43200000000 AS pane,
                     user_id, event_id, epoch_us(ts) AS ts_us, value,
                     event_type = 'error' AS is_del,
                     row_number() OVER (
                       PARTITION BY epoch_us(ts) // 43200000000, user_id
                       ORDER BY epoch_us(ts) DESC, event_id DESC
                     ) AS rn
              FROM events
            )
            SELECT pane * 43200000000 AS window_start_us,
                   pane * 43200000000 + 43200000000 AS window_end_us,
                   user_id, event_id AS id, ts_us, value
            FROM r WHERE rn = 1 AND NOT is_del
        """,
        "doc_chunks": """
            WITH toks AS (
              SELECT doc_id,
                     regexp_split_to_array(trim(text), '\\s+') AS t
              FROM documents
            ), idx AS (
              SELECT doc_id, t, len(t) AS n,
                     unnest(generate_series(1, greatest(len(t), 1), 48))
                       AS s
              FROM toks
            )
            SELECT doc_id,
                   (s - 1) // 48 AS chunk_idx,
                   s AS start_tok,
                   least(64, n - s + 1) AS n_tokens,
                   md5(array_to_string(t[s:s+63], ' ')) AS chunk_md5
            FROM idx
        """,
        "seq_packing": """
            WITH base AS (
              SELECT source AS part, doc_id,
                     len(regexp_split_to_array(trim(text), '\\s+'))
                       AS n_tokens
              FROM documents
            ), c AS (
              SELECT part, doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
                     CAST(coalesce(sum(n_tokens) OVER (
                       PARTITION BY part ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                     ), 0) AS BIGINT) AS cum_prev
              FROM base
            )
            SELECT part, doc_id, n_tokens,
                   cum_prev // 256 AS seq_id,
                   cum_prev % 256 AS seq_offset
            FROM c
        """,
        "scd2_dim": """
            WITH ch AS (
              SELECT o_custkey AS key, o_orderpriority AS attr,
                     epoch_us(o_orderdate) AS ts,
                     o_orderkey AS cid
              FROM orders
            ), nv AS (
              SELECT key, attr, ts AS valid_from_us,
                     coalesce(lead(ts) OVER (PARTITION BY key
                                             ORDER BY ts, cid),
                              9223372036854775807) AS valid_to_us,
                     lead(ts) OVER (PARTITION BY key
                                    ORDER BY ts, cid) IS NULL
                       AS is_current
              FROM ch
            ), fc AS (
              SELECT key, min(ts) AS first_ts FROM ch GROUP BY key
            ), cur AS (
              SELECT c_custkey AS key, c_mktsegment AS attr,
                     CAST(0 AS BIGINT) AS valid_from_us,
                     coalesce(fc.first_ts, 9223372036854775807)
                       AS valid_to_us,
                     fc.first_ts IS NULL AS is_current
              FROM customer LEFT JOIN fc ON c_custkey = fc.key
            )
            SELECT * FROM cur
            UNION ALL
            SELECT * FROM nv
        """,
        "canonical_urls": """
            WITH u0 AS (
              SELECT doc_id,
                     'HTTP' || CASE WHEN doc_id % 2 = 0 THEN 'S' ELSE '' END
                     || '://'
                     || CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE 'www.' END
                     || source || '.Com'
                     || CASE WHEN doc_id % 2 = 0 THEN ':443'
                             WHEN doc_id % 5 = 0 THEN ':8080'
                             ELSE '' END
                     || '/Articles/' || CAST(doc_id % 40 AS VARCHAR)
                     || CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END
                     || CASE WHEN doc_id % 6 = 0
                               THEN '?utm_source=feed&b=2&a=1'
                             WHEN doc_id % 6 = 1 THEN '?b=2&a=1'
                             WHEN doc_id % 6 = 2 THEN '?a=1&b=2&gclid=xyz'
                             ELSE '' END
                     || CASE WHEN doc_id % 7 = 0 THEN '#Section-2'
                             ELSE '' END AS url
              FROM documents
            ), u1 AS (
              SELECT doc_id, regexp_replace(url, '#.*$', '') AS u FROM u0
            ), p AS (
              SELECT doc_id,
                lower(regexp_extract(u,
                  '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1)) AS scheme,
                lower(regexp_extract(u,
                  '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)', 1)) AS auth,
                regexp_replace(regexp_extract(u,
                  '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1),
                  '/+$', '') AS path,
                regexp_extract(u, '\\?([^#]*)', 1) AS qraw
              FROM u1
            ), q AS (
              SELECT doc_id, scheme,
                CASE WHEN scheme = 'http'
                       THEN regexp_replace(auth, ':80$', '')
                     WHEN scheme = 'https'
                       THEN regexp_replace(auth, ':443$', '')
                     ELSE auth END AS auth,
                path,
                array_to_string(list_sort(list_filter(
                  string_split(qraw, '&'),
                  x -> x <> '' AND NOT regexp_matches(x,
                    '^(utm_[^=]*|fbclid|gclid|ref)(=.*)?$'))), '&') AS qstr
              FROM p
            ), c AS (
              SELECT doc_id,
                CASE WHEN scheme = '' THEN ''
                     ELSE scheme || '://' || auth || path ||
                          CASE WHEN qstr <> '' THEN '?' || qstr
                               ELSE '' END END AS canon_url
              FROM q
            )
            SELECT canon_url,
                   CAST(count(*) AS BIGINT) AS n_variants,
                   min(doc_id) AS keeper_id
            FROM c GROUP BY canon_url
        """,
        "equidepth_hist": """
            WITH b AS (
              SELECT event_type, value,
                     ntile(8) OVER (
                       PARTITION BY event_type ORDER BY value, event_id
                     ) AS bucket
              FROM events
            )
            SELECT event_type, CAST(bucket AS INTEGER) AS bucket,
                   CAST(count(*) AS BIGINT) AS n,
                   min(value) AS lo, max(value) AS hi
            FROM b GROUP BY event_type, bucket
        """,
        "encode_tokens": """
            WITH arr AS (
              SELECT doc_id,
                     regexp_split_to_array(
                       trim(coalesce(text, '')), '\\s+') AS l
              FROM documents
            ), toks AS (
              SELECT doc_id,
                     CAST(generate_subscripts(l, 1) - 1 AS BIGINT) AS pos,
                     unnest(l) AS token
              FROM arr
            ), allt AS (
              SELECT unnest(regexp_split_to_array(
                       trim(coalesce(text, '')), '\\s+')) AS token
              FROM documents
            ), c AS (
              SELECT token, count(*) AS n
              FROM allt WHERE token <> '' GROUP BY token
            ), v AS (
              SELECT token,
                     CAST(row_number() OVER (ORDER BY n DESC, token) - 1
                          AS BIGINT) AS token_id
              FROM c WHERE n >= 5
            )
            SELECT t.doc_id, t.pos, t.token,
                   CAST(coalesce(v.token_id, -1) AS BIGINT) AS token_id
            FROM toks t LEFT JOIN v USING (token)
            WHERE t.token <> ''
        """,
        "packed_ids": """
            WITH arr AS (
              SELECT source AS part, doc_id,
                     regexp_split_to_array(
                       trim(coalesce(text, '')), '\\s+') AS l
              FROM documents
            ), toks AS (
              SELECT part, doc_id,
                     CAST(generate_subscripts(l, 1) - 1 AS BIGINT) AS pos,
                     unnest(l) AS token
              FROM arr
            ), allt AS (
              SELECT unnest(regexp_split_to_array(
                       trim(coalesce(text, '')), '\\s+')) AS token
              FROM documents
            ), c AS (
              SELECT token, count(*) AS n
              FROM allt WHERE token <> '' GROUP BY token
            ), v AS (
              SELECT token,
                     CAST(row_number() OVER (ORDER BY n DESC, token) - 1
                          AS BIGINT) AS token_id
              FROM c WHERE n >= 5
            ), enc AS (
              SELECT t.part, t.doc_id, t.pos,
                     CAST(coalesce(v.token_id, -1) AS BIGINT) AS token_id
              FROM toks t LEFT JOIN v USING (token)
              WHERE t.token <> ''
            ), cnt AS (
              SELECT part, doc_id, count(*) AS n
              FROM enc GROUP BY part, doc_id
            ), st AS (
              SELECT part, doc_id,
                     coalesce(sum(n) OVER (
                       PARTITION BY part ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING
                         AND 1 PRECEDING), 0) AS doc_start
              FROM cnt
            ), placed AS (
              SELECT e.part,
                     CAST(st.doc_start + e.pos AS BIGINT) AS g,
                     e.token_id
              FROM enc e JOIN st USING (part, doc_id)
            )
            SELECT part, CAST(g // 256 AS BIGINT) AS seq_id,
                   CAST(count(*) AS BIGINT) AS n_tokens,
                   md5(string_agg(CAST(token_id AS VARCHAR), ','
                       ORDER BY g)) AS ids_md5
            FROM placed GROUP BY part, seq_id
        """,
        "vocab": """
            WITH toks AS (
              SELECT unnest(regexp_split_to_array(
                       trim(coalesce(text, '')), '\\s+')) AS token
              FROM documents
            ), c AS (
              SELECT token, CAST(count(*) AS BIGINT) AS n
              FROM toks WHERE token <> '' GROUP BY token
            ), f AS (
              SELECT * FROM c WHERE n >= 5
            )
            SELECT token, n,
                   CAST(row_number() OVER (ORDER BY n DESC, token) - 1
                        AS BIGINT) AS token_id
            FROM f
        """,
        "adaptive_filter": """
            WITH base AS (
              SELECT doc_id, lang AS grp,
                     CASE WHEN trim(text) = '' THEN 0
                          ELSE CAST(array_length(regexp_split_to_array(
                                 trim(text), '\\s+')) AS BIGINT)
                     END AS n_tokens
              FROM documents
            ), thr AS (
              SELECT grp, quantile_cont(n_tokens, 0.1) AS threshold
              FROM base GROUP BY grp
            )
            SELECT b.doc_id, b.grp, b.n_tokens, t.threshold
            FROM base b JOIN thr t USING (grp)
            WHERE b.n_tokens >= t.threshold
        """,
        "stream_incr_dedup": """
            WITH newb AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 11 = 0 THEN 'BOILERPLATE PAGE'
                          ELSE text END AS text
              FROM documents
            ), d AS (
              SELECT doc_id, md5(text) AS digest,
                     CAST((1700000000 + doc_id) * 1000000 AS BIGINT)
                       AS ts_us
              FROM newb
            ), old AS (
              SELECT DISTINCT md5(text) AS digest
              FROM documents WHERE doc_id % 3 = 0
            ), r AS (
              SELECT d.doc_id, d.digest, d.ts_us,
                     old.digest IS NOT NULL AS is_old,
                     row_number() OVER (
                       PARTITION BY d.digest ORDER BY d.doc_id
                     ) AS rn
              FROM d LEFT JOIN old ON d.digest = old.digest
            )
            SELECT doc_id, digest, ts_us,
                   CASE WHEN is_old THEN 'seen'
                        WHEN rn = 1 THEN 'keep'
                        ELSE 'batch_dup' END AS status
            FROM r
        """,
        "stream_cdc_table": """
            -- the end-to-end streaming MERGE table must equal the
            -- batch compaction of the full changelog (cdc_state's SQL)
            WITH r AS (
              SELECT user_id AS key, event_id AS id,
                     epoch_us(ts) AS ts_us, value,
                     event_type = 'error' AS is_del,
                     row_number() OVER (
                       PARTITION BY user_id
                       ORDER BY epoch_us(ts) DESC, event_id DESC
                     ) AS rn
              FROM events
            )
            SELECT key, id, ts_us, value
            FROM r WHERE rn = 1 AND NOT is_del
        """,
        "cdc_state": """
            WITH r AS (
              SELECT user_id AS key, event_id AS id,
                     epoch_us(ts) AS ts_us, value,
                     event_type = 'error' AS is_del,
                     row_number() OVER (
                       PARTITION BY user_id
                       ORDER BY epoch_us(ts) DESC, event_id DESC
                     ) AS rn
              FROM events
            )
            SELECT key, id, ts_us, value
            FROM r WHERE rn = 1 AND NOT is_del
        """,
        "bigram_rarity": """
            WITH toks AS (
              SELECT doc_id,
                     regexp_split_to_array(trim(text), '\\s+') AS t
              FROM documents
            ), idx AS (
              SELECT doc_id, t,
                     unnest(generate_series(1, len(t) - 1)) AS i
              FROM toks WHERE len(t) >= 2
            ), g AS (
              SELECT doc_id, concat(t[i], ' ', t[i+1]) AS gram FROM idx
              WHERE concat(t[i], ' ', t[i+1]) != ''
            ), c AS (
              SELECT gram, count(*) AS cg FROM g GROUP BY gram
            )
            SELECT g.doc_id,
                   count(*) AS n_bigrams,
                   min(c.cg) AS min_bigram_freq,
                   CAST(sum(c.cg) AS BIGINT) AS sum_bigram_freq,
                   CAST(sum(c.cg) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                     AS mean_bigram_freq
            FROM g JOIN c USING (gram) GROUP BY g.doc_id
        """,
        "incremental_dedup": """
            WITH newb AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 11 = 0 THEN 'BOILERPLATE PAGE'
                          ELSE text END AS text
              FROM documents
            ), old AS (
              SELECT DISTINCT md5(text) AS digest
              FROM documents WHERE doc_id % 3 = 0
            ), fp AS (
              SELECT doc_id, md5(text) AS digest FROM newb
            ), k AS (
              SELECT digest, min(doc_id) AS keeper FROM fp GROUP BY digest
            )
            SELECT fp.doc_id, fp.digest,
                   CASE WHEN old.digest IS NOT NULL THEN 'seen'
                        WHEN fp.doc_id = k.keeper THEN 'keep'
                        ELSE 'batch_dup' END AS status
            FROM fp
            JOIN k ON fp.digest = k.digest
            LEFT JOIN old ON fp.digest = old.digest
        """,
        "event_gaps": """
            WITH o AS (
              SELECT user_id, epoch_us(ts) AS t,
                     lead(epoch_us(ts)) OVER (
                       PARTITION BY user_id
                       ORDER BY epoch_us(ts), event_id
                     ) AS nx
              FROM events
            )
            SELECT user_id, t AS gap_start_us, nx AS gap_end_us,
                   nx - t AS gap_us
            FROM o WHERE nx IS NOT NULL AND nx - t > 3600000000
        """,
        "bounce_rate": """
            WITH o AS (
              SELECT user_id, event_id, epoch_us(ts) AS t,
                     lag(epoch_us(ts)) OVER (
                       PARTITION BY user_id
                       ORDER BY epoch_us(ts), event_id
                     ) AS p
              FROM events
            ), f AS (
              SELECT user_id, event_id, t,
                     CASE WHEN p IS NULL OR t - p > 1800000000
                          THEN 1 ELSE 0 END AS ns
              FROM o
            ), s AS (
              SELECT user_id, t,
                     sum(ns) OVER (PARTITION BY user_id
                                   ORDER BY t, event_id) AS sid
              FROM f
            ), sess AS (
              SELECT user_id, sid, min(t) AS start_us,
                     count(*) AS n_ev
              FROM s GROUP BY user_id, sid
            )
            SELECT start_us // 86400000000 AS day_id,
                   count(*) AS n_sessions,
                   CAST(sum(CASE WHEN n_ev = 1 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_bounces,
                   CAST(sum(CASE WHEN n_ev = 1 THEN 1 ELSE 0 END)
                        AS DOUBLE) / CAST(count(*) AS DOUBLE)
                     AS bounce_pct
            FROM sess GROUP BY 1
        """,
        "cluster_sizes": """
            WITH c AS (
              SELECT vec_id, cast(embedding AS DOUBLE[]) AS v
              FROM embeddings
            ), cell AS (
              SELECT vec_id AS cell_id, v AS cv FROM c WHERE vec_id < 8
            ), s AS (
              SELECT c.vec_id, cell.cell_id,
                     list_dot_product(c.v, cell.cv)
                     / (sqrt(list_dot_product(c.v, c.v))
                        * sqrt(list_dot_product(cell.cv, cell.cv))) AS sim
              FROM c, cell
            ), r AS (
              SELECT vec_id, cell_id,
                     row_number() OVER (PARTITION BY vec_id
                                        ORDER BY sim DESC, cell_id) AS rn
              FROM s
            )
            SELECT cell_id, count(*) AS n_vectors,
                   min(vec_id) AS min_vec_id
            FROM r WHERE rn = 1 GROUP BY cell_id
        """,
        "value_drift": """
            WITH ha AS (
              SELECT least(greatest(CAST(floor((value - 0.0) / 10.0)
                                         AS BIGINT), 0), 9) AS bucket_id,
                     count(*) AS n_a
              FROM events
              WHERE event_id % 2 = 0 AND value IS NOT NULL
              GROUP BY 1
            ), hb AS (
              SELECT least(greatest(CAST(floor((value - 0.0) / 10.0)
                                         AS BIGINT), 0), 9) AS bucket_id,
                     count(*) AS n_b
              FROM events
              WHERE event_id % 2 = 1 AND value IS NOT NULL
              GROUP BY 1
            ), j AS (
              SELECT coalesce(ha.bucket_id, hb.bucket_id) AS bucket_id,
                     coalesce(ha.n_a, 0) AS n_a,
                     coalesce(hb.n_b, 0) AS n_b
              FROM ha FULL OUTER JOIN hb ON ha.bucket_id = hb.bucket_id
            )
            SELECT bucket_id, CAST(n_a AS BIGINT) AS n_a,
                   CAST(n_b AS BIGINT) AS n_b,
                   CAST(n_a AS DOUBLE)
                     / CAST(sum(n_a) OVER () AS DOUBLE) AS share_a,
                   CAST(n_b AS DOUBLE)
                     / CAST(sum(n_b) OVER () AS DOUBLE) AS share_b
            FROM j
        """,
        "stream_chained_agg": """
            WITH p AS (
              SELECT epoch_us(ts) // 600000000 AS pane, event_type,
                     count(*) AS pc
              FROM events GROUP BY 1, 2
            ), c AS (
              SELECT (pane * 600000000) // 3600000000 AS cw, event_type,
                     count(*) AS n_panes,
                     max(pc) AS max_pane_count,
                     CAST(sum(pc) AS BIGINT) AS sum_pane_count
              FROM p GROUP BY 1, 2
            )
            SELECT cw * 3600000000 AS window_start_us,
                   cw * 3600000000 + 3600000000 AS window_end_us,
                   event_type, n_panes, max_pane_count, sum_pane_count
            FROM c
        """,
        "pane_agg": """
            SELECT epoch_us(ts) // 3600000000 AS pane_id,
                   count(*) AS n_events,
                   cast(sum(cast(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
            FROM events GROUP BY 1
        """,
        "sliding_window": """
            SELECT (epoch_us(ts) // 3600000000) + o.off AS window_id,
                   count(*) AS n_events,
                   count(DISTINCT user_id) AS n_users
            FROM events CROSS JOIN (VALUES (0),(1),(2)) AS o(off)
            GROUP BY 1
        """,
        "session_windows": """
            WITH ordered AS (
              SELECT user_id, event_id, epoch_us(ts) AS ts_us,
                     lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
              FROM events
            ), flagged AS (
              -- boundary: Spark's session_window MERGES an event at
              -- exactly prev_ts + gap (empirically pinned, see
              -- tests/test_windowing.py boundary test) -> new session
              -- only STRICTLY past the gap
              SELECT user_id, ts_us,
                     CASE WHEN prev_us IS NULL OR ts_us - prev_us > 1800000000
                          THEN 1 ELSE 0 END AS new_s
              FROM ordered
            ), sess AS (
              SELECT user_id, ts_us,
                     sum(new_s) OVER (PARTITION BY user_id ORDER BY ts_us
                                      ROWS UNBOUNDED PRECEDING) AS sid
              FROM flagged
            )
            SELECT user_id,
                   min(ts_us) AS session_start_us,
                   max(ts_us) AS session_last_us,
                   count(*) AS n_events
            FROM sess GROUP BY user_id, sid
        """,
        "topn_per_pane": """
            WITH p AS (
              SELECT epoch_us(ts) // 86400000000 AS pane_id, event_id, value
              FROM events
            ), r AS (
              SELECT pane_id, event_id, value,
                     row_number() OVER (PARTITION BY pane_id
                                        ORDER BY value DESC, event_id) AS rn
              FROM p
            )
            SELECT pane_id, rn, event_id, value FROM r WHERE rn <= 3
        """,
        "interval_join": """
            SELECT c.event_id AS click_id, p.event_id AS purchase_id
            FROM events c JOIN events p
              ON c.user_id = p.user_id
             AND c.event_type = 'click' AND p.event_type = 'purchase'
             AND epoch_us(p.ts) >= epoch_us(c.ts)
             AND epoch_us(p.ts) <= epoch_us(c.ts) + 3600000000
        """,
        "dedup_exact": """
            SELECT md5(text) AS fingerprint,
                   min(doc_id) AS keeper_id,
                   count(*) AS n_docs
            FROM documents GROUP BY 1
        """,
        "dedup_fingerprint": """
            WITH f AS (
              SELECT doc_id,
                     md5(array_to_string(
                         (regexp_split_to_array(trim(text), '\\s+'))[1:8], ' '
                     )) AS fingerprint
              FROM documents
            )
            SELECT fingerprint, min(doc_id) AS keeper_id, count(*) AS n_docs
            FROM f GROUP BY 1
        """,
        "containment": """
            WITH toks AS (
              SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
              FROM documents
            ), idx AS (
              SELECT doc_id, t,
                     unnest(generate_series(1, greatest(len(t) - 2, 1))) AS i
              FROM toks
            ), sh AS (
              SELECT DISTINCT doc_id,
                     array_to_string(t[i:i+2], ' ') AS shingle
              FROM idx
              WHERE array_to_string(t[i:i+2], ' ') != ''
            ), sizes AS (
              SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1
            ), capped AS (
              SELECT doc_id, shingle FROM sh
              QUALIFY count(*) OVER (PARTITION BY shingle) <= 1000
            ), inter AS (
              SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
              FROM capped a JOIN capped b ON a.shingle = b.shingle
              WHERE a.doc_id < b.doc_id
              GROUP BY 1, 2
            )
            SELECT doc_a, doc_b, inter,
                   sa.n_sh AS n_a, sb.n_sh AS n_b
            FROM inter
            JOIN sizes sa ON sa.doc_id = doc_a
            JOIN sizes sb ON sb.doc_id = doc_b
            WHERE 100 * inter >= 30 * least(sa.n_sh, sb.n_sh)
        """,
        "ngram_jaccard": """
            WITH toks AS (
              SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
              FROM documents
            ), idx AS (
              SELECT doc_id, t,
                     unnest(generate_series(1, greatest(len(t) - 2, 1))) AS i
              FROM toks
            ), sh AS (
              SELECT DISTINCT doc_id,
                     array_to_string(t[i:i+2], ' ') AS shingle
              FROM idx
              WHERE array_to_string(t[i:i+2], ' ') != ''
            ), sizes AS (
              SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1
            ), capped AS (
              SELECT doc_id, shingle FROM sh
              QUALIFY count(*) OVER (PARTITION BY shingle) <= 1000
            ), inter AS (
              SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
              FROM capped a JOIN capped b ON a.shingle = b.shingle
              WHERE a.doc_id < b.doc_id
              GROUP BY 1, 2
            )
            SELECT doc_a, doc_b, inter,
                   sa.n_sh + sb.n_sh - inter AS union_n
            FROM inter
            JOIN sizes sa ON sa.doc_id = doc_a
            JOIN sizes sb ON sb.doc_id = doc_b
            WHERE 100 * inter >= 2 * (sa.n_sh + sb.n_sh - inter)
        """,
        "token_stats": """
            WITH s AS (
              SELECT lang,
                     CASE WHEN trim(text) = '' THEN 0
                          ELSE len(regexp_split_to_array(trim(text), '\\s+'))
                     END AS nt,
                     length(text) AS nc,
                     length(regexp_replace(text, '[^0-9]', '', 'g')) AS nd
              FROM documents
            )
            SELECT lang, count(*) AS n_docs,
                   cast(sum(nt) AS BIGINT) AS sum_tokens,
                   cast(sum(nc) AS BIGINT) AS sum_chars,
                   cast(sum(nd) AS BIGINT) AS sum_digit_chars
            FROM s GROUP BY lang
        """,
        "quality_flags": """
            WITH s AS (
              SELECT doc_id,
                     CASE WHEN trim(text) = '' THEN 0
                          ELSE len(regexp_split_to_array(trim(text), '\\s+'))
                     END AS nt,
                     length(text) AS nc,
                     length(regexp_replace(text, '[^0-9]', '', 'g')) AS nd
              FROM documents
            )
            SELECT doc_id,
                   cast(nt AS BIGINT) AS n_tokens,
                   cast(nc AS BIGINT) AS n_chars,
                   cast(nd AS BIGINT) AS n_digit_chars,
                   cast(CASE WHEN nt > 0
                             THEN floor((100 * (nc - (nt - 1))) / nt)
                             ELSE 0 END AS BIGINT) AS mean_token_len_x100,
                   (nt < 5 OR 10 * nd > 3 * nc
                    OR (CASE WHEN nt > 0
                             THEN floor((100 * (nc - (nt - 1))) / nt)
                             ELSE 0 END) > 1500) AS is_low_quality
            FROM s
        """,
        "knn_cosine": """
            WITH c AS (
              SELECT vec_id, cast(embedding AS DOUBLE[]) AS v FROM embeddings
            ), p AS (
              SELECT vec_id AS pid, v AS pv FROM c WHERE vec_id < 20
            ), s AS (
              SELECT p.pid AS probe_id, c.vec_id AS neighbor_id,
                     list_dot_product(p.pv, c.v)
                     / (sqrt(list_dot_product(p.pv, p.pv))
                        * sqrt(list_dot_product(c.v, c.v))) AS cosine
              FROM p, c WHERE c.vec_id != p.pid
            ), r AS (
              SELECT probe_id, neighbor_id,
                     row_number() OVER (PARTITION BY probe_id
                                        ORDER BY cosine DESC, neighbor_id) AS rn
              FROM s
            )
            SELECT probe_id, rn AS rank, neighbor_id FROM r WHERE rn <= 5
        """,
        "minhash_sigs": """
            WITH toks AS (
              SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
              FROM documents
            ), idx AS (
              SELECT doc_id, t,
                     unnest(generate_series(1, greatest(len(t) - 2, 1))) AS i
              FROM toks
            ), sh AS (
              SELECT doc_id, array_to_string(t[i:i+2], ' ') AS shingle
              FROM idx
              WHERE array_to_string(t[i:i+2], ' ') != ''
            )
            SELECT doc_id, s.seed,
                   min(cast(concat('0x',
                       substr(md5(concat(s.seed, ':', shingle)), 1, 15))
                     AS BIGINT)) AS minhash
            FROM sh CROSS JOIN (VALUES (0),(1),(2),(3),(4),(5),(6),(7)) AS s(seed)
            GROUP BY doc_id, s.seed
        """,
        "simhash": _simhash_sql(64),
        "simhash_near_dups": f"""
            WITH sims AS ({_simhash_sql(64)}),
            chunks AS (
              SELECT doc_id, simhash, c.chunk,
                     (simhash >> (c.chunk * 16)) & 65535 AS val
              FROM sims CROSS JOIN (VALUES (0),(1),(2),(3)) AS c(chunk)
            ), sized AS (
              SELECT doc_id, simhash, chunk, val FROM chunks
              QUALIFY count(*) OVER (PARTITION BY chunk, val) <= 10000
            )
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   cast(bit_count(xor(a.simhash, b.simhash)) AS BIGINT)
                     AS hamming
            FROM sized a JOIN sized b
              ON a.chunk = b.chunk AND a.val = b.val
            WHERE a.doc_id < b.doc_id
              AND bit_count(xor(a.simhash, b.simhash)) <= 3
        """,
        "simhash16_portable": _simhash_sql(16),
        "minhash_lsh_pairs": _minhash_pairs_sql(
            n_hashes=16, shingle_words=3, n_bands=4, rows_per_band=4
        ),
        "edit_verify": f"""
            WITH {_minhash_pairs_ctes(
                n_hashes=16, shingle_words=3, n_bands=4, rows_per_band=4
            )},
            v AS (
              SELECT p.doc_a, p.doc_b,
                     CAST(levenshtein(
                       substring(coalesce(da.text, ''), 1, 1000),
                       substring(coalesce(db.text, ''), 1, 1000))
                       AS BIGINT) AS dist,
                     CAST(length(substring(coalesce(da.text, ''), 1, 1000))
                          AS BIGINT) AS len_a,
                     CAST(length(substring(coalesce(db.text, ''), 1, 1000))
                          AS BIGINT) AS len_b
              FROM pairs p
              JOIN documents da ON da.doc_id = p.doc_a
              JOIN documents db ON db.doc_id = p.doc_b
            )
            SELECT doc_a, doc_b, dist, len_a, len_b
            FROM v WHERE 100 * dist <= 30 * greatest(len_a, len_b)
        """,
        # the streaming stateful query converges to the batch pair set
        # when every doc is within the horizon (constant event time)
        "stream_near_dups": _minhash_pairs_sql(
            n_hashes=16, shingle_words=3, n_bands=4, rows_per_band=4
        ),
        "near_dup_groups": _near_dup_groups_sql(
            n_hashes=16, shingle_words=3, n_bands=4, rows_per_band=4
        ),
        "dedup_decisions": _dedup_decisions_sql(
            n_hashes=16, shingle_words=3, n_bands=4, rows_per_band=4
        ),
        "knn_lsh": _knn_lsh_sql(_KNN_PLANES, k=5, probe_max=20),
        "knn_pq": _knn_pq_sql(_PQ_BOOKS, k=5, probe_max=20),
        "embedding_near_dups": _embedding_near_dups_sql(
            _KNN_PLANES, threshold=0.35
        ),
        "knn_ivf": """
            WITH c AS (
              SELECT vec_id, cast(embedding AS DOUBLE[]) AS v,
                     sqrt(list_dot_product(cast(embedding AS DOUBLE[]),
                                           cast(embedding AS DOUBLE[]))) AS nrm
              FROM embeddings
            ), cells AS (
              SELECT vec_id AS cell_id, v AS cvec, nrm AS cnrm
              FROM c WHERE vec_id < 16
            ), ranked AS (
              SELECT c.vec_id AS vid, c.v, c.nrm, cells.cell_id,
                     row_number() OVER (
                       PARTITION BY c.vec_id
                       ORDER BY list_dot_product(c.v, cells.cvec)
                                / (c.nrm * cells.cnrm) DESC, cells.cell_id
                     ) AS crn
              FROM c CROSS JOIN cells
            ), assigned AS (
              SELECT vid AS neighbor_id, v, nrm, cell_id
              FROM ranked WHERE crn = 1
            ), pc AS (
              SELECT vid AS probe_id, v AS pv, nrm AS pn,
                     cell_id AS pcell
              FROM ranked WHERE crn <= 2 AND vid < 20
            ), s AS (
              SELECT pc.probe_id, a.neighbor_id,
                     list_dot_product(pc.pv, a.v) / (pc.pn * a.nrm) AS cosine
              FROM pc JOIN assigned a ON a.cell_id = pc.pcell
              WHERE a.neighbor_id != pc.probe_id
            ), r AS (
              SELECT probe_id, neighbor_id,
                     row_number() OVER (PARTITION BY probe_id
                                        ORDER BY cosine DESC, neighbor_id)
                       AS rn
              FROM s
            )
            SELECT probe_id, rn AS rank, neighbor_id FROM r WHERE rn <= 5
        """,
        "multimodal_meta": """
            SELECT doc_id AS asset_id,
                   cast(octet_length(encode(text)) AS BIGINT) AS n_bytes,
                   md5(text) AS checksum
            FROM documents
        """,
        "multimodal_image_dims": """
            SELECT doc_id AS asset_id,
                   64 + cast(concat('0x', substr(sha256(text), 1, 2)) AS INT)
                     AS width,
                   64 + cast(concat('0x', substr(sha256(text), 3, 2)) AS INT)
                     AS height
            FROM documents
        """,
        "video_frames": """
            WITH n AS (
              SELECT doc_id AS asset_id, text AS t,
                     least(8, greatest(1, length(text) // 32)) AS nf
              FROM documents
            ), f AS (
              SELECT asset_id, t,
                     unnest(generate_series(0, nf - 1)) AS i
              FROM n
            )
            SELECT asset_id,
                   cast(i AS INT) AS frame_index,
                   cast(i * 1000 AS BIGINT) AS frame_ts_ms,
                   md5(substr(t, i * 32 + 1, 32)) AS frame_md5
            FROM f
        """,
        "audio_meta": """
            WITH d AS (SELECT doc_id AS asset_id, sha256(text) AS h
                       FROM documents)
            SELECT asset_id,
                   cast(CASE cast(concat('0x', substr(h, 1, 2)) AS INT) % 4
                        WHEN 0 THEN 8000 WHEN 1 THEN 16000
                        WHEN 2 THEN 22050 ELSE 44100 END AS INT)
                     AS sample_rate,
                   cast(100 + cast(concat('0x', substr(h, 3, 4)) AS INT)
                     AS BIGINT) AS duration_ms,
                   (cast(CASE cast(concat('0x', substr(h, 1, 2)) AS INT) % 4
                         WHEN 0 THEN 8000 WHEN 1 THEN 16000
                         WHEN 2 THEN 22050 ELSE 44100 END AS BIGINT)
                    * (100 + cast(concat('0x', substr(h, 3, 4)) AS BIGINT)))
                        // 1000 AS n_samples
            FROM d
        """,
        "lang_guess": _lang_guess_sql(),
        "stopword_stats": _stopword_stats_sql(),
        "bpe_token_count": f"""
            SELECT doc_id,
                   cast(len(regexp_extract_all(text,
                        '{textstats.BPE_ISH_PATTERN}')) AS BIGINT)
                     AS n_bpe_tokens
            FROM documents
        """,
        "winnow_fingerprints": """
            WITH toks AS (
              SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
              FROM documents
            ), idx AS (
              SELECT doc_id, t,
                     unnest(generate_series(1, greatest(len(t) - 2, 1))) AS i
              FROM toks
            ), sh AS (
              SELECT doc_id, i AS pos,
                     array_to_string(t[i:i+2], ' ') AS shingle
              FROM idx
              WHERE array_to_string(t[i:i+2], ' ') != ''
            ), h AS (
              SELECT doc_id, pos,
                     cast(concat('0x',
                         substr(md5(concat('0:', shingle)), 1, 15))
                       AS BIGINT) AS h
              FROM sh
            )
            SELECT DISTINCT doc_id,
                   min(h) OVER (PARTITION BY doc_id ORDER BY pos
                                ROWS BETWEEN CURRENT ROW
                                AND 3 FOLLOWING) AS fp
            FROM h
        """,
        "stream_tumbling": """
            SELECT (epoch_us(ts) // 3600000000) * 3600000000
                     AS window_start_us,
                   (epoch_us(ts) // 3600000000) * 3600000000 + 3600000000
                     AS window_end_us,
                   event_type,
                   count(*) AS n_events
            FROM events GROUP BY 1, 2, 3
        """,
        # Spark's sliding window(size=3h, slide=1h): event in pane p
        # (1h panes) belongs to windows starting at p-2, p-1, p
        "stream_sliding": """
            WITH w AS (
              SELECT ((epoch_us(ts) // 3600000000) - o.off) * 3600000000
                       AS window_start_us
              FROM events CROSS JOIN (VALUES (0),(1),(2)) AS o(off)
            )
            SELECT window_start_us,
                   window_start_us + 3 * 3600000000 AS window_end_us,
                   count(*) AS n_events
            FROM w GROUP BY 1
        """,
        "stream_session": """
            WITH ordered AS (
              SELECT user_id, epoch_us(ts) AS ts_us,
                     lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                             ORDER BY ts, event_id) AS prev_us
              FROM events
            ), flagged AS (
              -- strict > : session_window merges at exactly prev+gap
              SELECT user_id, ts_us,
                     CASE WHEN prev_us IS NULL
                               OR ts_us - prev_us > 1800000000
                          THEN 1 ELSE 0 END AS new_s
              FROM ordered
            ), sess AS (
              SELECT user_id, ts_us,
                     sum(new_s) OVER (PARTITION BY user_id ORDER BY ts_us
                                      ROWS UNBOUNDED PRECEDING) AS sid
              FROM flagged
            )
            SELECT user_id,
                   min(ts_us) AS session_start_us,
                   max(ts_us) + 1800000000 AS session_end_us,
                   count(*) AS n_events
            FROM sess GROUP BY user_id, sid
        """,
        "region_revenue": """
            SELECT r_name, count(*) AS n_orders,
                   cast(sum(cast(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name
        """,
        "pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   cast(sum(cast(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
                   cast(sum(cast(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_quantity < 30
            GROUP BY l_returnflag, l_linestatus
        """,
        "semi_join": """
            SELECT c_custkey, c_name FROM customer
            WHERE EXISTS (
              SELECT 1 FROM orders
              WHERE o_custkey = c_custkey AND o_totalprice > 100000
            )
        """,
        # the salted operators are result-identical to the plain query:
        # the salt only spreads the shuffle, never the values
        "salted_topn_docs": """
            WITH r AS (
              SELECT lang, doc_id, n_chars,
                     row_number() OVER (PARTITION BY lang
                                        ORDER BY n_chars DESC, doc_id) AS rank
              FROM documents
            )
            SELECT lang, rank, doc_id, n_chars FROM r WHERE rank <= 3
        """,
        "skew_join_agg": """
            SELECT l_returnflag, count(*) AS n_rows,
                   cast(sum(cast(l_quantity * m.mult AS DECIMAL(18,2)))
                     AS DOUBLE) AS weighted_qty
            FROM lineitem
            JOIN (VALUES ('A', 1), ('N', 2), ('R', 3))
              AS m(l_returnflag, mult) USING (l_returnflag)
            GROUP BY l_returnflag
        """,
        "distinct_tokens": """
            WITH toks AS (
              SELECT lang,
                     unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
              FROM documents
            )
            SELECT lang, count(DISTINCT tok) AS n_distinct_tokens
            FROM toks WHERE tok != '' GROUP BY lang
        """,
        "asof_join": """
            WITH clicks AS (
              SELECT user_id, event_id AS click_id, epoch_us(ts) AS ts_us
              FROM events WHERE event_type = 'click'
            ), purch AS (
              SELECT user_id, epoch_us(ts) AS ts_us,
                     max(event_id) AS purchase_id
              FROM events WHERE event_type = 'purchase'
              GROUP BY user_id, epoch_us(ts)
            )
            SELECT c.click_id, p.purchase_id
            FROM clicks c ASOF JOIN purch p
              ON c.user_id = p.user_id AND p.ts_us <= c.ts_us
        """,
        "cep_sequence": """
            WITH e AS (
              SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type
              FROM events
            ), w AS (
              SELECT user_id, event_id, ts_us, event_type,
                     lag(event_type, 1) OVER (PARTITION BY user_id
                         ORDER BY ts_us, event_id) AS prev_type,
                     lag(event_id, 1) OVER (PARTITION BY user_id
                         ORDER BY ts_us, event_id) AS prev_id,
                     lag(ts_us, 1) OVER (PARTITION BY user_id
                         ORDER BY ts_us, event_id) AS prev_ts
              FROM e
            )
            SELECT user_id, prev_id AS start_id, event_id AS end_id,
                   prev_ts AS start_ts_us, ts_us AS end_ts_us
            FROM w
            WHERE prev_type = 'click' AND event_type = 'purchase'
              AND ts_us - prev_ts <= 86400000000
        """,
        # portable md5 unit-hash: same first-15-hex-digit math as the
        # Spark operators (operators/sampling.py), so split/sample
        # membership is bit-identical
        "hash_split": """
            WITH u AS (
              SELECT doc_id,
                     cast(concat('0x', substr(md5(concat('0:',
                       cast(doc_id AS VARCHAR))), 1, 15)) AS BIGINT)
                       / 1152921504606846976.0 AS h
              FROM documents
            )
            SELECT doc_id,
                   CASE WHEN h < 0.8 THEN 'train'
                        WHEN h < 0.9 THEN 'val'
                        ELSE 'test' END AS split
            FROM u
        """,
        "stratified_cap": """
            WITH h AS (
              SELECT lang, doc_id,
                     cast(concat('0x', substr(md5(concat('0:',
                       cast(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) AS hv
              FROM documents
            ), r AS (
              SELECT lang, doc_id,
                     row_number() OVER (PARTITION BY lang
                                        ORDER BY hv, doc_id) AS sample_rank
              FROM h
            )
            SELECT lang, sample_rank, doc_id FROM r WHERE sample_rank <= 20
        """,
        "det_sample": """
            SELECT doc_id, lang FROM documents
            WHERE cast(concat('0x', substr(md5(concat('3:',
                    cast(doc_id AS VARCHAR))), 1, 15)) AS BIGINT)
                  / 1152921504606846976.0 < 0.2
        """,
        "media_exact_dups": """
            SELECT sha256(text) AS sha256,
                   min(doc_id) AS keeper_id,
                   count(*) AS n_assets
            FROM documents GROUP BY 1
        """,
        "pivot_lang_source": """
            SELECT source,
                   cast(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_en,
                   cast(sum(CASE WHEN lang = 'de' THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_de,
                   cast(sum(CASE WHEN lang = 'fr' THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_fr,
                   cast(sum(CASE WHEN lang = 'es' THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_es,
                   cast(sum(CASE WHEN lang IS NULL
                                   OR lang NOT IN ('en','de','fr','es')
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_other
            FROM documents GROUP BY source
        """,
        "rolling_avg": """
            SELECT user_id, event_id,
                   cast(sum(cast(value AS DECIMAL(18,2))) OVER w
                     AS DOUBLE) AS roll_sum,
                   cast(count(*) OVER w AS BIGINT) AS roll_n
            FROM events
            WINDOW w AS (PARTITION BY user_id
                         ORDER BY epoch_us(ts), event_id
                         ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
        """,
        # composes the quality_flags and repetition_stats oracle
        # predicates, rolled up per (lang, source)
        "corpus_report": """
            WITH q AS (
              SELECT doc_id, lang, source, md5(text) AS fp,
                     CASE WHEN trim(text) = '' THEN 0
                          ELSE len(regexp_split_to_array(trim(text), '\\s+'))
                     END AS nt,
                     length(text) AS nc,
                     length(regexp_replace(text, '[^0-9]', '', 'g')) AS nd
              FROM documents
            ), toks AS (
              SELECT doc_id, trim(text) AS tt,
                     regexp_split_to_array(trim(text), '\\s+') AS t
              FROM documents
            ), idx AS (
              SELECT doc_id, t,
                     unnest(generate_series(1, greatest(len(t) - 2, 1))) AS i
              FROM toks
            ), sh AS (
              SELECT doc_id, array_to_string(t[i:i+2], ' ') AS shingle
              FROM idx
              WHERE array_to_string(t[i:i+2], ' ') != ''
            ), grams AS (
              SELECT doc_id, count(*) AS n_ngrams,
                     count(DISTINCT shingle) AS n_distinct_ngrams
              FROM sh GROUP BY 1
            ), tokrows AS (
              SELECT doc_id, unnest(t) AS tok FROM toks
            ), modes AS (
              SELECT doc_id, max(c) AS top_tok_n FROM (
                SELECT doc_id, tok, count(*) AS c FROM tokrows
                WHERE tok != '' GROUP BY 1, 2
              ) GROUP BY 1
            ), per_doc AS (
              SELECT q.doc_id, q.lang, q.source, q.fp, q.nt,
                     (q.nt < 5 OR 10 * q.nd > 3 * q.nc
                      OR (CASE WHEN q.nt > 0
                               THEN floor((100 * (q.nc - (q.nt - 1))) / q.nt)
                               ELSE 0 END) > 1500) AS lowq,
                     (5 * coalesce(m.top_tok_n, 0) > q.nt
                      OR 2 * coalesce(g.n_distinct_ngrams, 0)
                         < coalesce(g.n_ngrams, 0)) AS rep
              FROM q
              LEFT JOIN grams g ON g.doc_id = q.doc_id
              LEFT JOIN modes m ON m.doc_id = q.doc_id
            )
            SELECT lang, source,
                   count(*) AS n_docs,
                   cast(sum(nt) AS BIGINT) AS n_tokens,
                   cast(sum(CASE WHEN lowq THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_low_quality,
                   cast(sum(CASE WHEN rep THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_repetitive,
                   cast(count(*) - count(DISTINCT fp) AS BIGINT)
                     AS n_exact_dups
            FROM per_doc GROUP BY 1, 2
        """,
        "cep_gap_tolerant": """
            WITH e AS (
              SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us
              FROM events
            ), p AS (
              SELECT user_id, event_id, event_type, ts_us,
                last_value(CASE WHEN event_type <> 'view'
                                THEN event_type END IGNORE NULLS)
                  OVER w AS prev_t,
                last_value(CASE WHEN event_type <> 'view'
                                THEN ts_us END IGNORE NULLS)
                  OVER w AS prev_ts,
                last_value(CASE WHEN event_type <> 'view'
                                THEN event_id END IGNORE NULLS)
                  OVER w AS prev_id
              FROM e
              WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND 1 PRECEDING)
            )
            SELECT user_id, prev_id AS start_id, event_id AS end_id,
                   prev_ts AS start_ts_us, ts_us AS end_ts_us
            FROM p
            WHERE event_type = 'purchase' AND prev_t = 'click'
              AND ts_us - prev_ts <= 86400000000
        """,
        # same min-of-w md5 hash per weight unit on both engines
        "weighted_sample": """
            WITH w AS (
              SELECT doc_id,
                     least(1 + n_chars // 150, 8) AS wt
              FROM documents
            ), pri AS (
              SELECT doc_id, min(cast(concat('0x', substr(md5(concat(
                       '7:', cast(doc_id AS VARCHAR), ':',
                       cast(i AS VARCHAR))), 1, 15)) AS BIGINT))
                       AS priority
              FROM w, unnest(generate_series(0, wt - 1)) AS t(i)
              GROUP BY doc_id
            )
            SELECT doc_id, priority FROM pri
            ORDER BY priority, doc_id LIMIT 50
        """,
        "funnel_dropoff": """
            SELECT c.user_id, c.event_id AS first_id,
                   epoch_us(c.ts) AS first_ts_us
            FROM events c
            WHERE c.event_type = 'click'
              AND NOT EXISTS (
                SELECT 1 FROM events p
                WHERE p.user_id = c.user_id
                  AND p.event_type = 'purchase'
                  AND epoch_us(p.ts) >= epoch_us(c.ts)
                  AND epoch_us(p.ts) <= epoch_us(c.ts) + 3600000000
              )
        """,
        "repetition_stats": """
            WITH toks AS (
              SELECT doc_id, trim(text) AS tt,
                     regexp_split_to_array(trim(text), '\\s+') AS t
              FROM documents
            ), base AS (
              SELECT doc_id,
                     CASE WHEN tt = '' THEN 0 ELSE len(t) END AS n_tok,
                     CASE WHEN tt = '' THEN 0
                          ELSE len(list_distinct(t)) END AS n_distinct_tok
              FROM toks
            ), idx AS (
              SELECT doc_id, t,
                     unnest(generate_series(1, greatest(len(t) - 2, 1))) AS i
              FROM toks
            ), sh AS (
              SELECT doc_id, array_to_string(t[i:i+2], ' ') AS shingle
              FROM idx
              WHERE array_to_string(t[i:i+2], ' ') != ''
            ), grams AS (
              SELECT doc_id, count(*) AS n_ngrams,
                     count(DISTINCT shingle) AS n_distinct_ngrams
              FROM sh GROUP BY 1
            ), tokrows AS (
              SELECT doc_id, unnest(t) AS tok FROM toks
            ), modes AS (
              SELECT doc_id, max(c) AS top_tok_n FROM (
                SELECT doc_id, tok, count(*) AS c FROM tokrows
                WHERE tok != '' GROUP BY 1, 2
              ) GROUP BY 1
            )
            SELECT b.doc_id, b.n_tok, b.n_distinct_tok,
                   coalesce(m.top_tok_n, 0) AS top_tok_n,
                   coalesce(g.n_ngrams, 0) AS n_ngrams,
                   coalesce(g.n_distinct_ngrams, 0) AS n_distinct_ngrams,
                   (5 * coalesce(m.top_tok_n, 0) > b.n_tok
                    OR 2 * coalesce(g.n_distinct_ngrams, 0)
                       < coalesce(g.n_ngrams, 0)) AS repetitive
            FROM base b
            LEFT JOIN grams g ON g.doc_id = b.doc_id
            LEFT JOIN modes m ON m.doc_id = b.doc_id
        """,
        # same portable md5 shingle hash on both engines (collision-safe
        # parity, CLAUDE.md convention)
        "contamination": """
            WITH toks AS (
              SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
              FROM documents
            ), idx AS (
              SELECT doc_id, t,
                     unnest(generate_series(1, greatest(len(t) - 2, 1))) AS i
              FROM toks
            ), sh AS (
              SELECT DISTINCT doc_id,
                     array_to_string(t[i:i+2], ' ') AS shingle
              FROM idx
              WHERE array_to_string(t[i:i+2], ' ') != ''
            ), hashed AS (
              SELECT DISTINCT doc_id,
                     cast(concat('0x', substr(md5(concat('0:', shingle)),
                       1, 15)) AS BIGINT) AS h
              FROM sh
            ), probe AS (
              SELECT DISTINCT h FROM hashed WHERE doc_id % 97 = 0
            ), agg AS (
              SELECT h2.doc_id, count(h2.h) AS n_shingles,
                     count(p.h) AS n_contaminated
              FROM hashed h2 LEFT JOIN probe p ON p.h = h2.h
              GROUP BY 1
            )
            SELECT d.doc_id,
                   coalesce(a.n_shingles, 0) AS n_shingles,
                   coalesce(a.n_contaminated, 0) AS n_contaminated,
                   coalesce(a.n_contaminated, 0) > 0 AS contaminated
            FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id
        """,
        "top_terms": """
            WITH tokrows AS (
              SELECT doc_id,
                     unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
              FROM documents
            ), tf AS (
              SELECT doc_id, term, count(*) AS tf FROM tokrows
              WHERE term != '' GROUP BY 1, 2
            ), dfreq AS (
              SELECT term, count(*) AS doc_freq FROM tf GROUP BY 1
            ), ranked AS (
              SELECT tf.doc_id, tf.term, tf.tf, d.doc_freq,
                     row_number() OVER (
                       PARTITION BY tf.doc_id
                       ORDER BY tf.tf DESC, d.doc_freq ASC, tf.term ASC
                     ) AS rank
              FROM tf JOIN dfreq d ON d.term = tf.term
            )
            SELECT doc_id, rank, term, tf, doc_freq
            FROM ranked WHERE rank <= 5
        """,
        "redact_pii": """
            SELECT doc_id,
                   regexp_replace(
                     regexp_replace(text,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                       '<EMAIL>', 'g'),
                     '\\+?[0-9][0-9()\\-\\s]{6,}[0-9]', '<PHONE>', 'g')
                     AS redacted,
                   len(regexp_extract_all(text,
                     '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))
                     AS n_emails,
                   len(regexp_extract_all(text,
                     '\\+?[0-9][0-9()\\-\\s]{6,}[0-9]')) AS n_phones
            FROM documents
        """,
        "stream_distinct": """
            SELECT (epoch_us(ts) // 21600000000) * 21600000000
                     AS window_start_us,
                   count(DISTINCT user_id) AS n_distinct
            FROM events GROUP BY 1
        """,
        "stream_interval_join": """
            SELECT c.event_id AS click_id, p.event_id AS purchase_id
            FROM events c JOIN events p
              ON c.user_id = p.user_id
             AND c.event_type = 'click' AND p.event_type = 'purchase'
             AND epoch_us(p.ts) >= epoch_us(c.ts)
             AND epoch_us(p.ts) <= epoch_us(c.ts) + 3600000000
        """,
        # exact first-occurrence oracle: valid because the driver-sized
        # filter (2^20 bits, k=4) fires no false positive on this
        # corpus, deterministically (see q_stream_bloom_dedup docstring)
        "stream_bloom_dedup": """
            WITH e AS (
              SELECT epoch_us(ts) // 21600000000 AS pane_id,
                     cast(concat('0x', substr(md5(concat('1:',
                       cast(user_id AS VARCHAR))), 1, 15)) AS BIGINT)
                       AS key_h1,
                     event_id AS row_id,
                     epoch_us(ts) AS ts_us,
                     row_number() OVER (
                       PARTITION BY epoch_us(ts) // 21600000000, user_id
                       ORDER BY epoch_us(ts), event_id
                     ) AS rn
              FROM events
            )
            SELECT pane_id, key_h1, row_id, ts_us FROM e WHERE rn = 1
        """,
        "session_dynamic_gap": """
            WITH e AS (
              SELECT user_id, event_id, epoch_us(ts) AS ts_us,
                     CASE WHEN event_type = 'purchase'
                          THEN 3600000000 ELSE 1800000000 END AS gap_us
              FROM events
            ), m AS (
              SELECT user_id, event_id, ts_us, gap_us,
                     max(ts_us + gap_us) OVER (
                       PARTITION BY user_id ORDER BY ts_us, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                     ) AS prev_end
              FROM e
            ), isl AS (
              SELECT user_id, ts_us, gap_us,
                     sum(CASE WHEN prev_end IS NULL
                              OR ts_us > prev_end THEN 1 ELSE 0 END)
                       OVER (PARTITION BY user_id
                             ORDER BY ts_us, event_id) AS sid
              FROM m
            )
            SELECT user_id,
                   min(ts_us) AS session_start_us,
                   max(ts_us + gap_us) AS session_end_us,
                   count(*) AS n_events
            FROM isl GROUP BY user_id, sid
        """,
        "stream_dedup_exact": """
            WITH e AS (
              SELECT user_id, event_type, event_id, epoch_us(ts) AS ts_us,
                     row_number() OVER (
                       PARTITION BY user_id, event_type
                       ORDER BY epoch_us(ts), event_id
                     ) AS rn
              FROM events
            )
            SELECT user_id, event_type, event_id, ts_us
            FROM e WHERE rn = 1
        """,
        "stream_interval_join_left": """
            SELECT c.event_id AS click_id, p.event_id AS purchase_id
            FROM (SELECT * FROM events WHERE event_type = 'click') c
            LEFT JOIN (SELECT * FROM events
                       WHERE event_type = 'purchase') p
              ON c.user_id = p.user_id
             AND epoch_us(p.ts) >= epoch_us(c.ts)
             AND epoch_us(p.ts) <= epoch_us(c.ts) + 3600000000
        """,
        "stream_topn": """
            WITH p AS (
              SELECT epoch_us(ts) // 43200000000 AS pane_id, event_id, value
              FROM events
            ), r AS (
              SELECT pane_id, event_id, value,
                     row_number() OVER (PARTITION BY pane_id
                                        ORDER BY value DESC, event_id) AS rank
              FROM p
            )
            SELECT pane_id, rank, event_id, value FROM r WHERE rank <= 5
        """,
        "value_percentiles": """
            SELECT event_type,
                   quantile_cont(value, 0.5) AS p50,
                   quantile_cont(value, 0.95) AS p95
            FROM events GROUP BY event_type
        """,
        "rollup_panes": """
            WITH e AS (
              SELECT epoch_us(ts) // 86400000000 AS day_id,
                     epoch_us(ts) // 3600000000 AS hour_id,
                     value
              FROM events
            )
            SELECT day_id, coalesce(hour_id, -1) AS hour_id,
                   grouping(day_id, hour_id) AS gid,
                   count(*) AS n_events,
                   cast(sum(cast(value AS DECIMAL(18,2))) AS DOUBLE)
                     AS sum_value
            FROM e
            GROUP BY GROUPING SETS ((day_id, hour_id), (day_id))
        """,
        # --- round 4 ---
        "domain_stats": f"""
            WITH u AS (
              SELECT doc_id, text,
                     lower(regexp_extract(
                       concat('https://sub', cast(doc_id % 3 AS VARCHAR),
                              '.', source, '-site.org/p/',
                              cast(doc_id AS VARCHAR)),
                       '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/:?#]+)', 1)) AS host
              FROM documents
            ), d AS (
              SELECT doc_id, text, host,
                     CASE WHEN regexp_extract(host, '[^.]+\\.[^.]+$', 0) = ''
                          THEN host
                          ELSE regexp_extract(host, '[^.]+\\.[^.]+$', 0)
                     END AS domain
              FROM u
            )
            SELECT domain,
                   count(*) AS n_docs,
                   cast(sum(CASE WHEN trim(text) = '' THEN 0
                            ELSE len(regexp_split_to_array(trim(text),
                                                           '\\s+'))
                            END) AS BIGINT) AS n_tokens,
                   count(DISTINCT host) AS n_hosts,
                   min(doc_id) AS first_doc_id
            FROM d GROUP BY domain
        """,
        "domain_cap": """
            WITH u AS (
              SELECT doc_id,
                     lower(regexp_extract(
                       concat('https://sub', cast(doc_id % 3 AS VARCHAR),
                              '.', source, '-site.org/p/',
                              cast(doc_id AS VARCHAR)),
                       '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/:?#]+)', 1)) AS host
              FROM documents
            ), d AS (
              SELECT doc_id,
                     CASE WHEN regexp_extract(host, '[^.]+\\.[^.]+$', 0) = ''
                          THEN host
                          ELSE regexp_extract(host, '[^.]+\\.[^.]+$', 0)
                     END AS domain
              FROM u
            ), r AS (
              SELECT doc_id, domain,
                     row_number() OVER (
                       PARTITION BY domain
                       ORDER BY cast(concat('0x', substr(md5(concat('0:',
                         cast(doc_id AS VARCHAR))), 1, 15)) AS BIGINT),
                         doc_id
                     ) AS sample_rank
              FROM d
            )
            SELECT doc_id, domain, sample_rank FROM r WHERE sample_rank <= 10
        """,
        "span_dedup": """
            WITH toks AS (
              SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
              FROM documents
            ), idx AS (
              SELECT doc_id, t,
                     unnest(generate_series(0,
                       cast(ceil(len(t) / 8.0) AS INT) - 1)) AS i
              FROM toks
            ), sp AS (
              SELECT doc_id, i AS span_idx,
                     array_to_string(t[i*8+1:i*8+8], ' ') AS span
              FROM idx
              WHERE array_to_string(t[i*8+1:i*8+8], ' ') != ''
            ), f AS (
              SELECT doc_id, span_idx, md5(span) AS span_h FROM sp
            ), k AS (
              SELECT doc_id, span_idx, span_h,
                     first_value(doc_id) OVER w AS keeper_doc,
                     first_value(span_idx) OVER w AS keeper_idx
              FROM f
              WINDOW w AS (PARTITION BY span_h ORDER BY doc_id, span_idx
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND UNBOUNDED FOLLOWING)
            )
            SELECT doc_id, span_idx, span_h, keeper_doc, keeper_idx,
                   (keeper_doc != doc_id OR keeper_idx != span_idx) AS is_dup
            FROM k
        """,
        "span_clean": """
            WITH toks AS (
              SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
              FROM documents
            ), idx AS (
              SELECT doc_id, t,
                     unnest(generate_series(0,
                       cast(ceil(len(t) / 8.0) AS INT) - 1)) AS i
              FROM toks
            ), sp AS (
              SELECT doc_id, i AS span_idx,
                     array_to_string(t[i*8+1:i*8+8], ' ') AS span
              FROM idx
              WHERE array_to_string(t[i*8+1:i*8+8], ' ') != ''
            ), k AS (
              SELECT doc_id, span_idx, span,
                     first_value(doc_id) OVER w AS keeper_doc,
                     first_value(span_idx) OVER w AS keeper_idx
              FROM sp
              WINDOW w AS (PARTITION BY md5(span) ORDER BY doc_id, span_idx
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND UNBOUNDED FOLLOWING)
            ), v AS (
              SELECT doc_id, span_idx, span,
                     (keeper_doc != doc_id OR keeper_idx != span_idx)
                       AS is_dup
              FROM k
            )
            SELECT doc_id,
                   count(*) AS n_spans,
                   cast(sum(CASE WHEN is_dup THEN 0 ELSE 1 END) AS BIGINT)
                     AS n_kept,
                   md5(coalesce(string_agg(span, ' ' ORDER BY span_idx)
                                  FILTER (WHERE NOT is_dup), ''))
                     AS clean_md5
            FROM v GROUP BY doc_id
        """,
        "props_extract": """
            WITH e AS (
              SELECT event_type AS grp,
                     cast(nullif(regexp_extract(props,
                                 '"k":\\s*(-?[0-9]+)', 1),
                                 '') AS BIGINT) AS v
              FROM events
            )
            SELECT grp, count(*) AS n_rows, count(v) AS n_with_field,
                   cast(sum(v) AS BIGINT) AS sum_v,
                   min(v) AS min_v, max(v) AS max_v
            FROM e GROUP BY grp
        """,
        "weighted_strat_cap": """
            WITH w AS (
              SELECT doc_id, lang,
                     least(1 + n_chars // 150, 8) AS wt
              FROM documents
            ), pri AS (
              SELECT doc_id, lang,
                     min(cast(concat('0x', substr(md5(concat(
                       '7:', cast(doc_id AS VARCHAR), ':',
                       cast(i AS VARCHAR))), 1, 15)) AS BIGINT)) AS priority
              FROM w, unnest(generate_series(0, wt - 1)) AS t(i)
              GROUP BY doc_id, lang
            ), r AS (
              SELECT doc_id, lang, priority,
                     row_number() OVER (PARTITION BY lang
                                        ORDER BY priority, doc_id)
                       AS sample_rank
              FROM pri
            )
            SELECT doc_id, lang, priority, sample_rank
            FROM r WHERE sample_rank <= 10
        """,
        "norm_dedup": """
            WITH f AS (
              SELECT doc_id,
                     md5(trim(regexp_replace(regexp_replace(lower(text),
                       '[.,;:!?''"()\\[\\]{}]', '', 'g'),
                       '\\s+', ' ', 'g'))) AS norm_fp
              FROM documents
            )
            SELECT doc_id, norm_fp,
                   min(doc_id) OVER (PARTITION BY norm_fp) AS keeper_id,
                   cast(count(*) OVER (PARTITION BY norm_fp) AS BIGINT)
                     AS n_variants
            FROM f
        """,
        "cube_events": """
            WITH e AS (
              SELECT epoch_us(ts) // 86400000000 AS day_id,
                     event_type, value
              FROM events
            )
            SELECT coalesce(day_id, -1) AS day_id,
                   coalesce(event_type, 'ALL') AS event_type,
                   cast(grouping(day_id, event_type) AS BIGINT) AS gid,
                   count(*) AS n_events,
                   cast(sum(cast(value AS DECIMAL(18,2))) AS DOUBLE)
                     AS sum_value
            FROM e GROUP BY CUBE (day_id, event_type)
        """,
        "quality_verdicts": _quality_verdicts_sql(),
        "image_phash": _image_phash_sql(),
        "top_orders": """
            WITH rev AS (
              SELECT o.o_orderkey, o.o_orderpriority,
                     cast(sum(cast(l.l_extendedprice AS DECIMAL(18,2))
                              * (cast(1 AS DECIMAL(18,2))
                                 - cast(l.l_discount AS DECIMAL(18,2))))
                          AS DOUBLE) AS revenue,
                     count(*) AS n_items
              FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
              GROUP BY o.o_orderkey, o.o_orderpriority
            ), r AS (
              SELECT *, row_number() OVER (
                       ORDER BY revenue DESC, o_orderkey) AS rank
              FROM rev
            )
            SELECT rank, o_orderkey, o_orderpriority, revenue, n_items
            FROM r WHERE rank <= 10
        """,
        "session_assign": """
            WITH ordered AS (
              SELECT user_id, event_id, epoch_us(ts) AS ts_us,
                     lag(epoch_us(ts)) OVER (
                       PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                     ) AS prev_us
              FROM events
            ), flagged AS (
              -- strict > : aligned with session_window's merge-at-
              -- exact-boundary semantics (and assign_session_ids)
              SELECT user_id, event_id, ts_us,
                     CASE WHEN prev_us IS NULL
                               OR ts_us - prev_us > 1800000000
                          THEN 1 ELSE 0 END AS new_s
              FROM ordered
            ), seq AS (
              SELECT user_id, event_id, ts_us,
                     -- CAST: DuckDB sums ints to HUGEINT which pandas
                     -- materializes as float64; the driver's byte-strict
                     -- hash then sees 1.0 vs Spark's bigint 1 (r04 red row)
                     CAST(sum(new_s) OVER (
                       PARTITION BY user_id ORDER BY ts_us, event_id
                       ROWS UNBOUNDED PRECEDING
                     ) AS BIGINT) AS session_seq
              FROM flagged
            )
            SELECT user_id, event_id, ts_us, session_seq,
                   min(ts_us) OVER (PARTITION BY user_id, session_seq)
                     AS session_start_us
            FROM seq
        """,
        "snapshot_diff": """
            WITH old AS (
              -- mirrors the library's NULL-content sentinel
              -- (maintenance.snapshot_diff): literal '<null>' for NULL,
              -- md5 otherwise — md5 output is always 32 hex chars, so
              -- the marker is collision-free by construction
              SELECT doc_id,
                     CASE WHEN text IS NULL THEN '<null>'
                          ELSE md5(text) END AS fp
              FROM documents WHERE doc_id % 7 != 0
            ), new AS (
              SELECT doc_id,
                     CASE WHEN v IS NULL THEN '<null>'
                          ELSE md5(v) END AS fp
              FROM (SELECT doc_id,
                           CASE WHEN doc_id % 5 = 0
                                THEN concat(text, ' v2')
                                ELSE text END AS v
                    FROM documents WHERE doc_id % 11 != 0)
            )
            SELECT coalesce(old.doc_id, new.doc_id) AS doc_id,
                   coalesce(old.fp, '') AS old_fp,
                   coalesce(new.fp, '') AS new_fp,
                   CASE WHEN old.fp IS NULL THEN 'added'
                        WHEN new.fp IS NULL THEN 'removed'
                        WHEN old.fp != new.fp THEN 'changed'
                        ELSE 'unchanged' END AS status
            FROM old FULL OUTER JOIN new ON old.doc_id = new.doc_id
        """,
        "funnel_steps": """
            WITH s0 AS (
              SELECT user_id, min(epoch_us(ts)) AS s0
              FROM events WHERE event_type = 'click' GROUP BY user_id
            ), s1 AS (
              SELECT e.user_id, min(epoch_us(e.ts)) AS s1
              FROM events e JOIN s0 ON e.user_id = s0.user_id
              WHERE e.event_type = 'view' AND epoch_us(e.ts) > s0.s0
              GROUP BY e.user_id
            ), s2 AS (
              SELECT e.user_id, min(epoch_us(e.ts)) AS s2
              FROM events e JOIN s1 ON e.user_id = s1.user_id
              WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > s1.s1
              GROUP BY e.user_id
            )
            SELECT s0.user_id,
                   s0.s0 AS s0_us,
                   coalesce(s1.s1, -1) AS s1_us,
                   coalesce(s2.s2, -1) AS s2_us,
                   (s2.s2 IS NOT NULL
                    AND s2.s2 - s0.s0 <= 172800000000) AS matched,
                   CASE WHEN s2.s2 IS NOT NULL
                             AND s2.s2 - s0.s0 <= 172800000000
                        THEN s2.s2 - s0.s0 ELSE -1 END AS duration_us
            FROM s0
            LEFT JOIN s1 ON s0.user_id = s1.user_id
            LEFT JOIN s2 ON s0.user_id = s2.user_id
        """,
        "stream_knn": """
            WITH c AS (
              SELECT vec_id, cast(embedding AS DOUBLE[]) AS v FROM embeddings
            ), p AS (
              SELECT vec_id AS pid, v AS pv FROM c WHERE vec_id < 20
            ), s AS (
              SELECT p.pid AS probe_id, c.vec_id AS neighbor_id,
                     list_dot_product(p.pv, c.v)
                     / (sqrt(list_dot_product(p.pv, p.pv))
                        * sqrt(list_dot_product(c.v, c.v))) AS cosine
              FROM p, c WHERE c.vec_id != p.pid
            ), r AS (
              SELECT probe_id, neighbor_id,
                     row_number() OVER (PARTITION BY probe_id
                                        ORDER BY cosine DESC, neighbor_id) AS rn
              FROM s
            )
            SELECT (((1700000000 + (probe_id % 4) * 3600) // 3600) * 3600)
                     * 1000000 AS window_start_us,
                   probe_id, rn AS rank, neighbor_id
            FROM r WHERE rn <= 5
        """,
        "stream_knn_ivf": """
            WITH c AS (
              SELECT vec_id, cast(embedding AS DOUBLE[]) AS v,
                     sqrt(list_dot_product(cast(embedding AS DOUBLE[]),
                                           cast(embedding AS DOUBLE[]))) AS nrm
              FROM embeddings
            ), cells AS (
              SELECT vec_id AS cell_id, v AS cvec, nrm AS cnrm
              FROM c WHERE vec_id < 16
            ), ranked AS (
              SELECT c.vec_id AS vid, c.v, c.nrm, cells.cell_id,
                     row_number() OVER (
                       PARTITION BY c.vec_id
                       ORDER BY list_dot_product(c.v, cells.cvec)
                                / (c.nrm * cells.cnrm) DESC, cells.cell_id
                     ) AS crn
              FROM c CROSS JOIN cells
            ), assigned AS (
              SELECT vid AS neighbor_id, v, nrm, cell_id
              FROM ranked WHERE crn = 1
            ), pc AS (
              SELECT vid AS probe_id, v AS pv, nrm AS pn,
                     cell_id AS pcell
              FROM ranked WHERE crn <= 2 AND vid < 20
            ), s AS (
              SELECT pc.probe_id, a.neighbor_id,
                     list_dot_product(pc.pv, a.v) / (pc.pn * a.nrm) AS cosine
              FROM pc JOIN assigned a ON a.cell_id = pc.pcell
              WHERE a.neighbor_id != pc.probe_id
            ), r AS (
              SELECT probe_id, neighbor_id,
                     row_number() OVER (PARTITION BY probe_id
                                        ORDER BY cosine DESC, neighbor_id)
                       AS rn
              FROM s
            )
            SELECT (((1700000000 + (probe_id % 4) * 3600) // 3600) * 3600)
                     * 1000000 AS window_start_us,
                   probe_id, rn AS rank, neighbor_id
            FROM r WHERE rn <= 5
        """,
        "stream_session_dynamic": """
            WITH e AS (
              SELECT user_id, event_id, epoch_us(ts) AS ts_us,
                     CASE WHEN event_type = 'purchase'
                          THEN 3600000000 ELSE 1800000000 END AS gap_us
              FROM events
            ), m AS (
              SELECT user_id, event_id, ts_us, gap_us,
                     max(ts_us + gap_us) OVER (
                       PARTITION BY user_id ORDER BY ts_us, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                     ) AS prev_end
              FROM e
            ), isl AS (
              SELECT user_id, ts_us, gap_us,
                     sum(CASE WHEN prev_end IS NULL
                              OR ts_us > prev_end THEN 1 ELSE 0 END)
                       OVER (PARTITION BY user_id
                             ORDER BY ts_us, event_id) AS sid
              FROM m
            )
            SELECT user_id,
                   min(ts_us) AS session_start_us,
                   max(ts_us + gap_us) AS session_end_us,
                   count(*) AS n_events
            FROM isl GROUP BY user_id, sid
        """,
        "stream_sample": """
            WITH e AS (
              SELECT epoch_us(ts) // 43200000000 AS pane_id,
                     event_id,
                     cast(concat('0x', substr(md5(concat('0:',
                       cast(event_id AS VARCHAR))), 1, 15)) AS BIGINT)
                       AS priority
              FROM events
            ), r AS (
              SELECT pane_id, event_id AS row_id, priority,
                     row_number() OVER (
                       PARTITION BY pane_id ORDER BY priority, event_id
                     ) AS sample_rank
              FROM e
            )
            SELECT pane_id, sample_rank, row_id, priority
            FROM r WHERE sample_rank <= 20
        """,
        "stream_funnel": """
            WITH s0 AS (
              SELECT user_id, min(epoch_us(ts)) AS s0
              FROM events WHERE event_type = 'click' GROUP BY user_id
            ), s1 AS (
              SELECT e.user_id, min(epoch_us(e.ts)) AS s1
              FROM events e JOIN s0 ON e.user_id = s0.user_id
              WHERE e.event_type = 'view' AND epoch_us(e.ts) > s0.s0
              GROUP BY e.user_id
            ), s2 AS (
              SELECT e.user_id, min(epoch_us(e.ts)) AS s2
              FROM events e JOIN s1 ON e.user_id = s1.user_id
              WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > s1.s1
              GROUP BY e.user_id
            )
            SELECT s0.user_id AS key,
                   s0.s0 AS s0_us, s1.s1 AS s1_us, s2.s2 AS s2_us,
                   TRUE AS matched,
                   s2.s2 - s0.s0 AS duration_us
            FROM s0
            JOIN s1 ON s0.user_id = s1.user_id
            JOIN s2 ON s0.user_id = s2.user_id
            WHERE s2.s2 - s0.s0 <= 172800000000
        """,
        "stream_bloom_sharded": """
            WITH e AS (
              SELECT epoch_us(ts) // 21600000000 AS pane_id,
                     cast(concat('0x', substr(md5(concat('1:',
                       cast(user_id AS VARCHAR))), 1, 15)) AS BIGINT)
                       AS key_h1,
                     event_id AS row_id,
                     epoch_us(ts) AS ts_us,
                     row_number() OVER (
                       PARTITION BY epoch_us(ts) // 21600000000, user_id
                       ORDER BY epoch_us(ts), event_id
                     ) AS rn
              FROM events
            )
            SELECT pane_id, key_h1, row_id, ts_us FROM e WHERE rn = 1
        """,
    }
