"""Round-6 operator tests: canonical_url rules, equi-depth histogram,
vocab builder, adaptive length filter, streaming incremental dedup."""

import uuid

import pytest

from pyspark.sql import functions as F
from tests.conftest import await_stream


def test_canonical_url_rules(spark):
    from kelos_on_kafka_spark.operators.webtext import canonical_url

    cases = [
        # (raw, canonical)
        (
            "HTTPS://WWW.Example.Com:443/A/B/?utm_source=x&b=2&a=1#top",
            "https://www.example.com/A/B?a=1&b=2",
        ),
        ("http://Host.com:80/x", "http://host.com/x"),
        ("http://host.com:8080/x/", "http://host.com:8080/x"),
        ("https://h.com/p?gclid=1&ref=z&fbclid=2", "https://h.com/p"),
        ("https://h.com/p?z=1&a=2", "https://h.com/p?a=2&z=1"),
        ("https://h.com", "https://h.com"),
        ("not a url", ""),
    ]
    df = spark.createDataFrame(
        [(i, raw) for i, (raw, _) in enumerate(cases)],
        "i long, url string",
    )
    got = {
        r.i: r.c
        for r in df.select("i", canonical_url().alias("c")).collect()
    }
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, (cases[i][0], got[i], want)


def test_equidepth_histogram_counts_and_bounds(spark):
    from kelos_on_kafka_spark.operators.windowing import (
        equidepth_histogram,
    )

    df = spark.createDataFrame(
        [("a", i, float((i * 7) % 100)) for i in range(40)],
        "grp string, id long, value double",
    )
    rows = sorted(
        equidepth_histogram(df, ["grp"], "value", 4, "id").collect(),
        key=lambda r: r.bucket,
    )
    assert [r.n for r in rows] == [10, 10, 10, 10]
    # buckets tile the sorted value range without overlap
    for earlier, later in zip(rows, rows[1:]):
        assert earlier.hi <= later.lo
    assert rows[0].lo == 0.0 and rows[-1].hi == max(
        float((i * 7) % 100) for i in range(40)
    )


def test_build_vocab_rank_and_min_count(spark):
    from kelos_on_kafka_spark.operators.textstats import build_vocab

    df = spark.createDataFrame(
        [(1, "b b b a a c"), (2, "a b  d"), (3, None)],
        "doc_id long, text string",
    )
    got = {
        r.token: (r.n, r.token_id)
        for r in build_vocab(df, min_count=2).collect()
    }
    # b:4, a:3; c and d dropped (min_count)
    assert got == {"b": (4, 0), "a": (3, 1)}


def test_adaptive_length_filter_per_group_threshold(spark):
    from kelos_on_kafka_spark.operators.textstats import (
        adaptive_length_filter,
    )

    rows = [(i, "en", "w " * (i + 1)) for i in range(10)] + [
        (100 + i, "xx", "w " * (50 + i)) for i in range(10)
    ]
    df = spark.createDataFrame(
        [(d, g, t.strip()) for d, g, t in rows],
        "doc_id long, lang string, text string",
    )
    kept = adaptive_length_filter(df, pct=0.5)
    by_grp = {
        g: sorted(r.doc_id for r in kept.where(F.col("grp") == g).collect())
        for g in ("en", "xx")
    }
    # each group keeps its own upper half — the short-doc group is NOT
    # wiped out by the long-doc group's scale.  p50 of 1..10 = 5.5
    # (linear interpolation), so n_tokens >= 5.5 keeps 6..10 (ids
    # 5..9); same shape shifted by 50 for 'xx'.
    assert by_grp["en"] == [5, 6, 7, 8, 9]
    assert by_grp["xx"] == [105, 106, 107, 108, 109]


def _run_incr_stream(spark, tmp_path, files, history, **kw):
    from kelos_on_kafka_spark.streaming.incr_dedup_stream import (
        stream_incremental_dedup,
    )

    src = str(tmp_path / f"incr_{uuid.uuid4().hex[:8]}")
    for i, rows in enumerate(files):
        spark.createDataFrame(
            rows, "doc_id long, sec long, text string"
        ).select(
            "doc_id",
            F.timestamp_seconds(F.col("sec") + 1_700_000_000).alias("ts"),
            "text",
        ).coalesce(1).write.parquet(f"{src}/f{i:03d}")
    stream = spark.readStream.schema(
        "doc_id long, ts timestamp, text string"
    ).option("maxFilesPerTrigger", 1).parquet(f"{src}/*")
    out = stream_incremental_dedup(stream, history, **kw)
    name = f"incr_{uuid.uuid4().hex[:10]}"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    await_stream(q, 120)
    return {r.doc_id: r.status for r in spark.table(name).collect()}


def test_stream_incremental_dedup_statuses(spark, tmp_path):
    history = spark.createDataFrame(
        [("old text",)], "t string"
    ).select(F.md5("t").alias("digest"))
    files = [
        [(1, 0, "old text"), (2, 1, "fresh text")],
        [(3, 2, "fresh text"), (4, 3, "old text"), (5, 4, "other")],
    ]
    got = _run_incr_stream(
        spark, tmp_path, files, history,
        horizon_us=10**15, watermark_delay="3600 seconds",
    )
    assert got == {
        1: "seen",      # in history
        2: "keep",      # first stream arrival
        3: "batch_dup", # same digest, later batch
        4: "seen",      # history wins even after eviction-free window
        5: "keep",
    }


def test_stream_incremental_dedup_horizon_eviction(spark, tmp_path):
    """After the watermark passes last_ts + horizon the digest's hot
    state is evicted (the timeout fires on the next batch where the
    key is silent — flatMapGroupsWithState semantics): a recurrence is
    then admitted as 'keep' again (the hot-window contract; FOREVER
    memory is the history table)."""
    history = spark.createDataFrame([("zzz",)], "t string").select(
        F.md5("t").alias("digest")
    )
    files = [
        [(1, 0, "recurring")],
        [(2, 10_000, "advance watermark")],   # wm -> 0 - 1s after b1
        [(3, 20_000, "advance watermark 2")], # b3: wm 9999s > timeout
        #                                       (100s) -> state evicted
        [(4, 30_000, "recurring")],           # admitted fresh
    ]
    got = _run_incr_stream(
        spark, tmp_path, files, history,
        horizon_us=100 * 1_000_000,  # 100 s horizon
        watermark_delay="1 seconds",
    )
    assert got[1] == "keep" and got[4] == "keep"
    assert got[2] == "keep" and got[3] == "keep"


def test_count_cosine_rescore_hand_computed(spark):
    """Tiny fixture with hand-computed cosines: doc 1 = "a a b",
    doc 2 = "a b b", doc 3 = "c".  cos(1,2) = (2*1 + 1*2) /
    (sqrt(5)*sqrt(5)) = 4/5; cos(1,3) = 0 (no shared token, LEFT
    join coalesces dot to 0)."""
    import math

    from kelos_on_kafka_spark.operators.dedup import count_cosine_rescore

    docs = spark.createDataFrame(
        [(1, "a a b"), (2, "a b b"), (3, "c")],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3)], "doc_a long, doc_b long"
    )
    rows = {
        (r.doc_a, r.doc_b): r
        for r in count_cosine_rescore(docs, pairs).collect()
    }
    assert set(rows) == {(1, 2), (1, 3)}
    assert rows[(1, 2)].dot == 4
    assert rows[(1, 2)].cosine == pytest.approx(4.0 / 5.0, abs=1e-12)
    assert rows[(1, 3)].dot == 0
    assert rows[(1, 3)].cosine == 0.0


def test_count_cosine_rescore_semi_join_prunes(spark):
    """Docs not in any pair never reach the rescore joins (the corpus
    semi-join): result covers exactly the pair set."""
    from kelos_on_kafka_spark.operators.dedup import count_cosine_rescore

    docs = spark.createDataFrame(
        [(i, "w x y z") for i in range(50)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame([(7, 9)], "doc_a long, doc_b long")
    out = count_cosine_rescore(docs, pairs).collect()
    assert len(out) == 1
    assert out[0].cosine == pytest.approx(1.0, abs=1e-12)


def test_winsorize_clips_to_group_band(spark):
    """Group A: values 0..100 -> p05=5, p95=95 (linear interpolation
    over 101 evenly spaced values is exact); group B untouched
    elsewhere.  NULL value stays NULL (never clamped to a bound)."""
    from kelos_on_kafka_spark.operators.windowing import winsorize

    rows = [(i, "A", float(i)) for i in range(101)]
    rows += [(200, "B", 1000.0), (201, "B", -1000.0), (202, "B", None)]
    df = spark.createDataFrame(rows, "id long, g string, v double")
    out = {
        r.id: r for r in winsorize(df, ["g"], "v", 0.05, 0.95).collect()
    }
    assert out[0].v_wins == pytest.approx(5.0)
    assert out[100].v_wins == pytest.approx(95.0)
    assert out[50].v_wins == 50.0
    # B's band comes from B only (p05/p95 of {-1000, 1000})
    assert out[200].v_wins == out[200].w_hi
    assert out[201].v_wins == out[201].w_lo
    assert out[202].v_wins is None
    assert out[202].w_lo is not None  # bounds still attached


def test_winsorize_approx_within_rank_error(spark):
    """exact=False bounds are observed values whose rank error is
    <= n/accuracy: with accuracy=10000 and n=2000 the sketch is exact
    to the nearest observation, so each approx bound sits within one
    observed step of the exact interpolated bound."""
    from kelos_on_kafka_spark.operators.windowing import winsorize

    n = 2000
    df = spark.createDataFrame(
        [(i, "g", float(i)) for i in range(n)], "id long, g string, v double"
    )
    exact = winsorize(df, ["g"], "v", 0.05, 0.95, exact=True).first()
    approx = winsorize(df, ["g"], "v", 0.05, 0.95, exact=False).first()
    assert abs(approx.w_lo - exact.w_lo) <= 1.0
    assert abs(approx.w_hi - exact.w_hi) <= 1.0


def test_cardinality_stats_exact_and_hll(spark):
    """Exact n_distinct is the contract; the HLL++ sketch (exact=False,
    rsd=0.02) lands within 3*rsd of it — the advertised bound for the
    fixed-size 100 TB path."""
    from kelos_on_kafka_spark.plans.maintenance import cardinality_stats

    # 5000 rows, 1000 distinct users, two groups
    rows = [(i % 2, i % 1000) for i in range(5000)]
    df = spark.createDataFrame(rows, "g int, u long")
    exact = {
        r.g: r for r in cardinality_stats(df, ["g"], "u").collect()
    }
    assert exact[0].n_rows == 2500 and exact[0].n_distinct == 500
    assert exact[1].n_distinct == 500
    approx = {
        r.g: r
        for r in cardinality_stats(
            df, ["g"], "u", exact=False, rsd=0.02
        ).collect()
    }
    for g in (0, 1):
        assert abs(approx[g].n_distinct - exact[g].n_distinct) <= (
            3 * 0.02 * exact[g].n_distinct
        )


def test_extract_links_and_stats(spark):
    from kelos_on_kafka_spark.operators.webtext import (
        extract_links,
        link_stats,
    )

    df = spark.createDataFrame(
        [
            (
                1,
                '<a href="https://a.com/x">1</a> '
                '<a href="https://a.com/y">2</a> '
                '<a href="http://b.org/z">3</a>',
                "one two three four",
            ),
            (2, "<p>no links</p>", "just text"),
            (3, None, ""),
        ],
        "doc_id long, html string, text string",
    )
    links = extract_links(df).collect()
    got = sorted((r.doc_id, r.pos, r.link) for r in links)
    assert got == [
        (1, 0, "https://a.com/x"),
        (1, 1, "https://a.com/y"),
        (1, 2, "http://b.org/z"),
        (2, None, None),  # posexplode_outer keeps linkless pages
        (3, None, None),
    ]
    stats = {r.doc_id: r for r in link_stats(df).collect()}
    assert stats[1].n_links == 3
    assert stats[1].n_hosts == 2  # a.com twice, b.org once
    assert stats[1].link_density == pytest.approx(3 / 4)
    assert stats[2].n_links == 0 and stats[2].n_hosts == 0
    assert stats[2].link_density == 0.0
    assert stats[3].n_links == 0
    assert stats[3].link_density is None  # empty text -> no density


def test_robust_scale_median_iqr(spark):
    """0..100 in one group: median 50, IQR 75-25=50, so value 100
    scales to 1.0 and value 0 to -1.0; a constant group (IQR 0)
    yields NULL scaled values, never a division blow-up."""
    from kelos_on_kafka_spark.operators.windowing import robust_scale

    rows = [(i, "A", float(i)) for i in range(101)]
    rows += [(300 + j, "C", 7.0) for j in range(4)]
    df = spark.createDataFrame(rows, "id long, g string, v double")
    out = {r.id: r for r in robust_scale(df, ["g"], "v").collect()}
    assert out[100].v_scaled == pytest.approx(1.0)
    assert out[0].v_scaled == pytest.approx(-1.0)
    assert out[50].v_scaled == 0.0
    assert out[300].r_iqr == 0.0 and out[300].v_scaled is None


def test_sq8_codes_and_pack_agree(spark):
    """Hand-computed codes on a 3-vector corpus; packed form equals
    the exploded form component-wise; de-quantization error is
    bounded by one quantization step per component."""
    from kelos_on_kafka_spark.operators.similarity import (
        sq8_codes,
        sq8_pack,
    )

    # dim0 spans [0, 1]; dim1 is CONSTANT (codes to 0); dim2 spans [-2, 2]
    df = spark.createDataFrame(
        [(1, [0.0, 5.0, -2.0]), (2, [0.5, 5.0, 0.0]), (3, [1.0, 5.0, 2.0])],
        "vec_id long, embedding array<float>",
    )
    codes = {
        (r.vec_id, r.dim): r.code for r in sq8_codes(df).collect()
    }
    assert codes[(1, 0)] == 0           # min -> 0
    assert codes[(2, 0)] == 128         # midpoint -> floor(0.5*256)
    assert codes[(3, 0)] == 255         # max -> clamped to levels-1
    assert codes[(1, 1)] == codes[(3, 1)] == 0  # constant dim
    assert codes[(1, 2)] == 0 and codes[(3, 2)] == 255
    packed = {r.vec_id: r for r in sq8_pack(df).collect()}
    for vid in (1, 2, 3):
        assert packed[vid].codes == [
            codes[(vid, d)] for d in range(3)
        ]
    # de-quantize: value within one step of the original
    p = packed[3]
    for d, c in enumerate(p.codes):
        mn, mx = p.mins[d], p.maxs[d]
        step = (mx - mn) / 256.0 if mx > mn else 0.0
        recon = mn + (c + 0.5) * step
        orig = [1.0, 5.0, 2.0][d]
        assert abs(recon - orig) <= max(step, 1e-9)


def test_oov_stats_rates(spark):
    """'common' appears 3x (in vocab at min_count=2); 'rare1/2/3'
    once each (OOV).  Doc 4 is empty -> row kept, NULL rate."""
    from kelos_on_kafka_spark.operators.textstats import oov_stats

    df = spark.createDataFrame(
        [
            (1, "common rare1"),
            (2, "common rare2"),
            (3, "common rare3 common"),
            (4, "   "),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in oov_stats(df, min_count=2).collect()}
    assert out[1].n_tokens == 2 and out[1].n_oov == 1
    assert out[1].oov_rate == 0.5
    assert out[3].n_tokens == 3 and out[3].n_oov == 1
    assert out[3].oov_rate == pytest.approx(1 / 3)
    assert out[4].n_tokens == 0 and out[4].oov_rate is None


def test_sq8_topk_integer_ranking(spark):
    """3 probes over 6 vectors with known code dots: ranking is by
    integer dot desc then neighbor_id asc (deterministic ties)."""
    from kelos_on_kafka_spark.operators.similarity import (
        sq8_pack,
        sq8_topk,
    )

    # vectors along one axis: codes grow with the value
    df = spark.createDataFrame(
        [(i, [float(i), float(10 - i)]) for i in range(6)],
        "vec_id long, embedding array<float>",
    )
    out = sq8_topk(sq8_pack(df), probe_ids=[0, 5], k=2).collect()
    by_probe = {}
    for r in out:
        by_probe.setdefault(r.probe_id, []).append(r)
    for pid, rows in by_probe.items():
        rows.sort(key=lambda r: r.rank)
        # ranks contiguous from 1, dots non-increasing
        assert [r.rank for r in rows] == [1, 2]
        assert rows[0].dot >= rows[1].dot
    # probe 5 = codes [255, 0]; best neighbor is the largest dim-0
    # code among others -> vec 4
    assert by_probe[5][0].neighbor_id == 4
    # probe 0 = codes [0, 255]; best neighbor maximizes dim-1 -> vec 1
    assert by_probe[0][0].neighbor_id == 1


def test_encode_tokens_positions_and_oov(spark):
    from kelos_on_kafka_spark.operators.textstats import (
        build_vocab,
        encode_tokens,
    )

    df = spark.createDataFrame(
        [(1, "b b b a a c"), (2, " a  b\td"), (3, None), (4, "")],
        "doc_id long, text string",
    )
    vocab = build_vocab(df, min_count=2)  # b->0, a->1
    rows = sorted(
        (r.doc_id, r.pos, r.token, r.token_id)
        for r in encode_tokens(df, vocab).collect()
    )
    # doc 1: positions contiguous 0..5; c is OOV -> -1
    assert rows[:6] == [
        (1, 0, "b", 0),
        (1, 1, "b", 0),
        (1, 2, "b", 0),
        (1, 3, "a", 1),
        (1, 4, "a", 1),
        (1, 5, "c", -1),
    ]
    # doc 2: leading/internal whitespace collapsed, positions from 0
    assert rows[6:] == [(2, 0, "a", 1), (2, 1, "b", 0), (2, 2, "d", -1)]
    # NULL and empty text produce no rows
    assert len(rows) == 9


def test_encode_tokens_roundtrip_reconstructs_text(spark):
    """Property: with min_count=1 (full vocab) no token is OOV, and
    decoding ids back through the vocab then re-joining on position
    reproduces each document's whitespace-normalized text exactly."""
    import random

    from pyspark.sql import functions as F

    from kelos_on_kafka_spark.operators.textstats import (
        build_vocab,
        encode_tokens,
    )

    rng = random.Random(63)
    words = ["alpha", "beta", "gamma", "delta", "x1", "yy", "z"]
    docs = [
        (i, " ".join(rng.choice(words) for _ in range(rng.randint(1, 12))))
        for i in range(40)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    vocab = build_vocab(df, min_count=1)
    enc = encode_tokens(df, vocab)
    assert enc.where(F.col("token_id") == -1).count() == 0
    decoded = (
        enc.alias("e")
        .join(vocab.alias("v"), F.col("e.token_id") == F.col("v.token_id"))
        .groupBy("e.doc_id")
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.sort_array(
                        F.collect_list(F.struct("e.pos", F.col("v.token")))
                    ),
                    lambda s: s.token,
                ),
            ).alias("text")
        )
    )
    got = {r.doc_id: r.text for r in decoded.collect()}
    want = {i: " ".join(t.split()) for i, t in docs}
    assert got == want


def test_pack_token_ids_boundaries_and_empty_docs(spark):
    from kelos_on_kafka_spark.operators.chunking import pack_token_ids
    from kelos_on_kafka_spark.operators.textstats import build_vocab

    # shard A: 5 + 0 (empty doc occupies NO slots) + 4 tokens = 9
    # total -> with max_tokens=4: seqs of 4, 4, 1
    df = spark.createDataFrame(
        [
            (1, "a b a b a", "A"),
            (2, "", "A"),
            (3, "b b a zz", "A"),
            (4, "a", "B"),
        ],
        "doc_id long, text string, source string",
    )
    vocab = build_vocab(df, min_count=2)  # a->0, b->1; zz OOV
    rows = {
        (r.part, r.seq_id): (r.n_tokens, r.ids_md5)
        for r in pack_token_ids(df, vocab, max_tokens=4).collect()
    }
    import hashlib

    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()
    # doc1 ids: a b a b a -> 0 1 0 1 0 ; doc3: b b a zz -> 1 1 0 -1
    # shard A stream: 0 1 0 1 | 0 1 1 0 | -1
    assert rows[("A", 0)] == (4, md5("0,1,0,1"))
    assert rows[("A", 1)] == (4, md5("0,1,1,0"))
    assert rows[("A", 2)] == (1, md5("-1"))
    assert rows[("B", 0)] == (1, md5("0"))
    assert len(rows) == 4


def test_containment_pairs_catches_wrapped_subset(spark):
    from kelos_on_kafka_spark.operators.dedup import (
        containment_pairs,
        ngram_jaccard_pairs,
    )

    core = "alpha beta gamma delta epsilon zeta eta theta"
    wrapper = (
        "nav home about " + core + " footer contact terms privacy "
        "copyright sitemap feedback careers press blog archive"
    )
    df = spark.createDataFrame(
        [(1, core), (2, wrapper), (3, "totally different words here now")],
        "doc_id long, text string",
    )
    got = {
        (r.doc_a, r.doc_b): (r.inter, r.n_a, r.n_b)
        for r in containment_pairs(df, min_containment_pct=80).collect()
    }
    # doc1's 6 shingles all appear inside doc2 -> containment 100%
    assert (1, 2) in got
    inter, n_a, n_b = got[(1, 2)]
    assert inter == n_a == 6 and n_b > 2 * n_a
    assert all(p == (1, 2) for p in got)
    # symmetric Jaccard at the same 80% threshold misses it
    jac = ngram_jaccard_pairs(df, min_jaccard_pct=80).collect()
    assert jac == []


def test_pack_token_ids_partition_order_invariant(spark):
    """Digest output must not depend on scan partitioning or row
    arrival order — repartitioned/shuffled input packs identically."""
    from kelos_on_kafka_spark.operators.chunking import pack_token_ids
    from kelos_on_kafka_spark.operators.textstats import build_vocab

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    vocab = build_vocab(docs, min_count=5)
    base = sorted(
        tuple(r)
        for r in pack_token_ids(docs, vocab, max_tokens=64).collect()
    )
    shuffled = docs.repartition(13, "lang")
    again = sorted(
        tuple(r)
        for r in pack_token_ids(shuffled, vocab, max_tokens=64).collect()
    )
    assert base == again and len(base) > 100


def test_edit_distance_verify_thresholds(spark):
    from kelos_on_kafka_spark.operators.dedup import edit_distance_verify

    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumped over the lazy dog"),  # dist 2
            (3, "a completely different sentence altogether here"),
            (4, None),
        ],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4)], "doc_a long, doc_b long"
    )
    got = {
        (r.doc_a, r.doc_b): (r.dist, r.len_a, r.len_b)
        for r in edit_distance_verify(df, pairs, max_dist_pct=10).collect()
    }
    # 1-2 survives (dist 2 over len 43/44); 1-3 far; 1-4 NULL -> '' ->
    # dist = len_a = 43 > 10% -> dropped, never NULL-crashes
    assert set(got) == {(1, 2)}
    dist, len_a, len_b = got[(1, 2)]
    assert dist == 2 and len_a == 43 and len_b == 44


def test_hash_shingles_fast_path_result_identical(spark):
    """Deployment fast path (xxhash64'd shingles) must produce the
    IDENTICAL pair set and counts as the raw-string oracle form on a
    real corpus slice — for both Jaccard and containment."""
    from kelos_on_kafka_spark.operators.dedup import (
        containment_pairs,
        ngram_jaccard_pairs,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for fn, kw in (
        (ngram_jaccard_pairs, dict(min_jaccard_pct=10)),
        (containment_pairs, dict(min_containment_pct=30)),
    ):
        raw = sorted(tuple(r) for r in fn(docs, **kw).collect())
        fast = sorted(
            tuple(r) for r in fn(docs, hash_shingles=True, **kw).collect()
        )
        assert raw == fast and len(raw) > 0
