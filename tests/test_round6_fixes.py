"""Round-6 regression pins for the ADVICE r5 findings: fan_out's
shortcut vs a pinned minPartitionNum, chunking's NULL-text guard, and
snapshot_diff's collision-free NULL sentinel."""

from pyspark.sql import functions as F


def test_fan_out_shortcut_respects_pinned_min_partition_num(
    spark, tmp_path
):
    """ADVICE r5: the `len(files) > 4 * target` stat-skipping shortcut
    assumed the bytes-per-core clamp uses the session parallelism; with
    minPartitionNum pinned to 1, 16 tiny files (> 4*target) bin-pack to
    ~1 scan partition, so fan_out must fall through to the exact model
    and still widen."""
    from kelos_on_kafka_spark.plans import layout

    p = str(tmp_path / "tiny20")
    spark.range(2000).repartition(20).write.parquet(p)
    spark.conf.set("spark.sql.files.minPartitionNum", "1")
    try:
        df = spark.read.parquet(p)
        target = 4  # 20 files > 4*4: the old shortcut returned df as-is
        assert len(df.inputFiles()) >= 20
        est = layout._estimated_scan_partitions(
            spark, df.inputFiles(), target
        )
        # 20 x openCost(4MiB) ~ 80MiB packs into 3 bins of the session's
        # 32MiB maxPartitionBytes — below target
        assert est < target
        out = layout.fan_out(df, min_partitions=target)
        assert out is not df  # must repartition despite 20 > 16 files
    finally:
        spark.conf.unset("spark.sql.files.minPartitionNum")


def test_fan_out_shortcut_still_skips_stats_when_unset(spark, tmp_path):
    """With minPartitionNum UNSET the shortcut's bound holds (tiny
    files still pack to >= target via the parallelism clamp), so a wide
    file count returns the untouched plan."""
    from kelos_on_kafka_spark.plans import layout

    p = str(tmp_path / "tiny20b")
    spark.range(2000).repartition(20).write.parquet(p)
    df = spark.read.parquet(p)
    assert layout.fan_out(df, min_partitions=4) is df


def test_chunk_documents_null_text(spark):
    """NULL text must behave like an empty doc (one 1-token chunk of
    the empty string), not error out of sequence(1, -1) via legacy
    sizeOfNull = -1 (ADVICE r5)."""
    from kelos_on_kafka_spark.operators.chunking import chunk_documents

    docs = spark.createDataFrame(
        [(1, None), (2, "a b c")], "doc_id long, text string"
    )
    rows = {
        (r.doc_id, r.chunk_idx): r
        for r in chunk_documents(docs, chunk_tokens=2, stride=2).collect()
    }
    assert rows[(1, 0)].n_tokens == 1  # [''] — same as an empty doc
    assert rows[(2, 0)].n_tokens == 2 and rows[(2, 1)].n_tokens == 1


def test_pack_sequences_null_text_keeps_prefix_sum_monotone(spark):
    """A NULL text mid-shard must contribute n_tokens = 1 (the ['']
    token), never -1: a negative count would corrupt every later doc's
    seq_id/seq_offset in the shard (ADVICE r5)."""
    from kelos_on_kafka_spark.operators.chunking import pack_sequences

    docs = spark.createDataFrame(
        [
            ("s", 1, "a b c d"),
            ("s", 2, None),
            ("s", 3, "e f g"),
        ],
        "source string, doc_id long, text string",
    )
    got = {
        r.doc_id: r for r in pack_sequences(docs, max_tokens=4).collect()
    }
    assert got[2].n_tokens == 1
    # doc 3 starts after 4 + 1 = 5 tokens -> seq 1, offset 1
    assert (got[3].seq_id, got[3].seq_offset) == (1, 1)
    assert all(g.n_tokens > 0 for g in got.values())


def test_snapshot_diff_sentinel_collision_free(spark):
    """ADVICE r5: a key changing NULL -> the literal sentinel text (or
    back) must report 'changed', not 'unchanged' — non-null
    fingerprints are 32-hex md5 digests, the NULL marker is not, so no
    content can collide by construction."""
    from kelos_on_kafka_spark.plans.maintenance import snapshot_diff

    old = spark.createDataFrame(
        [(1, None), (2, "<null>"), (3, "\x00<null>")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(1, "<null>"), (2, None), (3, None)],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: r.status
        for r in snapshot_diff(old, new, ["doc_id"]).collect()
    }
    assert got == {1: "changed", 2: "changed", 3: "changed"}


def test_dedup_decisions_prefix_pair_source(spark):
    """VERDICT r5 #5: dedup_decisions can take groups built on the
    lossless prefix-filtered exact-Jaccard join.  On a fixture where
    LSH's df-cap would matter (shared boilerplate), the prefix-path
    decisions equal decisions computed from groups built on the PLAIN
    uncapped exact-Jaccard pairs — lossless by construction."""
    from kelos_on_kafka_spark.operators.dedup import (
        connected_components,
        dedup_decisions,
        ngram_jaccard_pairs,
        ngram_jaccard_prefix_pairs,
    )

    boiler = "all rights reserved subscribe to our newsletter today"
    rows = [
        (1, "the quick brown fox jumps over the lazy dog " + boiler),
        (2, "the quick brown fox jumps over the lazy cat " + boiler),
        (3, "completely different text about spark engines " + boiler),
        (4, "completely different text about spark engines " + boiler),
        (5, "an unrelated singleton document with its own words"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    def decisions(pairs):
        groups = connected_components(pairs.select("doc_a", "doc_b"))
        return sorted(
            (r.doc_id, r.keeper_id, r.reason)
            for r in dedup_decisions(
                docs,
                groups=groups.select(
                    F.col("node_id").alias("doc_id"), "group_id"
                ),
            ).collect()
        )

    want = decisions(
        ngram_jaccard_pairs(docs, min_jaccard_pct=30, max_doc_freq=10**9)
    )
    got = decisions(
        ngram_jaccard_prefix_pairs(docs, jaccard_num=3, jaccard_den=10)
    )
    assert got == want
    assert any(reason != "keep" for _, _, reason in got)
