"""Deduplication operators for large-scale text corpora — exact,
MinHash+LSH, n-gram Jaccard and SimHash.  All hot paths are built-in
Catalyst expressions (md5/conv/split/explode/groupBy); nothing crosses
into Python, so every stage is whole-stage-codegen'd and shuffles only
on the natural keys (fingerprint / band bucket / shingle).

Scale notes (100 TB):
- exact dedup shuffles one 16-byte digest per doc (groupBy fingerprint);
- MinHash banding shuffles (band_id, band_hash) pairs — candidate pairs
  are generated per-bucket, never all-pairs;
- the shingle self-join for verification joins only within buckets;
  skewed buckets (boilerplate shingles) are handled by AQE skew-join
  plus the ``max_bucket`` guard that drops degenerate buckets.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

from kelos_on_kafka_spark.plans.layout import fan_out

logger = logging.getLogger(__name__)


def _shingles(text_col, n_words: int):
    """All n-word shingles of a whitespace-tokenized text (a column name
    or Column), as an array column (built-ins only: split + sequence +
    transform + array_join).  A text shorter than ``n_words`` is one
    shingle; a blank text is the empty shingle."""
    toks = F.split(F.trim(text_col), r"\s+")
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n_words, F.lit(0)))
    return F.transform(
        idx, lambda i: F.array_join(F.slice(toks, i + 1, n_words), " ")
    )


def _nonempty_shingles(text_col, n_words: int):
    """``_shingles`` without the empty shingle of a blank text."""
    return F.filter(_shingles(text_col, n_words), lambda s: s != "")


def _doc_shingle_arrays(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_words: int,
    hash_shingles: bool,
) -> DataFrame:
    """(doc_id, sh_arr, n_sh) per document — the DISTINCT non-empty
    shingle set as an in-row array, optionally xxhash64'd to longs.

    This is the r07 shared front end of every shingle-set operator:
    per-doc dedup is ``array_distinct`` (a local array op), so the
    plan needs NO shuffle for the distinct and NO groupBy for the
    per-doc set size — both previously full exchanges of the exploded
    (doc_id, shingle) table, re-executed once per reference (the
    jaccard-prefix plan re-ran the scan+explode+distinct subtree 8x).
    Equivalent by construction to exploding then ``.distinct()`` /
    ``groupBy(doc_id).count()``."""
    arr = F.array_distinct(_nonempty_shingles(text_col, n_words))
    if hash_shingles:
        # distinct again after hashing: matches the r06 hash-then-
        # distinct semantics exactly, collisions included
        arr = F.array_distinct(F.transform(arr, lambda s: F.xxhash64(s)))
    return fan_out(df).select(
        F.col(id_col).alias("doc_id"),
        arr.alias("sh_arr"),
        F.size(arr).cast("long").alias("n_sh"),
    )


def _explode_shingles(docs_arr: DataFrame) -> DataFrame:
    """(doc_id, n_sh, shingle) posting rows from the array table.

    MUST be explode_outer + isNotNull, not plain explode: from a plain
    explode Catalyst infers a ``size(sh_arr) > 0`` filter
    (InferFiltersFromGenerate) and pushes it below the fan_out
    exchange — the entire tokenize+shingle+hash expression then runs a
    SECOND time per row, single-threaded on the raw 1-2 scan
    partitions (measured 3-5x on the whole query; guide §4.4's
    duplicated-expensive-expression trap in pure-Catalyst form).
    explode_outer infers nothing; the NULL row an empty array emits is
    dropped by a filter on the GENERATED column, which cannot sink."""
    return docs_arr.select(
        "doc_id", "n_sh", F.explode_outer("sh_arr").alias("shingle")
    ).where(F.col("shingle").isNotNull())


_PACK_MAX = 1 << 31


def _pair_ids_packable(df: DataFrame, id_col: str) -> bool:
    """True when ``id_col`` is an integral, non-negative column whose
    values all fit below 2^31 — the precondition for keying a
    (doc_a, doc_b) pair-count aggregate on ONE packed long
    (``doc_a << 32 | doc_b``) instead of two longs, which halves the
    key bytes moved through the pair shuffle (the dominant exchange of
    the flat inverted-index joins; measured 1.2x on the sf1.0-scale
    proxy).  Costs one tiny min/max job over the id column; returns
    False (→ the caller keeps the plain two-column aggregate) for
    string/decimal ids, wider ids, negative ids, or streaming inputs
    where the probe job cannot run.  Packing under this guard is a
    bijection, so the aggregate groups are EXACTLY the (doc_a, doc_b)
    groups — result-identical by construction."""
    if df.isStreaming:
        return False
    if dict(df.dtypes).get(id_col) not in (
        "tinyint",
        "smallint",
        "int",
        "bigint",
    ):
        return False
    row = df.select(
        F.min(id_col).alias("lo"), F.max(id_col).alias("hi")
    ).first()
    return row["lo"] is not None and row["lo"] >= 0 and row["hi"] < _PACK_MAX


def _pair_count(enum: DataFrame, out_col: str, packed: bool, id_dtype: str):
    """groupBy(doc_a, doc_b).count() over enumerated co-occurrence rows,
    optionally via the packed single-long key (see _pair_ids_packable;
    caller must have verified the guard).  Unpacked ids are cast back to
    the input id dtype so the output schema is identical either way."""
    if not packed:
        return enum.groupBy("doc_a", "doc_b").agg(
            F.count(F.lit(1)).alias(out_col)
        )
    pk = F.shiftleft(F.col("doc_a").cast("long"), 32) + F.col("doc_b").cast(
        "long"
    )
    return (
        enum.select(pk.alias("__pk"))
        .groupBy("__pk")
        .agg(F.count(F.lit(1)).alias(out_col))
        .select(
            F.shiftright("__pk", 32).cast(id_dtype).alias("doc_a"),
            F.col("__pk")
            .bitwiseAND(F.lit((1 << 32) - 1))
            .cast(id_dtype)
            .alias("doc_b"),
            out_col,
        )
    )


def _hash64(col, seed: int):
    """Deterministic, engine-portable 60-bit hash: first 15 hex digits of
    md5(seed || ':' || value).  (xxhash64 would be faster but is not
    reproducible in external SQL engines; used only where oracle parity
    matters — swap for xxhash64 via `fast=True` paths at scale.)"""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{seed}:"), col)), 1, 15), 16, 10
    ).cast("long")


def exact_dup_groups(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact dedup: md5 fingerprint -> group -> keeper = min id.
    Returns (fingerprint, keeper_id, n_docs)."""
    return (
        df.select(
            F.md5(F.col(text_col)).alias("fingerprint"),
            F.col(id_col).alias("_id"),
        )
        .groupBy("fingerprint")
        .agg(
            F.min("_id").alias("keeper_id"),
            F.count(F.lit(1)).alias("n_docs"),
        )
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 16,
    shingle_words: int = 3,
    fast: bool = False,
) -> DataFrame:
    """MinHash signature per document: for each of ``n_hashes`` seeded
    hash functions, the minimum hash over the document's word shingles.
    Returns (doc_id, minhash: array<long>[n_hashes]).

    ``fast=True`` swaps the portable md5 hash for seeded xxhash64 —
    the deployment path (JVM-native, no hex round-trip) when external
    SQL reproducibility is not required.  Signatures differ between the
    two modes; pick one per corpus.

    r07 note (measured, kept OUT): computing the n_hashes seeded
    hashes once per DISTINCT corpus shingle and joining them back
    looks like it should win (~80x fewer md5 chains), but the join
    adds two exchanges and sorts where the inline form is a pure map
    feeding one tiny per-doc shuffle (partial min-aggregation
    completes per partition because each doc's shingles are
    co-located after the explode).  A/B at the sf1.0-scale proxy:
    inline 11-14s vs join-form 57-66s.  The inline form stays."""
    with_sh = fan_out(df).select(
        F.col(id_col).alias("doc_id"),
        F.explode(_shingles(text_col, shingle_words)).alias("shingle"),
    ).where(F.col("shingle") != "")
    if fast:
        aggs = [
            F.min(F.xxhash64(F.lit(seed), F.col("shingle"))).alias(f"h{seed}")
            for seed in range(n_hashes)
        ]
    else:
        aggs = [
            F.min(_hash64(F.col("shingle"), seed)).alias(f"h{seed}")
            for seed in range(n_hashes)
        ]
    sigs = with_sh.groupBy("doc_id").agg(*aggs)
    return sigs.select(
        "doc_id",
        F.array(*[F.col(f"h{s}") for s in range(n_hashes)]).alias("minhash"),
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    n_bands: int = 4,
    rows_per_band: int = 4,
    max_bucket: int = 1000,
    portable: bool = False,
) -> DataFrame:
    """Band the signatures and emit candidate pairs sharing any band
    bucket.  Returns distinct (doc_a, doc_b) with doc_a < doc_b.
    Buckets larger than ``max_bucket`` are dropped (boilerplate guard —
    logged cap, the scale-critical skew control).

    ``portable=True`` buckets by md5 over the comma-joined band values
    (reproducible in external SQL engines: md5(string_agg(...)));
    default is Spark's murmur3 ``hash`` (faster, JVM-only)."""

    def _bucket(b: int):
        vals = [
            F.element_at("minhash", b * rows_per_band + r + 1)
            for r in range(rows_per_band)
        ]
        if portable:
            return F.md5(F.concat_ws(",", *[v.cast("string") for v in vals]))
        return F.hash(*vals).cast("string")

    bands = signatures.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"), _bucket(b).alias("bucket")
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bucket")
    # r07: ONE shuffle (groupBy band+bucket -> member list) generates
    # the per-bucket pairs in-row via indexed transforms, replacing the
    # count-over-window sort plus bucket self-join — which re-executed
    # the whole signature subtree once per join side.  The in-row pair
    # array is bounded by max_bucket (1000 -> <=500k pair structs per
    # bucket row); the cap is what makes this shape safe, keep it.
    buckets = bands.groupBy("band", "bucket").agg(
        F.collect_list("doc_id").alias("ids")
    ).where(F.size("ids") <= max_bucket)
    pair_arr = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))),
                lambda y: F.struct(
                    F.least(x, y).alias("doc_a"),
                    F.greatest(x, y).alias("doc_b"),
                ),
            ),
        )
    )
    return (
        # explode_outer so InferFiltersFromGenerate cannot duplicate
        # the O(bucket^2) pair expression into a pushed-down filter
        # (see _explode_shingles); a NULL pair row fails the != below
        buckets.select(F.explode_outer(pair_arr).alias("p"))
        .select("p.doc_a", "p.doc_b")
        # strict < like the r06 self-join: a doc_id duplicated in one
        # bucket (duplicate signature rows) must not emit a self-pair
        .where(F.col("doc_a") != F.col("doc_b"))
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_words: int = 3,
    min_jaccard_pct: int = 10,
    max_doc_freq: int = 1000,
    hash_shingles: bool = False,
    pack_pairs: bool = True,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for all pairs sharing >=1 shingle
    (shingle-inverted-index join, never a cross join).  Integer-only
    output for engine-portable exactness:
    (doc_a, doc_b, inter, union_n) with 100*inter >= min_pct*union_n.

    ``max_doc_freq`` caps the inverted index: a shingle present in more
    than that many documents is dropped from the JOIN (a boilerplate
    shingle in M docs would otherwise emit M^2/2 rows — the scale-killer
    at 100 TB).  Per-doc shingle counts (the union term) still use the
    full sets, so for surviving pairs inter is a lower bound that is
    exact whenever no shared shingle exceeds the cap; pairs held
    together ONLY by super-frequent boilerplate are suppressed, which is
    the intended dedup semantics.

    ``hash_shingles=True`` is the deployment fast path: shingle STRINGS
    are replaced by their JVM-native xxhash64 before the distinct and
    the inverted-index join, so the two shuffles move 8-byte longs
    instead of ~20-40-byte n-gram text (several-fold smaller shuffle
    payload at corpus scale).  Result-identical barring a 64-bit hash
    collision between two distinct shingles of the same corpus
    (~n^2/2^65 — negligible at any real vocabulary size, and a
    collision can only ADD one spurious shared shingle to a pair's
    intersection).  The oracle/driver contract runs the raw-string
    form; like simhash/minhash ``fast`` modes the hashed form is
    library-only.

    ``pack_pairs=True`` (default) keys the pair-count aggregate — the
    dominant shuffle (~n_pairs distinct keys) — on one packed long
    instead of (doc_a, doc_b) whenever the runtime id-range guard
    passes (``_pair_ids_packable``); result-identical by construction
    (the pack is a bijection under the guard) and measured 1.2x at the
    sf1.0-scale proxy.  Ids that fail the guard fall back to the
    two-column aggregate automatically."""
    # r07 A/B note: an array-front-end variant (in-row distinct + freq
    # aggregate+broadcast join) measured 22s vs this form's 16.6s at
    # the sf1.0-scale proxy, stable over 4 interleaved reps — the
    # extra per-row array materializations cost more than the distinct
    # exchange + count-window they removed; an in-row per-shingle
    # ordered-pair generation (collect_list + flatten/transform — the
    # shape that won for LSH banding) measured 24.5s vs 18.5s over 3
    # interleaved reps, the giant per-hot-shingle pair arrays costing
    # more than the sorted SMJ enumeration they replaced.  The r06
    # shape stays; the declared queries' wins are hash_shingles=True
    # and the packed pair key.
    packed = pack_pairs and _pair_ids_packable(df, id_col)
    id_dtype = dict(df.dtypes)[id_col]
    sh = (
        fan_out(df).select(
            F.col(id_col).alias("doc_id"),
            F.explode(_shingles(text_col, shingle_words)).alias("shingle"),
        )
        .where(F.col("shingle") != "")
    )
    if hash_shingles:
        sh = sh.select("doc_id", F.xxhash64("shingle").alias("shingle"))
    sh = sh.distinct()
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    capped = sh.withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("shingle"))
    ).where(F.col("df") <= max_doc_freq)
    a = capped.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = capped.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = _pair_count(
        a.join(b, "shingle").where(F.col("doc_a") < F.col("doc_b")),
        "inter",
        packed,
        id_dtype,
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(F.broadcast(sa), "doc_a")
        .join(F.broadcast(sb), "doc_b")
        .withColumn("union_n", F.col("n_a") + F.col("n_b") - F.col("inter"))
        .where(100 * F.col("inter") >= min_jaccard_pct * F.col("union_n"))
        .select("doc_a", "doc_b", "inter", "union_n")
    )


def simhash_near_dup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    portable: bool = False,
    max_bucket: int = 10000,
) -> DataFrame:
    """SimHash near-duplicate pairs: candidates by the pigeonhole trick
    (split the 64-bit hash into ``max_hamming + 1`` chunks — two hashes
    within ``max_hamming`` bits MUST agree on at least one chunk), then
    exact verification via popcount(xor).  Returns (doc_a, doc_b,
    hamming) with doc_a < doc_b.

    Scale shape mirrors the banded-minhash path: shuffle only (chunk_id,
    chunk_value) pairs, join within buckets, ``max_bucket`` guards
    degenerate chunks (e.g. the all-zeros chunk of short docs).

    Chunk layout: the 64 bits are covered COMPLETELY by ``max_hamming
    + 1`` variable-width chunks (widths 64//n or 64//n + 1) — a
    truncating fixed width would leave the top 64 % n bits out of every
    chunk and cost bucket selectivity.  ``max_hamming == 0`` buckets on
    the full hash (no mask: a 64-bit all-ones literal overflows
    LongType); widths are otherwise <= 33 bits, so masks stay in-range."""
    sims = simhash64(df, id_col, text_col, n_bits=64, portable=portable)
    return hamming_near_dup_pairs(
        sims, "doc_id", "simhash", max_hamming, max_bucket
    )


def hamming_near_dup_pairs(
    hashes: DataFrame,
    id_col: str,
    hash_col: str,
    max_hamming: int = 3,
    max_bucket: int = 10000,
) -> DataFrame:
    """Near-dup pairs for ANY 64-bit hash column (simhash, image
    perceptual hash, …) via the pigeonhole chunk cover + popcount
    verification described on ``simhash_near_dup_pairs`` (which this
    generalizes).  Returns (doc_a, doc_b, hamming), doc_a < doc_b."""
    if not 0 <= max_hamming <= 63:
        raise ValueError(f"max_hamming must be in [0, 63], got {max_hamming}")
    n_chunks = max_hamming + 1
    sims = hashes.select(
        F.col(id_col).alias("doc_id"), F.col(hash_col).alias("simhash")
    )
    if n_chunks == 1:
        chunk_cols = [
            F.struct(F.lit(0).alias("chunk"), F.col("simhash").alias("val"))
        ]
    else:
        base, extra = divmod(64, n_chunks)
        chunk_cols, off = [], 0
        for c in range(n_chunks):
            width = base + (1 if c < extra else 0)
            chunk_cols.append(
                F.struct(
                    F.lit(c).alias("chunk"),
                    F.shiftrightunsigned(F.col("simhash"), off)
                    .bitwiseAND(F.lit((1 << width) - 1))
                    .alias("val"),
                )
            )
            off += width
    chunks = sims.select(
        "doc_id",
        "simhash",
        F.explode(F.array(*chunk_cols)).alias("cc"),
    ).select("doc_id", "simhash", "cc.chunk", "cc.val")
    sized = chunks.withColumn(
        "n", F.count(F.lit(1)).over(Window.partitionBy("chunk", "val"))
    ).where(F.col("n") <= max_bucket)
    left = sized.select(
        "chunk", "val", F.col("doc_id").alias("doc_a"), F.col("simhash").alias("ha")
    )
    right = sized.select(
        "chunk", "val", F.col("doc_id").alias("doc_b"), F.col("simhash").alias("hb")
    )
    return (
        left.join(right, ["chunk", "val"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
            .cast("long")
            .alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_words: int = 3,
    window: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (the MOSS scheme, Schleimer et
    al. SIGMOD 2003): hash every word ``shingle_words``-gram, slide a
    ``window`` of consecutive shingle positions over the document, keep
    the minimum hash of each window, dedupe — guarantees any shared run
    of >= window+shingle_words-1 tokens between two documents shares a
    fingerprint.  Returns distinct (doc_id, fp).

    All built-ins: posexplode + portable md5 hash + min over a
    ROWS-bounded window frame — one shuffle on doc_id, reproducible in
    external SQL engines verbatim."""
    sh = fan_out(df).select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(_shingles(text_col, shingle_words)).alias(
            "pos", "shingle"
        ),
    ).where(F.col("shingle") != "")
    h = sh.select("doc_id", "pos", _hash64(F.col("shingle"), 0).alias("h"))
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.currentRow, window - 1)
    )
    return (
        h.select("doc_id", F.min("h").over(w).alias("fp"))
        .distinct()
    )


def connected_components(
    pairs: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iters: int = 25,
) -> DataFrame:
    """Connected components over an undirected edge list, returning
    ``(node_id, group_id)`` with group_id = min node id in the component
    — the transitive closure a near-dup pipeline needs to pick one
    keeper per duplicate GROUP rather than per pair.

    Algorithm: iterative min-label propagation (hash-to-min) with a
    pointer-jumping step per round — labels(v) <- min(label(v),
    min_{u~v} label(u), label(label(v))) — which converges in
    O(log diameter) rounds, each round two shuffles on the node key.
    Iterations are bounded by ``max_iters`` and stop at the first
    fixpoint (change count logged).  Every round eagerly
    ``localCheckpoint``s the new label table: iterative self-joins
    otherwise stack the whole history into one logical plan and
    Catalyst analysis time grows super-linearly with rounds (on a real
    cluster swap in ``checkpoint`` on reliable storage for fault
    tolerance).  No GraphFrames dependency."""
    edges = pairs.select(
        F.col(src).alias("a"), F.col(dst).alias("b")
    ).union(pairs.select(F.col(dst).alias("a"), F.col(src).alias("b")))
    edges = edges.localCheckpoint(True)
    labels = (
        edges.select(F.col("a").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("label"))
        .localCheckpoint(True)
    )

    iters = 0
    for it in range(max_iters):
        iters = it + 1
        nbr = (
            edges.join(
                labels.select(
                    F.col("node").alias("a"), F.col("label").alias("albl")
                ),
                "a",
            )
            .groupBy(F.col("b").alias("node"))
            .agg(F.min("albl").alias("nbr_min"))
        )
        stepped = labels.join(nbr, "node", "left").select(
            "node", F.least("label", "nbr_min").alias("label")
        )
        # pointer jump: follow the label's own label one hop
        ptr = stepped.select(
            F.col("node").alias("pnode"), F.col("label").alias("plabel")
        )
        jumped = (
            stepped.join(ptr, stepped["label"] == ptr["pnode"], "left")
            .select("node", F.least("label", "plabel").alias("label"))
            .localCheckpoint(True)
        )
        changed = (
            jumped.join(
                labels.select(
                    "node", F.col("label").alias("old_label")
                ),
                "node",
            )
            .where(F.col("label") != F.col("old_label"))
            .count()
        )
        labels = jumped
        if changed == 0:
            break
    logger.info(
        "connected_components: fixpoint after %d/%d iterations",
        iters,
        max_iters,
    )
    return labels.select(
        F.col("node").alias("node_id"), F.col("label").alias("group_id")
    )


def near_dup_groups(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 16,
    shingle_words: int = 3,
    n_bands: int = 4,
    rows_per_band: int = 4,
    portable: bool = False,
) -> DataFrame:
    """End-to-end near-dup GROUP resolution: MinHash + banded LSH
    candidate pairs -> connected components.  Returns (doc_id, group_id)
    for every document that appears in at least one candidate pair;
    group_id = min doc_id of the transitive group (the keeper).  This is
    the operator a real dedup pipeline ships — pairs alone don't
    deduplicate transitively.

    LSH recall is probabilistic and cheapest at low thresholds.  For
    exact pair semantics, run ``connected_components`` over the
    LOSSLESS prefix-filtered exact-Jaccard join
    (``ngram_jaccard_prefix_pairs``) instead.  Crossover rule (measured,
    sf0.1 + planted-boilerplate tests): prefer the prefix join when the
    threshold is high (t >= ~0.5, small prefixes) or when shingle
    doc-frequency is skewed (boilerplate) — the cases where LSH needs
    the semantics-changing df/bucket caps; prefer LSH when shingle
    df ~ 1 (near-unique text), where prefix indexing pays ~the full
    index cost for no pruning (measured ~2x slower there)."""
    sigs = minhash_signatures(
        df,
        id_col,
        text_col,
        n_hashes=n_hashes,
        shingle_words=shingle_words,
    )
    pairs = lsh_candidate_pairs(
        sigs,
        n_bands=n_bands,
        rows_per_band=rows_per_band,
        portable=portable,
    )
    cc = connected_components(pairs)
    return cc.select(F.col("node_id").alias("doc_id"), "group_id")


def dedup_decisions(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 16,
    shingle_words: int = 3,
    n_bands: int = 4,
    rows_per_band: int = 4,
    portable: bool = False,
    groups: DataFrame | None = None,
) -> DataFrame:
    """The composed dedup VERDICT table — one row per document:
    (doc_id, keeper_id, reason) with reason in ('keep', 'exact',
    'near').  This is the artifact a pretraining pipeline actually
    consumes: filter ``reason = 'keep'`` for the corpus, or join the
    keeper for provenance.

    ``groups``: a precomputed ``near_dup_groups`` result
    (doc_id, group_id) to consume instead of re-running the
    LSH + connected-components pipeline — the production shape, where
    groups are materialized once per corpus snapshot and every
    downstream verdict reads the table.  Same output either way (a
    test pins the two paths equal).  Groups built on other candidate
    pairs (the lossless exact-Jaccard join; see ``near_dup_groups`` for
    the crossover rule) enter the same way.

    Precedence is deterministic and repartition-stable: an exact
    duplicate (identical text, keeper = min doc_id of the fingerprint
    group) is 'exact' even when it is also in a near-dup component; a
    surviving doc that belongs to a transitive near-dup group
    (``near_dup_groups``) and is not its keeper is 'near'; everything
    else keeps itself.  Both keeper choices are min-id, so the verdict
    depends only on document content and ids, never on partitioning.

    Scale shape: the exact path shuffles one 16-byte digest per doc;
    the near path is the bucketed LSH + connected-components pipeline;
    resolution is one left join on doc_id."""
    docs = df.select(
        F.col(id_col).alias("doc_id"),
        F.md5(F.col(text_col)).alias("fingerprint"),
    )
    exact_w = Window.partitionBy("fingerprint")
    with_exact = docs.select(
        "doc_id", F.min("doc_id").over(exact_w).alias("exact_keeper")
    )
    if groups is None:
        groups = near_dup_groups(
            df,
            id_col=id_col,
            text_col=text_col,
            n_hashes=n_hashes,
            shingle_words=shingle_words,
            n_bands=n_bands,
            rows_per_band=rows_per_band,
            portable=portable,
        )
    # near_dup_groups contract: columns (doc_id, group_id)
    near = groups.select("doc_id", F.col("group_id").alias("near_keeper"))
    is_exact_dup = F.col("exact_keeper") != F.col("doc_id")
    is_near_dup = F.col("near_keeper").isNotNull() & (
        F.col("near_keeper") != F.col("doc_id")
    )
    return with_exact.join(near, "doc_id", "left").select(
        "doc_id",
        F.when(is_exact_dup, F.col("exact_keeper"))
        .when(is_near_dup, F.col("near_keeper"))
        .otherwise(F.col("doc_id"))
        .alias("keeper_id"),
        F.when(is_exact_dup, F.lit("exact"))
        .when(is_near_dup, F.lit("near"))
        .otherwise(F.lit("keep"))
        .alias("reason"),
    )


def simhash64(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_bits: int = 64,
    portable: bool = False,
) -> DataFrame:
    """SimHash over word tokens: per bit, majority vote of token hash
    bits.  Built-ins only (explode + bit ops + groupBy).
    Returns (doc_id, simhash: long).

    ``portable=True`` switches the token hash from xxhash64 (fastest) to
    the md5-based hash reproducible in external SQL engines (used by the
    oracle-checked driver query with n_bits=16)."""
    toks = fan_out(df).select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("tok"),
    ).where(F.col("tok") != "")
    # (r07 A/B, rejected: hashing only DISTINCT tokens and joining back
    # was 2.7x slower than the inline map — the join's exchanges cost
    # more than the saved md5 chains; same result as minhash_signatures)
    h = _hash64(F.col("tok"), 0) if portable else F.xxhash64("tok")
    hashed = toks.select("doc_id", h.alias("h"))
    bit_sums = hashed.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.sum(F.shiftrightunsigned(F.col("h"), b).bitwiseAND(F.lit(1))).alias(f"b{b}")
            for b in range(n_bits)
        ],
    )
    sim = F.lit(0).cast("long")
    for b in range(n_bits):
        sim = sim + F.when(
            2 * F.col(f"b{b}") >= F.col("n"),
            F.shiftleft(F.lit(1).cast("long"), b),
        ).otherwise(F.lit(0).cast("long"))
    return bit_sums.select("doc_id", sim.alias("simhash"))


def span_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_tokens: int = 8,
) -> DataFrame:
    """Non-overlapping ``span_tokens``-token spans of each document with
    a portable md5 fingerprint — the unit of C4-style span/line-level
    dedup (the corpus variant of three-sentence dedup for text without
    sentence punctuation).  Returns (doc_id, span_idx, span, span_h).

    Built-ins only (split/sequence/transform/posexplode); the only
    shuffle downstream operators add is on ``span_h``."""
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    n_spans = F.ceil(F.size(toks) / F.lit(span_tokens)).cast("int")
    spans = F.transform(
        F.sequence(F.lit(0), F.greatest(n_spans - 1, F.lit(0))),
        lambda i: F.array_join(
            F.slice(toks, i * span_tokens + 1, span_tokens), " "
        ),
    )
    return (
        fan_out(df)
        .select(
            F.col(id_col).alias("doc_id"),
            F.posexplode(spans).alias("span_idx", "span"),
        )
        .where(F.col("span") != "")
        .select(
            "doc_id", "span_idx", "span", F.md5(F.col("span")).alias("span_h")
        )
    )


def span_dedup_verdicts(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_tokens: int = 8,
    with_span: bool = False,
) -> DataFrame:
    """Corpus-wide span-level dedup verdict: for every span occurrence,
    the global keeper is the FIRST occurrence by (doc_id, span_idx) —
    deterministic, repartition-stable, engine-portable.  Returns
    (span_h, doc_id, span_idx, keeper_doc, keeper_idx, is_dup), plus
    ``span`` when ``with_span`` (the rebuild path wants the text).

    Scale shape — text never shuffles on the digest key: keepers are a
    digest-only ``groupBy(span_h).min(struct)`` (map-side partial min
    absorbs hot boilerplate spans), verdicts join digests back on
    span_h (24-byte rows; AQE skew-join splits a residual hot digest),
    and the optional text join is on (doc_id, span_idx), whose
    distribution follows documents, not span popularity.  A window
    over span_h would instead sort every TEXT copy of a hot span on
    one reducer — the exact skew this avoids."""
    fps = span_fingerprints(df, id_col, text_col, span_tokens)
    digests = fps.select("doc_id", "span_idx", "span_h")
    keepers = digests.groupBy("span_h").agg(
        F.min(F.struct("doc_id", "span_idx")).alias("_k")
    )
    v = digests.join(keepers, "span_h").select(
        "span_h",
        "doc_id",
        "span_idx",
        F.col("_k.doc_id").alias("keeper_doc"),
        F.col("_k.span_idx").alias("keeper_idx"),
        (
            (F.col("_k.doc_id") != F.col("doc_id"))
            | (F.col("_k.span_idx") != F.col("span_idx"))
        ).alias("is_dup"),
    )
    if with_span:
        v = v.join(
            fps.select("doc_id", "span_idx", "span"), ["doc_id", "span_idx"]
        )
    return v


def span_clean_docs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_tokens: int = 8,
    verdicts: DataFrame | None = None,
) -> DataFrame:
    """Per-document result of dropping every span whose first occurrence
    is elsewhere in the corpus (C4's dedup transform), summarized as
    (doc_id, n_spans, n_kept, clean_md5) where clean_md5 fingerprints
    the surviving spans re-joined in document order — the cheap
    cross-engine contract for the rewritten text (emitting the full
    cleaned text is the same plan minus the md5).

    ``verdicts``: a precomputed ``span_dedup_verdicts(with_span=True)``
    result (needs doc_id/span_idx/span/is_dup) to consume instead of
    re-running the span pipeline — pass it when materializing several
    outputs from one verdict table (cf. run_job span-dedup mode)."""
    v = (
        verdicts
        if verdicts is not None
        else span_dedup_verdicts(
            df, id_col, text_col, span_tokens, with_span=True
        )
    )
    kept_struct = F.when(
        ~F.col("is_dup"), F.struct("span_idx", "span")
    )  # collect_list drops the NULLs for dup spans
    return v.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(F.when(~F.col("is_dup"), 1).otherwise(0))
        .cast("long")
        .alias("n_kept"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)),
                    lambda s: s["span"],
                ),
                " ",
            )
        ).alias("clean_md5"),
    )


def incremental_dedup(
    new_docs: DataFrame,
    old_digests: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    digest_col: str = "digest",
) -> DataFrame:
    """Dedup an incoming batch against a PREVIOUS snapshot's digest
    table — the incremental-crawl shape: each new snapshot is deduped
    against the accumulated corpus without rereading old text.  Returns
    one row per new doc: (doc_id, digest, status) with status in
    ('keep', 'batch_dup', 'seen') — 'seen' = digest already in the old
    corpus, 'batch_dup' = duplicated WITHIN the new batch (keeper = min
    doc_id, matching exact_dup_groups), 'keep' = the batch keeper of an
    unseen digest.  The kept set is exactly what exact dedup over
    (old ∪ new) would keep from the new batch.

    Scale shape: text reduces to a 16-byte md5 at the scan; both the
    within-batch keeper aggregation (groupBy digest -> min id, map-side
    combinable, no window over hot digests) and the against-old check
    (left SEMI-shaped join on digest against a digest-only table) move
    digests, never text.  old_digests at 10^12 docs is itself a
    bucketed-by-digest table, making the join co-partitioned."""
    fp = new_docs.select(
        F.col(id_col).alias("doc_id"),
        F.md5(F.col(text_col)).alias("digest"),
    )
    keepers = fp.groupBy("digest").agg(F.min("doc_id").alias("_keeper"))
    old = old_digests.select(
        F.col(digest_col).alias("digest"), F.lit(True).alias("_seen")
    ).dropDuplicates(["digest"])
    joined = fp.join(keepers, "digest").join(old, "digest", "left")
    return joined.select(
        "doc_id",
        "digest",
        F.when(F.col("_seen").isNotNull(), F.lit("seen"))
        .when(F.col("doc_id") == F.col("_keeper"), F.lit("keep"))
        .otherwise(F.lit("batch_dup"))
        .alias("status"),
    )


def _prefix_candidates(
    sh: DataFrame,
    jaccard_num: int,
    jaccard_den: int,
    prefix_k: int = 2,
    packed: bool = False,
    id_dtype: str = "bigint",
) -> DataFrame:
    """Candidate (doc_a, doc_b) pairs from the prefix-filtered inverted
    index: each doc indexes only its n - ceil(t*n) + 1 RAREST shingles
    under the global (doc-freq, shingle) order, so hot boilerplate
    shingles fall out of the join entirely.  Split out so tests can
    measure the pruning (candidate count vs the full index join's pair
    fanout) directly.

    ``sh`` is (doc_id, shingle) — one row per distinct doc/shingle —
    optionally already carrying the per-doc set size as ``n_sh`` (the
    r07 array front end provides it for free; without it one
    groupBy+join computes it as before).  r07 additions, all lossless:

    * the prefix posting table is localCheckpoint'ed so the self-join
      does not re-execute the freq+rank subtree per side;
    * the AllPairs LENGTH filter (J >= t  ⟹  den*min(n) >= num*max(n),
      since J <= min/max) drops size-incompatible pairs at candidate
      generation, before the aggregate and the array verification;
    * the ``prefix_k`` PIGEONHOLE EXTENSION (Xiao et al. WWW'08 §4.1):
      index each doc's ``n - ceil(t*n) + k`` rarest shingles and keep
      only pairs sharing >= min(k, o_pair) of them, where
      o_pair = max(ceil(t*n_a), ceil(t*n_b)) is the pair's overlap
      floor.  Proof (canonical global order): |A∩B| >= o_pair and A's
      suffix beyond the prefix holds ceil(t*n_a) - k elements, so the
      min(k, o_pair) canonically-smallest elements of A∩B lie in BOTH
      prefixes.  The min(..) cap makes tiny docs (ceil(t*n) < k)
      exact rather than over-pruned.  Measured at the sf1.0-scale
      proxy corpus: 68.5M single-shingle candidates -> ~3M, with only
      167 true pairs — verification work drops ~20x for one extra
      indexed shingle per doc (~3% more enumerated rows)."""
    if "n_sh" not in sh.columns:
        sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
        sh = sh.join(sizes, "doc_id")
    freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df_sh"))
    w_rank = Window.partitionBy("doc_id").orderBy(
        F.col("df_sh").asc(), F.col("shingle").asc()
    )
    ranked = sh.join(freq, "shingle").withColumn(
        "pos", F.row_number().over(w_rank)
    )
    # ceil(t*n) = (num*n + den - 1) div den — exact integers only
    ceil_tn = F.expr(
        f"(({jaccard_num} * n_sh) + {jaccard_den} - 1) div {jaccard_den}"
    )
    prefix = (
        ranked.where(
            F.col("pos") <= F.col("n_sh") - ceil_tn + prefix_k
        )
        .select("doc_id", "shingle", "n_sh")
        .localCheckpoint(eager=True)
    )

    def _ceil_t(col: str):
        return F.expr(
            f"(({jaccard_num} * {col}) + {jaccard_den} - 1) div {jaccard_den}"
        )

    # shuffle_hash: post-checkpoint size stats would pick sort-merge,
    # paying two sorts of the posting table for a join whose per-
    # partition build side is tiny (guide §3.1); the pair-count
    # aggregate stays COUNT-only (narrow hash map — 68M-entry maps get
    # 16 bytes/entry wider with carried sizes, measured slower), and
    # the per-pair shared-prefix threshold attaches the two doc sizes
    # afterwards via broadcast probes on the aggregated table.
    counted = _pair_count(
        prefix.select(
            F.col("doc_id").alias("doc_a"),
            "shingle",
            F.col("n_sh").alias("n_a"),
        )
        .join(
            prefix.select(
                F.col("doc_id").alias("doc_b"),
                "shingle",
                F.col("n_sh").alias("n_b"),
            ).hint("shuffle_hash"),
            "shingle",
        )
        .where(
            (F.col("doc_a") < F.col("doc_b"))
            & (
                jaccard_den * F.least(F.col("n_a"), F.col("n_b"))
                >= jaccard_num * F.greatest(F.col("n_a"), F.col("n_b"))
            )
        ),
        "__shared",
        packed,
        id_dtype,
    )
    sizes = prefix.select("doc_id", "n_sh").dropDuplicates(["doc_id"])
    return (
        counted.join(
            F.broadcast(
                sizes.select(
                    F.col("doc_id").alias("doc_a"),
                    F.col("n_sh").alias("__na"),
                )
            ),
            "doc_a",
        )
        .join(
            F.broadcast(
                sizes.select(
                    F.col("doc_id").alias("doc_b"),
                    F.col("n_sh").alias("__nb"),
                )
            ),
            "doc_b",
        )
        .where(
            F.col("__shared")
            >= F.least(
                F.lit(prefix_k),
                F.greatest(_ceil_t("__na"), _ceil_t("__nb")),
            )
        )
        .select("doc_a", "doc_b")
    )


def ngram_jaccard_prefix_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_words: int = 3,
    jaccard_num: int = 3,
    jaccard_den: int = 10,
    hash_shingles: bool = False,
    pack_pairs: bool = True,
) -> DataFrame:
    """Exact shingle-set Jaccard join with PREFIX FILTERING (the
    PPJoin/AllPairs candidate-pruning family, Xiao et al. WWW'08 /
    Bayardo et al. WWW'07): result-IDENTICAL to the plain inverted-
    index join at threshold ``jaccard_num/jaccard_den``, but the join
    only touches each document's PREFIX — its ``n - ceil(t*n) + 1``
    rarest shingles under a global (doc-freq, shingle) canonical order.
    Any pair with J >= t must share a prefix shingle on BOTH sides
    (for J >= t, |A∩B| >= ceil(t*|A|) and >= ceil(t*|B|)), so pruning
    is lossless; candidates are then verified EXACTLY with an
    array-intersect over the two full shingle sets.

    Why this beats the df-cap at scale: the cap changes semantics
    (pairs held together only by hot shingles vanish); the prefix
    filter keeps exact semantics while shrinking the index join
    superlinearly as t grows (t=0.5 indexes half of each doc; and the
    rare-first order puts precisely the LOW-fanout shingles in the
    index, so the candidate join's per-key row products stay small).
    The threshold is a RATIONAL (num/den): ceil(t*n) is computed in
    exact integer arithmetic — a float ceil can round the prefix a
    token short and silently drop true pairs.

    Returns (doc_a, doc_b, inter, union_n) with
    den*inter >= num*union_n — identical columns and rows to
    ``ngram_jaccard_pairs(min_jaccard_pct=100*t, max_doc_freq=inf)``.

    ``hash_shingles=True`` is the same deployment fast path as
    ``ngram_jaccard_pairs``: the freq/rank/index joins and the
    verification arrays move xxhash64 longs instead of n-gram strings.
    Because verification recomputes the exact intersection from the
    full (hashed) sets, the rare-first canonical order may differ
    between the two modes but the RESULT does not, barring a 64-bit
    collision (tests pin string-path == hashed-path on the committed
    corpora).  r07 plan shape: the per-doc shingle-array table is
    computed in one in-row projection and localCheckpoint'ed — the r06
    plan re-executed the scan+explode+distinct subtree 8 times (once
    per freq/size/rank/verify reference, both sides); the Jaccard
    predicate is restated as (den+num)*inter >= num*(n_a+n_b) so
    ``array_intersect`` is evaluated ONCE per candidate in the join
    condition instead of twice.  ``pack_pairs`` is the same guarded
    packed-pair-key candidate aggregate as ``ngram_jaccard_pairs``
    (result-identical; see there)."""
    if not (0 < jaccard_num <= jaccard_den):
        raise ValueError("threshold must satisfy 0 < num/den <= 1")
    packed = pack_pairs and _pair_ids_packable(df, id_col)
    docs_arr = _doc_shingle_arrays(
        df, id_col, text_col, shingle_words, hash_shingles
    ).localCheckpoint(eager=True)
    sh = _explode_shingles(docs_arr)
    cand = _prefix_candidates(
        sh,
        jaccard_num,
        jaccard_den,
        packed=packed,
        id_dtype=dict(df.dtypes)[id_col],
    )
    verified = (
        cand.join(
            docs_arr.select(
                F.col("doc_id").alias("doc_a"),
                F.col("sh_arr").alias("arr_a"),
                F.col("n_sh").alias("n_a"),
            ).hint("shuffle_hash"),
            "doc_a",
        )
        .join(
            docs_arr.select(
                F.col("doc_id").alias("doc_b"),
                F.col("sh_arr").alias("arr_b"),
                F.col("n_sh").alias("n_b"),
            ).hint("shuffle_hash"),
            "doc_b",
        )
        .withColumn(
            "inter",
            F.size(F.array_intersect(F.col("arr_a"), F.col("arr_b"))).cast(
                "long"
            ),
        )
        # == den*inter >= num*(n_a + n_b - inter) with ONE `inter`
        # occurrence, so the pushed-down join condition computes the
        # array intersection once per candidate pair
        .where(
            (jaccard_den + jaccard_num) * F.col("inter")
            >= jaccard_num * (F.col("n_a") + F.col("n_b"))
        )
        .withColumn("union_n", F.col("n_a") + F.col("n_b") - F.col("inter"))
    )
    return verified.select("doc_a", "doc_b", "inter", "union_n")


def count_cosine_rescore(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact token-count COSINE rescoring of candidate pairs — the
    second half of the production candidates->rescore shape (LSH or
    prefix-filter proposes, an exact similarity disposes; the
    reference's cluster-then-rescore pattern, KELOSProcessors
    ``PruningProcessor``/``KNearestPointsProcessor``
    src/main/java/.../PruningProcessor.java:1, applied to text).

    ``pairs`` is any (doc_a, doc_b) candidate table (e.g.
    ``lsh_candidate_pairs``).  Each document becomes a sparse
    bag-of-words count vector over whitespace tokens; the result is
    (doc_a, doc_b, dot, cosine) with dot = <a,b> in EXACT integer
    arithmetic and cosine = dot / (||a||*||b||) computed with one
    float op per term (cast, sqrt, multiply, divide — all correctly
    rounded IEEE, so engine-portable bit-for-bit).

    Scale shape (100 TB): the token table shuffles (doc_id, token,
    cnt) triples — never text; it is first SEMI-JOINED down to only
    the documents that appear in some candidate pair (candidates are
    a vanishing fraction of the corpus after LSH), so the two rescore
    joins touch O(|pairs| * avg_doc_tokens) rows, not the corpus.
    The dot-product join is keyed on (doc_id, token) — fine-grained
    keys, no hot single key; AQE splits any residual skew.  No
    Python anywhere: explode/groupBy/join/sum are all codegen'd.

    It localCheckpoints the two BOUNDED intermediates that the rescore
    DAG reuses — ``pairs`` (referenced 4x: both legs of the doc-id
    union, the dot join, the final left join) and the pair-filtered
    token table (referenced 3x: norms + both dot sides).  Without the
    checkpoints Catalyst re-derives the entire upstream candidate
    pipeline per reference (plan audit read 86 exchanges for the
    LSH-pairs composition; 4 after) — the same plan-reuse hazard
    CLAUDE.md pins for iterative self-joins.
    Both checkpoints hold candidate-scale data (pairs, and tokens of
    docs in pairs), never the corpus."""
    pairs = pairs.localCheckpoint(eager=True)
    toks = (
        fan_out(df)
        .select(
            F.col(id_col).alias("doc_id"),
            F.explode(
                F.split(F.trim(F.col(text_col)), r"\s+")
            ).alias("token"),
        )
        .where(F.col("token") != "")
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    in_pairs = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .union(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    toks = toks.join(in_pairs, "doc_id", "left_semi")
    toks = toks.localCheckpoint(eager=True)
    norms = toks.groupBy("doc_id").agg(
        F.sum(F.col("cnt") * F.col("cnt")).alias("n2")
    )
    ta = toks.select(
        F.col("doc_id").alias("doc_a"),
        "token",
        F.col("cnt").alias("cnt_a"),
    )
    tb = toks.select(
        F.col("doc_id").alias("doc_b"),
        "token",
        F.col("cnt").alias("cnt_b"),
    )
    dots = (
        pairs.join(ta, "doc_a")
        .join(tb, ["doc_b", "token"])
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.col("cnt_a") * F.col("cnt_b")).alias("dot"))
    )
    return (
        pairs.join(dots, ["doc_a", "doc_b"], "left")
        .join(norms.select(F.col("doc_id").alias("doc_a"),
                           F.col("n2").alias("na2")), "doc_a")
        .join(norms.select(F.col("doc_id").alias("doc_b"),
                           F.col("n2").alias("nb2")), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.coalesce(F.col("dot"), F.lit(0)).cast("long").alias("dot"),
            (
                F.coalesce(F.col("dot"), F.lit(0)).cast("double")
                / (
                    F.sqrt(F.col("na2").cast("double"))
                    * F.sqrt(F.col("nb2").cast("double"))
                )
            ).alias("cosine"),
        )
    )


def containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_words: int = 3,
    min_containment_pct: int = 80,
    max_doc_freq: int = 1000,
    hash_shingles: bool = False,
    pack_pairs: bool = True,
) -> DataFrame:
    """ASYMMETRIC near-duplicate pairs by shingle containment:
    containment(A,B) = |A∩B| / min(|A|,|B|) — the max of the two
    directed containments, which flags a document whose shingle set is
    (nearly) a SUBSET of another's.  Symmetric Jaccard misses exactly
    this case: a short page wrapped verbatim inside a longer one
    scores inter/union ≈ |A|/|B| → 0 as the wrapper grows, while its
    containment stays ≈ 1.  The boilerplate-wrapper / quoted-article
    shape is the dominant near-dup mode in web corpora that Jaccard
    thresholds under-catch.

    Same inverted-index plan as ``ngram_jaccard_pairs`` (shared-shingle
    join, never cross; ``max_doc_freq`` caps degenerate shingles with
    the same lower-bound semantics), same integer-exact rational
    threshold: keep pairs with 100*inter >= pct*least(n_a, n_b).
    Returns (doc_a, doc_b, inter, n_a, n_b), doc_a < doc_b.
    ``hash_shingles=True`` is the same deployment fast path as
    ``ngram_jaccard_pairs``: xxhash64 the shingles so the shuffles
    move longs, not n-gram text (library-only; oracle runs raw).
    ``pack_pairs`` is the same guarded packed-pair-key aggregate as
    ``ngram_jaccard_pairs`` (result-identical; see there)."""
    # (same r07 A/B outcome as ngram_jaccard_pairs: the r06 shape wins;
    # the declared query's gains are hash_shingles=True + packed key)
    packed = pack_pairs and _pair_ids_packable(df, id_col)
    id_dtype = dict(df.dtypes)[id_col]
    sh = (
        fan_out(df).select(
            F.col(id_col).alias("doc_id"),
            F.explode(_shingles(text_col, shingle_words)).alias("shingle"),
        )
        .where(F.col("shingle") != "")
    )
    if hash_shingles:
        sh = sh.select("doc_id", F.xxhash64("shingle").alias("shingle"))
    sh = sh.distinct()
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    capped = sh.withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("shingle"))
    ).where(F.col("df") <= max_doc_freq)
    a = capped.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = capped.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = _pair_count(
        a.join(b, "shingle").where(F.col("doc_a") < F.col("doc_b")),
        "inter",
        packed,
        id_dtype,
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(F.broadcast(sa), "doc_a")
        .join(F.broadcast(sb), "doc_b")
        .where(
            100 * F.col("inter")
            >= min_containment_pct * F.least(F.col("n_a"), F.col("n_b"))
        )
        .select("doc_a", "doc_b", "inter", "n_a", "n_b")
    )


def edit_distance_verify(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_dist_pct: int = 20,
    prefix_chars: int = 1000,
) -> DataFrame:
    """Exact edit-distance VERIFICATION of candidate near-dup pairs —
    the final filter after a recall-oriented candidate stage (LSH /
    SimHash / prefix filter): keep (doc_a, doc_b) when
    levenshtein(a, b) <= max_dist_pct% of the longer text.  Character-
    level distance catches reorderings and small in-place edits that
    set-based Jaccard treats as identical and token-count cosine
    cannot see at all.  Integer-exact output (doc_a, doc_b, dist,
    len_a, len_b) with 100*dist <= pct*greatest(len_a, len_b); both
    Spark and DuckDB ship the classic levenshtein builtin, so the
    oracle is the same expression verbatim.

    ``prefix_chars`` bounds the O(len_a*len_b) DP: distance and
    lengths are both computed over the first K characters (a
    self-consistent truncated metric, stated in the output contract —
    not a silent approximation of the full-text distance).  Scale
    shape: two hash joins pull only (id, K-char prefix) projections
    onto the pair list — post-LSH pair counts are ~linear in corpus
    size, never quadratic, and the DP runs inside whole-stage codegen
    on the JVM."""
    t = df.select(
        F.col(id_col).alias("__id"),
        F.substring(
            F.coalesce(F.col(text_col), F.lit("")), 1, prefix_chars
        ).alias("__t"),
    )
    joined = pairs.select("doc_a", "doc_b").join(
        t.select(F.col("__id").alias("doc_a"), F.col("__t").alias("__ta")),
        "doc_a",
    ).join(
        t.select(F.col("__id").alias("doc_b"), F.col("__t").alias("__tb")),
        "doc_b",
    ).select(
        "doc_a",
        "doc_b",
        "__ta",
        "__tb",
        F.length("__ta").cast("long").alias("len_a"),
        F.length("__tb").cast("long").alias("len_b"),
    )
    # r07, both lossless: (1) dist >= |len_a - len_b| always, so pairs
    # whose LENGTH GAP alone breaks the threshold skip the DP entirely;
    # (2) any surviving pair has dist <= pct*prefix_chars/100, so the
    # banded threshold variant of levenshtein (O(thr*n) instead of
    # O(n^2), early exit) returns the exact distance for every row the
    # predicate can keep and -1 (dropped, and provably failing the
    # exact predicate too) otherwise.
    thr = (max_dist_pct * prefix_chars) // 100
    pre = joined.where(
        100 * F.abs(F.col("len_a") - F.col("len_b"))
        <= max_dist_pct * F.greatest(F.col("len_a"), F.col("len_b"))
    )
    scored = pre.select(
        "doc_a",
        "doc_b",
        F.levenshtein("__ta", "__tb", thr).cast("long").alias("dist"),
        "len_a",
        "len_b",
    )
    return scored.where(
        (F.col("dist") >= 0)
        & (
            100 * F.col("dist")
            <= max_dist_pct * F.greatest(F.col("len_a"), F.col("len_b"))
        )
    )
