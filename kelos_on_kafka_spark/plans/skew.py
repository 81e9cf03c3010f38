"""Explicit skew handling — salted two-phase operators.

North-rule surface: "partitioning / shuffle / skew handled explicitly",
"skew-aware salting of hot clusters".  Spark's hash aggregate already
partial-aggregates map-side, so plain ``sum``/``count`` survive a hot
key; these operators cover the shapes that DON'T:

- per-key top-n: a window sort over a hot key funnels every row of that
  key through one task — ``salted_topn`` does a local top-n per
  (key, salt) first, so the final sort sees at most ``n_salts * n`` rows
  per key;
- joins on a low-cardinality / hot key (e.g. the KELOS filter stage —
  window points ⋉ candidate clusters, where one dense cluster owns a
  large share of the points): ``salted_join`` salts the big side and
  replicates the small side once per salt, splitting the hot key across
  ``n_salts`` reducers.  AQE's skew-join handles sort-merge cases at
  runtime; the explicit form also covers bucketed/stateful exchanges AQE
  won't touch and makes the plan deterministic;
- exact distinct counts: ``count(distinct v) group by k`` shuffles every
  (k, v) row of the hot key to one reducer — ``two_phase_distinct``
  spreads the dedup shuffle over (k, v) and only then counts per key.

The salt is derived (``xxhash64 % n_salts``) from columns that are
unique-ish per row, never random, so plans stay deterministic; it only
changes WHERE rows meet, never the result — every salted operator is
oracle-checked against the plain relational query in
``__spark_entry__.py`` / tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

_SALT = "__salt"


def with_salt(df: DataFrame, n_salts: int, src_cols: list[str]) -> DataFrame:
    """Add a deterministic salt column in [0, n_salts) derived from
    ``src_cols`` (pick columns that vary within the hot key — a row id,
    a payload hash)."""
    return df.withColumn(
        _SALT,
        F.pmod(F.xxhash64(*[F.col(c) for c in src_cols]), F.lit(n_salts)).cast(
            "int"
        ),
    )


def salted_topn(
    df: DataFrame,
    key_cols: list[str],
    order_col: str,
    n: int,
    n_salts: int = 16,
    salt_cols: list[str] | None = None,
    descending: bool = True,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Top-n rows per key under a hot-key distribution, two-phase:
    rank within (key, salt), keep n, then rank within key over the
    surviving ``<= n_salts * n`` rows.  Correct because top-n is
    mergeable: the global top-n of a key is contained in the union of
    its per-salt top-n.  ``tiebreak_col`` must make the order total or
    the result is nondeterministic (and un-oracle-able).

    Adds a ``rank`` column (1-based)."""
    order = [
        F.col(order_col).desc() if descending else F.col(order_col).asc()
    ]
    if tiebreak_col:
        order.append(F.col(tiebreak_col).asc())
    salted = with_salt(df, n_salts, salt_cols or [tiebreak_col or order_col])
    w_local = Window.partitionBy(*key_cols, _SALT).orderBy(*order)
    local = (
        salted.withColumn("__lr", F.row_number().over(w_local))
        .where(F.col("__lr") <= n)
        .drop("__lr", _SALT)
    )
    w_final = Window.partitionBy(*key_cols).orderBy(*order)
    return local.withColumn("rank", F.row_number().over(w_final)).where(
        F.col("rank") <= n
    )


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: list[str],
    n_salts: int = 16,
    salt_cols: list[str] | None = None,
    how: str = "inner",
) -> DataFrame:
    """Inner/left join of a skewed big side against a small side,
    spreading each hot key across ``n_salts`` reducers: the big side is
    salted per row, the small side replicated once per salt value, and
    the join key becomes (key..., salt).  Result is exactly
    ``big.join(small, on, how)``.

    The physical join is pinned to shuffle hash: the salt only helps
    on the SHUFFLE path — both sides exchange on (key, salt), the hot
    key lands on n_salts reducers.  (If the small side were
    broadcast-sized you would broadcast and skip salting entirely; and
    a stats-less small side can otherwise bait Catalyst into
    broadcasting the BIG side — observed with a createDataFrame dim at
    bench scale.)

    ``salt_cols`` must vary WITHIN a hot key (a row id, a payload
    hash); a salt derived only from the join keys is constant per key,
    so the hot key still funnels to a single reducer and the salting
    silently does nothing.  Columns that are a subset of ``on`` are
    therefore rejected; when omitted, the salt derives from ALL of
    ``big``'s columns (deterministic; only full-duplicate rows share a
    salt, which cannot concentrate a hot key unless the key is mostly
    duplicate rows — pass an explicit row-id column in that case)."""
    if how not in ("inner", "left"):
        raise ValueError(f"salted_join supports inner/left, got {how!r}")
    salt_src = salt_cols if salt_cols is not None else list(big.columns)
    # applies to the derived default too: a big side carrying ONLY the
    # join-key columns would otherwise get a per-key-constant salt and
    # the salting would silently do nothing
    if set(salt_src) <= set(on):
        raise ValueError(
            "salt source columns ⊆ join keys gives a per-key-constant "
            "salt (zero skew spreading); pass salt_cols that vary "
            "within a key (a row id, a payload hash)"
        )
    salted_big = with_salt(big, n_salts, salt_src)
    # sequence(int, int) yields array<int>, matching with_salt's int cast
    replicated = small.withColumn(
        _SALT, F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    ).hint("shuffle_hash")
    return salted_big.join(replicated, [*on, _SALT], how).drop(_SALT)


def two_phase_distinct(
    df: DataFrame, key_cols: list[str], value_col: str, out_col: str
) -> DataFrame:
    """``count(distinct value) group by key`` for hot keys: shuffle on
    (key, value) to dedup — the hot key's rows spread over every
    partition because value varies — then count per key (tiny input,
    map-side combinable)."""
    return (
        df.select(*key_cols, value_col)
        .distinct()
        .groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias(out_col))
    )
