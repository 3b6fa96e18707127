"""Text-analysis functions (Tier C building blocks).

JVM-side expressions only — they compile into whole-stage codegen and
never leave the JVM. Deterministic by construction (hash-derived, no RNG),
so results are stable across runs, executors, and retries — the property
the reference's exactly-once contract demands of any derived column.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


# Single-parse contract (as in functions/vectors.py): every helper takes
# Spark-SQL expression fragments and builds its whole tree as ONE F.expr
# parse. Regexes are written '\\s+' in SQL literals, which lexes to \s+ only
# under spark.sql.parser.escapedStringLiterals=false (session.get_spark pins
# that default).


def normalize_text_sql(c: str) -> str:
    """Lowercase, collapse whitespace, trim — the canonical dedup key."""
    return f"lower(trim(regexp_replace({c}, '\\\\s+', ' ')))"


def normalize_text(c: str) -> Column:
    return F.expr(normalize_text_sql(c))


def words_sql(c: str) -> str:
    """Whitespace tokenization of normalized text."""
    return f"split({normalize_text_sql(c)}, '\\\\s+')"


def words(c: str) -> Column:
    return F.expr(words_sql(c))


def shingles_sql(words_sql_frag: str, n: int = 3) -> str:
    """Distinct word n-grams (array<string>) — MinHash/Jaccard input.

    slice+array_join per position, not n element_at lookups in the lambda:
    the element_at tree evaluates interpreted (~7x slower measured);
    slice+join stays vectorized. Short docs (< n words) yield no grams."""
    w = words_sql_frag
    positions = (
        f"CASE WHEN size({w}) >= {n} THEN sequence(1, size({w}) - {n - 1})"
        " ELSE cast(array() as array<int>) END"
    )
    return (
        f"array_distinct(transform({positions},"
        f" i -> array_join(slice({w}, i, {n}), ' ')))"
    )


def shingles(words_sql_frag: str, n: int = 3) -> Column:
    return F.expr(shingles_sql(words_sql_frag, n))


def minhash_signature_sqls(
    shingles_sql_frag: str, num_hashes: int = 16
) -> list[str]:
    """MinHash signature: min over shingles of hash_i(shingle) for each of
    ``num_hashes`` deterministic hash-family members (xxhash64 salted by
    the INT literal ``i``).

    xxhash64 is JVM-native and ~10x cheaper than md5 while keeping the
    collision behavior MinHash needs."""
    return [
        f"array_min(transform({shingles_sql_frag}, s -> xxhash64({i}, s)))"
        for i in range(num_hashes)
    ]


def minhash_signature(shingles_sql_frag: str, num_hashes: int = 16) -> list[Column]:
    """The :func:`minhash_signature_sqls` members as ``mh0..mh{n-1}``."""
    return [
        F.expr(s).alias(f"mh{i}")
        for i, s in enumerate(minhash_signature_sqls(shingles_sql_frag, num_hashes))
    ]


def minhash_signatures_md5(
    df, id_col: str, shingles_col: str, num_hashes: int = 16
):
    """SQL-ORACLE-EXPRESSIBLE MinHash family: member i = lexicographic min
    over shingles of ``md5('i:' || shingle)`` (lowercase hex on both Spark
    and DuckDB, so an oracle can replay the identical signature).
    Returns a DataFrame (id_col, mh0..mh{n-1}).

    Any uniform hash family gives statistically identical MinHash/banding
    behavior; this one trades the ~10x hashing speed of xxhash64 for a
    CHEAP oracle replay (one md5() call per member vs the ~5 s staged
    xxhash64 pipeline functions/xxhash_sql.py needs per oracle).  Since
    round 11 xxhash64 IS oracle-replayable, so the remaining users are a
    cost choice, not an expressibility pin: ``ext_dedup_incremental`` and
    the ``cdc_stream_dedup_index`` capstone keep this family (their
    oracles replay signatures inside already-heavy incremental MERGE
    replays); the production dedup path (``ext_dedup_minhash``) and the
    recall measurement (``ext_minhash_recall``, switched in round 11)
    use the shipped JVM-native xxhash64 family.

    Deliberately explode -> groupBy MIN aggregates, NOT
    ``array_min(transform(...))`` like the xxhash64 family: on Spark 4.1,
    ``array_min`` over a transform-produced STRING array can return a value
    that is not an element of the array at all when the input rides an
    in-memory cache (UTF8String buffer aliasing in the HOF result; LONG
    minhashes are by-value and unaffected). The row-aggregate MIN copies
    into its buffer and is immune — pinned by
    tests/test_functions.py::test_md5_minhash_stable_over_cache."""
    ids = df.select(id_col, F.explode(shingles_col).alias("_s"))
    # one expr parse per member instead of ~8 gateway calls each (round 12;
    # identical tree: min over md5(concat('<i>:', _s)))
    mins = [
        F.expr(f"min(md5(concat('{i}:', _s)))").alias(f"mh{i}")
        for i in range(num_hashes)
    ]
    return ids.groupBy(id_col).agg(*mins)


def simhash(words_col: Column, bits: int = 64) -> Column:
    """SimHash fingerprint (Charikar, STOC'02): per-token 64-bit hash; each
    bit position votes +1/-1 across tokens; the sign pattern of the vote
    sums is the fingerprint. Near-duplicate texts differ in few bits (small
    Hamming distance). Returns BIGINT.

    Pure array algebra — ONE pass over the token array accumulating a
    64-long vote vector (zip_with), then a fold of the signs into the
    64-bit word. No UDF, stays in codegen."""

    def bit_votes_of(h: Column) -> Column:
        return F.array(
            *[
                F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, F.lit(1)).otherwise(
                    F.lit(-1)
                )
                for b in range(bits)
            ]
        )

    hashes = F.transform(words_col, lambda w: F.xxhash64(w))
    votes = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0), bits),
        lambda acc, h: F.zip_with(acc, bit_votes_of(h), lambda a, v: a + v),
    )
    # Signed-long bit values (1<<63 wraps to Long.MIN); a literal array so
    # the vote vector is referenced exactly once in the final fold.
    powers = F.array(
        *[F.lit((1 << b) if b < 63 else -(1 << 63)).cast("long") for b in range(bits)]
    )
    return F.aggregate(
        F.zip_with(
            votes, powers, lambda v, p: F.when(v > 0, p).otherwise(F.lit(0).cast("long"))
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc.bitwiseOR(x),
    )


def simhash_df(df, id_col: str, words_col: Column, bits: int = 64):
    """Corpus-scale SimHash: same fingerprint as :func:`simhash`, computed
    as explode -> hash-aggregate instead of a higher-order-function fold.

    The HOF form materializes a 64-element vote array per TOKEN (a
    64-``when`` array zipped into the accumulator) — measured ~6x slower
    over the sf0.1 corpus than this form, where each token becomes a row,
    the 64 per-bit one-counts are plain SUM aggregates with map-side
    partial aggregation (shuffle payload: one 65-long row per doc per
    partition), and the sign test ``2*ones_b > n_tokens`` reassembles the
    word. Identical output to ``simhash`` for non-null token arrays.

    Returns a DataFrame (id_col, sig)."""
    tok = df.select(id_col, F.explode(words_col).alias("_w")).select(
        id_col, F.xxhash64("_w").alias("_h")
    )
    # The 64 per-bit one-counts and the 64-term sign fold are built as SQL
    # strings (round 12): the Column form cost ~1.5k py4j round trips
    # (~0.5 s of driver time) per construction.  Identical trees — the
    # b=63 power uses shiftleft(1L, 63), which wraps to Long.MIN exactly
    # like the F.lit(-(1 << 63)).cast('long') it replaces.
    ones = [
        F.expr(f"sum(shiftright(_h, {b}) & 1)").alias(f"_o{b}")
        for b in range(bits)
    ]
    agg = tok.groupBy(id_col).agg(F.count(F.lit(1)).alias("_n"), *ones)
    # vote_b = 2*ones_b - n ; bit set iff vote > 0. Bits are disjoint, so a
    # SUM of per-bit terms equals the bitwise OR and stays one flat
    # codegen expression (1<<63 wraps to Long.MIN, matching simhash()).
    sig = F.expr(
        "("
        + " + ".join(
            f"CASE WHEN _o{b} * 2 > _n THEN shiftleft(cast(1 as bigint), {b})"
            " ELSE cast(0 as bigint) END"
            for b in range(bits)
        )
        + ")"
    )
    return agg.select(id_col, sig.alias("sig"))


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit fingerprints (bit_count of XOR)."""
    return F.bit_count(a.bitwiseXOR(b))
