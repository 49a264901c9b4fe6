"""Candidate generation: token blocking + MinHash-LSH, skew-aware.

The reference's only blocking structure is the inverted index — every
entity sharing >=1 token with the query is a candidate (ref:
EntityMatch/EntityMatch/EntitiesDictionary.cs:39-62, Recognizer.cs:97-126).
At web scale that is quadratic under Zipfian tokens, so this module is
skew-aware by construction:

- **Token blocking** keeps only *discriminative* tokens (IDF above a
  floor — the same signal the reference uses to weight tokens,
  EntitiesDictionary.cs:69-79).
- **MinHash-LSH** adds recall for pairs that share no rare token:
  64 seeded linear permutations min-folded over xxhash64(token) —
  entirely JVM-side column expressions (no UDF, deterministic across
  partitionings), banded into key groups; two docs collide on a band
  iff their signatures agree on all rows of the band.
- **Block purging**: any key whose block exceeds ``max_block`` is
  dropped (an over-shared key has no discriminative power — the
  blocking analog of the IDF floor); surviving blocks are bounded, so
  per-block pair output is bounded by cap^2/2. Pair generation is a
  SINGLE PASS over the key table (see candidate_pairs), with AQE skew
  splitting on top.

MinHash arithmetic note: Spark 4 runs ANSI mode (overflow raises), so
the permutation is computed mod the Mersenne prime 2^31-1 with factors
< 2^31 — products stay under 2^62, no overflow.
"""

from __future__ import annotations

import random
from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

MERSENNE_31 = (1 << 31) - 1


def token_key_expr(token) -> "F.Column":
    """The canonical token blocking key: ``tok:<token>``. ONE place
    defines the format — the batch key builders below and the
    streaming matcher's per-row key construction must emit identical
    strings or stream keys silently stop equaling indexed keys."""
    return F.concat(F.lit("tok:"), token)


def _check_band_geometry(bands: int, rows_per_band: int, sig_len: int | None) -> None:
    """Fail fast when the band layout overruns the signature: bands
    past the end slice empty arrays, so every doc collides on ONE
    constant key per out-of-range band — a massive skewed block that
    the purge then drops, silently zeroing those bands' recall."""
    if sig_len is not None and bands * rows_per_band > sig_len:
        raise ValueError(
            f"bands*rows_per_band = {bands}*{rows_per_band} = "
            f"{bands * rows_per_band} exceeds the signature length "
            f"{sig_len}; raise num_hashes or lower bands/rows_per_band"
        )


def token_blocking_keys(
    posting: DataFrame,
    idf: DataFrame,
    min_idf: float = 1.0,
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, key): one blocking key per (doc, rare token).

    Rare = idf >= min_idf. IDF is vocabulary-sized -> broadcast join.
    The trailing .distinct() is a full shuffle of the key table; when
    the docs table (with its token arrays) is at hand, prefer
    token_blocking_keys_from_docs — identical output with ZERO shuffle.
    This posting-based form serves callers that only have the exploded
    posting (e.g. a pre-materialized static index).
    """
    rare = idf.filter(F.col("idf") >= min_idf).select("token")
    return (
        posting.join(F.broadcast(rare), "token")
        .select(id_col, token_key_expr(F.col("token")).alias("key"))
        .distinct()
    )


def token_blocking_keys_from_docs(
    docs: DataFrame,
    idf: DataFrame,
    min_idf: float = 1.0,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
) -> DataFrame:
    """token_blocking_keys computed NARROWLY from the docs table.

    Per-row array_distinct before the explode replaces the global
    .distinct() (dedup within a doc needs no cross-partition view), so
    the whole key construction is explode + broadcast-join — zero
    shuffles. At web scale that removes one full shuffle of a
    ~10^13-row key table from the blocking stage. Output is
    row-identical to the posting form (asserted in
    tests/test_blocking_clustering.py).
    """
    rare = idf.filter(F.col("idf") >= min_idf).select("token")
    return (
        docs.select(
            F.col(id_col), F.explode(F.array_distinct(tokens_col)).alias("token")
        )
        .join(F.broadcast(rare), "token")
        .select(id_col, token_key_expr(F.col("token")).alias("key"))
    )


def minhash_coeffs(num_hashes: int = 64, seed: int = 42) -> list[tuple[int, int]]:
    """The seeded permutation coefficients — exposed so an external
    oracle (e.g. the DuckDB contract SQL) can reproduce signatures."""
    rng = random.Random(seed)
    return [
        (rng.randrange(1, MERSENNE_31), rng.randrange(0, MERSENNE_31))
        for _ in range(num_hashes)
    ]


def md5_token_hash(t) -> "F.Column":
    """60-bit token hash from the md5 hex prefix, mod 2^31-1 — exactly
    reproducible in any engine with md5 (DuckDB: ('0x'||substr(md5(t),
    1,15))::BIGINT). The xxhash64 default is faster; this portable
    variant exists so the MinHash-LSH path can be value-checked by a
    relational oracle end-to-end."""
    return F.pmod(
        F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long"),
        F.lit(MERSENNE_31),
    )


def minhash_sig_expr(
    tokens_col: str = "tokens",
    num_hashes: int = 64,
    seed: int = 42,
    token_hash: str = "xxhash64",
):
    """MinHash signature as a pure COLUMN EXPRESSION (array<long>, null
    for empty token sets). Being a per-row expression, it composes into
    any plan — including Structured Streaming, where the incremental
    matcher computes it on newly arrived pages with zero state.

    token_hash: 'xxhash64' (default, fastest) or 'md5' (portable —
    bit-for-bit reproducible by the DuckDB oracle, see md5_token_hash).

    Shape: a single aggregate() FOLD over the hashed token array — the
    accumulator is the 64-slot signature, each token zip_with/least-
    folds its 64 permuted values in. One array traversal, and the
    token-hash subexpression appears ONCE (the aggregate's input), so
    it is evaluated once per token. The previous shape — 64 separate
    array_min(transform(hashed, perm)) expressions — textually
    duplicated the hash into every min; higher-order functions
    evaluate without whole-stage-codegen subexpression elimination, so
    tokens were re-hashed 64x and the array traversed 64x. Measured
    2.4x faster on the signature stage alone (synthetic corpus of
    17,741 docs, local[8], A/B of the two shapes in one Spark session:
    2.4s -> 1.0s), signatures bit-identical.
    """
    coeffs = minhash_coeffs(num_hashes, seed)
    p = F.lit(MERSENNE_31)
    if token_hash == "md5":
        hashed = F.transform(F.array_distinct(tokens_col), md5_token_hash)
    else:
        hashed = F.transform(
            F.array_distinct(tokens_col), lambda t: F.pmod(F.xxhash64(t), p)
        )

    def perms(x):
        return F.array(*[F.pmod(x * F.lit(a) + F.lit(b), p) for (a, b) in coeffs])

    mins = F.aggregate(
        hashed,
        F.array_repeat(F.lit(MERSENNE_31).cast("long"), num_hashes),
        lambda acc, x: F.zip_with(acc, perms(x), lambda m, v: F.least(m, v)),
    )
    return F.when(F.size(tokens_col) > 0, mins)


def lsh_band_keys_expr(
    sig_col: str = "sig",
    bands: int = 16,
    rows_per_band: int = 4,
    band_hash: str = "xxhash64",
    sig_len: int | None = None,
):
    """Band-key array (array<string>) from a signature column — one key
    per band, empty array for a null signature. Column expression form
    so the streaming path can use it per row.

    band_hash: 'xxhash64' folds each band slice to one long (compact
    shuffle keys); 'concat' joins the slice values textually — longer
    keys, but exactly reproducible by a relational oracle.

    ``sig_len``: the signature width (num_hashes) when the caller knows
    it — validates ``bands * rows_per_band <= sig_len`` and raises
    instead of silently emitting one constant key per out-of-range band
    (see _check_band_geometry).
    """
    _check_band_geometry(bands, rows_per_band, sig_len)
    cols = []
    for b in range(bands):
        sl = F.slice(sig_col, b * rows_per_band + 1, rows_per_band)
        if band_hash == "concat":
            cols.append(
                F.concat(
                    F.lit(f"lsh{b}:"),
                    F.array_join(
                        F.transform(sl, lambda x: x.cast("string")), ","
                    ),
                )
            )
        else:
            cols.append(F.concat(F.lit(f"lsh{b}:"), F.xxhash64(sl)))
    return F.when(
        F.col(sig_col).isNotNull(), F.array(*cols)
    ).otherwise(F.array().cast("array<string>"))


def minhash_signature(
    df: DataFrame,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
    num_hashes: int = 64,
    seed: int = 42,
    token_hash: str = "xxhash64",
) -> DataFrame:
    """(id, sig array<long>): deterministic MinHash over the token *set*.

    sig[i] = min over distinct tokens t of (a_i * (xxhash64(t) mod p) + b_i) mod p
    with p = 2^31 - 1. Computed PER ROW with a single aggregate() fold column
    expressions (minhash_sig_expr) — a narrow transformation: zero
    shuffle, valid in Structured Streaming, and trivially partition-
    independent. Seeded factors, never time- or partition-dependent ->
    stable across cluster sizes.

    Docs with no tokens get no signature row (empty sets match nothing).
    """
    return (
        df.filter(F.size(tokens_col) > 0)
        .select(
            F.col(id_col),
            minhash_sig_expr(tokens_col, num_hashes, seed, token_hash).alias("sig"),
        )
    )


def lsh_band_keys(
    signatures: DataFrame,
    bands: int = 16,
    rows_per_band: int = 4,
    id_col: str = "doc_id",
    band_hash: str = "xxhash64",
    sig_len: int | None = None,
) -> DataFrame:
    """(id, key): one key per signature band — docs collide on a band iff
    all ``rows_per_band`` signature slots agree. Key = band index +
    a fold of the band slice (see lsh_band_keys_expr band_hash;
    ``sig_len`` = the signatures' num_hashes, validated when given).
    """
    _check_band_geometry(bands, rows_per_band, sig_len)
    return signatures.select(
        id_col,
        F.explode(
            lsh_band_keys_expr("sig", bands, rows_per_band, band_hash)
        ).alias("key"),
    )


def prune_oversized_blocks(keys: DataFrame, max_block: int) -> DataFrame:
    """Drop every row of a key whose block exceeds ``max_block`` (block
    purging: an over-shared key has no discriminative power — the
    blocking analog of the IDF floor). THE block cap: candidate_pairs
    (for the link, and for the grow's union blocks through its
    ``old_keys``) and the streaming matcher's static side run it.
    (No id_col parameter: the purge decision touches only ``key`` —
    an id-named knob here would imply per-id behavior it doesn't have.)

    One in-pass window count: ``count(*) over (partition by key)``
    counts every row, duplicate (key, id) rows included, and the filter
    keeps the rows whose count is at most the cap. The window's hash
    exchange on ``key`` is the one the caller's block ``groupBy("key")``
    needs, so Spark reuses it — no extra pass, no join — and because
    the filter sits below the collect, no block buffer ever holds more
    than ``max_block`` members. Bounded blocks make per-block pair
    output <= cap^2/2 and leave no skewed shuffle key behind.
    """
    n = F.count("*").over(Window.partitionBy("key"))
    return keys.withColumn("__n", n).filter(F.col("__n") <= max_block).drop("__n")


def candidate_pairs(
    keys: DataFrame,
    max_block: int = 64,
    id_col: str = "doc_id",
    payload_cols: Sequence[str] = (),
    old_keys: DataFrame | None = None,
) -> DataFrame:
    """(id_a, id_b, n_keys): unordered candidate pairs from blocking keys.

    SINGLE-PASS block expansion: prune_oversized_blocks caps each block
    at ``max_block`` rows in the same pass, one groupBy(key) collects
    each block's members (so the arrays are small), then each member
    pairs with the members after it WITHIN the block — a narrow
    transformation emitting k(k-1)/2 rows for a block of k. Pairs
    generated by several keys are deduped and carry how many keys
    agreed (a free, cheap match signal).

    ``old_keys``: members already paired among themselves — the grow's
    standing corpus (plans/incremental.py). They count toward the cap,
    so a block is purged at its UNION size exactly as a full run of
    ``old_keys ∪ keys`` would purge it, and they pair only with
    ``keys`` members: a block of k old and b new members emits
    k*b + b(b-1)/2 rows, never the old-old pairs. The output is the
    full run's pairs minus the pairs of ``old_keys`` alone, ``n_keys``
    included, provided no block crosses the cap.

    Why this beats the classic self-equi-join on key: the join form
    reads the key table three times (block-size aggregate + both join
    sides) — without a persist the whole upstream (e.g. the 64-hash
    MinHash) is recomputed per reference, and with one it pays a
    cache-write barrier; either way the join shuffles the key table
    twice more. Here the key table is consumed ONCE, the plan has two
    shuffles total (block window/groupBy + pair dedup groupBy), and
    reduce-side memory stays bounded by the block cap. Measured on the
    dedup_minhash_lsh contract query at sf0.1 (median of 5): join form
    6.2s without persist / 3.6s with persist -> 2.85s single-pass with
    NO persist (warm rounds 2.2-2.5s). The contract queries and the
    pipeline dropped their key persists on the back of this (they were
    also leaking cached blocks across the driver session — ADVICE r2).
    """
    # ``payload_cols`` carries NARROW per-id columns (e.g. an 8-byte
    # SimHash) through the block expansion so the verifier needs NO
    # join back to the id table — which, when the upstream is a narrow
    # fold with no exchange to reuse, would recompute that upstream
    # once per join side. Output gains <c>_a/<c>_b per payload column.
    # Keep payloads small: each rides the block shuffle once per key
    # and the pair shuffle twice per pair (fat columns belong in the
    # join form, see score_pairs hydration). Without payloads the
    # member is the bare id — same plan minus the struct wrap. A
    # payload member is a struct led by its id, so members compare
    # (``!=``, least/greatest) by id.
    member = (
        F.struct(F.col(id_col).alias("__id"), *[F.col(c) for c in payload_cols])
        if payload_cols
        else F.col(id_col)
    )
    # collect_list (not _set): duplicate (key, id) rows count toward
    # the n_keys signal exactly as the row-level join form did (and
    # toward the cap, see prune_oversized_blocks). Each block's list
    # holds its ``n_old`` old members first.
    if old_keys is None:
        ids, n_old = F.collect_list(member), F.lit(0)
    else:
        cols = [id_col, "key", *payload_cols]
        keys = old_keys.select(*cols, F.lit(True).alias("__old")).unionByName(
            keys.select(*cols, F.lit(False).alias("__old"))
        )
        old = F.col("__old")
        ids = F.concat(
            F.collect_list(F.when(old, member)), F.collect_list(F.when(~old, member))
        )
        n_old = F.count_if(old).cast("int")
    blocks = (
        prune_oversized_blocks(keys, max_block)
        .groupBy("key")
        .agg(ids.alias("ids"), n_old.alias("n_old"))
        # skip blocks with no pair to emit: one member, or no new one
        .filter((F.size("ids") >= 2) & (F.size("ids") > F.col("n_old")))
    )
    # the member at 0-based position i pairs with the positions from
    # max(i + 1, n_old) on: each pair of positions with one new member
    # once. A pair of positions holding the same id (a duplicate row)
    # is no pair.
    start = F.greatest(F.col("i") + 1, F.col("n_old"))
    expanded = blocks.select(
        "ids", "n_old", F.posexplode("ids").alias("i", "a")
    ).select("a", F.explode(F.slice("ids", start + 1, F.size("ids") - start)).alias("b"))
    pairs = expanded.filter(F.col("a") != F.col("b")).select(
        F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")
    )
    a_id = F.col("a.__id") if payload_cols else F.col("a")
    b_id = F.col("b.__id") if payload_cols else F.col("b")
    return pairs.groupBy(a_id.alias("id_a"), b_id.alias("id_b")).agg(
        F.count("*").alias("n_keys"),
        *[F.first(f"a.{c}").alias(f"{c}_a") for c in payload_cols],
        *[F.first(f"b.{c}").alias(f"{c}_b") for c in payload_cols],
    )
