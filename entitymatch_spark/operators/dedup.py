"""Deduplication family for training-data pipelines.

- exact: content-hash groupBy (md5 of normalized text)
- MinHash-LSH: blocking.py signatures + band keys -> verified jaccard
- SimHash: 64-bit signature, computed ENTIRELY JVM-side (no UDF) as a
  per-row ZERO-shuffle aggregate() fold over the token array (signed
  bit sums over xxhash64 bits -> packed long); near-dup candidates via
  4x16-bit band blocking (any pair at hamming distance <= 3 shares at
  least one intact band by pigeonhole over 4 bands), verified with
  bit_count(xor).
- n-gram jaccard: word n-gram shingle sets, array_intersect/union.

All signatures are content-deterministic (hash-seeded, never
partition- or time-dependent) so identical inputs produce identical
dedup decisions at any cluster size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from entitymatch_spark.operators.blocking import (
    candidate_pairs,
    lsh_band_keys,
    minhash_signature,
)


def exact_dedup(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "norm_text"
) -> DataFrame:
    """(id, fingerprint, canonical_id, n_dups): exact-duplicate groups."""
    from pyspark.sql import Window

    d = docs.select(id_col, F.md5(F.col(text_col)).alias("fingerprint"))
    # NULL text is never anyone's duplicate: md5(NULL) is NULL and a
    # window PARTITION BY groups all NULLs into ONE partition, which
    # would elect a canonical doc across unrelated contentless rows and
    # mark the rest for deletion — give each NULL row its own singleton
    # group key instead (the emitted fingerprint stays NULL). 'null:<id>'
    # cannot collide with a real fingerprint (md5 hex has no colon).
    grp = F.coalesce(
        F.col("fingerprint"),
        F.concat(F.lit("null:"), F.col(id_col).cast("string")),
    )
    w = Window.partitionBy(grp)
    return d.select(
        id_col,
        "fingerprint",
        F.min(id_col).over(w).alias("canonical_id"),
        F.count("*").over(w).alias("n_dups"),
    )


def minhash_dedup_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
    num_hashes: int = 64,
    bands: int = 16,
    rows_per_band: int = 4,
    jaccard_threshold: tuple[int, int] | float = 0.7,
    max_block: int = 64,
    seed: int = 42,
) -> DataFrame:
    """Near-dup pairs: LSH candidates verified by exact token-set
    jaccard — through verify_token_jaccard, the module's ONE
    verification gate (integer cross-multiplied threshold, so the
    boundary is exact and cannot drift from curate/decontam)."""
    sigs = minhash_signature(docs, id_col, tokens_col, num_hashes, seed)
    keys = lsh_band_keys(sigs, bands, rows_per_band, id_col, sig_len=num_hashes)
    pairs = candidate_pairs(keys, max_block=max_block, id_col=id_col)
    return verify_token_jaccard(
        pairs.select("id_a", "id_b"),
        docs,
        threshold=jaccard_threshold,
        id_col=id_col,
        tokens_col=tokens_col,
        emit_jaccard=True,
    ).select("id_a", "id_b", "jaccard")


def simhash_signature(
    docs: DataFrame, id_col: str = "doc_id", tokens_col: str = "tokens"
) -> DataFrame:
    """(id, simhash long): 64-bit SimHash of the token multiset.

    bit_i(doc) = 1  iff  sum over tokens of tf * sign(bit_i(xxhash64(tok)))
    is positive — each occurrence contributes ±1 per bit, which sums to
    exactly tf * sign.

    ZERO-shuffle form: a per-row aggregate() fold over the token array
    (zip_with adds each token's 64 signed bit contributions into the
    accumulator), then bitwise packing of the sums. The previous shape
    — explode occurrences + 64-column signed-sum hash aggregate — was
    narrow up to the groupBy but then hash-partitioned one 65-column
    row per document: at 10^12 docs that shuffle alone is ~0.5 PB,
    and it buys nothing because a document's occurrences already live
    in one partition. Locally the two are equal within noise (medians
    2.7s vs 2.9s over alternating rounds of the signature stage alone,
    synthetic corpus, one Spark session) and signatures are
    bit-identical; the fold wins on the shuffle it deletes. The sums
    array is materialized in its own projection so the 64-element
    packing reads it once (CollapseProject keeps the boundary for
    expensive multiply-referenced aliases).

    Docs with no tokens get no signature row (same as the explode-drop
    semantics of the old form).
    """

    def bits(h):
        return F.array(
            *[
                F.when(
                    F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, F.lit(1)
                ).otherwise(F.lit(-1))
                for i in range(64)
            ]
        )

    sums = F.aggregate(
        F.transform(tokens_col, lambda t: F.xxhash64(t)),
        F.array_repeat(F.lit(0), 64),
        lambda acc, h: F.zip_with(acc, bits(h), lambda a, b: a + b),
    )
    sig = None
    for i in range(64):
        bit = F.when(
            F.element_at("s", i + 1) > 0, F.shiftleft(F.lit(1).cast("long"), i)
        ).otherwise(F.lit(0).cast("long"))
        sig = bit if sig is None else sig.bitwiseOR(bit)
    return (
        docs.filter(F.size(tokens_col) > 0)
        .select(F.col(id_col), sums.alias("s"))
        .select(F.col(id_col), sig.alias("simhash"))
    )


def simhash_bits_md5(
    docs: DataFrame, id_col: str = "doc_id", tokens_col: str = "tokens"
) -> DataFrame:
    """(id, bits array<int>, bitstr string): 64-bit SimHash in the
    PORTABLE bit source — bit i of a token comes from two 60-bit md5
    hex chunks ((h1 >> i) & 1 for i < 32, (h2 >> (i-32)) & 1 above) —
    so a relational oracle (DuckDB) reproduces signatures exactly.

    Shape: posting x 64 bit-index rows -> signed tf sums -> per-doc
    ordered bit string. Heavier than the packed 64-column aggregate of
    simhash_signature (posting read fans out x64), so production uses
    the xxhash64 variant; this one exists to value-check the SimHash
    banding/verification path end-to-end.
    """
    tf = (
        docs.select(F.col(id_col), F.explode(tokens_col).alias("token"))
        .groupBy(id_col, "token")
        .agg(F.count("*").alias("tf"))
    )
    h = F.md5(F.col("token"))
    hh = tf.withColumn(
        "h1", F.conv(F.substring(h, 1, 15), 16, 10).cast("long")
    ).withColumn("h2", F.conv(F.substring(h, 17, 15), 16, 10).cast("long"))
    bit = F.expr(
        "CASE WHEN i < 32 THEN shiftright(h1, i) & 1 "
        "ELSE shiftright(h2, i - 32) & 1 END"
    )
    per_bit = (
        hh.withColumn("i", F.explode(F.sequence(F.lit(0), F.lit(63))))
        .withColumn("contrib", F.col("tf") * (2 * bit - 1))
        .groupBy(id_col, "i")
        .agg(F.sum("contrib").alias("s"))
        .withColumn("b", (F.col("s") > 0).cast("int"))
    )
    return (
        per_bit.groupBy(id_col)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "b"))),
                lambda s: s["b"],
            ).alias("bits")
        )
        .withColumn(
            "bitstr",
            F.array_join(
                F.transform("bits", lambda b: b.cast("string")), ""
            ),
        )
    )


def simhash_md5_dedup_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
    max_hamming: int = 3,
    max_block: int = 256,
) -> DataFrame:
    """simhash_dedup_pairs semantics over the portable md5 bit source:
    4x16-bit band blocking (keys = bitstr slices), hamming verify over
    the bit arrays. Value-checked against the DuckDB oracle."""
    sigs = simhash_bits_md5(docs, id_col, tokens_col)
    bands = F.array(
        *[
            F.concat(F.lit(f"sh{k}:"), F.substring("bitstr", k * 16 + 1, 16))
            for k in range(4)
        ]
    )
    keys = sigs.select(F.col(id_col), F.explode(bands).alias("key"))
    pairs = candidate_pairs(keys, max_block=max_block, id_col=id_col).select(
        "id_a", "id_b"
    )
    a = sigs.select(F.col(id_col).alias("id_a"), F.col("bits").alias("ba"))
    b = sigs.select(F.col(id_col).alias("id_b"), F.col("bits").alias("bb"))
    ham = F.expr(
        "aggregate(zip_with(ba, bb, (x, y) -> CASE WHEN x <> y THEN 1 ELSE 0 END),"
        " 0, (acc, v) -> acc + v)"
    )
    return (
        pairs.join(a, "id_a").join(b, "id_b")
        .withColumn("hamming", ham.cast("long"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def simhash_dedup_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
    max_hamming: int = 3,
    max_block: int = 256,
    bands: int = 4,
) -> DataFrame:
    """Near-dup pairs at hamming(simhash) <= max_hamming — EXACT for
    max_hamming <= bands - 1, verified-subset above that.

    Blocking: split the 64-bit signature into ``bands`` equal bands
    (64 must divide evenly); by pigeonhole, any pair within hamming
    distance bands - 1 agrees exactly on >= 1 band, so banding loses
    nothing up to that bound. For max_hamming BEYOND bands - 1 the
    result is a verified SUBSET: every emitted pair truly has
    hamming <= max_hamming (the bit_count(xor) verify is exact), but a
    pair whose differing bits touch every band is never blocked
    together and is silently absent. Recall at (bands=4, h=12) is
    measured against brute force in
    tests/test_dedup_ann_textstats.py::test_simhash_recall_beyond_guarantee.

    Raising ``bands`` extends the guarantee but shortens the band keys
    (64/bands bits), which collapses key cardinality and lets block
    purging eat the blocks — at h=12 a lossless scheme needs 13 bands
    of ~4 bits = 16 distinct values per band, i.e. no blocking power at
    web scale. The subset semantics + verification is the standard
    recall/cost dial (same trade as MinHash band tuning); measured
    subset recall at (bands=4, h=12): 0.23 on the labeled fixture,
    which is why the contract queries call h=3 (the classic 64-bit
    setting, Manku et al. WWW'07).

    Scale note: a 16-bit band key has 65,536 values, so once the corpus
    exceeds ~max_block * 2^16 docs per band, RANDOM collisions alone
    fill every block and purging removes them. Beyond that, shard the
    corpus (dedup within time/domain partitions) or use a wider
    signature (128-bit simhash, 4x32 bands) — the operator is agnostic
    to signature width given a wider ``simhash_signature``.

    Verification: bit_count(xor) — all JVM-side.
    """
    if 64 % bands:
        raise ValueError(f"bands must divide 64, got {bands}")
    width = 64 // bands
    mask = (1 << width) - 1
    # The signature rides through candidate_pairs as an 8-byte PAYLOAD,
    # so the whole plan reads the signature fold exactly ONCE: since the
    # fold became a narrow per-row expression (no exchange), the old
    # join-back verify recomputed it once per join side (3x total — the
    # previous no-persist note here predated the fold and relied on
    # ReusedExchange sharing a shuffle that no longer exists). Measured
    # at sf0.1 (fanned scan, interleaved): join-back 3.9-7.0s vs
    # payload ~1.8s; a persist closes most of the gap (2.3-4.0s) but
    # leaks cached blocks from a lazy operator (ADVICE r2).
    sigs = simhash_signature(docs, id_col, tokens_col)
    band_cols = [
        F.concat(
            F.lit(f"sh{i}:"),
            F.shiftright("simhash", i * width).bitwiseAND(F.lit(mask)).cast("string"),
        )
        for i in range(bands)
    ]
    keys = sigs.select(
        F.col(id_col), "simhash", F.explode(F.array(*band_cols)).alias("key")
    )
    pairs = candidate_pairs(
        keys, max_block=max_block, id_col=id_col, payload_cols=["simhash"]
    )
    return (
        pairs.withColumn(
            "hamming", F.bit_count(F.col("simhash_a").bitwiseXOR(F.col("simhash_b")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def ngram_jaccard_pairs(
    pairs: DataFrame,
    docs: DataFrame,
    n: int = 2,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
) -> DataFrame:
    """pairs + word-n-gram-set jaccard (verification primitive)."""
    from entitymatch_spark.functions.text import ngram_expr

    sets_ = docs.select(
        F.col(id_col), F.array_distinct(ngram_expr(tokens_col, n)).alias("gset")
    )
    a = sets_.select(F.col(id_col).alias("id_a"), F.col("gset").alias("sa"))
    b = sets_.select(F.col(id_col).alias("id_b"), F.col("gset").alias("sb"))
    inter = F.size(F.array_intersect("sa", "sb"))
    union = F.size(F.array_union("sa", "sb"))
    jac = F.when(union == 0, F.lit(0.0)).otherwise(inter / union)
    return pairs.join(a, "id_a").join(b, "id_b").withColumn("jaccard", jac).drop("sa", "sb")


def dedup_survivors(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Materialize the DEDUPLICATED corpus from near-dup pairs.

    The pair-producing family above answers "which docs are near-dups
    of each other"; a training-data pipeline then has to answer "which
    rows do I keep". Near-dup similarity is not transitive, so keeping
    one doc per PAIR under-deletes (A~B, B~C keeps A and C even when
    the chain means one document); the standard resolution (and the
    reference's — clusters are transitive closures of matched pairs,
    ref: EntityMatch/Matcher.cs interpretation merge) is connected
    components over the pair graph, keeping the minimum id of each
    component as its canonical representative.

    Returns the SURVIVING docs (all columns) + ``n_members`` — how many
    corpus docs this survivor stands for (1 for unique docs), so
    downstream sampling can reweight by duplication count.

    Scale: components come from ``connected_components`` (a driver
    finish for a graph under the broadcast bound, the large-star/
    small-star loop above it); the loser set is component members
    minus roots — at web scale that can be a large fraction of the
    corpus, so it is removed with an anti-join on the id (a broadcast
    only when the node map came from the driver finish, never an isin),
    and sizes ride a second equi-join on the root id.
    """
    from entitymatch_spark.operators.clustering import connected_components

    comp = connected_components(pairs, src="id_a", dst="id_b")
    sizes = comp.groupBy("component").agg(F.count("*").alias("n_members"))
    losers = comp.filter(F.col("id") != F.col("component")).select(
        F.col("id").alias(id_col)
    )
    return (
        docs.join(losers, id_col, "left_anti")
        .join(
            sizes.withColumnRenamed("component", id_col), id_col, "left"
        )
        .withColumn("n_members", F.coalesce("n_members", F.lit(1).cast("long")))
    )


def verify_token_jaccard(
    pairs: DataFrame,
    docs_a: DataFrame,
    docs_b: DataFrame | None = None,
    threshold: tuple[int, int] | float = (1, 2),
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
    left_col: str = "id_a",
    right_col: str = "id_b",
    broadcast_right: bool = False,
    emit_jaccard: bool = False,
) -> DataFrame:
    """Keep candidate pairs whose EXACT token-set jaccard clears
    ``threshold`` = (num, den): ``den*|A∩B| >= num*|A∪B|`` — integer
    cross-multiplication, so any SQL oracle agrees on the boundary
    without float division. THE verification step — curation dedup,
    keep-set dedup, and cross-set decontamination all verify here so
    the threshold semantics cannot drift between them.

    ``docs_b`` defaults to ``docs_a`` (self-join dedup);
    ``broadcast_right`` for the cross-set case where the right side is
    tiny (an eval benchmark). Original pair columns pass through."""
    from entitymatch_spark.operators.textstats import coerce_rational

    num, den = coerce_rational(threshold, "verify_token_jaccard threshold")
    ts = F.array_distinct(tokens_col)
    a = docs_a.select(F.col(id_col).alias(left_col), ts.alias("_ts_a"))
    b = (docs_b if docs_b is not None else docs_a).select(
        F.col(id_col).alias(right_col), ts.alias("_ts_b")
    )
    if broadcast_right:
        b = F.broadcast(b)
    inter = F.size(F.array_intersect("_ts_a", "_ts_b"))
    union = F.size("_ts_a") + F.size("_ts_b") - inter
    out = (
        pairs.join(a, left_col)
        .join(b, right_col)
        .filter(den * inter >= num * union)
    )
    if emit_jaccard:
        # the float ratio as a REPORTED feature only — the gate above
        # already decided membership exactly
        out = out.withColumn(
            "jaccard",
            F.when(union == 0, F.lit(0.0)).otherwise(inter / union),
        )
    return out.drop("_ts_a", "_ts_b")


def remove_boilerplate_lines(
    docs: DataFrame,
    min_occurrences: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Cross-corpus boilerplate line removal (the C4 rule: drop every
    occurrence of any line that appears >= ``min_occurrences`` times in
    the whole corpus — navigation bars, cookie banners, footers).

    Returns (id, clean_text, n_lines, n_removed); a doc whose every
    line is boilerplate keeps its row with clean_text = ''. Lines are
    compared as EXACT bytes (callers normalize first if they want
    case/whitespace folding — C4 itself matches stripped lines);
    empty lines are structural and never counted or removed.

    Scale shape: one explode, a map-side-combinable count and the
    anti-join both keyed on md5(line) — a fixed 32-char shuffle key
    regardless of line length — and one per-doc rebuild groupBy. The
    flagged side is count-filtered (only lines ALREADY seen >=
    min_occurrences times), so it is tiny next to the corpus. No UDF
    anywhere; the rebuild preserves original line order via a sorted
    (pos, line) struct array.
    """
    if min_occurrences < 2:
        raise ValueError(
            f"min_occurrences must be >= 2 (got {min_occurrences}): at 1 "
            "every non-empty line is boilerplate and every doc empties"
        )
    # coalesce first: posexplode of a NULL array DROPS the row, so a
    # NULL-text doc would silently vanish from the output instead of
    # coming back as (id, '', 1, 0) like an empty-text doc does
    lines = docs.select(
        F.col(id_col),
        F.posexplode(
            F.split(F.coalesce(F.col(text_col), F.lit("")), "\n", -1)
        ).alias("pos", "line"),
    ).withColumn("k", F.md5("line"))
    flagged = (
        lines.filter(F.col("line") != "")
        .groupBy("k")
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") >= min_occurrences)
        .select("k")
    )
    kept = lines.join(flagged, "k", "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.concat_ws(
            "\n",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
        ).alias("clean_text"),
        F.count("*").alias("__n_kept"),
    )
    totals = lines.groupBy(id_col).agg(F.count("*").alias("n_lines"))
    return (
        totals.join(rebuilt, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            F.col("n_lines"),
            (F.col("n_lines") - F.coalesce("__n_kept", F.lit(0))).alias(
                "n_removed"
            ),
        )
    )

def duplicate_token_spans(
    docs: DataFrame,
    window: int = 50,
    min_occurrences: int = 2,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
) -> DataFrame:
    """Exact-substring duplicate spans (the ExactSubstr rule of Lee et
    al. 2021, "Deduplicating Training Data Makes Language Models
    Better", arXiv:2107.06499): every ``window``-token run that occurs
    >= ``min_occurrences`` times ANYWHERE in the corpus (across docs or
    repeated inside one doc) is a duplicate window; overlapping and
    back-to-back duplicate windows merge into maximal spans.

    Returns (id, span_start, span_end, n_windows) — one row per maximal
    span, token indices 0-based, ``span_end`` exclusive, ``n_windows``
    = duplicate windows merged into the span. Callers strip
    ``tokens[span_start:span_end]`` (or keep one occurrence — the paper
    strips all) to remove verbatim-repeated text that exact- and
    near-dup document dedup both miss: licence blocks, quoted passages,
    templated paragraphs embedded in otherwise-unique pages.

    Scale shape: the window table is one row per token position (the
    posting table's cardinality), keyed by md5 of the window — a fixed
    32-char shuffle key regardless of window width, portable to any SQL
    oracle (same rationale as remove_boilerplate_lines). Duplicate keys
    are count-filtered before the join back, so the dup side is tiny
    next to the corpus. Span merging is a per-doc JVM aggregate() fold
    over the sorted hit positions — ONE shuffle (the groupBy on id), no
    window functions, no UDF: with starts ascending and width fixed, a
    hit at ``s`` extends the open span iff ``s <= last.e``.
    """
    if window < 2:
        raise ValueError(
            f"window must be >= 2 tokens (got {window}): at 1 every "
            "repeated token is a duplicate span"
        )
    if min_occurrences < 2:
        raise ValueError(
            f"min_occurrences must be >= 2 (got {min_occurrences}): at 1 "
            "every window is a duplicate and every doc is one big span"
        )
    # one row per window position; chr(31) (unit separator) joins the
    # slice so tokens containing spaces cannot alias across boundaries
    wins = docs.filter(F.size(tokens_col) >= window).select(
        F.col(id_col),
        F.explode(
            F.expr(
                f"transform(sequence(0, size({tokens_col}) - {window}),"
                f" i -> named_struct('s', i, 'k',"
                f" md5(array_join(slice({tokens_col}, i + 1, {window}),"
                f" chr(31)))))"
            )
        ).alias("w"),
    ).select(id_col, F.col("w.s").alias("s"), F.col("w.k").alias("k"))
    dup = (
        wins.groupBy("k")
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") >= min_occurrences)
        .select("k")
    )
    hits = wins.join(dup, "k").select(id_col, "s")
    per_doc = hits.groupBy(id_col).agg(
        F.sort_array(F.collect_list("s")).alias("ss")
    )
    spans = F.expr(
        f"""
        aggregate(
          ss,
          cast(array() as array<struct<s:int,e:int,n:bigint>>),
          (acc, x) -> if(size(acc) > 0 and x <= element_at(acc, -1).e,
            concat(slice(acc, 1, size(acc) - 1),
                   array(named_struct('s', element_at(acc, -1).s,
                                      'e', x + {window},
                                      'n', element_at(acc, -1).n + 1L))),
            concat(acc, array(named_struct('s', x,
                                           'e', x + {window},
                                           'n', 1L))))
        )
        """
    )
    return (
        per_doc.select(F.col(id_col), F.explode(spans).alias("sp"))
        .select(
            F.col(id_col),
            F.col("sp.s").alias("span_start"),
            F.col("sp.e").alias("span_end"),
            F.col("sp.n").alias("n_windows"),
        )
    )

def strip_duplicate_spans(
    docs: DataFrame,
    spans: DataFrame,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
) -> DataFrame:
    """Apply duplicate_token_spans' verdicts: remove every token inside
    a duplicate span (the paper strips ALL occurrences; dedup keeps the
    corpus-wide window counts below min_occurrences on a rerun).

    Returns every input doc as (id, clean_tokens, n_removed) — docs
    with no spans pass through whole with n_removed = 0.

    Scale shape: spans collapse to one row per doc (groupBy on id, tiny
    output), join back LEFT so clean docs skip the rebuild arithmetic,
    and the strip itself is a JVM filter over (token, index) — no UDF,
    no re-tokenization. Span lists per doc are short (they are maximal,
    disjoint, sorted), so the exists() probe per token is cheap.
    """
    per_doc = spans.groupBy(id_col).agg(
        F.sort_array(
            F.collect_list(F.struct("span_start", "span_end"))
        ).alias("__spans")
    )
    joined = docs.join(per_doc, id_col, "left")
    idx = F.expr(
        f"transform({tokens_col}, (t, i) -> named_struct('t', t, 'i', i))"
    )
    kept = F.filter(
        idx,
        lambda s: ~F.exists(
            F.col("__spans"),
            lambda sp: (s["i"] >= sp["span_start"]) & (s["i"] < sp["span_end"]),
        ),
    )
    clean = F.transform(kept, lambda s: s["t"])
    return joined.select(
        F.col(id_col),
        F.when(F.col("__spans").isNull(), F.col(tokens_col))
        .otherwise(clean)
        .alias("clean_tokens"),
        F.when(F.col("__spans").isNull(), F.lit(0))
        .otherwise(F.size(tokens_col) - F.size(clean))
        .cast("int")
        .alias("n_removed"),
    )
