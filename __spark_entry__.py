"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship end-to-end record-linkage pipeline
(normalize -> posting/IDF -> token+LSH blocking -> Arrow pair scoring ->
connected components) on sf0.001 documents. ``queries()`` /
``oracle_sql()`` cover the operator inventory of SURVEY.md §2 plus the
training-data-pipeline ops (dedup family, ANN, text analysis,
multimodal metadata); each oracle is ANSI SQL DuckDB runs on the same
parquet. Column names and float rounding are aligned on both sides
(the driver hashes values with columns sorted by name).
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_REPO = Path(__file__).resolve().parent
if str(_REPO) not in sys.path:
    sys.path.insert(0, str(_REPO))

# ---------------------------------------------------------------------------
# Shared SQL fragments (DuckDB side). Backslashes are literal in DuckDB
# string literals; 'g' makes regexp_replace global like Spark's.
# ---------------------------------------------------------------------------
# trim charset = functions.text.ASCII_WS (bare DuckDB trim strips
# spaces only; the pinned invariant surface is ASCII whitespace —
# chr(9/10/13/12/11) = \t \n \r \f \x0b)
NORM = (
    r"regexp_replace(lower(trim(text, ' ' || chr(9) || chr(10) || chr(13)"
    r" || chr(12) || chr(11))), '\([^)]*\)', '', 'g')"
)
TOKS = rf"regexp_extract_all({NORM}, '\w+')"

# full-corpus token positions (0-based, matching posexplode)
POS_CTE = f"""
toks AS (SELECT doc_id, {TOKS} AS tk FROM documents),
pos AS (SELECT doc_id, unnest(tk) AS token,
               generate_subscripts(tk, 1) - 1 AS pos FROM toks)
"""

IDF_CTE = """
idf AS (
  SELECT token,
         count(*) AS df,
         greatest(ln(greatest(((SELECT count(*) FROM documents) + 0.5 - count(*))
                              / (count(*) + 0.5), 1e-12)), 0.00001) AS idf
  FROM pos GROUP BY token)
"""

# trigram blocking keys over lang='de' docs, blocks capped at 12
TRI_CTE = f"""
dtoks AS (SELECT doc_id, {TOKS} AS tk FROM documents WHERE lang = 'de'),
dpos AS (SELECT doc_id, unnest(tk) AS t, generate_subscripts(tk, 1) AS p FROM dtoks),
tri AS (SELECT DISTINCT a.doc_id, a.t || ' ' || b.t || ' ' || c.t AS k
        FROM dpos a
        JOIN dpos b ON a.doc_id = b.doc_id AND b.p = a.p + 1
        JOIN dpos c ON a.doc_id = c.doc_id AND c.p = a.p + 2),
ok AS (SELECT k FROM tri GROUP BY k HAVING count(*) <= 12),
cand AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b, count(*) AS n_keys
         FROM tri x JOIN tri y USING (k) JOIN ok USING (k)
         WHERE x.doc_id < y.doc_id GROUP BY 1, 2)
"""

EN_STOPS = ["the", "a", "of", "and", "to", "in", "is", "on", "for", "with"]
SYNONYMS = [
    ("fast", "quick", 0.9),
    ("slow", "sluggish", 0.8),
    ("table", "grid", 0.7),
    ("row", "record", 0.85),
]


def _match_oracle(
    keys_sql: str,
    threshold: float = 0.60,
    kept_where: str = "",
    final_where: str = "",
    final_select: str | None = None,
) -> str:
    """Full-pipeline DuckDB oracle, parameterized by the blocking-key
    CTE (must define ``keys(doc_id, key)``; pos/idf CTEs are in scope)
    and the score threshold. Shared by the token-only and token∪LSH
    pipeline variants and the rethreshold query — the purge / pair
    join / 5-feature scoring / threshold / recursive transitive
    closure body is identical.

    ``kept_where``/``final_where``: survivor filters for the
    remove_docs variant — the purge (okk) stays at ORIGINAL corpus
    block sizes and only block MEMBERSHIP and the final doc set shrink,
    which is exactly the state-deletion contract (a delete never
    resurrects a block purged before it).

    ``final_select``: replaces the default (url_id, cluster_id) tail —
    the ``assigned`` CTE (doc_id, cluster_id incl. singletons) is in
    scope for it (used by the cluster_stats histogram oracle)."""
    tail = (
        final_select
        if final_select is not None
        else f"""SELECT doc_id AS url_id, cluster_id
        FROM assigned {final_where}"""
    )
    return f"""
        WITH RECURSIVE {POS_CTE.strip().rstrip()}, {IDF_CTE.strip()},
        {keys_sql},
        okk AS (SELECT key FROM keys GROUP BY key HAVING count(*) <= 64),
        kept AS (SELECT k.doc_id, k.key FROM keys k JOIN okk USING (key) {kept_where}),
        cand AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
                 FROM kept a JOIN kept b USING (key)
                 WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
        d AS (SELECT doc_id, {NORM} AS norm, {TOKS} AS tk FROM documents),
        w AS (SELECT p.doc_id, p.token, count(*) AS cnt,
                     count(*) * any_value(i.idf) AS w, any_value(i.idf) AS idf
              FROM pos p JOIN idf i USING (token) GROUP BY p.doc_id, p.token),
        nrm AS (SELECT doc_id, sqrt(sum(w * w)) AS nrm, sum(w) AS total
                FROM w GROUP BY 1),
        shr AS (SELECT c.id_a, c.id_b, sum(x.w * y.w) AS dot,
                       sum(least(x.cnt, y.cnt) * x.idf) AS sh
                FROM cand c JOIN w x ON x.doc_id = c.id_a
                JOIN w y ON y.doc_id = c.id_b AND y.token = x.token
                GROUP BY 1, 2),
        feat AS (SELECT c.id_a, c.id_b,
            coalesce(s.dot, 0.0) / (na.nrm * nb.nrm) AS cosine,
            coalesce(s.sh, 0.0) / least(na.total, nb.total) AS containment,
            CASE WHEN len(list_distinct(list_concat(a.tk, b.tk))) = 0 THEN 0.0
                 ELSE len(list_intersect(list_distinct(a.tk), list_distinct(b.tk)))
                      / len(list_distinct(list_concat(a.tk, b.tk))) END AS jaccard,
            CASE WHEN greatest(length(substr(a.norm, 1, 128)), length(substr(b.norm, 1, 128))) = 0 THEN 1.0
                 WHEN levenshtein(substr(a.norm, 1, 128), substr(b.norm, 1, 128)) > 32 THEN 0.0
                 ELSE 1.0 - levenshtein(substr(a.norm, 1, 128), substr(b.norm, 1, 128))
                      / greatest(length(substr(a.norm, 1, 128)), length(substr(b.norm, 1, 128))) END AS lev_sim,
            jaro_winkler_similarity(substr(a.norm, 1, 256), substr(b.norm, 1, 256)) AS jw
          FROM cand c JOIN d a ON a.doc_id = c.id_a JOIN d b ON b.doc_id = c.id_b
          LEFT JOIN shr s ON s.id_a = c.id_a AND s.id_b = c.id_b
          JOIN nrm na ON na.doc_id = c.id_a JOIN nrm nb ON nb.doc_id = c.id_b),
        m AS (SELECT id_a, id_b FROM feat
              WHERE 0.35 * cosine + 0.20 * jw + 0.15 * lev_sim
                    + 0.15 * jaccard + 0.15 * containment >= {threshold}),
        bidir AS (SELECT id_a AS u, id_b AS v FROM m
                  UNION SELECT id_b, id_a FROM m),
        reach(u, v) AS (SELECT u, v FROM bidir
                        UNION
                        SELECT r.u, e.v FROM reach r JOIN bidir e ON r.v = e.u),
        comp AS (SELECT u AS doc_id, least(u, min(v)) AS cluster_id
                 FROM reach GROUP BY u),
        assigned AS (SELECT doc.doc_id,
                            coalesce(c.cluster_id, doc.doc_id) AS cluster_id
                     FROM documents doc LEFT JOIN comp c USING (doc_id))
        {tail}
    """


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _fan(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Fan a small scan out to the session's parallelism.

    Parquet can't split below a row group, and the sandbox sf tables
    are single-row-group files (~0.6 MB at sf0.1) — so every NARROW
    per-row stage downstream (tokenize, MinHash/SimHash folds, vector
    math) would run on ONE core, while the identical plan over a real
    corpus gets thousands of row-group splits and full parallelism.
    Rows × CPU is what these stages cost, not bytes (same failure mode
    as AQE byte-coalescing the pair table — plans/pipeline.py). The
    explicit-count repartition is AQE-stable and the exchange moves
    well under a MB here; at scale the partition count already
    exceeds the threshold and this is a no-op."""
    p = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < p:
        df = df.repartition(p)
    return df


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from entitymatch_spark.functions.text import normalize_text, tokenize

    return _fan(spark, _t(spark, sf_dir, "documents")).select(
        "doc_id", "lang",
        normalize_text("text").alias("norm"),
        tokenize("text").alias("tokens"),
    )


def _posting(spark: SparkSession, sf_dir: str):
    from entitymatch_spark.operators.posting import build_posting

    docs = _docs(spark, sf_dir)
    return docs, build_posting(docs, id_col="doc_id")


def _idf(spark: SparkSession, sf_dir: str):
    from entitymatch_spark.operators.posting import token_idf

    docs, posting = _posting(spark, sf_dir)
    n = _t(spark, sf_dir, "documents").count()
    return docs, posting, token_idf(posting, n_docs=n)


def _pinned_utc(fn):
    """Run the gate with spark.sql.session.timeZone pinned to UTC and
    RESTORE the caller's value on exit (don't leak the pin into every
    query ordered after this one). Safe to restore at return: all the
    tz-sensitive work (string->timestamp casts, sessionize state
    arithmetic, the oracle's epoch agreement) materializes INSIDE the
    call via the memory-sink drain, and the returned DataFrame applies
    only tz-independent ops (unix_micros, round, int filters). Also
    safe for LAZY batch queries (q_sessionize_events): Spark resolves
    session-timezone-dependent expressions (the NTZ->LTZ cast) during
    ANALYSIS, which runs eagerly when the DataFrame is built — inside
    the pin — so the baked zone survives the restore."""
    import functools

    @functools.wraps(fn)
    def wrapper(spark, sf):
        prev = spark.conf.get("spark.sql.session.timeZone")
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        try:
            return fn(spark, sf)
        finally:
            spark.conf.set("spark.sql.session.timeZone", prev)

    return wrapper


def _trigram_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    # THE shingle construction (functions/text.ngram_expr) — a local
    # copy here could silently drift from the operators' grams
    from entitymatch_spark.functions.text import ngram_expr

    docs = _docs(spark, sf_dir).filter(F.col("lang") == "de")
    return docs.select(
        "doc_id", F.explode(ngram_expr("tokens", 3)).alias("key")
    ).distinct()


def _tri_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from entitymatch_spark.operators.blocking import candidate_pairs

    return candidate_pairs(_trigram_keys(spark, sf_dir), max_block=12)


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _fan(spark, _t(spark, sf_dir, "embeddings")).select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("e")
    )


_COS = (
    "aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0D, (acc, v) -> acc + v) / "
    "(sqrt(aggregate({a}, 0D, (acc, v) -> acc + v * v)) * "
    " sqrt(aggregate({b}, 0D, (acc, v) -> acc + v * v)))"
)


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def q_scan_documents(spark, sf):  # S1: projected, filtered scan
    return (
        _t(spark, sf, "documents")
        .filter(F.col("n_chars") >= 200)
        .select("doc_id", "lang", "source", "n_chars")
    )


def q_scan_dedup(spark, sf):  # S2: scan + dropDuplicates (DBUtil.cs:36-44)
    return _t(spark, sf, "documents").select("lang", "source").dropDuplicates()


def q_normalize_text(spark, sf):  # P1 (Language.cs:25-35)
    return _docs(spark, sf).select("doc_id", "norm")


def q_tokenize_text(spark, sf):  # P2 (Language.cs:18-23)
    d = _docs(spark, sf)
    return d.select(
        "doc_id",
        F.array_join("tokens", " ").alias("toks"),
        F.size("tokens").cast("long").alias("n_tokens"),
    )


def q_tokenize_offsets(spark, sf):  # P2 offsets facet (Interfaces.cs:9-25)
    """Token + char offsets into the normalized text — the reference's
    Token(value, index, length) contract (ref: Language.cs:18-23,
    Interfaces.cs:9-25), via the Arrow-batched offsets UDF."""
    from entitymatch_spark.functions.text import tokenize_with_offsets

    d = _t(spark, sf, "documents")
    out = d.select("doc_id", F.explode(tokenize_with_offsets("text")).alias("t"))
    return out.select(
        "doc_id",
        F.col("t.token").alias("token"),
        F.col("t.start").cast("long").alias("start"),
        F.col("t.length").cast("long").alias("length"),
    )


def q_build_posting(spark, sf):  # J1 (EntitiesDictionary.cs:39-62)
    _, posting = _posting(spark, sf)
    return posting.select("doc_id", F.col("pos").cast("long").alias("pos"), "token")


def q_token_idf(spark, sf):  # A1 (EntitiesDictionary.cs:69-79)
    _, _, idf = _idf(spark, sf)
    return idf.select("token", "df", F.round("idf", 6).alias("idf"))


def q_doc_total_weight(spark, sf):  # A2 (EntitiesDictionary.cs:85-96)
    from entitymatch_spark.operators.posting import total_token_weight

    _, posting, idf = _idf(spark, sf)
    tw = total_token_weight(posting, idf, "doc_id")
    return tw.select("doc_id", F.round("total_weight", 6).alias("total_weight"))


def q_word_freq(spark, sf):  # A6 (Obsolete.cs:581-615)
    _, posting = _posting(spark, sf)
    return posting.groupBy("token").agg(
        F.countDistinct("doc_id").alias("n_docs"), F.count("*").alias("n_occ")
    )


def q_histogram_count(spark, sf):  # A4 (Histogram.cs:16-30)
    return _t(spark, sf, "events").groupBy("event_type").agg(F.count("*").alias("n"))


def q_histogram_summary(spark, sf):  # A5 (analyze/Program.cs:84-88)
    return (
        _t(spark, sf, "events")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.countDistinct("user_id").alias("n_users"),
            F.round(F.min("value"), 2).alias("min_value"),
            F.round(F.max("value"), 2).alias("max_value"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )


def q_histogram_threshold(spark, sf):  # P5 (analyze/Program.cs:91)
    return (
        _t(spark, sf, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= 20)
    )


def q_histogram_topn(spark, sf):  # W2 (analyze/Program.cs:89-97)
    return (
        _t(spark, sf, "events")
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("event_type"))
        .limit(5)
    )


def q_topk_per_group(spark, sf):  # W1 (Recognizer.cs:24-46)
    from pyspark.sql import Window

    w = Window.partitionBy("event_type").orderBy(F.desc("value"), F.asc("event_id"))
    return (
        _t(spark, sf, "events")
        .withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 3)
        .select("event_type", "event_id", "value", "rnk")
    )


# P8 (Util.cs:166-242): TryParseNumericAttrValue splits "3.5 baths"
# into a leading number part AND a trailing unit part — one regex, two
# capture groups. The attribute string is built from integer-derived
# pieces (event_id mod constants + event_type) so both engines format
# it identically (no float->string round-trip ambiguity).
_NUM_UNIT_RE = r"^([0-9]*\.?[0-9]+)\s*(.*)$"


def q_parse_numeric_unit(spark, sf):  # P8 (Util.cs:166-242)
    ev = _t(spark, sf, "events")
    attr = F.concat(
        (F.col("event_id") % 97).cast("string"), F.lit("."),
        (F.col("event_id") % 7).cast("string"), F.lit(" "),
        F.col("event_type"),
    )
    return ev.select(
        "event_id",
        F.regexp_extract("props", r"([0-9]+)", 1).cast("long").alias("k_num"),
        F.regexp_extract(attr, _NUM_UNIT_RE, 1).alias("num_part"),
        F.regexp_extract(attr, _NUM_UNIT_RE, 2).alias("unit_part"),
        F.regexp_extract(attr, _NUM_UNIT_RE, 1).cast("double").alias("num_val"),
    )


def q_spelling_alternatives(spark, sf):  # J6 (Alternatives.cs:88-116)
    from entitymatch_spark.operators.alternatives import spelling_alternatives

    d = _docs(spark, sf)
    probes = (
        d.filter(F.col("lang") == "de")
        .select(F.explode("tokens").alias("token"))
        .distinct()
    )
    vocab = (
        d.filter(F.col("lang") == "en")
        .select(F.explode("tokens").alias("token"))
        .distinct()
    )
    out = spelling_alternatives(probes, vocab, max_edit=1)
    return out.select(
        "token", "alt_token", F.col("distance").cast("long").alias("distance"),
        F.round("weight", 6).alias("weight"),
    )


def q_synonym_expand(spark, sf):  # J7 (Alternatives.cs:23-61)
    from entitymatch_spark.operators.alternatives import synonym_expand

    toks = (
        _docs(spark, sf).select(F.explode("tokens").alias("token")).distinct()
    )
    syn = spark.createDataFrame(SYNONYMS, "token string, alt_token string, weight double")
    return synonym_expand(toks, syn).select("token", "alt_token", "weight")


def q_candidate_pairs(spark, sf):  # J2 + blocking (M2)
    return _tri_pairs(spark, sf).select("id_a", "id_b", "n_keys")


def q_extend_spans(spark, sf):  # J4+A3+F2 (Recognizer.cs:197-300,55-64)
    from entitymatch_spark.operators.posting import total_token_weight
    from entitymatch_spark.operators.spans import extend_spans

    docs, posting, idf = _idf(spark, sf)
    q = (
        posting.join(docs.filter(F.col("doc_id") == 0).select("doc_id"), "doc_id")
        .select(F.lit(0).alias("query_id"), F.col("pos").alias("qpos"), "token")
    )
    fr_ids = docs.filter((F.col("lang") == "fr") & (F.col("doc_id") != 0)).select("doc_id")
    ent_posting = posting.join(fr_ids, "doc_id").withColumnRenamed("doc_id", "entity_id")
    totals = total_token_weight(
        posting.join(fr_ids, "doc_id"), idf, "doc_id"
    ).withColumnRenamed("doc_id", "entity_id")
    spans = extend_spans(q, ent_posting, idf, totals)
    return (
        spans.filter(F.col("length") >= 2)
        .select(
            "entity_id",
            F.col("start").cast("long").alias("span_start"),
            F.col("length").cast("long").alias("span_len"),
            F.round("score", 6).alias("score"),
        )
    )


def q_topk_spans(spark, sf):  # W1 (Recognizer.cs:24-46): top-k spans per start
    from pyspark.sql import Window

    spans = q_extend_spans(spark, sf)
    w = Window.partitionBy("span_start").orderBy(F.desc("score"), F.asc("entity_id"))
    return (
        spans.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 2)
        .select("entity_id", "span_start", "span_len", "score", "rnk")
    )


def q_interpret_matches(spark, sf):  # flagship: Matcher.Interpretations
    """The reference's flagship entry point end to end (ref:
    Matcher.cs:43-51, REPL defaults TestMatcher/Program.cs:39-40):
    tokenize -> spelling alternatives (edit<=1, exact short-circuit,
    weight 1/(1+d)) -> synonym replacement (multiplicative weights) ->
    posting probe with weight = altWeight x IDF -> maximal adjacent-run
    spans -> score = weight/entity_total, threshold 0.25 -> top-1 per
    (query, type, start). Entities = even en docs, queries = odd en
    docs, so near-dup corpus clusters yield real matched spans."""
    from entitymatch_spark.plans.matcher import build_matcher_index, interpret

    d = _fan(spark, _t(spark, sf, "documents")).filter(F.col("lang") == "en")
    ents = d.filter(F.col("doc_id") % 2 == 0).select(
        F.col("doc_id").alias("entity_id"),
        F.col("source").alias("type"),
        F.col("text").alias("phrase"),
    )
    qs = d.filter(F.col("doc_id") % 2 == 1).select(
        F.col("doc_id").alias("query_id"), "text"
    )
    idx = build_matcher_index(ents)
    syn = spark.createDataFrame(
        SYNONYMS, "token string, alt_token string, weight double"
    )
    out = interpret(qs, idx, synonyms=syn)  # k=1, threshold=0.25 (REPL defaults)
    return out.select(
        "query_id",
        "entity_id",
        "type",
        F.col("start").cast("long").alias("span_start"),
        F.col("length").cast("long").alias("span_len"),
        F.round("score", 6).alias("score"),
    )


def q_candidate_pairs_alt(spark, sf):  # J3 UnionSorted (Recognizer.cs:135-194)
    """Alternative-expanded posting probe: query doc 0's tokens plus
    their spelling alternatives probe the fr-docs posting; duplicate
    (entity, pos) hits keep the MAX alternative weight — the weighted
    posting merge of the reference."""
    from entitymatch_spark.operators.alternatives import spelling_alternatives

    docs, posting, idf = _idf(spark, sf)
    q0 = (
        posting.join(docs.filter(F.col("doc_id") == 0).select("doc_id"), "doc_id")
        .select("token")
        .distinct()
    )
    fr_ids = docs.filter((F.col("lang") == "fr") & (F.col("doc_id") != 0)).select("doc_id")
    fr_posting = posting.join(fr_ids, "doc_id")
    fr_vocab = fr_posting.select("token").distinct()
    alts = spelling_alternatives(q0, fr_vocab, max_edit=1)
    probe = alts.select(F.col("alt_token").alias("token"), "weight")
    return (
        probe.join(fr_posting, "token")
        .groupBy(F.col("doc_id").alias("entity_id"), F.col("pos").cast("long").alias("epos"))
        .agg(F.round(F.max("weight"), 6).alias("weight"))
    )


def q_tfidf_cosine_pairs(spark, sf):  # F2 generalization, relational form
    # Single-pass profile form (operators/posting.py): the classic
    # weights-CTE shape references the weight table 3x and the pair
    # table 2x, and Spark re-executes the upstream per reference
    # (DuckDB materializes the CTE once — the oracle SQL keeps that
    # shape). Profiles + explode-sides evaluate each subtree once.
    from entitymatch_spark.operators.posting import (
        tfidf_cosine_for_pairs, tfidf_doc_profiles,
    )

    _, posting, idf = _idf(spark, sf)
    pairs = _tri_pairs(spark, sf).select("id_a", "id_b")
    profiles = tfidf_doc_profiles(posting, idf)
    out = tfidf_cosine_for_pairs(pairs, profiles)
    return out.select("id_a", "id_b", F.round("cosine", 4).alias("cosine"))


def q_score_pairs(spark, sf):  # M3 features (JW/lev/jaccard blend)
    from entitymatch_spark.operators.scoring import score_pairs

    docs = _docs(spark, sf).withColumnRenamed("norm", "norm_text")
    pairs = _tri_pairs(spark, sf).select("id_a", "id_b")
    scored = score_pairs(
        pairs, docs, spark.sparkContext.broadcast({}),
        weights={"jaccard": 0.4, "lev_sim": 0.3, "jw": 0.3},
    )
    return scored.select(
        "id_a", "id_b",
        F.round("jaccard", 4).alias("jaccard"),
        F.round("lev_sim", 4).alias("lev_sim"),
        F.round("jw", 4).alias("jw"),
        F.round("score", 4).alias("score"),
    )


def q_dedup_exact(spark, sf):  # exact dedup via content hash
    from entitymatch_spark.operators.dedup import exact_dedup

    return exact_dedup(_docs(spark, sf), text_col="norm")


def q_dedup_ngram_jaccard(spark, sf):  # word-bigram jaccard over candidates
    from entitymatch_spark.functions.text import ngram_expr

    d = _docs(spark, sf)
    sets = d.select(
        "doc_id", F.array_distinct(ngram_expr("tokens", 2)).alias("bset")
    )
    pairs = _tri_pairs(spark, sf).select("id_a", "id_b")
    a = sets.select(F.col("doc_id").alias("id_a"), F.col("bset").alias("sa"))
    b = sets.select(F.col("doc_id").alias("id_b"), F.col("bset").alias("sb"))
    inter = F.size(F.array_intersect("sa", "sb"))
    union = F.size(F.array_union("sa", "sb"))
    return (
        pairs.join(a, "id_a").join(b, "id_b")
        .select(
            "id_a", "id_b",
            F.round(F.when(union == 0, 0.0).otherwise(inter / union), 4).alias("jaccard"),
        )
    )


def q_ann_cosine_topk(spark, sf):  # brute-force cosine top-k
    from pyspark.sql import Window

    e = _emb(spark, sf)
    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("e").alias("ea")
    )
    n = e.select(F.col("vec_id").alias("nid"), F.col("e").alias("eb"))
    pairs = q.crossJoin(n).filter(F.col("qid") != F.col("nid"))
    cos = F.expr(_COS.format(a="ea", b="eb"))
    w = Window.partitionBy("qid").orderBy(F.desc("c"), F.asc("nid"))
    return (
        pairs.withColumn("c", cos)
        .withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 5)
        .select("qid", "nid", F.round("c", 4).alias("cosine"), "rnk")
    )


def q_dedup_embedding(spark, sf):  # embedding-cosine near-dup pairs
    e = _emb(spark, sf)
    a = e.select(F.col("vec_id").alias("id_a"), F.col("label"), F.col("e").alias("ea"))
    b = e.select(F.col("vec_id").alias("id_b"), F.col("label"), F.col("e").alias("eb"))
    cos = F.expr(_COS.format(a="ea", b="eb"))
    return (
        a.join(b, "label")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("c", cos)
        .filter(F.col("c") >= 0.35)
        .select("id_a", "id_b", "label", F.round("c", 4).alias("cosine"))
    )


def q_lang_id(spark, sf):  # stopword-vote language heuristic
    from entitymatch_spark.operators.textstats import lang_id

    return lang_id(_docs(spark, sf))


def q_quality_score(spark, sf):  # length/stopword/uniqueness quality
    from entitymatch_spark.operators.textstats import quality_score

    q = quality_score(_docs(spark, sf))
    return q.select(
        "doc_id", "n_tokens",
        F.round("uniq_ratio", 4).alias("uniq_ratio"),
        F.round("stop_ratio", 4).alias("stop_ratio"),
        F.round("mean_tok_len", 4).alias("mean_tok_len"),
        F.round("quality", 4).alias("quality"),
    )


def q_token_count(spark, sf):
    from entitymatch_spark.operators.textstats import token_count

    return token_count(_docs(spark, sf))


def q_doc_fingerprint(spark, sf):  # content fingerprint (normalization-invariant)
    from entitymatch_spark.operators.textstats import content_fingerprint

    return content_fingerprint(_docs(spark, sf))


SCAN_PHRASES = ["table scan", "hash join", "group by", "sort merge", "the fast"]
# autocomplete-style typed prefixes (fuzzy: <=1 edit against token prefixes)
PREFIX_QUERIES = ["tab", "quer", "windo", "jion", "fi"]


def q_multi_pattern_first(spark, sf):  # J8 FindFirst (StringSearch.cs:362-442)
    from entitymatch_spark.operators.textsearch import multi_pattern_scan

    d = _docs(spark, sf).withColumnRenamed("norm", "norm_text")
    return multi_pattern_scan(
        d, SCAN_PHRASES, text_col="norm_text", first_only=True
    ).select("doc_id", "phrase", F.col("start").cast("long").alias("start"))


def q_multi_pattern_count(spark, sf):  # J8 FindAll (StringSearch.cs:362-442)
    from entitymatch_spark.operators.textsearch import multi_pattern_scan

    d = _docs(spark, sf).withColumnRenamed("norm", "norm_text")
    return (
        multi_pattern_scan(d, SCAN_PHRASES, text_col="norm_text", first_only=False)
        .groupBy("doc_id", "phrase")
        .agg(F.count("*").alias("n_hits"))
    )


def q_multi_pattern_any(spark, sf):  # J8 ContainsAny (StringSearch.cs:362-442)
    from entitymatch_spark.operators.textsearch import contains_any

    d = _docs(spark, sf).withColumnRenamed("norm", "norm_text")
    return contains_any(d, SCAN_PHRASES, text_col="norm_text")


def _en_vocab(spark, sf):
    return (
        _docs(spark, sf)
        .filter(F.col("lang") == "en")
        .select(F.explode("tokens").alias("token"))
        .distinct()
    )


def q_prefix_lookup(spark, sf):  # prefixcheck (EditDistance.cs:174-253)
    from entitymatch_spark.operators.autocomplete import prefix_edit_lookup

    queries = spark.createDataFrame([(p,) for p in PREFIX_QUERIES], "query string")
    out = prefix_edit_lookup(queries, _en_vocab(spark, sf), max_edit=1)
    return out.select(
        "query", "token",
        F.col("prefix_len").cast("long").alias("prefix_len"),
        F.col("distance").cast("long").alias("distance"),
    )


def q_autocomplete_topl(spark, sf):  # W4 + Trie.cs:277-335 completions
    from entitymatch_spark.operators.autocomplete import complete_topl

    docs = _docs(spark, sf)
    en_ids = docs.filter(F.col("lang") == "en").select("doc_id")
    posting = docs.select("doc_id", F.explode("tokens").alias("token"))
    vocab_w = (
        posting.join(en_ids, "doc_id").groupBy("token").agg(F.count("*").alias("df"))
    )
    queries = spark.createDataFrame([(p,) for p in PREFIX_QUERIES], "query string")
    out = complete_topl(queries, vocab_w, max_edit=1, top_l=5, weight_col="df")
    return out.select(
        "query", "token",
        F.col("distance").cast("long").alias("distance"),
        "df",
        F.col("rnk").cast("long").alias("rnk"),
    )


def q_embed_hash(spark, sf):  # S6 embedding source stand-in (hashing trick)
    """Scalar-row shape (doc_id, slot, val): the driver's canonicalizer
    sorts/hashes column values and cannot hash an array<double> column,
    so the contract query posexplodes the vector — one row per vector
    slot. Library users get the array shape from hash_embed directly."""
    from entitymatch_spark.operators.embed import hash_embed

    out = hash_embed(_docs(spark, sf), dim=32)
    return out.select(
        "doc_id", F.posexplode("embedding").alias("slot", "val")
    ).select(
        "doc_id",
        F.col("slot").cast("long").alias("slot"),
        F.round("val", 6).alias("val"),
    )


def q_token_rejoin(spark, sf):  # P9 ConcatSubString (Util.cs:112-132)
    d = _docs(spark, sf)
    return d.select(
        "doc_id",
        F.array_join(F.slice("tokens", 1, 5), " ").alias("head5"),
        F.array_join(F.slice("tokens", 3, 4), " ").alias("mid4"),
    )


def q_char_class_stats(spark, sf):  # P7 char-class predicates (Util.cs:148-163)
    d = _docs(spark, sf)
    all_digit = F.size(F.expr("filter(tokens, t -> t rlike '^[0-9]+$')"))
    all_alpha = F.size(F.expr("filter(tokens, t -> t rlike '^[a-z]+$')"))
    has_digit = F.size(F.expr("filter(tokens, t -> t rlike '[0-9]')"))
    return d.select(
        "doc_id",
        all_digit.cast("long").alias("n_all_digit"),
        all_alpha.cast("long").alias("n_all_alpha"),
        has_digit.cast("long").alias("n_has_digit"),
    )


def q_json_export(spark, sf):  # S5 phrases.json sink shape (analyze/Program.cs:98-132)
    d = _t(spark, sf, "documents")
    return d.select(
        "doc_id",
        F.to_json(F.struct(F.col("lang"), F.col("n_chars"))).alias("js"),
    )


def q_set_ops(spark, sf):  # J5 (Obsolete.cs:4-363)
    d = _docs(spark, sf)
    es = d.filter(F.col("lang") == "es").select(F.explode("tokens").alias("token")).distinct()
    zh = d.filter(F.col("lang") == "zh").select(F.explode("tokens").alias("token")).distinct()
    return es.intersect(zh)


EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def q_rollup_events(spark, sf):  # grouping-sets breadth (free from Catalyst)
    ev = _t(spark, sf, "events")
    return (
        ev.rollup("event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("total"))
    )


@_pinned_utc
def q_sessionize_events(spark, sf):  # gap-based sessionization (lag + cumsum)
    from pyspark.sql import Window

    ev = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # parquet gives TIMESTAMP_NTZ; the NTZ->LTZ cast resolves the
    # SESSION time zone (at plan analysis, i.e. inside the pin) — a DST
    # zone would shift one inter-event gap across a transition and flip
    # a 30-min session split vs the oracle's naive epoch_us
    us = F.unix_micros(F.col("ts").cast("timestamp"))  # micros, matches epoch_us
    gap = us - F.lag(us).over(w)
    new_sess = F.when(gap.isNull() | (gap > 1800 * 1_000_000), 1).otherwise(0)
    sess = ev.withColumn(
        "session_idx",
        F.sum(new_sess).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        sess.groupBy("user_id", "session_idx")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 4).alias("total"))
    )


@_pinned_utc
def q_range_join_events(spark, sf):
    """Interval-overlap range join (operators/rangejoin.py): user
    sessions (the sessionize gap-and-island intervals, half-open
    [first_us, last_us + 1)) joined to global incident windows (error
    events with value >= 15, [ts, ts + 15 min)) they overlap — "which
    sessions were exposed to which incidents". Binned equi-join on
    1-hour epoch bins + exact overlap filter + first-overlapping-bin
    dedup (no distinct shuffle). 6,676 pairs from 9,549 sessions x
    1,491 incidents at sf0.01."""
    from pyspark.sql import Window

    from entitymatch_spark.operators.rangejoin import interval_overlap_join

    ev = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    gap = us - F.lag(us).over(w)
    new_sess = F.when(gap.isNull() | (gap > 1800 * 1_000_000), 1).otherwise(0)
    sess = (
        ev.withColumn("us", us)
        .withColumn(
            "session_idx",
            F.sum(new_sess).over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy("user_id", "session_idx")
        .agg(
            F.min("us").alias("s_start"),
            (F.max("us") + 1).alias("s_end"),
            F.count("*").alias("n_events"),
        )
    )
    inc = (
        ev.filter((F.col("event_type") == "error") & (F.col("value") >= 15))
        .select(
            F.col("event_id").alias("incident_id"),
            F.unix_micros(F.col("ts").cast("timestamp")).alias("i_start"),
            (
                F.unix_micros(F.col("ts").cast("timestamp"))
                + 900 * 1_000_000
            ).alias("i_end"),
        )
    )
    out = interval_overlap_join(
        sess, inc, "s_start", "s_end", "i_start", "i_end",
        bin_width=3600 * 1_000_000,
    )
    return out.select("user_id", "session_idx", "n_events", "incident_id")


def q_unigram_nll(spark, sf):
    """CCNet-style unigram-LM quality score (operators/lm.py): every
    document scored by the mean negative log-likelihood of its tokens
    under a Laplace-smoothed (alpha=1) corpus unigram model, bucketed
    head/middle/tail on fixed nll cutoffs — the scalable core of the
    perplexity filter (Wenzek et al. 2020). Model side is
    vocabulary-sized and broadcast; the only shuffle is the per-doc
    aggregate. Bucket is computed from the ROUNDED score on both
    engines so the emitted value and the label can never disagree."""
    from entitymatch_spark.operators.lm import ppl_bucket_expr, unigram_nll

    _, posting = _posting(spark, sf)
    scored = unigram_nll(posting, alpha=1.0).withColumn(
        "avg_nll", F.round("avg_nll", 6)
    )
    return scored.select(
        "doc_id",
        "n_tokens",
        "avg_nll",
        ppl_bucket_expr("avg_nll", (3.4, 3.41)).alias("ppl_bucket"),
    )


def q_bigram_nll(spark, sf):
    """Stupid-backoff bigram scoring (operators/lm.py, Brants et al.
    2007 — the distributed web-scale LM): per-document mean negative
    log score with the bigram table pruned to count >= 2, so singleton
    bigrams exercise the backoff-to-unigram path (self-scored corpora
    otherwise never back off). One lag window on the per-doc partition
    the final aggregate needs anyway; unigram sides broadcast."""
    from entitymatch_spark.operators.lm import bigram_backoff_nll

    _, posting = _posting(spark, sf)
    scored = bigram_backoff_nll(posting, backoff=0.4, min_count=2)
    return scored.select(
        "doc_id", "n_tokens", F.round("avg_nll", 6).alias("avg_nll")
    )


def q_token_drift(spark, sf):
    """Corpus-drift report (operators/drift.py): the en slice vs the
    de slice of documents as two snapshots — per-token counts,
    smoothed log-likelihood ratio, and Jensen-Shannon contribution
    over the union vocabulary. Both sides collapse to vocab-sized
    count tables before the full outer join, so nothing corpus-sized
    moves. Expression trees are identical on both engines (counts are
    exact ints), so the rounded doubles agree bit-for-bit."""
    from entitymatch_spark.operators.drift import token_drift

    docs = _docs(spark, sf)

    def post(lang: str):
        return docs.filter(F.col("lang") == lang).select(
            "doc_id", F.posexplode("tokens").alias("pos", "token")
        )

    d = token_drift(post("en"), post("de"), alpha=0.5)
    return d.select(
        "token",
        "n_a",
        "n_b",
        F.round("log_ratio", 6).alias("log_ratio"),
        F.round("jsd_term", 9).alias("jsd_term"),
    )


def q_domain_cap(spark, sf):
    """Per-domain cap (plans/curate.py cap_per_group): keep at most 15
    documents per source, preferring longer docs (n_chars desc, doc_id
    tiebreak) — the corpus-balancing step that stops the most-crawled
    domain from dominating the mix. Rank-limit pushed into the window
    (WindowGroupLimit), state per task bounded by the cap."""
    from entitymatch_spark.plans.curate import cap_per_group

    docs = _t(spark, sf, "documents")
    kept = cap_per_group(
        docs, "source", 15, [F.desc("n_chars"), F.asc("doc_id")]
    )
    return kept.select("doc_id", "source", "n_chars")


def q_stratified_sample(spark, sf):
    """Deterministic stratified sampling (plans/curate.py): keep 1/2 of
    en, 1/4 of de, 1/10 of fr documents by exact rational rates on the
    shared md5 decision hash — rebalancing without a global count;
    unlisted strata drop. Zero shuffle, parallelism-invariant."""
    from entitymatch_spark.plans.curate import stratified_sample

    docs = _t(spark, sf, "documents")
    kept = stratified_sample(
        docs, "lang", {"en": (1, 2), "de": (1, 4), "fr": (1, 10)}
    )
    return kept.select("doc_id", "lang", "source")


def q_length_quantiles(spark, sf):
    """Per-language doc-length profile (textstats.group_quantiles):
    exact p10/p50/p90 + min/max of n_chars — the distribution read a
    curation run takes before picking thresholds. Exact percentile
    both engines (same linear interpolation); the operator's
    exact=False approx_percentile form is the huge-group scale path."""
    from entitymatch_spark.operators.textstats import group_quantiles

    docs = _t(spark, sf, "documents")
    q = group_quantiles(docs, "n_chars", "lang", (0.1, 0.5, 0.9))
    return q.select(
        "lang",
        "n",
        F.round("p10", 6).alias("p10"),
        F.round("p50", 6).alias("p50"),
        F.round("p90", 6).alias("p90"),
        "min_value",
        "max_value",
    )


def q_pivot_events(spark, sf):  # pivot as conditional aggregation
    ev = _t(spark, sf, "events")
    aggs = [
        F.count(F.when(F.col("event_type") == t, 1)).alias(f"n_{t}")
        for t in EVENT_TYPES
    ]
    return ev.groupBy("user_id").agg(*aggs)


def q_asof_events(spark, sf):  # as-of (most-recent-prior) join via window
    """Each click event annotated with the user's most recent PRIOR
    purchase value — the classic as-of join, expressed as an
    ignore-nulls last_value window over a strict total order (ts,
    event_id), no self-join needed."""
    from pyspark.sql import Window

    ev = _t(spark, sf, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    pval = F.when(F.col("event_type") == "purchase", F.col("value"))
    out = ev.withColumn("prior_purchase", F.last(pval, ignorenulls=True).over(w))
    return (
        out.filter(F.col("event_type") == "click")
        .select(
            "user_id", "event_id",
            F.round("prior_purchase", 4).alias("prior_purchase"),
        )
    )


def q_cube_events(spark, sf):  # grouping-sets breadth: CUBE over 2 dims
    ev = _t(spark, sf, "events").withColumn("hi_value", F.col("value") >= 50)
    return ev.cube("event_type", "hi_value").agg(
        F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("total")
    )


def q_agg_lineitem(spark, sf):  # relational agg baseline (TPC-H Q1 shape)
    li = _t(spark, sf, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc"),
            F.count("*").alias("n"),
        )
    )


# ---- rows-only (non-SQL-expressible: hashing internals / iterative) -------

def q_dedup_minhash_lsh(spark, sf):
    from entitymatch_spark.operators.blocking import (
        candidate_pairs, lsh_band_keys, minhash_signature,
    )

    # repartition: the sf parquet arrives as one file/partition and the
    # 64-expression MinHash is the expensive upstream — spread it over
    # the executors before the (single-pass) block grouping. No persist:
    # candidate_pairs consumes the key table exactly once.
    d = _docs(spark, sf).repartition(spark.sparkContext.defaultParallelism, "doc_id")
    sigs = minhash_signature(d, id_col="doc_id", tokens_col="tokens")
    keys = lsh_band_keys(sigs, bands=16, rows_per_band=4)
    return candidate_pairs(keys, max_block=32).select("id_a", "id_b", "n_keys")


def q_dedup_minhash_oracle(spark, sf):
    """MinHash-LSH blocking in the PORTABLE hash variant: md5-derived
    token hashes (md5_token_hash) and textually concatenated band keys,
    so DuckDB reproduces signatures, band keys, block purging, and the
    pair join bit-for-bit — a FULL value oracle for the LSH blocking
    path (the xxhash64 production variant above stays rows-only and
    keeps the compact shuffle keys)."""
    from entitymatch_spark.operators.blocking import (
        candidate_pairs, lsh_band_keys, minhash_signature,
    )

    d = _docs(spark, sf).repartition(spark.sparkContext.defaultParallelism, "doc_id")
    sigs = minhash_signature(d, num_hashes=16, token_hash="md5")
    keys = lsh_band_keys(sigs, bands=4, rows_per_band=4, band_hash="concat")
    return candidate_pairs(keys, max_block=32).select("id_a", "id_b", "n_keys")


def q_dedup_simhash(spark, sf):
    """max_hamming=3 with the default 4 bands — INSIDE the pigeonhole
    guarantee (lossless for h <= bands-1), the classic 64-bit SimHash
    dedup setting (Manku et al., WWW'07 use k=3). Earlier rounds called
    h=12 here, which 4-band blocking only covers at measured recall
    0.23 (tests/test_dedup_ann_textstats.py::
    test_simhash_recall_beyond_guarantee); the operator still accepts
    h > bands-1 with documented verified-subset semantics."""
    from entitymatch_spark.operators.dedup import simhash_dedup_pairs

    return simhash_dedup_pairs(_docs(spark, sf), max_hamming=3)


def q_dedup_simhash_oracle(spark, sf):
    """SimHash dedup in the PORTABLE bit source (md5 hex chunks), so
    DuckDB reproduces signatures, 4x16 band keys, purge, and the
    hamming verify bit-for-bit — a full value oracle for the SimHash
    path (the packed xxhash64 production variant stays rows-only).
    h=3: inside the 4-band pigeonhole guarantee (see q_dedup_simhash)."""
    from entitymatch_spark.operators.dedup import simhash_md5_dedup_pairs

    return simhash_md5_dedup_pairs(_docs(spark, sf), max_hamming=3)


def q_dedup_survivors(spark, sf):
    """Dedup MATERIALIZATION — the keep-set decision a training-data
    pipeline actually ships, not just the near-dup pair list: MinHash-
    LSH blocking (portable md5 variant so the oracle reproduces the
    keys bit-for-bit) -> exact token-set jaccard verify at >= 0.5
    (integer cross-multiplied form, 2*|A∩B| >= |A∪B|, so Spark and
    DuckDB agree without float division) -> connected components over
    verified pairs (near-dup similarity is NOT transitive; pairwise
    keep-one under-deletes chains) -> keep the min-id representative
    per duplicate cluster. Output: surviving doc ids + n_members (how
    many corpus docs each survivor stands for — the reweighting count
    for downstream sampling)."""
    from entitymatch_spark.operators.blocking import (
        candidate_pairs, lsh_band_keys, minhash_signature,
    )
    from entitymatch_spark.operators.dedup import dedup_survivors

    from entitymatch_spark.operators.dedup import verify_token_jaccard

    d = _docs(spark, sf).repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    sigs = minhash_signature(d, num_hashes=16, token_hash="md5")
    keys = lsh_band_keys(sigs, bands=4, rows_per_band=4, band_hash="concat")
    cand = candidate_pairs(keys, max_block=32)
    ver = verify_token_jaccard(cand, d).select("id_a", "id_b")
    return dedup_survivors(
        _t(spark, sf, "documents").select("doc_id"), ver
    ).select("doc_id", "n_members")


def q_curate_corpus(spark, sf):
    """One-call corpus curation (plans/curate.py): quality gate at the
    RATIONAL threshold 11/20 = 0.55 (integer cross-multiplication via
    quality_at_least, so docs sitting exactly on the boundary agree
    between engines — no float dodging) -> near-dup dedup over the
    FILTERED pool (portable md5/concat LSH chain + integer jaccard
    verify + transitive closure + min-id keep) -> deterministic md5
    sampling keeping 70% of survivors. The composed keep-set decision
    a training run ships, value-checked end-to-end stage by stage in
    one DuckDB query."""
    from entitymatch_spark.plans.curate import CurateConfig, curate

    cfg = CurateConfig(
        quality_min=(11, 20),
        sample_keep=7000,
        token_hash="md5",
        band_hash="concat",
    )
    docs = _fan(spark, _t(spark, sf, "documents")).select("doc_id", "text")
    return curate(docs, cfg).withColumn("quality", F.round("quality", 4))


def q_decontam_report(spark, sf):
    """Benchmark decontamination audit (operators/decontam.py): corpus
    docs sharing >= 2 distinct word 3-grams with the benchmark split
    (every 50th doc stands in for an eval set). Benchmark gram set is
    broadcast; the corpus probe is explode -> broadcast semi-join ->
    per-doc count — one shuffle total (the final id groupBy)."""
    from entitymatch_spark.operators.decontam import contamination_report

    d = _docs(spark, sf)
    bench = d.filter(F.col("doc_id") % 50 == 0)
    corpus = d.filter(F.col("doc_id") % 50 != 0)
    return contamination_report(corpus, bench, n=3, min_hits=2)


def q_split_assign(spark, sf):
    """Deterministic train/val/test assignment (plans/curate.py
    split_assign): cumulative md5-bucket label per doc, 90/5/5.
    Content-hash, so the label is stable across parallelism, reruns,
    and corpus growth (no val->train leakage as the corpus grows)."""
    from entitymatch_spark.plans.curate import split_assign

    return split_assign(_t(spark, sf, "documents").select("doc_id")).select(
        "doc_id", "split"
    )


def q_repetition_signals(spark, sf):
    """Gopher/RefinedWeb repetition quality signals
    (operators/textstats.py repetition_signals): top-token, top-bigram,
    and duplicate-bigram occupancy per doc — the crawl-spam /
    boilerplate filters a curation pass runs beside quality_score."""
    from entitymatch_spark.operators.textstats import repetition_signals

    out = repetition_signals(_docs(spark, sf), tokens_col="tokens")
    return out.select(
        "doc_id", "n_tokens",
        F.round("top_token_frac", 6).alias("top_token_frac"),
        "n_bigrams",
        F.round("top_bigram_frac", 6).alias("top_bigram_frac"),
        F.round("dup_bigram_frac", 6).alias("dup_bigram_frac"),
    )


def q_redact_pii(spark, sf):
    """PII scrub (operators/pii.py): emails / IPv4 / phone-shaped
    numbers masked with typed placeholders + per-category audit counts.
    The corpus carries no PII, so the query plants deterministic
    doc_id-derived contact strings (same construction in the oracle)
    and redacts them — the masking itself is what is value-checked."""
    from entitymatch_spark.operators.pii import redact_pii

    d = _t(spark, sf, "documents").select(
        "doc_id",
        F.concat(
            F.substring("text", 1, 80),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or +44 20 7946 0958 at 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".7"),
        ).alias("text"),
    )
    return redact_pii(d)


def q_dedup_boilerplate(spark, sf):
    """Cross-corpus boilerplate line removal (the C4 rule,
    operators/dedup.py remove_boilerplate_lines): every occurrence of a
    line recurring >= 3 times corpus-wide is dropped, order preserved,
    fully-boilerplate docs kept with empty clean_text. The fixture's
    word-soup text has no newlines, so the query first wraps each doc's
    normalized tokens into deterministic 8-token lines (same reshaping
    in the oracle) — duplicate docs then share exact lines, giving the
    rule a real removal signal (56 line occurrences at sf0.01)."""
    from entitymatch_spark.functions.text import tokenize
    from entitymatch_spark.operators.dedup import remove_boilerplate_lines

    d = (
        _t(spark, sf, "documents")
        .select("doc_id", tokenize("text").alias("tk"))
        .filter(F.size("tk") > 0)
    )
    wrapped = d.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.expr(
                "transform(sequence(0, cast(ceil(size(tk) / 8.0) as int) - 1),"
                " i -> concat_ws(' ', slice(tk, i * 8 + 1, 8)))"
            ),
        ).alias("text"),
    )
    out = remove_boilerplate_lines(wrapped, min_occurrences=3)
    return out.select(
        "doc_id",
        "clean_text",
        F.col("n_lines").cast("long").alias("n_lines"),
        F.col("n_removed").cast("long").alias("n_removed"),
    )


def q_dedup_substring(spark, sf):
    """Exact-substring duplicate spans (the ExactSubstr rule of Lee et
    al. 2021, operators/dedup.py duplicate_token_spans): maximal token
    spans covered by 10-token windows that occur >= 2 times corpus-wide
    (across docs or repeated within one doc). This is the dedup mode
    document-level exact/MinHash/SimHash all miss — verbatim-repeated
    passages embedded in otherwise-unique pages. One row per maximal
    span (0-based token indices, end exclusive) with the number of
    duplicate windows merged into it. 47 spans / 2007 window hits at
    sf0.01."""
    from entitymatch_spark.operators.dedup import duplicate_token_spans

    d = _docs(spark, sf).select("doc_id", "tokens")
    return duplicate_token_spans(d, window=10, min_occurrences=2)


def q_domain_stats(spark, sf):
    """Domain-level curation rollup (the whole-domain filter stage of a
    web pipeline: drop or downweight sources whose aggregate quality /
    language mix is bad, before touching individual docs). Composes
    quality_score + lang_id per doc, then aggregates per source.

    Cross-engine float discipline: per-doc quality is scaled to an
    integer (round(q*10000)) BEFORE summing — integer sums are
    order-independent, so the Spark partial-agg order and DuckDB's
    order produce identical means; each reported ratio is ONE final
    division of identical operands."""
    from entitymatch_spark.functions.text import tokenize
    from entitymatch_spark.operators.textstats import (
        pred_lang_expr,
        quality_expr,
    )

    docs = _fan(spark, _t(spark, sf, "documents")).select(
        "doc_id", "source", tokenize("text").alias("tokens")
    )
    # one narrow per-row projection — quality and language are pure
    # column expressions over the same tokens, so the ONLY shuffle in
    # this query is the source groupBy (no doc_id joins)
    j = docs.filter(F.size("tokens") > 0).select(
        "source",
        F.size("tokens").cast("long").alias("n_tokens"),
        quality_expr("tokens").alias("quality"),
        pred_lang_expr("tokens").alias("pred_lang"),
    )
    n = F.count("*")
    return j.groupBy("source").agg(
        n.alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.round(
            F.sum(F.round(F.col("quality") * 10000).cast("long"))
            / (10000.0 * n),
            6,
        ).alias("mean_quality"),
        F.round(
            F.sum(F.when(F.col("pred_lang") == "en", 1).otherwise(0)) / n, 6
        ).alias("en_share"),
    )


def q_latest_snapshot(spark, sf):
    """Crawl-ingest head (operators/urlnorm.py): canonicalize URLs
    (fragment, host case, default port, tracking params, param order)
    and keep the freshest crawl per canonical URL. The corpus carries
    no url/ts columns, so the query plants deterministic doc_id-derived
    ones (same construction in the oracle): messy-cased host, :443
    port, utm param, unsorted params, fragment — every rule fires.
    Every 7th-ish row is scheme-less or protocol-relative (real crawl
    noise): those must PASS THROUGH canonicalization unchanged. Every
    11th row embeds a redirect-style 'u=HTTP://...' query value: on
    schemed rows the split must still take the FIRST '://' (keying by
    the embedded target would wrongly merge the redirect page with the
    target page), and on scheme-less rows the embedded '://' must NOT
    defeat the pass-through (it is not in scheme position)."""
    from entitymatch_spark.operators.urlnorm import latest_snapshot

    scheme = (
        F.when(F.col("doc_id") % 7 == 3, F.lit(""))
        .when(F.col("doc_id") % 7 == 5, F.lit("//"))
        .otherwise(F.lit("HTTPS://"))
    )
    embed = F.when(
        F.col("doc_id") % 11 == 0, F.lit("&u=HTTP://Embed.example/X")
    ).otherwise(F.lit(""))
    pages = _t(spark, sf, "documents").select(
        "doc_id",
        F.concat(
            scheme,
            F.lit("WWW."),
            F.col("source"),
            F.lit(".Example.com:443/Page/"),
            (F.col("doc_id") % 97).cast("string"),
            F.lit("?utm_source=feed&b=2&a="),
            (F.col("doc_id") % 5).cast("string"),
            embed,
            F.lit("#frag"),
        ).alias("url"),
        ((F.col("doc_id") * 37) % 101).alias("warc_ts"),
    )
    return latest_snapshot(pages, tiebreak_col="doc_id").select(
        "canonical_url", "doc_id", "warc_ts"
    )


def q_decontam_fuzzy(spark, sf):
    """Fuzzy decontamination (operators/decontam.py
    fuzzy_contamination_report): corpus docs near-duplicating any
    benchmark doc via cross-set MinHash-LSH (portable md5/concat
    variant) + exact jaccard >= 0.5 verify — catches paraphrased eval
    leakage that exact n-gram overlap misses. Benchmark side broadcast;
    corpus rows never shuffle on the band key."""
    from entitymatch_spark.operators.decontam import (
        fuzzy_contamination_report,
    )

    d = _docs(spark, sf)
    bench = d.filter(F.col("doc_id") % 50 == 0)
    corpus = d.filter(F.col("doc_id") % 50 != 0)
    return fuzzy_contamination_report(
        corpus, bench, token_hash="md5", band_hash="concat"
    )


def q_winnowing_fingerprints(spark, sf):
    from entitymatch_spark.operators.textstats import winnowing_fingerprints

    return winnowing_fingerprints(_docs(spark, sf), k=4, window=5)


def q_ann_lsh_topk(spark, sf):
    from entitymatch_spark.operators.ann import rp_lsh_topk

    e = _t(spark, sf, "embeddings")
    q = e.filter(F.col("vec_id") < 10)
    out = rp_lsh_topk(q, e, dim=64, k=5, n_planes=8, n_tables=8)
    return out.select("qid", "nid", F.round("cosine", 4).alias("cosine"), "rnk")


def q_ann_lsh_oracle(spark, sf):
    """Random-hyperplane ANN in the PORTABLE variant: md5-derived
    integer plane components, relational explode-join-agg dot products,
    sign-bit bucket keys — DuckDB reproduces buckets, candidates, and
    the exact rerank, value-checking the ANN LSH path end-to-end (the
    gaussian/numpy production variant above stays rows-only)."""
    from entitymatch_spark.operators.ann import rp_lsh_md5_topk

    e = _t(spark, sf, "embeddings")
    q = e.filter(F.col("vec_id") < 10)
    out = rp_lsh_md5_topk(q, e, dim=64, k=5, n_planes=8, n_tables=8)
    return out.select("qid", "nid", F.round("cosine", 4).alias("cosine"), "rnk")


def q_ann_ivf_topk(spark, sf):
    """IVF ANN with deterministic data-row centroids (vec_id < 8) —
    every step is relational, so unlike the seeded-hyperplane LSH
    variant this one is fully DuckDB-oracle-checkable."""
    from entitymatch_spark.operators.ann import ivf_topk

    e = _t(spark, sf, "embeddings")
    cents = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cent_vec")
    )
    q = e.filter(F.col("vec_id") < 10)
    out = ivf_topk(q, e, cents, k=5, nprobe=2)
    return out.select("qid", "nid", F.round("cosine", 4).alias("cosine"), "rnk")


def q_media_features(spark, sf):
    from entitymatch_spark.operators.multimodal import extract_media_features

    media = _t(spark, sf, "documents").select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.encode("text", "utf-8").alias("payload"),
        F.lit("image").alias("media_type"),
    )
    return extract_media_features(media)


def q_token_count_bpe(spark, sf):
    from entitymatch_spark.functions.text import normalize_text
    from entitymatch_spark.operators.textstats import token_count_bpe

    d = _t(spark, sf, "documents").select(
        "doc_id", normalize_text("text").alias("norm_text")
    )
    return token_count_bpe(d)


def q_media_frames(spark, sf):
    """Frame-sampling plumbing over binary payloads. The stub's frame
    count is sha256-derived, which DuckDB can reproduce — so the row
    multiplication (one row per sampled frame) is value-checked."""
    from entitymatch_spark.operators.multimodal import sample_frames

    media = _t(spark, sf, "documents").select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.encode("text", "utf-8").alias("payload"),
    )
    out = sample_frames(media, every_ms=1000, max_frames=8)
    return out.select("doc_id", "frame_idx", "frame_ts_ms", "decode_status")


def q_match_clusters(spark, sf):
    from entitymatch_spark.plans.pipeline import MatchConfig, match_pipeline

    pages = _t(spark, sf, "documents").select(
        F.col("doc_id").alias("url"), F.col("text")
    )
    res = match_pipeline(pages, MatchConfig(id_col="url", text_col="text"))
    return res.clusters.select(
        F.col("doc_id").alias("url_id"), F.col("cluster_id")
    )


def q_match_clusters_token(spark, sf):
    """Full pipeline, token blocking only (no LSH) — every stage of the
    blocking -> scoring -> transitive-clustering flow is DuckDB-
    reproducible, so this one is VALUE-checked end-to-end (the LSH
    variant above is rows-only: xxhash64-seeded MinHash has no DuckDB
    equivalent)."""
    from entitymatch_spark.plans.pipeline import MatchConfig, match_pipeline

    pages = _t(spark, sf, "documents").select(
        F.col("doc_id").alias("url"), F.col("text")
    )
    cfg = MatchConfig(use_lsh=False, cache=False, id_col="url", text_col="text")
    res = match_pipeline(pages, cfg)
    return res.clusters.select(
        F.col("doc_id").alias("url_id"), F.col("cluster_id")
    )


def q_match_clusters_lsh(spark, sf):
    """The FULL flagship pipeline WITH MinHash-LSH blocking, in the
    portable hash variant (md5 token hash, concat band keys, 16
    hashes / 4x4 bands): token keys ∪ LSH band keys -> purge ->
    pairs -> 5-feature blended scoring -> threshold -> transitive
    closure, every stage reproduced by the DuckDB oracle — the
    complete north-star pipeline value-checked end-to-end including
    the LSH leg (match_clusters above keeps the production xxhash64
    LSH and stays rows-only)."""
    from entitymatch_spark.plans.pipeline import MatchConfig, match_pipeline

    pages = _t(spark, sf, "documents").select(
        F.col("doc_id").alias("url"), F.col("text")
    )
    cfg = MatchConfig(
        use_lsh=True, cache=False, id_col="url", text_col="text",
        num_hashes=16, bands=4, rows_per_band=4,
        minhash_token_hash="md5", lsh_band_hash="concat",
    )
    res = match_pipeline(pages, cfg)
    return res.clusters.select(
        F.col("doc_id").alias("url_id"), F.col("cluster_id")
    )


def q_incremental_match(spark, sf):
    """Batch-incremental growth == full recompute, value-checked: split
    the corpus 2:1, run the full portable-LSH pipeline on the base
    two-thirds, then incremental_match the held-out batch
    (plans/incremental.py — only pairs touching the batch are scored,
    only clusters a new edge reaches are re-clustered). The oracle is
    the FULL-RECOMPUTE closure over the whole corpus (same SQL as
    match_clusters_lsh), so a green row proves the incremental path
    reproduces the from-scratch result bit-for-bit under the shared
    frozen IDF dictionary."""
    from entitymatch_spark.operators.posting import build_posting, token_idf
    from entitymatch_spark.plans.incremental import incremental_match, initial_state
    from entitymatch_spark.plans.pipeline import MatchConfig, prepare_docs

    pages = _t(spark, sf, "documents").select(
        F.col("doc_id").alias("url"), F.col("text")
    )
    cfg = MatchConfig(
        use_lsh=True, cache=False, id_col="url", text_col="text",
        num_hashes=16, bands=4, rows_per_band=4,
        minhash_token_hash="md5", lsh_band_hash="concat",
    )
    base = pages.filter(F.col("url") % 3 != 0)
    batch = pages.filter(F.col("url") % 3 == 0)
    # frozen dictionary over the corpus snapshot (cheap aggregate; the
    # exactness contract — see plans/incremental.py module docstring)
    docs_union = prepare_docs(pages, cfg)
    idf = token_idf(
        build_posting(docs_union, id_col="doc_id"), n_docs=docs_union.count()
    )
    st = initial_state(base, cfg, idf=idf)
    res = incremental_match(st, batch)
    return res.state.clusters.select(
        F.col("doc_id").alias("url_id"), F.col("cluster_id")
    )


def _drain_stream_to_table(spark, out_df, prefix: str) -> DataFrame:
    """Run a bounded streaming DataFrame to completion (memory sink,
    processAllAvailable) and return the materialized batch table. The
    uuid-suffixed sink name keeps re-runs in one session independent."""
    import uuid

    name = f"{prefix}_{uuid.uuid4().hex[:10]}"
    q = (
        out_df.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        # stop on the failure path too — otherwise the caller's cleanup
        # rmtree()s the replay dir under a still-live stream and the
        # secondary FileNotFound errors mask the root cause
        q.stop()
    return spark.table(name)


@_pinned_utc
def q_stream_sessionize(spark, sf):
    """STANDING VALUE GATE for the stateful streaming layer: the events
    table replayed as a REAL file stream (3 time-ordered micro-batches,
    maxFilesPerTrigger=1) through sessionize_stream — per-user state in
    applyInPandasWithState crossing micro-batch boundaries, idle
    sessions flushed by EVENT-TIME timeout. A far-future sentinel user
    in the final micro-batch advances the watermark so every real
    session closes; the DuckDB oracle is the batch gap-and-island
    sessionization, so a green row value-proves the custom stateful
    operator end-to-end (the surface where round-4's review found the
    silent-zero-match class of bug). The single-task orderBy/chunking
    here is the REPLAY HARNESS, not the operator — at scale the stream
    arrives from Kafka/files already in arrival order."""
    import datetime
    import os
    import shutil
    import tempfile

    from pyspark.sql import Window

    from entitymatch_spark.streaming.stateful import sessionize_stream

    # exactness contract with epoch_us() in the oracle (package sessions
    # already run UTC; the driver's session is pinned by @_pinned_utc)
    ev = (
        _t(spark, sf, "events")
        .select(
            "event_id",
            "user_id",
            F.col("ts").cast("timestamp").alias("ts"),
            "value",
        )
    )
    agg = ev.agg(
        F.max("ts").alias("mx"), F.max("user_id").alias("mu"),
        F.count("*").alias("n"),
    ).collect()[0]
    max_ts, n = agg["mx"], agg["n"]
    # sentinel user = max(user_id)+1: fixture-proof (never collides with
    # a real user, whatever id range the table uses)
    sentinel_uid = int(agg["mu"]) + 1
    # 3 time-ordered chunks -> 3 micro-batches (in-order arrival, so the
    # stream's running-max `last` equals the batch lag(ts)); sentinel
    # chunk last, 10 days past max(ts), to flush all real sessions
    # event_id makes the sort key UNIQUE: each chunk write is its own
    # job re-evaluating this window, and row_number over a tied key
    # could rank differently per job — duplicating or dropping the tied
    # row at a chunk boundary. A total order makes every re-evaluation
    # identical. (In-order arrival only needs ts-major order; the
    # within-ts tiebreak is free to be anything deterministic.)
    ranked = ev.withColumn(
        "_rn",
        F.row_number().over(Window.orderBy("ts", "user_id", "event_id")) - 1,
    ).drop("event_id")
    d = tempfile.mkdtemp(prefix="em_stream_sess_")
    try:
        for i in range(3):
            chunk = ranked.filter(
                (F.col("_rn") >= i * n // 3) & (F.col("_rn") < (i + 1) * n // 3)
            ).drop("_rn")
            p = os.path.join(d, f"chunk-{i}")
            chunk.coalesce(1).write.mode("overwrite").parquet(p)
        sentinel_ts = max_ts + datetime.timedelta(days=10)
        spark.createDataFrame(
            [(sentinel_uid, sentinel_ts, 0.0)],
            "user_id long, ts timestamp, value double",
        ).coalesce(1).write.mode("overwrite").parquet(os.path.join(d, "chunk-3"))
        for i in range(4):  # FileStreamSource orders by mtime
            root = Path(d) / f"chunk-{i}"
            for f in root.rglob("*.parquet"):
                os.utime(f, (1_700_000_000 + i, 1_700_000_000 + i))
        stream = (
            spark.readStream.schema("user_id long, ts timestamp, value double")
            .option("maxFilesPerTrigger", "1")
            .parquet(d + "/*")
        )
        out = _drain_stream_to_table(
            spark,
            sessionize_stream(stream, gap_minutes=30, watermark="2 hours"),
            "stream_sess",
        )
    finally:
        # the memory sink holds the rows in the driver; the replay files
        # are consumed — don't leak a corpus copy per verification run
        shutil.rmtree(d, ignore_errors=True)
    return out.filter(F.col("user_id") != sentinel_uid).select(
        "user_id",
        F.unix_micros("session_start").alias("start_us"),
        F.unix_micros("session_end").alias("end_us"),
        F.col("n_events").cast("long").alias("n_events"),
        # 4 decimals is tie-safe HERE (unlike stream_match's containment,
        # which needed 6): event values are 2-decimal, so a session's
        # TRUE total is a 2-decimal number — at least 5e-5 from any
        # 4-decimal rounding boundary, vs ~1e-12 of summation-order
        # float noise between the stream's running sum and the oracle's
        F.round("total", 4).alias("total"),
    )


@_pinned_utc
def q_stream_match(spark, sf):
    """STANDING VALUE GATE for the streaming matcher: the held-out third
    of the corpus (doc_id % 3 == 0) arrives as a real file stream and is
    scored against the indexed two-thirds by streaming/incremental.py's
    incremental_match — stream-side blocking keys (rare-token broadcast
    membership + per-row MinHash band expressions), stream-static
    equi-joins against the PURGED static key table, stateful pair dedup,
    and the batch Arrow scorer. Portable md5/concat hashes so the DuckDB
    oracle rebuilds the identical candidate set and 5-feature blend in
    pure SQL under the STATIC-corpus IDF dictionary (unseen stream
    tokens at the 1e-5 default — the coalesce in the oracle's w CTE)."""
    import shutil
    import tempfile

    from entitymatch_spark.operators.blocking import prune_oversized_blocks
    from entitymatch_spark.operators.posting import build_posting, token_idf
    from entitymatch_spark.plans.pipeline import (
        MatchConfig,
        blocking_keys,
        prepare_docs,
    )
    from entitymatch_spark.streaming.incremental import incremental_match

    pages = _t(spark, sf, "documents").select(
        F.col("doc_id").alias("url"), F.col("text")
    )
    cfg = MatchConfig(
        use_lsh=True, cache=False, id_col="url", text_col="text",
        num_hashes=16, bands=4, rows_per_band=4,
        minhash_token_hash="md5", lsh_band_hash="concat",
    )
    static_pages = pages.filter(F.col("url") % 3 != 0)
    arrivals = pages.filter(F.col("url") % 3 == 0)
    docs = prepare_docs(static_pages, cfg)
    idf = token_idf(build_posting(docs), n_docs=docs.count())
    keys = prune_oversized_blocks(blocking_keys(docs, idf, cfg), cfg.max_block)
    d = tempfile.mkdtemp(prefix="em_stream_match_")
    try:
        arrivals.write.mode("overwrite").parquet(d)
        stream = spark.readStream.schema(arrivals.schema).parquet(d)
        scored = incremental_match(stream, docs, keys, idf, cfg)
        out = _drain_stream_to_table(spark, scored, "stream_match")
    finally:
        shutil.rmtree(d, ignore_errors=True)  # rows live in the memory sink
    # containment rounds at 6 (not 4) decimals: when every token of the
    # smaller doc carries one idf value the ratio is an exact small
    # dyadic rational (29/32 = 0.90625, ...) — a 4-decimal HALF tie that
    # summation-order float noise tips differently per engine; at 6
    # decimals those points are exactly representable, no tie
    return out.select(
        "id_a", "id_b",
        F.round("cosine", 4).alias("cosine"),
        F.round("containment", 6).alias("containment"),
        F.round("jaccard", 4).alias("jaccard"),
        F.round("lev_sim", 4).alias("lev_sim"),
        F.round("jw", 4).alias("jw"),
        F.round("score", 4).alias("score"),
    )


def q_rethreshold_clusters(spark, sf):
    """Post-hoc recalibration WITHOUT rescoring: the token-only
    pipeline runs at its calibrated threshold (0.60), then the stored
    scored-pair table is re-cut at 0.70 and re-clustered with one
    connected-components pass (plans/incremental.py rethreshold — no
    blocking, no Arrow scorer). The oracle is the FULL-RECOMPUTE
    closure at 0.70, so a green row value-proves that recalibration
    over the persisted candidate-pair state equals a from-scratch run
    at the new threshold."""
    from entitymatch_spark.plans.incremental import initial_state, rethreshold
    from entitymatch_spark.plans.pipeline import MatchConfig

    pages = _t(spark, sf, "documents").select(
        F.col("doc_id").alias("url"), F.col("text")
    )
    cfg = MatchConfig(use_lsh=False, cache=False, id_col="url", text_col="text")
    st = initial_state(pages, cfg)
    out = rethreshold(st, threshold=0.70)
    return out.clusters.select(
        F.col("doc_id").alias("url_id"), F.col("cluster_id")
    )


def q_remove_docs(spark, sf):
    """State deletion WITHOUT rescoring, value-checked: build the full
    token-only state over the corpus, delete every doc_id % 5 == 0
    (plans/incremental.py remove_docs — pairs touching the deleted
    docs retire from the stored scored table, only clusters that lost
    a member re-cluster, cluster ids re-anchor to the new min member).
    The oracle is the full closure over the SURVIVORS with blocks
    purged at original corpus size — the state-deletion contract (a
    delete never resurrects a block purged before it)."""
    from entitymatch_spark.plans.incremental import initial_state, remove_docs
    from entitymatch_spark.plans.pipeline import MatchConfig

    pages = _t(spark, sf, "documents").select(
        F.col("doc_id").alias("url"), F.col("text")
    )
    cfg = MatchConfig(use_lsh=False, cache=False, id_col="url", text_col="text")
    st = initial_state(pages, cfg)
    out = remove_docs(st, pages.filter(F.col("url") % 5 == 0).select("url"))
    return out.clusters.select(
        F.col("doc_id").alias("url_id"), F.col("cluster_id")
    )


def q_upsert_pages(spark, sf):
    """Re-crawl upsert, value-checked: build the token-only state over
    the corpus, then upsert every doc_id % 7 == 0 with IDENTICAL text
    (the nightly same-url-fresher-crawl no-op). The old rows retire
    (docs/keys/scored pairs), the batch matches back in, and the final
    clusters must land bit-for-bit on the plain full-recompute closure
    — proving retire + re-match composes to identity when content is
    unchanged (content-moved upserts are pytest-checked against a full
    recompute in tests/test_incremental_batch.py)."""
    from entitymatch_spark.plans.incremental import initial_state, upsert_pages
    from entitymatch_spark.plans.pipeline import MatchConfig

    pages = _t(spark, sf, "documents").select(
        F.col("doc_id").alias("url"), F.col("text")
    )
    cfg = MatchConfig(use_lsh=False, cache=False, id_col="url", text_col="text")
    st = initial_state(pages, cfg)
    res = upsert_pages(st, pages.filter(F.col("url") % 7 == 0))
    return res.state.clusters.select(
        F.col("doc_id").alias("url_id"), F.col("cluster_id")
    )


def q_cluster_stats(spark, sf):
    """Post-run observability (operators/evaluate.py cluster_stats):
    cluster-size histogram over the token-only pipeline's clusters —
    how many entities the corpus collapsed into, the singleton share,
    and whether a giant component formed (the web-scale symptom of an
    over-permissive threshold or a boilerplate key). The oracle runs
    the full closure and aggregates the same histogram."""
    from entitymatch_spark.operators.evaluate import cluster_stats
    from entitymatch_spark.plans.pipeline import MatchConfig, match_pipeline

    pages = _t(spark, sf, "documents").select(
        F.col("doc_id").alias("url"), F.col("text")
    )
    cfg = MatchConfig(use_lsh=False, cache=False, id_col="url", text_col="text")
    res = match_pipeline(pages, cfg)
    return cluster_stats(res.clusters)


def q_blocking_stats(spark, sf):
    """Blocking observability (operators/evaluate.py): per key family
    (token vs LSH band), block counts, purge counts at the max_block
    cap, and the exact pre-dedup candidate-pair volume the surviving
    blocks generate — the dial-tuning numbers an operator reads before
    paying for a scoring run. Portable hash variant so the oracle
    reproduces the key table bit-for-bit."""
    from entitymatch_spark.operators.blocking import (
        lsh_band_keys,
        minhash_signature,
        token_blocking_keys_from_docs,
    )
    from entitymatch_spark.operators.evaluate import blocking_stats
    from entitymatch_spark.operators.posting import build_posting, token_idf
    from entitymatch_spark.plans.pipeline import MatchConfig, prepare_docs

    pages = _t(spark, sf, "documents").select(
        F.col("doc_id").alias("url"), F.col("text")
    )
    cfg = MatchConfig(cache=False, id_col="url", text_col="text")
    docs = prepare_docs(pages, cfg)
    idf = token_idf(build_posting(docs, id_col="doc_id"), n_docs=docs.count())
    keys = token_blocking_keys_from_docs(docs, idf, min_idf=1.0).unionByName(
        lsh_band_keys(
            minhash_signature(
                docs, num_hashes=16, seed=cfg.seed, token_hash="md5"
            ),
            bands=4, rows_per_band=4, band_hash="concat",
        )
    )
    return blocking_stats(keys, max_block=64)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: end-to-end record linkage on sf0.001 documents."""
    from entitymatch_spark.session import ensure_workers_can_import

    ensure_workers_can_import(spark)
    return q_match_clusters(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    def wrap(fn):
        def inner(spark, sf_dir):
            from entitymatch_spark.session import ensure_workers_can_import

            ensure_workers_can_import(spark)
            return fn(spark, sf_dir)

        return inner

    qs = {
        # ORDERING CONTRACT: the driver verifies the FIRST ~50 entries
        # per round. Round-5 rotation (VERDICT r4 ask #1, final round):
        # flagship pipeline first (always verified), then the queries
        # that are NEW or CHANGED this round (the two streaming standing
        # gates; curate_corpus whose oracle gained the explicit n>0
        # guard; redact_pii which gained the custom_rules seam; the
        # closing session's dedup_boilerplate, the ExactSubstr
        # duplicate-span query dedup_substring, the binned range join
        # range_join_events, and the unigram-LM perplexity filter
        # unigram_nll), then the 27 queries
        # whose last driver row is r3 (rotated past the r4 cap,
        # unchanged since), then the most load-bearing r4-green rows up
        # to the cap. The ~30 entries past the cap are ALL r4 hash-green
        # and unchanged this round, so at close every registry query has
        # a green driver row in r4 ∪ r5 — no query's last driver
        # verification is more than one round old.
        # ---- flagship (always verified) ----
        "match_clusters_token": q_match_clusters_token,
        "match_clusters_lsh": q_match_clusters_lsh,
        "match_clusters": q_match_clusters,
        "incremental_match": q_incremental_match,
        # ---- NEW round 5: streaming standing value gates ----
        "stream_sessionize": q_stream_sessionize,
        "stream_match": q_stream_match,
        # ---- touched round 5 (oracle guard / extension seam) ----
        "curate_corpus": q_curate_corpus,
        "redact_pii": q_redact_pii,
        # ---- NEW closing session: C4 boilerplate-line removal ----
        "dedup_boilerplate": q_dedup_boilerplate,
        # ---- NEW closing session: ExactSubstr duplicate spans ----
        "dedup_substring": q_dedup_substring,
        # ---- NEW continuation session: binned range join ----
        "range_join_events": q_range_join_events,
        # ---- NEW continuation session: unigram-LM perplexity filter ----
        "unigram_nll": q_unigram_nll,
        # ---- NEW continuation session: stupid-backoff bigram LM ----
        "bigram_nll": q_bigram_nll,
        # ---- NEW continuation session: corpus drift report ----
        "token_drift": q_token_drift,
        # ---- NEW continuation session: corpus-balancing policies ----
        "domain_cap": q_domain_cap,
        "stratified_sample": q_stratified_sample,
        # ---- NEW continuation session: quantile observability ----
        "length_quantiles": q_length_quantiles,
        # ---- last driver row is r3 — rotate back inside the cap ----
        "embed_hash": q_embed_hash,
        "dedup_minhash_lsh": q_dedup_minhash_lsh,
        "dedup_simhash": q_dedup_simhash,
        "winnowing_fingerprints": q_winnowing_fingerprints,
        "ann_lsh_topk": q_ann_lsh_topk,
        "ann_ivf_topk": q_ann_ivf_topk,
        "media_features": q_media_features,
        "media_frames": q_media_frames,
        "json_export": q_json_export,
        "rollup_events": q_rollup_events,
        "pivot_events": q_pivot_events,
        "agg_lineitem": q_agg_lineitem,
        "tokenize_offsets": q_tokenize_offsets,
        "parse_numeric_unit": q_parse_numeric_unit,
        "dedup_minhash_oracle": q_dedup_minhash_oracle,
        "dedup_simhash_oracle": q_dedup_simhash_oracle,
        "ann_lsh_oracle": q_ann_lsh_oracle,
        "tokenize_text": q_tokenize_text,
        "build_posting": q_build_posting,
        "token_idf": q_token_idf,
        "doc_total_weight": q_doc_total_weight,
        "sessionize_events": q_sessionize_events,
        "prefix_lookup": q_prefix_lookup,
        "autocomplete_topl": q_autocomplete_topl,
        "multi_pattern_any": q_multi_pattern_any,
        "asof_events": q_asof_events,
        "cube_events": q_cube_events,
        # ---- r4-green core pipeline kept inside the cap (a round
        # without a row on score_pairs / the incremental lifecycle
        # would be a worse gap than one on the scan/histogram tail) ----
        "score_pairs": q_score_pairs,
        "tfidf_cosine_pairs": q_tfidf_cosine_pairs,
        "candidate_pairs": q_candidate_pairs,
        "extend_spans": q_extend_spans,
        "interpret_matches": q_interpret_matches,
        "rethreshold_clusters": q_rethreshold_clusters,
        "remove_docs": q_remove_docs,
        "upsert_pages": q_upsert_pages,
        "dedup_survivors": q_dedup_survivors,
        "quality_score": q_quality_score,
        "latest_snapshot": q_latest_snapshot,
        "decontam_report": q_decontam_report,
        "decontam_fuzzy": q_decontam_fuzzy,
        "split_assign": q_split_assign,
        "blocking_stats": q_blocking_stats,
        # ---- tail (ALL r4 hash-green, unchanged this round) ----
        "domain_stats": q_domain_stats,
        "topk_spans": q_topk_spans,
        "dedup_exact": q_dedup_exact,
        "histogram_threshold": q_histogram_threshold,
        "spelling_alternatives": q_spelling_alternatives,
        "synonym_expand": q_synonym_expand,
        "candidate_pairs_alt": q_candidate_pairs_alt,
        "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
        "ann_cosine_topk": q_ann_cosine_topk,
        "dedup_embedding": q_dedup_embedding,
        "lang_id": q_lang_id,
        "token_count": q_token_count,
        "token_count_bpe": q_token_count_bpe,
        "doc_fingerprint": q_doc_fingerprint,
        "multi_pattern_first": q_multi_pattern_first,
        "multi_pattern_count": q_multi_pattern_count,
        "scan_documents": q_scan_documents,
        "scan_dedup": q_scan_dedup,
        "normalize_text": q_normalize_text,
        "word_freq": q_word_freq,
        "histogram_count": q_histogram_count,
        "histogram_summary": q_histogram_summary,
        "histogram_topn": q_histogram_topn,
        "topk_per_group": q_topk_per_group,
        "set_ops": q_set_ops,
        "token_rejoin": q_token_rejoin,
        "char_class_stats": q_char_class_stats,
        "cluster_stats": q_cluster_stats,
        "repetition_signals": q_repetition_signals,
    }
    return {k: wrap(v) for k, v in qs.items()}


def oracle_sql() -> dict[str, str]:
    from entitymatch_spark.operators.blocking import minhash_coeffs
    from entitymatch_spark.operators.pii import EMAIL_RE, IPV4_RE, PHONE_RE

    syn_values = ", ".join(f"('{a}', '{b}', {w})" for a, b, w in SYNONYMS)
    mh_coeffs = minhash_coeffs(num_hashes=16, seed=42)
    mh_sig_cols = ", ".join(
        f"min((hv * {a} + {b}) % 2147483647) AS s{i}"
        for i, (a, b) in enumerate(mh_coeffs)
    )
    mh_band_selects = " UNION ALL ".join(
        "SELECT doc_id, 'lsh{b}:' || {expr} AS key FROM sig".format(
            b=b,
            expr=" || ',' || ".join(f"s{4 * b + r}" for r in range(4)),
        )
        for b in range(4)
    )
    # decontam_fuzzy's recall-sized layout: 8 bands x 2 rows over the
    # same 16 hashes (P ~= 0.90 at jaccard 0.5 vs 0.23 for 4x4)
    mh_band_selects_8x2 = " UNION ALL ".join(
        "SELECT doc_id, 'lsh{b}:' || {expr} AS key FROM sig".format(
            b=b,
            expr=" || ',' || ".join(f"s{2 * b + r}" for r in range(2)),
        )
        for b in range(8)
    )
    stops_list = ", ".join(f"'{s}'" for s in EN_STOPS)
    extend_spans_sql = f"""
            WITH {POS_CTE}, {IDF_CTE},
            posq AS (SELECT pos AS qpos, token FROM pos WHERE doc_id = 0),
            fr AS (SELECT doc_id FROM documents WHERE lang = 'fr' AND doc_id != 0),
            pose AS (SELECT p.doc_id AS entity_id, p.pos AS epos, p.token
                     FROM pos p JOIN fr ON p.doc_id = fr.doc_id),
            tot AS (SELECT p.doc_id AS entity_id, sum(i.idf) AS total
                    FROM pos p JOIN fr ON p.doc_id = fr.doc_id
                    JOIN idf i USING (token) GROUP BY 1),
            cand AS (SELECT e.entity_id, q.qpos, e.epos, i.idf AS w
                     FROM posq q JOIN pose e USING (token) JOIN idf i USING (token)),
            dd AS (SELECT entity_id, qpos - epos AS diag, qpos, max(w) AS w
                   FROM cand GROUP BY 1, 2, 3),
            isl AS (SELECT *, qpos - row_number() OVER (PARTITION BY entity_id, diag
                                                        ORDER BY qpos) AS island FROM dd),
            sp AS (SELECT entity_id, min(qpos) AS span_start, count(*) AS span_len,
                          sum(w) AS sw
                   FROM isl GROUP BY entity_id, diag, island)
            SELECT s.entity_id, s.span_start, s.span_len,
                   round(s.sw / t.total, 6) AS score
            FROM sp s JOIN tot t USING (entity_id) WHERE s.span_len >= 2
    """
    total_weight_sql = f"""
            WITH {POS_CTE}, {IDF_CTE}
            SELECT p.doc_id, round(sum(i.idf), 6) AS total_weight
            FROM pos p JOIN idf i USING (token) GROUP BY p.doc_id
    """
    return {
        "scan_documents": """
            SELECT doc_id, lang, source, n_chars FROM documents WHERE n_chars >= 200
        """,
        "scan_dedup": "SELECT DISTINCT lang, source FROM documents",
        "normalize_text": f"SELECT doc_id, {NORM} AS norm FROM documents",
        "tokenize_text": f"""
            SELECT doc_id, array_to_string({TOKS}, ' ') AS toks,
                   len({TOKS}) AS n_tokens
            FROM documents
        """,
        "build_posting": f"WITH {POS_CTE} SELECT doc_id, pos, token FROM pos",
        "token_idf": f"""
            WITH {POS_CTE}, {IDF_CTE}
            SELECT token, df, round(idf, 6) AS idf FROM idf
        """,
        "doc_total_weight": total_weight_sql,
        "word_freq": f"""
            WITH {POS_CTE}
            SELECT token, count(DISTINCT doc_id) AS n_docs, count(*) AS n_occ
            FROM pos GROUP BY token
        """,
        "histogram_count": "SELECT event_type, count(*) AS n FROM events GROUP BY 1",
        "histogram_summary": """
            SELECT event_type, count(*) AS n, count(DISTINCT user_id) AS n_users,
                   round(min(value), 2) AS min_value, round(max(value), 2) AS max_value,
                   round(sum(value), 4) AS sum_value
            FROM events GROUP BY 1
        """,
        "histogram_threshold": """
            SELECT user_id, count(*) AS n FROM events GROUP BY 1 HAVING count(*) >= 20
        """,
        "histogram_topn": """
            SELECT event_type, count(*) AS n FROM events
            GROUP BY 1 ORDER BY n DESC, event_type ASC LIMIT 5
        """,
        "topk_per_group": """
            SELECT event_type, event_id, value, rnk FROM (
              SELECT event_type, event_id, value,
                     row_number() OVER (PARTITION BY event_type
                                        ORDER BY value DESC, event_id ASC) AS rnk
              FROM events) WHERE rnk <= 3
        """,
        # P8 two-group split: number part + unit part (Util.cs:166-242).
        # The attr string is integer-built (event_id mods + event_type)
        # so Spark and DuckDB format it identically.
        "parse_numeric_unit": r"""
            WITH a AS (
              SELECT event_id, props,
                     CAST(event_id % 97 AS VARCHAR) || '.' ||
                     CAST(event_id % 7 AS VARCHAR) || ' ' || event_type AS attr
              FROM events)
            SELECT event_id,
                   CAST(regexp_extract(props, '([0-9]+)', 1) AS BIGINT) AS k_num,
                   regexp_extract(attr, '^([0-9]*\.?[0-9]+)\s*(.*)$', 1) AS num_part,
                   regexp_extract(attr, '^([0-9]*\.?[0-9]+)\s*(.*)$', 2) AS unit_part,
                   CAST(regexp_extract(attr, '^([0-9]*\.?[0-9]+)\s*(.*)$', 1) AS DOUBLE) AS num_val
            FROM a
        """,
        "spelling_alternatives": f"""
            WITH probe AS (SELECT DISTINCT unnest({TOKS}) AS t FROM documents WHERE lang = 'de'),
            voc AS (SELECT DISTINCT unnest({TOKS}) AS t FROM documents WHERE lang = 'en'),
            exact AS (
              SELECT p.t AS token, p.t AS alt_token, CAST(0 AS BIGINT) AS distance, 1.0 AS weight
              FROM probe p WHERE p.t IN (SELECT t FROM voc)),
            fuzzy AS (
              SELECT p.t AS token, v.t AS alt_token,
                     CAST(levenshtein(p.t, v.t) AS BIGINT) AS distance,
                     round(1.0 / (1.0 + levenshtein(p.t, v.t)), 6) AS weight
              FROM probe p JOIN voc v
                ON abs(length(p.t) - length(v.t)) <= 1 AND levenshtein(p.t, v.t) <= 1
              WHERE p.t NOT IN (SELECT t FROM voc))
            SELECT * FROM exact UNION ALL SELECT * FROM fuzzy
        """,
        "synonym_expand": f"""
            WITH toks AS (SELECT DISTINCT unnest({TOKS}) AS token FROM documents),
            syn(token, alt_token, weight) AS (VALUES {syn_values})
            SELECT token, token AS alt_token, CAST(1.0 AS DOUBLE) AS weight FROM toks
            UNION ALL
            SELECT t.token, s.alt_token, CAST(s.weight AS DOUBLE) AS weight
            FROM toks t JOIN syn s USING (token)
        """,
        "candidate_pairs": f"WITH {TRI_CTE} SELECT id_a, id_b, n_keys FROM cand",
        "extend_spans": extend_spans_sql,
        "topk_spans": f"""
            SELECT entity_id, span_start, span_len, score, rnk FROM (
              SELECT *, row_number() OVER (PARTITION BY span_start
                                           ORDER BY score DESC, entity_id ASC) AS rnk
              FROM ({extend_spans_sql})
            ) WHERE rnk <= 2
        """,
        "interpret_matches": f"""
            WITH etoks AS (SELECT doc_id AS entity_id, source AS type, {TOKS} AS tk
                           FROM documents WHERE lang = 'en' AND doc_id % 2 = 0),
            epos AS (SELECT entity_id, unnest(tk) AS token,
                            generate_subscripts(tk, 1) - 1 AS epos FROM etoks),
            eidf AS (SELECT token,
                            greatest(ln(greatest(
                              ((SELECT count(*) FROM etoks) + 0.5 - count(*))
                              / (count(*) + 0.5), 1e-12)), 0.00001) AS idf
                     FROM epos GROUP BY token),
            tot AS (SELECT entity_id, sum(i.idf) AS total
                    FROM epos e JOIN eidf i USING (token) GROUP BY 1),
            voc AS (SELECT DISTINCT token FROM epos),
            qtoks AS (SELECT doc_id AS query_id, {TOKS} AS tk
                      FROM documents WHERE lang = 'en' AND doc_id % 2 = 1),
            qpos AS (SELECT query_id, unnest(tk) AS token,
                            generate_subscripts(tk, 1) - 1 AS qpos FROM qtoks),
            probe AS (SELECT DISTINCT token FROM qpos),
            spelled AS (
              SELECT p.token, p.token AS alt_token, 1.0 AS weight
              FROM probe p WHERE p.token IN (SELECT token FROM voc)
              UNION ALL
              SELECT p.token, v.token AS alt_token,
                     1.0 / (1.0 + levenshtein(p.token, v.token)) AS weight
              FROM probe p JOIN voc v
                ON abs(length(p.token) - length(v.token)) <= 1
               AND levenshtein(p.token, v.token) <= 1
              WHERE p.token NOT IN (SELECT token FROM voc)),
            syn(token, alt_token, weight) AS (VALUES {syn_values}),
            alts AS (
              SELECT token, alt_token, max(weight) AS weight FROM (
                SELECT s.token, s.alt_token, s.weight FROM spelled s
                WHERE s.alt_token NOT IN (SELECT token FROM syn)
                UNION ALL
                SELECT s.token, y.alt_token, s.weight * y.weight AS weight
                FROM spelled s JOIN syn y ON s.alt_token = y.token
              ) GROUP BY 1, 2),
            eq AS (SELECT q.query_id, q.qpos, a.alt_token AS token, a.weight
                   FROM qpos q JOIN alts a USING (token)),
            cand AS (SELECT q.query_id, e.entity_id, q.qpos, e.epos,
                            q.weight * i.idf AS wtok
                     FROM eq q JOIN epos e USING (token) JOIN eidf i USING (token)),
            dd AS (SELECT query_id, entity_id, qpos - epos AS diag, qpos,
                          max(wtok) AS wtok
                   FROM cand GROUP BY 1, 2, 3, 4),
            isl AS (SELECT *, qpos - row_number() OVER (
                      PARTITION BY query_id, entity_id, diag ORDER BY qpos
                    ) AS island FROM dd),
            sp AS (SELECT query_id, entity_id, min(qpos) AS span_start,
                          count(*) AS span_len, sum(wtok) AS sw
                   FROM isl GROUP BY query_id, entity_id, diag, island),
            scored AS (SELECT s.query_id, s.entity_id, s.span_start, s.span_len,
                              s.sw / t.total AS score
                       FROM sp s JOIN tot t USING (entity_id)
                       WHERE s.sw / t.total >= 0.25),
            typed AS (SELECT sc.*, e.type FROM scored sc
                      JOIN (SELECT entity_id, type FROM etoks) e USING (entity_id)),
            rk AS (SELECT *, row_number() OVER (
                     PARTITION BY query_id, type, span_start
                     ORDER BY score DESC, entity_id ASC) AS rn FROM typed)
            SELECT query_id, entity_id, type, span_start, span_len,
                   round(score, 6) AS score
            FROM rk WHERE rn = 1
        """,
        "candidate_pairs_alt": f"""
            WITH {POS_CTE},
            q0 AS (SELECT DISTINCT token FROM pos WHERE doc_id = 0),
            fr AS (SELECT doc_id FROM documents WHERE lang = 'fr' AND doc_id != 0),
            fp AS (SELECT p.doc_id, p.pos, p.token FROM pos p JOIN fr USING (doc_id)),
            voc AS (SELECT DISTINCT token FROM fp),
            exact AS (SELECT q.token, q.token AS alt_token, 1.0 AS weight
                      FROM q0 q WHERE q.token IN (SELECT token FROM voc)),
            fuzzy AS (SELECT q.token, v.token AS alt_token,
                             1.0 / (1.0 + levenshtein(q.token, v.token)) AS weight
                      FROM q0 q JOIN voc v
                        ON abs(length(q.token) - length(v.token)) <= 1
                       AND levenshtein(q.token, v.token) <= 1
                      WHERE q.token NOT IN (SELECT token FROM voc)),
            alts AS (SELECT * FROM exact UNION ALL SELECT * FROM fuzzy)
            SELECT f.doc_id AS entity_id, f.pos AS epos,
                   round(max(a.weight), 6) AS weight
            FROM alts a JOIN fp f ON f.token = a.alt_token
            GROUP BY 1, 2
        """,
        "tfidf_cosine_pairs": f"""
            WITH {POS_CTE}, {IDF_CTE}, {TRI_CTE},
            w AS (SELECT p.doc_id, p.token, count(*) * any_value(i.idf) AS w
                  FROM pos p JOIN idf i USING (token) GROUP BY p.doc_id, p.token),
            nrm AS (SELECT doc_id, sqrt(sum(w * w)) AS nrm FROM w GROUP BY 1),
            dots AS (SELECT c.id_a, c.id_b, sum(x.w * y.w) AS dot
                     FROM cand c JOIN w x ON x.doc_id = c.id_a
                     JOIN w y ON y.doc_id = c.id_b AND y.token = x.token
                     GROUP BY 1, 2)
            SELECT c.id_a, c.id_b,
                   round(coalesce(d.dot, 0.0) / (a.nrm * b.nrm), 4) AS cosine
            FROM cand c LEFT JOIN dots d ON d.id_a = c.id_a AND d.id_b = c.id_b
            JOIN nrm a ON a.doc_id = c.id_a JOIN nrm b ON b.doc_id = c.id_b
        """,
        "score_pairs": f"""
            WITH {TRI_CTE},
            d AS (SELECT doc_id, {NORM} AS norm, list_distinct({TOKS}) AS ts FROM documents),
            feat AS (
              SELECT c.id_a, c.id_b,
                CASE WHEN len(list_distinct(list_concat(a.ts, b.ts))) = 0 THEN 0.0
                     ELSE len(list_intersect(a.ts, b.ts))
                          / len(list_distinct(list_concat(a.ts, b.ts))) END AS jaccard,
                CASE WHEN greatest(length(substr(a.norm, 1, 128)), length(substr(b.norm, 1, 128))) = 0 THEN 1.0
                     WHEN levenshtein(substr(a.norm, 1, 128), substr(b.norm, 1, 128)) > 32 THEN 0.0
                     ELSE 1.0 - levenshtein(substr(a.norm, 1, 128), substr(b.norm, 1, 128))
                          / greatest(length(substr(a.norm, 1, 128)), length(substr(b.norm, 1, 128))) END AS lev_sim,
                jaro_winkler_similarity(substr(a.norm, 1, 256), substr(b.norm, 1, 256)) AS jw
              FROM cand c JOIN d a ON a.doc_id = c.id_a JOIN d b ON b.doc_id = c.id_b)
            SELECT id_a, id_b, round(jaccard, 4) AS jaccard, round(lev_sim, 4) AS lev_sim,
                   round(jw, 4) AS jw,
                   round(0.4 * jaccard + 0.3 * lev_sim + 0.3 * jw, 4) AS score
            FROM feat
        """,
        "dedup_exact": f"""
            WITH d AS (SELECT doc_id, md5({NORM}) AS fingerprint FROM documents)
            SELECT doc_id, fingerprint,
                   -- NULL-text singleton rule mirrors exact_dedup (a
                   -- no-op on this fixture, which has no NULL texts)
                   min(doc_id) OVER (PARTITION BY coalesce(fingerprint,
                       'null:' || CAST(doc_id AS VARCHAR))) AS canonical_id,
                   count(*) OVER (PARTITION BY coalesce(fingerprint,
                       'null:' || CAST(doc_id AS VARCHAR))) AS n_dups
            FROM d
        """,
        "dedup_ngram_jaccard": f"""
            WITH {TRI_CTE},
            toksall AS (SELECT doc_id, {TOKS} AS tk FROM documents),
            posb AS (SELECT doc_id, unnest(tk) AS t, generate_subscripts(tk, 1) AS p FROM toksall),
            bi AS (SELECT DISTINCT a.doc_id, a.t || ' ' || b.t AS g
                   FROM posb a JOIN posb b ON a.doc_id = b.doc_id AND b.p = a.p + 1),
            bs AS (SELECT doc_id, list(g) AS s FROM bi GROUP BY doc_id),
            j AS (SELECT c.id_a, c.id_b,
                    CASE WHEN len(list_distinct(list_concat(a.s, b.s))) = 0 THEN 0.0
                         ELSE len(list_intersect(a.s, b.s))
                              / len(list_distinct(list_concat(a.s, b.s))) END AS jaccard
                  FROM cand c JOIN bs a ON a.doc_id = c.id_a JOIN bs b ON b.doc_id = c.id_b)
            SELECT id_a, id_b, round(jaccard, 4) AS jaccard FROM j
        """,
        "ann_cosine_topk": """
            WITH q AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings WHERE vec_id < 10),
            n AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
            p AS (SELECT q.vec_id AS qid, n.vec_id AS nid,
                         list_cosine_similarity(q.e, n.e) AS c
                  FROM q JOIN n ON q.vec_id != n.vec_id),
            rk AS (SELECT qid, nid, c,
                          row_number() OVER (PARTITION BY qid ORDER BY c DESC, nid ASC) AS rnk
                   FROM p)
            SELECT qid, nid, round(c, 4) AS cosine, rnk FROM rk WHERE rnk <= 5
        """,
        # RP-LSH ANN, portable variant: md5-integer hyperplanes,
        # relational dot products, sign-bit buckets, exact rerank
        "ann_lsh_oracle": """
            WITH n AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
            grid AS (SELECT tt.t, pp.p, dd.d
                     FROM (SELECT unnest(range(0, 8)) AS t) tt
                     CROSS JOIN (SELECT unnest(range(0, 8)) AS p) pp
                     CROSS JOIN (SELECT unnest(range(0, 64)) AS d) dd),
            planes AS (SELECT t, p, d,
                              ('0x' || substr(md5('rp:' || CAST(t AS VARCHAR) || ':'
                                   || CAST(p AS VARCHAR) || ':' || CAST(d AS VARCHAR)), 1, 15))::BIGINT
                               % 2001 - 1000 AS w
                       FROM grid),
            comps AS (SELECT vec_id, generate_subscripts(e, 1) - 1 AS d, unnest(e) AS x FROM n),
            dots AS (SELECT c.vec_id, pl.t, pl.p, sum(c.x * pl.w) AS dot
                     FROM comps c JOIN planes pl USING (d) GROUP BY 1, 2, 3),
            bk AS (SELECT vec_id, t,
                          string_agg(CASE WHEN dot > 0 THEN '1' ELSE '0' END, ''
                                     ORDER BY p) AS bs
                   FROM dots GROUP BY 1, 2),
            keys AS (SELECT vec_id, CAST(t AS VARCHAR) || ':' || bs AS key FROM bk),
            cand AS (SELECT DISTINCT q.vec_id AS qid, c.vec_id AS nid
                     FROM keys q JOIN keys c USING (key)
                     WHERE q.vec_id < 10 AND q.vec_id != c.vec_id),
            scored AS (SELECT cd.qid, cd.nid, list_cosine_similarity(a.e, b.e) AS cos
                       FROM cand cd JOIN n a ON a.vec_id = cd.qid
                       JOIN n b ON b.vec_id = cd.nid),
            rk AS (SELECT qid, nid, cos,
                          row_number() OVER (PARTITION BY qid
                              ORDER BY cos DESC, nid ASC) AS rnk
                   FROM scored)
            SELECT qid, nid, round(cos, 4) AS cosine, CAST(rnk AS BIGINT) AS rnk
            FROM rk WHERE rnk <= 5
        """,
        "ann_ivf_topk": """
            WITH n AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
            cents AS (SELECT vec_id AS cent_id, e AS cv FROM n WHERE vec_id < 8),
            q AS (SELECT vec_id, e FROM n WHERE vec_id < 10),
            cell_rk AS (SELECT n.vec_id, c.cent_id,
                               row_number() OVER (PARTITION BY n.vec_id
                                   ORDER BY list_cosine_similarity(n.e, c.cv) DESC,
                                            c.cent_id ASC) AS crank
                        FROM n CROSS JOIN cents c),
            cells AS (SELECT vec_id AS nid, cent_id FROM cell_rk WHERE crank = 1),
            probe_rk AS (SELECT q.vec_id, c.cent_id,
                                row_number() OVER (PARTITION BY q.vec_id
                                    ORDER BY list_cosine_similarity(q.e, c.cv) DESC,
                                             c.cent_id ASC) AS crank
                         FROM q CROSS JOIN cents c),
            probes AS (SELECT vec_id AS qid, cent_id FROM probe_rk WHERE crank <= 2),
            cand AS (SELECT DISTINCT p.qid, cl.nid
                     FROM probes p JOIN cells cl USING (cent_id)
                     WHERE p.qid != cl.nid),
            scored AS (SELECT c.qid, c.nid,
                              list_cosine_similarity(a.e, b.e) AS cos
                       FROM cand c JOIN n a ON a.vec_id = c.qid
                       JOIN n b ON b.vec_id = c.nid),
            rk AS (SELECT qid, nid, cos,
                          row_number() OVER (PARTITION BY qid
                              ORDER BY cos DESC, nid ASC) AS rnk
                   FROM scored)
            SELECT qid, nid, round(cos, 4) AS cosine, rnk FROM rk WHERE rnk <= 5
        """,
        "dedup_embedding": """
            SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.label,
                   round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                                CAST(b.embedding AS DOUBLE[])), 4) AS cosine
            FROM embeddings a JOIN embeddings b
              ON a.label = b.label AND a.vec_id < b.vec_id
            WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                         CAST(b.embedding AS DOUBLE[])) >= 0.35
        """,
        "lang_id": f"""
            WITH d AS (SELECT doc_id, list_distinct({TOKS}) AS ts FROM documents),
            h AS (SELECT doc_id,
                    len(list_intersect(ts, [{stops_list}])) AS en_hits,
                    len(list_intersect(ts, ['der','die','das','und','ist','nicht','ein','mit','von','zu'])) AS de_hits,
                    len(list_intersect(ts, ['le','la','les','et','est','un','une','des','que','pour'])) AS fr_hits
                  FROM d)
            SELECT doc_id, CAST(en_hits AS BIGINT) AS en_hits,
                   CAST(de_hits AS BIGINT) AS de_hits, CAST(fr_hits AS BIGINT) AS fr_hits,
                   CASE WHEN greatest(en_hits, de_hits, fr_hits) = 0 THEN 'und'
                        WHEN en_hits = greatest(en_hits, de_hits, fr_hits) THEN 'en'
                        WHEN de_hits = greatest(en_hits, de_hits, fr_hits) THEN 'de'
                        ELSE 'fr' END AS pred_lang
            FROM h
        """,
        "quality_score": f"""
            WITH d AS (SELECT doc_id, {TOKS} AS tk FROM documents),
            m AS (SELECT doc_id, len(tk) AS n_tokens,
                         len(list_distinct(tk)) AS n_uniq,
                         len(list_filter(tk, t -> list_contains([{stops_list}], t))) AS stop_occ,
                         list_aggregate(list_transform(tk, t -> length(t)), 'sum') AS tot_len
                  FROM d WHERE len(tk) > 0)
            SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
                   round(n_uniq / n_tokens, 4) AS uniq_ratio,
                   round(stop_occ / n_tokens, 4) AS stop_ratio,
                   round(tot_len / n_tokens, 4) AS mean_tok_len,
                   round(0.4 * (n_uniq / n_tokens) + 0.3 * (1.0 - stop_occ / n_tokens)
                         + 0.3 * least(tot_len / n_tokens / 8.0, 1.0), 4) AS quality
            FROM m
        """,
        "token_count": f"""
            SELECT doc_id, len({TOKS}) AS n_tokens,
                   len(list_distinct({TOKS})) AS n_uniq
            FROM documents
        """,
        "token_count_bpe": f"""
            WITH d AS (SELECT doc_id, {NORM} AS norm FROM documents)
            SELECT doc_id,
                   len(list_filter(regexp_split_to_array(norm, '\\s+'), x -> x != '')) AS n_ws,
                   len(regexp_extract_all(norm, '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS n_words,
                   len(regexp_extract_all(norm, '[a-z]{{1,4}}|[0-9]{{1,3}}|[^a-z0-9\\s]')) AS n_pieces
            FROM d
        """,
        "doc_fingerprint": f"""
            SELECT doc_id, md5(array_to_string({TOKS}, ' ')) AS fp FROM documents
        """,
        # P2 offsets: token starts = positions where a \w char is not
        # preceded by one; the token is the maximal \w+ run from there.
        # Mirrors the Arrow offsets UDF (functions/text.py:66) over the
        # same normalized text, 0-based char offsets.
        "tokenize_offsets": rf"""
            WITH d AS (SELECT doc_id, {NORM} AS norm FROM documents),
            chars AS (SELECT doc_id, norm,
                             CAST(unnest(range(1, length(norm) + 1)) AS INT) AS p
                      FROM d),
            starts AS (SELECT doc_id, norm, p FROM chars
                       WHERE regexp_matches(substr(norm, p, 1), '^\w$')
                         AND (p = 1 OR NOT regexp_matches(substr(norm, p - 1, 1), '^\w$'))),
            tok AS (SELECT doc_id, p,
                           regexp_extract(substr(norm, p), '^\w+') AS token
                    FROM starts)
            SELECT doc_id, token, CAST(p - 1 AS BIGINT) AS start,
                   CAST(length(token) AS BIGINT) AS length
            FROM tok
        """,
        "set_ops": f"""
            SELECT DISTINCT unnest({TOKS}) AS token FROM documents WHERE lang = 'es'
            INTERSECT
            SELECT DISTINCT unnest({TOKS}) AS token FROM documents WHERE lang = 'zh'
        """,
        "multi_pattern_first": f"""
            WITH d AS (SELECT doc_id, {NORM} AS norm FROM documents),
            ph(phrase) AS (VALUES {", ".join(f"('{p}')" for p in SCAN_PHRASES)})
            SELECT d.doc_id, ph.phrase,
                   CAST(strpos(d.norm, ph.phrase) - 1 AS BIGINT) AS start
            FROM d CROSS JOIN ph WHERE strpos(d.norm, ph.phrase) > 0
        """,
        # Winnowing (Schleimer et al.): min 60-bit-md5 gram hash per
        # sliding window of 5 consecutive 4-grams, deduplicated
        "winnowing_fingerprints": f"""
            WITH {POS_CTE},
            g AS (SELECT p.doc_id, p.pos,
                         ('0x' || substr(md5(p.token || ' ' || p2.token || ' ' || p3.token || ' ' || p4.token), 1, 15))::BIGINT AS h
                  FROM pos p
                  JOIN pos p2 ON p2.doc_id = p.doc_id AND p2.pos = p.pos + 1
                  JOIN pos p3 ON p3.doc_id = p.doc_id AND p3.pos = p.pos + 2
                  JOIN pos p4 ON p4.doc_id = p.doc_id AND p4.pos = p.pos + 3),
            w AS (SELECT doc_id,
                         min(h) OVER (PARTITION BY doc_id ORDER BY pos
                                      ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING) AS fp
                  FROM g)
            SELECT DISTINCT doc_id, fp FROM w
        """,
        # FindAll occurrence counts: enumerate every start position and
        # test the substring — exact all-occurrence semantics incl.
        # overlaps (replace/regex counting would miss overlapping hits)
        "multi_pattern_count": f"""
            WITH d AS (SELECT doc_id, {NORM} AS norm FROM documents),
            ph(phrase) AS (VALUES {", ".join(f"('{p}')" for p in SCAN_PHRASES)}),
            pos AS MATERIALIZED (SELECT d.doc_id, d.norm, ph.phrase,
                           unnest(range(1, greatest(length(d.norm) - length(ph.phrase) + 2, 1))) AS p
                    FROM d CROSS JOIN ph)
            SELECT doc_id, phrase, count(*) AS n_hits
            FROM pos WHERE substr(norm, p, length(phrase)) = phrase
            GROUP BY 1, 2
        """,
        "multi_pattern_any": f"""
            WITH d AS (SELECT doc_id, {NORM} AS norm FROM documents)
            SELECT doc_id,
                   ({" OR ".join(f"strpos(norm, '{p}') > 0" for p in SCAN_PHRASES)}) AS has_any
            FROM d
        """,
        # prefixcheck: all prefix-end positions of vocab tokens within
        # k=1 of each typed query (length band |pl - len(q)| <= 1 exact)
        "prefix_lookup": f"""
            WITH v AS (SELECT DISTINCT unnest({TOKS}) AS token
                       FROM documents WHERE lang = 'en'),
            q(query) AS (VALUES {", ".join(f"('{p}')" for p in PREFIX_QUERIES)}),
            vx AS (SELECT token, unnest(range(1, length(token) + 1)) AS pl FROM v),
            hits AS (SELECT q.query, vx.token, vx.pl,
                            levenshtein(q.query, substr(vx.token, 1, CAST(vx.pl AS INT))) AS d
                     FROM q JOIN vx
                       ON vx.pl BETWEEN length(q.query) - 1 AND length(q.query) + 1)
            SELECT query, token, CAST(pl AS BIGINT) AS prefix_len,
                   CAST(d AS BIGINT) AS distance
            FROM hits WHERE d <= 1
        """,
        # fuzzy-prefix completions: min distance per token, rank by
        # (distance, df desc, token), top 5 per query
        "autocomplete_topl": f"""
            WITH {POS_CTE},
            en AS (SELECT doc_id FROM documents WHERE lang = 'en'),
            vw AS (SELECT p.token, count(*) AS df
                   FROM pos p JOIN en USING (doc_id) GROUP BY 1),
            q(query) AS (VALUES {", ".join(f"('{p}')" for p in PREFIX_QUERIES)}),
            vx AS (SELECT token, unnest(range(1, length(token) + 1)) AS pl
                   FROM (SELECT DISTINCT token FROM vw)),
            hits AS (SELECT q.query, vx.token,
                            levenshtein(q.query, substr(vx.token, 1, CAST(vx.pl AS INT))) AS d
                     FROM q JOIN vx
                       ON vx.pl BETWEEN length(q.query) - 1 AND length(q.query) + 1),
            per AS (SELECT query, token, min(d) AS distance
                    FROM hits WHERE d <= 1 GROUP BY 1, 2),
            rk AS (SELECT per.query, per.token, per.distance, vw.df,
                          row_number() OVER (PARTITION BY per.query
                              ORDER BY per.distance, vw.df DESC, per.token) AS rnk
                   FROM per JOIN vw USING (token))
            SELECT query, token, CAST(distance AS BIGINT) AS distance, df,
                   CAST(rnk AS BIGINT) AS rnk
            FROM rk WHERE rnk <= 5
        """,
        # MinHash-LSH, portable variant: md5 60-bit token hash mod
        # 2^31-1, seeded linear permutations, 4x4 concat band keys,
        # block purge <=32, pair self-join — the whole LSH blocking
        # path value-checked end-to-end
        "dedup_minhash_oracle": f"""
            WITH toks AS (SELECT doc_id, list_distinct({TOKS}) AS ts
                          FROM documents WHERE len({TOKS}) > 0),
            tok AS (SELECT doc_id, unnest(ts) AS token FROM toks),
            h AS (SELECT doc_id,
                         ('0x' || substr(md5(token), 1, 15))::BIGINT % 2147483647 AS hv
                  FROM tok),
            sig AS (SELECT doc_id, {mh_sig_cols} FROM h GROUP BY doc_id),
            keys AS ({mh_band_selects}),
            ok AS (SELECT key FROM keys GROUP BY key HAVING count(*) <= 32),
            kk AS (SELECT k.doc_id, k.key FROM keys k JOIN ok USING (key)),
            cand AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_keys
                     FROM kk a JOIN kk b USING (key)
                     WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
            SELECT id_a, id_b, n_keys FROM cand
        """,
        # dedup keep-set materialization: same portable MinHash-LSH key
        # chain as dedup_minhash_oracle, then exact token-set jaccard
        # verify (integer cross-multiplied, no float division), then a
        # recursive transitive closure, then keep the min-id
        # representative per duplicate cluster; n_members reweights
        # survivors by how many docs they stand for
        "dedup_survivors": f"""
            WITH RECURSIVE toks AS (SELECT doc_id, list_distinct({TOKS}) AS ts
                          FROM documents WHERE len({TOKS}) > 0),
            tok AS (SELECT doc_id, unnest(ts) AS token FROM toks),
            h AS (SELECT doc_id,
                         ('0x' || substr(md5(token), 1, 15))::BIGINT % 2147483647 AS hv
                  FROM tok),
            sig AS (SELECT doc_id, {mh_sig_cols} FROM h GROUP BY doc_id),
            keys AS ({mh_band_selects}),
            ok AS (SELECT key FROM keys GROUP BY key HAVING count(*) <= 32),
            kk AS (SELECT k.doc_id, k.key FROM keys k JOIN ok USING (key)),
            cand AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
                     FROM kk a JOIN kk b USING (key)
                     WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
            ver AS (SELECT c.id_a, c.id_b
                    FROM cand c JOIN toks ta ON ta.doc_id = c.id_a
                    JOIN toks tb ON tb.doc_id = c.id_b
                    WHERE 2 * len(list_intersect(ta.ts, tb.ts))
                          >= len(ta.ts) + len(tb.ts)
                             - len(list_intersect(ta.ts, tb.ts))),
            bidir AS (SELECT id_a AS u, id_b AS v FROM ver
                      UNION SELECT id_b, id_a FROM ver),
            reach(u, v) AS (SELECT u, v FROM bidir
                            UNION
                            SELECT r.u, e.v FROM reach r JOIN bidir e ON r.v = e.u),
            comp AS (SELECT u AS doc_id, least(u, min(v)) AS cluster_id
                     FROM reach GROUP BY u),
            sz AS (SELECT cluster_id, count(*) AS n_members FROM comp GROUP BY 1),
            losers AS (SELECT doc_id FROM comp WHERE doc_id != cluster_id)
            SELECT d.doc_id, coalesce(sz.n_members, 1) AS n_members
            FROM documents d
            LEFT JOIN sz ON sz.cluster_id = d.doc_id
            WHERE d.doc_id NOT IN (SELECT doc_id FROM losers)
        """,
        # composed curation: quality gate decided by INTEGER
        # cross-multiplication at the rational threshold 11/20 = 0.55
        # (same branch structure as textstats.quality_at_least, so the
        # exact-boundary docs agree) -> dedup chain over the FILTERED
        # pool -> min-id keep -> deterministic md5 sample of survivors
        "curate_corpus": f"""
            WITH RECURSIVE d0 AS (SELECT doc_id, {TOKS} AS tk FROM documents),
            m AS (SELECT doc_id, tk, len(tk) AS n,
                         len(list_distinct(tk)) AS u,
                         len(list_filter(tk, t -> list_contains([{stops_list}], t))) AS s,
                         list_aggregate(list_transform(tk, t -> length(t)), 'sum') AS tl
                  FROM d0 WHERE len(tk) > 0),
            q AS (SELECT doc_id, tk, CAST(n AS BIGINT) AS n_tokens,
                         0.4 * (u / n) + 0.3 * (1.0 - s / n)
                         + 0.3 * least(tl / n / 8.0, 1.0) AS quality
                  FROM m
                  -- n > 0 mirrors quality_at_least's (n > 0) & precondition
                  -- (m already filters len(tk) > 0; the guard keeps the gate
                  -- self-contained if that filter ever moves)
                  WHERE n > 0 AND CASE WHEN tl >= 8 * n
                        THEN 20 * (4 * u + 3 * (n - s) + 3 * n)
                             >= 10 * 11 * n
                        ELSE 20 * (32 * u + 24 * (n - s) + 3 * tl)
                             >= 80 * 11 * n END),
            toks AS (SELECT doc_id, list_distinct(tk) AS ts FROM q),
            tok AS (SELECT doc_id, unnest(ts) AS token FROM toks),
            h AS (SELECT doc_id,
                         ('0x' || substr(md5(token), 1, 15))::BIGINT % 2147483647 AS hv
                  FROM tok),
            sig AS (SELECT doc_id, {mh_sig_cols} FROM h GROUP BY doc_id),
            keys AS ({mh_band_selects}),
            ok AS (SELECT key FROM keys GROUP BY key HAVING count(*) <= 32),
            kk AS (SELECT k.doc_id, k.key FROM keys k JOIN ok USING (key)),
            cand AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
                     FROM kk a JOIN kk b USING (key)
                     WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
            ver AS (SELECT c.id_a, c.id_b
                    FROM cand c JOIN toks ta ON ta.doc_id = c.id_a
                    JOIN toks tb ON tb.doc_id = c.id_b
                    WHERE 2 * len(list_intersect(ta.ts, tb.ts))
                          >= len(ta.ts) + len(tb.ts)
                             - len(list_intersect(ta.ts, tb.ts))),
            bidir AS (SELECT id_a AS u, id_b AS v FROM ver
                      UNION SELECT id_b, id_a FROM ver),
            reach(u, v) AS (SELECT u, v FROM bidir
                            UNION
                            SELECT r.u, e.v FROM reach r JOIN bidir e ON r.v = e.u),
            comp AS (SELECT u AS doc_id, least(u, min(v)) AS cluster_id
                     FROM reach GROUP BY u),
            sz AS (SELECT cluster_id, count(*) AS n_members FROM comp GROUP BY 1),
            losers AS (SELECT doc_id FROM comp WHERE doc_id != cluster_id)
            SELECT q.doc_id, q.n_tokens, round(q.quality, 4) AS quality,
                   coalesce(sz.n_members, 1) AS n_members
            FROM q
            LEFT JOIN sz ON sz.cluster_id = q.doc_id
            WHERE q.doc_id NOT IN (SELECT doc_id FROM losers)
              AND ('0x' || substr(md5(CAST(q.doc_id AS VARCHAR)), 1, 8))::BIGINT
                  % 10000 < 7000
        """,
        # decontamination audit: distinct word 3-grams shared with the
        # benchmark split (every 50th doc), threshold 2 — grams built
        # with the same shingle construction as the dedup family
        "decontam_report": f"""
            WITH d AS (SELECT doc_id, {TOKS} AS tk FROM documents),
            g AS (SELECT doc_id,
                         unnest(list_distinct(
                             CASE WHEN len(tk) < 3 THEN []::VARCHAR[]
                                  ELSE list_transform(
                                      generate_series(1, len(tk) - 2),
                                      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])
                             END)) AS gram
                  FROM d),
            bg AS (SELECT DISTINCT gram FROM g WHERE doc_id % 50 = 0),
            cg AS (SELECT doc_id, gram FROM g WHERE doc_id % 50 != 0)
            SELECT doc_id, count(*) AS n_hits
            FROM cg JOIN bg USING (gram)
            GROUP BY doc_id
            HAVING count(*) >= 2
        """,
        # deterministic split assignment: cumulative md5-bucket label
        "split_assign": """
            WITH h AS (SELECT doc_id,
                              ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                              % 10000 AS hv
                       FROM documents)
            SELECT doc_id, CASE WHEN hv < 9000 THEN 'train'
                                WHEN hv < 9500 THEN 'val'
                                ELSE 'test' END AS split
            FROM h
        """,
        # repetition signals: per-doc-per-gram counts -> per-doc agg,
        # bigrams via the same shingle construction as decontam/dedup
        "repetition_signals": f"""
            WITH d AS (SELECT doc_id, {TOKS} AS tk FROM documents
                       WHERE len({TOKS}) > 0),
            toc AS (SELECT doc_id, unnest(tk) AS g FROM d),
            tpc AS (SELECT doc_id, g, count(*) AS c FROM toc GROUP BY 1, 2),
            ta AS (SELECT doc_id, sum(c) AS n, max(c) AS top,
                          sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup
                   FROM tpc GROUP BY 1),
            bgo AS (SELECT doc_id,
                           unnest(CASE WHEN len(tk) < 2 THEN []::VARCHAR[]
                                  ELSE list_transform(
                                      generate_series(1, len(tk) - 1),
                                      i -> tk[i] || ' ' || tk[i+1]) END) AS g
                    FROM d),
            bpc AS (SELECT doc_id, g, count(*) AS c FROM bgo GROUP BY 1, 2),
            ba AS (SELECT doc_id, sum(c) AS n, max(c) AS top,
                          sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup
                   FROM bpc GROUP BY 1)
            SELECT d.doc_id,
                   CAST(coalesce(ta.n, 0) AS BIGINT) AS n_tokens,
                   round(CASE WHEN coalesce(ta.n, 0) = 0 THEN 0.0
                              ELSE ta.top / ta.n END, 6) AS top_token_frac,
                   CAST(coalesce(ba.n, 0) AS BIGINT) AS n_bigrams,
                   round(CASE WHEN coalesce(ba.n, 0) = 0 THEN 0.0
                              ELSE ba.top / ba.n END, 6) AS top_bigram_frac,
                   round(CASE WHEN coalesce(ba.n, 0) = 0 THEN 0.0
                              ELSE ba.dup / ba.n END, 6) AS dup_bigram_frac
            FROM d LEFT JOIN ta USING (doc_id) LEFT JOIN ba USING (doc_id)
        """,
        # PII scrub: planted doc_id-derived contact strings, staged
        # email -> ip -> phone redaction (counts taken on the stage
        # each rule sees), global-flag regexp_replace
        "redact_pii": f"""
            WITH d AS (SELECT doc_id,
                              substr(text, 1, 80) || ' contact user'
                              || CAST(doc_id AS VARCHAR)
                              || '@example.com or +44 20 7946 0958 at 10.0.'
                              || CAST(doc_id % 256 AS VARCHAR) || '.7' AS t0
                       FROM documents),
            s1 AS (SELECT doc_id,
                          len(regexp_extract_all(t0, '{EMAIL_RE}')) AS n_email,
                          regexp_replace(t0, '{EMAIL_RE}', '<EMAIL>', 'g') AS t1
                   FROM d),
            s2 AS (SELECT doc_id, n_email,
                          len(regexp_extract_all(t1, '{IPV4_RE}')) AS n_ip,
                          regexp_replace(t1, '{IPV4_RE}', '<IP>', 'g') AS t2
                   FROM s1),
            s3 AS (SELECT doc_id, n_email, n_ip,
                          len(regexp_extract_all(t2, '{PHONE_RE}')) AS n_phone,
                          regexp_replace(t2, '{PHONE_RE}', '<PHONE>', 'g') AS t3
                   FROM s2)
            SELECT doc_id, t3 AS redacted,
                   CAST(n_email AS BIGINT) AS n_email,
                   CAST(n_ip AS BIGINT) AS n_ip,
                   CAST(n_phone AS BIGINT) AS n_phone
            FROM s3
        """,
        # C4 boilerplate-line removal: same deterministic 8-token line
        # reshaping as the Spark query, then md5(line)-keyed corpus-wide
        # count >= 3 -> drop every occurrence, rebuild in pos order
        # ExactSubstr duplicate spans: same window/md5-key/merge chain;
        # the oracle merges via classic gaps-and-islands window
        # functions where Spark uses the one-shuffle aggregate() fold —
        # with starts ascending and width fixed the two are identical
        # (break iff s > last span end)
        "dedup_substring": f"""
            WITH t0 AS (SELECT doc_id, {TOKS} AS tk FROM documents),
            toks AS (SELECT doc_id, tk FROM t0 WHERE len(tk) >= 10),
            idx AS (SELECT doc_id, tk, unnest(range(len(tk) - 9)) AS s
                    FROM toks),
            wins AS (SELECT doc_id, CAST(s AS INT) AS s,
                            md5(array_to_string(tk[s+1 : s+10], chr(31))) AS k
                     FROM idx),
            dup AS (SELECT k FROM wins GROUP BY k HAVING count(*) >= 2),
            hits AS (SELECT w.doc_id, w.s FROM wins w JOIN dup USING (k)),
            m AS (SELECT doc_id, s,
                    CASE WHEN s > coalesce(max(s + 10) OVER (
                           PARTITION BY doc_id ORDER BY s
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                         -1) THEN 1 ELSE 0 END AS brk
                  FROM hits),
            g AS (SELECT doc_id, s,
                         sum(brk) OVER (PARTITION BY doc_id ORDER BY s) AS grp
                  FROM m)
            SELECT doc_id, min(s) AS span_start, max(s) + 10 AS span_end,
                   count(*) AS n_windows
            FROM g GROUP BY doc_id, grp
        """,
        "dedup_boilerplate": f"""
            WITH t0 AS (SELECT doc_id, {TOKS} AS tk FROM documents),
            toks AS (SELECT * FROM t0 WHERE len(tk) > 0),
            wrapped AS (SELECT doc_id,
                list_transform(range(CAST(ceil(len(tk) / 8.0) AS BIGINT)),
                               i -> array_to_string(tk[i*8+1 : i*8+8], ' ')) AS ls
                FROM toks),
            lines AS (SELECT doc_id, unnest(ls) AS line,
                             generate_subscripts(ls, 1) AS pos FROM wrapped),
            flagged AS (SELECT md5(line) AS k FROM lines WHERE line <> ''
                        GROUP BY 1 HAVING count(*) >= 3),
            kept AS (SELECT l.doc_id, l.pos, l.line FROM lines l
                     LEFT JOIN flagged f ON md5(l.line) = f.k
                     WHERE f.k IS NULL),
            reb AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS ct,
                           count(*) AS n_kept FROM kept GROUP BY 1),
            tot AS (SELECT doc_id, count(*) AS n_lines FROM lines GROUP BY 1)
            SELECT t.doc_id, coalesce(r.ct, '') AS clean_text,
                   t.n_lines, t.n_lines - coalesce(r.n_kept, 0) AS n_removed
            FROM tot t LEFT JOIN reb r USING (doc_id)
        """,
        # per-source rollup: quality_score + lang_id composed per doc,
        # integer-scaled quality sums (order-independent), one final
        # division per ratio
        "domain_stats": f"""
            WITH d AS (SELECT doc_id, source, {TOKS} AS tk FROM documents),
            m AS (SELECT doc_id, source, tk, len(tk) AS n_tokens,
                         len(list_distinct(tk)) AS n_uniq,
                         len(list_filter(tk, t -> list_contains([{stops_list}], t))) AS stop_occ,
                         list_aggregate(list_transform(tk, t -> length(t)), 'sum') AS tot_len
                  FROM d WHERE len(tk) > 0),
            pq AS (SELECT doc_id, source, n_tokens,
                          0.4 * (n_uniq / n_tokens) + 0.3 * (1.0 - stop_occ / n_tokens)
                          + 0.3 * least(tot_len / n_tokens / 8.0, 1.0) AS quality,
                          list_distinct(tk) AS ts
                   FROM m),
            pl AS (SELECT doc_id,
                          len(list_intersect(ts, [{stops_list}])) AS en_hits,
                          len(list_intersect(ts, ['der','die','das','und','ist','nicht','ein','mit','von','zu'])) AS de_hits,
                          len(list_intersect(ts, ['le','la','les','et','est','un','une','des','que','pour'])) AS fr_hits
                   FROM pq),
            pp AS (SELECT q.doc_id, q.source, q.n_tokens, q.quality,
                          CASE WHEN greatest(l.en_hits, l.de_hits, l.fr_hits) = 0 THEN 'und'
                               WHEN l.en_hits = greatest(l.en_hits, l.de_hits, l.fr_hits) THEN 'en'
                               WHEN l.de_hits = greatest(l.en_hits, l.de_hits, l.fr_hits) THEN 'de'
                               ELSE 'fr' END AS pred_lang
                   FROM pq q JOIN pl l USING (doc_id))
            SELECT source, count(*) AS n_docs,
                   CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
                   round(sum(CAST(round(quality * 10000) AS BIGINT))
                         / (10000.0 * count(*)), 6) AS mean_quality,
                   round(sum(CASE WHEN pred_lang = 'en' THEN 1 ELSE 0 END)
                         / count(*), 6) AS en_share
            FROM pp GROUP BY source
        """,
        # URL canonicalization (same split/lower/filter/sort chain as
        # canonical_url) + freshest-crawl row per canonical key;
        # scheme-less / protocol-relative rows pass through unchanged
        "latest_snapshot": """
            WITH p AS (SELECT doc_id,
                              CASE WHEN doc_id % 7 = 3 THEN ''
                                   WHEN doc_id % 7 = 5 THEN '//'
                                   ELSE 'HTTPS://' END
                              || 'WWW.' || source || '.Example.com:443/Page/'
                              || CAST(doc_id % 97 AS VARCHAR)
                              || '?utm_source=feed&b=2&a='
                              || CAST(doc_id % 5 AS VARCHAR)
                              || CASE WHEN doc_id % 11 = 0
                                      THEN '&u=HTTP://Embed.example/X'
                                      ELSE '' END
                              || '#frag' AS url,
                              (doc_id * 37) % 101 AS warc_ts
                       FROM documents),
            parts AS (SELECT doc_id, warc_ts, url,
                             split_part(url, '#', 1) AS no_frag
                      FROM p),
            seg AS (SELECT doc_id, warc_ts, url,
                           lower(split_part(no_frag, '://', 1)) AS scheme,
                           -- schemed iff '://' sits in SCHEME POSITION:
                           -- the prefix before the FIRST '://' is an
                           -- RFC-3986 scheme (mirrors urlnorm.is_url)
                           strpos(no_frag, '://') > 0
                             AND regexp_matches(
                                   split_part(no_frag, '://', 1),
                                   '^[A-Za-z][A-Za-z0-9+.-]*$') AS is_url,
                           CASE WHEN strpos(no_frag, '://') > 0
                                THEN substr(no_frag, strpos(no_frag, '://') + 3)
                                ELSE no_frag END AS after
                    FROM parts),
            hp AS (SELECT doc_id, warc_ts, url, scheme, is_url, after,
                          CASE WHEN scheme = 'http' THEN regexp_replace(
                                   lower(split_part(split_part(after, '/', 1), '?', 1)),
                                   ':80$', '')
                               WHEN scheme = 'https' THEN regexp_replace(
                                   lower(split_part(split_part(after, '/', 1), '?', 1)),
                                   ':443$', '')
                               ELSE lower(split_part(split_part(after, '/', 1), '?', 1))
                          END AS host,
                          CASE WHEN strpos(after, '?') > 0
                                    AND (strpos(after, '/') = 0
                                         OR strpos(after, '?') < strpos(after, '/'))
                               THEN '?' || substr(after, strpos(after, '?') + 1)
                               WHEN strpos(after, '/') > 0
                               THEN substr(after, strpos(after, '/'))
                               ELSE '' END AS path_q
                   FROM seg),
            pq AS (SELECT doc_id, warc_ts, url, scheme, is_url, host,
                          -- RFC 3986 6.2.3 empty-path rule, mirroring
                          -- canonical_url: '' normalizes to '/'
                          CASE WHEN split_part(path_q, '?', 1) = ''
                               THEN '/' ELSE split_part(path_q, '?', 1)
                          END AS path,
                          CASE WHEN strpos(path_q, '?') > 0
                               THEN substr(path_q, strpos(path_q, '?') + 1)
                               ELSE '' END AS query
                   FROM hp),
            canon AS (SELECT doc_id, warc_ts,
                             CASE WHEN NOT is_url THEN url ELSE
                             scheme || '://' || host || path ||
                             CASE WHEN array_to_string(
                                      list_sort(list_filter(str_split(query, '&'),
                                          x -> x != '' AND NOT regexp_matches(x,
                                              '^(utm_[a-z]+|fbclid|gclid|msclkid|ref)='))),
                                      '&') = '' THEN ''
                                  ELSE '?' || array_to_string(
                                      list_sort(list_filter(str_split(query, '&'),
                                          x -> x != '' AND NOT regexp_matches(x,
                                              '^(utm_[a-z]+|fbclid|gclid|msclkid|ref)='))),
                                      '&') END
                             END AS canonical_url
                      FROM pq)
            SELECT canonical_url, doc_id, CAST(warc_ts AS BIGINT) AS warc_ts
            FROM canon
            QUALIFY row_number() OVER (PARTITION BY canonical_url
                                       ORDER BY warc_ts DESC, doc_id DESC) = 1
        """,
        # fuzzy decontamination: one signature table over the corpus,
        # band keys split by the benchmark rule, cross-set key join,
        # exact jaccard verify, per-corpus-doc benchmark-match count
        "decontam_fuzzy": f"""
            WITH toks AS (SELECT doc_id, list_distinct({TOKS}) AS ts
                          FROM documents WHERE len({TOKS}) > 0),
            tok AS (SELECT doc_id, unnest(ts) AS token FROM toks),
            h AS (SELECT doc_id,
                         ('0x' || substr(md5(token), 1, 15))::BIGINT % 2147483647 AS hv
                  FROM tok),
            sig AS (SELECT doc_id, {mh_sig_cols} FROM h GROUP BY doc_id),
            keys AS ({mh_band_selects_8x2}),
            ck AS (SELECT doc_id, key FROM keys WHERE doc_id % 50 != 0),
            bk AS (SELECT doc_id AS bench_id, key FROM keys WHERE doc_id % 50 = 0),
            cand AS (SELECT DISTINCT c.doc_id, b.bench_id
                     FROM ck c JOIN bk b USING (key)),
            ver AS (SELECT c.doc_id, c.bench_id
                    FROM cand c JOIN toks tc ON tc.doc_id = c.doc_id
                    JOIN toks tb ON tb.doc_id = c.bench_id
                    WHERE 2 * len(list_intersect(tc.ts, tb.ts))
                          >= len(tc.ts) + len(tb.ts)
                             - len(list_intersect(tc.ts, tb.ts)))
            SELECT doc_id, count(*) AS n_bench_matches
            FROM ver GROUP BY doc_id
        """,
        # SimHash, portable variant: md5 bit source, signed tf sums per
        # bit, 4x16-bit band blocking, hamming verify — the whole
        # SimHash dedup path value-checked end-to-end
        "dedup_simhash_oracle": f"""
            WITH toks AS (SELECT doc_id, {TOKS} AS tk FROM documents
                          WHERE len({TOKS}) > 0),
            tok AS (SELECT doc_id, unnest(tk) AS token FROM toks),
            tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
            hh AS (SELECT doc_id, tf,
                          ('0x' || substr(md5(token), 1, 15))::BIGINT AS h1,
                          ('0x' || substr(md5(token), 17, 15))::BIGINT AS h2
                   FROM tf),
            bi AS (SELECT doc_id, g.i,
                          sum(tf * (2 * (CASE WHEN g.i < 32 THEN (h1 >> g.i) & 1
                                              ELSE (h2 >> (g.i - 32)) & 1 END) - 1)) AS s
                   FROM hh CROSS JOIN (SELECT unnest(range(0, 64)) AS i) g
                   GROUP BY 1, 2),
            sig AS (SELECT doc_id,
                           string_agg(CASE WHEN s > 0 THEN '1' ELSE '0' END, ''
                                      ORDER BY i) AS bs
                    FROM bi GROUP BY doc_id),
            keys AS (SELECT doc_id,
                            'sh' || kb.k || ':' || substr(bs, CAST(kb.k * 16 + 1 AS INT), 16) AS key
                     FROM sig CROSS JOIN (SELECT unnest(range(0, 4)) AS k) kb),
            ok AS (SELECT key FROM keys GROUP BY key HAVING count(*) <= 256),
            kk AS (SELECT k.doc_id, k.key FROM keys k JOIN ok USING (key)),
            cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                     FROM kk a JOIN kk b USING (key)
                     WHERE a.doc_id < b.doc_id),
            ham AS (SELECT c.id_a, c.id_b,
                           (SELECT count(*) FROM range(1, 65) r(p)
                            WHERE substr(sa.bs, CAST(p AS INT), 1)
                                  != substr(sb.bs, CAST(p AS INT), 1)) AS hamming
                    FROM cand c JOIN sig sa ON sa.doc_id = c.id_a
                    JOIN sig sb ON sb.doc_id = c.id_b)
            SELECT id_a, id_b, CAST(hamming AS BIGINT) AS hamming
            FROM ham WHERE hamming <= 3
        """,
        # feature-hash embedding: md5-derived slot/sign (portable to
        # DuckDB), integer slot sums, L2 normalize, round(6) per value.
        # Scalar-row shape (doc_id, slot, val): unnest + subscripts
        # mirror the Spark side's posexplode (arrays can't be hashed by
        # the driver's canonicalizer).
        "embed_hash": f"""
            WITH {POS_CTE},
            s AS (SELECT doc_id,
                         ('0x' || substr(md5(token), 1, 15))::BIGINT % 32 AS slot,
                         CASE WHEN ('0x' || substr(md5(token), 16, 1))::BIGINT % 2 = 0
                              THEN 1.0 ELSE -1.0 END AS sgn
                  FROM pos),
            v AS (SELECT doc_id, slot, sum(sgn) AS val FROM s GROUP BY 1, 2),
            ids AS (SELECT DISTINCT doc_id FROM v),
            grid AS (SELECT ids.doc_id, gs.j AS slot
                     FROM ids CROSS JOIN (SELECT unnest(range(0, 32)) AS j) gs),
            raw AS (SELECT g.doc_id, g.slot, coalesce(v.val, 0.0) AS val
                    FROM grid g LEFT JOIN v ON v.doc_id = g.doc_id AND v.slot = g.slot),
            l AS (SELECT doc_id, list(val ORDER BY slot) AS rawv FROM raw GROUP BY doc_id),
            n AS (SELECT doc_id, rawv,
                         sqrt(list_aggregate(list_transform(rawv, x -> x * x), 'sum')) AS nrm
                  FROM l)
            SELECT doc_id,
                   CAST(generate_subscripts(rawv, 1) - 1 AS BIGINT) AS slot,
                   round(unnest(rawv) / nrm, 6) AS val
            FROM n WHERE nrm > 0
        """,
        "token_rejoin": f"""
            SELECT doc_id,
                   array_to_string(list_slice({TOKS}, 1, 5), ' ') AS head5,
                   array_to_string(list_slice({TOKS}, 3, 6), ' ') AS mid4
            FROM documents
        """,
        "char_class_stats": f"""
            WITH d AS (SELECT doc_id, {TOKS} AS tk FROM documents)
            SELECT doc_id,
                   CAST(len(list_filter(tk, t -> regexp_matches(t, '^[0-9]+$'))) AS BIGINT) AS n_all_digit,
                   CAST(len(list_filter(tk, t -> regexp_matches(t, '^[a-z]+$'))) AS BIGINT) AS n_all_alpha,
                   CAST(len(list_filter(tk, t -> regexp_matches(t, '[0-9]'))) AS BIGINT) AS n_has_digit
            FROM d
        """,
        "json_export": """
            SELECT doc_id,
                   '{"lang":"' || lang || '","n_chars":' || n_chars || '}' AS js
            FROM documents
        """,
        "rollup_events": """
            SELECT event_type, count(*) AS n, round(sum(value), 4) AS total
            FROM events GROUP BY ROLLUP (event_type)
        """,
        "asof_events": """
            WITH a AS (
              SELECT user_id, event_id, event_type,
                     last_value(CASE WHEN event_type = 'purchase' THEN value END
                                IGNORE NULLS)
                       OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                       AS prior_purchase
              FROM events)
            SELECT user_id, event_id, round(prior_purchase, 4) AS prior_purchase
            FROM a WHERE event_type = 'click'
        """,
        "cube_events": """
            SELECT event_type, value >= 50 AS hi_value, count(*) AS n,
                   round(sum(value), 4) AS total
            FROM events GROUP BY CUBE (event_type, hi_value)
        """,
        # range join: the oracle uses the PLAIN non-equi overlap join
        # (DuckDB plans it as IEJoin) against the same session/incident
        # CTEs — any binning, dedup, or boundary bug in the Spark-side
        # binned equi-join diverges from this ground truth
        "range_join_events": """
            WITH g AS (
              SELECT user_id, event_id, epoch_us(ts) AS us,
                     epoch_us(ts) - lag(epoch_us(ts)) OVER
                       (PARTITION BY user_id ORDER BY ts, event_id) AS gap
              FROM events),
            s AS (
              SELECT user_id, us,
                     CAST(sum(CASE WHEN gap IS NULL OR gap > 1800 * 1000000 THEN 1 ELSE 0 END)
                       OVER (PARTITION BY user_id ORDER BY us, event_id
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
              FROM g),
            sess AS (
              SELECT user_id, session_idx, min(us) AS s_start,
                     max(us) + 1 AS s_end, count(*) AS n_events
              FROM s GROUP BY 1, 2),
            inc AS (
              SELECT event_id AS incident_id, epoch_us(ts) AS i_start,
                     epoch_us(ts) + 900 * 1000000 AS i_end
              FROM events WHERE event_type = 'error' AND value >= 15)
            SELECT sess.user_id, sess.session_idx, sess.n_events,
                   inc.incident_id
            FROM sess JOIN inc
              ON sess.s_start < inc.i_end AND inc.i_start < sess.s_end
        """,
        # unigram LM: Laplace alpha=1 model over the same tokenization;
        # self-scored so the join is inner (no OOV possible). Bucket is
        # a CASE over the ROUNDED score, mirroring the Spark side.
        "unigram_nll": f"""
            WITH {POS_CTE},
            model AS (SELECT token, count(*) AS n_occ FROM pos GROUP BY token),
            tot AS (SELECT sum(n_occ) AS total, count(*) AS vocab FROM model),
            scored AS (
              SELECT p.doc_id, count(*) AS n_tokens,
                     round(-avg(ln((m.n_occ + 1.0)
                                   / (t.total + 1.0 * (t.vocab + 1)))),
                           6) AS avg_nll
              FROM pos p JOIN model m USING (token) CROSS JOIN tot t
              GROUP BY p.doc_id)
            SELECT doc_id, n_tokens, avg_nll,
                   CASE WHEN avg_nll < 3.4 THEN 'head'
                        WHEN avg_nll < 3.41 THEN 'middle'
                        ELSE 'tail' END AS ppl_bucket
            FROM scored
        """,
        # stupid backoff: bigram table pruned to count >= 2; singleton
        # bigrams fall back to 0.4 * unigram MLE. First token of each
        # doc is scored by the unigram alone (prev IS NULL).
        "bigram_nll": f"""
            WITH {POS_CTE},
            ctx AS (SELECT doc_id, pos, token,
                           lag(token) OVER (PARTITION BY doc_id ORDER BY pos)
                             AS prev
                    FROM pos),
            uni AS (SELECT token, count(*) AS n_uni FROM pos GROUP BY token),
            tot AS (SELECT sum(n_uni) AS total FROM uni),
            big AS (SELECT prev, token, count(*) AS n_big FROM ctx
                    WHERE prev IS NOT NULL
                    GROUP BY prev, token HAVING count(*) >= 2)
            SELECT c.doc_id, count(*) AS n_tokens,
                   round(-avg(CASE
                      WHEN c.prev IS NULL THEN ln(u.n_uni / t.total)
                      WHEN b.n_big IS NOT NULL THEN ln(b.n_big / pu.n_uni)
                      ELSE ln(0.4 * u.n_uni / t.total) END), 6) AS avg_nll
            FROM ctx c
            LEFT JOIN big b ON b.prev = c.prev AND b.token = c.token
            LEFT JOIN uni pu ON pu.token = c.prev
            JOIN uni u ON u.token = c.token
            CROSS JOIN tot t
            GROUP BY c.doc_id
        """,
        # drift: en vs de token distributions, add-0.5 smoothing over
        # the union vocabulary; same expression trees as the Spark side
        "token_drift": f"""
            WITH ea AS (SELECT {TOKS} AS tk FROM documents WHERE lang = 'en'),
            pa AS (SELECT unnest(tk) AS token FROM ea),
            ca AS (SELECT token, count(*) AS n_a FROM pa GROUP BY token),
            eb AS (SELECT {TOKS} AS tk FROM documents WHERE lang = 'de'),
            pb AS (SELECT unnest(tk) AS token FROM eb),
            cb AS (SELECT token, count(*) AS n_b FROM pb GROUP BY token),
            j AS (SELECT coalesce(ca.token, cb.token) AS token,
                         coalesce(n_a, 0) AS n_a, coalesce(n_b, 0) AS n_b
                  FROM ca FULL JOIN cb ON ca.token = cb.token),
            tot AS (SELECT sum(n_a) AS t_a, sum(n_b) AS t_b,
                           count(*) AS v FROM j),
            p AS (SELECT token, n_a, n_b,
                         (n_a + 0.5) / (t.t_a + 0.5 * t.v) AS sp_a,
                         (n_b + 0.5) / (t.t_b + 0.5 * t.v) AS sp_b
                  FROM j CROSS JOIN tot t)
            SELECT token, n_a, n_b,
                   round(ln(sp_a / sp_b), 6) AS log_ratio,
                   round(0.5 * sp_a * ln(sp_a / ((sp_a + sp_b) / 2))
                         + 0.5 * sp_b * ln(sp_b / ((sp_a + sp_b) / 2)),
                         9) AS jsd_term
            FROM p
        """,
        # exact percentiles: both engines interpolate linearly between
        # closest ranks, so the rounded doubles agree bit-for-bit
        "length_quantiles": """
            SELECT lang, count(*) AS n,
                   round(quantile_cont(n_chars, 0.1), 6) AS p10,
                   round(quantile_cont(n_chars, 0.5), 6) AS p50,
                   round(quantile_cont(n_chars, 0.9), 6) AS p90,
                   min(n_chars) AS min_value,
                   max(n_chars) AS max_value
            FROM documents GROUP BY lang
        """,
        # per-domain cap: row_number under the same total order
        "domain_cap": """
            SELECT doc_id, source, n_chars FROM (
              SELECT doc_id, source, n_chars,
                     row_number() OVER (PARTITION BY source
                                        ORDER BY n_chars DESC, doc_id) AS rn
              FROM documents) WHERE rn <= 15
        """,
        # stratified sampling: the shared md5 decision-hash idiom
        # (split_assign's), reduced mod each stratum's denominator
        "stratified_sample": """
            WITH h AS (SELECT doc_id, lang, source,
                              ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS hv
                       FROM documents)
            SELECT doc_id, lang, source FROM h
            WHERE (lang = 'en' AND hv % 2 < 1)
               OR (lang = 'de' AND hv % 4 < 1)
               OR (lang = 'fr' AND hv % 10 < 1)
        """,
        "sessionize_events": """
            WITH g AS (
              SELECT user_id, event_id, ts, value,
                     epoch_us(ts) - lag(epoch_us(ts)) OVER
                       (PARTITION BY user_id ORDER BY ts, event_id) AS gap
              FROM events),
            s AS (
              -- windowed sum() yields HUGEINT in DuckDB which lands as
              -- float64 in the driver compare; cast pins it to int64 to
              -- match Spark's LongType (values are identical either way)
              SELECT user_id, event_id, value,
                     CAST(sum(CASE WHEN gap IS NULL OR gap > 1800 * 1000000 THEN 1 ELSE 0 END)
                       OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
              FROM g)
            SELECT user_id, session_idx, count(*) AS n_events,
                   round(sum(value), 4) AS total
            FROM s GROUP BY 1, 2
        """,
        # streaming standing gate #1: the stateful sessionizer replayed
        # over a real file stream must equal BATCH gap-and-island
        # sessionization (in-order replay, sentinel-flushed timeouts)
        "stream_sessionize": """
            WITH g AS (
              SELECT user_id, event_id, ts, value,
                     epoch_us(ts) - lag(epoch_us(ts)) OVER
                       (PARTITION BY user_id ORDER BY ts, event_id) AS gap
              FROM events),
            s AS (
              SELECT user_id, ts, value,
                     CAST(sum(CASE WHEN gap IS NULL OR gap > 1800 * 1000000 THEN 1 ELSE 0 END)
                       OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
              FROM g)
            SELECT user_id, epoch_us(min(ts)) AS start_us,
                   epoch_us(max(ts)) AS end_us,
                   count(*) AS n_events, round(sum(value), 4) AS total
            FROM s GROUP BY user_id, session_idx
        """,
        "pivot_events": """
            SELECT user_id,
                   count(CASE WHEN event_type = 'click' THEN 1 END) AS n_click,
                   count(CASE WHEN event_type = 'error' THEN 1 END) AS n_error,
                   count(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_purchase,
                   count(CASE WHEN event_type = 'signup' THEN 1 END) AS n_signup,
                   count(CASE WHEN event_type = 'view' THEN 1 END) AS n_view
            FROM events GROUP BY 1
        """,
        # media feature stub is md5-derived -> fully reproducible:
        # width/height/frames from digest byte slices = hex substrings
        "media_features": r"""
            WITH d AS (SELECT CAST(doc_id AS VARCHAR) AS doc_id, text FROM documents),
            h AS (SELECT doc_id, md5(text) AS m,
                         CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
                  FROM d)
            SELECT doc_id, 'image' AS media_type, n_bytes, m AS content_md5,
                   CAST(16 + ('0x' || substr(m, 1, 4))::INT % 2544 AS INT) AS width,
                   CAST(16 + ('0x' || substr(m, 5, 4))::INT % 1424 AS INT) AS height,
                   CAST(1 + ('0x' || substr(m, 9, 2))::INT % 120 AS INT) AS n_frames,
                   'stubbed' AS decode_status
            FROM h
        """,
        "media_frames": """
            WITH d AS (SELECT CAST(doc_id AS VARCHAR) AS doc_id, text FROM documents),
            n AS (SELECT doc_id,
                         1 + (('0x' || substr(sha256(text || '|frames'), 1, 2))::INT % 8) AS k
                  FROM d)
            , ex AS (SELECT doc_id, unnest(range(0, k)) AS i FROM n)
            SELECT doc_id, CAST(i AS INT) AS frame_idx,
                   CAST(i * 1000 AS BIGINT) AS frame_ts_ms,
                   'stubbed' AS decode_status
            FROM ex
        """,
        # Full pipeline oracles: every stage (blocking keys -> block
        # purge -> pairs -> 5-feature blended score -> threshold ->
        # transitive closure) in one DuckDB query; the connected
        # components come from a recursive reachability CTE. The
        # token-only and token∪LSH variants share the body and differ
        # only in the `keys` CTE (built by _match_oracle below).
        "match_clusters_token": _match_oracle(
            """keys AS (SELECT DISTINCT p.doc_id, 'tok:' || p.token AS key
                     FROM pos p JOIN idf i USING (token) WHERE i.idf >= 1.0)"""
        ),
        # rethreshold == the SAME closure body at the new cut: candidate
        # generation is threshold-independent, so re-cutting the stored
        # scored pairs at 0.70 must reproduce a full 0.70 run
        "rethreshold_clusters": _match_oracle(
            """keys AS (SELECT DISTINCT p.doc_id, 'tok:' || p.token AS key
                     FROM pos p JOIN idf i USING (token) WHERE i.idf >= 1.0)""",
            threshold=0.70,
        ),
        # state deletion == survivor closure with the purge evaluated at
        # ORIGINAL corpus block sizes (okk over unfiltered keys; only
        # membership and the final doc set shrink) — the exact
        # remove_docs contract; idf stays the full-corpus dictionary
        # (frozen snapshot), which IDF_CTE already is
        "remove_docs": _match_oracle(
            """keys AS (SELECT DISTINCT p.doc_id, 'tok:' || p.token AS key
                     FROM pos p JOIN idf i USING (token) WHERE i.idf >= 1.0)""",
            kept_where="WHERE k.doc_id % 5 != 0",
            final_where="WHERE doc_id % 5 != 0",
        ),
        # identity re-crawl upsert (retire + re-match with unchanged
        # text) must land back on the PLAIN full closure — same oracle
        # as match_clusters_token
        "upsert_pages": _match_oracle(
            """keys AS (SELECT DISTINCT p.doc_id, 'tok:' || p.token AS key
                     FROM pos p JOIN idf i USING (token) WHERE i.idf >= 1.0)"""
        ),
        # cluster-size histogram over the same token-only closure; the
        # assigned CTE (docs + singleton fallback) feeds the aggregate
        "cluster_stats": _match_oracle(
            """keys AS (SELECT DISTINCT p.doc_id, 'tok:' || p.token AS key
                     FROM pos p JOIN idf i USING (token) WHERE i.idf >= 1.0)""",
            final_select="""
            , sz AS (SELECT cluster_id, count(*) AS cluster_size
                     FROM assigned GROUP BY cluster_id),
            tot AS (SELECT count(*) AS t FROM assigned)
            SELECT cluster_size,
                   count(*) AS n_clusters,
                   CAST(cluster_size * count(*) AS BIGINT) AS n_docs,
                   round(cluster_size * count(*) * 100.0
                         / (SELECT t FROM tot), 4) AS pct_docs
            FROM sz GROUP BY cluster_size""",
        ),
        "match_clusters_lsh": _match_oracle(
            f"""tokkeys AS (SELECT DISTINCT p.doc_id, 'tok:' || p.token AS key
                        FROM pos p JOIN idf i USING (token) WHERE i.idf >= 1.0),
            mdist AS (SELECT DISTINCT doc_id, token FROM pos),
            mh AS (SELECT doc_id,
                          ('0x' || substr(md5(token), 1, 15))::BIGINT % 2147483647 AS hv
                   FROM mdist),
            sig AS (SELECT doc_id, {mh_sig_cols} FROM mh GROUP BY doc_id),
            lshkeys AS ({mh_band_selects}),
            keys AS (SELECT doc_id, key FROM tokkeys
                     UNION ALL SELECT doc_id, key FROM lshkeys)"""
        ),
        # incremental growth must equal the from-scratch run under the
        # shared frozen IDF (plans/incremental.py exactness contract),
        # so its oracle IS the full-recompute closure — same CTE body
        # as match_clusters_lsh. A green row value-proves the
        # incremental path end-to-end.
        "incremental_match": _match_oracle(
            f"""tokkeys AS (SELECT DISTINCT p.doc_id, 'tok:' || p.token AS key
                        FROM pos p JOIN idf i USING (token) WHERE i.idf >= 1.0),
            mdist AS (SELECT DISTINCT doc_id, token FROM pos),
            mh AS (SELECT doc_id,
                          ('0x' || substr(md5(token), 1, 15))::BIGINT % 2147483647 AS hv
                   FROM mdist),
            sig AS (SELECT doc_id, {mh_sig_cols} FROM mh GROUP BY doc_id),
            lshkeys AS ({mh_band_selects}),
            keys AS (SELECT doc_id, key FROM tokkeys
                     UNION ALL SELECT doc_id, key FROM lshkeys)"""
        ),
        # streaming standing gate #2: stream-vs-static scoring. The
        # candidate set (static-dictionary rare-token keys UNION
        # md5/concat MinHash bands, purge at STATIC block sizes, new x
        # indexed only) and the 5-feature blend are rebuilt in pure SQL
        # under the STATIC-corpus IDF; stream tokens absent from that
        # dictionary score at the 1e-5 default (the coalesce in w).
        "stream_match": f"""
            WITH toksall AS (SELECT doc_id, {TOKS} AS tk FROM documents),
            pos AS (SELECT doc_id, unnest(tk) AS token FROM toksall),
            sidf AS (
              SELECT token, count(*) AS df,
                     greatest(ln(greatest(
                       (((SELECT count(*) FROM documents WHERE doc_id % 3 != 0)
                         + 0.5 - count(*)) / (count(*) + 0.5)), 1e-12)),
                       0.00001) AS idf
              FROM pos WHERE doc_id % 3 != 0 GROUP BY token),
            tokkeys AS (SELECT DISTINCT p.doc_id, 'tok:' || p.token AS key
                        FROM pos p JOIN sidf i USING (token)
                        WHERE i.idf >= 1.0),
            mdist AS (SELECT DISTINCT doc_id, token FROM pos),
            mh AS (SELECT doc_id,
                          ('0x' || substr(md5(token), 1, 15))::BIGINT % 2147483647 AS hv
                   FROM mdist),
            sig AS (SELECT doc_id, {mh_sig_cols} FROM mh GROUP BY doc_id),
            lshkeys AS ({mh_band_selects}),
            keys AS (SELECT doc_id, key FROM tokkeys
                     UNION ALL SELECT doc_id, key FROM lshkeys),
            skeys AS (SELECT doc_id, key FROM keys WHERE doc_id % 3 != 0),
            okk AS (SELECT key FROM skeys GROUP BY key HAVING count(*) <= 64),
            kept AS (SELECT k.doc_id, k.key FROM skeys k JOIN okk USING (key)),
            nkeys AS (SELECT doc_id, key FROM keys WHERE doc_id % 3 = 0),
            cand AS (SELECT n.doc_id AS id_a, k.doc_id AS id_b
                     FROM nkeys n JOIN kept k USING (key)
                     WHERE n.doc_id != k.doc_id GROUP BY 1, 2),
            d AS (SELECT doc_id, {NORM} AS norm, {TOKS} AS tk FROM documents),
            w AS (SELECT p.doc_id, p.token, count(*) AS cnt,
                         count(*) * coalesce(any_value(i.idf), 0.00001) AS w,
                         coalesce(any_value(i.idf), 0.00001) AS idf
                  FROM pos p LEFT JOIN sidf i USING (token)
                  GROUP BY p.doc_id, p.token),
            nrm AS (SELECT doc_id, sqrt(sum(w * w)) AS nrm, sum(w) AS total
                    FROM w GROUP BY 1),
            shr AS (SELECT c.id_a, c.id_b, sum(x.w * y.w) AS dot,
                           sum(least(x.cnt, y.cnt) * x.idf) AS sh
                    FROM cand c JOIN w x ON x.doc_id = c.id_a
                    JOIN w y ON y.doc_id = c.id_b AND y.token = x.token
                    GROUP BY 1, 2),
            feat AS (SELECT c.id_a, c.id_b,
                coalesce(s.dot, 0.0) / (na.nrm * nb.nrm) AS cosine,
                coalesce(s.sh, 0.0) / least(na.total, nb.total) AS containment,
                CASE WHEN len(list_distinct(list_concat(a.tk, b.tk))) = 0 THEN 0.0
                     ELSE len(list_intersect(list_distinct(a.tk), list_distinct(b.tk)))
                          / len(list_distinct(list_concat(a.tk, b.tk))) END AS jaccard,
                CASE WHEN greatest(length(substr(a.norm, 1, 128)), length(substr(b.norm, 1, 128))) = 0 THEN 1.0
                     WHEN levenshtein(substr(a.norm, 1, 128), substr(b.norm, 1, 128)) > 32 THEN 0.0
                     ELSE 1.0 - levenshtein(substr(a.norm, 1, 128), substr(b.norm, 1, 128))
                          / greatest(length(substr(a.norm, 1, 128)), length(substr(b.norm, 1, 128))) END AS lev_sim,
                jaro_winkler_similarity(substr(a.norm, 1, 256), substr(b.norm, 1, 256)) AS jw
              FROM cand c JOIN d a ON a.doc_id = c.id_a JOIN d b ON b.doc_id = c.id_b
              LEFT JOIN shr s ON s.id_a = c.id_a AND s.id_b = c.id_b
              JOIN nrm na ON na.doc_id = c.id_a JOIN nrm nb ON nb.doc_id = c.id_b)
            SELECT id_a, id_b,
                   round(cosine, 4) AS cosine,
                   -- 6 decimals: all-one-idf docs make containment an
                   -- exact dyadic m/32 — a 4-decimal half tie that float
                   -- noise tips differently per engine (see q_stream_match)
                   round(containment, 6) AS containment,
                   round(jaccard, 4) AS jaccard,
                   round(lev_sim, 4) AS lev_sim,
                   round(jw, 4) AS jw,
                   round(0.35 * cosine + 0.20 * jw + 0.15 * lev_sim
                         + 0.15 * jaccard + 0.15 * containment, 4) AS score
            FROM feat
        """,
        "blocking_stats": f"""
            WITH {POS_CTE}, {IDF_CTE},
            tokkeys AS (SELECT DISTINCT p.doc_id, 'tok:' || p.token AS key
                        FROM pos p JOIN idf i USING (token) WHERE i.idf >= 1.0),
            mdist AS (SELECT DISTINCT doc_id, token FROM pos),
            mh AS (SELECT doc_id,
                          ('0x' || substr(md5(token), 1, 15))::BIGINT % 2147483647 AS hv
                   FROM mdist),
            sig AS (SELECT doc_id, {mh_sig_cols} FROM mh GROUP BY doc_id),
            lshkeys AS ({mh_band_selects}),
            keys AS (SELECT doc_id, key FROM tokkeys
                     UNION ALL SELECT doc_id, key FROM lshkeys),
            sizes AS (SELECT key, count(*) AS n FROM keys GROUP BY key)
            SELECT regexp_extract(key, '^([a-z]+)', 1) AS family,
                   count(*) AS n_keys,
                   sum(CASE WHEN n BETWEEN 2 AND 64 THEN 1 ELSE 0 END)::BIGINT AS n_pair_blocks,
                   sum(CASE WHEN n > 64 THEN 1 ELSE 0 END)::BIGINT AS n_purged,
                   sum(CASE WHEN n BETWEEN 2 AND 64 THEN n * (n - 1) / 2 ELSE 0 END)::BIGINT AS cand_pairs,
                   max(n) AS max_block,
                   round(avg(n), 4) AS avg_block
            FROM sizes GROUP BY 1
        """,
        "agg_lineitem": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc,
                   count(*) AS n
            FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            GROUP BY 1, 2
        """,
    }
