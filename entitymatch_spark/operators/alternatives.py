"""Token alternative expansion: spelling (edit-distance) + synonyms.

The reference expands each query token through a chain of expanders
(ref: EntityMatch/EntityMatch/Alternatives.cs):

- BaseAlternatives: identity, weight 1.0 (Alternatives.cs:11-21)
- SpellingAlternatives: trie EditLookup(token, k); **if an exact match
  exists it short-circuits and yields only that** (weight 1.0,
  Alternatives.cs:101-107); otherwise each match at distance d gets
  weight 1/(1+d) (Alternatives.cs:112).
- SynonymAlternatives: token -> weighted alternatives; weights multiply
  through the chain (Alternatives.cs:56).

The trie is a single-process execution strategy; on Spark the same
semantics are two **broadcast joins against the vocabulary**, each row
of the probe side expanded where it stands — no distinct, no
semi/anti join, no union, so the probe side is never shuffled:

- a left join on the token flags the exact hits (the short-circuit);
- Levenshtein <= k implies |len(a) - len(b)| <= k, so a miss equi-joins
  the vocabulary on candidate lengths (a (2k+1)-way explode of its
  length; a hit explodes only its own) and the built-in JVM
  ``levenshtein`` verifies — whole-stage-codegen'd, no Python.

Vocabulary tables are tiny next to the corpus, so the vocabulary side
of both joins is broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def spelling_alternatives(
    probe_tokens: DataFrame,
    vocab: DataFrame,
    max_edit: int = 1,
    token_col: str = "token",
) -> DataFrame:
    """Probe columns + (alt_token, distance, weight), one row per probe
    row and alternative.

    probe_tokens: tokens to expand (column ``token``); every other
                  column passes through, so a probe row may carry its
                  query id and position. Duplicate probe rows expand
                  to duplicate alternatives.
    vocab:        distinct dictionary tokens (column ``token``).

    Exact-match short-circuit per the reference: a probe token present
    in the vocabulary yields only itself at weight 1.0; only absent
    tokens fan out to fuzzy matches at weight 1/(1+d).
    """
    voc = vocab.select(F.col(token_col).alias("alt_token"))
    hits = vocab.select(F.col(token_col).alias("__hit"))
    flagged = probe_tokens.join(
        F.broadcast(hits), F.col(token_col) == F.col("__hit"), "left"
    )
    # length blocking: lev(a,b) <= k  =>  |len(a)-len(b)| <= k; an exact
    # hit only needs its own length, where it finds itself
    tlen = F.length(token_col)
    lens = F.when(F.col("__hit").isNotNull(), F.array(tlen)).otherwise(
        F.array(*[tlen + F.lit(d) for d in range(-max_edit, max_edit + 1)])
    )
    return (
        flagged.withColumn("__len", F.explode(lens))
        .join(
            F.broadcast(voc.withColumn("__len", F.length("alt_token"))),
            "__len",
        )
        # banded 3-arg levenshtein (same early-exit form as
        # autocomplete/scoring): O(len * band) per pair instead of the
        # full DP; returns -1 past the band, so the filter keeps the
        # same pair set with the same distances
        .withColumn(
            "distance",
            F.levenshtein(F.col(token_col), F.col("alt_token"), max_edit),
        )
        .filter(
            (F.col("distance") >= 0)
            & (F.col("__hit").isNull() | (F.col("distance") == 0))
        )
        .select(
            *probe_tokens.columns,
            "alt_token",
            "distance",
            (F.lit(1.0) / (1.0 + F.col("distance"))).alias("weight"),
        )
    )


def synonym_expand(
    tokens: DataFrame,
    synonyms: DataFrame,
    token_col: str = "token",
    keep_identity: bool = True,
) -> DataFrame:
    """(token, alt_token, weight): identity at 1.0 plus synonym rows.

    ``tokens`` may carry a ``weight`` column from an upstream expander;
    weights multiply through the chain (ref: Alternatives.cs:56).
    Synonym tables are small → broadcast.
    """
    if token_col == "alt_token":
        raise ValueError(
            "token_col='alt_token' collides with the output column; "
            "rename the input column first (e.g. alt_token -> token)"
        )
    t = tokens
    if "weight" not in t.columns:
        t = t.withColumn("weight", F.lit(1.0))
    # syn's columns are ALL internally aliased: the input may itself
    # carry alt_token/weight from an upstream expander (the advertised
    # chain), and unqualified names would be AMBIGUOUS_REFERENCEs
    syn = synonyms.select(
        F.col("token").alias("__k"),
        F.col("alt_token").alias("__alt"),
        F.col("weight").alias("__w"),
    )
    mapped = (
        t.join(F.broadcast(syn), t[token_col] == F.col("__k"))
        .select(
            t[token_col],
            F.col("__alt").alias("alt_token"),
            (t["weight"] * F.col("__w")).alias("weight"),
        )
    )
    if not keep_identity:
        return mapped
    identity = t.select(
        token_col, F.col(token_col).alias("alt_token"), F.col("weight")
    )
    return identity.unionByName(mapped)
