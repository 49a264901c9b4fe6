"""entitymatch_spark — a PySpark-native record-linkage / entity-matching engine.

A from-scratch reimplementation of the capabilities of the reference
EntityMatch engine (C#, /root/reference) as an idiomatic Spark DataFrame
pipeline: normalize/tokenize -> inverted-index (posting) + IDF weights ->
blocking (token keys + MinHash-LSH, capped blocks) -> batched
Arrow/pandas pair scoring (Jaro-Winkler, Levenshtein, TF-IDF cosine,
weighted containment) -> transitive clustering via iterative DataFrame
connected components -> stable cluster ids.

Nothing here is a port: the reference's tries, sorted-merge posting joins
and NFA edit lookups are execution strategies for a single process; on
Spark the same semantics are expressed as relational plans that Catalyst
optimizes (hash joins, window gap-and-island, broadcast dictionaries).

The top level re-exports the headline entry points (the README pipeline
diagram's surface) so a user program never needs the module map::

    import entitymatch_spark as em

    spark = em.get_spark()
    result = em.match_pipeline(pages, em.MatchConfig(id_col="url"))
    result.clusters.show()

Deeper dials (operators/, plans/, streaming/, functions/) stay import-
able by module for power users.
"""

from __future__ import annotations

__version__ = "0.1.0"

# Re-exports are LAZY (PEP 562): `import entitymatch_spark` executes in
# microseconds and pulls in nothing beyond this file. This matters twice
# at scale: (a) every executor python worker that unpickles a UDF closure
# imports the defining module, which executes this package __init__ — an
# eager import block would drag pandas + the whole operator surface into
# every task slot's worker for imports most jobs never touch; (b) a
# JVM-only caller (pure column operators, no Arrow stage) never pays the
# pandas import at all. Attribute access resolves through __getattr__
# below and is cached in globals() so the cost is once per process.
_EXPORTS = {
    # session
    "get_spark": "entitymatch_spark.session",
    "ensure_workers_can_import": "entitymatch_spark.session",
    # flagship match pipeline
    "MatchConfig": "entitymatch_spark.plans.pipeline",
    "MatchResult": "entitymatch_spark.plans.pipeline",
    "match_pipeline": "entitymatch_spark.plans.pipeline",
    "prepare_docs": "entitymatch_spark.plans.pipeline",
    "score_pairs": "entitymatch_spark.operators.scoring",
    "connected_components": "entitymatch_spark.operators.clustering",
    "assign_clusters": "entitymatch_spark.operators.clustering",
    # incremental lifecycle (grow / recalibrate / delete / upsert / persist)
    "MatchState": "entitymatch_spark.plans.incremental",
    "IncrementalResult": "entitymatch_spark.plans.incremental",
    "initial_state": "entitymatch_spark.plans.incremental",
    "incremental_match": "entitymatch_spark.plans.incremental",
    "rethreshold": "entitymatch_spark.plans.incremental",
    "remove_docs": "entitymatch_spark.plans.incremental",
    "upsert_pages": "entitymatch_spark.plans.incremental",
    "save_state": "entitymatch_spark.plans.incremental",
    "load_state": "entitymatch_spark.plans.incremental",
    "commit_increment": "entitymatch_spark.plans.incremental",
    # corpus curation / training-data hygiene
    "CurateConfig": "entitymatch_spark.plans.curate",
    "curate": "entitymatch_spark.plans.curate",
    "split_assign": "entitymatch_spark.plans.curate",
    "stratified_sample": "entitymatch_spark.plans.curate",
    "cap_per_group": "entitymatch_spark.plans.curate",
    "contamination_report": "entitymatch_spark.operators.decontam",
    "fuzzy_contamination_report": "entitymatch_spark.operators.decontam",
    "decontaminate": "entitymatch_spark.operators.decontam",
    "exact_dedup": "entitymatch_spark.operators.dedup",
    "dedup_survivors": "entitymatch_spark.operators.dedup",
    "remove_boilerplate_lines": "entitymatch_spark.operators.dedup",
    "duplicate_token_spans": "entitymatch_spark.operators.dedup",
    "strip_duplicate_spans": "entitymatch_spark.operators.dedup",
    "interval_overlap_join": "entitymatch_spark.operators.rangejoin",
    "redact_pii": "entitymatch_spark.operators.pii",
    "canonical_url": "entitymatch_spark.operators.urlnorm",
    "latest_snapshot": "entitymatch_spark.operators.urlnorm",
    "quality_score": "entitymatch_spark.operators.textstats",
    "quality_at_least": "entitymatch_spark.operators.textstats",
    "lang_id": "entitymatch_spark.operators.textstats",
    "token_count": "entitymatch_spark.operators.textstats",
    "repetition_signals": "entitymatch_spark.operators.textstats",
    "group_quantiles": "entitymatch_spark.operators.textstats",
    "unigram_model": "entitymatch_spark.operators.lm",
    "unigram_nll": "entitymatch_spark.operators.lm",
    "bigram_backoff_nll": "entitymatch_spark.operators.lm",
    "ppl_bucket_expr": "entitymatch_spark.operators.lm",
    "token_drift": "entitymatch_spark.operators.drift",
    "drift_summary": "entitymatch_spark.operators.drift",
    # streaming
    "sessionize_stream": "entitymatch_spark.streaming.stateful",
}

__all__ = ["__version__", *_EXPORTS]


# Subpackages reachable as attributes too (`em.operators.dedup`), as
# they were when the eager import block bound them as a side effect.
_SUBMODULES = frozenset(
    {"functions", "operators", "plans", "session", "sources", "streaming"}
)


def __getattr__(name: str):
    import importlib

    if name in _SUBMODULES:
        mod = importlib.import_module(f"{__name__}.{name}")
        globals()[name] = mod
        return mod
    module = _EXPORTS.get(name)
    if module is None:
        raise AttributeError(
            f"module {__name__!r} has no attribute {name!r}"
        )
    obj = getattr(importlib.import_module(module), name)
    globals()[name] = obj
    return obj


def __dir__():
    return sorted(set(globals()) | set(_EXPORTS) | set(_SUBMODULES))
