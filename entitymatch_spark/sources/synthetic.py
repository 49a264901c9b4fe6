"""Deterministic synthetic Common-Crawl-style corpus (FIXTURES.md).

Generates the BASELINE.json input_hint table
    pages(url string, warc_ts timestamp, html binary, text string, lang string)
plus entities / labels / synonyms side tables, entirely from a seeded
PRNG — no wall clock, no unseeded randomness, so every run (and every
partitioning) sees byte-identical content.

Duplicate structure: pages come in clusters of 1..6 near-duplicates of a
base record with controlled perturbations — token drop/swap, 1-char
typos (exercises Levenshtein<=1 semantics of the reference spelling
expander, ref: EntityMatch/EntityMatch/Alternatives.cs:98-112), synonym
substitution (ref: Alternatives.cs:23-61), parenthesized noise +
case/whitespace jitter (both erased by the reference normalizer, ref:
Language.cs:25-35). Cluster membership is recorded in `labels`.

Token frequencies are Zipfian so a few hot tokens create skewed blocks —
the block-cap test surface.
"""

from __future__ import annotations

import datetime as _dt
import random
from dataclasses import dataclass

import pandas as pd

# Reference unit-test vocabulary (ref: AutoComplete/TestEditDistance/UnitTest1.cs:13)
TRIE_TEST_WORDS = ["match", "matcher", "watch", "watcher", "hatch"]

_FILLER = (
    "the of and to in a is that for on with as by at from this it an be are "
    "was were has have had not but all can will one two new more time people "
    "world life city market report story news page data value index search "
    "engine film movie music album game series season episode review guide "
    "price offer deal store shop brand model device phone laptop screen "
    "battery camera travel hotel flight beach mountain river recipe kitchen "
    "garden health doctor school student course lesson science space energy "
    "power light water earth field stone bridge tower street house garden"
).split()

_SYNONYMS = [
    ("movie", "film", 0.9),
    ("film", "movie", 0.9),
    ("shop", "store", 0.9),
    ("store", "shop", 0.9),
    ("photo", "picture", 0.85),
    ("picture", "photo", 0.85),
    ("mouse", "mice", 0.9),  # the reference's own example (TestMatcher/Program.cs:279)
    ("fast", "quick", 0.8),
    ("quick", "fast", 0.8),
    ("big", "large", 0.85),
    ("large", "big", 0.85),
]
# Synonym maps REPLACE a key token's alternatives (plans/matcher.py
# interpret semantics, mirroring the reference's mouse -> {mouse 1.0,
# mice 0.9}): every key needs its identity row at weight 1.0 or the
# exact match itself is lost when the map is fed to interpret.
_SYNONYMS += [(t, t, 1.0) for t in sorted({t for t, _, _ in _SYNONYMS})]

_LANGS = ["en"] * 16 + ["de", "fr"]


@dataclass
class CorpusFixture:
    pages: pd.DataFrame  # url, warc_ts, html, text, lang, cluster_id (ground truth)
    entities: pd.DataFrame  # entity_id, type, phrase
    labels: pd.DataFrame  # url_a, url_b, is_match, block_key
    synonyms: pd.DataFrame  # token, alt_token, weight


def _zipf_word(rng: random.Random, vocab: list[str]) -> str:
    # Zipf-ish: rank r with p ~ 1/(r+1); rejection-free via power transform.
    r = int(len(vocab) * (rng.random() ** 2.2))
    return vocab[min(r, len(vocab) - 1)]


def _typo(rng: random.Random, w: str) -> str:
    """One random char edit (insert/delete/substitute) — Levenshtein distance 1."""
    if len(w) < 3:
        return w + rng.choice("abcdefgh")
    i = rng.randrange(len(w))
    op = rng.randrange(3)
    alpha = "abcdefghijklmnopqrstuvwxyz"
    if op == 0:
        return w[:i] + rng.choice(alpha) + w[i:]
    if op == 1:
        return w[:i] + w[i + 1 :]
    c = rng.choice(alpha.replace(w[i], "a" if w[i] != "a" else "b"))
    return w[:i] + c + w[i + 1 :]


def _perturb(rng: random.Random, tokens: list[str], keep: set[str], syn: dict[str, tuple[str, float]]) -> list[str]:
    """1-2 mild edits on a copy of `tokens`; words in `keep` are immutable."""
    out = list(tokens)
    for _ in range(rng.randint(1, 2)):
        kind = rng.randrange(5)
        idxs = [i for i, t in enumerate(out) if t not in keep]
        if not idxs:
            break
        i = rng.choice(idxs)
        if kind == 0 and len(out) > 8:  # drop
            out.pop(i)
        elif kind == 1 and i + 1 < len(out):  # adjacent swap
            out[i], out[i + 1] = out[i + 1], out[i]
        elif kind == 2:  # typo (distance 1)
            out[i] = _typo(rng, out[i])
        elif kind == 3 and out[i] in syn:  # synonym substitution
            out[i] = syn[out[i]][0]
        else:  # duplicate a token (insert)
            out.insert(i, out[i])
    return out


def _stylize(rng: random.Random, text: str) -> str:
    """Surface noise the normalizer must erase: case, pad, parens aside."""
    k = rng.randrange(4)
    if k == 0:
        text = text.capitalize()
    elif k == 1:
        words = text.split()
        j = rng.randrange(len(words))
        words[j] = words[j].upper()
        text = " ".join(words)
    if rng.random() < 0.5:
        words = text.split()
        j = rng.randrange(len(words) + 1)
        aside = f"({rng.choice(_FILLER)} {rng.randrange(1990, 2026)})"
        words.insert(j, aside)
        text = " ".join(words)
    if rng.random() < 0.3:
        text = "  " + text + " "
    return text


def generate_corpus(
    n_clusters: int = 200,
    seed: int = 42,
    max_members: int = 6,
    hard_negative_groups: int = 12,
) -> CorpusFixture:
    rng = random.Random(seed)
    vocab = list(_FILLER) + TRIE_TEST_WORDS
    syn = {a: (b, w) for a, b, w in _SYNONYMS}

    # --- entities: 1-8 word phrases (DVD.txt analog) ------------------------
    ent_rows = []
    for eid in range(max(40, n_clusters // 2)):
        n = rng.randint(1, 8)
        words = [_zipf_word(rng, vocab) for _ in range(n)]
        if rng.random() < 0.5:
            words.append(f"title{eid}")  # rare discriminating word
        ent_rows.append((eid, "DVD", " ".join(words)))
    for w in TRIE_TEST_WORDS:  # the reference unit-test vocabulary, verbatim
        ent_rows.append((len(ent_rows), "DVD", w))
    entities = pd.DataFrame(ent_rows, columns=["entity_id", "type", "phrase"])

    # shared-rare tokens to build cross-cluster hard negatives
    shared_rare = [f"sharedrare{g}" for g in range(hard_negative_groups)]
    group_of_cluster: dict[int, int] = {}

    epoch = _dt.datetime(2024, 1, 1)
    page_rows = []
    cluster_urls: dict[int, list[str]] = {}
    cluster_block: dict[int, str] = {}
    row_idx = 0
    for cid in range(n_clusters):
        uniq = f"uniq{cid}tok"
        cluster_block[cid] = uniq
        phrase = ent_rows[cid % len(ent_rows)][2]
        n_fill = rng.randint(24, 60)
        base = [_zipf_word(rng, vocab) for _ in range(n_fill)]
        ins = rng.randrange(len(base))
        base[ins:ins] = phrase.split()
        base.insert(rng.randrange(len(base)), uniq)
        if rng.random() < 0.4:
            g = rng.randrange(hard_negative_groups)
            group_of_cluster[cid] = g
            base.insert(rng.randrange(len(base)), shared_rare[g])
        keep = {uniq} | set(shared_rare)

        n_members = rng.randint(1, max_members)
        urls = []
        for m in range(n_members):
            toks = list(base) if m == 0 else _perturb(rng, base, keep, syn)
            text = _stylize(rng, " ".join(toks))
            url = f"https://site{cid}.example/p/{m}"
            ts = epoch + _dt.timedelta(seconds=row_idx * 137)
            # realistic-ish page wrapper: head (title/style) and script
            # are non-content; body carries the entity-escaped text.
            # functions/html.html_to_text inverts this byte-identically.
            esc = text.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
            html = (
                "<html><head><title>doc</title>"
                "<style>p{margin:0}</style></head>"
                f"<body><p class=\"c{cid % 7}\">{esc}</p>"
                "<script>var t=1;</script></body></html>"
            ).encode("utf-8")
            lang = _LANGS[rng.randrange(len(_LANGS))]
            page_rows.append((url, ts, html, text, lang, cid))
            urls.append(url)
            row_idx += 1
        cluster_urls[cid] = urls

    pages = pd.DataFrame(
        page_rows, columns=["url", "warc_ts", "html", "text", "lang", "cluster_id"]
    )

    # --- labels: positives = intra-cluster pairs; negatives = cross-cluster
    # pairs sharing a planted rare token (same blocking key) -----------------
    lab = []
    for cid, urls in cluster_urls.items():
        for i in range(len(urls)):
            for j in range(i + 1, len(urls)):
                a, b = sorted((urls[i], urls[j]))
                lab.append((a, b, True, cluster_block[cid]))
    by_group: dict[int, list[int]] = {}
    for cid, g in group_of_cluster.items():
        by_group.setdefault(g, []).append(cid)
    for g, cids in by_group.items():
        for i in range(len(cids)):
            for j in range(i + 1, len(cids)):
                ua = rng.choice(cluster_urls[cids[i]])
                ub = rng.choice(cluster_urls[cids[j]])
                a, b = sorted((ua, ub))
                lab.append((a, b, False, shared_rare[g]))
    labels = pd.DataFrame(lab, columns=["url_a", "url_b", "is_match", "block_key"])

    synonyms = pd.DataFrame(_SYNONYMS, columns=["token", "alt_token", "weight"])
    return CorpusFixture(pages=pages, entities=entities, labels=labels, synonyms=synonyms)


def corpus_to_spark(spark, fixture: CorpusFixture):
    """Materialize the fixture as Spark DataFrames with explicit schemas."""
    pages = spark.createDataFrame(
        fixture.pages,
        schema="url string, warc_ts timestamp, html binary, text string, lang string, cluster_id long",
    )
    entities = spark.createDataFrame(
        fixture.entities, schema="entity_id long, type string, phrase string"
    )
    labels = spark.createDataFrame(
        fixture.labels, schema="url_a string, url_b string, is_match boolean, block_key string"
    )
    synonyms = spark.createDataFrame(
        fixture.synonyms, schema="token string, alt_token string, weight double"
    )
    return {"pages": pages, "entities": entities, "labels": labels, "synonyms": synonyms}
