"""Spark-free helpers of the benchmark: latency statistics, spans and
their self time, input and lookup-request generation, the state-copy
reset and process-tree memory. Nothing here starts a JVM, so the helper
tests run in plain pytest."""

from __future__ import annotations

import json
import os
import random
import shutil
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass
from pathlib import Path

# --- latency statistics -------------------------------------------------

TAIL_BEYOND = 10


def tail_percentile(samples: list[float]) -> tuple[float, float]:
    """(percentile, value) at the highest percentile of ``samples`` that
    still has at least ``TAIL_BEYOND`` samples above it.

    The value at sorted index ``i`` has ``n - 1 - i`` samples beyond it,
    so the highest qualifying index is ``n - 11``; its percentile is the
    share of samples at or below it. Fewer than 11 samples have no such
    percentile, and that is an error rather than a silent maximum.
    """
    xs = sorted(samples)
    n = len(xs)
    if n < TAIL_BEYOND + 1:
        raise ValueError(
            f"a tail needs at least {TAIL_BEYOND + 1} samples, got {n}"
        )
    i = n - TAIL_BEYOND - 1
    return 100.0 * (i + 1) / n, xs[i]


# --- spans --------------------------------------------------------------


@dataclass
class Span:
    op: str            # id shared by every span of one operation
    id: int
    parent: int | None
    name: str          # "<layer>.<call>", e.g. "operators.blocking.candidate_pairs"
    start: float
    end: float

    @property
    def layer(self) -> str:
        return self.name.rsplit(".", 1)[0] if "." in self.name else self.name


class Tracer:
    """In-memory span recorder. ``span`` nests through a stack, so a
    span opened inside another records it as its parent; the root span
    of an operation names the operation id its children inherit."""

    def __init__(self, clock=time.perf_counter):
        self.clock = clock
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, op: str | None = None):
        parent = self._stack[-1] if self._stack else None
        if op is None:
            if parent is None:
                raise ValueError(f"root span {name!r} needs an operation id")
            op = parent.op
        s = Span(op, len(self.spans), parent.id if parent else None, name,
                 self.clock(), float("nan"))
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = self.clock()
            self._stack.pop()

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[str, float]:
    """Seconds per layer that no child span covers: a span's duration
    minus the part of its interval its children cover, summed by layer."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out: dict[str, float] = {}
    for s in spans:
        kids = [(c.start, c.end) for c in children.get(s.id, [])]
        own = (s.end - s.start) - _covered(kids, s.start, s.end)
        out[s.layer] = out.get(s.layer, 0.0) + own
    return out


# --- lookup requests ----------------------------------------------------

# Words around the planted phrase. None of them occurs in the generated
# entity phrases, so they never outscore the planted entity at its start.
_QUERY_FILLER = ["please", "find", "show", "me", "about", "now", "today", "tonight"]
_ALPHA = "abcdefghijklmnopqrstuvwxyz"


@dataclass(frozen=True)
class Query:
    query_id: int
    text: str
    entity_id: int   # planted entity
    start: int       # token position of the planted phrase in ``text``


def _typo(rng: random.Random, word: str, vocab: set[str]) -> str:
    """A one-character substitution of ``word`` that is not itself a
    vocabulary word (an in-vocabulary typo would short-circuit the
    spelling expander and never reach ``word``)."""
    for _ in range(32):
        i = rng.randrange(len(word))
        c = rng.choice(_ALPHA.replace(word[i], ""))
        out = word[:i] + c + word[i + 1:]
        if out not in vocab:
            return out
    return word


def lookup_requests(
    entities: list[tuple[int, str]],
    synonyms: list[tuple[str, str, float]],
    seed: int,
    n_requests: int,
    per_request: int,
) -> list[list[Query]]:
    """Deterministic lookup traffic: ``n_requests`` requests of
    ``per_request`` queries. Each query plants one entity phrase between
    filler words, with a one-character typo in one of its words and, when
    one of its words has a synonym, that word swapped for the synonym.

    ``entities``: (entity_id, phrase). Only phrases of 3+ words that hold
    a word no other phrase has, and that start with no other whole phrase
    (which would take the top span at the planted position), are planted.
    The typo spares the first word, so the planted span starts where the
    phrase does.
    """
    rng = random.Random(seed)
    owners: dict[str, set[int]] = {}
    for eid, phrase in entities:
        for w in phrase.lower().split():
            owners.setdefault(w, set()).add(eid)
    phrases = {tuple(p.lower().split()) for _, p in entities}
    pool = sorted(
        (eid, ws) for eid, ws in ((e, p.lower().split()) for e, p in entities)
        if len(ws) >= 3
        and any(owners[w] == {eid} for w in ws)
        and not any(tuple(ws[:k]) in phrases for k in range(1, len(ws)))
    )
    if not pool:
        raise ValueError("no distinctive entity phrase of 3+ words to plant")
    vocab = set(owners)
    # query word -> entity word it expands to: interpret replaces a mapped
    # query token by its synonyms, so the query carries the synonym key
    swap: dict[str, str] = {}
    for key, alt, _ in synonyms:
        if key != alt:
            swap.setdefault(alt, key)
    out, qid = [], 0
    for _ in range(n_requests):
        req = []
        for _ in range(per_request):
            eid, words = pool[rng.randrange(len(pool))]
            words = list(words)
            long = [i for i, w in enumerate(words) if i > 0 and len(w) >= 4]
            if long:
                i = rng.choice(long)
                words[i] = _typo(rng, words[i], vocab)
            swappable = [i for i, w in enumerate(words) if w in swap]
            if swappable:
                i = rng.choice(swappable)
                words[i] = swap[words[i]]
            pre = [rng.choice(_QUERY_FILLER) for _ in range(rng.randint(0, 3))]
            post = [rng.choice(_QUERY_FILLER) for _ in range(rng.randint(0, 3))]
            req.append(Query(qid, " ".join(pre + words + post), eid, len(pre)))
            qid += 1
        out.append(req)
    return out


def recall_hits(queries: list[Query], rows) -> int:
    """Queries whose top span at the planted start is the planted entity.
    ``rows``: interpret output rows (query_id, entity_id, start, ...)."""
    top = {(r["query_id"], r["start"]): r["entity_id"] for r in rows}
    return sum(top.get((q.query_id, q.start)) == q.entity_id for q in queries)


# --- inputs -------------------------------------------------------------


@dataclass
class Inputs:
    pages: "pd.DataFrame"       # exactly n_docs rows of the synthetic corpus
    labels: "pd.DataFrame"      # labeled pairs with both urls in ``pages``
    batch_clusters: list[int]   # whole clusters held out as the grow batch
    entities: "pd.DataFrame"
    synonyms: "pd.DataFrame"
    requests: list[list[Query]]

    @property
    def batch_mask(self) -> "pd.Series":
        return self.pages["cluster_id"].isin(self.batch_clusters)


def make_inputs(
    seed: int, n_docs: int, batch_docs: int, n_requests: int, per_request: int
) -> Inputs:
    """Every input of one run, from ``seed`` alone.

    The corpus is cut to exactly ``n_docs`` pages (the last cluster may
    lose members) so that every seed links the same amount of text, and
    the batch is a random set of whole clusters adding up to
    ``batch_docs`` pages when the cluster sizes allow it.
    """
    from entitymatch_spark.sources.synthetic import generate_corpus

    # clusters hold 3.5 pages on average, so n_docs // 2 clusters is ample
    fx = generate_corpus(n_clusters=max(40, n_docs // 2), seed=seed)
    if len(fx.pages) < n_docs:
        raise ValueError(f"corpus has {len(fx.pages)} pages, need {n_docs}")
    pages = fx.pages.iloc[:n_docs].reset_index(drop=True)
    urls = set(pages["url"])
    labels = fx.labels[
        fx.labels["url_a"].isin(urls) & fx.labels["url_b"].isin(urls)
    ].reset_index(drop=True)

    sizes = pages.groupby("cluster_id").size()
    order = sorted(int(c) for c in sizes.index)
    rng = random.Random(seed)
    rng.shuffle(order)
    picked, total = [], 0
    for c in order:
        if total + int(sizes[c]) <= batch_docs:
            picked.append(c)
            total += int(sizes[c])
        if total == batch_docs:
            break

    requests = lookup_requests(
        [(int(e), p) for e, p in zip(fx.entities["entity_id"], fx.entities["phrase"])],
        list(fx.synonyms.itertuples(index=False, name=None)),
        seed, n_requests, per_request,
    )
    return Inputs(pages, labels, sorted(picked), fx.entities, fx.synonyms, requests)


# --- state copies -------------------------------------------------------


def reset_state_copy(saved: Path, work: Path) -> Path:
    """Make ``work`` a fresh copy of the saved state at ``saved``:
    ``commit_increment`` mutates a state in place, so every timed grow
    starts from its own copy."""
    if work.exists():
        shutil.rmtree(work)
    shutil.copytree(saved, work)
    return work


def file_sizes(root: Path) -> dict[str, int]:
    """Relative path -> size of every regular file under ``root``."""
    return {
        str(p.relative_to(root)): p.stat().st_size
        for p in root.rglob("*") if p.is_file()
    }


def bytes_written(before: dict[str, int], after: dict[str, int]) -> int:
    """Bytes of files that are new or changed size between two
    :func:`file_sizes` snapshots."""
    return sum(n for p, n in after.items() if before.get(p) != n)


# --- process-tree memory -----------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; the fields after it are fixed
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def tree_rss_kb(root_pid: int) -> int:
    """Resident memory (kB) of ``root_pid`` and all its descendants."""
    kids = _children()
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            continue
    return total


class PeakRss:
    """Samples :func:`tree_rss_kb` of one process tree on a thread and
    keeps the peak; use as a context manager."""

    def __init__(self, root_pid: int, interval: float = 0.2):
        self.root_pid = root_pid
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak_kb = max(self.peak_kb, tree_rss_kb(self.root_pid))
            if self._stop.wait(self.interval):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak_kb = max(self.peak_kb, tree_rss_kb(self.root_pid))
