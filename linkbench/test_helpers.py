"""Tests of the benchmark's own helpers. None starts Spark:

    python3 -m pytest linkbench -q
"""

from __future__ import annotations

import pytest

from linkbench.helpers import (
    Span,
    Tracer,
    bytes_written,
    file_sizes,
    lookup_requests,
    make_inputs,
    reset_state_copy,
    self_times,
    tail_percentile,
)


def test_tail_percentile_leaves_ten_samples_beyond():
    xs = [float(i) for i in range(1, 101)]
    pct, v = tail_percentile(list(reversed(xs)))
    assert (pct, v) == (90.0, 90.0)
    assert sum(x > v for x in xs) == 10


def test_tail_percentile_needs_eleven_samples():
    xs = [float(i) for i in range(11)]
    pct, v = tail_percentile(xs)
    assert v == 0.0 and pct == pytest.approx(100 / 11)
    assert sum(x > v for x in xs) == 10
    with pytest.raises(ValueError):
        tail_percentile(xs[:10])


def test_self_times_subtract_time_covered_by_children():
    spans = [
        Span("op", 0, None, "bench.full_link", 0.0, 10.0),
        Span("op", 1, 0, "operators.blocking.blocking_keys", 1.0, 4.0),
        # overlaps its sibling: the overlap is covered once
        Span("op", 2, 0, "operators.blocking.candidate_pairs", 3.0, 6.0),
        Span("op", 3, 2, "operators.scoring.score_pairs", 4.0, 5.0),
        # ends after its parent: only the part inside the parent counts
        Span("op", 4, 0, "operators.clustering.connected_components", 9.0, 12.0),
    ]
    st = self_times(spans)
    assert st["bench"] == pytest.approx(10.0 - 5.0 - 1.0)
    assert st["operators.blocking"] == pytest.approx(3.0 + (3.0 - 1.0))
    assert st["operators.scoring"] == pytest.approx(1.0)
    assert st["operators.clustering"] == pytest.approx(3.0)


def test_tracer_nests_spans_under_one_operation():
    ticks = iter(range(100))
    tr = Tracer(clock=lambda: float(next(ticks)))
    with tr.span("bench.lookup", op="lookup-1"):
        with tr.span("plans.matcher.interpret"):
            pass
    with pytest.raises(ValueError):
        with tr.span("plans.matcher.interpret"):
            pass
    root, child = tr.spans
    assert child.parent == root.id and child.op == root.op == "lookup-1"
    assert child.layer == "plans.matcher"
    assert self_times(tr.spans) == {"bench": 2.0, "plans.matcher": 1.0}


def test_inputs_are_a_function_of_the_seed():
    a = make_inputs(5, 200, 20, 4, 3)
    b = make_inputs(5, 200, 20, 4, 3)
    assert a.pages.equals(b.pages) and a.labels.equals(b.labels)
    assert a.batch_clusters == b.batch_clusters
    assert a.requests == b.requests  # planted entity and position included
    assert len(a.pages) == 200 and int(a.batch_mask.sum()) == 20
    c = make_inputs(6, 200, 20, 4, 3)
    assert c.requests != a.requests and not c.pages.equals(a.pages)


def test_lookup_requests_plant_a_typo_and_a_synonym():
    entities = [
        (0, "alpha bravo charlie"),
        (1, "delta echo foxtrot movie"),
        (2, "the the"),  # too short to plant
    ]
    synonyms = [("film", "movie", 0.9), ("movie", "film", 0.9), ("film", "film", 1.0)]
    reqs = lookup_requests(entities, synonyms, seed=3, n_requests=5, per_request=4)
    assert reqs == lookup_requests(entities, synonyms, seed=3, n_requests=5, per_request=4)
    queries = [q for r in reqs for q in r]
    assert len(queries) == 20 and len({q.query_id for q in queries}) == 20
    for q in queries:
        planted = dict(entities)[q.entity_id].split()
        got = q.text.split()[q.start:q.start + len(planted)]
        diffs = [(g, p) for g, p in zip(got, planted) if g != p]
        assert 1 <= len(diffs) <= 2
        for g, p in diffs:
            one_char = len(g) == len(p) and sum(x != y for x, y in zip(g, p)) == 1
            assert one_char or (g, p) == ("film", "movie")


def test_reset_state_copy_discards_a_commit(tmp_path):
    saved = tmp_path / "saved"
    (saved / "clusters").mkdir(parents=True)
    (saved / "clusters" / "part-0.parquet").write_bytes(b"abc")
    work = reset_state_copy(saved, tmp_path / "run")
    before = file_sizes(work)
    # what an in-place commit does: new files appear, old ones go
    (work / "clusters" / "part-1.parquet").write_bytes(b"12345")
    (work / "clusters" / "part-0.parquet").unlink()
    assert bytes_written(before, file_sizes(work)) == 5
    reset_state_copy(saved, work)
    assert file_sizes(work) == file_sizes(saved)
    assert (work / "clusters" / "part-0.parquet").read_bytes() == b"abc"
