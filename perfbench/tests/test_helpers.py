"""Tests of the benchmark's own helpers (no Spark session needed).

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import itertools
import json
from pathlib import Path

import pytest

from perfbench import run
from perfbench.measure import stage_walls, staged_content_bytes
from perfbench.stats import Tally, beyond, highest_tail, iqr_share, percentile
from perfbench.trace import Span, Tracer, covered, self_times
from perfbench.workloads import (
    BATCH_SIZE,
    DELTA_DOCS,
    WORKLOADS,
    batch_queries,
    delta_probe,
    doc_terms,
    head_queries,
    point_stream,
    tail_queries,
)
from searchenginesimple_spark.sources.corpus import VOCAB_SIZE

QUERY = WORKLOADS["query"]


def _take(gen, n):
    return list(itertools.islice(gen, n))


# ---- generators -------------------------------------------------------------


@pytest.mark.parametrize("w", sorted(WORKLOADS))
def test_point_stream_deterministic_per_seed(w):
    wl = WORKLOADS[w]
    assert _take(point_stream(wl, 5), 60) == _take(point_stream(wl, 5), 60)
    assert _take(point_stream(wl, 5), 60) != _take(point_stream(wl, 6), 60)


def test_point_stream_mix_is_exact_per_block():
    items = _take(point_stream(QUERY, 3), 100)
    for b in range(10):
        kinds = [k for k, _q in items[10 * b : 10 * b + 10]]
        assert kinds.count("head") == round(10 * QUERY.head_share)
    tails = [q for k, q in items if k == "tail"]
    assert len({q.split()[1] for q in tails}) == len(tails), "a tail term repeated"


def test_head_and_tail_terms_come_from_the_generated_docs():
    heads = head_queries(9, QUERY.n_docs, 4)
    assert heads == head_queries(9, QUERY.n_docs, 4) != head_queries(10, QUERY.n_docs, 4)
    vocab = set()
    for i in range(QUERY.n_docs):
        vocab.update(doc_terms(i, 9))
    for q in heads + _take(tail_queries(9, 0, QUERY.n_docs), 10):
        assert set(q.split()) <= vocab, q


def test_delta_probe_occurs_only_in_the_delta():
    probe = delta_probe(2, QUERY)
    assert probe == delta_probe(2, QUERY) != delta_probe(3, QUERY)
    hits = [i for i in range(QUERY.n_docs + DELTA_DOCS) if probe in doc_terms(i, 2)]
    assert hits and min(hits) >= QUERY.n_docs


def test_batch_queries_cover_the_vocabulary():
    qs = batch_queries(1, 0, BATCH_SIZE)
    assert qs == batch_queries(1, 0, BATCH_SIZE)
    assert qs != batch_queries(2, 0, BATCH_SIZE) and qs != batch_queries(1, 1, BATCH_SIZE)
    assert all(len(set(q.split())) == 3 for q in qs)
    assert len({t for q in qs for t in q.split()}) == VOCAB_SIZE


# ---- statistics -------------------------------------------------------------


def test_percentile_nearest_rank():
    xs = list(range(1, 101))
    assert percentile(xs, 50) == 50
    assert percentile(xs, 75) == 75
    assert percentile(xs, 100) == 100
    assert percentile([3.0], 99) == 3.0


@pytest.mark.parametrize(
    "n, want",
    [(1000, 99.0), (999, 95.0), (200, 95.0), (100, 90.0), (99, 75.0), (40, 75.0),
     (39, 50.0), (20, 50.0), (19, None)],
)
def test_highest_tail_has_ten_samples_beyond(n, want):
    got = highest_tail(n)
    assert got == want
    if got is not None:
        assert beyond(n, got) >= 10


def test_tail_percentile_of_the_run_keeps_ten_beyond_at_the_planned_count():
    # a run serves at least 40 point queries; p75 then has >= 10 beyond it
    assert beyond(40, run.TAIL_PCT) >= 10


def test_iqr_share():
    assert iqr_share([10.0] * 10) == 0.0
    assert iqr_share([9.0, 10.0, 11.0, 10.0, 10.0]) == pytest.approx(0.1)


def test_failed_frac_accounting():
    t = Tally()
    assert t.failed_frac == 0.0
    assert t.call("fine", lambda: 3) == 3
    t.ok(True, "check passes")
    t.ok(False, "check fails")

    def boom():
        raise RuntimeError("x")

    assert t.call("raises", boom) is None
    assert (t.attempted, t.failed) == (4, 2)
    assert t.failed_frac == 0.5
    assert t.reasons == ["check fails", "raises raised"]


# ---- spans ------------------------------------------------------------------


def test_covered_merges_and_clips():
    assert covered(0, 10, [(1, 3), (2, 5), (8, 12)]) == 6
    assert covered(0, 10, []) == 0
    assert covered(0, 10, [(11, 12), (-3, -1)]) == 0


def test_self_time_subtracts_direct_children_only():
    spans = [
        Span(1, 0, None, "op", 0.0, 10.0),
        Span(1, 1, 0, "a", 1.0, 5.0),
        Span(1, 2, 1, "a.inner", 2.0, 4.0),
        Span(1, 3, 0, "b", 6.0, 7.0),
        Span(2, 4, None, "b", 20.0, 23.0),
    ]
    st = self_times(spans)
    assert st["op"] == pytest.approx(10 - 4 - 1)
    assert st["a"] == pytest.approx(4 - 2)
    assert st["a.inner"] == pytest.approx(2)
    assert st["b"] == pytest.approx(1 + 3)  # summed over both spans


def test_tracer_nesting_and_trace_ids():
    t = Tracer(True)
    with t.span("op"):
        with t.span("child"):
            pass
    with t.span("op"):
        pass
    a, b, c = t.spans
    assert (a.parent_id, b.parent_id, c.parent_id) == (None, a.span_id, None)
    assert a.trace_id == b.trace_id != c.trace_id
    assert a.start <= b.start <= b.end <= a.end
    off = Tracer(False)
    with off.span("op"):
        pass
    assert off.spans == []


# ---- build metrics and the benchmark file -----------------------------------


def test_stage_walls_from_build_metrics_rows():
    rows = [
        {"stage": "tf_shard", "shard": 0, "wall_ms": 3000, "bytes": 700},
        {"stage": "tf_shard", "shard": 1, "wall_ms": 3000, "bytes": 300},
        {"stage": "tf", "shard": -1, "wall_ms": 3000, "bytes": 0},
        {"stage": "dedup", "shard": -1, "wall_ms": 2000, "bytes": 0},
        {"stage": "shards", "shard": 0, "wall_ms": 4000, "bytes": 10},
        {"stage": "shards", "shard": 1, "wall_ms": 4000, "bytes": 10},
        {"stage": "finalize", "shard": -1, "wall_ms": 10000, "bytes": 0},
    ]
    assert stage_walls(rows) == {"tf": 3.0, "dedup": 2.0, "shards": 4.0, "finalize": 1.0}
    assert staged_content_bytes(rows) == 1000


def test_benchmark_json_matches_what_the_run_prints():
    bench = json.loads((Path(run.ROOT) / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.LAYER_UNITS
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
