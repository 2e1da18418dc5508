"""The benchmark's own tests (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import checks  # noqa: E402
import corpus  # noqa: E402
from metrics import END_TO_END, NAME_RE, PER_LAYER, WORKLOADS  # noqa: E402
from tracer import Tracer, covered, self_time_by_name, self_times  # noqa: E402


def span(i, name, start, end, parent=None):
    return {"id": i, "trace": "t", "name": name, "parent": parent,
            "start": start, "end": end, "attrs": {}}


# -- self-time arithmetic ------------------------------------------------

def test_covered_merges_overlaps():
    assert covered([]) == 0
    assert covered([(0, 1), (2, 3)]) == 2
    assert covered([(0, 2), (1, 3), (5, 6)]) == 4
    assert covered([(0, 10), (2, 3)]) == 10


def test_self_time_subtracts_children_once():
    spans = [
        span(0, "root", 0.0, 10.0),
        span(1, "a", 1.0, 4.0, parent=0),
        span(2, "b", 3.0, 6.0, parent=0),   # overlaps a: union is 1..6
        span(3, "leaf", 1.5, 2.0, parent=1),
        span(4, "c", 9.0, 12.0, parent=0),  # clipped to the parent's end
    ]
    assert self_times(spans) == [10 - 5 - 1, 3 - 0.5, 3, 0.5, 3]
    by_name = self_time_by_name(spans + [span(5, "a", 20.0, 21.0)])
    assert by_name["a"] == 2.5 + 1.0


def test_tracer_records_nesting_and_closes_on_error():
    t = Tracer()
    with t.span("outer"):
        try:
            with t.span("inner"):
                raise ValueError("boom")
        except ValueError:
            pass
    outer, inner = t.spans
    assert inner["parent"] == outer["id"] and outer["parent"] is None
    assert outer["start"] <= inner["start"] <= inner["end"] <= outer["end"]
    assert self_times(t.spans)[0] >= 0


# -- metric names and BENCHMARK.json -----------------------------------

def load_benchmark():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_names_are_valid():
    for name in list(END_TO_END) + list(PER_LAYER) + list(WORKLOADS):
        assert NAME_RE.match(name), name


def test_benchmark_json_matches_registry():
    b = load_benchmark()
    assert set(b) == {"command", "paths", "run_seconds", "workloads",
                      "end_to_end", "per_layer"}
    for w in b["workloads"]:
        assert set(w) == {"name", "why"} and w["name"] in WORKLOADS
        assert len(w["why"]) <= 200 and "\n" not in w["why"]
    e2e = {m["name"]: m for m in b["end_to_end"]}
    assert list(e2e) == list(END_TO_END)
    for name, m in e2e.items():
        assert (m["unit"], m["better"]) == END_TO_END[name][:2]
        assert 0 < m["bound"] <= 0.25
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in e2e.values())
    layers = {m["name"]: m for m in b["per_layer"]}
    assert list(layers) == list(PER_LAYER)
    for name, m in layers.items():
        assert set(m) == {"name", "unit", "better"}
        assert (m["unit"], m["better"]) == PER_LAYER[name][:2]


# -- seeded corpus -----------------------------------------------------

def corpus_digest(tmp_path, name, docs):
    paths = corpus.write_corpus(docs, str(tmp_path / name), 2)
    h = hashlib.sha256()
    for p in paths:
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def test_same_seed_same_bytes_other_seed_differs(tmp_path):
    a = corpus_digest(tmp_path, "a", corpus.article_docs(5, 60))
    b = corpus_digest(tmp_path, "b", corpus.article_docs(5, 60))
    c = corpus_digest(tmp_path, "c", corpus.article_docs(6, 60))
    assert a == b != c


def test_giant_corpus_is_seeded_and_size_stratified(tmp_path):
    docs = corpus.giant_docs(3, corpus.GIANT_BINS)
    again = corpus.giant_docs(3, corpus.GIANT_BINS)
    assert corpus_digest(tmp_path, "a", docs) == corpus_digest(tmp_path, "b", again)
    other = corpus.giant_docs(4, corpus.GIANT_BINS)
    assert corpus_digest(tmp_path, "c", other) != corpus_digest(tmp_path, "a", docs)
    width = (corpus.GIANT_MAX - corpus.GIANT_MIN + 1) / corpus.GIANT_BINS
    bins = sorted(
        min(int((corpus.element_count(d) - corpus.GIANT_MIN) / width), corpus.GIANT_BINS - 1)
        for d in docs
    )
    assert bins == list(range(corpus.GIANT_BINS))


# -- failure accounting ------------------------------------------------

def test_corrupted_digest_is_one_failure():
    expected = {"d1": 1, "d2": 2, "d3": 3}
    good = [("d1", 1, None), ("d2", 2, "reference_throw"), ("d3", 3, None)]
    assert checks.digest_failures(expected, good) == 0
    corrupted = [("d1", 1, None), ("d2", 99, None), ("d3", 3, None)]
    assert checks.digest_failures(expected, corrupted) == 1
    assert checks.digest_failures(expected, good[:2]) == 1          # missing
    assert checks.digest_failures(expected, good + [good[0]]) == 1  # duplicate
    assert checks.digest_failures(expected, [("d1", 1, "boom")] + good[1:]) == 1


def test_corrupted_output_is_one_failure():
    spans = [{"kind": "text", "text": "x", "media_ref": None, "order": 0}]
    want = {"a": checks.as_output("t", spans, None),
            "b": checks.as_output("", [], "reference_throw")}
    got = json.loads(json.dumps(want))
    assert checks.output_failures(want, got) == 0
    got["a"]["spans"][0]["text"] = "y"
    assert checks.output_failures(want, got) == 1


def test_keep_set_failures():
    kept = [("a", "h1"), ("b", "h2")]
    assert checks.keep_set_failures(kept, None) == 0
    assert checks.keep_set_failures(kept + [("c", "h1")], None) == 2
    assert checks.keep_set_failures(kept, {"a", "c"}) == 2


def test_pipeline_and_resume_failures():
    rows = [{"partition_id": b, "docs_in": 5, "docs_out": 5} for b in range(4)]
    summary = {"buckets_run": 4, "docs_out": 20}
    assert checks.pipeline_failures(20, summary, rows, 4) == 0
    assert checks.pipeline_failures(20, summary, rows[:3], 4) == 1 + 5
    lossy = rows[:3] + [{"partition_id": 3, "docs_in": 5, "docs_out": 4}]
    assert checks.pipeline_failures(20, summary, lossy, 4) == 1
    resumed = {"buckets_run": 2, "docs_out": 10}
    assert checks.resume_failures([0, 2], resumed, 20, 20, 20, rows, 10) == 0
    assert checks.resume_failures([0, 2], {"buckets_run": 4, "docs_out": 20},
                                  20, 20, 20, rows, 10) == 2 + 10
    assert checks.resume_failures([0, 2], resumed, 20, 19, 21, rows, 10) == 1 + 2
