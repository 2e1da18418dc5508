"""Seeded load generator for the benchmark workloads.

Every corpus is a pure function of ``(workload, seed, size)``: documents
come from ``boilerpipe_coffee_spark.fixtures.generate_doc`` and are
written with pyarrow (no Spark) as a fixed number of parquet files, so
the same arguments give byte-identical files and building a corpus is
never part of a timed region.

- ``article_mix``: the FIXTURES.md stratified interleaved corpus -- doc
  indices ``0..n-1``, so every quirk stratum appears in its fixed share
  (giant docs 2%, at most 600 elements; about 20% media spans).
- ``giant_docs``: giant-stratum indices only (``i % 100`` in 50..51),
  generated with the element cap raised to 5,000.  Candidates are
  binned by element count and an equal number is taken from each of 24
  narrow bins, so every seed gets nearly the same size mix and the work
  of a run stays level from seed to seed.
- ``pipeline_job``: an ``article_mix``-shaped corpus of its own size.
"""

from __future__ import annotations

import hashlib
import json
import os

import pyarrow as pa
import pyarrow.parquet as pq

from boilerpipe_coffee_spark.fixtures import generate_doc

ARTICLE_GIANT_MAX = 600
GIANT_MAX = 5000
GIANT_MIN = 120  # fixtures: giant docs have randint(120, giant_max) elements
GIANT_BINS = 24

SPAN_TYPE = pa.struct(
    [
        pa.field("kind", pa.string()),
        pa.field("text", pa.string()),
        pa.field("media_ref", pa.string()),
        pa.field("offset", pa.int32()),
    ]
)
SCHEMA = pa.schema(
    [pa.field("doc_id", pa.string(), nullable=False),
     pa.field("spans", pa.list_(SPAN_TYPE))]
)


def html_of(doc: dict) -> str:
    """The document's HTML: its text spans concatenated in offset order."""
    texts = sorted(
        (s for s in doc["spans"] if s["kind"] == "text"), key=lambda s: s["offset"]
    )
    return "".join(s["text"] or "" for s in texts)


def element_count(doc: dict) -> int:
    """Body elements of a giant-stratum doc: each is one <p> or <div>."""
    html = html_of(doc)
    return html.count("</p>") + html.count("</div>")


def article_docs(seed: int, n: int) -> list[dict]:
    return [generate_doc(i, seed, ARTICLE_GIANT_MAX) for i in range(n)]


def giant_docs(seed: int, n: int) -> list[dict]:
    """``n`` giant-stratum docs, ``n / GIANT_BINS`` from each equal-width
    element-count bin over [GIANT_MIN, GIANT_MAX]."""
    if n % GIANT_BINS:
        raise ValueError(f"giant corpus size must be a multiple of {GIANT_BINS}")
    per_bin = n // GIANT_BINS
    width = (GIANT_MAX - GIANT_MIN + 1) / GIANT_BINS
    bins: list[list[dict]] = [[] for _ in range(GIANT_BINS)]
    k = 0
    while any(len(b) < per_bin for b in bins):
        idx = 100 * (k // 2) + 50 + k % 2
        k += 1
        doc = generate_doc(idx, seed, GIANT_MAX)
        b = min(int((element_count(doc) - GIANT_MIN) / width), GIANT_BINS - 1)
        if len(bins[b]) < per_bin:
            bins[b].append(doc)
    return [d for b in bins for d in b]


def build_docs(workload: str, seed: int, n: int) -> list[dict]:
    if workload == "giant_docs":
        return giant_docs(seed, n)
    if workload in ("article_mix", "pipeline_job"):
        return article_docs(seed, n)
    raise ValueError(f"unknown workload {workload!r}")


def digest(docs: list[dict]) -> str:
    """Short content digest of a corpus."""
    h = hashlib.sha256()
    for d in docs:
        h.update(json.dumps(d, sort_keys=True).encode())
    return h.hexdigest()[:12]


def balanced_files(docs: list[dict], n_files: int) -> list[list[dict]]:
    """Split ``docs`` into ``n_files`` groups of near-equal HTML bytes
    (largest doc first, each to the lightest group), each group in
    corpus order -- so every seed gets the same per-file work."""
    sizes = [len(html_of(d)) for d in docs]
    groups: list[list[int]] = [[] for _ in range(n_files)]
    load = [0] * n_files
    for i in sorted(range(len(docs)), key=lambda i: (-sizes[i], i)):
        g = load.index(min(load))
        groups[g].append(i)
        load[g] += sizes[i]
    return [[docs[i] for i in sorted(g)] for g in groups]


def write_corpus(docs: list[dict], out_dir: str, n_files: int) -> list[str]:
    """Write ``docs`` as ``n_files`` size-balanced parquet files (one row
    group each); returns the file paths in order."""
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for i, part in enumerate(balanced_files(docs, n_files)):
        path = os.path.join(out_dir, f"part-{i:05d}.parquet")
        pq.write_table(pa.Table.from_pylist(part, schema=SCHEMA), path)
        paths.append(path)
    return paths


def corpus_stats(docs: list[dict]) -> dict:
    """Docs, spans, HTML MB, giant share and media share of a corpus
    (block counts come from the parser, in the trace run)."""
    spans = sum(len(d["spans"]) for d in docs)
    media = sum(1 for d in docs for s in d["spans"] if s["kind"] != "text")
    html_bytes = sum(len(html_of(d).encode()) for d in docs)
    giants = sum(1 for d in docs if element_count(d) >= GIANT_MIN)
    return {
        "docs": len(docs),
        "spans": spans,
        "html_mb": round(html_bytes / 1e6, 3),
        "giant_share": round(giants / max(len(docs), 1), 4),
        "media_share": round(media / max(spans, 1), 4),
    }
