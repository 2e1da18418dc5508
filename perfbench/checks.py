"""Output checks and failure accounting.

Every check returns the number of documents it found wrong, so the
counts add up to the ``failed`` side of ``failed_frac``.  The functions
take plain Python values (rows already collected from Spark), so the
benchmark's tests exercise them without a session.

Reference-throw quarantines (``error == 'reference_throw'``) are the
reference's own behaviour and count as correct output.
"""

from __future__ import annotations

from collections import Counter

REFERENCE_THROW = "reference_throw"


def unexpected_error(error) -> bool:
    return error is not None and error != REFERENCE_THROW


def digest_failures(expected: dict, rows) -> int:
    """Docs whose per-doc output digest disagrees with ``expected``
    (doc_id -> digest), are missing, duplicated or unknown, or carry an
    error other than a reference throw.  ``rows`` are
    ``(doc_id, digest, error)`` tuples."""
    counts = Counter(r[0] for r in rows)
    bad = set()
    for doc_id, digest, error in rows:
        if (
            doc_id not in expected
            or counts[doc_id] > 1
            or digest != expected[doc_id]
            or unexpected_error(error)
        ):
            bad.add(doc_id)
    missing = set(expected) - set(counts)
    return len(bad) + len(missing)


def as_output(title, spans, error) -> dict:
    """One document's extraction output in the golden-file shape."""
    if error is not None:
        return {"title": "", "spans": [], "error": error}
    return {"title": title, "spans": list(spans), "error": None}


def output_failures(expected: dict, got: dict) -> int:
    """Docs whose output (``as_output`` dicts keyed by doc_id) differs
    from ``expected``; a doc missing from either side is a failure."""
    return sum(
        1 for d in set(expected) | set(got) if expected.get(d) != got.get(d)
    )


def keep_set_failures(kept: list[tuple[str, str]], first_keep: set | None) -> int:
    """Kept ``(doc_id, content_hash)`` rows: every doc sharing a
    content hash with another kept doc fails, and so does every doc in
    the symmetric difference with the first repetition's keep set."""
    by_hash = Counter(h for _, h in kept)
    ids = Counter(d for d, _ in kept)
    bad = {d for d, h in kept if by_hash[h] > 1 or ids[d] > 1}
    if first_keep is not None:
        bad |= set(ids) ^ first_keep
    return len(bad)


def pipeline_failures(
    n_docs: int,
    summary: dict,
    metrics_rows: list[dict],
    n_buckets: int,
) -> int:
    """A first ``run_partitioned`` pass: every doc in and out once, one
    commit-marker row per bucket with docs_in == docs_out.  A bucket
    without exactly one marker counts as one failure."""
    markers = Counter(r["partition_id"] for r in metrics_rows)
    failed = sum(1 for b in range(n_buckets) if markers[b] != 1)
    failed += sum(abs(r["docs_in"] - r["docs_out"]) for r in metrics_rows)
    failed += abs(n_docs - sum(r["docs_in"] for r in metrics_rows))
    failed += abs(n_docs - summary.get("docs_out", 0))
    return failed


def resume_failures(
    deleted: list[int],
    summary: dict,
    distinct_before: int,
    distinct_after: int,
    rows_after: int,
    metrics_rows: list[dict],
    resumed_docs: int,
) -> int:
    """The re-run after deleting ``deleted`` commit markers must run
    exactly those buckets, rewrite exactly their docs, and leave the
    distinct doc_ids of the output unchanged."""
    failed = abs(summary.get("buckets_run", 0) - len(deleted))
    failed += abs(summary.get("docs_out", 0) - resumed_docs)
    failed += abs(distinct_after - distinct_before)
    failed += rows_after - distinct_after  # duplicated doc rows
    markers = Counter(r["partition_id"] for r in metrics_rows)
    failed += sum(1 for b in deleted if markers[b] != 1)
    return failed
