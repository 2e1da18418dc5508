"""Interleaved-span document handling -- the one span-format policy.

Input rows follow BASELINE.json ``input_hint``::

    doc_id: string
    spans:  array<struct<kind:string, text:string, media_ref:string,
                         offset:int>>

The document's HTML is the concatenation of ``kind='text'`` span texts
in ``offset`` order; media spans contribute nothing to the HTML but are
preserved in the output, interleaved by offset.  Output spans are
``(kind, text, media_ref, order)`` where text spans carry the final
content-block text (one output span per surviving content block) and
``order`` is the position in the final per-document sequence.

Every extraction path (production ``mapInArrow``, the balanced giant
split, the staged block table and its fusion tail) goes through the
three helpers below on flat per-field lists; :func:`extract_spans` is
the per-document dict API over the same core.

Attribution contract (FIXTURES.md section 3): every generated text span
is a self-contained run of block-level elements, so each TextBlock is
created strictly within one span; a merged block is attributed to the
span containing its earliest original block.  We recover that span from
the block's first-text character position (``TextBlock.src_pos``)
against the cumulative span text lengths; the node oracle recovers it
via per-span block counts -- both agree under the contract and the
golden differential suite proves it.

A document with a null span ``offset`` has no defined span order; it is
quarantined as ``error='invalid_spans'`` with an empty title and no
spans, like a reference throw.
"""

from __future__ import annotations

import bisect

from .core.extractors import ARTICLE, document_from_html
from .core.jsquirks import ReferenceThrow

REFERENCE_THROW = "reference_throw"
INVALID_SPANS = "invalid_spans"


def join_text_spans(kinds, texts, offs, lo, hi):
    """Offset-ordered join of the text spans among flat spans [lo, hi).

    Returns ``(html, starts, span_offsets, media)``: ``starts[i]`` is the
    char offset where text span i begins in ``html``, ``span_offsets[i]``
    its original ``offset`` and ``media`` the indices of the non-text
    spans in offset order.  Returns None when any offset is null.
    """
    text_idx, media = [], []
    for j in range(lo, hi):
        if offs[j] is None:
            return None
        (text_idx if kinds[j] == "text" else media).append(j)
    text_idx.sort(key=offs.__getitem__)
    media.sort(key=offs.__getitem__)
    parts, starts, span_offsets = [], [], []
    at = 0
    for j in text_idx:
        t = texts[j] or ""
        starts.append(at)
        span_offsets.append(offs[j])
        parts.append(t)
        at += len(t)
    return "".join(parts), starts, span_offsets, media


def owning_span(starts, span_offsets, src_pos):
    """Offset of the text span holding char position ``src_pos``."""
    if src_pos >= 0 and starts:
        return span_offsets[bisect.bisect_right(starts, src_pos) - 1]
    return span_offsets[0] if span_offsets else 0


def interleave(blocks, media):
    """Merge content blocks ``(span_offset, block_start, text)`` with
    media ``(offset, kind, media_ref)`` into output order.

    Returns parallel ``(kinds, texts, refs)`` lists; a span's ``order``
    is its position.  Offsets are unique per document, so a media span
    never ties with a block's owning span.
    """
    keyed = [((so, bo), "text", t, None) for so, bo, t in blocks]
    keyed.extend(((off, -1), kind, None, ref) for off, kind, ref in media)
    keyed.sort(key=lambda item: item[0])
    return (
        [k for _, k, _, _ in keyed],
        [t for _, _, t, _ in keyed],
        [r for _, _, _, r in keyed],
    )


def extract_flat(kinds, texts, refs, offs, lo, hi, extractor=ARTICLE):
    """Extract one document from flat span lists [lo, hi).

    Returns ``(title, out_kinds, out_texts, out_refs, error)``; the
    out_* lists are parallel, orders implicit by position.  ``error`` is
    None, ``'reference_throw'`` for documents on which the reference
    implementation crashes (quirk Q9 / nested-anchor recovery) or
    ``'invalid_spans'`` for a null span offset.
    """
    joined = join_text_spans(kinds, texts, offs, lo, hi)
    if joined is None:
        return "", [], [], [], INVALID_SPANS
    html, starts, span_offsets, media = joined
    try:
        doc = document_from_html(html, extractor)
    except ReferenceThrow:
        return "", [], [], [], REFERENCE_THROW
    blocks = [
        (owning_span(starts, span_offsets, tb.src_pos), tb.offset_start, tb.text)
        for tb in doc.text_blocks
        if tb.is_content
    ]
    ok, ot, orf = interleave(blocks, [(offs[j], kinds[j], refs[j]) for j in media])
    return doc.title, ok, ot, orf, None


def extract_spans(spans, extractor: str = ARTICLE):
    """Extract one interleaved document given as a list of span dicts
    (None counts as no spans).

    Returns ``(title, out_spans, error)`` where ``out_spans`` is a list
    of dicts ``{kind, text, media_ref, order}``; see :func:`extract_flat`.
    """
    spans = spans or []
    title, ok, ot, orf, error = extract_flat(
        [s["kind"] for s in spans],
        [s["text"] for s in spans],
        [s["media_ref"] for s in spans],
        [s["offset"] for s in spans],
        0,
        len(spans),
        extractor,
    )
    out = [
        {"kind": k, "text": t, "media_ref": r, "order": order}
        for order, (k, t, r) in enumerate(zip(ok, ot, orf))
    ]
    return title, out, error
