"""Arrow-native production extraction and the one Arrow span bridge.

``mapInArrow`` variant of the extract operator: reads the ``spans``
list<struct> column as four flat arrays (one ``to_pylist`` each, all
C-level) and writes the output span column the same way -- no pandas
conversion and no per-span dict objects on either side of the bridge.
Cuts the per-document bridge overhead to a fraction of the parse cost,
which is what keeps python workers CPU-bound (and the N->4N scaling
flat) instead of serialization-bound.

:func:`read_spans` and :class:`SpanListBuilder` are the bridge every
Arrow stage uses (here, the balanced giant split and the staged path);
the Arrow types are derived from the Spark schemas in ``sources``.
"""

from __future__ import annotations

from typing import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_schema

from ..core.extractors import ARTICLE
from ..sources import OUTPUT_SCHEMA
from ..spans import extract_flat

OUTPUT_ARROW = to_arrow_schema(OUTPUT_SCHEMA)
OUT_SPANS = OUTPUT_ARROW.field("spans").type


def read_spans(batch: pa.RecordBatch):
    """Flatten a (doc_id, spans) batch.

    Returns ``(doc_ids, kinds, texts, refs, offs, bounds)``: the span
    fields as flat lists and ``bounds[i] = (lo, hi)``, document i's
    slice of them.  The list offsets are paired with the UNFLATTENED
    child array: ``value_lengths()`` maps null slots to 0 but
    ``flatten()`` drops their backing ranges, which would desynchronize
    every later document if a null slot ever carried values; a null
    list reads as empty.
    """
    doc_ids = batch.column("doc_id").to_pylist()
    spans = batch.column("spans")
    offsets = spans.offsets.to_pylist()
    valid = spans.is_valid().to_pylist()
    values = spans.values
    bounds = [
        (offsets[i], offsets[i + 1]) if valid[i] else (0, 0)
        for i in range(len(doc_ids))
    ]
    return (
        doc_ids,
        values.field("kind").to_pylist(),
        values.field("text").to_pylist(),
        values.field("media_ref").to_pylist(),
        values.field("offset").to_pylist(),
        bounds,
    )


class SpanListBuilder:
    """Accumulates one span list per document as flat field lists and
    builds the ``list<struct<kind, text, media_ref, order|offset>>``
    column in one Arrow call."""

    def __init__(self, list_type: pa.ListType = OUT_SPANS):
        self.list_type = list_type
        self.kinds, self.texts, self.refs, self.nums = [], [], [], []
        self.offsets = [0]

    def add(self, kinds, texts, refs, nums=None):
        """Append one document's spans; ``nums`` defaults to the output
        ``order`` 0..n-1."""
        self.kinds.extend(kinds)
        self.texts.extend(texts)
        self.refs.extend(refs)
        self.nums.extend(range(len(kinds)) if nums is None else nums)
        self.offsets.append(len(self.kinds))

    def build(self) -> pa.ListArray:
        fields = list(self.list_type.value_type)
        struct = pa.StructArray.from_arrays(
            [
                pa.array(col, f.type)
                for col, f in zip(
                    (self.kinds, self.texts, self.refs, self.nums), fields
                )
            ],
            fields=fields,
        )
        return pa.ListArray.from_arrays(
            pa.array(self.offsets, pa.int32()), struct, type=self.list_type
        )


def output_batch(doc_ids, titles, spans: SpanListBuilder, errors):
    """One OUTPUT_SCHEMA record batch."""
    return pa.RecordBatch.from_arrays(
        [
            pa.array(doc_ids, pa.string()),
            pa.array(titles, pa.string()),
            spans.build(),
            pa.array(errors, pa.string()),
        ],
        schema=OUTPUT_ARROW,
    )


def extract_arrow(df: DataFrame, extractor: str = ARTICLE) -> DataFrame:
    """(doc_id, spans) -> (doc_id, title, spans, error), one stage.

    Reference parity: output spans match lib/Boilerpipe.js per document
    (golden suite); documents on which the reference throws (quirk Q9 /
    nested <a>) or with a null span offset come back with an error and
    empty spans instead of failing the job.
    """

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            doc_ids, kinds, texts, refs, offs, bounds = read_spans(batch)
            titles, errors = [], []
            out = SpanListBuilder()
            for lo, hi in bounds:
                title, ok, ot, orf, err = extract_flat(
                    kinds, texts, refs, offs, lo, hi, extractor
                )
                titles.append(title)
                errors.append(err)
                out.add(ok, ot, orf)
            yield output_batch(doc_ids, titles, out, errors)

    return df.mapInArrow(run, schema=OUTPUT_SCHEMA)
