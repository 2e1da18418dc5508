"""Spark extraction operators.

Two pipelines, both golden-exact against the reference:

1. the PRODUCTION path (operators.arrow_extract.extract_arrow,
   exported as ``extract``).  One map stage: parse + filter chain +
   span reassembly per document inside Arrow batches.  Documents are
   independent, so this is embarrassingly parallel with ZERO
   shuffles -- the plan is scan -> python eval -> sink, and at 10^12
   documents the only costs are IO and CPU.  This is deliberately NOT
   a translation of the reference's per-document loop into many Spark
   stages: a per-doc-sequential filter chain gains nothing from
   inter-stage shuffles and pays the full exchange of the exploded
   block table (bigger than the input) at every stage.

2. :func:`extract_staged` -- the OPERATOR-DECOMPOSED path.  Exposes the
   filter chain as real Spark stages over an exploded blocks DataFrame:
   columnar window/when stages (operators.columnar) for the stateless
   filters and one partition-streaming ``mapInArrow`` for the
   order-dependent fusion tail (operators.fusion).  Costs exactly ONE
   hash exchange on doc_id, which the window stages and the fusion tail
   share.  Exists to prove each reference operator maps to an idiomatic
   Spark operator and to serve unit-level operator queries; bench.py
   measures both paths.
"""

from __future__ import annotations

from typing import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from ..core.extractors import ARTICLE
from ..spans import INVALID_SPANS, REFERENCE_THROW, join_text_spans, owning_span

# one row per text block, plus one row per media span (is_media=true).
# Media rows sort after all block rows inside each doc_id group, so
# window lag/lead sees NULL features at both block-sequence edges --
# exactly the reference's undefined-placeholder semantics (quirk Q2).
BLOCKS_SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("title", StringType()),
        StructField("is_media", BooleanType(), False),
        StructField("block_offset", IntegerType()),
        StructField("span_offset", IntegerType()),
        StructField("text", StringType()),
        StructField("tag_level", IntegerType()),
        StructField("num_words", IntegerType()),
        StructField("num_words_anchor", IntegerType()),
        StructField("num_words_wrapped", IntegerType()),
        StructField("num_wrapped_lines", IntegerType()),
        StructField("text_density", DoubleType()),
        StructField("link_density", DoubleType()),
        StructField("kind", StringType()),
        StructField("media_ref", StringType()),
        StructField("media_offset", IntegerType()),
        StructField("error", StringType()),
        StructField("is_content", BooleanType()),
        StructField("end_of_text", BooleanType()),
    ]
)


def _append_rows(c, n, **cols):
    """Extend every block-table column in ``c`` by ``n`` rows: the
    given per-column lists, NULL for every column not given."""
    for name, col in c.items():
        col.extend(cols.get(name) or [None] * n)


def parse_blocks(df: DataFrame) -> DataFrame:
    """mapInArrow parse/featurize: (doc_id, spans) -> block+media rows.

    Spans cross the bridge through ``arrow_extract.read_spans`` and are
    joined and attributed by the shared ``spans`` helpers; the block
    table is emitted columnar -- one list per column, extended per
    document -- so the only per-block Python is feature extraction
    itself, not bridge bookkeeping.

    Parse errors (reference throw points reached during parsing, e.g.
    nested <a>) and null span offsets emit a single error row so
    quarantining survives the staged pipeline too.
    """
    from ..core.jsquirks import ReferenceThrow
    from ..core.parser import BoilerpipeParser
    from .arrow_extract import read_spans

    blocks_arrow = to_arrow_schema(BLOCKS_SCHEMA)

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        parser = BoilerpipeParser()
        for batch in batches:
            doc_ids, kinds, texts, refs, offs, bounds = read_spans(batch)
            c = {name: [] for name in blocks_arrow.names}

            for doc_id, (lo, hi) in zip(doc_ids, bounds):
                joined = join_text_spans(kinds, texts, offs, lo, hi)
                error = INVALID_SPANS if joined is None else None
                if joined is not None:
                    html, starts, span_offsets, m_idx = joined
                    try:
                        doc = parser.parse_document_from_html(html)
                    except ReferenceThrow:
                        error = REFERENCE_THROW
                if error is not None:
                    _append_rows(c, 1, doc_id=[doc_id], title=[""],
                                 is_media=[False], error=[error])
                    continue

                tbs = doc.text_blocks
                n = len(tbs)
                title = doc.title
                if n:
                    _append_rows(
                        c, n,
                        doc_id=[doc_id] * n,
                        # title crosses the bridge ONCE per doc (first
                        # block row); the fusion tail takes the first
                        # non-null.  The sort key (doc_id, is_media,
                        # block_offset) keeps the first block row first.
                        title=[title] + [None] * (n - 1),
                        is_media=[False] * n,
                        block_offset=[tb.offset_start for tb in tbs],
                        span_offset=[
                            owning_span(starts, span_offsets, tb.src_pos)
                            for tb in tbs
                        ],
                        text=[tb.text for tb in tbs],
                        tag_level=[tb.tag_level for tb in tbs],
                        num_words=[tb.num_words for tb in tbs],
                        num_words_anchor=[
                            int(tb.num_words_in_anchor_text) for tb in tbs
                        ],
                        num_words_wrapped=[
                            int(tb.num_words_in_wrapped_lines) for tb in tbs
                        ],
                        num_wrapped_lines=[
                            int(tb.num_wrapped_lines) for tb in tbs
                        ],
                        text_density=[float(tb.text_density) for tb in tbs],
                        link_density=[float(tb.link_density) for tb in tbs],
                        kind=["text"] * n,
                        is_content=[False] * n,
                        end_of_text=[False] * n,
                    )
                m = len(m_idx)
                if m:
                    _append_rows(
                        c, m,
                        doc_id=[doc_id] * m,
                        # media rows need the title only when there are
                        # no block rows to carry it
                        title=None if n else [title] * m,
                        is_media=[True] * m,
                        kind=[kinds[j] for j in m_idx],
                        media_ref=[refs[j] for j in m_idx],
                        media_offset=[offs[j] for j in m_idx],
                    )
                if not n and not m:
                    _append_rows(c, 1, doc_id=[doc_id], title=[title],
                                 is_media=[False], kind=["empty"])

            yield pa.RecordBatch.from_pydict(c, schema=blocks_arrow)

    return df.mapInArrow(run, schema=BLOCKS_SCHEMA)


def extract_staged(df: DataFrame, extractor: str = ARTICLE,
                   n_partitions: int | None = None) -> DataFrame:
    """Operator-decomposed pipeline; output equals :func:`extract`.

    The ONE exchange is issued EXPLICITLY (repartition with a fixed
    partition count) rather than left to the window stages: an
    AQE-planned exchange coalesces the small demo shuffle down to a
    handful of ~1MB partitions, which then caps the Python fusion
    tail's parallelism at that handful of cores (measured 14/32 at
    sf0.1 -- a 2x wall-time tax on the most expensive stage).  An
    explicit numPartitions is exempt from AQE coalescing, and the
    window stages' required hash distribution on doc_id is satisfied
    by it, so no second exchange appears (plan-asserted)."""
    from . import columnar
    from .fusion import fuse_and_assemble

    spark = df.sparkSession
    n_parts = n_partitions or spark.sparkContext.defaultParallelism
    blocks = parse_blocks(df).repartition(n_parts, "doc_id")

    has_window_stage = False
    if extractor == "ArticleExtractor":
        blocks = columnar.terminating_blocks_finder(blocks)
        # DocumentTitleMatchClassifier(null, false) is a no-op (Q3)
        blocks = columnar.num_words_rules_classifier(blocks)
        blocks = columnar.ignore_blocks_after_content(blocks, 60)
        has_window_stage = True
    elif extractor == "LargestContentExtractor":
        blocks = columnar.num_words_rules_classifier(blocks)
        has_window_stage = True
    elif extractor == "KeepEverythingExtractor":
        blocks = columnar.mark_everything_content(blocks)
    elif extractor in ("DefaultExtractor", "Unfiltered"):
        pass  # SimpleBlockFusion runs first -> handled in the fusion tail

    # window stages leave blocks hash-partitioned by doc_id and sorted;
    # chains without one need the layout established explicitly
    return fuse_and_assemble(blocks, extractor, ensure_layout=not has_window_stage)
