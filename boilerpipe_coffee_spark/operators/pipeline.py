"""Partitioned, resumable batch driver.

North-rule requirement: at 10^12 documents a single job commit is not
viable -- the run must be resumable from the last committed unit with
per-partition lineage + metrics.  Strategy (SURVEY.md section 4):

- documents are routed to ``pmod(xxhash64(doc_id), n_buckets)`` work
  buckets; all pending buckets run in ONE scan of the input (the hash
  predicate cannot push down, so per-bucket scans would multiply reads
  by n_buckets) and land via dynamic partition overwrite, one
  ``bucket=N`` directory each.
- commit unit is still the bucket: one metrics row ``(partition_id,
  docs_in, docs_out, spans_out, errors, wall_ms, extractor)`` per
  bucket, written only AFTER its data is fully on disk (write-ahead
  output, commit-marker metrics), one file per bucket.  A crash before
  the metrics append leaves the pending buckets uncommitted and the
  re-run rewrites exactly their directories.
- resume = anti-join of bucket ids against the metrics table.
"""

from __future__ import annotations

import contextlib
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, BooleanType, StructField, StructType

from ..sources import OUTPUT_SCHEMA, SPAN_STRUCT
from ..spans import extract_flat
from .arrow_extract import SpanListBuilder, read_spans
from .arrow_extract import extract_arrow as extract


def _done_buckets(spark: SparkSession, metrics_dir: str) -> set[int]:
    """Committed bucket ids from the metrics table.  ONLY the
    missing-directory case means 'nothing committed yet'; any other
    read failure (e.g. an out_dir written by a pre-hive-layout version
    whose flat metrics files now mix with partition_id=N dirs) RAISES
    instead of being masked as an empty set -- a masked failure would
    silently re-run all buckets and hide the corruption."""
    from pyspark.errors import AnalysisException

    try:
        rows = spark.read.parquet(metrics_dir).select("partition_id").collect()
    except AnalysisException as e:
        msg = str(e)
        # 'nothing committed yet' has two shapes: the dir does not
        # exist, OR a crash during the FIRST metrics append left only
        # _temporary/ behind (no readable footer -> schema inference
        # fails).  Both must resume with a full re-run, not raise.
        if (
            "PATH_NOT_FOUND" in msg
            or "Path does not exist" in msg
            or "UNABLE_TO_INFER_SCHEMA" in msg
        ):
            return set()
        raise RuntimeError(
            f"metrics dir {metrics_dir} exists but is not readable as the "
            "hive-partitioned commit layout (metrics/partition_id=N/): "
            "migrate or remove the legacy/corrupt contents instead of "
            "re-running over them"
        ) from e
    return {r.partition_id for r in rows}


def run_partitioned(
    spark: SparkSession,
    df: DataFrame,
    out_dir: str,
    extractor: str = "ArticleExtractor",
    n_buckets: int = 64,
    balanced: bool = False,
) -> dict:
    """Process ``df`` (doc_id, spans) with bucket-grained resume.

    All PENDING buckets run in a single extraction pass: the input is
    scanned once (not once per bucket -- ``pmod(xxhash64)`` cannot push
    down to a parquet scan, so a per-bucket loop would read a 100 TB
    table 64 times), written ``partitionBy("bucket")`` with DYNAMIC
    partition overwrite so only pending buckets' directories are
    touched, then one metrics row per bucket commits the pass.  Crash
    anywhere before the metrics append leaves every pending bucket
    uncommitted and the re-run rewrites exactly those directories --
    same idempotent write-ahead-output / commit-marker-metrics protocol
    as before, at O(1) input scans.  (On Iceberg the write is a single
    snapshot append instead; the metrics protocol is unchanged.)

    Lineage: ``docs_in`` is counted from the INPUT (one column-pruned
    scan of doc_id), independently of ``docs_out`` from the written
    output, so input/output divergence is detectable.  ``wall_ms`` is
    the wall time of the whole committing pass (buckets no longer run
    serially, so per-bucket wall is not a meaningful quantity).

    ``balanced=True`` routes giant documents through
    :func:`extract_balanced` (single input scan; see its cost model) --
    for ingest layouts known to cluster giants.

    Returns summary {buckets_run, buckets_skipped, docs_out, errors}.
    """
    data_dir = os.path.join(out_dir, "data")
    metrics_dir = os.path.join(out_dir, "metrics")
    done = _done_buckets(spark, metrics_dir)
    pending = [b for b in range(n_buckets) if b not in done]
    skipped = n_buckets - len(pending)
    if not pending:
        return {
            "buckets_run": 0,
            "buckets_skipped": skipped,
            "docs_out": 0,
            "errors": 0,
        }

    def with_bucket(frame):
        return frame.withColumn(
            "bucket", F.pmod(F.xxhash64("doc_id"), F.lit(n_buckets)).cast("int")
        )

    t0 = time.time()
    part = with_bucket(df)
    if len(pending) < n_buckets:
        part = part.filter(F.col("bucket").isin(pending))

    # independent input lineage: column-pruned count per pending bucket
    in_counts = {
        r["bucket"]: r["docs_in"]
        for r in part.select("bucket")
        .groupBy("bucket")
        .agg(F.count("*").alias("docs_in"))
        .collect()
    }

    total_in = sum(in_counts.values())
    if total_in:
        run_extract = extract_balanced if balanced else extract
        extracted = run_extract(part.drop("bucket"), extractor)
        result = with_bucket(extracted)
        (
            result.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket")
            .parquet(data_dir)
        )
        # the balanced path persists its split intermediate for the
        # duration of the pass; release it once the data is on disk
        mid = getattr(extracted, "_balanced_intermediate", None)
        if mid is not None:
            mid.unpersist()
    wall_ms = int((time.time() - t0) * 1000)

    # a fully-empty pending set wrote nothing (partitionBy emits no
    # files for zero rows), so there is nothing to read back -- the
    # pending buckets still commit zero-row metrics markers below
    stats = {} if not total_in else {
        r["bucket"]: r
        for r in spark.read.parquet(data_dir)
        .filter(F.col("bucket").isin(pending))
        .groupBy("bucket")
        .agg(
            F.count("*").alias("docs_out"),
            F.sum(F.size(F.coalesce(F.col("spans"), F.array()))).alias(
                "spans_out"
            ),
            # block-classification breakdown (north rule: per-partition
            # lineage AND block-classification metrics): surviving
            # content text blocks vs preserved media spans
            F.sum(
                F.size(
                    F.filter(
                        F.coalesce(F.col("spans"), F.array()),
                        lambda s: s.kind == F.lit("text"),
                    )
                )
            ).alias("content_blocks_out"),
            F.sum(
                F.size(
                    F.filter(
                        F.coalesce(F.col("spans"), F.array()),
                        lambda s: s.kind != F.lit("text"),
                    )
                )
            ).alias("media_spans_out"),
            F.sum(
                F.when(F.col("error").isNotNull(), 1).otherwise(0)
            ).alias("errors"),
        )
        .collect()
    }

    rows = []
    total_out = total_err = 0
    for b in pending:
        s = stats.get(b)
        docs_out = int(s["docs_out"]) if s else 0
        spans_out = int(s["spans_out"] or 0) if s else 0
        content_blocks = int(s["content_blocks_out"] or 0) if s else 0
        media_spans = int(s["media_spans_out"] or 0) if s else 0
        errors = int(s["errors"] or 0) if s else 0
        rows.append(
            (b, int(in_counts.get(b, 0)), docs_out, spans_out,
             content_blocks, media_spans, errors, wall_ms, extractor)
        )
        total_out += docs_out
        total_err += errors
    # one directory per bucket keeps the commit marker per-bucket
    # deletable/inspectable even though the pass wrote them together
    spark.createDataFrame(
        rows,
        "partition_id int, docs_in long, docs_out long, spans_out long,"
        " content_blocks_out long, media_spans_out long,"
        " errors long, wall_ms long, extractor string",
    ).write.mode("append").partitionBy("partition_id").parquet(metrics_dir)

    return {
        "buckets_run": len(pending),
        "buckets_skipped": skipped,
        "docs_out": total_out,
        "errors": total_err,
    }


# extract_balanced's intermediate: extracted output for normal docs,
# the raw spans of giant docs (done=false) for the second pass
_BALANCED_MID = StructType(
    OUTPUT_SCHEMA.fields
    + [
        StructField("raw", ArrayType(SPAN_STRUCT)),
        StructField("done", BooleanType()),
    ]
)


def extract_balanced(
    df: DataFrame,
    extractor: str = "ArticleExtractor",
    giant_chars: int = 200_000,
    probe=None,
) -> DataFrame:
    """Skew-aware extraction in a SINGLE input scan: one ``mapInArrow``
    pass sizes every document as it streams by, extracts the normal
    population inline (zero shuffle, exactly the production path), and
    passes giant documents (HTML length above ``giant_chars``) through
    RAW with a ``done=false`` flag.  The pass output -- extracted text
    plus the tiny raw-giant subset, i.e. output-sized, not
    corpus-sized -- is persisted to executor disk; the giants are then
    round-robin-repartitioned so each lands on its own task and
    extracted from the persisted blocks.

    The production map has no shuffle, so "skew" means a straggler task
    that happened to pack several giant docs; this bounds the per-TASK
    work while reading the corpus ONCE (the r1-r3 two-filter-branch
    form paid 2x read IO; asserted by the accumulator test).  The only
    extra IO is the persisted intermediate, which is extraction OUTPUT
    plus raw giants -- a small fraction of the input scan it replaces.
    (SURVEY.md section 4 'shuffle/skew from giant documents'.)

    The persisted intermediate lives until the caller releases it: the
    returned frame carries it as ``_balanced_intermediate`` and
    ``run_partitioned`` unpersists after its write commits.  CAUTION
    (ADVICE r4): that attribute is a plain Python attribute on THIS
    DataFrame object -- it does NOT survive any further transformation
    (``out.filter(...)`` returns a new frame without it), and a caller
    that drops the frame without unpersisting leaks the DISK_ONLY
    blocks for the session.  Direct callers should prefer
    :func:`extract_balanced_scoped`, which releases the intermediate
    on exit.

    ``probe``: optional accumulator, incremented once per INPUT
    document seen by the sizing pass (test hook for the
    single-scan assertion).

    Default OFF in run_partitioned -- use when the layout is known to
    cluster giants (measured +49% there, a wash on uniform layouts).
    """
    from typing import Iterator

    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.storagelevel import StorageLevel

    mid_arrow = to_arrow_schema(_BALANCED_MID)

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            doc_ids, kinds, texts, refs, offs, bounds = read_spans(batch)
            titles, errors, dones = [], [], []
            out = SpanListBuilder()
            raw = SpanListBuilder(mid_arrow.field("raw").type)
            for lo, hi in bounds:
                if probe is not None:
                    probe.add(1)
                size = 0
                for j in range(lo, hi):
                    if kinds[j] == "text" and texts[j]:
                        size += len(texts[j])
                if size <= giant_chars:
                    title, ok, ot, orf, err = extract_flat(
                        kinds, texts, refs, offs, lo, hi, extractor
                    )
                    titles.append(title)
                    errors.append(err)
                    dones.append(True)
                    out.add(ok, ot, orf)
                    raw.add([], [], [], [])
                else:
                    titles.append(None)
                    errors.append(None)
                    dones.append(False)
                    out.add([], [], [])
                    raw.add(kinds[lo:hi], texts[lo:hi], refs[lo:hi], offs[lo:hi])
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(doc_ids, pa.string()),
                    pa.array(titles, pa.string()),
                    out.build(),
                    pa.array(errors, pa.string()),
                    raw.build(),
                    pa.array(dones, pa.bool_()),
                ],
                schema=mid_arrow,
            )

    mid = df.mapInArrow(run, schema=_BALANCED_MID).persist(
        StorageLevel.DISK_ONLY
    )
    normals = mid.filter(F.col("done")).select(
        "doc_id", "title", "spans", "error"
    )
    giants = (
        mid.filter(~F.col("done"))
        .select("doc_id", F.col("raw").alias("spans"))
        .repartition(df.sparkSession.sparkContext.defaultParallelism)
    )
    out = normals.unionByName(extract(giants, extractor))
    out._balanced_intermediate = mid
    return out


@contextlib.contextmanager
def extract_balanced_scoped(
    df: DataFrame,
    extractor: str = "ArticleExtractor",
    giant_chars: int = 200_000,
):
    """Context-managed :func:`extract_balanced` for direct callers:
    yields the balanced frame and ALWAYS unpersists the DISK_ONLY
    intermediate on exit, so ad-hoc use cannot leak persisted blocks
    for the session (run_partitioned manages the lifetime itself and
    keeps calling extract_balanced directly).  Consume the frame
    (write/collect) INSIDE the block -- after exit the persisted
    blocks are gone and recomputation repeats the full scan."""
    out = extract_balanced(df, extractor, giant_chars)
    try:
        yield out
    finally:
        out._balanced_intermediate.unpersist()
