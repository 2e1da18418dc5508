"""Spark pipeline golden tests: both the production (zero-shuffle
mapInArrow) and staged (columnar + fusion tail) pipelines must
reproduce the reference's golden span sequences on the t1 corpus."""

import pytest

from boilerpipe_coffee_spark.operators import extract, extract_staged
from boilerpipe_coffee_spark.sources import INTERLEAVED_SCHEMA

from helpers import load_golden

EXTRACTORS = [
    "ArticleExtractor",
    "DefaultExtractor",
    "LargestContentExtractor",
    "KeepEverythingExtractor",
]


@pytest.fixture(scope="module")
def t1_df(spark):
    docs = load_golden("t1_docs")
    rows = [(d["doc_id"], d["spans"]) for d in docs]
    return spark.createDataFrame(rows, schema=INTERLEAVED_SCHEMA).cache()


def _check(result_df, extractor):
    expected = {g["doc_id"]: g for g in load_golden(f"t1_{extractor}")}
    got = result_df.collect()
    assert len(got) == len(expected)
    mismatches = []
    for row in got:
        exp = expected[row.doc_id]
        g_spans = [
            {
                "kind": s.kind,
                "text": s.text,
                "media_ref": s.media_ref,
                "order": s.order,
            }
            for s in (row.spans or [])
        ]
        want = {
            "title": exp["title"],
            "spans": exp["spans"],
            "error": exp["error"],
        }
        # quarantined docs must ACTUALLY return title='' and spans=[]
        # (no normalization here -- that contract is under test too)
        have = {"title": row.title, "spans": g_spans, "error": row.error}
        if have != want:
            mismatches.append((row.doc_id, want, have))
    assert not mismatches, f"{len(mismatches)} mismatches; first: {mismatches[0]}"


@pytest.mark.parametrize("extractor", EXTRACTORS)
def test_production_pipeline_golden(spark, t1_df, extractor):
    _check(extract(t1_df, extractor), extractor)


@pytest.mark.parametrize("extractor", EXTRACTORS)
def test_staged_pipeline_golden(spark, t1_df, extractor):
    _check(extract_staged(t1_df, extractor), extractor)


def test_staged_plan_has_single_exchange(spark, t1_df):
    """The staged pipeline's window stages + applyInPandas must share
    one hash exchange on doc_id (scale invariant: re-shuffling the
    exploded block table per stage would dominate at 100 TB)."""
    plan = extract_staged(t1_df, "ArticleExtractor")._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_production_plan_has_no_exchange(spark, t1_df):
    plan = extract(t1_df, "ArticleExtractor")._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan, plan


def test_unfiltered_paths_agree(spark, t1_df):
    """Unfiltered has no golden file (no content spans by construction);
    assert the production and staged paths agree with each other and
    emit only media spans."""
    a = {r.doc_id: r for r in extract(t1_df, "Unfiltered").collect()}
    b = {r.doc_id: r for r in extract_staged(t1_df, "Unfiltered").collect()}
    assert set(a) == set(b)
    for doc_id, ra in a.items():
        rb = b[doc_id]
        sa = [(s.kind, s.text, s.media_ref, s.order) for s in (ra.spans or [])]
        sb = [(s.kind, s.text, s.media_ref, s.order) for s in (rb.spans or [])]
        assert (ra.title, sa, ra.error) == (rb.title, sb, rb.error), doc_id
        assert all(k != "text" for k, _, _, _ in sa)


def test_degenerate_span_inputs_both_paths(spark):
    """Empty span lists, NULL span lists, media-only docs, NULL text
    payloads and NULL span offsets must flow through every extraction
    path -- production, staged, balanced (with a giant threshold low
    enough that docs take the raw-giant route) and the per-doc
    ``extract_spans`` -- without crashing, with identical outputs
    (locks the Arrow offsets/validity handling)."""
    from boilerpipe_coffee_spark.operators.pipeline import extract_balanced
    from boilerpipe_coffee_spark.spans import extract_spans

    rows = [
        ("empty", []),
        ("null_spans", None),
        ("media_only",
         [{"kind": "image", "text": None, "media_ref": "m1", "offset": 0}]),
        ("null_text",
         [{"kind": "text", "text": None, "media_ref": None, "offset": 0}]),
        ("null_offset",
         [{"kind": "text",
           "text": "<body><p>words beside an unplaced image</p></body>",
           "media_ref": None, "offset": 0},
          {"kind": "image", "text": None, "media_ref": "m", "offset": None}]),
        ("normal",
         [{"kind": "text",
           "text": "<body><p>hello world this is fine text</p></body>",
           "media_ref": None, "offset": 0}]),
    ]
    ex = "KeepEverythingExtractor"
    df = spark.createDataFrame(rows, schema=INTERLEAVED_SCHEMA)

    def as_tuples(frame):
        return {
            r.doc_id: (
                r.title,
                [(s.kind, s.text, s.media_ref, s.order) for s in (r.spans or [])],
                r.error,
            )
            for r in frame.collect()
        }

    prod = as_tuples(extract(df, ex))
    staged = as_tuples(extract_staged(df, ex))
    balanced_df = extract_balanced(df, ex, giant_chars=10)
    balanced = as_tuples(balanced_df)
    giants = balanced_df._balanced_intermediate.filter("NOT done").count()
    balanced_df._balanced_intermediate.unpersist()
    per_doc = {}
    for doc_id, spans in rows:
        title, out, error = extract_spans(spans, ex)
        per_doc[doc_id] = (
            title,
            [(s["kind"], s["text"], s["media_ref"], s["order"]) for s in out],
            error,
        )
    assert giants >= 1
    assert set(prod) == set(staged) == set(balanced) == set(per_doc) \
        == {r[0] for r in rows}
    for doc_id in prod:
        assert prod[doc_id] == staged[doc_id] == balanced[doc_id] \
            == per_doc[doc_id], doc_id
    for doc_id in ("empty", "null_spans", "null_text"):
        assert prod[doc_id][2] is None and not prod[doc_id][1]
    assert prod["null_offset"] == ("", [], "invalid_spans")
    assert prod["media_only"][1] == [("image", None, "m1", 0)]
    assert any(s[0] == "text" for s in prod["normal"][1])


@pytest.mark.parametrize(
    "extractor",
    ["DefaultExtractor", "LargestContentExtractor", "KeepEverythingExtractor"],
)
def test_staged_plan_single_exchange_all_chains(spark, t1_df, extractor):
    plan = (
        extract_staged(t1_df, extractor)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange hashpartitioning") <= 1, plan


def test_jsonl_source_golden_exact(spark):
    """read_interleaved_jsonl ingests the golden corpus format (the
    same .jsonl.gz tools/oracle.js consumes) and extraction over it is
    golden-exact -- closing the ingest loop for the reference's own
    interchange format."""
    import os

    from boilerpipe_coffee_spark.operators import extract
    from boilerpipe_coffee_spark.sources import read_interleaved_jsonl

    from helpers import load_golden

    path = os.path.join(
        os.path.dirname(__file__), "golden", "t1_docs.jsonl.gz"
    )
    docs = read_interleaved_jsonl(spark, path)
    got = {r.doc_id: r for r in extract(docs, "ArticleExtractor").collect()}
    expected = {g["doc_id"]: g for g in load_golden("t1_ArticleExtractor")}
    assert len(got) == len(expected) == 200
    for doc_id, exp in expected.items():
        row = got[doc_id]
        if exp["error"] is not None:
            assert row.error == exp["error"]
            continue
        spans = [
            {"kind": s.kind, "text": s.text, "media_ref": s.media_ref,
             "order": s.order}
            for s in (row.spans or [])
        ]
        assert spans == exp["spans"] and row.title == exp["title"]
