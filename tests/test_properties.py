"""Property-based invariants (hypothesis) for the span-document
contract -- no Spark session needed, complements the node-differential
fuzz with pure-structural guarantees over adversarial inputs:

- totality: extract_spans never raises (crash parity is expressed as
  error='reference_throw', a null span offset as error='invalid_spans',
  everything else must be handled);
- determinism: same input -> same output, twice;
- order contract: output span orders are exactly 0..n-1;
- media preservation: every non-text input span survives (same
  multiset of (kind, media_ref)) whenever the document isn't
  quarantined, and no media appears on quarantined docs.
"""

import string

from hypothesis import given, settings, strategies as st

from boilerpipe_coffee_spark.spans import extract_spans

_TEXTS = st.text(
    alphabet=string.ascii_letters + string.digits + " <>/=\"'&;#\n\t.!?-",
    max_size=120,
)

_HTMLISH = st.one_of(
    _TEXTS,
    st.sampled_from(
        [
            "<body><p>plain words here</p></body>",
            "<body><a href=x>anchor text</a> tail</body>",
            "<body><a><a>nested anchors crash the reference</a></a></body>",
            "<p>no body at all",
            "<title>the title</title>",
            "<script>var x = '<p>';</script>visible",
            "<body><table><tr><td>cell one</td></tr></table></body>",
            "  ﻿",  # exotic JS whitespace
            "",
        ]
    ),
)


@st.composite
def span_docs(draw):
    n_text = draw(st.integers(min_value=0, max_value=6))
    n_media = draw(st.integers(min_value=0, max_value=4))
    offsets = draw(
        st.lists(
            st.integers(min_value=0, max_value=10_000),
            min_size=n_text + n_media,
            max_size=n_text + n_media,
            unique=True,
        )
    )
    # a null offset (nullable in SPAN_STRUCT) must quarantine, not raise
    if offsets and draw(st.integers(min_value=0, max_value=9)) == 0:
        offsets[draw(st.integers(0, len(offsets) - 1))] = None
    spans = []
    for i in range(n_text):
        spans.append(
            {
                "kind": "text",
                "text": draw(_HTMLISH),
                "media_ref": None,
                "offset": offsets[i],
            }
        )
    for j in range(n_media):
        spans.append(
            {
                "kind": draw(st.sampled_from(["image", "audio", "video"])),
                "text": None,
                "media_ref": f"m{j}",
                "offset": offsets[n_text + j],
            }
        )
    # input order is arbitrary relative to offsets
    return draw(st.permutations(spans))


@settings(max_examples=300, deadline=None)
@given(span_docs(), st.sampled_from(["ArticleExtractor", "DefaultExtractor"]))
def test_extract_spans_total_deterministic_ordered(spans, extractor):
    title1, out1, err1 = extract_spans(list(spans), extractor)
    title2, out2, err2 = extract_spans(list(spans), extractor)
    assert (title1, out1, err1) == (title2, out2, err2)  # deterministic

    assert [s["order"] for s in out1] == list(range(len(out1)))

    media_in = sorted(
        (s["kind"], s["media_ref"]) for s in spans if s["kind"] != "text"
    )
    media_out = sorted(
        (s["kind"], s["media_ref"]) for s in out1 if s["kind"] != "text"
    )
    if err1 is None:
        assert media_out == media_in
        # media keep their relative offset order
        by_off = [
            s["media_ref"]
            for s in sorted(
                (s for s in spans if s["kind"] != "text"),
                key=lambda s: s["offset"],
            )
        ]
        assert [s["media_ref"] for s in out1 if s["kind"] != "text"] == by_off
    else:
        assert err1 in ("reference_throw", "invalid_spans")
        assert out1 == [] and title1 == ""
    assert (err1 == "invalid_spans") == any(s["offset"] is None for s in spans)


# ------------------------------------------------------------------ #
# round-5 pure-function properties (no Spark session needed)          #
# ------------------------------------------------------------------ #


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.text(
            alphabet="abcdefghijklmnopqrstuvwxyz0123456789 .,!\n",
            min_size=0, max_size=400,
        ),
        min_size=1, max_size=6,
    ),
    st.booleans(),
    st.booleans(),
)
def test_pdf_round_trips_any_page_content(pages, compress, object_streams):
    """write_pdf -> read_pdf is identity for arbitrary printable page
    text across ALL THREE layouts (classic compressed, classic raw,
    PDF 1.5 object-stream)."""
    from boilerpipe_coffee_spark.operators import media_codecs as mc

    buf = mc.write_pdf(pages, compress=compress, object_streams=object_streams)
    assert mc.read_pdf(buf)["pages"] == pages


@settings(max_examples=200, deadline=None)
@given(st.binary(min_size=0, max_size=300), st.integers(0, 10**6))
def test_pdf_reader_never_leaks_low_level_errors(junk, seed):
    """Arbitrary bytes (raw, or spliced into a valid PDF at a
    seed-chosen offset) must produce either a parse or a ValueError --
    never struct.error/IndexError/etc (the quarantine contract)."""
    from boilerpipe_coffee_spark.operators import media_codecs as mc

    good = mc.write_pdf(["seed page"], object_streams=seed % 2 == 0)
    pos = seed % (len(good) + 1)
    for buf in (junk, good[:pos] + junk + good[pos:]):
        try:
            mc.read_pdf(buf)
        except ValueError:
            pass


@settings(max_examples=100, deadline=None)
@given(
    st.lists(st.integers(1, 50), min_size=1, max_size=40),
    st.integers(2, 64),
)
def test_pack_arithmetic_matches_reference(sizes, window):
    """The bin-slice arithmetic (the per-row math pack_slices_df
    evaluates in Spark) against a direct python packer: same slices,
    full coverage, exact fill."""
    s = 0
    got = []
    for doc, n in enumerate(sizes):
        lo_bin, hi_bin = s // window, (s + n - 1) // window
        for b in range(lo_bin, hi_bin + 1):
            tok_start = max(s, b * window) - s
            tok_end = min(s + n, (b + 1) * window) - s
            got.append((doc, b, tok_start, tok_end))
        s += n
    # reference: walk tokens one by one
    want = []
    pos = 0
    for doc, n in enumerate(sizes):
        start_tok = 0
        while start_tok < n:
            b = pos // window
            take = min(n - start_tok, (b + 1) * window - pos)
            want.append((doc, b, start_tok, start_tok + take))
            pos += take
            start_tok += take
    assert got == want
    total = sum(sizes)
    assert sum(e - st_ for _, _, st_, e in got) == total


@settings(max_examples=150, deadline=None)
@given(st.sets(st.text(alphabet="abcdefghij0123", min_size=1, max_size=8),
               min_size=1, max_size=60))
def test_simhash64_reference_properties(toks):
    """The 64-bit signature math (mirrors simhash_sigs_df's numpy
    path in pure python): value fits signed int64, is permutation-
    invariant (set semantics), and every bit is the sign of the vote
    sum of the corresponding md5-window bit."""
    import hashlib

    def sig(tokset):
        votes = [0] * 64
        for t in tokset:
            h = hashlib.md5(t.encode()).hexdigest()
            lo, hi = int(h[:8], 16), int(h[8:16], 16)
            for b in range(32):
                votes[b] += 1 if (lo >> b) & 1 else -1
                votes[32 + b] += 1 if (hi >> b) & 1 else -1
        v = sum(1 << b for b in range(63) if votes[b] > 0)
        if votes[63] > 0:
            v -= 1 << 63
        return v, votes

    v, votes = sig(toks)
    assert -(2**63) <= v < 2**63
    v2, _ = sig(set(reversed(sorted(toks))))
    assert v2 == v
    for b in range(64):
        bit = (v >> b) & 1 if b < 63 else (1 if v < 0 else 0)
        assert bit == (1 if votes[b] > 0 else 0)


# ------------------------------------------------------------------ #
# dup-span splice (scrub_one): the pure per-doc core                  #
# ------------------------------------------------------------------ #

_SCRUB_WORDS = st.lists(
    st.text(alphabet=string.ascii_lowercase + string.digits,
            min_size=1, max_size=6),
    min_size=0, max_size=40,
)


def _doc_grams(text, w):
    """Pure-python twin of the _gram_rows_df hashing (h64 of the
    space-joined lowercase gram) for driving scrub_one in tests."""
    import hashlib
    import re

    toks = [t for t in re.split(r"[^a-z0-9]+", (text or "").lower()) if t]
    return [
        int(
            hashlib.md5(" ".join(toks[i:i + w]).encode()).hexdigest()[:15],
            16,
        )
        for i in range(max(len(toks) - w + 1, 0))
    ]


@given(
    docs=st.lists(_SCRUB_WORDS, min_size=2, max_size=6),
    w=st.integers(min_value=2, max_value=4),
    normal_form=st.booleans(),
)
@settings(max_examples=120, deadline=None)
def test_scrub_one_invariants_and_idempotence(docs, w, normal_form):
    """For ANY corpus and width: (1) n/removed arithmetic holds and
    the scrubbed text tokenizes to exactly the kept count; (2) kept
    tokens are a subsequence of the original tokens; (3) splicing the
    scrubbed text AGAIN against the same gram set removes nothing --
    the idempotence the dedup index's raw re-fetch replay relies on;
    (4) docs with no duplicated windows come back byte-identical in
    splice mode."""
    import re

    from boilerpipe_coffee_spark.operators.textstats import scrub_one

    texts = [" ".join(d) for d in docs]
    # duplicated grams: >= 2 distinct docs (the min!=max rule)
    seen = {}
    for i, t in enumerate(texts):
        for g in _doc_grams(t, w):
            seen.setdefault(g, set()).add(i)
    dup = {g for g, owners in seen.items() if len(owners) >= 2}

    tok_re = re.compile(r"[^a-z0-9]+")
    for t in texts:
        grams = _doc_grams(t, w)
        dps = [i for i, g in enumerate(grams) if g in dup]
        n, removed, out = scrub_one(t, dps, w, normal_form)
        toks = [x for x in tok_re.split(t.lower()) if x]
        out_toks = [x for x in tok_re.split(out.lower()) if x]
        assert n == len(toks)
        assert len(out_toks) == n - removed
        # kept tokens are a subsequence of the originals
        it = iter(toks)
        assert all(any(x == y for y in it) for x in out_toks)
        if not dps and not normal_form:
            assert out == t
        # idempotence against the SAME gram set
        grams2 = _doc_grams(out, w)
        dps2 = [i for i, g in enumerate(grams2) if g in dup]
        n2, removed2, out2 = scrub_one(out, dps2, w, normal_form)
        assert removed2 == 0 or dps2, "removed without positions?"
        if not dps2:
            assert removed2 == 0
            if not normal_form:
                assert out2 == out
        # a second full pass converges: nothing left after <= 1 more
        if dps2:
            grams3 = _doc_grams(out2, w)
            dps3 = [i for i, g in enumerate(grams3) if g in dup]
            assert not dps3, "splice did not converge in two passes"
