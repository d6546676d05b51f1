"""Vectorized kernels must agree byte-for-byte with the loop-based
oracle — on the deterministic fixtures AND on randomized layouts
(SURVEY.md §5.2)."""

import numpy as np
import pandas as pd
import pytest

from conftest import decode_docs
from fixtures.generate import gen_transcripts, golden_frame
from pdfextraction_spark.kernels import extract as K
from pdfextraction_spark.kernels.htmlstrip import strip_html_doc
from pdfextraction_spark.kernels.layout import reflow_flat
from pdfextraction_spark.oracle import spatial
from pdfextraction_spark.oracle.htmlstrip import strip_html


def _extract(texts: pd.Series) -> list:
    """The kernel's rows, as dicts."""
    return K.extract_batch_flat(texts).to_pylist()


def _assert_frames_equal(golden: pd.DataFrame, got: list):
    assert len(golden) == len(got)
    for i in range(len(golden)):
        g, k = golden.iloc[i], got[i]
        assert g["payload_kind"] == k["payload_kind"], i
        assert g["extracted_text"] == k["extracted_text"], i
        assert list(g["spans"]) == k["spans"], i
        assert g["blocks_kept"] == k["blocks_kept"], i
        assert g["blocks_dropped"] == k["blocks_dropped"], i
        assert bool(g["parse_failed"]) == bool(k["parse_failed"]), i


def test_xs_fixtures_full_dispatch():
    df = gen_transcripts("xs")
    _assert_frames_equal(golden_frame(df), _extract(df["text"]))


@pytest.mark.slow
def test_s_fixtures_full_dispatch():
    df = gen_transcripts("s")
    _assert_frames_equal(golden_frame(df), _extract(df["text"]))


_TOKENS = [
    "Emp", "Id", "Hire", "Date", "Status", "Pay", "Group", "Notes",
    "Marital", "Work", "#", "FITW", "MED", "W2", "A", "M", "S",
    "12345", "19.00", "0.00", "$5.00", "42%", "12/26/2001",
    "509-121-3247", "088-39-6286", "0.00/14.11/0.00/0.00",
    "alpha", "bravo", "Charlie", "delta", "ACTIVE1", "x", "name:",
    "weekly", "basis", "Alpha Beta", "  ", "", "ünïcode", "Ünïcode",
]


def _rand_doc(rng: np.random.Generator):
    n = int(rng.integers(0, 60))
    words = []
    for _ in range(n):
        t = _TOKENS[rng.integers(0, len(_TOKENS))]
        x0 = float(rng.integers(0, 2200)) / 4.0
        y0 = float(rng.integers(280, 3200)) / 4.0
        w = max(len(t), 1) * 5.0
        h = 10.0
        # occasionally overlapping/negative-gap or zero-width words
        if rng.random() < 0.1:
            w = float(rng.integers(0, 40)) / 4.0
        words.append((t, x0, y0, x0 + w, y0 + h))
    return words


def test_layout_fuzz_500_docs():
    """Random word clouds incl. tolerance-boundary y deltas, empty
    docs, overlaps, unicode — kernel must equal oracle exactly."""
    rng = np.random.default_rng(1234)
    docs = [_rand_doc(rng) for _ in range(500)]
    # plant exact-boundary cases
    docs.append([("a", 36.0, 72.0, 41.0, 82.0), ("b", 60.0, 77.0, 65.0, 87.0),
                 ("c", 36.0, 77.25, 41.0, 87.25)])
    docs.append([])
    docs.append(None)
    got = reflow_flat(*decode_docs(docs))
    for i, d in enumerate(docs):
        expected = None if d is None else spatial.reflow(d)
        assert got[i] == expected, f"doc {i}"


def test_html_fuzz_structures():
    rng = np.random.default_rng(99)
    frags = [
        "<p>{}</p>", "<h2>{}</h2>", "<li><a href='/x'>{}</a></li>",
        "<div>{}</div>", "<nav><a>{}</a></nav>", "<pre>{}</pre>",
        "<blockquote>{}</blockquote>", "<span>{}</span>", "{}",
        "<script>var x = '<p>not a block</p>';</script>",
        "<!-- {} --><td>{}</td>", "<br/><b>{}</b>", "<p>{}&amp;{}</p>",
    ]
    texts = ["lorem ipsum dolor sit amet consectetur adipiscing elit sed",
             "short", "x", ""]
    for _ in range(300):
        n = int(rng.integers(1, 8))
        doc = "".join(
            frags[rng.integers(0, len(frags))].replace(
                "{}", texts[rng.integers(0, len(texts))]
            )
            for _ in range(n)
        )
        doc = "<html><body>" + doc + "</body></html>"
        assert strip_html_doc(doc) == strip_html(doc), doc


def test_hypothesis_layout_if_available():
    try:
        from hypothesis import given, settings, strategies as st
    except ImportError:
        pytest.skip("hypothesis not installed")

    coord = st.integers(0, 3000).map(lambda v: v / 4.0)
    word = st.tuples(
        st.sampled_from(_TOKENS), coord, coord,
        st.integers(0, 200).map(lambda v: v / 4.0), st.just(10.0),
    ).map(lambda w: (w[0], w[1], w[2], w[1] + w[3], w[2] + w[4]))
    doc = st.lists(word, max_size=40)

    @settings(max_examples=150, deadline=None, derandomize=True)
    @given(st.lists(doc, max_size=6))
    def run(docs):
        got = reflow_flat(*decode_docs(docs))
        for i, d in enumerate(docs):
            assert got[i] == spatial.reflow(d)

    run()


def test_content_dedup_expansion_identical(monkeypatch):
    """Content dedup (the kernels run once per unique text, then one
    ``take``) must give the same batch as extracting every row, on
    inputs with heavy payload repetition plus a null text, "" and an
    undecodable envelope."""
    rng = np.random.default_rng(424242)
    base = gen_transcripts("xs")["text"].astype(object).tolist()
    base += [None, "", '{"kind": "pdf_layout", "words": [{"t": "x"']
    texts = pd.Series(
        [base[int(rng.integers(0, len(base)))] for _ in range(2000)],
        dtype="object",
    )
    broken = int(np.flatnonzero(texts == base[-1])[0])
    assert texts.isna().any() and (texts == "").any()
    monkeypatch.setattr(K, "CONTENT_DEDUP", True)
    a = K.extract_batch_flat(texts)
    monkeypatch.setattr(K, "CONTENT_DEDUP", False)
    b = K.extract_batch_flat(texts)
    assert a.num_rows == len(texts)
    assert a.slice(broken, 1).to_pylist()[0]["parse_failed"]
    assert a.equals(b)


def test_envelope_escape_handling():
    """JSON escape decoding parity (kernel vs oracle) on every decode
    path: fast-path valid escapes, strict-path backslash-bearing
    tokens (must NOT be double-decoded), and invalid escapes (must
    degrade to parse_failed, not crash the batch)."""
    from pdfextraction_spark.payload import encode_pdf_envelope

    # 1. canonical envelopes (fast path) with escaped text
    fast = encode_pdf_envelope(
        [("C:\\path", 36.0, 72.0, 80.0, 82.0),
         ("a\bc", 100.0, 72.0, 120.0, 82.0),
         ('say "hi"', 140.0, 72.0, 180.0, 82.0)]
    )
    # 2. non-canonical spacing -> strict json.loads path; tokens carry
    #    a literal backslash AFTER decoding (old bug: re-decoded ->
    #    crash on C:\path, corruption of a\bc)
    strict = (
        '{"kind": "pdf_layout", "words": ['
        '{"t":"C:\\\\path","x0":36.0,"y0":72.0,"x1":80.0,"y1":82.0}, '
        '{"t":"a\\\\bc","x0":100.0,"y0":72.0,"x1":130.0,"y1":82.0}]}'
    )
    # 3. canonical-shaped envelope with an INVALID JSON escape -> the
    #    fast regex matches but decoding must fail the doc (strict
    #    parse of the whole envelope fails identically)
    bad = (
        '{"kind": "pdf_layout", "words": ['
        '{"t": "C:\\qath", "x0": 36.0, "y0": 72.0, "x1": 80.0, "y1": 82.0}]}'
    )
    df = pd.DataFrame({"text": [fast, strict, bad]})
    got = _extract(df["text"])
    _assert_frames_equal(
        golden_frame(df.assign(conv_id="c", turn_idx=[0, 1, 2])), got
    )
    assert "C:\\path" in got[0]["extracted_text"]
    assert "a\bc" in got[0]["extracted_text"]
    # strict-path literal backslashes preserved byte-for-byte
    assert "C:\\path" in got[1]["extracted_text"]
    assert "a\\bc" in got[1]["extracted_text"]
    assert got[2]["parse_failed"]


@pytest.mark.parametrize("text", [
    # truncated after a canonical word: no closing "]}"
    '{"kind": "pdf_layout", "words": '
    '[{"t": "a", "x0": 1, "y0": 2, "x1": 3, "y1": 4}',
    '{"kind": "pdf_layout", "words": [',
    '{"kind": "pdf_layout"}',
    '{"kind": "pdf_layout", garbage',
])
def test_invalid_envelope_is_a_parse_failure(text):
    """An envelope json.loads rejects (or that has no word list) failed
    to parse and passes its text through, as in the oracle, even when
    the word matches alone look canonical."""
    df = pd.DataFrame({"conv_id": "c", "turn_idx": [0], "text": [text]})
    got = _extract(df["text"])
    _assert_frames_equal(golden_frame(df), got)
    assert got[0]["parse_failed"] and got[0]["extracted_text"] == text


def test_canonical_envelopes_take_the_fast_path():
    """Every decodable envelope the encoder writes is decoded by the
    regex fast path, not by strict json.loads."""
    texts = gen_transcripts("xs")["text"]
    pdf = texts[K.detect_kinds(texts) == "pdf_layout"]
    decodable = [t for t in pdf if K._decode_json_strict(t) is not None]
    assert decodable
    assert all(K._canonical_split(t) is not None for t in decodable)


def test_envelope_decoder_fuzz_matches_json():
    """Canonical envelopes with one character cut, changed or added, or
    truncated: the flat decoder fails exactly the envelopes strict JSON
    decoding rejects and gives the same words for the rest (a mangled
    number such as 1..5 used to crash the batch)."""
    from pdfextraction_spark.payload import (
        KIND_PDF, decode_pdf_envelope, detect_kind, encode_pdf_envelope,
    )

    rng = np.random.default_rng(5)
    toks = ["a", "C:\\path", 'say "hi"', "ünï", "\t", "", "x\ny"]
    nums = [0.0, -1.5, 1e-05, 1.5e20, 36, 72.25]
    alphabet = list('{}[]",:. \\-+eE0159tx\t\n\x01')
    texts = []
    while len(texts) < 3000:
        words = [(toks[rng.integers(len(toks))],
                  *(nums[i] for i in rng.integers(len(nums), size=4)))
                 for _ in range(rng.integers(0, 4))]
        s = encode_pdf_envelope(words)
        k = int(rng.integers(len(s)))
        c = alphabet[rng.integers(len(alphabet))]
        s = [s[:k], s[:k] + s[k + 1:], s[:k] + c + s[k + 1:],
             s[:k] + c + s[k:]][rng.integers(4)]
        if detect_kind(s) == KIND_PDF:
            texts.append(s)
    sizes, t_arr, coord, failed = K._decode_envelopes_flat(texts)
    off = np.r_[0, np.cumsum(sizes)]
    for i, s in enumerate(texts):
        exp = decode_pdf_envelope(s)
        assert failed[i] == (exp is None), s
        got = [(t_arr[j], *coord[j]) for j in range(off[i], off[i + 1])]
        assert got == (exp or []), s


def test_last_word_field_rule_whitespace_words():
    """Word texts with INTERNAL whitespace: the reference re-splits the
    joined cluster text with str.split() (spatial_preprocessor.py:341),
    so 'Employee ID' as one word still ends with the field token 'id'.
    Kernel and oracle must agree with that semantics (ADVICE r1)."""
    from pdfextraction_spark.payload import encode_pdf_envelope

    cases = [
        [("Employee ID", 36.0, 72.0, 96.0, 82.0),   # internal space
         ("77001", 260.0, 72.0, 290.0, 82.0)],
        [("Tax\tCode", 36.0, 72.0, 80.0, 82.0),      # internal tab
         ("FITW", 260.0, 72.0, 285.0, 82.0)],
        [("Position  Title ", 36.0, 72.0, 110.0, 82.0),  # runs + trailing
         ("Manager", 260.0, 72.0, 300.0, 82.0)],
    ]
    df = pd.DataFrame(
        {"conv_id": "c", "turn_idx": range(len(cases)),
         "text": [encode_pdf_envelope(w) for w in cases]}
    )
    golden = golden_frame(df)
    got = _extract(df["text"])
    _assert_frames_equal(golden, got)
    # all three must classify as field lines (the 'fields' span label)
    for i, row in enumerate(got):
        labels = [s["label"] for s in row["spans"]]
        assert "fields" in labels, (i, row["extracted_text"])
