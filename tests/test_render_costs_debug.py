"""Round-5 reference-parity closers: S4 page render, X19 cost
arithmetic, O5/X21 text guards, S9 debug-response sink.

Render value gate: exact ink counts on crafted pages, the dpi/72
scaling law, and byte round-trips through the real PNG codec — the
operator has no SQL oracle (rasterization), so these pins ARE the
correctness evidence behind the rows-only driver row.
"""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from pdfextraction_spark.functions.costs import (
    FALLBACK,
    PRICING,
    cost_summary,
    estimate_costs,
)
from pdfextraction_spark.functions.png import decode_png
from pdfextraction_spark.functions.render import (
    MAX_PIXELS,
    rasterize_words,
    render_pages,
)
from pdfextraction_spark.functions.text import clip_text, preview_text
from pdfextraction_spark.payload import encode_pdf_envelope


# ---------------------------------------------------------------- S4

def _w(x0, y0, x1, y1, t="w"):
    return (t, x0, y0, x1, y1)


def test_rasterize_exact_ink_disjoint_boxes():
    img = rasterize_words(
        [_w(10, 10, 20, 15), _w(30, 30, 34, 32)], 100, 50, dpi=72
    )
    assert img.shape == (50, 100)
    assert int((img == 0).sum()) == 10 * 5 + 4 * 2
    # the boxes sit exactly where placed
    assert img[10:15, 10:20].max() == 0 and img[9, 10] == 255


def test_rasterize_dpi_scaling_law():
    words = [_w(10, 10, 20, 15)]
    base = int((rasterize_words(words, 100, 50, dpi=72) == 0).sum())
    doubled = rasterize_words(words, 100, 50, dpi=144)
    assert doubled.shape == (100, 200)  # scale = dpi/72 on page dims
    assert int((doubled == 0).sum()) == 4 * base  # area scales as s^2


def test_rasterize_degenerate_and_out_of_bounds():
    # zero-area word still inks >= 1 px; out-of-page box is clipped
    img = rasterize_words([_w(5, 5, 5, 5), _w(90, 40, 200, 200)], 100, 50, 72)
    assert img[5, 5] == 0
    assert int((img[40:, 90:] == 0).sum()) == 10 * 10


def test_rasterize_pixel_cap_raises():
    with pytest.raises(ValueError, match="MAX_PIXELS"):
        rasterize_words([], 1e6, 1e6, dpi=300)
    assert MAX_PIXELS == 64_000_000


def test_render_pages_spark(spark):
    env = encode_pdf_envelope([_w(10, 10, 60, 20), _w(10, 30, 40, 38)])
    rows = [
        ("c1", 0, "user", env),
        ("c1", 1, "assistant", "no layout here"),
        ("c2", 0, "user", env),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string"
    )
    out = render_pages(df, dpi=18).orderBy("conv_id").toPandas()
    # non-layout turn skipped, one page per layout turn
    assert list(out["conv_id"]) == ["c1", "c2"]
    assert (out["n_words"] == 2).all()
    s = 18 / 72.0
    assert (out["width"] == math.ceil(612 * s)).all()
    assert (out["height"] == math.ceil(792 * s)).all()
    assert (out["ink_pixels"] > 0).all()
    for png in out["png"]:
        assert bytes(png)[:8] == b"\x89PNG\r\n\x1a\n"
        img = decode_png(bytes(png))
        assert img.shape[:2] == (math.ceil(792 * s), math.ceil(612 * s))
        assert img.min() == 0 and img.max() == 255


# --------------------------------------------------------------- X19

def test_estimate_costs_reference_formula(spark):
    usage = spark.createDataFrame(
        [
            ("gpt-4o", 1000, 500),
            ("gpt-3.5-turbo", 2000, 1000),
            ("never-heard-of-it", 10, 20),
        ],
        "model string, input_tokens long, output_tokens long",
    )
    got = {
        r["model"]: r
        for r in estimate_costs(usage).collect()
    }
    # reference: (in/1000)*p_in + (out/1000)*p_out  (round 6 is lossless
    # here: every table rate is integral in nanodollars per token)
    for model, in_t, out_t in [
        ("gpt-4o", 1000, 500), ("gpt-3.5-turbo", 2000, 1000),
    ]:
        p_in, p_out = PRICING[model]
        want = round((in_t / 1000) * p_in + (out_t / 1000) * p_out, 6)
        assert got[model]["estimated_cost"] == pytest.approx(want, abs=1e-12)
        assert got[model]["cost_nanos"] == int(round(want * 1e9))
    fb = round((10 / 1000) * FALLBACK[0] + (20 / 1000) * FALLBACK[1], 6)
    assert got["never-heard-of-it"]["estimated_cost"] == pytest.approx(fb)
    assert got["never-heard-of-it"]["cost_nanos"] == 300_000


def test_cost_summary_integer_exact(spark):
    usage = spark.createDataFrame(
        [("gpt-4", 1, 1)] * 7, "model string, input_tokens long, output_tokens long"
    )
    row = cost_summary(estimate_costs(usage)).collect()[0]
    # 7 calls x (30000 + 60000) nanodollars, summed exactly
    assert row["n_calls"] == 7
    assert row["cost_nanos"] == 7 * 90_000


# ----------------------------------------------------------- O5/X21

def test_clip_and_preview_semantics(spark):
    df = spark.createDataFrame(
        [("a" * 199,), ("b" * 200,), ("c" * 201,), ("",)], "text string"
    )
    out = df.select(
        preview_text(F.col("text")).alias("p"),
        F.length(clip_text(F.col("text"), 200)).alias("c"),
    ).collect()
    assert out[0]["p"] == "a" * 199 and out[0]["c"] == 199
    assert out[1]["p"] == "b" * 200  # exactly n: no ellipsis
    assert out[2]["p"] == "c" * 200 + "..." and out[2]["c"] == 200
    assert out[3]["p"] == ""


# ---------------------------------------------------------------- S9

@pytest.mark.slow
def test_debug_response_sink(spark, tmp_path):
    from fixtures.generate import write_transcripts_parquet
    from pdfextraction_spark.pipeline import run_extraction_job

    p = str(tmp_path / "in.parquet")
    write_transcripts_parquet(p, "s", total_turns=1500)
    out, mf, dbg = (
        str(tmp_path / "out"), str(tmp_path / "mf"), str(tmp_path / "dbg")
    )
    summary = run_extraction_job(
        spark, p, out, mf, num_partitions=4, n_chunks=2, debug_dir=dbg
    )
    failed = spark.read.parquet(out).filter("parse_failed")
    n_failed = failed.count()
    assert n_failed > 0  # the fixture plants ~2% malformed envelopes
    # the summary counts the committed output rows
    written = spark.read.parquet(out).agg(
        F.count("*").alias("turns"),
        F.sum("blocks_dropped").alias("blocks_dropped"),
    ).collect()[0]
    assert summary["observed_metrics"] == {
        "turns": written["turns"],
        "parse_failures": n_failed,
        "blocks_dropped": written["blocks_dropped"],
    }
    dump = spark.read.parquet(dbg)
    assert dump.count() == n_failed
    pdump = dump.toPandas()
    # prompt/response analogues + lineage, all populated
    for col in ("raw_payload", "extracted_text", "run_id", "commit_id",
                "payload_kind", "dumped_at"):
        assert col in pdump.columns
    assert pdump["raw_payload"].notna().all()
    # the dump keys match the failed rows exactly
    a = set(map(tuple, pdump[["conv_id", "turn_idx"]].values))
    b = set(map(tuple, failed.select("conv_id", "turn_idx").toPandas().values))
    assert a == b


@pytest.mark.slow
def test_debug_sink_backfill_on_resume(spark, tmp_path):
    """The dump runs after append_manifest, so a crash in that window
    leaves committed chunks whose failures never reached the debug
    dir. Simulate the worst case (a whole prior run with no debug
    sink), then start again WITH it: the reconcile must backfill every
    committed chunk with parse_failures > 0, making the debug dir
    complete relative to the manifest."""
    from fixtures.generate import write_transcripts_parquet
    from pdfextraction_spark.pipeline import run_extraction_job

    p = str(tmp_path / "in.parquet")
    write_transcripts_parquet(p, "s", total_turns=1500)
    out, mf, dbg = (
        str(tmp_path / "out"), str(tmp_path / "mf"), str(tmp_path / "dbg")
    )
    s1 = run_extraction_job(
        spark, p, out, mf, run_id="r1", num_partitions=4, n_chunks=2
    )
    assert s1["partitions_processed"] == 4
    s2 = run_extraction_job(
        spark, p, out, mf, run_id="r2", num_partitions=4, n_chunks=2,
        debug_dir=dbg,
    )
    # nothing left to extract — the whole debug dir is backfill
    assert s2["partitions_processed"] == 0
    assert len(s2["debug_commits_backfilled"]) > 0
    failed = spark.read.parquet(out).filter("parse_failed")
    dump = spark.read.parquet(dbg)
    assert dump.count() == failed.count() > 0
    a = set(map(tuple, dump.select("conv_id", "turn_idx").toPandas().values))
    b = set(map(tuple, failed.select("conv_id", "turn_idx").toPandas().values))
    assert a == b
    # idempotent: a third start backfills nothing
    s3 = run_extraction_job(
        spark, p, out, mf, run_id="r3", num_partitions=4, n_chunks=2,
        debug_dir=dbg,
    )
    assert s3["debug_commits_backfilled"] == []
    assert spark.read.parquet(dbg).count() == failed.count()


def test_golden_sweep_union_matches_engine_on_overlap():
    """The golden render oracle computes ink by coordinate-compression
    box-union sweep; the engine paints per-box. On OVERLAPPING boxes a
    naive per-box area sum would over-count — the two algorithms must
    still agree exactly (that disagreement is what the driver value
    check exists to catch)."""
    import pandas as pd

    from fixtures.golden import _render_golden
    from pdfextraction_spark.functions.render import rasterize_words
    from pdfextraction_spark.payload import encode_pdf_envelope

    # heavy overlap + containment + disjoint, sub-pixel edges
    words = [
        ("a", 10.0, 10.0, 40.0, 30.0),
        ("b", 20.0, 15.0, 60.0, 25.0),   # overlaps a
        ("c", 12.0, 12.0, 18.0, 18.0),   # contained in a
        ("d", 100.3, 50.7, 120.9, 60.1),  # disjoint, fractional
    ]
    dpi = 36
    env = encode_pdf_envelope(words, 200.0, 100.0)
    df = pd.DataFrame(
        {"conv_id": ["c0"], "turn_idx": [0], "text": [env]}
    )
    g = _render_golden(df, dpi=dpi).iloc[0]
    img = rasterize_words(words, 200.0, 100.0, dpi=dpi)
    assert int(g.ink_pixels) == int((img == 0).sum())
    assert (g.width, g.height) == (img.shape[1], img.shape[0])
    # overlap is real in this fixture: naive area-sum over-counts
    s = dpi / 72.0
    naive = 0
    import math
    for _t, x0, y0, x1, y1 in words:
        xa, ya = int(math.floor(x0 * s)), int(math.floor(y0 * s))
        xb, yb = int(math.ceil(x1 * s)), int(math.ceil(y1 * s))
        naive += (xb - xa) * (yb - ya)
    assert naive > int(g.ink_pixels)


# ------------------------------------------------- property tests

def test_render_decomposition_property():
    """Hypothesis: rendering all boxes at once equals OR-ing
    one-box-at-a-time renders (different execution path through the
    same rasterizer), and ink never exceeds the per-box ceil-area sum
    or the canvas."""
    try:
        from hypothesis import given, settings, strategies as st
    except ImportError:
        pytest.skip("hypothesis not installed")

    box = st.tuples(
        st.floats(0, 90), st.floats(0, 40),
        st.floats(0, 110), st.floats(0, 60),
    ).map(lambda b: ("w", min(b[0], b[2]), min(b[1], b[3]),
                     max(b[0], b[2]), max(b[1], b[3])))

    @settings(max_examples=60, deadline=None)
    @given(st.lists(box, min_size=1, max_size=8), st.sampled_from([36, 72, 90]))
    def prop(words, dpi):
        whole = rasterize_words(words, 100, 50, dpi)
        union = np.full_like(whole, 255)
        cap = 0
        for w in words:
            one = rasterize_words([w], 100, 50, dpi)
            union = np.minimum(union, one)
            cap += int((one == 0).sum())
        assert np.array_equal(whole, union)
        ink = int((whole == 0).sum())
        assert 1 <= ink <= min(cap, whole.size)

    prop()


def test_cost_nanos_exact_vs_rational_reference():
    """Hypothesis: BIGINT nanodollar arithmetic equals the reference
    formula evaluated in EXACT rational arithmetic (Fraction), for
    every model and the fallback, at any token count — i.e. the
    integer path is the reference's math with the float error and the
    lossy round(,6) removed."""
    try:
        from hypothesis import given, settings, strategies as st
    except ImportError:
        pytest.skip("hypothesis not installed")
    from fractions import Fraction

    from pdfextraction_spark.functions.costs import _nanos_per_token

    rates = dict(PRICING)
    rates["anything-else"] = FALLBACK

    @settings(max_examples=200, deadline=None)
    @given(st.sampled_from(sorted(rates)), st.integers(0, 10**12),
           st.integers(0, 10**12))
    def prop(model, in_t, out_t):
        p_in, p_out = rates[model]
        nanos = in_t * _nanos_per_token(p_in) + out_t * _nanos_per_token(p_out)
        exact = (Fraction(in_t, 1000) * Fraction(str(p_in))
                 + Fraction(out_t, 1000) * Fraction(str(p_out)))
        assert Fraction(nanos, 10**9) == exact

    prop()
