"""Table kernel (M3) tests: pinned semantics + kernel-vs-oracle."""

import numpy as np
import pytest

from conftest import decode_docs
from fixtures.generate import gen_transcripts
from pdfextraction_spark.kernels.tables import spacing_stats_flat, tables_flat
from pdfextraction_spark.oracle import tables as OT
from pdfextraction_spark.oracle.spatial import spacing_stats
from pdfextraction_spark.payload import KIND_PDF, decode_pdf_envelope, detect_kind


def W(t, x0, y, x1, h=10.0):
    return (t, x0, y, x1, y + h)


def _grid(headers, hx, rows, y0=72.0, dy=16.0):
    words = [W(h, x, y0, x + 5 * len(h)) for h, x in zip(headers, hx)]
    y = y0 + dy
    for row in rows:
        for cell, x in zip(row, hx):
            if cell is not None:
                words.append(W(cell, x, y, x + 5 * len(cell)))
        y += dy
    return words


class TestRegionDetection:
    def test_regular_spacing_boundary(self):
        assert OT.has_regular_spacing([0, 100, 200]) is True
        assert OT.has_regular_spacing([0, 100, 210]) is True   # dev 5 <= 10
        assert OT.has_regular_spacing([0, 100, 221]) is False  # dev 10.5
        assert OT.has_regular_spacing([0, 100]) is False       # < 3 cols

    def test_region_needs_two_rows_and_20px_gap(self):
        words = _grid(["Code", "Rate", "Total"], [36, 156, 276],
                      [["MED", "19.00", "57.00"]])
        regions = OT.identify_table_regions(words)
        assert len(regions) == 1  # header + 1 row = 2 aligned lines
        # push the data row 20.25px below the header's bottom -> split
        words2 = _grid(["Code", "Rate", "Total"], [36, 156, 276], [])
        words2 += [W(t, x, 72.0 + 10.0 + 20.25, x + 5 * len(t))
                   for t, x in zip(["MED", "19.00", "57.00"], [36, 156, 276])]
        assert OT.identify_table_regions(words2) == []


class TestExtraction:
    def test_simple_table_with_nulls_and_decimals(self):
        words = _grid(
            ["Code", "Rate", "Total"], [36.0, 156.0, 276.0],
            [["MED", "19.00", "57.00"],
             ["FITW", None, "0.00/14.11/0.00/0.00"]],
        )
        # whole-page extraction keeps the 2-cell row; verbatim decimals
        # and null-for-empty (never "0.00") per the reference golden
        rows = OT.extract_table(["Code", "Rate", "Total"], words)
        assert rows == [
            {"Code": "MED", "Rate": "19.00", "Total": "57.00"},
            {"Code": "FITW", "Rate": None, "Total": "0.00/14.11/0.00/0.00"},
        ]
        # region auto-detection excludes the 2-word row from the bbox
        # (it is not a candidate line: < 3 regular-spaced words) —
        # reference behaviour, spatial_preprocessor.py:481
        tables = OT.extract_doc_tables(words)
        assert len(tables) == 1
        assert tables[0]["rows"] == [["MED", "19.00", "57.00"]]

    def test_multiword_header_window_match(self):
        """J4: 'Effective Dates' matched as a consecutive word window
        (coordinate_table_extractor.py:131-154)."""
        words = [
            W("Code", 36, 72, 60), W("Effective", 156, 72, 200),
            W("Dates", 204, 72, 230),
            W("MED", 36, 88, 55), W("04/19/2024", 156, 88, 206),
            W("12/31/2100", 210, 88, 260),
        ]
        rows = OT.extract_table(["Code", "Effective Dates"], words)
        assert rows == [{"Code": "MED",
                         "Effective Dates": "04/19/2024 12/31/2100"}]

    def test_header_row_excluded_fallback_assignment(self):
        words = _grid(["Code", "Rate", "Total"], [36.0, 156.0, 276.0],
                      [["MED", "19.00", "57.00"]])
        rows = OT.extract_table(["Code", "Rate", "Total"], words)
        assert rows == [{"Code": "MED", "Rate": "19.00", "Total": "57.00"}]

    def test_duplicate_header_names_share_cell_group(self):
        """Reference keys its row dict by header text -> duplicate
        names collapse (coordinate_table_extractor.py:200-203)."""
        words = _grid(["Code", "Code", "Total"], [36.0, 156.0, 276.0],
                      [["A1", "B2", "9.00"]])
        rows = OT.extract_table(["Code", "Code", "Total"], words)
        assert rows == [{"Code": "A1 B2", "Total": "9.00"}]


class TestKernelVsOracle:
    def test_fixtures(self):
        df = gen_transcripts("xs")
        words = [decode_pdf_envelope(t) for t in df["text"]
                 if detect_kind(t) == KIND_PDF]
        got = tables_flat(*decode_docs(words))
        for i, w in enumerate(words):
            exp = None if w is None else OT.extract_doc_tables(w)
            assert got[i] == exp, i

    def test_fuzz(self):
        rng = np.random.default_rng(77)
        toks = ["Code", "Rate", "Total", "MED", "FITW", "19.00", "0.00",
                "Effective", "Dates", "04/19/2024", "x", "Code"]
        docs = []
        for _ in range(300):
            n = int(rng.integers(0, 40))
            docs.append([
                W(toks[rng.integers(0, len(toks))],
                  float(rng.integers(0, 2000)) / 4.0,
                  float(rng.integers(280, 2000)) / 4.0,
                  float(rng.integers(0, 2000)) / 4.0 + float(rng.integers(4, 200)) / 4.0)
                for _ in range(n)
            ])
        docs += [[], None]
        flat = decode_docs(docs)
        got = tables_flat(*flat)
        stats = spacing_stats_flat(*flat[:4])
        for i, w in enumerate(docs):
            if w is None:
                assert got[i] is None
                continue
            assert got[i] == OT.extract_doc_tables(w), i
            exp = spacing_stats(w)
            assert np.allclose(stats[i], exp, rtol=1e-9, atol=1e-12), (i, exp)


@pytest.mark.slow
def test_spark_table_operator(spark, xs_parquet):
    from pdfextraction_spark.operators.tables import extract_tables

    turns = spark.read.parquet(xs_parquet)
    out = extract_tables(turns).orderBy("conv_id", "turn_idx", "table_idx",
                                        "row_idx").toPandas()
    # oracle over the same fixture
    df = gen_transcripts("xs")
    exp_rows = []
    for conv, ti, text in zip(df["conv_id"], df["turn_idx"], df["text"]):
        if detect_kind(text) != KIND_PDF:
            continue
        w = decode_pdf_envelope(text)
        if w is None:
            continue
        for tbl_i, tab in enumerate(OT.extract_doc_tables(w)):
            for ri, cells in enumerate(tab["rows"]):
                exp_rows.append((conv, int(ti), tbl_i, ri, cells))
    exp_rows.sort()
    assert len(out) == len(exp_rows)
    for k in range(len(exp_rows)):
        conv, ti, tbl_i, ri, cells = exp_rows[k]
        r = out.iloc[k]
        assert (r["conv_id"], int(r["turn_idx"]), int(r["table_idx"]),
                int(r["row_idx"])) == (conv, ti, tbl_i, ri)
        assert list(r["cells"]) == cells


class TestSpacingStats:
    def test_kernel_vs_oracle(self):
        df = gen_transcripts("xs")
        words = [decode_pdf_envelope(t) for t in df["text"]
                 if detect_kind(t) == KIND_PDF]
        docs = [w for w in words if w is not None]
        got = spacing_stats_flat(*decode_docs(docs)[:4])
        for i, w in enumerate(docs):
            exp = spacing_stats(w)
            assert np.allclose(got[i], exp, rtol=1e-9, atol=1e-12), (i, exp, got[i])

    def test_pinned(self):
        words = [W("a", 0, 72, 10), W("b", 20, 72, 30), W("c", 50, 72, 60),
                 W("d", 55, 72, 65),  # overlap with c: gap -5 ignored
                 W("e", 0, 100, 10)]  # new line: no cross-line gap
        avg, med, std = spacing_stats(words)
        # gaps: 10 (a->b), 20 (b->c); (c->d) negative, dropped
        assert (avg, med) == (15.0, 20.0)  # upper median
        assert abs(std - 5.0) < 1e-12
