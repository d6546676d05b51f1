"""block_class (step-1 structure classification) and cross-turn table
merge — Spark results pinned against the loop-oracle golden mirrors
(oracle/mergeops.py) on the xs fixture, plus hand-pinned rule cases."""

import pandas as pd
import pytest

from fixtures.golden import ensure_golden
from pdfextraction_spark.payload import encode_pdf_envelope


@pytest.fixture(scope="module")
def golden_xs():
    return ensure_golden("xs")


def test_classify_blocks_vs_golden(spark, xs_parquet, golden_xs):
    import os

    from pdfextraction_spark.operators.classify import classify_turns

    got = (
        classify_turns(spark.read.parquet(xs_parquet))
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    g_turns = pd.read_parquet(os.path.join(golden_xs, "turns.parquet"))
    g_tables = pd.read_parquet(os.path.join(golden_xs, "tables.parquet"))
    pdf = g_turns[(g_turns.payload_kind == "pdf_layout") & ~g_turns.parse_failed]
    n_fields = {
        (r.conv_id, r.turn_idx): sum(
            1 for s in r.spans.split("|") if s.startswith("fields:")
        ) if r.spans else 0
        for r in pdf.itertuples()
    }
    n_regions = (
        g_tables.groupby(["conv_id", "turn_idx"])["table_idx"].nunique().to_dict()
    )
    assert len(got) == len(pdf)
    for r in got.itertuples():
        key = (r.conv_id, r.turn_idx)
        nf, nt = n_fields[key], n_regions.get(key, 0)
        exp = ("mixed" if nf and nt else "table" if nt
               else "form" if nf else "unknown")
        assert r.block_class == exp, key
        assert r.n_field_lines == nf and r.n_table_regions == nt, key
        exp_conf = 0.0 if exp == "unknown" else round(
            0.5 + 0.1 * min(nf + 2 * nt, 4), 2
        )
        assert abs(r.confidence - exp_conf) < 1e-9, key
    # the xs fixture exercises every class
    assert {"form", "table", "mixed"} <= set(got.block_class)


def test_merge_tables_vs_golden(spark, xs_parquet, golden_xs):
    import os

    from pdfextraction_spark.operators.merge import merge_conversation_tables
    from pdfextraction_spark.operators.tables import extract_tables

    got = (
        merge_conversation_tables(extract_tables(spark.read.parquet(xs_parquet)))
        .toPandas()
        .sort_values(["conv_id", "headers"])
        .reset_index(drop=True)
    )
    exp = (
        pd.read_parquet(os.path.join(golden_xs, "table_merge.parquet"))
        .sort_values(["conv_id", "headers"])
        .reset_index(drop=True)
    )
    assert len(got) == len(exp) > 0
    for c in ["conv_id", "headers", "total_rows", "source_turns",
              "rows_by_turn", "spans_multiple_turns"]:
        assert list(got[c]) == list(exp[c]), c


def test_merge_tables_pinned_multi_turn(spark, tmp_path):
    """A table whose header repeats across turns accumulates rows with
    per-turn bookkeeping (result_merger.py:122-163 semantics)."""
    from pdfextraction_spark.operators.merge import merge_conversation_tables
    from pdfextraction_spark.operators.tables import extract_tables

    def table_turn(rows):
        words = []
        y = 72.0
        hx = [36.0, 156.0, 276.0]
        for t, x in zip(["Code", "Rate", "Total"], hx):
            words.append((t, x, y, x + len(t) * 5.0, y + 10.0))
        y += 16.0
        for row in rows:
            for t, x in zip(row, hx):
                words.append((t, x, y, x + len(t) * 5.0, y + 10.0))
            y += 16.0
        return encode_pdf_envelope(words)

    df = pd.DataFrame(
        {
            "conv_id": ["c1", "c1", "c2"],
            "turn_idx": pd.array([0, 3, 0], dtype="int32"),
            "role": ["user"] * 3,
            "text": [
                table_turn([["MED", "19.00", "57.00"], ["FITW", "12.00", "24.00"]]),
                table_turn([["W2", "10.00", "10.00"]] * 3),
                table_turn([["MED", "19.00", "57.00"], ["MED", "19.00", "57.00"]]),
            ],
            "tool": [None] * 3,
            "ts": pd.to_datetime(["2024-01-01"] * 3).astype("datetime64[us]"),
        }
    )
    p = str(tmp_path / "t.parquet")
    df.to_parquet(p, index=False)
    got = (
        merge_conversation_tables(extract_tables(spark.read.parquet(p)))
        .toPandas()
        .sort_values("conv_id")
        .reset_index(drop=True)
    )
    assert list(got.conv_id) == ["c1", "c2"]
    c1 = got.iloc[0]
    assert c1.total_rows == 5
    assert c1.source_turns == "0,3"
    assert c1.rows_by_turn == "0:2,3:3"
    assert bool(c1.spans_multiple_turns)
    c2 = got.iloc[1]
    assert c2.total_rows == 2
    assert c2.source_turns == "0"
    assert not bool(c2.spans_multiple_turns)


def test_merge_fields_fuzz_vs_golden(spark):
    """Randomized extracted_text (fields with ties, [EMPTY], repeated
    values, multi-separator parts, space-only values): Spark merge must
    equal the loop mirror exactly."""
    import numpy as np

    from pdfextraction_spark.operators.merge import merge_conversation_fields
    from pdfextraction_spark.oracle.mergeops import (
        merge_conversation_fields_golden,
    )

    rng = np.random.default_rng(2024)
    fields = ["Emp Id", "Status", "Pay Group", "Dept", "Notes", "A:\tB"]
    values = ["12345", "A", "ACTIVE1", "12345678", "[EMPTY]", " ", "",
              "x:\ty", "same", "same", "longer value here"]
    rows = []
    for ci in range(40):
        for ti in range(int(rng.integers(1, 6))):
            lines = []
            for _ in range(int(rng.integers(0, 4))):
                parts = []
                for _ in range(int(rng.integers(1, 3))):
                    f = fields[rng.integers(0, len(fields))]
                    v = values[rng.integers(0, len(values))]
                    parts.append(f"{f}:\t{v}")
                lines.append("    ".join(parts))
            rows.append((f"c{ci:03d}", ti, "\n".join(lines)))
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, extracted_text string"
    )
    got = {
        (r.conv_id, r.field): (r.value, r.source_turn,
                               r.conflict_detected, r.n_occurrences)
        for r in merge_conversation_fields(df).collect()
    }
    exp = {
        (m["conv_id"], m["field"]): (m["value"], m["source_turn"],
                                     m["conflict_detected"], m["n_occurrences"])
        for m in merge_conversation_fields_golden(rows)
    }
    assert got == exp
    assert len(got) > 50  # fuzz actually generated work


def test_schema_norm_fuzz_vs_golden(spark):
    """Randomized well-formed payloads of all four shapes (plus junk):
    Spark normalizer == loop mirror."""
    import json

    import numpy as np
    from pyspark.sql import functions as F

    from pdfextraction_spark.functions.schema_norm import normalized_schema_str
    from pdfextraction_spark.oracle.mergeops import normalized_schema_str_golden

    rng = np.random.default_rng(7)
    # small name pool + replace=True => frequent duplicate names, the
    # case that used to crash map_from_arrays (DUPLICATED_MAP_KEY)
    names = [f"Field {i}" for i in range(8)]

    def rand_payload():
        shape = rng.integers(0, 6)
        ns = list(rng.choice(names, size=int(rng.integers(0, 5)),
                             replace=True))
        if shape == 0:
            return json.dumps({n: (None if rng.random() < 0.3 else f"v{i}")
                               for i, n in enumerate(ns)})
        if shape == 1:
            return json.dumps(ns)
        if shape == 2:
            return json.dumps([{"field_name": n} for n in ns])
        if shape == 3:
            return json.dumps([
                {"label": n} if rng.random() < 0.4
                else {"label": n, "estimated_value": f"v{i}"}
                for i, n in enumerate(ns)
            ])
        if shape == 4:
            return json.dumps(int(rng.integers(0, 100)))
        return '{"broken": '  # malformed
    samples = [(i, rand_payload()) for i in range(300)]
    df = spark.createDataFrame(samples, "sample_id int, payload string")
    got = {
        r.sample_id: r.normalized
        for r in df.select(
            "sample_id",
            normalized_schema_str(F.col("payload")).alias("normalized"),
        ).collect()
    }
    for sid, payload in samples:
        assert got[sid] == normalized_schema_str_golden(payload), (sid, payload)
