"""Golden per-turn equality (the primary gate, BASELINE.json metric):
the Spark pipeline's (extracted_text, spans) must exactly equal the
loop-based oracle's golden set, joined on (conv_id, turn_idx) under
stable turn ordering."""

import pandas as pd
import pytest

from fixtures.generate import gen_transcripts, golden_frame
from pdfextraction_spark.pipeline import extract_dataframe


@pytest.mark.slow
def test_spark_pipeline_matches_golden(spark, xs_parquet):
    golden = golden_frame(gen_transcripts("xs"))
    turns = spark.read.parquet(xs_parquet)
    result = (
        extract_dataframe(turns)
        .orderBy("conv_id", "turn_idx")
        .toPandas()
    )
    golden = golden.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    assert len(result) == len(golden)

    for i in range(len(golden)):
        g, r = golden.iloc[i], result.iloc[i]
        key = (g["conv_id"], int(g["turn_idx"]))
        assert (r["conv_id"], int(r["turn_idx"])) == key
        assert r["payload_kind"] == g["payload_kind"], key
        assert r["extracted_text"] == g["extracted_text"], key
        rspans = [(s["label"], s["start"], s["end"]) for s in r["spans"]]
        gspans = [(s["label"], s["start"], s["end"]) for s in g["spans"]]
        assert rspans == gspans, key
        assert int(r["blocks_kept"]) == int(g["blocks_kept"]), key
        assert int(r["blocks_dropped"]) == int(g["blocks_dropped"]), key
        assert bool(r["parse_failed"]) == bool(g["parse_failed"]), key


@pytest.mark.slow
def test_pathological_inputs_survive(spark, tmp_path):
    """Adversarial payloads must not kill the Arrow batch: multi-MB
    single turn, deeply nested HTML, 20k-word envelope, NUL bytes,
    emoji, half-open fences. Every turn must come back with the
    conservative semantics (extract or passthrough+parse_failed),
    kernel == oracle."""
    import pandas as pd

    from fixtures.generate import golden_frame
    from pdfextraction_spark.payload import encode_pdf_envelope
    from pdfextraction_spark.pipeline import extract_dataframe

    big_text = ("lorem ipsum " * 200_000)                    # ~2.4 MB plain
    deep_para = ("deep content here with plenty of words so the "
                 "density heuristic keeps a genuine paragraph " * 3)
    deep_html = ("<html><body>" + "<div>" * 3000
                 + f"<p>{deep_para}</p>" + "</div>" * 3000
                 + "</body></html>")
    many_words = encode_pdf_envelope(
        [(f"w{i}", float((i % 100) * 6), float(72 + (i // 100) * 14),
          float((i % 100) * 6 + 5), float(82 + (i // 100) * 14))
         for i in range(20_000)]
    )
    weird = "nul\x00byte \U0001f600 emoji \t\t tabs"
    half_fence = "```json\n{\"status\": \"ok\", \"items\": [\"a\""
    texts = [big_text, deep_html, many_words, weird, half_fence, "", None]
    df = pd.DataFrame(
        {
            "conv_id": [f"p{i}" for i in range(len(texts))],
            "turn_idx": pd.array(range(len(texts)), dtype="int32"),
            "role": ["user"] * len(texts),
            "text": pd.array(texts, dtype="string"),
            "tool": pd.array([None] * len(texts), dtype="string"),
            "ts": pd.to_datetime(["2024-01-01"] * len(texts)).astype("datetime64[us]"),
        }
    )
    p = str(tmp_path / "pathological.parquet")
    df.to_parquet(p, index=False)
    out = (
        extract_dataframe(spark.read.parquet(p))
        .orderBy("turn_idx")
        .toPandas()
    )
    assert len(out) == len(texts)
    golden = golden_frame(df.fillna({"text": ""}))
    for i in range(len(texts)):
        assert out["extracted_text"].iloc[i] == golden["extracted_text"].iloc[i], i
        assert bool(out["parse_failed"].iloc[i]) == bool(golden["parse_failed"].iloc[i]), i
    assert "deep content here" in out["extracted_text"].iloc[1]
    assert out["blocks_kept"].iloc[2] > 100  # envelope actually reflowed
