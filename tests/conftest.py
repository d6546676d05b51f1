import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from pdfextraction_spark.session import build_session

    s = build_session(app_name="pdfx-tests", master="local[4]",
                      shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def xs_parquet(tmp_path_factory):
    from fixtures.generate import write_transcripts_parquet

    p = tmp_path_factory.mktemp("fixtures") / "transcripts_xs.parquet"
    return write_transcripts_parquet(str(p), "xs")


# an envelope that strict JSON decoding rejects (truncated word list)
BROKEN_ENVELOPE = '{"kind": "pdf_layout", "words": [{"t": "x"'


def decode_docs(docs):
    """Decode word-list docs the way the operators do: each doc becomes
    an envelope (``payload.encode_pdf_envelope``; a None doc becomes
    BROKEN_ENVELOPE) and the batch goes through ``decode_pdf_rows``.
    Returns the PDF kernels' arguments (n_docs, sizes, t_arr, coord,
    failed)."""
    import pandas as pd

    from pdfextraction_spark.kernels.extract import decode_pdf_rows
    from pdfextraction_spark.payload import encode_pdf_envelope

    texts = pd.Series(
        [BROKEN_ENVELOPE if w is None else encode_pdf_envelope(w)
         for w in docs],
        dtype=object,
    )
    _, pdf_idx, decoded = decode_pdf_rows(texts)
    assert len(pdf_idx) == len(docs)
    return (len(docs), *decoded)
