"""Seeded benchmark inputs, cached on disk by seed, size and generator
version.

Payloads come from the fixture generator's per-kind builders
(``fixtures/generate.py``), driven by an RNG seeded with the benchmark's
``--seed``. Two transcript shapes:

- ``unique``: every turn carries its own text. A seeded pool of builder
  payloads is made distinct per turn by a turn-numbered token placed
  where the payload kind's kernel reads it (first paragraph, first PDF
  word, prose head), so the kernels do per-turn work while input
  generation stays fast enough to repeat for every seed.
- ``pooled``: turns tile a seeded pool of about 4k payloads, the shape
  of the fixture generator's bench tier, so content dedup collapses
  most of each batch.

Each cache entry is written into a freshly wiped ``.tmp`` sibling and
moved into place with ``os.replace``, so an interrupted write can never
be served later.
"""

from __future__ import annotations

import os
import shutil
from datetime import datetime

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from fixtures.generate import (
    FIXTURE_VERSION,
    _gen_html,
    _gen_pdf,
    _gen_plain,
    _turn_counts,
)

_BASE_TS = np.datetime64(datetime(2024, 1, 1), "us")
_ROLES = np.asarray(["user", "assistant", "tool"], dtype=object)
# share of turns in the ``unique`` shape that get their own token; the
# rest repeat a pool payload verbatim
UNIQUE_SHARE = 0.85


def _payload_pool(rng: np.random.Generator, size: int):
    """``size`` builder payloads in the fixture's 40/30/30 plain/HTML/PDF
    mix, with each payload's kind index (0 plain, 1 html, 2 pdf)."""
    mix = rng.random(size)
    kinds = np.where(mix < 0.4, 0, np.where(mix < 0.7, 1, 2))
    builders = (_gen_plain, _gen_html, _gen_pdf)
    return [builders[k](rng) for k in kinds], kinds


def _make_distinct(text: str, kind: int, i: int) -> str:
    tok = f"u{i}"
    if kind == 1:
        return text.replace("<p>", f"<p>{tok} ", 1)
    if kind == 2:
        return text.replace('{"t": "', f'{{"t": "{tok}', 1)
    return f"{tok} {text}"


def transcripts_frame(shape: str, seed: int, n_turns: int,
                      pool_size: int = 4096, n_convs: int = 2000) -> pd.DataFrame:
    """The transcripts table (``conv_id, turn_idx, role, text, tool, ts``)
    for one shape and seed: Zipf turn counts with two planted
    mega-conversations, as in the fixture generator."""
    rng = np.random.default_rng([seed, 0 if shape == "pooled" else 1])
    counts = _turn_counts(n_convs, n_turns, rng, mega=2)
    conv = np.repeat(np.arange(n_convs), counts)[:n_turns]
    # pad the last conversation so every seed has exactly n_turns turns
    conv = np.r_[conv, np.full(n_turns - len(conv), n_convs - 1)]
    total = n_turns
    turn_idx = (np.arange(total) - np.searchsorted(conv, conv)).astype(np.int32)
    pool, kinds = _payload_pool(rng, pool_size)
    pick = rng.integers(0, pool_size, size=total)
    if shape == "pooled":
        texts = np.asarray(pool, dtype=object)[pick]
    elif shape == "unique":
        own = rng.random(total) < UNIQUE_SHARE
        texts = np.asarray(
            [_make_distinct(pool[p], kinds[p], i) if o else pool[p]
             for i, (p, o) in enumerate(zip(pick.tolist(), own.tolist()))],
            dtype=object,
        )
    else:
        raise ValueError(f"unknown transcripts shape {shape!r}")
    ts = _BASE_TS + (conv.astype("int64") * 420 + turn_idx.astype("int64") * 13) * np.timedelta64(1, "s")
    return pd.DataFrame(
        {
            "conv_id": pd.array(np.char.add("conv-", np.char.zfill(conv.astype(str), 6)), dtype="string"),
            "turn_idx": turn_idx,
            "role": pd.array(_ROLES[turn_idx % 3], dtype="string"),
            "text": pd.array(texts, dtype="string"),
            "tool": pd.array([None] * total, dtype="string"),
            "ts": pd.Series(ts).astype("datetime64[us]"),
        }
    )


def write_split(table: pa.Table, path: str, n_files: int) -> None:
    """Write ``table`` as ``n_files`` contiguous parquet files under
    ``path``."""
    os.makedirs(path, exist_ok=True)
    bounds = np.linspace(0, table.num_rows, n_files + 1).astype(int)
    for i in range(n_files):
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]),
                       os.path.join(path, f"part-{i:05d}.parquet"))


def cached(cache_dir: str, key: str, build) -> str:
    """Return ``cache_dir/key``, first running ``build(tmp_path)`` into a
    wiped temporary directory and moving it into place if the entry is
    missing."""
    path = os.path.join(cache_dir, f"{key}_v{FIXTURE_VERSION}")
    if not os.path.isdir(path):
        tmp = path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        build(tmp)
        os.replace(tmp, path)
    return path


def transcripts_dir(cache_dir: str, shape: str, seed: int, n_turns: int,
                    n_files: int) -> str:
    """Cached split-file transcripts input; returns the directory."""
    def build(tmp):
        frame = transcripts_frame(shape, seed, n_turns)
        write_split(pa.Table.from_pandas(frame, preserve_index=False), tmp, n_files)

    return cached(cache_dir, f"{shape}_s{seed}_n{n_turns}_f{n_files}", build)


# --------------------------------------------------------------------------
# corpus tables for the registry queries

_DOC_WORDS = np.asarray(
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window".split(), dtype=object)
_LANGS = np.asarray(["en", "zh", "es", "fr", "de"], dtype=object)
# share of documents that copy an earlier one with " dup" appended
NEAR_DUP_SHARE = 0.05


def corpus_tables(seed: int, n_docs: int) -> dict:
    """``documents`` with the columns and value distributions of the
    query test-data tiers: 10-100 words from a 30-word vocabulary, five
    languages (41% ``en``), 20 round-robin sources and 5%
    near-duplicates of earlier documents."""
    rng = np.random.default_rng([seed, 2])
    lens = rng.integers(10, 101, size=n_docs)
    texts = [" ".join(rng.choice(_DOC_WORDS[_DOC_WORDS != "dup"], size=k)) for k in lens]
    langs = rng.choice(_LANGS, size=n_docs, p=[0.41, 0.15, 0.15, 0.15, 0.14])
    for i in np.flatnonzero(rng.random(n_docs) < NEAR_DUP_SHARE):
        if i > 0:
            j = int(rng.integers(0, i))
            texts[i], langs[i] = texts[j] + " dup", langs[j]
    doc_id = np.arange(n_docs, dtype=np.int64)
    documents = pa.table({
        "doc_id": doc_id,
        "text": pa.array(texts, type=pa.string()),
        "lang": pa.array(langs.tolist(), type=pa.string()),
        "source": pa.array([f"src{i % 20}" for i in doc_id], type=pa.string()),
        "n_chars": np.asarray([len(t) for t in texts], dtype=np.int64),
    })
    return {"documents": documents}


def corpus_dirs(cache_dir: str, seed: int, n_docs: int, n_files: int) -> tuple:
    """Cached corpus tables, twice: ``split/<t>.parquet/`` directories of
    ``n_files`` files each for Spark, and ``single/<t>.parquet`` files
    for the DuckDB oracle. Returns ``(split_dir, single_dir)``."""
    def build(tmp):
        os.makedirs(os.path.join(tmp, "single"))
        for name, table in corpus_tables(seed, n_docs).items():
            pq.write_table(table, os.path.join(tmp, "single", f"{name}.parquet"))
            write_split(table, os.path.join(tmp, "split", f"{name}.parquet"), n_files)

    path = cached(cache_dir, f"corpus_s{seed}_d{n_docs}_f{n_files}", build)
    return os.path.join(path, "split"), os.path.join(path, "single")
