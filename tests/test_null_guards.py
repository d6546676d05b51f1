"""Optimizer rewrites that are only equal on null-free data carry a
guard; each is checked against its DuckDB oracle on the null case."""

import duckdb
import pandas as pd


def test_longest_wins_all_null_source_matches_oracle(spark, tmp_path):
    """``conflict_detected`` is ``min(text) != max(text)``, which is
    null for a source whose texts are all null; the oracle's
    ``COUNT(DISTINCT text) > 1`` is false there."""
    import __spark_entry__ as entry

    docs = pd.DataFrame({
        "doc_id": pd.array([1, 2, 3, 4, 5, 6], "int64"),
        "text": [None, None, "aa", "bbb", "same", "same"],
        "lang": ["en"] * 6,
        "source": ["nulls", "nulls", "conflict", "conflict", "dup", "dup"],
        "n_chars": pd.array([0, 0, 2, 3, 4, 4], "int64"),
    })
    sf_dir = tmp_path / "sf"
    sf_dir.mkdir()
    docs.to_parquet(sf_dir / "documents.parquet", index=False)

    got = (entry.queries()["longest_wins_merge"](spark, str(sf_dir))
           .toPandas().set_index("source").sort_index())
    con = duckdb.connect()
    con.register("documents", docs)
    want = (con.execute(entry.oracle_sql()["longest_wins_merge"]).df()
            .set_index("source").sort_index())

    assert got["conflict_detected"].tolist() == [True, False, False]
    assert got["conflict_detected"].tolist() == want["conflict_detected"].tolist()
    assert got["best_doc_id"].tolist() == want["best_doc_id"].tolist()
    assert got["n_docs"].tolist() == want["n_docs"].tolist()


def test_ordered_accumulate_null_quantities_match_oracle(spark, tmp_path):
    """A null ``l_quantity`` drops out of ``acc`` (``concat_ws`` alone
    would keep its line number) and of ``mixed_rows``; an order whose
    quantities are all null has ``acc`` null and ``mixed_rows`` false
    (``min != max`` alone is null there)."""
    import __spark_entry__ as entry

    li = pd.DataFrame({
        "l_orderkey": pd.array([1, 1, 2, 2, 3, 3, 4, 4], "int64"),
        "l_linenumber": pd.array([1, 2, 1, 2, 1, 2, 1, 2], "int32"),
        "l_quantity": pd.array([None, 5.0, None, None, 3.0, 7.0, 4.0, 4.0],
                               "Float64"),
    })
    sf_dir = tmp_path / "sf"
    sf_dir.mkdir()
    path = sf_dir / "lineitem.parquet"
    li.to_parquet(path, index=False)

    got = (entry.queries()["ordered_accumulate"](spark, str(sf_dir))
           .toPandas().set_index("l_orderkey").sort_index())
    con = duckdb.connect()
    con.execute(f"CREATE VIEW lineitem AS SELECT * FROM read_parquet('{path}')")
    want = (con.execute(entry.oracle_sql()["ordered_accumulate"]).df()
            .set_index("l_orderkey").sort_index())

    assert got["acc"].tolist() == ["2:5", None, "1:3,2:7", "1:4,2:4"]
    assert got["mixed_rows"].tolist() == [False, False, True, False]
    assert got["acc"].tolist() == [
        None if pd.isna(v) else v for v in want["acc"]]
    assert got["mixed_rows"].tolist() == want["mixed_rows"].tolist()
    assert got["n_lines"].tolist() == want["n_lines"].tolist()
