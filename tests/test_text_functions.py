"""Column-function unit tests (X16/X17 JSON fence + repair, token
counting, fingerprints)."""

import pytest
from pyspark.sql import functions as F

from pdfextraction_spark.functions import text as X


@pytest.mark.slow
class TestFenceAndRepair:
    def _one(self, spark, col, value):
        return spark.createDataFrame([(value,)], "t string").select(
            col(F.col("t")).alias("v")
        ).collect()[0].v

    def test_fenced_json_extraction(self, spark):
        t = 'prefix\n```json\n{"a": 1}\n```\nsuffix'
        assert self._one(spark, X.fenced_json, t) == '{"a": 1}'

    def test_fence_without_lang_tag(self, spark):
        t = "```\n{\"a\": 2}\n```"
        assert self._one(spark, X.fenced_json, t) == '{"a": 2}'

    def test_bare_object_fallback(self, spark):
        # greedy-to-last-brace bare match (openai_service.py:129)
        t = 'text {"a": 3} more'
        assert self._one(spark, X.fenced_json, t) == '{"a": 3}'

    def test_repair_trailing_commas_and_truncation(self, spark):
        """openai_service.py:199-220: trailing commas stripped, open
        braces then brackets appended."""
        assert self._one(spark, X.repair_json, '{"a": [1, 2,], "b": 3,}') \
            == '{"a": [1, 2], "b": 3}'
        assert self._one(spark, X.repair_json, '{"a": [1, 2') == '{"a": [1, 2}]'
        assert self._one(spark, X.repair_json, '{"a": {"b": 1') \
            == '{"a": {"b": 1}}'

    def test_repaired_parses(self, spark):
        # note: a truncated string ENDING in a comma stays broken — the
        # reference strips commas before appending closers, same quirk
        out = spark.createDataFrame(
            [('{"status": "ok", "count": 5',)], "t string"
        ).select(
            F.from_json(X.repair_json(F.col("t")), "status string, count int")
            .alias("p")
        ).collect()[0].p
        assert out["status"] == "ok" and out["count"] == 5


@pytest.mark.slow
class TestTokenFunctions:
    def test_counts_and_fingerprint(self, spark):
        df = spark.createDataFrame(
            [("hello world, it is 42!",), ("",), ("  hello   world, it is 42! ",)],
            "t string",
        ).select(
            X.ws_token_count(F.col("t")).alias("ws"),
            X.bpe_token_count(F.col("t")).alias("bpe"),
            X.norm_ws_lower(F.col("t")).alias("key"),
        )
        rows = df.collect()
        assert rows[0].ws == 5
        # hello|world|,|it|is|42|!
        assert rows[0].bpe == 7
        assert rows[1].ws == 0
        # the exact-dedup key is whitespace-normalized: rows 0 and 2
        # collide
        assert rows[0].key == rows[2].key == "hello world, it is 42!"


def test_schema_normalization_all_shapes(spark):
    """Step-2 schema normalization: Spark column expression must equal
    the loop mirror of openai_service.py:688-718 on every sample shape
    (dict / name array / field_name objs / legacy label objs /
    unknown / malformed)."""
    from pyspark.sql import functions as F

    from fixtures.golden import SCHEMA_SAMPLES
    from pdfextraction_spark.functions.schema_norm import normalized_schema_str
    from pdfextraction_spark.oracle.mergeops import normalized_schema_str_golden

    df = spark.createDataFrame(SCHEMA_SAMPLES, "sample_id int, payload string")
    got = {
        r.sample_id: r.normalized
        for r in df.select(
            "sample_id", normalized_schema_str(F.col("payload")).alias("normalized")
        ).collect()
    }
    for sid, payload in SCHEMA_SAMPLES:
        assert got[sid] == normalized_schema_str_golden(payload), (sid, payload)
    # spot-pin the legacy shape with values
    assert got[7] == "Emp Id=77001,Status="


def test_winnowing_guarantee(spark):
    """Winnowing property (Schleimer et al.): two documents sharing a
    substring of length >= window + k - 1 share at least one selected
    fingerprint; fingerprints of unrelated random texts differ."""
    import numpy as np

    from pdfextraction_spark.functions.text import winnowed

    rng = np.random.default_rng(31)

    def rand_text(n):
        return "".join(chr(97 + int(c)) for c in rng.integers(0, 26, size=n))

    shared = rand_text(40)  # >= window+k-1 = 11
    rows = [
        (0, rand_text(60) + shared + rand_text(60)),
        (1, rand_text(80) + shared + rand_text(40)),
        (2, rand_text(150)),
        (3, "short"),   # < k: no grams
        (4, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    fps = {
        r.doc_id: set(r.fps)
        for r in winnowed(df, k=8, window=4, out_col="fps").collect()
    }
    assert fps[0] & fps[1], "shared substring must share a fingerprint"
    assert not (fps[0] & fps[2] & fps[1] & fps[3])
    assert fps[3] == set() and fps[4] == set()
    # selection actually compresses: far fewer fingerprints than grams
    assert 0 < len(fps[2]) < 150 - 7


def test_winnowed_staged_equals_expression_form(spark):
    """The staged df-transform equals the portable DuckDB derivation
    (``winnow_fingerprints_sql``, the query's oracle) on texts shorter
    than k, exactly k, inside one window, and long."""
    import duckdb
    import numpy as np

    from pdfextraction_spark.functions.text import winnowed
    from pdfextraction_spark.oracle import portable_sql as P

    rng = np.random.default_rng(3)
    rows = [(i, "".join(chr(97 + int(c))
                        for c in rng.integers(0, 26, size=int(n))))
            for i, n in enumerate([0, 3, 8, 11, 40, 200])]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {r.doc_id: ",".join(r.fps)
           for r in winnowed(df, out_col="fps").collect()}
    con = duckdb.connect()
    con.register("documents", df.toPandas())
    want = dict(con.execute(
        f"SELECT doc_id, fingerprints FROM ({P.winnow_fingerprints_sql()})"
    ).fetchall())
    assert got == want
    assert got[0] == got[1] == "" and got[5].count(",") > 10


def test_explode_rows_equals_explode(spark):
    """``explode_rows`` yields exactly ``F.explode``'s rows (a null
    array, an empty array, a null element, ordinary arrays, and an
    array<struct> column of the ``ngram_repetition_stats`` shape), and
    its optimized plan carries no ``size(`` filter below the Generate,
    so a staged higher-order-function array is never re-inlined into
    one."""
    from collections import Counter

    from pdfextraction_spark.functions.text import explode_rows

    df = spark.createDataFrame(
        [
            (0, None, None),
            (1, [], []),
            (2, ["a", None, "b"], [(2, None)]),
            (3, ["a", "a"], [(2, "x y"), (3, "x y z")]),
            (4, ["c"], [(2, "x y"), (2, "x y")]),
        ],
        "doc_id int, arr array<string>, "
        "gs array<struct<n:int, gram:string>>",
    )
    for col in ("arr", "gs"):
        want = df.select("doc_id", F.explode(col).alias("e")).collect()
        got = explode_rows(df, col, "e", "doc_id")
        assert got.columns == ["doc_id", "e"]
        assert Counter(got.collect()) == Counter(want), col
    assert Counter(r.e for r in explode_rows(df, "arr", "e").collect()) \
        == Counter(["a", None, "b", "a", "a", "c"])

    # a HOF-staged array: F.explode's plan gains the inferred
    # size(up) > 0 filter below its Generate; explode_rows' plan has none
    staged = df.withColumn("up", F.transform("arr", lambda s: F.upper(s)))

    def optimized(frame):
        return frame._jdf.queryExecution().optimizedPlan().toString()

    assert "size(" in optimized(staged.select(F.explode("up")))
    plan = optimized(explode_rows(staged, "up", "e", "doc_id"))
    assert "Generate" in plan and "size(" not in plan
