"""Text-analysis column functions (JVM-side built-ins only — no UDFs).

Covers the reference's scalar-function families X1-X13/X21-X22
(SURVEY.md §2.8) plus the training-data-pipeline additions: token
counting, quality scoring, language-ID heuristic, document
fingerprinting.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

# X9-X11 value patterns (spatial_preprocessor.py:374-384)
DATE_RE = r"\d{1,2}/\d{1,2}/\d{4}"
PHONE_RE = r"\d{3}-\d{3}-\d{4}"
SSN_RE = r"\d{3}-\d{2}-\d{4}"
# BPE-ish token regex: letter runs, digit runs, single punctuation
BPE_TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

# tiny stopword list for the language-ID / quality heuristics
EN_STOPWORDS = (
    "the", "and", "of", "to", "a", "in", "is", "it", "for", "on",
    "with", "as", "was", "at", "by", "an", "be", "this", "that", "or",
)


def ws_tokens(col: Column) -> Column:
    """Whitespace tokens (X22, multipage_processor.py:37 semantics)."""
    return F.split(F.trim(col), r"\s+")


def clip_text(col: Column, n: int) -> Column:
    """O5 truncation guard (openai_service.py:821,829 ``text[:4000]``,
    :898 ``text[:3000]``): hard character cap. The engine keeps full
    text by default (no LLM context limit downstream) — this is the
    opt-in semantic-divergence knob for reference parity."""
    return F.substring(col, 1, n)


def preview_text(col: Column, n: int = 200) -> Column:
    """X21 preview ellipsis (multipage_processor.py:28): first ``n``
    chars + '...' only when the text actually exceeds ``n``."""
    return F.when(
        F.length(col) > n, F.concat(F.substring(col, 1, n), F.lit("..."))
    ).otherwise(col)


def ws_token_count(col: Column) -> Column:
    return F.when(F.length(F.trim(col)) == 0, F.lit(0)).otherwise(
        F.size(ws_tokens(col))
    )


def bpe_token_count(col: Column) -> Column:
    """Sub-word-ish token count via the BPE-style regex: a codegen
    heuristic, not a trained tokenizer (no merges file, so counts are
    an estimate of a real BPE's)."""
    return F.size(F.regexp_extract_all(col, F.lit(BPE_TOKEN_RE), 0))


def punct_ratio(col: Column) -> Column:
    punct = F.length(col) - F.length(F.regexp_replace(col, r"[^\w\s]", ""))
    return F.when(F.length(col) == 0, F.lit(0.0)).otherwise(
        punct / F.length(col)
    )


def stopword_ratio(col: Column) -> Column:
    toks = ws_tokens(F.lower(col))
    hits = F.size(F.filter(toks, lambda t: t.isin(*EN_STOPWORDS)))
    return F.when(F.size(toks) == 0, F.lit(0.0)).otherwise(
        hits / F.size(toks)
    )


def quality_score(col: Column) -> Column:
    """Composite quality score in [0,1]: length band + low punctuation
    + stopword presence (the usual pretraining-filter trio)."""
    n = F.length(col)
    len_score = F.least(n / F.lit(500.0), F.lit(1.0))
    punct_score = F.lit(1.0) - F.least(punct_ratio(col) * 4.0, F.lit(1.0))
    stop_score = F.least(stopword_ratio(col) * 5.0, F.lit(1.0))
    return (len_score + punct_score + stop_score) / 3.0


# common English character trigrams (public frequency tables)
EN_TRIGRAMS = ("the", "and", "ing", "ion", "ent", "her", "for", "tha",
               "ter", "est", "ers", "ati")


def en_trigram_score(col: Column) -> Column:
    """Character-n-gram language-ID heuristic: density of common
    English trigrams per character. Occurrence counts via length
    deltas (replace-based), so the same expression runs on any SQL
    engine."""
    low = F.lower(col)
    total = F.lit(0)
    for tg in EN_TRIGRAMS:
        total = total + (
            F.length(low) - F.length(F.replace(low, F.lit(tg), F.lit("")))
        ) / 3
    return total / F.greatest(F.length(col) - 2, F.lit(1))


def is_english(col: Column, threshold: float = 0.05) -> Column:
    """N-gram-free language-ID heuristic: stopword hit ratio + ASCII
    letter dominance."""
    ascii_ratio = F.length(F.regexp_replace(col, r"[^\x00-\x7F]", "")) / \
        F.greatest(F.length(col), F.lit(1))
    return (stopword_ratio(col) >= threshold) & (ascii_ratio >= 0.9)


FENCE_JSON_RE = r"```(?:json)?\s*(\{[\s\S]*?\})\s*```"


def fenced_json(col: Column) -> Column:
    """X16 markdown-fence JSON extraction
    (openai_service.py:115-157): first ```json {...}``` block, else
    the first bare {...} object, else empty string."""
    fenced = F.regexp_extract(col, FENCE_JSON_RE, 1)
    bare = F.regexp_extract(col, r"(\{[\s\S]*\})", 1)
    return F.when(fenced != "", fenced).otherwise(bare)


def repair_json(col: Column) -> Column:
    """X17 JSON repair (openai_service.py:199-220): strip trailing
    commas before }/], then append closers for unbalanced {/[.
    Bracket counting via length differences — pure column math."""
    cleaned = F.trim(F.regexp_replace(col, r",\s*([}\]])", r"$1"))
    n_open_b = F.length(cleaned) - F.length(F.regexp_replace(cleaned, r"\{", ""))
    n_close_b = F.length(cleaned) - F.length(F.regexp_replace(cleaned, r"\}", ""))
    n_open_s = F.length(cleaned) - F.length(F.regexp_replace(cleaned, r"\[", ""))
    n_close_s = F.length(cleaned) - F.length(F.regexp_replace(cleaned, r"\]", ""))
    braces = F.greatest(n_open_b - n_close_b, F.lit(0))
    brackets = F.greatest(n_open_s - n_close_s, F.lit(0))
    return F.concat(cleaned, F.repeat(F.lit("}"), braces),
                    F.repeat(F.lit("]"), brackets))


# PII patterns: SSN/phone/date extend the reference's value
# classifiers (spatial_preprocessor.py:374-384, X9-X11) from
# match-testing to corpus redaction; email is the standard
# training-data addition. Order matters: SSN before phone (both are
# digit-dash shapes; group widths disambiguate but longest-first is
# the safe convention). Plain ERE syntax — identical semantics in
# Spark (Java regex) and DuckDB (RE2), which the oracle relies on.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PATTERNS = (
    ("email", EMAIL_RE, "[EMAIL]"),
    ("ssn", SSN_RE, "[SSN]"),
    ("phone", PHONE_RE, "[PHONE]"),
    ("date", DATE_RE, "[DATE]"),
)


def redact_pii(col: Column) -> Column:
    """Replace every SSN/phone/date/email occurrence with its typed
    placeholder — chained regexp_replace, pure codegen, applied in
    PII_PATTERNS order (email first so its digit runs can't be
    half-eaten by the date pattern)."""
    out = col
    for _name, pat, repl in PII_PATTERNS:
        out = F.regexp_replace(out, pat, repl)
    return out


def pii_counts(col: Column) -> dict:
    """{kind: count-column} of PII occurrences in ``col``, counted on
    the progressively-redacted text exactly as redact_pii consumes it
    (so an email's digits are never double-counted as a date)."""
    out = {}
    cur = col
    for name, pat, repl in PII_PATTERNS:
        out[name] = F.regexp_count(cur, F.lit(pat))
        cur = F.regexp_replace(cur, pat, repl)
    return out


def norm_ws_lower(col: Column) -> Column:
    """THE exact-dedup content-normalization key (single home):
    lowercase, trim, collapse inner whitespace runs to one space.
    NOTE the trim-BEFORE-collapse ordering is the family convention
    every green oracle mirrors (a leading tab survives as a leading
    space); changing the ordering must touch the whole family and
    its SQL mirrors at once."""
    return F.regexp_replace(F.lower(F.trim(col)), r"\s+", " ")


def winnowed(df, text_col: str = "text", k: int = 8, window: int = 4,
             out_col: str = "fingerprints"):
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken,
    SIGMOD 2003) as a DataFrame transform: hash every character
    k-gram, keep the minimum hash of each sliding window of ``window``
    consecutive k-grams. Guarantees every match of length >=
    window+k-1 shares a selected fingerprint while keeping
    ~2/(window+1) of the grams. Appends ``out_col`` (sorted distinct
    fingerprints as 16-hex md5 prefixes, the family DuckDB re-derives
    in ``winnow_fingerprints_sql``). Explode ``out_col`` with
    ``explode_rows`` and never filter on ``size(out_col)``: either
    form of the emptiness test is pushed below the stages and re-runs
    the whole winnow chain per row (see ``explode_rows``).

    WHY a df-transform and not one Column expression: higher-order
    functions are interpreted (not codegen), and an interpreted
    lambda RE-EVALUATES every non-attribute subexpression per
    element — a single nested expression recomputes the whole gram
    array (plus lower()+md5) for each window position, turning
    winnowing O(len^2 * window). Staging ``_low``/``_grams`` as real
    projection columns makes the inner lambdas reference bound
    attributes, restoring O(len * window); CollapseProject keeps the
    stages separate because the staged expressions are non-cheap and
    multiply referenced. Measured 280x at 300-char docs (round 3);
    the pathology was previously masked by count()-pruned benching."""
    low = F.lower(F.col(text_col))
    s1 = df.withColumn("_w_low", low).withColumn(
        "_w_n", F.length("_w_low") - (k - 1)
    )
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.col("_w_n"), F.lit(1))),
        lambda i: F.substring(F.md5(F.encode(
            F.col("_w_low").substr(i, F.lit(k)), "UTF-8")), 1, 16),
    )
    s2 = s1.withColumn("_w_grams", grams)
    g = F.col("_w_grams")
    n = F.col("_w_n")
    selected = F.when(n <= 0, F.array().cast("array<string>")).otherwise(
        F.when(
            n <= window,
            F.array(F.array_min(g)),
        ).otherwise(
            F.transform(
                F.sequence(F.lit(1), n - (window - 1)),
                lambda j: F.array_min(F.slice(g, j, window)),
            )
        )
    )
    return (
        s2.withColumn(out_col, F.array_sort(F.array_distinct(selected)))
        .drop("_w_low", "_w_n", "_w_grams")
    )


def explode_rows(df, array_col, alias: str, *keep):
    """The rows of ``df.select(*keep, F.explode(array_col).alias(alias))``
    — THE way to explode an array staged by a higher-order-function
    chain (the ``with_shingles`` / ``winnowed`` / ``word_ngrams``
    staging rule).

    Why not ``F.explode``: Catalyst's InferFiltersFromGenerate adds
    ``size(a) > 0 AND isnotnull(a)`` above every non-outer explode of
    an attribute, and PushPredicateThroughNonJoin pushes that filter
    below the staging projections, substituting the FULL staged
    expression into it — the HOF chain (with any inline
    ``split(lower(...))``) then runs once more per row, un-staged, so
    the quadratic form the staging exists to avoid comes back. An
    explicit ``filter(F.size(a) > 0)`` is pushed the same way.

    Here the generator is ``posexplode_outer`` (no filter is inferred
    for an outer generator) and the filter is on the generated
    position, which cannot be pushed below the Generate. A null or
    empty array yields one outer row with a null position, which the
    filter drops; a null ELEMENT keeps its non-null position and
    survives, exactly as under ``explode``."""
    pos = f"_{alias}_pos"
    return (
        df.select(*keep, F.posexplode_outer(array_col).alias(pos, alias))
        .filter(F.col(pos).isNotNull())
        .drop(pos)
    )
