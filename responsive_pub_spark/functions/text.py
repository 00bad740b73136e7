"""Text-analysis primitives for LLM-data pipelines.

Tokenization, shingling, language id, quality scoring, token counting and
document fingerprinting — each expressed twice from shared constants:
as Spark SQL expressions (JVM-side) and as DuckDB SQL for the oracle.

The reference has no text functions (values are opaque bytes, SURVEY.md
§2.2); these are the LLM-pipeline extensions required by the build contract,
built on the portable hash family in ``hashing.py``.
"""

from __future__ import annotations

from responsive_pub_spark.functions.hashing import P, poly_hash_duck, poly_hash_sql

#: Word-shingle width for minhash/jaccard dedup.
SHINGLE_N = 3

#: Tiny deterministic per-language stopword lists for the n-gram/stopword
#: language-id heuristic. Purely public-knowledge wordlists.
LANG_STOPWORDS: dict[str, list[str]] = {
    "de": ["der", "die", "das", "und", "ist", "nicht", "mit", "ein"],
    "en": ["the", "a", "and", "is", "of", "to", "in", "that"],
    "es": ["el", "la", "los", "las", "es", "y", "de", "que"],
    "fr": ["le", "la", "les", "est", "et", "des", "une", "que"],
    "zh": ["de", "shi", "le", "bu", "wo", "zai", "you", "he"],
}
#: Tie-break: higher rank wins ties => alphabetical order preferred.
LANG_RANK = {"de": 5, "en": 4, "es": 3, "fr": 2, "zh": 1}

#: English stopword list for quality scoring (stopword ratio).
QUALITY_STOPWORDS = ["the", "a", "and", "is", "of", "to", "in", "that", "it", "for"]

#: BPE-ish token regex: word pieces, numbers, or single non-space symbols.
#: Raw form (single backslashes) — escape with ``spark_re`` for Spark SQL
#: string literals (Spark processes backslash escapes; DuckDB does not).
BPE_TOKEN_REGEX = r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"


def spark_re(regex: str) -> str:
    """Escape a raw regex for embedding in a Spark SQL string literal."""
    return regex.replace("\\", "\\\\")


# -- tokenization -----------------------------------------------------------

def tokens_sql(text_expr: str) -> str:
    """Spark SQL: lowercase word tokens (alnum runs), empties removed."""
    return f"filter(split(lower({text_expr}), '[^a-z0-9]+'), x -> x != '')"


def tokens_duck(text_expr: str) -> str:
    """DuckDB SQL: identical tokenization."""
    return (
        f"list_filter(string_split_regex(lower({text_expr}), '[^a-z0-9]+'), "
        f"x -> x <> '')"
    )


def token_hashes_sql(text_expr: str) -> str:
    """Spark SQL: polynomial hash per token. The token array is the transform
    input (not captured inside a lambda body), so tokenization runs once per
    row and each token is hashed exactly once."""
    return f"transform({tokens_sql(text_expr)}, t -> {poly_hash_sql('t')})"


def token_hashes_duck(text_expr: str) -> str:
    """DuckDB SQL: identical per-token hashes."""
    return f"list_transform({tokens_duck(text_expr)}, t -> {poly_hash_duck('t')})"


def shingle_hashes_sql(text_expr: str, n: int = SHINGLE_N) -> str:
    """Spark SQL: distinct hashes of word n-gram shingles, composed from the
    per-token hashes: shingle_hash = fold (acc*31 + token_hash) % P.

    The token-hash array is let-bound via a single-element ``transform`` so
    the whole upstream pipeline evaluates ONCE per row; without the binding,
    Spark's interpreted higher-order functions re-evaluate a captured
    expression per lambda element (observed ~50x slowdown on the dedup
    bench). Shingling over bound ``th`` is then pure integer arithmetic.
    """
    th = token_hashes_sql(text_expr)
    inner = (
        f"array_distinct(transform(sequence(0, greatest(size(th) - {n}, 0)), "
        f"i -> aggregate(slice(th, i + 1, {n}), 0L, "
        f"(acc, h) -> (acc * 31 + h) % {P})))"
    )
    return f"element_at(transform(array({th}), th -> {inner}), 1)"


def shingle_hashes_duck(text_expr: str, n: int = SHINGLE_N) -> str:
    """DuckDB SQL: identical distinct shingle hashes (same let-binding shape)."""
    th = token_hashes_duck(text_expr)
    inner = (
        f"list_distinct(list_transform(range(0, greatest(len(th) - {n}, 0) + 1), "
        f"i -> list_reduce(list_prepend(CAST(0 AS BIGINT), list_slice(th, i + 1, i + {n})), "
        f"(acc, h) -> (acc * 31 + h) % {P})))"
    )
    return f"list_transform([{th}], th -> {inner})[1]"


def shingle_hashes_all_bound_sql(th_col: str, n: int) -> str:
    """Spark SQL: ALL word n-gram shingle hashes (duplicates kept — the
    repetition-ratio numerator needs occurrence counts, where
    shingle_hashes_sql's array_distinct serves set semantics) over a
    PRE-BOUND token-hash array column ``th_col`` — callers bind
    ``token_hashes_sql`` once per row (the single-tokenization pattern,
    operators/textops.repetition_report) so Spark's interpreted
    higher-order functions never re-tokenize per output expression.
    This is the ONE Spark-side copy of the rolling-hash formula; the
    oracle twin is ``shingle_hashes_all_duck`` (r7 ADVICE: two inline
    copies invited silent drift). Docs shorter than ``n`` tokens yield
    an empty array (sequence(0, -1) DESCENDS in Spark, hence the guard).
    """
    return (
        f"CASE WHEN size({th_col}) < {n} THEN array() "
        f"ELSE transform(sequence(0, size({th_col}) - {n}), "
        f"i -> aggregate(slice({th_col}, i + 1, {n}), 0L, "
        f"(acc, h) -> (acc * 31 + h) % {P})) END"
    )


def shingle_hashes_all_duck(text_expr: str, n: int) -> str:
    """DuckDB SQL: identical all-occurrence shingle hashes."""
    th = token_hashes_duck(text_expr)
    inner = (
        f"CASE WHEN len(th) < {n} THEN [] "
        f"ELSE list_transform(range(0, len(th) - {n} + 1), "
        f"i -> list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_slice(th, i + 1, i + {n})), "
        f"(acc, h) -> (acc * 31 + h) % {P})) END"
    )
    return f"list_transform([{th}], th -> {inner})[1]"


# -- language id ------------------------------------------------------------

def _arr_lit_sql(words: list[str]) -> str:
    return "array(" + ", ".join(f"'{w}'" for w in words) + ")"


def _arr_lit_duck(words: list[str]) -> str:
    return "[" + ", ".join(f"'{w}'" for w in words) + "]"


def lang_scores_sql(toks_expr: str) -> dict[str, str]:
    """Spark SQL: per-language distinct-stopword-hit scores."""
    return {
        lang: f"size(array_intersect({toks_expr}, {_arr_lit_sql(sw)}))"
        for lang, sw in LANG_STOPWORDS.items()
    }


def lang_scores_duck(toks_expr: str) -> dict[str, str]:
    """DuckDB SQL: identical per-language scores."""
    return {
        lang: f"len(list_intersect({toks_expr}, {_arr_lit_duck(sw)}))"
        for lang, sw in LANG_STOPWORDS.items()
    }


def lang_pick_sql(score_exprs: dict[str, str]) -> str:
    """Argmax language with deterministic alphabetical tie-break.

    Encodes (score, rank) into one integer (score * 8 + rank) and CASEs on
    the max — identical text works in Spark SQL and DuckDB.
    """
    encoded = [
        f"({expr}) * 8 + {LANG_RANK[lang]}" for lang, expr in score_exprs.items()
    ]
    best = f"greatest({', '.join(encoded)})"
    cases = " ".join(
        f"WHEN ({best}) % 8 = {LANG_RANK[lang]} THEN '{lang}'"
        for lang in score_exprs
    )
    return f"CASE {cases} END"


# -- quality scoring --------------------------------------------------------

def quality_cols_sql(text_expr: str, toks_expr: str, dialect: str) -> dict[str, str]:
    """Length / punctuation-ratio / stopword-ratio / mean-word-length metrics.

    Returns column-name -> SQL expr; `dialect` is 'spark' or 'duck'.
    All ratios are (floor((x) * 1000000 + 0.5) / 1000000) doubles for oracle-stable hashing.
    """
    if dialect == "spark":
        n_tok = f"size({toks_expr})"
        sw = f"size(array_intersect({toks_expr}, {_arr_lit_sql(QUALITY_STOPWORDS)}))"
        alnum = f"length(regexp_replace(lower({text_expr}), '[^a-z0-9]', ''))"
        tok_chars = f"aggregate({toks_expr}, 0, (acc, t) -> acc + length(t))"
    else:
        n_tok = f"len({toks_expr})"
        sw = f"len(list_intersect({toks_expr}, {_arr_lit_duck(QUALITY_STOPWORDS)}))"
        alnum = f"length(regexp_replace(lower({text_expr}), '[^a-z0-9]', '', 'g'))"
        tok_chars = f"list_sum(list_prepend(0, list_transform({toks_expr}, t -> length(t))))"
    n_chars = f"length({text_expr})"
    return {
        "n_chars_out": f"CAST({n_chars} AS BIGINT)",
        "n_tokens": f"CAST({n_tok} AS BIGINT)",
        "punct_ratio": (
            f"(floor((CAST({n_chars} - {alnum} AS DOUBLE) / "
            f"CAST(greatest({n_chars}, 1) AS DOUBLE)) * 1000000 + 0.5) / 1000000)"
        ),
        "stopword_ratio": (
            f"(floor((CAST({sw} AS DOUBLE) / CAST(greatest({n_tok}, 1) AS DOUBLE)) * 1000000 + 0.5) / 1000000)"
        ),
        "mean_word_len": (
            f"(floor((CAST({tok_chars} AS DOUBLE) / "
            f"CAST(greatest({n_tok}, 1) AS DOUBLE)) * 1000000 + 0.5) / 1000000)"
        ),
    }


# -- misc -------------------------------------------------------------------

def fingerprint_sql(text_expr: str, dialect: str) -> str:
    """Document fingerprint: polynomial hash of the normalized token stream."""
    if dialect == "spark":
        norm = f"concat_ws(' ', {tokens_sql(text_expr)})"
        return poly_hash_sql(norm)
    norm = f"array_to_string({tokens_duck(text_expr)}, ' ')"
    return poly_hash_duck(norm)


def chunk_hashes_sql(text_expr: str, size: int) -> str:
    """Spark SQL: polynomial hash per NON-OVERLAPPING ``size``-token chunk
    (shingle_hashes with stride == n: the span-dedup unit). Same
    let-binding shape as shingle_hashes_sql so tokenization runs once; the
    empty-token guard matters because Spark's sequence(0, -1) DESCENDS."""
    th = token_hashes_sql(text_expr)
    inner = (
        f"CASE WHEN size(th) = 0 THEN array() "
        f"ELSE transform(sequence(0, cast(ceil(size(th) / {size}.0) as int) - 1), "
        f"i -> aggregate(slice(th, i * {size} + 1, {size}), 0L, "
        f"(acc, h) -> (acc * 31 + h) % {P})) END"
    )
    return f"element_at(transform(array({th}), th -> {inner}), 1)"


def chunk_hashes_duck(text_expr: str, size: int) -> str:
    """DuckDB SQL: identical chunk hashes."""
    th = token_hashes_duck(text_expr)
    inner = (
        f"CASE WHEN len(th) = 0 THEN [] "
        f"ELSE list_transform(range(0, CAST(ceil(len(th) / {size}.0) AS INT)), "
        f"i -> list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_slice(th, i * {size} + 1, i * {size} + {size})), "
        f"(acc, h) -> (acc * 31 + h) % {P})) END"
    )
    return f"list_transform([{th}], th -> {inner})[1]"
