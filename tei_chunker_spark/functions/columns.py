"""Shared Column builders — all JVM-side built-ins, no Python UDFs.

Everything here stays inside WholeStageCodegen; these are the scalar
vocabulary used by the text-analysis / dedup / similarity operators.  Each
builder has a documented DuckDB-SQL equivalent (used by the oracle strings
in __spark_entry__.py) — portability constraints worth knowing:

* ``md5`` returns lowercase hex in both engines -> portable hash domain;
  minhash uses *lexicographic min over md5 strings*, which is
  engine-independent (no integer-hash parity problems).
* hex-nibble -> int is done with ``instr('0123456789abcdef', c) - 1``
  (DuckDB: ``strpos``) because neither engine shares the other's native
  string-hash function.
* Spark ``sequence(a, b)`` DESCENDS when a > b (it does not return empty),
  so every sequence is guarded with ``greatest``.
"""
from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..plans.barrier import materialized

# --- tokens ---------------------------------------------------------------


# The engine's whitespace definition, spelled as an EXPLICIT character
# class because the two regex engines disagree on the \s shorthand:
# Java (Spark) \s = [ \t\n\x0B\f\r] but RE2 (DuckDB oracle) \s excludes
# vertical tab — a document containing U+000B would pass Spark-side
# blank/token logic and fail every token oracle (round-4 review find,
# empirically confirmed on chr(11)).  Java-regex spelling here; the SQL
# oracles spell the identical class as '[ \t\n\x0b\f\r]' (DuckDB passes
# backslashes through to RE2 uninterpreted).  Deliberately ASCII-only on
# BOTH engines — unlike Python str.split(), which also splits on Unicode
# whitespace (NBSP, U+2028, ...); Python-side references must use
# re.split on this class, not .split().
WS_CLASS = r" \t\n\x0B\f\r"


def ws_trimmed(col: Column) -> Column:
    """``col`` with ALL leading/trailing whitespace removed.  ``trim()``
    strips ASCII spaces only, so a document ending in "\\n" (i.e. nearly
    every real document) kept a phantom '' token after the split —
    inflating token counts by ~1/doc and creating phantom n-grams of
    empty tokens (round-4 randomized-corpus find).  The regex is
    JVM-codegen'd, unlike an interpreted ``filter()`` HOF pass.
    DuckDB: regexp_replace(x, '^[ \\t\\n\\x0b\\f\\r]+|[ \\t\\n\\x0b\\f\\r]+$', '', 'g')
    ('g' because DuckDB replaces only the first match without it)."""
    return F.regexp_replace(col, rf"^[{WS_CLASS}]+|[{WS_CLASS}]+$", "")


def is_blank(col: Column) -> Column:
    """True for empty or all-whitespace text (the emptiness guard paired
    with ``tokens``; ``length(trim(x)) == 0`` misses "\\n").
    DuckDB: regexp_matches(x, '^[ \\t\\n\\x0b\\f\\r]*$')."""
    return col.rlike(rf"^[{WS_CLASS}]*$")


def tokens(col: Column) -> Column:
    """ASCII-whitespace tokens (see WS_CLASS for the exact definition and
    why it is not Python ``str.split()``).  Blank documents yield
    ``['']`` — guarded at every use via ``is_blank`` / the word_ngrams
    length guard.
    DuckDB: string_split_regex(<ws_trimmed>, '[ \\t\\n\\x0b\\f\\r]+')."""
    return F.split(ws_trimmed(col), rf"[{WS_CLASS}]+")


def token_count(col: Column) -> Column:
    """Whitespace-token count with the blank guard (split('') is [''],
    size 1 — the guard makes the blank document count 0).  NOTE:
    operators that already hold the materialized ``tok`` array
    (``token_table``) count from that array instead of calling this —
    calling it there would re-split the text."""
    return F.when(is_blank(col), F.lit(0)).otherwise(F.size(tokens(col)))


def token_table(
    documents: DataFrame, *cols: str, n_tokens: bool = False
) -> DataFrame:
    """(cols..., tok: array<string>[, n_tokens: long]): the whitespace
    split of ``text`` materialized ONCE per row
    (``plans.barrier.materialized``), so no downstream reference re-splits
    the text.  ``cols`` may be ``"*"``.

    ``n_tokens=True`` adds the blank-guarded count read off the array:
    a blank text splits to [''], which counts 0 tokens, not 1.  This is
    the one spelling of that guard on a materialized array; its value
    equals ``token_count(text)``."""
    t = documents.select(*cols, materialized(tokens(F.col("text")), "tok"))
    if not n_tokens:
        return t
    return t.select(
        "*",
        F.when((F.size("tok") == 1) & (F.element_at("tok", 1) == ""), F.lit(0))
        .otherwise(F.size("tok"))
        .cast("long")
        .alias("n_tokens"),
    )


# Same explicit-class reasoning as WS_CLASS: [^...\s] would silently
# count U+000B as punctuation in RE2 but not in Java.
BPE_ISH_PATTERN = rf"[A-Za-z]+|[0-9]|[^A-Za-z0-9{WS_CLASS}]"


def bpe_ish_count(col: Column) -> Column:
    """Crude BPE-ish token count: letter runs, single digits, single
    punctuation. DuckDB: len(regexp_extract_all(x, pattern))."""
    return F.regexp_count(col, F.lit(BPE_ISH_PATTERN))


# --- n-grams / shingles ----------------------------------------------------


def word_ngrams(tok: Column, n: int) -> Column:
    """Array of word n-grams (space-joined). Empty array when too short.

    DuckDB: list comprehension over generate_series (returns empty when
    stop < start, unlike Spark's descending sequence — hence the guard)."""
    count = F.size(tok) - (n - 1)
    idx = F.sequence(F.lit(1), F.greatest(count, F.lit(0)))
    gram = lambda i: F.concat_ws(  # noqa: E731
        " ", *[F.element_at(tok, i + k) for k in range(n)]
    )
    return F.when(count >= 1, F.transform(idx, gram)).otherwise(
        F.array().cast("array<string>")
    )


def gram_table(
    documents: DataFrame,
    n: int,
    *cols: str,
    distinct_grams: bool = False,
    alias: str = "gram",
) -> DataFrame:
    """(cols..., ``alias``) word-n-gram postings, one row per gram of each
    document (per distinct gram with ``distinct_grams``), built on
    ``token_table`` so the text is split once: inlined, ``word_ngrams``
    would re-split it for ``size`` and for each of the n ``element_at``
    references of every gram."""
    g = word_ngrams(F.col("tok"), n)
    if distinct_grams:
        g = F.array_distinct(g)
    return token_table(documents, *cols).select(*cols, F.explode(g).alias(alias))


def char_shingles(col: Column, k: int, step: int = 1) -> Column:
    """Array of character k-grams starting at positions 1, 1+step, …
    DuckDB: [x[i:i+k-1] for i in generate_series(1, n, step)].

    ``step > 1`` is the winnowing-style positional sampling used by
    fingerprinting: at 100 TB, hashing every one of ~10^14 positions buys
    nothing over a fixed stride (both sides of a near-duplicate pair
    sample the same positions relative to content length)."""
    count = F.length(col) - (k - 1)
    idx = F.sequence(F.lit(1), F.greatest(count, F.lit(0)), F.lit(step))
    return F.when(
        count >= 1, F.transform(idx, lambda i: F.substring(col, i, k))
    ).otherwise(F.array().cast("array<string>"))


# --- vectors ---------------------------------------------------------------


def dot(a: Column, b: Column) -> Column:
    """Double-precision dot product in element order (IEEE-deterministic,
    matches a sequential SQL recomputation)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2norm(a) * l2norm(b))


def cosine_safe(a: Column, b: Column) -> Column:
    """Cosine similarity, NULL when either vector has zero magnitude.

    The bare ``dot/(norm·norm)`` quotient is a query-killer under this
    engine's ANSI mode: a single all-zero embedding raises
    DIVIDE_BY_ZERO and aborts the whole job (and with ANSI off it would
    instead yield NaN, which Spark orders ABOVE every real number — a
    zero vector would "win" any similarity ranking).  DuckDB's 0.0/0.0
    is NULL, so NULL-on-zero is also the oracle-matching semantics.
    CASE WHEN evaluates the quotient only when both norms are positive."""
    na, nb = l2norm(a), l2norm(b)
    return F.when((na > 0) & (nb > 0), dot(a, b) / (na * nb))
