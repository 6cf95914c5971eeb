"""Text-analysis expression library (beyond-reference scope).

Large-scale training-data pipeline primitives over the ``documents``
table: tokenization, language ID, quality scoring, fingerprinting.
All built from Spark built-ins (split / regexp / array functions /
xxhash64) so they stay JVM-side and whole-stage-codegen'd — at 100 TB of
text, a per-row Python UDF here would dominate the job.

Each formula has ONE definition, as Spark-SQL text: ``*_sql(e)`` takes
the SQL text of a string expression (usually a quoted column name) and
returns the text of the result.  The public builders take a column
NAME and return ``F.expr`` of that text — a handful of py4j round trips
however deep the tree (``quality_score``: 3 sends, where the same tree
built one ``Column`` node at a time cost 775).  Operators that assemble
a larger projection splice the ``*_sql`` text straight into their own
``selectExpr``, so nothing is cached per process.

``DUCKDB_TOKENS`` is the DuckDB twin of :func:`tokens` that every
oracle query spells its token array with.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .sqltext import ident, string

__all__ = [
    "tokens",
    "tokens_sql",
    "token_count",
    "token_count_sql",
    "bpe_ish_token_count",
    "quality_score",
    "quality_score_sql",
    "language_id",
    "language_id_sql",
    "doc_fingerprint",
    "shingles",
    "shingles_sql",
    "STOPWORDS",
    "DUCKDB_TOKENS",
]

#: DuckDB twin of :func:`tokens` over the ``text`` column (the oracles'
#: one spelling of it).
DUCKDB_TOKENS = (
    "COALESCE(list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> x <> ''), [])"
)


_WS_RUN = string(r"\s+")


def tokens_sql(e: str) -> str:
    """Whitespace tokens of ``e``, lower-cased, empty-string-free.

    NULL-safe: NULL text tokenizes like empty text → ``[]`` (the SQL
    twins coalesce identically), so every downstream text operator has
    ONE well-defined empty-document path instead of NULL-propagation
    surprises."""
    return (
        f"coalesce(filter(split(lower(trim({e})), {_WS_RUN}), x -> x != ''), "
        "CAST(array() AS array<string>))"
    )


def tokens(c: str) -> Column:
    """:func:`tokens_sql` over the column named ``c``."""
    return F.expr(tokens_sql(ident(c)))


def token_count_sql(e: str) -> str:
    """Whitespace token count; empty/NULL text → 0."""
    return f"CAST(coalesce(size({tokens_sql(e)}), 0) AS BIGINT)"


def token_count(c: str) -> Column:
    """:func:`token_count_sql` over the column named ``c``."""
    return F.expr(token_count_sql(ident(c)))


#: GPT-2-style pretokenizer shape: contractions, letter runs, digit runs,
#: punctuation runs (leading space attached), remaining whitespace.
_BPE_ISH = r"'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^\sA-Za-z0-9]+"


def bpe_ish_token_count(c: str) -> Column:
    """Approximate BPE token count: matches of a GPT-2-ish pretokenizer
    regex.  A cheap, deterministic stand-in for a real tokenizer that
    tracks its count within a few percent on English text."""
    return F.expr(
        f"CAST(coalesce(regexp_count({ident(c)}, {string(_BPE_ISH)}), 0) AS BIGINT)"
    )


#: Small per-language stopword seeds for the n-gram/stopword heuristic.
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "in", "is", "that", "it", "for", "with"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "von", "zu"),
    "fr": ("le", "la", "les", "et", "est", "pas", "une", "des", "dans", "que"),
    "es": ("el", "la", "los", "que", "de", "es", "en", "un", "una", "por"),
    "it": ("il", "la", "che", "di", "è", "non", "per", "una", "con", "del"),
}


def _hits_sql(toks: str, words) -> str:
    """Number of elements of the array ``toks`` that are in ``words``."""
    return f"size(filter({toks}, x -> x IN ({', '.join(map(string, words))})))"


def language_id_sql(e: str) -> str:
    """Stopword-vote language ID: the language whose stopword list hits the
    most tokens wins; no hits → 'und' (undetermined).

    Expression-only: one ``filter`` + ``size`` count per language over
    the token array, then a greatest-vote CASE whose branch order makes
    earlier languages win ties.  O(tokens × languages) per row, all
    codegen'd.
    """
    toks = tokens_sql(e)
    scores = {lang: _hits_sql(toks, words) for lang, words in STOPWORDS.items()}
    best = f"greatest({', '.join(scores.values())})"
    whens = " ".join(
        f"WHEN {s} = {best} AND {best} > 0 THEN {string(lang)}"
        for lang, s in scores.items()
    )
    return f"CASE {whens} ELSE 'und' END"


def language_id(c: str) -> Column:
    """:func:`language_id_sql` over the column named ``c``."""
    return F.expr(language_id_sql(ident(c)))


def quality_score_sql(e: str) -> str:
    """Heuristic document quality in [0, 1] (DOUBLE): blends length,
    alpha ratio, punctuation-burst penalty, stopword ratio, and mean
    word length — the classic cheap pre-filters for web-scraped training
    text.  Every constant is a ``D`` literal: Spark SQL reads a bare
    ``1.0`` as DECIMAL."""
    t = f"trim({e})"
    n_chars = f"CAST(length({t}) AS DOUBLE)"
    toks = tokens_sql(t)
    n_tok = f"greatest(CAST(size({toks}) AS DOUBLE), 1.0D)"
    # alpha/punct counts via translate (single table-lookup pass per
    # char) instead of regexp_replace (regex engine pass per char) —
    # same ASCII accept sets as the [^A-Za-z] / [A-Za-z0-9\s] classes
    letters = "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz"
    ws = " \t\n\r\f\x0b"  # Java \s (ASCII)
    alpha = f"CAST(({n_chars} - length(translate({t}, {string(letters)}, ''))) AS DOUBLE)"
    punct = (
        f"CAST(length(translate({t}, {string(letters + '0123456789' + ws)}, '')) AS DOUBLE)"
    )
    all_stop = sorted({w for words in STOPWORDS.values() for w in words})
    stop_hits = f"CAST({_hits_sql(toks, all_stop)} AS DOUBLE)"

    len_score = f"least({n_chars} / 500.0D, 1.0D)"
    alpha_ratio = f"{alpha} / greatest({n_chars}, 1.0D)"
    punct_penalty = f"(1.0D - least({punct} / greatest({n_chars}, 1.0D) * 4, 1.0D))"
    stop_score = f"least({stop_hits} / {n_tok} * 3, 1.0D)"
    mean_wlen = f"({n_chars} / {n_tok})"
    wlen_score = (
        f"CASE WHEN {mean_wlen} >= 3 AND {mean_wlen} <= 10 THEN 1.0D ELSE 0.5D END"
    )
    raw = (
        f"{len_score} * 0.25D + ({alpha_ratio}) * 0.25D + {punct_penalty} * 0.2D"
        f" + {stop_score} * 0.2D + ({wlen_score}) * 0.1D"
    )
    return (
        f"CASE WHEN {t} IS NULL OR {n_chars} = 0 THEN 0.0D ELSE round({raw}, 6) END"
    )


def quality_score(c: str) -> Column:
    """:func:`quality_score_sql` over the column named ``c``."""
    return F.expr(quality_score_sql(ident(c)))


def doc_fingerprint(c: str) -> Column:
    """64-bit content fingerprint of whitespace/case-normalized text
    (xxhash64).  Equal fingerprints ⇔ texts equal modulo whitespace/case —
    the exact-dedup key that avoids shuffling full document bodies."""
    return F.expr(f"xxhash64(concat_ws(' ', {tokens_sql(ident(c))}))")


def shingles_sql(e: str, n: int = 3) -> str:
    """Word n-gram shingle array (for MinHash / Jaccard dedup).

    Documents shorter than ``n`` tokens yield a single shingle of the
    whole text so they still participate in dedup; EMPTY documents
    (0 tokens, incl. NULL text) yield NO shingles — ``['']`` would
    alias every empty doc onto the empty-string shingle and diverge
    from the SQL twins, which drop it.
    """
    toks = tokens_sql(e)
    k = f"size({toks})"
    # Build the n-grams as an (n-1)-deep zip_with over 1-step-offset
    # slices.  zip_with MATERIALIZES each input array once per row and
    # then walks elements, so the tokenize expression is evaluated
    # O(n) times per row.  The transform(sequence, i -> slice(toks,...))
    # formulation this replaces re-evaluated the full split/lower/trim
    # pipeline PER ELEMENT — O(tokens²) work per document (the same
    # trap operators/dedup.py:_shingle_hash_df documents; measured ~3×
    # on ngram_jaccard_pairs at sf0.1).
    grams = f"slice({toks}, 1, {k} - {n - 1})"
    for j in range(1, n):
        grams = (
            f"zip_with({grams}, slice({toks}, {1 + j}, {k} - {n - 1}), "
            "(a, b) -> concat_ws(' ', a, b))"
        )
    return (
        f"CASE WHEN {k} >= {n} THEN {grams} "
        f"WHEN {k} > 0 THEN array(concat_ws(' ', {toks})) "
        "ELSE CAST(array() AS array<string>) END"
    )


def shingles(c: str, n: int = 3) -> Column:
    """:func:`shingles_sql` over the column named ``c``."""
    return F.expr(shingles_sql(ident(c), n))
