"""Text-analysis expression library (beyond-reference scope).

Large-scale training-data pipeline primitives over the ``documents``
table: tokenization, language ID, quality scoring, fingerprinting.
All built from Spark built-ins (split / regexp / array functions /
xxhash64) so they stay JVM-side and whole-stage-codegen'd — at 100 TB of
text, a per-row Python UDF here would dominate the job.
"""

from __future__ import annotations

import functools
import inspect

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = [
    "tokens",
    "token_count",
    "bpe_ish_token_count",
    "quality_score",
    "language_id",
    "doc_fingerprint",
    "shingles",
    "memo_col",
    "STOPWORDS",
]


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def memo_col(fn):
    """Memoize a Column-builder for STRING/int/bool args (Column args
    pass through unmemoized — they are not hashable keys).

    Unresolved Columns are immutable expression trees resolved by name
    at analysis time, so one built tree is reusable across any number
    of DataFrames and plans.  The deep builders here cost dozens-to-
    hundreds of py4j round trips each (pure driver latency, guide §7.3);
    queries invoke them repeatedly — per stage, per loop iteration, per
    bench pass — so construction is paid once per process instead.

    MUST-NOT-MUTATE contract: a memoized builder returns the SAME
    object (Column / dict / list) to every caller for the process
    lifetime, and any Alias nodes inside carry fixed expression IDs.
    Callers must treat the result as frozen — never append/assign into
    a returned container — and must not build df1[c] == df2[c]-style
    self-join conditions from two frames that share one memoized alias
    (plan-corruption risk).  Current call sites use each alias once per
    plan and pass returned containers straight to select()/agg().

    Keyword calls are canonicalized into positional form before the
    cache lookup (``shingles('text', n=3)`` hits the same entry as
    ``shingles('text', 3)``), and the cache key carries each argument's
    TYPE so bool/int values that compare equal (True == 1) do not
    collide.  Variadic builders are returned unmemoized."""
    sig = inspect.signature(fn)
    if any(
        p.kind in (inspect.Parameter.VAR_POSITIONAL, inspect.Parameter.VAR_KEYWORD)
        for p in sig.parameters.values()
    ):
        return fn
    cache: dict = {}

    @functools.wraps(fn)
    def wrap(*a, **kw):
        try:
            bound = sig.bind(*a, **kw)
        except TypeError:
            return fn(*a, **kw)  # let fn raise its own signature error
        bound.apply_defaults()
        vals = tuple(bound.arguments.items())
        if any(not isinstance(v, (str, int, bool)) for _, v in vals):
            return fn(*a, **kw)
        key = tuple((n, type(v), v) for n, v in vals)
        if key not in cache:
            cache[key] = fn(*a, **kw)
        return cache[key]

    return wrap


@memo_col
def tokens(c: Column | str) -> Column:
    """Whitespace tokens, lower-cased, empty-string-free.

    NULL-safe: NULL text tokenizes like empty text → ``[]`` (the SQL
    twins coalesce identically), so every downstream text operator has
    ONE well-defined empty-document path instead of NULL-propagation
    surprises."""
    t = F.lower(F.trim(_col(c)))
    return F.coalesce(
        F.filter(F.split(t, r"\s+"), lambda x: x != ""),
        F.array().cast("array<string>"),
    )


@memo_col
def token_count(c: Column | str) -> Column:
    """Whitespace token count; empty/NULL text → 0."""
    return F.coalesce(F.size(tokens(c)), F.lit(0)).cast("long")


#: GPT-2-style pretokenizer shape: contractions, letter runs, digit runs,
#: punctuation runs (leading space attached), remaining whitespace.
_BPE_ISH = r"'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^\sA-Za-z0-9]+"


@memo_col
def bpe_ish_token_count(c: Column | str) -> Column:
    """Approximate BPE token count: matches of a GPT-2-ish pretokenizer
    regex.  A cheap, deterministic stand-in for a real tokenizer that
    tracks its count within a few percent on English text."""
    return F.coalesce(F.regexp_count(_col(c), F.lit(_BPE_ISH)), F.lit(0)).cast("long")


#: Small per-language stopword seeds for the n-gram/stopword heuristic.
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "in", "is", "that", "it", "for", "with"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "von", "zu"),
    "fr": ("le", "la", "les", "et", "est", "pas", "une", "des", "dans", "que"),
    "es": ("el", "la", "los", "que", "de", "es", "en", "un", "una", "por"),
    "it": ("il", "la", "che", "di", "è", "non", "per", "una", "con", "del"),
}


@memo_col
def language_id(c: Column | str) -> Column:
    """Stopword-vote language ID: the language whose stopword list hits the
    most tokens wins; no hits → 'und' (undetermined).

    Expression-only: one ``array_intersect``-style count per language via
    ``F.filter`` + ``F.size`` over the token array, then a greatest-vote
    ``when`` chain.  O(tokens × languages) per row, all codegen'd.
    """
    toks = tokens(c)

    def _hits(words: tuple[str, ...]):
        # NB: the lambda must take exactly one positional arg — PySpark
        # treats a 2-parameter lambda (incl. default args) as
        # (element, index) and silently binds the index Column.
        return F.size(F.filter(toks, lambda x: x.isin(*words)))

    scores = {lang: _hits(words) for lang, words in STOPWORDS.items()}
    best = F.greatest(*scores.values())
    out = F.lit("und")
    # reversed so earlier languages win ties (when-chain precedence)
    for lang in reversed(list(scores)):
        out = F.when((scores[lang] == best) & (best > 0), F.lit(lang)).otherwise(out)
    return out


@memo_col
def quality_score(c: Column | str) -> Column:
    """Heuristic document quality in [0, 1]: blends length, alpha ratio,
    punctuation-burst penalty, stopword ratio, and mean word length —
    the classic cheap pre-filters for web-scraped training text."""
    t = F.trim(_col(c))
    n_chars = F.length(t).cast("double")
    toks = tokens(t)
    n_tok = F.greatest(F.size(toks).cast("double"), F.lit(1.0))
    # alpha/punct counts via translate (single table-lookup pass per
    # char) instead of regexp_replace (regex engine pass per char) —
    # same ASCII accept sets as the [^A-Za-z] / [A-Za-z0-9\s] classes
    letters = "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz"
    ws = " \t\n\r\f\x0b"  # Java \s (ASCII)
    alpha = (n_chars - F.length(F.translate(t, letters, ""))).cast("double")
    punct = F.length(F.translate(t, letters + "0123456789" + ws, "")).cast("double")
    all_stop = tuple({w for ws in STOPWORDS.values() for w in ws})
    stop_hits = F.size(F.filter(toks, lambda x: x.isin(*all_stop))).cast("double")

    len_score = F.least(n_chars / F.lit(500.0), F.lit(1.0))
    alpha_ratio = alpha / F.greatest(n_chars, F.lit(1.0))
    punct_penalty = F.lit(1.0) - F.least(punct / F.greatest(n_chars, F.lit(1.0)) * 4, F.lit(1.0))
    stop_score = F.least(stop_hits / n_tok * 3, F.lit(1.0))
    mean_wlen = n_chars / n_tok
    wlen_score = F.when((mean_wlen >= 3) & (mean_wlen <= 10), F.lit(1.0)).otherwise(F.lit(0.5))

    raw = (
        len_score * 0.25
        + alpha_ratio * 0.25
        + punct_penalty * 0.2
        + stop_score * 0.2
        + wlen_score * 0.1
    )
    return F.when(t.isNull() | (n_chars == 0), F.lit(0.0)).otherwise(F.round(raw, 6))


@memo_col
def doc_fingerprint(c: Column | str) -> Column:
    """64-bit content fingerprint of whitespace/case-normalized text
    (xxhash64).  Equal fingerprints ⇔ texts equal modulo whitespace/case —
    the exact-dedup key that avoids shuffling full document bodies."""
    norm = F.concat_ws(" ", tokens(c))
    return F.xxhash64(norm)


@memo_col
def shingles(c: Column | str, n: int = 3) -> Column:
    """Word n-gram shingle array (for MinHash / Jaccard dedup).

    Documents shorter than ``n`` tokens yield a single shingle of the
    whole text so they still participate in dedup; EMPTY documents
    (0 tokens, incl. NULL text) yield NO shingles — ``['']`` would
    alias every empty doc onto the empty-string shingle and diverge
    from the SQL twins, which drop it.
    """
    toks = tokens(c)
    k = F.size(toks)
    joined = F.concat_ws(" ", toks)
    # Build the n-grams as an (n-1)-deep zip_with over 1-step-offset
    # slices.  zip_with MATERIALIZES each input array once per row and
    # then walks elements, so the tokenize expression is evaluated
    # O(n) times per row.  The transform(sequence, i -> slice(toks,...))
    # formulation this replaces re-evaluated the full split/lower/trim
    # pipeline PER ELEMENT — O(tokens²) work per document (the same
    # trap operators/dedup.py:_shingle_hash_df documents; measured ~3×
    # on ngram_jaccard_pairs at sf0.1).
    grams = F.slice(toks, 1, k - (n - 1))
    for j in range(1, n):
        grams = F.zip_with(
            grams,
            F.slice(toks, 1 + j, k - (n - 1)),
            lambda a, b: F.concat_ws(" ", a, b),
        )
    return (
        F.when(k >= n, grams)
        .when(k > 0, F.array(joined))
        .otherwise(F.array().cast("array<string>"))
    )
