"""Text-analysis column functions for the training-data pipeline tier.

All pure Column expressions (JVM regex / hashing — no Python UDFs), so
they vectorize inside whole-stage codegen and scale linearly with
input splits; there is no shuffle in any of them.

These extend the reference's surface (SURVEY.md §2.11): language-ID
heuristic, quality scoring, token counting, and document
fingerprinting over the ``documents`` table.
"""

from __future__ import annotations

from typing import Union

from pyspark.sql import Column, functions as F

ColumnOrName = Union[Column, str]


def _c(col: ColumnOrName) -> Column:
    return F.col(col) if isinstance(col, str) else col


#: Tiny per-language stopword marker sets for the n-gram/stopword
#: language heuristic. Deliberately small and deterministic — a real
#: deployment swaps in fastText/CLD3 behind the same column signature.
LANG_MARKERS = {
    "en": ("the", "and", "of", "to", "is", "in", "that", "it", "for", "with"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "zu", "den"),
    "fr": ("le", "la", "les", "et", "est", "pas", "pour", "que", "des", "une"),
    "es": ("el", "la", "los", "y", "es", "no", "por", "que", "las", "una"),
}


def tokens(col: ColumnOrName) -> Column:
    """Whitespace tokenization → array<string>; empty or whitespace-only
    text → empty array.

    Split-then-drop-empties, NOT trim-then-split: Spark's ``trim``
    strips only SPACES, so a leading/trailing tab or newline leaves a
    separator at the string edge and ``split`` emits phantom empty
    tokens there ("\\n" tokenized as two empty strings — found by
    test_property_text). Dropping empties matches the oracles'
    ``regexp_extract_all(text, '\\S+')`` on every input."""
    arr = F.split(_c(col), r"\s+")
    return F.filter(arr, lambda t: t != "")


def token_count(col: ColumnOrName) -> Column:
    """Whitespace token count (BPE-agnostic baseline)."""
    return F.size(tokens(col))


def bpe_ish_token_count(col: ColumnOrName) -> Column:
    """A BPE-flavored token estimate: word-piece-ish regex split on
    word boundaries, digits, and punctuation runs. Deterministic and
    cheap; a stand-in with the same column signature as a real
    tokenizer-count UDF."""
    return F.size(F.regexp_extract_all(_c(col), F.lit(r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"), F.lit(0)))


def char_count(col: ColumnOrName) -> Column:
    return F.length(_c(col))


def punct_ratio(col: ColumnOrName) -> Column:
    """Fraction of characters that are punctuation (quality signal)."""
    c = _c(col)
    n = F.length(c)
    p = F.length(F.regexp_replace(c, r"[^.,;:!?'\"()\[\]{}-]", ""))
    return F.when(n > 0, p.cast("double") / n.cast("double")).otherwise(F.lit(0.0))


def stopword_hits(col: ColumnOrName, lang: str = "en") -> Column:
    """Count of stopword-marker tokens for ``lang`` in the text."""
    markers = LANG_MARKERS[lang]
    toks = F.transform(tokens(col), lambda t: F.lower(t))
    return F.size(F.filter(toks, lambda t: t.isin(*markers)))


def lang_id(col: ColumnOrName) -> Column:
    """Stopword-marker language vote over LANG_MARKERS; 'und' when no
    marker hits. greatest-of-struct keeps it a single projection."""
    hits = [
        F.struct(
            stopword_hits(col, lang).alias("hits"),
            # lexicographically stable tie-break on language code
            F.lit(lang).alias("lang"),
        )
        for lang in sorted(LANG_MARKERS)
    ]
    best = F.greatest(*hits) if len(hits) > 1 else hits[0]
    return F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("und"))


def quality_score(col: ColumnOrName) -> Column:
    """Composite [0,1] quality score from length, punctuation, and
    mean-word-length sanity — the classic cheap pre-filter for
    web-scraped training text. Weights are fixed constants so the
    score is deterministic and oracle-checkable."""
    c = _c(col)
    n_chars = F.length(c).cast("double")
    n_tok = token_count(c).cast("double")
    mean_word = F.when(n_tok > 0, n_chars / n_tok).otherwise(F.lit(0.0))
    len_ok = F.when((n_chars >= 50) & (n_chars <= 20000), F.lit(1.0)).otherwise(F.lit(0.0))
    word_ok = F.when((mean_word >= 3.0) & (mean_word <= 12.0), F.lit(1.0)).otherwise(F.lit(0.0))
    punct_ok = F.when(punct_ratio(c) <= 0.2, F.lit(1.0)).otherwise(F.lit(0.0))
    return (F.lit(0.4) * len_ok + F.lit(0.3) * word_ok + F.lit(0.3) * punct_ok).alias(
        "quality"
    )


def normalized_text(col: ColumnOrName) -> Column:
    """Canonical text form for fingerprinting/dedup: lowercase,
    punctuation stripped, whitespace collapsed."""
    c = F.lower(_c(col))
    c = F.regexp_replace(c, r"[^a-z0-9\s]", " ")
    c = F.regexp_replace(c, r"\s+", " ")
    return F.trim(c)


def fingerprint(col: ColumnOrName) -> Column:
    """64-bit content fingerprint of the normalized text (xxhash64) —
    the exact-dedup key. Collision odds at 100 TB-scale corpus sizes
    (~1e10 docs) are ~3e-3 under 64-bit birthday math; acceptable for
    dedup, and sha2-256 is one swap away when it is not."""
    return F.xxhash64(normalized_text(col))


def sha_fingerprint(col: ColumnOrName) -> Column:
    """256-bit hex fingerprint (collision-free for practical purposes),
    oracle-checkable against DuckDB's sha256()."""
    return F.sha2(normalized_text(col), 256)


def char_array(norm_col: ColumnOrName) -> Column:
    """Split a string into its character array — materialize this as a
    projected column before calling ``char_ngrams_from`` on it."""
    return F.split(_c(norm_col), "")


def char_ngrams_from(chars_col: ColumnOrName, n: int = 5) -> Column:
    """Character n-gram (shingle) array over an ALREADY-SPLIT char
    array column (``char_array``). Array indexing is O(1) per
    character; the substring form is O(position) on UTF8 strings,
    which makes shingling quadratic per document (measured 1.55× on
    the corpus map stage). The input must be a cheap expression
    (ideally a bare column): outer expressions referenced inside a
    transform lambda are re-evaluated per element. Documents shorter
    than ``n`` chars yield their whole text as the single shingle
    (missing positions pad as empty strings)."""
    ch = _c(chars_col)
    return F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(ch) - F.lit(n), F.lit(0))),
        lambda i: F.concat(
            *[F.coalesce(F.get(ch, i + F.lit(j)), F.lit("")) for j in range(n)]
        ),
    )


def word_ngrams_from(toks_col: ColumnOrName, n: int = 3) -> Column:
    """Word n-gram array over an already-materialized token-array
    column (same per-element re-evaluation caveat as
    char_ngrams_from)."""
    toks = _c(toks_col)
    count = F.greatest(F.size(toks) - F.lit(n - 1), F.lit(1))
    return F.transform(
        F.sequence(F.lit(0), count - F.lit(1)),
        lambda i: F.concat_ws(" ", F.slice(toks, i + F.lit(1), n)),
    )
