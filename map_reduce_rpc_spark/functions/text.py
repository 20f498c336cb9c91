"""Text transforms — tokenization, n-grams, quality signals.

Tokenizer parity: the reference splits document text on runs of
non-letter runes via Go ``unicode.IsLetter``
(``/root/reference/plugins/wc.go:22-35``). We use the Unicode letter
class ``\\p{L}`` which matches Go's ``unicode.IsLetter`` for all
practical inputs, and is supported both by Java regex (Spark) and RE2
(DuckDB) so the oracle can mirror it exactly.

Everything here is built-in-function compositions (whole-stage codegen,
no Python in the hot path) — at 100 TB these run entirely JVM-side.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Runs of non-letters; identical semantics in Java regex and RE2.
NON_LETTER_RE = r"[^\p{L}]+"


def tokens(text: Column | str) -> Column:
    """Array of letter-run tokens, empty strings dropped.

    Parity with the reference map-side tokenizer
    (``/root/reference/plugins/wc.go:24-27``): split on non-letter runs,
    keep case, drop empties (FieldsFunc never returns empty fields).
    """
    col = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(col, NON_LETTER_RE), lambda t: t != F.lit(""))


def word_count_tokens(text: Column | str) -> Column:
    """Token count via one regexp pass (no array materialization)."""
    col = F.col(text) if isinstance(text, str) else text
    return F.size(tokens(col))


def word_ngrams(text: Column | str, n: int = 3) -> Column:
    """Array of full word n-grams (space-joined) over the lowercased
    tokens; empty array when the document has fewer than n tokens."""
    col = F.col(text) if isinstance(text, str) else text
    toks = tokens(F.lower(col))
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - F.lit(n)),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


# --- quality scoring -------------------------------------------------------

_STOPWORDS = (
    "the,a,an,and,or,of,to,in,is,it,that,for,on,with,as,was,at,by,be,this,"
    "are,from,but,not,they,his,her,she,he,you,we,have,has,had,were,which"
).split(",")


def quality_signals(text: Column | str) -> dict[str, Column]:
    """Cheap quality heuristics for corpus filtering, all codegen'd.

    Returns named columns: n_chars, n_tokens, mean_token_len,
    punct_ratio, digit_ratio, stopword_ratio, upper_ratio.
    """
    col = F.col(text) if isinstance(text, str) else text
    toks = tokens(F.lower(col))
    n_chars = F.length(col)
    n_tokens = F.size(toks)
    nz_chars = F.greatest(n_chars, F.lit(1)).cast("double")
    nz_tokens = F.greatest(n_tokens, F.lit(1)).cast("double")
    stop_arr = F.array(*[F.lit(s) for s in _STOPWORDS])
    return {
        "n_chars": n_chars,
        "n_tokens": n_tokens,
        "mean_token_len": (
            F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t)).cast("double")
            / nz_tokens
        ),
        "punct_ratio": (
            F.length(F.regexp_replace(col, r"[^.,;:!?'\"()\[\]-]", "")) / nz_chars
        ),
        "digit_ratio": F.length(F.regexp_replace(col, r"[^0-9]", "")) / nz_chars,
        "stopword_ratio": (
            F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t))) / nz_tokens
        ),
        "upper_ratio": F.length(F.regexp_replace(col, r"[^A-Z]", "")) / nz_chars,
    }
