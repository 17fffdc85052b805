"""Text-analysis column expressions for the documents table.

All pure built-in compositions (regexp/length/md5) so they stay inside
whole-stage codegen — no Python UDFs. These back the training-data
pipeline operators (SURVEY.md §2.8): token counting, quality ratios,
language-ID heuristic, document fingerprinting.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(x: Column | str) -> Column:
    return F.col(x) if isinstance(x, str) else x


def token_count(text: Column | str) -> Column:
    """Whitespace token count (empty string -> 0)."""
    t = F.trim(_c(text))
    return F.when(t == "", F.lit(0)).otherwise(F.size(F.split(t, r"\s+")))


def punct_ratio(text: Column | str) -> Column:
    """Fraction of characters that are punctuation-ish."""
    t = _c(text)
    stripped = F.regexp_replace(t, r"[.,;:!?'\"()\[\]{}-]", "")
    return (F.length(t) - F.length(stripped)) / F.greatest(F.length(t), F.lit(1))


def upper_ratio(text: Column | str) -> Column:
    t = _c(text)
    stripped = F.regexp_replace(t, r"[A-Z]", "")
    return (F.length(t) - F.length(stripped)) / F.greatest(F.length(t), F.lit(1))


def tokens(text: Column | str) -> Column:
    """Lowercased whitespace tokens. Materialize in a projection when
    several downstream expressions consume it (Catalyst re-inlines
    multiply-used non-cheap aliases otherwise)."""
    return F.split(F.lower(F.trim(_c(text))), r"\s+")


def norm_tokens(text: Column | str) -> Column:
    """THE canonical tokenization every oracle-checked text operator
    shares (bm25/tf-idf, LM surprisal, passage dedup, decontamination):
    collapse whitespace runs to single spaces, lowercase, split on the
    single space — bit-identical to the DuckDB ``_SHINGLE_SQL`` twin in
    queries.py. Change both together or hash comparisons break."""
    return F.split(F.regexp_replace(F.lower(F.trim(_c(text))), r"\s+", " "), " ")


def stopword_count_from_tokens(toks: Column | str, stopwords: list[str]) -> Column:
    sw = F.array(*[F.lit(w) for w in stopwords])
    return F.size(F.filter(_c(toks), lambda t: F.array_contains(sw, t)))


def stopword_count(text: Column | str, stopwords: list[str]) -> Column:
    """Number of tokens that are in ``stopwords`` (case-insensitive)."""
    return stopword_count_from_tokens(tokens(text), stopwords)


#: Tiny per-language stopword lists for the n-gram/stopword language-ID
#: heuristic. Deliberately small and deterministic.
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein"],
    "fr": ["le", "la", "les", "et", "est", "un", "une"],
    "es": ["el", "la", "los", "y", "es", "un", "una"],
}


def lang_scores(text: Column | str, langs: dict[str, list[str]] | None = None) -> dict[str, Column]:
    langs = langs or LANG_STOPWORDS
    return {lang: stopword_count(text, words) for lang, words in langs.items()}


def lang_id(text: Column | str, langs: dict[str, list[str]] | None = None,
            default: str = "und") -> Column:
    """Argmax-stopword-hits language guess; ties broken by lang-code
    order, zero hits -> ``default``."""
    scores = lang_scores(text, langs)
    return _argmax_lang(scores, default)


def _argmax_lang(scores: dict[str, Column], default: str) -> Column:
    items = sorted(scores.items())
    best_lang, best_score = None, None
    for lang, score in items:
        if best_lang is None:
            best_lang, best_score = F.lit(lang), score
        else:
            take = score > best_score
            best_lang = F.when(take, F.lit(lang)).otherwise(best_lang)
            best_score = F.when(take, score).otherwise(best_score)
    return F.when(best_score > 0, best_lang).otherwise(F.lit(default))


def fingerprint(text: Column | str) -> Column:
    """Deterministic document fingerprint: md5 of the normalized text
    (lowercased, whitespace collapsed). Engine-portable (md5 exists in
    every SQL engine) unlike xxhash64.
    """
    norm = F.regexp_replace(F.lower(F.trim(_c(text))), r"\s+", " ")
    return F.md5(norm)


#: Default PII-ish redaction patterns (label -> regex). Deliberately
#: engine-portable subset (no lookarounds): works identically in Java
#: regex (Spark) and RE2 (DuckDB/others).
REDACT_PATTERNS: dict[str, str] = {
    "email": r"[a-zA-Z0-9._#+-]+@[a-zA-Z][a-zA-Z0-9.-]+",
    "phone": r"\+?[0-9][0-9()\- ]{7,}[0-9]",
    "num": r"[0-9]+",
}


def redact(text: Column | str, patterns: dict[str, str] | None = None) -> Column:
    """Replace each pattern's matches with ``[LABEL]``, applied in dict
    order (order matters: e.g. emails before bare numbers). The scrub
    step of a training-data pipeline, pure column expressions."""
    out = _c(text)
    for label, rx in (patterns or REDACT_PATTERNS).items():
        out = F.regexp_replace(out, rx, f"[{label.upper()}]")
    return out


def prefix_fingerprint(text: Column | str, n_chars: int = 40) -> Column:
    """md5 of the first ``n_chars`` characters of the normalized text —
    the cheap boilerplate-dedup key (documents sharing a leading
    template collide even when tails differ). Character-based substring,
    so multibyte scripts hash identically across engines."""
    norm = F.regexp_replace(F.lower(F.trim(_c(text))), r"\s+", " ")
    return F.md5(F.substring(norm, 1, n_chars))


def portable_token_hash20(t: Column | str) -> Column:
    """20-bit per-token hash from the first 5 md5 hex digits.

    The engine-portable twin of ``pmod(xxhash64(t), 2^20)`` used when a
    DuckDB oracle must reproduce the value bit-for-bit (xxhash64 has no
    DuckDB twin; md5 exists everywhere). Same distributional role, a
    different — but equally deterministic — hash family."""
    return F.conv(F.substring(F.md5(_c(t)), 1, 5), 16, 10).cast("long")


def portable_token_hash64(t: Column | str) -> Column:
    """64-bit per-token hash assembled from the first 16 md5 hex digits
    (digit k supplies bits 4k..4k+3, so bit j of the value is bit j%4 of
    hex digit j//4 — the exact layout the DuckDB oracle re-derives with
    strpos arithmetic). Top digit wraps into the sign bit; Java shift
    semantics make that deterministic."""
    m = F.md5(_c(t))
    v = F.lit(0).cast("long")
    for k in range(16):
        d = F.conv(F.substring(m, k + 1, 1), 16, 10).cast("long")
        v = v.bitwiseOR(F.shiftleft(d, 4 * k))
    return v


def rolling_fingerprint(text: Column | str, base: int = 1_000_003,
                        modulus: int = 2_147_483_647,
                        portable: bool = False) -> Column:
    """Order-sensitive rolling (polynomial / Rabin-style) fingerprint over
    tokens: ``fp_i = (fp_{i-1} * B + h(t_i)) mod M``. Unlike the md5
    :func:`fingerprint` (content identity), token order changes the value,
    and a stream can extend it incrementally from the previous fp. Pure
    built-in expressions (aggregate over the token-hash array, JVM-side);
    the explicit modulus keeps every step inside 63 bits, so it is exact
    under ANSI arithmetic (no silent wrapping, no overflow error).

    ``portable=True`` swaps the per-token hash from xxhash64 (fast path)
    to :func:`portable_token_hash20` so a DuckDB oracle can recompute the
    identical value (``list_reduce`` over the same md5-derived hashes);
    the rolling recurrence — the operator under test — is unchanged.
    """
    if portable:
        th = F.transform(norm_tokens(text), portable_token_hash20)
        step = lambda acc, h: F.pmod(acc * base + h, F.lit(modulus))  # noqa: E731
    else:
        th = token_hashes(text)
        step = lambda acc, h: F.pmod(acc * base + F.pmod(h, F.lit(1 << 20)), F.lit(modulus))  # noqa: E731
    return F.aggregate(th, F.lit(0).cast("long"), step)


def token_hashes(text: Column | str) -> Column:
    """Per-token xxhash64 as array<long>.

    IMPORTANT: materialize this in its own projection (``.select(...,
    token_hashes(c).alias("__th"))``) before feeding it to
    :func:`hashed_shingles_from` — referenced inline, Catalyst re-inlines
    the whole tokenize+hash pipeline into every element_at and the work
    goes quadratic.
    """
    toks = F.split(F.regexp_replace(F.lower(F.trim(_c(text))), r"\s+", " "), " ")
    return F.transform(toks, lambda t: F.xxhash64(t))


def hashed_shingles_from(th: Column | str, n: int = 3) -> Column:
    """Word n-gram shingle hashes from a MATERIALIZED token-hash array
    column: shingle i = xxhash64(th[i..i+n-1]). ~6x faster than building
    shingle strings (interpreted HOFs + string concat dominate); use for
    minhash signatures where only shingle identity matters. ``shingles``
    keeps the string form for exact Jaccard.
    """
    th = _c(th)
    k = F.size(th) - (n - 1)
    return F.when(k <= 0, F.array(F.xxhash64(F.concat_ws(",", th.cast("array<string>"))))).otherwise(
        F.transform(
            F.sequence(F.lit(1), k),
            lambda i: F.xxhash64(*[F.element_at(th, i + j) for j in range(n)]),
        )
    )


#: Java's regex \s — EXACTLY the class ``F.regexp_replace(x, r"\s+", " ")``
#: collapses (Python's own \s additionally matches unicode whitespace like
#: \xa0, which the JVM class does not).
import re as _re  # noqa: E402  (module-level for executor pickling)

_JAVA_WS = _re.compile("[ \\t\\n\\x0b\\f\\r]+")


def py_shingle_set(text: str, n: int = 3) -> set:
    """Plain-Python twin of ``array_distinct(shingles(text, n))`` for
    Arrow passes that build shingles executor-side (the portable
    minhash signature): same trim (leading/trailing SPACES only, like
    ``F.trim``), lower, Java-``\\s`` collapse, single-space split,
    space-joined n-grams, and the under-n fallback to the whole
    normalized text as one shingle. Returns a SET (callers take hash
    minima, so order is irrelevant). Pinned equal to the JVM column by
    tests/test_r14_optimization.py across whitespace/unicode edges."""
    toks = _JAVA_WS.sub(" ", text.strip(" ").lower()).split(" ")
    k = len(toks) - (n - 1)
    if k <= 0:
        return {" ".join(toks)}
    return {" ".join(toks[i:i + n]) for i in range(k)}


def shingles(text: Column | str, n: int = 3) -> Column:
    """Word n-gram shingles as an array<string> (for minhash/Jaccard)."""
    toks = F.split(F.regexp_replace(F.lower(F.trim(_c(text))), r"\s+", " "), " ")
    k = F.size(toks) - (n - 1)
    return F.when(k <= 0, F.array(F.concat_ws(" ", toks))).otherwise(
        F.transform(
            F.sequence(F.lit(0), k - 1),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        )
    )
