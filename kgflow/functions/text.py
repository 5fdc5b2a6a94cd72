"""Text-analysis column functions for large-scale training-data pipelines.

All of these are pure ``pyspark.sql.functions`` compositions — JVM-side,
whole-stage-codegen friendly, no Python in the hot path. Each has an
exactly-equivalent ANSI-SQL formulation (used as the DuckDB oracle), so
correctness is cross-checked value-for-value.

Design rule for portability: every hash is ``md5`` of a UTF-8 string —
identical across Spark, DuckDB, and Python — never engine-specific
(xxhash64/crc) when a cross-engine oracle needs to reproduce it.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: tiny marker-word lists for heuristic language ID (deterministic, not
#: a real classifier — the Spark-side plumbing is the point; swap for
#: fastText/CLD3 via a pandas UDF in production).
LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "is"],
    "es": ["el", "la", "de", "que", "y"],
    "fr": ["le", "la", "et", "les", "des"],
    "de": ["der", "die", "und", "das", "ist"],
}

STOPWORDS = sorted({w for ws in LANG_MARKERS.values() for w in ws})


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization (lower-cased): ``split(lower(trim(c)),
    '\\s+')``.

    ``trim`` strips spaces only and the split keeps leading and trailing
    empty tokens, so blank text is not tokenless: ``""`` and ``" "``
    give ``[""]`` (1 token) and ``"\\t"`` gives ``["", ""]`` (2 tokens);
    null gives null. The frozen ``bucket_quality_rollup`` oracle SQL
    counts tokens by the same rule (DuckDB
    ``regexp_split_to_array(lower(trim(t)), '\\s+')`` gives the same
    arrays), so the ledger's and that query's token counts over blank
    turns must keep it."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(F.lower(F.trim(c)), r"\s+")


# Java-regex \s is ASCII-only: [ \t\n\x0B\f\r]. A bare Python \s would
# additionally split on unicode whitespace (\xa0,  , ...) and
# silently diverge from the JVM tokenization.
_JAVA_WS = __import__("re").compile(r"[ \t\n\x0b\f\r]+")


def py_tokens(text: str | None) -> list[str] | None:
    """Exact Python twin of :func:`tokens` — for Arrow-batched operators
    that tokenize inside the Python worker. Verified equivalences:

    * Spark ``trim`` strips ASCII space (0x20) ONLY → ``strip(" ")``;
    * ``lower`` matches Python ``str.lower()`` (simple full case map);
    * ``split(s, "\\s+")`` uses Java's ASCII-only ``\\s`` with limit -1,
      KEEPING leading/trailing empty tokens ("\\ta b\\t" →
      ['', 'a', 'b', '']; "" → ['']) — Python ``re.split`` on the
      explicit ASCII class reproduces all of it.
    """
    if text is None:
        return None
    return _JAVA_WS.split(text.strip(" ").lower())


def py_fingerprint(text: str | None) -> str | None:
    """Exact Python twin of :func:`fingerprint` (md5 of
    ``lower(trim(regexp_replace(text, '\\s+', ' ')))``), with the same
    Java-regex ASCII ``\\s`` and space-only trim semantics as
    :func:`py_tokens`."""
    if text is None:
        return None
    import hashlib

    norm = _JAVA_WS.sub(" ", text).strip(" ").lower()
    return hashlib.md5(norm.encode("utf-8")).hexdigest()


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col))


def avg_token_len(col: Column | str) -> Column:
    t = tokens(col)
    return F.aggregate(
        t, F.lit(0.0), lambda acc, x: acc + F.length(x)
    ) / F.size(t)


def stopword_ratio(col: Column | str, stopwords: list[str] | None = None) -> Column:
    sw = STOPWORDS if stopwords is None else stopwords
    t = tokens(col)
    hits = F.size(F.filter(t, lambda x: x.isin(sw)))
    return hits / F.size(t)


def quality_score(col: Column | str) -> Column:
    """Length/stopword-based quality heuristic in [0,1]: mid-length docs
    with some-but-not-all stopwords score high (the shape of the
    reference's 2000-char/512-token caps, ``entrez_gene_embedding.py:10``)."""
    n = token_count(col)
    len_score = F.least(n / F.lit(100.0), F.lit(1.0))
    sw = stopword_ratio(col)
    sw_score = F.lit(1.0) - F.abs(sw - F.lit(0.3))
    return F.round((len_score + sw_score) / 2.0, 4)


def lang_scores(col: Column | str) -> dict[str, Column]:
    t = tokens(col)
    return {
        lang: F.size(F.filter(t, lambda x: x.isin(markers)))
        for lang, markers in LANG_MARKERS.items()
    }


def lang_guess(col: Column | str) -> Column:
    """argmax over marker-hit counts, deterministic tie-break by lang name."""
    scores = lang_scores(col)
    # build struct array (hits, lang) and take max → deterministic
    pairs = F.array(
        *[F.struct(v.alias("hits"), F.lit(k).alias("lang")) for k, v in sorted(scores.items())]
    )
    best = F.array_max(F.filter(pairs, lambda p: p["hits"] > 0))
    return F.coalesce(best["lang"], F.lit("und"))


def normalized_text(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.lower(F.trim(F.regexp_replace(c, r"\s+", " ")))


def fingerprint(col: Column | str) -> Column:
    """Document fingerprint: md5 of whitespace-normalized lower text."""
    return F.md5(normalized_text(col))


# PII scrub patterns, applied IN THIS ORDER (URLs first so an email
# inside a URL is captured as part of the URL, IPs before phones so a
# dotted quad isn't half-eaten as a phone number). Deliberately
# lookaround/backreference-free: the same patterns must run under
# Java's regex (Spark) and RE2 (DuckDB oracle) with identical results.
#
# Precision choices (vs the naive "any 9+-char digit/dash run"):
# * <IP> requires in-range octets (0-255), so 4-part version strings
#   like 1.22.333.4 survive; a version that IS a valid dotted quad is
#   indistinguishable from an address and stays redacted.
# * <PHONE> requires phone STRUCTURE — a + prefix, a parenthesized
#   area code, three separator-split groups of ≥3/≥3/≥2 digits, or a
#   bare 9-15 digit run at word boundaries. ISO dates (2026-08-17:
#   groups of 4/2/2), times, versions, and short numeric ids no longer
#   match; separator-free digit runs under 9 digits are left alone
#   (over-redaction of a 9+ digit id is the privacy-safe side).
_OCTET = r"(25[0-5]|2[0-4]\d|1\d\d|[1-9]?\d)"
PII_PATTERNS: list[tuple[str, str]] = [
    (r"https?://[^\s]+", "<URL>"),
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (rf"\b{_OCTET}\.{_OCTET}\.{_OCTET}\.{_OCTET}\b", "<IP>"),
    (
        r"\+\d[\d\s().-]{6,18}\d"
        r"|\(\d{2,4}\)[\s.-]?\d[\d\s.-]{4,10}\d"
        r"|\b\d{3,4}[\s.-]\d{3,4}[\s.-]\d{2,6}\b"
        r"|\b\d{9,15}\b",
        "<PHONE>",
    ),
]


def redact_pii(col: Column | str) -> Column:
    """Scrub URL / email / IPv4 / phone-shaped spans to typed
    placeholders — the standard pre-training privacy pass. Pure chained
    ``regexp_replace`` (JVM codegen, zero shuffle); span-typed
    placeholders keep token statistics meaningful downstream."""
    c = F.col(col) if isinstance(col, str) else col
    for pat, repl in PII_PATTERNS:
        c = F.regexp_replace(c, pat, repl)
    return c


def word_shingles(col: Column | str, n: int = 3) -> Column:
    """Distinct n-word shingles as an array<string> (empty if < n tokens).

    Implementation notes:
    * shifted-slices + ``arrays_zip`` rather than ``transform(sequence,
      i -> slice(t, i, n))`` — a lambda that references the tokens
      *expression* re-evaluates the regex split once per element
      (O(L²) per row; measured 7× slower at sf0.1);
    * guard: ``F.sequence(1, 0)`` would yield a DESCENDING sequence in
      Spark, never an empty one — short texts short-circuit to array().
    """
    t = tokens(col)
    count = F.size(t) - (n - 1)
    shifted = [F.slice(t, k + 1, count) for k in range(n)]
    zipped = F.arrays_zip(*shifted)
    return F.when(
        count >= 1,
        F.array_distinct(
            F.transform(
                zipped,
                lambda s: F.concat_ws(" ", *[s[str(k)] for k in range(n)]),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))


def word_ngrams(col: Column | str, n: int = 2) -> Column:
    """ALL n-word grams in order, duplicates kept (empty if < n tokens)
    — ``word_shingles`` without the distinct, for repetition metrics
    where occurrence COUNTS are the signal. Same shifted-slice +
    ``arrays_zip`` construction (and the same O(L²) lambda trap it
    avoids — see ``word_shingles``)."""
    t = tokens(col)
    count = F.size(t) - (n - 1)
    shifted = [F.slice(t, k + 1, count) for k in range(n)]
    zipped = F.arrays_zip(*shifted)
    return F.when(
        count >= 1,
        F.transform(
            zipped,
            lambda s: F.concat_ws(" ", *[s[str(k)] for k in range(n)]),
        ),
    ).otherwise(F.array().cast("array<string>"))


def dup_token_fraction(col: Column | str) -> Column:
    """Fraction of token occurrences that repeat an earlier token:
    (|t| - |distinct t|) / |t|. In-row ``array_distinct`` — zero
    shuffle, whole-stage codegen. The unit-level twin of the
    corpus-wide ``dedup.paragraph_dedup``; one of the Gopher-style
    repetition signals (Rae et al. 2021, "Scaling Language Models",
    §A1.1 quality filtering)."""
    t = tokens(col)
    return F.round(
        (F.size(t) - F.size(F.array_distinct(t)))
        / F.size(t).cast("double"),
        6,
    )
