"""Text-analysis kernels for the training-data pipeline operators.

All hot-path functions are pure Column expressions (JVM-side, codegen'd) so
they scale to 100 TB of documents without Python in the loop; each has a
DuckDB SQL twin for the correctness oracle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Stopword lists for the n-gram/stopword language heuristic.  Tiny by design:
# language ID at scale is a ratio of indicator-token hits, all computed with
# built-in string functions.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["le", "la", "et", "les", "des"],
    "es": ["el", "la", "de", "que", "los"],
}


def token_count(col: Column) -> Column:
    """Whitespace token count. SQL twin: len(regexp_split_to_array(trim(x),'\\s+'))"""
    return F.size(F.split(F.trim(col), r"\s+"))


def token_count_sql(c: str) -> str:
    return f"len(regexp_split_to_array(trim({c}), '\\s+'))"


def bpe_ish_token_count(col: Column) -> Column:
    """BPE-ish token estimate: count of word-piece matches (letter runs,
    digit runs, single punctuation) — a deterministic proxy for tokenizer
    counts usable as a budget estimator."""
    return F.size(F.regexp_extract_all(col, F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), F.lit(0)))


def bpe_ish_token_count_sql(c: str) -> str:
    return f"len(regexp_extract_all({c}, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))"


def char_count(col: Column) -> Column:
    return F.length(col)


def punct_ratio(col: Column) -> Column:
    """Fraction of non-alnum/non-space characters — quality signal."""
    punct = F.length(F.regexp_replace(col, r"[A-Za-z0-9\s]", ""))
    return punct / F.greatest(F.length(col), F.lit(1))


def punct_ratio_sql(c: str) -> str:
    return (
        f"length(regexp_replace({c}, '[A-Za-z0-9\\s]', '', 'g'))"
        f" / greatest(length({c}), 1)"
    )


def _in_markers(markers: list[str]):
    """1-arg HOF lambda factory: token ∈ marker set via array_contains."""
    arr = F.array(*[F.lit(m) for m in markers])
    return lambda t: F.array_contains(arr, t)


def quality_score(col: Column) -> Column:
    """Composite quality score in [0,1]: length norm + low punctuation +
    mean-word-length sanity.  Deterministic, SQL-expressible."""
    n_chars = F.length(col)
    length_term = F.least(n_chars / F.lit(500.0), F.lit(1.0))
    punct_term = F.lit(1.0) - F.least(punct_ratio(col) * F.lit(5.0), F.lit(1.0))
    mean_word = n_chars / F.greatest(token_count(col), F.lit(1))
    word_term = F.when((mean_word >= 3) & (mean_word <= 10), F.lit(1.0)).otherwise(F.lit(0.5))
    return (length_term + punct_term + word_term) / F.lit(3.0)


def quality_score_sql(c: str) -> str:
    n = f"length({c})"
    toks = token_count_sql(c)
    punct = punct_ratio_sql(c)
    mean_word = f"({n} / greatest({toks}, 1))"
    return (
        f"(least({n} / 500.0, 1.0)"
        f" + (1.0 - least(({punct}) * 5.0, 1.0))"
        f" + (CASE WHEN {mean_word} >= 3 AND {mean_word} <= 10 THEN 1.0 ELSE 0.5 END)"
        f") / 3.0"
    )


def lang_guess(col: Column) -> Column:
    """Heuristic language ID: argmax of marker-token hit counts, 'und' when
    no marker hits.  Entirely built-in functions (F.split/filter/size)."""
    toks = F.split(F.lower(F.trim(col)), r"\s+")
    scores = [
        (lang, F.size(F.filter(toks, _in_markers(markers))))
        for lang, markers in LANG_MARKERS.items()
    ]
    best_score = F.greatest(*[s for _, s in scores])
    result = F.lit("und")
    # first language (in insertion order) achieving the max wins ties —
    # iterate reversed so earlier langs override later ones
    for lang, score in reversed(scores):
        result = F.when((score == best_score) & (best_score > 0), F.lit(lang)).otherwise(result)
    return result


def lang_guess_sql(c: str) -> str:
    toks = f"regexp_split_to_array(lower(trim({c})), '\\s+')"
    score = {
        lang: f"len(list_filter({toks}, t -> t IN ({', '.join(repr(m) for m in markers)})))"
        for lang, markers in LANG_MARKERS.items()
    }
    best = f"greatest({', '.join(score.values())})"
    whens = " ".join(
        f"WHEN {score[lang]} = __best AND __best > 0 THEN '{lang}'"
        for lang in LANG_MARKERS
    )
    # DuckDB lacks lambda-closure reuse; inline via a scalar subquery-free CASE
    inlined = " ".join(
        f"WHEN {score[lang]} = {best} AND {best} > 0 THEN '{lang}'" for lang in LANG_MARKERS
    )
    _ = whens
    return f"CASE {inlined} ELSE 'und' END"


# ---------------------------------------------------------------------------
# Gopher-style quality rules (Rae et al. 2021, "Scaling Language Models:
# Methods, Analysis & Insights from Training Gopher", §A1.1) and repetition
# signals — the standard pre-training corpus gates.  All pure column
# expressions; each has a DuckDB twin so the driver's oracle checks values.


def _toks(col: Column) -> Column:
    return F.split(F.lower(F.trim(col)), r"\s+")


def _toks_sql(c: str) -> str:
    return f"regexp_split_to_array(lower(trim({c})), '\\s+')"


# Each metric has a ``*_toks`` form taking an already-split token array.
# The string forms below re-split per use, which is fine for a single
# metric; when several metrics run over the same column (repetition
# profile, Gopher gates) the caller should project ``_toks`` ONCE and feed
# the array column to the ``*_toks`` forms — the regex split is the
# dominant cost and higher-order-function expressions fall outside
# whole-stage codegen, so Catalyst's subexpression elimination does not
# dedupe it.  (The DuckDB oracle twins keep the inline-split spelling;
# only values must match.)


def mean_word_length_toks(toks: Column) -> Column:
    total = F.aggregate(toks, F.lit(0), lambda a, t: a + F.length(t))
    return total / F.greatest(F.size(toks), F.lit(1))


def mean_word_length(col: Column) -> Column:
    return mean_word_length_toks(_toks(col))


def mean_word_length_sql(c: str) -> str:
    t = _toks_sql(c)
    return (
        f"list_reduce(list_prepend(0, list_transform({t}, t -> length(t))),"
        f" (a, x) -> a + x) / greatest(len({t}), 1)"
    )


def alpha_word_ratio_toks(toks: Column) -> Column:
    hits = F.size(F.filter(toks, lambda t: t.rlike("[a-z]")))
    return hits / F.greatest(F.size(toks), F.lit(1))


def alpha_word_ratio(col: Column) -> Column:
    """Fraction of tokens containing at least one alphabetic character
    (Gopher: >= 80% of words must)."""
    return alpha_word_ratio_toks(_toks(col))


def alpha_word_ratio_sql(c: str) -> str:
    t = _toks_sql(c)
    return (
        f"len(list_filter({t}, t -> regexp_matches(t, '[a-z]')))"
        f" / greatest(len({t}), 1)"
    )


def type_token_ratio_toks(toks: Column) -> Column:
    return F.size(F.array_distinct(toks)) / F.greatest(F.size(toks), F.lit(1))


def type_token_ratio(col: Column) -> Column:
    """distinct tokens / tokens — low values flag word-soup repetition."""
    return type_token_ratio_toks(_toks(col))


def type_token_ratio_sql(c: str) -> str:
    t = _toks_sql(c)
    return f"len(list_distinct({t})) / greatest(len({t}), 1)"


def adjacent_duplicate_fraction_toks(toks: Column) -> Column:
    n = F.size(toks)
    dups = F.size(
        F.filter(
            F.sequence(F.lit(2), F.greatest(n, F.lit(2))),
            lambda i: F.try_element_at(toks, i) == F.try_element_at(toks, i - 1),
        )
    )
    return F.when(n > 1, dups / (n - F.lit(1))).otherwise(F.lit(0.0))


def adjacent_duplicate_fraction(col: Column) -> Column:
    """Fraction of token positions equal to their predecessor ("batch batch
    batch") — the consecutive-repetition gate.  element_at is 1-based in
    both engines' dialects used here."""
    return adjacent_duplicate_fraction_toks(_toks(col))


def adjacent_duplicate_fraction_sql(c: str) -> str:
    t = _toks_sql(c)
    n = f"len({t})"
    dups = (
        f"len(list_filter(range(2, greatest({n}, 2) + 1),"
        f" i -> list_extract({t}, i) = list_extract({t}, i - 1)))"
    )
    return f"CASE WHEN {n} > 1 THEN {dups} / ({n} - 1) ELSE 0.0 END"


def repeated_bigram_fraction_toks(toks: Column) -> Column:
    n = F.size(toks)
    bigrams = F.transform(
        F.sequence(F.lit(2), F.greatest(n, F.lit(2))),
        lambda i: F.concat_ws(" ", F.try_element_at(toks, i - 1), F.try_element_at(toks, i)),
    )
    nb = n - F.lit(1)
    return F.when(
        n > 1, (nb - F.size(F.array_distinct(bigrams))) / nb
    ).otherwise(F.lit(0.0))


def repeated_bigram_fraction(col: Column) -> Column:
    """1 - distinct_bigrams/bigrams — Gopher's duplicate-2-gram signal."""
    return repeated_bigram_fraction_toks(_toks(col))


def repeated_bigram_fraction_sql(c: str) -> str:
    t = _toks_sql(c)
    n = f"len({t})"
    bg = (
        f"list_transform(range(2, greatest({n}, 2) + 1),"
        f" i -> list_extract({t}, i - 1) || ' ' || list_extract({t}, i))"
    )
    return (
        f"CASE WHEN {n} > 1 THEN (({n} - 1) - len(list_distinct({bg})))"
        f" / ({n} - 1) ELSE 0.0 END"
    )


# Gopher §A1.1 gates, restated on this corpus's scale (the synthetic docs
# are short, so the word-count window is scaled down from [50, 100k]).
GOPHER_MIN_WORDS = 20
GOPHER_MAX_WORDS = 100_000
GOPHER_MEAN_WORD_RANGE = (3.0, 10.0)
GOPHER_MIN_ALPHA_RATIO = 0.80
GOPHER_MIN_STOPWORD_HITS = 2
GOPHER_MAX_ADJACENT_DUP = 0.20


def gopher_flags_toks(toks: Column) -> dict[str, Column]:
    """The individual pass/fail gates over a pre-split token array."""
    n = F.size(toks)
    mw = mean_word_length_toks(toks)
    stop_hits = F.size(F.filter(toks, _in_markers(LANG_MARKERS["en"])))
    return {
        "word_count_ok": (n >= GOPHER_MIN_WORDS) & (n <= GOPHER_MAX_WORDS),
        "mean_word_ok": (mw >= GOPHER_MEAN_WORD_RANGE[0]) & (mw <= GOPHER_MEAN_WORD_RANGE[1]),
        "alpha_ok": alpha_word_ratio_toks(toks) >= GOPHER_MIN_ALPHA_RATIO,
        "stopword_ok": stop_hits >= GOPHER_MIN_STOPWORD_HITS,
        "repetition_ok": adjacent_duplicate_fraction_toks(toks) <= GOPHER_MAX_ADJACENT_DUP,
    }


def gopher_flags(col: Column) -> dict[str, Column]:
    """The individual pass/fail gates; AND of all = keep."""
    return gopher_flags_toks(_toks(col))


def gopher_flags_sql(c: str) -> dict[str, str]:
    t = _toks_sql(c)
    n = f"len({t})"
    mw = mean_word_length_sql(c)
    markers = ", ".join(f"'{m}'" for m in LANG_MARKERS["en"])
    stop_hits = f"len(list_filter({t}, t -> t IN ({markers})))"
    lo, hi = GOPHER_MEAN_WORD_RANGE
    return {
        "word_count_ok": f"({n} >= {GOPHER_MIN_WORDS} AND {n} <= {GOPHER_MAX_WORDS})",
        "mean_word_ok": f"(({mw}) >= {lo} AND ({mw}) <= {hi})",
        "alpha_ok": f"({alpha_word_ratio_sql(c)}) >= {GOPHER_MIN_ALPHA_RATIO}",
        "stopword_ok": f"{stop_hits} >= {GOPHER_MIN_STOPWORD_HITS}",
        "repetition_ok": f"({adjacent_duplicate_fraction_sql(c)}) <= {GOPHER_MAX_ADJACENT_DUP}",
    }


def fingerprint64(col: Column) -> Column:
    """Document fingerprint: xxhash64 of normalized text (lowercase,
    whitespace-collapsed).  Spark-native 64-bit hash; used for exact-dup
    detection where md5 strings would double the shuffle width."""
    normalized = F.regexp_replace(F.lower(F.trim(col)), r"\s+", " ")
    return F.xxhash64(normalized)


def normalized_md5(col: Column) -> Column:
    """Portable fingerprint (md5 hex) of normalized text — matches DuckDB's
    md5() for oracle-checked dedup queries."""
    normalized = F.regexp_replace(F.lower(F.trim(col)), r"\s+", " ")
    return F.md5(normalized)


def normalized_md5_sql(c: str) -> str:
    return f"md5(regexp_replace(lower(trim({c})), '\\s+', ' ', 'g'))"


def md5_bucket(col: Column, seed: Column, m: int) -> Column:
    """Portable seeded bucket hash in [0, m): first 8 md5 hex digits of
    ``seed|value`` as an integer, mod m.  Byte-equal to md5_bucket_sql in
    DuckDB — the recipe behind the Bloom/count-min/LSH oracle twins."""
    h = F.conv(
        F.substring(F.md5(F.concat(seed.cast("string"), F.lit("|"), col)), 1, 8), 16, 10
    ).cast("long")
    return h % m


def md5_bucket_sql(c: str, seed: str, m: int) -> str:
    return (
        f"(CAST(('0x' || substr(md5(CAST({seed} AS VARCHAR) || '|' || {c}), 1, 8))"
        f" AS BIGINT) % {m})"
    )
