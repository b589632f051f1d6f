"""Text analysis for large-scale training-data pipelines.

Everything here is built-in JVM expressions (no Python UDFs in the row
path) so the operators scale linearly with executors. Each helper has a
DuckDB SQL twin (``*_sql``) used by the oracle checks.

Higher-order functions (``transform``, ``filter``, ``zip_with``,
``aggregate``) are ``CodegenFallback``: they run interpreted, and Spark
shares no subexpression inside their lambdas. So never reference a
per-row array expression such as ``tokens(col)`` inside a HOF lambda —
it is recomputed for every element, O(tokens²) a row. Reference a
column, a lambda variable bound by :func:`let`, or a shifted slice
(:func:`shifted_slices`, :func:`ngrams`) instead.

Operators: token counting (whitespace tokenizer), quality scoring
(length / alphabetic ratio / stopword ratio / mean token length),
n-gram-heuristic language ID, document fingerprinting (md5-based full
hash + min-shingle rolling fingerprint), token shingles.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F

from bergloom_spark.functions.hashing import HASH_MAX, hash64, hash64_sql

# Tiny per-language stopword lists for the language-ID heuristic.
# Deliberately small and hard-coded: the heuristic must be cheap, and
# oracle parity requires the exact same lists on both engines.
STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it", "that", "for"],
    "de": ["der", "die", "das", "und", "ist", "ein", "nicht", "mit", "sie", "zu"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "pas", "pour", "que"],
    "es": ["el", "la", "los", "las", "y", "es", "un", "una", "no", "por"],
}
LANG_ORDER = ["en", "de", "fr", "es"]  # deterministic tie-break order
ENGLISH_STOPWORDS = STOPWORDS["en"]


# ---------------------------------------------------------------------------
# tokens
# ---------------------------------------------------------------------------
def tokens(col: Column | str) -> Column:
    """Whitespace tokens with empties dropped (split-empty parity with
    DuckDB's ``string_split_regex`` is guaranteed by the filter)."""
    col = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(col, r"\s+"), lambda x: x != F.lit(""))


def tokens_sql(expr: str) -> str:
    return f"list_filter(string_split_regex({expr}, '\\s+'), x -> x <> '')"


def token_count(col: Column | str, toks: Column | None = None) -> Column:
    return F.size(toks if toks is not None else tokens(col))


def token_count_sql(expr: str) -> str:
    return f"len({tokens_sql(expr)})"


# GPT-style pre-tokenizer chunks: letter runs, single digits, punct
# runs. Kept POSIX-simple so Java regex (Spark) and RE2 (DuckDB)
# match byte-for-byte; real BPE merges happen downstream in a trainer,
# but chunk count is the standard cheap token-budget estimator.
SUBWORD_PATTERN = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]+"


def subword_tokens(col: Column | str) -> Column:
    """BPE-ish pre-tokenization (letter runs / digits / punct runs)."""
    col = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract_all(col, F.lit(SUBWORD_PATTERN), 0)


def subword_tokens_sql(expr: str) -> str:
    return f"regexp_extract_all({expr}, '{SUBWORD_PATTERN}')"


def subword_token_count(col: Column | str) -> Column:
    """Token-budget estimate: BPE output length ≥ this chunk count;
    the ratio is stable per language, which is all a size-based
    sampler/pricing pass needs."""
    return F.size(subword_tokens(col))


def subword_token_count_sql(expr: str) -> str:
    return f"len({subword_tokens_sql(expr)})"


# ---------------------------------------------------------------------------
# quality scoring
# ---------------------------------------------------------------------------
def alpha_ratio(col: Column | str) -> Column:
    """Fraction of characters that are ASCII letters or space."""
    col = F.col(col) if isinstance(col, str) else col
    kept = F.length(F.regexp_replace(col, "[^A-Za-z ]", ""))
    return kept.cast("double") / F.greatest(F.length(col), F.lit(1)).cast("double")


def alpha_ratio_sql(expr: str) -> str:
    return (
        f"length(regexp_replace({expr}, '[^A-Za-z ]', '', 'g'))::DOUBLE"
        f" / greatest(length({expr}), 1)::DOUBLE"
    )


def _word_list(words: list[str]) -> Column:
    return F.array(*[F.lit(w) for w in words])


def stopword_ratio(
    col: Column | str,
    stopwords: list[str] | None = None,
    toks: Column | None = None,
) -> Column:
    words = stopwords or ENGLISH_STOPWORDS
    toks = toks if toks is not None else tokens(col)
    hits = F.size(
        F.filter(toks, lambda x: F.array_contains(_word_list(words), F.lower(x)))
    )
    return hits.cast("double") / F.greatest(F.size(toks), F.lit(1)).cast("double")


def stopword_ratio_sql(expr: str, stopwords: list[str] | None = None) -> str:
    words = stopwords or ENGLISH_STOPWORDS
    lst = "[" + ", ".join(f"'{w}'" for w in words) + "]"
    toks = tokens_sql(expr)
    return (
        f"len(list_filter({toks}, x -> list_contains({lst}, lower(x))))::DOUBLE"
        f" / greatest(len({toks}), 1)::DOUBLE"
    )


def mean_token_length(col: Column | str, toks: Column | None = None) -> Column:
    toks = toks if toks is not None else tokens(col)
    total = F.aggregate(toks, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x))
    return total.cast("double") / F.greatest(F.size(toks), F.lit(1)).cast("double")


def mean_token_length_sql(expr: str) -> str:
    toks = tokens_sql(expr)
    return (
        f"list_sum(list_transform({toks}, x -> length(x)))::DOUBLE"
        f" / greatest(len({toks}), 1)::DOUBLE"
    )


def quality_score(col: Column | str, toks: Column | None = None) -> Column:
    """Composite [0,1] quality heuristic: alphabetic ratio, English
    stopword presence, and a token-length sweet spot (3-8 chars).

    Pass a materialized ``toks`` column in multi-score pipelines so the
    tokenizer runs once per row instead of once per term.
    """
    length_term = F.least(
        F.lit(1.0), token_count(col, toks).cast("double") / F.lit(50.0)
    )
    mtl = mean_token_length(col, toks)
    sweet = F.when((mtl >= 3.0) & (mtl <= 8.0), F.lit(1.0)).otherwise(F.lit(0.0))
    return F.round(
        0.35 * alpha_ratio(col)
        + 0.25 * F.least(F.lit(1.0), 4.0 * stopword_ratio(col, toks=toks))
        + 0.2 * length_term
        + 0.2 * sweet,
        6,
    )


def quality_score_sql(expr: str) -> str:
    mtl = mean_token_length_sql(expr)
    return (
        "round("
        f"0.35 * ({alpha_ratio_sql(expr)})"
        f" + 0.25 * least(1.0, 4.0 * ({stopword_ratio_sql(expr)}))"
        f" + 0.2 * least(1.0, ({token_count_sql(expr)})::DOUBLE / 50.0)"
        f" + 0.2 * (CASE WHEN ({mtl}) BETWEEN 3.0 AND 8.0 THEN 1.0 ELSE 0.0 END)"
        ", 6)"
    )


# ---------------------------------------------------------------------------
# language ID (stopword-hit heuristic)
# ---------------------------------------------------------------------------
def lang_scores(
    col: Column | str, toks: Column | None = None
) -> dict[str, Column]:
    toks = toks if toks is not None else tokens(col)
    # Lower each token ONCE, shared by every language's counter — the
    # per-language formulation would lower the whole array L times
    # (HOFs are interpreted, not codegen'd; redundant passes are the
    # dominant cost of this scorer). Values are unchanged, so the
    # DuckDB twin (which the optimizer there handles) stays as-is.
    lowered = F.transform(toks, lambda x: F.lower(x))

    # NB: bind the word list via closure, not a defaulted second lambda
    # parameter — F.filter treats a 2-arg lambda as (element, index).
    def hit_counter(words: list[str]):
        arr = _word_list(words)
        return F.size(F.filter(lowered, lambda x: F.array_contains(arr, x)))

    return {lang: hit_counter(words) for lang, words in STOPWORDS.items()}


def lang_id(col: Column | str, toks: Column | None = None) -> Column:
    """argmax over per-language stopword hits; ties break in LANG_ORDER;
    zero hits everywhere → 'und' (undetermined).

    Formulated as ``array_max`` over (score, -order, lang) structs so
    each per-language hit counter appears ONCE in the expression tree —
    the equivalent WHEN-chain re-inlines every counter into every
    branch, which quadruples both interpreted eval cost and the
    first-run JIT bill for this (higher-order, non-codegen) subtree.
    """
    scores = lang_scores(col, toks)
    entries = F.array(
        *[
            F.struct(
                scores[lang].alias("s"),
                F.lit(-i).alias("ni"),
                F.lit(lang).alias("lang"),
            )
            for i, lang in enumerate(LANG_ORDER)
        ]
    )
    best = F.array_max(entries)
    return F.when(best["s"] > 0, best["lang"]).otherwise(F.lit("und"))


def lang_id_sql(expr: str) -> str:
    toks = tokens_sql(expr)
    scores = {}
    for lang, words in STOPWORDS.items():
        lst = "[" + ", ".join(f"'{w}'" for w in words) + "]"
        scores[lang] = (
            f"len(list_filter({toks}, x -> list_contains({lst}, lower(x))))"
        )
    best = "greatest(" + ", ".join(scores[lang] for lang in LANG_ORDER) + ")"
    out = "'und'"
    for lang in reversed(LANG_ORDER):
        out = (
            f"CASE WHEN {scores[lang]} = {best} AND {best} > 0"
            f" THEN '{lang}' ELSE {out} END"
        )
    return out


# ---------------------------------------------------------------------------
# fingerprinting
# ---------------------------------------------------------------------------
def fingerprint64(col: Column | str) -> Column:
    """Whole-document content fingerprint (exact-dup detection)."""
    return hash64(col)


def fingerprint64_sql(expr: str) -> str:
    return hash64_sql(expr)


def canonical_text(col: Column | str) -> Column:
    """Dedup canonicalization: case-fold, strip non-alphanumerics (to
    spaces), collapse whitespace, trim — so trivial re-encodings
    ("Hello,  World!" vs "hello world") collapse to one exact-dup key.
    The standard pre-hash normalization in exact-dedup pipelines;
    fingerprint ``canonical_text(...)`` instead of the raw text."""
    col = F.col(col) if isinstance(col, str) else col
    lowered = F.lower(col)
    stripped = F.regexp_replace(lowered, r"[^a-z0-9]+", " ")
    return F.trim(F.regexp_replace(stripped, r" +", " "))


def canonical_text_sql(expr: str) -> str:
    return (
        f"trim(regexp_replace(regexp_replace(lower({expr}), "
        f"'[^a-z0-9]+', ' ', 'g'), ' +', ' ', 'g'))"
    )


def let(value: Column, body: Callable[[Column], Column]) -> Column:
    """``body(v)`` with ``v`` bound to ``value``, evaluated once per row.

    Spark shares no subexpression inside a higher-order function, so an
    expression named twice under one is computed twice. Binding it to
    the lambda variable of a one-element ``transform`` computes it once."""
    return F.transform(F.array(value), body)[0]


def shifted_slices(toks: Column, n: int) -> list[Column]:
    """The ``n`` slices ``slice(toks, j, cnt)`` for j = 1..n, with
    cnt = size - n + 1 clamped at 0: zipped element-wise they give the
    contiguous n-token windows of ``toks``. NULL ``toks`` → NULLs."""
    cnt = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    return [F.slice(toks, j, cnt) for j in range(1, n + 1)]


def ngrams(toks: Column, n: int) -> Column:
    """Contiguous n-token windows of ``toks``, joined by single spaces.

    Folds ``zip_with`` over :func:`shifted_slices` of ``toks``, bound
    once per row by :func:`let`, so a row costs one evaluation of
    ``toks`` plus O(n · tokens). Fewer than ``n`` tokens, or NULL
    ``toks``, yields ``[]``."""

    def fold(t: Column) -> Column:
        parts = shifted_slices(t, n)
        out = parts[0]
        for part in parts[1:]:
            out = F.zip_with(out, part, lambda a, b: F.concat_ws(" ", a, b))
        return F.coalesce(out, F.array().cast("array<string>"))

    return let(toks, fold)


def shingles(col: Column | str, n: int = 3) -> Column:
    """n-token shingles joined by single spaces (rolling window), built
    by :func:`ngrams` from shifted slices of one token array. Docs
    shorter than ``n`` tokens and NULL docs yield ``[]``, as the DuckDB
    twin does."""
    return ngrams(tokens(col), n)


def shingles_sql(expr: str, n: int = 3) -> str:
    toks = tokens_sql(expr)
    return (
        f"list_transform(range(1, greatest(len({toks}) - {n - 1}, 0) + 1),"
        f" i -> array_to_string(list_slice({toks}, i, i + {n - 1}), ' '))"
    )


def min_shingle_fingerprint(col: Column | str, n: int = 3) -> Column:
    """Rolling-hash document fingerprint: min hash over n-token shingles
    (winnowing-style; robust to small edits unlike fingerprint64)."""
    sh = shingles(col, n)
    return F.coalesce(
        F.array_min(F.transform(sh, lambda s: hash64(s))),
        F.lit(HASH_MAX),
    )


def min_shingle_fingerprint_sql(expr: str, n: int = 3) -> str:
    sh = shingles_sql(expr, n)
    return (
        f"coalesce(list_min(list_transform({sh}, s -> {hash64_sql('s')})),"
        f" {HASH_MAX})"
    )


# ---------------------------------------------------------------------------
# repetition metrics (Gopher-rule family: Rae et al. 2021, §A1.1 —
# "repetition signals" like duplicate-line and top-n-gram fractions)
# ---------------------------------------------------------------------------
def top_ngram_frac(col: Column | str, n: int = 2) -> Column:
    """Fraction of a doc's n-grams taken by its single most frequent
    n-gram — high values mark boilerplate/templated text that quality
    filters drop before training.

    Whole expression is a JVM higher-order fold over the per-row
    shingle array (interpreted, zero shuffle) — per-doc work, never
    cross-doc.
    """
    sh = shingles(col, n)
    # Longest equal-run over the SORTED shingle array = max frequency.
    # O(t log t) per doc vs the naive O(distinct × total) count-each-
    # distinct formulation (~20× on 150-token docs); same value.
    def step(acc, x):
        is_new = acc.prev.isNull() | (acc.prev != x)
        run = F.when(is_new, F.lit(1)).otherwise(acc.run + 1)
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.greatest(acc.best, run).alias("best"),
        )

    top = F.aggregate(
        F.array_sort(sh),
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
        ),
        step,
        lambda acc: acc.best,
    )
    return F.round(
        F.coalesce(
            F.nullif(top, F.lit(0)).cast("double")
            / F.greatest(F.size(sh), F.lit(1)),
            F.lit(0.0),
        ),
        6,
    )


def top_ngram_frac_sql(expr: str, n: int = 2) -> str:
    """DuckDB twin. Histogram-based (O(total), not O(distinct×total)):
    DuckDB re-evaluates a textually repeated list expression inside
    every lambda invocation, so the filter-count formulation goes
    quadratic-with-recompute; same counts, ~30× faster. Pass an
    already-materialized shingle column (via a CTE) as ``expr_is_list``
    for another large constant factor."""
    sh = shingles_sql(expr, n)
    return top_ngram_frac_sql_on_list(sh)


def top_ngram_frac_sql_on_list(sh: str) -> str:
    return (
        f"round(coalesce(list_max(map_values(list_aggregate({sh},"
        f" 'histogram')))::DOUBLE / greatest(len({sh}), 1), 0.0), 6)"
    )


def char_entropy(col: Column | str) -> Column:
    """Shannon entropy of the doc's character distribution, bits/char
    — the compression-ratio quality proxy (CCNet/RefinedWeb-style)
    without a zlib dependency: near-zero marks repeated filler, ~3-4.5
    is natural text, higher + uniform marks random noise. Pipelines
    band-pass it like the other quality signals.

    H = (ln n − Σ_c cnt_c·ln cnt_c / n) / ln 2 via one sorted
    equal-run fold per doc (the ``top_ngram_frac`` idiom): O(t log t)
    in the doc's own characters, zero shuffle, codegen'd. Rounded to
    6; the oracle's histogram formulation sums the same integer-count
    terms in a different order (≪ 1e-6 drift at doc sizes)."""
    col = F.col(col) if isinstance(col, str) else col
    chars = F.filter(F.split(col, ""), lambda x: x != F.lit(""))

    def run_nlogn(run):
        d = run.cast("double")
        return d * F.log(d)

    def step(acc, x):
        is_new = acc.prev.isNull() | (acc.prev != x)
        closed = F.when(
            is_new & (acc.run > 0), acc.s + run_nlogn(acc.run)
        ).otherwise(acc.s)
        run = F.when(is_new, F.lit(1)).otherwise(acc.run + 1)
        return F.struct(
            x.alias("prev"), run.alias("run"), closed.alias("s")
        )

    s = F.aggregate(
        F.array_sort(chars),
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0.0).alias("s"),
        ),
        step,
        lambda acc: F.when(
            acc.run > 0, acc.s + run_nlogn(acc.run)
        ).otherwise(acc.s),
    )
    n = F.size(chars).cast("double")
    import math as _math

    return F.round(
        F.when(
            F.size(chars) > 0,
            (F.log(n) - s / n) / F.lit(_math.log(2.0)),
        ).otherwise(F.lit(0.0)),
        6,
    )


def char_entropy_sql(expr: str) -> str:
    """DuckDB twin — histogram counts instead of the run fold (same
    integer terms; see :func:`top_ngram_frac_sql` for why the
    filter-count formulation is avoided)."""
    chars = (
        f"list_transform(range(1, length({expr}) + 1),"
        f" i -> substr({expr}, i, 1))"
    )
    counts = f"map_values(list_aggregate({chars}, 'histogram'))"
    s = f"list_sum(list_transform({counts}, c -> c::DOUBLE * ln(c::DOUBLE)))"
    return (
        f"round(CASE WHEN length({expr}) > 0 THEN"
        f" (ln(length({expr})::DOUBLE) - ({s}) / length({expr}))"
        f" / ln(2.0) ELSE 0.0 END, 6)"
    )


def dup_ngram_frac(col: Column | str, n: int = 3) -> Column:
    """Fraction of a doc's n-grams that are repeats of an earlier one
    (1 - distinct/total): the duplicate-n-gram share, the other half of
    the Gopher repetition family. Same per-doc, shuffle-free shape."""
    sh = shingles(col, n)
    frac = F.lit(1.0) - F.size(F.array_distinct(sh)).cast("double") / F.greatest(
        F.size(sh), F.lit(1)
    )
    return F.round(F.when(F.size(sh) == 0, F.lit(0.0)).otherwise(frac), 6)


def dup_ngram_frac_sql(expr: str, n: int = 3) -> str:
    return dup_ngram_frac_sql_on_list(shingles_sql(expr, n))


def dup_ngram_frac_sql_on_list(sh: str) -> str:
    return (
        f"round(CASE WHEN len({sh}) = 0 THEN 0.0"
        f" ELSE 1.0 - len(list_distinct({sh}))::DOUBLE"
        f" / greatest(len({sh}), 1) END, 6)"
    )


# ---------------------------------------------------------------------------
# chunking (overlapping character windows for embedding / RAG prep)
# ---------------------------------------------------------------------------
def chunk_count(col: Column | str, chunk_chars: int, overlap: int) -> Column:
    """Number of overlapping windows covering the doc (≥ 1; a short or
    empty doc yields exactly one chunk)."""
    col = F.col(col) if isinstance(col, str) else col
    step = chunk_chars - overlap
    return F.greatest(
        F.ceil((F.length(col) - F.lit(overlap)) / F.lit(step)).cast("long"),
        F.lit(1).cast("long"),
    )


def chunk_documents(
    df,
    text_col: str,
    id_col: str,
    chunk_chars: int = 500,
    overlap: int = 100,
):
    """Explode each doc into overlapping character windows: one row per
    (doc, chunk_id) with the chunk text. Scan-side explode — at 100 TB
    the expansion streams through the scan stage with no shuffle; chunk
    count is a per-row expression, never driver state."""
    if overlap >= chunk_chars:
        raise ValueError("overlap must be smaller than chunk_chars")
    step = chunk_chars - overlap
    n = chunk_count(text_col, chunk_chars, overlap)
    idx = F.explode(F.sequence(F.lit(0).cast("long"), n - 1))
    return (
        df.select(F.col(id_col), F.col(text_col), idx.alias("chunk_id"))
        .select(
            id_col,
            "chunk_id",
            F.col(text_col)
            .substr(
                (F.col("chunk_id") * step + 1).cast("int"),
                F.lit(chunk_chars).cast("int"),
            )
            .alias("chunk_text"),
        )
        .withColumn("chunk_len", F.length("chunk_text").cast("long"))
    )


def chunk_documents_sql(
    table: str,
    text_col: str,
    id_col: str,
    chunk_chars: int = 500,
    overlap: int = 100,
) -> str:
    """DuckDB twin (lateral range + substr; 1-based, length-clamped
    substring semantics match Spark's)."""
    step = chunk_chars - overlap
    n = (
        f"greatest(ceil((length({text_col}) - {overlap})::DOUBLE"
        f" / {step})::BIGINT, 1)"
    )
    # scalar range() + unnest, not a LATERAL table function — DuckDB's
    # range table function rejects lateral column parameters.
    return f"""
        SELECT {id_col}, i::BIGINT AS chunk_id,
               substr({text_col}, (i * {step} + 1)::INTEGER,
                      {chunk_chars}) AS chunk_text,
               length(substr({text_col}, (i * {step} + 1)::INTEGER,
                      {chunk_chars}))::BIGINT AS chunk_len
        FROM (SELECT {id_col}, {text_col},
                     unnest(range(0, {n})) AS i
              FROM {table})
    """


# ---------------------------------------------------------------------------
# PII redaction (regex family chosen for Java-regex / RE2 parity)
# ---------------------------------------------------------------------------
# Patterns restricted to the dialect subset Spark (java.util.regex) and
# DuckDB (RE2) evaluate identically: character classes, bounded repeats,
# \b word boundaries — no lookaround, no backrefs.
PII_PATTERNS: dict[str, tuple[str, str]] = {
    "email": (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    "ipv4": (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    "phone": (r"\b\d{3}[-. ]\d{3,4}[-. ]\d{4}\b", "<PHONE>"),
}


# Markup stripping (web-corpus cleaning): patterns are deliberately
# conservative constructs that Java regex (Spark) and RE2 (DuckDB)
# interpret identically — no \s (the two engines' \s classes differ
# on vertical tab), no backreferences, no lookaround.
_MARKUP_STEPS: list[tuple[str, str]] = [
    # script/style blocks go first, content and all ((?s) dot-all —
    # the inline flag both Java regex and RE2 support; non-greedy
    # body; closing tag required)
    (r"(?s)<script[^>]*>.*?</script>", " "),
    (r"(?s)<style[^>]*>.*?</style>", " "),
    (r"(?s)<!--.*?-->", " "),  # comments
    (r"<[^>]*>", " "),  # any remaining tag
]
_ENTITY_STEPS: list[tuple[str, str]] = [
    (r"&nbsp;", " "),
    (r"&lt;", "<"),
    (r"&gt;", ">"),
    (r"&quot;", '"'),
    (r"&#39;", "'"),
    (r"&amp;", "&"),  # last, so &amp;lt; decodes to &lt; not <
]


def strip_markup(col: Column | str) -> Column:
    """HTML/markup → text (the web-corpus cleaning pass): drop
    script/style/comment blocks with their content, strip remaining
    tags, decode the common entities, collapse runs of whitespace.
    Pure scan-side ``regexp_replace`` chain — zero shuffle, zero
    Python, and every pattern is engine-portable (explicit whitespace
    class, no ``\\s``: Java and RE2 disagree on vertical tab)."""
    out = F.col(col) if isinstance(col, str) else col
    for pat, repl in _MARKUP_STEPS + _ENTITY_STEPS:
        out = F.regexp_replace(out, pat, repl)
    out = F.regexp_replace(out, r"[ \t\n\r\f]+", " ")
    return F.trim(out)


def strip_markup_sql(expr: str) -> str:
    """DuckDB twin — same patterns, same order, global flag."""
    out = expr
    for pat, repl in _MARKUP_STEPS + _ENTITY_STEPS:
        out = (
            f"regexp_replace({out}, '{pat}', "
            f"'{repl.replace(chr(39), chr(39) * 2)}', 'g')"
        )
    return f"trim(regexp_replace({out}, '[ \\t\\n\\r\\f]+', ' ', 'g'))"


def redact_pii(col: Column | str) -> Column:
    """Replace emails, IPv4 addresses, and phone-shaped numbers with
    typed placeholder tokens. Pure scan-side ``regexp_replace`` chain
    (JVM regex, whole-stage codegen) applied in a fixed order — email
    first, so an address's local part is never re-matched as a phone.
    At 100 TB: zero shuffle, zero Python."""
    out = F.col(col) if isinstance(col, str) else col
    for pat, token in PII_PATTERNS.values():
        out = F.regexp_replace(out, pat, token)
    return out


def redact_pii_sql(expr: str) -> str:
    """DuckDB twin — same patterns, same order, global flag."""
    out = expr
    for pat, token in PII_PATTERNS.values():
        out = f"regexp_replace({out}, '{pat}', '{token}', 'g')"
    return out


def pii_count(col: Column | str, kind: str) -> Column:
    """Occurrences of one PII kind (pre-redaction)."""
    pat = PII_PATTERNS[kind][0]
    target = F.col(col) if isinstance(col, str) else col
    return F.regexp_count(target, F.lit(pat)).cast("long")


def pii_count_sql(expr: str, kind: str) -> str:
    pat = PII_PATTERNS[kind][0]
    return f"len(regexp_extract_all({expr}, '{pat}'))::BIGINT"


# ---------------------------------------------------------------------------
# Gopher-style rule battery (document-level quality gates)
# ---------------------------------------------------------------------------
# Rule thresholds adapted from the Gopher paper's C4/MassiveWeb filters
# (Rae et al. 2021, table A1): word-count bounds, mean-word-length
# sweet spot, symbol/alpha share, minimum stopword evidence, and the
# repetition caps that top_ngram_frac / dup_ngram_frac implement. Every
# rule is a scan-side codegen expression over one shared token array —
# the full battery is a single map pass at any corpus size.
GOPHER_MIN_WORDS = 25
GOPHER_MAX_WORDS = 100_000
GOPHER_MEAN_LEN_LO = 3.0
GOPHER_MEAN_LEN_HI = 10.0
GOPHER_MIN_ALPHA = 0.8
GOPHER_MIN_STOP_HITS = 2
GOPHER_MAX_TOP2 = 0.20
GOPHER_MAX_DUP3 = 0.60


def gopher_flags(
    col: Column | str, toks: Column | None = None
) -> dict[str, Column]:
    """Per-rule booleans + overall ``keep``, as named Columns.

    Pass a materialized ``toks`` column so the tokenizer runs once per
    row; every rule below folds over that one array in the same
    whole-stage-codegen stage (no shuffle, no Python).
    """
    toks = toks if toks is not None else tokens(col)
    n = token_count(col, toks)
    mtl = mean_token_length(col, toks)
    stop_hits = F.size(
        F.filter(
            toks,
            lambda x: F.array_contains(_word_list(ENGLISH_STOPWORDS), F.lower(x)),
        )
    )
    flags = {
        "pass_words": (n >= GOPHER_MIN_WORDS) & (n <= GOPHER_MAX_WORDS),
        "pass_mean_len": (mtl >= GOPHER_MEAN_LEN_LO) & (mtl <= GOPHER_MEAN_LEN_HI),
        "pass_alpha": alpha_ratio(col) >= GOPHER_MIN_ALPHA,
        "pass_stopwords": stop_hits >= GOPHER_MIN_STOP_HITS,
        "pass_rep_2gram": top_ngram_frac(col, 2) <= GOPHER_MAX_TOP2,
        "pass_rep_3gram": dup_ngram_frac(col, 3) <= GOPHER_MAX_DUP3,
    }
    keep = None
    for c in flags.values():
        keep = c if keep is None else (keep & c)
    flags["keep"] = keep
    return flags


def gopher_flags_sql(expr: str) -> dict[str, str]:
    """DuckDB twins of :func:`gopher_flags`, same rule names."""
    toks = tokens_sql(expr)
    n = f"len({toks})"
    mtl = mean_token_length_sql(expr)
    lst = "[" + ", ".join(f"'{w}'" for w in ENGLISH_STOPWORDS) + "]"
    stop_hits = f"len(list_filter({toks}, x -> list_contains({lst}, lower(x))))"
    flags = {
        "pass_words": f"({n} BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS})",
        "pass_mean_len": f"(({mtl}) BETWEEN {GOPHER_MEAN_LEN_LO} AND {GOPHER_MEAN_LEN_HI})",
        "pass_alpha": f"(({alpha_ratio_sql(expr)}) >= {GOPHER_MIN_ALPHA})",
        "pass_stopwords": f"({stop_hits} >= {GOPHER_MIN_STOP_HITS})",
        "pass_rep_2gram": f"(({top_ngram_frac_sql(expr, 2)}) <= {GOPHER_MAX_TOP2})",
        "pass_rep_3gram": f"(({dup_ngram_frac_sql(expr, 3)}) <= {GOPHER_MAX_DUP3})",
    }
    flags["keep"] = "(" + " AND ".join(flags.values()) + ")"
    return flags


# ---------------------------------------------------------------------------
# readability (Flesch reading ease with vowel-group syllables)
# ---------------------------------------------------------------------------
def syllable_count(col: Column | str, toks: Column | None = None) -> Column:
    """Approximate syllables: vowel groups ([aeiouy]+, case-folded) per
    token, summed — the standard cheap proxy (no CMU dict at 100 TB)."""
    toks = toks if toks is not None else tokens(col)
    return F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, t: acc
        + F.size(F.regexp_extract_all(F.lower(t), F.lit("[aeiouy]+"), 0)),
    )


def syllable_count_sql(expr: str) -> str:
    toks = tokens_sql(expr)
    return (
        f"coalesce(list_sum(list_transform({toks}, "
        f"t -> len(regexp_extract_all(lower(t), '[aeiouy]+')))), 0)::BIGINT"
    )


def sentence_count(col: Column | str) -> Column:
    """Sentences ≈ non-empty [.!?]-delimited segments, floored at 1."""
    col = F.col(col) if isinstance(col, str) else col
    segs = F.filter(
        F.split(col, r"[.!?]+"), lambda s: F.trim(s) != F.lit("")
    )
    return F.greatest(F.size(segs).cast("long"), F.lit(1).cast("long"))


def sentence_count_sql(expr: str) -> str:
    return (
        f"greatest(len(list_filter(string_split_regex({expr}, '[.!?]+'), "
        f"s -> trim(s) <> '')), 1)::BIGINT"
    )


def flesch_reading_ease(col: Column | str, toks: Column | None = None) -> Column:
    """Flesch reading ease: 206.835 − 1.015·(words/sentences)
    − 84.6·(syllables/words); rounded to 4 (repo float convention).
    Single scan-side expression over the shared token array."""
    toks = toks if toks is not None else tokens(col)
    words = F.greatest(F.size(toks).cast("double"), F.lit(1.0))
    sents = sentence_count(col).cast("double")
    sylls = syllable_count(col, toks=toks).cast("double")
    return F.round(
        F.lit(206.835) - F.lit(1.015) * (words / sents) - F.lit(84.6) * (sylls / words),
        4,
    )


def flesch_reading_ease_sql(expr: str) -> str:
    toks = tokens_sql(expr)
    words = f"greatest(len({toks}), 1)::DOUBLE"
    return (
        f"round(206.835 - 1.015 * (({words}) / ({sentence_count_sql(expr)})::DOUBLE)"
        f" - 84.6 * (({syllable_count_sql(expr)})::DOUBLE / ({words})), 4)"
    )
