"""Text retrieval and fuzzy matching over the documents corpus.

Training-data-pipeline extensions (SURVEY.md §2 extension surface):

- :func:`bm25_score` — BM25 ranking for a bounded query-term set,
  expressed entirely as per-row higher-order-function expressions plus
  ONE global 1-row aggregate (N, avgdl, per-term document frequency)
  broadcast back. No explode, no per-term shuffle: at 100 TB the corpus
  is scanned once and the only exchange is the final top-k.
- :func:`fuzzy_match` — bounded-probe Levenshtein matching with a
  length-band prefilter so the expensive edit-distance only runs on
  candidates that could possibly qualify.

Both have exact DuckDB twins (``bm25_sql``) for oracle checking; the
arithmetic is written in the same left-to-right order on both engines
so rounded scores are bit-identical.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bergloom_spark.functions import text as TX

BM25_K1 = 1.2
BM25_B = 0.75


def _tf(toks: Column, term: str) -> Column:
    return F.size(F.filter(toks, lambda x: x == F.lit(term)))


def bm25_score(
    docs: DataFrame,
    query_terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = BM25_K1,
    b: float = BM25_B,
    top_k: int = 10,
) -> DataFrame:
    """Top-``top_k`` docs by BM25 for a fixed query-term list.

    Output: (doc_id, bm25) ordered by rounded score desc, doc_id asc —
    ordering on the ROUNDED score keeps the ranking identical across
    engines whose float sums differ in the last ulp.
    """
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    toks = TX.tokens(F.col(text_col))
    base = docs.select(
        F.col(id_col).alias("doc_id"), toks.alias("__toks")
    ).withColumn("__dl", F.size("__toks"))
    for i, t in enumerate(query_terms):
        base = base.withColumn(f"__tf_{i}", _tf(F.col("__toks"), t))
    base = base.drop("__toks")
    stats = base.agg(
        F.count(F.lit(1)).alias("__n"),
        F.avg("__dl").alias("__avgdl"),
        *[
            F.sum((F.col(f"__tf_{i}") > 0).cast("long")).alias(f"__df_{i}")
            for i in range(len(query_terms))
        ],
    )
    scored = base.join(F.broadcast(stats))
    score: Column | None = None
    for i in range(len(query_terms)):
        tf = F.col(f"__tf_{i}").cast("double")
        df_t = F.col(f"__df_{i}").cast("double")
        idf = F.log(
            (F.col("__n") - df_t + F.lit(0.5)) / (df_t + F.lit(0.5)) + F.lit(1.0)
        )
        term = (
            idf
            * tf
            * F.lit(k1 + 1.0)
            / (
                tf
                + F.lit(k1)
                * (
                    F.lit(1.0 - b)
                    + F.lit(b) * F.col("__dl").cast("double") / F.col("__avgdl")
                )
            )
        )
        score = term if score is None else score + term
    return (
        scored.select("doc_id", F.round(score, 6).alias("bm25"))
        .filter(F.col("bm25") > 0)
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(top_k)
    )


def bm25_sql(
    query_terms: list[str],
    text_expr: str = "text",
    id_expr: str = "doc_id",
    table: str = "documents",
    k1: float = BM25_K1,
    b: float = BM25_B,
    top_k: int = 10,
) -> str:
    """DuckDB twin of :func:`bm25_score` — same tokenizer, same term
    order, same arithmetic shape, rounded the same way."""
    tf_cols = ",\n                 ".join(
        f"len(list_filter(toks, x -> x = '{t}')) AS tf_{i}"
        for i, t in enumerate(query_terms)
    )
    df_cols = ",\n                 ".join(
        f"sum(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END)::BIGINT AS df_{i}"
        for i in range(len(query_terms))
    )
    score_terms = " + ".join(
        f"(ln((n - df_{i} + 0.5) / (df_{i} + 0.5) + 1.0)"
        f" * tf_{i} * {k1 + 1.0!r}"
        f" / (tf_{i} + {k1!r} * ({1.0 - b!r} + {b!r} * dl / avgdl)))"
        for i in range(len(query_terms))
    )
    return f"""
        WITH base AS (
          SELECT {id_expr} AS doc_id, {TX.tokens_sql(text_expr)} AS toks
          FROM {table}),
        feat AS (
          SELECT doc_id, len(toks) AS dl,
                 {tf_cols}
          FROM base),
        stats AS (
          SELECT count(*) AS n, avg(dl) AS avgdl,
                 {df_cols}
          FROM feat)
        SELECT doc_id, round({score_terms}, 6) AS bm25
        FROM feat, stats
        WHERE round({score_terms}, 6) > 0
        ORDER BY bm25 DESC, doc_id ASC
        LIMIT {top_k}
    """


def tfidf_top_terms(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
) -> DataFrame:
    """Top-``k`` terms per document by TF-IDF (keyword extraction /
    doc-signature step of a corpus pipeline).

    score = tf × (ln((N + 1) / (df + 1)) + 1), rounded to 6 — the
    smoothed-idf variant, computed in the same float op order as the
    DuckDB twin (ln parity across engines is already exercised by the
    BM25 oracle). Ties broken by term asc so the top-k set is unique.

    Plan at scale: explode → ONE map-side-combined aggregation to
    per-(doc,term) tf, then df as ``count() OVER (PARTITION BY term)``
    on that same table — a window, not a self-join, so the exploded
    corpus is scanned and aggregated exactly once. Corpus size N
    arrives via a broadcast 1-row aggregate, never a driver collect.
    The final top-k window partitions by doc_id (bounded groups: a
    doc's distinct terms).
    """
    from pyspark.sql import Window

    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(TX.tokens(F.col(text_col))).alias("term"),
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    tf = tf.withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("term"))
    )
    n = docs.agg(F.count(F.lit(1)).alias("__n"))
    scored = tf.join(F.broadcast(n)).select(
        "doc_id",
        "term",
        F.round(
            F.col("tf").cast("double")
            * (
                F.log(
                    (F.col("__n").cast("double") + F.lit(1.0))
                    / (F.col("df").cast("double") + F.lit(1.0))
                )
                + F.lit(1.0)
            ),
            6,
        ).alias("tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("doc_id", "term", "tfidf", "rank")
    )


def tfidf_sql(
    text_expr: str = "text",
    id_expr: str = "doc_id",
    table: str = "documents",
    k: int = 3,
) -> str:
    """DuckDB twin of :func:`tfidf_top_terms`."""
    return f"""
        WITH toks AS (
          SELECT {id_expr} AS doc_id, unnest({TX.tokens_sql(text_expr)}) AS term
          FROM {table}),
        tf AS (
          SELECT doc_id, term, count(*)::BIGINT AS tf
          FROM toks GROUP BY doc_id, term),
        dfreq AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
        n AS (SELECT count(*)::BIGINT AS n FROM {table}),
        scored AS (
          SELECT doc_id, term,
                 round(tf::DOUBLE * (ln((n::DOUBLE + 1.0) / (df::DOUBLE + 1.0))
                       + 1.0), 6) AS tfidf
          FROM tf JOIN dfreq USING (term) CROSS JOIN n),
        ranked AS (
          SELECT *, row_number() OVER (
            PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rank
          FROM scored)
        SELECT doc_id, term, tfidf, rank FROM ranked WHERE rank <= {k}
    """


def corpus_top_ngrams(
    docs: DataFrame,
    text_col: str = "text",
    n: int = 2,
    top_k: int = 50,
) -> DataFrame:
    """Corpus-wide most frequent n-grams (phrase mining / boilerplate
    discovery: the recurring n-grams a cleaning pass should inspect).

    Pure integer pipeline — explode per-row shingles, one map-side-
    combined count, one top-k — so cross-engine parity is exact with no
    float concerns. Rank (count desc, ngram asc) makes the cut
    deterministic. At 100 TB the count agg shuffles only distinct
    n-grams after partial aggregation; the final top-k is a single
    ordered limit (Spark's TakeOrderedAndProject — per-partition heap,
    driver merges top_k × n_partitions rows, no global sort).
    """
    grams = docs.select(
        F.explode(TX.shingles(F.col(text_col), n)).alias("ngram")
    )
    counts = grams.groupBy("ngram").agg(F.count(F.lit(1)).alias("n_occurrences"))
    return (
        counts.orderBy(F.desc("n_occurrences"), F.asc("ngram"))
        .limit(top_k)
        .select(
            "ngram",
            "n_occurrences",
        )
    )


def corpus_top_ngrams_sql(
    text_expr: str = "text",
    table: str = "documents",
    n: int = 2,
    top_k: int = 50,
) -> str:
    """DuckDB twin of :func:`corpus_top_ngrams`."""
    return f"""
        WITH grams AS (
          SELECT unnest({TX.shingles_sql(text_expr, n)}) AS ngram
          FROM {table})
        SELECT ngram, count(*)::BIGINT AS n_occurrences
        FROM grams GROUP BY ngram
        ORDER BY n_occurrences DESC, ngram ASC
        LIMIT {top_k}
    """


def fuzzy_match(
    corpus: DataFrame,
    probes: DataFrame,
    text_col: str,
    id_col: str,
    probe_text_col: str,
    probe_id_col: str,
    max_dist: int = 2,
) -> DataFrame:
    """All (probe, corpus) pairs within Levenshtein ``max_dist``.

    Probe side must be bounded (broadcast). The length-band prefilter
    (|len(a) − len(b)| ≤ d, a lower bound on edit distance) is a cheap
    codegen comparison that prunes most of the corpus before the
    O(len²) Levenshtein runs. Output: (probe_id, match_id, dist),
    self-matches excluded.
    """
    c = corpus.select(
        F.col(id_col).alias("match_id"), F.col(text_col).alias("__mt")
    )
    p = probes.select(
        F.col(probe_id_col).alias("probe_id"),
        F.col(probe_text_col).alias("__pt"),
    )
    joined = c.crossJoin(F.broadcast(p)).filter(
        (F.abs(F.length("__mt") - F.length("__pt")) <= max_dist)
        & (F.col("match_id") != F.col("probe_id"))
    )
    return (
        joined.select(
            "probe_id",
            "match_id",
            F.levenshtein(F.col("__mt"), F.col("__pt")).alias("dist"),
        )
        .filter(F.col("dist") <= max_dist)
    )


def keyword_tag_counts(
    df: DataFrame,
    text_col: str,
    id_col: str,
    tags: dict[str, list[str]],
) -> DataFrame:
    """Per-doc occurrence counts for named phrase lists (FlashText-
    style tagging): ``tags`` maps a tag name to token-aligned phrases
    ("bad word", "click here"); output is one long column per tag —
    the blocklist/topic gate every curation pipeline runs.

    Matching is whitespace-token-aligned and overlapping occurrences
    count (each n-gram start position is tested independently).

    Scale shape: phrases ride the plan as literals and each phrase
    counts over its length's n-gram array (``TX.ngrams``, linear in
    tokens) in one map pass — zero shuffles, zero Python. Right for bounded dictionaries
    (10²-10⁴ phrases); a 10⁶-phrase dictionary wants the explode +
    broadcast-join layout of ``classifier.score_with_weight_table``
    instead.
    """
    toks = TX.tokens(text_col)
    lengths = sorted(
        {len(p.split()) for phrases in tags.values() for p in phrases}
    )

    # Single-arg closure: a bound-default second parameter would make
    # Spark pass the (element, index) HOF form and bind the index over
    # the default.
    def _eq_fn(phrase):
        return lambda x: x == F.lit(phrase)

    # Unigrams are the tokens themselves: NULL text keeps a NULL count
    # for a tag with a one-token phrase, as in the DuckDB twin.
    grams = {
        length: toks if length == 1 else TX.ngrams(toks, length)
        for length in lengths
    }
    cols = [F.col(id_col).alias("doc_id")]
    for tag, phrases in tags.items():
        total = None
        for p in phrases:
            length = len(p.split())
            cnt = F.size(F.filter(grams[length], _eq_fn(p)))
            total = cnt if total is None else total + cnt
        cols.append(
            (total if total is not None else F.lit(0)).cast("long").alias(tag)
        )
    return df.select(*cols)


def keyword_tag_counts_sql(
    table: str,
    text_expr: str,
    id_expr: str,
    tags: dict[str, list[str]],
) -> str:
    """DuckDB twin of :func:`keyword_tag_counts` (same grams, same
    overlap semantics)."""
    toks = TX.tokens_sql(text_expr)

    def gram(length: int) -> str:
        if length == 1:
            return toks
        return (
            f"CASE WHEN len({toks}) >= {length} THEN "
            f"list_transform(range(1, len({toks}) - {length - 2}), "
            f"i -> array_to_string(list_slice({toks}, i, i + {length - 1}), ' ')) "
            f"ELSE [] END"
        )

    parts = []
    for tag, phrases in tags.items():
        terms = []
        for p in phrases:
            esc = p.replace("'", "''")
            terms.append(
                f"len(list_filter({gram(len(p.split()))}, x -> x = '{esc}'))"
            )
        expr = " + ".join(terms) if terms else "0"
        parts.append(f"({expr})::BIGINT AS \"{tag}\"")
    cols = ", ".join(parts)
    return f"SELECT {id_expr} AS doc_id, {cols} FROM {table}"
