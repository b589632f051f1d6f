"""Corpus-derived unigram language-model scoring.

The classic cheap quality signal a CCNet-style pipeline computes with a
pretrained LM is approximated here with the corpus's OWN unigram
distribution: two aggregations and one join, all built-in expressions.

Operators:
- :func:`unigram_logprob` — per-document mean log10 unigram
  probability (how "typical" a document's vocabulary is for the
  corpus). Low scores flag gibberish / vocabulary outliers, high
  scores flag stopword soup; pipelines keep the middle band.
- :func:`source_unigram_kl` — per-source KL(source ‖ corpus) unigram
  divergence in bits: which sources' vocabulary distributions drift
  from the mixture. The mixture-diagnostics counterpart: resampling
  weights (see ``mixture_resample``) change these numbers.

Scale shape (100 TB corpus):
- Token explosion happens scan-side; the vocab aggregation is
  map-side-combinable (distinct tokens per task, not rows) and its
  result is (token, count) — data-dependent but ~10⁵–10⁸ rows even
  for web corpora, orders of magnitude under the corpus.
- ``unigram_logprob`` joins tokens→logp. With ``broadcast_vocab=True``
  (default, correct up to ~10⁷ vocab) the probe side never shuffles;
  the only row-count-proportional exchange is the final per-doc
  aggregation, carrying (doc_id, logp) pairs. For open-vocab corpora
  beyond broadcast range pass ``broadcast_vocab=False`` and the join
  degrades to a shuffled hash join planned by AQE.
- ``source_unigram_kl``'s exchanges carry (source, token) partial
  counts — map-side combined — and the K-row final reduce.

Float determinism: per-group ``avg``/``sum`` of doubles is
order-dependent at the last ulp; results are rounded to 6 decimals,
matching the repo-wide oracle convention (documents are ~10²–10⁴
tokens, so accumulated error ≪ 1e-6).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bergloom_spark.functions import text as TX


def unigram_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_vocab: bool = True,
) -> DataFrame:
    """Per-document mean log10 unigram probability under the corpus's
    own unigram distribution.

    Output: (id_col, n_tokens, avg_logprob), avg_logprob rounded to 6.
    """
    toks = df.select(
        F.col(id_col).alias("__id"), F.explode(TX.tokens(text_col)).alias("tok")
    )
    freq = toks.groupBy("tok").agg(F.count("*").alias("__n"))
    total = freq.agg(F.sum("__n").alias("__t"))
    logp = freq.crossJoin(F.broadcast(total)).select(
        "tok",
        F.log10(F.col("__n").cast("double") / F.col("__t").cast("double")).alias(
            "__logp"
        ),
    )
    if broadcast_vocab:
        logp = F.broadcast(logp)
    return (
        toks.join(logp, "tok")
        .groupBy("__id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(F.avg("__logp"), 6).alias("avg_logprob"),
        )
        .select(F.col("__id").alias(id_col), "n_tokens", "avg_logprob")
    )


def unigram_logprob_sql(
    table: str = "documents", text_col: str = "text", id_col: str = "doc_id"
) -> str:
    """DuckDB twin of :func:`unigram_logprob`."""
    toks = TX.tokens_sql(text_col)
    return f"""
        WITH toks AS (
          SELECT {id_col}, unnest({toks}) AS tok FROM {table}),
        freq AS (SELECT tok, count(*) AS n FROM toks GROUP BY 1),
        tot AS (SELECT sum(n)::DOUBLE AS t FROM freq)
        SELECT {id_col}, count(*)::BIGINT AS n_tokens,
               round(avg(log10(n::DOUBLE / t)), 6) AS avg_logprob
        FROM toks JOIN freq USING (tok) CROSS JOIN tot
        GROUP BY {id_col}
    """


def source_unigram_kl(
    df: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """KL(p_source ‖ p_corpus) over unigrams, in bits, per source.

    p_source's support is a subset of the corpus's, so the sum runs
    over the source's own tokens only — no outer join against the full
    vocabulary. Output: (source, n_tokens, kl_bits) rounded to 6.
    """
    toks = df.select(
        F.col(source_col).alias("source"), F.explode(TX.tokens(text_col)).alias("tok")
    )
    st = toks.groupBy("source", "tok").agg(F.count("*").alias("n_st"))
    s_tot = st.groupBy("source").agg(F.sum("n_st").alias("n_s"))
    corpus = st.groupBy("tok").agg(F.sum("n_st").alias("n_t"))
    total = corpus.agg(F.sum("n_t").alias("n"))
    # All three denominators are tiny relative to the token stream:
    # vocab-size and source-count rows. Broadcast them onto the
    # (source, tok) partial-count table; log2(p/q) folds scan-side.
    joined = (
        st.join(F.broadcast(s_tot), "source")
        .join(F.broadcast(corpus), "tok")
        .crossJoin(F.broadcast(total))
    )
    p = F.col("n_st").cast("double") / F.col("n_s").cast("double")
    q = F.col("n_t").cast("double") / F.col("n").cast("double")
    term = p * F.log2(p / q)
    return (
        joined.groupBy("source")
        .agg(
            F.max("n_s").alias("n_tokens"),
            F.round(F.sum(term), 6).alias("kl_bits"),
        )
        .select("source", "n_tokens", "kl_bits")
    )


def source_unigram_kl_sql(
    table: str = "documents", text_col: str = "text", source_col: str = "source"
) -> str:
    """DuckDB twin of :func:`source_unigram_kl`."""
    toks = TX.tokens_sql(text_col)
    return f"""
        WITH toks AS (
          SELECT {source_col} AS source, unnest({toks}) AS tok FROM {table}),
        st AS (SELECT source, tok, count(*) AS n_st FROM toks GROUP BY 1, 2),
        s_tot AS (SELECT source, sum(n_st) AS n_s FROM st GROUP BY 1),
        corpus AS (SELECT tok, sum(n_st) AS n_t FROM st GROUP BY 1),
        tot AS (SELECT sum(n_t)::DOUBLE AS n FROM corpus)
        SELECT source, max(n_s)::BIGINT AS n_tokens,
               round(sum((n_st::DOUBLE / n_s) *
                         log2((n_st::DOUBLE / n_s) / (n_t::DOUBLE / n))), 6)
                 AS kl_bits
        FROM st JOIN s_tot USING (source) JOIN corpus USING (tok) CROSS JOIN tot
        GROUP BY source
    """


def bigram_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 1.0,
    broadcast_model: bool = True,
) -> DataFrame:
    """Per-document mean log10 INTERPOLATED bigram probability under
    the corpus's own bigram distribution:

        p(w_i | w_{i-1}) = (c(w_{i-1} w_i) + α·p_uni(w_i))
                           / (c(w_{i-1}) + α)

    — add-α interpolation with the corpus unigram as the prior, so
    unseen transitions back off smoothly instead of scoring -inf. A
    sharper "typicality" signal than :func:`unigram_logprob`: word
    salad with common words scores high on unigrams but low here
    (its TRANSITIONS are atypical).

    Output: (id_col, n_transitions, avg_logprob) — transitions are
    token positions 2..n; docs with < 2 tokens report 0 transitions
    and NULL avg_logprob. Rounded to 6 (repo float convention).

    Scale shape: transition explosion is scan-side; the bigram count
    table is map-side-combinable with ~distinct-bigram rows (≈ corpus
    tokens in the worst case — for open web corpora pass
    ``broadcast_model=False`` and the probe join becomes a shuffled
    hash join on (prev, cur) planned by AQE, the standard layout for
    n-gram LM scoring at scale).
    """
    def transitions(toks: Column) -> Column:
        return F.zip_with(
            *TX.shifted_slices(toks, 2),
            lambda a, b: F.struct(a.alias("prev"), b.alias("cur")),
        )

    # NULL text gives a NULL array, which explodes to no rows like [].
    trans = df.select(
        F.col(id_col).alias("__id"),
        F.explode(TX.let(TX.tokens(text_col), transitions)).alias("__t"),
    ).select("__id", F.col("__t.prev").alias("prev"), F.col("__t.cur").alias("cur"))

    big = trans.groupBy("prev", "cur").agg(F.count("*").alias("__cb"))
    uni = trans.groupBy("cur").agg(F.count("*").alias("__cu"))
    # context counts and the unigram total derive from the same tables
    ctx = trans.groupBy("prev").agg(F.count("*").alias("__cc"))
    tot = uni.agg(F.sum("__cu").alias("__t"))
    uni_p = uni.crossJoin(F.broadcast(tot)).select(
        "cur", (F.col("__cu").cast("double") / F.col("__t").cast("double")).alias("__pu")
    )
    model = (
        big.join(uni_p, "cur")
        .join(ctx, "prev")
        .select(
            "prev",
            "cur",
            F.log10(
                (F.col("__cb").cast("double") + F.lit(alpha) * F.col("__pu"))
                / (F.col("__cc").cast("double") + F.lit(alpha))
            ).alias("__logp"),
        )
    )
    if broadcast_model:
        model = F.broadcast(model)
    scored = trans.join(model, ["prev", "cur"]).groupBy("__id").agg(
        F.count("*").alias("n_transitions"),
        F.round(F.avg("__logp"), 6).alias("avg_logprob"),
    )
    ids = df.select(F.col(id_col).alias("__id"))
    return (
        ids.join(scored, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            F.coalesce("n_transitions", F.lit(0)).cast("long").alias("n_transitions"),
            "avg_logprob",
        )
    )


def bigram_logprob_sql(
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 1.0,
) -> str:
    """DuckDB twin of :func:`bigram_logprob` (same interpolation, same
    rounding)."""
    toks = TX.tokens_sql(text_col)
    return f"""
        WITH base AS (SELECT {id_col} AS id, {toks} AS toks FROM {table}),
        trans AS (
          SELECT id, toks[i - 1] AS prev, toks[i] AS cur
          FROM (SELECT id, toks,
                       unnest(range(2, len(toks) + 1)) AS i
                FROM base)
        ),
        big AS (SELECT prev, cur, count(*) AS cb FROM trans GROUP BY 1, 2),
        uni AS (SELECT cur, count(*) AS cu FROM trans GROUP BY 1),
        ctx AS (SELECT prev, count(*) AS cc FROM trans GROUP BY 1),
        tot AS (SELECT sum(cu)::DOUBLE AS t FROM uni),
        model AS (
          SELECT b.prev, b.cur,
                 log10((b.cb::DOUBLE + {alpha!r} * (u.cu::DOUBLE / tot.t))
                       / (c.cc::DOUBLE + {alpha!r})) AS logp
          FROM big b JOIN uni u USING (cur) JOIN ctx c USING (prev)
          CROSS JOIN tot
        ),
        scored AS (
          SELECT id, count(*)::BIGINT AS n_transitions,
                 round(avg(logp), 6) AS avg_logprob
          FROM trans JOIN model USING (prev, cur) GROUP BY id
        )
        SELECT b.id AS {id_col},
               coalesce(s.n_transitions, 0)::BIGINT AS n_transitions,
               s.avg_logprob
        FROM base b LEFT JOIN scored s ON s.id = b.id
    """
