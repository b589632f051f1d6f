"""Hashing-trick linear text classifier (fasttext-shaped) scoring.

The standard learned quality gate in LLM-data pipelines (CCNet,
GPT-3/LLaMA "quality classifier" filtering) is a linear model over
hashed bag-of-ngram features: bucket = hash(feature) % dim,
logit = bias + Σ w[bucket]. Training happens offline; the engine's
job is APPLYING the model to 100 TB of text, which is a pure
scan-side expression here — no shuffle, no Python, no UDF.

Two application strategies, chosen by model size:

- ``hashed_linear_logit_millis``: weights inlined as an array literal
  in the plan (broadcast with the task binary). Right for dim up to
  ~64K — the literal is codegen'd once and indexed per feature.
- ``score_with_weight_table``: weights as a (bucket, w_milli)
  DataFrame — explode features, broadcast-hash-join the weight table,
  re-aggregate per doc. Right for fasttext-scale models (dim 1-2M)
  where an inline literal would bloat every task; the join is
  broadcast (model ≪ executor memory) so the only shuffle is the
  per-doc re-aggregation, combinable on doc_id.

Weights are INTEGER MILLIS (w × 1000) so the logit sum is exact
integer arithmetic — bit-identical across engines and across
partition orders (float summation order would not be). The sigmoid is
a single final double op on the summed integer.

Reference scope note: BergLoom has no text classifiers; this extends
the curation surface (same rationale as operators/dedup.py) with
every result DuckDB-twinned.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bergloom_spark.functions import text as TX
from bergloom_spark.functions.hashing import hash64, hash64_sql

__all__ = [
    "default_weights_millis",
    "hashed_features",
    "hashed_features_sql",
    "hashed_linear_logit_millis",
    "hashed_linear_logit_millis_sql",
    "sigmoid",
    "score_with_weight_table",
]


def default_weights_millis(dim: int, seed: int = 0) -> list[int]:
    """Deterministic pseudo-random milli-weights in [-1000, 1000],
    derived from md5 — a stand-in for an offline-trained model that
    both engines see as the SAME literal (the values are baked into
    the Spark plan and the oracle SQL, so engine hash parity is not
    required here, only Python-side determinism)."""
    out = []
    for b in range(dim):
        h = hashlib.md5(f"w:{seed}:{b}".encode()).hexdigest()
        out.append(int(h[:15], 16) % 2001 - 1000)
    return out


def hashed_features(col: Column | str) -> Column:
    """Unigram + bigram string features of whitespace tokens."""
    toks = TX.tokens(col)
    # NULL text must yield an EMPTY feature list, not NULL: the inline
    # fold and the weight-table explode_outer path must both score
    # bias-only on NULL/empty docs (ADVICE r2 — a NULL here made the
    # inline logit NULL while the join path scored bias_millis).
    return F.coalesce(
        F.concat(toks, TX.ngrams(toks, 2)), F.array().cast("array<string>")
    )


def hashed_features_sql(expr: str) -> str:
    toks = TX.tokens_sql(expr)
    return (
        f"coalesce(list_concat({toks}, "
        f"CASE WHEN len({toks}) >= 2 THEN "
        f"list_transform(range(1, len({toks})), "
        f"i -> {toks}[i] || ' ' || {toks}[i + 1]) "
        f"ELSE [] END), [])"
    )


def _bucket(feature: Column, dim: int) -> Column:
    return F.pmod(hash64(feature), F.lit(dim))


def hashed_linear_logit_millis(
    col: Column | str,
    weights_millis: list[int],
    bias_millis: int = 0,
) -> Column:
    """Exact integer logit (millis): bias + Σ w[hash(feat) % dim].
    Single scan-side fold; the weight literal rides the plan."""
    dim = len(weights_millis)
    w = F.array(*[F.lit(int(x)) for x in weights_millis])
    feats = hashed_features(col)
    return F.aggregate(
        feats,
        F.lit(bias_millis).cast("long"),
        lambda acc, t: acc + F.element_at(w, (_bucket(t, dim) + 1).cast("int")).cast("long"),
    )


def hashed_linear_logit_millis_sql(
    expr: str,
    weights_millis: list[int],
    bias_millis: int = 0,
) -> str:
    """DuckDB twin: same hash, same buckets, same integer fold."""
    dim = len(weights_millis)
    w = "[" + ", ".join(str(int(x)) for x in weights_millis) + "]"
    feats = hashed_features_sql(expr)
    b = hash64_sql("t")
    return (
        f"({bias_millis}::BIGINT + coalesce(list_sum(list_transform({feats}, "
        f"t -> ({w})[(({b}) % {dim}) + 1])), 0))::BIGINT"
    )


def sigmoid(logit_millis: Column) -> Column:
    """Probability from a milli-logit (the one float op, applied after
    the exact integer sum)."""
    x = logit_millis.cast("double") / F.lit(1000.0)
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-x))


def score_with_weight_table(
    df: DataFrame,
    text_col: str,
    id_col: str,
    weights: DataFrame,
    dim: int,
    bias_millis: int = 0,
    threshold_millis: int = 0,
) -> DataFrame:
    """Large-model path: ``weights`` is a (bucket: long, w_milli: long)
    table, broadcast-joined against exploded features.

    Output: (doc_id, logit_millis, keep). Shapes at 100 TB: features
    explode scan-side (doc_id + 8-byte bucket per feature), the weight
    join is broadcast (a 2M-bucket fasttext model is ~32 MB), and the
    per-doc sum is one combinable shuffle on doc_id. Docs whose
    features all miss the weight table still score (left join,
    missing weight = 0); zero-token docs score bias alone.
    """
    feats = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode_outer(hashed_features(text_col)).alias("__f"),
    ).select(
        "doc_id",
        F.when(
            F.col("__f").isNotNull(), _bucket(F.col("__f"), dim)
        ).alias("__b"),
    )
    joined = feats.join(
        F.broadcast(weights), feats["__b"] == weights["bucket"], "left"
    )
    agg = joined.groupBy("doc_id").agg(
        (
            F.sum(F.coalesce(F.col("w_milli"), F.lit(0))).cast("long")
            + F.lit(bias_millis)
        ).alias("logit_millis")
    )
    return agg.select(
        "doc_id",
        "logit_millis",
        (F.col("logit_millis") > F.lit(threshold_millis)).alias("keep"),
    )
