"""Importance-weighted data selection (DSIR-style) for training corpora.

Given a small high-quality TARGET slice and the RAW corpus, score every raw
document by how target-like its hashed n-gram distribution is — the
importance-resampling recipe of Xie et al., "Data Selection for Language
Models via Importance Resampling" (arXiv:2302.03169): unigram+bigram
features hashed into a small bucket space, per-bucket smoothed
log-likelihood ratio, per-document sum.

Scale shape (the 100 TB posture):
- the corpus token stream is exploded and hashed exactly ONCE, then
  immediately collapsed to per-(doc, bucket) occurrence counts — at most
  ``num_buckets`` ints per document (a ~100x reduction vs the raw n-gram
  stream, and the only shuffle that scales with the corpus);
- that cell table is persisted (tiny relative to the text) and feeds BOTH
  the bucket distributions (a second-level ``num_buckets``-cell aggregate)
  and the scoring join, so the expensive hash pass never re-executes;
- the log-ratio table is ``num_buckets`` rows — broadcast into the scoring
  join, so scoring is broadcast-hash-join -> per-doc combinable sum: one
  shuffle keyed on doc id carrying one decimal per doc;
- per-bucket weights are fixed-point quantized (``floor(ln_ratio * 1e7)``
  as int64) BEFORE summation, so the aggregate is integer-exact,
  order-independent, and bit-reproducible across engines — ``floor`` on a
  double is pure IEEE semantics everywhere, unlike decimal ``round`` whose
  tie-breaking differs between engines (the label-centroid operator's
  ``s_micro`` discipline).

Like SimHash (dedup.md5_hash60), the default token hash is the md5-prefix
hash that ANSI SQL replicates verbatim — pass ``token_hash=F.xxhash64`` for
the faster engine-native path when oracle parity is not required.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from apache_arrow_spark.functions.dedup import md5_hash60
from apache_arrow_spark.functions.text import tokens


def unigrams_and_bigrams(text: Column) -> Column:
    """Whitespace unigrams + space-joined bigrams as one array<string>.

    Pure array expressions (no UDF): bigram i = tokens[i] || ' ' ||
    tokens[i+1].  Documents with fewer than two tokens contribute their
    unigrams only.
    """
    t = tokens(text)
    n = F.size(t)
    bi = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(0), n - 2),
            lambda i: F.concat_ws(" ", F.element_at(t, i + 1), F.element_at(t, i + 2)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.concat(t, bi)


def importance_weights(
    df: DataFrame,
    target: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_buckets: int = 256,
    token_hash=None,
    ndigits: int = 7,
) -> DataFrame:
    """Per-document DSIR importance weight against a target slice.

    ``target``: boolean Column over ``df`` marking the target slice (e.g.
    ``F.col("source") == "src0"``).  Returns (id_col, n_ngrams, weight)
    where weight = sum over the doc's hashed n-gram occurrences of
    ``ln(p_target(bucket) / p_raw(bucket))`` with add-one smoothing.
    Positive weight = more target-like than the corpus average.

    The ratio inside the single ``ln`` is assembled from exactly-
    representable integer counts so both engines evaluate the identical
    double, and each bucket's log-ratio is quantized to
    ``floor(x * 10**ndigits)`` int64 before any aggregation touches it.
    """
    from apache_arrow_spark.session import compute_parallelism

    hash_fn = token_hash or md5_hash60
    # repartition the (id, flag, text) rows BEFORE the explode: spreads the
    # hash-heavy stage across all cores even on few-split sources (same
    # rationale as the MinHash signature stage)
    base = df.select(
        F.col(id_col).alias("id"), target.alias("is_t"), F.col(text_col).alias("t")
    ).repartition(compute_parallelism(df.sparkSession), F.col("id"))
    stream = base.select(
        "id", "is_t", F.explode(unigrams_and_bigrams(F.col("t"))).alias("g")
    ).select("id", "is_t", F.pmod(hash_fn(F.col("g")), F.lit(num_buckets)).alias("b"))
    # collapse to per-(doc, bucket) cells at once — the explode output never
    # shuffles (the groupBy keys contain the repartition key, so the heavy
    # aggregate completes map-side); persist: two consumers below
    cells = (
        stream.groupBy("id", "is_t", "b").agg(F.count(F.lit(1)).alias("c")).persist()
    )
    cells.count()  # eager: racing lazy materialization double-computes

    zero = F.lit(0).cast("bigint")
    counts = cells.groupBy("b").agg(
        F.sum("c").alias("cr"),
        F.sum(F.when(F.col("is_t"), F.col("c")).otherwise(zero)).alias("ct"),
    )
    totals = cells.agg(
        F.sum("c").alias("nr"),
        F.sum(F.when(F.col("is_t"), F.col("c")).otherwise(zero)).alias("nt"),
    )
    bdec = float(num_buckets)
    scale = float(10**ndigits)
    ratio = counts.crossJoin(F.broadcast(totals)).select(
        "b",
        F.floor(
            F.log(
                ((F.col("ct") + F.lit(1.0)) * (F.col("nr") + F.lit(bdec)))
                / ((F.col("cr") + F.lit(1.0)) * (F.col("nt") + F.lit(bdec)))
            )
            * F.lit(scale)
        ).alias("w"),
    )
    scored = (
        cells.join(F.broadcast(ratio), "b")
        .groupBy("id")
        .agg(
            F.sum("c").alias("n_ngrams"),
            F.sum(F.col("c") * F.col("w")).alias("wsum"),
        )
    )
    result = scored.select(
        F.col("id").alias(id_col),
        "n_ngrams",
        (F.col("wsum").cast("double") / F.lit(scale)).alias("weight"),
    ).persist()
    # eager on purpose: a lazy plan measured q97 4.53 -> 10.51 s (sf0.1, local[4])
    result.count()
    cells.unpersist()
    return result


def hashed_linear_score(
    df: DataFrame,
    weights: DataFrame,
    n_buckets: int = 1024,
    text_col: str = "text",
    id_col: str = "doc_id",
    salt: str = "qlin",
) -> DataFrame:
    """Score documents with a hashed linear (fasttext-style) classifier:
    tokens hash into ``n_buckets`` feature buckets; ``weights`` is the
    model — a (bucket, weight_micro) table of int64 micro-unit
    coefficients (what a trained quality classifier exports); a document's
    score is the sum of its token-bucket weights and ``keep`` is the
    sign-threshold decision.

    This is the deployment shape of every model-based quality filter
    (fasttext/CCNet-style): the model is a SMALL broadcast table, the
    corpus pass is explode -> hash -> broadcast-join -> per-doc combinable
    integer sum — ONE shuffle keyed on doc id carrying one int64, never
    the token stream.  Integer weights make the aggregate order-independent
    and engine-exact (the importance_weights discipline).

    Returns (id_col, n_tokens, score_micro, keep)."""
    from apache_arrow_spark.functions.pipeline import hash_bucket
    from apache_arrow_spark.functions.text import token_count, tokens
    from apache_arrow_spark.session import spread_compute

    # spread before the explode: the scoring pass (tokenize + hash +
    # broadcast join + partial sum) is narrow end-to-end, so a
    # single-split source would serialize it all into one task
    toks = spread_compute(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col).alias("id"),
        F.explode(tokens(F.col(text_col))).alias("term"),
    )
    feat = toks.select(
        "id", hash_bucket(F.col("term"), salt, n_buckets).alias("bucket")
    )
    scored = (
        feat.join(F.broadcast(weights), "bucket")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("weight_micro").alias("score_micro"),
        )
    )
    lens = df.select(
        F.col(id_col).alias("id"), token_count(F.col(text_col)).alias("n_all")
    )
    # left join from lens so zero-token docs still appear (score 0, drop)
    out = lens.join(scored, "id", "left").select(
        F.col("id").alias(id_col),
        F.coalesce(F.col("n_tokens"), F.lit(0)).cast("bigint").alias("n_tokens"),
        F.coalesce(F.col("score_micro"), F.lit(0)).cast("bigint").alias("score_micro"),
        (F.coalesce(F.col("score_micro"), F.lit(0)) > 0).alias("keep"),
    )
    return out


def demo_linear_weights(spark, n_buckets: int = 1024) -> DataFrame:
    """Deterministic stand-in for trained classifier weights: bucket b gets
    ``(b * 2654435761) % 2000001 - 1000000`` micro-units (a fixed
    Knuth-multiplicative scramble into [-1e6, 1e6]) — closed-form so an
    external oracle regenerates the identical model without serialization."""
    return spark.range(n_buckets).select(
        F.col("id").cast("bigint").alias("bucket"),
        ((F.col("id") * F.lit(2654435761)) % F.lit(2000001) - F.lit(1000000))
        .cast("bigint")
        .alias("weight_micro"),
    )
