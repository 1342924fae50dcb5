"""BM25 retrieval scoring over the documents table.

Okapi BM25 (Robertson & Zaragoza, "The Probabilistic Relevance Framework:
BM25 and Beyond") as a batch Spark operator: given a bag of query terms,
rank documents by sum_t idf(t) * tf_saturation(t, d).  This is the scoring
half of an inverted index — the postings list materializes as the
(term, doc) tf table.

Scale shape:
- the token explode is filtered to query terms BEFORE the aggregation, so
  the shuffle carries only postings for queried terms (|terms| * df rows),
  never the corpus token stream;
- document lengths and the corpus average come from a separate scan-only
  aggregate (no shuffle beyond a scalar);
- per-(doc, term) scores are fixed-point quantized (``floor(s * 1e6)`` as
  int64) before the per-doc sum, making scores and ranking integer-exact
  and bit-reproducible across engines;
- final top-k is a ``row_number`` window with a ``rnk <= k`` filter, which
  Spark's WindowGroupLimit rewrite executes as TakeOrderedAndProject
  feeding the window (verified in the physical plan) — only k rows per
  map partition ever reach the single-partition window, so the rank
  stays scale-safe even when every document matches a query term.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from apache_arrow_spark.functions.text import token_count, tokens


def bm25_topk(
    df: DataFrame,
    terms: list[str],
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
    ndigits: int = 6,
) -> DataFrame:
    """Top-k documents by BM25 score for ``terms``.

    Returns (rnk, id_col, score) with rnk 1..k ordered by score desc,
    ties broken on ascending id.  idf uses the standard non-negative
    formulation ``ln(1 + (N - df + 0.5)/(df + 0.5))``.
    """
    lens = df.select(
        F.col(id_col).alias("id"), token_count(F.col(text_col)).alias("dl")
    )
    stats = lens.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("total_dl")
    )

    term_arr = F.array(*[F.lit(t) for t in terms])
    tf = (
        df.select(
            F.col(id_col).alias("id"),
            F.explode(tokens(F.col(text_col))).alias("term"),
        )
        .filter(F.array_contains(term_arr, F.col("term")))
        .groupBy("id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))

    # avgdl as one exact double (bigint/bigint division — identical in any
    # IEEE engine); idf from integer counts through a single ln
    joined = (
        tf.join(F.broadcast(dfreq), "term")
        .join(lens, "id")
        .crossJoin(F.broadcast(stats))
    )
    avgdl = F.col("total_dl").cast("double") / F.col("n_docs").cast("double")
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    sat = (F.col("tf") * (F.lit(k1) + 1.0)) / (
        F.col("tf") + F.lit(k1) * (F.lit(1.0) - F.lit(b) + F.lit(b) * F.col("dl") / avgdl)
    )
    scale = float(10**ndigits)
    per_term = joined.select(
        "id",
        F.floor(idf * sat * F.lit(scale)).alias("s"),
    )
    scored = per_term.groupBy("id").agg(F.sum("s").alias("score_q"))
    w = Window.orderBy(F.col("score_q").desc(), F.col("id").asc())
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(
            F.col("rnk").cast("int").alias("rnk"),
            F.col("id").alias(id_col),
            (F.col("score_q").cast("double") / F.lit(scale)).alias("score"),
        )
    )


def phrase_match(
    df: DataFrame,
    phrase: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact phrase search over a POSITIONAL inverted index: (id,
    n_matches) for every doc containing the consecutive token sequence
    ``phrase``.  The index is (term, doc, position) postings from one
    posexplode; the phrase is an equi-join chain — term_i's postings join
    term_{i+1}'s on (doc, pos + 1).

    The q98/BM25 shuffle discipline, positional edition: postings FILTER
    to the phrase's terms BEFORE any join, so the shuffle carries only
    those terms' postings (sum of their document frequencies), never the
    corpus token stream.  Join fan-out is bounded by per-doc term
    positions.  This is how phrase queries run on any web-scale positional
    index; Spark's join chain is the batch analog."""
    if len(phrase) < 1:
        raise ValueError("phrase must have at least one token")
    postings = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(tokens(F.col(text_col))).alias("pos", "term"),
    ).filter(F.col("term").isin(list(set(phrase))))
    chain = postings.filter(F.col("term") == phrase[0]).select("id", "pos")
    for i, term in enumerate(phrase[1:], start=1):
        nxt = postings.filter(F.col("term") == term).select(
            "id", (F.col("pos") - i).alias("pos")
        )
        chain = chain.join(nxt, ["id", "pos"])
    return chain.groupBy("id").agg(F.count(F.lit(1)).alias("n_matches"))


def rrf_fuse(
    rankings: list[DataFrame],
    k: int = 20,
    rrf_k: int = 60,
    id_col: str = "doc_id",
    rank_col: str = "rnk",
) -> DataFrame:
    """Reciprocal-rank fusion of N retrieval legs (the standard hybrid
    lexical + dense combiner): each input carries (id_col, rank_col) with
    rank 1-based; an item's fused score is ``sum over legs of
    1 / (rrf_k + rank)``, items missing from a leg contribute nothing.

    Exactness discipline: the contribution is computed as the INTEGER
    ``1e9 div (rrf_k + rank)`` so the fused score is a sum of exact int64
    terms — order-independent and engine-portable (no float summation
    ties).  Returns (rnk, id, rrf_micro, n_legs) for the top ``k`` by
    fused score, ties broken on ascending id.

    Scale shape: each leg is already top-k sized (driver-budget rows), so
    the union + groupBy is tiny regardless of corpus size; fusion cost is
    O(legs * k), never a corpus pass."""
    contrib = F.expr(f"1000000000 div ({rrf_k} + {rank_col})")
    legs = [
        r.select(F.col(id_col).alias("id"), contrib.alias("c")) for r in rankings
    ]
    u = legs[0]
    for nxt in legs[1:]:
        u = u.unionAll(nxt)
    fused = u.groupBy("id").agg(
        F.sum("c").alias("rrf_micro"), F.count(F.lit(1)).alias("n_legs")
    )
    w = Window.orderBy(F.col("rrf_micro").desc(), F.col("id").asc())
    return (
        fused.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(
            F.col("rnk").cast("int").alias("rnk"),
            F.col("id").alias(id_col),
            F.col("rrf_micro").cast("bigint").alias("rrf_micro"),
            F.col("n_legs").cast("int").alias("n_legs"),
        )
    )


def more_like_this(
    df: DataFrame,
    query_id: int,
    k: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """"More like this" retrieval: sparse TF-IDF cosine similarity of one
    document against the corpus, computed THROUGH the inverted index —
    the third retrieval modality next to BM25 (q98, term-at-a-time
    scoring) and dense ANN (q36, embedding buckets), and the one that
    needs no trained embedding model.

    Weights are floor-quantized int64 per (doc, term) CELL
    (tf * (ln((N+1)/(df+1)) + 1), the q81 smoothed idf), so dot products
    are exact integer sums; norms apply one IEEE-exact sqrt at the end.
    Returns (rnk, id_col, sim) for the top-k (query excluded).

    Scale shape: the query side is ONE document's cells — broadcast; the
    corpus-side join touches only postings of the query's terms (the
    postings-only discipline), then one combinable sum per doc and a
    TakeOrdered top-k.  No pairwise corpus join exists anywhere."""
    from pyspark.sql import Window as _W

    toks = df.select(
        F.col(id_col).alias("id"), F.explode(tokens(F.col(text_col))).alias("term")
    )
    tf = toks.groupBy("id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = df.count()
    w = F.floor(
        F.col("tf")
        * (F.log((F.lit(float(n_docs)) + 1.0) / (F.col("df") + 1.0)) + 1.0)
        * F.lit(1_000_000.0)
    ).cast("bigint")
    cells = tf.join(F.broadcast(dfreq), "term").select("id", "term", w.alias("w"))
    norms = cells.groupBy("id").agg(
        F.sqrt(F.sum(F.col("w") * F.col("w")).cast("double")).alias("nrm")
    )
    qcells = cells.filter(F.col("id") == query_id).select(
        F.col("term"), F.col("w").alias("wq")
    )
    dots = (
        cells.filter(F.col("id") != query_id)
        .join(F.broadcast(qcells), "term")
        .groupBy("id")
        .agg(F.sum(F.col("w") * F.col("wq")).alias("dot"))
    )
    qnorm = norms.filter(F.col("id") == query_id).select(
        F.col("nrm").alias("qnrm")
    )
    scored = (
        dots.join(norms, "id")
        .crossJoin(F.broadcast(qnorm))
        .select(
            "id",
            F.round(
                F.col("dot").cast("double") / (F.col("nrm") * F.col("qnrm")), 6
            ).alias("sim"),
        )
    )
    top = scored.orderBy(F.col("sim").desc(), F.col("id")).limit(k)
    rw = _W.orderBy(F.col("sim").desc(), F.col("id"))
    out = top.withColumn("rnk", F.row_number().over(rw)).select(
        F.col("rnk").cast("int").alias("rnk"),
        F.col("id").alias(id_col),
        "sim",
    )
    # lazy: exchange reuse shares ``cells`` between its three readers in
    # this one plan — no cache to leak (measured q219 20 -> 15 jobs,
    # 1.77 -> 1.55 s median, sf0.1 local[4])
    return out
