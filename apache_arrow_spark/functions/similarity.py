"""Similarity search over embedding columns (array<float>).

Every search here is a PROBE that picks candidates followed by ONE exact
verify step (the filter-then-verify shape):

- top-k against one query vector: the probe is a filter on a bucket or
  cell id (or none at all), and :func:`cosine_topk` is the only rerank.
  Dot products via ``F.zip_with`` + ``F.aggregate`` (no UDF);
  ``orderBy`` + ``limit`` compiles to TakeOrdered (each partition scores
  its rows, a heap merges the top-k), so there is no global sort.
- batch kNN joins (every query row against a corpus): the probe is a
  cross join, a bucket equi-join or a cell equi-join, and
  :func:`_rank_neighbours` is the only per-query rank.
- the probes: sign-LSH (random hyperplanes; a d x p seeded matrix turns
  each vector into a p-bit bucket id, and the probe set is every bucket
  within ``n_probe_bits`` Hamming distance, :func:`_probe_masks`) and IVF
  (nearest centroids by squared L2, :func:`_sq_l2`).  At 100 TB the bucket
  or cell id is computed at ingest and bucketed/partitioned-by, so a
  query touches one bucket's partitions, not the corpus.
- embedding near-dup pairs: same LSH buckets self-joined, cosine verified.
"""

from __future__ import annotations

import random
from itertools import combinations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from apache_arrow_spark.log import warn_once
from apache_arrow_spark.session import _scoped_conf, spread_compute


def _as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def _vec_dim(df: DataFrame, vec_col: str) -> int:
    """Vector dimension read from the first row (one job); 0 when ``df``
    is empty — the hyperplanes then have no components, and the empty
    side yields no rows downstream."""
    first = df.select(F.size(F.col(vec_col)).alias("d")).first()
    return first["d"] if first else 0


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two double-array columns (sequential left-fold
    sums — same evaluation order as the DuckDB oracle's list functions)."""
    return dot(a, b) / (norm(a) * norm(b))


def _sq_l2(v: Column, c: list[float]) -> Column:
    """Squared L2 distance of a double-array column to a literal vector
    (sequential left fold, as :func:`cosine`)."""
    return F.aggregate(
        F.zip_with(
            v,
            F.array(*[F.lit(float(x)) for x in c]),
            lambda x, y: (x - y) * (x - y),
        ),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )


def cosine_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    ndigits: int = 6,
) -> DataFrame:
    """Exact top-k by cosine to a literal query vector — the rerank under
    every top-k search here (a probe filters ``df`` first).  orderBy+limit
    compiles to TakeOrdered (per-partition heap + driver merge) — no
    global sort shuffle."""
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    sim = F.round(cosine(_as_double(F.col(vec_col)), q), ndigits)
    return (
        df.select(F.col(id_col), sim.alias("sim"))
        .orderBy(F.col("sim").desc(), F.col(id_col))
        .limit(k)
    )


def _vectors(df: DataFrame, side: str, id_col: str, vec_col: str, *extra: Column) -> DataFrame:
    """One side of a kNN join: ``{side}_id``, the double vector
    ``{side}v``, then ``extra``."""
    return df.select(
        F.col(id_col).alias(f"{side}_id"), _as_double(F.col(vec_col)).alias(f"{side}v"), *extra
    )


def _rank_neighbours(pairs: DataFrame, k: int, ndigits: int) -> DataFrame:
    """Candidate pairs ``(q_id, qv, n_id, nv)`` (double vectors) -> each
    query's top-k neighbours ``(q_id, n_id, rank, sim)`` by exact rounded
    cosine, ties to the lower ``n_id``; a query is never its own
    neighbour.  The per-query rerank under every kNN join here."""
    w = Window.partitionBy("q_id").orderBy(F.col("sim").desc(), F.col("n_id"))
    return (
        pairs.filter(F.col("q_id") != F.col("n_id"))
        .withColumn("sim", F.round(cosine(F.col("qv"), F.col("nv")), ndigits))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "n_id", "rank", "sim")
    )


def hyperplanes(dim: int, planes: int, seed: int = 0x5EED) -> list[list[float]]:
    """Deterministic Gaussian hyperplanes (Box-Muller over a seeded PRNG) —
    reproducible across sessions/clusters without shipping state."""
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(planes)]


def lsh_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-LSH bucket id: bit j = sign(vec . plane_j)."""
    v = _as_double(vec)
    acc = F.lit(0).cast("bigint")
    for j, plane in enumerate(planes):
        p = F.array(*[F.lit(x) for x in plane])
        bit = F.when(dot(v, p) >= 0, F.lit(1).cast("bigint")).otherwise(F.lit(0).cast("bigint"))
        acc = acc.bitwiseXOR(F.shiftleft(bit, j))
    return acc


def _probe_masks(planes: int, n_probe_bits: int) -> list[int]:
    """XOR masks of every bit pattern with at most ``n_probe_bits`` of
    ``planes`` bits set: ``bucket ^ mask`` walks every bucket within that
    Hamming distance, the bucket itself first (mask 0)."""
    return [
        sum(1 << j for j in bits)
        for r in range(n_probe_bits + 1)
        for bits in combinations(range(planes), r)
    ]


def lsh_probes(query_vec: list[float], hp: list[list[float]], n_probe_bits: int = 1) -> set[int]:
    """Multi-probe bucket set for a query: its own bucket plus all buckets
    within ``n_probe_bits`` Hamming distance."""
    qb = 0
    for j, plane in enumerate(hp):
        s = sum(float(a) * float(b) for a, b in zip(query_vec, plane))
        if s >= 0:
            qb |= 1 << j
    return {qb ^ m for m in _probe_masks(len(hp), n_probe_bits)}


def ann_topk_lsh(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    planes: int = 12,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_probe_bits: int = 1,
    seed: int = 0x5EED,
    ndigits: int = 6,
) -> DataFrame:
    """Approximate top-k: score only vectors whose LSH bucket is within
    ``n_probe_bits`` Hamming distance of the query's bucket (multi-probe).
    Candidate filter is a broadcast-friendly IN over bucket ids."""
    hp = hyperplanes(len(query_vec), planes, seed)
    bucketed = df.withColumn("__bucket", lsh_bucket(F.col(vec_col), hp))
    probes = lsh_probes(query_vec, hp, n_probe_bits)
    return cosine_topk(
        bucketed.filter(F.col("__bucket").isin(*probes)),
        query_vec, k, vec_col, id_col, ndigits,
    )


def ivf_assign(
    df: DataFrame,
    n_clusters: int = 16,
    vec_col: str = "embedding",
    seed: int = 0x1FF,
    sample_fraction: float | None = None,
):
    """IVF coarse quantizer: k-means centroids (MLlib, seeded) + cluster
    assignment column ``__cluster``.

    Returns (assigned_df, centroids).  At corpus scale, fit on a sample
    (``sample_fraction``) — the model is centroids only, broadcast-sized.
    A production deployment runs this at ingest and partitions/buckets the
    table by ``__cluster`` so probes touch only matching partitions.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feats = df.withColumn("__features", array_to_vector(_as_double(F.col(vec_col))))
    train = feats.sample(fraction=sample_fraction, seed=seed) if sample_fraction else feats
    model = KMeans(k=n_clusters, seed=seed, featuresCol="__features", predictionCol="__cluster").fit(
        train.select("__features")
    )
    assigned = model.transform(feats).drop("__features")
    centroids = [list(map(float, c)) for c in model.clusterCenters()]
    return assigned, centroids


def assign_to_centroids(df: DataFrame, centroids: list[list[float]], vec_col: str) -> DataFrame:
    """Nearest-centroid assignment as a pure column expression (argmin of
    squared L2 over centroid literals, first-index tie-break) — no model
    object, broadcast-free, SQL-replicable.  Adds ``__cluster``.

    The input is spread first: the per-row argmin evaluates one zip_with
    aggregate per centroid, and a single-split source would serialize
    the whole assignment on one core (measured 3 s of q48's 4.6 s wall).

    The distances are LET-BOUND into one array column before the argmin
    (the q83/quantize_int8 idiom): `least` + a 16-branch when-chain
    reference every distance 2-3x, and interpreted HOF aggregates are
    inlined PER REFERENCE — the original tree re-evaluated the k
    zip_with aggregates tens of times per row (measured 2.6 s of q48's
    single-task stage at sf0.1; let-bound it is one evaluation each,
    argmin = array_position over k doubles, same first-index
    tie-break)."""
    v = _as_double(F.col(vec_col))
    bound = spread_compute(df).withColumn(
        "__dists", F.array(*[_sq_l2(v, c) for c in centroids])
    )
    assign = (
        F.array_position(F.col("__dists"), F.array_min(F.col("__dists"))) - 1
    ).cast("int")
    return bound.withColumn("__cluster", assign).drop("__dists")


def _nearest_cells(
    centroids: list[list[float]], query_vec: list[float], n_probe: int
) -> list[int]:
    """The ``n_probe`` centroid indices nearest to the query by squared
    L2, nearest first (a stable sort: ties to the lower index)."""
    order = sorted(
        range(len(centroids)),
        key=lambda i: sum(
            ((a - b) * (a - b) for a, b in zip(centroids[i], query_vec)), 0.0
        ),
    )
    return order[:n_probe]


def ivf_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_clusters: int = 16,
    n_probe: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 0x1FF,
    ndigits: int = 6,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF approximate top-k: score only the ``n_probe`` clusters whose
    centroids are closest to the query, exact cosine rerank inside them.

    ``centroids``: explicit coarse-quantizer centroids.  When omitted, a
    seeded MLlib k-means fit supplies them (:func:`ivf_assign`); passing
    e.g. fixed pivot vectors makes the whole pipeline deterministic and
    expressible as ANSI SQL for oracle checking.
    """
    if centroids is None:
        assigned, centroids = ivf_assign(df, n_clusters, vec_col, seed)
    else:
        assigned = assign_to_centroids(df, centroids, vec_col)
    probe = _nearest_cells(centroids, query_vec, n_probe)
    return cosine_topk(
        assigned.filter(F.col("__cluster").isin(probe)),
        query_vec, k, vec_col, id_col, ndigits,
    )


# ---------------------------------------------------------------------------
# Ingest-time index materialization: the 100 TB posture made literal.
# The filter-based probes above still scan every row of the corpus to
# evaluate `__bucket IN (...)`; these materialize the bucket/cluster id at
# ingest so a probe PRUNES storage units instead (bucket pruning for the
# LSH table, partition pruning for the IVF directory tree) — the scan
# itself shrinks, which is what survives a 1000-executor 100 TB corpus.
# ---------------------------------------------------------------------------


def materialize_lsh_index(
    df: DataFrame,
    table_name: str,
    planes: int = 12,
    n_buckets: int = 16,
    vec_col: str = "embedding",
    seed: int = 0x5EED,
) -> None:
    """Write the corpus as a bucketed table keyed on the sign-LSH bucket
    id.  `bucketBy(__bucket)` hashes the id into ``n_buckets`` files per
    partition; an equality/IN probe on `__bucket` then prunes buckets at
    plan time (`SelectedBucketsCount` in the scan)."""
    hp = hyperplanes(_vec_dim(df, vec_col), planes, seed)
    (
        df.withColumn("__bucket", lsh_bucket(F.col(vec_col), hp))
        .write.bucketBy(n_buckets, "__bucket")
        .sortBy("__bucket")
        .mode("overwrite")
        .saveAsTable(table_name)
    )


def ann_topk_lsh_indexed(
    spark,
    table_name: str,
    query_vec: list[float],
    k: int = 10,
    planes: int = 12,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_probe_bits: int = 1,
    seed: int = 0x5EED,
    ndigits: int = 6,
) -> DataFrame:
    """ANN top-k over a `materialize_lsh_index` table: same semantics as
    `ann_topk_lsh`, but the probe filter hits the stored `__bucket` column
    so Spark prunes non-matching bucket files instead of scanning them
    (`SelectedBucketsCount` in the scan).

    Disables `autoBucketedScan` around the probe: that heuristic turns
    off bucketed reading for scan-only plans, which also turns off bucket
    pruning — for probe workloads pruning is the whole point.  The conf
    is scoped (``session._scoped_conf``), and physical planning is FORCED
    inside the scope — QueryExecution caches its executedPlan, so the
    returned lazy DataFrame keeps the bucket-pruned scan after the
    session conf is restored."""
    hp = hyperplanes(len(query_vec), planes, seed)
    probes = lsh_probes(query_vec, hp, n_probe_bits)
    key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    with _scoped_conf(spark, key, "false"):
        out = cosine_topk(
            spark.table(table_name).filter(F.col("__bucket").isin(*probes)),
            query_vec, k, vec_col, id_col, ndigits,
        )
        try:
            out._jdf.queryExecution().executedPlan()  # pin plan under conf
        except Exception as e:
            # Spark Connect has no _jdf: the plan resolves lazily AFTER the
            # restore, so results stay correct but every bucket is scanned
            warn_once(
                "lsh_index_pin",
                "ann_topk_lsh_indexed cannot pin its plan (%s): bucket "
                "pruning may be lost, results are unchanged",
                e,
            )
    return out


def materialize_ivf_index(
    df: DataFrame,
    path: str,
    centroids: list[list[float]],
    vec_col: str = "embedding",
) -> None:
    """Write the corpus partitioned by IVF cluster (`partitionBy` directory
    tree).  A probe reading ``n_probe`` clusters lists only those
    directories — partition pruning, visible as `PartitionFilters` in the
    scan and fewer files read."""
    # repartition BY CLUSTER before the partitionBy write: the spread
    # inside assign_to_centroids would otherwise leave each __cluster
    # directory with one small file per spread partition — more files to
    # list/open for every pruned probe, the opposite of this index's
    # purpose.  One exchange on the cluster id yields one file per
    # cluster directory (per final partition that holds it).
    assign_to_centroids(df, centroids, vec_col).repartition(
        F.col("__cluster")
    ).write.partitionBy("__cluster").mode("overwrite").parquet(path)


def ivf_topk_indexed(
    spark,
    path: str,
    query_vec: list[float],
    centroids: list[list[float]],
    k: int = 10,
    n_probe: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    ndigits: int = 6,
) -> DataFrame:
    """IVF top-k over a `materialize_ivf_index` directory: probe clusters
    become partition-pruning filters — non-probed clusters' files are
    never opened."""
    probe = _nearest_cells(centroids, query_vec, n_probe)
    return cosine_topk(
        spark.read.parquet(path).filter(F.col("__cluster").isin(probe)),
        query_vec, k, vec_col, id_col, ndigits,
    )


def embedding_near_duplicates(
    df: DataFrame,
    threshold: float = 0.95,
    planes: int = 12,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 0x5EED,
) -> DataFrame:
    """Near-duplicate vector pairs (cosine >= threshold) via LSH-bucket
    self-join + exact verify.  Quadratic only within buckets."""
    hp = hyperplanes(_vec_dim(df, vec_col), planes, seed)
    b = df.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v"), lsh_bucket(F.col(vec_col), hp).alias("bkt")
    )
    x, y = b.alias("x"), b.alias("y")
    cand = x.join(
        y, (F.col("x.bkt") == F.col("y.bkt")) & (F.col("x.id") < F.col("y.id"))
    ).select(
        F.col("x.id").alias("id_a"),
        F.col("y.id").alias("id_b"),
        F.round(cosine(_as_double(F.col("x.v")), _as_double(F.col("y.v"))), 6).alias("cos"),
    )
    return cand.filter(F.col("cos") >= threshold)


def quantize_int8(
    df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """Per-vector symmetric int8 quantization — the storage path for
    billion-scale ANN indexes (4x smaller than float32, SIMD-friendly
    integer dot products at query time).

    codes[i] = floor(v[i] / scale + 0.5) with scale = max|v| / 127.
    ``floor(x + 0.5)`` instead of round(): round's half-way tie-breaking
    mode differs across engines, floor doesn't, so the codes are
    bit-reproducible against any SQL oracle.  Everything is a per-row
    column expression: scan-speed, zero shuffle, trivially parallel at any
    corpus size.

    Returns (id, scale, codes array<int>).  Dequantization is
    ``code * scale``; max reconstruction error is scale/2 per component.
    """
    # let-bind the cast vector and the scale as plain columns BEFORE the
    # code transform: an expression referenced inside a transform lambda
    # is INLINED PER ELEMENT, so the original form re-evaluated the cast
    # and the array_max-based scale 64x per row inside an interpreted
    # (non-codegen) higher-order function — measured 1.5 s for 2k rows
    # at sf0.1; hoisted, the lambda reads two attributes.
    dv = _as_double(F.col(vec_col))
    base = df.select(F.col(id_col).alias("id"), dv.alias("__dv"))
    absmax = F.array_max(F.transform(F.col("__dv"), F.abs))
    scaled = base.select(
        "id",
        "__dv",
        F.when(absmax == 0.0, F.lit(1.0))
        .otherwise(absmax / F.lit(127.0))
        .alias("scale"),
    )
    out = scaled.select(
        "id",
        "scale",
        F.transform(
            F.col("__dv"),
            lambda x: F.floor(x / F.col("scale") + F.lit(0.5)).cast("int"),
        ).alias("codes"),
    )
    return out


def knn_join_exact(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    ndigits: int = 6,
    broadcast_queries: bool = True,
) -> DataFrame:
    """Top-k corpus neighbors for EVERY query row (batch retrieval), by
    exact cosine — the all-pairs baseline, O(|Q|·|C|).  Use for oracles,
    reranking a pruned candidate set, or small query batches; the scale
    path is :func:`knn_join_lsh`.  Returns (q_id, n_id, rank, sim).

    ``broadcast_queries`` (default True) pins the QUERY side as the
    broadcast build — the right topology for this function's contract
    (a small query batch against a large corpus: the cosines then
    parallelize across the corpus scan rather than a single query-side
    split).  A caller with a query set too large for a broadcast table
    should pass False (Spark then picks the build side by size) — but a
    query set that big makes the O(|Q|·|C|) exact join itself the wrong
    tool; use :func:`knn_join_lsh`."""
    qq = _vectors(queries, "q", id_col, vec_col)
    if broadcast_queries:
        qq = F.broadcast(qq)
    cc = _vectors(spread_compute(corpus), "n", id_col, vec_col)
    return _rank_neighbours(qq.crossJoin(cc), k, ndigits)


def knn_join_lsh(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    planes: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_probe_bits: int = 1,
    seed: int = 0x5EED,
    ndigits: int = 6,
) -> DataFrame:
    """Approximate batch kNN join — the scale path for all-to-all
    retrieval: both sides bucket by the same sign-LSH; the QUERY side
    additionally explodes into multi-probe buckets (its own bucket plus
    every bucket within ``n_probe_bits`` flipped bits), candidates come
    from a bucket equi-join (a shuffle on small keys, never |Q|·|C|), and
    exact cosine reranks per query.  With a ``materialize_lsh_index``-built
    corpus the bucket column is precomputed and the join prunes storage.
    Returns (q_id, n_id, rank, sim)."""
    hp = hyperplanes(_vec_dim(corpus, vec_col), planes, seed)
    bucket = lsh_bucket(F.col(vec_col), hp)
    cc = _vectors(corpus, "n", id_col, vec_col, bucket.alias("__bucket"))
    qb = _vectors(queries, "q", id_col, vec_col, bucket.alias("__b0"))
    probes = [F.col("__b0").bitwiseXOR(F.lit(m)) for m in _probe_masks(planes, n_probe_bits)]
    qq = qb.select("q_id", "qv", F.explode(F.array(*probes)).alias("__bucket"))
    pairs = qq.join(cc, on="__bucket").dropDuplicates(["q_id", "n_id"])
    return _rank_neighbours(pairs, k, ndigits)


def random_projection(
    df: DataFrame,
    dim: int,
    out_dim: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 0x5EED,
    ndigits: int = 6,
) -> DataFrame:
    """Johnson-Lindenstrauss random projection: reduce ``dim``-d embeddings
    to ``out_dim`` components via seeded Gaussian planes (the same
    deterministic :func:`hyperplanes` family the sign-LSH bucketing uses —
    sign-LSH IS this projection with only the sign kept).

    Distances are preserved within (1 ± eps) for out_dim = O(ln n / eps^2)
    (JL lemma), which makes this the standard pre-step for cheaper
    downstream ANN / clustering at 100 TB: per-row column expressions,
    zero shuffle, scan-speed; the plane matrix is out_dim x dim literals
    compiled into the plan — no state shipped.  Components are rounded to
    ``ndigits`` (sequential left-fold dot, the DuckDB-parity evaluation
    order of :func:`cosine`).

    Returns (id, proj array<double>).
    """
    planes = hyperplanes(dim, out_dim, seed)
    v = _as_double(F.col(vec_col))
    comps = [
        F.round(dot(v, F.array(*[F.lit(x) for x in p])), ndigits)
        for p in planes
    ]
    return df.select(
        F.col(id_col).alias("id"), F.array(*comps).alias("proj")
    )


def dimension_stats(
    df: DataFrame,
    vec_col: str = "embedding",
    ndigits: int = 6,
) -> DataFrame:
    """Per-dimension corpus statistics (count, mean, sample std) of an
    embedding column — the feature-scaling pre-step for whitening /
    standardizing vectors before clustering or ANN.

    Scale shape: posexplode then ONE hash aggregate keyed on the dimension
    index; partials combine map-side, so the shuffle carries dim-count
    rows per task (e.g. 64), never the vectors.  Values are floor-
    quantized to integer micros before summation (the q82 s_micro
    discipline): floor has no tie-breaking mode, so the long-space sums —
    and every double derived from them — are bit-identical across engines
    and row orders.  mean/std are then pure IEEE arithmetic on exact ints:
    var = (ss - s^2/n) / ((n-1) * 1e12), std = sqrt(var).

    Returns (dim, n, mean, std) with mean/std rounded to ``ndigits``.
    """
    ex = df.select(F.posexplode(_as_double(F.col(vec_col))).alias("dim", "v"))
    micro = F.floor(F.col("v") * F.lit(1000000.0)).cast("long")
    agg = ex.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(micro).alias("s"),
        F.sum(micro * micro).alias("ss"),
    )
    n = F.col("n").cast("double")
    s = F.col("s").cast("double")
    ss = F.col("ss").cast("double")
    var = (ss - s * s / n) / ((n - F.lit(1.0)) * F.lit(1e12))
    return agg.select(
        "dim",
        "n",
        F.round(s / n / F.lit(1e6), ndigits).alias("mean"),
        F.round(F.sqrt(F.greatest(var, F.lit(0.0))), ndigits).alias("std"),
    )


def _recall_table(exact: DataFrame, approx: DataFrame) -> DataFrame:
    """(q_id, n_exact, n_hits, recall_micro) from an exact and an
    approximate top-k table — in ONE pass over the exact side.  The old
    form consumed ``exact`` twice (an inner join for hits plus a groupBy
    for the denominator), recomputing the |Q|·|C| crossJoin + window; a
    left join against the (unique-keyed) approx pairs with a match
    marker folds both counts into a single aggregate."""
    # dropDuplicates guards the left join's fan-out invariant: a
    # duplicate-emitting approx table would otherwise multiply exact rows
    # and silently inflate BOTH n_exact and n_hits (r10 ADVICE).  Both
    # current callers emit unique (q_id, n_id) already, so this is a
    # no-op aggregate over the (tiny) approx side — negligible next to
    # the exact crossJoin it feeds.
    marked = exact.select("q_id", "n_id").join(
        approx.select("q_id", "n_id")
        .dropDuplicates(["q_id", "n_id"])
        .withColumn("__m", F.lit(1)),
        ["q_id", "n_id"],
        "left",
    )
    return (
        marked.groupBy("q_id")
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.count("__m").alias("n_hits"),
        )
        .select(
            "q_id",
            "n_exact",
            "n_hits",
            F.expr("n_hits * 1000000 div n_exact").alias("recall_micro"),
        )
    )


def ann_recall_eval(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    planes: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_probe_bits: int = 1,
    seed: int = 0x5EED,
) -> DataFrame:
    """Recall@k of the LSH approximate kNN join against the exact join —
    the evaluation harness that decides whether an index configuration
    (planes, probes) is good enough to ship.  Returns one row per query:
    (q_id, n_exact, n_hits, recall_micro) with recall in exact integer
    micro-units (hits*1e6 div n_exact — no float comparison drift).

    Scale: the exact side is |Q|·|C| — run it on a SAMPLED query batch
    (that is the methodology, not a limitation: recall is estimated from
    a few hundred queries, the production path stays bucket-pruned).
    """
    exact = knn_join_exact(queries, corpus, k=k, vec_col=vec_col, id_col=id_col)
    approx = knn_join_lsh(queries, corpus, k, planes, vec_col, id_col, n_probe_bits, seed)
    return _recall_table(exact, approx)


def knn_join_ivf(
    queries: DataFrame,
    corpus: DataFrame,
    centroids: list[list[float]],
    k: int = 10,
    n_probe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    ndigits: int = 6,
) -> DataFrame:
    """Approximate batch kNN join through an IVF coarse quantizer: the
    corpus is assigned to its nearest centroid (ingest-time column in a
    materialized deployment — see ``materialize_ivf_index``), each query
    explodes into its ``n_probe`` nearest centroid cells, candidates come
    from the cell equi-join, and exact cosine reranks per query.  The
    candidate volume is |Q| * n_probe/|C| of the corpus in expectation —
    the IVF twin of :func:`knn_join_lsh`.  Returns (q_id, n_id, rank, sim).
    """
    assigned = assign_to_centroids(corpus, centroids, vec_col)
    cc = _vectors(assigned, "n", id_col, vec_col, F.col("__cluster").alias("__cell"))
    qv = _as_double(F.col(vec_col))
    # (distance, index) structs sort as _nearest_cells does: ties to the lower index
    cells = [F.struct(_sq_l2(qv, c).alias("d"), F.lit(i).alias("cid")) for i, c in enumerate(centroids)]
    probes = F.slice(F.array_sort(F.array(*cells)), 1, n_probe)
    qq = _vectors(queries, "q", id_col, vec_col, F.explode(probes.cid).alias("__cell"))
    return _rank_neighbours(qq.join(cc, on="__cell"), k, ndigits)


def ivf_recall_eval(
    queries: DataFrame,
    corpus: DataFrame,
    centroids: list[list[float]],
    k: int = 10,
    n_probe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Recall@k of the IVF kNN join vs the exact join — the IVF twin of
    :func:`ann_recall_eval`, same sampled-query-batch methodology and the
    same exact integer micro-unit recall output."""
    exact = knn_join_exact(queries, corpus, k=k, vec_col=vec_col, id_col=id_col)
    approx = knn_join_ivf(queries, corpus, centroids, k, n_probe, vec_col, id_col)
    return _recall_table(exact, approx)


def streaming_lsh_index_upsert(
    stream_df,
    out_dir: str,
    checkpoint_location: str,
    dim: int,
    planes: int = 10,
    vec_col: str = "embedding",
    seed: int = 0x5EED,
) -> None:
    """Maintain a sign-LSH ANN index INCREMENTALLY from a stream: each
    embedding micro-batch is bucketed with the SAME seeded hyperplanes the
    probe side uses and landed in a batchId-keyed overwrite directory
    (the q129 idempotence recipe — replayed batches rewrite, never
    duplicate), so the index stays fresh as the corpus streams in instead
    of being rebuilt by nightly full scans.

    At 100 TB this is the index-maintenance half of the ANN story: bucket
    assignment is a stateless per-row expression (no shuffle in the
    batch), appends are partition-local, and the probe side
    (ann_topk_lsh / the q187 staleness audit) reads the union of batch
    directories with bucket filters intact."""
    hp = hyperplanes(dim, planes, seed)

    def upsert(batch_df, batch_id: int) -> None:
        batch_df.withColumn("__bucket", lsh_bucket(F.col(vec_col), hp)).write.mode(
            "overwrite"
        ).parquet(f"{out_dir}/batch={batch_id}")

    q = (
        stream_df.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", checkpoint_location)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def kmeans_train_exact(
    df: DataFrame,
    k: int = 8,
    rounds: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    scale: int = 1000,
    shift: int = 10000,
) -> DataFrame:
    """INTEGER-EXACT Lloyd k-means: quantize vectors to non-negative int64
    (floor(x * scale) + shift — floor on a double is pure IEEE, the shift
    keeps every later floor-division on positives where all engines
    agree), seed centroids from the first k ids, then alternate exact
    integer assignment (argmin squared distance, ties to the lowest
    cluster id) and exact centroid update (per-dimension integer mean).
    Every round is bit-reproducible across engines — unlike float k-means
    (MLlib's path, used by ivf_assign), where summation order changes
    results.

    Returns the final assignment (id_col, cluster, d2) under the last
    trained centroids.

    Scale shape per round: assignment = broadcast k centroids cross the
    corpus + a per-vector argmin aggregate (grouped by vector id, never
    global); update = posexplode to (cluster, dim) cells -> combinable
    sums -> k*dim driver rows (the model).  rounds corpus passes total —
    Lloyd's honest cost."""
    q = df.select(
        F.col(id_col).alias("vid"),
        F.transform(
            _as_double(F.col(vec_col)),
            lambda x: (F.floor(x * scale) + shift).cast("bigint"),
        ).alias("q"),
    ).persist()
    # centroids carry their ORIGINAL cluster id across rounds so an empty
    # cluster drops out without renumbering the others (oracle-identical)
    cents = [
        (int(r["vid"]), [int(v) for v in r["q"]])
        for r in q.filter(F.col("vid") < k).orderBy("vid").collect()
    ]

    def assign(cent_rows):
        cdf = q.sparkSession.createDataFrame(
            cent_rows, "cid int, cent array<bigint>"
        )
        d2 = F.aggregate(
            F.zip_with(F.col("q"), F.col("cent"), lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        )
        # argmin d2 with ties to the lowest cid = min of the (d2, cid) struct
        return (
            q.crossJoin(F.broadcast(cdf))
            .groupBy("vid", "q")
            .agg(F.min(F.struct(d2.alias("d2"), F.col("cid"))).alias("__b"))
            .select("vid", "q", "__b.cid", "__b.d2")
        )

    for _ in range(rounds):
        a = assign(cents)
        cells = (
            a.select("cid", F.posexplode("q").alias("dim", "val"))
            .groupBy("cid", "dim")
            .agg(F.sum("val").alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        by_cid: dict[int, dict[int, int]] = {}
        for r in cells:
            by_cid.setdefault(r["cid"], {})[r["dim"]] = int(r["s"]) // int(r["n"])
        cents = [
            (ci, [by_cid[ci][d] for d in sorted(by_cid[ci])])
            for ci in sorted(by_cid)
        ]

    out = assign(cents).select(
        F.col("vid").alias(id_col), F.col("cid").alias("cluster"), "d2"
    )
    # training is done (centroids are driver literals) — release the
    # quantized-vector cache instead of leaking it; the returned plan
    # recomputes the narrow quantize projection once, which is one scan
    q.unpersist()
    return out


def embedding_covariance(
    df: DataFrame,
    vec_col: str = "embedding",
    dim: int = 64,
    scale: float = 1e6,
) -> DataFrame:
    """Exact covariance matrix of an embedding column — the input to
    whitening / PCA / ZCA decorrelation over a corpus of vectors.

    Vectors quantize to int64 micro-units first (``floor(double(x) *
    scale)``), so the Gram matrix, the dimension sums, and the count are
    INTEGER moments: combinable, partition-order-independent, and
    bit-identical across engines.  Each partition computes its partial
    Gram with one vectorized int64 matmul inside ``mapInPandas`` (never
    a per-pair explode of the corpus); what leaves an executor is
    dim*(dim+1)/2 + dim + 1 rows per PARTITION — independent of row
    count, so the plan is a scan plus a tiny fixed-width aggregation at
    any corpus size.  int64 is safe while n * (scale*|x|)^2 < 2^63
    (~sf1 for unit-norm vectors at scale 1e6; shrink ``scale`` to grow
    headroom — covariance rescales by scale^2, comparisons are
    unaffected).

    Returns the upper triangle (i <= j): (i, j, n, cov_unit) where
    ``cov_unit = floor(G_ij/n - (s_i/n)*(s_j/n))`` in micro^2 units,
    every double derived from exact int64 sums with a fixed operation
    order (oracle-mirrorable).
    """
    import numpy as np
    import pandas as pd

    d = int(dim)

    def part(batches):
        G = np.zeros((d, d), dtype=np.int64)
        s = np.zeros(d, dtype=np.int64)
        n = 0
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            Q = np.floor(X * scale).astype(np.int64)
            G += Q.T @ Q
            s += Q.sum(axis=0)
            n += Q.shape[0]
        if n == 0:
            return
        iu, ju = np.triu_indices(d)
        yield pd.DataFrame(
            {
                "i": np.concatenate([iu, np.arange(d), [-1]]),
                "j": np.concatenate([ju, np.full(d, -1), [-1]]),
                "g": np.concatenate([G[iu, ju], s, [n]]),
            }
        )

    parts = df.select(vec_col).mapInPandas(part, "i int, j int, g long")
    tot = parts.groupBy("i", "j").agg(F.sum("g").alias("g"))
    n_row = tot.filter((F.col("i") == -1) & (F.col("j") == -1)).select(
        F.col("g").alias("n")
    )
    sums = tot.filter((F.col("j") == -1) & (F.col("i") >= 0)).select(
        F.col("i").alias("si_dim"), F.col("g").alias("si")
    )
    gram = tot.filter(F.col("j") >= 0)
    j = (
        gram.crossJoin(F.broadcast(n_row))
        .join(F.broadcast(sums), F.col("i") == F.col("si_dim"))
        .drop("si_dim")
        .join(
            F.broadcast(
                sums.select(F.col("si_dim").alias("sj_dim"), F.col("si").alias("sj"))
            ),
            F.col("j") == F.col("sj_dim"),
        )
        .drop("sj_dim")
    )
    nd = F.col("n").cast("double")
    cov = F.col("g").cast("double") / nd - (F.col("si").cast("double") / nd) * (
        F.col("sj").cast("double") / nd
    )
    return j.select(
        "i", "j", "n", F.floor(cov).cast("bigint").alias("cov_unit")
    )
