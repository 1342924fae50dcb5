"""Training-data pipeline assembly operators: deterministic sampling,
stratified sampling, group-aware splits, dataset mixing, sequence packing,
sharded shuffling, vocabulary building.

These are the dataset-ASSEMBLY steps a 100 TB pretraining pipeline runs
after cleaning/dedup (functions.dedup, functions.text): decide what goes
in (sampling/mixing), how it is held out (group splits), and how it is
laid out for the trainer (packing/sharding).  None exist in the reference
(an in-memory columnar engine); they are the Spark-native capability its
pipeline consumers would otherwise hand-roll.

Scale design:
- Every sampling/split decision is a PURE, SEEDED hash expression
  (md5 -> 60-bit integer) on a key column: no RNG state, no driver
  coordination, reproducible under retries/speculation, stable when the
  corpus is re-partitioned or re-run — the properties `rand()` lacks.
  The same decision rule can run in any engine (the oracle runs it in
  DuckDB) — important when ingest and training pipelines differ.
- Every GLOBAL ordered scan (``global_value_rank``,
  ``global_running_min``, ``global_running_sum``, ``global_sequence_gaps``
  and ``pack_sequences``, which is a running sum) runs on ONE core,
  ``_range_scan``: a naive window over ``ORDER BY key`` with no partition
  key is a single-task bottleneck, so the scan range-partitions by the
  key, folds one aggregate per range on the driver into per-range
  offsets, and adds them to a partition-local window (one row per range
  ever leaves the executors).
- ``deterministic_shuffle`` orders within shards (window PARTITIONed by
  shard), never globally.
- ``vocabulary`` is explode -> map-side-combinable count -> TakeOrdered
  top-n; the token stream never collects anywhere.
"""

from __future__ import annotations

import operator

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql.types import ArrayType, DataType, IntegralType, LongType

from apache_arrow_spark.functions.text import token_count, tokens
from apache_arrow_spark.session import compute_parallelism, truncate

# 15 hex digits = 60 bits: fits a signed int64 in both Spark (conv->bigint)
# and DuckDB ('0x..'::BIGINT), so the decision rule is engine-portable.
HASH_MOD = 1_000_000


def hash_bucket(key: Column, salt: str = "", mod: int = HASH_MOD) -> Column:
    """Deterministic uniform bucket in [0, mod) from a key column.

    ``md5(salt || cast(key as string))`` -> first 15 hex digits -> int64
    -> modulo.  Engine-portable (DuckDB twin:
    ``('0x' || substr(md5(salt || CAST(key AS VARCHAR)), 1, 15))::BIGINT % mod``).
    Changing ``salt`` draws an independent sample — e.g. a sampling
    decision and a split decision on the same key don't correlate.
    """
    s = F.concat(F.lit(salt), key.cast("string"))
    return (F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("bigint") % mod).alias(
        "bucket"
    )


def sql_hash_bucket(key_sql: str, salt: str = "", mod: int = HASH_MOD) -> str:
    """The DuckDB twin of :func:`hash_bucket` (used by query oracles)."""
    return (
        f"(('0x' || substr(md5('{salt}' || CAST({key_sql} AS VARCHAR)), 1, 15))"
        f"::BIGINT % {mod})"
    )


def hash_sample(
    df: DataFrame, fraction: float, key_col: str, salt: str = ""
) -> DataFrame:
    """Deterministic ``fraction`` sample keyed on ``key_col``.

    A row survives iff its hash bucket < fraction * HASH_MOD — a pure
    filter (pushes past projections, no shuffle, reproducible across
    runs/retries/engines, unlike ``df.sample``'s partition-seeded RNG
    which changes under repartitioning).
    """
    thr = int(round(fraction * HASH_MOD))
    return df.filter(hash_bucket(F.col(key_col), salt) < thr)


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: dict[str, float],
    key_col: str,
    default: float = 0.0,
    salt: str = "",
) -> DataFrame:
    """Per-stratum deterministic sampling (e.g. downsample dominant
    languages, keep all of rare ones).

    ``fractions`` maps stratum value -> keep fraction; strata not listed
    keep ``default``.  One pass, one filter expression — the per-stratum
    thresholds fold into a CASE, so Catalyst still pushes it to the scan.
    """
    thr = F.lit(int(round(default * HASH_MOD)))
    for value, frac in sorted(fractions.items()):
        thr = F.when(
            F.col(strata_col) == F.lit(value), F.lit(int(round(frac * HASH_MOD)))
        ).otherwise(thr)
    return df.filter(hash_bucket(F.col(key_col), salt) < thr)


def quota_sample(
    df: DataFrame,
    group_col: str,
    n: int,
    key_col: str,
    salt: str = "",
) -> DataFrame:
    """Exactly-N-per-group deterministic sample (per-domain / per-source
    quotas): rank rows within each group by their key's hash (ties broken
    by the key itself) and keep the first ``n``.  Unlike
    :func:`stratified_sample` (a FRACTION per stratum), this pins an exact
    budget per group — the contract dataset-mixing recipes specify.

    One shuffle on the group column (the row_number window).  For a group
    whose cardinality dwarfs ``n`` (the 100 TB hot-domain case), pre-thin
    with ``stratified_sample`` at a fraction comfortably above n/|group|
    first — the hash ordering is identical in both (same salt ⇒ same
    ranking), so thin-then-quota returns exactly the same rows as
    quota-on-everything while the window sees ~2n rows per group instead
    of millions.
    """
    w = Window.partitionBy(group_col).orderBy(
        hash_bucket(F.col(key_col), salt).asc(), F.col(key_col).asc()
    )
    return (
        df.withColumn("__qrn", F.row_number().over(w))
        .filter(F.col("__qrn") <= n)
        .drop("__qrn")
    )


def weighted_sample(
    df: DataFrame,
    weight_col: str,
    k: int,
    key_col: str,
    salt: str = "",
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement (k rows,
    inclusion probability proportional to ``weight_col``): the
    Efraimidis-Spirakis exponential-key scheme, u = hash-uniform(key),
    sort key = -ln(u) / w, keep the k smallest.  The quality-weighted
    corpus-sampling primitive (sample documents proportional to a quality
    or length score) — reproducible across runs and engines because u
    derives from :func:`hash_bucket`, not rand().

    Scale shape: per-row expressions + ``orderBy(...).limit(k)``, which
    Spark compiles to TakeOrderedAndProject — per-partition k-heaps and a
    driver merge of k rows, never a global sort.  Appends the sort key as
    ``__ekey`` (callers may drop it); ties break on the key column.

    Rows with null or non-positive weight are dropped: a null weight makes
    a null sort key (which Spark orders FIRST ascending — it would poison
    the sample), and w <= 0 has no sampling interpretation.
    """
    u = (hash_bucket(F.col(key_col), salt) + F.lit(0.5)) / F.lit(float(HASH_MOD))
    ekey = -F.log(u) / F.col(weight_col).cast("double")
    return (
        df.filter(F.col(weight_col) > 0)
        .withColumn("__ekey", ekey)
        .orderBy(F.col("__ekey").asc(), F.col(key_col).asc())
        .limit(k)
    )


def group_split(
    df: DataFrame,
    group_col: str,
    weights: dict[str, float] | None = None,
    salt: str = "split",
) -> DataFrame:
    """Leak-proof train/valid/test assignment: every row of a group (user,
    document cluster, ...) lands in the SAME split, because the decision
    hashes the group key, not the row.

    ``weights`` maps split name -> probability mass (default
    80/10/10 train/valid/test); assignment thresholds follow the
    lexicographic order of split names for determinism.
    """
    weights = weights or {"train": 0.8, "valid": 0.1, "test": 0.1}
    total = sum(weights.values())
    b = hash_bucket(F.col(group_col), salt)
    expr = None
    acc = 0.0
    # deterministic threshold layout: lexicographic split-name order
    for name, w in sorted(weights.items()):
        acc += w / total
        cut = int(round(acc * HASH_MOD))
        expr = (
            F.when(b < F.lit(cut), F.lit(name))
            if expr is None
            else expr.when(b < F.lit(cut), F.lit(name))
        )
    last = sorted(weights)[-1]
    return df.withColumn("split", expr.otherwise(F.lit(last)))


def mix_datasets(
    parts: dict[str, tuple[DataFrame, float]],
    key_col: str,
    salt: str = "mix",
) -> DataFrame:
    """Weighted dataset mixture: sample each source at ``weight`` (its
    keep-rate in [0, 1]) and union, tagging rows with ``mix_name`` and
    ``mix_weight`` so the trainer can apply example weighting downstream.

    Sampling is per-source :func:`hash_sample` (salted by source name so
    sources draw independent coins); the union is a zero-shuffle
    concatenation — at 100 TB this plan is "scan each source with a
    pushed filter, append", with no exchange anywhere.
    """
    out = None
    for name, (src, weight) in sorted(parts.items()):
        sampled = hash_sample(src, weight, key_col, salt=salt + name).select(
            "*",
            F.lit(name).alias("mix_name"),
            F.lit(float(weight)).alias("mix_weight"),
        )
        out = sampled if out is None else out.unionByName(sampled)
    if out is None:
        raise ValueError("mix_datasets: no sources given")
    return out


def token_budget_cap(
    df: DataFrame,
    group_col: str,
    token_col: str,
    budget: int,
    key_col: str,
    salt: str = "",
) -> DataFrame:
    """Cap each group at a TOKEN budget (not a row count): walk the group
    in deterministic hash order and keep documents while the cumulative
    token count stays under ``budget`` (the first document crossing the
    boundary is kept, so every non-empty group contributes at least one
    document and the kept total is the smallest prefix >= budget — or the
    whole group if it's smaller).

    This is how corpus mixing specs are actually written ("200 B tokens of
    web, 30 B of code"): :func:`quota_sample` pins document counts,
    :func:`mix_datasets` pins keep-rates, this pins token mass.  One
    shuffle on the group column (the running-sum window); the hash order
    makes the kept set reproducible and independent of physical row order.
    """
    w = Window.partitionBy(group_col).orderBy(
        hash_bucket(F.col(key_col), salt).asc(), F.col(key_col).asc()
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = F.sum(F.col(token_col)).over(w)
    return (
        df.withColumn("__cum_tokens", cum)
        .filter(F.col("__cum_tokens") - F.col(token_col) < budget)
        .drop("__cum_tokens")
    )


def pack_sequences(
    df: DataFrame,
    budget: int,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Concat-and-chunk sequence packing: lay all documents out as one
    token stream in ``id_col`` order and cut it into fixed ``budget``-token
    bins — the standard pretraining packing layout (documents may span a
    bin boundary; ``bin_offset`` says where a doc starts inside its bin).

    Returns (id, tokens, bin_id, bin_offset) where ``bin_id =
    floor(exclusive_cumsum / budget)``.  The exclusive cumsum is
    :func:`global_running_sum` minus each row's own tokens — no
    single-task window, no collect of data rows.
    """
    if budget <= 0:
        raise ValueError("pack_sequences: budget must be positive")
    toks = df.select(
        F.col(id_col),
        F.coalesce(token_count(F.col(text_col)), F.lit(0)).alias("tokens"),
    )
    pre = F.col("__cum") - F.col("tokens")
    return global_running_sum(toks, [id_col], "tokens", "__cum").select(
        id_col,
        "tokens",
        F.floor(pre / budget).cast("bigint").alias("bin_id"),
        (pre % budget).cast("bigint").alias("bin_offset"),
    )


def deterministic_shuffle(
    df: DataFrame,
    key_col: str,
    num_shards: int,
    salt: str = "shuffle",
) -> DataFrame:
    """Reproducible global shuffle into ``num_shards`` training shards.

    Shard = hash bucket of the key; position within the shard = rank by
    (hash, key) — so the full (shard, pos) layout is a pure function of
    the data, reproducible across runs and engines.  The window
    PARTITIONs by shard: num_shards parallel sorts of ~N/num_shards rows,
    never a global sort.
    """
    if num_shards <= 0:
        raise ValueError("deterministic_shuffle: num_shards must be positive")
    b = hash_bucket(F.col(key_col), salt)
    with_shard = df.withColumn("__h", b).withColumn(
        "shard", (F.col("__h") % num_shards).cast("bigint")
    )
    w = Window.partitionBy("shard").orderBy("__h", key_col)
    return with_shard.withColumn(
        "pos", (F.row_number().over(w) - 1).cast("bigint")
    ).drop("__h")


def curate_corpus(
    docs: DataFrame,
    benchmark: DataFrame,
    min_tokens: int = 20,
    jaccard_threshold: float = 0.5,
    decontaminate_n: int = 13,
    fractions: dict[str, float] | None = None,
    default_fraction: float = 0.5,
    strata_col: str = "lang",
    text_col: str = "text",
    key_col: str = "doc_id",
) -> dict[str, DataFrame]:
    """End-to-end corpus curation: the full pretraining data funnel as one
    composition of this engine's operators —

        raw -> quality filter -> exact dedup -> MinHash near-dup drop ->
        benchmark decontamination -> stratified sampling -> group split

    Returns an ORDERED dict of stage name -> DataFrame (each stage is the
    corpus surviving to that point; ``split`` carries the final corpus
    plus its ``split`` column).  Every stage after ``raw`` is materialized
    and truncated (``session.truncate``); release them with
    ``free_local_checkpoint``.

    Near-dup policy: for every verified pair (id_a < id_b, jaccard >=
    threshold), the LARGER id drops — deterministic and engine-portable.
    At the default 0.5 threshold, real corpora pair either well above it
    (templates/near-copies) or well below, so LSH recall at the boundary
    is not load-bearing; raise bands if your corpus concentrates there.
    """
    from apache_arrow_spark.functions.dedup import (
        exact_dedup,
        minhash_near_duplicates,
    )
    from apache_arrow_spark.functions.filters import decontaminate
    from apache_arrow_spark.session import truncate

    # truncate each stage before the next builds on it: a lazily composed
    # stage embeds the whole upstream tree, so a caller executing every
    # stage (the funnel report) pays Catalyst analysis of ever-growing
    # trees per action — measured ~16 s of a 23 s q78 wall
    stages: dict[str, DataFrame] = {"raw": docs}
    quality = truncate(docs.filter(token_count(F.col(text_col)) >= min_tokens))
    stages["quality"] = quality
    exact = truncate(exact_dedup(quality, text_col, key_col))
    stages["exact_dedup"] = exact
    pairs = minhash_near_duplicates(
        exact, text_col, key_col, jaccard_threshold=jaccard_threshold
    )
    drop = pairs.select(F.col("id_b").alias(key_col)).distinct()
    near = truncate(exact.join(drop, key_col, "left_anti"))
    stages["near_dedup"] = near
    decon = decontaminate(
        near,
        benchmark,
        n=decontaminate_n,
        text_col=text_col,
        id_col=key_col,
        mode="drop",
    )
    decon = truncate(decon)
    stages["decontaminated"] = decon
    sampled = stratified_sample(
        decon,
        strata_col,
        fractions or {},
        key_col,
        default=default_fraction,
        salt="curate",
    )
    sampled = truncate(sampled)
    stages["sampled"] = sampled
    stages["split"] = truncate(group_split(sampled, key_col))
    return stages


def curation_funnel(stages: dict[str, DataFrame]) -> DataFrame:
    """(stage, n) funnel counts for a :func:`curate_corpus` result — the
    per-stage survivor counts a pipeline run reports.  The ``split`` stage
    expands to one row per split value.  Stage names carry an ordering
    prefix so the funnel reads top-down when sorted.

    EXECUTES the funnel: each stage is persisted, counted once (so stage
    N+1 computes from stage N's cache instead of re-running the whole
    upstream chain — counting lazily made the funnel quadratic), and
    unpersisted before returning.  The result is a tiny local DataFrame
    of (stage, n) rows.
    """
    spark = next(iter(stages.values())).sparkSession
    rows: list[tuple[str, int]] = []
    cached = []
    for i, (name, df) in enumerate(stages.items()):
        if name != "raw":
            # persist() marks the logical plan itself — downstream stages
            # built on this frame hit the cache by plan identity
            df = df.persist()
            cached.append(df)
        if name == "split":
            for r in df.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect():
                rows.append((f"{i}_split_{r['split']}", r["n"]))
        else:
            rows.append((f"{i}_{name}", df.count()))
    for df in cached:
        df.unpersist()
    return spark.createDataFrame(rows, "stage string, n bigint")


def vocabulary(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_n: int = 100,
) -> DataFrame:
    """Corpus vocabulary: top-n tokens by collection frequency with
    document frequency — the input to tokenizer/BPE training and to
    stopword/quality heuristics.

    explode -> one hash aggregate (map-side combinable: both counts are
    sums/approx-distinct-free) -> TakeOrdered top-n.  Ties break on the
    token string so the result is total-ordered and engine-portable.
    """
    tok = (
        df.select(F.col(id_col).alias("__id"), F.lower(F.col(text_col)).alias("__t"))
        .select("__id", F.explode(tokens(F.col("__t"))).alias("token"))
    )
    counts = tok.groupBy("token").agg(
        F.count(F.lit(1)).alias("tf"),
        F.count_distinct(F.col("__id")).alias("df"),
    )
    return counts.orderBy(F.desc("tf"), F.asc("token")).limit(top_n)


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int = 512,
    stride: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split documents into (overlapping) token-window chunks — the
    context-length preparation step between curation and packing.

    Chunk ``i`` covers tokens ``[i*stride, i*stride + chunk_tokens)``;
    ``stride < chunk_tokens`` gives overlap, ``stride == chunk_tokens``
    (default) gives a disjoint partition.  A doc of n tokens yields
    ``1 + ceil((n - chunk_tokens) / stride)`` chunks (one if it fits),
    computed in integer arithmetic so any SQL oracle reproduces it
    bit-for-bit.  Everything is per-row array expressions (sequence +
    slice + posexplode): scan-speed, zero shuffle, provenance carried as
    (doc_id, chunk_id).  Empty docs yield no chunks.

    Returns (id, chunk_id, n_tokens, chunk_text).
    """
    from apache_arrow_spark.functions.text import tokens

    stride = stride or chunk_tokens
    if not (1 <= stride <= chunk_tokens):
        # stride > chunk would leave token gaps and emit empty tail
        # chunks (found by the hypothesis tiling property); every real
        # chunking scheme uses stride <= window
        raise ValueError(f"stride must be in [1, chunk_tokens]; got {stride}")
    toks = df.select(
        F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("toks")
    ).withColumn("n", F.size("toks"))
    k = F.when(F.col("n") <= chunk_tokens, F.lit(1)).otherwise(
        F.expr(f"(n - {chunk_tokens} + {stride} - 1) div {stride}") + F.lit(1)
    )
    chunks = (
        toks.filter(F.col("n") > 0)
        .withColumn("k", k)
        .select(
            "id",
            "toks",
            F.posexplode(F.sequence(F.lit(0), F.col("k") - 1)).alias("chunk_id", "_i"),
        )
        .select(
            "id",
            "chunk_id",
            F.slice(
                F.col("toks"), F.col("chunk_id") * stride + 1, chunk_tokens
            ).alias("ctoks"),
        )
    )
    return chunks.select(
        "id",
        "chunk_id",
        F.size("ctoks").alias("n_tokens"),
        F.array_join("ctoks", " ").alias("chunk_text"),
    )


def bpe_pair_counts(
    df: DataFrame,
    text_col: str = "text",
    top_n: int = 25,
) -> DataFrame:
    """First BPE merge iteration: corpus-weighted counts of adjacent
    character pairs inside words — the statistic a BPE tokenizer trainer
    maximizes each round (Sennrich et al., arXiv:1508.07909).

    Scale shape: pair extraction runs over the DISTINCT word vocabulary
    (Zipf-sublinear in corpus size), weighted by word frequency — exactly
    how production BPE trainers avoid rescanning the corpus per merge.
    The token stream collapses to (word, count) in one map-side-combinable
    aggregate; each distinct word then explodes into its length-1 adjacent
    pairs; the weighted pair aggregate is again combinable; top-n is a
    TakeOrdered with the pair string as tie-break.

    Returns (pair, cnt) — cnt = total corpus occurrences of the pair.
    """
    words = (
        df.select(F.explode(tokens(F.lower(F.col(text_col)))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("wc"))
        .filter(F.length("w") >= 2)
    )
    pairs = words.select(
        "wc",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("w") - 1),
                lambda i: F.col("w").substr(i, F.lit(2)),
            )
        ).alias("pair"),
    )
    counted = pairs.groupBy("pair").agg(F.sum("wc").alias("cnt"))
    return counted.orderBy(F.desc("cnt"), F.asc("pair")).limit(top_n)


def _range_scan(
    df: DataFrame, order_cols: list[str], part_agg: Column
) -> tuple[DataFrame, list[tuple[int, object]]]:
    """THE distributed ordered scan under every global ordered primitive
    here — the offsets-buffer computation of the reference's list layout
    (format/Layout.md) at table scale.  Range-partitions ``df`` on
    ``order_cols`` into ``compute_parallelism`` ranges, tags each row
    with its range ``__pid``, cuts the lineage with ``session.truncate``,
    and collects ``part_agg`` once per non-empty range.  Returns ``(p,
    [(pid, agg), ...])`` in pid order, which is key order; the caller
    folds the aggregates into per-range offsets (:func:`_exclusive_fold`)
    and adds them to a window partitioned by ``__pid`` — so no single-task
    ``OVER (ORDER BY ...)`` window ever runs, and one row per range
    crosses to the driver.

    The cut pins the ranges: boundaries are sample-derived, so a
    recompute could draw different ones and invalidate the collected
    offsets.  The explicit range count keeps AQE from coalescing a small
    input into one range, i.e. one task."""
    p = truncate(
        df.repartitionByRange(
            compute_parallelism(df.sparkSession), *[F.col(c) for c in order_cols]
        ).withColumn("__pid", F.spark_partition_id())
    )
    rows = p.groupBy("__pid").agg(part_agg.alias("__a")).collect()
    return p, sorted((r["__pid"], r["__a"]) for r in rows)  # pids are unique


def _exclusive_fold(aggs: list[tuple[int, object]], op, acc=None):
    """Exclusive scan of per-range aggregates: ``([(pid, fold of every
    EARLIER range's agg)], fold of all)``, starting from ``acc``.  NULL
    aggregates (a range whose values are all NULL) are skipped, so with
    ``acc=None`` an offset is NULL until the first non-NULL range."""
    out = []
    for pid, a in aggs:
        out.append((pid, acc))
        if a is not None:
            acc = a if acc is None else op(acc, a)
    return out, acc


def _pid_offsets(offsets: list[tuple[int, object]], dtype: DataType) -> Column:
    """Each row's range offset: a ``__pid -> value`` map of type ``dtype``
    looked up at ``__pid``.  Empty input has no ranges; the typed empty
    map keeps the lookup well-typed (it never evaluates on zero rows)."""
    if not offsets:
        m = F.map_from_arrays(
            F.array().cast("array<int>"), F.array().cast(ArrayType(dtype))
        )
    else:
        m = F.create_map(
            *[x for pid, v in offsets for x in (F.lit(pid), F.lit(v).cast(dtype))]
        )
    return m[F.col("__pid")]


def global_value_rank(
    df: DataFrame,
    order_cols: list[str],
    rank_col: str = "rank",
) -> DataFrame:
    """Distributed global rank by VALUE (1-based, exact): a
    :func:`_range_scan` counting each range, local ``row_number`` plus
    the count of every earlier range — the global order statistic with NO
    single-task window (``row_number() OVER (ORDER BY ...)`` funnels the
    whole dataset through one task; this never does).

    ``order_cols`` must form a total order (include a unique tiebreaker
    column) — with ties the cross-partition rank would depend on partition
    boundaries.  The total row count is already known from the range
    counts; callers needing it (tercile/quota arithmetic) read
    ``out._aas_rank_total`` instead of paying a whole count() job.

    This is the scalable primitive under rank-based stratification,
    percentile bucketing, and top-fraction selection at 100 TB."""
    p, counts = _range_scan(df, order_cols, F.count(F.lit(1)))
    before, total = _exclusive_fold(counts, operator.add, 0)
    w = Window.partitionBy("__pid").orderBy(*order_cols)
    out = p.withColumn(
        rank_col,
        (F.row_number().over(w) + _pid_offsets(before, LongType())).cast("bigint"),
    ).drop("__pid")
    out._aas_rank_total = total
    return out


def greedy_coverage_select(
    df: DataFrame,
    n_select: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> list[tuple[int, int, int]]:
    """Greedy max-coverage data selection (the submodular/facility-location
    recipe from the data-pruning literature): repeatedly pick the document
    whose token set adds the most NOT-YET-COVERED terms (ties to the
    lowest id), n_select rounds.  The greedy algorithm carries the
    classic (1 - 1/e) coverage guarantee, and every round is
    deterministic, so an external oracle replays the selection exactly.

    Returns [(doc_id, marginal_gain, covered_total), ...] in pick order.

    Scale shape per round: the corpus's distinct (doc, term) cells are
    computed ONCE and persisted; the covered-term set lives as a persisted
    DataFrame on the executors (union of the winners' live terms, one
    materializing count per round — NEVER collected to the driver or
    re-shipped via createDataFrame), and each round is one anti-join
    against it plus a combinable count.  The only driver traffic is ONE
    row per round (winner id + gain); covered_total is the running sum of
    gains, so no term ever crosses the driver boundary.  n_select rounds
    = n_select cheap aggregate passes over the cell table, never the
    text."""
    from apache_arrow_spark.functions.text import tokens

    cells = (
        df.select(F.col(id_col).alias("id"), F.explode(tokens(F.col(text_col))).alias("term"))
        .distinct()
        .persist()
    )
    cells.count()
    covered_df: DataFrame | None = None
    covered_total = 0
    picks: list[tuple[int, int, int]] = []
    for _ in range(n_select):
        live = cells
        if covered_df is not None:
            live = cells.join(F.broadcast(covered_df), "term", "left_anti")
        best = (
            live.groupBy("id")
            .agg(F.count(F.lit(1)).alias("gain"))
            .orderBy(F.col("gain").desc(), F.col("id").asc())
            .limit(1)
            .collect()
        )
        if not best or best[0]["gain"] == 0:
            break
        wid, gain = int(best[0]["id"]), int(best[0]["gain"])
        # the winner's LIVE terms are by construction disjoint from the
        # covered set, so a plain union stays duplicate-free and
        # covered_total advances by exactly `gain`
        new_terms = live.filter(F.col("id") == wid).select("term")
        nxt = (
            new_terms if covered_df is None else covered_df.union(new_terms)
        ).persist()
        nxt.count()  # materialize before dropping the previous round's cache
        if covered_df is not None:
            covered_df.unpersist()
        covered_df = nxt
        covered_total += gain
        picks.append((wid, gain, covered_total))
    cells.unpersist()
    if covered_df is not None:
        covered_df.unpersist()
    return picks


def global_running_min(
    df: DataFrame,
    order_cols: list[str],
    value_col: str,
    out_col: str = "running_min_before",
) -> DataFrame:
    """EXCLUSIVE global running minimum of ``value_col`` in ``order_cols``
    order (NULL before the first non-NULL value; NULLs are skipped, as
    ``min`` skips them): a :func:`_range_scan` taking each range's
    minimum, the local running min folded with the minima of all EARLIER
    ranges — no single-task global window.  The primitive under
    skyline/Pareto sweeps and "best seen so far" scans at 100 TB."""
    p, mins = _range_scan(df, order_cols, F.min(value_col))
    before, _ = _exclusive_fold(mins, min)
    # integral values widen to bigint, as the rank and sum columns do
    dtype = df.schema[value_col].dataType
    dtype = LongType() if isinstance(dtype, IntegralType) else dtype
    w = Window.partitionBy("__pid").orderBy(*order_cols).rowsBetween(
        Window.unboundedPreceding, -1
    )
    return p.withColumn(
        out_col, F.least(F.min(value_col).over(w), _pid_offsets(before, dtype))
    ).drop("__pid")


def global_running_sum(
    df: DataFrame,
    order_cols: list[str],
    value_col: str,
    out_col: str = "running_sum",
) -> DataFrame:
    """INCLUSIVE global running sum of ``value_col`` in ``order_cols``
    order (NULLs are skipped, as ``sum`` skips them; NULL before the first
    non-NULL value): a :func:`_range_scan` taking each range's total, the
    local cumsum plus the totals of all EARLIER ranges.  The grand total
    is already known from the range totals; callers needing it (token
    budgets) read ``out._aas_sum_total`` (None when every value is NULL)
    instead of paying a second aggregate pass.
    The sweep-line primitive (interval concurrency, token budgets, gap
    accounting) with no single-task window."""
    p, sums = _range_scan(df, order_cols, F.sum(value_col))
    before, total = _exclusive_fold(sums, operator.add)
    w = Window.partitionBy("__pid").orderBy(*order_cols).rowsBetween(
        Window.unboundedPreceding, 0
    )
    local, off = F.sum(value_col).over(w), _pid_offsets(before, LongType())
    out = p.withColumn(
        out_col, F.coalesce(local + off, local, off).cast("bigint")
    ).drop("__pid")
    out._aas_sum_total = total
    return out


def global_sequence_gaps(df: DataFrame, key_col: str) -> DataFrame:
    """Holes in an integer key sequence, computed DISTRIBUTED: a
    :func:`_range_scan` over the distinct keys, each range finding its
    internal gaps with a local lead window, and the seams between ranges
    repaired from the per-range (min, max) table (#ranges rows).  NULL
    keys are not part of the sequence.  Returns (gap_start, gap_end,
    gap_len).

    The single-window formulation (``lead() OVER (ORDER BY k)``) funnels
    every key through one task; this never does."""
    keys = df.select(F.col(key_col).cast("long").alias("k")).distinct()
    p, bounds = _range_scan(
        keys, ["k"], F.struct(F.min("k").alias("lo"), F.max("k").alias("hi"))
    )
    w = Window.partitionBy("__pid").orderBy("k")
    local = (
        p.withColumn("__nxt", F.lead("k").over(w))
        .filter(F.col("__nxt") - F.col("k") > 1)
        .select(
            (F.col("k") + 1).alias("gap_start"),
            (F.col("__nxt") - 1).alias("gap_end"),
        )
    )
    edges = [b for _, b in bounds if b["lo"] is not None]
    seams = [
        (prev["hi"] + 1, cur["lo"] - 1)
        for prev, cur in zip(edges, edges[1:])
        if cur["lo"] - prev["hi"] > 1
    ]
    seam_df = df.sparkSession.createDataFrame(seams, "gap_start long, gap_end long")
    return local.unionByName(seam_df).select(
        "gap_start",
        "gap_end",
        (F.col("gap_end") - F.col("gap_start") + 1).cast("long").alias("gap_len"),
    )


def grid_interpolate(
    df: DataFrame,
    key_col: str,
    time_col: str,
    value_col: str,
    step_ns: int,
    max_gap_ns: int | None = None,
) -> DataFrame:
    """Per-key linear interpolation of an irregular time series onto a
    regular grid (the feature-alignment step before joining sensor /
    metric streams sampled at different rates).

    For every key, grid instants ``t = h * step_ns`` strictly inside the
    key's observation span get ``v = v_prev + (v_next - v_prev) *
    ((t - t_prev) / (t_next - t_prev))`` from the bracketing
    observations; a grid point that coincides with an observation is a
    direct sample — it gets that observation's value exactly, and is
    never subject to the gap cap.  When ``max_gap_ns`` is set,
    interpolated points whose bracketing observations are further apart
    than the cap are suppressed (no bridging outages) — which also means
    no extrapolation ever happens (points outside the span have no
    bracket).

    Returns (key, grid_t, value_interp) with ``value_interp`` the raw
    double — callers quantize for cross-engine comparison.

    Scale shape: one ``lead`` window pairs each observation with its
    successor, and the grid materializes as a ``sequence`` explode of the
    slots each pair covers (grid rows ≈ span/step per key, never a
    calendar cross join) — 1 scan, 1 key-partitioned exchange, 1
    offset-frame window; embarrassingly parallel, no global window, no
    driver data.  The ratio is computed on int64 DELTAS cast to double
    (deltas ≪ 2^53, so the cast is exact even when absolute epoch-nanos
    are not)."""
    k, t, v = F.col(key_col), F.col(time_col), F.col(value_col)
    # Null-valued observations carry no value and must not act as bracket
    # endpoints, so they are dropped before bracketing on either side.
    obs = df.filter(v.isNotNull()).select(
        k.alias("__k"), t.cast("long").alias("__t"), v.cast("double").alias("__v")
    )
    step = int(step_ns)
    # r11 restructure (guide §2.4 — remove shuffles outright).  The old
    # shape generated the grid from a per-key span AGGREGATE, unioned it
    # under the observations and bracketed every grid row with two
    # unbounded carry windows: 2 scans of the source, 2 exchanges, and 2
    # full window passes over obs+grid rows.  But each grid instant's
    # bracket is simply the CONSECUTIVE observation pair around it, so
    # one ``lead`` window over the observations and a per-pair
    # sequence-explode of the covered grid slots produce the identical
    # rows from 1 scan, 1 exchange and 1 cheap offset-frame window —
    # and the window now runs BEFORE the grid multiplication instead of
    # after it.  Slot ownership: the pair (t0 -> t1) owns grid instants
    # t0 <= h*step < t1 (the coincident instant t0 is a direct sample;
    # instants at t1 belong to the next pair); the final observation
    # (t1 NULL) owns only its own coincident instant — which also makes
    # "no extrapolation" structural.  A max_gap cap suppresses the
    # strictly-interior slots of an over-wide pair, never the coincident
    # sample, exactly as before.
    #
    # explicit key repartition ahead of the lead window: the obs exchange
    # is byte-small, so AQE would coalesce it to ~2 tasks while the
    # explode below multiplies rows AFTER the exchange — byte costing
    # under-provisions the heavy stage.  A user repartition is
    # coalesce-exempt and IS the window's required partitioning (no extra
    # exchange).
    obs = obs.repartition(compute_parallelism(df.sparkSession), F.col("__k"))
    w = Window.partitionBy("__k").orderBy("__t")
    p = obs.withColumn("__tn", F.lead("__t").over(w)).withColumn(
        "__vn", F.lead("__v").over(w)
    )
    # first grid slot at or after this observation; last slot owned by the
    # pair (strictly before the next observation — epoch-ns times are
    # non-negative, so integer ``div`` is the floor in both expressions).
    # When max_gap caps an over-wide pair, only the coincident slot
    # survives (same predicate the old form applied post-window).
    h_lo = F.expr(f"(__t + {step - 1}) div {step}")
    h_hi_pair = F.expr(f"(__tn - 1) div {step}")
    h_coincident = F.expr(f"__t div {step}")
    gap_ok = (
        F.lit(True)
        if max_gap_ns is None
        else (F.col("__tn") - F.col("__t")) <= F.lit(int(max_gap_ns))
    )
    h_hi = F.when(
        F.col("__tn").isNull() | ~gap_ok, h_coincident
    ).otherwise(h_hi_pair)
    c = (
        p.select(
            "__k",
            "__t",
            "__v",
            "__tn",
            "__vn",
            h_lo.alias("__hlo"),
            h_hi.alias("__hhi"),
        )
        .filter(F.col("__hlo") <= F.col("__hhi"))
        .select(
            "__k",
            "__t",
            "__v",
            "__tn",
            "__vn",
            F.explode(F.sequence(F.col("__hlo"), F.col("__hhi"))).alias("__h"),
        )
        .withColumn("__g", (F.col("__h") * F.lit(step)).cast("long"))
    )
    ratio = (F.col("__g") - F.col("__t")).cast("double") / (
        F.col("__tn") - F.col("__t")
    ).cast("double")
    interp = F.when(F.col("__g") == F.col("__t"), F.col("__v")).otherwise(
        F.col("__v") + (F.col("__vn") - F.col("__v")) * ratio
    )
    return c.select(
        F.col("__k").alias(key_col),
        F.col("__g").alias("grid_t"),
        interp.alias("value_interp"),
    )
