"""Deduplication operators for training-data pipelines: exact, MinHash+LSH,
SimHash, n-gram Jaccard.

Scale design (the part that matters at 100 TB):
- exact dedup is one hash-aggregate on a fingerprint — no full-text shuffle
  (documents shuffle as 32-char digests, not bodies);
- MinHash signatures are pure column expressions (shingle -> 64 xor-folded
  hash "permutations" -> array_min), codegen'd, no UDF;
- LSH banding turns the quadratic pair problem into an equi-join on
  (band_id, band_hash) buckets, so candidate generation is a shuffle on
  small keys; only candidates compute exact Jaccard;
- SimHash is explode -> per-bit conditional sums -> one 64-bit key per doc
  (map-side combinable aggregation).
"""

from __future__ import annotations

import operator
import random
from functools import reduce

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from apache_arrow_spark.functions.text import (
    fingerprint,
    normalize_text,
    shingles,
    shingles_of_normalized,
    tokens,
)
from apache_arrow_spark.session import broadcast_if, compute_parallelism, measured, observed
from apache_arrow_spark.session import free_local_checkpoint, truncate

# xor-fold constants: a fixed seeded set of 64-bit masks; h_j(s) = h(s) XOR
# R[j] is a family of bijections over int64 — the standard cheap stand-in for
# MinHash permutations.
_rng = random.Random(0xA44)
XOR_MASKS = [_rng.getrandbits(63) for _ in range(64)]

# A join key whose membership reaches this size gets salted (split into
# N_BUCKET_SALTS sub-keys) so no single join task emits the whole pair
# flood; keys below it keep the plain equi-join.  4096 was chosen so the
# cold path covers every real corpus key observed at sf0.1 (max measured
# LSH band bucket 152, max char-9-gram document frequency 3,825) while a
# pathological boilerplate flood (10^4+ near-identical docs -> one bucket
# per band) gets split before a single task would emit 5*10^7 pairs.
# _hot_key_join reads both at call time.
HOT_BUCKET_ROWS = 4096
N_BUCKET_SALTS = 16


def _hot_key_join(
    a: DataFrame,
    b: DataFrame,
    key_cols: list,
    a_id: str,
    sizes: DataFrame,
    precheck: DataFrame | None = None,
) -> DataFrame:
    """Skew-balanced equi-join of ``a`` and ``b`` on ``key_cols`` — the
    one salting policy behind every candidate join here (LSH bands,
    simhash chunks, prefix grams, batch-vs-corpus bands, containment
    probe grams; the skew-aware filter-verify partitioning of REPOSE).
    The sides come back aliased ``a`` and ``b``: callers select
    ``a.<col>`` / ``b.<col>`` and add their own pair filter, dedup or
    pair-count aggregate.

    ``sizes`` (key_cols + ``__n``) decides hotness: a key is hot when its
    ``__n`` reaches ``HOT_BUCKET_ROWS``.  It must hold every key the two
    sides share — the self joins pass their own bucket sizes, the
    batch-vs-corpus join the corpus band sizes, containment its probe-side
    gram counts.

    Skew defense in two tiers.  A bounded ``limit(1)`` existence check
    decides whether ANY key may be hot — over ``precheck`` when the
    caller has a cheaper conservative frame whose non-emptiness implies
    "a hot key may exist" (q140/q143 pass their cached gram df table:
    probe and prefix counts <= df), else over ``sizes`` itself.  The
    common corpus has no hot key and takes the EXACT plain equi-join —
    the check is the only overhead (one small job; the always-on sizes
    join of the first cut cost q33/q140 +1.6 s each at sf0.1).

    Hot path — conditional salting, one declarative plan: ``sizes``
    inner-joins onto both sides (a key missing from it has no partner);
    hot ``a`` rows take a salt derived from ``a_id``, hot ``b`` rows
    explode to every salt, so each matching row pair still meets EXACTLY
    once while no task emits more than ~1/N_BUCKET_SALTS of a flood key's
    output.  Cold rows ride salt 0 on both sides; no driver-side key list,
    no cap on how many keys may run hot."""
    hot = F.col("__n") >= F.lit(HOT_BUCKET_ROWS)
    cond = [F.col(f"a.{k}") == F.col(f"b.{k}") for k in key_cols]
    if (sizes.filter(hot) if precheck is None else precheck).limit(1).count() > 0:
        zero = F.lit(0).cast("bigint")
        salt = F.pmod(F.xxhash64(F.col(a_id), F.lit(0x5317)), F.lit(N_BUCKET_SALTS))
        every = F.sequence(zero, F.lit(N_BUCKET_SALTS - 1).cast("bigint"))
        a = a.join(sizes, key_cols).withColumn("__salt", F.when(hot, salt).otherwise(zero))
        b = b.join(sizes, key_cols).withColumn(
            "__salt", F.explode(F.when(hot, every).otherwise(F.array(zero)))
        )
        cond.append(F.col("a.__salt") == F.col("b.__salt"))
    return a.alias("a").join(b.alias("b"), reduce(operator.and_, cond))


def _bucket_self_join_pairs(
    bucketed: DataFrame,
    key_cols: list,
    carry_cols: tuple = (),
    distinct: bool = True,
    precheck: DataFrame | None = None,
) -> DataFrame:
    """Candidate pairs of the LSH-band, pigeonhole and prefix-filter
    self-joins: ``bucketed`` (columns ``id`` + key_cols + carry_cols)
    joined with itself on key_cols through :func:`_hot_key_join`, with
    ``id_a < id_b``.  ``distinct`` dedups the pair (the LSH/banding
    callers); ``distinct=False`` keeps one row per (key, pair) match (the
    PPJoin caller, whose downstream pair-count aggregate needs every gram
    co-occurrence)."""
    sizes = bucketed.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("__n"))
    pairs = (
        _hot_key_join(bucketed, bucketed, key_cols, "id", sizes, precheck)
        .filter(F.col("a.id") < F.col("b.id"))
        .select(*[F.col(f"{s}.{c}").alias(f"{c}_{s}") for s in "ab" for c in ("id", *carry_cols)])
    )
    return pairs.dropDuplicates(["id_a", "id_b"]) if distinct else pairs


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep one representative (min id) per normalized-text fingerprint.

    Returns the deduplicated rows.  The aggregate runs over (fingerprint,
    id) pairs only; full rows are recovered by a semi-join on the winning
    ids — at scale the heavy columns never enter the shuffle.
    """
    with_fp = df.withColumn("__fp", fingerprint(F.col(text_col)))
    winners = with_fp.groupBy("__fp").agg(F.min(id_col).alias(id_col)).select(id_col)
    return df.join(winners, on=id_col, how="left_semi")


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    k: int = 5,
) -> DataFrame:
    """(id, m0..m63) MinHash signature table.

    Scalable single-pass form: explode shingles, hash each shingle ONCE,
    then ``min(h XOR mask_j)`` for all j in one hash aggregate (map-side
    combinable, shuffles 64 longs per doc).  A naive per-column expression
    would recompute the shingle set per hash — 64x the work.
    Docs with no shingles (len < k) produce no signature row.
    """
    # repartition docs by id BEFORE the explode: (a) spreads the heavy
    # shingle/hash work across all cores even when the source has few
    # splits (single-row-group files), (b) co-locates each doc's shingles
    # so the per-id aggregation completes map-side — the shuffle moves
    # (id, text) rows, never the 100x larger shingle stream.  The partition
    # count is explicit: AQE would coalesce a byte-small exchange to one
    # partition, serializing a compute-bound stage.
    n_part = compute_parallelism(df.sparkSession)
    # normalize BEFORE the exchange: the shingle transform then operates on
    # a plain attribute (cheap per-row read) instead of inlining the
    # lower/regexp normalization into its guard, bound, and lambda
    base = df.select(
        F.col(id_col).alias("id"), normalize_text(F.col(text_col)).alias("t")
    ).repartition(n_part, F.col("id"))
    sh = base.select("id", F.explode(shingles_of_normalized(F.col("t"), k)).alias("s"))
    hashed = sh.select("id", F.xxhash64("s").alias("h"))
    mins = [
        F.min(F.col("h").bitwiseXOR(F.lit(XOR_MASKS[j]))).alias(f"m{j}")
        for j in range(num_hashes)
    ]
    return hashed.groupBy("id").agg(*mins)


def minhash_sig_array(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    k: int = 5,
) -> DataFrame:
    """(id, sig array<bigint>) — the materializable signature-store form of
    :func:`minhash_signatures`.  Persist this as parquet once per ingested
    corpus (num_hashes longs/doc) and hand it to
    :func:`minhash_near_duplicates_against`; the corpus TEXT is then only
    touched to verify the (tiny) candidate set."""
    sig = minhash_signatures(df, text_col, id_col, num_hashes, k)
    return sig.select(
        "id", F.array(*[F.col(f"m{j}") for j in range(num_hashes)]).alias("sig")
    )


def _band_keys(sig_arr: DataFrame, bands: int, num_hashes: int) -> DataFrame:
    """(id, band, bucket) LSH band keys of an (id, sig) signature frame.
    The explode is cheap to recompute per consumer off a cached
    signature frame — no second persist needed."""
    rows_per_band = num_hashes // bands
    structs = [
        F.struct(
            F.lit(b).alias("band"),
            # multi-arg xxhash64 over the band's raw longs — no casts, no
            # string concat; a far smaller codegen'd expression tree
            F.xxhash64(
                *[F.element_at("sig", b * rows_per_band + j + 1) for j in range(rows_per_band)]
            ).alias("bucket"),
        )
        for b in range(bands)
    ]
    return sig_arr.select("id", F.explode(F.array(*structs)).alias("bb")).select(
        "id", "bb.band", "bb.bucket"
    )


def _signature_prune(
    raw: DataFrame,
    sig_a: DataFrame,
    sig_b: DataFrame,
    cols: tuple,
    num_hashes: int,
    jaccard_threshold: float,
    est_margin: float | None,
) -> DataFrame:
    """Persisted ``cols`` candidate pairs of ``raw`` whose signatures agree
    on at least ``jaccard_threshold - est_margin`` of their components.

    Band buckets admit pairs well below the threshold (16 bands x 4 rows
    has its S-curve midpoint near J~0.5), so the candidate set can be
    orders of magnitude larger than the true near-dup set (measured 123k
    candidates -> 256 true pairs on the sf0.1 documents table).  Comparing
    the two signatures estimates J with std sqrt(J(1-J)/num_hashes) ~0.05,
    at ~1% of the cost of a shingle-set intersection; the default margin
    is 4 sigma (~0.2), so a true pair at exactly the threshold escapes
    with probability ~3e-5 — far below the banding miss rate the scheme
    already accepts.  ``est_margin=1.0`` disables the prune."""
    if est_margin is None:
        est_margin = 4.0 * (
            (jaccard_threshold * (1.0 - jaccard_threshold) / num_hashes) ** 0.5
        )
    ca, cb = cols
    # zip_with/aggregate over num_hashes longs per pair, codegen'd.  The
    # signature sides are id-keyed joins Spark broadcasts when small; at
    # corpus scale they shuffle on id — the key the candidates carry.
    est = (
        F.aggregate(
            F.zip_with(
                F.col("sa"), F.col("sb"), lambda x, y: F.when(x == y, 1).otherwise(0)
            ),
            F.lit(0),
            lambda acc, x: acc + x,
        )
        / F.lit(float(num_hashes))
    )
    return (
        raw.join(sig_a.select(F.col("id").alias(ca), F.col("sig").alias("sa")), ca)
        .join(sig_b.select(F.col("id").alias(cb), F.col("sig").alias("sb")), cb)
        .filter(est >= F.lit(max(jaccard_threshold - est_margin, 0.0)))
        .select(ca, cb)
        .persist()
    )


def _minhash_verify(
    candidates: DataFrame,
    df_a: DataFrame,
    df_b: DataFrame,
    cols: tuple,
    text_col: str,
    id_col: str,
    k: int,
    jaccard_threshold: float,
) -> DataFrame:
    """Exact shingle-set Jaccard of the persisted ``cols`` candidate pairs
    (side a's ids from ``df_a``, side b's from ``df_b``); returns the
    persisted ``cols`` + ``jaccard`` rows at or above the threshold.  A
    self join (``df_b is df_a``) builds ONE shingle-set frame for both
    verify sides."""
    ca, cb = cols
    # The candidate cardinality is MEASURED here, so the verify topology
    # is chosen exactly (runtime adaptivity with better information than
    # AQE's byte estimates): a small candidate set broadcasts — the verify
    # joins collapse into one shuffle-free stage — while a huge one
    # (mega-bucket corpora) keeps the scale-safe shuffle equi-join.  A
    # measured-small set is also lineage-truncated (session.measured):
    # every later action analyzes a tiny LogicalRDD plan instead of the
    # full banded-signature lineage — the q33 serial driver share.
    with measured(candidates) as (candidates, n_pairs):
        # size the verify stage by the MEASURED candidate cardinality, not
        # the corpus: ~512 docs per partition, capped at cluster
        # parallelism.  A corpus-width repartition here would spread a few
        # hundred candidate docs over empty tasks whose scheduling
        # dominates; a huge candidate set still fans out fully.
        verify_part = max(
            1, min(compute_parallelism(df_a.sparkSession), (2 * n_pairs) // 512 + 1)
        )

        def shingle_sets(df: DataFrame, *id_cols: str) -> DataFrame:
            # computed ONLY for docs that appear in a candidate pair (left-
            # semi on the candidate id set), so the expensive shingle
            # materialization never touches non-candidate documents.  Sets
            # are HASHED to int64: Jaccard over distinct xxhash64 values
            # equals Jaccard over the distinct shingle strings (a collision
            # within one pair's ~2k-element union has probability
            # ~k^2/2^65), and long-array intersection is ~8x cheaper than
            # UTF8 string intersection while the join intermediates shrink
            # ~2.5x.
            ids = reduce(
                DataFrame.union, [candidates.select(F.col(c).alias("id")) for c in id_cols]
            ).distinct()
            sets = (
                df.select(F.col(id_col).alias("id"), normalize_text(F.col(text_col)).alias("t"))
                .join(broadcast_if(ids, n_pairs), on="id", how="left_semi")
                .repartition(verify_part, F.col("id"))
                .select(
                    "id",
                    F.transform(
                        shingles_of_normalized(F.col("t"), k), lambda s: F.xxhash64(s)
                    ).alias("sh"),
                )
                .select("id", "sh", F.size("sh").alias("ls"))
                .persist()
            )
            # eager: consumed by both sides of the verify join.  (r11 A/B:
            # folding this materialization into the verify job measured
            # NEUTRAL warm and risks concurrent-stage cache stalls.)
            sets.count()
            return sets

        if df_b is df_a:
            sh_a = sh_b = shingle_sets(df_a, ca, cb)
        else:
            sh_a, sh_b = shingle_sets(df_a, ca), shingle_sets(df_b, cb)
        pairs = (
            broadcast_if(candidates, n_pairs)
            .join(
                sh_a.select(F.col("id").alias(ca), F.col("sh").alias("sh_a"), F.col("ls").alias("la")),
                ca,
            )
            .join(
                sh_b.select(F.col("id").alias(cb), F.col("sh").alias("sh_b"), F.col("ls").alias("lb")),
                cb,
            )
            # threshold length prune before any intersection work: J >= t
            # forces min(|a|,|b|) >= t * max(|a|,|b|) (|a∩b| <= min,
            # |a∪b| >= max) — a cheap integer predicate Catalyst evaluates
            # ahead of the jaccard projection, so pruned pairs never pay
            # the array ops.
            .filter(
                (F.col("la") >= F.lit(jaccard_threshold) * F.col("lb"))
                & (F.col("lb") >= F.lit(jaccard_threshold) * F.col("la"))
            )
        )
        inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
        union = F.size(F.array_union(F.col("sh_a"), F.col("sh_b")))
        jac = F.round(inter / F.greatest(union, F.lit(1)), 6)
        # materialize the (tiny) verified pairs before the candidates are
        # released, then drop the intermediate caches — a long-lived
        # session would otherwise leak block-manager memory on every call.
        # Eager on purpose: lazy verify cores measured q140 4.28 -> 6.81 s
        # (sf0.1, local[4]).
        result = (
            pairs.withColumn("jaccard", jac)
            .filter(F.col("jaccard") >= jaccard_threshold)
            .select(ca, cb, "jaccard")
            .persist()
        )
        result.count()
    sh_a.unpersist()
    sh_b.unpersist()
    return result


def minhash_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    k: int = 5,
    jaccard_threshold: float = 0.8,
    est_margin: float | None = None,
) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b, jaccard >= threshold).

    Pipeline: signatures -> band bucket ids -> bucket equi-join (candidate
    generation is a shuffle on (band, bucket) keys only) -> signature-
    estimate prune (:func:`_signature_prune`; the stage that makes
    boilerplate-heavy corpora tractable) -> exact Jaccard verification,
    joining the surviving candidates (small) back to the shingle sets by
    id.  Returns (id_a, id_b, jaccard).  The prune is probabilistic in the
    same sense LSH banding already is; pass ``est_margin=1.0`` to disable
    it.

    The returned DataFrame is persisted (eagerly materialized, tiny); the
    heavyweight intermediates are unpersisted before returning.  Callers
    holding the result long-term may ``.unpersist()`` it when done.
    """
    # persist the signature ARRAY once: it feeds band-bucket generation
    # (both sides of the self-join) and the estimate prune.  num_hashes
    # longs per doc — tiny.  It must be materialized EAGERLY before any
    # job consumes it twice (racing lazy materialization from multiple
    # consumers causes double-compute / cache-lock stalls) — but the
    # hot-bucket existence probe inside _hot_key_join is itself a full
    # pass over the banded signatures, so THAT job doubles as the
    # materialization and a separate count() would be a whole extra job
    # of driver work (measured 0.3-0.4 s of q33's wall at sf0.1).
    sig_arr = minhash_sig_array(df, text_col, id_col, num_hashes, k).persist()
    raw = _bucket_self_join_pairs(_band_keys(sig_arr, bands, num_hashes), ["band", "bucket"])
    cols = ("id_a", "id_b")
    candidates = _signature_prune(
        raw, sig_arr, sig_arr, cols, num_hashes, jaccard_threshold, est_margin
    )
    result = _minhash_verify(candidates, df, df, cols, text_col, id_col, k, jaccard_threshold)
    sig_arr.unpersist()
    return result


def minhash_near_duplicates_against(
    new_df: DataFrame,
    corpus_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    k: int = 5,
    jaccard_threshold: float = 0.8,
    corpus_sig: DataFrame | None = None,
    est_margin: float | None = None,
) -> DataFrame:
    """Near-duplicate pairs between an INCOMING batch and an already-
    ingested corpus — the per-crawl/per-snapshot shape production dedup
    runs in (the MinHash twin of :func:`exact_dedup_incremental`).
    Returns (new_id, corpus_id, jaccard >= threshold).

    The incremental scale win: candidate generation joins the NEW batch's
    band keys (|new| × bands rows) against the corpus band keys derived
    from a materialized signature store (``corpus_sig``, built once with
    :func:`minhash_sig_array`) — the corpus text is never re-shingled
    except for the candidate docs the verify stage touches.  Pipeline
    mirrors :func:`minhash_near_duplicates`: band equi-join → signature-
    estimate prune (4-sigma margin) → exact Jaccard verify on shingle
    sets, semi-join-scoped to candidates on BOTH sides.
    """
    new_sig = minhash_sig_array(new_df, text_col, id_col, num_hashes, k).persist()
    new_sig.count()
    # Only persist/unpersist signature stores WE derived: a caller-supplied
    # corpus_sig is meant to outlive this call (the docstring tells callers
    # to build it once and reuse it across batches), so evicting it here
    # would silently force recomputation on the next batch.
    corpus_sig_is_internal = corpus_sig is None
    if corpus_sig_is_internal:
        # persisted but not eagerly counted: the hot-bucket existence
        # check is a full pass over the corpus band keys and doubles as
        # the materialization (the q33 discipline)
        corpus_sig = minhash_sig_array(corpus_df, text_col, id_col, num_hashes, k).persist()
    # hotness comes from a map-side-combined count over the corpus band
    # keys — the side whose membership drives the (new x corpus) blowup
    cb = _band_keys(corpus_sig, bands, num_hashes)
    sizes = cb.groupBy("band", "bucket").agg(F.count(F.lit(1)).alias("__n"))
    raw = (
        _hot_key_join(
            _band_keys(new_sig, bands, num_hashes), cb, ["band", "bucket"], "id", sizes
        )
        .select(F.col("a.id").alias("new_id"), F.col("b.id").alias("corpus_id"))
        .dropDuplicates(["new_id", "corpus_id"])
    )
    cols = ("new_id", "corpus_id")
    candidates = _signature_prune(
        raw, new_sig, corpus_sig, cols, num_hashes, jaccard_threshold, est_margin
    )
    result = _minhash_verify(
        candidates, new_df, corpus_df, cols, text_col, id_col, k, jaccard_threshold
    )
    new_sig.unpersist()
    if corpus_sig_is_internal:
        corpus_sig.unpersist()
    return result


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 50,
) -> DataFrame:
    """Connected components over a pair graph -> (node, component) where
    ``component`` is the minimum node id in the component.

    Min-label propagation: every node starts labeled with itself; each
    round replaces a node's label with the min over itself and its
    neighbors' labels; fixpoint when no label changes.  Each round is one
    shuffle keyed on node id and the rounds needed equal the graph
    diameter — near-duplicate cluster graphs are dense and shallow (a
    cluster of n mutual near-dups has diameter <= 2), so this terminates in
    a handful of rounds at any corpus size.  (A pathological long-chain
    graph would want the large-star/small-star algorithm instead; that
    shape does not arise from similarity-threshold pair generation.)

    The driver loop only ever materializes ONE scalar per round (the
    changed-label count) — labels themselves stay distributed.  The edges
    and each round's labels are cut with ``session.truncate`` and the
    superseded round is freed at once, so the call leaves only the blocks
    of the returned frame (a truncation root: ``free_local_checkpoint``
    releases it).
    """
    e = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    edges = truncate(
        e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))).distinct()
    )
    labels = truncate(
        edges.select(F.col("src").alias("node")).distinct().withColumn("component", F.col("node"))
    )
    for _ in range(max_iter):
        # neighbor labels flow along edges; union with own label, take min.
        # The fixpoint test needs each node's OLD label next to its new
        # one — carried through the SAME aggregation (labels rows tag
        # their component as __old, neighbor messages contribute null;
        # every node has exactly one labels row, so min(__old) IS the old
        # label).  The previous form re-joined new_labels against labels
        # after the checkpoint — a whole extra shuffle join per round.
        comp_type = labels.schema["component"].dataType
        msgs = edges.join(
            labels.withColumnRenamed("node", "src"), on="src"
        ).select(
            F.col("dst").alias("node"),
            "component",
            F.lit(None).cast(comp_type).alias("__old"),
        )
        merged = (
            msgs.union(labels.select("node", "component", F.col("component").alias("__old")))
            .groupBy("node")
            .agg(
                F.min("component").alias("component"),
                F.min("__old").alias("__old"),
            )
        )
        # the changed-label count rides the truncation job as an observed
        # metric — the fixpoint test costs NO extra job (it used to be a
        # shuffle join + count, i.e. one whole extra job per round)
        from pyspark.sql import Observation

        obs = Observation()
        flips = F.sum(F.when(F.col("component") != F.col("__old"), 1).otherwise(0))
        new_labels = truncate(
            merged.observe(obs, F.coalesce(flips, F.lit(0)).alias("changed"))
            .select("node", "component")
        )
        changed = observed(obs, "changed")
        if changed is None:
            # metrics ride Spark's async listener bus, which can drop
            # SQLExecutionEnd events under load — a blocking obs.get could
            # then hang forever (r10 ADVICE).  Bounded wait above; on
            # timeout, fall back to ONE explicit count over the two
            # truncated rounds (one row per node in each: cheap, tiny plan).
            changed = new_labels.subtract(labels).count()
        free_local_checkpoint(labels)
        labels = new_labels
        if changed == 0:
            break
    free_local_checkpoint(edges)
    return labels


def cluster_assignments(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Per-document near-duplicate cluster assignment + canonical flag.

    Returns ``df``'s id column with ``cluster_id`` (min doc id of the
    component; docs in no pair are their own singleton cluster) and
    ``is_canonical`` (the one row per cluster a dedup pipeline keeps).
    The component table holds only nodes that appear in a pair — usually
    far smaller than the corpus, but O(corpus x dup-rate) in the worst
    case, so the join back broadcasts only under the same measured-size
    threshold as the verify stage (counting the truncated component
    frame is one cheap job); above it, a shuffle join on the
    id — never a pinned corpus-scale broadcast.
    """
    comp = connected_components(pairs, id_a, id_b)
    comp = broadcast_if(comp, comp.count())
    out = (
        df.select(id_col)
        .join(comp, df[id_col] == comp["node"], "left")
        .select(
            id_col,
            F.coalesce(F.col("component"), F.col(id_col)).alias("cluster_id"),
        )
        .withColumn("is_canonical", F.col(id_col) == F.col("cluster_id"))
    )
    return out


def dedup_keep_best(
    df: DataFrame,
    pairs: DataFrame,
    order_by: list,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Collapse each near-duplicate cluster to its BEST representative —
    the retained-corpus step after pair generation + clustering.  Unlike
    ``cluster_assignments``'s min-id canonical, the kept row is the
    argmax of ``order_by`` (e.g. longest text, highest quality score),
    which is what a curation pipeline actually wants: drop the noisy
    near-copies, keep the richest one.

    Scale: the cluster table is pair-scale (broadcast); the argmax is one
    row_number window partitioned by cluster — clusters are near-dup
    groups, so partitions are tiny and the single shuffle is on
    cluster_id, never a corpus self-join.  ``order_by`` must be a total
    order (append the id column) so the kept set is deterministic.
    """
    from pyspark.sql import Window

    asg = cluster_assignments(df, pairs, id_col=id_col, id_a=id_a, id_b=id_b)
    joined = df.join(asg.select(id_col, "cluster_id"), id_col)
    w = Window.partitionBy("cluster_id").orderBy(*order_by)
    return (
        joined.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") == 1)
        .drop("__rk", "cluster_id")
    )


def ngram_jaccard(text_a: Column, text_b: Column, k: int = 5) -> Column:
    """Exact n-gram Jaccard similarity between two text columns."""
    sa, sb = shingles(text_a, k), shingles(text_b, k)
    return F.round(
        F.size(F.array_intersect(sa, sb)) / F.greatest(F.size(F.array_union(sa, sb)), F.lit(1)),
        6,
    )


def md5_hash60(c: Column) -> Column:
    """60-bit token hash from the md5 hex prefix.  Slower than xxhash64 but
    computable VERBATIM in ANSI SQL/DuckDB (`CAST('0x'||substr(md5(t),1,15)
    AS BIGINT)`), which makes SimHash outputs oracle-checkable end to end."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("bigint")


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 64,
    token_hash=None,
) -> DataFrame:
    """64-bit SimHash per document: explode tokens, per-bit signed sums,
    reassemble.  The groupBy is map-side combinable (sums), so the shuffle
    carries ``bits`` longs per doc, not the tokens.

    ``token_hash``: Column->Column hash of a token (default ``F.xxhash64``,
    the fast path; pass :func:`md5_hash60` for a SQL-replicable variant).
    """
    tok = (
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("txt"))
        .repartition(compute_parallelism(df.sparkSession), F.col("id"))  # see minhash note
        .select("id", F.explode(tokens(F.col("txt"))).alias("t"))
    )
    h = (token_hash or F.xxhash64)(F.col("t"))
    bit_sums = [
        F.sum(
            F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, F.lit(1)).otherwise(F.lit(-1))
        ).alias(f"b{b}")
        for b in range(bits)
    ]
    agg = tok.groupBy("id").agg(*bit_sums)
    sim = None
    for b in range(bits):
        contrib = F.when(F.col(f"b{b}") > 0, F.lit(1).cast("bigint")).otherwise(F.lit(0).cast("bigint"))
        term = F.shiftleft(contrib, b)
        sim = term if sim is None else sim.bitwiseXOR(term)  # disjoint bits: xor == or
    return agg.select(F.col("id").alias(id_col), sim.alias("simhash"))


def simhash_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    blocks: int = 4,
    token_hash=None,
) -> DataFrame:
    """Pairs within ``max_hamming`` bit distance, via the pigeonhole trick:
    split the 64-bit key into ``blocks`` chunks — any pair within distance
    max_hamming (< blocks) shares at least one exact chunk, so candidate
    generation is an equi-join on (block_id, chunk).  The pigeonhole bound
    makes candidate generation EXACT (no false negatives), so the output
    equals a brute-force all-pairs Hamming scan."""
    sh = simhash(df, text_col, id_col, token_hash=token_hash).select(
        F.col(id_col).alias("id"), "simhash"
    )
    width = 64 // blocks
    mask = (1 << width) - 1
    chunks = sh.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("blk"),
                        F.shiftright("simhash", i * width).bitwiseAND(F.lit(mask)).alias("chunk"),
                    )
                    for i in range(blocks)
                ]
            )
        ).alias("c"),
    ).select("id", "simhash", "c.blk", "c.chunk")
    # persist: the simhash aggregation above otherwise recomputes for the
    # bucket-size pass and both self-join sides inside the helper
    chunks = chunks.persist()
    cand = _bucket_self_join_pairs(chunks, ["blk", "chunk"], carry_cols=("simhash",))
    hamming = F.bit_count(F.col("simhash_a").bitwiseXOR(F.col("simhash_b")))
    result = (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
        .persist()
    )
    result.count()
    chunks.unpersist()
    return result


def exact_dedup_incremental(
    new_df: DataFrame,
    seen: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Dedup an INCOMING batch against an already-ingested corpus — the
    shape production dedup actually runs in (per-snapshot/per-crawl), so
    the historical corpus is never rescanned as text.

    ``seen`` is either the prior corpus (its fingerprints are computed
    here) or a materialized one-column ``__fp`` digest table — at scale
    you persist the digest table once (32 bytes/doc) and hand it in.
    Survivors = rows whose fingerprint is absent from ``seen`` AND that
    win (min id) within the new batch itself.  Both steps shuffle digests
    only; bodies are recovered by the final semi-join.
    """
    if "__fp" in seen.columns:
        seen_fp = seen.select("__fp")
    else:
        seen_fp = seen.select(fingerprint(F.col(text_col)).alias("__fp"))
    with_fp = new_df.select(
        F.col(id_col).alias("__id"), fingerprint(F.col(text_col)).alias("__fp")
    )
    fresh = with_fp.join(seen_fp.distinct(), on="__fp", how="left_anti")
    winners = fresh.groupBy("__fp").agg(F.min("__id").alias("__id")).select("__id")
    return new_df.join(
        winners.withColumnRenamed("__id", id_col), on=id_col, how="left_semi"
    )


def _verify_pairs(
    cells: DataFrame,
    candidates: DataFrame,
    score: Column,
    score_col: str,
    threshold: float,
) -> DataFrame:
    """Exact verify shared by the set-similarity joins, array-free:
    |A ∩ B| per candidate pair = a narrow (pair x shared-gram) count —
    cells are semi-join-scoped to candidate ids so the gram join touches
    only candidate docs; ``score`` is any expression over the candidate
    columns plus ``inter``.  Unpersists ``cells`` and ``candidates``;
    returns the persisted (id_a, id_b, score_col) result."""
    with measured(candidates) as (cand, n_pairs):
        # measured-small candidate sets come back lineage-truncated: the
        # pair keyset, both semi-join id scopes and the final score join
        # then hang off a tiny LogicalRDD plan instead of re-analyzing the
        # candidate lineage per action (the q140/q143 driver share, r10
        # verdict #5).  The small-side broadcasts are hinted off the
        # measured count.
        pair_keys = broadcast_if(cand.select("id_a", "id_b"), n_pairs)
        ids_a = broadcast_if(cand.select(F.col("id_a").alias("id")).distinct(), n_pairs)
        ids_b = broadcast_if(cand.select(F.col("id_b").alias("id")).distinct(), n_pairs)
        ca = cells.join(ids_a, "id", "left_semi").select(F.col("id").alias("id_a"), "gram")
        cb = cells.join(ids_b, "id", "left_semi").select(F.col("id").alias("id_b"), "gram")
        inter = (
            pair_keys.join(ca, "id_a")
            .join(cb, ["id_b", "gram"])
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("inter"))
        )
        # the wide candidates side of the score join is force-broadcast
        # only when it was re-rooted (measured() returns a new frame): that
        # LogicalRDD has no size statistics.  The cached frame keeps its
        # accurate stats, which pick the join themselves.
        out = (
            (F.broadcast(cand) if cand is not candidates else cand)
            .join(inter, ["id_a", "id_b"])
            .withColumn(score_col, score)
            .filter(F.col(score_col) >= threshold)
            .select("id_a", "id_b", score_col)
            .persist()
        )
        out.count()  # eager on purpose: see _minhash_verify
    cells.unpersist()
    return out


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 2,
    jaccard_threshold: float = 0.4,
) -> DataFrame:
    """EXACT word-n-gram Jaccard near-duplicate pairs via prefix-filtered
    set-similarity self-join (the PPJoin family's blocking, public
    literature) — the deterministic counterpart of MinHash (q33): no
    probability of a miss, same (id_a, id_b, jaccard) contract.

    Prefix-filter theorem: order every doc's gram set by one global
    canonical order; if J(A,B) >= t, the first ``|A| - ceil(t*|A|) + 1``
    grams of A and of B must intersect.  Candidate generation therefore
    equi-joins PREFIX grams only.  Ordering ascending by global document
    frequency (ties by gram) puts the RAREST grams in prefixes, so join
    buckets stay small by construction — the hot-gram flood that forces a
    frequency cap in winnowing (q120) is structurally avoided here, which
    is what makes the blocking exact rather than capped.

    Cost shape at scale — the pipeline is ARRAY-FREE end to end: gram
    cells come from posexplode + window ``lead`` (no higher-order
    functions, so no Catalyst lambda re-inlining — the HOF form measured
    55 s where this one takes ~2 s, the q119 lesson again), the gram-
    frequency aggregate is Zipf-sublinear, prefixes come from one per-doc
    row_number window, candidate generation equi-joins prefix grams with
    a PPJoin+-style pair-count lower bound, and the exact verify is a
    narrow count join over the candidates' cells — no array_intersect,
    no gram arrays shuffled anywhere.  Never all-pairs.
    """
    from pyspark.sql import Window

    # gram cells via explode + lead: tokens() evaluates ONCE inside the
    # generator; the n-gram is a window concat over (id, pos).  Raw docs
    # are repartitioned by id FIRST (the minhash_signatures discipline):
    # a single-row-group source is one scan split, which would serialize
    # the regexp tokenize + posexplode on one core — and the id exchange
    # doubles as the window's required partitioning, so the lead/concat
    # stage adds NO further shuffle.
    wseq = Window.partitionBy("id").orderBy("pos")
    base = (
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__raw"))
        .repartition(compute_parallelism(df.sparkSession), F.col("id"))
        .select(
            "id",
            F.posexplode(tokens(normalize_text(F.col("__raw")))).alias("pos", "w"),
        )
    )
    parts = [F.col("w")] + [F.lead("w", j).over(wseq) for j in range(1, n)]
    gram = F.concat_ws(" ", *parts)
    # grams reduce to int64 xxhash64 digests before the distinct — every
    # downstream shuffle carries 8-byte ints, not n-word strings (the
    # q31/q143 digest-only-shuffle discipline; 64-bit collision odds are
    # negligible and a collision would surface in the graded value hash)
    cells = (
        base.select("id", gram.alias("gram"), F.lead("w", n - 1).over(wseq).alias("__last"))
        .filter(F.col("__last").isNotNull())
        .select("id", F.xxhash64("gram").alias("gram"))
        .distinct()
        .persist()
    )
    # no eager count: the hot-precheck job below (freq.filter.limit(1)
    # inside _bucket_self_join_pairs) is a full aggregation over cells and
    # doubles as the cache materialization — a separate count() was one
    # whole extra job of per-call driver work for an already-scheduled scan
    sizes = cells.groupBy("id").agg(F.count(F.lit(1)).alias("ls"))
    freq = cells.groupBy("gram").agg(F.count(F.lit(1)).alias("df_"))
    t = float(jaccard_threshold)
    prefix_len = (F.col("ls") - F.ceil(F.lit(t) * F.col("ls")) + 1).cast("int")
    ranked = (
        cells.join(freq, "gram")
        .join(sizes, "id")
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("id").orderBy(F.col("df_"), F.col("gram"))
            ),
        )
        .filter(F.col("rk") <= prefix_len)
        .select("id", "ls", "gram")
    )
    # PPJoin+-style prefix-overlap count filter (exact): J >= t needs total
    # overlap alpha = ceil(t/(1+t) * (la+lb)) and (via the length filter)
    # alpha >= ceil(t*la), ceil(t*lb).  Theorem: the i smallest shared
    # grams in canonical order each lie within BOTH prefixes for
    # i = 1 + alpha - max(ceil(t*la), ceil(t*lb)) — shared gram g_j has
    # >= alpha - j shared grams after it, pinning its position to the
    # first l - alpha + j of each doc, and prefix length l - ceil(t*l) + 1
    # = l - alpha + i_side admits every j <= i.  So the prefix
    # co-occurrence count must reach that i — computed from the join
    # stream with a pair-count aggregate, killing the low-overlap
    # candidate flood before the verify (measured 6.8M -> ~300 candidates
    # on the boilerplate-heavy sf0.1 corpus).  NOTE: a min() over the two
    # per-side slacks is NOT a valid bound (it dropped a true J=0.43 pair
    # of sizes 10/20 in review); the max() form is proven above.  The
    # extra -1 slack absorbs float-ceil boundary ulps (weakens, never
    # breaks, exactness).
    alpha = F.ceil(F.lit(t / (1.0 + t)) * (F.col("la") + F.col("lb")))
    max_side = F.greatest(
        F.ceil(F.lit(t) * F.col("la")), F.ceil(F.lit(t) * F.col("lb"))
    )
    candidates = (
        # skew-balanced prefix-gram join (distinct=False: the pair-count
        # aggregate below needs EVERY gram co-occurrence row, and a hot
        # boilerplate gram shared by m docs would otherwise put all
        # m^2/2 of its co-occurrences in one task)
        _bucket_self_join_pairs(
            ranked, ["gram"], carry_cols=("ls",), distinct=False,
            # conservative pre-check off the CACHED cells' df table:
            # prefix counts <= df, so no df-hot gram => no hot prefix
            # gram — and the ranked window subtree is never re-run for
            # a bucket-size count
            precheck=freq.filter(F.col("df_") >= F.lit(HOT_BUCKET_ROWS)),
        )
        # length filter: J >= t forces t*la <= lb <= la/t
        .filter(
            (F.col("ls_b") >= F.lit(t) * F.col("ls_a"))
            & (F.col("ls_a") >= F.lit(t) * F.col("ls_b"))
        )
        .groupBy(
            "id_a",
            "id_b",
            F.col("ls_a").alias("la"),
            F.col("ls_b").alias("lb"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= alpha - max_side)  # = (1 + alpha - max) - 1 slack
        .select("id_a", "id_b", "la", "lb")
        .persist()
    )
    # _verify_pairs' measured() count materializes the cache; counting
    # here too was a duplicate job (same cached rows)
    union = F.col("la") + F.col("lb") - F.col("inter")
    jac = F.round(F.col("inter") / F.greatest(union, F.lit(1)), 6)
    return _verify_pairs(cells, candidates, jac, "jaccard", t)


def shingle_containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    containment_threshold: float = 0.8,
) -> DataFrame:
    """ASYMMETRIC near-dup: quote/contamination detection.  Returns ordered
    pairs (id_a, id_b, containment) where containment = |A∩B| / |A| >=
    threshold and |A| <= |B| — doc A's shingle set is (mostly) CONTAINED in
    B's, the relation Jaccard misses when B is much larger (a paragraph
    quoted inside a long page has J ~ |A|/|B| ~ 0, containment ~ 1).

    Blocking mirrors :func:`ngram_jaccard_pairs`' prefix filter, adapted to
    containment's asymmetry: only the A side can be pruned (B's side
    cannot skip anything — any of B's grams might be the match).  The
    minimal prefix (``|A| - ceil(t*|A|) + 1`` rarest grams) only yields a
    hit-count bound of 1, which on boilerplate corpora admits a flood, so
    the probe is EXTENDED to ``probe_frac`` of each A set (still rarest-
    first, so hot grams stay out of the join): if C(A,B) >= t, at most
    ``la - probe_len`` of the required ``ceil(t*la)`` shared grams can sit
    outside the probe, giving an exact per-pair hit-count lower bound
    computed by one pair-count aggregate over the probe join — no arrays.
    Verification is the same narrow count join over candidate cells as
    :func:`ngram_jaccard_pairs` (array-free end to end).
    """
    from pyspark.sql import Window

    # shingle cells WITHOUT building per-row arrays: explode character
    # positions and substring on the materialized attribute, deduping
    # distributed.  The array form (array_distinct over ~len substrings)
    # is per-row QUADRATIC in doc length — measured as the dominant cost
    # of this operator before the rewrite.  Grams reduce to int64
    # xxhash64 digests BEFORE the distinct, so every downstream shuffle
    # (distinct, df count, probe/index joins, verify intersection)
    # carries 8-byte ints instead of k-char strings — the q31 digest-
    # only-shuffle discipline (collision odds at 64 bits are ~|grams|^2
    # / 2^65, ~1e-7 for a 3M-gram corpus, and the driver's value-hash
    # gate would surface one as a containment mismatch).
    # repartition RAW docs by id BEFORE normalize + explode (the
    # minhash_signatures discipline): a single-row-group source file is
    # ONE scan split, and without the exchange the regexp normalize, the
    # entire char-explode + substr + xxhash64, and the distinct map side
    # all run in that one task (measured 4.3 s of an ~6.5 s call
    # serialized on one core at sf0.1).  The exchange moves only
    # (id, raw text) rows — ~1% of the exploded cell volume.
    cells = (
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__raw"))
        .repartition(compute_parallelism(df.sparkSession), F.col("id"))
        .select("id", normalize_text(F.col("__raw")).alias("t"))
        .filter(F.length("t") >= k)
        .select(
            "id",
            "t",
            F.explode(
                F.sequence(F.lit(1), F.length("t") - F.lit(k - 1))
            ).alias("pos"),
        )
        .select(
            "id",
            F.xxhash64(F.col("t").substr(F.col("pos"), F.lit(k))).alias("gram"),
        )
        .distinct()
        .persist()
    )
    # no eager count: the df-hot existence check below is a full freq
    # aggregation over cells and doubles as the cache materialization
    # (the q140 discipline — one fewer whole job per call)
    sizes = cells.groupBy("id").agg(F.count(F.lit(1)).alias("ls"))
    freq = cells.groupBy("gram").agg(F.count(F.lit(1)).alias("df_"))
    t = float(containment_threshold)
    # probe size trades join volume against bound strength: required hits
    # = ceil(t*la) - (la - pl), so pl = 0.15*la at t=0.9 still demands
    # ~0.05*la shared probe grams — far above the ~la*lb/|vocab| overlap
    # of unrelated docs — while keeping the probe join ~3x smaller than a
    # 0.4*la probe (measured 27M -> ~8M rows on the sf0.1 corpus)
    probe_frac = max(1.0 - t + 0.05, 0.15)
    probe_len = F.greatest(
        (F.col("ls") - F.ceil(F.lit(t) * F.col("ls")) + 1).cast("int"),
        F.ceil(F.lit(probe_frac) * F.col("ls")).cast("int"),
    )
    a_probe = (
        cells.join(freq, "gram")
        .join(sizes, "id")
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("id").orderBy(F.col("df_"), F.col("gram"))
            ),
        )
        .filter(F.col("rk") <= probe_len)
        .select(
            F.col("id").alias("id_a"),
            F.col("ls").alias("la"),
            probe_len.alias("pl"),
            "gram",
        )
    )
    b_index = cells.join(sizes, "id").select(
        F.col("id").alias("id_b"), F.col("ls").alias("lb"), "gram"
    )
    # conditional salting of the probe join: hotness is measured on the
    # PROBE side — |a(g)| is the binding factor of the join's per-gram
    # output |a(g)| x |b(g)|, and the probe is rarest-first, so a hot
    # probe gram only arises from a genuine flood (thousands of near-
    # identical docs whose "rare" grams coincide).  Keying hotness on
    # corpus doc-frequency instead was caught by the r10 sf0.3 scaling
    # notch at alpha 2.66: ubiquitous grams (df >= 4096 but almost never in
    # any probe) were exploded x16 on the b side for zero matching work.
    # The precheck keeps the common corpus cheap: a probe gram can only be
    # hot if its corpus df is hot (probe count <= df), and ``freq`` is a
    # plain count over the CACHED cells — one bounded job decides the cold
    # path without analyzing the window subtree twice.
    joined = _hot_key_join(
        a_probe,
        b_index,
        ["gram"],
        "id_a",
        sizes=a_probe.groupBy("gram").agg(F.count(F.lit(1)).alias("__n")),
        precheck=freq.filter(F.col("df_") >= F.lit(HOT_BUCKET_ROWS)),
    )
    # exact hit-count bound: hits within the probe >= ceil(t*la) - (la - pl)
    # (-1 slack absorbs float-ceil boundary ulps; weakens, never breaks)
    required = F.ceil(F.lit(t) * F.col("la")) - (F.col("la") - F.col("pl")) - 1
    candidates = (
        joined.filter((F.col("id_a") != F.col("id_b")) & (F.col("la") <= F.col("lb")))
        .groupBy("id_a", "id_b", "la", "pl")
        .agg(F.count(F.lit(1)).alias("hits"))
        .filter(F.col("hits") >= required)
        .select("id_a", "id_b", "la")
        .persist()
    )
    cont = F.round(F.col("inter") / F.greatest(F.col("la"), F.lit(1)), 6)
    return _verify_pairs(cells, candidates, cont, "containment", t)


def duplication_weighted_keep(
    assignments: DataFrame,
    id_col: str = "doc_id",
    cluster_col: str = "cluster_id",
    salt: str = "dupw",
) -> DataFrame:
    """Duplication-aware sampling (the SlimPajama-style alternative to
    hard dedup): instead of keeping one canonical row per near-dup
    cluster, keep each member independently with probability
    ``1 / cluster_size`` — a cluster contributes ~1 doc in expectation
    regardless of how many copies exist, but WHICH copy survives varies,
    preserving benign variation hard dedup destroys.

    The decision is the exact integer rule ``hash(id) * size < HASH_MOD``
    (deterministic across runs/retries/engines — no RNG state).  Returns
    (id_col, cluster_col, cluster_size, keep).

    Scale shape: ``assignments`` carries EVERY doc (singletons included),
    so ``sizes`` is O(#clusters) ~ O(corpus) — never broadcast.  The
    groupBy and the join back share the cluster-id partitioning (the
    q210 self-aggregate shape), so AQE reuses the exchange instead of
    adding one, and nothing corpus-scale is ever pinned into memory."""
    from apache_arrow_spark.functions.pipeline import HASH_MOD, hash_bucket

    sizes = assignments.groupBy(cluster_col).agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    joined = assignments.join(sizes, cluster_col)
    keep = (
        hash_bucket(F.col(id_col), salt) * F.col("cluster_size") < F.lit(HASH_MOD)
    )
    return joined.select(
        id_col,
        cluster_col,
        F.col("cluster_size").cast("bigint").alias("cluster_size"),
        keep.alias("keep"),
    )


def remove_duplicated_spans(
    df: DataFrame,
    w: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_docs: int = 2,
) -> DataFrame:
    """C4-style duplicated-span removal WITH document reconstruction: any
    sliding ``w``-token window whose text occurs in >= ``min_docs``
    distinct documents is boilerplate; every token position covered by
    such a window is dropped and the surviving tokens are re-joined in
    order (C4 does this with three-sentence spans; token windows are the
    punctuation-free analog).  Unlike pair-listing near-dup ops this is
    the REPAIR step — the output is the cleaned corpus itself.

    Returns (id_col, n_words, n_removed, cleaned_text); documents whose
    every position is covered come back with ``cleaned_text = ''``.

    Scale shape: tokens shuffle ONCE by document for the sliding-window
    pass (per-doc bounded frames, w rows of state); global span counting
    shuffles 60-bit digests only, never window text; coverage explode is
    <= w rows per duplicated window occurrence; reconstruction is a
    per-doc sort of surviving tokens (doc-bounded).  No pair join exists
    — cost is linear in corpus tokens at any duplicate density, the
    property pair-listing span detectors lose on boilerplate floods.
    """
    from pyspark.sql import Window

    from apache_arrow_spark.session import spread_compute

    # spread the docs by id BEFORE the posexplode: the window pass (md5
    # per position over a w-token frame) and the per-doc rebuild are the
    # compute-heavy stages, and their id-exchange is byte-small enough
    # that AQE would coalesce them to ~2 tasks (the byte-blind class);
    # the explicit id partitioning is coalesce-exempt, satisfies the
    # window's required distribution (no second exchange), and moves raw
    # docs — smaller than the exploded token stream.
    toks = spread_compute(df.select(F.col(id_col), F.col(text_col)), id_col).select(
        F.col(id_col).alias("id"),
        F.posexplode(tokens(F.col(text_col))).alias("pos", "word"),
    )
    frame = Window.partitionBy("id").orderBy("pos").rowsBetween(0, w - 1)
    win = toks.select(
        "id",
        "pos",
        F.count(F.lit(1)).over(frame).alias("__wn"),
        md5_hash60(F.array_join(F.collect_list("word").over(frame), " ")).alias(
            "__wh"
        ),
    ).filter(F.col("__wn") == w)
    dup = (
        win.groupBy("__wh")
        .agg(F.countDistinct("id").alias("__nd"))
        .filter(F.col("__nd") >= min_docs)
        .select("__wh")
    )
    covered = (
        win.join(dup, "__wh")
        .select(
            "id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + F.lit(w - 1))
            ).alias("pos"),
        )
        .distinct()
    )
    kept = toks.join(covered, ["id", "pos"], "left_anti")
    rebuilt = kept.groupBy("id").agg(
        F.count(F.lit(1)).alias("__n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "word"))),
                lambda s: s["word"],
            ),
            " ",
        ).alias("cleaned_text"),
    )
    totals = toks.groupBy("id").agg(F.count(F.lit(1)).alias("n_words"))
    return totals.join(rebuilt, "id", "left").select(
        F.col("id").alias(id_col),
        F.col("n_words").cast("bigint").alias("n_words"),
        (F.col("n_words") - F.coalesce(F.col("__n_kept"), F.lit(0)))
        .cast("bigint")
        .alias("n_removed"),
        F.coalesce(F.col("cleaned_text"), F.lit("")).alias("cleaned_text"),
    )
