"""Iterative graph algorithms over pair tables (PageRank; connected
components lives in dedup.connected_components).

PageRank here runs on the near-duplicate / overlap pair graphs the dedup
stack produces — ranking documents by how centrally they sit in a
duplication cluster (the canonical-document selection signal when "min id"
is too arbitrary).

Scale + determinism discipline:
- each iteration is one join (carry ranks to edges) + one shuffle keyed on
  the destination node; rounds are fixed (``iters``), so total cost is
  iters x one-pass — the pair graph is orders of magnitude smaller than
  the corpus (only near-dup members appear);
- every rank is an int64 in nano-units and every per-edge contribution is
  an EXACT integer division (r - r % deg) / deg — numerator < 2^53, so
  the double division is exact and identical across engines; the
  destination sum is therefore an integer sum: order-independent,
  bit-reproducible, and expressible verbatim in SQL (the oracle unrolls
  the same ``iters`` rounds as chained CTEs);
- lineage is cut per round with ``session.truncate`` (its docstring
  holds the policy) and the superseded round is freed at once, so a call
  leaves only the blocks of the frame it returns.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from apache_arrow_spark.session import broadcast_if, compute_parallelism, observed
from apache_arrow_spark.session import free_local_checkpoint, truncate


def pagerank(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    iters: int = 5,
    damping: float = 0.85,
) -> DataFrame:
    """Fixed-iteration PageRank over the UNDIRECTED pair graph.

    Returns (node, rank9) with rank9 the int64 nano-unit rank after
    ``iters`` rounds.  Every arithmetic step stays in exactly-representable
    integer space (see module docstring), so two engines running the same
    rounds produce identical rank9 values.
    """
    # truncate the EDGES first and derive everything else from them: each
    # frame derived from the raw pairs re-runs the caller's whole pair
    # pipeline (measured nine repeated multi-second stages when the pairs
    # came from q127's winnowing join)
    edges = truncate(
        pairs.select(F.col(id_a).alias("node"), F.col(id_b).alias("v")).union(
            pairs.select(F.col(id_b).alias("node"), F.col(id_a).alias("v"))
        )
    )
    deg = truncate(edges.groupBy("node").agg(F.count(F.lit(1)).alias("deg")))
    n = deg.count()  # driver scalar off the truncated frame — no recompute
    if n == 0:
        free_local_checkpoint(edges)
        free_local_checkpoint(deg)
        return pairs.sparkSession.createDataFrame([], "node bigint, rank9 bigint")
    from fractions import Fraction

    fr = Fraction(damping).limit_denominator(10**6)
    dnum, dden = fr.numerator, fr.denominator
    init9 = 10**9 // n
    # (1-d)/N in nano-units via EXACT integer arithmetic (no float damping:
    # double(0.85)*s and DECIMAL 0.85*s floor differently at integer
    # boundaries — a measured cross-engine trap)
    base9 = (10**9 * (dden - dnum) // dden) // n
    r = deg.select("node", F.lit(init9).cast("long").alias("rank9"))
    nodes = deg.select(F.col("node").alias("v"))
    for _ in range(iters):
        carried = edges.join(r, "node").join(deg, "node")
        # exact integer division: numerator < 2^53 -> double division of
        # the exact multiple is exact and engine-identical (DuckDB twin:
        # r9 // deg)
        contrib = carried.select(
            "v",
            ((F.col("rank9") - F.col("rank9") % F.col("deg")) / F.col("deg"))
            .cast("long")
            .alias("c"),
        )
        sums = contrib.groupBy("v").agg(F.sum("c").alias("s"))
        ds = F.lit(dnum) * F.coalesce(F.col("s"), F.lit(0))
        nxt = truncate(
            nodes.join(sums, "v", "left").select(
                F.col("v").alias("node"),
                (F.lit(base9) + ((ds - ds % F.lit(dden)) / F.lit(dden)).cast("long"))
                .cast("long")
                .alias("rank9"),
            )
        )
        free_local_checkpoint(r)
        r = nxt
    if iters > 0:  # else r still reads deg
        free_local_checkpoint(deg)
    free_local_checkpoint(edges)
    return r


def triangle_stats(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    ndigits: int = 6,
) -> DataFrame:
    """Global triangle census of the undirected pair graph: (n_edges,
    n_wedges, n_triangles, clustering_coefficient = 3T / W).

    The standard distributed recipe: orient every edge low-id -> high-id,
    then one two-hop join (a<b, b<c) probed against the edge set (a<c) —
    each triangle is counted exactly once and the join degree is bounded
    by the oriented out-degree (max half the true degree), the classic
    defense against high-degree hubs.  Wedges come from the undirected
    degree table: sum of deg*(deg-1)/2 — no join at all.  On near-dup
    graphs this measures how clique-like the duplicate clusters are
    (mutual near-dups -> coefficient ~1).
    """
    # Defensively orient low-id -> high-id and dedup: input containing
    # duplicate, reversed (b,a), or self-loop edges would otherwise inflate
    # every count and the coefficient.  distinct() on the oriented form is
    # one shuffle on the edge key — the same key the two-hop join needs.
    e = (
        pairs.select(
            F.least(F.col(id_a), F.col(id_b)).alias("a"),
            F.greatest(F.col(id_a), F.col(id_b)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    und = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    deg = und.groupBy("a").agg(F.count(F.lit(1)).alias("deg"))
    wedges = deg.agg(
        F.sum(F.col("deg") * (F.col("deg") - 1) / 2).cast("long").alias("w")
    )
    e1 = e.alias("e1")
    e2 = e.alias("e2")
    e3 = e.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.b") == F.col("e2.a"))
        .join(
            e3,
            (F.col("e3.a") == F.col("e1.a")) & (F.col("e3.b") == F.col("e2.b")),
        )
        .agg(F.count(F.lit(1)).alias("t"))
    )
    n_edges = e.count()
    out = tri.crossJoin(wedges).select(
        F.lit(n_edges).alias("n_edges"),
        F.col("w").alias("n_wedges"),
        F.col("t").alias("n_triangles"),
        F.round(
            F.lit(3.0) * F.col("t") / F.greatest(F.col("w").cast("double"), F.lit(1.0)),
            ndigits,
        ).alias("clustering_coefficient"),
    )
    return out


def bfs_khop(
    edges: DataFrame,
    seeds: list[int],
    max_hops: int,
    src_col: str = "a",
    dst_col: str = "b",
) -> DataFrame:
    """Breadth-first shortest hop distance from a seed set, bounded at
    ``max_hops`` — the reachability / blast-radius primitive (which
    documents does this contaminated source touch within 3 links?).

    ``edges`` is treated as UNDIRECTED (both directions are traversed).
    Returns (node, dist) with dist = min hops from any seed, 0 for the
    seeds themselves.

    Scale shape: ``max_hops`` rounds of (frontier JOIN edges) — each
    round one equi-join shuffle keyed by node, frontier-sized (never
    |V| x |E|); visited-set maintenance is a distinct over the hop's
    EXPANSION only plus an anti-join against the found set — the BFS
    invariant (every node already in ``dist`` carries a distance below
    the current hop) makes that exactly equivalent to the min-aggregate
    over ``dist ∪ expansion`` it replaces, while shuffling only the new
    expansion instead of re-shuffling the whole accumulated distance
    table every round; the merge back is a shuffle-free union.  The
    persisted edge table is deduplicated INSIDE its one hash exchange
    on the join key (repartition first, then dropDuplicates — the
    aggregate reuses the partitioning), so each round shuffles only the
    frontier side.  The loop count is a LITERAL bound, so the job graph
    is static; each round is truncated to keep lineage flat and the
    superseded round's blocks are freed eagerly (module docstring)."""
    spark = edges.sparkSession
    und = (
        edges.select(F.col(src_col).cast("long").alias("a"), F.col(dst_col).cast("long").alias("b"))
        .unionByName(
            edges.select(
                F.col(dst_col).cast("long").alias("a"), F.col(src_col).cast("long").alias("b")
            )
        )
        .repartition(compute_parallelism(spark), "a")
        .dropDuplicates(["a", "b"])
        .persist()
    )
    dist = truncate(spark.createDataFrame([(int(s), 0) for s in seeds], "node long, dist int"))
    # the found-set's cardinality rides each round's truncation job as an
    # observed metric (the connected-components fixpoint discipline) so
    # the NEXT hop's visited-set anti-join can broadcast a measured-small
    # found set instead of re-shuffling + sorting it every round — the
    # truncated LogicalRDD carries no size statistics, so without the
    # hint the anti join is a sort-merge that re-exchanges the whole
    # accumulated distance table per hop.  Bounded read with a shuffle
    # fallback: an unresolved metric (dropped listener event) just means
    # no hint, never a wrong plan.
    frontier = dist
    n_dist = len(seeds)
    for hop in range(1, int(max_hops) + 1):
        nxt = frontier.join(und, frontier["node"] == und["a"]).select(
            F.col("b").alias("node")
        )
        new_nodes = (
            nxt.distinct()
            .join(broadcast_if(dist, n_dist), "node", "left_anti")
            .select("node", F.lit(hop).alias("dist"))
        )
        from pyspark.sql import Observation

        obs = Observation()
        merged = truncate(dist.unionByName(new_nodes).observe(obs, F.count(F.lit(1)).alias("n")))
        # next frontier: nodes whose best distance IS this hop (newly found)
        frontier = merged.filter(F.col("dist") == hop)
        free_local_checkpoint(dist)
        dist = merged
        n_dist = observed(obs, "n")
    und.unpersist()
    return dist
