"""Dedup operators: exact, MinHash-LSH (vs brute-force Jaccard oracle),
SimHash pigeonhole completeness."""

import itertools

import pyspark.sql.functions as F
import pytest

from apache_arrow_spark.functions.dedup import (
    exact_dedup,
    minhash_near_duplicates,
    minhash_signatures,
    ngram_jaccard,
    simhash,
    simhash_near_duplicates,
)

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (1, "the quick brown fox jumps over the lazy dog near the river bank"),  # near-dup of 0
    (2, "completely different content about machine learning and neural networks"),
    (3, "the quick brown fox jumps over the lazy dog near the river bank today"),  # exact dup of 0
    (4, "another unrelated document mentioning databases and distributed systems"),
]


def _docs(spark):
    return spark.createDataFrame(DOCS, "doc_id bigint, text string")


def test_exact_dedup_keeps_min_id(spark):
    out = exact_dedup(_docs(spark), "text", "doc_id")
    ids = sorted(r["doc_id"] for r in out.collect())
    assert ids == [0, 1, 2, 4]  # 3 deduped into 0


def test_minhash_finds_near_duplicates(spark):
    pairs = minhash_near_duplicates(_docs(spark), jaccard_threshold=0.6)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (0, 3) in got  # exact dup always collides
    assert (0, 1) in got or (1, 3) in got  # near-dup found
    assert all(p[0] < p[1] for p in got)


def test_minhash_jaccard_matches_bruteforce(spark):
    """Verified jaccard values equal the exact python computation."""
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in minhash_near_duplicates(_docs(spark), jaccard_threshold=0.0).collect()
    }

    def sh(t, k=5):
        t = " ".join(t.lower().split())
        return {t[i : i + k] for i in range(len(t) - k + 1)}

    for (a, b), j in pairs.items():
        sa, sb = sh(DOCS[a][1]), sh(DOCS[b][1])
        exact = len(sa & sb) / len(sa | sb)
        assert abs(j - round(exact, 6)) < 1e-9, (a, b)


def test_minhash_signature_estimates_jaccard(spark):
    sig = minhash_signatures(_docs(spark), num_hashes=64).collect()
    by_id = {r["id"]: [r[f"m{j}"] for j in range(64)] for r in sig}
    agree = sum(x == y for x, y in zip(by_id[0], by_id[1])) / 64
    assert agree > 0.5  # near-dups agree on most minima
    agree_far = sum(x == y for x, y in zip(by_id[0], by_id[2])) / 64
    assert agree_far < 0.3


def test_ngram_jaccard_column(spark):
    df = spark.createDataFrame([("abcde", "abcde"), ("abcde", "vwxyz")], "a string, b string")
    vals = [r["j"] for r in df.select(ngram_jaccard(F.col("a"), F.col("b"), 3).alias("j")).collect()]
    assert vals[0] == 1.0 and vals[1] == 0.0


def test_simhash_deterministic_and_discriminative(spark):
    h = {r["doc_id"]: r["simhash"] for r in simhash(_docs(spark)).collect()}
    assert h[0] == h[3]  # identical docs -> identical hash
    assert h[0] != h[2]

    def ham(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    assert ham(h[0], h[1]) < ham(h[0], h[2])


def test_simhash_near_duplicates_pigeonhole(spark):
    pairs = simhash_near_duplicates(_docs(spark), max_hamming=3)
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs.collect()}
    assert got[(0, 3)] == 0
    # pigeonhole guarantee: every pair within max_hamming MUST be found
    h = {r["doc_id"]: r["simhash"] for r in simhash(_docs(spark)).collect()}
    for a, b in itertools.combinations(sorted(h), 2):
        d = bin((h[a] ^ h[b]) & ((1 << 64) - 1)).count("1")
        if d <= 3:
            assert (a, b) in got, (a, b, d)


def test_connected_components_chain_and_islands(spark):
    """A 4-node chain + a 2-node island + isolated pairs collapse to the
    min id per component; propagation crosses the full chain diameter."""
    from apache_arrow_spark.functions.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22)],
        "id_a bigint, id_b bigint",
    )
    comp = {r["node"]: r["component"] for r in connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_cluster_assignments_canonical_rows(spark):
    """Every doc gets a cluster; exactly one canonical per cluster;
    singletons are their own canonical."""
    from apache_arrow_spark.functions.dedup import (
        cluster_assignments,
        minhash_near_duplicates,
    )

    docs = _docs(spark)
    pairs = minhash_near_duplicates(docs, jaccard_threshold=0.6)
    out = cluster_assignments(docs, pairs).collect()
    by_id = {r["doc_id"]: r for r in out}
    assert len(by_id) == len(DOCS)
    # 0 and 3 are exact dups -> same cluster, canonical = 0
    assert by_id[3]["cluster_id"] == by_id[0]["cluster_id"] == 0
    assert by_id[0]["is_canonical"] and not by_id[3]["is_canonical"]
    # one canonical per cluster
    clusters = {}
    for r in out:
        clusters.setdefault(r["cluster_id"], []).append(r["is_canonical"])
    for cid, flags in clusters.items():
        assert sum(flags) == 1, cid


def test_incremental_dedup_against_seen(spark):
    """Incoming docs that duplicate the ingested corpus are dropped;
    within-batch dups keep the min id; a digest-only seen table works."""
    from apache_arrow_spark.functions.dedup import exact_dedup_incremental
    from apache_arrow_spark.functions.text import fingerprint
    import pyspark.sql.functions as F

    seen = spark.createDataFrame(
        [(100, "already ingested document")], "doc_id bigint, text string"
    )
    new = spark.createDataFrame(
        [
            (1, "already ingested document"),   # dup of corpus -> dropped
            (2, "fresh document"),               # kept
            (3, "fresh document"),               # within-batch dup of 2
            (4, "another fresh one"),            # kept
        ],
        "doc_id bigint, text string",
    )
    kept = sorted(
        r["doc_id"] for r in exact_dedup_incremental(new, seen).collect()
    )
    assert kept == [2, 4]
    # digest-table variant behaves identically
    digests = seen.select(fingerprint(F.col("text")).alias("__fp"))
    kept2 = sorted(
        r["doc_id"] for r in exact_dedup_incremental(new, digests).collect()
    )
    assert kept2 == [2, 4]


def test_incremental_neardup_matches_full(spark):
    """Cross-corpus near-dup pairs == the new/corpus cross-slice of the
    full self-join result."""
    import pyspark.sql.functions as F

    from apache_arrow_spark.functions.dedup import (
        minhash_near_duplicates,
        minhash_near_duplicates_against,
        minhash_sig_array,
    )

    docs = _docs(spark)
    new = docs.filter(F.col("doc_id") % 3 == 0)
    corpus = docs.filter(F.col("doc_id") % 3 != 0)
    inc = {
        (r.new_id, r.corpus_id): r.jaccard
        for r in minhash_near_duplicates_against(
            new, corpus, jaccard_threshold=0.5,
            corpus_sig=minhash_sig_array(corpus),
        ).collect()
    }
    full = minhash_near_duplicates(docs, jaccard_threshold=0.5).collect()
    expected = {}
    for r in full:
        a_new, b_new = r.id_a % 3 == 0, r.id_b % 3 == 0
        if a_new and not b_new:
            expected[(r.id_a, r.id_b)] = r.jaccard
        elif b_new and not a_new:
            expected[(r.id_b, r.id_a)] = r.jaccard
    assert inc == expected


def test_pagerank_star_graph_ranks_center_highest(spark):
    """Star graph: the hub must outrank every leaf; ranks are exact ints."""
    from apache_arrow_spark.functions.graph import pagerank

    pairs = spark.createDataFrame(
        [(0, i) for i in range(1, 6)], "id_a bigint, id_b bigint"
    )
    r1 = {r.node: r.rank9 for r in pagerank(pairs, iters=5).collect()}
    r2 = {r.node: r.rank9 for r in pagerank(pairs, iters=5).collect()}
    assert r1 == r2  # deterministic integer ranks
    hub = r1[0]
    assert all(hub > r1[i] for i in range(1, 6))
    assert len(set(r1[i] for i in range(1, 6))) == 1  # symmetric leaves tie


def test_pagerank_empty_graph(spark):
    from apache_arrow_spark.functions.graph import pagerank

    pairs = spark.createDataFrame([], "id_a bigint, id_b bigint")
    assert pagerank(pairs, iters=3).count() == 0


def test_triangle_stats_known_graph(spark):
    """K4 plus a pendant edge: 4 triangles, known wedges, coefficient 3T/W."""
    from apache_arrow_spark.functions.graph import triangle_stats

    k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]  # 6 edges
    pairs = spark.createDataFrame(k4 + [(3, 9)], "id_a bigint, id_b bigint")
    r = triangle_stats(pairs).first()
    # degrees: 0,1,2 -> 3; 3 -> 4; 9 -> 1  => wedges 3*3 + 6 + 0 = 15
    assert r.n_edges == 7 and r.n_wedges == 15 and r.n_triangles == 4
    assert abs(r.clustering_coefficient - 3 * 4 / 15) < 1e-6


# ---------------------------------------------------------------------------
# Exact n-gram Jaccard (prefix filter) + containment (quote detection)
# ---------------------------------------------------------------------------


def test_ngram_jaccard_exactness_vs_bruteforce(spark):
    """The prefix filter is a theorem, not a heuristic: results equal the
    brute-force all-pairs on a corpus with planted near-dups."""
    from apache_arrow_spark.functions.dedup import ngram_jaccard_pairs

    docs = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy cat"),  # near-dup of 0
        (2, "a completely different document about spark engines"),
        (3, "a completely different document about spark pipelines"),  # near-dup of 2
        (4, "short text"),
        (5, "the quick brown fox jumps over the lazy dog"),  # exact dup of 0
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(df, jaccard_threshold=0.4).collect()
    }

    def bigrams(t):
        w = t.split()
        return set(f"{a} {b}" for a, b in zip(w, w[1:]))

    want = {}
    for i in range(len(docs)):
        for j in range(i + 1, len(docs)):
            a, b = bigrams(docs[i][1]), bigrams(docs[j][1])
            if not a or not b:
                continue
            jac = round(len(a & b) / len(a | b), 6)
            if jac >= 0.4:
                want[(docs[i][0], docs[j][0])] = jac
    assert got == want and len(want) >= 3


def test_containment_finds_quotes_jaccard_misses(spark):
    from apache_arrow_spark.functions.dedup import shingle_containment_pairs

    quoted = "unique snippet of quoted text here"
    big = ("lots of completely unrelated filler words surround it " * 5
           + quoted + " and then even more unrelated filler follows this " * 5)
    df = spark.createDataFrame(
        [(1, quoted), (2, big), (3, "nothing in common at all")],
        "doc_id long, text string",
    )
    rows = shingle_containment_pairs(df, containment_threshold=0.8).collect()
    pairs = {(r["id_a"], r["id_b"]) for r in rows}
    assert (1, 2) in pairs  # the small doc is contained in the big one
    assert all(a != 3 and b != 3 for a, b in pairs)
    cont = {(r["id_a"], r["id_b"]): r["containment"] for r in rows}
    assert cont[(1, 2)] >= 0.9


def test_ngram_jaccard_asymmetric_lengths(spark):
    """Regression for the count-filter bound: a true pair of ASYMMETRIC
    sizes (10 vs 20 unigrams sharing 9, J = 9/21 ~ 0.43) whose shared
    grams sort LAST in rarest-first order (df=2 > df=1) — a min()-based
    prefix-overlap bound drops it; the proven max()-based bound keeps it."""
    from apache_arrow_spark.functions.dedup import ngram_jaccard_pairs

    shared = [f"s{i}" for i in range(9)]
    doc_a = " ".join(shared + ["aonly0"])
    doc_b = " ".join(shared + [f"bonly{i}" for i in range(11)])
    df = spark.createDataFrame(
        [(1, doc_a), (2, doc_b), (3, "x0 x1 x2 x3")],
        "doc_id long, text string",
    )
    rows = ngram_jaccard_pairs(df, n=1, jaccard_threshold=0.4).collect()
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in rows}
    assert (1, 2) in got, got
    assert abs(got[(1, 2)] - round(9 / 21, 6)) < 1e-9
    assert all(3 not in pair for pair in got)


def test_dedup_keep_best_keeps_argmax_per_cluster(spark):
    from apache_arrow_spark.functions.dedup import dedup_keep_best
    import pyspark.sql.functions as F

    docs = spark.createDataFrame(
        [(1, 100), (2, 300), (3, 200), (4, 50), (5, 300)],
        "doc_id long, n_chars long",
    )
    # clusters: {1,2,3} (chained pairs) and {4}; 5 is a singleton
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    kept = dedup_keep_best(
        docs, pairs, order_by=[F.col("n_chars").desc(), F.col("doc_id")]
    )
    assert sorted(r["doc_id"] for r in kept.collect()) == [2, 4, 5]
    # schema preserved, helper columns gone
    assert kept.columns == ["doc_id", "n_chars"]


def test_duplication_weighted_keep_rule(spark):
    import hashlib

    from apache_arrow_spark.functions.dedup import duplication_weighted_keep
    from apache_arrow_spark.functions.pipeline import HASH_MOD

    asg = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 4), (5, 5), (6, 5)],
        "doc_id long, cluster_id long",
    )
    rows = {r["doc_id"]: r for r in duplication_weighted_keep(asg, salt="t").collect()}
    assert rows[1]["cluster_size"] == 3 and rows[4]["cluster_size"] == 1

    def hb(i):
        return int(hashlib.md5(("t" + str(i)).encode()).hexdigest()[:15], 16) % HASH_MOD

    for i, r in rows.items():
        assert r["keep"] == (hb(i) * r["cluster_size"] < HASH_MOD)
    # singletons always survive: hb < HASH_MOD holds by construction
    assert rows[4]["keep"] is True and rows[5]["cluster_size"] == 2


def test_remove_duplicated_spans_repairs_shared_span(spark):
    from apache_arrow_spark.functions.dedup import remove_duplicated_spans

    span = "w1 w2 w3 w4 w5 w6 w7 w8"
    rows = [
        (1, f"alpha beta {span} gamma"),
        (2, f"{span} delta epsilon"),
        (3, "zeta eta theta iota kappa"),
        (4, "short doc"),  # shorter than w: no windows, untouched
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in remove_duplicated_spans(df, w=8).collect()}
    assert out[1]["cleaned_text"] == "alpha beta gamma"
    assert out[1]["n_removed"] == 8
    assert out[2]["cleaned_text"] == "delta epsilon"
    assert out[3]["n_removed"] == 0
    assert out[3]["cleaned_text"] == "zeta eta theta iota kappa"
    assert out[4]["cleaned_text"] == "short doc"


def test_remove_duplicated_spans_fully_covered_doc(spark):
    from apache_arrow_spark.functions.dedup import remove_duplicated_spans

    span = "a b c d e f g h"
    df = spark.createDataFrame(
        [(1, span), (2, span)], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in remove_duplicated_spans(df, w=8).collect()}
    assert out[1]["cleaned_text"] == "" and out[1]["n_removed"] == 8
    assert out[2]["cleaned_text"] == ""


def test_connected_components_count_fallback_matches(spark, monkeypatch):
    """An undelivered fixpoint metric routes every round to the explicit
    changed-label count, which reaches the same components."""
    import apache_arrow_spark.functions.dedup as dedup

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "id_a long, id_b long"
    )
    monkeypatch.setattr(dedup, "observed", lambda obs, metric: None)
    got = {r["node"]: r["component"] for r in dedup.connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_observed_changed_bounded_wait_returns_none_without_action(
    spark, monkeypatch, caplog
):
    """The fixpoint's Observation read must be BOUNDED: an observation
    whose action never completes (stand-in for a dropped listener event)
    returns None within the timeout instead of blocking forever, which is
    what routes connected_components to its explicit-count fallback.  The
    timeout is logged once per process."""
    import logging
    import time

    from pyspark.sql import Observation
    import pyspark.sql.functions as F

    import apache_arrow_spark.log as log_mod
    from apache_arrow_spark.session import observed

    monkeypatch.setattr(log_mod, "_warned", set())
    obs = Observation()
    df = spark.range(10).observe(obs, F.count(F.lit(1)).alias("changed"))
    # deliberately NO action on df: the promise never completes
    t0 = time.monotonic()
    with caplog.at_level(logging.WARNING, logger="apache_arrow_spark"):
        assert observed(obs, "changed", timeout_s=0.5) is None
        assert observed(obs, "changed", timeout_s=0.1) is None
    assert time.monotonic() - t0 < 5.0
    warns = [r for r in caplog.records if r.name == "apache_arrow_spark"]
    assert len(warns) == 1 and "not delivered" in warns[0].getMessage()
    # after the action runs, the same observation resolves to the metric
    df.write.format("noop").mode("overwrite").save()
    assert observed(obs, "changed", timeout_s=10.0) == 10


def test_observed_unusable_handle_returns_none_and_warns_once(monkeypatch, caplog):
    """A JVM handle that fails (e.g. renamed by a PySpark upgrade) reads
    as unknown at once, under its own once-per-process WARN — distinct
    from the timeout's."""
    import logging
    import types

    import apache_arrow_spark.log as log_mod
    from apache_arrow_spark.session import observed

    monkeypatch.setattr(log_mod, "_warned", {"observed.timeout"})
    broken = types.SimpleNamespace(_jo=None)
    with caplog.at_level(logging.WARNING, logger="apache_arrow_spark"):
        assert observed(broken, "n") is None
        assert observed(broken, "n") is None
    warns = [r for r in caplog.records if r.name == "apache_arrow_spark"]
    assert len(warns) == 1 and "handle failed" in warns[0].getMessage()


def _synthetic_corpus(n_base=16, seed=11):
    """Random word documents, each followed by a copy with three words
    replaced: a near-duplicate pair per base document."""
    import random

    rng = random.Random(seed)
    vocab = [f"tok{i}" for i in range(400)]
    rows = []
    for i in range(n_base):
        words = [rng.choice(vocab) for _ in range(30)]
        rows.append((2 * i, " ".join(words)))
        for j in rng.sample(range(30), 3):
            words[j] = rng.choice(vocab)
        rows.append((2 * i + 1, " ".join(words)))
    return rows


def _minhash_self(docs):
    return minhash_near_duplicates(docs, jaccard_threshold=0.5)


def _minhash_against(docs):
    from apache_arrow_spark.functions.dedup import minhash_near_duplicates_against

    odd = F.col("doc_id") % 2 == 1
    return minhash_near_duplicates_against(
        docs.filter(odd), docs.filter(~odd), jaccard_threshold=0.5
    )


def _ngram_pairs(docs):
    from apache_arrow_spark.functions.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(docs, jaccard_threshold=0.4)


def _persistent_rdd_ids(spark):
    return set(dict(spark.sparkContext._jsc.getPersistentRDDs()).keys())


@pytest.mark.parametrize("op", [_minhash_self, _minhash_against, _ngram_pairs])
def test_rerooted_and_cached_verify_paths_agree_and_release(spark, monkeypatch, op):
    """session.measured's two paths — candidates re-rooted as a local
    checkpoint, or kept as the cached frame (forced with LOCAL_PAIR_LIMIT
    = 0) — return identical rows, and after ``result.unpersist()`` neither
    leaves a persisted RDD behind."""
    import apache_arrow_spark.session as session

    freed = []
    real_free = session.free_local_checkpoint
    monkeypatch.setattr(
        session, "free_local_checkpoint", lambda df: freed.append(real_free(df))
    )
    docs = spark.createDataFrame(_synthetic_corpus(), "doc_id bigint, text string")

    def run():
        before = _persistent_rdd_ids(spark)
        result = op(docs)
        rows = sorted(tuple(r) for r in result.collect())
        result.unpersist()
        assert _persistent_rdd_ids(spark) - before == set()
        return rows

    rerooted = run()
    assert freed == [True]  # the measured-small candidates were re-rooted
    monkeypatch.setattr(session, "LOCAL_PAIR_LIMIT", 0)
    cached = run()
    assert freed == [True]  # ... and the forced path kept the cached frame
    assert rerooted == cached
    assert len(rerooted) >= 8


@pytest.mark.parametrize("limit", [1 << 16, 0])
def test_measured_releases_blocks_when_body_raises(spark, monkeypatch, limit):
    import apache_arrow_spark.session as session

    monkeypatch.setattr(session, "LOCAL_PAIR_LIMIT", limit)
    before = _persistent_rdd_ids(spark)
    df = spark.range(100).persist()
    with pytest.raises(RuntimeError):
        with session.measured(df) as (frame, n):
            assert n == 100 and (frame is df) == (limit == 0)
            assert _persistent_rdd_ids(spark) - before
            raise RuntimeError("body failed")
    assert _persistent_rdd_ids(spark) - before == set()
