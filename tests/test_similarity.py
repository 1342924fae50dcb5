"""Similarity search: brute-force cosine correctness vs numpy, LSH recall,
near-dup pairs."""

import numpy as np
import pyspark.sql.functions as F
import pytest

from apache_arrow_spark.functions.similarity import (
    ann_topk_lsh,
    cosine_topk,
    embedding_near_duplicates,
    hyperplanes,
    lsh_bucket,
)

N, DIM = 200, 16


@pytest.fixture(scope="module")
def vecs():
    rng = np.random.default_rng(7)
    v = rng.normal(size=(N, DIM)).astype(np.float32)
    # plant a near-duplicate of row 0 at row 1
    v[1] = v[0] + rng.normal(scale=0.01, size=DIM).astype(np.float32)
    return v


@pytest.fixture(scope="module")
def edf(spark, vecs):
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(N)]
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")


def _np_topk(vecs, q, k):
    v = vecs.astype(np.float64)
    q = q.astype(np.float64)
    sims = (v @ q) / (np.linalg.norm(v, axis=1) * np.linalg.norm(q))
    order = sorted(range(len(sims)), key=lambda i: (-round(sims[i], 6), i))
    return order[:k]


def test_cosine_topk_matches_numpy(spark, edf, vecs):
    q = vecs[0]
    got = [r["vec_id"] for r in cosine_topk(edf, [float(x) for x in q], k=10).collect()]
    assert got == _np_topk(vecs, q, 10)
    top = cosine_topk(edf, [float(x) for x in q], k=1).collect()[0]
    assert top["vec_id"] == 0 and abs(top["sim"] - 1.0) < 1e-6


def test_ann_lsh_recall(spark, edf, vecs):
    q = vecs[0]
    exact = set(_np_topk(vecs, q, 5))
    approx = {r["vec_id"] for r in ann_topk_lsh(edf, [float(x) for x in q], k=5, planes=8, n_probe_bits=2).collect()}
    # multi-probe LSH at these settings should recover most of the top-5
    assert len(exact & approx) >= 3
    assert 0 in approx and 1 in approx


def test_lsh_bucket_deterministic(spark, edf):
    hp = hyperplanes(DIM, 8)
    a = edf.select("vec_id", lsh_bucket(F.col("embedding"), hp).alias("b")).collect()
    b = edf.select("vec_id", lsh_bucket(F.col("embedding"), hp).alias("b")).collect()
    assert {r["vec_id"]: r["b"] for r in a} == {r["vec_id"]: r["b"] for r in b}
    buckets = {r["b"] for r in a}
    assert len(buckets) > 1  # actually partitions the space


def test_embedding_near_duplicates_finds_planted_pair(spark, edf):
    pairs = embedding_near_duplicates(edf, threshold=0.99, planes=6)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (0, 1) in got


def test_ivf_topk_recall(spark, edf, vecs):
    from apache_arrow_spark.functions.similarity import ivf_topk

    q = vecs[0]
    exact = set(_np_topk(vecs, q, 5))
    approx = {
        r["vec_id"]
        for r in ivf_topk(edf, [float(x) for x in q], k=5, n_clusters=8, n_probe=3).collect()
    }
    assert len(exact & approx) >= 3
    assert 0 in approx and 1 in approx


# ---------------------------------------------------------------------------
# Ingest-time materialized indexes: probes must PRUNE storage, not filter
# rows (SCALE.md's claim, proven at the plan level like test_bucketing).
# ---------------------------------------------------------------------------


def test_lsh_index_bucket_pruning(spark, edf, vecs):
    import uuid

    from apache_arrow_spark.functions.similarity import (
        ann_topk_lsh_indexed,
        materialize_lsh_index,
    )
    from apache_arrow_spark.plans.inspect import plan_string

    name = f"lsh_idx_{uuid.uuid4().hex[:6]}"
    try:
        materialize_lsh_index(edf, name, planes=8, n_buckets=16)
        q = [float(x) for x in vecs[0]]
        probe = ann_topk_lsh_indexed(spark, name, q, k=5, planes=8, n_probe_bits=2)
        plan = plan_string(probe, "formatted")
        # plan-time bucket pruning: the scan selects a strict subset of files
        assert "SelectedBucketsCount" in plan
        import re

        m = re.search(r"SelectedBucketsCount: (\d+) out of (\d+)", plan)
        assert m and int(m.group(1)) < int(m.group(2))
        # same answer as the unindexed probe path
        got = [r["vec_id"] for r in probe.collect()]
        ref = [
            r["vec_id"]
            for r in ann_topk_lsh(edf, q, k=5, planes=8, n_probe_bits=2).collect()
        ]
        assert got == ref
        # pruning must survive COLLECT-after-restore (ADVICE r7): the conf
        # scope ended before collect(), so this proves the pinned
        # QueryExecution executed the pruned scan, not a re-planned full one
        key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
        assert spark.conf.get(key, None) is None, "conf must be restored"
        executed = probe._jdf.queryExecution().executedPlan().toString()
        m2 = re.search(r"SelectedBucketsCount: (\d+) out of (\d+)", executed)
        assert m2 and int(m2.group(1)) < int(m2.group(2))
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_ivf_index_partition_pruning(spark, edf, vecs, tmp_path_factory):
    from apache_arrow_spark.functions.similarity import (
        assign_to_centroids,
        ivf_topk,
        ivf_topk_indexed,
        materialize_ivf_index,
    )
    from apache_arrow_spark.plans.inspect import plan_string

    # deterministic pivots as centroids (the SQL-replicable configuration)
    centroids = [[float(x) for x in vecs[i]] for i in (3, 50, 100, 150)]
    path = str(tmp_path_factory.mktemp("ivf") / "index")
    materialize_ivf_index(edf, path, centroids)
    q = [float(x) for x in vecs[0]]
    probe = ivf_topk_indexed(spark, path, q, centroids, k=5, n_probe=2)
    plan = plan_string(probe, "formatted")
    assert "PartitionFilters" in plan and "__cluster" in plan
    # non-probed clusters' directories are never opened: execution metrics
    # show the scan touched exactly n_probe of the 4 cluster partitions
    from apache_arrow_spark.plans.inspect import scan_metrics

    probe.collect()
    scans = [s for s in scan_metrics(probe) if "parquet" in s["node"].lower()]
    assert scans and scans[0]["metrics"]["numPartitions"] == 2  # n_probe of 4
    got = [r["vec_id"] for r in probe.collect()]
    ref = [
        r["vec_id"]
        for r in ivf_topk(edf, q, k=5, n_probe=2, centroids=centroids).collect()
    ]
    assert got == ref


def test_quantize_int8_roundtrip_error(spark, sf_dir):
    """Codes bounded to [-127, 127]; dequantized vectors within scale/2
    per component of the original."""
    import pyspark.sql.functions as F

    from apache_arrow_spark.functions.similarity import quantize_int8
    from apache_arrow_spark.session import load_table

    e = load_table(spark, sf_dir, "embeddings").limit(50)
    q = quantize_int8(e, "embedding", "vec_id")
    joined = q.join(e, q["id"] == e["vec_id"]).select(
        "scale",
        F.array_max(F.transform("codes", F.abs)).alias("max_code"),
        F.array_max(
            F.zip_with(
                "codes",
                "embedding",
                lambda c, v: F.abs(c * F.col("scale") - v.cast("double")),
            )
        ).alias("max_err"),
    )
    for r in joined.collect():
        assert r["max_code"] <= 127
        assert r["max_err"] <= r["scale"] / 2 + 1e-12


def test_knn_join_exact_and_lsh(spark, edf, vecs):
    """Exact batch kNN matches numpy per query; the LSH-bucketed join
    finds genuinely-close neighbors (the planted near-dup pair finds each
    other) without scoring the full cross product."""
    from apache_arrow_spark.functions.similarity import knn_join_exact, knn_join_lsh

    q = edf.filter(F.col("vec_id") < 10)
    exact = knn_join_exact(q, edf, k=5)
    rows = exact.collect()
    per_q = {}
    for r in rows:
        per_q.setdefault(r["q_id"], []).append((r["rank"], r["n_id"]))
    for qid, pairs in per_q.items():
        got = [n for _, n in sorted(pairs)]
        want = [i for i in _np_topk(vecs, vecs[qid], 6) if i != qid][:5]
        assert got == want, qid
    # LSH path: vectors that are actually close land in the same bucket
    approx = knn_join_lsh(q, edf, k=5, planes=8, n_probe_bits=1)
    ap = {(r["q_id"], r["n_id"]) for r in approx.collect()}
    assert (0, 1) in ap and (1, 0) in ap  # planted near-dup pair
    # ranks dense 1..k on the exact side
    assert all(sorted(r for r, _ in v) == list(range(1, len(v) + 1)) for v in per_q.values())


def test_ann_recall_eval_bounds_and_exact_self_recall(spark):
    from apache_arrow_spark.functions.similarity import ann_recall_eval

    import numpy as np

    rng = np.random.RandomState(7)
    vecs = [(i, [float(x) for x in rng.randn(16)]) for i in range(200)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    out = ann_recall_eval(
        df.filter("vec_id < 5"), df, k=5, planes=4, n_probe_bits=1
    ).collect()
    assert len(out) == 5
    for r in out:
        assert r["n_exact"] == 5
        assert 0 <= r["n_hits"] <= 5
        assert r["recall_micro"] == r["n_hits"] * 1000000 // 5


def test_ivf_recall_eval_bounds_and_probe_all_is_exact(spark):
    import numpy as np

    from apache_arrow_spark.functions.similarity import ivf_recall_eval

    rng = np.random.RandomState(11)
    vecs = [(i, [float(x) for x in rng.randn(16)]) for i in range(150)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    centroids = [v for _, v in vecs[:4]]
    out = ivf_recall_eval(
        df.filter("vec_id < 5"), df, centroids, k=5, n_probe=2
    ).collect()
    assert len(out) == 5
    for r in out:
        assert 0 <= r["n_hits"] <= r["n_exact"] == 5
        assert r["recall_micro"] == r["n_hits"] * 1000000 // 5
    # probing EVERY cell degenerates to the exact join: recall must be 1
    full = ivf_recall_eval(
        df.filter("vec_id < 5"), df, centroids, k=5, n_probe=4
    ).collect()
    assert all(r["recall_micro"] == 1000000 for r in full)


def test_pairwise_moment_identity_matches_bruteforce(spark):
    """The q189 identity sum_ij||xi-xj||^2 = 2n*sum||x||^2 - 2||sum x||^2
    over micro-quantized coords must equal the explicit O(n^2) pair sum."""
    import itertools

    import numpy as np

    rng = np.random.RandomState(3)
    vecs = [[float(x) for x in rng.randn(8)] for _ in range(40)]
    q = [[int(np.floor(x * 1e6)) for x in v] for v in vecs]
    n = len(q)
    brute = sum(
        sum((a - b) ** 2 for a, b in zip(q[i], q[j]))
        for i, j in itertools.permutations(range(n), 2)
    )
    ssq = sum(sum(c * c for c in v) for v in q)
    sums = [sum(v[d] for v in q) for d in range(8)]
    moment = 2 * n * ssq - 2 * sum(s * s for s in sums)
    assert brute == moment
    # and the Spark query path agrees with the python model
    from apache_arrow_spark.queries import QUERIES  # noqa: F401  (import check)


def test_kmeans_train_exact_matches_reference(spark):
    import math

    import pyspark.sql.functions as F

    from apache_arrow_spark.functions.similarity import kmeans_train_exact

    vecs = [
        (i, [((i * 13 + j * 7) % 21 - 10) / 4.0 for j in range(6)])
        for i in range(30)
    ]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in vecs],
        "vec_id long, embedding array<float>",
    )

    def ref(k=4, rounds=2, scale=1000, shift=10000):
        import struct

        def f32(x):
            return struct.unpack("f", struct.pack("f", x))[0]

        q = {i: [math.floor(f32(x) * scale) + shift for x in v] for i, v in vecs}
        cents = {i: list(q[i]) for i in range(k)}

        def assign(cents):
            out = {}
            for i, v in q.items():
                best = min(
                    (sum((a - b) ** 2 for a, b in zip(v, c)), cid)
                    for cid, c in cents.items()
                )
                out[i] = best
            return out

        for _ in range(rounds):
            a = assign(cents)
            sums, counts = {}, {}
            for i, (d2, cid) in a.items():
                counts[cid] = counts.get(cid, 0) + 1
                s = sums.setdefault(cid, [0] * 6)
                for d, x in enumerate(q[i]):
                    s[d] += x
            cents = {
                cid: [s // counts[cid] for s in sums[cid]] for cid in sums
            }
        return assign(cents)

    got = {
        r["vec_id"]: (r["d2"], r["cluster"])
        for r in kmeans_train_exact(df, k=4, rounds=2).collect()
    }
    assert got == ref()


def test_embedding_covariance_matches_numpy(spark):
    import numpy as np

    from apache_arrow_spark.functions.similarity import embedding_covariance

    rng = [[((i * 7 + j * 13) % 11 - 5) / 7.0 for j in range(4)] for i in range(25)]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(rng)],
        "vec_id long, embedding array<float>",
    ).repartition(3)
    got = {
        (r["i"], r["j"]): (r["n"], r["cov_unit"])
        for r in embedding_covariance(df, "embedding", dim=4, scale=1e6).collect()
    }
    X = np.array(rng, dtype=np.float32).astype(np.float64)
    Q = np.floor(X * 1e6).astype(np.int64)
    n = Q.shape[0]
    G = Q.T @ Q
    s = Q.sum(axis=0)
    for i in range(4):
        for j in range(i, 4):
            cov = G[i, j] / n - (s[i] / n) * (s[j] / n)
            assert got[(i, j)] == (n, int(np.floor(cov)))
    assert len(got) == 10


def test_recall_table_dedups_duplicate_approx_pairs(spark):
    """A duplicate-emitting approx table must not fan out the exact rows:
    n_exact stays the true per-query count and n_hits counts each matched
    pair once (r10 ADVICE hardening)."""
    from apache_arrow_spark.functions.similarity import _recall_table

    exact = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 10)], "q_id long, n_id long"
    )
    approx_dup = spark.createDataFrame(
        [(1, 10), (1, 10), (1, 10), (2, 99)], "q_id long, n_id long"
    )
    rows = {r["q_id"]: r for r in _recall_table(exact, approx_dup).collect()}
    assert rows[1]["n_exact"] == 2 and rows[1]["n_hits"] == 1
    assert rows[2]["n_exact"] == 1 and rows[2]["n_hits"] == 0
    assert rows[1]["recall_micro"] == 500000


@pytest.mark.parametrize("n_probe_bits", [0, 1, 2])
def test_knn_join_lsh_candidates_are_the_lsh_probes_ball(spark, n_probe_bits):
    """With k above the corpus size every candidate survives the rank, so
    knn_join_lsh's pairs must be exactly the corpus rows whose bucket is in
    lsh_probes' Hamming ball (<= n_probe_bits) around the query's bucket."""
    from apache_arrow_spark.functions.similarity import knn_join_lsh, lsh_probes

    n, dim, planes = 300, 16, 6
    v = np.random.default_rng(5).normal(size=(n, dim)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(x) for x in v[i]]) for i in range(n)],
        "vec_id bigint, embedding array<float>",
    )
    hp = hyperplanes(dim, planes)
    bucket = {
        r["vec_id"]: r["b"]
        for r in df.select("vec_id", lsh_bucket(F.col("embedding"), hp).alias("b")).collect()
    }
    want = set()
    for q in range(10):
        probes = lsh_probes([float(x) for x in v[q]], hp, n_probe_bits)
        want |= {(q, i) for i in range(n) if i != q and bucket[i] in probes}
    out = knn_join_lsh(
        df.filter("vec_id < 10"), df, k=n, planes=planes, n_probe_bits=n_probe_bits
    )
    assert {(r["q_id"], r["n_id"]) for r in out.collect()} == want


@pytest.mark.parametrize(
    "entry",
    ["knn_join_exact", "knn_join_lsh", "knn_join_ivf", "ann_recall_eval", "ivf_recall_eval"],
)
def test_knn_entry_points_on_empty_corpus_return_no_rows(spark, edf, vecs, entry):
    from apache_arrow_spark.functions import similarity

    args = [edf.filter("vec_id < 5"), edf.limit(0)]
    if "ivf" in entry:
        args.append([[float(x) for x in vecs[i]] for i in (3, 50)])
    assert getattr(similarity, entry)(*args).count() == 0


def test_lsh_index_unpinnable_plan_degrades_with_one_warning(
    spark, edf, vecs, monkeypatch, caplog
):
    """A frame whose physical plan cannot be pinned (no ``_jdf``, as on
    Spark Connect) still answers like ann_topk_lsh, leaves the conf as it
    found it, and says so with exactly one WARN."""
    import logging
    import uuid

    from apache_arrow_spark import log as log_mod
    from apache_arrow_spark.functions import similarity

    class NoJdf:
        def __init__(self, df):
            self._df = df

        def __getattr__(self, name):
            if name == "_jdf":
                raise AttributeError(name)
            return getattr(self._df, name)

    topk = similarity.cosine_topk
    monkeypatch.setattr(similarity, "cosine_topk", lambda *a, **kw: NoJdf(topk(*a, **kw)))
    monkeypatch.setattr(log_mod, "_warned", set())
    key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    before = spark.conf.get(key, None)
    name = f"lsh_idx_{uuid.uuid4().hex[:6]}"
    q = [float(x) for x in vecs[0]]
    try:
        similarity.materialize_lsh_index(edf, name, planes=8, n_buckets=16)
        with caplog.at_level(logging.WARNING, logger="apache_arrow_spark"):
            probe = similarity.ann_topk_lsh_indexed(spark, name, q, k=5, planes=8, n_probe_bits=2)
        assert spark.conf.get(key, None) == before
        ref = ann_topk_lsh(edf, q, k=5, planes=8, n_probe_bits=2)
        assert [r["vec_id"] for r in probe.collect()] == [r["vec_id"] for r in ref.collect()]
        warns = [r for r in caplog.records if r.name == "apache_arrow_spark"]
        assert len(warns) == 1 and warns[0].levelno == logging.WARNING
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")
