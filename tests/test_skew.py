"""Salted two-stage aggregation: results identical to plain groupBy."""

import pyspark.sql.functions as F
import pytest

from apache_arrow_spark.functions.skew import salted_agg


def test_salted_agg_matches_plain(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    got = {
        r["l_returnflag"]: (r["n"], r["qty"], r["mx"])
        for r in salted_agg(
            li,
            ["l_returnflag"],
            {"n": ("count", "*"), "qty": ("sum", "l_quantity"), "mx": ("max", "l_extendedprice")},
        ).collect()
    }
    exp = {
        r["l_returnflag"]: (r["n"], r["qty"], r["mx"])
        for r in li.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("l_quantity").alias("qty"),
            F.max("l_extendedprice").alias("mx"),
        )
        .collect()
    }
    assert got == exp


def test_salted_agg_two_shuffles(spark, sf_dir):
    from apache_arrow_spark.plans.inspect import shuffle_count

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    out = salted_agg(li, ["l_returnflag"], {"n": ("count", "*")}, n_salts=8)
    assert shuffle_count(out) == 2  # (key, salt) stage + key stage


def test_non_decomposable_rejected(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    with pytest.raises(ValueError):
        salted_agg(li, ["l_returnflag"], {"a": ("avg", "l_quantity")})


def test_skew_report_orders_and_shares(spark):
    from apache_arrow_spark.functions.skew import skew_report

    rows = [(1,)] * 10 + [(2,)] * 5 + [(3,)] * 1
    df = spark.createDataFrame(rows, "k long")
    out = skew_report(df, "k", k=2).collect()
    assert [r["key"] for r in out] == [1, 2]
    assert out[0]["fanout"] == 100 and out[1]["fanout"] == 25
    total = 100 + 25 + 1
    assert out[0]["share_micro"] == 100 * 1_000_000 // total


def test_salted_join_matches_plain_join(spark):
    from apache_arrow_spark.functions.skew import salted_join

    fact = spark.createDataFrame(
        [(i % 5, i) for i in range(200)] + [(99, -1)], ["k", "v"]
    )
    dim = spark.createDataFrame(
        [(0, "a"), (1, "b"), (2, "c"), (3, "d"), (2, "c2")], ["dk", "tag"]
    )
    plain = fact.join(dim, fact.k == dim.dk).select("k", "v", "tag")
    salted = salted_join(fact, dim, "k", "dk", n_salts=4).select("k", "v", "tag")
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))

    plain_l = fact.join(dim, fact.k == dim.dk, "left").select("k", "v", "tag")
    salted_l = salted_join(fact, dim, "k", "dk", n_salts=4, how="left").select(
        "k", "v", "tag"
    )
    assert sorted(map(tuple, salted_l.collect(), ), key=str) == sorted(
        map(tuple, plain_l.collect()), key=str
    )


def test_salted_join_rejects_unsupported_how(spark):
    import pytest

    from apache_arrow_spark.functions.skew import salted_join

    df = spark.range(1).selectExpr("id AS k")
    with pytest.raises(ValueError):
        salted_join(df, df.selectExpr("k AS dk"), "k", "dk", how="full")


# ---------------------------------------------------------------------------
# Hot-bucket salting in the similarity joins: a flood of near-identical docs
# lands every one of them in the same LSH band bucket / simhash chunk /
# prefix gram, so the candidate join would emit the whole m^2/2 pair flood
# from ONE task.  dedup._hot_key_join salts keys past HOT_BUCKET_ROWS into
# N_BUCKET_SALTS sub-keys.  These tests pin (a) exactness — salted and
# plain paths produce identical pairs on a corpus where the flood IS hot
# (HOT_BUCKET_ROWS monkeypatched to 64 for the salted run, 1 << 30 for the
# plain one) — and (b) engagement — the join plan carries the salt sub-key
# and the worst (key, salt) sub-key emits a fraction of the flood.
# ---------------------------------------------------------------------------


def _flood_docs(spark, n_flood=220, n_noise=150):
    import random

    rnd = random.Random(11)
    base = " ".join(f"tok{rnd.randrange(5000)}" for _ in range(30))
    rows = [(i, base + f" tail{i % 5}") for i in range(n_flood)]
    rows += [
        (10_000 + i, " ".join(f"w{rnd.randrange(100000)}" for _ in range(30)))
        for i in range(n_noise)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _pairs(df, cols=("id_a", "id_b")):
    return sorted((r[cols[0]], r[cols[1]]) for r in df.select(*cols).collect())


def _salted_and_plain(monkeypatch, op, *args, **kw):
    """``op`` run once with a 64-row hot threshold, once with none hot."""
    from apache_arrow_spark.functions import dedup

    monkeypatch.setattr(dedup, "HOT_BUCKET_ROWS", 64)
    salted = op(*args, **kw)
    monkeypatch.setattr(dedup, "HOT_BUCKET_ROWS", 1 << 30)
    plain = op(*args, **kw)
    return salted, plain


def test_minhash_salted_matches_plain_on_flood(spark, monkeypatch):
    from apache_arrow_spark.functions.dedup import minhash_near_duplicates

    docs = _flood_docs(spark)
    salted, plain = _salted_and_plain(
        monkeypatch, minhash_near_duplicates, docs, jaccard_threshold=0.5
    )
    assert _pairs(salted) == _pairs(plain)
    assert len(_pairs(salted)) >= 220 * 219 // 4, "flood pairs missing"
    salted.unpersist(), plain.unpersist()


def test_simhash_salted_matches_plain_on_flood(spark, monkeypatch):
    from apache_arrow_spark.functions.dedup import simhash_near_duplicates

    docs = _flood_docs(spark, n_flood=150, n_noise=100)
    salted, plain = _salted_and_plain(
        monkeypatch, simhash_near_duplicates, docs, max_hamming=3
    )
    assert _pairs(salted) == _pairs(plain)
    salted.unpersist(), plain.unpersist()


def test_ngram_jaccard_salted_matches_plain_on_flood(spark, monkeypatch):
    from apache_arrow_spark.functions.dedup import ngram_jaccard_pairs

    docs = _flood_docs(spark, n_flood=120, n_noise=80)
    salted, plain = _salted_and_plain(
        monkeypatch, ngram_jaccard_pairs, docs, n=3, jaccard_threshold=0.4
    )
    assert _pairs(salted) == _pairs(plain)
    salted.unpersist(), plain.unpersist()


def test_containment_salted_matches_plain_on_flood(spark, monkeypatch):
    from apache_arrow_spark.functions.dedup import shingle_containment_pairs

    docs = _flood_docs(spark, n_flood=120, n_noise=80)
    salted, plain = _salted_and_plain(
        monkeypatch, shingle_containment_pairs, docs, containment_threshold=0.9
    )
    assert _pairs(salted) == _pairs(plain)
    salted.unpersist(), plain.unpersist()


def _assert_salted_and_balanced(a, b, n_hot_b, expected, self_join):
    """Run dedup._hot_key_join on key ``k`` (hot key 7) with b-side sizes
    and a 64-row hot threshold; pin the salt wiring, the exact pair count
    and the per-sub-key emission bound."""
    from apache_arrow_spark.functions import dedup

    sizes = b.groupBy("k").agg(F.count(F.lit(1)).alias("__n"))
    out = dedup._hot_key_join(a, b, ["k"], "id", sizes)
    if self_join:
        out = out.filter(F.col("a.id") < F.col("b.id"))
    out = out.select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "__salt" in plan, "salt sub-key missing from the join plan"
    assert out.count() == expected
    assert out.distinct().count() == expected

    # per-sub-key emission bound: every (k, salt) sub-key lands wholly in
    # one join task; a-side counts per salt x b-side rows of the hot key
    # (the b side is replicated across all salts for a hot k)
    hot_a = a.filter(F.col("k") == 7)
    salt = F.pmod(F.xxhash64(F.col("id"), F.lit(0x5317)), F.lit(dedup.N_BUCKET_SALTS))
    a_counts = hot_a.groupBy(salt.alias("s")).agg(F.count(F.lit(1)).alias("ca")).collect()
    worst_salted = max(r["ca"] for r in a_counts) * n_hot_b
    worst_plain = hot_a.count() * n_hot_b
    assert worst_salted * 8 <= worst_plain, (
        f"salting spread too weak: worst sub-key emits {worst_salted}, "
        f"plain key emits {worst_plain}"
    )


def test_salting_engages_and_balances_candidate_stage(spark, monkeypatch):
    """Engagement evidence for the bucket self-join shape, deterministic
    and timing-free.  (1) Wiring: the helper's physical plan joins on the
    ``__salt`` sub-key (a missing salt in the condition would either
    duplicate rows — caught by the counts — or show here).  (2) Balance:
    on an identical-key flood the hot path's worst sub-key must emit at
    least 8x fewer rows than the unsalted key (16 salts; 8x leaves room
    for salt-hash imbalance).  Exactness on the real operators is pinned
    by the *_matches_plain_on_flood tests."""
    from apache_arrow_spark.functions import dedup

    monkeypatch.setattr(dedup, "HOT_BUCKET_ROWS", 64)
    # one hot bucket (160 ids) + a few cold ones
    rows = [(i, 7) for i in range(160)] + [(1000 + i, i % 4 + 100) for i in range(40)]
    bucketed = spark.createDataFrame(rows, "id long, k long")
    expected = 160 * 159 // 2 + 4 * (10 * 9 // 2)
    _assert_salted_and_balanced(bucketed, bucketed, 160, expected, self_join=True)


def test_salting_engages_and_balances_two_frame_join(spark, monkeypatch):
    """The same engagement evidence when the sides are different frames —
    the batch-vs-corpus and probe-vs-index shape, where hotness comes
    from one side's sizes.  ``a``: 160 ids on the hot key 7 and 20 on
    cold keys; ``b``: 200 ids on key 7 (hot by b's sizes), 10 per cold
    key, and a key only b holds."""
    from apache_arrow_spark.functions import dedup

    monkeypatch.setattr(dedup, "HOT_BUCKET_ROWS", 64)
    a = spark.createDataFrame(
        [(i, 7) for i in range(160)] + [(500 + i, 100 + i % 4) for i in range(20)],
        "id long, k long",
    )
    b = spark.createDataFrame(
        [(10_000 + i, 7) for i in range(200)]
        + [(20_000 + i, 100 + i % 4) for i in range(40)]
        + [(30_000 + i, 999) for i in range(90)],
        "id long, k long",
    )
    expected = 160 * 200 + 4 * (5 * 10)
    _assert_salted_and_balanced(a, b, 200, expected, self_join=False)


def test_incremental_minhash_salted_matches_plain_on_flood(spark, monkeypatch):
    """The batch-vs-corpus twin: a hot CORPUS bucket splits into salted
    sub-keys; pairs must be identical to the plain join."""
    from apache_arrow_spark.functions.dedup import minhash_near_duplicates_against

    docs = _flood_docs(spark, n_flood=200, n_noise=120)
    new = docs.filter("doc_id % 5 = 0")
    corpus = docs.filter("doc_id % 5 != 0")
    salted, plain = _salted_and_plain(
        monkeypatch, minhash_near_duplicates_against, new, corpus, jaccard_threshold=0.5
    )
    cols = ("new_id", "corpus_id")
    assert _pairs(salted, cols) == _pairs(plain, cols)
    assert len(_pairs(salted, cols)) > 0
    salted.unpersist(), plain.unpersist()
