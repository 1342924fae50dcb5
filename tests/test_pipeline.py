"""Tests for functions.pipeline — training-data assembly operators.

Each operator's contract is checked against a brute-force pandas
recomputation of the same deterministic rule, plus the structural
properties that make the operator usable at scale (group consistency,
dense shard positions, partitioning-invariance).
"""

import hashlib

import pandas as pd
import pyspark.sql.functions as F
import pytest

from apache_arrow_spark.functions.pipeline import (
    HASH_MOD,
    deterministic_shuffle,
    group_split,
    hash_bucket,
    hash_sample,
    mix_datasets,
    pack_sequences,
    stratified_sample,
    vocabulary,
)


def _py_bucket(key, salt="", mod=HASH_MOD):
    h = hashlib.md5((salt + str(key)).encode()).hexdigest()
    return int(h[:15], 16) % mod


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def test_hash_bucket_matches_python(spark):
    df = spark.range(200).select(F.col("id").cast("string").alias("k"))
    rows = df.select("k", hash_bucket(F.col("k"), "s").alias("b")).collect()
    for r in rows:
        assert r["b"] == _py_bucket(r["k"], "s")


def test_hash_sample_deterministic_and_partition_invariant(spark):
    df = spark.range(5000).select(F.col("id").alias("k"))
    a = {r["k"] for r in hash_sample(df, 0.3, "k").collect()}
    b = {r["k"] for r in hash_sample(df.repartition(13), 0.3, "k").collect()}
    assert a == b  # unlike df.sample, survives repartitioning
    assert abs(len(a) / 5000 - 0.3) < 0.03


def test_stratified_sample_rates(spark):
    pdf = pd.DataFrame(
        {"k": range(6000), "s": ["a", "b", "c"] * 2000}
    )
    df = spark.createDataFrame(pdf)
    out = stratified_sample(df, "s", {"a": 1.0, "b": 0.5}, "k", default=0.0)
    counts = {r["s"]: r["n"] for r in out.groupBy("s").agg(F.count("*").alias("n")).collect()}
    assert counts["a"] == 2000  # keep-all stratum keeps everything
    assert abs(counts["b"] / 2000 - 0.5) < 0.05
    assert "c" not in counts  # default=0 drops the stratum entirely


def test_group_split_no_leakage(spark):
    df = spark.range(3000).select(
        (F.col("id") % 97).alias("g"), F.col("id").alias("x")
    )
    out = group_split(df, "g")
    # every group maps to exactly one split
    per_group = out.groupBy("g").agg(F.count_distinct("split").alias("n")).collect()
    assert all(r["n"] == 1 for r in per_group)
    # all three splits materialize over 97 groups at 80/10/10
    splits = {r["split"] for r in out.select("split").distinct().collect()}
    assert splits == {"train", "valid", "test"}


def test_mix_datasets_tags_and_rates(spark):
    df = spark.range(4000).select(F.col("id").alias("k"))
    out = mix_datasets({"a": (df, 1.0), "b": (df, 0.25)}, "k")
    counts = {
        r["mix_name"]: r["n"]
        for r in out.groupBy("mix_name").agg(F.count("*").alias("n")).collect()
    }
    assert counts["a"] == 4000
    assert abs(counts["b"] / 4000 - 0.25) < 0.05
    w = {r["mix_name"]: r["mix_weight"] for r in out.select("mix_name", "mix_weight").distinct().collect()}
    assert w == {"a": 1.0, "b": 0.25}


def test_pack_sequences_matches_pandas_prefix_sum(docs):
    out = pack_sequences(docs, 512).toPandas().sort_values("doc_id").reset_index(drop=True)
    toks = out[["doc_id", "tokens"]].copy()
    pre = toks["tokens"].cumsum().shift(1, fill_value=0)
    assert (out["bin_id"] == pre // 512).all()
    assert (out["bin_offset"] == pre % 512).all()


def test_pack_sequences_rejects_bad_budget(docs):
    with pytest.raises(ValueError):
        pack_sequences(docs, 0)


def test_deterministic_shuffle_dense_positions_and_stable(spark):
    df = spark.range(1000).select(F.col("id").cast("string").alias("k"))
    out = deterministic_shuffle(df, "k", 4).toPandas()
    assert set(out["shard"].unique()) <= set(range(4))
    for _, grp in out.groupby("shard"):
        assert sorted(grp["pos"]) == list(range(len(grp)))  # dense 0..n-1
    again = deterministic_shuffle(df.repartition(7), "k", 4).toPandas()
    a = out.sort_values("k").reset_index(drop=True)
    b = again.sort_values("k").reset_index(drop=True)
    assert a.equals(b)  # layout is a pure function of the data


def test_vocabulary_matches_bruteforce(spark):
    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": ["the cat sat", "the dog ran the mile", "cat and dog"],
        }
    )
    out = vocabulary(spark.createDataFrame(pdf), top_n=3).collect()
    assert [(r["token"], r["tf"], r["df"]) for r in out] == [
        ("the", 3, 2),
        ("cat", 2, 2),
        ("dog", 2, 2),
    ]


def test_curate_corpus_funnel_monotone(spark, sf_dir):
    import pyspark.sql.functions as F

    from apache_arrow_spark.functions.pipeline import (
        curate_corpus,
        curation_funnel,
        hash_bucket,
    )

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bench = d.filter(
        (hash_bucket(F.col("doc_id"), "bench") < 100000)
        & (F.length(F.btrim("text")) > 0)
    )
    corpus = d.filter(hash_bucket(F.col("doc_id"), "bench") >= 100000)
    stages = curate_corpus(corpus, bench, fractions={"en": 0.7}, default_fraction=0.5)
    funnel = {r["stage"]: r["n"] for r in curation_funnel(stages).collect()}
    order = ["0_raw", "1_quality", "2_exact_dedup", "3_near_dedup",
             "4_decontaminated", "5_sampled"]
    ns = [funnel[s] for s in order]
    assert ns == sorted(ns, reverse=True)  # each stage only removes docs
    assert ns[-1] > 0
    split_total = sum(v for k, v in funnel.items() if k.startswith("6_split_"))
    assert split_total == funnel["5_sampled"]  # split partitions the sample


def test_chunk_documents_coverage_and_overlap(spark):
    """Chunks tile the token stream: first chunk starts at 0, consecutive
    chunks advance by stride, every token appears in some chunk, and the
    final chunk reaches the last token."""
    import pyspark.sql.functions as F

    from apache_arrow_spark.functions.pipeline import chunk_documents

    docs = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(100))),  # 100 tokens
         (2, "a b c"),                                 # fits in one chunk
         (3, "")],                                     # empty -> no chunks
        "doc_id bigint, text string",
    )
    out = chunk_documents(docs, chunk_tokens=32, stride=24).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["id"], []).append(r)
    assert 3 not in by_doc
    assert len(by_doc[2]) == 1 and by_doc[2][0]["chunk_text"] == "a b c"
    d1 = sorted(by_doc[1], key=lambda r: r["chunk_id"])
    # 100 tokens, chunk 32, stride 24 -> 1 + ceil(68/24) = 4 chunks
    assert [r["chunk_id"] for r in d1] == [0, 1, 2, 3]
    assert d1[0]["chunk_text"].startswith("t0 ")
    assert d1[-1]["chunk_text"].endswith(" t99")
    # consecutive chunks overlap by chunk - stride = 8 tokens
    a, b = d1[0]["chunk_text"].split(), d1[1]["chunk_text"].split()
    assert a[24:] == b[:8]


def test_bpe_pair_counts_brute_force(spark):
    from collections import Counter

    from apache_arrow_spark.functions.pipeline import bpe_pair_counts

    texts = ["low lower Lowest low", "new newer newest", "a bb low"]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    want = Counter()
    for t in texts:
        for w in t.lower().split():
            for i in range(len(w) - 1):
                want[w[i : i + 2]] += 1
    got = {r["pair"]: r["cnt"] for r in bpe_pair_counts(df, top_n=100).collect()}
    assert got == dict(want)


def test_global_value_rank_exact(spark):
    from apache_arrow_spark.functions.pipeline import global_value_rank

    df = spark.createDataFrame(
        [(i, (i * 37) % 11) for i in range(200)], "id long, v long"
    )
    ranked = global_value_rank(df, ["v", "id"], rank_col="rnk")
    rows = sorted(ranked.collect(), key=lambda r: (r["v"], r["id"]))
    # ranks are exactly 1..200 in (v, id) order
    assert [r["rnk"] for r in rows] == list(range(1, 201))


def test_q133_decile_matches_ntile_with_remainder(spark):
    """q133's distributed ntile replay vs Spark's own ntile on an N where
    N % 10 != 0 (the fixtures are multiples of 10, so the remainder
    branch — first `rem` tiles one row larger — is only covered here).
    Exercises several N to hit rem = 0, 3, 7, 9 and the N < 10 edge."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from apache_arrow_spark.functions.pipeline import global_value_rank

    for n in (7, 40, 43, 107, 199):
        df = spark.createDataFrame(
            [(i, float((i * 37) % 29)) for i in range(n)], "id long, v double"
        )
        ranked = global_value_rank(df, ["v", "id"], rank_col="rnk")
        tile_q, rem = divmod(n, 10)
        if tile_q == 0:
            decile = F.col("rnk").cast("int")
        else:
            head = rem * (tile_q + 1)
            decile = F.expr(
                f"cast(1 + if(rnk <= {head}, (rnk - 1) div {tile_q + 1}, "
                f"{rem} + (rnk - 1 - {head}) div {tile_q}) as int)"
            )
        got = {
            r["id"]: r["d"]
            for r in ranked.select("id", decile.alias("d")).collect()
        }
        w = Window.orderBy("v", "id")
        want = {
            r["id"]: r["d"]
            for r in df.select("id", F.ntile(10).over(w).alias("d")).collect()
        }
        assert got == want, f"N={n}"


@pytest.mark.parametrize(
    "primitive",
    [
        "global_value_rank",
        "global_running_min",
        "global_running_sum",
        "global_sequence_gaps",
        "pack_sequences",
    ],
)
def test_global_value_rank_empty(spark, primitive):
    """No rows means no ranges: every range-scan primitive must still
    analyze (typed empty offset map) and return zero rows."""
    from apache_arrow_spark.functions import pipeline as P

    empty = spark.createDataFrame([], "doc_id long, v long, text string")
    call = {
        "global_value_rank": lambda: P.global_value_rank(empty, ["v", "doc_id"]),
        "global_running_min": lambda: P.global_running_min(empty, ["doc_id"], "v"),
        "global_running_sum": lambda: P.global_running_sum(empty, ["doc_id"], "v"),
        "global_sequence_gaps": lambda: P.global_sequence_gaps(empty, "v"),
        "pack_sequences": lambda: P.pack_sequences(empty, 16),
    }[primitive]
    assert call().collect() == []


def test_greedy_coverage_select_reference(spark):
    from apache_arrow_spark.functions.pipeline import greedy_coverage_select

    docs = [
        (1, "a b c d"),
        (2, "a b"),
        (3, "e f g"),
        (4, "c d e"),
        (5, "h"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    picks = greedy_coverage_select(df, n_select=5)
    # round 1: doc 1 covers {a,b,c,d} (gain 4); round 2: doc 3 adds {e,f,g}
    # (gain 3); round 3: doc 5 adds {h}; then saturated -> early stop
    assert picks == [(1, 4, 4), (3, 3, 7), (5, 1, 8)]


def test_global_running_min_matches_single_window(spark):
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from apache_arrow_spark.functions.pipeline import global_running_min

    def v(i):
        # NULL-valued: scattered NULLs (one leads the order), and every
        # row with k >= 25 — whole later ranges hold only NULLs
        return None if i % 4 == 0 or (i * 37) % 50 >= 25 else (i * 13) % 20

    w = Window.orderBy("k", "id").rowsBetween(Window.unboundedPreceding, -1)
    for rows in (
        [(i, (i * 37) % 50, (i * 13) % 20) for i in range(300)],
        [(i, (i * 37) % 50, v(i)) for i in range(300)],
    ):
        df = spark.createDataFrame(rows, "id long, k long, v long")
        got = {
            r["id"]: r["running_min_before"]
            for r in global_running_min(df, ["k", "id"], "v").collect()
        }
        want = {
            r["id"]: r["m"]
            for r in df.withColumn("m", F.min("v").over(w)).collect()
        }
        assert got == want


def test_global_running_sum_matches_single_window(spark):
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from apache_arrow_spark.functions.pipeline import global_running_sum

    w = Window.orderBy("k", "id").rowsBetween(Window.unboundedPreceding, 0)
    for rows in (
        [(i, (i * 7) % 23, 1 if i % 3 else -1) for i in range(200)],
        # NULL-valued: every other value NULL (so some ranges start on a NULL),
        # and the leading rows all NULL (so early ranges sum to NULL)
        [(i, i, None if i % 2 == 0 or i < 120 else 1) for i in range(400)],
    ):
        df = spark.createDataFrame(rows, "id long, k long, delta long")
        got = {
            r["id"]: r["running_sum"]
            for r in global_running_sum(df, ["k", "id"], "delta").collect()
        }
        want = {
            r["id"]: r["s"]
            for r in df.withColumn("s", F.sum("delta").over(w)).collect()
        }
        assert got == want


def test_global_sequence_gaps_matches_single_window(spark):
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from apache_arrow_spark.functions.pipeline import global_sequence_gaps

    # keys with internal holes and (after repartitionByRange) seam holes
    keys = [1, 2, 5, 6, 7, 20, 21, 40, 41, 42, 100]
    df = spark.createDataFrame([(k,) for k in keys], "k long").repartition(4)
    got = sorted(
        (r["gap_start"], r["gap_end"], r["gap_len"])
        for r in global_sequence_gaps(df, "k").collect()
    )
    w = Window.orderBy("k")
    ref = (
        df.distinct()
        .withColumn("nxt", F.lead("k").over(w))
        .filter(F.col("nxt") - F.col("k") > 1)
        .select(
            (F.col("k") + 1).alias("s"),
            (F.col("nxt") - 1).alias("e"),
            (F.col("nxt") - F.col("k") - 1).alias("l"),
        )
    )
    want = sorted((r["s"], r["e"], r["l"]) for r in ref.collect())
    assert got == want and len(got) == 4


def test_grid_interpolate_values(spark):
    import pyspark.sql.functions as F

    from apache_arrow_spark.functions.pipeline import grid_interpolate

    # key 1: obs at t=5, 25 (values 10, 30) -> grid 10: 15.0, grid 20: 25.0
    # an obs exactly on the grid (t=30, v=7) is reproduced exactly
    # key 2: span shorter than one step -> no grid rows
    rows = [(1, 5, 10.0), (1, 25, 30.0), (1, 30, 7.0), (2, 3, 1.0), (2, 4, 2.0)]
    df = spark.createDataFrame(rows, "k long, t long, v double")
    got = {
        (r["k"], r["grid_t"]): r["value_interp"]
        for r in grid_interpolate(df, "k", "t", "v", step_ns=10).collect()
    }
    assert got == {(1, 10): 15.0, (1, 20): 25.0, (1, 30): 7.0}
    # gap cap suppresses brackets wider than the cap
    capped = grid_interpolate(df, "k", "t", "v", step_ns=10, max_gap_ns=5)
    assert {(r["k"], r["grid_t"]) for r in capped.collect()} == {(1, 30)}
