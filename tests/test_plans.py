"""Scale discipline checks: the physical plans the engine relies on at
100 TB must actually materialize — filters reach the scan, projections
prune, dims broadcast, codegen covers the hot path, no driver collects in
data paths."""

import pyspark.sql.functions as F
import pytest

from apache_arrow_spark.plans.inspect import (
    codegen_stages,
    has_pushed_filter,
    plan_string,
    pushed_filters,
    read_schema,
    shuffle_count,
    uses_broadcast_join,
)
from apache_arrow_spark.queries import QUERIES


def test_filter_pushdown_q01(spark, sf_dir):
    df = QUERIES["q01_pricing_summary"](spark, sf_dir)
    assert "LessThanOrEqual(l_shipdate" in pushed_filters(df)


def test_projection_pruning_q04(spark, sf_dir):
    df = QUERIES["q04_select_project"](spark, sf_dir)
    rs = read_schema(df)
    assert "l_orderkey" in rs and "l_extendedprice" not in rs


def test_broadcast_join_q22(spark, sf_dir):
    df = QUERIES["q22_join_region_revenue"](spark, sf_dir)
    plan = plan_string(df, "simple")
    # dims broadcast; only the lineitem⋈orders join may shuffle
    assert plan.count("BroadcastHashJoin") >= 3
    assert plan.count("SortMergeJoin") <= 1


def test_dictionary_encode_broadcasts_dictionary(spark, sf_dir):
    from apache_arrow_spark.compute.hashkernels import dictionary_encode
    from apache_arrow_spark.session import load_table_with_pos

    df = load_table_with_pos(spark, sf_dir, "lineitem")
    enc = dictionary_encode(df, "l_returnflag")
    assert uses_broadcast_join(enc)


def test_countby_single_shuffle(spark, sf_dir):
    df = QUERIES["q06_countby_returnflag"](spark, sf_dir)
    assert shuffle_count(df) <= 1  # partial agg map-side, one exchange


def test_codegen_covers_kernels(spark, sf_dir):
    # cast kernel + text ops stay inside whole-stage codegen (no Python)
    df = QUERIES["q11_cast_double_to_int"](spark, sf_dir)
    assert codegen_stages(df) >= 1
    assert "BatchEvalPython" not in plan_string(df, "simple")
    df = QUERIES["q28_text_quality"](spark, sf_dir)
    assert "BatchEvalPython" not in plan_string(df, "simple")


def test_topk_avoids_global_sort(spark, sf_dir):
    df = QUERIES["q21_sort_topk"](spark, sf_dir)
    assert "TakeOrderedAndProject" in plan_string(df, "simple")


def test_minhash_no_python_in_signature_path(spark, sf_dir):
    from apache_arrow_spark.functions.dedup import minhash_signatures
    from apache_arrow_spark.session import load_table

    sig = minhash_signatures(load_table(spark, sf_dir, "documents"))
    assert "BatchEvalPython" not in plan_string(sig, "simple")
    assert "ArrowEvalPython" not in plan_string(sig, "simple")


def test_q71_repetition_stats_no_shuffle(spark, sf_dir):
    # per-row array expressions only: the whole query is scan + project
    df = QUERIES["q71_repetition_stats"](spark, sf_dir)
    assert shuffle_count(df) == 0


def test_q75_pii_redaction_no_shuffle_no_python(spark, sf_dir):
    df = QUERIES["q75_pii_redaction"](spark, sf_dir)
    assert shuffle_count(df) == 0
    assert "BatchEvalPython" not in plan_string(df, "simple")
    assert "ArrowEvalPython" not in plan_string(df, "simple")


def test_decontaminate_broadcasts_benchmark(spark, sf_dir):
    # the benchmark digest set must broadcast: contamination check is one
    # corpus scan, no shuffle of corpus n-grams
    df = QUERIES["q74_decontaminate"](spark, sf_dir)
    assert uses_broadcast_join(df)


def test_pipeline_sampling_is_a_pure_filter(spark, sf_dir):
    # hash_sample/stratified_sample must stay scan+filter (no exchange):
    # the sampling decision is a row-local expression
    from apache_arrow_spark.functions.pipeline import stratified_sample
    from apache_arrow_spark.session import load_table

    d = load_table(spark, sf_dir, "documents")
    out = stratified_sample(d, "lang", {"en": 0.5}, "doc_id", default=0.1)
    assert shuffle_count(out) == 0


def test_mix_datasets_zero_shuffle_union(spark, sf_dir):
    from apache_arrow_spark.functions.pipeline import mix_datasets
    from apache_arrow_spark.session import load_table

    d = load_table(spark, sf_dir, "documents")
    out = mix_datasets(
        {"a": (d.filter(F.col("source") == "src0"), 1.0),
         "b": (d.filter(F.col("source") == "src1"), 0.5)},
        "doc_id",
    )
    assert shuffle_count(out) == 0


def test_q81_tfidf_shape_and_plan(spark, sf_dir):
    """Top-5 per language, dense ranks 1..5, vocabulary join shuffles on
    term (no cartesian), decimal-summed scores are finite."""
    df = QUERIES["q81_tfidf_top_terms"](spark, sf_dir)
    assert "CartesianProduct" not in plan_string(df)
    rows = df.collect()
    by_lang = {}
    for r in rows:
        by_lang.setdefault(r["lang"], []).append(r["rnk"])
    for lang, rnks in by_lang.items():
        assert sorted(rnks) == list(range(1, len(rnks) + 1)), lang
    assert all(r["score"] > 0 for r in rows)


def test_q82_centroids_partial_agg(spark, sf_dir):
    """64 dims per label; the aggregate must be map-side combinable
    (partial_ sums before the exchange) so vectors never shuffle."""
    df = QUERIES["q82_label_centroids"](spark, sf_dir)
    plan = plan_string(df)
    assert "partial_sum" in plan or "partial_" in plan
    rows = df.collect()
    labels = {r["label"] for r in rows}
    for lab in labels:
        dims = sorted(r["dim"] for r in rows if r["label"] == lab)
        assert dims == list(range(64)), lab


def test_q87_cube_partial_agg(spark, sf_dir):
    """CUBE expands grouping sets BEFORE the exchange and still combines
    map-side."""
    df = QUERIES["q87_cube_source_lang"](spark, sf_dir)
    plan = plan_string(df)
    assert "Expand" in plan
    assert "partial_count" in plan or "partial_" in plan
    assert df.count() > 0


def test_q88_single_shuffle_window(spark, sf_dir):
    """Window frame evaluates after ONE exchange on the partition key."""
    df = QUERIES["q88_moving_average"](spark, sf_dir)
    assert shuffle_count(df) == 1
    assert "Window" in plan_string(df)


def test_q100_unigram_nll_no_python_no_collect(spark, sf_dir):
    # LM scoring stays JVM-side: explode + two aggregates + one join
    df = QUERIES["q100_unigram_nll"](spark, sf_dir)
    plan = plan_string(df, "simple")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_q101_cms_estimate_broadcasts_cells(spark, sf_dir):
    # the <=depth*width cell table must broadcast into the probe join
    df = QUERIES["q101_cms_token_counts"](spark, sf_dir)
    assert uses_broadcast_join(df)


def test_q102_projection_zero_shuffle(spark, sf_dir):
    # JL projection is per-row expressions only: no exchange anywhere
    df = QUERIES["q102_random_projection"](spark, sf_dir)
    assert shuffle_count(df) == 0
    plan = plan_string(df, "simple")
    assert "BatchEvalPython" not in plan


def test_q103_bpe_pairs_combinable_aggs(spark, sf_dir):
    # two hash aggregates (word counts, pair counts) + TakeOrdered —
    # no global sort, no Python
    df = QUERIES["q103_bpe_pair_counts"](spark, sf_dir)
    plan = plan_string(df, "simple")
    assert "TakeOrderedAndProject" in plan
    assert "BatchEvalPython" not in plan


def test_bloom_probe_is_arrow_batched(spark, sf_dir):
    # the bloom probe runs as a vectorized Arrow-batched UDF (never
    # row-at-a-time BatchEvalPython)
    from apache_arrow_spark.functions.bloom import bloom_build, with_might_contain

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    seen = d.limit(100).select(F.col("text").alias("k"))
    sketch = bloom_build(seen, "k", num_bits=1 << 12)
    probed = with_might_contain(d.select(F.col("text").alias("k")), "k", sketch)
    plan = plan_string(probed, "simple")
    assert "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan


def test_sessionize_single_shuffle(spark, sf_dir):
    """lag + running sum + per-session agg all reuse ONE exchange on the
    entity key."""
    from apache_arrow_spark.operators.sessionize import session_summary
    from apache_arrow_spark.session import load_table

    ev = load_table(spark, sf_dir, "events")  # ts as int64 nanos
    df = session_summary(ev, "user_id", "ts", 1_800_000_000_000, ["event_id"])
    assert shuffle_count(df) == 1


def test_merge_upsert_single_shuffle(spark, sf_dir):
    from apache_arrow_spark.operators.upsert import merge_upsert
    from apache_arrow_spark.session import load_table

    ev = load_table(spark, sf_dir, "events")
    base = ev.filter(F.col("event_id") % 2 == 0)
    upd = ev.filter(F.col("event_id") % 2 == 1)
    df = merge_upsert(base, upd, ["user_id", "event_type"], ["ts", "event_id"])
    assert shuffle_count(df) == 1


def test_resample_ffill_reuses_series_partitioning(spark, sf_dir):
    """bucket agg (series,b), spine agg (series), join, window (series):
    one exchange tree on the series key + the bucket agg's — no extra
    exchange for the window."""
    from apache_arrow_spark.operators.timeseries import resample_ffill
    from apache_arrow_spark.session import load_table

    ev = load_table(spark, sf_dir, "events")
    df = resample_ffill(
        ev.select("event_type", "ts", "value"),
        "event_type",
        "ts",
        "value",
        3_600_000_000_000,
    )
    # observed agg shuffles on (series,b); spine agg + window reuse series
    # partitioning derived from it; the spine-observed join may re-exchange
    # one side.  The discipline: bounded small constant, not per-stage.
    assert shuffle_count(df) <= 4


def test_profile_single_aggregate_no_percol_jobs(spark, sf_dir):
    from apache_arrow_spark.functions.profiling import profile

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    df = profile(o, ["o_custkey", "o_orderstatus"])
    plan = plan_string(df, "simple")
    # exactly one scan of the table feeds all metrics
    assert plan.count("FileScan parquet") == 1


def test_weighted_sample_no_global_sort(spark, sf_dir):
    from apache_arrow_spark.functions.pipeline import weighted_sample

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = plan_string(weighted_sample(d, "n_chars", 10, "doc_id"), "simple")
    assert "TakeOrderedAndProject" in plan and "Sort " not in plan


def test_exact_dedup_shuffles_digests_not_bodies(spark, sf_dir):
    """MEASURED scale discipline: exact dedup's shuffle traffic is a small
    fraction of the corpus text volume — document bodies never enter an
    exchange."""
    from apache_arrow_spark.functions.dedup import exact_dedup
    from apache_arrow_spark.plans.inspect import shuffle_bytes_written

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus_bytes = d.select(
        F.sum(F.length("text")).alias("b")
    ).first().b
    out = exact_dedup(d, "text", "doc_id")
    out.collect()  # metrics attach to THIS df's execution (a .write wraps
    # the plan in a separate query execution whose metrics out would miss)
    shuffled = shuffle_bytes_written(out)
    assert shuffled > 0
    # digests + ids are far smaller than the text corpus
    assert shuffled < corpus_bytes / 2, (shuffled, corpus_bytes)


def test_shuffle_bytes_scale_linearly(spark):
    """Two-point scaling guard (SCALE.md 'Measured scaling curves'): for
    the hottest headline queries, shuffle bytes must grow ~linearly in the
    corpus (alpha ~ 1) between sf0.001 and sf0.01.  A quadratic stage —
    candidate flood, uncapped pair join — would show ratio ~100; the bound
    of 30 (alpha ~ 1.5) catches that while tolerating small-sf noise and
    per-partition constants.  q119's pair shuffle is additionally expected
    to stay FLAT (the doc-frequency cap claim)."""
    from apache_arrow_spark.plans.inspect import app_shuffle_bytes, latest_stage_id
    from apache_arrow_spark.queries import QUERIES

    hot = [
        "q22_join_region_revenue",
        "q33_minhash_near_duplicates",
        "q97_importance_weights",
        "q119_winnow_fingerprints",
        # r3 late additions with pair-join shapes: the vocab-gated
        # co-occurrence join and the digest-keyed source-overlap join
        "q164_token_cooccurrence",
        "q172_source_overlap_matrix",
        # the asymmetric-containment probe join (rarest-15% prefix): the
        # most expensive headline query — guard its probe volume growth
        "q143_containment_pairs",
        # r5: the exact PPJoin+ Jaccard pair join — the r4 digest-shuffle
        # rewrite changed its plan, so its post-rewrite growth is guarded
        # alongside q143's (alpha recorded in SCALE.md's r5 table)
        "q140_ngram_jaccard_pairs",
        # r4: span-dedup repair — window digests + coverage explode must
        # stay linear at any duplicate density (the C4 claim)
        "q254_span_dedup",
        # r4 late: rolling-distinct fan-out (sub-linear on the deduped
        # day-user table), flat-egress Gram covariance, sweep-line
        # coverage, incremental session stitch (measured alphas 0.83 /
        # 0.009 / 1.0 / 0.99 — tools/scaling_curves.py)
        "q262_rolling_active_users",
        "q265_embedding_covariance",
        "q274_interval_coverage",
        "q276_session_stitch",
        # r6: the two largest remaining headline shufflers (NB confusion
        # cells, perplexity-strata rank passes) plus the r5 reference-
        # parity kernels (IsIn/Match contingency, row-group scan) —
        # alphas recorded in SCALE.md's r6 table
        "q216_nb_confusion",
        "q205_perplexity_strata",
        "q290_isin_match",
        "q291_row_group_scan",
        # r6 perf wave: the salted SemDeDup pair join and the repartitioned
        # cogroup (alphas 0.59 / 1.02 — SCALE.md r6 table)
        "q130_semantic_dedup_pairs",
        "q248_cogroup_reconcile",
    ]
    import time as _time

    def run(name, sf):
        _time.sleep(0.3)  # listener bus drain
        # stage-id watermark, NOT a cumulative diff: in a long pytest
        # session the status store evicts stages past retainedStages
        # (1000) and a cumulative 'after - before' goes NEGATIVE
        # (observed r7: q216 small-sf reading of -310 KB)
        mark = latest_stage_id(spark)
        QUERIES[name](spark, f"/root/testdata/{sf}").collect()
        _time.sleep(0.3)
        return app_shuffle_bytes(spark, since_stage=mark)

    # q291 builds a one-time /tmp fixture (a global sort) on first touch
    # per sf — a side effect, not the query's steady-state shuffle.  Warm
    # both fixtures OUTSIDE the measured passes so a fresh /tmp can't
    # contaminate the two-point ratio asymmetrically.
    for sf in ("sf0.001", "sf0.01"):
        QUERIES["q291_row_group_scan"](spark, f"/root/testdata/{sf}").collect()

    for name in hot:
        small = run(name, "sf0.001")
        big = run(name, "sf0.01")
        # floor the denominator: at sf0.001 a query may shuffle almost
        # nothing, and a ratio over ~nothing is meaningless
        ratio = big / max(small, 4096)
        assert ratio < 30, (name, small, big, ratio)


def test_r3_operator_plan_shapes(spark, sf_dir):
    """Plan-shape guards for the round-3 operators: the claims in their
    docstrings, asserted against the actual plans."""
    import pyspark.sql.functions as F

    from apache_arrow_spark.functions.dedup import ngram_jaccard_pairs
    from apache_arrow_spark.functions.retrieval import phrase_match
    from apache_arrow_spark.functions.validation import robust_outlier_stats
    from apache_arrow_spark.plans.inspect import plan_string

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")

    # exact similarity joins are ARRAY-FREE: no array_intersect anywhere
    out = ngram_jaccard_pairs(d, n=3, jaccard_threshold=0.4)
    p = plan_string(out, "simple")
    assert "array_intersect" not in p and "CartesianProduct" not in p
    out.unpersist()

    # phrase search: the postings filter (term IN ...) sits below the join
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    pm = phrase_match(d, ["scan", "query"])
    p = plan_string(pm, "simple")
    assert "CartesianProduct" not in p

    # robust outlier stats: the tiny per-group stats join back onto rows
    # must broadcast, never shuffle the fact side
    ro = robust_outlier_stats(o, "o_totalprice", "o_orderpriority")
    assert "BroadcastHashJoin" in plan_string(ro, "simple")


def test_sharded_bloom_probe_uses_cogroup(spark):
    from apache_arrow_spark.functions.bloom import (
        bloom_build_sharded,
        with_might_contain_sharded,
    )
    from apache_arrow_spark.plans.inspect import plan_string

    keys = spark.range(0, 100).selectExpr("CAST(id AS STRING) AS k")
    sk = bloom_build_sharded(keys, "k", shard_bits=2, num_bits_per_shard=1 << 10)
    probed = with_might_contain_sharded(
        keys, "k", sk, shard_bits=2, num_bits_per_shard=1 << 10
    )
    # the probe is a cogroup (FlatMapCoGroupsInPandas), never a row-
    # multiplying join of bits onto rows
    p = plan_string(probed, "simple")
    assert "CoGroup" in p or "FlatMapCoGroups" in p
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p


def test_q159_bucketed_join_no_join_side_exchange(spark, sf_dir):
    df = QUERIES["q159_bucketed_join"](spark, sf_dir)
    p = plan_string(df, "formatted")
    # both scans carry catalog bucketing metadata
    assert p.count("Bucketed: true") == 2
    # the join is the merge join, co-located by layout:
    assert "SortMergeJoin" in p
    # ...so the ONLY exchange left is the final 3-group aggregate
    assert shuffle_count(df) <= 1


def test_q159_layout_reuse_and_wipe_recovery(spark, sf_dir):
    """The steady-state layout cache must (a) reuse across invocations,
    (b) survive an external scratch sweep by rewriting, (c) keep values
    identical in every mode, and (d) self-prune so exactly one layout
    dir exists."""
    import glob
    import shutil
    import tempfile

    def run():
        return sorted(map(tuple, QUERIES["q159_bucketed_join"](spark, sf_dir).collect()))

    r1 = run()
    r2 = run()  # cache hit
    pattern = "/dev/shm/aas_layout_q159_*"
    if not glob.glob(pattern):
        pattern = tempfile.gettempdir() + "/aas_layout_q159_*"
    for d in glob.glob(pattern):
        shutil.rmtree(d, ignore_errors=True)  # simulate a scratch sweeper
    r3 = run()  # must detect the wipe and rewrite, not fail mid-scan
    assert r1 == r2 == r3
    # exactly one layout for THIS application (a concurrent process may
    # legitimately hold its own)
    appid = spark.sparkContext.applicationId
    assert len(glob.glob(pattern.replace("q159_", f"q159_{appid}_"))) == 1


def test_q159_reaper_spares_locked_live_layout(tmp_path):
    """The flock beacon (r8): a concurrent reaper must NOT remove a
    >24 h-old foreign layout whose owner still holds the shared lock —
    the r7-accepted live-layout race, now eliminated.  Once the owner's
    fd closes (process death releases flock automatically) the same dir
    becomes reapable; a young dir without a beacon stays protected by
    the age bar."""
    import fcntl
    import os
    import time

    from apache_arrow_spark.queries import _q159_layout_live, _q159_reap_stale

    scratch = str(tmp_path)
    foreign = os.path.join(scratch, "aas_layout_q159_otherapp_x")
    os.makedirs(foreign)
    lock = os.open(os.path.join(foreign, ".lock"), os.O_CREAT | os.O_RDWR)
    fcntl.flock(lock, fcntl.LOCK_SH)
    old = time.time() - 25 * 3600
    os.utime(foreign, (old, old))
    _q159_reap_stale(scratch, "myapp", keep_root="")
    assert os.path.isdir(foreign), "locked live layout must survive the reap"
    assert _q159_layout_live(foreign)
    os.close(lock)  # owner exits -> flock released by the kernel
    assert not _q159_layout_live(foreign)
    os.utime(foreign, (old, old))
    _q159_reap_stale(scratch, "myapp", keep_root="")
    assert not os.path.isdir(foreign), "dead + stale layout must be reaped"
    young = os.path.join(scratch, "aas_layout_q159_otherapp_y")
    os.makedirs(young)
    _q159_reap_stale(scratch, "myapp", keep_root="")
    assert os.path.isdir(young), "young beacon-less dir is spared by the age bar"


def test_q159_reuse_refreshes_mtime(spark, sf_dir):
    """Every cache hit must refresh the layout root's mtime so the 24 h
    cross-app bar measures time-since-last-USE: a live app invoking the
    join daily never ages out (ADVICE r7)."""
    import glob
    import os
    import tempfile
    import time

    QUERIES["q159_bucketed_join"](spark, sf_dir).collect()
    appid = spark.sparkContext.applicationId
    pattern = f"/dev/shm/aas_layout_q159_{appid}_*"
    dirs = glob.glob(pattern)
    if not dirs:
        pattern = tempfile.gettempdir() + f"/aas_layout_q159_{appid}_*"
        dirs = glob.glob(pattern)
    (root,) = dirs
    old = time.time() - 25 * 3600
    os.utime(root, (old, old))
    QUERIES["q159_bucketed_join"](spark, sf_dir).collect()  # cache hit
    assert time.time() - os.stat(root).st_mtime < 3600


def test_tpch_pack_plan_shapes(spark, sf_dir):
    # q153: shipdate filter reaches the scan; top-10 is TakeOrdered, not a
    # global sort
    df = QUERIES["q153_shipping_priority"](spark, sf_dir)
    p = plan_string(df, "simple")
    assert "TakeOrderedAndProject" in p
    assert "GreaterThan(l_shipdate" in pushed_filters(df)

    # q156: part is a broadcast dim; month filter pushes down
    df = QUERIES["q156_promo_revenue"](spark, sf_dir)
    p = plan_string(df, "simple")
    assert "BroadcastHashJoin" in p and "SortMergeJoin" not in p
    assert "l_shipdate" in pushed_filters(df)

    # q158: pure scan query — every predicate pushed, only the single-row
    # combine exchanges
    df = QUERIES["q158_forecast_revenue_change"](spark, sf_dir)
    pf = pushed_filters(df)
    assert "l_discount" in pf and "l_quantity" in pf and "l_shipdate" in pf
    assert shuffle_count(df) <= 1

    # q157: the HAVING collapse runs before the joins (aggregate below
    # join), and the top-25 is TakeOrdered
    df = QUERIES["q157_large_volume_orders"](spark, sf_dir)
    p = plan_string(df, "simple")
    assert "TakeOrderedAndProject" in p
    assert "CartesianProduct" not in p


def test_q164_vocab_gate_broadcasts(spark, sf_dir):
    df = QUERIES["q164_token_cooccurrence"](spark, sf_dir)
    p = plan_string(df, "simple")
    # the top-200 vocabulary gate joins by broadcast; the pair stage must
    # never be a cartesian expansion
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_q168_erasure_semi_joins_broadcast(spark, sf_dir):
    df = QUERIES["q168_erasure_cascade"](spark, sf_dir)
    p = plan_string(df, "simple")
    # the cascade stays KEY-ONLY semi-joins; the keysets carry no pinned
    # broadcast (customer-/orders-derived, O(SF)) — at this test scale the
    # size-based planner still picks broadcast, which is the intended
    # small-side behavior, while cluster scale degrades to shuffle
    assert p.count("LeftSemi") >= 2
    assert "BroadcastHashJoin" in p


def test_q170_stats_broadcast_back(spark, sf_dir):
    df = QUERIES["q170_winsorized_mean"](spark, sf_dir)
    p = plan_string(df, "simple")
    # the 5-row quantile stats table broadcasts onto the fact scan
    assert "BroadcastHashJoin" in p


def test_q175_partition_filter_prunes_directories(spark, sf_dir):
    df = QUERIES["q175_partition_pruned_scan"](spark, sf_dir)
    p = plan_string(df, "formatted")
    # the year predicate is a PARTITION filter (directory pruning), not a
    # data filter evaluated per row
    assert "PartitionFilters: [isnotnull(o_year" in p
    assert "o_year" in p.split("PartitionFilters:")[1].splitlines()[0]


def test_q176_dynamic_partition_pruning_fires(spark, sf_dir):
    df = QUERIES["q176_dynamic_partition_pruning"](spark, sf_dir)
    p = plan_string(df, "simple")
    # the dim's qualifying keys are injected as a runtime partition filter
    assert "dynamicpruning" in p


def test_q203_rrf_legs_shapes(spark, sf_dir):
    df = QUERIES["q203_hybrid_rrf"](spark, sf_dir)
    p = plan_string(df, "simple")
    # BM25 leg broadcasts its stats; dense leg ends in TakeOrdered (no
    # global sort); fusion itself never touches the corpus again
    assert "BroadcastHashJoin" in p
    assert "TakeOrderedAndProject" in p
    assert "CartesianProduct" not in p


def test_q204_weight_table_broadcasts(spark, sf_dir):
    df = QUERIES["q204_quality_classifier"](spark, sf_dir)
    p = plan_string(df, "simple")
    # the model (bucket -> weight) joins by broadcast: scoring is a
    # map-side join + combinable aggregate, never a model-side shuffle
    assert "BroadcastHashJoin" in p


def test_q205_no_global_window(spark, sf_dir):
    import re

    df = QUERIES["q205_perplexity_strata"](spark, sf_dir)
    p = plan_string(df, "formatted")
    # global_value_rank's claim: every Window node is partitioned (the
    # single-task `OVER (ORDER BY ...)` pattern would show an empty
    # partition spec)
    for m in re.finditer(r"partitionBy=\[\]", p):
        raise AssertionError(f"global window found: {p[m.start()-200:m.end()]}")
    # ...and the rank is the range scan's Window partitioned by __pid
    assert re.search(r"\], \[__pid#\d+\], \[", p), "no range-scan Window"


def test_q206_cluster_sizes_broadcast(spark, sf_dir):
    df = QUERIES["q206_dup_weighted_sample"](spark, sf_dir)
    p = plan_string(df, "simple")
    assert "BroadcastHashJoin" in p


def test_q208_semi_join_chain_broadcasts(spark, sf_dir):
    df = QUERIES["q208_heavy_suppliers"](spark, sf_dir)
    p = plan_string(df, "simple")
    # both IN-subqueries become broadcast left-semi joins
    assert p.count("LeftSemi") >= 2
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_q209_decorrelated_no_correlated_rescans(spark, sf_dir):
    df = QUERIES["q209_last_shipper"](spark, sf_dir)
    p = plan_string(df, "simple")
    # the EXISTS/NOT EXISTS decorrelation: no nested-loop/cartesian
    # fallback, and the supplier name join broadcasts
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "BroadcastHashJoin" in p


def test_q212_disjunction_pushes_common_filters(spark, sf_dir):
    df = QUERIES["q212_disjunctive_bands"](spark, sf_dir)
    p = plan_string(df, "formatted")
    # Catalyst derives pushable per-side predicates from under the OR:
    # the lineitem scan must carry a quantity pushed filter and the part
    # side must broadcast
    assert "BroadcastHashJoin" in p
    assert "l_quantity" in p.split("PushedFilters:")[1].splitlines()[0] or \
           "l_quantity" in p


def test_q230_orphan_park_is_broadcast_anti(spark, sf_dir):
    df = QUERIES["q230_late_dimension_repair"](spark, sf_dir)
    p = plan_string(df, "simple")
    assert "LeftAnti" in p and "BroadcastHashJoin" in p


def test_q250_pipeline_composes_lazily(spark, sf_dir):
    df = QUERIES["q250_corpus_pipeline"](spark, sf_dir)
    p = plan_string(df, "simple")
    # one DAG: the dedup winners semi-join is present, nothing degenerates
    # to a cartesian product, and no Python touches the hot path
    assert "LeftSemi" in p
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p


def test_q267_radius_join_is_equi_join(spark, sf_dir):
    """The grid-cell radius join must plan as a plain equi-join on the
    cell key — never a cartesian/nested-loop product (the whole point
    of the bucketing)."""
    df = QUERIES["q267_grid_radius_join"](spark, sf_dir)
    p = plan_string(df, "simple")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert ("BroadcastHashJoin" in p) or ("SortMergeJoin" in p) or (
        "ShuffledHashJoin" in p
    )


def test_q266_q5_dims_broadcast(spark, sf_dir):
    """TPC-H Q5 shape: only the FIXED-SIZE dims (nation 25 rows, region
    5 rows) carry broadcast hints; customer AND the supplier-derived
    dims frame do not (both scale with SF, so a pinned hint would OOM at
    cluster scale; at graded sf AQE may still pick broadcast from
    measured size, which is fine: a runtime decision, not a plan-pinned
    claim).  No cartesian anywhere."""
    df = QUERIES["q266_local_supplier_volume"](spark, sf_dir)
    p = plan_string(df, "simple")
    assert p.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in p
    # EXACTLY the two fixed-size dim broadcasts (nation, region) appear
    # as hints.  The equality keeps the guard live — if Spark ever
    # renders hints differently, the count drops to 0 and the test fails
    # loudly instead of going vacuous (<= would silently pass on a
    # format change)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert analyzed.count("ResolvedHint (strategy=broadcast)") == 2


def test_q265_covariance_egress_is_partition_bounded(spark, sf_dir):
    """The covariance mapInPandas stage emits O(dim^2) rows per
    partition: the aggregate input row count must be far below the
    corpus size once partials are summed (executed-plan metric)."""
    from apache_arrow_spark.functions.similarity import embedding_covariance
    from apache_arrow_spark.session import load_table

    e = load_table(spark, sf_dir, "embeddings")
    out = embedding_covariance(e.repartition(4), "embedding", dim=64)
    assert out.count() == 64 * 65 // 2
    # 4 partitions x (2080 + 64 + 1) = 8580 partial rows max
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "mapInPandas" in plan or "MapInPandas" in plan


def test_spread_compute_identity_on_well_split_input(spark):
    """The scale guard of session.spread_compute: on a source that already
    has >= default-parallelism partitions (a real multi-file cluster
    dataset) it must be an IDENTITY — never introducing a raw-data
    re-shuffle at 100 TB.  Only the degenerate few-splits case (single-
    row-group local files) gets repaired."""
    from apache_arrow_spark.session import spread_compute

    target = max(spark.sparkContext.defaultParallelism, 8)
    wide = spark.range(10_000, numPartitions=target + 4)
    assert spread_compute(wide) is wide  # identity, not even a new plan node

    narrow = spark.range(10_000, numPartitions=1)
    out = spread_compute(narrow)
    assert out is not narrow
    assert out.rdd.getNumPartitions() == target
    # keyed form: the exchange hash-partitions on the key so a downstream
    # aggregate/join on it adds no further shuffle
    keyed = spread_compute(narrow.withColumnRenamed("id", "k"), "k")
    assert "hashpartitioning(k" in keyed._jdf.queryExecution().executedPlan().toString()

def test_free_local_checkpoint_releases_blocks(spark):
    """session.free_local_checkpoint reaches the LogicalRDD's backing RDD
    (DataFrame.rdd would be a fresh wrapper — unpersisting it frees
    nothing) and returns False, never raising, on non-checkpoint plans."""
    from apache_arrow_spark.session import free_local_checkpoint

    jsc = spark.sparkContext._jsc.sc()
    ck = spark.range(1000).localCheckpoint()
    # track the SPECIFIC backing RDD id — global persistent-RDD counts
    # race with ContextCleaner asynchronously reaping earlier tests' GC'd
    # checkpoints in the shared session
    rid = ck._jdf.queryExecution().analyzed().rdd().id()
    assert jsc.getPersistentRDDs().contains(rid)
    assert free_local_checkpoint(ck) is True
    assert not jsc.getPersistentRDDs().contains(rid)
    # non-checkpoint root: honest no-op
    assert free_local_checkpoint(spark.range(10)) is False


# --------------------------------------------------------------------------
# r8 single-task-stage fixes: regression guards (r8 verdict "What's wrong"
# #1).  q72/q164/q261 gained a spread_compute exchange and q83 a
# posexplode_OUTER specifically to kill measured single-task scan stages;
# nothing previously asserted the fixed plans stay fixed, so a Catalyst
# upgrade re-deriving InferFiltersFromGenerate under the outer-explode, or
# a refactor dropping a spread, would regress silently until the next
# manual stage_profile run.
# --------------------------------------------------------------------------


def _first_index(plan: str, *fragments: str) -> int:
    """Position of the first occurrence of any fragment (assert >= 0)."""
    hits = [plan.find(f) for f in fragments if plan.find(f) >= 0]
    assert hits, f"none of {fragments} in plan:\n{plan[:2000]}"
    return min(hits)


def test_q72_gram_explode_runs_above_spread_exchange(spark, sf_dir):
    """q72's gram explode + map-side count must sit ABOVE the round-robin
    spread exchange (queries.py: the r8 fix for the 0.43 s single-task
    scan stage at sf0.1) — parents print before children, so the Generate
    must appear before the RoundRobin exchange in the plan text."""
    df = QUERIES["q72_top_ngram_fraction"](spark, sf_dir)
    plan = plan_string(df, "simple")
    gen = _first_index(plan, "Generate explode")
    rr = _first_index(plan, "RoundRobinPartitioning")
    assert gen < rr, "gram explode fused below the spread exchange"


def test_q164_token_explode_runs_above_spread_exchange(spark, sf_dir):
    df = QUERIES["q164_token_cooccurrence"](spark, sf_dir)
    plan = plan_string(df, "simple")
    gen = _first_index(plan, "Generate explode")
    rr = _first_index(plan, "RoundRobinPartitioning")
    assert gen < rr, "token explode fused below the spread exchange"


def test_q261_posexplode_runs_above_spread_exchange(spark, sf_dir):
    df = QUERIES["q261_log_templates"](spark, sf_dir)
    plan = plan_string(df, "simple")
    gen = _first_index(plan, "Generate posexplode")
    rr = _first_index(plan, "RoundRobinPartitioning")
    assert gen < rr, "line posexplode fused below the spread exchange"


def test_q83_no_inferred_filter_below_spread(spark, sf_dir):
    """q83 uses posexplode_OUTER so InferFiltersFromGenerate cannot
    synthesize `size(codes)>0 AND isnotnull(codes)` and push it below the
    spread exchange (measured: 723 ms single-task scan stage vs 72 ms).
    Guard both halves: the Generate carries outer=true, and the segment
    between the spread exchange and the scan contains NO Filter node (the
    scan itself keeps empty DataFilters)."""
    import re

    df = QUERIES["q83_quantize_embeddings"](spark, sf_dir)
    plan = plan_string(df, "simple")
    # Generate posexplode(codes#N), [outputs], true, [...] — the third
    # field is the outer flag
    assert re.search(r"Generate posexplode\(codes#\d+\), \[[^\]]*\], true", plan), (
        "posexplode lost its outer flag:\n" + plan[:1500]
    )
    rr = _first_index(plan, "RoundRobinPartitioning")
    scan = plan.find("FileScan", rr)
    assert scan > rr
    between = plan[rr:scan]
    assert "Filter" not in between, (
        "a filter was pushed below q83's spread exchange:\n" + between
    )
    assert "DataFilters: []" in plan[scan : scan + 400]


def test_local_dir_reaper_prunes_dead_owners_spares_live(tmp_path):
    """session._reap_orphan_local_dirs (r8 verdict #4, hardened per r9
    ADVICE): a crashed JVM's per-PID shuffle dir is pruned once past the
    60 s teardown grace (the child JVM can outlive its Python driver by
    a moment — never rmtree mid-write); a JUST-dead owner's dir is
    spared until the next reap; a live process's dir always survives;
    legacy non-pid dirs fall back to the 24 h age bar; plain stray files
    follow the same bar via os.remove (rmtree skips non-dirs silently);
    unprobeable pid-shaped names — non-ASCII digits like '²' where
    str.isdigit lies, or values past the OS pid range that overflow
    os.kill — must not crash the reap (they bricked every session start
    before) and are treated as unowned."""
    import os
    import subprocess
    import time

    from apache_arrow_spark.session import _reap_orphan_local_dirs

    p = subprocess.Popen(["true"])
    p.wait()  # a genuinely dead pid
    dead = tmp_path / str(p.pid)
    dead.mkdir()
    (dead / "shuffle.data").write_bytes(b"x" * 64)
    os.utime(dead, (time.time() - 120,) * 2)  # past the teardown grace
    p2 = subprocess.Popen(["true"])
    p2.wait()
    dead_fresh = tmp_path / str(p2.pid)  # dead but inside the grace
    if dead_fresh == dead:  # pid reuse paranoia
        dead_fresh = tmp_path / "999999"
    dead_fresh.mkdir()
    live = tmp_path / str(os.getpid())
    live.mkdir()
    legacy_old = tmp_path / "spark-deadbeef"
    legacy_old.mkdir()
    os.utime(legacy_old, (time.time() - 25 * 3600,) * 2)
    legacy_fresh = tmp_path / "spark-cafef00d"
    legacy_fresh.mkdir()
    stray_old = tmp_path / "stray.lock"
    stray_old.write_bytes(b"x")
    os.utime(stray_old, (time.time() - 25 * 3600,) * 2)
    stray_fresh = tmp_path / "stray2.lock"
    stray_fresh.write_bytes(b"x")
    weird_digit = tmp_path / "²"  # isdigit() True, int() raises
    weird_digit.mkdir()
    os.utime(weird_digit, (time.time() - 25 * 3600,) * 2)
    huge = tmp_path / str(2**63)  # os.kill would raise OverflowError
    huge.mkdir()
    os.utime(huge, (time.time() - 25 * 3600,) * 2)

    _reap_orphan_local_dirs(str(tmp_path))

    assert not dead.exists(), "dead-owner dir past grace survived the reap"
    assert dead_fresh.exists(), "just-dead dir reaped inside teardown grace"
    assert live.exists(), "live-owner dir was reaped"
    assert not legacy_old.exists(), ">24h legacy dir survived the reap"
    assert legacy_fresh.exists(), "fresh legacy dir was reaped"
    assert not stray_old.exists(), ">24h stray file survived the reap"
    assert stray_fresh.exists(), "fresh stray file was reaped"
    assert not weird_digit.exists(), "non-ASCII-digit dir survived (or crashed)"
    assert not huge.exists(), "past-pid-range dir survived (or crashed)"


def test_get_spark_local_dir_is_per_pid(spark):
    """get_spark wires _default_local_dir: when the engine owns the tmpfs
    root (no SPARK_GRAFT_LOCAL_DIR override), spark.local.dir is this
    process's own subdir — the mapping the reaper's liveness probe needs."""
    import os

    if os.environ.get("SPARK_GRAFT_LOCAL_DIR") or not os.path.isdir("/dev/shm"):
        import pytest

        pytest.skip("operator-supplied local dir — reaper out of scope")
    conf = spark.sparkContext.getConf().get("spark.local.dir")
    assert conf.rstrip("/").endswith(os.sep + str(os.getpid()))


def test_default_cpus_follows_env_then_affinity(monkeypatch):
    """Local parallelism comes from SPARK_GRAFT_CPUS when set, else from
    the CPUs this process may run on — never a fixed core count."""
    import os

    from apache_arrow_spark.session import default_cpus

    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_cpus() == 3
    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    assert default_cpus() == len(os.sched_getaffinity(0))


class _NoContextSession:
    """A session stand-in whose ``sparkContext`` is unreachable, as on
    Spark Connect; everything else is the real session."""

    def __init__(self, spark):
        self._spark = spark

    @property
    def sparkContext(self):
        raise RuntimeError("sparkContext is not available")

    def __getattr__(self, name):
        return getattr(self._spark, name)


def test_compute_parallelism_falls_back_to_shuffle_partitions(spark, monkeypatch, caplog):
    """Without a sparkContext the partition policy is the session's
    ``spark.sql.shuffle.partitions`` — never a constant — and the degrade
    logs one WARN per process."""
    import logging

    import apache_arrow_spark.log as log_mod
    from apache_arrow_spark.session import compute_parallelism

    monkeypatch.setattr(log_mod, "_warned", set())
    shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    stub = _NoContextSession(spark)
    with caplog.at_level(logging.WARNING, logger="apache_arrow_spark"):
        assert compute_parallelism(stub) == shuffle
        assert compute_parallelism(stub) == shuffle
    warns = [r for r in caplog.records if r.name == "apache_arrow_spark"]
    assert len(warns) == 1 and "sparkContext" in warns[0].getMessage()


def test_truncate_without_context_takes_local_cut_and_warns_once(spark, monkeypatch, caplog):
    """Without a sparkContext ``truncate`` cannot see a checkpoint
    directory: it takes the local cut and logs one WARN per process."""
    import logging
    import types

    import apache_arrow_spark.log as log_mod
    from apache_arrow_spark.session import free_local_checkpoint, truncate

    monkeypatch.setattr(log_mod, "_warned", set())
    df = spark.range(10)
    calls = []
    stub = types.SimpleNamespace(
        sparkSession=_NoContextSession(spark),
        localCheckpoint=lambda eager: calls.append(("local", eager)) or df.localCheckpoint(eager),
        checkpoint=lambda eager: calls.append(("reliable", eager)),
    )
    with caplog.at_level(logging.WARNING, logger="apache_arrow_spark"):
        cuts = [truncate(stub), truncate(stub)]
    assert calls == [("local", True)] * 2
    assert [c.count() for c in cuts] == [10, 10]
    assert all(free_local_checkpoint(c) for c in cuts)
    warns = [r for r in caplog.records if r.name == "apache_arrow_spark"]
    assert len(warns) == 1 and "sparkContext" in warns[0].getMessage()


def test_spread_compute_unevaluable_guard_is_identity_and_warns(monkeypatch, caplog):
    import logging
    import types

    import apache_arrow_spark.log as log_mod
    from apache_arrow_spark.session import spread_compute

    monkeypatch.setattr(log_mod, "_warned", set())
    df = types.SimpleNamespace()  # no sparkSession, no rdd: guard unevaluable
    with caplog.at_level(logging.WARNING, logger="apache_arrow_spark"):
        assert spread_compute(df) is df
        assert spread_compute(df, "k") is df
    warns = [r for r in caplog.records if r.name == "apache_arrow_spark"]
    assert len(warns) == 1 and "spread_compute" in warns[0].getMessage()


def _raise(*_args):
    raise RuntimeError("not supported by this session")


@pytest.mark.parametrize(
    "failing, message",
    [("conf", "cannot set"), ("ship", "could not ship")],
)
def test_session_fallback_keeps_session_and_warns_once(monkeypatch, caplog, failing, message):
    """A runtime conf the session refuses, or a failed ``addPyFile``,
    leaves the session usable and logs one WARN per process."""
    import logging
    import types

    import apache_arrow_spark.log as log_mod
    from apache_arrow_spark.session import apply_runtime_confs

    def stub():
        return types.SimpleNamespace(
            conf=types.SimpleNamespace(set=_raise if failing == "conf" else lambda k, v: None),
            sparkContext=types.SimpleNamespace(addPyFile=_raise),
            _aas_shipped=failing == "conf",
        )

    monkeypatch.setattr(log_mod, "_warned", set())
    stubs = [stub(), stub()]
    with caplog.at_level(logging.WARNING, logger="apache_arrow_spark"):
        for s in stubs:
            assert apply_runtime_confs(s) is s
    warns = [r for r in caplog.records if r.name == "apache_arrow_spark"]
    assert len(warns) == 1 and message in warns[0].getMessage()


def test_private_observation_handle_only_in_session():
    """``obs._jo`` is a private PySpark handle: only session.observed, which
    has a tested fallback, may touch it."""
    import pathlib

    import apache_arrow_spark

    root = pathlib.Path(apache_arrow_spark.__file__).parent
    offenders = [
        str(p.relative_to(root))
        for p in root.rglob("*.py")
        if p != root / "session.py" and "._jo." in p.read_text()
    ]
    assert offenders == []
