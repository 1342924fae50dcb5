"""Fault injection for the iterative, lineage-truncated paths (r9
verdict #4): connected components, PageRank, and BFS k-hop cut their
lineage with ``session.truncate`` — the engine's analog of the
reference's Plasma crash-tolerance story (cpp/src/plasma/store.cc's
client-disconnect / eviction handling: a lost object is either
refetchable or a loud error, never silently wrong data).

In local mode we cannot kill an executor, so the chaos thread drives the
same failure surface one level down: it repeatedly asks the
BlockManagerMaster to drop every RDD block materialized after the test
began — exactly what executor loss does to cached partitions.  Two
contracts follow, one per truncation path:

- **Checkpoint directory set** (``truncate`` writes reliable
  ``checkpoint()`` files): every run returns the exact clean-run result.
  Truncated rounds live in files the chaos cannot drop, and a dropped
  plain-persist block recomputes from lineage.
- **No checkpoint directory** (``truncate`` takes ``localCheckpoint``): a
  run either returns the exact result or fails LOUDLY with an exception.
  A dropped locally checkpointed block is unrecoverable by design
  (lineage was cut), so the loud failure is accepted there — but a
  silently wrong label/rank/distance never is.

Each op runs under chaos several times.  Chaos timing is inherently
racy; the loop makes the window wide enough that drops land
mid-iteration in practice (verified by the drop counter).

A block-release fence rides along: an iterative call leaves only the
blocks of the frame it returns, the lazy LM / retrieval operators leave
none, and the queries over the global range scans
(``pipeline._range_scan``, also cut with ``session.truncate``) leave
nothing in Spark's CacheManager.
"""

import threading
import time

import pyspark.sql.functions as F
import pytest


def _rdd_chaos(spark, stop, baseline_ids, dropped_counter):
    """Every ~60 ms, drop the blocks of every persistent RDD created
    after the test started (ids above the baseline).  Mirrors executor
    loss: cached partitions vanish, the driver's bookkeeping stays."""
    sc = spark.sparkContext
    bmm = sc._jsc.sc().env().blockManager().master()
    while not stop.is_set():
        try:
            ids = [
                int(str(k))
                for k in sc._jsc.getPersistentRDDs().keySet().toArray()
            ]
            for rid in ids:
                if rid > baseline_ids:
                    bmm.removeRdd(rid, False)
                    dropped_counter.append(rid)
        except Exception:
            pass  # py4j races with job teardown are chaos, not failures
        time.sleep(0.06)


def _max_rdd_id(spark):
    sc = spark.sparkContext
    ids = [
        int(str(k)) for k in sc._jsc.getPersistentRDDs().keySet().toArray()
    ]
    return max(ids, default=-1)


def _run_under_chaos(spark, fn, expected_rows, attempts=4):
    """Run ``fn`` under block-drop chaos ``attempts`` times.  Each run
    must either match ``expected_rows`` exactly or raise.  Returns
    (n_correct, n_loud, total_drops) so callers can assert the chaos
    actually engaged."""
    n_correct = n_loud = 0
    drops = []
    for _ in range(attempts):
        stop = threading.Event()
        t = threading.Thread(
            target=_rdd_chaos,
            args=(spark, stop, _max_rdd_id(spark), drops),
            daemon=True,
        )
        t.start()
        try:
            got = fn()
        except Exception:
            n_loud += 1  # outcome (b): loud failure — acceptable
        else:
            assert got == expected_rows, (
                "SILENT WRONG RESULT under block-drop chaos:\n"
                f"got      {got[:5]}... ({len(got)} rows)\n"
                f"expected {expected_rows[:5]}... ({len(expected_rows)} rows)"
            )
            n_correct += 1
        finally:
            stop.set()
            t.join(timeout=5)
    return n_correct, n_loud, len(drops)


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture(scope="module")
def chain_pairs(spark):
    """A 3-component graph whose largest component is a 60-node chain —
    diameter 59 forces connected_components through many label rounds,
    keeping the job mid-iteration long enough for chaos to land."""
    edges = (
        [(i, i + 1) for i in range(60)]
        + [(100 + i, 101 + i) for i in range(20)]
        + [(200, 201), (201, 202), (202, 200)]
    )
    return spark.createDataFrame(edges, "id_a long, id_b long")


def test_connected_components_chaos(spark, chain_pairs):
    from apache_arrow_spark.functions.dedup import connected_components

    expected = _sorted_rows(connected_components(chain_pairs))
    assert expected, "fixture produced no components"
    n_ok, n_loud, drops = _run_under_chaos(
        spark,
        lambda: _sorted_rows(connected_components(chain_pairs)),
        expected,
    )
    assert n_ok + n_loud == 4
    assert drops > 0, "chaos thread never dropped a block — test is vacuous"


def test_pagerank_chaos(spark, chain_pairs):
    from apache_arrow_spark.functions.graph import pagerank

    expected = _sorted_rows(pagerank(chain_pairs, iters=8))
    assert expected
    n_ok, n_loud, drops = _run_under_chaos(
        spark,
        lambda: _sorted_rows(pagerank(chain_pairs, iters=8)),
        expected,
    )
    assert n_ok + n_loud == 4
    assert drops > 0, "chaos thread never dropped a block — test is vacuous"


def test_bfs_khop_chaos(spark, chain_pairs):
    from apache_arrow_spark.functions.graph import bfs_khop

    expected = _sorted_rows(
        bfs_khop(chain_pairs, seeds=[0], max_hops=25, src_col="id_a", dst_col="id_b")
    )
    assert expected
    n_ok, n_loud, drops = _run_under_chaos(
        spark,
        lambda: _sorted_rows(
            bfs_khop(
                chain_pairs, seeds=[0], max_hops=25, src_col="id_a", dst_col="id_b"
            )
        ),
        expected,
    )
    assert n_ok + n_loud == 4
    assert drops > 0, "chaos thread never dropped a block — test is vacuous"


def _graph_op(op):
    from apache_arrow_spark.functions.dedup import connected_components
    from apache_arrow_spark.functions.graph import bfs_khop, pagerank

    return {
        "connected_components": lambda p: connected_components(p),
        "pagerank": lambda p: pagerank(p, iters=8),
        "bfs_khop": lambda p: bfs_khop(
            p, seeds=[0], max_hops=25, src_col="id_a", dst_col="id_b"
        ),
    }[op]


@pytest.fixture
def checkpoint_dir(spark, tmp_path):
    """A reliable checkpoint directory for one test; the session's unset
    state is restored after it, so every other test keeps the local cut."""
    sc = spark.sparkContext
    sc.setCheckpointDir(str(tmp_path))
    yield tmp_path
    getattr(sc._jsc.sc(), "checkpointDir_$eq")(sc._jvm.scala.Option.empty())
    assert sc.getCheckpointDir() is None


@pytest.mark.parametrize("op", ["connected_components", "pagerank", "bfs_khop"])
def test_chaos_exact_with_reliable_checkpoint(spark, chain_pairs, checkpoint_dir, op):
    fn = _graph_op(op)
    expected = _sorted_rows(fn(chain_pairs))
    assert expected
    before = set(checkpoint_dir.rglob("part-*"))
    n_ok, _n_loud, drops = _run_under_chaos(
        spark, lambda: _sorted_rows(fn(chain_pairs)), expected
    )
    assert n_ok == 4, "a reliable checkpoint must recompute, never fail"
    # the truncated rounds went to files: the reliable path ran
    assert set(checkpoint_dir.rglob("part-*")) - before
    if op == "bfs_khop":
        # its persisted edge table is still a block the chaos can drop
        assert drops > 0, "chaos thread never dropped a block — test is vacuous"


def _persistent_ids(spark):
    return {
        int(str(k))
        for k in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
    }


@pytest.mark.parametrize("op", ["connected_components", "pagerank", "bfs_khop"])
def test_iterative_call_leaves_only_returned_blocks(spark, chain_pairs, op):
    from apache_arrow_spark.session import free_local_checkpoint

    before = _persistent_ids(spark)
    out = _graph_op(op)(chain_pairs)
    assert out.count() > 0
    assert free_local_checkpoint(out), "the result must be a truncation root"
    assert _persistent_ids(spark) - before == set()


@pytest.mark.parametrize("name", ["q100_unigram_nll", "q219_more_like_this"])
def test_lazy_operator_queries_leave_no_cached_blocks(spark, sf_dir, name):
    from apache_arrow_spark.queries import QUERIES

    for _ in range(2):  # no clearCache() between the calls
        before = _persistent_ids(spark)
        assert QUERIES[name](spark, sf_dir).collect()
        assert _persistent_ids(spark) - before == set()


RANGE_SCAN_QUERIES = [
    "q65_pack_sequences",
    "q133_quantile_binning",
    "q188_rank_blend_selection",
    "q195_sequence_gaps",
    "q205_perplexity_strata",
    "q238_pareto_frontier",
    "q241_peak_concurrency",
    "q288_quality_budget_cutoff",
]


@pytest.mark.parametrize("name", RANGE_SCAN_QUERIES)
def test_range_scan_queries_leave_cache_manager_empty(spark, sf_dir, name):
    from apache_arrow_spark.queries import QUERIES

    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()  # frames other tests cached are not ours
    for _ in range(2):  # no clearCache() between the calls
        assert QUERIES[name](spark, sf_dir).collect()
        assert cache.isEmpty(), f"{name} left a persisted frame registered"


@pytest.mark.parametrize("n_rows", [200, 300])
def test_range_scan_splits_small_inputs(spark, n_rows):
    """The pipeline tests' 200- and 300-row frames must span several
    ranges, or they never exercise the cross-range offsets."""
    from apache_arrow_spark.functions.pipeline import _range_scan

    df = spark.createDataFrame(
        [(i, (i * 37) % 50) for i in range(n_rows)], "id long, k long"
    )
    _, counts = _range_scan(df, ["k", "id"], F.count(F.lit(1)))
    assert len(counts) > 1
    assert sum(c for _, c in counts) == n_rows
