"""Physical-plan inspection helpers — the engine's scale-discipline checks.

Used by tests and development to assert the plan properties that matter at
100 TB: filters pushed to the scan, projections pruned, small dims
broadcast, whole-stage codegen covering the hot path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def plan_string(df: DataFrame, mode: str = "formatted") -> str:
    qe = df._jdf.queryExecution()
    if mode == "formatted":
        return qe.explainString(
            df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
    return qe.executedPlan().toString()


def pushed_filters(df: DataFrame) -> str:
    """The PushedFilters section of the scan node(s)."""
    s = plan_string(df, "simple")
    return "\n".join(line.strip() for line in s.splitlines() if "PushedFilters" in line)


def has_pushed_filter(df: DataFrame, fragment: str) -> bool:
    return fragment in pushed_filters(df)


def read_schema(df: DataFrame) -> str:
    s = plan_string(df, "simple")
    return "\n".join(line.strip() for line in s.splitlines() if "ReadSchema" in line)


def uses_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in plan_string(df, "simple")


def shuffle_count(df: DataFrame) -> int:
    return plan_string(df, "simple").count("Exchange ")


def scan_metrics(df: DataFrame) -> list[dict]:
    """Execution metrics of each leaf scan node (run the query first!):
    numFiles / numPartitions / filesSize etc.  The ground truth for
    partition- and bucket-pruning claims — plan text says what *would* be
    filtered; these say what the scan actually touched."""
    ep = df._jdf.queryExecution().executedPlan()
    leaves = ep.collectLeaves()
    out = []
    for i in range(leaves.size()):
        node = leaves.apply(i)
        metrics = {}
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            metrics[kv._1()] = kv._2().value()
        out.append({"node": node.nodeName(), "metrics": metrics})
    return out


def codegen_stages(df: DataFrame) -> int:
    """Number of distinct whole-stage-codegen spans (the ``*(N)`` node
    prefixes in the simple plan string)."""
    import re

    return len(set(re.findall(r"\*\((\d+)\)", plan_string(df, "simple"))))


def _unwrap_adaptive(node):
    if node.nodeName() == "AdaptiveSparkPlan":
        return _unwrap_adaptive(node.executedPlan())
    return node


def executed_metrics(df: DataFrame) -> list[tuple[str, str, int]]:
    """(node, metric, value) triples from the EXECUTED plan (run an action
    first — metrics are zero before execution).  Traverses AQE wrappers and
    query stages, so post-run values reflect the final adaptive plan."""
    out: list[tuple[str, str, int]] = []

    def walk(node):
        node = _unwrap_adaptive(node)
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            out.append((node.nodeName(), kv._1(), kv._2().value()))
        ch = node.children()
        for i in range(ch.size()):
            walk(ch.apply(i))
        if "QueryStage" in node.nodeName():
            walk(node.plan())

    walk(df._jdf.queryExecution().executedPlan())
    return out


def shuffle_bytes_written(df: DataFrame) -> int:
    """Total shuffle bytes written by the (already executed) query — the
    measurable form of the 'digests shuffle, bodies don't' discipline."""
    return sum(v for _, name, v in executed_metrics(df) if name == "shuffleBytesWritten")


def _stage_list(spark) -> list:
    """Every stage (``v1.StageData``) the app status store still holds."""
    sc = spark.sparkContext
    jvm = sc._jvm
    # full Spark-4 signature: (statuses, details, withSummaries, quantiles,
    # taskStatus) — empty filters mean "all stages"
    seq = sc._jsc.sc().statusStore().stageList(
        jvm.java.util.ArrayList(),
        False,
        False,
        sc._gateway.new_array(jvm.double, 0),
        jvm.java.util.ArrayList(),
    )
    return [seq.apply(i) for i in range(seq.size())]


def app_shuffle_bytes(spark, since_stage: int | None = None) -> int:
    """Sum of shuffle bytes written across completed stages in the app
    status store.  Unlike :func:`shuffle_bytes_written` this catches work
    done INSIDE a query function (internal persists, eager counts) that
    per-DataFrame executed-plan metrics miss.

    CAVEAT — do NOT diff two cumulative readings in a long session: the
    status store retains only ``spark.ui.retainedStages`` (default 1000)
    stages and silently EVICTS the oldest, so a later cumulative sum can
    be SMALLER than an earlier one (observed: a negative 'delta' in the
    r7 pytest suite once it crossed ~1000 stages).  Measure a run with
    the stage-id watermark instead::

        mark = latest_stage_id(spark)
        ...run...
        bytes = app_shuffle_bytes(spark, since_stage=mark)

    which counts only stages the run itself created — eviction of OLD
    stages can no longer corrupt it (new stages are never evicted while
    the measurement is in flight at these scales)."""
    return sum(
        s.shuffleWriteBytes()
        for s in _stage_list(spark)
        if since_stage is None or s.stageId() > since_stage
    )


def latest_stage_id(spark) -> int:
    """Highest stage id currently in the status store (-1 when empty) —
    the watermark for :func:`app_shuffle_bytes`'s ``since_stage``."""
    return max((s.stageId() for s in _stage_list(spark)), default=-1)
