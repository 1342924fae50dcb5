"""Stage-level profiler for registered queries — the diagnostic behind
PARITY.md's "compute-starved stages" convention.

For each query: runs once untimed (plan/fixture warmup), then once timed,
and reads the app status store for the stages the timed run created.
Reports three signatures:

  wall >> stage-sum      -> driver-side cost (Catalyst analysis of a lazy
                            tree, many small jobs): fix with lineage
                            truncation, checkpoint the ROOT first.
  single-task hot stage  -> scan fusion (few-split source serializes the
                            narrow work): fix with session.spread_compute.
  few-task hot stage     -> AQE byte-blind coalescing ahead of work the
                            exchange bytes cannot see (per-group Python,
                            pair-join/explode amplification): fix with an
                            explicit repartition(n, key) — user exchanges
                            are coalesce-exempt.

Timings are only meaningful run ALONE.

Usage: python tools/stage_profile.py [--window | --all | qNN_name ...]
       (default: the bench HEADLINE list)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
HOT_SINGLE_MS = 400  # a 1-task stage at least this long is a finding


def _stages(spark):
    from apache_arrow_spark.plans.inspect import _stage_list

    out = {}
    for s in _stage_list(spark):
        dur = 0
        if s.completionTime().isDefined() and s.submissionTime().isDefined():
            dur = (
                s.completionTime().get().getTime()
                - s.submissionTime().get().getTime()
            )
        out[s.stageId()] = (s.numTasks(), dur)
    return out


def profile(spark, name: str, sf_dir: str = SF_DIR) -> dict:
    from apache_arrow_spark.queries import QUERIES

    QUERIES[name](spark, sf_dir).collect()  # warm plans + one-time fixtures
    time.sleep(0.3)
    before = set(_stages(spark))
    t0 = time.perf_counter()
    QUERIES[name](spark, sf_dir).collect()
    wall = time.perf_counter() - t0
    time.sleep(0.4)
    new = {k: v for k, v in _stages(spark).items() if k not in before}
    stage_sum = sum(d for _, d in new.values()) / 1000.0
    starved = sorted(
        (round(d / 1000.0, 2), n, sid)
        for sid, (n, d) in new.items()
        if n <= 2 and d >= HOT_SINGLE_MS
    )
    return {
        "wall_s": round(wall, 2),
        "stage_sum_s": round(stage_sum, 2),
        "driver_s": round(max(0.0, wall - stage_sum), 2),
        "n_stages": len(new),
        "starved": starved,  # (dur_s, n_tasks, stage_id) with <=2 tasks
    }


def main() -> None:
    from apache_arrow_spark.queries import QUERIES
    from apache_arrow_spark.session import get_spark

    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    if "--all" in sys.argv:
        names = list(QUERIES)
    elif "--window" in sys.argv:
        names = list(QUERIES)[:50]
    elif args:
        names = args
    else:
        from bench import HEADLINE

        names = [n for n in HEADLINE if n in QUERIES]

    spark = get_spark()
    findings = []
    for name in names:
        try:
            r = profile(spark, name)
        except Exception as ex:
            print(f"ERR {name}: {type(ex).__name__}: {str(ex)[:120]}", flush=True)
            continue
        flag = ""
        if r["starved"]:
            flag = " STARVED" + str(r["starved"])
            findings.append((name, "starved", r["starved"]))
        elif r["wall_s"] >= 2.0 and r["driver_s"] > r["stage_sum_s"]:
            flag = " DRIVER-BOUND"
            findings.append((name, "driver", r["driver_s"]))
        print(
            f"{r['wall_s']:7.2f}s  stages {r['stage_sum_s']:6.2f}s "
            f"driver {r['driver_s']:6.2f}s  n={r['n_stages']:3d}  {name}{flag}",
            flush=True,
        )
    spark.stop()
    print(f"\n{len(findings)} findings")
    for f in findings:
        print("  ", f)


if __name__ == "__main__":
    main()
