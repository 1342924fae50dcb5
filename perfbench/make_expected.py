"""Write perfbench/expected.json: the DuckDB oracle digest of every fixture
query the benchmark runs.

    python3 perfbench/make_expected.py

Each oracle runs on DuckDB over the fixture parquet files, the way
tools/check_oracle.py runs it; q140 uses the postings-join oracle of
tools/two_scale_sweep.py, because its registered all-pairs oracle does
not finish at sf0.1.  Every digest is also compared with the Spark
output before it is written, so a query that disagrees with its oracle
stops the script instead of entering the file.  Needs duckdb; the
benchmark itself does not.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

from tools.check_oracle import TABLES  # noqa: E402
from tools.two_scale_sweep import FULL_ORACLE, full_oracle_sql  # noqa: E402
from workloads import CORPUS, FIXTURE_DIR, TABULAR, frame_digest  # noqa: E402


def main() -> int:
    import duckdb

    from apache_arrow_spark.queries import ORACLE, QUERIES
    from apache_arrow_spark.session import get_spark

    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    by_prefix = {n.split("_")[0]: n for n in QUERIES}
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{FIXTURE_DIR}/{t}.parquet')"
        )
    spark = get_spark(app_name="perfbench-expected")
    spark.sparkContext.setLogLevel("ERROR")
    expected, bad = {}, []
    for q in TABULAR + CORPUS:
        name = by_prefix[q]
        sql = full_oracle_sql(name, FIXTURE_DIR) if name in FULL_ORACLE else ORACLE[name]
        want = frame_digest(con.sql(sql).df())
        got = frame_digest(QUERIES[name](spark, FIXTURE_DIR).toPandas())
        print(f"{'ok ' if got == want else 'BAD'} {name}: {want}", flush=True)
        if got != want:
            bad.append(name)
        expected[name] = want
    spark.stop()
    if bad:
        print(f"Spark disagrees with the oracle on {bad}; expected.json not written")
        return 1
    with open(os.path.join(HERE, "expected.json"), "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
