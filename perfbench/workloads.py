"""The three workloads: what each operation runs, times and checks.

An operation has three steps.  ``build`` is the call into the package
(a query function, or an io function); ``execute`` drains its result to
Spark's ``noop`` sink, which is what the timed passes run; ``check`` is
the warm pass's replacement for ``execute``: it drains the result where
it can be inspected and returns a problem description, or None when the
output is right.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
# Byte copies of the sf0.1 fixture tables the queries are registered
# against, so that a run reads only its own checkout; the manifest beside
# them pins the bytes the oracle digests in expected.json were taken on.
FIXTURE_DIR = os.path.join(HERE, "fixtures", "sf0.1")
FIXTURE_SUMS = os.path.join(HERE, "fixtures", "sf0.1.sha256")

# Fixture queries, by the qNN prefix of their registered name.  Both lists
# are cut to what fits the run budget on 4 cores (see README.md).
# The warm pass starts operations in list order, so CORPUS and the bulk
# list put the ones slowest to warm first.
TABULAR = "q01 q06 q09 q11 q13 q21 q23 q24 q87 q121 q122 q126 q156 q158 q266".split()
CORPUS = "q140 q99 q100 q90 q28 q250 q11".split()

# The package module each query's main operator lives in; the traced run
# sums operation walls per module.
MODULE = {
    "q11": "compute.cast",
    "q13": "compute.cast",
    "q28": "functions.text",
    "q90": "functions.similarity",
    "q99": "functions.bloom",
    "q100": "functions.lm",
    "q140": "functions.dedup",
    "q250": "functions.pipeline",
}

BULK_ROWS = 1 << 22  # the blog's toPandas frame: 2^22 x (long, double)
SORT_ROWS = 1 << 24  # 2^24 random doubles, 128 MiB
# Generated doubles carry at most 20 fractional bits, so x * 2^20 is an
# exact integer and the checksums below are order-independent integer sums.
FRAC = 1 << 20

_EXPECTED = os.path.join(HERE, "expected.json")


def fixture_problem() -> str | None:
    """None when every fixture table matches its manifest checksum."""
    with open(FIXTURE_SUMS) as f:
        for line in f:
            digest, name = line.split()
            path = os.path.join(FIXTURE_DIR, name)
            if not os.path.isfile(path):
                return f"missing {path}"
            with open(path, "rb") as t:
                if hashlib.file_digest(t, "sha256").hexdigest() != digest:
                    return f"{path} differs from its manifest checksum"
    return None


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# --------------------------------------------------------------------------
# Output digests for the fixture queries
# --------------------------------------------------------------------------
def _cell(v) -> str:
    if v is None or (isinstance(v, float) and np.isnan(v)):
        return "<null>"
    return repr(v) if isinstance(v, float) else str(v)


def _canon(s: pd.Series) -> pd.Series:
    """Cell text as tools/check_oracle.py canonicalises it: '<null>' for
    nulls, repr for floats, str otherwise."""
    if s.dtype.kind == "f":
        return s.astype(str).where(s.notna(), "<null>")
    if s.dtype.kind in "iub":
        return s.astype(str)
    return pd.Series([_cell(v) for v in s.tolist()], index=s.index, dtype=object)


def frame_digest(pdf: pd.DataFrame) -> str:
    """Order-insensitive digest: row count, sorted column names, and the
    wrapping sum of per-row hashes of the canonical cell text."""
    cols = sorted(pdf.columns)
    canon = pd.DataFrame({c: _canon(pdf[c]) for c in cols})
    rows = pd.util.hash_pandas_object(canon, index=False).to_numpy(dtype=np.uint64)
    h = hashlib.sha256(json.dumps(cols).encode())
    h.update(int(rows.sum(dtype=np.uint64)).to_bytes(8, "little"))
    return f"{len(pdf)}:{h.hexdigest()[:32]}"


def load_expected() -> dict[str, str]:
    with open(_EXPECTED) as f:
        return json.load(f)


class Operation:
    """``build``, then ``execute`` or ``check``, then ``cleanup``.  ``extra``
    holds what the operation measured itself, for the traced run."""

    name: str
    module: str | None = None
    rows = 0  # rows per operation, for the bulk row rates

    def __init__(self):
        self.extra: dict = {}

    def execute(self, env, df) -> None:
        _noop(df)

    def cleanup(self, env) -> None:
        pass


class QueryOp(Operation):
    """One registered fixture query, checked against its DuckDB oracle's
    digest (expected.json, written by make_expected.py)."""

    def __init__(self, full_name: str, expected: str | None):
        super().__init__()
        self.name = full_name.split("_")[0]
        self.full_name = full_name
        self.module = MODULE.get(self.name)
        self.expected = expected

    def build(self, env):
        from apache_arrow_spark.queries import QUERIES

        return QUERIES[self.full_name](env.spark, env.fixture_dir)

    def check(self, env, df) -> str | None:
        got = frame_digest(df.toPandas())
        if got != self.expected:
            return f"digest {got} != oracle {self.expected}"
        return None

    def cleanup(self, env) -> None:
        env.spark.catalog.clearCache()


# --------------------------------------------------------------------------
# Bulk operations on seeded generated data
# --------------------------------------------------------------------------
class BulkData:
    """Inputs generated from the seed: the blog frame both as a cached Spark
    DataFrame and as a pandas frame, and the cached sort input.  Expected
    checksums are (rows, sum id, sum x * 2^20)."""

    def __init__(self, spark, seed: int, nproc: int):
        import pyspark.sql.functions as F

        rng = np.random.default_rng(seed)
        self.pdf = pd.DataFrame({
            "id": np.arange(BULK_ROWS, dtype=np.int64),
            "x": np.floor(rng.random(BULK_ROWS) * (1 << 30)) / FRAC,
        })
        self.pdf_sum = pandas_checksum(self.pdf)
        x = (F.floor(F.rand(seed) * (1 << 30)) / FRAC).alias("x")
        self.blog = spark.range(BULK_ROWS, numPartitions=nproc).select("id", x).cache()
        self.blog_sum = spark_checksum(self.blog)
        y = (F.floor(F.rand(seed + 1) * (1 << 36)) / FRAC).alias("x")
        self.sort_in = spark.range(SORT_ROWS, numPartitions=nproc).select(y).cache()
        self.sort_sum = spark_checksum(self.sort_in)


def pandas_checksum(pdf: pd.DataFrame) -> tuple[int, ...]:
    out = [len(pdf)]
    if "id" in pdf:
        out.append(int(pdf["id"].sum()))
    out.append(int((pdf["x"] * FRAC).astype(np.int64).sum()))
    return tuple(out)


def spark_checksum(df) -> tuple[int, ...]:
    import pyspark.sql.functions as F

    aggs = [F.count(F.lit(1))]
    if "id" in df.columns:
        aggs.append(F.sum("id"))
    aggs.append(F.sum((F.col("x") * FRAC).cast("bigint")))
    return tuple(int(v or 0) for v in df.agg(*aggs).first())


def _mismatch(what: str, got, want) -> str | None:
    return None if got == want else f"{what}: got {got}, want {want}"


class ToPandas(Operation):
    name, module = "to_pandas", "io.pandas_bridge"
    rows = BULK_ROWS

    def build(self, env):
        from apache_arrow_spark.io import to_pandas

        return to_pandas(env.bulk.blog)

    def execute(self, env, pdf) -> None:
        if len(pdf) != BULK_ROWS:
            raise RuntimeError(f"to_pandas returned {len(pdf)} rows")

    def check(self, env, pdf) -> str | None:
        return _mismatch("to_pandas checksum", pandas_checksum(pdf), env.bulk.blog_sum)


class FromPandas(Operation):
    name, module = "from_pandas", "io.pandas_bridge"
    rows = BULK_ROWS

    def build(self, env):
        from apache_arrow_spark.io import from_pandas

        return from_pandas(env.spark, env.bulk.pdf)

    def check(self, env, df) -> str | None:
        return _mismatch("from_pandas checksum", spark_checksum(df), env.bulk.pdf_sum)


class IpcRoundTrip(Operation):
    """write_ipc of the blog frame, then read_ipc of the shards."""

    name, module = "ipc_roundtrip", "io.ipc"
    rows = BULK_ROWS

    def __init__(self):
        super().__init__()
        self._n = 0

    def build(self, env):
        import time

        from apache_arrow_spark.io import read_ipc, write_ipc

        self._n += 1
        self.path = os.path.join(env.work_dir, f"ipc-{self._n}")
        t0 = time.perf_counter()
        shards = write_ipc(env.bulk.blog, self.path)
        self.extra = {"write_s": time.perf_counter() - t0, "shards": shards}
        return read_ipc(env.spark, self.path)

    def check(self, env, df) -> str | None:
        if not self.extra["shards"]:
            return "write_ipc wrote no shards"
        return _mismatch("ipc checksum", spark_checksum(df), env.bulk.blog_sum)

    def cleanup(self, env) -> None:
        if os.path.isdir(self.path):
            self.extra["stored_bytes"] = sum(
                os.path.getsize(os.path.join(self.path, f)) for f in os.listdir(self.path)
            )
            shutil.rmtree(self.path)


class Sort(Operation):
    name = "sort"
    rows = SORT_ROWS

    def build(self, env):
        return env.bulk.sort_in.orderBy("x")

    def check(self, env, df) -> str | None:
        """The sorted column, collected in partition order, must be
        non-decreasing and hold the input's multiset checksum."""
        x = df.toPandas()["x"].to_numpy()
        if not np.all(x[1:] >= x[:-1]):
            return "sort output is out of order"
        got = (len(x), int((x * FRAC).astype(np.int64).sum()))
        return _mismatch("sort checksum", got, env.bulk.sort_sum)


def operations(workload: str) -> list:
    if workload == "bulk":
        return [Sort(), IpcRoundTrip(), FromPandas(), ToPandas()]
    from apache_arrow_spark.queries import QUERIES

    by_prefix = {n.split("_")[0]: n for n in QUERIES}
    expected = load_expected()
    names = TABULAR if workload == "tabular" else CORPUS
    return [QueryOp(by_prefix[q], expected.get(by_prefix[q])) for q in names]
