"""Spark 4 Python DataSource connector for Arrow IPC shard directories.

The ``io.ipc`` module reads shard dirs with ``mapInArrow`` tasks over the
file indices; this module exposes the SAME storage layout through
Spark's first-class connector API (``pyspark.sql.datasource``, new in
Spark 4), so the format composes with everything a registered source
gets for free: ``spark.read.format("aas_ipc").load(dir)``, SQL
``CREATE TABLE ... USING aas_ipc``, and catalog integration.

Connector anatomy (the part the reference implements in C++ readers,
re-expressed as Spark's plugin surface):
- ``schema()`` sniffs the first shard's IPC metadata on the driver
  (dictionary fields decode to their dense value types — SURVEY §1.2);
- ``partitions()`` returns one InputPartition per shard, so every shard
  is read by its own task — scan parallelism == shard count, no driver
  funnel;
- ``read()`` yields pyarrow RecordBatches directly (Spark 4's
  arrow-batch path — no per-row Python serialization).
"""

from __future__ import annotations

import glob as _glob
import os

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

from apache_arrow_spark.log import warn_once


def _shards(path: str) -> list[str]:
    """The IPC files behind ``path``: a shard directory's ``*.arrow`` and
    ``*.arrows`` files, the matches of a glob pattern, or one file —
    sorted, and never empty (FileNotFoundError)."""
    if os.path.isdir(path):
        files = _glob.glob(os.path.join(path, "*.arrow")) + _glob.glob(
            os.path.join(path, "*.arrows")
        )
    elif any(c in path for c in "*?["):
        files = _glob.glob(path)
    else:
        files = [path] if os.path.isfile(path) else []
    if not files:
        raise FileNotFoundError(f"no IPC files under {path}")
    return sorted(files)


def _dense(schema):
    """``schema`` with dictionary fields decoded to their value types —
    the Spark representation (SURVEY §1.2 DICTIONARY)."""
    import pyarrow as pa

    return pa.schema(
        [
            f.with_type(f.type.value_type) if pa.types.is_dictionary(f.type) else f
            for f in schema
        ]
    )


def _open_shard(source):
    import pyarrow as pa
    import pyarrow.ipc as ipc

    try:
        return ipc.open_file(source)
    except pa.ArrowInvalid:
        source.seek(0)
        return ipc.open_stream(source)


def _shard_schema(path: str):
    """Dense Arrow schema of one shard, from its IPC metadata only."""
    with open(path, "rb") as fh:
        return _dense(_open_shard(fh).schema)


def _read_shard_table(path: str):
    """One whole shard (file or stream format), memory-mapped and with
    dictionary columns decoded to dense."""
    import pyarrow as pa

    with pa.memory_map(path, "rb") as source:
        table = _open_shard(source).read_all()
    dense = _dense(table.schema)
    if dense != table.schema:
        table = table.cast(dense)
    return table


class _Shard(InputPartition):
    def __init__(self, path: str):
        self.path = path


class ArrowIPCShardReader(DataSourceReader):
    def __init__(self, path: str):
        self._path = path
        self._keep: list[str] | None = None

    def pushFilters(self, filters):
        """Statistics-based shard skipping: shards whose manifest
        [min, max] cannot satisfy the AND of the pushed filters never
        become partitions.  All filters are returned (Spark re-evaluates
        them) — the manifest only PRUNES, identical to parquet row-group
        statistics semantics, so a stale/absent manifest is safe."""
        manifest = _load_manifest(self._path)
        if manifest is not None:
            flist = list(filters)
            self._keep = [
                p
                for p in _shards(self._path)
                if all(
                    _shard_may_match(f, manifest.get(os.path.basename(p)))
                    for f in flist
                )
            ]
        return filters

    def partitions(self):
        files = self._keep if self._keep is not None else _shards(self._path)
        return [_Shard(p) for p in files]

    def read(self, partition):
        table = _read_shard_table(partition.path)
        yield from table.to_batches()


class ArrowIPCDataSource(DataSource):
    """``format("aas_ipc")``: Arrow IPC shard directories as a
    first-class Spark data source."""

    @classmethod
    def name(cls) -> str:
        return "aas_ipc"

    def schema(self):
        from pyspark.sql.pandas.types import from_arrow_schema

        first = _shards(self.options["path"])[0]
        return from_arrow_schema(_shard_schema(first), prefer_timestamp_ntz=True)

    def reader(self, schema):
        return ArrowIPCShardReader(self.options["path"])

    def simpleStreamReader(self, schema):
        return ArrowIPCSimpleStreamReader(self.options["path"])

    def writer(self, schema, overwrite: bool):
        return ArrowIPCShardWriter(self.options["path"], overwrite)


def register_ipc_source(spark) -> None:
    """Idempotently register the connector on this session (and enable
    Python-source filter pushdown, off by default in Spark 4.1, so the
    manifest-based shard skipping can engage).

    The module is also registered for cloudpickle BY-VALUE serialization:
    Spark plans Python sources in separate helper processes (notably the
    streaming source runner, ``python_streaming_source_runner.py``) whose
    ``sys.path`` does not include ``addPyFile`` shipments — a by-REFERENCE
    pickle of the DataSource class dies there with ModuleNotFoundError
    whenever the driver's cwd is not the repo root.  By-value embeds the
    class code in the pickle itself, making the connector self-contained
    exactly like a user-submitted script."""
    # Deliberately NOT restored: this is registration-scoped session
    # state, like dataSource.register() itself — the conf is consulted
    # when plans over format("aas_ipc") are collected, which happens
    # AFTER this function returns (lazy DataFrames), so a scoped restore
    # would silently disable pushdown for every actual read.  It only
    # affects Python DataSources (this connector is the session's only
    # one) and never changes values, only pruning.
    try:
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    except Exception as e:
        # static-conf session: pushFilters simply won't be called
        warn_once("ipc_pushdown", "aas_ipc filter pushdown unavailable (%s): full scans", e)
    try:
        import sys

        from pyspark import cloudpickle as _cp

        _cp.register_pickle_by_value(sys.modules[__name__])
    except Exception as e:
        # older cloudpickle: fall back to by-reference (repo-cwd only)
        warn_once("ipc_by_value", "aas_ipc pickled by reference (%s): repo cwd only", e)
    spark.dataSource.register(ArrowIPCDataSource)


from pyspark.sql.datasource import SimpleDataSourceStreamReader


class ArrowIPCSimpleStreamReader(SimpleDataSourceStreamReader):
    """Streaming half of the connector (SimpleDataSourceStreamReader):
    the shard DIRECTORY is the unbounded source — files appended by the
    distributed sink become micro-batches.  Offsets are simply the count
    of shards consumed (shard list sorted by name, append-only by the
    sink's uuid naming), so ``readBetweenOffsets`` replays any window
    deterministically — exactly-once with a durable checkpoint."""

    def __init__(self, path: str):
        self._path = path

    def initialOffset(self):
        return {"idx": 0}

    def _rows(self, lo: int, hi: int) -> list:
        # a MATERIALIZED list, not a generator: the runner's prefetch
        # cache copy.copy()s the iterator, which generators don't support
        try:
            files = _shards(self._path)
        except FileNotFoundError:
            files = []
        out = []
        for p in files[lo:hi]:
            table = _read_shard_table(p)
            out.extend(tuple(row.values()) for row in table.to_pylist())
        return out

    def read(self, start):
        try:
            n = len(_shards(self._path))
        except FileNotFoundError:
            n = start["idx"]
        end = {"idx": n}
        return self._rows(start["idx"], n), end

    def readBetweenOffsets(self, start, end):
        return self._rows(start["idx"], end["idx"])

    def commit(self, end):
        pass



# ---------------------------------------------------------------------------
# Statistics-based shard skipping (parquet row-group pruning, connector
# edition): a sidecar manifest of per-shard column min/max lets
# pushFilters drop whole shards before any task launches.
# ---------------------------------------------------------------------------

_MANIFEST = "_manifest.json"


def write_ipc_manifest(spark, path: str) -> int:
    """Build the per-shard min/max statistics manifest for an IPC shard
    directory (one scan, distributed — one task per shard; the manifest
    itself is #shards x #columns driver-budget rows).  Returns the shard
    count.  Stats cover numeric and string columns; a production sink
    would emit these at write time, the way parquet writes footer
    statistics."""
    import json

    files = _shards(path)

    def stats(p: str):
        table = _read_shard_table(p)
        cols = {}
        import pyarrow.compute as pc

        for name in table.column_names:
            col = table.column(name)
            try:
                mn, mx = pc.min(col).as_py(), pc.max(col).as_py()
            except Exception:
                continue
            if mn is not None and not isinstance(mn, (bytes, dict, list)):
                cols[name] = [mn, mx]
        return os.path.basename(p), cols

    entries = dict(
        spark.sparkContext.parallelize(files, len(files)).map(stats).collect()
    )
    with open(os.path.join(path, _MANIFEST), "w") as fh:
        json.dump(entries, fh, default=str)
    return len(files)


def _load_manifest(path: str):
    import json

    mf = os.path.join(path, _MANIFEST)
    if not os.path.exists(mf):
        return None
    with open(mf) as fh:
        return json.load(fh)


def _shard_may_match(flt, stats) -> bool:
    """Conservative may-contain test for one pushed filter against one
    shard's [min, max]; unknown columns/filter types never prune."""
    from pyspark.sql.datasource import EqualTo, GreaterThan, LessThan

    attr = getattr(flt, "attribute", None)
    name = attr[0] if isinstance(attr, (tuple, list)) and len(attr) == 1 else None
    if name is None or stats is None or name not in stats:
        return True
    if not isinstance(flt, (EqualTo, GreaterThan, LessThan)):
        return True  # IsNotNull etc.: no range semantics, never prune
    mn, mx = stats[name]
    v = flt.value
    try:
        if isinstance(flt, EqualTo):
            return mn <= v <= mx
        if isinstance(flt, GreaterThan):
            return mx > v
        return mn < v
    except TypeError:
        return True


# ---------------------------------------------------------------------------
# Write path (DataSourceArrowWriter): df.write.format("aas_ipc").save(dir)
# with the standard stage -> commit protocol for exactly-once output.
# ---------------------------------------------------------------------------

from dataclasses import dataclass

from pyspark.sql.datasource import DataSourceArrowWriter, WriterCommitMessage


@dataclass
class _ShardCommit(WriterCommitMessage):
    staged: str | None


class ArrowIPCShardWriter(DataSourceArrowWriter):
    """Vectorized connector write path: each task streams its Arrow
    batches into ONE staged shard (`.staging-<uuid>/part-*.arrows`);
    the driver's commit() publishes staged shards into the directory
    root atomically-enough (rename within a filesystem), and abort()
    discards the staging dir — the classic two-phase output protocol,
    so failed/speculative tasks never leave partial shards visible."""

    def __init__(self, path: str, overwrite: bool):
        import uuid

        self._path = path
        self._overwrite = overwrite
        self._staging = os.path.join(path, f".staging-{uuid.uuid4().hex[:12]}")

    def write(self, iterator):
        import uuid

        import pyarrow as pa
        import pyarrow.ipc as ipc

        batches = list(iterator)
        if not batches:
            return _ShardCommit(None)
        os.makedirs(self._staging, exist_ok=True)
        name = f"part-{uuid.uuid4().hex[:16]}.arrows"
        staged = os.path.join(self._staging, name)
        with pa.OSFile(staged, "wb") as sink:
            writer = ipc.new_stream(sink, batches[0].schema)
            for b in batches:
                writer.write_batch(b)
            writer.close()
        return _ShardCommit(staged)

    def commit(self, messages):
        import shutil

        os.makedirs(self._path, exist_ok=True)
        if self._overwrite:
            for old in _glob.glob(os.path.join(self._path, "*.arrows")) + _glob.glob(
                os.path.join(self._path, "*.arrow")
            ):
                os.remove(old)
            mf = os.path.join(self._path, _MANIFEST)
            if os.path.exists(mf):
                os.remove(mf)
        for m in messages:
            if m and m.staged:
                os.rename(
                    m.staged, os.path.join(self._path, os.path.basename(m.staged))
                )
        shutil.rmtree(self._staging, ignore_errors=True)

    def abort(self, messages):
        import shutil

        shutil.rmtree(self._staging, ignore_errors=True)

