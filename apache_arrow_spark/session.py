"""SparkSession construction + testdata loading, tuned for scale.

The knobs here are the 100 TB posture applied to local[N]: AQE on (runtime
re-plan, skew-join handling, partition coalescing), generous broadcast
threshold for star-schema dims, parquet filter pushdown, Arrow-accelerated
pandas interchange, and ns-timestamp ingestion (the reference's timestamp[ns]
type — Spark reads it as long nanos; compute.cast converts with the same
truncation guard as the reference cast kernel,
cpp/src/arrow/compute/kernels/cast.h:41 ``allow_time_truncate``).
"""

from __future__ import annotations

import os
import tempfile
import time
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from apache_arrow_spark.log import warn_once


def default_cpus() -> int:
    """Local parallelism: ``SPARK_GRAFT_CPUS`` when set, else the CPUs
    this process may run on."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return int(env)
    if hasattr(os, "sched_getaffinity"):
        return len(os.sched_getaffinity(0))
    return os.cpu_count() or 1


TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Runtime-settable SQLConfs every query needs regardless of who built the
# session (the correctness driver builds its own).
_RUNTIME_CONFS = {
    # events.parquet stores timestamp[ns]; without this Spark refuses the file.
    # Read as long nanos; unit conversion is an explicit engine cast (§2.6).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Deterministic temporal semantics for oracle comparison.
    "spark.sql.session.timeZone": "UTC",
    # AQE: runtime partition coalescing + skew-join splitting.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Star-schema dims (region/nation/customer/supplier/part at bench SF)
    # should broadcast, never shuffle.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Externally built sessions (the correctness driver's) otherwise run
    # with the 200-partition default — 6x the task count this box needs.
    # Runtime-settable; AQE coalescing makes any over-provision cheap.
    "spark.sql.shuffle.partitions": str(max(default_cpus(), 8)),
}


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Set runtime-settable confs on an externally built session."""
    for k, v in _RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception as e:
            # Non-runtime-settable in this build — session default applies.
            warn_once("runtime_conf", "cannot set %s (%s); the session's value applies", k, e)
    _ship_package(spark)
    return spark


@contextmanager
def _scoped_conf(spark: SparkSession, key: str, value: str):
    """Set a runtime conf for the block, then leave it exactly as found.

    The restore is UNCONDITIONAL: a key that was not session-set is
    unset() again (falling back to its SQLConf default), never re-set to
    that default.  An override leaked into the session makes later
    queries depend on call order (the q292 failure)."""
    old = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if old is not None:
            spark.conf.set(key, old)
        else:
            spark.conf.unset(key)


def _ship_package(spark: SparkSession) -> None:
    """Make ``apache_arrow_spark`` importable on executor Python workers.

    Pandas-UDF closures pickle module functions *by reference*; a worker
    whose PYTHONPATH lacks the repo (e.g. the correctness driver running
    from another cwd) would fail to unpickle.  Ship the package once per
    session via ``addPyFile`` — the cluster-correct mechanism (works the
    same on a 1000-executor deployment).
    """
    if getattr(spark, "_aas_shipped", False):
        return
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zip_path = os.path.join(
        tempfile.gettempdir(), f"apache_arrow_spark_{os.getpid()}.zip"
    )
    if not os.path.exists(zip_path):
        with zipfile.ZipFile(zip_path, "w") as zf:
            for root, _dirs, files in os.walk(pkg_dir):
                for fn in files:
                    if fn.endswith(".py"):
                        full = os.path.join(root, fn)
                        rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                        zf.write(full, rel)
    try:
        spark.sparkContext.addPyFile(zip_path)
    except Exception as e:
        # e.g. spark-connect sessions; local imports still work there
        warn_once("ship_package", "could not ship the package to executors (%s)", e)
    spark._aas_shipped = True


def spread_compute(df: DataFrame, *key_cols: str) -> DataFrame:
    """Repartition ahead of a compute-heavy per-row projection — round
    robin, or hash on ``key_cols`` when the downstream aggregate keys on
    them (the hash form doubles as the aggregate's partitioning, so the
    exchange is not additional).

    Rationale: a single-row-group parquet table is ONE scan split, and
    Spark fuses every narrow transformation into the scan stage — so a
    regex tokenize, gram explode + hash, BPE replace chain, or codec
    decode, plus the map side of the first aggregate, all serialize into
    that one task (measured 3.8 s of a 4.3 s winnowing wall on one core
    at sf0.1).  The exchange moves RAW input rows — orders of magnitude
    smaller than the exploded/decoded intermediate it unlocks.

    Scale guard: when the source already has >= the target parallelism
    (a real multi-file cluster dataset), this is an identity — no
    100 TB re-shuffle of raw text is ever introduced; the helper only
    repairs the degenerate few-splits case where the cluster would
    otherwise idle."""
    try:
        target = compute_parallelism(df.sparkSession)
        if df.rdd.getNumPartitions() >= target:
            return df
    except Exception as e:
        # guard unevaluable (e.g. Spark Connect: no sparkContext / rdd) —
        # the SAFE fallback is the identity: forcing a repartition here
        # would inflict the full raw re-shuffle on exactly the well-split
        # cluster datasets the guard exists to protect
        warn_once(
            "spread_compute", "spread_compute guard unevaluable (%s): identity", e
        )
        return df
    if key_cols:
        return df.repartition(target, *[F.col(c) for c in key_cols])
    return df.repartition(target)


def truncate(df: DataFrame) -> DataFrame:
    """THE lineage cut: materialize ``df`` and return a twin rooted at its
    rows (release with ``free_local_checkpoint``).  Two caller classes:
    - iterative operators (connected components, PageRank, BFS, BPE
      training, ``curate_corpus``), where without a cut Catalyst
      re-analysis grows with loop depth;
    - range scans (``pipeline._range_scan``, under the global rank,
      running min/sum, sequence gaps and packing), where the cut pins the
      sample-drawn range boundaries that the collected per-range offsets
      were computed against.
    With a checkpoint directory set (``setCheckpointDir``, a deployment
    setting) the rows go to reliable ``checkpoint()`` files, which can be
    read again after an executor is lost, so the result recomputes
    exactly.  Otherwise — also without a ``sparkContext`` (Spark
    Connect) — ``localCheckpoint`` keeps them as executor blocks, which
    cannot be recomputed once lost: the job then fails loudly (for a
    range scan too, where a plain ``persist()`` would have re-sampled)."""
    try:
        reliable = df.sparkSession.sparkContext.getCheckpointDir() is not None
    except Exception as e:
        warn_once("truncate", "no sparkContext (%s): local checkpoint", e)
        reliable = False
    return df.checkpoint(eager=True) if reliable else df.localCheckpoint(eager=True)


def free_local_checkpoint(df: DataFrame) -> bool:
    """Eagerly release the storage blocks of a ``truncate`` or
    ``localCheckpoint`` result once nothing will read it again (a reliable
    checkpoint holds no blocks; its files stay).  ``df.rdd.unpersist()`` does
    NOT do this — ``DataFrame.rdd`` builds a fresh javaToPython wrapper
    RDD, not the persisted RDD inside the plan — so this reaches the
    ``LogicalRDD`` node's backing RDD through the analyzed plan.  Returns
    True when that backing RDD was unpersisted; False (never raises) when
    the plan is not a checkpoint root (e.g. Spark Connect, or a derived
    DataFrame), where blocks fall back to GC + ContextCleaner."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() != "LogicalRDD":
            return False
        plan.rdd().unpersist(False)
        return True
    except Exception:
        return False


def compute_parallelism(spark: SparkSession) -> int:
    """THE partition-count policy for compute-bound stages: cluster default
    parallelism, floor 8.  Without a ``sparkContext`` (Spark Connect) it is
    the session's ``spark.sql.shuffle.partitions``, which ``get_spark`` and
    ``apply_runtime_confs`` derive from ``default_cpus``."""
    try:
        return max(spark.sparkContext.defaultParallelism, 8)
    except Exception as e:
        warn_once(
            "compute_parallelism", "no sparkContext (%s): using shuffle.partitions", e
        )
        return int(spark.conf.get("spark.sql.shuffle.partitions"))


# One policy for "small enough to broadcast after measuring": every
# measured-cardinality broadcast hint goes through broadcast_if, so the
# threshold sites can never drift apart.
BROADCAST_ROW_LIMIT = 1 << 20

# At or below this measured cardinality, measured() TRUNCATES a frame's
# lineage: localCheckpoint re-roots the already-cached frame as a
# LogicalRDD over its in-memory blocks (one cheap JVM job over the cache
# — no Python round-trip, no recompute), so every downstream action (pair
# keyset, shingle semi-join scope, both verify join sides, the returned
# result) analyzes a tiny plan instead of re-walking the full candidate
# lineage (~400 kB formatted for q33/q140 — measured 1.6-2.6 s of serial
# per-call driver time across the 4-6 sequential actions).
# Fault-tolerance trade (why the signature tables do NOT get this): the
# truncated frame is a measured-small (<= 64 Ki rows) call-scoped
# intermediate; losing an executor mid-verify fails the call, and
# re-running the call costs less than the per-call analysis tax the full
# lineage charges every action.  (A collect+createDataFrame re-root was
# tried first and REVERTED: classic PySpark parallelizes local data into
# a 32-slice Python RDD, so every consumer re-ran Python deserialization
# tasks and planned SMJs off unknown stats — measured q140 2.13 s -> 4.3 s
# of stage time.)
LOCAL_PAIR_LIMIT = 1 << 16


@contextmanager
def measured(df: DataFrame):
    """Count the persisted ``df`` and yield ``(frame, n_rows)``: at or
    below ``LOCAL_PAIR_LIMIT`` rows ``frame`` is a lineage-truncated twin
    (``df``'s cache pin is dropped), else ``df`` itself.  On exit, also
    when the body raises, the rows are released from whichever holds them,
    so the body must materialize what it returns.  The twin has no size
    statistics: hint its joins off ``n_rows`` (``broadcast_if``)."""
    n_rows = df.count()
    frame = df
    if n_rows <= LOCAL_PAIR_LIMIT:
        # coalesce(1) first: a single-block checkpoint makes every
        # downstream distinct/broadcast build a one-task job instead of
        # shuffle.partitions near-empty tasks
        frame = df.coalesce(1).localCheckpoint(eager=True)
        df.unpersist()
    try:
        yield frame, n_rows
    finally:
        if frame is df:
            df.unpersist()
        else:
            free_local_checkpoint(frame)


def broadcast_if(df: DataFrame, n_rows: int | None) -> DataFrame:
    """THE broadcast gate: hint ``df`` when its MEASURED row count is known
    and at most ``BROADCAST_ROW_LIMIT``; otherwise the planner decides."""
    if n_rows is not None and n_rows <= BROADCAST_ROW_LIMIT:
        return F.broadcast(df)
    return df


def observed(obs, metric: str, timeout_s: float = 10.0) -> int | None:
    """Bounded read of the long ``metric`` of an ``Observation``.  The
    blocking ``obs.get`` has no timeout and the listener bus that fulfils
    it can drop events under load, so this polls the JVM promise
    (``getRowOrEmpty`` waits ~100 ms per call) up to ``timeout_s``.  None
    means unknown — a timeout or an unusable JVM handle, each logged once
    per process — and the caller takes an exact fallback."""
    deadline = time.monotonic() + timeout_s
    try:
        while time.monotonic() < deadline:
            row_opt = obs._jo.getRowOrEmpty()
            if row_opt.isDefined():
                r = row_opt.get()
                return int(r.getLong(r.fieldIndex(metric)))
            time.sleep(0.05)  # getRowOrEmpty's own wait is bounded
    except Exception as e:
        warn_once(
            "observed.handle", "Observation handle failed (%s): %r unknown", e, metric
        )
        return None
    warn_once(
        "observed.timeout", "Observation %r not delivered in %.1f s", metric, timeout_s
    )
    return None


def _pid_alive(pid: int) -> bool:
    """Signal-0 liveness probe; PermissionError means alive-but-foreign."""
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    except OSError:
        return True  # unknowable — spare it
    return True


def _reap_orphan_local_dirs(root: str) -> None:
    """Prune shuffle scratch left by crashed JVMs under the engine's
    tmpfs ``spark.local.dir`` root (r8 verdict #4: Spark removes its
    spark-* dirs on normal shutdown, but a crash loop during a long
    session could accrete toward a full 126 G /dev/shm and fail later
    shuffles with a confusing no-space error).

    Ownership discipline mirrors _q159_reap_stale: each process gets its
    own ``root/<pid>`` subdir (see get_spark), so liveness is a signal-0
    probe — a dead owner's dir is garbage, subject only to a short mtime
    grace (the liveness key is the PYTHON driver pid but the scratch is
    written by its child JVM, which can outlive the driver by a moment
    during teardown; a dir touched in the last 60 s is spared until the
    next reap rather than rmtree'd mid-write).  A live pid (even a
    recycled one) is always spared, bounded by the next reap after that
    process exits.  A pid-shaped name that doesn't parse as a probeable
    pid (non-ASCII digits — str.isdigit accepts '²' — or a value past
    the OS pid range) is unknowable, so it's spared to the not-pid-named
    path below rather than crashing session start.  Anything not
    pid-named (the pre-r9 flat layout's spark-*/blockmgr-* dirs, stray
    files) has no owner mapping and falls back to a 24 h mtime bar —
    Spark touches its scratch continuously while shuffling, and the
    bench/test sessions here live minutes, so a day of silence means
    orphaned; plain files are os.remove'd (rmtree silently skips them).
    Only ever called on a root the engine itself owns (path guard in
    get_spark), never on a user-supplied SPARK_GRAFT_LOCAL_DIR."""
    import shutil

    try:
        children = os.listdir(root)
    except OSError:
        return
    for name in children:
        path = os.path.join(root, name)
        pid = None
        if name.isascii() and name.isdigit():
            try:
                pid = int(name)
                alive = pid == os.getpid() or _pid_alive(pid)
            except (ValueError, OverflowError):
                pid = None  # unprobeable — treat as unowned below
        if pid is not None:
            if alive:
                continue
            grace = 60  # JVM may briefly outlive its Python driver
        else:
            grace = 24 * 3600
        try:
            if time.time() - os.stat(path).st_mtime <= grace:
                continue
        except OSError:
            continue  # vanished or unstat-able — spare it
        if os.path.isdir(path) and not os.path.islink(path):
            shutil.rmtree(path, ignore_errors=True)
        else:
            try:
                os.remove(path)
            except OSError:
                pass


def _default_local_dir() -> str:
    """Resolve spark.local.dir: env override verbatim (the operator's
    choice — never reaped), else a per-PID subdir of the tmpfs root with
    orphan reaping of dead siblings."""
    env = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if env:
        return env
    if not os.path.isdir("/dev/shm"):
        return tempfile.gettempdir()
    root = "/dev/shm/aas_spark_local"
    os.makedirs(root, exist_ok=True)
    _reap_orphan_local_dirs(root)
    mine = os.path.join(root, str(os.getpid()))
    os.makedirs(mine, exist_ok=True)
    return mine


def get_spark(
    app_name: str = "apache-arrow-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's scale posture.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (default: the CPUs this
    process may run on, ``default_cpus``).  Shuffle partitions default to
    the core count, floor 8; on a real cluster AQE coalescing makes
    over-provisioning cheap.
    """
    cpus = default_cpus()
    master = master or f"local[{cpus}]"
    shuffle = shuffle_partitions or max(cpus, 8)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        # Static conf (ignored on pre-built sessions): the default codegen
        # class cache holds 100 entries — a multi-query workload (bench's 32
        # headline queries span several hundred codegen units, the wide
        # MinHash/decimal aggregates being the biggest) thrashes it and
        # recompiles multi-second expression trees on every re-run.  A
        # long-lived cluster session wants the compiled classes resident.
        .config(
            "spark.sql.codegen.cache.maxEntries",
            os.environ.get("SPARK_GRAFT_CODEGEN_CACHE", "4000"),
        )
        # local[N] puts driver + all N executor threads in ONE JVM.  8g
        # measures best here: bigger heaps (48g) lengthen G1 young-gen
        # pauses and cost more than the extra headroom saves.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # Shuffle files on tmpfs when available: this box's /tmp is on the
        # ext root disk, so every Exchange paid a disk round-trip.  Measured
        # on the 2^25-double sort anchor: steady 21.6 -> 23.4 M entries/s
        # (+8%), and the first-rep ramp halves.  Spark removes its spark-*
        # subdirs on normal shutdown; crashed JVMs are handled by the
        # per-PID layout + dead-owner reaper in _default_local_dir, so a
        # crash loop can no longer accrete toward a full 126 G tmpfs.
        # On a real cluster this points at local NVMe instead; the knob is
        # the local-mode analog of provisioning fast shuffle storage.
        .config("spark.local.dir", _default_local_dir())
        # local metastore/warehouse so bucketed tables (bucketBy/saveAsTable)
        # work out of the box; on a cluster this points at the real warehouse
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get(
                "SPARK_GRAFT_WAREHOUSE",
                os.path.join(tempfile.gettempdir(), f"aas_warehouse_{os.getuid()}"),
            ),
        )
    )
    for k, v in _RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    return apply_runtime_confs(builder.getOrCreate())


def normalize_engine_schema(df: DataFrame) -> DataFrame:
    """Restore the engine's canonical temporal model at the scan edge.

    The engine's temporal cast kernel (§2.6, compute/cast.py) is defined
    over int64 epoch-nanoseconds — the reference's timestamp[ns] storage
    (cpp/src/arrow/type.h TimestampType).  Generated testdata has shipped
    ``events.ts`` both as INT64-nanos (read as long via ``nanosAsLong``)
    and as parquet timestamp[us] (read as TIMESTAMP_NTZ); adapt here so
    every downstream operator sees one model.  ``withColumn`` on an
    existing column keeps its position, so projected schemas are stable.
    """
    import pyspark.sql.functions as F
    from pyspark.sql.types import TimestampNTZType, TimestampType

    if "ts" in df.columns:
        dt = df.schema["ts"].dataType
        if isinstance(dt, (TimestampType, TimestampNTZType)):
            # Session tz is pinned to UTC (_RUNTIME_CONFS), so the
            # NTZ->TZ cast is identity on the wall-clock instant.
            df = df.withColumn(
                "ts",
                (F.unix_micros(F.col("ts").cast("timestamp")) * F.lit(1000)).cast(
                    "long"
                ),
            )
    return df


def table_digest(sf_dir: str, *names: str) -> str:
    """Cheap content fingerprint of testdata tables for FIXTURE CACHES
    (q159's bucketed layout, q291's row-group file): file-level metadata
    — resolved path, byte size, mtime_ns — of every parquet file behind
    each named table, hashed.  O(#files) driver-side, no table scan, and
    it catches a regenerated table no matter WHICH column changed (any
    rewrite moves mtime/size), closing the value-column blindness a
    per-column aggregate digest has.  Single-file and directory-backed
    tables both work; a missing table contributes its absence (the cache
    key still changes when it appears)."""
    import glob
    import hashlib

    parts: list[str] = []
    for name in names:
        root = os.path.join(sf_dir, f"{name}.parquet")
        files = (
            sorted(glob.glob(os.path.join(root, "**", "*"), recursive=True))
            if os.path.isdir(root)
            else [root]
        )
        for f in files:
            try:
                st = os.stat(f)
            except OSError:
                parts.append(f"{f}:absent")
                continue
            if not os.path.isdir(f):
                # inode too: a restore that preserves mtime (tar -x,
                # cp -p, rsync -a) still replaces the file — new inode —
                # so even timestamp-faithful testdata swaps move the key
                parts.append(f"{f}:{st.st_size}:{st.st_mtime_ns}:{st.st_ino}")
                # plus the parquet footer tail (last 4 KB): an IN-PLACE
                # rewrite (open+truncate+write — same inode, same size)
                # landing within a coarse-mtime filesystem's granularity
                # would otherwise silently reuse a stale fixture (ADVICE
                # r6).  The footer carries row-group stats + schema, so
                # any content change that matters moves it; 4 KB per file
                # keeps this O(#files) in practice, never a scan.
                try:
                    with open(f, "rb") as fh:
                        fh.seek(max(0, st.st_size - 4096))
                        tail = fh.read(4096)
                    parts.append(hashlib.sha256(tail).hexdigest()[:12])
                except OSError:
                    parts.append("tail:unreadable")
    return hashlib.sha256("|".join(parts).encode()).hexdigest()[:16]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table (parquet).  Always routes through
    ``apply_runtime_confs`` so queries work on driver-built sessions too."""
    apply_runtime_confs(spark)
    return normalize_engine_schema(
        spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    )


def load_table_with_pos(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read a table plus ``__pos`` = (file_path, within-file row index) —
    a deterministic, fully distributed row ordinal (lexicographic over the
    struct).  Basis for first-appearance dictionary encoding (§2.4) and
    slice semantics: no driver-side collect, no
    ``monotonically_increasing_id`` partition-order assumptions, and robust
    to multi-file tables (file path disambiguates across files)."""
    apply_runtime_confs(spark)
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    import pyspark.sql.functions as F

    # __pos must be built straight off the scan (the hidden _metadata
    # column does not survive projections), then normalize on top.
    return normalize_engine_schema(
        df.select(
            "*",
            F.struct(
                F.col("_metadata.file_path").alias("f"),
                F.col("_metadata.row_index").alias("i"),
            ).alias("__pos"),
        )
    )
