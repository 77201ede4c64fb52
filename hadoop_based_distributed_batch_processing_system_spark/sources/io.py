"""Sources and sinks.

The reference system class reads files from a distributed FS via
InputFormats and writes part-files via OutputFormats (Hadoop
``FileInputFormat``/``TextInputFormat``/``OutputFormat`` — public
Hadoop API surface; SURVEY.md §2.1). Here the equivalents are
columnar Parquet scans (vectorized reader, predicate pushdown and
column pruning for free) and ``DataFrameWriter`` sinks.

All table loading funnels through :func:`load_table` — the single
place that knows the one ingest quirk in the test corpus: the
physical encoding of ``events.ts`` has changed across corpus
regenerations (TIMESTAMP(NANOS) in early corpora, TIMESTAMP(MICROS,
isAdjustedToUTC=false) today; see FIXTURES.md), so the encoding is
PROBED from the parquet footer per corpus — never assumed.

Scale notes:
- One parquet file per table locally; at 100 TB each "table" is a
  directory of many files — ``spark.read.parquet`` takes either, and
  ``spark.sql.files.maxPartitionBytes`` (default 128 MB) controls the
  split granularity. Nothing here assumes single-file inputs.
- ``Tables`` caches nothing and collects nothing; each attribute
  access returns a fresh lazy DataFrame so Catalyst sees the full
  plan from scan to sink.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import DataFrame, SparkSession

from hadoop_based_distributed_batch_processing_system_spark.session import core_parallelism

TABLES = (
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


def corpus_tag(sf_dir: str) -> str:
    """Content fingerprint of a corpus directory for /tmp cache keys:
    hash of the absolute path plus (name, size, mtime) of every
    parquet file. Caches keyed by this are stale-proof — regenerating
    a corpus in place, or pointing at a same-basename corpus at a
    different path, changes the tag and forces a fresh export
    (basename-only keys silently served stale data)."""
    import glob
    import hashlib
    import os

    h = hashlib.sha256(os.path.abspath(sf_dir).encode())
    for p in sorted(glob.glob(os.path.join(sf_dir, "*.parquet"))):
        st = os.stat(p)
        h.update(f"{os.path.basename(p)}:{st.st_size}:{st.st_mtime_ns}".encode())
    return h.hexdigest()[:16]


def write_atomic(path: str, text: str) -> None:
    """Write ``text`` to ``path`` so readers see the old content or
    the new, never a partial file (write a pid-unique temp, rename)."""
    import os

    d, name = os.path.split(path)
    tmp = os.path.join(d, f".{name}.{os.getpid()}.tmp")
    with open(tmp, "w") as fh:
        fh.write(text)
    os.replace(tmp, path)


def wipe_dir(root: str) -> None:
    """Delete everything under ``root`` except ``.lock``, the build
    lock a :func:`build_once` caller may be holding."""
    import os
    import shutil

    for entry in os.listdir(root):
        if entry == ".lock":
            continue
        p = os.path.join(root, entry)
        shutil.rmtree(p) if os.path.isdir(p) else os.unlink(p)


import threading


class _HeldLocks(threading.local):
    """Roots whose build lock this thread holds (build_once re-enters
    them); per thread, because flock excludes other threads too."""

    def __init__(self) -> None:
        self.roots: set[str] = set()


_HELD_LOCKS = _HeldLocks()


def build_once(root: str, stamp_name: str, stamp: str, build, *, ready=None) -> str:
    """Run ``build()`` once per ``root`` across threads and processes;
    return ``root``. This is the one build-once protocol every derived
    temp-dir fixture uses (a task's output becomes visible only through
    one atomic commit step, so a crashed or concurrent build is safe
    to re-execute):

    1. fast path: ``root/stamp_name`` holds exactly ``stamp`` (the
       fixture's spec, serialized) and ``ready()`` (if given) confirms
       the artifacts the stamp promises — return without locking;
    2. ``mkdir root`` and take an exclusive ``flock`` on ``root/.lock``;
    3. check the stamp again: the build may have finished while this
       caller waited;
    4. ``build()`` — it wipes stale state (:func:`wipe_dir`) if it
       needs a clean root, or resumes a crashed build in place;
    5. write the stamp atomically, as the LAST step: a build that
       raises leaves no stamp, and the next call reruns it;
    6. unlock, also when the build raises.

    The lock is re-entrant per thread: a build that calls
    ``build_once`` on the same root (a derived fixture rebuilding its
    base) runs the nested build under the lock it already holds,
    since a second ``flock`` on a new descriptor would deadlock."""
    import fcntl
    import os

    stamp_file = os.path.join(root, stamp_name)

    def done() -> bool:
        try:
            with open(stamp_file) as fh:
                if fh.read() != stamp:
                    return False
        except OSError:
            return False
        return ready is None or ready()

    if done():
        return root
    held = _HELD_LOCKS.roots
    key = os.path.abspath(root)
    if key in held:
        build()
        write_atomic(stamp_file, stamp)
        return root
    os.makedirs(root, exist_ok=True)
    with open(os.path.join(root, ".lock"), "w") as lock_fh:
        fcntl.flock(lock_fh, fcntl.LOCK_EX)
        held.add(key)
        try:
            if not done():
                build()
                write_atomic(stamp_file, stamp)
        finally:
            held.discard(key)
            fcntl.flock(lock_fh, fcntl.LOCK_UN)
    return root


# file identity -> ("timestamp", unit, tz-aware) | ("int64", unit)
# Keyed on file identity so an in-place corpus regeneration re-probes.
_TS_SPEC_CACHE: dict = {}

# Physical events.ts encodings actually observed in a corpus so far
# (FIXTURES.md pins the measured one per corpus generation). Anything
# else is still handled if decodable, but tests/test_fixtures.py fails
# loudly when the probe returns a spec outside this set so a THIRD
# silent corpus regeneration surfaces before the driver runs.
KNOWN_EVENTS_TS_SPECS = {
    ("timestamp", "ns", False),  # rounds 1-2 corpus: TIMESTAMP(NANOS)
    ("timestamp", "us", False),  # current corpus: TIMESTAMP(MICROS, NTZ)
}


def _file_identity(path: str) -> tuple:
    """Stale-proof cache key for a table path. For a single file:
    (abspath, size, mtime_ns). For a DIRECTORY table (the 100 TB
    layout), the directory's own stat does NOT change when part-files
    are rewritten in place with unchanged names — so the key
    aggregates (name, size, mtime_ns) of every part-file, exactly as
    :func:`corpus_tag` does, and an in-place regeneration misses
    cleanly."""
    import glob
    import os

    apath = os.path.abspath(path)
    if os.path.isdir(apath):
        parts = tuple(
            (os.path.basename(p), os.stat(p).st_size, os.stat(p).st_mtime_ns)
            for p in sorted(glob.glob(os.path.join(apath, "*.parquet")))
        )
        return (apath, parts)
    st = os.stat(apath)
    return (apath, st.st_size, st.st_mtime_ns)

# Per-session scan cache: SparkSession -> {(abspath, size, mtime_ns): DataFrame}.
# A DataFrame is an immutable lazy plan, so handing the same scan node to
# every caller is semantically free, and it skips the per-call file
# listing + footer schema inference of spark.read.parquet (~100-150 ms
# per query at bench scale) — the catalog-table workflow, where schema
# and file index are resolved once, not per query. Weak-keyed so a
# stopped session's cache dies with it; file-identity keys make an
# in-place corpus regeneration miss cleanly.
import weakref

_SCAN_CACHE: "weakref.WeakKeyDictionary[SparkSession, dict]" = weakref.WeakKeyDictionary()


def _int64_ts_unit(pf) -> str:
    """Classify the epoch unit of an UNANNOTATED int64 ``ts`` column
    from the parquet footer's column statistics (metadata only, no
    data scan). The only raw-long encoding seen historically (NANOS
    via the legacy flag) is ns, so silently assuming µs would misread
    a future unannotated corpus 1000×: instead, pick the unique unit
    that lands the min stat inside the plausible event-time domain
    [2000-01-01, 2100-01-01) — units are ×1000 apart while the domain
    spans only ×3.2, so at most one unit matches — and raise loudly
    otherwise."""
    idx = pf.schema_arrow.get_field_index("ts")
    col = pf.metadata.row_group(0).column(idx)
    if not col.is_stats_set:
        raise ValueError(
            "events.ts is an unannotated int64 and the parquet footer has no "
            "column statistics: cannot determine the epoch unit. Re-measure "
            "the corpus and add an explicit branch (see FIXTURES.md)."
        )
    sample = col.statistics.min
    lo, hi = 946684800, 4102444800  # 2000-01-01 .. 2100-01-01 epoch-seconds
    for unit, scale in (("s", 1), ("ms", 10**3), ("us", 10**6), ("ns", 10**9)):
        if lo * scale <= sample < hi * scale:
            return unit
    raise ValueError(
        f"events.ts int64 sample {sample} matches no epoch unit in the "
        "2000-2100 domain — unknown encoding; refusing to guess. "
        "Probe the corpus and extend load_table (see FIXTURES.md)."
    )


def events_ts_spec(sf_dir: str) -> tuple:
    """Probe the physical parquet type of ``events.ts`` from the file
    footer (pyarrow — no Spark session needed, no data read).

    Returns ``("timestamp", unit, tz_aware)`` with unit in
    {"s","ms","us","ns"}, or ``("int64", unit)`` for a raw long
    column whose epoch unit was classified from footer statistics
    (:func:`_int64_ts_unit` — never assumed).
    The corpus has been regenerated mid-build once already (NANOS →
    MICROS between rounds 2 and 3), so nothing downstream may assume
    an encoding: batch and stream ingest both branch on this probe.

    ``events.parquet`` may be a single file (the local corpus) or a
    DIRECTORY of part-files (every table at 100 TB): for a directory,
    one part-file's footer speaks for all — a table whose parts
    disagree on the ts encoding is corrupt upstream of this engine.
    The cache key aggregates part-file stats for directories, so an
    in-place part-file rewrite re-probes (see :func:`_file_identity`).
    """
    import glob
    import os

    path = os.path.abspath(os.path.join(sf_dir, "events.parquet"))
    key = _file_identity(path)
    spec = _TS_SPEC_CACHE.get(key)
    if spec is None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        probe = path
        if os.path.isdir(path):
            parts = sorted(glob.glob(os.path.join(path, "*.parquet")))
            if not parts:
                raise FileNotFoundError(f"no parquet part-files under {path}")
            probe = parts[0]
        pf = pq.ParquetFile(probe)
        t = pf.schema_arrow.field("ts").type
        if pa.types.is_timestamp(t):
            spec = ("timestamp", t.unit, t.tz is not None)
        else:
            spec = ("int64", _int64_ts_unit(pf))
        _TS_SPEC_CACHE[key] = spec
    return spec


def parquet_row_count(sf_dir: str, name: str) -> int:
    """Exact table row count from parquet footer metadata — no Spark
    job, no data scan (each footer stores num_rows). Directory tables
    sum their part-file footers. Used by size guards that must stay
    cheap on every invocation (e.g. knn_label_vote's broadcast bound):
    at 100 TB a footer read is O(#files) metadata ops vs a cluster
    count job."""
    import glob
    import os

    import pyarrow.parquet as pq

    path = os.path.abspath(os.path.join(sf_dir, f"{name}.parquet"))
    if os.path.isdir(path):
        parts = sorted(glob.glob(os.path.join(path, "*.parquet")))
        if not parts:
            raise FileNotFoundError(f"no parquet part-files under {path}")
        return sum(pq.ParquetFile(p).metadata.num_rows for p in parts)
    return pq.ParquetFile(path).metadata.num_rows


def spread_small_scan(df: DataFrame, key: str) -> DataFrame:
    """Scale-ADAPTIVE parallelism restore for CPU-heavy narrow maps
    over a small scan (guide §2.6 idle capacity / §2.5 deterministic
    synthetic keys; r18). The local corpus tables are single-file,
    single-row-group parquet — an unsplittable one-task scan — so any
    expensive per-row stage downstream (shingle hashing, image/audio
    decode, per-token md5) serializes on ONE core while the rest of
    the machine idles; several operators' docstrings already said
    "repartition to #cores before this stage" without doing it.

    Fires ONLY when the scan's planned parallelism is below
    :func:`...session.core_parallelism` (the session's configured
    shuffle parallelism, capped by cores) — at
    production scale (or any input with >= that many splits) this is
    a literal no-op and adds no shuffle; the cost when it does fire
    is one exchange of the small scan itself. The target is
    ``spark.sql.shuffle.partitions`` (repartition's own default),
    NOT the core count: an A/B at 32 cores measured N=8 ≤ N=16 <
    N=32 for every spread consumer (mm_decode_real_jpeg 0.65 vs
    0.95 s median at N=32) — per-task Python/stage overhead and
    shared-heap GC contention outweigh extra concurrency well before
    N reaches cores, and tracking the session's shuffle sizing keeps
    the low-core/high-core bench plans identical. The partition key
    is the table's own id column (deterministic under task retry —
    never rand(); SPARK-38388), so a retried map task reproduces the
    same row placement.
    """
    p = core_parallelism(df.sparkSession)
    if df.rdd.getNumPartitions() >= p:
        return df
    return df.repartition(p, F.col(key))


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one test-corpus table as a DataFrame.

    ``events.ts``'s physical encoding is probed per corpus
    (:func:`events_ts_spec`) and normalized to a µs-precision
    TimestampType instant, which is what the DuckDB oracle's naive
    TIMESTAMP hashes to under a UTC session timezone:

    - TIMESTAMP(NANOS): Spark 4.x refuses to read it natively
      ([PARQUET_TYPE_ILLEGAL]); the legacy flag makes it arrive as
      nanos-since-epoch LONG, truncated here to µs with integer
      division (double division would round the low µs up for ~half
      the values; DuckDB truncates).
    - TIMESTAMP(MICROS/MILLIS, isAdjustedToUTC=false): arrives as
      TIMESTAMP_NTZ; cast to TimestampType under the UTC session TZ
      is a lossless wall-clock→instant reinterpretation.
    - already UTC-adjusted, or raw INT64 (treated as µs): passthrough.

    Confs are set at runtime so externally built sessions (the verify
    driver's) work too.
    """
    path = f"{sf_dir}/{name}.parquet"
    if name == "events":
        # The cached plan's NTZ→instant cast resolves at ACTION time
        # under the then-current session TZ, so the UTC pin must hold
        # on cache HITS too — set it before the lookup, not only on
        # the cache-miss build path, or a query that changed the
        # session TZ between calls would silently shift every instant.
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    key = _file_identity(path)
    cache = _SCAN_CACHE.setdefault(spark, {})
    df = cache.get(key)
    if df is not None:
        return df

    if name == "events":
        spec = events_ts_spec(sf_dir)
        if spec[0] == "timestamp" and spec[1] == "ns":
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
            df = spark.read.parquet(path)
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        else:
            df = spark.read.parquet(path)
            ts_type = df.schema["ts"].dataType
            if isinstance(ts_type, T.TimestampNTZType):
                df = df.withColumn("ts", F.col("ts").cast("timestamp"))
            elif isinstance(ts_type, T.LongType):
                # raw int64: epoch unit classified from footer stats
                # (never assumed — see _int64_ts_unit)
                unit = spec[1] if spec[0] == "int64" else "us"
                to_us = {"s": 10**6, "ms": 10**3, "us": 1}
                if unit == "ns":
                    df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
                else:
                    df = df.withColumn("ts", F.timestamp_micros(F.col("ts") * F.lit(to_us[unit])))
    else:
        df = spark.read.parquet(path)
    cache[key] = df
    return df


class Tables:
    """Lazy accessor for all corpus tables: ``Tables(spark, sf).lineitem``."""

    def __init__(self, spark: SparkSession, sf_dir: str):
        self._spark = spark
        self._sf_dir = sf_dir

    def __getattr__(self, name: str) -> DataFrame:
        if name not in TABLES:
            raise AttributeError(f"unknown table: {name}")
        return load_table(self._spark, self._sf_dir, name)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every corpus table as a temp view for the SQL path."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def sink_parquet(df: DataFrame, path: str, partition_by: list[str] | None = None, mode: str = "overwrite") -> None:
    """Write a DataFrame as parquet part-files (the OutputFormat
    equivalent). ``partition_by`` produces hive-style directory
    partitioning — the 100 TB layout for anything re-read by a
    partition-key predicate (enables partition pruning)."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def sink_csv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """CSV sink (header on). Row-oriented text output ≈ the reference
    class's TextOutputFormat part-files."""
    df.write.mode(mode).option("header", "true").csv(path)
