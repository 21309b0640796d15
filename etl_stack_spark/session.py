"""SparkSession builder + table loading for the engine.

Scale notes (100 TB): the conf below is sized for local[32] testing but the
knobs are the ones that matter on a 1000-executor cluster — AQE on (runtime
coalesce + skew-join splitting), broadcast threshold high enough that dim
tables (region/nation/config) always broadcast, shuffle partitions sized to
cores locally and to ~2-3× total cores (or AQE-advisory target) on a cluster.

Parquet schemas are resolved once, the way a database reads its catalog:
``read_parquet`` infers a path's schema on first use (on Spark 4.1 a bare
``spark.read.parquet`` launches a one-task footer-reading job every time)
and afterwards reads with that schema. A cached schema is valid while
both halves of its key hold:

- file identity: the absolute path plus the mtime, size and inode of the
  file, or of every file under a directory;
- inference confs: the session's values of the confs that change what
  Parquet inference returns (``_INFERENCE_CONFS``).

So a rewritten file, or a session with different confs, is inferred
again; a miss infers exactly as ``spark.read.parquet`` does, errors
included. ``ParquetMergeTable`` records each snapshot's schema as it
commits it (``remember_parquet_schema``) and forgets vacuumed ones.
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

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

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def default_driver_mem_mib() -> int:
    """The driver heap ``get_spark`` asks for unless
    ``SPARK_GRAFT_DRIVER_MEM`` sets one: min(24 GiB, half of physical
    RAM), in MiB. 24 GiB on a 128 GiB box: the shared lead-prep match
    stream persists ~2 GB at sf0.1 and must not fight execution memory
    for it (an 8g heap evicted it under concurrent stages; a2a3 samples
    spiked 1.8s → 13s when the cache fell to disk mid-bench). Half of a
    small box leaves the other half to the Python workers and to DuckDB
    in the same process: a 24g heap on a 15 GiB box grew until the
    kernel's OOM killer took the JVM."""
    half = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2
    return min(24 << 30, half) >> 20


def get_spark(app_name: str = "etl-stack-spark", cpus: int | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    - AQE enabled: runtime partition coalescing, skew-join splitting,
      dynamic broadcast-join conversion — our answer to skewed geo buckets
      and lopsided group-bys at scale.
    - Arrow enabled: every pandas UDF crosses JVM<->Python in columnar
      batches, not pickled rows.
    - No per-op recompiling or call-site stamping (counts at the confs
      below): the codegen cache holds 4096 classes, not 100, and
      PySpark's ``dataFrameDebugging`` is off. The trade-off: an error
      raised by a failing expression no longer carries PySpark's
      "DataFrame query context", the Python file:line where the
      expression was built. Both confs are static, so a session
      ``get_spark`` did not build keeps PySpark's defaults and
      ``ensure_session_confs`` cannot change them; a ``newSession()`` of
      this session shares them.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    # make this package importable on Python workers regardless of the
    # driver's cwd — mapInPandas/pandas_udf closures deserialize by module
    # reference (on a real cluster, ship a wheel / addPyFile instead)
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if repo_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            repo_root + (os.pathsep + existing if existing else "")
        )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # 2× cores: halves per-partition sort size in window-heavy stages
        # (measured 2.2× on the 33M-row lead-prep rank); AQE coalesces the
        # small ones back down, so short queries pay nothing
        .config("spark.sql.shuffle.partitions", str(2 * cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", f"{default_driver_mem_mib()}m"),
        )
        # verification flows collect full results (33M rows for the radius
        # join at sf0.1) — default 1g cap aborts the collect, not the query
        .config("spark.driver.maxResultSize", "4g")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # the events table stores TIMESTAMP(NANOS) which Spark has no native
        # type for; read as long and convert in load_table
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Both static. The default 100-entry codegen cache thrashes: a
        # 25-query perfbench query_mix round needs ~275 generated classes
        # and recompiled 237-272 every steady-state round (0-8 at 4096);
        # one noop pass over all 217 registered queries compiles ~2,700
        # at sf0.001. Call-site capture adds ~4 py4j round trips and a
        # stack walk to every Column call: composing the ingest cleaning
        # plan took 2,061 round trips with it, 681 without (a whole
        # perfbench ingest op, on its own thread: 3,689 and 1,189).
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    # createDataFrame/parallelize slice local data into defaultParallelism
    # partitions (= cores), so EVERY tiny literal frame scans as `cores`
    # tasks. Fixed at context creation, so it's an env lever, not a conf
    # call: the test session caps it (hand-sized inputs, thousands of
    # actions); production leaves it unset (= cores, correct for real data)
    dp = os.environ.get("SPARK_GRAFT_DEFAULT_PARALLELISM")
    if dp:
        builder = builder.config("spark.default.parallelism", dp)
    return builder.getOrCreate()


def ensure_session_confs(spark: SparkSession) -> None:
    """Make an arbitrary (possibly externally-built) session able to run the
    engine deterministically. Both confs are runtime-settable:

    - ``nanosAsLong``: events.parquet stores TIMESTAMP(NANOS), which Spark
      has no native type for — without this a vanilla session dies with
      PARQUET_TYPE_ILLEGAL before any query logic runs.
    - UTC session timezone: collected TIMESTAMP values render in session-
      local wall time; the engine declares UTC semantics so result hashes
      are stable regardless of the host timezone.

    ``get_spark`` sets both at build time; this covers sessions we did not
    build (e.g. a verification harness passing its own SparkSession).
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")


# session confs whose value changes the schema Parquet inference returns
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
)

# abspath -> (file identity, inference conf values, schema). One entry
# per path; a rewrite or conf change replaces it. Plain dict reads and
# writes are atomic, so concurrent readers at worst both infer on a miss.
_SCHEMAS: dict[str, tuple[tuple, tuple, StructType]] = {}


def _file_identity(path: str) -> tuple | None:
    """(relative name, mtime, size, inode) of the file, or of every file
    under the directory; None when the path cannot be stat'ed."""
    try:
        st = os.stat(path)
        if not stat.S_ISDIR(st.st_mode):
            return (("", st.st_mtime_ns, st.st_size, st.st_ino),)
        out = []
        for root, _dirs, files in os.walk(path):
            for f in files:
                full = os.path.join(root, f)
                st = os.stat(full)
                out.append((os.path.relpath(full, path), st.st_mtime_ns, st.st_size, st.st_ino))
        return tuple(sorted(out))
    except OSError:  # missing, or changing under us: read without the cache
        return None


def _schema_key(spark: SparkSession, path: str) -> tuple[str, tuple | None, tuple]:
    path = os.path.abspath(path)
    confs = tuple(spark.conf.get(k) for k in _INFERENCE_CONFS)
    return path, _file_identity(path), confs


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that infers the schema only on the
    first read of this file identity under these inference confs. Every
    call builds a fresh relation (new attribute ids), as a bare read does."""
    # identity is taken before inference: a rewrite racing the inference
    # leaves an entry under the old identity, which no later read matches
    path, identity, confs = _schema_key(spark, path)
    hit = _SCHEMAS.get(path)
    if identity and hit is not None and hit[:2] == (identity, confs):
        return spark.read.schema(hit[2]).parquet(path)
    df = spark.read.parquet(path)
    if identity:
        _SCHEMAS[path] = (identity, confs, df.schema)
    return df


def remember_parquet_schema(spark: SparkSession, path: str, schema: StructType) -> None:
    """Record the schema of Parquet data this process just wrote to
    ``path``, so its first ``read_parquet`` infers nothing. Only for data
    written by Spark, whose footers carry this very schema."""
    path, identity, confs = _schema_key(spark, path)
    if identity:
        _SCHEMAS[path] = (identity, confs, schema)


def forget_parquet_schema(path: str) -> None:
    """Drop ``path``'s entry (its data was deleted)."""
    _SCHEMAS.pop(os.path.abspath(path), None)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one test table. Plain parquet scan → full pushdown/pruning;
    the schema is resolved once per file (``read_parquet``)."""
    ensure_session_confs(spark)
    df = read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        df = normalize_events_ts(df)
    return df


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Normalize the events ``ts`` column to TIMESTAMP (UTC semantics),
    whatever physical encoding the parquet writer chose.

    Three encodings occur in the wild:

    - TIMESTAMP(NANOS) — Spark has no nanos type; with the ``nanosAsLong``
      conf it reads as epoch-nanos BIGINT. ``div`` keeps the division
      integral (a double round-trip would lose sub-ms precision).
    - timestamp[us/ms] without isAdjustedToUTC — reads as TIMESTAMP_NTZ.
      The engine declares UTC wall-clock semantics and the session timezone
      is pinned to UTC, so the cast re-tags the same wall time as an
      instant with zero value shift.
    - timestamp[us/ms] with isAdjustedToUTC — already TIMESTAMP; no-op.

    The type gate (rather than a fixed conversion) is what keeps the loader
    alive when the testdata writer changes encoding between rounds.
    """
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    elif ts_type == "timestamp_ntz":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    """Load every test table and register them as temp views.

    Registration lets every operator also be reached through ``spark.sql``;
    Catalyst sees identical plans either way.
    """
    out: dict[str, DataFrame] = {}
    for name in TABLE_NAMES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            # load_table handles the events nanos→timestamp conversion and
            # session-conf hardening; raw reads here would register an
            # int64 `ts` view under get_spark and fail outright elsewhere
            df = load_table(spark, sf_dir, name)
            df.createOrReplaceTempView(name)
            out[name] = df
    return out
