"""MERGE / upsert / lifecycle layer (SURVEY §2.7 M1-M9) on plain Parquet.

The reference's loaders are Postgres ``ON CONFLICT`` MERGEs gated on a
content hash (`loader_v2.py:158-207`, `process_pois.py:481-498`,
`vector_store.py:109-205`). Delta Lake isn't in this environment, so the
engine ships a snapshot-MERGE emulation:

    merged = target FULL OUTER JOIN source ON keys
             → matched & hash differs (or resurrect)  ⇒ source row
             → matched & hash equal                   ⇒ target row (skip)
             → source only                            ⇒ insert
             → target only                            ⇒ keep (or soft-delete
               when scoped by ``not_matched_by_source_scope``)

and writes the merged snapshot to a new versioned directory, pointer-
swapped via a tiny manifest. Commits use OPTIMISTIC CONCURRENCY (the
Delta protocol in miniature, scoped to one POSIX filesystem): data files
are written lock-free, then the manifest swap happens under an O_EXCL
lock file with a check that the table version the transaction READ is
still current — a lost-update race raises ``ConcurrentWriteError``
instead of silently clobbering the other writer. Delta/Iceberg remain
the production backend (they generalize this to object stores and add
log checkpointing); neither is installable in this offline container —
verified: no network, no bundled jars — so the emulation carries the
contract and the concurrent-writer test.

100 TB notes: a full-snapshot rewrite is exactly what Delta/Iceberg
avoid; ``PartitionedMergeTable`` is the scale shape — per-partition
versioned directories (partition on client_id/date like the reference's
batch scope), merges rewrite ONLY touched partitions, and conflict
detection is per-partition so disjoint writers commit concurrently. The
``changed_only`` helper implements the reference's best idea — compute
expensive effects (embeddings, vision calls) only for rows whose hash
changed (M4, vector_store.py:134-137).
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import shutil
import time
from collections.abc import Callable, Sequence
from functools import reduce

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, Observation, Row, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from etl_stack_spark.operators.delta_log import (
    TOMBSTONE_RETENTION_MS,
    DeltaLog,
    file_stats,
    live_files_payload,
    snapshot_parquet_files,
)
from etl_stack_spark.session import (
    forget_parquet_schema,
    read_parquet,
    remember_parquet_schema,
)

# process-wide monotone sequence for snapshot/partition/compaction dir
# names: (millis, pid) alone COLLIDES when two same-process writer
# threads race inside one millisecond — FileOutputCommitter then merges
# both jobs into one directory and the loser's job-commit deletes the
# winner's _temporary tree mid-write (observed in the two-writer race
# test under a slow box). next() on itertools.count is GIL-atomic.
_STAMP_SEQ = itertools.count()


def _unique_stamp() -> str:
    return f"{int(time.time() * 1000)}_{os.getpid()}_{next(_STAMP_SEQ)}"


class ConcurrentWriteError(RuntimeError):
    """Another writer committed between this transaction's snapshot read
    and its commit attempt — re-read and retry (optimistic concurrency)."""


def _align_source(
    target: DataFrame, src: DataFrame, audit_ts_col: str | None, on_extra_columns: str
) -> tuple[DataFrame, DataFrame]:
    """Column-align ``src`` to ``target`` under the schema-drift policy
    (see ``ParquetMergeTable.merge``); returns the possibly-widened
    target and the aligned source."""
    # the audit column is merge-internal: when the table predates it
    # (e.g. bootstrapped via overwrite/append), widen silently rather
    # than flagging our own injection as caller schema drift
    if audit_ts_col and audit_ts_col in src.columns and audit_ts_col not in target.columns:
        target = target.withColumn(audit_ts_col, F.lit(None).cast("timestamp"))
    extra = [c for c in src.columns if c not in target.columns]
    if extra:
        if on_extra_columns == "error":
            raise ValueError(
                f"merge source has columns the table lacks: {extra} — pass "
                "on_extra_columns='evolve' to widen the schema or 'ignore' to drop them"
            )
        if on_extra_columns == "evolve":
            src_types = dict(src.dtypes)
            for c in extra:
                target = target.withColumn(c, F.lit(None).cast(src_types[c]))
    for c in target.columns:
        if c not in src.columns:
            src = src.withColumn(c, F.lit(None).cast(dict(target.dtypes)[c]))
    return target, src.select(*target.columns)


@contextlib.contextmanager
def _persisted(df: DataFrame):
    """Persist ``df`` for the block, so the validation aggregate and the
    write read one evaluation of it. A frame the caller already cached
    is left as it is."""
    if df.storageLevel != StorageLevel.NONE:
        yield
        return
    df.persist()
    try:
        yield
    finally:
        df.unpersist()


def _validate_source(
    source: DataFrame, keys: Sequence[str], partition_col: str | None = None
) -> list[Row]:
    """Every pre-write check on a merge source in ONE aggregate and one
    ``collect``: ``groupBy(keys)`` → per-key row count, then ``max`` of
    the count and of a NULL-key flag (per partition when
    ``partition_col`` is given).

    - A NULL partition value or a NULL in any merge key is rejected: a
      null key never matches under SQL equality, so the row would land
      as a phantom insert (the reference's Postgres upsert rejects it at
      the PK constraint).
    - Two source rows for one merge key would each claim the same target
      row, and the full-outer classification would silently DUPLICATE
      it. Delta's MERGE INTO raises here
      (DELTA_MULTIPLE_SOURCE_ROW_MATCHING_TARGET_ROW); so do we.

    Returns the aggregate's rows: one row, or one per partition value.
    With ``partition_col``, each carries the partition value and
    ``_mn_<k>``/``_mx_<k>`` bounds of every other key (the
    stats-pruning input)."""
    null_key = reduce(lambda a, b: a | b, [F.col(k).isNull() for k in keys])
    per_key = source.groupBy(*keys).agg(F.count(F.lit(1)).alias("_n"))
    aggs = [
        F.max("_n").alias("_max_n"),
        F.max(null_key).alias("_null_key"),
    ]
    if partition_col is None:
        rows = per_key.agg(*aggs).collect()
    else:
        for k in keys:
            if k != partition_col:
                aggs += [F.min(k).alias(f"_mn_{k}"), F.max(k).alias(f"_mx_{k}")]
        rows = per_key.groupBy(partition_col).agg(*aggs).collect()
        if any(r[partition_col] is None for r in rows):
            raise ValueError(f"merge source contains NULL {partition_col!r}")
    if any(r["_null_key"] for r in rows):
        raise ValueError(f"merge source contains NULL in merge key(s) {list(keys)}")
    if any((r["_max_n"] or 0) > 1 for r in rows):
        raise ValueError(
            f"merge source has multiple rows per merge key {list(keys)}; "
            "deduplicate the source first (Delta raises "
            "MULTIPLE_SOURCE_ROW_MATCHING_TARGET_ROW here too)"
        )
    return rows


def _classify_merge(
    target: DataFrame,
    src: DataFrame,
    keys: Sequence[str],
    hash_col: str,
    update_condition: Column | None = None,
    soft_delete_scope: Column | None = None,
    soft_delete_scope_keys: DataFrame | None = None,
    status_col: str = "status",
    deleted_value: str = "deleted",
) -> DataFrame:
    """The MERGE classification core (shared by the whole-table and the
    partition-scoped tables): full-outer join on keys, per-row action in
    ``_action`` ∈ insert/update/unchanged/keep/soft_delete, columns
    resolved source-vs-target accordingly. ``src`` must already be
    aligned to ``target``'s column set. ``soft_delete_scope_keys`` (see
    ``ParquetMergeTable.merge``) marks in-scope target rows through a
    broadcast join."""
    if soft_delete_scope_keys is not None:
        marker = soft_delete_scope_keys.distinct().withColumn("_scope", F.lit(True))
        target = target.join(
            F.broadcast(marker), list(soft_delete_scope_keys.columns), "left"
        )
        soft_delete_scope = F.col("t._scope").isNotNull()
    # presence flags, not key null-ness: a legacy null-keyed row already
    # IN the target (e.g. via append) must still classify as "keep",
    # not collapse into an all-null phantom
    t = target.withColumn("_t_present", F.lit(True)).alias("t")
    s = src.withColumn("_s_present", F.lit(True)).alias("s")
    cond = reduce(lambda a, b: a & b, [F.col(f"t.{k}") == F.col(f"s.{k}") for k in keys])
    joined = t.join(s, cond, "full_outer")

    in_src = F.col("s._s_present").isNotNull()
    in_tgt = F.col("t._t_present").isNotNull()
    hash_changed = F.col(f"t.{hash_col}") != F.col(f"s.{hash_col}")
    resurrect = (
        (F.col(f"t.{status_col}") == deleted_value) if status_col in target.columns else F.lit(False)
    )
    should_update = hash_changed | resurrect
    if update_condition is not None:
        should_update = should_update | update_condition

    take_source = in_src & (~in_tgt | should_update)

    action = (
        F.when(in_src & ~in_tgt, F.lit("insert"))
        .when(in_src & in_tgt & should_update, F.lit("update"))
        .when(in_src & in_tgt, F.lit("unchanged"))
        .otherwise(F.lit("keep"))
    )
    if soft_delete_scope is not None:
        action = F.when(~in_src & in_tgt & soft_delete_scope, F.lit("soft_delete")).otherwise(action)

    cols = []
    for c in target.columns:
        if c == "_scope":  # internal scope-keys marker, never emitted
            continue
        picked = F.when(take_source, F.col(f"s.{c}")).otherwise(F.col(f"t.{c}"))
        if c == status_col and soft_delete_scope is not None:
            picked = F.when(action == "soft_delete", F.lit(deleted_value)).otherwise(picked)
        cols.append(picked.alias(c))

    return joined.select(*cols, action.alias("_action"))


_ACTIONS = ("insert", "update", "unchanged", "keep", "soft_delete")

_UNCHECKED = object()  # sentinel: commit without a version precondition


def _merge_pass(
    target: DataFrame | None,
    source: DataFrame,
    keys: Sequence[str],
    hash_col: str,
    audit_ts_col: str | None,
    on_extra_columns: str,
    shape: Callable[[DataFrame], DataFrame] | None = None,
    **classify,
) -> tuple[DataFrame, Callable[[], dict]]:
    """The merge pass both tables write: audit timestamp, alignment to
    ``target`` and ``_classify_merge(**classify)`` (no target: all
    inserts). Returns the frame to write and a function that reads the
    action counters, observed on the write itself: no cached frame, no
    counting job. ``shape`` goes BELOW the observation: a range
    exchange samples its child in a job of its own, and an observation
    under it would count those rows twice."""
    src = source
    if audit_ts_col and audit_ts_col not in src.columns:
        src = src.withColumn(audit_ts_col, F.current_timestamp())
    if target is None:
        merged = src.withColumn("_action", F.lit("insert"))
    else:
        target, src = _align_source(target, src, audit_ts_col, on_extra_columns)
        merged = _classify_merge(target, src, keys, hash_col, **classify)
    if shape is not None:
        merged = shape(merged)
    obs = Observation()
    action = F.col("_action")
    observed = merged.observe(obs, *[F.count_if(action == a).alias(a) for a in _ACTIONS])

    def counters() -> dict:
        c = obs.get
        return {
            "inserted": c["insert"], "updated": c["update"],
            "unchanged": c["unchanged"] + c["keep"], "soft_deleted": c["soft_delete"],
        }

    return observed.drop("_action"), counters


def _entry(e: str | dict) -> tuple[str, str | None]:
    """(dir, partition) of a history entry: a ``{"dir", "part"}`` dict or
    a bare dir string (whole-table snapshots, legacy partitioned ones)."""
    return (e["dir"], e.get("part")) if isinstance(e, dict) else (e, None)


def _stat_comparable(a, b) -> bool:
    """Only prune on a (file-stat, source-bound) pair whose ordering is
    trustworthy across both representations: numbers with numbers,
    strings with strings. bool is excluded (it is an int subclass but
    not a range type); date/timestamp stats are ISO strings while Spark
    bounds are datetime objects, so they fail the type check and the
    file conservatively joins."""
    if isinstance(a, bool) or isinstance(b, bool):
        return False
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        return True
    return isinstance(a, str) and isinstance(b, str)


def _prunable_rows(stats_json, bounds: dict[str, tuple]) -> int | None:
    """``numRecords`` when per-file stats PROVE the file cannot contain
    any source merge key — some key's [file-min, file-max] misses the
    source's per-partition [min, max] (a match needs every key equal, so
    one disjoint key range excludes the whole file; NULL target keys
    never match under SQL equality and are safely carried). ``None`` =
    the file must join: no usable stats, incomparable types, or ranges
    intersect. A None bound is an unbounded side (``prune_files``)."""
    if not stats_json or not bounds:
        return None
    s = json.loads(stats_json) if isinstance(stats_json, str) else stats_json
    n = s.get("numRecords")
    if n is None:
        return None
    mins, maxs = s.get("minValues", {}), s.get("maxValues", {})
    for k, (lo, hi) in bounds.items():
        fmn, fmx = mins.get(k), maxs.get(k)
        if fmn is None or fmx is None:
            continue  # no stat → can't prove exclusion
        if lo is not None and _stat_comparable(fmx, lo) and fmx < lo:
            return n
        if hi is not None and _stat_comparable(fmn, hi) and fmn > hi:
            return n
    return None


class _MergeTable:
    """What both merge tables share: the sticky Delta log, the manifest
    and its lock, one commit protocol and one vacuum. A manifest maps
    each slot to the directory holding its live data: the whole table
    has one slot (``None`` → ``current``), the partitioned table one per
    partition value (``parts``). A layout supplies ``_empty_manifest``,
    ``_pointer`` (a slot's dir), ``_live_dirs`` and ``_log_commit``."""

    # dir prefixes this layout writes; a dir with one that the manifest
    # never heard of is a crashed writer's orphan (see fsck)
    _ORPHAN_PREFIXES: tuple[str, ...] = ()

    def __init__(self, spark: SparkSession, root: str, delta_log: bool = False):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)
        sticky = delta_log or os.path.isdir(os.path.join(root, "_delta_log"))
        self.delta_log: DeltaLog | None = DeltaLog(root) if sticky else None

    # -- snapshot plumbing --------------------------------------------------
    @property
    def _manifest_path(self) -> str:
        return os.path.join(self.root, "MANIFEST.json")

    def _read_manifest(self) -> dict:
        if not os.path.exists(self._manifest_path):
            return self._empty_manifest()
        with open(self._manifest_path) as f:
            return json.load(f)

    def _write_manifest(self, manifest: dict) -> None:
        tmp = self._manifest_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, self._manifest_path)  # atomic pointer swap

    def _parquet_files(self, d: str) -> list[str]:
        """Relative paths of dir ``d``'s parquet files ([] if it is gone)."""
        p = os.path.join(self.root, d)
        names = sorted(os.listdir(p)) if os.path.isdir(p) else []
        return [f"{d}/{f}" for f in names if f.endswith(".parquet")]

    @contextlib.contextmanager
    def _commit_lock(self):
        """O_EXCL lock file — the manifest mutex for commits AND vacuum
        (a vacuum racing a committer's manifest read would otherwise drop
        the version the committer is about to append after)."""
        lock_path = os.path.join(self.root, "COMMIT_LOCK")
        deadline = time.time() + 60.0
        while True:
            try:
                fd = os.open(lock_path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                break
            except FileExistsError:
                if time.time() > deadline:  # pragma: no cover — crashed writer
                    raise TimeoutError(f"commit lock stuck: {lock_path}") from None
                time.sleep(0.01)
        try:
            yield
        finally:
            os.close(fd)
            os.unlink(lock_path)

    def _commit(
        self,
        written: dict,
        expected: dict,
        apply: Callable[[dict, dict], None],
        operation: str,
        schema_json: str | None = None,
        skip_stale: bool = False,
    ) -> list:
        """Swap each slot of ``written`` to the directory this transaction
        wrote lock-free. Under the commit lock, a slot whose directory
        moved past the one ``expected`` names (the one the transaction
        READ) is stale: the commit raises ConcurrentWriteError and
        removes every written directory, or with ``skip_stale``
        (compaction: data-identical, so the newer version wins) removes
        only the stale ones. ``apply(manifest, fresh)`` updates the
        manifest, which swaps atomically; a Delta log commits the same
        state inside the lock (the put-if-absent the Delta protocol
        requires), with ``schema_json`` or else the manifest's recorded
        schema. Returns the stale slots."""
        with self._commit_lock():
            manifest = self._read_manifest()
            stale = [k for k, d in expected.items() if self._pointer(manifest, k) != d]
            if stale and not skip_stale:
                for d in written.values():
                    shutil.rmtree(os.path.join(self.root, d), ignore_errors=True)
                k = stale[0]
                what = "table" if k is None else f"partition {k!r}"
                raise ConcurrentWriteError(
                    f"{what} advanced from {expected[k]!r} to "
                    f"{self._pointer(manifest, k)!r} during the transaction; retry"
                )
            for k in stale:
                shutil.rmtree(os.path.join(self.root, written[k]), ignore_errors=True)
            fresh = {k: d for k, d in written.items() if k not in stale}
            if fresh:
                apply(manifest, fresh)
                self._write_manifest(manifest)
                if self.delta_log is not None:
                    schema_json = schema_json or json.dumps(manifest.get("schema") or {})
                    self._log_commit(manifest, operation, schema_json)
        return stale

    def vacuum(self, keep_last: int = 2) -> list[str]:
        """Drop superseded version directories (the emulation's answer to
        Delta VACUUM), keeping the ``keep_last`` most recent history
        entries PER PARTITION plus everything currently referenced
        (``keep_last=0`` keeps only the live versions). The whole table
        is one partition. Retention is per partition value so a busy
        partition cannot evict a quiet partition's retained versions
        (ADVICE r4). The manifest is rewritten first, under the commit
        lock, and directories are removed after, so a concurrent reader
        of a live version never loses it."""
        with self._commit_lock():
            manifest = self._read_manifest()
            live = self._live_dirs(manifest)
            history = manifest["history"]
            by_part: dict[object, list[str]] = {}
            for e in history:
                d, part = _entry(e)
                by_part.setdefault(part, []).append(d)
            to_drop = [
                d
                for dirs in by_part.values()
                for d in (dirs[:-keep_last] if keep_last else dirs)
                if d not in live
            ]
            dropped = set(to_drop)
            manifest["history"] = [e for e in history if _entry(e)[0] not in dropped]
            self._write_manifest(manifest)
        for d in to_drop:
            forget_parquet_schema(os.path.join(self.root, d))
            shutil.rmtree(os.path.join(self.root, d), ignore_errors=True)
        return to_drop


class ParquetMergeTable(_MergeTable):
    """A directory of versioned Parquet snapshots with a manifest pointer.

    Layout: ``<root>/v_<n>/part-*.parquet`` + ``<root>/MANIFEST.json``
    (``{"current": "v_<n>", "history": [...]}``).

    ``delta_log=True`` additionally appends every committed snapshot to
    a real Delta transaction log at ``<root>/_delta_log/`` (public
    protocol format — see operators/delta_log.py), making the table
    loadable by any stock Delta reader (``spark.read.format("delta")``,
    Trino, DuckDB's delta extension) with zero change to the engine's
    own read/merge paths or result hashes. Once a table has a log, the
    flag is remembered from the directory (reopening without the flag
    keeps appending — a half-written log would otherwise go silently
    stale, which a stock reader cannot detect).
    """

    _ORPHAN_PREFIXES = ("v_",)

    def _empty_manifest(self) -> dict:
        return {"current": None, "history": []}

    def _pointer(self, manifest: dict, slot: None) -> str | None:
        return manifest["current"]

    def _live_dirs(self, manifest: dict) -> set[str]:
        return {manifest["current"]} if manifest["current"] else set()

    def _log_commit(self, manifest: dict, operation: str, schema_json: str) -> None:
        self.delta_log.commit(
            snapshot_parquet_files(self.root, manifest["current"]),
            schema_json,
            operation=operation,
        )

    def current_version(self) -> str | None:
        return self._read_manifest()["current"]

    def exists(self) -> bool:
        return self.current_version() is not None

    def read(self, version: str | int | None = None) -> DataFrame:
        """Read the current snapshot, or time-travel: ``version`` may be a
        snapshot name or a negative index into history (-2 = previous)."""
        if version is None:
            cur = self.current_version()
        elif isinstance(version, int):
            cur = self._read_manifest()["history"][version]
        else:
            cur = version
        if cur is None:
            raise FileNotFoundError(f"no current snapshot in {self.root}")
        return read_parquet(self.spark, os.path.join(self.root, cur))

    # -- stats-based file skipping (zone maps via the Delta log) -------------
    def prune_files(self, bounds: dict[str, tuple]) -> tuple[list[str], int]:
        """Zone-map pruning: live files whose per-file min/max stats (the
        Delta add-action ``stats`` field) can intersect ``bounds`` —
        ``{col: (lo, hi)}``, inclusive, None = unbounded side. Files
        with no stats for a bounded column are conservatively kept; a
        NULL row can never satisfy a range predicate, so nullCount
        never blocks a skip. Returns (surviving relative paths, total
        live files). Requires ``delta_log=True`` — stats live on the
        log's add actions, not the manifest."""
        if self.delta_log is None:
            raise ValueError(
                f"stats pruning needs a Delta log: open {self.root} with delta_log=True"
            )
        files = self.delta_log.state()["files"]
        keep = [
            rel
            for rel in sorted(files)
            if _prunable_rows(files[rel].get("stats"), bounds) is None
        ]
        return keep, len(files)

    def optimize_zorder(
        self, cols: list[str], bits: int = 12, files: int | None = None
    ) -> str:
        """Delta ``OPTIMIZE ... ZORDER BY`` analog: rewrite the current
        snapshot clustered on the Morton key of ``cols`` (layout.py), so
        the per-file stats the Delta log records become tight on EVERY
        participating dimension and :meth:`read_where` prunes
        multi-column ranges. Data-identical rewrite under the same
        optimistic-concurrency rule as merge (a table that advanced
        mid-rewrite aborts rather than clobbering newer data);
        operation-tagged OPTIMIZE in the log. Returns the new version."""
        from etl_stack_spark.operators.layout import zorder_key

        base_version = self.current_version()
        base, key = zorder_key(self.read(base_version), cols, bits)
        keyed = base.withColumn("_zkey", key)
        keyed = (
            keyed.repartitionByRange(files, "_zkey")
            if files
            else keyed.repartitionByRange("_zkey")
        )
        out = keyed.sortWithinPartitions("_zkey").drop("_zkey")
        return self._write_snapshot(
            out, expected_version=base_version, operation="OPTIMIZE"
        )

    def read_where(self, bounds: dict[str, tuple]) -> DataFrame:
        """Range read with file skipping: scan only the files
        :meth:`prune_files` keeps, then apply the residual row filter
        (pruning is file-granular). The 100 TB story: with data
        clustered on the bounded column (``overwrite`` after
        ``repartitionByRange`` + sortWithinPartitions, or z-order
        compaction), a narrow range touches O(range) files instead of
        O(table) — the scan cost follows the predicate, not the table."""
        keep, _total = self.prune_files(bounds)
        if not keep:
            schema = StructType.fromJson(json.loads(self.delta_log.state()["schema_string"]))
            df = self.spark.createDataFrame([], schema)
        else:
            df = self.spark.read.parquet(*[os.path.join(self.root, p) for p in keep])
        preds = []
        for col, (lo, hi) in bounds.items():
            if lo is not None:
                preds.append(F.col(col) >= lo)
            if hi is not None:
                preds.append(F.col(col) <= hi)
        return df.filter(reduce(lambda a, b: a & b, preds)) if preds else df

    def _write_snapshot(
        self, df: DataFrame, expected_version=_UNCHECKED, operation: str = "WRITE"
    ) -> str:
        """Write data files lock-free, then commit the manifest swap under
        a lock with an optional version precondition.

        ``expected_version``: the version the calling transaction READ its
        inputs from. If the table moved past it by commit time, the commit
        aborts with ConcurrentWriteError and the orphan data directory is
        removed — the Delta optimistic-concurrency protocol, scoped to a
        shared POSIX filesystem (os.O_EXCL is the mutex; data writes stay
        OUTSIDE the critical section so writers only serialize on the
        pointer swap, not on the heavy parquet write)."""
        version = f"v_{_unique_stamp()}"
        path = os.path.join(self.root, version)
        df.write.mode("overwrite").parquet(path)

        def apply(manifest: dict, fresh: dict) -> None:
            manifest["history"].append(version)
            manifest["current"] = version

        expected = {} if expected_version is _UNCHECKED else {None: expected_version}
        self._commit({None: version}, expected, apply, operation, df.schema.json())
        # snapshots are immutable: the first read of this one infers nothing
        remember_parquet_schema(self.spark, path, df.schema)
        return version

    def overwrite(self, df: DataFrame, expected_version=_UNCHECKED) -> str:
        """Replace the snapshot. Pass ``expected_version`` (from
        ``current_version()`` at read time) to make a read-modify-write
        conflict-checked; omit for last-writer-wins replacement."""
        return self._write_snapshot(df, expected_version=expected_version)

    # -- MERGE (M1/M3/M8) ---------------------------------------------------
    def merge(
        self,
        source: DataFrame,
        keys: Sequence[str],
        hash_col: str = "content_hash",
        update_condition: Column | None = None,
        soft_delete_scope: Column | None = None,
        soft_delete_scope_keys: DataFrame | None = None,
        status_col: str = "status",
        deleted_value: str = "deleted",
        audit_ts_col: str | None = "updated_at",
        on_extra_columns: str = "error",
    ) -> dict:
        """Hash-gated MERGE of ``source`` into the table.

        - matched & (hash differs | target soft-deleted) → update from source
        - not matched → insert
        - ``soft_delete_scope`` (M2): target rows inside the scope but absent
          from source get ``status = deleted`` instead of being kept as-is.
        - ``soft_delete_scope_keys``: the scope as a key FRAME instead of a
          Column predicate — target rows matching any row of this frame
          (on its columns, via a broadcast marker join) are in scope. Use
          this when the scope is "the batch's N ids": an
          ``isin([...N ids])`` literal predicate bloats plan compile time
          and codegen (measured ~2 min/batch at 15k-id batches in the r10
          streaming audit); the frame form stays a hash join at any N.
          Mutually exclusive with ``soft_delete_scope``.

        Returns counters {inserted, updated, unchanged, soft_deleted}.

        Pass structure: the source is persisted once (released on exit,
        also when the merge raises) and read twice.

        1. One validation aggregate (``_validate_source``) rejects a
           source with a NULL in any merge key or with several rows per
           key before anything is written.
        2. One classify-and-write pass (``_merge_pass``) writes the new
           snapshot. Its action counters are observed on that write
           (``DataFrame.observe``) and read after it, so there is no
           cached snapshot and no separate counting job; on the table's
           first write every source row is an insert.

        ``on_extra_columns`` governs source columns the target lacks
        (schema drift): ``"error"`` (default) raises — an upstream
        producer changed shape and silent data loss is never the right
        default; ``"evolve"`` widens the target schema, existing rows
        reading NULL for the new columns (Delta's mergeSchema semantics);
        ``"ignore"`` drops them explicitly (the pre-round-4 behavior,
        now an opt-in).
        """
        if on_extra_columns not in ("error", "evolve", "ignore"):
            raise ValueError(f"on_extra_columns must be error|evolve|ignore, got {on_extra_columns!r}")
        if soft_delete_scope is not None and soft_delete_scope_keys is not None:
            raise ValueError("pass soft_delete_scope OR soft_delete_scope_keys, not both")
        with _persisted(source):
            _validate_source(source, keys)
            base_version = self.current_version()
            out, counters = _merge_pass(
                self.read(base_version) if base_version is not None else None,
                source, keys, hash_col, audit_ts_col, on_extra_columns,
                update_condition=update_condition, soft_delete_scope=soft_delete_scope,
                soft_delete_scope_keys=soft_delete_scope_keys, status_col=status_col,
                deleted_value=deleted_value,
            )
            # expected None on the first write: two concurrent creators
            # conflict instead of one silently shadowing the other's snapshot
            operation = "WRITE" if base_version is None else "MERGE"
            self._write_snapshot(out, expected_version=base_version, operation=operation)
            return counters()

    # -- DELETE (M6/M7) -----------------------------------------------------
    def delete_where(self, predicate: Column) -> int:
        """Delete rows matching the predicate (e.g. chunk purge by
        ``content_id LIKE 'x_part_%'`` — M6/M7). As in SQL's and Delta's
        ``DELETE WHERE``, only rows where the predicate is TRUE go; a
        row where it is NULL stays. The deleted count is observed on
        the rewrite, with no counting job."""
        base_version = self.current_version()
        target = self.read(base_version)
        hit = F.coalesce(predicate, F.lit(False))
        obs = Observation()
        keep = target.observe(obs, F.count_if(hit).alias("n")).filter(~hit)
        self._write_snapshot(keep, expected_version=base_version, operation="DELETE")
        return obs.get["n"]

    def append(self, df: DataFrame) -> None:
        base_version = self.current_version()
        if base_version is not None:
            df = self.read(base_version).unionByName(df, allowMissingColumns=True)
        self._write_snapshot(df, expected_version=base_version)


class PartitionedMergeTable(_MergeTable):
    """Partition-scoped MERGE: the 100 TB shape of ``ParquetMergeTable``.

    A whole-snapshot rewrite per merge is exactly what Delta/Iceberg
    avoid; here the table is a set of partitions (e.g. ``client_id`` —
    the reference's batch scope, loader_v2.py runs one client per batch),
    each with its OWN versioned directory, and a merge rewrites ONLY the
    partitions its source touches. Conflict detection is per-partition:
    two writers merging into different partitions both commit; two
    writers racing on the same partition — the loser gets
    ``ConcurrentWriteError`` (Delta's partition-level conflict rules).

    Layout: ``<root>/p_<i>_<ts>/...parquet`` per partition version +
    ``MANIFEST.json``: ``{"partition_col": c, "parts": {value: dir},
    "history": [dirs]}``. Partition values are stored in the data too, so
    reads need no reconstruction. A merge writes all its partitions into
    ``<root>/p_stage_<ts>/`` first and renames each into place.
    """

    # p_ = merge-written partition versions (and their p_stage_ write
    # dirs), c_ = compaction rewrites: a compactor that died between data
    # write and manifest swap parks a c_ dir no manifest knows — it must
    # be orphan-collectable too
    _ORPHAN_PREFIXES = ("p_", "c_")

    def __init__(
        self, spark: SparkSession, root: str, partition_col: str, delta_log: bool = False
    ):
        super().__init__(spark, root, delta_log)
        self.partition_col = partition_col

    def _empty_manifest(self) -> dict:
        return {"partition_col": self.partition_col, "parts": {}, "history": []}

    def _pointer(self, manifest: dict, slot: str) -> str | None:
        return manifest["parts"].get(slot)

    def _live_dirs(self, manifest: dict) -> set[str]:
        # stats-pruned merges carry files in superseded directories: any
        # dir still referenced by the file-granular live set is live,
        # whatever its history age
        files = manifest.get("files", {}).values()
        return set(manifest["parts"].values()) | {r.split("/", 1)[0] for rs in files for r in rs}

    def _log_commit(self, manifest: dict, operation: str, schema_json: str) -> None:
        """Emit one Delta commit for the table's CURRENT live state —
        called inside the commit lock, after the manifest swap. Add
        actions carry partitionValues ({partition_col: value}), so a
        stock reader sees a properly partitioned Delta table; commit()
        diffs against the replayed state, so only the FILES a merge
        actually rewrote produce actions (untouched partitions — and,
        with stats pruning, untouched files inside a touched
        partition — are already live)."""
        self.delta_log.commit(
            live_files_payload(
                self.root,
                {v: self._live_files(manifest, v) for v in manifest["parts"]},
                self.partition_col,
            ),
            schema_json,
            operation=operation,
            partition_columns=[self.partition_col],
        )

    def _install(self, manifest: dict, dirs: dict[str, str], carry: dict) -> None:
        """Point each partition at its new directory: its live files are
        the ``carry``-ed ones plus the new directory's; its history entry
        records the partition so vacuum can retain per partition."""
        for v, d in dirs.items():
            manifest["parts"][v] = d
            manifest.setdefault("files", {})[v] = carry.get(v, []) + self._parquet_files(d)
            manifest["history"].append({"dir": d, "part": v})

    def exists(self) -> bool:
        return bool(self._read_manifest()["parts"])

    def parts(self) -> dict[str, str]:
        return dict(self._read_manifest()["parts"])

    def _live_files(self, manifest: dict, value: object) -> list[str]:
        """The partition's live file set (relative paths). The manifest's
        ``files`` map is file-granular — the stats-pruned merge carries
        untouched files across commits, so a partition's live set can
        span directories. Legacy manifests (pre-round-8) have no
        ``files`` entry: the live set is everything in the partition's
        current directory, exactly the old semantics."""
        rels = manifest.get("files", {}).get(str(value))
        if rels is not None:
            return list(rels)
        d = manifest["parts"].get(str(value))
        return self._parquet_files(d) if d is not None else []

    def _read_files(self, manifest: dict, rels: Sequence[str]) -> DataFrame:
        """Read live files with the manifest-recorded table schema: after
        ``on_extra_columns='evolve'`` only the touched partitions carry
        the widened schema, and a schema inferred from the files would
        drop the evolved column (ADVICE r4) or, read for an un-evolved
        partition alone, lack it. Files written before the evolve read
        the new column as NULL — the Delta table-schema semantics. A
        manifest that records no schema infers one with mergeSchema."""
        paths, schema = [os.path.join(self.root, rel) for rel in rels], manifest.get("schema")
        if schema:
            return self.spark.read.schema(StructType.fromJson(schema)).parquet(*paths)
        return self.spark.read.option("mergeSchema", "true").parquet(*paths)

    def read(self, part_values: Sequence[object] | None = None) -> DataFrame:
        """Read the whole table, or only the named partitions — the
        partition-pruned path a per-client/per-day job takes."""
        manifest = self._read_manifest()
        parts = manifest["parts"]
        if not parts:
            raise FileNotFoundError(f"no partitions in {self.root}")
        selected = list(parts) if part_values is None else [
            str(v) for v in part_values if str(v) in parts
        ]
        if not selected:
            raise FileNotFoundError(f"no matching partitions in {self.root}")
        return self._read_files(
            manifest, [rel for v in selected for rel in self._live_files(manifest, v)]
        )

    def merge(
        self,
        source: DataFrame,
        keys: Sequence[str],
        hash_col: str = "content_hash",
        audit_ts_col: str | None = "updated_at",
        on_extra_columns: str = "error",
        cluster_by: Sequence[str] | None = None,
        cluster_files: int = 8,
    ) -> dict:
        """Hash-gated MERGE rewriting only the FILES the source can
        touch. The partition column must be one of the merge keys (rows
        cannot move between partitions through a merge — same rule as
        Delta partition columns) and may not be null in the source.

        Stats-pruned target (VERDICT r7 task 5 — the classic Delta MERGE
        file-pruning optimization): within each affected partition, live
        files whose per-file key min/max (Delta-log stats when the table
        has a log, parquet footers otherwise) provably cannot intersect
        the source's per-partition key bounds are CARRIED — never read,
        never joined, never rewritten; their rows count as ``unchanged``
        via the recorded numRecords. On a table clustered on a merge key
        (``cluster_by``), a narrow delta rewrites O(delta) files instead
        of O(partition). Pruning is conservative: a file with no usable
        stats for any key joins as before.

        ``cluster_by`` (optional): range-cluster the rewritten rows on
        these columns into ``cluster_files`` key ranges
        (repartitionByRange + sortWithinPartitions), each written as one
        file per rewritten partition it holds rows of — the write-side
        clustering that makes future merges' stats pruning tight, Delta's
        OPTIMIZE-ZORDER-at-write analog for one dimension.

        Pass structure: the source is persisted once (released on exit,
        also when the merge raises). One validation aggregate, grouped by
        partition, rejects NULL or duplicate keys before anything is
        written and also returns the affected partitions and their key
        bounds. The target files are read with the table schema, and one
        observed classify-and-write pass (``_merge_pass``) writes every
        affected partition in ONE job, partitioned by a ``_dir`` column
        naming each row's new directory into ``p_stage_<ts>``; each
        ``_dir=<dir>`` is then renamed into place before the commit.

        Returns the usual counters plus ``files_pruned`` /
        ``files_rewritten`` / ``rows_carried`` / ``rows_rewritten``.
        """
        pcol = self.partition_col
        if pcol not in keys:
            raise ValueError(f"partition column {pcol!r} must be part of the merge keys")
        with _persisted(source):
            # affected partitions and their source key bounds (for stats
            # pruning) come out of the validation aggregate: a small
            # driver-side list by design (a batch touches one client / a
            # few days, never the whole keyspace)
            checked = _validate_source(source, keys, pcol)
            affected = [r[pcol] for r in checked]
            base = self._read_manifest()
            read_versions = {str(v): base["parts"].get(str(v)) for v in affected}
            log_files = self.delta_log.state()["files"] if self.delta_log is not None else {}

            target_files: list[str] = []
            carry: dict[str, list[str]] = {}
            carried_rows = 0
            for r in checked:
                sv = str(r[pcol])
                bounds = {k: (r[f"_mn_{k}"], r[f"_mx_{k}"]) for k in keys if k != pcol}
                carry[sv] = []
                for rel in self._live_files(base, sv):
                    n_skip = _prunable_rows(
                        log_files.get(rel, {}).get("stats")
                        or file_stats(os.path.join(self.root, rel)),
                        bounds,
                    )
                    if n_skip is None:
                        target_files.append(rel)
                    else:
                        carry[sv].append(rel)
                        carried_rows += n_skip
            files_pruned = sum(len(c) for c in carry.values())

            # one new directory per affected partition, written lock-free
            # in one job
            stamp = _unique_stamp()
            new_dirs = {str(v): f"p_{i}_{stamp}" for i, v in enumerate(affected)}
            dir_col = F.lit(None).cast("string")
            for v in affected:
                dir_col = F.when(F.col(pcol) == F.lit(v), new_dirs[str(v)]).otherwise(dir_col)

            def shape(merged: DataFrame) -> DataFrame:
                merged = merged.withColumn("_dir", dir_col)
                return (
                    merged.repartitionByRange(cluster_files, *cluster_by) if cluster_by else merged
                )

            # no file to read (new or fully pruned partitions): a table
            # with a recorded schema still aligns the source to it, so the
            # schema-drift policy holds; only the table's first merge has
            # nothing to align to
            if target_files:
                target = self._read_files(base, target_files)
            elif base.get("schema"):
                target = self.spark.createDataFrame([], StructType.fromJson(base["schema"]))
            else:
                target = None
            out, counters = _merge_pass(
                target, source, keys, hash_col, audit_ts_col, on_extra_columns, shape=shape,
            )
            if cluster_by:
                out = out.sortWithinPartitions("_dir", *cluster_by)
            stage = os.path.join(self.root, f"p_stage_{stamp}")
            out.write.partitionBy("_dir").mode("overwrite").parquet(stage)
            counts = counters()
        for d in new_dirs.values():
            os.rename(os.path.join(stage, f"_dir={d}"), os.path.join(self.root, d))
        shutil.rmtree(stage, ignore_errors=True)
        rewritten_files = sum(len(self._parquet_files(d)) for d in new_dirs.values())
        out_schema = out.drop("_dir").schema

        def apply(manifest: dict, fresh: dict) -> None:
            # the conflict check guarantees the carried paths are still
            # live (the partition has not moved)
            self._install(manifest, fresh, carry)
            # table-level schema: the source of truth reads use, so an
            # evolved column survives mixed-schema partition dirs. Union
            # with the recorded schema — a later merge touching only
            # un-evolved partitions must not narrow the table schema.
            prior = manifest.get("schema")
            schema = StructType.fromJson(prior) if prior else StructType()
            known = set(schema.fieldNames())
            for f in out_schema.fields:
                if f.name not in known:
                    schema.add(f)
            manifest["schema"] = schema.jsonValue()

        self._commit(new_dirs, read_versions, apply, "MERGE")
        return {
            **counts,
            # carried rows were proven untouchable by stats, so they are
            # exactly the rows the un-pruned merge would have classified
            # "keep" — counters stay identical with pruning on
            "unchanged": counts["unchanged"] + carried_rows,
            "partitions_rewritten": len(affected),
            "files_pruned": files_pruned,
            "files_rewritten": rewritten_files,
            "rows_carried": carried_rows,
            "rows_rewritten": sum(counts.values()),
        }

    def compact(
        self,
        target_files_per_partition: int = 1,
        min_files: int = 2,
        part_values: Sequence[object] | None = None,
    ) -> dict:
        """OPTIMIZE-style small-file compaction: rewrite each selected
        partition whose live directory holds more than ``min_files``
        parquet files into ``target_files_per_partition`` files.

        Streaming merges and trickle appends leave a long tail of small
        files; at 100 TB that tail dominates scan planning (one task per
        tiny file). The rewrite is ``coalesce`` — narrow, no shuffle —
        and runs per partition, so a compaction job scopes to the
        partitions a maintenance window owns. Commit follows the same
        optimistic rule as ``merge``, with one difference: compaction is
        data-IDENTICAL, so a partition that advanced mid-rewrite is
        simply SKIPPED (the newer version already superseded the files
        being compacted — never clobber newer data with older bytes).

        Returns {"compacted": {value: files_before}, "skipped": [value]}.
        """
        manifest = self._read_manifest()
        parts = manifest["parts"]
        selected = list(parts) if part_values is None else [
            str(v) for v in part_values if str(v) in parts
        ]
        live_rels = {v: self._live_files(manifest, v) for v in selected}
        plan = [v for v in selected if len(live_rels[v]) > min_files]
        if not plan:
            return {"compacted": {}, "skipped": []}

        stamp = _unique_stamp()
        new_dirs = {v: f"c_{i}_{stamp}" for i, v in enumerate(plan)}
        for v, nd in new_dirs.items():
            # read the partition's live FILES (they may span directories
            # after stats-pruned merges), consolidate into one dir
            live = self._read_files(manifest, live_rels[v])
            live.coalesce(target_files_per_partition).write.mode("overwrite").parquet(
                os.path.join(self.root, nd)
            )

        skipped = self._commit(
            new_dirs,
            {v: parts[v] for v in plan},
            # compaction re-consolidates the file-granular live set
            lambda m, fresh: self._install(m, fresh, {}),
            "OPTIMIZE",
            skip_stale=True,
        )
        compacted = {v: len(live_rels[v]) for v in plan if v not in skipped}
        return {"compacted": compacted, "skipped": skipped}


def merge_with_retry(
    table: ParquetMergeTable,
    source: DataFrame,
    keys: Sequence[str],
    max_retries: int = 3,
    **merge_kwargs,
) -> dict:
    """Optimistic-concurrency retry loop around ``table.merge``.

    ``merge()`` re-reads the current snapshot at entry, and the hash-gated
    merge is idempotent over re-application (a source row already applied
    by a previous attempt classifies ``unchanged`` on the next), so a
    ``ConcurrentWriteError`` is safely handled by just re-running the merge
    against the new snapshot — the Delta-style serialize-behind-the-winner
    behavior the reference gets for free from Postgres ON CONFLICT
    (loader_v2.py:158-207). Bounded: after ``max_retries`` lost races the
    last ConcurrentWriteError propagates.

    Returns the counters of the WINNING attempt, plus ``attempts``.
    """
    last_err: ConcurrentWriteError | None = None
    for attempt in range(1, max_retries + 2):  # first try + max_retries retries
        try:
            out = table.merge(source, keys, **merge_kwargs)
            out["attempts"] = attempt
            return out
        except ConcurrentWriteError as e:
            last_err = e
    raise last_err  # pragma: no cover — only under pathological contention


def changed_only(
    source: DataFrame, table: ParquetMergeTable, keys: Sequence[str], hash_col: str = "content_hash"
) -> DataFrame:
    """M4 filter-before-effect: rows of ``source`` whose (keys → hash) pair
    is NOT already in the table — the subset worth running expensive UDFs
    (embeddings, vision) on. Anti-join on (keys + hash)."""
    if not table.exists():
        return source
    existing = table.read().select(*keys, hash_col)
    return source.join(existing, on=[*keys, hash_col], how="left_anti")


def dedup_status_results(
    df: DataFrame, keys: Sequence[str], status_col: str, error_col: str
) -> DataFrame:
    """One row per key from a status-results frame, deterministically:
    FAILED reports win (never mark a job SYNCED when any attempt failed),
    ties break on status then error text. Guards the status write-back
    joins — a duplicate key would fan out queue rows and the rewritten
    snapshot would silently gain duplicates."""
    w = Window.partitionBy(*keys).orderBy(
        F.when(F.col(status_col) == "FAILED", F.lit(0)).otherwise(F.lit(1)),
        F.col(status_col),
        F.col(error_col).asc_nulls_last(),
    )
    return df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")


def diff_versions(
    table: ParquetMergeTable,
    old_version: str | int,
    new_version: str | int | None = None,
    keys: Sequence[str] = ("id",),
    hash_col: str | None = "content_hash",
) -> DataFrame:
    """Change data feed between two snapshots of a versioned table
    (Delta CDF's batch shape): one row per changed key with
    ``_change_type`` ∈ insert / update_preimage / update_postimage /
    delete, reading BOTH images so a consumer can apply or invert the
    delta. Unchanged rows are filtered before the explode, so output is
    proportional to the CHANGE set, not the table.

    Change detection is by ``hash_col`` when present (the engine's
    hash-gated merge convention — no wide column compare), else by a
    full-row comparison over the shared non-key columns.

    Scale shape: one full outer join on the merge keys (the two
    snapshots co-partition on the same key hash), then a per-row
    change-type classification and an explode of at most 2 rows per
    updated key. No shuffle beyond the join.
    """
    return diff_frames(
        table.read(old_version), table.read(new_version), keys, hash_col
    )


def diff_frames(
    old: DataFrame,
    new: DataFrame,
    keys: Sequence[str] = ("id",),
    hash_col: str | None = "content_hash",
) -> DataFrame:
    """The frame-level core of :func:`diff_versions`: CDF rows between
    two arbitrary images of a keyed table (manifest snapshots, Delta-log
    ``VERSION AS OF`` states, or any other pair). Same output contract:
    one ``_change_type`` row per change, update keys exploded to
    pre+post image."""
    if hash_col and hash_col in old.columns and hash_col in new.columns:
        cmp_old, cmp_new = F.col(f"o.{hash_col}"), F.col(f"n.{hash_col}")
    else:
        shared = [
            c for c in old.columns if c in set(new.columns) and c not in set(keys)
        ]
        cmp_old = F.struct(*[F.col(f"o.{c}") for c in shared])
        cmp_new = F.struct(*[F.col(f"n.{c}") for c in shared])
    cond = reduce(lambda a, b: a & b, [F.col(f"o.{k}").eqNullSafe(F.col(f"n.{k}")) for k in keys])
    j = old.alias("o").join(new.alias("n"), cond, "full_outer")
    key_present_new = F.col(f"n.{keys[0]}").isNotNull()
    key_present_old = F.col(f"o.{keys[0]}").isNotNull()
    change = (
        F.when(~key_present_old, F.lit("insert"))
        .when(~key_present_new, F.lit("delete"))
        .when(~cmp_old.eqNullSafe(cmp_new), F.lit("update"))
        .otherwise(F.lit(None))
    )
    changed = j.withColumn("_change", change).filter(F.col("_change").isNotNull())
    # updates explode to pre+post image; inserts/deletes carry one image
    images = F.when(
        F.col("_change") == "update", F.array(F.lit("update_preimage"), F.lit("update_postimage"))
    ).otherwise(F.array(F.col("_change")))
    exploded = changed.withColumn("_change_type", F.explode(images))
    use_new = F.col("_change_type").isin("insert", "update_postimage")
    out_cols = [
        F.when(use_new, F.col(f"n.{c}")).otherwise(F.col(f"o.{c}")).alias(c)
        for c in new.columns
    ]
    return exploded.select("_change_type", *out_cols)


def vacuum_tombstones(table, retention_ms: int | None = None, now_ms: int | None = None) -> list[str]:
    """Delta-spec VACUUM for either merge-table flavor: physically delete
    data files the LOG tombstoned longer ago than the retention window
    (default ``delta_log.TOMBSTONE_RETENTION_MS``, Delta's 7 days).

    This is the reclaim that the directory-level ``vacuum`` cannot do
    once stats-pruned merges exist: a carried (still-live) file keeps
    its whole directory alive indefinitely, so the dir-level vacuum can
    never collect that directory's superseded files — only file-level,
    log-driven deletion can. Live files are never touched.

    Like stock VACUUM, reclaiming truncates time travel: manifest
    history entries for any directory that lost a file are pruned in
    the same locked commit (a partially-vacuumed directory must never
    masquerade as a complete snapshot), and log ``VERSION AS OF`` reads
    older than the horizon fail loudly on the missing files. Returns
    the deleted relative paths.
    """
    if table.delta_log is None:
        raise ValueError(f"vacuum_tombstones needs a Delta log: {table.root}")
    now = int(time.time() * 1000) if now_ms is None else now_ms
    cutoff = now - (TOMBSTONE_RETENTION_MS if retention_ms is None else retention_ms)
    deleted: list[str] = []
    with table._commit_lock():
        state = table.delta_log.state()
        live = set(state["files"])
        for rel, ts in sorted(state["tombstones"].items()):
            if ts >= cutoff or rel in live:
                continue
            full = os.path.join(table.root, rel)
            if os.path.exists(full):
                os.unlink(full)
                deleted.append(rel)
        if deleted:
            touched_dirs = {rel.split("/", 1)[0] for rel in deleted}
            # drop now-empty version directories entirely
            for d in sorted(touched_dirs):
                with contextlib.suppress(OSError):  # not empty, or already gone
                    os.rmdir(os.path.join(table.root, d))
            # a dir that lost files is no longer a complete snapshot:
            # prune its manifest-history entries so time travel can only
            # resolve intact versions (live dirs are never pruned — live
            # files were excluded above)
            manifest = table._read_manifest()
            gone = touched_dirs - table._live_dirs(manifest)
            manifest["history"] = [e for e in manifest["history"] if _entry(e)[0] not in gone]
            table._write_manifest(manifest)
    return deleted


def fsck(table, remove_orphans: bool = False) -> dict:
    """FSCK for either merge-table flavor: audit the manifest against the
    directory tree (the maintenance op Delta ships as FSCK/VACUUM dry-run;
    reference counterpart is Postgres owning integrity outright,
    ``src/ETL_PROPERTIES/loader_v2.py`` — a file-backed table must earn it).

    Findings, never exceptions (a broken table is the expected input):

    * ``live_missing`` — the current snapshot / a live partition dir the
      manifest points at does not exist or holds no parquet: reads WILL
      fail; unrepairable here (restore from history or re-write).
    * ``history_missing`` — superseded versions whose dirs are gone
      (breaks time travel only). ``remove_orphans=True`` prunes these
      entries from the manifest so history matches disk.
    * ``orphans`` — ``v_*``/``p_*``/``c_*`` dirs on disk the manifest has
      never heard of (crashed writers park data there: snapshots are
      written BEFORE the manifest commit, and a partitioned merge that
      died between its write and its renames leaves a ``p_stage_*``
      dir). ``remove_orphans=True`` deletes them.
    * ``stale_lock`` — a ``COMMIT_LOCK`` older than 60s (the lock-wait
      deadline: any live committer would have timed out by now);
      ``remove_orphans=True`` unlinks it.

    Repairs run under the commit lock (the stale lock, if any, is removed
    first — that is the one mutation that cannot take the lock). Returns
    ``{"ok": bool, findings..., "removed": [...]}``.
    """
    root = table.root
    manifest = table._read_manifest()
    live = table._live_dirs(manifest)
    history = {_entry(e)[0] for e in manifest["history"]}
    live_missing = sorted(d for d in live if not table._parquet_files(d))
    history_missing = sorted(d for d in history - live if not table._parquet_files(d))
    known = history | live
    orphans = sorted(
        d
        for d in os.listdir(root)
        if d.startswith(table._ORPHAN_PREFIXES) and os.path.isdir(os.path.join(root, d))
        and d not in known
    )
    lock_path = os.path.join(root, "COMMIT_LOCK")
    stale_lock = (
        os.path.exists(lock_path) and time.time() - os.path.getmtime(lock_path) > 60.0
    )

    removed: list[str] = []
    if remove_orphans and (orphans or history_missing or stale_lock):
        if stale_lock:
            os.unlink(lock_path)
            removed.append("COMMIT_LOCK")
            stale_lock = False
        with table._commit_lock():
            manifest = table._read_manifest()  # re-read under the lock
            gone = set(history_missing)
            manifest["history"] = [e for e in manifest["history"] if _entry(e)[0] not in gone]
            table._write_manifest(manifest)
            removed.extend(sorted(gone))
            for d in orphans:
                shutil.rmtree(os.path.join(root, d), ignore_errors=True)
                removed.append(d)
        history_missing, orphans = [], []

    return {
        "ok": not (live_missing or history_missing or orphans or stale_lock),
        "live_missing": live_missing,
        "history_missing": history_missing,
        "orphans": orphans,
        "stale_lock": stale_lock,
        "removed": removed,
    }
