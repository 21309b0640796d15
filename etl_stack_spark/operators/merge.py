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
import time
from collections.abc import Sequence
from functools import reduce

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, Observation, Row, SparkSession, Window
from pyspark.sql import functions as F

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
    Each carries ``_rows`` (source rows) and, with ``partition_col``,
    the partition value and ``_mn_<k>``/``_mx_<k>`` bounds of every
    other key (the stats-pruning input)."""
    null_key = reduce(lambda a, b: a | b, [F.col(k).isNull() for k in keys])
    per_key = source.groupBy(*keys).agg(F.count(F.lit(1)).alias("_n"))
    aggs = [
        F.sum("_n").alias("_rows"),
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
    update_condition: Column | None,
    soft_delete_scope: Column | None,
    status_col: str,
    deleted_value: str,
) -> DataFrame:
    """The MERGE classification core (shared by the whole-table and the
    partition-scoped tables): full-outer join on keys, per-row action in
    ``_action`` ∈ insert/update/unchanged/keep/soft_delete, columns
    resolved source-vs-target accordingly. ``src`` must already be
    aligned to ``target``'s column set."""
    # presence flags, not key null-ness: a legacy null-keyed row already
    # IN the target (e.g. via append) must still classify as "keep",
    # not collapse into an all-null phantom
    t = target.withColumn("_t_present", F.lit(True)).alias("t")
    s = src.withColumn("_s_present", F.lit(True)).alias("s")
    cond = None
    for k in keys:
        piece = F.col(f"t.{k}") == F.col(f"s.{k}")
        cond = piece if cond is None else (cond & piece)
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


def _footer_stats(full_path: str) -> str | None:
    from etl_stack_spark.operators.delta_log import file_stats

    return file_stats(full_path)


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
    intersect."""
    if not stats_json or not bounds:
        return None
    s = json.loads(stats_json) if isinstance(stats_json, str) else stats_json
    n = s.get("numRecords")
    if n is None:
        return None
    mins, maxs = s.get("minValues", {}), s.get("maxValues", {})
    for k, (lo, hi) in bounds.items():
        fmn, fmx = mins.get(k), maxs.get(k)
        if fmn is None or fmx is None or lo is None or hi is None:
            continue
        if not (_stat_comparable(fmn, lo) and _stat_comparable(fmx, hi)):
            continue
        if fmx < lo or fmn > hi:
            return n
    return None


class ParquetMergeTable:
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

    def __init__(self, spark: SparkSession, root: str, delta_log: bool = False):
        from etl_stack_spark.operators.delta_log import DeltaLog

        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)
        if delta_log or os.path.isdir(os.path.join(root, "_delta_log")):
            self.delta_log: DeltaLog | None = DeltaLog(root)
        else:
            self.delta_log = None

    # -- snapshot plumbing --------------------------------------------------
    @property
    def _manifest_path(self) -> str:
        return os.path.join(self.root, "MANIFEST.json")

    def _read_manifest(self) -> dict:
        if not os.path.exists(self._manifest_path):
            return {"current": None, "history": []}
        with open(self._manifest_path) as f:
            return json.load(f)

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
        state = self.delta_log.state()
        keep = []
        for rel in sorted(state["files"]):
            info = state["files"][rel]
            stats = info.get("stats")
            s = json.loads(stats) if isinstance(stats, str) else (stats or {})
            mins, maxs = s.get("minValues", {}), s.get("maxValues", {})
            skip = False
            for col, (lo, hi) in bounds.items():
                mn, mx = mins.get(col), maxs.get(col)
                if mn is None or mx is None:
                    continue  # no stat → can't prove exclusion
                if (hi is not None and mn > hi) or (lo is not None and mx < lo):
                    skip = True
                    break
            if not skip:
                keep.append(rel)
        return keep, len(state["files"])

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
        from pyspark.sql.types import StructType

        keep, _total = self.prune_files(bounds)
        if not keep:
            schema = StructType.fromJson(
                json.loads(self.delta_log.state()["schema_string"])
            )
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
        with self._commit_lock():
            manifest = self._read_manifest()
            if expected_version is not _UNCHECKED and manifest["current"] != expected_version:
                import shutil

                shutil.rmtree(path, ignore_errors=True)
                raise ConcurrentWriteError(
                    f"table advanced from {expected_version!r} to "
                    f"{manifest['current']!r} during the transaction; retry"
                )
            manifest["history"].append(version)
            manifest["current"] = version
            tmp = self._manifest_path + ".tmp"
            with open(tmp, "w") as f:
                json.dump(manifest, f)
            os.replace(tmp, self._manifest_path)  # atomic pointer swap
            if self.delta_log is not None:
                # inside the lock: log versions serialize with manifest
                # swaps (the put-if-absent the Delta protocol requires)
                from etl_stack_spark.operators.delta_log import (
                    snapshot_parquet_files,
                )

                self.delta_log.commit(
                    snapshot_parquet_files(self.root, version),
                    df.schema.json(),
                    operation=operation,
                )
        # snapshots are immutable: the first read of this one infers nothing
        remember_parquet_schema(self.spark, path, df.schema)
        return version

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
        2. One classify-and-write pass writes the new snapshot. Its
           action counters are observed on that write
           (``DataFrame.observe``) and read after it, so there is no
           cached snapshot and no separate counting job. On the table's
           first write the counters come from the validation aggregate.

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
        with _persisted(source):
            (check,) = _validate_source(source, keys)
            base_version = self.current_version()
            if base_version is None:
                out = source
                if audit_ts_col and audit_ts_col not in source.columns:
                    out = out.withColumn(audit_ts_col, F.current_timestamp())
                # expected None: two concurrent creators conflict instead of
                # one silently shadowing the other's snapshot
                self._write_snapshot(out, expected_version=None)
                return {"inserted": check["_rows"] or 0, "updated": 0, "unchanged": 0, "soft_deleted": 0}

            target = self.read(base_version)
            src = source
            if audit_ts_col and audit_ts_col not in src.columns:
                src = src.withColumn(audit_ts_col, F.current_timestamp())
            target, src = _align_source(target, src, audit_ts_col, on_extra_columns)
            if soft_delete_scope_keys is not None:
                if soft_delete_scope is not None:
                    raise ValueError(
                        "pass soft_delete_scope OR soft_delete_scope_keys, not both"
                    )
                marker = (
                    soft_delete_scope_keys.distinct().withColumn("_scope", F.lit(True))
                )
                target = target.join(
                    F.broadcast(marker), list(soft_delete_scope_keys.columns), "left"
                )
                soft_delete_scope = F.col("t._scope").isNotNull()

            merged = _classify_merge(
                target, src, keys, hash_col, update_condition,
                soft_delete_scope, status_col, deleted_value,
            )
            # the action counters ride the write itself: no cached
            # snapshot, no separate counting job
            obs = Observation()
            action = F.col("_action")
            observed = merged.observe(
                obs, *[F.count_if(action == a).alias(a) for a in _ACTIONS]
            )
            self._write_snapshot(observed.drop("_action"), expected_version=base_version, operation="MERGE")
            counts = obs.get
        return {
            "inserted": counts["insert"],
            "updated": counts["update"],
            "unchanged": counts["unchanged"] + counts["keep"],
            "soft_deleted": counts["soft_delete"],
        }

    # -- DELETE (M6/M7) -----------------------------------------------------
    def delete_where(self, predicate: Column) -> int:
        """Delete rows matching the predicate (e.g. chunk purge by
        ``content_id LIKE 'x_part_%'`` — M6/M7)."""
        base_version = self.current_version()
        target = self.read(base_version)
        keep = target.filter(~predicate)
        n = target.count() - keep.count()
        self._write_snapshot(keep, expected_version=base_version, operation="DELETE")
        return n

    def vacuum(self, keep_last: int = 2) -> list[str]:
        """Drop snapshot directories older than the last ``keep_last``
        versions (the emulation's answer to Delta VACUUM). The manifest is
        rewritten first, so a concurrent reader of the current version
        never loses its snapshot."""
        import shutil

        with self._commit_lock():
            manifest = self._read_manifest()
            history = manifest["history"]
            to_drop = [v for v in history[:-keep_last] if v != manifest["current"]]
            manifest["history"] = [v for v in history if v not in to_drop]
            tmp = self._manifest_path + ".tmp"
            with open(tmp, "w") as f:
                json.dump(manifest, f)
            os.replace(tmp, self._manifest_path)
        for v in to_drop:
            forget_parquet_schema(os.path.join(self.root, v))
            shutil.rmtree(os.path.join(self.root, v), ignore_errors=True)
        return to_drop

    def append(self, df: DataFrame) -> None:
        base_version = self.current_version()
        if base_version is not None:
            self._write_snapshot(
                self.read(base_version).unionByName(df, allowMissingColumns=True),
                expected_version=base_version,
            )
        else:
            self._write_snapshot(df, expected_version=None)


class PartitionedMergeTable:
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
    reads need no reconstruction.
    """

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        partition_col: str,
        delta_log: bool = False,
    ):
        from etl_stack_spark.operators.delta_log import DeltaLog

        self.spark = spark
        self.root = root
        self.partition_col = partition_col
        os.makedirs(root, exist_ok=True)
        # same stickiness rule as ParquetMergeTable: an existing log keeps
        # appending even when reopened without the flag
        if delta_log or os.path.isdir(os.path.join(root, "_delta_log")):
            self.delta_log: DeltaLog | None = DeltaLog(root)
        else:
            self.delta_log = None

    def _log_commit(self, manifest: dict, operation: str) -> None:
        """Emit one Delta commit for the table's CURRENT live state —
        called inside the commit lock, after the manifest swap. Add
        actions carry partitionValues ({partition_col: value}), so a
        stock reader sees a properly partitioned Delta table; commit()
        diffs against the replayed state, so only the FILES a merge
        actually rewrote produce actions (untouched partitions — and,
        with stats pruning, untouched files inside a touched
        partition — are already live)."""
        from etl_stack_spark.operators.delta_log import live_files_payload

        self.delta_log.commit(
            live_files_payload(
                self.root,
                {v: self._live_files(manifest, v) for v in manifest["parts"]},
                self.partition_col,
            ),
            json.dumps(manifest.get("schema") or {}),
            operation=operation,
            partition_columns=[self.partition_col],
        )

    _manifest_path = ParquetMergeTable._manifest_path
    _commit_lock = ParquetMergeTable._commit_lock

    def _read_manifest(self) -> dict:
        if not os.path.exists(self._manifest_path):
            return {"partition_col": self.partition_col, "parts": {}, "history": []}
        with open(self._manifest_path) as f:
            return json.load(f)

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
        if d is None:
            return []
        return [
            f"{d}/{f}"
            for f in sorted(os.listdir(os.path.join(self.root, d)))
            if f.endswith(".parquet")
        ]

    def read(self, part_values: Sequence[object] | None = None) -> DataFrame:
        """Read the whole table, or only the named partitions — the
        partition-pruned path a per-client/per-day job takes.

        Reads with ``mergeSchema`` and projects to the manifest-recorded
        table schema: after ``on_extra_columns='evolve'`` only the touched
        partitions carry the widened schema, and a plain parquet read
        would silently drop the evolved column (ADVICE r4). Partitions
        written before the evolve surface the new column as NULL — the
        Delta table-schema semantics.
        """
        manifest = self._read_manifest()
        parts = manifest["parts"]
        if not parts:
            raise FileNotFoundError(f"no partitions in {self.root}")
        if part_values is not None:
            selected = [str(v) for v in part_values if str(v) in parts]
        else:
            selected = list(parts)
        if not selected:
            raise FileNotFoundError(f"no matching partitions in {self.root}")
        paths = [
            os.path.join(self.root, rel)
            for v in selected
            for rel in self._live_files(manifest, v)
        ]
        df = self.spark.read.option("mergeSchema", "true").parquet(*paths)
        schema_json = manifest.get("schema")
        if schema_json:
            from pyspark.sql.types import StructType

            table_schema = StructType.fromJson(schema_json)
            df = df.select(
                *[
                    F.col(f.name) if f.name in df.columns
                    else F.lit(None).cast(f.dataType).alias(f.name)
                    for f in table_schema.fields
                ]
            )
        return df

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

        ``cluster_by`` (optional): range-cluster each rewritten
        partition's rows on these columns into ``cluster_files`` files
        (repartitionByRange + sortWithinPartitions) — the write-side
        clustering that makes future merges' stats pruning tight, Delta's
        OPTIMIZE-ZORDER-at-write analog for one dimension.

        Pass structure: the source is persisted once (released on exit,
        also when the merge raises). One validation aggregate, grouped by
        partition, rejects NULL or duplicate keys before anything is
        written and also returns the affected partitions and their key
        bounds. The classified frame is then cached, counted and written
        once per affected partition.

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
            nonpart_keys = [k for k in keys if k != pcol]
            src_bounds = {
                str(r[pcol]): {k: (r[f"_mn_{k}"], r[f"_mx_{k}"]) for k in nonpart_keys}
                for r in checked
            }

            target_files: list[str] = []
            carry: dict[str, list[str]] = {}
            carried_rows = 0
            files_pruned = 0
            log_stats = (
                {
                    rel: info.get("stats")
                    for rel, info in self.delta_log.state()["files"].items()
                }
                if self.delta_log is not None
                else {}
            )
            for v in affected:
                sv = str(v)
                live = self._live_files(base, sv) if read_versions.get(sv) else []
                carry[sv] = []
                bounds = src_bounds.get(sv, {})
                for rel in live:
                    n_skip = _prunable_rows(
                        log_stats.get(rel) or _footer_stats(os.path.join(self.root, rel)),
                        bounds,
                    )
                    if n_skip is None:
                        target_files.append(rel)
                    else:
                        carry[sv].append(rel)
                        carried_rows += n_skip
                        files_pruned += 1

            if target_files:
                target = self.spark.read.option("mergeSchema", "true").parquet(
                    *[os.path.join(self.root, rel) for rel in target_files]
                )
            else:
                target = None

            src = source
            if audit_ts_col and audit_ts_col not in src.columns:
                src = src.withColumn(audit_ts_col, F.current_timestamp())
            if target is None:
                merged = src.withColumn("_action", F.lit("insert"))
            else:
                target, src = _align_source(target, src, audit_ts_col, on_extra_columns)
                merged = _classify_merge(
                    target, src, keys, hash_col, None, None, "status", "deleted"
                )
            merged = merged.cache()
            try:
                counts = {
                    r["_action"]: r["n"]
                    for r in merged.groupBy("_action").agg(F.count(F.lit(1)).alias("n")).collect()
                }
                # one new directory per affected partition, written lock-free
                new_dirs: dict[str, str] = {}
                stamp = _unique_stamp()
                for i, v in enumerate(affected):
                    d = f"p_{i}_{stamp}"
                    part = merged.filter(F.col(pcol) == F.lit(v)).drop("_action")
                    if cluster_by:
                        part = part.repartitionByRange(
                            cluster_files, *[F.col(c) for c in cluster_by]
                        ).sortWithinPartitions(*cluster_by)
                    part.write.mode("overwrite").parquet(os.path.join(self.root, d))
                    new_dirs[str(v)] = d
            finally:
                merged.unpersist()

        with self._commit_lock():
            manifest = self._read_manifest()
            for v, expected in read_versions.items():
                if manifest["parts"].get(v) != expected:
                    import shutil

                    for d in new_dirs.values():
                        shutil.rmtree(os.path.join(self.root, d), ignore_errors=True)
                    raise ConcurrentWriteError(
                        f"partition {v!r} advanced from {expected!r} to "
                        f"{manifest['parts'].get(v)!r} during the transaction; retry"
                    )
            manifest["parts"].update(new_dirs)
            # file-granular live set: carried (pruned) files stay live in
            # their old directories; only rewritten files point at the
            # new directory. The conflict check above guarantees the
            # carried paths are still live (the partition has not moved).
            files_map = manifest.setdefault("files", {})
            rewritten_files = 0
            for v, d in new_dirs.items():
                new_rels = [
                    f"{d}/{f}"
                    for f in sorted(os.listdir(os.path.join(self.root, d)))
                    if f.endswith(".parquet")
                ]
                rewritten_files += len(new_rels)
                files_map[v] = carry.get(v, []) + new_rels
            # history entries record their partition so vacuum can retain
            # per-partition; legacy manifests may hold bare dir strings
            manifest["history"].extend(
                {"dir": d, "part": v} for v, d in new_dirs.items()
            )
            # table-level schema: the source of truth read() projects to,
            # so an evolved column survives mixed-schema partition dirs.
            # Union with the recorded schema — a later merge touching only
            # un-evolved partitions must not narrow the table schema.
            new_schema = merged.drop("_action").schema
            prior = manifest.get("schema")
            if prior:
                from pyspark.sql.types import StructType

                prior_schema = StructType.fromJson(prior)
                known = {f.name for f in prior_schema.fields}
                for f in new_schema.fields:
                    if f.name not in known:
                        prior_schema.add(f)
                new_schema = prior_schema
            manifest["schema"] = new_schema.jsonValue()
            tmp = self._manifest_path + ".tmp"
            with open(tmp, "w") as f:
                json.dump(manifest, f)
            os.replace(tmp, self._manifest_path)
            if self.delta_log is not None:
                self._log_commit(manifest, "MERGE")
        return {
            "inserted": counts.get("insert", 0),
            "updated": counts.get("update", 0),
            # carried rows were proven untouchable by stats, so they are
            # exactly the rows the un-pruned merge would have classified
            # "keep" — counters stay identical with pruning on
            "unchanged": counts.get("unchanged", 0) + counts.get("keep", 0) + carried_rows,
            "soft_deleted": 0,
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
        import shutil

        manifest = self._read_manifest()
        parts = manifest["parts"]
        selected = (
            {str(v): parts[str(v)] for v in part_values if str(v) in parts}
            if part_values is not None
            else dict(parts)
        )
        plan: dict[str, tuple[str, int]] = {}
        live_rels: dict[str, list[str]] = {}
        for v, d in selected.items():
            rels = self._live_files(manifest, v)
            if len(rels) > min_files:
                plan[v] = (d, len(rels))
                live_rels[v] = rels
        if not plan:
            return {"compacted": {}, "skipped": []}

        stamp = _unique_stamp()
        new_dirs: dict[str, str] = {}
        for i, (v, (d, _)) in enumerate(plan.items()):
            nd = f"c_{i}_{stamp}"
            # read the partition's live FILES (they may span directories
            # after stats-pruned merges), consolidate into one dir
            self.spark.read.option("mergeSchema", "true").parquet(
                *[os.path.join(self.root, rel) for rel in live_rels[v]]
            ).coalesce(target_files_per_partition).write.mode("overwrite").parquet(
                os.path.join(self.root, nd)
            )
            new_dirs[v] = nd

        compacted: dict[str, int] = {}
        skipped: list[str] = []
        with self._commit_lock():
            manifest = self._read_manifest()
            for v, nd in new_dirs.items():
                read_dir, n_files = plan[v]
                if manifest["parts"].get(v) != read_dir:  # advanced mid-rewrite
                    shutil.rmtree(os.path.join(self.root, nd), ignore_errors=True)
                    skipped.append(v)
                    continue
                manifest["parts"][v] = nd
                # compaction re-consolidates the file-granular live set
                manifest.setdefault("files", {})[v] = [
                    f"{nd}/{f}"
                    for f in sorted(os.listdir(os.path.join(self.root, nd)))
                    if f.endswith(".parquet")
                ]
                manifest["history"].append({"dir": nd, "part": v})
                compacted[v] = n_files
            tmp = self._manifest_path + ".tmp"
            with open(tmp, "w") as f:
                json.dump(manifest, f)
            os.replace(tmp, self._manifest_path)
            if self.delta_log is not None and compacted:
                self._log_commit(manifest, "OPTIMIZE")
        return {"compacted": compacted, "skipped": skipped}

    def vacuum(self, keep_last: int = 2) -> list[str]:
        """Drop superseded partition-version directories, keeping the
        ``keep_last`` most recent history entries PER PARTITION plus
        everything currently referenced (``keep_last=0`` keeps only the
        live versions). Retention is per partition value so a busy
        partition cannot evict a quiet partition's retained versions
        (ADVICE r4). Mirrors the whole-table vacuum: manifest rewrites
        first under the commit lock, directories are removed after, so a
        concurrent reader of a live partition never loses it."""
        import shutil

        with self._commit_lock():
            manifest = self._read_manifest()
            live = set(manifest["parts"].values())
            # stats-pruned merges carry files in superseded directories:
            # any dir still referenced by the file-granular live set is
            # live, whatever its history age
            for rels in manifest.get("files", {}).values():
                for rel in rels:
                    live.add(rel.split("/", 1)[0])
            history = manifest["history"]
            # entries are {"dir", "part"} dicts; legacy manifests hold bare
            # dir strings with no partition association — group those as one
            by_part: dict[object, list[str]] = {}
            for entry in history:
                d = entry["dir"] if isinstance(entry, dict) else entry
                p = entry.get("part") if isinstance(entry, dict) else None
                by_part.setdefault(p, []).append(d)
            to_drop = [
                d
                for dirs in by_part.values()
                for d in (dirs[:-keep_last] if keep_last else dirs)
                if d not in live
            ]
            dropped = set(to_drop)
            manifest["history"] = [
                e
                for e in history
                if (e["dir"] if isinstance(e, dict) else e) not in dropped
            ]
            tmp = self._manifest_path + ".tmp"
            with open(tmp, "w") as f:
                json.dump(manifest, f)
            os.replace(tmp, self._manifest_path)
        for d in to_drop:
            shutil.rmtree(os.path.join(self.root, d), ignore_errors=True)
        return to_drop


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
    on = [F.col(f"o.{k}").eqNullSafe(F.col(f"n.{k}")) for k in keys]
    cond = on[0]
    for c in on[1:]:
        cond = cond & c
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
    from etl_stack_spark.operators.delta_log import TOMBSTONE_RETENTION_MS

    if table.delta_log is None:
        raise ValueError(f"vacuum_tombstones needs a Delta log: {table.root}")
    retention = TOMBSTONE_RETENTION_MS if retention_ms is None else retention_ms
    now = int(time.time() * 1000) if now_ms is None else now_ms
    cutoff = now - retention
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
                dd = os.path.join(table.root, d)
                try:
                    if os.path.isdir(dd) and not os.listdir(dd):
                        os.rmdir(dd)
                except OSError:  # pragma: no cover — concurrent cleanup
                    pass
            # a dir that lost files is no longer a complete snapshot:
            # prune its manifest-history entries so time travel can only
            # resolve intact versions (live pointers are never pruned —
            # live files were excluded above)
            manifest = table._read_manifest()
            manifest["history"] = [
                e
                for e in manifest["history"]
                if (e["dir"] if isinstance(e, dict) else e) not in touched_dirs
                or (e["dir"] if isinstance(e, dict) else e) in set(
                    manifest.get("parts", {}).values()
                )
                or (e if isinstance(e, str) else e["dir"]) == manifest.get("current")
            ]
            tmp = table._manifest_path + ".tmp"
            with open(tmp, "w") as f:
                json.dump(manifest, f)
            os.replace(tmp, table._manifest_path)
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
    * ``orphans`` — ``v_*``/``p_*`` dirs on disk the manifest has never
      heard of (crashed writers park data there: snapshots are written
      BEFORE the manifest commit). ``remove_orphans=True`` deletes them.
    * ``stale_lock`` — a ``COMMIT_LOCK`` older than 60s (the lock-wait
      deadline: any live committer would have timed out by now);
      ``remove_orphans=True`` unlinks it.

    Repairs run under the commit lock (the stale lock, if any, is removed
    first — that is the one mutation that cannot take the lock). Returns
    ``{"ok": bool, findings..., "removed": [...]}``.
    """
    import shutil

    root = table.root
    manifest = table._read_manifest()
    if "parts" in manifest:
        live = dict(manifest["parts"])
        # dirs referenced by the file-granular live set (stats-pruned
        # merges carry files in superseded dirs) are live too
        for v, rels in manifest.get("files", {}).items():
            for rel in rels:
                live[f"file:{rel}"] = rel.split("/", 1)[0]
        history = [
            (e["dir"] if isinstance(e, dict) else e) for e in manifest["history"]
        ]
        # p_ = merge-written partition versions, c_ = compaction rewrites:
        # a compactor that died between data write and manifest swap parks
        # a c_ dir no manifest knows — it must be orphan-collectable too
        prefix: tuple[str, ...] = ("p_", "c_")
    else:
        live = {"current": manifest["current"]} if manifest["current"] else {}
        history = list(manifest["history"])
        prefix = ("v_",)

    def has_parquet(d: str) -> bool:
        p = os.path.join(root, d)
        return os.path.isdir(p) and any(
            f.endswith(".parquet") for f in os.listdir(p)
        )

    live_missing = sorted(d for d in live.values() if not has_parquet(d))
    history_missing = sorted(
        d for d in set(history) - set(live.values()) if not has_parquet(d)
    )
    known = set(history) | set(live.values())
    orphans = sorted(
        d
        for d in os.listdir(root)
        if d.startswith(prefix) and os.path.isdir(os.path.join(root, d))
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
            if "parts" in manifest:
                manifest["history"] = [
                    e
                    for e in manifest["history"]
                    if (e["dir"] if isinstance(e, dict) else e) not in gone
                ]
            else:
                manifest["history"] = [d for d in manifest["history"] if d not in gone]
            tmp = table._manifest_path + ".tmp"
            with open(tmp, "w") as f:
                json.dump(manifest, f)
            os.replace(tmp, table._manifest_path)
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
