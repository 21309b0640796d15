"""Delta Lake transaction log writer — the PUBLIC protocol format
(delta-io PROTOCOL.md), emitted alongside the manifest of either merge
table (``ParquetMergeTable``, ``PartitionedMergeTable``) so the table is
loadable by any stock Delta reader.

What this is: the merge layer already implements Delta's SEMANTICS
(hash-gated MERGE, optimistic concurrency, time travel, vacuum) against
its own manifest pointer; this module adds the INTEROP layer — after
every committed snapshot it appends a Delta commit to
``<root>/_delta_log/``:

    00000000000000000000.json      ← one JSON action per line
    00000000000000000001.json
    ...
    0000000000000000000N.checkpoint.parquet   ← every CHECKPOINT_INTERVAL
    _last_checkpoint                           ← {"version": N, "size": M}

Actions per the spec: ``protocol`` (minReader 1 / minWriter 2),
``metaData`` (id, format, schemaString = Spark StructType JSON — the
exact payload Delta itself stores — partitionColumns, configuration,
createdTime), ``add`` (relative path, size, modificationTime,
dataChange), ``remove`` (tombstone for every file of the previous
snapshot — each commit is a full-snapshot replace, so the live file set
is always exactly the newest ``v_*`` directory), ``commitInfo``
(operation + engine tag). The checkpoint parquet holds the replayed
state (protocol + metaData with the table's real partitionColumns +
live adds + remove tombstones still inside ``TOMBSTONE_RETENTION_MS``;
only tombstones PAST their retention are dropped, per the spec — a
stock incremental reader or VACUUM replaying from the checkpoint must
still see fresh removes).

Reference counterpart: the transactional Postgres loader at
/root/reference/src/ETL_PROPERTIES/loader_v2.py:188 — its COMMIT is the
reference's durability story; this log is the lakehouse equivalent, in
the one open format every engine (Spark, Trino, DuckDB delta ext,
polars) can read.

100 TB notes: the log write is O(files in snapshot) driver-side JSON —
the data files themselves are untouched (they are ALREADY the table).
Checkpoints bound replay cost for long-lived tables; a streaming sink
committing every micro-batch reads the last checkpoint + ≤INTERVAL
JSON files, never the full history.
"""

from __future__ import annotations

import json
import os
import time
import uuid

CHECKPOINT_INTERVAL = 10
PROTOCOL = {"minReaderVersion": 1, "minWriterVersion": 2}
# Delta's default deletedFileRetentionDuration (1 week): remove
# tombstones younger than this survive into checkpoints
TOMBSTONE_RETENTION_MS = 7 * 24 * 3600 * 1000


def _version_fname(version: int) -> str:
    return f"{version:020d}.json"


class DeltaLog:
    """Append-only Delta transaction log for a snapshot-replace table.

    The caller (the commit both merge tables share, ``_commit`` in
    operators/merge.py) invokes :meth:`commit` INSIDE its commit lock,
    so log versions are serialized by the same mutex that serializes
    manifest swaps — the put-if-absent the spec requires."""

    def __init__(self, table_root: str):
        self.table_root = table_root
        self.log_dir = os.path.join(table_root, "_delta_log")

    # -- replay ------------------------------------------------------------
    def versions(self) -> list[int]:
        if not os.path.isdir(self.log_dir):
            return []
        out = []
        for f in os.listdir(self.log_dir):
            if f.endswith(".json") and len(f) == 25:
                out.append(int(f[:20]))
        return sorted(out)

    def _actions(self, version: int) -> list[dict]:
        """The actions of one JSON commit, in file order."""
        with open(os.path.join(self.log_dir, _version_fname(version))) as f:
            return [json.loads(line) for line in f if line.strip()]

    def data_changes(self, version: int) -> tuple[list[str], list[str]]:
        """(added, removed) relative paths of one commit's data-changing
        actions — what a streaming reader of that version consumes.
        OPTIMIZE commits carry ``dataChange: false`` and yield neither."""
        adds: list[str] = []
        removes: list[str] = []
        for action in self._actions(version):
            for kind, out in (("add", adds), ("remove", removes)):
                a = action.get(kind)
                if a and a.get("dataChange", True):
                    out.append(a["path"])
        return adds, removes

    def schema_string(self) -> str:
        """The newest ``metaData.schemaString``, scanning commits newest-
        first (cheap: metaData appears in commit 0 and on schema
        changes)."""
        for v in reversed(self.versions()):
            for action in self._actions(v):
                if "metaData" in action:
                    return action["metaData"]["schemaString"]
        raise FileNotFoundError(f"no metaData action found under {self.log_dir}")

    def _last_checkpoint(self) -> dict | None:
        # Delta protocol names the pointer `_last_checkpoint` (lowercase);
        # tables written before r10 used `_LAST_CHECKPOINT` — read both so
        # pre-bump tables stay loadable (write side emits lowercase only).
        for name in ("_last_checkpoint", "_LAST_CHECKPOINT"):
            p = os.path.join(self.log_dir, name)
            if os.path.exists(p):
                with open(p) as f:
                    return json.load(f)
        return None

    def state(self, as_of: int | None = None) -> dict:
        """Replay the log: {"version": int | None, "schema_string": str,
        "files": {relative_path: {"size": int, "modificationTime": int}},
        "metadata_id": str, "partition_columns": [str],
        "tombstones": {relative_path: deletionTimestamp_ms}}. Reads the
        newest checkpoint (if any) then applies the JSON commits after
        it — the stock reader algorithm. Tombstones carry forward so a
        checkpoint can retain fresh removes; a re-add of a tombstoned
        path supersedes the tombstone (spec reconciliation rule).

        ``as_of`` = Delta's ``VERSION AS OF``: replay stops at that log
        version (the checkpoint is used only when ≤ the target, exactly
        as a stock reader picks the newest checkpoint not past it).
        Time travel resolves only while the versioned data files still
        exist — vacuum truncates it, standard Delta retention behavior."""
        live: dict[str, dict] = {}
        tombstones: dict[str, int] = {}
        schema_string = None
        metadata_id = None
        partition_columns: list[str] = []
        start = 0
        ckpt = self._last_checkpoint()
        if ckpt is not None and as_of is not None and ckpt["version"] > as_of:
            ckpt = None  # checkpoint is past the target: replay JSONs from 0
        if ckpt is not None:
            import pyarrow.parquet as pq

            t = pq.read_table(
                os.path.join(
                    self.log_dir, f"{ckpt['version']:020d}.checkpoint.parquet"
                )
            ).to_pylist()
            for row in t:
                if row.get("metaData") and row["metaData"].get("schemaString"):
                    schema_string = row["metaData"]["schemaString"]
                    metadata_id = row["metaData"]["id"]
                    partition_columns = list(
                        row["metaData"].get("partitionColumns") or []
                    )
                if row.get("add") and row["add"].get("path"):
                    a = row["add"]
                    live[a["path"]] = {
                        "size": a["size"],
                        "modificationTime": a["modificationTime"],
                        "stats": a.get("stats"),
                        "partitionValues": a.get("partitionValues") or {},
                    }
                if row.get("remove") and row["remove"].get("path"):
                    r = row["remove"]
                    tombstones[r["path"]] = r.get("deletionTimestamp") or 0
            start = ckpt["version"] + 1
        versions = [
            v
            for v in self.versions()
            if v >= start and (as_of is None or v <= as_of)
        ]
        for v in versions:
            for action in self._actions(v):
                if "metaData" in action:
                    schema_string = action["metaData"]["schemaString"]
                    metadata_id = action["metaData"]["id"]
                    partition_columns = list(
                        action["metaData"].get("partitionColumns") or []
                    )
                elif "add" in action:
                    a = action["add"]
                    live[a["path"]] = {
                        "size": a["size"],
                        "modificationTime": a["modificationTime"],
                        "stats": a.get("stats"),
                        "partitionValues": a.get("partitionValues") or {},
                    }
                    tombstones.pop(a["path"], None)
                elif "remove" in action:
                    r = action["remove"]
                    live.pop(r["path"], None)
                    tombstones[r["path"]] = r.get("deletionTimestamp") or 0
        all_versions = [
            v for v in self.versions() if as_of is None or v <= as_of
        ]
        return {
            "version": all_versions[-1] if all_versions else None,
            "schema_string": schema_string,
            "files": live,
            "metadata_id": metadata_id,
            "partition_columns": partition_columns,
            "tombstones": tombstones,
        }

    # -- commit ------------------------------------------------------------
    def commit(
        self,
        snapshot_files: list[tuple],
        schema_string: str,
        operation: str,
        partition_columns: list[str] | None = None,
    ) -> int:
        """Append one commit: tombstone the previous snapshot's files,
        add ``snapshot_files`` (relative path, size, mtime_ms[, stats
        JSON string or None[, partitionValues dict or None]]). The file
        list is the FULL live set — adds/removes derive from the diff
        against the replayed state, so both whole-snapshot tables and
        partition-scoped tables use the same call. Returns the committed
        log version. Caller holds the table commit lock."""
        os.makedirs(self.log_dir, exist_ok=True)
        prev = self.state()
        version = 0 if prev["version"] is None else prev["version"] + 1
        now = int(time.time() * 1000)

        actions: list[dict] = [
            {
                "commitInfo": {
                    "timestamp": now,
                    "operation": operation,
                    "operationParameters": {},
                    "engineInfo": "etl-stack-spark ParquetMergeTable",
                }
            }
        ]
        if version == 0:
            actions.append({"protocol": dict(PROTOCOL)})
        # None = caller didn't restate partitioning: inherit the replayed
        # value so a whole-snapshot commit on a partitioned table can
        # never silently strip partitionColumns from the metadata
        pcols = (
            list(partition_columns)
            if partition_columns is not None
            else list(prev["partition_columns"])
        )
        if (
            version == 0
            or prev["schema_string"] != schema_string
            or prev["partition_columns"] != pcols
        ):
            actions.append(
                {
                    "metaData": {
                        # id is the table's identity: minted once, stable
                        # across schema evolution commits
                        "id": prev["metadata_id"] or str(uuid.uuid4()),
                        "format": {"provider": "parquet", "options": {}},
                        "schemaString": schema_string,
                        "partitionColumns": pcols,
                        "configuration": {},
                        "createdTime": now,
                    }
                }
            )
        # the spec's dataChange flag: an OPTIMIZE rearranges bytes without
        # changing rows, so streaming consumers must be able to skip it
        data_change = operation != "OPTIMIZE"
        files5 = [(f + (None, None))[:5] for f in snapshot_files]
        new_paths = {f[0] for f in files5}
        for path in sorted(prev["files"]):
            if path not in new_paths:
                actions.append(
                    {
                        "remove": {
                            "path": path,
                            "deletionTimestamp": now,
                            "dataChange": data_change,
                        }
                    }
                )
        prev_files = prev["files"]
        for path, size, mtime, stats, pvals in sorted(
            files5, key=lambda f: f[0]
        ):
            if path in prev_files:  # unchanged live file: no re-add
                continue
            add = {
                "path": path,
                "partitionValues": dict(pvals or {}),
                "size": size,
                "modificationTime": mtime,
                "dataChange": data_change,
            }
            if stats is not None:
                add["stats"] = stats
            actions.append({"add": add})

        target = os.path.join(self.log_dir, _version_fname(version))
        # O_EXCL = the put-if-absent the protocol requires: even if two
        # writers somehow reached here concurrently, one loses loudly
        fd = os.open(target, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        with os.fdopen(fd, "w") as f:
            f.write("\n".join(json.dumps(a, separators=(",", ":")) for a in actions))
            f.write("\n")
        if version > 0 and version % CHECKPOINT_INTERVAL == 0:
            self._write_checkpoint(version)
        return version

    def _write_checkpoint(self, version: int) -> None:
        """Materialize the replayed state as ``<v>.checkpoint.parquet``
        (single file, pyarrow — Spark's writer emits directories) and
        point ``_last_checkpoint`` at it. The metaData row carries the
        table's REAL partitionColumns (a stock reader replays metadata
        from the newest checkpoint, so dropping them there would
        permanently un-partition the table — round-7 advisor); remove
        tombstones younger than ``TOMBSTONE_RETENTION_MS`` are written
        as remove rows per the spec's retention rule."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        state = self.state()
        rows = [
            {"protocol": dict(PROTOCOL), "metaData": None, "add": None, "remove": None},
            {
                "protocol": None,
                "metaData": {
                    "id": state["metadata_id"],
                    "format": {"provider": "parquet", "options": []},
                    "schemaString": state["schema_string"],
                    "partitionColumns": list(state["partition_columns"]),
                    "configuration": [],
                    "createdTime": None,
                },
                "add": None,
                "remove": None,
            },
        ]
        cutoff = int(time.time() * 1000) - TOMBSTONE_RETENTION_MS
        for path in sorted(state["tombstones"]):
            ts = state["tombstones"][path]
            if ts < cutoff:
                continue  # past retention: the spec permits dropping it
            rows.append(
                {
                    "protocol": None,
                    "metaData": None,
                    "add": None,
                    "remove": {
                        "path": path,
                        "deletionTimestamp": ts,
                        "dataChange": False,
                    },
                }
            )
        for path in sorted(state["files"]):
            f = state["files"][path]
            rows.append(
                {
                    "protocol": None,
                    "metaData": None,
                    "add": {
                        "path": path,
                        "partitionValues": f.get("partitionValues") or {},
                        "size": f["size"],
                        "modificationTime": f["modificationTime"],
                        "dataChange": False,
                        "stats": f.get("stats"),
                    },
                    "remove": None,
                }
            )
        str_map = pa.map_(pa.string(), pa.string())
        schema = pa.schema(
            [
                ("protocol", pa.struct(
                    [("minReaderVersion", pa.int32()), ("minWriterVersion", pa.int32())]
                )),
                ("metaData", pa.struct(
                    [
                        ("id", pa.string()),
                        ("format", pa.struct(
                            [("provider", pa.string()), ("options", str_map)]
                        )),
                        ("schemaString", pa.string()),
                        ("partitionColumns", pa.list_(pa.string())),
                        ("configuration", str_map),
                        ("createdTime", pa.int64()),
                    ]
                )),
                ("add", pa.struct(
                    [
                        ("path", pa.string()),
                        ("partitionValues", str_map),
                        ("size", pa.int64()),
                        ("modificationTime", pa.int64()),
                        ("dataChange", pa.bool_()),
                        ("stats", pa.string()),
                    ]
                )),
                ("remove", pa.struct(
                    [
                        ("path", pa.string()),
                        ("deletionTimestamp", pa.int64()),
                        ("dataChange", pa.bool_()),
                    ]
                )),
            ]
        )
        table = pa.Table.from_pylist(rows, schema=schema)
        ckpt_path = os.path.join(self.log_dir, f"{version:020d}.checkpoint.parquet")
        pq.write_table(table, ckpt_path)
        # protocol-correct lowercase name (ADVICE r9: the uppercase form
        # would never be discovered by a stock Delta reader); one intended
        # format bump, goldens regenerated alongside
        tmp = os.path.join(self.log_dir, "_last_checkpoint.tmp")
        with open(tmp, "w") as f:
            json.dump({"version": version, "size": len(rows)}, f)
        os.replace(tmp, os.path.join(self.log_dir, "_last_checkpoint"))


def file_stats(full_path: str) -> str | None:
    """Delta-spec per-file statistics from the parquet FOOTER (no data
    read): ``{"numRecords", "minValues", "maxValues", "nullCount"}`` as
    the JSON string the protocol stores on the add action. Top-level
    int/float/string/bool/date columns only (nested paths and binary
    skipped — the spec permits partial stats); a column missing from
    min/maxValues is simply never pruned on. Cost is O(files) driver-
    side footer reads per commit — footers are KBs, and the payoff is
    zone-map file skipping at read time (``ParquetMergeTable.read_where``)
    and at merge time (``PartitionedMergeTable.merge``)."""
    import datetime

    import pyarrow.parquet as pq

    try:
        md = pq.ParquetFile(full_path).metadata
    except Exception:
        return None

    def _plain(v):
        if isinstance(v, (int, float, bool, str)):
            return v
        if isinstance(v, (datetime.datetime, datetime.date)):
            return v.isoformat()
        return None  # bytes / unsupported → no stat for this column

    mins: dict = {}
    maxs: dict = {}
    nulls: dict = {}
    for j in range(md.num_columns):
        name = md.schema.column(j).path
        if "." in name:  # nested — skip per contract
            continue
        col_min = col_max = None
        col_nulls = 0
        ok = True
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(j).statistics
            if st is None or not st.has_min_max:
                ok = False
                break
            lo, hi = _plain(st.min), _plain(st.max)
            if lo is None or hi is None:
                ok = False
                break
            col_min = lo if col_min is None else min(col_min, lo)
            col_max = hi if col_max is None else max(col_max, hi)
            col_nulls += st.null_count or 0
        if ok and col_min is not None:
            mins[name] = col_min
            maxs[name] = col_max
            nulls[name] = col_nulls
    return json.dumps(
        {
            "numRecords": md.num_rows,
            "minValues": mins,
            "maxValues": maxs,
            "nullCount": nulls,
        },
        separators=(",", ":"),
    )


def live_files_payload(
    root: str, files_by_value: dict[str, list[str]], partition_col: str
) -> list[tuple]:
    """(relative_path, size, mtime_ms, stats_json, partitionValues) for an
    explicit file-granular live set (``{partition_value: [rel_paths]}`` —
    the PartitionedMergeTable manifest's ``files`` map). The stats-pruned
    merge path carries untouched files across commits, so the live set
    spans directories; commit() diffs against the replayed state and
    emits actions only for the files a merge actually rewrote."""
    out: list[tuple] = []
    for value, rels in files_by_value.items():
        pvals = {partition_col: value}
        for rel in sorted(rels):
            full = os.path.join(root, rel)
            st = os.stat(full)
            out.append(
                (rel, st.st_size, int(st.st_mtime * 1000), file_stats(full), pvals)
            )
    return out


def snapshot_parquet_files(
    root: str, version_dir: str
) -> list[tuple[str, int, int, str | None]]:
    """(relative_path, size, mtime_ms, stats_json) for every parquet file
    of a snapshot directory — the add-action payload."""
    out = []
    d = os.path.join(root, version_dir)
    for fname in sorted(os.listdir(d)):
        if not fname.endswith(".parquet"):
            continue
        full = os.path.join(d, fname)
        st = os.stat(full)
        out.append(
            (
                f"{version_dir}/{fname}",
                st.st_size,
                int(st.st_mtime * 1000),
                file_stats(full),
            )
        )
    return out
